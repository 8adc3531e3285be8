package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Checkpoints
import graft.plans.SummaryRewrite
import graft.streaming.{NearDupStream, SummaryStream, VectorStream}

/** Streaming-STATE scale rehearsal (VERDICT r10 ask #4; upgraded for
  * the r13 ask #2 ×200 run): the streaming twins are parity-pinned by
  * StreamingSpec at toy batch sizes, but the O(·) claims on their
  * state — O(ingested index) for the near-dup screen, O(|cells|) for
  * the IVF occupancy, O(|key bins|) for the summary — and the
  * stream==batch parity had never been driven at production ratios.
  * This tool streams the ×N rehearsal corpus (built by
  * `ScaleRehearsal N organic`) through each twin as a real FILE STREAM
  * and, per batch, records wall latency and state size, then ASSERTS:
  *
  *  - VectorStream.cellCounts: state-store rows ≤ live cells at every
  *    trigger, AND the driver-folded final occupancy map equals the
  *    batch twin's `assignAgainst → groupBy(cent_id).count` exactly,
  *    AND the map's total conserves the streamed input row count;
  *  - SummaryStream: summary rows == |lang × source| bins at every
  *    batch, AND the final snapshot frame equals a one-shot
  *    `SummaryRewrite.buildSummary` over the whole corpus exactly
  *    (integer measures — bit-exact);
  *  - NearDupStream.PairScreen: postings ≤ 16·(docs ingested) and one
  *    signature per doc at every batch, AND the accumulated streamed
  *    pairs are a SUPERSET of the batch dd3 pairs with identical
  *    estimates (extras carry the ≥ 0.5 floor) — StreamingSpec's
  *    parity contract, here at ×N and checked distributed (anti-join),
  *    never through a driver map.
  *
  * **Batch ≪ state pacing**: the source tables are re-sharded into
  * `SPARK_GRAFT_STREAM_SHARDS` files (default 64) streamed
  * `SPARK_GRAFT_STREAM_TRIGGER_FILES` (default 1) per trigger, so each
  * micro-batch is ~1.5% of the corpus — the production ratio where the
  * r11 append-only postings rewrite actually pays, instead of the old
  * 4-of-32-files pacing whose final batches were 12% of state.
  *
  * NOT a gate: results land in BASELINE.md; report at
  * `target/rehearsal/stream_<src>/report.json`. Any assertion firing
  * here is a real find.
  *
  * Usage: runMain graft.tools.StreamRehearsal [srcDir]
  *   (default target/rehearsal/sf0.1x10 — run `ScaleRehearsal 10` first;
  *   the ×200 run: `ScaleRehearsal 200 organic` then
  *   `StreamRehearsal target/rehearsal/organic_x200`)
  */
object StreamRehearsal {

  private def fmt(t: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, t)

  /** Re-shard `src/<name>` into the streaming source layout (idempotent
    * per (src, shards)) so trigger size is controlled by file count,
    * not by however the corpus builder happened to partition.
    */
  private def shardedSource(spark: SparkSession, src: String, name: String,
      out: String, shards: Int): String = {
    val dst = s"$out/shards$shards/$name"
    if (!new java.io.File(s"$dst/_SUCCESS").exists()) {
      spark.read.parquet(s"$src/$name").repartition(shards)
        .write.mode("overwrite").parquet(dst)
    }
    dst
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("target/rehearsal/sf0.1x10")
    val shards = sys.env.getOrElse("SPARK_GRAFT_STREAM_SHARDS", "64").toInt
    val triggerFiles =
      sys.env.getOrElse("SPARK_GRAFT_STREAM_TRIGGER_FILES", "1").toInt
    val out = "target/rehearsal/stream_" +
      new java.io.File(src).getName
    // SPARK_GRAFT_MASTER=local-cluster[n,c,mem] runs the same stream
    // rehearsal with executors in separate JVMs (export
    // SPARK_SCALA_VERSION; see GraftSession.local)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus,
      graft.GraftSession.masterFromEnv)
    spark.sparkContext.setLogLevel("WARN")
    val report = new StringBuilder
    report ++= s"""{"src":"$src","shards":$shards,"trigger_files":$triggerFiles,"""

    // ---- 1. IVF occupancy (VectorStream): state O(cells) + parity ----
    {
      val embPath = shardedSource(spark, src, "embeddings.parquet",
        out, shards)
      val schema = spark.read.parquet(embPath).schema
      // the fixed quantizer: s4's anchor-stride stand-in at the same
      // corpus-bounded stride the batch tier derives (nlist ≤ 1024),
      // plain-dot form — collected ONCE as the index-build artifact (KBs)
      val nAll = spark.read.parquet(embPath).count()
      val st = graft.queries.Similarity.anchorStride(
        nAll, graft.queries.Similarity.IvfNListBound)
      val cents = spark.read.parquet(embPath)
        .filter(col("vec_id") % st === 0)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("u"))
        .collect()
        .map(r => (r.getLong(0),
          r.getSeq[Double](1).toSeq))
        .toSeq
      val vecs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", triggerFiles).parquet(embPath)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("unit"))
      import spark.implicits._
      val counts = VectorStream.cellCounts(
        VectorStream.assignAgainst(vecs, cents, kmeansObjective = false)
          .select(col("cent_id")).as[Long])
      // update-mode emissions are (cell → running total) for TOUCHED
      // cells; fold them into a driver map (≤ |cells| entries — the
      // state is the bounded thing being measured, so the fold is too)
      val live = scala.collection.mutable.Map.empty[Long, Long]
      val sumCurve = ArrayBuffer.empty[Long]
      val ckpt = s"$out/ckpt_vec_${System.nanoTime()}"
      val q = counts.toDF().writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach { r =>
            live(r.getLong(0)) = r.getLong(1)
          }
          sumCurve += live.valuesIterator.sum
          ()
        }
        .start()
      q.processAllAvailable()
      val progress = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
      val stateRows = progress.map(_.stateOperators.head.numRowsTotal)
      val batchMs = progress.map(_.batchDuration)
      val inputRows = progress.map(_.numInputRows)
      q.stop()
      require(stateRows.nonEmpty && stateRows.max <= cents.length,
        s"IVF state grew past the cell count: ${stateRows.max} cells " +
          s"for ${cents.length} centroids")
      // conservation: the folded occupancy total equals the streamed
      // row count (recentProgress is capped at 100 entries, so compare
      // the final total — with ≤ 64 triggers the curves align anyway)
      require(live.valuesIterator.sum == nAll,
        s"occupancy total ${live.valuesIterator.sum} != corpus $nAll")
      // parity: final occupancy == the batch twin, cell for cell
      val batchCounts = VectorStream.assignAgainst(
          spark.read.parquet(embPath)
            .select(col("vec_id"),
              expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                .as("unit")),
          cents, kmeansObjective = false)
        .groupBy("cent_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(live.toMap == batchCounts,
        s"streamed occupancy diverges from the batch twin " +
          s"(${live.size} vs ${batchCounts.size} cells)")
      report ++= s""""vector_stream":{"n_vecs":$nAll,"cells":${cents.length},"""
      report ++= s""""batch_parity":true,"""
      report ++= s""""input_rows_curve":[${inputRows.mkString(",")}],"""
      report ++= s""""state_rows_curve":[${stateRows.mkString(",")}],"""
      report ++= s""""batch_ms_curve":[${batchMs.mkString(",")}]},"""
      System.err.println(s"[stream] vector: ${inputRows.size} batches, " +
        s"state ≤ ${stateRows.max} cells, batch parity OK")
    }

    // ---- 2. Summary maintenance: state O(bins) + exact parity ----
    {
      val docsPath = shardedSource(spark, src, "documents.parquet",
        out, shards)
      val schema = spark.read.parquet(docsPath).schema
      val rows = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", triggerFiles).parquet(docsPath)
        .select("lang", "source", "n_chars")
      val state = new SummaryStream.SummaryState(
        keys = Seq("lang", "source"), measures = Seq("n_chars"))
      val curve = ArrayBuffer.empty[(Double, Long)]
      val q = rows.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          state.ingest(batch, id)
          val bins = state.snapshot.map(_.count()).getOrElse(0L)
          curve += (((System.nanoTime() - t0) / 1e9, bins))
          ()
        }
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop()
      val nBins = curve.last._2
      // lang × source on this corpus: ≤ 6 langs × 20 sources
      require(curve.forall(_._2 <= 120L),
        s"summary state grew past the bin space: ${curve.map(_._2)}")
      // parity: the incrementally-merged summary equals the one-shot
      // batch build exactly (count/sum/min/max over BIGINT — bit-exact)
      val key = Seq("lang", "source")
      def canon(df: DataFrame): Set[String] = {
        val cols = df.columns.sorted.toSeq
        df.select(cols.map(col): _*).collect()
          .map(_.toSeq.mkString("|")).toSet
      }
      val batchSummary = SummaryRewrite.buildSummary(
        spark.read.parquet(docsPath).select("lang", "source", "n_chars"),
        key, Seq("n_chars"))
      val streamedSummary = state.snapshot.getOrElse(
        sys.error("summary state empty after the stream"))
      require(canon(streamedSummary) == canon(batchSummary),
        "streamed summary diverges from the one-shot batch build")
      state.close()
      report ++= s""""summary_stream":{"final_bins":$nBins,"""
      report ++= s""""batch_parity":true,"""
      report ++= s""""batch_sec_curve":[${curve.map(c => fmt(c._1)).mkString(",")}],"""
      report ++= s""""bins_curve":[${curve.map(_._2).mkString(",")}]},"""
      System.err.println(s"[stream] summary: ${curve.size} batches, " +
        s"$nBins bins, batch parity OK")
    }

    // ---- 3. Near-dup ingest screen: linear index + superset parity ----
    {
      val docsPath = shardedSource(spark, src, "documents.parquet",
        out, shards)
      // batch reference FIRST: dd3's gated pipeline over the same
      // corpus — its emitted cap is the knob the screen must match for
      // the superset contract to be meaningful (StreamingSpec's setup)
      graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
      val dd3 = graft.SparkEntry.queries("dd3_minhash_lsh")(spark, src)
      val batchPairsPath = s"$out/batch_pairs"
      dd3.write.mode("overwrite").parquet(batchPairsPath)
      val batchPairs = spark.read.parquet(batchPairsPath)
      val nBatchPairs = batchPairs.count()
      val cap = batchPairs.select("cap_bucket").head().getLong(0).toInt
      val schema = spark.read.parquet(docsPath).schema
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", triggerFiles).parquet(docsPath)
        .select("doc_id", "text")
      val screen = new NearDupStream.PairScreen(spark, cap)
      // (sec, pairs, postings, sigs, docs_so_far) per batch
      val curve = ArrayBuffer.empty[(Double, Long, Long, Long, Long)]
      var docsSeen = 0L
      val pairsPath = s"$out/streamed_pairs_${System.nanoTime()}"
      val q = docs.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val t0 = System.nanoTime()
          val pairs = screen.ingest(batch)
          // accumulate for the distributed parity check below — at ×N
          // the pair set must never transit the driver
          pairs.write.mode("append").parquet(pairsPath)
          val np = try pairs.count() finally Checkpoints.free(pairs)
          val sec = (System.nanoTime() - t0) / 1e9
          docsSeen += batch.count()
          val (p, s) = screen.stateSizes
          curve += ((sec, np, p, s, docsSeen))
          ()
        }
        .outputMode("update")
        .start()
      q.processAllAvailable()
      q.stop()
      // the index claim: postings ≤ bands × docs (cap only shrinks it),
      // one signature per admitted doc
      require(curve.forall(c => c._3 <= 16L * c._5 && c._4 <= c._5),
        s"screen state above its bound: ${curve.toSeq}")
      screen.close()
      // superset parity, distributed: every batch pair streamed with
      // the identical estimate; extras carry the ≥ 0.5 floor
      val streamed = spark.read.parquet(pairsPath)
        .select(col("i"), col("j"), col("est_jac").as("est_s"))
        .dropDuplicates("i", "j")
      val joined = batchPairs.select(col("i"), col("j"),
          col("est_jac").as("est_b"))
        .join(streamed, Seq("i", "j"), "left")
      val missed = joined.filter(col("est_s").isNull ||
        col("est_s") =!= col("est_b")).count()
      require(missed == 0L,
        s"$missed batch dd3 pairs missed or re-estimated by the screen")
      val extras = streamed.join(
        batchPairs.select("i", "j"), Seq("i", "j"), "left_anti")
      val (nExtras, minExtra) = {
        val r = extras.agg(count(lit(1)), min(col("est_s"))).head()
        (r.getLong(0), if (r.isNullAt(1)) 1.0 else r.getDouble(1))
      }
      require(minExtra >= 0.5,
        s"streamed extra pair below the 0.5 floor: $minExtra")
      report ++= s""""neardup_stream":{"docs":$docsSeen,"""
      report ++= s""""batch_pairs":$nBatchPairs,"extras":$nExtras,"""
      report ++= s""""superset_parity":true,"""
      report ++= s""""pairs_total":${curve.map(_._2).sum},"""
      report ++= s""""batch_sec_curve":[${curve.map(c => fmt(c._1)).mkString(",")}],"""
      report ++= s""""postings_curve":[${curve.map(_._3).mkString(",")}],"""
      report ++= s""""sigs_curve":[${curve.map(_._4).mkString(",")}]}}"""
      System.err.println(s"[stream] neardup: ${curve.size} batches, " +
        s"$docsSeen docs, $nBatchPairs batch pairs all streamed " +
        s"($nExtras extras ≥ 0.5), superset parity OK")
      graft.util.Fs.rmTree(new java.io.File(pairsPath))
    }

    println(report.toString)
    val f = java.nio.file.Paths.get(s"$out/report.json")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, (report.toString + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[rehearsal] stream report written to $f")
    spark.stop()
  }
}
