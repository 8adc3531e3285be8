package graft

/** Pins the cache discipline of QueryCache.resultThenRelease: every query
  * that persists corpus-sized intermediates must release them before
  * returning, leaving at most its own (small, caller-owned) result cache.
  * Without this, a library user running the dd/s/g queries outside
  * Verify/Bench (which clearCache between queries) would accumulate the
  * shingle/signature/grid frames of every query they touch.
  *
  * dd8 and q58 are exempt: ConnectedComponents'/PageRank's final
  * localCheckpoint is referenced by the returned plan and cannot be freed
  * while the result is alive (the per-round checkpoints ARE freed
  * deterministically — see ConnectedComponents/PageRank); their other
  * caches are still released like everyone else's.
  */
class CacheHygieneSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private val persistingQueries = Seq(
    "dd2_shingle_jaccard", "dd3_minhash_lsh", "dd4_simhash",
    "dd6_corpus_sketch", "dd7_embed_neardup", "dd9_edit_distance",
    "s2_top_pairs", "s3_ann_srp", "s4_ivf_knn", "s5_knn_batch",
    "s6_quantized_knn", "s8_pq_knn", "g1_interp_1d", "g3_interp_2d",
    "g4_interp_4d", "g6_interp_multivar", "g5_e2e_fetch", "t10_bm25",
    "q24_range_join", "p3_embed_keeplist", "q27_interval_overlap",
    "q29_bucketed_join", "p9_incremental_dedup", "dd11_span_coverage",
    "s13_label_prop", "s14_hard_negatives", "s15_hybrid_rrf",
    "dd16_source_overlap", "q57_copurchase_pairs", "q60_triangle_count",
    // round-9 persisting queries
    "s19_cell_stats", "s20_ivf_batch_knn", "s21_ivf_filtered_knn",
    "dd18_sketch_error", "dd19_semantic_decontam",
    "t32_tokenizer_fertility")

  test("resultThenRelease frees result and intermediates when the job fails") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val boom = udf((i: Long) => {
      if (i >= 0) throw new RuntimeException("boom"); i
    })
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val inter = Seq(1L, 2L, 3L).toDF("x").persist()
    inter.count()
    intercept[Exception] {
      graft.queries.QueryCache.resultThenRelease(
        inter.select(boom(col("x")).as("y")), inter)
    }
    // async unpersist: poll briefly before declaring a leak
    val deadline = System.nanoTime() + 5e9.toLong
    var leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(100)
      leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    }
    assert(leaked.isEmpty,
      s"failure path leaked persistent RDDs: $leaked")
  }

  // resultThenRelease unpersists intermediates with blocking=false, so
  // the release is visible only eventually — poll (like the failure-path
  // test) instead of asserting the instant the query returns
  private def pollUntil(cond: => Boolean, seconds: Int = 5): Boolean = {
    val deadline = System.nanoTime() + seconds * 1e9.toLong
    while (!cond && System.nanoTime() < deadline) Thread.sleep(100)
    cond
  }

  test("streaming state (ClusterStream/PairScreen/Curation) frees on close") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // ClusterStream: two batches then close
    val cm = new graft.streaming.ClusterStream.ComponentMap(spark)
    cm.ingest(Seq((1L, 2L), (2L, 3L)).toDF("i", "j"))
    cm.ingest(Seq((3L, 4L), (10L, 11L)).toDF("i", "j"))
    cm.close()
    assert(pollUntil(added.isEmpty),
      s"ClusterStream leaked after close: $added")
    // PairScreen: two batches then close (the returned pair frames are
    // caller-owned — freed here like maintain() does)
    val ps = new graft.streaming.NearDupStream.PairScreen(spark, cap = 50)
    Seq(Seq((1L, "alpha beta gamma delta epsilon zeta")),
        Seq((2L, "alpha beta gamma delta epsilon zeta"))).foreach { b =>
      val pairs = ps.ingest(b.toDF("doc_id", "text"))
      pairs.count()
      graft.operators.Checkpoints.free(pairs)
    }
    ps.close()
    assert(pollUntil(added.isEmpty),
      s"PairScreen leaked after close: $added")
    // IngestPipeline.Curation: one batch then close
    val evalDocs = Seq((97L, "held out")).toDF("doc_id", "text")
    val stats = Seq(("en", 10L)).toDF("lang", "n_lang")
    val cur = new graft.streaming.IngestPipeline.Curation(
      spark, evalDocs, stats)
    cur.ingest(Seq((1L, "en", ("the a of and to in is it word list " * 6)
        .split(" ").zipWithIndex.map { case (w, i) => s"$w$i" }
        .mkString(" ")))
      .toDF("doc_id", "lang", "text"))
    cur.close()
    assert(pollUntil(added.isEmpty),
      s"Curation leaked after close: $added")
  }

  for (name <- persistingQueries)
    test(s"$name releases every intermediate cache") {
      // the dd/mm session memos short-circuit the real machinery on a
      // hit (a LocalRelation replay persists nothing) — clear them so
      // this test exercises the build path's cache discipline no matter
      // which suite ran first in the shared JVM
      graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds +
        graft.queries.MultimodalQueries.PhashKind)
      // delta vs the session baseline: earlier suites may hold their own
      // persistent RDDs (this shared-JVM session runs suites sequentially)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val res = SparkEntry.queries(name)(spark, sf)
      def added = spark.sparkContext.getPersistentRDDs.keySet -- before
      // at most the materialized result itself may remain cached
      assert(pollUntil(added.size <= 1),
        s"$name left ${added.size} persistent RDDs: $added")
      res.unpersist(blocking = true)
      assert(pollUntil(added.isEmpty),
        s"$name leaked RDDs after unpersist: $added")
    }
}
