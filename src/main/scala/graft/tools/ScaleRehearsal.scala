package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale rehearsal above the driver SFs (VERDICT r9 ask #5): every
  * adaptive cap, memo over-bound fallback, and skew path in the engine is
  * spec-forced at sf0.1 (~600k rows) but never organically triggered.
  * This tool builds a ×N corpus from the driver's sf0.1 tables —
  * documents and embeddings replicated with shifted ids, replicas
  * perturbed into NEAR-duplicates (a distinct prefix token, an offset
  * first embedding dim) so dedup/ANN structure gets genuinely heavier,
  * not just bigger — then drives the heavy operator family against it
  * and reports: min-of-N timings, result cardinalities, the data-derived
  * caps actually chosen, and whether the driver-tier memos fell back to
  * their distributed over-bound path because the DATA forced it.
  *
  * NOT a gate: oracles stay on the driver's parquet. This is the
  * recorded "does the machinery hold when data, not injection, drives
  * it" run (results land in BASELINE.md). Writes only under the repo's
  * target/ directory.
  *
  * Usage: runMain graft.tools.ScaleRehearsal [mult] [srcDir] [outDir]
  *    or: runMain graft.tools.ScaleRehearsal [mult] degenerate
  *
  * DEGENERATE mode (VERDICT r10 ask #1's "done" condition): the
  * flood-regime worst case — EVERY vector identical, so all mult×2000
  * vectors share ONE SRP bucket per band and ONE IVF cell. The r10
  * formulation (`row_number() OVER (PARTITION BY bucket)`) would sort
  * the whole corpus on one task here; the distributed FloodPairs must
  * instead keep the max per-task row count bounded by the partition
  * granularity. Measures: (a) the operator-focused probe — max task
  * shuffle-read rows through FloodPairs.rankAdjacent over 8 monster
  * buckets, at 32 AND 64 shuffle partitions (the bound must ~halve:
  * that is the "scales with the cluster, not with the bucket"
  * property); (b) s3 end-to-end on a degenerate embeddings corpus and
  * semDedupDrops on a one-cell assignment — non-empty results, no
  * cartesian/BNLJ, and the flood collapses to one survivor.
  */
object ScaleRehearsal {

  private val Family = Seq(
    "dd2_shingle_jaccard", "dd3_minhash_lsh", "dd8_neardup_clusters",
    "s3_ann_srp", "s17_ivfpq_knn", "p8_full_pipeline")

  private def runDegenerate(spark: SparkSession, mult: Int): Unit = {
    import org.apache.spark.sql.functions._
    // AQE's partition COALESCING is disabled for the degenerate probes:
    // it merges shuffle partitions toward a target BYTE size, and at this
    // fixture's row width (~3 longs) that re-merges every 150k-row
    // partition into a handful of fat tasks — masking exactly the
    // granularity signal under test. At production row widths the same
    // byte target SPLITS the work across the cluster, so the inherent
    // distribution (no single task bound to a whole bucket) is the
    // portable property; skew-join and the rest of AQE stay on.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val out = ensureDegenerate(spark, mult)
    val nVecs = 2000L * mult
    val embOut = s"$out/embeddings.parquet"
    val report = new StringBuilder
    report ++= s"""{"mode":"degenerate","n_vecs":$nVecs,"""

    // (a) operator probe: 8 monster buckets of nVecs rows each (every
    // band's single flooded bucket), through FloodPairs alone — the max
    // single-task row count must track 1/partitions, never the bucket
    def probe(parts: Int): (Long, Long, Double) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val flood = spark.range(0, nVecs)
        .select(col("id").as("vec_id"),
          explode(expr("sequence(0, 7)")).as("tb"))
      val (n, work) = SparkWork.measure(spark) {
        val (pairs, cache) = graft.operators.FloodPairs
          .rankAdjacent(flood, Seq("tb"), "vec_id", 8)
        try pairs.count() finally cache.unpersist(blocking = false)
      }
      (n, work.maxTaskRecords, work.seconds)
    }
    val (n32, max32, t32) = probe(32)
    val (n64, max64, t64) = probe(64)
    spark.conf.set("spark.sql.shuffle.partitions", 32)
    val floodRows = nVecs * 8
    // exact pair arithmetic: 8 monster buckets, each Σ_{d=1..8}(N−d)
    // rank-adjacent pairs — a rank gap anywhere (the round-11 persist
    // bug's symptom) changes this count
    val wantPairs = 8L * (1 to 8).map(nVecs - _).sum
    require(n32 == wantPairs, s"pair count $n32 != exact $wantPairs")
    require(n32 == n64, s"pair count moved with partitions: $n32 vs $n64")
    // the invariant under test is the SCALING LAW, not any absolute at
    // toy partition counts: the old window formulation pinned ≥ one
    // whole bucket (nVecs rows) onto a single task at ANY partition
    // count (its per-task floor was the bucket), while the distributed
    // form's max task tracks stage-rows/P — it must drop markedly when
    // P doubles, and at P=64 no task may hold even one bucket's worth.
    // (max32 can exceed nVecs/1 slightly: the pair-join stage moves
    // ~3×floodRows rows, so its 32-way granularity is ~150k with
    // imbalance — still 1/P-bound, unlike a bucket-pinned sort.)
    require(max64.toDouble <= max32.toDouble * 0.75,
      s"max task rows did not scale down with partitions: $max32 -> $max64")
    require(max64 < nVecs,
      s"at 64 partitions a task still saw a whole bucket: $max64 >= $nVecs")
    require(max32 < 2L * nVecs,
      s"max task rows look bucket-pinned: max32=$max32 bucket=$nVecs")
    report ++= s""""flood_rows":$floodRows,"pairs":$n32,"""
    report ++= s""""probe_p32":{"max_task_rows":$max32,"sec":${fmt3(t32)}},"""
    report ++= s""""probe_p64":{"max_task_rows":$max64,"sec":${fmt3(t64)}},"""

    // (b) s3 end-to-end on the degenerate corpus: non-empty, no bad join
    val t1 = System.nanoTime()
    val s3 = graft.SparkEntry.queries("s3_ann_srp")(spark, out)
    val s3rows = s3.count()
    val s3sec = (System.nanoTime() - t1) / 1e9
    val plan = s3.queryExecution.executedPlan.toString
    val badJoin = plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoop")
    require(s3rows == 10, s"degenerate s3 returned $s3rows rows (want 10)")
    report ++= s""""s3":{"rows":$s3rows,"sec":${fmt3(s3sec)},"bad_join":$badJoin},"""

    // (b') the SemDeDup monster cell: ONE cell holding the whole corpus;
    // linear pairing must still collapse it to a single survivor
    val assigned = spark.read.parquet(embOut)
      .select(col("vec_id"), lit(0L).as("cent_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / 8.0)").as("unit"))
    val (drops, ddWork) = SparkWork.measure(spark) {
      val (dropsDf, caches) =
        graft.queries.Dedup.semDedupDrops(assigned, cap = 1000L)
      try dropsDf.count()
      finally caches.foreach(_.unpersist(blocking = false))
    }
    val maxCell = ddWork.maxTaskRecords
    val ddsec = ddWork.seconds
    require(drops == nVecs - 1,
      s"monster cell kept ${nVecs - drops} survivors (want 1)")
    require(maxCell < nVecs,
      s"a task saw the whole monster cell: $maxCell of $nVecs")
    report ++= s""""semdedup":{"drops":$drops,"sec":${fmt3(ddsec)},"""
    report ++= s""""max_task_rows":$maxCell}}"""
    println(report.toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val f = java.nio.file.Paths.get(s"$out/report.json")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, (report.toString + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[rehearsal] degenerate report written to $f")
  }

  /** Build (idempotently) the all-identical-vectors corpus for `mult`;
    * returns its directory (the flood-regime worst case — every vector
    * shares ONE SRP bucket per band and ONE IVF cell).
    */
  private def ensureDegenerate(spark: SparkSession, mult: Int): String = {
    val out = s"target/rehearsal/degen_x$mult"
    val embOut = s"$out/embeddings.parquet"
    if (!new java.io.File(embOut, "_SUCCESS").exists()) {
      spark.range(0, 2000L * mult)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(0, 63), x -> CAST(1.0 AS FLOAT))")
            .as("embedding"),
          lit(0).as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(embOut)
    }
    out
  }

  private def fmt3(t: Double) =
    "%.3f".formatLocal(java.util.Locale.ROOT, t)

  private def exists(p: String) =
    new java.io.File(p, "_SUCCESS").exists()

  /** ORGANIC corpus (VERDICT r10 ask #3): the replication corpus proved
    * the cap MECHANISMS (it even caught the flood cliff), but its skew
    * is synthetic — every clique has exactly `mult` members, every
    * bucket grows uniformly. This generator produces the distributions
    * a real crawl has, deterministically (every draw is an
    * xxhash64-of-id uniform, no RNG state):
    *
    *  - documents: each doc joins a TEMPLATE via a u³-concentrated draw
    *    (clique sizes follow a heavy head / long tail — the biggest
    *    template collects thousands of near-dups, most are singletons);
    *    template text is `len ∈ [10, 65]` words drawn log-uniformly
    *    from a 5000-word vocabulary (Zipf-ish document frequencies —
    *    what AdaptiveCap's p99.9 actually sees on a crawl), and each
    *    doc mutates ONE position to a doc-unique token (near-dup, not
    *    exact-dup, Jaccard ≈ (len−1)/(len+1)); lang/source are skewed
    *    categorical draws.
    *  - embeddings: 512 cluster centers, cluster membership u³-skewed
    *    (hot clusters = popular content), vector = center + 10% noise —
    *    organic IVF-cell and SRP-bucket occupancy skew.
    */
  /** Build (idempotently) the organic corpus for `mult`; returns its
    * directory. Shared by the family run, the dd2 stage profile, and
    * the flood-recall certification.
    */
  private def ensureOrganic(spark: SparkSession, mult: Int): String = {
    val out = s"target/rehearsal/organic_x$mult"
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val docsOut = s"$out/documents.parquet"
    val embOut = s"$out/embeddings.parquet"
    if (!exists(docsOut)) {
      val nTpl = (nDocs / 4).max(1)
      spark.range(0, nDocs)
        .select(col("id").as("doc_id"),
          expr(s"CAST($nTpl * pow(pmod(xxhash64('tpl', id), 1000000)" +
            " / 1000000.0, 3) AS BIGINT)").as("tpl"))
        .withColumn("len", expr("10 + pmod(xxhash64('len', tpl), 56)"))
        .withColumn("text", expr(
          """concat_ws(' ', transform(sequence(0, CAST(len AS INT) - 1),
            |  p -> CASE WHEN p = CAST(pmod(xxhash64('mut', doc_id), len) AS INT)
            |            THEN concat('u', doc_id)
            |            ELSE concat('w', CAST(exp(log(5000.0) *
            |              (pmod(xxhash64('w', tpl, p), 1000000) / 1000000.0))
            |              AS BIGINT))
            |       END))""".stripMargin))
        .select(col("doc_id"), col("text"),
          expr("element_at(array('en','en','de','fr','es','ja'), " +
            "CAST(1 + 5 * pow(pmod(xxhash64('lg', doc_id), 1000000)" +
            " / 1000000.0, 2) AS INT))").as("lang"),
          expr("concat('src', pmod(xxhash64('src', doc_id), 20))")
            .as("source"),
          length(col("text")).cast("long").as("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(docsOut)
    }
    if (!exists(embOut)) {
      spark.range(0, nVecs)
        .select(col("id").as("vec_id"),
          expr("CAST(512 * pow(pmod(xxhash64('c', id), 1000000)" +
            " / 1000000.0, 3) AS BIGINT)").as("c"))
        .select(col("vec_id"),
          expr(
            """transform(sequence(0, 63), d -> CAST(
              |    (pmod(xxhash64('ctr', c, d), 2000) / 1000.0 - 1.0)
              |  + 0.1 * (pmod(xxhash64('nz', vec_id, d), 2000) / 1000.0 - 1.0)
              |  AS FLOAT))""".stripMargin).as("embedding"),
          expr("CAST(pmod(c, 8) AS INT)").as("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(embOut)
    }
    out
  }

  private def runOrganic(spark: SparkSession, mult: Int, runs: Int): Unit = {
    val out = ensureOrganic(spark, mult)
    driveFamily(spark, out, runs, s""""mode":"organic","mult":$mult,""")
    // a targeted re-measure (narrowed family) skips the assign probe —
    // it has its own modes (probeonly / semdedup) and its exact arm is
    // minutes of N×C fan-out at the upper octaves
    if (sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY").isEmpty)
      assignProbe(spark, out, mult)
  }

  private def assignProbe(spark: SparkSession, out: String,
      mult: Int): Unit = {
    val embOut = s"$out/embeddings.parquet"

    // ---- SemDeDup assignment probe: exact N×C argmin vs the two-level
    // hierarchical route (the documented production path for the
    // proportional-cell regime) — wall time, agreement, routed sizes.
    // NOT a gate: dd17 stays on the exact form; this records what the
    // approximation buys and costs on organic cluster skew.
    {
      import graft.queries.Similarity
      val e = spark.read.parquet(embOut)
        .select(col("vec_id"),
          expr("""transform(embedding, x -> CAST(x AS DOUBLE))""").as("u"))
        .select(col("vec_id"), expr(
          """transform(u, x -> x / sqrt(aggregate(u, 0.0D,
            |  (acc, y) -> acc + y * y)))""".stripMargin).as("unit"))
        .persist()
      val n = e.count()
      def timed(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
        val t0 = System.nanoTime()
        val c = df.count()
        ((System.nanoTime() - t0) / 1e9, c)
      }
      // the exact arm's broadcast fan-out is N×C rows (C ≈ N/53): at
      // ×400 that is ~12e9 rows whose sort-aggregate spill filled the
      // box's disk (52 GB in /tmp) — which IS the probe's conclusion
      // (the 2N√C hierarchical path is the only viable one up there),
      // so past this bound the probe records hier-only instead of
      // failing the whole rehearsal on ENOSPC.
      val exactFanout = n * (n / Similarity.PqAnchorStride.max(1))
      val exactViable = exactFanout <= 4e9.toLong
      val (tExact, _) =
        if (exactViable) timed(Similarity.assignFromUnits(e))
        else (-1.0, 0L)
      val (tHier, _) = timed(Similarity.assignFromUnitsHierarchical(e, n))
      val agree =
        if (exactViable) Similarity.assignFromUnits(e).alias("x")
          .join(Similarity.assignFromUnitsHierarchical(e, n).alias("h"),
            col("x.vec_id") === col("h.vec_id"))
          .filter(col("x.cent_id") === col("h.cent_id"))
          .count()
        else -1L
      e.unpersist(blocking = false)
      val probe = s"""{"mode":"organic_assign_probe","mult":$mult,""" +
        s""""n_vecs":$n,"exact_sec":${fmt3(tExact)},""" +
        s""""hier_sec":${fmt3(tHier)},"agree":$agree,""" +
        // clean sentinel when the exact arm did not run (mirrors
        // exact_sec: -1.0) — -1.0/n would render as a plausible
        // near-zero agreement fraction
        s""""agree_frac":${if (exactViable && n > 0) fmt3(agree.toDouble / n) else "-1"}}"""
      println(probe)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/assign_probe.json"),
        (probe + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[rehearsal] assign probe written to " +
        s"$out/assign_probe.json")
    }
  }

  /** dd2 stage profile (VERDICT r11 ask #1): the organic ×200 run
    * showed dd2's wall time ×15 for docs ×4 while its PAIR output grew
    * only ×4.5 — this mode times the three stages separately on the
    * organic corpus so the superlinear one is named by measurement,
    * not suspicion:
    *
    *   A. shingle kernel + doc-frequency + adaptive cap (the two
    *      persisted frames materialize here),
    *   B. candidate generation — rare-shingle self-join + (i,j) pair
    *      groupBy + integer bound columns,
    *   C. the result-invariant ub prefilter,
    *   D. the exact array_intersect re-rank + jaccard emission.
    *
    * Alongside wall time: row counts, the per-stage max single-task
    * record count (skew probe), and the dfreq-shape numbers the
    * candidate bound Σ min(df,cap)² derives from.
    */
  private def runDd2Profile(spark: SparkSession, mult: Int): Unit = {
    import graft.queries.Dedup
    val out = ensureOrganic(spark, mult)
    val docs0 = spark.read.parquet(s"$out/documents.parquet")
      .select("doc_id", "lang", "text")
    graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
    spark.catalog.clearCache()
    // per-stage-window shuffle bytes (r15: the dd2/dd12 key-narrowing
    // A/B needs byte evidence, not just wall)
    // A: kernel + dfreq + cap (shingleCandidatesFromDocs derives the
    // cap eagerly, which materializes both persisted frames)
    val ((candBounds, docs, cap, caches), wA) =
      SparkWork.measure(spark)(Dedup.shingleCandidatesFromDocs(docs0))
    val nDocs = docs.count()
    // dfreq shape: what the linear candidate bound actually sums over
    val dfreqs = caches(1)
    val shape = dfreqs.agg(
      sum(when(col("dfreq").between(2, cap),
        expr("dfreq * (dfreq - 1) DIV 2"))).as("cand_rows_bound"),
      sum(when(col("dfreq").between(2, cap), 1L)).as("rare_shingles"),
      sum(when(col("dfreq") > cap, 1L)).as("hot_shingles"),
      max(col("dfreq")).as("max_dfreq")).collect().head
    // B: candidate join + pair groupBy + bounds, persisted so C and D
    // measure only their own work
    val cb = candBounds.persist()
    val (nCand, wB) = SparkWork.measure(spark)(cb.count())
    // C: the integer prefilter
    val bounded = cb.filter(col("ub").cast("double") /
      (col("na") + col("nb") - col("ub")).cast("double") >= 0.6).persist()
    val (nBounded, wC) = SparkWork.measure(spark)(bounded.count())
    // D: exact re-rank + emission (dd2's jac >= 0.6 tail, verbatim)
    val pairs = Dedup.rerankShared(bounded, docs)
      .withColumn("jac", col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jac") >= 0.6)
      .select("i", "j", "jac")
    val (nPairs, wD) = SparkWork.measure(spark)(pairs.count())
    cb.unpersist(blocking = false)
    bounded.unpersist(blocking = false)
    caches.foreach(_.unpersist(blocking = false))
    val report =
      s"""{"mode":"dd2_profile","mult":$mult,"n_docs":$nDocs,""" +
      s""""cap_df":$cap,""" +
      s""""cand_rows_bound":${shape.getLong(0)},""" +
      s""""rare_shingles":${shape.getLong(1)},""" +
      s""""hot_shingles":${if (shape.isNullAt(2)) 0L else shape.getLong(2)},""" +
      s""""max_dfreq":${shape.getLong(3)},""" +
      s""""stageA_kernel_dfreq_cap":{"sec":${fmt3(wA.seconds)},"max_task_rows":${wA.maxTaskRecords},"shuffle_write_mb":${fmt3(wA.shuffleBytes / 1e6)}},""" +
      s""""stageB_candidates":{"sec":${fmt3(wB.seconds)},"rows":$nCand,"max_task_rows":${wB.maxTaskRecords},"shuffle_write_mb":${fmt3(wB.shuffleBytes / 1e6)}},""" +
      s""""stageC_prefilter":{"sec":${fmt3(wC.seconds)},"rows":$nBounded,"max_task_rows":${wC.maxTaskRecords}},""" +
      s""""stageD_rerank":{"sec":${fmt3(wD.seconds)},"pairs":$nPairs,"max_task_rows":${wD.maxTaskRecords}}}"""
    println(report)
    val f = java.nio.file.Paths.get(s"$out/dd2_profile.json")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, (report + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[rehearsal] dd2 profile written to $f")
  }

  /** dd3 stage profile (round 12): the organic ×400 point recorded dd3's
    * wall ×3.0 for docs ×2 while its OUTPUT grew only ×1.6 — the same
    * smell dd2 had at ×200 (where measurement found constants, not a
    * quadratic stage). Times the pipeline's four stages separately, each
    * persisted so a stage's clock covers only its own work: A the
    * 32-hash minhash kernel, B band explode + adaptive bucket cap (with
    * the Σ min(occ,cap)·(min(occ,cap)−1)/2 candidate bound the capped
    * self-join is bounded by), C the bucket self-join + pair distinct,
    * D the two signature-attach joins + the est_jac ≥ 0.5 agreement
    * re-rank.
    */
  private def runDd3Profile(spark: SparkSession, mult: Int): Unit = {
    import graft.queries.Dedup
    import graft.functions.HashFunctions
    import graft.operators.BucketCap
    val out = ensureOrganic(spark, mult)
    graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
    spark.catalog.clearCache()
    // A: the minhash kernel (32 hashes per doc over its shingle set)
    val sigs = Dedup.sigsOf(
      spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text")).persist()
    val (nDocs, wA) = SparkWork.measure(spark)(sigs.count())
    // B: band explode + adaptive cap (cap derivation materializes sizes)
    val banded = sigs.select(col("doc_id"),
      explode(HashFunctions.lshBands(col("sig"), bands = 16, rows = 2))
        .as("band"))
    val ((capped, cap, sizes), wB) = SparkWork.measure(spark) {
      val r = BucketCap.capBucketsAdaptive(banded, Seq("band"),
        Dedup.LshBucketFloor)
      r._1.persist().count() // the one persist — r._1 IS `capped` below
      r
    }
    // the linear bound the capped self-join is bounded by, from the
    // bucket-size frame the cap derivation already computed
    val bound = sizes.agg(
      sum(expr(s"least(_bsz, ${cap}L) * (least(_bsz, ${cap}L) - 1) DIV 2"))
        .as("cand_rows_bound"),
      sum(when(col("_bsz") > cap, 1L)).as("capped_buckets"),
      max(col("_bsz")).as("max_bucket")).collect().head
    // C: bucket self-join + pair uniquing — Dedup.bandCandidatePairs,
    // the gated query's own stage, so the conf-gated shuffle A/B
    // (minimalband / packpairs) profiles the exact production shape
    val pairs = Dedup.bandCandidatePairs(capped).persist()
    val (nPairs, wC) = SparkWork.measure(spark)(pairs.count())
    // D: signature attach + agreement re-rank (dd3's tail, verbatim)
    val scored = pairs
      .join(sigs.select(col("doc_id").as("i"), col("sig").as("sig_i")), "i")
      .join(sigs.select(col("doc_id").as("j"), col("sig").as("sig_j")), "j")
      .select(col("i"), col("j"),
        HashFunctions.minhashSimilarity(col("sig_i"), col("sig_j"))
          .as("est_jac"))
      .filter(col("est_jac") >= 0.5)
    val (nOut, wD) = SparkWork.measure(spark)(scored.count())
    Seq(sigs, capped, pairs).foreach(_.unpersist(blocking = false))
    sizes.unpersist(blocking = false)
    val report =
      s"""{"mode":"dd3_profile","mult":$mult,"n_docs":$nDocs,""" +
      s""""cap_bucket":$cap,""" +
      s""""cand_rows_bound":${if (bound.isNullAt(0)) 0L else bound.getLong(0)},""" +
      s""""capped_buckets":${if (bound.isNullAt(1)) 0L else bound.getLong(1)},""" +
      s""""max_bucket":${if (bound.isNullAt(2)) 0L else bound.getLong(2)},""" +
      s""""stageA_minhash":{"sec":${fmt3(wA.seconds)},"max_task_rows":${wA.maxTaskRecords}},""" +
      s""""stageB_band_cap":{"sec":${fmt3(wB.seconds)},"max_task_rows":${wB.maxTaskRecords}},""" +
      s""""stageC_pair_distinct":{"sec":${fmt3(wC.seconds)},"rows":$nPairs,"max_task_rows":${wC.maxTaskRecords}},""" +
      s""""stageD_attach_rerank":{"sec":${fmt3(wD.seconds)},"rows":$nOut,"max_task_rows":${wD.maxTaskRecords}}}"""
    println(report)
    val f = java.nio.file.Paths.get(s"$out/dd3_profile.json")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, (report + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[rehearsal] dd3 profile written to $f")
  }

  /** Flood-regime ANN recall certification (VERDICT r11 ask #3): s16's
    * recall machinery runs only at healthy occupancy, so the flood
    * path's recall — rank-adjacent pairing within FloodWindow for s3,
    * bounded probes for the quantized tiers — was unmeasured by design.
    * This mode runs every [[graft.queries.Similarity.RecallMethods]]
    * tier PLUS s3 (the SRP tier whose flood degrade is the one under
    * suspicion) on a flooded corpus and records recall@10 against s1's
    * exact answer on the SAME corpus. Results land in BASELINE.md as
    * the flooded-regime recall table; the constructed-flood spec floor
    * lives in DedupSimilaritySpec.
    */
  /** SemDeDup-then-reindex corpus for the "dedup" arms: applies the
    * engine's own dd17 assignment + drop rule to `base` and
    * materializes the kept embeddings as `${base}_dedup` (idempotent —
    * an existing materialization is reused). Factored out of
    * [[runFloodRecall]] so the nprobe sweep rehearses the same corpus.
    */
  private def ensureDedupFirst(spark: SparkSession, base: String): String = {
    import graft.queries.Similarity
    val dd = s"${base}_dedup"
    if (!exists(s"$dd/embeddings.parquet")) {
      val t0 = System.nanoTime()
      val e = spark.read.parquet(s"$base/embeddings.parquet")
      val units = e
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("u"))
        .select(col("vec_id"), expr(
          """transform(u, x -> x / sqrt(aggregate(u, 0.0D,
            |  (acc, y) -> acc + y * y)))""".stripMargin).as("unit"))
        .persist()
      // same exact-arm viability bound as the assign probe: the exact
      // N×C broadcast fan-out ENOSPCed the box at the organic ×400
      // point, and the hierarchical path is proven to agree — so the
      // dedup arm degrades the same way instead of dying there
      val nU = units.count()
      val exactFanout = nU * (nU / Similarity.PqAnchorStride.max(1))
      val assigned = (if (exactFanout <= 4e9.toLong)
        Similarity.assignFromUnits(units)
      else Similarity.assignFromUnitsHierarchical(units, nU)).persist()
      val (dropsDf, caches) =
        graft.queries.Dedup.semDedupDrops(assigned, cap = 1000L)
      val kept = e.join(dropsDf, Seq("vec_id"), "left_anti")
        .persist()
      val nKept = kept.count()
      val nAll = e.count()
      kept.repartition(32).write.mode("overwrite")
        .parquet(s"$dd/embeddings.parquet")
      caches.foreach(_.unpersist(blocking = false))
      assigned.unpersist(blocking = false)
      units.unpersist(blocking = false)
      kept.unpersist(blocking = false)
      System.err.println(f"[floodrecall] semdedup kept $nKept of $nAll " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    dd
  }

  private def runFloodRecall(spark: SparkSession, mult: Int,
      degenerate: Boolean, dedupFirst: Boolean = false): Unit = {
    import graft.queries.Similarity
    val base = if (degenerate) ensureDegenerate(spark, mult)
      else ensureOrganic(spark, mult)
    // "dedup" arm — the round-12 flood-recall table's own conclusion,
    // closed experimentally: the resolution-bound tiers (s6 int8, s18
    // binary) lose recall on the organic hot-cluster corpus because
    // ~12.5% of vectors are near-identical mates whose codes cannot be
    // told apart; the documented production answer is dedup BEFORE
    // indexing. This arm applies the engine's own SemDeDup (dd17's
    // assignment + drop rule, cap-bounded flood pairing included) to
    // the corpus, then runs the SAME recall certification on the kept
    // vectors — recall is vs s1's exact answer on the deduped corpus,
    // i.e. "did the production recipe restore the tier's usefulness",
    // not a comparison across different ground truths.
    val out = if (!dedupFirst) base else ensureDedupFirst(spark, base)
    val nVecs = spark.read.parquet(s"$out/embeddings.parquet").count()
    def topIds(name: String): (Seq[Long], Double) = {
      graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
      Similarity.clearTrainedCaches()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val ids = graft.SparkEntry.queries(name)(spark, out)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      (ids, (System.nanoTime() - t0) / 1e9)
    }
    val (exact, tExact) = topIds("s1_knn_brute")
    require(exact.size == 10, s"s1 returned ${exact.size} rows")
    val exactSet = exact.toSet
    val tierAnswers = Similarity.RecallMethods.map { m =>
      val (ids, sec) = topIds(m)
      (m, ids, sec)
    }
    val perQuery = tierAnswers.map { case (m, ids, sec) =>
      val recall = (ids.toSet & exactSet).size / 10.0
      System.err.println(f"[floodrecall] $m%-18s recall@10=$recall%.2f " +
        f"($sec%.1f s)")
      s""""$m":{"recall_at_10":$recall,"sec":${fmt3(sec)},"rows":${ids.size}}"""
    }
    // post-dedup lost-neighbor attribution (VERDICT r12 ask #6): for the
    // two tiers that stayed below 1.0 after dedup-first, name the
    // mechanism by measurement — s18: is the miss boundary-width-bound
    // (a 2× tieCut recovers it; its Hamming distance sits past the k=50
    // boundary but inside k=100) or resolution-bound (hd ties/beats the
    // boundary block so widening changes nothing)?  s9: a miss can ONLY
    // be a probe miss (the tier exact-ranks every vector in its 4
    // probed cells — no shortlist), so report each missed id's trained
    // cell vs the probed set.
    val probeRows = if (!dedupFirst) Seq.empty[String] else {
      import graft.functions.VectorFunctions.{binarize64, normalized, dot}
      val s18ids = tierAnswers.find(_._1 == "s18_binary_knn")
        .map(_._2.toSet).getOrElse(Set.empty[Long])
      val missed18 = (exactSet -- s18ids).toSeq.sorted
      val s18probe = {
        graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
        Similarity.clearTrainedCaches()
        spark.catalog.clearCache()
        // counterfactual: the PRE-adoption family width (the gated s18
        // now runs at ShortlistKBinary = 2×) — keeps the attribution
        // measured, not just remembered
        val t0 = System.nanoTime()
        val narrowIds = Similarity
          .binaryKnnRaw(spark, out, Similarity.ShortlistK)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val narrowSec = (System.nanoTime() - t0) / 1e9
        val narrowRecall = (narrowIds & exactSet).size / 10.0
        // Hamming geometry of the misses vs the two boundaries
        val codes = spark.read.parquet(s"$out/embeddings.parquet")
          .select(col("vec_id"), binarize64(col("embedding")).as("code"))
          .persist()
        val qCode = codes.filter(col("vec_id") === 0L)
          .head().getLong(1)
        val hd = codes.filter(col("vec_id") =!= 0L)
          .select(col("vec_id"),
            graft.functions.HashFunctions.hamming64(
              col("code"), lit(qCode)).cast("long").as("hd"))
        def boundary(k: Int): Long = hd
          .orderBy(col("hd"), col("vec_id")).limit(k)
          .agg(max(col("hd"))).head().getLong(0)
        val b50 = boundary(Similarity.ShortlistK)
        val b100 = boundary(Similarity.ShortlistKBinary)
        val missHd = hd.filter(col("vec_id").isin(missed18: _*))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        codes.unpersist(blocking = false)
        System.err.println(f"[floodrecall] s18 narrow(k=50) " +
          f"recall@10=$narrowRecall%.2f; boundaries hd50=$b50 hd100=$b100; " +
          s"missed=$missHd")
        s""""s18_attrib":{"narrow_k50_recall_at_10":$narrowRecall,""" +
          s""""narrow_sec":${fmt3(narrowSec)},"hd_boundary_k50":$b50,""" +
          s""""hd_boundary_k100":$b100,"missed":{${missHd.map {
            case (id, h) => s""""$id":$h""" }.mkString(",")}}}"""
      }
      val s9ids = tierAnswers.find(_._1 == "s9_ivf_trained")
        .map(_._2.toSet).getOrElse(Set.empty[Long])
      val missed9 = (exactSet -- s9ids).toSeq.sorted
      val s9probe = {
        val cents = Similarity.ivfTrainedCents(spark, out)
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
            r.getDouble(2)))
        val units = spark.read.parquet(s"$out/embeddings.parquet")
          .filter(col("vec_id").isin((0L +: missed9): _*))
          .select(col("vec_id"), normalized(col("embedding")).as("unit"))
          .collect().map(r => r.getLong(0) ->
            r.getSeq[Double](1).toArray).toMap
        def score(u: Array[Double], c: Array[Double], cn: Double) = {
          var s0 = 0.0
          var i = 0
          while (i < u.length) { s0 += u(i) * c(i); i += 1 }
          2.0 * s0 - cn
        }
        def bestCell(u: Array[Double]): Long =
          cents.maxBy { case (cid, c, cn) => (score(u, c, cn), -cid) }._1
        val qu = units(0L)
        val probed = cents.map { case (cid, c, cn) => (cid, score(qu, c, cn)) }
          .sortBy { case (cid, s0) => (-s0, cid) }.take(4).map(_._1).toSet
        val missCells = missed9.map(id => id -> bestCell(units(id)))
        val inProbe = missCells.count { case (_, c) => probed(c) }
        System.err.println(s"[floodrecall] s9 probed=$probed " +
          s"missedCells=$missCells (in-probe: $inProbe)")
        s""""s9_attrib":{"probed":[${probed.toSeq.sorted.mkString(",")}],""" +
          s""""missed_cells":{${missCells.map {
            case (id, c) => s""""$id":$c""" }.mkString(",")}},""" +
          s""""missed_in_probed":$inProbe}"""
      }
      Seq(s18probe, s9probe)
    }
    // s3 is PAIR-shaped (global top-10 pairs, not per-query top-k):
    // exact pair truth is O(N²) — analytic on the degenerate corpus
    // (every cosine 1.0, ties by (i,j): truth = (0,1)..(0,10)),
    // brute-forced on the constructed-flood spec fixture
    // (DedupSimilaritySpec); organic records emissions only.
    val s3row = {
      graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
      Similarity.clearTrainedCaches()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val pairs = graft.SparkEntry.queries("s3_ann_srp")(spark, out)
        .select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sec = (System.nanoTime() - t0) / 1e9
      val recall =
        if (!degenerate) -1.0
        else (pairs & (1L to 10L).map(j => (0L, j)).toSet).size / 10.0
      System.err.println(f"[floodrecall] s3_ann_srp (pairs) " +
        f"recall@10=$recall%.2f ($sec%.1f s)")
      s""""s3_ann_srp":{"recall_at_10":$recall,"sec":${fmt3(sec)},""" +
        s""""rows":${pairs.size}}"""
    }
    val tiers = (s3row +: perQuery) ++ probeRows
    val corpus = (if (degenerate) "degenerate" else "organic") +
      (if (dedupFirst) "_dedup" else "")
    val report =
      s"""{"mode":"flood_recall","corpus":"$corpus","mult":$mult,""" +
      s""""n_vecs":$nVecs,"exact_sec":${fmt3(tExact)},""" +
      s""""tiers":{${tiers.mkString(",")}}}"""
    println(report)
    val f = java.nio.file.Paths.get(s"$out/flood_recall.json")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, (report + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[rehearsal] flood recall written to $f")
  }

  /** dd17's FULL production path (assignment + drop rule + keep
    * summary) at rehearsal scale, with the assignment tier selected by
    * the SAME conf the gated query honors — r12 ask #4's "Done"
    * condition: `semdedup hier` at ×400 must complete where the exact
    * arm's N×C fan-out ENOSPCed the box; `semdedup` (no flag) records
    * the exact arm for the A/B where it is still viable.
    */
  private def runSemDedup(spark: SparkSession, mult: Int,
      hier: Boolean): Unit = {
    import graft.queries.{Dedup, Similarity}
    val out = ensureOrganic(spark, mult)
    if (hier) spark.conf.set(Similarity.SemDedupHierarchicalConf, "true")
    // the WHOLE assignment build is inside the timed block — including
    // the corpus scan + normalization, which the hierarchical branch
    // materializes eagerly (its internal e.count()) and the exact
    // branch leaves lazy; timing only assigned.count() would exclude
    // the scan from one arm and not the other, biasing the A/B
    val ((assigned, eCache, n), wAssign) = SparkWork.measure(spark) {
      val (a0, e) = Similarity.semDedupAssign(spark, out)
      val a = a0.persist()
      val cnt = a.count()
      (a, e, cnt)
    }
    // 1000 = dd17's DefaultBucketCap (the gated cap literal)
    val (dropsDf, caches) = Dedup.semDedupDrops(assigned, 1000L)
    val (nDrops, wDrops) = SparkWork.measure(spark)(dropsDf.count())
    (Seq(assigned, eCache) ++ caches)
      .foreach(_.unpersist(blocking = false))
    val report =
      s"""{"mode":"semdedup","hier":$hier,"mult":$mult,"n_vecs":$n,""" +
      s""""assign_sec":${fmt3(wAssign.seconds)},"assign_max_task_rows":${wAssign.maxTaskRecords},""" +
      s""""drops":$nDrops,"drops_sec":${fmt3(wDrops.seconds)},""" +
      s""""drops_max_task_rows":${wDrops.maxTaskRecords}}"""
    println(report)
    val f = java.nio.file.Paths.get(
      s"$out/semdedup_${if (hier) "hier" else "exact"}.json")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.write(f, (report + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[rehearsal] semdedup report written to $f")
  }

  /** Recall-vs-nprobe curve (VERDICT r13 ask #3): the IVF tiers'
    * probe-set width is now a session conf
    * ([[graft.queries.Similarity.IvfNProbeConf]]); this mode measures
    * recall@10 vs s1's exact answer for nprobe ∈ {4, 8, 16} on the
    * organic corpus AND its dedup-first variant (where the r13 s9=0.9
    * residue lives), for the three conf-honoring single-query tiers.
    * The artifact-store default above makes the sweep isolate probe
    * width: the s9 centroids are trained once and every nprobe point
    * loads the same committed geometry. Results land in BASELINE.md as
    * the recall-vs-nprobe table.
    */
  private def runNProbeSweep(spark: SparkSession, mult: Int): Unit = {
    import graft.queries.Similarity
    val base = ensureOrganic(spark, mult)
    val corpora = Seq("organic" -> base,
      "organic_dedup" -> ensureDedupFirst(spark, base))
    val tiers = Seq("s4_ivf_knn", "s9_ivf_trained", "s17_ivfpq_knn")
    def clearAll(): Unit = {
      graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
      Similarity.clearTrainedCaches()
      spark.catalog.clearCache()
    }
    def topIds(name: String, out: String): (Set[Long], Double) = {
      clearAll()
      val t0 = System.nanoTime()
      val ids = graft.SparkEntry.queries(name)(spark, out)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (ids, (System.nanoTime() - t0) / 1e9)
    }
    val rows = corpora.flatMap { case (cname, out) =>
      spark.conf.unset(Similarity.IvfNProbeConf)
      val (exact, tExact) = topIds("s1_knn_brute", out)
      require(exact.size == 10, s"s1 returned ${exact.size} ids on $cname")
      System.err.println(f"[nprobesweep] $cname exact in $tExact%.1f s")
      val r = Seq(4, 8, 16).flatMap { np =>
        spark.conf.set(Similarity.IvfNProbeConf, np.toString)
        tiers.map { m =>
          val (ids, sec) = topIds(m, out)
          val recall = (ids & exact).size / 10.0
          System.err.println(f"[nprobesweep] $cname%-14s nprobe=$np%-2d " +
            f"$m%-16s recall@10=$recall%.2f ($sec%.1f s)")
          s"""{"corpus":"$cname","nprobe":$np,"tier":"$m",""" +
            s""""recall_at_10":$recall,"sec":${fmt3(sec)}}"""
        }
      }
      spark.conf.unset(Similarity.IvfNProbeConf)
      r
    }
    val out = s"target/rehearsal/nprobe_sweep_x$mult"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val f = java.nio.file.Paths.get(s"$out/nprobe_sweep.json")
    java.nio.file.Files.writeString(f,
      s"""{"mode":"nprobe_sweep","mult":$mult,""" +
        s""""rows":[${rows.mkString(",")}]}""")
    System.err.println(s"[rehearsal] nprobe sweep written to $f")
  }

  /** Served recall on the organic fixture (the BASELINE leg of VERDICT
    * r13 ask #6): materialize the dedup-first layout with the OPERATOR
    * ([[graft.queries.Similarity.dedupFirstIndex]]), then measure the
    * serving tier's recall@10 against s1's exact answer on that corpus
    * — warm, and cold-started from the persisted index files
    * (INDEX_META path). The two served answers must be identical.
    */
  private def runServedRecall(spark: SparkSession, mult: Int): Unit = {
    import graft.queries.{Serving, Similarity}
    val base = ensureOrganic(spark, mult)
    val out = s"target/rehearsal/organic_x${mult}_ddfirst"
    def freshAll(): Unit = {
      graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
      Similarity.clearTrainedCaches()
      Serving.clearIndexCache()
      spark.catalog.clearCache()
    }
    if (!exists(s"$out/embeddings.parquet")) {
      val t0 = System.nanoTime()
      val kept = Similarity.dedupFirstIndex(spark, base, out)
      System.err.println(f"[servedrecall] dedupFirstIndex kept $kept " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
    }
    freshAll()
    val exact = graft.SparkEntry.queries("s1_knn_brute")(spark, out)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    require(exact.size == 10, s"s1 returned ${exact.size} ids")
    val q = graft.Tables.embeddings(spark, out)
      .filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    freshAll()
    val t1 = System.nanoTime()
    val warm = Serving.serve(spark, out, q, k = 10, excludeId = 0L)
    val warmSec = (System.nanoTime() - t1) / 1e9
    val warmRecall = (warm.map(_._1).toSet & exact).size / 10.0
    val idx = s"$out/index"
    Serving.persistIndex(spark, out, idx)
    freshAll()
    Serving.loadIndexInto(spark, out, idx)
    val cold = Serving.serve(spark, out, q, k = 10, excludeId = 0L)
    require(cold == warm, "cold-started serve diverged from warm serve")
    System.err.println(f"[servedrecall] organic ×$mult dedup-first: " +
      f"served recall@10=$warmRecall%.2f (warm build $warmSec%.1f s; " +
      "cold-start answer identical)")
    val f = java.nio.file.Paths.get(s"$out/served_recall.json")
    java.nio.file.Files.writeString(f,
      s"""{"mode":"served_recall","mult":$mult,""" +
        s""""recall_at_10":$warmRecall,"warm_build_sec":${fmt3(warmSec)},""" +
        s""""cold_identical":true}""")
    System.err.println(s"[rehearsal] served recall written to $f")
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // SPARK_GRAFT_MASTER=local-cluster[4,8,8192] runs the SAME rehearsal
    // with executors in SEPARATE JVMs (VERDICT r11 ask #4): local[32]
    // concentrates every executor's shuffle/cache state in one heap —
    // the organic ×200 run needed a 48 GiB driver there — while
    // local-cluster spreads it the way a real cluster does, retiring
    // the single-JVM ceiling without needing one (see GraftSession.local).
    //
    // rehearsal legs default onto the artifact store (VERDICT r13 ask
    // #4): the r13 s9 pin proved train-once/serve-same fixes cross-JVM
    // recall flapping (re-fit k-means float nondeterminism), so
    // rehearsal now trains-or-loads by default — two consecutive runs
    // on the same corpus are byte-identical in probe geometry. Params
    // carry the corpus identity (Similarity.centroid/pq params), so one
    // shared root across corpora/mults can never serve a wrong-corpus
    // artifact. SPARK_GRAFT_REFIT=1 forces in-session re-fit (store
    // off); an explicit SPARK_GRAFT_EXTRA_CONF dir wins (it is set
    // after this default), as do its A/B knobs, e.g.
    // SPARK_GRAFT_EXTRA_CONF='spark.graft.dd3.minimalband=true'.
    val store =
      if (sys.env.get("SPARK_GRAFT_REFIT").contains("1")) Nil
      else Seq(graft.source.ArtifactStore.DirKey ->
        new java.io.File("target/rehearsal/artifacts").getAbsolutePath)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus,
      graft.GraftSession.masterFromEnv,
      store ++ graft.GraftSession.extraConfFromEnv)
    spark.sparkContext.setLogLevel("WARN")
    // floodrecall composes with the corpus flags ("floodrecall
    // degenerate" / "floodrecall organic"), so it must win the dispatch
    if (args.contains("floodrecall")) {
      try runFloodRecall(spark, mult, args.contains("degenerate"),
        dedupFirst = args.contains("dedup"))
      finally spark.stop()
      return
    }
    if (args.contains("nprobesweep")) {
      try runNProbeSweep(spark, mult) finally spark.stop()
      return
    }
    if (args.contains("servedrecall")) {
      try runServedRecall(spark, mult) finally spark.stop()
      return
    }
    if (args.contains("degenerate")) {
      try runDegenerate(spark, mult) finally spark.stop()
      return
    }
    if (args.contains("dd2profile")) {
      try runDd2Profile(spark, mult) finally spark.stop()
      return
    }
    if (args.contains("dd3profile")) {
      try runDd3Profile(spark, mult) finally spark.stop()
      return
    }
    if (args.contains("probeonly")) {
      try assignProbe(spark, ensureOrganic(spark, mult), mult)
      finally spark.stop()
      return
    }
    if (args.contains("semdedup")) {
      try runSemDedup(spark, mult, hier = args.contains("hier"))
      finally spark.stop()
      return
    }
    if (args.contains("organic")) {
      try runOrganic(spark, mult, runs) finally spark.stop()
      return
    }
    val out = if (args.length > 2) args(2)
      else s"target/rehearsal/sf0.1x$mult"

    // ---- corpus construction (idempotent: skip when already on disk) ----
    val docsOut = s"$out/documents.parquet"
    val embOut = s"$out/embeddings.parquet"
    if (!exists(docsOut)) {
      // replica 0 keeps the organic text; replicas 1..m-1 get a distinct
      // leading token, so each base doc becomes an m-member NEAR-dup
      // clique (shingle sets nearly identical) — cross-replica pair count
      // ~ docs × m(m−1)/2, far past the 200k driver-tier memo bound
      spark.read.parquet(s"$src/documents.parquet")
        .withColumn("r", explode(sequence(lit(0), lit(mult - 1))))
        .select(
          (col("doc_id") + col("r") * lit(10000000L)).as("doc_id"),
          when(col("r") === 0, col("text"))
            .otherwise(concat(lit("replica"), col("r"), lit(" "),
              col("text"))).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32)
        .write.mode("overwrite").parquet(docsOut)
    }
    if (!exists(embOut)) {
      // perturb dim 0 per replica: near (not identical) vectors, so IVF
      // cells fill with realistic near-dup mass instead of exact copies
      spark.read.parquet(s"$src/embeddings.parquet")
        .withColumn("r", explode(sequence(lit(0), lit(mult - 1))))
        .select(
          (col("vec_id") + col("r") * lit(10000000L)).as("vec_id"),
          expr("transform(embedding, (x, i) -> CAST(x + " +
            "(CASE WHEN i = 0 THEN r * 0.001 ELSE 0.0 END) AS FLOAT))")
            .as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(embOut)
    }
    driveFamily(spark, out, runs, s""""mult":$mult,""")
    spark.stop()
  }

  /** Run the heavy family against a prepared corpus dir and write
    * `$out/report.json` (min-of-N timings, row counts, derived caps,
    * per-executed-plan no-cartesian assertion, memo-decline evidence).
    */
  private def driveFamily(spark: SparkSession, out: String, runs: Int,
      header: String): Unit = {
    val nDocs = spark.read.parquet(s"$out/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$out/embeddings.parquet").count()
    System.err.println(s"[rehearsal] corpus: $nDocs docs, $nVecs vecs at $out")
    def fmt(t: Double) = "%.3f".formatLocal(java.util.Locale.ROOT, t)
    var dd2Cap = -1L
    // SPARK_GRAFT_REHEARSAL_ONLY narrows the family for a targeted
    // re-measure (e.g. the dd2 before/after); the report records the
    // narrowed list implicitly via its queries map
    val fam = sys.env.get("SPARK_GRAFT_REHEARSAL_ONLY")
      .map(f => Family.filter(f.split(",").map(_.trim).toSet))
      .getOrElse(Family)
    val report = new StringBuilder
    report ++= s"""{$header"n_docs":$nDocs,"n_vecs":$nVecs,"""
    report ++= s""""runs":$runs,"queries":{"""
    val rows = fam.map { name =>
      val fn = graft.SparkEntry.queries(name)
      // every run starts cold: the session memos are CLEARED (not
      // conf-disabled) so each timing covers the full pipeline while the
      // memo DECISION machinery stays live — dd2/dd8's driver-tier bound
      // check must run and decline organically, which is the point
      val times = (1 to runs).map { _ =>
        graft.queries.QueryCache.clearMemo()
        graft.queries.Similarity.clearTrainedCaches()
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val df = fn(spark, out)
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      // ONE untimed execution serves the plan pin, the row count and
      // (for dd2) the derived cap — each fn() call re-runs the full
      // pipeline under the cleared memos, so frames are not re-built
      // per probe
      val df = fn(spark, out)
      // plan hygiene at scale: no nested-loop/cartesian may appear once
      // the data is 10× — the exact regression AQE could smuggle in if a
      // broadcast estimate flipped
      val plan = df.queryExecution.executedPlan.toString
      val badJoin = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoop")
      val (n, capDf) =
        if (name == "dd2_shingle_jaccard") {
          // the cap the data actually derived (dd2 emits it per row)
          val r = df.agg(count(lit(1)), max(col("cap_df"))).collect().head
          (r.getLong(0), Some(if (r.isNullAt(1)) -1L else r.getLong(1)))
        } else (df.count(), None)
      capDf.foreach(c => dd2Cap = c)
      // over-bound fallback: dd2/dd8's driver-tier memo must DECLINE to
      // store a pair list this large — memoSize stays 0 when the data
      // (not a spec injection) forces the distributed path
      val memoEntries = graft.queries.QueryCache.memoSize(
        graft.queries.Dedup.MemoKinds)
      s""""$name":{"min_sec":${fmt(times.min)},"rows":$n,""" +
        s""""bad_join":$badJoin,"dedup_memo_entries":$memoEntries}"""
    }
    report ++= rows.mkString(",")
    report ++= s"""},"dd2_cap_df":$dd2Cap}"""
    println(report.toString)
    val f = java.nio.file.Paths.get(s"$out/report.json")
    java.nio.file.Files.write(f, (report.toString + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    System.err.println(s"[rehearsal] report written to $f")
  }
}
