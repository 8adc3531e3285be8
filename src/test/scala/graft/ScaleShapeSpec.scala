package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Dedup

/** Empirical scale-shape guard: the PLANS.md claim that the shingle
  * candidate machinery is "never corpus²" is asserted here as a measured
  * property, not just a plan-shape one — total shuffle-write RECORDS for
  * the dd2 pair pipeline must grow ~linearly when the unique-doc corpus
  * doubles (the near-dup structure, and hence the candidate-pair count,
  * is held fixed). A regression that reintroduces an uncapped
  * hot-shingle join or an all-pairs scan shows up as superlinear record
  * growth long before it shows up as wall-clock on a big corpus.
  *
  * Records, not bytes or seconds: record counts are deterministic for a
  * fixed input partitioning (bytes drift with compression codecs and
  * timings with box load). Input partitioning is pinned with a
  * repartition(4) on doc_id so map-side combine sees identical layouts
  * across sizes.
  */
class ScaleShapeSpec extends SparkSuite {

  /** Synthetic corpus: n unique word-salad docs (30 words from a 5000-word
    * vocabulary — shingles are overwhelmingly singletons) plus 4 fixed
    * near-dup pairs so the pipeline always has real candidates to rank.
    */
  private def corpus(n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def doc(): String =
      Array.fill(30)("w" + rnd.nextInt(5000)).mkString(" ")
    val uniques = (0 until n).map(i => (i.toLong, "en", doc()))
    val dups = (0 until 4).flatMap { k =>
      val base = doc()
      Seq((100000L + 2 * k, "en", base), (100001L + 2 * k, "en", base))
    }
    (uniques ++ dups).toDF("doc_id", "lang", "text")
      .repartition(4, col("doc_id"))
  }

  /** Total shuffle-write records across all stages of `body`. */
  private def shuffleRecords(body: => Unit): Long =
    sparkWork(body)._2.shuffleRecords

  test("dd2 pipeline shuffle records grow ~linearly in corpus size") {
    def run(n: Int): (Long, Long) = {
      val docs = corpus(n)
      var pairCount = 0L
      val records = shuffleRecords {
        val (pairs, _, caches) = Dedup.shingleJaccardPairsFromDocs(docs)
        pairCount = pairs.count()
        caches.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
      (records, pairCount)
    }
    val (r1, p1) = run(400)
    val (r2, p2) = run(800)
    // the candidate structure is held fixed, so the ranked output is too
    assert(p1 == 4L && p2 == 4L,
      s"expected exactly the 4 constructed dup pairs, got $p1 / $p2")
    // linear growth → ratio ≈ 2 (plus fixed per-query overhead, which
    // only pulls the ratio DOWN); an all-pairs or uncapped-hot-shingle
    // regression → ≥ 4. Gate midway at 3.
    val ratio = r2.toDouble / r1.toDouble
    assert(ratio < 3.0,
      s"superlinear shuffle growth: $r1 -> $r2 records (ratio $ratio)")
    // and the measurement itself is real: doubling the corpus must move
    // the counter (a broken listener reading 0/0 would pass the ratio)
    assert(r1 > 0 && r2 > r1,
      s"implausible shuffle measurements: $r1 -> $r2")
  }

  test("dd3 LSH pipeline shuffle records grow ~linearly in corpus size") {
    // the second dedup family gets the same empirical guard: banding
    // explodes to exactly 16 (doc, band) rows per doc, the bucket cap
    // bounds any one bucket's self-join, so total shuffle records must
    // track corpus size. An uncapped bucket flood (or banding on a
    // constant key) is quadratic and trips the ratio gate.
    import graft.functions.HashFunctions.{minhash, shingles}
    import graft.functions.TextFunctions.tokens
    def run(n: Int): (Long, Long) = {
      val docs = corpus(n)
      var pairCount = 0L
      val records = shuffleRecords {
        val sigs = docs.select(col("doc_id"),
          minhash(shingles(tokens(col("text"))), k = 32).as("sig")).persist()
        val (res, caches) = Dedup.lshPairsFromSigs(sigs)
        pairCount = res.count()
        (sigs +: caches).foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
      (records, pairCount)
    }
    val (r1, p1) = run(400)
    val (r2, p2) = run(800)
    // identical dup docs → identical signatures → est_jac 1.0; the
    // word-salad uniques can only produce a candidate via a band
    // collision, and the 0.5 agreement re-rank kills those
    assert(p1 == 4L && p2 == 4L,
      s"expected exactly the 4 constructed dup pairs, got $p1 / $p2")
    val ratio = r2.toDouble / r1.toDouble
    assert(ratio < 3.0,
      s"superlinear shuffle growth: $r1 -> $r2 records (ratio $ratio)")
    assert(r1 > 0 && r2 > r1,
      s"implausible shuffle measurements: $r1 -> $r2")
  }

  test("degree orientation collapses hub wedges vs id orientation") {
    // q60's scale hazard in miniature: a hub with the SMALLEST id —
    // id-orientation (p1 < p2) keeps all hub edges outgoing, so the
    // wedge join fans out O(deg²) from the hub; degree orientation
    // points every hub edge INTO the hub (leaves have lower degree),
    // leaving the hub zero out-degree. Same triangles, ~deg²/2 fewer
    // wedges. The wedge counts here are exact combinatorics, not a
    // timing: hub degree 60 → id-oriented ≥ C(60,2) = 1770 wedges;
    // degree-oriented wedges come only from the 60 leaf→(next leaf,
    // hub) pairs of the ring, ≤ |E|.
    import spark.implicits._
    val hub = (1 to 60).map(i => (0L, i.toLong))
    val ring = (1 to 60).map(i => (i.toLong, (if (i == 60) 1 else i + 1).toLong))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val e = (hub ++ ring).distinct.toDF("p1", "p2").repartition(4)

    // id-orientation wedge count: both edges out of the same p1 (the
    // original q60 spelling's fan-out), far endpoints ordered by id
    val idWedges = e.alias("a")
      .join(e.alias("b"),
        col("a.p1") === col("b.p1") && col("a.p2") < col("b.p2"))
      .count()
    val o = graft.queries.Relational.orientByDegree(e)
    val degWedges = o.alias("a")
      .join(o.alias("b"), col("a.src") === col("b.src") &&
        struct(col("a.ddst"), col("a.dst")) <
          struct(col("b.ddst"), col("b.dst")))
      .count()
    assert(idWedges >= 1770L,
      s"fixture lost its hub: only $idWedges id-oriented wedges")
    assert(degWedges <= 120L,
      s"degree orientation failed to cap hub fan-out: $degWedges wedges")

    // and the triangle COUNT is orientation-independent: hub + ring
    // gives exactly one triangle per ring edge (hub, i, i+1) = 60
    val tri = o.alias("e1")
      .join(o.alias("e2"), col("e1.src") === col("e2.src") &&
        struct(col("e1.ddst"), col("e1.dst")) <
          struct(col("e2.ddst"), col("e2.dst")))
      .join(o.alias("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
      .count()
    assert(tri == 60L, s"expected 60 hub-ring triangles, got $tri")
  }

  test("dd17 intra-cell pairs grow ~linearly: cells scale with the corpus") {
    // the SemDeDup scaling contract measured, not asserted: the coarse
    // quantizer takes every 53rd id as a centroid, so doubling the
    // corpus doubles the CELL COUNT while the occupancy distribution
    // stays put — Σ cell² (the pair-join fan-out) and total shuffle
    // records must both ~double. A fixed-k regression (cells constant,
    // occupancy doubling) or an uncapped cross-cell join would show ≥4×.
    import spark.implicits._
    def units(n: Int): DataFrame = {
      val rnd = new scala.util.Random(7)
      (0 until n).map { i =>
        val v = Array.fill(16)(rnd.nextGaussian())
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (i.toLong, v.map(_ / nrm).toSeq)
      }.toDF("vec_id", "unit").repartition(4, col("vec_id"))
    }
    def run(n: Int): (Long, Long) = {
      val e = units(n).persist()
      var pairs = 0L
      val records = shuffleRecords {
        val assigned = graft.queries.Similarity.assignFromUnits(e).persist()
        val scoped = graft.operators.BucketCap.capBuckets(
          assigned, Seq("cent_id"), 1000)
        val a = scoped.alias("a")
        val b = scoped.alias("b")
        pairs = a.join(b, col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id")).count()
        assigned.unpersist(blocking = true)
        e.unpersist(blocking = true)
        spark.catalog.clearCache()
      }
      (records, pairs)
    }
    val (r1, p1) = run(800)
    val (r2, p2) = run(1600)
    assert(p1 > 0 && p2 > p1, s"implausible pair counts: $p1 -> $p2")
    assert(p2.toDouble / p1.toDouble < 3.0,
      s"superlinear pair growth: $p1 -> $p2")
    assert(r1 > 0 && r2 > r1, s"implausible shuffle measurements: $r1 -> $r2")
    assert(r2.toDouble / r1.toDouble < 3.0,
      s"superlinear shuffle growth: $r1 -> $r2 records")
  }
  test("t28 BPE rounds shuffle vocab-bounded records: 8x corpus, flat rounds") {
    // the BPE scale claim: after the one corpus-sized word-count pass,
    // every merge round touches only the VOCAB-sized word table — so
    // growing the corpus 8x while holding the vocabulary fixed must not
    // grow the per-round shuffle. Docs draw 30 words from a FIXED
    // 300-word vocabulary; at n=100 the vocab is already saturated, so
    // n=800 has the same word table and the rounds' pair shuffles carry
    // the same records. Only the initial word-count aggregation sees 8x
    // input — and its shuffle carries one record per (partition, word)
    // thanks to map-side combine, so even it is vocab-bounded.
    import spark.implicits._
    def corpusFixedVocab(n: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(7)
      val docs = (0 until n).map(i =>
        (i.toLong, Array.fill(30)("w" + rnd.nextInt(300)).mkString(" ")))
      docs.toDF("doc_id", "text").repartition(4, col("doc_id"))
    }
    def run(n: Int): Long = {
      val dir = java.nio.file.Files.createTempDirectory(s"bpe-scale-$n").toString
      corpusFixedVocab(n).coalesce(4).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val recs = shuffleRecords {
        SparkEntry.queries("t28_bpe_train")(spark, dir).collect()
      }
      graft.util.Fs.rmTree(new java.io.File(dir))
      recs
    }
    val r1 = run(100)
    val r8 = run(800)
    assert(r1 > 0 && r8 > 0, s"implausible shuffle counts: $r1 / $r8")
    // vocab saturated at both sizes -> same word table, same rounds; the
    // 1.5 factor absorbs partition-layout jitter, while a corpus-scaled
    // regression (rounds re-scanning documents) would show ~8x
    val ratio = r8.toDouble / r1.toDouble
    assert(ratio < 1.5,
      s"BPE round shuffles grew with the corpus: $r1 -> $r8 (ratio $ratio)")
  }

  test("t28 BPE driver loop: 200 merge rounds on a x10 corpus in " +
    "single-digit seconds") {
    // the production-vocab viability pin (r12 verdict ask #1): the old
    // loop ran one Spark job + a 1-row argmax collect PER ROUND — fine
    // at the gated k=12, a 32k-job scale-killer at production vocab.
    // The driver tier must make k=200 on a x10-of-gate corpus (5000
    // docs, 3000-word vocab) interactive: one corpus scan + one
    // vocab-bounded collect + 200 in-memory rounds. The bound is
    // CALIBRATION-NORMALIZED (BenchCeilingSpec's discipline — an
    // absolute wall assert would flap with box contention): typical
    // ratio ~4-7x the 20M-row calibration probe; a regression back to
    // per-round jobs costs 200 x (job latency) and lands ~50x+.
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 3000).map(i => s"tok${i}x${i % 97}")
    val docs = (0L until 5000L).map(i =>
      (i, (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")))
    val dir = java.nio.file.Files.createTempDirectory("bpe-k200").toString
    try {
      docs.toDF("doc_id", "text").repartition(8)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val cal = Bench.calibrate(spark, runs = 3).max(0.05)
      val t0 = System.nanoTime()
      val merges = graft.queries.Text.bpeTrainLoop(spark, dir, 200)
      val sec = (System.nanoTime() - t0) / 1e9
      assert(merges.size == 200,
        s"vocab ran dry at ${merges.size} merges — fixture too small")
      assert(sec <= 25.0 * cal,
        f"k=200 BPE training took $sec%.1f s = ${sec / cal}%.1fx the " +
          f"box calibration $cal%.3f s (ceiling 25x)")
    } finally graft.util.Fs.rmTree(new java.io.File(dir))
  }

  test("p18 PSI shuffle records stay flat: 8x corpus, same <= 20-key agg") {
    // PLANS.md's p18 claim measured: the corpus contributes ONLY
    // map-side-combined partials of the fixed 20-bin histogram to the
    // shuffle, so total shuffle records are bounded by tasks x bins +
    // the constant 20-row tail arithmetic — an 8x corpus must not move
    // them (a regression that aggregates before binning, or bins on a
    // data-derived domain, shows up as ~8x record growth)
    import spark.implicits._
    def run(n: Int): Long = {
      val docs = (0L until n.toLong).map(i => (i, (i % 37) * 64L))
        .toDF("doc_id", "n_chars").repartition(4, col("doc_id"))
      val tmp = java.nio.file.Files.createTempDirectory("psisc").toString
      try {
        docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
        shuffleRecords {
          SparkEntry.queries("p18_drift_psi")(spark, tmp).collect()
        }
      } finally graft.util.Fs.rmTree(spark, tmp)
    }
    val r1 = run(2000)
    val r8 = run(16000)
    val ratio = r8.toDouble / math.max(r1, 1L).toDouble
    assert(ratio < 1.5,
      s"PSI shuffle grew with the corpus: $r1 -> $r8 (ratio $ratio)")
  }

  test("PairScreen per-batch cost grows at most linearly with state, never pair-quadratic") {
    import spark.implicits._
    // six equal unique-doc batches through the ingest screen: the
    // documented per-batch cost is O(batch + state) — the occupancy
    // re-group touches accumulated postings (state-linear; the bucketed
    // layout removes it in production) — so the LAST batch may cost up
    // to ~state/batch ≈ 6× the first. A candidate-explosion regression
    // (pairs scaling with state×batch through an uncapped bucket join)
    // lands far above that. Gate at 12× (2× slack on the linear bound).
    val rnd = new scala.util.Random(23)
    def batchDocs(b: Int, size: Int): DataFrame =
      (0 until size).map { i =>
        ((b * size + i).toLong,
          Array.fill(30)("w" + rnd.nextInt(5000)).mkString(" "))
      }.toDF("doc_id", "text")
    val screen = new graft.streaming.NearDupStream.PairScreen(spark, cap = 32)
    try {
      val perBatch = (0 until 6).map { b =>
        shuffleRecords {
          val pairs = screen.ingest(batchDocs(b, 150))
          pairs.count()
          graft.operators.Checkpoints.free(pairs)
        }
      }
      val ratio = perBatch.last.toDouble / math.max(perBatch.head, 1L)
      assert(ratio < 12.0,
        s"per-batch screen cost blew past the state-linear bound: " +
          s"${perBatch.mkString(",")} (last/first $ratio)")
      assert(perBatch.head > 0, "no shuffle measured — harness broken")
    } finally screen.close()
  }

  test("dd21 candidates grow ~linearly: 8x corpus, ~8x candidates") {
    import spark.implicits._
    // high-entropy (hex) names — dd21's gated regime. Candidates =
    // true links + random segment collisions; both are ~linear in the
    // corpus when the alias fraction is held fixed, so an 8x corpus
    // must produce ~8x candidates, never the 64x of an all-pairs creep.
    def hexCorpus(n: Int): org.apache.spark.sql.DataFrame =
      spark.range(n).select(col("id").as("c_custkey"))
        .withColumn("name",
          expr("substr(md5('sc:' || c_custkey), 1, 16)"))
    def aliasesOf(b: org.apache.spark.sql.DataFrame) =
      b.filter(col("c_custkey") % 20 === 3)
        .withColumn("alias", expr(
          "substr(name, 1, 3 + c_custkey % 10) || 'z' || " +
            "substr(name, 5 + c_custkey % 10)"))
        .select(col("c_custkey").as("alias_id"), col("alias"))
    val small = hexCorpus(2000)
    val big = hexCorpus(16000)
    val cSmall = Dedup.linkageCandidates(small, aliasesOf(small)).count()
    val cBig = Dedup.linkageCandidates(big, aliasesOf(big)).count()
    val ratio = cBig.toDouble / cSmall
    assert(ratio < 16.0 && ratio > 4.0,
      s"candidate growth not ~linear: $cSmall -> $cBig (ratio $ratio)")
  }

  test("dd21 segment-df cap bounds a formulaic (low-entropy) corpus " +
    "without losing digit-segment links") {
    import spark.implicits._
    // TPC-H-shaped names: the first two pigeonhole segments are
    // CONSTANT across the corpus — the documented failure mode of
    // signature blocking, where every alias matches every base through
    // the constant segments. The doc-frequency cap (dd2's remedy) must
    // collapse the candidate set to the discriminative digit segment's
    // matches while keeping every planted link — the edits sit in the
    // constant prefix, so the digit segment is untouched and sub-cap.
    val n = 2000
    val base = spark.range(n).select(col("id").as("c_custkey"))
      .withColumn("name", expr("'Item#' || lpad(c_custkey, 11, '0')"))
    val aliases = base.filter(col("c_custkey") % 20 === 3)
      // substitute position 2 ('t' -> 'z'): distance 1, prefix-only
      .withColumn("alias",
        expr("substr(name, 1, 1) || 'z' || substr(name, 3)"))
      .select(col("c_custkey").as("alias_id"), col("alias"))
    val uncapped = Dedup.linkageCandidates(base, aliases).count()
    val capped = Dedup.linkageCandidates(base, aliases, Some(50L))
    val cappedN = capped.count()
    // uncapped: each alias matches every base through the constant
    // segments — the explosion the cap exists to stop
    assert(uncapped >= n.toLong * (n / 20) / 2,
      s"fixture not adversarial enough: uncapped=$uncapped")
    assert(cappedN < n.toLong * 4,
      s"cap failed to bound the formulaic corpus: capped=$cappedN")
    // recall floor under the cap: every planted identity link survives
    // (the digit segment is untouched by the prefix edit and sub-cap)
    val links = capped.filter(col("alias_id") === col("c_custkey")).count()
    assert(links == (0 until n).count(_ % 20 == 3).toLong,
      s"cap lost planted links: $links")
  }

}
