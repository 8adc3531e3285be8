package graft

import org.apache.spark.sql.functions._

/** Correctness of the sketch-based (non-oracled) dedup/similarity queries
  * against their exact counterparts on sf0.001:
  *   - MinHash-LSH candidate recall vs exact shingle-Jaccard pairs;
  *   - SimHash ranks true near-dup pairs closest;
  *   - SRP-LSH ANN recall vs exact top pairs.
  */
class DedupSimilaritySpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("minhash-LSH candidates cover all exact Jaccard>=0.8 near-dup pairs") {
    val exact = SparkEntry.queries("dd2_shingle_jaccard")(spark, sf)
      .filter(col("jac") >= 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-dup pairs")
    val lsh = SparkEntry.queries("dd3_minhash_lsh")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed near-dup pairs: $missed")
  }

  test("minhash signature agreement approximates true Jaccard") {
    import graft.functions.HashFunctions._
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        shingles(tokens(col("text"))).as("sh"),
        minhash(shingles(tokens(col("text"))), k = 32).as("sig"))
    val a = docs.alias("a"); val b = docs.alias("b")
    // join exact-near-dup pairs with their signatures
    val exact = SparkEntry.queries("dd2_shingle_jaccard")(spark, sf)
    val joined = exact
      .join(a, col("i") === col("a.doc_id"))
      .join(b, col("j") === col("b.doc_id"))
      .select(col("jac"),
        minhashSimilarity(col("a.sig"), col("b.sig")).as("est"))
      .collect()
    joined.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.35,
        s"jac=${r.getDouble(0)} est=${r.getDouble(1)}") // k=32 → σ≈0.09
    }
  }

  test("simhash: near-dups have close sketches; closest pairs are found") {
    import graft.functions.HashFunctions._
    import graft.functions.TextFunctions.tokens
    // every true near-dup pair (jac>=0.9) has sketch hamming <= 7 — within
    // dd4's banded completeness bound, so banding cannot lose them
    val sketches = Tables.documents(spark, sf)
      .select(col("doc_id"), simhash64(tokens(col("text"))).as("sh"))
    val near = SparkEntry.queries("dd2_shingle_jaccard")(spark, sf)
      .filter(col("jac") >= 0.9)
      .join(sketches.select(col("doc_id").as("i"), col("sh").as("sh_i")), "i")
      .join(sketches.select(col("doc_id").as("j"), col("sh").as("sh_j")), "j")
      .select(col("i"), col("j"), hamming64(col("sh_i"), col("sh_j")).as("d"))
      .collect()
    assert(near.nonEmpty)
    near.foreach(r => assert(r.getInt(2) <= 7,
      s"near-dup (${r.getLong(0)},${r.getLong(1)}) hamming ${r.getInt(2)}"))
    // and the globally-closest (hamming-0) pairs surface in dd4's top-20
    val out = SparkEntry.queries("dd4_simhash")(spark, sf).collect()
    val top = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    val zeros = near.filter(_.getInt(2) == 0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zeros.nonEmpty && (zeros -- top).isEmpty,
      s"hamming-0 pairs missing from top-20: ${zeros -- top}")
    // output is sorted by hamming
    val hs = out.map(_.getInt(2)).toSeq
    assert(hs == hs.sorted)
  }

  test("SRP-LSH ANN finds most of the exact global top-10 pairs") {
    import graft.functions.VectorFunctions.cosine
    // exact global top-10 pairs (unblocked brute force — test-only oracle;
    // s2_top_pairs is label-blocked so it is not comparable to s3's
    // global candidates)
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val a = e.alias("a"); val b = e.alias("b")
    val exact = a.join(b, col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("i"), col("j"))
      .limit(10).select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("s3_ann_srp")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 8 tables × 4-bit bands at cos≈0.45 → P(candidate)≈0.78/pair; the
    // top-10 intersection should comfortably clear 40%.
    val recall = (exact intersect ann).size.toDouble / exact.size
    assert(recall >= 0.4, s"ANN recall too low: $recall (found ${ann.size} pairs)")
  }

  test("IVF ANN finds a fair share of the exact query-0 top-10") {
    val exact = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("s4_ivf_knn")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    // nprobe=4 of ~10 cells on near-random vectors: baseline recall ≈ 0.4
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall too low: $recall")
  }

  test("trained-IVF ANN matches or beats the modular-sampled quantizer's recall floor") {
    val exact = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("s9_ivf_trained")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    // trained cells are tighter than modular-sampled ones (Lloyd pulls
    // centroids toward density), so s9 gets s4's floor as a MINIMUM;
    // on near-random vectors the typical value is well above it
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"trained-IVF recall too low: $recall")
  }

  test("trained centroids are memoized: two builds see identical state") {
    import graft.queries.Similarity
    val c1 = Similarity.ivfTrainedCents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val c2 = Similarity.ivfTrainedCents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    // bit-identical, not approximately equal: the s9 query body and the
    // side dump run as separate executions inside one Verify JVM, and
    // the oracle replay is exact — a retrain that drifted by one ULP
    // would be a hash-gate flake
    assert(c1.length == 8 && c1.sameElements(c2))
  }

  test("int8-quantized kNN recovers nearly all of the exact query-0 top-10") {
    val exact = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val sq = SparkEntry.queries("s6_quantized_knn")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(sq.size == 10)
    // int8 codes of unit vectors carry ~0.4% per-component error on
    // 64 dims; a 50-candidate cut before the exact re-rank should keep
    // essentially all of the true top-10 — assert a floor a broken
    // quantizer or candidate cut would breach
    val recall = (exact intersect sq).size.toDouble / exact.size
    assert(recall >= 0.7, s"quantized recall too low: $recall")
  }

  test("containment finds subset docs that symmetric Jaccard misses") {
    // the driver corpus is random word salad with no true subset docs
    // (its only C ≥ 0.8 pairs are the symmetric exact copies); this
    // constructed corpus proves the ASYMMETRIC case fires: `small` is a
    // verbatim 20-word excerpt of the 200-word `big` (C = 1.0, jac ≈ 0.09
    // — invisible to dd2's 0.6 threshold), `other` shares nothing
    import spark.implicits._
    import graft.queries.Dedup
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi",
      "pi", "rho", "sigma", "tau", "ups")
    val big = Array.fill(200)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val small = big.split(" ").slice(50, 70).mkString(" ")
    val other = Array.fill(60)("q" + rnd.nextInt(9999)).mkString(" ")
    val docs = Seq(
      (1L, "en", big), (2L, "en", small), (3L, "en", other)
    ).toDF("doc_id", "lang", "text")
    val (pairs, _, caches) = Dedup.containmentPairsFromDocs(docs)
    val got = pairs.select("i", "j", "cont_permille").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    caches.foreach(_.unpersist())
    // the 20-word excerpt: all 18 of its shingles occur in big → C = 1.0
    assert(got == Set((1L, 2L, 1000L)),
      s"expected exactly the subset pair at full containment, got $got")
  }

  test("PQ encode: codes are the true per-subspace argmin-L2 codebook ids") {
    import graft.queries.Similarity
    val base = Similarity.pqBase(spark, sf)
    val rows = base.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getSeq[Long](2).toArray)).sortBy(_._1)
    val cb = rows.filter(_._1 % 53 == 0)
    assert(cb.nonEmpty && rows.forall(_._3.length == Similarity.PqM))
    def l2(a: Array[Double], b: Array[Double], off: Int, len: Int): Double =
      (0 until len).map(i => { val d = a(off + i) - b(off + i); d * d }).sum
    // brute-force reference on a deterministic sample of vectors
    rows.filter(_._1 % 29 == 0).foreach { case (id, unit, codes) =>
      (0 until Similarity.PqM).foreach { m =>
        val off = m * Similarity.PqD
        // min L2, ties to the smallest codebook id — the operator's rule
        val want = cb.minBy { case (cid, cu, _) =>
          (l2(unit, cu, off, Similarity.PqD), cid)
        }._1
        assert(codes(m) == want,
          s"vec $id subspace $m: code ${codes(m)}, brute-force $want")
      }
    }
  }

  test("PQ ADC kNN recovers a fair share of the exact query-0 top-10") {
    val exact = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pq = SparkEntry.queries("s8_pq_knn")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pq.size == 10)
    // 4×16 PQ against an untrained (sampled) codebook on near-random
    // vectors is the coarsest sketch in the family; the 50-candidate cut
    // + exact re-rank must still clear a floor a broken LUT/encode would
    // breach
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.2, s"PQ recall too low: $recall")
  }

  test("int8 quantizer: codes bounded, reconstruction error within half-step") {
    val rnd = new scala.util.Random(23)
    val v = Array.fill(64)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    val unit = v.map(_ / n)
    import spark.implicits._
    val got = Seq(Tuple1(unit.toSeq)).toDF("u")
      .select(graft.functions.VectorFunctions.quantize8(col("u")))
      .head().getSeq[Int](0)
    assert(got.length == 64)
    got.zip(unit).foreach { case (c, x) =>
      assert(c >= -127 && c <= 127)
      // |c - 127x| ≤ 0.5 (round half away from zero)
      assert(math.abs(c - 127.0 * x) <= 0.5 + 1e-12,
        s"code $c vs ${127.0 * x}")
    }
  }

  test("MinHashMerge aggregator: merged sketch == sketch of unioned shingles") {
    import graft.functions.{MinHashAgg, Sketches}
    import spark.implicits._
    val docs = Seq(
      (1L, "g1", "a b c d e f g h"),
      (2L, "g1", "x y z w v u t s"),
      (3L, "g2", "a b c d e f g h x y z w"))
      .toDF("id", "g", "text")
    import graft.functions.HashFunctions._
    import graft.functions.TextFunctions.tokens
    val merged = docs
      .select(col("g"), minhash(shingles(tokens(col("text"))), 32).as("sig"))
      .groupBy("g").agg(MinHashAgg.minhashMerge(col("sig")).as("sketch"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // direct sketch of the union of g1's shingle sets
    val sh1 = Sketches.shinglesKernel("a b c d e f g h".split(" ").toSeq, 3)
    val sh2 = Sketches.shinglesKernel("x y z w v u t s".split(" ").toSeq, 3)
    val unionSig = Sketches.minhashKernel((sh1 ++ sh2).distinct.toSeq, 32).toSeq
    assert(merged("g1") == unionSig)
    // dd6 runs end-to-end and yields all language pairs
    val dd6 = SparkEntry.queries("dd6_corpus_sketch")(spark, sf).collect()
    assert(dd6.length == 10) // C(5,2) language pairs
    assert(dd6.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("rolling fingerprint is order-sensitive where md5-bag is not") {
    import graft.functions.HashFunctions._
    import graft.functions.TextFunctions._
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"), (2L, "d c b a"), (3L, "a b c d")
    ).toDF("id", "text")
      .select(col("id"),
        rollingFingerprint(tokens(col("text"))).as("roll"),
        fingerprint(col("text")).as("bag"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(df(1)._1 == df(3)._1) // same sequence → same rolling fp
    assert(df(1)._1 != df(2)._1) // reordered → different rolling fp
    assert(df(1)._2 == df(2)._2) // same bag → same md5-bag fp
  }

  test("dd14 canonical pick == longest member per dd8 cluster, sizes tile the corpus") {
    val picks = SparkEntry.queries("dd14_canonical_pick")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3), r.getLong(4))))
      .toMap // rep -> (canonical_id, n_chars, cluster_size)
    val clusters = SparkEntry.queries("dd8_neardup_clusters")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent driver-side recomputation of the whole answer:
    // group every doc by its component label (itself when unclustered),
    // winner = (max n_chars, then min doc_id)
    val expected = chars.keys
      .groupBy(id => clusters.getOrElse(id, id))
      .map { case (rep, ids) =>
        val win = ids.minBy(id => (-chars(id), id))
        rep -> ((win, chars(win), ids.size.toLong))
      }
    assert(picks == expected)
    // cluster sizes partition the corpus exactly
    assert(picks.values.map(_._3).sum == chars.size)
    // multi-doc clusters exist at sf0.001 (else the test is vacuous)
    assert(picks.values.exists(_._3 > 1))
  }

  test("s10 MMR: rank-1 is the plain top-1 and the picked set is more diverse") {
    import graft.functions.VectorFunctions.cosine
    val mmr = SparkEntry.queries("s10_mmr_diverse")(spark, sf)
      .orderBy("rank").collect().map(_.getLong(1))
    val top5 = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .limit(5).collect().map(_.getLong(0))
    assert(mmr.head == top5.head, "MMR's first pick must be the plain top-1")
    assert(mmr.toSet != top5.toSet,
      "MMR chose exactly the undiversified set — λ=0.7 should reorder")
    // internal cohesion: max pairwise sim within MMR's set must not
    // exceed the plain top-5's (that inequality IS the point of MMR)
    def maxPairSim(ids: Array[Long]): Double = {
      val e = Tables.embeddings(spark, sf)
        .filter(col("vec_id").isin(ids: _*))
      val a = e.select(col("vec_id").as("i"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("j"), col("embedding").as("eb"))
      a.crossJoin(b).filter(col("i") < col("j"))
        .select(cosine(col("ea"), col("eb")).as("s"))
        .agg(max("s")).first().getDouble(0)
    }
    assert(maxPairSim(mmr) <= maxPairSim(top5) + 1e-12,
      "MMR produced a less diverse set than plain top-k")
  }

  test("s11 filtered kNN: predicate reaches the scan; post-filter under-returns") {
    val df = SparkEntry.queries("s11_filtered_knn")(spark, sf)
    // pre-filtering is free only if the predicate actually reaches the
    // parquet scan — row groups excluding label=3 must never decompress
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(label,3)"),
      s"label predicate not pushed to the scan:\n$plan")
    val pre = df.collect()
    assert(pre.length == 10 && pre.forall(_.getInt(1) == 3))
    // the failure mode the query documents: filtering a global top-10
    // AFTER ranking keeps only its label-3 members — strictly fewer than
    // k whenever the global head is predicate-poor (it is, here)
    val post = SparkEntry.queries("s1_knn_brute")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val postFiltered = pre.map(_.getLong(0)).count(post.contains)
    assert(postFiltered < 10,
      "fixture's global top-10 is all label=3 — post-filter demo is vacuous")
    // and both agree on what they share: s11's head IS the best label-3
    // vector overall
    val bestLabel3 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") =!= 0L && col("label") === 3)
    assert(bestLabel3.count() >= 10, "need ≥10 label-3 vectors for full k")
  }

  test("s12 prototypes: partial-agg before the shuffle, exact per-label means") {
    val df = SparkEntry.queries("s12_label_prototypes")(spark, sf)
    // the explode fan-out must collapse map-side: partial HashAggregate
    // below the Exchange, final above — otherwise N·dim rows shuffle
    val plan = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).size >= 2 &&
      plan.contains("Exchange"), s"expected partial+final agg:\n$plan")
    val rows = df.collect()
    // n_vecs is per-label constant across positions (every vector is
    // dense), and Σ_labels n_vecs == corpus size at every pos
    val byLabel = rows.groupBy(_.getInt(0))
    assert(byLabel.values.forall(_.map(_.getLong(2)).distinct.size == 1))
    val total = Tables.embeddings(spark, sf).count()
    assert(byLabel.values.map(_.head.getLong(2)).sum == total)
    // exact check against an independent driver-side fold for one label
    val l0 = Tables.embeddings(spark, sf).filter(col("label") === 0)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val want = l0.transpose.map(xs => xs.sum / xs.length)
    val got = byLabel(0).sortBy(_.getInt(1)).map(_.getDouble(3))
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(math.abs(g - w) < 1e-9, s"label 0 pos $i: $g vs $w")
    }
  }

  test("dd15 leakage matrix == dd2 pairs classified by the t7 split rule") {
    val matrix = SparkEntry.queries("dd15_split_leakage")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val pairs = SparkEntry.queries("dd2_shingle_jaccard")(spark, sf)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    val splits = SparkEntry.queries("t7_hash_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // driver-side recomputation through the GATED t7 assignment (not a
    // re-derivation of the md5 rule — the audit must agree with the split
    // the corpus actually uses)
    val expected = pairs
      .map { case (i, j) =>
        val (a, b) = (splits(i), splits(j))
        (if (a < b) a else b, if (a < b) b else a)
      }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(matrix == expected)
    assert(matrix.values.sum == pairs.length)
    // the audit exists because leaks exist: at sf0.001 at least one pair
    // must straddle splits (else the fixture can't certify the cross cell)
    assert(matrix.keys.exists { case (lo, hi) => lo != hi })
  }

  test("IVF-PQ composed ANN recovers a fair share of the exact top-10") {
    val exact = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivfpq = SparkEntry.queries("s17_ivfpq_knn")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivfpq.size == 10)
    // TWO approximations stack here (nprobe=2 cells AND 4×16 PQ codes),
    // so s17 gets the coarsest family floor; measured 0.9 at sf0.001 —
    // the probed cells hold the true neighbors because coarse cells and
    // true top-10 correlate through the same geometry
    val recall = (exact intersect ivfpq).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF-PQ recall too low: $recall")
  }

  test("binary-code kNN recovers a fair share of the exact top-10") {
    val exact = SparkEntry.queries("s1_knn_brute")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val bin = SparkEntry.queries("s18_binary_knn")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(bin.size == 10)
    // 64 sign bits is the coarsest sketch in the family (1 bit/dim);
    // measured 0.5-0.9 across SFs — the floor catches a broken
    // binarization or a Hamming cut that stopped correlating with angle
    val recall = (exact intersect bin).size.toDouble / exact.size
    assert(recall >= 0.2, s"binary-code recall too low: $recall")
  }

  test("SemDeDup summary matches a scalar reimplementation end-to-end") {
    // dd17's whole decision pipeline — normalize, assign to the %53
    // coarse cells by max-dot (ties to smallest cent), intra-cell i<j
    // pairs at cos >= 0.4, drop the larger id, per-cell summary —
    // recomputed here in plain driver-side Scala with the same ascending
    // IEEE fold order the codegen kernels use, so every double (and
    // therefore every boundary decision) is bit-identical by
    // construction, not by tolerance.
    val emb = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
      .sortBy(_._1)
    val unit: Map[Long, Array[Double]] = emb.map { case (id, v) =>
      var ss = 0.0
      v.foreach(x => ss += x.toDouble * x.toDouble)
      val n = math.sqrt(ss)
      id -> (if (ss == 0.0) new Array[Double](v.length)
             else v.map(_.toDouble / n).toArray)
    }.toMap
    def dotD(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val cents = emb.map(_._1).filter(_ % 53 == 0)
    val cellOf: Map[Long, Long] = unit.map { case (id, u) =>
      id -> cents.map(c => (dotD(u, unit(c)), -c))
        .max._2 * -1L
    }
    val byCell = unit.keys.groupBy(cellOf).map { case (c, ids) =>
      c -> ids.toSeq.sorted
    }
    val dropped = byCell.values.flatMap { ids =>
      for {
        jIdx <- ids.indices
        if ids.take(jIdx).exists(i =>
          dotD(unit(i), unit(ids(jIdx))) >= 0.4)
      } yield ids(jIdx)
    }.toSet
    val expected = byCell.map { case (c, ids) =>
      c -> (ids.size.toLong, ids.count(dropped).toLong,
        ids.filterNot(dropped).sum)
    }
    val got = SparkEntry.queries("dd17_semdedup")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
    assert(dropped.nonEmpty, "fixture should drop at least one vector")
  }

  test("s20 routed batch kNN: recall vs s5's exact batch answers") {
    def perProbe(name: String): Map[Long, Set[Long]] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = perProbe("s5_knn_batch")
    val routed = perProbe("s20_ivf_batch_knn")
    assert(routed.keySet == exact.keySet, "probe sets diverge")
    val recalls = exact.map { case (q, ids) =>
      (routed(q) & ids).size.toDouble / ids.size
    }
    val mean = recalls.sum / recalls.size
    // deterministic corpus → deterministic recall; 0.5 is a loose floor
    // under the measured ~0.68-0.8 (nprobe=4 of ~vec/53 cells scans a
    // minority of the corpus — that IS the point)
    assert(mean >= 0.5, s"routed batch recall $mean below floor")
    assert(recalls.exists(_ < 1.0) || exact.size < 2,
      "every probe at recall 1.0 — routing may be scanning everything")
  }

  test("s21 filtered-IVF: recall vs s11's exact filtered answer") {
    def ids(name: String): Set[Long] =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(_.getLong(0)).toSet
    val exact = ids("s11_filtered_knn")
    val routed = ids("s21_ivf_filtered_knn")
    assert(exact.size == 10, "s11 under-returned — fixture changed")
    val recall = (exact & routed).size.toDouble / exact.size
    // nprobe=4 restricts the scan to a minority of cells, and the label
    // predicate further thins each probed cell — 0.5 measured on the
    // deterministic fixture, 0.3 the loose floor (the nprobe-vs-recall
    // trade this operator exists to expose)
    assert(recall >= 0.3, s"filtered-IVF recall $recall below floor")
    assert(recall < 1.0 || exact == routed,
      "routed result ignores the cell restriction — vacuous")
  }

  test("pair-memo over-bound fallback (the 100 TB path) is result-identical") {
    import org.apache.spark.sql.functions.col
    // unique shuffle layout → fresh memo key → a maxRows = -1 call is
    // guaranteed to take the live-frame fallback branch
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try {
      val (livePairs, liveCap, rel) =
        graft.queries.Dedup.memoJaccardPairs(spark, sf, maxRows = -1L)
      assert(rel.nonEmpty, "fallback must hand back frames to release")
      val live = livePairs.select("i", "j", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val (liveComp, rel2) =
        graft.queries.Dedup.memoClusters(spark, sf, maxRows = -1L)
      val comp = liveComp.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      rel.foreach(_.unpersist(blocking = false))
      rel2.foreach(_.unpersist(blocking = false))
      // memo path under the same layout (fresh key still: the fallback
      // never wrote the memo, so this builds + memoizes)
      val (memoPairs, memoCap, relM) =
        graft.queries.Dedup.memoJaccardPairs(spark, sf)
      assert(relM.isEmpty, "default bound should memoize on this fixture")
      val memo = memoPairs.select("i", "j", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val (memoComp, _) = graft.queries.Dedup.memoClusters(spark, sf)
      val compM = memoComp.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(live == memo && liveCap == memoCap,
        "fallback pair list diverges from the memoized one")
      assert(comp == compM,
        "fallback component map diverges from the memoized one")
      assert(live.nonEmpty, "fixture has no near-dup pairs — vacuous")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("containment-memo over-bound fallback is result-identical") {
    // dd12's memo (memoJaccardPairs' contract extended to containment):
    // the live-frame fallback and the memoized path must emit the same
    // pair list and cap. Fresh memo key via a unique shuffle layout.
    spark.conf.set("spark.sql.shuffle.partitions", "6")
    try {
      val (livePairs, liveCap, rel) =
        graft.queries.Dedup.memoContainmentPairs(spark, sf, maxRows = -1L)
      assert(rel.nonEmpty, "fallback must hand back frames to release")
      val live = livePairs.select("i", "j", "cont_permille").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      rel.foreach(_.unpersist(blocking = false))
      val (memoPairs, memoCap, relM) =
        graft.queries.Dedup.memoContainmentPairs(spark, sf)
      assert(relM.isEmpty, "default bound should memoize on this fixture")
      val memo = memoPairs.select("i", "j", "cont_permille").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(live == memo && liveCap == memoCap,
        "fallback containment list diverges from the memoized one")
      assert(live.nonEmpty, "fixture has no containment pairs — vacuous")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("spark.graft.memo.disabled runs raw pipelines and stores nothing") {
    import graft.queries.{Dedup, MultimodalQueries, QueryCache}
    // one query per memo family (dd pair lists, pHash artifacts, ANN
    // tiers) with the memo kinds it reads; only those kinds are cleared,
    // so the other families stay warm for later suites in the shared JVM
    for ((name, kinds) <- Seq(
        "dd2_shingle_jaccard" -> Dedup.MemoKinds,
        "dd12_containment" -> Dedup.MemoKinds,
        "mm5_phash_neardup" -> Set(MultimodalQueries.PhashKind),
        "s1_knn_brute" -> Set("s1_knn_brute"))) {
      QueryCache.clearMemo(kinds)
      spark.conf.set("spark.graft.memo.disabled", "true")
      try {
        // through the public entry: must produce the gated frame from
        // the LIVE machinery (no memo entry before, none after)
        val live = SparkEntry.queries(name)(spark, sf)
          .collect().map(_.toString).sorted.toSeq
        assert(QueryCache.memoSize(kinds) == 0,
          s"raw-measurement switch stored a memo entry for $name")
        spark.conf.unset("spark.graft.memo.disabled")
        QueryCache.clearMemo(kinds)
        val memo = SparkEntry.queries(name)(spark, sf)
          .collect().map(_.toString).sorted.toSeq
        assert(QueryCache.memoSize(kinds) > 0,
          s"memo path did not store for $name — vacuous comparison")
        assert(live == memo, s"raw and memoized $name frames diverge")
      } finally spark.conf.unset("spark.graft.memo.disabled")
    }
  }

  test("pHash-memo over-bound fallback is result-identical to the artifacts") {
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.sql.shuffle.partitions", "6")
    try {
      val top25 = graft.queries.MultimodalQueries
        .phashArtifacts(spark, sf, maxEdges = -1L) match {
        case (Seq(scored), cap, rel) if rel.nonEmpty =>
          val t = scored.orderBy(col("hamming"), col("i"), col("j"))
            .limit(25).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
          rel.foreach(_.unpersist(blocking = false))
          (t, cap)
        case _ => fail("maxEdges = -1 must take the fallback")
      }
      val memo = graft.queries.MultimodalQueries
        .phashArtifacts(spark, sf) match {
        case (Seq(t, _), cap, Nil) =>
          (t.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getInt(2))).toSet, cap)
        case _ => fail("default bound should memoize on this fixture")
      }
      assert(top25 == memo, "fallback top-25 diverges from the artifacts")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("s22 tombstones: no deleted id served, deletion non-vacuous, " +
    "surviving scores identical to s17") {
    val sf = "/root/testdata/sf0.001"
    val s17 = SparkEntry.queries("s17_ivfpq_knn")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val s22 = SparkEntry.queries("s22_tombstone_knn")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the deletion contract: no tombstoned id is ever served
    assert(s22.keys.forall(_ % 13 != 0), s"tombstoned id served: ${s22.keys}")
    // non-vacuous: the undeleted index actually served ids the deletion
    // removes, and the freed slots were backfilled to a full k
    assert(s17.keys.exists(_ % 13 == 0),
      "fixture vacuous: s17 top-10 contains no tombstoned id")
    assert(s22.size == 10)
    // scores are read-only under deletion: every surviving id keeps its
    // exact s17 cosine (deletion moves WHICH ids serve, never a score)
    (s17.keySet & s22.keySet).foreach { id =>
      assert(s17(id) == s22(id), s"score moved under deletion for $id")
    }
  }

  test("dd21 record linkage: every alias resolves to its own base, " +
    "both edit classes non-vacuous") {
    val sf = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("dd21_record_linkage")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // recall floor: the pigeonhole blocking may surface EXTRA true
    // pairs (any base within 2 edits), but it must never lose the
    // planted identity link alias(k) → base(k)
    val expectedAliases = (0L until 150L).filter(_ % 20 == 3)
    val selfLinks = rows.filter { case (a, b, _) => a == b }
    assert(selfLinks.map(_._1).toSet == expectedAliases.toSet,
      s"missing planted links: got ${selfLinks.map(_._1).sorted.toSeq}")
    // the corruption classes really produce both distances: %3==1
    // substitutes (distance 1), %3==2 composes delete+substitute
    // (distance exactly 2); a distance-0 row would mean a vacuous edit
    assert(rows.forall(_._3 >= 1), s"vacuous alias edit: ${rows.toSeq}")
    assert(selfLinks.exists(_._3 == 1) && selfLinks.exists(_._3 == 2),
      s"both edit distances expected: ${selfLinks.toSeq}")
  }

  test("flooded SRP bucket degrades to linear adjacent pairing, never to " +
    "empty ANN output (the x30 rehearsal failure mode)") {
    import graft.queries.Similarity
    import spark.implicits._
    // 30 vectors with IDENTICAL signatures (nibble 1 in every band) — a
    // near-dup flood filling every bucket past cap = 8 — plus a healthy
    // 3-member bucket (nibble 2, disjoint keys). The former drop rule
    // returned ZERO pairs for the flood, silently emptying s3/dd7 once a
    // corpus was duplicated enough; the two-regime rule must keep the
    // flood represented at linear cost and leave the healthy bucket's
    // exact pairing untouched.
    val floodIds = (0L until 30L)
    val base = (floodIds.map(i => (i, 0x11111111L)) ++
      Seq((100L, 0x22222222L), (101L, 0x22222222L), (102L, 0x22222222L)))
      .toDF("vec_id", "sig")
    val (gotDf, gotCaches) = Similarity.srpCandidates(base, cap = 8)
    val got = gotDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    gotCaches.foreach(_.unpersist(blocking = false))
    // healthy bucket: the full exact C(3,2) pairing survives unchanged
    val healthy = Set((100L, 101L), (100L, 102L), (101L, 102L))
    assert(healthy.subsetOf(got), s"sub-cap bucket lost pairs: $got")
    // flood bucket: every band yields the same rank-adjacent pairs
    // (|i-j| <= FloodWindow since rank order == id order here) —
    // sum_{d=1..8} (30-d) = 204 — PLUS the pivot arm (round 12): the
    // first FloodPivots=4 members pair with every member past their
    // window, sum_{i=0..3} (29-i-8) = 78 — 282 distinct pairs total,
    // still nothing quadratic
    val floodPairs = got -- healthy
    val want = ((for {
      i <- floodIds; d <- 1 to Similarity.FloodWindow
      if i + d < 30L
    } yield (i, i + d)) ++ (for {
      i <- 0L until Similarity.FloodPivots.toLong
      j <- (i + Similarity.FloodWindow + 1) until 30L
    } yield (i, j))).toSet
    assert(floodPairs == want,
      s"flood pairing wrong: extra=${(floodPairs -- want).take(5)} " +
        s"missing=${(want -- floodPairs).take(5)}")
    assert(floodPairs.size == 282)
    // connectivity contract (what p3's keeplist and clustering ride on):
    // every flood member except the smallest has a smaller-id near-dup,
    // so drop-j collapses the whole flood to one survivor
    val js = floodPairs.map(_._2)
    assert(floodIds.drop(1).forall(js.contains),
      "a flood member lost its smaller-id link — keeplist would keep it")
    // multiprobe (dd7's configuration): flood members don't flip-probe;
    // result over this fixture is identical (flips of nibble 1 and
    // nibble 2 don't collide: 1^{1,2,4,8} and 2^{1,2,4,8} are disjoint
    // from {1, 2})
    val (mpDf, mpCaches) =
      Similarity.srpCandidates(base, cap = 8, multiprobe = true)
    val mp = mpDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    mpCaches.foreach(_.unpersist(blocking = false))
    assert(mp == got, "multiprobe changed the flood fixture's pairs")
  }

  test("flood-regime SRP candidates equal the naive two-regime reference " +
    "on a mixed banding/flood-overlap fixture, exactly once, both modes") {
    import graft.queries.Similarity
    import spark.implicits._
    def slice(sg: Long, b: Int): Long = (sg >>> (4 * b)) & 0xfL
    // 16 vectors sharing band 0's nibble (a band-0 flood past cap = 8)
    // with spread nibbles elsewhere (each other bucket is a singleton),
    // EXCEPT ids 0 and 1 which also share band 3 — so (0, 1) is emitted
    // by the surviving band-3 banding join AND is rank-adjacent inside
    // the band-0 flood bucket: the overlap the union must dedup exactly
    // once. Two-arm disjointness + per-arm exactly-once ⇒ NO duplicate
    // rows at all, asserted below.
    val sigs: Map[Long, Long] = (0L until 16L).map { i =>
      val others = (1 until 8).map(b =>
        (((i + b) % 16) & 0xfL) << (4 * b)).sum
      i -> (others | 0x1L)
    }.toMap.updated(1L,
      // id 1: copy id 0's band-3 nibble, keep its own elsewhere
      {
        val base = (1 until 8).map(b =>
          (((1 + b) % 16) & 0xfL) << (4 * b)).sum | 0x1L
        (base & ~(0xfL << 12)) | (((0L + 3) % 16 & 0xfL) << 12)
      })
    val cap = 8
    val bucketSizes: Map[(Int, Long), Int] = sigs.values.toSeq
      .flatMap(sg => (0 until 8).map(b => (b, slice(sg, b))))
      .groupBy(identity).map { case (k, v) => k -> v.size }
    assert(bucketSizes((0, 1L)) > cap, "band-0 flood missing — vacuous")
    def naive(maxFlips: Int): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val ids = sigs.keys.toSeq.sorted
      // banding arm: some band matched where BOTH sides' own buckets
      // survived the cap
      val banding = (for {
        i <- ids; j <- ids if i < j
        if (0 until 8).exists { b =>
          java.lang.Long.bitCount(
            slice(sigs(i), b) ^ slice(sigs(j), b)) <= maxFlips &&
            bucketSizes((b, slice(sigs(i), b))) <= cap &&
            bucketSizes((b, slice(sigs(j), b))) <= cap
        }
      } yield (i, j)).toSet
      // flood arm: rank adjacency + pivots within each over-cap bucket
      val floods = bucketSizes.filter(_._2 > cap).keys
      val flood = floods.flatMap { case (b, k) =>
        val members = ids.filter(i => slice(sigs(i), b) == k).sorted
        val byRank = members.zipWithIndex
        (for {
          (i, ri) <- byRank; (j, rj) <- byRank
          if rj > ri && (rj - ri <= Similarity.FloodWindow ||
            ri < Similarity.FloodPivots)
        } yield (i, j))
      }.toSet
      (banding, flood)
    }
    val base = sigs.toSeq.toDF("vec_id", "sig")
    for (mp <- Seq(false, true)) {
      val (banding, flood) = naive(if (mp) 1 else 0)
      assert((banding intersect flood).nonEmpty,
        s"multiprobe=$mp fixture has no banding/flood overlap — vacuous")
      val (df, caches) = Similarity.srpCandidates(base, cap, multiprobe = mp)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      caches.foreach(_.unpersist(blocking = false))
      assert(rows.length == rows.toSet.size,
        s"multiprobe=$mp emitted a pair twice")
      assert(rows.toSet == (banding union flood),
        s"multiprobe=$mp diverged: extra=" +
          s"${(rows.toSet -- (banding union flood)).take(5)} missing=" +
          s"${((banding union flood) -- rows.toSet).take(5)}")
    }
  }

  test("healthy-occupancy SRP candidates: minimal-band emission equals " +
    "the naive banded pair set, exactly once, exact and multiprobe") {
    import graft.queries.Similarity
    import spark.implicits._
    def slice(sg: Long, b: Int): Long = (sg >>> (4 * b)) & 0xfL
    // planted structure over a scrambled background: (0,1) identical
    // (all 8 bands collide — the exactly-once stress), (2,3) exactly one
    // bit apart in band 0 and ≥2 bits everywhere else (multiprobe-only
    // pair), background sigs golden-gamma mixed
    val sigs: Map[Long, Long] = Map(
      0L -> 0x13579BDFL, 1L -> 0x13579BDFL,
      2L -> 0x2468ACE0L, 3L -> (0x2468ACE0L ^ 0x33333331L)) ++
      (10L until 46L).map(i =>
        i -> ((i * 0x9E3779B97F4A7C15L) & 0xFFFFFFFFL)).toMap
    // healthy-occupancy precondition: no (band, key) bucket over cap —
    // otherwise the flood regime (its own fixture above) takes over
    val cap = 16
    val occ = sigs.values.toSeq
      .flatMap(sg => (0 until 8).map(b => (b, slice(sg, b))))
      .groupBy(identity).map(_._2.size)
    assert(occ.max <= cap, s"fixture not healthy: max bucket ${occ.max}")
    def expected(maxFlips: Int): Set[(Long, Long)] = {
      val ids = sigs.keys.toSeq.sorted
      (for {
        i <- ids; j <- ids if i < j
        if (0 until 8).exists(b => java.lang.Long.bitCount(
          slice(sigs(i), b) ^ slice(sigs(j), b)) <= maxFlips)
      } yield (i, j)).toSet
    }
    val base = sigs.toSeq.toDF("vec_id", "sig")
    for (mp <- Seq(false, true)) {
      val (df, caches) = Similarity.srpCandidates(base, cap, multiprobe = mp)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      caches.foreach(_.unpersist(blocking = false))
      assert(rows.length == rows.toSet.size,
        s"multiprobe=$mp emitted a pair twice")
      assert(rows.toSet == expected(if (mp) 1 else 0),
        s"multiprobe=$mp pair set diverged from the naive reference")
    }
    // the fixture is non-vacuous: (0,1) pairs in both modes, (2,3) only
    // under multiprobe
    assert(expected(0).contains((0L, 1L)) && !expected(0).contains((2L, 3L)))
    assert(expected(1).contains((2L, 3L)))
  }

  test("SemDeDup flood cell still deduplicates: linear pairing collapses " +
    "it to one survivor instead of exempting it") {
    import graft.queries.Dedup
    import spark.implicits._
    // cell 7: a 30-member near-identical flood (cap 8 → flood regime);
    // cell 9: a healthy 3-member cell where only one pair crosses 0.4
    val u = Seq(1.0, 0.0)
    val ortho = Seq(0.0, 1.0)
    val assigned =
      ((0L until 30L).map(i => (i, 7L, u)) ++
        Seq((100L, 9L, u), (101L, 9L, u), (102L, 9L, ortho)))
        .toDF("vec_id", "cent_id", "unit")
    val (droppedDf, ddCaches) = Dedup.semDedupDrops(assigned, cap = 8L)
    val dropped = droppedDf.collect().map(_.getLong(0)).toSet
    ddCaches.foreach(_.unpersist(blocking = false))
    // flood cell: every member except the smallest has a ≥0.4
    // smaller-id neighbor within the window → 1..29 dropped, 0 kept.
    // healthy cell: exact pairing drops 101 (dup of 100); 102 is
    // orthogonal and survives.
    assert(dropped == ((1L until 30L).toSet + 101L),
      s"SemDeDup drop set wrong under flood: $dropped")
  }

  test("quantizer anchor strides: 53 floor at every gate SF (oracle " +
    "invariance), corpus-derived bounds past it (the organic-x50 " +
    "quadratic fix)") {
    import graft.queries.Similarity
    // the law itself: floor below bound*53 vectors, ceil-division above,
    // and the resulting quantizer size never exceeds the bound
    assert(Similarity.anchorStride(0L, 1024L) == 53L)
    assert(Similarity.anchorStride(2000L, 1024L) == 53L)
    assert(Similarity.anchorStride(53L * 1024L, 1024L) == 53L)
    assert(Similarity.anchorStride(53L * 1024L + 1L, 1024L) == 54L)
    assert(Similarity.anchorStride(100000L, 1024L) == 98L)
    assert(Similarity.anchorStride(100000L, 256L) == 391L)
    for (n <- Seq(1L, 2000L, 54272L, 54273L, 100000L, 10000000L);
         b <- Seq(Similarity.IvfNListBound, Similarity.PqCodebookBound)) {
      val st = Similarity.anchorStride(n, b)
      // anchors are the multiples of st in [0, n): ceil(n/st) of them
      val anchors = (n + st - 1) / st
      assert(st == 53L || anchors <= b,
        s"quantizer overflows its bound: n=$n bound=$b stride=$st")
    }
    // gate invariance, from the real tables: every SF the oracle gate or
    // the BASELINE replays run at derives the HISTORICAL stride 53, so
    // the bounded rule cannot move a hash
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val dir = s"/root/testdata/$sf"
      assert(Similarity.ivfStride(spark, dir) == 53L, s"ivf stride at $sf")
      assert(Similarity.pqStride(spark, dir) == 53L, s"pq stride at $sf")
    }
    // and the bounded stride actually bounds the BUILT quantizer: a
    // synthetic 120k-vector corpus yields <= IvfNListBound cells through
    // the real assignment kernel's centroid rule
    val n = 120000L
    val st = Similarity.anchorStride(n, Similarity.IvfNListBound)
    val nCents = spark.range(0, n)
      .filter(org.apache.spark.sql.functions.col("id") % st === 0)
      .count()
    assert(nCents <= Similarity.IvfNListBound && nCents > 512L,
      s"bounded nlist out of band: $nCents")
  }

  test("hierarchical two-level assignment: total, deterministic, high " +
    "agreement with exact argmin, ~2N*sqrt(C) work instead of N*C") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.queries.Similarity
    // synthetic clustered corpus (the regime SemDeDup assigns in):
    // 4000 vectors drawn around 16 well-separated orthogonal-ish
    // centers + small noise — big enough that C = 76 cells and
    // G = 9 groups are both non-trivial
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(16)(Array.fill(32)(rnd.nextGaussian()))
    val e = (0 until 4000).map { i =>
      val c = centers(i % 16)
      val v = c.map(_ + 0.05 * rnd.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / nrm).toSeq)
    }.toDF("vec_id", "unit").repartition(8, col("vec_id")).persist()
    try {
      val n = e.count()
      def collectAssign(df: org.apache.spark.sql.DataFrame) =
        df.select("vec_id", "cent_id").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exact = collectAssign(Similarity.assignFromUnits(e))
      val hier = collectAssign(Similarity.assignFromUnitsHierarchical(e, n))
      val cells = exact.keySet.filter(_ % 53 == 0)
      // total function onto real cells
      assert(hier.keySet == exact.keySet, "assignment lost vectors")
      assert(hier.values.toSet.subsetOf(cells), "assigned to a non-cell")
      // determinism: a second evaluation is identical
      assert(collectAssign(
        Similarity.assignFromUnitsHierarchical(e, n)) == hier,
        "hierarchical assignment nondeterministic")
      // approximation quality on clustered data: routing only loses a
      // vector whose true cell sits in another level-1 group
      val agree = exact.count { case (v, c) => hier(v) == c }
      assert(agree.toDouble / n >= 0.75,
        s"hierarchical agreement too low: $agree/$n")
      info(s"hierarchical vs exact agreement: $agree/$n " +
        f"(${agree * 100.0 / n}%.1f%%)")
      // the work-shape claim: the two routing fan-outs are N*G + C*G
      // rows (G = ceil(sqrt(C)) group anchors exist as id multiples of
      // 53*g), and the within-group argmin join carries sum_g(n_g*c_g)
      // <= N*max_g(c_g) — every term bounded by the sqrt split, far
      // under exact's N*C; the measured end-to-end cost ratio at real
      // scale is the organic rehearsal probe's job, the spec pins the
      // arithmetic the operator derives its strides from
      val cellCount = cells.size.toLong
      val g = math.max(2L, math.ceil(math.sqrt(cellCount.toDouble)).toLong)
      val groups = cells.count(_ % (53L * g) == 0).toLong
      assert(groups >= 2L && groups * groups <= 4L * cellCount,
        s"level-1 group count off the sqrt split: $groups for $cellCount")
      val routedRows = n * groups + cellCount * groups
      assert(routedRows * 3 < n * cellCount,
        s"two-level routing ($routedRows rows) not materially under " +
          s"exact (${n * cellCount})")
    } finally e.unpersist()
  }

  test("s3 under a total flood returns the EXACT top-10 pairs — the " +
    "pivot second pass (VERDICT r11 ask #3 spec floor)") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-flood-s3").toString
    // 3000 IDENTICAL vectors: every one shares a single SRP bucket per
    // band (3000 > cap 1000), so the flood arm is the only candidate
    // source. Truth is analytic: all cosines are 1.0 and s3 breaks ties
    // (i, j) — the exact top-10 pairs are (0, 1..10). Ranks 9 and 10 sit
    // past FloodWindow = 8 from vec 0, so adjacency alone cannot reach
    // them (the pre-pivot emission was (0,1..8),(1,2),(1,3) — pair
    // recall 0.8); vec 0 is rank 1 of its bucket, a pivot, so the pivot
    // arm pairs it with EVERY member and the query recovers the exact
    // answer at size·P extra cost.
    spark.range(0, 3000)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), x -> CAST(1.0 AS FLOAT))")
          .as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("s3_ann_srp")(spark, dir)
      .select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (1L to 10L).map(j => (0L, j)),
      s"flooded s3 off the exact top-10 pairs: $got")
  }

  test("tie-inclusive candidate cut: quantized-indistinguishable true " +
    "neighbors past the fixed-50 boundary are recovered by s6 and s18 " +
    "(round-12 flood-recall fix)") {
    import org.apache.spark.sql.functions._
    // 300 vectors whose int8 codes AND sign bits are all IDENTICAL
    // (perturbations stay inside one quantization cell), but whose float
    // cosines to the query INCREASE with vec_id: v_i = normalize(b + i·5e-6·d)
    // with b = normalized ones (every component 0.125 → code 16, sign 1)
    // and d = (e0 − e1)/√2 ⊥ b; the query (vec 0) tilts 0.01 along d, so
    // cos(q, v_i) = (1 + 0.01·δ_i)/norms — strictly increasing in i. The
    // exact top-10 is ids 300..291, ALL past the old fixed-50 cut (whose
    // qscore tie-break by vec_id kept ids 1..50 → recall 0.0); the
    // tie-inclusive boundary keeps the whole tie block and the exact
    // re-rank must return them.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-tiecut").toString
    spark.range(0, 301)
      .select(col("id").as("vec_id"),
        expr(
          """transform(sequence(0, 63), c -> CAST((
            |    0.125 + (CASE WHEN id = 0 THEN 0.01
            |                  ELSE id * 0.000005 END)
            |      * (CASE WHEN c = 0 THEN 0.7071067811865476
            |              WHEN c = 1 THEN -0.7071067811865476
            |              ELSE 0.0 END)
            |  ) AS FLOAT))""".stripMargin).as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    for (tier <- Seq("s6_quantized_knn", "s18_binary_knn")) {
      val got = SparkEntry.queries(tier)(spark, dir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(got == (291L to 300L).toSet,
        s"$tier missed tied-at-the-boundary true neighbors: $got")
    }
  }

  /** The organic hot-cluster embedding corpus at spec scale — the
    * rehearsal generator's exact xxhash64 formulas (512 centers,
    * u³-skewed membership → center 0 holds ~12.5% of the corpus,
    * vector = center + 10% noise), so the dedup-first and conf-gate
    * pins below exercise the same duplicate-heavy geometry the ×50
    * flood-recall measurement did, at 2000 vectors.
    */
  private def writeOrganicEmbeddings(dir: String, n: Long): Unit =
    spark.range(0, n)
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
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def freshCaches(): Unit = {
    graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
    graft.queries.Similarity.clearTrainedCaches()
    spark.catalog.clearCache()
  }

  test("dedup-first ANN operator: keep-list parity with dd17's drop " +
    "rule, and the resolution-bound tiers' recall restored on the " +
    "hot-cluster corpus (round-12 recipe, first-class)") {
    import graft.queries.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dedupfirst").toString
    val outDir = s"$dir/deduped"
    try {
      writeOrganicEmbeddings(dir, 2000L)
      freshCaches()
      val nKept = Similarity.dedupFirstIndex(spark, dir, outDir)
      // parity: the operator's kept set IS dd17's keep-list — all ids
      // minus semDedupDrops over the same (conf-respecting) assignment
      val keptIds = spark.read.parquet(s"$outDir/embeddings.parquet")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(keptIds.size.toLong == nKept)
      val (assigned0, eCache) = Similarity.semDedupAssign(spark, dir)
      val assigned = assigned0.persist()
      val (dropsDf, caches) = graft.queries.Dedup
        .semDedupDrops(assigned, 1000L) // dedupFirstIndex's default cap
      val drops = dropsDf.select("vec_id").collect()
        .map(_.getLong(0)).toSet
      (Seq(assigned, eCache) ++ caches)
        .foreach(_.unpersist(blocking = false))
      assert(keptIds == ((0L until 2000L).toSet -- drops),
        s"operator keep-list diverged from dd17's drop rule " +
          s"(kept ${keptIds.size}, expected ${2000 - drops.size})")
      // the hot cluster must actually have been pruned, or the recall
      // leg below is vacuous
      assert(drops.size > 100,
        s"hot-cluster corpus barely deduped: ${drops.size} drops")
      // recall: the deduped corpus's own exact top-10 vs the quantized
      // tiers ON the deduped corpus — the r12 measured recipe (s6
      // 0.4→1.0, s18 0.1→0.9 at organic ×50)
      freshCaches()
      val exact = SparkEntry.queries("s1_knn_brute")(spark, outDir)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      for ((tier, floor) <- Seq("s6_quantized_knn" -> 0.9,
          "s18_binary_knn" -> 0.8)) {
        val got = SparkEntry.queries(tier)(spark, outDir)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        val recall = (exact intersect got).size.toDouble / exact.size
        assert(recall >= floor,
          s"$tier post-dedup recall $recall below floor $floor")
      }
    } finally {
      freshCaches()
      graft.util.Fs.rmTree(new java.io.File(dir))
    }
  }

  test("dd17 conf-gated hierarchical assignment: end-to-end under the " +
    "conf, conserving the corpus, agreeing with a manual hierarchical " +
    "replay; conf-off untouched (r12 ask #4)") {
    import graft.queries.Similarity
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dd17hier").toString
    try {
      writeOrganicEmbeddings(dir, 2000L)
      freshCaches()
      val off = SparkEntry.queries("dd17_semdedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      spark.conf.set(Similarity.SemDedupHierarchicalConf, "true")
      val (on, dumpOn) = try {
        freshCaches()
        (SparkEntry.queries("dd17_semdedup")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).toSet,
          graft.queries.Dedup.sideDumps("side_dd17_assign")(spark, dir)
            .select("vec_id", "cent_id").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap)
      } finally spark.conf.unset(Similarity.SemDedupHierarchicalConf)
      freshCaches()
      val offAgain = SparkEntry.queries("dd17_semdedup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(offAgain == off, "conf round-trip changed the default path")
      // both positions conserve the corpus: Σ n_vecs = N
      assert(off.toSeq.map(_._2).sum == 2000L)
      assert(on.toSeq.map(_._2).sum == 2000L,
        s"hierarchical dd17 lost vectors: ${on.toSeq.map(_._2).sum}")
      // the conf-on summary is exactly the drop rule over the conf-on
      // dump (the oracle's replay contract, checked engine-side): cells
      // and totals must line up with the dumped assignment
      val cellsFromDump = dumpOn.groupBy(_._2).view.mapValues(_.size).toMap
      val onCells = on.map(r => r._1 -> r._2).toMap
      assert(onCells == cellsFromDump.map { case (k, v) => k -> v.toLong },
        "conf-on summary cells diverge from the conf-on dump")
      // the two tiers agree on most assignments (the hierarchical
      // router is approximate ACROSS level-1 groups only; measured
      // agreement 0.755 at organic x400, and the spec fixture's hot
      // cluster concentrates mass on well-separated centers)
      freshCaches()
      val exactAssign = Similarity.semDedupAssign(spark, dir)
      val exactMap = exactAssign._1.select("vec_id", "cent_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      exactAssign._2.unpersist(blocking = false)
      val agree = dumpOn.count { case (v, c) => exactMap.get(v).contains(c) }
      assert(agree.toDouble / dumpOn.size >= 0.5,
        s"hierarchical/exact agreement collapsed: $agree of ${dumpOn.size}")
    } finally {
      spark.conf.unset(Similarity.SemDedupHierarchicalConf)
      freshCaches()
      graft.util.Fs.rmTree(new java.io.File(dir))
    }
  }

  test("dd2 packed pair-key variant is result-identical to the gated " +
    "two-long groupBy (r12 ask #7 spill knob)") {
    import graft.queries.Dedup
    def run(): Set[(Long, Long, Double)] = {
      graft.queries.QueryCache.clearMemo(Dedup.MemoKinds)
      val (p, _, caches) = Dedup.shingleJaccardPairsWithCaches(spark, sf)
      val out = p.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      caches.foreach(_.unpersist(blocking = false))
      out
    }
    val base = run()
    spark.conf.set(Dedup.Dd2PackPairsConf, "true")
    val packed = try run()
    finally spark.conf.unset(Dedup.Dd2PackPairsConf)
    assert(base.nonEmpty, "fixture produced no near-dup pairs")
    assert(packed == base,
      s"packed dd2 diverged: ${packed.size} vs ${base.size} pairs")
  }

  test("dd3 shuffle A/B variants emit the identical unique candidate " +
    "set: minimal-SURVIVING-band and packed-pair-key vs the gated " +
    "distinct (r12 ask #2)") {
    import spark.implicits._
    import graft.queries.Dedup
    import graft.functions.HashFunctions.lshBands
    import graft.operators.BucketCap
    // fixture: an 1100-doc flood bucket on band 0 (capped — floor is
    // 1000 and p99.9 of the rest is 1), inside which docs 5 and 6 ALSO
    // share band 3 (a 2-doc surviving bucket): their globally-minimal
    // shared band is the CAPPED one, so a naive minimal-band rule that
    // looks at pre-cap arrays would drop the pair — the surviving-band
    // rule emits it from band 3, matching the gated distinct. Docs
    // 2000/2001 share all 16 bands (the ×16 duplicate-emission case
    // the distinct/minimal machinery exists for).
    def sigOf(id: Long): Seq[Long] = {
      val base = Array.tabulate(32)(s => 1000000L + id * 100 + s)
      base(0) = 7L; base(1) = 7L
      if (id == 5 || id == 6) { base(6) = 42L; base(7) = 42L }
      base.toSeq
    }
    val sigs = ((0L until 1100L).map(id => (id, sigOf(id)))
      ++ Seq((2000L, Seq.fill(32)(9L)), (2001L, Seq.fill(32)(9L))))
      .toDF("doc_id", "sig")
    val banded = sigs.select(col("doc_id"),
      explode(lshBands(col("sig"), bands = 16, rows = 2)).as("band"))
      .persist()
    def pairsUnder(conf: Option[String]): (Set[(Long, Long)], Int) = {
      conf.foreach(c => spark.conf.set(c, "true"))
      try {
        val (capped, _, sizes) = BucketCap.capBucketsAdaptive(
          banded, Seq("band"), graft.queries.Dedup.LshBucketFloor)
        val out = Dedup.bandCandidatePairs(capped)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        sizes.unpersist(blocking = false)
        (out.toSet, out.length)
      } finally conf.foreach(spark.conf.unset)
    }
    try {
      val (base, nBase) = pairsUnder(None)
      val (minl, nMin) = pairsUnder(Some(Dedup.Dd3MinimalBandConf))
      val (packed, nPack) = pairsUnder(Some(Dedup.Dd3PackPairsConf))
      assert(base == Set((5L, 6L), (2000L, 2001L)),
        s"gated candidate set wrong: $base")
      assert(minl == base, s"minimal-band diverged: $minl")
      assert(packed == base, s"packed-pairs diverged: $packed")
      // every variant emits each pair exactly once
      assert(nBase == base.size && nMin == base.size && nPack == base.size,
        s"duplicate emissions: base $nBase, minimal $nMin, packed $nPack")
    } finally banded.unpersist(blocking = false)
  }

  test("hierarchical assignment totality under degenerate anchors: " +
    "vectors routed to a cell-less group fall back to exact argmax " +
    "(ADVICE r11)") {
    import spark.implicits._
    import graft.queries.Similarity
    // stride 2, n = 8: cells = even ids {0,2,4,6}; g = ceil(√4) = 2, so
    // level-1 groups anchor at ids % 4 == 0 → groups 0 and 4. Anchor 4
    // is the ZERO vector: every cell's routing dot against it is 0, so
    // every cell (4's own anchor cell included) ties to grp 0 — group 4
    // routes ZERO cells. Vectors 1 and 3 score dot −1 against grp 0's
    // anchor and 0 against grp 4's, so they route (strictly) to grp 4:
    // before the fix they vanished through the inner grp_id join; the
    // left-join fallback assigns them to their routed group's own
    // anchor CELL (grp 4 — a stride multiple, hence a real cell).
    val units: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(1.0, 0.0), 1L -> Seq(-1.0, 0.0), 2L -> Seq(0.0, 1.0),
      3L -> Seq(-1.0, 0.0), 4L -> Seq(0.0, 0.0), 5L -> Seq(0.5, 0.5),
      6L -> Seq(0.0, 1.0), 7L -> Seq(1.0, 0.0))
    val e = units.toDF("vec_id", "unit")
    val got = Similarity.assignFromUnitsHierarchical(e, 8L, stride = 2L)
      .select("vec_id", "cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == units.map(_._1).toSet,
      s"hierarchical assignment lost vectors: got ${got.keySet}")
    // orphans land on their routed group's anchor cell — a real cell,
    // deterministically (for vec 1's unit, cells {2,4,6} all score 0,
    // so the anchor is as good as the exact argmax here)
    assert(got(1L) == 4L && got(3L) == 4L,
      s"orphan fallback off the routed anchor cell: ${got(1L)}, ${got(3L)}")
    val cellIds = Set(0L, 2L, 4L, 6L)
    assert(got.values.forall(cellIds), s"assigned to a non-cell: $got")
  }
}
