package graft

import org.apache.spark.sql.functions._
import graft.source.ArtifactStore

/** The trained-artifact persistence seam (VERDICT r8 ask #1): store
  * mechanics (versioning, commit marker, manifest round-trip, params
  * gating) plus, for each of the four trained artifacts, the
  * store→load→serve == in-session pin — a cold session pointed at the
  * store must answer the gated query bit-identically to the session
  * that trained.
  */
class ArtifactStoreSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-artifacts").toString

  private def withStore[A](root: String)(body: => A): A = {
    spark.conf.set(ArtifactStore.DirKey, root)
    try body finally spark.conf.unset(ArtifactStore.DirKey)
  }

  private def collectSorted(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq

  test("save/load round-trips data, bumps versions, pins the manifest") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq((1L, Seq(0.5, 0.25)), (2L, Seq(-0.125, 1.0)))
      .toDF("id", "vec")
    val v1 = ArtifactStore.save(df, root, "toy", Map("k" -> "2"))
    assert(v1 == 1)
    val v2 = ArtifactStore.save(df.filter($"id" === 1L), root, "toy",
      Map("k" -> "3"))
    assert(v2 == 2)
    assert(ArtifactStore.versions(spark, root, "toy") == Seq(1, 2))
    // latest wins; manifest carries schema + rows + params exactly
    val (loaded, m) = ArtifactStore.loadLatest(spark, root, "toy").get
    assert(m == ArtifactStore.Manifest("toy", 2, 1L,
      df.schema.toDDL, Map("k" -> "3")))
    assert(loaded.collect().map(_.toString).toSeq ==
      df.filter($"id" === 1L).collect().map(_.toString).toSeq)
    // params gate: a stale build (k=2 era) must NOT serve a k=3 caller
    assert(ArtifactStore.loadLatestMatching(spark, root, "toy",
      Map("k" -> "3")).isDefined)
    assert(ArtifactStore.loadLatestMatching(spark, root, "toy",
      Map("k" -> "4")).isEmpty)
    assert(ArtifactStore.loadLatestMatching(spark, root, "missing",
      Map.empty).isEmpty)
  }

  test("a version without a manifest is uncommitted: invisible, then reclaimed") {
    import spark.implicits._
    val root = freshRoot()
    ArtifactStore.save(Seq((1L, 2L)).toDF("a", "b"), root, "cm", Map.empty)
    // simulate a crashed writer: data for v2 present, manifest missing
    val debris = new java.io.File(s"$root/cm/v=00002/data")
    assert(debris.mkdirs())
    java.nio.file.Files.write(debris.toPath.resolve("junk"), Array[Byte](1))
    assert(ArtifactStore.versions(spark, root, "cm") == Seq(1))
    assert(ArtifactStore.loadLatest(spark, root, "cm").get._2.version == 1)
    // the next save claims v2, clearing the debris first
    val v = ArtifactStore.save(Seq((3L, 4L)).toDF("a", "b"), root, "cm",
      Map.empty)
    assert(v == 2)
    assert(ArtifactStore.loadLatest(spark, root, "cm").get._1
      .collect().map(_.toString).toSeq == Seq("[3,4]"))
  }

  test("a committed version is never clobbered by a racing writer") {
    import spark.implicits._
    val root = freshRoot()
    ArtifactStore.save(Seq((1L, 1L)).toDF("a", "b"), root, "race", Map.empty)
    // simulate the race: v2 was COMMITTED by another writer between this
    // writer's listing and its write — drop a full committed v2 in place
    val v2 = new java.io.File(s"$root/race/v=00002")
    assert(new java.io.File(v2, "data").mkdirs())
    java.nio.file.Files.write(v2.toPath.resolve("MANIFEST.json"),
      ("""{"name": "race", "version": 2, "rows": 0, """ +
        """"schema": "a BIGINT", "params": {}}""").getBytes)
    // this save must land on v3, leaving the committed v2 intact
    val v = ArtifactStore.save(Seq((3L, 3L)).toDF("a", "b"), root, "race",
      Map.empty)
    assert(v == 3, s"racing save clobbered or skipped wrong: landed v$v")
    assert(ArtifactStore.versions(spark, root, "race") == Seq(1, 2, 3))
    assert(java.nio.file.Files.exists(v2.toPath.resolve("MANIFEST.json")),
      "the committed v2 manifest was destroyed")
  }

  test("loadOrSave builds only without a matching committed version") {
    import spark.implicits._
    var builds = 0
    def build(id: Long) = { builds += 1; Seq((id, 0.5)).toDF("id", "w") }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSeq
    // store unset: the build serves and nothing is written
    val unused = freshRoot()
    assert(rows(ArtifactStore.loadOrSave(spark, "los", Map("k" -> "1"))(
      build(1L))) == Seq("[1,0.5]"))
    assert(builds == 1 && new java.io.File(unused).list().isEmpty)
    // empty root: one build, saved as v1
    val root = freshRoot()
    withStore(root)(ArtifactStore.loadOrSave(spark, "los",
      Map("k" -> "1"))(build(1L)))
    assert(builds == 2)
    assert(ArtifactStore.versions(spark, root, "los") == Seq(1))
    // matching params: no build, the saved rows serve
    assert(rows(withStore(root)(ArtifactStore.loadOrSave(spark, "los",
      Map("k" -> "1"))(build(9L)))) == Seq("[1,0.5]"))
    assert(builds == 2, "a matching committed version was rebuilt")
    // mismatched params: a build, saved as v2
    assert(rows(withStore(root)(ArtifactStore.loadOrSave(spark, "los",
      Map("k" -> "2"))(build(2L)))) == Seq("[2,0.5]"))
    assert(builds == 3)
    assert(ArtifactStore.versions(spark, root, "los") == Seq(1, 2))
  }

  test("manifest escaping survives hostile param values") {
    val raw = ArtifactStore.parseManifest(
      """{"name": "x", "version": 3, "rows": 7, """ +
        """"schema": "a BIGINT", "params": {"q": "a\"b\\c\nd"}}""")
    assert(raw.contains(ArtifactStore.Manifest("x", 3, 7, "a BIGINT",
      Map("q" -> "a\"b\\c\nd"))))
  }

  test("s9 centroids: store→load→serve == in-session train") {
    val root = freshRoot()
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
    val trained = withStore(root)(collectSorted("s9_ivf_trained"))
    assert(ArtifactStore.versions(spark, root,
      graft.queries.Similarity.CentroidArtifact) == Seq(1))
    // cold "session": memo cleared, so the query can only answer from
    // the stored artifact — and must answer identically
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
    val served = withStore(root)(collectSorted("s9_ivf_trained"))
    assert(served == trained, "served-from-artifact s9 diverges")
    // no retrain happened: still exactly one version. (No storeless
    // retrain comparison here: Lloyd's float accumulation order is
    // partition-dependent by design — the artifact is what makes the
    // centroids stable ACROSS sessions, which is exactly the pin above.)
    assert(ArtifactStore.versions(spark, root,
      graft.queries.Similarity.CentroidArtifact) == Seq(1))
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
  }

  test("s8/s17 PQ codebook: store→load→serve == in-session derivation") {
    val root = freshRoot()
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
    val built = withStore(root)(
      (collectSorted("s8_pq_knn"), collectSorted("s17_ivfpq_knn")))
    assert(ArtifactStore.versions(spark, root,
      graft.queries.Similarity.PqCodebookArtifact).nonEmpty)
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
    val served = withStore(root)(
      (collectSorted("s8_pq_knn"), collectSorted("s17_ivfpq_knn")))
    assert(served == built, "served-from-artifact s8/s17 diverge")
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
    val storeless = (collectSorted("s8_pq_knn"), collectSorted("s17_ivfpq_knn"))
    assert(storeless == built, "artifact path diverges from storeless path")
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
  }

  test("t28/t30 BPE merges: store→load→serve == in-session train") {
    val root = freshRoot()
    graft.queries.QueryCache.clearMemo(Set(graft.queries.Text.BpeKind.name))
    val trained = withStore(root)(
      (collectSorted("t28_bpe_train"), collectSorted("t30_bpe_apply")))
    assert(ArtifactStore.versions(spark, root,
      graft.queries.Text.BpeArtifact) == Seq(1))
    graft.queries.QueryCache.clearMemo(Set(graft.queries.Text.BpeKind.name))
    val served = withStore(root)(
      (collectSorted("t28_bpe_train"), collectSorted("t30_bpe_apply")))
    assert(served == trained, "served-from-artifact t28/t30 diverge")
    assert(ArtifactStore.versions(spark, root,
      graft.queries.Text.BpeArtifact) == Seq(1), "load path retrained")
    graft.queries.QueryCache.clearMemo(Set(graft.queries.Text.BpeKind.name))
    assert((collectSorted("t28_bpe_train"), collectSorted("t30_bpe_apply"))
      == trained)
    graft.queries.QueryCache.clearMemo(Set(graft.queries.Text.BpeKind.name))
  }

  test("t28/t30 BPE merges: one root shared by two corpora serves each " +
    "its own merges") {
    def bpe(dir: String): Seq[Seq[String]] =
      Seq("t28_bpe_train", "t30_bpe_apply").map(q => SparkEntry.queries(q)(
        spark, dir).collect().map(_.toString).sorted.toSeq)
    val big = new java.io.File(sf).getParent + "/sf0.01"
    graft.queries.QueryCache.clearMemo(Set(graft.queries.Text.BpeKind.name))
    val storeless = bpe(big)
    graft.queries.QueryCache.clearMemo(Set(graft.queries.Text.BpeKind.name))
    val root = freshRoot()
    val served = withStore(root) { bpe(sf); bpe(big) }
    assert(served == storeless,
      "the second corpus was served the first corpus's merges")
    assert(ArtifactStore.versions(spark, root,
      graft.queries.Text.BpeArtifact) == Seq(1, 2))
    graft.queries.QueryCache.clearMemo(Set(graft.queries.Text.BpeKind.name))
  }

  test("streamed IVF assignment serves from the stored centroid artifact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.VectorFunctions.normalized
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
    // train + persist the quantizer through the gated s9 path
    withStore(root)(collectSorted("s9_ivf_trained"))
    // the streaming maintainer loads the ARTIFACT — no retraining, no
    // session memo: index build → store → stream-serve end-to-end
    val cents = ArtifactStore.loadLatest(spark, root,
        graft.queries.Similarity.CentroidArtifact).get._1
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq.sortBy(_._1)
    assert(cents.size == 8)
    val rows = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    // static truth: the same k-means-objective assignment over the
    // loaded centroids (the s9 scoring form)
    val units = Tables.spread(Tables.embeddings(spark, sf))
      .select(col("vec_id"), normalized(col("embedding")).as("unit"))
    val statics = graft.streaming.VectorStream
      .assignAgainst(units, cents)
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.VectorStream.assignAgainst(
        mem.toDS().toDF("vec_id", "embedding")
          .withColumn("unit", normalized(col("embedding"))), cents)
      .select("vec_id", "cent_id")
      .writeStream.format("memory").queryName("art_assign_stream")
      .outputMode("append").start()
    try {
      rows.grouped((rows.size + 2) / 3).foreach { c =>
        mem.addData(c: _*); q.processAllAvailable()
      }
      val streamed = spark.table("art_assign_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == statics,
        "streamed artifact-fed assignment diverges from static")
      assert(streamed.map(_._2).size > 1, "single-cell fixture — vacuous")
    } finally q.stop()
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
  }

  test("t29 weights: store→load→serve == in-session formula") {
    val root = freshRoot()
    val baseline = collectSorted("t29_quality_score")
    val stored = withStore(root)(collectSorted("t29_quality_score"))
    assert(ArtifactStore.versions(spark, root,
      graft.queries.Text.QualityWeightsArtifact) == Seq(1))
    val served = withStore(root)(collectSorted("t29_quality_score"))
    assert(stored == baseline && served == baseline,
      "t29 artifact path diverges from the in-repo weights")
    // the registry seam is real: ship DIFFERENT weights as v2 and the
    // served scores must change (inference reads the store, not the
    // formula)
    import spark.implicits._
    val flat = (0 until 512).map(j => (j, 1.0 / 1024)).toDF("bucket", "w")
    ArtifactStore.save(flat, root,
      graft.queries.Text.QualityWeightsArtifact,
      graft.queries.Text.QualityWeightsParams)
    val reshipped = withStore(root)(collectSorted("t29_quality_score"))
    assert(reshipped != baseline,
      "a re-shipped weight version did not reach inference")
  }
}
