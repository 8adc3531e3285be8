package graft

import org.apache.spark.sql.functions._
import graft.queries.Serving

/** The driver-tier ANN point-lookup (VERDICT r8 ask #5): serving must
  * answer EXACTLY what the hash-gated batch pipeline answers — same
  * ids, bit-identical doubles — and do it at single-probe latency with
  * no Spark job on the hot path.
  */
class ServingSpec extends SparkSuite {

  private def emb(sf: String, id: Long): Array[Float] =
    Tables.embeddings(spark, sf).filter(col("vec_id") === id)
      .select("embedding").head().getSeq[Float](0).toArray

  private def s17Rows(sf: String): Seq[(Long, Double)] =
    SparkEntry.queries("s17_ivfpq_knn")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("serve == s17's gated answer, bit-identical (sf0.001 and sf0.01)") {
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val batch = s17Rows(sf)
      val served = Serving.serve(spark, sf, emb(sf, 0L), k = 10,
        excludeId = 0L)
      assert(served == batch, s"serving diverges from s17 at $sf")
    }
  }

  test("serving tier answers without a Spark job, at point-lookup latency") {
    val sf = "/root/testdata/sf0.001"
    val q = emb(sf, 0L)
    Serving.serve(spark, sf, q, k = 10, excludeId = 0L) // build index
    // the hot path must schedule NO job — a listener would be racy, so
    // pin the cheap proxy: 200 serves complete in well under a second
    // total, which no local[4] job-per-query loop could (each Spark job
    // costs ~10-50 ms of scheduling alone)
    val queries = (0 until 200).map { i =>
      q.zipWithIndex.map { case (x, j) => x + ((i * 31 + j) % 7 - 3) * 1e-3f }
    }
    val t0 = System.nanoTime()
    val rs = queries.map(v => Serving.serve(spark, sf, v, k = 10))
    val perQueryMs = (System.nanoTime() - t0) / 1e6 / queries.size
    assert(rs.forall(r => r.size == 10 &&
      r.sliding(2).forall(p => p.head._2 >= p.last._2)))
    assert(perQueryMs < 5.0,
      f"point lookup took $perQueryMs%.2f ms/query — not driver-tier")
    info(f"serving latency: $perQueryMs%.3f ms/query over 200 queries")
  }

  test("a reshipped codebook version reaches batch s17 and a refreshed server identically") {
    import graft.source.ArtifactStore
    import org.apache.spark.sql.functions.{expr, lit, when}
    val sf = "/root/testdata/sf0.001"
    val root = java.nio.file.Files
      .createTempDirectory("graft-serve-art").toString
    spark.conf.set(ArtifactStore.DirKey, root)
    try {
      graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds +
        Serving.IndexKind.name)
      // v1: first gated run derives + persists the codebook; serving
      // parity against it
      assert(Serving.serve(spark, sf, emb(sf, 0L), k = 10,
        excludeId = 0L) == s17Rows(sf))
      val cbName = graft.queries.Similarity.PqCodebookArtifact
      assert(ArtifactStore.versions(spark, root, cbName) == Seq(1))
      // reship v2 with ALTERED entries (subspace 0 doubled) under the
      // same params — the model-registry update path
      val (v1, _) = ArtifactStore.loadLatest(spark, root, cbName).get
      val v2 = v1.withColumn("cvec",
        when(expr("m = 0"), expr("transform(cvec, x -> x * 2.0)"))
          .otherwise(expr("cvec")))
      ArtifactStore.save(v2, root, cbName,
        graft.queries.Similarity.pqParams(spark, sf))
      assert(ArtifactStore.versions(spark, root, cbName) == Seq(1, 2))
      // a refreshed server and a cold batch run must agree ON V2 —
      // neither side may keep serving the stale build
      graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds)
      Serving.refresh(sf)
      assert(Serving.serve(spark, sf, emb(sf, 0L), k = 10,
        excludeId = 0L) == s17Rows(sf),
        "serving and batch diverge after the codebook reship")
    } finally {
      spark.conf.unset(ArtifactStore.DirKey)
      graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds +
        Serving.IndexKind.name)
    }
  }

  test("serveExact == s1's gated answer (ids exact, cosines at oracle tolerance)") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("s1_knn_brute")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val served = Serving.serveExact(spark, sf, emb(sf, 0L), k = 10,
      excludeId = 0L)
    assert(served.map(_._1) == batch.map(_._1),
      "exact-serving id ranking diverges from s1")
    served.zip(batch).foreach { case ((_, c1), (_, c2)) =>
      assert(math.abs(c1 - c2) < 1e-9, s"cosine drift $c1 vs $c2")
    }
    // the approximate tier's online-recall check a deployment would run
    val approx = Serving.serve(spark, sf, emb(sf, 0L), k = 10,
      excludeId = 0L)
    val recall = (approx.map(_._1).toSet & batch.map(_._1).toSet).size / 10.0
    assert(recall >= 0.5, s"ivfpq online recall $recall vs exact server")
  }

  test("index persistence: a cold server answers from files alone, == s17") {
    val sf = "/root/testdata/sf0.001"
    val path = java.nio.file.Files
      .createTempDirectory("graft-serve-index").toString
    val batch = s17Rows(sf)
    Serving.persistIndex(spark, sf, path)
    // the shipped layout is cell-partitioned — a serving shard maps its
    // probe list to directories
    val cellDirs = new java.io.File(path, "cells").list()
    assert(cellDirs != null && cellDirs.exists(_.startsWith("cent_id=")),
      s"cells are not partitioned by cent_id: ${cellDirs.mkString(",")}")
    // cold start: wipe every in-memory trace, rebuild from files only
    graft.queries.QueryCache.clearMemo(graft.queries.Similarity.MemoKinds +
      Serving.IndexKind.name)
    Serving.loadIndexInto(spark, sf, path)
    val served = Serving.serve(spark, sf, emb(sf, 0L), k = 10,
      excludeId = 0L)
    assert(served == batch,
      "cold-started (files-only) serving diverges from s17")
    graft.queries.QueryCache.clearMemo(Set(Serving.IndexKind.name))
  }

  test("refresh forgets the corpus count; index geometry travels as " +
    "metadata, never re-derived from loaded rows (ADVICE r11)") {
    import spark.implicits._
    import graft.queries.Similarity
    // an in-place corpus change: same dir, different vector count. The
    // stride every quantizer hangs off derives from the memoized count,
    // so a refresh that dropped only the index cache would rebuild at
    // the STALE stride — assignment and centroid extraction diverging
    // is the silent-empty-serve failure this pins against.
    val dir = java.nio.file.Files
      .createTempDirectory("graft-serve-refresh").toString
    // no artifact store for this fixture: its corpus changes in place
    // under one dir, and the codebook params pin the corpus by dir, so
    // a store left configured by another test would serve the first
    // corpus's codebook to the second
    val prevRoot =
      spark.conf.getOption(graft.source.ArtifactStore.DirKey)
    spark.conf.unset(graft.source.ArtifactStore.DirKey)
    def writeCorpus(n: Int): Unit =
      (0 until n).map(i => (i.toLong,
          Seq.tabulate(64)(j => (1.0f + i % 7 + j) / (n + j + 1))))
        .toDF("vec_id", "embedding")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    try {
    writeCorpus(100)
    assert(Similarity.corpusVecs(spark, dir) == 100L) // memo warm
    writeCorpus(250) // in-place change
    assert(Similarity.corpusVecs(spark, dir) == 100L,
      "memo expected stale before refresh — fixture broken")
    Serving.refresh(dir)
    assert(Similarity.corpusVecs(spark, dir) == 250L,
      "Serving.refresh did not forget the corpus count")
    // the serving build and the assignment now agree on the fresh
    // geometry: cents = every ivfStride-th of the NEW corpus
    val expectCents = (0 until 250).count(_ % 53 == 0)
    assert(Serving.centCount(spark, dir) == expectCents,
      "rebuilt index centroids off the refreshed stride")
    } finally {
      graft.queries.QueryCache.clearMemo(Set(Serving.IndexKind.name))
      graft.queries.QueryCache.forget(dir, Set(Similarity.CorpusVecsKind.name))
      prevRoot.foreach(
        spark.conf.set(graft.source.ArtifactStore.DirKey, _))
    }
  }

  test("persistIndex pins geometry in INDEX_META.json; loadIndexInto " +
    "refuses a layout without it or with inconsistent cells") {
    val sf = "/root/testdata/sf0.001"
    val path = java.nio.file.Files
      .createTempDirectory("graft-serve-meta").toString
    Serving.persistIndex(spark, sf, path)
    val metaFile = new java.io.File(path, "INDEX_META.json")
    assert(metaFile.isFile, "persistIndex wrote no INDEX_META.json")
    val raw = new String(
      java.nio.file.Files.readAllBytes(metaFile.toPath))
    val n = Tables.embeddings(spark, sf).count()
    assert(raw.contains(s""""corpusN": $n""") &&
      raw.contains(""""ivfStride": 53"""),
      s"metadata off the build geometry: $raw")
    // a meta-less layout (pre-metadata persist, or a hand-rolled dir)
    // must fail LOUDLY, not silently re-derive a stride. (The local
    // Hadoop FS shadows the file with a .crc — drop it too, or the
    // hand-edited rewrite below trips a ChecksumException instead of
    // the contract under test.)
    assert(metaFile.delete())
    new java.io.File(path, ".INDEX_META.json.crc").delete()
    val err = intercept[IllegalArgumentException] {
      Serving.loadIndexInto(spark, sf, path)
    }
    assert(err.getMessage.contains("INDEX_META"), err.getMessage)
    // declared-vs-loaded inconsistency (cells from one build, meta from
    // another) also fails loudly
    java.nio.file.Files.writeString(metaFile.toPath,
      s"""{"corpusN": ${n + 1}, "ivfStride": 53}""")
    val err2 = intercept[IllegalArgumentException] {
      Serving.loadIndexInto(spark, sf, path)
    }
    assert(err2.getMessage.contains("inconsistent"), err2.getMessage)
    graft.queries.QueryCache.clearMemo(Set(Serving.IndexKind.name))
  }

  test("knobs: k/nprobe/shortlist bound the work; excludeId drops self") {
    val sf = "/root/testdata/sf0.001"
    val q = emb(sf, 0L)
    val top3 = Serving.serve(spark, sf, q, k = 3, excludeId = 0L)
    assert(top3 == Serving.serve(spark, sf, q, k = 10,
      excludeId = 0L).take(3))
    // without exclusion the query's own vector wins at cos ~ 1
    val self = Serving.serve(spark, sf, q, k = 1)
    assert(self.head._1 == 0L && math.abs(self.head._2 - 1.0) < 1e-12)
    // a wider probe can only add candidates, never lose the exact hits
    val wide = Serving.serve(spark, sf, q, k = 10, nprobe = 8,
      shortlist = 1000, excludeId = 0L)
    assert(wide.size == 10)
  }

  test("geo radius serving == q72's gated answer, bit-identical; " +
    "driver-tier latency") {
    import graft.queries.GeoServing
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      GeoServing.refresh(sf) // reload-on-reship hook: force a cold build
      val batch = SparkEntry.queries("q72_geo_radius")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val served = GeoServing.serveRadius(spark, sf,
        lon0 = 10.037, lat0 = 50.071, rMeters = 500000.0, k = 20)
      // same ids, BIT-identical doubles: the serving haversine runs
      // q72's expression tree in q72's IEEE order on the same JVM
      assert(served == batch, s"geo serving diverges from q72 at $sf:\n" +
        s"served=$served\nbatch=$batch")
    }
    // latency: the index is built; probes across the globe answer with
    // no Spark job on the hot path (same proxy bound as the ANN tier)
    val sf = "/root/testdata/sf0.01"
    val probes = (0 until 200).map(i =>
      (((i * 97) % 3600) / 10.0 - 180.0 + 0.037,
        ((i * 131) % 1500) / 10.0 - 75.0 + 0.071))
    val t0 = System.nanoTime()
    val rs = probes.map { case (lo, la) =>
      GeoServing.serveRadius(spark, sf, lo, la, 300000.0, k = 20)
    }
    val perQueryMs = (System.nanoTime() - t0) / 1e6 / probes.size
    assert(rs.forall(r =>
      r.sliding(2).forall(p => p.size < 2 || p.head._2 <= p.last._2)))
    assert(perQueryMs < 5.0,
      f"geo lookup took $perQueryMs%.2f ms/query — not driver-tier")
    info(f"geo serving latency: $perQueryMs%.3f ms/query over 200 probes")
  }

  test("geo server cold-starts from the persisted cell layout == q72") {
    import graft.queries.GeoServing
    val sf = "/root/testdata/sf0.001"
    val path = java.nio.file.Files
      .createTempDirectory("graft-geo-index").toString
    GeoServing.persistIndex(spark, sf, path)
    // cold-start: the index comes from the cell-partitioned files
    // alone — parity against the hash-gated batch frame still holds
    GeoServing.refresh(sf)
    GeoServing.loadIndexInto(spark, sf, path)
    val served = GeoServing.serveRadius(spark, sf,
      lon0 = 10.037, lat0 = 50.071, rMeters = 500000.0, k = 20)
    val batch = SparkEntry.queries("q72_geo_radius")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == batch, "cold-started geo server diverges from q72")
    // the layout is genuinely cell-partitioned (directory per cell)
    val dirs = new java.io.File(path).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("clon="))
    assert(dirs > 10, s"expected cell-partitioned layout, got $dirs dirs")
    graft.util.Fs.rmTree(new java.io.File(path))
  }

  test("serving is thread-safe under 32-way load: answers identical to " +
    "single-threaded, cold-start race included, p99 recorded") {
    import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
    import graft.queries.GeoServing
    val sf = "/root/testdata/sf0.001"
    // the built index is immutable (arrays/maps written once at build,
    // TrieMap-published); a retrieval pipeline hammers it from many
    // threads — VERDICT r10 ask #6. Reference answers single-threaded:
    val probes = (0L until 16L).map(i => (i, emb(sf, i)))
    val want = probes.map { case (i, v) =>
      Serving.serve(spark, sf, v, k = 10, excludeId = i) }
    val geoProbes = (0 until 8).map(i => (10.0 + i * 3.7, 20.0 + i * 5.1))
    val geoWant = geoProbes.map { case (lon, lat) =>
      GeoServing.serveRadius(spark, sf, lon, lat, rMeters = 500000.0, k = 20)
    }
    val pool = Executors.newFixedThreadPool(32)
    val failures = new ConcurrentLinkedQueue[String]()
    // phase 1 — COLD-start race: all 32 threads hit an empty index cache
    // at once. TrieMap.getOrElseUpdate may build more than once, but the
    // build is idempotent and publication is safe, so every thread must
    // still answer exactly the single-threaded reference. (Latency is
    // NOT measured here: a racing thread pays the index build.)
    graft.queries.QueryCache.clearMemo(Set(Serving.IndexKind.name))
    val cold = (0 until 32).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val k = t % probes.size
          val got = Serving.serve(spark, sf, probes(k)._2, k = 10,
            excludeId = probes(k)._1)
          if (got != want(k)) failures.add(s"cold thread $t diverged")
        }
      })
    }
    cold.foreach(_.get(180, TimeUnit.SECONDS))
    assert(failures.isEmpty, s"cold-start race diverged: " +
      failures.toArray.take(3).mkString("; "))
    // phase 2 — warm 32-way load: the built, immutable index under
    // concurrent probes; per-call latency recorded
    val latenciesNs = new ConcurrentLinkedQueue[java.lang.Long]()
    val tasks = (0 until 32).map { t =>
      pool.submit(new Runnable {
        def run(): Unit = (0 until 20).foreach { r =>
          val k = (t * 20 + r) % probes.size
          val t0 = System.nanoTime()
          val got = Serving.serve(spark, sf, probes(k)._2, k = 10,
            excludeId = probes(k)._1)
          latenciesNs.add(System.nanoTime() - t0)
          if (got != want(k))
            failures.add(s"thread $t probe $k diverged")
          val g = k % geoProbes.size
          val geo = GeoServing.serveRadius(spark, sf,
            geoProbes(g)._1, geoProbes(g)._2, rMeters = 500000.0, k = 20)
          if (geo != geoWant(g))
            failures.add(s"thread $t geo probe $g diverged")
        }
      })
    }
    tasks.foreach(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(failures.isEmpty, s"concurrent serving diverged: " +
      failures.toArray.take(3).mkString("; "))
    import scala.jdk.CollectionConverters._
    val sorted = latenciesNs.asScala.map(_.toLong).toSeq.sorted
    assert(sorted.size == 32 * 20)
    val p50 = sorted(sorted.size / 2) / 1e6
    val p99 = sorted((sorted.size * 99) / 100 - 1) / 1e6
    // loose ceiling only (wall-clock on a shared box); the recorded
    // number goes to BASELINE.md
    assert(p99 < 250.0, f"p99 $p99%.2f ms under 32-way load")
    info(f"32-thread serving: p50 $p50%.3f ms, p99 $p99%.3f ms " +
      f"over ${sorted.size} ANN probes (geo probes interleaved)")
  }

  test("dedupFirstIndex -> Serving end-to-end: the deduped engine-native " +
    "layout serves bit-identically to the gated batch queries, incl. the " +
    "files-only cold start through INDEX_META (r13 VERDICT ask #6)") {
    import graft.queries.Similarity
    val sf = "/root/testdata/sf0.001"
    val out = java.nio.file.Files
      .createTempDirectory("graft-dedupserve").toString
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-dedupserve-idx").toString
    def freshAll(): Unit = {
      graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds ++
        Similarity.MemoKinds + Serving.IndexKind.name)
      spark.catalog.clearCache()
    }
    try {
      val nKept = Similarity.dedupFirstIndex(spark, sf, out)
      assert(nKept > 0 && nKept <= 500, s"implausible kept count $nKept")
      // the production recipe in one breath: dedup-first layout, gated
      // batch answer on it, then the serving tier over the SAME dir
      freshAll()
      val batch = s17Rows(out)
      assert(batch.size == 10)
      val served = Serving.serve(spark, out, emb(out, 0L), k = 10,
        excludeId = 0L)
      assert(served == batch,
        "serving over dedupFirstIndex's layout diverges from the gated s17")
      // cold start: persist the index, wipe every in-memory trace, and
      // answer from files alone — INDEX_META geometry must survive the
      // deduped (non-contiguous vec_id) corpus
      Serving.persistIndex(spark, out, idxPath)
      freshAll()
      Serving.loadIndexInto(spark, out, idxPath)
      val cold = Serving.serve(spark, out, emb(out, 0L), k = 10,
        excludeId = 0L)
      assert(cold == batch,
        "cold-started serving over the deduped layout diverges")
    } finally {
      freshAll()
      graft.util.Fs.rmTree(new java.io.File(out))
      graft.util.Fs.rmTree(new java.io.File(idxPath))
    }
  }
}
