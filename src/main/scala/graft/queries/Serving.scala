package graft.queries

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-tier point-lookup serving for the ANN family (VERDICT r8 ask
  * #5): the s-queries answer BATCH frames — one Spark job scoring a
  * corpus — but a production retrieval pipeline also needs single-probe
  * latency: one query vector in, top-k out, with no Spark job on the
  * hot path. [[serve]] is that tier, running s17's exact IVF-PQ
  * pipeline (probe → probed cells → ADC scan → top-`shortlist` →
  * exact re-rank) as plain driver Scala over an index built ONCE per
  * corpus.
  *
  * What the index holds, and what each piece is at 100 TB:
  *   - coarse centroids + PQ codebook: the trained artifacts
  *     ([[Similarity.pqCodebookDf]] — loaded from the
  *     [[graft.source.ArtifactStore]] when one is configured, exactly
  *     the build-once/serve-many seam);
  *   - per-cell member codes (8 B of PQ codes per vector): the IVF
  *     inverted lists — the part a FAISS-style server genuinely holds
  *     in RAM (1 GB per ~10⁸ vectors); at 100 TB these live as
  *     cell-partitioned parquet and a server maps only its shard;
  *   - the re-rank store (vec_id → unit vector): stands in for the
  *     point-lookup KV/vector store a deployment refines from; only
  *     `shortlist` rows are ever read per query.
  *
  * The driver copy of all four is BOUNDED at the test SFs (thousands
  * of vectors) and the build is one collect over frames the batch
  * queries already certify — so ServingSpec can pin the serving answer
  * EQUAL to s17's hash-gated frame: same probe list, same ADC
  * arithmetic (ascending-index folds match the codegen DotProduct),
  * same tie-breaks, bit-identical doubles.
  */
object Serving {

  import Similarity.{PqM, PqD}

  private[graft] final case class Index(
      cents: Array[(Long, Array[Double])],
      cells: Map[Long, Array[(Long, Array[Long])]],
      codebook: IndexedSeq[Map[Long, Array[Double]]],
      refine: Map[Long, Array[Double]])

  /** The built index, held per corpus dir in the session memo. */
  private[graft] val IndexKind = new QueryCache.Kind[Index]("serving_index")

  /** Drop `dir`'s built index so the next [[serve]] rebuilds — the hook
    * a serving process calls when notified of a new artifact version
    * (the ArtifactStore seam: the store is append-only versions, so
    * "reload" is just "rebuild from latest"). Deliberately explicit
    * rather than a per-query version probe: a store listing on the hot
    * path would cost more than the serve itself. ServingSpec pins that
    * a reshipped codebook version reaches batch s17 and a refreshed
    * server identically.
    */
  def refresh(dir: String): Unit =
    // the rebuild must re-COUNT the corpus too (ADVICE r11): a refresh
    // after an in-place corpus change with a live corpus count would
    // rebuild the whole index at the STALE stride — assignment and
    // centroid extraction would then disagree with any later consumer
    // deriving the stride from the fresh count
    QueryCache.forget(dir,
      Set(IndexKind.name, Similarity.CorpusVecsKind.name))

  /** Build (or reuse) the serving index for `dir`. One Spark pass:
    * the assignment frame joined to the PQ codes, plus the codebook
    * (artifact-aware). Build cost is the INDEX build every ANN system
    * pays once — never on the query path.
    */
  private def index(s: SparkSession, dir: String): Index =
    QueryCache.held(dir, IndexKind) {
      val (assigned0, eCache) = Similarity.ivfAssign(s, dir)
      val codes = Similarity.pqBase(s, dir)
        .select(col("vec_id"), col("codes"))
      val rows = assigned0
        .join(codes, "vec_id")
        .select("vec_id", "cent_id", "unit", "codes")
        .collect()
      eCache.unpersist(blocking = false)
      val cb = Similarity.pqCodebookDf(s, dir).collect()
      // the SAME held count ivfAssign's stride derivation used — NOT
      // re-derived from rows.length (ADVICE r11: after an in-place
      // corpus change with a stale count, ivfAssign builds at the stale
      // stride while rows.length counts the new data, so the extracted
      // "centroids" would not be the assignment's cent_ids and serve()
      // would silently probe empty cells)
      buildIndex(rows, cb, Similarity.ivfStride(s, dir))
    }

  /** The in-memory index from collected `(vec_id, cent_id, unit, codes)`
    * rows, the collected `(m, cb_id, cvec)` codebook, and the IVF
    * stride the assignment used (every `stride`-th vector is a
    * centroid).
    */
  private def buildIndex(rows: Array[Row], cb: Array[Row],
      stride: Long): Index = {
    val cents = rows.iterator
      .filter(_.getLong(0) % stride == 0)
      .map(r => r.getLong(0) -> r.getSeq[Double](2).toArray)
      .toArray.sortBy(_._1)
    val members = rows.groupBy(_.getLong(1)).map { case (cid, rs) =>
      cid -> rs.map(r => (r.getLong(0), r.getSeq[Long](3).toArray))
    }
    val codebook = (0 until PqM).map { m =>
      cb.iterator.filter(_.getInt(0) == m)
        .map(r => r.getLong(1) -> r.getSeq[Double](2).toArray).toMap
    }
    val refine = rows.iterator
      .map(r => r.getLong(0) -> r.getSeq[Double](2).toArray).toMap
    Index(cents, members, codebook, refine)
  }

  /** Persist the serving index for `dir` as the deployment artifact an
    * index-BUILD job ships: cell-partitioned parquet of
    * `(vec_id, cent_id, unit, codes)` — partitioned by `cent_id`, so a
    * serving shard reads only its cells' directories and a probe's
    * cell list maps to file paths — plus the bounded PQ codebook via
    * the versioned [[graft.source.ArtifactStore]] under
    * `<path>/codebook`. [[loadIndexInto]] cold-starts a server from
    * exactly these files with NO corpus access — the build-once /
    * serve-many seam at the INDEX level, one step up from the
    * trained-artifact seam (ServingSpec pins cold-start == s17).
    */
  def persistIndex(s: SparkSession, dir: String, path: String): Unit = {
    val (assigned0, eCache) = Similarity.ivfAssign(s, dir)
    val codes = Similarity.pqBase(s, dir).select(col("vec_id"), col("codes"))
    assigned0.join(codes, "vec_id")
      .select("vec_id", "cent_id", "unit", "codes")
      .repartition(col("cent_id")) // one file set per cell directory
      .write.partitionBy("cent_id").mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(path, "cells").toString)
    eCache.unpersist(blocking = false)
    graft.source.ArtifactStore.save(
      Similarity.pqCodebookDf(s, dir),
      new org.apache.hadoop.fs.Path(path, "codebook").toString,
      "pq_codebook", Similarity.pqParams(s, dir))
    // index geometry travels WITH the index (ADVICE r11): the stride the
    // assignment above actually used, pinned as metadata, so a cold
    // server never re-DERIVES it from whatever row count it happens to
    // load — re-derivation is the in-place-change divergence bug
    val metaPath = new org.apache.hadoop.fs.Path(path, "INDEX_META.json")
    val fs = metaPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(metaPath, true)
    try out.write(
      (s"""{"corpusN": ${Similarity.corpusVecs(s, dir)}, """ +
        s""""ivfStride": ${Similarity.ivfStride(s, dir)}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Cold-start the in-memory index for `dir` from [[persistIndex]]'s
    * files — no ivfAssign, no pqBase, no corpus scan. The cell scan
    * reads the partitioned layout back (partition pruning applies when
    * a shard wants only its cells; the driver tier here loads all).
    */
  def loadIndexInto(s: SparkSession, dir: String, path: String): Unit = {
    val rows = s.read.parquet(
      new org.apache.hadoop.fs.Path(path, "cells").toString)
      // partition-column type inference narrows small cent_ids to int —
      // pin the written long
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"),
        col("unit"), col("codes"))
      .collect()
    // geometry comes from the metadata persistIndex wrote alongside the
    // cells — still no corpus access, but no re-DERIVATION either
    // (ADVICE r11: rows.length equals the build-time corpus count only
    // while nobody changed the corpus between count and build; the
    // metadata pins what the build actually used)
    val (metaN, metaStride) = readIndexMeta(s, path)
    require(metaN == rows.length.toLong,
      s"index at $path is inconsistent: INDEX_META.json declares $metaN " +
        s"vectors, cells hold ${rows.length} — rebuild via persistIndex")
    val params = Similarity.pqParamsFor(metaN)
    val cb = graft.source.ArtifactStore.loadLatestMatching(s,
        new org.apache.hadoop.fs.Path(path, "codebook").toString,
        "pq_codebook", params)
      .getOrElse(throw new IllegalStateException(
        s"no committed pq_codebook under $path matching $params"))
      .collect()
    val built = buildIndex(rows, cb, metaStride)
    QueryCache.forget(dir, Set(IndexKind.name))
    QueryCache.held(dir, IndexKind)(built)
  }

  /** Parse [[persistIndex]]'s INDEX_META.json → (corpusN, ivfStride). */
  private def readIndexMeta(s: SparkSession, path: String): (Long, Long) = {
    val metaPath = new org.apache.hadoop.fs.Path(path, "INDEX_META.json")
    val f = metaPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(f.exists(metaPath),
      s"no INDEX_META.json under $path — not a persistIndex layout")
    val in = f.open(metaPath)
    val raw = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    def num(k: String): Long =
      s""""$k":\\s*(\\d+)""".r.findFirstMatchIn(raw)
        .map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(
          s"INDEX_META.json at $path missing '$k': $raw"))
    (num("corpusN"), num("ivfStride"))
  }

  /** Test hook: the built index's coarse-centroid count (ServingSpec's
    * stride-consistency probe).
    */
  private[graft] def centCount(s: SparkSession, dir: String): Int =
    index(s, dir).cents.length

  /** Ascending-index dot — the order [[org.apache.spark.sql.graftexpr
    * .DotProduct]]'s loop folds in, so serving doubles are bit-identical
    * to the batch plan's.
    */
  private def dotAsc(a: Array[Double], b: Array[Double]): Double = {
    var sum = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { sum += a(i) * b(i); i += 1 }
    sum
  }

  /** Normalize with [[graft.functions.Sketches.normalizeUdf]]'s exact
    * arithmetic (ascending sum of squares, then divide).
    */
  private def unitOf(v: Array[Float]): Array[Double] = {
    var ss = 0.0
    v.foreach(x => ss += x.toDouble * x.toDouble)
    if (ss == 0.0) new Array[Double](v.length)
    else { val n = math.sqrt(ss); v.map(_.toDouble / n) }
  }

  /** EXACT single-probe top-k from the re-rank store — the
    * ground-truth server a deployment runs beside [[serve]] to monitor
    * online recall (s16's certification, continuously): one pass over
    * the full refine map, no cells, no quantization. O(corpus) per
    * query by design — the reference answer, not the scale path.
    * Matches s1's gated frame for s1's probe at the oracle's own
    * tolerance (ServingSpec): s1 computes cosine(raw, raw) in one
    * fused loop while the store holds units — mathematically equal,
    * ulp-level different — which is exactly the 1e-9 envelope the
    * DuckDB gate already grants cosine emissions.
    */
  def serveExact(s: SparkSession, dir: String, query: Array[Float],
      k: Int = 10, excludeId: Long = -1L): Seq[(Long, Double)] = {
    val ix = index(s, dir)
    val q = unitOf(query)
    ix.refine.iterator
      .filter { case (vid, _) => vid != excludeId }
      .map { case (vid, unit) => (vid, dotAsc(unit, q)) }
      .toArray
      .sortBy { case (vid, cos) => (-cos, vid) }
      .take(k)
      .toSeq
  }

  /** Single-probe top-k: s17's pipeline on the driver. `excludeId`
    * drops one corpus id (a query drawn from the corpus must not return
    * itself — s17's `vec_id =!= 0`); pass -1 to keep everything.
    * Returns (vec_id, cos_sim) best-first with s17's tie-break
    * (cos desc, vec_id asc).
    */
  def serve(s: SparkSession, dir: String, query: Array[Float],
      k: Int = 10, nprobe: Int = 2, shortlist: Int = 50,
      excludeId: Long = -1L): Seq[(Long, Double)] = {
    val ix = index(s, dir)
    val q = unitOf(query)
    // probe: nprobe nearest coarse cells (dot desc, cent_id asc)
    val probed = ix.cents
      .map { case (cid, cent) => (cid, dotAsc(cent, q)) }
      .sortBy { case (cid, sim) => (-sim, cid) }
      .take(nprobe)
      .map(_._1)
    // ADC lookup tables: per subspace, cb_id -> dot(q_m, c_m)
    val luts: IndexedSeq[Map[Long, Double]] = (0 until PqM).map { m =>
      ix.codebook(m).map { case (cbId, cvec) =>
        var d = 0.0
        var i = 0
        while (i < PqD) { d += q(m * PqD + i) * cvec(i); i += 1 }
        cbId -> d
      }
    }
    // ADC scan over ONLY the probed cells' codes (m-ascending sum —
    // s17's reduce(_ + _) order), then the bounded exact re-rank
    val cands = probed.iterator
      .flatMap(cid => ix.cells.getOrElse(cid, Array.empty[(Long, Array[Long])]))
      .filter(_._1 != excludeId)
      .map { case (vid, codes) =>
        var sc = 0.0
        var m = 0
        while (m < PqM) { sc += luts(m)(codes(m)); m += 1 }
        (vid, sc)
      }
      .toArray
      .sortBy { case (vid, sc) => (-sc, vid) }
      .take(shortlist)
    cands
      .map { case (vid, _) => (vid, dotAsc(ix.refine(vid), q)) }
      .sortBy { case (vid, cos) => (-cos, vid) }
      .take(k)
      .toSeq
  }
}
