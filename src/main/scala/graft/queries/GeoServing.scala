package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** Driver-tier radius lookup for the geo family — [[Serving]]'s
  * single-probe pattern applied to q71/q72's cell-indexed points: a
  * production location service answers "k nearest within R of here"
  * per request, with no Spark job on the hot path. The index is one
  * Spark pass over the point table grouped into q73's coarse lon×lat
  * cells (7.2°×1.6° — `klon DIV 72`, `klat DIV 16`); a probe computes
  * its conservative cell window from the haversine bounds (the same
  * inequalities q73's Scaladoc derives: Δφ ≤ d/R exactly, and
  * sin²(Δλ/2) ≤ sin²(d/2R)/(cos φ₁ · cos φ_edge) with the window-edge
  * latitude minimizing the cosine), unions those cells' members, and
  * ranks the exact haversine residual — identical arithmetic, in
  * identical IEEE order, to q72's gated expression tree, so
  * ServingSpec pins the served answer BIT-EQUAL to the hash-certified
  * batch frame.
  *
  * At 100 TB the driver map becomes cell-partitioned parquet (q71's
  * layout — the cell id is the write key) and a serving shard maps
  * only its cells; the probe→cell-window→members→residual flow is
  * unchanged. The driver copy here is bounded at the test SFs.
  */
object GeoServing {

  /** One indexed point: id and its integer lattice coordinates (the
    * lon/lat doubles are re-derived at serve time by q72's exact
    * expression, so the index never stores a rounded double).
    */
  private[graft] final case class Pt(id: Long, klon: Long, klat: Long)

  private[graft] final case class Index(cells: Map[(Long, Long), Array[Pt]])

  /** The built index, held per point-table dir in the session memo. */
  private[graft] val IndexKind = new QueryCache.Kind[Index]("geo_index")

  /** Drop `dir`'s built index so the next [[serveRadius]] rebuilds —
    * the same reload-on-reship hook as [[Serving.refresh]]: a serving
    * process calls this when notified the point layout re-compacted
    * (never a per-query freshness probe on the hot path).
    */
  def refresh(dir: String): Unit = QueryCache.forget(dir, Set(IndexKind.name))

  private val EarthR = 6371000.0
  /** Meters per degree of latitude = π·R/180, rounded DOWN in the
    * divisor so the window over-covers.
    */
  private val MPerDegFloor = 111000.0

  private def index(s: SparkSession, dir: String): Index =
    QueryCache.held(dir, IndexKind)(Index(toCells(pointFrame(s, dir))))

  private def pointFrame(s: SparkSession, dir: String) =
    Tables.events(s, dir).select(
      col("event_id"),
      expr("(event_id * 7919) % 3600").as("klon"),
      expr("(event_id * 104729) % 1600").as("klat"))

  private def toCells(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), Array[Pt]] =
    df.collect()
      .map(r => Pt(r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(p => (p.klon / 72, p.klat / 16))

  /** Persist the serving index as the deployment artifact a geo
    * index-BUILD job ships: parquet partitioned by the serving cell
    * pair, so a serving shard reads only its cells' directories and a
    * probe's cell window maps to file paths — q71's cell-is-the-write-
    * key layout applied to the serving tier ([[Serving.persistIndex]]'s
    * seam for the geo family). [[loadIndexInto]] cold-starts a server
    * from exactly these files with NO point-table access.
    */
  def persistIndex(s: SparkSession, dir: String, path: String): Unit =
    pointFrame(s, dir)
      .withColumn("clon", expr("klon DIV 72"))
      .withColumn("clat", expr("klat DIV 16"))
      .repartition(col("clon"), col("clat"))
      .write.partitionBy("clon", "clat").mode("overwrite").parquet(path)

  /** Cold-start the in-memory index for `dir` from [[persistIndex]]'s
    * files — no point-table scan; partition pruning applies when a
    * shard wants only its cells (the driver tier here loads all).
    */
  def loadIndexInto(s: SparkSession, dir: String, path: String): Unit = {
    val built = Index(toCells(
      s.read.parquet(path).select("event_id", "klon", "klat")))
    refresh(dir)
    QueryCache.held(dir, IndexKind)(built)
  }

  /** q72's haversine, in q72's exact IEEE evaluation order (Spark's
    * SIN/COS/ASIN/SQRT/RADIANS are java.lang.Math on the same JVM, and
    * the constant 2·6371000 folds identically), so served distances are
    * bit-equal to the gated frame's.
    */
  private def haversine(lon0: Double, lat0: Double,
      lon: Double, lat: Double): Double = {
    val sLat = math.sin(math.toRadians((lat - lat0) / 2.0))
    val sLon = math.sin(math.toRadians((lon - lon0) / 2.0))
    2.0 * EarthR * math.asin(math.sqrt(
      sLat * sLat +
        math.cos(math.toRadians(lat0)) * math.cos(math.toRadians(lat)) *
        (sLon * sLon)))
  }

  /** Single-probe radius top-k: all points within `rMeters` of
    * (lon0, lat0), nearest `k` first, q72's tie-break (dist asc,
    * event_id asc). The cell window is a conservative SUPERSET of the
    * disc — the same claim q73's oracle certifies for the batch join.
    */
  def serveRadius(s: SparkSession, dir: String, lon0: Double, lat0: Double,
      rMeters: Double, k: Int = 20): Seq[(Long, Double)] = {
    val ix = index(s, dir)
    // conservative angular window (see class doc); data lat domain is
    // (-80°, 80°), so the edge cosine never vanishes, but clamp anyway
    val dLat = rMeters / MPerDegFloor
    val latEdge = math.min(79.95,
      math.max(math.abs(lat0 - dLat), math.abs(lat0 + dLat)))
    val denom =
      math.cos(math.toRadians(lat0)) * math.cos(math.toRadians(latEdge))
    val dLon =
      if (denom <= 1e-6) 360.0
      else math.toDegrees(2.0 * math.asin(math.min(1.0,
        math.sin(rMeters / (2.0 * EarthR)) / math.sqrt(denom))))
    // lattice cells overlapping the window: klon wraps mod 3600 (cell
    // mod 50), klat clips to the data domain
    val loLon = math.floor((lon0 - dLon + 180.0) * 10.0).toLong
    val hiLon = math.ceil((lon0 + dLon + 180.0) * 10.0).toLong
    val lonCells: Seq[Long] =
      if (hiLon - loLon >= 3600L) 0L until 50L
      else {
        val lo = Math.floorDiv(Math.floorMod(loLon, 3600L), 72L)
        val hi = Math.floorDiv(Math.floorMod(hiLon, 3600L), 72L)
        (if (lo <= hi) lo to hi else (lo until 50L) ++ (0L to hi)).distinct
      }
    val loLat = math.max(0L,
      math.floor((lat0 - dLat + 80.0) * 10.0).toLong / 16L)
    val hiLat = math.min(99L,
      math.ceil((lat0 + dLat + 80.0) * 10.0).toLong / 16L)
    val hits = for {
      cl <- lonCells
      cm <- loLat to hiLat
      p <- ix.cells.getOrElse((cl, cm), Array.empty[Pt])
      lon = p.klon / 10.0 - 180.0
      lat = p.klat / 10.0 - 80.0
      d = haversine(lon0, lat0, lon, lat)
      if d <= rMeters
    } yield (p.id, d)
    hits.sortBy { case (id, d) => (d, id) }.take(k)
  }
}
