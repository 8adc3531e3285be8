package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GridFields
import graft.interp.{BroadcastInterpolator, JoinInterpolator}
import graft.source.{GridCatalog, GridReader}

/** The paper's request loop, with writes beside the reads. One client
  * thread, closed loop, over a live copy of the grid directory:
  *
  *   - a cycle is latest, 2 h, latest, 1 h, `ingest`, latest, 3 h. The
  *     latest request is the dashboard poll of the latest 2 h (the
  *     canonical 13-file window with the canonical h-band), repeated until
  *     the next file arrives; the 2 h, 1 h and 3 h historical windows have
  *     60, 30 and 90 km h-bands and sit at a seeded time and height. The
  *     ingest lands the next timestep file in the directory. The loop runs
  *     whole cycles until the run's time is used, so every run times the
  *     same mix of window sizes, whatever the seed;
  *   - a request lists, fetches and builds the window, then evaluates
  *     points on it: a random batch on the driver (`GridFields.eval`), one
  *     meshgrid slice (`gridEval`), and a track-ordered point set through
  *     `BroadcastInterpolator`. Its latency is one op;
  *   - after the loop, traced runs evaluate one track of the same kind
  *     through `JoinInterpolator` on the last window fetched. It is timed on
  *     its own and kept out of the loop (and out of the workload's Spark
  *     totals) because the join tier alone costs as much as a whole request.
  *
  * Every answer is checked against the analytic field outside the timed
  * region, and a latest window must end at the newest ingested file, so a
  * stale listing, axis or grid cache fails the run. About one point in
  * twenty lies north of the pole, out of hull, and must get the fill value.
  */
final class GridWindow(work: String, seed: Long, rho: Field, temp: Field)
    extends Workload {
  import GridWindow._

  private val pristine = Paths.get(work, "grid_pristine")
  private val incoming = Paths.get(work, "grid_incoming")
  private val live = Paths.get(work, "grid_live")
  private val Rho = "rho"
  private val RhoCol = "rho[kg/m^3]"
  private val DriverPoints = 100000
  private val TrackPoints = 50000L
  private val CanonicalBand = (292500.0, 357500.0)

  private def sortedFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private var reader: GridReader = _
  private var lastIndex = 0
  private var nextIngest = 0
  private var requestNo = 0
  private lazy val incomingFiles = sortedFiles(incoming)

  /** Fresh live directory: hard links to the pristine timesteps, so the
    * copy is instant and ingests never touch the pristine files.
    */
  private def restoreLive(): Unit = {
    graft.util.Fs.rmTree(live.toFile)
    Files.createDirectories(live)
    sortedFiles(pristine).foreach(f => Files.createLink(live.resolve(f.getFileName), f))
    lastIndex = sortedFiles(pristine).size - 1
    nextIngest = 0
  }

  /** Warm-up: one two-file request and one ingest, then a clean copy. */
  def setup(spark: SparkSession): Unit = {
    restoreLive()
    reader = new GridReader(spark, live.toString)
    val off = new Trace(false)
    windowRequest(spark, new SplittableRandom(seed), Window(lastIndex - 1, lastIndex,
      CanonicalBand._1, CanonicalBand._2), off, new Results)
    ingest(spark, off)
    restoreLive()
  }

  private def ingest(spark: SparkSession, trace: Trace): Unit = {
    val src = incomingFiles(nextIngest)
    val staging = live.resolve(s"_ingest_$nextIngest")
    trace.span("source.ingest") {
      spark.read.parquet("file:" + src).coalesce(1)
        .write.parquet("file:" + staging)
      val part = sortedFiles(staging)
        .find(p => p.getFileName.toString.startsWith("part-")).get
      Files.move(part, live.resolve(src.getFileName))
      graft.util.Fs.rmTree(staging.toFile)
    }
    nextIngest += 1
    lastIndex += 1
  }

  /** The track: time advances with the point index across the window, lon
    * sweeps east, lat and h oscillate inside the band; a seeded hash moves
    * one point in twenty north of the pole.
    */
  private def track(spark: SparkSession, w: Window, salt: Long): DataFrame = {
    val id = col("id")
    val phase = math.floorMod(salt, 1000L) / 1000.0 * 2 * math.Pi
    val lat = lit(85.0) * sin(id * 1.3e-4 + phase)
    spark.range(0, TrackPoints, 1, Main.Cores).select(
      id,
      (lit(w.t0) + id.cast("double") / TrackPoints * w.seconds).as("time"),
      pmod(lit(phase * 50) + id * 0.0173, lit(360.0)).as("lon"),
      when(pmod(xxhash64(id, lit(salt)), lit(20L)) === 0, lit(95.0)).otherwise(lat).as("lat"),
      (lit((w.hLo + w.hHi) / 2) + lit((w.hHi - w.hLo) / 2) * sin(id * 3.1e-5 + phase))
        .as("h"))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def latestWindow = Window(lastIndex - 12, lastIndex, CanonicalBand._1,
    CanonicalBand._2)

  /** The `k`-th historical window of a cycle, at a seeded place. */
  private def historicalWindow(rng: SplittableRandom, k: Int): Window = {
    val (steps, band) = Seq((12, 60000.0), (6, 30000.0), (18, 90000.0))(k)
    val s = rng.nextInt(lastIndex - steps + 1)
    val lo = 250000.0 + rng.nextDouble() * (150000.0 - band)
    Window(s, s + steps, lo, lo + band)
  }

  /** One timed window request, then its untimed checks. */
  private def windowRequest(spark: SparkSession, rng: SplittableRandom, w: Window,
      trace: Trace, res: Results): Option[Fetched] = {
    val latest = w.last == lastIndex
    val start = Field.ts(w.first)
    val end = Field.ts(w.last)
    val points = Array.fill(DriverPoints) {
      val oob = rng.nextInt(20) == 0
      Array(w.t0 + rng.nextDouble() * w.seconds,
        rng.nextDouble() * 360.0,
        if (oob) 91.0 + rng.nextDouble() * 9.0 else -90.0 + rng.nextDouble() * 180.0,
        w.hLo + rng.nextDouble() * (w.hHi - w.hLo))
    }
    val tMid = w.t0 + w.seconds / 2
    val hMid = (w.hLo + w.hHi) / 2
    val pts = nextTrack(spark, w)

    val t0 = System.nanoTime()
    val answer = res.attempt(if (latest) "latest window" else "historical window") {
      trace.request {
        val files = trace.span("source.list")(reader.files())
        trace.count("source.files_listed", files.size)
        trace.count("source.files_in_window", GridCatalog.prune(files, start, end).size)
        val df = trace.span("source.fetch")(reader.fetch(start, end, w.hLo, w.hHi))
        val kd = trace.span("interp.build")(GridFields.fromDataFrame(df))
        val grid = kd.grid(Rho)
        trace.count("interp.cells_built", grid.values.length)
        val v = trace.span("api.eval")(kd.eval(Rho, points))
        trace.count("api.eval_points", points.length)
        val (_, mesh) = trace.span("api.grid_eval")(
          kd.gridEval("T", Map("time" -> Array(tMid), "h" -> Array(hMid))))
        val bi = trace.span("interp.broadcast") {
          val bi = BroadcastInterpolator(spark, grid)
          noop(pts.select(col("id"), bi(col("time"), col("lon"), col("lat"), col("h"))))
          bi
        }
        trace.count("interp.broadcast_grid_bytes",
          8.0 * (grid.values.length + grid.axes.map(_.length).sum))
        (df, kd, v, mesh, bi)
      }
    }
    val latency = (System.nanoTime() - t0) / 1e9
    answer.map { case (df, kd, v, mesh, bi) =>
      res.opS += latency
      trace.untimed {
        val what = s"${if (latest) "latest" else "historical"} window [${w.first},${w.last}]"
        check(kd, w, points, v, mesh, tMid, hMid).foreach(m => res.fail(s"$what: $m"))
        checkTier(res, s"$what: broadcast tier",
          pts.withColumn(RhoCol, bi(col("time"), col("lon"), col("lat"), col("h"))))
        res.sampleRetainedHeap()
      }
      Fetched(w, df, kd.grid(Rho).axes)
    }
  }

  private def nextTrack(spark: SparkSession, w: Window): DataFrame = {
    requestNo += 1
    track(spark, w, seed * 1000003L + requestNo)
  }

  private def checkTier(res: Results, what: String, evaluated: DataFrame): Unit =
    try {
      val wrong = mismatches(evaluated)
      if (wrong > 0) res.fail(s"$what: $wrong of $TrackPoints points wrong")
    } catch { case e: Exception => res.fail(s"$what: check failed: ${e.getMessage}") }

  /** The join tier on the last fetched window; returns its seconds. */
  private def trackEval(spark: SparkSession, f: Fetched, trace: Trace, res: Results)
      : Option[Double] = {
    val pts = nextTrack(spark, f.w)
    val t0 = System.nanoTime()
    res.attempt("track evaluation") {
      trace.span("interp.join") {
        val out = JoinInterpolator.interpolate(pts, "id",
          f.df.withColumn("time", col("time").cast("double")), f.axes, Seq(RhoCol))
        noop(out)
        out
      }
    }.map { out =>
      val s = (System.nanoTime() - t0) / 1e9
      trace.untimed(checkTier(res, s"track on [${f.w.first},${f.w.last}]: join tier",
        pts.join(out, Seq("id"), "left")))
      s
    }
  }

  private def check(kd: GridFields, w: Window, points: Array[Array[Double]],
      v: Array[Double], mesh: Array[Double], tMid: Double, hMid: Double): Option[String] = {
    val axes = kd.grid(Rho).axes
    val (snapLo, snapHi) = GridCatalog.snapOutward(Field.H, w.hLo, w.hHi)
    val wantTime = (w.first to w.last).map(i => Field.ts(i).getEpochSecond.toDouble)
    val wantH = Field.H.filter(h => h >= snapLo && h <= snapHi)
    if (!axes(0).sameElements(wantTime))
      return Some(s"time axis ${axes(0).head}..${axes(0).last} (${axes(0).length}) " +
        s"!= ${wantTime.head}..${wantTime.last} (${wantTime.length})")
    if (!axes(3).sameElements(wantH))
      return Some(s"h axis ${axes(3).mkString(",")} != ${wantH.mkString(",")}")
    val bad = points.indices.find { i =>
      val p = points(i)
      if (p(2) > 90.0) v(i) != 0.0 else !rho.close(v(i), rho.at(p))
    }
    if (bad.isDefined) {
      val p = points(bad.get)
      return Some(s"eval at ${p.mkString(",")} = ${v(bad.get)}, want ${rho.at(p)}")
    }
    val want = for (lon <- Field.Lon; lat <- Field.Lat) yield temp.at(tMid, lon, lat, hMid)
    if (mesh.length != want.length) return Some(s"gridEval has ${mesh.length} values")
    mesh.indices.find(i => !temp.close(mesh(i), want(i)))
      .map(i => s"gridEval[$i] = ${mesh(i)}, want ${want(i)}")
  }

  /** Rows of `evaluated` (track points with the tier's value in `RhoCol`)
    * whose value is missing or is not the field's value there (the fill
    * value out of hull).
    */
  private def mismatches(evaluated: DataFrame): Long = {
    val v = col(s"`$RhoCol`")
    val c = (i: Int) => lit(rho.coefficient(i))
    val u = (col("time") - Field.T0) / 3600.0 / 24.0
    val x = col("lon") / 360.0
    val y = col("lat") / 90.0
    val z = (col("h") - 250000.0) / 150000.0
    val want: Column = c(0) * (lit(1.0) + c(1) * u + c(2) * x + c(3) * y + c(4) * z +
      c(5) * x * y + c(6) * u * z)
    evaluated
      .filter(v.isNull || when(col("lat") > 90.0, v =!= 0.0)
        .otherwise(abs(v - want) > 1e-9 * math.abs(rho.scale)))
      .count()
  }

  def measure(spark: SparkSession, deadlineNs: Long, trace: Trace, res: Results): Unit = {
    val rng = new SplittableRandom(seed)
    val ingestS = mutable.ArrayBuffer.empty[Double]
    var latestN, historicalN = 0
    var last: Option[Fetched] = None
    def request(w: Window): Unit = last = windowRequest(spark, rng, w, trace, res).orElse(last)
    // whole cycles only, so every run times the same mix of windows; the
    // checks run outside the timed region and do not use up the run
    while (System.nanoTime() - trace.untimedNs < deadlineNs) {
      (0 until 3).foreach { k =>
        if (k == 2 && nextIngest < incomingFiles.size) {
          val t0 = System.nanoTime()
          res.attempt("ingest")(ingest(spark, trace))
            .foreach(_ => ingestS += (System.nanoTime() - t0) / 1e9)
          trace.untimed(res.sampleRetainedHeap())
        }
        request(latestWindow)
        request(historicalWindow(rng, k))
      }
      latestN += 3
      historicalN += 3
    }
    lastFetched = last
    res.report ++= Seq("ingest_s" -> ingestS.toSeq, "latest_requests" -> latestN,
      "historical_requests" -> historicalN)
  }

  private var lastFetched: Option[Fetched] = None

  /** The join-tier track evaluation, on the last window of the loop. No
    * end-to-end metric depends on it, so only the traced run pays for it.
    */
  override def afterLoop(spark: SparkSession, trace: Trace, res: Results): Unit =
    if (trace.enabled) lastFetched.flatMap(trackEval(spark, _, trace, res)).foreach { s =>
      res.report ++= Seq("track_join_s" -> s, "eval_join_pps" -> TrackPoints / s)
    }

  override def layers(trace: Trace): Seq[(String, Double)] = {
    def in(names: String*) = (s: String) => names.contains(s)
    val fetchAndBuild = in("source.fetch", "interp.build")
    val scanned = trace.sparkSum(fetchAndBuild)(_.recordsRead).toDouble
    val cells = trace.countOf("interp.cells_built")
    val evalPoints = trace.countOf("api.eval_points")
    Seq(
      "source.list_ms" -> trace.spanMs("source.list"),
      "source.files_listed" -> trace.countOf("source.files_listed"),
      "source.files_in_window" -> trace.countOf("source.files_in_window"),
      "source.fetch_ms" -> trace.spanMs("source.fetch"),
      "source.fetch_jobs" -> trace.sparkSum(in("source.fetch"))(_.jobs).toDouble,
      "source.rows_scanned" -> scanned,
      "source.bytes_scanned" -> trace.sparkSum(fetchAndBuild)(_.bytesRead).toDouble,
      "source.ingest_ms" -> trace.spanMs("source.ingest"),
      "interp.build_ms" -> trace.spanMs("interp.build"),
      "interp.build_jobs" -> trace.sparkSum(in("interp.build"))(_.jobs).toDouble,
      "interp.cells_built" -> cells,
      "interp.result_bytes" -> trace.sparkSum(in("interp.build"))(_.resultBytes).toDouble,
      "interp.rows_scanned_per_cell" -> (if (cells > 0) scanned / cells else 0.0),
      "interp.broadcast_ms" -> trace.spanMs("interp.broadcast"),
      "interp.broadcast_grid_bytes" -> trace.countOf("interp.broadcast_grid_bytes"),
      "interp.join_ms" -> trace.spanMs("interp.join"),
      "interp.join_shuffle_bytes" -> trace.sparkSum(in("interp.join"))(_.shuffleWrite).toDouble,
      "interp.join_spill_bytes" -> trace.sparkSum(in("interp.join"))(_.spill).toDouble,
      "model.kernel_ns_per_point" ->
        (if (evalPoints > 0) trace.spanMs("api.eval") * 1e6 / evalPoints else 0.0),
      "api.eval_ms" -> trace.spanMs("api.eval"),
      "api.grid_eval_ms" -> trace.spanMs("api.grid_eval"))
  }
}

object GridWindow {

  /** A request's window: timestep indices and the requested h-band. */
  final case class Window(first: Int, last: Int, hLo: Double, hHi: Double) {
    def t0: Double = Field.ts(first).getEpochSecond.toDouble
    def seconds: Double = (last - first) * Field.Cadence.toDouble
  }

  /** A fetched window kept for the track evaluation. */
  final case class Fetched(w: Window, df: DataFrame, axes: Array[Array[Double]])
}

/** The analytic multilinear field the grid dataset was generated from
  * (`datagen.py`): every interpolated value has an exact expected answer.
  * Coordinates are (epoch seconds, lon, lat, h).
  */
final class Field(c: Array[Double]) extends Serializable {
  require(c.length == 7, "a field has seven coefficients")
  def scale: Double = c(0)
  def coefficient(i: Int): Double = c(i)
  def at(t: Double, lon: Double, lat: Double, h: Double): Double = {
    val u = (t - Field.T0) / 3600.0 / 24.0
    val x = lon / 360.0
    val y = lat / 90.0
    val z = (h - 250000.0) / 150000.0
    c(0) * (1.0 + c(1) * u + c(2) * x + c(3) * y + c(4) * z + c(5) * x * y +
      c(6) * u * z)
  }
  def at(p: Array[Double]): Double = at(p(0), p(1), p(2), p(3))
  /** Interpolation error allowed on an in-hull point (rounding only). */
  def close(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-9 * math.abs(c(0))
}

object Field {
  val T0: Double = Instant.parse("2024-04-09T00:00:00Z").getEpochSecond.toDouble
  val Cadence = 600L
  val Lon: Array[Double] = Array.tabulate(73)(_ * 5.0)
  val Lat: Array[Double] = Array.tabulate(37)(i => -90.0 + i * 5.0)
  val H: Array[Double] = Array.tabulate(25)(i => 250000.0 + i * 6250.0)
  def ts(i: Int): Instant = Instant.ofEpochSecond(T0.toLong + Cadence * i)
}
