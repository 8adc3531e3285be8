package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.util.Json

/** What one run measured. Latencies are seconds; `layers` holds the traced
  * run's per-layer metrics; `report` holds context that is not a metric.
  */
final class Results {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val opS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val report = mutable.LinkedHashMap.empty[String, Any]

  /** Run one op: an exception counts it failed and is kept for the report. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Heap in use after a full collection, at its highest so far. */
  var peakHeapBytes = 0L

  /** Sample the heap the program retains between ops. Sampling between
    * collections would mostly measure how full the young generation
    * happened to be; a full collection after every op also starts each op
    * from the same heap state.
    *
    * One collection is not enough: it only makes dead broadcasts, shuffles
    * and cached blocks weakly reachable, and Spark's ContextCleaner drops
    * their on-heap blocks afterwards, on its own thread. So collect, give
    * the cleaner a moment, and repeat until a collection frees less than
    * `SettleBytes`; the readings of the last sample go to the report.
    */
  def sampleRetainedHeap(): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = {
      System.gc()
      Thread.sleep(SettleMs)
      mem.getHeapMemoryUsage.getUsed
    }
    val readings = mutable.ArrayBuffer(collect(), collect())
    while (readings.size < MaxCollections &&
        readings(readings.size - 2) - readings.last > SettleBytes)
      readings += collect()
    lastHeapReadingsMb = readings.map(_ / 1048576.0).toSeq
    peakHeapBytes = math.max(peakHeapBytes, readings.min)
  }
  private val SettleMs = 150L
  private val SettleBytes = 1L << 20
  private val MaxCollections = 6
  var lastHeapReadingsMb: Seq[Double] = Seq.empty

  def fail(msg: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += msg.take(400)
  }

  private def num(d: Double) =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  private def value(v: Any): String = v match {
    case d: Double => num(d)
    case l: Long => l.toString
    case i: Int => i.toString
    case s: String => Json.str(s)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => Json.str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case other => Json.str(other.toString)
  }

  def toJson: String = value(mutable.LinkedHashMap[String, Any](
    "setup_s" -> setupS.toSeq, "op_s" -> opS.toSeq, "attempted" -> attempted,
    "failed" -> failed, "errors" -> errors.toSeq, "layers" -> layers,
    "report" -> report))
}

/** One workload: `setup` prepares and warms a fresh session (it runs
  * several times per run, so it must leave the same state each time);
  * `measure` runs the closed loop until `deadlineNs`, timing ops into
  * `res.opS` with its correctness checks outside the timed region.
  */
trait Workload {
  def setup(spark: SparkSession): Unit
  def measure(spark: SparkSession, deadlineNs: Long, trace: Trace, res: Results): Unit
  /** Per-layer metrics specific to this workload (traced runs only). */
  def layers(trace: Trace): Seq[(String, Double)] = Seq.empty
  /** Work after the measured loop and its box probe: answer checks, and
    * ops that are timed on their own.
    */
  def afterLoop(spark: SparkSession, trace: Trace, res: Results): Unit = ()
}

/** Benchmark JVM entry point, launched by `run.py` after it has generated
  * the seeded inputs under `--work`:
  * {{{
  * Main --workload grid_window|corpus_pipeline --seed N
  *      --seconds S --trace 0|1 --work DIR --out FILE
  *      [--rho c0,..,c6] [--temp c0,..,c6]
  * }}}
  * Writes the raw measurements to `--out` as one JSON object.
  */
object Main {
  val Cores = 4
  val SetupReps = 3

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.staging.dir", s"file:$work/staging")
      // the grid files are flat `<ts>.parquet` files, as in the reference's
      // object store; Hadoop's checksummed local filesystem cannot open
      // them (it builds the `.<name>.crc` sidecar path from a name with a
      // colon and fails to parse it), so local files are read raw, without
      // sidecars, the way an object store serves them
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = new Trace(opts("trace") == "1")
    def coeffs(k: String) = new Field(opts(k).split(",").map(_.toDouble))
    val workload: Workload = opts("workload") match {
      case "grid_window" => new GridWindow(work, seed, coeffs("rho"), coeffs("temp"))
      case "corpus_pipeline" => new CorpusPipeline(work)
      case w => sys.error(s"unknown workload $w")
    }
    val res = new Results
    val jvmStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // set-up runs several times from a fresh session; the median is the
    // metric, the first one also carries class loading and JIT
    var spark: SparkSession = null
    (1 to SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(work)
      trace.attach(spark)
      workload.setup(spark)
      res.setupS += (System.nanoTime() - t0) / 1e9
    }

    // box-state probe: a fixed CPU-bound Spark job whose time depends only
    // on the machine, so a contended box shows as a slow probe
    val probePre = graft.Bench.calibrate(spark, 1)
    trace.startMeasuring()
    val t0 = System.nanoTime()
    workload.measure(spark, t0 + (seconds * 1e9).toLong, trace, res)
    val measuredS = (System.nanoTime() - t0) / 1e9
    trace.stopMeasuring()
    val probePost = graft.Bench.calibrate(spark, 1)
    workload.afterLoop(spark, trace, res)
    trace.drain()

    res.report ++= Seq(
      "peak_heap_mb" -> res.peakHeapBytes / 1048576.0,
      "last_heap_readings_mb" -> res.lastHeapReadingsMb,
      "jvm_start_s" -> jvmStartS,
      "measured_s" -> measuredS,
      "box_probe_s" -> mutable.LinkedHashMap("before" -> probePre, "after" -> probePost))
    if (trace.enabled) {
      res.layers ++= workload.layers(trace)
      res.layers ++= trace.workloadLayers(Cores)
      val spanFile = Paths.get(work, "spans.jsonl")
      Files.write(spanFile, trace.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      res.report("spans_file") = spanFile.toString
    }
    Files.write(Paths.get(opts("out")), res.toJson.getBytes("UTF-8"))
    spark.stop()
  }
}
