package graft.source

import java.sql.Timestamp
import java.time.format.DateTimeFormatter
import java.time.{Duration, Instant, LocalDateTime, ZoneOffset}

import org.apache.hadoop.fs.{ChecksumFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** Discovery + pruning of a time-partitioned grid dataset: one parquet
  * file (or directory) per cadence step, the timestamp encoded in the file
  * name as `<prefix>yyyy-MM-dd'T'HH:mm:ss<postfix>`.
  *
  * The reference does this with a generate-candidates-then-HEAD-probe sweep
  * over S3 (`kamodo_dask/kamodo_dask.py:31-86`: 20-thread existence probe +
  * `pd.date_range(freq='10T')` candidates). Spark-first, we invert it:
  * **list once, parse, prune** — a single driver-side `FileSystem.listStatus`
  * (the same mechanism as Spark's `InMemoryFileIndex`, which lists in
  * parallel at scale) and manual partition pruning on the parsed timestamps.
  * At 100 TB / years of cadence the right layout is a Hive-partitioned table
  * (`…/date=…/`) where Catalyst prunes declaratively; this catalog covers
  * the reference's filename layout.
  */
object GridCatalog {

  val TsPattern = "yyyy-MM-dd'T'HH:mm:ss"
  private val fmt = DateTimeFormatter.ofPattern(TsPattern)

  /** Regex that recovers the timestamp from a full file path (works on the
    * part-file paths `input_file_name()` yields for directory-per-timestep
    * layouts too).
    */
  val TsRegex = """(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})"""

  final case class GridFile(path: String, ts: Instant)

  def parseTs(s: String): Instant =
    LocalDateTime.parse(s, fmt).toInstant(ZoneOffset.UTC)

  def formatTs(i: Instant): String =
    LocalDateTime.ofInstant(i, ZoneOffset.UTC).format(fmt)

  /** One listing of `dir`, keeping entries named `<prefix><ts><postfix>`
    * (reference candidate-name scheme, `kamodo_dask.py:63-67`), sorted by
    * timestamp. Replaces the reference's per-candidate existence probe
    * (S1/S2/S3): a listing is one RPC and scales with actual files, not
    * with the candidate window.
    */
  def discover(spark: SparkSession, dir: String,
      prefix: String = "", postfix: String = ".parquet"): Seq[GridFile] = {
    val p = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    // the discovery RPCs carry the reference's retry envelope ([[Retry]]:
    // boto3-standard 10 attempts + exponential backoff, dask_config.py:
    // 49-52) — the one driver-side store call that runs outside the s3a
    // client's own retries
    val attempts = Retry.attemptsFrom(conf)
    if (!Retry.withRetries(attempts)(fs.exists(p))) return Seq.empty
    val re = (java.util.regex.Pattern.quote(prefix) + TsRegex +
      java.util.regex.Pattern.quote(postfix)).r
    Retry.withRetries(attempts)(fs.listStatus(p)).toSeq.flatMap { st =>
      val name = st.getPath.getName
      re.findFirstMatchIn(name).filter(_.matched == name).map { m =>
        GridFile(st.getPath.toString, parseTs(m.group(1)))
      }
    }.sortBy(_.ts)
  }

  /** Per-read options that let a read of `dir` open the reference's flat
    * colon-named `<ts>.parquet` files. Hadoop's checksummed local
    * filesystem builds each file's `.<name>.crc` sidecar path from the
    * bare name, which a colon turns into a URI scheme, so the read fails;
    * these options serve that one read through `RawLocalFileSystem`
    * (uncached, so the swap stays scoped to the read). Empty for any other
    * filesystem, and no session conf is written.
    */
  def localReadOptions(spark: SparkSession, dir: String): Map[String, String] =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case _: ChecksumFileSystem => Map(
        "fs.file.impl" -> classOf[RawLocalFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true")
      case _ => Map.empty
    }

  /** Manual partition pruning: keep files with start <= ts <= end
    * (reference `fetch_file_range`, `kamodo_dask.py:63-86`).
    */
  def prune(files: Seq[GridFile], start: Instant, end: Instant): Seq[GridFile] =
    files.filter(f => !f.ts.isBefore(start) && !f.ts.isAfter(end))

  /** T1 — align a request to the file cadence: floor start / ceil end to the
    * cadence grain (reference `start.floor('10T')`/`end.ceil('10T')`,
    * `kamodo_dask.py:191-192`).
    */
  def floorTo(ts: Instant, cadence: Duration): Instant =
    Instant.ofEpochSecond(
      Math.floorDiv(ts.getEpochSecond, cadence.getSeconds) * cadence.getSeconds)

  def ceilTo(ts: Instant, cadence: Duration): Instant = {
    val s = cadence.getSeconds
    Instant.ofEpochSecond(Math.floorDiv(ts.getEpochSecond + s - 1, s) * s)
  }

  /** F5/A3 — snap-to-grid bound widening: widen `[lo, hi]` outward to the
    * bracketing grid planes so edge interpolation has support (reference
    * `kamodo_dask.py:194-206`); errors when the request lies entirely
    * outside the axis, as the reference does.
    */
  def snapOutward(axis: Array[Double], lo: Double, hi: Double): (Double, Double) = {
    val below = axis.filter(_ <= lo)
    val above = axis.filter(_ >= hi)
    require(below.nonEmpty, s"no grid plane at or below $lo (axis min ${axis.min})")
    require(above.nonEmpty, s"no grid plane at or above $hi (axis max ${axis.max})")
    (below.max, above.min)
  }

  def toTimestamp(i: Instant): Timestamp = Timestamp.from(i)
}
