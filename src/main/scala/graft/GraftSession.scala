package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session builder: every main and the test suite start
  * their session here, so a tool's stage shapes match the bench run's.
  *
  * The conf set is Bench's:
  *   - `spark.sql.shuffle.partitions` = the core count
  *   - AQE and its partition coalescing on
  *   - `canChangeCachedPlanOutputPartitioning` on, so AQE may re-coalesce
  *     reads of CACHED plans too (off by default for plan-reuse
  *     compatibility). The persisted intermediates are often tiny (edge
  *     lists, shortlists), and without it every consumer of a cached
  *     frame inherits its full shuffle-partition fan-out: measured 8.8 s
  *     -> 4.9 s on q60 and 3.2 s -> 2.2 s on q57 at sf0.1, with no
  *     regression on scan-heavy rows.
  *   - UTC session time zone (oracle parity depends on it), UI off
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session on `master` (default `local[cpus]`). `extra` confs are
    * set last, so they override the defaults above.
    *
    * A `local-cluster[n,c,mem]` master runs executors in separate JVMs:
    * the app classes ride `spark.executor.extraClassPath` (the launcher
    * needs SPARK_HOME), and the executor JVM is sized to the master
    * string's worker field (MiB), because `spark.executor.memory`
    * otherwise stays at 1g, an instant OOM at ×200.
    * `SPARK_GRAFT_EXECUTOR_MEM` overrides that size.
    */
  def local(cpus: Int, master: Option[String] = None,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val m = master.getOrElse(s"local[$cpus]")
    val b = SparkSession.builder()
      .master(m)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (m.startsWith("local-cluster")) {
      val classes = Seq("target/scala-2.13/classes")
        .map(p => new java.io.File(p).getAbsolutePath)
        .filter(p => new java.io.File(p).isDirectory)
        .mkString(java.io.File.pathSeparator)
      b.config("spark.executor.extraClassPath", classes)
      val workerMb = m.split("[\\[\\],]")(3).trim
      b.config("spark.executor.memory",
        sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", s"${workerMb}m"))
    }
    extra.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** `SPARK_GRAFT_MASTER`, e.g. `local-cluster[4,8,8192]`. */
  def masterFromEnv: Option[String] = sys.env.get("SPARK_GRAFT_MASTER")

  /** `SPARK_GRAFT_EXTRA_CONF`: comma-separated `key=value` session confs,
    * e.g. `spark.graft.memo.disabled=true`. Set at build time, so static
    * confs work too. A fragment without '=' (e.g. a comma inside a value)
    * fails loudly instead of silently mangling the session.
    */
  def extraConfFromEnv: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(",")).filter(_.trim.nonEmpty).map { kv =>
        require(kv.contains("="),
          s"SPARK_GRAFT_EXTRA_CONF fragment without '=': '$kv' " +
            "(comma-containing values are not supported)")
        val Array(k, v) = kv.split("=", 2)
        k.trim -> v.trim
      }

  /** The query filter of a dev run: `arg` if given, else
    * `SPARK_GRAFT_ONLY`, a comma-separated name list. The env var only
    * engages with the explicit `SPARK_GRAFT_DEV=1` opt-in, so a stray one
    * leaking into a gate run cannot shrink the suite on its own; it is
    * reported as ignored, tagged `[tool]`.
    */
  def queryFilter(tool: String, arg: Option[String] = None)
      : Option[Set[String]] = {
    val devMode = sys.env.get("SPARK_GRAFT_DEV").contains("1")
    val env = sys.env.get("SPARK_GRAFT_ONLY")
    if (arg.isEmpty && env.isDefined && !devMode)
      System.err.println(s"[$tool] SPARK_GRAFT_ONLY present but IGNORED: " +
        "set SPARK_GRAFT_DEV=1 to filter (full suite runs)")
    arg.orElse(env.filter(_ => devMode))
      .map(_.split(",").map(_.trim).toSet)
  }

  /** `SPARK_GRAFT_NO_MEMO=1` sets `spark.graft.memo.disabled`: the
    * session query-result memos are bypassed, so every memoized query
    * runs its raw pipeline (see `QueryCache.memoized`). Returns whether
    * it did.
    */
  def applyNoMemo(spark: SparkSession): Boolean = {
    val raw = sys.env.get("SPARK_GRAFT_NO_MEMO").contains("1")
    if (raw) spark.conf.set("spark.graft.memo.disabled", "true")
    raw
  }
}
