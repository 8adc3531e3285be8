package graft
import java.nio.file.{Files, Paths, StandardCopyOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Side tables (SparkEntry.sideDumps) let hash-based sketch pipelines be
  * oracled: the Spark-computed signature frames (xxhash64-based — DuckDB
  * cannot recompute them) are dumped as single parquet FILES in outDir, and
  * the oracle SQL replays everything downstream of the signatures (banding,
  * bucket join, hamming/similarity re-rank) from those dumps via
  * read_parquet. Files (not directories) are invisible to the per-query
  * compare loop, which iterates result directories only. The SQL references
  * the dump location through a `{VERIFY_DIR}` placeholder substituted here
  * at runtime, because only Verify knows the driver-chosen outDir.
  *
  * Usage: Verify <sfDir> <outDir> [comma-separated query filter]
  * (the optional filter is a dev-iteration aid; the driver passes 2 args.
  * `SPARK_GRAFT_ONLY` is honored as the same filter — one env var shared
  * with Bench so dev iteration uses a single mechanism.)
  *
  * Failure loudness: a query that throws leaves a marker result dir
  * containing `_ERROR.txt` (so the driver's per-directory compare records
  * an `err` row instead of the query vanishing from the report) and an
  * aggregated `_errors.json` is always written next to `oracle_sql.json`.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // the explicit arg is the dev fast path; the env-var spelling
    // additionally requires SPARK_GRAFT_DEV=1 (see GraftSession), so a
    // stray SPARK_GRAFT_ONLY cannot shrink a 2-arg gate run on its own
    val filter = GraftSession.queryFilter("verify", args.lift(2))
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_NO_MEMO=1 (Bench's raw-measurement switch, honored
    // here too): every memoized query dumps its RAW pipeline's frame —
    // running the full oracle gate under this proves the raw paths
    // hash-green end-to-end, not just the replay paths
    GraftSession.applyNoMemo(spark)
    new java.io.File(outDir).mkdirs()
    val outAbs = new java.io.File(outDir).getAbsolutePath
    // a filtered run is a DEV run: make it unmistakable in both the log
    // and the artifacts, so an env var leaking into a gate invocation
    // can never pass off a shrunken suite as a full one (the round-5
    // failure mode, from the other direction); unfiltered runs clear any
    // stale marker from a reused dev outDir
    filter match {
      case Some(f) =>
        System.err.println(
          s"[verify] WARNING: FILTERED run (${f.size} of " +
            s"${SparkEntry.queries.size} queries): ${f.mkString(",")}")
        Files.writeString(Paths.get(s"$outDir/_FILTERED.txt"),
          f.mkString(","))
      case None =>
        Files.deleteIfExists(Paths.get(s"$outDir/_FILTERED.txt"))
    }

    val queries = SparkEntry.queries
      .filter { case (n, _) => filter.forall(_.contains(n)) }
    val oracles = SparkEntry.oracleSql
      .filter { case (n, _) => filter.forall(_.contains(n)) }
      .map { case (n, sql) => n -> sql.replace("{VERIFY_DIR}", outAbs) }

    // side dumps first (the oracle SQL of the main queries reads them);
    // only the dumps some selected oracle actually references are written
    SparkEntry.sideDumps
      .filter { case (key, _) => oracles.values.exists(_.contains(key)) }
      .foreach { case (key, fn) =>
        val tmp = s"$outDir/_tmp_$key"
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file for side dump $key"))
          Files.move(part.toPath, Paths.get(s"$outDir/$key.parquet"),
            StandardCopyOption.REPLACE_EXISTING)
        } catch { case e: Throwable =>
          System.err.println(s"[verify] side dump $key failed: ${e.getMessage}")
        } finally {
          graft.util.Fs.rmTree(new java.io.File(tmp))
          spark.catalog.clearCache()
        }
      }

    // failures are LOUD: every broken query lands in _errors.json (and the
    // run summary) so a gate report shows N green + M err — never a
    // silently shrunken suite where absent results read as "not declared"
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      // delete any previous result first: a failure below must not leave a
      // stale directory that the driver's compare would hash as current
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) graft.util.Fs.rmTree(target)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        errors(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        // leave a marker RESULT DIR (no part files) so the driver's
        // per-query compare — which iterates result directories and has an
        // err field per query — records this query as err instead of the
        // row vanishing from the report entirely (the round-5 failure
        // mode). Marker IO is best-effort: an IO-level failure (disk
        // full) must not abort the remaining suite from inside a catch.
        try {
          target.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg)
        } catch { case m: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${m.getMessage}")
        }
      }
      // queries persist intermediates (materialization barriers); drop
      // them so successive queries don't accumulate cache
      spark.catalog.clearCache()
    }
    // the repo's one JSON escaper (graft.util.Json) — see its Scaladoc
    // for why control chars must be escaped here
    def q(s: String): String = graft.util.Json.str(s)
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    println(s"[verify] ${queries.size - errors.size}/${queries.size} queries " +
      s"dumped OK; ${errors.size} FAILED" +
      (if (errors.nonEmpty) ": " + errors.keys.mkString(", ") else ""))
    spark.stop()
  }
}
