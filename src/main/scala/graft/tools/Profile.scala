package graft.tools

import graft.GraftSession

/** Dev diagnostic: run named queries under [[SparkWork]] and print where
  * the wall clock goes — jobs launched, per-stage task time, shuffle
  * read/write bytes, spill — so optimization targets the measured stage,
  * not the suspected one (optimization guide §1).
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.Profile q60_triangle_count …`
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // raw pipelines, as in the ceilings: memos would hide the real work
    spark.conf.set("spark.graft.memo.disabled", "true")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q60_triangle_count")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warm-up run: JIT/codegen, then profile the steady-state run
      (1 to runs).foreach { r =>
        graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds +
          graft.queries.Text.BpeKind.name)
        spark.catalog.clearCache()
        val (_, work) = SparkWork.measure(spark) {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        val wall = work.seconds
        if (r == runs) {
          println(s"\n========== $n  run#$r  wall=${f"$wall%.3f"}s  " +
            s"jobs=${work.jobs}  stages=${work.stages.size} ==========")
          val top = work.stages.sortBy(-_.wallMs).take(18)
          println(f"${"stage"}%-80s ${"tasks"}%5s ${"wall"}%7s ${"taskT"}%7s " +
            f"${"cpu"}%7s ${"gc"}%6s ${"deser"}%6s " +
            f"${"shRd"}%7s ${"shWr"}%7s ${"in"}%7s ${"spill"}%6s")
          top.foreach { s =>
            // the AQE-wrapped stage name is always the CompletableFuture
            // callsite — pull the first graft/RDD frame out of `details`
            // so the report names the operator, not the thread pool
            val detail = s.details.linesIterator
              .find(l => l.contains("graft.") || l.contains("rdd.RDD"))
              .getOrElse("").trim.take(40)
            val nm = (s.name + " | " + detail).take(80)
            println(f"$nm%-80s ${s.tasks}%5d ${s.wallMs}%6dms ${s.taskTimeMs}%6dms " +
              f"${s.cpuMs}%6dms ${s.gcMs}%5dms ${s.deserializeMs}%5dms " +
              f"${s.shuffleReadBytes / 1e6}%6.1fM ${s.shuffleWriteBytes / 1e6}%6.1fM " +
              f"${s.inputBytes / 1e6}%6.1fM ${s.spillBytes / 1e6}%5.1fM")
          }
          val totWall = work.stages.map(_.wallMs).sum
          println(f"stage-wall sum = ${totWall / 1000.0}%.3f s " +
            f"(wall ${wall}%.3f s; gap = driver/plan/scheduling)")
        } else println(f"$n warmup run#$r wall=$wall%.3f s")
      }
    }
    spark.stop()
  }
}
