package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev diagnostic: run named queries under a stage-metrics listener and
  * print where the wall clock goes — jobs launched, per-stage task time,
  * shuffle read/write bytes, spill — so optimization targets the measured
  * stage, not the suspected one (optimization guide §1).
  * `SPARK_GRAFT_SF_DIR=... runMain graft.tools.Profile q60_triangle_count …`
  *
  * Uses the SAME session shape as Bench (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, AQE on) so stage shapes match the bench run.
  */
object Profile {

  private final class Metrics extends SparkListener {
    case class Stage(name: String, tasks: Int, taskTimeMs: Long,
      cpuMs: Long, gcMs: Long, deserMs: Long,
      shufReadMB: Double, shufWriteMB: Double, inputMB: Double,
      spillMB: Double, wallMs: Long)
    val stages = mutable.ArrayBuffer.empty[Stage]
    var jobs = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val m = si.taskMetrics
      val wall = (for {a <- si.completionTime; b <- si.submissionTime}
        yield a - b).getOrElse(0L)
      // the AQE-wrapped stage name is always the CompletableFuture
      // callsite — pull the first graft/RDD frame out of `details` so the
      // report names the operator, not the thread pool
      val detail = si.details.linesIterator
        .find(l => l.contains("graft.") || l.contains("rdd.RDD"))
        .getOrElse("").trim.take(40)
      stages += Stage(si.name + " | " + detail, si.numTasks, m.executorRunTime,
        m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.executorDeserializeTime,
        m.shuffleReadMetrics.totalBytesRead / 1e6,
        m.shuffleWriteMetrics.bytesWritten / 1e6,
        m.inputMetrics.bytesRead / 1e6,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
        wall)
    }
    def reset(): Unit = { stages.clear(); jobs = 0 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // raw pipelines, as in the ceilings: memos would hide the real work
    spark.conf.set("spark.graft.memo.disabled", "true")
    val listener = new Metrics
    spark.sparkContext.addSparkListener(listener)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q60_triangle_count")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      // warm-up run: JIT/codegen, then profile the steady-state run
      (1 to runs).foreach { r =>
        graft.queries.QueryCache.clearMemo(graft.queries.Dedup.MemoKinds)
        graft.queries.Text.clearBpeMemo()
        spark.catalog.clearCache()
        listener.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let the async listener bus drain
        if (r == runs) {
          println(s"\n========== $n  run#$r  wall=${f"$wall%.3f"}s  " +
            s"jobs=${listener.jobs}  stages=${listener.stages.size} ==========")
          val top = listener.stages.sortBy(-_.wallMs).take(18)
          println(f"${"stage"}%-80s ${"tasks"}%5s ${"wall"}%7s ${"taskT"}%7s " +
            f"${"cpu"}%7s ${"gc"}%6s ${"deser"}%6s " +
            f"${"shRd"}%7s ${"shWr"}%7s ${"in"}%7s ${"spill"}%6s")
          top.foreach { s =>
            val nm = s.name.take(80)
            println(f"$nm%-80s ${s.tasks}%5d ${s.wallMs}%6dms ${s.taskTimeMs}%6dms " +
              f"${s.cpuMs}%6dms ${s.gcMs}%5dms ${s.deserMs}%5dms " +
              f"${s.shufReadMB}%6.1fM ${s.shufWriteMB}%6.1fM ${s.inputMB}%6.1fM ${s.spillMB}%5.1fM")
          }
          val totWall = listener.stages.map(_.wallMs).sum
          println(f"stage-wall sum = ${totWall / 1000.0}%.3f s " +
            f"(wall ${wall}%.3f s; gap = driver/plan/scheduling)")
        } else println(f"$n warmup run#$r wall=$wall%.3f s")
      }
    }
    spark.stop()
  }
}
