package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession

/** One completed stage's metrics (times in ms, sizes in bytes). */
final case class StageWork(name: String, details: String, tasks: Int,
    wallMs: Long, taskTimeMs: Long, cpuMs: Long, gcMs: Long,
    deserializeMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, inputBytes: Long, spillBytes: Long)

/** The Spark work one block started: its jobs, each of their completed
  * stages, and the most records any one of their tasks read (shuffle or
  * input) — the "did one task get the whole bucket" probe — plus the
  * block's wall seconds.
  */
final case class SparkWork(jobs: Int, stages: Seq[StageWork],
    maxTaskRecords: Long, seconds: Double) {
  def shuffleRecords: Long = stages.map(_.shuffleWriteRecords).sum
  def shuffleBytes: Long = stages.map(_.shuffleWriteBytes).sum
}

object SparkWork {

  /** Spark's job-tag property key (`SparkContext.SPARK_JOB_TAGS`). */
  private val TagsKey = "spark.job.tags"
  private val nextTag = new AtomicLong(0L)

  /** Runs `body` and returns its result with the Spark work it started.
    * The body's jobs carry a job tag of their own (job tags are thread
    * local, and Spark's stage and broadcast threads inherit them), so
    * stages of jobs started elsewhere on the context while the body runs
    * do not count. Listener events are asynchronous, so the bus is
    * drained before the counts are read.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, SparkWork) = {
    val sc = spark.sparkContext
    val listener = new Listener(s"graft-spark-work-${nextTag.incrementAndGet()}")
    sc.addSparkListener(listener)
    sc.addJobTag(listener.tag)
    try {
      val t0 = System.nanoTime()
      val out = body
      val seconds = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
      (out, listener.work(seconds))
    } finally {
      sc.removeJobTag(listener.tag)
      sc.removeSparkListener(listener)
    }
  }

  private final class Listener(val tag: String) extends SparkListener {
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val jobs = new AtomicInteger(0)
    private val stages = new ConcurrentLinkedQueue[StageWork]()
    private val maxRecords = new AtomicLong(0L)

    def work(seconds: Double): SparkWork =
      SparkWork(jobs.get, stages.asScala.toSeq, maxRecords.get, seconds)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val tags = Option(j.properties).flatMap(p => Option(p.getProperty(TagsKey)))
      if (tags.exists(_.split(",").contains(tag))) {
        jobs.incrementAndGet()
        j.stageIds.foreach(stageIds.add)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(e.stageInfo.stageId)) stages.add(stage(e.stageInfo))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageIds.contains(e.stageId))
        maxRecords.getAndAccumulate(math.max(m.shuffleReadMetrics.recordsRead,
          m.inputMetrics.recordsRead), math.max(_, _))
    }
  }

  private def stage(si: StageInfo): StageWork = {
    val m = si.taskMetrics
    val wall = (for { a <- si.completionTime; b <- si.submissionTime }
      yield a - b).getOrElse(0L)
    StageWork(si.name, si.details, si.numTasks, wall, m.executorRunTime,
      m.executorCpuTime / 1000000L, m.jvmGCTime, m.executorDeserializeTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.inputMetrics.bytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
}
