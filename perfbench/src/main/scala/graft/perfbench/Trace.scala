package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a layer boundary crossed by the benchmark. Spans of
  * one window request share `request`; `parent` is the enclosing span's id
  * (-1 at the top).
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, request: Int)

/** Spans and counts recorded from the benchmark's own calls into the
  * engine, plus Spark's own view of the same interval from a SparkListener
  * and a QueryExecutionListener. Everything stays in memory until the run
  * ends. A disabled trace records nothing and registers no listener, so
  * the untraced runs that produce the end-to-end metrics pay for none of
  * it.
  *
  * Jobs and stages are attributed to the innermost open span through the
  * `perfbench.span` local property, which Spark copies onto every job and
  * stage submitted from this thread.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val tally = mutable.LinkedHashMap.empty[String, Double]
  private var open: List[Span] = Nil
  private var nextId = 0
  private var requestId = -1
  private var spark: SparkSession = _

  /** Per-span-name Spark accounting, filled by the listener thread. */
  final class SparkCounts {
    var jobs, stages, tasks = 0L
    var stageWallMs, runMs, cpuNs = 0L
    var shuffleWrite, shuffleRead, spill, resultBytes = 0L
    var bytesRead, recordsRead = 0L
  }
  private val byName = new java.util.concurrent.ConcurrentHashMap[String, SparkCounts]
  /** Job id -> (span, start ms, end ms). */
  private val jobIntervals =
    new java.util.concurrent.ConcurrentHashMap[Int, (String, Array[Long])]
  private val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, Long]
  @volatile private var measureFromMs = Long.MaxValue

  private def counts(name: String): SparkCounts =
    byName.computeIfAbsent(name, _ => new SparkCounts)

  private object listener extends SparkListener {
    private def spanOf(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty("perfbench.span")))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        counts(s).synchronized(counts(s).jobs += 1)
        jobIntervals.put(e.jobId, (s, Array(e.time, Long.MaxValue)))
      }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobIntervals.get(e.jobId)).foreach(_._2(1) = e.time)

    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(stageSpan.put(e.stageInfo.stageId, _))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.remove(e.stageInfo.stageId)).foreach { s =>
        val i = e.stageInfo
        val c = counts(s)
        c.synchronized {
          c.stages += 1
          c.tasks += i.numTasks
          for (a <- i.submissionTime; b <- i.completionTime) c.stageWallMs += b - a
          Option(i.taskMetrics).foreach { m =>
            c.runMs += m.executorRunTime
            c.cpuNs += m.executorCpuTime
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.spill += m.diskBytesSpilled
            c.resultBytes += m.resultSize
            c.bytesRead += m.inputMetrics.bytesRead
            c.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        if (s.startTimeMs >= measureFromMs) phaseMs.merge(phase, s.durationMs, _ + _)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attach to a (new) session. Listeners go on every session the run
    * builds, but only jobs submitted inside a span are counted.
    */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(qeListener)
    }
  }

  private var gcAtStart = 0L
  private var measureStartNs, measureEndNs = 0L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Names of the spans opened inside the measured loop: the workload
    * totals cover these only, not ops timed on their own after the loop.
    */
  private val loopSpans = mutable.Set.empty[String]
  private var measuring = false

  def startMeasuring(): Unit = {
    measuring = true
    measureFromMs = System.currentTimeMillis()
    measureStartNs = System.nanoTime()
    gcAtStart = gcMs
  }

  private var gcDuring = 0L
  private var untimedTotal, untimedInLoop = 0L

  /** Time spent in [[untimed]] so far. */
  def untimedNs: Long = untimedTotal

  /** Run `body` (a correctness check) outside the measured wall time. */
  def untimed[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally untimedTotal += System.nanoTime() - t0
  }

  def stopMeasuring(): Unit = {
    measuring = false
    measureEndNs = System.nanoTime()
    untimedInLoop = untimedTotal
    gcDuring = gcMs - gcAtStart
    drain()
    measureFromMs = Long.MaxValue
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit =
    if (enabled && !spark.sparkContext.isStopped)
      org.apache.spark.PerfbenchInternals.drainListenerBus(spark.sparkContext)

  /** Run `body` as one request: a `request` span whose spans share a
    * fresh request id.
    */
  def request[A](body: => A): A = {
    requestId += 1
    span("request")(body)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("perfbench.span")
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_.id).getOrElse(-1)
      val start = System.nanoTime()
      open = Span(id, name, start, 0L, parent, requestId) :: open
      if (measuring) loopSpans += name
      sc.setLocalProperty("perfbench.span", name)
      try body
      finally {
        sc.setLocalProperty("perfbench.span", outer)
        open = open.tail
        spans += Span(id, name, start, System.nanoTime(), parent, requestId)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) tally(name) = tally.getOrElse(name, 0.0) + v

  // ---- aggregation -------------------------------------------------------

  /** Total wall time of spans named `name`, in ms. */
  def spanMs(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum

  def countOf(name: String): Double = tally.getOrElse(name, 0.0)

  /** Spark accounting summed over span names accepted by `p`. */
  def sparkSum(p: String => Boolean)(f: SparkCounts => Long): Long =
    byName.asScala.iterator.filter(e => p(e._1)).map(e => f(e._2)).sum

  /** The measurement window's Spark, Catalyst and JVM totals. */
  def workloadLayers(cores: Int): Seq[(String, Double)] = {
    val loop = (s: String) => loopSpans.contains(s)
    val wallMs = (measureEndNs - measureStartNs - untimedInLoop) / 1e6
    // union of job intervals: the time at least one job was running
    val ivs = jobIntervals.values.asScala.toSeq.collect {
      case (s, a) if loop(s) => (a(0), a(1))
    }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e0) =>
      val e = if (e0 == Long.MaxValue) s else e0
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    Seq(
      "spark.jobs" -> sparkSum(loop)(_.jobs).toDouble,
      "spark.stages" -> sparkSum(loop)(_.stages).toDouble,
      "spark.tasks" -> sparkSum(loop)(_.tasks).toDouble,
      "spark.stage_wall_ms" -> sparkSum(loop)(_.stageWallMs).toDouble,
      "spark.driver_gap_ms" -> math.max(0.0, wallMs - covered),
      "spark.task_cpu_ms" -> sparkSum(loop)(_.cpuNs) / 1e6,
      "spark.core_busy_frac" -> sparkSum(loop)(_.runMs) / (wallMs * cores),
      "spark.shuffle_write_bytes" -> sparkSum(loop)(_.shuffleWrite).toDouble,
      "spark.shuffle_read_bytes" -> sparkSum(loop)(_.shuffleRead).toDouble,
      "spark.spill_bytes" -> sparkSum(loop)(_.spill).toDouble,
      "spark.result_bytes" -> sparkSum(loop)(_.resultBytes).toDouble,
      "catalyst.analysis_ms" -> phaseMs.getOrDefault("analysis", 0L).toDouble,
      "catalyst.optimization_ms" -> phaseMs.getOrDefault("optimization", 0L).toDouble,
      "catalyst.planning_ms" -> phaseMs.getOrDefault("planning", 0L).toDouble,
      "jvm.gc_ms" -> gcDuring.toDouble)
  }

  /** Every span as one JSON object per line. */
  def spanLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
      s""""end_ns":${s.endNs},"parent":${s.parent},"request":${s.request}}"""
  }
}
