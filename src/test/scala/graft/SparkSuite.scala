package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Spark work one block started: its jobs, and the shuffle records and
  * bytes its stages wrote.
  */
final case class SparkWork(jobs: Int, shuffleRecords: Long, shuffleBytes: Long)

/** Shared local SparkSession for test suites (one per suite, lazy). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    // match Bench/Verify: AQE may re-coalesce cached-plan reads
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Runs `body` and returns its result with the Spark work it started.
    * Listener events are asynchronous, so the bus is drained before the
    * listener is added (earlier jobs must not count) and before the counts
    * are read (every event of `body` must have arrived).
    */
  def sparkWork[T](body: => T): (T, SparkWork) = {
    val jobs = new AtomicInteger(0)
    val records = new AtomicLong(0L)
    val bytes = new AtomicLong(0L)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val w = sc.stageInfo.taskMetrics.shuffleWriteMetrics
        records.addAndGet(w.recordsWritten)
        bytes.addAndGet(w.bytesWritten)
      }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, SparkWork(jobs.get, records.get, bytes.get))
    } finally sc.removeSparkListener(listener)
  }
}
