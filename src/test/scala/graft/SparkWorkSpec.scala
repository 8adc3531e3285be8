package graft

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions.col

class SparkWorkSpec extends SparkSuite {

  private def body(): Long =
    spark.range(0, 2000, 1, 4).groupBy((col("id") % 7).as("k")).count()
      .collect().map(_.getLong(1)).sum

  test("sparkWork counts only the body's jobs, not a concurrent job's") {
    body() // warm-up: the measured runs below see the same plans
    val (n, alone) = sparkWork(body())
    assert(n == 2000L)
    assert(alone.jobs > 0 && alone.shuffleRecords > 0L, alone)

    // a job started on a thread that existed before the window opened
    // carries no tag of the window, and finishes inside it
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val other = new Thread(() => {
      go.await()
      try spark.range(0, 5000, 1, 4).repartition(3).count()
      finally done.countDown()
    })
    other.start()
    val (m, crowded) = sparkWork {
      go.countDown()
      done.await()
      body()
    }
    other.join()
    assert(m == 2000L)
    assert(crowded.jobs == alone.jobs, s"$crowded vs $alone")
    assert(crowded.stages.size == alone.stages.size, s"$crowded vs $alone")
    assert(crowded.shuffleRecords == alone.shuffleRecords,
      s"$crowded vs $alone")
    assert(crowded.shuffleBytes == alone.shuffleBytes, s"$crowded vs $alone")
    assert(crowded.maxTaskRecords == alone.maxTaskRecords,
      s"$crowded vs $alone")
  }
}
