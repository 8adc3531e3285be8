package graft

import graft.operators.DriverTier

/** [[DriverTier.collectBounded]], the one driver-tier probe: all rows up
  * to the bound, `None` one row past it, and `None` without a job for a
  * bound that switches the tier off.
  */
class DriverTierSpec extends SparkSuite {

  test("collectBounded returns all rows up to the bound, None past it, " +
      "and runs no job for an off bound") {
    val bound = 100L
    def frame(n: Long) = spark.range(0, n, 1, 4).toDF()
    val (at, atWork) = sparkWork(DriverTier.collectBounded(frame(bound), bound))
    assert(at.map(_.map(_.getLong(0)).sorted.toSeq) ==
      Some((0L until bound).toSeq))
    assert(atWork.jobs > 0, atWork)
    assert(DriverTier.collectBounded(frame(bound + 1), bound).isEmpty)
    for (off <- Seq(0L, -1L, Int.MaxValue.toLong)) {
      val (got, work) = sparkWork(DriverTier.collectBounded(frame(10), off))
      assert(got.isEmpty, s"bound $off")
      assert(work.jobs == 0, s"bound $off ran $work")
    }
  }
}
