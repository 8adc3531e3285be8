package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The driver tier: how many rows a query may pull to the driver when the
  * size is set by the data's duplicate or graph structure rather than by
  * construction — the near-dup pair lists and pHash edges the session memo
  * holds (their component maps have at most twice as many rows), and the
  * edge lists PageRank and triangle counting fold on the driver. 200k
  * two-long rows are about 3 MB. Past it each site keeps its distributed
  * path.
  */
object DriverTier {
  val MaxRows: Long = 200000L

  /** `df`'s rows when there are at most `bound` of them, else `None`.
    *
    * One `limit(bound + 1)` collect decides it: the limit short-circuits,
    * so a frame past the bound costs one bounded scan rather than a full
    * pass, and a frame within it is collected by the same job. A bound
    * outside `1 until Int.MaxValue` (a site's "off" switch, the memo's
    * raw −1, or a limit Spark cannot express) returns `None` without
    * running a job. Callers screen the rows (null ids, id types) as
    * their fast path needs and keep their distributed path for `None`.
    */
  def collectBounded(df: DataFrame, bound: Long): Option[Array[Row]] =
    if (bound <= 0 || bound >= Int.MaxValue) None
    else Some(df.limit(bound.toInt + 1).collect()).filter(_.length <= bound)
}
