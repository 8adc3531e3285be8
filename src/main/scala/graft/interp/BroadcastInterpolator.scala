package graft.interp

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{array, lit, udf, when}

import graft.model.RegularGrid

/** Tier-2 interpolation (SURVEY §2.8): ship the dense grid to every executor
  * once via `SparkContext.broadcast` and evaluate an arbitrarily large
  * DataFrame of query points with a scalar UDF — the distributed upgrade of
  * the reference's driver-only `rgi(xvec)` evaluation
  * (`kamodo_dask/kamodo_dask.py:339-341`), suitable while the grid itself
  * fits in executor memory (≤ a few GB).
  */
final class BroadcastInterpolator(bc: Broadcast[RegularGrid]) extends Serializable {

  /** Column expression interpolating at (time, lon, lat, h); time must
    * already be in double epoch-seconds (`cast("double")` on a timestamp).
    */
  def apply(time: Column, lon: Column, lat: Column, h: Column): Column =
    applySeq(Seq(time, lon, lat, h))

  /** Arity-generic form: interpolate at (c_0, …, c_{d-1}) for a d-dim
    * grid. Null coordinates short-circuit to fillValue (matching
    * [[JoinInterpolator]]'s out-of-hull semantics) instead of reaching the
    * UDF, where a null array element would either NPE or unbox to 0.0.
    */
  def applySeq(cols: Seq[Column]): Column = eval(cols)(_.interpolate(_))

  /** [[applySeq]]'s nearest-neighbor sibling — evaluates
    * [[graft.model.RegularGrid.interpolateNearest]] over the same
    * broadcast grid with the same null/out-of-hull fill semantics.
    */
  def applyNearestSeq(cols: Seq[Column]): Column = eval(cols)(_.interpolateNearest(_))

  private def eval(cols: Seq[Column])(method: (RegularGrid, Array[Double]) => Double): Column = {
    val g = bc
    val f = udf((p: Seq[Double]) => method(g.value, p.toArray))
    when(cols.map(_.isNull).reduce(_ || _), lit(g.value.fillValue))
      .otherwise(f(array(cols: _*)))
  }

  def grid: RegularGrid = bc.value
}

object BroadcastInterpolator {
  def apply(spark: SparkSession, grid: RegularGrid): BroadcastInterpolator =
    new BroadcastInterpolator(spark.sparkContext.broadcast(grid))
}
