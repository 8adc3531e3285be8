package graft.interp

import java.util.Arrays

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import graft.model.RegularGrid

/** Build [[RegularGrid]]s from a long-form grid DataFrame
  * `(time, lon, lat, h, var…)` — the Spark shape of the reference's
  * `KamodoDask.__init__` + `initialize_interpolators`
  * (`kamodo_dask/kamodo_dask.py:301-338`, SURVEY §3 E2).
  *
  * One window costs one Spark job, with no shuffle and no persist:
  *
  *   - one `mapPartitions` pass over the selected `(axis…, value…)`
  *     doubles; each task returns its partition's columns as primitive
  *     arrays plus each axis's sorted distinct values;
  *   - axis extraction (R3): the driver merges the small per-partition axis
  *     sets into the global sorted axes, replacing pandas MultiIndex levels
  *     (`kamodo_dask.py:308-317`); a timestamp `time` column is cast to
  *     double = float seconds since epoch, the reference's interpolation
  *     space (`kamodo_dask.py:309`);
  *   - dense pivot (R2): each row goes to its C-order slot by binary search
  *     on each axis, replacing `values.reshape(...)`
  *     (`kamodo_dask.py:325-334`) — independent of source row/partition
  *     order (the invariant the reference's positional logic lacks,
  *     SURVEY §7.4);
  *   - NaN or null → fillValue at grid construction (`fillna`,
  *     `kamodo_dask.py:334`).
  *
  * Exact density: the row count must equal the product of the axis lengths
  * and no slot may be written twice, so a duplicated combination masking a
  * missing one is rejected instead of misaligning every later cell.
  * `-0.0` and `0.0` are one axis plane (as Spark's `distinct` treats them);
  * a null or NaN axis coordinate fails loudly.
  *
  * Driver-mode by design: the collect bounds this tier to grids that fit
  * one machine — the reference's own operating envelope. Larger grids use
  * [[BroadcastInterpolator]] (≤ a few GB) or [[JoinInterpolator]] (100 TB).
  */
object GridBuilder {

  val DefaultAxes: Seq[String] = Seq("time", "lon", "lat", "h")

  /** Sorted distinct values of each listed axis column (cast to double), in
    * one shuffle-free job: each task sorts its partition's values per axis,
    * the driver merges the tiny per-partition sets. Coordinates follow
    * [[fromLongForm]]: `-0.0` is the `0.0` plane, null or NaN fails.
    */
  def axes(df: DataFrame, columns: Seq[String]): Array[Array[Double]] = {
    val d = columns.length
    val parts = perPartition(df.select(columns.map(c => col(c).cast("double")): _*),
      "GridBuilder.axes") { rows => readColumns(rows, d, d).map(sortedDistinct) }
    Array.tabulate(d)(k => mergeAxis(columns(k), parts.map(_(k))))
  }

  /** One partition's columns: `coords(k)` and `values(v)` per row, plus the
    * sorted distinct values of each axis.
    */
  private final class Slice(
      val coords: Array[Array[Double]],
      val distinct: Array[Array[Double]],
      val values: Array[Array[Double]])
      extends Serializable

  /** Build one grid per value column; all value columns share the axes. */
  def fromLongForm(df: DataFrame, valueCols: Seq[String],
      axisCols: Seq[String] = DefaultAxes, fillValue: Double = 0.0)
      : Map[String, RegularGrid] = {
    require(axisCols.nonEmpty, "at least one axis required")
    val d = axisCols.length
    val m = valueCols.length
    // value columns are backtick-quoted: name[units] names may contain
    // dots (e.g. kg.m-3) that col() would otherwise parse as field access
    val selected = df.select(axisCols.map(a => col(a).cast("double")) ++
      valueCols.map(v => col(s"`$v`").cast("double")): _*)
    val slices = perPartition(selected, "GridBuilder.fromLongForm") { rows =>
      val cols = readColumns(rows, d + m, d)
      new Slice(cols.take(d), cols.take(d).map(sortedDistinct), cols.drop(d))
    }
    val axes = Array.tabulate(d)(k => mergeAxis(axisCols(k), slices.map(_.distinct(k))))
    val expected = axes.map(_.length.toLong).product
    val rowCount = slices.map(_.coords(0).length.toLong).sum
    require(rowCount == expected,
      s"grid is not dense: $rowCount rows != ${axes.map(_.length).mkString("×")} = $expected " +
        "(every axis combination must appear exactly once)")
    require(expected <= Int.MaxValue, s"grid size $expected exceeds Int.MaxValue")
    val strides = new Array[Int](d)
    strides(d - 1) = 1
    for (k <- d - 2 to 0 by -1) strides(k) = strides(k + 1) * axes(k + 1).length
    val values = Array.fill(m)(new Array[Double](expected.toInt))
    val written = new java.util.BitSet(expected.toInt)
    slices.foreach { s =>
      var i = 0
      while (i < s.coords(0).length) {
        var slot = 0
        var k = 0
        while (k < d) {
          slot += Arrays.binarySearch(axes(k), s.coords(k)(i)) * strides(k)
          k += 1
        }
        require(!written.get(slot),
          s"grid is not dense: axis combination " +
            axisCols.indices.map(k => s"${axisCols(k)}=${s.coords(k)(i)}").mkString("(", ", ", ")") +
            " appears more than once (duplicate or missing axis combination)")
        written.set(slot)
        var v = 0
        while (v < m) { values(v)(slot) = s.values(v)(i); v += 1 }
        i += 1
      }
    }
    valueCols.zip(values).map { case (v, vs) =>
      v -> new RegularGrid(axes, vs, fillValue)
    }.toMap
  }

  /** Run `f` once per partition of `df` in one job, tracked as a SQL
    * execution so query listeners see it like any Dataset action.
    */
  private def perPartition[T: ClassTag](df: DataFrame, name: String)(
      f: Iterator[InternalRow] => T): Array[T] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      qe.toRdd.mapPartitions(rows => Iterator.single(f(rows))).collect()
    }
  }

  /** Copy `width` double columns out of internal rows; null reads as NaN.
    * The first `nAxes` columns are coordinates: `+ 0.0` folds `-0.0` onto
    * the `0.0` plane.
    */
  private def readColumns(rows: Iterator[InternalRow], width: Int, nAxes: Int)
      : Array[Array[Double]] = {
    val cols = Array.fill(width)(new ArrayBuilder.ofDouble)
    rows.foreach { r =>
      var j = 0
      while (j < width) {
        cols(j) += (if (r.isNullAt(j)) Double.NaN
          else if (j < nAxes) r.getDouble(j) + 0.0 else r.getDouble(j))
        j += 1
      }
    }
    cols.map(_.result())
  }

  /** Sorted distinct copy of `a` (NaNs sort last). */
  private def sortedDistinct(a: Array[Double]): Array[Double] = {
    val s = a.clone()
    Arrays.sort(s)
    var n = 0
    var i = 0
    while (i < s.length) {
      if (n == 0 || s(i) != s(n - 1)) { s(n) = s(i); n += 1 }
      i += 1
    }
    Arrays.copyOf(s, n)
  }

  /** Merge per-partition sorted distinct sets into one axis; a null or NaN
    * coordinate cannot be placed on a grid, so it fails here.
    */
  private def mergeAxis(column: String, parts: Array[Array[Double]]): Array[Double] = {
    val a = sortedDistinct(parts.flatten)
    require(a.isEmpty || !a.last.isNaN,
      s"axis $column has a null or NaN coordinate")
    a
  }
}
