package graft.interp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tier-3 interpolation (SURVEY §2.8): pure-DataFrame multilinear
  * interpolation with **no broadcast of the grid values** — the 100 TB path.
  *
  * Formulation: for each query point, compute the per-axis cell index
  * `i = «position of the last grid plane ≤ x»` and fractional offset, expand
  * the point into its 2^d = 16 bracketing corner keys with multilinear
  * weights (`explode`), equi-join corners ↔ grid nodes on the 4 small int
  * indices, and `groupBy(point).agg(sum(weight * value))`. Everything is
  * Catalyst-native — filter/explode/join/hash-agg — so AQE picks
  * broadcast vs shuffle join from runtime stats, and whole-stage codegen
  * covers the arithmetic.
  *
  * Only the **axis arrays** (tiny: distinct coordinates per dimension) are
  * embedded as literals; grid *values* stay distributed. Zero-weight corners
  * are dropped before the join (points exactly on grid planes produce ≤ 8
  * live corners), and out-of-hull points short-circuit to `fillValue`
  * without joining at all (reference `bounds_error=False, fill_value=…`
  * semantics, `kamodo_dask/kamodo_dask.py:335-338`).
  *
  * Scale notes: the corner explosion is the cost driver (≤ 16×) — mitigated
  * by the zero-weight filter and by the join being an equi-join on 4 ints
  * (sort-merge/shuffled-hash friendly; broadcastable when the grid window is
  * small). The grid side is assumed **dense** (every axis combination
  * present — the reference's standing invariant, `kamodo_dask.py:279`).
  */
object JoinInterpolator {

  /** Per-axis cell location for a (possibly non-uniform) rectilinear axis:
    * index of the cell's lower plane (clamped to [0, n-2]), fractional
    * offset in the cell, and out-of-hull flag. Compiled binary search with
    * the (small) axis array captured in the closure — the literal-array
    * HOF scan (`size(filter(axis, p ≤ x))`) is interpreted per element and
    * was the query-side bottleneck at large point counts.
    */
  private[interp] def locate(x: Column, axis: Array[Double]): (Column, Column, Column) = {
    require(axis.length >= 2, "join-mode needs ≥ 2 planes per axis")
    val n = axis.length
    val f = udf((v: Double) => {
      if (v.isNaN || v < axis(0) || v > axis(n - 1)) (0, 0.0, true)
      else {
        val s = java.util.Arrays.binarySearch(axis, v)
        val cell = math.min(math.max(if (s >= 0) s else -s - 2, 0), n - 2)
        val lo = axis(cell); val hi = axis(cell + 1)
        ((cell, (v - lo) / (hi - lo), false))
      }
    })
    // asNondeterministic: stops CollapseProject from inlining the locate
    // call into every one of the 16 corner expressions downstream (it is
    // in fact deterministic; this only pins evaluation to once per row)
    val loc = f.asNondeterministic()(x)
    (loc.getField("_1"), loc.getField("_2"), x.isNull || loc.getField("_3"))
  }

  // Grid-side plane indexing happens via a broadcast equi-join against the
  // tiny (plane, idx) table per axis — not the literal-array scan the query
  // side uses: the grid has |grid| rows and a per-row O(|axis|) interpreted
  // scan would make indexing O(|grid|·|axis|). The join is exact (plane
  // values come from the grid's own distinct values).

  /** Interpolate `valueCols` of a dense long-form grid at every row of
    * `points`.
    *
    * @param points    query points; must contain `idCol` (values UNIQUE —
    *                  the final aggregation groups by it, so duplicate ids
    *                  would sum their interpolations) and the coordinate
    *                  columns (double; time = epoch seconds)
    * @param grid      long-form dense grid `(time, lon, lat, h, value…)`
    * @param axes      the 4 sorted distinct axis arrays (time, lon, lat, h)
    *                  — tiny; from [[GridBuilder.axes]]
    * @return one row per input point: `idCol` + one interpolated column per
    *         value column (same names)
    */
  def interpolate(
      points: DataFrame,
      idCol: String,
      grid: DataFrame,
      axes: Array[Array[Double]],
      valueCols: Seq[String],
      coordCols: Seq[String] = Seq("time", "lon", "lat", "h"),
      fillValue: Double = 0.0): DataFrame = {

    val d = coordCols.length
    require(axes.length == d)

    // --- query side: locate cells, build ≤ 2^d weighted corner keys ---
    val located = coordCols.zipWithIndex.foldLeft(points) { case (df, (c, i)) =>
      val (idx, frac, oob) = locate(col(c).cast("double"), axes(i))
      df.withColumn(s"_i$i", idx).withColumn(s"_f$i", frac).withColumn(s"_o$i", oob)
    }
    val anyOob = (0 until d).map(i => col(s"_o$i")).reduce(_ || _)

    val corners: Column = array((0 until (1 << d)).map { c =>
      val w = (0 until d).map { i =>
        if (((c >> i) & 1) == 1) col(s"_f$i") else lit(1.0) - col(s"_f$i")
      }.reduce(_ * _)
      val fields = (0 until d).map { i =>
        (col(s"_i$i") + lit((c >> i) & 1)).as(s"_c$i")
      } :+ w.as("_w")
      struct(fields: _*)
    }: _*)

    val inHull = located.filter(!anyOob)
      .withColumn("_corner", explode(filter(corners, c => c.getField("_w") =!= 0.0)))
      .select(
        col(idCol) +:
          (0 until d).map(i => col("_corner").getField(s"_c$i").as(s"_c$i")) :+
          col("_corner").getField("_w").as("_w"): _*)

    // --- grid side: exact plane indices per node (broadcast idx joins) ---
    val spark = grid.sparkSession
    import spark.implicits._
    val indexedGrid0 = (0 until d).foldLeft(grid) { (df, i) =>
      val axisDf = axes(i).zipWithIndex.toSeq.toDF(s"_plane$i", s"_c$i")
      df.join(broadcast(axisDf),
        col(coordCols(i)).cast("double") === col(s"_plane$i"))
    }
    val indexedGrid = indexedGrid0.select(
      (0 until d).map(i => col(s"_c$i")) ++
        valueCols.map(v => col(v).cast("double").as(v)): _*)

    // NaN grid cells act as fillValue (reference fillna-at-build,
    // kamodo_dask.py:334)
    val aggs = valueCols.map(v => sum(col("_w") *
      when(col(v).isNaN || col(v).isNull, lit(fillValue)).otherwise(col(v))).as(v))
    val joined = inHull.join(indexedGrid, (0 until d).map(i => s"_c$i"))
      .groupBy(idCol)
      .agg(aggs.head, aggs.tail: _*)

    // Left-join repair guarantees one output row per input point: both
    // out-of-hull points (filtered before the corner join) and in-hull
    // points whose corner keys find no grid rows (axes broader than the
    // grid's actual content — a dense-grid contract violation) coalesce to
    // fillValue instead of vanishing from an inner-join result. This also
    // removes the former oob union branch, so `located` is evaluated once.
    points.select(col(idCol))
      .join(joined, Seq(idCol), "left")
      .select(col(idCol) +:
        valueCols.map(v => coalesce(col(v), lit(fillValue)).as(v)): _*)
  }
}
