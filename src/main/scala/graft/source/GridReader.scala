package graft.source

import java.time.{Duration, Instant}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.interp.GridBuilder

/** Windowed fetch over a time-partitioned grid dataset — the Spark shape of
  * the reference's production entry point `df_from_dask`
  * (`kamodo_dask/kamodo_dask.py:185-298`, SURVEY §3 E1).
  *
  * The whole reference pipeline (discover → validate → scan → filter →
  * repartition → persist → collect → positional time-stamping) collapses to
  * one declarative plan:
  *
  * {{{
  * spark.read.parquet(prunedPaths: _*)
  *   .filter(col("h").between(snapLo, snapHi))   // BEFORE the time column:
  *   .withColumn("time",                         // input_file_name() is
  *     to_timestamp(regexp_extract(              // nondeterministic and
  *       input_file_name(), TS, 1)))             // blocks pushdown through it
  * }}}
  *
  * Deliberate, semantics-preserving divergences from the reference
  * (SURVEY §7.4):
  *   - time comes from file provenance (`input_file_name`), not from
  *     positional `np.repeat` over collected row order
  *     (`kamodo_dask.py:278-287`) — order-independent, shuffle-safe, and
  *     correct for ragged cadences (missing timesteps);
  *   - the h-filter is a Catalyst predicate, so it pushes down to parquet
  *     row-group statistics instead of running after a full read
  *     (`kamodo_dask.py:247-249` filters post-scan);
  *   - no hand-rolled retry/rebalance loop (`kamodo_dask.py:259-276`) —
  *     Spark task retry + AQE already cover it.
  *
  * @param cadence file cadence (reference `freq='10T'`, `kamodo_dask.py:63`)
  */
final class GridReader(
    spark: SparkSession,
    dir: String,
    prefix: String = "",
    postfix: String = ".parquet",
    cadence: Duration = Duration.ofMinutes(10),
    format: String = "parquet",
    options: Map[String, String] = Map.empty) {

  import GridCatalog._

  private def read(paths: Seq[String]) =
    spark.read.format(format).options(options).load(paths: _*)

  def files(): Seq[GridFile] = discover(spark, dir, prefix, postfix)

  /** Sorted distinct values of a grid axis column, read once from the
    * first file (each file holds the full spatial grid — reference
    * invariant, `kamodo_dask.py:279`). Small enough to collect.
    */
  def axisValues(column: String): Array[Double] = {
    val fs = files()
    require(fs.nonEmpty, s"no grid files found under $dir")
    axisValuesFrom(fs.head.path, column)
  }

  /** Axis values from a specific file — lets [[fetch]] reuse its own
    * listing instead of listing the directory a second time.
    */
  def axisValuesFrom(path: String, column: String): Array[Double] =
    GridBuilder.axis(read(Seq(path)), column)

  /** Fetch a `[start,end] × [hLo,hHi]` window as a long-form DataFrame with
    * a provenance-derived `time` column. Request validation follows the
    * reference: cadence-aligned rounding (T1), snap-outward on h (F5),
    * error on an empty file window (V2, `kamodo_dask.py:210-211`).
    *
    * @param strictInterior when true, replicate V1 (`kamodo_dask.py:218-224`):
    *   require start/end strictly inside the available file range.
    */
  def fetch(start: Instant, end: Instant, hLo: Double, hHi: Double,
      hColumn: String = "h", strictInterior: Boolean = false): DataFrame = {
    val s = floorTo(start, cadence)
    val e = ceilTo(end, cadence)
    val all = files()
    require(all.nonEmpty, s"no grid files found under $dir")
    if (strictInterior) {
      require(s.isAfter(all.head.ts) && e.isBefore(all.last.ts),
        s"requested window [$s,$e] not strictly inside available " +
          s"[${all.head.ts},${all.last.ts}]")
    }
    val pruned = prune(all, s, e)
    require(pruned.nonEmpty, s"no grid files in window [$s,$e]")
    val (snapLo, snapHi) =
      snapOutward(axisValuesFrom(all.head.path, hColumn), hLo, hHi)
    // filter BEFORE the provenance-time projection: input_file_name() is
    // nondeterministic, and Catalyst refuses to push any predicate through
    // a nondeterministic projection — filtering after withFileTime left
    // the h BETWEEN predicate above the scan (no PushedFilters, every row
    // group decompressed; caught by a plan audit, then pinned by
    // GridEngineSpec's pushdown assertion)
    withFileTime(read(pruned.map(_.path))
      .filter(col(hColumn).cast("double").between(snapLo, snapHi)))
  }

  /** R1 reformulated: derive each row's timestep from the file it came
    * from, not from collected row position.
    */
  def withFileTime(df: DataFrame, timeColumn: String = "time"): DataFrame =
    df.withColumn(timeColumn,
      to_timestamp(regexp_extract(input_file_name(), TsRegex, 1),
        "yyyy-MM-dd'T'HH:mm:ss"))
}
