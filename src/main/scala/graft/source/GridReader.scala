package graft.source

import java.time.{Duration, Instant}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

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
  * spark.read.format(format).load(prunedPaths: _*)  // Spark lists + infers
  *   // location := one partition per GridFile, value time = GridFile.ts
  *   .filter(col("h").between(snapLo, snapHi))      // pushed to the scan
  * }}}
  *
  * Deliberate, semantics-preserving divergences from the reference
  * (SURVEY §7.4):
  *   - time comes from file provenance, not from positional `np.repeat`
  *     over collected row order (`kamodo_dask.py:278-287`) —
  *     order-independent, shuffle-safe, and correct for ragged cadences
  *     (missing timesteps). Each file's timestamp is the UTC instant
  *     [[GridCatalog.discover]] parsed from its name (the one `prune` selects
  *     by), served as a partition value: the scan appends it as a constant
  *     column, with no per-row string work and no session-time-zone parse;
  *   - the h-filter is a Catalyst predicate, so it pushes down to parquet
  *     row-group statistics instead of running after a full read
  *     (`kamodo_dask.py:247-249` filters post-scan). `time` is a
  *     deterministic partition column, so the h-filter reaches the scan
  *     wherever it sits in the plan, and a `time` predicate prunes files;
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
  import GridReader._

  private def read(paths: Seq[String]) =
    spark.read.format(format).options(localReadOptions(spark, dir))
      .options(options).load(paths: _*)

  def files(): Seq[GridFile] = discover(spark, dir, prefix, postfix)

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
    // each file holds the full spatial grid (reference invariant,
    // `kamodo_dask.py:279`), so the first one carries the whole h axis
    val (snapLo, snapHi) =
      snapOutward(GridBuilder.axes(read(Seq(all.head.path)), Seq(hColumn))(0), hLo, hHi)
    window(pruned).filter(col(hColumn).cast("double").between(snapLo, snapHi))
  }

  /** R1 reformulated: `files` read as one relation whose partition column
    * `time` holds each row's file timestamp ([[GridFile.ts]]), not a
    * value derived from collected row position. Spark resolves the files
    * (listing, schema, format, options); only the relation's file index is
    * swapped for one that tags each file's leaf files with its timestamp.
    */
  def window(files: Seq[GridFile]): DataFrame =
    read(files.map(_.path)).queryExecution.analyzed match {
      case LogicalRelation(rel: HadoopFsRelation, _, _, _, _) =>
        require(rel.partitionSchema.isEmpty,
          s"grid files under $dir carry partition columns " +
            rel.partitionSchema.fieldNames.mkString(", "))
        val index = new WindowIndex(spark, files, rel.location)
        spark.baseRelationToDataFrame(rel.copy(
          location = index, partitionSchema = index.partitionSchema)(
          rel.sparkSession))
      case plan =>
        throw new IllegalArgumentException(
          s"format $format does not read as a file relation: ${plan.nodeName}")
    }
}

object GridReader {

  /** A fixed window of grid files: one partition per [[GridFile]], holding
    * the leaf files Spark listed under it, with the file's timestamp as the
    * partition value.
    */
  private final class WindowIndex(spark: SparkSession,
      files: Seq[GridCatalog.GridFile], listed: FileIndex)
      extends FileIndex {

    override val partitionSchema: StructType =
      StructType(Seq(StructField("time", TimestampType)))

    private val partitions: Seq[PartitionDirectory] = {
      // Spark lists qualified paths; the grid files share one directory
      val fs = new Path(files.head.path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val owner = files.map(f => fs.makeQualified(new Path(f.path)) -> f).toMap
      def ownerOf(leaf: Path): GridCatalog.GridFile =
        Iterator.iterate(leaf)(_.getParent).takeWhile(_ != null)
          .flatMap(owner.get).nextOption().getOrElse(throw new IllegalStateException(
            s"listed file $leaf lies under none of the window's grid files"))
      val leaves = listed.listFiles(Nil, Nil).flatMap(_.files).groupBy(l => ownerOf(l.getPath))
      files.flatMap(f => leaves.get(f).map(ls =>
        PartitionDirectory(InternalRow(DateTimeUtils.instantToMicros(f.ts)), ls)))
    }

    override def rootPaths: Seq[Path] = listed.rootPaths

    /** Applies the partition filters here: `FileSourceStrategy` does not
      * re-apply them after the scan.
      */
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty) partitions
      else {
        val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
          case a: AttributeReference => BoundReference(0, a.dataType, a.nullable)
        })
        keep.initialize(0)
        partitions.filter(p => keep.eval(p.values))
      }

    override def inputFiles: Array[String] =
      partitions.flatMap(_.files.map(_.getPath.toString)).toArray

    override def refresh(): Unit = ()

    override def sizeInBytes: Long = partitions.flatMap(_.files).map(_.getLen).sum
  }
}
