package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.api.GridFields
import graft.source.GridCatalog

/** Streaming face of the grid engine (SURVEY §2.9): the reference's latent
  * design — a new parquet file lands every 10 minutes and consumers
  * re-query "now − 2 days" windows (`test/test_parquet_prod.py:22-26`,
  * refresh note `docs/interpolator.md:25`) — expressed as Structured
  * Streaming instead of poll-and-refetch.
  *
  * Files are atomic per-timestep, so a watermark of ~2 cadences bounds
  * state; there are no late rows *within* a file, only late files.
  */
object GridStream {

  /** File-cadence source: stream the time-partitioned directory, deriving
    * each row's timestep from its file name (the same provenance rule as
    * the batch [[graft.source.GridReader.window]] — order- and
    * trigger-independent). Unlike the batch relation, this parses the
    * timestamp out of `input_file_name()` on every row: a streaming file
    * source lists new files itself each trigger and cannot take the batch
    * reader's per-file index.
    */
  def cadenceStream(
      spark: SparkSession,
      dir: String,
      schema: StructType,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // Qualify the root and list recursively instead of globbing: Hadoop's
    // Globber cannot handle the colon-bearing timestep names the
    // reference's filename convention produces (it parses "2024-04-09T06:…"
    // as a URI scheme). Listing has no such limit, and `_`/`.`-prefixed
    // files are ignored automatically.
    val p = new org.apache.hadoop.fs.Path(dir)
    val qualified = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    spark.readStream
      .options(GridCatalog.localReadOptions(spark, dir))
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("recursiveFileLookup", "true")
      .parquet(qualified)
      // the stamp is UTC (GridCatalog.parseTs): parse it with an explicit
      // zero offset, not in the session time zone
      .withColumn("time",
        to_timestamp(
          concat(regexp_extract(input_file_name(), GridCatalog.TsRegex, 1),
            lit("Z")),
          GridCatalog.TsPattern + "X"))
  }

  /** Watermarked tumbling-window statistics per variable column — the
    * monitoring aggregation over the arriving grid stream. Emits one row
    * per (window, variable-bounds) once the watermark passes.
    */
  def windowedStats(
      stream: DataFrame,
      valueCol: String,
      cadence: Duration = Duration.ofMinutes(10)): DataFrame = {
    // seconds, not minutes: toMinutes would truncate a sub-minute cadence
    // to an invalid "0 minutes" window (and silently misbucket 90s → 1m)
    val w = s"${cadence.toSeconds} seconds"
    stream
      .withWatermark("time", s"${2 * cadence.toSeconds} seconds")
      .groupBy(window(col("time"), w).as("win"))
      .agg(count(lit(1)).as("n_rows"),
        min(valueCol).as("min_v"),
        max(valueCol).as("max_v"),
        avg(valueCol).as("avg_v"))
      .select(col("win.start").as("win_start"), col("n_rows"),
        col("min_v"), col("max_v"), col("avg_v"))
  }

  /** foreachBatch interpolator refresh: after each micro-batch, rebuild
    * the functional registry from the latest `keepSteps` timesteps of the
    * directory (batch read — cheap, pruned) and publish it via `onRefresh`.
    * This is the streaming upgrade of the reference's "re-run the fetch
    * every 10 minutes" loop.
    */
  def refreshingRegistry(
      spark: SparkSession,
      stream: DataFrame,
      dir: String,
      keepSteps: Int,
      onRefresh: GridFields => Unit,
      trigger: Trigger = Trigger.ProcessingTime("10 minutes"))
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    // default trigger keeps refreshing at the file cadence — a hard-coded
    // AvailableNow would drain once and leave the registry permanently
    // stale; tests pass Trigger.AvailableNow() explicitly
    stream.writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        val reader = new graft.source.GridReader(spark, dir)
        val files = reader.files().takeRight(keepSteps)
        if (files.nonEmpty) {
          onRefresh(GridFields.fromDataFrame(reader.window(files)))
        }
      }
  }
}
