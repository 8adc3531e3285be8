package graft.tools

import org.apache.spark.sql.functions._

import graft.api.GridFields
import graft.interp.{BroadcastInterpolator, GridBuilder, JoinInterpolator}
import graft.source.{GridFixtures, GridReader}

/** Interpolation throughput bench (BASELINE.md engine-side targets):
  * evaluates N random points through each tier on the 13-step fixture grid
  * (13×19×9×13 ≈ 29k nodes, 2 variables) and prints one JSON line of
  * points/sec per mode. `runMain graft.tools.GridBench [nPoints]`
  */
object GridBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 2000000
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = GridFixtures.ensure(spark, "bench13", n = 13)
    val reader = new GridReader(spark, dir)
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df)
    val t0s = GridFixtures.t0.getEpochSecond.toDouble

    // deterministic pseudo-random in-hull points, distributed
    val pts = spark.range(n.toLong).select(
      col("id"),
      (lit(t0s) + pmod(hash(col("id"), lit(1)).cast("double"), lit(7200.0))).as("t"),
      pmod(hash(col("id"), lit(2)).cast("double"), lit(360.0)).as("lon"),
      (pmod(hash(col("id"), lit(3)).cast("double"), lit(160.0)) - 80.0).as("lat"),
      (lit(250000.0) + pmod(hash(col("id"), lit(4)).cast("double"), lit(150000.0))).as("h"))
      .persist()
    pts.count()

    def time(body: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val rows = body
      (rows, (System.nanoTime() - t0) / 1e9)
    }

    // driver mode: single-threaded kernel on collected sample (reference
    // operating mode) — measured on n/20 points to keep it quick
    val sample = pts.limit(math.max(n / 20, 1)).collect()
      .map(r => Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val g = kd.grid("T")
    val (dn, dSec) = time {
      var i = 0; var acc = 0.0
      while (i < sample.length) { acc += g.interpolate(sample(i)); i += 1 }
      sample.length.toLong + (if (acc == Double.MinValue) 1 else 0)
    }

    // broadcast mode: UDF over the distributed point set
    val bi = BroadcastInterpolator(spark, g)
    val (bn, bSec) = time {
      pts.select(bi(col("t"), col("lon"), col("lat"), col("h")).as("v"))
        .filter(col("v").isNotNull).count()
    }

    // join mode: corner-join plan, no grid broadcast
    val gridDf = df.withColumn("time", col("time").cast("double")).persist()
    val axes = Array(
      GridBuilder.axes(gridDf, Seq("time"))(0), GridFixtures.lonAxis,
      GridFixtures.latAxis, GridFixtures.hAxis)
    val (jn, jSec) = time {
      JoinInterpolator.interpolate(
        pts.withColumnRenamed("t", "time"), "id", gridDf, axes,
        Seq("T[K]")).count()
    }

    // canonical workload (reference envelope): 2-h window fetch (13 files,
    // h-band filter, provenance time) + full materialization
    val (fn2, fSec) = time {
      reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
        292500.0, 357500.0).count()
    }

    println(s"""{"metric":"interp_points_per_sec","grid_nodes":${g.values.length},""" +
      s""""driver":${(dn / dSec).toLong},"broadcast":${(bn / bSec).toLong},""" +
      s""""join":${(jn / jSec).toLong},"n_points":$n,""" +
      s""""window_fetch_rows_per_sec":${(fn2 / fSec).toLong},"window_fetch_sec":$fSec}""")
    spark.stop()
  }
}
