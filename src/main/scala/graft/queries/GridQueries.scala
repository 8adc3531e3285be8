package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.interp.{BroadcastInterpolator, GridBuilder, JoinInterpolator}
import graft.util.Fs

/** The core grid-engine operator under the oracle gate: join-mode
  * multilinear interpolation (SURVEY §2.8 tier 3) exercised end-to-end on
  * driver data. The events table bucketed to a 10-minute cadence is a
  * 1-D regular grid — exactly the reference's time axis — and ten probe
  * points are interpolated through the full corner-join machinery
  * (locate → corner explode → equi-join on plane index → weighted agg).
  * DuckDB replays the same linear interpolation with bracketing-plane
  * subqueries, so the operator's arithmetic is hash-checked, not just
  * spec-checked. (The 4-D path is covered by GridEngineSpec against the
  * analytic fixture field.)
  */
object GridQueries {

  private val fracs: Seq[(Int, Double)] =
    (0 until 10).map(i => i -> (0.05 + 0.1 * i))

  /** The events table bucketed to a 10-minute cadence: one row per
    * bucket start `t` (epoch seconds, double) with the given aggregates.
    */
  private def tenMinuteSeries(s: SparkSession, dir: String)(aggs: Column*): DataFrame =
    Tables.events(s, dir)
      .groupBy((floor(unix_timestamp(col("ts")) / 600) * 600).cast("double").as("t"))
      .agg(aggs.head, aggs.tail: _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g5_e2e_fetch" -> ((s, dir) => g5(s, dir)),

    "g1_interp_1d" -> ((s, dir) => {
      import s.implicits._
      // 10-min bucketed series = dense 1-D grid (t in epoch seconds)
      val series = tenMinuteSeries(s, dir)(avg("value").as("v")).persist()
      val axis = GridBuilder.axes(series, Seq("t"))(0)
      val (tMin, tMax) = (axis.head, axis.last)
      val probes = fracs.map { case (i, f) =>
        (i.toLong, tMin + f * (tMax - tMin))
      }.toDF("id", "t")
      QueryCache.resultThenRelease(
        JoinInterpolator.interpolate(
          probes, "id", series, Array(axis), valueCols = Seq("v"),
          coordCols = Seq("t")),
        series)
    }),

    // Multi-variable interpolation under the hash gate: TWO value columns
    // through one corner join — the reference registers one interpolator
    // per variable column over a SHARED grid (kamodo_dask.py:324-351, the
    // per-var registration loop with its documented late-binding-closure
    // divergence), and the engine's per-var semantics ride the same
    // valueCols Seq (GridFieldsSpec covers the registry view). One grid
    // scan, one corner equi-join, one hash agg computing both weighted
    // sums — NOT one pass per variable, which is the point at 100 TB
    // (the reference's per-var interpolators each re-read the window).
    // v1 = avg, v2 = max per cell: max is order-insensitive and avg is
    // the same small-cell fold g1 already hash-matches.
    "g6_interp_multivar" -> ((s, dir) => {
      import s.implicits._
      val series = tenMinuteSeries(s, dir)(avg("value").as("v1"), max("value").as("v2"))
        .persist()
      val axis = GridBuilder.axes(series, Seq("t"))(0)
      val (tMin, tMax) = (axis.head, axis.last)
      val probes = fracs.map { case (i, f) =>
        (i.toLong, tMin + f * (tMax - tMin))
      }.toDF("id", "t")
      QueryCache.resultThenRelease(
        JoinInterpolator.interpolate(
          probes, "id", series, Array(axis), valueCols = Seq("v1", "v2"),
          coordCols = Seq("t")),
        series)
    }),

    // Units algebra under the hash gate — the registration step the
    // reference delegates to kamodo-core: `@kamodofy(units=units)` parses
    // the bracketed unit string and inserts a multiplicative factor when
    // the variable is re-expressed in compatible units
    // (kamodo_dask.py:329-345). g7 runs the whole native path: long-form
    // window → `name[units]` column registration (GridFields) →
    // Units.factor("kg/m^3", "g/cm^3") → scaled grid → driver-tier
    // interpolation. The factor reduces to an integer power of ten
    // ((mantissa, pow10) carried separately — Units.pow10 emits the
    // correctly-rounded decimal double), so it is bit-identical to the
    // oracle's 0.001 literal, and the oracle scales each corner value
    // BEFORE the weighted blend exactly where the engine does (at grid
    // construction) — the hash certifies operation order, not just the
    // factor.
    "g7_unit_convert" -> ((s, dir) => {
      import s.implicits._
      val series = tenMinuteSeries(s, dir)(avg("value").as("rho[kg/m^3]"))
      val gf = graft.api.GridFields.fromDataFrame(series, axisCols = Seq("t"))
      val conv = gf.convert("rho", "g/cm^3")
      require(conv.units("rho") == "g/cm^3", "conversion must retag units")
      val g = conv.grid("rho")
      val axis = g.axes(0)
      val (tMin, tMax) = (axis.head, axis.last)
      fracs.map { case (i, f) =>
        (i.toLong, g.interpolate(Array(tMin + f * (tMax - tMin))))
      }.toDF("id", "v")
    }),

    // Distributed meshgrid evaluation ("gridify" at scale) under the
    // hash gate — the reference's `kd.rho_ijkl(time=…, lon=…)` cartesian
    // evaluation (kamodo_dask.py:345-348), previously spec-only: the
    // probe meshgrid is a crossJoin of two 10-row axis frames (a
    // bounded, deliberate fan-out — at scale the axis frames stay tiny
    // while the GRID broadcasts), evaluated through tier 2's broadcast
    // RegularGrid. Hash-exactness holds because RegularGrid's corner
    // enumeration (bit d of corner c selects the upper plane of axis d,
    // summed in c-order with per-axis left-to-right weight products)
    // is precisely the s11, s21, s12, s22 order and association the
    // bilinear oracle writes out.
    "g8_gridify_distributed" -> ((s, dir) => {
      import s.implicits._
      val series = Tables.events(s, dir)
        .groupBy(
          (floor(unix_timestamp(col("ts")) / 518400) * 518400)
            .cast("double").as("t"),
          (col("user_id") % 4).cast("double").as("u"))
        .agg(avg("value").as("v"))
      val grid = GridBuilder.fromLongForm(series, Seq("v"), Seq("t", "u"))("v")
      val bi = BroadcastInterpolator(s, grid)
      val (tA, uA) = (grid.axes(0), grid.axes(1))
      val tProbes = fracs.map { case (i, f) =>
        (i.toLong, tA.head + f * (tA.last - tA.head))
      }.toDF("ti", "t")
      val uProbes = fracs.map { case (i, f) =>
        (i.toLong, uA.head + (1.0 - f) * (uA.last - uA.head))
      }.toDF("ui", "u")
      tProbes.crossJoin(uProbes)
        .select(col("ti"), col("ui"),
          bi.applySeq(Seq(col("t"), col("u"))).as("v"))
    }),

    // Same probes through tier 2 (broadcast grid + UDF) — identical
    // semantics, so it shares g1's oracle arithmetic. Exercises
    // RegularGrid + BroadcastInterpolator under the hash gate.
    "g2_interp_broadcast" -> ((s, dir) => {
      import s.implicits._
      val series = tenMinuteSeries(s, dir)(avg("value").as("v"))
      val grid = GridBuilder.fromLongForm(series, Seq("v"), Seq("t"))("v")
      val bi = BroadcastInterpolator(s, grid)
      val axis = grid.axes(0)
      val (tMin, tMax) = (axis.head, axis.last)
      fracs.map { case (i, f) => (i.toLong, tMin + f * (tMax - tMin)) }
        .toDF("id", "t")
        .select(col("id"), bi.applySeq(Seq(col("t"))).as("v"))
    }),

    // Nearest-neighbor tier under the hash gate — the `method="nearest"`
    // mode of the reference's interpolator class (scipy RGI carries both
    // modes; the reference leaves the default "linear", g12 completes
    // the class surface): g2's series and probes, evaluated through
    // [[graft.model.RegularGrid.interpolateNearest]] on the broadcast
    // tier. Exact-midpoint probes resolve to the LOWER plane (scipy's
    // `norm_distances <= 0.5` rule) — the oracle's ORDER BY
    // (abs-distance, t) states the identical IEEE compare, so the gate
    // certifies the tie rule, not just the easy interior cases.
    "g12_interp_nearest" -> ((s, dir) => {
      import s.implicits._
      val series = tenMinuteSeries(s, dir)(avg("value").as("v"))
      val grid = GridBuilder.fromLongForm(series, Seq("v"), Seq("t"))("v")
      val bi = BroadcastInterpolator(s, grid)
      val axis = grid.axes(0)
      val (tMin, tMax) = (axis.head, axis.last)
      fracs.map { case (i, f) => (i.toLong, tMin + f * (tMax - tMin)) }
        .toDF("id", "t")
        .select(col("id"), bi.applyNearestSeq(Seq(col("t"))).as("v"))
    }),

    // 4-D multilinear interpolation under the hash gate — the reference's
    // one true operator at its real arity (kamodo_dask.py:325-338 builds a
    // 4-D (time, lon, lat, h) RegularGridInterpolator; construction
    // :335-338). Grid = events bucketed over four derived axes (6-day time
    // bucket × user band × event parity × type-length parity — 6×3×2×2 =
    // 72 cells, dense at every driver SF), probes at interior points, so
    // the full 2^4 = 16-corner expansion, the 4-int equi-join, and the
    // product-weight aggregation are all hash-checked against a 16-corner
    // DuckDB oracle (generalizing g3's bracketing-plane SQL).
    "g4_interp_4d" -> ((s, dir) => {
      import s.implicits._
      val series = Tables.events(s, dir)
        .groupBy(
          (floor(unix_timestamp(col("ts")) / 518400) * 518400)
            .cast("double").as("t"),
          (col("user_id") % 3).cast("double").as("u"),
          (col("event_id") % 2).cast("double").as("p"),
          (length(col("event_type")) % 2).cast("double").as("q"))
        .agg(avg("value").as("v"))
        .persist()
      val axes = GridBuilder.axes(series, Seq("t", "u", "p", "q"))
      val Array(tA, uA, pA, qA) = axes
      val probes = fracs.map { case (i, f) =>
        (i.toLong,
          tA.head + f * (tA.last - tA.head),
          uA.head + (1.0 - f) * (uA.last - uA.head),
          pA.head + f * (pA.last - pA.head),
          qA.head + (1.0 - f) * (qA.last - qA.head))
      }.toDF("id", "t", "u", "p", "q")
      QueryCache.resultThenRelease(
        JoinInterpolator.interpolate(
          probes, "id", series, axes, valueCols = Seq("v"),
          coordCols = Seq("t", "u", "p", "q")),
        series)
    }),

    // 2-D bilinear through the same corner-join machinery: grid over
    // (6-day time bucket × user band), probes at interior points — the
    // multi-axis corner expansion (2^d = 4 live corners) under the gate.
    "g3_interp_2d" -> ((s, dir) => {
      import s.implicits._
      val series = Tables.events(s, dir)
        .groupBy(
          (floor(unix_timestamp(col("ts")) / 518400) * 518400)
            .cast("double").as("t"),
          (col("user_id") % 4).cast("double").as("u"))
        .agg(avg("value").as("v"))
        .persist()
      val axes = GridBuilder.axes(series, Seq("t", "u"))
      val Array(tAxis, uAxis) = axes
      val probes = fracs.map { case (i, f) =>
        (i.toLong,
          tAxis.head + f * (tAxis.last - tAxis.head),
          uAxis.head + (1.0 - f) * (uAxis.last - uAxis.head))
      }.toDF("id", "t", "u")
      QueryCache.resultThenRelease(
        JoinInterpolator.interpolate(
          probes, "id", series, axes, valueCols = Seq("v"),
          coordCols = Seq("t", "u")),
        series)
    }),

    // Time derivative of a gridded field — the first derived quantity a
    // space-weather pipeline computes from fetched model output (∂ρ/∂t
    // drives storm-onset detection; kamodo composes such fields over a
    // registered interpolator, reference docs/interpolator.md). On a
    // distributed grid the derivative is an AXIS-SHIFT WINDOW, not an
    // interpolation: per key-series (here per event_type), a central
    // difference over the ACTUAL neighbor timesteps —
    // (v(t₊)−v(t₋))/(t₊−t₋) — handles ragged cadence exactly (no
    // assumed step; the R1 provenance rule again). One shuffle on the
    // series key, lag+lead in ONE window pass, interior points only
    // (one-sided boundaries are a policy choice this query leaves to
    // the caller). The derivative frame is itself a grid — g1-g4's
    // interpolators consume it unchanged (kamodo's composed-field
    // workflow, engine-side).
    "g9_time_derivative" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("t")
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          (floor(unix_timestamp(col("ts")) / 600) * 600)
            .cast("double").as("t"))
        .agg(avg("value").as("v"))
        .withColumn("tp", lag("t", 1).over(w))
        .withColumn("vp", lag("v", 1).over(w))
        .withColumn("tn", lead("t", 1).over(w))
        .withColumn("vn", lead("v", 1).over(w))
        .filter(col("tp").isNotNull && col("tn").isNotNull)
        .select(col("event_type"), col("t"),
          ((col("vn") - col("vp")) / (col("tn") - col("tp"))).as("dvdt"))
    }),

    // Axis integration — g9's counterpart on the other side of calculus,
    // and the reference-domain op behind "column density"/TEC: integrate
    // a gridded series along one axis by the trapezoid rule (here the
    // 600 s time axis of the bucketed event field, per type; on the 4-D
    // grid the same shape integrates density over h per (time,lon,lat)
    // column). Arithmetic is EXACT by construction: values integerize to
    // cents at the source, per-bucket masses are BIGINT sums, each
    // trapezoid term (Δt)·(m_i + m_{i−1}) is a BIGINT product, and the
    // emitted integral is 2× the trapezoid (mass2x) so no /2 ever
    // leaves integers — the float-summation-order hash risk g9's dvdt
    // avoids by being row-local, this op avoids by never leaving ℤ.
    // Non-uniform spacing is handled naturally (gaps widen Δt — real
    // trapezoid semantics). TWO Exchanges by design: the corpus-sized
    // bucket agg shuffles on (type, bucket) — full key parallelism —
    // and the per-type window/roll-up re-shuffles the |types|×|buckets|-
    // bounded bucket frame on type alone (hashpartitioning(type, t)
    // does not satisfy the window's type-only clustering; the subset
    // rule runs the other way). Forcing one shuffle by pre-partitioning
    // the RAW events on type would cap the corpus agg's parallelism at
    // |event types| — the wrong trade at 100 TB. PlanShapeSpec pins the
    // two-Exchange shape.
    "g11_column_integral" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("t")
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          (floor(unix_timestamp(col("ts")) / 600) * 600)
            .cast("long").as("t"))
        .agg(sum(round(col("value") * 100).cast("long")).as("m"))
        .withColumn("tp", lag("t", 1).over(w))
        .withColumn("mp", lag("m", 1).over(w))
        .filter(col("tp").isNotNull)
        .select(col("event_type"),
          ((col("t") - col("tp")) * (col("m") + col("mp"))).as("term"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_intervals"), sum("term").as("mass2x"))
    }),

    // Conservative regridding — remap a gridded field onto a coarser,
    // NON-ALIGNED target grid weighting each source cell by its overlap
    // with the target cell (the ESMF/climate-model remap; kamodo users
    // downsample fetched model output before plotting or coupling, and
    // "average the cells that fall in the window" is wrong the moment
    // the grids don't nest — here 600 s source onto 1000 s target, so
    // targets straddle source-cell boundaries). No join: each source
    // cell EXPLODES to the ≤2 target cells it overlaps (bounded
    // sequence over target indices — the fan-out is ceil(srcCad/tgtCad)
    // + 1 regardless of corpus size), overlap seconds are BIGINT-exact
    // interval arithmetic, and one hash agg per target finishes it —
    // map-side bounded explode + one shuffle on the target key. The
    // weighted mean Σv·ov/Σov divides two identically-computed operands
    // (numerator rides t21's summation-order tolerance; overlap_s and
    // n_src certify the weights integer-exactly under the gate).
    "g10_conservative_regrid" -> ((s, dir) => {
      val srcCad = 600L
      val tgtCad = 1000L
      Tables.events(s, dir)
        .groupBy((floor(unix_timestamp(col("ts")) / srcCad) * srcCad)
          .cast("long").as("t0"))
        .agg(avg("value").as("v"))
        .select(col("t0"), col("v"),
          explode(sequence(
            expr(s"t0 DIV $tgtCad"),
            expr(s"(t0 + ${srcCad - 1}) DIV $tgtCad"))).as("ti"))
        .withColumn("ov",
          least(col("t0") + srcCad, (col("ti") + 1) * tgtCad) -
            greatest(col("t0"), col("ti") * tgtCad))
        .groupBy(col("ti"))
        .agg(count(lit(1)).as("n_src"),
          sum("ov").as("overlap_s"),
          (sum(col("v") * col("ov")) / sum(col("ov"))).as("vbar"))
        .select((col("ti") * tgtCad).as("target_t"),
          col("n_src"), col("overlap_s"), col("vbar"))
    })
  )

  /** End-to-end E1→E3 under the hash gate: the reference's WHOLE primary
    * path — build a grid, write it as one file per timestep with the
    * timestamp in the name (the reference's own layout,
    * kamodo_dask.py:63-67), DISCOVER the timestep files by listing +
    * timestamp parse (GridCatalog), PRUNE to a requested window that
    * excludes the first timestep, fetch with snap-outward h widening
    * (1.3..5.6 snaps to planes 1..6, dropping h=0 and h=7) and
    * provenance-derived time (each file's timestamp, served as a
    * partition value), then bilinear-interpolate
    * over the fetched window through the corner join. Previously each
    * stage was spec-verified; this row makes the composed path
    * hash-checked (the oracle recomputes the same window + snap + 4-corner
    * arithmetic from the events table).
    */
  private def g5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.source.GridCatalog
    val cad = 518400L
    val series = Tables.events(s, dir)
      .groupBy(
        (floor(unix_timestamp(col("ts")) / cad) * cad).cast("long").as("t_s"),
        (col("user_id") % 8).cast("double").as("h"))
      .agg(avg("value").as("v"))
      .persist()
    // per-invocation unique staging dir (Fs.mkStagingDir): a fixed path
    // (or one keyed by a 32-bit hashCode) races concurrent runs — Bench
    // and Verify on the same sfDir would delete/rewrite each other's
    // timestep files while the other's GridReader lists them — and a
    // fresh dir also means no stale planes from a previous run can
    // pollute the fetch window. All staging I/O below goes through the
    // Hadoop FileSystem of the dir's scheme, so pointing
    // `graft.staging.dir` at `s3a://…` runs the identical flow against
    // the object store GraftS3 configures (the reference stages its
    // planes on live S3).
    val gridDir = Fs.mkStagingDir(s, "graft_g5_")
    // ONE collect for the plane list AND the density guard (was a
    // distinct+sort collect plus a separate count job): the per-plane
    // cell counts are |planes| rows, and their driver-side sum is the
    // same total the count() compared
    val planeCounts = series.groupBy("t_s").agg(count(lit(1)).as("n"))
      .orderBy("t_s").collect()
    val tPlanes = planeCounts.map(_.getLong(0))
    // loud guard for the dense-grid reference invariant this construction
    // relies on (every timestep file carries the full h axis): a sparse
    // cell would otherwise surface as a confusing interpolator/oracle
    // mismatch. Verified dense at every driver SF (min cell count 2).
    val nCells = planeCounts.map(_.getLong(1)).sum
    require(nCells == tPlanes.length * 8L,
      s"g5 grid not dense: $nCells cells for ${tPlanes.length}×8")
    // ONE write job for all planes (repartition on t_s → one file per
    // plane), then driver-side renames of the partition dirs into the
    // reference's flat `data_<ts>.parquet` layout — the per-plane
    // write-loop this replaces launched |planes| sequential Spark jobs
    // and dominated g5's bench cost. partitionBy would URL-encode the
    // colons in the timestamp names, hence rename instead of direct
    // naming; a same-FS rename is a metadata move (file:/hdfs:) or the
    // store's copy envelope (s3a:). The colon-bearing plane names must
    // build their Path from the FULL string (FsSpec pins it): Hadoop's
    // relative-child Path constructor rejects colons.
    val staging = Fs.mkStagingDir(s, "graft_g5_stage_")
    series.repartition(col("t_s")).write.partitionBy("t_s")
      .mode("overwrite").parquet(staging)
    tPlanes.foreach { t =>
      val name = GridCatalog.formatTs(java.time.Instant.ofEpochSecond(t))
      Fs.rename(s, s"$staging/t_s=$t", s"$gridDir/data_$name.parquet")
    }
    // staging hygiene: the emptied staging dir goes now; gridDir must
    // outlive this call (the returned plan's fetch scan re-reads it if the
    // result cache is ever evicted), so it is removed at JVM exit instead
    // — repeated Bench/Verify/test invocations each run in their own JVM,
    // so grid copies cannot accumulate across runs on tmpfs hosts.
    Fs.rmTree(s, staging)
    removeAtExit(s, gridDir)
    val reader = new graft.source.GridReader(s, gridDir,
      prefix = "data_", postfix = ".parquet",
      cadence = java.time.Duration.ofSeconds(cad))
    val files = reader.files()
    require(files.length >= 2, s"expected multiple timesteps, got ${files.length}")
    val fetched = reader.fetch(files(1).ts, files.last.ts, 1.3, 5.6)
      .select(col("time").cast("double").as("tc"),
        col("h").cast("double").as("h"), col("v"))
      .persist()
    val axes = GridBuilder.axes(fetched, Seq("tc", "h"))
    val Array(tA, hA) = axes
    val probes = fracs.map { case (i, f) =>
      (i.toLong,
        tA.head + f * (tA.last - tA.head),
        hA.head + (1.0 - f) * (hA.last - hA.head))
    }.toDF("id", "tc", "h")
    QueryCache.resultThenRelease(
      JoinInterpolator.interpolate(
        probes, "id", fetched, axes, valueCols = Seq("v"),
        coordCols = Seq("tc", "h")),
      series, fetched)
  }

  /** One shutdown hook for all g5 grid dirs of this JVM (idempotent map —
    * a hook per invocation would grow the JVM's hook list unboundedly in a
    * long spec session). Each dir keeps the Hadoop conf captured at
    * registration (with any `fs.s3a.*` credentials), and the hook runs
    * through Hadoop's ShutdownHookManager ABOVE the FileSystem cache's
    * close priority — a plain `Runtime.addShutdownHook` races
    * `FileSystem.closeAll` and can find every FS already closed.
    */
  private val exitDirs = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.hadoop.conf.Configuration]()
  private lazy val exitHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        def run(): Unit = exitDirs.forEach { (d, conf) =>
          try Fs.rmTree(conf, d)
          catch { case _: Exception => () } // best-effort tmp hygiene
        }
      },
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 30)
  private def removeAtExit(s: SparkSession, dir: String): Unit = {
    exitHook; exitDirs.put(dir, s.sessionState.newHadoopConf()); ()
  }

  private val fracsSql =
    fracs.map { case (i, f) => s"($i, $f)" }.mkString(", ")

  private val interpOracle: String =
      s"""WITH series AS (
         |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS DOUBLE) AS t,
         |         avg(value) AS v
         |  FROM events GROUP BY 1),
         |hull AS (SELECT min(t) AS tmin, max(t) AS tmax FROM series),
         |fr(id, f) AS (VALUES $fracsSql),
         |probes AS (SELECT id, tmin + f * (tmax - tmin) AS t FROM fr, hull),
         |br AS (
         |  SELECT p.id, p.t,
         |    (SELECT max(s.t) FROM series s WHERE s.t <= p.t) AS t1,
         |    (SELECT min(s.t) FROM series s WHERE s.t > p.t) AS t2
         |  FROM probes p)
         |SELECT b.id,
         |  (1 - (b.t - b.t1) / (b.t2 - b.t1)) * s1.v
         |    + ((b.t - b.t1) / (b.t2 - b.t1)) * s2.v AS v
         |FROM br b
         |JOIN series s1 ON s1.t = b.t1
         |JOIN series s2 ON s2.t = b.t2""".stripMargin

  /** 16-corner quadrilinear oracle: per-axis bracketing planes, product
    * weights in the same left-to-right factor order the Spark side's
    * `reduce(_ * _)` multiplies, one series join per corner. Generated so
    * the 16 corner terms stay mechanically consistent.
    */
  private val g4Oracle: String = {
    val axes = Seq("t", "u", "p", "q")
    val corners = for {
      ct <- 0 to 1; cu <- 0 to 1; cp <- 0 to 1; cq <- 0 to 1
    } yield {
      val bits = Seq(ct, cu, cp, cq)
      val al = "s" + bits.mkString
      val weight = axes.zip(bits).map { case (ax, bit) =>
        if (bit == 1) s"f$ax" else s"(1 - f$ax)"
      }.mkString(" * ")
      val on = axes.zip(bits).map { case (ax, bit) =>
        s"$al.$ax = w.$ax${bit + 1}"
      }.mkString(" AND ")
      (s"$weight * $al.v", s"JOIN series $al ON $on")
    }
    val brackets = axes.map { ax =>
      s"""    (SELECT max(s.$ax) FROM series s WHERE s.$ax <= pr.$ax) AS ${ax}1,
         |    (SELECT min(s.$ax) FROM series s WHERE s.$ax > pr.$ax) AS ${ax}2""".stripMargin
    }.mkString(",\n")
    val fr = axes.map(ax => s"($ax - ${ax}1) / (${ax}2 - ${ax}1) AS f$ax")
      .mkString(", ")
    s"""WITH series AS (
       |  SELECT CAST(floor(epoch(ts) / 518400) * 518400 AS DOUBLE) AS t,
       |         CAST(user_id % 3 AS DOUBLE) AS u,
       |         CAST(event_id % 2 AS DOUBLE) AS p,
       |         CAST(length(event_type) % 2 AS DOUBLE) AS q,
       |         avg(value) AS v
       |  FROM events GROUP BY 1, 2, 3, 4),
       |hull AS (SELECT min(t) AS tmin, max(t) AS tmax,
       |                min(u) AS umin, max(u) AS umax,
       |                min(p) AS pmin, max(p) AS pmax,
       |                min(q) AS qmin, max(q) AS qmax FROM series),
       |fr(id, f) AS (VALUES $fracsSql),
       |probes AS (SELECT id, tmin + f * (tmax - tmin) AS t,
       |                  umin + (1 - f) * (umax - umin) AS u,
       |                  pmin + f * (pmax - pmin) AS p,
       |                  qmin + (1 - f) * (qmax - qmin) AS q
       |           FROM fr, hull),
       |br AS (
       |  SELECT pr.id, pr.t, pr.u, pr.p, pr.q,
       |$brackets
       |  FROM probes pr),
       |w AS (SELECT *, $fr FROM br)
       |SELECT w.id,
       |  ${corners.map(_._1).mkString("", "\n    + ", "")} AS v
       |FROM w
       |${corners.map(_._2).mkString("\n")}""".stripMargin
  }

  /** g6's two-variable replay: same bracketing-plane arithmetic as g1's
    * oracle, applied to both value columns of the shared grid — the
    * per-variable weights are identical because the variables share axes.
    */
  private val g6Oracle: String =
      s"""WITH series AS (
         |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS DOUBLE) AS t,
         |         avg(value) AS v1, max(value) AS v2
         |  FROM events GROUP BY 1),
         |hull AS (SELECT min(t) AS tmin, max(t) AS tmax FROM series),
         |fr(id, f) AS (VALUES $fracsSql),
         |probes AS (SELECT id, tmin + f * (tmax - tmin) AS t FROM fr, hull),
         |br AS (
         |  SELECT p.id, p.t,
         |    (SELECT max(s.t) FROM series s WHERE s.t <= p.t) AS t1,
         |    (SELECT min(s.t) FROM series s WHERE s.t > p.t) AS t2
         |  FROM probes p),
         |w AS (SELECT *, (t - t1) / (t2 - t1) AS ft FROM br)
         |SELECT w.id,
         |  (1 - ft) * s1.v1 + ft * s2.v1 AS v1,
         |  (1 - ft) * s1.v2 + ft * s2.v2 AS v2
         |FROM w
         |JOIN series s1 ON s1.t = w.t1
         |JOIN series s2 ON s2.t = w.t2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "g1_interp_1d" -> interpOracle,
    "g6_interp_multivar" -> g6Oracle,

    // nearest plane by (abs-distance, t) order — the global argmin is
    // always one of the two bracketing planes on a sorted axis, and the
    // tie lands on the LOWER plane exactly like the kernel's
    // `(x - lo) <= (hi - x)` compare (same IEEE subtractions)
    "g12_interp_nearest" ->
      s"""WITH series AS (
         |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS DOUBLE) AS t,
         |         avg(value) AS v
         |  FROM events GROUP BY 1),
         |hull AS (SELECT min(t) AS tmin, max(t) AS tmax FROM series),
         |fr(id, f) AS (VALUES $fracsSql),
         |probes AS (SELECT id, tmin + f * (tmax - tmin) AS t FROM fr, hull)
         |SELECT p.id,
         |  (SELECT s.v FROM series s ORDER BY abs(s.t - p.t), s.t LIMIT 1)
         |    AS v
         |FROM probes p""".stripMargin,
    "g4_interp_4d" -> g4Oracle,

    // window = timestep planes 2..last (the fetch prunes the first file),
    // h = snapped planes [1, 6]; then g3's bilinear corner arithmetic
    "g5_e2e_fetch" ->
      s"""WITH series AS (
         |  SELECT CAST(floor(epoch(ts) / 518400) * 518400 AS BIGINT) AS t_s,
         |         CAST(user_id % 8 AS DOUBLE) AS h,
         |         avg(value) AS v
         |  FROM events GROUP BY 1, 2),
         |win AS (SELECT
         |  (SELECT t_s FROM (SELECT DISTINCT t_s FROM series)
         |   ORDER BY t_s LIMIT 1 OFFSET 1) AS w1,
         |  (SELECT max(t_s) FROM series) AS w2),
         |grid AS (SELECT CAST(t_s AS DOUBLE) AS tc, h, v
         |         FROM series, win
         |         WHERE t_s BETWEEN w1 AND w2 AND h BETWEEN 1 AND 6),
         |hull AS (SELECT min(tc) AS tmin, max(tc) AS tmax,
         |                min(h) AS hmin, max(h) AS hmax FROM grid),
         |fr(id, f) AS (VALUES $fracsSql),
         |probes AS (SELECT id, tmin + f * (tmax - tmin) AS tc,
         |                  hmin + (1 - f) * (hmax - hmin) AS h
         |           FROM fr, hull),
         |br AS (
         |  SELECT p.id, p.tc, p.h,
         |    (SELECT max(g.tc) FROM grid g WHERE g.tc <= p.tc) AS tc1,
         |    (SELECT min(g.tc) FROM grid g WHERE g.tc > p.tc) AS tc2,
         |    (SELECT max(g.h) FROM grid g WHERE g.h <= p.h) AS h1,
         |    (SELECT min(g.h) FROM grid g WHERE g.h > p.h) AS h2
         |  FROM probes p),
         |w AS (SELECT *, (tc - tc1) / (tc2 - tc1) AS ft,
         |              (h - h1) / (h2 - h1) AS fh FROM br)
         |SELECT w.id,
         |  (1 - ft) * (1 - fh) * s11.v + ft * (1 - fh) * s21.v
         |    + (1 - ft) * fh * s12.v + ft * fh * s22.v AS v
         |FROM w
         |JOIN grid s11 ON s11.tc = w.tc1 AND s11.h = w.h1
         |JOIN grid s21 ON s21.tc = w.tc2 AND s21.h = w.h1
         |JOIN grid s12 ON s12.tc = w.tc1 AND s12.h = w.h2
         |JOIN grid s22 ON s22.tc = w.tc2 AND s22.h = w.h2""".stripMargin,
    // same bounded range-unnest fan-out, same BIGINT interval clipping;
    // vbar divides identically-computed operands (numerator summation
    // order is the only engine difference)
    "g10_conservative_regrid" ->
      """WITH src AS (
        |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS t0,
        |         avg(value) AS v
        |  FROM events GROUP BY 1),
        |ex AS (
        |  SELECT t0, v,
        |    unnest(range(t0 // 1000, (t0 + 599) // 1000 + 1)) AS ti
        |  FROM src),
        |ov AS (
        |  SELECT ti, v,
        |    least(t0 + 600, (ti + 1) * 1000)
        |      - greatest(t0, ti * 1000) AS ov
        |  FROM ex)
        |SELECT (ti * 1000)::BIGINT AS target_t, count(*)::BIGINT AS n_src,
        |  sum(ov)::BIGINT AS overlap_s,
        |  sum(v * ov) / sum(ov)::DOUBLE AS vbar
        |FROM ov GROUP BY ti""".stripMargin,

    // tiers 2 and 3 implement identical semantics → identical oracle
    "g2_interp_broadcast" -> interpOracle,

    // g1's interpolation with each corner value scaled kg/m^3 → g/cm^3
    // BEFORE the blend — the engine scales at grid construction, so the
    // oracle must round the product first too (scaling the blended result
    // instead would differ in the last ulp)
    "g7_unit_convert" ->
      s"""WITH series AS (
         |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS DOUBLE) AS t,
         |         avg(value) AS v
         |  FROM events GROUP BY 1),
         |hull AS (SELECT min(t) AS tmin, max(t) AS tmax FROM series),
         |fr(id, f) AS (VALUES $fracsSql),
         |probes AS (SELECT id, tmin + f * (tmax - tmin) AS t FROM fr, hull),
         |br AS (
         |  SELECT p.id, p.t,
         |    (SELECT max(s.t) FROM series s WHERE s.t <= p.t) AS t1,
         |    (SELECT min(s.t) FROM series s WHERE s.t > p.t) AS t2
         |  FROM probes p)
         |SELECT b.id,
         |  (1 - (b.t - b.t1) / (b.t2 - b.t1)) * (s1.v * 0.001)
         |    + ((b.t - b.t1) / (b.t2 - b.t1)) * (s2.v * 0.001) AS v
         |FROM br b
         |JOIN series s1 ON s1.t = b.t1
         |JOIN series s2 ON s2.t = b.t2""".stripMargin,

    // g3's bilinear corner arithmetic over the 10×10 probe meshgrid
    // (fr × fr cartesian), same weight order and association
    "g8_gridify_distributed" ->
      s"""WITH series AS (
         |  SELECT CAST(floor(epoch(ts) / 518400) * 518400 AS DOUBLE) AS t,
         |         CAST(user_id % 4 AS DOUBLE) AS u,
         |         avg(value) AS v
         |  FROM events GROUP BY 1, 2),
         |hull AS (SELECT min(t) AS tmin, max(t) AS tmax,
         |                min(u) AS umin, max(u) AS umax FROM series),
         |fr(id, f) AS (VALUES $fracsSql),
         |probes AS (SELECT f1.id AS ti, f2.id AS ui,
         |                  tmin + f1.f * (tmax - tmin) AS t,
         |                  umin + (1 - f2.f) * (umax - umin) AS u
         |           FROM fr f1, fr f2, hull),
         |br AS (
         |  SELECT p.ti, p.ui, p.t, p.u,
         |    (SELECT max(s.t) FROM series s WHERE s.t <= p.t) AS t1,
         |    (SELECT min(s.t) FROM series s WHERE s.t > p.t) AS t2,
         |    (SELECT max(s.u) FROM series s WHERE s.u <= p.u) AS u1,
         |    (SELECT min(s.u) FROM series s WHERE s.u > p.u) AS u2
         |  FROM probes p),
         |w AS (SELECT *, (t - t1) / (t2 - t1) AS ft,
         |              (u - u1) / (u2 - u1) AS fu FROM br)
         |SELECT w.ti, w.ui,
         |  (1 - ft) * (1 - fu) * s11.v + ft * (1 - fu) * s21.v
         |    + (1 - ft) * fu * s12.v + ft * fu * s22.v AS v
         |FROM w
         |JOIN series s11 ON s11.t = w.t1 AND s11.u = w.u1
         |JOIN series s21 ON s21.t = w.t2 AND s21.u = w.u1
         |JOIN series s12 ON s12.t = w.t1 AND s12.u = w.u2
         |JOIN series s22 ON s22.t = w.t2 AND s22.u = w.u2""".stripMargin,

    // bilinear: four bracketing corners, product weights
    "g3_interp_2d" ->
      s"""WITH series AS (
         |  SELECT CAST(floor(epoch(ts) / 518400) * 518400 AS DOUBLE) AS t,
         |         CAST(user_id % 4 AS DOUBLE) AS u,
         |         avg(value) AS v
         |  FROM events GROUP BY 1, 2),
         |hull AS (SELECT min(t) AS tmin, max(t) AS tmax,
         |                min(u) AS umin, max(u) AS umax FROM series),
         |fr(id, f) AS (VALUES $fracsSql),
         |probes AS (SELECT id, tmin + f * (tmax - tmin) AS t,
         |                  umin + (1 - f) * (umax - umin) AS u
         |           FROM fr, hull),
         |br AS (
         |  SELECT p.id, p.t, p.u,
         |    (SELECT max(s.t) FROM series s WHERE s.t <= p.t) AS t1,
         |    (SELECT min(s.t) FROM series s WHERE s.t > p.t) AS t2,
         |    (SELECT max(s.u) FROM series s WHERE s.u <= p.u) AS u1,
         |    (SELECT min(s.u) FROM series s WHERE s.u > p.u) AS u2
         |  FROM probes p),
         |w AS (SELECT *, (t - t1) / (t2 - t1) AS ft,
         |               (u - u1) / (u2 - u1) AS fu FROM br)
         |SELECT w.id,
         |  (1 - ft) * (1 - fu) * s11.v + ft * (1 - fu) * s21.v
         |    + (1 - ft) * fu * s12.v + ft * fu * s22.v AS v
         |FROM w
         |JOIN series s11 ON s11.t = w.t1 AND s11.u = w.u1
         |JOIN series s21 ON s21.t = w.t2 AND s21.u = w.u1
         |JOIN series s12 ON s12.t = w.t1 AND s12.u = w.u2
         |JOIN series s22 ON s22.t = w.t2 AND s22.u = w.u2""".stripMargin,

    // same per-key series, same central difference over actual
    // neighbors; avg(value) rides the gate's float tolerance (partial
    // aggregation order), the difference quotient is pure IEEE ±/÷
    "g9_time_derivative" ->
      """WITH s AS (
        |  SELECT event_type, floor(epoch(ts) / 600) * 600 AS t,
        |    avg(value) AS v
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT *, lag(t) OVER win AS tp, lag(v) OVER win AS vp,
        |    lead(t) OVER win AS tn, lead(v) OVER win AS vn
        |  FROM s WINDOW win AS (PARTITION BY event_type ORDER BY t))
        |SELECT event_type, t, (vn - vp) / (tn - tp) AS dvdt
        |FROM w WHERE tp IS NOT NULL AND tn IS NOT NULL""".stripMargin,

    // integer trapezoid replay: cents at the source, BIGINT all the way
    "g11_column_integral" ->
      """WITH s AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS t,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS m
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, t, m, lag(t) OVER win AS tp,
        |    lag(m) OVER win AS mp
        |  FROM s WINDOW win AS (PARTITION BY event_type ORDER BY t))
        |SELECT event_type, count(*) AS n_intervals,
        |  CAST(sum((t - tp) * (m + mp)) AS BIGINT) AS mass2x
        |FROM w WHERE tp IS NOT NULL
        |GROUP BY event_type""".stripMargin
  )
}
