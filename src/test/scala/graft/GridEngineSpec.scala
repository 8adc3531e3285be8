package graft

import java.time.{Duration, Instant}
import java.util.Arrays

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.api.GridFields
import graft.interp.{BroadcastInterpolator, GridBuilder, JoinInterpolator}
import graft.source.{GridCatalog, GridFixtures, GridReader}

/** End-to-end grid engine: fixtures → discovery → window fetch →
  * registry / broadcast / join interpolation, mirroring the reference's
  * canonical workflow (`docs/interpolator.md`).
  */
class GridEngineSpec extends SparkSuite {

  private lazy val dir = GridFixtures.ensure(spark, "full13", n = 13)
  private lazy val holeDir =
    GridFixtures.ensure(spark, "hole", n = 13, skip = Set(5))
  private lazy val reader = new GridReader(spark, dir)

  private val t0s = GridFixtures.t0.getEpochSecond.toDouble

  test("discovery finds all timesteps sorted; pruning keeps the window") {
    val files = reader.files()
    assert(files.length == 13)
    assert(files.map(_.ts) == files.map(_.ts).sorted)
    val pruned = GridCatalog.prune(files,
      GridFixtures.t0.plusSeconds(600), GridFixtures.t0.plusSeconds(3000))
    assert(pruned.length == 5) // steps 1..5 inclusive
  }

  test("cadence rounding (T1) floors start / ceils end to 10 minutes") {
    val c = Duration.ofMinutes(10)
    assert(GridCatalog.floorTo(Instant.parse("2024-04-09T05:07:31Z"), c) ==
      Instant.parse("2024-04-09T05:00:00Z"))
    assert(GridCatalog.ceilTo(Instant.parse("2024-04-09T05:07:31Z"), c) ==
      Instant.parse("2024-04-09T05:10:00Z"))
    assert(GridCatalog.ceilTo(Instant.parse("2024-04-09T05:10:00Z"), c) ==
      Instant.parse("2024-04-09T05:10:00Z"))
  }

  test("snap-to-grid widens outward to bracketing planes (F5)") {
    val h = GridFixtures.hAxis
    assert(GridCatalog.snapOutward(h, 292500.0, 357500.0) == ((287500.0, 362500.0)) ||
      h.contains(292500.0)) // exact planes snap to themselves
    val (lo, hi) = GridCatalog.snapOutward(h, 260000.0, 390000.0)
    assert(lo == 250000.0 && hi == 400000.0)
    intercept[IllegalArgumentException] {
      GridCatalog.snapOutward(h, 100.0, 200.0)
    }
  }

  test("window fetch: pruned scan + provenance time + pushed h filter (E1)") {
    val df = reader.fetch(
      GridFixtures.t0.plusSeconds(90), // floors to t0
      GridFixtures.t0.plusSeconds(3000 + 90), // ceils to step 6 → 7 files
      hLo = 260000.0, hHi = 390000.0)
    val hVals = df.select("h").distinct().collect().map(_.getDouble(0)).sorted
    assert(hVals.head == 250000.0 && hVals.last == 400000.0) // snapped outward
    // the snapped h range must reach the parquet scan as PushedFilters —
    // a nondeterministic projection below the filter (an input_file_name
    // time column) silently blocks pushdown and decompresses every row group
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(h,250000.0)") &&
      plan.contains("LessThanOrEqual(h,400000.0)"),
      s"h filter not pushed to the scan:\n$plan")
    // time is a per-file partition value, not a per-row parse of the path
    assert(!plan.contains("input_file_name") && !plan.contains("regexp_extract"),
      s"time derived per row:\n$plan")
    val times = df.select("time").distinct().count()
    assert(times == 7)
    // every row's value matches the analytic field at its (file-derived) time
    val bad = df.withColumn("t", col("time").cast("double"))
      .filter(abs(col("rho[kg/m^3]") -
        (lit(1.0e-9) + lit(1.0e-15) * col("t") + lit(2.0e-12) * col("lon")
          - lit(3.0e-12) * col("lat") - lit(1.0e-15) * col("h"))) > 1e-24)
      .count()
    assert(bad == 0)
  }

  test("ragged cadence (missing timestep) is handled correctly") {
    val r = new GridReader(spark, holeDir)
    val df = r.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      260000.0, 390000.0)
    assert(df.select("time").distinct().count() == 12)
    // provenance-derived time keeps each row on its own file's timestep even
    // with the hole (the reference's positional repeat would smear here)
    val ts = df.select(col("time").cast("double")).distinct()
      .collect().map(_.getDouble(0)).sorted
    assert(!ts.contains(t0s + 5 * 600.0))
  }

  /** The file scan of `df`'s executed plan (the final plan once adaptive
    * execution has run it).
    */
  private def fileScan(df: DataFrame): FileSourceScanExec = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst { case s: FileSourceScanExec => s }
      .getOrElse(fail(s"no file scan in\n$plan"))
  }

  test("a time filter on a fetched window prunes files in the scan") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      260000.0, 390000.0)
    val cut = GridFixtures.t0.plusSeconds(3600)
    val later = df.filter(col("time") >= lit(GridCatalog.toTimestamp(cut)))
      .select(col("time").cast("double"), col("lon"), col("lat"), col("h"),
        col("rho[kg/m^3]"))
    val rows = later.collect()
    val scan = fileScan(later)
    assert(scan.partitionFilters.nonEmpty, s"no PartitionFilters:\n$scan")
    assert(scan.metrics("numFiles").value == 7, scan.metrics("numFiles"))
    assert(rows.length == 7 * 19 * 9 * 13)
    assert(rows.map(_.getDouble(0)).distinct.sorted.sameElements(
      (6 to 12).map(i => t0s + 600.0 * i)))
    rows.foreach { r =>
      val want = GridFixtures.rho(r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))
      assert(math.abs(r.getDouble(4) - want) <= 1e-24, r)
    }
  }

  test("time axis is the files' UTC instants under a non-UTC session zone") {
    // a zone-less stamp parsed in the session zone would shift every
    // timestep by the zone's offset (+14400 s in April in New York)
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    val r = new GridReader(ny, dir)
    val files = r.files().take(3)
    val kd = GridFields.fromDataFrame(
      r.fetch(files.head.ts, files.last.ts, 260000.0, 390000.0))
    val want = files.map(_.ts.getEpochSecond.toDouble).toArray
    assert(Arrays.equals(kd.grid("rho").axes(0), want),
      s"${kd.grid("rho").axes(0).mkString(",")} != ${want.mkString(",")}")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("cadence stream time is the files' UTC instants under a non-UTC session zone") {
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    val files = new GridReader(ny, dir).files()
    val stream = graft.streaming.GridStream.cadenceStream(ny, dir,
      ny.read.parquet(files.head.path).schema, maxFilesPerTrigger = 13)
    val q = stream.agg(min(col("time")).as("t"))
      .writeStream.format("memory").queryName("ny_cadence_time")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val first = ny.table("ny_cadence_time").head().getTimestamp(0)
    assert(first.toInstant == files.head.ts,
      s"${first.toInstant.getEpochSecond} != ${files.head.ts.getEpochSecond}")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("CSV grid source: same window fetch through format=csv") {
    import org.apache.spark.sql.SaveMode
    // convert three timesteps of the parquet fixture to CSV files
    val csvDir = "target/grid-fixtures/csv3"
    val marker = new java.io.File(s"$csvDir/_OK")
    if (!marker.exists()) {
      (0 until 3).foreach { i =>
        val ts = GridFixtures.t0.plusSeconds(600L * i)
        spark.read.parquet(s"$dir/${GridCatalog.formatTs(ts)}.parquet")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .option("header", "true")
          .csv(s"$csvDir/${GridCatalog.formatTs(ts)}.csv")
      }
      marker.createNewFile()
    }
    val r = new GridReader(spark, csvDir, postfix = ".csv",
      format = "csv", options = Map("header" -> "true", "inferSchema" -> "true"))
    val df = r.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(1200),
      260000.0, 390000.0)
    assert(df.select("time").distinct().count() == 3)
    val kd = GridFields.fromDataFrame(df)
    val t = t0s + 700.0
    assert(math.abs(kd.eval("T", Array(t, 50.0, 10.0, 310000.0)) -
      GridFixtures.temperature(t, 50.0, 10.0, 310000.0)) < 1e-4)
  }

  test("flat colon-named timestep files read through the checksummed local filesystem") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.hadoop.fs.{ChecksumFileSystem, Path}
    // the reference's own layout: one flat `<ts>.parquet` file per step
    val flatDir = "target/grid-fixtures/flat3"
    Files.createDirectories(Paths.get(flatDir))
    (0 until 3).foreach { i =>
      val name = GridCatalog.formatTs(GridFixtures.t0.plusSeconds(600L * i)) + ".parquet"
      val part = new java.io.File(s"$dir/$name").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(flatDir, name), StandardCopyOption.REPLACE_EXISTING)
    }
    def sessionFs = new Path(flatDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(sessionFs.isInstanceOf[ChecksumFileSystem], sessionFs.getClass)
    val kd = GridFields.fromDataFrame(new GridReader(spark, flatDir).fetch(
      GridFixtures.t0, GridFixtures.t0.plusSeconds(1200), 260000.0, 390000.0))
    assert(Arrays.equals(kd.grid("rho").axes(0), Array(t0s, t0s + 600.0, t0s + 1200.0)))
    val t = t0s + 700.0
    assert(math.abs(kd.eval("T", Array(t, 50.0, 10.0, 310000.0)) -
      GridFixtures.temperature(t, 50.0, 10.0, 310000.0)) < 1e-4)
    // the cadence stream reads the same files
    val stream = graft.streaming.GridStream.cadenceStream(spark, flatDir,
      spark.read.parquet(s"$dir/${GridCatalog.formatTs(GridFixtures.t0)}.parquet").schema)
    val q = stream.writeStream.format("memory").queryName("flat_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(spark.table("flat_stream").count() == 3L * 19 * 9 * 13)
    // the raw filesystem served those reads only; the session keeps its own
    assert(sessionFs.isInstanceOf[ChecksumFileSystem], sessionFs.getClass)
  }

  test("S3 client config is consumed by the filesystem serving a fetch (E1)") {
    // the reference's integration surface is a live-bucket read
    // (test/test_parquet_prod.py:1-46) with the client envelope of
    // dask_config.py:47-86; no network exists here, so the same wiring is
    // proven through a registered test-scheme FileSystem: GraftS3 maps the
    // env to fs.s3a.* on the session conf, the grafts3:// store reads
    // those keys in ITS initialize (exactly where s3a builds its client),
    // and a full discover → prune → window fetch runs through it.
    import graft.source.{GraftS3, GraftTestFs}
    val hc = spark.sparkContext.hadoopConfiguration
    val applied = GraftS3.configure(spark, Map(
      "MAX_POOL_CONNECTIONS" -> "61",
      "ACCESS_KEY" -> "test-ak", "SECRET_KEY" -> "test-sk"))
    assert(applied.contains("fs.s3a.connection.maximum"))
    hc.set("fs.grafts3.impl", classOf[GraftTestFs].getName)
    // fresh instance per get: initialize must run AFTER configure so the
    // snapshot reflects this test's values, not a cached instance's
    hc.set("fs.impl.disable.cache.grafts3", "true")
    hc.set("fs.grafts3.impl.disable.cache", "true")

    val bucketDir =
      s"grafts3://test-bucket${new java.io.File(dir).getAbsolutePath}"
    val r = new GridReader(spark, bucketDir)
    GraftTestFs.opens.set(0)
    val df = r.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(1200),
      260000.0, 390000.0)
    val n = df.count()
    assert(n > 0 && df.select("time").distinct().count() == 3)
    // equivalence with the local-path read of the same window
    val local = reader.fetch(GridFixtures.t0,
      GridFixtures.t0.plusSeconds(1200), 260000.0, 390000.0)
    assert(n == local.count())
    // the bytes really moved through the test store...
    assert(GraftTestFs.opens.get() > 0,
      "fetch did not open any file through the grafts3 filesystem")
    // ...and the instance that served them was constructed with the
    // GraftS3-applied client envelope (pool, retries, creds)
    assert(GraftTestFs.seenS3aConf.get("fs.s3a.connection.maximum")
      .contains("61"), s"seen: ${GraftTestFs.seenS3aConf}")
    assert(GraftTestFs.seenS3aConf.get("fs.s3a.attempts.maximum")
      .contains("10"))
    assert(GraftTestFs.seenS3aConf.get("fs.s3a.access.key")
      .contains("test-ak"))

    // the WRITE path too: sink a window through the store (parquet
    // commit protocol — create, rename, list all through the scheme)
    // and read it back intact
    import graft.source.GridWriter
    val outDir = java.nio.file.Files.createTempDirectory("grafts3-out")
    val outUri = s"grafts3://test-bucket$outDir/grid"
    GraftTestFs.creates.set(0)
    GridWriter.writePartitioned(df, outUri)
    assert(GraftTestFs.creates.get() > 0,
      "write did not create any file through the grafts3 filesystem")
    val back = GridWriter.readPartitioned(spark, outUri)
    assert(back.count() == n, "grafts3 write/read round-trip lost rows")
    graft.util.Fs.rmTree(outDir.toFile)
  }

  test("Graft facade: canonical reference session in one call") {
    val kd = graft.api.Graft.fetch(spark, dir,
      GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      hLo = 292500.0, hHi = 357500.0)
    assert(kd.names == Seq("T", "rho"))
    assert(kd.units("rho") == "kg/m^3")
    val mid = kd.midpoint("rho")
    val p = Array(mid("time"), mid("lon"), mid("lat"), mid("h"))
    assert(math.abs(kd.eval("rho", p) -
      GridFixtures.rho(p(0), p(1), p(2), p(3))) < 1e-21)
    val (_, profile) = kd.gridEval("T",
      Map("time" -> Array(mid("time")), "lon" -> Array(0.0), "lat" -> Array(0.0)))
    assert(profile.nonEmpty)
  }

  test("single-file window (FIXTURES variant 3): degenerate time axis works") {
    val df = reader.fetch(
      GridFixtures.t0, GridFixtures.t0.plusSeconds(1), // floors+ceils to one step... ceil(1s)=next step
      260000.0, 390000.0)
    // window [t0, ceil(t0+1s)] spans files t0 and t0+10min → narrow to one:
    val one = df.filter(col("time") === java.sql.Timestamp.from(GridFixtures.t0))
    val kd = GridFields.fromDataFrame(one)
    val t = GridFixtures.t0.getEpochSecond.toDouble
    // exact on the single time plane
    assert(math.abs(kd.eval("T", Array(t, 100.0, 20.0, 300000.0)) -
      GridFixtures.temperature(t, 100.0, 20.0, 300000.0)) < 1e-6)
    // off the plane → out of bounds → fillValue (0.0 default)
    assert(kd.eval("T", Array(t + 1.0, 100.0, 20.0, 300000.0)) == 0.0)
  }

  test("strict-interior validation (V1) rejects boundary-touching windows") {
    intercept[IllegalArgumentException] {
      reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(600),
        260000.0, 390000.0, strictInterior = true)
    }
  }

  test("GridFields registry: units, bounds, midpoint, exact eval (E2/E3)") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df)
    assert(kd.names == Seq("T", "rho"))
    assert(kd.units("rho") == "kg/m^3" && kd.units("T") == "K")
    val b = kd.bounds("rho")
    assert(b("h") == ((250000.0, 400000.0)))
    assert(math.abs(kd.midpoint("rho")("lat")) < 1e-12)
    // exact at interior point (analytic multilinear field)
    val p = Array(t0s + 1234.0, 123.4, -15.6, 301234.0)
    assert(math.abs(kd.eval("rho", p) - GridFixtures.rho(p(0), p(1), p(2), p(3))) < 1e-21)
    assert(math.abs(kd.eval("T", p) - GridFixtures.temperature(p(0), p(1), p(2), p(3))) < 1e-6)
    // per-variable semantics: rho and T give different fields (the
    // reference's late-binding closure bug would make them equal)
    assert(math.abs(kd.eval("rho", p) - kd.eval("T", p)) > 1.0)
  }

  test("gridEval: meshgrid evaluation with axis overrides (gridify)") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df)
    val (axes, vals) = kd.gridEval("T",
      Map("time" -> Array(t0s + 300.0), "lon" -> Array(0.0), "lat" -> Array(0.0)))
    assert(axes(3).length == GridFixtures.hAxis.length)
    assert(vals.length == GridFixtures.hAxis.length) // 1×1×1×13 profile over h
    GridFixtures.hAxis.zipWithIndex.foreach { case (h, i) =>
      assert(math.abs(vals(i) - GridFixtures.temperature(t0s + 300.0, 0.0, 0.0, h)) < 1e-6)
    }
  }

  test("convert: unit algebra rescales one variable, exactly, immutably") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df, fillValue = -7.0)
    val conv = kd.convert("rho", "g/cm^3")
    assert(conv.units("rho") == "g/cm^3")
    assert(conv.units("T") == "K") // other variables untouched
    // conversion scales CORNER values at grid construction, so at a grid
    // node (weight 1 on one corner) the result is exactly value*factor …
    val node = Array(t0s, GridFixtures.lonAxis(3), GridFixtures.latAxis(2),
      GridFixtures.hAxis(4))
    assert(conv.eval("rho", node) == kd.eval("rho", node) * 0.001)
    // … while an interior blend of pre-scaled corners may differ from the
    // post-scaled blend in the last ulp (the g7 oracle mirrors the
    // corner-first order for exactly this reason)
    val p = Array(t0s + 1234.0, 123.4, -15.6, 301234.0)
    val rel = math.abs(conv.eval("rho", p) - kd.eval("rho", p) * 0.001) /
      math.abs(kd.eval("rho", p) * 0.001)
    assert(rel < 1e-14)
    assert(conv.eval("T", p) == kd.eval("T", p))
    // the fill value converts with the variable (it is in its units)
    val oob = Array(t0s - 1e9, 0.0, 0.0, 300000.0)
    assert(kd.eval("rho", oob) == -7.0 && conv.eval("rho", oob) == -7.0 * 0.001)
    // original registry is untouched (immutability)
    assert(kd.units("rho") == "kg/m^3")
    // metadata stays self-consistent: column re-renders as name[units]
    assert(conv.fields("rho")._1.column == "rho[g/cm^3]")
    intercept[IllegalArgumentException](kd.convert("rho", "s"))
  }

  test("derived: compose a new registered function from existing ones") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df, fillValue = -3.0)
    // kamodo's kd['ratio'] = 'rho / T' composition, pointwise on the
    // shared window axes
    val kd2 = kd.derived("ratio", "kg/m^3/K", Seq("rho", "T")) {
      case Seq(r, t) => r / t
    }
    val p = Array(t0s + 1234.0, 123.4, -15.6, 301234.0)
    // grid-node exactness: the derived grid holds f(cell values)
    val node = Array(t0s, GridFixtures.lonAxis(3), GridFixtures.latAxis(2),
      GridFixtures.hAxis(4))
    assert(kd2.eval("ratio", node) ==
      kd.eval("rho", node) / kd.eval("T", node))
    // interior: interpolation of the combined grid (NOT the combination
    // of interpolations — the quotient of linear fields is not linear);
    // on the analytic fixture they agree to interpolation error
    val approx = kd.eval("rho", p) / kd.eval("T", p)
    assert(math.abs(kd2.eval("ratio", p) - approx) / approx < 1e-2)
    // derived units participate in the algebra + rendering
    assert(kd2.units("ratio") == "kg/m^3/K")
    assert(kd2.latex("ratio").endsWith("[\\frac{kg}{m^{3} \\, K}]"))
    // fill value composes; originals untouched
    val oob = Array(t0s - 1e9, 0.0, 0.0, 300000.0)
    assert(kd2.eval("ratio", oob) == 1.0) // -3/-3
    assert(kd.names == Seq("T", "rho"))
    // guards: duplicate name, mismatched axes impossible here, bad units
    intercept[IllegalArgumentException](
      kd2.derived("ratio", "1", Seq("rho"))(_.head))
    intercept[IllegalArgumentException](
      kd.derived("x", "florps", Seq("rho"))(_.head))
  }

  test("convertColumn: the distributed conversion path scales exactly") {
    import spark.implicits._
    val df = Seq(1.0, 2.5, -3.25).toDF("rho")
    val out = df.select(
      graft.api.Units.convertColumn($"rho", "kg/m^3", "g/cm^3").as("v"))
      .as[Double].collect()
    assert(out.toSeq == Seq(1.0 * 0.001, 2.5 * 0.001, -3.25 * 0.001))
  }

  test("latex: registry renders kamodo-notebook notation") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df)
    assert(kd.latex("rho") ==
      "\\rho{\\left(time,lon,lat,h \\right)}[\\frac{kg}{m^{3}}]")
    assert(kd.latex("T") == "T{\\left(time,lon,lat,h \\right)}[K]")
    val repr = kd.reprLatex
    assert(repr.startsWith("\\begin{equation}T{\\left("))
    assert(repr.contains("\\end{equation}\n\\begin{equation}\\rho"))
    // conversion retags the rendered units too
    assert(kd.convert("rho", "g/cm^3").latex("rho").endsWith(
      "[\\frac{g}{cm^{3}}]"))
  }

  test("plotSlice: plot_partial data — pinned axes out, free axis + value in") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df)
    // reference: kd.plot('rho_ijkl', plot_partial=dict(rho_ijkl=dict(
    //   time=…, lon=…, lat=…))) → 1-D profile over h
    val slice = kd.plotSlice(spark, "T",
      Map("time" -> (t0s + 300.0), "lon" -> 0.0, "lat" -> 0.0))
    assert(slice.columns.toSeq == Seq("h", "T"))
    val rows = slice.orderBy("h").collect()
    assert(rows.length == GridFixtures.hAxis.length)
    rows.zip(GridFixtures.hAxis).foreach { case (r, h) =>
      assert(r.getDouble(0) == h)
      assert(math.abs(r.getDouble(1) -
        GridFixtures.temperature(t0s + 300.0, 0.0, 0.0, h)) < 1e-6)
    }
    // 2-D slice: pin two axes → (lat, h) surface, C-order respected
    val surf = kd.plotSlice(spark, "T",
      Map("time" -> (t0s + 300.0), "lon" -> 0.0))
    assert(surf.columns.toSeq == Seq("lat", "h", "T"))
    assert(surf.count() ==
      GridFixtures.latAxis.length.toLong * GridFixtures.hAxis.length)
  }

  test("broadcast-mode equals driver-mode on a distributed point set") {
    import spark.implicits._
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df)
    val interp = BroadcastInterpolator(spark, kd.grid("T"))
    val rnd = new scala.util.Random(7)
    val pts = (1 to 200).map { i =>
      (i.toLong, t0s + rnd.nextDouble() * 7200, rnd.nextDouble() * 360,
        -80 + rnd.nextDouble() * 160, 250000 + rnd.nextDouble() * 150000)
    }
    val out = pts.toDF("id", "t", "lon", "lat", "h")
      .withColumn("v", interp($"t", $"lon", $"lat", $"h"))
      .orderBy("id").collect()
    pts.zip(out).foreach { case ((_, t, lo, la, h), row) =>
      assert(math.abs(row.getDouble(5) - kd.eval("T", Array(t, lo, la, h))) < 1e-9)
    }
  }

  test("distributed meshgrid eval: crossJoin of axis frames + broadcast interp") {
    import spark.implicits._
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df)
    val interp = BroadcastInterpolator(spark, kd.grid("T"))
    // gridify at scale: the evaluation point set is the cartesian product
    // of per-axis DataFrames (crossJoin), evaluated distributed — the
    // reference's meshgrid (`gridify`) without materializing on the driver
    val times = Seq(t0s + 300.0, t0s + 900.0).toDF("t")
    val lons = Seq(0.0, 100.0, 200.0).toDF("lon")
    val lats = Seq(-40.0, 40.0).toDF("lat")
    val hs = GridFixtures.hAxis.toSeq.toDF("h")
    val mesh = times.crossJoin(lons).crossJoin(lats).crossJoin(hs)
      .withColumn("v", interp($"t", $"lon", $"lat", $"h"))
    assert(mesh.count() == 2 * 3 * 2 * 13)
    val sample = mesh.filter($"t" === t0s + 300.0 && $"lon" === 100.0 &&
      $"lat" === 40.0 && $"h" === 300000.0).head().getDouble(4)
    assert(math.abs(sample -
      GridFixtures.temperature(t0s + 300.0, 100.0, 40.0, 300000.0)) < 1e-6)
  }

  /** Builds `rows` as a `(t, u) → v` grid, expecting it to be rejected. */
  private def rejected(rows: DataFrame): IllegalArgumentException =
    intercept[IllegalArgumentException] {
      GridBuilder.fromLongForm(rows, Seq("v"), Seq("t", "u"))
    }

  test("GridBuilder rejects duplicate-plus-missing axis combinations") {
    import spark.implicits._
    val dense = Seq((0.0, 0.0, 1.0), (0.0, 1.0, 2.0), (1.0, 0.0, 3.0))
    // count matches 2×2 but (1,1) is missing and (1,0) duplicated; then
    // short by one row
    Seq(dense :+ ((1.0, 0.0, 4.0)), dense).foreach { rows =>
      spark.catalog.clearCache()
      val msg = rejected(rows.toDF("t", "u", "v")).getMessage
      assert(msg.contains("not dense"), rows)
      // a failed build releases whatever it cached
      assert(spark.sharedState.cacheManager.isEmpty, rows)
    }
  }

  test("GridBuilder rejects a null or NaN axis coordinate") {
    import spark.implicits._
    Seq(None, Some(Double.NaN)).foreach { bad =>
      val df = Seq((Some(0.0), 0.0, 1.0), (bad, 1.0, 2.0)).toDF("t", "u", "v")
      assert(rejected(df).getMessage.contains("null or NaN"), s"t = $bad")
      val ex = intercept[IllegalArgumentException](GridBuilder.axes(df, Seq("u", "t")))
      assert(ex.getMessage.contains("axis t has a null or NaN"), s"t = $bad")
    }
  }

  test("GridBuilder folds a -0.0 coordinate onto the 0.0 plane") {
    import spark.implicits._
    val df = Seq(
      (0.0, 0.0, 1.0), (-0.0, 1.0, 2.0), (1.0, 0.0, 3.0), (1.0, 1.0, 4.0))
      .toDF("t", "u", "v")
    val g = GridBuilder.fromLongForm(df, Seq("v"), Seq("t", "u"))("v")
    assert(Arrays.equals(g.axes(0), Array(0.0, 1.0)))
    assert(g.values.toSeq == Seq(1.0, 2.0, 3.0, 4.0))
    val Array(t, u) = GridBuilder.axes(df, Seq("t", "u"))
    assert(Arrays.equals(t, Array(0.0, 1.0)) && Arrays.equals(u, Array(0.0, 1.0)))
  }

  test("GridBuilder turns a null or NaN value into fillValue") {
    import spark.implicits._
    val df = Seq((0.0, 0.0, Some(1.0)), (0.0, 1.0, None),
      (1.0, 0.0, Some(Double.NaN)), (1.0, 1.0, Some(4.0)))
      .toDF("t", "u", "v")
    val g = GridBuilder.fromLongForm(df, Seq("v"), Seq("t", "u"),
      fillValue = -7.0)("v")
    assert(g.values.toSeq == Seq(1.0, -7.0, -7.0, 4.0))
  }

  test("GridBuilder builds a fetched window in one job with no shuffle") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val (grids, work) = sparkWork {
      GridBuilder.fromLongForm(df, Seq("T[K]", "rho[kg/m^3]"))
    }
    assert(work.jobs == 1, s"${work.jobs} jobs")
    assert(work.shuffleBytes == 0L, s"${work.shuffleBytes} shuffle bytes written")
    assert(grids("T[K]").values.length == 13 * 19 * 9 * 13)
    val (axes, axisWork) = sparkWork(GridBuilder.axes(df, GridBuilder.DefaultAxes))
    assert(axisWork.jobs == 1, s"${axisWork.jobs} axis jobs")
    assert(axisWork.shuffleBytes == 0L, s"${axisWork.shuffleBytes} axis shuffle bytes")
    assert(axes.length == 4)
    axes.zip(grids("T[K]").axes).foreach { case (a, g) => assert(Arrays.equals(a, g)) }
  }

  test("GridBuilder is order-invariant and exact at the grid nodes") {
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(3600),
      250000.0, 400000.0)
    val vars = Seq("T[K]", "rho[kg/m^3]")
    val builds = Seq(df, df.repartition(7), df.orderBy(rand(42)))
      .map(GridBuilder.fromLongForm(_, vars))
    val base = builds.head
    builds.tail.foreach { b =>
      vars.foreach { v =>
        assert(b(v).axes.length == base(v).axes.length)
        b(v).axes.zip(base(v).axes).foreach { case (x, y) =>
          assert(Arrays.equals(x, y), v)
        }
        assert(Arrays.equals(b(v).values, base(v).values), v)
      }
    }
    val axes = base("T[K]").axes
    assert(Arrays.equals(axes(0), Array.tabulate(7)(i => t0s + 600.0 * i)))
    assert(Arrays.equals(axes(1), GridFixtures.lonAxis))
    assert(Arrays.equals(axes(2), GridFixtures.latAxis))
    assert(Arrays.equals(axes(3), GridFixtures.hAxis))
    // bit-identical to the analytic field at every node, in C order
    val nodes = for (t <- axes(0); lo <- axes(1); la <- axes(2); h <- axes(3))
      yield (t, lo, la, h)
    val expectT = nodes.map { case (t, lo, la, h) => GridFixtures.temperature(t, lo, la, h) }
    val expectRho = nodes.map { case (t, lo, la, h) => GridFixtures.rho(t, lo, la, h) }
    assert(Arrays.equals(base("T[K]").values, expectT))
    assert(Arrays.equals(base("rho[kg/m^3]").values, expectRho))
  }

  test("broadcast interpolator: null coordinate yields fillValue") {
    import spark.implicits._
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(1200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df, fillValue = -9.0)
    val interp = BroadcastInterpolator(spark, kd.grid("T"))
    val out = Seq((1L, Some(GridFixtures.t0.getEpochSecond.toDouble), Some(0.0)),
      (2L, None, Some(0.0)))
      .toDF("id", "t", "lon")
      .select(col("id"), interp.applySeq(Seq(col("t"), col("lon"),
        lit(0.0), lit(300000.0))).as("v"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(2L) == -9.0)
    assert(out(1L) != -9.0)
  }

  test("RegularGrid construction does not mutate the caller's array") {
    val vals = Array(1.0, Double.NaN, 3.0, 4.0)
    val g = new graft.model.RegularGrid(
      Array(Array(0.0, 1.0), Array(0.0, 1.0)), vals, fillValue = 7.0)
    assert(vals(1).isNaN) // caller's array untouched
    assert(g.at(Array(0, 1)) == 7.0)
  }

  test("join-mode equals driver-mode, including out-of-hull fill") {
    import spark.implicits._
    val df = reader.fetch(GridFixtures.t0, GridFixtures.t0.plusSeconds(7200),
      250000.0, 400000.0)
    val kd = GridFields.fromDataFrame(df, fillValue = -5.0)
    val rnd = new scala.util.Random(11)
    val pts = (1 to 300).map { i =>
      if (i % 10 == 0) // out of hull
        (i.toLong, t0s - 1000.0, 10.0, 10.0, 260000.0)
      else if (i % 7 == 0) // exactly on grid nodes
        (i.toLong, t0s + 600.0 * (i % 12), GridFixtures.lonAxis(i % 19),
          GridFixtures.latAxis(i % 9), GridFixtures.hAxis(i % 13))
      else
        (i.toLong, t0s + rnd.nextDouble() * 7200, rnd.nextDouble() * 360,
          -80 + rnd.nextDouble() * 160, 250000 + rnd.nextDouble() * 150000)
    }
    val points = pts.toDF("id", "time", "lon", "lat", "h")
    val gridDf = df.withColumn("time", col("time").cast("double"))
    val axes = Array(
      GridBuilder.axes(gridDf, Seq("time"))(0), GridFixtures.lonAxis,
      GridFixtures.latAxis, GridFixtures.hAxis)
    val out = JoinInterpolator.interpolate(
      points, "id", gridDf, axes, Seq("T[K]", "rho[kg/m^3]"), fillValue = -5.0)
    assert(out.count() == 300)
    val got = out.orderBy("id").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    pts.foreach { case (id, t, lo, la, h) =>
      val (gotT, gotRho) = got(id)
      val expT = kd.eval("T", Array(t, lo, la, h))
      val expRho = kd.eval("rho", Array(t, lo, la, h))
      assert(math.abs(gotT - expT) < 1e-8, s"T at id=$id")
      assert(math.abs(gotRho - expRho) < 1e-20, s"rho at id=$id")
    }
  }

  test("g10 conservative regrid conserves mass and bounds the fan-out") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("g10_conservative_regrid")(spark, sf)
      .cache()
    try {
      // a 1000 s target straddles 2-3 source cells of 600 s; more means
      // the explode bounds are wrong
      assert(out.filter(col("n_src") < 1 || col("n_src") > 3).isEmpty)
      assert(out.filter(col("overlap_s") < 1 ||
        col("overlap_s") > 1000).isEmpty)
      // THE conservative-remap invariant: total mass is preserved —
      // Σ_targets vbar·overlap == Σ_src v·600 (each source cell's 600 s
      // split exactly across the targets it overlaps)
      val remapped = out
        .agg(sum(col("vbar") * col("overlap_s"))).first().getDouble(0)
      val source = Tables.events(spark, sf)
        .groupBy((floor(unix_timestamp(col("ts")) / 600) * 600)
          .cast("long").as("t0"))
        .agg(avg("value").as("v"))
        .agg(sum(col("v") * 600)).first().getDouble(0)
      assert(math.abs(remapped - source) / math.abs(source) < 1e-9,
        s"mass not conserved: remapped $remapped vs source $source")
    } finally out.unpersist()
  }
}
