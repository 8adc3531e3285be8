package graft

import org.apache.spark.sql.functions._

import graft.operators.{AdaptiveCap, BucketCap}

/** The data-derived candidate caps: exact permille-rank arithmetic (the
  * contract the DuckDB oracle replays), the floor, and the monotonicity
  * property the whole design rests on — raising a cap only ADDS
  * candidates, so an adaptive cap ≥ floor can never lose a pair the
  * hand-tuned constant would have found.
  */
class AdaptiveCapSpec extends SparkSuite {

  private def histDf(pairs: (Long, Long)*) = {
    val s = spark
    import s.implicits._
    // expand (value, frequency) into `frequency` rows of `value`
    pairs.flatMap { case (v, c) => Seq.fill(c.toInt)(v) }.toDF("n")
  }

  test("permilleCap is the exact ceil-rank percentile, floored") {
    // 996×1, 3×2, 1×50: n=1000, rank = ceil(0.999·1000) = 999 → p99.9 = 2
    val h = histDf((1L, 996L), (2L, 3L), (50L, 1L))
    assert(AdaptiveCap.permilleCap(h, "n", floor = 1L) == 2L)
    // the floor dominates when the distribution is cold
    assert(AdaptiveCap.permilleCap(h, "n", floor = 32L) == 32L)
    // a hot tail beyond the rank stays OUT of the cap (that's the cut)
    assert(AdaptiveCap.permilleCap(h, "n", floor = 1L, permille = 1000) == 50L)
    // empty input falls back to the floor
    assert(AdaptiveCap.permilleCap(h.filter(lit(false)), "n", 32L) == 32L)
    // single value: rank = 1 → that value (floored)
    assert(AdaptiveCap.permilleCap(histDf((7L, 1L)), "n", 2L) == 7L)
  }

  test("capBuckets is monotone: a higher cap only adds rows") {
    val s = spark
    import s.implicits._
    // bucket sizes 1, 3, 5, 9
    val rows = Seq.tabulate(1)(i => ("a", i)) ++ Seq.tabulate(3)(i => ("b", i)) ++
      Seq.tabulate(5)(i => ("c", i)) ++ Seq.tabulate(9)(i => ("d", i))
    val df = rows.toDF("k", "m")
    def kept(cap: Long): Set[(String, Int)] =
      BucketCap.capBuckets(df, Seq("k"), cap).collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
    val caps = Seq(2L, 3L, 5L, 100L).map(kept)
    caps.sliding(2).foreach { case Seq(lo, hi) =>
      assert(lo.subsetOf(hi), "raising the cap dropped rows")
    }
    assert(caps.last == rows.toSet) // above max size: transparent
  }

  test("capBucketsAdaptive derives max(floor, p99.9 of occupancy)") {
    val s = spark
    import s.implicits._
    // 999 singleton buckets + one 50-member flood bucket: p99.9 of the
    // 1000 sizes is 1 (rank 999 lands inside the singletons), so with
    // floor 2 the cap is 2 and ONLY the flood bucket is dropped
    val rows = Seq.tabulate(999)(i => (s"k$i", i.toLong)) ++
      Seq.tabulate(50)(i => ("flood", 10000L + i))
    val df = rows.toDF("k", "m")
    val (capped, cap, sizes) =
      BucketCap.capBucketsAdaptive(df, Seq("k"), floor = 2L)
    assert(cap == 2L)
    val got = capped.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.size == 999 && !got.exists(_._1 == "flood"))
    sizes.unpersist()
    // hot-but-organic growth raises the cap instead of cutting recall:
    // every bucket has 40 members → p99.9 = 40 > floor → nothing dropped
    val hot = Seq.tabulate(200)(i => (s"k${i % 5}", i.toLong)).toDF("k", "m")
    val (capped2, cap2, sizes2) =
      BucketCap.capBucketsAdaptive(hot, Seq("k"), floor = 2L)
    assert(cap2 == 40L && capped2.count() == 200L)
    sizes2.unpersist()
  }

  test("capBucketsAdaptiveWithMax reports the true max and elides the " +
      "anti-join when nothing is over cap") {
    val s = spark
    import s.implicits._
    // flooded corpus: max is the flood bucket's 50, cap stays 2, and the
    // capped frame must NOT be the input (anti-join present)
    val rows = Seq.tabulate(999)(i => (s"k$i", i.toLong)) ++
      Seq.tabulate(50)(i => ("flood", 10000L + i))
    val df = rows.toDF("k", "m")
    val (capped, cap, maxB, sizes) =
      BucketCap.capBucketsAdaptiveWithMax(df, Seq("k"), floor = 2L)
    assert(cap == 2L && maxB == 50L)
    assert(!(capped eq df), "flooded input must keep the anti-join")
    assert(capped.count() == 999L)
    sizes.unpersist()
    // healthy corpus: max ≤ cap proves the anti-join vacuous — the capped
    // frame IS the input object (zero extra plan operators), and the
    // row set is trivially identical
    val hot = Seq.tabulate(200)(i => (s"k${i % 5}", i.toLong)).toDF("k", "m")
    val (capped2, cap2, max2, sizes2) =
      BucketCap.capBucketsAdaptiveWithMax(hot, Seq("k"), floor = 2L)
    assert(cap2 == 40L && max2 == 40L)
    assert(capped2 eq hot, "uncapped input must skip the anti-join")
    sizes2.unpersist()
  }

  test("splitByOccupancyBoundedWithKeys falls back to the lazy split past " +
      "MaxOversizeKeys") {
    // MaxOversizeKeys + 1 keys of 3 rows each, all over cap 2, plus 1000
    // singleton keys that stay under it
    val nKeys = BucketCap.MaxOversizeKeys + 1L
    val df = spark.range(0, nKeys * 3 + 1000, 1, 4).select(
      when(col("id") < nKeys * 3, col("id") % nKeys)
        .otherwise(col("id")).as("k"),
      col("id").as("m"))
    val (ok, flood, keys) =
      BucketCap.splitByOccupancyBoundedWithKeys(df, Seq("k"), cap = 2L)
    assert(keys.isEmpty, "oversize keys past the bound were collected")
    assert(flood.isDefined, "the lazy fallback must return the flood")
    val (lazyOk, lazyFlood) = BucketCap.splitByOccupancy(df, Seq("k"), 2L)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val okRows = rows(ok)
    assert(okRows.size == 1000 && okRows == rows(lazyOk))
    val floodRows = rows(flood.get)
    assert(floodRows.size == nKeys * 3 && floodRows == rows(lazyFlood))
  }

  test("disableAqeForSmallLoop toggles only below the bound and restores " +
      "the caller's setting") {
    val key = "spark.sql.adaptive.enabled"
    val ck = graft.operators.Checkpoints
    val before = spark.conf.get(key)
    // at/above the bound: no-op thunk, conf untouched
    val none = ck.disableAqeForSmallLoop(spark, rows = Long.MaxValue)
    assert(spark.conf.get(key) == before)
    none()
    // below the bound: AQE off inside, caller's value back after restore
    val restore = ck.disableAqeForSmallLoop(spark, rows = 1L)
    assert(spark.conf.get(key) == "false")
    restore()
    assert(spark.conf.get(key) == before)
    // the bound is exclusive: rows == IterAqeMaxRows leaves AQE alone,
    // one row fewer turns it off
    val r2 = ck.disableAqeForSmallLoop(spark, rows = ck.IterAqeMaxRows)
    assert(spark.conf.get(key) == before, "rows == bound must not toggle")
    r2()
    val r3 = ck.disableAqeForSmallLoop(spark, rows = ck.IterAqeMaxRows - 1)
    assert(spark.conf.get(key) == "false")
    r3()
    assert(spark.conf.get(key) == before)
  }

  test("dd2's doc-freq cut is monotone in the cap on the real corpus") {
    val dir = "/root/testdata/sf0.001"
    def pairsAt(cap: Option[Long]): (Set[(Long, Long)], Long) = {
      val (p, used, caches) =
        graft.queries.Dedup.shingleJaccardPairsWithCaches(spark, dir, cap)
      val got = p.select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      caches.foreach(_.unpersist(blocking = false))
      (got, used)
    }
    val (tight, _) = pairsAt(Some(2L))
    val (adaptive, usedCap) = pairsAt(None)
    val (loose, _) = pairsAt(Some(100000L))
    // the driver corpus is cold → the adaptive cap IS the floor
    assert(usedCap == graft.queries.Dedup.DocFreqFloor)
    assert(tight.subsetOf(adaptive), "tighter cap found extra pairs")
    assert(adaptive.subsetOf(loose), "raising the cap dropped pairs")
    assert(adaptive.nonEmpty)
  }
}
