package graft

import scala.util.Random

import graft.operators.PageRank

/** PageRank operator vs an exact driver-side power iteration, on random
  * weighted digraphs that include dangling nodes (no out-edges) — the
  * case the distributed dangling-mass redistribution must get right for
  * rank mass to stay 1.
  */
class PageRankSpec extends SparkSuite {

  private def reference(edges: Seq[(Long, Long, Double)], d: Double,
      iters: Int): Map[Long, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val outw = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(outw.contains).map(rank).sum
      val contrib = edges
        .groupBy(_._2).view.mapValues(
          _.map { case (s, _, w) => rank(s) * w / outw(s) }.sum).toMap
      rank = nodes.map { v =>
        v -> ((1 - d) / n + d * (contrib.getOrElse(v, 0.0) + dang / n))
      }.toMap
    }
    rank
  }

  test("matches exact power iteration on random graphs with dangling nodes") {
    import spark.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      // ~40 nodes; node ids above 30 never get out-edges → dangling
      val edges = Seq.fill(120) {
        (rnd.nextInt(30).toLong, rnd.nextInt(40).toLong,
          (rnd.nextInt(9) + 1).toDouble)
      }.distinct
        .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq // unique (src,dst)
        .filter { case (s, t, _) => s != t }
      val df = edges.toDF("src", "dst", "w")
      val got = PageRank.run(df, damping = 0.85, iters = 8)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = reference(edges, 0.85, 8)
      assert(got.keySet == want.keySet, s"trial $trial node sets differ")
      // mass conservation: dangling redistribution keeps sum(rank) = 1
      assert(math.abs(got.values.sum - 1.0) < 1e-9,
        s"trial $trial mass ${got.values.sum}")
      want.foreach { case (v, r) =>
        assert(math.abs(got(v) - r) < 1e-9, s"trial $trial node $v")
      }
      df.sparkSession.catalog.clearCache()
    }
  }

  test("driver-tier fast path matches the distributed loop on both paths") {
    import spark.implicits._
    val rnd = new Random(11)
    // random dangling digraph (long ids), plus a string-id transition
    // graph (the gated q58 shape) — both compared path against path
    val edges = Seq.fill(90) {
      (rnd.nextInt(25).toLong, rnd.nextInt(35).toLong,
        (rnd.nextInt(9) + 1).toDouble)
    }.groupBy(e => (e._1, e._2)).map(_._2.head).toSeq
      .filter { case (s, t, _) => s != t }
    val df = edges.toDF("src", "dst", "w")
    val dist = PageRank.run(df, damping = 0.85, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val drv = PageRank.run(df, damping = 0.85, iters = 8,
        driverMaxEdges = 10000L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(drv.keySet == dist.keySet)
    // same formula, same normalized p — only summation order differs
    dist.foreach { case (v, r) =>
      assert(math.abs(drv(v) - r) < 1e-12, s"node $v: $r vs ${drv(v)}")
    }
    assert(math.abs(drv.values.sum - 1.0) < 1e-9)

    val sdf = Seq(("a", "b", 2.0), ("b", "c", 1.0), ("c", "a", 1.0),
      ("b", "a", 0.5), ("a", "c", 0.5)).toDF("src", "dst", "w")
    val sDist = PageRank.run(sdf, iters = 10, requireFullDegree = true)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sDrv = PageRank.run(sdf, iters = 10, requireFullDegree = true,
        driverMaxEdges = graft.operators.DriverTier.MaxRows)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sDrv.keySet == sDist.keySet)
    sDist.foreach { case (v, r) => assert(math.abs(sDrv(v) - r) < 1e-12) }

    // over-bound graphs fall back to the distributed loop (the returned
    // frame is checkpoint-backed, not a LocalRelation)
    val fb = PageRank.run(df, iters = 3, driverMaxEdges = 1L)
    assert(!fb.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      "driverMaxEdges=1 must not take the driver path")
    // tolerance + cadence: both paths exit at the same round
    val (_, itDist) = PageRank.runWithStats(df, damping = 0.5, iters = 60,
      tolerance = Some(1e-9), checkEvery = 3)
    val (_, itDrv) = PageRank.runWithStats(df, damping = 0.5, iters = 60,
      tolerance = Some(1e-9), checkEvery = 3, driverMaxEdges = 10000L)
    assert(itDist == itDrv, s"early-exit rounds differ: $itDist vs $itDrv")
    spark.catalog.clearCache()
  }

  test("rejects bad damping and iteration counts") {
    import spark.implicits._
    val df = Seq((1L, 2L, 1.0)).toDF("src", "dst", "w")
    intercept[IllegalArgumentException](PageRank.run(df, damping = 1.0))
    intercept[IllegalArgumentException](PageRank.run(df, iters = 0))
    intercept[IllegalArgumentException](
      PageRank.runWithStats(df, tolerance = Some(0.0)))
    intercept[IllegalArgumentException](
      PageRank.runWithStats(df, checkEvery = 0))
  }

  test("residual early-exit stops before maxIters and stays near the " +
      "converged ranks") {
    import spark.implicits._
    // a 4-cycle converges in ONE round (perfectly uniform: every round
    // maps the uniform vector to itself), so the first residual check
    // must fire the exit — far below the 40-round ceiling
    val cycle = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0),
      (3L, 0L, 1.0)).toDF("src", "dst", "w")
    val (r1, it1) = PageRank.runWithStats(cycle, iters = 40,
      tolerance = Some(1e-9), checkEvery = 2)
    assert(it1 == 2, s"uniform cycle should exit at the first check, ran $it1")
    r1.collect().foreach(r => assert(math.abs(r.getDouble(1) - 0.25) < 1e-12))

    // a structured graph: early-exit ranks must land within the
    // certified distance of the fixed-run limit. Damping 0.5 keeps the
    // convergence factor (=d per round) small so both runs are cheap:
    // residual < 1e-9 by round ~30, and the 50-round fixed run sits at
    // ~1e-15 of the limit — the 1e-8 comparison bound is then sound
    // (distance-to-limit ≤ residual·d/(1−d) = residual).
    val edges = Seq((0L, 1L, 2.0), (0L, 2L, 1.0), (1L, 2L, 1.0),
      (2L, 0L, 1.0), (3L, 2L, 1.0), (1L, 3L, 1.0)).toDF("src", "dst", "w")
    val (early, itE) = PageRank.runWithStats(edges, damping = 0.5,
      iters = 60, tolerance = Some(1e-9), checkEvery = 5)
    assert(itE < 60, s"never converged: ran all $itE rounds")
    val fixed = PageRank.run(edges, damping = 0.5, iters = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    early.collect().foreach { r =>
      assert(math.abs(r.getDouble(1) - fixed(r.getLong(0))) < 1e-8,
        s"node ${r.getLong(0)} drifted")
    }
    assert(math.abs(early.collect().map(_.getDouble(1)).sum - 1.0) < 1e-9)
    spark.catalog.clearCache()
  }
  test("checkpoint cadence does not change ranks (bit-exact) and leaks nothing") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 1L, 1.0), (3L, 2L, 2.0),
      (2L, 1L, 0.5), (1L, 3L, 0.5)).toDF("src", "dst", "w")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r1 = graft.operators.PageRank.run(edges, iters = 9)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val r3 = graft.operators.PageRank.run(edges, iters = 9,
        checkpointEvery = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // identical rounds, identical IEEE arithmetic — cadence only moves
    // WHERE materialization happens, never what is computed
    assert(r1 == r3, s"cadence changed ranks: $r1 vs $r3")
    // iters=9 not divisible by 3-with-final? 9 % 3 == 0 — also probe a
    // non-dividing cadence where the FINAL round forces its own cut
    val r4 = graft.operators.PageRank.run(edges, iters = 9,
        checkpointEvery = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(r1 == r4)
    // intermediate rounds' blocks are freed: only the three returned
    // frames' checkpoint blocks may remain beyond the baseline
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 3, s"cadence loop leaked blocks: $leaked")
  }

  test("tolerance + cadence compose: pre-residual checkpoint keeps results bit-exact") {
    import spark.implicits._
    // the ADVICE-r8 path: with checkpointEvery > 1 the round PRECEDING a
    // due residual check is now checkpointed too, so the residual join
    // reads two materialized frames. Results must be bit-identical to
    // cadence 1 (checkpoints move materialization, never arithmetic),
    // with the same early-exit round, and nothing may leak.
    val edges = Seq((0L, 1L, 2.0), (0L, 2L, 1.0), (1L, 2L, 1.0),
      (2L, 0L, 1.0), (3L, 2L, 1.0), (1L, 3L, 1.0)).toDF("src", "dst", "w")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (r1, it1) = graft.operators.PageRank.runWithStats(edges,
      damping = 0.5, iters = 60, tolerance = Some(1e-9), checkEvery = 2)
    val (r3, it3) = graft.operators.PageRank.runWithStats(edges,
      damping = 0.5, iters = 60, tolerance = Some(1e-9), checkEvery = 2,
      checkpointEvery = 3)
    assert(it1 == it3, s"cadence moved the early-exit round: $it1 vs $it3")
    val m1 = r1.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val m3 = r3.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(m1 == m3, "cadence + tolerance changed ranks")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2, s"tolerance+cadence loop leaked: $leaked")
  }

}
