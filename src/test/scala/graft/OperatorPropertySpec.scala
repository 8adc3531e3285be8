package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, ConnectedComponents}

/** Randomized brute-force oracles complementing the existing property
  * coverage (RangeJoinSpec's naive-join replay, RegularGridPropSpec,
  * PlanShapeSpec's TopKPerKey-vs-window and CC-vs-union-find tests):
  * AsofJoin's union-and-carry had only hand-constructed cases, and the
  * CC suite lacked the long-chain (diameter ≈ maxIter/2), clique, and
  * self-loop topologies. Seeds are pinned — deterministic replays, not
  * flaky fuzzing — but the data is adversarially shaped: duplicate
  * timestamps on both sides, near-degenerate key counts.
  */
class OperatorPropertySpec extends SparkSuite {

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  test("AsofJoin equals the brute-force per-row scan on random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    // duplicate times on BOTH sides and only 5 keys: the adversarial
    // shape for carry logic (ties inside one window partition)
    val left = Seq.tabulate(300)(i =>
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(100)), i.toLong))
    val right = Seq.tabulate(200)(_ =>
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(100)), rnd.nextInt(1000)))
    val out = AsofJoin.asof(
        left.toDF("k", "t", "lid"), right.toDF("k", "rt", "v"),
        key = "k", leftTime = "t", rightTime = "rt",
        payload = Map("v" -> "av"))
      .collect()
      .map(r => r.getLong(r.fieldIndex("lid")) ->
        (if (r.isNullAt(r.fieldIndex("av"))) None
         else Some(r.getInt(r.fieldIndex("av"))))).toMap
    // brute force: for each left row, the right rows at-or-before its
    // time; among them the max (time, payload) — AsofJoin's documented
    // tie-break (latest time, then largest payload struct)
    left.foreach { case (k, t, lid) =>
      val cand = right.filter(r => r._1 == k && !r._2.after(t))
      val expected =
        if (cand.isEmpty) None
        else Some(cand.maxBy(r => (r._2.getTime, r._3))._3)
      assert(out(lid) == expected, s"left row $lid (k=$k, t=$t)")
    }
  }

  test("AsofJoin tolerance equals the brute-force bounded scan") {
    import spark.implicits._
    val rnd = new scala.util.Random(202)
    val tol = java.time.Duration.ofSeconds(7)
    val left = Seq.tabulate(200)(i =>
      (rnd.nextInt(4).toLong, ts(rnd.nextInt(80)), i.toLong))
    val right = Seq.tabulate(120)(_ =>
      (rnd.nextInt(4).toLong, ts(rnd.nextInt(80)), rnd.nextInt(1000)))
    val out = AsofJoin.asof(
        left.toDF("k", "t", "lid"), right.toDF("k", "rt", "v"),
        key = "k", leftTime = "t", rightTime = "rt",
        payload = Map("v" -> "av"), tolerance = Some(tol))
      .collect()
      .map(r => r.getLong(r.fieldIndex("lid")) ->
        (if (r.isNullAt(r.fieldIndex("av"))) None
         else Some(r.getInt(r.fieldIndex("av"))))).toMap
    left.foreach { case (k, t, lid) =>
      val cand = right.filter(r => r._1 == k && !r._2.after(t))
      // the CARRIED row is the latest regardless of tolerance; the mask
      // then nulls it if stale — NOT "latest within tolerance"
      val expected =
        if (cand.isEmpty) None
        else {
          val (_, rt, v) = cand.maxBy(r => (r._2.getTime, r._3))
          if (t.getTime - rt.getTime <= tol.toMillis) Some(v) else None
        }
      assert(out(lid) == expected, s"left row $lid (k=$k, t=$t)")
    }
  }

  test("ConnectedComponents converges logarithmically on a deep chain " +
    "(the organic x400 ceiling, distilled)") {
    import spark.implicits._
    // A 5000-node path graph: pure hook (min-label) propagation needs
    // 4999 rounds — the shape that blew the 12-round ceiling when the
    // x400 corpus built a >11-hop near-dup chain. With the pointer-
    // jumping shortcut the distance covered doubles per round, so the
    // DEFAULT maxIter must suffice and every node must land on label 0.
    val n = 5000L
    val edges = spark.range(0, n - 1)
      .select(col("id").as("i"), (col("id") + 1).as("j"))
    val got = graft.operators.ConnectedComponents
      .components(edges, "i", "j")
    assert(got.filter(col("label") =!= 0L).count() == 0,
      "deep chain did not collapse to the component minimum")
    assert(got.count() == n)
  }

  test("ConnectedComponents equals union-find on chain+clique graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(404)
    // adversarial mix: a long chain (max diameter per edge count), two
    // cliques (near-dup cluster shape), random sprinkle, self-loops,
    // plus singletons via edge endpoints that appear once
    val chain = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique1 = for (i <- 100L to 105L; j <- (i + 1) to 105L) yield (i, j)
    val clique2 = for (i <- 200L to 203L; j <- (i + 1) to 203L) yield (i, j)
    val sprinkle = Seq.fill(20)((300L + rnd.nextInt(40),
      300L + rnd.nextInt(40)))
    val edges = chain ++ clique1 ++ clique2 ++ sprinkle ++
      Seq((50L, 50L), (60L, 61L))
    val got = ConnectedComponents
      .components(edges.toDF("i", "j"), "i", "j", maxIter = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find reference
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label = min node id in the component, on both sides
    val minOf = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    nodes.foreach { n =>
      assert(got(n) == minOf(find(n)), s"node $n")
    }
    assert(got.keySet == nodes.toSet)
  }

  test("componentsBounded == components on chain+clique graphs, both paths") {
    import spark.implicits._
    // same adversarial mix as the union-find pin above: chain, cliques,
    // sprinkle, self-loop, near-singletons
    val rnd = new scala.util.Random(404)
    val chain = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (i <- 100L to 105L; j <- (i + 1) to 105L) yield (i, j)
    val sprinkle = Seq.fill(20)((300L + rnd.nextInt(40),
      300L + rnd.nextInt(40)))
    val edges = (chain ++ clique ++ sprinkle ++ Seq((50L, 50L), (60L, 61L)))
      .toDF("i", "j")
    val want = {
      val d = ConnectedComponents.components(edges, "i", "j", maxIter = 64)
      val rows = d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      graft.operators.Checkpoints.free(d)
      rows
    }
    // driver union-find path (bound far above the edge count)
    val local = ConnectedComponents
      .componentsBounded(edges, "i", "j", maxRows = 100000, maxIter = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(local == want, "driver union-find path diverged")
    // forced distributed fallback, map past 2·maxRows: returned live
    val fb = ConnectedComponents
      .componentsBounded(edges, "i", "j", maxRows = 3, maxIter = 64)
    val fbRows = fb.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.operators.Checkpoints.free(fb)
    assert(fbRows == want, "over-bound fallback path diverged")
    // distributed loop whose map fits 2·maxRows: |nodes| ≤ 79 ≤ 100 and
    // 66 edges > 50, so the Pregel loop runs and its map comes back held
    // on the driver, its checkpoints freed, nothing left for the caller
    assert(want.size <= 100 && edges.count() > 50, "fixture moved")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val held = ConnectedComponents
      .componentsBounded(edges, "i", "j", maxRows = 50, maxIter = 64)
    val deadline = System.nanoTime() + 5e9.toLong
    while (added.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(added.isEmpty, s"held Pregel map left persisted RDDs: $added")
    assert(held.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      want, "held Pregel path diverged")
  }

  test("ClusterStream == batch ConnectedComponents on random graphs, any split") {
    import spark.implicits._
    // the incremental union-find claim, property-swept: random graphs,
    // random batch partitions, random arrival order, random re-delivery
    // — the final map must equal batch CC over the union every time
    val rnd = new scala.util.Random(1311)
    for (trial <- 1 to 8) {
      val n = 20 + rnd.nextInt(60)
      val m = 10 + rnd.nextInt(80)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val batch = graft.operators.ConnectedComponents
          .components(edges.toDF("i", "j"), "i", "j", maxIter = 64)
        val want = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSet
        graft.operators.Checkpoints.free(batch)
        val shuffled = rnd.shuffle(edges)
        val nBatches = 1 + rnd.nextInt(4)
        val chunks0 = shuffled.grouped(
          math.max(1, (shuffled.size + nBatches - 1) / nBatches)).toSeq
        // random re-delivery of one chunk
        val chunks =
          if (rnd.nextBoolean()) chunks0 :+ chunks0(rnd.nextInt(chunks0.size))
          else chunks0
        val state = new graft.streaming.ClusterStream.ComponentMap(spark)
        try {
          chunks.foreach(c => state.ingest(c.toDF("i", "j")))
          val got = state.snapshot.collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(got == want,
            s"trial $trial (n=$n m=${edges.size} batches=${chunks.size}): " +
              s"only-stream=${(got -- want).take(5)} " +
              s"only-batch=${(want -- got).take(5)}")
        } finally state.close()
      }
    }
  }

  test("Triangles.countBounded == the distributed degree-oriented " +
    "formula on clique/chain/random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(606)
    // distinct undirected pairs, p1 < p2 — q60's edge-frame contract
    val clique = (for (i <- 1L to 6L; j <- (i + 1) to 6L)
      yield (i, j)).toSeq
    val chain = (10L until 40L).sliding(2).map(s => (s(0), s(1))).toSeq
    val random = Seq.fill(120)((100L + rnd.nextInt(30),
        100L + rnd.nextInt(30)))
      .collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }
      .distinct
    val fixtures = Seq(
      "clique" -> clique, "chain" -> chain, "random" -> random,
      "mixed" -> (clique ++ chain ++ random))
    fixtures.foreach { case (name, edges) =>
      val e = edges.toDF("p1", "p2")
      // the distributed adjacency-set-intersection formula, verbatim
      // from q60's fallback branch
      val deg = graft.queries.Relational.degrees(e)
      val o = graft.queries.Relational.orientWithDegrees(e, deg)
      val nbrs = o.groupBy(col("src")).agg(
        sort_array(collect_list(col("dst"))).as("ns"))
      val want = o
        .join(nbrs.select(col("src"), col("ns").as("nu")), Seq("src"))
        .join(nbrs.select(col("src").as("dst"), col("ns").as("nv")),
          Seq("dst"))
        .agg(coalesce(sum(size(array_intersect(col("nu"), col("nv")))),
          lit(0)).cast("long").as("t"))
        .collect()(0).getLong(0)
      val (got, gotNodes) =
        graft.operators.Triangles.countBounded(edges.toArray)
      assert(got == want, s"$name: driver=$got distributed=$want")
      assert(gotNodes == edges.flatMap(p => Seq(p._1, p._2)).distinct.size,
        s"$name: node count")
    }
    // known answers: K6 has C(6,3)=20 triangles, a chain has none
    assert(graft.operators.Triangles.countBounded(clique.toArray)._1 == 20L)
    assert(graft.operators.Triangles.countBounded(chain.toArray)._1 == 0L)
    assert(graft.operators.Triangles.countBounded(
      Array.empty[(Long, Long)]) == (0L, 0L))
  }
}
