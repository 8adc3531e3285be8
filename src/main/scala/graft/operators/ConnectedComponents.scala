package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Connected components over an edge list — the cluster-formation
  * primitive behind near-dup dedup ("keep one document per duplicate
  * cluster"): every node is labeled with the smallest node id reachable
  * through the (undirected) edges.
  *
  * Algorithm: Pregel-style min-label propagation with a POINTER-JUMPING
  * shortcut each round. The hook step joins the edge list against the
  * current labels and takes the per-node min of the neighbors' labels
  * (propagates one hop); the shortcut step then replaces every label
  * with its label's OWN label (label-of-label — doubles the effective
  * propagation distance). Hook alone converges in ≤ component-diameter
  * rounds, which the organic ×400 rehearsal (2M docs) falsified as
  * "enough for dedup graphs": transitive near-dup chains through the
  * heavy-head template corpus built a component deeper than 11 hops and
  * the loop hit its ceiling loudly. With the shortcut, depth is
  * O(log diameter) — the label set is identical at the fixpoint (labels
  * only ever hold in-component node ids and decrease monotonically; at
  * a combined fixpoint every label is its component's min), so callers
  * and oracles are unaffected. The stop condition is a full count-join
  * probe, and exceeding `maxIter` throws rather than returning
  * silently-truncated labels.
  *
  * Every round ends in an eager `localCheckpoint` — this is the core of
  * making iteration O(1) per round on BOTH axes that otherwise grow:
  * it materializes the round exactly once (an unmaterialized frame
  * referenced by several branches of one job is recomputed per branch),
  * and it replaces the round's logical plan with a flat `LogicalRDD` —
  * `persist` does neither for planning: the logical tree still nests one
  * join deeper per round, and re-analysis/optimization of that growing
  * tree came to dominate runtime (measured 2.5× on dd8) and eventually
  * OOM'd plan stringification (~20+ rounds). Checkpoint blocks are NOT
  * freed by `spark.catalog.clearCache` (they are RDD-level storage, not
  * CacheManager entries), so intermediate rounds' backing RDDs are
  * unpersisted explicitly before returning; only the returned frame's
  * blocks remain, owned by the caller.
  *
  * For billion-edge graphs the large-star/small-star formulation also
  * SHRINKS the edge list per round; the hook+shortcut form keeps the
  * edge list constant but already has the logarithmic round count —
  * the axis that actually bit at ×400.
  */
object ConnectedComponents {

  /** [[components]] with a DRIVER-TIER fast path (guide §1.2: fix the
    * distributed algorithm first — and the cheapest distributed
    * algorithm for a bounded edge list is none at all), returning the
    * component map held on the driver whenever it fits. When the edge
    * list holds at most `maxRows` rows ([[DriverTier.collectBounded]])
    * it runs union-find with min-label canonicalization on the driver.
    * The distributed loop costs 4-6 job submissions per round (hook
    * join, shortcut join, checkpoint, convergence count) — ~1-2 s of
    * pure driver/scheduler latency for a graph of a few dozen edges,
    * which is the organic regime of every gated near-dup graph
    * (dd8/dd14/mm7: tens of pairs at sf0.1).
    *
    * Past the bound, or for non-long or null ids, the Pregel loop runs
    * unchanged — no scale cliff. Its map is then held on the driver when
    * it has at most `2 * maxRows` rows (a map has at most two rows per
    * edge) and its checkpoint blocks are freed here; a larger map is
    * returned live, its blocks owned by the caller.
    *
    * The emitted (node, label) SET is identical to [[components]]'s by
    * construction (label = min node id reachable; OperatorPropertySpec
    * pins every path against the same union-find reference), so oracle
    * hashes are unchanged whichever path runs.
    */
  def componentsBounded(pairs: DataFrame, src: String, dst: String,
      maxRows: Long, maxIter: Int = 30): DataFrame = {
    import scala.jdk.CollectionConverters._
    val s = pairs.sparkSession
    val longIds = pairs.schema(src).dataType == LongType &&
      pairs.schema(dst).dataType == LongType
    val head =
      if (!longIds) None
      else DriverTier.collectBounded(
          pairs.select(col(src).as("i"), col(dst).as("j")), maxRows)
        .filterNot(_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
    if (head.isEmpty) {
      val comp = components(pairs, src, dst, maxIter)
      val held =
        try DriverTier.collectBounded(comp, 2 * maxRows)
        catch { case e: Throwable => Checkpoints.free(comp); throw e }
      return held.fold(comp) { rows =>
        Checkpoints.free(comp)
        s.createDataFrame(rows.toSeq.asJava, comp.schema)
      }
    }
    // union-find with path compression; canonical label = component min
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    head.get.foreach { r =>
      val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = parent.keys.toArray
    val minOf = mutable.Map.empty[Long, Long]
    nodes.foreach { n =>
      val r = find(n)
      minOf.get(r) match {
        case Some(m) => if (n < m) minOf(r) = n
        case None => minOf(r) = n
      }
    }
    val schema = StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("label", LongType, nullable = false)))
    val rows: Seq[Row] = nodes.sorted.toIndexedSeq
      .map(n => Row(n, minOf(find(n))))
    s.createDataFrame(rows.asJava, schema)
  }

  /** Label every node of the undirected graph `pairs(src, dst)` with its
    * component's minimum node id. Returns (node, label). Only nodes
    * incident to an edge appear (isolated corpus docs are their own
    * trivial cluster by definition — callers left-join if they need them).
    *
    * `maxIter` must be ≥ propagation depth + 1: the loop can only detect
    * the fixpoint by running one confirming no-change round, so a graph
    * whose labels finish moving exactly at round `maxIter` still throws.
    *
    * Storage is O(1) rounds: the previous round's blocks are freed as
    * soon as the convergence count over the new round completes; on any
    * failure (non-convergence or a job error mid-loop) the finally block
    * sweeps everything this call checkpointed except the returned frame.
    */
  def components(pairs: DataFrame, src: String, dst: String,
      maxIter: Int = 30): DataFrame = {
    val p = pairs.select(col(src).as("i"), col(dst).as("j"))
    val live = mutable.Set.empty[DataFrame]
    try {
      val edges = p.union(p.select(col("j").as("i"), col("i").as("j")))
        .localCheckpoint()
      live += edges
      var labels = edges.select(col("i").as("node")).distinct()
        .withColumn("label", col("node"))
        .localCheckpoint()
      live += labels
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        val nbrMin = edges
          .join(labels, edges("j") === labels("node"))
          .groupBy(edges("i").as("node"))
          .agg(min("label").as("nbr_label"))
        // hook: one-hop neighbor-min propagation. The round's STARTING
        // label rides along as `orig` so convergence below is a column
        // comparison on the round's own checkpoint instead of a
        // (node=node) join back to the previous round — one join +
        // exchange pair less per round. NOT checkpointed (r14): the
        // shortcut references it twice, but both references share the
        // identical hook subtree, so exchange/stage reuse materializes
        // its shuffles once — the former mid-round localCheckpoint was
        // one extra job per round for blocks the round immediately
        // freed (A/B at sf0.1, min-of-6: dd8 raw 3.95 → 3.54 s, mm7 /
        // dd14 flat; storage per round strictly smaller).
        val hooked = labels.alias("l")
          .join(nbrMin.alias("n"), col("l.node") === col("n.node"), "left")
          .select(col("l.node").as("node"),
            least(col("l.label"),
              coalesce(col("n.nbr_label"), col("l.label"))).as("label"),
            col("l.label").as("orig"))
        // shortcut (pointer jumping): label <- label's own label. Every
        // label value IS a node id of the same frame, so the left join
        // is total in practice; coalesce guards the contract anyway.
        val next = hooked.alias("x")
          .join(hooked
              .select(col("node").as("pn"), col("label").as("plabel"))
              .alias("y"),
            col("x.label") === col("y.pn"), "left")
          .select(col("x.node").as("node"),
            coalesce(col("y.plabel"), col("x.label")).as("label"),
            col("x.orig").as("orig"))
          .localCheckpoint()
        live += next
        // labels only DECREASE, so label != orig on any row iff the
        // round moved something — same predicate the former join probe
        // evaluated, now a scan of the just-checkpointed blocks.
        // (The small-loop AQE fast path PageRank takes was A/B'd here
        // too and LOST — dd8 4.2→4.8 s, mm7 2.6→3.8 s at sf0.1: CC's
        // hook join relies on AQE's runtime broadcast conversion, which
        // the fast path forfeits — so CC keeps AQE on at every size.)
        converged = next.filter(col("label") =!= col("orig")).count() == 0
        // the previous round is no longer referenced by anything
        Checkpoints.free(labels)
        live -= labels
        labels = next
        iter += 1
      }
      // fail loudly: truncated propagation would silently mislabel every
      // node of a deeper-than-maxIter component (and fail any exact check
      // downstream in a way that looks like a different bug)
      if (!converged) throw new IllegalStateException(
        s"connected components did not converge within $maxIter rounds — " +
          s"maxIter must exceed the propagation depth by the one " +
          s"confirming round; raise it for this graph")
      live -= labels // the caller owns the returned frame's blocks
      // drop the convergence-probe column: the public contract stays
      // (node, label); the projection sits on the flat LogicalRDD
      labels.select("node", "label")
    } finally {
      live.foreach(Checkpoints.free)
    }
  }
}
