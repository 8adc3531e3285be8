package graft.operators

import scala.collection.mutable

/** Driver-tier triangle counting over a bounded DISTINCT undirected edge
  * list — the third member of the driver tier beside
  * [[ConnectedComponents.componentsBounded]] and PageRank's driver power
  * iteration (guide §1.2: the cheapest distributed plan for a bounded
  * edge list is none at all). The distributed adjacency-set formula in
  * q60 spends ~6 exchanges and a dozen job submissions on a support-2
  * edge frame that is a few THOUSAND rows at any gate SF — pure
  * scheduling latency; the caller has already paid an exact `count()`
  * barrier on the persisted edge frame, so the driver tier engages off a
  * known-bounded collect, not a probe.
  */
object Triangles {

  /** Count triangles of the distinct undirected edge list `edges` (each
    * unordered pair exactly once) under DEGREE orientation — the same
    * enumeration the distributed formula runs: each edge points
    * low-(deg, id) → high-(deg, id) (id breaks ties) and
    * tri = Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)|, so each
    * triangle is counted exactly once from its lowest corner. The
    * adjacency lists are duplicate-free by the distinctness contract,
    * so the sorted-merge intersection size below equals the distributed
    * `size(array_intersect(nu, nv))` term for term. Returns
    * `(nTriangles, nNodes)`; `nEdges` is `edges.length` by the same
    * contract. OperatorPropertySpec pins this against the distributed
    * formula on clique/chain/random fixtures.
    */
  def countBounded(edges: Array[(Long, Long)]): (Long, Long) = {
    val deg = mutable.LongMap.empty[Int]
    edges.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0) + 1
      deg(b) = deg.getOrElse(b, 0) + 1
    }
    val oriented = edges.map { case (a, b) =>
      val da = deg(a); val db = deg(b)
      if (da < db || (da == db && a < b)) (a, b) else (b, a)
    }
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    oriented.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, mutable.ArrayBuffer.empty[Long]) += v
    }
    val sortedAdj = mutable.LongMap.empty[Array[Long]]
    adj.foreach { case (u, buf) => sortedAdj(u) = buf.toArray.sorted }
    val empty = Array.empty[Long]
    var tri = 0L
    oriented.foreach { case (u, v) =>
      val nu = sortedAdj.getOrElse(u, empty)
      val nv = sortedAdj.getOrElse(v, empty)
      var i = 0; var j = 0
      while (i < nu.length && j < nv.length) {
        val x = nu(i); val y = nv(j)
        if (x == y) { tri += 1L; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
    }
    (tri, deg.size.toLong)
  }
}
