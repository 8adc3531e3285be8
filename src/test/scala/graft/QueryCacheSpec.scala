package graft

import graft.queries.QueryCache

/** The session memo's held values: built once per (dir, kind), outside
  * the raw switch, and cleared or forgotten by kind.
  */
class QueryCacheSpec extends SparkSuite {

  private val A = new QueryCache.Kind[Int]("spec_held_a")
  private val B = new QueryCache.Kind[Int]("spec_held_b")
  private val kinds = Set(A.name, B.name)

  test("held builds once, also under spark.graft.memo.disabled") {
    QueryCache.clearMemo(kinds)
    var builds = 0
    spark.conf.set("spark.graft.memo.disabled", "true")
    try {
      assert(QueryCache.held("d", A) { builds += 1; 7 } == 7)
      assert(QueryCache.held("d", A) { builds += 1; 8 } == 7)
    } finally spark.conf.unset("spark.graft.memo.disabled")
    assert(builds == 1, "the second held call ran its build")
    QueryCache.clearMemo(kinds)
  }

  test("clearMemo(kinds) leaves other kinds warm; forget(dir, kinds) " +
    "drops only that dir") {
    QueryCache.clearMemo(kinds)
    for (d <- Seq("d1", "d2"); k <- Seq(A, B)) QueryCache.held(d, k)(1)
    QueryCache.clearMemo(Set(A.name))
    assert(QueryCache.memoSize(Set(A.name)) == 0)
    assert(QueryCache.memoSize(Set(B.name)) == 2)
    QueryCache.forget("d1", Set(B.name))
    assert(QueryCache.held("d1", B)(2) == 2, "forget kept d1")
    assert(QueryCache.held("d2", B)(2) == 1, "forget dropped d2")
    QueryCache.clearMemo(kinds)
  }
}
