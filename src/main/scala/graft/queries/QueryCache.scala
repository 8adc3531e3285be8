package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Cache discipline for queries that persist large intermediates.
  *
  * The intermediates (shingle arrays, signatures, normalized vectors, grid
  * frames) are persisted as materialization barriers: without them Catalyst's
  * project-collapse would inline the expensive kernel expressions into the
  * downstream self-joins and recompute them per *pair* instead of per *row*
  * (measured 80 s → 2 s on dd3 at sf0.1). But cache substitution happens at
  * action time, so an intermediate cannot be released until every action that
  * needs it has run — a bare `try/finally` around the plan construction would
  * drop the cache before the caller materializes the result and silently
  * reintroduce the per-pair recompute.
  *
  * [[resultThenRelease]] therefore materializes the (small, bounded) result
  * into its own cache first and only then releases the intermediates. The
  * caller receives a cached result it owns — the one retained block — while
  * the corpus-sized intermediates are freed deterministically inside the
  * query call instead of leaking until some external `clearCache()`. Plan
  * evidence is preserved: `InMemoryRelation` prints the full cached child
  * plan, so the no-nested-loop pins in PlanShapeSpec/RangeJoinSpec still see
  * the real join shapes through the cache.
  */
private[graft] object QueryCache {

  /** A driver copy of a bounded result: its schema and rows, rebuilt
    * into a local frame with `createDataFrame` on every serve.
    */
  private[graft] type Snapshot = (StructType, Seq[Row])

  /** What a [[memoized]] build hands back: `Right((snapshots, cap))` to
    * store and serve, or `Left((live, cap, release))` past the bound —
    * the live frames plus the frames the CALLER must release after
    * materializing its result.
    */
  private[graft] type Built =
    Either[(Seq[DataFrame], Long, Seq[DataFrame]), (Seq[Snapshot], Long)]

  /** The session memo: one map for the query-result memo
    * ([[memoized]]) and the session-held values ([[held]]).
    *
    * [[memoized]] holds bounded query results (dd pair lists and
    * component map, the pHash artifacts, the ANN tier shortlists). A
    * production pipeline materializes these once and feeds every
    * downstream stage from the materialization; the memo emulates that
    * compute-once contract within one JVM, so e.g. dd2/dd12's shingle
    * machinery, dd8/dd14's component fold, mm5/mm7's pHash pass and
    * s16's tiers each run once per corpus.
    *
    * Key: (corpus dir, kind, [[layout]]) — the layout is part of the
    * key so the partition-invariance sweep still runs the real
    * machinery under its changed layout. Value: the driver snapshots of
    * the result plus the cap the build derived.
    *
    * Raw switch: `spark.graft.memo.disabled=true` (Bench and Verify map
    * SPARK_GRAFT_NO_MEMO=1 onto it) reads nothing and stores nothing,
    * and the build sees a bound of −1, so every run executes its raw
    * pipeline end to end.
    *
    * Fallback: a result is held on the driver only while it fits the
    * bound the caller passes (normally [[graft.operators.DriverTier]]);
    * past it the build hands back the live distributed frames and the
    * frames the caller must release, and nothing is stored.
    *
    * [[held]] holds what stands in for an input a production pipeline
    * loads from storage rather than the work a query is measured on:
    * s9's k-means centroids, the t28/t30 BPE merge table (both cached
    * over [[graft.source.ArtifactStore]]), the corpus vector counts the
    * ANN strides derive from, and the built [[Serving]] and
    * [[GeoServing]] indexes. These sit outside the raw switch: a raw s9
    * run must load its model, not retrain it, or its body and its
    * Verify dump could see different centroids.
    */
  private val memo = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), Any]

  /** A [[held]] family: `name` is its memo kind (what [[clearMemo]],
    * [[memoSize]] and [[forget]] filter on); `A` is the value it holds.
    */
  final class Kind[A](val name: String)

  /** The shuffle-partition layout, for entries whose value depends on it. */
  def layout(s: SparkSession): String =
    s.conf.get("spark.sql.shuffle.partitions", "")

  /** Serve `kind` for `dir` from the memo, or run `build(bound)` and
    * store what it snapshots. Returns (frames, cap, frames the caller
    * must release) — local frames and no releases on a hit or a store,
    * the build's live frames past the bound or under the raw switch.
    */
  def memoized(s: SparkSession, dir: String, kind: String, maxRows: Long)(
      build: Long => Built): (Seq[DataFrame], Long, Seq[DataFrame]) = {
    val raw = s.conf.getOption("spark.graft.memo.disabled").contains("true")
    val key = (dir, kind, layout(s))
    val hit = if (raw) None
      else memo.get(key).map(_.asInstanceOf[(Seq[Snapshot], Long)])
    hit.map(Right(_)).getOrElse(build(if (raw) -1L else maxRows)) match {
      case Left(live) => live
      case Right(e @ (snaps, cap)) =>
        if (hit.isEmpty && !raw) memo.put(key, e)
        (snaps.map(local(s, _)), cap, Nil)
    }
  }

  /** `kind`'s value for (`dir`, `layout`), built once and then served;
    * the raw switch does not apply. Concurrent first calls may each run
    * `build`, but all of them return the one value that was published.
    */
  def held[A](dir: String, kind: Kind[A], layout: String = "")(
      build: => A): A =
    memo.getOrElseUpdate((dir, kind.name, layout), build).asInstanceOf[A]

  /** Test and tool hooks: drop, or count, the memo entries whose kind
    * `kinds` accepts (all of them by default) — so a caller clears only
    * the family it needs cold and the other families stay warm.
    */
  def clearMemo(kinds: String => Boolean = _ => true): Unit =
    memo.keys.filter(k => kinds(k._2)).foreach(memo.remove)
  def memoSize(kinds: String => Boolean = _ => true): Int =
    memo.keys.count(k => kinds(k._2))

  /** Drop `dir`'s entries whose kind `kinds` accepts — the refresh
    * paths, after the data behind `dir` changed.
    */
  def forget(dir: String, kinds: String => Boolean): Unit =
    memo.keys.filter(k => k._1 == dir && kinds(k._2)).foreach(memo.remove)

  def snapshot(df: DataFrame): Snapshot = (df.schema, df.collect().toSeq)

  def local(s: SparkSession, snap: Snapshot): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(snap._2.asJava, snap._1)
  }

  /** Run `body`; if it throws, release `frames` before rethrowing, so a
    * failed query does not strand corpus-sized caches for the session.
    */
  def releasingOnFailure[A](frames: Seq[DataFrame])(body: => A): A =
    try body
    catch {
      case e: Throwable =>
        frames.foreach(_.unpersist(blocking = false))
        throw e
    }

  /** Persist `df` and count it (the count fills the cache), then release
    * the `caches` it was computed from — on the failure path too.
    */
  def persistCounted(df: DataFrame, caches: Seq[DataFrame]): (DataFrame, Long) = {
    val out = df.persist()
    val n = releasingOnFailure(out +: caches)(out.count())
    caches.foreach(_.unpersist(blocking = false))
    (out, n)
  }

  /** Open within-INVOCATION deferred-release scope, or null when closed.
    * See [[withDeferredRelease]]. Thread-local: query functions build and
    * materialize on the caller's thread, and a scope must never leak
    * frames into a concurrent invocation.
    */
  private val deferred =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[DataFrame]]

  /** Run `body` with intermediate releases DEFERRED to scope exit: while
    * the scope is open, [[resultThenRelease]] keeps its intermediates
    * persisted instead of unpersisting them after the result
    * materializes, so LATER stages of the same invocation whose plans
    * are canonically identical (or contain a cached subtree) are served
    * from the cache by Spark's CacheManager instead of recomputing —
    * guide §2.4's "reuse materialized frames", applied WITHIN one query
    * invocation (s16 runs six ANN tier pipelines that pairwise share the
    * normalized-embeddings frame, the IVF assignment, and the PQ code
    * frame). Scope exit releases everything deferred, so nothing
    * outlives the invocation — each bench run / oracle replay still
    * computes from the parquet inputs. The trade, stated: peak cached
    * storage during the invocation is the UNION of the stages'
    * intermediates instead of one stage's; DataFrame persist is
    * MEMORY_AND_DISK, so past memory the excess spills or evicts
    * (recompute), never OOMs the executors.
    *
    * Nested opens join the outer scope (the outer owner releases).
    */
  def withDeferredRelease[A](body: => A): A = {
    if (deferred.get != null) return body
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    deferred.set(buf)
    try body
    finally {
      deferred.remove()
      buf.foreach(_.unpersist(blocking = false))
    }
  }

  /** Persist and fully materialize `result`, then release the
    * `intermediates` it was computed from. Results here are bounded (top-k
    * lists, pair survivors, probe rows — never corpus-sized), so caching
    * them is cheap; `count()` on a persisted frame materializes every
    * column into the cache (unlike on a bare plan, where Catalyst would
    * prune the projections).
    *
    * Inside a [[withDeferredRelease]] scope the intermediates are handed
    * to the scope instead of released here (success path only — a failed
    * materialization still releases everything immediately).
    */
  def resultThenRelease(result: DataFrame, intermediates: DataFrame*): DataFrame = {
    val out = result.persist()
    // failure path: if materialization dies (task failure, OOM, cancel),
    // release BOTH the half-built result cache and the intermediates before
    // rethrowing — otherwise a failed query leaks exactly the corpus-sized
    // caches this class exists to free
    releasingOnFailure(out +: intermediates)(out.count())
    val scope = deferred.get
    if (scope != null) scope ++= intermediates
    else intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  /** Lineage CUT for bounded results computed from storage that is about
    * to disappear (temp catalog tables, temp files): collect to the
    * driver and rebuild as a local frame. A `persist()` would NOT be
    * safe here — DROP TABLE cascades an uncache of every dependent plan,
    * and a later action would silently recompute from the deleted files.
    * Only for results bounded by construction (group-by over a small
    * categorical domain); never corpus-sized frames.
    */
  def materializeLocal(result: DataFrame): DataFrame =
    local(result.sparkSession, snapshot(result))
}
