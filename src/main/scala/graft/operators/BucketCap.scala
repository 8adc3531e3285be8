package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-size cap for LSH candidate generation (dd3/dd4/s3/dd7).
  *
  * A banding join is sub-quadratic only while bucket occupancy is bounded;
  * an adversarial bucket — thousands of identical boilerplate docs, or
  * all-zero embeddings hashing to one SRP key — reintroduces a quadratic
  * pair explosion *inside* that bucket (m members → m²/2 candidate pairs).
  * The standard mitigation is to drop oversized buckets outright: members
  * of a bucket that large are near-universal within it, so the pairs it
  * would contribute are either exact duplicates (already caught by the
  * hash-groupBy exact pass, dd1) or boilerplate collisions that exact
  * re-ranking would discard. The cap bounds per-bucket work at cap²/2.
  *
  * Plan shape: bucket sizes come from a map-side-combined hash aggregation
  * (only (key, partial-count) pairs cross the shuffle), the `> cap` filter
  * leaves a near-empty oversize list, and the anti-join against it is
  * AQE-broadcast in practice — so the banded frame itself is never
  * shuffled just to be counted. (A window-count formulation would shuffle
  * every banded row on the bucket key before the join; measured slower at
  * sf0.1 and strictly more data movement at scale.) The oversize list is
  * deliberately NOT hint-broadcast: in the adversarial worst case it can
  * have up to |rows|/cap entries, and AQE's runtime-stats decision
  * degrades gracefully to a shuffled anti-join instead of an OOM.
  *
  * The same cap must be replayed by the DuckDB oracle (a size-filtered
  * bucket join over the dumped signature frames) so capped results stay
  * hash-checkable.
  */
object BucketCap {

  /** Keep only rows whose bucket (all `keyCols` equal) has ≤ `cap`
    * members. Eager, through [[splitByOccupancyBounded]]: its one size
    * job also fills a persisted `df`'s cache, so the consumers plan over
    * the cache's real size. Over a cold cache, AQE picks a self-join's
    * strategy by which cache stage finishes first, and the same input
    * runs zero, one or two extra n-row exchanges from run to run.
    */
  def capBuckets(df: DataFrame, keyCols: Seq[String], cap: Long): DataFrame =
    splitByOccupancyBounded(df, keyCols, cap)._1

  /** Two-regime occupancy split: rows in sub-cap buckets vs rows in
    * over-cap (FLOOD) buckets — the shared front half of the
    * flood-pairing rule (`Similarity.srpCandidates` /
    * `Dedup.semDedupDrops`: sub-cap buckets pair exactly, flood buckets
    * pair rank-adjacent instead of being dropped). Plan shape as
    * documented above: one map-side-combined size agg; the near-empty
    * oversize list anti-joins (AQE-broadcast in practice) for the ok
    * side and semi-joins for the flood side. Column order preserved on
    * both outputs.
    */
  def splitByOccupancy(df: DataFrame, keyCols: Seq[String], cap: Long)
      : (DataFrame, DataFrame) = {
    require(cap >= 2, s"cap $cap would drop every pair-producing bucket")
    val oversize = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > cap)
      .select(keyCols.map(col): _*)
    // the using-columns joins reorder key columns first; restore the
    // caller's column order so the split is a transparent filter
    val cols = df.columns.map(col).toIndexedSeq
    (df.join(oversize, keyCols, "left_anti").select(cols: _*),
      df.join(oversize, keyCols, "left_semi").select(cols: _*))
  }

  /** Driver-bound for [[splitByOccupancyBounded]]'s eager oversize-key
    * collect: 64k keys ≈ a few MB of (band, key) rows — comfortably
    * driver-tier (P4 discipline), and far above any organic flood count
    * at the gate SFs. A corpus whose over-cap key count exceeds this
    * (≥ 64k·cap rows inside floods) falls back to the fully lazy
    * distributed split.
    */
  private[graft] val MaxOversizeKeys = 65536

  /** [[splitByOccupancy]] made EAGER and short-circuiting (ADVICE r10):
    * the lazy split re-derives the size aggregate once per consuming
    * join (2-3 scans of `df`'s plan) and pays the flood branch even when
    * no bucket is over cap — the common case at healthy occupancy. This
    * variant runs the size aggregate ONCE (map-side combined; only
    * (key, count) survivors reach the driver, through
    * [[DriverTier.collectBounded]] at [[MaxOversizeKeys]]) and returns:
    *
    *  - `(df, None)` when NO bucket is over cap — callers skip the flood
    *    branch entirely, so the healthy-corpus plan carries no anti-join,
    *    no union, and no flood machinery at all;
    *  - `(ok, Some(flood))` with both sides joined against a BROADCAST
    *    local relation of the collected oversize keys (no re-aggregation
    *    in either consuming plan) when the oversize list fits the bound;
    *  - the lazy [[splitByOccupancy]] frames when it does not (the
    *    degenerate 100 TB mega-flood: the one extra aggregate pass is
    *    noise next to the pairing work that follows).
    *
    * Eager means callers run one Spark job at DataFrame-construction
    * time; every call site persists `df`'s parent first, so the job
    * doubles as the cache-warming pass.
    */
  def splitByOccupancyBounded(df: DataFrame, keyCols: Seq[String], cap: Long)
      : (DataFrame, Option[DataFrame]) = {
    val (ok, flood, _) = splitByOccupancyBoundedWithKeys(df, keyCols, cap)
    (ok, flood)
  }

  /** [[splitByOccupancyBounded]] plus the COLLECTED oversize keys when
    * the bounded branch fired: callers whose key space admits an in-row
    * survival test (srpCandidates' 8×4-bit band keys — the whole space
    * is 128 keys, so the bounded branch always fires there) derive the
    * test from these rows instead of re-aggregating. The third element
    * is `None` when there is no flood at all AND when the oversize list
    * exceeded the driver bound (the lazy fallback) — a caller must
    * check the flood Option to tell the two apart.
    */
  def splitByOccupancyBoundedWithKeys(df: DataFrame, keyCols: Seq[String],
      cap: Long)
      : (DataFrame, Option[DataFrame], Option[Array[org.apache.spark.sql.Row]]) = {
    require(cap >= 2, s"cap $cap would drop every pair-producing bucket")
    val oversize = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > cap)
      .select(keyCols.map(col): _*)
    DriverTier.collectBounded(oversize, MaxOversizeKeys) match {
      case Some(head) if head.isEmpty => (df, None, None)
      case Some(head) =>
        import scala.jdk.CollectionConverters._
        val local = df.sparkSession
          .createDataFrame(head.toSeq.asJava, oversize.schema)
        val cols = df.columns.map(col).toIndexedSeq
        (df.join(broadcast(local), keyCols, "left_anti").select(cols: _*),
          Some(df.join(broadcast(local), keyCols, "left_semi")
            .select(cols: _*)),
          Some(head))
      case None =>
        val (ok, flood) = splitByOccupancy(df, keyCols, cap)
        (ok, Some(flood), None)
    }
  }

  /** [[capBuckets]] with the cap derived from the bucket-size
    * distribution itself: `max(floor, p99.9 of bucket sizes)`
    * ([[AdaptiveCap.permilleCap]] — exact, oracle-replayable). Returns
    * `(capped frame, chosen cap, sizes frame)`: the sizes frame is
    * persisted here because the cap derivation is an ACTION over it and
    * the oversize anti-join reads it again — the caller must hand it to
    * `QueryCache.resultThenRelease` (or unpersist it) once the result is
    * materialized.
    */
  def capBucketsAdaptive(df: DataFrame, keyCols: Seq[String], floor: Long)
      : (DataFrame, Long, DataFrame) = {
    val (out, cap, _, sizes) = capBucketsAdaptiveWithMax(df, keyCols, floor)
    (out, cap, sizes)
  }

  /** [[capBucketsAdaptive]] plus the LARGEST bucket size, read off the
    * same collected histogram for free (dd2's `permilleCapWithMax`
    * pattern). When max ≤ cap NO bucket is over the cap, so the oversize
    * anti-join is provably a no-op and is dropped from the plan outright
    * (`out eq df` filter-free); callers can additionally use the proof to
    * take capping-free fast paths (dd4's minimal-band pair emission).
    */
  def capBucketsAdaptiveWithMax(df: DataFrame, keyCols: Seq[String],
      floor: Long): (DataFrame, Long, Long, DataFrame) = {
    require(floor >= 2, s"floor $floor would drop every pair-producing bucket")
    val sizes = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .persist()
    val (cap, maxB) = AdaptiveCap.permilleCapWithMax(sizes, "_bsz", floor)
    val out =
      if (maxB <= cap) df
      else {
        val oversize = sizes.filter(col("_bsz") > cap)
          .select(keyCols.map(col): _*)
        df.join(oversize, keyCols, "left_anti")
          .select(df.columns.map(col).toIndexedSeq: _*)
      }
    (out, cap, maxB, sizes)
  }
}
