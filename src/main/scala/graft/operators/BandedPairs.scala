package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Capped-safe single-emission banding over one ≤64-bit sketch — the
  * candidate machinery shared by dd4 (simhash) and mm5/mm7 (dHash).
  *
  * The naive banded self-join emits a colliding pair once per shared
  * band, so it needs a pair `distinct()` (a full exchange of the
  * candidate set — 4.16M rows / 95 MiB for dd4 at sf0.1) and, because the
  * distinct strips everything but the ids, two more joins to re-attach
  * the sketches for the exact Hamming re-rank.
  *
  * With the sketch itself riding the banded rows (8 bytes), both costs
  * vanish: a joined pair's FULL shared-band set is derivable bitwise —
  * band b is shared iff slice b of `h_i XOR h_j` is zero — and the
  * adaptive bucket CAP is decidable in-row too, because the over-cap
  * bucket keys are driver-bounded (organically 1-10 keys, hard ceiling
  * [[MaxInRowKeys]] — a LITERAL-node bound, see its doc), so
  * "bucket (band, slice) survived the cap" is a literal `isin` predicate
  * a pair's two sides agree on (the slice is equal at a shared band).
  * Each colliding pair then emits EXACTLY ONCE, from its minimal shared
  * SURVIVING band — precisely the distinct pair set of the capped bucket
  * join — and the Hamming score is computed in the same projection. A
  * corpus whose oversize-key count exceeds the driver bound falls back to
  * the distinct-and-re-attach path (the degenerate mega-flood regime), so
  * no scale cliff is introduced. Measured on dd4: plan 717 → 212 lines,
  * LeftAnti 8 → 0, matched A/B 1.75 → 1.15 s at sf0.1.
  */
object BandedPairs {

  /** Ceiling for the IN-ROW cap-survival fast path (ADVICE r14): each
    * over-cap key becomes a Long literal inside `isin` predicates that
    * appear ~2×bands times in the plan (keep disjuncts + minimal-band
    * survival checks), so the ceiling bounds LITERAL NODES, not a
    * broadcast relation — [[BucketCap.MaxOversizeKeys]] (64k) was sized
    * for the latter and would push ~1M literal nodes through
    * analysis/codegen near the bound. Organic floods are 1-10 keys; a
    * corpus past a few hundred over-cap keys is the degenerate
    * mega-flood regime, which the distinct-and-re-attach fallback below
    * already handles with no scale cliff.
    */
  private[graft] val MaxInRowKeys = 256

  /** Scored candidate pairs `(i, j, hamming)` over `hashes(idCol,
    * hashCol)`, bucket-capped at max(floor, p99.9) per
    * [[BucketCap.capBucketsAdaptiveWithMax]]. `hashes` MUST be persisted
    * by the caller (it is scanned once per join side); the returned
    * frames are the persisted caches the caller must release after
    * materializing the result (the sizes histogram). `hamming` is the
    * raw `bit_count` column — callers cast/rename as their schema needs.
    */
  def minimalBandScoredPairs(hashes: DataFrame, idCol: String,
      hashCol: String, bands: Int, bitsPerBand: Int, floor: Long)
      : (DataFrame, Long, Seq[DataFrame]) = {
    import graft.functions.HashFunctions.{hamming64, longBands}
    val mask = (1L << bitsPerBand) - 1L
    val banded = hashes.select(col(idCol), col(hashCol),
      explode(longBands(col(hashCol), bands, bitsPerBand)).as("bk"))
    val (capped, cap, maxB, sizes) =
      BucketCap.capBucketsAdaptiveWithMax(banded, Seq("bk"), floor)
    // None = the fast path cannot prove survival in-row (oversize list
    // exceeds the literal-expression ceiling [[MaxInRowKeys]]);
    // Some(keys by band) otherwise (empty map when nothing is capped).
    // TWIN IMPLEMENTATION NOTE: the minimal-band/matched-band rule also
    // lives in Similarity.srpCandidates (multiprobe + flood-union
    // generalization over a 32-bit signature) — a change to banding,
    // capping, or the exactly-once invariant must be mirrored there;
    // both sites are pinned against naive references (BandedPairsSpec,
    // DedupSimilaritySpec).
    val overKeys: Option[Map[Int, Array[Long]]] =
      if (maxB <= cap) Some(Map.empty)
      else DriverTier.collectBounded(
          sizes.filter(col("_bsz") > cap).select("bk"), MaxInRowKeys)
        .map(_.map(_.getStruct(0))
          .map(st => (st.getInt(0), st.getLong(1)))
          .groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2) })
    val scored = overKeys match {
      case Some(over) =>
        def slice(h: Column, b: Int): Column =
          shiftright(h, bitsPerBand * b).bitwiseAND(lit(mask))
        // survival of band b's bucket, in-row from the literal keys
        def survives(h: Column, b: Int): Column = over.get(b) match {
          case None => lit(true)
          case Some(ks) =>
            !slice(h, b).isin(ks.toIndexedSeq.map(Long.box): _*)
        }
        // the same in-row rule replaces the oversize anti-join on the
        // banded frame itself
        val keep = (0 until bands).map(b =>
          col("bk").getField("band") === b && survives(col(hashCol), b))
          .reduce(_ || _)
        val a = banded.filter(keep).alias("a")
        val b = banded.filter(keep).alias("b")
        val x = col(s"a.$hashCol").bitwiseXOR(col(s"b.$hashCol"))
        // minimal shared surviving band of the pair: at a joined row at
        // least one such band exists (the matched one), so the CASE is
        // total
        val minBand = (0 until bands).foldLeft(when(lit(false), -1)) {
          (c, i) => c.when(
            shiftright(x, bitsPerBand * i).bitwiseAND(lit(mask)) === 0L &&
              survives(col(s"a.$hashCol"), i), i)
        }
        a.join(b, col("a.bk") === col("b.bk") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
          .filter(col("a.bk").getField("band") === minBand)
          .select(col(s"a.$idCol").as("i"), col(s"b.$idCol").as("j"),
            hamming64(col(s"a.$hashCol"), col(s"b.$hashCol")).as("hamming"))
      case None =>
        val a = capped.alias("a")
        val b = capped.alias("b")
        a.join(b, col("a.bk") === col("b.bk") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
          .select(col(s"a.$idCol").as("i"), col(s"b.$idCol").as("j"))
          .distinct()
          .join(hashes.select(col(idCol).as("i"),
            col(hashCol).as("_h_i")), "i")
          .join(hashes.select(col(idCol).as("j"),
            col(hashCol).as("_h_j")), "j")
          .select(col("i"), col("j"),
            hamming64(col("_h_i"), col("_h_j")).as("hamming"))
    }
    (scored, cap, Seq(sizes))
  }
}
