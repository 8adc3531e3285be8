package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.HashFunctions._
import graft.functions.TextFunctions.tokens
import graft.operators.{AdaptiveCap, BandedPairs, BucketCap,
  ConnectedComponents, DriverTier, IncrementalDedup}

/** Deduplication operator family over the `documents` table — the first
  * stage of any 100 TB training-corpus pipeline: exact dedup, n-gram
  * Jaccard near-dup, MinHash+LSH candidate generation, SimHash, and
  * near-dup cluster formation.
  *
  * Scale design: nothing here is quadratic in the corpus.
  *   - exact/rolling dedup: one hash-groupBy (shuffle on a 16-byte key);
  *   - shingle Jaccard: candidate pairs from an equi-join on *rare*
  *     shingles (doc-frequency cut: shingles in more than the adaptive cap
  *     docs never generate candidates — one hot shingle would otherwise
  *     create a quadratic bucket), then an exact set-intersection re-rank
  *     from the full shingle arrays, so the cut changes cost, not scores;
  *   - MinHash+LSH: fixed-width signatures (32 longs/doc) + banding join on
  *     (band, key) with a bucket-size cap ([[BucketCap]]) — the canonical
  *     sub-quadratic near-dup path, robust to adversarial buckets;
  *   - SimHash: 64-bit sketch per doc, banded by 8-bit slices (complete
  *     for hamming ≤ 7), capped the same way;
  *   - clusters: iterative min-label propagation over the (sparse) pair
  *     list — rounds bounded by component diameter.
  *
  * Oracle strategy for the xxhash64-based queries (dd3, dd4, dd6, dd7):
  * DuckDB cannot recompute the signatures, so Verify dumps the signature
  * frames (side_doc_sigs, side_dd4_sketches, and Similarity's
  * side_srp_sigs) and the oracle SQL replays the full downstream pipeline
  * — banding, bucket cap, candidate join, scoring, thresholds — from the
  * dumps. The signature kernels themselves are covered by unit/property
  * specs (SketchesSpec, DedupSimilaritySpec).
  */
object Dedup {

  /** dd2 doc-frequency cut FLOOR: the effective cap is
    * `max(this, p99.9 of the per-(lang,shingle) doc-freq distribution)`
    * ([[AdaptiveCap.permilleCap]]) — shingles above the cap are excluded
    * from candidate generation. Measured on the driver corpora: true
    * pairs (J ≥ 0.6) always share a shingle with doc-freq ≤ 4, and the
    * global max doc-freq is 14 at sf0.1, so the floor is the effective
    * cap at every test SF; on a hotter corpus the cap rises with the
    * distribution instead of silently cutting recall, while any hot
    * shingle's join contribution stays bounded at cap²/2 pairs. The
    * chosen cap is emitted as dd2's `cap_df` column, so the oracle —
    * which derives the same integer from the same counts — certifies the
    * derivation itself.
    */
  private[graft] val DocFreqFloor = 32L

  /** LSH bucket-size cap FLOOR for dd3/dd4: effective cap =
    * `max(this, p99.9 of bucket occupancy)`
    * ([[BucketCap.capBucketsAdaptive]]). The floor is far above any
    * organic bucket at the test SFs, so it is the effective cap there;
    * it engages only on pathological exact-dup floods, whose pairs dd1
    * already accounts for. Emitted as `cap_bucket` under the gate.
    */
  private[graft] val LshBucketFloor = 1000L

  /** Per-document MinHash signature frame (doc_id, lang, sig) — shared by
    * dd3 (signatures) and dd6 (per-language merge), and dumped by Verify
    * as `side_doc_sigs` for their oracle replays.
    */
  /** The one MinHash-signature expression (32-perm over word-trigram
    * shingles) — dd3's batch path and the ingest-time screen
    * (streaming/NearDupStream) both derive signatures through it, so
    * the two can never hash differently.
    */
  private[graft] def sigExpr: Column =
    minhash(shingles(tokens(col("text"))), k = 32)

  private[queries] def docSigs(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), sigExpr.as("sig"))

  /** Signatures over an arbitrary (doc_id, text) frame (micro-batches). */
  private[graft] def sigsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), sigExpr.as("sig"))

  /** Candidate (i, j) pairs from a capped banded frame — the stage-C
    * shape shared by the gated dd3 pipeline and the dd3profile
    * rehearsal mode (one definition, so the rehearsal profiles the
    * gated plan): bucket self-join, then the pair `distinct()`, so each
    * pair is emitted once however many bands it shares.
    */
  private[graft] def bandCandidatePairs(capped: DataFrame): DataFrame = {
    val a = capped.alias("a")
    val b = capped.alias("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** dd3's banding pipeline from a PERSISTED (doc_id, sig) frame: band
    * keys → adaptive bucket cap → bucket self-join → signature-agreement
    * re-rank at 0.5. Factored so ScaleShapeSpec can drive the identical
    * pipeline over synthetic corpora and measure its shuffle growth.
    * Returns the scored pair frame plus the intermediate caches the
    * caller must release after materializing.
    */
  private[graft] def lshPairsFromSigs(sigs: DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    val banded = sigs.select(col("doc_id"),
      explode(lshBands(col("sig"), bands = 16, rows = 2)).as("band"))
    val (capped, cap, sizes) =
      BucketCap.capBucketsAdaptive(banded, Seq("band"), LshBucketFloor)
    val pairs = bandCandidatePairs(capped)
    val res = pairs
      .join(sigs.select(col("doc_id").as("i"), col("sig").as("sig_i")), "i")
      .join(sigs.select(col("doc_id").as("j"), col("sig").as("sig_j")), "j")
      .select(col("i"), col("j"),
        minhashSimilarity(col("sig_i"), col("sig_j")).as("est_jac"))
      .filter(col("est_jac") >= 0.5)
      .withColumn("cap_bucket", lit(cap))
    (res, Seq(sizes))
  }

  /** The dd10 operator body, factored so the same code runs on a doc
    * STREAM: `train` may be a streaming DataFrame (the join against the
    * static broadcast eval set is stream-legal), `evalDocs` —
    * benchmarks, MBs — is always static. Both need (doc_id, text).
    *
    * Streaming deployment note: a doc's contamination depends only on
    * its OWN shingles, so the production ingest form is per-micro-batch
    * via `foreachBatch` (stateless across batches, no watermark needed).
    * Running this plan directly as a streaming aggregation works but
    * needs complete/update output mode and keeps one state row per
    * colliding pair — fine for a bounded backfill, unbounded on a
    * long-lived ingest stream. StreamingSpec pins stream == batch on a
    * fixture.
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame,
      minShared: Long): DataFrame = {
    def sh(df: DataFrame, idAs: String): DataFrame = df.select(
      col("doc_id").as(idAs),
      explode(hashedShingles(tokens(col("text")))).as("shingle"))
    sh(train, "train_id")
      .join(broadcast(sh(evalDocs, "eval_id")), Seq("shingle"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** dd2's body (shared with dd8's cluster formation): one row per
    * near-dup pair, (i, j, jac) with exact Jaccard ≥ 0.6. Candidate pairs
    * share ≥1 *rare* shingle (df in [2, cap] — singletons can't
    * pair, hot shingles are the quadratic risk), then the exact
    * J = |A∩B| / (|A|+|B|-|A∩B|) re-rank runs on the full arrays.
    *
    * Returns the dd2 pair frame, the doc-freq cap it used (adaptive
    * unless `capOverride` pins it — AdaptiveCapSpec's monotonicity
    * probe), plus its two persisted intermediates, so each consumer can
    * release them once its own result is materialized
    * (QueryCache.resultThenRelease).
    */
  /** Shared candidate machinery for the shingle-overlap family (dd2's
    * Jaccard, dd12's containment): hashed-shingle frame, adaptive
    * doc-freq cut, rare-shingle pair join, and the integer upper bound
    * `ub ≥ shared` each consumer prefilters on with its own score
    * formula. Returns (candBounds(i, j, na, nb, ub), docs, cap, caches).
    */
  private[graft] def shingleCandidatesFromDocs(
      docs0: DataFrame,
      capOverride: Option[Long] = None)
      : (DataFrame, DataFrame, Long, Seq[DataFrame]) = {
    // persisted: otherwise project-collapse inlines the shingle kernel
    // into the explode AND the re-rank joins (multiple evaluations per
    // row); explode_outer skips the implicit size>0 filter (shingle
    // arrays are never empty — short docs yield one whole-text shingle).
    // Shingles are hashed to 64-bit keys IN the kernel: every consumer —
    // the doc-freq groupBy, the semi joins, the pair join, and the exact
    // array_intersect re-rank — only ever compares shingles for equality,
    // so persisting 8-byte longs instead of ~25-byte strings shrinks the
    // cached arrays ~3× and makes the intersection long-typed. Equal
    // shingles hash equal, so no candidate path disappears; a 64-bit
    // collision (~|shingles|²/2⁶⁵) can add a spurious candidate or merge
    // two shingles in one doc's set — harmless at these odds (and the
    // oracle's string-shingle replay agrees unless a collision actually
    // fires).
    val docs = docs0
      .select(col("doc_id"), col("lang"),
        hashedShingles(tokens(col("text"))).as("sh"))
      .withColumn("nsh", size(col("sh")))
      .persist()
    // nsh rides the explode: each shingle row knows its doc's set size,
    // so the pair groupBy below yields na/nb via first() for free —
    // eliminating the former post-aggregation joins of the CANDIDATE
    // frame against the doc-size frame (two shuffles of millions of
    // pair rows). The round-12 dd2 stage profile (VERDICT r11 ask #1)
    // showed candidate generation is ~75% of dd2's wall at organic
    // ×200 and scales LINEARLY with its Σ min(df,cap)² candidate mass
    // (×2.8 wall for ×4.96 mass at the ×50→×200 step — no quadratic
    // cliff; the headline ×15 was mass growth under the risen cap plus
    // cold-vs-warm measurement skew), so the wins here are constants:
    // fewer full-size shuffles through the one dominant stage.
    // lang is FOLDED into the 64-bit shingle key (guide §2.2 narrow
    // keys, VERDICT r14 ask #5): the candidate machinery only ever
    // compares (lang, shingle) for equality, so one fused xxhash64
    // replaces the two-column key and the lang string stops riding the
    // three dominant shuffles (dfreq groupBy, annotation join, pair
    // self-join) — organic ×200 A/B: stage-B shuffle bytes and wall in
    // OPTIMIZATION_r15.md. Same collision discipline as the shingle
    // hash itself (comment above): a cross-(lang, shingle) 64-bit
    // collision can add a spurious candidate or inflate one dfreq —
    // harmless at ~|keys|²/2⁶⁵ odds, and the oracle's string-keyed
    // replay agrees unless a collision actually fires.
    val ex = docs.select(col("doc_id"), col("nsh"),
        explode_outer(col("sh")).as("sh1"), col("lang"))
      .select(col("doc_id"), col("nsh"),
        xxhash64(col("sh1"), col("lang")).as("shingle"))
    // doc-frequency cut: candidates only through shingles 2..cap docs
    // share. The groupBy and the annotation join shuffle on the same
    // fused key the pair join uses — co-partitioned stages.
    val dfreqs = ex.groupBy("shingle")
      .agg(count(lit(1)).as("dfreq"))
      .persist()
    // the adaptive-cap histogram is a tiny agg over the ALREADY-persisted
    // dfreq frame, so deriving the cap costs one extra driver lookup, not
    // a corpus scan. The SAME collected histogram also yields max(dfreq)
    // for free: when max ≤ cap there IS no hot shingle, so the nhot
    // aggregation + its two joins below are provably empty plan branches
    // and are skipped outright (ub = shared_rare exactly — identical to
    // the full path's shared_rare + least(0, 0)). A capOverride (the
    // AdaptiveCapSpec monotonicity probe) bypasses the histogram, so it
    // keeps the full path (maxDfreq unknown ⇒ assume hot).
    val (cap, maxDfreq) = capOverride match {
      case Some(c) => (c, Long.MaxValue)
      case None =>
        AdaptiveCap.permilleCapWithMax(dfreqs, "dfreq", DocFreqFloor)
    }
    // ONE join annotates every shingle row with its doc frequency
    // (inner: dfreqs has exactly one row per key, so the multiset is
    // unchanged); rare/hot are then FILTERS — the former two semi-joins
    // re-exploded and re-shuffled the whole shingle frame once each
    val exDf = ex.join(dfreqs, Seq("shingle"))
    val rare = exDf.filter(col("dfreq").between(2, cap))
      .select("shingle", "doc_id", "nsh")
    val a = rare.alias("a")
    val b = rare.alias("b")
    // candidate pairs carry their rare-shingle overlap AND both docs'
    // set sizes for free (the same shuffle a DISTINCT would need):
    // shared = shared_rare + shared_hot; nsh is constant per doc, so
    // first() is deterministic.
    val cand = a.join(b,
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("shared_rare"),
        first(col("a.nsh")).as("na"), first(col("b.nsh")).as("nb"))
    // upper-bound prefilter before touching any array: shared_hot ≤
    // min(nhot_i, nhot_j) and jac is increasing in shared, so pairs whose
    // bound can't reach the threshold are dropped using only integer
    // columns — the exact set intersection below then runs on the ~true
    // pairs, not on every candidate (sf0.1: ~10² array ops instead of
    // ~10⁶). With no hot shingles the bound is exact and the re-rank
    // confirms it. nhot joins stay POST-groupBy: the nhot frame is
    // per-doc (≪ candidate rows) and usually empty — and when the
    // histogram PROVES it empty (maxDfreq ≤ cap), the per-doc hot count
    // and both joins are dropped from the plan entirely: ub =
    // shared_rare + least(0, 0) degenerates to shared_rare.
    val candBounds =
      if (maxDfreq <= cap) cand.withColumn("ub", col("shared_rare"))
      else {
        // per-doc count of hot (over-cap) shingles: bounds how much
        // shared mass the candidate join can't see
        val nhot = exDf.filter(col("dfreq") > cap)
          .groupBy("doc_id").agg(count(lit(1)).as("nhot"))
        cand
          .join(nhot.select(col("doc_id").as("i"), col("nhot").as("nhot_i")),
            Seq("i"), "left")
          .join(nhot.select(col("doc_id").as("j"), col("nhot").as("nhot_j")),
            Seq("j"), "left")
          .withColumn("ub", col("shared_rare") +
            least(coalesce(col("nhot_i"), lit(0L)),
              coalesce(col("nhot_j"), lit(0L))))
      }
    (candBounds, docs, cap, Seq(docs, dfreqs))
  }

  /** Exact shared-shingle re-rank over a prefiltered candidate frame:
    * joins the full (distinct) shingle arrays back and computes the true
    * |A∩B|. The prefilters upstream affect which pairs are REACHABLE
    * (replayed by the oracles), never the score a checked pair receives.
    */
  private[graft] def rerankShared(bounded: DataFrame, docs: DataFrame): DataFrame =
    bounded.select("i", "j", "na", "nb")
      .join(docs.select(col("doc_id").as("i"), col("sh").as("sh_i")), "i")
      .join(docs.select(col("doc_id").as("j"), col("sh").as("sh_j")), "j")
      .withColumn("shared", size(array_intersect(col("sh_i"), col("sh_j"))))

  private[graft] def shingleJaccardPairsWithCaches(
      s: SparkSession, dir: String,
      capOverride: Option[Long] = None): (DataFrame, Long, Seq[DataFrame]) =
    shingleJaccardPairsFromDocs(
      Tables.spread(Tables.documents(s, dir)), capOverride)

  /** Frame-injected form of the Jaccard pair operator (the containment
    * twin below has the same split) — ScaleShapeSpec drives it with
    * constructed corpora of controlled size and dup structure.
    */
  private[graft] def shingleJaccardPairsFromDocs(
      docs0: DataFrame,
      capOverride: Option[Long] = None): (DataFrame, Long, Seq[DataFrame]) = {
    val (candBounds, docs, cap, caches) =
      shingleCandidatesFromDocs(docs0, capOverride)
    // ub is an upper bound on shared and jac is increasing in shared, so
    // this prefilter is result-invariant (the oracle scores all
    // candidates exactly and agrees)
    val bounded = candBounds.filter(col("ub").cast("double") /
      (col("na") + col("nb") - col("ub")).cast("double") >= 0.6)
    val pairs = rerankShared(bounded, docs)
      .withColumn("jac", col("shared").cast("double") /
        (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jac") >= 0.6)
      .select("i", "j", "jac")
    (pairs, cap, caches)
  }

  /** dd12's body: containment pairs — C = |A∩B| / min(|A|,|B|), the
    * asymmetric near-dup score that fires when a SMALL doc sits inside a
    * big one (quote pages, boilerplate-wrapped copies, excerpt mirrors)
    * even though symmetric Jaccard stays low (the union is dominated by
    * the big doc). Same candidate machinery and result-invariant
    * upper-bound prefilter as dd2, integerized (permille DIV) so the
    * containment threshold folds engine-exactly. C ≥ jac always, so the
    * emission SUPERSETS dd2's near-dups (a policy that wants only the
    * asymmetric-only pairs anti-joins dd2's list); emitting the full
    * C ≥ 0.8 set keeps the operator non-vacuous on corpora whose only
    * containment pairs are the symmetric ones.
    */
  private[graft] def containmentPairsWithCaches(
      s: SparkSession, dir: String): (DataFrame, Long, Seq[DataFrame]) =
    containmentPairsFromDocs(Tables.spread(Tables.documents(s, dir)))

  /** Frame-injected form of the containment operator — the gate runs it
    * on the driver corpus (where the C ≥ 0.8 survivors are the exact-copy
    * pairs, C = 1.0); DedupSimilaritySpec runs it on a constructed corpus
    * with a true subset doc to prove the asymmetric case — the one
    * Jaccard misses — fires too.
    */
  private[graft] def containmentPairsFromDocs(
      docs0: DataFrame): (DataFrame, Long, Seq[DataFrame]) = {
    val (candBounds, docs, cap, caches) =
      shingleCandidatesFromDocs(docs0, None)
    val bounded = candBounds
      .filter(expr("(1000 * ub) DIV least(na, nb)") >= 800L)
    val pairs = rerankShared(bounded, docs)
      .withColumn("cont_permille", expr("(1000 * shared) DIV least(na, nb)"))
      .filter(col("cont_permille") >= 800L)
      .select("i", "j", "cont_permille")
    (pairs, cap, caches)
  }

  /** The near-dup pair list, its containment twin and their component
    * map, memoized per corpus in [[QueryCache.memoized]] (its scaladoc
    * holds the key, the raw switch and the fallback contract): dd2, dd8,
    * dd9, dd14 and dd15 share one capped shingle-candidate pass, dd12
    * shares the same candidate machinery's containment scores, and dd8
    * and dd14 share one component fold. Unlike the ten-row ANN
    * shortlists these are bounded by the corpus' DUPLICATE structure, not
    * by construction, hence the driver-tier bound.
    */
  private[graft] val MemoKinds =
    Set("jaccard_pairs", "containment_pairs", "neardup_clusters")

  /** One pair list + the cap it used, memoized under `kind`. The third
    * element is the frames the CALLER must release after materializing
    * its result — empty on the memo path, the live persisted pair frame
    * past the bound. `maxRows` is injectable so the spec can force the
    * fallback (the 100 TB path) on the driver fixture and pin it
    * result-identical.
    */
  private def memoPairs(s: SparkSession, dir: String, kind: String,
      maxRows: Long)(pairsWithCaches: => (DataFrame, Long, Seq[DataFrame]))
      : (DataFrame, Long, Seq[DataFrame]) = {
    val (frames, cap, rel) = QueryCache.memoized(s, dir, kind, maxRows) {
      bound =>
        val (p, cap, caches) = pairsWithCaches
        val (pairs, n) = QueryCache.persistCounted(p, caches)
        if (n <= bound) {
          val v = try QueryCache.snapshot(pairs)
          finally pairs.unpersist(blocking = false)
          Right((Seq(v), cap))
        } else Left((Seq(pairs), cap, Seq(pairs)))
    }
    (frames.head, cap, rel)
  }

  /** The dd2 pair list (i, j, jac), memoized ([[memoPairs]]). */
  private[graft] def memoJaccardPairs(s: SparkSession, dir: String,
      maxRows: Long = DriverTier.MaxRows): (DataFrame, Long, Seq[DataFrame]) =
    memoPairs(s, dir, "jaccard_pairs", maxRows)(
      shingleJaccardPairsWithCaches(s, dir))

  /** The dd12 pair list (i, j, cont_permille), memoized ([[memoPairs]]). */
  private[graft] def memoContainmentPairs(s: SparkSession, dir: String,
      maxRows: Long = DriverTier.MaxRows): (DataFrame, Long, Seq[DataFrame]) =
    memoPairs(s, dir, "containment_pairs", maxRows)(
      containmentPairsWithCaches(s, dir))

  /** The component map over [[memoJaccardPairs]] — (node, label) for
    * every doc incident to a near-dup pair — memoized under the same
    * bound, with the same release contract.
    */
  private[graft] def memoClusters(s: SparkSession, dir: String,
      maxRows: Long = DriverTier.MaxRows): (DataFrame, Seq[DataFrame]) = {
    val (frames, _, rel) =
      QueryCache.memoized(s, dir, "neardup_clusters", maxRows) { bound =>
        // under the raw switch (bound −1) the pair list comes back live,
        // so the store arm below never runs
        val (pairs, _, rel) = memoJaccardPairs(s, dir, bound)
        // componentsBounded: the pair frame is persisted (or already a
        // local relation on the memo path), so the bounded probe is
        // cheap, and a driver-tier graph — the organic regime — folds on
        // the driver instead of paying 4-6 job submissions per
        // propagation round; the map comes back held on the driver
        // whenever it fits (same labels either way — OperatorPropertySpec)
        val comp = QueryCache.releasingOnFailure(rel) {
          ConnectedComponents.componentsBounded(
            pairs.select("i", "j"), "i", "j", maxRows = DriverTier.MaxRows)
        }
        // pairs that fit the memo bound give a map held on the driver
        if (rel.isEmpty) Right((Seq(QueryCache.snapshot(comp)), 0L))
        else Left((Seq(comp), 0L, rel))
      }
    (frames.head, rel)
  }

  /** Queries served from the session memo ([[MemoKinds]]) after first
    * computation — Bench re-times these raw (SparkEntry.memoizedQueries).
    */
  val memoizedNames: Set[String] = Set(
    "dd2_shingle_jaccard", "dd8_neardup_clusters", "dd9_edit_distance",
    "dd12_containment", "dd14_canonical_pick", "dd15_split_leakage",
    "dd18_sketch_error")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup keep-list: one survivor (min doc_id) per distinct text,
    // with its copy count. Hash-groupBy on md5(text) — 16-byte shuffle key
    // instead of shipping full documents.
    "dd1_exact" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_key"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
    }),

    // Word-trigram shingle Jaccard near-dup pairs — see
    // [[shingleJaccardPairsWithCaches]] for the doc-freq-cut +
    // exact-re-rank design. Every row carries the data-derived cap the
    // cut used (`cap_df`): the oracle computes the same integer from the
    // same counts, so the hash gate certifies the cap DERIVATION, not
    // just the pair list it produced.
    "dd2_shingle_jaccard" -> ((s, dir) => {
      val (pairs, cap, rel) = memoJaccardPairs(s, dir)
      QueryCache.resultThenRelease(
        pairs.withColumn("cap_df", lit(cap)), rel: _*)
    }),

    // Near-dup cluster formation — the final dedup step: fold dd2's pair
    // list into connected components ([[ConnectedComponents]]) and name
    // each doc's cluster representative (the component's min doc_id), so
    // "keep one doc per near-dup cluster" becomes a single filter
    // (doc_id = cluster_rep). The oracle replays components with a
    // recursive CTE over the same (exact, oracled) dd2 pairs.
    "dd8_neardup_clusters" -> ((s, dir) => {
      val (comp, rel) = memoClusters(s, dir)
      QueryCache.resultThenRelease(
        comp.select(col("node").as("doc_id"), col("label").as("cluster_rep")),
        rel: _*)
    }),

    // Canonical-document selection — the step a production dedup actually
    // ships: collapse each dd8 near-dup cluster to ONE kept document (the
    // longest; ties to the smallest doc_id) and carry every singleton
    // through unchanged, so the output IS the training corpus roster with
    // per-cluster provenance (who won, how many it absorbed). The
    // keep-longest policy is the common quality heuristic (the longer
    // variant of a near-dup pair is usually the un-truncated one).
    // Plan: left join of the corpus onto the (tiny — only clustered docs)
    // component map, which auto-broadcasts, then ONE aggregation on the
    // representative: `max(struct(n_chars, -doc_id, …))` makes the
    // winner-pick algebraic — a partial max per map task collapses each
    // task's rows to ≤|reps| before the exchange, the final agg merges —
    // with the winner's payload columns riding in the struct, so there is
    // never a second join back to fetch the winner's row (the q30
    // last-writer-wins shape). One honest plan note: a struct-typed max
    // buffer is not hash-aggregable in Spark (mutable-buffer rule), so
    // both agg phases plan as SortAggregate — each task sorts ITS rows by
    // rep before folding. That per-task sort is the price of carrying the
    // payload through the agg; the alternative (primitive-max HashAgg +
    // join-back for the payload) trades it for a second corpus join, a
    // worse deal at any scale where the agg input exceeds memory.
    "dd14_canonical_pick" -> ((s, dir) => {
      val (comp, rel) = memoClusters(s, dir)
      val clusters = comp
        .select(col("node").as("doc_id"), col("label").as("cl"))
      val docs = Tables.documents(s, dir)
        .select("doc_id", "lang", "n_chars")
      QueryCache.resultThenRelease(
        docs.join(clusters, Seq("doc_id"), "left")
          .withColumn("rep", coalesce(col("cl"), col("doc_id")))
          .groupBy("rep")
          .agg(
            max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"),
              col("doc_id").as("id"), col("lang").as("lg"))).as("w"),
            count(lit(1)).as("cluster_size"))
          .select(col("rep"), col("w.id").as("canonical_id"),
            col("w.lg").as("lang"), col("w.n_chars").as("n_chars"),
            col("cluster_size")),
        rel: _*)
    }),

    // Split-leakage audit — the eval-integrity check that pairs with
    // dd10's benchmark decontamination: a near-dup pair STRADDLING the
    // t7 train/test split means the held-out member leaks into training
    // as a paraphrase, silently inflating eval scores. The audit
    // classifies every dd2 near-dup pair by its endpoints' split
    // assignments (the same md5-prefix rule t7 gates) and emits the
    // (split, split) matrix — the train↔test and train↔validation cells
    // are the leaks a pipeline must resolve (drop the training member,
    // or re-draw the split salt). Cost rides entirely on dd2's capped
    // candidate machinery: classification is a pure row function on the
    // ~|pairs| survivors and the output is ≤6 cells, so at 100 TB the
    // audit is free relative to the dedup it reuses. Pairs are emitted
    // with i<j, so the cell key is order-normalized (least/greatest)
    // to make (test,train) and (train,test) one cell.
    "dd15_split_leakage" -> ((s, dir) => {
      def splitOfId(c: org.apache.spark.sql.Column) = {
        val h = substring(md5(c.cast("string")), 1, 4)
        when(h < "1999", "test")
          .when(h < "3333", "validation")
          .otherwise("train")
      }
      val (p, _, rel) = memoJaccardPairs(s, dir)
      QueryCache.resultThenRelease(
        p.select(splitOfId(col("i")).as("si"), splitOfId(col("j")).as("sj"))
          .groupBy(least(col("si"), col("sj")).as("split_lo"),
            greatest(col("si"), col("sj")).as("split_hi"))
          .agg(count(lit(1)).as("n_pairs")),
        rel: _*)
    }),

    // Character-level verification of the near-dup pairs: exact edit
    // distance (codegen'd levenshtein) joined onto dd2's pair list — the
    // "how different are they really" re-rank a human-review or
    // keep-longest policy consumes. Runs on the ~|pairs| survivors only,
    // never on the corpus (levenshtein is O(len²) per pair — exactly the
    // kind of kernel you gate behind candidate generation).
    "dd9_edit_distance" -> ((s, dir) => {
      val (pairs, _, rel) = memoJaccardPairs(s, dir)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      QueryCache.resultThenRelease(
        pairs.select("i", "j", "jac")
          .join(docs.select(col("doc_id").as("i"), col("text").as("text_i")), "i")
          .join(docs.select(col("doc_id").as("j"), col("text").as("text_j")), "j")
          .select(col("i"), col("j"), col("jac"),
            levenshtein(col("text_i"), col("text_j")).as("edit_dist")),
        rel: _*)
    }),

    // Benchmark decontamination — the train/eval n-gram-overlap scan
    // every serious LLM corpus runs before training (the GPT-3 paper's
    // 13-gram filter; Dolma/FineWeb ship the same op): flag training
    // docs sharing ≥ 3 distinct shingles with any held-out eval doc.
    // The eval set here is the deterministic doc_id % 97 slice standing
    // in for a benchmark suite. Plan at 100 TB: benchmarks are MBs while
    // the corpus is TBs, so the eval shingle set BROADCASTS and the
    // corpus-side explode is scan-local — one hash agg on the
    // (train, eval) pairs that actually collide, never a corpus shuffle.
    // Same hashed-shingle kernel as dd2 (equality-only comparisons; the
    // oracle replays string shingles — identical unless a 64-bit
    // collision actually fires).
    "dd10_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      // train side spread: its shingle explode otherwise runs on the
      // single-row-group scan's one task; the eval side stays unspread
      // (1/97 of the corpus, broadcast anyway)
      decontaminate(
        Tables.spread(docs.filter(col("doc_id") % 97 =!= 0)),
        docs.filter(col("doc_id") % 97 === 0),
        minShared = 3)
    }),

    // MinHash (k=32) + LSH banding (16 bands × 2 rows): candidate pairs
    // from bucket collisions (bucket-size capped), scored by signature
    // agreement. Sub-quadratic: the join key is (band, bucket-hash), never
    // the document. Oracled via the side_doc_sigs dump replay; recall vs
    // dd2's exact pairs is asserted by DedupSimilaritySpec.
    "dd3_minhash_lsh" -> ((s, dir) => {
      // Signatures are persisted before the self-join: without the
      // materialization barrier, Catalyst's project-collapse would inline
      // the (32 × |shingles|)-hash minhash expression into the join and
      // recompute it per *pair* instead of per *document* (measured 80 s →
      // 2 s at sf0.1). The banding join then moves only (doc_id, band)
      // pairs; signatures are re-attached once per surviving pair.
      val sigs = docSigs(s, dir).select("doc_id", "sig").persist()
      val (res, caches) = lshPairsFromSigs(sigs)
      QueryCache.resultThenRelease(res, (sigs +: caches): _*)
    }),

    // SimHash sketching, banded (sub-quadratic): 64-bit majority-vote
    // sketch per doc, candidates = pairs sharing ≥1 of 8 8-bit sketch
    // bands (pigeonhole: complete for hamming ≤ 7 — every such pair has a
    // clean band; measured near-dups sit at hamming ≤ 5), bucket-size
    // capped, then exact Hamming re-rank, 20 closest. The join key is
    // (band, 8-bit slice) — never doc×doc — so cost scales with band
    // bucket occupancy, not corpus². Oracled via the side_dd4_sketches
    // dump replay; DedupSimilaritySpec asserts true near-dups rank closest.
    "dd4_simhash" -> ((s, dir) => {
      // persist: one 64-bit sketch per doc, computed once (not per pair)
      val docs = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), simhash64(tokens(col("text"))).as("sh"))
        .persist()
      // Capped-safe minimal-band single emission (r14, guide §2.3/§2.4):
      // no pair distinct() (a 4.16M-row / 95 MiB exchange at sf0.1), no
      // sketch re-attach joins — TakeOrderedAndProject's partial top-20
      // is the only thing downstream of the bucket join. The full story
      // lives on the shared helper (mm5/mm7 ride the same machinery).
      val (scored, cap, caches) = BandedPairs.minimalBandScoredPairs(
        docs, "doc_id", "sh", bands = 8, bitsPerBand = 8, LshBucketFloor)
      QueryCache.resultThenRelease(
        scored
          .orderBy(col("hamming"), col("i"), col("j"))
          .limit(20)
          .withColumn("cap_bucket", lit(cap)),
        (docs +: caches): _*)
    }),

    // Corpus-level sketch via the MinHashMerge Aggregator (§2.10 UDAF
    // path): one merged signature per language (map-side combined; k longs
    // per group cross the shuffle, never documents), then pairwise
    // signature agreement = estimated Jaccard overlap of the languages'
    // shingle unions. Oracled via the side_doc_sigs dump replay (DuckDB
    // re-merges elementwise and re-scores); DedupSimilaritySpec proves
    // merge(sig(A), sig(B)) == sig(A ∪ B) exactly.
    "dd6_corpus_sketch" -> ((s, dir) => {
      val sketches = docSigs(s, dir)
        .groupBy("lang")
        .agg(graft.functions.MinHashAgg.minhashMerge(col("sig")).as("sketch"))
        .persist()
      val a = sketches.alias("a")
      val b = sketches.alias("b")
      QueryCache.resultThenRelease(
        a.join(b, col("a.lang") < col("b.lang"))
          .select(col("a.lang").as("lang_i"), col("b.lang").as("lang_j"),
            minhashSimilarity(col("a.sketch"), col("b.sketch")).as("est_overlap"))
          .orderBy("lang_i", "lang_j"),
        sketches)
    }),

    // Embedding-cosine near-dup pairs (the semantic-dedup operator):
    // multiprobe SRP banding candidates (Similarity.srpCandidates —
    // bucket join on 4-bit signature slices plus their 1-bit-flip
    // neighbors, capped; machinery shared with s3) + exact cosine re-rank
    // at threshold 0.4 over pre-normalized unit vectors. Exact precision
    // (every emitted pair really has cos ≥ 0.4, by the re-rank);
    // probabilistic recall ≈0.998 even at the 0.4 threshold floor (→1 for
    // near-identical vectors); PlanShapeSpec pins the measured recall.
    // Replaces the former all-pairs vec_id<vec_id scan — a
    // BroadcastNestedLoopJoin that was quadratic at corpus scale;
    // PlanShapeSpec asserts the new plan contains no nested-loop join.
    // Oracled via the side_srp_sigs dump replay.
    "dd7_embed_neardup" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val base = Similarity.srpBase(s, dir).persist()
      val (cand, floodCaches) = Similarity.srpCandidates(base,
        Similarity.DefaultBucketCap, multiprobe = true)
      QueryCache.resultThenRelease(
        cand
          .join(base.select(col("vec_id").as("i"), col("unit").as("u_i")), "i")
          .join(base.select(col("vec_id").as("j"), col("unit").as("u_j")), "j")
          .select(col("i"), col("j"), dot(col("u_i"), col("u_j")).as("cos_sim"))
          .filter(col("cos_sim") >= 0.4),
        (base +: floodCaches): _*)
    }),

    // The APPLY step of embedding dedup: dd7 finds near-dup pairs, this
    // produces the surviving corpus a pipeline actually trains on — drop
    // every vector that has a smaller-id near-duplicate (the j side of
    // every i<j pair), keep the rest. The drop-set join is a left_anti on
    // vec_id (no pair expansion survives past the candidate stage), and
    // the emission is a corpus summary (count + id checksum) so the hash
    // gate certifies the exact kept SET without shipping vectors.
    "p3_embed_keeplist" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val base = Similarity.srpBase(s, dir).persist()
      val (cand, floodCaches) = Similarity.srpCandidates(base,
        Similarity.DefaultBucketCap, multiprobe = true)
      val dropped = cand
        .join(base.select(col("vec_id").as("i"), col("unit").as("u_i")), "i")
        .join(base.select(col("vec_id").as("j"), col("unit").as("u_j")), "j")
        .filter(dot(col("u_i"), col("u_j")) >= 0.4)
        .select(col("j").as("vec_id"))
        .distinct()
      QueryCache.resultThenRelease(
        base.join(dropped, Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("sum_ids")),
        (base +: floodCaches): _*)
    }),

    // Containment near-dup ([[containmentPairsWithCaches]]): the
    // asymmetric counterpart of dd2 — C ≥ 0.8 catches
    // small-doc-inside-big-doc pairs symmetric Jaccard misses, and
    // (since C ≥ jac) also re-scores dd2's near-dups. The chosen
    // doc-freq cap rides under the gate like dd2's.
    "dd12_containment" -> ((s, dir) => {
      val (pairs, cap, caches) = memoContainmentPairs(s, dir)
      QueryCache.resultThenRelease(
        pairs.withColumn("cap_df", lit(cap)), caches: _*)
    }),

    // Incremental ingest dedup ([[IncrementalDedup]]): screen a new batch
    // (doc_id % 10 = 7 — "today's crawl") against the already-deduped
    // corpus (the rest): batch-internal winners (min doc_id per md5) that
    // no corpus doc already has. The Bloom pre-filter (sized from the
    // corpus count, 1% fpp) cuts the anti-join's shuffle to the
    // true-duplicate sliver; the exact join clears its false positives,
    // so the gated result is identical with the filter on or off
    // (IncrementalDedupSpec pins this). Emits per-lang batch/kept counts
    // + a kept-id checksum so the hash gate certifies the exact kept set.
    "p9_incremental_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), md5(col("text")).as("h"))
      val batch = docs.filter(col("doc_id") % 10 === 7)
      val corpusKeys = docs.filter(col("doc_id") % 10 =!= 7).select("h")
      val (kept, caches) = IncrementalDedup.withCaches(batch, corpusKeys,
        key = "h", winner = "doc_id", bloomItems = corpusKeys.count())
      QueryCache.resultThenRelease(
        batch.groupBy("lang").agg(count(lit(1)).as("n_batch"))
          .join(kept.groupBy("lang")
              .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum")),
            Seq("lang"), "left")
          .select(col("lang"), col("n_batch"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("id_sum"), lit(0L)).as("id_sum")),
        caches: _*)
    }),

    // Order-sensitive exact dedup accounting via rolling fingerprint:
    // corpus summary of sequence-identical copies. (The fingerprint value
    // itself is xxhash64-based, so only the counts are emitted — they
    // equal DuckDB's count(DISTINCT text) barring a 64-bit collision.)
    "dd5_rolling_fp" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(rollingFingerprint(tokens(col("text"))).as("fp"))
        .agg(count(lit(1)).as("n_docs"),
          count_distinct(col("fp")).as("n_distinct_seq"))
    }),

    // Duplicated-span coverage (the Spark reformulation of substring-level
    // dedup, Lee et al. 2022 "Deduplicating Training Data Makes Language
    // Models Better"): instead of a cross-doc suffix array — inherently
    // sequential, memory-bound, not shardable without super-linear merge —
    // score each doc by the fraction of its shingles that occur in ≥2
    // documents. A doc made of copied spans has high coverage even when no
    // WHOLE-doc near-dup exists, which is exactly the boilerplate/mirror
    // case whole-doc dedup (dd2/dd3) misses.
    //
    // Scale shape: explode to (doc_id, shingle-hash) — text dies at the
    // scan, the exploded frame carries two 8-byte columns and is PERSISTED
    // (the dd2/dd3 signature-barrier discipline) so the corpus is scanned
    // and shingled once; doc-frequency is then a map-side-combinable hash
    // agg on the shingle key — a Zipfian-hot shingle costs one partial
    // counter per partition, where the window formulation (count over
    // partitionBy(shingle), no partial aggregation) would buffer every
    // occurrence of the hot shingle in ONE task's spill — and the join
    // back lands on the same key. A doc_id agg folds per-doc coverage.
    // Nothing is quadratic. Emission is the per-decile histogram of
    // coverage (bounded output at any corpus size) in pure integer
    // arithmetic (DIV both engines).
    "dd11_span_coverage" -> ((s, dir) => {
      val sh = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          explode(hashedShingles(tokens(col("text")))).as("shingle"))
        .persist()
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      QueryCache.resultThenRelease(
        sh.join(df, "shingle")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("permille", expr("(1000 * n_dup) DIV n_shingles"))
          .groupBy(expr("permille DIV 100").as("decile"))
          .agg(count(lit(1)).as("n_docs"), sum("n_dup").as("sum_dup"),
            sum("n_shingles").as("sum_shingles")),
        sh)
    }),

    // Mergeable distinct-cardinality sketches (Apache DataSketches HLL via
    // Spark's hll_sketch_agg/hll_union_agg) — the corpus-stats operator a
    // 100 TB pipeline runs per ingest shard: per-(source, lang) sketches
    // are built in one pass (partial-aggregated map-side — each executor
    // ships one ~16 KB sketch per group, never shingle rows), then rolled
    // up
    // to per-source cardinality by unioning SKETCHES, not rescanning text.
    // HllSketchSpec pins the properties the pattern rests on: the
    // two-level rollup equals the direct one-level sketch, sketches
    // round-trip through a parquet binary column (persist per-shard stats,
    // union later — incremental corpus accounting with no rescan), and
    // union is set-semantics (overlapping shards don't double-count).
    //
    // Oracle: the estimate is DataSketches-internal (DuckDB's HLL differs),
    // so the side_hll_est dump carries the engine's per-source estimates
    // and DuckDB contributes the EXACT distinct counts independently; the
    // integer-arithmetic tolerance flag (2.5%, ~3σ at lgK=14) is computed
    // identically on both sides, so the gate certifies exact-count parity
    // and the accuracy claim travels with the result.
    "dd13_hll_distinct" -> ((s, dir) => {
      val sh = sourceShingles(s, dir).persist()
      QueryCache.resultThenRelease(
        sh.groupBy("source")
          .agg(countDistinct(col("shingle")).as("n_exact"))
          .join(hllEstFromShingles(sh), "source")
          .select(col("source"), col("n_exact"), col("n_est"),
            (abs(col("n_est") - col("n_exact")) * lit(1000L) <=
              col("n_exact") * lit(25L)).as("within_25pm"))
          .orderBy("source"),
        sh)
    }),

    // Cross-source overlap matrix via theta set-algebra sketches
    // ([[graft.operators.SetSketch]]) — the dedup-PLANNING query: which
    // source pairs share enough shingle mass that a joint cross-source
    // dedup pass (dd2/dd3 run across both) is worth its cost. Pairwise
    // |A|, |B|, |A∩B| come from KB-sized sketch state, never a shingle
    // self-join across sources. HASH-GATED, unlike the KLL/CMS specs:
    // below 2^lgK distinct keys a theta sketch retains every hash and
    // its estimate IS the exact distinct count, so at lgK=20 (~1M
    // retention, far above any driver SF's shingle space) Spark's
    // estimates equal DuckDB's independent exact set arithmetic
    // integer-for-integer. The require probes the (persisted,
    // |sources|-row) sketch frame and fails BY NAME if the corpus ever
    // outgrows exact mode — the same loud-guard contract as q58's
    // requireFullDegree. (64-bit hash collisions could undercount at
    // ~n²/2⁶⁴ odds — dd2's accepted-risk class.)
    "dd16_source_overlap" -> ((s, dir) => {
      val sketches = graft.operators.SetSketch.shardSketches(
        sourceShingles(s, dir), "shingle", Seq("source"), lgK = 20)
        .persist()
      val maxN = sketches
        .agg(max(expr("theta_sketch_estimate(sk)"))).head().getLong(0)
      // trip at HALF the lgK=20 nominal (2^19 of ~1M): deliberate 2×
      // headroom so the guard fires while estimates are still exact,
      // one regeneration BEFORE the sampled regime would flake the gate
      require(maxN < (1L << 19),
        s"a source holds ~$maxN distinct shingles — within 2× of theta's " +
          "lgK=20 exact-mode retention (~1M); raise lgK or demote dd16 " +
          "to the envelope-checked SetSketchSpec contract")
      QueryCache.resultThenRelease(
        graft.operators.SetSketch.pairwiseOverlap(sketches, "source")
          .select(col("id_a"), col("id_b"),
            col("n_a").cast("long").as("n_a"),
            col("n_b").cast("long").as("n_b"),
            col("n_overlap").cast("long").as("n_overlap"),
            col("jaccard_est")),
        sketches)
    }),

    // Cluster-scoped semantic dedup — SemDeDup (Abbas et al. 2023,
    // arXiv:2303.09540): coarse-quantizer cells bound the pair search, so
    // near-duplicate discovery costs Σ cell² instead of corpus² and never
    // compares vectors the quantizer already separated. dd7 and dd17 are
    // the two public shapes of embedding dedup — LSH collision
    // (probabilistic recall, corpus-global) vs cluster enumeration
    // (exhaustive within a cell, blind across cells) — and share the
    // cosine ≥ 0.4 decision threshold so their keep/drop semantics are
    // directly comparable. Reuses s4's assignment KERNEL
    // ([[Similarity.ivfAssign]]) at the PROPORTIONAL stride — the ANN
    // tier bounds nlist, SemDeDup does not (cells ∝ N is the paper's
    // design); the frame side_dd17_assign certifies the assignment at
    // dd17's OWN stride, valid at any corpus size (ADVICE r11);
    // drops the larger id of every intra-cell pair above threshold;
    // emits a per-cell decision summary (counts + kept-id checksum) so
    // the hash gate certifies the exact kept SET without shipping
    // vectors. At 100 TB: k grows with the corpus (the paper's regime —
    // cells stay ~constant-size, so Σ cell² ≈ N·cell), and cell
    // occupancy is bounded by the same two-regime rule as
    // [[Similarity.srpCandidates]]: a cell past the cap — a popular-
    // content flood, which is exactly the mass SemDeDup exists to
    // collapse — degrades to rank-adjacent FloodWindow pairing (size·W
    // linear work; the ≥0.4-filtered i<j chain still drops every flood
    // member with a qualifying smaller-id neighbor) instead of being
    // dropped from the search, which would silently EXEMPT the most
    // duplicated content from dedup (the ×30-rehearsal failure mode).
    "dd17_semdedup" -> ((s, dir) => {
      // PROPORTIONAL stride (not the ANN-bounded ivfStride): SemDeDup's
      // published regime is cells ∝ corpus with ~constant occupancy —
      // see Similarity.assignFromUnits. Identical to the ANN assignment
      // at every gate SF (the 53 floor dominates below ~54k vectors);
      // the oracle replays from side_dd17_assign, dumped at THIS stride,
      // so nothing depends on the coincidence (ADVICE r11). The
      // assignment TIER (exact N×C default vs conf-gated hierarchical
      // 2N√C — the production path past the exact arm's fan-out bound)
      // is Similarity.semDedupAssign's decision, shared with the dump
      // so the replay stays lockstep in either conf position.
      val (assigned0, eCache) = Similarity.semDedupAssign(s, dir)
      val assigned = assigned0.persist()
      val (dropped, floodCaches) =
        semDedupDrops(assigned, Similarity.DefaultBucketCap)
      QueryCache.resultThenRelease(
        assigned
          .join(dropped.withColumn("is_drop", lit(1L)), Seq("vec_id"), "left")
          .groupBy("cent_id")
          .agg(count(lit(1)).as("n_vecs"),
            sum(coalesce(col("is_drop"), lit(0L))).as("n_dropped"),
            sum(when(col("is_drop").isNull, col("vec_id"))
              .otherwise(lit(0L))).as("kept_id_sum")),
        (Seq(assigned, eCache) ++ floodCaches): _*)
    }),

    // SEMANTIC benchmark decontamination — dd10's embedding-space twin
    // (the contamination n-gram overlap misses: paraphrases,
    // translations, re-wordings of eval items — the "semantic
    // contamination" concern behind SemDeDup-style screens): every
    // train vector scored against every EVAL vector by exact cosine,
    // flagged at the dd7/dd17 near-dup floor (0.4). Scale shape: eval
    // sets are benchmarks — thousands of rows, KBs of units — so the
    // BROADCAST exact cross-score IS the 100 TB plan: one corpus scan,
    // |eval| codegen dots per row fused in the scan stage, no shuffle,
    // output bounded by actual contamination. (A corpus-sized eval set
    // would route through the IVF cells instead — s21's shape.)
    "dd19_semantic_decontam" -> ((s, dir) => {
      import graft.functions.VectorFunctions.{dot, normalized}
      val e = graft.Tables.spread(graft.Tables.embeddings(s, dir))
        .select(col("vec_id"), normalized(col("embedding")).as("unit"))
        .persist()
      val evalSet = e.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("eval_id"), col("unit").as("eu"))
      QueryCache.resultThenRelease(
        e.filter(col("vec_id") % 97 =!= 0)
          .join(broadcast(evalSet))
          .withColumn("cos_sim", dot(col("unit"), col("eu")))
          .filter(col("cos_sim") >= 0.4)
          .select(col("vec_id").as("train_id"), col("eval_id"),
            col("cos_sim")),
        e)
    }),

    // MinHash estimator CALIBRATION — the measurement that justifies
    // dd3's banding thresholds before they run blind at 100 TB: for
    // every exact-verified near-dup pair (dd2's gated list), the
    // 32-perm signature-agreement estimate (`graft_sig_agree`, the
    // SAME codegen kernel dd3 ranks with) next to the exact Jaccard —
    // an operator-level answer to "how biased is the sketch on MY
    // corpus", the sketch-accuracy twin of s16's ANN recall
    // certification. est_jac is dyadic (k/32 — exact IEEE), jac is the
    // already-certified dd2 value, so the gate is tight. Cost: two
    // broadcast-sized joins of the bounded pair list against the
    // signature frame — the corpus-touching work (signatures) is one
    // narrow pass dd3 already pays; nothing here is corpus².
    "dd18_sketch_error" -> ((s, dir) => {
      val (pairs, _, rel) = memoJaccardPairs(s, dir)
      val sigs = docSigs(s, dir).select("doc_id", "sig").persist()
      QueryCache.resultThenRelease(
        pairs
          .join(sigs.select(col("doc_id").as("i"), col("sig").as("sig_i")),
            "i")
          .join(sigs.select(col("doc_id").as("j"), col("sig").as("sig_j")),
            "j")
          .select(col("i"), col("j"), col("jac"),
            graft.functions.HashFunctions
              .minhashSimilarity(col("sig_i"), col("sig_j")).as("est_jac")),
        (rel :+ sigs): _*)
    }),

    // LSH banding-parameter planner — the design-time decision dd3's
    // (16 bands × 2 rows) config encodes, made explicit: for every
    // (b, r) split of the 32-perm budget, the S-curve collision
    // probability P(j) = 1 − (1 − j^r)^b is evaluated on a dyadic
    // Jaccard grid (j = k/16 — exact IEEE), and each config is scored
    // by its false-positive mass below the τ = 0.5 target and its
    // false-negative mass above (Leskovec/Rajaraman/Ullman MMDS §3.4 —
    // the standard b·r trade). Cross-engine exactness is by
    // CONSTRUCTION, not tolerance: both the Spark expression and the
    // DuckDB oracle are generated from ONE Scala string ([[lshCurveCase]])
    // that spells every power as an explicit left-associated product —
    // the identical IEEE multiply sequence — and the masses integerize
    // to micros before summing. Pure planning arithmetic (60 rows), no
    // corpus touch; the VALUE is that the thresholds dd3/dd7 run blind
    // at 100 TB are certified against an independent engine first.
    "dd20_lsh_planner" -> ((s, dir) => {
      import s.implicits._
      val grid = for ((b, r) <- LshConfigs; k <- 1 to 15)
        yield (b.toLong, r.toLong, k.toLong)
      val p = grid.toDF("bands", "rows_per_band", "k")
        .withColumn("j", expr("CAST(k AS DOUBLE) / 16.0"))
        .withColumn("pc", expr(lshCurveCase))
      val scored = p.groupBy("bands", "rows_per_band")
        .agg(
          sum(when(col("k") < 8,
            floor(col("pc") * 1000000.0).cast("long")).otherwise(0L))
            .as("fp_micros"),
          sum(when(col("k") >= 8,
            floor((lit(1.0) - col("pc")) * 1000000.0).cast("long"))
            .otherwise(0L)).as("fn_micros"))
        .withColumn("err_micros", col("fp_micros") + col("fn_micros"))
      val best = scored.agg(min("err_micros").as("best_err"))
      scored.crossJoin(broadcast(best))
        .withColumn("best", col("err_micros") === col("best_err"))
        .drop("best_err")
    }),

    // Record linkage / entity resolution — the cross-table fuzzy JOIN of
    // the dedup family (dd9 scores edit distance on an existing pair
    // list; this FINDS the pairs across two tables): every (alias, base)
    // pair within Levenshtein τ = 2, never all-pairs. Candidates come
    // from PassJoin-style pigeonhole blocking (Li, Deng, Feng, ICDE
    // 2011): the base name splits into τ+1 = 3 disjoint segments
    // (5+5+6 chars); any alias within τ edits leaves ≥1 segment
    // untouched, and that segment's image in the alias is contiguous,
    // identical, and start-shifted by the net indels before it — at
    // most ±τ. So the base side explodes ×3 on (segment_idx, segment)
    // and the alias side ×3·(2τ+1) on every ±2-shifted same-length
    // substring; the equality join is a provable candidate SUPERSET,
    // and the oracle — which does the blocking-free quadratic join —
    // hash-certifies exactly that. Names are md5-derived 16-hex fixtures
    // (t19's pattern): high-entropy, so segment keys are discriminative
    // and candidates ≈ true matches (formulaic low-entropy keys are the
    // known failure mode of signature blocking — dd2's doc-freq cut is
    // the remedy when it bites; here the fixture isolates the join
    // itself). Aliases are deterministic 1-2-edit corruptions built by
    // ONE shared CASE expression both engines evaluate verbatim
    // ([[linkageAliasCase]]), cycling delete / substitute /
    // delete+substitute by key. The alias side is query-sized and
    // BROADCASTS — the 100 TB base never shuffles for candidates; the
    // only Exchange is the candidate-pair dedup. Exact levenshtein
    // (already cross-engine-certified by dd9) is the residual.
    "dd21_record_linkage" -> ((s, dir) => {
      val base = Tables.customer(s, dir).select(col("c_custkey"))
        .withColumn("name", expr(LinkageNameSql))
      val aliases = base.filter(col("c_custkey") % 20 === 3)
        .withColumn("alias", expr(linkageAliasCase))
        .select(col("c_custkey").as("alias_id"), col("alias"))
      linkPairs(base, aliases)
    })
  )

  /** dd21's full link body — candidates + exact levenshtein residual —
    * ONE definition shared by the batch gate and the streaming twin
    * ([[graft.streaming.LinkStream]]), the kAnonymityVerdicts
    * discipline: stream and batch cannot disagree on what "linked"
    * means.
    */
  /** dd17's drop set over an IVF assignment frame `(vec_id, cent_id,
    * unit)` — factored so the spec can drive a constructed flood cell
    * through the IDENTICAL two-regime rule the gated query and its
    * oracle CTE share: sub-cap cells pair exhaustively i<j; over-cap
    * FLOOD cells pair rank-adjacent within [[Similarity.FloodWindow]]
    * (linear, never size²/2, and never dropped-from-search — see
    * [[Similarity.srpCandidates]] for the rationale); both regimes drop
    * the larger id of every pair with cos ≥ 0.4.
    */
  private[graft] def semDedupDrops(assigned: DataFrame, cap: Long)
      : (DataFrame, Seq[DataFrame]) = {
    import graft.functions.VectorFunctions.dot
    // eager + short-circuiting split (srpCandidates' discipline): one
    // size-aggregate job; a healthy assignment (every gate SF) keeps the
    // plain intra-cell pair join with no flood machinery in the plan
    val (scoped, floodOpt) =
      BucketCap.splitByOccupancyBounded(assigned, Seq("cent_id"), cap)
    val a = scoped.alias("a")
    val b = scoped.alias("b")
    val fullDropped = a.join(b, col("a.cent_id") === col("b.cent_id") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(dot(col("a.unit"), col("b.unit")) >= 0.4)
      .select(col("b.vec_id").as("vec_id"))
    // flood cells pair rank-adjacent, fully distributed (FloodPairs:
    // no single task holds a whole flood cell — the r10 `weak`); rank
    // order is vec_id order, so adjacency implies i < j, matching the
    // oracle CTE's row_number replay exactly
    floodOpt match {
      case None => (fullDropped.distinct(), Nil)
      case Some(floodRows) =>
        val (adj, floodCache) = graft.operators.FloodPairs
          .rankAdjacent(floodRows, Seq("cent_id"), "vec_id",
            Similarity.FloodWindow)
        val floodDropped = adj
          .filter(dot(col("a.unit"), col("b.unit")) >= 0.4)
          .select(col("b.vec_id").as("vec_id"))
        (fullDropped.unionByName(floodDropped).distinct(), Seq(floodCache))
    }
  }

  /** Link verdicts: ONE row per qualifying (alias_id, c_custkey) pair,
    * carrying the MINIMUM edit distance over the key pair's (name,
    * alias) variants. With unique keys (the gated fixture) this is the
    * plain levenshtein residual; for the generic seam
    * (LinkStream.linkBatch) a caller with duplicate c_custkey (or
    * duplicate alias_id) still gets a deterministic single verdict per
    * key pair — the min-agg makes the sink's documented idempotence on
    * (alias_id, c_custkey) hold regardless of which variants existed,
    * where any keep-one-row rule would leave the surviving edit_dist
    * order-dependent.
    */
  private[graft] def linkPairs(base: DataFrame, aliases: DataFrame,
      maxSegDf: Option[Long] = None): DataFrame =
    linkageCandidates(base, aliases, maxSegDf)
      .withColumn("edit_dist", levenshtein(col("alias"), col("name")))
      .filter(col("edit_dist") <= 2)
      .groupBy("alias_id", "c_custkey")
      .agg(min("edit_dist").as("edit_dist"))

  /** dd21's PassJoin candidate generator over `base (c_custkey, name)`
    * and `aliases (alias_id, alias)`: base explodes ×3 on its pigeonhole
    * segments, aliases ×15 on the ±2-shifted same-length substrings, and
    * the (idx, seg) equijoin broadcasts the query-sized alias side. With
    * `maxSegDf = None` the candidate set is a PROVABLE superset of every
    * ≤2-edit pair (the gated configuration — dd21's blocking-free oracle
    * certifies it). `maxSegDf = Some(cap)` is dd2's doc-frequency remedy
    * for the documented low-entropy failure mode: base segment keys
    * whose frequency exceeds the cap are dropped from the join, so a
    * formulaic corpus (constant prefixes) stays bounded at
    * O(aliases × cap) instead of exploding toward aliases × corpus —
    * recall degrades from guaranteed to "pairs sharing a sub-cap
    * segment" (ScaleShapeSpec pins both sides of that trade).
    */
  private[graft] def linkageCandidates(base: DataFrame, aliases: DataFrame,
      maxSegDf: Option[Long] = None): DataFrame = {
    val segs = Seq((1, 5), (6, 5), (11, 6))
    val baseSegs0 = base.select(col("c_custkey"), col("name"),
      explode(array(segs.zipWithIndex.map { case ((st, ln), i) =>
        struct(lit(i).as("idx"), substring(col("name"), st, ln).as("seg"))
      }: _*)).as("b"))
      .select(col("c_custkey"), col("name"),
        col("b.idx").as("idx"), col("b.seg").as("seg"))
    val baseSegs = maxSegDf match {
      case None => baseSegs0
      case Some(cap) =>
        // the hot-key set is bounded by |distinct keys|/cap — broadcast
        // at gate SFs; at 100 TB the anti join stays keyed on (idx, seg)
        val hot = baseSegs0.groupBy("idx", "seg")
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > cap)
          .select("idx", "seg")
        baseSegs0.join(broadcast(hot), Seq("idx", "seg"), "left_anti")
    }
    val aliasSegs = aliases.select(col("alias_id"), col("alias"),
      explode(array((for {
        ((st, ln), i) <- segs.zipWithIndex
        d <- -2 to 2
        if st + d >= 1
      } yield struct(lit(i).as("idx"),
        substring(col("alias"), st + d, ln).as("seg"))): _*)).as("a"))
      .select(col("alias_id"), col("alias"),
        col("a.idx").as("idx"), col("a.seg").as("seg"))
    baseSegs.join(broadcast(aliasSegs), Seq("idx", "seg"))
      // dedup on ALL FOUR columns, not just the keys: linkPairs is the
      // generic seam (LinkStream.linkBatch), and a caller whose base has
      // duplicate c_custkey (or duplicate alias_id) must get the residual
      // levenshtein computed on a deterministic (name, alias) row, not
      // whichever row a shuffle happened to keep. When keys ARE unique
      // (the gated fixture) this is the same candidate set.
      .dropDuplicates("alias_id", "c_custkey", "alias", "name")
  }

  /** dd21's base-name fixture: a high-entropy 16-hex name per customer
    * key, derivable identically by both engines.
    */
  private[graft] val LinkageNameSql: String =
    "substr(md5('name:' || c_custkey), 1, 16)"

  /** dd21's alias corruption — ONE dialect-common CASE expression (the
    * dd20 shared-string discipline) over columns (c_custkey, name),
    * cycling by key: delete the char at p = 4 + key%10 (distance 1) /
    * substitute 'z' there ('z' is outside the hex alphabet, so the edit
    * is never vacuous) / delete at p then substitute position 14 of the
    * 15-char result (distance exactly 2).
    */
  private[graft] lazy val linkageAliasCase: String = {
    val del = "substr(name, 1, 3 + c_custkey % 10) || " +
      "substr(name, 5 + c_custkey % 10)"
    s"""CASE c_custkey % 3
       |  WHEN 0 THEN $del
       |  WHEN 1 THEN substr(name, 1, 3 + c_custkey % 10) || 'z' ||
       |              substr(name, 5 + c_custkey % 10)
       |  ELSE substr($del, 1, 13) || 'z' || substr($del, 15)
       |END""".stripMargin
  }

  /** The (bands, rows-per-band) splits of dd3's 32-perm budget that
    * dd20 scores.
    */
  private[graft] val LshConfigs: Seq[(Int, Int)] =
    Seq((32, 1), (16, 2), (8, 4), (4, 8))

  /** One SQL-dialect-common CASE expression computing the banding
    * S-curve 1 − (1 − j^r)^b per config row, with every power spelled
    * as an explicit LEFT-ASSOCIATED product — the same IEEE multiply
    * sequence on any engine that folds left, which is what makes dd20
    * hash-exact without a pow() portability assumption. Shared verbatim
    * by the Spark query (via expr) and the DuckDB oracle.
    */
  private[graft] lazy val lshCurveCase: String = {
    def prod(e: String, n: Int): String =
      if (n == 1) e else Seq.fill(n)(e).mkString("(", " * ", ")")
    val whens = LshConfigs.map { case (b, r) =>
      s"WHEN bands = $b THEN 1.0 - ${prod(s"(1.0 - ${prod("j", r)})", b)}"
    }
    s"CASE ${whens.mkString(" ")} END"
  }

  /** One row per (source, lang, 3-gram shingle) — the input both dd13 and
    * its side dump sketch, kept in one place so the dumped estimates are
    * byte-identical to the query's (HLL state is order-invariant, so
    * shuffle nondeterminism cannot split them). Shingles, not raw tokens:
    * the driver corpus's token vocabulary is ~31 words, where a sketch is
    * trivially exact; the shingle space (~1.4k/source at sf0.01, growing
    * with the corpus) actually exercises the estimator. Same construction
    * as dd2's ([[graft.functions.Sketches.shinglesKernel]] — distinct
    * 3-gram word shingles, whole-doc fallback under 3 tokens), which the
    * dd2 oracle already replays string-for-string.
    */
  private[graft] def sourceShingles(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("source"), col("lang"),
        explode(shingles(tokens(col("text")))).as("shingle"))

  /** Per-source HLL cardinality estimates via the two-level shard rollup:
    * sketch per (source, lang), union to source, estimate. lgConfigK = 14
    * → ~0.8 % standard error at 16 KB per sketch.
    */
  private[graft] def hllEstFromShingles(sh: DataFrame): DataFrame =
    sh.groupBy("source", "lang")
      .agg(hll_sketch_agg(col("shingle"), 14).as("sk"))
      .groupBy("source")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_est"))

  /** Side-tables Verify dumps for the oracle replays (see class doc). */
  val sideDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "side_doc_sigs" -> ((s, dir) => docSigs(s, dir)),
    "side_dd4_sketches" -> ((s, dir) =>
      Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), simhash64(tokens(col("text"))).as("sh"))),
    "side_hll_est" -> ((s, dir) => hllEstFromShingles(sourceShingles(s, dir))),
    // dd17's OWN assignment dump at the PROPORTIONAL stride (ADVICE
    // r11): dd17 used to replay from side_s4_assign, which is produced
    // at the ANN-bounded ivfStride — the two frames coincide only while
    // N ≤ 53·1024, so the shared replay was a scale-conditional
    // invariant nobody checked. Dumping dd17's exact build input makes
    // the replay unconditional at any corpus size; at every gate SF the
    // bytes are identical to side_s4_assign, so hashes are unchanged.
    // Routed through semDedupAssign so the conf-gated hierarchical tier
    // moves the dump and the query TOGETHER — the replay certifies
    // whichever assignment actually ran.
    "side_dd17_assign" -> ((s, dir) =>
      Similarity.semDedupAssign(s, dir)._1)
  )

  /** Signature-agreement score in DuckDB: fraction of equal slots of two
    * 32-long signature lists — the replay of
    * [[graft.functions.HashFunctions.minhashSimilarity]].
    */
  private def sigAgreeSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, 33), " +
      s"x -> CASE WHEN $a[x] = $b[x] THEN 1 ELSE 0 END)) / 32.0"

  /** DuckDB scalar replay of [[AdaptiveCap.permilleCap]] over a histogram
    * relation `hist(v, c)` (count value → frequency): smallest v whose
    * windowed cumsum reaches the exact ceil-rank `(999·n + 999) // 1000`,
    * floored — the identical integer arithmetic, so the emitted cap
    * column hash-matches the engine's.
    */
  private[queries] def permilleCapSql(hist: String, floor: Long): String =
    s"CAST(GREATEST($floor, COALESCE((SELECT min(v) FROM " +
      s"(SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM $hist) " +
      s"WHERE cum >= (SELECT (999 * sum(c) + 999) // 1000 FROM $hist)), " +
      s"$floor)) AS BIGINT)"

  /** dd2's oracle as a reusable CTE chain ending in `dd2res (i, j, jac)` —
    * dd8's component oracle builds on the same pair list.
    *
    * Replays the doc-frequency cut exactly (like every other capped
    * oracle): candidates must share a shingle with df in [2, cap] (the cap
    * re-derived from the same counts — permilleCapSql),
    * then the exact intersection re-rank scores them. This keeps the gate
    * faithful on ANY corpus — a pair whose every shared shingle is hot is
    * unreachable on both sides — and makes the oracle itself
    * sub-quadratic (the former all-pairs list_intersect CTE was the
    * slowest oracle at sf0.1).
    */
  /** The oracle-side shingle-construction rule, ONCE, keyed by the
    * caller's projection columns — the counterpart of
    * `hashedShingles(tokens(text))`: 3-gram word shingles, whole-doc
    * fallback under 3 tokens, distinct per doc. Every shingle-replaying
    * oracle (dd2 family, dd10/dd11, dd13, dd16) derives its `docs` CTE
    * from here, so an n-gram/fallback change edits one string.
    */
  private def shingleDocsCteSql(keyCols: String*): String = {
    val ks = keyCols.mkString(", ")
    s"""docs AS (
      |  SELECT $ks,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
      |                             for i in range(1, len(toks) - 1)])
      |    END AS sh
      |  FROM (SELECT $ks, string_split(text, ' ') AS toks
      |        FROM documents))""".stripMargin
  }

  private val docShinglesCteSql: String = shingleDocsCteSql("doc_id")

  private val dd2CtesSql: String =
    s"""${shingleDocsCteSql("doc_id", "lang")},
      |ex AS (SELECT doc_id, lang, unnest(sh) AS shingle FROM docs),
      |dfreq AS (SELECT lang, shingle, count(*) AS df FROM ex GROUP BY 1, 2),
      |dfhist AS (SELECT df AS v, count(*) AS c FROM dfreq GROUP BY 1),
      |capdf AS (SELECT ${permilleCapSql("dfhist", DocFreqFloor)} AS cap),
      |rare AS (SELECT ex.* FROM ex JOIN dfreq USING (lang, shingle)
      |         WHERE df BETWEEN 2 AND (SELECT cap FROM capdf)),
      |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |         FROM rare a JOIN rare b
      |           ON a.lang = b.lang AND a.shingle = b.shingle
      |              AND a.doc_id < b.doc_id),
      |scored AS (
      |  SELECT i, j,
      |    len(list_intersect(da.sh, db.sh)) AS shared,
      |    len(da.sh) AS na, len(db.sh) AS nb
      |  FROM cand
      |  JOIN docs da ON da.doc_id = i
      |  JOIN docs db ON db.doc_id = j
      |),
      |dd2res AS (
      |  SELECT i, j, shared::DOUBLE / (na + nb - shared) AS jac
      |  FROM scored
      |  WHERE shared::DOUBLE / (na + nb - shared) >= 0.6
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dd1_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "dd2_shingle_jaccard" ->
      s"""WITH $dd2CtesSql
         |SELECT i, j, jac, (SELECT cap FROM capdf) AS cap_df
         |FROM dd2res""".stripMargin,

    // exact cross-score replayed from the unit dump the s3/s9 oracles
    // already certify — same dot, same threshold, same split rule
    "dd19_semantic_decontam" ->
      """WITH u AS (SELECT vec_id, unit
        |          FROM read_parquet('{VERIFY_DIR}/side_srp_sigs.parquet'))
        |SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
        |  list_dot_product(t.unit, e.unit) AS cos_sim
        |FROM u t, u e
        |WHERE t.vec_id % 97 <> 0 AND e.vec_id % 97 = 0
        |  AND list_dot_product(t.unit, e.unit) >= 0.4""".stripMargin,

    // dd2's exact pairs joined against the dumped signatures; est_jac
    // replays the sig-agreement kernel slot for slot
    "dd18_sketch_error" ->
      s"""WITH $dd2CtesSql,
         |sigs AS (SELECT doc_id, sig
         |         FROM read_parquet('{VERIFY_DIR}/side_doc_sigs.parquet'))
         |SELECT p.i, p.j, p.jac,
         |  ${sigAgreeSql("sa.sig", "sb.sig")} AS est_jac
         |FROM dd2res p
         |JOIN sigs sa ON sa.doc_id = p.i
         |JOIN sigs sb ON sb.doc_id = p.j""".stripMargin,

    // the identical generated product expression ([[lshCurveCase]] — one
    // Scala string feeds both engines), floor-to-micros before summing;
    // window sums cast ::BIGINT (the q19 lesson)
    "dd20_lsh_planner" ->
      s"""WITH grid AS (
         |  SELECT bands, rows_per_band, k
         |  FROM (VALUES ${LshConfigs.map { case (b, r) => s"($b, $r)" }
                   .mkString(", ")}) c(bands, rows_per_band),
         |       range(1, 16) t(k)),
         |d AS (
         |  SELECT bands, rows_per_band, k,
         |    CAST(k AS DOUBLE) / 16.0 AS j
         |  FROM grid),
         |pc AS (SELECT bands, rows_per_band, k,
         |         $lshCurveCase AS pc
         |       FROM d),
         |sc AS (
         |  SELECT bands::BIGINT AS bands,
         |    rows_per_band::BIGINT AS rows_per_band,
         |    sum(CASE WHEN k < 8
         |        THEN CAST(floor(pc * 1000000.0) AS BIGINT)
         |        ELSE 0 END)::BIGINT AS fp_micros,
         |    sum(CASE WHEN k >= 8
         |        THEN CAST(floor((1.0 - pc) * 1000000.0) AS BIGINT)
         |        ELSE 0 END)::BIGINT AS fn_micros
         |  FROM pc GROUP BY 1, 2)
         |SELECT bands, rows_per_band, fp_micros, fn_micros,
         |  (fp_micros + fn_micros)::BIGINT AS err_micros,
         |  fp_micros + fn_micros =
         |    (SELECT min(fp_micros + fn_micros) FROM sc) AS best
         |FROM sc""".stripMargin,

    // the blocking-free quadratic join — every (alias, base) pair scored
    // by exact levenshtein — so the hash match proves the Spark side's
    // pigeonhole segment cover is a true candidate superset; name and
    // alias construction are the SAME shared strings the engine runs
    "dd21_record_linkage" ->
      s"""WITH base AS (
         |  SELECT c_custkey, $LinkageNameSql AS name
         |  FROM customer),
         |al AS (
         |  SELECT c_custkey AS alias_id, $linkageAliasCase AS alias
         |  FROM base WHERE c_custkey % 20 = 3)
         |SELECT alias_id, b.c_custkey,
         |  CAST(levenshtein(alias, name) AS INTEGER) AS edit_dist
         |FROM al, base b
         |WHERE levenshtein(alias, name) <= 2""".stripMargin,

    // same CTEs as dd2 through `scored` (all candidates, exact shared
    // counts — the Spark-side ub prefilter is result-invariant), then the
    // containment threshold in integer permille
    "dd12_containment" ->
      s"""WITH $dd2CtesSql
         |SELECT i, j, (1000 * shared) // least(na, nb) AS cont_permille,
         |  (SELECT cap FROM capdf) AS cap_df
         |FROM scored
         |WHERE (1000 * shared) // least(na, nb) >= 800""".stripMargin,

    // string-shingle replay of the hashed-shingle overlap join (shingle
    // sets are built distinct on both sides, so count(*) of the
    // equi-join == |intersection|)
    "dd10_decontaminate" ->
      s"""WITH $docShinglesCteSql,
        |ev AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle
        |       FROM docs WHERE doc_id % 97 = 0),
        |tr AS (SELECT doc_id AS train_id, unnest(sh) AS shingle
        |       FROM docs WHERE doc_id % 97 <> 0)
        |SELECT train_id, eval_id, count(*) AS n_shared
        |FROM tr JOIN ev USING (shingle)
        |GROUP BY 1, 2
        |HAVING count(*) >= 3""".stripMargin,

    // components of the dd2 pair graph via a recursive CTE: reach(node, r)
    // enumerates every id reachable from node inside its component (UNION
    // dedups, so it terminates); min reachable id == the propagated label.
    "dd8_neardup_clusters" ->
      s"""WITH RECURSIVE $dd2CtesSql,
         |edges AS (SELECT i, j FROM dd2res UNION SELECT j, i FROM dd2res),
         |reach(node, r) AS (
         |  SELECT i, i FROM edges
         |  UNION
         |  SELECT e.i, reach.r FROM edges e JOIN reach ON e.j = reach.node)
         |SELECT node AS doc_id, min(r) AS cluster_rep
         |FROM reach GROUP BY node""".stripMargin,

    // dd8's component replay extended with the corpus left join and a
    // window winner-pick (same total order as the struct max:
    // n_chars DESC, doc_id ASC)
    "dd14_canonical_pick" ->
      s"""WITH RECURSIVE $dd2CtesSql,
         |edges AS (SELECT i, j FROM dd2res UNION SELECT j, i FROM dd2res),
         |reach(node, r) AS (
         |  SELECT i, i FROM edges
         |  UNION
         |  SELECT e.i, reach.r FROM edges e JOIN reach ON e.j = reach.node),
         |comp AS (SELECT node, min(r) AS cl FROM reach GROUP BY node),
         |jn AS (
         |  SELECT d.doc_id, d.lang, d.n_chars,
         |    coalesce(c.cl, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
         |rk AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY rep
         |      ORDER BY n_chars DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY rep) AS cluster_size
         |  FROM jn)
         |SELECT rep, doc_id AS canonical_id, lang, n_chars,
         |  cluster_size::BIGINT AS cluster_size
         |FROM rk WHERE rn = 1""".stripMargin,

    // t7's split CASE applied to both endpoints of the dd2 pair replay,
    // cell key order-normalized
    "dd15_split_leakage" ->
      s"""WITH $dd2CtesSql,
         |sp AS (
         |  SELECT
         |    CASE WHEN substr(md5(i::VARCHAR), 1, 4) < '1999' THEN 'test'
         |         WHEN substr(md5(i::VARCHAR), 1, 4) < '3333' THEN 'validation'
         |         ELSE 'train' END AS si,
         |    CASE WHEN substr(md5(j::VARCHAR), 1, 4) < '1999' THEN 'test'
         |         WHEN substr(md5(j::VARCHAR), 1, 4) < '3333' THEN 'validation'
         |         ELSE 'train' END AS sj
         |  FROM dd2res)
         |SELECT least(si, sj) AS split_lo, greatest(si, sj) AS split_hi,
         |  count(*)::BIGINT AS n_pairs
         |FROM sp GROUP BY 1, 2""".stripMargin,

    // NOTE: DuckDB 1.0's levenshtein is byte-based while Spark's is
    // character-based — identical on this corpus because it is pure ASCII
    // (the same convention mm1's byte-arithmetic oracle relies on); a
    // multi-byte corpus would need a char-level oracle.
    "dd9_edit_distance" ->
      s"""WITH $dd2CtesSql
         |SELECT i, j, jac,
         |  CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist
         |FROM dd2res
         |JOIN documents da ON da.doc_id = i
         |JOIN documents db ON db.doc_id = j""".stripMargin,

    // replay of dd3 from the dumped signatures: band keys are the raw
    // 2-slot signature slices (Spark buckets on xxhash64 of the same
    // slice — identical collision semantics), bucket sizes replicate the
    // cap, then agreement scoring at the same threshold.
    "dd3_minhash_lsh" ->
      s"""WITH sigs AS (SELECT doc_id, sig
         |             FROM read_parquet('{VERIFY_DIR}/side_doc_sigs.parquet')),
         |keyed AS (SELECT doc_id, b, sig[2 * b + 1] AS k1, sig[2 * b + 2] AS k2
         |          FROM (SELECT doc_id, sig, unnest(range(0, 16)) AS b
         |                FROM sigs)),
         |szs AS (SELECT b, k1, k2, count(*) AS bsz FROM keyed GROUP BY 1, 2, 3),
         |bh AS (SELECT bsz AS v, count(*) AS c FROM szs GROUP BY 1),
         |capq AS (SELECT ${permilleCapSql("bh", LshBucketFloor)} AS cap),
         |ok AS (SELECT keyed.* FROM keyed JOIN szs USING (b, k1, k2)
         |       WHERE bsz <= (SELECT cap FROM capq)),
         |pairs AS (SELECT DISTINCT a.doc_id AS i, b2.doc_id AS j
         |          FROM ok a JOIN ok b2 USING (b, k1, k2)
         |          WHERE a.doc_id < b2.doc_id)
         |SELECT i, j, est_jac, (SELECT cap FROM capq) AS cap_bucket FROM (
         |  SELECT i, j, ${sigAgreeSql("sa.sig", "sb.sig")} AS est_jac
         |  FROM pairs
         |  JOIN sigs sa ON sa.doc_id = i
         |  JOIN sigs sb ON sb.doc_id = j)
         |WHERE est_jac >= 0.5""".stripMargin,

    // replay of dd4 from the dumped sketches: 8-bit band slices via
    // arithmetic shift + mask (same low bits as Spark's shiftright), cap,
    // then exact Hamming re-rank.
    "dd4_simhash" ->
      s"""WITH sk AS (SELECT doc_id, sh
         |           FROM read_parquet('{VERIFY_DIR}/side_dd4_sketches.parquet')),
         |keyed AS (SELECT doc_id, b, (sh >> (8 * b)) & 255 AS k
         |          FROM (SELECT doc_id, sh, unnest(range(0, 8)) AS b FROM sk)),
         |szs AS (SELECT b, k, count(*) AS bsz FROM keyed GROUP BY 1, 2),
         |bh AS (SELECT bsz AS v, count(*) AS c FROM szs GROUP BY 1),
         |capq AS (SELECT ${permilleCapSql("bh", LshBucketFloor)} AS cap),
         |ok AS (SELECT keyed.* FROM keyed JOIN szs USING (b, k)
         |       WHERE bsz <= (SELECT cap FROM capq)),
         |pairs AS (SELECT DISTINCT a.doc_id AS i, b2.doc_id AS j
         |          FROM ok a JOIN ok b2 USING (b, k)
         |          WHERE a.doc_id < b2.doc_id)
         |SELECT i, j, CAST(bit_count(xor(sa.sh, sb.sh)) AS INTEGER) AS hamming,
         |  (SELECT cap FROM capq) AS cap_bucket
         |FROM pairs
         |JOIN sk sa ON sa.doc_id = i
         |JOIN sk sb ON sb.doc_id = j
         |ORDER BY hamming, i, j
         |LIMIT 20""".stripMargin,

    // replay of dd6 from the dumped per-doc signatures: the Aggregator's
    // merge is elementwise min, so DuckDB re-merges (unnest → per-slot min
    // → reassemble in slot order) and re-scores agreement.
    "dd6_corpus_sketch" ->
      s"""WITH ds AS (SELECT lang, sig
         |           FROM read_parquet('{VERIFY_DIR}/side_doc_sigs.parquet')),
         |ex AS (SELECT lang, unnest(sig) AS v,
         |              unnest(range(1, len(sig) + 1)) AS pos
         |       FROM ds),
         |merged AS (SELECT lang, pos, min(v) AS mv FROM ex GROUP BY 1, 2),
         |sk AS (SELECT lang, list(mv ORDER BY pos) AS sketch
         |       FROM merged GROUP BY lang)
         |SELECT a.lang AS lang_i, b.lang AS lang_j,
         |  ${sigAgreeSql("a.sketch", "b.sketch")} AS est_overlap
         |FROM sk a JOIN sk b ON a.lang < b.lang
         |ORDER BY lang_i, lang_j""".stripMargin,

    "dd5_rolling_fp" ->
      "SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct_seq FROM documents",

    // exact replay of the incremental screen (the Bloom pre-filter is
    // result-invariant by construction, so the oracle needs only the
    // winner cut + anti-join)
    "p9_incremental_dedup" ->
      """WITH d AS (SELECT doc_id, lang, md5(text) AS h FROM documents),
        |b AS (SELECT * FROM d WHERE doc_id % 10 = 7),
        |c AS (SELECT DISTINCT h FROM d WHERE doc_id % 10 <> 7),
        |w AS (SELECT h, min(doc_id) AS doc_id FROM b GROUP BY 1),
        |kept AS (
        |  SELECT b.lang, b.doc_id FROM b JOIN w USING (h, doc_id)
        |  WHERE b.h NOT IN (SELECT h FROM c)),
        |bs AS (SELECT lang, count(*) AS n_batch FROM b GROUP BY 1),
        |ks AS (SELECT lang, count(*) AS n_kept,
        |         sum(doc_id)::BIGINT AS id_sum FROM kept GROUP BY 1)
        |SELECT bs.lang, n_batch, coalesce(n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(id_sum, 0)::BIGINT AS id_sum
        |FROM bs LEFT JOIN ks USING (lang)""".stripMargin,

    // string-shingle replay of the hashed-shingle coverage computation
    // (same doc-frequency + coverage pipeline on the un-hashed shingles;
    // the sets are distinct on both sides). Integer-only arithmetic: DIV
    // on the Spark side mirrors // here, and every sum is ::BIGINT to
    // avoid DuckDB's HUGEINT widening (the q19 lesson).
    "dd11_span_coverage" ->
      s"""WITH $docShinglesCteSql,
        |sh AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
        |cov AS (
        |  SELECT doc_id, count(*) AS n_shingles,
        |    sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup
        |  FROM sh JOIN df USING (shingle) GROUP BY 1),
        |p AS (SELECT doc_id, n_shingles, n_dup,
        |        (1000 * n_dup) // n_shingles AS permille FROM cov)
        |SELECT permille // 100 AS decile, count(*) AS n_docs,
        |  sum(n_dup)::BIGINT AS sum_dup,
        |  sum(n_shingles)::BIGINT AS sum_shingles
        |FROM p GROUP BY 1""".stripMargin,

    // dd13: DuckDB contributes the EXACT per-source distinct counts; the
    // engine's HLL estimates come from the side_hll_est dump (DataSketches
    // internals are not recomputable here). The identical integer
    // tolerance arithmetic on both sides makes the gate certify that the
    // accuracy flag travels with exact-count parity.
    "dd13_hll_distinct" ->
      s"""WITH est AS (SELECT source, n_est
        |             FROM read_parquet('{VERIFY_DIR}/side_hll_est.parquet')),
        |${shingleDocsCteSql("source")},
        |ex AS (SELECT source, count(DISTINCT shingle) AS n_exact
        |       FROM (SELECT source, unnest(sh) AS shingle FROM docs)
        |       GROUP BY source)
        |SELECT source, n_exact, n_est,
        |  abs(n_est - n_exact) * 1000 <= n_exact * 25 AS within_25pm
        |FROM ex JOIN est USING (source)
        |ORDER BY source""".stripMargin,

    // independent EXACT set arithmetic over the same string shingles —
    // in theta's exact-mode regime (see the query doc) the sketch
    // estimates must equal these integers; pairs with zero overlap
    // survive via the left join
    "dd16_source_overlap" ->
      s"""WITH ${shingleDocsCteSql("source")},
        |ss AS (SELECT DISTINCT source, shingle FROM
        |         (SELECT source, unnest(sh) AS shingle FROM docs)),
        |sizes AS (SELECT source, count(*)::BIGINT AS n FROM ss GROUP BY 1),
        |ov AS (
        |  SELECT a.source AS id_a, b.source AS id_b,
        |    count(*)::BIGINT AS n_overlap
        |  FROM ss a JOIN ss b
        |    ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa.source AS id_a, sb.source AS id_b,
        |  sa.n AS n_a, sb.n AS n_b,
        |  coalesce(ov.n_overlap, 0)::BIGINT AS n_overlap,
        |  coalesce(ov.n_overlap, 0)::DOUBLE /
        |    (sa.n + sb.n - coalesce(ov.n_overlap, 0)) AS jaccard_est
        |FROM sizes sa JOIN sizes sb ON sa.source < sb.source
        |LEFT JOIN ov ON ov.id_a = sa.source AND ov.id_b = sb.source""".stripMargin,

    // replay of dd7 from the dumped SRP signatures (shared with s3): same
    // banding/cap/multiprobe CTEs, exact cosine re-rank at threshold 0.4.
    "dd7_embed_neardup" ->
      s"""WITH ${Similarity.srpCandidatesSql(Similarity.DefaultBucketCap,
             multiprobe = true)}
         |SELECT i, j, cos_sim FROM (
         |  SELECT i, j, list_dot_product(sa.unit, sb.unit) AS cos_sim
         |  FROM pairs
         |  JOIN sigs sa ON sa.vec_id = i
         |  JOIN sigs sb ON sb.vec_id = j)
         |WHERE cos_sim >= 0.4""".stripMargin,

    // dd7's pair replay + the anti-join apply; sigs carries every vector
    // of the corpus (the side dump is the whole SRP base)
    "p3_embed_keeplist" ->
      s"""WITH ${Similarity.srpCandidatesSql(Similarity.DefaultBucketCap,
             multiprobe = true)},
         |dd7 AS (
         |  SELECT i, j FROM (
         |    SELECT i, j, list_dot_product(sa.unit, sb.unit) AS cos_sim
         |    FROM pairs
         |    JOIN sigs sa ON sa.vec_id = i
         |    JOIN sigs sb ON sb.vec_id = j)
         |  WHERE cos_sim >= 0.4),
         |dropped AS (SELECT DISTINCT j AS vec_id FROM dd7)
         |SELECT count(*) AS n_kept, sum(vec_id)::BIGINT AS sum_ids
         |FROM sigs
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)""".stripMargin,

    // SemDeDup replay from dd17's OWN cell-assignment dump (the
    // proportional-stride frame — side_dd17_assign; identical to
    // side_s4_assign at gate SFs, unconditionally correct beyond): the
    // two-regime cell-occupancy rule (szs/ok/flood — srpCandidatesSql's
    // idiom: sub-cap cells pair exhaustively i<j, over-cap FLOOD cells
    // pair rank-adjacent within FloodWindow), the shared 0.4 threshold
    // on both regimes, then the per-cell decision summary over the FULL
    // assignment (totals count everyone).
    "dd17_semdedup" ->
      s"""WITH assign AS (SELECT vec_id, cent_id, unit
         |  FROM read_parquet('{VERIFY_DIR}/side_dd17_assign.parquet')),
         |szs AS (SELECT cent_id, count(*) AS csz FROM assign GROUP BY 1),
         |ok AS (SELECT assign.* FROM assign JOIN szs USING (cent_id)
         |       WHERE csz <= ${Similarity.DefaultBucketCap}),
         |flood AS (SELECT assign.*,
         |            row_number() OVER (PARTITION BY cent_id
         |                               ORDER BY vec_id) AS rk
         |          FROM assign JOIN szs USING (cent_id)
         |          WHERE csz > ${Similarity.DefaultBucketCap}),
         |drops AS (SELECT DISTINCT vec_id FROM (
         |          SELECT b.vec_id
         |          FROM ok a JOIN ok b
         |            ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
         |          WHERE list_dot_product(a.unit, b.unit) >= 0.4
         |          UNION ALL
         |          SELECT fb.vec_id
         |          FROM flood fa JOIN flood fb
         |            ON fa.cent_id = fb.cent_id AND fb.rk > fa.rk
         |           AND fb.rk <= fa.rk + ${Similarity.FloodWindow}
         |          WHERE list_dot_product(fa.unit, fb.unit) >= 0.4))
         |SELECT cent_id, count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN assign.vec_id
         |           ELSE 0 END) AS BIGINT) AS kept_id_sum
         |FROM assign LEFT JOIN drops d USING (vec_id)
         |GROUP BY cent_id""".stripMargin
  )
}
