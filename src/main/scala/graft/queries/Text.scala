package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.HeavyHitters
import graft.functions.TextFunctions._

/** Text-analysis queries over the `documents` table — the corpus-cleaning
  * operator family a 100 TB training-data pipeline runs before anything
  * else: token statistics, heuristic quality filtering, language ID,
  * content fingerprinting, and vocabulary aggregation.
  *
  * Everything is a narrow projection + hash aggregate over a single scan —
  * embarrassingly parallel, no shuffle except the final aggregates; the
  * expressions are all codegen'd builtins (see
  * [[graft.functions.TextFunctions]]), so per-row cost is a few dozen ns
  * and the plan scales linearly with partitions.
  */
object Text {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Per-document token statistics (token counting + lexical diversity).
    "t1_text_stats" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        distinctTokenCount(col("text")).as("n_distinct"),
        typeTokenRatio(col("text")).as("ttr"),
        avgTokenLen(col("text")).as("avg_token_len"))
    }),

    // Heuristic quality filter: keep docs above a score threshold —
    // the shape of a C4/Gopher-style cleaning rule.
    "t2_quality_filter" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          qualityScore(col("text")).as("quality"),
          wordListRatio(col("text"), EnglishStopwords).as("stopword_ratio"))
        .filter(col("quality") >= 0.5)
    }),

    // Stopword-profile language ID vs the labeled lang column.
    "t3_langid" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          langId(col("text")).as("pred_lang"))
    }),

    // Content fingerprint (md5 of sorted distinct tokens) + collision
    // groups: docs sharing a bag-of-words signature — order-insensitive
    // exact dedup candidates.
    "t4_fingerprint" -> ((s, dir) => {
      Tables.documents(s, dir)
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .filter(col("n_docs") >= 2)
    }),

    // Vocabulary aggregation: explode tokens → global top-20 by frequency
    // (partial+final hash agg, then TakeOrderedAndProject — no global sort).
    "t5_vocab_topk" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(20)
    }),

    // BPE-ish regex tokenization: lexical piece count per doc (word runs +
    // isolated punctuation), vs whitespace count — the pre-tokenizer shape.
    "t6_regex_tokens" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(regexTokens(col("text"))).as("n_pieces"),
          tokenCount(col("text")).as("n_ws_tokens"))
        .filter(col("doc_id") < 200)
    }),

    // Deterministic hash split: reproducible train/validation/test
    // assignment from the md5 of the stable key — the standard
    // sampling/splitting primitive for corpus pipelines (any executor, any
    // partitioning, any engine computes the same assignment; rates are hex
    // prefix thresholds: 0x1999/0xFFFF ≈ 10% test, next ≈10% validation).
    // Contrast with rand()/sample(): not reproducible across engines, and
    // re-runs reshuffle documents between splits.
    "t7_hash_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), hexPrefix(col("doc_id")).as("h"))
        .withColumn("split", splitOf(col("h")))
    }),

    // Bigram corpus statistics (the n-gram LM / BPE-merge counting shape):
    // adjacent-token pairs per doc via zip_with of two slices (no UDF;
    // empty for 1-token docs by construction), exploded and counted
    // globally — partial+final hash agg then TakeOrderedAndProject.
    "t9_bigram_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(tokens(col("text")).as("toks"))
        .select(explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("bigram"))
        .limit(25)
    }),

    // Repetition-quality metrics (the Gopher repetition rules — Rae et
    // al. 2021 §A1.2: fraction of the doc covered by its most frequent
    // word / bigram, type-token ratio — the filters every LLM corpus
    // pipeline applies between langid and dedup). Per doc: word count,
    // distinct count, top-word and top-bigram multiplicities, and the
    // keep decision with INTEGERIZED thresholds (top_word_n*5 < n_words
    // is "top word < 20%") so the gate compares integers and booleans
    // only — no float ratio can drift. Plan shape at 100 TB: the text
    // column dies at the scan (split → explode); everything after is two
    // (doc_id, token)-keyed partial+final hash aggs and one per-doc
    // equi-join — no global sort, fan-out bounded by tokens-per-doc.
    // Character-level Shannon entropy per document — the gibberish/
    // binary-spill detector quality pipelines run beside the t2 ratio
    // gates (natural prose sits ≈4-4.5 bits/char; base64 blobs and
    // key-mash run higher, template spam and char-floods collapse
    // lower). Computed ENTIRELY in-row by a compiled kernel
    // ([[graft.functions.TextFunctions.charEntropy]]) — the plan is
    // scan → project: zero shuffle, zero explode (t15's two-shuffle
    // explode shape is the right call when per-TOKEN frames are reused;
    // for a pure per-doc scalar the in-row kernel touches each text
    // once and nothing else moves). The double emission rides the
    // gate's float tolerance: both engines sum the same f·log2(f)
    // terms, only in different order (the one libm-shaped caveat,
    // ~1 ulp, documented where q25 documents its boundary).
    // Readability scoring (Flesch 1948 reading ease) — the curation
    // signal complementary to t2's stopword heuristics and t29's
    // learned classifier: 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words), with the standard corpus-scale proxies —
    // syllables ≈ vowel groups (one regexp_count, the heuristic every
    // readability library ships), sentences = terminal-punctuation
    // runs with a fixed 15-token-window fallback (this corpus carries
    // no [.!?], so the fallback is the live path; a punctuated corpus
    // flips to the splitter automatically via greatest()). Every input
    // is an exact integer count, the score a formula over exact
    // doubles — identical on both engines (cross-engine regex parity
    // is already load-bearing for t33's redaction). Scan-local: no
    // shuffle at all, O(1) state per row at any corpus size.
    "t34_readability" -> ((s, dir) => {
      val words = tokenCount(col("text")).cast("long")
      val d = Tables.documents(s, dir).select(
        col("doc_id"),
        words.as("n_words"),
        greatest(
          regexp_count(col("text"), lit("[.!?]+")).cast("long"),
          // double division then truncate == integer DIV for the
          // positive bounded counts here (exact in double)
          ((words + lit(14L)) / lit(15L)).cast("long"),
          lit(1L)).as("n_sentences"),
        regexp_count(col("text"), lit("[aeiou]+")).cast("long")
          .as("n_vowel_groups"))
      d.withColumn("flesch",
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sentences").cast("double")) -
          lit(84.6) * (col("n_vowel_groups").cast("double") /
            col("n_words").cast("double")))
    }),

    "t21_char_entropy" -> ((s, dir) => {
      import graft.functions.TextFunctions.{chars, charEntropy}
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), chars(col("text")).as("cs"))
        .select(col("doc_id"), col("lang"),
          size(col("cs")).cast("long").as("n_ch"),
          charEntropy(col("cs")).as("entropy"))
    }),

    "t15_repetition" -> ((s, dir) => {
      // spread: the word and bigram branches each re-tokenize the
      // single-row-group scan — unspread, both run on one core
      val docs = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val ws = docs
        .select(col("doc_id"), explode(col("toks")).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").cast("long").as("n_words"),
          count(lit(1)).as("n_distinct"),
          max("c").as("top_word_n"))
      // t9's zip_with-slice bigrams, kept per-doc; a 1-word doc has no
      // bigrams, drops out of the explode, and re-enters as NULL→0
      // through the left join
      val bg = docs
        .select(col("doc_id"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("b"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max("c").as("top_bigram_n"))
      ws.join(bg, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          col("top_word_n"),
          coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
          (col("top_word_n") * 5 < col("n_words") &&
            col("n_distinct") * 10 > col("n_words") * 3 &&
            coalesce(col("top_bigram_n"), lit(0L)) * 10 < col("n_words"))
            .as("keep"))
    }),

    // BM25 retrieval (the inverted-index/search-scoring shape): rank docs
    // for a fixed term query. tf comes from exploding ONLY the query
    // terms (the isin filter runs before the groupBy, so the aggregate
    // sees |matching tokens| rows, not the corpus vocabulary); df and the
    // corpus stats are broadcast; scoring is one narrow projection + a
    // per-doc sum + TakeOrderedAndProject. Uses the rational idf variant
    // idf = (N - df + ½)/(df + ½) + 1 — a monotone transform of the
    // classic log idf chosen because it keeps every score inside exact
    // same-order IEEE arithmetic on both engines (ln() is the one
    // operation whose last-ulp behavior differs across libm
    // implementations); k1 = 1.2, b = 0.75 are the standard constants.
    "t10_bm25" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("len", size(col("toks")))
        .persist()
      QueryCache.resultThenRelease(
        bm25Scores(d, _.filter(col("term").isin(Bm25QueryTerms: _*)))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20),
        d)
    }),

    // End-to-end corpus-preparation pipeline under ONE hash gate — the
    // documents-side analogue of g5's composed fetch path: quality filter
    // (t2's rule) → exact dedup keep-list (dd1's md5 groupBy, min-doc_id
    // survivor) → deterministic train/validation/test assignment (t7's md5
    // prefix rule) → per-(split, lang) doc/token accounting. A regression
    // in any stage OR in their composition surfaces as an oracle mismatch.
    // Scale shape: the full text never crosses a shuffle — the dedup key
    // is the 16-byte md5 and the payload is struct(doc_id, lang,
    // n_tokens); min(struct) picks the min-doc_id row's payload (doc_id
    // is unique and compared first). Every emitted column is an integer
    // or a categorical string — nothing order-sensitive reaches the hash.
    "p1_pipeline_e2e" -> ((s, dir) => {
      // spread before the per-doc kernels: the driver parquet is
      // single-row-group, so an unspread scan tokenizes the whole
      // corpus on ONE core (guide §2.5 input skew)
      val scored = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
          tokenCount(col("text")).as("n_tokens"),
          md5(col("text")).as("text_key"),
          qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 0.5)
      val kept = scored
        .groupBy("text_key")
        .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"))).as("d"))
        .select(col("d.doc_id").as("doc_id"), col("d.lang").as("lang"),
          col("d.n_tokens").as("n_tokens"))
      kept
        .withColumn("h", hexPrefix(col("doc_id")))
        .withColumn("split", splitOf(col("h")))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    // The FULL modern pre-training pipeline composed end-to-end under one
    // hash gate — every stage is an operator this engine gates
    // individually: quality score (t2) → repetition filter (t15's
    // word-level rules) → benchmark decontamination (dd10, eval slice
    // excluded from the corpus) → exact dedup (dd1/p1's min-doc_id
    // survivor) → temperature mixture (p7, thresholds derived from the
    // DEDUPED corpus) → train/val/test split → per-(split, lang)
    // accounting. Two deliberate design points the composition forces:
    // (a) the mixture membership and the split use PURPOSE-SALTED hash
    // keys ('mix:'/'split:' prefixes) — sharing p2's raw-doc_id prefix
    // for both would correlate them and skew every kept stratum's split
    // proportions (a real pipeline bug the salting rule prevents);
    // (b) mixture thresholds come from post-dedup counts, because
    // pre-dedup counts would let duplicate-heavy strata down-weight
    // their own survivors. Plan shape: the text column dies after the
    // shingle/word explodes; every join is either broadcast (eval set,
    // lang stats) or doc_id-keyed; one final tiny agg.
    "p8_full_pipeline" -> ((s, dir) => {
      // stage bodies factored into the private[graft] helpers below so
      // the gated batch query and the streaming ingest twin
      // (streaming/IngestPipeline) can never disagree on a stage's
      // arithmetic — one definition each.
      // materialization barrier: rep feeds BOTH the decontamination
      // train side and the left_anti survivor join — without the persist
      // Catalyst instantiates the scan + quality filter + word-stats agg
      // subtree twice (PlanShapeSpec pins the resulting Exchange bound)
      // spread before the per-doc kernels: the driver parquet is
      // single-row-group, so an unspread scan runs every quality/
      // repetition kernel on ONE core (guide §2.5 input skew)
      val rep = repCleanDocs(Tables.spread(Tables.documents(s, dir)))
        .persist()
      val train = rep.filter(col("doc_id") % 97 =!= 0)
      val evalDocs = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0).select("doc_id", "text")
      val flagged = graft.queries.Dedup
        .decontaminate(train.select("doc_id", "text"), evalDocs, 3)
        .select(col("train_id").as("doc_id")).distinct()
      val clean = train.join(flagged, Seq("doc_id"), "left_anti")
      // second barrier: deduped feeds the lang-stats agg AND the mixture
      // join — doc-level metadata only (no text), tiny to cache, and it
      // cuts the whole upstream pipeline to exactly one execution
      val deduped = exactDedupMeta(clean).persist()
      val stats = deduped.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val mixed = mixtureSurvivors(deduped, stats)
      QueryCache.resultThenRelease(
        splitAccounting(mixed),
        rep, deduped)
    }),

    // Pipeline attrition report — the per-stage funnel table every
    // published curation pipeline ships (RefinedWeb Fig. 2, Dolma's and
    // FineWeb's removal-rate tables): how many documents and tokens
    // survive each stage of p8's pipeline. This is the artifact a data
    // lead actually reviews before a release ("the dedup stage suddenly
    // dropped 40%" is the regression alarm). Stage bodies are the SAME
    // private[graft] helpers p8 composes — one definition per stage — and
    // the oracle composes the SAME [[P8Cte]] string as p8's, so the
    // report provably describes the gated pipeline, not a lookalike. The
    // 7 stage counts are independent tiny aggregates over the two
    // persisted barriers p8 already uses; at 100 TB each count is one
    // map-side-combined scan of a frame the pipeline materializes anyway.
    "p20_stage_attrition" -> ((s, dir) => {
      // Stage-aggregate fusion (optimization guide §1.2/§2.4): the
      // former per-stage `agg` branches re-scanned the corpus once for
      // stage 0 and once for stage 1 (each a SINGLE-task kernel pass —
      // the driver parquet is one row group), and read the rep persist
      // once each for stages 2 and 3. Stages 0-1 now share ONE spread
      // scan (quality is a column; the two stage rows come off one
      // aggregate via stack) and stages 2-3 share ONE pass over the rep
      // persist (the holdout split is a conditional sum). The emitted
      // rows are bit-identical: same counts, same coalesce(sum, 0)
      // null-handling, same names and BIGINT types — the oracle's
      // P8Cte replay is unchanged.
      val enriched = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), col("lang"),
          tokenCount(col("text")).as("n_tokens"),
          qualityScore(col("text")).as("quality"))
      def cnt(p: Column): Column =
        coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L))
      def tok(p: Column): Column =
        coalesce(sum(when(p, col("n_tokens")).otherwise(0L)), lit(0L))
      val rawQuality = enriched
        .agg(count(lit(1)).as("n0"),
          coalesce(sum("n_tokens"), lit(0L)).as("s0"),
          cnt(col("quality") >= 0.5).as("n1"),
          tok(col("quality") >= 0.5).as("s1"))
        .selectExpr("stack(2, " +
          "'0_raw', CAST(0 AS BIGINT), n0, s0, " +
          "'1_quality', CAST(1 AS BIGINT), n1, s1) " +
          "AS (stage, stage_ord, n_docs, sum_tokens)")
      val rep = repCleanDocs(Tables.spread(Tables.documents(s, dir)))
        .persist()
      val train = rep.filter(col("doc_id") % 97 =!= 0)
      val evalDocs = Tables.documents(s, dir)
        .filter(col("doc_id") % 97 === 0).select("doc_id", "text")
      val flagged = graft.queries.Dedup
        .decontaminate(train.select("doc_id", "text"), evalDocs, 3)
        .select(col("train_id").as("doc_id")).distinct()
      val clean = train.join(flagged, Seq("doc_id"), "left_anti")
      val deduped = exactDedupMeta(clean).persist()
      val stats = deduped.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val mixed = mixtureSurvivors(deduped, stats)
      val repTrain = rep
        .agg(count(lit(1)).as("n2"),
          coalesce(sum("n_tokens"), lit(0L)).as("s2"),
          cnt(col("doc_id") % 97 =!= 0).as("n3"),
          tok(col("doc_id") % 97 =!= 0).as("s3"))
        .selectExpr("stack(2, " +
          "'2_repetition', CAST(2 AS BIGINT), n2, s2, " +
          "'3_train_holdout', CAST(3 AS BIGINT), n3, s3) " +
          "AS (stage, stage_ord, n_docs, sum_tokens)")
      def stage(name: String, ord: Long, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum("n_tokens"), lit(0L)).as("sum_tokens"))
          .select(lit(name).as("stage"), lit(ord).as("stage_ord"),
            col("n_docs"), col("sum_tokens"))
      val out = rawQuality
        .unionByName(repTrain)
        .unionByName(stage("4_decontaminated", 4L, clean))
        .unionByName(stage("5_exact_dedup", 5L, deduped))
        .unionByName(stage("6_mixture", 6L, mixed))
      QueryCache.resultThenRelease(out, rep, deduped)
    }),

    // k-anonymity release audit — the privacy gate t33's redaction
    // feeds (Sweeney 2002): after direct identifiers are masked, a
    // released corpus can still re-identify through QUASI-identifier
    // combinations; any combination shared by fewer than k records is a
    // linkage handle. Here the QI tuple is (lang, source, length
    // centile-bucket) — the metadata a release actually ships — and the
    // audit reports every equivalence class with its size and at-risk
    // verdict (n < k = 5), plus the suppression cost (how many docs a
    // k-anonymous release must drop or generalize). One map-side-
    // combined hash agg; output bounded by the QI domain, never corpus
    // size. At 100 TB this IS the plan — the audit is one scan, and the
    // bucket width is the generalization knob a release tunes until
    // at_risk empties.
    "p21_k_anonymity" -> ((s, dir) => {
      kAnonymityVerdicts(
        Tables.documents(s, dir)
          .select(col("lang"), col("source"),
            expr("n_chars DIV 100").as("len_bucket"))
          .groupBy("lang", "source", "len_bucket")
          .agg(count(lit(1)).as("n_docs")))
    }),

    // Differentially-private release counts — the third privacy gate
    // beside t33 (redact) and p21 (k-anonymity): per-language doc
    // counts released with Laplace(1/ε) noise, ε = 1 (count queries
    // have sensitivity 1, so scale = 1/ε — the textbook Dwork-Roth
    // mechanism the Census/LinkedIn releases use). The noise variate
    // is the inverse-CDF transform of a uniform u; HERE u is the
    // deterministic md5 variate (p10/p12's 13-hex-digit / 2⁵²
    // discipline, 'dp:'-salted) so both engines draw the identical
    // sample and the gate certifies the MECHANISM arithmetic —
    // production swaps the one u-column for a CSPRNG draw and nothing
    // else changes. A deterministic seed is of course not private;
    // that substitution is exactly what the constructed-fixture
    // pattern exists for. ln() differs across libms by ulps — inside
    // the gate's 1e-9 envelope.
    "p22_dp_release" -> ((s, dir) => {
      val u = conv(substring(md5(concat(lit("dp:"), col("lang"))), 1, 13),
        16, 10).cast("double") / lit(4503599627370496.0)
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_true"))
        .withColumn("u", u)
        .withColumn("noise",
          when(col("u") < 0.5, log(lit(2.0) * col("u")))
            .otherwise(-log(lit(2.0) * (lit(1.0) - col("u")))))
        .withColumn("released", col("n_true") + col("noise"))
        .withColumn("epsilon_permille", lit(1000L))
    }),

    // Per-language Pareto frontier (skyline) — the curation question
    // behind every quota/budget rule (p11/p14): which documents are
    // NOT dominated on the (cost = n_chars, yield = n_tokens) plane —
    // i.e. no other same-language doc is both no-longer AND
    // no-less-token-rich, strictly better in one. Spelled as TWO window
    // maxima over ONE lang shuffle AND one sort — both windows partition
    // by lang and order by n_chars, so Catalyst plans a single Exchange
    // + Sort + Window (PlanShapeSpec pins it): m_lt = max tokens over
    // strictly shorter docs (RANGE … 1 PRECEDING on integer n_chars =
    // strict <), m_eq = max tokens among equal-length docs (RANGE
    // CURRENT ROW..CURRENT ROW = the ORDER BY peer group — same-length
    // docs — not the single row); a row survives iff
    // m_lt < its tokens (null-safe) AND m_eq == its tokens — exactly
    // the ∄-dominator predicate, ties kept on both sides (two identical
    // (chars, tokens) docs are mutually non-dominating and both stay).
    // All integers — exact. The oracle is the literal quadratic
    // NOT EXISTS — an INDEPENDENT formulation, so the hash match
    // checks the window algebra, not a transliteration. At 100 TB the
    // skyline is one sort per language partition, O(n log n) per
    // partition vs the oracle's O(n²) — that asymmetry is the point.
    "p23_pareto_frontier" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("n_chars"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      val wLt = Window.partitionBy("lang").orderBy(col("n_chars"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy("lang").orderBy(col("n_chars"))
        .rangeBetween(Window.currentRow, Window.currentRow)
      d.withColumn("m_lt", max("n_tokens").over(wLt))
        .withColumn("m_eq", max("n_tokens").over(wEq))
        .filter((col("m_lt").isNull || col("m_lt") < col("n_tokens")) &&
          col("m_eq") === col("n_tokens"))
        .select("lang", "doc_id", "n_chars", "n_tokens")
    }),

    // Context-window chunking (the UDTF/generator shape of corpus prep):
    // split each document into 50-token windows with stride 40 (10-token
    // overlap) — one explode of the stride sequence + a slice per chunk,
    // all codegen builtins, no UDF. The last chunk may be short (slice
    // past the end truncates identically on both engines). Row-per-chunk
    // generators are the canonical pre-tokenization fan-out; bounded here
    // to doc_id < 50 to keep the oracle result small.
    "t11_chunking" -> ((s, dir) => {
      Tables.documents(s, dir)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1) // sequence(0,-1,40) would DESCEND
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(40)))
            .as("start"),
          col("toks"))
        .select(col("doc_id"),
          expr("start DIV 40").as("chunk_id"),
          concat_ws(" ", slice(col("toks"), col("start") + 1, lit(50)))
            .as("chunk"))
    }),

    // Sequence packing (concat-and-chunk): documents streamed in a
    // deterministic order into fixed 2048-token context windows; a doc
    // belongs to the pack where its first token lands (cumulative tokens
    // BEFORE it, integer-divided by the window). Partitioned by lang —
    // the scale shape: packing is inherently sequential, so production
    // packs per shard/stratum in parallel, never over one global order
    // (a global ORDER BY is a single-reducer sort). Window cumsum +
    // integer division — exact on both engines.
    "t12_packing" -> ((s, dir) => {
      val win = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum_before",
          coalesce(sum("n_tokens").over(win), lit(0L)))
        .withColumn("pack_id", expr("cum_before DIV 2048"))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    // Corpus mix control: deterministic stratified sampling
    // ([[graft.operators.DeterministicSample]]) — en down-weighted to
    // 0.25, zh kept in full (exercising the exact keep-all path), every
    // other language at the 0.5 default — then per-language doc/token
    // accounting. Membership is a pure function of doc_id, so the oracle
    // replays the identical kept set; integer emissions only.
    "p2_stratified_sample" -> ((s, dir) => {
      graft.operators.DeterministicSample.stratified(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"),
            tokenCount(col("text")).as("n_tokens")),
          col("doc_id"), col("lang"),
          Map("en" -> 0.25, "zh" -> 1.0), default = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    }),

    // Temperature-weighted mixture sampling — the corpus-mix primitive
    // behind multilingual/multi-source training sets (XLM-R's α<1
    // temperature sampling, the Pile/LLaMA source mixtures): flatten the
    // natural distribution by keeping stratum s with fraction
    // f_s = min(1, K/√N_s), i.e. the kept count grows as K·√N_s — big
    // strata are down-weighted, small ones survive whole (the en 218 →
    // ~27% vs fr 64 → 50% spread on the driver corpus). √ is the one
    // power IEEE 754 rounds exactly, so the per-stratum threshold
    // floor(65536·K/√N_s) is the identical integer on both engines —
    // pow(x, α) for general α would differ in the last ulp across libms
    // and flip rows at the boundary. Membership then rides the same
    // md5-prefix scheme as p2 (engine/partition/retry-invariant, nested
    // in K). The threshold integer is emitted under the gate, so the
    // hash certifies the derivation, not just the kept set. Plan at
    // 100 TB: the stats agg is |strata| rows broadcast back onto the
    // corpus; the filter is scan-local; one final hash agg — the corpus
    // never shuffles.
    "p7_mixture_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      val stats = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      docs.join(broadcast(stats), "lang")
        // K = 4 target-kept ≈ 4·√N_s docs per stratum (mixtureThreshold)
        .withColumn("thr_i", mixtureThreshold(col("n_lang")))
        .filter(col("thr_i") >= 65536 ||
          hexPrefix(col("doc_id")) < format_string("%04x", col("thr_i")))
        .groupBy("lang")
        .agg(max("n_lang").as("n_lang"), max("thr_i").as("threshold"),
          count(lit(1)).as("n_kept"), sum("n_tokens").as("sum_tokens"))
    }),

    // Redaction transform: regexp_replace token scrubbing + a count of
    // redactions — the shape of a PII-scrub pass (emails, phone numbers,
    // ids). The synthetic corpus carries no digits or emails, so the
    // pattern redacts a stopword set instead — the plan (codegen'd
    // regexp_replace + regexp_extract_all in one scan, no UDF) is
    // identical for any pattern list.
    "t8_scrub" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          regexp_replace(col("text"), ScrubPattern, "<STOP>").as("text_clean"),
          size(regexp_extract_all(col("text"), lit(ScrubPattern), lit(1)))
            .as("n_redactions"))
        .filter(col("doc_id") < 150)
    }),

    // Per-source quota (corpus mix enforcement): keep at most 5 docs per
    // source, best-quality-first — the "cap any one domain's share" rule
    // every web-scale corpus applies. Uses TopKPerKey's bounded per-
    // partition heaps, so the full frame never shuffles on source (the
    // window formulation would concentrate each source's whole volume on
    // one reducer — the s5 lesson). Rank-cut exactness: quality derives
    // from integer token counts through identical-order IEEE divisions
    // and least/add — bit-identical cross-engine, so the quota boundary
    // cannot flip (contrast q25's documented avg-boundary tolerance).
    "p4_source_quota" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          qualityScore(col("text")).as("quality"))
      graft.operators.TopKPerKey.topK(
          scored, keyCol = "source", scoreCol = "quality",
          tieCol = "doc_id", k = 5)
        .select(col("source"), col("doc_id"), col("quality"))
    }),

    // Deterministic training-order shuffle WITHOUT a global sort: the
    // order key is md5(doc_id) (uniform, reproducible on any engine /
    // partitioning / retry), shards are hex-prefix ranges of that key
    // (first hex digit DIV 2 → 8 shards), and ordering is only ever
    // needed WITHIN a shard — each shard sorts in parallel; a training
    // job reads shards in id order and rows in key order, which is a
    // fixed global permutation with no single-reducer ORDER BY anywhere.
    // Emits each shard's size + token mass + its first 3 docs in
    // training order (certifying assignment, order, and balance under
    // one hash). All window frames are per-shard — 8 bounded partitions.
    "p5_shard_order" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(col("doc_id").cast("string")).as("h"),
          tokenCount(col("text")).as("n_tokens"))
        .withColumn("shard", expr(
          "CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) DIV 2" +
            " AS BIGINT)"))
      val byShard = Window.partitionBy("shard")
      base
        .withColumn("pos", row_number().over(byShard.orderBy("h"))
          .cast("long"))
        .withColumn("n_in_shard", count(lit(1)).over(byShard))
        .withColumn("shard_tokens", sum("n_tokens").over(byShard))
        .filter(col("pos") <= 3)
        .select("shard", "pos", "doc_id", "n_in_shard", "shard_tokens")
    }),

    // Exact-N stratified sampling (the reservoir-sample replacement):
    // exactly 10 docs per language, chosen as the N smallest values of a
    // Knuth multiplicative hash of doc_id — deterministic on any engine /
    // partitioning / retry (rand()-reservoirs are neither), and nested
    // like p2's fractions (the 10-sample is a prefix of the 20-sample).
    // Selection runs through TopKPerKey's bounded per-partition heaps on
    // the negated score — the corpus never shuffles on lang, ≤ partitions
    // × langs × 10 survivors reach the finalize (the same scale shape as
    // p4; contrast a per-lang window sort, which is one reducer per
    // stratum). The hash is pure BIGINT arithmetic, so the oracle
    // replays it exactly; the pre-mod keeps the product under 2^63
    // for ANY doc_id (2^31 × 2654435761 ≈ 5.7e18 < Long.Max — without
    // it, a doc_id ≥ ~3.5e9 would wrap in Spark but ERROR in DuckDB's
    // checked arithmetic).
    "p6_exact_sample" -> ((s, dir) => {
      val scored = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          (((col("doc_id") % lit(2147483648L)) * lit(2654435761L))
            % lit(2147483648L)).as("score"))
        .withColumn("score_neg", -col("score").cast("double"))
      graft.operators.TopKPerKey.topK(
          scored, keyCol = "lang", scoreCol = "score_neg",
          tieCol = "doc_id", k = 10)
        .select(col("lang"), col("doc_id"), col("score"))
    }),

    // WEIGHTED sampling without replacement — Efraimidis–Spirakis A-ES
    // (Inf. Proc. Letters 2006): draw u_i ~ U(0,1) per row, keep the N
    // largest keys u_i^(1/w_i); inclusion odds are then proportional to
    // w_i with no replacement bookkeeping. The pipeline use is
    // quality/length-proportional corpus selection ("sample 200 docs,
    // long docs proportionally more often") — p6's uniform cousin. Two
    // engine-portability moves: (1) u is NOT a RNG draw but the first 13
    // hex digits of md5(doc_id) over 2^52 — exactly representable in a
    // double, identical on any engine/partitioning/retry (the
    // DeterministicSample rule, widened from a threshold test to a full
    // U(0,1) variate); (2) the key is computed as ln(u)/w — the same
    // monotone order as u^(1/w) without pow's cross-libm wobble, and the
    // selection margin at the rank-N cutoff (~1/corpus relative) dwarfs
    // the ≤1-ulp ln() difference, so the kept SET is engine-exact even
    // though the keys are floats (only integer columns are emitted).
    // Plans as scan → TakeOrderedAndProject: per-partition bounded heaps
    // + driver merge of N rows, never a global sort — the same shape at
    // 100 TB.
    "p10_weighted_sample" -> ((s, dir) => {
      val u = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
        16, 10).cast("double") / lit(4503599627370496.0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          (log(u) / col("n_chars")).as("k"))
        .orderBy(col("k").desc, col("doc_id"))
        .limit(200)
        .select("doc_id", "lang", "n_chars")
    }),

    // Token-budget-capped sampling — "give me a uniform ~10k-token slice
    // of the corpus", THE selection a training run actually issues
    // (budgets are in tokens, not documents). Sort-free by construction:
    // a global ORDER BY priority + running-sum cutoff would be the
    // classic scale anti-pattern, so instead each doc hashes to one of
    // 4096 uniform priority bins (salted md5 — 'budget:' prefix, because
    // the UNsalted u would correlate with t7's split assignment and the
    // slice would drain the test split first; the p8 salt-independence
    // rule), the per-bin token mass is aggregated (4096 rows — a
    // driver-bounded collect, the P4 tier), the driver prefix-scans to
    // the largest bin prefix whose mass fits the budget, and one filter
    // keeps those bins. Two scans of a two-column projection instead of
    // any shuffle of the corpus; granularity is one bin (~1/4096 of
    // corpus mass), the price of never sorting. Deterministic: bin =
    // floor(u·4096) is exact (power-of-two scaling of an exact 52-bit
    // rational), so both engines keep the identical doc set.
    "p11_token_budget" -> ((s, dir) => {
      val budget = 10000L
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          tokenCount(col("text")).cast("long").as("tok"),
          floor(
            conv(substring(md5(concat(lit("budget:"),
              col("doc_id").cast("string"))), 1, 13), 16, 10)
              .cast("double") / lit(4503599627370496.0) * lit(4096.0))
            .cast("int").as("bin"))
      val mass = docs.groupBy("bin").agg(sum("tok").as("bt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // largest k with Σ_{bin<k} ≤ budget (bins are uniform, so this is
      // a uniform sample of ≈budget tokens)
      var cum = 0L
      var k = 0
      while (k < 4096 && cum + mass.getOrElse(k, 0L) <= budget) {
        cum += mass.getOrElse(k, 0L); k += 1
      }
      docs.filter(col("bin") < k)
    }),

    // DSIR importance weights (Xie et al. 2023: select raw data whose
    // hashed-n-gram feature distribution matches a target domain): every
    // doc scores log w = Σ_tokens ln(p̂_target(b)/q̂_raw(b)) over B=256
    // hashed unigram features, target = the English slice, both
    // distributions Laplace-smoothed. The feature space is the SCALE
    // trick (and the paper's): distributions over 256 md5-prefix buckets
    // — two-hex-char STRING keys, the t7 cross-engine hash currency —
    // mean the count pass is one tiny hash agg (256 rows however big the
    // corpus) and the scoring join is a 256-row BROADCAST: the corpus
    // never shuffles, the scoring pass is map-side only, and the final
    // per-doc agg is the lone doc_id shuffle. n_toks is BIGINT-exact;
    // logw sums identical IEEE ln terms in engine order (t21's ride).
    // Downstream, p10's Gumbel machinery samples ∝ exp(logw) — this
    // query produces the weights, deliberately separate so the gate
    // certifies them directly.
    "p12_dsir_weights" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("w"))
        .withColumn("b", substring(md5(col("w")), 1, 2))
      val bucketCounts = toks.groupBy("b").agg(
        count(lit(1)).as("cq"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cp"))
      val totals = bucketCounts
        .agg(sum("cq").as("nq"), sum("cp").as("np"))
      toks.join(broadcast(bucketCounts), "b")
        .crossJoin(broadcast(totals))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(log(
            ((col("cp") + 1).cast("double") / (col("np") + 256)) /
              ((col("cq") + 1).cast("double") / (col("nq") + 256))))
            .as("logw"))
    }),

    // Length-based curriculum assignment — the data-ordering stage of a
    // training run: every doc lands in one of 4 stages by token count
    // (shortest first — the standard length curriculum), with a
    // deterministic md5 shard order WITHIN each stage (p5's rule) so
    // the emitted (stage, stage_rank) is a complete, reproducible
    // training order. ntile(4) gives exact equal-split stages on both
    // engines (first N mod 4 stages take the extra row). Scale note:
    // the global ntile window is a total order over the corpus —
    // correct-but-serial; the 100 TB form derives the 3 stage
    // boundaries from exact percentiles of n_tokens (one agg) and
    // assigns by broadcast compare, same stages up to boundary ties,
    // while stage_rank's per-stage window shuffles on the stage key.
    "p13_curriculum" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
      d.withColumn("stage", ntile(4).over(
          Window.orderBy(col("n_tokens"), col("doc_id"))).cast("long"))
        .withColumn("stage_rank", row_number().over(
          Window.partitionBy("stage")
            .orderBy(md5(col("doc_id").cast("string")), col("doc_id")))
          .cast("long"))
    }),

    // Per-language token-budget rebalancing — the language-mixture stage
    // of corpus assembly (CC-style pipelines cap each language at a token
    // budget so high-resource languages don't drown the rest): within
    // each language, docs are taken in deterministic md5 order (p5's
    // shard-order rule, salted per p8 so it's independent of every other
    // stage's hash) until the running token sum crosses 60% of that
    // language's total; the crossing doc is kept (so a budget is never
    // under-filled by a large head doc). One lang-keyed shuffle serves
    // BOTH windows (the running sum and the per-lang total); no global
    // order, no collect — at 100 TB each language's window partition is
    // the only serial unit, and languages parallelize across executors.
    "p14_language_quota" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          tokenCount(col("text")).cast("long").as("tok"),
          hexPrefix(col("doc_id"), "quota:").as("ord"))
      val run = Window.partitionBy("lang").orderBy(col("ord"), col("doc_id"))
      val all = Window.partitionBy("lang")
      d.withColumn("cum", sum("tok").over(run))
        .withColumn("budget",
          ceil(sum("tok").over(all).cast("double") * lit(0.6)).cast("long"))
        .filter(col("cum") - col("tok") < col("budget"))
        .select(col("doc_id"), col("lang"), col("tok"), col("cum"))
    }),

    // Shard manifest — the dataset-release artifact a reproducible data
    // drop ships beside the shards: per shard (p5's md5-prefix
    // assignment), the doc count, token total, language spread, and an
    // ORDER-FREE content signature (bit_xor of a 60-bit md5-prefix
    // integer per doc). bit_xor is commutative/associative, so the
    // signature is partition- and merge-order-invariant and computes as
    // one map-side-combined hash agg — no per-shard sort, no
    // collect_list buffering (the trap at 100 TB, where a shard's doc
    // list doesn't fit anywhere), and two manifests diff by comparing 8
    // bytes per shard. The gate certifies the signature arithmetic
    // itself, so a manifest mismatch in production means the DATA
    // differs, not the engines.
    "p15_shard_manifest" -> ((s, dir) =>
      shardManifest(Tables.documents(s, dir))
        .select("shard", "n_docs", "n_tokens", "n_langs", "content_sig")),

    // Release diffing — the decision p15's manifests exist to serve:
    // given two corpus releases (synthesized here by dropping a
    // different md5-independent doc slice from each: A = all but the
    // %10==8 bucket, B = all but the %10==3 bucket, so the diff has
    // BOTH additions and removals in every shard), compare per-shard
    // manifests instead of per-doc contents. The full-outer join of two
    // 8-row manifest frames is the ENTIRE cost of answering "what
    // changed between releases" — no doc-level join, no text read
    // beyond the manifest build itself; `unchanged` is the 8-byte
    // signature compare a release pipeline gates re-publication on.
    // All emissions integer/boolean — hash-exact.
    "p16_release_diff" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val a = shardManifest(d.filter(col("doc_id") % 10 =!= 8))
      val b = shardManifest(d.filter(col("doc_id") % 10 =!= 3))
      a.select(col("shard"), col("n_docs").as("n_docs_a"),
          col("n_tokens").as("tok_a"), col("content_sig").as("sig_a"))
        .join(b.select(col("shard"), col("n_docs").as("n_docs_b"),
          col("n_tokens").as("tok_b"), col("content_sig").as("sig_b")),
          Seq("shard"), "full_outer")
        .select(col("shard"),
          coalesce(col("n_docs_a"), lit(0L)).as("n_docs_a"),
          coalesce(col("n_docs_b"), lit(0L)).as("n_docs_b"),
          (coalesce(col("tok_b"), lit(0L)) - coalesce(col("tok_a"), lit(0L)))
            .as("d_tokens"),
          (coalesce(col("sig_a"), lit(0L)) === coalesce(col("sig_b"), lit(0L)))
            .as("unchanged"))
    }),

    // Corpus-wide frequent n-grams (boilerplate mining) via the TWO-PASS
    // heavy-hitter pattern: pass 1 runs a Misra–Gries summary (bounded
    // memory, mergeable — [[graft.functions.MisraGries]]) over the
    // trigram stream to get ≤ m candidate grams plus the exact stream
    // length N; pass 2 broadcast-joins the ≤ m candidates back and
    // exact-counts ONLY them, keeping count ≥ T = max(2, ⌈7.5·10⁻⁵·N⌉).
    // m = 16384 ⇒ MG undercount ≤ N/16385 < T at every SF, so the
    // candidate set provably contains every true heavy hitter and the
    // final frame is exact — which is why a sketch query can sit under
    // the DuckDB hash gate (the oracle is the plain GROUP BY…HAVING).
    // The scale story is the point: a full trigram groupBy shuffles the
    // entire gram domain (billions of keys at 100 TB); this shuffles a
    // one-row summary in pass 1 and ≤ m keys in pass 2. The candidate
    // collect is the bounded driver tier (≤ m strings, P4's rule).
    "t25_hot_ngrams" -> ((s, dir) => {
      import s.implicits._
      // spread: both passes explode trigrams from the single-row-group
      // scan — unspread, each tokenize+explode runs on one core
      def grams = trigrams(
        Tables.spread(Tables.documents(s, dir))
          .select(tokens(col("text")).as("t")))
      val pass1 = grams.agg(
        HeavyHitters.mgCandidates(col("gram"), 16384).as("cand"),
        count(lit(1)).as("n")).head()
      val thr = math.max(2L, math.ceil(7.5e-5 * pass1.getLong(1)).toLong)
      val candDf = pass1.getSeq[String](0).toDF("gram")
      grams.join(broadcast(candDf), "gram")
        .groupBy("gram").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= thr)
    }),

    // Per-document n-gram novelty vs the train split — the freshness /
    // redundancy quality signal data-curation pipelines score incoming
    // docs with (a doc whose trigrams are mostly already in the corpus
    // adds little): for every non-train doc, the fraction of its
    // DISTINCT trigrams absent from the train slice's trigram set.
    // One explode + distinct, a gram-keyed left join against the
    // (distinct) reference set, one doc_id agg. The join key is the
    // gram string to stay oracle-replayable; at 100 TB it's an 8-byte
    // xxhash64 (dd2's currency) and the reference set gets a Bloom
    // prescreen on the scan side (p9's pattern) so only plausible
    // matches reach the shuffle.
    "t26_ngram_novelty" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("t"),
          splitOf(hexPrefix(col("doc_id"))).as("split"))
      val grams = trigrams(d, keep = Seq("doc_id", "split")).distinct()
      val ref = grams.filter(col("split") === "train")
        .select(col("gram")).distinct().withColumn("seen", lit(1))
      grams.filter(col("split") =!= "train")
        .join(ref, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_grams"))
    }),

    // Segment-level dedup REWRITE — the corpus-editing stage dd11 only
    // scores: chunk every doc into non-overlapping 8-token segments
    // (t11's sequence-explode machinery), find segments appearing in ≥2
    // DISTINCT documents (mirror/boilerplate spans — the Lee et al. 2022
    // substring-dedup target at segment granularity), and REASSEMBLE each
    // doc from its surviving segments in original order, emitting kept
    // counts and the md5 of the rewritten text (the corpus delta a
    // pipeline ships). One explode (|tokens|/8 rows), one distinct-doc
    // agg on the segment key, one left join + one per-doc agg; the
    // reassembly is collect_list(struct(idx, seg)) → array_sort →
    // concat — per-doc bounded, no window, no global order. At 100 TB
    // the segment shuffle key would be an 8-byte hash of the segment
    // (dd2's trick — identical shape); the string key here keeps the
    // oracle replayable. A segment repeated only WITHIN one doc is kept
    // (cross-doc sharing is the boilerplate signal; t15 owns
    // intra-doc repetition).
    "t22_segment_dedup_rewrite" -> ((s, dir) => {
      val segs = Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 1)
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("toks")) - 1, lit(8)))
            .as("start"),
          col("toks"))
        .select(col("doc_id"), expr("start DIV 8").as("seg_idx"),
          concat_ws(" ", slice(col("toks"), col("start") + 1, lit(8)))
            .as("seg"))
      val shared = segs.groupBy("seg")
        .agg(countDistinct("doc_id").as("nd"))
        .filter(col("nd") >= 2)
        .select(col("seg"), lit(1).as("is_shared"))
      segs.join(shared, Seq("seg"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_segs"),
          sum(when(col("is_shared").isNull, 1L).otherwise(0L))
            .as("n_kept"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(when(col("is_shared").isNull,
              struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")))).as("clean_md5"))
    }),

    // JSONL ingest (the wire format LLM corpora actually arrive in):
    // write the documents out as JSON-lines, read them back through the
    // schema'd distributed JSON reader, and aggregate with per-lang
    // content checksums (count, byte mass, min/max md5) — the round trip
    // cancels out, so the oracle is the plain parquet query and any
    // serialization infidelity (escaping, encoding, truncation, schema
    // drift) breaks the hash. Reading uses an EXPLICIT schema: at 100 TB
    // schema inference is a full extra pass over the data. The bounded
    // per-lang aggregate is driver-materialized so the temp files can be
    // deleted before the frame is consumed (the q29 lineage-cut rule).
    "t14_jsonl_roundtrip" -> ((s, dir) => {
      // staging resolved through the Hadoop FS of graft.staging.dir's
      // scheme (default file:) — the identical flow runs against s3a://
      val tmp = graft.util.Fs.mkStagingDir(s, "graft_jsonl_")
      try {
        Tables.documents(s, dir).select("doc_id", "lang", "text")
          .write.mode("overwrite").json(s"$tmp/docs")
        val back = s.read
          .schema("doc_id LONG, lang STRING, text STRING")
          .json(s"$tmp/docs")
        val agg = back.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(octet_length(col("text"))).as("sum_bytes"),
            min(md5(col("text"))).as("h_lo"),
            max(md5(col("text"))).as("h_hi"))
        QueryCache.materializeLocal(agg)
      } finally {
        graft.util.Fs.rmTree(s, tmp)
      }
    }),

    // CSV ingest round-trip (t14's flow for the other raw-dump format):
    // write → schema'd read back → per-lang checksums. Explicit schema —
    // inference samples a full extra pass; single-line records keep the
    // files SPLITTABLE (a multiline-quoted CSV forces one task per file
    // at 100 TB). Whitespace preservation is pinned explicitly on both
    // directions: univocity trims on WRITE by default (and not on read),
    // which would silently alter payloads before the reader ever saw
    // them. The round trip cancels out under the gate (oracle reads
    // the parquet), so any write/read asymmetry — quoting, null/empty
    // coercion, trim — breaks the hash.
    "t16_csv_roundtrip" -> ((s, dir) => {
      val tmp = graft.util.Fs.mkStagingDir(s, "graft_csv_")
      try {
        // trim must be pinned off on BOTH sides: the univocity defaults
        // differ per direction (write trims by default, read does not),
        // so an unpinned writer silently strips edge whitespace from
        // payloads before the reader ever sees them
        Tables.documents(s, dir).select("doc_id", "lang", "text")
          .write.mode("overwrite").option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(s"$tmp/docs")
        val back = s.read
          .schema("doc_id LONG, lang STRING, text STRING")
          .option("header", "true")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false")
          .csv(s"$tmp/docs")
        val agg = back.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(octet_length(col("text"))).as("sum_bytes"),
            min(md5(col("text"))).as("h_lo"),
            max(md5(col("text"))).as("h_hi"))
        QueryCache.materializeLocal(agg)
      } finally {
        graft.util.Fs.rmTree(s, tmp)
      }
    }),

    // Corrupt-record-tolerant ingest — the PERMISSIVE path every crawl
    // dump needs (at 100 TB there is ALWAYS a truncated line, and
    // FAILFAST would burn the whole job on it): stage the corpus as
    // JSONL plus a deterministic garbage file (three malformed lines —
    // truncated object, non-JSON, half key), read back PERMISSIVE with
    // a corrupt-record column, and account good vs quarantined per lang.
    // Corrupt rows surface with null data columns and the raw line in
    // _bad — the quarantine a real pipeline writes aside and re-crawls.
    // The oracle replays the clean side from parquet and constructs the
    // quarantine row from the same three literals, so the gate pins
    // BOTH that good rows survive parsing untouched and that exactly
    // the bad lines (whole, verbatim) land in quarantine.
    "t19_corrupt_tolerant" -> ((s, dir) => {
      import s.implicits._
      val tmp = graft.util.Fs.mkStagingDir(s, "graft_badrec_")
      try {
        Tables.documents(s, dir).select("doc_id", "lang", "text")
          .write.mode("overwrite").json(s"$tmp/docs")
        Seq("{\"doc_id\": 1, \"lang\"", "not json at all", "{\"doc_id\":")
          .toDF("value").coalesce(1)
          .write.mode("append").text(s"$tmp/docs")
        val back = s.read
          .schema("doc_id LONG, lang STRING, text STRING, _bad STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(s"$tmp/docs")
        val agg = back
          .groupBy(coalesce(col("lang"), lit("?quarantine")).as("lang"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("_bad")).as("n_corrupt"),
            min(md5(coalesce(col("text"), col("_bad")))).as("h_lo"))
        QueryCache.materializeLocal(agg)
      } finally {
        graft.util.Fs.rmTree(s, tmp)
      }
    }),

    // VARIANT semi-structured extraction (Spark 4's answer to ragged
    // JSON at scale): encode each doc's metadata as a JSON string, parse
    // it ONCE into the shredded binary VARIANT encoding, then typed path
    // extraction — variant_get('$.meta.len', 'bigint') — so downstream
    // access pays binary path hops, not repeated JSON string parsing. At
    // 100 TB the variant column persists in parquet and schema-on-read
    // survives ragged/heterogeneous payloads without a unioned struct
    // schema; the missing-path probe pins the null-not-error semantics
    // the ragged case relies on. The oracle computes the same aggregates
    // straight from the typed originals — the JSON encode → variant
    // parse → typed extract round trip must cancel exactly.
    "t20_variant_extract" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          parse_json(to_json(struct(col("lang"),
            struct(col("n_chars").as("len"),
              (col("doc_id") % 2 === 0).as("even")).as("meta")))).as("v"))
        .select(
          variant_get(col("v"), "$.lang", "string").as("lang"),
          variant_get(col("v"), "$.meta.len", "bigint").as("len"),
          variant_get(col("v"), "$.meta.even", "boolean").as("even"),
          try_variant_get(col("v"), "$.missing", "string").as("missing"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("len")).as("sum_len"),
          sum(when(col("even"), 1L).otherwise(0L)).as("n_even"),
          sum(when(col("missing").isNull, 1L).otherwise(0L))
            .as("n_missing_null"))
        .orderBy("lang")
    }),

    // ORC ingest round-trip (the third raw format Spark ships a native
    // vectorized reader for, common in Hive-lineage lakes): write the
    // corpus as lang-partitioned ORC — the partition column leaves the
    // data files and comes back from directory names, so the round trip
    // also certifies the Hive-layout encode/decode (escaping, type
    // restore) — read it back through one partition-discovering scan,
    // and checksum per lang. Explicit schema on read: at 100 TB even
    // the footer-only inference pass is worth skipping when a catalog
    // already knows the schema. The oracle reads the parquet originals;
    // any ORC write/read infidelity breaks the hash.
    "t18_orc_roundtrip" -> ((s, dir) => {
      val tmp = graft.util.Fs.mkStagingDir(s, "graft_orc_")
      try {
        Tables.documents(s, dir).select("doc_id", "text", "lang")
          .write.mode("overwrite").partitionBy("lang").orc(s"$tmp/docs")
        val back = s.read
          .schema("doc_id LONG, text STRING, lang STRING")
          .orc(s"$tmp/docs")
        val agg = back.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(octet_length(col("text"))).as("sum_bytes"),
            min(md5(col("text"))).as("h_lo"),
            max(md5(col("text"))).as("h_hi"))
        QueryCache.materializeLocal(agg)
      } finally {
        graft.util.Fs.rmTree(s, tmp)
      }
    }),

    // XML ingest round-trip (Spark 4's built-in XML source — the last
    // raw-dump format in the family after JSONL/CSV/ORC): write with an
    // explicit rowTag, read back with an explicit schema (inference is
    // the same extra full pass it is for JSON/CSV). Whitespace is the
    // XML-specific trap: the reader's ignoreSurroundingSpaces defaults
    // to TRUE (trimming element text on read — the univocity-trim story
    // from t16, other direction), so it is pinned off. Entity escaping
    // (&, <, >) must cancel out exactly; the gate's md5s catch any
    // escape/trim/null-coercion asymmetry because the oracle reads the
    // parquet truth, not the XML.
    "t27_xml_roundtrip" -> ((s, dir) => {
      val tmp = graft.util.Fs.mkStagingDir(s, "graft_xml_")
      try {
        Tables.documents(s, dir).select("doc_id", "lang", "text")
          .write.mode("overwrite")
          .option("rowTag", "doc")
          .format("xml").save(s"$tmp/docs")
        val back = s.read
          .schema("doc_id LONG, lang STRING, text STRING")
          .option("rowTag", "doc")
          .option("ignoreSurroundingSpaces", "false")
          .format("xml").load(s"$tmp/docs")
        val agg = back.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(octet_length(col("text"))).as("sum_bytes"),
            min(md5(col("text"))).as("h_lo"),
            max(md5(col("text"))).as("h_hi"))
        QueryCache.materializeLocal(agg)
      } finally {
        graft.util.Fs.rmTree(s, tmp)
      }
    }),

    // TRUE BPE tokenizer training — the iterative merge loop of Sennrich
    // et al. 2016 ("Neural Machine Translation of Rare Words with
    // Subword Units"), not t6's fixed pre-tokenizer: count adjacent
    // symbol-pair frequencies over the word-frequency table, merge the
    // argmax pair everywhere (greedy left-to-right, non-overlapping),
    // repeat. The emitted frame is the MERGE TABLE itself — (step, pair,
    // frequency) — i.e. the trained tokenizer, and the oracle replays
    // the entire k-round loop in one DuckDB recursive CTE (argmax via a
    // global window per iteration, the rewrite via the same fold), so
    // the gate certifies every round's argmax AND every rewrite, not
    // just the final vocabulary. Determinism: counts are integers, ties
    // break (count DESC, left, right) on binary string order — both
    // engines total-order identically.
    //
    // 100 TB shape: ONE corpus scan builds the word-frequency table
    // (vocab-sized — sublinear in corpus, the standard BPE working set);
    // the merge rounds then run ENTIRELY in driver memory over the
    // collected vocab with incremental pair counts (bpeTrainLocal —
    // a 32k-merge production run is 32k map updates, zero Spark jobs),
    // under the BpeVocabMaxRows P4 bound. Over-bound vocabularies fall
    // back to the distributed per-round loop: one vocab-bounded
    // pair-keyed shuffle + a 1-row argmax collect per round, each round
    // persisting its state and releasing the previous one (the PageRank
    // iteration discipline). k is a fixed training knob (real runs use
    // 30k-100k merges; the loop shape is identical).
    "t28_bpe_train" -> ((s, dir) => {
      import s.implicits._
      bpeMerges(s, dir).toDF("step", "merge_left", "merge_right", "pair_n")
    }),

    // BPE tokenizer APPLICATION — the other half of t28: segment the
    // corpus with the trained merges and emit the resulting subword
    // vocabulary with corpus frequencies (the table a data pipeline
    // ships to the trainer as "tokens/doc" truth, and the direct view
    // of what k merge rounds bought: which subwords exist and how much
    // of the corpus they cover). The segmentation IS t28's final state
    // — training and application share one loop (bpeTrainLoop), so the
    // two gated queries can never disagree on the merge semantics; the
    // oracle composes the same recursive CTE and reads the iter=k
    // state, certifying the APPLIED segmentation end-to-end, not just
    // the merge table. Same scale shape as t28 plus one vocab-sized
    // explode + hash agg.
    "t30_bpe_apply" -> ((s, dir) => {
      // application does NOT re-run the training loop: the memoized
      // merge table (the model artifact) applies in ONE pass over the
      // vocab-sized word table — the way a real tokenizer applies
      // merges. The k rewrites run as a single closure fold (a k-deep
      // chain of nested aggregate() HOF expressions was tried first and
      // measured 14 s at sf0.1 on a 40-row vocab — Catalyst's
      // nested-lambda analysis cost, not data; the UDF costs nothing on
      // a HOF-interpreted path that was never codegen anyway). Applying
      // merges in training order reproduces the loop's final state
      // exactly, so the oracle — which replays the loop — still
      // matches.
      val applyAll = bpeApplyAllUdf(s, dir)
      bpeInitState(s, dir)
        .select(explode(applyAll(col("syms"))).as("token"), col("n"))
        .groupBy("token").agg(sum("n").as("n_occ"))
    }),

    // Per-language tokenizer FERTILITY — subword tokens per character
    // under t28's trained merges, rolled up by language: the tokenizer-
    // equity metric (a BPE trained on a skewed mix segments under-
    // represented languages into more, shorter pieces — more tokens per
    // character — which costs those languages context window and
    // compute; measuring it per release is how pipelines catch the
    // skew). One shared trained-merge application with t30 (a single
    // UDF definition), the distinct-word table segmented ONCE and
    // joined back to per-(lang, word) counts, so the corpus-sized work
    // is two token-keyed hash aggs — the segmentation cost is
    // vocab-sized, never corpus-sized. All emissions BIGINT +
    // integer-permille, so the gate is arithmetic-exact.
    "t32_tokenizer_fertility" -> ((s, dir) => {
      val applyAll = bpeApplyAllUdf(s, dir)
      // persisted: feeds both the distinct-word segmentation and the
      // rollup join — without the barrier the corpus explode + agg
      // subtree runs twice
      val lw = Tables.documents(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("lang", "w").agg(count(lit(1)).as("n"))
        .persist()
      val words = lw.select("w").distinct()
        .select(col("w"),
          size(applyAll(concat(split(col("w"), ""), array(lit("</w>")))))
            .cast("long").as("n_sub"),
          length(col("w")).cast("long").as("n_chars_w"))
      QueryCache.resultThenRelease(
        lw.join(words, "w")
          .groupBy("lang")
          .agg(sum(col("n") * col("n_sub")).as("sum_subwords"),
            sum(col("n") * col("n_chars_w")).as("sum_chars"))
          .select(col("lang"), col("sum_subwords"), col("sum_chars"),
            expr("(1000 * sum_subwords) DIV sum_chars")
              .as("fertility_permille")),
        lw)
    }),

    // Learned quality-classifier inference — the fastText/CCNet-style
    // linear model over hashed bag-of-token features (Joulin et al.
    // 2016; the learned-filter leg Dolma/CCNet run beside rule-based
    // scoring), completing the quality family next to t2's rules, t15's
    // Gopher repetition, t23's perplexity and t24's blocklist. The
    // scoring is the [[graft.functions.TextFunctions.linearTextScore]]
    // codegen Expression — tokenize [A-Za-z]+ / lowercase / rolling
    // 31-poly hash mod 2²⁰ mod |w| / mean of bucket weights, all in one
    // byte-level loop IN-ROW at the scan (also registered as SQL
    // `graft_text_score`). The weight vector is a broadcast plan
    // literal; here it is a deterministic integer-formula stand-in
    // (training is a separate concern — any w plugs in), chosen DYADIC
    // (k/1024) so every term and sum is an exact double and the DuckDB
    // replay — which recomputes the same hashed features and weights
    // from the same integer formula — hash-matches bit for bit.
    // 100 TB: pure map over the corpus scan, no shuffle, no state.
    "t29_quality_score" -> ((s, dir) => {
      val w = typedlit(qualityWeightsFor(s))
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.TextFunctions.asciiTokenCount(col("text"))
            .as("n_feat_tokens"),
          graft.functions.TextFunctions.linearTextScore(col("text"), w)
            .as("quality_score"))
        .withColumn("keep", col("quality_score") > 0.0)
    }),

    // Schema-evolution read (the lakehouse drift case: a 100 TB table
    // written over months accretes columns): two parquet generations —
    // v1 without n_chars, v2 with it — read through ONE scan with
    // mergeSchema, old files surfacing null for the added column. The
    // per-lang accounting distinguishes physical-null (schema gap) from
    // value rows. mergeSchema costs a footer pass over file schemas (not
    // data) at planning; at scale you pin the merged schema in a catalog
    // instead and get the same null-fill semantics for free.
    "t17_schema_evolution" -> ((s, dir) => {
      val tmp = graft.util.Fs.mkStagingDir(s, "graft_evo_")
      try {
        val docs = Tables.documents(s, dir)
        docs.select("doc_id", "lang")
          .write.mode("overwrite").parquet(s"$tmp/gen=1")
        docs.select("doc_id", "lang", "n_chars")
          .write.mode("overwrite").parquet(s"$tmp/gen=2")
        val merged = s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/gen=1", s"$tmp/gen=2")
        val agg = merged.groupBy("lang")
          .agg(count(lit(1)).as("n_rows"),
            count(col("n_chars")).as("n_with_chars"),
            sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
        QueryCache.materializeLocal(agg)
      } finally {
        graft.util.Fs.rmTree(s, tmp)
      }
    }),

    // Inverted-index construction (the retrieval-side index build): per
    // term, document frequency + the posting list head (sorted doc_ids).
    // One explode → distinct (term, doc_id) — partial-agg'd before the
    // shuffle, so duplicate in-doc occurrences never travel — then a hash
    // aggregate per term. At scale the full postings are written
    // partitioned by term hash with the same plan (delta-encoding is a
    // sink concern); the gate emission caps each list at 100 ids and
    // joins them to a CSV string because the driver hash compares scalar
    // cells. collect_list order is partition-dependent — sort_array
    // makes the emission deterministic BEFORE the cap slices it.
    "t13_inverted_index" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .filter(col("term").isin(IndexTerms: _*))
        .distinct()
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          concat_ws(",", transform(
            slice(sort_array(collect_list(col("doc_id"))), 1, 100),
            x => x.cast("string"))).as("postings_head"))
    }),

    // Bigram-LM perplexity scoring (the CCNet quality step — Wenzek et
    // al. 2020: score every document against an n-gram LM, filter the
    // high-perplexity tail): the corpus's own bigram model (t9's
    // counting shape) scores each document by its mean log2 Laplace
    // probability (c12+1)/(c1+V). Plan at 100 TB: the bigram frame is
    // derived TWICE (count pass + score pass) rather than persisted —
    // a 100 TB corpus's bigram explosion must never be cached; both
    // count tables are token-keyed partial+final hash aggs (duplicate
    // occurrences combine map-side), the scoring joins are token-keyed
    // equi-joins (hot-token skew is exactly AQE skew-join's case — see
    // PLANS.md's q25 section), V rides in as a one-row broadcast, and
    // the final per-doc mean is one doc_id-keyed agg. n_bigrams is
    // BIGINT-exact; avg_logp2 is the same IEEE log2 terms summed in
    // engine-specific order (t21's documented float-tolerance ride).
    "t23_lm_perplexity" -> ((s, dir) => {
      // spread: three explode passes (bigrams ×2 via `big`, unigrams)
      // otherwise each tokenize the corpus on the scan's one core
      val toks = Tables.spread(Tables.documents(s, dir))
        .select(col("doc_id"), tokens(col("text")).as("t"))
      def big = toks.select(col("doc_id"),
          explode(zip_with(
            slice(col("t"), lit(1), size(col("t")) - 1),
            slice(col("t"), lit(2), size(col("t")) - 1),
            (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val uni = toks.select(explode(col("t")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val vocab = uni.agg(count(lit(1)).as("v"))
      big
        .join(big.groupBy("w1", "w2").agg(count(lit(1)).as("c12")),
          Seq("w1", "w2"))
        .join(uni, col("w1") === col("w"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          avg(log2((col("c12") + 1).cast("double") / (col("c1") + col("v"))))
            .as("avg_logp2"))
    }),

    // Blocklist tagging — the Dolma/C4-style content-filter tagger: every
    // doc annotated with WHICH blocklisted terms it contains (distinct,
    // sorted — the audit trail a filtering decision needs, not just a
    // boolean) plus the keep verdict. The whole-word alternation compiles
    // into ONE codegen'd regex evaluated in-row at the scan — no explode,
    // no join, no shuffle; text dies at the scan and only (doc_id, hits,
    // verdict) survives. At a production blocklist size (10⁴-10⁶ terms) a
    // single alternation stops scaling — the swap-in is an Aho-Corasick
    // automaton broadcast once and run per-partition (mm1's compiled-
    // kernel pattern); the plan shape (single scan, row-local tagging) is
    // identical, which is what this query pins.
    "t24_blocklist_filter" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_sort(array_distinct(
            regexp_extract_all(lower(col("text")), lit(BlocklistPattern),
              lit(1)))).as("h"))
        // comma-joined, not an array cell: the hash gate sorts result
        // columns, and array cells don't sort (t13's postings precedent)
        .select(col("doc_id"), array_join(col("h"), ",").as("hits"),
          size(col("h")).cast("long").as("n_hits"),
          (size(col("h")) === 0).as("keep"))
    }),

    // Blocklist tagging at PRODUCTION dictionary size — t24's semantics
    // (lowercase, \b-bounded, distinct sorted hits, keep verdict) with
    // the matcher t24's 100 TB note prescribes: an Aho-Corasick
    // automaton ([[graft.functions.AhoCorasick]]) over a 200-term
    // dictionary (words + multi-word phrases + filler terms), built once
    // on the driver and BROADCAST — matching is O(|text| + hits) per row
    // regardless of dictionary size, where the regex alternation grows
    // with every term. Still one scan, no shuffle before the emission
    // projection; text dies at the scan. The oracle replays every term
    // as an independent \b-regex existence test and re-aggregates —
    // engine-independent semantics, so the gate certifies the automaton
    // against the regex definition at corpus scale (AhoCorasickSpec
    // pins it property-style on adversarial overlaps).
    "t31_blocklist_automaton" -> ((s, dir) => {
      val ac = s.sparkContext.broadcast(
        new graft.functions.AhoCorasick(BigBlocklist))
      val hitsUdf = udf((t: String) => ac.value.matchedPatterns(t).sorted)
      Tables.documents(s, dir)
        .select(col("doc_id"), hitsUdf(lower(col("text"))).as("h"))
        .select(col("doc_id"), array_join(col("h"), ",").as("hits"),
          size(col("h")).cast("long").as("n_hits"),
          (size(col("h")) === 0).as("keep"))
    }),

    // PII detection + masking (the Dolma/BigScience-ROOTS pre-release
    // redaction stage: emails, phone numbers, IP addresses replaced by
    // typed mask tokens before a corpus ships). The driver corpus is
    // PII-free by construction, so — t19's constructed-fixture pattern —
    // the query first builds its dirty corpus DETERMINISTICALLY from
    // doc_id arithmetic (both engines construct the identical strings),
    // then runs the real redactor over it: three Java/RE2-common-subset
    // regexes applied in a fixed order (email → phone → IP), each class
    // counted at the stage where its replace runs so an earlier mask can
    // never hide or fabricate a later match. Plan shape: everything up
    // to the per-lang roll-up is in-row at the scan (codegen
    // regexp_replace/regexp_count — no UDF, no explode, no shuffle);
    // text dies at the scan, the agg carries 7 columns × |langs| rows.
    // At 100 TB this IS the production plan — redaction cost is one
    // linear pass, and the md5 extrema under the hash gate certify the
    // redacted BYTES, not just the counts.
    "t33_pii_redact" -> ((s, dir) => {
      val dirty = Tables.documents(s, dir).select(col("doc_id"),
        col("lang"),
        concat(
          col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
            col("doc_id").cast("string"), lit("@mail"),
            (col("doc_id") % 7).cast("string"), lit(".example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 1, concat(lit(" call 555-"),
            (col("doc_id") % 900 + 100).cast("string"), lit("-"),
            (col("doc_id") % 9000 + 1000).cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 2, concat(lit(" from 10."),
            (col("doc_id") % 251).cast("string"), lit("."),
            (col("doc_id") % 200).cast("string"), lit("."),
            (col("doc_id") % 97).cast("string")))
            .otherwise(lit("")))
          .as("dirty"))
      val st = dirty
        .withColumn("n_email",
          regexp_count(col("dirty"), lit(PiiEmailRe)).cast("long"))
        .withColumn("e1",
          regexp_replace(col("dirty"), PiiEmailRe, "<EMAIL>"))
        .withColumn("n_phone",
          regexp_count(col("e1"), lit(PiiPhoneRe)).cast("long"))
        .withColumn("e2", regexp_replace(col("e1"), PiiPhoneRe, "<PHONE>"))
        .withColumn("n_ip",
          regexp_count(col("e2"), lit(PiiIpRe)).cast("long"))
        .withColumn("red", regexp_replace(col("e2"), PiiIpRe, "<IP>"))
      st.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_email").as("n_email"),
          sum("n_phone").as("n_phone"),
          sum("n_ip").as("n_ip"),
          sum(when(col("n_email") + col("n_phone") + col("n_ip") === 0, 1L)
            .otherwise(0L)).as("n_clean"),
          min(md5(col("red"))).as("h_lo"),
          max(md5(col("red"))).as("h_hi"))
    })
  )

  /** t33's PII patterns — deliberately in the Java-regex/RE2 common
    * subset (ASCII classes, `\b`, `\d`, bounded repetition) so Spark and
    * DuckDB match byte-identically. Applied in declaration order; each
    * class is counted at the stage where its replace runs.
    */
  private[graft] val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private[graft] val PiiIpRe =
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** p15/p16's shared manifest build over an arbitrary document slice:
    * p5's md5-derived 8-way shard key, per-shard doc/token/lang counts
    * and the order-free 60-bit bit_xor content signature. ONE definition
    * so a release and its diff can never disagree on what a manifest is.
    */
  private def shardManifest(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"),
        tokenCount(col("text")).cast("long").as("tok"))
      .withColumn("shard", expr(
        "CAST((instr('0123456789abcdef', substring(h, 1, 1)) - 1) DIV 2" +
          " AS BIGINT)"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        countDistinct("lang").as("n_langs"),
        expr("bit_xor(CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT))")
          .as("content_sig"))

  /** Word-trigram stream of a frame carrying a `t` token-array column:
    * one row per trigram (`gram`), `keep` columns carried through,
    * sub-3-token docs dropped. t25, t26 and StreamingSpec's sketch twin
    * all build grams HERE — one definition to keep in lockstep with the
    * oracles' gram CTEs (the same single-source rule as mm5/mm7's
    * phashScoredPairs).
    */
  private[graft] def trigrams(withToks: DataFrame,
      keep: Seq[String] = Nil): DataFrame =
    withToks.filter(size(col("t")) >= 3)
      .select(keep.map(col) ++ Seq(
        explode(sequence(lit(0), size(col("t")) - 3)).as("i"), col("t")): _*)
      .select(keep.map(col) :+
        concat_ws(" ", slice(col("t"), col("i") + 1, lit(3))).as("gram"): _*)

  /** 4-hex-digit md5 prefix of a (salted) key — the membership/split
    * primitive every sampling stage shares. A non-empty `salt` makes the
    * resulting hash independent of any other stage's hash of the same
    * key (p8's mixture-vs-split correlation rule).
    */
  /** p8's quality + Gopher-repetition stages over a (doc_id, lang,
    * text) frame: enrich with n_tokens/quality, keep quality ≥ 0.5,
    * then drop repetition failures (top-word multiplicity and
    * type-token ratio). Per-doc computation only — safe to run on a
    * single micro-batch (IngestPipeline does exactly that).
    */
  /** p8's quality stage alone (enrich + threshold) — factored out so
    * p20's attrition accounting counts the stage boundary p8 actually
    * runs (one definition, the stage-helper rule).
    */
  private[graft] def qualityDocs(docs0: DataFrame): DataFrame =
    docs0
      .select(col("doc_id"), col("lang"), col("text"),
        tokenCount(col("text")).as("n_tokens"),
        qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= 0.5)

  private[graft] def repCleanDocs(docs0: DataFrame): DataFrame = {
    val q = qualityDocs(docs0)
    val repKeep = q
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").cast("long").as("n_words"),
        count(lit(1)).as("n_distinct"), max("c").as("top_word_n"))
      .filter(col("top_word_n") * 5 < col("n_words") &&
        col("n_distinct") * 10 > col("n_words") * 3)
      .select("doc_id")
    q.join(repKeep, "doc_id")
  }

  /** p8's exact-dedup stage: one surviving (min-doc_id) metadata row
    * per distinct text, keyed by md5 (`tk` rides along so an
    * incremental caller can screen future batches against it).
    */
  private[graft] def exactDedupMeta(clean: DataFrame): DataFrame =
    clean.groupBy(md5(col("text")).as("tk"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_tokens"))).as("d"))
      .select(col("tk"), col("d.doc_id").as("doc_id"),
        col("d.lang").as("lang"), col("d.n_tokens").as("n_tokens"))

  /** p8's temperature-mixture stage against a (lang, n_lang) stats
    * frame — in batch the stats come from the deduped corpus itself;
    * the streaming twin passes a REFERENCE stats frame (previous
    * release / rolling estimate), which is the only honest option when
    * the final corpus totals are unknowable mid-stream.
    */
  private[graft] def mixtureSurvivors(deduped: DataFrame,
      stats: DataFrame): DataFrame =
    deduped.join(broadcast(stats), "lang")
      .withColumn("thr_i", mixtureThreshold(col("n_lang")))
      .filter(col("thr_i") >= 65536 ||
        hexPrefix(col("doc_id"), "mix:") <
          format_string("%04x", col("thr_i")))

  /** p8's final split accounting: deterministic split assignment +
    * per-(split, lang) doc/token totals. Output is bounded by
    * |splits|·|langs| whatever the corpus size, and the counts are
    * pure sums — they accumulate across micro-batches by addition.
    */
  private[graft] def splitAccounting(mixed: DataFrame): DataFrame =
    mixed
      .withColumn("h", hexPrefix(col("doc_id"), "split:"))
      .withColumn("split", splitOf(col("h")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))

  private def hexPrefix(key: Column, salt: String = ""): Column = {
    val k = if (salt.isEmpty) key.cast("string")
      else concat(lit(salt), key.cast("string"))
    substring(md5(k), 1, 4)
  }

  /** p7/p8's temperature threshold: floor(65536·K/√N) with K = 4, the
    * one derivation (√ is IEEE-exact; see p7's comment) — change the
    * constant HERE and both gated queries move together.
    */
  private def mixtureThreshold(nCol: Column): Column =
    floor(least(lit(65536.0),
      lit(262144.0) / sqrt(nCol.cast("double")))).cast("int")

  /** t7/p1/p8's split rule from a 4-hex-digit prefix: ~10% test
    * (< 0x1999), ~10% validation (< 0x3333), rest train. */
  private def splitOf(h: Column): Column =
    when(h < "1999", "test")
      .when(h < "3333", "validation")
      .otherwise("train")

  /** Stand-in scrub pattern (see t8): \b-anchored alternation, identical
    * semantics in Java regex and DuckDB's RE2.
    */
  private val ScrubPattern = "\\b(the|a|of|and|in|to|is)\\b"

  /** t24's stand-in blocklist: whole-word alternation over corpus-present
    * terms (so hit/miss/multi-hit docs all occur), Java-regex and RE2
    * compatible — no lookaround, no backrefs — so the DuckDB replay runs
    * the IDENTICAL pattern.
    */
  private val BlocklistPattern = "\\b(dup|slow|error|corrupt)\\b"

  /** t31's production-size dictionary: corpus words, two-word phrases
    * (the automaton matches across spaces — a regex alternation's \b
    * semantics preserved), and deterministic filler terms that will
    * never match — the dictionary SIZE is the point (the automaton's
    * cost is independent of it). Shared verbatim with the oracle SQL,
    * which replays each term as its own \b-regex existence test.
    */
  private[graft] val BigBlocklist: Seq[String] = {
    val words = Seq("dup", "slow", "scan", "merge", "batch", "vector",
      "customer", "window", "stream", "filter", "query", "hash")
    val phrases = Seq("key order", "data group", "slow query", "hash join",
      "table scan", "fast key", "merge part", "big data", "row value",
      "sort merge")
    val filler = (0 until 178).map(i => f"blockterm$i%03d")
    val all = words ++ phrases ++ filler
    // t31's oracle splices these terms RAW into single-quoted SQL VALUES
    // and into a '\b'||term||'\b' regex; the automaton matches them as
    // literals. A quote would break the oracle SQL, a regex
    // metacharacter would silently diverge regex-oracle from automaton —
    // so pin the alphabet the equivalence assumes instead of escaping in
    // three dialects
    all.foreach(t => require(t.matches("[a-z0-9 ]+"),
      s"blocklist term '$t' outside [a-z0-9 ] — the oracle splices terms " +
        "unescaped into SQL/regex; extend the escaping before widening " +
        "the alphabet"))
    all
  }

  /** t10's fixed retrieval query (terms present across the corpus with
    * differing document frequencies, so idf actually discriminates).
    */
  private val Bm25QueryTerms = Seq("spark", "join", "stream")

  /** The ONE BM25 scoring pipeline, shared by t10 and s15's sparse arm:
    * corpus stats + per-(doc, term) tf + df → rational-idf tscore →
    * per-doc sum, over a prepared `(doc_id, toks, len)` frame. Callers
    * supply `restrict`, which narrows the exploded (doc_id, len, term)
    * frame to query terms (t10: literal isin, scan-pushable; s15:
    * broadcast join of a derived term frame + doc exclusion). Corpus
    * stats are computed over ALL of `docs` — restriction applies to
    * candidate scoring only, like any real index. Rational idf
    * `(N − df + ½)/(df + ½) + 1`, k1 = 1.2, b = 0.75 — see t10's
    * Scaladoc for why no log. A constants/formula change here reaches
    * BOTH gated queries; there is deliberately no second copy to drift
    * ([[bm25SqlCtes]] is the oracle-side single copy).
    */
  private[queries] def bm25Scores(docs: DataFrame,
      restrict: DataFrame => DataFrame): DataFrame = {
    val stats = docs.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("len").as("avg_len"))
    val tf = restrict(docs.select(col("doc_id"), col("len"),
        explode(col("toks")).as("term")))
      .groupBy("doc_id", "len", "term")
      .agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0)
    val denom = col("tf") + lit(1.2) *
      (lit(0.25) + lit(0.75) * (col("len") / col("avg_len")))
    tf.join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("tscore", idf * (col("tf") * lit(2.2)) / denom)
      .groupBy("doc_id")
      .agg(sum("tscore").as("bm25"))
  }

  /** Oracle-side twin of [[bm25Scores]]: the CTE chain
    * `dl → stats → tf → dfq → scored → bm(doc_id, bm25)`, assuming a
    * preceding `d(doc_id, toks)` CTE. `docPred` filters the rows whose
    * tokens are candidates (stats still see ALL docs); `termRestrict`
    * is spliced after the unnest subquery (`WHERE term IN (...)` or
    * `JOIN qt USING (term)`).
    */
  private[queries] def bm25SqlCtes(docPred: String,
      termRestrict: String): String =
    s"""dl AS (SELECT doc_id, len(toks) AS len, toks FROM d),
       |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(len) AS avg_len
       |          FROM dl),
       |tf AS (SELECT doc_id, len, term, count(*) AS tf
       |       FROM (SELECT doc_id, len, unnest(toks) AS term FROM dl
       |             WHERE $docPred) u $termRestrict
       |       GROUP BY 1, 2, 3),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT t.doc_id,
       |    ((((s.n_docs - f.df) + 0.5) / (f.df + 0.5)) + 1.0)
       |      * (t.tf * 2.2)
       |      / (t.tf + 1.2 * (0.25 + 0.75 * (t.len / s.avg_len))) AS tscore
       |  FROM tf t JOIN dfq f USING (term), stats s),
       |bm AS (SELECT doc_id, sum(tscore) AS bm25 FROM scored GROUP BY 1)""".stripMargin

  /** t13's indexed vocabulary slice (mid-frequency corpus terms — enough
    * postings to exercise the sort/cap, bounded output).
    */
  private val IndexTerms =
    Seq("spark", "join", "stream", "vector", "window", "sort", "query",
      "merge")

  private val langCase: String = {
    val scores = LangProfiles.map { case (l, ws) =>
      l -> s"len(list_filter(string_split(text,' '), t -> list_contains(${ws.mkString("['", "','", "']")}, t)))"
    }
    val maxExpr = s"greatest(${scores.map(_._2).mkString(", ")})"
    val whens = scores.map { case (l, e) => s"WHEN $e = $maxExpr THEN '$l'" }
    s"CASE WHEN $maxExpr = 0 THEN 'und' ${whens.mkString(" ")} END"
  }

  private val stopList = EnglishStopwords.mkString("['", "','", "']")

  /** p8's full stage chain as one DuckDB CTE prefix (quality f →
    * repetition rep → train slice tr → decontaminated clean → exact
    * dedup ded → mixture keptm → split sp). p8's accounting oracle and
    * p20's attrition oracle both compose from THIS string, so the two
    * gates cannot disagree on any stage's arithmetic.
    */
  private lazy val P8Cte: String =
    s"""WITH q AS (
       |  SELECT doc_id, lang, text,
       |    len(string_split(text,' ')) AS n_tokens,
       |    len(list_filter(string_split(text,' '),
       |        t -> list_contains($stopList, t)))::DOUBLE
       |      / len(string_split(text,' ')) AS stopword_ratio,
       |    len(list_distinct(string_split(text,' ')))::DOUBLE
       |      / len(string_split(text,' ')) AS ttr
       |  FROM documents),
       |f AS (SELECT doc_id, lang, text, n_tokens FROM q
       |      WHERE (least(stopword_ratio * 10.0, 1.0)
       |             + least(n_tokens / 100.0, 1.0) + ttr) / 3.0 >= 0.5),
       |wc AS (SELECT doc_id, w, count(*) AS c
       |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
       |             FROM f) GROUP BY 1, 2),
       |reps AS (SELECT doc_id FROM (
       |    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
       |           count(*) AS n_distinct, max(c) AS top_word_n
       |    FROM wc GROUP BY 1)
       |  WHERE top_word_n * 5 < n_words AND n_distinct * 10 > n_words * 3),
       |rep AS (SELECT f.* FROM f JOIN reps USING (doc_id)),
       |tr AS (SELECT * FROM rep WHERE doc_id % 97 <> 0),
       |shd AS (SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
       |                             for i in range(1, len(toks) - 1)])
       |    END AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |evp AS (SELECT doc_id AS eval_id, unnest(sh) AS shingle
       |        FROM shd WHERE doc_id % 97 = 0),
       |trp AS (SELECT s.doc_id AS train_id, unnest(s.sh) AS shingle
       |        FROM shd s JOIN tr ON s.doc_id = tr.doc_id),
       |cont AS (SELECT DISTINCT train_id AS doc_id FROM (
       |    SELECT train_id, eval_id, count(*) AS n
       |    FROM trp JOIN evp USING (shingle)
       |    GROUP BY 1, 2 HAVING count(*) >= 3)),
       |clean AS (SELECT tr.* FROM tr ANTI JOIN cont USING (doc_id)),
       |surv AS (SELECT min(doc_id) AS doc_id FROM clean GROUP BY md5(text)),
       |ded AS (SELECT c.doc_id, c.lang, c.n_tokens
       |        FROM clean c JOIN surv USING (doc_id)),
       |st AS (SELECT lang, count(*) AS n_lang FROM ded GROUP BY 1),
       |mix AS (SELECT ded.*, CAST(floor(least(65536.0,
       |          262144.0 / sqrt(CAST(st.n_lang AS DOUBLE))))
       |          AS INTEGER) AS thr_i
       |        FROM ded JOIN st USING (lang)),
       |keptm AS (SELECT * FROM mix WHERE thr_i >= 65536
       |          OR substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
       |               < printf('%04x', thr_i)),
       |sp AS (SELECT lang, n_tokens,
       |         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)),
       |                1, 4) < '1999' THEN 'test'
       |              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)),
       |                1, 4) < '3333' THEN 'validation'
       |              ELSE 'train' END AS split
       |       FROM keptm)""".stripMargin

  /** t28/t30's merge-round budget — a fixed training knob (real runs
    * use 30k-100k; the loop shape is identical).
    */
  private[graft] val BpeRounds = 12

  /** Driver-tier bound for the in-memory merge loop: the word-frequency
    * table is VOCAB-sized (one row per distinct whitespace token), and
    * natural-language vocabularies saturate in the low millions even at
    * web scale (Heaps' law) — 2M rows of (freq, char-split syms) is a
    * few hundred MB on an 8g driver, the same P4 tier the memo-pair and
    * axis-extraction paths already use. Over-bound corpora fall back to
    * the distributed per-round loop below.
    */
  private[graft] val BpeVocabMaxRows = 2000000L

  /** The shared BPE training loop (Sennrich et al. 2016): word-frequency
    * table → k rounds of (weighted pair count → argmax merge → greedy
    * left-to-right rewrite). One definition serves both gated queries:
    * t28 emits the merges, t30 replays them over the word table.
    *
    * Tiered like the interpolator (SURVEY §2.8): the corpus-sized work
    * is exactly ONE pass (the word-frequency aggregation, map-side
    * combined and vocab-bounded on the shuffle); when the resulting
    * vocab fits [[BpeVocabMaxRows]] it is collected ONCE and the k
    * merge rounds run in driver memory with incremental pair counts —
    * a 32k-merge production tokenizer is then 32k map updates, not 32k
    * Spark jobs with a 1-row argmax collect each (the r12 verdict's
    * named scale-killer). The in-memory loop reproduces the distributed
    * rounds' semantics exactly: same weighted pair counts, same
    * `(cnt desc, l, r)` argmax with strings in UTF-8 BINARY order
    * (Spark's string ordering — [[utf8Compare]], not String.compareTo,
    * whose UTF-16 code-unit order disagrees above the BMP), same greedy
    * left-to-right rewrite. Over-bound vocabularies keep the
    * distributed loop: per round one vocab-bounded pair shuffle + a
    * 1-row argmax collect (P4 driver tier), each round persisting its
    * state and releasing the previous one (the PageRank discipline).
    */
  private[graft] def bpeTrainLoop(s: SparkSession, dir: String, k: Int,
      maxVocabRows: Long = BpeVocabMaxRows)
      : Seq[(Long, String, String, Long)] = {
    var state = bpeInitState(s, dir).persist()
    val vocabN = state.count()
    if (vocabN <= maxVocabRows) {
      // row order cannot move the result: pair counts are full-vocab
      // sums and the argmax tie-break is a total order
      val words = state.select(col("n"), col("syms")).collect()
        .map(r => (r.getLong(0), r.getSeq[String](1).toArray))
      state.unpersist(blocking = false)
      return bpeTrainLocal(words, k)
    }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var step = 1
    var dry = false
    while (step <= k && !dry) {
      // adjacent pairs, weighted by word frequency; words collapsed
      // to a single symbol generate none and simply sit out the round
      val best = state
        .select(col("n"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) dry = true
      else {
        val (bl, br, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step.toLong, bl, br, cnt))
        // greedy left-to-right rewrite: fold the symbol list, merging
        // an occurrence only when the PREVIOUS emitted symbol is an
        // unconsumed `bl` — "aaa" under (a,a) becomes [aa, a], never
        // [aa, aa]. The merged token bl||br can never alias bl (br is
        // non-empty), so a fresh merge is never re-consumed.
        val next = state
          .select(col("n"), applyMerge(col("syms"), bl, br).as("syms"))
          .persist()
        next.count()
        state.unpersist(blocking = false)
        state = next
        step += 1
      }
    }
    state.unpersist(blocking = false)
    merges.toSeq
  }

  /** Spark's string ordering, reproduced on the driver: UTF8String
    * compares UNSIGNED UTF-8 bytes, which is code-point order — Java's
    * String.compareTo (UTF-16 code units) disagrees for [U+E000,
    * U+FFFF] vs supplementary characters, so the argmax tie-break must
    * compare encoded bytes to match the distributed `orderBy(l, r)`.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** One greedy left-to-right merge rewrite in driver memory —
    * [[applyMerge]]'s fold verbatim: merge only when the PREVIOUS
    * emitted symbol is an unconsumed `bl`. Returns the input array
    * REFERENCE when nothing merged, so callers can skip the count
    * delta for untouched words.
    */
  private def mergeWordLocal(syms: Array[String], bl: String, br: String)
      : Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var changed = false
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (out.nonEmpty && out.last == bl && x == br) {
        out(out.length - 1) = bl + br
        changed = true
      } else out += x
      i += 1
    }
    if (changed) out.toArray else syms
  }

  /** The in-memory merge loop over the collected word table, with
    * INCREMENTAL pair maintenance (Sennrich's reference implementation's
    * own structure): a pair-count map plus a pair→word-ids index, so a
    * merge round touches only the words that actually contain the
    * winning pair — O(Σ|affected word|) per round, not a full vocab
    * rescan. Counts stay exact longs; the index may hold stale ids
    * (words rewritten since registration), which the rewrite pass
    * no-ops on and drops.
    */
  private[graft] def bpeTrainLocal(
      words0: Array[(Long, Array[String])], k: Int)
      : Seq[(Long, String, String, Long)] = {
    val freq = words0.map(_._1)
    val words = words0.map(_._2)
    val counts = new java.util.HashMap[(String, String), Long]()
    val where =
      new java.util.HashMap[(String, String), java.util.HashSet[Int]]()
    def delta(wid: Int, syms: Array[String], sign: Long): Unit = {
      val f = freq(wid) * sign
      var i = 0
      while (i < syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        val c = counts.getOrDefault(p, 0L) + f
        if (c == 0L) counts.remove(p) else counts.put(p, c)
        if (sign > 0) {
          var set = where.get(p)
          if (set == null) {
            set = new java.util.HashSet[Int]()
            where.put(p, set)
          }
          set.add(wid)
        }
        i += 1
      }
    }
    var wid = 0
    while (wid < words.length) { delta(wid, words(wid), 1L); wid += 1 }
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var step = 1
    var dry = false
    while (step <= k && !dry) {
      // argmax with the distributed loop's exact tie-break:
      // (cnt desc, l asc, r asc), strings in UTF-8 binary order
      var bl: String = null
      var br: String = null
      var bc = 0L
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        if (c > 0L) {
          val (l, r) = e.getKey
          val better =
            if (bl == null) true
            else if (c != bc) c > bc
            else {
              val cl = utf8Compare(l, bl)
              if (cl != 0) cl < 0 else utf8Compare(r, br) < 0
            }
          if (better) { bl = l; br = r; bc = c }
        }
      }
      if (bl == null) dry = true
      else {
        merges += ((step.toLong, bl, br, bc))
        val wids = where.remove((bl, br))
        if (wids != null) {
          val wit = wids.iterator()
          while (wit.hasNext) {
            val w = wit.next()
            val old = words(w)
            val neu = mergeWordLocal(old, bl, br)
            if (neu ne old) { // stale index entry otherwise: no-op
              delta(w, old, -1L)
              words(w) = neu
              delta(w, neu, 1L)
            }
          }
        }
        // the rewrite pass must have decremented every (bl,br)
        // occurrence to zero (delta removes zero entries) — a residual
        // means a greedy-rewrite bug that would silently diverge the
        // driver tier from the distributed loop, so fail loudly instead
        // of erasing it (absent key unboxes to 0L)
        val residual = counts.remove((bl, br))
        require(residual == 0L,
          s"BPE rewrite left residual count $residual for merged pair " +
            s"($bl,$br) at step $step — driver tier diverged")
        step += 1
      }
    }
    merges.toSeq
  }

  /** The trained-merge application fold as a UDF — ONE definition for
    * t30 (subword vocab) and t32 (per-language fertility), so apply
    * semantics cannot drift between them. The k rewrites run as a
    * single closure fold (a k-deep chain of nested aggregate() HOF
    * expressions was tried first and measured 14 s at sf0.1 on a
    * 40-row vocab — Catalyst's nested-lambda analysis cost, not data;
    * the UDF costs nothing on a HOF-interpreted path that was never
    * codegen anyway). Applying merges in training order reproduces the
    * loop's final state exactly, so the oracle — which replays the
    * loop — still matches.
    */
  private def bpeApplyAllUdf(s: SparkSession, dir: String)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val ms = bpeMerges(s, dir).map { case (_, bl, br, _) => (bl, br) }
    udf((syms: Seq[String]) =>
      ms.foldLeft(syms) { case (cur, (bl, br)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        cur.foreach { x =>
          if (out.nonEmpty && out.last == bl && x == br)
            out(out.length - 1) = bl + br
          else out += x
        }
        out.toSeq
      })
  }

  /** The round-0 BPE state: word frequencies with each word split to
    * characters + the `</w>` end-of-word marker (merges may not cross
    * word boundaries; word-final units stay distinct from in-word ones,
    * "er" vs "er</w>").
    */
  private def bpeInitState(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .select(col("n"),
        concat(split(col("w"), ""), array(lit("</w>"))).as("syms"))

  /** One greedy left-to-right merge rewrite: fold the symbol list,
    * merging an occurrence only when the PREVIOUS emitted symbol is an
    * unconsumed `bl` — "aaa" under (a,a) becomes [aa, a], never
    * [aa, aa]. The merged token bl||br can never alias bl (br is
    * non-empty), so a fresh merge is never re-consumed.
    */
  private def applyMerge(syms: Column, bl: String, br: String): Column =
    aggregate(
      syms,
      typedlit(Seq.empty[String]),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(bl) && x === lit(br),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(bl + br))))
        .otherwise(concat(acc, array(x))))

  /** The session-held merge table (the trainedCentroids pattern):
    * training is the one-time model-BUILD cost — the merge table is a
    * bounded (k-row), deterministic artifact of the corpus, so within
    * one JVM t28, t30, and any repeat ask train ONCE and replay. Keyed
    * on the shuffle-partition layout so the partition-invariance sweep
    * still exercises the real loop.
    */
  private[graft] val BpeKind =
    new QueryCache.Kind[Seq[(Long, String, String, Long)]]("bpe_merges")

  private[graft] val BpeArtifact = "t28_bpe_merges"
  private[graft] val BpeParams = Map("rounds" -> BpeRounds.toString)

  /** Queries whose cost the [[BpeKind]] merge table absorbs after first
    * training — Bench re-times these raw, clearing that kind per run
    * (held values ignore the raw-measurement conf: the table stands in
    * for an input loaded from storage, so Bench's raw pass resets it
    * explicitly instead). t30 is NOT here: applying a loaded merge
    * table is its production shape, so its memo-on row (apply cost
    * only) is already the honest number.
    */
  val memoizedNames: Set[String] = Set("t28_bpe_train")

  private def bpeMerges(s: SparkSession, dir: String)
      : Seq[(Long, String, String, Long)] =
    QueryCache.held(dir, BpeKind, QueryCache.layout(s)) {
      // held over storage (VERDICT r8 ask #1); the params carry the
      // corpus, so one store root shared by two corpora never serves
      // one corpus the other's merges
      import s.implicits._
      graft.source.ArtifactStore.loadOrSave(s, BpeArtifact,
          BpeParams + ("corpus" -> dir)) {
        bpeTrainLoop(s, dir, BpeRounds)
          .toDF("step", "merge_left", "merge_right", "pair_n")
      }.collect()
        .map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getLong(3)))
        .toSeq.sortBy(_._1) // training order — t30 replays the merges as
                            // a fold, order is semantics
    }

  /** t29's weight vector: 512 buckets, w(j) = (((j·2654435761) mod
    * 1000003) mod 1001 − 500) / 1024 — a deterministic integer formula
    * both engines derive independently (the oracle never reads a dumped
    * weight table), with DYADIC values (k/1024, |k| ≤ 500) so per-token
    * terms and their sums are exact doubles: summation order cannot
    * move the hash. A trained model would simply replace this array —
    * the inference path is identical.
    */
  private[graft] val QualityWeights: Seq[Double] =
    (0 until 512).map(j =>
      (((j.toLong * 2654435761L) % 1000003L) % 1001L - 500L) / 1024.0)

  private[graft] val QualityWeightsArtifact = "t29_quality_weights"
  private[graft] val QualityWeightsParams = Map(
    "buckets" -> "512", "form" -> "dyadic-k-over-1024")

  /** t29's serving-side weight source: the artifact store when one is
    * configured (the model REGISTRY seam — a retrained classifier ships
    * by writing a new version, inference code untouched), else the
    * in-repo [[QualityWeights]] stand-in (which a first configured run
    * persists as version 1). Dyadic values round-trip parquet exactly,
    * so the two paths are bit-identical under the hash gate.
    */
  private[graft] def qualityWeightsFor(s: SparkSession): Seq[Double] = {
    import s.implicits._
    graft.source.ArtifactStore.loadOrSave(s, QualityWeightsArtifact,
        QualityWeightsParams) {
      QualityWeights.zipWithIndex.map { case (w, j) => (j, w) }
        .toDF("bucket", "w")
    }.collect().map(x => (x.getInt(0), x.getDouble(1)))
      .sortBy(_._1).map(_._2).toSeq
  }

  /** The t28/t30-shared oracle CTE: the full BPE merge loop as one
    * recursive CTE (see the t28 oracle comment for the window/fold
    * construction). One string serves both gates, mirroring
    * `bpeTrainLoop` on the Spark side.
    */
  private val BpeCteSql: String =
    s"""WITH RECURSIVE wc AS (
      |  SELECT w, count(*) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |st AS (
      |  SELECT 0 AS iter, w AS word, n,
      |    list_append(string_split(w, ''), '</w>') AS syms,
      |    NULL::VARCHAR AS bl, NULL::VARCHAR AS br, NULL::BIGINT AS bn
      |  FROM wc
      |  UNION ALL
      |  SELECT iter + 1, word, n,
      |    CASE WHEN bn IS NULL THEN syms
      |         ELSE string_split(list_reduce(syms, (acc, x) ->
      |           CASE WHEN (acc = bl OR ends_with(acc, chr(31) || bl))
      |                     AND x = br
      |                THEN left(acc, length(acc) - length(bl)) || bl || br
      |                ELSE acc || chr(31) || x END), chr(31))
      |    END AS syms,
      |    bl, br, bn
      |  FROM (
      |    SELECT iter, word, n, syms, bl2 AS bl, br2 AS br, bn2 AS bn
      |    FROM (
      |      SELECT iter, word, n, syms,
      |        first_value(l) OVER wbest AS bl2,
      |        first_value(r) OVER wbest AS br2,
      |        first_value(tot) OVER wbest AS bn2,
      |        row_number() OVER (PARTITION BY word) AS rn
      |      FROM (
      |        SELECT iter, word, n, syms, l, r,
      |          CASE WHEN r IS NULL THEN NULL
      |               ELSE sum(n) OVER (PARTITION BY l, r) END AS tot
      |        FROM (
      |          SELECT st.iter, st.word, st.n, st.syms,
      |            u.p[1] AS l, u.p[2] AS r
      |          FROM st, UNNEST(list_zip(st.syms, st.syms[2:])) AS u(p)
      |          WHERE st.iter < $BpeRounds))
      |      WINDOW wbest AS (ORDER BY (tot IS NULL), tot DESC, l, r
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
      |    WHERE rn = 1))""".stripMargin

  /** p21's verdict arithmetic over a (lang, source, len_bucket, n_docs)
    * class-count frame — ONE definition shared by the batch gate and the
    * streaming monitor ([[graft.streaming.PrivacyStream]]), so the two
    * cannot disagree on what "at risk" means. k = 5.
    */
  private[graft] def kAnonymityVerdicts(counts: DataFrame): DataFrame = {
    val k = 5L
    counts
      .withColumn("at_risk", col("n_docs") < k)
      .withColumn("suppression_cost",
        when(col("n_docs") < k, col("n_docs")).otherwise(0L))
  }

  val oracleSql: Map[String, String] = Map(
    "t1_text_stats" ->
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct,
        |  len(list_distinct(string_split(text,' ')))::DOUBLE
        |    / len(string_split(text,' ')) AS ttr,
        |  list_sum(list_transform(string_split(text,' '), t -> length(t)))::DOUBLE
        |    / len(string_split(text,' ')) AS avg_token_len
        |FROM documents""".stripMargin,

    "t2_quality_filter" ->
      s"""WITH q AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(text,' '),
         |        t -> list_contains($stopList, t)))::DOUBLE
         |      / len(string_split(text,' ')) AS stopword_ratio,
         |    len(string_split(text,' ')) AS n_tokens,
         |    len(list_distinct(string_split(text,' ')))::DOUBLE
         |      / len(string_split(text,' ')) AS ttr
         |  FROM documents)
         |SELECT doc_id,
         |  (least(stopword_ratio * 10.0, 1.0) + least(n_tokens / 100.0, 1.0) + ttr) / 3.0 AS quality,
         |  stopword_ratio
         |FROM q
         |WHERE (least(stopword_ratio * 10.0, 1.0) + least(n_tokens / 100.0, 1.0) + ttr) / 3.0 >= 0.5""".stripMargin,

    "t3_langid" ->
      s"SELECT doc_id, lang, $langCase AS pred_lang FROM documents",

    "t4_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp,
        |  count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM documents
        |GROUP BY 1
        |HAVING count(*) >= 2""".stripMargin,

    "t5_vocab_topk" ->
      """SELECT token, count(*) AS freq
        |FROM (SELECT unnest(string_split(text,' ')) AS token FROM documents)
        |GROUP BY token
        |ORDER BY freq DESC, token
        |LIMIT 20""".stripMargin,

    "t6_regex_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '(\w+|[^\w\s])', 1)) AS n_pieces,
        |  len(string_split(text,' ')) AS n_ws_tokens
        |FROM documents
        |WHERE doc_id < 200""".stripMargin,

    "t7_hash_split" ->
      """SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999' THEN 'test'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333' THEN 'validation'
        |       ELSE 'train' END AS split
        |FROM documents""".stripMargin,

    "t9_bigram_stats" ->
      """SELECT bigram, count(*) AS freq
        |FROM (SELECT unnest([toks[i] || ' ' || toks[i+1]
        |                     for i in range(1, len(toks))]) AS bigram
        |      FROM (SELECT string_split(text, ' ') AS toks FROM documents))
        |GROUP BY bigram
        |ORDER BY freq DESC, bigram
        |LIMIT 25""".stripMargin,

    // integer counts and integerized threshold comparisons only — the
    // boolean keep flag folds from the same BIGINT arithmetic on both
    // engines
    // same in-list arithmetic (list comprehension + nested list_filter);
    // identical integer counts and formula; DuckDB's regexp engine
    // agrees with Java's on these character-class patterns (the same
    // parity t33's redaction already certifies)
    "t34_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' '))::BIGINT AS n_words,
        |    greatest(
        |      len(regexp_extract_all(text, '[.!?]+'))::BIGINT,
        |      (len(string_split(text, ' ')) + 14) // 15,
        |      1)::BIGINT AS n_sentences,
        |    len(regexp_extract_all(text, '[aeiou]+'))::BIGINT
        |      AS n_vowel_groups
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_vowel_groups,
        |  206.835 - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
        |    - 84.6 * (n_vowel_groups::DOUBLE / n_words::DOUBLE) AS flesch
        |FROM c""".stripMargin,

    // list_distinct order differs from array_distinct's — only the
    // SUMMATION order changes, covered by the gate's float tolerance
    "t21_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ''), x -> x <> '') AS cs
        |  FROM documents)
        |SELECT doc_id, lang, len(cs)::BIGINT AS n_ch,
        |  log2(len(cs)) - list_sum(
        |    [len(list_filter(cs, y -> y = x))
        |       * log2(len(list_filter(cs, y -> y = x)))
        |     for x in list_distinct(cs)]) / len(cs) AS entropy
        |FROM c""".stripMargin,

    // joins on the concatenated "w1 w2" key (tokens cannot contain the
    // separator — they come from splitting on it), so w1 recovers as the
    // first split piece; identical IEEE operands per term, summation
    // order engine-specific (the t21 tolerance ride)
    "t23_lm_perplexity" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |big AS (
        |  SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
        |                         for i in range(1, len(t))]) AS bg
        |  FROM toks),
        |c1 AS (SELECT w, count(*) AS c1
        |       FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        |v AS (SELECT count(*) AS v FROM c1),
        |c12 AS (SELECT bg, count(*) AS c12 FROM big GROUP BY bg)
        |SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
        |  avg(log2((c12.c12 + 1)::DOUBLE / (c1.c1 + v.v))) AS avg_logp2
        |FROM big b
        |JOIN c12 USING (bg)
        |JOIN c1 ON c1.w = string_split(bg, ' ')[1], v
        |GROUP BY b.doc_id""".stripMargin,

    "t15_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c
        |       FROM (SELECT doc_id, unnest(t) AS w FROM toks)
        |       GROUP BY 1, 2),
        |ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |              count(*) AS n_distinct, max(c) AS top_word_n
        |       FROM wc GROUP BY 1),
        |bc AS (SELECT doc_id, b, count(*) AS c
        |       FROM (SELECT doc_id,
        |               unnest([t[i] || ' ' || t[i+1]
        |                       for i in range(1, len(t))]) AS b
        |             FROM toks)
        |       GROUP BY 1, 2),
        |bs AS (SELECT doc_id, max(c) AS top_bigram_n FROM bc GROUP BY 1)
        |SELECT ws.doc_id, n_words, n_distinct, top_word_n,
        |  coalesce(top_bigram_n, 0) AS top_bigram_n,
        |  (top_word_n * 5 < n_words AND n_distinct * 10 > n_words * 3
        |   AND coalesce(top_bigram_n, 0) * 10 < n_words) AS keep
        |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id""".stripMargin,

    // every arithmetic step parenthesized to match the Spark expression
    // tree op-for-op (same-order IEEE; see the query comment on the
    // rational idf choice). The per-doc sum's accumulation order is the
    // one engine-dependent float op — ≤3 addends, tolerated by the
    // compare like every other float aggregate.
    //
    // LIMIT-boundary membership risk (distinct from value drift): two
    // docs with ULP-different sums straddling rank 20 would change the
    // emitted doc_id SET, which no float tolerance can absorb. Accepted
    // because the driver corpora have no near-tied scores at the cut —
    // measured rank-20→21 gaps: 4.5e-2 (sf0.001), 1.1e-4 (sf0.01),
    // 1.3e-3 (sf0.1), vs ~1e-15 ULP noise on scores of magnitude ~6, so
    // ≥11 orders of headroom at every driver SF. A corpus of
    // near-duplicate docs would need a gap assertion or an integer-rank
    // emission instead.
    "t10_bm25" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
         |          FROM documents),
         |${bm25SqlCtes("TRUE",
            s"WHERE term IN (${Bm25QueryTerms.mkString("'", "', '", "'")})")}
         |SELECT doc_id, bm25 FROM bm
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 20""".stripMargin,

    // stage-for-stage replay of the composed pipeline; the quality
    // expression is t2's verbatim (op-for-op IEEE parity), the dedup
    // survivor join replays min(struct)'s min-doc_id choice, and the
    // split rule is t7's
    "p1_pipeline_e2e" ->
      s"""WITH q AS (
         |  SELECT doc_id, lang, md5(text) AS text_key,
         |    len(string_split(text,' ')) AS n_tokens,
         |    len(list_filter(string_split(text,' '),
         |        t -> list_contains($stopList, t)))::DOUBLE
         |      / len(string_split(text,' ')) AS stopword_ratio,
         |    len(list_distinct(string_split(text,' ')))::DOUBLE
         |      / len(string_split(text,' ')) AS ttr
         |  FROM documents),
         |f AS (
         |  SELECT doc_id, lang, text_key, n_tokens
         |  FROM q
         |  WHERE (least(stopword_ratio * 10.0, 1.0)
         |         + least(n_tokens / 100.0, 1.0) + ttr) / 3.0 >= 0.5),
         |surv AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY text_key),
         |kept AS (SELECT f.doc_id, f.lang, f.n_tokens
         |         FROM f JOIN surv USING (doc_id)),
         |sp AS (
         |  SELECT lang, n_tokens,
         |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < '1999'
         |           THEN 'test'
         |         WHEN substr(md5(CAST(doc_id AS VARCHAR)),1,4) < '3333'
         |           THEN 'validation'
         |         ELSE 'train' END AS split
         |  FROM kept)
         |SELECT split, lang, count(*) AS n_docs,
         |  sum(n_tokens)::BIGINT AS sum_tokens
         |FROM sp GROUP BY 1, 2""".stripMargin,

    // stage-for-stage replay: quality → repetition → decontamination →
    // dedup → mixture (post-dedup counts, 'mix:'-salted key) → split
    // ('split:'-salted key) → accounting. The CTE chain is [[P8Cte]],
    // SHARED with p20's attrition oracle — one definition of the stages.
    "p8_full_pipeline" ->
      s"""$P8Cte
         |SELECT split, lang, count(*) AS n_docs,
         |  sum(n_tokens)::BIGINT AS sum_tokens
         |FROM sp GROUP BY 1, 2""".stripMargin,

    // identical md5 variate, identical inverse-CDF branch; ln within
    // libm ulps of Spark's (inside the gate's 1e-9 envelope)
    "p22_dp_release" ->
      """WITH g AS (
        |  SELECT lang, count(*) AS n_true FROM documents GROUP BY lang),
        |v AS (
        |  SELECT lang, n_true,
        |    (('0x' || substr(md5('dp:' || lang), 1, 13))::UBIGINT)
        |      / 4503599627370496.0 AS u
        |  FROM g)
        |SELECT lang, n_true, u,
        |  CASE WHEN u < 0.5 THEN ln(2.0 * u)
        |       ELSE -ln(2.0 * (1.0 - u)) END AS noise,
        |  n_true + (CASE WHEN u < 0.5 THEN ln(2.0 * u)
        |            ELSE -ln(2.0 * (1.0 - u)) END) AS released,
        |  1000::BIGINT AS epsilon_permille
        |FROM v""".stripMargin,

    // the literal quadratic dominance definition — deliberately NOT the
    // window formulation the engine uses, so the gate checks the
    // algebra, not a transliteration
    "p23_pareto_frontier" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |    len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents)
        |SELECT b.lang, b.doc_id, b.n_chars, b.n_tokens FROM d b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM d a
        |  WHERE a.lang = b.lang
        |    AND a.n_chars <= b.n_chars AND a.n_tokens >= b.n_tokens
        |    AND (a.n_chars < b.n_chars OR a.n_tokens > b.n_tokens))""".stripMargin,

    // the same QI bucketing and k threshold; pure-integer
    "p21_k_anonymity" ->
      """SELECT lang, source, n_chars // 100 AS len_bucket,
        |  count(*) AS n_docs,
        |  count(*) < 5 AS at_risk,
        |  CASE WHEN count(*) < 5 THEN count(*) ELSE 0 END::BIGINT
        |    AS suppression_cost
        |FROM documents
        |GROUP BY 1, 2, 3""".stripMargin,

    // the SAME CTE chain as p8 ([[P8Cte]]) with one stage-count arm per
    // pipeline stage — p20 and p8 cannot disagree on a stage's semantics
    "p20_stage_attrition" ->
      s"""$P8Cte
         |SELECT '0_raw' AS stage, 0::BIGINT AS stage_ord,
         |  count(*) AS n_docs,
         |  sum(len(string_split(text,' ')))::BIGINT AS sum_tokens
         |FROM documents
         |UNION ALL SELECT '1_quality', 1::BIGINT, count(*),
         |  sum(n_tokens)::BIGINT FROM f
         |UNION ALL SELECT '2_repetition', 2::BIGINT, count(*),
         |  sum(n_tokens)::BIGINT FROM rep
         |UNION ALL SELECT '3_train_holdout', 3::BIGINT, count(*),
         |  sum(n_tokens)::BIGINT FROM tr
         |UNION ALL SELECT '4_decontaminated', 4::BIGINT, count(*),
         |  sum(n_tokens)::BIGINT FROM clean
         |UNION ALL SELECT '5_exact_dedup', 5::BIGINT, count(*),
         |  sum(n_tokens)::BIGINT FROM ded
         |UNION ALL SELECT '6_mixture', 6::BIGINT, count(*),
         |  sum(n_tokens)::BIGINT FROM keptm""".stripMargin,

    // lateral unnest(range) is exclusive of len like Spark's
    // sequence(0, n-1, 40); DuckDB's 1-based end-inclusive slice
    // [start+1 : start+50] == Spark slice(toks, start+1, 50), both
    // truncating past the end
    "t11_chunking" ->
      """SELECT doc_id, (start // 40) AS chunk_id,
        |  array_to_string(toks[start+1 : start+50], ' ') AS chunk
        |FROM (SELECT doc_id, string_split(text,' ') AS toks
        |      FROM documents WHERE doc_id < 50),
        |     unnest(range(0, len(toks), 40)) AS t(start)""".stripMargin,

    // the windowed sum casts ::BIGINT immediately — DuckDB window sums
    // return HUGEINT, which pandas reads as float64 and the exact hash
    // rejects (the q19 lesson)
    "t12_packing" ->
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text,' ')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, n_tokens,
        |    COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)::BIGINT,
        |      0) AS cum_before
        |  FROM d)
        |SELECT lang, cum_before // 2048 AS pack_id, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS sum_tokens
        |FROM c GROUP BY 1, 2""".stripMargin,

    // same md5-prefix membership rule; printf('%04x') matches Spark's
    // format_string, and both engines emit lowercase hex
    "p2_stratified_sample" ->
      """WITH s AS (
        |  SELECT lang, len(string_split(text,' ')) AS n_tokens,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h,
        |    CASE lang WHEN 'en' THEN 0.25 WHEN 'zh' THEN 1.0
        |         ELSE 0.5 END AS f
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, sum(n_tokens)::BIGINT AS sum_tokens
        |FROM s
        |WHERE f >= 1.0 OR h < printf('%04x', CAST(floor(f * 65536) AS INTEGER))
        |GROUP BY lang""".stripMargin,

    // sqrt is exactly rounded (IEEE) and the division is one correctly-
    // rounded op, so floor(least(…)) folds to the same INTEGER threshold
    // the engine derives; sum_tokens matches Spark's long sum of ints
    "p7_mixture_sample" ->
      """WITH st AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY 1),
        |d AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        |      FROM documents),
        |j AS (SELECT d.doc_id, d.lang, d.n_tokens, st.n_lang,
        |        CAST(floor(least(65536.0,
        |          262144.0 / sqrt(CAST(st.n_lang AS DOUBLE)))) AS INTEGER)
        |          AS thr_i
        |      FROM d JOIN st USING (lang))
        |SELECT lang, max(n_lang) AS n_lang, max(thr_i) AS threshold,
        |  count(*) AS n_kept, sum(n_tokens)::BIGINT AS sum_tokens
        |FROM j
        |WHERE thr_i >= 65536
        |   OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
        |        < printf('%04x', thr_i)
        |GROUP BY lang""".stripMargin,

    "t8_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(text, '\b(the|a|of|and|in|to|is)\b', '<STOP>', 'g') AS text_clean,
        |  len(regexp_extract_all(text, '\b(the|a|of|and|in|to|is)\b', 1)) AS n_redactions
        |FROM documents
        |WHERE doc_id < 150""".stripMargin,

    // quality is t2's expression verbatim (op-for-op IEEE parity), the
    // quota cut is the window replay of TopKPerKey's (quality DESC,
    // doc_id) total order
    "p4_source_quota" ->
      s"""WITH q AS (
         |  SELECT doc_id, source,
         |    len(list_filter(string_split(text,' '),
         |        t -> list_contains($stopList, t)))::DOUBLE
         |      / len(string_split(text,' ')) AS stopword_ratio,
         |    len(string_split(text,' ')) AS n_tokens,
         |    len(list_distinct(string_split(text,' ')))::DOUBLE
         |      / len(string_split(text,' ')) AS ttr
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id, source,
         |    (least(stopword_ratio * 10.0, 1.0)
         |     + least(n_tokens / 100.0, 1.0) + ttr) / 3.0 AS quality
         |  FROM q),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY quality DESC, doc_id) AS rn
         |  FROM sc)
         |SELECT source, doc_id, quality FROM r WHERE rn <= 5""".stripMargin,

    // every windowed integer casts ::BIGINT on emission (row_number is
    // BIGINT already but Spark's is INT — both sides land on int64; the
    // windowed sum is the q19 HUGEINT trap)
    "p5_shard_order" ->
      """WITH d AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    len(string_split(text,' ')) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, h, n_tokens,
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) // 2)::BIGINT
        |      AS shard
        |  FROM d),
        |r AS (
        |  SELECT shard, doc_id,
        |    (row_number() OVER (PARTITION BY shard ORDER BY h))::BIGINT
        |      AS pos,
        |    (count(*) OVER (PARTITION BY shard))::BIGINT AS n_in_shard,
        |    (sum(n_tokens) OVER (PARTITION BY shard))::BIGINT AS shard_tokens
        |  FROM s)
        |SELECT shard, pos, doc_id, n_in_shard, shard_tokens
        |FROM r WHERE pos <= 3""".stripMargin,

    // TopKPerKey on the negated hash == the N smallest scores; the
    // replay orders (score ASC, doc_id) — the same total order
    "p6_exact_sample" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    ((doc_id % 2147483648) * 2654435761) % 2147483648 AS score
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY score, doc_id) AS rn
        |  FROM sc)
        |SELECT lang, doc_id, score FROM r WHERE rn <= 10""".stripMargin,

    // same md5-derived u and ln(u)/w key; ORDER BY … LIMIT is DuckDB's
    // top-N; only integer columns are emitted (the float key never is)
    "p10_weighted_sample" ->
      """WITH sc AS (
        |  SELECT doc_id, lang, n_chars,
        |    ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::UBIGINT)
        |       / 4503599627370496.0) / n_chars AS k
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM sc
        |ORDER BY k DESC, doc_id LIMIT 200""".stripMargin,

    // same salted binning; the driver's prefix loop is equivalent to
    // "keep every (nonempty) bin whose running token mass fits" — the
    // cumulative window over the 4096-row bin frame
    "p11_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    len(string_split(text, ' '))::BIGINT AS tok,
        |    CAST(floor((('0x' || substr(md5('budget:' || doc_id::VARCHAR),
        |      1, 13))::UBIGINT) / 4503599627370496.0 * 4096.0)
        |      AS INTEGER) AS bin
        |  FROM documents),
        |c AS (
        |  SELECT bin, sum(sum(tok)) OVER (ORDER BY bin) AS cum
        |  FROM d GROUP BY bin)
        |SELECT d.doc_id, d.lang, d.tok, d.bin
        |FROM d JOIN c USING (bin) WHERE c.cum <= 10000""".stripMargin,

    // same 2-hex-char bucket currency and the same Laplace arithmetic
    // sequenced identically (numerator division, denominator division,
    // their ratio, ln) so every term is the same IEEE double; only the
    // per-doc summation order is engine-specific
    "p12_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, substr(md5(w), 1, 2) AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |        FROM documents)),
        |bc AS (
        |  SELECT b, count(*)::BIGINT AS cq,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS cp
        |  FROM toks GROUP BY b),
        |tot AS (SELECT sum(cq)::BIGINT AS nq, sum(cp)::BIGINT AS np FROM bc)
        |SELECT t.doc_id, count(*)::BIGINT AS n_toks,
        |  sum(ln(((bc.cp + 1)::DOUBLE / (tot.np + 256)) /
        |         ((bc.cq + 1)::DOUBLE / (tot.nq + 256)))) AS logw
        |FROM toks t JOIN bc USING (b), tot
        |GROUP BY t.doc_id""".stripMargin,

    "p13_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, n_tokens,
        |    ntile(4) OVER (ORDER BY n_tokens, doc_id)::BIGINT AS stage
        |  FROM d)
        |SELECT doc_id, n_tokens, stage,
        |  row_number() OVER (PARTITION BY stage
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)::BIGINT
        |    AS stage_rank
        |FROM st""".stripMargin,

    // same segmentation (t11's range-unnest + list slice), same ≥2
    // distinct-doc rule; string_agg(ORDER BY seg_idx) skips the shared
    // (NULL'd) segments, coalesce('') covers a fully-deduped doc the
    // same way Spark's empty-array concat does
    "t22_segment_dedup_rewrite" ->
      """WITH segs AS (
        |  SELECT doc_id, (start // 8) AS seg_idx,
        |    array_to_string(toks[start+1 : start+8], ' ') AS seg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |        FROM documents),
        |       unnest(range(0, len(toks), 8)) AS t(start)),
        |sh AS (
        |  SELECT seg FROM segs GROUP BY seg
        |  HAVING count(DISTINCT doc_id) >= 2),
        |fl AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg,
        |    (sh.seg IS NOT NULL) AS shared
        |  FROM segs s LEFT JOIN sh ON s.seg = sh.seg)
        |SELECT doc_id, count(*)::BIGINT AS n_segs,
        |  sum(CASE WHEN NOT shared THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  md5(coalesce(string_agg(CASE WHEN NOT shared THEN seg END, ' '
        |    ORDER BY seg_idx), '')) AS clean_md5
        |FROM fl GROUP BY doc_id""".stripMargin,

    // the JSONL round trip cancels out: the oracle reads the parquet
    // originals (the corpus is ASCII, so octet_length == length and the
    // JSON escape round trip is exact)
    "t14_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(octet_length(encode(text)))::BIGINT AS sum_bytes,
        |  min(md5(text)) AS h_lo, max(md5(text)) AS h_hi
        |FROM documents
        |GROUP BY lang""".stripMargin,

    // same lossless-roundtrip contract as t14/t16/t18: the oracle reads
    // the parquet truth, so any XML escape/trim/null asymmetry breaks it
    "t27_xml_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(octet_length(encode(text)))::BIGINT AS sum_bytes,
        |  min(md5(text)) AS h_lo, max(md5(text)) AS h_hi
        |FROM documents
        |GROUP BY lang""".stripMargin,

    // replays the hashed-feature pipeline from scratch: the same
    // [A-Za-z]+ tokens, the same 31-poly fold over lowercased ASCII
    // codes (prepended 0 supplies the fold's init — list_reduce has
    // none), the same integer weight formula; dyadic weights make
    // list_sum order-independent, so the division is bit-identical
    "t29_quality_score" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[A-Za-z]+'), t ->
        |      list_reduce(
        |        list_prepend(0::BIGINT,
        |          list_transform(string_split(lower(t), ''),
        |            c -> ascii(c)::BIGINT)),
        |        (acc, c) -> (acc * 31 + c) % 1048576)) AS hs
        |  FROM documents)
        |SELECT doc_id,
        |  len(hs)::BIGINT AS n_feat_tokens,
        |  CASE WHEN len(hs) = 0 THEN 0.0
        |       ELSE list_sum(list_transform(hs, h ->
        |         ((((h % 512) * 2654435761) % 1000003) % 1001 - 500)
        |           / 1024.0)) / len(hs) END AS quality_score,
        |  CASE WHEN len(hs) = 0 THEN 0.0
        |       ELSE list_sum(list_transform(hs, h ->
        |         ((((h % 512) * 2654435761) % 1000003) % 1001 - 500)
        |           / 1024.0)) / len(hs) END > 0.0 AS keep
        |FROM scored""".stripMargin,

    // the ENTIRE k-round merge loop in one recursive CTE: per iteration,
    // pair totals via a window over the unnested adjacent pairs (the
    // (last, NULL) zip row keeps single-symbol words alive as state),
    // the argmax via a global first_value window ordered exactly like
    // the Spark side (count DESC, left, right), and the greedy
    // left-to-right rewrite via the same fold — on a chr(31)-joined
    // string because list_reduce's accumulator must be scalar; the
    // ends_with(sep || bl) test is segment-exact, and tokens
    // ([a-z]+ / '</w>') can never contain the separator
    "t28_bpe_train" ->
      s"""$BpeCteSql
        |SELECT iter::BIGINT AS step, bl AS merge_left, br AS merge_right,
        |  bn AS pair_n
        |FROM st WHERE bn IS NOT NULL
        |GROUP BY ALL ORDER BY step""".stripMargin,

    // the same CTE's iter=k state IS the applied segmentation — unnest
    // the final symbol lists weighted by word frequency
    "t30_bpe_apply" ->
      s"""$BpeCteSql
        |SELECT u.tok AS token, sum(st.n)::BIGINT AS n_occ
        |FROM st, UNNEST(st.syms) AS u(tok)
        |WHERE st.iter = $BpeRounds
        |GROUP BY u.tok""".stripMargin,

    // the same loop's final per-word segmentation joined to per-(lang,
    // word) counts — subwords/chars roll up per language in integers
    "t32_tokenizer_fertility" ->
      s"""$BpeCteSql,
        |lw AS (SELECT lang, w, count(*) AS n
        |       FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
        |             FROM documents)
        |       WHERE w <> '' GROUP BY lang, w)
        |SELECT lang,
        |  CAST(sum(lw.n * len(st.syms)) AS BIGINT) AS sum_subwords,
        |  CAST(sum(lw.n * length(lw.w)) AS BIGINT) AS sum_chars,
        |  CAST((1000 * sum(lw.n * len(st.syms))) //
        |       sum(lw.n * length(lw.w)) AS BIGINT) AS fertility_permille
        |FROM lw JOIN st ON st.word = lw.w AND st.iter = $BpeRounds
        |GROUP BY lang""".stripMargin,

    // the two generations replay as a UNION ALL of the same table with
    // and without the evolved column
    "t17_schema_evolution" ->
      """WITH m AS (
        |  SELECT lang, NULL::BIGINT AS n_chars FROM documents
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents)
        |SELECT lang, count(*) AS n_rows,
        |  count(n_chars)::BIGINT AS n_with_chars,
        |  sum(coalesce(n_chars, 0))::BIGINT AS sum_chars
        |FROM m GROUP BY lang""".stripMargin,

    // same cancellation as t14: the CSV round trip must reproduce the
    // parquet truth byte-for-byte
    "t16_csv_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(octet_length(encode(text)))::BIGINT AS sum_bytes,
        |  min(md5(text)) AS h_lo, max(md5(text)) AS h_hi
        |FROM documents
        |GROUP BY lang""".stripMargin,

    // good langs replay from parquet (n_corrupt identically 0); the
    // quarantine row is constructed from the same three bad-line
    // literals the query staged
    "t19_corrupt_tolerant" ->
      """WITH good AS (
        |  SELECT lang, count(*) AS n_rows, 0::BIGINT AS n_corrupt,
        |    min(md5(text)) AS h_lo
        |  FROM documents GROUP BY lang),
        |bad AS (
        |  SELECT '?quarantine' AS lang, 3::BIGINT AS n_rows,
        |    3::BIGINT AS n_corrupt, min(md5(s)) AS h_lo
        |  FROM unnest(['{"doc_id": 1, "lang"', 'not json at all',
        |               '{"doc_id":']) AS t(s))
        |SELECT * FROM good UNION ALL SELECT * FROM bad""".stripMargin,

    // the JSON → variant → typed-extract trip cancels against the typed
    // originals; n_missing_null == n_docs asserts the missing path
    // surfaced null for EVERY row (::BIGINT — the q19 lesson)
    "t20_variant_extract" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(n_chars)::BIGINT AS sum_len,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_even,
        |  count(*) AS n_missing_null
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin,

    // same cancellation again for the ORC + Hive-partition-layout trip
    "t18_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  sum(octet_length(encode(text)))::BIGINT AS sum_bytes,
        |  min(md5(text)) AS h_lo, max(md5(text)) AS h_hi
        |FROM documents
        |GROUP BY lang""".stripMargin,

    // DuckDB's 1-based end-inclusive list slice [1:100] == Spark
    // slice(_, 1, 100), both truncating past the end
    "t13_inverted_index" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text,' ')) AS term
         |  FROM documents),
         |d AS (
         |  SELECT DISTINCT doc_id, term FROM tok
         |  WHERE term IN (${IndexTerms.mkString("'", "', '", "'")}))
         |SELECT term, count(*) AS df,
         |  array_to_string(list_transform(
         |    (list_sort(list(doc_id)))[1:100],
         |    x -> CAST(x AS VARCHAR)), ',') AS postings_head
         |FROM d GROUP BY term""".stripMargin,

    // the IDENTICAL whole-word pattern (Java-regex/RE2-common subset);
    // list_sort == array_sort for ASCII strings
    "t24_blocklist_filter" ->
      """WITH h AS (
        |  SELECT doc_id, list_sort(list_distinct(
        |    regexp_extract_all(lower(text),
        |      '\b(dup|slow|error|corrupt)\b', 1))) AS h
        |  FROM documents)
        |SELECT doc_id,
        |  coalesce(array_to_string(h, ','), '') AS hits, -- [] joins to NULL
        |  len(h)::BIGINT AS n_hits, len(h) = 0 AS keep
        |FROM h""".stripMargin,

    // each dictionary term as an independent \b-regex existence test,
    // re-aggregated to t24's emission shape — the engine-neutral
    // definition the automaton must reproduce
    "t31_blocklist_automaton" ->
      s"""WITH hits AS (
        |  SELECT d.doc_id, t.term
        |  FROM documents d, (VALUES ${BigBlocklist.map(t => s"('$t')").mkString(", ")}) t(term)
        |  WHERE regexp_matches(lower(d.text), '\\b' || t.term || '\\b')),
        |agg AS (
        |  SELECT doc_id,
        |    string_agg(term, ',' ORDER BY term) AS hits,
        |    count(*)::BIGINT AS n_hits
        |  FROM hits GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.hits, '') AS hits,
        |  coalesce(a.n_hits, 0) AS n_hits, a.doc_id IS NULL AS keep
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // the identical constructed dirty corpus (pure doc_id arithmetic),
    // the identical regexes in the identical order ('g' = replace-all,
    // Spark's default); md5 extrema certify the redacted bytes
    "t33_pii_redact" ->
      s"""WITH dirty AS (
        |  SELECT lang, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
        |         || CAST(doc_id AS VARCHAR) || '@mail'
        |         || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |       ELSE '' END
        |    || CASE WHEN doc_id % 4 = 1 THEN ' call 555-'
        |         || CAST(100 + doc_id % 900 AS VARCHAR) || '-'
        |         || CAST(1000 + doc_id % 9000 AS VARCHAR)
        |       ELSE '' END
        |    || CASE WHEN doc_id % 5 = 2 THEN ' from 10.'
        |         || CAST(doc_id % 251 AS VARCHAR) || '.'
        |         || CAST(doc_id % 200 AS VARCHAR) || '.'
        |         || CAST(doc_id % 97 AS VARCHAR)
        |       ELSE '' END AS dirty
        |  FROM documents),
        |s1 AS (
        |  SELECT lang,
        |    len(regexp_extract_all(dirty, '$PiiEmailRe'))::BIGINT
        |      AS n_email,
        |    regexp_replace(dirty, '$PiiEmailRe', '<EMAIL>', 'g') AS e1
        |  FROM dirty),
        |s2 AS (
        |  SELECT lang, n_email,
        |    len(regexp_extract_all(e1, '$PiiPhoneRe'))::BIGINT AS n_phone,
        |    regexp_replace(e1, '$PiiPhoneRe', '<PHONE>', 'g') AS e2
        |  FROM s1),
        |s3 AS (
        |  SELECT lang, n_email, n_phone,
        |    len(regexp_extract_all(e2, '$PiiIpRe'))::BIGINT AS n_ip,
        |    regexp_replace(e2, '$PiiIpRe', '<IP>', 'g') AS red
        |  FROM s2)
        |SELECT lang, count(*) AS n_docs,
        |  sum(n_email)::BIGINT AS n_email,
        |  sum(n_phone)::BIGINT AS n_phone,
        |  sum(n_ip)::BIGINT AS n_ip,
        |  sum(CASE WHEN n_email + n_phone + n_ip = 0 THEN 1 ELSE 0 END)
        |    ::BIGINT AS n_clean,
        |  min(md5(red)) AS h_lo, max(md5(red)) AS h_hi
        |FROM s3 GROUP BY lang""".stripMargin,

    // same salted-md5 order currency (p5/p8's rule); the running window's
    // RANGE-vs-ROWS default is moot because (ord, doc_id) is unique
    "p14_language_quota" ->
      """WITH d AS (
        |  SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS tok,
        |    substr(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 4) AS ord
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, lang, tok,
        |    CAST(sum(tok) OVER (PARTITION BY lang
        |      ORDER BY ord, doc_id) AS BIGINT) AS cum,
        |    CAST(ceil(sum(tok) OVER (PARTITION BY lang) * 0.6) AS BIGINT)
        |      AS budget
        |  FROM d)
        |SELECT doc_id, lang, tok, cum FROM w
        |WHERE cum - tok < budget""".stripMargin,

    // p5's shard rule; the signature hex-parses the same 15-char
    // md5 prefix (60 bits — BIGINT-safe on both engines)
    "p15_shard_manifest" ->
      """WITH d AS (
        |  SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    len(string_split(text, ' '))::BIGINT AS tok
        |  FROM documents),
        |s AS (
        |  SELECT d.*,
        |    ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) // 2)::BIGINT
        |      AS shard
        |  FROM d)
        |SELECT shard, count(*)::BIGINT AS n_docs,
        |  sum(tok)::BIGINT AS n_tokens,
        |  count(DISTINCT lang)::BIGINT AS n_langs,
        |  bit_xor(('0x' || substr(h, 1, 15))::BIGINT) AS content_sig
        |FROM s GROUP BY shard""".stripMargin,

    // the same manifest arithmetic computed per release slice, then the
    // shard-keyed full-outer compare — the whole release diff in SQL
    "p16_release_diff" ->
      """WITH d AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    len(string_split(text, ' '))::BIGINT AS tok,
        |    ((strpos('0123456789abcdef',
        |             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
        |      // 2)::BIGINT AS shard
        |  FROM documents),
        |ma AS (SELECT shard, count(*)::BIGINT AS n_docs_a,
        |         sum(tok)::BIGINT AS tok_a,
        |         bit_xor(('0x' || substr(h, 1, 15))::BIGINT) AS sig_a
        |       FROM d WHERE doc_id % 10 <> 8 GROUP BY shard),
        |mb AS (SELECT shard, count(*)::BIGINT AS n_docs_b,
        |         sum(tok)::BIGINT AS tok_b,
        |         bit_xor(('0x' || substr(h, 1, 15))::BIGINT) AS sig_b
        |       FROM d WHERE doc_id % 10 <> 3 GROUP BY shard)
        |SELECT shard,
        |  coalesce(n_docs_a, 0)::BIGINT AS n_docs_a,
        |  coalesce(n_docs_b, 0)::BIGINT AS n_docs_b,
        |  (coalesce(tok_b, 0) - coalesce(tok_a, 0))::BIGINT AS d_tokens,
        |  coalesce(sig_a, 0) = coalesce(sig_b, 0) AS unchanged
        |FROM ma FULL OUTER JOIN mb USING (shard)""".stripMargin,

    // the oracle is the sketch-free spelling: plain GROUP BY + HAVING at
    // the same derived threshold — identical output by the MG guarantee
    "t25_hot_ngrams" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT array_to_string(t[i+1:i+3], ' ') AS gram
        |      FROM toks, unnest(range(0, greatest(len(t) - 2, 0))) AS u(i)),
        |thr AS (SELECT greatest(2, CAST(ceil(7.5e-5 * count(*)) AS BIGINT))
        |        AS t FROM g)
        |SELECT gram, count(*)::BIGINT AS cnt
        |FROM g, thr GROUP BY gram, thr.t
        |HAVING count(*) >= thr.t""".stripMargin,

    // same t7 split rule, same trigram machinery as t22/t25; DISTINCT
    // before the join mirrors Spark's per-doc distinct
    "t26_ngram_novelty" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
        |           THEN 'test'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '3333'
        |           THEN 'validation'
        |         ELSE 'train' END AS split
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |g AS (SELECT DISTINCT doc_id, split,
        |        array_to_string(t[i+1:i+3], ' ') AS gram
        |      FROM d, unnest(range(0, len(t) - 2)) AS u(i)),
        |ref AS (SELECT DISTINCT gram FROM g WHERE split = 'train')
        |SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END)::BIGINT
        |    AS n_novel,
        |  sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*) AS novelty
        |FROM g LEFT JOIN ref ON g.gram = ref.gram
        |WHERE g.split <> 'train'
        |GROUP BY g.doc_id""".stripMargin
  )

  /** t5's 100 TB drop-in for frequency questions over an UNBOUNDED
    * vocabulary: a Count-Min sketch over the token stream. The exact
    * groupBy's state is one counter per distinct token — fine for words,
    * unbounded for n-grams/URLs at corpus scale; the sketch is fixed
    * memory (depth × width counters from eps/confidence) regardless of
    * vocabulary, built distributed by `stat.countMinSketch` (per-partition
    * sketches, merged — CMS is linear, so the merge is counter addition
    * and the result is byte-identical to a single-pass build; ProfilingSpec
    * pins this). Guarantee: estimate ∈ [true, true + eps·N] with
    * probability ≥ confidence — one-sided, so a heavy-hitter screen never
    * FALSE-NEGATIVES. Cross-engine hash-matching a sketch is impossible
    * (like profileApprox's HLL), so the drop-in is certified by
    * ProfilingSpec against t5's exact counts at sf0.1.
    */
  def vocabSketch(s: SparkSession, dir: String, eps: Double = 1e-4,
      confidence: Double = 0.99,
      docFilter: Column = lit(true)): org.apache.spark.util.sketch.CountMinSketch =
    Tables.documents(s, dir)
      .filter(docFilter)
      .select(explode(tokens(col("text"))).as("token"))
      .stat.countMinSketch("token", eps, confidence, seed = 42)
}
