package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.DriverTier

/** Multimodal pipeline queries: the binary payload flows through the real
  * `mapPartitions` batch-decode plumbing ([[Multimodal.decodeMeta]]); the
  * DuckDB oracle replays the deterministic fake codec arithmetically on the
  * same bytes, so the whole path — binary cast, batching, typed decode,
  * downstream aggregation — is hash-checked, not just smoke-checked.
  */
object MultimodalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Decode metadata per media item (batched partition function), then a
    // plain DataFrame projection over the typed result.
    "mm1_decode_meta" -> ((s, dir) => {
      // codecFor: the conf flag swaps the REAL javax.imageio decoder
      // into this exact batched call site (MultimodalSpec does, over
      // real PNG/JPEG bytes); the gate's synthetic payloads keep the
      // oracle-replayable FakeCodec default
      Multimodal.decodeMeta(Multimodal.mediaFromDocuments(s, dir),
          codec = Multimodal.codecFor(s))
        .toDF()
        .select(col("media_id"), col("n_bytes"), col("width"), col("height"),
          col("channels"),
          element_at(col("channel_means"), 1).as("mean_c0"))
    }),

    // Aggregate over decoded metadata: per-kind payload statistics — the
    // "profile your corpus before training" query.
    "mm2_kind_stats" -> ((s, dir) => {
      Multimodal.decodeMeta(Multimodal.mediaFromDocuments(s, dir),
          codec = Multimodal.codecFor(s))
        .toDF()
        .groupBy("kind")
        .agg(count(lit(1)).as("n_items"),
          sum("n_bytes").as("total_bytes"),
          max("width").as("max_width"))
    }),

    // Resize (payload-transforming batch op) then re-decode — checks the
    // payload round-trip stays distributed and deterministic.
    "mm3_resize" -> ((s, dir) => {
      val resized = Multimodal.resize(
        Multimodal.mediaFromDocuments(s, dir), targetBytes = 128)
      Multimodal.decodeMeta(resized, codec = Multimodal.codecFor(s)).toDF()
        .select(col("media_id"), col("n_bytes"), col("width"), col("height"))
        .filter(col("media_id") < 100)
    }),

    // Frame sampling (the video shape): every 2nd 64-byte frame, one row
    // per kept frame, then per-item frame accounting — checks the
    // generator op's cardinality and the exact bytes kept. videoCodecFor:
    // `spark.graft.codec=mjpeg` swaps the REAL Motion-JPEG container
    // parser into this exact call site (MultimodalSpec does, over a
    // constructed concatenated-JPEG stream); the gate keeps the
    // oracle-replayable fixed-chunk FakeCodec default.
    "mm4_frame_sample" -> ((s, dir) => {
      Multimodal.sampleFrameRows(
          Multimodal.mediaFromDocuments(s, dir), frameSize = 64, every = 2,
          codec = Multimodal.videoCodecFor(s))
        .toDF()
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame"))).as("kept_bytes"))
    }),

    // Cross-item duplicate FRAME detection — sub-item dedup for video:
    // the static intro/outro/test-card frames every video pipeline
    // strips, and the storage-dedup unit (content-addressed chunk
    // store). mm4's frame generator at every=1 (all 32-byte frames,
    // ragged tail kept), each frame keyed by md5 of its BYTES, one
    // 16-byte-key hash groupBy, keep only keys seen in ≥ 2 DISTINCT
    // items. 100 TB shape: frames never pairwise-join — the only
    // shuffle carries (16-byte key, ids), and the output is bounded by
    // the corpus' duplicate-frame structure, not its size. Exact-dup
    // frames (not near-dup): that is the storage/chunk semantics; mm5's
    // perceptual banding is the near-dup leg at ITEM granularity.
    "mm11_frame_dup_groups" -> ((s, dir) => {
      Multimodal.sampleFrameRows(
          Multimodal.mediaFromDocuments(s, dir), frameSize = 32, every = 1,
          codec = Multimodal.videoCodecFor(s))
        .toDF()
        .select(col("media_id"), col("frame_idx").cast("long").as("fidx"),
          md5(col("frame")).as("frame_key"))
        .groupBy("frame_key")
        .agg(count(lit(1)).as("n_frames"),
          countDistinct("media_id").as("n_media"),
          min("media_id").as("first_media"),
          min("fidx").as("min_idx"))
        .filter(col("n_media") >= 2)
    }),

    // Multimodal near-dup — dd4's banded-sketch machinery applied to the
    // PERCEPTUAL hash of the decoded payload ([[Multimodal.perceptualHash]],
    // a dHash: adjacent-"pixel" comparisons over the resized fake decode):
    // the image-dedup stage of a multimodal pipeline, where re-encoded /
    // rescaled copies share gradients, not bytes. Same scale shape as
    // dd4: one 8-byte sketch per item (computed once in a narrow batched
    // pass), 8×8-bit band buckets with the adaptive flood cap, pair join
    // only inside buckets — never item×item — exact Hamming re-rank on
    // the capped candidates.
    "mm5_phash_neardup" -> ((s, dir) =>
      phashArtifacts(s, dir) match {
        case (Seq(top25, _), cap, Nil) =>
          top25.withColumn("cap_bucket", lit(cap))
        case (Seq(scored), cap, rel) =>
          QueryCache.resultThenRelease(
            scored.orderBy(col("hamming"), col("i"), col("j"))
              .limit(25)
              .withColumn("cap_bucket", lit(cap)),
            rel: _*)
      }),

    // Near-dup CLUSTERS over the perceptual-hash graph — mm5's pairs at
    // Hamming ≤ 12 (the very-near-copy band: re-encodes and rescales,
    // not merely similar gradients) collapsed to connected components,
    // the multimodal twin of dd8: the image-dedup stage ships one keeper
    // per cluster, and the cluster map IS that decision table. Same
    // min-label propagation operator (localCheckpoint rounds); the edge
    // frame is persisted and the candidate caches released before the
    // iteration fans out (dd8's cache discipline).
    "mm7_phash_clusters" -> ((s, dir) => {
      val (comp, cap, rel) = phashArtifacts(s, dir) match {
        case (Seq(_, clusters), cap, Nil) => (clusters, cap, Nil)
        case (Seq(scored), cap, rel) =>
          // componentsBounded: a driver-tier graph — tens of pairs
          // organically — folds as a driver union-find instead of
          // paying per-round job submissions; past the bound the Pregel
          // loop runs unchanged and its map is held on the driver when
          // it fits (same labels — OperatorPropertySpec)
          val comp = QueryCache.releasingOnFailure(rel) {
            graft.operators.ConnectedComponents.componentsBounded(
              scored.filter(col("hamming") <= 12).select("i", "j"),
              "i", "j", maxRows = DriverTier.MaxRows)
          }
          (comp, cap, rel)
      }
      val out = comp
        .select(col("node").as("media_id"), col("label").as("cluster_rep"))
        .withColumn("cap_bucket", lit(cap))
      if (rel.isEmpty) out else QueryCache.resultThenRelease(out, rel: _*)
    }),

    // CLIP-score filtering of image-caption pairs — the cross-modal
    // curation stage of the LAION-5B recipe (Schuhmann et al. 2022:
    // keep a pair only when the image-tower and text-tower embeddings
    // agree): each media item's vision embedding (the DETERMINISTIC
    // stub [[Multimodal.FakeCodec.clipEmbed]] standing in for the
    // encoder — the real model slots into the same batched
    // mapPartitions call site) is scored by plain dot against its
    // caption's unit text embedding (the SAME normalized frame
    // Similarity dumps as side_srp_sigs; embeddings.vec_id == doc_id ==
    // media_id in the driver fixture). Pairs below the threshold are
    // the drop set a curation run discards. Plan at 100 TB: the
    // encoder is a narrow batched pass fused with the scan, both join
    // sides key-partition on the id (bucket both and the join is
    // exchange-free), the score is the codegen dot — no shuffle beyond
    // the one id join, nothing quadratic. The oracle joins the img
    // dump against the srp_sigs dump and replays dot + threshold, so
    // the PAIRING and the decision are both under the gate.
    "mm10_clip_filter" -> ((s, dir) => {
      import graft.functions.VectorFunctions.dot
      val img = Multimodal.clipEmbeds(Multimodal.mediaFromDocuments(s, dir))
        .toDF()
      val cap = Similarity.srpBase(s, dir)
        .select(col("vec_id").as("media_id"), col("unit"))
      img.join(cap, Seq("media_id"))
        .select(col("media_id"),
          dot(col("img_unit"), col("unit")).as("clip_sim"))
        .withColumn("kept", col("clip_sim") >= lit(0.0))
    }),

    // Vision-token budget accounting — the context-length planning query
    // a vision-language training pipeline runs before packing: each image
    // costs ceil(w/14)·ceil(h/14) ViT-style patch tokens (integer ceil,
    // (x+13) DIV 14 — no float), its caption costs whitespace tokens, and
    // the per-kind roll-up reports the token mass plus how many items
    // overflow a (toy, codec-scaled) 96-token context — the number that
    // decides resize-vs-drop policy. Decoded dims flow through the SAME
    // batched mapPartitions codec as mm1 (the plumbing under test); the
    // caption join is key-to-key on the media id. At 100 TB both sides
    // partition on the id and the roll-up is map-side combined.
    "mm6_patch_budget" -> ((s, dir) => {
      import graft.functions.TextFunctions.tokenCount
      val meta = Multimodal.decodeMeta(Multimodal.mediaFromDocuments(s, dir),
        codec = Multimodal.codecFor(s))
        .toDF()
        .select(col("media_id"), col("kind"),
          expr("(width + 13) DIV 14").as("pw"),
          expr("(height + 13) DIV 14").as("ph"))
      val caps = graft.Tables.documents(s, dir)
        .select(col("doc_id").as("media_id"),
          tokenCount(col("text")).cast("long").as("ntok"))
      meta.join(caps, "media_id")
        .withColumn("item_tokens", col("pw") * col("ph") + col("ntok"))
        .groupBy("kind")
        .agg(count(lit(1)).as("n_items"),
          sum(col("pw") * col("ph")).as("total_patches"),
          sum(col("item_tokens")).as("total_item_tokens"),
          max(col("item_tokens")).as("max_item_tokens"),
          sum(when(col("item_tokens") > 96, 1L).otherwise(0L))
            .as("n_over_96"))
    }),

    // Energy VAD — the audio leg of the decode family: the batched "PCM
    // decode" ([[Multimodal.audioFrameEnergies]]) emits one integer-
    // energy row per 32-unit frame (generator shape, narrow), and
    // [[vadProfile]] segments it at the CODEC'S OWN threshold
    // (`AudioCodec.vadThrPerUnit` — ADVICE r10: the threshold is in the
    // codec's native energy unit, so it must travel with the codec:
    // 10000/byte² for the gate's FakeCodec — splitting the ASCII corpus
    // ~33% speech / 67% silence, the value mm8's oracle replays — and
    // the same RELATIVE level in sample² for WavCodec). audioCodecFor:
    // `spark.graft.codec=wav` swaps the REAL javax.sound.sampled WAV
    // decoder into this exact call site (MultimodalSpec does, over a
    // synthesized 16-bit PCM file); the gate keeps the oracle-replayable
    // FakeCodec default.
    "mm8_audio_vad" -> ((s, dir) => {
      val codec = Multimodal.audioCodecFor(s)
      val frames = Multimodal.audioFrameEnergies(
        Multimodal.mediaFromDocuments(s, dir), frameSize = 32,
        codec = codec).toDF()
      vadProfile(frames, thrPerUnit = codec.vadThrPerUnit)
    }),

    // Binary-FILE ingest — how image/audio payloads actually enter a
    // pipeline: one file per item on the staging store, read back
    // through Spark's built-in `binaryFile` source (path + content
    // columns, one task per file-split), item id recovered from the
    // file name (the reference's own provenance pattern — timestamps
    // live in file names, SURVEY §1.1), then the SAME batched codec as
    // mm1. The write is executor-side via the staging scheme's Hadoop
    // FS — distributed, no driver collect; 300 items bound the
    // small-file count at every SF (at 100 TB the item store is object
    // storage and the listing is the catalog's job, not a glob).
    // Oracle: the round trip cancels out — mm1's byte arithmetic over
    // the parquet truth, restricted to the same ids.
    "mm9_binary_ingest" -> ((s, dir) => {
      import s.implicits._
      val tmp = graft.util.Fs.mkStagingDir(s, "graft_bin_")
      try {
        // the SESSION Hadoop conf must reach the executors (shipped as
        // plain KV pairs — SerializableConfiguration is private[spark]):
        // a bare `new Configuration()` would drop every session-level fs
        // setting, e.g. GraftS3's fs.s3a.* credentials, breaking the
        // scheme-agnostic staging contract Fs.scala documents
        val hconf = s.sessionState.newHadoopConf()
        val confKv: Array[(String, String)] = {
          import scala.jdk.CollectionConverters._
          hconf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
        }
        // documents.parquet is single-row-group, so the filtered media
        // frame is ONE partition — unspread, the 300 file creates run
        // sequentially on a single core (profiled: 2.4 s of a 3.0 s
        // query, 1 task). Spreading to the configured shuffle
        // parallelism makes the write side scale with cores (guide §2.5
        // input skew: one unsplittable input partition → repartition
        // after the read); the 300-row shuffle is negligible and the
        // per-file payload is a deterministic function of media_id, so
        // placement does not affect the files produced.
        graft.Tables.spread(Multimodal.mediaFromDocuments(s, dir)
          .filter(col("media_id") < 300).toDF())
          .as[Multimodal.MediaRow]
          .foreachPartition { (it: Iterator[Multimodal.MediaRow]) =>
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confKv.foreach { case (k, v) => conf.set(k, v) }
            val base = new org.apache.hadoop.fs.Path(s"$tmp/docs")
            val fs = base.getFileSystem(conf)
            // local staging goes through Hadoop's ChecksumFileSystem,
            // which writes a .crc sibling per file — at 300 tiny files
            // the checksum bookkeeping dominates the create cost
            // (profiled ~54 ms/file with, ~17 ms/file without). The
            // call is part of the generic FileSystem API: object-store
            // FS implementations without client-side checksum files
            // ignore it, so the staging contract stays scheme-agnostic.
            fs.setWriteChecksum(false)
            it.foreach { m =>
              // no commit protocol, BY DESIGN and load-bearing: each
              // file's bytes are a deterministic function of media_id
              // alone, so a retried or speculative task rewrites
              // IDENTICAL content and overwrite=true makes the write
              // idempotent. If payloads ever become attempt-dependent
              // (timestamps, randomness), this must switch to
              // attempt-unique temp names + rename — a half-written
              // rerun would otherwise corrupt the binaryFile read-back.
              val out = fs.create(
                new org.apache.hadoop.fs.Path(base, s"${m.media_id}.bin"),
                true)
              try out.write(m.payload) finally out.close()
            }
          }
        val back = s.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin")
          .load(s"$tmp/docs")
          .select(
            regexp_extract(element_at(split(col("path"), "/"), -1),
              "^(\\d+)", 1).cast("long").as("media_id"),
            lit("img/ingest").as("kind"),
            col("content").as("payload"))
          .as[Multimodal.MediaRow]
        QueryCache.materializeLocal(
          Multimodal.decodeMeta(back, codec = Multimodal.codecFor(s))
            .toDF()
            .select(col("media_id"), col("n_bytes"), col("width"),
              col("height"),
              element_at(col("channel_means"), 1).as("mean_c0")))
      } finally {
        graft.util.Fs.rmTree(s, tmp)
      }
    }),

    // Aspect-ratio bucketing — the batching-efficiency planner for
    // image training/inference (the NovelAI/SDXL bucket-sampler shape,
    // and what any batched ViT server does to bound padding): each
    // decoded image lands in one of four fixed aspect classes by integer
    // permille ratio (1000·w DIV h — no float boundary can flip between
    // engines), and per bucket the roll-up reports the pad target
    // (max_w × max_h — items in a batch pad to their bucket's envelope),
    // the real pixel mass, the padded mass, and the integer-permille
    // padding waste — the number that decides whether a bucket needs
    // splitting. Dims flow through mm1's batched mapPartitions codec;
    // plan = decode-narrow scan → one 4-key map-side-combined agg. At
    // 100 TB the bucket id also becomes the repartition key that forms
    // homogeneous batches — same integer arithmetic, one shuffle.
    // Shot segmentation — the video-curation stage between mm4's frame
    // sampling and mm11's frame dedup: a cut is declared where the mean
    // byte-energy of consecutive frames jumps by more than τ = 600
    // (picked where the corpus segments at a ~25% cut rate — real
    // multi-frame shots, not one-shot-per-frame noise), shots are the
    // runs between cuts (running cut-count as the shot id — q19's
    // islands idiom), and the per-item profile (frame count, shot
    // count, longest shot) is what a sampler uses to pick K frames per
    // SHOT instead of K per video. Integer-exact by cross-multiplying
    // the mean compare (|ss_i·n_prev − ss_prev·n_i| > τ·n_i·n_prev —
    // no division), over the SAME energy frames as mm8 (one generator
    // definition); ONE media_id Exchange serves the lag window, the
    // running sum, and both aggregation levels (mm8's subset-rule
    // pattern).
    "mm13_shot_segments" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the VIDEO energy seam: under the gate's FakeCodec this is
      // byte-for-byte the audio-energy arithmetic the oracle replays
      // (FrameEnergyCte); `spark.graft.codec=mjpeg` swaps in
      // marker-delimited frames with decoded-sample² energies. τ = 600
      // is a mean-energy-per-unit jump, and both codecs emit 8-bit
      // amplitudes (payload bytes / 8-bit rasters, units 0..255²), so
      // the threshold means the same under either — unlike mm8's
      // 16-bit-PCM case, where the threshold must travel with the codec
      val fr = Multimodal.videoFrameEnergies(
        Multimodal.mediaFromDocuments(s, dir), frameSize = 32,
        codec = Multimodal.videoCodecFor(s)).toDF()
      val w = Window.partitionBy("media_id").orderBy("frame_idx")
      val cuts = fr
        .withColumn("pss", lag("sum_sq", 1).over(w))
        .withColumn("pn", lag("n_bytes", 1).over(w))
        .withColumn("cut", when(col("pss").isNotNull &&
          abs(col("sum_sq") * col("pn") - col("pss") * col("n_bytes")) >
            lit(600L) * col("n_bytes") * col("pn"), 1L).otherwise(0L))
        .withColumn("shot_id", sum("cut").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cuts.groupBy("media_id", "shot_id")
        .agg(count(lit(1)).as("n_rows"))
        .groupBy("media_id")
        .agg(sum("n_rows").as("n_frames"),
          count(lit(1)).as("n_shots"),
          max("n_rows").as("max_shot_frames"))
    }),

    "mm12_aspect_buckets" -> ((s, dir) => {
      val meta = Multimodal.decodeMeta(Multimodal.mediaFromDocuments(s, dir),
          codec = Multimodal.codecFor(s)).toDF()
        .select(col("media_id"), col("width"), col("height"))
        .withColumn("ar", expr("(1000 * width) DIV height"))
        .withColumn("bucket",
          when(col("ar") < 800, "portrait")
            .when(col("ar") < 1250, "square")
            .when(col("ar") < 2000, "landscape")
            .otherwise("wide"))
      meta.groupBy("bucket")
        .agg(count(lit(1)).as("n_items"),
          max("width").cast("long").as("max_w"),
          max("height").cast("long").as("max_h"),
          sum(col("width").cast("long") * col("height")).as("total_px"))
        .withColumn("padded_px",
          col("n_items") * col("max_w") * col("max_h"))
        .withColumn("waste_permille",
          expr("(1000 * (padded_px - total_px)) DIV padded_px"))
    })
  )

  /** mm8's VAD segmentation, factored over any [[Multimodal.AudioCodec]]
    * energy frame: a frame is "speech" iff Σa² ≥ thrPerUnit·n (exact
    * integer compare in the codec's native unit — unsigned bytes for the
    * gate's FakeCodec at thr 10000, signed 16-bit PCM samples for
    * WavCodec at a caller-chosen amplitude² scale), and speech segments
    * are the gaps-and-islands idiom (q19's sessionize, keyed per media
    * item) with the island key spelled as frame_idx − running-speech-
    * count — identical values to the filtered-row_number spelling (which
    * the oracle uses), but computable over the UNFILTERED frame, so
    * silence frames ride along (isl NULL) and the whole profile — total
    * frames, speech frames, segment count, longest segment, silence-only
    * items included — falls out of one window + one two-level
    * aggregation. Scale: ONE media_id Exchange serves the window AND
    * both groupBys (hash-partitioning on media_id satisfies the
    * (media_id, isl) clustering — subset rule), pinned by PlanShapeSpec.
    */
  private[graft] def vadProfile(frames: DataFrame,
      thrPerUnit: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = frames
      .withColumn("sp", col("sum_sq") >= lit(thrPerUnit) * col("n_bytes"))
      .withColumn("isl", when(col("sp"), col("frame_idx") -
        sum(when(col("sp"), 1L).otherwise(0L)).over(w)))
    flagged.groupBy("media_id", "isl")
      .agg(count(lit(1)).as("n_rows"))
      .groupBy("media_id")
      .agg(sum("n_rows").as("n_frames"),
        sum(when(col("isl").isNotNull, col("n_rows")).otherwise(0L))
          .as("n_speech_frames"),
        count(col("isl")).as("n_segments"),
        coalesce(max(when(col("isl").isNotNull, col("n_rows"))), lit(0L))
          .as("max_seg_frames"))
  }

  /** Queries served from the pHash artifact memo — Bench re-times
    * these raw (SparkEntry.memoizedQueries).
    */
  val memoizedNames: Set[String] = Set("mm5_phash_neardup",
    "mm7_phash_clusters")

  /** The pHash family's memo kind in [[QueryCache.memoized]]. */
  private[graft] val PhashKind = "phash"

  /** The pHash family's bounded artifacts, memoized ([[QueryCache.memoized]]
    * holds the key, raw switch and fallback contract): one machinery pass
    * per corpus builds both gated frames — mm5's top-25 scored pairs (25
    * rows by construction) and mm7's cluster map (bounded by the
    * very-near-copy structure), served as `(Seq(top25, clusters), cap,
    * Nil)`. The UNLIMITED scored-pair frame itself is never held: when
    * the ≤ 12-Hamming edge list outgrows `maxEdges` (or under the raw
    * switch) the live persisted scored frame comes back as
    * `(Seq(scored), cap, Seq(scored))`, the last element being what the
    * caller must release. `maxEdges` is injectable so the spec can force
    * that fallback on the driver fixture and pin it result-identical.
    */
  private[graft] def phashArtifacts(s: SparkSession, dir: String,
      maxEdges: Long = DriverTier.MaxRows)
      : (Seq[DataFrame], Long, Seq[DataFrame]) =
    QueryCache.memoized(s, dir, PhashKind, maxEdges) { bound =>
      val (p, cap, caches) = phashScoredPairs(s, dir)
      val (scored, _) = QueryCache.persistCounted(p, caches)
      QueryCache.releasingOnFailure(Seq(scored)) {
        val edges = scored.filter(col("hamming") <= 12).select("i", "j")
        if (edges.count() > bound) Left((Seq(scored), cap, Seq(scored)))
        else {
          val top = QueryCache.snapshot(
            scored.orderBy(col("hamming"), col("i"), col("j")).limit(25))
          // edges just counted ≤ bound — the driver union-find path
          // always engages here (memo population)
          val c = QueryCache.snapshot(graft.operators.ConnectedComponents
            .componentsBounded(edges, "i", "j", maxRows = bound))
          scored.unpersist(blocking = false)
          Right((Seq(top, c), cap))
        }
      }
    }

  /** mm5/mm7's shared candidate machinery: banded dHash buckets with the
    * adaptive flood cap, exact Hamming on surviving pairs — dd4's
    * capped-safe minimal-band single emission
    * ([[graft.operators.BandedPairs]]: no pair distinct(), no dHash
    * re-attach joins). Returns the UNLIMITED scored pair frame, the
    * derived cap, and the persisted frames the caller must release
    * (dd8's ownership discipline).
    */
  private def phashScoredPairs(s: SparkSession, dir: String)
      : (DataFrame, Long, Seq[DataFrame]) = {
    import graft.operators.BandedPairs
    val hashes = graft.Tables.spread(
        Multimodal.perceptualHash(Multimodal.mediaFromDocuments(s, dir))
          .toDF())
      .persist()
    val (scored0, cap, caches) = BandedPairs.minimalBandScoredPairs(
      hashes, "media_id", "phash", bands = 8, bitsPerBand = 8,
      Dedup.LshBucketFloor)
    val scored = scored0.select(col("i"), col("j"),
      col("hamming").cast("int").as("hamming"))
    (scored, cap, hashes +: caches)
  }

  /** The dHash-recompute + band/cap/pair/Hamming replay shared by mm5
    * and mm7's oracles — ends in a `scored(i, j, hamming)` CTE plus the
    * `capq` cap scalar (see mm5's entry for the arithmetic story).
    */
  private val PhashCtes: String =
    s"""d AS (SELECT doc_id AS media_id, text,
       |        octet_length(encode(text)) AS n FROM documents),
       |r AS (SELECT media_id, n,
       |        [ascii(substr(text,
       |           CASE WHEN n <= 65 THEN p + 1
       |                ELSE CAST(trunc(p * (n / 65.0)) AS INT) + 1 END, 1))
       |         for p in range(0, least(n, 65))] AS rb
       |      FROM d),
       |phh AS (SELECT media_id,
       |         COALESCE(CAST(list_sum(
       |           [CASE WHEN rb[p+2] > rb[p+1]
       |                 THEN (1::HUGEINT << p) ELSE 0::HUGEINT END
       |            for p in range(0, len(rb) - 1)]) AS HUGEINT),
       |           0::HUGEINT) AS h
       |        FROM r),
       |sk AS (SELECT media_id,
       |         CAST(h - CASE WHEN h >= 9223372036854775808::HUGEINT
       |                       THEN 18446744073709551616::HUGEINT
       |                       ELSE 0::HUGEINT END AS BIGINT) AS ph
       |       FROM phh),
       |keyed AS (SELECT media_id, b, (ph >> (8 * b)) & 255 AS k
       |          FROM (SELECT media_id, ph, unnest(range(0, 8)) AS b
       |                FROM sk)),
       |szs AS (SELECT b, k, count(*) AS bsz FROM keyed GROUP BY 1, 2),
       |bh AS (SELECT bsz AS v, count(*) AS c FROM szs GROUP BY 1),
       |capq AS (SELECT ${Dedup.permilleCapSql("bh", Dedup.LshBucketFloor)}
       |         AS cap),
       |ok AS (SELECT keyed.* FROM keyed JOIN szs USING (b, k)
       |       WHERE bsz <= (SELECT cap FROM capq)),
       |pairs AS (SELECT DISTINCT a.media_id AS i, b2.media_id AS j
       |          FROM ok a JOIN ok b2 USING (b, k)
       |          WHERE a.media_id < b2.media_id),
       |scored AS (SELECT i, j,
       |             CAST(bit_count(xor(sa.ph, sb.ph)) AS INTEGER) AS hamming
       |           FROM pairs
       |           JOIN sk sa ON sa.media_id = i
       |           JOIN sk sb ON sb.media_id = j)""".stripMargin

  /** mm8's per-frame integer-energy replay (32-byte frames, Σb² and
    * frame length from the text bytes) as a shared CTE prefix — mm8's
    * VAD oracle and mm13's shot-segmentation oracle both compose from
    * THIS string, so the two gates cannot disagree on frame geometry or
    * energy arithmetic (the P8Cte rule applied to the media family).
    */
  private val FrameEnergyCte: String =
    """fr AS (
      |  SELECT doc_id AS media_id,
      |    unnest(range(0, (octet_length(encode(text)) + 31) // 32))
      |      AS frame_idx,
      |    text, octet_length(encode(text)) AS nb
      |  FROM documents WHERE octet_length(encode(text)) > 0),
      |e AS (
      |  SELECT media_id, frame_idx,
      |    CAST(list_sum([ascii(substr(text, p, 1)) * ascii(substr(text, p, 1))
      |                   for p in range(frame_idx*32 + 1,
      |                     least((frame_idx+1)*32, nb) + 1)]) AS BIGINT)
      |      AS ss,
      |    least((frame_idx+1)*32, nb) - frame_idx*32 AS n
      |  FROM fr)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    // joins the vision-embedding dump against Similarity's caption-unit
    // dump (side_srp_sigs), replaying the PAIRING, the dot, and the
    // keep decision — the curation gate end-to-end downstream of the
    // (stubbed, spec-covered) encoder kernel
    "mm10_clip_filter" ->
      """WITH img AS (SELECT media_id, img_unit
        |  FROM read_parquet('{VERIFY_DIR}/side_mm10_img.parquet')),
        |cap AS (SELECT vec_id, unit
        |  FROM read_parquet('{VERIFY_DIR}/side_srp_sigs.parquet'))
        |SELECT i.media_id,
        |  list_dot_product(i.img_unit, c.unit) AS clip_sim,
        |  list_dot_product(i.img_unit, c.unit) >= 0.0 AS kept
        |FROM img i JOIN cap c ON c.vec_id = i.media_id""".stripMargin,

    // mean_c0 = mean of bytes at 0-based positions 0,3,6,… — the corpus is
    // ASCII, so ascii(substr(text,p,1)) == byte p-1 of the UTF-8 payload.
    "mm1_decode_meta" ->
      """SELECT doc_id AS media_id,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  (octet_length(encode(text)) % 256 + 1)::INT AS width,
        |  (octet_length(encode(text)) // 256 + 1)::INT AS height,
        |  3 AS channels,
        |  list_aggregate([ascii(substr(text, p, 1))
        |                  for p in range(1, len(text) + 1)
        |                  if (p - 1) % 3 = 0], 'avg') AS mean_c0
        |FROM documents""".stripMargin,

    "mm2_kind_stats" ->
      """SELECT 'img/' || source AS kind, count(*) AS n_items,
        |  sum(octet_length(encode(text)))::BIGINT AS total_bytes,
        |  max(octet_length(encode(text)) % 256 + 1)::INT AS max_width
        |FROM documents
        |GROUP BY 1""".stripMargin,

    "mm3_resize" ->
      """SELECT doc_id AS media_id,
        |  least(octet_length(encode(text)), 128)::BIGINT AS n_bytes,
        |  (least(octet_length(encode(text)), 128) % 256 + 1)::INT AS width,
        |  (least(octet_length(encode(text)), 128) // 256 + 1)::INT AS height
        |FROM documents
        |WHERE doc_id < 100""".stripMargin,

    // frames = ceil(n/64) chunks, kept = even indices; last chunk is
    // short (n - i*64 bytes). Zero-byte items yield no frames on the
    // Spark side (the groupBy drops them), so the oracle excludes them
    // too instead of emitting an (0, NULL) row the engine can't produce.
    "mm4_frame_sample" ->
      """SELECT doc_id AS media_id,
        |  (((octet_length(encode(text)) + 63) // 64) + 1) // 2 AS n_frames,
        |  CAST(list_sum([least(64, octet_length(encode(text)) - i * 64)
        |                 for i in range(0, (octet_length(encode(text)) + 63) // 64)
        |                 if i % 2 = 0]) AS BIGINT) AS kept_bytes
        |FROM documents
        |WHERE octet_length(encode(text)) > 0""".stripMargin,

    // every 32-byte frame re-keyed by md5 of the same bytes (substr is
    // byte-faithful on this ASCII corpus — the PhashCtes convention;
    // DuckDB hashes the substring's UTF-8 encoding, Spark the payload
    // slice, identical bytes → identical hex), then the same
    // group-and-threshold
    "mm11_frame_dup_groups" ->
      """WITH f AS (
        |  SELECT doc_id AS media_id, k AS frame_idx,
        |    md5(substr(text, CAST(k * 32 + 1 AS INT), 32)) AS frame_key
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0,
        |            (octet_length(encode(text)) + 31) // 32)) AS k
        |        FROM documents))
        |SELECT frame_key, count(*) AS n_frames,
        |  count(DISTINCT media_id) AS n_media,
        |  min(media_id) AS first_media, min(frame_idx) AS min_idx
        |FROM f GROUP BY 1
        |HAVING count(DISTINCT media_id) >= 2""".stripMargin,

    // Full arithmetic replay of mm5 — the dHash itself is recomputed
    // from the text bytes (resize subsample indices via trunc, adjacent
    // comparisons summed as HUGEINT then two's-complement-folded to the
    // engine's BIGINT), then dd4's band/cap/pair/Hamming replay runs on
    // the recomputed hashes. Nothing is taken from the engine: the gate
    // certifies the hash computation, the banding, the flood cap, and
    // the re-rank end to end.
    "mm5_phash_neardup" ->
      s"""WITH $PhashCtes
         |SELECT i, j, hamming, (SELECT cap FROM capq) AS cap_bucket
         |FROM scored
         |ORDER BY hamming, i, j
         |LIMIT 25""".stripMargin,

    // mm5's scored CTE thresholded at Hamming ≤ 12, then dd8's recursive
    // reachability replay (symmetric closure, min-reachable label)
    "mm7_phash_clusters" ->
      s"""WITH RECURSIVE $PhashCtes,
         |thr AS (SELECT i, j FROM scored WHERE hamming <= 12),
         |edges AS (SELECT i, j FROM thr UNION SELECT j, i FROM thr),
         |reach(node, rr) AS (
         |  SELECT i, i FROM edges
         |  UNION
         |  SELECT e.i, reach.rr FROM edges e JOIN reach ON e.j = reach.node)
         |SELECT node AS media_id, min(rr) AS cluster_rep,
         |  (SELECT cap FROM capq) AS cap_bucket
         |FROM reach GROUP BY node""".stripMargin,

    // mm1's dim arithmetic + integer patch ceil + the t-family token
    // count, rolled up per kind
    "mm6_patch_budget" ->
      """WITH m AS (
        |  SELECT 'img/' || source AS kind,
        |    ((octet_length(encode(text)) % 256 + 1) + 13) // 14 AS pw,
        |    ((octet_length(encode(text)) // 256 + 1) + 13) // 14 AS ph,
        |    len(string_split(text, ' '))::BIGINT AS ntok
        |  FROM documents),
        |i AS (
        |  SELECT kind, pw * ph AS patches,
        |    pw * ph + ntok AS item_tokens
        |  FROM m)
        |SELECT kind, count(*)::BIGINT AS n_items,
        |  sum(patches)::BIGINT AS total_patches,
        |  sum(item_tokens)::BIGINT AS total_item_tokens,
        |  max(item_tokens)::BIGINT AS max_item_tokens,
        |  sum(CASE WHEN item_tokens > 96 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_over_96
        |FROM i GROUP BY kind""".stripMargin,

    // full arithmetic replay of mm8: per-frame Σb² from the text bytes
    // (mm1's ascii(substr) byte access, mm4's chunk geometry), the same
    // integer VAD compare, the same islands window, per-item roll-up.
    // Zero-byte items yield no frames on the Spark side, so the oracle
    // excludes them (mm4's discipline).
    "mm8_audio_vad" ->
      s"""WITH $FrameEnergyCte,
        |sp AS (
        |  SELECT media_id, frame_idx,
        |    frame_idx - row_number() OVER (PARTITION BY media_id
        |      ORDER BY frame_idx) AS isl
        |  FROM e WHERE ss >= 10000 * n),
        |seg AS (SELECT media_id, isl, count(*) AS seg_len
        |        FROM sp GROUP BY 1, 2),
        |st AS (SELECT media_id, count(*)::BIGINT AS n_segments,
        |         CAST(sum(seg_len) AS BIGINT) AS n_speech_frames,
        |         max(seg_len)::BIGINT AS max_seg_frames
        |       FROM seg GROUP BY 1),
        |tot AS (SELECT media_id, count(*)::BIGINT AS n_frames
        |        FROM e GROUP BY 1)
        |SELECT tot.media_id, tot.n_frames,
        |  coalesce(st.n_speech_frames, 0)::BIGINT AS n_speech_frames,
        |  coalesce(st.n_segments, 0)::BIGINT AS n_segments,
        |  coalesce(st.max_seg_frames, 0)::BIGINT AS max_seg_frames
        |FROM tot LEFT JOIN st USING (media_id)""".stripMargin,

    // the file round trip cancels out: mm1's byte arithmetic over the
    // parquet truth, restricted to the ingested id range
    "mm9_binary_ingest" ->
      """SELECT doc_id AS media_id,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  (octet_length(encode(text)) % 256 + 1)::INT AS width,
        |  (octet_length(encode(text)) // 256 + 1)::INT AS height,
        |  list_aggregate([ascii(substr(text, p, 1))
        |                  for p in range(1, len(text) + 1)
        |                  if (p - 1) % 3 = 0], 'avg') AS mean_c0
        |FROM documents WHERE doc_id < 300""".stripMargin,

    // the SAME energy CTE as mm8 ([[FrameEnergyCte]]), the same
    // cross-multiplied integer cut compare, islands by running cut-count
    "mm13_shot_segments" ->
      s"""WITH $FrameEnergyCte,
        |c AS (
        |  SELECT media_id, frame_idx, ss, n,
        |    lag(ss) OVER (PARTITION BY media_id ORDER BY frame_idx) AS pss,
        |    lag(n) OVER (PARTITION BY media_id ORDER BY frame_idx) AS pn
        |  FROM e),
        |f AS (
        |  SELECT media_id, frame_idx,
        |    CASE WHEN pss IS NOT NULL
        |              AND abs(ss * pn - pss * n) > 600 * n * pn
        |         THEN 1 ELSE 0 END AS cut
        |  FROM c),
        |sh AS (
        |  SELECT media_id, frame_idx,
        |    sum(cut) OVER (PARTITION BY media_id ORDER BY frame_idx)
        |      AS shot_id
        |  FROM f),
        |g AS (SELECT media_id, shot_id, count(*) AS n_rows
        |      FROM sh GROUP BY 1, 2)
        |SELECT media_id, sum(n_rows)::BIGINT AS n_frames,
        |  count(*)::BIGINT AS n_shots,
        |  max(n_rows)::BIGINT AS max_shot_frames
        |FROM g GROUP BY media_id""".stripMargin,

    // mm1's dim arithmetic + the same integer permille bucket thresholds
    // + the same DIV padding-waste arithmetic — pure-integer end to end
    "mm12_aspect_buckets" ->
      """WITH m AS (
        |  SELECT octet_length(encode(text)) % 256 + 1 AS w,
        |    octet_length(encode(text)) // 256 + 1 AS h
        |  FROM documents),
        |b AS (
        |  SELECT w, h,
        |    CASE WHEN (1000 * w) // h < 800 THEN 'portrait'
        |         WHEN (1000 * w) // h < 1250 THEN 'square'
        |         WHEN (1000 * w) // h < 2000 THEN 'landscape'
        |         ELSE 'wide' END AS bucket
        |  FROM m),
        |g AS (
        |  SELECT bucket, count(*)::BIGINT AS n_items,
        |    max(w)::BIGINT AS max_w, max(h)::BIGINT AS max_h,
        |    sum(w * h)::BIGINT AS total_px
        |  FROM b GROUP BY bucket)
        |SELECT bucket, n_items, max_w, max_h, total_px,
        |  (n_items * max_w * max_h)::BIGINT AS padded_px,
        |  ((1000 * (n_items * max_w * max_h - total_px))
        |    // (n_items * max_w * max_h))::BIGINT AS waste_permille
        |FROM g""".stripMargin
  )

  /** Vision-embedding dump for mm10's oracle: the stub encoder's unit
    * vectors (the xxhash-style not-recomputable-in-DuckDB frame — the
    * encoder kernel itself is spec-covered; the oracle replays the
    * pairing, scoring, and keep decision from the dump).
    */
  val sideDumps: Map[String, (SparkSession, String) => DataFrame] = Map(
    "side_mm10_img" -> ((s, dir) =>
      Multimodal.clipEmbeds(Multimodal.mediaFromDocuments(s, dir)).toDF()))
}
