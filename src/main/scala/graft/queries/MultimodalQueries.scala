package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Multimodal
import graft.sources.Tables

/** Multimodal-column inventory (SURVEY.md §2): binary payload plumbing with
  * typed metadata. Image (BMP), audio (WAV), and video (uncompressed-DIB
  * AVI) decode are ALL real pure-JVM parsers. The whole chain — synthesis,
  * container layout, header parse, per-frame average-hash — is
  * deterministic in (doc_id, text bytes), so every query is
  * exact-oracle-checked: the DuckDB replay re-derives every feature from
  * the parquet text (BMP geometry + aHash cell math, WAV field formulas,
  * AVI container size arithmetic + the per-frame aHash over the text-slice
  * frames, 64-bit wrap-around mixes in HUGEINT).
  */
object MultimodalQueries {

  /** The decoded feature table — the stored artifact both the metadata
    * report and the image near-dup pass read; built once per (session,
    * sf-dir) like the dedup-side signature/gram memos so the BMP/WAV
    * payloads aren't synthesized and parsed once per query. */
  private val featMemo = new graft.operators.SessionMemo[DataFrame]

  private def features(s: SparkSession, dir: String): DataFrame =
    featMemo.get(s, dir) {
      Multimodal.extractFeatures(s,
          Multimodal.asMedia(Tables.sharded(s, dir, "documents")))
        .transform(graft.operators.Checkpointing.cut)
    }

  /** The decoded per-frame table, memoized like [[features]]: mm_frames,
    * mm_scene_cuts and the video keep list all read it — the AVI corpus is
    * walked once per session, not once per query. */
  private val framesMemo = new graft.operators.SessionMemo[DataFrame]

  private def videoFrames(s: SparkSession, dir: String): DataFrame =
    framesMemo.get(s, dir) {
      Multimodal.sampleFrames(s,
          Multimodal.asMedia(Tables.sharded(s, dir, "documents")))
        .transform(graft.operators.Checkpointing.cut)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_metadata" -> ((s, dir) => features(s, dir).orderBy("doc_id")),

    // one-to-many frame sampling over the video slice of the corpus
    "mm_frames" -> ((s, dir) =>
      videoFrames(s, dir).orderBy("doc_id", "frame_idx")),

    // Perceptual near-duplicate images: pairs of decoded images whose
    // 64-bit average-hashes differ in ≤ 4 bits — the image-side analog of
    // dedup_simhash, closing the loop between the multimodal decode tier
    // and the dedup tier (a training pipeline dedups images exactly this
    // way). Pigeonhole: 5 blocks (4×13 + 12 bits), hamming ≤ 4 pairs must
    // agree on ≥ 1 block, so candidates come from a bucket join on block
    // values — never an image×image cross join. Real-BMP aHash → the
    // whole pipeline replays in the oracle.
    "mm_near_dup" -> ((s, dir) => imagePairs(s, dir).orderBy("doc_a", "doc_b")),

    // The RESIZE primitive (r8) — the one multimodal verb the tier didn't
    // yet ship: decode each REAL 8bpp BMP, nearest-neighbor-downsample to
    // half extent (thumb(x,y) = src(2x,2y) — pure integer index
    // arithmetic, so the byte selection replays exactly), and report the
    // thumbnail geometry, its average-hash, and the EXACT integer sum of
    // the sampled bytes. Same typed mapPartitions batch-decode seam as the
    // feature pass (where a SIMD/GPU resize kernel would plug in);
    // map-only over the corpus, zero shuffles.
    "mm_thumbnail" -> ((s, dir) =>
      graft.operators.Multimodal.imageThumbnails(s,
          graft.operators.Multimodal.asMedia(Tables.sharded(s, dir, "documents")))
        .orderBy("doc_id")),

    // The audio RESAMPLE verb (r10) — completing the per-modality verb
    // matrix (image resize = mm_thumbnail, video frame-sample =
    // mm_frames): frame-granular 2× decimation, re-encode at half rate,
    // and a RE-PARSE of the produced container so the emitted artifact's
    // own header walk is what the gate hashes (encode→parse roundtrip
    // inside the gate). The oracle re-derives everything — frame counts
    // from the synthesis byte-length formulas, the decimated byte
    // selection by integer index mapping (incl. stereo frames and the
    // planted pattern docs), and the energy hash over the decimated
    // samples. Map-only over the audio slice, zero shuffles.
    "mm_audio_downsample" -> ((s, dir) =>
      graft.operators.Multimodal.audioDownsample(s,
          graft.operators.Multimodal.asMedia(Tables.sharded(s, dir, "documents")))
        .orderBy("doc_id")),

    // The pair graph's PRODUCTION consumption (the lesson the 30× scaling
    // audit recorded next to pigeonholePairs): when the near-dup relation
    // is dense, pair materialization is quadratic in family size, but the
    // canonical-cluster table is LINEAR in corpus size — one (doc,
    // canonical) row per clustered doc via the same pointer-jumping
    // connected components the text tier ships (Dedup.canonicalClusters).
    // This is what a media curation pass actually stores and joins on.
    "mm_dedup_clusters" -> ((s, dir) => imageClusters(s, dir).orderBy("doc_id")),

    // The media KEEP/DROP decision — the multimodal mirror of
    // dedup_keep_list: within each image near-dup cluster keep exactly
    // one member, the highest-RESOLUTION one (pixel count, doc_id
    // tie-break), and mark the rest as drops pointing at their kept
    // representative. Same de-skewed shape as the text tier: per-cluster
    // winner via the max_by aggregate (map-side partial argmax — no
    // window sorts a viral thumbnail cluster in one task), co-hashed
    // join back. Resolution comes from the REAL BMP header decode; the
    // oracle replays it from the synthesis geometry formulas.
    "mm_keep_list" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      // cut: the argmax aggregate and the join-back both read the scored rows
      val scored = graft.operators.Checkpointing.cut(imageClusters(s, dir)
        .join(features(s, dir).filter(col("modality") === "image")
          .select(col("doc_id"),
            (col("width") * col("height")).cast("long").as("pixels")), "doc_id"))
      val kept = scored.groupBy("canonical")
        .agg(expr("max_by(doc_id, struct(pixels, -doc_id))").as("kept_doc"))
      scored.join(kept, "canonical")
        .select(col("doc_id"), col("canonical").as("cluster"), col("pixels"),
          (col("doc_id") === col("kept_doc")).as("keep"), col("kept_doc"))
        .orderBy("doc_id")
    }),

    // Perceptual near-duplicate AUDIO: same pigeonhole bucket join over
    // the WAV data chunk's energy-envelope hash (the loudness-contour
    // fingerprint) — the audio-side analog of mm_near_dup, so every
    // decoded modality has a first-class dedup path. ehash = 0 is the
    // "no samples" sentinel (a real envelope hash is never 0: the loudest
    // window is always at or above the global mean).
    "mm_audio_near_dup" -> ((s, dir) =>
      audioPairs(s, dir).orderBy("doc_a", "doc_b")),

    // Audio near-dup pairs → canonical clusters via the shared
    // pointer-jumping components operator — completes the audio chain
    // (pair → cluster → keep) the image modality already has.
    "mm_audio_clusters" -> ((s, dir) => audioClusters(s, dir).orderBy("doc_id")),

    // The audio keep DECISION: within each cluster keep the LONGEST clip
    // by true DURATION — data bytes / (sample_rate × channels), all from
    // the real WAV header decode, NOT the raw byte count (a 24 kHz stereo
    // clip packs 6× more bytes per second than 8 kHz mono, so byte count
    // would keep the shorter clip). Ranked on integer-exact "ticks":
    // bytes × (96000 / (rate × channels)) — 96000 is the LCM of every
    // rate×channels the decoder emits, so the scale factor is an exact
    // integer and the argmax needs no double division. doc_id tie-break;
    // same argmax-aggregate shape as every other keep list.
    "mm_audio_keep_list" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val dur = features(s, dir).filter(col("modality") === "audio")
        .select(col("doc_id"),
          ((col("n_bytes") - 44) *
            expr("96000 div (sample_rate * channels)")).as("duration_ticks"))
      // cut: the argmax aggregate and the join-back both read the scored rows
      val scored = graft.operators.Checkpointing.cut(
        audioClusters(s, dir).join(dur, "doc_id"))
      val kept = scored.groupBy("canonical")
        .agg(expr("max_by(doc_id, struct(duration_ticks, -doc_id))").as("kept_doc"))
      scored.join(kept, "canonical")
        .select(col("doc_id"), col("canonical").as("cluster"),
          col("duration_ticks"),
          (col("doc_id") === col("kept_doc")).as("keep"), col("kept_doc"))
        .orderBy("doc_id")
    }),

    // Perceptual near-duplicate VIDEO: the same pigeonhole bucket join
    // over the container decode's representative fingerprint (frame 0's
    // average-hash) — with the AVI walker real, every modality now has a
    // first-class dedup path (image aHash, audio energy envelope, video
    // frame hash). A real aHash is never 0, so no sentinel filter is
    // needed: every decoded video carries a genuine fingerprint.
    "mm_video_near_dup" -> ((s, dir) =>
      videoPairs(s, dir).orderBy("doc_a", "doc_b")),

    // Video near-dup pairs → canonical clusters — the video link of the
    // per-modality pair → cluster → keep chain.
    "mm_video_clusters" -> ((s, dir) => videoClusters(s, dir).orderBy("doc_id")),

    // The video keep DECISION: within each cluster keep the clip with the
    // most DECODED frames (doc_id tie-break) — the frame count comes from
    // the real AVI walk (sampleFrames), not the synthesis formula, so the
    // decision consumes the decode surface end-to-end.
    "mm_video_keep_list" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val nFrames = videoFrames(s, dir)
        .groupBy("doc_id").agg(count(lit(1)).as("n_frames"))
      // cut: the argmax aggregate and the join-back both read the scored rows
      val scored = graft.operators.Checkpointing.cut(
        videoClusters(s, dir).join(nFrames, "doc_id"))
      val kept = scored.groupBy("canonical")
        .agg(expr("max_by(doc_id, struct(n_frames, -doc_id))").as("kept_doc"))
      scored.join(kept, "canonical")
        .select(col("doc_id"), col("canonical").as("cluster"), col("n_frames"),
          (col("doc_id") === col("kept_doc")).as("keep"), col("kept_doc"))
        .orderBy("doc_id")
    }),

    // Scene-cut detection over the decoded frame stream: consecutive-frame
    // perceptual-hash distance per video, flagged at hamming > 16 of 64 —
    // the shot-boundary signal a video curation pipeline samples keyframes
    // by. The lag window partitions by doc_id (high cardinality, ≤ 5 rows
    // per partition — bounded at any corpus size).
    // The bounded-bucket cap's LOUD accounting (r7): per modality, how
    // saturated the pigeonhole buckets are under pigeonBucketCap — total
    // buckets, worst bucket, saturated count, and the upper bound on
    // candidates the cap declined to enumerate. One row per modality at
    // every SF: "0 saturated" IS the measurement that the cap was
    // lossless there; nonzero rows are the measured (never silent)
    // degradation a dense corpus pays for bounded pair-build cost.
    "mm_bucket_overflow" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val img = features(s, dir)
        .filter(col("modality") === "image" && col("phash") =!= 0L)
        .select(col("doc_id"), col("phash").as("fp"))
      val aud = audioHashes(s, dir).filter(col("ehash") =!= 0L)
        .select(col("doc_id"), col("ehash").as("fp"))
      val vid = features(s, dir).filter(col("modality") === "video")
        .select(col("doc_id"), col("phash").as("fp"))
      pigeonOverflowStats(img, "image")
        .unionByName(pigeonOverflowStats(aud, "audio"))
        .unionByName(pigeonOverflowStats(vid, "video"))
        .orderBy("modality")
    }),

    "mm_scene_cuts" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("frame_idx")
      videoFrames(s, dir)
        .withColumn("prev", lag("frame_phash", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("doc_id"), col("frame_idx"),
          bit_count(col("frame_phash").bitwiseXOR(col("prev"))).cast("long")
            .as("hamming"))
        .withColumn("is_cut", col("hamming") > 16)
        .orderBy("doc_id", "frame_idx")
    }))

  /** Memoized audio fingerprints, lineage-cut like [[features]]: the
    * pigeonhole join references its input four times (self-join + two fp
    * lookups), and without the cut each reference would re-encode the
    * whole corpus inside asMedia's typed mapPartitions and re-decode the
    * WAVs. */
  private val audioMemo = new graft.operators.SessionMemo[DataFrame]

  private def audioHashes(s: SparkSession, dir: String): DataFrame =
    audioMemo.get(s, dir) {
      Multimodal.audioEnergyHashes(s,
          Multimodal.asMedia(Tables.sharded(s, dir, "documents")))
        .transform(graft.operators.Checkpointing.cut)
    }

  /** Hamming ≤ 4 pairs over a 64-bit fingerprint column `fp` via the
    * 5-block pigeonhole (4×13 + 12 bits): pairs within the radius must
    * agree on ≥ 1 block, so candidates come from a bucket join on block
    * values — never a fingerprint×fingerprint cross join. Shared by the
    * image and audio near-dup passes. Arithmetic-shift-then-mask is
    * engine-agnostic: the masks never reach the sign-fill bits. */
  /** The image near-dup pair table, memoized like the dedup-side pair
    * memos: both the pair report (mm_near_dup) and the cluster pass
    * (mm_dedup_clusters) read it, and the stored-artifact posture is the
    * production shape anyway (pairs are computed once per corpus build).
    * phash = 0 is the decoder's "no fingerprint" sentinel (non-8-bit
    * images); a REAL aHash is never 0 — the maximum cell is always ≥ the
    * global mean — so the filter drops exactly the un-hashed images,
    * which must not pair with each other as hamming-0 dups. */
  private val imgPairsMemo = new graft.operators.SessionMemo[DataFrame]

  private def imagePairs(s: SparkSession, dir: String): DataFrame =
    imgPairsMemo.get(s, dir) {
      import org.apache.spark.sql.functions._
      val imgs = features(s, dir)
        .filter(col("modality") === "image" && col("phash") =!= 0L)
        .select(col("doc_id"), col("phash").as("fp"))
      pigeonholePairs(imgs).transform(graft.operators.Checkpointing.cut)
    }

  /** Canonical image near-dup clusters, memoized: both the cluster report
    * and the keep-list decision read them, and the iterative CC loop is
    * the expensive part (pointer jumping over the pair graph). */
  private val imgClustersMemo = new graft.operators.SessionMemo[DataFrame]

  private def imageClusters(s: SparkSession, dir: String): DataFrame =
    imgClustersMemo.get(s, dir) {
      graft.operators.Dedup.canonicalClusters(
          imagePairs(s, dir).select("doc_a", "doc_b"))
        .transform(graft.operators.Checkpointing.cut)
    }

  /** The audio near-dup pair table, memoized like [[imagePairs]]: the pair
    * report and the cluster pass share it. ehash = 0 is the "no samples"
    * sentinel (a real envelope hash is never 0). */
  private val audPairsMemo = new graft.operators.SessionMemo[DataFrame]

  private def audioPairs(s: SparkSession, dir: String): DataFrame =
    audPairsMemo.get(s, dir) {
      import org.apache.spark.sql.functions.col
      val aud = audioHashes(s, dir)
        .filter(col("ehash") =!= 0L)
        .select(col("doc_id"), col("ehash").as("fp"))
      pigeonholePairs(aud).transform(graft.operators.Checkpointing.cut)
    }

  /** Canonical audio near-dup clusters, memoized like [[imageClusters]]. */
  private val audClustersMemo = new graft.operators.SessionMemo[DataFrame]

  private def audioClusters(s: SparkSession, dir: String): DataFrame =
    audClustersMemo.get(s, dir) {
      graft.operators.Dedup.canonicalClusters(
          audioPairs(s, dir).select("doc_a", "doc_b"))
        .transform(graft.operators.Checkpointing.cut)
    }

  /** The video near-dup pair table (frame-0 representative fingerprint),
    * memoized like the image and audio pair tables. */
  private val vidPairsMemo = new graft.operators.SessionMemo[DataFrame]

  private def videoPairs(s: SparkSession, dir: String): DataFrame =
    vidPairsMemo.get(s, dir) {
      import org.apache.spark.sql.functions.col
      val vids = features(s, dir)
        .filter(col("modality") === "video")
        .select(col("doc_id"), col("phash").as("fp"))
      pigeonholePairs(vids).transform(graft.operators.Checkpointing.cut)
    }

  /** Canonical video near-dup clusters, memoized. */
  private val vidClustersMemo = new graft.operators.SessionMemo[DataFrame]

  private def videoClusters(s: SparkSession, dir: String): DataFrame =
    vidClustersMemo.get(s, dir) {
      graft.operators.Dedup.canonicalClusters(
          videoPairs(s, dir).select("doc_a", "doc_b"))
        .transform(graft.operators.Checkpointing.cut)
    }

  /** Bounded-bucket cap for the pigeonhole joins (r7): a block bucket
    * holding more than this many fingerprints is EXCLUDED from candidate
    * generation — its cost would be |bucket|², and a bucket this size
    * means the fingerprint family does not distinguish its members (the
    * 30× measurement: single buckets of 16 344 fps carried 133 M of the
    * 242 M candidate mass). Pairs are only lost when EVERY block the two
    * fps agree on is saturated; the loss is accounted LOUDLY, per bucket,
    * by [[mm_bucket_overflow]] — never silent. 1024 is provably above
    * every bucket at the driver gate SFs (measured max: 48 at sf0.01,
    * 502 at sf0.1 — BucketProbe), so the cap is lossless where
    * correctness is hash-checked, and the CapSpec pins that. */
  private[graft] val pigeonBucketCap = 1024

  private def pigeonBlocks = {
    import org.apache.spark.sql.functions._
    array((0 until 5).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("fp"), b * 13)
          .bitwiseAND(lit(if (b == 4) 4095L else 8191L)).as("bval"))
    }: _*)
  }

  private[graft] def pigeonholePairs(items: DataFrame,
      bucketCap: Int = pigeonBucketCap): DataFrame = {
    import org.apache.spark.sql.functions._
    val bk = items.select(col("doc_id"), explode(pigeonBlocks).as("bk"))
    // bounded-bucket guard: candidate generation only inside buckets at or
    // under the cap. The size aggregate and the semi join key on the same
    // `bk` the self-join exchanges on, so the guard adds one linear pass,
    // while the quadratic term is now bounded by cap² per bucket.
    val ok = bk.groupBy("bk").agg(count(lit(1)).as("n"))
      .filter(col("n") <= bucketCap).select("bk")
    val bkOk = bk.join(ok, Seq("bk"), "left_semi")
    val cand = bkOk.as("a").join(bkOk.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(items.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), "doc_a")
      .join(items.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), "doc_b")
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= 4)
      .select("doc_a", "doc_b", "hamming")
    // NO trailing sort: the pair tables are memoized artifacts (ordering
    // would be materialized into the checkpoint as a wasted full shuffle —
    // at 30× the pair build IS the cost); the pair-report queries order at
    // their own output
  }

  /** The loud side of the cap: per-modality saturation accounting —
    * total/saturated bucket counts, the worst bucket, and the upper bound
    * on candidate pairs the cap declined to enumerate
    * (Σ n·(n−1)/2 over saturated buckets; an upper bound because a pair
    * can agree on several saturated blocks). Always `modalities` rows, so
    * the driver gate exercises real values at every SF — 0 saturated
    * buckets IS the measurement that the cap was lossless there. */
  private[graft] def pigeonOverflowStats(items: DataFrame, modality: String,
      bucketCap: Int = pigeonBucketCap): DataFrame = {
    import org.apache.spark.sql.functions._
    items.select(col("doc_id"), explode(pigeonBlocks).as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(max("n"), lit(0L)).as("max_bucket"),
        sum(when(col("n") > bucketCap, 1L).otherwise(0L)).as("n_saturated"),
        // n·(n−1) is always even → div is exact; integer math end to end
        coalesce(sum(when(col("n") > bucketCap,
          expr("n * (n - 1) div 2"))), lit(0L)).as("est_skipped_cand"))
      .select(lit(modality).as("modality"), col("n_buckets"),
        col("max_bucket"), col("n_saturated"), col("est_skipped_cand"))
  }
  // Probed alternatives for corpora with dense fingerprint clusters
  // (graft.tools.PigeonProbe, 30× scaled corpus, 50 k videos / 200 M
  // block-join candidates): (a) distinct-fp collapse before the block
  // join — no help, the degenerate corpus has near-UNIQUE fps that
  // cluster within hamming 4 (49 667 distinct of 50 000), and the
  // doc-level re-expansion costs 2-3×; (b) C(8,4)=70-combination
  // 32-bit-key pigeonhole — WORSE (319 M candidates): the synthetic
  // aHashes carry ~16 bits of corpus-wide entropy, so stronger exact
  // keys cannot separate what the data does not distinguish. When the
  // near-dup graph is this dense the pair relation itself is quadratic;
  // the production move is clustering to canonical representatives
  // (Dedup.canonicalClusters) or a tighter radius, not a cleverer join.

  /** Java Long wrap-around semantics for a HUGEINT product: reduce mod
    * 2^64 (normalized for negative dividends — DuckDB's % keeps the sign),
    * then map to signed 64-bit. One definition for every oracle multiply
    * that the JVM wraps silently. */
  private def wrap64(e: String): String = {
    val m = s"(($e) % 18446744073709551616 + 18446744073709551616) % 18446744073709551616"
    s"""CAST(CASE WHEN $m >= 9223372036854775808
       |          THEN $m - 18446744073709551616
       |          ELSE $m END AS BIGINT)""".stripMargin
  }

  /** AVI replay — geometry/frame-count formulas of the synthesized video
    * lake (w = id%11+4, h = id%5+3, nf = id%4+2), then the per-(doc, frame)
    * average-hash over the frame's pixels: frame f's pixel i is text byte
    * f·w·h+i (zero past the end) — the same aHash cell math as
    * [[imgHashCtes]], keyed by (doc_id, f). Requires the b2 hex-dump CTE. */
  private val videoFrameCtes =
    """v AS (
      |  SELECT doc_id, hx, blen, doc_id % 11 + 4 AS w, doc_id % 5 + 3 AS h,
      |         doc_id % 4 + 2 AS nf
      |  FROM b2 WHERE doc_id % 3 = 2),
      |vfr AS (SELECT doc_id, hx, blen, w, h, unnest(range(nf)) AS f FROM v),
      |vpx0 AS (
      |  SELECT doc_id, f, w, h, blen, hx, unnest(range(w * h)) AS i FROM vfr),
      |vpx AS (
      |  SELECT doc_id, f,
      |         ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS cell,
      |         CASE WHEN f * w * h + i < blen
      |              THEN ('0x' || substr(hx, CAST(2 * (f * w * h + i) + 1 AS INT), 2))::BIGINT
      |              ELSE 0 END AS p
      |  FROM vpx0),
      |vcells AS (
      |  SELECT doc_id, f, cell, sum(p) AS cs, count(*) AS cc
      |  FROM vpx GROUP BY doc_id, f, cell),
      |vtot AS (
      |  SELECT doc_id, f, sum(p) AS total, count(*) AS n
      |  FROM vpx GROUP BY doc_id, f),
      |vhash AS (
      |  SELECT c.doc_id, c.f,
      |         CAST(sum(CASE WHEN CAST(c.cs AS DOUBLE) / c.cc >= CAST(t.total AS DOUBLE) / t.n
      |                  THEN CASE WHEN c.cell = 63 THEN (-9223372036854775807 - 1)
      |                            ELSE (1::BIGINT << CAST(c.cell AS INT)) END
      |                  ELSE 0 END) AS BIGINT) AS fhash
      |  FROM vcells c JOIN vtot t ON t.doc_id = c.doc_id AND t.f = c.f
      |  GROUP BY c.doc_id, c.f)""".stripMargin

  /** BMP image aHash replay — b2 (hex dump) → img (geometry) → per-pixel
    * cells → ihash (the 64-bit average-hash). Shared by the mm_metadata
    * feature replay and the mm_near_dup pair oracle. */
  private val imgHashCtes =
    """img AS (
      |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 2 AS h, hx, blen
      |  FROM b2 WHERE doc_id % 3 = 0),
      |px0 AS (
      |  SELECT doc_id, w, h, blen, hx, unnest(range(w * h)) AS i FROM img),
      |px AS (
      |  SELECT doc_id,
      |         ((i // w) * 8 // h) * 8 + ((i % w) * 8 // w) AS cell,
      |         CASE WHEN i < blen
      |              THEN ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT
      |              ELSE 0 END AS p
      |  FROM px0),
      |cells AS (
      |  SELECT doc_id, cell, sum(p) AS cs, count(*) AS cc FROM px GROUP BY doc_id, cell),
      |tot AS (
      |  SELECT doc_id, sum(p) AS total, count(*) AS n FROM px GROUP BY doc_id),
      |ihash AS (
      |  SELECT c.doc_id,
      |         CAST(sum(CASE WHEN CAST(c.cs AS DOUBLE) / c.cc >= CAST(t.total AS DOUBLE) / t.n
      |                  THEN CASE WHEN c.cell = 63 THEN (-9223372036854775807 - 1)
      |                            ELSE (1::BIGINT << CAST(c.cell AS INT)) END
      |                  ELSE 0 END) AS BIGINT) AS phash
      |  FROM cells c JOIN tot t ON t.doc_id = c.doc_id GROUP BY c.doc_id)""".stripMargin

  /** WAV energy-envelope hash replay: audio docs (doc_id mod 3 = 1), data
    * chunk = the UTF-8 text bytes — EXCEPT the planted near-dup pairs
    * (doc_id ≡ 1 or 16 mod 30), whose 160 bytes replay the deterministic
    * pair-keyed pattern `(((g%2^20)·31 + i)·97 + 13) mod 256` with
    * g = doc_id − (doc_id%30 == 16 ? 15 : 0) (Multimodal.asMedia). Sample
    * i → window (i·64)//n, bit w set iff window mean ≥ global mean (IEEE
    * double compare, identical on both engines). Same shape as
    * [[imgHashCtes]]. */
  /** The shared hex-dump CTE every modality replay starts from. Kept OUT
    * of the per-modality CTE strings so multi-modality oracles
    * (mm_bucket_overflow) can compose them without a duplicate b2. */
  private val b2Cte =
    """b2 AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
      |  FROM documents)""".stripMargin

  private val audioHashCtes =
    """asrc AS (
      |  SELECT doc_id, hx,
      |         CASE WHEN doc_id % 30 IN (1, 16) THEN 160 ELSE blen END AS alen,
      |         doc_id % 30 IN (1, 16) AS seeded,
      |         CASE WHEN doc_id % 30 = 16 THEN doc_id - 15 ELSE doc_id END AS g
      |  FROM b2 WHERE doc_id % 3 = 1),
      |sm AS (
      |  SELECT doc_id, (i * 64) // alen AS w,
      |         CASE WHEN seeded THEN (((g % 1048576) * 31 + i) * 97 + 13) % 256
      |              ELSE ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT
      |         END AS v
      |  FROM (SELECT doc_id, hx, alen, seeded, g, unnest(range(alen)) AS i
      |        FROM asrc WHERE alen > 0)),
      |wsum AS (
      |  SELECT doc_id, w, sum(v) AS ws, count(*) AS wc FROM sm GROUP BY doc_id, w),
      |gtot AS (
      |  SELECT doc_id, sum(v) AS total, count(*) AS n FROM sm GROUP BY doc_id),
      |ehash AS (
      |  SELECT w.doc_id,
      |         CAST(sum(CASE WHEN CAST(w.ws AS DOUBLE) / w.wc >= CAST(g.total AS DOUBLE) / g.n
      |                  THEN CASE WHEN w.w = 63 THEN (-9223372036854775807 - 1)
      |                            ELSE (1::BIGINT << CAST(w.w AS INT)) END
      |                  ELSE 0 END) AS BIGINT) AS fp
      |  FROM wsum w JOIN gtot g ON g.doc_id = w.doc_id GROUP BY w.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // all three fingerprint replays composed over the shared b2, then the
    // bucket histogram and the cap accounting in exact integer math
    "mm_bucket_overflow" ->
      s"""WITH $b2Cte,
         |$imgHashCtes,
         |$audioHashCtes,
         |$videoFrameCtes,
         |vfp AS (SELECT doc_id, fhash AS fp FROM vhash WHERE f = 0),
         |fps AS (
         |  SELECT 'image' AS modality, doc_id, phash AS fp FROM ihash
         |  UNION ALL SELECT 'audio', doc_id, fp FROM ehash
         |  UNION ALL SELECT 'video', doc_id, fp FROM vfp),
         |bsz AS (
         |  SELECT modality, blk,
         |         (fp >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval,
         |         count(*) AS n
         |  FROM fps CROSS JOIN (SELECT unnest(range(5)) AS blk) bb
         |  GROUP BY modality, blk, bval)
         |SELECT modality, CAST(count(*) AS BIGINT) AS n_buckets,
         |       CAST(coalesce(max(n), 0) AS BIGINT) AS max_bucket,
         |       CAST(sum(CASE WHEN n > $pigeonBucketCap THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_saturated,
         |       CAST(coalesce(sum(CASE WHEN n > $pigeonBucketCap
         |                          THEN n * (n - 1) // 2 END), 0) AS BIGINT)
         |         AS est_skipped_cand
         |FROM bsz GROUP BY modality ORDER BY modality""".stripMargin,

    // energy-hash replay + the same 5-block pigeonhole candidates and
    // hamming ≤ 4 verify as the image pass
    "mm_audio_near_dup" ->
      s"""WITH $b2Cte,
         |$audioHashCtes,
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (fp >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM ehash CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST(bit_count(xor(ha.fp, hb.fp)) AS BIGINT) AS hamming
         |FROM cand c
         |JOIN ehash ha ON ha.doc_id = c.doc_a
         |JOIN ehash hb ON hb.doc_id = c.doc_b
         |WHERE bit_count(xor(ha.fp, hb.fp)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the full downsample replay: frame counts from the synthesis length
    // formulas, the decimated byte selection by integer index mapping
    // i = 2·(j div ba)·ba + (j mod ba) (stereo frames and the planted
    // pattern docs included), the energy hash over the decimated bytes,
    // and the re-encoded container's size arithmetic
    "mm_audio_downsample" ->
      s"""WITH $b2Cte,
         |asrc AS (
         |  SELECT doc_id, hx,
         |         CASE WHEN doc_id % 30 IN (1, 16) THEN 160 ELSE blen END AS alen,
         |         doc_id % 30 IN (1, 16) AS seeded,
         |         CASE WHEN doc_id % 30 = 16 THEN doc_id - 15 ELSE doc_id END AS g,
         |         doc_id % 2 + 1 AS ba,
         |         8000 * ((doc_id % 9) // 3 + 1) AS rate
         |  FROM b2 WHERE doc_id % 3 = 1),
         |dim AS (SELECT *, alen // ba AS frames,
         |               ((alen // ba) + 1) // 2 AS f2
         |        FROM asrc),
         |sm AS (
         |  SELECT doc_id, (j * 64) // (f2 * ba) AS w,
         |         CASE WHEN seeded THEN
         |                (((g % 1048576) * 31
         |                  + (2 * (j // ba) * ba + j % ba)) * 97 + 13) % 256
         |              ELSE ('0x' || substr(hx,
         |                CAST(2 * (2 * (j // ba) * ba + j % ba) + 1 AS INT),
         |                2))::BIGINT
         |         END AS v
         |  FROM (SELECT doc_id, hx, seeded, g, ba, f2,
         |               unnest(range(f2 * ba)) AS j
         |        FROM dim WHERE f2 > 0)),
         |wsum AS (SELECT doc_id, w, sum(v) AS ws, count(*) AS wc
         |         FROM sm GROUP BY 1, 2),
         |gtot AS (SELECT doc_id, sum(v) AS total, count(*) AS n
         |         FROM sm GROUP BY 1),
         |eh AS (
         |  SELECT w.doc_id,
         |         CAST(sum(CASE WHEN CAST(w.ws AS DOUBLE) / w.wc
         |                            >= CAST(g.total AS DOUBLE) / g.n
         |                  THEN CASE WHEN w.w = 63 THEN (-9223372036854775807 - 1)
         |                            ELSE (1::BIGINT << CAST(w.w AS INT)) END
         |                  ELSE 0 END) AS BIGINT) AS fp
         |  FROM wsum w JOIN gtot g ON g.doc_id = w.doc_id GROUP BY w.doc_id)
         |SELECT d.doc_id, CAST(d.rate AS BIGINT) AS rate,
         |       CAST(d.rate // 2 AS BIGINT) AS ds_rate,
         |       CAST(d.ba AS BIGINT) AS channels,
         |       CAST(d.frames AS BIGINT) AS n_frames,
         |       CAST(d.f2 AS BIGINT) AS ds_frames,
         |       CAST(44 + d.f2 * d.ba AS BIGINT) AS ds_bytes,
         |       CAST(d.f2 * d.ba AS BIGINT) AS ds_data_len,
         |       CAST(coalesce(eh.fp, 0) AS BIGINT) AS ds_energy
         |FROM dim d LEFT JOIN eh USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // frame-0 fingerprint replay + pigeonhole pairs + the shared recursive
    // components CTE — the video analog of mm_dedup_clusters
    "mm_video_clusters" ->
      s"""WITH RECURSIVE b2 AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
         |  FROM documents),
         |$videoFrameCtes,
         |vfp AS (SELECT doc_id, fhash AS fp FROM vhash WHERE f = 0),
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (fp >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM vfp CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN vfp ha ON ha.doc_id = c.doc_a
         |  JOIN vfp hb ON hb.doc_id = c.doc_b
         |  WHERE bit_count(xor(ha.fp, hb.fp)) <= 4),
         |${DedupQueries.clusterCtes}
         |SELECT doc_id, cluster AS canonical FROM clusters ORDER BY doc_id""".stripMargin,

    // cluster chain + n_frames from the frame replay (count of decoded
    // frames per video = the synthesis nf, proven round-trip by mm_frames),
    // then the keep rank
    "mm_video_keep_list" ->
      s"""WITH RECURSIVE b2 AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
         |  FROM documents),
         |$videoFrameCtes,
         |vfp AS (SELECT doc_id, fhash AS fp FROM vhash WHERE f = 0),
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (fp >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM vfp CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN vfp ha ON ha.doc_id = c.doc_a
         |  JOIN vfp hb ON hb.doc_id = c.doc_b
         |  WHERE bit_count(xor(ha.fp, hb.fp)) <= 4),
         |${DedupQueries.clusterCtes},
         |nfr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames
         |        FROM vhash GROUP BY doc_id),
         |kscored AS (
         |  SELECT c.doc_id, c.cluster, n.n_frames
         |  FROM clusters c JOIN nfr n ON n.doc_id = c.doc_id),
         |kranked AS (
         |  SELECT *, first_value(doc_id) OVER (PARTITION BY cluster
         |            ORDER BY n_frames DESC, doc_id) AS kept_doc
         |  FROM kscored)
         |SELECT doc_id, cluster, n_frames, doc_id = kept_doc AS keep, kept_doc
         |FROM kranked ORDER BY doc_id""".stripMargin,

    // energy-hash replay + pigeonhole pairs + the shared recursive
    // components CTE — the audio analog of mm_dedup_clusters
    "mm_audio_clusters" ->
      s"""WITH RECURSIVE $b2Cte,
         |$audioHashCtes,
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (fp >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM ehash CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN ehash ha ON ha.doc_id = c.doc_a
         |  JOIN ehash hb ON hb.doc_id = c.doc_b
         |  WHERE bit_count(xor(ha.fp, hb.fp)) <= 4),
         |${DedupQueries.clusterCtes}
         |SELECT doc_id, cluster AS canonical FROM clusters ORDER BY doc_id""".stripMargin,

    // cluster chain + true duration ticks: data bytes × (96000 // (rate ×
    // channels)), the header fields replayed by the same synthesis
    // formulas mm_metadata round-trips — then the keep rank
    "mm_audio_keep_list" ->
      s"""WITH RECURSIVE $b2Cte,
         |$audioHashCtes,
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (fp >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM ehash CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN ehash ha ON ha.doc_id = c.doc_a
         |  JOIN ehash hb ON hb.doc_id = c.doc_b
         |  WHERE bit_count(xor(ha.fp, hb.fp)) <= 4),
         |${DedupQueries.clusterCtes},
         |kscored AS (
         |  SELECT c.doc_id, c.cluster,
         |         CAST((CASE WHEN c.doc_id % 30 IN (1, 16) THEN 160
         |                    ELSE octet_length(encode(d.text)) END) *
         |              (96000 // ((8000 * ((c.doc_id % 9) // 3 + 1)) *
         |                         (c.doc_id % 2 + 1))) AS BIGINT) AS duration_ticks
         |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id),
         |kranked AS (
         |  SELECT *, first_value(doc_id) OVER (PARTITION BY cluster
         |            ORDER BY duration_ticks DESC, doc_id) AS kept_doc
         |  FROM kscored)
         |SELECT doc_id, cluster, duration_ticks, doc_id = kept_doc AS keep, kept_doc
         |FROM kranked ORDER BY doc_id""".stripMargin,

    // Replays the full decode surface: BMP geometry ((doc_id mod 13)+4 ×
    // (doc_id mod 7)+2, 8bpp + 1078-byte header/palette, rows padded to 4),
    // the aHash over the pixel bytes (text bytes zero-padded to w·h; cell
    // means vs global mean compared in IEEE doubles — bit-identical on both
    // engines), WAV fields (44-byte container, rate/channels formulas, the
    // (dataLen<<8 | 8)·2654435761 phash wrapped mod 2^64 like the JVM's
    // silent Long wrap), and the AVI container (1248-byte fixed skeleton +
    // nf·(8 + paddedRow·h) movi bytes, phash = frame 0's aHash).
    "mm_metadata" ->
      s"""WITH $b2Cte,
         |$imgHashCtes,
         |imeta AS (
         |  SELECT i.doc_id, 'image' AS modality,
         |         CAST(1078 + ((i.w + 3) // 4 * 4) * i.h AS BIGINT) AS n_bytes,
         |         CAST(i.w AS INTEGER) AS width, CAST(i.h AS INTEGER) AS height,
         |         1::INTEGER AS channels, 0::INTEGER AS sample_rate, ih.phash
         |  FROM img i JOIN ihash ih ON ih.doc_id = i.doc_id),
         |ameta AS (
         |  SELECT doc_id, 'audio' AS modality, CAST(44 + dlen AS BIGINT) AS n_bytes,
         |         0::INTEGER AS width, 0::INTEGER AS height,
         |         CAST(doc_id % 2 + 1 AS INTEGER) AS channels,
         |         CAST(8000 * ((doc_id % 9) // 3 + 1) AS INTEGER) AS sample_rate,
         |         -- wrapped like the JVM's silent Long multiply (a plain
         |         -- BIGINT multiply would ERROR past ~13.4 MB of text)
         |         ${wrap64("(dlen * 256 + 8)::HUGEINT * 2654435761")} AS phash
         |  FROM (SELECT doc_id,
         |               -- planted near-dup pairs carry the fixed 160-byte
         |               -- pattern instead of the text bytes (asMedia r7)
         |               CASE WHEN doc_id % 30 IN (1, 16) THEN 160 ELSE blen END AS dlen
         |        FROM b2 WHERE doc_id % 3 = 1)),
         |$videoFrameCtes,
         |vmeta AS (
         |  SELECT v.doc_id, 'video' AS modality,
         |         CAST(1248 + v.nf * (8 + ((v.w + 3) // 4 * 4) * v.h) AS BIGINT) AS n_bytes,
         |         CAST(v.w AS INTEGER) AS width, CAST(v.h AS INTEGER) AS height,
         |         1::INTEGER AS channels, 0::INTEGER AS sample_rate,
         |         vh.fhash AS phash
         |  FROM v JOIN vhash vh ON vh.doc_id = v.doc_id AND vh.f = 0)
         |SELECT * FROM (SELECT * FROM imeta UNION ALL SELECT * FROM ameta
         |               UNION ALL SELECT * FROM vmeta)
         |ORDER BY doc_id""".stripMargin,

    // Frame fan-out replay: nf = id%4+2 frames per video, ts from the
    // 250000 us/frame header interval, frame_phash = the frame's aHash.
    "mm_frames" ->
      s"""WITH b2 AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
         |  FROM documents),
         |$videoFrameCtes
         |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
         |       CAST(f * 250 AS BIGINT) AS ts_offset_ms,
         |       fhash AS frame_phash
         |FROM vhash ORDER BY doc_id, frame_idx""".stripMargin,

    // per-frame aHash replay + lag over frame order per video
    "mm_scene_cuts" ->
      s"""WITH b2 AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
         |  FROM documents),
         |$videoFrameCtes,
         |lagd AS (
         |  SELECT doc_id, f, fhash,
         |         lag(fhash) OVER (PARTITION BY doc_id ORDER BY f) AS prev
         |  FROM vhash)
         |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
         |       CAST(bit_count(xor(fhash, prev)) AS BIGINT) AS hamming,
         |       bit_count(xor(fhash, prev)) > 16 AS is_cut
         |FROM lagd WHERE prev IS NOT NULL
         |ORDER BY doc_id, frame_idx""".stripMargin,

    // per-frame aHash replay at f=0 + the same 5-block pigeonhole
    // candidates and hamming ≤ 4 verify as the image/audio passes
    "mm_video_near_dup" ->
      s"""WITH b2 AS (
         |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS blen
         |  FROM documents),
         |$videoFrameCtes,
         |vfp AS (SELECT doc_id, fhash AS fp FROM vhash WHERE f = 0),
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (fp >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM vfp CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST(bit_count(xor(ha.fp, hb.fp)) AS BIGINT) AS hamming
         |FROM cand c
         |JOIN vfp ha ON ha.doc_id = c.doc_a
         |JOIN vfp hb ON hb.doc_id = c.doc_b
         |WHERE bit_count(xor(ha.fp, hb.fp)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // thumbnail replay: the synthesis pixel model (byte i of the UTF-8
    // text, 0 past the end) sampled at src index 2·(i2//w2)·w + 2·(i2%w2),
    // the same aHash cell algebra as imgHashCtes over the half extents,
    // and the exact integer checksum of the sampled bytes
    "mm_thumbnail" ->
      s"""WITH $b2Cte,
         |img AS (
         |  SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 2 AS h,
         |         (doc_id % 13 + 4 + 1) // 2 AS w2,
         |         (doc_id % 7 + 2 + 1) // 2 AS h2, hx, blen
         |  FROM b2 WHERE doc_id % 3 = 0),
         |tp0 AS (
         |  SELECT doc_id, w, h, w2, h2, blen, hx,
         |         unnest(range(w2 * h2)) AS i2
         |  FROM img),
         |tp AS (
         |  SELECT doc_id, w, h, w2, h2, i2,
         |         ((i2 // w2) * 8 // h2) * 8 + ((i2 % w2) * 8 // w2) AS cell,
         |         CASE WHEN 2 * (i2 // w2) * w + 2 * (i2 % w2) < blen
         |              THEN ('0x' || substr(hx,
         |                     CAST(2 * (2 * (i2 // w2) * w + 2 * (i2 % w2)) + 1 AS INT),
         |                     2))::BIGINT
         |              ELSE 0 END AS p
         |  FROM tp0),
         |cells AS (
         |  SELECT doc_id, cell, sum(p) AS cs, count(*) AS cc
         |  FROM tp GROUP BY doc_id, cell),
         |tot AS (
         |  SELECT doc_id, sum(p) AS total, count(*) AS n,
         |         CAST(sum(p) AS BIGINT) AS checksum
         |  FROM tp GROUP BY doc_id),
         |th AS (
         |  SELECT c.doc_id,
         |         CAST(sum(CASE WHEN CAST(c.cs AS DOUBLE) / c.cc >=
         |                            CAST(t.total AS DOUBLE) / t.n
         |                  THEN CASE WHEN c.cell = 63 THEN (-9223372036854775807 - 1)
         |                            ELSE (1::BIGINT << CAST(c.cell AS INT)) END
         |                  ELSE 0 END) AS BIGINT) AS thumb_phash
         |  FROM cells c JOIN tot t ON t.doc_id = c.doc_id GROUP BY c.doc_id)
         |SELECT i.doc_id,
         |       CAST(i.w AS INTEGER) AS width, CAST(i.h AS INTEGER) AS height,
         |       CAST(i.w2 AS INTEGER) AS thumb_w, CAST(i.h2 AS INTEGER) AS thumb_h,
         |       th.thumb_phash, t.checksum AS thumb_checksum
         |FROM img i JOIN th USING (doc_id) JOIN tot t USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // aHash replay (shared CTEs) + the same 5-block pigeonhole candidates
    // and hamming ≤ 4 verify; shift-then-mask is identical on both engines
    // (the masks never reach the arithmetic-shift fill bits).
    "mm_near_dup" ->
      s"""WITH $b2Cte,
         |$imgHashCtes,
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (phash >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM ihash CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT c.doc_a, c.doc_b,
         |       CAST(bit_count(xor(ha.phash, hb.phash)) AS BIGINT) AS hamming
         |FROM cand c
         |JOIN ihash ha ON ha.doc_id = c.doc_a
         |JOIN ihash hb ON hb.doc_id = c.doc_b
         |WHERE bit_count(xor(ha.phash, hb.phash)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Same aHash + pigeonhole pair chain, then the shared recursive
    // connected-components CTEs (DedupQueries.clusterCtes) over it —
    // min-id label propagation, the exact semantics of
    // Dedup.canonicalClusters' pointer jumping.
    "mm_dedup_clusters" ->
      s"""WITH RECURSIVE $b2Cte,
         |$imgHashCtes,
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (phash >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM ihash CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN ihash ha ON ha.doc_id = c.doc_a
         |  JOIN ihash hb ON hb.doc_id = c.doc_b
         |  WHERE bit_count(xor(ha.phash, hb.phash)) <= 4),
         |${DedupQueries.clusterCtes}
         |SELECT doc_id, cluster AS canonical FROM clusters ORDER BY doc_id""".stripMargin,

    // Cluster chain + the synthesis geometry formulas (w = id%13+4,
    // h = id%7+2 — the decode round-trips them, mm_metadata proves it),
    // then the keep rank exactly as dedup_keep_list's oracle.
    "mm_keep_list" ->
      s"""WITH RECURSIVE $b2Cte,
         |$imgHashCtes,
         |blocks AS (
         |  SELECT doc_id, blk,
         |         (phash >> CAST(blk * 13 AS INT)) &
         |         CASE WHEN blk = 4 THEN 4095 ELSE 8191 END AS bval
         |  FROM ihash CROSS JOIN (SELECT unnest(range(5)) AS blk) bb),
         |okb AS (
         |  SELECT bl.doc_id, bl.blk, bl.bval FROM blocks bl
         |  JOIN (SELECT blk, bval FROM blocks GROUP BY blk, bval
         |        HAVING count(*) <= $pigeonBucketCap) sz USING (blk, bval)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM okb a JOIN okb b
         |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id),
         |pairs AS (
         |  SELECT c.doc_a, c.doc_b
         |  FROM cand c
         |  JOIN ihash ha ON ha.doc_id = c.doc_a
         |  JOIN ihash hb ON hb.doc_id = c.doc_b
         |  WHERE bit_count(xor(ha.phash, hb.phash)) <= 4),
         |${DedupQueries.clusterCtes},
         |scored AS (
         |  SELECT doc_id, cluster,
         |         CAST(((doc_id % 13) + 4) * ((doc_id % 7) + 2) AS BIGINT) AS pixels
         |  FROM clusters),
         |ranked AS (
         |  SELECT *, first_value(doc_id) OVER (PARTITION BY cluster
         |            ORDER BY pixels DESC, doc_id) AS kept_doc
         |  FROM scored)
         |SELECT doc_id, cluster, pixels, doc_id = kept_doc AS keep, kept_doc
         |FROM ranked ORDER BY doc_id""".stripMargin)
}
