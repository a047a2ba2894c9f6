package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Text}
import graft.sources.Tables

/** Deduplication inventory (SURVEY.md §2): exact + the near-dup family.
  *
  * Scale shape for every near-dup op: signature in the map phase (per-row,
  * codegen'd), explode into bucket keys, shuffle ONCE on the bucket key,
  * compare only within buckets (never a global cross join), emit `a < b`
  * pairs so each candidate is examined once.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Sharded read for the signature stages (single-file local parquet would
    * otherwise pin the whole map phase to one core). */
  private def docsSharded(s: SparkSession, dir: String): DataFrame =
    Tables.sharded(s, dir, "documents")

  /** Candidate pairs from exploded bucket keys, dedup'd. `sigged` must carry
    * (doc_id, sig); `bucketCol` produces an array of bucket-key structs. */
  private def bucketPairs(sigged: DataFrame, buckets: org.apache.spark.sql.Column): DataFrame = {
    val b = sigged.select(col("doc_id"), explode(buckets).as("bk"))
    b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Join candidate pairs back to their signatures and score them — the
    * verify stage shared by every signature-bucketing dedup pipeline. */
  private def verifyPairs(
      sigged: DataFrame, pairs: DataFrame,
      score: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      scoreName: String, keep: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame =
    pairs
      .join(sigged.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigged.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn(scoreName, score(col("sig_a"), col("sig_b")))
      .filter(keep(col(scoreName)))
      .select(col("doc_a"), col("doc_b"), col(scoreName))

  /** Verified MinHash-LSH near-dup pairs (shared by the pair query and the
    * cluster canonicalization). Checkpointing.cut = the analog of
    * materializing signatures to storage (what a 100 TB run does): the plan
    * uses `sigged` three times and must not recompute it — and unlike
    * persist(), checkpointed storage is reclaimed by the ContextCleaner
    * when the frame goes out of scope, so repeated query invocations in a
    * long session don't leak cache entries.
    *
    * The verified pairs themselves are memoized per (session, sf-dir): a
    * real pipeline materializes the candidate-pair table once and every
    * downstream pass (pair report, clustering, verify joins) reads it, so
    * `dedup_minhash_lsh` and `dedup_clusters` in one session must not pay
    * signatures + banding twice. */
  private val pairsMemo = new graft.operators.SessionMemo[DataFrame]
  private val sigsMemo = new graft.operators.SessionMemo[DataFrame]
  private val rankedMemo = new graft.operators.SessionMemo[DataFrame]

  /** The rarest-first ranked distinct-gram table (checkpointed inside
    * `rankedByRarity`) — the stored corpus artifact BOTH prefix-filter
    * joins (exact Jaccard and containment) read, built once per
    * (session, sf-dir) like the signature tables. */
  private def rankedGrams(s: SparkSession, dir: String): DataFrame =
    rankedMemo.get(s, dir) {
      graft.operators.Dedup.rankedByRarity(
        docsSharded(s, dir).select(col("doc_id"),
          // native one-pass shingle+hash+distinct (bit-equal to
          // array_distinct(transform(wordShingles(text,3), xxhash64)),
          // which costs 3 interpreted HOFs per row)
          graft.plans.NgramHashes.hashes(s, col("text"), 3).as("grams")))
    }

  /** The corpus minhash signature table — the dominant linear map phase,
    * computed once per (session, sf-dir) and shared by the pair pipeline
    * AND the incremental-ingest query (in production this IS the stored
    * signature table each ingest reads). */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    sigsMemo.get(s, dir) {
      docsSharded(s, dir).select(col("doc_id"),
        // one-pass text→minhash; the md5+affine-mod-(2^61−1) family so the
        // ENTIRE near-dup pipeline (sigs → bands → candidates → estimate)
        // replays exactly in DuckDB — dedup_minhash_lsh / _clusters /
        // _incremental are exact-oracle-checked, not rows-only
        graft.plans.NgramHashes.minhashMd5(s, col("text"), 3, 64)
          .as("sig")).transform(graft.operators.Checkpointing.cut)
    }

  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    pairsMemo.get(s, dir) {
      val sigged = minhashSigs(s, dir)
      val pairs = bucketPairs(sigged,
        graft.plans.NgramHashes.bands(s, col("sig"), 16, 4))
      verifyPairs(sigged, pairs,
        (a, b) => round(Hashes.minhashSimilarity(a, b), 4),
        "est_jaccard", _ >= 0.5)
        .transform(graft.operators.Checkpointing.cut)
    }

  /** The near-dup keep DECISION table (doc_id, cluster, quality_score,
    * keep, kept_doc) — memoized: `dedup_keep_list` surfaces it and
    * `pipeline_dedup_yield` consumes it, and a production pipeline stores
    * the decision once per corpus.
    *
    * Join FIRST, score after: the regex-heavy quality score runs only over
    * cluster members (a sliver of the corpus), not every doc. Per-cluster
    * winner is a max_by AGGREGATE (map-side partial argmax, exchange
    * carries one row per cluster) + a co-hashed join back — the window form
    * (first over partitionBy(canonical) ordered by quality) sorts every
    * member of a cluster in one task, which a viral-boilerplate cluster of
    * millions would single-reduce. Maximizing (quality_score, -doc_id) =
    * quality desc, doc_id asc — doc_id uniqueness makes the argmax
    * tie-free. */
  private val keepMemo = new graft.operators.SessionMemo[DataFrame]

  private[queries] def keepList(s: SparkSession, dir: String): DataFrame =
    keepMemo.get(s, dir) {
      keepListPlan(s, dir).transform(graft.operators.Checkpointing.cut)
    }

  /** The uncut keep-list construction — separate from [[keepList]] so the
    * plan-shape spec (DeskewSpec: argmax aggregate, NO per-cluster window)
    * can still see the logical plan the memoized artifact hides behind its
    * lineage cut. */
  private[graft] def keepListPlan(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.Dedup.canonicalClusters(minhashPairs(s, dir))
    // cut: the argmax aggregate and the join-back both read the scored rows
    val scored = graft.operators.Checkpointing.cut(clusters
      .join(docsSharded(s, dir).select("doc_id", "text"), "doc_id")
      .withColumn("quality_score",
        graft.functions.Text.qualityScore(col("text")))
      .drop("text"))
    val kept = scored.groupBy("canonical")
      .agg(expr("max_by(doc_id, struct(quality_score, -doc_id))").as("kept_doc"))
    scored.join(kept, "canonical")
      .select(col("doc_id"), col("canonical").as("cluster"),
        col("quality_score"), (col("doc_id") === col("kept_doc")).as("keep"),
        col("kept_doc"))
  }

  /** doc_id-ordered, mtime-stamped document chunks — the replay input of
    * the streaming near-dup gate (4 ingest batches standing in for a
    * corpus arriving over time). */
  private val streamFeedMemo = new graft.operators.SessionMemo[String]

  private def docFeedDir(s: SparkSession, dir: String): String =
    streamFeedMemo.get(s, dir) {
      graft.streaming.StreamGate.writeOrderedChunks(
        docs(s, dir).select(col("doc_id"), col("text")),
        "doc_id", chunks = 4, prefix = "graft-dedup-stream")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // STREAMING near-dup detection, gated (r9): `DedupStream.nearDupMatches`
    // — state keyed BY LSH BUCKET (each arriving doc compares only against
    // its buckets' members, never the corpus; the batch candidate criterion
    // run incrementally) — over the doc_id-ordered 4-chunk replay. Every
    // pair sharing >= 1 band bucket is compared exactly once, when its
    // later member arrives, so the DISTINCT emission set equals the batch
    // MinHash-LSH pair table REGARDLESS of chunking (a pure function of the
    // signature set) — and the batch pipeline's full DuckDB replay oracles
    // the streaming ENGINE end-to-end. Same codegen'd signature/band
    // expressions both sides, so est_jaccard matches bit-for-bit.
    "dedup_stream" -> ((s, dir) => {
      val stream = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(docFeedDir(s, dir))
      graft.streaming.StreamGate.run(s,
          graft.streaming.DedupStream.nearDupMatches(s, stream), "dedup_gate",
          org.apache.spark.sql.streaming.OutputMode.Append()) { sink =>
        // one emission per agreeing band (bucket-local state cannot see
        // other buckets) → the pair table is the distinct over the drain,
        // exactly the batch pipeline's `.distinct()`
        graft.operators.Checkpointing.cut(
          sink.select("doc_a", "doc_b", "est_jaccard").distinct())
      }.orderBy("doc_a", "doc_b")
    }),

    // Exact dedup: hash-groupBy, lowest doc_id is the canonical survivor.
    "dedup_exact" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "content_hash", "n_copies")
        .orderBy("doc_id")),

    // NORMALIZED exact dedup (r10) — the canonicalize-then-hash pass
    // between byte-exact dedup and minhash near-dup (the Dolma/CCNet
    // first cut): lowercase, punctuation → separator, whitespace runs
    // collapsed, boundary space trimmed — so case/punctuation/spacing
    // variants of one text land in ONE group byte-exact dedup misses.
    // The char class is [^a-z0-9 ] on ALREADY-lowercased text — plain
    // enough that Java and RE2 regex agree by construction. Same shape
    // as dedup_exact: one map-side canonical hash, one groupBy; the
    // n_variants column (distinct RAW hashes per canonical group) is
    // what separates this from dedup_exact in the report. EVERY group
    // emits (the gate lake carries no duplicates at all — a >1 filter
    // would gate an empty frame; the canonical signature column keeps
    // the hash check non-vacuous on a dup-free lake, and a consumer
    // filters n_copies > 1 for the candidate list).
    "dedup_normalized" -> ((s, dir) => {
      val canon = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      docs(s, dir)
        .select(col("doc_id"), md5(canon).as("ch"), md5(col("text")).as("rh"))
        .groupBy("ch")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
          countDistinct("rh").as("n_variants"))
        .select(substring(col("ch"), 1, 12).as("canon_sig"), col("keep_id"),
          col("n_copies"), col("n_variants"))
        .orderBy("keep_id")
    }),

    // MinHash(64) + LSH(16 bands × 4 rows): candidates share a band bucket;
    // verify by signature agreement ≥ 0.5 estimated Jaccard.
    "dedup_minhash_lsh" -> ((s, dir) =>
      minhashPairs(s, dir).orderBy("doc_a", "doc_b")),

    // Pairs → canonical clusters (connected components, min doc_id label):
    // the form a dedup pass actually consumes ("keep canonical, drop rest").
    "dedup_clusters" -> ((s, dir) =>
      graft.operators.Dedup.canonicalClusters(minhashPairs(s, dir))
        .orderBy("doc_id")),

    // The final dedup DECISION list — where the near-dup machinery meets
    // the quality tier: within each near-dup cluster keep exactly one
    // member, the highest-quality one (doc_id tie-break), and mark the
    // rest as drops pointing at their kept representative. Shares the
    // memoized pair table and the replayable quality score, so the whole
    // decision replays in DuckDB (recursive cluster CTE + quality
    // formula + rank).
    "dedup_keep_list" -> ((s, dir) => keepList(s, dir).orderBy("doc_id")),

    // Group-level signatures via the minhash_merge aggregate: element-wise
    // min of member sigs = the signature of the group's UNION of shingles,
    // so cross-source similarity is estimated from 20 tiny sketches instead
    // of re-scanning text. Partial-agg (map-side combine) applies as with
    // any built-in aggregate.
    "dedup_source_sigs" -> ((s, dir) => {
      val sigged = docsSharded(s, dir).select(col("source"),
        // replayable md5+affine family (see minhashSigs) → exact oracle
        graft.plans.NgramHashes.minhashMd5(s, col("text"), 3, 64).as("sig"))
      // checkpoint before the self-join or the full-corpus signature scan
      // underneath the aggregate runs twice
      val bySource = sigged.groupBy("source")
        .agg(graft.plans.NativeHashes.minhashMerge(s, col("sig")).as("source_sig"),
          count(lit(1)).as("n_docs"))
        .transform(graft.operators.Checkpointing.cut)
      bySource.select(col("source").as("source_a"), col("source_sig").as("sig_a"),
          col("n_docs").as("n_docs_a"))
        .join(bySource.select(col("source").as("source_b"), col("source_sig").as("sig_b")),
          col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"), col("n_docs_a"),
          round(Hashes.minhashSimilarity(col("sig_a"), col("sig_b")), 4)
            .as("est_union_jaccard"))
        .orderBy("source_a", "source_b")
    }),

    // SimHash near-dup: 4×15-bit blocks (pigeonhole: hamming ≤ 3 pairs
    // share a block), verify hamming ≤ 3. The signature is the 60-bit
    // md5-prefix SimHash (NativeHashes.md5SimhashSig) — same one-native-pass
    // scale shape as the XXH64 variant, but the token hash is replayable in
    // DuckDB, so this query is exact-oracle-checked instead of rows-only.
    "dedup_simhash" -> ((s, dir) => {
      val sigged = docsSharded(s, dir).select(col("doc_id"),
        graft.plans.NativeHashes.md5SimhashSig(s, Text.wsTokens(lower(col("text"))))
          .as("sig")).transform(graft.operators.Checkpointing.cut)
      val blocks = array((0 until 4).map(b => struct(lit(b).as("blk"),
        shiftright(col("sig"), b * 15).bitwiseAND(lit(32767L)).as("bval"))): _*)
      val pairs = bucketPairs(sigged, blocks)
      verifyPairs(sigged, pairs,
        (a, b) => bit_count(a.bitwiseXOR(b)).cast("long"),
        "hamming", _ <= 3)
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental ingest dedup: docs in the "newest batch" (doc_id % 10 ==
    // 9 stands in for the ingest increment) are checked against the whole
    // corpus via LSH buckets — corpus-vs-corpus pairs are excluded by
    // construction because they were found at their own ingest time. In
    // production the corpus side reads its STORED signature table; here
    // both sides come off the same scan.
    "dedup_incremental" -> ((s, dir) => {
      // reads the memoized signature table (the stored index in
      // production) — the signature map phase is never paid twice per
      // session across the lsh/clusters/incremental queries
      val sigged = minhashSigs(s, dir)
        .withColumn("is_new", pmod(col("doc_id"), lit(10)) === 9)
      val pairs = graft.operators.Dedup.incrementalPairs(
        sigged, graft.plans.NgramHashes.bands(s, col("sig"), 16, 4))
      verifyPairs(sigged.drop("is_new"), pairs,
        (a, b) => round(Hashes.minhashSimilarity(a, b), 4),
        "est_jaccard", _ >= 0.5)
        .orderBy("doc_a", "doc_b")
    }),

    // Cross-source duplication matrix (the curation signal "how much of
    // source A near-duplicates source B"): the memoized verified near-dup
    // pair table joined to each side's source, counted per unordered
    // source pair (same-source rows included — intra-source dup mass is a
    // curation signal too). Reads the stored pair artifact; the only new
    // work is two id→source joins and a ≤ sources² aggregation.
    "dedup_cross_source" -> ((s, dir) => {
      val src = docs(s, dir).select(col("doc_id"), col("source"))
      minhashPairs(s, dir)
        // recover the integer slot-agreement count from the 4dp estimate
        // (round(est·64) is exact: est is within 5e-5 of k/64) so the mean
        // is sum-of-ints / (64·count) — ONE division, ONE rounding, no
        // summation-order FP sensitivity on either engine
        .withColumn("n_eq", round(col("est_jaccard") * 64).cast("long"))
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
        .groupBy(least(col("src_a"), col("src_b")).as("source_a"),
          greatest(col("src_a"), col("src_b")).as("source_b"))
        .agg(count(lit(1)).as("n_near_dup_pairs"),
          round(sum("n_eq").cast("double") / (count(lit(1)) * 64), 4).as("mean_est_jaccard"))
        .orderBy("source_a", "source_b")
    }),

    // Exact n-gram Jaccard ≥ 0.8 via prefix-filtering set-similarity join
    // (AllPairs/PPJoin shape, Bayardo et al. WWW'07): order each doc's
    // distinct 3-gram set rarest-gram-first (global document frequency),
    // index only the first n - ceil(0.8n) + 1 grams — two sets with
    // Jaccard ≥ 0.8 MUST share a prefix gram, so candidate generation is
    // lossless while touching only rare grams (no block self-join, no
    // quadratic blow-up on big sources). Size-ratio pruning
    // (4·max ≤ 5·min) rides the join condition; exact Jaccard verifies.
    // All prefix math is integral so FP rounding can't shave the prefix.
    "dedup_ngram_jaccard" -> ((s, dir) =>
      graft.operators.Dedup.jaccardPairsFromRanked(
        rankedGrams(s, dir), tNum = 4, tDen = 5)
        .orderBy("doc_a", "doc_b")),

    // Asymmetric containment ≥ 0.9 (quotation/subset/boilerplate signal —
    // what Jaccard misses when the container dwarfs the contained doc):
    // prefix-filtered probe-to-full join, ordered pairs, no size-ratio
    // prune (inherent to containment). Shares the memoized ranked-gram
    // artifact with the Jaccard join.
    "dedup_containment" -> ((s, dir) =>
      graft.operators.Dedup.containmentPairsFromRanked(
        rankedGrams(s, dir), tNum = 9, tDen = 10)
        .orderBy("doc_a", "doc_b")),

    // Duplicated-span mass (the Lee et al. '22 substring-dedup signal):
    // fraction of each doc's 8-token spans that appear in ≥ 2 distinct
    // docs. Spans come off the native WordShinglesExpr (duplicates kept —
    // every position counts) and are hashed map-side to the replayable
    // 60-bit md5 prefix, so the pipeline is exact-oracle-checked.
    "dedup_span_exact" -> ((s, dir) =>
      graft.operators.Dedup.duplicatedSpanMass(
        docsSharded(s, dir).select(col("doc_id"),
          explode(graft.plans.NgramHashes.shingles(s, col("text"), 8)).as("span")))
        .orderBy(col("dup_span_ratio").desc, col("doc_id"))),

    // LSH quality audit — the tuning diagnostic a data team runs before
    // trusting a band configuration: the minhash pipeline's verified
    // pairs (est ≥ 0.5) against EXACT Jaccard ≥ 0.5 over the same 3-gram
    // family, as one precision/recall row (operators/Dedup.lshAudit).
    // Both sides are the stored memoized artifacts (signature table,
    // ranked-gram table); the exact side's prefix filter is lossless at
    // any threshold, so this measures the SKETCH's error, not
    // candidate-generation loss. This key is the `fullCorpus = true`
    // opt-in form — the small-SF oracle of record; the operator's DEFAULT
    // is the sampled stratum below, which is the plan that runs at 100 TB.
    "dedup_lsh_audit" -> ((s, dir) =>
      graft.operators.Dedup.lshAudit(
        minhashPairs(s, dir), rankedGrams(s, dir), docs(s, dir),
        tNum = 1, tDen = 2, fullCorpus = true)),

    // The PRODUCTION form of the audit — Dedup.lshAudit's default posture:
    // grade the sketch on a deterministic md5 hash-stratum (first hex char
    // of md5(text) < '8' — half the docs; at 100 TB narrow to "1" for
    // 1/16). Pair work falls by the stratum fraction squared; see the
    // operator's scaladoc for the unbiasedness argument.
    "dedup_lsh_audit_sampled" -> ((s, dir) =>
      graft.operators.Dedup.lshAudit(
        minhashPairs(s, dir), rankedGrams(s, dir), docs(s, dir),
        tNum = 1, tDen = 2)),

    // SUBSTRING-DEDUP REWRITE (r13 — VERDICT item 5, Lee et al. '22):
    // the duplicated-span SIGNAL promoted to the actual corpus REWRITE —
    // every cross-document duplicated 8-token span is excised except in
    // the first doc (by ingest order = min doc_id) carrying it, over the
    // same positional-shingle + 60-bit-md5 span-hash family as
    // dedup_span_exact. The gate hashes the REWRITTEN corpus per source
    // (doc_id|rewritten md5 checksum) plus the lossless accounting
    // (sum_removed = the excised-token mass) against a full relational
    // replay of the rule in DuckDB; a planted-overlap spec pins the
    // keeper/excise semantics on crafted docs (Round13OpsSpec).
    "dedup_span_rewrite" -> ((s, dir) =>
      graft.operators.Dedup.spanRewrite(s,
          docsSharded(s, dir).select("doc_id", "source", "text"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          sum("n_removed").as("sum_removed"),
          sum(pmod(conv(substring(md5(concat_ws("|",
              col("doc_id").cast("string"), col("rewritten"))), 1, 12),
            16, 10).cast("long"), lit(1000000007L))).as("checksum"))
        .orderBy("source")))

  /** Shared DuckDB replay of the minhash signature pipeline (the exact math
    * of `Md5MinHashFromText` + `LshBandsExpr` semantics): same lower/trim/
    * \s+ tokenization and k=3 word shingles as the jaccard oracle, gram
    * hash = 60-bit md5 prefix, permutation i = (a_i·g + b_i) mod (2^61−1)
    * in HUGEINT (exact), signature slot = min over grams. `bands` groups
    * slots 4-at-a-time; two docs share a Spark LSH bucket iff a band's
    * slot list is equal (the XXH64 bucket fold is injective-in-practice —
    * a cross-doc fold collision, ~n²·bands/2^64, is the only way the
    * engines could disagree, and it would also need the colliding pair to
    * agree on ≥32/64 slots to survive the verify filter). */
  private[queries] val sigCtes =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS t
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
      |       ELSE list_transform(range(len(t) - 2),
      |            i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]) END AS grams
      |  FROM toks),
      |gh AS (
      |  SELECT DISTINCT doc_id, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS ghash
      |  FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
      |perm AS (
      |  SELECT i, ('0x' || substr(md5('minhash-a:' || i), 1, 15))::BIGINT + 1 AS pa,
      |         ('0x' || substr(md5('minhash-b:' || i), 1, 15))::BIGINT AS pb
      |  FROM (SELECT unnest(range(64)) AS i)),
      |sig AS (
      |  SELECT doc_id, i,
      |         min(CAST(((pa::HUGEINT * ghash) % 2305843009213693951 + pb)
      |                  % 2305843009213693951 AS BIGINT)) AS s
      |  FROM gh CROSS JOIN perm GROUP BY doc_id, i),
      |bands AS (
      |  SELECT doc_id, i // 4 AS blk, list(s ORDER BY i) AS bs
      |  FROM sig GROUP BY doc_id, i // 4)""".stripMargin

  /** Candidate pairs + slot-agreement estimate, shared by the pair-style
    * minhash oracles (cand CTE differs per query). */
  private[queries] val agreeCte =
    """agree AS (
      |  SELECT c.doc_a, c.doc_b,
      |         sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS n_eq
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.doc_a
      |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
      |  GROUP BY c.doc_a, c.doc_b)""".stripMargin

  /** The a<b band-agreement candidate CTE shared by every same-corpus
    * minhash oracle (incremental uses its own new-vs-all variant). */
  private[queries] val candCte =
    """cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.blk = b.blk AND a.bs = b.bs AND a.doc_id < b.doc_id)""".stripMargin

  /** Verified pairs (est ≥ 0.5 ⟺ n_eq ≥ 32) with the n_eq kept for
    * downstream exact math. */
  private[queries] val pairsCte =
    """pairs AS (
      |  SELECT doc_a, doc_b, n_eq, round(CAST(n_eq AS DOUBLE) / 64, 4) AS est_jaccard
      |  FROM agree WHERE n_eq >= 32)""".stripMargin

  /** Pairs → connected components with min-doc_id labels as a recursive
    * label-reachability fixpoint — ONE copy shared by dedup_clusters and
    * dedup_keep_list so the replay logic cannot drift between them. */
  /** Connected components over a `pairs(doc_a, doc_b)` CTE as recursive
    * label propagation to the min id — shared with the multimodal cluster
    * oracle (package-visible for that reason). */
  private[queries] val clusterCtes =
    """nodes AS (SELECT DISTINCT doc_id FROM
      |  (SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b AS doc_id FROM pairs)),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION SELECT doc_b AS src, doc_a AS dst FROM pairs),
      |cc AS (
      |  SELECT doc_id, doc_id AS lbl FROM nodes
      |  UNION
      |  SELECT e.dst AS doc_id, c.lbl FROM cc c JOIN edges e ON e.src = c.doc_id),
      |clusters AS (SELECT doc_id, min(lbl) AS cluster FROM cc GROUP BY doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Full replay of the MinHash-LSH pipeline (see sigCtes). est ≥ 0.5 on
    // the rounded value ⟺ n_eq ≥ 32 since k/64 is exact in binary.
    "dedup_minhash_lsh" ->
      s"""WITH $sigCtes,
         |$candCte,
         |$agreeCte,
         |$pairsCte
         |SELECT doc_a, doc_b, est_jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin,

    // The streaming engine must converge to the BATCH pair table: same
    // replay as dedup_minhash_lsh — the oracle is deliberately identical,
    // because "incremental result == batch result" IS the claim under test.
    "dedup_stream" ->
      s"""WITH $sigCtes,
         |$candCte,
         |$agreeCte,
         |$pairsCte
         |SELECT doc_a, doc_b, est_jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin,

    // Same pipeline, but candidates must touch the ingest batch
    // (doc_id % 10 = 9 is the new side, mirroring the Spark query):
    // new-vs-anything via least/greatest, corpus-vs-corpus excluded.
    "dedup_incremental" ->
      s"""WITH $sigCtes,
         |cand AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
         |                  greatest(a.doc_id, b.doc_id) AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.blk = b.blk AND a.bs = b.bs AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id % 10 = 9),
         |$agreeCte
         |SELECT doc_a, doc_b, round(CAST(n_eq AS DOUBLE) / 64, 4) AS est_jaccard
         |FROM agree WHERE n_eq >= 32 ORDER BY doc_a, doc_b""".stripMargin,

    // Pairs → connected components with min-doc_id labels, replayed as a
    // recursive label-reachability CTE: cc holds every (doc, label) where
    // label's doc reaches doc along verified-pair edges; min per doc = the
    // component's minimum doc_id — exactly canonicalClusters' fixpoint.
    "dedup_clusters" ->
      s"""WITH RECURSIVE $sigCtes,
         |$candCte,
         |$agreeCte,
         |$pairsCte,
         |$clusterCtes
         |SELECT doc_id, cluster AS canonical FROM clusters ORDER BY doc_id""".stripMargin,

    // cluster CTE + the shared quality formula + rank: keep = rk 1
    "dedup_keep_list" ->
      s"""WITH RECURSIVE $sigCtes,
         |$candCte,
         |$agreeCte,
         |$pairsCte,
         |$clusterCtes,
         |scored AS (
         |  SELECT c.doc_id, c.cluster,
         |         ${TextQueries.qualityScoreSql} AS quality_score
         |  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id),
         |ranked AS (
         |  SELECT *, first_value(doc_id) OVER (PARTITION BY cluster
         |            ORDER BY quality_score DESC, doc_id) AS kept_doc
         |  FROM scored)
         |SELECT doc_id, cluster, quality_score,
         |       doc_id = kept_doc AS keep, kept_doc
         |FROM ranked ORDER BY doc_id""".stripMargin,

    // Source-level union sketches: a group's signature slot is the min over
    // the UNION of member gram hashes (elementwise-min merge ≡ min over
    // union), so the oracle takes the min directly over (source, gram).
    "dedup_source_sigs" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT source, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |       ELSE list_transform(range(len(t) - 2),
        |            i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]) END AS grams
        |  FROM toks),
        |sgh AS (
        |  SELECT DISTINCT source, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS ghash
        |  FROM (SELECT source, unnest(grams) AS gram FROM g)),
        |perm AS (
        |  SELECT i, ('0x' || substr(md5('minhash-a:' || i), 1, 15))::BIGINT + 1 AS pa,
        |         ('0x' || substr(md5('minhash-b:' || i), 1, 15))::BIGINT AS pb
        |  FROM (SELECT unnest(range(64)) AS i)),
        |ssig AS (
        |  SELECT source, i,
        |         min(CAST(((pa::HUGEINT * ghash) % 2305843009213693951 + pb)
        |                  % 2305843009213693951 AS BIGINT)) AS s
        |  FROM sgh CROSS JOIN perm GROUP BY source, i),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |agree AS (
        |  SELECT sa.source AS source_a, sb.source AS source_b,
        |         sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS n_eq
        |  FROM ssig sa JOIN ssig sb ON sa.i = sb.i AND sa.source < sb.source
        |  GROUP BY sa.source, sb.source)
        |SELECT a.source_a, a.source_b, nd.n_docs AS n_docs_a,
        |       round(CAST(a.n_eq AS DOUBLE) / 64, 4) AS est_union_jaccard
        |FROM agree a JOIN nd ON nd.source = a.source_a
        |ORDER BY source_a, source_b""".stripMargin,

    // Replays the full 60-bit md5-prefix SimHash pipeline in SQL: per-token
    // hash = first 15 md5 hex chars as a BIGINT (identical on both
    // engines), ±1 bit votes with the same strict `> 0` rule, 4×15-bit
    // pigeonhole candidate blocks, hamming ≤ 3 verify on bit_count(xor).
    "dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks),
        |votes AS (
        |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bs
        |  GROUP BY doc_id, b),
        |sig AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS sig
        |  FROM votes GROUP BY doc_id),
        |blocks AS (
        |  SELECT doc_id, blk, (sig >> (blk * 15)) & 32767 AS bval
        |  FROM sig CROSS JOIN (SELECT unnest(range(4)) AS blk) bb),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM blocks a JOIN blocks b
        |    ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
        |SELECT c.doc_a, c.doc_b,
        |       CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
        |FROM cand c
        |JOIN sig sa ON sa.doc_id = c.doc_a
        |JOIN sig sb ON sb.doc_id = c.doc_b
        |WHERE bit_count(xor(sa.sig, sb.sig)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash, count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin,

    // identical canonicalization chain (lowercase first, so [^a-z0-9 ]
    // means the same class to RE2 and Java), 'g'-flagged replaces
    "dedup_normalized" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         md5(trim(regexp_replace(regexp_replace(lower(text),
        |             '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS ch,
        |         md5(text) AS rh
        |  FROM documents)
        |SELECT substr(ch, 1, 12) AS canon_sig, min(doc_id) AS keep_id,
        |       count(*) AS n_copies, count(DISTINCT rh) AS n_variants
        |FROM c GROUP BY ch
        |ORDER BY keep_id""".stripMargin,

    // The minhash pipeline replay (sigCtes/cand/agree/pairs) + two
    // id→source joins. mean_est_jaccard = sum(n_eq)/(64·count): integer
    // slot-agreement counts sum exactly in any order, then ONE division and
    // ONE rounding — deterministic on both engines (averaging the rounded
    // per-pair estimates would re-introduce summation-order FP risk).
    "dedup_cross_source" ->
      s"""WITH $sigCtes,
         |$candCte,
         |$agreeCte,
         |$pairsCte,
         |srcs AS (SELECT doc_id, source FROM documents)
         |SELECT least(sa.source, sb.source) AS source_a,
         |       greatest(sa.source, sb.source) AS source_b,
         |       count(*) AS n_near_dup_pairs,
         |       round(CAST(sum(p.n_eq) AS DOUBLE) / (count(*) * 64), 4) AS mean_est_jaccard
         |FROM pairs p
         |JOIN srcs sa ON sa.doc_id = p.doc_a
         |JOIN srcs sb ON sb.doc_id = p.doc_b
         |GROUP BY least(sa.source, sb.source), greatest(sa.source, sb.source)
         |ORDER BY source_a, source_b""".stripMargin,

    // The prefix filter is lossless, so the oracle is the brute-force
    // all-pairs definition of the same query (fine at oracle scale; the
    // Spark side is the shape that survives 100 TB).
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_transform(range(len(t) - 2),
        |                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]) END) AS grams
        |  FROM toks),
        |scored AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.grams, b.grams)) AS n_inter,
        |         len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS n_union
        |  FROM g a JOIN g b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |       round(CAST(n_inter AS DOUBLE) / n_union, 4) AS jaccard
        |FROM scored
        |WHERE n_inter * 5 >= n_union * 4 ORDER BY doc_a, doc_b""".stripMargin,

    // The containment prefix filter is lossless, so the oracle is the
    // brute-force ordered-pair definition (same pattern as the jaccard
    // oracle; exact integral filter, one division + one rounding).
    "dedup_containment" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS t
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |              ELSE list_transform(range(len(t) - 2),
        |                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]) END) AS grams
        |  FROM toks),
        |scored AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         len(list_intersect(a.grams, b.grams)) AS n_inter,
        |         len(a.grams) AS n_a
        |  FROM g a JOIN g b ON a.doc_id <> b.doc_id)
        |SELECT doc_a, doc_b,
        |       round(CAST(n_inter AS DOUBLE) / n_a, 4) AS containment
        |FROM scored
        |WHERE n_inter * 10 >= n_a * 9 ORDER BY doc_a, doc_b""".stripMargin,

    // LSH side = the shared sig/cand/agree/pairs replay; exact side =
    // brute-force intersection over the same distinct gram hashes (gh)
    // with the integral jaccard ≥ 1/2 test (2·inter ≥ union). Counts are
    // exact integers; the two ratios are the only divisions.
    "dedup_lsh_audit" ->
      s"""WITH $sigCtes,
         |$candCte,
         |$agreeCte,
         |$pairsCte,
         |sz AS (SELECT doc_id, count(*) AS n FROM gh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM gh a JOIN gh b ON b.ghash = a.ghash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |expairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = inter.doc_a
         |  JOIN sz sb ON sb.doc_id = inter.doc_b
         |  WHERE 2 * i >= sa.n + sb.n - i),
         |audit AS (
         |  SELECT (SELECT count(*) FROM pairs) AS n_lsh,
         |         (SELECT count(*) FROM expairs) AS n_exact,
         |         (SELECT count(*) FROM pairs p JOIN expairs e
         |            ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b) AS n_both)
         |SELECT CAST(n_lsh AS BIGINT) AS n_lsh, CAST(n_exact AS BIGINT) AS n_exact,
         |       CAST(n_both AS BIGINT) AS n_both,
         |       round(CAST(n_both AS DOUBLE) / greatest(n_lsh, 1), 4) AS lsh_precision,
         |       round(CAST(n_both AS DOUBLE) / greatest(n_exact, 1), 4) AS lsh_recall
         |FROM audit""".stripMargin,

    // Same audit algebra restricted to the deterministic md5 stratum:
    // LSH pairs need BOTH endpoints in the stratum; the exact side runs
    // over stratum docs' gram sets only (equivalent to filtering the
    // full exact pair set — pair membership is per-pair).
    "dedup_lsh_audit_sampled" ->
      s"""WITH $sigCtes,
         |$candCte,
         |$agreeCte,
         |$pairsCte,
         |strat AS (SELECT doc_id FROM documents WHERE substr(md5(text), 1, 1) < '8'),
         |spairs AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  WHERE doc_a IN (SELECT doc_id FROM strat)
         |    AND doc_b IN (SELECT doc_id FROM strat)),
         |sgh AS (SELECT * FROM gh WHERE doc_id IN (SELECT doc_id FROM strat)),
         |sz AS (SELECT doc_id, count(*) AS n FROM sgh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sgh a JOIN sgh b ON b.ghash = a.ghash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |expairs AS (
         |  SELECT doc_a, doc_b
         |  FROM inter
         |  JOIN sz sa ON sa.doc_id = inter.doc_a
         |  JOIN sz sb ON sb.doc_id = inter.doc_b
         |  WHERE 2 * i >= sa.n + sb.n - i),
         |audit AS (
         |  SELECT (SELECT count(*) FROM spairs) AS n_lsh,
         |         (SELECT count(*) FROM expairs) AS n_exact,
         |         (SELECT count(*) FROM spairs p JOIN expairs e
         |            ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b) AS n_both)
         |SELECT CAST(n_lsh AS BIGINT) AS n_lsh, CAST(n_exact AS BIGINT) AS n_exact,
         |       CAST(n_both AS BIGINT) AS n_both,
         |       round(CAST(n_both AS DOUBLE) / greatest(n_lsh, 1), 4) AS lsh_precision,
         |       round(CAST(n_both AS DOUBLE) / greatest(n_exact, 1), 4) AS lsh_recall
         |FROM audit""".stripMargin,

    // Full replay of the span pipeline: same tokenize/shingle CTEs as the
    // other gram oracles (k=8, positional duplicates kept), span hash =
    // 60-bit md5 prefix, then the identical occ/ndocs/left-join/ratio
    // algebra. All counts integral; ONE division, ONE rounding.
    "dedup_span_exact" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS t
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id, unnest(CASE WHEN len(t) < 8 THEN [array_to_string(t, ' ')]
        |                 ELSE list_transform(range(len(t) - 7),
        |                      i -> array_to_string(t[i + 1:i + 8], ' ')) END) AS span
        |  FROM toks),
        |h AS (
        |  SELECT doc_id, ('0x' || substr(md5(span), 1, 15))::BIGINT AS span_h FROM spans),
        |occ AS (SELECT span_h, doc_id, count(*) AS occ FROM h GROUP BY 1, 2),
        |dup AS (SELECT span_h FROM occ GROUP BY 1 HAVING count(*) >= 2)
        |SELECT occ.doc_id,
        |       CAST(sum(occ.occ) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN dup.span_h IS NOT NULL THEN occ.occ ELSE 0 END) AS BIGINT)
        |         AS dup_spans,
        |       round(CAST(sum(CASE WHEN dup.span_h IS NOT NULL THEN occ.occ ELSE 0 END) AS DOUBLE) /
        |             CAST(sum(occ.occ) AS DOUBLE), 4) AS dup_span_ratio
        |FROM occ LEFT JOIN dup USING (span_h)
        |GROUP BY occ.doc_id
        |HAVING sum(CASE WHEN dup.span_h IS NOT NULL THEN occ.occ ELSE 0 END) > 0
        |ORDER BY dup_span_ratio DESC, doc_id""".stripMargin,

    // Full replay of the rewrite rule: same tokenize/shingle/span-hash
    // CTEs, then keeper = min(doc_id) per cross-doc span, covered
    // positions of non-keeper occurrences excised, kept tokens rejoined
    // in position order — checksum + lossless removed-token accounting
    // per source.
    "dedup_span_rewrite" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         regexp_split_to_array(trim(lower(text)),
        |                               '[ \t\n\x0b\f\r]+') AS t
        |  FROM documents WHERE text IS NOT NULL),
        |sp0 AS (
        |  SELECT doc_id, len(t) AS n,
        |         list_transform(range(greatest(len(t) - 7, 1)),
        |           i -> {'p': i, 's': array_to_string(t[i + 1:i + 8], ' ')})
        |           AS l
        |  FROM toks),
        |sp1 AS (SELECT doc_id, n, unnest(l) AS u FROM sp0),
        |spans AS (SELECT doc_id, n, u.p AS pos,
        |                 ('0x' || substr(md5(u.s), 1, 15))::BIGINT AS span_h
        |          FROM sp1),
        |dup AS (SELECT span_h, min(doc_id) AS keeper FROM spans
        |        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |bad AS (SELECT s.doc_id, s.pos, least(8, s.n - s.pos) AS klen
        |        FROM spans s JOIN dup USING (span_h)
        |        WHERE s.doc_id > dup.keeper),
        |badj AS (SELECT doc_id, pos, unnest(range(klen)) AS j FROM bad),
        |rem AS (SELECT DISTINCT doc_id, pos + j AS i FROM badj),
        |tokpos AS (SELECT doc_id, unnest(t) AS tok,
        |                  unnest(range(len(t))) AS i FROM toks),
        |kept AS (SELECT tp.doc_id, tp.i, tp.tok
        |         FROM tokpos tp LEFT JOIN rem
        |           ON rem.doc_id = tp.doc_id AND rem.i = tp.i
        |         WHERE rem.doc_id IS NULL),
        |rw AS (SELECT doc_id, count(*) AS n_kept,
        |              array_to_string(list(tok ORDER BY i), ' ') AS rewritten
        |       FROM kept GROUP BY 1),
        |base AS (SELECT doc_id, source, len(t) AS n_tokens FROM toks),
        |fin AS (SELECT b.doc_id, b.source, b.n_tokens,
        |               coalesce(r.rewritten, '') AS rewritten,
        |               b.n_tokens - coalesce(r.n_kept, 0) AS n_removed
        |        FROM base b LEFT JOIN rw r USING (doc_id))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CAST(sum(n_removed) AS BIGINT) AS sum_removed,
        |       CAST(sum(('0x' || substr(md5(doc_id::VARCHAR || '|' ||
        |              rewritten), 1, 12))::BIGINT % 1000000007) AS BIGINT)
        |         AS checksum
        |FROM fin GROUP BY source ORDER BY source""".stripMargin)
}
