package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** From near-dup PAIRS to canonical CLUSTERS: connected components by
  * iterative min-label propagation. Each doc starts labeled with itself;
  * every iteration each doc adopts the minimum label among itself and its
  * neighbors; fixpoint = components labeled by their minimum doc_id (the
  * survivor a dedup pass keeps).
  *
  * Scale: this is the standard large-graph CC loop — one equi-join + one
  * groupBy per iteration, converging in O(component diameter) rounds.
  * Near-dup components are shallow (dup clusters, not social graphs), so
  * 3-5 rounds settle real corpora. Each iteration materializes (persist +
  * count) so the lineage doesn't stack; the driver holds only a changed-row
  * counter, never data.
  */
object Dedup {

  /** Exact set-similarity join: all (doc_a < doc_b) pairs with
    * Jaccard(grams_a, grams_b) ≥ tNum/tDen, by prefix filtering
    * (AllPairs/PPJoin, Bayardo et al. WWW'07).
    *
    * Each doc's distinct gram set is ordered rarest-first by global document
    * frequency; only the first n - ceil(t·n) + 1 grams are indexed. Two sets
    * with Jaccard ≥ t must share a prefix gram under ANY common total order,
    * so candidate generation is lossless — and rare-first ordering keeps the
    * per-gram buckets small (the frequent grams that would blow up a bucket
    * join are exactly the ones the prefix skips). Size-ratio pruning
    * (tDen·min ≥ tNum·max) rides the join condition. Prefix math is
    * integral end-to-end so FP rounding can never shave a prefix and drop a
    * true pair.
    *
    * Scale: shuffles are all linear — one groupBy(gram) for frequencies,
    * one groupBy(doc) to order, one join on rare prefix grams, one verify
    * join. No block self-join anywhere, so a source with millions of
    * similar-length docs costs |candidates|, not O(m²).
    *
    * @param docGrams (doc_id, grams) with grams already distinct
    * @return (doc_a, doc_b, jaccard) with jaccard rounded to 4dp ≥ tNum/tDen */
  def jaccardPairs(docGrams: DataFrame, tNum: Int = 4, tDen: Int = 5): DataFrame =
    jaccardPairsFromRanked(rankedByRarity(docGrams), tNum, tDen)

  /** [[jaccardPairs]] over a prebuilt [[rankedByRarity]] table — for
    * callers sharing the ranked-gram artifact across several gram joins
    * (a production pipeline stores it once per corpus). */
  def jaccardPairsFromRanked(ordered: DataFrame, tNum: Int = 4, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val prefix = prefixGrams(ordered, tNum, tDen)
    // the pair-distinct doubles as the PPJoin+ SUFFIX filter: instead of
    // a bare distinct, the groupBy counts the shared prefix grams (cp)
    // and keeps the LAST common position pair (i_max, j_max — the rarity
    // rank is one consistent global order, so the argmax row coincides on
    // both sides). Any further common gram must rank after BOTH, so
    // o ≤ cp + min(n_a−1−i_max, n_b−1−j_max) — strictly tighter than the
    // per-row bound (which any single matching row can pass) and exactly
    // as lossless; pairs whose only shared grams sit late in the prefix
    // never reach the array-carrying verify join at all.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * tNum <= col("b.n") * tDen &&
          col("b.n") * tNum <= col("a.n") * tDen &&
          // per-row positional filter: required overlap o satisfies
          // o·(tNum+tDen) ≥ (n_a+n_b)·tNum (from o·tDen ≥ (n_a+n_b−o)·tNum)
          overlapUpperBound * (tNum + tDen) >= (col("a.n") + col("b.n")) * tNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("cp"), max("pa").as("ia"), max("pb").as("jb"),
        max("na").as("na"), max("nb").as("nb"))
      .filter((col("cp") +
          least(col("na") - 1 - col("ia"), col("nb") - 1 - col("jb"))) *
          (tNum + tDen) >= (col("na") + col("nb")) * tNum)
      .select("doc_a", "doc_b")
    verifyPairs(cand, ordered, tNum, tDen)
  }

  /** Candidate verify on the EXACT integral ratio (|∩|·tDen ≥ |∪|·tNum),
    * rounding only for display: filtering on the rounded value would admit
    * pairs with true Jaccard in [t − 5e-5, t) that the prefix filter and
    * the size-ratio pruning (both exact-threshold) never generate — an
    * FP-boundary disagreement waiting for a corpus with multi-thousand-gram
    * docs. Oracle filters identically.
    *
    * The kernel is the codegen'd merge walk over the artifact's PRESORTED
    * gram arrays ([[graft.plans.SortedIntersectCount]]) with |∪| by
    * inclusion–exclusion on the stored sizes — at candidate density
    * (10⁷ pairs × ~10² grams at 30×) the `size(array_intersect)` +
    * `array_union` form built two boxed hash sets per pair and was the
    * library's hottest allocation site (90 of a 94 s join, measured);
    * the merge walk does the same count allocation-free, sorting once per
    * DOC in the artifact instead of hashing once per PAIR. */
  private def verifyPairs(cand: DataFrame, ordered: DataFrame,
      tNum: Int, tDen: Int): DataFrame = {
    val s = ordered.sparkSession
    // SHUFFLE_HASH, not sort-merge: the doc-keyed artifact (one row per
    // doc) is the hash build side, so the candidate stream — pairs
    // accreting a gram array at each join — is never SORTED while carrying
    // arrays (measured at 60×: two SMJ sorts over ~26 M array-laden rows
    // spill-bound the join at 6× the 30× cost; hash builds of the
    // O(docs) side stream it at ~2×)
    cand
      .join(ordered.select(col("doc_id").as("doc_a"),
        col("gsorted").as("g_a"), col("n").as("n_a")).hint("shuffle_hash"), "doc_a")
      .join(ordered.select(col("doc_id").as("doc_b"),
        col("gsorted").as("g_b"), col("n").as("n_b")).hint("shuffle_hash"), "doc_b")
      .withColumn("n_inter",
        graft.plans.SortedIntersectCount.count(s, col("g_a"), col("g_b")))
      .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
      .filter(col("n_inter") * tDen >= col("n_union") * tNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") / col("n_union"), 4).as("jaccard"))
  }

  /** (doc_id, grams, n) with each doc's DISTINCT gram hashes ordered
    * rarest-first by global document frequency — the shared front end of
    * the prefix-filter joins. Hash each gram to a long first: every
    * downstream stage (frequency groupBy, prefix bucket join, ranked
    * arrays in the verify join) then shuffles 8-byte keys instead of
    * multi-word strings — the prefix theorem only needs SOME common total
    * order, and (df, hash) is one. xxhash64 collisions (~n²/2⁶⁴) are the
    * standard set-similarity-join trade and cannot create false NEGATIVES
    * in candidate generation (a collision only merges two grams, never
    * separates shared ones). array<long> input (e.g. from the native
    * NgramHashesExpr, the fast path — the HOF hash chain below is
    * interpreted per element) is taken as already-hashed-and-distinct. */
  def rankedByRarity(docGrams: DataFrame): DataFrame = {
    val hashed = docGrams.schema("grams").dataType match {
      case ArrayType(LongType, _) => docGrams.select(col("doc_id"), col("grams"))
      case _ => docGrams.select(col("doc_id"),
        array_distinct(transform(col("grams"), g => xxhash64(g))).as("grams"))
    }
    val tok = hashed.select(col("doc_id"), explode(col("grams")).as("gram"))
    val dfreq = tok.groupBy("gram").agg(count(lit(1)).as("df"))
    tok.join(dfreq, "gram")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("gram")))).as("ranked"))
      .select(col("doc_id"),
        transform(col("ranked"), r => r.getField("gram")).as("grams"),
        size(col("ranked")).as("n"))
      // the same distinct grams NUMERICALLY ascending — sorted once per
      // doc here so the verify kernel's merge walk never sorts per pair
      .withColumn("gsorted", sort_array(col("grams")))
      .transform(Checkpointing.cut)
  }

  /** The first n − ceil(t·n) + 1 ranked grams of each doc (integral prefix
    * math — FP rounding can never shave a prefix), with each gram's
    * 0-based POSITION in the doc's ranked list for the positional filter. */
  private def prefixGrams(ordered: DataFrame, tNum: Int, tDen: Int): DataFrame =
    ordered.select(col("doc_id"), col("n"),
      posexplode(slice(col("grams"), lit(1),
        col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + lit(1)))
        .as(Seq("pos", "gram")))

  /** PPJoin-style positional upper bound on overlap (Xiao et al. '08):
    * both gram lists are sorted by the SAME global total order
    * (rankedByRarity's rarest-first rank), so for a common gram at 0-based
    * positions (i, j), the common grams strictly before it form one set
    * appearing before position i in A AND before j in B — at most
    * min(i, j) of them — and the common grams from it on are at most
    * min(n_a − i, n_b − j). A pair whose TRUE overlap meets the threshold
    * satisfies the bound at EVERY common gram, so filtering matched rows
    * on it before the pair-distinct is lossless while cutting both the
    * distinct's shuffle and the verify join's gram-array work. Pure
    * integer arithmetic — no FP boundary to disagree with the oracle. */
  private def overlapUpperBound = {
    least(col("a.pos"), col("b.pos")) +
      least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
  }

  /** Asymmetric set-containment join: all ORDERED pairs (doc_a, doc_b),
    * a ≠ b, with |A∩B| / |A| ≥ tNum/tDen — "A's grams are mostly inside
    * B" (quotation / subset / boilerplate detection, the signal Jaccard
    * misses whenever the container is much larger than the contained doc).
    *
    * Prefix filter for containment: if |A∩B| ≥ ceil(t·|A|), then under ANY
    * common total order B must share one of A's first
    * |A| − ceil(t·|A|) + 1 grams (were all shared grams outside that
    * prefix, the overlap would be < ceil(t·|A|)). So only the PROBE side
    * (A) is cut to a prefix; the indexed side keeps full gram lists, and
    * there is no UPPER size bound — a tiny doc can be contained in a huge
    * one; that asymmetry is inherent to containment. The LOWER bound does
    * prune losslessly: |A∩B| ≤ |B| forces |B| ≥ ceil(t·|A|), an integral
    * conjunct on the candidate join that drops can-never-verify
    * (big A, tiny B) pairs before the verify join pays for them.
    * Rarest-first ordering keeps probe prefix grams rare, so per-gram
    * buckets stay bounded even against big sources.
    *
    * Scale: the same linear shuffles as [[jaccardPairs]] (gram frequency,
    * per-doc ordering, prefix-to-full bucket join, verify join) — no block
    * self-join, candidates bounded by Σ_{prefix grams} df(gram).
    *
    * @param docGrams (doc_id, grams) with grams already distinct
    * @return (doc_a, doc_b, containment ≥ tNum/tDen) rounded to 4dp,
    *         containment of A's grams within B's */
  def containmentPairs(docGrams: DataFrame, tNum: Int = 9, tDen: Int = 10): DataFrame =
    containmentPairsFromRanked(rankedByRarity(docGrams), tNum, tDen)

  /** [[containmentPairs]] over a prebuilt [[rankedByRarity]] table. */
  def containmentPairsFromRanked(
      ordered: DataFrame, tNum: Int = 9, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum <= tDen, s"threshold $tNum/$tDen not in (0,1]")
    val probe = prefixGrams(ordered, tNum, tDen)
    val full = ordered.select(col("doc_id"), col("n"),
      posexplode(col("grams")).as(Seq("pos", "gram")))
    val cand = probe.as("a").join(full.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") =!= col("b.doc_id") &&
          // lower bound only (|B| ≥ ceil(t·|A|) ⟸ |A∩B| ≤ |B|): integral,
          // lossless; there is deliberately no upper bound
          col("b.n") * tDen >= col("a.n") * tNum &&
          // positional filter against the containment requirement
          // o·tDen ≥ n_a·tNum — same consistent-order bound as jaccard
          overlapUpperBound * tDen >= col("a.n") * tNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
      // the same PPJoin+ per-pair suffix filter as jaccardPairsFromRanked,
      // against the containment requirement o·tDen ≥ n_a·tNum
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("cp"), max("pa").as("ia"), max("pb").as("jb"),
        max("na").as("na"), max("nb").as("nb"))
      .filter((col("cp") +
          least(col("na") - 1 - col("ia"), col("nb") - 1 - col("jb"))) * tDen
          >= col("na") * tNum)
      .select("doc_a", "doc_b")
    // verify on the exact integral ratio (|∩|·tDen ≥ |A|·tNum); rounding
    // is display-only — same FP-boundary discipline and same codegen'd
    // merge-walk kernel as jaccardPairs' verify
    cand
      .join(ordered.select(col("doc_id").as("doc_a"),
        col("gsorted").as("g_a"), col("n").as("n_a")).hint("shuffle_hash"), "doc_a")
      .join(ordered.select(col("doc_id").as("doc_b"),
        col("gsorted").as("g_b")).hint("shuffle_hash"), "doc_b")
      .withColumn("n_inter", graft.plans.SortedIntersectCount.count(
        ordered.sparkSession, col("g_a"), col("g_b")))
      .filter(col("n_inter") * tDen >= col("n_a") * tNum)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") / col("n_a"), 4).as("containment"))
  }

  /** Incremental near-dup: candidate pairs between a NEW ingestion batch
    * and the full corpus (index + the batch itself), without re-pairing
    * the existing corpus against itself — the shape a production pipeline
    * runs on every ingest. `sigged` must carry (doc_id, sig, is_new);
    * `buckets` produces the bucket-key array (e.g. LSH bands) from `sig`.
    *
    * Scale: the existing corpus' signatures are a stored table in
    * production (computed once at their own ingest); only the new side is
    * signature-hashed fresh. The join probes corpus buckets with new-doc
    * bucket keys, so work is O(|batch| × bucket-collision rate), not
    * O(|corpus|²) — and corpus-corpus pairs (already found at their own
    * ingest time) are excluded by construction.
    *
    * @return (doc_a, doc_b) candidate pairs, a < b, at least one side new */
  def incrementalPairs(sigged: DataFrame, buckets: org.apache.spark.sql.Column): DataFrame = {
    val b = sigged.select(col("doc_id"), col("is_new"), explode(buckets).as("bk"))
    val newSide = b.filter(col("is_new"))
    newSide.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
  }

  /** pairs: (doc_a, doc_b) undirected near-dup edges.
    * @return (doc_id, canonical) for every doc appearing in a pair. */
  def canonicalClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().persist()
    // Checkpoint (not persist): the loop builds each generation on top of
    // the previous one AND self-joins it for pointer jumping, so without
    // lineage truncation the logical plan doubles per round and planning
    // itself OOMs after ~8 iterations. Checkpointing.cut picks
    // executor-local blocks on local mode and reliable checkpoint(dir) when
    // the session configured one — set sc.setCheckpointDir on clusters so
    // executor churn can't kill the loop mid-iteration.
    // edges is read by every iteration; release it however the loop ends
    // (the result is a cut generation, so it never reads edges again)
    var changed = 1L
    val labels = try {
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .withColumn("canonical", col("doc_id")).transform(Checkpointing.cut)
      var i = 0
      while (changed > 0 && i < maxIter) {
        val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
          .groupBy(col("src")).agg(min("canonical").as("nbr_min"))
        val stepped0 = labels.join(nbrMin, labels("doc_id") === nbrMin("src"), "left")
          .select(col("doc_id"),
            least(col("canonical"), coalesce(col("nbr_min"), col("canonical"))).as("canonical"),
            col("canonical").as("__old"))
        // pointer jumping (canonical -> canonical-of-canonical) doubles
        // propagation distance per round, turning deep-chain convergence into
        // O(log diameter) — but it costs an extra join, so only engage it
        // after plain propagation has had the two rounds that settle the
        // common star/pair-shaped dup clusters. The jump self-joins stepped,
        // so checkpoint it first or the propagate join runs twice.
        // the change flag rides along with the propagation, so convergence
        // detection is a cheap aggregate over the checkpointed generation
        // instead of an extra labels↔next join per round
        val nextFlagged = (if (i < 2) stepped0
          else {
            val stepped = Checkpointing.cut(stepped0)
            stepped.as("l")
              .join(stepped.as("m").select(col("doc_id").as("m_id"), col("canonical").as("m_can")),
                col("l.canonical") === col("m_id"), "left")
              .select(col("l.doc_id").as("doc_id"),
                least(col("l.canonical"), coalesce(col("m_can"), col("l.canonical"))).as("canonical"),
                col("l.__old").as("__old"))
          })
          .withColumn("__chg", when(col("canonical") =!= col("__old"), 1L).otherwise(0L))
          .transform(Checkpointing.cut)
        changed = nextFlagged.agg(coalesce(sum("__chg"), lit(0L))).head().getLong(0)
        labels = nextFlagged.drop("__old", "__chg")
        i += 1
      }
      labels
    } finally edges.unpersist()
    if (changed > 0)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"canonicalClusters did not converge in $maxIter iterations; " +
          "labels may split components — raise maxIter")
    // checkpointed generations are reclaimed by the ContextCleaner as their
    // DataFrames go out of scope; the returned frame is the live result
    labels
  }

  /** Per-document duplicated-span mass: the fraction of a doc's k-token
    * spans (one per position, duplicates kept) that occur in ≥ 2 distinct
    * documents — the fixed-k, hash-based form of the substring-dedup signal
    * (Lee et al. '22, "Deduplicating Training Data Makes Language Models
    * Better"): where suffix-array dedup finds arbitrary repeated substrings,
    * counting repeated fixed-k spans is the linear, shuffle-friendly
    * approximation a distributed pipeline actually runs.
    *
    * Scale: spans never shuffle as strings — each is reduced map-side to its
    * 60-bit md5-prefix hash (8 bytes on the wire, replayable in DuckDB so
    * the query is exact-oracle-checked, not rows-only). Every shuffle is
    * linear and pre-aggregated: groupBy(span_h, doc_id) collapses intra-doc
    * repeats with map-side partials, ndocs is a count window OVER that
    * distinct-pair table (r16, guide §2.4 — the former separate
    * ndocs-aggregate branch + join-back replayed the whole corpus scan +
    * shingle explode a second time, and at corpus scale would have
    * broadcast an O(duplicated-spans) table; the window re-exchanges only
    * the distinct pairs), and the final groupBy(doc_id) carries two longs
    * per doc.
    *
    * @param spans (doc_id, span) with one row per span position
    * @return (doc_id, n_spans, dup_spans, dup_span_ratio) for docs with any
    *         cross-doc duplicated span */
  def duplicatedSpanMass(spans: DataFrame): DataFrame = {
    val hashed = spans.select(col("doc_id"),
      conv(substring(md5(col("span")), 1, 15), 16, 10).cast("long").as("span_h"))
    val occ = hashed.groupBy("span_h", "doc_id").agg(count(lit(1)).as("occ"))
    // one row per distinct (span, doc) ⇒ rows-in-partition = ndocs exactly
    occ.withColumn("ndocs",
        count(lit(1)).over(Window.partitionBy("span_h")))
      .groupBy("doc_id")
      .agg(sum("occ").as("n_spans"),
        sum(when(col("ndocs") >= 2, col("occ")).otherwise(lit(0L))).as("dup_spans"))
      .filter(col("dup_spans") > 0)
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        round(col("dup_spans").cast("double") / col("n_spans").cast("double"), 4)
          .as("dup_span_ratio"))
  }

  /** LSH quality audit: the sketch's verified pair set graded against exact
    * Jaccard ≥ tNum/tDen over the same gram family, as one
    * (n_lsh, n_exact, n_both, precision, recall) row.
    *
    * The audit's entire cost is the exact join, which is why one audits
    * instead of always running exact — so the DEFAULT posture is the one
    * that survives 100 TB: grade on a deterministic md5 content-hash
    * stratum (`substr(md5(text),1,1) < stratumBound`; membership depends
    * only on the content bytes, so the stratum replays bit-identically
    * across engines, reruns and reshards). Both pair endpoints must land
    * in the stratum and the exact side's gram INPUT is semi-joined down
    * before any pair generation, so pair work falls by the stratum
    * fraction squared. Restricting exact Jaccard to stratum endpoints
    * commutes with computing it on the stratum (pair membership is a
    * property of the pair alone; the prefix filter is per-pair lossless),
    * which makes the sampled estimate unbiased for pairs-within-stratum.
    *
    * The full-corpus exact join — inherently quadratic in near-dup mass —
    * requires the explicit `fullCorpus = true` opt-in and exists as the
    * small-SF oracle of record and for one-off forensics, never as the
    * default plan.
    *
    * @param estPairs    sketch-verified pairs (doc_a, doc_b)
    * @param rankedGrams [[rankedByRarity]] artifact for the exact side
    * @param docTexts    (doc_id, text) — stratum membership source
    * @param stratumBound first-hex-char bound: "8" = half the corpus;
    *                     narrow to "1" (1/16) as the corpus grows — "0"
    *                     would select NOTHING (no md5 hex char sorts below
    *                     '0') and is rejected rather than producing a
    *                     vacuous all-zero audit */
  def lshAudit(
      estPairs: DataFrame,
      rankedGrams: DataFrame,
      docTexts: DataFrame,
      tNum: Int = 1, tDen: Int = 2,
      fullCorpus: Boolean = false,
      stratumBound: String = "8"): DataFrame = {
    // Single hex char only: "g" (every md5 hex char sorts below it) or a
    // multi-char bound like "80" would silently select the whole corpus and
    // run the quadratic exact join without the fullCorpus opt-in.
    require(fullCorpus ||
        (stratumBound.length == 1 && stratumBound >= "1" && stratumBound <= "f"),
      s"stratumBound '$stratumBound' selects an empty or whole-corpus " +
        "stratum; use a single hex char \"1\" (1/16th) through \"f\" (15/16ths)")
    val (est, grams) =
      if (fullCorpus) (estPairs, rankedGrams)
      else {
        val stratum = docTexts
          .filter(substring(md5(col("text")), 1, 1) < lit(stratumBound))
          .select("doc_id")
        def inStratum(df: DataFrame, c: String) =
          df.join(stratum.withColumnRenamed("doc_id", c), Seq(c), "left_semi")
        (inStratum(inStratum(estPairs, "doc_a"), "doc_b"),
          inStratum(rankedGrams, "doc_id"))
      }
    auditRow(
      est.select(col("doc_a"), col("doc_b")),
      jaccardPairsFromRanked(grams, tNum, tDen)
        .select(col("doc_a"), col("doc_b")))
  }

  /** One precision/recall row from an estimated and an exact pair set. */
  private def auditRow(est: DataFrame, exact: DataFrame): DataFrame =
    est.withColumn("in_est", lit(1L))
      .join(exact.withColumn("in_ex", lit(1L)), Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("in_est"), lit(0L))).as("n_lsh"),
        sum(coalesce(col("in_ex"), lit(0L))).as("n_exact"),
        sum(when(col("in_est").isNotNull && col("in_ex").isNotNull, 1L)
          .otherwise(0L)).as("n_both"))
      .select(col("n_lsh"), col("n_exact"), col("n_both"),
        round(col("n_both").cast("double") / greatest(col("n_lsh"), lit(1L)), 4)
          .as("lsh_precision"),
        round(col("n_both").cast("double") / greatest(col("n_exact"), lit(1L)), 4)
          .as("lsh_recall"))

  /** SUBSTRING-DEDUP REWRITE (the Lee et al. '22 "Deduplicating Training
    * Data Makes Language Models Better" rewrite, token-granular): remove
    * every cross-document duplicated k-token span from the corpus,
    * keeping the FIRST occurrence by ingest order — here the minimum
    * doc_id, whose copies (all of them, intra-doc repeats included) are
    * retained while every occurrence in a later doc has its covered
    * tokens excised. Spans are the same positional k-shingles as the
    * duplicated-span-mass signal (one per token position, duplicates
    * kept, whole-doc span for docs shorter than k) reduced to the
    * replayable 60-bit md5 prefix, so the whole rewrite is
    * exact-oracle-checkable.
    *
    * Rule, precisely: token i of doc d is removed iff some span
    * occurrence (d, p) with p ≤ i < p + klen has content that occurs in
    * ≥ 2 distinct docs and d is NOT the minimum doc carrying it
    * (klen = min(k, n_d − p): the whole-doc span of a short doc covers
    * all its tokens). The rewritten doc is the kept tokens joined by
    * single spaces over the tokenization (lower/trim/\s+) — the rewrite
    * operates on the token stream, as the reference rewrite does on the
    * byte stream, and the accounting is lossless: n_removed sums exactly
    * the excised-token mass.
    *
    * Scale: every shuffle is linear — one groupBy(span_h) for
    * (ndocs, keeper), one hash join back to occurrences (the doc-sized
    * probe side streams; no self-join anywhere), a bounded k-fold
    * position explode on BAD occurrences only, one anti-join on
    * (doc, position), one per-doc aggregate. The span scan is map-only
    * and recomputed for the two consumers (cheaper than persisting a
    * corpus-sized intermediate); the per-doc token re-join is the one
    * interpreted-lambda step (field extraction only), bounded by corpus
    * token count.
    *
    * @param docs (doc_id, text, …) — extra columns carry through
    * @return input columns minus text, plus (n_tokens, n_removed,
    *         rewritten) */
  def spanRewrite(s: SparkSession, docs: DataFrame, k: Int = 8): DataFrame = {
    val base = docs.filter(col("text").isNotNull)
      .withColumn("t", split(trim(lower(col("text"))), "\\s+"))
      .withColumn("n", size(col("t")).cast("long"))
    val spans = base.select(col("doc_id"), col("n"),
        posexplode(graft.plans.NgramHashes.shingles(s, col("text"), k))
          .as(Seq("pos", "span")))
      .select(col("doc_id"), col("n"), col("pos").cast("long").as("pos"),
        conv(substring(md5(col("span")), 1, 15), 16, 10).cast("long")
          .as("span_h"))
    val dup = spans.groupBy("span_h")
      .agg(countDistinct("doc_id").as("ndocs"), min("doc_id").as("keeper"))
      .filter(col("ndocs") >= 2)
      .select("span_h", "keeper")
    val bad = spans.join(dup.hint("shuffle_hash"), Seq("span_h"))
      .filter(col("doc_id") > col("keeper"))
      .select(col("doc_id"), col("pos"),
        least(lit(k.toLong), col("n") - col("pos")).as("klen"))
    val rem = bad.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + col("klen") - 1)).as("i"))
      .distinct()
    val tokpos = base.select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), col("pos").cast("long").as("i"),
        col("col").as("tok"))
    val kept = tokpos.join(rem, Seq("doc_id", "i"), "left_anti")
    val rw = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          x => x.getField("tok")), " ").as("rewritten"))
    base.drop("text", "t")
      .join(rw, Seq("doc_id"), "left")
      .withColumn("n_tokens", col("n"))
      .withColumn("n_removed", col("n") - coalesce(col("n_kept"), lit(0L)))
      .withColumn("rewritten", coalesce(col("rewritten"), lit("")))
      .drop("n", "n_kept")
  }
}
