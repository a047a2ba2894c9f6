package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Vectors
import graft.operators.Relational
import graft.sources.Tables

/** Similarity-search inventory (SURVEY.md §2): embedding near-dup pairs,
  * brute-force cosine top-k (correctness baseline), and the LSH-bucketed
  * variant that is the 100 TB scale path.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.sharded(s, dir, "embeddings")

  /** Bounded query sample: small, deterministic, broadcast side of the
    * top-k search. At scale the query set is always << the corpus. */
  private val nQueries = 5
  private val topK = 10

  /** The IVF index — (centroids, cluster-keyed inverted lists) — memoized
    * per (session, sf-dir): in production the index is BUILT ONCE and
    * stored (the corpus written bucketed by cluster); every query probes
    * the stored index rather than re-running Lloyd. Same stored-artifact
    * pattern as DedupQueries' signature/pair memos. */
  private val ivfMemo = new graft.operators.SessionMemo[(DataFrame, DataFrame)]

  /** Verified embedding near-dup pairs — the stored near-dup table every
    * downstream pass reads. */
  private val embPairsMemo = new graft.operators.SessionMemo[DataFrame]

  private def embPairs(s: SparkSession, dir: String): DataFrame =
    embPairsMemo.get(s, dir) {
      graft.operators.Embeddings.nearDupPairs(
          emb(s, dir), "vec_id", "embedding", threshold = 0.25)
        .transform(graft.operators.Checkpointing.cut)
    }

  /** Canonical clusters over the embedding pair graph — the stored
    * artifact BOTH semantic-dedup consumers (cluster report, keep list)
    * read; iterative components run once per (session, sf-dir). */
  private val embClustersMemo = new graft.operators.SessionMemo[DataFrame]

  private def embClusters(s: SparkSession, dir: String): DataFrame =
    embClustersMemo.get(s, dir) {
      graft.operators.Dedup.canonicalClusters(
          embPairs(s, dir).select(col("vec_a").as("doc_a"),
            col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("canonical"))
        .transform(graft.operators.Checkpointing.cut)
    }

  private val pqM = 8
  private val pqK = 16
  private val pqShortlist = 50

  /** The PQ index — (codebook, coded corpus) — memoized per (session,
    * sf-dir) like the IVF index: production encodes once and stores the
    * m-byte codes next to the vectors. The codebook is SAMPLED (the pqK
    * lowest-vec_id vectors donate their subvectors — the k-means init
    * step): deterministic and fully replayable in the oracle, where a
    * per-subspace Lloyd refinement would reintroduce partition-order
    * float sums. Collect is bounded: K × dim doubles, same class as the
    * IVF centroid pull. */
  private val pqMemo = new graft.operators.SessionMemo[(Seq[Seq[Double]], DataFrame)]

  private def pqIndex(s: SparkSession, dir: String): (Seq[Seq[Double]], DataFrame) =
    pqMemo.get(s, dir) {
      val sample = emb(s, dir).filter(col("vec_id") < pqK).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq)
      require(sample.length == pqK, s"codebook sample needs $pqK vectors, got ${sample.length}")
      val sub = sample.head.length / pqM
      val cb: Seq[Seq[Double]] = for {
        ss <- 0 until pqM
        c <- 0 until pqK
      } yield sample(c).slice(ss * sub, (ss + 1) * sub)
      val cbLit = typedLit(cb)
      val codes = emb(s, dir).select(col("vec_id"), col("embedding"),
          graft.plans.Pq.encode(s, col("embedding"), cbLit, pqM).as("codes"))
        .transform(graft.operators.Checkpointing.cut)
      (cb, codes)
    }

  /** IVF-PQ parameters: ivfpqC coarse cells, nprobe=ivfpqProbe, residuals
    * PQ-coded with the shared (pqM, pqK) geometry. */
  private val ivfpqC = 8
  private val ivfpqProbe = 2

  /** The IVF-PQ index — (coarse codebook, residual codebook, coded
    * inverted lists) — memoized per (session, sf-dir) like the flat-PQ
    * index: production encodes once and stores cluster id + m code bytes
    * per vector, bucketed by cluster. */
  private val ivfpqMemo =
    new graft.operators.SessionMemo[(Seq[Seq[Double]], Seq[Seq[Double]], DataFrame)]

  private def ivfpqIndex(s: SparkSession, dir: String): (Seq[Seq[Double]], Seq[Seq[Double]], DataFrame) =
    ivfpqMemo.get(s, dir) {
      val e = emb(s, dir)
      // coarse quantizer: the ivfpqC lowest-vec_id vectors (the k-means
      // init step, no Lloyd refinement — one quantizer family per index
      // keeps the two regimes distinct; knn_ivf carries the ITERATED
      // Lloyd variant, whose quantized-long centroid fold the oracle
      // replays in full). Bounded collect: ivfpqC × dim.
      val coarse: Seq[Seq[Double]] = e.filter(col("vec_id") < ivfpqC).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq).toIndexedSeq
      require(coarse.length == ivfpqC,
        s"coarse codebook needs $ivfpqC vectors, got ${coarse.length}")
      val coarseLit = typedLit(coarse)
      // coarse assignment IS pq_encode with m = 1: argmin full-vector L2²
      // against the coarse codebook with strict-compare/lowest-cluster
      // ties — one already-proven codegen'd lockstep fold, map-side, no
      // join or exchange between the scan and the cluster column.
      def assign(df: DataFrame): DataFrame = df
        .select(col("vec_id"), col("embedding"),
          element_at(graft.plans.Pq.encode(s, col("embedding"), coarseLit, 1), 1)
            .as("cluster"))
        .withColumn("resid", graft.plans.VecSub.sub(s, col("embedding"),
          element_at(coarseLit, col("cluster") + 1)))
      // residual codebook donors: vec_ids [ivfpqC, ivfpqC+pqK) — disjoint
      // from the coarse sample, so no donor's residual is identically
      // zero. Bounded collect: pqK × dim doubles.
      val donors = assign(
          e.filter(col("vec_id") >= ivfpqC && col("vec_id") < ivfpqC + pqK))
        .orderBy("vec_id").select("resid").collect()
        .map(_.getSeq[Double](0).toIndexedSeq)
      require(donors.length == pqK,
        s"residual codebook needs $pqK donors, got ${donors.length}")
      val sub = donors.head.length / pqM
      val cb: Seq[Seq[Double]] = for {
        ss <- 0 until pqM
        c <- 0 until pqK
      } yield donors(c).slice(ss * sub, (ss + 1) * sub)
      val index = assign(e)
        .select(col("vec_id"), col("embedding"), col("cluster"),
          graft.plans.Pq.encode(s, col("resid"), typedLit(cb), pqM).as("codes"))
        .transform(graft.operators.Checkpointing.cut)
      (coarse, cb, index)
    }

  /** Test-only view of the kNN-graph index (Round8OpsSpec's brute-force
    * reference reads the same cells the query used). */
  private[graft] def ivfIndexForSpec(s: SparkSession, dir: String): DataFrame =
    graphIndex(s, dir)

  /** The kNN-graph quantizer: cell count SCALES WITH THE CORPUS —
    * k = max(16, ⌈N/1024⌉) — so Σ|cell|² (the graph's pair mass) stays
    * ≈ N·1024, i.e. LINEAR in corpus size, where a fixed k would make it
    * N²/k (measured: 8.5× on 3× data with the shared k=16 index before
    * this rule). Assignment is the map-side NearestCentroid broadcast
    * (N·k cosine evals — at extreme corpus sizes production trains on a
    * sample and assigns through a coarse tree; same law). At both driver
    * gate SFs the rule resolves to k = 16, so the index IS the shared
    * knn_ivf index (memo reused, no duplicate Lloyd) and the static
    * DuckDB build replay stays exact there. */
  private val graphMemo = new graft.operators.SessionMemo[DataFrame]
  private val scaledGraphMemo = new graft.operators.SessionMemo[DataFrame]

  /** emb_nndescent's stored base graph (the emb_knn_graph edge list,
    * id-pairs only) — the artifact a production refinement round reads. */
  private val nndBaseMemo = new graft.operators.SessionMemo[DataFrame]

  /** The NN-DESCENT REFINED graph (one round over the stored base graph:
    * edges ∪ reversed ∪ two-hop candidates, exact-cosine rerank, top-3) —
    * memoized as the SERVING artifact: emb_nndescent gates its build and
    * knn_graph_search navigates it. */
  private val nndRefinedMemo = new graft.operators.SessionMemo[DataFrame]

  /** nndRefined's rerank kept to depth 6 (ONE extra heap slot pass over
    * the same candidate set — no new joins): ranks 1..3 are the
    * emb_nndescent gate artifact exactly as before; ranks 4..6 exist
    * only so the beam SERVING tier can navigate a denser graph (r13 —
    * VERDICT item 7) without changing the gated graph build. */
  private def nndServe(s: SparkSession, dir: String): DataFrame =
    nndRefinedMemo.get(s, dir) {
      val base = nndBaseMemo.get(s, dir) {
        graft.operators.Checkpointing.cut(
          knnGraphOver(s, graphIndex(s, dir)).select("vec_id", "neighbor_id"))
      }
      val rev = base.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id"))
      val hop = base.select(col("vec_id"), col("neighbor_id").as("mid"))
        .join(base.select(col("vec_id").as("mid"), col("neighbor_id").as("nb2")),
          "mid")
        .filter(col("nb2") =!= col("vec_id"))
        .select(col("vec_id"), col("nb2").as("neighbor_id"))
      val cand = base.unionByName(rev).unionByName(hop).distinct()
      val sv = emb(s, dir).select(col("vec_id"), col("embedding"))
      val scored = cand
        .join(sv, "vec_id")
        .join(sv.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("n_emb")), "neighbor_id")
        .select(col("vec_id"), col("neighbor_id"),
          round(graft.plans.CosineSim.cosine(s, col("embedding"), col("n_emb")), 4)
            .as("cos"))
      graft.operators.Checkpointing.cut(
        Relational.topKByScore(scored, "vec_id", "cos", "neighbor_id", 6))
    }

  private def nndRefined(s: SparkSession, dir: String): DataFrame =
    nndServe(s, dir).filter(col("rk") <= 3)

  /** knn_graph_extend's artifacts: (extended graph edges, cosine evals
    * the extension paid, in-cell pair mass a full rebuild would pay) —
    * one build per (session, lake). Base graph = in-cell top-3 among
    * base vectors (the stored artifact); extension probes + touched
    * adoption are the ONLY new cosine work. */
  private val graphExtendMemo =
    new graft.operators.SessionMemo[(DataFrame, Long, Long)]

  /** knn_graph_retract's one-row receipt — one build per (session, lake). */
  private val graphRetractMemo = new graft.operators.SessionMemo[DataFrame]

  private def graphExtend(s: SparkSession,
      dir: String): (DataFrame, Long, Long) =
    graphExtendMemo.get(s, dir) {
      import graft.operators.Checkpointing
      // the CORPUS-SCALED quantizer (k = max(16, ceil(N/1024)) — the
      // emb_knn_graph rule): a fixed k would make the base-graph pair
      // mass N²/k, superlinear (measured 47 s at the 30× lake before
      // this; linear after). At the gate SFs the rule resolves to the
      // shared k = 16 index, so the oracle's dynamic-k replay is exact
      // everywhere.
      val idx = graphIndex(s, dir).select("vec_id", "embedding", "cluster")
        .transform(Checkpointing.cut)
      val isNew = pmod(col("vec_id"), lit(13)) === 7
      val base = idx.filter(!isNew)
      val nw = idx.filter(isNew)
      def cosC(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        round(graft.plans.CosineSim.cosine(s, a, b), 4)
      // the STORED base graph: in-cell top-3 among base vectors
      val bm = base.select(col("cluster").as("cl2"),
        col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      val bPairs = base.join(bm,
          col("cluster") === col("cl2") &&
            col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          cosC(col("embedding"), col("n_emb")).as("cos"))
      val baseGraph = Relational
        .topKByScore(bPairs, "vec_id", "cos", "neighbor_id", 3)
        .select("vec_id", "neighbor_id", "cos")
        .transform(Checkpointing.cut)
      // EXTENSION: each new vector's candidates = in-cell base vectors
      // ∪ their stored neighbors (one hop) — O(batch × cell × degree)
      val probe = nw.select(col("vec_id").as("q"), col("cluster"),
          col("embedding").as("q_emb"))
        .join(base.select(col("cluster"), col("vec_id").as("cand")),
          Seq("cluster"))
        .select("q", "q_emb", "cand")
      val hop = probe.select(col("q"), col("q_emb"), col("cand").as("mid"))
        .join(baseGraph.select(col("vec_id").as("mid"),
          col("neighbor_id").as("cand")), Seq("mid"))
        .select("q", "q_emb", "cand")
      val nCand = probe.unionByName(hop).dropDuplicates("q", "cand")
      val nScored = nCand
        .join(base.select(col("vec_id").as("cand"),
          col("embedding").as("c_emb")), Seq("cand"))
        .select(col("q").as("vec_id"), col("cand").as("neighbor_id"),
          cosC(col("q_emb"), col("c_emb")).as("cos"))
        .transform(Checkpointing.cut)
      val newEdges = Relational
        .topKByScore(nScored, "vec_id", "cos", "neighbor_id", 3)
        .select("vec_id", "neighbor_id", "cos")
      // TOUCHED-NEIGHBORHOOD ADOPTION: base vectors score ONLY their
      // in-cell new vectors; stored edges merge by their stored cosine
      val adopt = base.select(col("vec_id"), col("cluster"),
          col("embedding"))
        .join(nw.select(col("cluster"), col("vec_id").as("neighbor_id"),
          col("embedding").as("n_emb")), Seq("cluster"))
        .select(col("vec_id"), col("neighbor_id"),
          cosC(col("embedding"), col("n_emb")).as("cos"))
        .transform(Checkpointing.cut)
      val touched = adopt.select("vec_id").distinct()
      val refined = Relational.topKByScore(
          baseGraph.join(touched, Seq("vec_id"), "left_semi")
            .unionByName(adopt),
          "vec_id", "cos", "neighbor_id", 3)
        .select("vec_id", "neighbor_id", "cos")
      val extended = baseGraph.join(touched, Seq("vec_id"), "left_anti")
        .unionByName(refined).unionByName(newEdges)
        .transform(Checkpointing.cut)
      val nScoredExtend = nScored.count() + adopt.count()
      val im = idx.select(col("cluster").as("cl2"),
        col("vec_id").as("neighbor_id"))
      val nRebuildPairs = idx.join(im,
        col("cluster") === col("cl2") &&
          col("vec_id") =!= col("neighbor_id")).count()
      (extended, nScoredExtend, nRebuildPairs)
    }

  /** Shared corpus-scaled quantizer build: k = max(kMin, ⌈N/perCell⌉),
    * reusing the shared k=16 knn_ivf index when the rule resolves there. */
  private def scaledIndex(s: SparkSession, dir: String,
      memo: graft.operators.SessionMemo[DataFrame],
      perCell: Long, kMin: Int): DataFrame =
    memo.get(s, dir) {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val n = e.count()
      val k = math.max(kMin.toLong, (n + perCell - 1) / perCell).toInt
      if (k == 16) ivfIndex(s, dir)._2
      else {
        val cut = e.transform(graft.operators.Checkpointing.cut)
        val centroids = graft.operators.Ivf.kmeansCentroids(
          cut, "vec_id", "embedding", k = k, iters = 2)
        graft.operators.Ivf.assign(cut, centroids)
          .transform(graft.operators.Checkpointing.cut)
      }
    }

  private def graphIndex(s: SparkSession, dir: String): DataFrame =
    scaledIndex(s, dir, graphMemo, perCell = 1024L, kMin = 16)

  /** Every vector's top-3 in-cell neighbors over `index` — the shared body
    * of emb_knn_graph and its forced-scaled gate variant. */
  private def knnGraphOver(s: SparkSession, index: DataFrame): DataFrame = {
    val a = index.select(col("cluster"), col("vec_id"), col("embedding"))
    val b = index.select(col("cluster").as("cl_b"),
      col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    val scored = a.join(b,
        col("cluster") === col("cl_b") && col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        round(graft.plans.CosineSim.cosine(s, col("embedding"), col("n_emb")), 4)
          .as("cos"))
    Relational.topKByScore(scored, "vec_id", "cos", "neighbor_id", 3)
  }

  /** The k>16 BRANCH of the corpus-scaled quantizer, forced at gate SFs
    * (r9 — VERDICT item 4): perCell = 24 and kMin = 17 resolve to k = 21
    * at N = 500, so the scaled Lloyd build — the r8 fix that made the
    * kNN-graph pair mass linear — is itself hash-checked by the oracle's
    * dynamic-k replay instead of being exercised only by measurement. */
  private def scaledGraphIndex(s: SparkSession, dir: String): DataFrame =
    scaledIndex(s, dir, scaledGraphMemo, perCell = 24L, kMin = 17)

  private def ivfIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    ivfMemo.get(s, dir) {
      // cut once: the corpus feeds two Lloyd assigns + the index build —
      // without it each pass re-reads and re-projects the parquet
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
        .transform(graft.operators.Checkpointing.cut)
      val centroids =
        graft.operators.Ivf.kmeansCentroids(e, "vec_id", "embedding", k = 16, iters = 2)
      val index = graft.operators.Ivf.assign(e, centroids)
        .transform(graft.operators.Checkpointing.cut)
      (centroids, index)
    }

  /** Brute-force (q_id, neighbor_id, cos) over the sampled queries — the
    * exact side of the top-k baseline, the radius search, and the radius
    * audit's ground truth. Memoized: four queries read this scored scan,
    * so it is computed once per (session, sf-dir) like the index
    * artifacts. The query side is broadcast, so the build scans the
    * corpus once with no shuffle. */
  private val bruteMemo = new graft.operators.SessionMemo[DataFrame]

  private def bruteScored(s: SparkSession, dir: String): DataFrame =
    bruteMemo.get(s, dir) {
      val base = emb(s, dir)
      val q = base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      base.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(graft.plans.CosineSim.cosine(s, col("q_emb"), col("embedding")), 4).as("cos"))
        .transform(graft.operators.Checkpointing.cut)
    }

  private def bruteTopK(s: SparkSession, dir: String): DataFrame =
    Relational.topKByScore(bruteScored(s, dir), "q_id", "cos", "neighbor_id", topK)

  /** Multi-table hyperplane-LSH scored candidates (md5-derived planes →
    * the signature replays exactly in the oracle): candidate if the vector
    * agrees with the query on a full signature in ANY table, then exact
    * cosine. Memoized — `knn_lsh` (top-k rerank), the recall audit, and
    * the radius audit all read this signature+bucket+cosine pipeline. */
  private val lshMemo = new graft.operators.SessionMemo[DataFrame]

  private def lshScored(s: SparkSession, dir: String): DataFrame =
    lshMemo.get(s, dir) {
      lshScoredPlan(s, dir).transform(graft.operators.Checkpointing.cut)
    }

  /** The uncut LSH-candidate construction — separate from [[lshScored]] so
    * the broadcast-shape spec (AnnSpec) can still see the logical plan the
    * memoized artifact hides behind its lineage cut. */
  private[graft] def lshScoredPlan(s: SparkSession, dir: String): DataFrame = {
    val sigged = emb(s, dir).select(col("vec_id"), col("embedding"),
      graft.plans.HyperplaneSigs.sigsMd5(s, col("embedding"), 8, 4).as("sigs"))
    val buckets = sigged.select(col("vec_id"), col("embedding"),
      posexplode(col("sigs")).as(Seq("t", "sig")))
    val q = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("t").as("q_t"), col("sig").as("q_sig"))
    val cands = buckets.join(broadcast(q),
        col("t") === col("q_t") && col("sig") === col("q_sig") &&
          col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        col("q_emb"), col("embedding"))
      .distinct()
    cands.select(col("q_id"), col("neighbor_id"),
      round(graft.plans.CosineSim.cosine(s, col("q_emb"), col("embedding")), 4).as("cos"))
  }

  private def lshTopK(s: SparkSession, dir: String): DataFrame =
    Relational.topKByScore(lshScored(s, dir), "q_id", "cos", "neighbor_id", topK)

  /** Greedy beam search over the stored NN-descent graph — the serving
    * primitive behind knn_graph_search and knn_graph_sweep, PARAMETERIZED
    * on the knobs a serving layer actually tunes (r12 — VERDICT item 7):
    * `beamW` (candidates kept per hop) and `hops` (navigation depth).
    * Entry point = the quantizer route (nearest trained centroid, lowest
    * vec_id in its cell); each hop expands the beam through the UNDIRECTED
    * graph, rescores by 4dp cosine, keeps the best `beamW` per query via
    * the bounded-heap TopKAgg — each hop shuffles O(queries × beam), never
    * the graph; candidate ids broadcast into one edge-list probe + one
    * corpus probe (map-side at any graph size). The beam is LINEAGE-CUT
    * per hop. Returns (final beam — q_id, vec_id, cos — and the union of
    * every hop's scored candidate pairs: the DETERMINISTIC cost surface a
    * recall-vs-cost sweep audits). */
  /** The serving context shared by every beam run (und graph, query
    * sample, quantizer-routed seeds, vector store) — memoized per
    * (session, lake) so knn_graph_search and the sweep's two widths build
    * the undirected-edge artifact and the seed route ONCE per session
    * instead of once per beam. */
  private val graphServeMemo =
    new graft.operators.SessionMemo[(DataFrame, DataFrame, DataFrame, DataFrame)]

  private def graphServeCtx(s: SparkSession, dir: String, nSeeds: Int,
      degree: Int): (DataFrame, DataFrame, DataFrame, DataFrame) =
    graphServeMemo.get(s, s"$dir#seeds=$nSeeds#deg=$degree") {
      val nd = nndServe(s, dir).filter(col("rk") <= degree)
        .select("vec_id", "neighbor_id")
      val und = graft.operators.Checkpointing.cut(
        nd.unionByName(nd.select(col("neighbor_id").as("vec_id"),
          col("vec_id").as("neighbor_id"))).distinct())
      val (centroids, index) = ivfIndex(s, dir)
      val q = index.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      // entry: the nSeeds nearest trained centroids on the UNROUNDED
      // lockstep cosine (strict desc, lowest cluster tie — the knn_ivf
      // probe rule), then the lowest-id member of EACH routed cell ≠ the
      // query itself. nSeeds = 1 is the classic single-entry navigation;
      // nSeeds = 2 (r13 — VERDICT item 7) starts the beam in two regions
      // of the graph, which is what lifts recall at SMALL beam widths
      // (a narrow beam greedily descends one basin; a second entry point
      // costs one extra cell neighborhood in hop 1, not a wider beam).
      val qc = Relational.topKPerGroup(
          q.crossJoin(broadcast(centroids))
            .withColumn("sim",
              graft.plans.CosineSim.cosine(s, col("q_emb"), col("centroid"))),
          Seq("q_id"), Seq(col("sim").desc, col("cluster")), nSeeds)
        .select(col("q_id"), col("cluster"))
      val seed = graft.operators.Checkpointing.cut(
        index.join(broadcast(qc), "cluster")
          .filter(col("vec_id") =!= col("q_id"))
          .groupBy("q_id", "cluster").agg(min("vec_id").as("vec_id"))
          .select("q_id", "vec_id").distinct())
      (und, q, seed, index.select(col("vec_id"), col("embedding")))
    }

  private def graphBeam(s: SparkSession, dir: String, beamW: Int,
      hops: Int, nSeeds: Int = 1, degree: Int = 3): (DataFrame, DataFrame) = {
    val (und, q, seed, sv) = graphServeCtx(s, dir, nSeeds, degree)
    var beam = seed.select("q_id", "vec_id")
    var scoredAll: Option[DataFrame] = None
    for (_ <- 1 to hops) {
      val ids = beam.select("q_id", "vec_id")
      val cand = ids
        .unionByName(und.join(broadcast(ids), "vec_id")
          .select(col("q_id"), col("neighbor_id").as("vec_id")))
        .filter(col("vec_id") =!= col("q_id"))
        .distinct()
      // the lineage cut moved from the beam to the SCORED pairs (r15,
      // guide §1.2 — don't compute things twice): the sweep's n_scored
      // audit re-executed every hop's candidate joins against the vector
      // store a second time (the cut beam hid the top-k but not the
      // scoring subtree feeding scoredAll). Cutting `scored` materializes
      // the O(queries × beam × degree) pair table once per hop; the top-k
      // that feeds the next hop is a bounded-heap agg over that artifact,
      // cheap to recompute for its two consumers, and the audit count
      // reads the SAME artifacts instead of rescanning the store.
      val scored = graft.operators.Checkpointing.cut(
        sv.join(broadcast(cand), "vec_id")
          .join(broadcast(q), "q_id")
          .select(col("q_id"), col("vec_id"),
            round(graft.plans.CosineSim.cosine(s, col("q_emb"), col("embedding")), 4)
              .as("cos")))
      scoredAll = Some(scoredAll.fold(scored)(_.unionByName(scored)))
      beam = Relational.topKByScore(scored, "q_id", "cos", "vec_id", beamW)
        .select("q_id", "vec_id", "cos")
    }
    (beam, scoredAll.get)
  }

  /** recall@topK accounting of a beam result against the brute-force
    * exact top-k — the knn_recall_audit join shape, totals optional. */
  private def beamRecallAudit(s: SparkSession, dir: String,
      beam: DataFrame): DataFrame = {
    val ann = Relational.topKByScore(beam, "q_id", "cos", "vec_id", topK)
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .withColumn("in_ann", lit(1L))
    val ex = bruteTopK(s, dir).select("q_id", "neighbor_id")
    ex.join(broadcast(ann), Seq("q_id", "neighbor_id"), "left_outer")
      .groupBy("q_id")
      .agg(count(lit(1)).cast("long").as("n_exact"),
        coalesce(sum(col("in_ann")), lit(0L)).as("n_hit"))
      .withColumn("recall",
        round(col("n_hit").cast("double") / col("n_exact"), 4))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Embedding-cosine near-dup pairs via multi-table hyperplane-LSH
    // buckets + exact verify: only vectors agreeing on a full signature in
    // some table get compared (no cross join), and the signature width
    // adapts to corpus size so buckets never grow with n (Embeddings
    // .nearDupPairs). The synthetic embeddings are near-orthogonal (max
    // pairwise cosine ≈0.46 at sf0.01), so "near"-dup here means the top of
    // that range.
    "dedup_embedding" -> ((s, dir) =>
      embPairs(s, dir).orderBy("vec_a", "vec_b")),

    // Semantic dedup's consumption form (the SemDeDup idea, Abbas et al.
    // '23): the embedding near-dup pair graph collapsed to canonical
    // clusters — completing the modality symmetry (text and images already
    // have their cluster path). Shares the memoized pair artifact with
    // dedup_embedding and the SAME pointer-jumping components operator as
    // the text/image tiers; output is linear in vectors even where the
    // pair graph is dense (the 30× multimodal lesson).
    "emb_dedup_clusters" -> ((s, dir) =>
      embClusters(s, dir).orderBy("vec_id")),

    // The semantic-dedup DECISION (SemDeDup's keep rule): within each
    // embedding cluster keep the member with the LOWEST cosine to the
    // cluster centroid (the least-redundant example — retaining it
    // maximizes what the cluster contributes post-dedup), vec_id
    // tie-break on the 4dp-rounded score (the emb_outliers determinism
    // pattern). Centroids are one bounded aggregate over cluster members
    // only (a sliver of the corpus) broadcast back; the winner is a
    // map-side min_by argmin + co-hashed join — no per-cluster window, a
    // viral semantic cluster can't single-reduce.
    "emb_keep_list" -> ((s, dir) => {
      val mem = embClusters(s, dir).join(emb(s, dir), "vec_id")
      val cents = graft.operators.Embeddings.labelCentroids(
        mem, "canonical", "embedding")
      // cut: the argmin aggregate and the join-back both read the scores
      val scored = graft.operators.Checkpointing.cut(
        mem.join(broadcast(cents), mem("canonical") === cents("label"))
          .select(col("vec_id"), col("canonical"),
            round(graft.plans.CosineSim.cosine(s, col("embedding"),
              col("centroid")), 4).as("cos_to_centroid")))
      val kept = scored.groupBy("canonical")
        .agg(expr("min_by(vec_id, struct(cos_to_centroid, vec_id))")
          .as("kept_vec"))
      scored.join(kept, "canonical")
        .select(col("vec_id"), col("canonical").as("cluster"),
          col("cos_to_centroid"),
          (col("vec_id") === col("kept_vec")).as("keep"), col("kept_vec"))
        .orderBy("vec_id")
    }),

    // Brute-force cosine top-k: exact baseline; query side broadcast so the
    // corpus is scanned once with no shuffle before the per-query top-k.
    "knn_bruteforce" -> ((s, dir) => bruteTopK(s, dir).orderBy("q_id", "rk")),

    // kNN GRAPH construction (r8): EVERY vector's top-3 nearest neighbors
    // within its IVF cell — the corpus×corpus similarity primitive behind
    // graph-based dedup, diversity curation and label propagation, bounded
    // the only way a 100 TB corpus admits: the quadratic term is Σ|cell|²,
    // never N² (in production the cell count scales with the corpus —
    // k ≈ N / target-list-size — so |cell| stays fixed while cells
    // parallelize; the gate-SF index reuses the same k=16 quantizer every
    // IVF query shares). The in-cell pair stream flows straight into the
    // bounded-heap TopKAgg (map-side pre-reduction to ≤ 3 rows per vector
    // — the pair stream is never globally sorted), and the entire chain —
    // quantizer build, assignment, cosine, ranking — replays in DuckDB via
    // the shared knn_ivf build CTEs.
    "emb_knn_graph" -> ((s, dir) =>
      knnGraphOver(s, graphIndex(s, dir)).orderBy("vec_id", "rk")),

    // The SAME graph over the forced k>16 quantizer (see scaledGraphIndex):
    // the corpus-scaled Lloyd build replays in the oracle with k computed
    // from the corpus count (GREATEST(17, ⌈N/24⌉) — DuckDB LIMIT takes a
    // subquery), so the scaled branch's init, folds, assignment and in-cell
    // graph are all inside the hash gate.
    "emb_knn_graph_scaled" -> ((s, dir) =>
      knnGraphOver(s, scaledGraphIndex(s, dir)).orderBy("vec_id", "rk")),

    // NN-DESCENT refinement (Dong et al. 2011) — the graph-ANN
    // construction class (HNSW/NSG ancestry) as pure relational algebra:
    // "a neighbor of my neighbor is probably my neighbor". One round over
    // the stored kNN graph: candidates = current edges ∪ REVERSED edges ∪
    // two-hop edges (graph ⋈ graph on the shared endpoint), exact-cosine
    // rerank, keep top-3. Candidate mass is O(N·K²) with K=3 — LINEAR in
    // the corpus at fixed degree, never a cell-pair or corpus² term — and
    // every stage is an equi-join on vec_id, so the round distributes as
    // ordinary shuffle joins (AQE splits hub skew). Escapes the quantizer:
    // cross-CELL true neighbors reachable through a shared neighbor enter
    // here, so graph recall is ≥ the in-cell graph's by construction.
    "emb_nndescent" -> ((s, dir) =>
      nndRefined(s, dir).orderBy("vec_id", "rk")),

    // INCREMENTAL GRAPH MAINTENANCE (r14 — VERDICT item 6): a 100 TB
    // vector lake cannot rebuild its serving graph per ingest wave —
    // this key gates the EXTEND verb, the dedup_incremental posture
    // applied to the graph: a NEW batch (vec_id ≡ 7 mod 13, ~7.7%)
    // probes the quantizer + the STORED base graph (in-cell base
    // vectors ∪ one hop through their stored edges), exact-rerank
    // top-3; base vectors in TOUCHED cells adopt in-cell new vectors
    // by merging freshly-scored pairs with their STORED edge cosines
    // (no re-scoring of old pairs); untouched base rows carry
    // UNCHANGED. Cost is O(batch × cell + touched), never O(corpus²/k)
    // — the gate's own columns carry the receipt (n_scored_extend vs
    // n_rebuild_pairs, the pair mass a full rebuild pays) and the
    // overlap vs the full rebuild (the recall envelope, floor-spec'd
    // in AnnSpec). Every stage is deterministic (4dp cosine,
    // (cos DESC, id) ties), so the oracle replays build + extension +
    // accounting exactly.
    "knn_graph_extend" -> ((s, dir) => {
      val (extended, nScoredExtend, nRebuildPairs) = graphExtend(s, dir)
      val full = knnGraphOver(s, graphIndex(s, dir))
        .select("vec_id", "neighbor_id")
      val nNew = graphIndex(s, dir)
        .filter(pmod(col("vec_id"), lit(13)) === 7).count()
      val nEdges = extended.count()
      val nMatch = extended.select("vec_id", "neighbor_id")
        .join(full, Seq("vec_id", "neighbor_id"), "left_semi").count()
      import s.implicits._
      // floor-quantized ratio (exact integer math on both engines — the
      // round() half-boundary rule from the text tier)
      Seq((nNew, nEdges, nMatch, (10000L * nMatch / nEdges) / 10000.0,
          nScoredExtend, nRebuildPairs))
        .toDF("n_new", "n_edges", "n_match", "overlap",
          "n_scored_extend", "n_rebuild_pairs")
    }),

    // GRAPH RETRACTION (r15 — VERDICT item 5), extend's inverse: a
    // vector lake also DELETES (takedowns, dedup, retention) and cannot
    // rebuild the serving graph per drop wave. Tombstone the dropped
    // vec_ids (≡3 mod 17, ~5.9%), then repair ONLY the survivors whose
    // STORED edges referenced a dropped id (the stored reverse edges
    // bound the touched set — no corpus scan to find them): each
    // touched survivor exact-reranks its in-cell surviving candidates,
    // untouched survivors carry UNCHANGED. Because dropping only
    // REMOVES candidates, an untouched neighborhood's stored top-3 IS
    // its rebuild top-3 — so retract-then-repair equals the full
    // rebuild-without-dropped EXACTLY (overlap 1.0, asserted ==
    // rather than the ≥0.95 envelope; spec'd in Round15OpsSpec), at
    // O(touched × cell) cosine work instead of O(survivors × cell) —
    // the receipts ride as columns (n_scored_repair vs
    // n_rebuild_pairs). Deterministic everywhere (4dp cosine,
    // (cos DESC, id) ties), so the oracle replays build + retraction +
    // accounting exactly.
    "knn_graph_retract" -> ((s, dir) => graphRetractMemo.get(s, dir) {
      import graft.operators.Checkpointing
      val idx = graphIndex(s, dir).select("vec_id", "embedding", "cluster")
        .transform(Checkpointing.cut)
      val isDrop = pmod(col("vec_id"), lit(17)) === 3
      def cosC(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) =
        round(graft.plans.CosineSim.cosine(s, a, b), 4)
      // the STORED graph: in-cell top-3 over ALL vectors (emb_knn_graph)
      val stored = knnGraphOver(s, idx)
        .select("vec_id", "neighbor_id", "cos")
        .transform(Checkpointing.cut)
      val dropped = idx.filter(isDrop).select(col("vec_id").as("dropped_id"))
      val survivors = idx.filter(!isDrop)
      // touched = survivors with a stored edge INTO the dropped set
      val touched = stored
        .join(dropped, col("neighbor_id") === col("dropped_id"),
          "left_semi")
        .select("vec_id").distinct()
        .join(dropped, col("vec_id") === col("dropped_id"), "left_anti")
        .transform(Checkpointing.cut)
      // repair: touched × in-cell survivors, exact rerank
      val repairPairs = survivors
        .join(touched, Seq("vec_id"), "left_semi")
        .join(survivors.select(col("cluster").as("cl2"),
            col("vec_id").as("neighbor_id"), col("embedding").as("n_emb")),
          col("cluster") === col("cl2") &&
            col("vec_id") =!= col("neighbor_id"))
        .select(col("vec_id"), col("neighbor_id"),
          cosC(col("embedding"), col("n_emb")).as("cos"))
        .transform(Checkpointing.cut)
      val repaired = Relational
        .topKByScore(repairPairs, "vec_id", "cos", "neighbor_id", 3)
        .select("vec_id", "neighbor_id")
      val kept = stored
        .join(dropped, col("vec_id") === col("dropped_id"), "left_anti")
        .join(touched, Seq("vec_id"), "left_anti")
        .select("vec_id", "neighbor_id")
      val retracted = kept.unionByName(repaired)
        .transform(Checkpointing.cut)
      // the full rebuild over survivors (same cluster assignment)
      val rebuild = knnGraphOver(s, survivors)
        .select("vec_id", "neighbor_id")
      val nDropped = dropped.count()
      val nTouched = touched.count()
      val nEdges = retracted.count()
      val nMatch = retracted
        .join(rebuild, Seq("vec_id", "neighbor_id"), "left_semi").count()
      val nScoredRepair = repairPairs.count()
      val im = survivors.select(col("cluster").as("cl2"),
        col("vec_id").as("neighbor_id"))
      val nRebuildPairs = survivors.join(im,
        col("cluster") === col("cl2") &&
          col("vec_id") =!= col("neighbor_id")).count()
      import s.implicits._
      Seq((nDropped, nTouched, nEdges, nMatch,
          (10000L * nMatch / nEdges) / 10000.0, nScoredRepair,
          nRebuildPairs))
        .toDF("n_dropped", "n_touched", "n_edges", "n_match", "overlap",
          "n_scored_repair", "n_rebuild_pairs")
    }),

    // Radius (range) search: every neighbor within cosine ≥ 0.25 of each
    // sampled query — the fixed-threshold dual of top-k. Map-only at any
    // corpus size: the bounded query sample broadcasts, each partition
    // scores its slice locally, and only matches survive; no shuffle, no
    // heap. Both engines emit bit-identical rounded cosines (the
    // CosineSim lockstep fold), so the threshold cut replays exactly.
    "knn_range_search" -> ((s, dir) =>
      bruteScored(s, dir)
        .filter(col("cos") >= 0.25)
        .orderBy("q_id", "neighbor_id")),

    // Radius-search audit — the range dual of `knn_recall_audit`: what
    // fraction of each query's TRUE radius set (exact cosine ≥ 0.25) the
    // LSH buckets surface. The LSH radius set is a subset of the exact one
    // by construction (same rounded cosine, same threshold), so the one
    // meaningful number is recall; the left join makes that containment an
    // output property rather than an assumption.
    "knn_range_audit" -> ((s, dir) => {
      val est = lshScored(s, dir).filter(col("cos") >= 0.25)
        .select(col("q_id"), col("neighbor_id"), lit(1L).as("in_lsh"))
      bruteScored(s, dir).filter(col("cos") >= 0.25)
        .select("q_id", "neighbor_id")
        .join(broadcast(est), Seq("q_id", "neighbor_id"), "left_outer")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("in_lsh"), lit(0L))).as("n_lsh"))
        .select(col("q_id"), col("n_exact"), col("n_lsh"),
          round(col("n_lsh").cast("double") / col("n_exact"), 4)
            .as("radius_recall"))
        .orderBy("q_id")
    }),

    // HARD-NEGATIVE MINING (contrastive-training curation: for each anchor,
    // the most-similar vectors whose label DIFFERS — the negatives that
    // actually teach the margin). Rides the memoized brute-force scored
    // scan: anchor labels broadcast (bounded sample), the label-mismatch
    // filter runs before any shuffle, and the per-anchor top-3 is the
    // bounded-heap TopKAgg (O(anchors × 3) on the wire, never the scored
    // set). The final label decoration joins the corpus against the
    // broadcast 15-row result — one map-side pass, no corpus exchange.
    "emb_hard_negatives" -> ((s, dir) => {
      val base = emb(s, dir)
      val qLab = base.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("label").as("anchor_label"))
      val neg = bruteScored(s, dir)
        .join(broadcast(qLab), "q_id")
        .join(base.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
          "neighbor_id")
        .filter(col("nl") =!= col("anchor_label"))
      val top = Relational.topKByScore(neg, "q_id", "cos", "neighbor_id", 3)
      base.select(col("vec_id").as("neighbor_id"),
          col("label").as("neighbor_label"))
        .join(broadcast(top), "neighbor_id")
        .join(broadcast(qLab), "q_id")
        .select(col("q_id"), col("anchor_label"), col("rk"),
          col("neighbor_id"), col("neighbor_label"), col("cos"))
        .orderBy("q_id", "rk")
    }),

    // Per-cluster centroids + cohesion (see Embeddings.labelCentroids for
    // the scale shape).
    "emb_centroids" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = graft.operators.Embeddings.labelCentroids(e, "label", "embedding")
      e.join(broadcast(centroids), "label")
        .select(col("label"),
          graft.plans.CosineSim.cosine(s, col("embedding"), col("centroid")).as("cos"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vectors"),
          round(avg("cos"), 4).as("mean_cos_to_centroid"))
        .orderBy("label")
    }),

    // Per-dimension embedding health — the dead/degenerate-dimension
    // detector an embedding pipeline watches across model versions: mean,
    // variance, range, and near-zero mass per coordinate. One
    // (dim)-keyed aggregation over the posexploded matrix; 4dp rounding
    // absorbs the var_pop implementation difference (Welford vs naive)
    // while min/max are arithmetic-free and compare exactly.
    "emb_dim_stats" -> ((s, dir) =>
      emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("x"))
        .groupBy("dim")
        .agg(round(avg("x"), 4).as("mean"),
          round(var_pop("x"), 4).as("variance"),
          min("x").as("lo"), max("x").as("hi"),
          round(sum(when(abs(col("x")) < 0.01, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 4).as("small_frac"))
        .orderBy("dim")),

    // Embedding OUTLIERS — the label-quality pass next to emb_centroids:
    // the 3 least-cohesive members of each label cluster (lowest cosine to
    // the label centroid) are the mislabeled/noise candidates a curation
    // pipeline reviews. Ranking happens on the 4dp-ROUNDED cosine (the
    // knn_bruteforce determinism argument), and bottom-k goes through the
    // bounded-heap TopKAgg — partitions reduce to ≤ k rows per label
    // BEFORE the exchange, so the shuffle carries O(labels × k) at any
    // corpus size.
    "emb_outliers" -> ((s, dir) => {
      val e = emb(s, dir)
      val centroids = graft.operators.Embeddings.labelCentroids(e, "label", "embedding")
      val scored = e.join(broadcast(centroids), "label")
        .select(col("label"), col("vec_id"),
          round(graft.plans.CosineSim.cosine(s, col("embedding"), col("centroid")), 4)
            .as("cos"))
        .withColumn("neg_cos", -col("cos"))
      graft.operators.Relational.topKByScore(scored, "label", "neg_cos", "vec_id", 3)
        .select(col("label"), col("rk"), col("vec_id"),
          (-col("neg_cos")).as("cos"))
        .orderBy("label", "rk")
    }),

    // IVF-flat ANN: spherical k-means coarse quantizer (deterministic
    // init), inverted lists by cluster, nprobe=2 probe + exact-cosine
    // rerank — the second classic ANN scale path next to knn_lsh. At 100 TB
    // the index is the corpus written bucketed by cluster; a query reads
    // nprobe/k of it.
    "knn_ivf" -> ((s, dir) => {
      val (centroids, index) = ivfIndex(s, dir)
      // probe vectors come off the STORED index too (it carries the
      // embeddings) — no redundant parquet re-scan per query
      val q = index.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      graft.operators.Ivf.knn(index, centroids, q, nprobe = 2, topK = topK)
        .orderBy("q_id", "rk")
    }),

    // IVF recall@k audit (r8): what fraction of each query's TRUE top-k
    // the nprobe=2 IVF probe surfaces — the missing cell of the audit
    // matrix (both ANN regimes × both index families: top-k/radius were
    // audited for LSH only). Reuses the memoized index AND the memoized
    // brute-force ground truth; the audit itself is a bounded join over
    // O(queries × k) rows. Left join makes misses an output property.
    "knn_ivf_recall" -> ((s, dir) => {
      val (centroids, index) = ivfIndex(s, dir)
      val q = index.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val ann = graft.operators.Ivf.knn(index, centroids, q, nprobe = 2, topK = topK)
        .select(col("q_id"), col("neighbor_id")).withColumn("in_ann", lit(1L))
      val ex = bruteTopK(s, dir).select(col("q_id"), col("neighbor_id"))
      ex.join(broadcast(ann), Seq("q_id", "neighbor_id"), "left_outer")
        .groupBy("q_id")
        .agg(count(lit(1)).cast("long").as("n_exact"),
          coalesce(sum(col("in_ann")), lit(0L)).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 4))
        .orderBy("q_id")
    }),

    // Cluster-stratified DIVERSITY sampling (r8): one representative per
    // IVF cell — the standard "cover the embedding space, don't oversample
    // dense modes" downsampling move for training-data curation. The
    // representative is the cell's most cohesive member (highest 4dp-
    // rounded cosine to the trained centroid — integer-quantized so the
    // argmax ordering replays exactly; lowest vec_id on ties), picked by a
    // map-side-combined max_by — never a per-cluster window over corpus
    // rows (16 cells would mean 16 reducers sorting the corpus). Cost:
    // the stats-query broadcast join + one O(cells) aggregate.
    "emb_diversity_sample" -> ((s, dir) => {
      val (centroids, index) = ivfIndex(s, dir)
      val scored = index.join(broadcast(centroids), "cluster")
        .select(col("cluster").cast("long").as("cluster"), col("vec_id"),
          round(graft.plans.CosineSim.cosine(s, col("embedding"),
            col("centroid")), 4).as("cos"))
        .withColumn("qcos", round(col("cos") * 10000).cast("long"))
      scored.groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"),
          max_by(col("vec_id"),
            struct(col("qcos"), (-col("vec_id")).as("nid"))).as("rep_vec_id"),
          max("qcos").as("mq"))
        .select(col("cluster"), col("n_vecs"), col("rep_vec_id"),
          (col("mq") / lit(10000.0)).as("rep_cohesion"))
        .orderBy("cluster")
    }),

    // IVF index HEALTH report — the diagnostic an ANN team reads before
    // trusting an index: per-cluster inverted-list size, corpus share,
    // and mean member cosine to the trained centroid (cohesion).
    // Unbalanced lists are THE IVF failure mode at scale: one hot list
    // turns every probe that hits it into a near-corpus scan, so this
    // report is what decides re-training k or splitting lists. Cost: one
    // broadcast join of the stored index against 16 centroids + a
    // 16-group aggregate. Cohesion rides 1e4-scaled longs over the
    // 4dp-rounded per-vector cosine — order-free exact sums, one final
    // division — so the report hash-replays.
    "knn_ivf_stats" -> ((s, dir) => {
      val (centroids, index) = ivfIndex(s, dir)
      val tot = index.agg(count(lit(1)).as("total"))
      index.join(broadcast(centroids), "cluster")
        .select(col("cluster").cast("long").as("cluster"),
          round(graft.plans.CosineSim.cosine(s, col("embedding"),
            col("centroid")), 4).as("cos"))
        .withColumn("qcos", round(col("cos") * 10000).cast("long"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), sum("qcos").as("sq"))
        .crossJoin(broadcast(tot))
        // the mean ROUNDS IN INTEGERS (half-up: (2·sum + n) div 2n), then
        // one exact /10⁴ — a float mean can land exactly on the 4dp
        // half-boundary (cluster 7 at sf0.001: 97328/320000 = .30415) where
        // Spark's BigDecimal HALF_UP and DuckDB's C-double round disagree
        .select(col("cluster"), col("n_vecs"),
          round(col("n_vecs") * 100.0 / col("total"), 4).as("pct_of_corpus"),
          (expr("(sq * 2 + n_vecs) div (n_vecs * 2)") / 10000.0)
            .as("mean_cos_to_centroid"))
        .orderBy("cluster")
    }),

    // Multi-table LSH ANN (4 tables × 8 hyperplanes): a vector is a
    // candidate if it agrees with the query on ANY table — the standard
    // recall/throughput trade. Corpus side explodes to (table, sig) bucket
    // keys; query side is broadcast, so candidate generation is a map-side
    // hash join with no corpus shuffle; distinct + top-k per query after.
    "knn_lsh" -> ((s, dir) => lshTopK(s, dir).orderBy("q_id", "rk")),

    // ANN quality instrumentation, the vector-tier sibling of
    // dedup_lsh_audit: recall@k of the LSH top-k against the exact
    // brute-force top-k, per query. Unlike the dedup audit (whose exact
    // side spans the corpus and needs the sampled-stratum form at scale),
    // the exact side here is ALREADY bounded by the query sample — grading
    // recall on a bounded query set is exactly how a production ANN index
    // is audited at 100 TB, so this form IS the production form.
    "knn_recall_audit" -> ((s, dir) => {
      val ann = lshTopK(s, dir)
        .select(col("q_id"), col("neighbor_id")).withColumn("in_ann", lit(1L))
      val ex = bruteTopK(s, dir).select(col("q_id"), col("neighbor_id"))
      ex.join(broadcast(ann), Seq("q_id", "neighbor_id"), "left_outer")
        .groupBy("q_id")
        .agg(count(lit(1)).cast("long").as("n_exact"),
          coalesce(sum(col("in_ann")), lit(0L)).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 4))
        .orderBy("q_id")
    }),

    // GRAPH-ANN SEARCH (r11 — VERDICT item 3): greedy BEAM SEARCH over the
    // stored NN-descent graph — the serving primitive the r9/r10 graph
    // BUILD work exists for (the HNSW/NSG navigation idea at degree 3).
    // Entry point = the quantizer route (nearest trained centroid, lowest
    // vec_id in its cell); then 3 unrolled hops, each expanding the beam
    // through the UNDIRECTED graph (edges ∪ reversed — reverse edges make
    // the low-degree graph navigable), rescoring candidates by 4dp cosine
    // and keeping the best 16 per query ((cos desc, vec_id) — the
    // bounded-heap TopKAgg, so each hop shuffles O(queries × beam), never
    // the graph). The beam is LINEAGE-CUT per hop: a bounded artifact, or
    // hop h's plan would replay hops 1..h-1's corpus joins. Scale shape
    // per hop: candidate ids broadcast into one edge-list probe + one
    // corpus probe — map-side joins at any graph size, the iterative
    // frontier pattern a 100 TB graph store serves. Gate = the
    // knn_recall_audit posture (bounded query sample, exact side oracled):
    // recall@k of the beam result vs the brute-force top-k, with the whole
    // chain — nndescent build, seed rule, every hop — replayed in SQL.
    // MMR DIVERSITY RE-RANKING (r12) — Maximal Marginal Relevance
    // (Carbonell & Goldstein '98), the serving-layer verb between
    // retrieval and the consumer: greedily re-rank the brute-force top-10
    // into 5 picks maximizing λ·relevance − (1−λ)·max-similarity-to-
    // already-picked. At λ = ½ the argmax reduces to the INTEGER score
    // rel4 − maxsim4 over 1e4-scaled 4dp cosines — fully exact, no float
    // comparison anywhere in the greedy (ties → lowest id), so all four
    // unrolled steps replay bit-identically in SQL. Scale shape: the
    // candidate set is O(queries × k) and the pair table O(queries × k²)
    // — bounded by the serving request, never the corpus; each step is
    // one tiny join + argmax, lineage-cut.
    "knn_mmr_rerank" -> ((s, dir) => {
      // r15 (guide §5): retrieval (bruteTopK) and the pair cosines stay
      // distributed; the greedy itself runs IN THE SERVING PROCESS over
      // the two request-bounded artifacts — cand = O(queries × k) = 50
      // rows, pairs = O(queries × k²) = 450 rows, independent of corpus
      // size (the ceiling-guarded bounded-pull class, like the codebook
      // and 1-row-bounds pulls). The former unrolled-iteration lattice
      // (4 per-step lineage cuts + anti-join + argmax joins) spent ~15
      // tiny cluster jobs reranking 50 rows — the greedy is the same
      // exact integer math (rel4 − max sim4, ties → lowest id), so the
      // SQL oracle replays it unchanged.
      val cand = bruteTopK(s, dir)
        .select(col("q_id"), col("neighbor_id"),
          round(col("cos") * 10000).cast("long").as("rel4"))
      val sv = emb(s, dir).select(col("vec_id"), col("embedding"))
      val ce = cand.join(sv, col("neighbor_id") === col("vec_id"))
        .select(col("q_id"), col("neighbor_id"), col("embedding"))
      val pairs = ce.as("x").join(ce.as("y"),
          col("x.q_id") === col("y.q_id") &&
            col("x.neighbor_id") =!= col("y.neighbor_id"))
        .select(col("x.q_id").as("q_id"),
          col("x.neighbor_id").as("cid"), col("y.neighbor_id").as("sid"),
          round(round(graft.plans.CosineSim.cosine(s,
            col("x.embedding"), col("y.embedding")), 4) * 10000)
            .cast("long").as("sim4"))
      // both pulls ride the plan-enforced ceiling (BoundedPull): candidates
      // at queries × k, pair sims at queries × k × (k−1) — the r15 verdict
      // flagged that only the candidate pull was guarded while the O(k²)
      // pair pull could have moved ~16M rows before any check ran
      val candR = graft.operators.BoundedPull
        .rows(cand, 4096, "knn_mmr_rerank candidates")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val simR = graft.operators.BoundedPull
        .rows(pairs, 4096, "knn_mmr_rerank pair sims")
        .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
        .toMap
      val rows = candR.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
        val rel = cs.map(c => c._2 -> c._3).toMap
        // step 1: pure relevance, ties → lowest id; steps 2..5: argmax of
        // rel4 − max(sim4 to selected), ties → lowest id — bit-identical
        // to the former per-step topKPerGroup((score2 desc, neighbor_id))
        var selected = Vector.empty[(Long, Long, Option[Long])]
        var remaining = rel.keySet
        val first = remaining.toSeq.map(id => (rel(id), id))
          .sortBy { case (r, id) => (-r, id) }.head._2
        selected :+= ((first, rel(first), None))
        remaining -= first
        for (_ <- 2 to 5 if remaining.nonEmpty) {
          val scored = remaining.toSeq.map { id =>
            val ms = selected.map(sel => simR((q, id, sel._1))).max
            (id, rel(id) - ms, ms)
          }
          val (id, _, ms) = scored
            .sortBy { case (cid, s2, _) => (-s2, cid) }.head
          selected :+= ((id, rel(id), Some(ms)))
          remaining -= id
        }
        selected.zipWithIndex.map { case ((id, r4, ms4), i) =>
          (q, (i + 1).toLong, id, r4, ms4)
        }
      }
      import s.implicits._
      rows.toDF("q_id", "rk", "neighbor_id", "rel4", "ms4")
        .select(col("q_id"), col("rk"), col("neighbor_id"),
          (col("rel4").cast("double") / 10000.0).as("rel"),
          (col("ms4").cast("double") / 10000.0).as("max_sim_sel"))
        .orderBy("q_id", "rk")
    }),

    "knn_graph_search" -> ((s, dir) => {
      val (beam, _) = graphBeam(s, dir, beamW = 16, hops = 3)
      beamRecallAudit(s, dir, beam).orderBy("q_id")
    }),

    // RECALL-VS-COST SWEEP (r12 — VERDICT item 7): the same beam engine
    // run at TWO widths (4 and 16, 3 hops each) and audited TOGETHER —
    // the knob a serving layer actually tunes, with both sides of the
    // trade in one gated row per width: recall@10 totals over the query
    // sample AND the deterministic cost surface (n_scored = Σ over hops
    // of candidates rescored — the number of distance computations the
    // width buys, fully determined by the graph + the (cos desc, vec_id)
    // beam rule, so the oracle replays BOTH sweeps exactly). The wider
    // beam must dominate on recall and pay for it in rescores; the gate
    // hashes the exact frontier sizes, so any drift in the navigation
    // rule — not just its end recall — breaks the hash.
    // r13 (VERDICT item 7): the sweep's engine now enters the graph via
    // TWO centroid routes (nSeeds = 2) — multi-seed entry lifts the
    // cheap end of the curve (width 4: recall 0.26 → measured ≥ the r12
    // width-16 neighborhood at comparable n_scored) because a narrow
    // beam greedily descends a single basin; knn_graph_search keeps the
    // classic single-entry rule, so its gate is hash-stable.
    "knn_graph_sweep" -> ((s, dir) => {
      Seq(4, 16).map { w =>
        val (beam, scoredAll) =
          graphBeam(s, dir, beamW = w, hops = 3, nSeeds = 2, degree = 6)
        val recall = beamRecallAudit(s, dir, beam)
          .agg(sum("n_exact").as("n_exact"), sum("n_hit").as("n_hit"))
        val cost = scoredAll.agg(count(lit(1)).as("n_scored"))
        recall.crossJoin(cost)
          .select(lit(w.toLong).as("beam_w"),
            col("n_exact").cast("long").as("n_exact"),
            col("n_hit").cast("long").as("n_hit"),
            round(col("n_hit").cast("double") / col("n_exact"), 4)
              .as("recall"),
            col("n_scored"))
      }.reduce(_ unionAll _).orderBy("beam_w")
    }),

    // FILTERED ANN (r10) — attribute-constrained retrieval ("nearest
    // within the same label"), the vector-DB filtered-search verb and
    // the same-side sibling of emb_hard_negatives' different-label mine:
    // the label predicate joins INTO candidate generation (never
    // post-filtering a top-k that could then underfill). Query sample
    // broadcasts; at 100 TB the production layout partitions the index
    // by the filter attribute (the src_partitioned_roundtrip layout), so
    // a filtered query scans only its label's directory — this gate pins
    // the semantics the pruned plan must preserve.
    "knn_filtered" -> ((s, dir) => {
      val q = emb(s, dir).filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("embedding").as("q_emb"))
      val scored = emb(s, dir).join(broadcast(q),
          col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(graft.plans.CosineSim.cosine(s, col("q_emb"), col("embedding")), 4)
            .as("cos"))
      Relational.topKByScore(scored, "q_id", "cos", "neighbor_id", topK)
        .orderBy("q_id", "rk")
    }),

    // EMBEDDING-SPACE CONFUSION MATRIX (r10) — the label-coherence audit
    // an embedding pipeline runs per model version: assign every vector
    // to its NEAREST LABEL CENTROID and cross-tabulate true × predicted
    // (diagonal mass = how linearly separable the labels are in this
    // space). Centroids are the 1e-6-quantized VectorMeanAgg means
    // (order-free long partials — reruns/reshards/oracles reproduce them
    // bit-exactly, the knn_ivf discipline) collected as the O(labels ×
    // dim) plan literal; assignment is the codegen'd NearestCentroid
    // argmax (strict compare, lowest index = lowest label on ties) —
    // map-side, no corpus exchange; output is the O(labels²) matrix.
    "emb_confusion" -> ((s, dir) => {
      val rows = emb(s, dir).groupBy("label")
        .agg(graft.plans.VectorMeanAgg.mean(s, col("embedding")).as("centroid"))
        .orderBy("label").collect()
      val labels: Seq[Int] = rows.map(_.getInt(0)).toSeq
      val cents: Seq[Seq[Double]] = rows.map(_.getSeq[Double](1)).toSeq
      emb(s, dir).select(col("label"),
          graft.plans.NearestCentroid.nearest(s, col("embedding"),
            typedLit(cents)).as("ci"))
        .withColumn("pred_label", element_at(typedLit(labels), col("ci") + 1))
        .groupBy("label", "pred_label")
        .agg(count(lit(1)).as("n"))
        .select(col("label").cast("long").as("label"),
          col("pred_label").cast("long").as("pred_label"), col("n"))
        .orderBy("label", "pred_label")
    }),

    // MATRYOSHKA truncation audit (r10) — MRL embeddings (Kusupati et
    // al. '22) ship one vector whose PREFIX is itself a usable lower-dim
    // embedding; serving truncates to d′ dims for cheap first-stage
    // retrieval. This gate measures what that costs HERE: recall@k of
    // the d′=16-prefix cosine top-k against the full-64-dim exact top-k
    // (the knn_recall_audit form, exact side already bounded by the
    // query sample — the production audit shape). slice() is a zero-copy
    // prefix read; at 100 TB the truncated scan reads d′/dim of the
    // vector bytes, which is the whole point being audited.
    "emb_mrl_recall" -> ((s, dir) => {
      val d = 16
      val q = emb(s, dir).filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"),
          slice(col("embedding"), 1, d).as("q_t"))
      val scored = emb(s, dir).join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          round(graft.plans.CosineSim.cosine(s, col("q_t"),
            slice(col("embedding"), 1, d)), 4).as("tcos"))
      val trunc = Relational
        .topKByScore(scored, "q_id", "tcos", "neighbor_id", topK)
        .select(col("q_id"), col("neighbor_id"))
        .withColumn("in_trunc", lit(1L))
      val ex = bruteTopK(s, dir).select(col("q_id"), col("neighbor_id"))
      ex.join(broadcast(trunc), Seq("q_id", "neighbor_id"), "left_outer")
        .groupBy("q_id")
        .agg(count(lit(1)).cast("long").as("n_exact"),
          coalesce(sum("in_trunc"), lit(0L)).as("n_hit"))
        .withColumn("recall",
          round(col("n_hit").cast("double") / col("n_exact"), 4))
        .orderBy("q_id")
    }),

    // Product-quantization ANN (Jégou et al. '11): the corpus is scanned in
    // COMPRESSED form — m=8 codes per vector against a 16-centroid
    // sub-codebook per subspace — so the candidate scan reads m bytes, not
    // dim floats, per vector (the RAM-resident billion-vector path). ADC
    // shortlist (native codegen'd pq_adc, bounded-heap TopKAgg so the
    // shuffle carries 5 × 50 rows), then exact-cosine rerank of the
    // shortlist only. Sampled codebook → the entire pipeline (encode,
    // ADC folds, both rank stages) replays bit-exactly in DuckDB.
    "knn_pq" -> ((s, dir) => {
      val (cb, codes) = pqIndex(s, dir)
      val cbLit = typedLit(cb)
      val q = codes.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = codes.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          // rank on the NEGATED rounded distance so the shared desc-order
          // top-k heap yields ascending-ADC, neighbor_id tie-break
          negate(round(graft.plans.Pq.adc(s, col("q_emb"), col("codes"), cbLit, pqM), 4))
            .as("neg_adc"))
      val short = Relational.topKByScore(scored, "q_id", "neg_adc", "neighbor_id", pqShortlist)
      val rer = short
        .join(codes.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("neighbor_id"),
          round(graft.plans.CosineSim.cosine(s, col("q_emb"), col("embedding")), 4).as("cos"))
      Relational.topKByScore(rer, "q_id", "cos", "neighbor_id", topK)
        .orderBy("q_id", "rk")
    }),

    // IVF-PQ ANN (Jégou et al. '11 §III): coarse quantizer + PQ over
    // RESIDUALS + per-probe ADC — the layout every billion-scale vector
    // index ships. A query ranks the ivfpqC coarse cells (pq_adc, m=1,
    // over a posexploded literal of cluster ids — map-side, no join),
    // probes its nprobe nearest, re-expresses itself as a residual
    // against each probed centroid, and ADC-scans ONLY those cells'
    // codes; the shortlist reranks by exact cosine on originals. At
    // 100 TB the index is m bytes + a cluster id per vector, written
    // bucketed by cluster: a query reads nprobe/ivfpqC of the CODES
    // (m/dim·(4 bytes) of the raw size), never the full vectors.
    "knn_ivfpq" -> ((s, dir) => {
      val (coarse, cb, index) = ivfpqIndex(s, dir)
      val coarseLit = typedLit(coarse)
      val q = index.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val probed = Relational.topKPerGroup(
          q.select(col("q_id"), col("q_emb"),
            posexplode(typedLit((0 until ivfpqC).toArray)).as(Seq("__p", "cluster")))
            .withColumn("d2", graft.plans.Pq.adc(s, col("q_emb"),
              array(col("cluster")), coarseLit, 1)),
          Seq("q_id"), Seq(col("d2").asc, col("cluster")), ivfpqProbe)
        .select(col("q_id"), col("cluster"),
          graft.plans.VecSub.sub(s, col("q_emb"),
            element_at(coarseLit, col("cluster") + 1)).as("q_res"))
      val scored = index.join(broadcast(probed),
          index("cluster") === probed("cluster") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"),
          // negated rounded ADC so the shared desc-order top-k heap yields
          // ascending-ADC, neighbor_id tie-break (the knn_pq shape)
          negate(round(graft.plans.Pq.adc(s, col("q_res"), col("codes"),
            typedLit(cb), pqM), 4)).as("neg_adc"))
      val short = Relational.topKByScore(scored, "q_id", "neg_adc", "neighbor_id", pqShortlist)
      val rer = short
        .join(index.select(col("vec_id").as("neighbor_id"), col("embedding")), "neighbor_id")
        .join(broadcast(q), "q_id")
        .select(col("q_id"), col("neighbor_id"),
          round(graft.plans.CosineSim.cosine(s, col("q_emb"), col("embedding")), 4).as("cos"))
      Relational.topKByScore(rer, "q_id", "cos", "neighbor_id", topK)
        .orderBy("q_id", "rk")
    }),

    // Johnson–Lindenstrauss random projection (dimensionality reduction
    // ahead of ANN/clustering): 64-dim float embeddings → 8 projection
    // values against the md5-derived plane family. Map-only — one native
    // codegen'd expression per row, no shuffle at any scale; the identical
    // IEEE double fold replays bit-exactly in DuckDB (same argument as the
    // knn_lsh signature replay, without even a sign decision involved).
    "emb_project" -> ((s, dir) =>
      emb(s, dir)
        .select(col("vec_id"),
          posexplode(graft.plans.HyperplaneSigs.project(s, col("embedding"), 8)))
        .select(col("vec_id"), col("pos").cast("long").as("p"),
          round(col("col"), 4).as("proj"))
        .orderBy("vec_id", "p")),

    // Distributed PCA (top principal component by power iteration) — the
    // data-DEPENDENT dimensionality reducer next to emb_project's
    // data-free JL projection. Every corpus fold is the 1e-6-quantized
    // long VectorMeanAgg (order-free ⇒ bit-replayable), per-row math is
    // the native vector-algebra family (VecSub/DotProd/VecScale), driver
    // state is O(dim) and each iteration is one corpus pass — the
    // parameter-server shape (see Embeddings.pcaTop). Output presentation
    // quantizes via floor(x·1e4)/1e4, NOT round(): the means/loadings are
    // structured rationals that can land exactly on the 4dp half-boundary
    // where Java's shortest-double-string HALF_UP and C rounding diverge
    // (the knn_ivf_stats lesson); floor on bit-identical doubles cannot.
    "emb_pca" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val (mu, v, centered) =
        graft.operators.Embeddings.pcaTop(e, "vec_id", "embedding", iters = 2)
      val d = graft.plans.DotProd.dot(s, col("c"), typedLit(v))
      val nsq = graft.plans.DotProd.dot(s, col("c"), col("c"))
      val st = centered.agg(
        sum(floor(d * d * lit(1e4)).cast("long")).as("num"),
        sum(floor(nsq * lit(1e4)).cast("long")).as("den")).head()
      val pctUnits = st.getLong(0) * 1000000L / st.getLong(1)
      import s.implicits._
      mu.zip(v).zipWithIndex
        .map { case ((m, l), i) => (i.toLong, m, l) }
        .toDF("dim", "mu", "loading")
        .select(col("dim"), (floor(col("mu") * 1e4) / 1e4).as("mean"),
          (floor(col("loading") * 1e4) / 1e4).as("loading"),
          lit(pctUnits / 10000.0).as("var_explained_pct"))
        .orderBy("dim")
    }),

    // Int8 scalar quantization — the storage-compression pass a 100 TB
    // vector lake applies before ANN (4x smaller than float32, the
    // standard SQ8 layout): per-dimension corpus (lo, hi) from one bounded
    // aggregate broadcast back, code = clamp(floor((x−lo)/span·256), 255),
    // midpoint decode. Per-dim audit row: range, codes actually used
    // (exact integers), reconstruction MSE in ppm — the code math is
    // exact integer arithmetic on both engines; the error stat rounds far
    // above summation-order ulp noise (~1e-15 relative vs 2dp of ppm).
    "emb_quantize" -> ((s, dir) => {
      val px = emb(s, dir)
        .select(posexplode(col("embedding")).as(Seq("dim", "xf")))
        .select(col("dim").cast("long").as("dim"), col("xf").cast("double").as("x"))
      val stats = px.groupBy("dim").agg(min("x").as("lo"), max("x").as("hi"))
      px.join(broadcast(stats), "dim")
        .withColumn("span", greatest(col("hi") - col("lo"), lit(1e-30)))
        .withColumn("code", least(
          floor((col("x") - col("lo")) / col("span") * 256).cast("long"), lit(255L)))
        .withColumn("err",
          col("x") - (col("lo") + (col("code").cast("double") + 0.5) * col("span") / 256.0))
        .groupBy("dim")
        .agg(round(min("lo"), 4).as("lo"), round(max("hi"), 4).as("hi"),
          countDistinct("code").as("n_codes"),
          round(avg(col("err") * col("err")) * 1e6, 2).as("mse_ppm"))
        .orderBy("dim")
    }))

  /** knn_bruteforce is oracle-checkable because ranking happens on the
    * ALREADY-ROUNDED cosine (4dp) with an id tie-break — double-precision
    * accumulation on both engines agrees to ~1e-15, far from the rounding
    * boundary.
    *
    * knn_lsh and dedup_embedding additionally replay the hyperplane
    * SIGNATURES bit-exactly: plane component (p, j) =
    * md5prefix60("plane:p:j") mod 1e6 / 5e5 − 1 (same integer → same
    * double on both engines), projection = the same left-fold of
    * float→double products in array order — IEEE doubles make identical
    * op sequences identical bits, so even the sign decision at proj ≥ 0
    * cannot diverge. */
  private val planeCtes =
    """dims AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
      |pl AS (
      |  SELECT p, list(('0x' || substr(md5('plane:' || p || ':' || j), 1, 15))::BIGINT
      |                 % 1000000 / 500000.0 - 1.0 ORDER BY j) AS plane
      |  FROM (SELECT unnest(range((SELECT nb FROM nbits) * 4)) AS p),
      |       (SELECT unnest(range((SELECT d FROM dims))) AS j)
      |  GROUP BY p),
      |proj AS (
      |  SELECT e.vec_id, pl.p // (SELECT nb FROM nbits) AS t,
      |         pl.p % (SELECT nb FROM nbits) AS p0,
      |         list_reduce(list_prepend(0.0,
      |           list_transform(range((SELECT d FROM dims)),
      |             k -> e.embedding[k + 1]::DOUBLE * pl.plane[k + 1])),
      |           (a, x) -> a + x) AS proj
      |  FROM embeddings e, pl),
      |sig AS (
      |  SELECT vec_id, t,
      |         CAST(sum(CASE WHEN proj >= 0 THEN (1::BIGINT << CAST(p0 AS INT)) ELSE 0 END)
      |              AS BIGINT) AS sig
      |  FROM proj GROUP BY vec_id, t)""".stripMargin

  /** The dedup_embedding pair replay (adaptive bits → bit-exact signature
    * → bucket-agreement candidates → exact-cosine verify) as a CTE chain —
    * ONE copy shared by the pair oracle and the cluster oracle so the
    * replay cannot drift between them (the sigCtes pattern from the text
    * tier). Ends in `out(vec_a, vec_b, cos)`; consumers filter ≥ 0.25. */
  private val embPairCtes =
    s"""cnt AS (SELECT count(*) AS n FROM embeddings),
       |nbits AS (
       |  SELECT LEAST(24, GREATEST(8, coalesce(min(b), 24))) AS nb
       |  FROM (SELECT unnest(range(25)) AS b), cnt WHERE (32::BIGINT << b) >= n),
       |$planeCtes,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM sig a JOIN sig b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id),
       |out AS (
       |  SELECT c.vec_a, c.vec_b,
       |         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |                                      CAST(eb.embedding AS DOUBLE[])), 4) AS cos
       |  FROM cand c
       |  JOIN embeddings ea ON ea.vec_id = c.vec_a
       |  JOIN embeddings eb ON eb.vec_id = c.vec_b)""".stripMargin

  /** The exact cosine fold of [[graft.plans.CosineSim]]/[[graft.plans
    * .NearestCentroid]] as DuckDB SQL: three independent left-to-right
    * double folds (dot, ‖v‖², ‖c‖²) then dot / (√na · √nb) — the
    * interleaved Scala loop keeps one accumulator per sum, so three
    * separate ordered folds produce the identical bit pattern. Used where
    * the comparison runs on UNROUNDED sims (argmax stages); the rounded
    * rerank uses list_cosine_similarity like every other knn oracle. */
  private def duckCos(v: String, c: String): String =
    s"""(list_reduce(list_prepend(0.0, list_transform(range((SELECT d FROM dims)),
       |    i -> $v[i+1] * $c[i+1])), (a,x) -> a + x)
       | / (sqrt(list_reduce(list_prepend(0.0, list_transform(range((SELECT d FROM dims)),
       |      i -> $v[i+1] * $v[i+1])), (a,x) -> a + x))
       |  * sqrt(list_reduce(list_prepend(0.0, list_transform(range((SELECT d FROM dims)),
       |      i -> $c[i+1] * $c[i+1])), (a,x) -> a + x))))""".stripMargin

  /** One Lloyd assignment as a CTE: argmax cosine over `cents`, strict
    * compare, lowest-cluster tie (row_number ORDER BY sim DESC, cluster —
    * DuckDB sorts NaN largest, matching Java Double.compare). */
  private def ivfAssignCte(out: String, cents: String): String =
    s"""$out AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT s.vec_id, c.cluster,
       |           row_number() OVER (PARTITION BY s.vec_id
       |             ORDER BY ${duckCos("s.v", "c.centroid")} DESC, c.cluster) AS rn
       |    FROM sv s, $cents c) WHERE rn = 1)""".stripMargin

  /** One Lloyd centroid update as CTEs: per-(cluster, dim) mean over the
    * 1e-6-quantized longs — the exact VectorMeanAgg fold (sum of
    * floor(x·1e6) longs is order-free; CAST(… AS DOUBLE)/1e6/n replays the
    * eval's left-to-right division order). */
  private def ivfUpdateCtes(out: String, assign: String): String =
    s"""${out}_d AS (
       |  SELECT a.cluster, generate_subscripts(s.v, 1) AS dim, unnest(s.v) AS x
       |  FROM $assign a JOIN sv s USING (vec_id)),
       |$out AS (
       |  SELECT cluster, list(cx ORDER BY dim) AS centroid FROM (
       |    SELECT cluster, dim,
       |           CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS cx
       |    FROM ${out}_d GROUP BY cluster, dim) GROUP BY cluster)""".stripMargin

  /** Full IVF replay: deterministic init (16 lowest-vec_id vectors), two
    * Lloyd iterations with the order-free quantized-long centroid fold,
    * final inverted-list assignment, nprobe=2 probe on unrounded sims,
    * exact-cosine rerank on (rounded cos, neighbor_id) — stage for stage
    * the plan `ivfIndex` + `Ivf.knn` executes. */
  /** One PCA power iteration as CTEs: per-row ordered dot fold against
    * the incoming direction, then the 1e-6-quantized long mean of the
    * VecScale contributions (the VectorMeanAgg replay), then the same
    * left-fold normalization the Scala driver runs. */
  private def pcaIterCtes(i: Int, vin: String): String =
    s"""d$i AS (
       |  SELECT c.vec_id, c.c,
       |         list_reduce(list_prepend(0.0, list_transform(range((SELECT d FROM dims)),
       |           j -> c.c[j+1] * v.v[j+1])), (a, b) -> a + b) AS dot
       |  FROM c, $vin v),
       |w${i}_d AS (
       |  SELECT dim, CAST(sum(CAST(floor(cx * dot * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS w
       |  FROM (SELECT dot, generate_subscripts(c, 1) AS dim, unnest(c) AS cx FROM d$i)
       |  GROUP BY dim),
       |w$i AS (SELECT list(w ORDER BY dim) AS w FROM w${i}_d),
       |v${i}n AS (SELECT list_transform(w, x -> x / sqrt(list_reduce(list_prepend(0.0,
       |  list_transform(w, y -> y * y)), (a, b) -> a + b))) AS v FROM w$i)""".stripMargin

  /** The quantizer-build prefix (init → 2 Lloyd rounds → final inverted
    * lists in `idx`, trained centroids in `c2`) shared by the knn_ivf and
    * knn_ivf_stats oracles. */
  private def ivfBuildCtesK(kExpr: String): String =
    s"""sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |dims AS (SELECT len(v) AS d FROM sv LIMIT 1),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cluster,
       |         v AS centroid
       |  FROM (SELECT vec_id, v FROM sv ORDER BY vec_id LIMIT $kExpr)),
       |${ivfAssignCte("a1", "c0")},
       |${ivfUpdateCtes("c1", "a1")},
       |${ivfAssignCte("a2", "c1")},
       |${ivfUpdateCtes("c2", "a2")},
       |${ivfAssignCte("idx", "c2")}""".stripMargin

  private val ivfBuildCtes: String = ivfBuildCtesK("16")

  /** The kNN-graph body over whichever build prefix precedes it: in-cell
    * pairs, 4dp cosine, top-3 by (cos desc, neighbor_id) — split from the
    * final SELECT so the NN-descent oracle can extend the ranked graph. */
  private val knnGraphBodyCtes: String =
    s"""g AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(sa.v, sb.v), 4) AS cos
       |  FROM idx a
       |  JOIN idx b ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
       |  JOIN sv sa ON sa.vec_id = a.vec_id
       |  JOIN sv sb ON sb.vec_id = b.vec_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
       |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM g)""".stripMargin
  private val knnGraphTailCtes: String =
    s"""$knnGraphBodyCtes
       |SELECT vec_id, rk, neighbor_id, cos FROM ranked WHERE rk <= 3
       |ORDER BY vec_id, rk""".stripMargin

  /** One NN-descent refinement round over the ranked in-cell graph (edges
    * ∪ reversed ∪ two-hop, exact-cosine rerank) ending in `rr(vec_id, rk,
    * neighbor_id, cos)` — ONE copy shared by the emb_nndescent oracle and
    * the knn_graph_search oracle (which navigates the refined graph). */
  private val nndRefineCtes: String =
    s"""$knnGraphBodyCtes,
       |base AS (SELECT vec_id, neighbor_id FROM ranked WHERE rk <= 3),
       |cand AS (
       |  SELECT vec_id, neighbor_id FROM base
       |  UNION SELECT neighbor_id, vec_id FROM base
       |  UNION SELECT a.vec_id, b.neighbor_id FROM base a
       |        JOIN base b ON b.vec_id = a.neighbor_id
       |        WHERE b.neighbor_id <> a.vec_id),
       |sc AS (
       |  SELECT c.vec_id, c.neighbor_id,
       |         round(list_cosine_similarity(sa.v, sb.v), 4) AS cos
       |  FROM cand c
       |  JOIN sv sa ON sa.vec_id = c.vec_id
       |  JOIN sv sb ON sb.vec_id = c.neighbor_id),
       |rr AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
       |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM sc)""".stripMargin

  /** The graph-SERVING shared replay prefix: nndescent-refined graph →
    * undirected edges → query sample → quantizer-routed seed (b0) → exact
    * brute-force top-k (ex) — everything the beam hops navigate over,
    * shared by graphSearchOracle and graphSweepOracle so the two replays
    * cannot drift. */
  private def graphServePrefixCtes(nSeeds: Int, degree: Int): String =
    s"""$ivfBuildCtes,
       |$nndRefineCtes,
       |nd AS (SELECT vec_id, neighbor_id FROM rr WHERE rk <= $degree),
       |und AS (SELECT vec_id, neighbor_id FROM nd
       |        UNION SELECT neighbor_id, vec_id FROM nd),
       |q AS (SELECT vec_id AS q_id, v AS q_emb FROM sv WHERE vec_id < $nQueries),
       |qc AS (
       |  SELECT q_id, cluster FROM (
       |    SELECT q.q_id, c.cluster,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${duckCos("q.q_emb", "c.centroid")} DESC, c.cluster) AS rn
       |    FROM q, c2 c) WHERE rn <= $nSeeds),
       |b0 AS (
       |  SELECT DISTINCT q_id, vec_id FROM (
       |    SELECT qc.q_id, qc.cluster, min(i.vec_id) AS vec_id
       |    FROM qc JOIN idx i ON i.cluster = qc.cluster AND i.vec_id <> qc.q_id
       |    GROUP BY qc.q_id, qc.cluster)),
       |bscored AS (
       |  SELECT q.q_id, s.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(q.q_emb, s.v), 4) AS cos
       |  FROM sv s JOIN q ON s.vec_id <> q.q_id),
       |ex AS (
       |  SELECT q_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |               ORDER BY cos DESC, neighbor_id) AS rk
       |    FROM bscored) WHERE rk <= $topK)""".stripMargin

  /** Width-tagged beam-hop CTE chain: x/y/b-prefixed, `w<beamW>h<hop>`
    * suffixed so two sweeps coexist in one WITH. The final beam table is
    * `b<hops>w<beamW>`; y-tables are the scored frontiers (the cost
    * surface). MATERIALIZED: each hop references its predecessor twice
    * (beam ∪ neighbors-of-beam) and the sweep reads every y-table twice
    * (beam rank + cost count) — inlined, the chain re-expands
    * exponentially and OOMs the oracle engine at two widths. */
  private def beamHopCtes(beamW: Int, hops: Int): String =
    (1 to hops).map { h =>
      val prev = if (h == 1) "b0" else s"b${h - 1}w$beamW"
      s"""xw${beamW}h$h AS MATERIALIZED (
         |  SELECT DISTINCT q_id, vec_id FROM (
         |    SELECT q_id, vec_id FROM $prev
         |    UNION ALL
         |    SELECT p.q_id, u.neighbor_id AS vec_id
         |    FROM $prev p JOIN und u ON u.vec_id = p.vec_id)
         |  WHERE vec_id <> q_id),
         |yw${beamW}h$h AS MATERIALIZED (
         |  SELECT c.q_id, c.vec_id,
         |         round(list_cosine_similarity(q.q_emb, s.v), 4) AS cos
         |  FROM xw${beamW}h$h c JOIN q ON q.q_id = c.q_id
         |  JOIN sv s ON s.vec_id = c.vec_id),
         |b${h}w$beamW AS MATERIALIZED (
         |  SELECT q_id, vec_id, cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, vec_id) AS rn
         |    FROM yw${beamW}h$h) WHERE rn <= $beamW)""".stripMargin
    }.mkString(",\n")

  /** knn_graph_search's full replay: the shared serving prefix → 3
    * unrolled beam hops (width 16, (cos desc, vec_id) rank) → per-query
    * recall@k audit vs the brute-force top-k. */
  private val graphSearchOracle: String =
    s"""WITH ${graphServePrefixCtes(1, 3)},
       |${beamHopCtes(16, 3)},
       |ann AS (
       |  SELECT q_id, vec_id AS neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |               ORDER BY cos DESC, vec_id) AS rk
       |    FROM b3w16) WHERE rk <= $topK)
       |SELECT ex.q_id AS q_id,
       |       CAST(count(*) AS BIGINT) AS n_exact,
       |       CAST(count(ann.neighbor_id) AS BIGINT) AS n_hit,
       |       round(CAST(count(ann.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
       |FROM ex LEFT JOIN ann
       |  ON ann.q_id = ex.q_id AND ann.neighbor_id = ex.neighbor_id
       |GROUP BY ex.q_id
       |ORDER BY ex.q_id""".stripMargin

  /** knn_graph_sweep's replay: BOTH beam widths' full hop chains in one
    * WITH (width-suffixed CTEs), each audited for recall@k totals and its
    * exact rescoring cost (Σ frontier sizes). */
  private val graphSweepOracle: String = {
    def widthCtes(w: Int): String =
      s"""annw$w AS (
         |  SELECT q_id, vec_id AS neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, vec_id) AS rk
         |    FROM b3w$w) WHERE rk <= $topK),
         |recw$w AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |         CAST(count(a.neighbor_id) AS BIGINT) AS n_hit
         |  FROM ex LEFT JOIN annw$w a
         |    ON a.q_id = ex.q_id AND a.neighbor_id = ex.neighbor_id),
         |costw$w AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_scored FROM (
         |    SELECT q_id FROM yw${w}h1
         |    UNION ALL SELECT q_id FROM yw${w}h2
         |    UNION ALL SELECT q_id FROM yw${w}h3))""".stripMargin
    def widthRow(w: Int): String =
      s"""SELECT CAST($w AS BIGINT) AS beam_w, n_exact, n_hit,
         |       round(CAST(n_hit AS DOUBLE) / n_exact, 4) AS recall, n_scored
         |FROM recw$w, costw$w""".stripMargin
    s"""WITH ${graphServePrefixCtes(2, 6)},
       |${beamHopCtes(4, 3)},
       |${beamHopCtes(16, 3)},
       |${widthCtes(4)},
       |${widthCtes(16)}
       |SELECT * FROM (
       |${widthRow(4)}
       |UNION ALL
       |${widthRow(16)})
       |ORDER BY beam_w""".stripMargin
  }

  /** The forced-scaled quantizer build (scaledGraphIndex's k rule as SQL —
    * DuckDB's LIMIT accepts a subquery, so k tracks the corpus count). */
  private val scaledBuildCtes: String = ivfBuildCtesK(
    "(SELECT GREATEST(17, CAST(ceil(count(*) / 24.0) AS INT)) FROM embeddings)")

  private val ivfOracle: String =
    s"""WITH $ivfBuildCtes,
       |q AS (SELECT vec_id AS q_id, v AS q_emb FROM sv WHERE vec_id < $nQueries),
       |probes AS (
       |  SELECT q_id, cluster FROM (
       |    SELECT q.q_id, c.cluster,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ${duckCos("q.q_emb", "c.centroid")} DESC, c.cluster) AS rn
       |    FROM q, c2 c) WHERE rn <= 2),
       |scored AS (
       |  SELECT p.q_id, i.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(q.q_emb, s.v), 4) AS cos
       |  FROM idx i
       |  JOIN probes p ON i.cluster = p.cluster AND i.vec_id <> p.q_id
       |  JOIN q ON q.q_id = p.q_id
       |  JOIN sv s ON s.vec_id = i.vec_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT q_id, rk, neighbor_id, cos FROM ranked WHERE rk <= $topK
       |ORDER BY q_id, rk""".stripMargin

  /** knn_mmr_rerank's replay: brute top-10 → 1e4-scaled integer
    * relevance/pair-sim tables → the four greedy steps unrolled, each an
    * integer-score argmax with the (score desc, id) tie rule. Heavy CTEs
    * MATERIALIZED (each step references cand/p/prior selections
    * repeatedly — inlined they re-expand per step). */
  private val mmrOracle: String = {
    def step(t: Int): String =
      s"""s$t AS MATERIALIZED (
         |  SELECT q_id, neighbor_id, rel4, ms4 FROM (
         |    SELECT c.q_id, c.neighbor_id, c.rel4, m.ms4,
         |           row_number() OVER (PARTITION BY c.q_id
         |             ORDER BY c.rel4 - m.ms4 DESC, c.neighbor_id) AS rn
         |    FROM cand c
         |    JOIN (SELECT p.q_id, p.cid, max(p.sim4) AS ms4
         |          FROM p JOIN sel${t - 1} s ON s.q_id = p.q_id
         |           AND s.neighbor_id = p.sid
         |          GROUP BY 1, 2) m
         |      ON m.q_id = c.q_id AND m.cid = c.neighbor_id
         |    WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
         |                      WHERE s.q_id = c.q_id
         |                        AND s.neighbor_id = c.neighbor_id))
         |  WHERE rn = 1),
         |sel$t AS MATERIALIZED (
         |  SELECT q_id, neighbor_id FROM sel${t - 1}
         |  UNION ALL SELECT q_id, neighbor_id FROM s$t)""".stripMargin
    def outRow(t: Int): String =
      s"""SELECT q_id, CAST($t AS BIGINT) AS rk, neighbor_id,
         |       CAST(rel4 AS DOUBLE) / 10000.0 AS rel,
         |       CAST(ms4 AS DOUBLE) / 10000.0 AS max_sim_sel FROM s$t""".stripMargin
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
       |           WHERE vec_id < $nQueries),
       |bscored AS (
       |  SELECT q.q_id, e.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(
       |           CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
       |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |             ORDER BY cos DESC, neighbor_id) AS rk
       |  FROM bscored),
       |cand AS MATERIALIZED (
       |  SELECT q_id, neighbor_id,
       |         CAST(round(cos * 10000) AS BIGINT) AS rel4
       |  FROM ranked WHERE rk <= $topK),
       |sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS MATERIALIZED (
       |  SELECT x.q_id, x.neighbor_id AS cid, y.neighbor_id AS sid,
       |         CAST(round(round(list_cosine_similarity(a.v, b.v), 4)
       |              * 10000) AS BIGINT) AS sim4
       |  FROM cand x JOIN cand y
       |    ON x.q_id = y.q_id AND x.neighbor_id <> y.neighbor_id
       |  JOIN sv a ON a.vec_id = x.neighbor_id
       |  JOIN sv b ON b.vec_id = y.neighbor_id),
       |s1 AS MATERIALIZED (
       |  SELECT q_id, neighbor_id, rel4, CAST(NULL AS BIGINT) AS ms4
       |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |                   ORDER BY rel4 DESC, neighbor_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |sel1 AS MATERIALIZED (SELECT q_id, neighbor_id FROM s1),
       |${(2 to 5).map(step).mkString(",\n")}
       |SELECT * FROM (
       |${(1 to 5).map(outRow).mkString("\nUNION ALL\n")})
       |ORDER BY q_id, rk""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the four-step integer-score greedy replayed exactly — see mmrOracle
    "knn_mmr_rerank" -> mmrOracle,
    // Graduated from rows-only in r7: the Lloyd centroid fold now
    // accumulates 1e-6-quantized longs (order-free), so the whole
    // quantizer build replays — see ivfOracle above.
    "knn_ivf" -> ivfOracle,

    // same build prefix and bit-exact quantized cohesion as knn_ivf_stats;
    // the representative via the (qcos desc, vec_id) window in SQL — the
    // Spark side's map-side max_by computes the identical argmax
    "emb_diversity_sample" ->
      s"""WITH $ivfBuildCtes,
         |co AS (
         |  SELECT i.cluster, i.vec_id,
         |         CAST(round(round(${duckCos("s.v", "c.centroid")}, 4)
         |              * 10000) AS BIGINT) AS qcos
         |  FROM idx i
         |  JOIN c2 c ON c.cluster = i.cluster
         |  JOIN sv s ON s.vec_id = i.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster
         |             ORDER BY qcos DESC, vec_id) AS rn
         |  FROM co),
         |n AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |             max(qcos) AS mq
         |      FROM co GROUP BY 1)
         |SELECT CAST(r.cluster AS BIGINT) AS cluster, n_vecs,
         |       r.vec_id AS rep_vec_id,
         |       CAST(mq AS DOUBLE) / 10000.0::DOUBLE AS rep_cohesion
         |FROM r JOIN n USING (cluster) WHERE rn = 1
         |ORDER BY cluster""".stripMargin,

    // the knn_ivf ANN replay joined against the knn_bruteforce ground
    // truth — same probe/rerank CTEs, same left-join recall accounting as
    // the LSH audit
    "knn_ivf_recall" ->
      s"""WITH $ivfBuildCtes,
         |q AS (SELECT vec_id AS q_id, v AS q_emb FROM sv WHERE vec_id < $nQueries),
         |probes AS (
         |  SELECT q_id, cluster FROM (
         |    SELECT q.q_id, c.cluster,
         |           row_number() OVER (PARTITION BY q.q_id
         |             ORDER BY ${duckCos("q.q_emb", "c.centroid")} DESC, c.cluster) AS rn
         |    FROM q, c2 c) WHERE rn <= 2),
         |iscored AS (
         |  SELECT p.q_id, i.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(q.q_emb, s.v), 4) AS cos
         |  FROM idx i
         |  JOIN probes p ON i.cluster = p.cluster AND i.vec_id <> p.q_id
         |  JOIN q ON q.q_id = p.q_id
         |  JOIN sv s ON s.vec_id = i.vec_id),
         |ann AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM iscored) WHERE rk <= $topK),
         |bscored AS (
         |  SELECT q.q_id, s.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(q.q_emb, s.v), 4) AS cos
         |  FROM sv s JOIN q ON s.vec_id <> q.q_id),
         |ex AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM bscored) WHERE rk <= $topK)
         |SELECT ex.q_id AS q_id,
         |       CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(count(ann.neighbor_id) AS BIGINT) AS n_hit,
         |       round(CAST(count(ann.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
         |FROM ex LEFT JOIN ann
         |  ON ann.q_id = ex.q_id AND ann.neighbor_id = ex.neighbor_id
         |GROUP BY ex.q_id
         |ORDER BY ex.q_id""".stripMargin,

    // same build prefix; in-cell pairs, 4dp cosine, ranked top-3 with the
    // (cos desc, neighbor_id) tie rule
    "emb_knn_graph" ->
      s"""WITH $ivfBuildCtes,
         |$knnGraphTailCtes""".stripMargin,

    // the identical graph over the corpus-scaled (k>16) quantizer build —
    // the whole scaled Lloyd chain replayed with dynamic k
    "emb_knn_graph_scaled" ->
      s"""WITH $scaledBuildCtes,
         |$knnGraphTailCtes""".stripMargin,

    // one NN-descent round over the ranked base graph: edges ∪ reversed ∪
    // two-hop, exact-cosine rerank, top-3 — same ordering contract
    "emb_nndescent" ->
      s"""WITH $ivfBuildCtes,
         |$nndRefineCtes
         |SELECT vec_id, rk, neighbor_id, cos FROM rr WHERE rk <= 3
         |ORDER BY vec_id, rk""".stripMargin,

    // the FULL extend replay: base-only in-cell graph, batch probes
    // (in-cell ∪ one stored hop), touched adoption merging stored
    // cosines with freshly-scored new pairs, then the overlap + cost
    // accounting against the full-rebuild graph (knnGraphBodyCtes'
    // ranked) — floor-quantized ratio, exact integer math
    "knn_graph_extend" ->
      s"""WITH ${ivfBuildCtesK(
        "(SELECT GREATEST(16, CAST(ceil(count(*) / 1024.0) AS INT)) " +
          "FROM embeddings)")},
         |$knnGraphBodyCtes,
         |tag AS (SELECT i.vec_id, i.cluster,
         |               (i.vec_id % 13 = 7) AS nw FROM idx i),
         |gb AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(sa.v, sb.v), 4) AS cos
         |  FROM tag a JOIN tag b ON a.cluster = b.cluster
         |    AND a.vec_id <> b.vec_id AND NOT a.nw AND NOT b.nw
         |  JOIN sv sa ON sa.vec_id = a.vec_id
         |  JOIN sv sb ON sb.vec_id = b.vec_id),
         |basegraph AS (
         |  SELECT vec_id, neighbor_id, cos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM gb) WHERE rk <= 3),
         |ncand AS (
         |  SELECT n.vec_id AS q, c.vec_id AS cand
         |  FROM tag n JOIN tag c ON c.cluster = n.cluster AND NOT c.nw
         |  WHERE n.nw
         |  UNION
         |  SELECT n.vec_id, g2.neighbor_id
         |  FROM tag n JOIN tag c ON c.cluster = n.cluster AND NOT c.nw
         |  JOIN basegraph g2 ON g2.vec_id = c.vec_id
         |  WHERE n.nw),
         |nsc AS (
         |  SELECT nc.q AS vec_id, nc.cand AS neighbor_id,
         |         round(list_cosine_similarity(sq.v, sc2.v), 4) AS cos
         |  FROM ncand nc
         |  JOIN sv sq ON sq.vec_id = nc.q
         |  JOIN sv sc2 ON sc2.vec_id = nc.cand),
         |newedges AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM nsc) WHERE rk <= 3),
         |adopt AS (
         |  SELECT b.vec_id, n.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(sb.v, sn.v), 4) AS cos
         |  FROM tag b JOIN tag n ON n.cluster = b.cluster AND n.nw
         |  JOIN sv sb ON sb.vec_id = b.vec_id
         |  JOIN sv sn ON sn.vec_id = n.vec_id
         |  WHERE NOT b.nw),
         |touched AS (SELECT DISTINCT vec_id FROM adopt),
         |refined AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM (SELECT g3.vec_id, g3.neighbor_id, g3.cos
         |          FROM basegraph g3 JOIN touched t USING (vec_id)
         |          UNION ALL SELECT vec_id, neighbor_id, cos FROM adopt))
         |  WHERE rk <= 3),
         |ext AS (
         |  SELECT vec_id, neighbor_id FROM basegraph
         |  WHERE vec_id NOT IN (SELECT vec_id FROM touched)
         |  UNION ALL SELECT vec_id, neighbor_id FROM refined
         |  UNION ALL SELECT vec_id, neighbor_id FROM newedges),
         |fullg AS (SELECT vec_id, neighbor_id FROM ranked WHERE rk <= 3),
         |stats AS (
         |  SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM tag WHERE nw) AS n_new,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ext) AS n_edges,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ext e
         |       JOIN fullg f ON e.vec_id = f.vec_id
         |        AND e.neighbor_id = f.neighbor_id) AS n_match,
         |    (SELECT CAST(count(*) AS BIGINT) FROM nsc) +
         |      (SELECT CAST(count(*) AS BIGINT) FROM adopt)
         |        AS n_scored_extend,
         |    (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_rebuild_pairs)
         |SELECT n_new, n_edges, n_match,
         |       CAST((10000 * n_match) // n_edges AS DOUBLE) / 10000
         |         AS overlap,
         |       n_scored_extend, n_rebuild_pairs
         |FROM stats""".stripMargin,

    // the FULL retraction replay: stored in-cell graph, tombstones,
    // touched set from the stored reverse edges, touched-only in-cell
    // repair, then the exact-match accounting against the rebuild over
    // the survivors — floor-quantized ratio, exact integer math
    "knn_graph_retract" ->
      s"""WITH ${ivfBuildCtesK(
        "(SELECT GREATEST(16, CAST(ceil(count(*) / 1024.0) AS INT)) " +
          "FROM embeddings)")},
         |$knnGraphBodyCtes,
         |tag AS (SELECT i.vec_id, i.cluster,
         |               (i.vec_id % 17 = 3) AS dr FROM idx i),
         |storedg AS (SELECT vec_id, neighbor_id FROM ranked WHERE rk <= 3),
         |touched AS (
         |  SELECT DISTINCT sg.vec_id FROM storedg sg
         |  JOIN tag d ON d.vec_id = sg.neighbor_id AND d.dr
         |  JOIN tag o ON o.vec_id = sg.vec_id AND NOT o.dr),
         |rp AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(sa.v, sb.v), 4) AS cos
         |  FROM tag a JOIN touched t ON t.vec_id = a.vec_id
         |  JOIN tag b ON b.cluster = a.cluster
         |    AND b.vec_id <> a.vec_id AND NOT b.dr
         |  JOIN sv sa ON sa.vec_id = a.vec_id
         |  JOIN sv sb ON sb.vec_id = b.vec_id),
         |repaired AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM rp) WHERE rk <= 3),
         |kept AS (
         |  SELECT sg.vec_id, sg.neighbor_id FROM storedg sg
         |  JOIN tag a ON a.vec_id = sg.vec_id AND NOT a.dr
         |  WHERE sg.vec_id NOT IN (SELECT vec_id FROM touched)),
         |ret AS (
         |  SELECT vec_id, neighbor_id FROM kept
         |  UNION ALL SELECT vec_id, neighbor_id FROM repaired),
         |rbp AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id
         |  FROM tag a JOIN tag b ON b.cluster = a.cluster
         |    AND b.vec_id <> a.vec_id AND NOT a.dr AND NOT b.dr),
         |rebuilt AS (
         |  SELECT vec_id, neighbor_id FROM (
         |    SELECT r2.vec_id, r2.neighbor_id,
         |           row_number() OVER (PARTITION BY r2.vec_id
         |             ORDER BY round(list_cosine_similarity(sa.v, sb.v), 4)
         |               DESC, r2.neighbor_id) AS rk
         |    FROM rbp r2
         |    JOIN sv sa ON sa.vec_id = r2.vec_id
         |    JOIN sv sb ON sb.vec_id = r2.neighbor_id)
         |  WHERE rk <= 3),
         |stats AS (
         |  SELECT
         |    (SELECT CAST(count(*) AS BIGINT) FROM tag WHERE dr)
         |      AS n_dropped,
         |    (SELECT CAST(count(*) AS BIGINT) FROM touched) AS n_touched,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ret) AS n_edges,
         |    (SELECT CAST(count(*) AS BIGINT) FROM ret e
         |       JOIN rebuilt f ON e.vec_id = f.vec_id
         |        AND e.neighbor_id = f.neighbor_id) AS n_match,
         |    (SELECT CAST(count(*) AS BIGINT) FROM rp) AS n_scored_repair,
         |    (SELECT CAST(count(*) AS BIGINT) FROM rbp)
         |      AS n_rebuild_pairs)
         |SELECT n_dropped, n_touched, n_edges, n_match,
         |       CAST((10000 * n_match) // n_edges AS DOUBLE) / 10000
         |         AS overlap,
         |       n_scored_repair, n_rebuild_pairs
         |FROM stats""".stripMargin,

    // the full graph-serving replay: refined graph, quantizer-routed seed,
    // 3 beam hops, recall audit — every stage in SQL
    "knn_graph_search" -> graphSearchOracle,

    // both sweep widths replayed hop-by-hop, recall totals + exact
    // frontier-size costs — see graphSweepOracle
    "knn_graph_sweep" -> graphSweepOracle,

    // same build prefix, then the per-list report: sizes, shares, and the
    // 1e4-scaled cohesion sums over 4dp-rounded cosines. The cosine here
    // MUST be the bit-exact duckCos fold, not list_cosine_similarity:
    // summing scaled roundings magnifies a single rounding-boundary
    // disagreement into a visible mean shift (seen at sf0.001), and only
    // bit-identical doubles entering round() make the boundary moot.
    "knn_ivf_stats" ->
      s"""WITH $ivfBuildCtes,
         |t AS (SELECT count(*) AS total FROM idx),
         |co AS (
         |  SELECT i.cluster,
         |         CAST(round(round(${duckCos("s.v", "c.centroid")}, 4)
         |              * 10000) AS BIGINT) AS qcos
         |  FROM idx i
         |  JOIN c2 c ON c.cluster = i.cluster
         |  JOIN sv s ON s.vec_id = i.vec_id)
         |SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n_vecs,
         |       round(count(*) * 100.0 / t.total, 4) AS pct_of_corpus,
         |       ((CAST(sum(qcos) AS BIGINT) * 2 + count(*)) // (count(*) * 2))
         |         / 10000.0 AS mean_cos_to_centroid
         |FROM co, t GROUP BY cluster, t.total ORDER BY cluster""".stripMargin,

    // Bit-exact signature replay (see above), then the same candidate rule
    // (agree on any table, self excluded), cosine rerank and ranked top-k
    // as the knn_bruteforce oracle.
    "knn_lsh" ->
      s"""WITH nbits AS (SELECT 8 AS nb),
         |$planeCtes,
         |q AS (SELECT vec_id AS q_id, t, sig FROM sig WHERE vec_id < $nQueries),
         |cand AS (
         |  SELECT DISTINCT q.q_id, s.vec_id AS neighbor_id
         |  FROM sig s JOIN q ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.q_id),
         |scored AS (
         |  SELECT c.q_id, c.neighbor_id,
         |         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                                      CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id
         |  JOIN embeddings qe ON qe.vec_id = c.q_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT q_id, rk, neighbor_id, cos FROM ranked WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    // Adaptive bits replayed integer-exactly (smallest b with 32·2^b ≥ n,
    // clamped to [8, 24] — the same rule as Embeddings.adaptiveBits), then
    // bucket-agreement candidates and the exact-cosine ≥ 0.25 verify.
    "dedup_embedding" ->
      s"""WITH $embPairCtes
         |SELECT vec_a, vec_b, cos FROM out WHERE cos >= 0.25 ORDER BY vec_a, vec_b""".stripMargin,

    // the pair replay above + the shared recursive components CTE (one
    // copy in DedupQueries so the cluster replay cannot drift per tier)
    "emb_dedup_clusters" ->
      s"""WITH RECURSIVE $embPairCtes,
         |pairs AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM out WHERE cos >= 0.25),
         |${DedupQueries.clusterCtes}
         |SELECT doc_id AS vec_id, cluster AS canonical FROM clusters ORDER BY vec_id""".stripMargin,

    // cluster replay + lockstep-unnest centroids (the emb_centroids
    // arithmetic) + the same 4dp-rounded (cos, vec_id) keep rank; the
    // oracle states the rank-1 SPEC with a window, the Spark side selects
    // the identical winner via the distributed min_by argmin
    "emb_keep_list" ->
      s"""WITH RECURSIVE $embPairCtes,
         |pairs AS (SELECT vec_a AS doc_a, vec_b AS doc_b FROM out WHERE cos >= 0.25),
         |${DedupQueries.clusterCtes},
         |mem AS (
         |  SELECT c.doc_id AS vec_id, c.cluster, e.embedding
         |  FROM clusters c JOIN embeddings e ON e.vec_id = c.doc_id),
         |cd AS (
         |  SELECT cluster, generate_subscripts(embedding, 1) AS dim,
         |         unnest(CAST(embedding AS DOUBLE[])) AS x
         |  FROM mem),
         |cent AS (
         |  SELECT cluster, list(cx ORDER BY dim) AS centroid
         |  FROM (SELECT cluster, dim, avg(x) AS cx FROM cd GROUP BY cluster, dim)
         |  GROUP BY cluster),
         |scored AS (
         |  SELECT m.vec_id, m.cluster,
         |         round(list_cosine_similarity(CAST(m.embedding AS DOUBLE[]),
         |                                      c.centroid), 4) AS cos_to_centroid
         |  FROM mem m JOIN cent c USING (cluster)),
         |kept AS (
         |  SELECT cluster, vec_id AS kept_vec FROM (
         |    SELECT cluster, vec_id,
         |           row_number() OVER (PARTITION BY cluster
         |                              ORDER BY cos_to_centroid, vec_id) AS rk
         |    FROM scored) WHERE rk = 1)
         |SELECT s.vec_id, s.cluster, s.cos_to_centroid,
         |       (s.vec_id = k.kept_vec) AS keep, k.kept_vec
         |FROM scored s JOIN kept k USING (cluster) ORDER BY s.vec_id""".stripMargin,

    // Element-wise centroid via lockstep unnest/generate_subscripts, then
    // the same cosine+avg+round pipeline as the Spark side. Both engines
    // accumulate in double, so 4dp rounding is far from any boundary (same
    // argument as knn_bruteforce below).
    "emb_centroids" ->
      """WITH d AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, list(cx ORDER BY dim) AS centroid
        |  FROM (SELECT label, dim, avg(x) AS cx FROM d GROUP BY label, dim)
        |  GROUP BY label),
        |cos AS (
        |  SELECT e.label,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                c.centroid) AS cos
        |  FROM embeddings e JOIN cent c USING (label))
        |SELECT label, count(*) AS n_vectors,
        |       round(avg(cos), 4) AS mean_cos_to_centroid
        |FROM cos GROUP BY label ORDER BY label""".stripMargin,

    // same subscripted explode; code arithmetic is the identical double
    // op sequence, the ppm rounding absorbs sum-order ulp
    "emb_quantize" ->
      """WITH px AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |st AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM px GROUP BY dim),
        |q AS (
        |  SELECT px.dim, px.x, st.lo, st.hi,
        |         greatest(st.hi - st.lo, 1e-30) AS span,
        |         least(CAST(floor((px.x - st.lo) / greatest(st.hi - st.lo, 1e-30) * 256)
        |               AS BIGINT), 255) AS code
        |  FROM px JOIN st ON st.dim = px.dim)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |       round(min(lo), 4) AS lo, round(max(hi), 4) AS hi,
        |       count(DISTINCT code) AS n_codes,
        |       round(avg((x - (lo + (code + 0.5) * span / 256.0)) *
        |                 (x - (lo + (code + 0.5) * span / 256.0))) * 1e6, 2) AS mse_ppm
        |FROM q GROUP BY dim ORDER BY dim""".stripMargin,

    "emb_dim_stats" ->
      """WITH d AS (
        |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |       round(avg(x), 4) AS mean,
        |       round(var_pop(x), 4) AS variance,
        |       min(x) AS lo, max(x) AS hi,
        |       round(CAST(sum(CASE WHEN abs(x) < 0.01 THEN 1 ELSE 0 END) AS DOUBLE) /
        |             count(*), 4) AS small_frac
        |FROM d GROUP BY dim ORDER BY dim""".stripMargin,

    // same centroid replay as emb_centroids; bottom-3 by (rounded cos,
    // vec_id) — the TopKAgg path is window-equivalent (spec'd)
    "emb_outliers" ->
      """WITH d AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, list(cx ORDER BY dim) AS centroid
        |  FROM (SELECT label, dim, avg(x) AS cx FROM d GROUP BY label, dim)
        |  GROUP BY label),
        |cos AS (
        |  SELECT e.label, e.vec_id,
        |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                      c.centroid), 4) AS cos
        |  FROM embeddings e JOIN cent c USING (label)),
        |rk AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY label
        |              ORDER BY cos, vec_id) AS BIGINT) AS rk
        |  FROM cos)
        |SELECT label, rk, vec_id, cos FROM rk WHERE rk <= 3
        |ORDER BY label, rk""".stripMargin,

    "knn_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |           WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(
         |           CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT q_id, rk, neighbor_id, cos FROM ranked WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    // knn_bruteforce's ranking with the label-equality predicate inside
    // candidate generation
    "knn_filtered" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS q_label,
         |                  embedding AS q_emb
         |           FROM embeddings WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(
         |           CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM embeddings e JOIN q
         |    ON e.label = q.q_label AND e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT q_id, rk, neighbor_id, cos FROM ranked WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    // the same quantized-long label means, the same argmax-cosine
    // assignment (strict compare, lowest label on ties)
    "emb_confusion" ->
      s"""WITH sv AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |            FROM embeddings),
         |dims AS (SELECT len(v) AS d FROM sv LIMIT 1),
         |cld AS (SELECT label, generate_subscripts(v, 1) AS dim, unnest(v) AS x
         |        FROM sv),
         |clm AS (SELECT label, dim,
         |               CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE)
         |                 / 1e6 / count(*) AS cx
         |        FROM cld GROUP BY label, dim),
         |cl AS (SELECT label AS plabel, list(cx ORDER BY dim) AS centroid
         |       FROM clm GROUP BY label),
         |asg AS (
         |  SELECT vec_id, label, plabel AS pred_label FROM (
         |    SELECT s.vec_id, s.label, c.plabel,
         |           row_number() OVER (PARTITION BY s.vec_id
         |             ORDER BY ${duckCos("s.v", "c.centroid")} DESC, c.plabel)
         |             AS rn
         |    FROM sv s, cl c) WHERE rn = 1)
         |SELECT CAST(label AS BIGINT) AS label,
         |       CAST(pred_label AS BIGINT) AS pred_label, count(*) AS n
         |FROM asg GROUP BY 1, 2 ORDER BY label, pred_label""".stripMargin,

    // the same two brute-force rankings — full-dim and 16-prefix — with
    // the recall join replayed
    "emb_mrl_recall" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |           WHERE vec_id < $nQueries),
         |exs AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(
         |           CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
         |ex AS (SELECT q_id, neighbor_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY q_id
         |                  ORDER BY cos DESC, neighbor_id) AS rk FROM exs)
         |       WHERE rk <= $topK),
         |tss AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(
         |           CAST(q.q_emb[1:16] AS DOUBLE[]),
         |           CAST(e.embedding[1:16] AS DOUBLE[])), 4) AS tcos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id),
         |tr AS (SELECT q_id, neighbor_id, 1 AS in_trunc FROM (
         |         SELECT *, row_number() OVER (PARTITION BY q_id
         |                  ORDER BY tcos DESC, neighbor_id) AS rk FROM tss)
         |       WHERE rk <= $topK)
         |SELECT ex.q_id, CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(coalesce(sum(tr.in_trunc), 0) AS BIGINT) AS n_hit,
         |       round(CAST(coalesce(sum(tr.in_trunc), 0) AS DOUBLE)
         |             / count(*), 4) AS recall
         |FROM ex LEFT JOIN tr USING (q_id, neighbor_id)
         |GROUP BY ex.q_id ORDER BY q_id""".stripMargin,

    "knn_range_search" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |           WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(
         |           CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id)
         |SELECT q_id, neighbor_id, cos FROM scored WHERE cos >= 0.25
         |ORDER BY q_id, neighbor_id""".stripMargin,

    // LSH radius candidates (same plane replay as knn_lsh) left-joined
    // under the exact radius set
    "knn_range_audit" ->
      s"""WITH nbits AS (SELECT 8 AS nb),
         |$planeCtes,
         |lq AS (SELECT vec_id AS q_id, t, sig FROM sig WHERE vec_id < $nQueries),
         |cand AS (
         |  SELECT DISTINCT lq.q_id, s.vec_id AS neighbor_id
         |  FROM sig s JOIN lq ON s.t = lq.t AND s.sig = lq.sig AND s.vec_id <> lq.q_id),
         |lsh AS (
         |  SELECT c.q_id, c.neighbor_id
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id
         |  JOIN embeddings qe ON qe.vec_id = c.q_id
         |  WHERE round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                                     CAST(e.embedding AS DOUBLE[])), 4) >= 0.25),
         |q2 AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |       WHERE vec_id < $nQueries),
         |exact AS (
         |  SELECT q2.q_id, e.vec_id AS neighbor_id
         |  FROM embeddings e JOIN q2 ON e.vec_id <> q2.q_id
         |  WHERE round(list_cosine_similarity(CAST(q2.q_emb AS DOUBLE[]),
         |                                     CAST(e.embedding AS DOUBLE[])), 4) >= 0.25)
         |SELECT x.q_id, CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lsh,
         |       round(CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |             / count(*), 4) AS radius_recall
         |FROM exact x LEFT JOIN lsh l
         |  ON l.q_id = x.q_id AND l.neighbor_id = x.neighbor_id
         |GROUP BY x.q_id ORDER BY x.q_id""".stripMargin,

    // same rounded-cosine total order, label-mismatch cut before the rank
    "emb_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS q_id, label AS anchor_label,
         |                  embedding AS q_emb
         |           FROM embeddings WHERE vec_id < $nQueries),
         |scored AS (
         |  SELECT q.q_id, q.anchor_label, e.vec_id AS neighbor_id,
         |         e.label AS neighbor_label,
         |         round(list_cosine_similarity(
         |           CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.q_id
         |  WHERE e.label <> q.anchor_label),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT q_id, anchor_label, rk, neighbor_id, neighbor_label, cos
         |FROM ranked WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    // Full PQ replay (sub = 64/8 = 8 dims hardcoded for the test lake; the
    // Spark side derives it from the data): sampled codebook from the 16
    // lowest-vec_id vectors, per-(vec, subspace, centroid) L2² via the
    // lockstep fold (bit-identical to the encoder's inner loop), argmin
    // with (d2, c) ordering = the strict-compare/lowest-c tie rule, ADC =
    // ordered fold of the per-subspace distances (the encoder's s-ascending
    // accumulation), shortlist on (rounded adc, neighbor_id), exact-cosine
    // rerank — every rank stage shares the Spark side's total order.
    "knn_pq" ->
      s"""WITH cbsrc AS (
         |  SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE vec_id < $pqK),
         |cb AS (
         |  SELECT s, c, v[s*8 + 1 : s*8 + 8] AS cent
         |  FROM cbsrc, (SELECT unnest(range($pqM)) AS s)),
         |sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |dist AS (
         |  SELECT sv.vec_id, cb.s, cb.c,
         |         list_reduce(list_prepend(0.0, list_transform(range(8),
         |           i -> (sv.v[cb.s*8 + i + 1] - cb.cent[i + 1])
         |              * (sv.v[cb.s*8 + i + 1] - cb.cent[i + 1]))),
         |           (a, x) -> a + x) AS d2
         |  FROM sv, cb),
         |codes AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
         |    FROM dist)
         |  WHERE rn = 1),
         |adc AS (
         |  SELECT dq.vec_id AS q_id, n.vec_id AS neighbor_id,
         |         round(list_reduce(list_prepend(0.0, list(dq.d2 ORDER BY dq.s)),
         |           (a, x) -> a + x), 4) AS adc
         |  FROM codes n JOIN dist dq ON dq.s = n.s AND dq.c = n.code
         |  WHERE dq.vec_id < $nQueries AND n.vec_id <> dq.vec_id
         |  GROUP BY dq.vec_id, n.vec_id),
         |short AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY adc, neighbor_id) AS srn
         |    FROM adc)
         |  WHERE srn <= $pqShortlist),
         |rer AS (
         |  SELECT c.q_id, c.neighbor_id,
         |         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                                      CAST(ne.embedding AS DOUBLE[])), 4) AS cos
         |  FROM short c
         |  JOIN embeddings qe ON qe.vec_id = c.q_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM rer)
         |SELECT q_id, rk, neighbor_id, cos FROM ranked WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    // The audit replay is the knn_lsh and knn_bruteforce oracles as CTE
    // chains feeding one grouped left join — no new float compares beyond
    // the two already-replayable rank stages (recall rounds an exact
    // small-integer ratio).
    "knn_recall_audit" ->
      s"""WITH nbits AS (SELECT 8 AS nb),
         |$planeCtes,
         |q AS (SELECT vec_id AS q_id, t, sig FROM sig WHERE vec_id < $nQueries),
         |cand AS (
         |  SELECT DISTINCT q.q_id, s.vec_id AS neighbor_id
         |  FROM sig s JOIN q ON s.t = q.t AND s.sig = q.sig AND s.vec_id <> q.q_id),
         |lscored AS (
         |  SELECT c.q_id, c.neighbor_id,
         |         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                                      CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.neighbor_id
         |  JOIN embeddings qe ON qe.vec_id = c.q_id),
         |ann AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM lscored)
         |  WHERE rk <= $topK),
         |bq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
         |       WHERE vec_id < $nQueries),
         |bscored AS (
         |  SELECT bq.q_id, e.vec_id AS neighbor_id,
         |         round(list_cosine_similarity(
         |           CAST(bq.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 4) AS cos
         |  FROM embeddings e JOIN bq ON e.vec_id <> bq.q_id),
         |ex AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |               ORDER BY cos DESC, neighbor_id) AS rk
         |    FROM bscored)
         |  WHERE rk <= $topK)
         |SELECT ex.q_id AS q_id,
         |       CAST(count(*) AS BIGINT) AS n_exact,
         |       CAST(count(ann.neighbor_id) AS BIGINT) AS n_hit,
         |       round(CAST(count(ann.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
         |FROM ex LEFT JOIN ann
         |  ON ann.q_id = ex.q_id AND ann.neighbor_id = ex.neighbor_id
         |GROUP BY ex.q_id
         |ORDER BY ex.q_id""".stripMargin,

    // The IVF-PQ replay extends the knn_pq argument one stage down: the
    // coarse assignment is the SAME lockstep (diff² left-fold, argmin with
    // (d2, c) ordering) over the full vector — pq_encode with m=1 on the
    // Spark side — the residual is one exact IEEE subtraction per element
    // (no fold, no order sensitivity), and everything after (codes, ADC,
    // shortlist, rerank) is the knn_pq machinery verbatim on residuals.
    "knn_ivfpq" ->
      s"""WITH cents AS (
         |  SELECT CAST(vec_id AS INT) AS cl, CAST(embedding AS DOUBLE[]) AS cent
         |  FROM embeddings WHERE vec_id < $ivfpqC),
         |sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cdist AS (
         |  SELECT sv.vec_id, cents.cl,
         |         list_reduce(list_prepend(0.0, list_transform(range(64),
         |           i -> (sv.v[i + 1] - cents.cent[i + 1])
         |              * (sv.v[i + 1] - cents.cent[i + 1]))),
         |           (a, x) -> a + x) AS d2
         |  FROM sv, cents),
         |assign AS (
         |  SELECT vec_id, cl AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM cdist)
         |  WHERE rn = 1),
         |resid AS (
         |  SELECT sv.vec_id, a.cluster,
         |         list_transform(range(64), i -> sv.v[i + 1] - c.cent[i + 1]) AS r
         |  FROM sv JOIN assign a USING (vec_id) JOIN cents c ON c.cl = a.cluster),
         |cb AS (
         |  SELECT s, CAST(vec_id - $ivfpqC AS INT) AS c, r[s*8 + 1 : s*8 + 8] AS cent
         |  FROM resid, (SELECT unnest(range($pqM)) AS s)
         |  WHERE vec_id >= $ivfpqC AND vec_id < ${ivfpqC + pqK}),
         |ndist AS (
         |  SELECT re.vec_id, cb.s, cb.c,
         |         list_reduce(list_prepend(0.0, list_transform(range(8),
         |           i -> (re.r[cb.s*8 + i + 1] - cb.cent[i + 1])
         |              * (re.r[cb.s*8 + i + 1] - cb.cent[i + 1]))),
         |           (a, x) -> a + x) AS d2
         |  FROM resid re, cb),
         |codes AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c) AS rn
         |    FROM ndist)
         |  WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id AS q_id, cl AS cluster FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |    FROM cdist WHERE vec_id < $nQueries)
         |  WHERE rn <= $ivfpqProbe),
         |qres AS (
         |  SELECT p.q_id, p.cluster,
         |         list_transform(range(64), i -> sv.v[i + 1] - c.cent[i + 1]) AS qr
         |  FROM probes p JOIN sv ON sv.vec_id = p.q_id JOIN cents c ON c.cl = p.cluster),
         |qdist AS (
         |  SELECT q.q_id, q.cluster, cb.s, cb.c,
         |         list_reduce(list_prepend(0.0, list_transform(range(8),
         |           i -> (q.qr[cb.s*8 + i + 1] - cb.cent[i + 1])
         |              * (q.qr[cb.s*8 + i + 1] - cb.cent[i + 1]))),
         |           (a, x) -> a + x) AS d2
         |  FROM qres q, cb),
         |adc AS (
         |  SELECT dq.q_id, n.vec_id AS neighbor_id,
         |         round(list_reduce(list_prepend(0.0, list(dq.d2 ORDER BY dq.s)),
         |           (a, x) -> a + x), 4) AS adc
         |  FROM codes n
         |  JOIN assign an ON an.vec_id = n.vec_id
         |  JOIN qdist dq ON dq.cluster = an.cluster AND dq.s = n.s AND dq.c = n.code
         |  WHERE n.vec_id <> dq.q_id
         |  GROUP BY dq.q_id, n.vec_id),
         |short AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT q_id, neighbor_id,
         |           row_number() OVER (PARTITION BY q_id ORDER BY adc, neighbor_id) AS srn
         |    FROM adc)
         |  WHERE srn <= $pqShortlist),
         |rer AS (
         |  SELECT c.q_id, c.neighbor_id,
         |         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
         |                                      CAST(ne.embedding AS DOUBLE[])), 4) AS cos
         |  FROM short c
         |  JOIN embeddings qe ON qe.vec_id = c.q_id
         |  JOIN embeddings ne ON ne.vec_id = c.neighbor_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |             ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
         |  FROM rer)
         |SELECT q_id, rk, neighbor_id, cos FROM ranked WHERE rk <= $topK
         |ORDER BY q_id, rk""".stripMargin,

    // Full power-iteration replay: quantized-long mean for μ, centered
    // lists, normalized lowest-id init, two pcaIterCtes rounds, then the
    // floor-quantized report (floor on bit-identical doubles — the
    // round()-free presentation the Spark side uses, see the query)
    "emb_pca" ->
      s"""WITH sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |dims AS (SELECT len(v) AS d FROM sv LIMIT 1),
         |xd AS (SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM sv),
         |mu_d AS (
         |  SELECT dim, CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6 / count(*) AS m
         |  FROM xd GROUP BY dim),
         |mu AS (SELECT list(m ORDER BY dim) AS m FROM mu_d),
         |c AS (
         |  SELECT s.vec_id,
         |         list_transform(range((SELECT d FROM dims)), j -> s.v[j+1] - mu.m[j+1]) AS c
         |  FROM sv s, mu),
         |v00 AS (SELECT c FROM c ORDER BY vec_id LIMIT 1),
         |v0n AS (SELECT list_transform(c, x -> x / sqrt(list_reduce(list_prepend(0.0,
         |  list_transform(c, y -> y * y)), (a, b) -> a + b))) AS v FROM v00),
         |${pcaIterCtes(1, "v0n")},
         |${pcaIterCtes(2, "v1n")},
         |st AS (
         |  SELECT CAST(sum(CAST(floor(dot * dot * 1e4) AS BIGINT)) AS BIGINT) AS num,
         |         CAST(sum(CAST(floor(nsq * 1e4) AS BIGINT)) AS BIGINT) AS den
         |  FROM (
         |    SELECT list_reduce(list_prepend(0.0, list_transform(range((SELECT d FROM dims)),
         |             j -> c.c[j+1] * v.v[j+1])), (a, b) -> a + b) AS dot,
         |           list_reduce(list_prepend(0.0, list_transform(range((SELECT d FROM dims)),
         |             j -> c.c[j+1] * c.c[j+1])), (a, b) -> a + b) AS nsq
         |    FROM c, v2n v))
         |SELECT CAST(m.dim - 1 AS BIGINT) AS dim,
         |       floor(m.m * 1e4) / 1e4 AS mean,
         |       floor(v.v[CAST(m.dim AS INT)] * 1e4) / 1e4 AS loading,
         |       (st.num * 1000000 // st.den) / 10000.0 AS var_explained_pct
         |FROM mu_d m, v2n v, st ORDER BY dim""".stripMargin,

    // The JL projection replay: same md5-derived plane components as the
    // LSH oracles, same left-fold order — identical IEEE double sequences
    // are bit-identical, so the 4dp rounding can never straddle a boundary
    // differently across engines.
    "emb_project" ->
      """WITH dims AS (SELECT len(embedding) AS d FROM embeddings LIMIT 1),
        |pl AS (
        |  SELECT p, list(('0x' || substr(md5('plane:' || p || ':' || j), 1, 15))::BIGINT
        |                 % 1000000 / 500000.0 - 1.0 ORDER BY j) AS plane
        |  FROM (SELECT unnest(range(8)) AS p),
        |       (SELECT unnest(range((SELECT d FROM dims))) AS j)
        |  GROUP BY p)
        |SELECT e.vec_id, pl.p,
        |       round(list_reduce(list_prepend(0.0,
        |         list_transform(range((SELECT d FROM dims)),
        |           k -> e.embedding[k + 1]::DOUBLE * pl.plane[k + 1])),
        |         (a, x) -> a + x), 4) AS proj
        |FROM embeddings e, pl
        |ORDER BY vec_id, p""".stripMargin)
}
