package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-column aggregations shared by queries and specs. */
object Embeddings {

  /** Per-label centroid: element-wise mean via posexplode → (label, dim)
    * agg — scales to any dimension/cardinality because no row ever holds
    * more than one (dim, value) pair inside the aggregation. */
  def labelCentroids(e: DataFrame, labelCol: String, vecCol: String): DataFrame =
    e.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("label", "dim").agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("dim"), col("cx")))).as("pairs"))
      .select(col("label"),
        transform(col("pairs"), p => p.getField("cx")).as("centroid"))

  /** Top principal component by POWER ITERATION — distributed PCA the way
    * a parameter-server round would run it, with every corpus-touching
    * fold replayable:
    *
    *   - μ and each iteration's unnormalized update w = Σᵢ cᵢ(cᵢ·v)/n ride
    *     [[graft.plans.VectorMeanAgg]] (1e-6-quantized LONG partial sums —
    *     integer addition is order-free, so reruns/reshards/oracles
    *     reproduce the folds bit-exactly; the same discipline that
    *     graduated knn_ivf to an exact oracle).
    *   - per-row math is the native codegen'd vector algebra: VecSub for
    *     centering, DotProd for the projection, VecScale for the
    *     outer-product contribution — no interpreted lambdas in the
    *     per-row loop.
    *   - driver state is O(dim) (μ, v) — the bounded parameter-server
    *     shape; each iteration is ONE corpus pass with a k=1 aggregate,
    *     no lineage growth (v enters as a plan literal).
    *   - init = the centered lowest-id vector normalized (deterministic,
    *     like the IVF seeding); normalization is a driver-side
    *     left-to-right fold any engine replays.
    *
    * Returns (μ, v, centered) — mean, unit principal direction, and the
    * centered corpus (vec_id, c) for downstream projection/stats. */
  def pcaTop(e: DataFrame, idCol: String, vecCol: String, iters: Int)
      : (Seq[Double], Seq[Double], DataFrame) = {
    val s = e.sparkSession
    def normalize(v: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum) // left fold, fixed order
      v.map(_ / n)
    }
    val mu = e.agg(graft.plans.VectorMeanAgg.mean(s, col(vecCol)))
      .head().getSeq[Double](0)
    val centered = e.select(col(idCol).as("vec_id"),
        graft.plans.VecSub.sub(s, col(vecCol), typedLit(mu)).as("c"))
      .transform(Checkpointing.cut) // read by init, every iteration, the caller
    var v = normalize(centered.orderBy("vec_id").limit(1)
      .head().getSeq[Double](1))
    var i = 0
    while (i < iters) {
      val w = centered.agg(graft.plans.VectorMeanAgg.mean(s,
          graft.plans.VecScale.scale(s, col("c"),
            graft.plans.DotProd.dot(s, col("c"), typedLit(v)))))
        .head().getSeq[Double](0)
      v = normalize(w)
      i += 1
    }
    (mu, v, centered)
  }

  /** Signature width that keeps the expected LSH bucket at ~targetBucket
    * rows regardless of corpus size: 2^bits ≈ n / targetBucket, clamped to
    * [8, 24]. A fixed 8-bit table caps at 256 buckets, so the within-bucket
    * self-join turns quadratic in n/256 as the corpus grows; adapting bits
    * keeps per-bucket work ~targetBucket²/2 at any n (500 rows → 8 bits,
    * 10⁹ rows → 24 bits = 16.7M buckets/table). */
  def adaptiveBits(n: Long, targetBucket: Int): Int = {
    // smallest b with targetBucket·2^b ≥ n, integer-exact: the float
    // ceil(log2(n/target)) form could flip by one at exact powers of two
    // (last-ulp log differences), which would silently diverge from the
    // oracle's SQL replay of the same sizing rule
    var b = 0
    while (b < 24 && (targetBucket.toLong << b) < math.max(n, 1L)) b += 1
    math.max(8, b)
  }

  /** Embedding-cosine near-duplicate pairs, scale path: multi-table
    * hyperplane LSH candidates + exact-cosine verify.
    *
    * Finer buckets cost recall per table (a pair must agree on every one of
    * `bits` hyperplane signs to share a bucket), so recall is bought back
    * with `tables` independent signature tables — a pair is a candidate if
    * it agrees in ANY table. Every candidate is then verified with exact
    * cosine ≥ threshold, so extra tables never change which pairs qualify,
    * only how many are found. Corpus never shuffles before bucketing: the
    * signature is a map-phase codegen'd expression and the bucket join keys
    * on (table, sig).
    */
  /** @param rowCount corpus size if the caller already knows it (catalog
    *                  stats, a prior count) — skips the sizing scan. When
    *                  absent, the count prunes every column, so on parquet
    *                  it reads footers/row-group counts, not data pages. */
  def nearDupPairs(e: DataFrame, idCol: String, vecCol: String,
      threshold: Double, tables: Int = 4, targetBucket: Int = 32,
      rowCount: Option[Long] = None): DataFrame = {
    val s = e.sparkSession
    val bits = adaptiveBits(rowCount.getOrElse(e.count()), targetBucket)
    val sigged = e.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        // md5-derived planes: the signature (and so the whole candidate +
        // verify pipeline) replays exactly in the DuckDB oracle
        graft.plans.HyperplaneSigs.sigsMd5(s, col(vecCol), bits, tables).as("sigs"))
      .transform(Checkpointing.cut) // compute sigs once for every reference below
    // the bucket join and the multi-table dedup carry ONLY 8-byte ids — the
    // same id-only exchange discipline as the jaccard and pigeonhole joins;
    // embeddings rejoin by id afterwards, once per SURVIVING pair side,
    // so no exchange row ever carries a vector payload
    val buckets = sigged.select(col("vec_id"),
      posexplode(col("sigs")).as(Seq("t", "sig")))
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct() // a pair colliding in several tables verifies once
    val vecs = sigged.select(col("vec_id"), col("embedding"))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(vecs.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .withColumn("cos", round(
        graft.plans.CosineSim.cosine(s, col("emb_a"), col("emb_b")), 4))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }
}
