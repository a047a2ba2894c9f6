package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level distributed prefix sums — the scale-safe replacement for
  * `sum(x).over(Window.partitionBy(grp).orderBy(...))` when groups are few
  * and huge (per-source strata of a corpus).
  *
  * The single-window form funnels every row of a group through one reducer
  * for the ordered scan. Here the global (grp, order) sequence is instead
  * RANGE-partitioned across the cluster, so each task owns a contiguous
  * slice of some group's order, and the running sum decomposes exactly:
  *
  *   cum(row) = (sum of the group's slices in earlier partitions)  — offset
  *            + (running sum within this partition's slice)        — local
  *
  * The offsets come from a per-(partition, group) partial-sum aggregate —
  * the only thing that crosses the wire for them is O(partitions × groups)
  * partials, never rows — scanned with a window over that tiny table and
  * broadcast-joined back. The local running sum is a window over
  * (grp, partition id): every such window group is at most one range
  * partition's worth of rows, bounded by n/numPartitions at any corpus
  * size, and fully parallel.
  *
  * Cost shape: two row exchanges (the range partitioning that establishes
  * global order, and the bounded local window's hash exchange) — both
  * spread over all tasks — plus the O(partitions × groups) partials
  * exchange. The anti-pattern this replaces has one row exchange but a
  * single-task sort per group; at 100 TB the extra parallel exchange is
  * noise next to a terabyte single-reducer sort.
  *
  * Output rows are exactly the input rows plus `outCol`; values are
  * identical to the single-window form (the decomposition is exact integer
  * arithmetic; partition boundaries never change the sum, only where it is
  * computed).
  */
object PrefixSum {

  /** Make the `__pid` column safe to consume from BOTH sides of the offset
    * join-back (r16 — the finding of tools.PsProbe, test scope). The
    * offsets derive from the ranged table and join back onto it, so the
    * analyzer's self-join
    * attribute dedup re-instantiates one side's leaves with fresh exprIds.
    * For every ordinary input the re-instantiated subtree still
    * `sameResult`s the leased cache entry, both sides read ONE cached RDD,
    * and the nondeterministic pid mapping is shared — the fast path.
    *
    * The exception: a [[Checkpointing.cutPartitioned]] artifact anywhere
    * in the input subtree. Its LogicalRDD carries declared
    * outputPartitioning/outputOrdering whose expressions canonicalization
    * does NOT normalize, so the dedup'd copy no longer matches the cache —
    * the offsets side silently recomputes its own range exchange, and
    * RangePartitioner's rdd.id-seeded boundary sampling gives the two
    * executions DIFFERENT pid mappings: silently wrong prefix sums
    * (measured: 2284/2991 rows wrong in the test-scope tools.PsProbe,
    * `sbt "Test/runMain graft.tools.PsProbe"`). For that input
    * class the ranged table is eagerly cut instead: `__pid` becomes
    * materialized DATA in a plain LogicalRDD (which dedups safely — the
    * re-instantiated leaf scans the same RDD), at the cost of one extra
    * read pass over the ranged table. The check is one walk of the
    * analyzed plan at build time; every current caller takes the fast
    * path. */
  private def pinnedPids(ranged: DataFrame): DataFrame = {
    val declaredLayoutLeaf = ranged.queryExecution.analyzed.collectLeaves().exists {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.outputOrdering.nonEmpty ||
          !l.outputPartitioning.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning]
      case _ => false
    }
    if (declaredLayoutLeaf) Checkpointing.cut(ranged)
    else CacheLease.lease(ranged)
  }

  /** Per-group running sum of `valueCol` in (grpCol, orderCols) order.
    * `orderCols` may carry sort directions (e.g. `col("q").desc`) and must
    * totally order rows within a group (include a unique tie-break) — ties
    * split across a range-partition boundary would otherwise make the
    * local/offset decomposition ambiguous. */
  def cumSum(df: DataFrame, grpCol: String, orderCols: Seq[Column],
      valueCol: String, outCol: String): DataFrame =
    cumSums(df, grpCol, orderCols, Seq(valueCol -> outCol))

  /** [[cumSum]] for SEVERAL value columns in ONE pass: one range
    * repartition, one partials exchange, one local window — where chained
    * single-column calls pay the range shuffle per column (the cusum
    * changepoint needs (prefix, index) together; two passes measured 2×
    * the one-pass cost). */
  def cumSums(df: DataFrame, grpCol: String, orderCols: Seq[Column],
      valueOuts: Seq[(String, String)]): DataFrame = {
    require(valueOuts.nonEmpty)
    // internal temp aliases (__psum_<col>/__off_<col>) key off the INPUT
    // column name — a repeated input (or output) column would collide into
    // duplicate aggregate aliases and fail analysis with a confusing
    // AMBIGUOUS_REFERENCE; fail loudly here instead
    require(valueOuts.map(_._1).distinct.size == valueOuts.size,
      s"cumSums: duplicate input value columns in ${valueOuts.map(_._1)} — " +
        "alias the column once and reuse the output instead")
    require(valueOuts.map(_._2).distinct.size == valueOuts.size,
      s"cumSums: duplicate output column names in ${valueOuts.map(_._2)}")
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    // LAZY persist (via CacheLease, which bounds how many such internal
    // caches outlive their query), not an eager checkpoint: the ranged
    // table feeds the partials agg AND the final join, so the first
    // consumer computes and caches in one pass and the second reads the
    // cache — an eager cut would add a third full pass. Consistency of
    // spark_partition_id across the two consumers holds because BOTH
    // sides of the offset join-back substitute to ONE cache entry at
    // planning, so exactly one range exchange ever executes (an evicted
    // lease recomputes through the SAME physical plan and RDD, so even
    // that path keeps one pid mapping). See [[pinnedPids]] for the one
    // input class where the substitution itself fails.
    val ranged = pinnedPids(df
      .repartitionByRange(nParts, (col(grpCol) +: orderCols): _*)
      .withColumn("__pid", spark_partition_id()))

    def psum(v: String) = s"__psum_$v"
    def off(v: String) = s"__off_$v"
    // per-(group, partition) partials: map-side combine reduces each task to
    // one row per group it touches before the exchange — partials, not rows
    val partials = ranged.groupBy(col(grpCol), col("__pid"))
      .agg(sum(col(valueOuts.head._1)).as(psum(valueOuts.head._1)),
        valueOuts.tail.map { case (v, _) => sum(col(v)).as(psum(v)) }: _*)
    val wOff = Window.partitionBy(grpCol).orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = valueOuts.foldLeft(partials) { case (d, (v, _)) =>
      d.withColumn(off(v), coalesce(sum(psum(v)).over(wOff), lit(0L)))
    }.select(col(grpCol) +: col("__pid") +:
      valueOuts.map { case (v, _) => col(off(v)) }: _*)

    // local running sum: each (grp, pid) window group is one range slice —
    // bounded by the partition size, never the group size
    val local = Window.partitionBy(col(grpCol), col("__pid"))
      .orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueOuts.foldLeft(ranged.join(broadcast(offsets), Seq(grpCol, "__pid"))) {
      case (d, (v, out)) =>
        d.withColumn(out, sum(col(v)).over(local) + col(off(v)))
    }.drop("__pid" +: valueOuts.map { case (v, _) => off(v) }: _*)
  }

  /** Per-group consecutive-neighbor delta of a numeric `orderCol` — the
    * two-level form of `orderCol − lag(orderCol).over(partitionBy(grp)
    * .orderBy(orderCol))`, for the same reason as [[cumSum]]: a lag window
    * over a handful of groups funnels each group through one reducer.
    *
    * Decomposition: after range-partitioning on (grp, order), every
    * consecutive pair is either INSIDE one slice (a bounded local lag) or
    * spans exactly one slice boundary — and the boundary predecessor of a
    * slice's first row is simply the PREVIOUS slice's max, an
    * O(partitions × groups) partial. Duplicate order values straddling a
    * boundary stay exact: the previous slice's max IS the duplicate, so
    * the delta is 0 exactly as the single-window form computes.
    * `outCol` is null on each group's first row (no predecessor), matching
    * the window form. */
  def orderedDeltas(df: DataFrame, grpCol: String, orderCol: String,
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ranged = pinnedPids(df
      .repartitionByRange(nParts, col(grpCol), col(orderCol))
      .withColumn("__pid", spark_partition_id()))
    val local = Window.partitionBy(col(grpCol), col("__pid")).orderBy(col(orderCol))
    val prevSliceMax = ranged.groupBy(col(grpCol), col("__pid"))
      .agg(max(col(orderCol)).as("__pmax"))
      .withColumn("__prev_pmax",
        lag("__pmax", 1).over(Window.partitionBy(grpCol).orderBy("__pid")))
      .select(col(grpCol), col("__pid"), col("__prev_pmax"))
    ranged
      .withColumn("__prev_local", lag(col(orderCol), 1).over(local))
      .join(broadcast(prevSliceMax), Seq(grpCol, "__pid"))
      .withColumn(outCol,
        col(orderCol) - coalesce(col("__prev_local"), col("__prev_pmax")))
      .drop("__pid", "__prev_local", "__prev_pmax")
  }
}
