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
  * exchange; the ranged table is stored once by a lineage cut and read by
  * both of its consumers. The anti-pattern this replaces has one row
  * exchange but a single-task sort per group; at 100 TB the extra parallel
  * exchange is noise next to a terabyte single-reducer sort.
  *
  * Output rows are exactly the input rows plus `outCol`; values are
  * identical to the single-window form (the decomposition is exact integer
  * arithmetic; partition boundaries never change the sum, only where it is
  * computed).
  */
object PrefixSum {

  /** Range-partition `df` on `sortCols` and CUT the result with its
    * `__pid = spark_partition_id()` column. Both sides of the offset
    * join-back read this table, and the analyzer's self-join dedup
    * re-instantiates one side's leaf; a cut leaf is one LogicalRDD, so
    * both copies scan the same stored rows and `__pid` is DATA. Left
    * lazy, each side could plan its own range exchange (cache evicted or
    * cleared, exchange reuse off, a declared-layout input that fails
    * cache matching), and RangePartitioner samples boundaries with an
    * rdd.id-derived seed: two executions, two pid mappings, silently
    * wrong sums (pinned in `Round16OpsSpec`). */
  private def rangedSlices(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    Checkpointing.cut(df.repartitionByRange(
        df.sparkSession.sessionState.conf.numShufflePartitions, sortCols: _*)
      .withColumn("__pid", spark_partition_id()))

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
    // the ranged table feeds the partials agg AND the final join; the cut
    // computes it once and pins each row's slice id (see [[rangedSlices]])
    val ranged = rangedSlices(df, col(grpCol) +: orderCols)

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
    val ranged = rangedSlices(df, Seq(col(grpCol), col(orderCol)))
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
