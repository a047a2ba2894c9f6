package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Distributed k-smallest selection per group — the scale-safe replacement
  * for `row_number().over(Window.partitionBy(grp).orderBy(hash))` + `rn <= k`.
  *
  * The window form sorts EVERY row of a group inside one reducer: with O(10)
  * groups (per-source strata of a corpus) and 100 TB of rows, each window
  * partition is a single task sorting terabytes. This operator never sorts a
  * full group. It exploits that the selection key is a uniform hex hash:
  *
  *  1. bucket every row by the hash's first `bucketHexChars` hex chars
  *     (a map-only column),
  *  2. aggregate a per-(group, bucket) histogram — O(groups × 16^chars)
  *     rows, a driver-safe bounded artifact (the IVF-centroid pattern),
  *  3. on the driver, find each group's threshold bucket: the bucket where
  *     the cumulative count first reaches k(n),
  *  4. keep rows in buckets BELOW the threshold with a map-side filter
  *     (no sort at all), and rank only the rows INSIDE each group's one
  *     threshold bucket — ~n/16^chars rows per group, bounded — to take the
  *     exact remainder.
  *
  * The result is the exact same row set the full-group sort selects (hex
  * order = bucket-prefix order, and the within-bucket rank replays the same
  * (hash, tie) comparator), with per-task work bounded by the bucket width
  * at any corpus size. Raise `bucketHexChars` as n grows (3 hex chars =
  * 4096 buckets keeps boundary buckets ≲ n/4096).
  */
object ThresholdSelect {

  /** Rows of `df` whose rank under (hexCol asc, tieCol asc) within their
    * `grpCol` group is ≤ k(groupSize). `hexCol` must be lowercase hex (e.g.
    * `md5`): its lexicographic order equals its numeric order, which is what
    * lets a prefix bucket stand in for a range of the sort key. */
  def smallestByHash(df: DataFrame, grpCol: String, hexCol: String,
      tieCol: String, k: Long => Long, bucketHexChars: Int = 3,
      maxDriverHistRows: Int = 1 << 20): DataFrame = {
    require(bucketHexChars >= 1 && bucketHexChars <= 7,
      s"bucketHexChars must be in 1..7, got $bucketHexChars")
    val spark = df.sparkSession
    val nBuckets = 1 << (4 * bucketHexChars)
    // cut: the bucketed table feeds the histogram AND both keep branches,
    // so it is computed once and stored; the histogram the thresholds come
    // from and the rows they filter are the same stored rows
    val withB = Checkpointing.cut(df.withColumn("__b",
      conv(substring(col(hexCol), 1, bucketHexChars), 16, 10).cast("int")))

    // per-(group, bucket) histogram: bounded by groups × nBuckets, collected
    // like the IVF centroids (a deliberate driver-held artifact, documented
    // contract: grpCol has bounded cardinality — strata, sources, shards)
    val hist = withB.groupBy(col(grpCol), col("__b"))
      .agg(count(lit(1)).as("__cnt")).collect()
    // the documented contract, ENFORCED: grpCol must have bounded
    // cardinality (strata/sources/shards) — the histogram is a driver-held
    // artifact, and a high-cardinality group key would turn a silent
    // driver-OOM risk into this error instead
    require(hist.length <= maxDriverHistRows,
      s"smallestByHash: histogram has ${hist.length} (group, bucket) rows, " +
        s"over the $maxDriverHistRows driver limit — grpCol '$grpCol' must " +
        "have bounded cardinality (the bounded-group contract); use a " +
        "hash-threshold selection per group instead")
    // null group keys would silently vanish in the inner join below (the
    // window form this replaces ranks them in a null partition) — refuse
    require(!hist.exists(_.isNullAt(0)),
      s"smallestByHash: grpCol '$grpCol' contains null group keys; null " +
        "groups are not selectable — filter or coalesce them first")

    val thrRows: Seq[Row] = hist.groupBy(_.get(0)).map { case (g, rows) =>
      val byBucket = rows.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
      val n = byBucket.iterator.map(_._2).sum
      val kk = k(n)
      if (kk <= 0L) Row(g, -1, 0L) // keep nothing
      else if (kk >= n) Row(g, nBuckets, 0L) // keep everything
      else {
        // smallest bucket where the cumulative count reaches k
        var cum = 0L
        var i = 0
        while (cum + byBucket(i)._2 < kk) { cum += byBucket(i)._2; i += 1 }
        Row(g, byBucket(i)._1, kk - cum)
      }
    }.toSeq

    val thr = spark.createDataFrame(
      spark.sparkContext.parallelize(thrRows, 1),
      StructType(Seq(df.schema(grpCol).copy(name = grpCol),
        StructField("__tb", IntegerType, nullable = false),
        StructField("__rem", LongType, nullable = false))))

    val joined = withB.join(broadcast(thr), grpCol)
    val outCols = df.columns.toSeq.map(col)
    // below-threshold buckets: map-side filter, never sorted
    val below = joined.filter(col("__b") < col("__tb")).select(outCols: _*)
    // the one threshold bucket per group: bounded (~n/nBuckets) window rank
    // replaying the exact (hash, tie) comparator for the remainder
    val boundary = joined.filter(col("__b") === col("__tb"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(grpCol).orderBy(col(hexCol), col(tieCol))))
      .filter(col("__rn") <= col("__rem"))
      .select(outCols: _*)
    below.union(boundary)
  }
}
