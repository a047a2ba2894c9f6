package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.{col, lit, udf}

/** The r12 TxLog surface: data skipping (stats-carrying adds + predicate
  * file pruning — results identical, fewer files opened), schema-in-log
  * (drifted reads fail loudly; add-a-column evolution reads across
  * versions), OPTIMIZE (bin-pack compaction — contents identical at every
  * version, file count drops, vacuum reclaims), the commitBatch
  * replay-vs-reuse guard, and the CDC→TxLog continuous MERGE sink
  * (TxLogMaterialize: LSN merge, tombstones, bucket-granular rewrites,
  * recovery replay, foreign-table loudness). */
class TxLogV2Spec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import graft.sources.TxLog
  import graft.cdc.TxLogMaterialize

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("txlogv2").toString + "/t"

  private val xySchema = StructType.fromDDL("x BIGINT, y BIGINT")

  /** Four dirs of 10 x-values each ([0,9], [10,19], …), adds carrying
    * their x envelopes. */
  private def skipTable(): String = {
    val t = freshTable()
    val adds = (0 until 4).map { i =>
      val nm = s"d$i"
      (i * 10L until i * 10L + 10L).map(x => (x, x * 2)).toDF("x", "y")
        .coalesce(1).write.parquet(s"$t/$nm")
      TxLog.AddFile(nm, TxLog.statsOf(spark.read.parquet(s"$t/$nm"), Seq("x")))
    }
    assert(TxLog.tryCommitActions(spark, t, 0L, adds, Nil))
    t
  }

  test("data skipping: a BETWEEN bound prunes exactly the provably-" +
      "disjoint files, results are identical, and fewer files are opened") {
    val t = skipTable()
    val adds = TxLog.liveAdds(spark, t)
    assert(adds.forall(_.stats.contains("x")), "every add records an x envelope")
    // bound [12, 25] overlaps d1 [10,19] and d2 [20,29] only
    val skip = Seq(TxLog.SkipRange("x", 12L, 25L))
    assert(TxLog.pruneAdds(adds, skip).map(_.name) == Seq("d1", "d2"))
    val unpruned = TxLog.read(spark, t, xySchema)
      .filter(col("x").between(12L, 25L))
    val pruned = TxLog.read(spark, t, xySchema, None, skip)
      .filter(col("x").between(12L, 25L))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      unpruned.collect().map(_.getLong(0)).sorted.toSeq)
    assert(pruned.inputFiles.length < unpruned.inputFiles.length,
      "pruning must plan a scan over fewer files")
    assert(pruned.inputFiles.forall(f => f.contains("/d1/") || f.contains("/d2/")))
    // an empty intersection prunes everything → empty frame, not an error
    assert(TxLog.read(spark, t, xySchema, None,
      Seq(TxLog.SkipRange("x", 1000L, 2000L))).count() == 0L)
  }

  test("data skipping is conservative: no recorded stats, a stats-less " +
      "column, or an unparseable envelope always KEEPS the file") {
    val t = freshTable()
    Seq((1L, 1L)).toDF("x", "y").coalesce(1).write.parquet(s"$t/plain")
    Seq((2L, 2L)).toDF("x", "y").coalesce(1).write.parquet(s"$t/txt")
    assert(TxLog.tryCommitActions(spark, t, 0L, Seq(
      TxLog.AddFile("plain"), // no stats at all
      TxLog.AddFile("txt", Map("x" -> ("abc", "def")))), Nil)) // unparseable as long
    val adds = TxLog.liveAdds(spark, t)
    // a bound no envelope can prove disjoint keeps both files
    assert(TxLog.pruneAdds(adds, Seq(TxLog.SkipRange("x", 100L, 200L)))
      .map(_.name) == Seq("plain", "txt"))
    // a bound on a column with no recorded envelope keeps everything too
    assert(TxLog.pruneAdds(adds, Seq(TxLog.SkipRange("y", 100L, 200L)))
      .map(_.name) == Seq("plain", "txt"))
  }

  test("schema in the log: drifted reads fail loudly; readWithLogSchema " +
      "does the add-a-column evolution across versions") {
    val t = freshTable()
    Seq((1L, 10L)).toDF("x", "y").coalesce(1).write.parquet(s"$t/v0")
    assert(TxLog.tryCommitActions(spark, t, 0L, Seq(TxLog.AddFile("v0")), Nil,
      Some("x BIGINT, y BIGINT")))
    Seq((2L, 20L, "a")).toDF("x", "y", "z").coalesce(1).write.parquet(s"$t/v1")
    assert(TxLog.tryCommitActions(spark, t, 1L, Seq(TxLog.AddFile("v1")), Nil,
      Some("x BIGINT, y BIGINT, z STRING")))
    // a column the log doesn't know
    val e1 = intercept[IllegalArgumentException](
      TxLog.read(spark, t, StructType.fromDDL("x BIGINT, ghost BIGINT"),
        Some(0L)))
    assert(e1.getMessage.contains("not in the recorded schema"))
    // a drifted type
    val e2 = intercept[IllegalArgumentException](
      TxLog.read(spark, t, StructType.fromDDL("x STRING"), Some(0L)))
    assert(e2.getMessage.contains("drifted read"))
    // a projection of recorded columns is fine
    assert(TxLog.read(spark, t, StructType.fromDDL("x BIGINT"), Some(0L))
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // time travel to v0 reads with v0's OWN (narrower) schema
    assert(TxLog.readWithLogSchema(spark, t, Some(0L)).columns.toSeq ==
      Seq("x", "y"))
    // the head read is 3-wide; v0's file supplies z as null
    val head = TxLog.readWithLogSchema(spark, t).orderBy("x").collect()
    assert(head.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(head(0).isNullAt(2) && head(1).getString(2) == "a")
    // a table whose log never recorded a schema throws in readWithLogSchema
    val t2 = freshTable()
    Seq((1L, 1L)).toDF("x", "y").coalesce(1).write.parquet(s"$t2/a")
    assert(TxLog.tryCommit(spark, t2, 0L, Seq("a"), Nil))
    val e3 = intercept[IllegalArgumentException](
      TxLog.readWithLogSchema(spark, t2))
    assert(e3.getMessage.contains("no schema recorded"))
  }

  test("optimize bin-packs the live dirs into one commit: contents " +
      "identical at every version, file count drops, vacuum reclaims, " +
      "re-run is a no-op") {
    val t = freshTable()
    (0 until 6).foreach { k =>
      Seq((k.toLong, k.toLong * 7)).toDF("x", "y").coalesce(1)
        .write.parquet(s"$t/p$k")
      assert(TxLog.tryCommit(spark, t, k.toLong, Seq(s"p$k"), Nil))
    }
    def vals(asOf: Option[Long]) = TxLog.read(spark, t, xySchema, asOf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val before = vals(None)
    assert(TxLog.optimize(spark, t, Some(xySchema)).contains(6L))
    assert(vals(None) == before, "OPTIMIZE must not change contents")
    assert(vals(Some(2L)) == before.take(3), "time travel under the packed head")
    assert(TxLog.liveFiles(spark, t).size == 1, "one live dir after packing")
    // idempotent: a 1-dir head has nothing to pack
    assert(TxLog.optimize(spark, t, Some(xySchema)).isEmpty)
    // vacuum at retention 0 reclaims exactly the six superseded originals
    assert(TxLog.vacuum(spark, t, 0).toSet == (0 until 6).map(k => s"p$k").toSet)
    assert(vals(None) == before, "the packed head survives the vacuum")
  }

  test("commitBatch exactly-once via producer-txn records: replays skip, " +
      "a second producer appends, same-appId reuse fails loudly") {
    // a true replay (the txn record names this producer's dir) skips
    val t = freshTable()
    TxLog.commitBatch(Seq((1L, 1L)).toDF("x", "y"), t, 0L)
    TxLog.commitBatch(Seq((9L, 9L)).toDF("x", "y"), t, 0L) // replay: no-op
    assert(TxLog.read(spark, t, xySchema).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
    assert(TxLog.txnVersion(spark, t, "stream").contains(0L))
    // a DIFFERENT producer (its own appId) appends — the multi-producer
    // contract; neither watermark disturbs the other
    TxLog.commitBatch(Seq((5L, 5L)).toDF("x", "y"), t, 0L, appId = "other")
    assert(TxLog.read(spark, t, xySchema).count() == 2L)
    assert(TxLog.txnVersion(spark, t, "other").contains(0L))
    // same-appId REUSE (a txn record whose commit carries foreign-named
    // dirs — a fresh checkpoint pointed at a table another 'stream'
    // producer built differently) is loud, never a silent drop
    val t2 = freshTable()
    Seq((1L, 1L)).toDF("x", "y").coalesce(1).write.parquet(s"$t2/alien")
    assert(TxLog.tryCommitActions(spark, t2, 0L, Seq(TxLog.AddFile("alien")),
      Nil, txns = Seq("stream" -> 0L)))
    val e = intercept[IllegalArgumentException](
      TxLog.commitBatch(Seq((2L, 2L)).toDF("x", "y"), t2, 0L))
    assert(e.getMessage.contains("not built by this stream"))
  }

  test("commitBatch survives a mid-stream OPTIMIZE: maintenance commits " +
      "never collide with batch numbering, and post-compaction replays " +
      "still skip") {
    val t = freshTable()
    TxLog.commitBatch(Seq((0L, 0L)).toDF("x", "y"), t, 0L) // v0
    TxLog.commitBatch(Seq((1L, 1L)).toDF("x", "y"), t, 1L) // v1
    // maintenance interleaves: OPTIMIZE commits v2
    assert(TxLog.optimize(spark, t, Some(xySchema)).contains(2L))
    // the next batch lands at v3 — under version=batchId bookkeeping this
    // exact step read the compaction commit as its own replay and wedged
    TxLog.commitBatch(Seq((2L, 2L)).toDF("x", "y"), t, 2L)
    assert(TxLog.currentVersion(spark, t).contains(3L))
    assert(TxLog.read(spark, t, xySchema).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(0L, 1L, 2L))
    // a full fresh-checkpoint recovery replay (batches 0..2) changes nothing
    (0L to 2L).foreach(b =>
      TxLog.commitBatch(Seq((99L, 99L)).toDF("x", "y"), t, b))
    assert(TxLog.currentVersion(spark, t).contains(3L))
    assert(TxLog.read(spark, t, xySchema).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(0L, 1L, 2L))
  }

  test("optimizeClustered: a no-locality table gains 2-dim data skipping " +
      "— fewer dirs opened, contents identical at every version") {
    val t = freshTable()
    // a 64×64 grid laid down in arrival order: each of 4 dirs spans the
    // FULL (x, y) range, so pre-rewrite pruning can drop nothing
    val grid = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    (0 until 4).foreach { k =>
      grid.filter { case (x, y) => (x + y * 64) % 4 == k }
        .toDF("x", "y").coalesce(1).write.parquet(s"$t/a$k")
      assert(TxLog.tryCommit(spark, t, k.toLong, Seq(s"a$k"),
        Nil))
    }
    val schema = StructType.fromDDL("x BIGINT, y BIGINT")
    def vals(asOf: Option[Long]) = TxLog.read(spark, t, schema, asOf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val before = vals(None)
    assert(TxLog.optimizeClustered(spark, t, schema, Seq("x", "y"),
      nDirs = 8).contains(4L))
    assert(vals(None) == before, "the clustered rewrite must not change contents")
    assert(vals(Some(1L)) == grid.filter { case (x, y) =>
      (x + y * 64) % 4 <= 1 }.sorted.toSeq, "time travel under the rewrite")
    val adds = TxLog.liveAdds(spark, t)
    assert(adds.size == 8 && adds.forall(a =>
      a.stats.contains("x") && a.stats.contains("y")),
      "8 slice dirs, each with envelopes on BOTH clustered columns")
    // the corner window [0,15]² occupies 1/16 of the z-space: the
    // clustered envelopes must prune at least half the dirs (a
    // conservative bound — boundary draws vary, semantics may not)
    val skip = Seq(TxLog.SkipRange("x", 0L, 15L), TxLog.SkipRange("y", 0L, 15L))
    assert(TxLog.pruneAdds(adds, skip).size <= 4,
      s"corner window kept ${TxLog.pruneAdds(adds, skip).size} of 8 dirs")
    val pruned = TxLog.read(spark, t, schema, None, skip)
      .filter(col("x").between(0L, 15L) && col("y").between(0L, 15L))
    assert(pruned.count() == 256L, "pruning must never drop matching rows")
  }

  test("readChanges: stitched incremental reads reconstruct the table; a " +
      "remove inside the window is loud; range guards hold") {
    val t = freshTable()
    (0 until 3).foreach { k =>
      Seq((k.toLong, k.toLong * 5)).toDF("x", "y").coalesce(1)
        .write.parquet(s"$t/c$k")
      assert(TxLog.tryCommit(spark, t, k.toLong, Seq(s"c$k"), Nil))
    }
    def xs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).sorted.toSeq
    assert(xs(TxLog.readChanges(spark, t, xySchema, -1L, 1L)) == Seq(0L, 1L))
    assert(xs(TxLog.readChanges(spark, t, xySchema, 1L, 2L)) == Seq(2L))
    // stitched = the full head
    assert((xs(TxLog.readChanges(spark, t, xySchema, -1L, 1L)) ++
      xs(TxLog.readChanges(spark, t, xySchema, 1L, 2L))).sorted ==
      xs(TxLog.read(spark, t, xySchema)))
    // a compaction inside the window breaks the append-only contract
    assert(TxLog.optimize(spark, t, Some(xySchema)).contains(3L))
    val e1 = intercept[IllegalArgumentException](
      TxLog.readChanges(spark, t, xySchema, 1L, 3L).count())
    assert(e1.getMessage.contains("append-only"))
    // but a window strictly before the rewrite still reads fine
    assert(xs(TxLog.readChanges(spark, t, xySchema, 0L, 2L)) == Seq(1L, 2L))
    // range guards
    val e2 = intercept[IllegalArgumentException](
      TxLog.readChanges(spark, t, xySchema, 2L, 2L))
    assert(e2.getMessage.contains("empty change range"))
    val e3 = intercept[IllegalArgumentException](
      TxLog.readChanges(spark, t, xySchema, 0L, 99L))
    assert(e3.getMessage.contains("head is v3"))
  }

  test("log checkpoint: planning from the snapshot + suffix is " +
      "indistinguishable from the full walk, watermarks survive, and " +
      "pre-checkpoint log truncation keeps the covered range readable") {
    val t = freshTable()
    // batches 0..2 through the exactly-once sink, then a checkpoint,
    // then batch 3 — versions 0..3, ckpt at v2
    (0L to 2L).foreach(b =>
      TxLog.commitBatch(Seq((b, b * 7)).toDF("x", "y"), t, b))
    assert(TxLog.checkpoint(spark, t) == 2L)
    TxLog.commitBatch(Seq((3L, 21L)).toDF("x", "y"), t, 3L)
    def xs(asOf: Option[Long]) = TxLog.read(spark, t, xySchema, asOf)
      .collect().map(_.getLong(0)).sorted.toSeq
    // head = ckpt + suffix; v2 = pure snapshot; v1 = pre-ckpt full walk
    assert(xs(None) == Seq(0L, 1L, 2L, 3L))
    assert(xs(Some(2L)) == Seq(0L, 1L, 2L))
    assert(xs(Some(1L)) == Seq(0L, 1L))
    // the producer watermark reads through the checkpoint: replays skip
    assert(TxLog.txnVersion(spark, t, "stream").contains(3L))
    TxLog.commitBatch(Seq((99L, 99L)).toDF("x", "y"), t, 1L) // replay
    assert(xs(None) == Seq(0L, 1L, 2L, 3L))
    // checkpointing again at the new head is cheap and idempotent
    assert(TxLog.checkpoint(spark, t) == 3L)
    assert(TxLog.checkpoint(spark, t) == 3L)
    // LOG TRUNCATION: drop a pre-checkpoint commit file — planning at or
    // after the checkpoint still works (the snapshot covers it), while
    // time travel BEFORE it fails loudly as the torn range it now is
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(t, "_log/0000000001.json"), false)
    assert(xs(None) == Seq(0L, 1L, 2L, 3L))
    assert(xs(Some(2L)) == Seq(0L, 1L, 2L))
    val e = intercept[IllegalArgumentException](xs(Some(1L)))
    assert(e.getMessage.contains("GAP"))
  }

  test("commitBatch refuses to overwrite a LIVE dir delivered without a " +
      "txn record (a pre-txn or foreign producer) instead of corrupting " +
      "the log with a duplicate add") {
    val t = freshTable()
    // a legacy producer's delivery: the dir is live but no txn records it
    Seq((1L, 1L)).toDF("x", "y").coalesce(1).write.parquet(s"$t/b0000000000")
    assert(TxLog.tryCommit(spark, t, 0L, Seq("b0000000000"), Nil))
    val e = intercept[IllegalArgumentException](
      TxLog.commitBatch(Seq((2L, 2L)).toDF("x", "y"), t, 0L))
    assert(e.getMessage.contains("refusing to overwrite live data"))
    // the legacy data is untouched
    assert(TxLog.read(spark, t, xySchema).collect().map(_.getLong(0)).toSeq
      == Seq(1L))
  }

  test("commitBatch: two drivers racing one batch id — exactly one " +
      "version commits, the loser deletes its attempt dir and returns as " +
      "a verified replay, and the table holds exactly the winner's rows") {
    val t = freshTable()
    TxLog.commitBatch(Seq((0L, 0L)).toDF("x", "y"), t, 0L, appId = "race")
    val sides = Seq((1L to 20L).map(x => (x, 1L)), (21L to 40L).map(x => (x, 2L)))
    // each side's write waits for the other's: both drivers have planned
    // against the same head before either writes or commits
    val meet = udf((x: Long, side: Int) => { MaterializeRace.meet(side); x })
      .asNondeterministic()
    def batch(i: Int) = sides(i).toDF("x", "y").coalesce(1)
      .withColumn("x", meet(col("x"), lit(i)))
    MaterializeRace.reset()
    val outcomes = new Array[scala.util.Try[Unit]](2)
    val threads = sides.indices.map(i => new Thread(() =>
      outcomes(i) = scala.util.Try(
        TxLog.commitBatch(batch(i), t, 1L, appId = "race"))))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(!MaterializeRace.missed, "the writers never overlapped")
    assert(outcomes.forall(_.isSuccess), s"both calls deliver: ${outcomes.toSeq}")
    assert(TxLog.currentVersion(spark, t).contains(1L),
      "exactly one version commits")
    val rows = TxLog.read(spark, t, xySchema).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val won = sides.indices.filter(i => rows == ((0L, 0L) +: sides(i)).toSet)
    assert(won.size == 1, s"the table must hold exactly one side's rows: $rows")
    // the loser's attempt dir is gone: the batch dir holds the one live attempt
    val attempts = new java.io.File(s"$t/b-race-0000000001").list().toSeq
    val live = TxLog.liveAdds(spark, t).map(_.name)
    assert(attempts.map(a => s"b-race-0000000001/$a") ==
      live.filter(_.startsWith("b-race-0000000001")),
      s"attempt dirs $attempts, live adds $live")
  }

  test("full pre-checkpoint truncation: the checkpoint IS the head — " +
      "reads, new batches, and subsumed replays all keep working") {
    val t = freshTable()
    (0L to 2L).foreach(b =>
      TxLog.commitBatch(Seq((b, b)).toDF("x", "y"), t, b))
    assert(TxLog.checkpoint(spark, t) == 2L)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (0 to 2).foreach(v => fs.delete(
      new org.apache.hadoop.fs.Path(t, f"_log/$v%010d.json"), false))
    // the head survives (checkpoint-aware), the state is all there
    assert(TxLog.currentVersion(spark, t).contains(2L))
    def xs() = TxLog.read(spark, t, xySchema)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(xs() == Seq(0L, 1L, 2L))
    // a new batch lands AFTER the checkpointed head, never at version 0
    TxLog.commitBatch(Seq((3L, 3L)).toDF("x", "y"), t, 3L)
    assert(TxLog.currentVersion(spark, t).contains(3L))
    assert(xs() == Seq(0L, 1L, 2L, 3L))
    // a replay of a TRUNCATED batch is subsumed by the checkpoint's
    // watermark — skip, not a wedge, not a rewrite
    TxLog.commitBatch(Seq((99L, 99L)).toDF("x", "y"), t, 1L)
    assert(xs() == Seq(0L, 1L, 2L, 3L))
  }

  test("auto-checkpoint: the sink checkpoints every " +
      "graft.txlog.checkpointInterval commits, keeping the planning " +
      "suffix bounded") {
    val t = freshTable()
    spark.conf.set("graft.txlog.checkpointInterval", "2")
    try {
      (0L to 3L).foreach(b =>
        TxLog.commitBatch(Seq((b, b)).toDF("x", "y"), t, b))
      val fs = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val ckpts = fs.listStatus(new org.apache.hadoop.fs.Path(t, "_log"))
        .map(_.getPath.getName).filter(_.startsWith("_ckpt.")).sorted.toSeq
      assert(ckpts == Seq("_ckpt.0000000001.json", "_ckpt.0000000003.json"),
        s"got $ckpts")
      assert(TxLog.read(spark, t, xySchema).count() == 4L)
    } finally spark.conf.unset("graft.txlog.checkpointInterval")
  }

  private def changes(rows: (Long, String, String, Long, Long, Double)*) =
    rows.toDF("lsn", "tableName", "op", "pk", "tsUs", "value")

  test("TxLogMaterialize: per-key LSN merge with tombstones — upserts " +
      "advance, DELETE hides the key, a late lower-LSN change can never " +
      "resurrect it, and a replayed batch verifies and skips") {
    val t = freshTable()
    TxLogMaterialize.applyBatch(
      changes((1L, "users", "INSERT", 1L, 100L, 1.0),
        (2L, "users", "INSERT", 2L, 110L, 2.0)), t, 0L)
    TxLogMaterialize.applyBatch(
      changes((3L, "users", "UPDATE", 1L, 120L, 1.5),
        (4L, "users", "DELETE", 2L, 130L, 0.0)), t, 1L)
    // out-of-order: lower-LSN UPDATE for the deleted pk=2 arrives late
    TxLogMaterialize.applyBatch(
      changes((3L + 100L, "users", "UPDATE", 1L, 140L, 1.9),
        (3L, "users", "UPDATE", 2L, 115L, 2.5)), t, 2L)
    def snap() = TxLogMaterialize.snapshot(spark, t)
      .select("pk", "lsn", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(snap() == Seq((1L, 103L, 1.9)),
      "pk=2's tombstone (lsn 4) must beat the late lsn-3 update")
    // replay of batch 2 verifies its own dirs and changes nothing
    TxLogMaterialize.applyBatch(
      changes((999L, "users", "UPDATE", 1L, 999L, 9.9)), t, 2L)
    assert(snap() == Seq((1L, 103L, 1.9)))
    // time travel: the snapshot AT batch 1 still shows only pk=1@lsn3
    assert(TxLogMaterialize.snapshot(spark, t, Some(1L))
      .select("pk", "lsn").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 3L)))
  }

  test("TxLogMaterialize rewrites ONLY the buckets a batch touches — " +
      "untouched bucket dirs carry forward unreferenced-by-name") {
    // 16 buckets reach __bucket=10+, where a lexicographic dir sort would
    // disagree with the numeric touched set
    for (nb <- Seq(8, 16)) {
      val t = freshTable()
      // spread keys over buckets: land a wide batch first
      TxLogMaterialize.applyBatch(
        changes((1L to 40L).map(k =>
          (k, "users", "INSERT", k, 100L + k, k.toDouble)): _*), t, 0L, nb)
      val live0 = TxLog.liveAdds(spark, t)
      assert(live0.forall(_.name.startsWith("m0000000000/")))
      assert(live0.forall(_.stats.contains("pk")),
        "every bucket dir records its pk envelope for point-lookup skipping")
      if (nb == 16) assert(live0.exists(_.name.matches(""".*/__bucket=1\d""")),
        s"no bucket >= 10 written: ${live0.map(_.name)}")
      // batch 1 touches ONE key → one bucket rewritten, the rest carried
      TxLogMaterialize.applyBatch(
        changes((1000L, "users", "UPDATE", 7L, 900L, 77.0)), t, 1L, nb)
      val c1 = TxLog.commitAt(spark, t, 1L)
      assert(c1.adds.size == 1 && c1.removes.size == 1,
        s"one-key batch must rewrite exactly one bucket (nBuckets=$nb), " +
          s"got adds=${c1.adds.size} removes=${c1.removes.size}")
      val live1 = TxLog.liveFiles(spark, t)
      assert(live1.count(_.startsWith("m0000000000/")) == live0.size - 1,
        "all but the touched bucket still live from batch 0's dirs")
      // the merge preserved every key
      assert(TxLogMaterialize.snapshot(spark, t).count() == 40L)
      assert(TxLogMaterialize.snapshot(spark, t)
        .filter(col("pk") === 7L).select("value").head().getDouble(0) == 77.0)
    }
  }

  test("TxLogMaterialize is loud on misconfiguration: a foreign table, " +
      "and a skipped batch") {
    val t = freshTable()
    // foreign: someone else's commit at v0 — its dirs break the bucket
    // layout the merge's carry-forward depends on, and the layout guard
    // fires before any state could be silently dropped
    Seq((1L, 1L)).toDF("x", "y").coalesce(1).write.parquet(s"$t/alien")
    assert(TxLog.tryCommit(spark, t, 0L, Seq("alien"), Nil))
    val e1 = intercept[IllegalArgumentException](TxLogMaterialize.applyBatch(
      changes((1L, "users", "INSERT", 1L, 1L, 1.0)), t, 0L))
    assert(e1.getMessage.contains("bucket-granular carry-forward"))
    // gap: batch 2 arriving on a head of None
    val t2 = freshTable()
    val e2 = intercept[IllegalArgumentException](TxLogMaterialize.applyBatch(
      changes((1L, "users", "INSERT", 1L, 1L, 1.0)), t2, 2L))
    assert(e2.getMessage.contains("batches were skipped"))
  }

  test("TxLogMaterialize: two writers racing one batch id — exactly one " +
      "version commits, the loser fails loudly, its retry skips as a " +
      "replay, and the snapshot holds exactly the winner's rows") {
    val t = freshTable()
    val base = Seq((1L, "users", "INSERT", 1L, 100L, 1.0),
      (2L, "users", "INSERT", 2L, 110L, 2.0))
    TxLogMaterialize.applyBatch(changes(base: _*), t, 0L)
    // disjoint keys, so the two merges touch different bucket sets
    val sides = Seq(
      (10L, "users", "UPDATE", 1L, 200L, 1.5) +:
        (3L to 20L).map(k => (10L + k, "users", "INSERT", k, 200L + k, k.toDouble)),
      (10L, "users", "DELETE", 2L, 200L, 0.0) +:
        (21L to 40L).map(k => (10L + k, "users", "INSERT", k, 200L + k, -k.toDouble)))
    // each side's first evaluation of its batch waits for the other's:
    // both writers have planned against the same head before either merges
    val meet = udf((pk: Long, side: Int) => { MaterializeRace.meet(side); pk })
      .asNondeterministic()
    def batch(i: Int) =
      changes(sides(i): _*).withColumn("pk", meet(col("pk"), lit(i)))
    MaterializeRace.reset()
    val outcomes = new Array[scala.util.Try[Unit]](2)
    val threads = sides.indices.map(i => new Thread(() =>
      outcomes(i) = scala.util.Try(TxLogMaterialize.applyBatch(batch(i), t, 1L))))
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(!MaterializeRace.missed, "the writers never overlapped")
    assert(TxLog.currentVersion(spark, t).contains(1L),
      "exactly one version commits")
    val winners = outcomes.indices.filter(outcomes(_).isSuccess)
    assert(winners.size == 1, s"exactly one writer must win: ${outcomes.toSeq}")
    val (win, lose) = (winners.head, 1 - winners.head)
    assert(outcomes(lose).failed.get.getMessage.contains("two writers share"),
      s"the loser must fail loudly: ${outcomes(lose)}")
    def snap() = TxLogMaterialize.snapshot(spark, t)
      .select("pk", "lsn", "op", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val expected = (base ++ sides(win)).groupBy(_._4).values.map(_.maxBy(_._1))
      .filter(_._3 != "DELETE").map(r => (r._4, r._1, r._3, r._6)).toSet
    assert(snap() == expected, "the snapshot must hold exactly the winner's rows")
    // the loser's files are gone, and its retry skips as a replay
    assert(new java.io.File(s"$t/m0000000001").list().length == 1)
    TxLogMaterialize.applyBatch(changes(sides(lose): _*), t, 1L)
    assert(TxLog.currentVersion(spark, t).contains(1L))
    assert(snap() == expected)
  }

  /** Every add's recorded (stats, rows) must equal statsAndRows over its
    * dir read alone — the per-dir query the grouped read-back replaced. */
  private def assertStatsParity(t: String, adds: Seq[TxLog.AddFile],
      schema: StructType, cols: Seq[String]): Unit = {
    assert(adds.nonEmpty)
    adds.foreach { a =>
      val (st, n) = TxLog.statsAndRows(
        spark.read.schema(schema).parquet(s"$t/${a.name}"), cols)
      assert((a.stats, a.rows) == (st, Some(n)), s"stats drift on ${a.name}")
    }
  }

  test("stats parity: TxLogMaterialize adds at 8 and 16 buckets — a " +
      "tombstone-only bucket included — record exactly statsAndRows of " +
      "their dir read alone") {
    for (nb <- Seq(8, 16)) {
      val t = freshTable()
      TxLogMaterialize.applyBatch(changes((1L to 40L).map(k =>
        (k, "users", "INSERT", k, 100L + k, k.toDouble)): _*), t, 0L, nb)
      // delete every key of one bucket: its rewrite holds only tombstones
      val victim = TxLog.liveAdds(spark, t).head.name
      val gone = spark.read.schema(TxLogMaterialize.stateSchema)
        .parquet(s"$t/$victim").select("pk").as[Long].collect().toSet
      val kept = (1L to 40L).filterNot(gone).take(5)
      TxLogMaterialize.applyBatch(changes(
        gone.toSeq.map(k => (100L + k, "users", "DELETE", k, 500L, 0.0)) ++
          kept.map(k => (100L + k, "users", "UPDATE", k, 500L, -1.0)): _*),
        t, 1L, nb)
      val bucket = victim.split('/').last
      val tomb = TxLog.commitAt(spark, t, 1L).adds
        .find(_.name.endsWith(s"/$bucket")).get
      assert(spark.read.schema(TxLogMaterialize.stateSchema)
        .parquet(s"$t/${tomb.name}").select("op").distinct()
        .as[String].collect().toSeq == Seq("DELETE"))
      assertStatsParity(t,
        TxLog.commitAt(spark, t, 0L).adds ++ TxLog.commitAt(spark, t, 1L).adds,
        TxLogMaterialize.stateSchema, Seq("pk"))
    }
  }

  test("stats parity: a string-keyed bucketed SQL MERGE and " +
      "optimizeClustered record exactly statsAndRows of each dir read alone") {
    val root = java.nio.file.Files.createTempDirectory("statsparity").toString
    spark.conf.set("spark.sql.catalog.statsparity",
      classOf[graft.sources.TxLogCatalog].getName)
    spark.conf.set("spark.sql.catalog.statsparity.root", root)
    spark.sql("CREATE TABLE statsparity.t (k STRING, v BIGINT) USING txlog")
    (0L until 30L).map(i => (s"k$i", i)).toDF("k", "v")
      .createOrReplaceTempView("statsparity_v0")
    spark.sql("INSERT INTO statsparity.t SELECT * FROM statsparity_v0")
    // the first merge lays the table out in buckets, the second rewrites
    // only the buckets its keys touch
    for ((lo, hi) <- Seq((20L, 40L), (0L, 5L))) {
      (lo until hi).map(i => (s"k$i", -i)).toDF("k", "v")
        .createOrReplaceTempView("statsparity_src")
      spark.sql(
        """MERGE INTO statsparity.t AS t USING statsparity_src AS s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
          |""".stripMargin)
    }
    val mt = s"$root/t"
    val merged = TxLog.commitAt(spark, mt, TxLog.currentVersion(spark, mt).get)
    assert(merged.adds.nonEmpty && merged.adds.size < 16 &&
      merged.adds.forall(_.part.contains("__bucket")),
      s"the second merge must be bucket-granular: ${merged.adds.map(_.name)}")
    assertStatsParity(mt, TxLog.liveAdds(spark, mt),
      StructType.fromDDL("k STRING, v BIGINT"), Seq("k"))

    val ct = freshTable()
    (0 until 2).foreach { i =>
      (0L until 16L).flatMap(x => (0L until 16L).map(y => (x, y)))
        .filter { case (x, y) => (x + y) % 2 == i }
        .toDF("x", "y").coalesce(1).write.parquet(s"$ct/a$i")
      assert(TxLog.tryCommit(spark, ct, i.toLong, Seq(s"a$i"), Nil))
    }
    assert(TxLog.optimizeClustered(spark, ct, xySchema, Seq("x", "y"), 4)
      .contains(2L))
    assertStatsParity(ct, TxLog.liveAdds(spark, ct), xySchema, Seq("x", "y"))
  }

  test("statsAndRowsByDir: an all-null column records no stats, and pairs " +
      "that do not cover the listed dirs are loud") {
    val t = freshTable()
    Seq((0L, Some(1L)), (0L, Some(5L)), (1L, None), (1L, None))
      .toDF("p", "x").write.partitionBy("p").parquet(s"$t/w")
    val schema = StructType.fromDDL("x BIGINT")
    val got = TxLog.statsAndRowsByDir(spark, s"$t/w", Seq("p=0", "p=1"),
      schema, "p", Seq("x"))
    assert(got == Map("p=0" -> (Map("x" -> ("1", "5")), 2L),
      "p=1" -> (Map.empty, 2L)))
    Seq("p=0", "p=1").foreach(d => assert(got(d) ==
      TxLog.statsAndRows(spark.read.schema(schema).parquet(s"$t/w/$d"), Seq("x"))))
    val e = intercept[IllegalArgumentException](TxLog.statsAndRowsByDir(
      spark, s"$t/w", Seq("p=0"), schema, "p", Seq("x")))
    assert(e.getMessage.contains("write/read-back drift"))
  }

  test("TxLogMaterialize fixed cost: one batch runs the same number of " +
      "Spark executions (at most 3) at 8 and 16 buckets, and writes one " +
      "data file per bucket dir") {
    val runs = Seq(8, 16).map { nb =>
      val t = freshTable()
      TxLogMaterialize.applyBatch(changes((1L to 200L).map(k =>
        (k, "users", "INSERT", k, 100L + k, k.toDouble)): _*), t, 0L, nb)
      // AQE would coalesce this small shuffle into one task, which hides
      // a merge whose shuffle splits a bucket across tasks
      val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
      val prev = spark.conf.getOption(coalesce)
      spark.conf.set(coalesce, "false")
      val n = try executionsOf(TxLogMaterialize.applyBatch(changes((1L to 200L)
        .map(k => (1000L + k, "users", "UPDATE", k, 900L, -k.toDouble)): _*),
        t, 1L, nb))
      finally prev.fold(spark.conf.unset(coalesce))(spark.conf.set(coalesce, _))
      val adds = TxLog.commitAt(spark, t, 1L).adds
      assert(adds.size == nb, s"the batch must touch all $nb buckets")
      adds.foreach { a =>
        val files = new java.io.File(s"$t/${a.name}").list()
          .filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"${a.name} holds ${files.toSeq}")
      }
      n
    }
    assert(runs.head == runs.last && runs.head <= 3,
      s"executions per batch at 8 and 16 buckets: $runs")
  }

  /** The Spark SQL executions `f` runs, counted by a query-execution
    * listener. The listener bus delivers in order, so once a marker query
    * run after `f` is seen, every execution of `f` has been. */
  private def executionsOf(f: => Unit): Int = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val marker = "executions-of-marker"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.logical.toString)
      def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.logical.toString)
    }
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).select(lit(marker)).collect()
      Iterator.continually(
        seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .map(p => { assert(p != null, "the marker query was never seen"); p })
        .takeWhile(!_.contains(marker)).size
    } finally spark.listenerManager.unregister(listener)
  }
}

/** Rendezvous for the two-writer races: each side marks its arrival, then
  * waits for the other. Static, so Spark tasks reach it without closure
  * capture (local mode: one JVM). */
object MaterializeRace {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  @volatile private var arrived = Array.fill(2)(new CountDownLatch(1))
  @volatile var missed = false
  def reset(): Unit = { arrived = Array.fill(2)(new CountDownLatch(1)); missed = false }
  def meet(side: Int): Unit = {
    arrived(side).countDown()
    if (!arrived(1 - side).await(30, TimeUnit.SECONDS)) missed = true
  }
}
