package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.{col, lit}

/** Column mapping (r15 — VERDICT item 4): logical names resolve to
  * stable physical identities through the log's `colmap` record —
  * renames are O(1) metadata (old files read correctly), drops hide
  * bytes without rewrite, a re-added name mints a FRESH identity so
  * old bytes never leak into the reborn column, and every snapshot
  * reads with its own map. Every read and write verb resolves the map
  * (the regression specs below pin each path that once served a
  * renamed column as nulls). */
class TxLogColumnMapSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import graft.sources.{TxLog, TxLogMerge}

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("txlogcmap").toString + "/t"

  private val abSchema = StructType.fromDDL("k BIGINT, a BIGINT, b STRING")

  private def seeded(): String = {
    val t = freshTable()
    (0L until 20L).map(k => (k, k * 10, s"s$k")).toDF("k", "a", "b")
      .write.parquet(s"$t/init")
    assert(TxLog.tryCommitActions(spark, t, 0L, Seq(TxLog.AddFile("init")),
      Nil, schemaDdl = Some(abSchema.toDDL), cdf = Some("@adds")))
    t
  }

  test("rename is zero-rewrite: no new data dirs, old files read under " +
      "the new name, time travel reads the OLD name at old versions") {
    val t = seeded()
    assert(TxLog.renameColumn(spark, t, "a", "amount") == 1L)
    assert(TxLog.liveAdds(spark, t).map(_.name) == Seq("init"),
      "a rename must not touch data files")
    val head = TxLog.readWithLogSchema(spark, t)
    assert(head.schema.fieldNames.toSeq == Seq("k", "amount", "b"))
    assert(head.filter(col("k") === 3L).head().getLong(1) == 30L)
    val v0 = TxLog.readWithLogSchema(spark, t, Some(0L))
    assert(v0.schema.fieldNames.toSeq == Seq("k", "a", "b"))
    assert(v0.count() == 20L)
  }

  test("append after a rename writes PHYSICAL names — one " +
      "coherent file history across the rename") {
    val t = seeded()
    TxLog.renameColumn(spark, t, "a", "amount")
    assert(TxLog.append(
      Seq((100L, 5L, "x")).toDF("k", "amount", "b"), t, "late") == 2L)
    // the staged parquet stores physical 'a'
    val raw = spark.read.parquet(s"$t/late")
    assert(raw.schema.fieldNames.contains("a") &&
      !raw.schema.fieldNames.contains("amount"))
    val head = TxLog.readWithLogSchema(spark, t)
    assert(head.count() == 21L)
    assert(head.filter(col("k") === 100L).head()
      .getLong(head.schema.fieldIndex("amount")) == 5L)
  }

  test("drop + re-add of the same name mints a FRESH physical " +
      "identity: old bytes never read as the reborn column") {
    val t = seeded()
    assert(TxLog.dropColumn(spark, t, "b") == 1L)
    val v1 = TxLog.readWithLogSchema(spark, t)
    assert(v1.schema.fieldNames.toSeq == Seq("k", "a"))
    assert(TxLog.addColumn(spark, t, "b", "STRING") == 2L)
    val v2 = TxLog.readWithLogSchema(spark, t)
    assert(v2.schema.fieldNames.toSeq == Seq("k", "a", "b"))
    // the reborn b reads NULL on pre-rebirth files — NOT the old "s<k>"
    assert(v2.filter(col("b").isNotNull).count() == 0L,
      "old bytes leaked into the reborn column")
    // new appends carry the fresh identity
    assert(TxLog.append(
      Seq((200L, 0L, "fresh")).toDF("k", "a", "b"), t, "reborn") == 3L)
    val head = TxLog.readWithLogSchema(spark, t)
    assert(head.filter(col("b").isNotNull).count() == 1L)
    // …and time travel to v0 still reads the ORIGINAL b
    val v0 = TxLog.readWithLogSchema(spark, t, Some(0L))
    assert(v0.filter(col("k") === 3L).head().getString(2) == "s3")
  }

  test("OPTIMIZE on a mapped table rewrites PHYSICAL columns: logical " +
      "views survive at every version and dropped bytes are shed") {
    val t = seeded()
    TxLog.renameColumn(spark, t, "a", "amount")
    TxLog.append(Seq((100L, 5L, "x")).toDF("k", "amount", "b"),
      t, "late")
    TxLog.dropColumn(spark, t, "b")
    val before = TxLog.readWithLogSchema(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(TxLog.optimize(spark, t).contains(4L))
    val after = TxLog.readWithLogSchema(spark, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(after == before, "compaction must not change the logical view")
    // the packed dir no longer stores the dropped column's bytes
    val packedCols = spark.read.parquet(s"$t/opt0000000004")
      .schema.fieldNames.toSet
    assert(packedCols == Set("k", "a"),
      s"dropped bytes must be shed by the rewrite, got $packedCols")
  }

  test("a checkpoint carries the column map — planning from the " +
      "checkpoint alone still resolves logical names") {
    val t = seeded()
    TxLog.renameColumn(spark, t, "a", "amount")
    assert(TxLog.checkpoint(spark, t) == 1L)
    val head = TxLog.readWithLogSchema(spark, t)
    assert(head.schema.fieldNames.toSeq == Seq("k", "amount", "b"))
    assert(head.filter(col("k") === 3L).head().getLong(1) == 30L)
  }

  test("skip bounds arrive on LOGICAL names and prune via the physical " +
      "stats envelopes") {
    val t = freshTable()
    val adds = Seq(0, 1).map { half =>
      val nm = s"h$half"
      (half * 10L until half * 10L + 10L).map(k => (k, k * 10, s"s$k"))
        .toDF("k", "a", "b").coalesce(1).write.parquet(s"$t/$nm")
      TxLog.AddFile(nm,
        TxLog.statsOf(spark.read.parquet(s"$t/$nm"), Seq("a")))
    }
    assert(TxLog.tryCommitActions(spark, t, 0L, adds, Nil,
      schemaDdl = Some(abSchema.toDDL), cdf = Some("@adds")))
    TxLog.renameColumn(spark, t, "a", "amount")
    val got = TxLog.readWithLogSchema(spark, t,
      skip = Seq(TxLog.SkipRange("amount", 0L, 50L)))
    assert(got.inputFiles.length == 1,
      "the logical-name bound must prune the disjoint physical file")
    assert(got.count() == 10L)
  }

  test("boundaries: a plain read of a remapped column serves its " +
      "values; MERGE and ZORDER over a mapped table are refused") {
    val t = seeded()
    TxLog.renameColumn(spark, t, "a", "amount")
    val got = TxLog.read(spark, t, StructType.fromDDL("amount BIGINT"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 20L).map(_ * 10))
    intercept[IllegalArgumentException] {
      TxLogMerge.merge(spark, t,
        StructType.fromDDL("k BIGINT, amount BIGINT, b STRING"),
        Seq((0L, 0L, "z")).toDF("k", "amount", "b"), Seq("k"),
        deleteWhen = Some(lit(true)))
    }
    intercept[IllegalArgumentException] {
      TxLog.optimizeClustered(spark, t, abSchema, Seq("k"), 2)
    }
    // and evolution over a merge-bucketed layout is refused the other way
    val t2 = seeded()
    assert(TxLogMerge.merge(spark, t2, abSchema,
      Seq((0L, 0L, "z")).toDF("k", "a", "b"), Seq("k"),
      updateSet = Map("a" -> col(s"${TxLogMerge.Src}a")), nBuckets = 2) == 1L)
    intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, t2, "a", "amount")
    }
  }

  /** The seed with `a` renamed to `amount` at v1. */
  private def renamed(): String = {
    val t = seeded()
    assert(TxLog.renameColumn(spark, t, "a", "amount") == 1L)
    t
  }

  private val renamedSchema =
    StructType.fromDDL("k BIGINT, amount BIGINT, b STRING")

  /** (k, amount) of every row, sorted; a null amount reads as None. */
  private def amounts(df: DataFrame): Seq[(Long, Option[Long])] =
    df.select("k", "amount").collect().map(r =>
      (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq.sorted

  private val seedAmounts = (0L until 20L).map(k => (k, Some(k * 10)))

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)

  test("regression: append onto a renamed table reads back through " +
      "readWithLogSchema with the renamed column's values") {
    val t = renamed()
    assert(TxLog.append(Seq((100L, 5L, "x")).toDF("k", "amount", "b"), t,
      "late", statsCols = Seq("amount")) == 2L)
    assert(amounts(TxLog.readWithLogSchema(spark, t)) ==
      seedAmounts :+ (100L -> Some(5L)))
    assert(TxLog.liveAdds(spark, t).last.stats.keySet == Set("a"),
      "stats columns are recorded under their physical names")
  }

  test("regression: commitBatch and writeStream.format(\"txlog\") onto a " +
      "renamed table stage physical names") {
    val t = renamed()
    TxLog.commitBatch(Seq((100L, 5L, "x")).toDF("k", "amount", "b"), t, 0L,
      statsCols = Seq("amount"))
    val add = TxLog.liveAdds(spark, t).last
    assert(spark.read.parquet(s"$t/${add.name}").schema.fieldNames.toSeq ==
      Seq("k", "a", "b"))
    assert(add.stats.keySet == Set("a"))
    val up = freshTable()
    (200L until 205L).map(k => (k, k, s"u$k")).toDF("k", "amount", "b")
      .write.parquet(s"$up/d0")
    assert(TxLog.tryCommitActions(spark, up, 0L, Seq(TxLog.AddFile("d0")),
      Nil, schemaDdl = Some(renamedSchema.toDDL), cdf = Some("@adds")))
    val td = java.nio.file.Files.createTempDirectory("cmapsink").toString
    val q = spark.readStream.format("txlog").option("path", up).load()
      .writeStream.format("txlog").option("path", t)
      .option("checkpointLocation", s"$td/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    assert(amounts(TxLog.readWithLogSchema(spark, t)) ==
      seedAmounts ++ Seq(100L -> Some(5L)) ++
        (200L until 205L).map(k => k -> Some(k)))
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("regression: readChanges and readStream.format(\"txlog\") over a " +
      "renamed table serve the renamed column's values, pre-rename " +
      "windows included") {
    val t = renamed()
    assert(amounts(TxLog.readChanges(spark, t, renamedSchema, -1L, 1L)) ==
      seedAmounts)
    val td = java.nio.file.Files.createTempDirectory("cmapsrc").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val q = spark.readStream.format("txlog").option("path", t)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", s"$td/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) => got ++= amounts(b); () }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(got.sorted.toSeq == seedAmounts)
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("regression: readChangeFeed on an @adds commit of a renamed table " +
      "serves the renamed column's values") {
    val t = renamed()
    val feed = TxLogMerge.readChangeFeed(spark, t, renamedSchema, 0L)
    assert(amounts(feed) == seedAmounts)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
    TxLog.append(Seq((100L, 5L, "x")).toDF("k", "amount", "b"), t, "late")
    assert(amounts(TxLogMerge.readChangeFeed(spark, t, renamedSchema, 2L)) ==
      Seq(100L -> Some(5L)))
  }

  test("a rename between two stream triggers is a loud schema change, " +
      "never a column of nulls") {
    val t = seeded()
    val td = java.nio.file.Files.createTempDirectory("cmapmid").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long])]
    val q = spark.readStream.format("txlog").option("path", t).load()
      .writeStream.option("checkpointLocation", s"$td/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= amounts(b.withColumnRenamed("a", "amount")); ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.size == 20)
      TxLog.renameColumn(spark, t, "a", "amount")
      TxLog.append(Seq((100L, 5L, "x")).toDF("k", "amount", "b"), t, "late")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains("renamed or dropped"))), e.toString)
    } finally q.stop()
    assert(got.sorted.toSeq == seedAmounts,
      "no trigger may deliver the renamed column as nulls")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("the parquet manifest is not offered over a column-mapped table: " +
      "both writers refuse, and readViaManifest is loud, never null") {
    val t = seeded()
    assert(TxLog.writeManifest(spark, t) == 0L)
    TxLog.renameColumn(spark, t, "a", "amount")
    Seq[() => Long](() => TxLog.writeManifest(spark, t),
      () => TxLog.writeManifestIncremental(spark, t)).foreach { write =>
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("not offered"), e.getMessage)
    }
    intercept[IllegalArgumentException] {
      TxLog.readViaManifest(spark, t, renamedSchema).collect()
    }
    // mapped before its first manifest: the full-walk fallback refuses
    val e = intercept[IllegalArgumentException] {
      TxLog.writeManifestIncremental(spark, renamed())
    }
    assert(e.getMessage.contains("not offered"), e.getMessage)
  }
}
