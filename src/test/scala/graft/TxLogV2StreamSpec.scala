package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The TxLog stream source through the short name: offsets are commit
  * versions, `maxVersionsPerTrigger` paces, restart recovers from the
  * offset log exactly once, start pins (`startVersion`,
  * `startTimestamp`) hold on both routes, and every column type and the
  * cdf feed stream. */
class TxLogV2StreamSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import graft.sources.TxLog

  private val xySchema = StructType.fromDDL("x BIGINT, y BIGINT")

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("txlogv2s").toString + "/t"

  private def commitRange(t: String, v: Long, lo: Long, hi: Long): Unit = {
    (lo until hi).map(x => (x, x * 2)).toDF("x", "y")
      .coalesce(1).write.parquet(s"$t/d$v")
    assert(TxLog.tryCommitActions(spark, t, v, Seq(TxLog.AddFile(s"d$v")),
      Nil, schemaDdl = if (v == 0) Some(xySchema.toDDL) else None,
      cdf = Some("@adds")))
  }

  test("format(\"txlog\") streams through the one TxLog connector (the " +
      "source description is the TxLogStreamSource), one commit per " +
      "trigger under maxVersionsPerTrigger") {
    val t = freshTable()
    (0 to 3).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    val td = java.nio.file.Files.createTempDirectory("v2s1").toString
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("txlog")
      .schema(xySchema).option("path", t)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", s"$td/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        batchSizes += b.count(); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(q.lastProgress.sources.head.description
      .contains("TxLogStreamSource"),
      s"the short name must build the TxLog source: " +
        s"${q.lastProgress.sources.head}")
    assert(batchSizes.filter(_ > 0) == Seq(10L, 10L, 10L, 10L),
      s"one commit per trigger, got $batchSizes")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("restart recovery: stop mid-history, commit more upstream, " +
      "restart on the same checkpoint — every row exactly once") {
    val t = freshTable()
    (0 to 2).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    val td = java.nio.file.Files.createTempDirectory("v2s2").toString
    def follow(): Unit = {
      val q = spark.readStream.format("txlog")
        .schema(xySchema).option("path", t)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", s"$td/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(s"$td/sink")
        }.start()
      try q.processAllAvailable() finally q.stop()
    }
    follow()
    assert(spark.read.parquet(s"$td/sink").count() == 30L)
    (3 to 4).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    follow() // restart on the same checkpoint
    val got = spark.read.parquet(s"$td/sink").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 50L), "exactly once across the restart")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("the V2 reader resolves fields BY NAME: files written before an " +
      "add-column evolution stream the new column as null") {
    val t = freshTable()
    (0L until 5L).map(x => (x, x)).toDF("x", "y").coalesce(1)
      .write.parquet(s"$t/d0")
    assert(TxLog.tryCommitActions(spark, t, 0L, Seq(TxLog.AddFile("d0")),
      Nil, schemaDdl = Some(xySchema.toDDL), cdf = Some("@adds")))
    val wide = StructType.fromDDL("x BIGINT, y BIGINT, z STRING")
    (5L until 8L).map(x => (x, x, s"z$x")).toDF("x", "y", "z").coalesce(1)
      .write.parquet(s"$t/d1")
    assert(TxLog.tryCommitActions(spark, t, 1L, Seq(TxLog.AddFile("d1")),
      Nil, schemaDdl = Some(wide.toDDL), cdf = Some("@adds")))
    val td = java.nio.file.Files.createTempDirectory("v2s3").toString
    val q = spark.readStream.format("txlog")
      .schema(wide).option("path", t).load()
      .writeStream.option("checkpointLocation", s"$td/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(s"$td/sink")
      }.start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.read.parquet(s"$td/sink").collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).sortBy(_._1).toSeq
    assert(rows.size == 8)
    assert(rows.take(5).forall(_._2.isEmpty), "pre-evolution rows: null z")
    assert(rows.drop(5).map(_._2.get) == Seq("z5", "z6", "z7"))
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("startTimestamp delivers every commit at-or-after the instant " +
      "(the Delta startingTimestamp idea); an instant before the " +
      "history delivers everything; both start pins at once is loud") {
    val t = freshTable()
    (0 to 2).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    val base = 1577836800000L // 2020-01-01T00:00:00Z
    (0 to 2).foreach { v =>
      val p = new org.apache.hadoop.fs.Path(f"$t/_log/$v%010d.json")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .setTimes(p, base + v * 1000L, -1)
    }
    def collectFrom(opts: Map[String, String]): Seq[Long] = {
      val td = java.nio.file.Files.createTempDirectory("v2ts").toString
      val got = scala.collection.mutable.ArrayBuffer.empty[Long]
      var r = spark.readStream.format("txlog")
        .schema(xySchema).option("path", t)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load()
        .writeStream.option("checkpointLocation", s"$td/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          got ++= b.collect().map(_.getLong(0)); ()
        }.start()
      try q.processAllAvailable() finally q.stop()
      graft.operators.Checkpointing.deleteRecursively(td)
      got.sorted.toSeq
    }
    assert(collectFrom(Map("startTimestamp" -> (base + 1000L).toString))
      == (10L until 30L), "commits at-or-after the instant: v1 and v2")
    assert(collectFrom(Map("startTimestamp" -> (base - 5000L).toString))
      == (0L until 30L), "before the whole history: everything")
    val e = intercept[Exception] {
      collectFrom(Map("startTimestamp" -> "0", "startVersion" -> "1"))
    }
    assert(e.getMessage.contains("mutually exclusive") ||
      Option(e.getCause).exists(_.getMessage.contains("mutually exclusive")),
      s"got $e")
  }

  test("the short name streams the cdf feed and nested column types: " +
      "feed=cdf follows (startVersion, head], an ARRAY<BIGINT> column " +
      "arrives intact") {
    val t = freshTable()
    commitRange(t, 0L, 0L, 5L)
    commitRange(t, 1L, 5L, 8L)
    val td = java.nio.file.Files.createTempDirectory("v2cdf").toString
    val cdfRows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String)]
    val q = spark.readStream.format("txlog")
      .schema(xySchema).option("path", t).option("feed", "cdf").load()
      .writeStream.option("checkpointLocation", s"$td/cdf")
      .foreachBatch { (b: DataFrame, _: Long) =>
        cdfRows ++= b.select("x", "_version", "_change_type").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(cdfRows.sorted.toSeq == (5L until 8L).map(x => (x, 1L, "insert")),
      s"the default cdf start is v0: v1's adds as inserts, got $cdfRows")
    val tArr = freshTable()
    val arrSchema = StructType.fromDDL("x BIGINT, a ARRAY<BIGINT>")
    Seq((1L, Seq(1L, 2L))).toDF("x", "a").write.parquet(s"$tArr/d0")
    assert(TxLog.tryCommitActions(spark, tArr, 0L,
      Seq(TxLog.AddFile("d0")), Nil,
      schemaDdl = Some(arrSchema.toDDL), cdf = Some("@adds")))
    val arrRows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Long])]
    val q2 = spark.readStream.format("txlog")
      .schema(arrSchema).option("path", tArr).load()
      .writeStream.option("checkpointLocation", s"$td/arr")
      .foreachBatch { (b: DataFrame, _: Long) =>
        arrRows ++= b.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
        ()
      }.start()
    try q2.processAllAvailable() finally q2.stop()
    assert(arrRows.toSeq == Seq((1L, Seq(1L, 2L))), s"got $arrRows")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("the provider-class route honours startVersion on the file feed " +
      "and streams past an adds-less commit: startVersion=1 delivers only " +
      "the commits after v1") {
    val t = freshTable()
    (0 to 3).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    // v4 records a schema and adds nothing: its window is empty
    assert(TxLog.tryCommitActions(spark, t, 4L, Nil, Nil,
      schemaDdl = Some(xySchema.toDDL), cdf = Some("@adds")))
    commitRange(t, 5L, 50L, 60L)
    val td = java.nio.file.Files.createTempDirectory("v2sv").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .format(classOf[graft.sources.TxLogStreamSourceProvider].getName)
      .schema(xySchema).option("path", t).option("startVersion", "1")
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.option("checkpointLocation", s"$td/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        got ++= b.collect().map(_.getLong(0)); ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(got.sorted.toSeq == (20L until 40L) ++ (50L until 60L),
      s"only v2, v3 and v5 follow startVersion=1, got ${got.sorted}")
    graft.operators.Checkpointing.deleteRecursively(td)
  }
}
