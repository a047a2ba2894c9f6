package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions.col

/** The TxLog streaming SINK — `writeStream.format("txlog")` commits each
  * micro-batch exactly once through `TxLog.commitBatch` — and TIMESTAMP
  * time travel (versionAtTimestamp / `timestampAsOf` / SQL
  * `TIMESTAMP AS OF`). */
class TxLogV2SinkSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import graft.sources.TxLog

  private val xySchema = StructType.fromDDL("x BIGINT, y BIGINT")

  private def freshTable(): String =
    java.nio.file.Files.createTempDirectory("txlogv2w").toString + "/t"

  private def commitRange(t: String, v: Long, lo: Long, hi: Long): Unit = {
    (lo until hi).map(x => (x, x * 2)).toDF("x", "y")
      .coalesce(1).write.parquet(s"$t/d$v")
    assert(TxLog.tryCommitActions(spark, t, v, Seq(TxLog.AddFile(s"d$v")),
      Nil, schemaDdl = if (v == 0) Some(xySchema.toDDL) else None,
      cdf = Some("@adds")))
  }

  test("V2 end-to-end follow: readStream.format(\"txlog\") → " +
      "writeStream.format(\"txlog\") with NO foreachBatch glue — the " +
      "downstream table equals the feed, the sink description is the " +
      "V2 table, stats envelopes ride the adds, staging is swept") {
    val up = freshTable()
    (0 to 3).foreach(v => commitRange(up, v, v * 10L, v * 10L + 10L))
    val down = freshTable()
    val td = java.nio.file.Files.createTempDirectory("v2w1").toString
    val q = spark.readStream.format("txlog")
      .schema(xySchema).option("path", up)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream.format("txlog")
      .option("path", down).option("statsCols", "x")
      .option("checkpointLocation", s"$td/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(q.lastProgress.sink.description.contains("txlog:"),
      s"the sink must be the V2 table, got ${q.lastProgress.sink}")
    val got = TxLog.read(spark, down, xySchema).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == (0L until 40L).map(x => (x, x * 2)),
      "every upstream row exactly once")
    val st = TxLog.planState(spark, down)
    assert(st.liveAdds.nonEmpty &&
      st.liveAdds.forall(_.stats.contains("x")),
      s"statsCols must record x envelopes, got ${st.liveAdds}")
    assert(st.schemaDdl.contains(xySchema.toDDL),
      "the first commit must record the schema")
    // no unreferenced attempt dir survives the drained stream: every
    // <batch dir>/<attempt> under the table is a live add
    val f = new org.apache.hadoop.fs.Path(down).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val attemptDirs = f.listStatus(new org.apache.hadoop.fs.Path(down))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("b"))
      .flatMap(d => f.listStatus(new org.apache.hadoop.fs.Path(down, d))
        .filter(_.isDirectory).map(c => s"$d/${c.getPath.getName}"))
    val live = st.liveAdds.map(_.name).toSet
    assert(attemptDirs.nonEmpty && attemptDirs.forall(live),
      s"unreferenced attempt dirs: ${attemptDirs.filterNot(live).toSeq}")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("restart exactly-once under the DEFAULT producer identity: " +
      "stop mid-history, extend upstream, restart on the same " +
      "checkpoint — no duplicates (the queryId-derived appId must be " +
      "durable across restarts)") {
    val up = freshTable()
    (0 to 2).foreach(v => commitRange(up, v, v * 10L, v * 10L + 10L))
    val down = freshTable()
    val td = java.nio.file.Files.createTempDirectory("v2w2").toString
    def follow(): Unit = {
      val q = spark.readStream.format("txlog")
        .schema(xySchema).option("path", up)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("txlog").option("path", down)
        .option("checkpointLocation", s"$td/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    follow()
    assert(TxLog.read(spark, down, xySchema).count() == 30L)
    (3 to 4).foreach(v => commitRange(up, v, v * 10L, v * 10L + 10L))
    follow()
    val got = TxLog.read(spark, down, xySchema).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 50L), "exactly once across the restart")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("an interleaved FOREIGN commit (OPTIMIZE between epochs) does " +
      "not derail the sink: the CAS retries, history stays exact") {
    val up = freshTable()
    (0 to 1).foreach(v => commitRange(up, v, v * 10L, v * 10L + 10L))
    val down = freshTable()
    val td = java.nio.file.Files.createTempDirectory("v2w3").toString
    def follow(): Unit = {
      val q = spark.readStream.format("txlog")
        .schema(xySchema).option("path", up)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("txlog").option("path", down)
        .option("checkpointLocation", s"$td/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    follow()
    // a maintenance writer interleaves: compact the downstream table
    TxLog.optimize(spark, down, Some(xySchema))
    (2 to 3).foreach(v => commitRange(up, v, v * 10L, v * 10L + 10L))
    follow() // the sink's next commits ride ABOVE the optimize version
    val got = TxLog.read(spark, down, xySchema).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 40L),
      "rows exact across the interleaved compaction")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  test("an ARRAY<BIGINT> column streams into the sink and reads back " +
      "intact; complete output mode is loud with the foreachBatch remedy") {
    val up = freshTable()
    val arrSchema = StructType.fromDDL("x BIGINT, a ARRAY<BIGINT>")
    Seq((1L, Seq(1L)), (2L, Seq(2L, 3L))).toDF("x", "a")
      .write.parquet(s"$up/d0")
    assert(TxLog.tryCommitActions(spark, up, 0L, Seq(TxLog.AddFile("d0")),
      Nil, schemaDdl = Some(arrSchema.toDDL), cdf = Some("@adds")))
    val down = freshTable()
    val td = java.nio.file.Files.createTempDirectory("v2w4").toString
    val q = spark.readStream
      .format(classOf[graft.sources.TxLogStreamSourceProvider].getName)
      .schema(arrSchema).option("path", up).load()
      .writeStream.format("txlog")
      .option("path", down)
      .option("checkpointLocation", s"$td/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val got = TxLog.read(spark, down, arrSchema).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    assert(got == Seq((1L, Seq(1L)), (2L, Seq(2L, 3L))), s"got $got")
    val e = intercept[Exception] {
      val q2 = spark.readStream.format("txlog")
        .schema(arrSchema).option("path", up).load()
        .groupBy("x").count()
        .writeStream.format("txlog").outputMode("complete")
        .option("path", freshTable())
        .option("checkpointLocation", s"$td/ckpt2").start()
      try q2.processAllAvailable() finally q2.stop()
    }
    assert(e.getMessage.contains("foreachBatch") ||
      Option(e.getCause).exists(_.getMessage.contains("foreachBatch")),
      s"got $e")
    graft.operators.Checkpointing.deleteRecursively(td)
  }

  // ── TIMESTAMP time travel ────────────────────────────────────────

  private def setLogTime(t: String, v: Long, ms: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(f"$t/_log/$v%010d.json")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .setTimes(p, ms, -1)
  }

  test("versionAtTimestamp resolves mtimes to snapshots: mid-window → " +
      "the version current then, after-head → head, before-birth → " +
      "loud with the valid range") {
    val t = freshTable()
    (0 to 2).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    Seq(0L -> 1000L, 1L -> 2000L, 2L -> 3000L)
      .foreach { case (v, ms) => setLogTime(t, v, ms) }
    assert(TxLog.versionAtTimestamp(spark, t, 1000L) == 0L)
    assert(TxLog.versionAtTimestamp(spark, t, 1500L) == 0L)
    assert(TxLog.versionAtTimestamp(spark, t, 2000L) == 1L)
    assert(TxLog.versionAtTimestamp(spark, t, 999999L) == 2L)
    val e = intercept[IllegalArgumentException] {
      TxLog.versionAtTimestamp(spark, t, 999L)
    }
    assert(e.getMessage.contains("earliest surviving commit is v0"))
  }

  test("option(\"timestampAsOf\") ≡ the versionAsOf read it resolves " +
      "to, epoch-millis and ISO instant forms; both pins at once is " +
      "loud") {
    val t = freshTable()
    (0 to 2).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    val base = 1577836800000L // 2020-01-01T00:00:00Z
    (0 to 2).foreach(v => setLogTime(t, v, base + v * 86400000L))
    val atV1 = spark.read.format("txlog")
      .option("versionAsOf", "1").load(t)
      .collect().map(_.getLong(0)).sorted.toSeq
    val byMs = spark.read.format("txlog")
      .option("timestampAsOf", (base + 86400000L).toString).load(t)
      .collect().map(_.getLong(0)).sorted.toSeq
    val byIso = spark.read.format("txlog")
      .option("timestampAsOf", "2020-01-02T12:00:00Z").load(t)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(byMs == atV1 && byIso == atV1 && atV1 == (0L until 20L))
    val e = intercept[Exception] {
      spark.read.format("txlog").option("versionAsOf", "1")
        .option("timestampAsOf", "123").load(t).collect()
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("SQL `TIMESTAMP AS OF` through the catalog resolves the " +
      "snapshot current at that instant") {
    val root = java.nio.file.Files.createTempDirectory("txlogts").toString
    spark.conf.set("spark.sql.catalog.graftts",
      "graft.sources.TxLogCatalog")
    spark.conf.set("spark.sql.catalog.graftts.root", root)
    val t = s"$root/tt"
    (0 to 1).foreach(v => commitRange(t, v, v * 10L, v * 10L + 10L))
    val base = 1577836800000L // 2020-01-01T00:00:00Z
    setLogTime(t, 0L, base)
    setLogTime(t, 1L, base + 2 * 86400000L) // 2020-01-03T00:00:00Z
    // session tz is UTC: '2020-01-02 00:00:00' lands strictly between
    val mid = spark.sql(
      "SELECT x FROM graftts.tt TIMESTAMP AS OF '2020-01-02 00:00:00'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(mid == (0L until 10L), "the instant resolves to v0")
    val late = spark.sql(
      "SELECT x FROM graftts.tt TIMESTAMP AS OF '2021-01-01 00:00:00'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(late == (0L until 20L), "after the head reads the head")
  }
}
