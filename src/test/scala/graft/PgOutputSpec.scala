package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc._

/** pgoutput wire-format decoder/encoder + the reference handler-loop
  * semantics (postrack.go:340-413), verified over synthetic byte messages —
  * no live Postgres required. */
class PgOutputSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val usersRel = RelationMsg(16385, "public", "users", 'd'.toByte, Seq(
    PgColumn(1, "id", 20, -1), PgColumn(0, "name", 25, -1), PgColumn(0, "bio", 25, -1)))

  test("every message type round-trips encode → decode bit-exactly") {
    val msgs: Seq[PgMessage] = Seq(
      usersRel,
      InsertMsg(16385, PgTuple(Seq(Some("1"), Some("ann"), None))),
      UpdateMsg(16385, None, None, PgTuple(Seq(Some("1"), Some("ann2"), Some("x")))),
      UpdateMsg(16385, Some('O'.toByte),
        Some(PgTuple(Seq(Some("1"), Some("ann"), None))),
        PgTuple(Seq(Some("1"), Some("ann2"), Some("héllo ünïcode")))),
      DeleteMsg(16385, 'K'.toByte, PgTuple(Seq(Some("1"), None, None))),
      TruncateMsg(1.toByte, Seq(16385, 16390)),
      BeginMsg(123456789L, 777L, 42),
      CommitMsg(0.toByte, 123456789L, 123456790L, 778L),
      LogicalMsg(1.toByte, 555L, "ckpt", "event:42".getBytes("UTF-8").toSeq),
      LogicalMsg(0.toByte, 0L, "", Seq.empty), // non-transactional, empty
      LogicalMsg(1.toByte, 9L, "préfix", Array[Byte](0, -1, 127).toSeq),
      OriginMsg(987654321L, "node-west"),
      TypeMsg(90210, "public", "hstöre")) // the last protocol type ('Y')
    msgs.foreach { m =>
      assert(PgOutput.decode(PgOutput.encode(m)) == m, s"round-trip failed for $m")
    }
  }

  test("decodeMessages extracts the 'M' side channel; row passes keep ignoring it") {
    val rel = RelationMsg(7, "public", "t", 'd'.toByte, Seq(PgColumn(0, "pk", 25, -1)))
    val lake = Seq(
      1L -> PgOutput.encode(rel),
      2L -> PgOutput.encode(InsertMsg(7, PgTuple(Seq(Some("1"))))),
      3L -> PgOutput.encode(LogicalMsg(1, 2L, "ckpt", "event:2".getBytes("UTF-8").toSeq)),
      4L -> PgOutput.encode(LogicalMsg(0, 4L, "fence", "x".getBytes("UTF-8").toSeq)))
    val msgs = PgOutput.decodeMessages(spark, lake.toDF("lsn", "data"))
      .as[(Long, Boolean, Long, String, String)].collect().sortBy(_._1).toSeq
    assert(msgs == Seq(
      (3L, true, 2L, "ckpt", "event:2"),
      (4L, false, 4L, "fence", "x")))
    // the row-change pass still ignores 'M' (benign metadata, not an event)
    assert(PgOutput.decodeFeed(spark, lake.toDF("lsn", "data")).count() == 1)
    // a streamed (xid-prefixed) message round-trips through the v2 path
    val sm = StreamedMsg(42, LogicalMsg(1, 7L, "p", "c".getBytes("UTF-8").toSeq))
    assert(PgOutput.decodeStreamed(PgOutput.encode(sm)) == sm)
  }

  test("handler semantics match the reference switch: nil/empty-map rules per op") {
    val reg = RelationRegistry.build(Seq((0L, usersRel)))
    def one(lsn: Long, m: PgMessage) = PgOutput.toEvents(reg, lsn, PgOutput.encode(m)).toSeq

    // INSERT: (after, nil) — postrack.go:377-384
    val ins = one(1L, InsertMsg(16385, PgTuple(Seq(Some("1"), Some("ann"), None))))
    assert(ins == Seq(ChangeEvent(1L, "users", "INSERT", null,
      Map("id" -> "1", "name" -> "ann", "bio" -> "")))) // null column → "" (string(nil))

    // UPDATE without old tuple: before is an EMPTY map, not nil — postrack.go:385-397
    val updNoOld = one(2L, UpdateMsg(16385, None, None, PgTuple(Seq(Some("1"), Some("b"), Some("x")))))
    assert(updNoOld.head.before == Map.empty[String, String])
    assert(updNoOld.head.after("name") == "b")

    // UPDATE with old tuple carries both images
    val upd = one(3L, UpdateMsg(16385, Some('O'.toByte),
      Some(PgTuple(Seq(Some("1"), Some("b"), Some("x")))),
      PgTuple(Seq(Some("1"), Some("c"), Some("x")))))
    assert(upd.head.before("name") == "b" && upd.head.after("name") == "c")

    // DELETE: (nil, before) — postrack.go:399-405
    val del = one(4L, DeleteMsg(16385, 'K'.toByte, PgTuple(Seq(Some("1"), None, None))))
    assert(del.head.after == null && del.head.before("id") == "1")

    // TRUNCATE: one event per relation, (nil, nil) — postrack.go:407-410
    val reg2 = RelationRegistry.build(Seq((0L, usersRel),
      (0L, usersRel.copy(relationId = 16390, name = "accounts"))))
    val tr = PgOutput.toEvents(reg2, 5L, PgOutput.encode(TruncateMsg(0.toByte, Seq(16385, 16390)))).toSeq
    assert(tr.map(_.table_name) == Seq("users", "accounts"))
    assert(tr.forall(e => e.op == "TRUNCATE" && e.before == null && e.after == null))

    // Begin/Commit produce no events
    assert(one(6L, BeginMsg(1L, 2L, 3)).isEmpty)
    assert(one(7L, CommitMsg(0.toByte, 1L, 2L, 3L)).isEmpty)
  }

  test("registry versions relation schemas by LSN (mid-stream schema change)") {
    val v2 = usersRel.copy(columns = usersRel.columns :+ PgColumn(0, "added", 25, -1))
    val reg = RelationRegistry.build(Seq((0L, usersRel), (100L, v2)))
    val tupleV1 = PgTuple(Seq(Some("1"), Some("a"), Some("b")))
    val tupleV2 = PgTuple(Seq(Some("1"), Some("a"), Some("b"), Some("new")))
    val before = PgOutput.toEvents(reg, 50L, PgOutput.encode(InsertMsg(16385, tupleV1))).next()
    val after = PgOutput.toEvents(reg, 150L, PgOutput.encode(InsertMsg(16385, tupleV2))).next()
    assert(!before.after.contains("added"))
    assert(after.after("added") == "new")
  }

  test("distributed decode of a synthetic frame lake matches the logical feed") {
    val events = sources.Tables(spark, sf, "events")
    val decoded = PgOutput.toCanonicalFeed(
      PgOutput.decodeFeed(spark, PgOutput.framesFromEvents(spark, events)))
      .select("lsn", "table_name", "op", "pk", "ts_us", "value")
    val logical = ChangeFeed.fromEvents(events)
      .select("lsn", "table_name", "op", "pk", "ts_us", "value")
    assert(decoded.count() == logical.count() && decoded.count() > 0)
    assert(decoded.exceptAll(logical).isEmpty && logical.exceptAll(decoded).isEmpty)
    // two tables actually present
    val tables = decoded.select("table_name").distinct().as[String].collect().toSet
    assert(tables == Set("users", "accounts"))
  }

  test("decodeFeed fails loudly on unknown frame types instead of dropping them") {
    // matches the streaming route()'s posture: benign metadata (B/C/Y/O/M)
    // is ignored, anything unrecognized is a protocol error
    val rel = RelationMsg(7, "public", "t", 'd'.toByte, Seq(PgColumn(0, "pk", 25, -1)))
    val good = Seq(
      1L -> PgOutput.encode(rel),
      2L -> PgOutput.encode(InsertMsg(7, PgTuple(Seq(Some("1"))))))
    val bad = good :+ (3L -> Array[Byte]('X'.toByte, 0, 0, 0))
    assert(PgOutput.decodeFeed(spark, good.toDF("lsn", "data")).count() == 1)
    val e = intercept[org.apache.spark.SparkException](
      PgOutput.decodeFeed(spark, bad.toDF("lsn", "data")).count())
    assert(e.getMessage.contains("unknown pgoutput message type") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown pgoutput message type")))
    // empty frames are protocol errors too, not silent drops
    val empty = good :+ (3L -> Array.emptyByteArray)
    assertThrows[org.apache.spark.SparkException](
      PgOutput.decodeFeed(spark, empty.toDF("lsn", "data")).count())
    // the frame-type dispatch is columnar — the filter sits between scan
    // and typed deserialize, not inside a deserialized lambda (a
    // LocalRelation would fold the filter away, so assert on parquet)
    val lake = java.nio.file.Files.createTempDirectory("framelake").toString
    good.toDF("lsn", "data").write.mode("overwrite").parquet(lake)
    val plan = PgOutput.decodeFeed(spark, spark.read.parquet(lake))
      .queryExecution.executedPlan.toString
    assert(plan.contains("substring"), s"expected columnar first-byte filter:\n$plan")
    assert(!plan.contains("DeserializeToObject\n   +- Filter"),
      "filter must run before typed deserialization")
  }

  test("decode fails loudly on a data message with no relation registration") {
    val reg = RelationRegistry.build(Nil)
    val bytes = PgOutput.encode(InsertMsg(999, PgTuple(Seq(Some("1")))))
    assertThrows[IllegalStateException](PgOutput.toEvents(reg, 1L, bytes).toSeq)
  }

  test("toEvents returns no events for Type ('Y') and Origin ('O') frames") {
    val reg = RelationRegistry.build(Nil)
    Seq[PgMessage](TypeMsg(16400, "public", "mood"),
        OriginMsg(7000L, "upstream")).foreach { m =>
      assert(PgOutput.toEvents(reg, 1L, PgOutput.encode(m)).isEmpty, m)
    }
  }

  test("streaming decode: registry state survives batches, schema change applies mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Array[Byte])]
    val q = graft.streaming.PgOutputStream.decodeStream(spark, input.toDS())
      .writeStream.format("memory").queryName("pgdecode")
      .outputMode("append").start()
    try {
      // batch 1: register users, insert — plus Begin/Commit, which decode to
      // nothing
      input.addData(Seq(
        10L -> PgOutput.encode(BeginMsg(10L, 1L, 1)),
        11L -> PgOutput.encode(usersRel),
        12L -> PgOutput.encode(InsertMsg(16385, PgTuple(Seq(Some("1"), Some("ann"), None)))),
        13L -> PgOutput.encode(CommitMsg(0.toByte, 13L, 14L, 2L))): _*)
      q.processAllAvailable()
      // batch 2: NO RelationMessage — the insert must decode against the
      // registry checkpointed from batch 1; then a schema change (v2 adds a
      // column) takes effect from its LSN; then a two-relation TRUNCATE
      val accountsRel = usersRel.copy(relationId = 16390, name = "accounts")
      val usersV2 = usersRel.copy(columns = usersRel.columns :+ PgColumn(0, "added", 25, -1))
      input.addData(Seq(
        20L -> PgOutput.encode(InsertMsg(16385, PgTuple(Seq(Some("2"), Some("bob"), None)))),
        21L -> PgOutput.encode(accountsRel),
        22L -> PgOutput.encode(usersV2),
        23L -> PgOutput.encode(InsertMsg(16385,
          PgTuple(Seq(Some("3"), Some("cat"), None, Some("extra"))))),
        24L -> PgOutput.encode(TruncateMsg(0.toByte, Seq(16385, 16390)))): _*)
      q.processAllAvailable()
      val got = spark.table("pgdecode").as[ChangeEvent].collect()
        .sortBy(e => (e.lsn, e.table_name)).toSeq
      assert(got.map(e => (e.lsn, e.table_name, e.op)) == Seq(
        (12L, "users", "INSERT"),
        (20L, "users", "INSERT"),   // cross-batch registry state
        (23L, "users", "INSERT"),   // decoded against v2
        (24L, "accounts", "TRUNCATE"), // multi-relation frame split per table
        (24L, "users", "TRUNCATE")))
      assert(!got.find(_.lsn == 20L).get.after.contains("added"))
      assert(got.find(_.lsn == 23L).get.after("added") == "extra")
    } finally q.stop()
  }

  test("streaming decode of the synthetic frame lake matches the batch decode") {
    val events = sources.Tables(spark, sf, "events").limit(200)
    val frames = PgOutput.framesFromEvents(spark, events)
      .select(col("lsn").cast("long"), col("data")).as[(Long, Array[Byte])].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("pgframes").toString
    frames.toDF("lsn", "data").write.mode("append").parquet(dir)
    val q = graft.streaming.PgOutputStream.decodeStream(spark,
        graft.streaming.PgOutputStream.frameSource(spark, dir))
      .writeStream.format("memory").queryName("pglake")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // compare via the canonical typed projection: MAP columns don't
      // support set operations
      val streamed = PgOutput.toCanonicalFeed(spark.table("pglake"))
      val batch = PgOutput.toCanonicalFeed(
        PgOutput.decodeFeed(spark, frames.toDF("lsn", "data")))
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    } finally q.stop()
  }
}

/** Protocol v2 — streamed in-progress transactions: wire round-trips for
  * the Stream Start/Stop/Commit/Abort frames and the xid-spliced data
  * messages, the segment-interval context reconstruction, and the
  * distributed v2 decode's commit/abort visibility rule. */
class PgOutputV2Spec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val rel = RelationMsg(7, "public", "t", 'd'.toByte, Seq(
    PgColumn(1, "pk", 20, -1), PgColumn(0, "v", 25, -1)))

  private def ins(pk: Int, v: String) =
    InsertMsg(7, PgTuple(Seq(Some(pk.toString), Some(v))))

  test("v2 messages round-trip encode → decode bit-exactly") {
    val msgs: Seq[PgMessage] = Seq(
      StreamStartMsg(42, firstSegment = true),
      StreamStartMsg(42, firstSegment = false),
      StreamStopMsg,
      StreamCommitMsg(42, 0.toByte, 100L, 101L, 999L),
      StreamAbortMsg(42, 43))
    msgs.foreach(m => assert(PgOutput.decode(PgOutput.encode(m)) == m))
    // xid-spliced data messages round-trip through the streamed decoder
    val streamed: Seq[PgMessage] = Seq(
      StreamedMsg(42, ins(1, "a")),
      StreamedMsg(42, UpdateMsg(7, Some('O'.toByte),
        Some(PgTuple(Seq(Some("1"), Some("a")))), PgTuple(Seq(Some("1"), Some("b"))))),
      StreamedMsg(42, DeleteMsg(7, 'K'.toByte, PgTuple(Seq(Some("1"), None)))),
      StreamedMsg(42, TruncateMsg(0.toByte, Seq(7))),
      StreamedMsg(42, rel))
    streamed.foreach(m => assert(PgOutput.decodeStreamed(PgOutput.encode(m)) == m))
    // control frames are never xid-prefixed — they pass through unchanged
    assert(PgOutput.decodeStreamed(PgOutput.encode(StreamStopMsg)) == StreamStopMsg)
    // Begin cannot ride inside a segment
    assertThrows[IllegalArgumentException](
      PgOutput.encode(StreamedMsg(42, BeginMsg(1L, 2L, 3))))
  }

  test("StreamContext: interval reconstruction + loud malformed lakes") {
    val ctx = StreamContext.build(Seq(
      10L -> StreamStartMsg(1, firstSegment = true),
      20L -> StreamStopMsg,
      30L -> StreamStartMsg(2, firstSegment = true),
      40L -> StreamStopMsg,
      50L -> StreamStartMsg(1, firstSegment = false),
      60L -> StreamStopMsg,
      70L -> StreamCommitMsg(1, 0.toByte, 70L, 70L, 0L),
      80L -> StreamAbortMsg(2, 2)))
    // strict bounds: control frames themselves are not "inside"
    assert(ctx.segmentAt(10L).isEmpty && ctx.segmentAt(20L).isEmpty)
    assert(ctx.segmentAt(15L).map(_.xid).contains(1))
    assert(ctx.segmentAt(35L).map(_.xid).contains(2))
    assert(ctx.segmentAt(55L).map(_.xid).contains(1))
    assert(ctx.segmentAt(25L).isEmpty && ctx.segmentAt(5L).isEmpty && ctx.segmentAt(95L).isEmpty)
    assert(ctx.isVisible(1) && !ctx.isVisible(2))
    // unresolved xid: loud, never guessed
    val dangling = StreamContext.build(Seq(
      10L -> StreamStartMsg(9, firstSegment = true), 20L -> StreamStopMsg))
    assertThrows[IllegalStateException](dangling.isVisible(9))
    // nested/overlapping segments and unterminated segments are malformed
    assertThrows[IllegalArgumentException](StreamContext.build(Seq(
      10L -> StreamStartMsg(1, firstSegment = true),
      15L -> StreamStartMsg(2, firstSegment = true))))
    assertThrows[IllegalStateException](StreamContext.build(Seq(
      10L -> StreamStopMsg)))
    assertThrows[IllegalArgumentException](StreamContext.build(Seq(
      10L -> StreamStartMsg(1, firstSegment = true))))
    // contradictory fate
    assertThrows[IllegalArgumentException](StreamContext.build(Seq(
      10L -> StreamCommitMsg(1, 0.toByte, 1L, 1L, 0L),
      20L -> StreamAbortMsg(1, 1))))
  }

  test("decodeFeed: committed segments visible, aborted invisible, v1 interleaved") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    val lake = Seq(
      1L -> enc(rel),
      // v1 traffic
      100L -> enc(ins(1, "v1-a")),
      // segment of xid 1 (commits)
      200L -> enc(StreamStartMsg(1, firstSegment = true)),
      201L -> enc(StreamedMsg(1, ins(2, "s1-a"))),
      202L -> enc(StreamedMsg(1, ins(3, "s1-b"))),
      203L -> enc(StreamStopMsg),
      // more v1
      300L -> enc(ins(4, "v1-b")),
      // segment of xid 2 (aborts)
      400L -> enc(StreamStartMsg(2, firstSegment = true)),
      401L -> enc(StreamedMsg(2, ins(5, "s2-a"))),
      402L -> enc(StreamStopMsg),
      // second segment of xid 1
      500L -> enc(StreamStartMsg(1, firstSegment = false)),
      501L -> enc(StreamedMsg(1, ins(6, "s1-c"))),
      502L -> enc(StreamStopMsg),
      600L -> enc(StreamCommitMsg(1, 0.toByte, 600L, 600L, 0L)),
      700L -> enc(StreamAbortMsg(2, 2)))
    val got = PgOutput.decodeFeed(spark, lake.toDF("lsn", "data"))
      .as[ChangeEvent].collect().sortBy(_.lsn).toSeq
    assert(got.map(e => (e.lsn, e.after("pk"))) ==
      Seq((100L, "1"), (201L, "2"), (202L, "3"), (300L, "4"), (501L, "6")))
    // a frame inside a segment carrying the WRONG xid is a protocol error
    val bad = lake :+ (202L -> enc(StreamedMsg(2, ins(9, "x"))))
    assertThrows[org.apache.spark.SparkException](
      PgOutput.decodeFeed(spark, bad.toDF("lsn", "data")).count())
  }

  test("origin attribution: Origin marks its WHOLE transaction, locals " +
      "stay local, and the origin=none filter drops foreign rows") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    val lake = Seq(
      1L -> enc(rel),
      // local txn (no Origin message)
      100L -> enc(BeginMsg(199L, 0L, 1)),
      110L -> enc(ins(1, "local-a")),
      199L -> enc(CommitMsg(0.toByte, 199L, 200L, 0L)),
      // replicated txn from 'east'
      200L -> enc(BeginMsg(299L, 0L, 2)),
      201L -> enc(OriginMsg(5000L, "east")),
      210L -> enc(ins(2, "east-a")),
      211L -> enc(ins(3, "east-b")),
      299L -> enc(CommitMsg(0.toByte, 299L, 300L, 0L)),
      // a frame outside any transaction reads as local
      400L -> enc(ins(4, "bare")))
    val got = PgOutput.decodeFeedWithOrigin(spark, lake.toDF("lsn", "data"))
      .select("lsn", "origin").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got == Seq((110L, "local"), (210L, "east"), (211L, "east"),
      (400L, "local")))
    // the origin=none subscription: foreign rows never materialize
    val local = PgOutput.decodeFeedWithOrigin(spark,
        lake.toDF("lsn", "data"), Some(Set("local")))
      .select("lsn").collect().map(_.getLong(0)).sorted.toSeq
    assert(local == Seq(110L, 400L))
    // OriginMsg round-trips bit-exactly
    val om = OriginMsg(123456789L, "node-a")
    assert(PgOutput.decode(PgOutput.encode(om)) == om)
  }

  test("origin framing is loud on malformed lakes: origin outside a txn, " +
      "second origin in one txn, commit without begin, torn tail") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    def run(lake: Seq[(Long, Array[Byte])]) =
      PgOutput.decodeFeedWithOrigin(spark, lake.toDF("lsn", "data")).count()
    val e1 = intercept[IllegalStateException](
      run(Seq(1L -> enc(rel), 10L -> enc(OriginMsg(1L, "x")))))
    assert(e1.getMessage.contains("outside any transaction"))
    val e2 = intercept[IllegalArgumentException](run(Seq(1L -> enc(rel),
      10L -> enc(BeginMsg(99L, 0L, 1)),
      11L -> enc(OriginMsg(1L, "x")), 12L -> enc(OriginMsg(1L, "y")),
      99L -> enc(CommitMsg(0.toByte, 99L, 100L, 0L)))))
    assert(e2.getMessage.contains("second Origin"))
    val e3 = intercept[IllegalStateException](
      run(Seq(1L -> enc(rel), 10L -> enc(CommitMsg(0.toByte, 10L, 11L, 0L)))))
    assert(e3.getMessage.contains("no open transaction"))
    val e4 = intercept[IllegalArgumentException](
      run(Seq(1L -> enc(rel), 10L -> enc(BeginMsg(99L, 0L, 1)))))
    assert(e4.getMessage.contains("torn lake"))
  }

  test("the origin-aware decode refuses stream and 2PC lakes loudly") {
    // streamed and prepared frames sit outside Begin/Commit framing, so
    // their origin is unknown: attributing them "local" would be a guess
    def enc(m: PgMessage) = PgOutput.encode(m)
    val v1 = Seq(
      1L -> enc(rel),
      100L -> enc(BeginMsg(199L, 0L, 1)),
      110L -> enc(ins(1, "local-a")),
      199L -> enc(CommitMsg(0.toByte, 199L, 200L, 0L)))
    val streamed = v1 ++ Seq(
      300L -> enc(StreamStartMsg(5, firstSegment = true)),
      301L -> enc(StreamedMsg(5, ins(2, "s"))),
      302L -> enc(StreamStopMsg),
      400L -> enc(StreamCommitMsg(5, 0.toByte, 400L, 400L, 0L)))
    val prepared = v1 ++ Seq(
      300L -> enc(BeginPrepareMsg(300L, 302L, 0L, 6, "g")),
      301L -> enc(ins(3, "p")),
      302L -> enc(PrepareMsg(0.toByte, 300L, 302L, 0L, 6, "g")),
      400L -> enc(CommitPreparedMsg(0.toByte, 400L, 400L, 0L, 6, "g")))
    assert(PgOutput.decodeFeedWithOrigin(spark, v1.toDF("lsn", "data")).count() == 1L)
    Seq(streamed -> 'S', prepared -> 'b').foreach { case (lake, first) =>
      val e = intercept[IllegalArgumentException](
        PgOutput.decodeFeedWithOrigin(spark, lake.toDF("lsn", "data")).count())
      assert(e.getMessage.contains(s"control frame '$first' at lsn 300"), e.getMessage)
      // the same lake decodes through decodeFeed, which resolves the fates
      assert(PgOutput.decodeFeed(spark, lake.toDF("lsn", "data")).count() == 2L)
    }
  }

  test("the v2/2PC driver-context bound is ENFORCED: control frames past " +
      "graft.cdc.maxControlFrames fail loudly before the pull") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    val lake = Seq(
      1L -> enc(rel),
      200L -> enc(StreamStartMsg(1, firstSegment = true)),
      201L -> enc(StreamedMsg(1, ins(2, "s1-a"))),
      203L -> enc(StreamStopMsg),
      600L -> enc(StreamCommitMsg(1, 0.toByte, 600L, 600L, 0L)))
    spark.conf.set("graft.cdc.maxControlFrames", "2")
    try {
      val e = intercept[IllegalArgumentException](
        PgOutput.decodeFeed(spark, lake.toDF("lsn", "data")).count())
      assert(e.getMessage.contains("graft.cdc.maxControlFrames"))
    } finally spark.conf.unset("graft.cdc.maxControlFrames")
    // under the default ceiling the same feed decodes fine
    assert(PgOutput.decodeFeed(spark, lake.toDF("lsn", "data")).count() == 1L)
  }

  test("savepoint-level Stream Abort (subXid != xid) fails loudly, never conflates") {
    // v2 data frames carry only the top-level xid, so a subtransaction
    // rollback cannot be attributed frame-by-frame; conflating it with a
    // whole-txn abort would silently drop the COMMITTED rest of the txn
    val e = intercept[IllegalArgumentException](StreamContext.build(Seq(
      10L -> StreamStartMsg(5, firstSegment = true),
      20L -> StreamStopMsg,
      30L -> StreamAbortMsg(5, 6), // subxact 6 of txn 5
      40L -> StreamCommitMsg(5, 0.toByte, 40L, 40L, 0L))))
    assert(e.getMessage.contains("SUBTRANSACTION"))
  }

  test("an aborted segment's Relation frames never enter the registry") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    val relV2 = rel.copy(columns = rel.columns :+ PgColumn(0, "extra", 25, -1))
    val lake = Seq(
      1L -> enc(rel),
      // aborted streamed txn ships a DDL-refreshed 3-column schema
      100L -> enc(StreamStartMsg(2, firstSegment = true)),
      101L -> enc(StreamedMsg(2, relV2)),
      102L -> enc(StreamedMsg(2, ins(9, "gone"))),
      103L -> enc(StreamStopMsg),
      // a later v1 insert must decode against the LIVE 2-column schema,
      // not the rolled-back 3-column one
      200L -> enc(ins(1, "alive")),
      300L -> enc(StreamAbortMsg(2, 2)))
    val got = PgOutput.decodeFeed(spark, lake.toDF("lsn", "data"))
      .as[ChangeEvent].collect().toSeq
    assert(got.map(_.lsn) == Seq(200L))
    assert(got.head.after.keySet == Set("pk", "v"),
      s"rolled-back DDL leaked into the registry: ${got.head.after}")
  }

  test("excludeOpen: a live lake's unresolved txn reads invisible, never throws") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    val lake = Seq( // segments flushed, fate frame NOT yet captured
      1L -> enc(rel),
      100L -> enc(ins(1, "v1")),
      200L -> enc(StreamStartMsg(3, firstSegment = true)),
      201L -> enc(StreamedMsg(3, ins(2, "inflight"))),
      202L -> enc(StreamStopMsg))
    // default posture: a COMPLETE lake missing a fate frame is corruption
    assertThrows[org.apache.spark.SparkException](
      PgOutput.decodeFeed(spark, lake.toDF("lsn", "data")).count())
    // prefix-decode posture: the open txn is invisible (never guessed)
    val open = PgOutput.decodeFeed(spark, lake.toDF("lsn", "data"),
      excludeOpen = true).as[ChangeEvent].collect().toSeq
    assert(open.map(_.lsn) == Seq(100L))
    // once the fate lands, a re-decode surfaces the committed events
    val fated = lake :+ (300L -> enc(StreamCommitMsg(3, 0.toByte, 300L, 300L, 0L)))
    val after = PgOutput.decodeFeed(spark, fated.toDF("lsn", "data"),
      excludeOpen = true).as[ChangeEvent].collect().toSeq
    assert(after.map(_.lsn) == Seq(100L, 201L))
  }

  test("in-segment logical messages: committed surface, aborted vanish, xid splice parses") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    val lake = Seq(
      1L -> enc(rel),
      10L -> enc(LogicalMsg(1, 10L, "top", "t".getBytes("UTF-8").toSeq)),
      100L -> enc(StreamStartMsg(1, firstSegment = true)),
      // flags = 1 — a plain decode would read the xid's first byte (0) as
      // flags and surface transactional=false with a garbage msg_lsn
      101L -> enc(StreamedMsg(1, LogicalMsg(1, 7L, "ckpt", "a".getBytes("UTF-8").toSeq))),
      102L -> enc(StreamStopMsg),
      200L -> enc(StreamStartMsg(2, firstSegment = true)),
      201L -> enc(StreamedMsg(2, LogicalMsg(1, 8L, "ckpt", "b".getBytes("UTF-8").toSeq))),
      202L -> enc(StreamStopMsg),
      300L -> enc(StreamCommitMsg(1, 0.toByte, 300L, 300L, 0L)),
      400L -> enc(StreamAbortMsg(2, 2)))
    val got = PgOutput.decodeMessages(spark, lake.toDF("lsn", "data"))
      .as[(Long, Boolean, Long, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (10L, true, 10L, "top", "t"),
      (101L, true, 7L, "ckpt", "a"))) // xid spliced out, flags intact; txn 2's message aborted away
  }

  test("two-phase commit: prepared blocks round-trip, fates gate visibility") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    // wire round-trips for all four 2PC frames
    Seq[PgMessage](
      BeginPrepareMsg(100L, 110L, 7L, 9, "gid-a"),
      PrepareMsg(0.toByte, 100L, 110L, 7L, 9, "gid-a"),
      CommitPreparedMsg(0.toByte, 200L, 201L, 8L, 9, "gid-a"),
      RollbackPreparedMsg(0.toByte, 110L, 300L, 7L, 9L, 9, "gïd-ü"))
      .foreach(m => assert(PgOutput.decode(PgOutput.encode(m)) == m))
    // context: gid/xid must agree across a block's Begin Prepare/Prepare
    assertThrows[IllegalArgumentException](PreparedContext.build(Seq(
      10L -> BeginPrepareMsg(10L, 20L, 0L, 1, "g1"),
      20L -> PrepareMsg(0.toByte, 10L, 20L, 0L, 1, "OTHER"))))
    // a complete lake: committed block visible, rolled-back invisible
    val lake = Seq(
      1L -> enc(rel),
      50L -> enc(ins(1, "v1")),
      100L -> enc(BeginPrepareMsg(100L, 103L, 0L, 11, "gc")),
      101L -> enc(ins(2, "prep-c")),
      102L -> enc(ins(3, "prep-c2")),
      103L -> enc(PrepareMsg(0.toByte, 100L, 103L, 0L, 11, "gc")),
      200L -> enc(BeginPrepareMsg(200L, 202L, 0L, 12, "gr")),
      201L -> enc(ins(4, "prep-r")),
      202L -> enc(PrepareMsg(0.toByte, 200L, 202L, 0L, 12, "gr")),
      300L -> enc(CommitPreparedMsg(0.toByte, 300L, 300L, 0L, 11, "gc")),
      400L -> enc(RollbackPreparedMsg(0.toByte, 202L, 400L, 0L, 0L, 12, "gr")))
    val got = PgOutput.decodeFeed(spark, lake.toDF("lsn", "data"))
      .as[ChangeEvent].collect().sortBy(_.lsn).toSeq
    assert(got.map(e => (e.lsn, e.after("pk"))) ==
      Seq((50L, "1"), (101L, "2"), (102L, "3")))
    // in-doubt window: fate not yet landed → loud by default, invisible
    // under the prefix-decode policy — 2PC's whole point is that window
    val inDoubt = lake.filterNot(f => f._1 == 300L || f._1 == 400L)
    assertThrows[org.apache.spark.SparkException](
      PgOutput.decodeFeed(spark, inDoubt.toDF("lsn", "data")).count())
    val open = PgOutput.decodeFeed(spark, inDoubt.toDF("lsn", "data"),
      excludeOpen = true).as[ChangeEvent].collect().toSeq
    assert(open.map(_.lsn) == Seq(50L))
  }

  test("stream-prepared (v2 × two_phase): segments hang off the gid's fate") {
    def enc(m: PgMessage) = PgOutput.encode(m)
    assert(PgOutput.decode(PgOutput.encode(
      StreamPrepareMsg(0.toByte, 10L, 20L, 5L, 9, "gp"))) ==
      StreamPrepareMsg(0.toByte, 10L, 20L, 5L, 9, "gp"))
    // two streamed txns end PREPARED; one gid commits, one rolls back
    def lakeFor(fates: Seq[(Long, PgMessage)]) = (Seq(
      1L -> enc(rel),
      50L -> enc(ins(1, "v1")),
      100L -> enc(StreamStartMsg(21, firstSegment = true)),
      101L -> enc(StreamedMsg(21, ins(2, "sp-commit"))),
      102L -> enc(StreamStopMsg),
      200L -> enc(StreamStartMsg(22, firstSegment = true)),
      201L -> enc(StreamedMsg(22, ins(3, "sp-rollback"))),
      202L -> enc(StreamStopMsg),
      300L -> enc(StreamPrepareMsg(0.toByte, 300L, 300L, 0L, 21, "g21")),
      310L -> enc(StreamPrepareMsg(0.toByte, 310L, 310L, 0L, 22, "g22"))) ++
      fates.map { case (l, m) => l -> enc(m) }).toDF("lsn", "data")
    val resolved = lakeFor(Seq(
      400L -> CommitPreparedMsg(0.toByte, 400L, 400L, 0L, 21, "g21"),
      500L -> RollbackPreparedMsg(0.toByte, 310L, 500L, 0L, 0L, 22, "g22")))
    val got = PgOutput.decodeFeed(spark, resolved)
      .as[ChangeEvent].collect().sortBy(_.lsn).toSeq
    assert(got.map(e => (e.lsn, e.after("pk"))) == Seq((50L, "1"), (101L, "2")))
    // in-doubt: both prepared, no gid fate — loud by default, invisible
    // under the prefix policy
    val inDoubt = lakeFor(Nil)
    assertThrows[org.apache.spark.SparkException](
      PgOutput.decodeFeed(spark, inDoubt).count())
    val open = PgOutput.decodeFeed(spark, inDoubt, excludeOpen = true)
      .as[ChangeEvent].collect().toSeq
    assert(open.map(_.lsn) == Seq(50L))
    // contradiction: a stream-level fate AND a Stream Prepare on one xid
    // (checked across the two contexts at decode time)
    val contradictory = (Seq(
      1L -> enc(rel),
      10L -> enc(StreamStartMsg(9, firstSegment = true)),
      20L -> enc(StreamStopMsg),
      30L -> enc(StreamPrepareMsg(0.toByte, 30L, 30L, 0L, 9, "g9")),
      40L -> enc(StreamCommitMsg(9, 0.toByte, 40L, 40L, 0L)))).toDF("lsn", "data")
    assertThrows[IllegalArgumentException](
      PgOutput.decodeFeed(spark, contradictory).count())
  }

  test("gid reuse: fates pair with the pending prepared txn, never a flat gid set") {
    // Postgres frees a gid on resolution — a later prepared transaction may
    // legally REUSE it. The fate must attach to the BLOCK it resolves, so
    // the second, still-in-doubt block stays in doubt (it must NOT inherit
    // the first block's commit).
    def enc(m: PgMessage) = PgOutput.encode(m)
    val lake = Seq(
      1L -> enc(rel),
      100L -> enc(BeginPrepareMsg(100L, 102L, 0L, 31, "g")),
      101L -> enc(ins(1, "first")),
      102L -> enc(PrepareMsg(0.toByte, 100L, 102L, 0L, 31, "g")),
      200L -> enc(CommitPreparedMsg(0.toByte, 200L, 200L, 0L, 31, "g")),
      // gid 'g' is free again: a second prepared txn reuses it
      300L -> enc(BeginPrepareMsg(300L, 302L, 0L, 32, "g")),
      301L -> enc(ins(2, "second")),
      302L -> enc(PrepareMsg(0.toByte, 300L, 302L, 0L, 32, "g")))
    // the second block is in doubt: loud by default, invisible under the
    // prefix policy — and the FIRST block's commit still applies
    assertThrows[org.apache.spark.SparkException](
      PgOutput.decodeFeed(spark, lake.toDF("lsn", "data")).count())
    val open = PgOutput.decodeFeed(spark, lake.toDF("lsn", "data"),
      excludeOpen = true).as[ChangeEvent].collect().toSeq
    assert(open.map(_.lsn) == Seq(101L))
    // reuse + rollback of the SECOND block resolves correctly too
    val resolved = lake :+
      (400L -> enc(RollbackPreparedMsg(0.toByte, 302L, 400L, 0L, 0L, 32, "g")))
    val got = PgOutput.decodeFeed(spark, resolved.toDF("lsn", "data"))
      .as[ChangeEvent].collect().toSeq
    assert(got.map(_.lsn) == Seq(101L))
    // malformed: re-preparing a gid that is STILL pending
    assertThrows[IllegalArgumentException](PreparedContext.build(Seq(
      10L -> BeginPrepareMsg(10L, 12L, 0L, 1, "gp"),
      12L -> PrepareMsg(0.toByte, 10L, 12L, 0L, 1, "gp"),
      20L -> BeginPrepareMsg(20L, 22L, 0L, 2, "gp"),
      22L -> PrepareMsg(0.toByte, 20L, 22L, 0L, 2, "gp"))))
    // malformed: a fate for a gid with no pending prepared txn
    assertThrows[IllegalStateException](PreparedContext.build(Seq(
      10L -> CommitPreparedMsg(0.toByte, 10L, 10L, 0L, 1, "nope"))))
    // malformed: one xid stream-prepared twice
    assertThrows[IllegalArgumentException](PreparedContext.build(Seq(
      10L -> StreamPrepareMsg(0.toByte, 10L, 10L, 0L, 5, "a"),
      20L -> StreamPrepareMsg(0.toByte, 20L, 20L, 0L, 5, "b"))))
  }

  test("decodeFeed leaks no row of a rolled-back prepared block") {
    // the block's data frames are plain v1 frames: a decode without fate
    // machinery would emit them as visible
    def enc(m: PgMessage) = PgOutput.encode(m)
    val lake = Seq(
      1L -> enc(rel),
      100L -> enc(BeginPrepareMsg(100L, 102L, 0L, 41, "gx")),
      101L -> enc(ins(1, "rolled-back")),
      102L -> enc(PrepareMsg(0.toByte, 100L, 102L, 0L, 41, "gx")),
      200L -> enc(RollbackPreparedMsg(0.toByte, 102L, 200L, 0L, 0L, 41, "gx")))
    assert(PgOutput.decodeFeed(spark, lake.toDF("lsn", "data")).count() == 0L)
  }

  test("framesFromEvents2PC decodes to exactly the committed + v1 events") {
    val events = sources.Tables(spark, sf, "events").limit(300)
    val frames = PgOutput.framesFromEvents2PC(spark, events)
    assert(frames.count() == frames.select("lsn").distinct().count())
    val got = PgOutput.toCanonicalFeed(PgOutput.decodeFeed(spark, frames))
      .select("table_name", "op", "pk", "ts_us", "value")
    // visible = everything except the ROLLED-BACK gid (user_id % 7 == 3)
    val expected = ChangeFeed.fromEvents(events)
      .filter(pmod(col("pk"), lit(7)) =!= 3)
      .select("table_name", "op", "pk", "ts_us", "value")
    assert(got.count() == expected.count() && got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("framesFromEventsV2 decodes to exactly the committed + v1 events") {
    val events = sources.Tables(spark, sf, "events").limit(400)
    val frames = PgOutput.framesFromEventsV2(spark, events)
    // lsn uniqueness: v1 grid, segment blocks, and control frames never
    // collide (the interval attribution depends on it)
    assert(frames.count() == frames.select("lsn").distinct().count())
    val got = PgOutput.toCanonicalFeed(PgOutput.decodeFeed(spark, frames))
      .select("table_name", "op", "pk", "ts_us", "value")
    // visible = everything except the ABORTED txn (user_id % 7 == 1)
    val expected = ChangeFeed.fromEvents(events)
      .filter(pmod(col("pk"), lit(7)) =!= 1)
      .select("table_name", "op", "pk", "ts_us", "value")
    assert(got.count() == expected.count() && got.count() > 0)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // both streamed-committed and v1 rows are present
    val aRows = expected.filter(pmod(col("pk"), lit(7)) === 0).count()
    assert(aRows > 0 && aRows < expected.count())
  }
}

/** Publication catalog + slot store lifecycle (postrack.go:188-285). */
class CatalogSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def feed = Seq(
    (1L, "users", "INSERT", 1L, 100L, 10.0, "{}"),
    (2L, "accounts", "INSERT", 2L, 200L, 20.0, "{}"),
    (3L, "users", "UPDATE", 1L, 300L, 30.0, "{}"),
    (4L, "accounts", "UPDATE", 2L, 400L, 40.0, "{}"))
    .toDF("lsn", "table_name", "op", "pk", "ts_us", "value", "props")

  test("set/add/alter/drop/replace mirror the reference DDL semantics") {
    val cat = new PublicationCatalog
    cat.set(Publication("users", condition = Some(col("value") > 5)))
    assert(cat.exists("users"))
    // add on existing errors (CREATE PUBLICATION does too)
    assertThrows[IllegalArgumentException](cat.add(Publication("users")))
    // WithOverride: re-set keeps the existing definition
    cat.set(Publication("users", condition = Some(col("value") > 99999), overrideExisting = true))
    assert(cat(feed).filter(col("table_name") === "users").count() == 2)
    // no override: re-set replaces the definition
    cat.set(Publication("users", condition = Some(col("value") > 15)))
    assert(cat(feed).filter(col("table_name") === "users").count() == 1)
    // replace = drop + add
    cat.replace(Publication("users"))
    assert(cat(feed).filter(col("table_name") === "users").count() == 2)
    cat.drop("users")
    assert(!cat.exists("users"))
    cat.drop("users") // IF EXISTS: dropping a missing publication is a no-op
  }

  test("catalog union covers exactly the subscribed slices") {
    val cat = new PublicationCatalog
    cat.set(Publication("users"))
    cat.set(Publication("accounts", eventMask = Set("UPDATE")))
    val got = cat(feed).select("lsn").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L, 4L))
  }

  test("slot store: lifecycle + durable monotone confirmed_flush_lsn") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slot-spec").toString
    val store = new SlotStore(dir)
    store.setSlot("s1") // creates
    assert(store.exists("s1") && store.confirmedFlushLsn("s1") == 0L)
    assertThrows[IllegalArgumentException](store.addSlot("s1"))
    store.ack("s1", 500L)
    store.ack("s1", 450L) // stale ack: watermark must not regress
    assert(store.confirmedFlushLsn("s1") == 500L)
    // durability: a fresh store instance (new consumer process) reads both
    // the watermark AND the selected slot back — no re-bootstrap needed
    val reopened = new SlotStore(dir)
    assert(reopened.currentSlot.contains("s1"), "selected slot must survive restart")
    assert(reopened.confirmedFlushLsn("s1") == 500L)
    reopened.dropSlot("s1")
    assert(!reopened.exists("s1") && reopened.confirmedFlushLsn("s1") == 0L)
    // dropping the selected slot clears the durable selection; a dangling
    // pointer never resumes a deleted slot
    assert(reopened.currentSlot.isEmpty)
    assert(new SlotStore(dir).currentSlot.isEmpty)
  }

  test("resume strictly-after the stored offset, like StartReplication(lsn+1)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-slot-spec2").toString
    val store = new SlotStore(dir)
    store.setSlot("s")
    store.ack("s", 2L)
    val got = graft.cdc.Apply.resumeFrom(feed, store.confirmedFlushLsn("s"))
      .select("lsn").as[Long].collect().sorted.toSeq
    assert(got == Seq(3L, 4L))
  }
}
