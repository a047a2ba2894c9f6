package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{PgOutput, SlotStore, TxLogMaterialize}
import graft.sources.TxLog
import graft.streaming.{LoopbackPgServer, PgOutputStream, SocketCapture}

/** A generated write-ahead log: pgoutput data frames in LSN order, and the
  * final table state the benchmark expects, computed from the generator's
  * own input with no graft code (per key the highest LSN wins, DELETEs
  * drop the key). */
final class Wal(val lsns: Array[Long], val frames: Array[Array[Byte]],
    val keys: Array[Long], val expectedRows: Long, val expectedHash: Long) {
  def size: Int = lsns.length
  def bytes: Long = frames.iterator.map(_.length.toLong).sum
}

object Wal {
  /** LSN grid: the primary re-sends Relation frames at watermark+1, +2 on
    * every session, so data frames sit on a coarser grid. */
  val Grid = 100L

  /** The rendering both sides of the final-state check hash. */
  def render(table: String, pk: Long, lsn: Long, op: String, value: Double): String =
    s"$table|$pk|$lsn|$op|$value"

  /** `replicas` copies of the lake's `events`, each with its users moved
    * to a disjoint, seed-chosen key range (parity kept: even keys route to
    * `users`, odd to `accounts`), interleaved event by event in a
    * seed-rotated replica order, then rotated to start at a seed-chosen
    * event. Only the first `frames` frames are kept (and the expected
    * state is that of those frames alone). */
  def build(spark: SparkSession, lake: String, replicas: Int, seed: Long, frames: Int): Wal = {
    val ev = spark.read.parquet(s"$lake/events.parquet")
    val b = ev.agg(min("event_id"), max("event_id"), max("user_id")).head()
    val (lo, hi, maxUid) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val n = hi - lo + 1
    val stride = 2 * (maxUid / 2 + 1)
    val rnd = new scala.util.Random(seed)
    val shift = rnd.shuffle((0 until replicas + 3).toList).take(replicas)
    val offset = (rnd.nextDouble() * n).toLong
    val rot = pmod(xxhash64(lit(seed), col("event_id")), lit(replicas.toLong))
    val pos = pmod(col("event_id") - lit(lo) + lit(offset), lit(n))
    val rep = ev.crossJoin(spark.range(replicas).toDF("r"))
      .withColumn("user_id", col("user_id") +
        element_at(typedLit(shift.map(_ * stride)), (col("r") + 1).cast("int")))
      .withColumn("event_id", (pos * replicas +
        pmod(col("r") + rot, lit(replicas.toLong)) + 1) * Wal.Grid)
    val kept = rep.filter(col("event_id") <= frames.toLong * Wal.Grid).cache()
    try {
      val out = PgOutput.framesFromEvents(spark, kept)
        .filter(col("lsn") >= 0).orderBy("lsn").collect()
      val input = kept.select("event_id", "user_id", "event_type", "value").collect()
      // independent final state: highest LSN per key wins
      val last = scala.collection.mutable.HashMap.empty[Long, (Long, String, Double)]
      input.foreach { r =>
        val (lsn, uid) = (r.getLong(0), r.getLong(1))
        if (last.get(uid).forall(_._1 < lsn)) last(uid) = (lsn, r.getString(2), r.getDouble(3))
      }
      val live = last.iterator.collect { case (uid, (lsn, et, v)) if et != "error" =>
        render(if (uid % 2 == 0) "users" else "accounts", uid, lsn,
          if (et == "signup") "INSERT" else "UPDATE", v)
      }.toSeq
      new Wal(out.map(_.getLong(0)), out.map(_.getAs[Array[Byte]](1)),
        last.keys.toArray.sorted, live.size, Stats.multisetHash(live.iterator))
    } finally kept.unpersist()
  }
}

/** One live CDC pipeline over a generated WAL, every library knob at its
  * default: LoopbackPgServer (the primary) → SocketCapture (one
  * replication connection, frame lake) → PgOutputStream decode →
  * captureTo → TxLogMaterialize.applyBatch, a readable TxLog version per
  * micro-batch.
  *
  * `dueNs(i)`, when given, paces the primary: frame i is not handed to the
  * socket before it is due (an open loop: the schedule never waits for the
  * pipeline). Without it the primary serves as fast as the socket takes. */
final class Pipeline(spark: SparkSession, dir: String, wal: Wal,
    tracer: Tracer, root: Int, dueNs: Option[Int => Long]) {
  private val lake = s"$dir/lake"
  val table = s"$dir/table"
  private val slots = new SlotStore(s"$dir/slots")
  Files.createDirectories(Paths.get(lake))
  slots.setSlot(Pipeline.CaptureSlot)
  slots.setSlot(Pipeline.ApplySlot)

  val sentNs = new Array[Long](wal.size)
  /** (apply watermark, commit-return ns) per applied batch. */
  val commits = new ConcurrentLinkedQueue[(Long, Long)]()
  val applyMs = new ConcurrentLinkedQueue[Double]()
  @volatile private var pendingCommitNs = -1L
  @volatile private var batchNo = 0L
  @volatile var captureStats: Option[SocketCapture.CaptureStats] = None
  @volatile var failure: Option[Throwable] = None
  private var server: LoopbackPgServer = _

  private def changes(b: DataFrame): DataFrame =
    PgOutput.toCanonicalFeed(b).select(col("lsn"), col("table_name").as("tableName"),
      col("op"), col("pk"), col("ts_us").as("tsUs"), col("value"))

  private val query = PgOutputStream.captureTo(
      PgOutputStream.decodeStream(spark,
        PgOutputStream.resumeFrames(spark, lake, slots, Pipeline.ApplySlot)),
      s"$dir/checkpoint", slots, Pipeline.ApplySlot) { batch =>
    tracer.span("microbatch", "batch", root) { sid =>
      // the watermark the library acked after the previous batch names
      // the LSNs that batch's commit made readable: no extra work here
      if (pendingCommitNs >= 0)
        commits.add((slots.confirmedFlushLsn(Pipeline.ApplySlot), pendingCommitNs))
      val t0 = System.nanoTime()
      tracer.span("applyBatch", "apply", sid) { _ =>
        TxLogMaterialize.applyBatch(changes(batch.toDF()), table, batchNo)
      }
      pendingCommitNs = System.nanoTime()
      applyMs.add((pendingCommitNs - t0) / 1e6)
      batchNo += 1
    }
  }

  def batches: Long = batchNo
  def lastLsn: Long = wal.lsns.last

  private def feed(): Iterator[(Long, Array[Byte])] = Iterator.tabulate(wal.size) { i =>
    // re-read the due time while waiting: a schedule may start later
    dueNs.foreach { due =>
      var wait = due(i) - System.nanoTime()
      while (wait > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos(math.min(wait, 10_000_000L))
        wait = due(i) - System.nanoTime()
      }
    }
    sentNs(i) = System.nanoTime()
    (wal.lsns(i), wal.frames(i))
  }

  /** Start the primary and the capture thread; frames flow from here. */
  def startFeed(): Thread = {
    server = new LoopbackPgServer(PgOutput.relationFrames.map(_._2), () => feed(),
      lastLsn, dropAfterFrames = Int.MaxValue, keepaliveEvery = 256).start()
    val t = new Thread(() =>
      try tracer.span("SocketCapture.run", "capture", root) { _ =>
        captureStats = Some(new SocketCapture("127.0.0.1", server.port, "bench",
          "bench", Pipeline.CaptureSlot, "graftbench", slots, spark, lake).run())
      } catch { case t: Throwable => failure = Some(t) },
      "graftbench-capture")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Wait until `lsn` is readable; false on timeout or failure. */
  def awaitLsn(lsn: Long, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1_000_000_000L
    while (slots.confirmedFlushLsn(Pipeline.ApplySlot) < lsn &&
        failure.isEmpty && query.exception.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(2)
    slots.confirmedFlushLsn(Pipeline.ApplySlot) >= lsn
  }

  /** Wait until the first `n` frames were sent and all that the capture
    * has flushed is readable; frames still in its buffer ride in its next
    * flush. Also done once the capture has flushed nothing for
    * `QuietNs` after the n-th frame was sent (its buffer holds more than
    * n frames). False on timeout or failure. */
  def awaitFlushedReadable(n: Int, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1_000_000_000L
    val none = slots.confirmedFlushLsn(Pipeline.CaptureSlot)
    def done = sentNs(n - 1) > 0 && {
      val flushed = slots.confirmedFlushLsn(Pipeline.CaptureSlot)
      if (flushed == none) System.nanoTime() - sentNs(n - 1) > Pipeline.QuietNs
      else slots.confirmedFlushLsn(Pipeline.ApplySlot) >= flushed
    }
    while (!done && failure.isEmpty && query.exception.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(2)
    failure.isEmpty && query.exception.isEmpty && done
  }

  /** Wait until the commit holding the last LSN has returned; that
    * commit's return time, or None on timeout / failure. */
  def awaitLast(capture: Thread, timeoutS: Int): Option[Long] = {
    awaitLsn(lastLsn, timeoutS)
    query.exception.foreach(e => failure = Some(e))
    val wm = slots.confirmedFlushLsn(Pipeline.ApplySlot)
    if (wm < lastLsn) return None
    commits.add((wm, pendingCommitNs))
    capture.join(60000)
    server.awaitFinished(60000)
    Some(pendingCommitNs)
  }

  /** Per-frame visibility time, by watermark attribution. */
  def visibleNs: Array[Long] = Stats.visibleAt(wal.lsns, commits.asScala.toSeq)

  /** Live rows and their hash, from graft's own snapshot read. */
  def finalState(): (Long, Long) = {
    val rows = TxLogMaterialize.snapshot(spark, table)
      .select("table_name", "pk", "lsn", "op", "value").collect()
    (rows.length.toLong, Stats.multisetHash(rows.iterator.map(r =>
      Wal.render(r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))))
  }

  /** Capture lag samples: write − flush position, in frames, from every
    * standby status the primary received. */
  def lagFrames: Seq[Double] =
    if (server == null) Nil
    else server.sessions.toSeq.flatMap(_.statuses.toSeq)
      .map(s => math.max(0L, s.write - s.flush).toDouble / Wal.Grid)

  def stop(): Unit = {
    query.stop()
    if (server != null) server.close()
  }
}

object Pipeline {
  val CaptureSlot = "capture"
  val ApplySlot = "apply"
  val QuietNs = 5_000_000_000L
}

/** Facts about a TxLog table read from its log after a run. */
final case class LogFacts(versions: Long, checkpoints: Long, logBytes: Long,
    addedDirs: Long, buckets: Long, rowsWritten: Long, bytesWritten: Long,
    liveFiles: Long)

object LogFacts {
  private val AddRows = """"add":"[^"]*__bucket=(\d+)","rows":(\d+)""".r

  def of(spark: SparkSession, table: String): LogFacts = {
    val log = Paths.get(table, "_log")
    val names = Files.list(log).iterator.asScala.toSeq
    val commits = names.filter(_.getFileName.toString.matches("""\d{10}\.json"""))
    val text = commits.map(p => new String(Files.readAllBytes(p), "UTF-8"))
    val adds = text.flatMap(t => AddRows.findAllMatchIn(t).map(m =>
      (m.group(1).toLong, m.group(2).toLong)))
    val dataBytes = Files.walk(Paths.get(table)).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
    LogFacts(
      versions = commits.size.toLong,
      checkpoints = names.count(_.getFileName.toString.startsWith("_ckpt.")).toLong,
      logBytes = names.map(Files.size).sum,
      addedDirs = adds.size.toLong,
      // the bucket count is whatever the sink used: every bucket a key
      // hashed to shows up in some add
      buckets = adds.map(_._1).distinct.size.toLong,
      rowsWritten = adds.map(_._2).sum,
      bytesWritten = dataBytes,
      liveFiles = TxLog.planState(spark, table).liveAdds.size.toLong)
  }
}
