package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cdc.TxLogMaterialize
import graft.sources.TxLog

/** What one measured region produced. `e2e` carries the end-to-end
  * metrics; `layer` the per-layer ones measured by the workload itself
  * (engine and span figures are added by [[Main]]); `primaryMs` is the
  * region's headline time, compared across an untraced and a traced
  * region to report the tracing overhead. */
final case class Region(attempted: Long, failed: Long, e2e: Map[String, Double],
    layer: Map[String, Double], primaryMs: Double, problems: Seq[String])

final case class Ctx(spark: SparkSession, lake: String, work: String, traces: String,
    seed: Long, jvmStartNs: Long)

trait Workload {
  /** One-off set-up: inputs, warm-up, correctness of the warm-up pass. */
  def setup(): Unit
  /** One measured region of about `seconds`. */
  def region(tracer: Tracer, root: Int, seconds: Int): Region
  /** Set-up time from JVM start to the first timed operation. */
  def setupS: Double
}

object Workload {
  /** Median and the tail the sample supports (see [[Stats.tailPercentile]]). */
  def percentiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.toArray.sorted
    (Stats.percentile(s, 50), Stats.percentile(s, Stats.tailPercentile(s.length).getOrElse(50.0)))
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      graft.operators.Checkpointing.deleteRecursively(dir)
  }

  private val t0 = System.nanoTime()
  /** Progress on stderr: stdout carries only the result. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench +${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  /** Heap in use after full GCs, with a pause between them for Spark's
    * ContextCleaner to drop the broadcasts, shuffles and blocks the first
    * one released (it does so asynchronously). */
  def heapAfterGcMb(spark: SparkSession): Double = {
    // a trivial query first, so no state of the workload's last one is
    // still held as "the latest" anywhere
    spark.range(1).count()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(500) }
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

/** The unpaced phase: catch-up replay of REPLICAS seeded copies of
  * `events`, served as fast as the socket accepts through a fresh pipeline
  * (new lake, table, checkpoint and slots), timed from the first frame sent
  * to the return of the commit holding the last LSN. */
final class Burst(ctx: Ctx) {
  import Burst._
  private var wal: Wal = _
  private var onceNs = 0L
  private var startNs = Seq.empty[Long]
  private var reps = 0

  def setup(): Unit = {
    wal = Wal.build(ctx.spark, ctx.lake, Replicas, ctx.seed, Frames)
    // the same burst, untimed, WarmBursts times: after a single one the
    // JIT and the plan caches were still warming, and the next burst ran
    // 10-20% slower than the ones after it
    val quiet = new Tracer(false, ctx.spark.sparkContext)
    (1 to WarmBursts).foreach { i =>
      val warm = run(quiet, -1, s"warm-up burst $i") { p =>
        // and the reader's plans, on the table just built
        val r = new Reader(ctx, p.table, wal.keys, quiet, -1)
        (1 to 2).foreach(_ => r.readOnce())
        r.problems.asScala.toSeq
      }
      require(warm.failed == 0, s"warm-up burst failed: ${warm.problems.mkString("; ")}")
    }
    onceNs = System.nanoTime() - ctx.jvmStartNs
  }

  /** JVM start → warm, plus the first timed pipeline's start. */
  def setupS: Double = (onceNs + startNs.headOption.getOrElse(0L)) / 1e9

  def region(tracer: Tracer, root: Int): Region = run(tracer, root, "burst")(_ => Nil)

  /** One burst through a fresh pipeline; `more` checks the finished
    * table further before the pipeline is torn down. */
  private def run(tracer: Tracer, root: Int, label: String)(more: Pipeline => Seq[String]): Region = {
    reps += 1
    val dir = s"${ctx.work}/burst-$reps"
    val t0 = System.nanoTime()
    val p = tracer.span("Pipeline.start", "setup", root)(_ =>
      new Pipeline(ctx.spark, dir, wal, tracer, root, None))
    if (reps > WarmBursts) startNs :+= System.nanoTime() - t0
    val problems = ArrayBuffer.empty[String]
    try {
      val end = p.awaitLast(p.startFeed(), TimeoutS)
      p.failure.foreach(e => problems += s"pipeline failed: $e")
      val attempted = wal.size + p.batches + 1
      end match {
        case None =>
          problems += "the last LSN never became readable"
          Region(attempted, wal.size + problems.size, Map.empty, Map.empty, 0.0, problems.toSeq)
        case Some(endNs) =>
          val (rows, hash) = tracer.span("finalState", "check", root)(_ => p.finalState())
          if (rows != wal.expectedRows || hash != wal.expectedHash)
            problems += s"final state mismatch: $rows rows / hash $hash, expected " +
              s"${wal.expectedRows} / ${wal.expectedHash}"
          problems ++= more(p)
          val facts = tracer.span("LogFacts", "check", root)(_ => LogFacts.of(ctx.spark, p.table))
          val seconds = (endNs - p.sentNs(0)) / 1e9
          Workload.log(f"$label: $seconds%.2f s, ${wal.size / seconds}%.0f events/s")
          Region(attempted, problems.size.toLong,
            Map("throughput_per_s" -> wal.size / seconds),
            Layers.cdc(p, wal, facts, Nil), seconds * 1000, problems.toSeq)
      }
    } finally {
      p.stop()
      Workload.deleteTree(dir)
    }
  }
}

object Burst {
  /** Seeded copies of sf0.1 `events` (×1,500 keys each), of whose
    * interleaving a burst replays the first FRAMES: about 13 s at the
    * commit that defined this benchmark. */
  val Replicas = 2
  val Frames = 16000
  /** Untimed bursts first: on 4 cores the third and later bursts in one
    * JVM agree (9.7, 9.8 and 10.0 s on one seed, 9.9, 9.9 and 9.9 s on
    * another), against 12.1 and 12.3 s for the second. */
  val WarmBursts = 2
  val TimeoutS = 120
}

/** The open-loop phase: the unreplicated 1,500 hot keys at a fixed rate.
  * A fresh pipeline first takes a warm-up prefix at once (its new
  * streaming query compiles on it); once all the capture flushed of that
  * prefix is readable, SECONDS of frames follow on schedule, with one
  * reader thread doing VERSION AS OF lookups and counts beside the sink's
  * commits. */
final class Paced(ctx: Ctx) {
  import Paced._
  private var regions = 0

  def region(tracer: Tracer, root: Int, seconds: Int): Region = {
    val n = WarmFrames + (RatePerS * seconds).toInt
    val wal = tracer.span("Wal.build", "setup", root)(_ =>
      Wal.build(ctx.spark, ctx.lake, 1, ctx.seed, n))
    regions += 1
    val dir = s"${ctx.work}/paced-$regions"
    // the schedule starts once the warm-up prefix is readable
    @volatile var start = Long.MaxValue / 4
    def due(i: Int): Long =
      if (i < WarmFrames) 0L else Stats.dueNs(start, (i - WarmFrames).toLong, RatePerS)
    val p = tracer.span("Pipeline.start", "setup", root)(_ =>
      new Pipeline(ctx.spark, dir, wal, tracer, root, Some(i => due(i))))
    val problems = ArrayBuffer.empty[String]
    val reader = new Reader(ctx, p.table, wal.keys, tracer, root)
    try {
      val capture = p.startFeed()
      if (!p.awaitFlushedReadable(WarmFrames, Burst.TimeoutS))
        throw new IllegalStateException(s"paced warm-up prefix never became readable: ${p.failure}")
      start = System.nanoTime() + 100_000_000L
      val windowStart = due(WarmFrames)
      val windowEnd = due(n - 1)
      java.util.concurrent.locks.LockSupport.parkNanos(windowStart - System.nanoTime())
      Workload.log("paced window starts")
      reader.start()
      java.util.concurrent.locks.LockSupport.parkNanos(windowEnd - System.nanoTime())
      reader.stop()
      val end = p.awaitLast(capture, Burst.TimeoutS)
      Workload.log(s"paced drained: ${p.batches} batches, ${reader.attempted} reads")
      p.failure.foreach(e => problems += s"pipeline failed: $e")
      problems ++= reader.problems.asScala
      if (end.isEmpty) problems += "the last LSN never became readable"
      val vis = p.visibleNs
      val timed = (WarmFrames until n)
      // frames sent but not yet readable at an instant
      def backlogAt(t: Long) =
        timed.count(i => p.sentNs(i) > 0 && p.sentNs(i) <= t && (vis(i) < 0 || vis(i) > t))
      val backlog = backlogAt(windowEnd)
      val growth = backlog - backlogAt(windowStart + (windowEnd - windowStart) / 2)
      val rows = Layers.batchRows(wal.lsns, p.commits.asScala.toSeq).filter(_ > 0)
      val batchWorth = if (rows.isEmpty) 0 else Stats.median(rows.map(_.toDouble)).toInt
      if (end.nonEmpty) {
        val (rows, hash) = tracer.span("finalState", "check", root)(_ => p.finalState())
        if (rows != wal.expectedRows || hash != wal.expectedHash)
          problems += s"final state mismatch: $rows rows / hash $hash, expected " +
            s"${wal.expectedRows} / ${wal.expectedHash}"
      }
      // at a sustainable rate the backlog at any instant is the capture
      // buffer plus at most two batches in flight, so the end of the
      // window is compared with its middle: growth beyond one batch (plus
      // the buffer, which holds less than the one flush a batch takes at
      // least) means the pipeline fell behind the offered rate
      if (growth > 2 * batchWorth)
        problems += s"rate unsustainable: the backlog grew by $growth events over " +
          s"the second half of the window to $backlog (one batch's worth: $batchWorth)"
      val lat = timed.filter(vis(_) >= 0).map(i => (vis(i) - due(i)) / 1e6)
      val (p50, tail) = if (lat.isEmpty) (0.0, 0.0) else Workload.percentiles(lat)
      val late = Stats.lateness(p.sentNs.slice(WarmFrames, n), i => due(WarmFrames + i))
        .map(_ / 1e6).sorted
      val (r50, r95) = if (reader.lookupMs.isEmpty) (0.0, 0.0)
        else Workload.percentiles(reader.lookupMs.asScala.toSeq)
      val facts = if (end.isEmpty) None
        else Some(tracer.span("LogFacts", "check", root)(_ => LogFacts.of(ctx.spark, p.table)))
      Region(
        attempted = wal.size + p.batches + reader.attempted + 1,
        failed = timed.count(vis(_) < 0) + reader.failed + problems.size,
        e2e = Map("latency_p50_ms" -> p50, "latency_tail_ms" -> tail),
        layer = facts.fold(Map.empty[String, Double])(f =>
          Layers.cdc(p, wal, f, reader.planMs.asScala.toSeq)) ++ Map(
          "gen.late_p99_ms" -> Stats.percentile(late, 99),
          "paced.backlog_end_events" -> backlog.toDouble,
          "read.p50_ms" -> r50, "read.p95_ms" -> r95,
          "read.files_per_lookup" -> reader.filesPerLookup),
        primaryMs = p50, problems = problems.toSeq)
    } finally {
      reader.stop()
      p.stop()
      Workload.deleteTree(dir)
    }
  }
}

object Paced {
  /** Offered load, frames per second. At 80/s a 256-frame capture flush
    * lands every 3.2 s, and at the commit that defined this benchmark a
    * micro-batch of one flush takes about 2.4 s: each batch ends before
    * the next flush, far below the sustainable rate (a run whose backlog
    * grows is refused, not reported). */
  val RatePerS = 80.0
  /** The warm-up prefix, sent at once: at the default flush size two
    * flushes, whose micro-batches compile the new query's plans. */
  val WarmFrames = 600
}

/** The live CDC path, one JVM, two phases on the same warm engine: an
  * unpaced burst (throughput) and then an open-loop paced phase
  * (commit-to-visible latency, reads beside commits). */
final class CdcLive(ctx: Ctx) extends Workload {
  private val burst = new Burst(ctx)
  private val paced = new Paced(ctx)

  def setup(): Unit = burst.setup()
  def setupS: Double = burst.setupS

  def region(tracer: Tracer, root: Int, seconds: Int): Region = {
    val b = burst.region(tracer, root)
    val p = paced.region(tracer, root, seconds)
    Region(b.attempted + p.attempted, b.failed + p.failed, b.e2e ++ p.e2e,
      Layers.merge(b.layer, p.layer), b.primaryMs + p.primaryMs, b.problems ++ p.problems)
  }
}

/** The reader: VERSION AS OF point lookups and counts of the
  * materialised table, each at the head version it just planned. */
final class Reader(ctx: Ctx, table: String, keys: Array[Long], tracer: Tracer, root: Int) {
  val lookupMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val planMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var attempted = 0L
  @volatile var failed = 0L
  private var files = 0L
  @volatile private var running = true
  private val rnd = new scala.util.Random(ctx.seed ^ 0x5EADL)

  def filesPerLookup: Double = if (lookupMs.isEmpty) 0.0 else files.toDouble / lookupMs.size

  private var lastVersion = -1L
  private var lastMaxLsn = Long.MinValue

  /** One planState, one point lookup and one count at the planned head. */
  def readOnce(): Unit = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val head = tracer.span("TxLog.planState", "reader", root)(_ =>
        TxLog.planState(ctx.spark, table).head)
      planMs.add((System.nanoTime() - t0) / 1e6)
      head match {
        case None => Thread.sleep(10)
        case Some(v) =>
          if (v < lastVersion) problems.add(s"reader saw version $v after $lastVersion")
          lastVersion = v
          val key = keys(rnd.nextInt(keys.length))
          val t1 = System.nanoTime()
          val df = tracer.span("lookup", "reader", root) { _ =>
            val d = TxLogMaterialize.snapshot(ctx.spark, table, Some(v))
              .filter(col("pk") === key)
            d.collect()
            d
          }
          lookupMs.add((System.nanoTime() - t1) / 1e6)
          if (tracer.enabled) files += Layers.filesRead(df)
          val r = tracer.span("count", "reader", root)(_ =>
            TxLogMaterialize.snapshot(ctx.spark, table, Some(v))
              .agg(count(lit(1)), max("lsn")).head())
          if (!r.isNullAt(1)) {
            val m = r.getLong(1)
            if (m < lastMaxLsn) problems.add(s"reader saw max LSN $m after $lastMaxLsn")
            lastMaxLsn = m
          }
      }
    } catch {
      case t: Throwable =>
        failed += 1
        problems.add(s"read failed: $t")
    }
  }

  /** One read cycle per period (the next starts at once if a cycle runs
    * late): a steady read load beside the sink's commits, not a flood that
    * would decide how long each commit takes. */
  private val thread = new Thread(() => {
    var next = System.nanoTime()
    while (running) {
      readOnce()
      next += Reader.PeriodNs
      val wait = next - System.nanoTime()
      if (wait > 0) java.util.concurrent.locks.LockSupport.parkNanos(wait)
      else next = System.nanoTime()
    }
  }, "graftbench-reader")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { running = false; if (thread.isAlive) thread.join(60000) }
}

object Reader {
  val PeriodNs = 100_000_000L
}

/** Closed loop, one client, one warm session: the analytics keys, each
  * `.count()`ed, in a seeded shuffled order per pass. */
final class Analytics(ctx: Ctx, keys: Seq[String], expected: Map[String, (Long, Long)])
    extends Workload {
  private var setupNs = 0L
  private val rnd = new scala.util.Random(ctx.seed)

  def setupS: Double = setupNs / 1e9

  def setup(): Unit = {
    // pass 1 (warm-up: memo builds and codegen) also checks every key's
    // full result against the recorded expectation
    val problems = rnd.shuffle(keys).flatMap { k =>
      val (rows, hash) = Analytics.result(ctx.spark, ctx.lake, k)
      val n = SparkEntry.queries(k)(ctx.spark, ctx.lake).count()
      expected.get(k) match {
        case Some((er, eh)) if er == rows && eh == hash && n == rows => None
        case e => Some(s"$k: got $rows rows / hash $hash / count $n, expected $e")
      }
    }
    if (problems.nonEmpty) throw new Analytics.Mismatch(problems)
    setupNs = System.nanoTime() - ctx.jvmStartNs
  }

  def region(tracer: Tracer, root: Int, seconds: Int): Region = {
    val start = System.nanoTime()
    val lat = ArrayBuffer.empty[(String, Double)]
    val passS = ArrayBuffer.empty[Double]
    // the seed names the keys and orders the passes of a balanced design
    val named = rnd.shuffle(keys).toIndexedSeq
    val orders = rnd.shuffle(Stats.balancedOrders(keys.size)).map(_.map(named))
    val problems = ArrayBuffer.empty[String]
    var failed = 0L
    // whole designs (the same queries, so the same retained state) until
    // SECONDS have passed: one design takes longer than that today
    while (passS.isEmpty || passS.size % orders.size != 0 ||
        System.nanoTime() - start < seconds * 1e9) {
      val p0 = System.nanoTime()
      orders(passS.size % orders.size).foreach { k =>
        val t0 = System.nanoTime()
        try {
          val n = tracer.span(k, "query", root)(_ =>
            SparkEntry.queries(k)(ctx.spark, ctx.lake).count())
          if (n != expected(k)._1) {
            failed += 1
            problems += s"$k: $n rows, expected ${expected(k)._1}"
          }
        } catch {
          case t: Throwable => failed += 1; problems += s"$k failed: $t"
        }
        lat += k -> (System.nanoTime() - t0) / 1e6
      }
      passS += (System.nanoTime() - p0) / 1e9
    }
    // every key counts alike, and the tail is the percentile one design
    // supports, however many designs ran
    val (typical, scaled) = Stats.keyScaled(lat.toSeq)
    val tailP = Stats.tailPercentile(orders.size * keys.size).getOrElse(50.0)
    Region(lat.size.toLong, failed,
      // the median pass: one slow pass (a GC, a late compile) moves it little
      Map("throughput_per_s" -> keys.size / Stats.median(passS.toSeq),
        "latency_p50_ms" -> typical, "latency_tail_ms" -> Stats.percentile(scaled, tailP)),
      Map("analytics.pass_s" -> Stats.median(passS.toSeq)),
      Stats.median(passS.toSeq) * 1000, problems.toSeq)
  }
}

object Analytics {
  /** Five gated keys from the relational, text and dedup families, a few
    * hundred ms each warm at sf0.1 on 4 cores: from an as-of join and a
    * scan-and-aggregate that are mostly planning and scheduling overhead
    * to a three-table join and the exact span dedup that are mostly
    * execution. An odd count, for a Williams design of ten passes (fifty
    * queries, ten of each key). The set is small because its cold pass is
    * set-up time paid by every run. */
  val Keys: Seq[String] = Seq("q_asof_join", "q1_agg", "text_bpe_pairs", "q3_join_agg",
    "dedup_span_exact")

  /** `key<TAB>rows<TAB>hash` lines, as `--record` writes them. */
  def loadExpected(file: String): Map[String, (Long, Long)] =
    scala.io.Source.fromFile(file, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(k, r, h) = l.split("\t")
      k -> (r.toLong, h.toLong)
    }.toMap


  final class Mismatch(val problems: Seq[String])
      extends RuntimeException(problems.mkString("; "))

  /** Row count and order-insensitive hash of one key's full result,
    * columns taken in name order. */
  def result(spark: SparkSession, lake: String, key: String): (Long, Long) = {
    val df = SparkEntry.queries(key)(spark, lake)
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect()
    (rows.length.toLong,
      Stats.multisetHash(rows.iterator.map(r => order.map(i => render(r.get(i))).mkString("|"))))
  }

  def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }
}
