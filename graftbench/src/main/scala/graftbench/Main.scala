package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Metric names and units, as BENCHMARK.json declares them. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_tail_ms" -> "ms", "live_heap_mb" -> "MB")

  val perLayer: Seq[(String, String)] = Seq(
    "capture.frames" -> "count", "capture.bytes" -> "bytes", "capture.flushes" -> "count",
    "capture.flush_ms" -> "ms", "capture.lag_p99_frames" -> "frames",
    "capture.reconnects" -> "count",
    "decode.batches" -> "count", "decode.rows_per_batch_p50" -> "rows",
    "decode.trigger_p50_ms" -> "ms", "decode.latest_offset_ms" -> "ms",
    "decode.planning_ms" -> "ms", "decode.wal_commit_ms" -> "ms",
    "decode.state_commit_ms" -> "ms", "decode.state_rows" -> "rows",
    "decode.task_skew" -> "ratio",
    "apply.calls" -> "count", "apply.p50_ms" -> "ms", "apply.ms_sum" -> "ms",
    "apply.buckets_touched_frac" -> "ratio", "apply.rows_written_per_change" -> "ratio",
    "apply.bytes_written" -> "bytes",
    "txlog.versions" -> "count", "txlog.checkpoints" -> "count",
    "txlog.log_bytes" -> "bytes", "txlog.live_files" -> "count",
    "txlog.plan_state_ms" -> "ms", "read.files_per_lookup" -> "files",
    "read.p50_ms" -> "ms", "read.p95_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms", "codegen.compiles" -> "count",
    "codegen.compile_ms" -> "ms", "sched.jobs" -> "count", "sched.stages" -> "count",
    "sched.tasks" -> "count", "driver.gap_ms" -> "ms", "exec.run_ms" -> "ms",
    "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes", "shuffle.fetch_wait_ms" -> "ms",
    "spill.bytes" -> "bytes",
    "gen.frames_sent" -> "count", "gen.late_p99_ms" -> "ms",
    "paced.backlog_end_events" -> "count", "analytics.pass_s" -> "s",
    "self.workload_ms" -> "ms", "self.capture_ms" -> "ms", "self.batch_ms" -> "ms",
    "self.apply_ms" -> "ms", "self.reader_ms" -> "ms", "self.query_ms" -> "ms",
    "self.setup_ms" -> "ms", "self.check_ms" -> "ms",
    "trace.spans" -> "count", "trace.covered_frac" -> "ratio",
    "trace.uncovered_ms" -> "ms", "trace.overhead_ms" -> "ms")

  def json(correct: Boolean, attempted: Long, failed: Long,
      values: Seq[(String, String, Double)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    values.map { case (k, u, v) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
  }
}

/** Entry point: `--workload W --seed N --seconds S --trace 0|1 --lake DIR
  * --work DIR`, or `--record FILE --lake DIR` to write the analytics
  * expectations. Prints one JSON line last; exits non-zero on any failed
  * operation or correctness mismatch. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartNs = System.nanoTime() - 1000000L * (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors)
    val code =
      try opts.get("record") match {
        case Some(file) => record(spark, opts("lake"), file); 0
        case None => run(spark, opts, jvmStartNs)
      } finally spark.stop()
    System.exit(code)
  }

  private def record(spark: SparkSession, lake: String, file: String): Unit = {
    val lines = Analytics.Keys.map { k =>
      val (rows, hash) = Analytics.result(spark, lake, k)
      s"$k\t$rows\t$hash"
    }
    Files.write(Paths.get(file), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def run(spark: SparkSession, opts: Map[String, String], jvmStartNs: Long): Int = {
    val name = opts("workload")
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val ctx = Ctx(spark, opts("lake"), opts("work"), opts("traces"), opts("seed").toLong,
      jvmStartNs)
    val wl: Workload = name match {
      case "cdc_live" => new CdcLive(ctx)
      case "analytics_mix" => new Analytics(ctx, Analytics.Keys,
        Analytics.loadExpected(opts("expected")))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 1L
    var failed = 0L
    var values = Map.empty[String, Double]
    try {
      wl.setup()
      val untraced = () => wl.region(new Tracer(false, spark.sparkContext), -1, seconds)
      if (traced) {
        // the untraced region runs after the traced one, which the warm-up
        // already found warm: their difference is the tracing overhead
        val (b, layers, spans) = tracedRegion(spark, wl, name, seconds)
        val a = untraced()
        attempted = b.attempted + a.attempted; failed = b.failed + a.failed
        problems ++= b.problems ++ a.problems
        values = layers + ("trace.overhead_ms" -> (b.primaryMs - a.primaryMs))
        writeTrace(ctx, name, spans, values)
      } else {
        val a = untraced()
        attempted = a.attempted; failed = a.failed; problems ++= a.problems
        values = a.e2e ++ Map("setup_s" -> wl.setupS, "live_heap_mb" -> Workload.heapAfterGcMb(spark))
      }
    } catch {
      case m: Analytics.Mismatch => problems ++= m.problems; failed += m.problems.size
      case t: Throwable => problems += s"run failed: $t"; failed += 1
        t.printStackTrace()
    }
    val out = (if (traced) Metrics.perLayer else Metrics.endToEnd).map { case (k, u) =>
      (k, u, values.getOrElse(k, 0.0)) }
    problems.take(20).foreach(p => System.err.println(s"[graftbench] $p"))
    val correct = problems.isEmpty && failed == 0
    println(Metrics.json(correct, attempted, failed, out))
    if (correct) 0 else 1
  }

  /** A region with spans and engine listeners on; per-layer figures come
    * from it, end-to-end ones never do. Also returns the spans, one JSON
    * object each with its engine counters. */
  private def tracedRegion(spark: SparkSession, wl: Workload, name: String,
      seconds: Int): (Region, Map[String, Double], Seq[String]) = {
    val tracer = new Tracer(true, spark.sparkContext)
    val l = new EngineListener(tracer)
    l.register(spark)
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val compiles0 = h.getCount
    val nsBase = System.nanoTime()
    val msBase = System.currentTimeMillis()
    val region = tracer.span(name, "workload", 0)(root => wl.region(tracer, root, seconds))
    val compiles = h.getCount - compiles0
    Tracer.drain(spark, l)
    l.attributePhases()
    l.unregister(spark)

    val spans = tracer.spans.asScala.toSeq
    val root = spans.find(_.layer == "workload").get
    val sum = Tracer.summarize(spans, root)
    val byId = tracer.byId
    def msOf(ns: Long) = (ns - nsBase) / 1e6 + msBase
    def topOf(id: Int): Int =
      byId.get(id).filter(_.parent != root.id).fold(id)(s => topOf(s.parent))
    val jobs = l.jobs.asScala.toSeq
    val jobsByTop = jobs.filter(_._1 > 0).groupBy(j => topOf(j._1))
    // driver time on the engine's critical path not covered by a job
    val gapMs = spans.filter(s => s.parent == root.id && Set("query", "batch")(s.layer))
      .map { s =>
        val (a, b) = (msOf(s.startNs), msOf(s.endNs))
        val cover = Stats.unionLength(jobsByTop.getOrElse(s.id, Nil).map { case (_, js, je) =>
          (math.max(js.toDouble, a).toLong, math.min(je.toDouble, b).toLong) })
        (b - a) - cover
      }.sum
    val captureIds = spans.filter(_.layer == "capture").map(_.id).toSet
    val flushMs = jobs.filter(j => captureIds(j._1)).map(j => (j._3 - j._2).toDouble).sum
    val prog = l.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def pmed(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      if (prog.isEmpty) 0.0 else Stats.median(prog.map(f))
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val skews = l.statefulSkews.asScala.toSeq

    val layers = region.layer ++ Map(
      "capture.flush_ms" -> flushMs,
      "decode.batches" -> prog.size.toDouble,
      "decode.rows_per_batch_p50" -> pmed(_.numInputRows.toDouble),
      "decode.trigger_p50_ms" -> pmed(dur(_, "triggerExecution")),
      "decode.latest_offset_ms" -> pmed(dur(_, "latestOffset")),
      "decode.planning_ms" -> pmed(dur(_, "queryPlanning")),
      "decode.wal_commit_ms" -> pmed(dur(_, "walCommit")),
      "decode.state_commit_ms" -> pmed(_.stateOperators.map(_.commitTimeMs.toDouble).sum),
      "decode.state_rows" -> prog.lastOption.fold(0.0)(_.stateOperators.map(_.numRowsTotal.toDouble).sum),
      "decode.task_skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_ms" -> compiles * h.getSnapshot.getMean,
      "driver.gap_ms" -> gapMs,
      "trace.spans" -> spans.size.toDouble,
      "trace.covered_frac" -> sum.coveredNs.toDouble / sum.rootNs,
      "trace.uncovered_ms" -> (sum.rootNs - sum.coveredNs) / 1e6) ++
      Seq("plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms", "sched.jobs",
        "sched.stages", "sched.tasks", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms", "spill.bytes")
        .map(k => k -> l.total(k)) ++
      Seq("workload", "capture", "batch", "apply", "reader", "query", "setup", "check")
        .map(k => s"self.${k}_ms" -> sum.selfByLayer.getOrElse(k, 0L) / 1e6)
    (region, layers, spanJson(spans, l))
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def obj(m: Map[String, Double]) =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""${esc(k)}": $v""" }.mkString("{", ", ", "}")

  private def spanJson(spans: Seq[Span], l: EngineListener): Seq[String] =
    spans.sortBy(_.startNs).map { s =>
      val engine = Option(l.counters.get(s.id)).map(_.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
        .getOrElse(Map.empty)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${esc(s.name)}", "layer": "${s.layer}", """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counters": ${obj(s.snapshot ++ engine)}}"""
    }

  /** Spans and the per-layer figures, written once at the end of the run. */
  private def writeTrace(ctx: Ctx, name: String, lines: Seq[String],
      layers: Map[String, Double]): Unit = {
    val dir = Paths.get(ctx.traces)
    Files.createDirectories(dir)
    val text = s"""{"workload": "$name", "seed": ${ctx.seed}, "layers": ${obj(layers)},\n""" +
      s""""spans": [\n${lines.mkString(",\n")}\n]}\n"""
    Files.write(dir.resolve(s"$name-seed${ctx.seed}.json"), text.getBytes(StandardCharsets.UTF_8))
  }
}
