package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call from the benchmark into one layer. */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  private val counters = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit =
    counters.synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  def snapshot: Map[String, Double] = counters.synchronized(counters.toMap)
}

/** Spans recorded around the benchmark's own calls into graft, kept in
  * memory until the run ends. The open span's id rides the calling
  * thread's Spark job-local property, so the engine listener below can
  * charge jobs, stages and tasks to the span that caused them. A disabled
  * tracer records nothing and touches no property. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def span[T](name: String, layer: String, parent: Int)(body: Int => T): T = {
    if (!enabled) return body(-1)
    val s = new Span(ids.incrementAndGet(), parent, name, layer, System.nanoTime())
    spans.add(s)
    val prev = sc.getLocalProperty(Tracer.Prop)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try body(s.id)
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Tracer.Prop, prev)
      // Janino compiles are a process-wide histogram: the delta over the
      // span is exact for the count; the time is count × the histogram's
      // mean, an estimate (the histogram keeps no running sum)
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      val d = h.getCount - compiles0
      if (d > 0) {
        s.add("codegen.compiles", d.toDouble)
        s.add("codegen.compile_ms", d * h.getSnapshot.getMean)
      }
    }
  }

  def byId: Map[Int, Span] = spans.asScala.map(s => s.id -> s).toMap
}

object Tracer {
  val Prop = "graftbench.span"
  private val MarkerProp = "graftbench.marker"

  /** Self time per layer, coverage of `root` by its children, over
    * closed spans. */
  final case class Summary(selfByLayer: Map[String, Long], coveredNs: Long, rootNs: Long)

  def summarize(spans: Seq[Span], root: Span): Summary = {
    val closed = spans.filter(_.endNs >= 0)
    val kids = closed.groupBy(_.parent)
    val self = closed.map { s =>
      s.layer -> Stats.selfTime(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val rootKids = kids.getOrElse(root.id, Nil).map(c =>
      (math.max(c.startNs, root.startNs), math.min(c.endNs, root.endNs)))
    Summary(self, Stats.unionLength(rootKids), root.endNs - root.startNs)
  }

  /** Block until the listener bus has delivered every event posted before
    * this call: a marker job's end reaches the listener after them. */
  def drain(spark: SparkSession, l: EngineListener): Unit = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val prev = sc.getLocalProperty(MarkerProp)
    sc.setLocalProperty(MarkerProp, tag)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkerProp, prev)
    val deadline = System.nanoTime() + 30_000_000_000L
    while (!l.markers.contains(tag) && System.nanoTime() < deadline) Thread.sleep(5)
    require(l.markers.contains(tag), "listener bus did not drain in 30 s")
  }
}

/** Engine counters, charged to spans by the job-local span property:
  * scheduler counts, task time, shuffle and spill (SparkListener), the
  * planning phases of each query (QueryExecutionListener, joined to its
  * jobs by execution id) and streaming progress (StreamingQueryListener).
  * Registered only for a traced region. */
final class EngineListener(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageTasks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStartMs = new ConcurrentHashMap[Int, Long]()
  /** (span, start ms, end ms) of every finished job. */
  val jobs = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  /** max ÷ mean task run time of each stage that held streaming state. */
  val statefulSkews = new ConcurrentLinkedQueue[Double]()
  /** (execution id, analysis, optimization, planning ms) per query. */
  val phases = new ConcurrentLinkedQueue[(Long, Double, Double, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val markers: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  private val markerJobs = new ConcurrentHashMap[Int, String]()
  /** Counters per span id (-1: work no traced span caused). */
  val counters = new ConcurrentHashMap[Int, ConcurrentHashMap[String, Double]]()

  private def add(span: Int, k: String, v: Double): Unit =
    counters.computeIfAbsent(span, _ => new ConcurrentHashMap[String, Double]())
      .merge(k, v, (a: Double, b: Double) => a + b)

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    Option(e.properties).flatMap(p => Option(p.getProperty("graftbench.marker")))
      .foreach(m => markerJobs.put(e.jobId, m))
    val sp = spanOf(e.properties)
    jobSpan.put(e.jobId, sp)
    jobStartMs.put(e.jobId, e.time)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan.putIfAbsent(x.toLong, sp))
    add(sp, "sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(markerJobs.remove(e.jobId)).foreach(markers.add)
    val sp = jobSpan.getOrDefault(e.jobId, -1)
    jobs.add((sp, jobStartMs.getOrDefault(e.jobId, e.time), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val sp = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, sp)
    add(sp, "sched.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val sp = stageSpan.getOrDefault(e.stageId, -1)
    add(sp, "sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(sp, "exec.run_ms", m.executorRunTime.toDouble)
      add(sp, "exec.cpu_ms", m.executorCpuTime / 1e6)
      add(sp, "exec.gc_ms", m.jvmGCTime.toDouble)
      add(sp, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(sp, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(sp, "shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add(sp, "spill.bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      stageTasks.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val times = Option(stageTasks.remove(e.stageInfo.stageId)).map(_.asScala.toSeq)
      .getOrElse(Nil)
    // the decode's flatMapGroupsWithState stage is the one whose
    // accumulators report state-store rows
    val stateful = e.stageInfo.accumulables.values.exists(
      _.name.exists(_.contains("state rows")))
    if (stateful && times.nonEmpty) {
      val mean = times.sum.toDouble / times.size
      statefulSkews.add(if (mean > 0) times.max / mean else 1.0)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      phases.add((qe.id, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Fold planning phases into their span's counters (call after a
    * drain, once every job start has been seen). */
  def attributePhases(): Unit = phases.asScala.foreach { case (id, a, o, p) =>
    val sp = execSpan.getOrDefault(id, -1)
    add(sp, "plan.analysis_ms", a)
    add(sp, "plan.optimization_ms", o)
    add(sp, "plan.planning_ms", p)
  }

  def total(k: String): Double =
    counters.values.asScala.map(_.getOrDefault(k, 0.0)).sum
}
