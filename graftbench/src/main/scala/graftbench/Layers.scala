package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Per-layer figures of the CDC path, measured from outside the library. */
object Layers {

  /** Events each commit made readable, by the same watermark rule as
    * [[Stats.visibleAt]]. */
  def batchRows(lsns: Array[Long], commits: Seq[(Long, Long)]): Seq[Int] = {
    var i = 0
    var best = Long.MinValue
    commits.map { case (wm, _) =>
      val from = i
      if (wm > best) {
        best = wm
        while (i < lsns.length && lsns(i) <= wm) i += 1
      }
      i - from
    }
  }

  /** Files the scans of an executed query opened. */
  def filesRead(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).toSeq
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).sum
  }

  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  def cdc(p: Pipeline, w: Wal, f: LogFacts, planMs: Seq[Double]): Map[String, Double] = {
    val lake = Paths.get(p.table).resolveSibling("lake")
    val lakeFiles = Files.list(lake).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val lag = p.lagFrames.toArray.sorted
    val applyMs = p.applyMs.asScala.toSeq
    Map(
      "capture.frames" -> p.captureStats.fold(0.0)(_.framesCaptured.toDouble),
      "capture.bytes" -> w.bytes.toDouble,
      "capture.flushes" -> lakeFiles.toDouble,
      "capture.lag_p99_frames" -> (if (lag.isEmpty) 0.0 else Stats.percentile(lag, 99)),
      "capture.reconnects" -> p.captureStats.fold(0.0)(s => (s.sessions - 1).toDouble),
      "gen.frames_sent" -> w.size.toDouble,
      "apply.calls" -> p.batches.toDouble,
      "apply.p50_ms" -> med(applyMs),
      "apply.ms_sum" -> applyMs.sum,
      "apply.buckets_touched_frac" ->
        (if (f.versions == 0) 0.0 else f.addedDirs.toDouble / (f.versions * f.buckets)),
      "apply.rows_written_per_change" -> f.rowsWritten.toDouble / w.size,
      "apply.bytes_written" -> f.bytesWritten.toDouble,
      "txlog.versions" -> f.versions.toDouble,
      "txlog.checkpoints" -> f.checkpoints.toDouble,
      "txlog.log_bytes" -> f.logBytes.toDouble,
      "txlog.live_files" -> f.liveFiles.toDouble,
      "txlog.plan_state_ms" -> med(planMs))
  }

  /** Counts, which add up over phases. */
  private val summed = Set("capture.frames", "capture.bytes", "capture.flushes",
    "capture.reconnects", "gen.frames_sent", "apply.calls", "apply.ms_sum",
    "apply.bytes_written", "txlog.versions", "txlog.checkpoints", "txlog.log_bytes")

  /** The CDC workload's two phases: counts add up; per-batch and per-read
    * figures are the paced phase's, where they set the latency. */
  def merge(burst: Map[String, Double], paced: Map[String, Double]): Map[String, Double] =
    (burst.keySet ++ paced.keySet).map { k =>
      k -> (if (summed(k)) burst.getOrElse(k, 0.0) + paced.getOrElse(k, 0.0)
        else paced.getOrElse(k, burst(k)))
    }.toMap
}
