package graft.tools

import org.apache.spark.sql.functions._

/** Scratch experiment behind `Checkpointing.cutPartitioned` (r16).
  *
  * Q1: does `Checkpointing.cut` preserve a repartition+sort layout through
  * localCheckpoint on this Spark, and under which AQE setting during the
  * cut build? (Answer on 4.1.2: ONLY with AQE disabled during the build —
  * an AdaptiveSparkPlanExec root is captured as UnknownPartitioning(0).)
  *
  * Q2: when the artifact's captured partition count n differs from
  * spark.sql.shuffle.partitions, does a consumer join (other side needs a
  * fresh shuffle) still reuse the artifact's layout? (Answer on 4.1.2:
  * reuse happens only when n >= spark.sql.shuffle.partitions; below it the
  * planner re-exchanges BOTH sides to shuffle.partitions for parallelism.
  * When both join sides derive from the artifact, its layout is reused at
  * any n.)
  *
  * Run: `sbt "Test/runMain graft.tools.CutPartExperiment"`
  */
object CutPartExperiment {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local(8)
    // force the sort-merge shape the graph rounds plan at corpus scale
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def capture(cut: org.apache.spark.sql.DataFrame): String =
      cut.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          s"${l.outputPartitioning} ordered=${l.outputOrdering.nonEmpty}"
        case other => s"NOT a LogicalRDD: ${other.getClass}"
      }

    def consumerReuses(cut: org.apache.spark.sql.DataFrame): Boolean = {
      // labels side is an aggregate -> always needs its own shuffle
      val labels = s.range(1000)
        .groupBy((col("id") % 500).as("node")).agg(max("id").as("label"))
      val j = cut.join(labels, col("src") === col("node")).groupBy("dst").count()
      val txt = j.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // the consumer has two unavoidable exchanges (labels-side aggregate,
      // final groupBy); a third is the artifact being re-exchanged
      val tree = txt.split("\n\n")(0)
      println(tree)
      tree.linesIterator.count(_.contains("Exchange")) == 2
    }

    val df = s.range(100000)
      .select((col("id") % 1000).as("src"), (col("id") % 77).as("dst"))

    println("== Q1: plain cut of repartition+sort, AQE on (status quo r15)")
    println("   captured: " + capture(graft.operators.Checkpointing.cut(
      df.repartition(col("src")).sortWithinPartitions("src"))))

    println("== Q1: AQE off during cut build")
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val c2 = graft.operators.Checkpointing.cut(
      df.repartition(col("src")).sortWithinPartitions("src"))
    s.conf.set("spark.sql.adaptive.enabled", prev)
    println("   captured: " + capture(c2))

    println("== Q2: consumer reuse vs artifact partition count " +
      s"(shuffle.partitions=${s.conf.get("spark.sql.shuffle.partitions")})")
    for (n <- Seq(2, 4, 8, 16)) {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      val c = graft.operators.Checkpointing.cut(
        df.repartition(n, col("src")).sortWithinPartitions("src"))
      s.conf.set("spark.sql.adaptive.enabled", prev)
      println(s"-- n=$n captured: " + capture(c))
      println(s"-- n=$n consumer reuses layout: " + consumerReuses(c))
    }

    println("== Q2b: both sides artifact-derived (n=2)")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val c3 = graft.operators.Checkpointing.cut(
      df.repartition(2, col("src")).sortWithinPartitions("src"))
    s.conf.set("spark.sql.adaptive.enabled", prev)
    val self = c3.as("a").join(c3.as("b"), "src").groupBy(col("a.dst")).count()
    println(self.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).split("\n\n")(0))

    s.stop()
  }
}
