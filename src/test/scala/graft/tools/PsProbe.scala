package graft.tools
import org.apache.spark.sql.functions._

/** Counts wrong prefix sums over a plain vs a declared-layout
  * (`cutPartitioned`) input, against a single-window ground truth — the
  * probe behind PrefixSum's declared-layout guard:
  * `sbt "Test/runMain graft.tools.PsProbe"` */
object PsProbe {
  def main(args: Array[String]): Unit = {
    val s = graft.GraftSession.local(8)
    val base = s.range(20000).select(
      (col("id") % 3).cast("string").as("flag"),
      (col("id") % 997).as("y"),
      (col("id") % 7 + 1).as("m"))
    val jPlain = graft.operators.Checkpointing.cut(
      base.groupBy("flag", "y").agg(sum("m").as("m")))
    val jPart = graft.operators.Checkpointing.cutPartitioned(
      base.groupBy("flag", "y").agg(sum("m").as("m")), "flag", "y")
    def ranks(j: org.apache.spark.sql.DataFrame) = {
      val cnts = j.groupBy("flag", "y").agg(sum("m").as("cnt"))
      graft.operators.PrefixSum.cumSum(cnts, "flag", Seq(col("y")), "cnt", "cum")
        .select(col("flag"), col("y"), (col("cum") * 2 - col("cnt") + 1).as("r"))
    }
    val a = ranks(jPlain); val b = ranks(jPart)
    println("rows a=" + a.count() + " b=" + b.count())
    // ground truth: single-window running sum (one task per flag, exact)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("flag").orderBy("y")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val truth = jPlain.groupBy("flag", "y").agg(sum("m").as("cnt"))
      .withColumn("cum", sum("cnt").over(w))
      .select(col("flag"), col("y"), (col("cum") * 2 - col("cnt") + 1).as("r"))
    def diffs(x: org.apache.spark.sql.DataFrame, tag: String) = {
      val d = x.as("a").join(truth.as("t"), Seq("flag", "y"))
        .filter(col("a.r") =!= col("t.r")).count()
      println(s"$tag vs truth: $d diffs")
    }
    diffs(a, "plain-input cumSum")
    diffs(b, "partitioned-input cumSum")
    s.stop()
  }
}
