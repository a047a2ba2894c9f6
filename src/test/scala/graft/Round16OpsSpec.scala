package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning

/** Round-16 pins for `Checkpointing.cutPartitioned` — the fix for the r15
  * finding that `repartition+sort` inside a plain cut came back
  * `UnknownPartitioning(0)` on Spark 4.1.2 + AQE, so every iterative
  * consumer (label-prop/pagerank/BFS rounds, the fuzzy-join banding
  * self-join) kept re-exchanging the corpus-sized artifact every round.
  * Each test pins one leg of the mechanism so a Spark upgrade that breaks
  * it fails loudly instead of silently regressing the plan shape. */
class Round16OpsSpec extends AnyFunSuite with SparkTestBase {

  private def graph = spark.range(10000)
    .select((col("id") % 100).as("src"), (col("id") % 7).as("dst"))

  test("plain cut of repartition+sort loses the layout (the r15 bug this " +
      "round works around) while cutPartitioned captures hash " +
      "partitioning AND ordering") {
    val plain = graft.operators.Checkpointing.cut(
      graph.repartition(col("src")).sortWithinPartitions("src"))
    plain.queryExecution.optimizedPlan match {
      case l: LogicalRDD =>
        assert(l.outputPartitioning.toString.contains("UnknownPartitioning"),
          s"if this captured ${l.outputPartitioning}, Spark now preserves " +
            "layouts through AQE cuts and cutPartitioned can be simplified")
      case o => fail(s"cut did not produce a LogicalRDD: ${o.getClass}")
    }
    val aqeBefore = spark.conf.getOption("spark.sql.adaptive.enabled")
    val cp = graft.operators.Checkpointing.cutPartitioned(graph, "src")
    cp.queryExecution.optimizedPlan match {
      case l: LogicalRDD =>
        assert(l.outputPartitioning.isInstanceOf[HashPartitioning],
          s"captured ${l.outputPartitioning}")
        assert(l.outputOrdering.nonEmpty, "sort order must be captured too")
      case o => fail(s"cutPartitioned did not produce a LogicalRDD: ${o.getClass}")
    }
    // the session's AQE setting is the caller's: left exactly as it was
    assert(spark.conf.getOption("spark.sql.adaptive.enabled") == aqeBefore)
  }

  test("cutPartitioned is result-identical to the plain frame") {
    val cp = graft.operators.Checkpointing.cutPartitioned(graph, "src")
    assert(cp.exceptAll(graph).isEmpty && graph.exceptAll(cp).isEmpty)
  }

  test("a consumer SMJ streams a conf-floored artifact with NO Exchange " +
      "and NO Sort on the artifact side (the whole point of the layout)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // floorParallelism → n >= spark.sql.shuffle.partitions, which is the
      // measured reuse threshold on Spark 4.1.2 (see the consumer-side
      // reuse rules in Checkpointing.cutPartitioned's Scaladoc)
      val cp = graft.operators.Checkpointing.cutPartitioned(
        graph, floorParallelism = true, "src")
      val labels = spark.range(100)
        .groupBy((col("id") % 50).as("node")).agg(max("id").as("label"))
      val j = cp.join(labels, col("src") === col("node")).groupBy("dst").count()
      val tree = j.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).split("\n\n")(0)
      // unavoidable: labels-side aggregate exchange + final groupBy
      // exchange; a third Exchange means the artifact was re-shuffled
      assert(tree.linesIterator.count(_.contains("Exchange")) == 2, tree)
      // exactly one Sort: the labels side's SMJ sort — the artifact's
      // captured ordering covers its side
      assert(tree.linesIterator.count(l => l.contains("+- Sort (") ||
        l.contains(":- Sort (")) <= 1, tree)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("no job started by cutPartitioned runs with AQE switched off (the " +
      "call writes no session conf that a concurrent query could read)") {
    val sc = spark.sparkContext
    val mark = "graft.test.cutPartitioned"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(mark)) match {
          case Some("call") => jobs.add(e.properties)
          case Some("drain") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(mark, "call")
      graft.operators.Checkpointing.cutPartitioned(graph, "src")
      graft.operators.Checkpointing.cutPartitioned(
        graph, floorParallelism = true, "src", "dst")
      // one listener queue delivers in order: once the drain job's start
      // arrives, every job the two calls started has been recorded
      sc.setLocalProperty(mark, "drain")
      spark.range(1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(mark, null)
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val started = jobs.asScala.toSeq
    assert(started.nonEmpty, "the calls started no job")
    val aqeOff = started.count(p =>
      p.getProperty("spark.sql.adaptive.enabled") == "false")
    assert(aqeOff == 0, s"$aqeOff of ${started.size} jobs ran with AQE off")
  }

  test("cutPartitioned under a reliable checkpoint dir returns the same " +
      "rows and still declares hash partitioning and ordering") {
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val cp = graft.operators.Checkpointing.cutPartitioned(graph, "src")
      cp.queryExecution.optimizedPlan match {
        case l: LogicalRDD =>
          assert(l.rdd.isCheckpointed && l.rdd.getCheckpointFile.isDefined,
            "the artifact must be a reliable checkpoint")
          assert(l.outputPartitioning.isInstanceOf[HashPartitioning],
            s"captured ${l.outputPartitioning}")
          assert(l.outputOrdering.nonEmpty, "sort order must be captured too")
        case o => fail(s"cutPartitioned did not produce a LogicalRDD: ${o.getClass}")
      }
      assert(cp.exceptAll(graph).isEmpty && graph.exceptAll(cp).isEmpty)
    } finally {
      sc.setCheckpointDir(null)
      graft.operators.Checkpointing.deleteRecursively(dir)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("BoundedPull returns the full artifact under the ceiling, trips " +
      "loudly above it, and never transfers more than ceiling+1 rows") {
    val small = spark.range(10).toDF("id")
    assert(graft.operators.BoundedPull.rows(small, 10, "t").length == 10)
    val big = spark.range(5000).toDF("id")
    val e = intercept[IllegalArgumentException] {
      graft.operators.BoundedPull.rows(big, 4096, "pair sims")
    }
    assert(e.getMessage.contains("serving-request ceiling"))
    // the plan-side limit is the actual safety property: a corpus-sized
    // artifact must not reach the driver before the require fires
    assert(big.limit(4097).count() == 4097)
  }

  test("bench line budget: tier splice is shape-checked AND size-capped; " +
      "seal splice carries only the bounded summary prefix") {
    val dir = java.nio.file.Files.createTempDirectory("bench16")
    val tiers = dir.resolve("tiers.json")
    // well-formed and small → spliced verbatim
    java.nio.file.Files.writeString(tiers, """{"q_a":1.234,"q_b":0.5}""")
    assert(Bench.spliceTier(tiers) == """{"q_a":1.234,"q_b":0.5}""")
    // malformed → dropped (a verbatim splice would unparse the whole line)
    java.nio.file.Files.writeString(tiers, """{"q_a":1.234,}""")
    assert(Bench.spliceTier(tiers).isEmpty)
    // well-formed but grown past the cap → stays in the file artifact only
    val big = (1 to 300).map(i => s""""q_key_number_$i":1.234""")
      .mkString("{", ",", "}")
    assert(big.length > Bench.tierSpliceCap)
    java.nio.file.Files.writeString(tiers, big)
    assert(Bench.spliceTier(tiers).isEmpty)
    // seal with a 288-key spread → only the five-field summary is spliced
    val seal = dir.resolve("seal.json")
    val spread = (1 to 288).map(i => s""""q_$i":[1.0,2.0]""")
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(seal,
      s"""{"value":165.001,"runs":3,"n_queries":288,"n_errors":0,""" +
        s""""sf":"/root/testdata/sf0.1","spread":$spread}""")
    val s2 = Bench.spliceSeal(seal)
    assert(s2 == """{"value":165.001,"runs":3,"n_queries":288,""" +
      """"n_errors":0,"sf":"/root/testdata/sf0.1"}""")
    assert(s2.length < 200, "seal splice must stay summary-sized")
  }

  test("floorParallelism floors the partition count at " +
      "spark.sql.shuffle.partitions; the default stays data-sized") {
    val conf = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val floored = graft.operators.Checkpointing.cutPartitioned(
      graph.coalesce(1), floorParallelism = true, "src")
    assert(floored.rdd.getNumPartitions >= conf)
    val dataSized = graft.operators.Checkpointing.cutPartitioned(
      graph.coalesce(1), "src")
    assert(dataSized.rdd.getNumPartitions == 1)
  }

  test("PrefixSum.cumSum stays exact when the input subtree carries a " +
      "declared-layout artifact (self-join dedup must not split the two " +
      "sides' range-partition ids)") {
    // the q_spearman shape that failed the sf0.01 oracle: a cutPartitioned
    // artifact feeding the marginal cumsum. When the two sides of the
    // offset join-back each planned their own range exchange, their
    // rdd.id-seeded boundaries differed and most cumsums came back wrong.
    val base = spark.range(20000).select(
      (col("id") % 3).cast("string").as("flag"),
      (col("id") % 997).as("y"),
      (col("id") % 7 + 1).as("m"))
    val jPart = graft.operators.Checkpointing.cutPartitioned(
      base.groupBy("flag", "y").agg(sum("m").as("m")), "flag", "y")
    val cnts = jPart.groupBy("flag", "y").agg(sum("m").as("cnt"))
    val got = graft.operators.PrefixSum
      .cumSum(cnts, "flag", Seq(col("y")), "cnt", "cum")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("flag").orderBy("y")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val truth = cnts.withColumn("cum", sum("cnt").over(w))
    val diffs = got.as("a").join(truth.as("t"), Seq("flag", "y"))
      .filter(col("a.cum") =!= col("t.cum")).count()
    assert(diffs == 0, s"$diffs rows diverge from the single-window truth")
  }

  test("PrefixSum cumSum and orderedDeltas stay exact when the session's " +
      "caches are cleared between the call and the action, with exchange " +
      "reuse off (the slice ids must be stored data, not a re-derivable " +
      "range-partition id)") {
    // each side of the offset join-back reads the ranged table; if they
    // recomputed it, each would plan its own range exchange and sample
    // boundaries with an rdd.id-derived seed, so the two sides would
    // disagree on which slice a row belongs to
    val reuse = "spark.sql.exchange.reuse"
    val prev = spark.conf.get(reuse)
    spark.conf.set(reuse, "false")
    try {
      val cnts = spark.range(20000).select(
          (col("id") % 3).cast("string").as("flag"),
          (col("id") % 997).as("y"),
          (col("id") % 7 + 1).as("m"))
        .groupBy("flag", "y").agg(sum("m").as("cnt"))
      val byY = org.apache.spark.sql.expressions.Window
        .partitionBy("flag").orderBy("y")

      val cum = graft.operators.PrefixSum
        .cumSum(cnts, "flag", Seq(col("y")), "cnt", "cum")
      spark.catalog.clearCache()
      val cumTruth = cnts.withColumn("cum", sum("cnt").over(byY.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      val cumWrong = cum.as("a").join(cumTruth.as("t"), Seq("flag", "y"))
        .filter(col("a.cum") =!= col("t.cum")).count()
      assert(cum.count() == cumTruth.count())
      assert(cumWrong == 0,
        s"cumSum: $cumWrong rows diverge from the single-window truth")

      val deltas = graft.operators.PrefixSum.orderedDeltas(cnts, "flag", "y", "d")
      spark.catalog.clearCache()
      val lagTruth = cnts.withColumn("d", col("y") - lag("y", 1).over(byY))
      val deltaWrong = deltas.as("a").join(lagTruth.as("t"), Seq("flag", "y"))
        .filter(not(col("a.d") <=> col("t.d"))).count()
      assert(deltas.count() == lagTruth.count())
      assert(deltaWrong == 0,
        s"orderedDeltas: $deltaWrong rows diverge from the lag-window truth")
    } finally spark.conf.set(reuse, prev)
  }
}
