package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail rule: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(100).contains(90.0)) // 10 beyond p90, 5 beyond p95
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    assert(Stats.tailPercentile(99).contains(75.0))  // 9 beyond p90: not supported
    assert(Stats.tailPercentile(19).isEmpty)         // not even the median
    assert(Stats.beyond(100, 90) == 10)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble).toArray
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.percentile(Array(7.0), 99) == 7.0)
  }

  test("key-scaled latency: every key counts alike, the tail keeps each key's spread") {
    // key a: 10, 20, 30 (median 20); key b: 40, 80, 120 (median 80)
    val xs = Seq("a" -> 10.0, "a" -> 20.0, "a" -> 30.0, "b" -> 40.0, "b" -> 80.0, "b" -> 120.0)
    val (g, scaled) = Stats.keyScaled(xs)
    assert(math.abs(g - 40.0) < 1e-9) // sqrt(20 × 80)
    assert(scaled.map(math.round(_)).toSeq == Seq(20L, 20L, 40L, 40L, 60L, 60L))
    // halving one key's latencies moves the typical latency by the
    // geometric mean's share, whichever key it is
    val (g2, _) = Stats.keyScaled(xs.map { case (k, v) => (k, if (k == "a") v / 2 else v) })
    assert(math.abs(g2 - 40.0 / math.sqrt(2)) < 1e-9)
  }

  test("paced generator: due times follow the rate; lateness is never negative") {
    assert(Stats.dueNs(1000L, 0, 400) == 1000L)
    assert(Stats.dueNs(0L, 400, 400) == 1000000000L)
    assert(Stats.dueNs(0L, 1, 3) == 333333333L)
    val due = (i: Int) => Stats.dueNs(0L, i.toLong, 1000) // one per ms
    val sent = Array(0L, 1500000L, 1999999L, 5000000L)
    assert(Stats.lateness(sent, due).toSeq == Seq(0L, 500000L, 0L, 2000000L))
  }

  test("event → commit attribution by the acked watermark") {
    val lsns = Array(100L, 200L, 300L, 400L, 500L)
    // the second commit did not move the watermark: it made nothing new
    // readable; LSN 500 was never covered
    val commits = Seq((200L, 10L), (200L, 15L), (400L, 20L))
    assert(Stats.visibleAt(lsns, commits).toSeq == Seq(10L, 10L, 20L, 20L, -1L))
    assert(Stats.visibleAt(lsns, Seq((1000L, 7L))).forall(_ == 7L))
    assert(Stats.visibleAt(lsns, Nil).forall(_ == -1L))
    assert(Layers.batchRows(lsns, commits) == Seq(2, 0, 2))
  }

  test("span self time subtracts the union of children, clipped to the span") {
    assert(Stats.selfTime(0, 100, Nil) == 100)
    // overlapping children on two threads count once
    assert(Stats.selfTime(0, 100, Seq((10L, 40L), (30L, 60L))) == 50)
    // a child running past its parent only covers the part inside
    assert(Stats.selfTime(0, 100, Seq((90L, 150L), (-20L, 5L))) == 85)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L), (30L, 35L))) == 25)
  }

  test("balanced query orders: each key follows each other key equally often") {
    val orders = Stats.balancedOrders(5)
    assert(orders.size == 10)
    assert(orders.forall(_.sorted == (0 until 5)))
    val pairs = orders.flatMap(o => o.zip(o.tail)).groupBy(identity).map(_._2.size)
    assert(pairs.size == 20 && pairs.forall(_ == 2))
    assert(Stats.balancedOrders(3).size == 6)
  }

  test("multiset hash ignores row order and sees every row") {
    val a = Seq("x|1", "y|2", "z|3")
    assert(Stats.multisetHash(a.iterator) == Stats.multisetHash(a.reverse.iterator))
    assert(Stats.multisetHash(a.iterator) != Stats.multisetHash(a.take(2).iterator))
    assert(Stats.multisetHash((a :+ "x|1").iterator) != Stats.multisetHash(a.iterator))
  }
}
