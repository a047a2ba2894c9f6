package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Apply
import graft.operators.Relational
import graft.sources.{Bucketing, Tables}

class ScaleOpsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("applyTruncates: TRUNCATE wipes earlier events on its table only") {
    val feed = Seq(
      (1L, "users", "INSERT", 1L, 100L, 1.0, "{}"),
      (2L, "users", "INSERT", 2L, 200L, 2.0, "{}"),
      (3L, "users", "TRUNCATE", -1L, 300L, 0.0, "{}"),
      (4L, "users", "INSERT", 3L, 400L, 3.0, "{}"),
      (5L, "accts", "INSERT", 9L, 500L, 9.0, "{}"))
      .toDF("lsn", "table_name", "op", "pk", "ts_us", "value", "props")
    val snap = Apply.latestSnapshot(Apply.applyTruncates(feed))
      .orderBy("pk").select("pk").as[Long].collect().toSeq
    assert(snap == Seq(3L, 9L)) // users 1,2 truncated away; accts untouched

    // plan shape: the per-table cutoff must be a broadcast-joined aggregate,
    // NOT a Window.partitionBy(table_name) — O(tables) partitions would
    // funnel each table's whole history through one reducer at scale
    val plan = Apply.applyTruncates(feed).queryExecution.optimizedPlan
    val wins = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(wins.isEmpty, s"applyTruncates must not plan a window:\n$plan")
    assert(plan.toString.contains("ResolvedHint") || plan.toString.contains("broadcast"),
      s"truncate cutoffs should broadcast:\n$plan")
  }

  test("canonicalClusters: chains collapse to min label, components stay apart") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.canonicalClusters(pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("canonicalClusters converges on a deep chain via pointer jumping") {
    // 41-node chain: plain min-label propagation needs 40 rounds; pointer
    // jumping must settle it within the default iteration budget
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.canonicalClusters(chain)
      .select("canonical").distinct().as[Long].collect().toSeq
    assert(got == Seq(0L))
  }

  test("canonicalClusters releases its edge cache when the component " +
      "loop throws") {
    // doc_b fails to evaluate on one row: the first read of the persisted
    // edge table throws, and the cache must not outlive the failed call
    val bad = spark.range(5).select(col("id").as("doc_a"),
      when(col("id") === 3, raise_error(lit("boom")).cast("long"))
        .otherwise(col("id") + 1).as("doc_b"))
    val e = intercept[Exception](graft.operators.Dedup.canonicalClusters(bad))
    assert(e.getMessage.contains("boom"), e.getMessage)
    // the edge table as canonicalClusters builds it: still cached means
    // the failed call leaked it for the life of the session
    val edges = bad.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(bad.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    assert(edges.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      s"edge cache left behind at ${edges.storageLevel}")
  }

  test("approx percentiles stay within 10% of exact at sf0.001") {
    // approx_percentile(accuracy=1000) bounds RANK error (≤ N/1000), not
    // value error — a sparse tail can put adjacent order statistics a few
    // percent apart in value, so the envelope is deliberately loose (the
    // same posture as the approx_distinct rsd test)
    val rows = queries.RelationalQueries.queries("q_approx_percentiles")(spark, sf)
      .selectExpr("hist_p50", "p50", "hist_p95", "p95",
        "engine_p50_ok", "engine_p95_ok")
      .as[(Double, Double, Double, Double, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (h50, p50, h95, p95, e50, e95) =>
      // histogram sketch: value error bounded by one bucket width
      // ($655.36) — well inside 10% of TPC-H price percentiles
      assert(math.abs(h50 - p50) <= 0.10 * p50, s"p50 sketch off: $h50 vs $p50")
      assert(math.abs(h95 - p95) <= 0.10 * p95, s"p95 sketch off: $h95 vs $p95")
      assert(e50 && e95, "engine GK sketch left its 10% envelope")
    }
  }

  test("incrementalPairs finds new-vs-corpus dups, never corpus-vs-corpus") {
    def doc(seed: Int) =
      (0 until 30).map(t => s"w${seed}_${t} common${t % 3}").mkString(" ")
    // corpus: docs 0-19, where 5 and 6 are EXACT dups of each other
    // (found at their own ingest — must not reappear); new batch: doc 100
    // duplicates corpus doc 3, doc 101 is unique
    val rows =
      (0 until 20).map(i => (i.toLong, if (i == 6) doc(5) else doc(i), false)) ++
        Seq((100L, doc(3), true), (101L, doc(999), true))
    val sigged = rows.toDF("doc_id", "text", "is_new")
      .select($"doc_id", $"is_new",
        graft.plans.NgramHashes.minhash(spark, $"text", 3, 64).as("sig"))
    val pairs = graft.operators.Dedup.incrementalPairs(
        sigged, graft.functions.Hashes.lshBands($"sig", 16, 4))
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((3L, 100L)), s"planted new-vs-corpus dup missed: $pairs")
    assert(!pairs.contains((5L, 6L)), "corpus-vs-corpus pair must be excluded")
    assert(!pairs.exists(p => p._1 == 101L || p._2 == 101L),
      "unique new doc produced a candidate")
  }

  test("canonicalClusters under a reliable checkpoint dir matches local mode") {
    // Checkpointing.cut flips from executor-local blocks to reliable
    // checkpoint(dir) when the context has a checkpoint dir — the cluster
    // configuration where executor churn must not kill the CC loop.
    val sc = spark.sparkContext
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val local = graft.operators.Dedup.canonicalClusters(pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      assert(sc.getCheckpointDir.isDefined)
      val reliable = graft.operators.Dedup.canonicalClusters(pairs)
        .orderBy("doc_id").as[(Long, Long)].collect().toSeq
      assert(reliable == local)
    } finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty)
  }

  test("SessionMemo builds once per (session, key) and separates keys") {
    val memo = new graft.operators.SessionMemo[java.lang.Integer]
    var builds = 0
    def build(v: Int): java.lang.Integer = { builds += 1; Integer.valueOf(v) }
    assert(memo.get(spark, "a")(build(1)) == 1)
    assert(memo.get(spark, "a")(build(99)) == 1, "second get must reuse, not rebuild")
    assert(builds == 1)
    assert(memo.get(spark, "b")(build(2)) == 2, "distinct keys build separately")
    assert(builds == 2)
    // purge with a LIVE session is a no-op: entries survive other memos'
    // accesses (the dead-session path needs a stopped context, which the
    // shared-suite JVM cannot exercise)
    val other = new graft.operators.SessionMemo[java.lang.Integer]
    other.get(spark, "x")(Integer.valueOf(7))
    assert(memo.get(spark, "a")(build(5)) == 1 && builds == 2)
  }

  test("saltedJoin is row-identical to the plain join") {
    val left = Tables(spark, sf, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    val right = Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = left.join(right, Seq("l_orderkey"))
    val salted = Relational.saltedJoin(left, right, "l_orderkey", "l_partkey", 8)
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("skewJoin: two-path result is row-identical to the plain join") {
    // crafted skew: key 1 holds half the left side, so the measurement
    // must flag it hot and BOTH paths carry real rows
    val left = ((1 to 500).map(i => (1L, i.toLong, i * 1.0)) ++
      (1 to 500).map(i => ((i % 50 + 2).toLong, 1000L + i, i * 2.0)))
      .toDF("k", "uniq", "v")
    val right = (1L to 60L).map(k => (k, s"r$k")).toDF("k", "tag")
    val hot = Relational.hotKeys(left, "k", k = 4, minMultiple = 2.0)
    assert(hot.contains(1L), s"measurement missed the planted hot key: $hot")
    val plain = left.join(right, Seq("k"))
    val two = Relational.skewJoin(left, right, "k", "uniq", 8, hot)
    assert(two.count() == plain.count())
    assert(two.exceptAll(plain).isEmpty && plain.exceptAll(two).isEmpty)
  }

  test("skewJoin plan: salt machinery only on the hot path; none when no skew") {
    val left = (1 to 100).map(i => ((i % 10).toLong, i.toLong, i * 1.0))
      .toDF("k", "uniq", "v")
    val right = (0L to 10L).map(k => (k, s"r$k")).toDF("k", "tag")
    // hot path present: exactly the hot slice explodes the salt sequence —
    // the cold slice must join plain (no explode, no salt column)
    val twoPlan = Relational.skewJoin(left, right, "k", "uniq", 8, Seq(1L, 2L))
      .queryExecution.optimizedPlan.toString
    assert(twoPlan.toLowerCase.contains("union"), twoPlan.take(2000))
    assert(twoPlan.sliding("explode".length).count(_ == "explode") <= 2,
      s"salt explode should appear once (plus at most a generator alias):\n${twoPlan.take(2000)}")
    assert(twoPlan.contains("explode"), twoPlan.take(2000))
    // measured-no-skew degenerates to the plain join: no salt in the plan
    val nonePlan = Relational.skewJoin(left, right, "k", "uniq", 8, Seq.empty)
      .queryExecution.optimizedPlan.toString
    assert(!nonePlan.contains("explode") && !nonePlan.contains("__salt"),
      nonePlan.take(2000))
  }

  test("bucketed co-located join plans without an exchange") {
    val ev = Tables(spark, sf, "events").select("event_id", "user_id", "value")
    Bucketing.writeBucketed(ev, "ev_a", "user_id", 4)
    Bucketing.writeBucketed(ev.withColumnRenamed("value", "value2")
      .withColumnRenamed("event_id", "event_id2"), "ev_b", "user_id", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = Bucketing.coLocatedJoin(spark, "ev_a", "ev_b", "user_id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(3000))
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("z-order write: footer envelopes prune BOTH dims; single-dim sort can't") {
    // events queried by user AND by time. A layout sorted on one column
    // skips files only for that column: every user-sorted file spans the
    // full ts range, so a time predicate overlaps all of them. The z-curve
    // gives every clustered column tight per-file envelopes at once. The
    // assertion uses the reader-agnostic skipping proxy: count files whose
    // per-file [min, max] envelope intersects the predicate — exactly what
    // parquet footer pruning consults.
    val evBase = Tables(spark, sf, "events")
    val ev = evBase.select(col("event_id"), col("user_id"), col("value"),
      Tables.tsMicros(evBase).as("ts"))
    val base = java.nio.file.Files.createTempDirectory("zorder").toString
    val nFiles = 16
    ev.repartitionByRange(nFiles, $"user_id")
      .write.mode("overwrite").parquet(s"$base/byuser")
    graft.sources.ZOrder.writeZOrdered(ev, Seq("user_id", "ts"), s"$base/zorder", nFiles)

    val (uLo, uHi, tLo, tHi) = ev.agg(min("user_id"), max("user_id"), min("ts"), max("ts"))
      .as[(Long, Long, Long, Long)].head()
    // 10% slices in the middle of each range
    val (bu1, bu2) = (uLo + (uHi - uLo) * 45 / 100, uLo + (uHi - uLo) * 55 / 100)
    val (bt1, bt2) = (tLo + (tHi - tLo) * 45 / 100, tLo + (tHi - tLo) * 55 / 100)
    def envelopes(path: String) =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("user_id").as("ulo"), max("user_id").as("uhi"),
          min("ts").as("tlo"), max("ts").as("thi"))
    def tsOverlap(path: String): Long =
      envelopes(path).filter($"tlo" <= bt2 && $"thi" >= bt1).count()
    def userOverlap(path: String): Long =
      envelopes(path).filter($"ulo" <= bu2 && $"uhi" >= bu1).count()

    // the single-dim layout is blind on the other dim (allow a couple of
    // sparse edge files to miss the slice by chance at this tiny SF)...
    assert(tsOverlap(s"$base/byuser") >= nFiles - 2,
      s"user-sorted layout should overlap ~every file on a time predicate, " +
        s"got ${tsOverlap(s"$base/byuser")}")
    // ...while the z-curve prunes on BOTH clustered columns. At 16 files
    // the curve is a 4×4 block grid; a middle 10% slab straddles 2 of 4
    // block columns = 8 cells, plus a file whose range slice straddles a
    // block boundary — so the tight bound here is ~9, against 14-16 for
    // the blind layout.
    assert(tsOverlap(s"$base/zorder") <= nFiles * 5 / 8,
      s"ts slice still overlaps ${tsOverlap(s"$base/zorder")} of $nFiles z-files")
    assert(userOverlap(s"$base/zorder") <= nFiles * 5 / 8,
      s"user slice still overlaps ${userOverlap(s"$base/zorder")} of $nFiles z-files")
    // the layout change is invisible to results
    def box(path: String) = spark.read.parquet(path)
      .filter($"user_id".between(bu1, bu2) && $"ts".between(bt1, bt2))
      .select("event_id").as[Long].collect().toSet
    assert(box(s"$base/zorder") == box(s"$base/byuser"))
    assert(box(s"$base/zorder").nonEmpty)
  }

  test("zValue interleaves deterministically and orders the curve") {
    import graft.sources.ZOrder
    val df = Seq((0L, 0L), (255L, 255L), (0L, 255L), (255L, 0L), (128L, 128L))
      .toDF("x", "y")
    val z = df.select(ZOrder.zValue(
      Seq(($"x", 0.0, 255.0), ($"y", 0.0, 255.0)), 8).as("z"))
      .as[Long].collect().toSeq
    // corners: origin is 0; (255,255) is all 16 low bits set; x owns even
    // bit positions, y odd
    assert(z(0) == 0L)
    assert(z(1) == 0xFFFF)
    assert(z(2) == 0xAAAA) // y bits only
    assert(z(3) == 0x5555) // x bits only
    // nulls rank at the curve origin rather than failing
    val zn = Seq((Some(5L), Option.empty[Long])).toDF("x", "y")
      .select(ZOrder.zValue(Seq(($"x", 0.0, 255.0), ($"y", 0.0, 255.0)), 8).as("z"))
      .as[Long].head()
    assert((zn & 0xAAAA) == 0, "null column must contribute 0 bits")
    // bits budget is enforced loudly
    assertThrows[IllegalArgumentException](
      ZOrder.zValue(Seq(($"x", 0.0, 1.0), ($"y", 0.0, 1.0)), 32))
  }

  test("partitioned lake: day filter prunes partitions at the scan") {
    val path = java.nio.file.Files.createTempDirectory("lake").toString + "/events"
    val evBase = Tables(spark, sf, "events")
    val ev = evBase.withColumn("ts_us", Tables.tsMicros(evBase))
    graft.sources.PartitionedLake.writeByDay(ev, "ts_us", path)
    val nDays = spark.read.parquet(path).select("day").distinct().count()
    assert(nDays > 1, s"need multiple day partitions, got $nDays")
    val oneDay = graft.sources.PartitionedLake.readDays(
      spark, path, "2024-01-01", "2024-01-01")
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    // pruned scan must read strictly fewer rows than the full lake
    assert(oneDay.count() > 0 && oneDay.count() < ev.count())
  }

  test("HLL sketch + engine HLL stay within their error envelopes at sf0.001") {
    val rows = queries.RelationalQueries.queries("q_approx_distinct")(spark, sf)
      .select("hll_parts", "exact_parts", "hll_small_range", "engine_hll_ok")
      .as[(Long, Long, Boolean, Boolean)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (hll, exact, smallRange, engineOk) =>
      // m=512 ⇒ rsd 4.6%; 15% ≈ 3σ for the replayable sketch (linear
      // counting on the small-range branch is tighter still)
      assert(math.abs(hll - exact).toDouble / exact < 0.15,
        s"hll=$hll exact=$exact")
      assert(engineOk, s"engine HLL++ left its 10% envelope (exact=$exact)")
      // sf0.001 cardinalities (~200 per flag) sit under 2.5m = 1280, so
      // THIS gate exercises the linear-counting branch (sf0.01 takes the
      // raw-estimator branch — both branches oracle-replayed across SFs)
      assert(smallRange, "sf0.001 must exercise the small-range branch")
    }
  }

  test("FreqItemsAgg is exact when capacity covers the vocabulary") {
    // partial buffers merge across 8 partitions; with capacity ≥ distinct
    // items no decrement ever fires, so the sketch IS the count table
    val rows = (0 until 1000).map(i => s"w${i % 20}")
    val hh = rows.toDF("tok").repartition(8)
      .agg(graft.plans.FreqItems.freqItems(spark, $"tok", 64).as("hh"))
      .select(explode($"hh").as("e")).select($"e.item", $"e.count")
      .as[(String, Long)].collect().toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(hh == exact, s"sketch diverged: $hh")
  }

  test("FreqItemsAgg approximate regime keeps heavy hitters within n/capacity") {
    // 500 distinct cold tokens vs capacity 50 forces decrements: the hot
    // token must survive with its count under-reported by at most n/cap
    val rows = Seq.fill(3000)("hot") ++ (0 until 7000).map(i => s"cold${i % 500}")
    val cap = 50
    val hh = scala.util.Random.shuffle(rows).toDF("tok").repartition(8)
      .agg(graft.plans.FreqItems.freqItems(spark, $"tok", cap).as("hh"))
      .select(explode($"hh").as("e")).select($"e.item", $"e.count")
      .as[(String, Long)].collect().toMap
    assert(hh.size <= cap, s"sketch exceeded capacity: ${hh.size}")
    assert(hh.contains("hot"), s"heavy hitter lost: ${hh.keySet.take(5)}")
    val err = rows.size.toLong / cap
    assert(hh("hot") <= 3000 && hh("hot") >= 3000 - err,
      s"count ${hh("hot")} outside [${3000 - err}, 3000]")
  }

  test("containmentPairs finds the quote-in-container pair Jaccard misses") {
    // doc 1 = a 12-token quote; doc 2 = the quote embedded inside 60 other
    // tokens. Containment(1→2) = 1.0 (ordered pair), while the reverse
    // direction and plain Jaccard ≥ 0.8 must both stay silent — the
    // container dwarfs the quote.
    val quote = (0 until 12).map(i => s"q$i").mkString(" ")
    val container = (0 until 30).map(i => s"x$i").mkString(" ") + " " + quote +
      " " + (30 until 60).map(i => s"x$i").mkString(" ")
    val other = (0 until 40).map(i => s"z$i").mkString(" ")
    val grams = Seq((1L, quote), (2L, container), (3L, other))
      .toDF("doc_id", "text")
      .select($"doc_id", graft.plans.NgramHashes.hashes(spark, $"text", 3).as("grams"))
    val pairs = graft.operators.Dedup.containmentPairs(grams, 9, 10)
      .as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)), pairs.mkString(","))
    assert(pairs.head._3 == 1.0, s"full quote containment, got ${pairs.head._3}")
    assert(graft.operators.Dedup.jaccardPairs(grams, 4, 5).isEmpty,
      "jaccard >= 0.8 must miss the quote-in-container pair")
  }

  test("duplicatedSpanMass scores cross-doc overlap, ignores intra-doc repeats") {
    // docs 1 and 2 share a 20-token block (13 of each doc's 25 8-token
    // spans lie fully inside it); doc 3 is unique; doc 4 repeats a block
    // INTERNALLY only — cross-doc dup requires ≥ 2 distinct docs, so it
    // must not appear.
    val shared = (0 until 20).map(i => s"s$i").mkString(" ")
    val doc1 = shared + " " + (0 until 12).map(i => s"b$i").mkString(" ")
    val doc2 = shared + " " + (0 until 12).map(i => s"c$i").mkString(" ")
    val doc3 = (0 until 30).map(i => s"u$i").mkString(" ")
    val rep = (0 until 10).map(i => s"r$i").mkString(" ")
    val spans = Seq((1L, doc1), (2L, doc2), (3L, doc3), (4L, rep + " " + rep))
      .toDF("doc_id", "text")
      .select($"doc_id",
        explode(graft.plans.NgramHashes.shingles(spark, $"text", 8)).as("span"))
    val rows = graft.operators.Dedup.duplicatedSpanMass(spans)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(rows.map(_._1) == Seq(1L, 2L), s"wrong docs flagged: $rows")
    rows.foreach { case (_, n, d, r) =>
      assert(n == 25 && d == 13 && r == 0.52, s"unexpected span mass: ($n,$d,$r)")
    }
  }
}
