package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.sources.Tables

/** Relational/analytics operator inventory (SURVEY.md §2, second block).
  *
  * Determinism rules shared with every oracle: aggregates rounded to 4dp on
  * both sides; every ORDER BY is a total order over exact (non-float-
  * computed) keys or already-rounded values; timestamps leave the plan as
  * epoch micros/millis (bigint) or DATE, never as raw timestamps.
  */
object RelationalQueries {

  /** Measured hot join keys for q_salted_join — the stored-artifact
    * pattern: measured once per (session, sf-dir), reused across passes. */
  private val hotKeysMemo = new graft.operators.SessionMemo[Seq[Long]]

  /** Exact interpolated p50/p95 of l_extendedprice per returnflag via
    * INTEGER CENTS RANK MATH — the float-agreement-free form (r11) shared
    * by q_percentiles and q_approx_percentiles' exact audit columns.
    *
    * Construction: prices collapse losslessly to cents longs (they are
    * exact cents), the distribution collapses to the O(groups × distinct
    * prices) histogram (map-side combined — at 100 TB that is the price
    * domain, not the row count), a cumulative count rides a window over
    * that AGGREGATED table, and the interpolated percentile at rank
    * r = num·(n−1)/den is assembled from the two bracketing order
    * statistics (value at rank ⌊r⌋ = smallest price whose cumulative
    * count exceeds ⌊r⌋) entirely in integers:
    * scaled = lo·(den − rem) + hi·rem, with rem = num·(n−1) mod den —
    * then ONE final division of bit-identical integer-valued doubles, so
    * both engines produce the same IEEE result with no float agreement
    * assumed anywhere. */
  private val centsPctMemo = new graft.operators.SessionMemo[DataFrame]
  private val centsHistMemo = new graft.operators.SessionMemo[DataFrame]

  /** `rows(l_returnflag, vc)` → lineage-cut cents histogram
    * (l_returnflag, vc, cnt): the O(groups × distinct prices) table every
    * rank-math stage below runs over (map-side combined — at 100 TB this
    * is the price domain, not the row count; the cut earns its keep
    * because the MEMOIZED artifact is shared across several percentile
    * consumers in one session — q_mad reads it twice itself). */
  private def centsHist(rows: DataFrame): DataFrame =
    graft.operators.Checkpointing.cut(
      rows.groupBy("l_returnflag", "vc").agg(count(lit(1)).as("cnt")))

  /** Bracketing order statistics + assembled p50/p95 over a (already-cut)
    * cents histogram with a generic value column `valCol`: value at
    * 0-based rank i = smallest value whose cumulative count exceeds i;
    * quantile p = num/den interpolates the ranks ⌊num(n−1)/den⌋ and +1
    * with integer weights (den − rem, rem). Returns one row per group:
    * (l_returnflag, n, lo50, hi50, lo95, hi95, p50, p95) — lo/hi in the
    * histogram's value units, p50/p95 in dollars assuming cents units. */
  private def pctStatsFromHist(hist: DataFrame, valCol: String = "vc"): DataFrame = {
    val wC = Window.partitionBy("l_returnflag").orderBy(valCol)
    // group total n = the LAST cumulative value: a max-window over the
    // SAME l_returnflag partitioning the cumsum already established, so it
    // rides the same exchange+sort (r15, guide §2.4) — `hist` is consumed
    // ONCE per call instead of twice (the former tot aggregate + broadcast
    // join re-executed the histogram subtree when it wasn't cut)
    val cum = hist.withColumn("cum", sum("cnt").over(wC))
      .withColumn("n", max("cum").over(Window.partitionBy("l_returnflag")))
    cum
      .groupBy("l_returnflag")
      .agg(max("n").as("n"),
        min(when(expr("cum > (n - 1) div 2"), col(valCol))).as("lo50"),
        min(when(expr("cum > (n - 1) div 2 + 1"), col(valCol))).as("hi50"),
        min(when(expr("cum > ((n - 1) * 19) div 20"), col(valCol))).as("lo95"),
        min(when(expr("cum > ((n - 1) * 19) div 20 + 1"), col(valCol))).as("hi95"))
      .withColumn("p50",
        expr("CAST(lo50 * (2 - (n - 1) % 2) + coalesce(hi50, 0L) * ((n - 1) % 2) AS DOUBLE)")
          / 200.0)
      .withColumn("p95",
        expr("CAST(lo95 * (20 - ((n - 1) * 19) % 20) + coalesce(hi95, 0L) * (((n - 1) * 19) % 20) AS DOUBLE)")
          / 2000.0)
  }

  private def priceCents: Column =
    round(col("l_extendedprice") * 100).cast("long").as("vc")

  private def lineitemCentsHist(s: SparkSession, dir: String): DataFrame =
    centsHistMemo.get(s, dir) {
      centsHist(t(s, dir, "lineitem").select(col("l_returnflag"), priceCents))
    }

  private def exactCentsPercentiles(s: SparkSession, dir: String): DataFrame =
    centsPctMemo.get(s, dir) {
      graft.operators.Checkpointing.cut(
        pctStatsFromHist(lineitemCentsHist(s, dir))
          .select("l_returnflag", "p50", "p95"))
    }

  /** The DuckDB replay of [[pctStatsFromHist]] over an arbitrary
    * `pv(l_returnflag, vc, cnt)` histogram source: CTE chain ending in
    * `pa` (bracketing order statistics) and `pct(l_returnflag, p50, p95)`.
    * Shared by every rank-math percentile oracle. */
  private def rankPctCtes(histSql: String): String =
    s"""pv AS ($histSql),
      |pc AS (
      |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY vc)
      |    AS BIGINT) AS cum
      |  FROM pv),
      |pt AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n
      |       FROM pv GROUP BY 1),
      |pa AS (
      |  SELECT pc.l_returnflag, max(n) AS n,
      |         min(CASE WHEN cum > (n - 1) // 2 THEN vc END) AS lo50,
      |         min(CASE WHEN cum > (n - 1) // 2 + 1 THEN vc END) AS hi50,
      |         min(CASE WHEN cum > ((n - 1) * 19) // 20 THEN vc END) AS lo95,
      |         min(CASE WHEN cum > ((n - 1) * 19) // 20 + 1 THEN vc END) AS hi95
      |  FROM pc JOIN pt USING (l_returnflag) GROUP BY 1),
      |pct AS (
      |  SELECT l_returnflag,
      |         CAST(lo50 * (2 - (n - 1) % 2)
      |              + coalesce(hi50, 0) * ((n - 1) % 2) AS DOUBLE)
      |           / 200.0::DOUBLE AS p50,
      |         CAST(lo95 * (20 - ((n - 1) * 19) % 20)
      |              + coalesce(hi95, 0) * (((n - 1) * 19) % 20) AS DOUBLE)
      |           / 2000.0::DOUBLE AS p95
      |  FROM pa)""".stripMargin

  private val lineitemHistSql: String =
    """SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
      |       CAST(count(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2""".stripMargin

  private val centsPctCtes: String = rankPctCtes(lineitemHistSql)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** events with ts normalized to epoch microseconds (ns parquet → long). */
  private def ev(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.withColumn("ts_us", Tables.tsMicros(e))
  }

  private val sessionMemo = new graft.operators.SessionMemo[DataFrame]

  /** Bucketed managed-table names for q_bucketed_join — written once per
    * (session, lake); the table name carries a lake tag so two SF dirs in
    * one session don't collide in the shared warehouse. */
  private val bucketedMemo = new graft.operators.SessionMemo[(String, String)]

  /** Chunked (segment, key_hash) files for the streaming-KMV gate —
    * written once per (session, sf-dir). */
  private val kmvFeedMemo = new graft.operators.SessionMemo[String]

  /** q_fuzzy_join's deletion-neighborhood blocking index — a stored
    * artifact of the name table (built once per lake, probed by every
    * fuzzy pass), like the dedup signature tables. */
  private val fuzzyIdxMemo = new graft.operators.SessionMemo[DataFrame]

  /** q_pagerank's degree-joined edge table — the stored graph artifact
    * every iteration rereads (built once per lake, not once per call).
    * Lifetime note (applies to [[fuzzyIdxMemo]] too, the first memos to
    * pin LARGE checkpointed frames): entries live until their session
    * stops, one per lake — the harness runs one lake per session, so at
    * most one artifact is resident; a long-lived multi-lake session is
    * the case where a production deployment would write these artifacts
    * to lake storage instead of session memory. */
  private val pagerankEdgeMemo = new graft.operators.SessionMemo[DataFrame]

  /** The per-(supplier, ship-day) revenue rollup both trend keys
    * (q_regression, q_autocorr) read — ONE definition + session memo so
    * the two fits can never drift on the cents/day rule and the corpus
    * is rolled up once per (session, lake), not once per key. */
  private val supplierDailyMemo = new graft.operators.SessionMemo[DataFrame]

  private def supplierDaily(s: SparkSession, dir: String): DataFrame =
    supplierDailyMemo.get(s, dir) {
      graft.operators.Checkpointing.cut(
        t(s, dir, "lineitem")
          .select(col("l_suppkey"),
            datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
              .cast("long").as("d"),
            round(col("l_extendedprice") * 100).cast("long").as("c"))
          .groupBy("l_suppkey", "d")
          .agg(sum("c").as("yc")))
    }

  /** The shared count-min geometry (d salt rows × w cells) behind
    * q_cms_topk AND q_join_estimate — ONE definition so the salted-md5
    * bucket scheme cannot drift between the point-frequency and
    * join-size forms (both oracles replay this exact arithmetic). */
  private val cmsD = 3
  private val cmsW = 1024L

  private def cmsBucket(salt: org.apache.spark.sql.Column,
      key: org.apache.spark.sql.Column): org.apache.spark.sql.Column = pmod(
    conv(substring(md5(concat_ws(":", salt, key)), 1, 12), 16, 10)
      .cast("long"), lit(cmsW))

  private def cmsSalts = explode(array((0 until cmsD).map(lit): _*)).as("i")

  /** The (i, b, cell) exact-sum cell table over `table.key` — the stored
    * per-table sketch artifact (3 KB), memoized per lake and lineage-cut
    * so repeated estimates touch no rows. NULL keys are EXCLUDED: a NULL
    * never equi-joins (so it contributes nothing to any join size), and
    * the oracle's `||` concatenation would NULL-propagate it into a
    * dropped bucket while concat_ws silently hashed the salt alone. */
  private val cmsMemo = new graft.operators.SessionMemo[DataFrame]

  private def cmsCells(s: SparkSession, dir: String, table: String,
      key: String): DataFrame =
    cmsMemo.get(s, s"$dir|$table.$key") {
      graft.operators.Checkpointing.cut(
        t(s, dir, table).select(col(key).as("k"))
          .filter(col("k").isNotNull)
          .select(col("k"), cmsSalts)
          .select(col("i"), cmsBucket(col("i"), col("k")).as("b"))
          .groupBy("i", "b").agg(count(lit(1)).as("cell")))
    }

  /** The 30-min-gap sessionized event frame — one memoized stored artifact
    * per (session, sf-dir), read by q_sessionize AND q_concurrency (the
    * warehouse pattern: sessions materialize once per refresh, every
    * downstream query reads the table). */
  private def sessionized(s: SparkSession, dir: String): DataFrame =
    sessionMemo.get(s, dir) {
      graft.operators.Checkpointing.cut(Relational.sessionize(
        ev(s, dir), "user_id", "ts_us", "event_id", 1800000000L))
    }

  private def revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** The shared per-(order-status, price-cents) cumulative marginal table
    * behind the two-sample hypothesis tests (q_ks_test, q_mann_whitney):
    * the corpus collapses once to its distinct-value group counts
    * (a = high-priority orders at that price, b = the rest), and ONE
    * two-level PrefixSum pass attaches the in-status cumulative counts —
    * both the empirical CDFs (KS) and the pooled tie-averaged ranks (U)
    * are pure arithmetic on this table, so the two tests can never drift
    * on the value rule and the corpus is scanned once per (session, lake).
    * Distinct prices are corpus-sized, hence the range-partitioned
    * PrefixSum, never a per-status window sort. */
  private val rankCumMemo = new graft.operators.SessionMemo[DataFrame]

  private def priorityRankCums(s: SparkSession, dir: String): DataFrame =
    rankCumMemo.get(s, dir) {
      val base = t(s, dir, "orders").select(
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("v"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("g"))
      val m = base.groupBy("st", "v").agg(
        sum("g").as("a"), sum(lit(1L) - col("g")).as("b"))
      graft.operators.Checkpointing.cut(
        graft.operators.PrefixSum.cumSums(m, "st", Seq(col("v")),
          Seq("a" -> "ca", "b" -> "cb")))
    }

  /** q_triangle_count's degree-oriented edge table — the part
    * co-purchase graph (two parts are adjacent iff some order contains
    * both; the supplier/customer variants are near-complete and would
    * gate nothing) with both endpoint degrees attached, lineage-cut once
    * per (session, lake): the wedge join, the closing join, and the
    * node/edge/wedge tallies all reread it. Pair mass is bounded by
    * Σ per-order k·(k−1)/2 with k = parts per order (single digits in
    * any TPC-H-shaped lake), i.e. linear in lineitem; density stays a
    * few percent at every SF because parts and orders scale together.
    * Degree joins are plain equi-joins on the node id — degrees are
    * O(parts) rows, so AQE broadcasts them at gate SFs, and at lake
    * scale they shuffle like any dimension join (never a driver pull). */
  private val triangleEdgeMemo = new graft.operators.SessionMemo[DataFrame]

  /** Undirected co-purchase edge list stored hash-partitioned and sorted
    * on `src` (r16, guide §2.4 — establish the partitioning once, via
    * `Checkpointing.cutPartitioned`, which makes the cut actually CARRY
    * the layout: the r15 plain-cut form came back UnknownPartitioning and
    * every round re-exchanged). Every iterative consumer (q_label_prop's
    * 3 label rounds, q_bfs_reach's 3 frontier hops) joins on src=node
    * WITHOUT re-exchanging or re-sorting the edge table each round — only
    * the O(nodes) labels/frontier side moves. Shared memo: both queries
    * previously rebuilt the same union. */
  private val undCoEdgeMemo = new graft.operators.SessionMemo[DataFrame]

  private def partCoUndirected(s: SparkSession, dir: String): DataFrame =
    undCoEdgeMemo.get(s, dir) {
      val ed = partCoEdges(s, dir)
      graft.operators.Checkpointing.cutPartitioned(
        ed.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(ed.select(col("v").as("src"), col("u").as("dst"))),
        "src")
    }

  private def partCoEdges(s: SparkSession, dir: String): DataFrame =
    triangleEdgeMemo.get(s, dir) {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = li.as("x").join(li.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("u"), col("y.pk").as("v"))
        .distinct()
      val deg = e.select(col("u").as("nd"))
        .unionAll(e.select(col("v").as("nd")))
        .groupBy("nd").agg(count(lit(1)).as("d"))
      graft.operators.Checkpointing.cut(
        e.join(deg.select(col("nd").as("u"), col("d").as("du")), "u")
          .join(deg.select(col("nd").as("v"), col("d").as("dv")), "v"))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: scan-heavy grouped aggregation, map-side partial aggs.
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("2000-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(revenue), 4).as("sum_disc_price"),
          round(sum(revenue * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q3 shape: selective dim filter → fact join → top-k by revenue.
    "q3_join_agg" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(round(sum(revenue), 4).as("rev"))
        .select(col("l_orderkey"), col("rev"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("rev").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: star join; dims broadcast, one fact shuffle.
    "q5_multijoin" -> ((s, dir) => {
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val n = t(s, dir, "nation")
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
          col("o_orderdate") < to_timestamp(lit("1999-01-01")))
      val l = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c),
          col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(revenue), 4).as("rev"))
        .orderBy(col("rev").desc, col("n_name"))
    }),

    // EXISTS → left-semi: no fact-side duplication, build side broadcast.
    "q_semijoin" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // NOT EXISTS → left-anti (customers who never placed an urgent order —
    // non-empty at every scale factor, unlike order-less customers).
    "q_antijoin" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // Window ranking over raw (exact) sort keys.
    "q_window_rank" -> ((s, dir) => {
      val wOrd = Window.partitionBy("l_suppkey")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      val wRank = Window.partitionBy("l_suppkey").orderBy(col("l_extendedprice").desc)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          row_number().over(wOrd).cast("long").as("rn"),
          rank().over(wRank).cast("long").as("price_rank"))
        .filter(col("rn") <= 5)
        .orderBy("l_suppkey", "rn")
    }),

    // Running aggregates / lag-lead; one shuffle shared by all three windows.
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"), col("o_totalprice"),
          round(sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
            .as("running_spend"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          row_number().over(w).cast("long").as("order_seq"))
        .orderBy("o_custkey", "order_seq")
    }),

    // Multi-level aggregation; NULL grouping levels labeled for determinism.
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")),

    // Explicit GROUPING SETS (the third multi-level-agg form next to
    // rollup/cube): per-flag totals, per-status totals, and the grand
    // total in ONE pass — Spark expands the sets map-side, so the input
    // is scanned once, not once per set.
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")),

    // Pivot with an explicit value list (no driver-side distinct scan).
    "q_pivot" -> ((s, dir) =>
      ev(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum("value"), 4))
        .orderBy("user_id")),

    // top-k per group through the bounded-heap aggregate: with O(5)
    // priority groups, the window form would sort every order of a
    // priority inside one reducer; the heap pre-reduces each map task to
    // ≤ k rows per group before the exchange. The heap's (score desc,
    // id asc) order is exactly the window's (o_totalprice desc,
    // o_orderkey) — output is identical.
    "q_topk_per_group" -> ((s, dir) =>
      Relational.topKByScore(
        t(s, dir, "orders")
          .select("o_orderpriority", "o_orderkey", "o_totalprice"),
        "o_orderpriority", "o_totalprice", "o_orderkey", 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rk"))
        .orderBy("o_orderpriority", "rk")),

    "q_distinct_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // Correlated scalar subquery shape (customers above their nation's
    // average balance), decorrelated to an aggregate + broadcast join: the
    // per-nation averages reduce map-side to 25 rows and broadcast back
    // onto the fact scan. The window formulation (avg().over(partitionBy
    // nation)) would hash every customer of a nation into ONE task — with
    // O(25) nations that's the per-source stratum anti-pattern again, just
    // without the sort.
    "q_scalar_subquery" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val avgs = c.groupBy("c_nationkey")
        .agg(avg("c_acctbal").as("nation_avg"))
      c.join(broadcast(avgs), "c_nationkey")
        .filter(col("c_acctbal") > col("nation_avg"))
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          round(col("nation_avg"), 4).as("nation_avg"))
        .orderBy("c_custkey")
    }),

    // Set algebra: INTERSECT / UNION / EXCEPT over key sets.
    "q_setops" -> ((s, dir) => {
      val building = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"))
      val bigSpenders = t(s, dir, "orders").filter(col("o_totalprice") > 200000)
        .select(col("o_custkey").as("k")).distinct()
      val auto = t(s, dir, "customer").filter(col("c_mktsegment") === "AUTOMOBILE")
        .select(col("c_custkey").as("k"))
      building.intersect(bigSpenders)
        .union(auto.except(bigSpenders))
        .distinct()
        .orderBy("k")
    }),

    // Full CUBE over two grouping columns.
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("n"), col("sum_qty"))
        .orderBy("rflag", "lstatus")),

    // Exact interpolated percentiles per group — as INTEGER CENTS RANK
    // MATH (r11, retiring the repo's last cross-engine float-agreement
    // gate: Spark `percentile()` vs DuckDB `quantile_cont()` agreeing on
    // raw doubles). See exactCentsPercentiles for the construction; the
    // values are the same interpolated percentiles (prices are exact
    // cents), derived through integer arithmetic both engines replay
    // bit-for-bit, with ONE final division of identical integers.
    "q_percentiles" -> ((s, dir) =>
      exactCentsPercentiles(s, dir).orderBy("l_returnflag")),

    // WEIGHTED percentiles (r8): each price weighted by its line quantity —
    // "what price does half the VOLUME trade at or below", which the
    // row-weighted q_percentiles cannot answer. Exact-integer discipline
    // end to end: prices/quantities fold as cents longs, the distribution
    // collapses FIRST to the O(groups × distinct prices) table (map-side
    // combined — at 100 TB that is the price domain, not the row count),
    // the cumulative weight rides a window over that aggregated table
    // (plan-lint's over-aggregate shape), and the crossing rule is integer
    // cross-multiplication (2·cum ≥ tot; 10·cum ≥ 9·tot) picking the
    // SMALLEST price whose cumulative weight reaches the target mass (the
    // left-continuous weighted quantile) — a total, float-free rule both
    // engines replay identically.
    "q_weighted_percentile" -> ((s, dir) => {
      // single consumer since r15 (guide §2.4): the group totals ride
      // max-cum / count windows on the SAME l_returnflag partitioning the
      // cumsum window established (weights are non-negative, so the max
      // cumulative IS the total) instead of a totals aggregate joined
      // back — so the distinct-price table needs no lineage cut and the
      // windows run straight over the map-side-combined aggregate
      val hist = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("pc"),
          round(col("l_quantity") * 100).cast("long").as("qc"))
        .groupBy("l_returnflag", "pc")
        .agg(sum("qc").as("w"))
      val wC = Window.partitionBy("l_returnflag").orderBy("pc")
      val wAll = Window.partitionBy("l_returnflag")
      val cum = hist.withColumn("cum", sum("w").over(wC))
        .withColumn("tot", max("cum").over(wAll))
        .withColumn("n_prices", count(lit(1)).over(wAll))
      def pick(num: Int, den: Int) =
        min(when(col("cum") * den >= col("tot") * num, col("pc")))
      cum
        .groupBy("l_returnflag")
        .agg(max("tot").as("total_weight"), max("n_prices").as("n_prices"),
          pick(1, 2).as("wp50c"), pick(9, 10).as("wp90c"))
        .select(col("l_returnflag"), col("total_weight"), col("n_prices"),
          (col("wp50c").cast("double") / lit(100.0)).as("weighted_p50"),
          (col("wp90c").cast("double") / lit(100.0)).as("weighted_p90"))
        .orderBy("l_returnflag")
    }),

    // Robust spread: median absolute deviation per group — the
    // outlier-resistant dispersion stat next to q_percentiles' quantiles.
    // Two exact interpolated-median passes, BOTH in integer rank math
    // (r11, same class retirement as q_percentiles): the median's
    // half-cent-exact numerator med2 = lo·(2−rem)+hi·rem rides as an
    // integer (units: half-cents), deviations |2·vc − med2| stay integers
    // (half-cents) derived from the HISTOGRAM (O(distinct prices) rows,
    // never a second corpus pass), and the deviation median interpolates
    // the same way (units: quarter-cents) — one final division each.
    "q_mad" -> ((s, dir) => {
      val hist = lineitemCentsHist(s, dir)
      val med = graft.operators.Checkpointing.cut(
        pctStatsFromHist(hist)
          .select(col("l_returnflag"),
            expr("lo50 * (2 - (n - 1) % 2) + coalesce(hi50, 0L) * ((n - 1) % 2)")
              .as("med2")))
      // no cut on the deviation histogram (r15): with pctStatsFromHist now
      // consuming its input ONCE (totals via the max-cum window), dev has a
      // single consumer — the eager localCheckpoint materialization of an
      // O(distinct deviations) table bought nothing
      val dev = hist.join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"),
          abs(col("vc") * 2 - col("med2")).as("vc"), col("cnt"))
        .groupBy("l_returnflag", "vc").agg(sum("cnt").as("cnt"))
      pctStatsFromHist(dev)
        .join(broadcast(med), "l_returnflag")
        .select(col("l_returnflag"), col("n"),
          (col("med2").cast("double") / 200.0).as("median"),
          (expr("CAST(lo50 * (2 - (n - 1) % 2) + coalesce(hi50, 0L) * ((n - 1) % 2) AS DOUBLE)")
            / 400.0).as("mad"))
        .orderBy("l_returnflag")
    }),

    // Calendar rollup: revenue by month — the partition-pruning shape of a
    // date-partitioned 100 TB lake.
    // Exact distinct counts from fixed-width mergeable bitmaps: keys are
    // dense integer ids (l_partkey), so a maxId/8-byte bitmap per group
    // OR-merges map-side and the exchange never carries the distinct key
    // set (what countDistinct's exact path shuffles) — exact AND fixed
    // state, the dense-id fast path next to q_approx_distinct's HLL.
    "q_bitmap_distinct" -> ((s, dir) => {
      graft.plans.NativeFunctions.register(s)
      // the key domain is the part dimension's surrogate range, so size
      // the bitmap FROM the ACTUAL key range (max+1, a metadata-cheap
      // dim-table scan) — a count() would assume 0-based dense keys and
      // trip the loud out-of-range guard on a 1-based generator
      // (classic TPC-H numbers partkeys from 1)
      val maxId = t(s, dir, "part")
        .agg(max(col("p_partkey")).cast("long")).head().getLong(0).toInt + 1
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(call_function("bitmap_distinct", col("l_partkey"), lit(maxId))
          .as("n_parts"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Bloom-pruned big-big join: a selective predicate on orders leaves a
    // key set too big to broadcast exactly at scale but cheap to summarize;
    // the Bloom of qualifying orderkeys rides a broadcast 1-row aggregate
    // and prunes lineitem BEFORE its join shuffle (~90% of probe rows never
    // exchange here). False positives are removed by the exact join, so the
    // result — and the oracle — is the plain join's, bit for bit.
    "q_bloom_join" -> ((s, dir) => {
      val sel = t(s, dir, "orders").filter(col("o_totalprice") > 450000.0)
      // the filter is a bounded driver-held artifact (16 KiB) embedded as
      // a plan literal — one object in codegen, not a per-row broadcast-
      // row getBinary copy (the centroid/codebook pattern)
      val bloom = graft.plans.Bloom.buildBytes(
        s, sel.select("o_orderkey"), "o_orderkey", 1 << 17, 5)
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .filter(graft.plans.Bloom.contains(s, lit(bloom), col("l_orderkey")))
        .join(sel.select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), round(sum(revenue), 4).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // TIME-range rolling aggregate (trailing 30-day revenue): the daily
    // pre-aggregation happens FIRST (map-side partials over the fact
    // table), so the RANGE window sorts only the tiny per-day table —
    // never the raw orders. Exact integer cents make the rolling sums
    // partition-order-free; epoch-day integers make the frame bounds
    // engine-neutral (no calendar arithmetic in the window).
    "q_rolling_30d" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val daily = t(s, dir, "orders")
        .select(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("epoch_day"), cents.as("cents"))
        .groupBy("epoch_day")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("day_cents"))
      val w = Window.orderBy("epoch_day").rangeBetween(-29, 0)
      daily
        .withColumn("rolling_cents", sum("day_cents").over(w))
        .select(col("epoch_day"), col("n_orders"),
          round(col("day_cents") / 100.0, 4).as("day_revenue"),
          round(col("rolling_cents") / 100.0, 4).as("rolling_30d_revenue"))
        .orderBy("epoch_day")
    }),

    // Year-over-year growth: monthly cents rollup (map-side partials over
    // the fact table), then lag(12) on the tiny month table. Growth is a
    // ratio of exact integer cents — engine-neutral division, 4dp.
    "q_yoy" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val monthly = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(sum(cents).as("cents"))
      val w = Window.orderBy("month") // yyyy-MM sorts chronologically
      monthly
        .withColumn("prev_cents", lag("cents", 12).over(w))
        .select(col("month"),
          round(col("cents") / 100.0, 4).as("revenue"),
          round(col("prev_cents") / 100.0, 4).as("revenue_last_year"),
          round((col("cents") - col("prev_cents")) * 100.0 / col("prev_cents"), 4)
            .as("yoy_growth_pct"))
        .orderBy("month")
    }),

    "q_monthly_rollup" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 4).as("revenue"))
        .orderBy("month")),

    // HyperLogLog approximate distinct next to the exact count — the
    // 100 TB cardinality path, GRADUATED to the hash gate (r8): a
    // REPLAYABLE HLL (Flajolet et al. 2007) built from md5-48-bit hashes
    // so every register — and therefore the estimate — is a pure function
    // of the data that DuckDB re-derives exactly. Layout: p=9 (m=512
    // registers, rsd 4.6%), bucket = top 9 hash bits, rho = leading-zero
    // count of the remaining 39 bits + 1 via length(bin(w)) (identical in
    // both engines). Scale shape: the register table is a map-side-
    // combined max over (group, bucket) — the exchange carries
    // O(groups × 512) rows, dedupe-free (max absorbs duplicates), exactly
    // the bounded-state mergeable-summary contract.
    // Replay discipline: Σ 2^-Mj folds as the EXACT integer Σ 2^(50-Mj)
    // (every term a long shift — order-free), the raw estimate
    // αm²·2^50/S is then pure fixed-order IEEE arithmetic on identical
    // operands (no transcendental — bit-identical across engines), and
    // the small-range branch m·ln(m/V) floors to a whole count: over its
    // ENTIRE finite input domain (V ∈ 1..511; V=512 is the exact ln(1)=0)
    // the estimate sits ≥ 3×10⁹ ulps from any integer boundary — measured
    // exhaustively — so a last-ulp libm difference (Java vs glibc diverge
    // on 2 of the 512 inputs) can never flip the floor. The engine's own
    // HLL++ stays as a gated ENVELOPE bit: |approx−exact|·10 ≤ exact is
    // integer cross-multiplication, and the oracle asserts it TRUE — the
    // r7 spec envelope promoted into the hash gate.
    "q_approx_distinct" -> ((s, dir) => {
      graft.plans.NativeFunctions.register(s)
      // ONE aggregate pass: the `hll_distinct` TypedImperativeAggregate
      // max-merges its 512-byte register buffer map-side, so the exchange
      // carries one fixed-width blob per group (the r8-interim register
      // groupBy carried O(groups × 512) rows; both compute the identical
      // estimate — the aggregate replays the same register algebra the
      // oracle re-derives in SQL). countDistinct/engine-HLL ride the same
      // scan.
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"),
          conv(substring(md5(col("l_partkey").cast("string")), 1, 12), 16, 10)
            .cast("long").as("h"))
        .groupBy("l_returnflag")
        .agg(call_function("hll_distinct", col("h")).as("sk"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey"), 0.02).as("engine_hll"))
        .select(col("l_returnflag"), col("exact_parts"),
          col("sk.hll_parts").as("hll_parts"),
          col("sk.hll_small_range").as("hll_small_range"),
          col("sk.hll_empty_regs").as("hll_empty_regs"),
          col("sk.reg_checksum").as("reg_checksum"),
          (abs(col("engine_hll") - col("exact_parts")) * lit(10L) <=
            col("exact_parts")).as("engine_hll_ok"))
        .orderBy("l_returnflag")
    }),

    // Quantile SKETCH next to the exact percentiles (q_percentiles): the
    // mergeable-summary shape that replaces an exact global per-group sort
    // at 100 TB, GRADUATED to the hash gate (r8) via a REPLAYABLE
    // fixed-bin histogram sketch: cents values bucket by 2^16 (b = vc>>16,
    // a few hundred buckets over the price domain), bucket counts are
    // exact integers map-side-combined into O(groups × buckets) state, and
    // the quantile estimate interpolates inside the first bucket whose
    // cumulative count crosses the target rank — the crossing test is
    // INTEGER cross-multiplication (20·cum ≥ q·20·n, never a float rank)
    // and the interpolation is fixed-order IEEE arithmetic on exact
    // integer operands, so DuckDB re-derives the estimate bit-for-bit
    // (floor-quantized 4dp). The cumulative window runs over the already-
    // aggregated bucket table (O(groups × buckets) rows — the plan-lint
    // over-aggregate shape, never the raw scan). The engine's own
    // approx_percentile (GK, accuracy 1000 ⇒ rank error ≤ n/1000) stays as
    // gated ENVELOPE bits: |ap − exact| ≤ 0.1·exact replayed as literal
    // TRUE — the r7 spec envelope promoted into the hash gate.
    "q_approx_percentiles" -> ((s, dir) => {
      val W = 65536L
      // single consumer since r15 (guide §2.4): totals ride max-cum /
      // count windows on the cumsum window's own l_returnflag
      // partitioning (counts are positive ⇒ max cumulative = total)
      // instead of a totals aggregate joined back, so the O(groups ×
      // buckets) table needs no lineage cut
      val hist = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("vc"))
        .groupBy(col("l_returnflag"), shiftright(col("vc"), 16).as("b"))
        .agg(count(lit(1)).as("cnt"))
      val wC = Window.partitionBy("l_returnflag").orderBy("b")
      val wAll = Window.partitionBy("l_returnflag")
      val cum = hist
        .withColumn("cum", sum("cnt").over(wC))
        .withColumn("cum_before", col("cum") - col("cnt"))
        .withColumn("n", max("cum").over(wAll))
        .withColumn("n_buckets", count(lit(1)).over(wAll))
      // the single crossing bucket for rank target t = q·20·n: 20·cum ≥ t
      // and 20·cum_before < t — exactly one row per group, picked by the
      // null-skipping max
      def pick(q20: Int) = {
        val tgt = col("n") * q20
        max(when(col("cum") * 20 >= tgt && col("cum_before") * 20 < tgt,
          ((col("b") * W).cast("double") +
            lit(65536.0) * (tgt - col("cum_before") * 20).cast("double") /
              (col("cnt") * 20).cast("double")) / lit(100.0)))
      }
      val sk = cum
        .groupBy("l_returnflag")
        .agg(max("n").as("n"), max("n_buckets").as("n_buckets"),
          pick(10).as("h50"), pick(19).as("h95"))
      // exact audit columns via the shared integer-cents rank math (r11 —
      // no percentile()-vs-quantile_cont float agreement anywhere); the
      // engine's GK sketch (array form: ONE sketch per group computes both
      // quantiles) stays as the gated envelope bits against those exact
      // values
      val gk = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("ap"))
        .select(col("l_returnflag"),
          element_at(col("ap"), 1).as("ap50"),
          element_at(col("ap"), 2).as("ap95"))
      sk.join(exactCentsPercentiles(s, dir), "l_returnflag")
        .join(gk, "l_returnflag")
        .select(col("l_returnflag"), col("n"), col("n_buckets"),
          (floor(col("h50") * 10000) / 10000).as("hist_p50"),
          (floor(col("h95") * 10000) / 10000).as("hist_p95"),
          col("p50"), col("p95"),
          (abs(col("ap50") - col("p50")) <= lit(0.1) * col("p50")).as("engine_p50_ok"),
          (abs(col("ap95") - col("p95")) <= lit(0.1) * col("p95")).as("engine_p95_ok"))
        .orderBy("l_returnflag")
    }),

    // HLL register-table SET ALGEBRA (r8), completing the HLL story next
    // to q_approx_distinct's per-group aggregate: per-segment register
    // TABLES (the materialized-sketch-table pattern — one corpus scan
    // builds O(segments × 512) rows) compose into pairwise UNION distinct
    // estimates WITHOUT rescanning rows — HLL union is exact register
    // max-merge (union of the underlying sets' sketches IS the max of
    // registers, no approximation added by the merge), so a warehouse
    // keeps one register table per partition/day and answers any
    // union-cardinality question as O(512)-row algebra. Exact
    // countDistinct audit columns ride the same single scan. (HLL cannot
    // intersect directly — inclusion–exclusion or the KMV sketch
    // (q_sketch_setops) own that case; this key owns the union law.)
    // gate posture: audit=true replays the exact union next to the sketch
    // (the oracle checks both); the DEFAULT (audit=false) is the
    // production plan — ONE corpus scan, the pair answers pure register
    // algebra (pinned by the hllUnion single-scan spec)
    "q_hll_union" -> ((s, dir) =>
      hllUnion(t(s, dir, "lineitem"), "l_returnflag", "l_partkey", audit = true)),

    // KMV (k-minimum-values) distinct sketch next to q_approx_distinct's
    // HLL++: same bounded-state mergeable-summary scale shape (the exchange
    // carries O(groups × k) longs, no distinct pre-shuffle — dedupe happens
    // INSIDE the bounded buffer, map-side), but the retained state is k
    // md5-derived 48-bit hashes, so the estimator is EXACTLY replayable by
    // any engine that computes md5 — this one is hash-gated where HLL++
    // must stay rows-only. 48 bits (12 hex chars) keeps every hash exactly
    // double-representable (< 2^53) so the (k−1)/h₍ₖ₎ division is
    // bit-identical across engines.
    "q_kmv_distinct" -> ((s, dir) => {
      graft.plans.NativeFunctions.register(s)
      val k = 64
      val two48 = 281474976710656.0 // 2^48
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"),
          conv(substring(md5(col("l_partkey").cast("string")), 1, 12), 16, 10)
            .cast("long").as("h"))
        .groupBy("l_returnflag")
        .agg(
          call_function("bottomk_distinct", col("h"), lit(k)).as("mins"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"),
          // fewer than k distinct hashes retained ⇒ the buffer IS the
          // distinct set — report it exactly (standard KMV small-domain
          // case); otherwise (k−1) / normalized k-th minimum
          round(when(size(col("mins")) < k, size(col("mins")).cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (element_at(col("mins"), k).cast("double") / lit(two48))), 4)
            .as("kmv_parts"),
          col("exact_parts"))
        .orderBy("l_returnflag")
    }),

    // STREAMING KMV, gated (r8): the live dashboard's distinct estimator —
    // `SketchStream.kmvDistinct` run over a 4-chunk file replay of the
    // lake, state ONE k-bounded hash buffer per segment — must equal the
    // nightly batch report, and since the KMV buffer is a pure function of
    // the key-hash SET, the DuckDB batch replay (the q_kmv_distinct SQL)
    // oracles the STREAMING engine's final state directly. Chunk order is
    // irrelevant by construction (buffer merge is commutative/idempotent —
    // the split-invariance StreamingSpec law, now inside the hash gate).
    // Final state per segment is picked by the KMV partial order (size
    // never shrinks; at equal size the sorted buffer is elementwise ≤ its
    // predecessors), never by sink append order.
    "q_kmv_stream" -> ((s, dir) => {
      import s.implicits._
      val k = 64
      val feedDir = kmvFeedMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate.sessionTempDir("graft-kmv-stream") { td =>
          t(s, dir, "lineitem")
            .select(col("l_returnflag").as("segment"),
              conv(substring(md5(col("l_partkey").cast("string")), 1, 12), 16, 10)
                .cast("long").as("key_hash"))
            .repartition(4)
            .write.parquet(s"$td/feed")
        }
        s"$tmp/feed"
      }
      val schema =
        org.apache.spark.sql.Encoders.product[graft.streaming.SegmentKey].schema
      val stream = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(feedDir).as[graft.streaming.SegmentKey]
      val finals = graft.streaming.StreamGate.run(s,
          graft.streaming.SketchStream.kmvDistinct(stream, k), "kmv_gate",
          org.apache.spark.sql.streaming.OutputMode.Update()) { sinkTable =>
        sinkTable.as[graft.streaming.SketchRow].collect()
      }.groupBy(_.segment).toSeq.map { case (seg, rows) =>
        // final state per segment by the KMV partial order (size never
        // shrinks; equal-size buffers are elementwise dominated) — never
        // by sink append order
        val last = {
          implicit val arrOrd: Ordering[Seq[Long]] = Ordering.Implicits.seqOrdering
          rows.minBy(r => (-r.mins.size, r.mins))
        }
        (seg, last.mins.size.toLong, last.kmv_estimate)
      }
      finals.toDF("l_returnflag", "n_mins", "est")
        .select(col("l_returnflag"), col("n_mins"),
          round(col("est"), 4).as("kmv_parts"))
        .orderBy("l_returnflag")
    }),

    // Deterministic-sample percentiles next to q_approx_percentiles' sketch:
    // the OTHER scale path around an exact global per-group sort — a
    // content-keyed md5 coin keeps ~25% of rows (map-only, pushdown-
    // friendly, rerun/reshard-stable), and the exact interpolated
    // percentile runs over the bounded sample. The coin is a pure function
    // of the row key, so DuckDB replays the sample — and therefore the
    // estimate — bit-for-bit (hash-gated, where the quantile sketch is
    // rows-only by construction).
    // same deterministic md5 coin; the percentiles over the sample ride
    // the shared integer-cents rank math (r11 — no float agreement)
    "q_sampled_percentiles" -> ((s, dir) =>
      pctStatsFromHist(centsHist(t(s, dir, "lineitem")
          .filter(substring(md5(concat_ws(":",
            col("l_orderkey").cast("string"),
            col("l_linenumber").cast("string"))), 1, 1) < "4")
          .select(col("l_returnflag"), priceCents)))
        .select(col("l_returnflag"), col("n").as("n_sampled"),
          col("p50"), col("p95"))
        .orderBy("l_returnflag")),

    // Sketch ROLLUP — trailing-7-day distinct users from per-day KMV
    // sketches. Distinct counts don't sum, so a rolling-distinct query
    // either re-touches raw rows per window (the exact audit below — at
    // 100 TB that is 7 corpus scans' worth of distinct state per day) or
    // stores one bounded sketch per partition and MERGES sketches per
    // window — the pre-aggregated sketch-table pattern this query runs:
    // one corpus scan builds the O(days × k) sketch table, every window
    // after that is array algebra on a tiny aggregated table (the rolling
    // window sits over O(days) rows, plan-lint's over-aggregate shape).
    // Merge = distinct-union of hash sets, keep k smallest — exactly the
    // q_sketch_setops union law, so the estimate replays bit-for-bit.
    "q_rolling_distinct" -> ((s, dir) => {
      graft.plans.NativeFunctions.register(s)
      val k = 64
      val two48 = 281474976710656.0 // 2^48
      val daily = ev(s, dir)
        .select(expr("ts_us div 86400000000").as("day"), col("user_id"),
          conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
            .cast("long").as("h"))
        .groupBy("day")
        .agg(call_function("bottomk_distinct", col("h"), lit(k)).as("mins"))
      val tu = ev(s, dir)
        .select(expr("ts_us div 86400000000").as("day"), col("user_id"))
        .distinct()
      // exact audit: re-touches the distinct (day, user) rows per window —
      // the cost the sketch rollup exists to avoid; kept at gate SF
      val exact = daily.select(col("day").as("d"))
        .join(tu, col("day").between(col("d") - 6, col("d")))
        .groupBy("d")
        .agg(countDistinct("user_id").as("exact_rolling_users"))
        .withColumnRenamed("d", "day")
      val w = Window.orderBy("day").rangeBetween(-6, 0)
      daily
        .withColumn("n_days", count(lit(1)).over(w))
        .withColumn("m", slice(array_sort(array_distinct(
          flatten(collect_list(col("mins")).over(w)))), 1, k))
        .withColumn("msize", size(col("m")))
        .select(col("day"), col("n_days"),
          round(when(col("msize") < k, col("msize").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (element_at(col("m"), k).cast("double") / lit(two48))), 4)
            .as("kmv_rolling_users"))
        .join(exact, "day")
        .orderBy("day")
    }),

    // KMV sketch SET ALGEBRA (Beyer et al., SIGMOD 2007 "On synopses for
    // distinct-value estimation under multiset operations"): per-segment
    // KMV sketches compose into union/intersection/Jaccard ESTIMATES
    // without touching the rows again. This is the pre-aggregated
    // sketch-table pattern that matters at 100 TB: the corpus is scanned
    // once into an O(segments × k) sketch table (bottomk_distinct is a
    // partial-aggregating bounded buffer — the exchange carries ≤ k longs
    // per segment per map task), and every pairwise overlap question
    // afterwards is algebra on that tiny table — a broadcast self-join
    // over O(segments²) rows of k-length arrays, never a re-scan.
    //   union:  merge the two hash sets, keep the k smallest → standard
    //           KMV estimate on the merged sketch.
    //   intersection: of the k smallest union hashes, the fraction present
    //           in BOTH input sketches estimates the Jaccard ρ;
    //           |A∩B| ≈ ρ · |A∪B|.
    // Everything is md5-derived 48-bit integer hashes + one double
    // division, so DuckDB replays the estimator bit-for-bit (hash-gated).
    // The exact columns are the audit a data team keeps at small SF and
    // drops at corpus scale (the one row-scale join here).
    "q_sketch_setops" -> ((s, dir) => {
      graft.plans.NativeFunctions.register(s)
      val k = 64
      val two48 = 281474976710656.0 // 2^48
      val li = t(s, dir, "lineitem")
        .select(date_format(col("l_shipdate"), "yyyy").as("y"),
          col("l_partkey"),
          conv(substring(md5(col("l_partkey").cast("string")), 1, 12), 16, 10)
            .cast("long").as("h"))
      val sk = li.groupBy("y")
        .agg(call_function("bottomk_distinct", col("h"), lit(k)).as("mins"),
          countDistinct(col("l_partkey")).as("exact_n"))
      // exact pairwise overlap audit: per-part year lists are bounded by
      // the number of years, so the co-occurrence self-join is linear in
      // distinct (year, part) pairs
      val tu = li.select(col("y"), col("l_partkey").as("p")).distinct()
      val ov = tu.as("a")
        .join(tu.as("b"), col("a.p") === col("b.p") && col("a.y") < col("b.y"))
        .groupBy(col("a.y").as("ya"), col("b.y").as("yb"))
        .agg(count(lit(1)).as("exact_overlap"))
      sk.as("a").join(broadcast(sk.as("b")), col("a.y") < col("b.y"))
        .select(col("a.y").as("year_a"), col("b.y").as("year_b"),
          col("a.mins").as("ma"), col("b.mins").as("mb"),
          col("a.exact_n").as("ea"), col("b.exact_n").as("eb"))
        .withColumn("m",
          slice(array_sort(array_union(col("ma"), col("mb"))), 1, k))
        .withColumn("msize", size(col("m")))
        .withColumn("c", size(array_intersect(col("m"),
          array_intersect(col("ma"), col("mb")))))
        // msize < k ⇔ both inputs were complete hash sets → exact union
        .withColumn("union_est",
          when(col("msize") < k, col("msize").cast("double"))
            .otherwise(lit((k - 1).toDouble) /
              (element_at(col("m"), k).cast("double") / lit(two48))))
        .join(ov, col("year_a") === col("ya") && col("year_b") === col("yb"),
          "left")
        .select(col("year_a"), col("year_b"),
          round(col("union_est"), 4).as("kmv_union"),
          round(col("c").cast("double") / col("msize") * col("union_est"), 4)
            .as("kmv_inter"),
          round(col("c").cast("double") / col("msize"), 4).as("kmv_jaccard"),
          (col("ea") + col("eb") - coalesce(col("exact_overlap"), lit(0L)))
            .as("exact_union"),
          coalesce(col("exact_overlap"), lit(0L)).as("exact_overlap"))
        .orderBy("year_a", "year_b")
    }),

    // As-of join: each purchase ← latest signup at-or-before it, per user.
    "q_asof_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us", "value")
      val signups = e.filter(col("event_type") === "signup")
        .select("event_id", "user_id", "ts_us", "value")
      Relational.asofJoin(purchases, signups, "user_id", "ts_us", "ts_us", "event_id",
          Seq("ts_us" -> "signup_ts_us", "value" -> "signup_value"))
        .select("event_id", "user_id", "ts_us", "value", "signup_ts_us", "signup_value")
        .orderBy("event_id")
    }),

    // Interval join: purchases within 10 min after a click, same user.
    "q_range_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts_us").as("click_us"))
      val buys = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("b_user"),
          col("ts_us").as("buy_us"), col("value"))
      clicks.join(buys,
          col("user_id") === col("b_user") &&
            col("buy_us") >= col("click_us") &&
            col("buy_us") <= col("click_us") + lit(600000000L))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (col("buy_us") - col("click_us")).as("delta_us"), col("value"))
        .orderBy("click_id", "purchase_id")
    }),

    // Tumbling 1h windows (batch view of the streaming aggregation).
    // sums fold as EXACT cents longs with one final display division, and
    // the mean is integer floor division to 4dp — round(avg(double), 4)
    // hit a genuine 4dp boundary at sf0.1 (58.4737 vs .4738: the engines'
    // summation orders differ and HALF_UP vs round-product diverge on the
    // boundary); the integer form is order-free and engine-exact
    "q_tumbling_window" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
        .groupBy(window(col("ts_t"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("c"))
        .select(unix_millis(col("w.start")).as("hour_start_ms"),
          col("event_type"), col("n"),
          (col("c").cast("double") / 100.0).as("sum_value"),
          // FLOOR division (pmod is non-negative, so the adjusted
          // numerator divides exactly): Spark's bare `div` truncates
          // toward zero while the oracle's `//` floors — they diverge on
          // a negative cents sum, and nothing in the schema forbids one
          (expr("(c * 100 - pmod(c * 100, n)) div n").cast("double")
            / 10000.0).as("avg_value"))
        .orderBy("hour_start_ms", "event_type")),

    // HOPPING (sliding) windows — the streaming-SQL staple tumbling can't
    // express ("last 30 minutes, refreshed every 10"): Spark's native
    // window(ts, span, slide) assigns each event to span/slide = 3
    // overlapping windows at the scan (map-side explode, no self-join of
    // the log against a window spine), then one groupBy over the window
    // starts. The oracle replays the assignment as pure integer floor
    // arithmetic — start_i = (ts_us div slide − i)·slide for i < 3 — which
    // is exactly Spark's epoch-aligned window rule.
    "q_hopping_window" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("ts_t", timestamp_micros(col("ts_us")))
        .groupBy(window(col("ts_t"), "30 minutes", "10 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .select(unix_millis(col("w.start")).as("win_start_ms"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start_ms", "event_type")),

    // Gap-based sessionization (30 min) + per-session rollup. The
    // sessionized frame is a memoized stored artifact (q_concurrency reads
    // the same one — a production warehouse materializes sessions once per
    // day, not per query).
    "q_sessionize" -> ((s, dir) =>
      sessionized(s, dir)
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min("ts_us").as("session_start_us"),
          max("ts_us").as("session_end_us"),
          round(sum("value"), 4).as("session_value"))
        .orderBy("user_id", "session_id")),

    // INTERVAL COVERAGE (merged-interval union time) — the third interval
    // operator next to gap-splitting (q_sessionize) and the overlap
    // sweep-line (q_concurrency): each event opens a 15-minute activity
    // interval and the per-user answer is the measure of the UNION of
    // those intervals (overlaps counted once). The island construction is
    // the classic exclusive running-max-of-end: an interval starts a new
    // island iff its start lies strictly beyond everything seen before it
    // in (ts, id) order; touching half-open intervals merge. Windows are
    // user-partitioned (per-key fan-in — never a global ordered window);
    // all arithmetic is epoch-microsecond longs, so the union measure is
    // exact set algebra on both engines.
    "q_interval_coverage" -> ((s, dir) => {
      val spanUs = 900000000L
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val prevMax = max("en").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
      val islands = ev(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          (col("ts_us") + lit(spanUs)).as("en"))
        .withColumn("ni",
          when(prevMax.isNull || col("ts_us") > prevMax, 1).otherwise(0))
        .withColumn("island", sum("ni").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      islands.groupBy("user_id", "island")
        .agg(min("ts_us").as("st"), max("en").as("ien"),
          count(lit(1)).as("n_ev"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("ien") - col("st")).as("covered_us"),
          max(col("ien") - col("st")).as("longest_us"),
          sum("n_ev").as("n_events"))
        .orderBy("user_id")
    }),

    // Peak concurrency (max simultaneously-open sessions per day) via the
    // boundary SWEEP-LINE: each session becomes a +1 at its start and a −1
    // at its end, and the global running sum of deltas at any boundary IS
    // the number of open sessions there. This dodges the two classic
    // scale traps at once: the O(n²) interval self-join ("count intervals
    // overlapping each instant"), and the single-reducer global ordered
    // window (`Window.orderBy` with no partition) — the running sum is the
    // two-level distributed PrefixSum (range-partitioned slices, O(parts)
    // partial offsets broadcast back). Ties order (ts, delta DESC, ids):
    // starts before ends at the same instant ⇒ closed-interval semantics —
    // touching sessions overlap, single-event sessions still count.
    "q_concurrency" -> ((s, dir) => {
      val sessions = sessionized(s, dir)
        .groupBy("user_id", "session_id")
        .agg(min("ts_us").as("st"), max("ts_us").as("en"))
      Relational.concurrency(sessions, "st", "en", Seq("user_id", "session_id"))
        .groupBy(expr("ts div 86400000000").as("day"))
        .agg(max("cur").as("peak_concurrent"),
          count(when(col("delta") === 1, 1)).as("sessions_started"))
        .orderBy("day")
    }),

    // Calendar-spine GAP FILL (time-series resample): per user, one row per
    // day of the user's own active span, carrying the day's CLOSE value
    // (last event by (ts, event_id) — a deterministic row pick, never a
    // float fold) forward across days with no events. The spine is a
    // per-user `sequence(min_day, max_day)` explode — map-side, no global
    // calendar join — and the fill is `last(_, ignoreNulls)` over a window
    // PARTITIONED BY user (bounded partitions; never a global ordered
    // window). 100 TB shape: one groupBy(user, day) absorbing the scan
    // map-side, one per-user window; spine rows ≤ users × span-days.
    "q_gap_fill" -> ((s, dir) => {
      val dayUs = 86400000000L
      val e = ev(s, dir).withColumn("day", expr(s"ts_us div $dayUs"))
      val wPick = Window.partitionBy("user_id", "day")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val daily = e
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        // floor-quantize, never round(·,4): a close value landing exactly
        // on a .00005 boundary rounds differently across engines (the
        // emb_pca/text_readability half-boundary rule)
        .select(col("user_id"), col("day"),
          (floor(col("value") * lit(10000)) / lit(10000)).as("close_value"))
      val spine = e.groupBy("user_id")
        .agg(min("day").as("d0"), max("day").as("d1"))
        .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      val wFill = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("filled", col("close_value").isNull)
        .withColumn("value_filled", last("close_value", ignoreNulls = true).over(wFill))
        .select("user_id", "day", "value_filled", "filled")
        .orderBy("user_id", "day")
    }),

    // Half-life DECAYED aggregate (recency weighting — the "how much does
    // this segment matter NOW" score): weight = 2^(-age_weeks), week
    // granularity so every weight is an EXACT power of two (a fractional
    // exponent would ride libm pow, whose last ulp differs across
    // engines). Replay discipline: value × 2^-k × 1e4 is two IEEE
    // multiplies in fixed order (bit-identical in any engine), the per-row
    // round lands on a long, and the group fold is an integer sum — order-
    // free, so the result replays under any partitioning. The reference
    // "now" is the corpus max day on a broadcast 1-row agg (no driver
    // collect). 100 TB: map-only scan + one 5-key groupBy.
    "q_decay_agg" -> ((s, dir) => {
      val dayUs = 86400000000L
      val e = ev(s, dir).withColumn("day", expr(s"ts_us div $dayUs"))
      val ref = e.agg(max("day").as("ref_day"))
      e.crossJoin(broadcast(ref))
        .withColumn("wk", expr("(ref_day - day) div 7"))
        .withColumn("dec4",
          round(col("value") * pow(lit(0.5), col("wk")) * lit(10000)).cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum("dec4") / lit(10000.0)).as("decayed_sum"),
          round(sum("dec4") / (lit(10000.0) * count(lit(1))), 4).as("decayed_mean"))
        .withColumn("decayed_sum", round(col("decayed_sum"), 4))
        .orderBy("event_type")
    }),

    // MAX DRAWDOWN per user (the running-peak-to-trough composite — THE
    // window pattern finance/monitoring runs that nothing else in the
    // suite exercises: running sum → running max → gap → global max).
    // Everything is cents-scaled integer arithmetic inside user-partitioned
    // windows (bounded by a user's fan-in, never a global ordered window);
    // the two display divisions run once per user row. (ts, event_id)
    // makes the running order total, so the fold replays exactly.
    "q_drawdown" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev(s, dir)
        .withColumn("vc", round(col("value") * lit(100)).cast("long"))
        .withColumn("cum", sum("vc").over(w))
        .withColumn("peak", max("cum").over(w))
        .withColumn("dd", col("peak") - col("cum"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(max("peak") / lit(100.0), 4).as("peak_value"),
          round(max("dd") / lit(100.0), 4).as("max_drawdown"))
        .orderBy("user_id")
    }),

    // CUSUM CHANGEPOINT detection per metric series: the (ts, event) where
    // the cumulative deviation from the series mean peaks — the classic
    // "when did the level shift" statistic. Exactness trick: the textbook
    // cusum_i = Σ(x_j − μ) is fractional (μ = S/n); multiplying through by
    // n gives n·prefix_i − i·S — pure INTEGERS (decimal(38,0) products, no
    // float drift, replayable in any engine). Scale shape: both running
    // quantities (prefix sum, row index) ride the two-level distributed
    // PrefixSum — a per-type window over raw rows would be the r3
    // single-reducer stratum sort — and the argmax is a map-side-combined
    // max_by aggregate, O(types) rows out.
    "q_cusum_changepoint" -> ((s, dir) => {
      val e = ev(s, dir)
        .withColumn("vc", round(col("value") * lit(100)).cast("long"))
        .withColumn("one", lit(1L))
      val order = Seq(col("ts_us"), col("event_id"))
      val withCum = graft.operators.PrefixSum.cumSums(e, "event_type", order,
        Seq("vc" -> "cum", "one" -> "idx"))
      val stats = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("s"))
      val scored = withCum.join(broadcast(stats), "event_type")
        // cast BEFORE the products (the oracle's HUGEINT semantics): a
        // long×long n·prefix overflows — and ANSI-throws — at corpus scale
        .withColumn("cusum",
          col("n").cast("decimal(38,0)") * col("cum") -
            col("idx").cast("decimal(38,0)") * col("s"))
        .withColumn("mag", abs(col("cusum")))
      scored.groupBy("event_type")
        .agg(max_by(
          struct(col("ts_us"), col("event_id"), col("cusum"), col("n")),
          struct(col("mag"), (-col("ts_us")).as("a"), (-col("event_id")).as("b")))
          .as("cp"))
        .select(col("event_type"),
          col("cp.ts_us").as("change_ts_us"),
          col("cp.event_id").as("change_event_id"),
          round(col("cp.cusum").cast("double") /
            (col("cp.n").cast("double") * lit(100.0)), 4).as("mean_shift_mass"))
        .orderBy("event_type")
    }),

    // Z-SCORE anomaly flagging: events whose value sits > 3σ from its
    // type's mean — the monitoring primitive over a metric stream. The
    // per-type moments come from EXACT cents-scaled integer sums (the
    // q_corr_stats discipline: order-free in any partitioning; the
    // mean/σ formulas run ONCE per type in doubles with oracle-identical
    // operand order), the per-row z is three IEEE ops on identical
    // operands — so the |z| > 3 cut replays bit-for-bit — and the O(types)
    // stats table broadcasts back over a map-only corpus pass. Output
    // z floor-quantizes (the half-boundary rule).
    "q_zscore_outliers" -> ((s, dir) => {
      val e = ev(s, dir)
        .withColumn("vc", round(col("value") * lit(100)).cast("long"))
      val nD = col("n").cast("double")
      val stats = e.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vc").as("sx"),
          // widen BEFORE the square (the q_cusum_changepoint discipline):
          // a long×long square throws under ANSI at |vc| > √(2⁶³−1) ≈
          // 3.04×10⁹ cents, and even below that the per-GROUP sum of
          // squares leaves long range long before the per-row product
          // does — decimal(38,0) covers both, matching the oracle's
          // HUGEINT-first product
          sum(col("vc").cast("decimal(38,0)") * col("vc")).as("sx2"))
        .select(col("event_type"),
          (col("sx").cast("double") / col("n")).as("mean_c"),
          sqrt((nD * col("sx2").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) /
            (nD * (col("n") - lit(1)).cast("double"))).as("sd_c"))
      e.join(broadcast(stats), "event_type")
        .withColumn("z", (col("vc").cast("double") - col("mean_c")) / col("sd_c"))
        .filter(abs(col("z")) > lit(3.0))
        .select(col("event_id"), col("event_type"), col("value"),
          (floor(col("z") * lit(10000)) / lit(10000)).as("z"))
        .orderBy("event_id")
    }),

    // STREAMING online anomaly detection, gated (r8): the live analog of
    // q_zscore_outliers — each event judged against the EXACT integer
    // moments of everything strictly before it in its series (the online
    // monitor's semantic; per-series state is three integers + the last
    // position) — run as a real Structured Streaming job over a
    // time-ordered 4-chunk file replay (chunks written sequentially so
    // file mtimes fix the trigger order; within a batch the operator
    // sorts by (ts_us, event_id), so the replay is the in-order capture
    // feed). The ORACLE replays the whole online semantics relationally:
    // prior-moment windows (ROWS UNBOUNDED PRECEDING TO 1 PRECEDING),
    // identical once-per-row double formulas, warmup ≥ 30, σ > 0 guard,
    // |z| > 3 cut, floor-quantized z — the streaming ENGINE's emission
    // set inside the hash gate.
    "q_zscore_stream" -> ((s, dir) => {
      import s.implicits._
      // r12 bench hygiene: ride the SHARED ts_us-quartile behavior feed
      // (identical chunk keying; this gate's payload is a rename of a
      // column subset — projected after the readStream)
      val feedDir = BehaviorQueries.behaviorFeedDir(s, dir)
      val stream = s.readStream
        .schema(BehaviorQueries.behaviorFeedSchemaDdl)
        .option("maxFilesPerTrigger", 1)
        .parquet(feedDir)
        .select(col("event_type").as("series"), col("event_id"),
          col("ts_us"), col("value"))
        .as[graft.streaming.MetricEvent]
      graft.streaming.StreamGate.run(s,
          graft.streaming.SketchStream.zscoreOutliers(stream), "zs_gate",
          org.apache.spark.sql.streaming.OutputMode.Append()) { sinkTable =>
        // lineage-cut (distributed), never a driver collect: the anomaly
        // emission set is O(outliers) and stays on executors end-to-end
        graft.operators.Checkpointing.cut(sinkTable)
      }.orderBy("series", "event_id")
    }),

    // JSON extraction from the props payload.
    "q_json_extract" -> ((s, dir) =>
      ev(s, dir)
        .select(col("event_id"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .orderBy("event_id")),

    // Correlation / regression-slope statistics per group, computed from
    // EXACT integer sums: values are 2dp currency/quantity, so cents-scaled
    // longs make every sum exact in any partition order; the corr/beta
    // formulas then run ONCE per group in doubles with the identical
    // operand order as the oracle (bit-identical IEEE) — the built-in
    // `corr()` aggregate accumulates FLOAT co-moments in partition order
    // and could not hash-match. Products are summed as decimal(38,0): the
    // per-row long product is safe (< 2^63) but a group's sum is not.
    "q_corr_stats" -> ((s, dir) => {
      val qc = round(col("l_quantity") * 100).cast("long")
      val pc = round(col("l_extendedprice") * 100).cast("long")
      val g = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(qc).as("sx"), sum(pc).as("sy"),
          sum((qc * pc).cast("decimal(38,0)")).as("sxy"),
          sum((qc * qc).cast("decimal(38,0)")).as("sx2"),
          sum((pc * pc).cast("decimal(38,0)")).as("sy2"))
      val (nD, sxD, syD) =
        (col("n").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
      val (sxyD, sx2D, sy2D) =
        (col("sxy").cast("double"), col("sx2").cast("double"), col("sy2").cast("double"))
      g.select(col("l_returnflag"), col("n"),
          round((nD * sxyD - sxD * syD) /
            (sqrt(nD * sx2D - sxD * sxD) * sqrt(nD * sy2D - syD * syD)), 4)
            .as("corr_qty_price"),
          // cents scaling cancels in the slope (numerator and denominator
          // both carry the 1e4 factor)
          round((nD * sxyD - sxD * syD) / (nD * sx2D - sxD * sxD), 4)
            .as("beta_price_per_qty"))
        .orderBy("l_returnflag")
    }),

    // Per-entity TREND FIT (OLS of daily revenue on time, per supplier) —
    // the drift-monitoring primitive ("which suppliers are ramping up or
    // decaying, and how well does a line explain it"). Two-level shape: the
    // fact table collapses map-side to the O(suppliers × days) daily table
    // (ONE linear shuffle), then all five regression sums fold over that
    // bounded table — no window, no second corpus pass. Sums are exact
    // integers (cents / epoch days; products cast decimal-BEFORE-multiply —
    // a 100 TB supplier-day's squared cents exceeds a long), and the
    // slope/intercept/r² formulas run ONCE per supplier in doubles with
    // identical operand order both engines, floor-quantized. Suppliers
    // with one observed day carry no trend and are excluded exactly
    // (n ≥ 2 distinct days ⇒ the x-variance is a positive integer).
    "q_regression" -> ((s, dir) => {
      val daily = supplierDaily(s, dir)
      val dDec = col("d").cast("decimal(38,0)")
      val yDec = col("yc").cast("decimal(38,0)")
      val g = daily.groupBy("l_suppkey")
        .agg(count(lit(1)).as("n"),
          sum("d").as("sx"), sum("yc").as("sy"),
          sum(dDec * yDec).as("sxy"),
          sum(dDec * dDec).as("sx2"),
          sum(yDec * yDec).as("sy2"))
        .filter(col("n") >= 2)
      val (nD, sxD, syD) =
        (col("n").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
      val (sxyD, sx2D, sy2D) =
        (col("sxy").cast("double"), col("sx2").cast("double"), col("sy2").cast("double"))
      val num = nD * sxyD - sxD * syD
      val den = nD * sx2D - sxD * sxD
      val slope = num / den
      // a zero-variance (constant) series is fit EXACTLY by the flat line:
      // r² is 0/0 there — pinned to 1.0 by an exact integer test, never a
      // float NaN crossing the gate
      val vy = col("n").cast("decimal(38,0)") * col("sy2") -
        col("sy").cast("decimal(38,0)") * col("sy").cast("decimal(38,0)")
      g.select(col("l_suppkey"), col("n").as("n_days"),
          (floor(slope / 100.0 * 10000) / 10000).as("slope_per_day"),
          (floor((syD - slope * sxD) / nD / 100.0 * 10000) / 10000)
            .as("intercept"),
          when(vy === 0, lit(1.0))
            .otherwise(floor(num * num / (den * (nD * sy2D - syD * syD))
              * 10000) / 10000)
            .as("r2"))
        .orderBy("l_suppkey")
    }),

    // Lag-1 AUTOCORRELATION of each supplier's daily-revenue series — the
    // time-series dependence diagnostic next to q_corr_stats's cross-
    // variable correlation: does today's revenue predict tomorrow's? Pairs
    // are consecutive OBSERVED days in series order (gaps allowed — the
    // lag window runs over the aggregated daily table, partitioned per
    // supplier: per-key fan-in over a bounded table, never a raw-log
    // window). Pair sums are exact integers; both variance terms are
    // tested > 0 in EXACT decimal (a constant series has no
    // autocorrelation — excluded by integer comparison, no float
    // boundary), and the Pearson formula runs once per supplier with
    // identical operand order both engines, floor-quantized.
    "q_autocorr" -> ((s, dir) => {
      val daily = supplierDaily(s, dir)
      val w = Window.partitionBy("l_suppkey").orderBy("d")
      val pairs = daily
        .withColumn("pc", lag("yc", 1).over(w))
        .filter(col("pc").isNotNull)
      val aDec = col("pc").cast("decimal(38,0)")
      val bDec = col("yc").cast("decimal(38,0)")
      val g = pairs.groupBy("l_suppkey")
        .agg(count(lit(1)).as("m"),
          sum("pc").as("sa"), sum("yc").as("sb"),
          sum(aDec * bDec).as("sab"),
          sum(aDec * aDec).as("sa2"),
          sum(bDec * bDec).as("sb2"))
      val mDec = col("m").cast("decimal(38,0)")
      val va = mDec * col("sa2") - col("sa").cast("decimal(38,0)") *
        col("sa").cast("decimal(38,0)")
      val vb = mDec * col("sb2") - col("sb").cast("decimal(38,0)") *
        col("sb").cast("decimal(38,0)")
      val (mD, saD, sbD) =
        (col("m").cast("double"), col("sa").cast("double"), col("sb").cast("double"))
      val (sabD, sa2D, sb2D) =
        (col("sab").cast("double"), col("sa2").cast("double"), col("sb2").cast("double"))
      g.filter(col("m") >= 3 && va > 0 && vb > 0)
        .select(col("l_suppkey"), col("m").as("n_pairs"),
          (floor((mD * sabD - saD * sbD) /
            (sqrt(mD * sa2D - saD * saD) * sqrt(mD * sb2D - sbD * sbD))
            * 10000) / 10000).as("autocorr_lag1"))
        .orderBy("l_suppkey")
    }),

    // HISTOGRAM-SKETCH SET ALGEBRA — the quantile twin of q_hll_union's
    // register algebra, completing the mergeable-sketch-table story: one
    // corpus scan builds the per-segment fixed-bin histogram table
    // (O(segments × buckets) rows), and any pairwise UNION percentile is
    // then pure count ADDITION over that stored table — histogram merge is
    // EXACT at the sketch level (summed buckets ≡ the union's histogram),
    // so a warehouse holding one bucket table per partition/day answers
    // cross-partition quantile questions without rescanning rows. Pair
    // expansion is an explode → EQUI-join (never an OR/nested-loop join);
    // the crossing/interpolation arithmetic is q_approx_percentiles'
    // replayable integer rank math verbatim. Exact unioned-row percentile
    // audits ride at gate SF (the q_hll_union audit posture).
    "q_histogram_union" -> ((s, dir) => {
      // ONE corpus scan (r15, guide §2.3/§2.4 — before this round the
      // sketch leg and BOTH exact-audit consumers each rescanned lineitem:
      // 3 corpus scans + 2 pair-replicated joins): the per-(seg, cents)
      // distinct-value table is built once and lineage-cut; the bucket
      // histogram, the pair-merged sketch, and the exact audit all derive
      // from it, so nothing downstream ever touches corpus rows again.
      val vals = graft.operators.Checkpointing.cut(t(s, dir, "lineitem")
        .select(col("l_returnflag").as("seg"),
          round(col("l_extendedprice") * 100).cast("long").as("vc"))
        .groupBy("seg", "vc").agg(count(lit(1)).as("c")))
      val hist = vals
        .groupBy(col("seg"), shiftright(col("vc"), 16).as("b"))
        .agg(sum("c").as("cnt"))
      val segs = vals.select("seg").distinct()
      val pairs = segs.select(col("seg").as("seg_a"))
        .crossJoin(segs.select(col("seg").as("seg_b")))
        .filter(col("seg_a") < col("seg_b"))
        .select(col("seg_a"), col("seg_b"),
          explode(array(col("seg_a"), col("seg_b"))).as("seg"))
      val merged = hist.join(broadcast(pairs), "seg")
        .groupBy("seg_a", "seg_b", "b").agg(sum("cnt").as("cnt"))
      val wC = Window.partitionBy("seg_a", "seg_b").orderBy("b")
      // the pair total n = the LAST cumulative value — a max-window over
      // the same (seg_a, seg_b) partitioning the cumsum already
      // established, so it rides the SAME exchange+sort instead of a
      // second aggregation of `merged` joined back (r15: "2 computations
      // of merged + 1 join" → "1 computation, 0 joins")
      val wP = Window.partitionBy("seg_a", "seg_b")
      val cum = merged
        .withColumn("cum", sum("cnt").over(wC))
        .withColumn("cum_before", col("cum") - col("cnt"))
        .withColumn("n", max("cum").over(wP))
      def pick(q20: Int) = {
        val tgt = col("n") * q20
        max(when(col("cum") * 20 >= tgt && col("cum_before") * 20 < tgt,
          ((col("b") * lit(65536L)).cast("double") +
            lit(65536.0) * (tgt - col("cum_before") * 20).cast("double") /
              (col("cnt") * 20).cast("double")) / lit(100.0)))
      }
      val sk = cum
        .groupBy("seg_a", "seg_b")
        .agg(max("n").as("n_union"), pick(10).as("h50"), pick(19).as("h95"))
      // Exact audit via the SAME replayable integer rank math as the
      // sketch columns (never a cross-engine float percentile): type-7
      // interpolation at q = a/20 on integer cents is
      //   h = (n-1)·a/20, k = ⌊h⌋, r = (n-1)·a mod 20,
      //   p = (v[k]·(20−r) + v[k+1]·r) / 2000 dollars
      // — a pure rational on the k-th/(k+1)-th order statistics, read off
      // a distinct-value cumsum (no full sort), and both engines perform
      // the identical integer→double division, so the hash gate never
      // rides on two percentile implementations agreeing to the last ulp.
      // exact audit from the SAME cut distinct-value table (was: a second
      // and third corpus scan + pair-replicated row joins); the pair total
      // `en` is again the max-cumulative window on the established
      // partitioning, not a re-aggregation joined back
      val exv = vals
        .join(broadcast(pairs), "seg")
        .groupBy("seg_a", "seg_b", "vc").agg(sum("c").as("c"))
      val wV = Window.partitionBy("seg_a", "seg_b").orderBy("vc")
      val exCum = exv.withColumn("ecum", sum("c").over(wV))
        .withColumn("ecum_before", col("ecum") - col("c"))
        .withColumn("en", max("ecum").over(wP))
      def ostat(rank1: org.apache.spark.sql.Column) =
        max(when(col("ecum_before") < rank1 && col("ecum") >= rank1, col("vc")))
      def exactP(a: Int) = {
        val k = expr(s"((en - 1) * $a) div 20")
        val r = expr(s"((en - 1) * $a) % 20")
        val lo = ostat(k + 1)
        val hi = coalesce(ostat(when(r > 0, k + 2)), lo)
        ((lo * (lit(20) - max(r)) + hi * max(r)) * lit(5L))
          .cast("double") / lit(10000.0)
      }
      val exact = exCum
        .groupBy("seg_a", "seg_b")
        .agg(exactP(10).as("p50d"), exactP(19).as("p95d"))
      sk.join(exact, Seq("seg_a", "seg_b"))
        .select(col("seg_a"), col("seg_b"), col("n_union"),
          (floor(col("h50") * 10000) / 10000).as("union_p50"),
          (floor(col("h95") * 10000) / 10000).as("union_p95"),
          col("p50d").as("p50"),
          col("p95d").as("p95"))
        .orderBy("seg_a", "seg_b")
    }),

    // MARKET-BASKET association mining (the Apriori/FP-growth first step,
    // and the transactional twin of text_collocations): which part pairs
    // co-occur in the same order more than their popularities predict.
    // Basket semantics first (presence, not multiplicity — parts dedup
    // into a per-order SET before anything), then the pair stream is a
    // map-side double explode of the basket array with pa < pb — pair
    // mass is Σ basket² with basket size capped by order shape (≤ ~13
    // items here), i.e. LINEAR in orders at any corpus size, map-side
    // combined to the observed-pair table. lift(a,b) = (n_ab · B) / (n_a · n_b) is an exact rational on
    // integer counts (one double division, floor-quantized); top-20 by
    // (support, lift, pair) — support first, so the smallest lake still
    // reports its strongest co-purchases instead of an empty frame.
    "q_market_basket" -> ((s, dir) => {
      // ONE corpus pass (r15, guide §2.3/§2.4): the per-order basket SET
      // is built with a single ok-keyed exchange and lineage-cut; the
      // pair stream, per-part basket counts, and basket total all derive
      // from that O(orders) artifact instead of four independent rebuilds
      // of the distinct (order, part) set (two self-join sides + n_a + B,
      // each a corpus scan + distinct exchange + the join's ok
      // re-exchange). Pair expansion becomes a map-side double explode
      // over the cut — the same Σ basket² pair mass as the old
      // self-join (basket size stays capped by order shape), but zero
      // join, zero extra exchange: pairs cost one map-side-combined
      // partials exchange.
      val baskets = graft.operators.Checkpointing.cut(
        t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .groupBy("ok").agg(collect_set("pk").as("ps")))
      val nA = baskets.select(explode(col("ps")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("n_p"))
      val b = baskets.agg(count(lit(1)).cast("decimal(38,0)").as("bk"))
      val pairs = baskets
        .select(explode(col("ps")).as("pa"), col("ps"))
        .select(col("pa"), explode(col("ps")).as("pb"))
        .filter(col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      pairs
        .join(nA.select(col("pk").as("pa"), col("n_p").as("n_a")), "pa")
        .join(nA.select(col("pk").as("pb"), col("n_p").as("n_b")), "pb")
        .crossJoin(broadcast(b))
        .withColumn("lift",
          floor((dec(col("n_ab")) * col("bk")).cast("double") /
            (dec(col("n_a")) * dec(col("n_b"))).cast("double") * 10000)
            / 10000)
        .orderBy(col("n_ab").desc, col("lift").desc, col("pa"), col("pb"))
        .limit(20)
        .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
          col("lift"))
    }),

    // DATA-FRESHNESS monitor per feed (event_type = the feed dimension) —
    // the staleness dashboard an ingestion team watches: latest event
    // time, lag vs the global high-watermark, volume inside the trailing
    // feed-day, and a stale flag. All epoch-microsecond integer algebra
    // (no calendar API crosses the gate); the per-feed rollup is one
    // map-side-combined groupBy + a 1-row watermark broadcast.
    "q_freshness" -> ((s, dir) => {
      // lineage-cut: the O(feeds) rollup feeds the watermark aggregate AND
      // the final join — uncut, each consumer replays the corpus scan
      val perFeed = graft.operators.Checkpointing.cut(
        ev(s, dir).groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), max("ts_us").as("latest_us")))
      val wm = perFeed.agg(max("latest_us").as("wm_us"))
      val dayUs = 86400000000L
      val lastDay = ev(s, dir).crossJoin(broadcast(wm))
        .filter(col("ts_us") > col("wm_us") - dayUs)
        .groupBy("event_type").agg(count(lit(1)).as("n_last_day"))
      perFeed.crossJoin(broadcast(wm))
        .join(lastDay, Seq("event_type"), "left")
        .select(col("event_type"), col("n_events"), col("latest_us"),
          (col("wm_us") - col("latest_us")).as("lag_us"),
          coalesce(col("n_last_day"), lit(0L)).as("n_last_day"),
          ((col("wm_us") - col("latest_us")) > lit(6L * 3600000000L))
            .cast("int").as("stale"))
        .orderBy("event_type")
    }),

    // WEEKDAY SEASONALITY index — the simplest seasonal-decomposition
    // primitive (is Monday structurally bigger than Saturday?): per
    // weekday, revenue share × 7 as an exact rational on cents sums.
    // Weekday = epoch_day mod 7 (0 = Thursday, 1970-01-01) — pure integer
    // arithmetic, so no calendar/locale API can diverge between engines.
    "q_seasonality" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val byDay = t(s, dir, "orders")
        .select(pmod(datediff(to_date(col("o_orderdate")),
          lit("1970-01-01")), lit(7)).cast("long").as("weekday"),
          cents.as("c"))
        .groupBy("weekday")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("c").cast("decimal(38,0)")).as("rev"))
      val tot = byDay.agg(sum("rev").as("total"))
      byDay.crossJoin(broadcast(tot))
        .select(col("weekday"), col("n_orders"),
          (floor(col("rev").cast("double") / 100.0 * 10000) / 10000)
            .as("revenue"),
          (floor((lit(7).cast("decimal(38,0)") * col("rev")).cast("double") /
            col("total").cast("double") * 10000) / 10000).as("season_index"))
        .orderBy("weekday")
    }),

    // GINI CONCENTRATION of per-customer revenue within each market
    // segment — the inequality/whale-dependence metric next to
    // q_key_skew's hot-key view. The classic form needs a full sort by
    // revenue; here ranks come from EXACT set algebra over the
    // TIE-GROUPED revenue table: per (segment, cents) the run of c equal
    // customers occupies ranks [R+1, R+c] (R = cumulative count before
    // the run — the two-level distributed PrefixSum over the tie table,
    // never a per-segment single-reducer window or raw rows),
    // so Σ rank·x folds as v·(c·R + c·(c+1) div 2) in exact decimals and
    // Gini = (2·ΣrankX − (n+1)·Σx) / (n·Σx) is ONE double division,
    // floor-quantized. Two linear shuffles (customer rollup, tie table) +
    // a broadcast dimension join.
    "q_gini" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val rev = t(s, dir, "orders")
        .groupBy("o_custkey").agg(sum(cents).as("cents"))
      val seg = rev.join(
        broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))),
        col("o_custkey") === col("c_custkey"))
      val grp = seg.groupBy("segment", "cents").agg(count(lit(1)).as("c"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      // two-level distributed PrefixSum, not a per-segment window: a
      // segment's distinct revenue domain grows with the customer
      // population, so the single-reducer ordered scan is the r3
      // anti-pattern at 100 TB
      val agg = graft.operators.PrefixSum
        .cumSum(grp, "segment", Seq(col("cents")), "c", "cumc")
        .withColumn("r", col("cumc") - col("c"))
        .groupBy("segment")
        .agg(sum("c").as("n"),
          sum(dec(col("cents")) * col("c")).as("s"),
          sum(dec(col("cents")) *
            (col("c") * col("r") + expr("c * (c + 1) div 2"))).as("wsum"))
      agg.filter(col("s") > 0)
        .select(col("segment"), col("n").as("n_customers"),
          (floor((lit(2).cast("decimal(38,0)") * col("wsum") -
              (col("n") + 1).cast("decimal(38,0)") * col("s")).cast("double") /
            (dec(col("n")) * col("s")).cast("double") * 10000) / 10000)
            .as("gini"))
        .orderBy("segment")
    }),

    // BENFORD FIRST-DIGIT AUDIT per order year — the fraud/synthetic-data
    // smell test: organic monetary amounts follow log10(1+1/d); fabricated
    // or truncated feeds don't. First digits come from the cents STRING
    // (exact — no log on data), counts are one map-side-combined groupBy,
    // and the χ² statistic is an explicit NINE-TERM fixed-order IEEE sum
    // per year over hardcoded double literals both engines parse
    // identically (the only transcendentals are compile-time constants).
    // Verdict flag decided on the QUANTIZED χ² (integer compare vs
    // 15.51·10⁴ — χ²₈ at α=0.05), never a float boundary.
    "q_benford" -> ((s, dir) => {
      val benford = Seq(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514)
      val cents = round(col("o_totalprice") * 100).cast("long")
      val digitAggs = count(lit(1)).as("n") +: (1 to 9).map(d =>
        sum(when(col("d") === d, 1L).otherwise(0L)).as(s"c$d"))
      val counts = t(s, dir, "orders")
        .select(year(to_date(col("o_orderdate"))).as("yr"),
          // first digit of the MAGNITUDE: a refund row must neither
          // yield a '-' pseudo-digit here nor crash the oracle's CAST
          substring(abs(cents).cast("string"), 1, 1).cast("int").as("d"))
        .groupBy("yr")
        .agg(digitAggs.head, digitAggs.tail: _*)
      val nD = col("n").cast("double")
      val chi2 = (1 to 9).map { d =>
        val e = nD * lit(benford(d - 1))
        val x = col(s"c$d").cast("double") - e
        x * x / e
      }.reduce(_ + _)
      counts
        .select(col("yr"), col("n").as("n_orders"),
          floor(chi2 * 10000).as("chi4"))
        .select(col("yr"), col("n_orders"),
          (col("chi4") / 10000).as("chi2"),
          (col("chi4") < 155100L).cast("int").as("benford_ok"))
        .orderBy("yr")
    }),

    // SCHEMA / DATA-QUALITY PROFILE (the Deequ-class audit a lake team runs
    // on every ingest): per column — row count, null count, EXACT distinct
    // count — in ONE aggregate over one scan (the multi-distinct expands
    // to one pass per distinct column inside the aggregate exec; at 100 TB
    // the per-column exact distincts swap for the mergeable HLL sketches
    // of q_approx_distinct — same report shape, one true pass). The wide
    // 1-row aggregate unpivots to the O(columns) report via stack().
    "pipeline_schema_profile" -> ((s, dir) => {
      val cols = Seq("event_id", "user_id", "event_type", "value",
        "props", "ts_us")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c"),
        countDistinct(col(c)).as(s"dist_$c")))
      val wide = ev(s, dir).agg(aggs.head, aggs.tail: _*)
      val stackArgs = cols.map(c =>
        s"'$c', n_rows, null_$c, dist_$c").mkString(", ")
      wide.select(expr(s"stack(${cols.size}, $stackArgs) AS " +
          "(column_name, n_rows, n_null, n_distinct)"))
        .orderBy("column_name")
    }),

    // TWO-SAMPLE TEST (the A/B readout): each event-type arm against the
    // 'view' control — Welch z on the difference of means, from EXACT
    // cents-scaled integer sums (the q_corr_stats discipline: moments fold
    // order-free as longs/decimals, the z formula runs ONCE per arm in
    // fixed-order IEEE). Significance is decided on the QUANTIZED z so the
    // flag is an exact integer comparison (floor(|z|·10⁴) ≥ 19600), never
    // a float-boundary boolean. Arms aggregate map-side — one linear
    // shuffle to O(arms) rows, then a broadcast of the 1-row control.
    "q_ab_test" -> ((s, dir) => {
      val cents = round(col("value") * 100).cast("long")
      val stats = ev(s, dir)
        .select(col("event_type"), cents.as("c"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("sc"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("sq"))
      val ctrl = stats.filter(col("event_type") === "view")
        .select(col("n").as("n0"), col("sc").as("sc0"), col("sq").as("sq0"))
      val z = {
        val (n1, s1, q1) = (col("n").cast("double"), col("sc").cast("double"),
          col("sq").cast("double"))
        val (n0, s0, q0) = (col("n0").cast("double"), col("sc0").cast("double"),
          col("sq0").cast("double"))
        val v1 = (n1 * q1 - s1 * s1) / (n1 * (n1 - lit(1.0)))
        val v0 = (n0 * q0 - s0 * s0) / (n0 * (n0 - lit(1.0)))
        (s1 / n1 - s0 / n0) / sqrt(v1 / n1 + v0 / n0)
      }
      // degenerate exclusions in EXACT integers (the q_regression /
      // q_autocorr rule): a one-row arm has no sample variance, and two
      // exactly-constant sides make the pooled standard error 0 — both
      // would put a ±Inf/NaN through floor, where Spark and DuckDB
      // disagree. Tested as n·Σx² − (Σx)² > 0 in decimal, never a float.
      val va = col("n").cast("decimal(38,0)") * col("sq") -
        col("sc").cast("decimal(38,0)") * col("sc").cast("decimal(38,0)")
      val vc = col("n0").cast("decimal(38,0)") * col("sq0") -
        col("sc0").cast("decimal(38,0)") * col("sc0").cast("decimal(38,0)")
      stats.filter(col("event_type") =!= "view")
        .crossJoin(broadcast(ctrl))
        .filter(col("n") >= 2 && col("n0") >= 2 && (va > 0 || vc > 0))
        .select(col("event_type").as("arm"), col("n").as("n_arm"),
          (floor(col("sc") / col("n") / 100.0 * 10000) / 10000)
            .as("mean_arm"),
          (floor(col("sc0") / col("n0") / 100.0 * 10000) / 10000)
            .as("mean_control"),
          floor(z * 10000).as("z4"),
          // the flag quantizes |z| — floor(z·10⁴) then abs would give
          // negative z a one-quantum-wider rejection region
          floor(abs(z) * 10000).as("za4"))
        .select(col("arm"), col("n_arm"), col("mean_arm"),
          col("mean_control"), (col("z4") / 10000).as("z"),
          (col("za4") >= 19600L).cast("int").as("significant"))
        .orderBy("arm")
    }),

    // Exact MODE per group — the argmax-by-FREQUENCY member of the argmax
    // family (q_topk_per_group is argmax-by-score): most frequent value,
    // smallest-value tie-break. Two-level shape: the corpus collapses
    // map-side to the (key, value) count table in ONE linear shuffle, and
    // the argmax is a lexicographic struct-MAX aggregate over that table —
    // max(n, −cents) picks highest count then smallest value with NO
    // window at all (map-side combinable; a window rank would sort each
    // key's whole distinct-value domain through one reducer at 100 TB).
    // Values ride as exact cents so ties are integer equality.
    "q_mode" -> ((s, dir) => {
      val cents = round(col("value") * 100).cast("long")
      ev(s, dir)
        .select(col("event_type"), cents.as("cents"))
        .groupBy("event_type", "cents").agg(count(lit(1)).as("n"))
        .groupBy("event_type")
        .agg(max(struct(col("n"), (-col("cents")).as("negc"))).as("m"))
        .select(col("event_type"),
          round((-col("m.negc")) / 100.0, 4).as("mode_value"),
          col("m.n").as("n_occurrences"))
        .orderBy("event_type")
    }),

    // Fixed-width histogram over order totals. Bucket assignment is pure
    // integer math on cents (cents div width), so no float boundary can
    // disagree between engines; the per-bucket revenue sums exact cents
    // (decimal — a 100 TB bucket's cents exceed a long) with one division
    // + one rounding at the end.
    "q_histogram" -> ((s, dir) => {
      // ONE copy of the cents formula: bucket and revenue must agree about
      // which cents a row has, or a boundary value silently lands in one
      // bucket and sums into another
      val cents = round(col("o_totalprice") * 100).cast("long")
      t(s, dir, "orders")
        .select(cents.as("cents"))
        .select(least(expr("cents div 5000000"), lit(9L)).as("bucket"), col("cents"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("cents").cast("decimal(38,0)")).cast("double") / 100, 4)
            .as("total_price"))
        .orderBy("bucket")
    }),

    // Value-RANGE window frame (vs the ROWS frames elsewhere): each order
    // aggregates its customer's orders within 10 000.00 of its own total.
    // Ordering AND frame bounds are integral cents, so peer membership is
    // exact set algebra on both engines — no float frame boundary exists —
    // and the in-frame sum is exact longs in any order.
    "q_window_range" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy("cents").rangeBetween(-1000000L, 0L)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), cents.as("cents"))
        .select(col("o_orderkey"), col("o_custkey"),
          count(lit(1)).over(w).as("n_near"),
          round(sum(col("cents")).over(w).cast("double") / 100, 4).as("near_revenue"))
        .orderBy("o_orderkey")
    }),

    // The skew-join mechanic inside the oracle gate, TWO-PATH form (r7):
    // only the MEASURED heaviest keys pay the saltFactor× replication —
    // the rest take the plain join, and the union is row-identical to the
    // unsalted join, so its aggregate replays as the PLAIN join in DuckDB.
    // Every round re-proves both the salt and the hot/cold split are
    // invisible to results (ScaleOpsSpec pins row identity + both plan
    // paths; this checks against an independent engine continuously). The
    // measurement (top-8 keys via the bounded-heap q_key_skew mechanic) is
    // memoized per (session, dir) — production measures once per load and
    // stores it with the table stats.
    "q_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity")
      val ords = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val hot = hotKeysMemo.get(s, dir) {
        graft.operators.Relational.hotKeys(li, "l_orderkey", k = 8)
      }
      graft.operators.Relational
        .skewJoin(li, ords, "l_orderkey", "l_partkey", 8, hot)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 4).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // Ordered string aggregation (LISTAGG/string_agg): the collect is
    // per-group bounded (nations per region) and sorted before the join so
    // collect_list's partition-order nondeterminism can't leak into the
    // output. Both sides broadcast — dims only.
    "q_string_agg" -> ((s, dir) =>
      t(s, dir, "region")
        .join(t(s, dir, "nation"), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy("r_name")),

    // Time-weighted average — the state-duration metric a CDC consumer
    // computes over value histories (mean account balance over TIME, not
    // over change events): each value holds until the key's next event, so
    // the weight is the interval length. Cents-scaled exact integer sums
    // (value is 2-decimal; cents × µs stays far under 2^63) with ONE final
    // division — bit-identical across engines. Per-key lead window only.
    "q_time_weighted_avg" -> ((s, dir) =>
      graft.operators.Relational
        .timeWeightedAvg(ev(s, dir), "user_id", "ts_us", "event_id", "value")
        .orderBy("user_id")),

    // Key-skew diagnostic — the measurement behind the q_salted_join
    // decision: the event log's heaviest join keys with their multiple of
    // the average fan-in. Per-key counts are one map-side-combined groupBy;
    // the top-5 ride the bounded-heap TopKAgg through a GLOBAL aggregate
    // (partial heaps per map task, O(k) over the exchange) — ranking the
    // per-key table in a window would funnel every distinct key through
    // one reducer, which at billions of keys is its own skew problem.
    "q_key_skew" -> ((s, dir) => {
      val perKey = t(s, dir, "events")
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      // ONE global aggregation computes the heap AND the totals — a
      // separate stats pass would re-aggregate the per-key table (billions
      // of distinct keys at scale) a second time
      perKey
        .agg(
          graft.plans.TopKAgg.topk(s,
            struct(col("cnt").cast("double").as("score"),
              col("user_id").as("id")), 5).as("top"),
          sum("cnt").as("n_rows"),
          count(lit(1)).as("n_keys"))
        .select(col("n_rows"), col("n_keys"),
          posexplode(col("top")).as(Seq("i", "x")))
        .select(
          (col("i") + 1).cast("long").as("rank"),
          col("x.id").as("user_id"),
          col("x.score").cast("long").as("key_count"),
          col("n_rows"), col("n_keys"),
          // exact integers into ONE division — identical doubles both sides
          round((col("x.score").cast("long") * col("n_keys")).cast("double") /
            col("n_rows"), 4).as("x_avg_ratio"))
        .orderBy("rank")
    }),

    // JOIN-SIZE ESTIMATION from count-min inner products (the AGMS /
    // Cormode–Muthukrishnan estimator): |A ⋈ B| is upper-bounded by
    // Σ_b cmsA[i][b]·cmsB[i][b] for EVERY salt row i (collisions only
    // ADD cross terms), so min over the d rows is a certified
    // overestimate — the cardinality oracle a cost-based planner consults
    // before choosing a join strategy. Each side is one corpus scan into
    // a 3×1024 exact-sum cell table; the estimate itself is O(d·w)
    // arithmetic on two fixed 3 KB artifacts, NEVER a join of the lakes —
    // at 100 TB you estimate any pairwise join size from stored per-table
    // sketches without touching rows. The exact audit (Σ n_A(k)·n_B(k)
    // over the per-KEY count tables — never the materialized join) rides
    // the gate: est ≥ exact always, overcount = collision mass.
    "q_join_estimate" -> ((s, dir) => {
      val ca = cmsCells(s, dir, "orders", "o_custkey")
      val cb = cmsCells(s, dir, "events", "user_id")
      val est = ca.join(cb.withColumnRenamed("cell", "cell_b"), Seq("i", "b"))
        .groupBy("i").agg(sum(col("cell") * col("cell_b")).as("ip"))
        .agg(min("ip").as("cms_est"))
      val exact = t(s, dir, "orders").filter(col("o_custkey").isNotNull)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("na"))
        .join(t(s, dir, "events").filter(col("user_id").isNotNull)
          .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("nb")), "k")
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("exact_n"))
      est.crossJoin(exact)
        .select(col("cms_est"), col("exact_n"),
          (col("cms_est") - col("exact_n")).as("overcount"))
    }),

    // SKYLINE / Pareto frontier (Börzsönyi et al. '01) — "the orders no
    // other order beats on BOTH price and date": the operator family
    // whose naive form is an O(n²) dominance self-join. In 2D it
    // collapses exactly: aggregate min price per date (one corpus
    // groupBy), exclusive running min over the O(distinct dates) table
    // (a bounded aggregated window — lineage-cut, the
    // q_weighted_percentile shape, PlanLint-exempted), keep dates whose
    // min undercuts every earlier date, then ONE broadcast join-back
    // marks the member orders map-side. At 100 TB: one shuffle, a
    // frontier-sized broadcast, no self-join; higher dimensions run
    // local-skyline-then-merge, 2D admits this exact aggregated form.
    // Ties: equal (price, date) points don't dominate each other — all
    // minimal-point orders are members (the standard definition).
    "q_skyline" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("price_cents"))
      val m = graft.operators.Checkpointing.cut(
        o.groupBy("o_orderdate").agg(min("price_cents").as("mp")))
      val w = Window.orderBy("o_orderdate")
        .rowsBetween(Window.unboundedPreceding, -1)
      val frontier = m.withColumn("pm", min("mp").over(w))
        .filter(col("pm").isNull || col("pm") > col("mp"))
        .select(col("o_orderdate").as("fd"), col("mp"))
      o.join(broadcast(frontier),
          col("o_orderdate") === col("fd") && col("price_cents") === col("mp"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          col("price_cents"))
        .orderBy("o_orderdate", "o_orderkey")
    }),

    // FUZZY JOIN at edit distance ≤ 1 via deletion-neighborhood blocking
    // (the FastSS family): each name emits itself + its |s| single-char
    // deletions; any two strings within one edit SHARE a neighborhood
    // element exactly (equal → self; substitution at i → both delete i;
    // insertion at i → the longer one's deletion IS the shorter), so an
    // equi-join on the 64-bit variant hash finds every true pair and the
    // levenshtein verify kills hash collisions — provably equal to the
    // O(n²) cross-join the oracle runs, with only a (len+1)-factor index
    // and a hash-uniform shuffle key (never a cartesian). The variant
    // generator is an interpreted per-row lambda over ≤ len+1 elements —
    // index-build cost, not probe cost; a production build would lift it
    // into a codegen expression like chargram_hashes.
    "q_fuzzy_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val name = col("c_name")
      // empty names emit just the identity variant ("" is exactly what
      // links "" to every 1-char string) — the sequence() branch would
      // descend ([1, 0]) on length 0 instead of being empty
      val variants = when(length(name) === 0, array(name))
        .otherwise(array_distinct(concat(array(name),
          transform(sequence(lit(1), length(name)),
            i => concat(name.substr(lit(1), i - 1),
              name.substr(i + 1, length(name)))))))
      // the index is the stored blocking artifact — cut AND memoized so
      // the customer scan + variant explode + hash runs once per LAKE,
      // not once per join side per call
      val idx = fuzzyIdxMemo.get(s, dir) {
        // stored hash-partitioned and sorted on the blocking hash (r16,
        // guide §2.4, via cutPartitioned so the artifact carries the
        // layout): the banding self-join keys on h, so BOTH sides of it
        // read the stored layout — zero Exchange/Sort under the join.
        // floorParallelism: the self-join's work is quadratic per hash
        // bucket, so the artifact must stay core-parallel even when the
        // single-row-group build would collapse it to one partition
        graft.operators.Checkpointing.cutPartitioned(
          c.select(col("c_custkey"), name, explode(variants).as("v"))
            .select(col("c_custkey"), name, xxhash64(col("v")).as("h")),
          floorParallelism = true, "h")
      }
      val cand = idx.as("a").join(idx.as("b"),
          col("a.h") === col("b.h") && col("a.c_custkey") < col("b.c_custkey"))
        .select(col("a.c_custkey").as("a_custkey"), col("a.c_name").as("a_name"),
          col("b.c_custkey").as("b_custkey"), col("b.c_name").as("b_name"))
        .dropDuplicates("a_custkey", "b_custkey")
      cand.withColumn("dist",
          levenshtein(col("a_name"), col("b_name")).cast("long"))
        .filter(col("dist") <= 1)
        .select(col("a_custkey"), col("b_custkey"), col("dist"))
        .orderBy("a_custkey", "b_custkey")
    }),

    // Count-min sketch (Cormode & Muthukrishnan '05) — the frequency
    // sketch completing the family (HLL/KMV distinct, minhash/simhash
    // similarity, bloom membership, histogram quantiles): d=3 salted
    // md5 rows × w=1024 buckets, point estimate = min over the d cells.
    // Counter cells are SUMS, so the build is one corpus scan with
    // map-side combine and an O(d×w) exchange — order-free, replayable,
    // mergeable across shards by addition (the 100 TB posture: a fixed
    // 3×1024-cell table answers any point query without touching rows).
    // The gate audits the top-20 exact keys: est ≥ exact always (CMS
    // never undercounts), overcount = collision mass in the key's
    // lightest cell. The exact side exists only as the audit — at
    // production scale the sketch answers point queries alone.
    "q_cms_topk" -> ((s, dir) => {
      val cms = cmsCells(s, dir, "events", "user_id")
      val top = t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("exact_n"))
        .agg(graft.plans.TopKAgg.topk(s,
          struct(col("exact_n").cast("double").as("score"),
            col("user_id").as("id")), 20).as("top"))
        .select(posexplode(col("top")).as(Seq("idx", "x")))
        .select((col("idx") + 1).cast("long").as("rank"),
          col("x.id").as("user_id"), col("x.score").cast("long").as("exact_n"))
      top.select(col("rank"), col("user_id"), col("exact_n"), cmsSalts)
        .select(col("rank"), col("user_id"), col("exact_n"), col("i"),
          cmsBucket(col("i"), col("user_id")).as("b"))
        .join(broadcast(cms), Seq("i", "b"))
        .groupBy("rank", "user_id", "exact_n")
        .agg(min("cell").as("cms_est"))
        .select(col("rank"), col("user_id"), col("exact_n"), col("cms_est"),
          (col("cms_est") - col("exact_n")).as("overcount"))
        .orderBy("rank")
    }),

    // Exact ROLLING MEDIAN — the robust-center monitor quantile sketches
    // can't give exactly: trailing-30-item median of price cents per
    // supplier. The frame is ROWS-bounded (30 longs sorted per row —
    // O(30 log 30), constant per row at any corpus size) and the
    // partition key is per-supplier, so the window distributes; the
    // median leaves the plan DOUBLED (2× cents) so the even-count
    // midpoint stays an exact integer — no float interpolation crosses
    // the gate. Per-supplier rollup: last/peak/low of the median series.
    "q_rolling_median" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_suppkey"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val ord = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      val frame = ord.rowsBetween(-29, 0)
      val arr = array_sort(collect_list(col("cents")).over(frame))
      val n = size(arr)
      val med2 = when(pmod(n, lit(2)) === 1,
          element_at(arr, ((n + lit(1)) / 2).cast("int")) * 2)
        .otherwise(element_at(arr, (n / 2).cast("int")) +
          element_at(arr, (n / 2 + lit(1)).cast("int")))
      li.select(col("l_suppkey"), med2.as("med2"),
          row_number().over(ord).as("rn"),
          count(lit(1)).over(Window.partitionBy("l_suppkey")).as("cnt"))
        .groupBy("l_suppkey")
        .agg(max("cnt").as("n_items"),
          max(when(col("rn") === col("cnt"), col("med2")))
            .as("last_med2x_cents"),
          max("med2").as("peak_med2x_cents"),
          min("med2").as("low_med2x_cents"))
        .orderBy("l_suppkey")
    }),

    // PageRank over the customer↔supplier trade graph — the iterative
    // whole-graph computation (Page et al. '99; the Pregel/GraphX class)
    // as pure relational algebra: each iteration is ONE edge⋈rank shuffle
    // join + ONE groupBy(dst) fold, the exact shape a 1000-executor
    // cluster wants (AQE splits skewed hubs; no driver-side graph). Rank
    // mass rides INTEGER micro-units with floor division at both the
    // edge split and the damping step, so sums are order-free exact longs
    // and three chained-CTE replays reproduce the result bit-for-bit —
    // the BPE-trainer oracle discipline applied to graph iteration. The
    // edge table (with out-degree) is lineage-cut once and reread per
    // iteration — the stored-artifact pattern, not a 3× rebuild.
    "q_pagerank" -> ((s, dir) => {
      val eo = pagerankEdgeMemo.get(s, dir) {
        val e0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
          .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_custkey", "l_suppkey").agg(count(lit(1)).as("w"))
        val edges = e0.select((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"), col("w"))
          .unionAll(e0.select((col("l_suppkey") * 2 + 1).as("src"),
            (col("o_custkey") * 2).as("dst"), col("w")))
        val out = edges.groupBy("src").agg(sum("w").as("outw"))
        // stored hash-partitioned and sorted on the iteration join key
        // (r16, guide §2.4 — establish the partitioning once, via
        // cutPartitioned so the artifact actually carries the layout):
        // each of the 3 rank iterations' src=node joins reuses it instead
        // of re-exchanging and re-sorting the edge table every round —
        // only the O(nodes) rank side moves per iteration
        graft.operators.Checkpointing.cutPartitioned(
          edges.join(out, "src"), "src")
      }
      var r = eo.select(col("src").as("node")).distinct()
        .withColumn("rank_u", lit(1000000L))
      for (_ <- 1 to 3) {
        r = eo.join(r, col("src") === col("node"))
          .select(col("dst"), expr("(rank_u * w) div outw").as("c"))
          .groupBy("dst")
          .agg(expr("150000L + (85L * sum(c)) div 100L").as("rank_u"))
          .withColumnRenamed("dst", "node")
      }
      r.select(
          when(pmod(col("node"), lit(2)) === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("node_id"), col("rank_u"))
        .orderBy(col("rank_u").desc, col("node_type"), col("node_id"))
        .limit(25)
    }),

    // UNPIVOT/melt (r10) — the inverse reshape of q_pivot: the wide
    // per-user event-type matrix folds back to long form through Spark's
    // native unpivot operator (one map-side explode of the fixed column
    // list — no shuffle beyond the pivot's own aggregate; the value list
    // is explicit on BOTH reshapes, so no driver-side distinct scan
    // ever runs). Values ride as exact 1e4-scaled longs through the
    // reshape; absent (user, type) cells are EXCLUDED explicitly on both
    // sides (the ANSI UNPIVOT EXCLUDE NULLS default — pinned by filter,
    // not trusted to dialect defaults). The oracle states the algebraic
    // claim directly: melt(pivot(events)) = the long-form aggregate.
    "q_unpivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = ev(s, dir)
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(sum(round(col("value") * 10000).cast("long")))
      wide.unpivot(Array(col("user_id")), types.map(col).toArray,
          "event_type", "v4")
        .filter(col("v4").isNotNull)
        .select(col("user_id"), col("event_type"),
          (col("v4").cast("double") / lit(10000.0)).as("sum_value"))
        .orderBy("user_id", "event_type")
    }),

    // GAPS-AND-ISLANDS (r10) — maximal runs of consecutive active days
    // per user (the classic sessionize-on-a-calendar problem; streaks,
    // SLA windows, coverage runs are all this shape). The log collapses
    // map-side to distinct (user, epoch-day) FIRST — the window then
    // ranks O(user-days), never raw events — and the island key is the
    // rank-offset invariant (day − row_number is constant exactly on a
    // consecutive run). Per-user window: bounded by per-user fan-in (the
    // q_drawdown argument), no global sort anywhere. Output is the
    // per-user streak profile; the longest-streak argmax is the q_mode
    // lexicographic struct-max (earliest start wins ties), never a
    // second window.
    "q_islands" -> ((s, dir) => {
      val dayUs = 86400000000L
      val w = Window.partitionBy("user_id").orderBy("day")
      val islands = ev(s, dir)
        .select(col("user_id"), expr(s"ts_us div $dayUs").as("day"))
        .distinct()
        .withColumn("grp", col("day") - row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(min("day").as("start_day"), count(lit(1)).as("n_days"))
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum("n_days").as("active_days"),
          max(struct(col("n_days"), (-col("start_day")).as("negs"))).as("m"))
        .select(col("user_id"), col("n_islands"), col("active_days"),
          col("m.n_days").as("longest_days"),
          (-col("m.negs")).as("longest_start"))
        .orderBy("user_id")
    }),

    // SPEARMAN RANK CORRELATION (r10) — the robust twin of q_corr_stats'
    // Pearson: does quantity MONOTONICALLY track price within a flag,
    // outlier-proof. Average-rank ties computed WITHOUT ranking rows:
    // each variable collapses to its distinct-value cumsum table (the
    // q_histogram_union audit machinery), where the tie-averaged rank of
    // value v is cum_before(v) + (cnt(v)+1)/2 — carried ×2 in integer
    // HALF-RANKS so ties stay exact. The joint pass reduces the corpus
    // to the (x, y) pair-count table; Pearson on ranks then runs over
    // O(distinct pairs) with decimal(38) sums (half-rank³ mass overflows
    // a long at sf1), one double conversion at the end, floor-quantized.
    // Three linear shuffles total (x-marginal, y-marginal, pair table) —
    // no per-row rank column ever materializes, no single-reducer sort.
    "q_spearman" -> ((s, dir) => {
      val base = t(s, dir, "lineitem").select(col("l_returnflag").as("flag"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      // the marginal cumsums run over DISTINCT-value tables — for a
      // near-unique variable (prices) that is corpus-sized, so the scan
      // is the two-level PrefixSum (range partition + broadcast offsets),
      // never a per-flag window whose 3 reducers would each sort a third
      // of the lake
      // ONE corpus scan (r15, guide §2.3/§2.4 — the two marginal rank
      // tables and the joint table each rescanned lineitem, and PrefixSum's
      // range-partition sampling pass re-executed each marginal aggregate a
      // second time): the joint (flag, x, y) multiplicity table is built
      // once and lineage-cut; both marginals and the pair table derive
      // from it, so everything downstream aggregates the cut artifact.
      // A plain cut, not cutPartitioned: every consumer regroups or joins
      // on a SUBSET of (flag, x, y), which a (flag, x, y) hash layout does
      // not satisfy, so a declared layout would buy no exchange.
      val joint = graft.operators.Checkpointing.cut(
        base.groupBy("flag", "x", "y").agg(count(lit(1)).as("m")))
      def halfRanks(c: String) = {
        val cnts = joint.groupBy("flag", c).agg(sum("m").as("cnt"))
        graft.operators.PrefixSum
          .cumSum(cnts, "flag", Seq(col(c)), "cnt", "cum")
          // avg rank ×2 = 2·cum_before + cnt + 1 = 2·cum − cnt + 1
          .select(col("flag"), col(c),
            (col("cum") * 2 - col("cnt") + 1).as(s"r$c"))
      }
      // the x marginal (quantity) is DOMAIN-bounded — O(flags × ~50
      // distinct values) at any corpus size — so its cumsum is a plain
      // window over the aggregated table (the lint's over-aggregate
      // shape; r15, guide §1.2): the two-level PrefixSum machinery
      // (range exchange + ranged-table cut + partials, ~4 jobs) bought
      // nothing on a 150-row table. y (price) is near-unique/corpus-sized
      // and keeps the two-level form.
      val rxT = {
        val cnts = joint.groupBy("flag", "x").agg(sum("m").as("cnt"))
        val w = Window.partitionBy("flag").orderBy("x")
        cnts.withColumn("cum", sum("cnt").over(w))
          .select(col("flag"), col("x"),
            (col("cum") * 2 - col("cnt") + 1).as("rx"))
      }
      val ryT = halfRanks("y")
      val pairs = joint
        .join(rxT, Seq("flag", "x"))
        .join(ryT, Seq("flag", "y"))
      // exact degeneracy guard WITHOUT the O(n⁴) product n·sxx − sx²
      // (which would overflow decimal(38) ~50× below the 100 TB point):
      // rank variance is zero iff the variable is CONSTANT in the flag,
      // i.e. its marginal table has one row — an O(1)-magnitude count
      val kx = rxT.groupBy("flag").agg(count(lit(1)).as("kx"))
      val ky = ryT.groupBy("flag").agg(count(lit(1)).as("ky"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val g = pairs.groupBy("flag").agg(
        sum("m").as("n"),
        sum(dec(col("rx")) * col("m")).as("sx"),
        sum(dec(col("ry")) * col("m")).as("sy"),
        sum(dec(col("rx")) * dec(col("ry")) * col("m")).as("sxy"),
        sum(dec(col("rx")) * dec(col("rx")) * col("m")).as("sxx"),
        sum(dec(col("ry")) * dec(col("ry")) * col("m")).as("syy"))
        .join(broadcast(kx), "flag").join(broadcast(ky), "flag")
      val (nD, sxD, syD) = (col("n").cast("double"), col("sx").cast("double"),
        col("sy").cast("double"))
      val (sxyD, sxxD, syyD) = (col("sxy").cast("double"),
        col("sxx").cast("double"), col("syy").cast("double"))
      g.filter(col("n") >= 3 && col("kx") >= 2 && col("ky") >= 2)
        .select(col("flag"), col("n").as("n_rows"),
          (floor((nD * sxyD - sxD * syD) /
            (sqrt(nD * sxxD - sxD * sxD) * sqrt(nD * syyD - syD * syD))
            * 10000) / 10000).as("spearman_rho"))
        .orderBy("flag")
    }),

    // CHI-SQUARED INDEPENDENCE (r10) — is event mix independent of
    // day-of-week (the seasonality hypothesis test next to
    // q_seasonality's decomposition). Day-of-week is pure integer epoch
    // math ((day+4) mod 7 — epoch day 0 is a Thursday), never a calendar
    // function two engines could disagree on. The corpus collapses to
    // the O(types × 7) contingency table in one map-side-combined pass;
    // every statistic is then an exact integer rational on that table —
    // expected counts and per-cell contributions land as floor-quantized
    // integer divisions ((o·N − r·c)²·10⁴ div N·r·c on decimal(38)), and
    // the chi² total is a sum of ALREADY-QUANTIZED integers, so no
    // float summation order exists anywhere in the gate. Exact-decimal
    // DOMAIN: dev²·10⁴ needs |o·N − r·c| < 10¹⁷ (always true below
    // ~3·10⁸ events; above that only pathological skew exceeds it) —
    // enforced by a loud guard, never a silent wrap/NULL.
    "q_chi_square" -> ((s, dir) => {
      val dayUs = 86400000000L
      val cells = ev(s, dir)
        .select(col("event_type"),
          pmod(expr(s"ts_us div $dayUs") + 4, lit(7)).as("dow"))
        .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
      val rows = cells.groupBy("event_type").agg(sum("o").as("r"))
      val cols = cells.groupBy("dow").agg(sum("o").as("c"))
      val tot = cells.agg(sum("o").as("nn"))
      val scored = cells.join(broadcast(rows), "event_type")
        .join(broadcast(cols), "dow").crossJoin(broadcast(tot))
        .withColumn("e4", expr(
          "(CAST(r AS DECIMAL(38,0)) * c * 10000) div CAST(nn AS DECIMAL(38,0))"))
        .withColumn("dev", expr(
          "CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * c"))
        .withColumn("contrib4", when(
          abs(col("dev")) >= lit(100000000000000000L).cast("decimal(38,0)"),
          raise_error(lit("q_chi_square: |o*N - r*c| >= 1e17 exceeds the " +
            "exact decimal(38) domain of dev^2*10^4 - shard the " +
            "contingency or widen the math")).cast("long"))
          .otherwise(expr(
            "(dev * dev * 10000) div (CAST(nn AS DECIMAL(38,0)) * r * c)")))
      val chi2 = scored.agg(sum("contrib4").as("t4"))
      scored.crossJoin(broadcast(chi2))
        .select(col("event_type"), col("dow"), col("o").as("n_obs"),
          (col("e4").cast("double") / lit(10000.0)).as("expected"),
          (col("contrib4").cast("double") / lit(10000.0)).as("contrib"),
          (col("t4").cast("double") / lit(10000.0)).as("chi2_total"))
        .orderBy("event_type", "dow")
    }),

    // BUCKETED CO-LOCATED JOIN (r10) — the storage-level join mechanic
    // promoted into the oracle gate (the q_salted_join precedent: the
    // result must be IDENTICAL to the plain join, the plan must not be):
    // both sides persist ONCE per (session, lake) as bucketed+sorted
    // managed tables on the join key, and every subsequent join on that
    // key plans sort-merge with NO exchange on either side —
    // ScaleOpsSpec pins the exchange-free plan, this gate pins result
    // parity. At 100 TB this is the difference between re-shuffling the
    // fact table per query and never shuffling it at all.
    "q_bucketed_join" -> ((s, dir) => {
      val (cTab, oTab) = bucketedMemo.get(s, dir) {
        // full-width md5 of the lake path — a 32-bit String.hashCode tag
        // could collide two lakes in one session and silently serve one
        // lake's bucketed rows for the other — PLUS the process id: two
        // concurrent local sessions (test suite + Verify) share the cwd
        // spark-warehouse, and writeBucketed DELETES the table location
        // first, so a shared name would let one JVM rip files out from
        // under the other's scan (the pid is genuinely unique across
        // live local processes; identityHashCode is NOT — HotSpot's
        // identity-hash PRNG is deterministically seeded, so twin JVMs
        // can mint the same value)
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString +
          "_" + ProcessHandle.current().pid()
        val c = s"graft_bkt_cust_$tag"
        val o = s"graft_bkt_ord_$tag"
        graft.sources.Bucketing.writeBucketed(
          t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          c, "c_custkey", 8)
        graft.sources.Bucketing.writeBucketed(
          t(s, dir, "orders").select(col("o_custkey").as("c_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("o_cents")),
          o, "c_custkey", 8)
        // per-run-unique names would otherwise LEAK a bucketed copy of
        // the fact table into the shared warehouse on every run: sweep
        // this session's two dirs at JVM exit (the catalog is in-memory
        // and dies with the session; only the files persist)
        val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
          Seq(c, o).foreach { tn =>
            graft.operators.Checkpointing.deleteRecursively(
              new java.io.File(wh, tn).getPath)
          }))
        (c, o)
      }
      // exact cents through the fold (order-free long/decimal sums), ONE
      // division at the end — round(sum(double)) would gate an
      // order-dependent float fold against DuckDB's own fold order
      graft.sources.Bucketing.coLocatedJoin(s, cTab, oTab, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_cents").cast("decimal(38,0)")).cast("double") / 100.0,
            4).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    // FORECAST BACKTEST (r10) — evaluation of the naive seasonal
    // forecast (rev̂_m = rev_{m−12}, the baseline every real forecaster
    // must beat) over each priority's monthly revenue series: MAE and
    // WAPE as EXACT integer rationals (Σ|err| and Σactual in cents,
    // quantized by integer division — no per-term float fold, so no
    // summation-order risk; MAPE is deliberately NOT offered, its
    // per-term divisions would reintroduce exactly that). The baseline
    // is a CALENDAR join on the integer month index ym = 12·year+month
    // (a row-offset lag(12) would silently read 13+ months back across
    // any empty (priority, month) cell — spec-pinned on a gapped
    // series); months whose m−12 had no orders are excluded, stated
    // rather than imputed. One monthly rollup (map-side combined), one
    // self-join of the O(groups × months) table, O(groups) out.
    "q_forecast_eval" -> ((s, dir) => {
      val cents = round(col("o_totalprice") * 100).cast("long")
      val monthly = t(s, dir, "orders")
        .groupBy(col("o_orderpriority"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("ym"))
        .agg(sum(cents).as("c"))
      val ev = monthly.join(
        monthly.select(col("o_orderpriority"), (col("ym") + 12).as("ym"),
          col("c").as("f")),
        Seq("o_orderpriority", "ym"))
      ev.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("c") - col("f")).cast("decimal(38,0)")).as("sae"),
          sum(col("c").cast("decimal(38,0)")).as("sa"))
        .select(col("o_orderpriority"), col("n_eval"),
          (expr("(sae * 100) div n_eval").cast("double") / lit(10000.0))
            .as("mae"),
          (expr("(sae * 10000) div sa").cast("double") / lit(10000.0))
            .as("wape"))
        .orderBy("o_orderpriority")
    }),

    // RUNS TEST (r10) — Wald–Wolfowitz randomness diagnostic on each
    // supplier's price series (completing the hypothesis-test family
    // next to q_chi_square/q_ab_test/q_benford): is the above/below-mean
    // sign sequence random, or does it cluster (trending/regime prices)?
    // The sign is the exact integer cross-multiplication cents·n > Σcents
    // (never a float mean); runs count by one lag over the per-supplier
    // (shipdate, orderkey, linenumber) order — per-key fan-in bounded,
    // no global sort; μ = 2n₁n₂/n + 1 and σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1))
    // evaluate as one mirrored double tree on exact integer inputs,
    // floor-quantized. Degenerate series (all one sign → σ² ≤ 0) are
    // excluded by an exact integer guard.
    "q_runs_test" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_suppkey").as("sk"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val st = li.groupBy("sk").agg(
        sum(col("cents").cast("decimal(38,0)")).as("sc"),
        count(lit(1)).as("n"))
      val w = Window.partitionBy("sk")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      val signed = li.join(st, "sk")
        .withColumn("above",
          col("cents").cast("decimal(38,0)") * col("n") > col("sc"))
        .withColumn("chg",
          when(lag("above", 1).over(w).isNull ||
            lag("above", 1).over(w) === col("above"), 0L).otherwise(1L))
      val g = signed.groupBy("sk").agg(
        max("n").as("n"),
        sum(when(col("above"), 1L).otherwise(0L)).as("n1"),
        (sum("chg") + 1).as("runs"))
      val a = (col("n1") * (col("n") - col("n1")) * 2).as("a")
      val (aD, nD, rD) = (col("a").cast("double"), col("n").cast("double"),
        col("runs").cast("double"))
      g.select(col("sk").as("l_suppkey"), col("n"), col("n1"),
          (col("n") - col("n1")).as("n2"), col("runs"), a)
        .filter(col("n") >= 2 && col("a") > col("n"))
        .select(col("l_suppkey"), col("n"), col("n1"), col("n2"), col("runs"),
          (floor((rD - (aD / nD + lit(1.0))) /
            sqrt(aD * (aD - nD) / (nD * nD * (nD - lit(1.0))))
            * 10000) / 10000).as("z_runs"))
        .orderBy("l_suppkey")
    }),

    // DECILE PROFILE (r10) — exact equal-frequency customer-spend tiers
    // (the marketing/LTV "top decile" cut) WITHOUT a single-reducer
    // global sort: the per-customer spend table gets its exact global
    // rank from the two-level PrefixSum (range partition + per-slice
    // partials + broadcast offsets — rank = running count in total
    // (cents, custkey) order), and the tier is then pure integer math on
    // the rank (⌊(rk−1)·10/n⌋ — computed manually on BOTH engines, so no
    // NTILE remainder-placement dialect is trusted). Per-tier aggregates
    // are exact cents. This is q_percentiles' boundary math generalized
    // to a full equal-mass partition of the corpus.
    "q_ntile_profile" -> ((s, dir) => {
      val spend = t(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("g", lit(0)).withColumn("one", lit(1L))
      val ranked = graft.operators.PrefixSum.cumSum(spend, "g",
        Seq(col("cents"), col("o_custkey")), "one", "rk")
      val n = spend.agg(count(lit(1)).as("n"))
      ranked.crossJoin(broadcast(n))
        .select(expr("((rk - 1) * 10) div n").as("decile"), col("cents"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_customers"),
          (min("cents").cast("double") / 100.0).as("min_spend"),
          (max("cents").cast("double") / 100.0).as("max_spend"),
          round(sum(col("cents").cast("decimal(38,0)")).cast("double") / 100.0,
            4).as("total_spend"))
        .orderBy("decile")
    }),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV (r11) — does the high-priority order
    // price DISTRIBUTION differ from the rest, per order status (the
    // distribution-level twin of q_ab_test's mean comparison). The
    // statistic is exact rational arithmetic on the shared cumulative
    // marginal table: D·n₁·n₂ = max over distinct values of
    // |ca·n₂ − cb·n₁| — integers throughout (decimal(38) cross products),
    // so no float CDF ever materializes; the quantized D is one integer
    // division, and the λ = D·√(n₁n₂/(n₁+n₂)) significance scale is one
    // mirrored floor-quantized double tree on exact inputs (the
    // q_runs_test posture). One corpus scan (memoized, shared with
    // q_mann_whitney), one O(distinct values) max — no per-row rank, no
    // single-reducer sort anywhere.
    "q_ks_test" -> ((s, dir) => {
      val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
      val c = priorityRankCums(s, dir)
      val tot = c.groupBy("st").agg(sum("a").as("n1"), sum("b").as("n2"))
      val d = c.join(broadcast(tot), "st")
        .select(col("st"), col("n1"), col("n2"),
          abs(dec(col("ca")) * col("n2") - dec(col("cb")) * col("n1"))
            .as("dn"))
        .groupBy("st", "n1", "n2").agg(max("dn").as("dnum"))
        .filter(col("n1") > 0 && col("n2") > 0)
      val (n1D, n2D) = (col("n1").cast("double"), col("n2").cast("double"))
      val dD = col("dnum").cast("double")
      d.withColumn("d_num", when(
          col("dnum") >= lit(1000000000000000000L).cast("decimal(38,0)"),
          raise_error(lit("q_ks_test: D numerator >= 1e18 exceeds the " +
            "exact long output domain - emit the quantized statistic " +
            "only")).cast("long"))
          .otherwise(col("dnum").cast("long")))
        .select(col("st").as("o_orderstatus"), col("n1"), col("n2"),
          col("d_num"),
          (expr("(dnum * 10000) div (CAST(n1 AS DECIMAL(38,0)) * n2)")
            .cast("double") / 10000.0).as("ks_d"),
          (floor(dD / (n1D * n2D) * sqrt(n1D * n2D / (n1D + n2D))
            * 10000) / 10000).as("ks_lambda"))
        .orderBy("o_orderstatus")
    }),

    // MANN–WHITNEY U (r11) — the rank-sum twin of q_ks_test on the same
    // two samples: is one group's price stochastically larger. Pooled
    // tie-averaged ranks never rank rows — the ×2 half-rank identity on
    // the shared cumulative marginal (r2 = 2·cum − cnt + 1, the
    // q_spearman machinery) makes 2·R₁ = Σ a(v)·r2(v) an exact decimal
    // sum, 2·U₁ = 2·R₁ − n₁(n₁+1) an exact integer, and the tie
    // correction Σ(t³−t) an exact decimal — the z-score's normal
    // approximation is then one mirrored floor-quantized double tree.
    // Degenerate strata (a constant price column: σ = 0) are excluded by
    // an exact integer guard, never a NaN.
    "q_mann_whitney" -> ((s, dir) => {
      val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
      val c = priorityRankCums(s, dir)
      val r2 = c.withColumn("cnt", col("a") + col("b"))
        .withColumn("r2", (col("ca") + col("cb")) * 2 - col("cnt") + 1)
      val g = r2.groupBy("st").agg(
        sum("a").as("n1"), sum("b").as("n2"),
        sum(dec(col("r2")) * col("a")).as("rs2"),
        sum(dec(col("cnt")) * dec(col("cnt")) * dec(col("cnt"))
          - dec(col("cnt"))).as("ties"))
        .filter(col("n1") > 0 && col("n2") > 0)
        .withColumn("u2", col("rs2") -
          dec(col("n1")) * (dec(col("n1")) + 1))
        // all-tied stratum: Σ(t³−t) = n³−n ⇒ σ² = 0 — exact exclusion
        .filter(col("ties") <
          dec(col("n1") + col("n2")) * dec(col("n1") + col("n2"))
            * dec(col("n1") + col("n2")) - dec(col("n1") + col("n2")))
      val (n1D, n2D) = (col("n1").cast("double"), col("n2").cast("double"))
      val nD = n1D + n2D
      val (u2D, tD) = (col("u2").cast("double"), col("ties").cast("double"))
      g.withColumn("u1_x2", when(
          abs(col("u2")) >= lit(1000000000000000000L).cast("decimal(38,0)"),
          raise_error(lit("q_mann_whitney: 2*U1 >= 1e18 exceeds the exact " +
            "long output domain - emit the quantized z only")).cast("long"))
          .otherwise(col("u2").cast("long")))
        .select(col("st").as("o_orderstatus"), col("n1"), col("n2"),
          col("u1_x2"),
          (floor((u2D - n1D * n2D) /
            (lit(2.0) * sqrt(n1D * n2D / lit(12.0) *
              ((nD + lit(1.0)) - tD / (nD * (nD - lit(1.0))))))
            * 10000) / 10000).as("z_u"))
        .orderBy("o_orderstatus")
    }),

    // LINK PREDICTION (r11) — per-seed common-neighbor recommendations
    // over the co-purchase graph (the "customers who bought X also
    // bought Y" candidate generator; with pagerank/triangles/BFS/
    // beam-search this completes the graph verb set). The SEEDED serving
    // shape, not the global all-pairs ranking: recommendations are asked
    // per item, and the global form shuffles the full Σ C(d,2) wedge
    // mass through a (pair → count) exchange — measured 19 s at sf0.1
    // vs 2.0 s seeded. 100 highest-(degree, id) seeds broadcast
    // into one 2-hop expansion (per-seed mass = Σ_{w∈N(s)} d(w),
    // neighborhood-bounded at any graph size), one map-side-combined
    // count, known edges dropped by canonical-pair anti-join, top-5 per
    // seed by a PER-SEED window (fan-in = the seed's candidate set,
    // never the corpus).
    "q_link_predict" -> ((s, dir) => {
      val ed = partCoEdges(s, dir)
      // the shared pre-partitioned undirected artifact (r15): both hops
      // join on c0, which is the artifact's src partitioning key, so
      // neither join re-exchanges the edge table (alias-aware output
      // partitioning carries src -> c0 through the rename)
      val und = partCoUndirected(s, dir)
        .select(col("src").as("c0"), col("dst").as("nb"))
      val deg = ed.select(col("u").as("nd"), col("du").as("d"))
        .unionAll(ed.select(col("v").as("nd"), col("dv").as("d")))
        .distinct()
      val seeds = deg.orderBy(col("d").desc, col("nd")).limit(100)
        .select(col("nd").as("seed"))
      val hop1 = und.join(broadcast(seeds), col("c0") === col("seed"))
        .select(col("seed"), col("nb").as("w"))
      val cands = hop1.join(und, col("w") === col("c0"))
        .filter(col("nb") =!= col("seed"))
        .groupBy("seed", "nb")
        .agg(count(lit(1)).as("common_neighbors"))
        .withColumnRenamed("nb", "cand")
      val nonEdge = cands.join(ed.select("u", "v"),
          least(col("seed"), col("cand")) === col("u") &&
            greatest(col("seed"), col("cand")) === col("v"), "left_anti")
        .withColumnRenamed("seed", "p_partkey")
      val w = Window.partitionBy("p_partkey")
        .orderBy(col("common_neighbors").desc, col("cand"))
      nonEdge.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
        .select(col("p_partkey"), col("cand").as("rec_part"),
          col("common_neighbors"), col("rk"))
        .orderBy("p_partkey", "rk")
    }),

    // ONE-WAY ANOVA (r11) — does mean order price differ across the five
    // priority groups (the k-group generalization of q_ab_test's
    // two-arm Welch z; with KS/MW/Kendall/chi²/runs this completes the
    // classical test family). The corpus collapses to O(k) exact moment
    // rows (n_g, S_g in cents as decimal(38)); the variance decomposition
    // then rides the q_chi_square discipline — each group's S_g²·10⁴ div
    // n_g lands as an ALREADY-QUANTIZED integer, so the between/within
    // sums of squares are order-free integer sums (a float Σ S_g²/n_g
    // over groups would gate the summation order), and F =
    // (SSB/(k−1))/(SSW/(n−k)) is one mirrored double tree on those
    // quantized integers. Exact-decimal domain (via the sq4Div
    // decomposition below): |S_g| < 3·10¹⁶ cents per group (loud guard,
    // never a silent wrap) and n·|S| < 10³⁴ for the remainder term —
    // ~10¹¹ orders at the guard boundary, an order of magnitude past
    // the 100 TB point.
    "q_anova" -> ((s, dir) => {
      val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
      // exact decimal floor-division for NON-NEGATIVE operands: Spark's
      // `div` (IntegralDivide) lands in a LONG, and S_g²·10⁴/n_g is
      // ~10²⁹ — the quotient must stay decimal. (a − a % b)/b is exact
      // (the numerator is divisible by b, so the decimal divide rounds
      // nothing); truncation = floor = DuckDB `//` because every operand
      // here is ≥ 0 (SSB is clamped before its use). Spark types this
      // divide decimal(38,6) — 32 integer digits — so fdiv is only legal
      // for quotients < 10³²; S²·10⁴/n can exceed that (and S²·10⁴
      // itself can pass decimal(38)/HUGEINT at the grand total), hence:
      def fdiv(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) = ((a - a % b) / b).cast("decimal(38,0)")
      // ⌊S²·10⁴/n⌋ WITHOUT ever forming S²·10⁴: with q = ⌊S/n⌋,
      // r = S mod n, S²·10⁴/n = q·S·10⁴ + r·S·10⁴/n — the first term is
      // an integer product (≤ S²·10⁴/n ≤ 9·10³⁶ at the guard), the inner
      // quotient is < S·10⁴ ≤ 3·10²⁰ (safe in fdiv's 10³² domain), and
      // the inner numerator r·S·10⁴ < n·S·10⁴ needs n·|S| < 10³⁴ —
      // ~10¹¹ orders at the 3·10¹⁶-cent guard, stated with it. Mirrored
      // term-for-term in the oracle (HUGEINT would also pass 1.7·10³⁸
      // on the grand total's direct square).
      def sq4Div(sc: org.apache.spark.sql.Column,
          nc: org.apache.spark.sql.Column) = {
        val q = fdiv(sc, nc)
        val r = sc - q * nc
        q * sc * 10000 + fdiv(r * sc * 10000, nc)
      }
      val g = t(s, dir, "orders").groupBy("o_orderpriority").agg(
        count(lit(1)).as("ng"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sg"),
        sum(dec(round(col("o_totalprice") * 100).cast("long")) *
          round(col("o_totalprice") * 100).cast("long")).as("qg"))
      // BOTH documented domain bounds enforced in the guard (ANSI would
      // throw on the decimal overflow anyway, but the tailored error
      // names the remedy): |S_g| < 3e16 and n_g·|S_g| < 1e34
      val nsBound = lit(new java.math.BigDecimal(
        "10000000000000000000000000000000000")).cast("decimal(38,0)")
      val guarded = g.withColumn("t4", when(
          abs(dec(col("sg"))) >= lit(30000000000000000L).cast("decimal(38,0)")
            || dec(col("ng")) * abs(dec(col("sg"))) >= nsBound,
          raise_error(lit("q_anova: |S_g| >= 3e16 cents or n_g*|S_g| >= " +
            "1e34 exceeds the exact decimal(38) domain of the S_g^2*10^4 " +
            "decomposition - shard the groups or widen the math"))
            .cast("decimal(38,0)"))
          .otherwise(sq4Div(dec(col("sg")), dec(col("ng")))))
      val tot = guarded.agg(
        count(lit(1)).as("k"), sum("ng").as("n"),
        sum(dec(col("sg"))).as("st"), sum(dec(col("qg"))).as("qt"),
        sum(dec(col("t4"))).as("sum_t4"))
        .withColumn("grand4", sq4Div(dec(col("st")), dec(col("n"))))
        // SSB·10⁴ = Σ t4 − grand4 (clamped: per-group floors can land a
        // true-zero SSB a few units negative — both engines clamp
        // identically); SSW·10⁴ = Q·10⁴ − Σ t4 — all integers in decimal
        .withColumn("ssb4",
          greatest(dec(col("sum_t4")) - col("grand4"), dec(lit(0))))
        .withColumn("ssw4", dec(col("qt")) * 10000 - col("sum_t4"))
        .filter(col("k") >= 2 && col("n") > col("k") && col("ssw4") > 0)
      val (ssb, ssw) = (col("ssb4").cast("double"), col("ssw4").cast("double"))
      val (kD, nD) = (col("k").cast("double"), col("n").cast("double"))
      guarded.select(col("o_orderpriority"), col("ng"),
          (fdiv(dec(col("sg")) * 10000, col("ng"))
            .cast("double") / 10000.0 / 100.0).as("mean_price"))
        .crossJoin(broadcast(tot.select(
          col("k"), col("n"),
          // 2dp cents² via decimal floor-div (a double floor() saturates
          // at Long.MaxValue on 10²⁰-scale inputs)
          (fdiv(col("ssb4"), lit(100)).cast("double") / 100.0)
            .as("ssb_cents2"),
          (fdiv(col("ssw4"), lit(100)).cast("double") / 100.0)
            .as("ssw_cents2"),
          (floor((ssb / (kD - lit(1.0))) / (ssw / (nD - kD)) * 10000) / 10000)
            .as("f_stat"))))
        .orderBy("o_orderpriority")
    }),

    // KRUSKAL–WALLIS H (r12) — the rank-based one-way test (the
    // nonparametric analog of q_anova's F, k-sample where q_mann_whitney
    // is two-sample; with KS/MW/chi²/runs/Kendall this closes the
    // nonparametric family): does order value rank differently across
    // the five priority groups, per status stratum? Exact integer core on
    // the midrank trick — per distinct value, the DOUBLED midrank
    // r2 = 2C − c + 1 is an integer (C = inclusive cumulative count, c =
    // the value's count), so each group's doubled rank sum R2_g is exact;
    // Σ R2_g²/n_g runs through the q_anova quotient-remainder
    // decomposition (⌊R2²·10⁴/n⌋ without forming R2²·10⁴ — exact decimal,
    // floor per group identical in both engines), the tie term Σ(c³−c)
    // and N³−N stay exact decimals cast to double identically, and the
    // final H' = (3·S4/(10⁴·N(N+1)) − 3(N+1)) / (1 − T/(N³−N)) is
    // pinned operation-for-operation against the oracle and floor-
    // quantized at 4dp (the factor: H = 12/(N(N+1))·ΣR²/n − 3(N+1) and
    // R = R2/2 ⇒ 12·ΣR2²/(4n) = 3·ΣR2²/n = 3·S4/10⁴ — hand-checked in
    // Round12OpsSpec against the textbook no-tie and scipy tie cases,
    // BECAUSE a mirrored formula error passes the hash gate by
    // construction). Scale shape: one (st, v, g) aggregate, the
    // PrefixSum two-level cum (never a corpus-wide window), O(strata ×
    // groups) from there.
    "q_kruskal_wallis" -> ((s, dir) => {
      val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
      def fdiv(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column) = ((a - a % b) / b).cast("decimal(38,0)")
      def sq4Div(sc: org.apache.spark.sql.Column,
          nc: org.apache.spark.sql.Column) = {
        val q = fdiv(sc, nc)
        val r = sc - q * nc
        q * sc * 10000 + fdiv(r * sc * 10000, nc)
      }
      val base = t(s, dir, "orders").select(
        col("o_orderstatus").as("st"),
        round(col("o_totalprice") * 100).cast("long").as("v"),
        col("o_orderpriority").as("g"))
      // the per-(st, v) row CARRIES its per-group breakdown as a bounded
      // array (≤ |priority groups| entries — the g domain, not rows), so
      // the midrank attach after the cumulative count is a map-side
      // explode instead of the former (st, v)-keyed shuffle join of two
      // tables derived from a lineage-cut multiplicity table (r15, guide
      // §2.4: the join's two exchanges and the cut job are gone; the
      // aggregate feeds PrefixSum once, whose cut ranged table already
      // serves its two internal readers)
      val m = base.groupBy("st", "v", "g").agg(count(lit(1)).as("c"))
      val mv = m.groupBy("st", "v").agg(sum("c").as("cnt"),
        collect_list(struct(col("g"), col("c"))).as("gs"))
      val cum = graft.operators.PrefixSum.cumSums(mv, "st", Seq(col("v")),
        Seq("cnt" -> "cc"))
      val r2 = cum
        .withColumn("r2", col("cc") * 2 - col("cnt") + 1)
        .select(col("st"), col("r2"), explode(col("gs")).as("gc"))
        .select(col("st"), col("r2"), col("gc.g").as("g"), col("gc.c").as("c"))
      val perG = r2.groupBy("st", "g").agg(
        sum("c").as("ng"), sum(dec(col("r2")) * col("c")).as("rs2"))
      // R2_g ≥ 0 always (ranks are positive), so the non-negative-domain
      // floor-division decomposition applies as-is; same decimal(38)
      // guard as q_anova, stated with its remedy
      val nsBound = lit(new java.math.BigDecimal(
        "10000000000000000000000000000000000")).cast("decimal(38,0)")
      val guarded = perG.withColumn("t4", when(
          dec(col("rs2")) >= lit(30000000000000000L).cast("decimal(38,0)")
            || dec(col("ng")) * dec(col("rs2")) >= nsBound,
          raise_error(lit("q_kruskal_wallis: R2_g >= 3e16 or n_g*R2_g >= " +
            "1e34 exceeds the exact decimal(38) domain of the R2^2*10^4 " +
            "decomposition - shard the strata or widen the math"))
            .cast("decimal(38,0)"))
          .otherwise(sq4Div(dec(col("rs2")), dec(col("ng")))))
      // tie term off the PrefixSum OUTPUT, not `mv` — a second direct
      // consumption of mv would replay the corpus aggregate, while the
      // cumsum output's second reader scans PrefixSum's cut
      // range-partitioned table
      val tieT = cum.groupBy("st").agg(
        sum(dec(col("cnt")) * dec(col("cnt")) * dec(col("cnt"))
          - dec(col("cnt"))).as("tt"))
      val perSt = guarded.groupBy("st").agg(
        count(lit(1)).as("k"), sum("ng").as("n"),
        sum(dec(col("t4"))).as("s4"))
        .join(tieT, "st")
        .withColumn("nn",
          dec(col("n")) * dec(col("n")) * dec(col("n")) - dec(col("n")))
        // a stratum that is all ties (one distinct value) or one group
        // has no defined H — excluded exactly, like the MW σ²=0 rule
        .filter(col("k") >= 2 && col("tt") < col("nn"))
      val (s4D, nD) = (col("s4").cast("double"), col("n").cast("double"))
      val (tD, nnD) = (col("tt").cast("double"), col("nn").cast("double"))
      perSt.select(col("st").as("o_orderstatus"), col("n"), col("k"),
          (floor((lit(3.0) * s4D / (lit(10000.0) * nD * (nD + lit(1.0)))
              - lit(3.0) * (nD + lit(1.0)))
            / (lit(1.0) - tD / nnD) * 10000) / 10000).as("h_stat"))
        .orderBy("o_orderstatus")
    }),

    // BFS REACHABILITY LEVELS (r11) — multi-hop frontier expansion over
    // the part co-purchase graph (completing the graph family: q_pagerank
    // = centrality, q_triangle_count = density, this = reachability; the
    // "how far does influence propagate" primitive behind recall
    // expansion, blast-radius and recommendation hops). The Pregel shape
    // as pure relational algebra, like q_pagerank's iterations: each hop
    // is ONE frontier⋈edges shuffle join + distinct + anti-join against
    // the visited set, lineage-cut so hop h never replays hops 1..h−1;
    // the seed (min node id) is a 1-row bounded driver pull; every output
    // is an exact integer (level populations + id sums), so three chained
    // CTEs replay the run bit-for-bit. Unreached nodes are REPORTED
    // (lvl = −1), never silently dropped.
    // SEQUENTIAL PATTERN MINING (r12) — support counting for EVERY
    // ordered event-type triple (the GSP/PrefixSpan length-3 census; the
    // generalization of q_funnel's one fixed stage chain and
    // q_transition_matrix's adjacent pairs to arbitrary-gap subsequences):
    // a user supports (a, b, c) iff their stream contains types a, b, c
    // at STRICTLY increasing timestamps. Decided by the greedy
    // earliest-occurrence rule (first a, then first b after it, then any
    // c after that — correct for existence by exchange argument, and
    // deterministic with no tie-break: comparisons are strict on ts, so
    // same-ts events simply cannot chain). Scale shape: two user-keyed
    // equi-joins with alphabet-bounded fan-out (≤|Σ| rows per user after
    // the first aggregate, ≤|Σ|² after the second — O(|Σ|²·events) work,
    // |Σ| = 5 here), one final O(|Σ|³) census; no window, no per-user
    // collect.
    "q_seq_pattern" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("ts_us"))
      val a1 = e.groupBy(col("user_id"), col("event_type").as("a"))
        .agg(min("ts_us").as("ta"))
      val b1 = a1.join(e, Seq("user_id"))
        .filter(col("ts_us") > col("ta"))
        .groupBy(col("user_id"), col("a"), col("event_type").as("b"))
        .agg(min("ts_us").as("tb"))
      val c1 = b1.join(e, Seq("user_id"))
        .filter(col("ts_us") > col("tb"))
        .select(col("user_id"), col("a"), col("b"),
          col("event_type").as("c"))
        .distinct()
      c1.groupBy("a", "b", "c").agg(count(lit(1)).as("n_users"))
        .orderBy("a", "b", "c")
    }),

    // LABEL PROPAGATION (r12) — synchronous LPA community detection over
    // the part co-purchase graph (Raghavan et al. '07; with pagerank =
    // centrality, triangles = density, BFS = reachability, link-predict =
    // recommendation, this adds COMMUNITY STRUCTURE to the graph verb
    // set). Three synchronous rounds from identity labels; each node
    // adopts the most frequent label among its in-neighbors with the
    // DETERMINISTIC tie rule (highest count, then lowest label) — the
    // rule that makes a parallel LPA replayable at all (async/random-tie
    // LPA is run-dependent, which a gated engine cannot ship). Scale
    // shape: each round is ONE edges⋈labels shuffle join + a per-node
    // argmax (map-side combined counts, never a corpus window),
    // lineage-cut so round r never replays rounds 1..r−1 — the same
    // Pregel-as-relational-algebra posture as q_pagerank/q_bfs_reach.
    // Output: community size histogram (label → members) after round 3.
    "q_label_prop" -> ((s, dir) => {
      val ed = partCoEdges(s, dir)
      val und = partCoUndirected(s, dir)
      var labels: DataFrame = ed.select(col("u").as("node"))
        .unionAll(ed.select(col("v").as("node"))).distinct()
        .select(col("node"), col("node").as("label"))
      // no per-round lineage cut (r15, guide §1.2): each round's labels
      // table is consumed exactly ONCE by the next round, so nothing ever
      // replays — the q_pagerank posture. The 3 rounds chain into a single
      // action instead of 3 eager localCheckpoint materializations; the
      // edge side is the shared pre-partitioned cut artifact either way.
      for (_ <- 1 to 3) {
        labels = und.join(labels, col("src") === col("node"))
          .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("dst"))
          .agg(max_by(col("label"),
            struct(col("cnt"), (-col("label")).as("nl"))).as("label"))
          .select(col("dst").as("node"), col("label"))
      }
      labels.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_members"),
          sum(pmod(col("node"), lit(1000000007L))).as("member_checksum"))
        .orderBy("community")
    }),

    "q_bfs_reach" -> ((s, dir) => {
      val ed = partCoEdges(s, dir)
      val und = partCoUndirected(s, dir)
      // every edge has u < v, so min(u) IS the global min node id; an
      // EMPTY graph (no order carries two distinct parts) has no seed —
      // emit the empty report rather than NPE on the null aggregate
      // (the oracle's HAVING mirrors this: no phantom null-node level).
      // No `return` — a non-local return from this lambda would throw.
      val seedRow = ed.agg(min("u")).head()
      if (seedRow.isNullAt(0)) {
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("lvl", LongType, nullable = false),
            StructField("n_nodes", LongType, nullable = false),
            StructField("id_sum", LongType))))
      } else {
        val seed = seedRow.getLong(0)
        var frontier: DataFrame = s.range(1).select(lit(seed).as("node"))
        var levels = Seq(frontier.withColumn("lvl", lit(0L)))
        for (l <- 1 to 3) {
          val visited = levels.map(_.select("node")).reduce(_ unionAll _)
          val next = graft.operators.Checkpointing.cut(
            und.join(frontier, col("src") === col("node"))
              .select(col("dst").as("node")).distinct()
              .join(visited, Seq("node"), "left_anti"))
          frontier = next
          levels = levels :+ next.withColumn("lvl", lit(l.toLong))
        }
        val reached = levels.reduce(_ unionAll _)
        // DISTINCT nodes: Dataset.union is UNION ALL — without the dedupe
        // an unreached degree-k node would count k times in the lvl −1 row
        // (caught by review; the disconnected-triangle spec pins it)
        val allNodes = ed.select(col("u").as("node"))
          .unionAll(ed.select(col("v").as("node"))).distinct()
        val unreached = allNodes
          .join(reached.select("node"), Seq("node"), "left_anti")
          .withColumn("lvl", lit(-1L))
        // id sums fold in decimal(38) (Σ node-ids over a 1e10-node level
        // passes a long); the output cast is the loud ANSI boundary
        reached.unionAll(unreached)
          .groupBy("lvl")
          .agg(count(lit(1)).as("n_nodes"),
            sum(col("node").cast("decimal(38,0)")).cast("long").as("id_sum"))
          .orderBy("lvl")
      }
    }),

    // KENDALL'S TAU-B (r11) — the pair-concordance rank correlation
    // completing the family with q_spearman (τ is the probability-scale
    // "P(concordant) − P(discordant)" statistic analysts reach for when
    // ρ's variance-normalization is unwanted) between two DOMAIN-BOUNDED
    // variables (quantity ≈ 50 values × discount-% = 11 values): the
    // corpus collapses once to the per-flag (x, y) cell-count table, and
    // every O(n²) pair quantity becomes EXACT decimal algebra over the
    // O(|X|·|Y|)² cell-pair join — bounded by the value domain at any
    // corpus size, never by rows (the naive row-pair form is n² and dead
    // at 100 TB; a corpus-sized variable belongs to q_spearman's PrefixSum
    // machinery instead). C, D, and the tie terms are exact integers;
    // τ_b = 2(C−D)/√(dx·dy) with dx = n(n−1) − Σtx(tx−1) is one mirrored
    // floor-quantized double tree; constant variables excluded by exact
    // integer guard.
    "q_kendall_tau" -> ((s, dir) => {
      val dec = (x: org.apache.spark.sql.Column) => x.cast("decimal(38,0)")
      val base = t(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_discount") * 100).cast("long").as("y"))
      val cells = graft.operators.Checkpointing.cut(
        base.groupBy("flag", "x", "y").agg(count(lit(1)).as("m")))
      val c2 = cells.select(col("flag"), col("x").as("x2"),
        col("y").as("y2"), col("m").as("m2"))
      val prod = cells.join(c2, Seq("flag")).filter(col("x") < col("x2"))
        .withColumn("w", dec(col("m")) * col("m2"))
      val zero = lit(0).cast("decimal(38,0)")
      val cd = prod.groupBy("flag").agg(
        coalesce(sum(when(col("y") < col("y2"), col("w"))), zero).as("cc"),
        coalesce(sum(when(col("y") > col("y2"), col("w"))), zero).as("dd"))
      def tieTerm(c: String, out: String) = cells
        .groupBy("flag", c).agg(sum("m").as("tm"))
        .groupBy("flag").agg(sum("tm").as(s"n_$out"),
          sum(dec(col("tm")) * (col("tm") - 1)).as(s"t_$out"))
      val g = cd
        .join(broadcast(tieTerm("x", "x")), "flag")
        .join(broadcast(tieTerm("y", "y").drop("n_y")), "flag")
        .withColumn("dx", dec(col("n_x")) * (dec(col("n_x")) - 1) - col("t_x"))
        .withColumn("dy", dec(col("n_x")) * (dec(col("n_x")) - 1) - col("t_y"))
        .filter(col("dx") > 0 && col("dy") > 0)
      val big = lit(1000000000000000000L).cast("decimal(38,0)")
      def asLong(c: String, outName: String) = when(col(c) >= big,
        raise_error(lit(s"q_kendall_tau: $c >= 1e18 exceeds the exact " +
          "long output domain - emit the quantized tau only")).cast("long"))
        .otherwise(col(c).cast("long")).as(outName)
      g.select(col("flag"), col("n_x").cast("long").as("n_rows"),
          asLong("cc", "concordant"), asLong("dd", "discordant"),
          (floor((col("cc").cast("double") - col("dd").cast("double")) *
            lit(2.0) / sqrt(col("dx").cast("double") * col("dy").cast("double"))
            * 10000) / 10000).as("tau_b"))
        .orderBy("flag")
    }),

    // TRIANGLE COUNT (r11) — global triangle census + clustering
    // coefficient of the part co-purchase graph (the graph-shape
    // diagnostic next to q_pagerank's centrality; community density,
    // spam/fraud ring detection are this primitive). The scalable
    // node-iterator++ shape: every edge is ORIENTED from its
    // lower-(degree, id) endpoint, so wedge fan-out at a hub is bounded
    // by its FORWARD degree (O(√m) on any graph, never the hub's full
    // degree), wedges close by one equi-join against the oriented edge
    // set, and each triangle is counted exactly once — no factor-3
    // correction, no unoriented n·d² blowup. gcc = 3·T/wedges lands as
    // one quantized integer division on exact tallies.
    "q_triangle_count" -> ((s, dir) => {
      val ed = partCoEdges(s, dir)
      val lt = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val ori = ed.select(
        when(lt, col("u")).otherwise(col("v")).as("s"),
        when(lt, col("v")).otherwise(col("u")).as("t"))
      // closure by ADJACENCY INTERSECTION, not a wedge join: a triangle's
      // orientations form a DAG u→v→w, so it is counted exactly once at
      // its base edge (u, v) as a common FORWARD neighbor of u and v —
      // |N⁺(u) ∩ N⁺(v)| per edge via the codegen'd merge-walk kernel over
      // per-node sorted forward lists (arrays bounded by the forward
      // degree, O(√m) under this orientation). vs the materialized wedge
      // join this exchanges O(edges) adjacency rows instead of O(wedges)
      // candidate rows — measured 7× on the 147.8 M-wedge sf0.1 graph
      // (7.65 → 1.09 s steady state);
      // SHUFFLE_HASH keeps the array-laden side from being sorted (the
      // dedup artifact-join rule). Edges whose head has no forward
      // neighbors contribute zero and drop out of the inner join.
      val adj = graft.operators.Checkpointing.cut(
        ori.groupBy("s").agg(sort_array(collect_list("t")).as("nbr")))
      val tri = ori
        .join(adj.select(col("s"), col("nbr").as("nbr_u")).hint("SHUFFLE_HASH"),
          "s")
        .join(adj.select(col("s").as("t"), col("nbr").as("nbr_v"))
          .hint("SHUFFLE_HASH"), "t")
        .select(graft.plans.SortedIntersectCount
          .count(s, col("nbr_u"), col("nbr_v")).as("c"))
        .agg(coalesce(sum("c"), lit(0L)).as("n_triangles"))
      // per-node degree table: each node carries ONE degree — distinct
      // over the (node, degree) endpoint projections recovers it from
      // the memoized edge table without a second degree aggregation
      val deg = ed.select(col("u").as("nd"), col("du").as("d"))
        .unionAll(ed.select(col("v").as("nd"), col("dv").as("d")))
        .distinct()
      // wedge mass in decimal(38): a hub's d·(d−1) passes a long at
      // ~3e9-degree hubs, and ANSI would throw mid-aggregate — the loud
      // boundary belongs at the OUTPUT cast (ANSI long overflow), not
      // inside the fold
      val nodes = deg.agg(count(lit(1)).as("n_nodes"),
        expr("(sum(CAST(d AS DECIMAL(38,0)) * (d - 1)) div 2)")
          .cast("long").as("n_wedges"))
      val edges = ed.agg(count(lit(1)).as("n_edges"))
      nodes.crossJoin(edges).crossJoin(tri)
        .filter(col("n_wedges") > 0)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          (expr("(CAST(n_triangles AS DECIMAL(38,0)) * 3 * 10000) " +
            "div n_wedges").cast("double") / 10000.0).as("gcc"))
    }))

  /** HLL register-table set algebra (q_hll_union): per-segment 512-register
    * tables (one corpus scan) compose into pairwise UNION distinct
    * estimates as pure register max-merge — O(segments² × 512)-row
    * algebra, no row rescan. `audit = true` adds an exact countDistinct
    * union column from a SECOND full corpus pass — the gate-SF posture
    * (the oracle checks estimate AND truth); the DEFAULT is audit OFF, the
    * production plan (the r8 VERDICT item 5 guard, aligning this with
    * lshAudit's sampled-by-default discipline): one scan, sketch algebra
    * only. The single-scan default is pinned by spec. */
  private[graft] def hllUnion(rows: DataFrame, segCol: String,
      keyCol: String, audit: Boolean = false): DataFrame = {
    val two50 = 1125899906842624L
    val h = rows
      .select(col(segCol).as("seg"), col(keyCol).as("key"),
        conv(substring(md5(col(keyCol).cast("string")), 1, 12), 16, 10)
          .cast("long").as("h"))
    // lineage-cut the O(segments × 512) register table: it feeds the
    // segs/pairs derivation AND the merge — uncut, each branch would
    // replay the corpus scan (the pipeline_quality_drift rule)
    val regs = graft.operators.Checkpointing.cut(h
      .select(col("seg"), shiftright(col("h"), 39).as("j"),
        col("h").bitwiseAND(lit(549755813887L)).as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(40)).otherwise(lit(40) - length(bin(col("w")))))
      .groupBy("seg", "j").agg(max("rho").as("m_j")))
    // distinct segment pairs (seg_a < seg_b); O(segments²) rows
    val segs = regs.select("seg").distinct()
    val pairs = segs.select(col("seg").as("seg_a"))
      .join(segs.select(col("seg").as("seg_b")), col("seg_a") < col("seg_b"))
    // union registers per pair: max-merge of the two register tables —
    // pairs attach through an exploded EQUI-join (r16, the same shape fix
    // the r15 round applied to the audit leg: the former OR-condition join
    // planned as a nested loop over regs × pairs, O(segments³ × 512) row
    // visits at warehouse segment counts; the explode keeps it hash-joinable
    // at 2 rows per pair)
    val merged = pairs
      .select(col("seg_a"), col("seg_b"),
        explode(array(col("seg_a"), col("seg_b"))).as("seg"))
      .join(regs, "seg")
      .groupBy("seg_a", "seg_b", "j").agg(max("m_j").as("m_j"))
    val est = merged.groupBy("seg_a", "seg_b")
      .agg(count(lit(1)).as("n_regs"),
        expr("sum(shiftleft(cast(1 as bigint), cast(50 - m_j as int)))")
          .as("s_present"))
      .select(col("seg_a"), col("seg_b"),
        ((col("s_present") +
          (lit(512L) - col("n_regs")) * lit(two50)).cast("double")).as("sd"),
        (lit(512L) - col("n_regs")).as("v_empty"))
      .withColumn("raw",
        (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(512.0))) *
          lit(262144.0) * lit(1125899906842624.0) / col("sd"))
      .withColumn("est",
        when(col("raw") <= lit(1280.0) && col("v_empty") > 0,
          lit(512.0) * log(lit(512.0) / col("v_empty").cast("double")))
          .otherwise(col("raw")))
      .select(col("seg_a"), col("seg_b"),
        floor(col("est")).cast("long").as("hll_union"))
    if (!audit) est.orderBy("seg_a", "seg_b")
    else {
      // exact union audit: the one consumer that genuinely needs raw keys.
      // r15 (guide §2.3/§3): dedup to per-seg DISTINCT keys FIRST (map-side
      // combined — the md5 projection is not recomputed here, raw keys
      // suffice), then attach pairs through an exploded EQUI-join instead
      // of the former OR-condition nested-loop over corpus rows — the
      // countDistinct exchange carries the distinct key set, not raw rows
      val pairsE = pairs.select(col("seg_a"), col("seg_b"),
        explode(array(col("seg_a"), col("seg_b"))).as("seg"))
      val exact = rows
        .select(col(segCol).as("seg"), col(keyCol).as("key")).distinct()
        .join(broadcast(pairsE), "seg")
        .groupBy("seg_a", "seg_b")
        .agg(countDistinct("key").as("exact_union"))
      est.join(exact, Seq("seg_a", "seg_b"))
        .select(col("seg_a"), col("seg_b"), col("hll_union"), col("exact_union"))
        .orderBy("seg_a", "seg_b")
    }
  }

  /** Shared DuckDB prelude for event queries (ns timestamps → epoch micros). */
  private val evCte =
    "WITH e AS (SELECT event_id, user_id, event_type, value, props, epoch_us(ts) AS ts_us FROM events)"

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 4) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_extendedprice), 4) AS avg_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join_agg" ->
      """SELECT l_orderkey,
        |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY rev DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q5_multijoin" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS rev
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name
        |ORDER BY rev DESC, n_name""".stripMargin,

    "q_semijoin" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_antijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_window_rank" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rn, price_rank
        |FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |         row_number() OVER (PARTITION BY l_suppkey
        |             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn,
        |         rank() OVER (PARTITION BY l_suppkey
        |             ORDER BY l_extendedprice DESC) AS price_rank
        |  FROM lineitem)
        |WHERE rn <= 5
        |ORDER BY l_suppkey, rn""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice,
        |       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 4)
        |         AS running_spend,
        |       lag(o_totalprice) OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS prev_price,
        |       row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_orderdate, o_orderkey) AS order_seq
        |FROM orders
        |ORDER BY o_custkey, order_seq""".stripMargin,

    "q_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "q_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rflag, lstatus""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |       round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
        |       round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
        |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
        |       round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS "view"
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_orderpriority, rk""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_scalar_subquery" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |       round(nation_avg, 4) AS nation_avg
        |FROM (
        |  SELECT *, avg(c_acctbal) OVER (PARTITION BY c_nationkey) AS nation_avg
        |  FROM customer)
        |WHERE c_acctbal > nation_avg
        |ORDER BY c_custkey""".stripMargin,

    "q_setops" ->
      """SELECT k FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        |  INTERSECT
        |  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 200000
        |  UNION
        |  (SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |   EXCEPT
        |   SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 200000))
        |ORDER BY k""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |       COALESCE(l_linestatus, 'ALL') AS lstatus,
        |       count(*) AS n, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    // the integer-cents rank-math replay — no quantile_cont anywhere
    "q_percentiles" ->
      s"""WITH $centsPctCtes
         |SELECT l_returnflag, p50, p95 FROM pct
         |ORDER BY l_returnflag""".stripMargin,

    // identical cents collapse, aggregated-table cumulative weights, and
    // integer cross-multiplied crossing rule (smallest price reaching the
    // target mass)
    "q_weighted_percentile" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |         CAST(round(l_quantity * 100) AS BIGINT) AS qc
        |  FROM lineitem),
        |g AS (SELECT l_returnflag, pc, CAST(sum(qc) AS BIGINT) AS w
        |      FROM h GROUP BY 1, 2),
        |c AS (SELECT *, CAST(sum(w) OVER (PARTITION BY l_returnflag
        |                ORDER BY pc) AS BIGINT) AS cum FROM g),
        |t AS (SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS tot,
        |             CAST(count(*) AS BIGINT) AS n_prices
        |      FROM g GROUP BY 1)
        |SELECT c.l_returnflag,
        |       max(tot) AS total_weight, max(n_prices) AS n_prices,
        |       CAST(min(CASE WHEN cum * 2 >= tot * 1 THEN pc END) AS DOUBLE)
        |         / 100.0::DOUBLE AS weighted_p50,
        |       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN pc END) AS DOUBLE)
        |         / 100.0::DOUBLE AS weighted_p90
        |FROM c JOIN t USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // full HLL replay (r8): same md5-48 hashes, same top-9-bit bucketing,
    // rho via length(bin(w)) (identical minimal-width binary in both
    // engines), Σ2^-Mj as the exact integer Σ2^(50-Mj), the same
    // fixed-order IEEE raw estimate, the same floored small-range branch
    // (integer-floor immunity measured over the whole 512-value domain),
    // and the engine-HLL envelope bit asserted TRUE
    "q_approx_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM lineitem),
        |r AS (SELECT l_returnflag, h >> 39 AS j, h & 549755813887 AS w FROM h),
        |regs AS (
        |  SELECT l_returnflag, j,
        |         max(CASE WHEN w = 0 THEN 40 ELSE 40 - length(bin(w)) END) AS m_j
        |  FROM r GROUP BY 1, 2),
        |g AS (
        |  SELECT l_returnflag, count(*) AS n_regs,
        |         CAST(sum(1::BIGINT << CAST(50 - m_j AS INTEGER)) AS BIGINT) AS s_present,
        |         CAST(sum(m_j) AS BIGINT) AS reg_checksum
        |  FROM regs GROUP BY 1),
        |e AS (
        |  SELECT l_returnflag, reg_checksum,
        |         512 - n_regs AS v_empty,
        |         s_present + (512 - n_regs) * 1125899906842624 AS s_scaled
        |  FROM g),
        |est AS (
        |  SELECT *,
        |         (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 512.0::DOUBLE))
        |           * 262144.0::DOUBLE * 1125899906842624.0::DOUBLE
        |           / CAST(s_scaled AS DOUBLE) AS raw
        |  FROM e),
        |x AS (
        |  SELECT l_returnflag, reg_checksum, v_empty,
        |         raw <= 1280.0 AND v_empty > 0 AS small_range,
        |         CASE WHEN raw <= 1280.0 AND v_empty > 0
        |              THEN 512.0::DOUBLE * ln(512.0::DOUBLE / CAST(v_empty AS DOUBLE))
        |              ELSE raw END AS est
        |  FROM est),
        |ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
        |       FROM lineitem GROUP BY 1)
        |SELECT x.l_returnflag,
        |       CAST(ex.exact_parts AS BIGINT) AS exact_parts,
        |       CAST(floor(est) AS BIGINT) AS hll_parts,
        |       small_range AS hll_small_range,
        |       CAST(v_empty AS BIGINT) AS hll_empty_regs,
        |       reg_checksum,
        |       TRUE AS engine_hll_ok
        |FROM x JOIN ex USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    // histogram-sketch replay (r8): same 2^16-cent buckets, same integer
    // rank-crossing test, same fixed-order interpolation; exact columns
    // from the shared integer-cents rank math (r11 — q_percentiles
    // parity, quantile_cont retired), envelope bits TRUE
    "q_approx_percentiles" ->
      s"""WITH v AS (
        |  SELECT l_returnflag,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS vc
        |  FROM lineitem),
        |hist AS (SELECT l_returnflag, vc >> 16 AS b, count(*) AS cnt
        |         FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, b, CAST(cnt AS BIGINT) AS cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY b)
        |           AS BIGINT) AS cum
        |  FROM hist),
        |c2 AS (SELECT *, cum - cnt AS cum_before FROM cum),
        |tot AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n,
        |               CAST(count(*) AS BIGINT) AS n_buckets
        |        FROM hist GROUP BY 1),
        |sk AS (
        |  SELECT c2.l_returnflag, max(n) AS n, max(n_buckets) AS n_buckets,
        |         max(CASE WHEN cum * 20 >= n * 10 AND cum_before * 20 < n * 10
        |           THEN (CAST(b * 65536 AS DOUBLE) +
        |                 65536.0::DOUBLE * CAST(n * 10 - cum_before * 20 AS DOUBLE)
        |                   / CAST(cnt * 20 AS DOUBLE)) / 100.0::DOUBLE
        |           END) AS h50,
        |         max(CASE WHEN cum * 20 >= n * 19 AND cum_before * 20 < n * 19
        |           THEN (CAST(b * 65536 AS DOUBLE) +
        |                 65536.0::DOUBLE * CAST(n * 19 - cum_before * 20 AS DOUBLE)
        |                   / CAST(cnt * 20 AS DOUBLE)) / 100.0::DOUBLE
        |           END) AS h95
        |  FROM c2 JOIN tot USING (l_returnflag) GROUP BY 1),
        |$centsPctCtes
        |SELECT sk.l_returnflag, n, n_buckets,
        |       floor(h50 * 10000) / 10000 AS hist_p50,
        |       floor(h95 * 10000) / 10000 AS hist_p95,
        |       p50, p95,
        |       TRUE AS engine_p50_ok, TRUE AS engine_p95_ok
        |FROM sk JOIN pct USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    // same register derivation, pairwise greatest-merge, same estimator
    // arithmetic; exact union audit alongside
    "q_hll_union" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag AS seg, l_partkey,
        |         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM lineitem),
        |r AS (SELECT seg, h >> 39 AS j, h & 549755813887 AS w FROM h),
        |regs AS (
        |  SELECT seg, j,
        |         max(CASE WHEN w = 0 THEN 40 ELSE 40 - length(bin(w)) END) AS m_j
        |  FROM r GROUP BY 1, 2),
        |segs AS (SELECT DISTINCT seg FROM regs),
        |pairs AS (
        |  SELECT a.seg AS seg_a, b.seg AS seg_b
        |  FROM segs a JOIN segs b ON a.seg < b.seg),
        |merged AS (
        |  SELECT seg_a, seg_b, j, max(m_j) AS m_j
        |  FROM pairs JOIN regs ON seg = seg_a OR seg = seg_b
        |  GROUP BY 1, 2, 3),
        |g AS (
        |  SELECT seg_a, seg_b, count(*) AS n_regs,
        |         CAST(sum(1::BIGINT << CAST(50 - m_j AS INTEGER)) AS BIGINT) AS s_present
        |  FROM merged GROUP BY 1, 2),
        |e AS (
        |  SELECT seg_a, seg_b,
        |         CAST(s_present + (512 - n_regs) * 1125899906842624 AS DOUBLE) AS sd,
        |         512 - n_regs AS v_empty
        |  FROM g),
        |est AS (
        |  SELECT seg_a, seg_b, v_empty,
        |         (0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 512.0::DOUBLE))
        |           * 262144.0::DOUBLE * 1125899906842624.0::DOUBLE / sd AS raw
        |  FROM e),
        |x AS (
        |  SELECT seg_a, seg_b,
        |         CASE WHEN raw <= 1280.0 AND v_empty > 0
        |              THEN 512.0::DOUBLE * ln(512.0::DOUBLE / CAST(v_empty AS DOUBLE))
        |              ELSE raw END AS est
        |  FROM est),
        |ex AS (
        |  SELECT seg_a, seg_b, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_union
        |  FROM pairs JOIN h ON seg = seg_a OR seg = seg_b
        |  GROUP BY 1, 2)
        |SELECT x.seg_a, x.seg_b,
        |       CAST(floor(est) AS BIGINT) AS hll_union,
        |       exact_union
        |FROM x JOIN ex USING (seg_a, seg_b)
        |ORDER BY seg_a, seg_b""".stripMargin,

    // the STREAMING engine's final buffers replayed by the batch KMV SQL:
    // the buffer is a pure function of the key-hash set, so the same
    // bottom-64 derivation and the same estimator arithmetic gate the
    // stream
    "q_kmv_stream" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, h,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        |  FROM h)
        |SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_mins,
        |       round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
        |                  ELSE 63.0 / (max(CASE WHEN rn = 64 THEN h END)
        |                               / 281474976710656.0)
        |             END, 4) AS kmv_parts
        |FROM r WHERE rn <= 64
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // exact KMV replay: same md5 coins, same 48-bit normalization, same
    // small-domain fallback — the estimator is a pure function of the data
    "q_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, h,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        |  FROM h),
        |ex AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT r.l_returnflag,
        |       round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
        |                  ELSE 63.0 / (max(CASE WHEN rn = 64 THEN r.h END)
        |                               / 281474976710656.0)
        |             END, 4) AS kmv_parts,
        |       max(ex.exact_parts) AS exact_parts
        |FROM r JOIN ex USING (l_returnflag)
        |WHERE rn <= 64
        |GROUP BY r.l_returnflag
        |ORDER BY r.l_returnflag""".stripMargin,

    // the md5 coin is a pure row-key function — DuckDB draws the identical
    // sample; the percentiles over it ride the shared rank math (r11)
    "q_sampled_percentiles" ->
      s"""WITH ${rankPctCtes(
        """SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS vc,
          |       CAST(count(*) AS BIGINT) AS cnt
          |  FROM lineitem
          |  WHERE substr(md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR), 1, 1) < '4'
          |  GROUP BY 1, 2""".stripMargin)}
         |SELECT pa.l_returnflag, pa.n AS n_sampled, pct.p50, pct.p95
         |FROM pa JOIN pct USING (l_returnflag)
         |ORDER BY pa.l_returnflag""".stripMargin,

    // sketch-rollup replay: per-day bottom-64 hash sets, window merge =
    // distinct union re-bottom-64 (range join on the tiny day table),
    // same (k−1)/h₍ₖ₎ estimator; exact side re-joins the (day, user) rows
    "q_rolling_distinct" ->
      s"""$evCte,
         |h AS (
         |  SELECT DISTINCT ts_us // 86400000000 AS day,
         |         ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT AS h
         |  FROM e),
         |k AS (
         |  SELECT day, h FROM (
         |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
         |    FROM h)
         |  WHERE rn <= 64),
         |days AS (SELECT DISTINCT day FROM h),
         |nd AS (
         |  SELECT d.day, count(DISTINCT k2.day) AS n_days
         |  FROM days d JOIN k k2 ON k2.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY d.day),
         |wm AS (
         |  SELECT DISTINCT d.day, k.h
         |  FROM days d JOIN k ON k.day BETWEEN d.day - 6 AND d.day),
         |m AS (
         |  SELECT day, h, rn FROM (
         |    SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
         |    FROM wm)
         |  WHERE rn <= 64),
         |est AS (
         |  SELECT day, count(*) AS msize,
         |         max(CASE WHEN rn = 64 THEN h END) AS hk
         |  FROM m GROUP BY day),
         |tu AS (SELECT DISTINCT ts_us // 86400000000 AS day, user_id FROM e),
         |ex AS (
         |  SELECT d.day, count(DISTINCT tu.user_id) AS exact_rolling_users
         |  FROM days d JOIN tu ON tu.day BETWEEN d.day - 6 AND d.day
         |  GROUP BY d.day)
         |SELECT est.day, CAST(nd.n_days AS BIGINT) AS n_days,
         |       round(CASE WHEN msize < 64 THEN msize::DOUBLE
         |                  ELSE 63.0 / (hk / 281474976710656.0) END, 4)
         |         AS kmv_rolling_users,
         |       ex.exact_rolling_users
         |FROM est JOIN nd ON nd.day = est.day JOIN ex ON ex.day = est.day
         |ORDER BY est.day""".stripMargin,

    // full KMV set-algebra replay: per-year bottom-64 distinct 48-bit
    // hashes, merged-sketch union estimate, intersection via membership of
    // the merged k-minimum hashes in both input sketches
    "q_sketch_setops" ->
      """WITH h AS (
        |  SELECT DISTINCT strftime(l_shipdate, '%Y') AS y,
        |         ('0x' || substr(md5(l_partkey::VARCHAR), 1, 12))::BIGINT AS h
        |  FROM lineitem),
        |k AS (
        |  SELECT y, h FROM (
        |    SELECT y, h, row_number() OVER (PARTITION BY y ORDER BY h) AS rn
        |    FROM h)
        |  WHERE rn <= 64),
        |ex AS (
        |  SELECT strftime(l_shipdate, '%Y') AS y,
        |         count(DISTINCT l_partkey) AS exact_n
        |  FROM lineitem GROUP BY 1),
        |tu AS (
        |  SELECT DISTINCT strftime(l_shipdate, '%Y') AS y, l_partkey AS p
        |  FROM lineitem),
        |ov AS (
        |  SELECT a.y AS ya, b.y AS yb, count(*) AS exact_overlap
        |  FROM tu a JOIN tu b ON a.p = b.p AND a.y < b.y
        |  GROUP BY 1, 2),
        |pairs AS (SELECT a.y AS ya, b.y AS yb FROM ex a JOIN ex b ON a.y < b.y),
        |m0 AS (
        |  SELECT DISTINCT p.ya, p.yb, k.h
        |  FROM pairs p JOIN k ON k.y IN (p.ya, p.yb)),
        |m AS (
        |  SELECT ya, yb, h, rn FROM (
        |    SELECT ya, yb, h,
        |           row_number() OVER (PARTITION BY ya, yb ORDER BY h) AS rn
        |    FROM m0)
        |  WHERE rn <= 64),
        |agg AS (
        |  SELECT m.ya, m.yb, count(*) AS msize,
        |         max(CASE WHEN m.rn = 64 THEN m.h END) AS hk,
        |         count(CASE WHEN ka.h IS NOT NULL AND kb.h IS NOT NULL
        |                    THEN 1 END) AS c
        |  FROM m
        |  LEFT JOIN k ka ON ka.y = m.ya AND ka.h = m.h
        |  LEFT JOIN k kb ON kb.y = m.yb AND kb.h = m.h
        |  GROUP BY 1, 2),
        |est AS (
        |  SELECT ya, yb, msize, c,
        |         CASE WHEN msize < 64 THEN msize::DOUBLE
        |              ELSE 63.0 / (hk / 281474976710656.0) END AS union_est
        |  FROM agg)
        |SELECT est.ya AS year_a, est.yb AS year_b,
        |       round(union_est, 4) AS kmv_union,
        |       round(c::DOUBLE / msize * union_est, 4) AS kmv_inter,
        |       round(c::DOUBLE / msize, 4) AS kmv_jaccard,
        |       ea.exact_n + eb.exact_n - coalesce(ov.exact_overlap, 0) AS exact_union,
        |       coalesce(ov.exact_overlap, 0) AS exact_overlap
        |FROM est
        |JOIN ex ea ON ea.y = est.ya
        |JOIN ex eb ON eb.y = est.yb
        |LEFT JOIN ov ON ov.ya = est.ya AND ov.yb = est.yb
        |ORDER BY year_a, year_b""".stripMargin,

    // both medians in integer rank math: med2 (half-cents) from the price
    // histogram's bracketing order statistics, deviations |2·vc − med2|
    // re-histogrammed (still integers), the deviation median assembled the
    // same way (quarter-cents) — one final division each
    "q_mad" ->
      s"""WITH $centsPctCtes,
         |m AS (
         |  SELECT l_returnflag,
         |         lo50 * (2 - (n - 1) % 2) + coalesce(hi50, 0) * ((n - 1) % 2) AS med2
         |  FROM pa),
         |dv AS (
         |  SELECT pv.l_returnflag, abs(pv.vc * 2 - m.med2) AS vc,
         |         CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM pv JOIN m USING (l_returnflag) GROUP BY 1, 2),
         |dc AS (
         |  SELECT *, CAST(sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY vc)
         |    AS BIGINT) AS cum
         |  FROM dv),
         |dt AS (SELECT l_returnflag, CAST(sum(cnt) AS BIGINT) AS n
         |       FROM dv GROUP BY 1),
         |da AS (
         |  SELECT dc.l_returnflag, max(n) AS n,
         |         min(CASE WHEN cum > (n - 1) // 2 THEN vc END) AS dlo,
         |         min(CASE WHEN cum > (n - 1) // 2 + 1 THEN vc END) AS dhi
         |  FROM dc JOIN dt USING (l_returnflag) GROUP BY 1)
         |SELECT da.l_returnflag, n,
         |       CAST(m.med2 AS DOUBLE) / 200.0::DOUBLE AS median,
         |       CAST(dlo * (2 - (n - 1) % 2) + coalesce(dhi, 0) * ((n - 1) % 2)
         |            AS DOUBLE) / 400.0::DOUBLE AS mad
         |FROM da JOIN m USING (l_returnflag)
         |ORDER BY da.l_returnflag""".stripMargin,

    // a correct bitmap IS an exact distinct count — plain replay
    "q_bitmap_distinct" ->
      """SELECT l_returnflag, l_linestatus,
        |       count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // the bloom prefilter is invisible to results — plain join replay
    "q_bloom_join" ->
      """SELECT o.o_orderpriority,
        |       count(*) AS n_items,
        |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 450000.0
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin,

    // same integral cents + epoch-day RANGE frame; DuckDB's RANGE over an
    // integer ORDER BY matches Spark's rangeBetween(-29, 0)
    "q_rolling_30d" ->
      """WITH daily AS (
        |  SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS epoch_day,
        |         count(*) AS n_orders,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM orders GROUP BY 1)
        |SELECT epoch_day, n_orders,
        |       round(day_cents / 100.0, 4) AS day_revenue,
        |       round(sum(day_cents) OVER (ORDER BY epoch_day
        |               RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) / 100.0, 4)
        |         AS rolling_30d_revenue
        |FROM daily ORDER BY epoch_day""".stripMargin,

    "q_yoy" ->
      """WITH monthly AS (
        |  SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |lagged AS (
        |  SELECT month, cents, lag(cents, 12) OVER (ORDER BY month) AS prev_cents
        |  FROM monthly)
        |SELECT month,
        |       round(cents / 100.0, 4) AS revenue,
        |       round(prev_cents / 100.0, 4) AS revenue_last_year,
        |       round((cents - prev_cents) * 100.0 / prev_cents, 4) AS yoy_growth_pct
        |FROM lagged ORDER BY month""".stripMargin,

    "q_monthly_rollup" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month,
        |       count(*) AS n_orders, round(sum(o_totalprice), 4) AS revenue
        |FROM orders
        |GROUP BY 1
        |ORDER BY month""".stripMargin,

    "q_asof_join" ->
      s"""$evCte,
         |u AS (
         |  SELECT event_id, user_id, ts_us, value, 1 AS side FROM e WHERE event_type = 'purchase'
         |  UNION ALL
         |  SELECT event_id, user_id, ts_us, value, 0 AS side FROM e WHERE event_type = 'signup'),
         |w AS (
         |  SELECT *,
         |    last_value(CASE WHEN side = 0 THEN ts_us END IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, side, event_id
         |      ROWS UNBOUNDED PRECEDING) AS signup_ts_us,
         |    last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS) OVER (
         |      PARTITION BY user_id ORDER BY ts_us, side, event_id
         |      ROWS UNBOUNDED PRECEDING) AS signup_value
         |  FROM u)
         |SELECT event_id, user_id, ts_us, value, signup_ts_us, signup_value
         |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    "q_range_join" ->
      s"""$evCte
         |SELECT c.event_id AS click_id, b.event_id AS purchase_id, c.user_id,
         |       b.ts_us - c.ts_us AS delta_us, b.value
         |FROM e c JOIN e b
         |  ON c.user_id = b.user_id
         | AND c.event_type = 'click' AND b.event_type = 'purchase'
         | AND b.ts_us >= c.ts_us AND b.ts_us <= c.ts_us + 600000000
         |ORDER BY click_id, purchase_id""".stripMargin,

    // identical cents-long fold and integer 4dp mean
    "q_tumbling_window" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_start_ms, event_type,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
        |         / 100.0 AS sum_value,
        |       CAST((CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |             * 100) // count(*) AS DOUBLE) / 10000.0 AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour_start_ms, event_type""".stripMargin,

    // the 3-window explode as integer floor arithmetic (span = 3·slide)
    "q_hopping_window" ->
      """WITH w AS (
        |  SELECT ((epoch_us(ts) // 600000000) - s.i) * 600000000 AS ws_us,
        |         event_type, value
        |  FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) s
        |  WHERE ts IS NOT NULL)
        |SELECT CAST(ws_us // 1000 AS BIGINT) AS win_start_ms, event_type,
        |       CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
        |FROM w GROUP BY 1, 2
        |ORDER BY win_start_ms, event_type""".stripMargin,

    "q_sessionize" ->
      s"""$evCte,
         |gaps AS (
         |  SELECT user_id, event_id, ts_us, value,
         |         CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
         |                OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |                   > 1800000000
         |              THEN 1 ELSE 0 END AS new_session
         |  FROM e),
         |sess AS (
         |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM gaps)
         |SELECT user_id, session_id, count(*) AS n_events,
         |       min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
         |       round(sum(value), 4) AS session_value
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin,

    // merged-interval union: exclusive running max of interval end →
    // island flag → island id → exact integer union measure
    "q_interval_coverage" ->
      s"""$evCte,
         |iv AS (SELECT user_id, event_id, ts_us, ts_us + 900000000 AS en FROM e),
         |fl AS (
         |  SELECT *, CASE WHEN max(en) OVER pw IS NULL OR ts_us > max(en) OVER pw
         |            THEN 1 ELSE 0 END AS ni
         |  FROM iv
         |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts_us, event_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |isl AS (
         |  SELECT *, CAST(sum(ni) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
         |  FROM fl),
         |g AS (SELECT user_id, island, min(ts_us) AS st, max(en) AS ien,
         |             count(*) AS n_ev
         |      FROM isl GROUP BY user_id, island)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
         |       CAST(sum(ien - st) AS BIGINT) AS covered_us,
         |       CAST(max(ien - st) AS BIGINT) AS longest_us,
         |       CAST(sum(n_ev) AS BIGINT) AS n_events
         |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same sessionize CTE as q_sessionize, then the boundary sweep: the
    // window's global ORDER BY replays the PrefixSum's range order exactly
    "q_concurrency" ->
      s"""$evCte,
         |gaps AS (
         |  SELECT user_id, event_id, ts_us,
         |         CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) IS NULL
         |                OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
         |                   > 1800000000
         |              THEN 1 ELSE 0 END AS new_session
         |  FROM e),
         |sess AS (
         |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
         |  FROM gaps),
         |iv AS (
         |  SELECT user_id, session_id, min(ts_us) AS st, max(ts_us) AS en
         |  FROM sess GROUP BY 1, 2),
         |b AS (
         |  SELECT user_id, session_id, st AS ts_us, 1 AS delta FROM iv
         |  UNION ALL
         |  SELECT user_id, session_id, en, -1 FROM iv),
         |c AS (
         |  SELECT ts_us, delta,
         |         CAST(sum(delta) OVER (ORDER BY ts_us, delta DESC, user_id, session_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cur
         |  FROM b)
         |SELECT ts_us // 86400000000 AS day,
         |       max(cur) AS peak_concurrent,
         |       CAST(count(CASE WHEN delta = 1 THEN 1 END) AS BIGINT) AS sessions_started
         |FROM c GROUP BY 1 ORDER BY day""".stripMargin,

    // same deterministic close-row pick, generate_series spine, and
    // IGNORE NULLS carry-forward window; close value floor-quantized on
    // both sides (half-boundary rule)
    "q_gap_fill" ->
      s"""$evCte,
         |d AS (SELECT *, ts_us // 86400000000 AS day FROM e),
         |daily AS (
         |  SELECT user_id, day, floor(value * 10000) / 10000 AS close_value
         |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, day
         |               ORDER BY ts_us DESC, event_id DESC) AS rn FROM d)
         |  WHERE rn = 1),
         |spine AS (
         |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
         |  FROM d GROUP BY user_id),
         |j AS (
         |  SELECT s.user_id, s.day, dl.close_value,
         |         dl.close_value IS NULL AS filled
         |  FROM spine s LEFT JOIN daily dl
         |    ON dl.user_id = s.user_id AND dl.day = s.day)
         |SELECT user_id, day,
         |       last_value(close_value IGNORE NULLS) OVER (
         |         PARTITION BY user_id ORDER BY day
         |         ROWS UNBOUNDED PRECEDING) AS value_filled,
         |       filled
         |FROM j ORDER BY user_id, day""".stripMargin,

    // identical fixed-order IEEE multiplies (value * 2^-wk * 1e4), per-row
    // round to a BIGINT, order-free integer sum
    "q_decay_agg" ->
      s"""$evCte,
         |d AS (SELECT *, ts_us // 86400000000 AS day FROM e),
         |c AS (SELECT event_type,
         |             CAST(round(value * power(0.5, (ref_day - day) // 7) * 10000)
         |               AS BIGINT) AS dec4
         |      FROM d, (SELECT max(day) AS ref_day FROM d) r)
         |SELECT event_type, count(*) AS n_events,
         |       round(CAST(sum(dec4) AS DOUBLE) / 10000.0, 4) AS decayed_sum,
         |       round(CAST(sum(dec4) AS DOUBLE) / (10000.0 * count(*)), 4)
         |         AS decayed_mean
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same cents-scaled running sum/max windows, integer gap, display-only
    // divisions
    "q_drawdown" ->
      s"""$evCte,
         |v AS (SELECT user_id, event_id, ts_us,
         |             CAST(round(value * 100) AS BIGINT) AS vc FROM e),
         |c AS (
         |  SELECT user_id, ts_us, event_id,
         |         CAST(sum(vc) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |  FROM v),
         |p AS (
         |  SELECT user_id, cum,
         |         CAST(max(cum) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS peak
         |  FROM c)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |       round(CAST(max(peak) AS DOUBLE) / 100.0, 4) AS peak_value,
         |       round(CAST(max(peak - cum) AS DOUBLE) / 100.0, 4) AS max_drawdown
         |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,

    // same n·prefix − i·S integer cusum (HUGEINT), same (|cusum|,
    // earliest) argmax, one display division
    "q_cusum_changepoint" ->
      s"""$evCte,
         |v AS (SELECT event_type, event_id, ts_us,
         |             CAST(round(value * 100) AS BIGINT) AS vc FROM e),
         |c AS (
         |  SELECT *, CAST(sum(vc) OVER w AS BIGINT) AS cum,
         |         CAST(row_number() OVER w AS BIGINT) AS idx
         |  FROM v WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
         |                      ROWS UNBOUNDED PRECEDING)),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |              CAST(sum(vc) AS BIGINT) AS s FROM v GROUP BY 1),
         |sc AS (
         |  SELECT c.event_type, c.ts_us, c.event_id, st.n,
         |         CAST(st.n AS HUGEINT) * c.cum - CAST(c.idx AS HUGEINT) * st.s
         |           AS cusum
         |  FROM c JOIN st USING (event_type)),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY event_type
         |            ORDER BY abs(cusum) DESC, ts_us, event_id) AS rn
         |  FROM sc)
         |SELECT event_type, ts_us AS change_ts_us, event_id AS change_event_id,
         |       round(CAST(cusum AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 4)
         |         AS mean_shift_mass
         |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // exact integer moments (HUGEINT sums cast like q_corr_stats), same
    // once-per-type double formulas, identical per-row z operands
    "q_zscore_outliers" ->
      s"""$evCte,
         |v AS (SELECT event_id, event_type, value,
         |             CAST(round(value * 100) AS BIGINT) AS vc FROM e),
         |s AS (
         |  SELECT event_type, count(*) AS n,
         |         CAST(sum(vc) AS BIGINT) AS sx,
         |         CAST(sum(CAST(vc AS HUGEINT) * vc) AS DOUBLE) AS sx2d
         |  FROM v GROUP BY event_type),
         |st AS (
         |  SELECT event_type,
         |         CAST(sx AS DOUBLE) / n AS mean_c,
         |         sqrt((CAST(n AS DOUBLE) * sx2d -
         |               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
         |              (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))) AS sd_c
         |  FROM s),
         |z AS (
         |  SELECT v.event_id, v.event_type, v.value,
         |         (CAST(v.vc AS DOUBLE) - st.mean_c) / st.sd_c AS z
         |  FROM v JOIN st USING (event_type))
         |SELECT event_id, event_type, value,
         |       floor(z * 10000) / 10000 AS z
         |FROM z WHERE abs(z) > 3.0 ORDER BY event_id""".stripMargin,

    // the online semantics replayed relationally: prior-moment windows,
    // identical formula operand order, warmup/σ/threshold guards,
    // floor-quantized z
    "q_zscore_stream" ->
      s"""$evCte,
         |o AS (SELECT event_type AS series, event_id, ts_us, value,
         |             CAST(round(value * 100) AS BIGINT) AS vc FROM e),
         |w AS (
         |  SELECT series, event_id, ts_us, value, vc,
         |         count(*) OVER win AS n_prior,
         |         CAST(sum(vc) OVER win AS BIGINT) AS sx,
         |         CAST(sum(CAST(vc AS HUGEINT) * vc) OVER win AS DOUBLE) AS sx2d
         |  FROM o
         |  WINDOW win AS (PARTITION BY series ORDER BY ts_us, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |z AS (
         |  SELECT series, event_id, ts_us, value, vc, n_prior,
         |         CAST(sx AS DOUBLE) / n_prior AS mean,
         |         sqrt((CAST(n_prior AS DOUBLE) * sx2d -
         |               CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
         |              (CAST(n_prior AS DOUBLE) * (CAST(n_prior AS DOUBLE) - 1.0)))
         |           AS sd
         |  FROM w WHERE n_prior >= 30),
         |f AS (
         |  SELECT series, event_id, ts_us, value, n_prior,
         |         (CAST(vc AS DOUBLE) - mean) / sd AS z
         |  FROM z WHERE sd > 0)
         |SELECT series, event_id, ts_us, value,
         |       floor(z * 10000) / 10000 AS z,
         |       CAST(n_prior AS BIGINT) AS n_seen
         |FROM f WHERE abs(z) > 3.0
         |ORDER BY series, event_id""".stripMargin,

    "q_json_extract" ->
      """SELECT event_id, user_id,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |ORDER BY event_id""".stripMargin,

    // Exact cents-scaled sums (HUGEINT, any order), then corr/beta in
    // doubles with the same operand order as the Spark side.
    "q_corr_stats" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sx,
        |         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sy,
        |         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)
        |                  * CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(round(l_quantity*100) AS BIGINT)
        |                  * CAST(round(l_quantity*100) AS BIGINT)) AS DOUBLE) AS sx2,
        |         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
        |                  * CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) AS sy2
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |             (sqrt(CAST(n AS DOUBLE)*sx2 - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
        |              sqrt(CAST(n AS DOUBLE)*sy2 - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 4)
        |         AS corr_qty_price,
        |       round((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |             (CAST(n AS DOUBLE)*sx2 - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 4)
        |         AS beta_price_per_qty
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // Identical daily-rollup + exact-integer-sums + fixed-order-IEEE
    // replay; HUGEINT carries the product sums, floor-quantize both sides.
    "q_regression" ->
      """WITH daily AS (
        |  SELECT l_suppkey,
        |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS yc
        |  FROM lineitem GROUP BY 1, 2),
        |s AS (
        |  SELECT l_suppkey, count(*) AS n,
        |         CAST(sum(d) AS BIGINT) AS sx, CAST(sum(yc) AS BIGINT) AS sy,
        |         CAST(sum(CAST(d AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE) AS sxy,
        |         CAST(sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS DOUBLE) AS sx2,
        |         CAST(sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE) AS sy2,
        |         CAST(count(*) AS HUGEINT)
        |           * sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT))
        |           - CAST(sum(yc) AS HUGEINT) * CAST(sum(yc) AS HUGEINT) AS vy
        |  FROM daily GROUP BY 1 HAVING count(*) >= 2)
        |SELECT l_suppkey, n AS n_days,
        |       floor((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |             (CAST(n AS DOUBLE)*sx2 - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |             / 100.0 * 10000) / 10000 AS slope_per_day,
        |       floor((CAST(sy AS DOUBLE) -
        |              (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |              (CAST(n AS DOUBLE)*sx2 - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
        |              * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
        |             / 100.0 * 10000) / 10000 AS intercept,
        |       CASE WHEN vy = 0 THEN 1.0 ELSE
        |         floor((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) *
        |               (CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        |               ((CAST(n AS DOUBLE)*sx2 - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
        |                (CAST(n AS DOUBLE)*sy2 - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)))
        |               * 10000) / 10000 END AS r2
        |FROM s ORDER BY l_suppkey""".stripMargin,

    // Variance positivity tested in exact HUGEINT, mirroring the engine's
    // exact-decimal guard; the Pearson replay is fixed-order IEEE.
    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT l_suppkey,
        |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS yc
        |  FROM lineitem GROUP BY 1, 2),
        |pairs AS (
        |  SELECT l_suppkey, yc,
        |         lag(yc) OVER (PARTITION BY l_suppkey ORDER BY d) AS pc
        |  FROM daily),
        |s AS (
        |  SELECT l_suppkey, count(*) AS m,
        |         CAST(sum(pc) AS BIGINT) AS sa, CAST(sum(yc) AS BIGINT) AS sb,
        |         CAST(sum(CAST(pc AS HUGEINT) * CAST(yc AS HUGEINT)) AS DOUBLE) AS sab,
        |         sum(CAST(pc AS HUGEINT) * CAST(pc AS HUGEINT)) AS sa2h,
        |         sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS sb2h
        |  FROM pairs WHERE pc IS NOT NULL GROUP BY 1)
        |SELECT l_suppkey, m AS n_pairs,
        |       floor((CAST(m AS DOUBLE)*sab - CAST(sa AS DOUBLE)*CAST(sb AS DOUBLE)) /
        |             (sqrt(CAST(m AS DOUBLE)*CAST(sa2h AS DOUBLE)
        |                   - CAST(sa AS DOUBLE)*CAST(sa AS DOUBLE)) *
        |              sqrt(CAST(m AS DOUBLE)*CAST(sb2h AS DOUBLE)
        |                   - CAST(sb AS DOUBLE)*CAST(sb AS DOUBLE)))
        |             * 10000) / 10000 AS autocorr_lag1
        |FROM s
        |WHERE m >= 3
        |  AND CAST(m AS HUGEINT)*sa2h - CAST(sa AS HUGEINT)*CAST(sa AS HUGEINT) > 0
        |  AND CAST(m AS HUGEINT)*sb2h - CAST(sb AS HUGEINT)*CAST(sb AS HUGEINT) > 0
        |ORDER BY l_suppkey""".stripMargin,

    // Same histogram build + rank crossing as q_approx_percentiles, over
    // pairwise-summed buckets; the exact audit is the SAME integer rank
    // math on cents (type-7 interpolation as a rational on order
    // statistics), never a cross-engine float percentile call.
    "q_histogram_union" ->
      """WITH v AS (
        |  SELECT l_returnflag AS seg,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS vc
        |  FROM lineitem),
        |hist AS (SELECT seg, vc >> 16 AS b, count(*) AS cnt FROM v GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.seg AS seg_a, bb.seg AS seg_b
        |  FROM (SELECT DISTINCT seg FROM hist) a,
        |       (SELECT DISTINCT seg FROM hist) bb
        |  WHERE a.seg < bb.seg),
        |px AS (SELECT seg_a, seg_b, seg_a AS seg FROM pairs
        |       UNION ALL SELECT seg_a, seg_b, seg_b FROM pairs),
        |merged AS (
        |  SELECT seg_a, seg_b, b, CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM hist JOIN px USING (seg) GROUP BY 1, 2, 3),
        |cum AS (
        |  SELECT seg_a, seg_b, b, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY seg_a, seg_b ORDER BY b)
        |           AS BIGINT) AS cum
        |  FROM merged),
        |c2 AS (SELECT *, cum - cnt AS cum_before FROM cum),
        |tot AS (SELECT seg_a, seg_b, CAST(sum(cnt) AS BIGINT) AS n
        |        FROM merged GROUP BY 1, 2),
        |sk AS (
        |  SELECT seg_a, seg_b, max(n) AS n_union,
        |         max(CASE WHEN cum * 20 >= n * 10 AND cum_before * 20 < n * 10
        |           THEN (CAST(b * 65536 AS DOUBLE) +
        |                 65536.0::DOUBLE * CAST(n * 10 - cum_before * 20 AS DOUBLE)
        |                   / CAST(cnt * 20 AS DOUBLE)) / 100.0::DOUBLE
        |           END) AS h50,
        |         max(CASE WHEN cum * 20 >= n * 19 AND cum_before * 20 < n * 19
        |           THEN (CAST(b * 65536 AS DOUBLE) +
        |                 65536.0::DOUBLE * CAST(n * 19 - cum_before * 20 AS DOUBLE)
        |                   / CAST(cnt * 20 AS DOUBLE)) / 100.0::DOUBLE
        |           END) AS h95
        |  FROM c2 JOIN tot USING (seg_a, seg_b) GROUP BY 1, 2),
        |exv AS (
        |  SELECT seg_a, seg_b, vc, CAST(count(*) AS BIGINT) AS c
        |  FROM v JOIN px p USING (seg) GROUP BY 1, 2, 3),
        |exc AS (
        |  SELECT *, CAST(sum(c) OVER (PARTITION BY seg_a, seg_b ORDER BY vc)
        |    AS BIGINT) AS ecum
        |  FROM exv),
        |exc2 AS (SELECT *, ecum - c AS eb FROM exc),
        |ext AS (SELECT seg_a, seg_b, CAST(sum(c) AS BIGINT) AS en
        |        FROM exv GROUP BY 1, 2),
        |exj AS (
        |  SELECT c2.*, en,
        |         ((en - 1) * 10) // 20 + 1 AS lo50, ((en - 1) * 10) % 20 AS r50,
        |         ((en - 1) * 19) // 20 + 1 AS lo95, ((en - 1) * 19) % 20 AS r95
        |  FROM exc2 c2 JOIN ext USING (seg_a, seg_b)),
        |ex AS (
        |  SELECT seg_a, seg_b,
        |    CAST((max(CASE WHEN eb < lo50 AND ecum >= lo50 THEN vc END)
        |            * (20 - max(r50))
        |          + coalesce(max(CASE WHEN r50 > 0 AND eb < lo50 + 1
        |                          AND ecum >= lo50 + 1 THEN vc END),
        |                     max(CASE WHEN eb < lo50 AND ecum >= lo50
        |                          THEN vc END)) * max(r50)) * 5
        |      AS DOUBLE) / 10000.0 AS p50d,
        |    CAST((max(CASE WHEN eb < lo95 AND ecum >= lo95 THEN vc END)
        |            * (20 - max(r95))
        |          + coalesce(max(CASE WHEN r95 > 0 AND eb < lo95 + 1
        |                          AND ecum >= lo95 + 1 THEN vc END),
        |                     max(CASE WHEN eb < lo95 AND ecum >= lo95
        |                          THEN vc END)) * max(r95)) * 5
        |      AS DOUBLE) / 10000.0 AS p95d
        |  FROM exj GROUP BY 1, 2)
        |SELECT seg_a, seg_b, n_union,
        |       floor(h50 * 10000) / 10000 AS union_p50,
        |       floor(h95 * 10000) / 10000 AS union_p95,
        |       p50d AS p50, p95d AS p95
        |FROM sk JOIN ex USING (seg_a, seg_b)
        |ORDER BY seg_a, seg_b""".stripMargin,

    // Identical basket dedup, self-join, and rational lift; ordering on
    // (support, quantized lift, pair) replays exactly.
    "q_market_basket" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |na AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_p FROM items GROUP BY 1),
        |b AS (SELECT CAST(count(DISTINCT ok) AS HUGEINT) AS bk FROM items),
        |pairs AS (
        |  SELECT a.pk AS pa, bb.pk AS pb, CAST(count(*) AS BIGINT) AS n_ab
        |  FROM items a JOIN items bb ON a.ok = bb.ok AND a.pk < bb.pk
        |  GROUP BY 1, 2)
        |SELECT pa, pb, n_ab, ua.n_p AS n_a, ub.n_p AS n_b,
        |       floor(CAST(CAST(n_ab AS HUGEINT) * bk AS DOUBLE) /
        |             CAST(CAST(ua.n_p AS HUGEINT) * ub.n_p AS DOUBLE)
        |             * 10000) / 10000 AS lift
        |FROM pairs JOIN na ua ON pa = ua.pk JOIN na ub ON pb = ub.pk, b
        |ORDER BY n_ab DESC, lift DESC, pa, pb LIMIT 20""".stripMargin,

    // Integer-micros staleness algebra; watermark from the same rollup.
    "q_freshness" ->
      s"""$evCte,
         |pf AS (SELECT event_type, count(*) AS n_events,
         |              CAST(max(ts_us) AS BIGINT) AS latest_us
         |       FROM e GROUP BY 1),
         |wm AS (SELECT max(latest_us) AS wm_us FROM pf),
         |ld AS (SELECT event_type, count(*) AS n_last_day
         |       FROM e, wm WHERE ts_us > wm_us - 86400000000 GROUP BY 1)
         |SELECT pf.event_type, pf.n_events, pf.latest_us,
         |       wm_us - latest_us AS lag_us,
         |       CAST(coalesce(n_last_day, 0) AS BIGINT) AS n_last_day,
         |       CAST(wm_us - latest_us > 21600000000 AS INT) AS stale
         |FROM pf LEFT JOIN ld ON pf.event_type = ld.event_type, wm
         |ORDER BY pf.event_type""".stripMargin,

    // epoch_day mod 7 on both sides — no calendar API; the oracle mirrors
    // Spark's pmod (((d % 7) + 7) % 7) so pre-1970 dates bucket identically.
    "q_seasonality" ->
      """WITH byday AS (
        |  SELECT ((date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) % 7)
        |           + 7) % 7 AS weekday,
        |         count(*) AS n_orders,
        |         sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT))
        |           AS rev
        |  FROM orders GROUP BY 1),
        |tot AS (SELECT sum(rev) AS total FROM byday)
        |SELECT weekday, n_orders,
        |       floor(CAST(rev AS DOUBLE) / 100.0 * 10000) / 10000 AS revenue,
        |       floor(CAST(7 * rev AS DOUBLE) / CAST(total AS DOUBLE) * 10000)
        |         / 10000 AS season_index
        |FROM byday, tot ORDER BY weekday""".stripMargin,

    // Tie-grouped exact rank algebra; HUGEINT folds, one division.
    "q_gini" ->
      """WITH rev AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |seg AS (
        |  SELECT c_mktsegment AS segment, cents
        |  FROM rev JOIN customer ON c_custkey = o_custkey),
        |grp AS (SELECT segment, cents, count(*) AS c FROM seg GROUP BY 1, 2),
        |rk AS (
        |  SELECT *, coalesce(sum(c) OVER (PARTITION BY segment ORDER BY cents
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS r
        |  FROM grp),
        |agg AS (
        |  SELECT segment, CAST(sum(c) AS BIGINT) AS n,
        |         sum(CAST(cents AS HUGEINT) * c) AS s,
        |         sum(CAST(cents AS HUGEINT) * (c * r + c * (c + 1) // 2)) AS wsum
        |  FROM rk GROUP BY 1)
        |SELECT segment, n AS n_customers,
        |       floor(CAST(2 * wsum - (n + 1) * s AS DOUBLE) /
        |             CAST(CAST(n AS HUGEINT) * s AS DOUBLE) * 10000) / 10000 AS gini
        |FROM agg WHERE s > 0 ORDER BY segment""".stripMargin,

    // Digit counts exact from the cents string; the nine Benford
    // constants are the SAME double literals (cast ::DOUBLE — a bare
    // DuckDB decimal literal would run DECIMAL arithmetic), χ² terms
    // summed left-to-right in the identical order.
    "q_benford" -> {
      val benford = Seq(0.3010299956639812, 0.17609125905568124,
        0.12493873660829992, 0.09691001300805642, 0.07918124604762482,
        0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
        0.04575749056067514)
      val cs = (1 to 9).map(d =>
        s"CAST(sum(CASE WHEN d = $d THEN 1 ELSE 0 END) AS BIGINT) AS c$d")
        .mkString(",\n|         ")
      val terms = (1 to 9).map { d =>
        val p = s"'${benford(d - 1)}'::DOUBLE"
        s"(CAST(c$d AS DOUBLE) - CAST(n AS DOUBLE) * $p) * " +
          s"(CAST(c$d AS DOUBLE) - CAST(n AS DOUBLE) * $p) / " +
          s"(CAST(n AS DOUBLE) * $p)"
      }.mkString("\n|           + ")
      s"""WITH digits AS (
         |  SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS yr,
         |         CAST(substr(CAST(abs(CAST(round(o_totalprice * 100) AS BIGINT)) AS VARCHAR), 1, 1) AS INT) AS d
         |  FROM orders),
         |counts AS (
         |  SELECT yr, count(*) AS n,
         |         $cs
         |  FROM digits GROUP BY 1),
         |chi AS (
         |  SELECT yr, CAST(n AS BIGINT) AS n_orders,
         |         floor(($terms) * 10000) AS chi4
         |  FROM counts)
         |SELECT yr, n_orders, chi4 / 10000 AS chi2,
         |       CAST(chi4 < 155100 AS INT) AS benford_ok
         |FROM chi ORDER BY yr""".stripMargin
    },

    // One select per profiled column, unioned — the unpivot replay.
    "pipeline_schema_profile" -> {
      val profCols = Seq("event_id", "user_id", "event_type", "value",
        "props", "ts_us")
      val selects = profCols.map(c =>
        s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM e""".stripMargin)
      s"""$evCte
         |${selects.mkString("\nUNION ALL\n")}
         |ORDER BY column_name""".stripMargin
    },

    // Welch z replay: identical exact sums, identical operand order,
    // significance decided on the quantized integer — never a float
    // boundary.
    "q_ab_test" ->
      s"""$evCte,
         |st AS (
         |  SELECT event_type, count(*) AS n,
         |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
         |         sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
         |             * CAST(round(value * 100) AS BIGINT)) AS sq
         |  FROM e GROUP BY 1),
         |z AS (
         |  SELECT a.event_type AS arm, a.n AS n_arm,
         |         floor(CAST(a.sc AS DOUBLE) / a.n / 100.0 * 10000) / 10000 AS mean_arm,
         |         floor(CAST(c.sc AS DOUBLE) / c.n / 100.0 * 10000) / 10000 AS mean_control,
         |         floor((CAST(a.sc AS DOUBLE) / a.n - CAST(c.sc AS DOUBLE) / c.n) /
         |               sqrt((CAST(a.n AS DOUBLE) * CAST(a.sq AS DOUBLE)
         |                     - CAST(a.sc AS DOUBLE) * CAST(a.sc AS DOUBLE))
         |                    / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0))
         |                    / CAST(a.n AS DOUBLE)
         |                  + (CAST(c.n AS DOUBLE) * CAST(c.sq AS DOUBLE)
         |                     - CAST(c.sc AS DOUBLE) * CAST(c.sc AS DOUBLE))
         |                    / (CAST(c.n AS DOUBLE) * (CAST(c.n AS DOUBLE) - 1.0))
         |                    / CAST(c.n AS DOUBLE)) * 10000) AS z4,
         |         floor(abs((CAST(a.sc AS DOUBLE) / a.n - CAST(c.sc AS DOUBLE) / c.n) /
         |               sqrt((CAST(a.n AS DOUBLE) * CAST(a.sq AS DOUBLE)
         |                     - CAST(a.sc AS DOUBLE) * CAST(a.sc AS DOUBLE))
         |                    / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1.0))
         |                    / CAST(a.n AS DOUBLE)
         |                  + (CAST(c.n AS DOUBLE) * CAST(c.sq AS DOUBLE)
         |                     - CAST(c.sc AS DOUBLE) * CAST(c.sc AS DOUBLE))
         |                    / (CAST(c.n AS DOUBLE) * (CAST(c.n AS DOUBLE) - 1.0))
         |                    / CAST(c.n AS DOUBLE))) * 10000) AS za4
         |  FROM st a, (SELECT * FROM st WHERE event_type = 'view') c
         |  WHERE a.event_type <> 'view' AND a.n >= 2 AND c.n >= 2
         |    AND (CAST(a.n AS HUGEINT) * a.sq
         |           - CAST(a.sc AS HUGEINT) * CAST(a.sc AS HUGEINT) > 0
         |      OR CAST(c.n AS HUGEINT) * c.sq
         |           - CAST(c.sc AS HUGEINT) * CAST(c.sc AS HUGEINT) > 0))
         |SELECT arm, n_arm, mean_arm, mean_control, z4 / 10000 AS z,
         |       CAST(za4 >= 19600 AS INT) AS significant
         |FROM z ORDER BY arm""".stripMargin,

    // Same two-level argmax: count table, then rank over it.
    "q_mode" ->
      """WITH cnt AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |           ORDER BY n DESC, cents) AS rn
        |  FROM cnt)
        |SELECT event_type, round(cents / 100.0, 4) AS mode_value,
        |       CAST(n AS BIGINT) AS n_occurrences
        |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin,

    // Integral cents bucketing + exact cents revenue (HUGEINT sum).
    "q_histogram" ->
      """SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 5000000, 9) AS bucket,
        |       count(*) AS n_orders,
        |       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100, 4)
        |         AS total_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_string_agg" ->
      """SELECT r_name, count(*) AS n_nations,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q_time_weighted_avg" ->
      s"""$evCte,
         |iv AS (
         |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents, ts_us,
         |         lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS next_ts
         |  FROM e),
         |agg AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
         |         CAST(sum(cents * (next_ts - ts_us)) AS BIGINT) AS wsum,
         |         CAST(sum(next_ts - ts_us) AS BIGINT) AS tsum
         |  FROM iv WHERE next_ts IS NOT NULL GROUP BY user_id)
         |SELECT user_id, n_intervals,
         |       round(CAST(wsum AS DOUBLE) / CAST(tsum * 100 AS DOUBLE), 4) AS twa_value
         |FROM agg WHERE tsum > 0 ORDER BY user_id""".stripMargin,

    // topk orders (score DESC, id ASC) — mirror with (cnt DESC, user_id)
    "q_key_skew" ->
      """WITH pk AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |st AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |              CAST(count(*) AS BIGINT) AS n_keys FROM pk),
        |top AS (
        |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, user_id) AS BIGINT) AS rank,
        |         user_id, CAST(cnt AS BIGINT) AS key_count
        |  FROM pk ORDER BY cnt DESC, user_id LIMIT 5)
        |SELECT rank, user_id, key_count, n_rows, n_keys,
        |       round(CAST(key_count * n_keys AS DOUBLE) / n_rows, 4) AS x_avg_ratio
        |FROM top CROSS JOIN st ORDER BY rank""".stripMargin,

    // the PLAIN join — the salt must be invisible to results
    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // Integral cents ordering + frame bounds; exact long sums in frame.
    "q_window_range" ->
      """WITH c AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |       count(*) OVER w AS n_near,
        |       round(CAST(sum(cents) OVER w AS DOUBLE) / 100, 4) AS near_revenue
        |FROM c
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY cents
        |             RANGE BETWEEN 1000000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    // same salted-md5 buckets on both tables; inner products per salt
    // row, min across rows, exact Σ n_a·n_b audit from per-key counts
    "q_join_estimate" ->
      """WITH s(i) AS (SELECT unnest([0, 1, 2])),
        |ca AS (SELECT s.i,
        |         ('0x' || substr(md5(s.i::VARCHAR || ':' || o_custkey::VARCHAR), 1, 12))::BIGINT % 1024 AS b,
        |         CAST(count(*) AS BIGINT) AS cell
        |       FROM orders CROSS JOIN s
        |       WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
        |cb AS (SELECT s.i,
        |         ('0x' || substr(md5(s.i::VARCHAR || ':' || user_id::VARCHAR), 1, 12))::BIGINT % 1024 AS b,
        |         CAST(count(*) AS BIGINT) AS cell
        |       FROM events CROSS JOIN s
        |       WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |ip AS (SELECT ca.i, CAST(sum(ca.cell * cb.cell) AS BIGINT) AS ip
        |       FROM ca JOIN cb USING (i, b) GROUP BY ca.i),
        |est AS (SELECT CAST(min(ip) AS BIGINT) AS cms_est FROM ip),
        |ex AS (SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT) AS exact_n
        |       FROM (SELECT o_custkey k, count(*) n FROM orders
        |             WHERE o_custkey IS NOT NULL GROUP BY 1) a
        |       JOIN (SELECT user_id k, count(*) n FROM events
        |             WHERE user_id IS NOT NULL GROUP BY 1) b
        |         USING (k))
        |SELECT cms_est, exact_n, cms_est - exact_n AS overcount
        |FROM est CROSS JOIN ex""".stripMargin,

    // the dominance test, replayed through the same per-date min +
    // exclusive running-min collapse
    "q_skyline" ->
      """WITH o AS (SELECT o_orderkey, o_orderdate,
        |            CAST(round(o_totalprice * 100) AS BIGINT) AS p
        |           FROM orders),
        |m AS (SELECT o_orderdate AS d, min(p) AS mp FROM o GROUP BY 1),
        |f AS (SELECT d, mp,
        |             min(mp) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
        |               PRECEDING AND 1 PRECEDING) AS pm
        |      FROM m)
        |SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o.p AS price_cents
        |FROM o JOIN f ON o.o_orderdate = f.d AND o.p = f.mp
        |WHERE f.pm IS NULL OR f.pm > f.mp
        |ORDER BY o_orderdate, o_orderkey""".stripMargin,

    // the oracle IS the quadratic form the blocked join must equal
    "q_fuzzy_join" ->
      """SELECT a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        | AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a_custkey, b_custkey""".stripMargin,

    // CMS cells are exact sums; buckets are the shared md5 idiom. The
    // probe replays the same salted hash per (key, row).
    "q_cms_topk" ->
      """WITH ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
        |            FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |top AS (SELECT CAST(row_number() OVER (ORDER BY exact_n DESC, user_id) AS BIGINT) AS rank,
        |               user_id, exact_n
        |        FROM ex ORDER BY exact_n DESC, user_id LIMIT 20),
        |cms AS (SELECT s.i,
        |               ('0x' || substr(md5(s.i::VARCHAR || ':' || user_id::VARCHAR), 1, 12))::BIGINT % 1024 AS b,
        |               CAST(count(*) AS BIGINT) AS cell
        |        FROM events CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) s
        |        WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |probes AS (SELECT t.rank, t.user_id, t.exact_n, s.i,
        |                  ('0x' || substr(md5(s.i::VARCHAR || ':' || t.user_id::VARCHAR), 1, 12))::BIGINT % 1024 AS b
        |           FROM top t CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) s)
        |SELECT p.rank, p.user_id, p.exact_n,
        |       min(c.cell) AS cms_est,
        |       min(c.cell) - p.exact_n AS overcount
        |FROM probes p JOIN cms c USING (i, b)
        |GROUP BY p.rank, p.user_id, p.exact_n
        |ORDER BY rank""".stripMargin,

    // median() over an integer-cents ROWS frame interpolates even counts
    // as (a+b)/2 in double — 2× recovers the exact integer a+b (cents
    // sums < 2^53), matching the engine's doubled sorted-array midpoint.
    "q_rolling_median" ->
      """WITH li AS (
        |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |m AS (
        |  SELECT l_suppkey,
        |         CAST(2 * median(cents) OVER w AS BIGINT) AS med2,
        |         row_number() OVER w2 AS rn,
        |         count(*) OVER (PARTITION BY l_suppkey) AS cnt
        |  FROM li
        |  WINDOW w AS (PARTITION BY l_suppkey
        |               ORDER BY l_shipdate, l_orderkey, l_linenumber
        |               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
        |         w2 AS (PARTITION BY l_suppkey
        |                ORDER BY l_shipdate, l_orderkey, l_linenumber))
        |SELECT l_suppkey, CAST(max(cnt) AS BIGINT) AS n_items,
        |       max(CASE WHEN rn = cnt THEN med2 END) AS last_med2x_cents,
        |       max(med2) AS peak_med2x_cents,
        |       min(med2) AS low_med2x_cents
        |FROM m GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    // Three chained CTEs = three engine iterations; // is truncating
    // division = floor on the all-positive rank mass, matching Spark's
    // `div` exactly. sum() widens to HUGEINT in DuckDB — cast back
    // before the damping step so both engines damp the same BIGINT.
    "q_pagerank" ->
      """WITH e0 AS (
        |  SELECT o_custkey AS c, l_suppkey AS sk, CAST(count(*) AS BIGINT) AS w
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY 1, 2),
        |ed AS (SELECT c * 2 AS src, sk * 2 + 1 AS dst, w FROM e0
        |       UNION ALL
        |       SELECT sk * 2 + 1 AS src, c * 2 AS dst, w FROM e0),
        |outs AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM ed GROUP BY src),
        |eo AS (SELECT ed.src, ed.dst, ed.w, o.outw FROM ed JOIN outs o USING (src)),
        |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS rank_u FROM ed),
        |r1 AS (SELECT dst AS node,
        |              150000 + (85 * CAST(sum((rank_u * w) // outw) AS BIGINT)) // 100 AS rank_u
        |       FROM eo JOIN r0 ON src = node GROUP BY dst),
        |r2 AS (SELECT dst AS node,
        |              150000 + (85 * CAST(sum((rank_u * w) // outw) AS BIGINT)) // 100 AS rank_u
        |       FROM eo JOIN r1 ON src = node GROUP BY dst),
        |r3 AS (SELECT dst AS node,
        |              150000 + (85 * CAST(sum((rank_u * w) // outw) AS BIGINT)) // 100 AS rank_u
        |       FROM eo JOIN r2 ON src = node GROUP BY dst)
        |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
        |       node // 2 AS node_id, rank_u
        |FROM r3
        |ORDER BY rank_u DESC, node_type, node_id LIMIT 25""".stripMargin,

    // melt(pivot(x)) = x: the oracle states the long-form aggregate the
    // reshape round-trip must reproduce (absent cells excluded)
    "q_unpivot" ->
      s"""$evCte,
         |w AS (SELECT user_id, event_type,
         |             CAST(sum(CAST(round(value * 10000) AS BIGINT))
         |               AS BIGINT) AS v4
         |      FROM e
         |      WHERE event_type IN ('click','error','purchase','signup','view')
         |      GROUP BY 1, 2)
         |SELECT user_id, event_type, CAST(v4 AS DOUBLE) / 10000.0 AS sum_value
         |FROM w WHERE v4 IS NOT NULL
         |ORDER BY user_id, event_type""".stripMargin,

    // same rank-offset island key; longest-streak argmax replayed as
    // max + earliest-start filter
    "q_islands" ->
      s"""$evCte,
         |d AS (SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM e),
         |i AS (SELECT user_id, day,
         |             day - row_number() OVER (PARTITION BY user_id
         |               ORDER BY day) AS grp
         |      FROM d),
         |g AS (SELECT user_id, grp, min(day) AS start_day,
         |             CAST(count(*) AS BIGINT) AS n_days
         |      FROM i GROUP BY 1, 2),
         |a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
         |             CAST(sum(n_days) AS BIGINT) AS active_days,
         |             max(n_days) AS longest_days
         |      FROM g GROUP BY 1),
         |st AS (SELECT g.user_id, min(g.start_day) AS longest_start
         |       FROM g JOIN a USING (user_id)
         |       WHERE g.n_days = a.longest_days GROUP BY 1)
         |SELECT user_id, n_islands, active_days, longest_days, longest_start
         |FROM a JOIN st USING (user_id)
         |ORDER BY user_id""".stripMargin,

    // identical half-rank marginals (2·cum − cnt + 1), HUGEINT moment
    // sums, the same double expression tree, floor-quantized
    "q_spearman" ->
      """WITH b AS (SELECT l_returnflag AS flag,
        |                  CAST(round(l_quantity) AS BIGINT) AS x,
        |                  CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        |           FROM lineitem),
        |rx AS (SELECT flag, x,
        |              2 * CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY x)
        |                AS BIGINT) - cnt + 1 AS rx
        |       FROM (SELECT flag, x, CAST(count(*) AS BIGINT) AS cnt
        |             FROM b GROUP BY 1, 2)),
        |ry AS (SELECT flag, y,
        |              2 * CAST(sum(cnt) OVER (PARTITION BY flag ORDER BY y)
        |                AS BIGINT) - cnt + 1 AS ry
        |       FROM (SELECT flag, y, CAST(count(*) AS BIGINT) AS cnt
        |             FROM b GROUP BY 1, 2)),
        |p AS (SELECT flag, x, y, CAST(count(*) AS BIGINT) AS m
        |      FROM b GROUP BY 1, 2, 3),
        |j AS (SELECT p.flag, p.m, rx.rx, ry.ry
        |      FROM p JOIN rx USING (flag, x) JOIN ry USING (flag, y)),
        |g AS (SELECT flag, CAST(sum(m) AS BIGINT) AS n,
        |             sum(CAST(rx AS HUGEINT) * m) AS sx,
        |             sum(CAST(ry AS HUGEINT) * m) AS sy,
        |             sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT) * m) AS sxy,
        |             sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT) * m) AS sxx,
        |             sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT) * m) AS syy
        |      FROM j GROUP BY 1)
        |SELECT flag, n AS n_rows,
        |       floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |             (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |              sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |             * 10000) / 10000 AS spearman_rho
        |FROM g
        |WHERE n >= 3
        |  AND flag IN (SELECT flag FROM rx GROUP BY flag HAVING count(*) >= 2)
        |  AND flag IN (SELECT flag FROM ry GROUP BY flag HAVING count(*) >= 2)
        |ORDER BY flag""".stripMargin,

    // same integer epoch day-of-week, HUGEINT rationals, quantized
    // integer division — the chi² total sums already-quantized integers
    "q_chi_square" ->
      s"""$evCte,
         |cells AS (SELECT event_type,
         |                 ((ts_us // 86400000000) + 4) % 7 AS dow,
         |                 CAST(count(*) AS BIGINT) AS o
         |          FROM e GROUP BY 1, 2),
         |r AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r
         |      FROM cells GROUP BY 1),
         |c AS (SELECT dow, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
         |t AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
         |s AS (SELECT cells.event_type, cells.dow, o,
         |             (CAST(r.r AS HUGEINT) * c.c * 10000) // nn AS e4,
         |             ((CAST(o AS HUGEINT) * nn - CAST(r.r AS HUGEINT) * c.c)
         |              * (CAST(o AS HUGEINT) * nn - CAST(r.r AS HUGEINT) * c.c)
         |              * 10000) // (CAST(nn AS HUGEINT) * r.r * c.c) AS contrib4
         |      FROM cells JOIN r USING (event_type) JOIN c USING (dow)
         |           CROSS JOIN t),
         |tt AS (SELECT CAST(sum(contrib4) AS BIGINT) AS t4 FROM s)
         |SELECT event_type, dow, o AS n_obs,
         |       CAST(e4 AS DOUBLE) / 10000.0 AS expected,
         |       CAST(contrib4 AS DOUBLE) / 10000.0 AS contrib,
         |       CAST(t4 AS DOUBLE) / 10000.0 AS chi2_total
         |FROM s CROSS JOIN tt
         |ORDER BY event_type, dow""".stripMargin,

    // the PLAIN join — bucketing must be invisible to results (the
    // q_salted_join posture); exact cents through the fold
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |             AS DOUBLE) / 100.0, 4) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // same monthly cents rollup, same calendar month-index self-join,
    // and quantized integer divisions
    "q_forecast_eval" ->
      """WITH m AS (
        |  SELECT o_orderpriority,
        |         year(o_orderdate) * 12 + month(o_orderdate) AS ym,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS c
        |  FROM orders GROUP BY 1, 2),
        |e AS (
        |  SELECT a.o_orderpriority, a.c, b.c AS f
        |  FROM m a JOIN m b
        |    ON b.o_orderpriority = a.o_orderpriority AND b.ym = a.ym - 12),
        |g AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_eval,
        |         CAST(sum(abs(c - f)) AS HUGEINT) AS sae,
        |         CAST(sum(c) AS HUGEINT) AS sa
        |  FROM e GROUP BY 1)
        |SELECT o_orderpriority, n_eval,
        |       CAST((sae * 100) // n_eval AS DOUBLE) / 10000.0 AS mae,
        |       CAST((sae * 10000) // sa AS DOUBLE) / 10000.0 AS wape
        |FROM g ORDER BY o_orderpriority""".stripMargin,

    // same exact-integer sign rule, same lag-based run count over the
    // identical total order, same mirrored double tree
    "q_runs_test" ->
      """WITH li AS (
        |  SELECT l_suppkey AS sk, l_shipdate, l_orderkey, l_linenumber,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |st AS (SELECT sk, CAST(sum(cents) AS HUGEINT) AS sc,
        |              CAST(count(*) AS BIGINT) AS n
        |       FROM li GROUP BY 1),
        |sg AS (
        |  SELECT li.sk, n,
        |         CAST(cents AS HUGEINT) * n > sc AS above,
        |         lag(CAST(cents AS HUGEINT) * n > sc) OVER
        |           (PARTITION BY li.sk
        |            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev
        |  FROM li JOIN st USING (sk)),
        |g AS (
        |  SELECT sk, max(n) AS n,
        |         CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN prev IS NULL OR prev = above
        |                  THEN 0 ELSE 1 END) + 1 AS BIGINT) AS runs
        |  FROM sg GROUP BY 1),
        |f AS (SELECT *, n1 * (n - n1) * 2 AS a FROM g
        |      WHERE n >= 2 AND n1 * (n - n1) * 2 > n)
        |SELECT sk AS l_suppkey, n, n1, n - n1 AS n2, runs,
        |       floor((CAST(runs AS DOUBLE)
        |              - (CAST(a AS DOUBLE) / CAST(n AS DOUBLE) + 1.0::DOUBLE)) /
        |             sqrt(CAST(a AS DOUBLE) * (CAST(a AS DOUBLE) - CAST(n AS DOUBLE))
        |                  / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |                     * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
        |             * 10000) / 10000 AS z_runs
        |FROM f ORDER BY l_suppkey""".stripMargin,

    // same manual ⌊(rk−1)·10/n⌋ tiers over the identical total order —
    // no NTILE dialect trusted on either engine
    "q_ntile_profile" ->
      """WITH sp AS (
        |  SELECT o_custkey,
        |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |rk AS (SELECT cents,
        |              row_number() OVER (ORDER BY cents, o_custkey) AS rk,
        |              count(*) OVER () AS n
        |       FROM sp)
        |SELECT ((rk - 1) * 10) // n AS decile,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(min(cents) AS DOUBLE) / 100.0 AS min_spend,
        |       CAST(max(cents) AS DOUBLE) / 100.0 AS max_spend,
        |       round(CAST(sum(cents) AS DOUBLE) / 100.0, 4) AS total_spend
        |FROM rk GROUP BY 1 ORDER BY decile""".stripMargin,

    // same distinct-value cumulative marginals, same |ca·n2 − cb·n1|
    // integer rational, same mirrored floor-quantized λ tree
    "q_ks_test" ->
      """WITH b AS (SELECT o_orderstatus AS st,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |                  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                       THEN 1 ELSE 0 END AS g
        |           FROM orders),
        |m AS (SELECT st, v, CAST(sum(g) AS BIGINT) AS a,
        |             CAST(sum(1 - g) AS BIGINT) AS b
        |      FROM b GROUP BY 1, 2),
        |c AS (SELECT st,
        |             CAST(sum(a) OVER (PARTITION BY st ORDER BY v)
        |               AS HUGEINT) AS ca,
        |             CAST(sum(b) OVER (PARTITION BY st ORDER BY v)
        |               AS HUGEINT) AS cb
        |      FROM m),
        |t AS (SELECT st, CAST(sum(a) AS HUGEINT) AS n1,
        |             CAST(sum(b) AS HUGEINT) AS n2
        |      FROM m GROUP BY 1),
        |d AS (SELECT c.st, n1, n2, max(abs(ca * n2 - cb * n1)) AS dnum
        |      FROM c JOIN t ON c.st = t.st GROUP BY 1, 2, 3)
        |SELECT st AS o_orderstatus, CAST(n1 AS BIGINT) AS n1,
        |       CAST(n2 AS BIGINT) AS n2, CAST(dnum AS BIGINT) AS d_num,
        |       CAST((dnum * 10000) // (n1 * n2) AS DOUBLE) / 10000.0 AS ks_d,
        |       floor(CAST(dnum AS DOUBLE)
        |             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |             * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                    / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
        |             * 10000) / 10000 AS ks_lambda
        |FROM d WHERE n1 > 0 AND n2 > 0
        |ORDER BY o_orderstatus""".stripMargin,

    // same ×2 half-rank identity on the pooled cumulative marginal, same
    // exact 2U₁/tie-correction integers, same mirrored z tree
    "q_mann_whitney" ->
      """WITH b AS (SELECT o_orderstatus AS st,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |                  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                       THEN 1 ELSE 0 END AS g
        |           FROM orders),
        |m AS (SELECT st, v, CAST(sum(g) AS BIGINT) AS a,
        |             CAST(sum(1 - g) AS BIGINT) AS b
        |      FROM b GROUP BY 1, 2),
        |c AS (SELECT st, a, b, a + b AS cnt,
        |             CAST(sum(a) OVER (PARTITION BY st ORDER BY v)
        |               AS HUGEINT) AS ca,
        |             CAST(sum(b) OVER (PARTITION BY st ORDER BY v)
        |               AS HUGEINT) AS cb
        |      FROM m),
        |r AS (SELECT st, a, cnt, (ca + cb) * 2 - cnt + 1 AS r2 FROM c),
        |g AS (SELECT st, CAST(sum(a) AS HUGEINT) AS n1,
        |             CAST(sum(cnt - a) AS HUGEINT) AS n2,
        |             sum(CAST(r2 AS HUGEINT) * a) AS rs2,
        |             sum(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
        |      FROM r GROUP BY 1),
        |u AS (SELECT st, n1, n2, ties, rs2 - n1 * (n1 + 1) AS u2 FROM g
        |      WHERE n1 > 0 AND n2 > 0
        |        AND ties < (n1 + n2) * (n1 + n2) * (n1 + n2) - (n1 + n2))
        |SELECT st AS o_orderstatus, CAST(n1 AS BIGINT) AS n1,
        |       CAST(n2 AS BIGINT) AS n2, CAST(u2 AS BIGINT) AS u1_x2,
        |       floor((CAST(u2 AS DOUBLE)
        |              - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) /
        |             (2.0::DOUBLE *
        |              sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
        |                   / 12.0::DOUBLE *
        |                   ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
        |                     + 1.0::DOUBLE)
        |                    - CAST(ties AS DOUBLE)
        |                      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
        |                         * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)
        |                            - 1.0::DOUBLE)))))
        |             * 10000) / 10000 AS z_u
        |FROM u ORDER BY o_orderstatus""".stripMargin,

    // same (degree, id) seed cut, same 2-hop expansion + canonical-pair
    // edge exclusion, same per-seed (count desc, cand) top-5
    "q_link_predict" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS u, y.pk AS v
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT u AS c0, v AS nb FROM e
        |        UNION ALL SELECT v AS c0, u AS nb FROM e),
        |deg AS (SELECT nd, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS nd FROM e
        |              UNION ALL SELECT v AS nd FROM e)
        |        GROUP BY 1),
        |seeds AS (SELECT nd AS seed FROM deg ORDER BY d DESC, nd
        |          LIMIT 100),
        |h2 AS (SELECT s.seed, u2.nb AS cand,
        |              CAST(count(*) AS BIGINT) AS common_neighbors
        |       FROM seeds s JOIN und u1 ON u1.c0 = s.seed
        |            JOIN und u2 ON u2.c0 = u1.nb
        |       WHERE u2.nb <> s.seed
        |       GROUP BY 1, 2),
        |ne AS (SELECT * FROM h2 WHERE NOT EXISTS
        |         (SELECT 1 FROM e WHERE e.u = least(seed, cand)
        |                            AND e.v = greatest(seed, cand))),
        |rk AS (SELECT seed, cand, common_neighbors,
        |              row_number() OVER (PARTITION BY seed
        |                ORDER BY common_neighbors DESC, cand) AS rk
        |       FROM ne)
        |SELECT seed AS p_partkey, cand AS rec_part, common_neighbors, rk
        |FROM rk WHERE rk <= 5 ORDER BY p_partkey, rk""".stripMargin,

    // same O(k) exact moments, same quantized per-group contributions
    // summed as integers, same mirrored F tree
    "q_anova" ->
      """WITH g AS (SELECT o_orderpriority,
        |                  CAST(count(*) AS BIGINT) AS ng,
        |                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |                    AS BIGINT) AS sg,
        |                  CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT)
        |                           * CAST(round(o_totalprice * 100) AS BIGINT))
        |                    AS HUGEINT) AS qg
        |           FROM orders GROUP BY 1),
        |g2 AS (SELECT *,
        |              (CAST(sg AS HUGEINT) // ng) * sg * 10000
        |              + ((CAST(sg AS HUGEINT) % ng) * sg * 10000) // ng
        |                AS t4
        |       FROM g),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |             CAST(sum(ng) AS BIGINT) AS n,
        |             CAST(sum(sg) AS HUGEINT) AS st,
        |             CAST(sum(qg) AS HUGEINT) AS qt,
        |             CAST(sum(t4) AS HUGEINT) AS sum_t4
        |      FROM g2),
        |t2 AS (SELECT k, n,
        |              greatest(sum_t4 - ((st // n) * st * 10000
        |                                 + ((st % n) * st * 10000) // n),
        |                       0::HUGEINT) AS ssb4,
        |              qt * 10000 - sum_t4 AS ssw4
        |       FROM t WHERE k >= 2 AND n > k)
        |SELECT g2.o_orderpriority, g2.ng,
        |       CAST((CAST(g2.sg AS HUGEINT) * 10000) // g2.ng AS DOUBLE)
        |         / 10000.0 / 100.0 AS mean_price,
        |       t2.k, t2.n,
        |       CAST(ssb4 // 100 AS DOUBLE) / 100.0 AS ssb_cents2,
        |       CAST(ssw4 // 100 AS DOUBLE) / 100.0 AS ssw_cents2,
        |       floor((CAST(ssb4 AS DOUBLE)
        |              / (CAST(k AS DOUBLE) - 1.0::DOUBLE))
        |             / (CAST(ssw4 AS DOUBLE)
        |                / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)))
        |             * 10000) / 10000 AS f_stat
        |FROM g2 CROSS JOIN t2
        |WHERE ssw4 > 0
        |ORDER BY o_orderpriority""".stripMargin,

    // the same midrank/quotient-remainder replay: doubled midranks from
    // the per-stratum cumulative count window, per-group doubled rank
    // sums, ⌊R2²·10⁴/n⌋ by the q/r decomposition in HUGEINT, tie and
    // N³−N terms exact then cast, H' pinned operation-for-operation
    "q_kruskal_wallis" ->
      """WITH b AS (SELECT o_orderstatus AS st,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS v,
        |                  o_orderpriority AS g
        |           FROM orders),
        |m AS (SELECT st, v, g, CAST(count(*) AS HUGEINT) AS c
        |      FROM b GROUP BY 1, 2, 3),
        |mv AS (SELECT st, v, CAST(sum(c) AS HUGEINT) AS cnt
        |       FROM m GROUP BY 1, 2),
        |cum AS (SELECT st, v, cnt,
        |               CAST(sum(cnt) OVER (PARTITION BY st ORDER BY v)
        |                 AS HUGEINT) AS cc
        |        FROM mv),
        |r AS (SELECT m.st, m.g, m.c, cum.cc * 2 - cum.cnt + 1 AS r2
        |      FROM m JOIN cum ON m.st = cum.st AND m.v = cum.v),
        |pg AS (SELECT st, g, CAST(sum(c) AS HUGEINT) AS ng,
        |              CAST(sum(r2 * c) AS HUGEINT) AS rs2
        |       FROM r GROUP BY 1, 2),
        |t4 AS (SELECT st, ng,
        |              (rs2 // ng) * rs2 * 10000
        |              + ((rs2 % ng) * rs2 * 10000) // ng AS t4
        |       FROM pg),
        |tt AS (SELECT st, CAST(sum(cnt * cnt * cnt - cnt) AS HUGEINT) AS tt
        |       FROM mv GROUP BY 1),
        |ps AS (SELECT st, CAST(count(*) AS BIGINT) AS k,
        |              CAST(sum(ng) AS BIGINT) AS n,
        |              CAST(sum(t4) AS HUGEINT) AS s4
        |       FROM t4 GROUP BY 1),
        |f AS (SELECT ps.st, ps.n, ps.k, ps.s4, tt.tt,
        |             CAST(ps.n AS HUGEINT) * ps.n * ps.n - ps.n AS nn
        |      FROM ps JOIN tt ON ps.st = tt.st
        |      WHERE ps.k >= 2
        |        AND tt.tt < CAST(ps.n AS HUGEINT) * ps.n * ps.n - ps.n)
        |SELECT st AS o_orderstatus, n, k,
        |       floor((3.0::DOUBLE * CAST(s4 AS DOUBLE)
        |              / (10000.0::DOUBLE * CAST(n AS DOUBLE)
        |                 * (CAST(n AS DOUBLE) + 1.0::DOUBLE))
        |              - 3.0::DOUBLE * (CAST(n AS DOUBLE) + 1.0::DOUBLE))
        |             / (1.0::DOUBLE - CAST(tt AS DOUBLE) / CAST(nn AS DOUBLE))
        |             * 10000) / 10000 AS h_stat
        |FROM f ORDER BY o_orderstatus""".stripMargin,

    // the same greedy earliest-occurrence chain: first a, first b after
    // it, any c after that — strict ts comparisons, no tie-break needed
    "q_seq_pattern" ->
      """WITH e AS (SELECT user_id, event_type AS t, epoch_us(ts) AS ts_us
        |           FROM events),
        |a AS (SELECT user_id, t AS a, min(ts_us) AS ta FROM e GROUP BY 1, 2),
        |b AS (SELECT a.user_id, a.a, e.t AS b, min(e.ts_us) AS tb
        |      FROM a JOIN e ON e.user_id = a.user_id AND e.ts_us > a.ta
        |      GROUP BY 1, 2, 3),
        |c AS (SELECT DISTINCT b.user_id, b.a, b.b, e.t AS c
        |      FROM b JOIN e ON e.user_id = b.user_id AND e.ts_us > b.tb)
        |SELECT a, b, c, CAST(count(*) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the same three synchronous rounds as chained CTEs — identical
    // (count desc, label asc) tie rule via the row_number window
    "q_label_prop" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS u, y.pk AS v
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT u AS src, v AS dst FROM e
        |        UNION ALL SELECT v AS src, u AS dst FROM e),
        |l0 AS (SELECT node, node AS label FROM (
        |         SELECT u AS node FROM e UNION SELECT v AS node FROM e)),
        |r1 AS (SELECT und.dst AS node, l.label, count(*) AS cnt
        |       FROM und JOIN l0 l ON l.node = und.src GROUP BY 1, 2),
        |l1 AS (SELECT node, label FROM (
        |         SELECT *, row_number() OVER (PARTITION BY node
        |                    ORDER BY cnt DESC, label) AS rn FROM r1)
        |       WHERE rn = 1),
        |r2 AS (SELECT und.dst AS node, l.label, count(*) AS cnt
        |       FROM und JOIN l1 l ON l.node = und.src GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |         SELECT *, row_number() OVER (PARTITION BY node
        |                    ORDER BY cnt DESC, label) AS rn FROM r2)
        |       WHERE rn = 1),
        |r3 AS (SELECT und.dst AS node, l.label, count(*) AS cnt
        |       FROM und JOIN l2 l ON l.node = und.src GROUP BY 1, 2),
        |l3 AS (SELECT node, label FROM (
        |         SELECT *, row_number() OVER (PARTITION BY node
        |                    ORDER BY cnt DESC, label) AS rn FROM r3)
        |       WHERE rn = 1)
        |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members,
        |       CAST(sum(node % 1000000007) AS BIGINT) AS member_checksum
        |FROM l3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // same distinct co-purchase edges, same min-id seed, same three
    // frontier hops as chained CTEs, same unreached report
    "q_bfs_reach" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS u, y.pk AS v
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |und AS (SELECT u AS src, v AS dst FROM e
        |        UNION ALL SELECT v AS src, u AS dst FROM e),
        |l0 AS (SELECT min(u) AS node FROM e HAVING min(u) IS NOT NULL),
        |l1 AS (SELECT DISTINCT dst AS node FROM und JOIN l0 ON src = node
        |       WHERE dst NOT IN (SELECT node FROM l0)),
        |l2 AS (SELECT DISTINCT dst AS node FROM und JOIN l1 ON src = node
        |       WHERE dst NOT IN (SELECT node FROM l0
        |                         UNION ALL SELECT node FROM l1)),
        |l3 AS (SELECT DISTINCT dst AS node FROM und JOIN l2 ON src = node
        |       WHERE dst NOT IN (SELECT node FROM l0
        |                         UNION ALL SELECT node FROM l1
        |                         UNION ALL SELECT node FROM l2)),
        |r AS (SELECT 0 AS lvl, node FROM l0
        |      UNION ALL SELECT 1, node FROM l1
        |      UNION ALL SELECT 2, node FROM l2
        |      UNION ALL SELECT 3, node FROM l3),
        |alln AS (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
        |un AS (SELECT -1 AS lvl, node FROM alln
        |       WHERE node NOT IN (SELECT node FROM r))
        |SELECT CAST(lvl AS BIGINT) AS lvl, CAST(count(*) AS BIGINT) AS n_nodes,
        |       CAST(sum(node) AS BIGINT) AS id_sum
        |FROM (SELECT * FROM r UNION ALL SELECT * FROM un)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same domain-bounded cell-pair algebra, same exact C/D/tie integers,
    // same mirrored floor-quantized τ tree
    "q_kendall_tau" ->
      """WITH b AS (SELECT l_returnflag AS flag,
        |                  CAST(round(l_quantity) AS BIGINT) AS x,
        |                  CAST(round(l_discount * 100) AS BIGINT) AS y
        |           FROM lineitem),
        |cells AS (SELECT flag, x, y, CAST(count(*) AS BIGINT) AS m
        |          FROM b GROUP BY 1, 2, 3),
        |pr AS (SELECT a.flag, CAST(a.m AS HUGEINT) * c.m AS w,
        |              a.y AS y1, c.y AS y2
        |       FROM cells a JOIN cells c
        |         ON a.flag = c.flag AND a.x < c.x),
        |cd AS (SELECT flag,
        |              coalesce(sum(CASE WHEN y1 < y2 THEN w END), 0) AS cc,
        |              coalesce(sum(CASE WHEN y1 > y2 THEN w END), 0) AS dd
        |       FROM pr GROUP BY 1),
        |tx AS (SELECT flag, CAST(sum(tm) AS HUGEINT) AS n,
        |              sum(CAST(tm AS HUGEINT) * (tm - 1)) AS t_x
        |       FROM (SELECT flag, x, CAST(sum(m) AS BIGINT) AS tm
        |             FROM cells GROUP BY 1, 2)
        |       GROUP BY 1),
        |ty AS (SELECT flag, sum(CAST(tm AS HUGEINT) * (tm - 1)) AS t_y
        |       FROM (SELECT flag, y, CAST(sum(m) AS BIGINT) AS tm
        |             FROM cells GROUP BY 1, 2)
        |       GROUP BY 1),
        |g AS (SELECT cd.flag, cc, dd, n,
        |             n * (n - 1) - t_x AS dx, n * (n - 1) - t_y AS dy
        |      FROM cd JOIN tx USING (flag) JOIN ty USING (flag))
        |SELECT flag, CAST(n AS BIGINT) AS n_rows,
        |       CAST(cc AS BIGINT) AS concordant,
        |       CAST(dd AS BIGINT) AS discordant,
        |       floor((CAST(cc AS DOUBLE) - CAST(dd AS DOUBLE)) * 2.0::DOUBLE
        |             / sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE))
        |             * 10000) / 10000 AS tau_b
        |FROM g WHERE dx > 0 AND dy > 0 ORDER BY flag""".stripMargin,

    // same distinct co-occurrence edges, same (degree, id) orientation,
    // same once-per-triangle wedge closure and quantized gcc division
    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |e AS (SELECT DISTINCT x.pk AS u, y.pk AS v
        |      FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk),
        |deg AS (SELECT nd, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS nd FROM e
        |              UNION ALL SELECT v AS nd FROM e)
        |        GROUP BY 1),
        |ed AS (SELECT u, v, du.d AS du, dv.d AS dv
        |       FROM e JOIN deg du ON du.nd = e.u
        |            JOIN deg dv ON dv.nd = e.v),
        |ori AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v)
        |                    THEN u ELSE v END AS s,
        |               CASE WHEN du < dv OR (du = dv AND u < v)
        |                    THEN v ELSE u END AS t,
        |               CASE WHEN du < dv OR (du = dv AND u < v)
        |                    THEN dv ELSE du END AS dt
        |        FROM ed),
        |w AS (SELECT e1.t AS b, e2.t AS c
        |      FROM ori e1 JOIN ori e2 ON e1.s = e2.s
        |       AND (e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t))),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |        FROM w JOIN ori ON w.b = ori.s AND w.c = ori.t),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |              CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges
        |       FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |       CAST((CAST(n_triangles AS HUGEINT) * 3 * 10000) // n_wedges
        |         AS DOUBLE) / 10000.0 AS gcc
        |FROM nn CROSS JOIN ne CROSS JOIN tri
        |WHERE n_wedges > 0""".stripMargin)
}
