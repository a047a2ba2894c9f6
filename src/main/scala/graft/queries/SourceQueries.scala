package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/** Source/sink format surface as oracle-gated ROUNDTRIP keys: the engine
  * exports the corpus to an interchange format, reads it back through its
  * own source tier, and the gate proves losslessness against the original
  * parquet (the oracle never sees the intermediate format — identity is
  * the claim being hashed).
  *
  * 100 TB posture baked into each path:
  *  - every read-back supplies an EXPLICIT schema — schema inference on a
  *    JSONL/CSV lake is a full extra pass over every byte before the real
  *    scan (Spark samples but still opens files); at petabyte scale
  *    inference is a job, not a convenience;
  *  - the roundtrip proof is a per-source modular CHECKSUM aggregate, so
  *    verifying an export is one map-side-combined scan emitting O(sources)
  *    rows — never a row-by-row anti-join of export vs original (a second
  *    full shuffle of the corpus);
  *  - the partitioned variant writes `partitionBy(source)` — the layout a
  *    production lake uses so per-source reads PRUNE at the directory
  *    level; the gate query filters 3 of the sources and a spec pins the
  *    scan's partitionFilters (pruning must survive refactors, not just
  *    work once).
  *
  * Format contracts (spec'd in SourceQueriesSpec on crafted nasty strings):
  * JSONL carries arbitrary text (quotes, commas, tabs, newlines, nulls —
  * JSON escapes/represents them all); the CSV exporter uses RFC 4180
  * double-quote escaping (`escape="` on write AND read — Spark's default
  * backslash escape is not what other CSV consumers emit) and the \N null
  * sentinel, and its export domain excludes (a) embedded newlines —
  * parsing those needs multiLine=true, which reads each file as ONE
  * unsplittable record stream and kills scan parallelism at scale — and
  * (b) a literal \N field value (conflates to null, as under every
  * sentinel convention). Arbitrary-text corpora belong in JSONL; CSV is
  * for the tabular columns.
  */
object SourceQueries {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** One export per (session, lake, format), memoized — downstream passes
    * re-read the artifact, mirroring how a real export is written once and
    * consumed many times. Written through sessionTempDir so the artifact
    * is deleted at JVM exit and on a failed build. */
  private val exportMemo = new graft.operators.SessionMemo[String]

  /** The z-ordered events rewrite for src_zorder_roundtrip — one
    * clustered copy per (session, lake). */
  private val zorderMemo = new graft.operators.SessionMemo[String]

  /** The Derby export's (url, max doc_id) — the range-read bound is a
    * pure function of the same lake the export snapshots. */
  private val jdbcMemo = new graft.operators.SessionMemo[(String, Long)]

  /** The TxLog table built for src_txlog_timetravel — three commits per
    * (session, lake), read back at every version by every pass. */
  private val txlogMemo = new graft.operators.SessionMemo[String]

  /** The stream-committed TxLog table for src_txlog_stream_sink — one
    * streaming run per (session, lake). */
  private val txlogSinkMemo = new graft.operators.SessionMemo[String]

  /** The stats-carrying TxLog table for src_txlog_skipping — four
    * ts-range data dirs, each add recording its ts_us envelope. */
  private val txlogSkipMemo = new graft.operators.SessionMemo[String]

  /** The downstream table src_txlog_stream_source maintains by FOLLOWING
    * the sink table through the TxLog streaming source — one streaming
    * run per (session, lake). */
  private val txlogFollowMemo = new graft.operators.SessionMemo[String]

  /** The downstream table src_txlog_stream_v2 maintains by following
    * the follow table AGAIN through the txlog source→sink connector —
    * one streaming run per (session, lake). */
  private val txlogV2FollowMemo = new graft.operators.SessionMemo[String]

  /** The SQL-evolved (rename/drop/re-add) catalog dir for
    * src_txlog_alter_sql. */
  private val txlogAlterMemo = new graft.operators.SessionMemo[String]

  /** The CALL-built (optimize+restore) catalog dir for
    * src_txlog_proc_sql. */
  private val txlogProcMemo = new graft.operators.SessionMemo[String]

  /** The restored three-slice table for src_txlog_restore. */
  private val txlogRestoreMemo = new graft.operators.SessionMemo[String]

  /** The five-verb table src_txlog_history classifies. */
  private val txlogHistoryMemo = new graft.operators.SessionMemo[String]

  /** The string/partition-pruned TxLog table for
    * src_txlog_skipping_typed — four event-type-range dirs, adds
    * carrying string envelopes AND partition values. */
  private val txlogTypedMemo = new graft.operators.SessionMemo[String]

  /** The twice-merged TxLog table for src_txlog_merge — snapshot, a
    * bucketizing delete+update merge, then a touched-buckets-only
    * update+insert merge. */
  private val txlogMergeMemo = new graft.operators.SessionMemo[String]

  /** One writeManifest per (session, lake) over the skip table. */
  private val txlogManifestMemo = new graft.operators.SessionMemo[String]

  /** The collected CDF follower emission over the merged table — one
    * streaming run per (session, lake). */
  private val cdfFollowMemo = new graft.operators.SessionMemo[DataFrame]

  /** The WAP-built table (good publish → refused corrupt stage → good
    * publish) — one build per (session, lake). */
  private val txlogWapMemo = new graft.operators.SessionMemo[String]

  /** The catalog-rooted table for src_txlog_sql (two commits of
    * per-type dirs, schema recorded, catalog conf registered) — one
    * build per (session, lake); holds (catalogName, nTypes). */
  private val txlogSqlMemo = new graft.operators.SessionMemo[(String, Int)]

  private val skipDdl = StructType.fromDDL(
    "event_id BIGINT, event_type STRING, ts_us BIGINT, v4 BIGINT")

  private def skipAgg(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("v4").as("sum_v4"),
        sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
      .orderBy("event_type")

  /** The shared stats-carrying TxLog table (four ts-quartile dirs, each
    * add recording its ts_us envelope) plus the mid-span query window
    * [lo+span, lo+2.5·span] — inside dirs q1+q2, provably disjoint from
    * q0/q3's envelopes (integer math mirrored in the oracle exactly).
    * Shared by src_txlog_skipping (driver-path pruning) and
    * src_txlog_manifest (distributed manifest pruning). */
  private def skipTableAndWindow(s: SparkSession,
      dir: String): (String, Long, Long) = {
    import graft.sources.TxLog
    val e = Tables(s, dir, "events")
    val ev = e.select(col("event_id"), col("event_type"),
      Tables.tsMicros(e).as("ts_us"),
      round(col("value") * 10000).cast("long").as("v4"))
    val table = txlogSkipMemo.get(s, dir) {
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-skip") { td =>
          val tbl = s"$td/table"
          val b = ev.agg(min("ts_us"), max("ts_us")).head()
          val (lo, hi) = (b.getLong(0), b.getLong(1))
          val span = (hi - lo) / 4 + 1
          val adds = (0 until 4).map { i =>
            val nm = s"q$i"
            ev.filter(col("ts_us") >= lo + i * span &&
                col("ts_us") < lo + (i + 1) * span)
              .write.parquet(s"$tbl/$nm")
            TxLog.AddFile(nm,
              TxLog.statsOf(s.read.parquet(s"$tbl/$nm"), Seq("ts_us")))
          }
          require(TxLog.tryCommitActions(s, tbl, 0L, adds, Nil),
            "v0 conflicted on a fresh table")
        }
      s"$tmp/table"
    }
    val b = ev.agg(min("ts_us"), max("ts_us")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = (hi - lo) / 4 + 1
    (table, lo + span, lo + 2 * span + span / 2)
  }

  /** The two-commit skip table for src_txlog_manifest_inc: q0+q1 at v0
    * (full manifest), q2+q3 at v1 (INCREMENTAL manifest update). */
  private val txlogMincMemo = new graft.operators.SessionMemo[String]

  /** The SQL-merged twin of mergedDocTable for src_txlog_merge_sql:
    * the same two merges issued as spark.sql MERGE INTO statements
    * through the catalog (holds the table dir). */
  private val txlogMergeSqlMemo = new graft.operators.SessionMemo[String]

  private def sqlMergedDocTable(s: SparkSession, dir: String): String = {
    import graft.sources.TxLog
    txlogMergeSqlMemo.get(s, dir) {
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-mergesql") { td =>
          val docs = Tables(s, dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
          val tbl = s"$td/t"
          docs.write.parquet(s"$tbl/init")
          require(TxLog.tryCommitActions(s, tbl, 0L,
            Seq(TxLog.AddFile("init")), Nil,
            schemaDdl = Some(mergeSchema.toDDL), cdf = Some("@adds")),
            "v0 conflicted on a fresh table")
          val cat = s"graftmsql_${math.abs(td.hashCode).toString}"
          s.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.TxLogCatalog].getName)
          s.conf.set(s"spark.sql.catalog.$cat.root", td)
          // merge 1 — keys ≡0 mod 3: DELETE German targets, else
          // n_chars += 1 (the src_txlog_merge spec, via pure SQL)
          docs.filter(pmod(col("doc_id"), lit(3)) === 0)
            .createOrReplaceTempView("graft_msql_src1")
          s.conf.set("graft.txlog.merge.nBuckets", "8")
          try {
            s.sql(
              s"""MERGE INTO $cat.t AS t USING graft_msql_src1 AS s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED AND t.lang <=> 'de' THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars + 1
                 |""".stripMargin)
            // merge 2 — keys ≡0 mod 7 double n_chars; shifted ≡0 mod 5
            // inserts where the source row isn't German
            val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
            docs.filter(pmod(col("doc_id"), lit(7)) === 0)
              .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
                .select((col("doc_id") + off).as("doc_id"), col("lang"),
                  col("source"), col("n_chars")))
              .createOrReplaceTempView("graft_msql_src2")
            s.sql(
              s"""MERGE INTO $cat.t AS t USING graft_msql_src2 AS s
                 |ON t.doc_id = s.doc_id
                 |WHEN MATCHED THEN UPDATE SET n_chars = t.n_chars * 2
                 |WHEN NOT MATCHED AND NOT (s.lang <=> 'de') THEN
                 |  INSERT (doc_id, lang, source, n_chars)
                 |  VALUES (s.doc_id, s.lang, s.source, s.n_chars)
                 |""".stripMargin)
          } finally s.conf.unset("graft.txlog.merge.nBuckets")
          require(TxLog.currentVersion(s, tbl).contains(2L),
            "both SQL merges must have committed")
        }
      s"$tmp/t"
    }
  }

  /** The SQL-DML'd table for src_txlog_dml_sql: a DELETE statement
    * (bucketizing, keys from the session conf) then a sparse UPDATE
    * statement (keys recovered from the layout's `__keys` record,
    * merge-on-read + change feed via the knob confs). */
  private val txlogDmlMemo = new graft.operators.SessionMemo[String]

  private def dmlDocTable(s: SparkSession, dir: String): String = {
    import graft.sources.TxLog
    txlogDmlMemo.get(s, dir) {
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-dmlsql") { td =>
          val docs = Tables(s, dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
          val tbl = s"$td/t"
          docs.write.parquet(s"$tbl/init")
          require(TxLog.tryCommitActions(s, tbl, 0L,
            Seq(TxLog.AddFile("init")), Nil,
            schemaDdl = Some(mergeSchema.toDDL), cdf = Some("@adds")),
            "v0 conflicted on a fresh table")
          val cat = s"graftdml_${math.abs(td.hashCode).toString}"
          s.conf.set(s"spark.sql.catalog.$cat",
            classOf[graft.sources.TxLogCatalog].getName)
          s.conf.set(s"spark.sql.catalog.$cat.root", td)
          // v1: DELETE — German docs with ≡0-mod-3 keys; the FIRST
          // statement needs the identity conf (fresh table, no layout)
          s.conf.set("graft.txlog.dml.keys", "doc_id")
          s.conf.set("graft.txlog.merge.nBuckets", "8")
          try s.sql(s"DELETE FROM $cat.t WHERE doc_id % 3 = 0 " +
            "AND lang <=> 'de'")
          finally {
            s.conf.unset("graft.txlog.dml.keys")
            s.conf.unset("graft.txlog.merge.nBuckets")
          }
          // v2: sparse UPDATE — keys recovered from the layout record
          // alone; the DV-threshold and change-feed knobs must ride SQL
          // DML exactly as they ride the Scala verb
          s.conf.set("graft.txlog.merge.dvThreshold", "0.9")
          s.conf.set("graft.txlog.merge.changeFeed", "true")
          try s.sql(
            s"UPDATE $cat.t SET n_chars = n_chars * 2 + 1 " +
              "WHERE doc_id % 97 = 0")
          finally {
            s.conf.unset("graft.txlog.merge.dvThreshold")
            s.conf.unset("graft.txlog.merge.changeFeed")
          }
          require(TxLog.currentVersion(s, tbl).contains(2L),
            "both DML statements must have committed")
          require(TxLog.liveAdds(s, tbl).exists(_.dv.isDefined),
            "the sparse UPDATE must take the deletion-vector path")
          require(TxLog.commitAt(s, tbl, 2L).cdf.exists(c =>
            c != "@adds" && c != "@none"),
            "the UPDATE must record its change feed")
        }
      s"$tmp/t"
    }
  }

  /** The evolved table for src_txlog_column_map: rename → mapped
    * append → drop → re-add (fresh physical identity) → mapped append,
    * every snapshot readable under its own map. */
  private val txlogCmapMemo = new graft.operators.SessionMemo[String]

  private def cmapDocTable(s: SparkSession, dir: String): String = {
    import graft.sources.TxLog
    txlogCmapMemo.get(s, dir) {
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-cmap") { td =>
          val docs = Tables(s, dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
          val tbl = s"$td/t"
          docs.write.parquet(s"$tbl/init")
          require(TxLog.tryCommitActions(s, tbl, 0L,
            Seq(TxLog.AddFile("init")), Nil,
            schemaDdl = Some(mergeSchema.toDDL), cdf = Some("@adds")),
            "v0 conflicted on a fresh table")
          val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
          // v1: RENAME n_chars → chars (zero rewrite)
          require(TxLog.renameColumn(s, tbl, "n_chars", "chars") == 1L,
            "rename must commit v1")
          // v2: mapped append of shifted ≡0-mod-13 rows under the NEW
          // logical name — the staged parquet stores physical n_chars
          require(TxLog.append(
              docs.filter(pmod(col("doc_id"), lit(13)) === 0)
                .select((col("doc_id") + off).as("doc_id"), col("lang"),
                  col("source"), col("n_chars").as("chars")),
              tbl, "late13") == 2L, "v2 append must publish")
          // v3: DROP lang (bytes hidden, zero rewrite)
          require(TxLog.dropColumn(s, tbl, "lang") == 3L,
            "drop must commit v3")
          // v4: re-ADD lang — a FRESH physical identity (lang__v4):
          // the dropped column's bytes must never read as the reborn one
          require(TxLog.addColumn(s, tbl, "lang", "STRING") == 4L,
            "re-add must commit v4")
          // v5: mapped append of shifted ≡0-mod-17 rows CARRYING the
          // reborn lang
          require(TxLog.append(
              docs.filter(pmod(col("doc_id"), lit(17)) === 0)
                .select((col("doc_id") + lit(2L) * off).as("doc_id"),
                  col("source"), col("n_chars").as("chars"), col("lang")),
              tbl, "late17") == 5L, "v5 append must publish")
        }
      s"$tmp/t"
    }
  }

  /** The mixed-history table for src_txlog_cdf_unified (append → merge
    * → append → OPTIMIZE → DV merge, every commit feed-marked) and the
    * collected follower emission over it. */
  private val txlogUnifiedMemo = new graft.operators.SessionMemo[String]
  private val unifiedFollowMemo = new graft.operators.SessionMemo[DataFrame]

  /** The Kafka-shipped unified feed's landed lake (one produce →
    * consume wire trip per (session, lake)). */
  private val cdfKafkaMemo = new graft.operators.SessionMemo[String]

  /** The 4-partition twin of [[cdfKafkaMemo]] (r15 — partition-routed
    * produce, partition-parallel capture). */
  private val cdfKafkaPartsMemo = new graft.operators.SessionMemo[String]

  private def unifiedCdfTable(s: SparkSession, dir: String): String = {
    import graft.sources.{TxLog, TxLogMerge}
    txlogUnifiedMemo.get(s, dir) {
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-unified") { td =>
          val tbl = s"$td/table"
          val docs = Tables(s, dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
          // v0: plain APPEND (feed = @adds, all-insert)
          require(TxLog.append(docs, tbl, "seed") == 0L,
            "v0 seed append must publish")
          // v1: APPEND of shifted new rows (keys ≡0 mod 11) — also
          // @adds, so the follower sees both appends as inserts
          val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
          require(TxLog.append(
              docs.filter(pmod(col("doc_id"), lit(11)) === 0)
                .select((col("doc_id") + off).as("doc_id"), col("lang"),
                  col("source"), col("n_chars")),
              tbl, "late") == 1L, "v1 append must publish")
          // v2: OPTIMIZE — layout only, EMPTY feed (@none): the
          // follower passes through compactions
          require(TxLog.optimize(s, tbl, Some(mergeSchema)).contains(2L),
            "optimize must commit v2")
          // v3: bucketizing MERGE — ORIGINAL keys ≡1 mod 4: delete
          // German, else n_chars += 5 (recorded feed)
          require(TxLogMerge.merge(s, tbl, mergeSchema,
              docs.filter(pmod(col("doc_id"), lit(4)) === 1),
              Seq("doc_id"),
              updateSet = Map("n_chars" -> (col("n_chars") + lit(5L))),
              deleteWhen = Some(col("lang") <=> "de"),
              nBuckets = 8, changeFeed = true) == 3L,
            "merge 1 must commit v3")
          // v4: sparse MERGE-ON-READ — original keys ≡0 mod 97: delete
          // French, else ×3 (recorded feed; vectors live at head, so
          // the follower also proves CDF-from-a-DV-merge)
          require(TxLogMerge.merge(s, tbl, mergeSchema,
              docs.filter(pmod(col("doc_id"), lit(97)) === 0),
              Seq("doc_id"),
              updateSet = Map("n_chars" -> (col("n_chars") * lit(3L))),
              deleteWhen = Some(col("lang") <=> "fr"),
              changeFeed = true, dvThreshold = 0.9) == 4L,
            "merge 2 must commit v4")
          require(TxLog.liveAdds(s, tbl).exists(_.dv.isDefined),
            "the sparse merge must take the deletion-vector path")
        }
      s"$tmp/table"
    }
  }

  /** The schema-evolution TxLog table for src_txlog_evolution — v0
    * records a 3-column schema, v1 adds `source` and records the wider
    * one. */
  private val txlogEvoMemo = new graft.operators.SessionMemo[String]

  /** The compacted TxLog table for src_txlog_optimize — six small
    * commits bin-packed into one dir by the OPTIMIZE verb. */
  private val txlogOptMemo = new graft.operators.SessionMemo[String]

  /** The z-order-clustered TxLog table for src_txlog_zorder_optimize —
    * four no-locality commits rewritten into 8 Morton range slices. */
  private val txlogZoptMemo = new graft.operators.SessionMemo[String]

  /** The checkpointed TxLog table for src_txlog_checkpoint — four
    * commits, a log checkpoint at v3, two more commits. */
  private val txlogCkptMemo = new graft.operators.SessionMemo[String]

  private val sinkSchemaDdl =
    "event_id LONG, user_id LONG, event_type STRING, ts_us LONG, v4 LONG"

  /** The commitBatch-built sink table (versions 0..3 = the shared feed's
    * ts-quartile chunks, append-only) — built once per (session, lake),
    * shared by src_txlog_stream_sink and src_txlog_incremental. */
  private def txlogSinkTable(s: SparkSession, dir: String): String =
    txlogSinkMemo.get(s, dir) {
      // r12 bench hygiene: ride the SHARED ts_us-quartile behavior feed
      // (identical chunk keying; v4 derives from the shared payload's
      // value column after the readStream — same rows per batch)
      val feed = BehaviorQueries.behaviorFeedDir(s, dir)
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-sink") { td =>
          val tbl = s"$td/table"
          val q = s.readStream
            .schema(BehaviorQueries.behaviorFeedSchemaDdl)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("ts_us"),
              round(col("value") * 10000).cast("long").as("v4"))
            .writeStream
            .option("checkpointLocation", s"$td/ckpt")
            .foreachBatch { (batch: DataFrame, id: Long) =>
              graft.sources.TxLog.commitBatch(batch, tbl, id)
            }
            .start()
          try q.processAllAvailable() finally q.stop()
        }
      s"$tmp/table"
    }

  private def export(s: SparkSession, dir: String, fmt: String)
      (write: (DataFrame, String) => Unit): String =
    exportMemo.get(s, s"$fmt:$dir") {
      val tmp = graft.streaming.StreamGate.sessionTempDir(s"graft-src-$fmt") {
        td =>
          // 4 shards: multi-file read-back (merge, ordering irrelevance)
          // is part of what the roundtrip must prove.
          write(Tables(s, dir, "documents").repartition(4), s"$td/out")
      }
      s"$tmp/out"
    }

  /** Per-row modular fingerprint of the full record. 12 md5 hex chars
    * (< 2^48) via the repo's shared conv idiom, reduced mod 1e9+7 so the
    * per-source SUM stays far from Long overflow under ANSI mode
    * (~9e9 rows per source before 9.2e18; the gate lakes top out around
    * 10^5). Field order is pinned; `source` is the group key so equality
    * is enforced by the join shape, not the hash. */
  private def rowCheck(c: Column): Column = pmod(
    conv(substring(md5(c), 1, 12), 16, 10).cast("long"), lit(1000000007L))

  /** NULL fields hash as an out-of-band  sentinel on BOTH sides:
    * concat_ws would silently SKIP a null (conflating (lang=NULL,
    * text="x") with shifted fields and disagreeing with the oracle's
    * null-propagating `||`), so every field is coalesced explicitly —
    * a null row contributes a well-defined term to the checksum instead
    * of dropping out of one engine's sum but not the other's. */
  private def f(c: Column): Column = coalesce(c.cast("string"), lit("\u0001"))

  private def record: Column = concat_ws("|",
    f(col("doc_id")), f(col("lang")), f(col("n_chars")), f(col("text")))

  private def stats(df: DataFrame): DataFrame =
    df.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        sum(rowCheck(record)).as("checksum"))
      .orderBy("source")

  /** The oracle reads the ORIGINAL parquet: a passing hash proves the
    * export+read-back composed to the identity. */
  private val statsSql =
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(('0x' || substr(md5(
      |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
      |                coalesce(lang, chr(1)) || '|' ||
      |                coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
      |                coalesce(text, chr(1))), 1, 12))::BIGINT
      |                % 1000000007) AS BIGINT) AS checksum
      |FROM documents""".stripMargin

  private val prunedSources = Seq("src3", "src7", "src11")

  /** The twice-merged documents table (snapshot → bucketizing
    * delete+update merge → touched-buckets update+insert merge), BOTH
    * merges recording their change feed — shared by src_txlog_merge
    * (final-state gate) and src_txlog_cdf (per-row change-set gate). */
  private def mergedDocTable(s: SparkSession, dir: String): String = {
    import graft.sources.{TxLog, TxLogMerge}
    txlogMergeMemo.get(s, dir) {
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-merge") { td =>
          val tbl = s"$td/table"
          val docs = Tables(s, dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
          docs.write.parquet(s"$tbl/init")
          require(TxLog.tryCommit(s, tbl, 0L, Seq("init"), Nil),
            "v0 conflicted on a fresh table")
          require(TxLogMerge.merge(s, tbl, mergeSchema,
              docs.filter(pmod(col("doc_id"), lit(3)) === 0),
              Seq("doc_id"),
              updateSet = Map("n_chars" -> (col("n_chars") + lit(1L))),
              deleteWhen = Some(col("lang") <=> "de"),
              nBuckets = 8, changeFeed = true) == 1L,
            "merge 1 must commit v1")
          val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
          val src2 = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
            .unionByName(docs.filter(pmod(col("doc_id"), lit(5)) === 0)
              .select((col("doc_id") + off).as("doc_id"), col("lang"),
                col("source"), col("n_chars")))
          require(TxLogMerge.merge(s, tbl, mergeSchema, src2,
              Seq("doc_id"),
              updateSet = Map("n_chars" -> (col("n_chars") * lit(2L))),
              insertWhen =
                Some(!(col(s"${TxLogMerge.Src}lang") <=> "de")),
              changeFeed = true) == 2L,
            "merge 2 must commit v2")
        }
      s"$tmp/table"
    }
  }

  private val mergeSchema = StructType.fromDDL(
    "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")

  /** The merge-on-read table for src_txlog_dv: a bucketizing
    * copy-on-write merge, then a SPARSE merge run with a deletion-vector
    * threshold — the head carries vectors (asserted), so the gate's
    * hash proves the DV read path end-to-end. */
  private val txlogDvMemo = new graft.operators.SessionMemo[String]

  private def dvDocTable(s: SparkSession, dir: String): String = {
    import graft.sources.{TxLog, TxLogMerge}
    txlogDvMemo.get(s, dir) {
      val tmp = graft.streaming.StreamGate
        .sessionTempDir("graft-txlog-dv") { td =>
          val tbl = s"$td/table"
          val docs = Tables(s, dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
          docs.write.parquet(s"$tbl/init")
          require(TxLog.tryCommit(s, tbl, 0L, Seq("init"), Nil),
            "v0 conflicted on a fresh table")
          // merge 1 (copy-on-write, bucketizing): keys ≡1 mod 4 —
          // delete German, else n_chars += 5
          require(TxLogMerge.merge(s, tbl, mergeSchema,
              docs.filter(pmod(col("doc_id"), lit(4)) === 1),
              Seq("doc_id"),
              updateSet = Map("n_chars" -> (col("n_chars") + lit(5L))),
              deleteWhen = Some(col("lang") <=> "de"),
              nBuckets = 8, changeFeed = true) == 1L,
            "merge 1 must commit v1")
          // merge 2 (MERGE-ON-READ, sparse touch): keys ≡0 mod 97 —
          // delete French, else ×3; shifted ≡0 mod 89 inserts where
          // the source row isn't French
          val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
          val src2 = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
            .unionByName(docs.filter(pmod(col("doc_id"), lit(89)) === 0)
              .select((col("doc_id") + off).as("doc_id"), col("lang"),
                col("source"), col("n_chars")))
          require(TxLogMerge.merge(s, tbl, mergeSchema, src2,
              Seq("doc_id"),
              updateSet = Map("n_chars" -> (col("n_chars") * lit(3L))),
              deleteWhen = Some(col("lang") <=> "fr"),
              insertWhen =
                Some(!(col(s"${TxLogMerge.Src}lang") <=> "fr") &&
                  col(s"${TxLogMerge.Src}doc_id") >= off),
              changeFeed = true, dvThreshold = 0.5) == 2L,
            "merge 2 must commit v2")
          // the claim IS merge-on-read: vectors must be live at head
          require(TxLog.liveAdds(s, tbl).exists(_.dv.isDefined),
            "the sparse merge must take the deletion-vector path")
        }
      s"$tmp/table"
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // JSONL — the training-data interchange format: schema-explicit
    // read-back of the engine's own export; line-delimited, so the scan
    // splits by line at any file size.
    "src_jsonl_roundtrip" -> ((s, dir) => {
      val path = export(s, dir, "jsonl")((df, p) => df.write.json(p))
      stats(s.read.schema(docSchema).json(path))
    }),

    // CSV with RFC 4180 quote-doubling on both sides of the trip, plus
    // the \N null sentinel (the MySQL/Postgres COPY convention): the
    // writer already distinguishes empty ("" quoted) from null (bare
    // empty field), but Spark's READER default nullValue="" collapses
    // both to null — the sentinel keeps "" ↔ "" and null ↔ null exact.
    // The export domain excludes a literal \N text (conflates to null;
    // spec-pinned), as every sentinel convention does.
    // Boundary whitespace survives too: Spark's CSV WRITER defaults
    // ignoreLeading/TrailingWhiteSpace to TRUE (silently trimming
    // ' padded ' to 'padded' in the file bytes — verified against the
    // written output), so both are pinned false; the reader's defaults
    // are already false.
    "src_csv_roundtrip" -> ((s, dir) => {
      val path = export(s, dir, "csv")((df, p) =>
        df.write.option("header", "true").option("escape", "\"")
          .option("nullValue", "\\N")
          .option("ignoreLeadingWhiteSpace", "false")
          .option("ignoreTrailingWhiteSpace", "false").csv(p))
      stats(s.read.schema(docSchema)
        .option("header", "true").option("escape", "\"")
        .option("nullValue", "\\N").csv(path))
    }),

    // ORC — the other columnar lake format (Hive-lineage shops run ORC
    // lakes next to parquet ones): same typed footer-statistics /
    // predicate-pushdown class as parquet, exercised through Spark's
    // native vectorized ORC source.
    "src_orc_roundtrip" -> ((s, dir) => {
      val path = export(s, dir, "orc")((df, p) => df.write.orc(p))
      stats(s.read.schema(docSchema).orc(path))
    }),

    // AVRO — the row-interchange container format next to JSONL/CSV/ORC
    // (Kafka-ecosystem shops ship change feeds and corpora as Avro): the
    // engine owns the container seam itself (sources/Avro — this
    // environment has avro-core but not the spark-avro module): write one
    // object-container file per partition via foreachPartition, read back
    // through binaryFile + partition-local DataFileReader decode, with the
    // container header VERIFIED against the declared read schema (a
    // drifted export fails loudly, never miscasts). Nulls ride
    // ["null", T] unions — no sentinel convention needed, unlike CSV.
    "src_avro_roundtrip" -> ((s, dir) => {
      val path = export(s, dir, "avro")((df, p) => graft.sources.Avro.write(df, p))
      stats(graft.sources.Avro.read(s, path, docSchema))
    }),

    // JDBC roundtrip against an EMBEDDED Derby database — the bootstrap
    // path a CDC consumer runs for real (sources/Jdbc.snapshot is step 1
    // of snapshot-then-stream): the corpus is INSERTed over JDBC once per
    // session, then read back through the RANGE-PARTITIONED parallel
    // snapshot (4 doc_id ranges → 4 concurrent connections — the shape
    // that makes a large-table snapshot scale out instead of
    // single-streaming one cursor). Identifiers ride UPPERCASE so the
    // reader's unquoted `WHERE DOC_ID >= ?` range predicates fold to the
    // created quoted columns under Derby's case rules; the read-back
    // renames to the lake schema before the checksum.
    "src_jdbc_roundtrip" -> ((s, dir) => {
      // the range bound is memoized WITH the url: recomputing max(doc_id)
      // per invocation would pay a corpus aggregate on every steady-state
      // rep next to an export that is built once
      val (url, maxId) = jdbcMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate.sessionTempDir("graft-src-jdbc") {
          td =>
            Tables(s, dir, "documents").repartition(4)
              .select(col("doc_id").as("DOC_ID"), col("text").as("TEXT"),
                col("lang").as("LANG"), col("source").as("SOURCE"),
                col("n_chars").as("N_CHARS"))
              .write
              .option("createTableColumnTypes",
                "DOC_ID BIGINT, TEXT VARCHAR(32000), LANG VARCHAR(16), " +
                  "SOURCE VARCHAR(32), N_CHARS BIGINT")
              .jdbc(s"jdbc:derby:$td/db;create=true", "DOCS",
                new java.util.Properties)
        }
        (s"jdbc:derby:$tmp/db",
          Tables(s, dir, "documents").agg(max("doc_id")).head().getLong(0))
      }
      stats(graft.sources.Jdbc.snapshot(s, url, "DOCS", "DOC_ID",
          0L, maxId + 1, 4)
        .select(col("DOC_ID").as("doc_id"), col("TEXT").as("text"),
          col("LANG").as("lang"), col("SOURCE").as("source"),
          col("N_CHARS").as("n_chars")))
    }),

    // BINARY-OBJECT lake surface (r9 continuation): the multimodal corpus
    // exported as ONE FILE PER OBJECT under Hive-style modality=<m>/ dirs
    // (how image/audio corpora actually land in object storage), read back
    // through Spark's binaryFile source — partition discovery reconstructs
    // `modality` from the directory key, the object id parses from the
    // file name, `content` carries the container bytes — and RE-DECODED by
    // the engine's own BMP/WAV/AVI parsers. The gate claim: export → file
    // objects → binaryFile scan → decode equals the direct in-engine
    // synthesis+decode path BYTE-FAITHFULLY (the per-item features hash
    // the pixel/sample payloads, so any corrupted byte flips them) — the
    // oracle is mm_metadata's full feature replay, deliberately verbatim.
    // Scale note: an object-per-item layout pays file LISTING at scan
    // start — fine for media objects (kB–MB each), wrong for row data
    // (that's what the parquet/ORC lakes are for).
    "src_binaryfile_roundtrip" -> ((s, dir) => {
      val blobRoot = exportMemo.get(s, s"binaryblobs:$dir") {
        val tmp = graft.streaming.StreamGate.sessionTempDir("graft-src-blob") {
          td =>
            val base = s"$td/blobs"
            for (m <- Seq("image", "audio", "video"))
              java.nio.file.Files.createDirectories(
                java.nio.file.Paths.get(s"$base/modality=$m"))
            graft.operators.Multimodal
              .asMedia(Tables(s, dir, "documents").repartition(4))
              .select("doc_id", "modality", "payload")
              .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
                it.foreach { r =>
                  java.nio.file.Files.write(java.nio.file.Paths.get(
                    s"$base/modality=${r.getString(1)}/${r.getLong(0)}.bin"),
                    r.getAs[Array[Byte]](2))
                }
              }
        }
        s"$tmp/blobs"
      }
      val back = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin").load(blobRoot)
        .select(
          regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long")
            .as("doc_id"),
          col("modality").cast("string").as("modality"),
          col("content").as("payload"))
      graft.operators.Multimodal.extractFeatures(s, back).orderBy("doc_id")
    }),

    // XML — the document-interchange format feeds/dumps still arrive in
    // (sitemaps, arXiv/PubMed dumps, Wikipedia exports): the engine's
    // export writes one <doc> element per record through Spark's native
    // StAX writer (entity-escaping <>&, so angle brackets and ]]> in
    // prose survive), and the read-back parses with an EXPLICIT schema +
    // rowTag. `ignoreSurroundingSpaces=false` pins boundary whitespace
    // (the reader's default TRIMS element text — same class of silent
    // mutation as the CSV writer's whitespace default, probed and pinned
    // in SourceQueriesSpec). Scale note: the default (non-multiLine) XML
    // scan is record-splittable on the rowTag like JSONL is on lines
    // (TextInputXmlDataSource), so a large dump parallelizes; multiLine
    // would read each file as one unsplittable stream — same trade the
    // CSV comment documents. Export domain excludes raw control chars
    // (<0x20 except \t\n\r — unrepresentable in XML 1.0 even escaped);
    // the lake corpus carries none (asserted by the spec's nasty-string
    // contract, not silently dropped here).
    "src_xml_roundtrip" -> ((s, dir) => {
      val path = export(s, dir, "xml")((df, p) =>
        df.write.option("rowTag", "doc").xml(p))
      stats(s.read.schema(docSchema).option("rowTag", "doc")
        .option("ignoreSurroundingSpaces", "false").xml(path))
    }),

    // Z-ORDERED lake roundtrip (r10) — the multi-column clustering write
    // promoted into the oracle gate (the q_bucketed_join posture: the
    // layout must be INVISIBLE to results; the skipping benefit itself is
    // ScaleOpsSpec's footer-envelope assertion): events rewrite through
    // the Morton-curve range-partitioned sorted write clustered on
    // (user_id, ts_us), and the gate reads the clustered copy back under
    // exactly the two-dimensional predicate class the layout exists for
    // (a user range AND a leading time window) — per-user exact
    // accounting must equal the oracle's filter over the ORIGINAL lake.
    "src_zorder_roundtrip" -> ((s, dir) => {
      val path = zorderMemo.get(s, dir) {
        val ev = Tables(s, dir, "events")
        val e = ev.select(col("event_id"), col("user_id"),
          Tables.tsMicros(ev).as("ts_us"), col("value"))
        val tmp = graft.streaming.StreamGate.sessionTempDir("graft-src-zorder") {
          td => graft.sources.ZOrder.writeZOrdered(
            e, Seq("user_id", "ts_us"), s"$td/out", 8)
        }
        s"$tmp/out"
      }
      val back = s.read
        .schema("event_id LONG, user_id LONG, ts_us LONG, value DOUBLE")
        .parquet(path)
      // bounds derive from the data itself (a fixed user range is empty
      // at the smallest lake — caught by the smoke gate): first third of
      // the user-id space AND the first third of the time span. The
      // 1-row bounds aggregate COLLECTS to the driver (the documented
      // bounded pull) so the filters are PLAN LITERALS — a broadcast
      // crossJoin would make both dimensions join predicates that never
      // reach the parquet footers, defeating the pruning this layout
      // exists for
      val b = back.agg(min("ts_us"), max("ts_us"), max("user_id")).head()
      val (t0, t1, mu) = (b.getLong(0), b.getLong(1), b.getLong(2))
      back
        .filter(col("user_id") < lit((mu + 1) / 3) &&
          col("ts_us") < lit(t0 + (t1 - t0) / 3))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 10000).cast("long")).as("v4"),
          sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
        .orderBy("user_id")
    }),

    // Hive-layout partitioned lake: source becomes a directory key the
    // reader reconstructs; the 3-source filter prunes 17 of 20 partition
    // directories BEFORE any file is opened (partitionFilters, spec-pinned)
    // — the access pattern that makes per-source passes O(source), not
    // O(corpus), on a 100 TB lake.
    "src_partitioned_roundtrip" -> ((s, dir) => {
      val path = export(s, dir, "partlake")((df, p) =>
        df.write.partitionBy("source").parquet(p))
      stats(s.read.schema(docSchema).parquet(path)
        .filter(col("source").isin(prunedSources: _*)))
    }),

    // ACID TABLE FORMAT (r11) — the log-structured table (sources.TxLog:
    // append-only numbered JSON commits of file-level add/remove actions,
    // atomic create-exclusive publish, optimistic concurrency) gated
    // through TIME TRAVEL: three commits build the table (v0 adds a third
    // of the corpus, v1 appends another, v2 compacts v0's files away and
    // adds the last third), then every version is read back BY LOG REPLAY
    // and checksummed — v0 must still read exactly its original slice
    // after v2 removed its files from the head. The oracle replays the
    // slice membership against the original parquet: a passing hash
    // proves commit visibility, replay order, and remove semantics all at
    // once. The two-writer race (exactly one commit wins) is spec'd —
    // concurrency is not SQL-expressible.
    "src_txlog_timetravel" -> ((s, dir) => {
      val table = txlogMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-src-txlog") { td =>
            val tbl = s"$td/table"
            val docs = Tables(s, dir, "documents")
            def slice(k: Int) =
              docs.filter(pmod(col("doc_id"), lit(3)) === k)
            slice(0).write.parquet(s"$tbl/s0")
            slice(1).write.parquet(s"$tbl/s1")
            slice(2).write.parquet(s"$tbl/s2")
            import graft.sources.TxLog
            require(TxLog.tryCommit(s, tbl, 0L, Seq("s0"), Nil),
              "v0 conflicted on a fresh table")
            require(TxLog.tryCommit(s, tbl, 1L, Seq("s1"), Nil),
              "v1 conflicted under a single writer")
            require(TxLog.tryCommit(s, tbl, 2L, Seq("s2"), Seq("s0")),
              "v2 conflicted under a single writer")
          }
        s"$tmp/table"
      }
      (0L to 2L).map { v =>
        graft.sources.TxLog.read(s, table, docSchema, Some(v))
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(rowCheck(record)).as("checksum"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_chars"),
            col("checksum"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // EXACTLY-ONCE STREAMING SINK (r11) — the TxLog table as a
    // TRANSACTIONAL stream sink (the Delta-sink idea, completing
    // q_exactly_once_stream's source-side dedup with the sink-side
    // transaction): foreachBatch writes each micro-batch to an immutable
    // data dir and commits it with version = batchId; a
    // checkpoint-recovery REPLAY of a batch sees its version already
    // committed and skips (with the create-exclusive CAS as the loud
    // backstop against a genuinely concurrent second writer), so
    // at-least-once delivery composes into exactly-once table contents —
    // the full-restart replay is spec'd in TxLogSpec with a deleted
    // checkpoint. The gate claim: the committed table equals the feed
    // exactly (counts, exact 1e4-scaled sums, modular id checksum per
    // event type), replayed by the oracle over the ORIGINAL events.
    "src_txlog_stream_sink" -> ((s, dir) => {
      val table = txlogSinkTable(s, dir)
      graft.sources.TxLog.read(s, table,
          StructType.fromDDL(sinkSchemaDdl), None)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum("v4").cast("double") / 10000.0).as("sum_value"),
          sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
        .orderBy("event_type")
    }),

    // DATA SKIPPING (r12 — VERDICT item 1): the TxLog commit actions now
    // carry per-file column min/max envelopes (collected write-side by
    // one bounded aggregate over each just-written dir — footer-cheap on
    // parquet), and a read given the query's BETWEEN bounds PRUNES files
    // whose envelope is provably disjoint before the scan is planned —
    // the Delta/Iceberg stats-skipping idea, the biggest read win a
    // log-structured table offers at 100 TB. The table: four ts-range
    // data dirs under one commit, each add recording its ts_us envelope.
    // The gate query reads under a mid-span window that the envelopes
    // prove touches only TWO of the four dirs (the 2-of-4 prune is
    // spec-asserted via liveAdds/pruneAdds; pruned ≡ unpruned is
    // spec-asserted too), and the oracle replays the SAME window over
    // the ORIGINAL events — a passing hash proves pruning dropped only
    // files the filter rejects entirely. Bounds derive from the data
    // (plan literals via the documented 1-row bounds pull — filters
    // stay pushable; fixed ranges would go vacuous at the smallest
    // lake).
    "src_txlog_skipping" -> ((s, dir) => {
      import graft.sources.TxLog
      val (table, w1, w2) = skipTableAndWindow(s, dir)
      TxLog.read(s, table, skipDdl,
          None, skip = Seq(TxLog.SkipRange("ts_us", w1, w2)))
        .filter(col("ts_us").between(w1, w2))
        .transform(skipAgg)
    }),

    // DISTRIBUTED MANIFEST (r13 — the scale half of "checkpoint at
    // scale", VERDICT item 4): TxLog.writeManifest materializes the
    // head's live add-set as a PARQUET table (one row per file: name,
    // partition values, stats envelopes — the Iceberg-manifest idea),
    // and readViaManifest evaluates the skip predicates as a
    // DISTRIBUTED scan of that table, collecting ONLY the matching file
    // names: the driver holds O(files surviving pruning), never O(live
    // files) — what a selective read on a many-million-file table
    // needs (the JSON checkpoint bounds the replay walk; the manifest
    // bounds the PLAN). Stale manifests are refused loudly
    // (version-pinned to the head — spec'd, with prune-decision
    // equivalence to the driver path and the junk-stats conservative
    // keep). Gate: the same mid-span window as src_txlog_skipping read
    // THROUGH the manifest path, hashed against the same oracle — the
    // planning path must be invisible to results.
    "src_txlog_manifest" -> ((s, dir) => {
      import graft.sources.TxLog
      val (table, w1, w2) = skipTableAndWindow(s, dir)
      txlogManifestMemo.get(s, dir) {
        TxLog.writeManifest(s, table).toString
      }
      TxLog.readViaManifest(s, table, skipDdl,
          skip = Seq(TxLog.SkipRange("ts_us", w1, w2)))
        .filter(col("ts_us").between(w1, w2))
        .transform(skipAgg)
    }),

    // INCREMENTAL MANIFEST (r14 — VERDICT item 3): manifest maintenance
    // derives `_manifest/v<head>` from the PREVIOUS manifest + the
    // commit suffix DISTRIBUTIVELY — the driver holds O(suffix
    // actions), never the live file list (spec'd in
    // TxLogManifestIncSpec under a maxLiveAdds bound that makes the
    // full walk throw on a 3000-file table, with full-rebuild
    // equivalence across interleaved merge/DV/OPTIMIZE suffixes and
    // loud remove-of-unknown; the artifact also carries the
    // schema + producer-watermark CHECKPOINT rows, DataFrame-queryable
    // via manifestDf — the multi-part parquet checkpoint). Gate: a
    // TWO-commit quartile table — q0+q1 at v0 (full manifest), q2+q3
    // at v1 (incremental update) — read through the incrementally-
    // maintained manifest under the same mid-span window, hashed
    // against the window replay over the ORIGINAL events: the
    // maintenance path must be invisible to results.
    "src_txlog_manifest_inc" -> ((s, dir) => {
      import graft.sources.TxLog
      val e = Tables(s, dir, "events")
      val ev = e.select(col("event_id"), col("event_type"),
        Tables.tsMicros(e).as("ts_us"),
        round(col("value") * 10000).cast("long").as("v4"))
      val b = ev.agg(min("ts_us"), max("ts_us")).head()
      val (lo, hi) = (b.getLong(0), b.getLong(1))
      val span = (hi - lo) / 4 + 1
      val table = txlogMincMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-minc") { td =>
            val tbl = s"$td/table"
            def addFor(i: Int) = {
              val nm = s"q$i"
              ev.filter(col("ts_us") >= lo + i * span &&
                  col("ts_us") < lo + (i + 1) * span)
                .write.parquet(s"$tbl/$nm")
              TxLog.AddFile(nm,
                TxLog.statsOf(s.read.parquet(s"$tbl/$nm"), Seq("ts_us")))
            }
            require(TxLog.tryCommitActions(s, tbl, 0L,
              Seq(addFor(0), addFor(1)), Nil, cdf = Some("@adds")),
              "v0 conflicted on a fresh table")
            require(TxLog.writeManifest(s, tbl) == 0L,
              "the v0 manifest must be the full build")
            require(TxLog.tryCommitActions(s, tbl, 1L,
              Seq(addFor(2), addFor(3)), Nil, cdf = Some("@adds")),
              "v1 conflicted under a single writer")
            require(TxLog.writeManifestIncremental(s, tbl) == 1L,
              "the v1 manifest must be the incremental update")
          }
        s"$tmp/table"
      }
      val (w1, w2) = (lo + span, lo + 2 * span + span / 2)
      TxLog.readViaManifest(s, table, skipDdl,
          skip = Seq(TxLog.SkipRange("ts_us", w1, w2)))
        .filter(col("ts_us").between(w1, w2))
        .transform(skipAgg)
    }),

    // STREAMING SOURCE over the table format (r13 — VERDICT item 1, the
    // downstream consumer leg): TxLogStreamSource follows a TxLog table
    // as a micro-batch stream with OFFSETS = COMMIT VERSIONS — each
    // trigger delivers exactly the rows the next commits added
    // (readChanges under the hood: loud on in-window rewrites,
    // checkpoint-snapshot bootstrap on truncated logs), paced by
    // maxVersionsPerTrigger. The gate runs the full composed loop:
    // the commitBatch-built sink table (4 ts-quartile commits) is
    // FOLLOWED one commit per trigger into a second TxLog table via the
    // exactly-once sink, and the downstream table must equal the feed —
    // the oracle replays the ORIGINAL events, so a dropped, duplicated,
    // or re-ordered window anywhere in the source→sink loop flips the
    // hash. Restart-mid-stream and truncated-upstream bootstrap are
    // spec'd (Round13OpsSpec — not SQL-expressible).
    "src_txlog_stream_source" -> ((s, dir) => {
      val up = txlogSinkTable(s, dir)
      val down = txlogFollowMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-follow") { td =>
            val dtbl = s"$td/table"
            // the short name and the provider-class route (spec'd in
            // Round13OpsSpec) build the same TxLogStreamSource
            val q = s.readStream
              .format("txlog")
              .schema(StructType.fromDDL(sinkSchemaDdl))
              .option("path", up)
              .option("maxVersionsPerTrigger", "1").load()
              .writeStream.option("checkpointLocation", s"$td/ckpt")
              .foreachBatch { (b: DataFrame, id: Long) =>
                graft.sources.TxLog.commitBatch(b, dtbl, id, appId = "follow")
              }
              .start()
            try q.processAllAvailable() finally q.stop()
          }
        s"$tmp/table"
      }
      graft.sources.TxLog.read(s, down, StructType.fromDDL(sinkSchemaDdl))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum("v4").cast("double") / 10000.0).as("sum_value"),
          sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
        .orderBy("event_type")
    }),

    // STREAMING BOTH DIRECTIONS through the one TxLog connector: a
    // THIRD hop of the same feed — the stream_source follow table is
    // itself followed into another TxLog table with
    // readStream.format("txlog") → writeStream.format("txlog"), NO
    // foreachBatch glue anywhere: the V1 source plans each commit
    // window as a parquet scan and the sink commits every micro-batch
    // through TxLog.commitBatch under producer-transaction idempotence
    // (restart replay, interleaved-commit CAS and the first-commit
    // schema record spec'd in TxLogV2SinkSpec). The key keeps its r15
    // name. The oracle is the stream_source oracle VERBATIM — after
    // three hops (foreachBatch sink → follow → connector-only follow)
    // the table must STILL equal the original events: a row dropped or
    // duplicated anywhere flips the hash.
    "src_txlog_stream_v2" -> ((s, dir) => {
      // depends on the stream_source follow table: run that gate's
      // builder first (memoized — at most one streaming run per lake)
      queries("src_txlog_stream_source")(s, dir).collect()
      val up = txlogFollowMemo.get(s, dir) {
        throw new IllegalStateException("follow table must be memoized")
      }
      val down = txlogV2FollowMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-v2follow") { td =>
            val dtbl = s"$td/table"
            val q = s.readStream.format("txlog")
              .schema(StructType.fromDDL(sinkSchemaDdl))
              .option("path", up)
              .option("maxVersionsPerTrigger", "2").load()
              .writeStream.format("txlog")
              .option("path", dtbl)
              .option("statsCols", "ts_us")
              .option("checkpointLocation", s"$td/ckpt")
              .start()
            try q.processAllAvailable() finally q.stop()
          }
        s"$tmp/table"
      }
      graft.sources.TxLog.read(s, down, StructType.fromDDL(sinkSchemaDdl))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          (sum("v4").cast("double") / 10000.0).as("sum_value"),
          sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
        .orderBy("event_type")
    }),

    // TIMESTAMP TIME TRAVEL (r15): the same three-snapshot table as
    // src_txlog_timetravel, read back by INSTANT instead of version —
    // the gate pins each commit's log-file mtime to a fixed instant
    // (day 0/1/2 of 2020, the commit's durable timestamp; deterministic
    // across runs) and reads `timestampAsOf` NOON of each day: noon of
    // day v resolves to exactly version v (versionAtTimestamp = the
    // greatest commit at-or-before the instant), so the three
    // timestamp-pinned reads must hash-equal the three version-pinned
    // snapshots the oracle replays. Loud boundaries (before-birth
    // instant, both pins at once) are spec'd in TxLogV2SinkSpec.
    "src_txlog_timetravel_ts" -> ((s, dir) => {
      // the same memoized table src_txlog_timetravel builds
      queries("src_txlog_timetravel")(s, dir).collect()
      val table = txlogMemo.get(s, dir) {
        throw new IllegalStateException("doc table must be memoized")
      }
      val base = 1577836800000L // 2020-01-01T00:00:00Z
      val day = 86400000L
      val f = new org.apache.hadoop.fs.Path(table).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      (0 to 2).foreach(v => f.setTimes(
        new org.apache.hadoop.fs.Path(f"$table/_log/$v%010d.json"),
        base + v * day, -1))
      (0L to 2L).map { v =>
        val at = base + v * day + day / 2 // noon of day v → version v
        s.read.format("txlog").schema(docSchema)
          .option("timestampAsOf", at.toString)
          .load(table)
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(rowCheck(record)).as("checksum"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_chars"),
            col("checksum"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // RESTORE (r15 — the Delta RESTORE idea): time travel made DURABLE
    // — a restore commit's live set equals the older snapshot, history
    // preserved (nothing rewritten; the rolled-back version still
    // time-travels), appends continue on the restored head. The gate
    // builds its own three-slice table (v0/v1/v2 = doc_id mod-3 slices,
    // v2 also compacts v0's dir away — so the restore must both RE-ADD
    // v1's removed dir and REMOVE v2's), restores to v1, appends slice
    // 2 again; rows: the restored+appended HEAD (≡ the full corpus —
    // proving the re-added bytes read back exactly), the PRESERVED v2
    // snapshot, and each row carries its history-classified operation
    // (RESTORE from the commit's own recorded op tag; APPEND by shape).
    // Loud boundaries (restore past vacuum, past head) + stats-envelope
    // survival are spec'd in TxLogRestoreSpec.
    "src_txlog_restore" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = txlogRestoreMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-restore") { td =>
            val tbl = s"$td/table"
            val docs = Tables(s, dir, "documents")
            def slice(k: Int) =
              docs.filter(pmod(col("doc_id"), lit(3)) === k)
            slice(0).write.parquet(s"$tbl/s0")
            slice(1).write.parquet(s"$tbl/s1")
            slice(2).write.parquet(s"$tbl/s2")
            require(TxLog.tryCommit(s, tbl, 0L, Seq("s0"), Nil),
              "v0 conflicted on a fresh table")
            require(TxLog.tryCommit(s, tbl, 1L, Seq("s1"), Nil),
              "v1 conflicted under a single writer")
            // v2 rewrites s0 away (compaction-shaped) and adds s2: the
            // restore to v1 must re-add s0 AND remove s2
            require(TxLog.tryCommit(s, tbl, 2L, Seq("s2"), Seq("s0")),
              "v2 conflicted under a single writer")
            require(TxLog.restore(s, tbl, 1L) == 3L,
              "the restore must commit v3")
            // life goes on: append slice 2 back on the restored head
            slice(2).write.parquet(s"$tbl/s2b")
            require(TxLog.tryCommit(s, tbl, 4L, Seq("s2b"), Nil),
              "v4 conflicted under a single writer")
          }
        s"$tmp/table"
      }
      val ops = TxLog.history(s, table)
        .map(h => h.version -> h.operation).toMap
      def snap(stage: String, asOf: Option[Long], atV: Long) =
        TxLog.read(s, table, docSchema, asOf)
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum(rowCheck(record)).as("checksum"))
          .select(lit(stage).as("stage"), lit(ops(atV)).as("operation"),
            col("n_docs"), col("sum_chars"), col("checksum"))
      snap("head", None, 4L)
        .unionAll(snap("v2_preserved", Some(2L), 2L))
        .orderBy("stage")
    }),

    // DESCRIBE HISTORY (r15 — the Delta idea): one row per surviving
    // commit, newest first, operation CLASSIFIED from the commit's own
    // action shape (rewrite grammars name their verb; restore prefers
    // the commit's recorded op tag), n_adds/n_removes/rows_added from
    // the parsed actions — rows_added only when EVERY add recorded
    // rows. The gate's table walks five verbs (CREATE, append verb,
    // commitBatch, a delete, restore) and the oracle hand-computes the
    // expected five rows from the ORIGINAL documents' slice counts —
    // an engine-side misclassification, a miscounted action, or a
    // dropped/duplicated history row flips the hash.
    "src_txlog_history" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = txlogHistoryMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-history") { td =>
            val tbl = s"$td/table"
            val docs = Tables(s, dir, "documents")
            def slice(k: Int) =
              docs.filter(pmod(col("doc_id"), lit(3)) === k)
            require(TxLog.tryCommitActions(s, tbl, 0L, Nil, Nil,
              schemaDdl = Some(docSchema.toDDL), cdf = Some("@adds")),
              "v0 conflicted on a fresh table")
            require(TxLog.append(slice(0), tbl, "a") == 1L,
              "the append verb must publish v1")
            TxLog.commitBatch(slice(1), tbl, 0L) // v2, txn-recorded
            require(TxLog.tryCommitActions(s, tbl, 3L, Nil, Seq("a"),
              cdf = None), "v3 conflicted under a single writer")
            require(TxLog.restore(s, tbl, 2L) == 4L,
              "the restore must commit v4")
          }
        s"$tmp/table"
      }
      val sq = s; import sq.implicits._
      TxLog.history(s, table)
        .map(h => (h.version, h.operation, h.nAdds, h.nRemoves,
          h.rowsAdded.getOrElse(0L)))
        .toDF("version", "operation", "n_adds", "n_removes", "rows_added")
        .orderBy(col("version").desc)
    }),

    // TYPED DATA SKIPPING + PARTITION VALUES (r13 — VERDICT items 2/6):
    // the r12 skipping surface was Long-only; adds now carry STRING
    // envelopes and Iceberg-style PARTITION values, and pruning goes
    // typed (lexicographic strings, decimals, ISO dates) with partition
    // filters applied BEFORE any stats parse. The table: one dir per
    // event_type, each add recording its event_type envelope (stats)
    // AND its partition value. The gate reads the first two types
    // (bounds derived from the data — plan literals) under BOTH a
    // partition filter and a string envelope bound, so only those
    // types' dirs are opened (fewer-dirs spec'd in Round13OpsSpec), and
    // the oracle replays the same membership over the ORIGINAL events —
    // pruning may only ever drop files the filter rejects entirely.
    "src_txlog_skipping_typed" -> ((s, dir) => {
      import graft.sources.TxLog
      val e = Tables(s, dir, "events")
      val ev = e.select(col("event_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v4"))
      val table = txlogTypedMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-typed") { td =>
            val tbl = s"$td/table"
            // one dir per event type — bounded O(|types|) driver pull
            val types = ev.select("event_type").distinct()
              .orderBy("event_type").collect().map(_.getString(0)).toSeq
            val adds = types.zipWithIndex.map { case (t, i) =>
              val nm = s"t$i"
              ev.filter(col("event_type") === t).write.parquet(s"$tbl/$nm")
              TxLog.AddFile(nm,
                TxLog.statsOf(s.read.parquet(s"$tbl/$nm"), Seq("event_type")),
                part = Map("event_type" -> t))
            }
            require(TxLog.tryCommitActions(s, tbl, 0L, adds, Nil),
              "v0 conflicted on a fresh table")
          }
        s"$tmp/table"
      }
      val two = ev.select("event_type").distinct().orderBy("event_type")
        .limit(2).collect().map(_.getString(0)).toSeq
      val (t0, t1) = (two.head, two.last)
      TxLog.read(s, table,
          StructType.fromDDL(
            "event_id BIGINT, event_type STRING, v4 BIGINT"),
          None, skip = Seq(
            TxLog.SkipPartition("event_type", Set(t0, t1)),
            TxLog.SkipRangeString("event_type", t0, t1)))
        .filter(col("event_type").isin(t0, t1))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("v4").as("sum_v4"),
          sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
        .orderBy("event_type")
    }),

    // GENERIC MERGE INTO (r13 — VERDICT item 3): the Delta MERGE verb on
    // the TxLog format — matched-update / matched-delete /
    // conditional not-matched-insert, arbitrary conditions over both
    // sides (source columns ride as __src_*), built on the
    // bucket-granular copy-on-write machinery (mrg<v>/__bucket=<b>
    // dirs; the bucket count rides the r13 partition metadata, so later
    // merges recover the layout from the log and rewrite ONLY touched
    // buckets — spec'd dir-level in Round13OpsSpec, with the ambiguity
    // and key-assignment loudness; concurrency is the TxLog CAS). Two
    // merges run against the documents snapshot: (1) keys ≡0 mod 3 —
    // DELETE where the target row is German, else n_chars += 1
    // (bucketizing rewrite); (2) keys ≡0 mod 7 double n_chars, and a
    // shifted key range inserts WHERE the source row isn't German
    // (not-matched-insert condition). The oracle replays both merges
    // relationally over the ORIGINAL parquet — a passing hash proves
    // clause order, null-safe conditions, delete/update/insert
    // semantics, and the carry-forward of untouched buckets all at
    // once.
    "src_txlog_merge" -> ((s, dir) => {
      import graft.sources.TxLog
      TxLog.read(s, mergedDocTable(s, dir), mergeSchema)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("source")
    }),

    // MERGE CHANGE DATA FEED (r13 — the Delta CDF idea): a MERGING
    // table cannot serve readChanges (its rewrites remove files —
    // layout, not data), so the merge records its per-ROW change set
    // when asked (`changeFeed = true`): deletes carry the target
    // PREIMAGE, updates carry BOTH images (touched-by-the-update-clause
    // rule), inserts carry the new row, written as `_changes/v<version>`
    // before the commit CAS (an orphaned dir from a lost race is
    // overwritten by the retry and refused by the reader — loud, like
    // every missing-feed read: silence must not read as no-changes,
    // spec'd in Round13OpsSpec with a planted merge). One extra pass
    // over the touched-bucket join, only when requested. Gate: BOTH
    // merges' feeds (v1: delete+update images; v2: update images +
    // shifted inserts) aggregated per (version, change_type) and hashed
    // against the full relational replay of each merge's change classes
    // over the original parquet.
    "src_txlog_cdf" -> ((s, dir) => {
      import graft.sources.TxLogMerge
      val table = mergedDocTable(s, dir)
      Seq(1L, 2L).map { v =>
        TxLogMerge.readChangeFeed(s, table, mergeSchema, v)
          .select(lit(v).as("version"), col("_change_type"),
            col("doc_id"), col("lang"), col("n_chars"))
      }.reduce(_ unionAll _)
        .groupBy("version", "_change_type")
        .agg(count(lit(1)).as("n_rows"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("version", "_change_type")
    }),


    // WRITE–AUDIT–PUBLISH (r13 — the Iceberg WAP idea on the table
    // format): a batch lands as an UNPUBLISHED staged dir (invisible by
    // construction — the log is the source of truth), is AUDITED by one
    // bounded aggregate over the staged READ-BACK (what actually landed,
    // not the input plan) against named per-row expectations, and
    // publishes atomically only when every expectation holds — a failing
    // audit deletes the stage, leaves the table byte-identical, and
    // throws with per-rule violation counts (spec'd, with the CAS-retry
    // publish under a racing committer). The build: the even half
    // publishes, a CORRUPTED odd half (negated n_chars on ≡0 mod 3) is
    // REFUSED, then the clean odd half publishes. The gate hashes the
    // final table per source against ALL documents — if the refused
    // stage leaked a single row (or blocked the clean retry), the
    // count/checksum flips.
    "src_txlog_wap" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = txlogWapMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-wap") { td =>
            val tbl = s"$td/table"
            val docs = Tables(s, dir, "documents")
              .select("doc_id", "lang", "source", "n_chars")
            val rules = Seq(
              "n_chars_nonneg" -> (col("n_chars") >= 0L),
              "doc_id_not_null" -> col("doc_id").isNotNull)
            require(TxLog.writeAuditPublish(
                docs.filter(pmod(col("doc_id"), lit(2)) === 0),
                tbl, "even", rules) == 0L, "clean even half must publish")
            val corrupt = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
              .withColumn("n_chars",
                when(pmod(col("doc_id"), lit(3)) === 0,
                  -col("n_chars") - 1).otherwise(col("n_chars")))
            val refused =
              try { TxLog.writeAuditPublish(corrupt, tbl, "odd", rules); false }
              catch { case e: IllegalStateException =>
                e.getMessage.contains("audit FAILED") }
            require(refused, "the corrupted stage must be refused")
            require(TxLog.currentVersion(s, tbl).contains(0L),
              "a refused publish must not advance the head")
            require(TxLog.writeAuditPublish(
                docs.filter(pmod(col("doc_id"), lit(2)) === 1),
                tbl, "odd", rules) == 1L, "clean odd half must publish")
          }
        s"$tmp/table"
      }
      TxLog.read(s, table, mergeSchema)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("source")
    }),

    // SQL MERGE INTO (r14 — the front door's last leg): a resolved
    // MergeIntoTable over a TxLog catalog table rewrites onto the GATED
    // Scala merge verb through a resolution rule (GraftExtensions →
    // TxLogMergeSqlRule — the Delta-style interception; sources/
    // TxLogMergeSql.scala), translating ON-clause equi-keys, matched
    // DELETE/UPDATE in LISTED order (an update listed first shields the
    // delete — compiled into the conditions), conditional identity
    // INSERT, and the session-conf knobs (nBuckets / dvThreshold /
    // changeFeed); unsupported shapes are loud with the Scala-verb
    // remedy (spec'd in TxLogMergeSqlSpec, incl. a DV-path SQL merge).
    // Gate: the SAME two merges as src_txlog_merge issued as pure SQL
    // MERGE INTO statements, hashed against src_txlog_merge's oracle
    // VERBATIM — the SQL route must be indistinguishable from the
    // Scala verb it compiles onto.
    "src_txlog_merge_sql" -> ((s, dir) => {
      import graft.sources.TxLog
      TxLog.read(s, sqlMergedDocTable(s, dir), mergeSchema)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("source")
    }),

    // COLUMN MAPPING (r15 — VERDICT item 4, the rename/drop evolution):
    // logical names resolve to stable PHYSICAL identities through the
    // log's colmap record — a RENAME is O(1) metadata (old files read
    // correctly under the new name, zero rewrite), a DROP hides bytes
    // without rewrite, a re-ADD of a dropped name mints a FRESH
    // physical identity (old bytes can never leak into the reborn
    // column), appends stage physical names so the file history stays
    // coherent, and every snapshot reads under its own map (the plain
    // append and readWithLogSchema resolve it). Spec'd in
    // TxLogColumnMapSpec (incl. map-aware OPTIMIZE shedding dropped
    // bytes, checkpointed maps, logical-name skip bounds, loud
    // boundaries). Gate: rename → mapped append → drop → re-add →
    // mapped append over documents; the HEAD (reborn lang: null on
    // pre-rebirth rows, real on the last append), the post-rename v2,
    // and the post-drop v3 snapshots each hashed against the
    // relational replay over the ORIGINAL parquet.
    "src_txlog_column_map" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = cmapDocTable(s, dir)
      def aggOf(leg: String, df: org.apache.spark.sql.DataFrame,
          langCol: Column) =
        df.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("chars").as("sum_chars"),
            sum(rowCheck(concat_ws("|", f(col("doc_id")), f(langCol),
              f(col("chars"))))).as("checksum"))
          .select(lit(leg).as("leg"), col("source"), col("n_docs"),
            col("sum_chars"), col("checksum"))
      aggOf("head", TxLog.readWithLogSchema(s, table), col("lang"))
        .unionAll(aggOf("v2", TxLog.readWithLogSchema(s, table, Some(2L)),
          col("lang")))
        .unionAll(aggOf("v3", TxLog.readWithLogSchema(s, table, Some(3L)),
          lit(null).cast("string")))
        .orderBy("leg", "source")
    }),

    // SQL ALTER TABLE (r15): RENAME / DROP / ADD COLUMN through the
    // catalog compile onto the column-mapping verbs — rename is O(1)
    // metadata over stable physical ids (old files read correctly
    // under the new name, zero rewrite), drop hides bytes, re-adding
    // a dropped name mints a FRESH physical identity (old bytes can
    // never leak into the reborn column); INSERT aligns by position
    // (the SQL contract) then writes PHYSICAL names through the mapped
    // append, and SELECT / VERSION AS OF route through the mapped read
    // under each snapshot's OWN map. The gate's whole evolution is pure
    // SQL: create → insert corpus → rename n_chars→chars → insert
    // mod-13 echo → drop lang → re-add lang → insert mod-17 echo with
    // real langs; legs = the head (reborn lang NULL for every
    // pre-re-add row, real for the last insert) and VERSION AS OF 3
    // (original langs, renamed chars) vs the relational replay.
    "src_txlog_alter_sql" -> ((s, dir) => {
      val tmp = txlogAlterMemo.get(s, dir) {
        graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-alter") { td =>
            val cat = s"graftalter_${math.abs(td.hashCode).toString}"
            s.conf.set(s"spark.sql.catalog.$cat",
              classOf[graft.sources.TxLogCatalog].getName)
            s.conf.set(s"spark.sql.catalog.$cat.root", td)
            val docs = Tables(s, dir, "documents")
            val off = docs.agg(max("doc_id")).head().getLong(0) + 1L
            docs.select("doc_id", "lang", "source", "n_chars")
              .createOrReplaceTempView("graft_alter_docs")
            s.sql(s"CREATE TABLE $cat.t (doc_id BIGINT, lang STRING, " +
              "source STRING, n_chars BIGINT) USING txlog")
            s.sql(s"INSERT INTO $cat.t SELECT doc_id, lang, source, " +
              "n_chars FROM graft_alter_docs")
            s.sql(s"ALTER TABLE $cat.t RENAME COLUMN n_chars TO chars")
            s.sql(s"INSERT INTO $cat.t SELECT doc_id + $off, lang, " +
              "source, n_chars FROM graft_alter_docs WHERE doc_id % 13 = 0")
            s.sql(s"ALTER TABLE $cat.t DROP COLUMN lang")
            s.sql(s"ALTER TABLE $cat.t ADD COLUMN lang STRING")
            s.sql(s"INSERT INTO $cat.t SELECT doc_id + ${2 * off}, " +
              "source, n_chars, lang FROM graft_alter_docs " +
              "WHERE doc_id % 17 = 0")
          }
      }
      val cat = s"graftalter_${math.abs(tmp.hashCode).toString}"
      def aggOf(leg: String, df: DataFrame) =
        df.groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("chars").as("sum_chars"),
            sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
              f(col("chars"))))).as("checksum"))
          .select(lit(leg).as("leg"), col("source"), col("n_docs"),
            col("sum_chars"), col("checksum"))
      aggOf("head", s.sql(s"SELECT * FROM $cat.t"))
        .unionAll(aggOf("v3",
          s.sql(s"SELECT * FROM $cat.t VERSION AS OF 3")))
        .orderBy("leg", "source")
    }),

    // SQL STORED PROCEDURES (r15 — Spark 4's DSv2 CALL surface, the
    // Iceberg `CALL catalog.system.…` convention): every maintenance
    // verb is SQL-callable through the catalog — optimize, vacuum,
    // vacuum_older_than (dry-run report), restore, checkpoint, history
    // — each returning its result rows through a driver-local scan.
    // The gate's WHOLE walk is pure SQL: create → two inserts → CALL
    // optimize (returns the committed version) → CALL restore back to
    // v2 (re-adds the two insert dirs, removes the packed one) → CALL
    // history, whose classified rows the oracle hand-computes from the
    // documents' slice counts — a wrong version, misclassified verb,
    // miscounted action, or unrecorded row count flips the hash.
    "src_txlog_proc_sql" -> ((s, dir) => {
      val tmp = txlogProcMemo.get(s, dir) {
        graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-proc") { td =>
            val cat = s"graftprocq_${math.abs(td.hashCode).toString}"
            s.conf.set(s"spark.sql.catalog.$cat",
              classOf[graft.sources.TxLogCatalog].getName)
            s.conf.set(s"spark.sql.catalog.$cat.root", td)
            val docs = Tables(s, dir, "documents")
              .select("doc_id", "lang", "source", "n_chars")
            docs.filter(pmod(col("doc_id"), lit(3)) === 0)
              .createOrReplaceTempView("graft_proc_s0")
            docs.filter(pmod(col("doc_id"), lit(3)) === 1)
              .createOrReplaceTempView("graft_proc_s1")
            s.sql(s"CREATE TABLE $cat.t (doc_id BIGINT, lang STRING, " +
              "source STRING, n_chars BIGINT) USING txlog")
            s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_proc_s0")
            s.sql(s"INSERT INTO $cat.t SELECT * FROM graft_proc_s1")
            require(s.sql(s"CALL $cat.system.optimize('t')")
              .head().getLong(0) == 3L, "optimize must commit v3")
            require(s.sql(s"CALL $cat.system.restore('t', 2)")
              .head().getLong(1) == 4L, "restore must commit v4")
          }
      }
      val cat = s"graftprocq_${math.abs(tmp.hashCode).toString}"
      s.sql(s"CALL $cat.system.history('t')")
        .select(col("version"), col("operation"), col("n_adds"),
          col("n_removes"),
          coalesce(col("rows_added"), lit(-1L)).as("rows_added"))
        .orderBy(col("version").desc)
    }),

    // SQL UPDATE / DELETE (r15 — VERDICT item 1, the front door's DML
    // statements): resolved DeleteFromTable / UpdateTable plans over a
    // TxLog target are intercepted at resolution and compiled onto the
    // gated TxLogMerge verb — a DELETE is a merge of the filtered
    // target keys with a delete clause, an UPDATE the same with the SET
    // list — so SQL DML and the Scala verb cannot drift, and both
    // inherit deletion vectors + the change feed via the knob confs
    // (asserted in the builder: the sparse UPDATE must vector, must
    // record a feed). Row identity comes from the bucket layout's
    // __keys record (written by every merge since r15; the first
    // statement takes graft.txlog.dml.keys). Gate: DELETE then UPDATE
    // issued as pure SQL, head AND the v1 snapshot hashed against the
    // relational replay over the ORIGINAL parquet.
    "src_txlog_dml_sql" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = dmlDocTable(s, dir)
      def aggAt(leg: String, asOf: Option[Long]) =
        TxLog.read(s, table, mergeSchema, asOf)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
              f(col("n_chars"))))).as("checksum"))
          .select(lit(leg).as("leg"), col("source"), col("n_docs"),
            col("sum_chars"), col("checksum"))
      aggAt("head", None).unionAll(aggAt("v1", Some(1L)))
        .orderBy("leg", "source")
    }),

    // DELETION VECTORS / MERGE-ON-READ (r14 — VERDICT item 2): a merge
    // whose per-bucket touched-row fraction is at-or-below dvThreshold
    // writes a DELETION VECTOR (parquet rows naming superseded
    // (file, position) pairs) plus a small DELTA dir instead of
    // rewriting buckets copy-on-write — commit cost O(changed rows),
    // not O(touched buckets); the bucket dirs are RE-ADDED carrying
    // their superseding vector in the same atomic commit
    // (remove-then-add replay order), reads anti-join the
    // broadcast-small vector, OPTIMIZE folds vectors back to pure data
    // files, vacuumDerived reclaims superseded ones (all spec'd in
    // TxLogDvSpec, including DV ≡ copy-on-write twin equivalence and
    // the O(rows)-bytes commit claim). Gate: a bucketizing
    // copy-on-write merge then a SPARSE merge-on-read merge (vectors
    // asserted live at head); the head AND the v1 time-travel snapshot
    // hash against the relational replay of both merges over the
    // ORIGINAL parquet — a resurrected deleted row, a lost delta, or a
    // vector over-delete flips the hash.
    "src_txlog_dv" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = dvDocTable(s, dir)
      def aggAt(leg: String, asOf: Option[Long]) =
        TxLog.read(s, table, mergeSchema, asOf)
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
              f(col("n_chars"))))).as("checksum"))
          .select(lit(leg).as("leg"), col("source"), col("n_docs"),
            col("sum_chars"), col("checksum"))
      aggAt("head", None).unionAll(aggAt("v1", Some(1L)))
        .orderBy("leg", "source")
    }),

    // METADATA COUNT (r14 — aggregate pushdown): add actions record
    // their dir's ROW COUNT (the same write-side aggregate that
    // collects stats), so an unfiltered `SELECT count(*)` is answered
    // from the LOG — sum of the live adds' counts minus the
    // deletion-vector rows, zero data files opened (TxLog.countRows;
    // the SQL route pushes CountStar through
    // SupportsPushDownAggregates with complete pushdown — telemetry-
    // asserted in TxLogSqlSpec, with the filtered-count and legacy-add
    // fallbacks). Gate: the merge-on-read table's HEAD counted through
    // the SQL front door (metadata-served, asserted) and its v1
    // snapshot counted via the Scala verb, hashed against the
    // relational replay — a drifted row count (vector over/under-
    // subtraction, a lost delta) flips the gate.
    "src_txlog_count" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = dvDocTable(s, dir)
      val root = table.stripSuffix("/table")
      val cat = s"graftcnt_${math.abs(root.hashCode).toString}"
      s.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.TxLogCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.root", root)
      graft.sources.TxLogScanTelemetry.lastCountStar = None
      val headN = s.sql(s"SELECT count(*) AS n FROM $cat.`table`")
        .head().getLong(0)
      require(graft.sources.TxLogScanTelemetry.lastCountStar.isDefined,
        "the head count must be METADATA-served (CountStar pushdown)")
      val v1N = TxLog.countRows(s, table, Some(1L)).getOrElse(
        throw new IllegalStateException(
          "v1's adds must all record row counts"))
      import s.implicits._
      Seq(("head", headN), ("v1", v1N)).toDF("leg", "n").orderBy("leg")
    }),

    // SQL FRONT DOOR (r14 — VERDICT item 1): the DSv2
    // TableProvider/TableCatalog over the table format — the same
    // tables the Scala verbs built become `spark.sql` citizens:
    // `spark.sql.catalog.<name> = TxLogCatalog` addresses tables by
    // identifier, `SELECT … VERSION AS OF v` resolves through
    // loadTable(ident, version), and WHERE conjuncts PUSH DOWN through
    // SupportsPushDownFilters into TxLog.pruneAdds — a selective SQL
    // query plans O(matching dirs), exactly the Scala path's skipping
    // (fewer-dirs plan-lint spec'd in TxLogSqlSpec via the scan's
    // planned-file telemetry, plus CREATE/INSERT/time-travel specs).
    // The gate: a two-commit table (one dir per event_type, string
    // envelopes + partition values, schema recorded at v0) queried
    // through pure SQL — a head read under an IN filter spanning both
    // commits, and a VERSION AS OF 0 read of the first commit — hashed
    // against the membership replay over the ORIGINAL events: the SQL
    // path must be indistinguishable from the relational truth.
    "src_txlog_sql" -> ((s, dir) => {
      import graft.sources.TxLog
      val e = Tables(s, dir, "events")
      val ev = e.select(col("event_id"), col("event_type"),
        round(col("value") * 10000).cast("long").as("v4"))
      val sqlDdl = "event_id BIGINT, event_type STRING, v4 BIGINT"
      // one dir per event type — bounded O(|types|) driver pull (the
      // typed-skip posture); two commits so VERSION AS OF has history
      val types = ev.select("event_type").distinct()
        .orderBy("event_type").collect().map(_.getString(0)).toSeq
      val (cat, nTypes) = txlogSqlMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-sql") { td =>
            val tbl = s"$td/ev"
            val half = (types.size + 1) / 2
            def addsFor(ts: Seq[String], off: Int) =
              ts.zipWithIndex.map { case (t, i) =>
                val nm = s"t${off + i}"
                ev.filter(col("event_type") === t).write
                  .parquet(s"$tbl/$nm")
                TxLog.AddFile(nm,
                  TxLog.statsOf(s.read.parquet(s"$tbl/$nm"),
                    Seq("event_type")),
                  part = Map("event_type" -> t))
              }
            require(TxLog.tryCommitActions(s, tbl, 0L,
              addsFor(types.take(half), 0), Nil,
              schemaDdl = Some(StructType.fromDDL(sqlDdl).toDDL),
              cdf = Some("@adds")), "v0 conflicted on a fresh table")
            require(TxLog.tryCommitActions(s, tbl, 1L,
              addsFor(types.drop(half), half), Nil,
              cdf = Some("@adds")), "v1 conflicted under a single writer")
          }
        val name = s"graftsql_${math.abs(tmp.hashCode).toString}"
        s.conf.set(s"spark.sql.catalog.$name",
          classOf[graft.sources.TxLogCatalog].getName)
        s.conf.set(s"spark.sql.catalog.$name.root", tmp)
        (name, types.size)
      }
      def q(v: String) = v.replace("'", "''")
      val (tFirst, tLast) = (types.head, types.last)
      val agg = "count(*) AS n_events, CAST(sum(v4) AS BIGINT) AS " +
        "sum_v4, CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum"
      val headIn = s.sql(
        s"""SELECT 'head_in' AS leg, event_type, $agg
           |FROM $cat.ev
           |WHERE event_type IN ('${q(tFirst)}', '${q(tLast)}')
           |GROUP BY event_type""".stripMargin)
      val v0 = s.sql(
        s"""SELECT 'v0' AS leg, event_type, $agg
           |FROM $cat.ev VERSION AS OF 0
           |GROUP BY event_type""".stripMargin)
      headIn.unionByName(v0).orderBy("leg", "event_type")
    }),

    // CDF FOLLOWER (r13 capstone): the TxLog streaming source in
    // `feed=cdf` mode follows a MERGING table's change feed — one merge
    // commit per trigger, rows carrying (_change_type, _version) — and a
    // consumer APPLIES the followed changes (latest non-preimage change
    // per key by version: delete drops, update/insert replaces) onto the
    // v0 snapshot seed. The gate claim is the consumer-loop contract
    // itself: seed + followed-feed apply ≡ the table head — hashed
    // against the SAME final-state oracle as src_txlog_merge, so a
    // dropped, duplicated, or mis-ordered change anywhere in the
    // source → stream → apply loop flips the hash.
    "src_txlog_cdf_follow" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = mergedDocTable(s, dir)
      val changes = cdfFollowMemo.get(s, dir) {
        val stream = s.readStream
          .format(classOf[graft.sources.TxLogStreamSourceProvider].getName)
          .schema(mergeSchema)
          .option("path", table).option("feed", "cdf")
          .option("maxVersionsPerTrigger", "1").load()
        graft.streaming.StreamGate.run(s, stream, "cdf_follow",
            org.apache.spark.sql.streaming.OutputMode.Append()) { sink =>
          graft.operators.Checkpointing.cut(sink)
        }
      }
      val seed = TxLog.read(s, table, mergeSchema, Some(0L))
      val latest = changes
        .filter(col("_change_type") =!= "update_preimage")
        .groupBy("doc_id")
        .agg(expr(
          "max_by(struct(lang, source, n_chars, _change_type), _version)")
          .as("c"))
      seed.join(latest, Seq("doc_id"), "full_outer")
        .filter(col("c").isNull || col("c._change_type") =!= "delete")
        .select(col("doc_id"),
          when(col("c").isNotNull, col("c.lang")).otherwise(col("lang"))
            .as("lang"),
          when(col("c").isNotNull, col("c.source")).otherwise(col("source"))
            .as("source"),
          when(col("c").isNotNull, col("c.n_chars")).otherwise(col("n_chars"))
            .as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("source")
    }),

    // UNIFIED CHANGE FEED over a MIXED history (r14 — VERDICT item 5):
    // every commit kind now declares its feed via the log's {"cdf":…}
    // marker — appends serve their add dirs as all-INSERT (zero extra
    // bytes), OPTIMIZE serves an EMPTY feed (layout, not data), merges
    // serve their recorded image sets, unmarked commits stay loud — so
    // ONE follower tracks a real table's whole life instead of
    // stopping at the first non-merge commit. Gate: the CDF streaming
    // source follows an append → append → OPTIMIZE → merge → DV-merge
    // history from startVersion −1 (one commit per trigger) and the
    // consumer applies the feeds ALONE — no snapshot seed — so the
    // reconstruction hashes against the full relational replay over
    // the ORIGINAL parquet: a dropped append row, a compaction row
    // leaking as a change, or a mis-ordered image flips the hash.
    "src_txlog_cdf_unified" -> ((s, dir) => {
      val table = unifiedCdfTable(s, dir)
      val changes = unifiedFollowMemo.get(s, dir) {
        val stream = s.readStream
          .format(classOf[graft.sources.TxLogStreamSourceProvider].getName)
          .schema(mergeSchema)
          .option("path", table).option("feed", "cdf")
          .option("startVersion", "-1")
          .option("maxVersionsPerTrigger", "1").load()
        graft.streaming.StreamGate.run(s, stream, "cdf_unified",
            org.apache.spark.sql.streaming.OutputMode.Append()) { sink =>
          graft.operators.Checkpointing.cut(sink)
        }
      }
      changes.filter(col("_change_type") =!= "update_preimage")
        .groupBy("doc_id")
        .agg(expr(
          "max_by(struct(lang, source, n_chars, _change_type), _version)")
          .as("c"))
        .filter(col("c._change_type") =!= "delete")
        .select(col("doc_id"), col("c.lang").as("lang"),
          col("c.source").as("source"), col("c.n_chars").as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("source")
    }),

    // CHANGE FEED OVER THE KAFKA WIRE (r14 — the transport loop
    // closed): the unified feed is not just followable, it SHIPS — the
    // whole append/OPTIMIZE/merge/DV history's change rows (JSON-coded,
    // keyed by commit version) are PRODUCED to the in-process broker as
    // CRC32C'd record batches (KafkaProduce: acks=-1, base offsets
    // verified contiguous — a dropped or replayed batch is loud at the
    // producer), then CONSUMED by the durable loop (KafkaCapture, with
    // the mid-stream disconnect fired and survived), and the APPLY of
    // the landed lake must equal the table head — hashed against
    // src_txlog_cdf_unified's oracle VERBATIM: producing, the wire,
    // and consuming must all be invisible to the reconstruction.
    "src_txlog_cdf_kafka" -> ((s, dir) => {
      import graft.sources.{TxLog, TxLogMerge}
      val table = unifiedCdfTable(s, dir)
      val lake = cdfKafkaMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-cdf-kafka") { td =>
            val head = TxLog.currentVersion(s, table).get
            val feed = (0L to head).map(v =>
              TxLogMerge.readChangeFeed(s, table, mergeSchema, v)
                .withColumn("_version", lit(v)))
              .reduce(_ unionByName _)
              .select(col("_version"),
                to_json(struct(col("doc_id"), col("lang"), col("source"),
                  col("n_chars"), col("_change_type"), col("_version")))
                  .as("j"))
            // driver-streamed produce: toLocalIterator pulls one
            // partition at a time — the producer holds O(batch) rows
            import scala.jdk.CollectionConverters._
            val it = feed.toLocalIterator().asScala.map(r =>
              (r.getLong(0),
                r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val broker = new graft.streaming.LoopbackKafkaBroker(
              "graft.cdf", () => Iterator.empty, 0L,
              dropAfterRecords = 64, recordsPerBatch = 1024,
              producible = true).start()
            val shipped = new graft.streaming.KafkaProduce(
              "127.0.0.1", broker.port, "graft.cdf").run(it)
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(s"$td/lake"))
            val slots = new graft.cdc.SlotStore(s"$td/slots")
            slots.setSlot("graft_cdf")
            val stats = new graft.streaming.KafkaCapture(
              "127.0.0.1", broker.port, "graft.cdf", "graft_cdf",
              slots, s, s"$td/lake", flushEvery = 32768).run()
            broker.stop()
            require(broker.failure.isEmpty,
              s"broker failed: ${broker.failure}")
            require(stats.reconnects >= 1,
              "the mid-stream disconnect must have fired")
            require(stats.watermark == shipped,
              s"consume incomplete: $stats vs $shipped shipped")
          }
        s"$tmp/lake"
      }
      val rows = s.read.parquet(lake)
        .select(from_json(col("data").cast("string"),
          StructType.fromDDL("doc_id BIGINT, lang STRING, source STRING, " +
            "n_chars BIGINT, _change_type STRING, _version BIGINT"))
          .as("r"))
        .select("r.*")
      rows.filter(col("_change_type") =!= "update_preimage")
        .groupBy("doc_id")
        .agg(expr(
          "max_by(struct(lang, source, n_chars, _change_type), _version)")
          .as("c"))
        .filter(col("c._change_type") =!= "delete")
        .select(col("doc_id"), col("c.lang").as("lang"),
          col("c.source").as("source"), col("c.n_chars").as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("source")
    }),

    // MULTI-PARTITION KAFKA TRANSPORT (r15 — VERDICT item 2): the same
    // shipped change feed, now over a 4-PARTITION topic keyed by
    // hash(doc_id) — the production keying (per-key order rides one
    // partition; cross-key order is irrelevant to the apply, which
    // folds by max _version per key). The producer routes records by
    // partition and verifies per-partition offset contiguity
    // (KafkaProduce.runPartitioned); a RELATION frame rides every
    // partition HEAD (offset 0, lsn −1 — the inline-schema convention
    // per partition: a consumer joining any single partition learns
    // the schema without a side channel, verified landed below); the
    // consumer owns all four partitions in one session, round-robins
    // fetches (partition-parallel), keeps a PER-PARTITION durable
    // watermark, survives the fired mid-stream disconnect by resuming
    // each partition from its own watermark, and acks the group at the
    // MINIMUM (KafkaCapture stats). Gate: the partition-parallel
    // capture's decode + apply hashed against src_txlog_cdf_unified's
    // oracle VERBATIM — partitioning, the wire, and the disconnect
    // must all be invisible to the reconstruction. The
    // one-partition-lags (10× skew) + disconnect leg is spec'd in
    // KafkaWireSpec.
    "src_txlog_cdf_kafka_parts" -> ((s, dir) => {
      import graft.sources.{TxLog, TxLogMerge}
      val table = unifiedCdfTable(s, dir)
      val nParts = 4
      val relDdl = mergeSchema.toDDL
      val lake = cdfKafkaPartsMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-cdf-kafkap") { td =>
            val head = TxLog.currentVersion(s, table).get
            val feed = (0L to head).map(v =>
              TxLogMerge.readChangeFeed(s, table, mergeSchema, v)
                .withColumn("_version", lit(v)))
              .reduce(_ unionByName _)
              .select(
                pmod(xxhash64(col("doc_id")), lit(nParts.toLong))
                  .cast("int").as("p"),
                col("_version"),
                to_json(struct(col("doc_id"), col("lang"), col("source"),
                  col("n_chars"), col("_change_type"), col("_version")))
                  .as("j"))
            import scala.jdk.CollectionConverters._
            val relFrames = (0 until nParts).iterator.map(p =>
              (p, -1L, s"""{"_relation":"${relDdl.replace("\"", "'")}"}"""
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val dataIt = feed.toLocalIterator().asScala.map(r =>
              (r.getInt(0), r.getLong(1), r.getString(2)
                .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val broker = new graft.streaming.LoopbackKafkaBroker(
              "graft.cdfp", () => Iterator.empty, 0L,
              dropAfterRecords = 64, recordsPerBatch = 256,
              producible = true, nPartitions = nParts).start()
            val shipped = new graft.streaming.KafkaProduce(
              "127.0.0.1", broker.port, "graft.cdfp",
              recordsPerBatch = 256).runPartitioned(relFrames ++ dataIt)
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(s"$td/lake"))
            val slots = new graft.cdc.SlotStore(s"$td/slots")
            (0 until nParts).foreach(p => slots.setSlot(s"graft_cdfp.p$p"))
            val stats = new graft.streaming.KafkaCapture(
              "127.0.0.1", broker.port, "graft.cdfp", "graft_cdfp",
              slots, s, s"$td/lake", flushEvery = 1024,
              partitions = 0 until nParts).run()
            broker.stop()
            require(broker.failure.isEmpty,
              s"broker failed: ${broker.failure}")
            require(stats.reconnects >= 1,
              "the mid-stream disconnect must have fired")
            require(stats.perPartition.values.sum == shipped,
              s"consume incomplete: $stats vs $shipped shipped")
            require(stats.watermark == stats.perPartition.values.min,
              s"the group ack must be the minimum watermark: $stats")
            // the inline-schema convention: every partition's HEAD
            // frame is the relation
            val heads = s.read.parquet(s"$td/lake")
              .filter(col("lsn") === -1L)
              .select(col("partition"), col("data").cast("string"))
              .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
            require(heads.map(_._1).sorted == (0 until nParts) &&
                heads.forall(_._2.contains("_relation")),
              s"every partition must land exactly one relation frame " +
                s"at its head, got $heads")
          }
        s"$tmp/lake"
      }
      val rows = s.read.parquet(lake)
        .filter(col("lsn") >= 0L) // drop the per-partition relation frames
        .select(from_json(col("data").cast("string"),
          StructType.fromDDL("doc_id BIGINT, lang STRING, source STRING, " +
            "n_chars BIGINT, _change_type STRING, _version BIGINT"))
          .as("r"))
        .select("r.*")
      rows.filter(col("_change_type") =!= "update_preimage")
        .groupBy("doc_id")
        .agg(expr(
          "max_by(struct(lang, source, n_chars, _change_type), _version)")
          .as("c"))
        .filter(col("c._change_type") =!= "delete")
        .select(col("doc_id"), col("c.lang").as("lang"),
          col("c.source").as("source"), col("c.n_chars").as("n_chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .orderBy("source")
    }),

    // SCHEMA EVOLUTION (r12 — VERDICT item 3): commits record the write
    // schema in the log ({"schema": DDL} — the Avro header-verify
    // posture brought to the table format); reads verify their declared
    // schema against the record (drifted column/type fails loudly,
    // spec'd) and readWithLogSchema reads each snapshot with ITS OWN
    // recorded schema. The table: v0 writes the even-doc_id half with
    // (doc_id, lang, n_chars) and records that 3-column schema; v1 adds
    // the odd half WITH a new `source` column and records the wider
    // schema. Time travel to v0 reads 3 columns; the head read returns
    // 4, with v0's files supplying `source` as null (plain parquet
    // by-name projection — no rewrite of old data, the add-column
    // evolution contract). The oracle replays both shapes over the
    // ORIGINAL parquet, nulls included in the checksum via the
    // out-of-band sentinel.
    "src_txlog_evolution" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = txlogEvoMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-evo") { td =>
            val tbl = s"$td/table"
            val docs = Tables(s, dir, "documents")
            val v0 = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
              .select("doc_id", "lang", "n_chars")
            v0.write.parquet(s"$tbl/e0")
            require(TxLog.tryCommitActions(s, tbl, 0L,
                Seq(TxLog.AddFile("e0")), Nil, Some(v0.schema.toDDL)),
              "v0 conflicted on a fresh table")
            val v1 = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
              .select("doc_id", "lang", "n_chars", "source")
            v1.write.parquet(s"$tbl/e1")
            require(TxLog.tryCommitActions(s, tbl, 1L,
                Seq(TxLog.AddFile("e1")), Nil, Some(v1.schema.toDDL)),
              "v1 conflicted under a single writer")
          }
        s"$tmp/table"
      }
      val asV0 = TxLog.readWithLogSchema(s, table, Some(0L))
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars"))))).as("checksum"))
        .select(lit(0L).as("version"), col("n_docs"), col("sum_chars"),
          lit(null).cast("long").as("n_null_source"), col("checksum"))
      val atHead = TxLog.readWithLogSchema(s, table, None)
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          sum(when(col("source").isNull, 1L).otherwise(0L))
            .as("n_null_source"),
          sum(rowCheck(concat_ws("|", f(col("doc_id")), f(col("lang")),
            f(col("n_chars")), f(col("source"))))).as("checksum"))
        .select(lit(1L).as("version"), col("n_docs"), col("sum_chars"),
          col("n_null_source"), col("checksum"))
      asV0.unionAll(atHead).orderBy("version")
    }),

    // OPTIMIZE (r12 — VERDICT item 4): the small-file compaction verb —
    // six one-slice commits (the dir-per-micro-batch pressure a
    // long-running commitBatch stream builds up) bin-packed by
    // TxLog.optimize into ONE rewritten dir via a single add+removes
    // commit. Contents must be identical at every version: v0 still
    // reads its original sixth (time travel under the packed head), v5
    // and the post-optimize v6 hash identically — the layout change is
    // invisible to results, only the file count drops (1 live dir at
    // head, vacuum reclaims the six originals — both spec-asserted).
    "src_txlog_optimize" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = txlogOptMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-opt") { td =>
            val tbl = s"$td/table"
            val docs = Tables(s, dir, "documents")
            (0 until 6).foreach { k =>
              docs.filter(pmod(col("doc_id"), lit(6)) === k)
                .write.parquet(s"$tbl/p$k")
              require(TxLog.tryCommit(s, tbl, k.toLong, Seq(s"p$k"), Nil),
                s"v$k conflicted under a single writer")
            }
            require(TxLog.optimize(s, tbl, Some(docSchema)).contains(6L),
              "optimize must commit v6 on a 6-dir table")
          }
        s"$tmp/table"
      }
      Seq(0L, 5L, 6L).map { v =>
        TxLog.read(s, table, docSchema, Some(v))
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            sum(rowCheck(record)).as("checksum"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_chars"),
            col("checksum"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // OPTIMIZE … ZORDER BY (r12): the clustered rewrite that makes DATA
    // SKIPPING bite on MULTI-dimensional predicates — a table laid down in
    // arrival order has every dir spanning the full (user, time) range
    // (the prune keeps all of them), while `TxLog.optimizeClustered`
    // rewrites the head into 8 Morton-curve range slices, one dir per
    // slice, each add carrying TIGHT envelopes on BOTH clustered columns.
    // The table: four event_id-residue commits (deliberately NO locality —
    // each spans everything), then the clustered rewrite. The gate reads
    // under a 2-dim window (a user band AND a time quarter — bounds
    // derived from the data, plan literals) with skip ranges on BOTH
    // dims + the same filter, and hashes against the window replayed over
    // the ORIGINAL events: pruning may only ever drop dirs the filter
    // rejects entirely, under ANY range-partitioner boundary draw (layout
    // is sampled; semantics are not). The fewer-dirs-opened claim is
    // spec-asserted on a deterministic grid (TxLogV2Spec).
    "src_txlog_zorder_optimize" -> ((s, dir) => {
      import graft.sources.TxLog
      val e = Tables(s, dir, "events")
      val ev = e.select(col("event_id"), col("user_id"), col("event_type"),
        Tables.tsMicros(e).as("ts_us"),
        round(col("value") * 10000).cast("long").as("v4"))
      val table = txlogZoptMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-zopt") { td =>
            val tbl = s"$td/table"
            (0 until 4).foreach { k =>
              ev.filter(pmod(col("event_id"), lit(4)) === k)
                .write.parquet(s"$tbl/a$k")
              require(TxLog.tryCommit(s, tbl, k.toLong, Seq(s"a$k"), Nil),
                s"v$k conflicted under a single writer")
            }
            require(TxLog.optimizeClustered(s, tbl,
                StructType.fromDDL(
                  "event_id BIGINT, user_id BIGINT, event_type STRING, " +
                    "ts_us BIGINT, v4 BIGINT"),
                Seq("user_id", "ts_us"), nDirs = 8).contains(4L),
              "clustered optimize must commit v4")
          }
        s"$tmp/table"
      }
      val b = ev.agg(min("ts_us"), max("ts_us"), min("user_id"),
        max("user_id")).head()
      val (tlo, thi) = (b.getLong(0), b.getLong(1))
      val (ulo, uhi) = (b.getLong(2), b.getLong(3))
      val tspan = (thi - tlo) / 4 + 1
      val (t1, t2) = (tlo + tspan, tlo + 2 * tspan - 1)
      val (u1, u2) = (ulo, ulo + (uhi - ulo) / 4)
      TxLog.read(s, table,
          StructType.fromDDL("event_id BIGINT, user_id BIGINT, " +
            "event_type STRING, ts_us BIGINT, v4 BIGINT"),
          None, skip = Seq(TxLog.SkipRange("ts_us", t1, t2),
            TxLog.SkipRange("user_id", u1, u2)))
        .filter(col("ts_us").between(t1, t2) &&
          col("user_id").between(u1, u2))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("v4").as("sum_v4"),
          sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
        .orderBy("event_type")
    }),

    // LOG CHECKPOINT (r12): the Delta-checkpoint idea — TxLog.checkpoint
    // snapshots the replay state (live adds + schema + producer
    // watermarks) at the head into one _ckpt file, and every planning
    // verb reads the latest checkpoint plus the commit SUFFIX instead of
    // the whole log — O(suffix) planning, which is what keeps a
    // long-running sink's per-batch watermark probe from going
    // O(commits²) over its lifetime (and what enables pre-checkpoint log
    // truncation in production). The table: four sixths-commits, a
    // checkpoint at v3, two more commits. The gate reads THREE snapshot
    // classes — v1 (before the checkpoint: the full-walk fallback), v3
    // (exactly the checkpoint: pure snapshot read), head v5 (checkpoint +
    // 2-commit suffix) — and hashes each against the slice-membership
    // rule over the original parquet: checkpointed and unchecked planning
    // must be indistinguishable in results.
    "src_txlog_checkpoint" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = txlogCkptMemo.get(s, dir) {
        val tmp = graft.streaming.StreamGate
          .sessionTempDir("graft-txlog-ckpt") { td =>
            val tbl = s"$td/table"
            val docs = Tables(s, dir, "documents")
            def commitSlice(k: Int): Unit = {
              docs.filter(pmod(col("doc_id"), lit(6)) === k)
                .write.parquet(s"$tbl/p$k")
              require(TxLog.tryCommit(s, tbl, k.toLong, Seq(s"p$k"), Nil),
                s"v$k conflicted under a single writer")
            }
            (0 until 4).foreach(commitSlice)
            require(TxLog.checkpoint(s, tbl) == 3L,
              "checkpoint must cover head v3")
            (4 until 6).foreach(commitSlice)
          }
        s"$tmp/table"
      }
      Seq(1L, 3L, 5L).map { v =>
        TxLog.read(s, table, docSchema, Some(v))
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
            sum(rowCheck(record)).as("checksum"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_chars"),
            col("checksum"))
      }.reduce(_ unionAll _).orderBy("version")
    }),

    // INCREMENTAL CHANGE READ (r12): the change-data-feed consumer
    // contract on the append-only sink table — `TxLog.readChanges` hands
    // a consumer exactly the rows committed in a version window (the dirs
    // those commits added, one plain scan), LOUD if the window contains a
    // remove (a rewrite is layout, not new data — silently re-delivering
    // rewritten rows is the corruption an incremental consumer cannot
    // detect itself; spec'd). The gate stitches two consumer reads —
    // versions (−1,1] and (1,3] over the commitBatch sink (version =
    // ts-quartile chunk) — and hashes each segment's accounting against
    // the SAME quartile-window math replayed over the original events:
    // the stitched segments must BE the table, delivered incrementally.
    "src_txlog_incremental" -> ((s, dir) => {
      import graft.sources.TxLog
      val table = txlogSinkTable(s, dir)
      val schema = StructType.fromDDL(sinkSchemaDdl)
      Seq((0L, -1L, 1L), (1L, 1L, 3L)).map { case (seg, from, to) =>
        TxLog.readChanges(s, table, schema, from, to)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("v4").as("sum_v4"),
            sum(pmod(col("event_id"), lit(1000000007L))).as("id_checksum"))
          .select(lit(seg).as("segment"), col("event_type"), col("n_events"),
            col("sum_v4"), col("id_checksum"))
      }.reduce(_ unionAll _).orderBy("segment", "event_type")
    }))

  def oracles: Map[String, String] = oraclesBase +
    // deliberately src_txlog_merge's oracle VERBATIM: the SQL MERGE
    // route must be indistinguishable from the Scala verb it compiles
    // onto
    ("src_txlog_merge_sql" -> oraclesBase("src_txlog_merge")) +
    // deliberately src_txlog_cdf_unified's oracle VERBATIM: producing,
    // the Kafka wire, and consuming must be invisible to the feed apply
    ("src_txlog_cdf_kafka" -> oraclesBase("src_txlog_cdf_unified")) +
    // …and the 4-partition transport must be exactly as invisible
    ("src_txlog_cdf_kafka_parts" -> oraclesBase("src_txlog_cdf_unified"))

  private def oraclesBase: Map[String, String] = Map(
    "src_jsonl_roundtrip" ->
      (statsSql + "\nGROUP BY source ORDER BY source"),
    "src_csv_roundtrip" ->
      (statsSql + "\nGROUP BY source ORDER BY source"),
    "src_orc_roundtrip" ->
      (statsSql + "\nGROUP BY source ORDER BY source"),
    "src_avro_roundtrip" ->
      (statsSql + "\nGROUP BY source ORDER BY source"),
    "src_jdbc_roundtrip" ->
      (statsSql + "\nGROUP BY source ORDER BY source"),
    "src_xml_roundtrip" ->
      (statsSql + "\nGROUP BY source ORDER BY source"),
    // the same 2-dim predicate over the ORIGINAL lake — the clustered
    // rewrite must be invisible to results
    "src_zorder_roundtrip" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events),
        |b AS (SELECT min(ts_us) AS t0, max(ts_us) AS t1,
        |             max(user_id) AS mu FROM e)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM e, b
        |WHERE user_id < (mu + 1) // 3
        |  AND ts_us < t0 + (t1 - t0) // 3
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "src_partitioned_roundtrip" ->
      (statsSql + "\nWHERE source IN ('src3', 'src7', 'src11')" +
        "\nGROUP BY source ORDER BY source"),

    // deliberately mm_metadata's replay VERBATIM: "the binary-object trip
    // composed to the identity" means the re-decoded features equal the
    // direct path's, and that path's oracle already re-derives every
    // feature from the parquet text
    "src_binaryfile_roundtrip" -> MultimodalQueries.oracles("mm_metadata"),

    // the slice-membership replay over the ORIGINAL parquet: v0 = slice 0
    // (still, after v2 removed its files from the head), v1 = slices 0+1,
    // v2 (head) = slices 1+2
    "src_txlog_timetravel" ->
      """SELECT CAST(v.version AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
        |                coalesce(text, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM documents d
        |JOIN (SELECT 0 AS version UNION ALL SELECT 1
        |      UNION ALL SELECT 2) v
        |  ON (v.version = 0 AND d.doc_id % 3 = 0)
        |  OR (v.version = 1 AND d.doc_id % 3 <= 1)
        |  OR (v.version = 2 AND d.doc_id % 3 >= 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the committed table must equal the feed — replayed over the
    // ORIGINAL events (exact 1e4-scaled sums, modular id checksum)
    "src_txlog_stream_sink" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(CAST(sum(CAST(round(value * 10000) AS BIGINT))
        |              AS BIGINT) AS DOUBLE) / 10000.0 AS sum_value,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // both merges replayed relationally over the ORIGINAL parquet:
    // merge 1 = delete German ≡0-mod-3 keys, +1 the rest of them;
    // merge 2 = double ≡0-mod-7 survivors, insert the shifted
    // ≡0-mod-5 range where not German (shifted keys never match, and
    // the only unmatched un-shifted update keys are the German deletes,
    // which the insert condition rejects — mirrored exactly)
    "src_txlog_merge" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |t1 AS (
        |  SELECT d.doc_id, d.lang, d.source,
        |         CASE WHEN d.doc_id % 3 = 0 THEN d.n_chars + 1
        |              ELSE d.n_chars END AS n_chars
        |  FROM documents d
        |  WHERE NOT (d.doc_id % 3 = 0 AND
        |             d.lang IS NOT DISTINCT FROM 'de')
        |),
        |t2 AS (
        |  SELECT doc_id, lang, source,
        |         CASE WHEN doc_id % 7 = 0 THEN n_chars * 2
        |              ELSE n_chars END AS n_chars
        |  FROM t1
        |  UNION ALL
        |  SELECT d.doc_id + m.off, d.lang, d.source, d.n_chars
        |  FROM documents d, m
        |  WHERE d.doc_id % 5 = 0
        |    AND NOT (d.lang IS NOT DISTINCT FROM 'de')
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM t2 GROUP BY source ORDER BY source""".stripMargin,

    // everything published and nothing else: the full corpus under the
    // (doc_id|lang|n_chars) checksum — a leaked corrupt row or a blocked
    // clean publish flips it
    "src_txlog_wap" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the counts of the same two merge replays: head after both
    // merges (metadata-served through the SQL front door), v1 after
    // merge 1 (the Scala countRows verb)
    "src_txlog_count" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |t1 AS (
        |  SELECT d.doc_id, d.lang FROM documents d
        |  WHERE NOT (d.doc_id % 4 = 1 AND
        |             d.lang IS NOT DISTINCT FROM 'de')
        |),
        |t2 AS (
        |  SELECT doc_id FROM t1
        |  WHERE NOT (doc_id % 97 = 0 AND
        |             lang IS NOT DISTINCT FROM 'fr')
        |  UNION ALL
        |  SELECT d.doc_id + m.off FROM documents d, m
        |  WHERE d.doc_id % 89 = 0
        |    AND NOT (d.lang IS NOT DISTINCT FROM 'fr')
        |)
        |SELECT leg, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'head' AS leg, count(*) AS n FROM t2
        |  UNION ALL
        |  SELECT 'v1' AS leg, count(*) AS n FROM t1)
        |ORDER BY leg""".stripMargin,

    // the evolution replayed relationally over the ORIGINAL parquet:
    // v2 = base + 13-append under the renamed column, v3 = v2 without
    // lang, head = v3 with the REBORN lang (null everywhere except the
    // 17-append) — a leaked old byte, a lost rename, or a mis-mapped
    // append flips the checksum
    "src_txlog_column_map" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |base AS (SELECT doc_id, lang, source, n_chars AS chars
        |         FROM documents),
        |a13 AS (SELECT d.doc_id + m.off AS doc_id, d.lang, d.source,
        |               d.n_chars AS chars
        |        FROM documents d, m WHERE d.doc_id % 13 = 0),
        |v2 AS (SELECT * FROM base UNION ALL SELECT * FROM a13),
        |a17 AS (SELECT d.doc_id + 2 * m.off AS doc_id, d.lang, d.source,
        |               d.n_chars AS chars
        |        FROM documents d, m WHERE d.doc_id % 17 = 0),
        |legs AS (
        |  SELECT 'head' AS leg, doc_id, NULL AS lang, source, chars
        |  FROM v2
        |  UNION ALL
        |  SELECT 'head', doc_id, lang, source, chars FROM a17
        |  UNION ALL
        |  SELECT 'v2', doc_id, lang, source, chars FROM v2
        |  UNION ALL
        |  SELECT 'v3', doc_id, NULL, source, chars FROM v2
        |)
        |SELECT leg, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM legs GROUP BY leg, source ORDER BY leg, source""".stripMargin,

    // both DML statements replayed relationally over the ORIGINAL
    // parquet — head after DELETE + sparse UPDATE, and the v1 snapshot
    // after the DELETE alone: SQL DML must be indistinguishable from
    // the merge verb it compiles onto
    "src_txlog_dml_sql" ->
      """WITH t1 AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents d
        |  WHERE NOT (d.doc_id % 3 = 0 AND
        |             d.lang IS NOT DISTINCT FROM 'de')
        |),
        |t2 AS (
        |  SELECT doc_id, lang, source,
        |         CASE WHEN doc_id % 97 = 0 THEN n_chars * 2 + 1
        |              ELSE n_chars END AS n_chars
        |  FROM t1
        |),
        |legs AS (
        |  SELECT 'head' AS leg, * FROM t2
        |  UNION ALL
        |  SELECT 'v1' AS leg, * FROM t1
        |)
        |SELECT leg, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM legs GROUP BY leg, source ORDER BY leg, source""".stripMargin,

    // both merges replayed relationally over the ORIGINAL parquet —
    // head after (copy-on-write merge 1) + (merge-on-read merge 2),
    // and the v1 snapshot after merge 1 alone: the DV read path must
    // be indistinguishable from the rewrite it replaced
    "src_txlog_dv" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |t1 AS (
        |  SELECT d.doc_id, d.lang, d.source,
        |         CASE WHEN d.doc_id % 4 = 1 THEN d.n_chars + 5
        |              ELSE d.n_chars END AS n_chars
        |  FROM documents d
        |  WHERE NOT (d.doc_id % 4 = 1 AND
        |             d.lang IS NOT DISTINCT FROM 'de')
        |),
        |t2 AS (
        |  SELECT doc_id, lang, source,
        |         CASE WHEN doc_id % 97 = 0 THEN n_chars * 3
        |              ELSE n_chars END AS n_chars
        |  FROM t1
        |  WHERE NOT (doc_id % 97 = 0 AND
        |             lang IS NOT DISTINCT FROM 'fr')
        |  UNION ALL
        |  SELECT d.doc_id + m.off, d.lang, d.source, d.n_chars
        |  FROM documents d, m
        |  WHERE d.doc_id % 89 = 0
        |    AND NOT (d.lang IS NOT DISTINCT FROM 'fr')
        |),
        |legs AS (
        |  SELECT 'head' AS leg, * FROM t2
        |  UNION ALL
        |  SELECT 'v1' AS leg, * FROM t1
        |)
        |SELECT leg, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM legs GROUP BY leg, source ORDER BY leg, source""".stripMargin,

    // the SQL path must be indistinguishable from the relational
    // truth: head_in = first+last event types (the IN filter spanning
    // both commits), v0 = the first-half types (commit 0's membership)
    "src_txlog_sql" ->
      """WITH e AS (SELECT event_id, event_type,
        |                  CAST(round(value * 10000) AS BIGINT) AS v4
        |           FROM events),
        |ty AS (SELECT event_type,
        |              row_number() OVER (ORDER BY event_type) AS rn,
        |              count(*) OVER () AS n
        |       FROM (SELECT DISTINCT event_type FROM events)),
        |legs AS (
        |  SELECT 'head_in' AS leg, e.event_id, e.event_type, e.v4
        |  FROM e JOIN ty USING (event_type)
        |  WHERE ty.rn = 1 OR ty.rn = ty.n
        |  UNION ALL
        |  SELECT 'v0' AS leg, e.event_id, e.event_type, e.v4
        |  FROM e JOIN ty USING (event_type)
        |  WHERE ty.rn <= (ty.n + 1) // 2
        |)
        |SELECT leg, event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v4) AS BIGINT) AS sum_v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM legs GROUP BY leg, event_type
        |ORDER BY leg, event_type""".stripMargin,

    // the consumer-loop contract: seed + followed-feed apply ≡ the
    // table head — deliberately src_txlog_merge's final-state oracle
    // VERBATIM
    "src_txlog_cdf_follow" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |t1 AS (
        |  SELECT d.doc_id, d.lang, d.source,
        |         CASE WHEN d.doc_id % 3 = 0 THEN d.n_chars + 1
        |              ELSE d.n_chars END AS n_chars
        |  FROM documents d
        |  WHERE NOT (d.doc_id % 3 = 0 AND
        |             d.lang IS NOT DISTINCT FROM 'de')
        |),
        |t2 AS (
        |  SELECT doc_id, lang, source,
        |         CASE WHEN doc_id % 7 = 0 THEN n_chars * 2
        |              ELSE n_chars END AS n_chars
        |  FROM t1
        |  UNION ALL
        |  SELECT d.doc_id + m.off, d.lang, d.source, d.n_chars
        |  FROM documents d, m
        |  WHERE d.doc_id % 5 = 0
        |    AND NOT (d.lang IS NOT DISTINCT FROM 'de')
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM t2 GROUP BY source ORDER BY source""".stripMargin,

    // each merge's change classes replayed relationally: v1 = the
    // German ≡0-mod-3 deletes (preimage) + the rest of those keys as
    // update pre/post (+1); v2 = the ≡0-mod-7 SURVIVORS of merge 1 as
    // update pre (t1 image) / post (doubled) + the shifted non-German
    // ≡0-mod-5 inserts — the unmatched un-shifted keys are exactly the
    // German deletes, which the insert condition rejects (mirrored)
    "src_txlog_cdf" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |base AS (SELECT doc_id, lang, source, n_chars FROM documents),
        |t1 AS (SELECT doc_id, lang, source,
        |              CASE WHEN doc_id % 3 = 0 THEN n_chars + 1
        |                   ELSE n_chars END AS n_chars
        |       FROM base
        |       WHERE NOT (doc_id % 3 = 0 AND
        |                  lang IS NOT DISTINCT FROM 'de')),
        |ch AS (
        |  SELECT 1 AS version, 'delete' AS _change_type,
        |         doc_id, lang, n_chars
        |  FROM base WHERE doc_id % 3 = 0 AND lang IS NOT DISTINCT FROM 'de'
        |  UNION ALL
        |  SELECT 1, 'update_preimage', doc_id, lang, n_chars
        |  FROM base WHERE doc_id % 3 = 0
        |    AND NOT (lang IS NOT DISTINCT FROM 'de')
        |  UNION ALL
        |  SELECT 1, 'update_postimage', doc_id, lang, n_chars + 1
        |  FROM base WHERE doc_id % 3 = 0
        |    AND NOT (lang IS NOT DISTINCT FROM 'de')
        |  UNION ALL
        |  SELECT 2, 'update_preimage', doc_id, lang, n_chars
        |  FROM t1 WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT 2, 'update_postimage', doc_id, lang, n_chars * 2
        |  FROM t1 WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT 2, 'insert', d.doc_id + m.off, d.lang, d.n_chars
        |  FROM base d, m
        |  WHERE d.doc_id % 5 = 0 AND NOT (d.lang IS NOT DISTINCT FROM 'de'))
        |SELECT CAST(version AS BIGINT) AS version, _change_type,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM ch GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the downstream table must STILL equal the feed after the second
    // hop (sink → streaming source → sink): deliberately the
    // src_txlog_stream_sink oracle verbatim — "the composed loop is the
    // identity" is the claim being hashed
    "src_txlog_stream_source" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(CAST(sum(CAST(round(value * 10000) AS BIGINT))
        |              AS BIGINT) AS DOUBLE) / 10000.0 AS sum_value,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // after the THIRD hop (txlog source → txlog sink) the
    // table must still equal the original events — the stream_source
    // oracle verbatim, on purpose: the composed loop is the identity
    "src_txlog_stream_v2" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(CAST(sum(CAST(round(value * 10000) AS BIGINT))
        |              AS BIGINT) AS DOUBLE) / 10000.0 AS sum_value,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // noon of pinned day v must resolve to exactly version v — the
    // src_txlog_timetravel oracle verbatim: a timestamp-pinned read is
    // indistinguishable from the version-pinned snapshot it names
    "src_txlog_timetravel_ts" ->
      """SELECT CAST(v.version AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
        |                coalesce(text, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM documents d
        |JOIN (SELECT 0 AS version UNION ALL SELECT 1
        |      UNION ALL SELECT 2) v
        |  ON (v.version = 0 AND d.doc_id % 3 = 0)
        |  OR (v.version = 1 AND d.doc_id % 3 <= 1)
        |  OR (v.version = 2 AND d.doc_id % 3 >= 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the CALL walk's classified history, hand-computed from the
    // documents' mod-3 slice counts (the optimize/restore add/remove
    // shapes are pinned by the verbs' own grammars)
    "src_txlog_proc_sql" ->
      """WITH c AS (
        |  SELECT CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n1
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(4 AS BIGINT) AS version, 'RESTORE' AS operation,
        |         2 AS n_adds, 1 AS n_removes,
        |         CAST(n0 + n1 AS BIGINT) AS rows_added FROM c
        |  UNION ALL SELECT 3, 'OPTIMIZE', 1, 2, CAST(n0 + n1 AS BIGINT)
        |    FROM c
        |  UNION ALL SELECT 2, 'APPEND', 1, 0, n1 FROM c
        |  UNION ALL SELECT 1, 'APPEND', 1, 0, n0 FROM c
        |  UNION ALL SELECT 0, 'CREATE', 0, 0, 0 FROM c)
        |ORDER BY version DESC""".stripMargin,

    // the pure-SQL evolution replayed relationally: head = corpus +
    // mod-13 echo (reborn lang NULL) + mod-17 echo (real lang);
    // VERSION AS OF 3 = corpus + mod-13 echo under the ORIGINAL langs
    // and the renamed chars — wrong bytes under a reborn column, a
    // mis-mapped rename, or a positional INSERT misalignment all flip
    // the hash
    "src_txlog_alter_sql" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |base AS (SELECT doc_id, lang, source, n_chars AS chars
        |         FROM documents),
        |a13 AS (SELECT d.doc_id + m.off AS doc_id, d.lang, d.source,
        |               d.n_chars AS chars
        |        FROM documents d, m WHERE d.doc_id % 13 = 0),
        |a17 AS (SELECT d.doc_id + 2 * m.off AS doc_id, d.lang, d.source,
        |               d.n_chars AS chars
        |        FROM documents d, m WHERE d.doc_id % 17 = 0),
        |v3 AS (SELECT * FROM base UNION ALL SELECT * FROM a13),
        |legs AS (
        |  SELECT 'head' AS leg, doc_id, NULL AS lang, source, chars
        |  FROM v3
        |  UNION ALL
        |  SELECT 'head', doc_id, lang, source, chars FROM a17
        |  UNION ALL
        |  SELECT 'v3', doc_id, lang, source, chars FROM v3)
        |SELECT leg, source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM legs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // head after restore(1)+append(slice 2) ≡ the FULL corpus (the
    // re-added bytes must read back exactly); the rolled-back v2 ≡
    // slices 1∪2 (history preserved); each row carries its
    // history-classified operation (the restore's own recorded tag;
    // the compaction-shaped v2 classifies as the generic REWRITE)
    "src_txlog_restore" ->
      """WITH agg AS (
        |  SELECT (CASE WHEN m = 0 THEN 'head' ELSE 'v2_preserved' END)
        |           AS stage,
        |         (CASE WHEN m = 0 THEN 'APPEND' ELSE 'REWRITE' END)
        |           AS operation,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |         CAST(sum(('0x' || substr(md5(
        |                  coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                  coalesce(lang, chr(1)) || '|' ||
        |                  coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
        |                  coalesce(text, chr(1))), 1, 12))::BIGINT
        |                  % 1000000007) AS BIGINT) AS checksum
        |  FROM documents d
        |  JOIN (SELECT 0 AS m UNION ALL SELECT 1) v
        |    ON (v.m = 0) OR (v.m = 1 AND d.doc_id % 3 >= 1)
        |  GROUP BY 1, 2)
        |SELECT * FROM agg ORDER BY stage""".stripMargin,

    // five verbs, five hand-computed rows: rows_added from the
    // original documents' mod-3 slice counts, operations pinned —
    // a misclassified verb or miscounted action flips the hash
    "src_txlog_history" ->
      """WITH c AS (
        |  SELECT CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n1
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT CAST(4 AS BIGINT) AS version, 'RESTORE' AS operation,
        |         1 AS n_adds, 0 AS n_removes, n0 AS rows_added FROM c
        |  UNION ALL SELECT 3, 'DELETE', 0, 1, 0 FROM c
        |  UNION ALL SELECT 2, 'STREAMING_APPEND', 1, 0, n1 FROM c
        |  UNION ALL SELECT 1, 'APPEND', 1, 0, n0 FROM c
        |  UNION ALL SELECT 0, 'CREATE', 0, 0, 0 FROM c)
        |ORDER BY version DESC""".stripMargin,

    // the first-two-types membership replayed over the ORIGINAL events —
    // a passing hash proves the partition+string prune dropped only
    // files the filter rejects entirely
    "src_txlog_skipping_typed" ->
      """WITH t AS (SELECT event_type FROM
        |             (SELECT DISTINCT event_type FROM events
        |              ORDER BY event_type LIMIT 2))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |         AS sum_v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM events
        |WHERE event_type IN (SELECT event_type FROM t)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the SAME oracle for both planning paths — manifest-planned and
    // driver-planned pruning must be indistinguishable in results
    "src_txlog_manifest" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 10000) AS BIGINT) AS v4
        |           FROM events),
        |b AS (SELECT min(ts_us) AS lo,
        |             (max(ts_us) - min(ts_us)) // 4 + 1 AS span FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v4) AS BIGINT) AS sum_v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM e, b
        |WHERE ts_us >= lo + span AND ts_us <= lo + 2 * span + span // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // feeds ALONE rebuild the head: both appends (as inserts), the
    // empty OPTIMIZE feed, then both merges' image sets replayed
    // relationally over the ORIGINAL parquet — merge conditions only
    // ever matched ORIGINAL ids (doc_id < off), the shifted append
    // rows carry through untouched
    "src_txlog_cdf_unified" ->
      """WITH m AS (SELECT max(doc_id) + 1 AS off FROM documents),
        |t0 AS (
        |  SELECT doc_id, lang, source, n_chars FROM documents
        |  UNION ALL
        |  SELECT d.doc_id + m.off, d.lang, d.source, d.n_chars
        |  FROM documents d, m WHERE d.doc_id % 11 = 0
        |),
        |t1 AS (
        |  SELECT t.doc_id, t.lang, t.source,
        |         CASE WHEN t.doc_id < m.off AND t.doc_id % 4 = 1
        |              THEN t.n_chars + 5 ELSE t.n_chars END AS n_chars
        |  FROM t0 t, m
        |  WHERE NOT (t.doc_id < m.off AND t.doc_id % 4 = 1 AND
        |             t.lang IS NOT DISTINCT FROM 'de')
        |),
        |t2 AS (
        |  SELECT t.doc_id, t.lang, t.source,
        |         CASE WHEN t.doc_id < m.off AND t.doc_id % 97 = 0
        |              THEN t.n_chars * 3 ELSE t.n_chars END AS n_chars
        |  FROM t1 t, m
        |  WHERE NOT (t.doc_id < m.off AND t.doc_id % 97 = 0 AND
        |             t.lang IS NOT DISTINCT FROM 'fr')
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM t2 GROUP BY source ORDER BY source""".stripMargin,

    // the same window replay — the incrementally-maintained manifest
    // must serve results identical to a full rebuild's
    "src_txlog_manifest_inc" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 10000) AS BIGINT) AS v4
        |           FROM events),
        |b AS (SELECT min(ts_us) AS lo,
        |             (max(ts_us) - min(ts_us)) // 4 + 1 AS span FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v4) AS BIGINT) AS sum_v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM e, b
        |WHERE ts_us >= lo + span AND ts_us <= lo + 2 * span + span // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same mid-span window over the ORIGINAL events (identical
    // integer span math) — a passing hash proves the stats-pruned read
    // dropped only files the filter rejects entirely
    "src_txlog_skipping" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 10000) AS BIGINT) AS v4
        |           FROM events),
        |b AS (SELECT min(ts_us) AS lo,
        |             (max(ts_us) - min(ts_us)) // 4 + 1 AS span FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v4) AS BIGINT) AS sum_v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM e, b
        |WHERE ts_us >= lo + span AND ts_us <= lo + 2 * span + span // 2
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // both snapshot shapes replayed over the ORIGINAL parquet: v0 = the
    // even half under the 3-column schema; head = everything under the
    // evolved 4-column schema, with v0's rows contributing a NULL
    // `source` (the sentinel hashes it, mirroring the null-filled
    // evolution read)
    "src_txlog_evolution" ->
      """SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS version,
        |         CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |         CAST(NULL AS BIGINT) AS n_null_source,
        |         CAST(sum(('0x' || substr(md5(
        |                  coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                  coalesce(lang, chr(1)) || '|' ||
        |                  coalesce(n_chars::VARCHAR, chr(1))), 1, 12))::BIGINT
        |                  % 1000000007) AS BIGINT) AS checksum
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT),
        |         CAST(count(*) AS BIGINT),
        |         CAST(sum(n_chars) AS BIGINT),
        |         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |           AS BIGINT),
        |         CAST(sum(('0x' || substr(md5(
        |                  coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                  coalesce(lang, chr(1)) || '|' ||
        |                  coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
        |                  CASE WHEN doc_id % 2 = 0 THEN chr(1)
        |                       ELSE coalesce(source, chr(1)) END),
        |                  1, 12))::BIGINT
        |                  % 1000000007) AS BIGINT)
        |  FROM documents)
        |ORDER BY version""".stripMargin,

    // the same 2-dim window (user band AND time quarter, identical
    // integer span math) over the ORIGINAL events — a passing hash proves
    // the z-clustered prune dropped only dirs the filter rejects entirely
    "src_txlog_zorder_optimize" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |                  epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 10000) AS BIGINT) AS v4
        |           FROM events),
        |b AS (SELECT min(ts_us) AS tlo,
        |             (max(ts_us) - min(ts_us)) // 4 + 1 AS tspan,
        |             min(user_id) AS ulo,
        |             (max(user_id) - min(user_id)) // 4 AS uq
        |      FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v4) AS BIGINT) AS sum_v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM e, b
        |WHERE ts_us >= tlo + tspan AND ts_us <= tlo + 2 * tspan - 1
        |  AND user_id >= ulo AND user_id <= ulo + uq
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // slice membership per version (the src_txlog_optimize posture):
    // v1 = sixths {0,1}, v3 = {0..3}, v5 = everything — checkpointed and
    // full-walk planning must hash identically
    "src_txlog_checkpoint" ->
      """SELECT CAST(v.version AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
        |                coalesce(text, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM documents d
        |JOIN (SELECT 1 AS version UNION ALL SELECT 3
        |      UNION ALL SELECT 5) v
        |  ON d.doc_id % 6 <= v.version
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // segment membership replayed by the chunk quartile rule: versions
    // 0..3 hold ts-quartile chunks, so segment 0 = the first two
    // quartiles, segment 1 = the rest — the stitched incremental reads
    // must BE the table
    "src_txlog_incremental" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |                  CAST(round(value * 10000) AS BIGINT) AS v4
        |           FROM events),
        |b AS (SELECT min(ts_us) AS lo,
        |             (max(ts_us) - min(ts_us)) // 4 + 1 AS span FROM e)
        |SELECT CAST(CASE WHEN ts_us < lo + 2 * span THEN 0 ELSE 1 END
        |         AS BIGINT) AS segment,
        |       event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(v4) AS BIGINT) AS sum_v4,
        |       CAST(sum(event_id % 1000000007) AS BIGINT) AS id_checksum
        |FROM e, b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // slice membership per version: v0 = its sixth, v5 = everything,
    // v6 (post-OPTIMIZE) = everything — v6 ≡ v5 IS the compaction
    // invariant being hashed
    "src_txlog_optimize" ->
      """SELECT CAST(v.version AS BIGINT) AS version,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(sum(('0x' || substr(md5(
        |                coalesce(doc_id::VARCHAR, chr(1)) || '|' ||
        |                coalesce(lang, chr(1)) || '|' ||
        |                coalesce(n_chars::VARCHAR, chr(1)) || '|' ||
        |                coalesce(text, chr(1))), 1, 12))::BIGINT
        |                % 1000000007) AS BIGINT) AS checksum
        |FROM documents d
        |JOIN (SELECT 0 AS version UNION ALL SELECT 5
        |      UNION ALL SELECT 6) v
        |  ON (v.version = 0 AND d.doc_id % 6 = 0) OR v.version >= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
