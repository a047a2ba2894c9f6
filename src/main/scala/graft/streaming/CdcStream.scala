package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.cdc.TxLogMaterialize

/** A change event as it arrives on a stream — the reference's
  * HandleFunc tuple (postrack.go:35) with the row images flattened to the
  * demo payload columns. A real deployment maps its WAL feed (Kafka topic,
  * file drop, socket) onto this case class; everything downstream is
  * source-agnostic. */
final case class Change(
    lsn: Long, tableName: String, op: String, pk: Long, tsUs: Long, value: Double)

/** Current materialized row per (table, pk) key — like the batch Apply
  * operators, streaming state keys on the pair so a multi-table feed can
  * never pair or override keys across tables. */
final case class Snapshot(
    table: String, pk: Long, lsn: Long, op: String, value: Double, tombstoned: Boolean)

/** A closed SCD-2 validity interval. */
final case class Scd2Closed(
    table: String, pk: Long, value: Double,
    validFromUs: Long, validToUs: Long, openedByLsn: Long)

/** Structured Streaming operators over a CDC feed — the continuous versions
  * of graft.cdc.Apply. State is strictly per-key and O(1) per key (one
  * Snapshot), so state store size is bounded by live-key cardinality — the
  * property that keeps this viable on a 100 TB keyspace with RocksDB state
  * stores.
  */
object CdcStream {

  /** Continuous latest-snapshot: per-key state keeps the highest-LSN change
    * seen; each micro-batch emits the new current row for every key whose
    * state actually advanced (update semantics; tombstoned=true marks a
    * deletion for the sink — batches carrying only stale LSNs emit nothing).
    * Out-of-order events within/across batches resolve by LSN, mirroring the
    * batch operator (Apply.latestSnapshot).
    *
    * State bound: live keys stay forever; with `tombstoneRetention` set,
    * TOMBSTONED keys get a processing-time timeout after which their state
    * is removed — they only exist to beat late replays of pre-delete
    * events, and the retention window is how long that protection lasts.
    * Without eviction, insert→delete churn grows state with keys-ever-seen,
    * so production deployments should set it. Default is None because the
    * timeout machinery schedules continuous empty micro-batches, which a
    * synchronous test harness (processAllAvailable) cannot drain. */
  def latestSnapshot(
      changes: Dataset[Change],
      tombstoneRetention: Option[String] = None): Dataset[Snapshot] = {
    import changes.sparkSession.implicits._
    val timeoutConf = if (tombstoneRetention.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    changes
      .groupByKey(c => (c.tableName, c.pk))
      .flatMapGroupsWithState[Snapshot, Snapshot](OutputMode.Update, timeoutConf) {
        (key: (String, Long), it: Iterator[Change], state: GroupState[Snapshot]) =>
          if (tombstoneRetention.isDefined && state.hasTimedOut) {
            state.remove() // expired tombstone
            Iterator.empty
          } else {
            val incoming = it.maxBy(_.lsn)
            state.getOption match {
              case Some(prev) if prev.lsn >= incoming.lsn =>
                // stale replay: no state change, no output — but every
                // invocation CLEARS a pending GroupState timeout, so a
                // tombstone hit by a replay must re-arm its eviction or it
                // leaks forever
                if (prev.tombstoned) tombstoneRetention.foreach(state.setTimeoutDuration)
                Iterator.empty
              case _ =>
                val best = Snapshot(key._1, key._2, incoming.lsn, incoming.op,
                  incoming.value, tombstoned = incoming.op == "DELETE")
                state.update(best)
                if (best.tombstoned)
                  tombstoneRetention.foreach(state.setTimeoutDuration)
                Iterator.single(best)
            }
          }
      }
  }

  /** Windowed changelog rates with a watermark — the streaming version of
    * Apply.changelogStats (the reference's keepAlive/monitoring loop,
    * postrack.go:98-109). Late data beyond the watermark is dropped, so
    * state is bounded. */
  def changelogRates(changes: DataFrame, window_ : String, watermark: String): DataFrame =
    changes
      .withColumn("ts_t", timestamp_micros(col("tsUs")))
      .withWatermark("ts_t", watermark)
      .groupBy(window(col("ts_t"), window_), col("tableName"), col("op"))
      .agg(count(lit(1)).as("n_events"), max("lsn").as("watermark_lsn"))

  /** Continuous SCD-2: each change CLOSES the previous interval of its key;
    * closed intervals are emitted exactly once (append mode), the open
    * interval lives only in state (query the latest-snapshot view for
    * current rows). State per key = one Change — same O(live keys) bound as
    * latestSnapshot. */
  def scd2Stream(changes: Dataset[Change]): Dataset[Scd2Closed] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(c => (c.tableName, c.pk))
      .flatMapGroupsWithState[Change, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), it: Iterator[Change], state: GroupState[Change]) =>
          // replay/late guard: events at or below the state's LSN would emit
          // overlapping or duplicate closed intervals into the append sink,
          // so they are dropped — same LSN-monotone resolution as
          // latestSnapshot (an acked LSN can be re-sent after reconnect)
          val floor = state.getOption.map(_.lsn).getOrElse(Long.MinValue)
          val fresh = it.toSeq.filter(_.lsn > floor)
            .groupBy(_.lsn).map(_._2.head).toSeq.sortBy(_.lsn)
          if (fresh.isEmpty) Iterator.empty
          else {
            val ordered = state.getOption.toSeq ++ fresh
            state.update(ordered.last)
            ordered.sliding(2).collect {
              case Seq(a, b) => Scd2Closed(key._1, key._2, a.value, a.tsUs, b.tsUs, a.lsn)
            }
          }
      }
  }

  /** Stream-stream interval join (the streaming twin of q_range_join):
    * right events join left events of the same key within (0, `withinUs`]
    * after them. Watermarks on BOTH sides bound the join state — Spark
    * retains only rows inside the watermark window, so state is
    * O(rate × window), not O(stream). */
  def intervalJoin(
      left: Dataset[Change], right: Dataset[Change],
      withinUs: Long, watermark: String): DataFrame = {
    val l = left.toDF()
      .withColumn("l_ts", timestamp_micros(col("tsUs")))
      .withWatermark("l_ts", watermark)
      .select(col("lsn").as("l_lsn"), col("tableName").as("l_table"),
        col("pk").as("l_pk"), col("l_ts"), col("value").as("l_value"))
    val r = right.toDF()
      .withColumn("r_ts", timestamp_micros(col("tsUs")))
      .withWatermark("r_ts", watermark)
      .select(col("lsn").as("r_lsn"), col("tableName").as("r_table"),
        col("pk").as("r_pk"), col("r_ts"), col("value").as("r_value"))
    l.join(r,
      col("l_table") === col("r_table") && col("l_pk") === col("r_pk") &&
        col("r_ts") > col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $withinUs MICROSECOND"))
      .select(col("l_lsn"), col("r_lsn"), col("l_table").as("table"),
        col("l_pk").as("pk"), col("l_value"), col("r_value"))
  }

  /** Gap-based session windows over the change stream (the streaming twin
    * of Relational.sessionize / q_sessionize): sessions close when no event
    * arrives for `gap`, and are emitted once the watermark passes — bounded
    * state, exact sessions, no custom state code (`session_window` merges
    * and times out sessions inside the state store). */
  def sessionWindows(changes: Dataset[Change], gap: String, watermark: String): DataFrame =
    changes
      .withColumn("ts_t", timestamp_micros(col("tsUs")))
      .withWatermark("ts_t", watermark)
      .groupBy(session_window(col("ts_t"), gap).as("w"), col("tableName"), col("pk"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
      .select(unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"),
        col("tableName").as("table"), col("pk"), col("n_events"), col("sum_value"))

  /** Exactly-once delivery on top of an at-least-once feed: drop replayed
    * LSNs within the watermark horizon. State is bounded by the watermark —
    * the same trade the reference's LSN-ack loop makes (an acked LSN can
    * still be re-sent after a reconnect; consumers must dedup). */
  def dedupWithinWatermark(changes: Dataset[Change], watermark: String): Dataset[Change] = {
    import changes.sparkSession.implicits._
    changes
      .withColumn("ts_t", timestamp_micros(col("tsUs")))
      .withWatermark("ts_t", watermark)
      .dropDuplicatesWithinWatermark("lsn")
      .drop("ts_t")
      .as[Change]
  }

  /** Continuously materialize the current-state view of a change stream
    * into a TxLog table — the complete postrack consumer: capture feed
    * in, queryable table out. Each micro-batch is MERGED by
    * [[graft.cdc.TxLogMaterialize.applyBatch]] (per-key highest LSN wins,
    * DELETEs kept as storage tombstones, one version per batch), so a
    * checkpoint-recovery replay verifies and skips: exactly-once from
    * checkpointed source offsets plus batch-keyed commits. Read the live
    * rows (at any version) with `TxLogMaterialize.snapshot`, tombstones
    * included with `TxLog.readWithLogSchema` (one log walk, map-aware). */
  def materializeSnapshot(
      changes: Dataset[Change], table: String, checkpointDir: String): StreamingQuery =
    changes.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        TxLogMaterialize.applyBatch(batch, table, batchId)
      }
      .start()

  /** File-drop CDC source: a directory where the capture side appends
    * parquet change batches becomes a streaming DataFrame with the Change
    * schema — the simplest durable transport from a postrack-style capture
    * process into Spark. */
  def fileSource(spark: SparkSession, dir: String): Dataset[Change] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Change]].schema)
      .parquet(dir)
      .as[Change]
  }

  /** Incrementally MAINTAINED aggregate of the live snapshot — classic
    * incremental view maintenance (the delta rule for `SELECT table,
    * count(*), sum(value) FROM snapshot GROUP BY table`), continuously
    * correct WITHOUT ever rescanning the table:
    *
    *  - stage 1, keyed by (table, pk): per-key state is the current row
    *    image (lsn, live, cents); each arriving change — processed in LSN
    *    order, stale replays dropped by the stored LSN exactly like
    *    [[latestSnapshot]] — emits its aggregate DELTA (insert → +v/+1,
    *    update → +v−old/0, delete → −old/−1), folded over the batch so a
    *    key's insert→update→delete within one batch nets to nothing;
    *  - stage 2: a streaming groupBy(table) sum of the deltas — O(tables)
    *    state.
    *
    * Values fold as cents-scaled LONGS, so the maintained total is exactly
    * the batch recompute under any delta order/batching (a float fold
    * would drift by (re)association); the one division to display units
    * happens at emission. State: one small row per live pk (stage 1) +
    * one per table (stage 2). */
  def maintainedAgg(changes: Dataset[Change]): DataFrame = {
    import changes.sparkSession.implicits._
    val deltas = changes
      .groupByKey(c => (c.tableName, c.pk))
      .flatMapGroupsWithState[RowImage, AggDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), it: Iterator[Change], state: GroupState[RowImage]) =>
          var st = state.getOption.getOrElse(RowImage(Long.MinValue, live = false, 0L))
          var dSum = 0L
          var dCnt = 0L
          it.toVector.sortBy(_.lsn).foreach { c =>
            if (c.lsn > st.lsn) {
              val cents = Cents(c.value * 100) // SQL-round parity (see Cents)
              if (c.op == "DELETE") {
                if (st.live) { dSum -= st.cents; dCnt -= 1 }
                st = RowImage(c.lsn, live = false, 0L)
              } else { // INSERT or UPDATE: the new current image
                if (st.live) dSum -= st.cents else dCnt += 1
                dSum += cents
                st = RowImage(c.lsn, live = true, cents)
              }
            }
          }
          state.update(st)
          if (dSum != 0L || dCnt != 0L)
            Iterator.single(AggDelta(key._1, dSum, dCnt))
          else Iterator.empty
      }
    deltas.groupBy(col("table"))
      .agg(sum("dSumCents").as("sum_cents"), sum("dCount").as("live_rows"))
      .select(col("table"), col("live_rows"),
        (col("sum_cents") / lit(100.0)).as("sum_value"))
  }
}

/** Stage-1 IVM state: the current row image of one (table, pk). */
final case class RowImage(lsn: Long, live: Boolean, cents: Long)

/** One aggregate delta emitted by the IVM stage-1 operator. */
final case class AggDelta(table: String, dSumCents: Long, dCount: Long)
