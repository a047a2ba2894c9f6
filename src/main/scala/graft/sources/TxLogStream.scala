package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftshim.StreamingBridge
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

/** THE TxLog streaming connector: one V1 source and one V1 sink, reached
  * by `readStream.format("txlog")` / `writeStream.format("txlog")` (the
  * registered short name, [[TxLogDataSource]]) and, for the source, by
  * this provider's class name too. Offsets are COMMIT VERSIONS: batch
  * (v₀, v₁] delivers exactly the rows the commits in that window added,
  * via [[TxLog.readChanges]], and the sink commits each micro-batch
  * through [[TxLog.commitBatch]], whose producer-transaction watermark
  * absorbs replays. A replayable source plus an idempotent sink is the
  * whole exactly-once contract, so a TxLog→transform→TxLog pipeline
  * composes end-to-end exactly-once. This completes what the reference's
  * consumer loop exists for (postrack.go:96-117 hands each change to a
  * HandleFunc callback, and acks a resumable watermark): here the
  * "callback" is a full Spark streaming query over the change feed.
  *
  * Every data file both halves touch is read and written by Spark's own
  * parquet path, so every column type streams. The seams into Spark
  * internals are the two [[StreamingBridge]] moves Spark's own V1
  * connectors make: the source re-tags its batch-planned scan as
  * streaming (FileStreamSource.getBatch), and the sink turns the
  * incremental batch into a plain batch frame (ForeachBatchSink).
  *
  * Source contract highlights:
  *  - LOUD on in-window rewrites: an OPTIMIZE inside an undelivered
  *    window would re-deliver rewritten rows as changes — readChanges
  *    refuses (re-baseline instead), never silently duplicates.
  *  - Truncation-safe: a consumer starting fresh on a checkpointed,
  *    truncated log gets the checkpoint snapshot as its first batch
  *    (readChanges fromVersion = -1), then follows the suffix.
  *  - `maxVersionsPerTrigger` paces catch-up: each trigger advances the
  *    offset at most that many commits (the maxFilesPerTrigger idea),
  *    so a consumer rebuilding against a long history streams it in
  *    bounded batches instead of one giant first batch.
  *  - Start pins: `startVersion` (deliver (v, head]; default −1 on the
  *    file feed — everything — and 0 on the cdf feed) or
  *    `startTimestamp` (every commit whose durable instant is at-or-after
  *    it — the Delta startingTimestamp idea, the clock timestampAsOf
  *    reads); setting both is loud.
  *  - Scale: getOffset is one O(log listing) metadata probe; getBatch
  *    plans a plain multi-dir parquet scan over just the window's dirs
  *    (pushdown/pruning/codegen untouched — the scan a batch read of
  *    those commits would plan).
  *
  * Usage:
  * {{{
  * spark.readStream.format("txlog")
  *   .schema(ddl).option("path", table)
  *   .option("maxVersionsPerTrigger", "1").load()
  *   .writeStream.format("txlog").option("path", downstream)
  *   .option("checkpointLocation", ckpt).start()
  * }}} */
class TxLogStreamSourceProvider extends StreamSourceProvider {

  private def tableOf(params: Map[String, String]): String =
    params.getOrElse("path", throw new IllegalArgumentException(
      "TxLog stream source needs .option(\"path\", <table dir>)"))

  private def schemaOf(s: SparkSession, schema: Option[StructType],
      params: Map[String, String]): StructType =
    schema.orElse(TxLog.logSchema(s, tableOf(params))).getOrElse(
      throw new IllegalArgumentException(
        s"${tableOf(params)}: no schema declared and none recorded in " +
          "the log — declare one with .schema(...)"))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, params: Map[String, String]): (String, StructType) = {
    val row = schemaOf(ctx.sparkSession, schema, params)
    ("txlog",
      if (params.get("feed").contains("cdf")) TxLogStreamSource.cdfSchema(row)
      else row)
  }

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      params: Map[String, String]): Source = {
    val s = ctx.sparkSession
    val table = tableOf(params)
    val cdf = params.get("feed").contains("cdf")
    val startTs = params.get("startTimestamp")
      .map(TxLogDataSource.parseTsMillis)
    require(startTs.isEmpty || params.get("startVersion").isEmpty,
      s"$table: startVersion and startTimestamp are mutually exclusive")
    val startVersion = params.get("startVersion").map(_.toLong)
      .orElse(startTs.map { ts =>
        // start offset = the snapshot strictly BEFORE the instant, so
        // every commit at-or-after it is delivered; an instant before
        // the whole surviving history starts at −1 (deliver everything)
        try TxLog.versionAtTimestamp(s, table, ts - 1L)
        catch { case _: IllegalArgumentException => -1L }
      }).getOrElse(if (cdf) 0L else -1L)
    new TxLogStreamSource(s, table, schemaOf(s, schema, params),
      params.get("maxVersionsPerTrigger").map(_.toLong), cdf, startVersion)
  }
}

object TxLogStreamSource {
  /** The CDF stream's row shape: the table row plus the change class
    * and the commit version it belongs to (consumers apply per-version
    * in order — the column IS the ordering key). */
  def cdfSchema(row: StructType): StructType =
    row.add("_change_type", "string").add("_version", "long")
}

/** A fresh stream follows (`startVersion`, head]. The file feed delivers
  * the added files of each commit; `startVersion = -1` (its default)
  * makes the first batch the whole table. `cdf = true` follows the
  * table's MERGE CHANGE FEED instead (r13): each trigger delivers the
  * `_changes/v` rows of the next commits — the consumer contract for a
  * MERGING table, whose rewrites `readChanges` correctly refuses. There
  * is no initial snapshot in that feed: the consumer seeds from a
  * snapshot read at `startVersion` (default 0) and the stream follows; a
  * followed version with no recorded feed is LOUD (silence must not read
  * as no-changes). */
class TxLogStreamSource(s: SparkSession, table: String,
    rowSchema: StructType, maxVersionsPerTrigger: Option[Long],
    cdf: Boolean, startVersion: Long)
    extends Source {

  maxVersionsPerTrigger.foreach(k => require(k > 0,
    s"maxVersionsPerTrigger must be positive, got $k"))

  /** Highest version this source has handed out or seen committed —
    * the catch-up pacing base. Restart-safe: Spark re-plays the last
    * planned batch (getBatch) and re-commits recovered offsets before
    * asking for new ones, both of which restore this watermark. */
  @volatile private var deliveredUpTo: Option[Long] = None

  private def ver(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case so: SerializedOffset => LongOffset(so).offset
    case other => other.json.trim.toLong
  }

  private def advance(v: Long): Unit = synchronized {
    if (!deliveredUpTo.exists(_ >= v)) deliveredUpTo = Some(v)
  }

  private val effectiveSchema: StructType =
    if (cdf) TxLogStreamSource.cdfSchema(rowSchema) else rowSchema

  override def schema: StructType = effectiveSchema

  override def getOffset: Option[Offset] =
    TxLog.currentVersion(s, table).map { head =>
      val end = maxVersionsPerTrigger match {
        case Some(k) =>
          // pace catch-up from the last delivered version; before any
          // delivery (fresh stream) the first batch is the window
          // (startVersion, min(head, startVersion+k)]
          math.min(head, deliveredUpTo.getOrElse(startVersion) + k)
        case None => head
      }
      LongOffset(math.max(end, startVersion))
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(ver).getOrElse(startVersion)
    val to = ver(end)
    advance(to)
    if (to <= from) StreamingBridge.emptyStreaming(s, effectiveSchema)
    else if (cdf) {
      import org.apache.spark.sql.functions.lit
      val parts = ((from + 1) to to).map(v =>
        TxLogMerge.readChangeFeed(s, table, rowSchema, v)
          .withColumn("_version", lit(v)))
      StreamingBridge.asStreaming(parts.reduce(_ unionByName _))
    } else StreamingBridge.asStreaming(
      TxLog.readChanges(s, table, rowSchema, from, to))
  }

  override def commit(end: Offset): Unit = advance(ver(end))

  override def stop(): Unit = ()

  override def toString: String = s"TxLogStreamSource[$table]"
}

/** The TxLog streaming SINK (`writeStream.format("txlog")`, append output
  * mode): each micro-batch commits through [[TxLog.commitBatch]] under
  * producer `appId` (`option("appId", …)`; default `sw-<queryId>` — the
  * streaming query's durable id, stable across restarts from one
  * checkpoint), so a restart-replayed batch verifies and skips, and an
  * interleaved foreign commit (OPTIMIZE, a second producer) retries the
  * CAS. The first commit into a table with no log records the batch's
  * schema. `statsCols` (comma-separated) records per-dir min/max
  * envelopes for data skipping, as everywhere. */
class TxLogSink(table: String, appId: Option[String], statsCols: Seq[String])
    extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the durable query id the stream thread carries
    // (StreamExecution.QUERY_ID_KEY); unknown when the sink is created
    val producer = appId.getOrElse("sw-" +
      data.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId"))
    TxLog.commitBatch(StreamingBridge.batchOf(data), table, batchId,
      statsCols, producer)
  }

  override def toString: String = s"txlog:$table"
}
