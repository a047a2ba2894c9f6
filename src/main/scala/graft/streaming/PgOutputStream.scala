package graft.streaming

import java.nio.ByteBuffer

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.cdc.{ChangeEvent, PgOutput, RelationMsg, RelationRegistry, SlotStore, TruncateMsg}

/** Streaming pgoutput decode — the reference's live capture loop
  * (postrack.go:343-413: read XLogData, parse, dispatch) re-expressed as a
  * stateful Structured Streaming transform, so a capture process that drops
  * raw frames into a directory becomes a continuously decoded ChangeEvent
  * stream with checkpointed schema state.
  *
  * Scale/state shape: frames are keyed by relation id, and the per-group
  * state is that relation's LSN-versioned schema history — O(#schema
  * versions) per table, not O(events). RelationMessages update the state;
  * data messages decode against the latest version at-or-before their LSN
  * (same registry semantics as the batch `PgOutput.decodeFeed`). The state
  * survives micro-batches and restarts (checkpointed), which is what lets a
  * relation registered in batch 1 decode data arriving hours later, and a
  * mid-stream schema change (new RelationMessage) take effect exactly from
  * its LSN onward.
  */
object PgOutputStream {

  /** Relation id a frame belongs to, without a full decode: 'R'/'I'/'U'/'D'
    * carry it as the int32 right after the type byte. */
  private def peekRelId(bytes: Array[Byte]): Int = ByteBuffer.wrap(bytes).getInt(1)

  /** Route a raw frame to its relation group(s). TRUNCATE lists several
    * relations in one frame — split it into per-relation single-id TRUNCATE
    * frames so each group's schema state stays self-contained. The frame
    * types that carry no events (`PgOutput.NoEventTypes`: Begin/Commit,
    * whose LSN bookkeeping lives in the slot store, and the benign
    * Type/Origin/Message metadata) are dropped, as in the batch decode.
    * Anything else is a protocol error and fails with a labeled
    * exception. */
  private def route(lsn: Long, bytes: Array[Byte]): Iterator[(Int, Long, Array[Byte])] =
    bytes(0).toChar match {
      case 'R' | 'I' | 'U' | 'D' => Iterator.single((peekRelId(bytes), lsn, bytes))
      case 'T' =>
        val t = PgOutput.decode(bytes).asInstanceOf[TruncateMsg]
        t.relationIds.iterator.map(id =>
          (id, lsn, PgOutput.encode(TruncateMsg(t.options, Seq(id)))))
      case t if PgOutput.NoEventTypes(t) => Iterator.empty
      case other => throw new IllegalArgumentException(
        s"unknown pgoutput frame type '$other' at lsn $lsn")
    }

  /** `frames`: streaming (lsn, data) raw pgoutput frames, e.g. from
    * `frameSource`. Returns the decoded ChangeEvent stream (append mode). */
  def decodeStream(spark: SparkSession, frames: Dataset[(Long, Array[Byte])]): Dataset[ChangeEvent] = {
    import spark.implicits._
    frames
      .flatMap { case (lsn, bytes) => route(lsn, bytes) }
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (relId: Int, it: Iterator[(Int, Long, Array[Byte])],
         state: GroupState[Seq[(Long, RelationMsg)]]) =>
          // sort by LSN so a RelationMessage in this batch registers before
          // the data frames behind it (file-source batches are unordered)
          val batch = it.toSeq.sortBy(_._2)
          var versions = state.getOption.getOrElse(Seq.empty)
          var registry = RelationRegistry.build(versions)
          val out = Seq.newBuilder[ChangeEvent]
          batch.foreach { case (_, lsn, bytes) =>
            if (bytes(0) == 'R'.toByte) {
              versions :+= (lsn -> PgOutput.decode(bytes).asInstanceOf[RelationMsg])
              registry = RelationRegistry.build(versions)
            } else out ++= PgOutput.toEvents(registry, lsn, bytes)
          }
          state.update(versions)
          out.result().iterator
      }
  }

  /** File-drop source of raw pgoutput frames: the capture side appends
    * parquet batches of (lsn long, data binary) — the durable transport from
    * a postrack-style capture process into the streaming decode. */
  def frameSource(spark: SparkSession, dir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    spark.readStream
      .schema("lsn LONG, data BINARY")
      .parquet(dir)
      .as[(Long, Array[Byte])]
  }

  /** Frame source resuming from a slot's durable watermark: only frames
    * STRICTLY AFTER `confirmedFlushLsn` enter the decode — the
    * `Changes(lsn+1)` / StartReplication contract (postrack.go:285-309).
    * The watermark is read ONCE, at query build: resume position is a
    * start-of-stream decision (as in the reference, which sends it in
    * START_REPLICATION), not a per-batch filter. */
  def resumeFrames(spark: SparkSession, dir: String,
      slots: SlotStore, slot: String): Dataset[(Long, Array[Byte])] = {
    val watermark = slots.confirmedFlushLsn(slot)
    frameSource(spark, dir).filter(col("lsn") > watermark)
  }

  /** The reference's keepAlive/ack loop (postrack.go:98-117) as a streaming
    * sink: every micro-batch is handed to `handle` (the HandleFunc analog —
    * write to a lake table, feed a snapshot merge, ...) and then the batch's
    * max decoded LSN is acked into the durable [[SlotStore]], exactly like
    * the capture loop acking `confirmed_flush_lsn` while streaming.
    *
    * Ack strictly AFTER a successful handle — the reference dispatches the
    * change before the watermark moves, so a crash between the two replays
    * the batch (at-least-once into `handle`) rather than losing it; the
    * monotone store makes the re-ack a no-op. A restart that builds its
    * frames with [[resumeFrames]] then sees only un-acked LSNs: no loss, no
    * duplication (spec'd in StreamingSpec). */
  def captureTo(events: Dataset[ChangeEvent], checkpointDir: String,
      slots: SlotStore, slot: String)(
      handle: Dataset[ChangeEvent] => Unit): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (batch: Dataset[ChangeEvent], _: Long) =>
        // one action for both the delivery and the ack watermark: cache the
        // micro-batch (bounded by trigger size) instead of recomputing the
        // decode for the max()
        batch.persist()
        try {
          handle(batch)
          val maxLsn = batch.agg(max(col("lsn"))).head()
          if (!maxLsn.isNullAt(0)) slots.ack(slot, maxLsn.getLong(0))
        } finally batch.unpersist()
        ()
      }
      .start()
}
