package graft.cdc

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Typed pgoutput logical-replication messages — the wire format the
  * reference consumes via pglogrepl.Parse (postrack.go:362) and dispatches in
  * its handler switch (postrack.go:368-411). Layout follows the public
  * PostgreSQL "Logical Replication Message Formats" protocol docs
  * (protocol version 1, the version the reference requests,
  * postrack.go:299-301): big-endian integers, NUL-terminated UTF-8 strings,
  * text-format tuple columns.
  */
sealed trait PgMessage

final case class PgColumn(flags: Byte, name: String, typeOid: Int, typeMod: Int)

/** 'R' — registers relation id → (namespace, name, column names); the
  * reference keeps the two maps `tables`/`columns` from exactly this message
  * (postrack.go:369-376). */
final case class RelationMsg(
    relationId: Int, namespace: String, name: String,
    replicaIdentity: Byte, columns: Seq[PgColumn]) extends PgMessage

/** One decoded tuple: None = null ('n') or unchanged-TOAST ('u') column,
  * Some(text) = a text-format ('t') column value. */
final case class PgTuple(columns: Seq[Option[String]])

final case class InsertMsg(relationId: Int, newTuple: PgTuple) extends PgMessage

/** `oldKind` is 'K' (replica-identity key) or 'O' (full old row) when the
  * old tuple is present — the reference's `data.OldTuple != nil` branch
  * (postrack.go:387-392). The two options travel together: kind-without-
  * tuple (or vice versa) is unrepresentable on the wire, so it fails here
  * with a clear message instead of an opaque `oldTuple.get` inside encode. */
final case class UpdateMsg(
    relationId: Int, oldKind: Option[Byte], oldTuple: Option[PgTuple],
    newTuple: PgTuple) extends PgMessage {
  require(oldKind.isDefined == oldTuple.isDefined,
    s"UpdateMsg: oldKind and oldTuple must be both present or both absent " +
      s"(got oldKind=$oldKind, oldTuple ${if (oldTuple.isDefined) "present" else "absent"})")
}

final case class DeleteMsg(relationId: Int, oldKind: Byte, oldTuple: PgTuple) extends PgMessage

final case class TruncateMsg(options: Byte, relationIds: Seq[Int]) extends PgMessage

final case class BeginMsg(finalLsn: Long, commitTsUs: Long, xid: Int) extends PgMessage

final case class CommitMsg(flags: Byte, commitLsn: Long, endLsn: Long, tsUs: Long) extends PgMessage

/** pgoutput Type message ('Y'): metadata for a non-built-in column type
  * (sent before the first Relation that references it) — typeId is the
  * type's OID, ns/name its qualified name. Carried for catalog
  * completeness: with it, EVERY message type in the public pgoutput
  * protocol (v1, v2, 2PC) decodes — nothing is skipped as opaque. */
final case class TypeMsg(typeId: Int, ns: String, name: String) extends PgMessage

/** pgoutput Origin message ('O'): the transaction that follows was
  * REPLICATED from another node — `commitLsn` is its commit position on
  * the origin, `name` the replication-origin identifier. The loop-breaker
  * of bidirectional/multi-master replication: a subscriber with
  * `origin = none` must skip such transactions or changes ping-pong
  * between the nodes forever. Sent once per transaction, after Begin. */
final case class OriginMsg(commitLsn: Long, name: String) extends PgMessage

// --------------------------------------------------------------------------
// Protocol v2 — streamed in-progress transactions (public PostgreSQL
// "Logical Replication Message Formats" docs, messages available since
// protocol version 2). The reference pins v1 (postrack.go:299-301); v2 is
// the extension that lets a primary ship a LARGE transaction in segments
// BEFORE it commits, so the capture side never buffers a whole 100 GB
// transaction behind its commit record.

/** 'S' — opens a stream segment of in-progress transaction `xid`;
  * `firstSegment` is the protocol's first-segment flag (Int8 = 1 on the
  * first segment of each xid). Every message between this and the matching
  * StreamStop belongs to `xid` and carries an Int32 xid right after its
  * type byte (see [[StreamedMsg]]). */
final case class StreamStartMsg(xid: Int, firstSegment: Boolean) extends PgMessage

/** 'E' — closes the current stream segment. No payload. */
case object StreamStopMsg extends PgMessage

/** 'c' (lowercase — distinct from the v1 Commit 'C') — commits a streamed
  * transaction: everything shipped in its segments becomes visible. */
final case class StreamCommitMsg(
    xid: Int, flags: Byte, commitLsn: Long, endLsn: Long, tsUs: Long) extends PgMessage

/** 'A' — aborts a streamed transaction (or a subtransaction of it):
  * every segment already shipped for `xid` must be discarded. Protocol v2
  * carries (xid, subXid); the v4 abort-LSN/timestamp extension is out of
  * scope (we pin v2). */
final case class StreamAbortMsg(xid: Int, subXid: Int) extends PgMessage

/** A data message that arrived INSIDE a stream segment: the wire layout is
  * the v1 message with an Int32 `xid` spliced between the type byte and the
  * body (the protocol's "Xid of the transaction, only present for streamed
  * transactions" field). */
final case class StreamedMsg(xid: Int, inner: PgMessage) extends PgMessage

// --------------------------------------------------------------------------
// Two-phase commit (the `two_phase` subscription option, public protocol
// docs): a PREPARE TRANSACTION ships its changes at prepare time as a
// Begin Prepare … data … Prepare block; the changes become visible only
// when a later Commit Prepared arrives, and Rollback Prepared discards
// them. The durable handle across the gap is the GID (the user-chosen
// global transaction identifier).

/** 'b' — opens a prepared transaction's change block. */
final case class BeginPrepareMsg(
    prepareLsn: Long, endLsn: Long, tsUs: Long, xid: Int, gid: String) extends PgMessage

/** 'P' — closes the block: the transaction is now PREPARED (durable,
  * fate unknown). */
final case class PrepareMsg(
    flags: Byte, prepareLsn: Long, endLsn: Long, tsUs: Long,
    xid: Int, gid: String) extends PgMessage

/** 'K' — a previously prepared transaction committed: its block's changes
  * become visible. */
final case class CommitPreparedMsg(
    flags: Byte, commitLsn: Long, endLsn: Long, tsUs: Long,
    xid: Int, gid: String) extends PgMessage

/** 'r' — a previously prepared transaction rolled back: its block's
  * changes are discarded. */
final case class RollbackPreparedMsg(
    flags: Byte, prepareEndLsn: Long, rollbackEndLsn: Long,
    prepareTsUs: Long, rollbackTsUs: Long, xid: Int, gid: String) extends PgMessage

/** 'p' — a STREAMED transaction ended PREPARED (the v2 × two_phase
  * combination): its already-shipped segments now hang off `gid`, and
  * visibility follows the later Commit/Rollback Prepared for that gid. */
final case class StreamPrepareMsg(
    flags: Byte, prepareLsn: Long, endLsn: Long, tsUs: Long,
    xid: Int, gid: String) extends PgMessage

/** 'M' — a logical decoding message (`pg_logical_emit_message`): the
  * application side-channel that rides the WAL next to row changes —
  * checkpoint markers, schema-registry pointers, dual-write fences. flags
  * bit 0 = transactional (emitted inside the surrounding transaction).
  * `content` is opaque bytes (Seq for value equality). */
final case class LogicalMsg(
    flags: Byte, msgLsn: Long, prefix: String, content: Seq[Byte]) extends PgMessage

/** The reference's HandleFunc tuple (postrack.go:35) as a row: nil maps where
  * the reference passes nil (INSERT has no before, DELETE no after, TRUNCATE
  * neither), and — matching postrack.go:379-382 exactly — null/TOAST columns
  * decode to "" inside a present map, never to an absent key. */
final case class ChangeEvent(
    lsn: Long, table_name: String, op: String,
    before: Map[String, String], after: Map[String, String])

/** Relation-schema registry versioned by LSN: a data message at LSN L decodes
  * against the most recent RelationMessage at or before L — the stream-order
  * overwrite semantics of the reference's `tables`/`columns` maps
  * (postrack.go:341-342, 369-376), made order-independent so partitions can
  * decode in parallel. O(#tables × #schema-versions) — broadcastable at any
  * corpus size. */
final class RelationRegistry(
    private val versions: Map[Int, Vector[(Long, RelationMsg)]]) extends Serializable {

  def relationAt(relationId: Int, lsn: Long): Option[RelationMsg] =
    versions.get(relationId).flatMap { v =>
      val i = v.lastIndexWhere(_._1 <= lsn)
      if (i >= 0) Some(v(i)._2) else None
    }
}

object RelationRegistry {
  def build(rels: Seq[(Long, RelationMsg)]): RelationRegistry =
    new RelationRegistry(
      rels.groupBy(_._2.relationId)
        .map { case (id, vs) => id -> vs.sortBy(_._1).toVector })
}

/** One reconstructed stream segment: frames with startLsn < lsn < stopLsn
  * belong to streamed transaction `xid`. */
final case class StreamSegment(startLsn: Long, stopLsn: Long, xid: Int)

/** The v2 stream-transaction context reconstructed from the O(#segments +
  * #txns) control frames: segment intervals (which frames are streamed, and
  * whose) plus each streamed xid's final fate. Like the RelationRegistry,
  * this is a bounded driver artifact BROADCAST to the decode pass, so data
  * frames resolve their stream membership by LSN binary search — order-free,
  * which is what lets the segment-interleaved lake decode partition-parallel
  * instead of replaying the byte stream serially. */
final class StreamContext(
    private val segments: Vector[StreamSegment],
    val committed: Set[Int],
    val aborted: Set[Int]) extends Serializable {

  private val starts: Array[Long] = segments.map(_.startLsn).toArray

  /** The segment containing `lsn`, if any (strict bounds: the Start/Stop
    * control frames themselves are not "inside"). */
  def segmentAt(lsn: Long): Option[StreamSegment] = {
    var i = java.util.Arrays.binarySearch(starts, lsn)
    if (i < 0) i = -i - 2 // insertion point - 1: last segment starting before lsn
    if (i < 0) None
    else {
      val s = segments(i)
      if (lsn > s.startLsn && lsn < s.stopLsn) Some(s) else None
    }
  }

  /** Loud STREAM-LEVEL visibility: a streamed xid resolved by Stream
    * Commit/Abort. Stream-PREPARED xids and unresolved xids throw here —
    * full resolution (including gid fates and the prefix-decode policy)
    * lives in PgOutput.streamVisible, which joins this context with the
    * [[PreparedContext]]. */
  def isVisible(xid: Int): Boolean =
    if (committed(xid)) true
    else if (aborted(xid)) false
    else throw new IllegalStateException(
      s"streamed transaction $xid has no Stream Commit/Abort in this context")
}

object StreamContext {

  /** Reconstruct the context from decoded control frames (lsn, msg). Each
    * StreamStart pairs with the next StreamStop above it — the protocol
    * serializes segments on the wire, so in LSN order they cannot nest or
    * overlap; a malformed lake fails loudly here. */
  def build(controls: Seq[(Long, PgMessage)]): StreamContext = {
    val sorted = controls.sortBy(_._1)
    val segs = Vector.newBuilder[StreamSegment]
    var open: Option[(Long, Int)] = None
    var committed = Set.empty[Int]
    var aborted = Set.empty[Int]
    sorted.foreach {
      case (lsn, StreamStartMsg(xid, _)) =>
        require(open.isEmpty,
          s"Stream Start at lsn $lsn while segment ${open.get} is still open")
        open = Some((lsn, xid))
      case (lsn, StreamStopMsg) =>
        val (s, xid) = open.getOrElse(
          throw new IllegalStateException(s"Stream Stop at lsn $lsn with no open segment"))
        segs += StreamSegment(s, lsn, xid)
        open = None
      case (_, StreamCommitMsg(xid, _, _, _, _)) => committed += xid
      case (lsn, StreamAbortMsg(xid, subXid)) =>
        // subXid == xid aborts the WHOLE transaction; subXid != xid is a
        // savepoint rollback (only that subtransaction's changes abort) —
        // v2 data frames carry only the top-level xid, so the sub-range
        // cannot be attributed without subtransaction tracking. Fail loudly
        // rather than conflate a savepoint rollback with a full abort
        // (which would silently drop the COMMITTED rest of the txn).
        if (subXid == xid) aborted += xid
        else throw new IllegalArgumentException(
          s"Stream Abort at lsn $lsn rolls back SUBTRANSACTION $subXid of " +
            s"$xid — savepoint-level aborts are not supported by this " +
            "decoder (frames carry only the top-level xid); capture with " +
            "streaming=off for transactions using savepoints")
      case (lsn, other) =>
        throw new IllegalArgumentException(s"non-control frame at lsn $lsn: $other")
    }
    require(open.isEmpty, s"unterminated stream segment: ${open.get}")
    val both = committed intersect aborted
    require(both.isEmpty, s"xids both committed and aborted: $both")
    new StreamContext(segs.result().sortBy(_.startLsn), committed, aborted)
  }
}

/** One reconstructed PREPARED block: frames with startLsn < lsn < stopLsn
  * belong to the prepared transaction `gid`; `fate` is Some(true) once its
  * COMMIT PREPARED landed, Some(false) for ROLLBACK PREPARED, None while
  * the transaction is still in doubt. Fates attach to the BLOCK, not to a
  * flat gid set: Postgres frees a gid on resolution and it may legally be
  * REUSED by a later prepared transaction — a gid-keyed fate set would
  * either reject that lake or leak the first fate onto the second,
  * still-in-doubt block. */
final case class PreparedBlock(
    startLsn: Long, stopLsn: Long, gid: String, fate: Option[Boolean])

/** One plain-transaction interval with its replication origin: frames with
  * beginLsn < lsn < commitLsn belong to a transaction that originated at
  * `origin` ("local" when no Origin message followed the Begin). */
final case class TxnOrigin(beginLsn: Long, commitLsn: Long, origin: String)

/** Transaction-origin context reconstructed from the O(#txns) Begin /
  * Commit / Origin control frames — the same bounded broadcast-interval
  * machinery as [[StreamContext]], for the ORIGIN dimension: every data
  * frame resolves the origin of its enclosing transaction partition-
  * locally by LSN binary search, so origin filtering (the `origin = none`
  * subscription — bidirectional-replication loop prevention) never
  * replays the byte stream serially. */
final class OriginContext(
    private val txns: Vector[TxnOrigin]) extends Serializable {

  private val starts: Array[Long] = txns.map(_.beginLsn).toArray

  /** The origin of the transaction containing `lsn` — "local" for a frame
    * outside every recorded transaction (a lake without Begin/Commit
    * framing is all-local, the pre-origin behavior). */
  def originAt(lsn: Long): String = {
    var i = java.util.Arrays.binarySearch(starts, lsn)
    if (i < 0) i = -i - 2
    if (i < 0) "local"
    else {
      val t = txns(i)
      if (lsn > t.beginLsn && lsn < t.commitLsn) t.origin else "local"
    }
  }
}

object OriginContext {

  /** Reconstruct from decoded control frames (lsn, msg), LSN-sorted here.
    * Loud on malformed framing: nested Begin, Commit with no Begin, an
    * Origin outside a transaction or a second Origin inside one (the
    * protocol sends at most one, right after Begin). A trailing open
    * transaction is loud too — an origin-aware decode of a torn lake must
    * not silently read its tail as local. */
  def build(controls: Seq[(Long, PgMessage)]): OriginContext = {
    val sorted = controls.sortBy(_._1)
    val txns = Vector.newBuilder[TxnOrigin]
    var open: Option[(Long, Option[String])] = None
    sorted.foreach {
      case (lsn, BeginMsg(_, _, _)) =>
        require(open.isEmpty,
          s"Begin at lsn $lsn while the transaction at lsn " +
            s"${open.get._1} is still open")
        open = Some((lsn, None))
      case (lsn, OriginMsg(_, name)) =>
        val (b, cur) = open.getOrElse(throw new IllegalStateException(
          s"Origin message at lsn $lsn outside any transaction"))
        require(cur.isEmpty,
          s"second Origin message at lsn $lsn in the transaction at lsn $b " +
            s"(already '${cur.get}')")
        open = Some((b, Some(name)))
      case (lsn, CommitMsg(_, _, _, _)) =>
        val (b, origin) = open.getOrElse(throw new IllegalStateException(
          s"Commit at lsn $lsn with no open transaction"))
        txns += TxnOrigin(b, lsn, origin.getOrElse("local"))
        open = None
      case (lsn, other) => throw new IllegalArgumentException(
        s"unexpected control frame ${other.getClass.getSimpleName} at lsn $lsn")
    }
    require(open.isEmpty,
      s"transaction at lsn ${open.map(_._1).getOrElse(-1L)} has no Commit " +
        "in the lake — torn lake, refusing an origin-aware decode")
    new OriginContext(txns.result())
  }
}

/** The two-phase-commit context reconstructed from the O(#prepared txns)
  * control frames: prepared-block intervals with per-block fates, plus the
  * fates of STREAM-PREPARED transactions (Stream Prepare 'p' — the v2 ×
  * two_phase combination, whose changes live in stream segments, not
  * blocks). Same broadcast-interval machinery as [[StreamContext]]. */
final class PreparedContext(
    private val blocks: Vector[PreparedBlock],
    /** stream-prepared xid → (gid, fate); fate None = still in doubt. */
    val streamXidFate: Map[Int, (String, Option[Boolean])]) extends Serializable {

  private val starts: Array[Long] = blocks.map(_.startLsn).toArray

  def blockAt(lsn: Long): Option[PreparedBlock] = {
    var i = java.util.Arrays.binarySearch(starts, lsn)
    if (i < 0) i = -i - 2
    if (i < 0) None
    else {
      val b = blocks(i)
      if (lsn > b.startLsn && lsn < b.stopLsn) Some(b) else None
    }
  }

  /** Block visibility under either policy: in-doubt blocks are loud by
    * default (a COMPLETE lake resolves every prepared transaction) and
    * invisible under the prefix-decode policy. */
  def blockVisible(blk: PreparedBlock, excludeOpen: Boolean): Boolean =
    blk.fate.getOrElse {
      if (excludeOpen) false
      else throw new IllegalStateException(
        s"prepared transaction '${blk.gid}' (block at ${blk.startLsn}) has " +
          "no Commit/Rollback Prepared in the lake")
    }
}

object PreparedContext {

  /** Pair each Begin Prepare with the next Prepare above it (blocks are
    * serialized on the wire like stream segments); gid/xid must agree
    * across the pair. A Commit/Rollback Prepared resolves THE pending
    * (unresolved) prepared transaction with that gid — at most one can be
    * pending per gid at a time (a primary cannot hold two), so a resolved
    * gid is free for legal reuse by a later block. Malformed lakes —
    * a re-prepared gid that is still pending, a fate for an unknown gid,
    * a double Stream Prepare for one xid — fail loudly. */
  def build(controls: Seq[(Long, PgMessage)]): PreparedContext = {
    final class B(val start: Long, val stop: Long, val gid: String,
      var fate: Option[Boolean])
    val sorted = controls.sortBy(_._1)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[B]
    val streamed = scala.collection.mutable.LinkedHashMap
      .empty[Int, (String, Option[Boolean])]
    // gid → the pending (unresolved) prepared txn: Left(block idx) or
    // Right(stream-prepared xid)
    val pending = scala.collection.mutable.Map.empty[String, Either[Int, Int]]
    var open: Option[(Long, Int, String)] = None
    def mustBeFree(gid: String, lsn: Long): Unit =
      require(!pending.contains(gid),
        s"gid '$gid' re-prepared at lsn $lsn while still pending (unresolved)")
    def resolve(lsn: Long, gid: String, f: Boolean): Unit =
      pending.remove(gid) match {
        case Some(Left(i)) => blocks(i).fate = Some(f)
        case Some(Right(xid)) =>
          streamed(xid) = (gid, Some(f))
        case None => throw new IllegalStateException(
          s"Commit/Rollback Prepared at lsn $lsn for gid '$gid' with no " +
            "pending prepared transaction")
      }
    sorted.foreach {
      case (lsn, BeginPrepareMsg(_, _, _, xid, gid)) =>
        require(open.isEmpty,
          s"Begin Prepare at lsn $lsn while block ${open.get} is still open")
        mustBeFree(gid, lsn)
        open = Some((lsn, xid, gid))
      case (lsn, PrepareMsg(_, _, _, _, xid, gid)) =>
        val (s, oXid, oGid) = open.getOrElse(throw new IllegalStateException(
          s"Prepare at lsn $lsn with no open Begin Prepare"))
        require(xid == oXid && gid == oGid,
          s"Prepare at lsn $lsn ($xid, '$gid') does not match its " +
            s"Begin Prepare ($oXid, '$oGid')")
        blocks += new B(s, lsn, gid, None)
        pending(gid) = Left(blocks.size - 1)
        open = None
      case (lsn, StreamPrepareMsg(_, _, _, _, xid, gid)) =>
        mustBeFree(gid, lsn)
        require(!streamed.contains(xid),
          s"xid $xid stream-prepared twice (second at lsn $lsn)")
        streamed(xid) = (gid, None)
        pending(gid) = Right(xid)
      case (lsn, CommitPreparedMsg(_, _, _, _, _, gid)) => resolve(lsn, gid, f = true)
      case (lsn, RollbackPreparedMsg(_, _, _, _, _, _, gid)) => resolve(lsn, gid, f = false)
      case (lsn, other) =>
        throw new IllegalArgumentException(s"non-2PC control frame at lsn $lsn: $other")
    }
    require(open.isEmpty, s"unterminated prepared block: ${open.get}")
    new PreparedContext(
      blocks.map(b => PreparedBlock(b.start, b.stop, b.gid, b.fate))
        .sortBy(_.startLsn).toVector,
      streamed.toMap)
  }
}

object PgOutput {

  // ---------------------------------------------------------------- decode

  /** Decode one pgoutput message (the payload the reference receives inside
    * XLogData, postrack.go:358-362). Throws on malformed input — a capture
    * pipeline wants loud failure, not silent row loss. */
  def decode(bytes: Array[Byte]): PgMessage = {
    require(bytes != null, "null pgoutput frame")
    require(bytes.nonEmpty, "empty pgoutput frame")
    val buf = ByteBuffer.wrap(bytes) // network byte order (big-endian)
    (buf.get(): @unchecked) match {
      case 'R' =>
        val relId = buf.getInt
        val ns = readCString(buf)
        val name = readCString(buf)
        val identity = buf.get()
        val nCols = buf.getShort.toInt
        val cols = (0 until nCols).map { _ =>
          PgColumn(buf.get(), readCString(buf), buf.getInt, buf.getInt)
        }
        RelationMsg(relId, ns, name, identity, cols)
      case 'I' =>
        val relId = buf.getInt
        val marker = buf.get()
        require(marker == 'N', s"Insert expects 'N' tuple marker, got $marker")
        InsertMsg(relId, readTuple(buf))
      case 'U' =>
        val relId = buf.getInt
        val first = buf.get()
        if (first == 'K' || first == 'O') {
          val old = readTuple(buf)
          val n = buf.get()
          require(n == 'N', s"Update expects 'N' after old tuple, got $n")
          UpdateMsg(relId, Some(first), Some(old), readTuple(buf))
        } else {
          require(first == 'N', s"Update expects 'K'|'O'|'N', got $first")
          UpdateMsg(relId, None, None, readTuple(buf))
        }
      case 'D' =>
        val relId = buf.getInt
        val kind = buf.get()
        require(kind == 'K' || kind == 'O', s"Delete expects 'K'|'O', got $kind")
        DeleteMsg(relId, kind, readTuple(buf))
      case 'T' =>
        val n = buf.getInt
        val options = buf.get()
        TruncateMsg(options, (0 until n).map(_ => buf.getInt))
      case 'B' =>
        BeginMsg(buf.getLong, buf.getLong, buf.getInt)
      case 'C' =>
        CommitMsg(buf.get(), buf.getLong, buf.getLong, buf.getLong)
      case 'O' =>
        OriginMsg(buf.getLong, readCString(buf))
      case 'Y' =>
        TypeMsg(buf.getInt, readCString(buf), readCString(buf))
      case 'S' =>
        StreamStartMsg(buf.getInt, buf.get() == 1)
      case 'E' =>
        StreamStopMsg
      case 'c' =>
        StreamCommitMsg(buf.getInt, buf.get(), buf.getLong, buf.getLong, buf.getLong)
      case 'A' =>
        StreamAbortMsg(buf.getInt, buf.getInt)
      case 'M' =>
        val flags = buf.get()
        val msgLsn = buf.getLong
        val prefix = readCString(buf)
        val len = buf.getInt
        val content = new Array[Byte](len)
        buf.get(content)
        LogicalMsg(flags, msgLsn, prefix, content.toSeq)
      case 'b' =>
        BeginPrepareMsg(buf.getLong, buf.getLong, buf.getLong, buf.getInt,
          readCString(buf))
      case 'P' =>
        PrepareMsg(buf.get(), buf.getLong, buf.getLong, buf.getLong,
          buf.getInt, readCString(buf))
      case 'K' =>
        CommitPreparedMsg(buf.get(), buf.getLong, buf.getLong, buf.getLong,
          buf.getInt, readCString(buf))
      case 'r' =>
        RollbackPreparedMsg(buf.get(), buf.getLong, buf.getLong, buf.getLong,
          buf.getLong, buf.getInt, readCString(buf))
      case 'p' =>
        StreamPrepareMsg(buf.get(), buf.getLong, buf.getLong, buf.getLong,
          buf.getInt, readCString(buf))
      case other =>
        throw new IllegalArgumentException(s"unknown pgoutput message type '${other.toChar}'")
    }
  }

  /** The v2 data types that carry the spliced Int32 xid when they arrive
    * inside a stream segment. Stream control frames ('S','E','c','A') are
    * never xid-prefixed — the xid is their own first field. */
  private val StreamableTypes: Set[Byte] =
    Set('R', 'I', 'U', 'D', 'T', 'M').map(_.toByte)

  /** Frame types that carry no row events: Begin/Commit, and the benign
    * metadata a real publication emits — Type 'Y' (precedes a Relation
    * for non-builtin column types), Origin 'O', logical Message 'M'. The
    * reference's handler switch ignores them. ONE definition shared by the
    * batch data pass and the streaming `PgOutputStream.route`. */
  val NoEventTypes: Set[Char] = Set('B', 'C', 'Y', 'O', 'M')

  /** The v2/2PC CONTROL frame types, split driver-side into the stream and
    * two-phase context builders. */
  private val StreamControlTypes = Set('S', 'E', 'c', 'A')
  private val PreparedControlTypes = Set('b', 'P', 'K', 'r', 'p')
  private val ControlTypes = StreamControlTypes ++ PreparedControlTypes

  /** The small frames every batch decode pulls to the driver: Relation
    * frames, O(#tables × #schema-versions), and control frames,
    * O(#segments + #blocks). */
  private val SmallTypes: Set[Char] = ControlTypes + 'R'

  /** Default of `graft.cdc.maxControlFrames`, the ceiling on one small-
    * frame pull: 4Mi frames (~hundreds of MB of payloads) — a handful of
    * frames per large transaction, thousands per realistic feed. A
    * pathological feed of millions of tiny streamed transactions fails
    * loudly with the knob named in the error instead of growing the
    * driver context silently. */
  private val MaxControlFramesDefault = 4 << 20

  private def typedFrames(frames: DataFrame): Dataset[(Long, Array[Byte])] = {
    import frames.sparkSession.implicits._
    frames.select(col("lsn").cast("long"), col("data")).as[(Long, Array[Byte])]
  }

  /** First-byte frame dispatch, COLUMNAR: a substring on the binary
    * column that runs before typed deserialization, so no pass
    * deserializes frames it won't keep. */
  private def firstByteIs(types: Set[Char]): Column =
    substring(col("data"), 1, 1).isin(types.toSeq.map(c => lit(Array(c.toByte))): _*)

  /** The ONE driver pull of a batch decode: every frame whose type is in
    * `types`, in one scan, through [[graft.operators.BoundedPull]]: the
    * ceiling is applied IN THE PLAN, so a lake whose small frames outgrow
    * it — or a live lake that grows while it is read — moves at most
    * ceiling + 1 frames to the driver, then fails loudly. */
  private def smallFrames(typed: Dataset[(Long, Array[Byte])],
      types: Set[Char]): Array[(Long, Array[Byte])] = {
    val max = typed.sparkSession.conf
      .getOption("graft.cdc.maxControlFrames").map(_.toInt)
      .getOrElse(MaxControlFramesDefault)
    graft.operators.BoundedPull.rows(typed.filter(firstByteIs(types)), max,
      "pgoutput relation/control frames (ceiling graft.cdc.maxControlFrames: " +
        "the registry and transaction contexts are built driver-side, so " +
        "raise it only with driver memory to match, or chunk the feed by " +
        "LSN range)")
  }

  /** What a batch decode knows about a lake's transactions, built from the
    * control frames of one small-frame pull and broadcast to the data
    * pass: stream segments and fates, prepared blocks and fates, and the
    * policy for unresolved ones (`excludeOpen`). */
  private final class FrameScope(sc: StreamContext, pc: PreparedContext,
      excludeOpen: Boolean) extends Serializable {

    /** Streamed-xid visibility across both contexts: a streamed xid
      * resolves through its Stream Commit/Abort, OR — when it ended with
      * Stream Prepare — through its gid's Commit/Rollback Prepared.
      * `excludeOpen` makes every unresolved path invisible (the prefix-
      * decode policy) instead of loud. */
    private def streamVisible(xid: Int): Boolean =
      if (sc.committed(xid)) true
      else if (sc.aborted(xid)) false
      else pc.streamXidFate.get(xid) match {
        case Some((_, Some(f))) => f
        case Some((gid, None)) =>
          if (excludeOpen) false
          else throw new IllegalStateException(
            s"stream-prepared transaction $xid ('$gid') is still in doubt — " +
              "no Commit/Rollback Prepared in the lake")
        case None =>
          if (excludeOpen) false
          else throw new IllegalStateException(
            s"streamed transaction $xid has no Stream Commit/Abort/Prepare in the lake")
      }

    /** The ONE per-frame dispatch of every batch pass (relations, data,
      * messages): the frame's message when its transaction is visible,
      * None when it is not — decided BEFORE the payload decodes. A frame
      * inside a stream segment is xid-prefixed and must carry that
      * segment's xid; a frame inside a prepared block is plain v1 and
      * follows the block's fate; any other frame is plain v1. A frame
      * inside both a segment and a block is malformed no matter its type:
      * blocks and segments are serialized on the wire. */
    def visible(lsn: Long, b: Array[Byte]): Option[PgMessage] =
      (sc.segmentAt(lsn), pc.blockAt(lsn)) match {
        case (Some(seg), Some(blk)) =>
          throw new IllegalStateException(
            s"frame at lsn $lsn sits inside BOTH stream segment (xid ${seg.xid}) " +
              s"and prepared block ('${blk.gid}') — blocks are serialized on " +
              "the wire; the lake is malformed")
        case (Some(seg), None) =>
          if (!streamVisible(seg.xid)) None
          else decodeStreamed(b) match {
            case StreamedMsg(xid, inner) =>
              require(xid == seg.xid,
                s"frame at lsn $lsn carries xid $xid inside segment of ${seg.xid}")
              Some(inner)
            case other => Some(other)
          }
        case (None, Some(blk)) =>
          if (pc.blockVisible(blk, excludeOpen)) Some(decode(b)) else None
        case (None, None) => Some(decode(b))
      }
  }

  /** The pulled frames of the given types, decoded. */
  private def decodedOf(small: Array[(Long, Array[Byte])],
      types: Set[Char]): Seq[(Long, PgMessage)] =
    small.toSeq.collect { case (lsn, b) if types(b(0).toChar) => (lsn, decode(b)) }

  private object FrameScope {
    def apply(small: Array[(Long, Array[Byte])], excludeOpen: Boolean): FrameScope = {
      val sc = StreamContext.build(decodedOf(small, StreamControlTypes))
      val pc = PreparedContext.build(decodedOf(small, PreparedControlTypes))
      // one xid cannot both resolve at stream level and end prepared
      val contradictory = (sc.committed ++ sc.aborted) intersect pc.streamXidFate.keySet
      require(contradictory.isEmpty,
        s"xids with BOTH a stream-level fate and a Stream Prepare: $contradictory")
      new FrameScope(sc, pc, excludeOpen)
    }
  }

  /** Decode a frame that arrived INSIDE a stream segment: data types carry
    * an Int32 xid between the type byte and the v1 body — splice it out,
    * decode the v1 message, and return both. Control frames pass through
    * to the plain decoder (their xid is part of their own payload). */
  def decodeStreamed(bytes: Array[Byte]): PgMessage = {
    require(bytes != null && bytes.nonEmpty, "empty pgoutput frame")
    if (!StreamableTypes.contains(bytes(0))) decode(bytes)
    else {
      require(bytes.length >= 5,
        s"streamed '${bytes(0).toChar}' frame too short for its xid field")
      val xid = ByteBuffer.wrap(bytes, 1, 4).getInt
      val v1 = new Array[Byte](bytes.length - 4)
      v1(0) = bytes(0)
      System.arraycopy(bytes, 5, v1, 1, bytes.length - 5)
      StreamedMsg(xid, decode(v1))
    }
  }

  private def readCString(buf: ByteBuffer): String = {
    val start = buf.position()
    while (buf.get() != 0) {}
    val len = buf.position() - start - 1
    new String(buf.array(), buf.arrayOffset() + start, len, StandardCharsets.UTF_8)
  }

  private def readTuple(buf: ByteBuffer): PgTuple = {
    val n = buf.getShort.toInt
    PgTuple((0 until n).map { _ =>
      (buf.get(): @unchecked) match {
        case 'n' | 'u' => None
        case 't' =>
          val len = buf.getInt
          val arr = new Array[Byte](len)
          buf.get(arr)
          Some(new String(arr, StandardCharsets.UTF_8))
      }
    })
  }

  // ---------------------------------------------------------------- encode

  /** Encode a message back to pgoutput bytes — the capture/replay side, used
    * by the round-trip specs and the synthetic frame generator. */
  def encode(msg: PgMessage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    def u8(b: Int): Unit = out.write(b)
    def u16(v: Int): Unit = { u8((v >>> 8) & 0xFF); u8(v & 0xFF) }
    def u32(v: Int): Unit = { u16((v >>> 16) & 0xFFFF); u16(v & 0xFFFF) }
    def u64(v: Long): Unit = { u32((v >>> 32).toInt); u32((v & 0xFFFFFFFFL).toInt) }
    def cstr(s: String): Unit = { out.write(s.getBytes(StandardCharsets.UTF_8)); u8(0) }
    def tuple(t: PgTuple): Unit = {
      u16(t.columns.size)
      t.columns.foreach {
        case Some(v) =>
          val b = v.getBytes(StandardCharsets.UTF_8)
          u8('t'); u32(b.length); out.write(b)
        case None => u8('n')
      }
    }
    msg match {
      case RelationMsg(id, ns, name, identity, cols) =>
        u8('R'); u32(id); cstr(ns); cstr(name); u8(identity); u16(cols.size)
        cols.foreach { c => u8(c.flags); cstr(c.name); u32(c.typeOid); u32(c.typeMod) }
      case InsertMsg(id, t) =>
        u8('I'); u32(id); u8('N'); tuple(t)
      case UpdateMsg(id, oldKind, oldTuple, newTuple) =>
        u8('U'); u32(id)
        oldKind.foreach { k => u8(k); tuple(oldTuple.get) }
        u8('N'); tuple(newTuple)
      case DeleteMsg(id, kind, t) =>
        u8('D'); u32(id); u8(kind); tuple(t)
      case TruncateMsg(options, ids) =>
        u8('T'); u32(ids.size); u8(options); ids.foreach(u32)
      case BeginMsg(finalLsn, ts, xid) =>
        u8('B'); u64(finalLsn); u64(ts); u32(xid)
      case CommitMsg(flags, commitLsn, endLsn, ts) =>
        u8('C'); u8(flags); u64(commitLsn); u64(endLsn); u64(ts)
      case OriginMsg(commitLsn, name) =>
        u8('O'); u64(commitLsn); cstr(name)
      case TypeMsg(typeId, ns, name) =>
        u8('Y'); u32(typeId); cstr(ns); cstr(name)
      case StreamStartMsg(xid, first) =>
        u8('S'); u32(xid); u8(if (first) 1 else 0)
      case StreamStopMsg =>
        u8('E')
      case StreamCommitMsg(xid, flags, commitLsn, endLsn, ts) =>
        u8('c'); u32(xid); u8(flags); u64(commitLsn); u64(endLsn); u64(ts)
      case StreamAbortMsg(xid, subXid) =>
        u8('A'); u32(xid); u32(subXid)
      case LogicalMsg(flags, msgLsn, prefix, content) =>
        u8('M'); u8(flags); u64(msgLsn); cstr(prefix)
        u32(content.length); out.write(content.toArray)
      case BeginPrepareMsg(pLsn, endLsn, ts, xid, gid) =>
        u8('b'); u64(pLsn); u64(endLsn); u64(ts); u32(xid); cstr(gid)
      case PrepareMsg(flags, pLsn, endLsn, ts, xid, gid) =>
        u8('P'); u8(flags); u64(pLsn); u64(endLsn); u64(ts); u32(xid); cstr(gid)
      case CommitPreparedMsg(flags, cLsn, endLsn, ts, xid, gid) =>
        u8('K'); u8(flags); u64(cLsn); u64(endLsn); u64(ts); u32(xid); cstr(gid)
      case RollbackPreparedMsg(flags, peLsn, reLsn, pts, rts, xid, gid) =>
        u8('r'); u8(flags); u64(peLsn); u64(reLsn); u64(pts); u64(rts)
        u32(xid); cstr(gid)
      case StreamPrepareMsg(flags, pLsn, endLsn, ts, xid, gid) =>
        u8('p'); u8(flags); u64(pLsn); u64(endLsn); u64(ts); u32(xid); cstr(gid)
      case StreamedMsg(xid, inner) =>
        // the v1 encoding with the Int32 xid spliced after the type byte —
        // the exact inverse of decodeStreamed's splice-out
        val v1 = encode(inner)
        require(StreamableTypes.contains(v1(0)),
          s"'${v1(0).toChar}' cannot ride inside a stream segment")
        u8(v1(0)); u32(xid); out.write(v1, 1, v1.length - 1)
    }
    out.toByteArray
  }

  // ------------------------------------------------- reference handler loop

  /** One decoded frame → the HandleFunc calls it produces — a direct
    * re-expression of the reference's switch (postrack.go:368-411): INSERT
    * (after, nil), UPDATE (after, before — before is an EMPTY map when no old
    * tuple arrived, postrack.go:387-392), DELETE (nil, before), TRUNCATE one
    * event per relation with (nil, nil). Begin/Commit/Relation produce no
    * events (relation registration happens in the registry). */
  def toEvents(registry: RelationRegistry, lsn: Long, bytes: Array[Byte]): Iterator[ChangeEvent] =
    eventsOf(registry, lsn, decode(bytes))

  /** The HandleFunc dispatch over an already-decoded message — shared by the
    * v1 byte path above and the v2 streamed path (where the caller has
    * already unwrapped [[StreamedMsg]] and applied commit/abort
    * visibility). */
  def eventsOf(registry: RelationRegistry, lsn: Long, msg: PgMessage): Iterator[ChangeEvent] = {
    def row(relId: Int, t: PgTuple): Map[String, String] = {
      val rel = registry.relationAt(relId, lsn).getOrElse(
        throw new IllegalStateException(s"no RelationMessage for relation $relId at lsn $lsn"))
      rel.columns.iterator.zipWithIndex.map { case (c, i) =>
        // reference: string(nil) == "" for null/TOAST columns (postrack.go:381)
        c.name -> t.columns.lift(i).flatten.getOrElse("")
      }.toMap
    }
    def table(relId: Int): String =
      registry.relationAt(relId, lsn).map(_.name).getOrElse(
        throw new IllegalStateException(s"no RelationMessage for relation $relId at lsn $lsn"))
    msg match {
      case InsertMsg(id, t) =>
        Iterator.single(ChangeEvent(lsn, table(id), "INSERT", null, row(id, t)))
      case UpdateMsg(id, _, oldT, newT) =>
        Iterator.single(ChangeEvent(lsn, table(id), "UPDATE",
          oldT.map(row(id, _)).getOrElse(Map.empty), row(id, newT)))
      case DeleteMsg(id, _, t) =>
        Iterator.single(ChangeEvent(lsn, table(id), "DELETE", row(id, t), null))
      case TruncateMsg(_, ids) =>
        ids.iterator.map(id => ChangeEvent(lsn, table(id), "TRUNCATE", null, null))
      case _: BeginMsg | _: CommitMsg | _: RelationMsg | _: StreamStartMsg |
           StreamStopMsg | _: StreamCommitMsg | _: StreamAbortMsg |
           _: LogicalMsg | _: BeginPrepareMsg | _: PrepareMsg |
           _: CommitPreparedMsg | _: RollbackPreparedMsg | _: StreamPrepareMsg |
           _: TypeMsg | _: OriginMsg =>
        Iterator.empty
      case StreamedMsg(_, inner) => eventsOf(registry, lsn, inner)
    }
  }

  // ------------------------------------------------------ distributed decode

  /** Decode a lake of raw pgoutput frames `(lsn: long, data: binary)` into
    * the reference's event stream, distributed. One decoder for protocol
    * v1, v2 and two-phase lakes: the visible events are the v1 frames, the
    * streamed frames of COMMITTED transactions (large transactions arrive
    * as interleaved stream segments whose Stream Commit/Abort lands later)
    * and the frames of prepared blocks whose COMMIT PREPARED landed;
    * aborted and rolled-back transactions are discarded wholesale.
    *
    * Scale shape: one bounded driver pull of the small frames
    * ([[smallFrames]]) — Relation frames become a broadcast LSN-versioned
    * registry, control frames the broadcast segment/block interval
    * contexts ([[StreamContext]], [[PreparedContext]]) — then every data
    * frame decodes partition-locally (`mapPartitions`, zero shuffle),
    * resolving its schema and its transaction by LSN binary search. That
    * is what lets a 100 TB frame lake decode on 1000 executors without
    * replaying the stream serially; a v1 lake costs one small-frame scan
    * and one data pass.
    *
    * `excludeOpen = false` (the gate posture) fails loudly on a streamed
    * or prepared transaction with no fate in the lake — a COMPLETE lake
    * missing a fate frame is corruption. `excludeOpen = true` is the
    * PREFIX-decode policy for a live lake (segments flushed, fate not
    * yet): unresolved transactions read as invisible — never guessed
    * visible — and their events appear when the fate lands and the
    * consumer re-decodes. */
  def decodeFeed(spark: SparkSession, frames: DataFrame,
      excludeOpen: Boolean = false): DataFrame = {
    val typed = typedFrames(frames)
    decodeEvents(typed, smallFrames(typed, SmallTypes), excludeOpen)
  }

  /** The registry build and data pass of every row-change decode, over an
    * already pulled set of small frames. */
  private def decodeEvents(typed: Dataset[(Long, Array[Byte])],
      small: Array[(Long, Array[Byte])], excludeOpen: Boolean): DataFrame = {
    import typed.sparkSession.implicits._
    val scope = FrameScope(small, excludeOpen)
    // a Relation inside a segment or block resolves through the same
    // dispatch as the data frames: a rolled-back (or still-open)
    // transaction's schema versions must NOT enter the registry — an
    // aborted DDL registered anyway would silently re-shape every later
    // frame of that relation id
    val registry = RelationRegistry.build(small.toSeq.flatMap { case (lsn, b) =>
      if (b(0) != 'R') None
      else scope.visible(lsn, b).collect { case r: RelationMsg => (lsn, r) }
    })
    val bc = typed.sparkSession.sparkContext.broadcast((scope, registry))
    // every other frame — the data types AND any unknown/corrupt type byte
    // or empty frame — flows into the decode, where an unknown type fails
    // loudly (PgOutput.decode), as in the streaming route(). coalesce: a
    // NULL data cell makes the predicate NULL, which a bare Filter would
    // silently DROP — route it into decode's loud null guard instead.
    typed
      .filter(coalesce(!firstByteIs(SmallTypes ++ NoEventTypes), lit(true)))
      .mapPartitions { it =>
        val (sc, reg) = bc.value
        it.flatMap { case (lsn, b) =>
          sc.visible(lsn, b).iterator.flatMap(eventsOf(reg, lsn, _))
        }
      }
      .toDF()
  }

  /** Decode a v1 frame lake ATTRIBUTING each change to its transaction's
    * replication ORIGIN — the bidirectional-replication surface: an
    * Origin message ('O') after a Begin marks the whole transaction as
    * replicated from that node; a transaction without one is local. Rows
    * carry an `origin` column; `keepOrigins` filters to the named set
    * (Some(Set("local")) is the `origin = none` subscription — the loop
    * breaker: without it, changes replicated from a peer would be
    * re-published back to it forever). None = attribute everything.
    *
    * Scale shape: the [[decodeFeed]] pull also takes the Begin/Commit/
    * Origin frames, O(#txns), reconstructed into the broadcast
    * [[OriginContext]]; each decoded event resolves its origin by LSN
    * binary search, and the origin filter runs in the same pass as the
    * decode. A stream/2PC lake is refused: its streamed and prepared
    * frames sit outside Begin/Commit framing, so their origin is unknown. */
  def decodeFeedWithOrigin(spark: SparkSession, frames: DataFrame,
      keepOrigins: Option[Set[String]] = None): DataFrame = {
    val typed = typedFrames(frames)
    val txnTypes = Set('B', 'C', 'O')
    val small = smallFrames(typed, SmallTypes ++ txnTypes)
    small.find(f => ControlTypes(f._2(0).toChar)).foreach { case (lsn, b) =>
      throw new IllegalArgumentException(
        s"v2/2PC control frame '${b(0).toChar}' at lsn $lsn in an " +
          "origin-aware decode — this lake carries streamed/prepared " +
          "transactions, which origin attribution does not support")
    }
    val bc = spark.sparkContext.broadcast(OriginContext.build(decodedOf(small, txnTypes)))
    val originAt = udf((lsn: Long) => bc.value.originAt(lsn))
    val attributed = decodeEvents(typed, small, excludeOpen = false)
      .withColumn("origin", originAt(col("lsn")))
    keepOrigins.fold(attributed)(keep => attributed.filter(col("origin").isin(keep.toSeq: _*)))
  }

  /** The logical-message SIDE CHANNEL of a frame lake: every 'M' frame
    * (pg_logical_emit_message) decoded to a typed row — the path a consumer
    * uses to read checkpoint markers / registry pointers / dual-write
    * fences out of the same WAL its row changes arrive on. Same pull and
    * per-frame dispatch as [[decodeFeed]], partition-local, zero shuffle;
    * the row-change pass ignores 'M' (benign metadata), this pass ignores
    * everything else, and both read the SAME lake. Content surfaces as
    * UTF-8 (the emit-message convention for textual markers).
    *
    * An 'M' frame INSIDE a stream segment is xid-prefixed and is a
    * transactional message of that txn — it surfaces only if the txn
    * COMMITTED (`excludeOpen` as in [[decodeFeed]]). Messages of aborted
    * transactions were never emitted, semantically. */
  def decodeMessages(spark: SparkSession, frames: DataFrame,
      excludeOpen: Boolean = false): DataFrame = {
    import spark.implicits._
    val typed = typedFrames(frames)
    val bc = spark.sparkContext.broadcast(
      FrameScope(smallFrames(typed, SmallTypes), excludeOpen))
    typed
      .filter(firstByteIs(Set('M')))
      .mapPartitions { it =>
        val scope = bc.value
        it.flatMap { case (lsn, b) =>
          scope.visible(lsn, b).collect { case LogicalMsg(flags, msgLsn, prefix, content) =>
            (lsn, (flags & 1) == 1, msgLsn, prefix,
              new String(content.toArray, StandardCharsets.UTF_8))
          }
        }
      }
      .toDF("lsn", "transactional", "msg_lsn", "prefix", "content")
  }

  /** Decoded frames → the canonical change-feed columns (ChangeFeed schema):
    * typed pk/ts_us/value/props lifted out of the reference's string maps,
    * taking the after-image when present, else the before-image (DELETE). */
  def toCanonicalFeed(decoded: DataFrame): DataFrame = {
    def field(name: String) =
      coalesce(col("after").getItem(name), col("before").getItem(name))
    decoded.select(
      col("lsn"), col("table_name"), col("op"),
      field("pk").cast("long").as("pk"),
      field("ts_us").cast("long").as("ts_us"),
      field("value").cast("double").as("value"),
      field("props").as("props"))
  }

  // -------------------------------------------------------------- synthesis

  /** Column order of the synthetic feed's tuples — ONE definition shared
    * by the Relation frames and the data-tuple encoder below (and by the
    * loopback capture gate's served Relation frames): a drifting copy
    * would silently map tuple positions to the wrong column names in the
    * registry decode. */
  val feedColumns: Seq[String] = Seq("pk", "ts_us", "value", "props")

  /** The RelationMessage for one routed feed table (text-typed columns in
    * [[feedColumns]] order). */
  def feedRelation(id: Int, name: String): RelationMsg =
    RelationMsg(id, "public", name, 'd'.toByte,
      feedColumns.map(c => PgColumn(0, c, 25 /* text */, -1)))

  /** One event row → its pgoutput data message, the routing ChangeFeed
    * .fromEvents declares (even keys → users, signup→INSERT, error→DELETE,
    * else UPDATE with no old tuple — REPLICA IDENTITY DEFAULT). ONE
    * definition shared by the v1 and v2 synthetic frame generators. */
  private def dataMsgOf(uid: Long, etype: String, tsUs: Long,
      value: Double, props: String): PgMessage = {
    val relId = if (uid % 2 == 0) ChangeFeed.usersRelId else ChangeFeed.accountsRelId
    val tuple = PgTuple(Seq(
      Some(uid.toString), Some(tsUs.toString), Some(value.toString), Some(props)))
    etype match {
      case "signup" => InsertMsg(relId, tuple)
      case "error" => DeleteMsg(relId, 'O'.toByte, tuple)
      case _ => UpdateMsg(relId, None, None, tuple)
    }
  }

  /** The synthetic lake's two Relation frames (lsn, encoded bytes) — ONE
    * definition shared by both frame generators AND the capture harness's
    * served relations (CdcQueries.captureRelations): a drifting copy would
    * silently desynchronize the primary's framing from the lake's. */
  def relationFrames: Seq[(Long, Array[Byte])] = Seq(
    (ChangeFeed.relationLsn(0), PgOutput.encode(feedRelation(ChangeFeed.usersRelId, "users"))),
    (ChangeFeed.relationLsn(1), PgOutput.encode(feedRelation(ChangeFeed.accountsRelId, "accounts"))))

  /** The driver `events` table rendered as a raw pgoutput frame lake — the
    * synthetic capture side (no live Postgres in the sandbox): one Relation
    * frame per routed table, then one Insert/Update/Delete frame per event,
    * encoded partition-locally. Routing matches ChangeFeed.fromEvents so the
    * decoded stream and the logical feed are the same data. */
  def framesFromEvents(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val ev = events.select(
        col("event_id"), col("user_id"), col("event_type"),
        graft.sources.Tables.tsMicros(events).as("ts_us"), col("value"), col("props"))
      .as[(Long, Long, String, Long, Double, String)]
    val dataFrames = ev.mapPartitions { it =>
      it.map { case (eid, uid, etype, tsUs, value, props) =>
        (eid, PgOutput.encode(dataMsgOf(uid, etype, tsUs, value, props)))
      }
    }
    spark.createDataset(relationFrames).union(dataFrames).toDF("lsn", "data")
  }

  /** The events table rendered as an ORIGIN-FRAMED lake: the v1 data
    * frames wrapped in THREE whole transactions (events split into thirds
    * by event_id rank — a pure function of the table, so the oracle
    * replays the attribution without the frames), txn 0 local (no Origin
    * message), txn 1 from 'east', txn 2 from 'west'. Per-txn framing on a
    * ×10⁹ LSN grid: Begin at k·G+1, Origin at k·G+2 (k ≥ 1), data frame
    * of global rank r at k·G+1000+r, Commit at (k+1)·G−1. Relation frames
    * ride at their usual negative LSNs (outside every transaction). */
  def framesFromEventsOrigin(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val grid = 1000000000L
    val n = events.count()
    require(n >= 3, s"origin frame synthesis needs >= 3 events, got $n")
    require(1000L + n < grid, s"$n events overflow the ×$grid txn gap")
    val w = org.apache.spark.sql.expressions.Window.orderBy("event_id")
    val ev = events.select(
        col("event_id"), col("user_id"), col("event_type"),
        graft.sources.Tables.tsMicros(events).as("ts_us"), col("value"),
        col("props"))
      .withColumn("r0", row_number().over(w).cast("long") - 1L)
      // integer floor division on purpose (Column./ would be double math)
      .withColumn("k", expr(s"(r0 * 3) div $n"))
      .select((col("k") * grid + 1000L + col("r0")).as("lsn"),
        col("user_id"), col("event_type"), col("ts_us"), col("value"),
        col("props"))
      .as[(Long, Long, String, Long, Double, String)]
    val dataFrames = ev.mapPartitions { it =>
      it.map { case (lsn, uid, etype, tsUs, value, props) =>
        (lsn, PgOutput.encode(dataMsgOf(uid, etype, tsUs, value, props)))
      }
    }
    val controlFrames = (0 until 3).flatMap { k =>
      val base = k.toLong * grid
      val origin = originNames(k)
      Seq((base + 1, PgOutput.encode(BeginMsg(base + grid - 1, 0L, 7000 + k)))) ++
        (if (origin == "local") Nil
         else Seq((base + 2,
           PgOutput.encode(OriginMsg(k.toLong * 1000L, origin))))) ++
        Seq((base + grid - 1,
          PgOutput.encode(CommitMsg(0.toByte, base + grid - 1, base + grid, 0L))))
    }
    spark.createDataset(relationFrames ++ controlFrames)
      .union(dataFrames).toDF("lsn", "data")
  }

  /** Origin of the synthetic lake's txn k — shared with the gate doc. */
  val originNames: Seq[String] = Seq("local", "east", "west")

  /** Streamed-transaction xids of the v2 synthetic lake: A commits, B
    * aborts. Shared with the gate's oracle documentation. */
  val streamXidA = 9001
  val streamXidB = 9002

  /** The events table rendered as a TWO-PHASE-COMMIT frame lake: two
    * PREPARE TRANSACTION blocks (Begin Prepare … plain data frames …
    * Prepare) interleaved with the v1 stream, gid "g_commit"
    * (user_id % 7 == 2) later COMMIT PREPARED, gid "g_rollback"
    * (user_id % 7 == 3) later ROLLBACK PREPARED. Placement mirrors
    * framesFromEventsV2 (pure function of the events table): v1 on the
    * ×1e6 grid; block k ∈ {0 = commit, 1 = rollback} occupies the gap
    * after v1 slot q_k = n(k+1)/3 — Begin Prepare at
    * s_k = (q_k + 1)·1e6 + 1, data at s_k + rank, Prepare at
    * s_k + size + 1; both fates land past the last v1 frame. */
  def framesFromEvents2PC(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val grid = 1000000L
    val (xidC, xidR) = (9011, 9012)
    val ev = events.select(
      col("event_id"), col("user_id"), col("event_type"),
      graft.sources.Tables.tsMicros(events).as("ts_us"), col("value"), col("props"),
      when(pmod(col("user_id"), lit(7)) === 2, "C")
        .when(pmod(col("user_id"), lit(7)) === 3, "R")
        .otherwise("V").as("g"))
    val n = ev.count()
    require(n >= 3, s"2PC frame synthesis needs >= 3 events, got $n")
    val counts = ev.filter(col("g") =!= "V").groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (mC, mR) = (counts.getOrElse("C", 0L), counts.getOrElse("R", 0L))
    require(mC > 0 && mR > 0,
      s"2PC synthesis needs both prepared txns non-empty (C=$mC, R=$mR)")
    require(mC + 2 < grid && mR + 2 < grid,
      s"a prepared block overflows its ×$grid LSN gap (C=$mC, R=$mR)")
    def blockStart(k: Int): Long = (n * (k + 1) / 3 + 1) * grid + 1
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("event_id")
    val prepared = ev.filter(col("g") =!= "V")
      .withColumn("rn", row_number().over(wG).cast("long"))
      .select(
        (when(col("g") === "C", blockStart(0)).otherwise(blockStart(1))
          + col("rn")).as("lsn"),
        col("user_id"), col("event_type"), col("ts_us"), col("value"), col("props"))
    val plain = ev.filter(col("g") === "V")
      .select(((col("event_id") + 1) * grid).as("lsn"),
        col("user_id"), col("event_type"), col("ts_us"), col("value"), col("props"))
    val dataFrames = plain.unionByName(prepared)
      .as[(Long, Long, String, Long, Double, String)]
      .mapPartitions { it =>
        it.map { case (lsn, uid, etype, tsUs, value, props) =>
          (lsn, PgOutput.encode(dataMsgOf(uid, etype, tsUs, value, props)))
        }
      }
    val tail = (n + 1) * grid
    val (sC, sR) = (blockStart(0), blockStart(1))
    val controls: Seq[(Long, Array[Byte])] = (Seq[(Long, PgMessage)](
      sC -> BeginPrepareMsg(sC, sC + mC + 1, 0L, xidC, "g_commit"),
      (sC + mC + 1) -> PrepareMsg(0, sC, sC + mC + 1, 0L, xidC, "g_commit"),
      sR -> BeginPrepareMsg(sR, sR + mR + 1, 0L, xidR, "g_rollback"),
      (sR + mR + 1) -> PrepareMsg(0, sR, sR + mR + 1, 0L, xidR, "g_rollback"),
      (tail + 10) -> CommitPreparedMsg(0, tail + 10, tail + 10, 0L, xidC, "g_commit"),
      (tail + 20) -> RollbackPreparedMsg(0, sR + mR + 1, tail + 20, 0L, 0L,
        xidR, "g_rollback")))
      .map { case (l, m) => (l, PgOutput.encode(m)) }
    spark.createDataset(relationFrames ++ controls)
      .union(dataFrames).toDF("lsn", "data")
  }

  /** The events table rendered as a PROTOCOL-V2 frame lake with two LARGE
    * transactions shipped as interleaved stream segments: transaction A
    * (user_id % 7 == 0, xid 9001) and B (user_id % 7 == 1, xid 9002) each
    * split into two segments placed INSIDE the v1 stream's LSN space (so a
    * consumer sees: v1 traffic, a segment of A, more v1, a segment of B,
    * …), then A COMMITS and B ABORTS at the tail. Everything is a pure
    * function of the events table, so the gate oracle replays the placement
    * exactly:
    *
    *  - v1 frames sit on a ×1e6 grid: lsn = (event_id + 1) × 1e6;
    *  - txn T's rows, ordered by event_id, split first-⌈m/2⌉ / rest into
    *    segments k ∈ {0=A₁, 1=B₁, 2=A₂, 3=B₂}; segment k occupies the gap
    *    after v1 slot q_k = n(k+1)/5: Stream Start at
    *    s_k = (q_k + 1)·1e6 + 1, data at s_k + rank, Stop at s_k + size + 1;
    *  - Stream Commit (A) / Abort (B) land past the last v1 frame.
    *
    * The 2-partition rank window is SYNTHESIS-side only (the harness
    * standing in for a primary, like capturedLakeDir's driver-held feed) —
    * the decode path being gated is fully distributed. */
  def framesFromEventsV2(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val grid = 1000000L
    val ev = events.select(
      col("event_id"), col("user_id"), col("event_type"),
      graft.sources.Tables.tsMicros(events).as("ts_us"), col("value"), col("props"),
      when(pmod(col("user_id"), lit(7)) === 0, "A")
        .when(pmod(col("user_id"), lit(7)) === 1, "B")
        .otherwise("V").as("g"))
    val n = ev.count()
    require(n >= 5, s"v2 frame synthesis needs >= 5 events, got $n")
    val counts = ev.filter(col("g") =!= "V").groupBy("g").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (mA, mB) = (counts.getOrElse("A", 0L), counts.getOrElse("B", 0L))
    require(mA > 0 && mB > 0,
      s"v2 synthesis needs both streamed txns non-empty (A=$mA, B=$mB)")
    val (hA, hB) = ((mA + 1) / 2, (mB + 1) / 2)
    def blockStart(k: Int): Long = (n * (k + 1) / 5 + 1) * grid + 1
    val segSize = Map(0 -> hA, 1 -> hB, 2 -> (mA - hA), 3 -> (mB - hB))
    require(segSize.values.forall(_ + 2 < grid),
      s"a stream segment overflows its ×$grid LSN gap: $segSize")
    val wG = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("event_id")
    val half = when(col("g") === "A", lit(hA)).otherwise(lit(hB))
    val streamed = ev.filter(col("g") =!= "V")
      .withColumn("rn", row_number().over(wG).cast("long"))
      .withColumn("k",
        when(col("g") === "A", when(col("rn") <= half, 0).otherwise(2))
          .otherwise(when(col("rn") <= half, 1).otherwise(3)))
      .withColumn("rn_seg", when(col("rn") <= half, col("rn")).otherwise(col("rn") - half))
      .select(
        (when(col("k") === 0, blockStart(0)).when(col("k") === 1, blockStart(1))
          .when(col("k") === 2, blockStart(2)).otherwise(blockStart(3))
          + col("rn_seg")).as("lsn"),
        col("user_id"), col("event_type"), col("ts_us"), col("value"), col("props"),
        when(col("g") === "A", streamXidA).otherwise(streamXidB).as("xid"))
    val plain = ev.filter(col("g") === "V")
      .select(((col("event_id") + 1) * grid).as("lsn"),
        col("user_id"), col("event_type"), col("ts_us"), col("value"), col("props"),
        lit(null).cast("int").as("xid"))
    val dataFrames = plain.unionByName(streamed)
      .as[(Long, Long, String, Long, Double, String, Option[Int])]
      .mapPartitions { it =>
        it.map { case (lsn, uid, etype, tsUs, value, props, xid) =>
          val msg = dataMsgOf(uid, etype, tsUs, value, props)
          (lsn, PgOutput.encode(xid.fold(msg)(StreamedMsg(_, msg))))
        }
      }
    val tail = (n + 1) * grid
    val controls: Seq[(Long, Array[Byte])] = (Seq[(Long, PgMessage)](
      blockStart(0) -> StreamStartMsg(streamXidA, firstSegment = true),
      (blockStart(0) + segSize(0) + 1) -> StreamStopMsg,
      blockStart(1) -> StreamStartMsg(streamXidB, firstSegment = true),
      (blockStart(1) + segSize(1) + 1) -> StreamStopMsg,
      blockStart(2) -> StreamStartMsg(streamXidA, firstSegment = false),
      (blockStart(2) + segSize(2) + 1) -> StreamStopMsg,
      blockStart(3) -> StreamStartMsg(streamXidB, firstSegment = false),
      (blockStart(3) + segSize(3) + 1) -> StreamStopMsg,
      (tail + 10) -> StreamCommitMsg(streamXidA, 0, tail + 10, tail + 10, 0L),
      (tail + 20) -> StreamAbortMsg(streamXidB, streamXidB)))
      .map { case (l, m) => (l, PgOutput.encode(m)) }
    spark.createDataset(relationFrames ++ controls)
      .union(dataFrames).toDF("lsn", "data")
  }
}
