package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.TxLog

/** CDC → ACID-table continuous MERGE sink — the capstone that composes
  * the change feed's exactly-once landing (TxLog.commitBatch's
  * version-per-batch rule) with the upsert/tombstone apply
  * (Apply.latestSnapshot semantics): each micro-batch of changes is
  * MERGED into a TxLog table so the table's head is always the feed's
  * latest snapshot — the end-state the reference's HandleFunc consumer
  * exists to maintain (postrack.go:96-117 hands each decoded change to a
  * callback precisely so the callback can keep a materialized copy
  * current), here landing in a transactional table with time travel per
  * batch instead of an opaque application store.
  *
  * MERGE shape (the Delta copy-on-write idea, bucket-granular):
  *  - state rows are hash-bucketed by key (`pmod(xxhash64(table, pk), B)`)
  *    into one data dir per bucket (`m<batch>/<attempt>/__bucket=<b>`,
  *    the attempt dir unique to one applyBatch call), so a batch
  *    rewrites ONLY the buckets its keys touch — cost O(touched state +
  *    batch), never O(table). Untouched buckets' dirs carry forward
  *    unreferenced-by-name (no copy, no rewrite) exactly like Delta files
  *    a MERGE doesn't touch.
  *  - per key the highest-LSN change wins (max_by over the union of old
  *    state and batch — ORDER-FREE: replays and out-of-order chunks
  *    resolve by LSN, the Apply.latestSnapshot rule), and DELETEs are
  *    kept as TOMBSTONES in storage so a late-arriving lower-LSN change
  *    can never resurrect a deleted key; [[snapshot]] hides them.
  *  - exactly-once: version = batchId. A checkpoint-recovery replay sees
  *    its version committed, VERIFIES the commit carries this stream's
  *    own dir naming (the commitBatch replay-vs-reuse rule), and skips;
  *    a version that is neither the next one nor already-committed means
  *    a second writer shares the table — loud, never interleaved. Two
  *    writers racing ONE batch id each write their own attempt dir; the
  *    OCC commit picks one, the loser deletes its dir and fails loudly
  *    (a crash before the commit leaves an unreferenced attempt dir).
  *
  * Scale: three Spark executions per batch whatever the bucket count —
  * the touched-bucket collect, the merge write, and one grouped stats
  * read-back ([[TxLog.statsAndRowsByDir]]) — with the batch evaluated
  * once (persisted across the first two). The merge has one shuffle,
  * hashed on the bucket over touched-bucket state + batch, so every
  * bucket dir holds exactly one file. Bucket count B is the
  * rewrite-granularity knob (more buckets → smaller rewrites per batch,
  * more files — the same trade as Delta's file size) and also the merge
  * write's parallelism (the shuffle has B partitions). Each bucket dir
  * records its pk envelope and row count, but a hash bucket spans the
  * whole pk range, so the envelope never prunes a point lookup: a lookup
  * opens every live bucket dir, one file each; the counts feed
  * [[TxLog.countRows]]. */
object TxLogMaterialize {

  /** Stored state row shape (tombstones included). */
  val stateSchema: StructType = StructType.fromDDL(
    "table_name STRING, pk BIGINT, lsn BIGINT, op STRING, " +
      "ts_us BIGINT, value DOUBLE")

  private def bucketOf(nBuckets: Int) =
    pmod(xxhash64(col("table_name"), col("pk")), lit(nBuckets.toLong))

  /** The producer id this sink records its delivery watermark under —
    * the TxLog txn (SetTransaction) bookkeeping, so OPTIMIZE/vacuum
    * commits can interleave without colliding with batch numbering. */
  val AppId = "cdc-materialize"

  /** Apply one micro-batch of changes (the [[graft.streaming.Change]]
    * column shape: lsn, tableName, op, pk, tsUs, value) to the table —
    * the foreachBatch body. See the class doc for the merge/replay/race
    * rules. */
  def applyBatch(batch: DataFrame, table: String, batchId: Long,
      nBuckets: Int = 8): Unit = {
    val s = batch.sparkSession
    val st = TxLog.planState(s, table) // ONE checkpoint-accelerated walk
    val watermark = st.txnWatermarks.get(AppId)
    val prefix = f"m$batchId%010d/"
    if (watermark.exists(_ >= batchId)) {
      // replay: verify the recording commit when still in the suffix; a
      // batch recorded at-or-before the log checkpoint is subsumed by
      // the snapshot (its live set reflects the delivery, and its commit
      // may be truncated away)
      st.suffix.find(_.txns.contains(AppId -> batchId)).foreach { entry =>
        require(entry.adds.forall(_.name.startsWith(prefix)),
          s"$table: '$AppId' batch $batchId is recorded with adds " +
            s"[${entry.adds.map(_.name).mkString(",")}] — not this stream's " +
            s"$prefix* dirs; a fresh checkpoint was pointed at a foreign " +
            "table under the same appId (misconfiguration, not a replay)")
      }
      return
    }
    require(watermark == (if (batchId == 0) None else Some(batchId - 1)),
      s"$table: batch $batchId arrived but '$AppId' last delivered " +
        s"$watermark — a second writer shares this sink table, or " +
        "batches were skipped")
    val liveNames = st.liveAdds.map(_.name)
    // a live dir under this batch's prefix means a producer without txn
    // records (or a foreign one) delivered it (mirrors commitBatch)
    require(!liveNames.exists(_.startsWith(prefix)),
      s"$table: live dirs under $prefix exist but '$AppId' has no " +
        s"delivery record for batch $batchId — refusing to merge over " +
        "them (pre-txn table or foreign producer)")
    // the merge's correctness RESTS on the bucket layout (untouched
    // buckets carry forward by dir name): a compaction that repacked the
    // dirs would make oldDirs miss live state and the merge silently DROP
    // every key outside this batch — loud instead (generic OPTIMIZE must
    // not run on a live materialize sink; its small-file pressure is
    // already bucket-bounded by construction); tables written before
    // attempt dirs existed have no <attempt> level
    val offLayout = liveNames.filterNot(
      _.matches("""m\d{10}/(?:[^/]+/)?__bucket=\d+"""))
    require(offLayout.isEmpty,
      s"$table: live dirs [${offLayout.take(3).mkString(",")}…] break the " +
        "m<batch>/<attempt>/__bucket=<b> layout this merge sink's " +
        "bucket-granular carry-forward depends on — a compaction or " +
        "foreign writer repacked the table; re-bootstrap the sink instead")
    // the batch is evaluated ONCE: the touched collect fills the cache
    // and the merge reads it back (a streaming source counts its input
    // rows per evaluation, so progress reports each row once)
    val changes = batch.select(
      col("tableName").as("table_name"), col("pk"), col("lsn"),
      col("op"), col("tsUs").as("ts_us"), col("value"))
      .withColumn("__bucket", bucketOf(nBuckets)).persist()
    // one partitioned write into a dir no other attempt shares: a second
    // writer racing this batch id must never touch the bytes the OCC
    // winner commits; the partition column is layout, not data
    val parent = prefix + java.util.UUID.randomUUID()
    val (touched, oldDirs) = try {
      // touched buckets: bounded by nBuckets — a documented O(B) pull
      val touched = changes.select("__bucket")
        .distinct().collect().map(_.getLong(0)).sorted.toSeq
      val oldDirs = touched.flatMap(b =>
        liveNames.filter(_.endsWith(s"/__bucket=$b")).sorted)
      val oldState =
        if (oldDirs.isEmpty)
          s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            stateSchema)
        else s.read.schema(stateSchema)
          .parquet(oldDirs.map(d => s"$table/$d"): _*)
      // per-key LSN merge over touched state ∪ batch — tombstones
      // retained. ONE shuffle, hashed on the bucket alone: the bucket is
      // a function of the key, so grouping by (bucket, key) is the
      // per-key merge, and each bucket lands whole in one task — one file
      // per bucket dir
      oldState.withColumn("__bucket", bucketOf(nBuckets))
        .unionByName(changes)
        .repartition(nBuckets, col("__bucket"))
        .groupBy("__bucket", "table_name", "pk")
        .agg(max_by(struct(col("lsn"), col("op"), col("ts_us"), col("value")),
          col("lsn")).as("cur"))
        .select(col("table_name"), col("pk"), col("cur.lsn").as("lsn"),
          col("cur.op").as("op"), col("cur.ts_us").as("ts_us"),
          col("cur.value").as("value"), col("__bucket"))
        .write.partitionBy("__bucket").parquet(s"$table/$parent")
      (touched, oldDirs)
    } finally changes.unpersist()
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // NUMERIC sort: a lexicographic .sorted would order __bucket=10
    // before __bucket=2 and spuriously fail this require at nBuckets ≥ 11
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(s"$table/$parent"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("__bucket=")).toSeq
      .sortBy(_.stripPrefix("__bucket=").toLong)
    require(written.map(_.stripPrefix("__bucket=").toLong) == touched,
      s"$table: batch $batchId wrote buckets $written but touched " +
        s"$touched — merge/write drift")
    // every written dir's (stats, rows) in ONE grouped read-back
    val stats = TxLog.statsAndRowsByDir(s, s"$table/$parent", written,
      stateSchema, "__bucket", Seq("pk"))
    val adds = written.map { w =>
      val (st, nRows) = stats(w)
      TxLog.AddFile(s"$parent/$w", st, rows = Some(nRows))
    }
    val v = st.head.fold(0L)(_ + 1L)
    val committed = TxLog.tryCommitActions(s, table, v, adds, oldDirs,
      schemaDdl = if (batchId == 0) Some(stateSchema.toDDL) else None,
      txns = Seq(AppId -> batchId))
    if (!committed) fs.delete(new org.apache.hadoop.fs.Path(s"$table/$parent"), true)
    require(committed,
      s"$table: version $v was committed by another writer while this " +
        "batch merged — two writers share one sink table; re-run the " +
        "batch (the delivery watermark makes the retry safe)")
    TxLog.maybeAutoCheckpoint(s, table, v)
  }

  /** The live (non-tombstoned) materialized state at `asOf` — the
    * continuously-maintained `cdc_latest_snapshot`. Tombstones are
    * storage, not semantics: this is the read path that hides them. */
  def snapshot(s: SparkSession, table: String,
      asOf: Option[Long] = None): DataFrame =
    TxLog.readWithLogSchema(s, table, asOf).filter(col("op") =!= "DELETE")
}
