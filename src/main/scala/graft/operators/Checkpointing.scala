package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.graftshim.StreamingBridge

/** Lineage truncation with a cluster-safe escape hatch.
  *
  * `localCheckpoint` stores blocks on executors — fast, zero config, fine on
  * local[32] and for tests, but an executor loss mid-job discards the only
  * copy and kills iterative jobs (connected components) that can no longer
  * recompute from lineage. On a real cluster the job should set
  * `sc.setCheckpointDir(...)` (HDFS/S3); every operator that cuts lineage
  * routes through here, so configuring the dir flips the whole library to
  * reliable checkpoints with no code change.
  *
  * Cleanup: reliable checkpoint files are reclaimed by the ContextCleaner
  * only when `spark.cleaner.referenceTracking.cleanCheckpoints=true`
  * (GraftSession sets it; deployments building their own session must too),
  * otherwise every cut leaks a checkpoint dir for the life of the app.
  *
  * The rule for operators: an intermediate that two consumers read is
  * CUT, never persisted. A cache can be evicted or cleared between the
  * call and the action, and then each consumer replans its own copy —
  * anything nondeterministic in it (a range-partition id, sampled with an
  * rdd.id-derived seed) differs between the copies. A cut stores the rows
  * once, so every consumer scans the same data (PrefixSum's slice ids are
  * the case `Round16OpsSpec` pins).
  */
object Checkpointing {

  /** Eagerly materialize `df` and truncate its lineage: reliable
    * `checkpoint` when the session has a checkpoint dir, `localCheckpoint`
    * otherwise. */
  def cut(df: DataFrame): DataFrame = {
    val out = if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true)
    dumpArtifact("cut", df, out)
    out
  }

  /** Plan-evidence hook (graft.tools.PlanDump): queries that build
    * memoized/eager cut artifacts execute their heaviest joins INSIDE the
    * cut, so the final query plan cannot show them. When the
    * `graft.plandump.artifacts` system property names a directory, every
    * cut build writes its formatted build plan plus the partitioning and
    * ordering the checkpoint actually captured. Inert (one props lookup)
    * unless the property is set — PlanDump sets it, nothing else does. */
  private val dumpSeq = new java.util.concurrent.atomic.AtomicInteger
  private def dumpArtifact(tag: String, pre: DataFrame, out: DataFrame): Unit =
    sys.props.get("graft.plandump.artifacts").foreach { d =>
      val dir = java.nio.file.Paths.get(d)
      java.nio.file.Files.createDirectories(dir)
      val captured = out.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          s"captured partitioning: ${l.outputPartitioning}\n" +
            s"captured ordering:     ${l.outputOrdering}\n"
        case o => s"captured (not a LogicalRDD): ${o.getClass.getName}\n"
      }
      val plan = pre.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        dir.resolve(f"artifact_${dumpSeq.incrementAndGet()}%03d_$tag.txt"),
        captured + "\n=== build plan ===\n" + plan)
    }

  /** Cut `df` hash-partitioned and sorted on `keys` so the stored artifact
    * CARRIES the layout: every downstream join/aggregate keyed on `keys`
    * reuses it instead of re-exchanging (+re-sorting) the artifact — the
    * iterative-consumer posture (label propagation, pagerank, BFS, a
    * banding self-join) where the corpus-sized side must shuffle once at
    * build, never once per round.
    *
    * One pass under the session's own AQE, one stored artifact: the BUILD
    * runs once (`queryExecution.toRdd` executes its shuffle stages with
    * AQE's runtime broadcast and coalescing — pagerank's build joins); the
    * RELAYOUT reads that RDD through a `LogicalRDD` as
    * `repartition(n, keys)` + `sortWithinPartitions(keys)` (AQE never
    * coalesces an explicit count) and is checkpointed eagerly, reliable or
    * local as [[cut]]. The artifact declares the partitioning and ordering
    * of the FINAL AQE plan (`AdaptiveSparkPlanExec.executedPlan`: Sort over
    * a hashpartitioning(keys, n) stage). `Dataset.checkpoint` cannot: it
    * reads the AQE root, `UnknownPartitioning(0)`, so a plain [[cut]] of
    * repartition+sort loses the layout (`Round16OpsSpec` pins both).
    * Consumer plans show `Scan ExistingRDD ... hashpartitioning(keys, n)`
    * with no Exchange/Sort above it.
    *
    * n is the partition count of the AQE-run build
    * (advisory-partition-size / parallelism-first driven —
    * input-proportional at cluster scale), so the layout stays
    * scale-adaptive and toy-scale rounds do not pay thousands of empty
    * tasks. It is measured, not estimated: join statistics multiply child
    * sizes (4.27e12 B estimated for q_pagerank's 1.17M-row artifact).
    *
    * Consumer-side reuse rules, measured on Spark 4.1.2 (`Round16OpsSpec`
    * pins the capture and the zero-Exchange/zero-Sort consumer join; the
    * committed `plans/r16` dumps show the rounds):
    * a join whose other side ALREADY carries its own exchange (an
    * aggregate upstream) streams the artifact without Exchange/Sort iff
    * n >= spark.sql.shuffle.partitions (below that the planner
    * re-exchanges the artifact to the aggregate's count; above conf the
    * small side pays one extra exchange to match n — cheap, it is the
    * O(nodes) side). A join whose other side needs a JOIN-INDUCED fresh
    * exchange adopts the artifact's n at ANY n (the BFS hop plans show
    * the frontier shuffled to the artifact's 20 at conf=32, the edge side
    * bare). A join where BOTH sides derive from the artifact reuses the
    * layout at any n. So with data-sized n the optimization auto-engages exactly
    * when the artifact is large enough that re-exchanging it per round
    * would actually hurt (n grows past conf with input size), while small
    * artifacts keep AQE-coalesced round shuffles that local measurement
    * favors (n=32 fixed was +0.5 s/round on q_pagerank at sf0.1).
    *
    * `floorParallelism`: set it true when the consumer's work is
    * SUPER-linear in per-partition data — a banding self-join whose output
    * is quadratic per bucket — so the artifact never has fewer partitions
    * than `spark.sql.shuffle.partitions` (the parallelism the deployment
    * asked for, which also guarantees the reuse rule above engages at any
    * scale). Measured: q_fuzzy_join 1.9 s → 5.7 s at sf0.1 when the
    * single-row-group build collapsed the self-join to one task. */
  def cutPartitioned(df: DataFrame, keys: String*): DataFrame =
    cutPartitioned(df, floorParallelism = false, keys: _*)

  def cutPartitioned(df: DataFrame, floorParallelism: Boolean,
                     keys: String*): DataFrame = {
    import org.apache.spark.sql.functions.col
    val built = df.queryExecution.toRdd
    val floor = if (floorParallelism)
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt else 1
    val n = math.max(built.getNumPartitions, floor)
    val relaid = StreamingBridge.rowsOf(df, built, df.queryExecution.executedPlan)
      .repartition(n, keys.map(col): _*)
      .sortWithinPartitions(keys.head, keys.tail: _*)
    val stored = StreamingBridge.checkpointNow(relaid.queryExecution.toRdd)
    val out = StreamingBridge.rowsOf(relaid, stored,
      relaid.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      })
    dumpArtifact("cutPartitioned", df, out)
    out
  }

  /** Recursive delete of a scratch tree (checkpoint/state-store dirs the
    * streaming gates create per run) — ONE definition, because filesystem
    * mutation logic must not drift across call-site clones. Quiet on a
    * missing path; never follows symlinks (Files.walk does not by
    * default). */
  def deleteRecursively(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      // materialize the listing, then close the walk stream BEFORE deleting:
      // Files.walk holds a directory fd until closed, and deleting out from
      // under a live walk is unspecified
      val walk = java.nio.file.Files.walk(p)
      val paths = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
