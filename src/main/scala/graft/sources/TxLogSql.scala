package graft.sources

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The SQL FRONT DOOR for the TxLog table format (r14 — VERDICT item 1):
  * a DataSourceV2 `TableProvider` + `TableCatalog` so every TxLog verb
  * the Scala API offers is reachable from plain SQL / `spark.read`:
  *
  *  - `spark.read.format("txlog").load(path)` — the registered short
  *    name (META-INF/services), with `.option("versionAsOf", v)` time
  *    travel;
  *  - `spark.sql.catalog.<name> = graft.sources.TxLogCatalog` +
  *    `spark.sql.catalog.<name>.root = <dir>` — tables address as
  *    `<name>.<table>`, `SELECT … FROM t VERSION AS OF 3` resolves
  *    through `loadTable(ident, version)`, `CREATE TABLE … USING txlog`
  *    records the schema in a fresh log, `INSERT INTO` routes to the
  *    [[TxLog.append]] verb (a staged-dir publish with CAS retry);
  *  - FILTER PUSHDOWN is wired into the format's own skipping machinery
  *    ([[TxLog.pruneAdds]]): the scan builder translates the query's
  *    conjuncts into typed [[TxLog.Skip]] bounds (long / string /
  *    decimal / date envelopes + partition-value membership) and prunes
  *    data dirs AT PLAN TIME — a selective SQL query opens O(matching
  *    files), exactly what the Scala path gets. Pruning never replaces
  *    the filter: every filter is also returned as a residual for Spark
  *    to re-apply row-level (the conservative contract — the scan may
  *    only drop files the filter provably rejects entirely), and COLUMN
  *    PRUNING rides `SupportsPushDownRequiredColumns` into the inner
  *    parquet scan.
  *
  * Execution reuses the battle-tested batch path via the DSv2
  * `V1Scan` bridge (the JDBC-source migration shape, public API): the
  * scan plans the pruned multi-dir parquet read with
  * [[TxLog.read]] — schema-verified against the log, pushdown/codegen
  * untouched — so the SQL and Scala paths cannot drift. Writes bridge
  * the same way (`V1Write` → [[TxLog.append]]).
  *
  * SQL `MERGE INTO` (DSv2 `SupportsRowLevelOperations`) is NOT wired —
  * merges run through the Scala [[TxLogMerge.merge]] verb; the SQL
  * surface covers read/time-travel/create/insert. */
class TxLogDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with StreamSinkProvider {

  override def shortName(): String = "txlog"

  override def supportsExternalMetadata(): Boolean = true

  // `readStream.format("txlog")` / `writeStream.format("txlog")` — the
  // one streaming connector (sources/TxLogStream.scala). The table
  // declares no streaming capability, so Spark routes streaming reads
  // through StreamSourceProvider and streaming writes through
  // StreamSinkProvider, and batch reads/writes through TableProvider:
  // one registration serves every direction of the front door.
  private val streamProvider = new TxLogStreamSourceProvider

  override def sourceSchema(ctx: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    streamProvider.sourceSchema(ctx, schema, providerName, parameters)

  override def createSource(ctx: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    streamProvider.createSource(ctx, metadataPath, schema, providerName,
      parameters)

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val table = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txlog stream sink needs .option(\"path\", <table dir>)"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"$table: the txlog sink appends each micro-batch as a commit; " +
        s"$outputMode output mode is not offered — write through " +
        "foreachBatch (e.g. a TxLogMerge.merge per batch) instead")
    require(!parameters.contains("versionAsOf") &&
        !parameters.contains("timestampAsOf"),
      s"$table: cannot stream into a time-travel snapshot")
    new TxLogSink(table, parameters.get("appId"),
      parameters.get("statsCols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }

  private def pathOf(m: util.Map[String, String]): String = {
    val p = Option(m.get("path")).orElse(Option(m.get("paths")))
    p.getOrElse(throw new IllegalArgumentException(
      "txlog needs a table dir: .load(<path>) or .option(\"path\", …)"))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val s = SparkSession.active
    val table = pathOf(options)
    // a table with no log yet has no schema to infer — the STREAMING
    // SINK's first commit will record the query's schema, and
    // `writeStream` resolves the table before it falls back to the V1
    // sink, so a not-yet-born target resolves to the empty struct
    // instead of failing the write before it can create the table; a
    // READ of it still fails loudly downstream (not a TxLog table)
    if (TxLog.currentVersion(s, table).isEmpty) new StructType()
    else TxLog.logSchema(s, table,
        TxLogDataSource.asOfVersion(s, table, options))
      .getOrElse(throw new IllegalArgumentException(
        s"$table: no schema recorded in the log — declare one with " +
          ".schema(…) (reads are verified against it) or commit with a " +
          "recorded schema"))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val table = pathOf(properties)
    new TxLogTable(table, schema,
      TxLogDataSource.asOfVersion(SparkSession.active, table, properties))
  }
}

object TxLogDataSource {
  /** Resolve the read options' time-travel pin to a commit version:
    * `versionAsOf` is the version itself; `timestampAsOf` (r15 — epoch
    * millis, or an ISO-8601 instant / `yyyy-MM-dd HH:mm:ss` local
    * timestamp) resolves through [[TxLog.versionAtTimestamp]] (log-file
    * mtimes, the same clock time-based vacuum retains by). Setting both
    * is LOUD — two pins that could disagree must not race. */
  private[sources] def asOfVersion(s: SparkSession, table: String,
      options: util.Map[String, String]): Option[Long] = {
    val v = Option(options.get("versionAsOf"))
    val t = Option(options.get("timestampAsOf"))
    require(v.isEmpty || t.isEmpty,
      s"$table: versionAsOf and timestampAsOf are mutually exclusive — " +
        "pin the snapshot one way")
    v.map(_.toLong).orElse(t.map(raw =>
      TxLog.versionAtTimestamp(s, table, parseTsMillis(raw))))
  }

  private[sources] def parseTsMillis(raw: String): Long =
    if (raw.matches("""-?\d+""")) raw.toLong
    else try java.time.Instant.parse(raw).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.sql.Timestamp.valueOf(raw).getTime // yyyy-MM-dd HH:mm:ss
    }
}

/** One TxLog table as a DSv2 [[Table]]: batch-readable (with pushdown)
  * and V1-batch-writable (INSERT INTO → the append verb). `asOf` pins a
  * snapshot (the `VERSION AS OF` / `versionAsOf` time-travel leg). */
class TxLogTable(val table: String, tableSchema: StructType,
    asOf: Option[Long]) extends Table with SupportsRead with SupportsWrite {

  override def name(): String =
    asOf.fold(s"txlog:$table")(v => s"txlog:$table@v$v")

  override def toString: String = name()

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TxLogScanBuilder(SparkSession.active, table, tableSchema, asOf)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): V1Write = new V1Write {
        override def toInsertableRelation(): InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                s"$table: INSERT OVERWRITE is not offered — the log is " +
                  "append-only history; use the merge/optimize verbs")
              require(asOf.isEmpty,
                s"$table: cannot INSERT into a time-travel snapshot")
              val name = s"ins-${util.UUID.randomUUID().toString.take(12)}"
              val s = SparkSession.active
              // SQL INSERT resolves columns BY POSITION — the incoming
              // frame carries the query's names; align them to the
              // table's logical schema before any by-name routing
              val logical = TxLog.logSchema(s, table)
              val aligned = logical match {
                case Some(sch) if sch.fields.length == data.columns.length =>
                  data.toDF(sch.fieldNames.toIndexedSeq: _*)
                case _ => data
              }
              TxLog.append(aligned, table, name)
              ()
            }
          }

      }
    }
}

/** Plan-time file pruning telemetry: the last scan's (pruned, total)
  * live-dir counts, recorded when a [[TxLogScan]] plans its file list.
  * This is the observable the plan-lint specs pin — "a pushed filter
  * reaches the skip machinery" must stay true under refactors, and the
  * file count is the ground truth the explain string doesn't carry
  * through the V1 bridge. Driver-side, one tuple — not a hot path. */
object TxLogScanTelemetry {
  @volatile var lastPlanned: Option[(Int, Int)] = None
  /** Set when a COUNT(*) was answered from metadata (no scan planned). */
  @volatile var lastCountStar: Option[Long] = None
}

/** Translates the query's pushed conjuncts into [[TxLog.Skip]] bounds.
  * Every filter is ALSO returned as a residual (Spark re-applies it
  * row-level): envelope pruning is file-granular, so the scan only ever
  * drops whole files the filter provably rejects — never rows. */
class TxLogScanBuilder(s: SparkSession, table: String, full: StructType,
    asOf: Option[Long]) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var skips: Seq[TxLog.Skip] = Nil
  private var pushedCount: Option[Long] = None

  // METADATA COUNT (r14): an unfiltered `SELECT count(*)` is answered
  // from the log — the sum of the live adds' recorded row counts minus
  // the deletion-vector rows (TxLog.countRows), zero data files opened.
  // Complete pushdown, so Spark uses the one-row scan result directly.
  // Only when NO filter reached the scan (any pushed skip means rows
  // must be checked) and every live add records its count (legacy adds
  // fall back to the ordinary scan, never a wrong answer).
  private lazy val metaCount: Option[Long] =
    try TxLog.countRows(s, table, asOf)
    catch { case _: IllegalArgumentException => None } // e.g. empty table

  private def countStarOnly(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[
        org.apache.spark.sql.connector.expressions.aggregate.CountStar]

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    countStarOnly(agg) && pushed.isEmpty && skips.isEmpty &&
      metaCount.isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    if (!supportCompletePushDown(agg)) false
    else { pushedCount = metaCount; true }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val translated = filters.map(f => f -> toSkips(f))
    pushed = translated.collect { case (f, sk) if sk.nonEmpty => f }
    skips = translated.flatMap(_._2).toSeq
    filters // all residual: pruning is file-level, rows re-checked above
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** One filter → zero or more conjunctive skips. Unsupported shapes
    * (Or / Not / null-matching / one-sided string bounds / types with no
    * stable ordering or rendering) translate to NOTHING — the file is
    * kept and the residual filter decides. */
  private def toSkips(f: Filter): Seq[TxLog.Skip] = f match {
    case And(l, r) => toSkips(l) ++ toSkips(r)
    case EqualTo(c, v) if v != null => eq(c, v)
    case EqualNullSafe(c, v) if v != null => eq(c, v)
    case In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
      // membership prunes partitions directly (canonical-render types
      // only); the stats envelope gets the hull [min, max] of the set —
      // only for types with a well-defined ordering here (r15, advised:
      // the old BigDecimal-of-toString fallback THREW at plan time for
      // date/timestamp/boolean IN-lists)
      val hull = anyOrd(c).toSeq.flatMap(ord =>
        range(c, Some(vs.min(ord)), Some(vs.max(ord))))
      partitionSkip(c, vs.toSet) ++ hull
    case GreaterThan(c, v) => range(c, Some(v), None).toSeq
    case GreaterThanOrEqual(c, v) => range(c, Some(v), None).toSeq
    case LessThan(c, v) => range(c, None, Some(v)).toSeq
    case LessThanOrEqual(c, v) => range(c, None, Some(v)).toSeq
    case _ => Nil
  }

  private def eq(c: String, v: Any): Seq[TxLog.Skip] =
    partitionSkip(c, Set(v)) ++ range(c, Some(v), Some(v)).toSeq

  /** Partition values are recorded as plain strings; a SkipPartition is
    * emitted ONLY for types whose filter-side rendering provably equals
    * the writer's recorded rendering — raw strings and integral
    * Long.toString. Fractional/date/boolean renderings can drift (a
    * double recorded "1.0" vs a pushed long 1 → "1" — r15, advised:
    * that mismatch silently pruned files whose rows match), so those
    * types rely on the typed stats envelope plus the residual filter. */
  private def partitionSkip(c: String, vs: Set[Any]): Seq[TxLog.Skip] =
    full.fields.find(_.name == c).map(_.dataType) match {
      case Some(StringType) =>
        Seq(TxLog.SkipPartition(c, vs.map(_.asInstanceOf[String])))
      case Some(LongType | IntegerType | ShortType) =>
        Seq(TxLog.SkipPartition(c,
          vs.map(_.asInstanceOf[Number].longValue().toString)))
      case _ => Nil
    }

  /** The ordering an IN-list hull is computed under — None for types
    * the stats envelope can't bound anyway (boolean, timestamp, …):
    * emitting no hull keeps the files, never a plan-time throw. */
  private def anyOrd(c: String): Option[Ordering[Any]] =
    full.fields.find(_.name == c).map(_.dataType) match {
      case Some(StringType) =>
        Some(Ordering.by[Any, String](_.asInstanceOf[String])(
          Ordering.fromLessThan(TxLog.utf8Lt)))
      case Some(LongType | IntegerType | ShortType) =>
        Some(Ordering.by[Any, Long](x => x.asInstanceOf[Number].longValue()))
      case Some(_: DecimalType | DoubleType | FloatType) =>
        Some(Ordering.by[Any, java.math.BigDecimal](x =>
          new java.math.BigDecimal(x.toString)))
      case Some(DateType) =>
        Some(Ordering.by[Any, java.time.LocalDate] {
          case ld: java.time.LocalDate => ld
          case sd: java.sql.Date => sd.toLocalDate
          case other => java.time.LocalDate.parse(other.toString)
        })
      case _ => None
    }

  /** A (possibly one-sided) bound on `c`, typed by the table schema.
    * Missing sides widen to the type's extreme (conservative); strings
    * have no finite upper extreme in UTF-8 order, so a one-sided string
    * bound emits nothing. */
  private def range(c: String, lo: Option[Any],
      hi: Option[Any]): Option[TxLog.Skip] =
    full.fields.find(_.name == c).map(_.dataType).flatMap {
      case LongType | IntegerType | ShortType =>
        Some(TxLog.SkipRange(c,
          lo.map(_.asInstanceOf[Number].longValue()).getOrElse(Long.MinValue),
          hi.map(_.asInstanceOf[Number].longValue()).getOrElse(Long.MaxValue)))
      case StringType =>
        if (lo.isDefined && hi.isDefined)
          Some(TxLog.SkipRangeString(c, lo.get.asInstanceOf[String],
            hi.get.asInstanceOf[String]))
        else None
      case _: DecimalType | DoubleType | FloatType =>
        Some(TxLog.SkipRangeDecimal(c,
          lo.map(x => BigDecimal(x.toString))
            .getOrElse(BigDecimal("-1e38")),
          hi.map(x => BigDecimal(x.toString)).getOrElse(BigDecimal("1e38"))))
      case DateType =>
        def d(x: Any): java.time.LocalDate = x match {
          case ld: java.time.LocalDate => ld
          case sd: java.sql.Date => sd.toLocalDate
          case other => java.time.LocalDate.parse(other.toString)
        }
        Some(TxLog.SkipRangeDate(c,
          lo.map(d).getOrElse(java.time.LocalDate.of(-9999, 1, 1)),
          hi.map(d).getOrElse(java.time.LocalDate.of(9999, 12, 31))))
      case _ => None
    }

  override def build(): Scan = pushedCount match {
    case Some(n) => new TxLogCountScan(table, n)
    case None => new TxLogScan(s, table, full, required, skips, asOf)
  }
}

/** The metadata-answered COUNT(*): one row, zero data files opened. */
class TxLogCountScan(table: String, n: Long) extends V1Scan {
  private val schema = StructType(Seq(
    org.apache.spark.sql.types.StructField("count_star",
      org.apache.spark.sql.types.LongType, nullable = false)))

  override def readSchema(): StructType = schema

  override def description(): String =
    s"txlog:$table metadataCount=$n"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      ctx: SQLContext): T = {
    TxLogScanTelemetry.lastCountStar = Some(n)
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = readSchema()
      override def buildScan(): RDD[Row] =
        ctx.sparkSession.sparkContext.parallelize(Seq(Row(n)), 1)
    }
    rel.asInstanceOf[T]
  }
}

/** The planned scan: file pruning happens HERE, at plan time — the live
  * add-set is pruned by the pushed skips, telemetry records the
  * (kept, total) counts, and execution bridges to the batch read of
  * exactly the surviving dirs via [[V1Scan]]. */
class TxLogScan(s: SparkSession, table: String, full: StructType,
    required: StructType, skips: Seq[TxLog.Skip], asOf: Option[Long])
    extends V1Scan {

  override def readSchema(): StructType = required

  override def description(): String = {
    val (kept, total) = plannedCounts
    s"txlog:$table prunedDirs=$kept/$total skips=${skips.mkString(",")}"
  }

  private lazy val plannedCounts: (Int, Int) = {
    val live = TxLog.liveAdds(s, table, asOf)
    val kept = TxLog.pruneAdds(live, skips)
    TxLogScanTelemetry.lastPlanned = Some((kept.size, live.size))
    (kept.size, live.size)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      ctx: SQLContext): T = {
    plannedCounts // record telemetry at plan time
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = required
      override def buildScan(): RDD[Row] = {
        // the inner read re-prunes with the same skips (idempotent) and
        // projects the required columns only — parquet footer pushdown
        // and whole-stage codegen apply inside this plan untouched.
        // Names are LOGICAL; the read resolves a column map itself
        val base =
          if (required.fields.nonEmpty)
            TxLog.read(s, table, required, asOf, skips)
          else // 0-column scans (COUNT(*)) still need the row count
            TxLog.read(s, table, StructType(full.fields.take(1)), asOf,
              skips).select()
        base.rdd
      }
    }
    rel.asInstanceOf[T]
  }
}

/** A [[TableCatalog]] over a ROOT DIRECTORY of TxLog tables:
  * `spark.sql.catalog.<name> = graft.sources.TxLogCatalog` and
  * `spark.sql.catalog.<name>.root = <dir>`; table `ns1.ns2.t` lives at
  * `<dir>/ns1/ns2/t`. Read/time-travel/create/insert/drop are wired;
  * alter/rename are loudly unsupported (the log records schema
  * evolution through commits, not catalog mutations). */
class TxLogCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  /** `CALL <cat>.system.<proc>(…)` (r15) — the maintenance verbs as
    * SQL stored procedures (optimize / vacuum / vacuum_older_than /
    * restore / checkpoint / history); see [[TxLogProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures
        .UnboundProcedure =
    TxLogProcedures.load(catalogName, root, ident)

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] =
    if (!namespace.sameElements(Array("system"))) Array.empty
    else TxLogProcedures.names
      .map(n => Identifier.of(Array("system"), n)).toArray

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name: set spark.sql.catalog.$name.root = <dir>"))
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    (root +: (ident.namespace() :+ ident.name())).mkString("/")

  private def fs(s: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val s = SparkSession.active
    val dir = (root +: namespace).mkString("/")
    val f = fs(s, dir)
    if (!f.exists(new org.apache.hadoop.fs.Path(dir))) Array.empty
    else f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isDirectory &&
        f.exists(new org.apache.hadoop.fs.Path(st.getPath, "_log")))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean = {
    val s = SparkSession.active
    fs(s, dirOf(ident)).exists(
      new org.apache.hadoop.fs.Path(dirOf(ident), "_log"))
  }

  private def load(ident: Identifier, asOf: Option[Long]): Table = {
    val s = SparkSession.active
    val dir = dirOf(ident)
    if (!tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName) ++ ident.namespace() ++ Seq(ident.name()))
    val schema = TxLog.logSchema(s, dir, asOf).getOrElse(
      throw new IllegalArgumentException(
        s"$dir: no schema recorded in the log — SQL reads need one " +
          "(CREATE TABLE … USING txlog records it)"))
    new TxLogTable(dir, schema, asOf)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `SELECT … FROM t VERSION AS OF <v>` — the SQL time-travel leg. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLong))

  /** `SELECT … FROM t TIMESTAMP AS OF <ts>` (r15) — Spark hands the
    * instant in MICROseconds since epoch; resolve it to the snapshot
    * current at that instant via commit-file mtimes
    * ([[TxLog.versionAtTimestamp]]) and serve that version. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val s = SparkSession.active
    load(ident, Some(TxLog.versionAtTimestamp(s, dirOf(ident),
      Math.floorDiv(timestampMicros, 1000L))))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      s"${dirOf(ident)}: PARTITIONED BY is not offered — partition " +
        "values ride add actions (Iceberg-style metadata), not the DDL")
    val s = SparkSession.active
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          Seq(catalogName) ++ ident.namespace() ++ Seq(ident.name()))
    // v0: an empty commit that records the schema — the log is born
    // with its governing DDL, so every later read/insert is verified
    require(TxLog.tryCommitActions(s, dirOf(ident), 0L, Nil, Nil,
        schemaDdl = Some(schema.toDDL), cdf = Some("@adds")),
      s"${dirOf(ident)}: v0 conflicted on a fresh table — a concurrent " +
        "CREATE of the same name won; re-check and retry")
    new TxLogTable(dirOf(ident), schema, None)
  }

  /** `ALTER TABLE … RENAME/DROP/ADD COLUMN` (r15) — compiled onto the
    * column-mapping verbs: rename is O(1) metadata (old files read
    * correctly under the new name, zero rewrite), drop hides the bytes
    * without rewrite, re-adding a dropped name mints a fresh physical
    * identity so the old bytes can never leak back. Nested fields,
    * positioned adds, type/nullability changes and property changes
    * are LOUD — the log records evolution through commits, not
    * arbitrary catalog mutations. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val s = SparkSession.active
    val dir = dirOf(ident)
    changes.foreach {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          s"$dir: RENAME of a nested field is not offered")
        TxLog.renameColumn(s, dir, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          s"$dir: DROP of a nested field is not offered")
        TxLog.dropColumn(s, dir, d.fieldNames()(0))
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"$dir: ADD of a nested field is not offered")
        require(a.position() == null,
          s"$dir: positioned ADD COLUMN (FIRST/AFTER) is not offered — " +
            "new columns append at the end")
        require(a.isNullable,
          s"$dir: ADD COLUMN must be nullable — files written before " +
            "the evolution read the new column as null")
        TxLog.addColumn(s, dir, a.fieldNames()(0), a.dataType().sql)
      case other => throw new UnsupportedOperationException(
        s"$dir: ALTER TABLE change ${other.getClass.getSimpleName} is " +
          "not offered — rename/drop/add column are the supported " +
          "evolutions")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val s = SparkSession.active
    if (!tableExists(ident)) false
    else fs(s, dirOf(ident)).delete(
      new org.apache.hadoop.fs.Path(dirOf(ident)), true)
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"${dirOf(oldIdent)}: RENAME is not offered — table identity is " +
        "its directory")
}
