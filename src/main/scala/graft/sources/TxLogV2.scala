package graft.sources

import java.util.{Optional, OptionalLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, LocalScan, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownV2Filters, SupportsReportStatistics, SupportsRuntimeFiltering, V1Scan}
import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.v2bridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.DataSkipping.{ColRange, FileStats}

/** DataSource-V2 surface of the transactional table — the Spark-4-
  * native half of the `txlog` format. Reads resolve through
  * [[TxLogV2Table]] (one snapshot pinned per analysis), push columns
  * and predicates through the V2 ScanBuilder, and execute as a real
  * `Batch` whose file list is the manifest-pruned snapshot
  * (min/max + Bloom data skipping) INTERSECTED with Spark's own
  * runtime filters ([[SupportsRuntimeFiltering]] — dynamic file
  * pruning happens where Spark 4 wants it, inside `BatchScanExec`,
  * with broadcast-exchange reuse and AQE composition for free; no
  * injected optimizer rule, no planning-time job).
  *
  * Division of labor, by design:
  *   - batch WRITES split per-table ([[TxLogV2Table]] `nativeWrite`):
  *     CATALOG-resolved tables expose `BATCH_WRITE` — `writeTo()` /
  *     catalog INSERTs run the staged-commit [[TxLogBatchWrite]]
  *     (per-row CHECK enforcement in-task, cluster-by file splitting
  *     for PARTITIONED tables); PATH-based tables keep
  *     `V1_BATCH_WRITE` + the CreatableRelationProvider fallback so
  *     `df.write.format("txlog").mode(...).save(path)` keeps all four
  *     SaveModes and additive schema evolution;
  *   - STREAMING keeps the V1 source/sink (no MICRO_BATCH_READ /
  *     STREAMING_WRITE capability → Spark falls back to the
  *     StreamSourceProvider/StreamSinkProvider seams unchanged);
  *   - snapshots with live DELETION VECTORS split by vector size:
  *     SMALL vectors (the point-delete case) keep the NATIVE batch
  *     ([[TxLogDvAwareBatchScan]]) — clean files vectorized, touched
  *     files read whole with inline per-file skip sets, runtime file
  *     pruning preserved; BULK vectors scan through a [[V1Scan]]
  *     bridge ([[TxLogDvScan]]) so the anti-join stays a DISTRIBUTED
  *     join (deleted-rows-sized side, AQE-broadcast). DV-free
  *     snapshots (the steady state: OPTIMIZE/checkpoint fold DVs
  *     away) are the plain native Batch.
  *
  * Escape hatch: `spark.sql.sources.useV1SourceList=txlog` restores
  * the pure-V1 behavior end to end (Spark-native kill switch).
  */
object TxLogV2 {
  /** Test hook: (files planned, live files in the snapshot) at the
    * most recent `planInputPartitions` — pins pruning EFFECTIVENESS
    * (static and runtime), not just result correctness. The live-file
    * DENOMINATOR costs a second full-manifest walk on every filtered
    * (re)plan, so it is computed only while [[captureScans]] is on
    * (the test harness enables it); production scans record -1 and
    * never pay metadata work for a diagnostic.
    */
  @volatile var lastScan: (Int, Int) = (0, 0)

  /** Enables the [[lastScan]] denominator walk (specs only). */
  @volatile var captureScans: Boolean = false

  /** Test hook: true iff the most recent replan was triggered by a
    * RUNTIME filter (Spark's dynamic file pruning reaching the scan).
    */
  @volatile var lastRuntimeFiltered: Boolean = false

  private[sources] def asNullable(s: StructType): StructType =
    TxLogRelation.asNullable(s).asInstanceOf[StructType]

  /** CHECK constraints compiled to BOUND catalyst predicates over the
    * write schema — what the native V2 writers evaluate PER ROW inside
    * the write task (fail-fast, single pass — the same point the V1
    * staging job enforces at), instead of a second batch-sized
    * validation read at commit. Resolution rides Spark's own analyzer
    * (an empty frame + `expr`), so any SQL expression a constraint may
    * hold resolves exactly as [[TxLogTable.enforce]] would; NULL
    * passes (SQL CHECK semantics) via the coalesce-to-true wrap.
    */
  private[graft] def bindConstraints(spark: SparkSession,
      schema: StructType, constraints: Map[String, String])
      : Seq[(String, String,
        org.apache.spark.sql.catalyst.expressions.Expression)] = {
    if (constraints.isEmpty) return Nil
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    constraints.toSeq.map { case (name, sql) =>
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      val analyzed = empty.filter(coalesce(expr(sql), lit(true)))
        .queryExecution.analyzed
      val f = analyzed.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Filter]
      val bound = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(f.condition, f.child.output)
      (name, sql, bound)
    }
  }

  /** Logical→physical rename of a V1 filter tree (for parquet
    * row-group pushdown); None drops the filter from pushdown (it is
    * still evaluated exactly above the scan).
    */
  private[sources] def renameV1(f: Filter,
      physName: String => String): Option[Filter] = f match {
    case EqualTo(a, v) => Some(EqualTo(physName(a), v))
    case EqualNullSafe(a, v) => Some(EqualNullSafe(physName(a), v))
    case GreaterThan(a, v) => Some(GreaterThan(physName(a), v))
    case GreaterThanOrEqual(a, v) => Some(GreaterThanOrEqual(physName(a), v))
    case LessThan(a, v) => Some(LessThan(physName(a), v))
    case LessThanOrEqual(a, v) => Some(LessThanOrEqual(physName(a), v))
    case In(a, vs) => Some(In(physName(a), vs))
    case IsNull(a) => Some(IsNull(physName(a)))
    case IsNotNull(a) => Some(IsNotNull(physName(a)))
    case StringStartsWith(a, p) => Some(StringStartsWith(physName(a), p))
    case StringEndsWith(a, sx) => Some(StringEndsWith(physName(a), sx))
    case StringContains(a, sx) => Some(StringContains(physName(a), sx))
    case And(l, r) =>
      for (x <- renameV1(l, physName); y <- renameV1(r, physName))
        yield And(x, y)
    case Or(l, r) =>
      for (x <- renameV1(l, physName); y <- renameV1(r, physName))
        yield Or(x, y)
    case Not(c) => renameV1(c, physName).map(Not)
    case _ => None
  }
}

/** One txlog table (root + snapshot version pinned at `getTable`
  * time) as a V2 [[Table]]. The manifest is the source of truth for
  * the schema whenever the table exists on disk — the catalog may
  * have stored a stale (or, for `CREATE TABLE ... USING txlog
  * OPTIONS(path ...)`, an empty) schema; serving the manifest schema
  * makes catalog resolution track schema evolution exactly like the
  * path-based reader. `externalSchema` is used only for the
  * not-yet-existing-table write case.
  */
final class TxLogV2Table(spark: SparkSession, root: String,
    version: Long, externalSchema: Option[StructType],
    nativeWrite: Boolean = false)
    extends Table with SupportsRead with SupportsWrite {

  private[sources] val table = new TxLogTable(spark, root)

  override def name(): String =
    if (version >= 0) s"txlog.`$root` @v$version" else s"txlog.`$root`"

  override def schema(): StructType =
    if (version >= 0) TxLogV2.asNullable(table.schemaAt(version))
    else externalSchema.getOrElse(new StructType())

  /** Catalog-resolved tables (`nativeWrite`) expose the V2 BATCH_WRITE
    * surface: `df.writeTo(cat.ns.t).append()/overwritePartitions()`
    * and catalog INSERTs run the staged-commit [[TxLogBatchWrite]].
    * PATH-based tables keep V1_BATCH_WRITE + the
    * CreatableRelationProvider fallback on purpose —
    * `df.write.format("txlog").save(path)` keeps all four SaveModes
    * AND additive schema evolution (a V2 AppendData conforms the
    * query to the table schema and would reject an evolved batch).
    * The capability set is per-table, so both coexist.
    */
  override def capabilities(): java.util.Set[TableCapability] =
    if (nativeWrite)
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
        TableCapability.OVERWRITE_DYNAMIC,
        TableCapability.OVERWRITE_BY_FILTER,
        TableCapability.STREAMING_WRITE)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(version >= 0, s"txlog table does not exist at $root")
    // A user-supplied read schema must not be SILENTLY dropped (the V1
    // relation rejected it loudly): reads of an existing table always
    // serve the manifest schema, so an external schema is honored iff
    // it EQUALS it. Checked here, not in getTable — the write path
    // legitimately hands an evolved (different) df schema to getTable
    // and never builds a scan. The plain-read echo (Spark calls
    // getTable with inferSchema's own result) passes trivially.
    externalSchema.filter(_.nonEmpty)
      .filter(s => TxLogV2.asNullable(s) != schema()).foreach { s =>
        throw new IllegalArgumentException(
          s"user-specified schema ${s.simpleString} does not match " +
            s"txlog table schema ${schema().simpleString} at $root; " +
            "txlog reads serve the manifest schema — drop .schema(...) " +
            "or make it identical")
      }
    new TxLogScanBuilder(spark, table, version)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    if (nativeWrite) new TxLogNativeWriteBuilder(spark, root, info)
    else new TxLogWriteBuilder(root, info)
}

/** Catalog `INSERT INTO` / `INSERT OVERWRITE` on a V2-resolved txlog
  * table: Spark's analysis already conformed the query to the table
  * schema under `spark.sql.storeAssignmentPolicy`
  * (TableOutputResolver), so the write side is exactly one optimistic
  * commit through the existing table primitives — the same
  * [[InsertableRelation]] contract the V1 relation honored.
  */
final class TxLogWriteBuilder(root: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  @volatile private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val t = new TxLogTable(data.sparkSession, root)
          val opts = info.options()
          def csv(k: String): Seq[String] =
            Option(opts.get(k)).toSeq.flatMap(_.split(","))
              .map(_.trim).filter(_.nonEmpty)
          t.ensureExists(data.schema)
          if (doTruncate || overwrite)
            t.overwrite(data, sortCols = csv("sortCols"),
              statsCols = csv("statsCols"), bloomCols = csv("bloomCols"))
          else
            t.append(data, sortCols = csv("sortCols"),
              statsCols = csv("statsCols"), bloomCols = csv("bloomCols"))
        }
      }
  }
}

/** The NATIVE V2 write surface of catalog-resolved txlog tables:
  * `df.writeTo(cat.ns.t).append()` / `.overwritePartitions()` /
  * catalog `INSERT INTO/OVERWRITE` plan a real `BatchWrite`. Options
  * `statsCols`/`bloomCols` declare skipping sidecars exactly as the
  * V1 writer's do; `sortCols` maps onto the V2
  * [[RequiresDistributionAndOrdering]] seam, so Spark itself sorts
  * within partitions before a row reaches a writer (the
  * `sortWithinPartitions` the V1 staging path applies). Dynamic
  * partition overwrite on an unpartitioned txlog table replaces the
  * full snapshot — Spark's own semantics for unpartitioned tables.
  */
final class TxLogNativeWriteBuilder(spark: SparkSession, root: String,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    with org.apache.spark.sql.connector.write.SupportsOverwrite {

  @volatile private var overwriteAll = false
  @volatile private var replaceCond: Option[Column] = None

  /** `writeTo(t).overwrite(cond)` / SQL `INSERT INTO … REPLACE WHERE`:
    * predicate-scoped replacement ([[TxLogTable.replaceWhere]] —
    * file-granular, metadata-only swap). Every filter must translate
    * EXACTLY (the commit classifies files by the predicate; silently
    * dropping a leg would widen the replaced region), and
    * AlwaysTrue() is a full truncate-overwrite, Spark's own contract.
    */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty ||
        filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue())) {
      overwriteAll = true
      return this
    }
    val cols = filters.toIndexedSeq.map { f =>
      TxLogRelation.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"replaceWhere predicate $f is not translatable for txlog " +
            "file-granular replacement; use MERGE/DELETE instead"))
    }
    replaceCond = Some(cols.reduce(_ && _))
    this
  }

  /** PARTITIONED BY columns recorded at CREATE TABLE (cluster-by
    * metadata, see [[TxLogCatalog.createTable]]): native writes
    * cluster rows on them and split staged files so every file is
    * CONSTANT in these columns — the layout the grouped manifest
    * census and file skipping consume.
    */
  private lazy val clusterCols: Seq[String] =
    new TxLogTable(spark, root).marker("clusterBy")
      .toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  override def truncate(): WriteBuilder = { overwriteAll = true; this }
  override def overwriteDynamicPartitions(): WriteBuilder = {
    // on a PARTITIONED table Spark users expect only the touched
    // partitions replaced — not expressible dir-granularly, so reject
    // loudly instead of silently replacing the full snapshot
    if (clusterCols.nonEmpty) throw new UnsupportedOperationException(
      "dynamic partition overwrite is not supported on txlog tables " +
        "PARTITIONED BY (…); use INSERT OVERWRITE / truncate for a full " +
        "replace, or MERGE for per-key replacement")
    overwriteAll = true; this
  }

  private def csv(k: String): Seq[String] =
    Option(info.options().get(k)).toSeq.flatMap(_.split(","))
      .map(_.trim).filter(_.nonEmpty)

  override def build(): Write =
    new org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      override def requiredDistribution()
          : org.apache.spark.sql.connector.distributions.Distribution =
        if (clusterCols.isEmpty)
          org.apache.spark.sql.connector.distributions.Distributions
            .unspecified()
        else
          // co-locate each partition value in ONE task (hash cluster):
          // files-per-value stays 1 however parallel the ingest
          org.apache.spark.sql.connector.distributions.Distributions
            .clustered(clusterCols.map(c =>
              Expressions.column(c)
                : org.apache.spark.sql.connector.expressions.Expression)
              .toArray)
      override def requiredOrdering()
          : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
        (clusterCols ++ csv("sortCols")).distinct
          .map(c => Expressions.sort(Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection
              .ASCENDING)).toArray
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite =
        new TxLogBatchWrite(spark, root, info.schema(), overwriteAll,
          (csv("statsCols") ++ clusterCols).distinct, csv("bloomCols"),
          clusterCols, replaceCond)
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        // Complete mode arrives as truncate(); streaming replaceWhere
        // has no Spark surface — both reject loudly
        if (overwriteAll || replaceCond.isDefined)
          throw new UnsupportedOperationException(
            "txlog streaming writes support Append output mode only")
        new TxLogStreamingWrite(spark, root, info.schema(),
          (csv("statsCols") ++ clusterCols).distinct, csv("bloomCols"),
          clusterCols,
          Option(info.options().get("checkpointEvery")).map(_.trim.toInt),
          info.queryId())
      }
      override def description(): String =
        s"txlog native ${if (overwriteAll) "overwrite"
          else if (replaceCond.isDefined) "replaceWhere" else "append"} $root" +
          (if (clusterCols.isEmpty) ""
           else clusterCols.mkString(" clusterBy(", ",", ")"))
    }
}

/** Staged-commit batch write: executors write parquet part files
  * directly into a fresh `data/<uuid>/` dir — INERT until the driver
  * commit publishes a manifest referencing it, so a crashed write
  * leaks an orphan for vacuum, never a half-visible state. Task
  * attempts write DOT-PREFIXED (reader-invisible) files and rename
  * them visible only in their task COMMIT, so a speculative or
  * crashed attempt can never smuggle duplicate rows into the staged
  * dir. The writers fold each file's skipping stats while they write
  * it and return them in their commit messages; the driver commit is
  * one optimistic manifest bid ([[TxLogTable.commitStagedV2]]) over
  * those — CHECK constraints enforced, schema evolved, no re-scan —
  * the same shape every other commit has.
  */
final class TxLogBatchWrite(spark: SparkSession, root: String,
    logicalSchema: StructType, overwriteAll: Boolean,
    statsCols: Seq[String], bloomCols: Seq[String],
    clusterCols: Seq[String] = Nil,
    replaceCond: Option[Column] = None)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  private val table = new TxLogTable(spark, root)
  private val dirName = java.util.UUID.randomUUID().toString

  // the constraint set the WRITERS enforce in-task; the commit only
  // falls back to a validation read if the set moved concurrently
  // (the same addConstraint race guard the V1 append path has)
  @volatile private var validated: Map[String, String] = Map.empty
  @volatile private var started = 0L

  /** Effective stats columns: a PARTITIONED table with no explicit
    * statsCols defaults to every skipping-eligible column (first 32,
    * the public Delta default) — the grouped census and file skipping
    * then work out of the box on the clustered layout, which is what
    * the user partitioned FOR.
    */
  private val effStatsCols: Seq[String] =
    if (clusterCols.isEmpty || statsCols.size > clusterCols.size) statsCols
    else (statsCols ++ logicalSchema.fields.iterator
      .filter(f => DataSkipping.supported(f.dataType)).map(_.name)
      .take(32)).distinct

  override def createBatchWriterFactory(
      pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    table.ensureExists(logicalSchema)
    table.mkStagedDir(dirName)
    validated = table.constraintsAt(table.currentVersion)
    // rows arrive clustered AND sorted on the cluster columns
    // (requiredDistribution/Ordering), so group runs are contiguous:
    // the writer rolls to a fresh file on every key change and each
    // staged file comes out CONSTANT in the cluster columns
    val keyFields = clusterCols.map { c =>
      val i = logicalSchema.fieldIndex(c)
      (i, logicalSchema.fields(i).dataType)
    }
    started = System.nanoTime()
    TxLogDataWriterFactory(table.stagedDirPath(dirName),
      v2bridge.stagedParquetWriters(spark,
        table.physicalWriteSchema(logicalSchema)),
      TxLogV2.bindConstraints(spark,
        TxLogV2.asNullable(logicalSchema), validated),
      keyFields,
      table.writeStatsSpec(logicalSchema, effStatsCols, bloomCols))
  }

  override def commit(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val done = messages.toSeq.collect { case d: TxLogWriteDone => d }
    val writeNanos = System.nanoTime() - started
    table.ensureExists(logicalSchema)
    replaceCond match {
      case Some(cond) =>
        table.commitStagedReplaceWhere(dirName,
          TxLogV2.asNullable(logicalSchema), cond, done, writeNanos,
          validated)
      case None =>
        table.commitStagedV2(dirName, TxLogV2.asNullable(logicalSchema),
          overwriteAll, done, writeNanos, validated)
    }
    ()
  }

  override def abort(messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    table.dropStagedDir(dirName)
}

/** Native STREAMING write of a catalog txlog table —
  * `df.writeStream.toTable("cat.ns.t")` through `STREAMING_WRITE`:
  * each micro-batch stages its files under `data/stream-<uuid>-<epoch>/`
  * through the same task-commit-rename writers as the batch path, and
  * the epoch commit is one optimistic manifest bid carrying the
  * micro-batch id as a marker — EXACTLY-ONCE under replay (a batch
  * re-delivered after a crash between commit and checkpoint advance
  * is recognized by the marker and its staged dir dropped), parity
  * with the V1 [[TxLogAppendSink]] contract. `checkpointEvery=N`
  * folds the manifest chain as the stream ages, same as the V1 sink.
  */
final class TxLogStreamingWrite(spark: SparkSession, root: String,
    logicalSchema: StructType, statsCols: Seq[String],
    bloomCols: Seq[String], clusterCols: Seq[String],
    checkpointEvery: Option[Int],
    queryId: String = "")
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val table = new TxLogTable(spark, root)
  private val base = s"stream-${java.util.UUID.randomUUID()}"
  private def dirFor(epochId: Long): String = s"$base-$epochId"
  @volatile private var validated: Map[String, String] = Map.empty

  /** Replay-dedup marker SCOPED to the streaming query: Spark's
    * `info.queryId()` is the STABLE query id (persisted in the
    * checkpoint, verified against StreamExecution.createWrite —
    * `id`, not `runId`), so a kill-and-resume from the same
    * checkpoint still recognizes its replayed epoch, while a NEW
    * query (fresh checkpoint) writing to a table that already
    * carries another stream's marker starts from ITS OWN epoch 0
    * instead of silently dropping early batches. The unscoped
    * V1-sink key still rides each commit for observability.
    */
  private def scopedMarker: String =
    if (queryId.isEmpty) TxLogStream.SinkBatchMarker
    else s"${TxLogStream.SinkBatchMarker}:$queryId"

  override def createStreamingWriterFactory(
      pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory = {
    table.ensureExists(logicalSchema)
    validated = table.constraintsAt(table.currentVersion)
    val keyFields = clusterCols.map { c =>
      val i = logicalSchema.fieldIndex(c)
      (i, logicalSchema.fields(i).dataType)
    }
    TxLogStreamingWriterFactory(table.stagedDirPath(base),
      v2bridge.stagedParquetWriters(spark,
        table.physicalWriteSchema(logicalSchema)),
      TxLogV2.bindConstraints(spark,
        TxLogV2.asNullable(logicalSchema), validated),
      keyFields,
      table.writeStatsSpec(logicalSchema, statsCols, bloomCols))
  }

  override def commit(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit = {
    val dir = dirFor(epochId)
    val done = table.marker(scopedMarker)
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(-1L)
    if (epochId <= done) { // exact replay of a committed batch
      table.dropStagedDir(dir)
      return
    }
    table.ensureExists(logicalSchema)
    table.mkStagedDir(dir) // an empty batch never opened a file
    table.commitStagedV2(dir, TxLogV2.asNullable(logicalSchema),
      overwrite = false,
      messages.toSeq.collect { case d: TxLogWriteDone => d }, 0L, validated,
      markers = Map(scopedMarker -> epochId.toString,
        TxLogStream.SinkBatchMarker -> epochId.toString))
    checkpointEvery.foreach(n => table.maybeCheckpoint(n))
    ()
  }

  override def abort(epochId: Long, messages: Array[
      org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    table.dropStagedDir(dirFor(epochId))
}

/** Routes each epoch's writers to its own staged dir (the epoch id is
  * only known task-side).
  */
private[sources] final case class TxLogStreamingWriterFactory(
    baseDirPath: String, writers: v2bridge.StagedParquetWriters,
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)],
    clusterKeys: Seq[(Int, DataType)],
    stats: TxLogStatsSpec = TxLogStatsSpec.none)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new TxLogDataWriter(TxLogDataWriterFactory(s"$baseDirPath-$epochId",
      writers, constraints, clusterKeys, stats), partitionId, taskId)
}

/** One part-file a task attempt published: its name inside the staged
  * dir, rows, on-disk bytes, and — for data files of a write with
  * stats or Bloom columns — the skipping stats the writer folded while
  * writing it.
  */
private[sources] final case class TxLogFileDone(name: String, rows: Long,
    bytes: Long, stats: Option[FileStats])

/** A task attempt's commit message: the data files and, for a routed
  * DML write, the change-row files it published.
  */
private[sources] final case class TxLogWriteDone(files: Seq[TxLogFileDone],
    cdcFiles: Seq[TxLogFileDone] = Nil)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** The per-file skipping stats the writers fold while they write — the
  * one stats path of every txlog commit. `cols` get min/max/null
  * count/theta and `blooms` a Bloom filter, each as (ordinal in the
  * written row, physical name, type); `timeZone` is the session zone
  * the theta sketch's string cast renders timestamps in.
  */
private[sources] final case class TxLogStatsSpec(
    cols: Seq[(Int, String, DataType)],
    blooms: Seq[(Int, String, DataType)], timeZone: String) {
  def isEmpty: Boolean = cols.isEmpty && blooms.isEmpty
}

private[sources] object TxLogStatsSpec {
  val none: TxLogStatsSpec = TxLogStatsSpec(Nil, Nil, "UTC")
  val BloomExpectedItems: Long = 100000L
  val BloomFpp: Double = 0.01
  val ThetaLgK: Int = 9

  /** The spec over a written row layout (physical names); columns that
    * are absent or of an unsupported type are skipped (no stats ⇒
    * never pruned).
    */
  def of(schema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String], timeZone: String): TxLogStatsSpec = {
    def pick(cs: Seq[String], ok: DataType => Boolean) =
      cs.distinct.flatMap { c =>
        val i = schema.fieldNames.indexOf(c)
        if (i >= 0 && ok(schema(i).dataType)) Some((i, c, schema(i).dataType))
        else None
      }
    TxLogStatsSpec(pick(statsCols, DataSkipping.supported),
      pick(bloomCols, DataSkipping.bloomSupported), timeZone)
  }
}

/** Folds one data file's rows into its [[FileStats]], bit-equal to the
  * grouped per-file aggregate (`min`, `max`, `count`,
  * `BloomFilterAggregate` over the canonical `xxhash64`,
  * [[graft.plans.ThetaSketchAgg]] over the string cast) the stats were
  * once collected with by a re-scan:
  *   - min/max fold in row order under Spark's SQL ordering (NaN above
  *     every number, -0.0 equal to 0.0, a tie keeps the earlier value —
  *     the `least`/`greatest` update `Min`/`Max` run) and encode through
  *     the external conversion a collected row takes;
  *   - Bloom and theta run Spark's own aggregate objects, then the
  *     partial→final step the grouped aggregate applied (serialize,
  *     deserialize, merge into a fresh buffer), so the bytes match.
  */
private[sources] final class FileStatsFold(spec: TxLogStatsSpec) {
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, XxHash64}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, TypedImperativeAggregate}

  private val cols = spec.cols.toArray
  private val orderings = cols.map(c =>
    org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(c._3))
  private val mins = new Array[Any](cols.length)
  private val maxs = new Array[Any](cols.length)
  private val nulls = new Array[Long](cols.length)
  private var rows = 0L

  private val thetas = cols.map { case (i, _, dt) =>
    graft.plans.ThetaSketchAgg(Cast(BoundReference(i, dt, nullable = true),
      StringType, Some(spec.timeZone)), TxLogStatsSpec.ThetaLgK)
  }
  private val thetaBufs = thetas.map(_.createAggregationBuffer())

  private val blooms = spec.blooms.toArray.map { case (i, _, dt) =>
    val ref = BoundReference(i, dt, nullable = true)
    // canonical hash form (DataSkipping.bloomHash's contract):
    // integrals as LONG, strings raw
    val canon = dt match {
      case _: StringType => ref
      case _ => Cast(ref, LongType, Some(spec.timeZone))
    }
    new BloomFilterAggregate(new XxHash64(Seq(canon)),
      Literal(TxLogStatsSpec.BloomExpectedItems),
      Literal(org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(
        TxLogStatsSpec.BloomExpectedItems, TxLogStatsSpec.BloomFpp)))
  }
  private val bloomBufs = blooms.map(_.createAggregationBuffer())

  def update(r: InternalRow): Unit = {
    rows += 1
    var j = 0
    while (j < cols.length) {
      val i = cols(j)._1
      if (r.isNullAt(i)) nulls(j) += 1
      else {
        val v = r.get(i, cols(j)._3)
        if (mins(j) == null || orderings(j).lt(v, mins(j)))
          mins(j) = InternalRow.copyValue(v)
        if (maxs(j) == null || orderings(j).gt(v, maxs(j)))
          maxs(j) = InternalRow.copyValue(v)
      }
      thetas(j).update(thetaBufs(j), r)
      j += 1
    }
    j = 0
    while (j < blooms.length) {
      blooms(j).update(bloomBufs(j), r)
      j += 1
    }
  }

  private def finalBytes[T](agg: TypedImperativeAggregate[T],
      buf: T): Option[String] =
    Option(agg.eval(agg.merge(agg.createAggregationBuffer(),
      agg.deserialize(agg.serialize(buf))))).map(b =>
      java.util.Base64.getEncoder.encodeToString(b.asInstanceOf[Array[Byte]]))

  def result(): FileStats = {
    def external(j: Int, v: Any): Option[String] =
      if (v == null) None
      else DataSkipping.encodeExternal(org.apache.spark.sql.catalyst
        .CatalystTypeConverters.convertToScala(v, cols(j)._3))
    FileStats(rows,
      cols.indices.map(j => cols(j)._2 ->
        ColRange(external(j, mins(j)), external(j, maxs(j)), nulls(j))).toMap,
      blooms.indices.flatMap(j => finalBytes(blooms(j), bloomBufs(j))
        .map(spec.blooms(j)._2 -> _)).toMap,
      cols.indices.flatMap(j => finalBytes(thetas(j), thetaBufs(j))
        .map(cols(j)._2 -> _)).toMap)
  }
}

/** Everything one write's task attempts need: the staged data dir and
  * its parquet writers, the bound CHECK constraints, the cluster keys
  * the writer rolls files on, the stats to fold, and — for a ROUTED
  * DML write — the change dir and its writers. A routed write's rows
  * carry `_change_type` as their last field: null sends the row (minus
  * that field) to the data dir, a change type sends it whole to the
  * change dir, so a commit writes its data and its CDC in one job.
  */
private[sources] final case class TxLogDataWriterFactory(dir: String,
    writers: v2bridge.StagedParquetWriters,
    constraints: Seq[(String, String,
      org.apache.spark.sql.catalyst.expressions.Expression)] = Nil,
    clusterKeys: Seq[(Int, DataType)] = Nil,
    stats: TxLogStatsSpec = TxLogStatsSpec.none,
    cdc: Option[(String, v2bridge.StagedParquetWriters)] = None)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new TxLogDataWriter(this, partitionId, taskId)
}

private[sources] object TxLogDataWriter {
  /** Test hook: every task attempt runs it with its attempt number
    * after it wrote and closed all its files, before it asks the
    * commit coordinator to commit — retry specs fail attempts here.
    */
  @volatile private[sources] var afterWrite: Int => Unit = _ => ()
}

/** One task attempt's writer: rows stream to hidden in-progress files;
  * task commit renames them visible; abort deletes every file the
  * attempt created, visible or not. Empty partitions never open a
  * file. With cluster keys the writer ROLLS to a fresh file on every
  * key change (rows arrive clustered and sorted, so runs are
  * contiguous and files-per-value stays one per task) — hive-style
  * partition layout without per-value directories.
  */
private final class TxLogDataWriter(f: TxLogDataWriterFactory,
    partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  /** The part-files of one staged dir this attempt writes. */
  private final class PartFiles(dir: String,
      writers: v2bridge.StagedParquetWriters, stats: TxLogStatsSpec) {
    private var writer: v2bridge.StagedRowWriter = null
    private var fold: FileStatsFold = null
    private var rows = 0L
    private var seq = 0
    private var current: (String, String) = null // (tmp, final)
    private var opened: List[(String, String)] = Nil
    private val done = List.newBuilder[TxLogFileDone]

    def write(r: InternalRow): Unit = {
      if (writer == null) {
        current = (
          f"$dir/.inprogress-$partitionId%05d-$taskId-$seq.parquet",
          f"$dir/part-$partitionId%05d-$taskId-$seq.parquet")
        seq += 1
        opened ::= current
        writer = writers.open(current._1, partitionId, taskId)
        fold = if (stats.isEmpty) null else new FileStatsFold(stats)
        rows = 0L
      }
      writer.write(r)
      if (fold != null) fold.update(r)
      rows += 1
    }

    /** Finish the open file (if any): complete on disk, stats final. */
    def roll(): Unit =
      if (writer != null) {
        writer.close()
        writer = null
        done += TxLogFileDone(current._2.substring(dir.length + 1), rows,
          writers.size(current._1), Option(fold).map(_.result()))
      }

    def publish(): Seq[TxLogFileDone] = {
      roll()
      opened.reverse.foreach { case (tmp, fin) =>
        require(writers.rename(tmp, fin),
          s"staged-file publish failed: $tmp -> $fin")
      }
      done.result()
    }

    def discard(): Unit = {
      if (writer != null) {
        try writer.close() catch { case scala.util.control.NonFatal(_) => }
        writer = null
      }
      opened.foreach { case (tmp, fin) =>
        writers.delete(tmp); writers.delete(fin)
      }
    }

    def close(): Unit =
      if (writer != null) { writer.close(); writer = null }
  }

  private val data = new PartFiles(f.dir, f.writers, f.stats)
  private val changes = f.cdc.map { case (d, w) =>
    new PartFiles(d, w, TxLogStatsSpec.none) }
  private val dataWidth = f.writers.schema.length
  private val dataRow = if (changes.isEmpty) null
    else org.apache.spark.sql.catalyst.ProjectingInternalRow(
      f.writers.schema, 0 until dataWidth)
  private val keysArr: Array[(Int, DataType)] = f.clusterKeys.toArray
  private var curKey: Array[Any] = null

  /** The CHECK conjunction compiled ONCE per writer through Spark's
    * whole-expression codegen (`Predicate.create`, interpreted
    * fallback built in) — executor-side lazy, so the factory ships
    * only the serializable bound expressions and the per-row hot loop
    * pays a generated-class call, not an interpreted Catalyst eval.
    */
  private lazy val compiled: Array[(String, String,
      org.apache.spark.sql.catalyst.expressions.BasePredicate)] =
    f.constraints.iterator.map { case (name, sql, bound) =>
      val p = org.apache.spark.sql.catalyst.expressions.Predicate
        .create(bound)
      p.initialize(partitionId)
      (name, sql, p)
    }.toArray

  /** Row's cluster key equals the current run's key? Field-wise
    * compare against the captured values — no per-row allocation
    * (a copy happens only when the key actually rolls).
    */
  private def sameKey(r: InternalRow): Boolean = {
    var j = 0
    while (j < keysArr.length) {
      val (i, dt) = keysArr(j)
      val v: Any = if (r.isNullAt(i)) null else r.get(i, dt)
      if (v != curKey(j)) return false
      j += 1
    }
    true
  }

  /** Capture the row's cluster-key values, COPYING out of the reused
    * row buffer (UTF8String payloads are transient).
    */
  private def captureKey(r: InternalRow): Unit = {
    if (curKey == null) curKey = new Array[Any](keysArr.length)
    var j = 0
    while (j < keysArr.length) {
      val (i, dt) = keysArr(j)
      curKey(j) = if (r.isNullAt(i)) null else InternalRow.copyValue(r.get(i, dt))
      j += 1
    }
  }

  override def write(r: InternalRow): Unit =
    if (changes.isDefined && !r.isNullAt(dataWidth)) changes.get.write(r)
    else {
      val row =
        if (dataRow == null) r
        else { dataRow.project(r); dataRow }
      // fail-fast per-row CHECK enforcement inside the write task —
      // single pass; only FALSE violates (the bound predicate
      // coalesces NULL→true)
      var i = 0
      while (i < compiled.length) {
        val (name, sql, pred) = compiled(i)
        if (!pred.eval(row))
          throw new IllegalStateException(
            s"CHECK constraint '$name' violated: $sql")
        i += 1
      }
      if (keysArr.nonEmpty) {
        if (curKey == null) captureKey(row)
        else if (!sameKey(row)) { data.roll(); captureKey(row) }
      }
      data.write(row)
    }

  override def writeAll(records: java.util.Iterator[InternalRow]): Unit = {
    while (records.hasNext) write(records.next())
    data.roll()
    changes.foreach(_.roll())
    Option(org.apache.spark.TaskContext.get())
      .foreach(c => TxLogDataWriter.afterWrite(c.attemptNumber()))
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    val done = TxLogWriteDone(data.publish(),
      changes.map(_.publish()).getOrElse(Nil))
    val all = done.files ++ done.cdcFiles
    v2bridge.reportOutput(all.map(_.rows).sum, all.map(_.bytes).sum)
    done
  }

  override def abort(): Unit = {
    data.discard()
    changes.foreach(_.discard())
  }

  override def close(): Unit = {
    data.close()
    changes.foreach(_.close())
  }
}

/** The stage-only native write every [[TxLogTable]] commit stages its
  * rows through: a `BATCH_WRITE` table whose batch hands one
  * [[TxLogDataWriterFactory]] to Spark's DSv2 write task — attempts
  * commit through the `OutputCommitCoordinator`, and the whole write
  * is one SQL execution listeners and AQE see — and keeps the commit
  * messages for the caller instead of publishing anything: the
  * manifest commit stays the caller's.
  */
private[sources] final class TxLogStageTable(writeSchema: StructType,
    factory: TxLogDataWriterFactory)
    extends Table with SupportsWrite {

  @volatile private[sources] var messages: Seq[TxLogWriteDone] = Nil

  override def name(): String = s"txlog stage ${factory.dir}"
  override def schema(): StructType = writeSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String = name()
        override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
          new org.apache.spark.sql.connector.write.BatchWrite {
            override def createBatchWriterFactory(
                pinfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
                : org.apache.spark.sql.connector.write.DataWriterFactory =
              factory
            override def commit(ms: Array[
                org.apache.spark.sql.connector.write.WriterCommitMessage])
                : Unit =
              messages = ms.toSeq.collect { case d: TxLogWriteDone => d }
            override def abort(ms: Array[
                org.apache.spark.sql.connector.write.WriterCommitMessage])
                : Unit = ()
          }
      }
    }
}

/** V2 pushdown for one snapshot scan. Predicates are pushed for
  * PRUNING (manifest file skipping + parquet row-group stats) but all
  * reported back as post-scan filters — manifest pruning is file-level
  * MAY-MATCH, so Spark keeps exact evaluation above the scan and
  * correctness never depends on translation coverage.
  */
final class TxLogScanBuilder(spark: SparkSession,
    private[sources] val table: TxLogTable, version: Long)
    extends ScanBuilder with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private val fullSchema = TxLogV2.asNullable(table.schemaAt(version))
  private var required: StructType = fullSchema
  private var pushedV2: Array[Predicate] = Array.empty
  private var pushedV1: Array[Filter] = Array.empty
  private var pushedCols: Seq[Column] = Nil
  private var limit: Option[Int] = None

  /** Unordered LIMIT: plan only enough stats-covered files to hold n
    * rows (partial push — Spark keeps its own limit above, so a
    * stats-less snapshot that plans everything is merely unpruned,
    * never wrong). Offered by Spark only when nothing row-reducing
    * sits between the limit and the scan.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val converted = predicates.map { p =>
      val leg = for {
        f <- v2bridge.toV1Filter(p)
        c <- TxLogRelation.toColumn(f)
      } yield (f, c)
      (p, leg)
    }
    pushedV2 = converted.collect { case (p, Some(_)) => p }
    pushedV1 = converted.collect { case (_, Some((f, _))) => f }
    pushedCols = converted.collect { case (_, Some((_, c))) => c }.toSeq
    predicates // every predicate re-evaluated exactly above the scan
  }

  override def pushedPredicates(): Array[Predicate] = pushedV2

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ── aggregate pushdown: answer count(*)/count(col)/min/max from the
  // MANIFEST stats alone — a metadata walk and a driver-local row, no
  // file opened, no Spark job. Accepted only when the snapshot is
  // DV-free, ungrouped, unfiltered (Spark offers aggregation only when
  // no residual filter sits above the scan — every predicate here is
  // residual by design), every live file carries stats, and min/max
  // types are in the exactly-decodable set. The manifest numbers are
  // EXACT by the statsSummaryAt contract, so the pushdown is complete.

  private var pushedAgg: Option[(StructType, Seq[InternalRow])] = None
  private var pushedHybrid: Option[TxLogScanBuilder.HybridCensus] = None

  /** What the builder decided for an Aggregation: COMPLETE (every row
    * of the result folds exactly from the manifest — Spark plans a
    * LocalTableScan), HYBRID (census rows for the file-constant
    * majority + a real scan of only the straggler files, merged by
    * Spark's own partial-aggregate machinery), or declined (the
    * normal scan runs).
    */
  private sealed trait Served
  private final case class Complete(schema: StructType,
      rows: Seq[InternalRow]) extends Served
  private final case class Hybrid(c: TxLogScanBuilder.HybridCensus)
      extends Served
  private case object Declined extends Served

  private def minMaxOk(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  // one manifest-stats walk per builder, shared by
  // supportCompletePushDown and pushAggregation (Spark calls both)
  private lazy val statsSummary = table.statsSummaryAt(version)

  private def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[StructField] = e match {
    case n: org.apache.spark.sql.connector.expressions.NamedReference
        if n.fieldNames().length == 1 =>
      fullSchema.fields.find(_.name == n.fieldNames()(0))
    case _ => None
  }

  private def serveAggregation(agg: Aggregation): Served = {
    if (table.dvDirsAt(version).nonEmpty) return Declined
    if (agg.groupByExpressions.nonEmpty) {
      censusFor(agg) match {
        case Some(c) if c.stragglers.isEmpty => Complete(c.schema, c.rows)
        case Some(c) => Hybrid(c)
        case None => Declined
      }
    } else serveUngrouped(agg) match {
      case Some((schema, rows)) => Complete(schema, rows)
      case None => censusFor(agg) match {
        // ungrouped census must have at least one censusable file: an
        // all-straggler hybrid is just a worse plain scan, and an
        // empty table needs the scan-side aggregate to emit its one
        // global row (a pushed result may not be row-less ungrouped)
        case Some(c) if c.rows.nonEmpty =>
          if (c.stragglers.isEmpty) Complete(c.schema, c.rows) else Hybrid(c)
        case _ => Declined
      }
    }
  }

  /** Ungrouped complete pushdown from the table-level summary
    * ([[TxLogTable.statsSummaryAt]] — exact only when EVERY live file
    * carries stats for the referenced columns).
    */
  private def serveUngrouped(agg: Aggregation)
      : Option[(StructType, Seq[InternalRow])] = {
    val schema = v2bridge.pushedAggSchema(agg, fullSchema) match {
      case Some(sc) => sc
      case None => return None
    }
    val (rows, ranges) = statsSummary match {
      case Some((r, rg, _)) => (r, rg)
      case None => return None
    }
    val values = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => java.lang.Long.valueOf(rows)
      case c: Count if !c.isDistinct =>
        val f = colOf(c.column()).getOrElse(return None)
        val r = ranges.getOrElse(f.name, return None)
        java.lang.Long.valueOf(rows - r.nulls)
      case m: Min =>
        val f = colOf(m.column()).getOrElse(return None)
        if (!minMaxOk(f.dataType)) return None
        val r = ranges.getOrElse(f.name, return None)
        val v = r.min.getOrElse(return None)
        v2bridge.statFromExternalString(v, f.name, f.dataType)
          .asInstanceOf[AnyRef]
      case m: Max =>
        val f = colOf(m.column()).getOrElse(return None)
        if (!minMaxOk(f.dataType)) return None
        val r = ranges.getOrElse(f.name, return None)
        val v = r.max.getOrElse(return None)
        v2bridge.statFromExternalString(v, f.name, f.dataType)
          .asInstanceOf[AnyRef]
      case _ => return None
    }
    Some((schema, Seq(
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        values.toArray[Any]))))
  }

  /** The manifest CENSUS of an aggregation, split per file: `GROUP
    * BY` columns must be FILE-CONSTANT (per-file min == max, zero
    * nulls — exactly what the clustered/partitioned layout produces,
    * the engine's stand-in for hive partition values) and the agg
    * columns stats-covered for a file to fold into census rows; every
    * OTHER live file — a late unclustered append, a stats-less commit
    * — becomes a STRAGGLER the hybrid scan actually reads. One driver
    * metadata walk; the fold is exact by the skipping-stats contract.
    * None when the aggregation shape itself is unservable (expression
    * group key, non-decodable type, sum/distinct) or nothing at all
    * is censusable.
    */
  private def censusFor(agg: Aggregation)
      : Option[TxLogScanBuilder.HybridCensus] = {
    import TxLogScanBuilder.{AggSpec, CensusOp, ColCount, ColMax, ColMin, HybridCensus, StarCount}
    val groupFields: Seq[StructField] =
      agg.groupByExpressions.toSeq.map(e =>
        colOf(e).filter(f => minMaxOk(f.dataType)).getOrElse(return None))
    val schema = v2bridge.pushedAggSchema(agg, fullSchema,
      groupFields.map(_.name).toSet) match {
      case Some(sc) => sc
      case None => return None
    }
    val aggSpecs: Seq[AggSpec] = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => StarCount
      case c: Count if !c.isDistinct =>
        ColCount(colOf(c.column()).getOrElse(return None))
      case m: Min =>
        val f = colOf(m.column()).getOrElse(return None)
        if (!minMaxOk(f.dataType)) return None
        ColMin(f)
      case m: Max =>
        val f = colOf(m.column()).getOrElse(return None)
        if (!minMaxOk(f.dataType)) return None
        ColMax(f)
      case _ => return None
    }
    val countCols = aggSpecs.collect { case ColCount(f) => f.name }.distinct
    val minCols = aggSpecs.collect { case ColMin(f) => f.name }.distinct
    val maxCols = aggSpecs.collect { case ColMax(f) => f.name }.distinct
    // the split itself scales: a driver fold below the plan threshold,
    // ONE Spark job over the checkpoint parquet above it — the driver
    // only ever holds (groups + stragglers), never the file census
    val (groups, stragglers) = table.censusSplitAt(version,
      groupFields.map(_.name), countCols, minCols, maxCols) match {
      case Some(x) => x
      case None => return None
    }
    if (groups.isEmpty && stragglers.nonEmpty) return None
    val rows: Seq[InternalRow] = groups
      .sortBy(_.key.mkString("\u0000"))
      .map { g =>
        val gvals: Seq[Any] = groupFields.zip(g.key).map { case (f, v) =>
          v2bridge.statFromExternalString(v, f.name, f.dataType)
        }
        val avals: Seq[Any] = aggSpecs.map {
          case StarCount => java.lang.Long.valueOf(g.rows)
          case ColCount(f) => java.lang.Long.valueOf(g.counts(f.name))
          case ColMin(f) => g.mins.get(f.name)
            .map(v => v2bridge.statFromExternalString(v, f.name,
              f.dataType)).orNull
          case ColMax(f) => g.maxs.get(f.name)
            .map(v => v2bridge.statFromExternalString(v, f.name,
              f.dataType)).orNull
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          (gvals ++ avals).toArray[Any]): InternalRow
      }
    // the straggler scan's source projection + the per-row mapping
    // into the pushed-agg layout (group cols first, then agg cols —
    // Spark's partial-aggregate machinery merges census + raw rows:
    // Count→Sum, Min→Min, Max→Max above the scan)
    val srcFields: Seq[StructField] =
      (groupFields ++ aggSpecs.collect {
        case ColCount(f) => f
        case ColMin(f) => f
        case ColMax(f) => f
      }).foldLeft(Vector.empty[StructField])((acc, f) =>
        if (acc.exists(_.name == f.name)) acc else acc :+ f)
    def idxOf(f: StructField): Int = srcFields.indexWhere(_.name == f.name)
    val ops: Seq[CensusOp] =
      groupFields.map(f => CensusOp(0, idxOf(f))) ++
        aggSpecs.map {
          case StarCount => CensusOp(1, -1)
          case ColCount(f) => CensusOp(2, idxOf(f))
          case ColMin(f) => CensusOp(0, idxOf(f))
          case ColMax(f) => CensusOp(0, idxOf(f))
        }
    Some(HybridCensus(schema, rows, stragglers,
      StructType(srcFields), ops))
  }

  /** Exact min/max fold over one group's file ranges: null is a
    * legitimate SQL NULL result (every file's values all null); an
    * all-null FILE contributes nothing to the fold. Stats presence
    * was already established by the censusable split.
    */
  private def foldRange(
      ranges: Seq[Map[String, DataSkipping.ColRange]],
      f: StructField,
      pick: DataSkipping.ColRange => Option[String],
      keepMax: Boolean): Any = {
    val best = ranges.flatMap(cols => pick(cols(f.name)))
      .reduceOption { (a, b) =>
        DataSkipping.cmpExternal(f.dataType, a, b) match {
          case Some(c) => if ((c >= 0) == keepMax) a else b
          case None => a
        }
      }
    best.map(v => v2bridge.statFromExternalString(v, f.name, f.dataType))
      .orNull
  }

  // Spark calls supportCompletePushDown then pushAggregation with the
  // same Aggregation instance; the census walk (and the grouped arm's
  // perFileStatsAt read) must run ONCE per query, not twice — memoize
  // on instance identity (a miss just recomputes).
  private var aggMemo: Option[(Aggregation, Served)] = None

  private def servedAggregation(agg: Aggregation): Served = aggMemo match {
    case Some((a, r)) if a eq agg => r
    case _ =>
      val r = serveAggregation(agg)
      aggMemo = Some((agg, r))
      r
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    servedAggregation(agg).isInstanceOf[Complete]

  override def pushAggregation(agg: Aggregation): Boolean =
    servedAggregation(agg) match {
      case Complete(schema, rows) =>
        pushedAgg = Some((schema, rows)); true
      case Hybrid(c) =>
        pushedHybrid = Some(c); true
      case Declined => false
    }

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows)) => new TxLogAggScan(schema, rows.toArray)
    case None if pushedHybrid.isDefined =>
      new TxLogHybridCensusScan(spark, table, version, fullSchema,
        pushedHybrid.get)
    case None =>
      if (table.dvDirsAt(version).isEmpty)
        new TxLogBatchScan(spark, table, version, fullSchema, required,
          pushedCols, pushedV1, limit)
      else {
        // DV-bearing snapshot: when the vectors are small (the point-
        // delete case the mechanism exists for), serve the NATIVE
        // batch with per-file inline skip sets — runtime file pruning
        // and vectorized clean-file reads are preserved. A bulk
        // delete (vectors past the inline cap) falls back to the V1
        // bridge's distributed anti-join, which is the right plan for
        // deleted-rows-sized state that large. Gated on the DV dirs'
        // on-disk BYTES — a driver metadata walk, no job.
        val cap = spark.conf.getOption("spark.graft.txlog.dvInlineBytes")
          .map(_.toLong).getOrElse(TxLogScanBuilder.DefaultDvInlineBytes)
        if (table.onDiskBytes(table.dvDirPaths(version)) <= cap)
          new TxLogDvAwareBatchScan(spark, table, version, fullSchema,
            required, pushedCols, pushedV1)
        else
          new TxLogDvScan(table, version, required, pushedV1)
      }
  }
}

object TxLogScanBuilder {
  /** Inline-DV cap: vectors at most this many on-disk bytes ride the
    * native batch as per-file skip sets (similar order to Spark's
    * broadcast threshold — the same "small enough to ship" judgment).
    */
  private[sources] val DefaultDvInlineBytes: Long = 16L * 1024 * 1024

  /** One aggregate of a (hybrid) census, resolved to its source
    * column.
    */
  private[sources] sealed trait AggSpec
  private[sources] case object StarCount extends AggSpec
  private[sources] final case class ColCount(f: StructField) extends AggSpec
  private[sources] final case class ColMin(f: StructField) extends AggSpec
  private[sources] final case class ColMax(f: StructField) extends AggSpec

  /** Per-row mapping of a STRAGGLER row into the pushed-agg layout:
    * kind 0 = passthrough of source column `srcIdx` (group keys and
    * min/max inputs — a raw value IS a valid partial), kind 1 =
    * count(*) contribution (constant 1), kind 2 = count(col)
    * contribution (0/1 by null check on `srcIdx`).
    */
  private[sources] final case class CensusOp(kind: Int, srcIdx: Int)

  /** A split census: pre-folded rows for the file-constant files,
    * straggler file paths the scan must actually read, the
    * stragglers' source projection, and the per-row ops mapping that
    * projection into the pushed-agg layout.
    */
  private[sources] final case class HybridCensus(schema: StructType,
      rows: Seq[InternalRow], stragglers: Seq[String],
      srcSchema: StructType, ops: Seq[CensusOp])
}

/** The native Batch scan of a DV-free snapshot: the manifest decides
  * WHICH files (static pushdown ∩ runtime filters), Spark's own
  * parquet V2 machinery decides HOW to read them (vectorized columnar
  * batches, maxPartitionBytes splits, row-group pushdown) — see
  * [[v2bridge.parquetScan]]. Runtime `filter(...)` invalidates the
  * planned file list; `BatchScanExec` then replans partitions against
  * the intersected predicate, which is Spark-native dynamic FILE
  * pruning over the manifest stats.
  *
  * Column mapping: the scan's public `readSchema` speaks LOGICAL
  * names; files store PHYSICAL names (rename-without-rewrite). The
  * inner parquet scan reads under physical names at identical
  * positions/types — `InternalRow`s are positional, so the rename is
  * schema-only and free.
  */
final class TxLogBatchScan(spark: SparkSession, table: TxLogTable,
    version: Long, logicalFull: StructType, logicalRead: StructType,
    staticCols: Seq[Column], staticV1: Array[Filter],
    limit: Option[Int] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  private val cmap: Map[String, String] = table.colMapAt(version)
  private def physName(n: String): String = cmap.getOrElse(n, n)
  private def phys(s: StructType): StructType =
    if (cmap.isEmpty) s
    else StructType(s.fields.map(f => f.copy(name = physName(f.name))))


  @volatile private var runtimeCols: Seq[Column] = Nil
  @volatile private var inner: Option[Scan] = None

  override def readSchema(): StructType = logicalRead
  override def toBatch: Batch = this
  override def description(): String =
    s"txlog v$version ${table.root} " +
      s"PushedFilters: ${staticV1.mkString("[", ", ", "]")}"

  private def innerScan(): Scan = synchronized {
    inner match {
      case Some(s) => s
      case None =>
        val pred = (staticCols ++ runtimeCols)
          .reduceOption(_ && _).getOrElse(lit(true))
        // an unfiltered LIMIT plans just enough stats-covered files to
        // hold n rows; with predicates (static or runtime) the normal
        // pruned path applies and Spark's limit stays above
        val limited: Option[Seq[String]] =
          if (staticCols.isEmpty && runtimeCols.isEmpty)
            limit.flatMap(n => table.limitPaths(version, n.toLong))
          else None
        val paths = limited.getOrElse(table.scanPathsAt(version, pred))
        // the unpruned-live-file denominator is diagnostic-only: one
        // manifest walk per filtered (re)plan that production scans
        // must not pay — computed only under the captureScans test flag
        // (free when the scan was unfiltered: paths IS the live set)
        val live =
          if (staticCols.isEmpty && runtimeCols.isEmpty && limited.isEmpty)
            paths.size
          else if (TxLogV2.captureScans)
            table.scanPathsAt(version, lit(true)).size
          else -1
        TxLogV2.lastScan = (paths.size, live)
        val s = v2bridge.parquetScan(spark, paths, phys(logicalFull),
          phys(logicalRead),
          (if (cmap.isEmpty) staticV1.toSeq
           else staticV1.toSeq.flatMap(TxLogV2.renameV1(_, physName)))
            .toArray)
        inner = Some(s)
        s
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    innerScan().toBatch.planInputPartitions()

  override def createReaderFactory(): PartitionReaderFactory =
    innerScan().toBatch.createReaderFactory()

  // ── runtime filtering (Spark-native dynamic file pruning) ─────────

  // resolved against the scan OUTPUT, so only read-schema columns may
  // be named (a pruned-away column would fail resolveRefs)
  override def filterAttributes(): Array[NamedReference] =
    logicalRead.fieldNames.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = synchronized {
    val converted = filters.toIndexedSeq.flatMap(TxLogRelation.toColumn)
    if (converted.nonEmpty) {
      runtimeCols = converted
      TxLogV2.lastRuntimeFiltered = true
      inner = None
    }
  }

  // ── CBO statistics (exact manifest aggregation) ───────────────────

  /** Exact row count + per-column min/max/nullCount/NDV from the
    * manifest skipping stats ([[TxLogTable.statsSummaryAt]] — present
    * only when every live file carries stats, exactness over
    * coverage). Pushed filters are reported as post-scan Filter nodes,
    * so Catalyst's FilterEstimation applies selectivity ON TOP of
    * these unfiltered-snapshot numbers — the same shape the V1
    * CBO-stats rule produced, now through the V2-native
    * [[SupportsReportStatistics]] seam.
    */
  override def estimateStatistics(): Statistics = memoStats

  // one metadata walk (and possibly one checkpoint-parquet read) per
  // scan, however many times Catalyst asks
  private lazy val memoStats: Statistics = {
    val sizeBytes = math.max(1L, table.onDiskBytes(
      table.scanPathsAt(version, lit(true))))
    val summary = table.statsSummaryAt(version)
    def minMaxOk(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    val colStats: java.util.Map[NamedReference, ColumnStatistics] =
      summary match {
        case None => java.util.Collections.emptyMap()
        case Some((_, ranges, ndvs)) =>
          logicalFull.fields.iterator.flatMap { f =>
            ranges.get(f.name).map { r =>
              val mm = minMaxOk(f.dataType)
              def cat(v: Option[String]): Optional[Object] =
                if (!mm) Optional.empty()
                else v.map(s => v2bridge
                    .statFromExternalString(s, f.name, f.dataType)
                    .asInstanceOf[Object])
                  .map(Optional.of[Object]).getOrElse(Optional.empty())
              val stat: ColumnStatistics = new ColumnStatistics {
                override def distinctCount(): OptionalLong =
                  ndvs.get(f.name).map(OptionalLong.of)
                    .getOrElse(OptionalLong.empty())
                override def min(): Optional[Object] = cat(r.min)
                override def max(): Optional[Object] = cat(r.max)
                override def nullCount(): OptionalLong =
                  OptionalLong.of(r.nulls)
              }
              (Expressions.column(f.name): NamedReference) -> stat
            }
          }.toMap.asJava
      }
    val rowCount: OptionalLong = summary.map(s => OptionalLong.of(s._1))
      .getOrElse(OptionalLong.empty())
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(sizeBytes)
      override def numRows(): OptionalLong = rowCount
      override def columnStats()
          : java.util.Map[NamedReference, ColumnStatistics] = colStats
    }
  }
}

/** The native Batch scan of a DV-bearing snapshot with SMALL vectors
  * (under the [[TxLogScanBuilder.DefaultDvInlineBytes]] cap): clean
  * files — the overwhelming majority of a 100 TB snapshot after a
  * point delete — ride exactly the [[TxLogBatchScan]] machinery
  * (vectorized parquet, split-aware, row-group pushdown), and files
  * the vectors actually touch are planned as WHOLE-FILE partitions
  * whose reader skips the deleted positions inline (each partition
  * carries only ITS file's sorted positions — tasks never load the
  * full vector set). Because this is a real `Batch`,
  * [[SupportsRuntimeFiltering]] works: Spark's dynamic file pruning
  * replans the file list mid-execution exactly as on a DV-free
  * snapshot — the capability the V1-bridge join path cannot offer.
  *
  * Row-position correctness: the DV leg passes NO pushed filters (no
  * row group or page is ever skipped) and reads each file as one
  * unsplit partition, so the reader's running row count IS
  * `_metadata.row_index` — the key the sidecars store. Exact
  * predicates still apply above the scan (every pushed predicate is
  * reported residual by design).
  */
final class TxLogDvAwareBatchScan(spark: SparkSession, table: TxLogTable,
    version: Long, logicalFull: StructType, logicalRead: StructType,
    staticCols: Seq[Column], staticV1: Array[Filter])
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  private val cmap: Map[String, String] = table.colMapAt(version)
  private def physName(n: String): String = cmap.getOrElse(n, n)
  private def phys(sc: StructType): StructType =
    if (cmap.isEmpty) sc
    else StructType(sc.fields.map(f => f.copy(name = physName(f.name))))

  @volatile private var runtimeCols: Seq[Column] = Nil
  @volatile private var planned
      : Option[(Array[InputPartition], PartitionReaderFactory)] = None

  // one driver-side load per scan, reused across runtime-filter
  // replans (positions don't change within a pinned snapshot)
  private lazy val dvMap: Map[String, Array[Long]] =
    table.loadDvMap(version)

  /** BatchScanExec requires EVERY partition row-based or EVERY
    * partition columnar, decided once at physical planning — so the
    * scan is columnar iff no DV-touched file survives STATIC pruning
    * (runtime filters only shrink that set, never grow it, keeping
    * the decision consistent across replans). With DV files in play
    * the whole scan reads row-based: still strictly better than the
    * V1 bridge this path replaces (no Row conversion, no join, and
    * runtime pruning works), and OPTIMIZE folds the vectors away back
    * to the fully-vectorized plan.
    */
  private lazy val columnarOk: Boolean = {
    val staticPred = staticCols.reduceOption(_ && _).getOrElse(lit(true))
    !table.expandToFiles(table.scanPathsAt(version, staticPred))
      .exists(f => dvMap.contains(fileKey(f)))
  }

  private def fileKey(path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    s"${hp.getParent.getName}/${hp.getName}"
  }

  override def readSchema(): StructType = logicalRead
  override def toBatch: Batch = this
  override def description(): String =
    s"txlog v$version ${table.root} DV-inline " +
      s"PushedFilters: ${staticV1.mkString("[", ", ", "]")}"

  private def ensurePlanned()
      : (Array[InputPartition], PartitionReaderFactory) = synchronized {
    planned match {
      case Some(x) => x
      case None =>
        val pred = (staticCols ++ runtimeCols)
          .reduceOption(_ && _).getOrElse(lit(true))
        val files = table.expandToFiles(table.scanPathsAt(version, pred))
        val live =
          if (staticCols.isEmpty && runtimeCols.isEmpty) files.size
          else if (TxLogV2.captureScans)
            table.expandToFiles(table.scanPathsAt(version, lit(true))).size
          else -1
        TxLogV2.lastScan = (files.size, live)
        val (dvFiles, cleanFiles) =
          files.partition(f => dvMap.contains(fileKey(f)))
        val cleanScan = v2bridge.parquetScan(spark, cleanFiles,
          phys(logicalFull), phys(logicalRead),
          (if (cmap.isEmpty) staticV1.toSeq
           else staticV1.toSeq.flatMap(TxLogV2.renameV1(_, physName)))
            .toArray)
        val cleanBatch = cleanScan.toBatch
        val dvLeg: Option[(Array[InputPartition], PartitionReaderFactory)] =
          if (dvFiles.isEmpty) None
          else {
            val sc = v2bridge.parquetScan(spark, dvFiles,
              phys(logicalFull), phys(logicalRead), Array.empty)
            val parts = v2bridge.wholeFilePartitions(sc).map {
              case (path, part) =>
                TxLogDvInput(part, dvMap(fileKey(path))): InputPartition
            }.toArray
            Some((parts, sc.toBatch.createReaderFactory()))
          }
        val parts = cleanBatch.planInputPartitions() ++
          dvLeg.map(_._1).getOrElse(Array.empty[InputPartition])
        val factory: PartitionReaderFactory = new TxLogDvSplitFactory(
          cleanBatch.createReaderFactory(), dvLeg.map(_._2).orNull,
          columnarOk)
        val out = (parts, factory)
        planned = Some(out)
        out
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    ensurePlanned()._1

  override def createReaderFactory(): PartitionReaderFactory =
    ensurePlanned()._2

  override def filterAttributes(): Array[NamedReference] =
    logicalRead.fieldNames.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = synchronized {
    val converted = filters.toIndexedSeq.flatMap(TxLogRelation.toColumn)
    if (converted.nonEmpty) {
      runtimeCols = converted
      TxLogV2.lastRuntimeFiltered = true
      planned = None
    }
  }

  /** Size only (rows would overcount the deleted positions; exactness
    * over coverage) — enough for the broadcast-threshold decision the
    * V1 bridge used to fly blind on.
    */
  override def estimateStatistics(): Statistics = memoStats
  private lazy val memoStats: Statistics = {
    val size = math.max(1L,
      table.onDiskBytes(table.scanPathsAt(version, lit(true))))
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(size)
      override def numRows(): OptionalLong = OptionalLong.empty()
    }
  }
}

/** One DV-touched file as an unsplit input partition, carrying ONLY
  * its own sorted deleted positions — what the task deserializes.
  */
private[sources] final case class TxLogDvInput(inner: InputPartition,
    deleted: Array[Long]) extends InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Routes clean partitions to Spark's own parquet reader factory
  * (columnar) and DV partitions to a row reader wrapped with the
  * inline skip set.
  */
private[sources] final class TxLogDvSplitFactory(
    clean: PartitionReaderFactory, dv: PartitionReaderFactory,
    columnar: Boolean)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case d: TxLogDvInput =>
        new TxLogDvSkipReader(dv.createReader(d.inner), d.deleted)
      case other => clean.createReader(other)
    }
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    clean.createColumnarReader(p)
  // uniform across ALL partitions (the BatchScanExec contract): the
  // scan-level columnar decision, not a per-partition one
  override def supportColumnarReads(p: InputPartition): Boolean =
    columnar && clean.supportColumnarReads(p)
}

/** Skips the deleted positions of one whole, filter-free file scan:
  * the running row count equals `_metadata.row_index` by the
  * [[TxLogDvAwareBatchScan]] planning contract.
  */
private final class TxLogDvSkipReader(
    inner: PartitionReader[InternalRow], deleted: Array[Long])
    extends PartitionReader[InternalRow] {
  private var idx = -1L
  private var di = 0
  override def next(): Boolean = {
    while (inner.next()) {
      idx += 1
      while (di < deleted.length && deleted(di) < idx) di += 1
      if (di >= deleted.length || deleted(di) != idx) return true
    }
    false
  }
  override def get(): InternalRow = inner.get()
  override def close(): Unit = inner.close()
}

/** BULK-vector fallback: snapshots whose live deletion vectors exceed
  * the inline cap scan through the V1 bridge —
  * [[TxLogRelation.buildScan]] applies the DV anti-join as a
  * DISTRIBUTED join on (file, row position), the right plan when the
  * deleted-rows-sized side is too big to ship per task. Runtime file
  * filtering is not offered here (the V1 physical node has no replan
  * seam); small vectors take [[TxLogDvAwareBatchScan]] instead, and
  * OPTIMIZE/checkpoint fold vectors away entirely.
  */
final class TxLogDvScan(table: TxLogTable, version: Long,
    logicalRead: StructType, pushedV1: Array[Filter]) extends V1Scan {

  override def readSchema(): StructType = logicalRead

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val rel = new TxLogRelation(context, table, version)
    val cols = logicalRead.fieldNames
    val filters = pushedV1
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = logicalRead
      override def buildScan(): RDD[Row] = rel.buildScan(cols, filters)
    }.asInstanceOf[T]
  }
}

/** A pushed aggregation answered entirely from the manifest: one
  * driver-local row — Spark plans a LocalTableScan, no job runs. The
  * 100 TB shape of `SELECT count(*), min(ts), max(ts) FROM corpus`.
  */
final class TxLogAggScan(schema: StructType, data: Array[InternalRow])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = data
  override def description(): String = "txlog manifest-stats aggregate"
}

/** The HYBRID census scan: a pushed (partial) aggregation whose
  * result merges PRE-FOLDED census rows — one per group, folded
  * exactly from the manifest stats of the file-constant files — with
  * raw-shaped rows read from only the STRAGGLER files (a late
  * unclustered append, a stats-less commit). Spark's own
  * partial-aggregate machinery does the merge above the scan
  * (Count→Sum, Min→Min, Max→Max), so one straggler no longer degrades
  * a 100 TB census to a full scan: files opened = stragglers only.
  */
final class TxLogHybridCensusScan(spark: SparkSession, table: TxLogTable,
    version: Long, logicalFull: StructType,
    census: TxLogScanBuilder.HybridCensus) extends Scan with Batch {

  private val cmap: Map[String, String] = table.colMapAt(version)
  private def physName(n: String): String = cmap.getOrElse(n, n)
  private def phys(sc: StructType): StructType =
    if (cmap.isEmpty) sc
    else StructType(sc.fields.map(f => f.copy(name = physName(f.name))))

  override def readSchema(): StructType = census.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"txlog v$version ${table.root} hybrid census " +
      s"(${census.rows.size} census rows, " +
      s"${census.stragglers.size} straggler files)"

  private lazy val planned
      : (Array[InputPartition], PartitionReaderFactory) = {
    val stragBatch = v2bridge.parquetScan(spark, census.stragglers,
      phys(logicalFull), phys(census.srcSchema), Array.empty).toBatch
    TxLogV2.lastScan = (census.stragglers.size,
      if (TxLogV2.captureScans)
        table.expandToFiles(table.scanPathsAt(version, lit(true))).size
      else -1)
    val parts: Array[InputPartition] =
      (if (census.rows.isEmpty) Array.empty[InputPartition]
       else Array[InputPartition](
         TxLogCensusInput(census.rows.toArray))) ++
        stragBatch.planInputPartitions().map(p =>
          TxLogStragglerInput(p): InputPartition)
    (parts, new TxLogCensusFactory(stragBatch.createReaderFactory(),
      census.srcSchema, census.ops.toArray))
  }

  override def planInputPartitions(): Array[InputPartition] = planned._1
  override def createReaderFactory(): PartitionReaderFactory = planned._2
}

/** The census rows as one driver-built input partition (bounded by
  * GROUP COUNT — the fold already collapsed files to groups).
  */
private[sources] final case class TxLogCensusInput(rows: Array[InternalRow])
    extends InputPartition

/** Marker wrapper routing straggler partitions to the mapping
  * reader.
  */
private[sources] final case class TxLogStragglerInput(inner: InputPartition)
    extends InputPartition {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Row-based factory of the hybrid census: census partitions replay
  * their pre-folded rows; straggler partitions read through Spark's
  * parquet reader and map each raw row into the pushed-agg layout.
  */
private[sources] final class TxLogCensusFactory(
    inner: PartitionReaderFactory, srcSchema: StructType,
    ops: Array[TxLogScanBuilder.CensusOp]) extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case c: TxLogCensusInput => new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < c.rows.length }
      override def get(): InternalRow = c.rows(i)
      override def close(): Unit = ()
    }
    case TxLogStragglerInput(ip) =>
      new TxLogCensusMapReader(inner.createReader(ip), srcSchema, ops)
    case other => throw new IllegalStateException(
      s"unexpected partition $other in hybrid census scan")
  }
}

/** Maps one straggler row into the pushed-agg layout: group keys and
  * min/max inputs pass through (a raw value IS a valid partial for
  * Min/Max), count(*) contributes 1, count(col) contributes 0/1. The
  * output row is reused per reader (the scan contract — consumers
  * copy what they retain).
  */
private final class TxLogCensusMapReader(
    inner: PartitionReader[InternalRow], srcSchema: StructType,
    ops: Array[TxLogScanBuilder.CensusOp])
    extends PartitionReader[InternalRow] {

  private val out =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      ops.length)
  private val dts: Array[DataType] =
    ops.map(o => if (o.srcIdx >= 0) srcSchema.fields(o.srcIdx).dataType
      else null)

  override def next(): Boolean = inner.next()

  override def get(): InternalRow = {
    val r = inner.get()
    var j = 0
    while (j < ops.length) {
      val o = ops(j)
      val v: Any = o.kind match {
        case 0 => if (r.isNullAt(o.srcIdx)) null else r.get(o.srcIdx, dts(j))
        case 1 => java.lang.Long.valueOf(1L)
        case 2 => java.lang.Long.valueOf(
          if (r.isNullAt(o.srcIdx)) 0L else 1L)
      }
      out.update(j, v)
      j += 1
    }
    out
  }

  override def close(): Unit = inner.close()
}
