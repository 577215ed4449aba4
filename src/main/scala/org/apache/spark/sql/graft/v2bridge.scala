package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.internal.connector.PredicateUtils
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `private[sql]` seams the DataSource-V2 txlog path needs (same
  * pattern as [[bridge]]): Spark's parquet V2 scan machinery reused as
  * the execution half of a custom `Batch`, V2→V1 predicate
  * conversion, and catalog-stat string decoding. Everything here is a
  * thin re-export — no logic — so the engine's own code stays in the
  * `graft` namespace.
  */
object v2bridge {

  /** Spark's own parquet V2 scan over an EXPLICIT file list — the
    * execution half of the txlog DSv2 `Batch`
    * ([[graft.sources.TxLogBatchScan]]): the manifest layer decides
    * WHICH files (static manifest pruning ∩ runtime filters), this
    * scan turns them into vectorized, split-aware `InputPartition`s
    * exactly as a native parquet read would (maxPartitionBytes
    * splitting, columnar batches, row-group pushdown of `filters`).
    *
    * `dataSchema`/`readSchema`/`filters` are all in PHYSICAL (on-file)
    * column names; the caller owns the logical↔physical mapping.
    */
  def parquetScan(spark: SparkSession, paths: Seq[String],
      dataSchema: StructType, readSchema: StructType,
      filters: Array[Filter]): Scan = {
    val index = new InMemoryFileIndex(spark, paths.map(new Path(_)),
      Map.empty[String, String], Some(dataSchema),
      FileStatusCache.getOrCreate(spark), None, None)
    ParquetScan(spark, spark.sessionState.newHadoopConf(), index,
      dataSchema, readSchema, new StructType(), filters,
      CaseInsensitiveStringMap.empty(), None, Nil, Nil)
  }

  /** V2 `Predicate` → V1 `Filter`, when an exact translation exists. */
  def toV1Filter(p: Predicate): Option[Filter] = PredicateUtils.toV1(p)

  /** Re-group a file scan's planned partitions into WHOLE-FILE
    * partitions, one per file — the shape the DV-aware txlog scan
    * needs: its reader counts rows to recover `row_index`, which is
    * only the running count when each task reads one complete file in
    * order (no splits, and the caller passes no pushed filters so no
    * row group is skipped). Returns (file path, partition) pairs;
    * split metadata (size, locations, partition values) carries over
    * from the scan's own planning.
    */
  def wholeFilePartitions(scan: Scan)
      : Seq[(String, org.apache.spark.sql.connector.read.InputPartition)] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val splits = scan.toBatch.planInputPartitions().iterator.flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"expected FilePartition from a parquet scan, got $other")
    }.toSeq
    splits.groupBy(_.filePath.toString).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((path, pfs), i) =>
        val whole = pfs.head.copy(start = 0L, length = pfs.head.fileSize)
        (path, FilePartition(i, Array(whole)))
      }
  }

  /** The output schema Spark expects for a pushed aggregation — the
    * same contract the built-in parquet/ORC aggregate pushdown uses
    * (`AggregatePushDownUtils`); None when the aggregation shape is
    * unsupported by that contract.
    */
  def pushedAggSchema(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      schema: StructType,
      groupableCols: Set[String] = Set.empty): Option[StructType] =
    org.apache.spark.sql.execution.datasources.AggregatePushDownUtils
      .getSchemaForPushedAggregation(agg, schema, groupableCols, Nil)

  /** One executor-side staged-file writer (see
    * [[StagedParquetWriters.open]]).
    */
  trait StagedRowWriter {
    def write(r: org.apache.spark.sql.catalyst.InternalRow): Unit
    def close(): Unit
  }

  /** Serializable provider of executor-side parquet writers — the
    * execution half of the txlog NATIVE V2 write: Spark's own
    * `ParquetFileFormat.prepareWrite` output factory (compression,
    * writer version, all session parquet confs honored) opened
    * directly at staged-file paths. The commit protocol above it is
    * the txlog manifest commit, not a Hadoop committer — staged files
    * are invisible (dot-prefixed) until the task commit renames them,
    * and the dir is inert until a manifest references it.
    */
  final class StagedParquetWriters private[graft] (
      factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
      conf: org.apache.spark.util.SerializableConfiguration,
      val schema: StructType) extends Serializable {

    def open(path: String, partitionId: Int, taskId: Long): StagedRowWriter = {
      import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
      val attempt = new TaskAttemptID(
        new TaskID(new JobID("graft-txlog-write", 0), TaskType.MAP,
          partitionId),
        (taskId % Int.MaxValue).toInt)
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf.value, attempt)
      val w = factory.newInstance(path, schema, ctx)
      new StagedRowWriter {
        override def write(r: org.apache.spark.sql.catalyst.InternalRow)
            : Unit = w.write(r)
        override def close(): Unit = w.close()
      }
    }

    def rename(from: String, to: String): Boolean = {
      val p = new Path(from)
      p.getFileSystem(conf.value).rename(p, new Path(to))
    }

    def delete(path: String): Unit = {
      val p = new Path(path)
      p.getFileSystem(conf.value).delete(p, false)
      ()
    }

    def size(path: String): Long = {
      val p = new Path(path)
      p.getFileSystem(conf.value).getFileStatus(p).getLen
    }
  }

  def stagedParquetWriters(spark: SparkSession,
      schema: StructType): StagedParquetWriters = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    new StagedParquetWriters(factory,
      new org.apache.spark.util.SerializableConfiguration(
        job.getConfiguration), schema)
  }

  /** Add a task's written rows and bytes to its output metrics — what
    * Spark's own file writers report through their stats tracker, so
    * listeners see the txlog writers' output too (a DSv2 write task
    * reports none by itself).
    */
  def reportOutput(records: Long, bytes: Long): Unit =
    Option(org.apache.spark.TaskContext.get()).foreach { c =>
      val m = c.taskMetrics().outputMetrics
      m.setBytesWritten(m.bytesWritten + bytes)
      m.setRecordsWritten(m.recordsWritten + records)
    }

  /** Run `df` into a DSv2 `table` as one by-position `AppendData` —
    * executed eagerly, as one SQL execution, through Spark's own V2
    * write path (`DataWritingSparkTask` with the output commit
    * coordinator). The txlog staged writes use it with a stage-only
    * table whose commit only keeps the writers' messages.
    */
  def appendByPosition(df: org.apache.spark.sql.DataFrame,
      table: org.apache.spark.sql.connector.catalog.Table): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.AppendData
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    bridge.ofRows(df.sparkSession, AppendData.byPosition(
      DataSourceV2Relation.create(table, None, None),
      df.queryExecution.analyzed))
    ()
  }

  /** Decode a stats string in `CatalogColumnStat.fromExternalString`
    * version-2 format (the encoding the txlog manifest stores) into
    * the CATALYST value the V2 `ColumnStatistics` interface expects
    * for min/max.
    */
  def statFromExternalString(s: String, name: String, dt: DataType): Any =
    org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
      .fromExternalString(s, name, dt, 2)
}
