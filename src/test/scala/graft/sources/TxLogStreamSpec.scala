package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpec

/** Pins the table-as-stream duplex: readStream tails the typed change
  * feed with version offsets (exactly-once across checkpoint
  * restarts), and writeStream appends with batch-id replay dedup.
  */
class TxLogStreamSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("ts", LongType, nullable = false)))

  private def df(rows: (Long, String, Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, v, ts) => Row(k, v, ts) }.asJava, schema)
  }

  private def changeSet(d: DataFrame): Set[(Long, String, String, Long)] =
    d.select(col("k"), col("v"), col("_change_type"), col("_commit_version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet

  test("CDC source streams appends and DML as typed changes") {
    val root = Files.createTempDirectory("txstream").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L), (2L, "b", 2L))) // v1
    t.update(col("k") === 1L, Map("v" -> lit("A"))) // v2
    t.delete(col("k") === 2L) // v3

    val out = Files.createTempDirectory("txstream_out").toString
    val ck = Files.createTempDirectory("txstream_ck").toString
    val q = spark.readStream.format("txlog")
      .option("startingVersion", "earliest").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))

    val got = changeSet(spark.read.parquet(out))
    assert(got === Set(
      (1L, "a", "insert", 1L), (2L, "b", "insert", 1L),
      (1L, "a", "update_preimage", 2L), (1L, "A", "update_postimage", 2L),
      (2L, "b", "delete", 3L)))

    // restart from the checkpoint: three more commits land exactly once
    t.append(df((5L, "e", 5L))) // v4
    t.update(col("k") === 5L, Map("ts" -> lit(50L))) // v5
    val q2 = spark.readStream.format("txlog")
      .option("startingVersion", "earliest").load(root)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    q2.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    val got2 = changeSet(spark.read.parquet(out))
    assert(got2.size === got.size + 3, "no duplicates, no gaps on restart")
    assert(got2.filter(_._4 >= 4L) === Set(
      (5L, "e", "insert", 4L),
      (5L, "e", "update_preimage", 5L), (5L, "e", "update_postimage", 5L)))
  }

  test("tail mode (no startingVersion) sees only post-start commits") {
    val root = Files.createTempDirectory("txtail").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "old", 1L))) // before the stream exists
    val out = Files.createTempDirectory("txtail_out").toString
    val ck = Files.createTempDirectory("txtail_ck").toString
    def run(): Unit = {
      val q = spark.readStream.format("txlog").load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    }
    run() // nothing new yet
    t.append(df((2L, "new", 2L)))
    run()
    val files = new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val got = if (files == 0) Set.empty else changeSet(spark.read.parquet(out))
    assert(got === Set((2L, "new", "insert", 2L)),
      "pre-start history must not replay in tail mode")
  }

  test("append sink: batch-id marker makes replays no-ops") {
    val root = Files.createTempDirectory("txsink").toString
    val src = Files.createTempDirectory("txsink_src").toString
    val ck = Files.createTempDirectory("txsink_ck").toString
    df((1L, "a", 1L), (2L, "b", 1L)).coalesce(1).write.parquet(s"$src/f0")
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/*")
        .writeStream.format("txlog")
        .option("path", root).option("statsCols", "k")
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    }
    run()
    val t = new TxLogTable(spark, root)
    assert(t.read().count() === 2L)
    val v1 = t.currentVersion
    assert(t.marker(TxLogStream.SinkBatchMarker) === Some("0"))
    // re-run same checkpoint, one new file: exactly one more commit
    df((3L, "c", 2L)).coalesce(1).write.parquet(s"$src/f1")
    run()
    assert(t.read().count() === 3L)
    assert(t.currentVersion === v1 + 1)
    assert(t.marker(TxLogStream.SinkBatchMarker) === Some("1"))
    // manual replay of an old batch id is ignored
    new TxLogAppendSink(spark, root, Map.empty)
      .addBatch(0L, df((99L, "dup", 9L)))
    assert(t.read().filter(col("k") === 99L).count() === 0L)
    // stats option flowed through the sink: point predicate prunes
    assert(t.scanPathsAt(t.currentVersion, col("k") === 1L).size === 1)
  }

  test("native V2 streaming write: toTable epoch commits, replay lands nothing") {
    val cat = s"strlake${scala.util.Random.nextInt(1000000)}"
    val catRoot = Files.createTempDirectory("txstrv2_cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[TxLogCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", catRoot)
    spark.sql(s"CREATE TABLE $cat.sink (k BIGINT, v STRING, ts BIGINT) " +
      "USING txlog")
    val src = Files.createTempDirectory("txstrv2_src").toString
    val ck = Files.createTempDirectory("txstrv2_ck").toString
    df((1L, "a", 1L), (2L, "b", 1L)).coalesce(1).write.parquet(s"$src/f0")
    def run(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/*")
        .writeStream.option("checkpointLocation", ck)
        .option("statsCols", "k")
        .trigger(Trigger.AvailableNow())
        .toTable(s"$cat.sink")
      q.awaitTermination(120000)
      q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    }
    run()
    val t = new TxLogTable(spark, s"$catRoot/sink")
    assert(t.read().count() === 2L)
    assert(t.marker(TxLogStream.SinkBatchMarker) === Some("0"))
    // the NATIVE path staged the epoch dir (stream-<uuid>-<epoch>),
    // not the V1 sink's uuid-named staged dir
    assert(t.liveDataPaths(t.currentVersion).exists(_.contains("stream-")),
      t.liveDataPaths(t.currentVersion).mkString(", "))
    val v1 = t.currentVersion

    // kill-and-resume on the same checkpoint with one new file:
    // exactly ONE more commit — the drained epoch does not replay
    df((3L, "c", 2L)).coalesce(1).write.parquet(s"$src/f1")
    run()
    assert(t.read().count() === 3L)
    assert(t.currentVersion === v1 + 1)
    assert(t.marker(TxLogStream.SinkBatchMarker) === Some("1"))
    // a resumed run with NOTHING new commits nothing
    run()
    assert(t.currentVersion === v1 + 1)

    // an explicit replay of an already-committed epoch through a
    // FRESH StreamingWrite instance (the crash-between-commit-and-
    // checkpoint shape) recognizes the marker and drops its staging
    val sw = new TxLogStreamingWrite(spark, s"$catRoot/sink",
      schema, Nil, Nil, Nil, None)
    sw.commit(1L, Array.empty)
    assert(t.currentVersion === v1 + 1)
    assert(t.read().count() === 3L)
    // stats option flowed through: point predicate prunes to one file
    assert(t.scanPathsAt(t.currentVersion, col("k") === 3L).size === 1)

    // a NEW query (fresh checkpoint) writing to this table must land
    // its epoch 0 even though the table carries a HIGHER marker from
    // the first stream — the dedup marker is scoped per queryId, so
    // another query's progress can never silently swallow early
    // batches of this one
    val src2 = Files.createTempDirectory("txstrv2_src2").toString
    val ck2 = Files.createTempDirectory("txstrv2_ck2").toString
    df((100L, "q2", 7L)).coalesce(1).write.parquet(s"$src2/g0")
    val q2 = spark.readStream.schema(schema).parquet(src2 + "/*")
      .writeStream.option("checkpointLocation", ck2)
      .trigger(Trigger.AvailableNow())
      .toTable(s"$cat.sink")
    q2.awaitTermination(120000)
    q2.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    assert(t.read().filter(col("k") === 100L).count() === 1L,
      "a fresh query's epoch 0 was swallowed by another stream's marker")
    assert(t.read().count() === 4L)
  }

  test("maxVersionsPerBatch bounds catch-up batches; compaction invisible, restore emits its diff") {
    val root = Files.createTempDirectory("txcap").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    (1L to 4L).foreach(i => t.append(df((i, s"v$i", i)))) // v1..v4
    t.compact(targetRowsPerFile = 1000)                   // v5: no changes
    // v6: restore AFTER a compaction — the file-granular diff emits the
    // full cancelling churn (4 deletes of the compacted file + 4
    // re-inserts of the original dirs); additively a no-op, but visible
    t.restore(4L)
    t.append(df((9L, "post", 9L)))                        // v7

    val ck = Files.createTempDirectory("txcap_ck").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("txlog")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerBatch", "2").load(root)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, batch.count())) }
        ()
      }.start()
    q.processAllAvailable()
    q.stop()
    // 7 versions at cap 2 → ≥ 4 batches; every batch ≤ 2 versions' rows
    assert(batches.size >= 4, s"cap ignored: $batches")
    assert(batches.map(_._2).sum === 13L,
      "4 inserts + restore churn (4 deletes + 4 re-inserts, cancelling) " +
        "+ 1 post-restore insert; compact emits nothing")
  }

  test("maxBytesPerBatch budgets backfill batches; AvailableNow " +
      "drains bounded batches then terminates") {
    val root = Files.createTempDirectory("txbytes").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    (1L to 6L).foreach(i => t.append(df((i, s"v$i", i)))) // v1..v6
    // one version's payload is a few KB; a budget of ~1.5 versions
    // forces roughly one-version batches — and AvailableNow must
    // still drain ALL of them, then stop (the production backfill)
    val oneVer = {
      val p = new org.apache.hadoop.fs.Path(t.liveDataPaths(1L).head)
      p.getFileSystem(spark.sessionState.newHadoopConf())
        .getContentSummary(p).getLength
    }
    val ck = Files.createTempDirectory("txbytes_ck").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("txlog")
      .option("startingVersion", "earliest")
      .option("maxBytesPerBatch", (oneVer * 3 / 2).toString).load(root)
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches.synchronized { batches += batch.count() }
        ()
      }.start()
    q.awaitTermination(120000)
    q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    assert(batches.sum === 6L, s"backfill incomplete: $batches")
    assert(batches.size >= 4,
      s"byte budget must split the backfill into ~per-version " +
        s"batches: $batches")
  }

  test("stream sink and concurrent batch writers interleave without lost updates") {
    val root = Files.createTempDirectory("txrace").toString
    val src = Files.createTempDirectory("txrace_src").toString
    val ck = Files.createTempDirectory("txrace_ck").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    df((1L, "a", 1L)).coalesce(1).write.parquet(s"$src/f0")
    // batch merge BEFORE the stream batch commits — the sink's append
    // must serialize after it through the version protocol
    t.merge(df((50L, "batch", 5L)), Seq("k"), Seq(col("ts").desc))
    val q = spark.readStream.schema(schema).parquet(src + "/*")
      .writeStream.format("txlog")
      .option("path", root).option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    // another batch writer after the stream
    t.merge(df((60L, "batch2", 6L)), Seq("k"), Seq(col("ts").desc))
    assert(t.read().select("k").collect().map(_.getLong(0)).toSet ===
      Set(1L, 50L, 60L), "no writer lost")
    // versions strictly serialized: create + merge + sink + merge
    assert(t.currentVersion === 3L)
    assert(t.marker(TxLogStream.SinkBatchMarker) === Some("0"))
  }

  test("end-to-end incremental mirror: CDC stream foreachBatch-merges into a second table") {
    val srcRoot = Files.createTempDirectory("txmirror_a").toString
    val dstRoot = Files.createTempDirectory("txmirror_b").toString
    val ck = Files.createTempDirectory("txmirror_ck").toString
    val a = new TxLogTable(spark, srcRoot)
    a.ensureExists(schema)
    a.append(df((1L, "a", 1L), (2L, "b", 2L)))
    a.update(col("k") === 2L, Map("v" -> lit("B")))
    val b = new TxLogTable(spark, dstRoot)
    b.ensureExists(schema)
    def sync(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("startingVersion", "earliest").load(srcRoot)
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // apply the net effect of the batch's change rows, newest
          // version wins per key; deletes drop the key
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("k"))
            .orderBy(col("_commit_version").desc,
              // postimage outranks preimage within a version
              when(col("_change_type") === "update_preimage", 1)
                .otherwise(0).asc)
          val net = batch.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
          val dels = net.filter(col("_change_type") === "delete")
          val ups = net.filter(col("_change_type") =!= "delete")
            .select(col("k"), col("v"), col("ts"))
          if (dels.count() > 0)
            b.delete(col("k").isin(
              dels.select("k").collect().map(_.getLong(0)).toIndexedSeq: _*))
          if (ups.count() > 0)
            b.merge(ups, Seq("k"), Seq(col("ts").desc, col("v").desc))
          ()
        }.start()
      q.awaitTermination(120000)
      q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    }
    sync()
    def snap(t: TxLogTable) = t.read().collect().map(_.toString).sorted.toSeq
    assert(snap(b) === snap(a))
    a.delete(col("k") === 1L)
    a.append(df((7L, "g", 7L)))
    sync()
    assert(snap(b) === snap(a))
  }

  test("mid-stream schema evolution: evolved mode surfaces new columns live, fail mode stops loudly") {
    val root = Files.createTempDirectory("txevo").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", 1L)))

    val wide = StructType(schema.fields :+
      StructField("extra", StringType, nullable = true))
    def wideDf(rows: (Long, String, Long, String)*) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        rows.map { case (k, v, ts, e) => Row(k, v, ts, e) }.asJava, wide)
    }

    // evolved mode: the post-start column arrives in _evolved with NO
    // restart, from its admission batch onward
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Option[Map[String, String]])]
    val ck = Files.createTempDirectory("txevo_ck").toString
    val q = spark.readStream.format("txlog")
      .option("startingVersion", "earliest")
      .option("onSchemaEvolution", "evolved").load(root)
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val got = batch.select(col("k"), col("_evolved")).collect()
          .map(r => (r.getLong(0),
            Option(r.getMap[String, String](1)).map(_.toMap)))
        rows.synchronized { rows ++= got }
        ()
      }.start()
    q.processAllAvailable()
    t.append(wideDf((2L, "b", 2L, "NEW"))) // evolves the table schema
    q.processAllAvailable()
    q.stop()
    val byK = rows.toMap
    assert(byK(1L).isEmpty, "pre-evolution rows carry no _evolved map")
    assert(byK(2L) === Some(Map("extra" -> "NEW")),
      s"evolved column must surface live, got $rows")

    // fail mode: a SECOND evolution, after this stream starts, stops
    // it with the descriptive error instead of silently dropping the
    // column ("extra" is known to this stream — it predates it)
    val wider = StructType(wide.fields :+
      StructField("extra2", StringType, nullable = true))
    val ck2 = Files.createTempDirectory("txevo_ck2").toString
    val q2 = spark.readStream.format("txlog")
      .option("startingVersion", "earliest")
      .option("onSchemaEvolution", "fail").load(root)
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch { (_: DataFrame, _: Long) => () }.start()
    q2.processAllAvailable() // drains the pre-evolution history fine
    t.append {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        Seq(Row(3L, "c", 3L, null, "NEWER")).asJava, wider)
    }
    try q2.processAllAvailable() catch { case _: Throwable => () }
    q2.stop()
    assert(q2.exception.isDefined &&
      q2.exception.get.getMessage.contains("schema evolved mid-stream"),
      s"fail mode must stop loudly, got ${q2.exception}")
  }
}
