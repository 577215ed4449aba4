package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Listener-exact Spark job counts per txlog commit kind: every commit
  * stages its data (and its change rows) in ONE write job that folds
  * the skipping stats in the writers, so a change that brings back a
  * stats re-scan or a separate CDC pass fails here. Merge and
  * conditional merge add only their planning jobs (source-key
  * collection, the duplicate-key census, the ambiguity check) and the
  * shuffle stages of their one write.
  */
class TxLogCommitJobsSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ver", LongType),
    StructField("v", LongType), StructField("grp", StringType),
    StructField("day", IntegerType), StructField("tag", StringType)))

  private def batch(from: Int, n: Int, ver: Long, tag: Int => String) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      (from until from + n).map(i => Row(i.toLong * 7, ver, i.toLong % 1000,
        s"g${i % 16}", i % 100, tag(i))), 2), schema)

  private def jobsOf(body: => Any): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftTestBus.drain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("one write job per append, delete and update; exact merge counts") {
    val t = new TxLogTable(spark,
      Files.createTempDirectory("txlog_jobs").toString)
    t.ensureExists(schema)
    val stats = Seq("k", "day")
    val counts = Seq(
      "append" -> jobsOf(t.append(batch(0, 2000, 0L, _ => "i"),
        statsCols = stats, bloomCols = Seq("k"))),
      "append2" -> jobsOf(t.append(batch(2000, 2000, 0L, _ => "i"),
        statsCols = stats, bloomCols = Seq("k"))),
      "merge" -> jobsOf(t.merge(batch(1900, 300, 1L, _ => "m"), Seq("k"),
        Seq(col("ver").desc), statsCols = stats)),
      "merge_conditional" -> jobsOf(t.mergeConditional(
        batch(3900, 300, 2L, i => if (i % 3 == 0) "del" else "upd"), Seq("k"),
        Seq(TxLogTable.MatchedDelete(Some("s.tag = 'del'")),
          TxLogTable.MatchedUpdate()), statsCols = stats)),
      "update" -> jobsOf(t.update(col("grp") === "g3" && col("day") < 40,
        Map("v" -> (col("v") + 1)), statsCols = stats)),
      "delete" -> jobsOf(t.delete(col("day") >= 10 && col("day") < 13,
        statsCols = stats))).toMap
    info(counts.toSeq.sortBy(_._1).mkString(", "))
    assert(counts("append") == 1 && counts("append2") == 1)
    assert(counts("delete") == 1)
    assert(counts("update") == 1)
    // planning (source keys, duplicate-key census) + one window
    // exchange + the write
    assert(counts("merge") == 7)
    // planning (ambiguity check, source keys) + two join exchanges +
    // the write
    assert(counts("merge_conditional") == 8)
  }

  test("commit metrics: files, rows, bytes and phase durations of the " +
      "last commit") {
    val t = new TxLogTable(spark,
      Files.createTempDirectory("txlog_metrics").toString)
    t.ensureExists(schema)
    val va = t.append(batch(0, 500, 0L, _ => "i").repartition(2),
      statsCols = Seq("k"))
    val ma = TxLogTable.lastCommitMetrics.get
    val files = t.expandToFiles(t.scanPathsAt(va, lit(true)))
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = files.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    assert(ma.version === va && ma.action === "append")
    assert(ma.files === files.size && ma.rows === 500 && ma.bytes === bytes)
    assert(ma.writeNanos > 0 && ma.publishNanos > 0 && ma.statsMergeNanos >= 0)
    // a delete stages its kept rows and its change rows in one write
    val vd = t.delete(col("k") < 700, statsCols = Seq("k"))
    val md = TxLogTable.lastCommitMetrics.get
    assert(md.version === vd && md.action === "overwrite")
    assert(md.rows === 500)
    // stats prove no row matches: a metadata-only commit stages nothing
    val vn = t.delete(col("k") < 0)
    val mn = TxLogTable.lastCommitMetrics.get
    assert(mn.version === vn && mn.files === 0 && mn.rows === 0)
  }
}
