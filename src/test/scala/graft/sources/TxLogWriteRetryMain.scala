package graft.sources

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Drives txlog commits under `local[4,2]` (one task retry allowed)
  * while [[TxLogDataWriter.afterWrite]] fails every partition's first
  * attempt AFTER its files are written; then fails every attempt of
  * one more append. Run by [[TxLogWriteRetrySpec]] in its own JVM
  * (the shared test session allows no retries). Prints RETRY-OK on
  * success; any broken invariant throws.
  */
object TxLogWriteRetryMain {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val spark = SparkSession.builder()
      .master("local[4,2]").appName("txlog-retry")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    import spark.implicits._
    val failed = new AtomicInteger
    TxLogDataWriter.afterWrite = attempt =>
      if (attempt == 0) {
        failed.incrementAndGet()
        throw new IOException("injected: first attempt fails after writing")
      }
    val t = new TxLogTable(spark, root)
    def check(cond: Boolean, what: => String): Unit =
      if (!cond) throw new IllegalStateException(what)
    def keysOnce(n: Int): Unit = {
      val ks = t.read().select("k").as[Long].collect()
      check(ks.length == n && ks.distinct.length == n,
        s"table holds ${ks.length} rows / ${ks.distinct.length} keys, expected $n once")
    }
    def changesOnce(v: Long, expected: Map[String, Int]): Unit = {
      val rows = t.changes(v - 1, v).collect().map(_.toString).toSeq
      check(rows.distinct.size == rows.size, s"duplicate change rows at v$v")
      val byType = t.changes(v - 1, v).groupBy("_change_type").count()
        .as[(String, Long)].collect().toMap.map { case (k, n) => k -> n.toInt }
      check(byType == expected, s"change rows at v$v: $byType, expected $expected")
    }

    val base = (0 until 400).map(i => (i.toLong, i % 7L, s"r$i"))
      .toDF("k", "v", "s").repartition(4)
    t.ensureExists(base.schema)
    t.append(base, statsCols = Seq("k"))
    keysOnce(400)
    val upd = (300 until 450).map(i => (i.toLong, 100L, s"u$i"))
      .toDF("k", "v", "s").repartition(3)
    val vm = t.merge(upd, Seq("k"), Seq(col("v").desc), statsCols = Seq("k"))
    keysOnce(450)
    changesOnce(vm, Map("update_preimage" -> 100, "update_postimage" -> 100,
      "insert" -> 50))
    val vd = t.delete(col("k") < 50, statsCols = Seq("k"))
    keysOnce(400)
    changesOnce(vd, Map("delete" -> 50))
    val vu = t.update(col("k") >= 400, Map("s" -> lit("x")))
    keysOnce(400)
    changesOnce(vu, Map("update_preimage" -> 50, "update_postimage" -> 50))
    check(failed.get > 0, "the failure hook never fired")

    def inProgress(): Seq[String] = {
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".inprogress-")).toList
      finally s.close()
    }
    check(inProgress().isEmpty, s"left in-progress files: ${inProgress()}")

    // an aborted write: every attempt fails, so the job fails
    TxLogDataWriter.afterWrite = _ =>
      throw new IOException("injected: every attempt fails after writing")
    val dataDirs = () => Files.list(Paths.get(root, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    val (v0, dirs0) = (t.currentVersion, dataDirs())
    check(scala.util.Try(t.append(base)).isFailure, "the aborted append committed")
    check(t.currentVersion == v0, "the aborted append moved the version")
    check(dataDirs() == dirs0, "the aborted append left a staged dir")
    check(inProgress().isEmpty, s"abort left in-progress files: ${inProgress()}")
    TxLogDataWriter.afterWrite = _ => ()
    keysOnce(400)
    spark.stop()
    println("RETRY-OK")
  }
}
