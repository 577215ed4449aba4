package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Distributed manifest planning past the file-count threshold
  * (`spark.graft.txlog.distributedPlanThreshold`): the summary and
  * census folds that drive CBO stats, aggregate pushdown, and the
  * hybrid census run as ONE Spark job over the checkpoint parquet
  * instead of collecting the per-file stat rows — at ~1M files those
  * rows are GBs of driver heap per plan. Pinned: identical results on
  * BOTH sides of the threshold (summary values, census rows, planned
  * file sets), and the driver-materialization bound (1 row for the
  * summary, groups+stragglers for the census) via the
  * `lastPlanMaterialized` hook.
  */
class TxLogDistributedPlanSpec extends SparkSpec {

  private val sch = StructType(Seq(
    StructField("grp", LongType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = true)))

  private def manyFileTable(): (String, TxLogTable, Int) = {
    val root = Files.createTempDirectory("txdist").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(sch)
    import scala.jdk.CollectionConverters._
    (0L until 4L).foreach { g =>
      val rows = (0L until 300L).map(i =>
        Row(g, g * 1000L + i, if (i % 7 == 0) null else i * 2L): Row)
      t.append(spark.createDataFrame(rows.asJava, sch).repartition(60),
        statsCols = Seq("grp", "k", "v"))
    }
    t.checkpoint() // stats fold to parquet — the distributed source
    val files = t.liveDataPaths(t.currentVersion).size
    assert(files > 200, s"synthetic table should be many-file, got $files")
    (root, t, files)
  }

  private def withThreshold[A](n: Long)(f: => A): A = {
    spark.conf.set("spark.graft.txlog.distributedPlanThreshold", n.toString)
    try f
    finally spark.conf.unset("spark.graft.txlog.distributedPlanThreshold")
  }

  test("summary, census, and planned file sets identical across the threshold") {
    val (root, t, files) = manyFileTable()
    val v = t.currentVersion

    // ── statsSummaryAt: driver fold vs one-job fold ────────────────
    TxLogTable.lastPlanMaterialized = -1
    val small = t.statsSummaryAt(v).get
    assert(TxLogTable.lastPlanMaterialized === files,
      "below the threshold the driver fold walks every file")
    TxLogTable.lastPlanMaterialized = -1
    val big = withThreshold(50) { t.statsSummaryAt(v).get }
    assert(TxLogTable.lastPlanMaterialized === 1,
      "above the threshold the driver materializes ONE aggregated row")
    assert(big._1 === small._1, "row counts must agree")
    assert(big._2 === small._2, s"column ranges must agree:\n${small._2}\nvs\n${big._2}")
    assert(big._3 === small._3, "NDV estimates must agree")

    // ── scanPathsAt: planned file sets identical both sides ───────
    val pred = col("grp") === 2L && col("k") >= 2100L
    val pathsSmall = t.scanPathsAt(v, pred).toSet
    val pathsBig = withThreshold(50) { t.scanPathsAt(v, pred).toSet }
    assert(pathsSmall === pathsBig)
    assert(pathsSmall.nonEmpty && pathsSmall.size < files,
      s"the predicate should prune: ${pathsSmall.size} of $files")

    // ── grouped census: same rows, bounded driver work ─────────────
    def census() = spark.read.format("txlog").load(root)
      .groupBy("grp").agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("k")).as("mn"), max(col("k")).as("mx"))
      .orderBy("grp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    val cSmall = census()
    TxLogTable.lastPlanMaterialized = -1
    val cBig = withThreshold(50) { census() }
    assert(cSmall === cBig)
    assert(cSmall === (0L until 4L).map(g =>
      (g, 300L, 257L, g * 1000L, g * 1000L + 299L)))
    assert(TxLogTable.lastPlanMaterialized === 4,
      "distributed census must materialize GROUP rows only, got " +
        TxLogTable.lastPlanMaterialized)
  }

  test("hybrid census above the threshold scans stragglers only") {
    val (root, t, _) = manyFileTable()
    import scala.jdk.CollectionConverters._
    // one stats-less straggler append
    t.append(spark.createDataFrame(
      Seq(Row(1L, 777777L, null): Row).asJava, sch).coalesce(1))
    def census() = spark.read.format("txlog").load(root)
      .groupBy("grp").agg(count(lit(1)).as("n"), max(col("k")).as("mx"))
      .orderBy("grp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = Seq((0L, 300L, 299L), (1L, 301L, 777777L),
      (2L, 300L, 2299L), (3L, 300L, 3299L))
    assert(census() === expected)
    assert(TxLogV2.lastScan._1 === 1, s"stragglers only: ${TxLogV2.lastScan}")
    TxLogTable.lastPlanMaterialized = -1
    val big = withThreshold(50) { census() }
    assert(big === expected)
    assert(TxLogV2.lastScan._1 === 1,
      s"distributed hybrid still scans stragglers only: ${TxLogV2.lastScan}")
    assert(TxLogTable.lastPlanMaterialized <= 4 + 1,
      "driver materialization bounded by groups + stragglers, got " +
        TxLogTable.lastPlanMaterialized)
  }

  test("vacuum past the threshold folds history as one job, DRY RUN " +
      "parity, driver bounded by doomed count") {
    val (root, t, _) = manyFileTable()
    // orphan two staged dirs (lost commit races) + two historical
    // commits an overwrite supersedes
    import scala.jdk.CollectionConverters._
    t.stage(spark.createDataFrame(
      Seq(Row(9L, 1L, 1L): Row).asJava, sch))
    t.stage(spark.createDataFrame(
      Seq(Row(9L, 2L, 2L): Row).asJava, sch))
    // driver-arm DRY RUN is the reference
    TxLogTable.lastPlanMaterialized = -1
    val refDry = t.vacuum(retainHistory = true, minAgeMillis = 0L,
      dryRun = true)
    val driverWalk = TxLogTable.lastPlanMaterialized
    assert(refDry.size === 2, refDry.mkString(", "))
    // distributed arm: identical DRY RUN report, driver materializes
    // doomed + ckpt references instead of every manifest
    TxLogTable.lastPlanMaterialized = -1
    val bigDry = withThreshold(1) {
      t.vacuum(retainHistory = true, minAgeMillis = 0L, dryRun = true)
    }
    assert(bigDry === refDry)
    assert(TxLogTable.lastPlanMaterialized <= refDry.size + 2,
      s"driver bound: got ${TxLogTable.lastPlanMaterialized} " +
        s"(driver arm walked $driverWalk manifests)")
    // the real sweep through the distributed arm removes exactly those
    val swept = withThreshold(1) {
      t.vacuum(retainHistory = true, minAgeMillis = 0L)
    }
    assert(swept === refDry)
    assert(t.read().count() === 1200L, "vacuum touched live data")
    // and historical reads still replay (retainHistory kept the chain)
    assert(t.readAt(t.currentVersion - 1).count() === 1200L)
  }
}
