package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Round-11 hardening of the txlog contract surface:
  *   - protocol versioning: feature-bearing manifests declare the
  *     reader version they require; unknown-future manifests refuse
  *     loudly instead of silently mis-reading,
  *   - constraint/rename interplay: a rename can never silently orphan
  *     (= disable) a live CHECK, and a CHECK can never be born dead on
  *     a typo'd column,
  *   - mid-stream type widening fails the CDC batch with a
  *     restart-required error (no silent wrap-around casts),
  *   - the COPY INTO ingested-set walk is bounded by checkpoints.
  */
class TxLogProtocolSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("n", LongType, nullable = true)))

  private def df(rows: (Long, String, java.lang.Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, v, n) => Row(k, v, n) }.asJava, schema)
  }

  private def L(x: Long): java.lang.Long = java.lang.Long.valueOf(x)

  private def manifestText(root: String, v: Long): String =
    new String(Files.readAllBytes(
      Paths.get(root, "_log", f"$v%020d.json")), StandardCharsets.UTF_8)

  test("rename is blocked while a CHECK constraint references the column") {
    val root = Files.createTempDirectory("txproto_rename").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(5))))
    t.addConstraint("n_positive", "n > 0")
    val e = intercept[IllegalArgumentException](t.renameColumn("n", "amount"))
    assert(e.getMessage.contains("n_positive"))
    // the table is untouched and the constraint still enforces
    intercept[Exception](t.append(df((2L, "b", L(-1)))))
    // dropping the constraint unblocks the rename; re-adding under the
    // new name enforces again
    t.dropConstraint("n_positive")
    t.renameColumn("n", "amount")
    t.addConstraint("amount_positive", "amount > 0")
    intercept[Exception](t.append(
      df((3L, "c", L(-2))).withColumnRenamed("n", "amount")))
    assert(t.read().count() == 1)
  }

  test("addConstraint rejects expressions over unknown columns") {
    val root = Files.createTempDirectory("txproto_unknown").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(5))))
    val e = intercept[IllegalArgumentException](
      t.addConstraint("typo", "vlaue > 0"))
    assert(e.getMessage.contains("vlaue"))
    // nothing committed; a correct constraint still lands
    assert(t.constraintsAt(t.currentVersion).isEmpty)
    t.addConstraint("ok", "n > 0")
    assert(t.constraintsAt(t.currentVersion).keySet == Set("ok"))
  }

  test("feature-bearing manifests are stamped with minReader; base ones are not") {
    val root = Files.createTempDirectory("txproto_stamp").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    val vBase = t.append(df((1L, "a", L(1)), (2L, "b", L(2))))
    assert(!manifestText(root, vBase).contains("minReader"))
    // a vectored delete commits DV state → reader protocol 2
    val vDv = t.deleteVectored(col("k") === 2L)
    assert(manifestText(root, vDv).contains("\"minReader\":2"))
    // a rename commits a column mapping → reader protocol 3, and the
    // commit-layer carry-forward keeps stamping later commits
    val vRen = t.renameColumn("v", "label")
    assert(manifestText(root, vRen).contains("\"minReader\":3"))
    val vApp = t.append(df((3L, "c", L(3))).withColumnRenamed("v", "label"))
    assert(manifestText(root, vApp).contains("\"minReader\":3"))
    assert(t.read().count() == 2) // k=2 deleted, k=1 + k=3 live
  }

  test("a manifest requiring a future reader protocol refuses loudly") {
    val root = Files.createTempDirectory("txproto_future").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(1))))
    // doctor the NEXT version: a hypothetical future feature this
    // reader does not implement
    val v = t.currentVersion
    val doctored = manifestText(root, v)
      .replaceFirst("\\{",
        "{\"minReader\":99,")
      .replaceFirst("\"version\":" + v, "\"version\":" + (v + 1))
    Files.write(Paths.get(root, "_log", f"${v + 1}%020d.json"),
      doctored.getBytes(StandardCharsets.UTF_8))
    val e = intercept[IllegalStateException](t.read().count())
    assert(e.getMessage.contains("reader protocol 99"))
    assert(e.getMessage.contains("Upgrade"))
  }

  test("mid-stream widenColumn fails the CDC batch with restart-required") {
    val root = Files.createTempDirectory("txproto_widen").toString
    val t = new TxLogTable(spark, root)
    val narrow = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", IntegerType, nullable = true)))
    t.ensureExists(narrow)
    t.append(spark.createDataFrame(
      java.util.List.of(Row(1L, java.lang.Integer.valueOf(7))), narrow))
    val src = new TxLogChangeSource(spark, root, startExclusive = 0L)
    // the pre-widen batch flows
    val b1 = org.apache.spark.sql.graft.bridge.debatched(
      src.getBatch(None, LongOffset(t.currentVersion)))
    assert(b1.count() == 1)
    val vPre = t.currentVersion
    // widen int→long, then append a value that CANNOT fit in int — a
    // silent down-cast would wrap it into a corrupted change row
    t.widenColumn("n", LongType)
    val wide = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", LongType, nullable = true)))
    t.append(spark.createDataFrame(
      java.util.List.of(Row(2L, L(Int.MaxValue.toLong + 42L))), wide))
    val e = intercept[IllegalStateException](
      src.getBatch(Some(LongOffset(vPre)), LongOffset(t.currentVersion)))
    assert(e.getMessage.contains("widened mid-stream"))
    assert(e.getMessage.contains("restart"))
    // a NEW stream (the restart) adopts the wide type and reads cleanly
    val fresh = new TxLogChangeSource(spark, root, startExclusive = vPre)
    val b2 = org.apache.spark.sql.graft.bridge.debatched(
      fresh.getBatch(None, LongOffset(t.currentVersion)))
    assert(b2.filter(col("n") === (Int.MaxValue.toLong + 42L)).count() == 1)
  }

  test("vacuum's age guard protects an in-flight writer's staged dir") {
    val root = Files.createTempDirectory("txproto_vacuum").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(1))))
    // simulate a concurrent writer mid-commit: data staged, manifest
    // not yet published — the dir is unreferenced but MUST survive
    val staged = t.stage(df((2L, "b", L(2)))).dir
    assert(t.vacuum(retainHistory = false) === Nil,
      "age-guarded vacuum must not collect a fresh staged dir")
    // the writer's commit still lands on intact data
    assert(t.tryCommitForTest(t.currentVersion + 1, staged, schema.json))
    assert(t.read().count() == 1) // overwrite replaced the live set
    assert(t.read().collect().head.getLong(0) == 2L)
    // a genuinely dead orphan is collected once it ages past the bar
    val orphan = t.stage(df((3L, "c", L(3)))).dir
    assert(t.vacuum(retainHistory = true) === Nil)
    val removed = t.vacuum(retainHistory = true, minAgeMillis = 0L)
    assert(removed == Seq(orphan))
  }

  test("checkpoint folds the COPY INTO census; the walk stops there") {
    val root = Files.createTempDirectory("txproto_copyfold").toString
    val land = Files.createTempDirectory("txproto_land")
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    df((1L, "a", L(1))).coalesce(1).write.parquet(land.resolve("f1").toString)
    df((2L, "b", L(2))).coalesce(1).write.parquet(land.resolve("f2").toString)
    val glob = land.toString + "/f*/part-*.parquet"
    t.copyInto(glob)
    assert(t.copiedFiles.size == 2)
    val vCkpt = t.checkpoint()
    // the fold point carries the full census and the stop marker
    val ckptTxt = manifestText(root, vCkpt)
    assert(ckptTxt.contains("copy_fold"))
    assert(ckptTxt.contains("copyFiles"))
    // replay after the fold is still exactly-once (no re-ingest), and
    // the census no longer depends on pre-checkpoint manifests: archive
    // them away and the walk still answers correctly
    (0L until vCkpt).foreach { v =>
      val p = Paths.get(root, "_log", f"$v%020d.json")
      Files.move(p, p.resolveSibling(f"archived-$v%020d"))
    }
    assert(t.copiedFiles.size == 2)
    assert(t.copyInto(glob) == t.currentVersion)
    assert(t.read().count() == 2)
    // fresh files keep landing normally post-fold
    df((3L, "c", L(3))).coalesce(1).write.parquet(land.resolve("f3").toString)
    t.copyInto(glob)
    assert(t.read().count() == 3)
    assert(t.copiedFiles.size == 3)
  }

  // ── round-14: maintenance vs concurrent writers ────────────────────

  test("OPTIMIZE racing concurrent appends loses no rows and keeps history consistent") {
    val root = Files.createTempDirectory("txmaint_opt").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((0L until 200L).map(k => (k, s"seed$k", L(k))): _*))
    // one thread OPTIMIZEs (clustered rewrite, overwrite-class commit)
    // while another lands 5 appends; the optimistic loop must make the
    // compactor recompute over any append that beats it — never drop it
    val appender = new Thread(() => (1 to 5).foreach { i =>
      new TxLogTable(spark, root)
        .append(df((1000L + i, s"late$i", L(i))))
    })
    val optimizer = new Thread(() =>
      new TxLogTable(spark, root)
        .compactClustered(Seq("k"), numFiles = 4, statsCols = Seq("k")))
    appender.start(); optimizer.start()
    appender.join(120000); optimizer.join(120000)
    val live = t.read()
    assert(live.count() === 205L, "a racing append was lost")
    assert(live.filter(col("k") >= 1000L).count() === 5L)
    // every version in the chain is readable (no torn history)
    (0L to t.currentVersion).foreach(v => t.readAt(v).count())
  }

  test("VACUUM under the default age bar never sweeps a concurrent writer's staged dir") {
    val root = Files.createTempDirectory("txmaint_vac").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(1))))
    t.append(df((2L, "b", L(2))))
    t.compact(targetRowsPerFile = 1000L) // makes the append dirs dead
    // a writer mid-flight: its staged dir exists but its commit hasn't
    // landed yet (simulated by staging through a slow thread while
    // vacuum runs with the DEFAULT retention bar)
    val writer = new Thread(() =>
      new TxLogTable(spark, root).append(df((3L, "c", L(3)))))
    writer.start()
    val removed = t.vacuum(retainHistory = false) // default 1h age bar
    writer.join(120000)
    // the age bar protects BOTH the dead-but-young dirs and any
    // concurrent writer's staging: nothing young is swept, and the
    // racing append must land intact
    assert(removed.isEmpty, s"swept young dirs: $removed")
    assert(t.read().count() === 3L)
    // with the bar explicitly zeroed AFTER the writer finished, the
    // dead pre-compaction dirs sweep and the table stays intact
    val removed2 = t.vacuum(retainHistory = false, minAgeMillis = 0L)
    assert(removed2.nonEmpty)
    assert(t.read().count() === 3L)
  }

  test("OPTIMIZE under a LIVE CDC stream contributes nothing to the feed") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("txmaint_cdc").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(1)), (2L, "b", L(2))))
    val out = Files.createTempDirectory("txmaint_cdc_out").toString
    val ck = Files.createTempDirectory("txmaint_cdc_ck").toString
    def drain(): Unit = {
      val q = spark.readStream.format("txlog")
        .option("startingVersion", "earliest").load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.exception.foreach(e => fail(s"stream failed: ${e.cause}", e))
    }
    drain() // the seed append flows
    // maintenance + a concurrent append while the stream is between
    // drains (checkpointed mid-log — exactly a live stream's position)
    t.compactClustered(Seq("k"), numFiles = 2, statsCols = Seq("k"))
    t.append(df((3L, "c", L(3))))
    t.compact(targetRowsPerFile = 1000L)
    drain() // the feed resumes OVER the compaction commits
    val changes = spark.read.parquet(out)
    val got = changes.select(col("k"), col("_change_type"),
        col("_commit_version")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    // only the three real inserts — neither compaction emitted a row
    assert(got === Seq((1L, "insert"), (2L, "insert"), (3L, "insert")),
      s"compaction leaked into the change feed: $got")
  }

  test("maintenance flows run clean over a dropped-column table") {
    val root = Files.createTempDirectory("txproto_drop").toString
    val t = new TxLogTable(spark, root)
    t.ensureExists(schema)
    t.append(df((1L, "a", L(10)), (2L, "b", L(20))), statsCols = Seq("k"))
    t.append(df((3L, "c", L(30)), (4L, "d", L(40))), statsCols = Seq("k"))
    t.dropColumn("v")
    // OPTIMIZE rewrites under the NARROWED schema: the physical column
    // leaves the rewritten files entirely
    t.compactClustered(Seq("k"), numFiles = 2, statsCols = Seq("k"))
    val dirs = t.liveDataPaths(t.currentVersion)
    dirs.foreach { p =>
      val cols = spark.read.parquet(p).columns.toSeq
      assert(!cols.contains("v"), s"rewritten file still stores v: $p")
    }
    // checkpoint + vacuum keep the tombstone and the data intact
    t.checkpoint()
    t.vacuum(retainHistory = false, minAgeMillis = 0L)
    val t2 = new TxLogTable(spark, root) // fresh instance, fresh walk
    assert(t2.read().columns.toSeq == Seq("k", "n"))
    assert(t2.read().orderBy("k").collect().map(_.getLong(1)).toSeq ==
      Seq(10L, 20L, 30L, 40L))
    assert(t2.droppedColsAt(t2.currentVersion) == Set("v"),
      "the checkpoint fold must carry the tombstone forward")
    // stats-pruned reads still engage on the surviving columns
    val pruned = t2.scanPathsAt(t2.currentVersion, col("k") === 1L)
    val all = t2.scanPathsAt(t2.currentVersion, lit(true))
    assert(pruned.size < all.size, s"${pruned.size}/${all.size}")
    // and the manifest records the drop for the audit trail
    assert(manifestText(root, 3L).contains("droppedCols"))
  }
}
