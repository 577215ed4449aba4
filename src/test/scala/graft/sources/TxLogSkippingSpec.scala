package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.SparkSpec

/** Pins the round-8 additions to the commit-log table: manifest-level
  * data skipping (per-file ranges + conservative pruning), range-
  * clustered compaction, the row-level change feed, and additive
  * schema evolution. The skipping tests assert BOTH correctness
  * (pruned read ≡ full read + filter — the soundness contract) and
  * effectiveness (provably-irrelevant files are actually skipped —
  * otherwise the feature is a no-op that silently reads everything).
  */
class TxLogSkippingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true),
    StructField("ts", LongType, nullable = false)))

  private def df(rows: (Long, String, Long)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      rows.map { case (k, v, ts) => Row(k, v, ts) }.asJava, schema)
  }

  private def fresh(): TxLogTable =
    new TxLogTable(spark, Files.createTempDirectory("txskip").toString)

  private def sortedRows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.toString).sorted.toSeq

  test("pruned read: correct under every predicate shape, and actually prunes") {
    val t = fresh()
    t.ensureExists(schema)
    // four appends with DISJOINT k ranges — each lands as one file
    (0L until 4L).foreach { b =>
      t.append(
        df((b * 100L until b * 100L + 50L).map(k =>
          (k, if (k % 7 == 0) null else s"v$k", k * 10L)): _*)
          .coalesce(1),
        statsCols = Seq("k", "v"))
    }
    val full = t.read()
    val allPaths = t.scanPathsAt(t.currentVersion, lit(true))
    assert(allPaths.size === 4, s"expected 4 stats-tracked files: $allPaths")

    def check(pred: org.apache.spark.sql.Column, expectScanned: Int): Unit = {
      val pruned = t.readWhere(pred)
      assert(sortedRows(pruned) === sortedRows(full.filter(pred)),
        s"pruned read diverged for $pred")
      val scanned = t.scanPathsAt(t.currentVersion, pred).size
      assert(scanned === expectScanned,
        s"predicate $pred scanned $scanned files, expected $expectScanned")
    }

    check(col("k") === 125L, 1)                       // eq hits one range
    check(col("k") === 60L, 0)                        // eq in a gap: zero files
    check(col("k") < 50L, 1)                          // range prefix
    check(col("k") >= 300L, 1)                        // range suffix
    check(col("k") >= 120L && col("k") < 220L, 2)     // and across two files
    check(col("k") === 10L || col("k") === 310L, 2)   // or of two point hits
    check(col("k").isin(5L, 205L), 2)                 // in-list
    check(lit(130L) <= col("k"), 3)                   // flipped operand order
    check(col("v").startsWith("v1"), 2)               // string prefix: v1xx in files 1,3
    check(col("v").isNull, 4)                         // nulls everywhere (k%7)
    // unsupported node (arithmetic on the column): conservative, scans all
    check(col("k") % 2 === 0, 4)
    // filter on a column WITHOUT stats in one commit is still correct
    check(col("ts") > 3000L, 4)
  }

  test("compact re-collects the covered stats: pruning and replaceWhere survive it") {
    val t = fresh()
    t.ensureExists(schema)
    (0L until 4L).foreach { b =>
      t.append(df((b * 100L until b * 100L + 50L).map(k =>
          (k, s"v$k", k * 10L)): _*).coalesce(1),
        statsCols = Seq("k"), bloomCols = Seq("v"))
    }
    t.checkpoint() // the covered columns now come from the checkpoint
    val v = t.compact(targetRowsPerFile = 1000)
    val (files, stats, uncovered) = t.fileStatsSplitAt(v).get
    assert(uncovered.isEmpty && files.nonEmpty)
    files.foreach { f =>
      assert(stats(f).cols.keySet === Set("k"))
      assert(stats(f).blooms.keySet === Set("v"))
    }
    assert(t.scanPathsAt(v, col("k") > 10000L).isEmpty)
    assert(t.scanPathsAt(v, col("v") === "absent").isEmpty)
    // a whole-table compaction no longer makes replaceWhere refuse
    t.replaceWhere(df((7L, "x", 70L)), col("k") < 1000L, statsCols = Seq("k"))
    assert(sortedRows(t.read()) === Seq("[7,x,70]"))
  }

  test("compactClustered: range-disjoint files make skipping bite after the fact") {
    val t = fresh()
    t.ensureExists(schema)
    // interleaved appends with NO stats — every key range in every file
    (0L until 6L).foreach { b =>
      t.append(df((0L until 120L).filter(_ % 6 == b.toInt).map(k =>
        (k, s"v$k", k)): _*).coalesce(1))
    }
    val before = sortedRows(t.read())
    // without stats nothing can be pruned
    assert(t.scanPathsAt(t.currentVersion, col("k") < 10L).size === 6)

    val cv = t.compactClustered(Seq("k"), numFiles = 6)
    assert(sortedRows(t.read()) === before, "clustering changed the data")
    // ranges are now disjoint: a 1/6-selectivity predicate reads 1 file
    val scanned = t.scanPathsAt(cv, col("k") < 20L)
    assert(scanned.size === 1, s"expected 1 of 6 clustered files: $scanned")
    assert(sortedRows(t.readWhere(col("k") < 20L)) ===
      sortedRows(t.read().filter(col("k") < 20L)))
    // checkpoint carries stats forward — pruning still works after it
    val ck = t.checkpoint()
    assert(t.scanPathsAt(ck, col("k") < 20L).size === 1)
  }

  test("compactZOrdered: BOTH cluster dimensions prune; lexicographic only the first") {
    // 32×32 grid, one row per cell, under two layouts. Files are 64
    // cells each; z-order makes every file an (aligned) 8×8 spatial
    // block, so a quarter-range predicate on EITHER axis keeps ~4 of
    // 16 files. The lexicographic layout clusters only x: every file
    // spans the full y range, so a y predicate can prune nothing.
    val grid = StructType(Seq(
      StructField("x", LongType, nullable = false),
      StructField("y", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    val rows = (for (x <- 0L until 32L; y <- 0L until 32L)
      yield Row(x, y)).asJava
    def freshGrid(): TxLogTable = {
      val t = new TxLogTable(spark,
        Files.createTempDirectory("txzorder").toString)
      t.ensureExists(grid)
      t.append(spark.createDataFrame(rows, grid).coalesce(1))
      t
    }

    val z = freshGrid()
    val zv = z.compactZOrdered(Seq("x", "y"), numFiles = 16, bits = 5)
    val lex = freshGrid()
    val lv = lex.compactClustered(Seq("x", "y"), numFiles = 16)

    def scanned(t: TxLogTable, v: Long, p: org.apache.spark.sql.Column) =
      t.scanPathsAt(v, p).size

    // x predicate: both layouts prune (z: spatial blocks, lex: x-sorted)
    assert(scanned(z, zv, col("x") < 8L) <= 6)
    assert(scanned(lex, lv, col("x") < 8L) <= 6)
    // y predicate: ONLY z-order can prune — the reason it exists
    assert(scanned(z, zv, col("y") < 8L) <= 6)
    assert(scanned(lex, lv, col("y") < 8L) === 16)
    // box predicate compounds per-dimension pruning
    assert(scanned(z, zv, col("x") < 8L && col("y") < 8L) <= 2)
    // correctness unchanged under both layouts
    val p = col("x") >= 5L && col("y") < 9L
    assert(sortedRows(z.readWhere(p)) === sortedRows(lex.readWhere(p)))
    assert(z.readWhere(p).count() === 27L * 9L)
  }

  test("timestamp-typed stats prune time-range queries") {
    val tsSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("at", TimestampType, nullable = false)))
    import scala.jdk.CollectionConverters._
    def batch(day: Int) = spark.createDataFrame(
      (0 until 10).map(i => Row(day * 10L + i,
        java.sql.Timestamp.valueOf(f"2024-03-$day%02d 0$i:00:00"))).asJava,
      tsSchema).coalesce(1)
    val t = fresh()
    t.ensureExists(tsSchema)
    (1 to 4).foreach(d => t.append(batch(d), statsCols = Seq("at")))
    val cut = java.sql.Timestamp.valueOf("2024-03-03 00:00:00")
    val pred = col("at") >= lit(cut)
    assert(t.scanPathsAt(t.currentVersion, pred).size === 2)
    assert(t.readWhere(pred).count() === 20L)
  }

  test("change feed: per-commit post-images, maintenance commits silent") {
    val t = fresh()
    t.ensureExists(schema)
    val v1 = t.append(df((1L, "a", 10L), (2L, "b", 10L)))
    val v2 = t.insertIgnore(df((2L, "DUP", 99L), (3L, "c", 10L)), Seq("k"))
    val v3 = t.merge(df((2L, "B", 20L), (4L, "d", 20L)),
      Seq("k"), Seq(col("ts").desc))
    val v4 = t.compact(targetRowsPerFile = 1000)

    def feed(lo: Long, hi: Long): Map[(Long, Long), (String, Long)] =
      t.changeFeed(lo, hi).collect().map(r =>
        (r.getLong(0), r.getAs[Long]("_commit_version")) ->
          (r.getString(1), r.getLong(2))).toMap

    // v1 append: both rows; v2 insert-ignore: ONLY the novel row
    assert(feed(0L, v2) === Map(
      (1L, v1) -> ("a", 10L), (2L, v1) -> ("b", 10L), (3L, v2) -> ("c", 10L)))
    // v3 merge: post-images of touched keys only (2 updated, 4 inserted)
    assert(feed(v2, v3) === Map(
      (2L, v3) -> ("B", 20L), (4L, v3) -> ("d", 20L)))
    // v4 compaction: no logical change
    assert(t.changeFeed(v3, v4).count() === 0L)
    // full-history vacuum keeps every change dir
    assert(t.vacuum(retainHistory = true) === Nil)
    assert(feed(v2, v3).size === 2)
  }

  test("schema evolution: append may add columns; type change is an error") {
    val t = fresh()
    t.ensureExists(schema)
    val v1 = t.append(df((1L, "a", 10L)))
    val wide = StructType(schema.fields :+
      StructField("extra", StringType, nullable = true))
    import scala.jdk.CollectionConverters._
    val v2 = t.append(spark.createDataFrame(
      Seq(Row(2L, "b", 20L, "X")).asJava, wide))
    // new column visible, old rows read it as null
    val rows = t.read().orderBy("k").collect()
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v", "ts", "extra"))
    assert(rows.map(r => (r.getLong(0), r.getAs[String]("extra"))).toSeq ===
      Seq((1L, null), (2L, "X")))
    // time travel preserves the OLD schema
    assert(t.readAt(v1).schema.fieldNames.toSeq === Seq("k", "v", "ts"))
    // a batch omitting a column keeps it (nulls), does not drop it
    t.append(df((3L, "c", 30L)))
    assert(t.read().schema.fieldNames.toSeq === Seq("k", "v", "ts", "extra"))
    assert(t.read().filter(col("k") === 2L).select("extra").collect()
      .head.getString(0) === "X")
    // changing an existing column's type must fail fast
    val bad = StructType(Seq(
      StructField("k", StringType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("ts", LongType, nullable = false)))
    val err = intercept[IllegalArgumentException] {
      t.append(spark.createDataFrame(
        Seq(Row("oops", "x", 1L)).asJava, bad))
    }
    assert(err.getMessage.contains("schema evolution"))
    assert(v2 === v1 + 1)
  }

  test("supplementary-plane strings: pruning order matches Spark's binary min/max") {
    // U+1D538 (𝔸, surrogate pair D835 DD38) sorts ABOVE U+FFFD in
    // code-point order but BELOW it in Java UTF-16 order — the classic
    // divergence. If pruning compared with String.compareTo it would
    // wrongly skip the file whose max is the supplementary-plane value.
    val t = fresh()
    t.ensureExists(schema)
    val mathA = new String(Character.toChars(0x1D538))
    val fullA = "\uFF21"
    val bound = "\uFFFD" // between the two in code points
    t.append(df((1L, mathA, 1L)).coalesce(1), statsCols = Seq("v"))
    t.append(df((2L, fullA, 1L)).coalesce(1), statsCols = Seq("v"))
    val pred = col("v") > lit(bound)
    assert(t.readWhere(pred).count() === 1L)
    assert(t.readWhere(col("v") > lit("!")).count() === 2L)
  }

  test("bloom skipping: point lookups prune files min/max ranges cannot") {
    val t = fresh()
    t.ensureExists(schema)
    // two appends with FULLY OVERLAPPING k ranges (evens vs odds over
    // the same span) — range stats keep both files for every point
    // lookup, so any pruning here is the bloom's
    t.append(df((0L until 100L by 2).map(k => (k, s"v$k", k)): _*)
      .coalesce(1), statsCols = Seq("k"), bloomCols = Seq("k", "v"))
    t.append(df((1L until 100L by 2).map(k => (k, s"v$k", k)): _*)
      .coalesce(1), statsCols = Seq("k"), bloomCols = Seq("k", "v"))
    val full = t.read()
    // correctness + no-false-negative: every present key is found
    Seq(0L, 1L, 42L, 97L).foreach { k =>
      val pred = col("k") === lit(k)
      assert(sortedRows(t.readWhere(pred)) ===
        sortedRows(full.filter(pred)), s"bloom read diverged for k=$k")
      assert(t.scanPathsAt(t.currentVersion, pred).nonEmpty)
    }
    // effectiveness: a present key lives in exactly one file; ranges
    // alone would scan 2 (fpp 1 % makes a stray extra file ~never
    // at this size with the fixed xxhash64 seed — deterministic here)
    assert(t.scanPathsAt(t.currentVersion, col("k") === 42L).size === 1)
    assert(t.scanPathsAt(t.currentVersion, col("k") === 43L).size === 1)
    // string bloom prunes too (no range stats were collected for v)
    assert(t.scanPathsAt(t.currentVersion, col("v") === "v42").size === 1)
    // absent key inside the range: ranges keep both, blooms drop both
    assert(t.scanPathsAt(t.currentVersion, col("k") === 1000L).isEmpty)
    assert(t.readWhere(col("k") === lit(1000L)).count() === 0L)
    // IN fans through the bloom: hits in both files scan both
    assert(t.scanPathsAt(t.currentVersion,
      col("k").isin(42L, 43L)).size === 2)
  }

  test("bloom skipping: unsupported types and bloom-less manifests stay conservative") {
    val t = fresh()
    t.ensureExists(schema)
    // first commit WITHOUT blooms, second WITH — mixed history must
    // keep the bloom-less file for any point lookup it can't disprove
    t.append(df((0L until 10L).map(k => (k, s"a$k", k)): _*)
      .coalesce(1), statsCols = Seq("k"))
    t.append(df((100L until 110L).map(k => (k, s"b$k", k)): _*)
      .coalesce(1), statsCols = Seq("k"), bloomCols = Seq("k"))
    // k=5: first file kept by range, second pruned by range+bloom
    assert(t.scanPathsAt(t.currentVersion, col("k") === 5L).size === 1)
    // range-only predicates ignore blooms entirely
    assert(t.scanPathsAt(t.currentVersion, col("k") >= 0L).size === 2)
    assert(t.readWhere(col("k") === 5L).count() === 1L)
  }
}
