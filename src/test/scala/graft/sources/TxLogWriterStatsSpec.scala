package graft.sources

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.DataSkipping.{ColRange, FileStats}

/** Pins the per-file stats the txlog writers fold while they write
  * BIT-EQUAL to the grouped re-scan aggregate they replaced
  * ([[TxLogWriterStatsSpec.collectStats]], kept here as the test twin):
  * row counts, min/max encodings, null counts, Bloom bytes and theta
  * bytes, over randomized multi-file writes with nulls, all-null
  * columns, NaN and ±0.0, decimals, dates, timestamps, non-ASCII text,
  * column mapping and empty input.
  */
class TxLogWriterStatsSpec extends SparkSpec {
  import TxLogWriterStatsSpec._

  private def table(): TxLogTable = {
    val t = new TxLogTable(spark,
      Files.createTempDirectory("txlog_wstats").toString)
    t.ensureExists(schema)
    t
  }

  private def assertTwin(t: TxLogTable, df: DataFrame,
      statsCols: Seq[String], bloomCols: Seq[String],
      physical: String => String = identity): Map[String, FileStats] = {
    val st = t.stage(df, statsCols = statsCols, bloomCols = bloomCols)
    val physSchema = StructType(df.schema.fields.map(f =>
      f.copy(name = physical(f.name))))
    val twin = collectStats(spark, t.stagedDirPath(st.dir), st.dir,
      physSchema, statsCols.map(physical), bloomCols.map(physical))
    val got = st.stats.getOrElse(Map.empty)
    assert(got.keySet == twin.keySet)
    twin.foreach { case (f, exp) =>
      assert(got(f).rows == exp.rows, s"rows of $f")
      assert(got(f).cols == exp.cols, s"ranges of $f")
      assert(got(f).blooms == exp.blooms, s"Bloom bytes of $f")
      assert(got(f).thetas == exp.thetas, s"theta bytes of $f")
    }
    got
  }

  test("writer stats equal the re-scan aggregate on randomized " +
      "multi-file writes") {
    val t = table()
    (1 to 6).foreach { seed =>
      val df = frame(spark, new Random(seed), 40 + seed * 30)
        .repartition(1 + seed % 4)
      assertTwin(t, df, statsCols, bloomCols)
    }
  }

  test("edge values: NaN, ±0.0 in both orders, all-null columns, " +
      "non-ASCII extremes") {
    val t = table()
    val rows = Seq(
      Row(1L, 1, null, -0.0, 0.0f, null, null, null, "😀", null, null, null),
      Row(2L, 2, null, 0.0, -0.0f, null, null, null, "ﬀ", null, null, null),
      Row(3L, null, null, Double.NaN, Float.NaN, null, null, null, "z", null, null, null),
      Row(null, 4, null, Double.NegativeInfinity, 1.0f, null, null, null, "é", null, null, null))
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    val fs = assertTwin(t, one, statsCols, bloomCols).values.head
    // min and max are None and the null count is the row count; the
    // Bloom filter is present, because xxhash64 of a null is its seed
    assert(fs.cols("allnull") == ColRange(None, None, 4))
    assert(fs.blooms.contains("allnull"))
    // the same values in the reverse order flip which zero is kept
    val rev = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.reverse, 1), schema)
    assertTwin(t, rev, statsCols, bloomCols)
  }

  test("empty input stages no file and no stats") {
    val t = table()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    val st = t.stage(empty, statsCols = statsCols, bloomCols = bloomCols)
    assert(st.stats.isEmpty)
    assert(collectStats(spark, t.stagedDirPath(st.dir), st.dir, schema,
      statsCols, bloomCols).isEmpty)
  }

  test("column mapping: stats keyed and collected by physical names") {
    val t = table()
    t.append(frame(spark, new Random(7), 20))
    t.renameColumn("v", "v_renamed")
    t.renameColumn("s", "s_renamed")
    val phys = t.colMapAt(t.currentVersion)
    val renamed = frame(spark, new Random(8), 90).repartition(3)
      .withColumnRenamed("v", "v_renamed").withColumnRenamed("s", "s_renamed")
    val logical = (c: String) => Map("v" -> "v_renamed", "s" -> "s_renamed")
      .getOrElse(c, c)
    assertTwin(t, renamed, statsCols.map(logical), bloomCols.map(logical),
      physical = c => phys.getOrElse(c, c))
  }
}

object TxLogWriterStatsSpec {
  val schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType),
    StructField("allnull", LongType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("dec", DecimalType(12, 3)),
    StructField("day", DateType), StructField("ts", TimestampType),
    StructField("s", StringType), StructField("b", BooleanType),
    StructField("sh", ShortType), StructField("v", LongType)))

  val statsCols: Seq[String] = schema.fieldNames.toSeq
  val bloomCols: Seq[String] = Seq("k", "i", "allnull", "s", "sh")

  private val texts = Seq("a", "Z", "é", "ß", "日本", "😀",
    "�", "ﬀ", "", "zz")
  private val doubles = Seq(0.0, -0.0, Double.NaN, 1.5, -2.25,
    Double.MaxValue, Double.MinPositiveValue, Double.NegativeInfinity)

  def frame(spark: SparkSession, r: Random, n: Int): DataFrame = {
    def maybe[A](a: => A): Any = if (r.nextInt(5) == 0) null else a
    val rows = (0 until n).map { _ =>
      Row(maybe(r.nextLong() % 1000000L), maybe(r.nextInt(1000) - 500), null,
        maybe(doubles(r.nextInt(doubles.size))),
        maybe(doubles(r.nextInt(doubles.size)).toFloat),
        maybe(new java.math.BigDecimal(BigInt(r.nextInt(2000000) - 1000000)
          .bigInteger, 3)),
        // 1500..2500: across the Julian/Gregorian rebase boundary
        maybe(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(
          r.nextInt(365 * 1000) - 365 * 470L))),
        maybe(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          r.nextLong() % (470L * 365 * 86400), r.nextInt(1000000) * 1000L))),
        maybe(texts(r.nextInt(texts.size)) + r.nextInt(3)),
        maybe(r.nextBoolean()), maybe((r.nextInt(200) - 100).toShort),
        maybe(r.nextLong()))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** The re-scan stats aggregate the writers replaced, kept verbatim
    * as the test twin: one column-pruned scan of the staged dir,
    * grouped by file.
    */
  def collectStats(spark: SparkSession, dirPath: String, dirName: String,
      schema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 100000L,
      bloomFpp: Double = 0.01): Map[String, FileStats] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.types.{LongType => SLong}
    val valid = statsCols.filter(c =>
      schema.fieldNames.contains(c) && DataSkipping.supported(schema(c).dataType))
    val validBloom = bloomCols.filter(c => schema.fieldNames.contains(c) &&
      DataSkipping.bloomSupported(schema(c).dataType))
    if (valid.isEmpty && validBloom.isEmpty) return Map.empty
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(bloomExpectedItems, bloomFpp)
    val aggs = Seq(count(lit(1L)).as("__rows")) ++
      valid.flatMap(c => Seq(
        min(col(c)).as(s"__min__$c"),
        max(col(c)).as(s"__max__$c"),
        count(col(c)).as(s"__nn__$c"))) ++
      validBloom.map { c =>
        val canon = schema(c).dataType match {
          case _: org.apache.spark.sql.types.StringType => col(c)
          case _ => col(c).cast(SLong)
        }
        bridge.column(new BloomFilterAggregate(
          bridge.expression(xxhash64(canon)),
          Literal(bloomExpectedItems), Literal(numBits))
          .toAggregateExpression()).as(s"__bloom__$c")
      } ++
      valid.map { c =>
        bridge.column(graft.plans.ThetaSketchAgg(
          bridge.expression(col(c).cast("string")), lgK = 9)
          .toAggregateExpression()).as(s"__theta__$c")
      }
    val rows = spark.read.schema(schema).parquet(dirPath)
      .select(((valid ++ validBloom).distinct.map(col) :+
        input_file_name().as("__file")): _*)
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    rows.map { r =>
      val fname = new org.apache.hadoop.fs.Path(r.getString(0)).getName
      val total = r.getLong(1)
      val cols = valid.zipWithIndex.map { case (c, i) =>
        val base = 2 + i * 3
        c -> ColRange(
          DataSkipping.encodeExternal(r.get(base)),
          DataSkipping.encodeExternal(r.get(base + 1)),
          total - r.getLong(base + 2))
      }.toMap
      val bloomBase = 2 + valid.length * 3
      val blooms = validBloom.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(bloomBase + i)).map(b => c ->
          java.util.Base64.getEncoder.encodeToString(
            b.asInstanceOf[Array[Byte]]))
      }.toMap
      val thetaBase = bloomBase + validBloom.length
      val thetas = valid.zipWithIndex.flatMap { case (c, i) =>
        Option(r.get(thetaBase + i)).map(b => c ->
          java.util.Base64.getEncoder.encodeToString(
            b.asInstanceOf[Array[Byte]]))
      }.toMap
      s"$dirName/$fname" -> FileStats(total, cols, blooms, thetas)
    }.toMap
  }
}
