package graft.sources

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.sources.TxLogTable.{MatchedDelete, MatchedUpdate, MergeClause}

/** Pins the change rows a DML commit ROUTES from its single write pass
  * equal, as multisets, to the derivations they replaced — kept here
  * as test twins: the key-presence classification of the touched
  * target against the staged result (`stageCdcTwin`, what merge and
  * conditional merge ran), and the two-job filter derivations of
  * delete and update. The staged data is pinned to the old data
  * derivations too. Randomized over clause mixes, the insert guard,
  * schema evolution, null keys (never in the feed), duplicate-key
  * groups the source never names, no-op pre/post pairs, targets with
  * deletion vectors, and column mapping.
  */
class TxLogRoutedCdcSpec extends SparkSpec {
  import TxLogRoutedCdcSpec._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("ver", LongType),
    StructField("v", LongType), StructField("grp", StringType),
    StructField("tag", StringType)))

  private def rows(r: Random, n: Int, keys: Int, ver0: Long,
      tag: => String): Seq[Row] =
    (0 until n).map { i =>
      val k: Any = if (r.nextInt(12) == 0) null else r.nextInt(keys).toLong
      Row(k, ver0 + i, r.nextInt(1000).toLong, s"g${r.nextInt(3)}", tag)
    }

  private def df(rs: Seq[Row], s: StructType = schema, parts: Int = 2) =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, parts), s)

  /** A table of several files (dup keys, null keys), optionally with
    * deletion vectors and a renamed value column.
    */
  private def seeded(r: Random, dv: Boolean, rename: Boolean): TxLogTable = {
    val t = new TxLogTable(spark,
      Files.createTempDirectory("txlog_routed").toString)
    t.ensureExists(schema)
    t.append(df(rows(r, 40, 30, 0L, "base"), parts = 3), statsCols = Seq("k"))
    t.append(df(rows(r, 40, 60, 100L, "base"), parts = 2), statsCols = Seq("k"))
    if (dv) t.deleteVectored(col("v") % 5 === 0)
    if (rename) t.renameColumn("v", "w")
    t
  }

  /** Old and new change rows and staged data of the commit at `v`. */
  private def check(t: TxLogTable, v: Long, expCdc: DataFrame,
      expData: DataFrame, keyed: Boolean = true): Unit = {
    val cols = t.schemaAt(v).fieldNames.toSeq
    val gotCdc = t.changes(v - 1, v)
    assert(bag(gotCdc, cols :+ "_change_type") ==
      bag(expCdc, cols :+ "_change_type"), s"change rows of v$v")
    assert(bag(newData(t, v), cols) == bag(expData, cols),
      s"staged data of v$v")
    // a keyed merge's feed never carries a null key
    if (keyed) assert(gotCdc.filter(col("k").isNull).isEmpty)
  }

  test("merge: routed change rows equal the key-presence derivation") {
    Seq((1, false, false), (2, true, false), (3, false, true),
        (4, true, true), (5, false, false)).foreach {
      case (seed, dv, rename) =>
        val r = new Random(seed)
        val t = seeded(r, dv, rename)
        val vcol = if (rename) "w" else "v"
        val src = df(rows(r, 25, 90, 1000L, "m"), parts = 2)
          .withColumnRenamed("v", vcol)
        val prec = Seq(col("ver").desc)
        val v = t.merge(src, Seq("k"), prec, statsCols = Seq("k"))
        val target = touchedTarget(t, v)
        check(t, v,
          stageCdcTwin(target, newData(t, v), src.select("k").distinct(),
            Seq("k")),
          graft.operators.Upsert.mergeByKey(target, src, Seq("k"), prec))
    }
  }

  test("merge on a two-column key: a null part keeps the key out") {
    val r = new Random(11)
    val t = seeded(r, dv = false, rename = false)
    val src = df(rows(r, 30, 90, 1000L, "m").map(x =>
      if (x.getLong(1) % 4 == 0) Row(x.get(0), x.get(1), x.get(2), null,
        x.get(4)) else x))
    val key = Seq("k", "grp")
    val prec = Seq(col("ver").desc)
    val v = t.merge(src, key, prec)
    val target = touchedTarget(t, v)
    check(t, v,
      stageCdcTwin(target, newData(t, v),
        src.select(key.map(col): _*).distinct(), key),
      graft.operators.Upsert.mergeByKey(target, src, key, prec))
  }

  private val mixes: Seq[(Seq[MergeClause], Boolean, Option[String])] = Seq(
    (Seq(MatchedUpdate()), true, None),
    (Seq(MatchedDelete(Some("s.tag = 'del'")), MatchedUpdate()), true, None),
    // reads the target: a duplicate target key may split its verdicts
    (Seq(MatchedUpdate(Some("t.v < s.v")), MatchedDelete()), true, None),
    (Seq(MatchedDelete(Some("t.grp = 'g1'"))), true, Some("s.v > 500")),
    (Seq(MatchedUpdate(Some("s.tag = 'upd'"))), false, None),
    (Seq(MatchedDelete(Some("s.v > 300 AND t.grp <> 'g2'"))), true, None))

  test("mergeConditional: every clause mix and the insert guard") {
    mixes.zipWithIndex.foreach { case ((clauses, ins, guard), i) =>
      Seq(false, true).foreach { dv =>
        val r = new Random(100 + i * 2 + (if (dv) 1 else 0))
        val t = seeded(r, dv, rename = false)
        val src = uniqueSource(r, 20, "")
        val v = t.mergeConditional(src, Seq("k"), clauses,
          insertWhenNotMatched = ins, notMatchedCondition = guard)
        val target = touchedTarget(t, v)
        val data = mergeConditionalTwin(target, src, Seq("k"), clauses, ins,
          guard)
        check(t, v, stageCdcTwin(target, newData(t, v),
          src.select("k").distinct(), Seq("k")), data)
      }
    }
  }

  test("mergeConditional with schema evolution and column mapping") {
    val r = new Random(200)
    val t = seeded(r, dv = true, rename = true)
    val src = uniqueSource(r, 20, "").withColumnRenamed("v", "w")
      .withColumn("extra", col("w") * 2)
    val clauses = Seq(MatchedDelete(Some("s.tag = 'del'")), MatchedUpdate())
    val v = t.mergeConditional(src, Seq("k"), clauses,
      withSchemaEvolution = true)
    val target0 = touchedTarget(t, v)
    val target = target0.withColumn("extra", lit(null).cast(LongType))
    val data = mergeConditionalTwin(target, src, Seq("k"), clauses, true,
      None)
    check(t, v, stageCdcTwin(target, newData(t, v),
      src.select("k").distinct(), Seq("k")), data)
  }

  test("update and delete: routed rows equal the two-job derivation") {
    Seq((1, false, false), (2, true, false), (3, false, true),
        (4, true, true)).foreach { case (seed, dv, rename) =>
      val r = new Random(300 + seed)
      val t = seeded(r, dv, rename)
      val vcol = if (rename) "w" else "v"
      // a no-op assignment on some rows: pre = post pairs
      val cond = col("grp") === "g1" || col(vcol) > 800
      val set = Map(vcol -> when(col(vcol) > 800, col(vcol))
        .otherwise(col(vcol) + 1), "tag" -> lit("u"))
      val vu = t.update(cond, set)
      val tu = touchedTarget(t, vu)
      check(t, vu, updateTwin(tu, cond, set, tu.schema),
        applied(tu, cond, set, tu.schema), keyed = false)
      val dcond = col(vcol) < 200 || col("k").isNull
      val vd = t.delete(dcond)
      val td = touchedTarget(t, vd)
      check(t, vd,
        td.filter(coalesce(dcond, lit(false)))
          .withColumn("_change_type", lit("delete")),
        td.filter(!coalesce(dcond, lit(false))), keyed = false)
    }
  }

  /** Unique keys (at most one null), overlapping the target's. */
  private def uniqueSource(r: Random, n: Int, suffix: String): DataFrame = {
    val keys = r.shuffle((0L until 90L).toList).take(n)
    val rs = keys.zipWithIndex.map { case (k, i) =>
      Row(if (i == 0) null else k, 2000L + i, r.nextInt(1000).toLong,
        s"g${r.nextInt(3)}", Seq("del", "upd", "ins")(r.nextInt(3)) + suffix)
    }
    df(rs)
  }

  private def applied(df: DataFrame, condition: Column,
      set: Map[String, Column], s: StructType): DataFrame = {
    val cond = coalesce(condition, lit(false))
    df.select(s.fields.map { f =>
      set.get(f.name) match {
        case Some(e) => when(cond, e.cast(f.dataType))
          .otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** The two-job update derivation: pre-images of the matched rows,
    * then their post-images.
    */
  private def updateTwin(target: DataFrame, condition: Column,
      set: Map[String, Column], s: StructType): DataFrame = {
    val cond = coalesce(condition, lit(false))
    target.filter(cond).withColumn("_change_type", lit("update_preimage"))
      .unionByName(applied(target.filter(cond), condition, set, s)
        .withColumn("_change_type", lit("update_postimage")))
  }

  /** Rows of the files the commit at `v` rewrote (live at v-1, gone at
    * v), as v-1 read them (deletion vectors applied).
    */
  private def touchedTarget(t: TxLogTable, v: Long): DataFrame = {
    val before = files(t, v - 1)
    val gone = before.filterNot(files(t, v).toSet)
    if (gone.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], t.schemaAt(v - 1))
    else t.readPathsAt(v - 1, gone)
  }

  /** Rows of the files the commit at `v` added. */
  private def newData(t: TxLogTable, v: Long): DataFrame = {
    val added = files(t, v).filterNot(files(t, v - 1).toSet)
    if (added.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], t.schemaAt(v))
    else t.readPathsAt(v, added)
  }

  private def files(t: TxLogTable, v: Long): Seq[String] =
    t.expandToFiles(t.scanPathsAt(v, lit(true)))
}

object TxLogRoutedCdcSpec {
  def bag(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** The key-presence CDC derivation merge and conditional merge used
    * before their change rows were routed from the write pass (minus
    * its staging): restricted to the touched keys plus the target's
    * duplicate-key groups, old rows split delete / update_preimage and
    * new rows insert / update_postimage by the other side's key set.
    */
  def stageCdcTwin(target: DataFrame, newDf: DataFrame,
      touched: DataFrame, key: Seq[String]): DataFrame = {
    val dupKeys = target.groupBy(key.map(target.col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .select(key.map(col): _*)
    val keys = touched.unionByName(dupKeys).distinct()
    val oldT = target.join(keys, key, "left_semi")
    val newT = newDf.join(keys, key, "left_semi")
    val oldKeys = oldT.select(key.map(oldT.col): _*).distinct()
    val newKeys = newT.select(key.map(newT.col): _*).distinct()
    val mark = "__other_side"
    oldT
        .join(newKeys.withColumn(mark, lit(true)), key, "left")
        .withColumn("_change_type",
          when(col(mark).isNull, "delete").otherwise("update_preimage"))
        .drop(mark)
      .unionByName(newT
        .join(oldKeys.withColumn(mark, lit(true)), key, "left")
        .withColumn("_change_type",
          when(col(mark).isNull, "insert").otherwise("update_postimage"))
        .drop(mark))
  }

  /** The conditional merge's data derivation: full outer join, clause
    * action per row, DROP rows filtered out.
    */
  def mergeConditionalTwin(target: DataFrame, source: DataFrame,
      key: Seq[String], whenMatched: Seq[MergeClause],
      insertWhenNotMatched: Boolean,
      notMatchedCondition: Option[String]): DataFrame = {
    val tgtCols = target.columns.toSeq
    def srcHas(c: String): Boolean =
      source.columns.exists(_.equalsIgnoreCase(c))
    val t = target.withColumn("__t_present", lit(true)).alias("t")
    val s = source.withColumn("__s_present", lit(true)).alias("s")
    val keyCond = key.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val j = t.join(s, keyCond, "full_outer")
    def condOf(c: Option[String]): Column = c.map(expr).getOrElse(lit(true))
    val KEEP = 0; val USE_SRC = 1; val DROP = 2; val INS = 3
    val matchedAction = whenMatched.foldRight(lit(KEEP): Column) {
      case (MatchedUpdate(c), els) => when(condOf(c), USE_SRC).otherwise(els)
      case (MatchedDelete(c), els) => when(condOf(c), DROP).otherwise(els)
    }
    val insertAction =
      if (!insertWhenNotMatched) lit(DROP)
      else when(condOf(notMatchedCondition), INS).otherwise(DROP)
    val action =
      when(col("t.__t_present").isNotNull && col("s.__s_present").isNull,
        KEEP)
      .when(col("s.__s_present").isNotNull && col("t.__t_present").isNull,
        insertAction)
      .otherwise(matchedAction)
    j.withColumn("__action", action)
      .filter(col("__action") =!= DROP)
      .select(tgtCols.map { c =>
        val upd = if (srcHas(c)) col(s"s.$c") else col(s"t.$c")
        val ins = if (srcHas(c)) col(s"s.$c")
          else lit(null).cast(target.schema(c).dataType)
        when(col("__action") === USE_SRC, upd)
          .when(col("__action") === INS, ins)
          .otherwise(col(s"t.$c")).as(c)
      }: _*)
  }
}
