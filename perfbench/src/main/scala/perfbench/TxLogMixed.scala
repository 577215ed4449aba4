package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.TxLogTable

/** `txlog_mixed`: commits beside reads on one `TxLogTable`. A cycle
  * appends the keyed table in date-range batches with stats and Bloom
  * columns, then runs a fixed sequence of commits (merge, conditional
  * merge with a delete arm, update, delete, vectored delete, append,
  * checkpoint, compact) interleaved with stats-pruned range and point
  * reads, time travel and the change feed. Every read's answer and the
  * final table are checked against a plain-Scala replay of the same
  * batches and conditions.
  */
object TxLogMixed extends Workload {
  val name = "txlog_mixed"

  val Rows = 20000
  val Batches = 2
  val MergeRows = 2000
  val AppendRows = 2000
  val Days = 100

  final case class R(k: Long, ver: Long, v: Long, grp: String, day: Int, tag: String) {
    def csv: String = s"$k,$ver,$v,$grp,$day,$tag"
  }

  val schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("ver", LongType),
    StructField("v", LongType), StructField("grp", StringType),
    StructField("day", IntegerType), StructField("tag", StringType)))

  private val statsCols = Seq("k", "day")
  private val bloomCols = Seq("k")

  /** Seeded read and write parameters, shared by the ops and the replay. */
  final case class Params(rangeLo: Int, rangeHi: Int, points: Seq[Long],
      updGrp: String, updDay: Int, delLo: Int, delMod: Int, delRem: Int)

  private def params(in: Path): Params = {
    val p = new java.util.Properties
    val r = Files.newBufferedReader(in.resolve("params.properties"))
    try p.load(r) finally r.close()
    Params(p.getProperty("rangeLo").toInt, p.getProperty("rangeHi").toInt,
      p.getProperty("points").split(",").map(_.toLong).toSeq,
      p.getProperty("updGrp"), p.getProperty("updDay").toInt,
      p.getProperty("delLo").toInt, p.getProperty("delMod").toInt,
      p.getProperty("delRem").toInt)
  }

  val nominalCycleS = 6.0

  def generate(dir: Path, seed: Long, scale: Double): Unit = {
    val rnd = new SplittableRandom(seed)
    Files.createDirectories(dir)
    val n = math.max(Batches * 10, (Rows * scale).toInt)
    val nm = math.max(30, (MergeRows * scale).toInt)
    val na = math.max(10, (AppendRows * scale).toInt)
    val pool = Array.tabulate(4 * n + 2 * nm + na)(_.toLong * 7 + 3)
    (pool.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1); val t = pool(i); pool(i) = pool(j); pool(j) = t
    }
    var next = 0
    def fresh(): Long = { next += 1; pool(next - 1) }
    def row(k: Long, ver: Long, day: Int, tag: String) =
      R(k, ver, rnd.nextInt(1000000).toLong, s"g${rnd.nextInt(16)}", day, tag)
    def write(name: String, rows: Seq[R]): Unit =
      Files.write(dir.resolve(name), rows.map(_.csv).mkString("", "\n", "\n").getBytes(UTF_8))

    val per = n / Batches
    val initial = (0 until Batches).map { b =>
      val rows = (0 until per).map(_ => row(fresh(), 0, b * (Days / Batches) +
        rnd.nextInt(Days / Batches), "i"))
      write(s"init-$b.csv", rows)
      rows
    }.flatten
    val keys = initial.map(_.k).toArray
    def existing(m: Int): Seq[Long] = {
      val s = mutable.LinkedHashSet[Long]()
      while (s.size < m) s += keys(rnd.nextInt(keys.length))
      s.toSeq
    }
    write("merge.csv", (existing(nm / 2) ++ Seq.fill(nm - nm / 2)(fresh()))
      .map(k => row(k, 1, rnd.nextInt(Days), "m")))
    val third = nm / 3
    val ex = existing(2 * third)
    write("mcond.csv",
      ex.take(third).map(k => row(k, 2, rnd.nextInt(Days), "del")) ++
        ex.drop(third).map(k => row(k, 2, rnd.nextInt(Days), "upd")) ++
        Seq.fill(nm - 2 * third)(row(fresh(), 2, rnd.nextInt(Days), "ins")))
    write("append.csv", Seq.fill(na)(row(fresh(), 3, Days + rnd.nextInt(25), "a")))
    val lo = rnd.nextInt(Days - 12)
    val props = Seq(
      "rangeLo" -> lo, "rangeHi" -> (lo + 10),
      "points" -> (existing(6) ++ Seq(pool.last)).mkString(","),
      "updGrp" -> s"g${rnd.nextInt(16)}", "updDay" -> (20 + rnd.nextInt(60)),
      "delLo" -> rnd.nextInt(Days - 3), "delMod" -> 50, "delRem" -> rnd.nextInt(50))
    Files.write(dir.resolve("params.properties"),
      props.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  private def batch(spark: SparkSession, f: Path): DataFrame =
    spark.read.schema(schema).csv(f.toString)

  private def rowsOf(f: Path): Int =
    new String(Files.readAllBytes(f), UTF_8).count(_ == '\n')

  /** Read answers of each cycle, keyed by the cycle's output dir. */
  private val answers = mutable.Map[Path, mutable.ArrayBuffer[String]]()

  private def agg(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), coalesce(sum("v"), lit(0L)),
      coalesce(sum("k"), lit(0L))).collect().head
    s"${r.getLong(0)}|${r.getLong(1)}|${r.getLong(2)}"
  }

  private def points(df: DataFrame): String =
    df.select("k", "v").collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}")
      .sorted.mkString(",")

  /** The cycle's ops; `version` pins the table version each commit makes. */
  def cycle(in: Path, out: Path): Seq[Op] = {
    val p = params(in)
    val root = out.resolve("table").toString
    val ans = answers.getOrElseUpdate(out, mutable.ArrayBuffer[String]())
    ans.clear()
    def table(ctx: Ctx) = new TxLogTable(ctx.spark, root)
    def commit(kind: String, f: Option[Path], version: Long)(
        body: (Ctx, TxLogTable) => Long): Op =
      Op(s"commit:$kind", f.map(rowsOf).getOrElse(0).toLong,
        f.map(Files.size).getOrElse(0L), ctx => {
          val v = ctx.call(s"sources.txlog.$kind")(body(ctx, table(ctx)))
          require(v == version, s"$kind committed version $v, expected $version")
        })
    def read(kind: String)(body: (Ctx, TxLogTable) => (DataFrame, String)): Op =
      Op(s"read:$kind", 0, 0, ctx => {
        val t = table(ctx)
        val (df, a) = ctx.call(s"sources.txlog.$kind")(body(ctx, t))
        ans += a
        if (ctx.tracer.enabled && kind == "read_where")
          ctx.tracer.gauge("sources.txlog.files_scanned_ratio",
            df.inputFiles.length.toDouble /
              math.max(1, t.liveDataPaths(t.currentVersion).size))
      })
    val range = col("day") >= p.rangeLo && col("day") < p.rangeHi
    val pts = col("k").isin(p.points: _*)
    def rangeRead = read("read_where") { (_, t) =>
      val df = t.readWhere(range); (df, agg(df)) }
    def pointRead = read("read_where") { (_, t) =>
      val df = t.readWhere(pts); (df, points(df)) }

    (0 until Batches).map { b =>
      val f = in.resolve(s"init-$b.csv")
      commit("append", Some(f), b + 1L) { (ctx, t) =>
        if (b == 0) t.ensureExists(schema)
        t.append(batch(ctx.spark, f), statsCols = statsCols, bloomCols = bloomCols)
      }
    } ++ Seq(
      rangeRead,
      commit("merge", Some(in.resolve("merge.csv")), Batches + 1L) { (ctx, t) =>
        t.merge(batch(ctx.spark, in.resolve("merge.csv")), Seq("k"),
          Seq(col("ver").desc), statsCols = statsCols)
      },
      pointRead,
      commit("merge_conditional", Some(in.resolve("mcond.csv")), Batches + 2L) { (ctx, t) =>
        t.mergeConditional(batch(ctx.spark, in.resolve("mcond.csv")), Seq("k"),
          whenMatched = Seq(TxLogTable.MatchedDelete(Some("s.tag = 'del'")),
            TxLogTable.MatchedUpdate(None)),
          statsCols = statsCols)
      },
      read("change_feed") { (_, t) =>
        val df = t.changeFeed(0, Batches.toLong); (df, agg(df)) },
      commit("update", None, Batches + 3L) { (_, t) =>
        t.update(col("grp") === p.updGrp && col("day") < p.updDay,
          Map("v" -> (col("v") + 1)), statsCols = statsCols)
      },
      read("read_at") { (_, t) =>
        val df = t.readAt(Batches.toLong).filter(range); (df, agg(df)) },
      commit("delete", None, Batches + 4L) { (_, t) =>
        t.delete(col("day") >= p.delLo && col("day") < p.delLo + 3,
          statsCols = statsCols)
      },
      commit("delete_vectored", None, Batches + 5L) { (_, t) =>
        t.deleteVectored(col("k") % p.delMod === p.delRem)
      },
      rangeRead,
      commit("append", Some(in.resolve("append.csv")), Batches + 6L) { (ctx, t) =>
        t.append(batch(ctx.spark, in.resolve("append.csv")),
          statsCols = statsCols, bloomCols = bloomCols)
      },
      commit("checkpoint", None, Batches + 7L)((_, t) => t.checkpoint()),
      pointRead,
      commit("compact", None, Batches + 8L)((_, t) => t.compact(Rows / 2)),
      rangeRead)
  }

  private def load(f: Path): Seq[R] =
    new String(Files.readAllBytes(f), UTF_8).split('\n').toSeq.filter(_.nonEmpty)
      .map { l =>
        val a = l.split(',')
        R(a(0).toLong, a(1).toLong, a(2).toLong, a(3), a(4).toInt, a(5))
      }

  /** Plain-Scala replay: the read answers in op order and the final rows. */
  def replay(in: Path): (Seq[String], Seq[String]) = {
    val p = params(in)
    var t = Map[Long, R]()
    val versions = mutable.ArrayBuffer[Map[Long, R]](t)
    val ans = mutable.ArrayBuffer[String]()
    def commit(next: Map[Long, R]): Unit = { t = next; versions += t }
    def aggOf(rows: Iterable[R]) =
      s"${rows.size}|${rows.map(_.v).sum}|${rows.map(_.k).sum}"
    def inRange(r: R) = r.day >= p.rangeLo && r.day < p.rangeHi
    def rangeRead(): Unit = ans += aggOf(t.values.filter(inRange))
    def pointRead(): Unit = ans += p.points.flatMap(t.get)
      .map(r => s"${r.k}:${r.v}").sorted.mkString(",")

    (0 until Batches).foreach(b =>
      commit(t ++ load(in.resolve(s"init-$b.csv")).map(r => r.k -> r)))
    rangeRead()
    commit(t ++ load(in.resolve("merge.csv")).map(r => r.k -> r))
    pointRead()
    var m = t
    load(in.resolve("mcond.csv")).foreach { s =>
      if (!t.contains(s.k)) m += s.k -> s
      else if (s.tag == "del") m -= s.k
      else m += s.k -> s
    }
    commit(m)
    ans += aggOf((0 until Batches).flatMap(b => load(in.resolve(s"init-$b.csv"))))
    commit(t.map { case (k, r) =>
      if (r.grp == p.updGrp && r.day < p.updDay) k -> r.copy(v = r.v + 1)
      else k -> r
    })
    ans += aggOf(versions(Batches).values.filter(inRange))
    commit(t.filter { case (_, r) => !(r.day >= p.delLo && r.day < p.delLo + 3) })
    commit(t.filter { case (k, _) => Math.floorMod(k, p.delMod.toLong) != p.delRem })
    rangeRead()
    commit(t ++ load(in.resolve("append.csv")).map(r => r.k -> r))
    commit(t)
    pointRead()
    commit(t)
    rangeRead()
    (ans.toSeq, t.values.map(_.csv).toSeq.sorted)
  }

  private val replayCache = mutable.Map[Path, (Seq[String], Seq[String])]()

  def check(spark: SparkSession, in: Path, out: Path): Seq[Check] = {
    val (expAns, expRows) = replayCache.getOrElseUpdate(in, replay(in))
    val gotAns = answers.getOrElse(out, Nil).toSeq
    val bad = expAns.indices.filter(i => gotAns.lift(i) != Some(expAns(i)))
    val rows = new TxLogTable(spark, out.resolve("table").toString).read()
      .collect().map(r => R(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getInt(4), r.getString(5)).csv).toSeq.sorted
    val missing = expRows.diff(rows)
    val extra = rows.diff(expRows)
    Seq(
      Check("txlog read answers equal replay", bad.isEmpty,
        s"${expAns.size} reads; mismatched ${bad.size}" + bad.headOption.map(i =>
          s" (read $i: expected ${expAns(i).take(80)}, got ${gotAns.lift(i).map(_.take(80))})")
          .getOrElse("")),
      Check("txlog final table equals replay", missing.isEmpty && extra.isEmpty,
        s"expected ${expRows.size} rows, got ${rows.size}; missing ${missing.size}" +
          s" (e.g. ${missing.headOption.getOrElse("-")}), extra ${extra.size}" +
          s" (e.g. ${extra.headOption.getOrElse("-")})"))
  }

  def corrupt(spark: SparkSession, in: Path, out: Path): Unit = {
    answers(out)(0) = answers(out)(0) + "0"
    new TxLogTable(spark, out.resolve("table").toString)
      .delete(col("grp") === "g0")
    ()
  }

  override def layerMetrics(tr: Tracer, in: Path, out: Path): Map[String, Double] = {
    val commits = tr.spans.filter(s => s.name.startsWith("sources.txlog.") &&
      !Set("read_where", "read_at", "change_feed")(s.name.stripPrefix("sources.txlog.")))
    val written = commits.map(s => tr.inclusive(s.id).output).sum.toDouble
    val inBytes = Files.list(in).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".csv")).map(Files.size).sum.toDouble
    Map(
      "sources.txlog.files_scanned_ratio" -> Workloads.medianOr0(
        tr.gauges.filter(_._1 == "sources.txlog.files_scanned_ratio").map(_._2).toSeq),
      "sources.txlog.write_amp" -> written / inBytes,
      "sources.txlog.log_bytes" -> Fs.size(out.resolve("table/_log")).toDouble)
  }
}
