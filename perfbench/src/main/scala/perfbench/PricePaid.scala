package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** `pricepaid_ingest`: the paper's own pipeline. One cycle runs the
  * `initial_price_paid_data` DAG on a bulk CSV into an empty table, then
  * `monthly_price_paid_data` on each monthly delta in order. Inputs
  * follow the reference shape: headerless quoted CSV, ~3% dirty rows
  * (bad date, non-numeric price, missing postcode), ~1/3 non-Oxford
  * postcodes, a BOM on each monthly file, and ~10% of each delta
  * replaying transaction ids that an earlier file already carried.
  */
object PricePaid extends Workload {
  val name = "pricepaid_ingest"

  val BulkRows = 20000
  val Months = 4
  val MonthRows = 3000

  private val streets = Vector("COWLEY ROAD", "IFFLEY ROAD", "BANBURY ROAD",
    "WOODSTOCK ROAD", "ABINGDON ROAD", "HIGH STREET", "LONDON ROAD",
    "BOTLEY ROAD", "MARSTON ROAD", "HEADINGTON ROAD")
  private val towns = Vector("OXFORD", "ABINGDON", "WITNEY", "BICESTER")
  private val otherAreas = Vector("SW", "RG", "MK", "CB", "BS", "GL")

  def files(in: Path): Seq[Path] =
    in.resolve("bulk.csv") +: (1 to Months).map(m => in.resolve(f"monthly-$m%02d.csv"))

  val nominalCycleS = 4.0

  def generate(dir: Path, seed: Long, scale: Double): Unit = {
    val rnd = new SplittableRandom(seed)
    Files.createDirectories(dir)
    val seen = mutable.ArrayBuffer[String]()
    def id(): String = {
      val hex = (0 until 4).map(_ => f"${rnd.nextInt() & 0xffff}%04X").mkString
      s"{${hex.take(8)}-${hex.slice(8, 12)}-${hex.slice(12, 16)}-${"%04X".format(rnd.nextInt(1 << 16))}}"
    }
    def row(tid: String): String = {
      val dirty = rnd.nextInt(100) < 3
      val kind = if (dirty) rnd.nextInt(3) else -1
      val price = if (kind == 1) "N/A" else (50000 + rnd.nextInt(900) * 1000).toString
      val y = 2015 + rnd.nextInt(10)
      val date =
        if (kind == 0) f"${1 + rnd.nextInt(28)}%02d/${1 + rnd.nextInt(12)}%02d/$y"
        else f"$y-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d 00:00"
      val area = if (rnd.nextInt(3) == 0) otherAreas(rnd.nextInt(otherAreas.size)) else "OX"
      val postcode =
        if (kind == 2) None
        else Some(s"$area${1 + rnd.nextInt(20)} ${rnd.nextInt(10)}" +
          s"${('A' + rnd.nextInt(26)).toChar}${('A' + rnd.nextInt(26)).toChar}")
      val saon = if (rnd.nextInt(5) == 0) Some(s"FLAT ${1 + rnd.nextInt(30)}") else None
      val locality = if (rnd.nextInt(4) == 0) Some("HEADINGTON") else None
      val town = towns(rnd.nextInt(towns.size))
      val fields: Seq[Option[String]] = Seq(Some(tid), Some(price), Some(date),
        postcode, Some("DSTFO".charAt(rnd.nextInt(5)).toString),
        Some(if (rnd.nextInt(10) == 0) "Y" else "N"),
        Some(if (rnd.nextBoolean()) "F" else "L"),
        Some((1 + rnd.nextInt(200)).toString), saon,
        Some(streets(rnd.nextInt(streets.size))), locality, Some(town),
        Some(town), Some("OXFORDSHIRE"), Some(if (rnd.nextInt(8) == 0) "B" else "A"),
        Some("A"))
      fields.map(_.map(v => "\"" + v + "\"").getOrElse("")).mkString(",")
    }
    def write(p: Path, n: Int, bom: Boolean): Unit = {
      val sb = new StringBuilder
      if (bom) sb.append('﻿')
      val replays = mutable.HashSet[String]()
      val fresh = mutable.ArrayBuffer[String]()
      (0 until n).foreach { _ =>
        val tid =
          if (seen.nonEmpty && rnd.nextInt(10) == 0) {
            val r = seen(rnd.nextInt(seen.size))
            if (replays.add(r)) r else { val f = id(); fresh += f; f }
          } else { val f = id(); fresh += f; f }
        sb.append(row(tid)).append('\n')
      }
      seen ++= fresh
      Files.write(p, sb.toString.getBytes(UTF_8))
    }
    val fs = files(dir)
    write(fs.head, math.max(1, (BulkRows * scale).toInt), bom = false)
    fs.tail.foreach(write(_, math.max(1, (MonthRows * scale).toInt), bom = true))
  }

  private def lines(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), UTF_8).stripPrefix("﻿")
      .split('\n').toSeq.filter(_.nonEmpty)

  def cycle(in: Path, out: Path): Seq[Op] = {
    val table = out.resolve("price_paid").toString
    files(in).zipWithIndex.map { case (f, i) =>
      val dag = if (i == 0) "initial_price_paid_data" else "monthly_price_paid_data"
      Op(s"dag:$dag", lines(f).size, Files.size(f), ctx =>
        ctx.runDag(dag, Map("csv_path" -> f.toString, "table_root" -> table)))
    }
  }

  /** Replay of the load semantics over the raw lines: a row lands when
    * its id, date, price and postcode all parse, its postcode starts
    * with OX, and no earlier row with the same id landed.
    */
  def expected(in: Path): Seq[String] = {
    val table = mutable.LinkedHashMap[String, String]()
    val dateRe = """(\d{4})-(\d{2})-(\d{2}) \d{2}:\d{2}""".r
    files(in).foreach { f =>
      lines(f).foreach { l =>
        val v = l.split(",", -1).map(s =>
          if (s.isEmpty) None else Some(s.stripPrefix("\"").stripSuffix("\"")))
        val tid = v(0).map(_.replaceAll("[{}]", ""))
        val price = v(1).flatMap(_.toDoubleOption)
        val date = v(2).collect { case dateRe(y, m, d) => (y, m, d) }
        val pc = v(3)
        if (tid.isDefined && price.isDefined && date.isDefined &&
            pc.exists(_.startsWith("OX")) && !table.contains(tid.get)) {
          val (y, m, d) = date.get
          table(tid.get) = canon(Seq(tid, Some(price.get.toString),
            Some(s"$y$m$d"), Some(s"$y-$m-$d"), pc) ++ v.drop(4).toSeq)
        }
      }
    }
    table.values.toSeq.sorted
  }

  private def canon(fields: Seq[Option[String]]): String =
    fields.map(_.getOrElse("\\N")).mkString("|")

  private def actual(spark: SparkSession, out: Path): Seq[String] =
    spark.read.parquet(out.resolve("price_paid").toString).collect().toSeq
      .map { r: Row =>
        canon((0 until r.length).map(i =>
          if (r.isNullAt(i)) None else Some(r.get(i).toString)))
      }.sorted

  private val expectedCache = mutable.Map[Path, Seq[String]]()

  def check(spark: SparkSession, in: Path, out: Path): Seq[Check] = {
    val exp = expectedCache.getOrElseUpdate(in, expected(in))
    val act = actual(spark, out)
    val missing = exp.diff(act)
    val extra = act.diff(exp)
    Seq(Check("price_paid table equals replay", missing.isEmpty && extra.isEmpty,
      s"expected ${exp.size} rows, got ${act.size}; missing ${missing.size}" +
        s" (e.g. ${missing.headOption.getOrElse("-")}), extra ${extra.size}" +
        s" (e.g. ${extra.headOption.getOrElse("-")})"))
  }

  def corrupt(spark: SparkSession, in: Path, out: Path): Unit = {
    val t = out.resolve("price_paid")
    val s = Files.list(t)
    val part = try s.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get() finally s.close()
    Files.delete(part)
  }

  override def layerMetrics(tr: Tracer, in: Path, out: Path): Map[String, Double] = {
    val inBytes = files(in).map(Files.size).sum.toDouble
    val loads = tr.spans.filter(_.name ==
      "jobs.monthly_price_paid_data.load_csv_to_table").toSeq
    Map(
      "sources.parquet.write_amp" -> tr.totals.output / inBytes,
      "sources.parquet.table_bytes" -> Fs.size(out.resolve("price_paid")).toDouble,
      "operators.upsert.shuffle_bytes" -> Workloads.medianOr0(
        loads.map(s => tr.inclusive(s.id).shuffleWrite.toDouble)))
  }
}
