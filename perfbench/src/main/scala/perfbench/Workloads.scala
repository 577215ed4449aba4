package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

object Workloads {

  /** Warm-up inputs are this share of the benchmark size. */
  val WarmScale = 0.01

  val all: Seq[Workload] = Seq(PricePaid, TxLogMixed, CrawlCorpus)

  def byName(n: String): Workload =
    all.find(_.name == n).getOrElse(sys.error(
      s"unknown workload $n (known: ${all.map(_.name).mkString(", ")})"))

  /** Unit kinds that are runs of a recurring (scheduled) DAG. */
  val RecurringDags: Set[String] = Set("dag:monthly_price_paid_data",
    "dag:crawl_ingest", "dag:build_training_set")

  /** SHA-256 over every generated file (path and bytes), in path order. */
  def digest(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val s = Files.walk(dir)
    try {
      s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
        .sortBy(p => dir.relativize(p).toString).foreach { p =>
          md.update(dir.relativize(p).toString.getBytes("UTF-8"))
          md.update(Files.readAllBytes(p))
        }
    } finally s.close()
    md.digest().map(b => f"$b%02x").mkString
  }

  def medianOr0(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)
}

/** Per-layer figures that follow from span names alone. */
object Layers {

  /** `jobs.<dag>` spans give `jobs.<dag>.s` (median run wall);
    * `jobs.<dag>.<task>` spans give `jobs.<dag>.<task>.s` (median self
    * time); `sources.*` and `ext.*` call spans give `.s` (median wall),
    * `.jobs` (median Spark jobs, children included) and `.cpu_s`
    * (median executor CPU, children included).
    */
  def spanMetrics(tr: Tracer): Map[String, Double] = {
    val byName = tr.spans.filter(_.name != "pass").groupBy(_.name)
    byName.toSeq.flatMap { case (name, ss) =>
      val self = Workloads.medianOr0(ss.map(tr.selfSeconds).toSeq)
      val wall = Workloads.medianOr0(ss.map(_.seconds).toSeq)
      if (name.startsWith("jobs.")) {
        if (name.count(_ == '.') == 1) Seq(s"$name.s" -> wall)
        else Seq(s"$name.s" -> self)
      } else {
        val inc = ss.map(s => tr.inclusive(s.id)).toSeq
        Seq(s"$name.s" -> wall,
          s"$name.jobs" -> Workloads.medianOr0(inc.map(_.jobs.toDouble)),
          s"$name.cpu_s" -> Workloads.medianOr0(inc.map(_.cpuNs / 1e9)))
      }
    }.toMap
  }
}
