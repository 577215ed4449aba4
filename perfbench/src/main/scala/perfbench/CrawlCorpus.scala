package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.ext.PageRank
import graft.functions.WarcCodec

/** `crawl_corpus`: raw crawl archives to a training set. A cycle runs
  * the `crawl_ingest` DAG over gzip WARC files, ranks the crawl's host
  * graph with `PageRank.run` (the link-authority weight of each source),
  * projects the documents (`main_text` AS `text`), and runs the
  * registered `build_training_set` DAG with an eval set for
  * decontamination.
  * Pages come from many hosts; ~20% are planted near-duplicates (~3% of
  * words edited) of an earlier page, some are spam, non-200 responses,
  * or carry robots `noindex`/`nofollow`. The checker compares the
  * ingested documents with the generator's page list, the host ranks
  * with a double-precision power iteration over the host graph, and
  * scores the dedup stage against the planted clusters.
  */
object CrawlCorpus extends Workload {
  val name = "crawl_corpus"

  val Pages = 400
  val Hosts = 50
  val WarcFiles = 8
  val EvalDocs = 10
  val PageRankIters = 5

  /** Dedup quality a correct run reaches on these inputs. */
  val MinDedupRecall = 0.9
  val MinDedupPrecision = 0.9

  private val stop = Vector("the", "and", "of", "to", "in", "is", "that", "it",
    "was", "for", "a", "with", "on", "as", "by", "at", "from", "this")
  private val spamWords = Vector("BUY", "cheap", "$$$", "click!!!", "WIN", "4u",
    "free!!", "%%%", "now!!!", "xxx")

  private def vocab(rnd: SplittableRandom): Vector[String] = {
    val syl = Vector("ka", "lo", "mi", "ra", "te", "su", "ven", "dor", "pla",
      "tri", "mon", "es", "ul", "bar", "qui", "zen", "hol", "fer", "gan", "ost")
    Vector.fill(4000)((0 until 2 + rnd.nextInt(3))
      .map(_ => syl(rnd.nextInt(syl.size))).mkString)
  }

  private def sentence(rnd: SplittableRandom, words: Vector[String]): String =
    (0 until 8 + rnd.nextInt(9)).map(_ =>
      if (rnd.nextInt(10) < 4) stop(rnd.nextInt(stop.size))
      else words(rnd.nextInt(words.size))).mkString(" ").capitalize + "."

  private def paragraphs(rnd: SplittableRandom, words: Vector[String]): Seq[String] =
    Seq.fill(3 + rnd.nextInt(3))(
      Seq.fill(3 + rnd.nextInt(4))(sentence(rnd, words)).mkString(" "))

  private def spam(rnd: SplittableRandom): Seq[String] =
    Seq.fill(3)(Seq.fill(40)(spamWords(rnd.nextInt(spamWords.size))).mkString(" "))

  private def edit(rnd: SplittableRandom, words: Vector[String], p: String): String =
    p.split(' ').map(w => if (rnd.nextInt(100) < 3) words(rnd.nextInt(words.size)) else w)
      .mkString(" ")

  /** One generated page, as listed in `pages.tsv`. `cluster` is the index
    * of the page a near-duplicate copies (its own index otherwise).
    */
  final case class Page(url: String, status: Int, noindex: Boolean,
      nofollow: Boolean, cluster: Int) {
    def indexed: Boolean = status == 200 && !noindex
  }

  val nominalCycleS = 12.0

  def generate(dir: Path, seed: Long, scale: Double): Unit = {
    val rnd = new SplittableRandom(seed)
    val words = vocab(rnd)
    Files.createDirectories(dir.resolve("warc"))
    val n = math.max(40, (Pages * scale).toInt)
    val urls = (0 until n).map(i =>
      s"http://www.site${rnd.nextInt(Hosts)}.com/p/$i-${rnd.nextInt(1 << 20)}")
    val texts = mutable.ArrayBuffer[Seq[String]]()
    // a copy of a copy belongs to the first page's cluster
    val clusters = mutable.ArrayBuffer[Int]()
    val pages = (0 until n).map { i =>
      val dupOf = if (i > 10 && rnd.nextInt(5) == 0) rnd.nextInt(i) else -1
      texts += (
        if (dupOf >= 0) texts(dupOf).map(edit(rnd, words, _))
        else if (rnd.nextInt(20) == 0) spam(rnd)
        else paragraphs(rnd, words))
      clusters += (if (dupOf >= 0) clusters(dupOf) else i)
      val r = rnd.nextInt(100)
      Page(urls(i), if (r < 3) 404 else if (r < 5) 500 else 200,
        noindex = r >= 5 && r < 8, nofollow = r >= 8 && r < 11, cluster = clusters(i))
    }
    val records = pages.indices.map { i =>
      val p = pages(i)
      val links = Seq.fill(3)(
        if (rnd.nextBoolean()) urls(rnd.nextInt(n))
        else s"http://www.site${rnd.nextInt(Hosts)}.com/new/${rnd.nextInt(1 << 20)}")
      val meta =
        if (p.noindex) """<meta name="robots" content="noindex">"""
        else if (p.nofollow) """<meta name="robots" content="nofollow">""" else ""
      val html =
        s"""<html><head><meta charset="utf-8"><title>Page $i</title>$meta</head>""" +
          s"""<body><nav><a href="/">Home</a> <a href="${links.head}">next</a></nav>""" +
          s"<article><h1>Page $i</h1>" +
          texts(i).zipWithIndex.map { case (t, j) =>
            if (j == 0) s"""<p>$t See <a href="${links(1)}">more</a>.</p>"""
            else s"<p>$t</p>"
          }.mkString +
          s"""</article><footer>Contact <a href="${links(2)}">us</a></footer></body></html>"""
      WarcCodec.responseRecord(f"<urn:uuid:$i%08d-0000-0000-0000-000000000000>",
        p.url, "2024-01-01T00:00:00Z", p.status,
        if (p.status == 200) "OK" else "Error",
        "text/html; charset=utf-8", html.getBytes(UTF_8))
    }
    records.grouped((n + WarcFiles - 1) / WarcFiles).zipWithIndex.foreach { case (rs, f) =>
      Files.write(dir.resolve(f"warc/crawl-$f%02d.warc.gz"), WarcCodec.file(rs, gzip = true))
    }
    Files.write(dir.resolve("pages.tsv"), pages.map(p =>
      s"${p.url}\t${p.status}\t${p.noindex}\t${p.nofollow}\t${p.cluster}")
      .mkString("", "\n", "\n").getBytes(UTF_8))
    // eval set: one paragraph from each of a few indexed pages
    val evalSrc = pages.indices.filter(i => pages(i).indexed).take(EvalDocs * 3)
      .grouped(3).map(_.head).toSeq
    Files.write(dir.resolve("eval.tsv"), evalSrc.zipWithIndex.map { case (i, j) =>
      s"${900000000L + j}\t${texts(i).head}"
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    ()
  }

  def pages(in: Path): Seq[Page] =
    new String(Files.readAllBytes(in.resolve("pages.tsv")), UTF_8).split('\n')
      .toSeq.filter(_.nonEmpty).map { l =>
        val a = l.split('\t')
        Page(a(0), a(1).toInt, a(2).toBoolean, a(3).toBoolean, a(4).toInt)
      }

  /** Converts the eval TSV file into the parquet input
    * `build_training_set` reads.
    */
  override def stage(spark: SparkSession, in: Path): Unit = {
    import spark.implicits._
    def tsv(f: String) = new String(Files.readAllBytes(in.resolve(f)), UTF_8)
      .split('\n').toSeq.filter(_.nonEmpty).map(_.split("\t", 2))
    tsv("eval.tsv").map(a => (a(0).toLong, a(1))).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(in.resolve("staged/eval").toString)
  }

  private def sourcesOf = (0 until Hosts).map(h => s"site$h.com")

  /** Host ranks of each cycle, keyed by the cycle's output dir. */
  private val hostRanks = mutable.Map[Path, Map[String, Long]]()

  def cycle(in: Path, out: Path): Seq[Op] = {
    val ps = pages(in)
    val warc = in.resolve("warc")
    val warcBytes = Fs.size(warc)
    val crawl = out.resolve("crawl").toString
    val docs = out.resolve("docs").toString
    Seq(
      Op("dag:crawl_ingest", ps.size, warcBytes, ctx =>
        ctx.runDag("crawl_ingest", Map("warc_glob" -> s"$warc/*.warc.gz",
          "out_root" -> crawl, "n_shards" -> "16"))),
      Op("ext:pagerank", 0, 0, ctx => {
        val ranks = ctx.call("ext.pagerank")(PageRank.run(
          ctx.spark.read.parquet(s"$crawl/host_graph"), "src_host", "dst_host",
          PageRankIters).collect().toSeq)
        hostRanks(out) = ranks.map(r => r.getString(0) -> r.getLong(1)).toMap
      }),
      Op("dag:build_training_set", ps.count(_.indexed), 0, ctx => {
        ctx.spark.read.parquet(s"$crawl/documents")
          .select(col("doc_id"), col("url"), col("source"), col("main_text").as("text"))
          .write.parquet(docs)
        ctx.runDag("build_training_set", Map("docs_path" -> docs,
          "out_root" -> out.resolve("corpus").toString,
          "budgets" -> sourcesOf.map(s => s"$s:100000000").mkString(","),
          "eval_docs_path" -> in.resolve("staged/eval").toString))
      }))
  }

  /** Dedup recall and precision against the planted clusters, over the
    * dedup stage's input and output.
    */
  def dedupQuality(spark: SparkSession, in: Path, out: Path): (Double, Double, String) = {
    val clusterOf = pages(in).map(p => p.url -> p.cluster).toMap
    def urls(t: String) = spark.read.parquet(out.resolve(s"corpus/$t").toString)
      .select("url").collect().map(_.getString(0)).toSet
    val before = urls("cleaned")
    val after = urls("deduped")
    val removed = before -- after
    val keptClusters = after.toSeq.map(clusterOf).toSet
    val shouldRemove = before.toSeq.groupBy(clusterOf).values.map(_.size - 1).sum
    val correct = removed.count(u => keptClusters(clusterOf(u)))
    val recall = if (shouldRemove == 0) 1.0 else correct.toDouble / shouldRemove
    val precision = if (removed.isEmpty) 1.0 else correct.toDouble / removed.size
    (recall, precision, s"dedup input ${before.size}, removed ${removed.size}, " +
      s"planted duplicates $shouldRemove, correctly removed $correct")
  }

  /** Double-precision PageRank with the engine's conventions: nodes are
    * every edge endpoint, parallel edges weigh, dangling mass is dropped.
    */
  def pageRank(es: Seq[(String, String)], iters: Int): Map[String, Double] = {
    val nodes = es.flatMap { case (s, d) => Seq(s, d) }.distinct
    val n = nodes.size
    val outdeg = es.groupBy(_._1).map { case (s, xs) => s -> xs.size }
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val in = mutable.Map[String, Double]().withDefaultValue(0.0)
      es.foreach { case (s, d) => in(d) += r(s) / outdeg(s) }
      r = nodes.map(v => v -> (0.15 / n + 0.85 * in(v))).toMap
    }
    r
  }

  def check(spark: SparkSession, in: Path, out: Path): Seq[Check] = {
    val expected = pages(in).filter(_.indexed).map(_.url).toSet
    val es = spark.read.parquet(out.resolve("crawl/host_graph").toString)
      .select("src_host", "dst_host").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val pr = pageRank(es, PageRankIters)
    val got = hostRanks.getOrElse(out, Map.empty).map { case (h, e12) => h -> e12 / 1e12 }
    // the engine's fixed-point ranks truncate each contribution and the
    // damping product: under (in-degree + 1) * 1e-12 per node per round
    val maxIn = if (es.isEmpty) 0 else es.groupBy(_._2).values.map(_.size).max
    val prTol = 2e-12 * PageRankIters * (maxIn + 1)
    val prErr = if (got.keySet != pr.keySet) Double.PositiveInfinity
      else if (pr.isEmpty) 0.0 else pr.map { case (h, x) => math.abs(x - got(h)) }.max
    val docs = spark.read.parquet(out.resolve("crawl/documents").toString)
      .select("url").collect().map(_.getString(0)).toSet
    val (recall, precision, detail) = dedupQuality(spark, in, out)
    val deduped = spark.read.parquet(out.resolve("corpus/deduped").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val training = spark.read.parquet(out.resolve("corpus/training_set").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    Seq(
      Check("crawl documents are the indexable 200 pages", docs == expected,
        s"expected ${expected.size}, got ${docs.size}; missing " +
          s"${(expected -- docs).size}, extra ${(docs -- expected).size}"),
      Check("host ranks match a double power iteration", prErr <= prTol,
        s"max abs rank error $prErr (bound $prTol) over ${pr.size} hosts"),
      Check("dedup recovers the planted clusters",
        recall >= MinDedupRecall && precision >= MinDedupPrecision,
        f"recall $recall%.4f precision $precision%.4f; $detail",
        Map("dedup_recall" -> recall, "dedup_precision" -> precision)),
      Check("training set is a non-empty subset of the deduped corpus",
        training.nonEmpty && training.subsetOf(deduped),
        s"training ${training.size} docs, deduped ${deduped.size}"))
  }

  def corrupt(spark: SparkSession, in: Path, out: Path): Unit = {
    hostRanks(out) = hostRanks(out).map { case (h, r) => h -> (r + r / 1000) }
    val t = out.resolve("crawl/documents")
    val s = Files.list(t)
    val part = try s.filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get() finally s.close()
    Files.delete(part)
  }

  override def layerMetrics(tr: Tracer, in: Path, out: Path): Map[String, Double] = {
    def cpu(span: String) = Workloads.medianOr0(tr.spans.filter(_.name == span)
      .map(s => tr.inclusive(s.id).cpuNs / 1e9).toSeq)
    Map(
      "functions.decode_extract.cpu_s" -> cpu("jobs.crawl_ingest.parse_extract"),
      "functions.text_filter.cpu_s" -> cpu("jobs.build_training_set.clean_filter"))
  }
}
