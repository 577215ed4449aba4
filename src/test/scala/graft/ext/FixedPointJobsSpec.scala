package graft.ext

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Listener-exact Spark job counts of the fixed-point operators on one
  * fixed small input each: the call plus one collect of its result.
  * The operators share one kernel (`graft.core.FixedPoint`) for the
  * iteration width, the observed checkpoint and the merge-training
  * loop, so a copy that quietly adds a job per round, or a scalar read
  * that grows back its own job, fails here.
  */
class FixedPointJobsSpec extends SparkSpec {
  import spark.implicits._

  private def jobsOf(body: => Any): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    GraftTestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftTestBus.drain(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  // 30 nodes, out-degree 2: a ring plus a stride-7 chord per node
  private def directed() = (for {
    a <- 1L to 30L; b <- Seq(a % 30 + 1, a * 7 % 30 + 1)
  } yield a -> b).toDF("src", "dst")

  // four components: a 4-chain, a 3-chain, a pair and a triangle
  private def pairs() = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 10L -> 11L,
    11L -> 12L, 20L -> 21L, 30L -> 31L, 31L -> 32L, 32L -> 30L)
    .toDF("a", "b")

  // a 12-ring (BFS) / a 4-clique with a pendant path (k-core)
  private def ring() = (0L until 12L).map(a => a -> (a + 1) % 12).toDF("a", "b")
  private def clique() = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 3L, 2L -> 4L,
    3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 7L).toDF("a", "b")

  private def words() = Seq(("lower", 5L), ("lowest", 2L), ("newer", 6L),
    ("wider", 3L)).toDF("word", "freq")

  test("each fixed-point operator runs its pinned number of jobs") {
    val counts = Seq(
      "pagerank.run" -> jobsOf(
        PageRank.run(directed(), "src", "dst", iters = 7).collect()),
      "pagerank.personalized" -> jobsOf(PageRank.personalized(directed(),
        "src", "dst", Seq(1L, 5L).toDF("node"), iters = 7).collect()),
      "hits.run" -> jobsOf(
        Hits.run(directed(), "src", "dst", iters = 2).collect()),
      "lpa.run" -> jobsOf(
        LabelPropagation.run(directed(), "src", "dst", iters = 2).collect()),
      "cc.run" -> jobsOf(
        ConnectedComponents.run(pairs(), "a", "b").collect()),
      "cc.auto" -> jobsOf(
        ConnectedComponents.auto(pairs(), "a", "b").collect()),
      "cc.runTwoPhase" -> jobsOf(
        ConnectedComponents.runTwoPhase(pairs(), "a", "b").collect()),
      "sssp.hopLevels" -> jobsOf(ShortestPaths.hopLevels(ring(),
        Seq(0L).toDF("v"), maxHops = 3).collect()),
      "kcore.peel" -> jobsOf(KCore.peel(clique(), k = 3, rounds = 3).collect()),
      "bpe.trainFromWords" -> jobsOf(Bpe.trainFromWords(words(), 4)),
      "wordpiece.trainFromWords" -> jobsOf(
        WordPiece.trainFromWords(words(), 4))).toMap
    info(counts.toSeq.sortBy(_._1).mkString(", "))
    // connected components: the canonical-edge checkpoint observes the
    // edge count (no separate count() — two jobs under AQE — for the
    // width, nor for auto's two-phase test); BFS: the seed checkpoint
    // observes its row count (no isEmpty job)
    assert(counts == Map(
      "pagerank.run" -> 56,
      "pagerank.personalized" -> 60,
      "hits.run" -> 22,
      "lpa.run" -> 18,
      "cc.run" -> 19,
      "cc.auto" -> 19,
      "cc.runTwoPhase" -> 28,
      "sssp.hopLevels" -> 13,
      "kcore.peel" -> 8,
      "bpe.trainFromWords" -> 8,
      "wordpiece.trainFromWords" -> 18))
  }
}
