package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.FixedPoint

/** Fixed-iteration PageRank in PURE INTEGER ARITHMETIC — the
  * link-authority score (Page et al. 1999) used by web-corpus
  * pipelines to weight domains/pages when sampling training data.
  *
  * Ranks are fixed-point longs at scale 10¹² (`rank_e12`), and every
  * operation is integer: contribution = `rank DIV outdeg`, damping =
  * `(85·Σ) DIV 100`, base = `(15·10¹²) DIV (100·N)`. No floating
  * point ⇒ no summation-order low bits, no decimal→double conversion
  * ulps, no libm — the result is bit-identical on ANY engine,
  * partitioning, or merge order (the reproducibility trick that makes
  * an iterative distributed computation exactly oracle-able; same
  * motivation as TfIdf's reciprocal-df and CharStats' Simpson).
  * Truncating divisions leak ≤ outdeg·10⁻¹² mass per node per round —
  * Σrank only ever drifts DOWN from 10¹², bounded by the spec.
  *
  * Dangling nodes (no out-edges) keep receiving the base term but
  * contribute nothing — their mass evaporates rather than being
  * redistributed (the common simplification; documented, and exactly
  * mirrored in the oracle). Parallel edges act as weights (a u→v
  * appearing k times contributes k·(rank DIV outdeg), with outdeg
  * counting edge instances).
  *
  * Scale shape: per iteration, ONE shuffle keyed on src for the
  * (edges ⋈ ranks ⋈ outdeg) contribution join and one agg shuffle on
  * dst; outdeg is computed once and reused; ranks are
  * `localCheckpoint`ed every few rounds so lineage stays flat over any
  * iteration count, and the node frame caches at graph-sized width
  * ([[graft.core.FixedPoint]]). Collected state is one scalar (N).
  */
object PageRank {

  val Scale = 1000000000000L // 10^12 fixed-point

  /** Rounds between lineage cuts: the rounds in between stay LAZY (one
    * fused multi-round plan — cheaper than materializing every round),
    * and every k-th round cuts the tree so planning time stays flat at
    * high iteration counts. The arithmetic is integer, so the cadence
    * cannot change a single output bit (spec-pinned).
    */
  private val CheckpointEvery = 5

  /** (node, rank_e12) after `iters` rounds over `edges(srcCol, dstCol)`.
    * Node set = every id appearing as src or dst.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      dampingPct: Int = 85): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val g = FixedPoint.graph(edges, srcCol, dstCol)
    // every node is a seed with teleport weight 1: the [[personalized]]
    // recurrence over |S| = N is exactly the uniform one
    iterate(g, g.nodes.withColumn("teleport", lit(1L)), math.max(g.n, 1L),
      iters, dampingPct)
  }

  /** Personalized PageRank (TrustRank, Gyöngyi et al. 2004): identical
    * integer arithmetic, but the teleport mass lands ONLY on the seed
    * set — initial rank `10¹² DIV |S|` on seeds / 0 elsewhere, and the
    * per-round base term `(15·10¹² DIV 100) DIV |S|` is multiplied by
    * the node's seed flag. Rank becomes "authority flowing out of the
    * trusted set", the standard trust-propagation weighting for web
    * corpora (complementing [[ShortestPaths.hopLevels]]' hop
    * distance with a damped, degree-normalized measure). Seeds are
    * intersected with the graph's node set; same bit-exactness and
    * lineage-cadence contract as [[run]].
    */
  def personalized(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      iters: Int,
      dampingPct: Int = 85): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampingPct >= 0 && dampingPct <= 100, "dampingPct in [0,100]")
    val sd = seeds.select(col(seeds.columns.head).as("node")).distinct()
    // the node count and the seed count come from one scalar job
    val g = FixedPoint.graph(edges, srcCol, dstCol,
      nodes => nodes
        .join(sd.withColumn("is_seed", lit(1L)), Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("teleport")),
      Seq(sum(col("teleport"))))
    val nSeeds = if (g.census.isNullAt(1)) 0L else g.census.getLong(1)
    if (nSeeds == 0) g.unpersist()
    require(nSeeds > 0, "no seed intersects the graph's node set")
    iterate(g, g.nodes, nSeeds, iters, dampingPct)
  }

  /** The rank recurrence over `teleports(node, teleport)`: the teleport
    * mass `10¹²` is spread over `nSeeds` and lands on each node times
    * its teleport weight, initially and as every round's base term.
    * Drops the graph's caches once the result is materialized.
    */
  private def iterate(g: FixedPoint.Graph, teleports: DataFrame,
      nSeeds: Long, iters: Int, dampingPct: Int): DataFrame = {
    val outdeg = g.edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .coalesce(g.parts).cache()
    val base = (Scale / 100L) * (100L - dampingPct) / nSeeds
    var ranks = teleports
      .select(col("node"), (col("teleport") * lit(Scale / nSeeds)).as("rank_e12"))
    for (i <- 1 to iters) {
      val contribs = g.edges
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"),
          expr("rank_e12 DIV outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
      ranks = teleports.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("teleport") * lit(base) +
            expr(s"($dampingPct * coalesce(in_sum, 0)) DIV 100"))
            .as("rank_e12"))
      if (i % CheckpointEvery == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    // final materialization before dropping the caches it depends on
    ranks = ranks.localCheckpoint()
    g.unpersist(); outdeg.unpersist()
    ranks
  }
}
