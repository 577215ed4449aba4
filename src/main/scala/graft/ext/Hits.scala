package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.FixedPoint

/** Fixed-iteration HITS (Kleinberg 1999) in PURE INTEGER ARITHMETIC —
  * the hub/authority companion to [[PageRank]]: authority = "pointed
  * at by good hubs", hub = "points at good authorities", the classic
  * second axis of link analysis a crawl pipeline uses to separate
  * directory/aggregator pages (hubs) from endorsed content
  * (authorities) when weighting training data.
  *
  * Same reproducibility recipe as [[PageRank]]: scores are fixed-point
  * longs at scale 10¹² and every operation is integer, so the result
  * is bit-identical on any engine, partitioning, or merge order. The
  * textbook L2 normalization is replaced by L1 (`x · 10¹² DIV Σx`) —
  * same fixed point direction-wise, but expressible exactly in integer
  * arithmetic; the wide multiply rides DECIMAL(38,0) (house rule after
  * MarketBasket's lift: never let a 10²⁸ intermediate near an int64).
  * Truncating divisions mean ΣX drifts DOWN from 10¹² by < N per
  * round — bounded, deterministic, mirrored exactly in the oracle.
  *
  * Scale shape: per round, one hash shuffle keyed on src (hub pull)
  * and one on dst (authority pull); the L1 total is an observed metric
  * of the pull's checkpoint job ([[graft.core.FixedPoint]]); each
  * round's pull is `localCheckpoint`ed because it feeds two consumers
  * (total + next pull) — per-round materialization, not PageRank's
  * every-k cadence,
  * is what keeps the plan linear in `iters`. Edge-less nodes stay out
  * of the iteration entirely (their score is identically 0) and are
  * zero-filled by one census join at the output.
  */
object Hits {

  val Scale = 1000000000000L // 10^12 fixed-point

  /** (node, hub_e12, auth_e12) after `iters` full rounds (authority
    * update then hub update) over `edges(srcCol, dstCol)`. Node set =
    * every id appearing as src or dst. Parallel edges act as weights,
    * exactly as in [[PageRank.run]].
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val g = FixedPoint.graph(edges, srcCol, dstCol)

    // x·10¹² DIV Σx in exact integer arithmetic. The L1 total is an
    // exact decimal sum observed by the pull's checkpoint job; the
    // division then rides as a literal with DECIMAL(38,0) DIV
    // semantics.
    // Nodes with no in-/out-edges stay ABSENT here (their score is
    // exactly 0: they contribute nothing to the opposite pull), so the
    // per-round nodes join is deferred to the single zero-fill at the
    // output — two fewer shuffles per round.
    def l1Normalize(rawLazy: DataFrame, valCol: String): DataFrame = {
      val (raw, m) = FixedPoint.checkpointObserved(rawLazy,
        sum(col(valCol).cast("decimal(38,0)")).as("l1_total"))
      val tot = m.getDecimal(0)
      // empty pull (no edges): the projection below never evaluates, so
      // any non-null divisor literal keeps the expression well-formed
      val totLit = if (tot == null) "1" else tot.toBigInteger.toString
      raw.select(col("node"),
        expr(s"CAST((CAST($valCol AS DECIMAL(38,0)) * $Scale) " +
          s"DIV CAST('$totLit' AS DECIMAL(38,0)) AS BIGINT)").as(valCol))
    }

    var hub = g.nodes.withColumn("hub_e12", lit(Scale / math.max(g.n, 1L)))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      // sums ride DECIMAL so a hub-heavy node set can never wrap an
      // int64 (DuckDB's SUM widens to int128 — mirror it exactly)
      val araw = g.edges
        .join(hub.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub_e12").cast("decimal(38,0)")).as("auth_e12"))
      // l1Normalize materializes the pull result EVERY round (its
      // checkpoint job also carries the L1 metric): each frame feeds
      // both the total and the next pull, so a fully lazy chain would
      // re-execute prior rounds multiplicatively. The NORMALIZED score
      // frame needs no second materialization when the node count —
      // known exactly on the driver — is broadcastable: the projection
      // over the checkpointed pull is trivial to recompute per
      // consumer, and the explicit hint is what the extra checkpoint's
      // sizeInBytes used to buy (the r17 lazy attempt regressed to a
      // sort-merge of the edges precisely because the un-checkpointed
      // plan lost the estimate). Above the bound the checkpoint
      // returns. Values are unaffected either way: integer arithmetic,
      // spec-pinned partition invariance.
      auth = g.small(l1Normalize(araw, "auth_e12"), _.localCheckpoint())
      val hraw = g.edges
        .join(auth.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth_e12").cast("decimal(38,0)")).as("hub_e12"))
      hub = g.small(l1Normalize(hraw, "hub_e12"), _.localCheckpoint())
    }
    // one zero-fill join against the node census at the very end
    val out = g.nodes
      .join(hub, Seq("node"), "left")
      .join(auth, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_e12"), lit(0L)).as("hub_e12"),
        coalesce(col("auth_e12"), lit(0L)).as("auth_e12"))
      .localCheckpoint()
    g.unpersist()
    out
  }
}
