package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The rules shared by graft's iterative operators (PageRank, HITS,
  * LPA, connected components, BFS, k-core, BPE, WordPiece): the
  * iteration width — data-sized, not `spark.sql.shuffle.partitions`,
  * so a tiny graph does not pay that task count every round (values are
  * partition-invariant, so it is purely a scheduling dial); the
  * broadcast bound; checkpoints whose job also yields the round's
  * scalars via `observe()`; and the merge-training loop.
  * Checkpoints are `localCheckpoint`s that cut the lineage so round k
  * does not replan a k-deep DAG; eager only where a scalar must
  * be read before the next round is built.
  */
object FixedPoint {

  /** Node-count bound for broadcasting a per-round (node, value) frame
    * (~24 B per row ⇒ ~25 MB at the bound): the operator knows the
    * count exactly, so the choice needs no planner estimate.
    */
  val BroadcastableNodes = 1000000L

  /** Partitions for `rows` rows at ~`perPartition` rows each, capped at
    * the session parallelism (at least 1).
    */
  def width(spark: SparkSession, rows: Long, perPartition: Long): Int =
    math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (rows / perPartition).toInt + 1))

  /** A cached `(src, dst)` edge frame and its node frame, cached at
    * `parts` partitions; `census` is the row of the one counting job
    * (node count first). [[unpersist]] drops both caches.
    */
  final class Graph(val edges: DataFrame, val nodes: DataFrame,
      val census: Row, val parts: Int) {
    val n: Long = census.getLong(0)

    /** `df` with a broadcast hint when the graph is within
      * [[BroadcastableNodes]], otherwise `big(df)`.
      */
    def small(df: DataFrame, big: DataFrame => DataFrame = identity): DataFrame =
      if (n <= BroadcastableNodes) broadcast(df) else big(df)

    def unpersist(): Unit = { edges.unpersist(); nodes.unpersist() }
  }

  /** [[Graph]] over `edges(srcCol, dstCol)`. The node set is every id
    * appearing as src or dst, as a `node` column; `decorate` may add
    * columns to it (a seed flag) before ONE eager job counts the nodes
    * together with the `census` aggregates. The node cache holds ~2M
    * nodes per partition.
    */
  def graph(edges: DataFrame, srcCol: String, dstCol: String,
      decorate: DataFrame => DataFrame = identity,
      census: Seq[Column] = Nil): Graph = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).cache()
    val nodes = decorate(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct())
    val row = nodes.agg(count(lit(1)).as("n"), census: _*).head()
    val parts = width(edges.sparkSession, row.getLong(0), 2000000L)
    new Graph(e, nodes.coalesce(parts).cache(), row, parts)
  }

  /** Eager `localCheckpoint` of `df` whose one job also computes the
    * aggregate `metrics` over its rows; returns both.
    */
  def checkpointObserved(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val name = s"graft_fp_${java.util.UUID.randomUUID().toString.take(8)}"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val ck = observed.localCheckpoint()
    (ck, observed.queryExecution.observedMetrics(name))
  }

  /** Rounds of `step` from `init`, each one [[checkpointObserved]]
    * job, until the `metrics` row repeats or `maxIter` rounds ran;
    * returns the last frame and whether it converged.
    */
  def untilStable(init: DataFrame, maxIter: Int, metrics: Column*)(
      step: DataFrame => DataFrame): (DataFrame, Boolean) = {
    var (cur, prev) = checkpointObserved(init, metrics: _*)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      iter += 1
      val (next, r) = checkpointObserved(step(cur), metrics: _*)
      cur = next
      converged = r == prev
      prev = r
    }
    (cur, converged)
  }

  /** Greedy non-overlapping selection from a ranked candidate list:
    * take pairs in rank order, skipping any that shares a symbol with
    * an already-taken pair. Symbol-disjoint pairs have EXACTLY
    * invariant counts under each other's application (a merge only
    * creates/destroys pairs involving its own operands or product),
    * so applying a disjoint batch in rank order equals running the
    * classic one-merge loop whenever no skip occurred — and is a
    * documented rank-order approximation when one did.
    */
  private def pickDisjoint(ranked: Seq[(String, String)],
      want: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, String)]
    var taken = 0
    val it = ranked.iterator
    while (taken < want && it.hasNext) {
      val (l, r) = it.next()
      if (!used(l) && !used(r)) {
        out += ((l, r)); used += l; used += r; taken += 1
      }
    }
    out.result()
  }

  /** Merge training over a `syms` table: each round ranks the
    * `(left, right, …)` rows of `scores(syms)` by (`scoreCol` DESC,
    * left, right), takes up to `batchMerges` symbol-disjoint pairs and
    * folds them through `syms`, until `nMerges` merges or no pair is
    * left. Returns the merges and the round count. The table is
    * checkpointed LAZILY (pass `syms` the same way): the next round's
    * collect materializes it, and the last fold never runs.
    */
  def trainMerges(syms: DataFrame, nMerges: Int, batchMerges: Int,
      scoreCol: String)(scores: DataFrame => DataFrame,
      fold: (Column, Seq[(String, String)]) => Column)
      : (Seq[(String, String)], Int) = {
    require(nMerges >= 0)
    require(batchMerges >= 1, "batchMerges must be >= 1")
    var table = syms
    val merges = Seq.newBuilder[(String, String)]
    var done = false
    var merged = 0
    var rounds = 0
    while (merged < nMerges && !done) {
      val want = math.min(batchMerges, nMerges - merged)
      // fetch enough ranked candidates to survive overlap skips; the
      // collected rows stay bounded by the batch size, never the vocab
      val top = scores(table)
        .orderBy(col(scoreCol).desc, col("left"), col("right"))
        .limit(want * 4 + 8).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val picked = pickDisjoint(top, want)
      if (picked.isEmpty) done = true // every word fused to one symbol
      else {
        merges ++= picked
        merged += picked.size
        table = table.withColumn("syms", fold(col("syms"), picked))
          .localCheckpoint(eager = false)
      }
      rounds += 1
    }
    (merges.result(), rounds)
  }
}
