package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling — the graph-density primitive that isolates the
  * cohesive core (every surviving vertex keeps ≥ k surviving
  * neighbors) from the pendant fringe: spam-farm / template-cluster
  * extraction on link graphs, dense-community seeds on co-occurrence
  * graphs ([[Triangles]] measures transitivity; the core is where it
  * concentrates).
  *
  * Synchronous peel (Matula & Beck 1983, distributed form): each round
  * recomputes degrees over the SURVIVING edge set and drops every
  * vertex below k, with both endpoints' edges. A FIXED round count
  * keeps the result a pure function of (edges, k, rounds) — exactly
  * replayable by unrolled SQL — and is monotone: once the peel reaches
  * its fixed point (no vertex below k), further rounds are no-ops, so
  * `rounds` ≥ the peel depth yields the true k-core. Peel depth is
  * typically far below the vertex count (each round must delete ≥ 1
  * vertex to continue), and [[converged]] on the result costs one agg
  * when callers need proof.
  *
  * Scale shape: per round, one degree hash-agg and two left-semi joins
  * keyed on the vertex — no per-round scalar, lineage cut per round by a
  * lazy checkpoint ([[graft.core.FixedPoint]]).
  */
object KCore {

  /** Surviving (v, deg) after `rounds` synchronous peels at threshold
    * `k` over an undirected (a, b) edge list. Empty when the graph has
    * no k-core.
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = edges.select(col("a"), col("b"))
    def degrees(ed: DataFrame): DataFrame =
      ed.select(explode(array(col("a"), col("b"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    var r = 0
    while (r < rounds) {
      r += 1
      val keep = degrees(e).filter(col("deg") >= k).select(col("v"))
      // LAZY checkpoint: no per-round driver scalar is needed, so the
      // rounds materialize inside the consuming job (one job for the
      // whole peel instead of one per round) while each round's leaf
      // stays a flat LogicalRDD — plan size and join planning (stats
      // come from the origin plan either way) are unchanged, and each
      // round's blocks still compute exactly once (the keep-side and
      // both semi-join probes of round r+1 share round r's blocks).
      e = e
        .join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .localCheckpoint(eager = false)
    }
    degrees(e)
  }

  /** True iff `peeled` (the output of [[peel]]) reached its fixed
    * point — no surviving vertex sits below k, so it IS the k-core.
    */
  def converged(peeled: DataFrame, k: Int): Boolean =
    peeled.filter(col("deg") < k).isEmpty
}
