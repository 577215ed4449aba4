package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.FixedPoint

/** Multi-source BFS hop levels — the fourth graph primitive next to
  * [[ConnectedComponents]] (reachability), [[PageRank]] (authority)
  * and [[Triangles]] (transitivity): distance-from-seed-set, the
  * "how far is this page from a trusted domain" signal TrustRank-style
  * corpus weighting needs, and the building block of k-hop
  * neighborhood features.
  *
  * Frontier BFS over an undirected edge list: round k joins ONLY the
  * newly-discovered frontier against the edge table (both directions),
  * anti-joins out already-visited nodes, and tags survivors level k.
  * Because expansion is frontier-only, each edge is traversed at most
  * twice over the whole run regardless of `maxHops`, and the level a
  * node gets on first discovery IS its minimum hop distance — the
  * classic BFS invariant, so no min-fold is needed afterwards.
  * Integer levels ⇒ bit-exact on any partitioning.
  *
  * Scale shape: per round, one equi-join keyed on the node id and one
  * left-anti join against the visited set; `localCheckpoint` flattens
  * lineage each round ([[graft.core.FixedPoint]]) so plans stay
  * constant-size over any hop count. Collected state: one row count
  * (frontier emptiness) per round, observed by the checkpoint job.
  */
object ShortestPaths {

  /** (v, level) for every node within `maxHops` undirected hops of the
    * seed set; seeds are level 0. `edges` is an (a, b) pair list
    * (direction ignored); `seeds` is a single-column frame of node
    * ids. Nodes unreachable within the cap are absent.
    */
  def hopLevels(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = edges.select(col("a"), col("b"))
    val und = e.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(e.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(eager = false)
    // every checkpoint (the seeds', then one frontier per round)
    // carries its own row count as an observed metric, so each round
    // is ONE job; the visited set is a LAZY union of the checkpointed
    // frontiers (each a flat LogicalRDD leaf, so the anti-join plan
    // stays maxHops-bounded) instead of re-copying all visited rows
    // into a third checkpoint every round.
    def levelled(df: DataFrame): (DataFrame, Boolean) = {
      val (ck, r) = FixedPoint.checkpointObserved(df, count(lit(1)).as("n"))
      (ck, r.getLong(0) > 0)
    }
    var (visited, frontierNonEmpty) = levelled(
      seeds.select(col(seeds.columns.head).as("v")).distinct()
        .withColumn("level", lit(0)))
    var frontier = visited
    var hop = 0
    while (hop < maxHops && frontierNonEmpty) {
      hop += 1
      val (next, nonEmpty) = levelled(
        frontier.join(und, frontier("v") === und("src"))
          .select(und("dst").as("v")).distinct()
          .join(visited, Seq("v"), "left_anti")
          .withColumn("level", lit(hop)))
      frontierNonEmpty = nonEmpty
      visited = visited.unionByName(next)
      frontier = next
    }
    visited
  }
}
