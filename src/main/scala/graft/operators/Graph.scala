package graft.operators

import graft.Materialize._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hop-bounded breadth-first search over an edge list — reachability /
  * graph-distance labeling (e.g. link-distance from a seed set as a
  * crawl-quality signal, or vocabulary distance from anchor terms).
  *
  * Scale shape: classic frontier BFS — each hop is one src-keyed
  * equi-join of the (node-sized) frontier against the edge list plus
  * one left-anti join against the visited set; nothing edge²-sized
  * ever materializes, nothing is collected. The edge list is
  * partitioned on src once and persisted, so every hop's join reuses
  * the layout and only shuffles the frontier. The visited table is
  * localCheckpoint'd per hop so the plan depth stays O(1) (the
  * DedupCluster planning-cost lesson); a pass's checkpoint blocks are
  * dropped as soon as the next pass lands.
  */
object Graph {

  /** (node, dist): minimum hop count (≤ maxHops) from any seed, seeds
    * at dist 0. `seeds` needs a `node` column; unreachable nodes are
    * absent. Early-exits when a frontier empties. */
  def bfs(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).persist()
    var dist = seeds.select(col("node"), lit(0).as("dist"))
      .eagerCheckpoint()
    var frontier = dist
    var hop = 0
    var exhausted = false
    while (hop < maxHops && !exhausted) {
      hop += 1
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(hop).as("dist"))
        .eagerCheckpoint()
      exhausted = next.isEmpty
      val grown = dist.union(next).eagerCheckpoint()
      dropCheckpointBlocks(frontier)
      dropCheckpointBlocks(dist)
      dist = grown
      frontier = next
    }
    if (frontier ne dist) dropCheckpointBlocks(frontier)
    e.unpersist(blocking = false)
    dist
  }

  /** Bounded-round k-core peel (Matula–Beck, truncated): each round
    * recomputes degrees WITHIN the surviving subgraph and drops nodes
    * below `k` — two node-keyed equi-joins plus one hash-agg per round
    * on node/edge-sized tables. `und` must be a deduplicated undirected
    * edge list with columns (a, b), a < b. Returns the surviving
    * subgraph's degree table (node, deg).
    *
    * The edge set is localCheckpoint'd per round: without truncation
    * the peel's self-referential lineage re-derives the base edge
    * subtree ~3× per round (once directly, twice through the two node
    * joins), compounding to 3^rounds copies of the upstream scan —
    * measured 335 s for 4 rounds at sf0.01 inline vs seconds when
    * truncated. Spent rounds' blocks are dropped as soon as the next
    * round lands (the BFS/DedupCluster lesson); the FINAL round's
    * blocks back the returned frame and live until the caller's action
    * completes, mirroring [[bfs]]. */
  def kcore(und: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = und.select(col("a"), col("b")).eagerCheckpoint()
    for (_ <- 1 to rounds) {
      val survivors = edges.select(col("a").as("node"))
        .union(edges.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("node"))
      val pruned = edges
        .join(survivors.select(col("node").as("a")), "a")
        .join(survivors.select(col("node").as("b")), "b")
        .select(col("a"), col("b")).eagerCheckpoint()
      dropCheckpointBlocks(edges)
      edges = pruned
    }
    edges.select(col("a").as("node")).union(edges.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
  }
}
