package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed multi-source BFS — minimum hop distance from a seed set
  * over a directed edge list, bounded by `maxHops`. The reachability
  * class of graph analytics (blast-radius of a poisoned domain through
  * a link graph, influence horizon of a crawl frontier), complementing
  * the repo's connected components (grouping) and PageRank (ranking).
  *
  * Frontier algorithm, not path enumeration: round r joins ONLY the
  * radius-r frontier against the edge list, then anti-joins the visited
  * set, so each node is expanded exactly once and per-round work is
  * O(frontier × avg-degree) — never the path-count blowup a naive
  * recursive expansion suffers (a dense bipartite graph has millions of
  * length-3 walks but only thousands of nodes). Min-distance is exact
  * by construction (BFS order IS distance order), and hop counts are
  * integers, so results are engine-portable with no numeric protocol.
  *
  * Scale shape: per round one shuffled equi-join (frontier⋈edges on
  * src, edges the big side), one `distinct` on the frontier (node-
  * sized), one left-anti against visited (node-sized). Lineage is cut
  * every round ([[Lineage]]; a `checkpointDir` stays the session's
  * checkpoint dir) so deep traversals plan as many small jobs.
  * The visited set grows monotonically and is bounded by the node count.
  */
object Bfs {

  /** `edges`: directed (src, dst); `seeds`: (node) at distance 0.
    * Returns (node, dist) for every node reachable within `maxHops`,
    * dist = exact minimum hop count. Seeds absent from the graph still
    * surface at dist 0 (a seed is trivially reachable). */
  def run(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // mismatched key types would ride implicit cross-type coercion,
    // which can silently null the frontier join and return an
    // empty/partial traversal — misuse fails loudly instead
    PageRank.requireSameKeyType(edges)
    val seedT = seeds.schema("node").dataType
    val edgeT = edges.schema("src").dataType
    require(seedT == edgeT,
      s"seed node type $seedT must equal the edge key type $edgeT (cast explicitly)")
    def truncate(df: DataFrame): DataFrame = Lineage.cut(df, checkpointDir)

    // materialize the edge list ONCE — every round joins against it, and
    // without truncation each join would re-run the caller's upstream
    // edge derivation (often itself a join+distinct) per hop. Hash-
    // partitioned by src first: checkpointed Datasets keep their
    // outputPartitioning, so each round's frontier⋈edges join shuffles
    // only the frontier side — the big edge table never moves again.
    // Node ids keep the caller's type: integral ids halve the shuffle
    // bytes vs strings; the caller aligns seed and edge key types.
    val e = truncate(edges.select(col("src"), col("dst"))
      .repartition(col("src")))
    var visited = truncate(
      seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)))
    var frontier = visited.select("node")
    var r = 0
    while (r < maxHops && !frontier.isEmpty) {
      r += 1
      val next = truncate(
        frontier.join(e, frontier("node") === e("src"))
          .select(e("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti"))
      visited = truncate(visited.unionByName(next.withColumn("dist", lit(r.toLong))))
      frontier = next.select("node")
    }
    visited
  }

  /** The un-truncated single-round expansion plan — what PlanAuditSpec
    * audits for the equi-join + anti-join shape (run()'s per-round
    * checkpoints erase join structure from the final plan by design). */
  private[graft] def auditRound(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val v = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L))
    v.select("node").join(e, col("node") === e("src"))
      .select(e("dst").as("node")).distinct()
      .join(v, Seq("node"), "left_anti")
  }
}
