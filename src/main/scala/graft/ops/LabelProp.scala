package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by SYNCHRONOUS label propagation (Raghavan,
  * Albert & Kumara, Phys. Rev. E 2007) — the community member of the
  * graph family (connected components = grouping, PageRank = ranking,
  * BFS = reachability, triangles = cohesion, this = community): CC
  * merges everything reachable, LPA splits a connected graph into
  * densely-linked regions — domain clusters in a link graph, topical
  * communities in a citation/co-purchase graph, the pre-partitioning a
  * crawl scheduler or mixture builder consumes.
  *
  * Determinism is the design constraint (the repo's oracle discipline):
  * the classic ASYNC sweep is visit-order-dependent, so this is the
  * synchronized variant with a total-order vote — each round, every
  * node adopts the label winning (max count, then SMALLEST label) over
  * its in-neighbors' current labels PLUS ONE SELF-VOTE. The self-vote
  * makes isolated-in-a-direction nodes well-defined without a keep-old
  * branch and damps the two-coloring oscillation synchronous LPA
  * exhibits on bipartite structure; labels and counts are integers end
  * to end, so a DuckDB oracle unrolls rounds as chained CTEs (the
  * q100/q108 protocol) and matches bit-for-bit. The argmax rides
  * `max(struct(count, -label))` — an order-free aggregate, no per-node
  * window sort — equal to `ROW_NUMBER() OVER (ORDER BY n DESC, label)`.
  *
  * Scale shape (the PageRank discipline): the edge table is stored
  * once; per round exactly two shuffles — labels⋈edges equi-join on
  * src, then the (node, label) vote count with map-side combine; the
  * label table is node-sized; lineage is cut every round
  * ([[Lineage]]; a `checkpointDir` stays the session's checkpoint dir).
  * When the caller knows the node set is dimension-sized,
  * `broadcastLabels` drops the join exchange too (see run()); the
  * vote-count shuffle stays map-side combined either way — the combine
  * is what protects hub nodes from raw-vote skew, so it is never traded
  * away for one fewer exchange.
  */
object LabelProp {

  /** `edges`: directed (srcCol, dstCol); pass both directions for
    * undirected community semantics. Labels seed as the node's own id.
    * Returns (node, label) for every node appearing in `edges`.
    *
    * `broadcastLabels`: hint that the node set is dimension-sized (fits
    * one executor — entity graphs keyed by a dimension table, like q130's
    * supplier↔customer graph at every SF), turning the per-round
    * labels⋈edges join map-side: the vote stream is then built with NO
    * edge shuffle and the only exchange per round is the map-side-combined
    * vote count. The default stays false — the scale-safe shuffled join —
    * because at a billion-node graph the label table is itself corpus-
    * sized and must never broadcast (the q189 dropped-set rule: state the
    * bet's validity bound, keep the general path safe). Measured at sf0.1
    * (`examples/LpaProfile`, in the tree up to commit `778c0aa`; quiet 2nd
    * repeat): 17.7 → 11.9 cpu-s for 3 rounds. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, nIters: Int,
      checkpointDir: Option[String] = None,
      broadcastLabels: Boolean = false): DataFrame = {
    require(nIters >= 0, "nIters must be non-negative")
    PageRank.requireIntegral("LabelProp", edges, srcCol, dstCol)
    def truncate(df: DataFrame): DataFrame = Lineage.cut(df, checkpointDir)

    val e = truncate(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    var labels = truncate(
      e.select(col("src").as("node")).unionByName(e.select(col("dst").as("node")))
        .distinct().select(col("node"), col("node").as("label")))

    var i = 0
    while (i < nIters) {
      labels = truncate(round(e, labels, broadcastLabels))
      i += 1
    }
    labels
  }

  /** One synchronous vote round: neighbor labels stream through the
    * src equi-join, the self-vote unions in node-sized, and the argmax
    * is the order-free max(struct(n, −label)) aggregate. */
  private def round(e: DataFrame, labels: DataFrame,
      broadcastLabels: Boolean = false): DataFrame = {
    val labelSide = if (broadcastLabels) broadcast(labels) else labels
    val neighborVotes = e.join(labelSide, e("src") === labels("node"))
      .select(col("dst").as("node"), col("label"))
    neighborVotes.unionByName(labels) // the self-vote
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("n"))
      .groupBy(col("node"))
      .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("w"))
      .select(col("node"), (-col("w.neg")).as("label"))
  }

  /** One un-truncated round over the seed labeling — the plan PlanAuditSpec
    * audits (run()'s per-round truncation erases the join structure
    * from the query's final plan, the PageRank/Bfs convention). */
  def auditRound(edges: DataFrame, srcCol: String, dstCol: String,
      broadcastLabels: Boolean = false): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val labels = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().select(col("node"), col("node").as("label"))
    round(e, labels, broadcastLabels)
  }
}
