package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source shortest paths by distributed Bellman–Ford
  * relaxation — the WEIGHTED distance the graph family lacked: [[Bfs]]
  * counts hops (every edge costs 1); this minimizes an integer edge
  * weight sum (latency-weighted link graphs, trust/cost propagation,
  * min-quantity trade routes). After r rounds every distance label is
  * the exact shortest-path length among paths of at most r edges — the
  * textbook Bellman–Ford invariant — so a fixed-round run is a
  * well-defined, oracle-checkable operator (the q100/q130 unrolling
  * protocol), and `runToFixpoint` keeps relaxing until labels stop
  * changing, which on non-negative weights is the true SSSP answer.
  *
  * All arithmetic is integer (long distances, long weights): label
  * updates are min() over exact sums, order-free and engine-portable
  * with no float protocol. Unlike BFS, a settled node CAN improve in a
  * later round (a longer-hop but lighter path), so there is no visited
  * set — each round relaxes every edge whose source has a label.
  *
  * Scale shape: per round one shuffled equi-join (labels⋈edges on src —
  * the edge table is hash-partitioned by src ONCE and never moves
  * again) and one map-side-combined min per dst; labels are node-sized.
  * Lineage is cut every round ([[Lineage]]; a `checkpointDir` stays the
  * session's checkpoint dir). The fixpoint delta test is
  * an exact integer anti-join count (changed labels), node-sized and
  * cheap next to the round — the `runToFixpoint` discipline PageRank
  * established, answer-invariant at tol 0 by construction.
  *
  * Overflow headroom: distances sum at most |V|−1 weights, so labels
  * stay exact for any realistic graph (2⁶³ ≫ max-weight · |V|).
  */
object Sssp {

  /** `edges`: directed (src, dst, w) with non-negative long weights
    * (negative weights rejected at plan level — Bellman–Ford tolerates
    * them but `runToFixpoint` would not terminate on negative cycles).
    * Returns (node, dist) for every node with a ≤`rounds`-edge path
    * from `source`; dist is the exact minimum weight sum over such
    * paths. */
  def runRounds(edges: DataFrame, source: Long, rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 0, "rounds must be non-negative")
    relax(edges, source, rounds, toFixpoint = false, checkpointDir)._1
  }

  /** One relaxation round: dist' = min(dist, min over incoming edges of
    * dist(src) + w). Exposed un-truncated for PlanAuditSpec's round audit. */
  def relaxOnce(dist: DataFrame, edges: DataFrame): DataFrame =
    dist.unionByName(
        edges.join(dist.withColumnRenamed("node", "src"), "src")
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist")))
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))

  /** Relax until no label changes (true SSSP on non-negative weights),
    * bounded by `maxRounds`. Returns (labels, roundsRun). The delta test
    * is exact: a changed label is an integer inequality, so convergence
    * is a real fixpoint, not a float tolerance. */
  def runToFixpoint(edges: DataFrame, source: Long, maxRounds: Int,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    require(maxRounds >= 1, "maxRounds must be >= 1")
    relax(edges, source, maxRounds, toFixpoint = true, checkpointDir)
  }

  /** Up to `maxRounds` relaxation rounds from `source`, cutting lineage
    * every round; with `toFixpoint` the loop also stops after the first
    * round that changes no label. Returns (labels, roundsRun). */
  private def relax(edges: DataFrame, source: Long, maxRounds: Int, toFixpoint: Boolean,
      checkpointDir: Option[String]): (DataFrame, Int) = {
    PageRank.requireSameKeyType(edges)
    val e = Lineage.cut(edges
      .select(col("src"), col("dst"),
        // fail loudly on a negative weight (would loop forever in
        // runToFixpoint / return a non-shortest label) AND on NULL —
        // min() ignores nulls, so a NULL-weight edge would silently
        // relax nothing, as if the edge did not exist (the PageRank
        // r12 null-rejection discipline)
        when(col("w").isNull || col("w") < 0,
          raise_error(concat(lit("Sssp: negative or NULL edge weight "),
            coalesce(col("w").cast("string"), lit("NULL")))))
          .otherwise(col("w").cast("long")).as("w"))
      .repartition(col("src")), checkpointDir)
    // the source label keeps the edge key type — a long literal against
    // int keys would ride implicit coercion through every round's join
    var dist = Lineage.cut(e.sparkSession.range(1)
      .select(lit(source).cast(edges.schema("src").dataType).as("node"),
        lit(0L).as("dist")), checkpointDir)
    var r = 0
    var changed = true
    while (changed && r < maxRounds) {
      val next = Lineage.cut(relaxOnce(dist, e), checkpointDir)
      // changed iff some (node, dist) in next is absent from dist —
      // labels only ever appear or decrease, so set difference is the
      // whole delta; node-sized anti-join, exact integer equality
      if (toFixpoint)
        changed = next.join(dist, Seq("node", "dist"), "left_anti").limit(1).count() > 0
      dist = next
      r += 1
    }
    (dist.orderBy(col("node")), r)
  }
}
