package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — the forward-
  * backward min-label "coloring" algorithm (Orzan 2004; the Pregel SCC
  * of Salihoglu & Widom SSDBM'14), the directed complement of q69's
  * undirected connected components. This is the web-graph curation
  * lens: Broder et al. WWW'00 showed the crawlable web is a bowtie —
  * one giant SCC, IN/OUT tendrils, disconnected whiskers — and "which
  * component is this page in?" decides whether a crawl frontier can
  * ever return to it (dedup/refresh policy differs for the core vs a
  * tendril).
  *
  * Per outer round over the UNRESOLVED subgraph:
  *   F(v) = min node id that can REACH v (forward min propagation to
  *   fixpoint), B(v) = min node id v can reach (the same propagation
  *   along reversed edges). F and B are SCC-invariants (members reach
  *   exactly the same ids), and F(v) = B(v) = c means c and v are
  *   MUTUALLY reachable with c = min(SCC(v)) — so each round labels
  *   whole SCCs, always including the one containing the globally
  *   minimal unresolved id; resolved nodes and their edges peel away
  *   and the rest re-run (a tendril chain resolves one link per round
  *   — the cascade the planted q155 specimen pins). Termination: ≥ 1
  *   SCC per round; maxRounds bounds the peel and non-convergence
  *   raises loudly.
  *
  * Scale shape: every propagation step is one edge equi-join + one
  * map-side-combined min aggregate — 2 shuffles, lineage truncated per
  * step (the KCore/PageRank discipline); convergence checks are exact
  * integer count-of-changes driver actions, never data collects. Inner
  * steps ≤ the unresolved subgraph's diameter; after round 1 removes
  * the giant SCC the remainder is tendril-sized. Labels are exact
  * longs, so the whole fixpoint is oracle-checkable bit-for-bit.
  */
object Scc {

  /** (node, scc) for every node of the directed edge list; scc = the
    * minimum node id of the strongly connected component (self-loops
    * ignored; isolated singletons only exist via some incident edge —
    * nodes are those appearing in the edge list). */
  def scc(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 12, maxPropSteps: Int = 40): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    PageRank.requireIntegral("scc", edges, srcCol, dstCol)
    var propSteps = 0L
    var e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    var nNodes = nodes.count()
    val spark = edges.sparkSession
    var resolved = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("scc",
          org.apache.spark.sql.types.LongType, nullable = false))))
    var round = 0
    while (nNodes > 0 && round < maxRounds) {
      round += 1
      // node-sized frames collapse to one partition: rounds after the
      // giant component resolves are tendril-sized, and 32-partition
      // shuffles of a dozen rows are pure scheduling overhead
      val one = nNodes < 100000
      val (fb, steps) = propagateFB(nodes, e, maxPropSteps, one)
      propSteps += steps
      val res0 = fb.filter(col("mf") === col("mb"))
        .select(col("node"), col("mf").as("scc"))
      val res = (if (one) res0.coalesce(1) else res0).localCheckpoint()
      resolved = resolved.unionByName(res).localCheckpoint()
      val nodes0 = nodes.join(broadcast(res.select(col("node"))),
        Seq("node"), "left_anti")
      nodes = (if (one) nodes0.coalesce(1) else nodes0).localCheckpoint()
      // the unresolved node set is answer-sized — broadcast it into the
      // edge restriction so the edge set is scanned once, never shuffled
      val e0 = e
        .join(broadcast(nodes.withColumnRenamed("node", "src")), Seq("src"), "left_semi")
        .join(broadcast(nodes.withColumnRenamed("node", "dst")), Seq("dst"), "left_semi")
      nNodes = nodes.count()
      e = (if (nNodes < 100000) e0.coalesce(1) else e0).localCheckpoint()
    }
    require(nNodes == 0,
      s"scc: $nNodes nodes unresolved after $maxRounds peel rounds — the " +
        "tendril cascade exceeds the bound; raise maxRounds")
    QueryLog.note("scc.roundsRun", round.toLong)
    QueryLog.note("scc.propSteps", propSteps)
    resolved
  }

  /** SIMULTANEOUS forward/backward min-label propagation to fixpoint:
    * (node, mf, mb) with mf = min id that reaches the node along `e`
    * and mb = min id the node reaches (both including itself). Fusing
    * the two directions into one loop matters because each step's cost
    * at local scale is dominated by fixed job latency, not data: the
    * label table is node-sized so it BROADCASTS into both edge joins
    * (each step scans the checkpointed edge set, no edge shuffle), the
    * checkpoint is LAZY, and the change-count action is the single job
    * that materializes it — one job per step for both directions.
    * Convergence = zero changed labels, read from the previous labels
    * carried THROUGH the aggregate (no compare join). Returns the labels
    * and the steps taken. */
  private def propagateFB(nodes: DataFrame, e: DataFrame,
      maxPropSteps: Int, one: Boolean): (DataFrame, Int) = {
    val nulL = lit(null).cast("long")
    var lab = nodes.select(col("node"), col("node").as("mf"),
      col("node").as("mb")).localCheckpoint()
    var changed = 1L
    var steps = 0
    while (changed > 0) {
      steps += 1
      require(steps <= maxPropSteps,
        s"scc: min-label propagation did not converge in $maxPropSteps " +
          "steps — diameter exceeds the bound; raise maxPropSteps")
      // forward labels flow src→dst; backward labels flow dst→src
      val movedF = broadcast(lab).join(e, col("node") === col("src"))
        .select(col("dst").as("node"), col("mf"), nulL.as("mb"),
          nulL.as("f0"), nulL.as("b0"))
      val movedB = broadcast(lab).join(e, col("node") === col("dst"))
        .select(col("src").as("node"), nulL.as("mf"), col("mb"),
          nulL.as("f0"), nulL.as("b0"))
      val cur = lab.select(col("node"), col("mf"), col("mb"),
        col("mf").as("f0"), col("mb").as("b0"))
      val nxt0 = movedF.unionByName(movedB).unionByName(cur)
        .groupBy(col("node"))
        // min ignores the nulls of the other direction's rows; cur
        // guarantees one non-null of each per node, and max(f0)/max(b0)
        // recover the unique previous labels
        .agg(min(col("mf")).as("mf"), min(col("mb")).as("mb"),
          max(col("f0")).as("f0"), max(col("b0")).as("b0"))
      val nxt = (if (one) nxt0.coalesce(1) else nxt0)
        .localCheckpoint(eager = false)
      changed = nxt.filter(col("mf") =!= col("f0") || col("mb") =!= col("b0"))
        .count()
      lab = nxt.select(col("node"), col("mf"), col("mb"))
    }
    (lab, steps)
  }
}
