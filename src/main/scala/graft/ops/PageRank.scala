package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed PageRank as join-based message passing — the iterative
  * graph-analytics capability class beyond the repo's connected
  * components (dedup/Dedup.scala): importance ranking over an edge
  * list, the shape behind domain authority for crawl prioritization
  * and link-graph quality signals in web-corpus curation.
  *
  * Exactness across engines is the design constraint (every `queries`
  * entry must hash-match a DuckDB oracle): floating-point PageRank sums
  * are order-sensitive, so ranks here live in integer MICRO-UNITS and
  * the recurrence is all-integer —
  *
  *   r₀(v)   = 1_000_000
  *   rₜ₊₁(v) = 150_000  +  (85 · Σ_{u→v} (rₜ(u) div outdeg(u))) div 100
  *
  * i.e. damping 0.85 and teleport 0.15 at a 10⁶ scale, with truncating
  * integral division at both the per-edge split and the damping step.
  * Order-free integer sums + truncating div = bit-identical results on
  * any engine (Spark `div`, DuckDB `//` — both truncate toward zero on
  * the non-negative values used here). Dangling mass is NOT
  * redistributed (the damped-sink variant): a node with no out-edges
  * simply absorbs; callers wanting the stochastic-matrix variant can
  * add reverse edges, as the q100 bipartite graph does.
  *
  * Scale shape: one `outdeg` aggregation up front, then per iteration
  * exactly two shuffles — the edges⋈ranks equi-join on `src` and the
  * contribution `groupBy(dst)` with map-side partial sums. Edges are
  * the big side and never move more than once per round; ranks are
  * node-sized. Lineage is cut every round ([[Lineage]]; a `checkpointDir` stays the
  * session's checkpoint dir) so a
  * 50-iteration run plans as 50 small jobs, not one exponential tree.
  * Overflow headroom: Σ ranks stays ≤ n·10⁶, so the damping multiply is
  * < 2⁶³ up to ~10¹² nodes.
  *
  * The four entry points share one gate, one build ([[build]]) and one
  * loop ([[iterate]]); they differ only in the per-edge contribution,
  * the spine's teleport and an optional convergence stop. An edge list
  * at or under the graph family's answer-sized cap ([[AnswerSized]])
  * runs the same recurrence on the driver and returns a local relation
  * with the same rows and schema: at that size the distributed rounds
  * cost jobs, not data work.
  */
object PageRank {

  /** `edges`: directed (src, dst) columns of any equatable type
    * (integral ids at scale — half the shuffle width of strings);
    * self-loops allowed, duplicates meaningful (a doubled edge carries
    * double weight — pass `.distinct()` input for simple-graph
    * semantics). Returns one row per node appearing anywhere in
    * `edges`: (node, rank_mu). */
  def run(edges: DataFrame, nIters: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(nIters >= 0, "nIters must be non-negative")
    rank(edges, weighted = false, None, nIters, None, checkpointDir)._1
  }

  /** WEIGHTED PageRank — rank mass distributes proportionally to edge
    * weight instead of uniformly:
    *
    *   rₜ₊₁(v) = 150_000 + (85 · Σ_{u→v} ((rₜ(u) · w_e) div W_u)) div 100
    *
    * with W_u = Σ out-edge weights of u — the realistic form for trade
    * and link graphs, where q100's `.distinct()` throws away exactly
    * the multiplicity this variant consumes. Same all-integer
    * recurrence discipline (truncating div; order-free long sums), so
    * the fixpoint stays oracle-checkable (q175 unrolls it in SQL).
    * Weights must be POSITIVE integers — rejected loudly (a zero-total
    * node would divide by zero; negative mass never converges).
    * Overflow headroom: per-term r·w ≤ (1e6·|V|)·max-w must stay ≪ 2⁶³
    * — ~1e4 max-w at a billion nodes, stated. Same 2-shuffle round
    * shape as [[run]]. */
  def runWeighted(edges: DataFrame, nIters: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(nIters >= 0, "nIters must be non-negative")
    rank(edges, weighted = true, None, nIters, None, checkpointDir)._1
  }

  /** Personalized PageRank — relevance TO a seed set rather than global
    * authority (crawl-seed expansion: "which domains matter from these
    * trusted starting points?"): the teleport mass returns ONLY to the
    * seeds —
    *
    *   r₀(v)   = seed(v) ? 1_000_000 : 0
    *   rₜ₊₁(v) = (seed(v) ? 150_000 : 0)
    *             + (85 · Σ_{u→v} (rₜ(u) div outdeg(u))) div 100
    *
    * — the same all-integer recurrence as [[run]] with a seed-indicator
    * teleport, so it stays oracle-checkable (q122 unrolls it in SQL).
    * Same per-round scale shape. */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, nIters: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(nIters >= 0, "nIters must be non-negative")
    rank(edges, weighted = false, Some(seeds), nIters, None, checkpointDir)._1
  }

  /** [[run]] with convergence termination: integer ranks make the
    * between-round L1 delta EXACTLY computable (Σ|rₜ₊₁ − rₜ|, a
    * node-sized join + sum — cheap next to the round itself), so the
    * loop stops at the first round whose delta ≤ `tolMu` instead of
    * always burning `maxIters`. At tolMu = 0 that is a TRUE fixpoint —
    * every further round reproduces the same ranks bit-for-bit, so
    * early stop is answer-invariant (regular graphs converge in one
    * round; the damped recurrence contracts geometrically elsewhere).
    * Returns (ranks, roundsRun). */
  def runToFixpoint(edges: DataFrame, maxIters: Int, tolMu: Long = 0L,
      checkpointDir: Option[String] = None): (DataFrame, Int) = {
    require(maxIters >= 0 && tolMu >= 0, "maxIters and tolMu must be non-negative")
    rank(edges, weighted = false, None, maxIters, Some(tolMu), checkpointDir)
  }

  /** Mismatched src/dst types would make the union'd node spine (and the
    * per-round joins) lean on implicit cross-type coercion — which can
    * silently null a join instead of failing. Misuse fails loudly. */
  private[graft] def requireSameKeyType(edges: DataFrame): Unit = {
    val st = edges.schema("src").dataType
    val dt = edges.schema("dst").dataType
    require(st == dt, s"edge key types must match: src is $st, dst is $dt " +
      "(cast one side explicitly — integral ids halve shuffle width vs strings)")
  }

  private[graft] val Integral = Seq(ByteType, ShortType, IntegerType, LongType)

  /** Rejects a non-integral id column. A silent cast would turn
    * un-castable strings into NULLs (dropping their edges) and truncate
    * doubles (1.2 and 1.7 becoming one node 1): callers with such ids
    * should hash or dictionary-encode them first and get an error here,
    * not a quietly wrong answer. */
  private[graft] def requireIntegral(op: String, df: DataFrame, cols: String*): Unit =
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(Integral.contains(dt),
        s"$op: id column '$c' must be an integral type, got $dt " +
          "(hash or dictionary-encode string ids first)")
    }

  /** The shared path of the four entry points. The (src, dst[, w])
    * projection passes the answer-sized gate ([[AnswerSized]]): at or
    * under the cap the recurrence runs on the driver ([[onDriver]]) and
    * the ranks come back as a local relation; over it, with a reliable
    * `checkpointDir`, or with a key type other than integral or string,
    * [[build]] and [[iterate]] continue from the landed projection. The
    * rounds run are noted as `pagerank.roundsRun` ([[QueryLog]]). */
  private def rank(edges: DataFrame, weighted: Boolean, seeds: Option[DataFrame],
      maxIters: Int, tolMu: Option[Long], checkpointDir: Option[String]): (DataFrame, Int) = {
    requireSameKeyType(edges)
    val keyT = edges.schema("src").dataType
    seeds.foreach { s =>
      val seedT = s.schema("node").dataType
      require(seedT == keyT,
        s"seed node type $seedT must equal the edge key type (cast explicitly)")
    }
    val w = if (weighted) Seq(col("w").cast("long").as("w")) else Nil
    val projected = edges.select(col("src") +: col("dst") +: w: _*)
    val driverKeys = keyT == StringType || Integral.contains(keyT)
    val (ranks, rounds) =
      AnswerSized.collectIfUnder("pagerank", projected, checkpointDir, driverKeys) match {
        case Left(rows) => onDriver(rows, projected, weighted, seeds, maxIters, tolMu)
        case Right(landed) =>
          iterate(build(landed, weighted, seeds, checkpointDir), maxIters, tolMu, checkpointDir)
      }
    QueryLog.note("pagerank.roundsRun", rounds.toLong)
    (ranks, rounds)
  }

  private def requirePositiveWeight(bad: Option[Any]): Unit =
    require(bad.isEmpty, s"runWeighted: null or non-positive edge weight $bad — " +
      "weights must be positive integers")

  /** [[iterate]]'s recurrence over the landed (src, dst[, w]) rows, on
    * the driver, with the distributed plan's semantics: truncating
    * division, an overflow anywhere the plan would overflow under ANSI
    * arithmetic fails with an `ArithmeticException`, self-loops and
    * duplicate edges count once per row, and dangling nodes absorb. A
    * null id is a node of the spine (teleport only, as no join key
    * matches it); an edge from it is dropped, and an edge to it still
    * counts in its source's out-degree but its contribution reaches no
    * node. `runPersonalized`'s seeds come from one semi-join against the
    * landed nodes. Returns the ranks as a local relation and the rounds
    * run. */
  private def onDriver(rows: Array[Row], projected: DataFrame, weighted: Boolean,
      seeds: Option[DataFrame], maxIters: Int, tolMu: Option[Long]): (DataFrame, Int) = {
    val spark = projected.sparkSession
    if (weighted) requirePositiveWeight(rows.find(r => r.isNullAt(2) || r.getLong(2) <= 0L).map(_.get(2)))
    val index = scala.collection.mutable.HashMap[Any, Int]()
    val ids = scala.collection.mutable.ArrayBuffer[Any]()
    var hasNull = false
    def node(v: Any): Int =
      if (v == null) { hasNull = true; -1 }
      else index.getOrElseUpdate(v, { ids += v; ids.size - 1 })
    val src = rows.map(r => node(r.get(0)))
    val dst = rows.map(r => node(r.get(1)))
    val w = if (weighted) rows.map(_.getLong(2)) else rows.map(_ => 1L)
    val n = ids.size
    // the out-degree, or the weight total; an edge from null joins no total
    val total = new Array[Long](n)
    for (i <- rows.indices if src(i) >= 0) total(src(i)) = Math.addExact(total(src(i)), w(i))
    val keyField = projected.schema("src")
    val tele: Int => Long = seeds match {
      case None => _ => 150000L
      case Some(s) =>
        val nodes = spark.createDataFrame(ids.map(Row(_)).asJava,
          StructType(Seq(keyField.copy(name = "node"))))
        val seeded = s.select(col("node")).join(nodes, Seq("node"), "left_semi").collect()
          .map(r => index(r.get(0))).toSet
        v => if (v >= 0 && seeded(v)) 150000L else 0L
    }
    var r = Array.tabulate(n)(v => if (tele(v) > 0L) 1000000L else 0L)
    var rNull = if (tele(-1) > 0L) 1000000L else 0L
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      it += 1
      val sums = new Array[Long](n)
      var toNull = 0L // the plan's null-dst group: summed, then matched by no node
      for (i <- rows.indices if src(i) >= 0) {
        val s = src(i)
        val c = if (weighted) Math.multiplyExact(r(s), w(i)) / total(s) else r(s) / total(s)
        if (dst(i) >= 0) sums(dst(i)) = Math.addExact(sums(dst(i)), c)
        else toNull = Math.addExact(toNull, c)
      }
      val next = Array.tabulate(n)(v => Math.addExact(tele(v), Math.multiplyExact(85L, sums(v)) / 100L))
      tolMu.foreach { tol =>
        converged = (0 until n).foldLeft(0L)((d, v) => Math.addExact(d, math.abs(next(v) - r(v)))) <= tol
      }
      r = next
      rNull = tele(-1)
    }
    val out = ids.indices.map(v => Row(ids(v), r(v))) ++ (if (hasNull) Seq(Row(null, rNull)) else Nil)
    val schema = StructType(Seq(
      keyField.copy(name = "node", nullable = keyField.nullable || projected.schema("dst").nullable),
      // the plan types a round's `div` as nullable, the initial ranks not
      StructField("rank_mu", LongType, nullable = it > 0)))
    (spark.createDataFrame(out.asJava, schema), it)
  }

  /** A built graph: the src-partitioned edge store annotated for
    * `contrib` (the per-edge contribution expression) and the node
    * spine (node, tele) carrying each node's teleport. */
  private final case class Graph(edges: DataFrame, spine: DataFrame, contrib: String)

  /** The edge table is the big thing in this algorithm; it is stored
    * EXACTLY ONCE. Node ids keep the caller's type (integral ids halve
    * the shuffle bytes vs strings — encode composite identities
    * numerically at scale). Build: hash-partition the gate's landed
    * (src, dst[, w]) projection by src FIRST, cache, then derive the
    * per-source total (`outdeg`, or the weight total `wtot` when
    * `weighted`) and the annotated edge list WITHOUT further shuffles
    * (groupBy src and join on src both reuse the partitioning);
    * checkpointed Datasets keep their outputPartitioning, so every
    * round's edges⋈ranks join shuffles only the node-sized ranks side —
    * the edge table never moves again (the q94 write-once amortization,
    * in-memory form). The scratch copy is unpersisted as soon as the
    * edge store and spine materialize. The spine teleports 150000 to
    * every node, or — with `seeds` — to the seeds only, joined in once
    * at build time (zero per-round cost). */
  private def build(landed: DataFrame, weighted: Boolean, seeds: Option[DataFrame],
      checkpointDir: Option[String]): Graph = {
    val e0 = landed.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (weighted) {
      // bounded check; isNull clause because null <= 0 is null (filtered
      // out) — a NULL weight must fail as loudly as a non-positive one,
      // not silently deflate ranks through sum()'s null-dropping
      requirePositiveWeight(
        e0.filter(col("w").isNull || col("w") <= 0L).limit(1).collect().headOption.map(_.get(2)))
    }
    val total = if (weighted) sum(col("w")).as("wtot") else count(lit(1)).as("outdeg")
    val store = Lineage.cut(e0.join(e0.groupBy("src").agg(total), "src"), checkpointDir)
    val nodes = e0.select(col("src").as("node")).unionByName(e0.select(col("dst").as("node")))
      .distinct()
    val spine = seeds match {
      case None => Lineage.cut(nodes, checkpointDir).withColumn("tele", lit(150000L))
      case Some(s) =>
        val sd = s.select(col("node")).distinct().withColumn("__isSeed", lit(true))
        Lineage.cut(nodes.join(sd, Seq("node"), "left")
          .select(col("node"),
            when(col("__isSeed"), lit(150000L)).otherwise(lit(0L)).as("tele")), checkpointDir)
    }
    e0.unpersist(false)
    Graph(store, spine, if (weighted) "(r * w) div wtot" else "r div outdeg")
  }

  /** Up to `maxIters` rounds from r₀ = 1_000_000 on every node the spine
    * teleports to (0 elsewhere), cutting lineage every round. With
    * `tolMu` the loop also stops after the first round whose L1 delta
    * Σ|rₜ₊₁ − rₜ| is ≤ it. Returns (node, rank_mu) and the rounds run. */
  private def iterate(g: Graph, maxIters: Int, tolMu: Option[Long],
      checkpointDir: Option[String]): (DataFrame, Int) = {
    var ranks = g.spine.select(col("node"),
      when(col("tele") > 0L, lit(1000000L)).otherwise(lit(0L)).as("r"))
    var it = 0
    var converged = false
    while (it < maxIters && !converged) {
      it += 1
      val next = Lineage.cut(round(g.edges, g.spine, ranks, g.contrib), checkpointDir)
      tolMu.foreach { tol =>
        val delta = next.as("n").join(ranks.as("p"), col("n.node") === col("p.node"))
          .agg(coalesce(sum(abs(col("n.r") - col("p.r"))), lit(0L)).as("d"))
          .head.getLong(0)
        converged = delta <= tol
      }
      ranks = next
    }
    (ranks.select(col("node"), col("r").as("rank_mu")), it)
  }

  /** One power-iteration round as a declarative plan: the edges⋈ranks
    * equi-join on src, the map-side-combined sum of each edge's
    * `contrib` on dst, and the node-spine left join applying the spine's
    * per-node teleport (`tele` column) + damping. */
  private[graft] def round(edges: DataFrame, nodes: DataFrame, ranks: DataFrame,
      contrib: String = "r div outdeg"): DataFrame = {
    val sums = edges.join(ranks, edges("src") === ranks("node"))
      .select(edges("dst"), expr(contrib).as("c"))
      .groupBy("dst").agg(sum("c").as("s"))
    nodes.join(sums, nodes("node") === sums("dst"), "left")
      .select(nodes("node"),
        (nodes("tele") + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
  }

  /** The un-truncated round-1 plan over raw `edges` — what PlanAuditSpec
    * audits (run()'s per-round checkpoints erase the join structure
    * from the final query plan by design). */
  private[graft] def auditRound(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
    round(e.join(deg, "src"), nodes.withColumn("tele", lit(150000L)),
      nodes.withColumn("r", lit(1000000L)))
  }
}
