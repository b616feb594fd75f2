package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge.scannedFileCount

import graft.PlanAudits._

/** The plan audits that need their own build: the [[PlanAudits]] rows
  * that carry a `conf`, and the operator plans a query's final plan does
  * not show (per-round checkpoints, memoised index builds and pruned
  * layouts erase them). The rows without a `conf` are checked by
  * `QueriesSpec` on the build it already makes. */
class PlanAuditSpec extends SparkSpec {

  /** `w.query`'s plan, built and explained with `w.conf` set. */
  private def planUnder(w: Want): String = {
    def under(conf: List[(String, String)]): String = conf match {
      case (k, v) :: rest => withConf(k, v)(under(rest))
      case Nil => planOf(SparkEntry.queries(w.query)(spark, sfDir))
    }
    under(w.conf.toList)
  }

  private def assertHolds(checks: Seq[(String, Boolean)]): Unit = {
    val bad = failed(checks)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  private def norm(s: String) = new org.apache.hadoop.fs.Path(s).toUri.getPath

  test("each audit names a registered query once per conf and carries an assertion") {
    val unknown = audits.map(_.query).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"audits of unregistered queries: $unknown")
    val twice = audits.groupBy(w => (w.query, w.conf)).collect { case (k, ws) if ws.size > 1 => k }
    assert(twice.isEmpty, s"audited twice at the same conf: $twice")
    val empty = audits.filter(w => w.mustContain.isEmpty && w.mustNotContain.isEmpty).map(_.query)
    assert(empty.isEmpty, s"audits with no assertion: $empty")
  }

  test("audits that carry a conf hold on a build under that conf") {
    assertHolds(audits.filter(_.conf.nonEmpty).flatMap(w => checks(w, planUnder(w))))
  }

  test("a lost broadcast fails its audit: q3 planned without broadcasts fails 'dimension broadcast'") {
    val q3 = audits.find(w => w.query == "q3_join" && w.conf.isEmpty).get
    // q3 hints its broadcast, and a hint wins over the size threshold:
    // both must go for the broadcast to be lost
    val lost = q3.copy(conf = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.disableHints" -> "true"))
    assert(failed(checks(lost, planUnder(lost))).exists(_.contains("dimension broadcast")))
  }

  // The composed index's probe scan must prune to the probed cells at
  // plan and file level, shortlist through the bounded-heap aggregate,
  // and never fall back to a nested loop.
  test("ivfpq_probe: the probe scan prunes cells and reranks through the bounded heap") {
    val emb = sources.Tables.load(spark, sfDir, "embeddings")
    val ipath = Scratch.dir("graft_ivfpq").toString
    similarity.IvfPq.buildIndex(emb, "embedding", "vec_id",
      dim = 64, nCells = 16, m = 8, kCodes = 16, path = ipath)
    val plan = planOf(similarity.IvfPq.probeTopK(spark, ipath,
      emb.filter(col("vec_id") < 3), "embedding", "vec_id", k = 5, nProbe = 4, shortlist = 50))
    val all = spark.read.parquet(s"$ipath/data")
    val prunedScan = all.filter(col("cell").isInCollection(Seq(0, 1).map(Int.box)))
    assertHolds(Seq(
      "probe scan partition-pruned on cell" -> plan.contains("PartitionFilters: [cell"),
      "ADC shortlist + rerank via bounded heap" -> plan.contains("scored_top_k"),
      "cell filter reads a strict file subset" ->
        strictSubset(scannedFileCount(prunedScan), scannedFileCount(all)),
      "no nested-loop fallback" -> noNestedLoop(plan),
      "no cartesian" -> noCartesian(plan)))
  }

  // q28/q29's signature and banding stages run inside the collapse and
  // capped-bucket checkpoints, so their final plans cannot show the
  // kernels: pin them on the stage plans the pipelines band.
  test("dedup_kernels: signatures, band keys and simhash are native kernels") {
    import graft.dedup.Dedup
    val docs = sources.Tables.load(spark, sfDir, "documents").limit(10)
    val sigPlan = planOf(docs.select(Dedup.minHashSignature(col("text")).as("sig")))
    val simPlan = planOf(docs.select(Dedup.simHash64(col("text")).as("sim")))
    val bandPlan = planOf(docs.select(Dedup.lshBands(Dedup.minHashSignature(col("text")), 21, 3).as("b")))
    assertHolds(Seq(
      "native minhash signature kernel" -> sigPlan.contains("minhash_sig"),
      "native shingle-hash kernel" -> sigPlan.contains("word_shingle_hash"),
      "native band-key kernel, no lambda" ->
        (bandPlan.contains("lsh_band_keys") && !bandPlan.contains("lambda")),
      "native simhash kernel" -> simPlan.contains("simhash64")))
  }

  // q98: the scan Spark plans must read exactly the file subset the
  // footer zonemap manifest predicts for the key range, a strict subset
  // of the clustered layout, and the residual range filter must still
  // reach the scan.
  test("pruned_scan: the range scan reads exactly the manifest's strict file subset") {
    val cdir = ops.RelationalQueries.clusteredLineitem(spark, sfDir)
    val pruned = sources.Layout.readPrunedByRange(spark, cdir, "l_orderkey", 1000, 2000)
    val plan = planOf(pruned)
    val predicted = sources.Layout.prunedFiles(spark, cdir, "l_orderkey", 1000, 2000).map(norm).toSet
    val allFiles = spark.read.parquet(cdir).inputFiles.map(norm).toSet
    assertHolds(Seq(
      "scan file set equals the manifest prediction" -> (pruned.inputFiles.map(norm).toSet == predicted),
      "manifest admits a strict subset of the layout" -> strictSubset(predicted.size, allFiles.size),
      "residual range filter pushed to the scan" ->
        (plan.contains("GreaterThanOrEqual(l_orderkey") && plan.contains("LessThanOrEqual(l_orderkey"))))
  }

  // q136: the hash-distributed layout makes zonemaps useless by design,
  // so the Bloom manifest must do the pruning, and the residual IN filter
  // must reach the scan in the key's native type.
  test("bloom_scan: the point lookup reads exactly the Bloom manifest's strict file subset") {
    val (bdir, mdir) = ops.RelationalQueries.bloomOrders(spark, sfDir)
    val manifest = spark.read.parquet(mdir)
    val keys = Seq(7L, 1007L, 2007L, 3007L, 4007L)
    val pruned = sources.BloomIndex.readPruned(spark, bdir, manifest, "o_orderkey", keys)
    val predicted = sources.BloomIndex.keptFiles(spark, manifest, keys.map(String.valueOf)).map(norm).toSet
    val allFiles = spark.read.parquet(bdir).inputFiles.map(norm).toSet
    assertHolds(Seq(
      "scan file set equals the manifest prediction" -> (pruned.inputFiles.map(norm).toSet == predicted),
      "manifest admits a strict subset of the layout" -> strictSubset(predicted.size, allFiles.size),
      "residual IN filter pushed to the scan in native type" -> planOf(pruned).contains("In(o_orderkey")))
  }

  // The iterative operators truncate lineage every round, which erases
  // the join structure from their queries' final plans by design; these
  // audit one un-truncated round each.

  /** supplier-to-order edges of lineitem, one row per pair. */
  private def supplierOrderEdges(src: Column, dst: Column) =
    sources.Tables.load(spark, sfDir, "lineitem").select(src.as("src"), dst.as("dst")).distinct()

  test("pagerank_round (q100): rank messages flow through an equi-join into map-side sums") {
    val pairs = sources.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(sources.Tables.load(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("a"), concat(lit("c"), col("o_custkey")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    val plan = planOf(ops.PageRank.auditRound(edges))
    assertHolds(Seq(
      "rank messages via equi-join on src" -> equiJoin(plan),
      "map-side partial contribution sums" -> plan.contains("partial_sum"),
      "no cartesian" -> noCartesian(plan),
      "no nested-loop join" -> noNestedLoop(plan)))
  }

  test("bfs_round (q104): the frontier expands by equi-join and subtracts the visited set by anti-join") {
    val edges = supplierOrderEdges(concat(lit("s"), col("l_suppkey")), concat(lit("o"), col("l_orderkey")))
    val seeds = sources.Tables.load(spark, sfDir, "supplier")
      .filter(col("s_nationkey") === 0)
      .select(concat(lit("s"), col("s_suppkey")).as("node"))
    val plan = planOf(ops.Bfs.auditRound(edges, seeds))
    assertHolds(Seq(
      "frontier expands via equi-join on src" -> equiJoin(plan),
      "visited subtracted via anti-join" -> plan.contains("LeftAnti"),
      "no cartesian" -> noCartesian(plan),
      "no nested-loop join" -> noNestedLoop(plan)))
  }

  test("labelprop_round (q130): votes are map-side counts and the argmax is the struct-max aggregate") {
    val edges = supplierOrderEdges(col("l_suppkey") * 2, col("l_orderkey") * 2 + 1)
    val plan = planOf(ops.LabelProp.auditRound(edges, "src", "dst"))
    assertHolds(Seq(
      "neighbor labels via equi-join on src" -> equiJoin(plan),
      "map-side partial vote counts" -> plan.contains("partial_count"),
      "argmax is the struct-max aggregate, not a window" ->
        (plan.contains("partial_max") && !plan.contains("Window")),
      "no cartesian" -> noCartesian(plan),
      "no nested-loop join" -> noNestedLoop(plan)))
  }

  test("sssp_round (q142): labels relax through an equi-join into a map-side min per dst") {
    val edges = sources.Tables.load(spark, sfDir, "lineitem")
      .select((col("l_suppkey") * 2).as("src"), (col("l_orderkey") * 2 + 1).as("dst"), lit(1L).as("w"))
      .distinct()
    // non-literal node ids: a 1-row lit() label table would constant-fold
    // the equi-join into a filtered cross, which no real round plans
    val dist = spark.range(4).select((col("id") * 2).as("node"), lit(0L).as("dist"))
    val plan = planOf(ops.Sssp.relaxOnce(dist, edges))
    assertHolds(Seq(
      "labels flow through an equi-join on src" -> equiJoin(plan),
      "map-side partial min per dst" -> plan.contains("partial_min"),
      "no per-node window" -> !plan.contains("Window"),
      "no cartesian" -> noCartesian(plan),
      "no nested-loop join" -> noNestedLoop(plan)))
  }

  // q110: topPhraseDocs checkpoints the postings, erasing the build from
  // the query plan; postings come from a generator, adjacency from one
  // per-doc window, and nothing joins.
  test("phrase_index_build (q110): postings from a generator, adjacency from one window, no join") {
    val docs = sources.Tables.load(spark, sfDir, "documents")
    val plan = planOf(text.PhraseIndex.phraseCounts(docs, "text", "doc_id", 3))
    assertHolds(Seq(
      "postings from a generator" -> plan.contains("Generate"),
      "adjacency via the per-doc window" -> plan.contains("Window"),
      "no join in the build" -> !plan.contains("Join"),
      "no cartesian" -> noCartesian(plan)))
  }

  // q107: orient()'s checkpoints erase the closure joins from the final
  // plan, so audit them over a raw oriented edge list.
  test("triangle_closure (q107): wedge and closing joins are equi-joins") {
    val oriented = supplierOrderEdges(concat(lit("s"), col("l_suppkey")), concat(lit("o"), col("l_orderkey")))
    val plan = planOf(ops.Triangles.triangleTriples(oriented))
    assertHolds(Seq(
      "closure via equi-joins" -> equiJoin(plan),
      "no cartesian" -> noCartesian(plan),
      "no nested-loop join" -> noNestedLoop(plan)))
  }
}
