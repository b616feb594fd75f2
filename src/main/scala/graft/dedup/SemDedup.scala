package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-cluster) deduplication — the SemDeDup family
  * (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
  * through semantic deduplication", 2023): remove documents that are
  * *paraphrases* of each other, not near-copies. Every other dedup
  * operator in this package keys on SURFACE overlap (shingles, hashes,
  * LSH of the raw embedding); two documents saying the same thing in
  * different words share none of it, but their embeddings point the
  * same way — this operator catches exactly that class.
  *
  * Shape: k-means clusters the embedding corpus
  * ([[graft.similarity.KMeansInt]] — integer-exact, so the clustering
  * is reproducible on any engine), then WITHIN each cluster an exact
  * cosine pair join above `threshold` marks every vector dominated by a
  * smaller-id vector of its cluster; one representative (the cluster-
  * local id minimum of each similarity group) survives. The dominance
  * rule — drop b iff some a < b in the same cluster has cos(a,b) >
  * threshold — is deterministic and engine-portable (no transitive
  * closure needed for the drop decision; [[Dedup.connectedComponents]]
  * is the tool when full semantic GROUPS are wanted).
  *
  * Scale shape — why this survives 100 TB where an all-pairs cosine
  * join cannot: the pair join is an EQUI-join on the cluster id, so
  * candidate volume is Σ|C_i|² ≈ n²/k — with k grown with the corpus it
  * stays sub-quadratic, and since ASSIGNMENT costs O(n·k·d), the
  * balanced choice is k ≈ √n (both terms n^1.5·d — what q115 uses; any
  * fixed cluster-size recipe pushes one term quadratic). Cluster
  * partitioning bounds pairs exactly like IVF cells bound ANN probes,
  * and the assignment rides the codegen NearestCentroidL kernel. Byte-identical
  * vectors collapse to their min-id representative BEFORE pairing (the
  * q28/q111 exact-collapse discipline — a template-heavy corpus costs
  * class rows, never n² pairs); non-representatives are dominated by
  * their rep (cosine 1) by construction, and a rep is dominated by a
  * smaller id iff it is dominated by a smaller REP (every exact group's
  * minimum is its rep), so the collapse is answer-preserving.
  */
object SemDedup {

  /** Returns one row per input vector: (id, cluster, kept) — `kept` =
    * false iff a DOMINATING same-cluster vector sits above `threshold`
    * cosine. `keep` picks the dominance order (which member of a
    * similarity group survives):
    *   - "min_id" (default): the smallest id dominates — fully
    *     deterministic from ids alone, the oracle-checkable form (q115).
    *   - "far_from_centroid": the member FARTHEST from its cluster
    *     centroid dominates (ties to the smaller id) — the SemDeDup
    *     paper's diversity-preserving policy (keep the LOW-similarity-
    *     to-centroid representative, §3 of Abbas et al. 2023), using
    *     the integer-exact squared L2 distance the assignment already
    *     computes ([[graft.functions.VectorFunctions.centroidSqDistL]],
    *     the same codegen kernel family as assignment — O(1)-in-k plan).
    * Both orders are total and engine-portable (integer distance,
    * integer id), and for a clean similarity CLIQUE exactly one member
    * survives under either — the policy changes WHICH one, never how
    * many. `k`/`iters` parameterize the clustering; k ≈ √n balances
    * assignment against the within-cluster pair join (see above). */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double,
      keep: String = "min_id"): DataFrame = {
    import graft.functions.VectorFunctions.{centroidSqDistL, dotF}
    require(threshold > 0.0 && threshold < 1.0, s"threshold=$threshold outside (0,1)")
    require(keep == "min_id" || keep == "far_from_centroid",
      s"keep=$keep (expected min_id | far_from_centroid)")
    val (assigned, centroids) =
      graft.similarity.KMeansInt.fit(vecs, idCol, vecCol, k, iters)
    // exact-collapse: byte-identical vectors pair through one rep each.
    // Answer-preserving under BOTH orders: identical vectors share their
    // distance, so a group's min id is its order-minimum, and dominance
    // by any member implies dominance by that member's rep.
    val groups = Dedup.exactVectorGroups(vecs, vecCol, idCol) // (id, rep)
    val reps = groups.filter(col("id") === col("rep"))
      .select(col("id").as("__rep_id"))
    val dim = if (centroids.nonEmpty) centroids(0).length else 0
    val dst =
      if (keep == "far_from_centroid")
        centroidSqDistL(
          graft.similarity.KMeansInt.quantize(col(vecCol), 1000L),
          centroids.flatten, dim)
      else lit(0L)
    val base = assigned.join(reps, assigned(idCol) === col("__rep_id"))
      .select(col(idCol).as("rid"), col("cluster").as("cl"), col(vecCol).as("v"),
        sqrt(dotF(col(vecCol), col(vecCol))).as("nrm"), dst.as("dst"))
    val a = base.select(col("cl"), col("rid").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"), col("dst").as("d_a"))
    val b = base.select(col("cl"), col("rid").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"), col("dst").as("d_b"))
    // a dominates b: min_id → smaller id; far_from_centroid → larger
    // centroid distance, ties to the smaller id. Both antisymmetric, so
    // the condition halves the within-cluster candidate volume exactly
    // like the id inequality does.
    val dominates =
      if (keep == "far_from_centroid")
        col("d_a") > col("d_b") ||
          (col("d_a") === col("d_b") && col("id_a") < col("id_b"))
      else col("id_a") < col("id_b")
    // within-cluster dominance: candidates meet ONLY through the cluster
    // equi-join (the plan audit pins the absence of any cross-cluster pairing)
    val dominatedReps = a.join(b, "cl")
      .filter(dominates)
      .filter(dotF(col("v_a"), col("v_b")) / col("n_a") / col("n_b") > threshold)
      .select(col("id_b").as("id")).distinct()
    val dropped = groups.filter(col("id") =!= col("rep")).select("id")
      .unionByName(dominatedReps).distinct()
      .select(col("id").as("__drop_id"), lit(true).as("__drop"))
    assigned.join(dropped, assigned(idCol) === col("__drop_id"), "left")
      .select(assigned(idCol).as("id"), col("cluster"),
        col("__drop").isNull.as("kept"))
  }
}
