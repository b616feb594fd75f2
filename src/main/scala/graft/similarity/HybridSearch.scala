package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse a LEXICAL ranking and a DENSE (embedding)
  * ranking with reciprocal-rank fusion (Cormack, Clarke & Büttcher,
  * SIGIR 2009) — the standard composition behind modern RAG search
  * stacks, where keyword match catches exact terminology the embedding
  * smooths over and the embedding catches paraphrases keywords miss.
  * RRF(d) = Σ_legs 1/(c + rank_leg(d)), documents absent from a leg
  * contribute nothing; c = 60 is the published default.
  *
  * Cross-engine exactness: each term is a SINGLE IEEE division of exact
  * integers, the fusion is a fixed-order two-term sum (+ 0.0 for an
  * absent leg — adding exact zero commutes), so the fused scores are
  * bit-identical on any engine; ties break on the candidate id. Fusion
  * inputs are leg-sized (queries × k rows), so the fuse join + rank
  * window are answer-sized regardless of corpus scale — the expensive
  * parts are the LEGS, each of which is an already-scale-audited
  * operator (ScoredTopK heap lexical leg here; Ann/Ivf/IvfPq dense
  * legs).
  */
object HybridSearch {

  /** Exact k-gram Jaccard top-k per query doc — the no-index lexical
    * leg: query shingle sets broadcast (a probe batch, never a corpus),
    * the corpus streams ONCE through per-query Jaccard + one map-side
    * ScoredTopK bounded heap (tasks×queries×k rows shuffle — no window
    * sort of scored rows; ties prefer the smaller id, matching
    * ORDER BY j DESC, id). Returns (q_id, rk, n_id, jaccard).
    *
    * This is the suite's ONE sanctioned broadcast-nested-loop: the
    * crossJoin is correct ONLY while the query side is a probe batch,
    * so `maxQueries` enforces that in-plan (the IntervalJoin maxCells
    * convention, made loud instead of lossy): a count over the query
    * batch rides its broadcast evaluation — no extra corpus scan — and
    * raises past the bound, where a silently-huge batch would turn the
    * leg into an all-pairs corpus product. The plan audit pins the intended
    * BroadcastNestedLoopJoin shape explicitly. */
  def jaccardTopK(docs: DataFrame, textCol: String, idCol: String,
      queryPred: Column, k: Int, gram: Int = 3,
      maxQueries: Int = 4096): DataFrame = {
    require(maxQueries >= 1, "maxQueries must be positive")
    val sh = graft.dedup.Dedup.hashedShingleSets(docs, textCol, idCol, gram)
    val qRaw = graft.dedup.Dedup
      .hashedShingleSets(docs.filter(queryPred), textCol, idCol, gram)
      .select(col("id").as("q_id"), col("sh").as("q_sh"))
    val nq = count(lit(1)).over(Window.partitionBy())
    val q = broadcast(qRaw
      .withColumn("__nq", nq)
      .select(
        when(col("__nq") > maxQueries,
          raise_error(lit(s"jaccardTopK: query batch exceeds maxQueries=" +
            s"$maxQueries — the query side is broadcast into a deliberate " +
            "probe-batch nested loop; split the batch or raise the bound")))
          .otherwise(col("q_id")).as("q_id"),
        col("q_sh")))
    sh.crossJoin(q).filter(col("id") =!= col("q_id"))
      .select(col("q_id"), col("id"),
        (size(array_intersect(col("sh"), col("q_sh"))).cast("double") /
          size(array_union(col("sh"), col("q_sh")))).as("j"))
      .groupBy("q_id")
      .agg(graft.functions.AggFunctions.scoredTopK(col("j"), col("id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("n_id"), col("col.score").as("jaccard"))
  }

  /** Reciprocal-rank fusion of two (q_id, rk, n_id) rankings: top-k per
    * query by Σ 1/(c + rk), candidate-id tie-break. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, c: Int = 60,
      k: Int = 5): DataFrame = {
    val l = lex.select(col("q_id"), col("n_id"), col("rk").as("lrk"))
    val d = dense.select(col("q_id"), col("n_id"), col("rk").as("drk"))
    val fused = l.join(d, Seq("q_id", "n_id"), "full_outer")
      .select(col("q_id"), col("n_id"),
        (coalesce(lit(1.0) / (lit(c.toDouble) + col("lrk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c.toDouble) + col("drk")), lit(0.0))).as("rrf"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("n_id"))
    fused.withColumn("frk", row_number().over(w)).filter(col("frk") <= k)
      .select(col("q_id"), col("frk").cast("int").as("rk"), col("n_id"), col("rrf"))
  }
}
