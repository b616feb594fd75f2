package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.AggFunctions
import graft.text.TextAnalysis

/** Training-corpus preparation operators beyond cleaning/dedup: the stages
  * a large-scale LLM data pipeline runs between "filtered corpus" and
  * "batches on the trainer" — benchmark decontamination, repetition
  * scoring, context-window packing, domain-mixture resampling. All are
  * single-projection or single-window transforms: no driver-side state,
  * nothing that degrades at corpus scale.
  */
object TrainingPrep {

  /** Benchmark decontamination: drop every document sharing at least one
    * word k-gram with the benchmark corpus (the standard guard against
    * evaluation leakage into training data; k≈8-13 words in published
    * pipelines — small k over-matches, large k under-matches).
    *
    * Scale shape: the benchmark side (eval suites) is tiny by nature →
    * its distinct k-grams broadcast; the corpus side streams through one
    * explode + broadcast semi-join, so the only shuffle is the distinct
    * over CONTAMINATED ids — answer-sized. Documents shorter than k words
    * fall back to a whole-text gram on both sides (exact-match semantics
    * for short texts, same rule as [[graft.text.Shingling.wordShingles]]). */
  def decontaminate(docs: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int = 8): DataFrame = {
    // grams travel as 61-bit hashes (native codegen kernel), not k-word
    // strings: ~8x less bytes through the corpus-side explode and a long
    // equi-join instead of string comparison — measured 4.2s -> 1.3s on
    // the sf0.1 bench corpus. Hashing can only over-drop (a clean doc
    // colliding with a benchmark gram): expected false drops =
    // |corpus grams|·|bench grams| / 2^61 — under one even at a 10^10-gram
    // corpus against a 10^5-gram benchmark, and the failure direction is
    // the safe one for decontamination.
    def grams(c: Column) = graft.functions.HashFunctions.wordShingleHash(
      TextAnalysis.normalize(c), k, DecontaminatePrime)
    val docGrams = docs.select(col(idCol), explode(grams(col(textCol))).as("g"))
    val benchGrams = benchmark.select(explode(grams(col(benchTextCol))).as("g"))
      .distinct()
    val contaminated = docGrams.join(broadcast(benchGrams), "g")
      .select(idCol).distinct()
    docs.join(contaminated, Seq(idCol), "left_anti")
  }

  /** 2^61 - 1 (Mersenne prime): big enough that gram-hash collisions are
    * negligible at corpus scale (unlike MinHash's 2^31 - 1, whose small
    * range exists for overflow-safe permutation arithmetic). */
  private val GramHashPrime = 2305843009213693951L
  private def DecontaminatePrime = GramHashPrime

  /** Repetition score (Gopher/C4-family quality signal): the fraction of a
    * document's word k-grams that are repeats of an earlier k-gram —
    * 0.0 = no repetition, → 1.0 for degenerate loop spam. Documents
    * shorter than k words score 0. Pure codegen projection. */
  def repetitionScore(text: Column, k: Int = 3): Column = {
    val toks = split(TextAnalysis.normalize(text), " ", -1)
    val total = size(toks) - (k - 1)
    // distinct-gram COUNT through the native hashed kernel (one pass, no
    // k-word strings); equals the string-distinct count absent a
    // within-document 61-bit collision (~n²/2^62 per doc — negligible)
    val distinctGrams = size(graft.functions.HashFunctions.wordShingleHash(
      TextAnalysis.normalize(text), k, GramHashPrime))
    when(size(toks) < k, lit(0.0))
      .otherwise(lit(1.0) - distinctGrams.cast("double") / total)
  }

  /** Greedy context-window packing: assign documents to fixed-size token
    * sequences (the "pack short documents into one context window"
    * trainer-prep step). Deterministic and engine-portable: documents are
    * hash-sharded ([[Sampling.shard]] — md5-based, reproducible anywhere),
    * ordered by id within the shard, and a document starting at running
    * token offset t goes to sequence floor(t / ctxTokens).
    *
    * Scale shape: one shuffle (the per-shard window); shards bound each
    * window partition (pick shards ≈ cores × a few at any corpus size),
    * so no partition ever holds more than corpus/shards rows — this is
    * the operator that replaces the driver-side "concatenate everything
    * then split" loop that cannot scale. */
  def packSequences(docs: DataFrame, textCol: String, idCol: String,
      ctxTokens: Int, shards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
    docs.select(col(idCol),
        TextAnalysis.wsTokenCount(col(textCol)).as("n_tok"),
        Sampling.shard(col(idCol), shards, salt = "pack").as("shard"))
      .withColumn("cum", sum(col("n_tok").cast("long")).over(w))
      .select(col(idCol), col("shard"), col("n_tok"),
        floor((col("cum") - col("n_tok")) / lit(ctxTokens.toDouble)).cast("long")
          .as("seq_id"))
  }

  /** Leakage-safe train/val/test split (q182's operator form): the
    * assignment unit is the NEAR-DUP CLUSTER, not the document — a
    * held-out doc whose near-duplicate sits in train is contamination
    * (the split-level form of the q58 decontamination problem), and a
    * per-doc md5 split plants exactly that bug. Clusters come from the
    * caller's verified near-dup pairs (q28/q69 machinery) as connected
    * components; docs in no pair are their own singleton cluster. The
    * cluster's md5 shard decides the bucket and every member inherits
    * it, so near-dups can never straddle splits BY CONSTRUCTION.
    * Deterministic and engine-portable (the [[Sampling.shard]]
    * discipline — bucket is a pure md5 function of the cluster rep).
    * Note the quota caveat: assignment ∝ clusters, so split sizes land
    * within cluster-size noise of trainPct/valPct — the price of zero
    * leakage, stated. Returns (id, cluster_id, split). */
  def splitByCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 80, valPct: Int = 10, salt: String = "split"): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"bad split percentages train=$trainPct val=$valPct")
    val cl = graft.dedup.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id"), col("cluster_id"))
    val withCl = docs.select(col(idCol).as("id"))
      .join(cl, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val b = Sampling.shard(col("cluster_id"), 100, salt)
    withCl.select(col("id"), col("cluster_id"),
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test").as("split"))
  }

  /** Domain-mixture resampling: keep each document with a per-source
    * probability (the "raise Wikipedia, downsample CommonCrawl" mixing
    * step), deterministically — the keep decision is a pure md5 function
    * of the id, so the same mixture is reproducible on any engine and
    * auditable row by row. `permille(source)` gives the keep rate in
    * thousandths. One codegen'd filter; no shuffle. */
  def sampleByDomain(docs: DataFrame, idCol: String,
      permille: Column): DataFrame =
    docs.filter(Sampling.shard(col(idCol), 1000, salt = "mix") < permille)

  /** Exact-size stratified sample: the `n` rows per stratum with the
    * smallest md5 rank (eval-set carving, per-domain spot-check pulls —
    * [[sampleByDomain]]'s Bernoulli sampling can't promise "exactly n per
    * source"). Deterministic and engine-portable like every Sampling op:
    * the rank is a pure md5 function of the id, so any engine re-derives
    * the same n rows.
    *
    * Scale shape: per-stratum top-n runs through the ScoredTopK bounded
    * heap — map-side partials shuffle tasks×strata×n entries, NEVER a
    * per-stratum Window sort of the full corpus (the q54/plan-audit rule).
    * Rank collisions (~rows²/2·10⁹ per stratum) tie-break on the smaller
    * id identically in the heap and in `ORDER BY h, id` SQL. */
  def stratifiedSample(docs: DataFrame, idCol: String, strataCol: String,
      n: Int, salt: String = "strat"): DataFrame = {
    // 1e9 buckets: exact as double (< 2^53) for the heap's score order
    val rank = Sampling.shard(col(idCol), 1000000000, salt).cast("double")
    docs
      .groupBy(col(strataCol))
      .agg(AggFunctions.scoredTopK(-rank, col(idCol), n).as("tk"))
      .select(col(strataCol), posexplode(col("tk")))
      .select(col(strataCol), (col("pos") + 1).cast("int").as("smp_rank"),
        col("col.id").as(idCol))
  }

  /** Deterministic hard-negative sampling for contrastive training: for
    * each anchor, the k pseudo-random negatives among candidates from a
    * DIFFERENT source (the standard guard against in-batch negatives
    * that are secretly near-duplicates of the anchor — same-source
    * documents share templates/boilerplate). The draw is the md5 shard
    * discipline ([[Sampling.shard]]): rank = md5('neg:'a':'cand) mod 1e9,
    * disambiguated by candidate id into a single exact-in-double score,
    * so the sample is reproducible row-by-row on any engine — the same
    * property the epoch/stratified samplers guarantee.
    *
    * Scale shape: anchors broadcast (anchor sets are small — a probe
    * batch, not a corpus), candidates stream through ONE map-side
    * bounded-heap aggregate (`scored_top_k`) — no per-anchor window sort
    * of the corpus, shuffle is |anchors| × k heaps. */
  def negativeSample(docs: DataFrame, idCol: String, sourceCol: String,
      anchors: DataFrame, k: Int, salt: String = "neg"): DataFrame = {
    val rank = conv(substring(md5(concat_ws(":", lit(salt), col("a_id"),
      col(idCol))), 1, 15), 16, 10).cast("long") % 1000000000L
    val score = (rank * 65536L + pmod(col(idCol), lit(65536L))).cast("double")
    docs.select(col(idCol), col(sourceCol))
      .crossJoin(broadcast(anchors.select(col("a_id"), col("a_source"))))
      .filter(col(sourceCol) =!= col("a_source"))
      .groupBy(col("a_id"))
      .agg(graft.functions.AggFunctions.scoredTopK(-score, col(idCol), k).as("tk"))
      .select(col("a_id"), posexplode(col("tk")))
      .select(col("a_id"), (col("pos") + 1).cast("int").as("neg_rank"),
        col("col.id").as("neg_id"))
  }

  /** Fractional-epoch upsampling: emit `weightPermille/1000` copies of
    * each document, with the fractional remainder resolved per-document by
    * the same md5 shard draw as [[sampleByDomain]] (weight 2500‰ = every
    * doc twice, plus a deterministic half of them a third time — the
    * "3.5 epochs of Wikipedia, 0.3 epochs of CC" mixing step, exact in
    * expectation AND reproducible row by row). Output rows carry
    * `epoch_i` in [1, n_copies]; weight < 1000‰ downsamples (0-copy rows
    * vanish), so this subsumes [[sampleByDomain]] while adding the
    * upsampling half. One codegen'd projection + explode; no shuffle. */
  def epochUpsample(docs: DataFrame, idCol: String,
      weightPermille: Column, salt: String = "epoch"): DataFrame = {
    val whole = floor(weightPermille.cast("long") / 1000).cast("int")
    val extra = when(
      Sampling.shard(col(idCol), 1000, salt) < pmod(weightPermille.cast("long"), lit(1000L)),
      1).otherwise(0)
    docs.withColumn("n_copies", (whole + extra).cast("int"))
      .filter(col("n_copies") >= 1)
      .withColumn("epoch_i", explode(sequence(lit(1), col("n_copies"))))
  }

  /** Benchmark-contamination score: per document, the fraction of its
    * distinct word k-grams that appear anywhere in the benchmark corpus —
    * the graded companion to [[decontaminate]]'s binary any-gram drop
    * (published pipelines threshold this ratio instead of dropping on one
    * shared gram, which over-fires on boilerplate). Returns one row per
    * document with ≥1 shared gram: (id, n_grams, n_hit, score) —
    * answer-sized, clean docs never leave the map side.
    *
    * Same scale shape as [[decontaminate]]: benchmark grams broadcast as
    * 61-bit hashes, the corpus side is one explode + broadcast join +
    * per-doc count; collisions can only nudge a score up by ~1/n_grams
    * at 10⁻¹³ probability (same arithmetic as the decontaminate note). */
  /** Bigram language-model quality score (the CCNet/KenLM-family signal):
    * per document, the total log-likelihood of its word bigrams under the
    * corpus's own MLE bigram model — P(w2|w1) = c(w1 w2) / c(w1 ·) with
    * counts from the corpus being scored, so every observed bigram has
    * positive probability and no smoothing constant enters the contract.
    * Repetitive/templated text scores high (its transitions dominate the
    * model), token-salad spam scores low — threshold `ll_u / n_bigrams`
    * to filter.
    *
    * Cross-engine float discipline (the q81 rule, extended to unbounded
    * term counts): a per-doc SUM of doubles is shuffle-order-dependent,
    * so each bigram's log-prob is integerized FIRST — lp_u =
    * floor(ln(c12/c1)·1e6), one correctly-rounded division + one ln +
    * one floor — and the per-doc total is an exact long sum, which
    * commutes. A last-ulp ln() disagreement shifts one lp_u only on a
    * measure-zero floor boundary.
    *
    * Scale shape: bigram counts are corpus-sized (NOT broadcastable — a
    * web corpus has billions of distinct bigrams), so both count joins
    * are linear shuffle equi-joins on the bigram/prefix key; everything
    * else is projections. Returns (id, n_bigrams, ll_u); docs with fewer
    * than two tokens drop out. */
  /** DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw doc by how target-like its hashed n-gram feature
    * distribution is. Features are word bigrams hashed into `buckets`
    * slots (the paper's hashed n-gram model; the md5-prefix hash is the
    * house-portable one); the raw and target corpora each induce a
    * bucket distribution (+1 smoothed), and a doc's log importance
    * weight is the exact sum of its occurrences' per-bucket log-ratios:
    * w = Σ_f c_f(doc) · (ln p̂_target[f] − ln p̂_raw[f]). Resampling
    * keeps docs ∝ exp(w); the deterministic surface is the weight
    * itself plus the sign verdict (w > 0 ⇔ the doc looks more target
    * than raw — the paper's acceptance direction).
    *
    * Per-bucket log-ratios integerize to micro-nats BEFORE the per-doc
    * sum (the [[bigramLmScore]] rule — exact long addition commutes).
    *
    * Scale shape: feature extraction is map-side (generator fan-out +
    * hash); BOTH distributions are map-side-combined histograms over a
    * FIXED bucket vocabulary (the table is `buckets` rows — answer-
    * sized by construction, the whole point of hashed features at
    * 100 TB); the ratio table BROADCASTS onto the feature stream; the
    * per-doc weight is one map-side-combined sum — the only corpus-
    * keyed exchange in the operator. The target membership predicate
    * evaluates on the raw stream (no join against a target table; DSIR
    * with a separate target corpus unions it in upstream). */
  def dsirWeights(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int = 1024): DataFrame =
    dsirWeightsAgainst(docs, textCol, idCol, isTarget,
      dsirCounts(docs, textCol, idCol, isTarget, buckets), buckets)

  /** The hashed-bigram feature stream (id, is_tgt, f) both DSIR passes
    * ride — the count build and the scoring pass. */
  private def dsirFeatureStream(docs: DataFrame, textCol: String,
      idCol: String, isTarget: Column, buckets: Int): DataFrame = {
    val toks = docs
      .select(col(idCol), isTarget.as("is_tgt"),
        split(TextAnalysis.normalize(col(textCol)), " ", -1).as("t"))
      .filter(size(col("t")) >= 2)
    toks.select(col(idCol), col("is_tgt"),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
      .select(col(idCol), col("is_tgt"),
        pmod(conv(substring(md5(concat(lit("dsir:"), col("bg"))), 1, 15), 16, 10)
          .cast("long"), lit(buckets.toLong)).as("f"))
  }

  /** DSIR's sufficient statistic: the per-bucket (c_raw, c_tgt)
    * histogram pair, built in ONE map-side-combined pass — ≤ `buckets`
    * rows, and counts over a union of shards merge by ADDITION, which
    * is what makes the distributions a maintainable streaming artifact
    * ([[graft.streaming.StreamingDsir]], the StreamingLm discipline). */
  def dsirCounts(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int = 1024): DataFrame =
    dsirFeatureStream(docs, textCol, idCol, isTarget, buckets)
      .groupBy(col("f")).agg(
        count(lit(1)).as("c_raw"),
        sum(when(col("is_tgt"), 1L).otherwise(0L)).as("c_tgt"))

  /** Score `docs` against a prebuilt (f, c_raw, c_tgt) histogram table —
    * the release-time pass: totals and the log-ratio table derive from
    * the histogram itself (answer-sized), broadcast onto the corpus
    * feature stream exactly like [[dsirWeights]]'s inline build.
    *
    * The feature stream LEFT-joins the ratio table: a doc feature
    * hashing to a bucket the supplied histogram never saw (possible
    * whenever the histogram was fit on a different/earlier corpus — the
    * advertised release-time use) falls back to the smoothing-only
    * log-ratio lr0_u (both counts 0 under the same +1 smoothing), never
    * a silently dropped occurrence — the [[nbScoreAgainst]] w0_u rule. */
  def dsirWeightsAgainst(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, hist: DataFrame, buckets: Int = 1024): DataFrame = {
    val feat = dsirFeatureStream(docs, textCol, idCol, isTarget, buckets)
    val tot = hist.agg(sum(col("c_raw")).as("rtot"), sum(col("c_tgt")).as("ttot"))
    val dist = hist.crossJoin(broadcast(tot)) // 1-row scalar join
      .select(col("f"),
        floor((log((col("c_tgt") + lit(1.0)) / (col("ttot") + lit(buckets.toDouble)))
          - log((col("c_raw") + lit(1.0)) / (col("rtot") + lit(buckets.toDouble))))
          * 1e6).cast("long").as("lr_u"))
    // the unseen-bucket default: dist's formula at c_tgt = c_raw = 0,
    // spelled with the same log shapes so a seen-once bucket and the
    // fallback can never disagree on rounding conventions
    val consts = tot.select(
      floor((log(lit(1.0) / (col("ttot") + lit(buckets.toDouble)))
        - log(lit(1.0) / (col("rtot") + lit(buckets.toDouble))))
        * 1e6).cast("long").as("lr0_u"))
    feat.join(broadcast(dist), Seq("f"), "left")
      .crossJoin(broadcast(consts)) // 1-row scalar join
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_feats"),
        sum(coalesce(col("lr_u"), col("lr0_u"))).as("w_u"))
      .withColumn("keep", col("w_u") > 0)
  }

  /** α-power language sampling (the mC4/mT5 recipe — Xue et al.
    * NAACL'21 §3.1, after Devlin's mBERT exponent trick): a
    * multilingual corpus sampled uniformly buries low-resource
    * languages, so language l is sampled with probability ∝ n_l^α
    * (α ≈ 0.3 published) — flattening the size distribution without
    * inverting it. Given a doc budget `budgetPermille`·N/1000, the
    * per-doc keep rate for language l is r_l = B·p_l/n_l (capped at 1),
    * applied by DETERMINISTIC hash thresholding — no per-language rank
    * window, no shuffled sampling state.
    *
    * Integer protocol: w_u(l) = floor(exp(α·ln n_l)·10⁶) integerizes
    * per language BEFORE the weight-sum (exact long addition — a float
    * Σ over languages would be engine-order-dependent), and the rate is
    * all-integer from there: rate_u = min(10⁶, (B·w_u·10⁶) div
    * (W_u·n_l)).
    *
    * Scale shape: ONE map-side-combined language count; weights and
    * rates live on the answer-sized language table (the 1-row total is
    * the only nested-loop join); rates BROADCAST back onto the doc
    * stream and the keep verdict is a map-side hash compare. Returns
    * the per-language summary (lang, n_docs, w_u, rate_u, n_kept). */
  def alphaSampleSummary(docs: DataFrame, langCol: String, idCol: String,
      alpha: Double = 0.3, budgetPermille: Int = 500): DataFrame = {
    val counts = docs.groupBy(col(langCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_u",
        floor(exp(lit(alpha) * log(col("n_docs").cast("double"))) * 1e6)
          .cast("long"))
    val tot = counts.agg(sum(col("w_u")).as("wtot"), sum(col("n_docs")).as("ntot"))
    val rates = counts.crossJoin(broadcast(tot)) // 1-row scalar join
      // two-step division for overflow headroom: share = the language's
      // doc budget (≤ B), then the per-doc rate — B·w_u stays < 2⁶³ up
      // to ~10⁹ docs × w_u 5·10⁸ (stated); the oracle mirrors both
      // truncation points
      .withColumn("rate_u", least(lit(1000000L), expr(
        s"((((ntot * $budgetPermille) DIV 1000) * w_u) DIV wtot * 1000000L) DIV n_docs")))
      .select(col(langCol), col("n_docs"), col("w_u"), col("rate_u"))
    val kept = docs.join(broadcast(rates), Seq(langCol))
      .filter(pmod(conv(substring(md5(concat(lit("alpha:"),
          col(idCol).cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(1000000L)) < col("rate_u"))
      .groupBy(col(langCol)).agg(count(lit(1)).as("n_kept"))
    // both sides are language-table-sized; hint the kept side so the
    // answer assembly can never degrade to a sort-merge join (the
    // unhinted join was planner-flaky — an SMJ appeared in one
    // plan-audit pass)
    rates.join(broadcast(kept), Seq(langCol), "left")
      .select(col(langCol), col("n_docs"), col("w_u"), col("rate_u"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The per-doc bigram stream (id, bg) — shared by the model build
    * and the scoring pass. */
  private def docBigramStream(docs: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol), split(TextAnalysis.normalize(col(textCol)), " ", -1).as("t"))
      .filter(size(col("t")) >= 2)
    toks.select(col(idCol),
      explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bg"))
  }

  /** The MLE bigram model's sufficient statistic: (bg, c12) counts —
    * SUM-mergeable (counts over a union of shards add), which is what
    * makes the model a maintainable ARTIFACT: a streaming ingest lands
    * per-batch count partials and the release model is their merge,
    * never a corpus recount ([[graft.streaming.StreamingLm]]). */
  def bigramCounts(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docBigramStream(docs, textCol, idCol)
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))

  /** Score `docs` against a prebuilt (bg, c12) model table — the
    * release-time pass: the c1 prefix marginals derive from the model
    * itself (vocabulary-sized), and the doc stream equi-joins the model
    * on the bigram key exactly like [[bigramLmScore]]'s inline build. */
  def bigramLmScoreAgainst(docs: DataFrame, textCol: String, idCol: String,
      model: DataFrame): DataFrame = {
    val bi = docBigramStream(docs, textCol, idCol)
    val c1 = model.groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    bi.join(model, "bg")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(c1, "w1")
      .select(col(idCol),
        floor(log(col("c12").cast("double") / col("c1")) * 1e6).cast("long").as("lp_u"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_bigrams"), sum(col("lp_u")).as("ll_u"))
  }

  def bigramLmScore(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    bigramLmScoreAgainst(docs, textCol, idCol,
      bigramCounts(docs, textCol, idCol))

  /** Cross-crawl NOVELTY scoring — "how much of this candidate doc is
    * text the reference corpus has never seen?": per candidate doc, the
    * fraction of its DISTINCT word bigrams absent from the reference
    * corpus's bigram vocabulary. The signal crawl pipelines rank new
    * snapshots by (high novelty → genuinely new content worth keeping;
    * near-zero novelty → a re-crawl that exact/near-dup passes will kill
    * anyway, deprioritize early) — the cheap set-membership complement of
    * [[bigramLmScore]]'s probability view.
    *
    * Scale shape: the reference side collapses to its DISTINCT bigram
    * vocabulary — Heaps-law sublinear in corpus size (the q89/q119
    * argument), NOT corpus-sized — and membership is one hash anti-join
    * on the bigram key with map-side-combined per-doc counts; no
    * broadcast assumption anywhere, so a 100 TB reference works exactly
    * like a 100 MB one. Docs with < 2 words have no bigrams and emit no
    * row (deterministic in both engines).
    *
    * All-integer counts; `novelty` is one IEEE division of exact integer
    * operands — hash-checkable cross-engine. */
  def noveltyScore(candidates: DataFrame, reference: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    def docBigrams(df: DataFrame) = df
      .select(col(idCol), split(TextAnalysis.normalize(col(textCol)), " ", -1).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(idCol), explode(array_distinct(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b)))).as("bg"))
    val cand = docBigrams(candidates)
    val refVocab = docBigrams(reference).select(col("bg")).distinct()
    val unseen = cand.join(refVocab, Seq("bg"), "left_anti")
      .groupBy(col(idCol)).agg(count(lit(1)).cast("int").as("n_unseen"))
    cand.groupBy(col(idCol)).agg(count(lit(1)).cast("int").as("n_bigrams"))
      .join(unseen, Seq(idCol), "left")
      .select(col(idCol), col("n_bigrams"),
        coalesce(col("n_unseen"), lit(0)).as("n_unseen"),
        (coalesce(col("n_unseen"), lit(0)).cast("double") / col("n_bigrams"))
          .as("novelty"))
  }

  def contaminationScore(docs: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String, k: Int = 8): DataFrame = {
    def grams(c: Column) = graft.functions.HashFunctions.wordShingleHash(
      TextAnalysis.normalize(c), k, DecontaminatePrime)
    val docGrams = docs.select(col(idCol), explode(grams(col(textCol))).as("g"))
    val benchGrams = benchmark
      .select(explode(grams(col(benchTextCol))).as("g")).distinct()
    val hits = docGrams.join(broadcast(benchGrams), "g")
      .groupBy(col(idCol)).agg(count(lit(1)).cast("int").as("n_hit"))
    docs.select(col(idCol), size(grams(col(textCol))).as("n_grams"))
      .join(hits, Seq(idCol))
      .withColumn("score", col("n_hit").cast("double") / col("n_grams"))
  }

  /** Seed-trained Naive-Bayes quality classifier (the GPT-3/PaLM-class
    * "quality classifier" selection method — Brown et al. NeurIPS'20
    * Appendix A trains a linear classifier on curated-positive vs
    * crawl-negative seed documents, then scores the WHOLE corpus and
    * keeps by its verdict; fastText-class hashed features per Joulin
    * et al. '16). The third published selection family beside the
    * heuristic batteries (q48/q199/q206) and the distribution ratios
    * (q207 perplexity buckets, q209 DSIR): a model FIT to a labeled
    * SEED, applied to documents the fit never saw. Multinomial NB over
    * hashed word unigrams is the linear classifier whose entire fit is
    * COUNTING — per-bucket class occurrence counts — so training is one
    * aggregation, no gradient loop, no driver-side state.
    *
    * Integer protocol (the q89/q209 rule — integerize per term, exact
    * long sums only): the per-bucket log-odds w_u(f) =
    * floor(ln((c_pos+1)·(T_neg+B) / ((c_neg+1)·(T_pos+B)))·1e6) is ONE
    * ln of ONE IEEE division whose operands are exact integer products
    * (exact in a double while seed-token-count · (T+B) < 2^53 — seeds
    * are curated subsets orders smaller than the corpus; beyond ~10^8
    * seed tokens per class split the ratio into two lns, stated). The
    * class prior integerizes the same way, and the doc score
    * s_u = prior_u + Σ_occurrences w_u is an exact long sum —
    * order-free, engine-portable. keep ⇔ s_u > 0 (the MAP boundary).
    *
    * Scale shape: the fit is ONE map-side-combined histogram over the
    * SEED's feature stream (≤ `buckets` rows out — answer-sized by
    * construction, the point of hashed features); weights, totals and
    * prior BROADCAST; the corpus feature stream LEFT-joins the weight
    * table — a bucket no seed token ever hit falls back to the
    * smoothing-only default weight w0_u = floor(ln((T_neg+B)/(T_pos+B))
    * ·1e6) via coalesce, never a dropped occurrence — and the per-doc
    * sum is the operator's only corpus-keyed exchange. */
  def nbClassifierScore(docs: DataFrame, textCol: String, idCol: String,
      isPos: Column, isNeg: Column, buckets: Int = 1024): DataFrame =
    nbScoreAgainst(docs, textCol, idCol,
      nbSeedCounts(docs, textCol, idCol, isPos, isNeg, buckets),
      nbPriorCounts(docs, isPos, isNeg), buckets)

  /** The classifier's hashed-unigram feature stream (id, is_pos,
    * is_neg, f) — shared by the fit and the scoring pass. */
  private def nbFeatureStream(docs: DataFrame, textCol: String,
      idCol: String, isPos: Column, isNeg: Column, buckets: Int): DataFrame =
    docs
      .select(col(idCol), isPos.as("is_pos"), isNeg.as("is_neg"),
        explode(split(TextAnalysis.normalize(col(textCol)), " ", -1)).as("w"))
      .select(col(idCol), col("is_pos"), col("is_neg"),
        pmod(conv(substring(md5(concat(lit("nbq:"), col("w"))), 1, 15), 16, 10)
          .cast("long"), lit(buckets.toLong)).as("f"))

  /** The NB fit's sufficient statistic: per-bucket (c_pos, c_neg) seed
    * occurrence counts — ≤ `buckets` rows, SUM-mergeable over batch
    * shards, which makes the fit a maintainable streaming artifact
    * ([[graft.streaming.StreamingNb]], the StreamingLm/Dsir discipline). */
  def nbSeedCounts(docs: DataFrame, textCol: String, idCol: String,
      isPos: Column, isNeg: Column, buckets: Int = 1024): DataFrame =
    nbFeatureStream(docs, textCol, idCol, isPos, isNeg, buckets)
      .filter(col("is_pos") || col("is_neg"))
      .groupBy(col("f")).agg(
        sum(when(col("is_pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("is_neg"), 1L).otherwise(0L)).as("c_neg"))

  /** The prior's sufficient statistic: one (n_pos, n_neg) seed-doc
    * count row — SUM-mergeable like the histogram. */
  def nbPriorCounts(docs: DataFrame, isPos: Column, isNeg: Column): DataFrame =
    docs.agg(
      sum(when(isPos, 1L).otherwise(0L)).as("n_pos"),
      sum(when(isNeg, 1L).otherwise(0L)).as("n_neg"))

  /** Score `docs` against a prebuilt seed histogram + prior table — the
    * release-time pass: totals, weights and the default all derive from
    * the tables themselves (answer-sized, broadcast), exactly like
    * [[nbClassifierScore]]'s inline fit. */
  def nbScoreAgainst(docs: DataFrame, textCol: String, idCol: String,
      hist: DataFrame, prior: DataFrame, buckets: Int = 1024): DataFrame = {
    val feat = nbFeatureStream(docs, textCol, idCol, lit(false), lit(false),
      buckets)
    val tot = hist.agg(sum(col("c_pos")).as("tpos"), sum(col("c_neg")).as("tneg"))
    val b = lit(buckets.toLong)
    val weights = hist.crossJoin(broadcast(tot)) // 1-row scalar join
      .select(col("f"),
        floor(log(((col("c_pos") + lit(1.0)) * (col("tneg") + b))
          / ((col("c_neg") + lit(1.0)) * (col("tpos") + b))) * 1e6)
          .cast("long").as("w_u"))
    val consts = tot.crossJoin(prior) // 1 row × 1 row
      .select(
        floor(log((col("tneg") + lit(buckets.toDouble))
            / (col("tpos") + lit(buckets.toDouble)))
          * 1e6).cast("long").as("w0_u"),
        floor(log(col("n_pos").cast("double") / col("n_neg")) * 1e6)
          .cast("long").as("prior_u"))
    feat.join(broadcast(weights), Seq("f"), "left")
      .crossJoin(broadcast(consts)) // 1-row scalar join
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_toks"),
        (max(col("prior_u")) + sum(coalesce(col("w_u"), col("w0_u"))))
          .as("score_u"))
      .withColumn("keep", col("score_u") > 0)
  }

  // ---------------- supervised language id (char-n-gram NB) ----------------

  /** The langid char-TRIGRAM feature stream: one row per trigram
    * occurrence of the normalized text, hashed into `buckets` slots by
    * the house-portable md5 hash. Character 3-grams (crossing word
    * boundaries — normalize()'s single spaces are part of the signal)
    * are the published fastText-langid feature class: they separate
    * languages sharing an alphabet where word unigrams need an OOV-free
    * vocabulary. Map-side generator + hash; no shuffle. */
  private def lidFeatureStream(docs: DataFrame, textCol: String,
      keep: Seq[String], buckets: Int): DataFrame = {
    // normalize lands in its OWN projection so the lambda below sees a
    // bound column, not the normalize expression tree: an expression
    // referenced inside a higher-order-function lambda re-evaluates PER
    // ELEMENT, which would run the normalize regex once per trigram —
    // measured 12.6 single-core seconds per sf0.1 corpus vs ~0.5 with
    // the projection split (the q232 micro-batches run this fit on one
    // task, so the per-element cost is not hidden by scan parallelism)
    val normed = docs.select(keep.map(col) :+
      TextAnalysis.normalize(col(textCol)).as("_lid_s"): _*)
    val t = col("_lid_s")
    val n = (length(t) - lit(2)).cast("int")
    val grams = when(n >= 1,
      transform(sequence(lit(1), n), i => t.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    normed.select(keep.map(col) :+ explode(grams).as("g"): _*)
      .select(keep.map(col) :+
        pmod(conv(substring(md5(concat(lit("lid:"), col("g"))), 1, 15), 16, 10)
          .cast("long"), lit(buckets.toLong)).as("f"): _*)
  }

  /** The langid fit's sufficient statistics: per-(language, bucket)
    * seed trigram counts — ≤ |langs|·buckets rows out of ONE
    * map-side-combined pass (the nbSeedCounts discipline: counts merge
    * by ADDITION, so this fit is stream-maintainable exactly like the
    * NB/DSIR/LM artifacts). */
  def langidSeedCounts(seed: DataFrame, textCol: String, langCol: String,
      buckets: Int = 4096): DataFrame =
    lidFeatureStream(seed.select(col(langCol).as("lang"), col(textCol)),
        textCol, Seq("lang"), buckets)
      .groupBy(col("lang"), col("f")).agg(count(lit(1)).as("c"))

  /** Per-language seed doc counts — the class prior's sufficient
    * statistic (one row per language, SUM-mergeable). */
  def langidPriorCounts(seed: DataFrame, langCol: String): DataFrame =
    seed.groupBy(col(langCol).as("lang")).agg(count(lit(1)).as("n_docs"))

  /** Classify every doc against a prebuilt (lang, f, c) trigram
    * histogram + (lang, n_docs) prior — multinomial NB over hashed
    * char trigrams: score_u(d, l) = prior_u(l) + Σ_occurrences
    * floor(ln((c_lf+1)/(T_l+B))·1e6), argmax over languages with ties
    * to the lexicographically smallest (exact integer micro-nats — the
    * q89/q209/q220 rule — so the argmax is engine-portable). Buckets a
    * language's seed never hit fall back to its smoothing-only w0_u
    * (the nbScoreAgainst rule); docs with NO trigrams still classify
    * (prior-only).
    *
    * Scale shape: the fit tables are answer-sized and BROADCAST; the
    * corpus feature stream fans out ×|langs| map-side (langs is a
    * handful), and the per-(doc, lang) sum + per-doc argmax are the
    * only corpus-keyed exchanges. No rank window over the corpus: the
    * argmax is a min(struct) vote. */
  def langidScoreAgainst(docs: DataFrame, textCol: String, idCol: String,
      hist: DataFrame, prior: DataFrame, buckets: Int = 4096): DataFrame = {
    val b = lit(buckets.toDouble)
    val tot = hist.groupBy(col("lang")).agg(sum(col("c")).as("t"))
    val nn = prior.agg(sum(col("n_docs")).as("nn"))
    val langs = prior.join(tot, Seq("lang"), "left")
      .crossJoin(broadcast(nn)) // 1-row scalar join
      .select(col("lang"),
        floor(log(col("n_docs").cast("double") / col("nn")) * 1e6)
          .cast("long").as("prior_u"),
        floor(log(lit(1.0) / (coalesce(col("t"), lit(0L)) + b)) * 1e6)
          .cast("long").as("w0_u"))
    val weights = hist.join(tot, Seq("lang"))
      .select(col("lang"), col("f"),
        floor(log((col("c") + lit(1.0)) / (col("t") + b)) * 1e6)
          .cast("long").as("w_u"))
    val feat = lidFeatureStream(docs.select(col(idCol), col(textCol)),
      textCol, Seq(idCol), buckets)
    val featSums = feat
      .crossJoin(broadcast(langs.select(col("lang"), col("w0_u"))))
      .join(broadcast(weights), Seq("lang", "f"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(count(lit(1)).as("nf"),
        sum(coalesce(col("w_u"), col("w0_u"))).as("fs"))
    docs.select(col(idCol))
      .crossJoin(broadcast(langs.select(col("lang"), col("prior_u"))))
      .join(featSums, Seq(idCol, "lang"), "left")
      .select(col(idCol), col("lang"),
        (col("prior_u") + coalesce(col("fs"), lit(0L))).as("score_u"),
        coalesce(col("nf"), lit(0L)).as("nf"))
      .groupBy(col(idCol))
      .agg(max(col("nf")).cast("int").as("n_grams"),
        min(struct((-col("score_u")).as("ns"), col("lang"))).as("m"))
      .select(col(idCol), col("n_grams"), col("m.lang").as("pred_lang"),
        (-col("m.ns")).as("score_u"))
  }

  /** Inline fit + score: seed rows (isSeed) train the model, every doc
    * is classified — the q220 shape for language id. */
  def langidClassify(docs: DataFrame, textCol: String, idCol: String,
      langCol: String, isSeed: Column, buckets: Int = 4096): DataFrame =
    langidScoreAgainst(docs, textCol, idCol,
      langidSeedCounts(docs.filter(isSeed), textCol, langCol, buckets),
      langidPriorCounts(docs.filter(isSeed), langCol), buckets)
}
