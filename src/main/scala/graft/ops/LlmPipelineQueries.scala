package graft.ops

import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.dedup.{Dedup, DedupCache, SubstringDedup}
import graft.multimodal.Multimodal
import graft.similarity.{Ann, Ivf, IvfPq}
import graft.sources.Tables
import graft.text.{TextAnalysis, TextExtract}

/** LLM training-data pipeline operators bound to the documents/embeddings
  * tables: dedup (exact/MinHash/SimHash/n-gram/embedding), similarity
  * search, text analysis, multimodal plumbing. See SURVEY.md §2.
  */
object LlmPipelineQueries {

  /** DuckDB word-3-shingle sets per document, mirroring the native
    * WordShingleHash conventions: normalize (lower, collapse whitespace,
    * trim), shingles = consecutive 3-token windows, texts shorter than 3
    * tokens contribute one whole-text shingle, sets are distinct. */
  private def shingleSetsSqlFrom(src: String): String = s"""
    SELECT doc_id, list_distinct(
      CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
           ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w)-1)] END) AS s
    FROM (SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
          FROM $src)"""

  private val SHINGLE_SETS_SQL = shingleSetsSqlFrom("documents")

  /** [[SHINGLE_SETS_SQL]] generalized to word k-grams over any source
    * relation with (doc_id, text) (same normalize + short-text whole-text
    * fallback as [[graft.text.Shingling.wordShingles]]). */
  private def shingleSetsSqlKFrom(k: Int, src: String): String = s"""
    SELECT doc_id, list_distinct(
      CASE WHEN len(w) < $k THEN [array_to_string(w, ' ')]
           ELSE [array_to_string(w[i:i+${k - 1}], ' ') FOR i IN range(1, len(w)-${k - 2})] END) AS s
    FROM (SELECT doc_id,
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
          FROM $src)"""

  private def shingleSetsSqlK(k: Int): String = shingleSetsSqlKFrom(k, "documents")

  /** The q146/q148 oracle CTEs: content-defined chunks `ch(id, idx,
    * start, len, h)` of every document. Boundary replay: each 16-char
    * window hash is the explicit Σ code·B^j sum with the B^j mod 2^31−1
    * coefficients (B=131) inlined as literals — bit-for-bit equal to
    * the engine's rolling [[org.apache.spark.sql.graft.RollingChunkBounds]]
    * (every intermediate < 2^42 fits BIGINT). */
  private val cdcChunksCteSql: String = """
      WITH d AS (
        SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g') AS t
        FROM documents
        WHERE length(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')) >= 1),
      b0 AS (
        SELECT doc_id, t,
               [CAST(i AS INTEGER) FOR i IN range(16, length(t) + 1)
                IF list_sum([CAST(ascii(substr(t, CAST(i AS INTEGER) - 16 + k, 1)) AS BIGINT)
                             * [1758245338,587176893,906097538,301990864,477702417,1167549934,254807669,460949235,
                                2003465299,884122890,2072267652,294499921,2248091,17161,131,1][k]
                             FOR k IN range(1, 17)]) % 2147483647 % 64 = 0] AS bnds
        FROM d),
      ball AS (
        SELECT doc_id, t,
               CASE WHEN len(bnds) > 0 AND bnds[len(bnds)] = length(t)
                    THEN bnds ELSE list_append(bnds, CAST(length(t) AS INTEGER)) END AS b
        FROM b0),
      ch AS (
        SELECT doc_id AS id,
               unnest([{'idx': CAST(j AS BIGINT),
                        'start': CAST((CASE WHEN j = 1 THEN 0 ELSE b[CAST(j AS INTEGER) - 1] END) + 1 AS BIGINT),
                        'len': CAST(b[CAST(j AS INTEGER)] - (CASE WHEN j = 1 THEN 0 ELSE b[CAST(j AS INTEGER) - 1] END) AS BIGINT),
                        'h': md5(substr(t, (CASE WHEN j = 1 THEN 0 ELSE b[CAST(j AS INTEGER) - 1] END) + 1,
                                 b[CAST(j AS INTEGER)] - (CASE WHEN j = 1 THEN 0 ELSE b[CAST(j AS INTEGER) - 1] END)))}
                       FOR j IN range(1, len(b) + 1)], recursive := true)
        FROM ball)"""

  /** DuckDB language-ID expression generated from TextAnalysis.langProfiles
    * — the heuristic and its tie-break (earliest profile wins) can't drift
    * from the Spark implementation. Used by q36 and q54. */
  private val LANG_ID_SQL: String = {
    val toks = "list_distinct(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))"
    val scores = TextAnalysis.langProfiles.map { case (lang, ws) =>
      lang -> s"len(list_intersect($toks, [${ws.map(w => s"'$w'").mkString(", ")}]))"
    }
    val smax = s"greatest(${scores.map(_._2).mkString(", ")})"
    val cases = scores.map { case (l, sc) => s"WHEN $sc = $smax THEN '$l'" }.mkString(" ")
    s"CASE $cases END"
  }

  /** Non-English documents planted for q54, generated from the language
    * profiles themselves: per non-en profile, three docs repeating the
    * stopword list with i distinct filler tokens — distinct uniqueness
    * ratios within each language so the per-language ranking is
    * non-trivial. Plain lowercase words ⇒ safe as SQL string literals. */
  private val PLANTED_LANG_DOCS: Seq[(Long, String)] =
    TextAnalysis.langProfiles.filterNot(_._1 == "en").zipWithIndex.flatMap {
      case ((_, ws), li) =>
        (0 until 3).map { i =>
          val filler = (0 until i * 3).map(j => s"w${li}x$j").mkString(" ")
          (2000000L + li * 10 + i,
            (ws.mkString(" ") + " " + ws.take(4).mkString(" ") + " " + filler).trim)
        }
    }

  /** The IVF index over the q46 corpus (embeddings + planted
    * direction-identical copies of the five query vectors), built on first
    * access and cached per data dir — see [[IvfIndexCache]]. */
  private def ivfCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
    val qs = emb.filter($"vec_id" < 5)
    val copies = (1 to 5).map { m =>
      qs.select(($"vec_id" + m * 1000000).as("vec_id"),
        transform($"embedding",
          x => (x * lit(math.pow(2, m).toFloat)).cast("float")).as("embedding"))
    }.reduce(_ unionByName _)
    emb.unionByName(copies)
  }

  private def ivfIndexFor(s: org.apache.spark.sql.SparkSession, dir: String): String =
    IvfIndexCache.getOrBuild(s, dir)(ivfCorpus(s, dir))

  /** The IVF+PQ analog of [[ivfIndexFor]] (its own index layout + cache). */
  private def ivfPqIndexFor(s: org.apache.spark.sql.SparkSession, dir: String): String =
    IvfIndexCache.getOrBuildPq(s, dir)(ivfCorpus(s, dir))

  /** Exact top-5 over embeddings + the planted power-of-2-scaled copies —
    * the q46/q57 oracle (see the q46 comment for why the planted pairs are
    * exact in both engines). */
  private val IVF_ORACLE_SQL = """
      WITH e AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + m.m * 1000000,
               list_transform(embedding, x -> CAST(x * (1 << m.m) AS FLOAT))
        FROM embeddings, (SELECT unnest(range(1, 6)) AS m) m
        WHERE vec_id < 5)
      SELECT q_id, rk, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id)
                 AS INTEGER) AS rk
        FROM embeddings q JOIN e ON q.vec_id <> e.vec_id
        WHERE q.vec_id < 5)
      WHERE rk <= 5 ORDER BY q_id, rk"""

  /** Exact cosine top-5 for queries vec_id < 5 — the oracle for every ANN
    * variant (q32 brute, q33 LSH at measured recall 1.0, q44 custom exec). */
  private val BRUTE_TOPK_SQL = """
      SELECT q_id, rk, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id)
                 AS INTEGER) AS rk
        FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
        WHERE q.vec_id < 5)
      WHERE rk <= 5 ORDER BY q_id, rk"""

  /** documents + planted near-duplicate copies for q30/q69: every 17th doc
    * gets a copy (doc_id + 1000000) with a four-word suffix appended. The
    * copy keeps every original shingle and adds at most 6 boundary/suffix
    * shingles, so J = |S| / (|S| + 6) ≥ 0.7 for any doc of ≥ ~15 words —
    * measured planted-pair J on the test corpus: [0.76, 0.96]. Same
    * planting arithmetic in [[NEAR_DUP_DOCS_SQL]], so the DuckDB all-pairs
    * join stays an exact oracle. */
  private def nearDupDocs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    docs.unionByName(docs.filter($"doc_id" % 17 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" near duplicate copy tag")).as("text")))
  }

  private val NEAR_DUP_DOCS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' near duplicate copy tag' AS text
      FROM documents WHERE doc_id % 17 = 0"""

  /** The q125 template header: exactly 16 words = two full 8-token
    * passages, so prepending it keeps the carrier body's chunk
    * segmentation ALIGNED with the original document's (a carrier body
    * therefore shares each full segment with at most the original + its
    * near-dup copy — df ≤ 3, under the minDocs=4 hot bound — while the
    * header's own two segments repeat across every carrier and drop).
    * Words are outside the corpus vocabulary and lowercase-alpha (safe as
    * a SQL literal on both engines). */
  private val PIPELINE_HEADER =
    "graft shared nav home search login help terms " +
      "privacy contact about careers press faq news archive"

  /** Planted lexical groups for q126: per query q ∈ [0,5), a QUERY doc
    * (id 6000000+q) of 8 group-unique tokens and five CANDIDATE docs at
    * ids m·1000000+q (m=1..5) — the SAME ids the q46/q83 IVF corpus
    * plants as scaled embedding copies of query vector q, so the two
    * retrieval legs rank the SAME candidate ids and the fusion is
    * two-legged for every hit. Candidate m appends (m-1)·2 unique filler
    * tokens: its tf-idf cosine to the query falls strictly with m, so
    * the lexical rank of candidate m is m — matching its dense rank
    * (scaled copies all sit at cosine 1 and tie-break by ascending id).
    * Group tokens have df = 6 and fillers df = 1, both under the
    * maxDf=100 cap, while every natural corpus token is capped away —
    * naturals share no surviving term with a query, so the planted
    * ranking is exact at any sf (the q90 construction). */
  private val PLANTED_HYBRID_DOCS: Seq[(Long, String)] =
    (0 until 5).flatMap { q =>
      val group = (0 until 8).map(j => s"h${q}w$j").mkString(" ")
      val query = (6000000L + q, group)
      val cands = (1 to 5).map { m =>
        val filler = (0 until (m - 1) * 2).map(j => s"h${q}m${m}f$j").mkString(" ")
        (m * 1000000L + q, (group + " " + filler).trim)
      }
      query +: cands
    }

  /** ONE verified near-dup pair set shared by q30 (the pairs themselves)
    * and q69 (their transitive closure): the df-ordered shingle projection
    * — the AllPairs inverted index, threshold-independent — and the
    * verified pairs are each memoized per data dir ([[DedupCache]]), so
    * the pair computation runs once per corpus per process instead of once
    * per query. At 100 TB both would be durable lake tables written by the
    * corpus-snapshot job; see the DedupCache scaladoc. */
  /** Fixture-validity guard for the multimodal plant bases (q189/q192):
    * the synthetic twin plants sit at doc_id 3000000+, adjudicated twins
    * at 6000000+, and the q192 delta organics at 7000000+doc_id — and
    * both the operators' first-writer-wins identity and the oracles'
    * `WHERE i.id >= 6000000` delta selection assume organic ids stay
    * BELOW every base. At a corpus with ≥3M documents the bases would
    * silently collide with real ids and diverge the gate; fail loudly
    * instead. One max() over the id column — at fixture scale a
    * metadata-cheap scan, and the check exists precisely to stop the
    * fixture from being run far beyond fixture scale.
    */
  private def assertPlantBasesClear(
      docs: org.apache.spark.sql.DataFrame): Unit = {
    val mx = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head.getLong(0)
    require(mx < 3000000L,
      s"multimodal fixture invalid: max(doc_id)=$mx >= plant base 3000000 " +
        "— organic ids would collide with synthetic twin/delta id ranges; " +
        "re-derive the plant bases from the corpus max id before scaling " +
        "this fixture")
  }

  private def jaccardPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    // memo keys carry the corpus CONTENT fingerprint, not just the dir:
    // an in-process overwrite of documents.parquet must rebuild, never
    // serve the previous corpus's pair set
    val fp = graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "documents"))
    // memoVersioned (not plain memo with fp in the key): a rewrite of
    // documents.parquet must rebuild AND unpersist the superseded pair
    // set's blocks — the tradePairs r13 fix applied to both levels here
    DedupCache.memoVersioned(s"$dir#jaccard3@0.7+planted17", fp) {
      val ordered = DedupCache.memoVersioned(
        s"$dir#shingleProjection3+planted17", fp)(
        Dedup.shingleProjection(nearDupDocs(s, dir), "text", "doc_id"))
      Dedup.jaccardJoinOrdered(ordered, threshold = 0.7)
    }
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup. The corpus has no byte-identical dups, so the query
    // plants whitespace-variant copies (doc_id%7, +1000000) and the
    // normalized fingerprint must collapse them; oracle does the same.
    QueryDef("q27_dedup_exact", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val dups = docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"), concat($"text", lit("  ")).as("text"))
      Dedup.exact(docs.unionByName(dups), "text", "doc_id").orderBy($"keep_id")
    }, Some("""
      SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM (SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text || '  ' FROM documents WHERE doc_id % 7 = 0)
      GROUP BY 1 ORDER BY keep_id""")),

    // MinHash-LSH candidates + exact-Jaccard verify. Oracle is the full
    // all-pairs Jaccard in DuckDB: valid because the corpus's similarity
    // spectrum has a gap (every near-dup pair sits at J >= 0.8, nothing in
    // [0.25, 0.8)), where the 21x3 banding misses a pair w.p. ~3e-7.
    QueryDef("q28_dedup_minhash", (s, dir) => {
      import s.implicits._
      Dedup.minHashPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
        threshold = 0.5).orderBy($"id_a", $"id_b")
    }, Some(s"""
      WITH sh AS ($SHINGLE_SETS_SQL)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5
      ORDER BY id_a, id_b""")),

    // SimHash with the engine-portable md5-prefix token hash, so DuckDB can
    // rebuild the 64-bit SimHash bit-for-bit in SQL (per-bit majority vote,
    // ties clear — bits 60..63 are structurally 0 for a 60-bit hash, hence
    // range(60) below). Pigeonhole banding GUARANTEES recall at
    // hamming <= 3, so the all-pairs hamming join is an exact oracle, not a
    // probabilistic one — this closes the last rows-only entry.
    QueryDef("q29_dedup_simhash", (s, dir) => {
      import s.implicits._
      Dedup.simHashPairs(Tables.load(s, dir, "documents"), "text", "doc_id",
        maxHamming = 3, tokenHash = Dedup.portableTokenHash)
        .orderBy($"id_a", $"id_b")
    }, Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      th AS (
        SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM toks),
      bits AS (
        SELECT doc_id, b.bit,
               SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM th, (SELECT unnest(range(60)) AS bit) b
        GROUP BY 1, 2),
      sh AS (
        SELECT doc_id,
               SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sim
        FROM bits GROUP BY 1)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 3
      ORDER BY id_a, id_b""")),

    // Exact n-gram Jaccard similarity join (prefix filtering): guaranteed
    // recall at the threshold, so the DuckDB all-pairs Jaccard is an exact
    // oracle, not a probabilistic one. THRESHOLD HONESTY (r7): this runs
    // at 0.7 — near-dup territory — with planted near-dup copies à la
    // q31, because an exact similarity join below ~0.5 is a dense join by
    // construction: the PPJoin prefix is 1/(1+t) of each doc, and at
    // t=0.3 on a low-vocabulary corpus (the test corpus draws from ~31
    // words, so every shingle is near-corpus-df) candidates degenerate to
    // all-pairs — measured 1050 cpu-s for 584 KB of input at sf0.1.
    // At t=0.7 the prefix is 59% and the positional filter requires a
    // shared token in the first ~18% of both docs' rarest-first orders,
    // so candidate volume tracks the answer. Bulk-similarity analytics
    // below 0.5 belong to the banded paths (q28/q29), which stay
    // sublinear at any threshold. The pair set is shared with q69 via
    // DedupCache — computed once per corpus per process.
    QueryDef("q30_dedup_ngram", (s, dir) => {
      import s.implicits._
      jaccardPairs(s, dir).orderBy($"id_a", $"id_b")
    }, Some(s"""
      WITH docs AS ($NEAR_DUP_DOCS_SQL),
      sh AS (${shingleSetsSqlFrom("docs")})
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.7
      ORDER BY id_a, id_b""")),

    // Embedding NEAR-DUP detection: the corpus's natural pair-cosine
    // distribution is continuous through [0.3, 0.6] (measured all-pairs in
    // DuckDB) with nothing above it, so the query plants near-duplicates the
    // way q27 plants whitespace dups — ×2-scaled copies (vec_id%7, +1000000:
    // byte-different vectors with identical hyperplane signature, cosine
    // exactly 1 — exercises the LSH bucket join) and byte-identical copies
    // (vec_id%11, +2000000 — exercises the exact-vector collapse guard).
    // Threshold 0.95 sits in the [0.6, 1.0] gap: the oracle is the exact
    // all-pairs join, valid because P(miss) there is 0 for the planted
    // pairs and no natural pair reaches the threshold (see the
    // threshold-honesty note on Dedup.embeddingPairsLsh — at a bulk
    // threshold like 0.4 NO sublinear candidate scheme is complete, and
    // that use case belongs to embeddingPairsExact).
    // The default path is hyperplane-LSH candidates + exact cosine verify
    // (an equi-join on (band, chunk) — no BroadcastNestedLoopJoin;
    // the plan audit asserts it). Dedup.embeddingPairsExact is only the
    // all-pairs cross-check, exercised in PipelineSpec.
    QueryDef("q31_dedup_embed", (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
      val scaled = emb.filter($"vec_id" % 7 === 0)
        .select(($"vec_id" + 1000000).as("vec_id"),
          transform($"embedding", x => (x * lit(2.0f)).cast("float")).as("embedding"))
      val copies = emb.filter($"vec_id" % 11 === 0)
        .select(($"vec_id" + 2000000).as("vec_id"), $"embedding")
      Dedup.embeddingPairsLsh(emb.unionByName(scaled).unionByName(copies),
        "embedding", "vec_id", threshold = 0.95, dim = 64)
        .orderBy($"id_a", $"id_b")
    }, Some("""
      WITH e AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding, x -> CAST(x * 2 AS FLOAT))
        FROM embeddings WHERE vec_id % 7 = 0
        UNION ALL
        SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id % 11 = 0)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.95
      ORDER BY id_a, id_b""")),

    QueryDef("q32_ann_brute", (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      Ann.bruteTopK(emb, emb.filter($"vec_id" < 5), "embedding", "vec_id", k = 5)
        .orderBy($"q_id", $"rk")
    }, Some(BRUTE_TOPK_SQL)),

    // RECALL GATE (intentional): q33 is approximate by design; multi-probe
    // LSH measures recall@5 = 1.00 on this corpus (PipelineSpec asserts
    // equality with bruteTopK), so the exact-ANN oracle doubles as a
    // driver-visible recall gate. A future hash-mismatch here means
    // "recall regressed below 1.0" (corpus/seed/parameter drift), NOT
    // "wrong answer" — triage it as a recall regression.
    QueryDef("q33_ann_lsh", (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      Ann.lshTopK(emb, emb.filter($"vec_id" < 5), "embedding", "vec_id",
        k = 5, dim = 64).orderBy($"q_id", $"rk")
    }, Some(BRUTE_TOPK_SQL)),

    QueryDef("q34_text_tokens", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id",
          TextAnalysis.wsTokenCount($"text").as("n_ws"),
          TextAnalysis.wordTokenCount($"text").as("n_words"))
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
             CAST(len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
                                  x -> len(x) > 0)) AS INTEGER) AS n_words
      FROM documents ORDER BY doc_id""")),

    QueryDef("q35_text_quality", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id",
          TextAnalysis.nChars($"text").as("n_chars"),
          TextAnalysis.alphaRatio($"text").as("alpha_ratio"),
          TextAnalysis.avgWordLen($"text").as("avg_word_len"),
          TextAnalysis.uniqTokenRatio($"text").as("uniq_ratio"))
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(length(text) AS INTEGER) AS n_chars,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
               / length(text) AS alpha_ratio,
             CAST(length(text) - (length(text) - length(replace(text, ' ', ''))) AS DOUBLE)
               / ((length(text) - length(replace(text, ' ', ''))) + 1) AS avg_word_len,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS uniq_ratio
      FROM documents ORDER BY doc_id""")),

    QueryDef("q36_text_langid", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", TextAnalysis.langId($"text").as("lang_pred"))
        .orderBy($"doc_id")
    }, Some(
      s"SELECT doc_id, $LANG_ID_SQL AS lang_pred FROM documents ORDER BY doc_id")),

    QueryDef("q37_fingerprint", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM documents ORDER BY doc_id""")),

    // Metadata columns are oracle-checkable (payload = 4 magic bytes +
    // UTF-8 text; format from the synthesis rule); the pseudo-features
    // stay covered by PipelineSpec.
    QueryDef("q38_multimodal_meta", (s, dir) => {
      import s.implicits._
      val assets = Multimodal.synthPayloads(Tables.load(s, dir, "documents"))
      Multimodal.extractFeatures(s, assets).toDF()
        .select($"doc_id", $"n_bytes", $"format")
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id, CAST(4 + strlen(text) AS INTEGER) AS n_bytes,
             CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                  ELSE 'mp3' END AS format
      FROM documents ORDER BY doc_id""")),

    // The custom physical operator (CosineTopKPlan/Strategy/Exec: bounded
    // per-partition k-heaps, only |partitions|x|queries|xk candidate arrays
    // shuffle to one merge task) against the same exact-ANN oracle as q32.
    // The driver-side collect fetches only the 5 query vectors — the corpus
    // side never leaves the executors.
    QueryDef("q44_ann_exec", (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      val qs = emb.filter($"vec_id" < 5).select($"vec_id", $"embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      Ann.cosineTopKExec(emb, qs, "embedding", "vec_id", k = 5)
        .select($"q_id", $"rk", $"n_id").orderBy($"q_id", $"rk")
    }, Some(BRUTE_TOPK_SQL)),

    // IVF coarse-quantizer ANN through the PREBUILT-INDEX lifecycle
    // (buildIndex once per corpus → partition-pruned probe per query
    // batch — the 100 TB shape; the plan audit asserts the probe scan's
    // PartitionFilters). The index is built on first access and cached
    // per data dir (IvfIndexCache), so a repeated-query workload — and
    // the bench — measures the probe, with train/assign amortized the way
    // the real lifecycle amortizes them. The correctness gate plants each
    // query's true top-5 as power-of-2-scaled copies: direction-identical
    // ⇒ cosine exactly 1.0 (2^m scaling is float-exact and sqrt commutes
    // with power-of-4 scaling) AND the same nearest centroid as the
    // query, so the probe finds them at ANY nProbe. Natural-data recall
    // is corpus-dependent (see Ivf scaladoc + examples/IvfProbe for the
    // measured curve).
    QueryDef("q46_ann_ivf", (s, dir) => {
      import s.implicits._
      Ivf.probeTopK(s, ivfIndexFor(s, dir), Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding").filter($"vec_id" < 5),
        "embedding", "vec_id", k = 5, nProbe = 3)
        .orderBy($"q_id", $"rk")
    }, Some(IVF_ORACLE_SQL)),

    // The amortized-probe measurement: identical semantics and oracle as
    // q46, but by bench order the index is already built (q46's run — or
    // any earlier access — populated IvfIndexCache), so this row measures
    // what a repeated query batch actually costs against the prebuilt
    // index: the partition-pruned probe alone, no train/assign/write.
    QueryDef("q57_ann_ivf_probe", (s, dir) => {
      import s.implicits._
      Ivf.probeTopK(s, ivfIndexFor(s, dir), Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding").filter($"vec_id" < 5),
        "embedding", "vec_id", k = 5, nProbe = 3)
        .orderBy($"q_id", $"rk")
    }, Some(IVF_ORACLE_SQL)),

    // Deterministic hash sharding: the 10% sample is a pure function of
    // doc_id (md5-based, engine-portable — see Sampling.shard), so the
    // SAME rows are selected by Spark, DuckDB, or a Python reader; Spark's
    // sample() is seed+partitioning dependent and can't promise that.
    QueryDef("q47_sample_shard", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", Sampling.shard($"doc_id", 100).as("shard"))
        .filter($"shard" < 10)
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 100 AS shard
      FROM documents
      WHERE CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 100 < 10
      ORDER BY doc_id""")),

    // C4-style quality filtering: compose the q35 signals into a keep
    // decision. The signals are integer-ratio doubles computed identically
    // in both engines (q35's hash equality is the proof), so the threshold
    // comparisons agree exactly.
    QueryDef("q48_quality_filter", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id",
          TextAnalysis.nChars($"text").as("n_chars"),
          TextAnalysis.alphaRatio($"text").as("alpha_ratio"),
          TextAnalysis.uniqTokenRatio($"text").as("uniq_ratio"))
        .filter($"alpha_ratio" > 0.8 && $"n_chars" >= 150 && $"uniq_ratio" > 0.45)
        .orderBy($"doc_id")
    }, Some("""
      SELECT * FROM (
        SELECT doc_id,
               CAST(length(text) AS INTEGER) AS n_chars,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(text) AS alpha_ratio,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS uniq_ratio
        FROM documents)
      WHERE alpha_ratio > 0.8 AND n_chars >= 150 AND uniq_ratio > 0.45
      ORDER BY doc_id""")),

    // Fixed-size token chunking with overlap (50-token windows, stride 40)
    // — the context-window prep step of a training pipeline. Whitespace
    // tokens (split on single space) match string_split exactly; both
    // engines clamp the final partial window.
    QueryDef("q49_chunk", (s, dir) => {
      import s.implicits._
      val (win, stride) = (50, 40)
      Tables.load(s, dir, "documents")
        .select($"doc_id", split($"text", " ", -1).as("toks"))
        .select($"doc_id", $"toks",
          posexplode(sequence(lit(0), size($"toks") - 1, lit(stride)))
            .as(Seq("chunk_id", "start")))
        .select($"doc_id", $"chunk_id",
          array_join(slice($"toks", $"start" + 1, lit(win)), " ").as("chunk"),
          size(slice($"toks", $"start" + 1, lit(win))).as("n_tok"))
        .orderBy($"doc_id", $"chunk_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start FROM w)
      SELECT doc_id, CAST(start // 40 AS INTEGER) AS chunk_id,
             array_to_string(toks[start+1 : start+50], ' ') AS chunk,
             CAST(len(toks[start+1 : start+50]) AS INTEGER) AS n_tok
      FROM s ORDER BY doc_id, chunk_id""")),

    // Corpus curation: per-language top-10 documents by uniqueness ratio —
    // the langid + quality + window composition a real curation pass runs.
    // The synthetic corpus is all-English, so non-English docs are planted
    // from the SAME language profiles the classifier uses (both engines
    // get the identical strings — the texts are generated into the oracle
    // SQL at build time, no drift possible). Deterministic: the ratio is
    // an exact integer-ratio double, ties break on doc_id.
    QueryDef("q54_curate_topk", (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"uniq_ratio".desc, $"doc_id")
      val planted = PLANTED_LANG_DOCS.toDF("doc_id", "text")
      Tables.load(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
        .select($"doc_id", TextAnalysis.langId($"text").as("lang"),
          TextAnalysis.uniqTokenRatio($"text").as("uniq_ratio"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 10)
        .orderBy($"lang", $"rk")
    }, Some {
      val values = PLANTED_LANG_DOCS
        .map { case (id, text) => s"($id, '$text')" }.mkString(", ")
      s"""
      SELECT doc_id, lang, uniq_ratio, rk FROM (
        SELECT doc_id, lang, uniq_ratio,
               CAST(ROW_NUMBER() OVER (PARTITION BY lang
                 ORDER BY uniq_ratio DESC, doc_id) AS INTEGER) AS rk
        FROM (SELECT doc_id, $LANG_ID_SQL AS lang,
                     CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                       / len(string_split(text, ' ')) AS uniq_ratio
              FROM (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT * FROM (VALUES $values) AS planted(doc_id, text))))
      WHERE rk <= 10 ORDER BY lang, rk"""
    }),

    // Vocabulary building (tokenizer prep): corpus-wide token frequencies,
    // top-500 by (count desc, token) with dense integer ranks. One
    // explode + one partial-aggregated groupBy; the top-k is a single
    // ordered limit, not a global sort of the full vocabulary.
    QueryDef("q55_vocab", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select(explode(split(TextAnalysis.normalize($"text"), " ", -1)).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"tok").limit(500)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"n".desc, $"tok")))
        .select($"rank", $"tok", $"n")
    }, Some("""
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS INTEGER) AS rank, tok, n
      FROM (
        SELECT tok, COUNT(*) AS n FROM (
          SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
          FROM documents)
        GROUP BY tok ORDER BY n DESC, tok LIMIT 500)
      ORDER BY rank""")),

    // The reference's PRIMARY interface is a SQL string typed into the
    // Execute Query tab (ref 922-1142) — every other entry here uses the
    // DataFrame API, so this one drives the raw-SQL path end-to-end:
    // registerAll temp views + spark.sql over a CTE + join + window. The
    // oracle is the same ANSI text modulo the rank cast.
    QueryDef("q50_sql_exec", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""
        WITH seg AS (
          SELECT c_mktsegment AS seg, o_totalprice AS price
          FROM orders JOIN customer ON o_custkey = c_custkey)
        SELECT seg, COUNT(*) AS n,
               CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
               RANK() OVER (ORDER BY CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) DESC) AS rnk
        FROM seg GROUP BY seg ORDER BY seg""")
    }, Some("""
      WITH seg AS (
        SELECT c_mktsegment AS seg, o_totalprice AS price
        FROM orders JOIN customer ON o_custkey = c_custkey)
      SELECT seg, COUNT(*) AS n,
             CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
             CAST(RANK() OVER (ORDER BY CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) DESC)
               AS INTEGER) AS rnk
      FROM seg GROUP BY seg ORDER BY seg""")),

    // Raw-SQL DML — the Execute Query tab's write path (the reference's
    // keyword list, ref 387-393, routes INSERT/UPDATE/DELETE statements
    // straight to the engine). Spark-native scope, stated honestly:
    // CREATE TABLE + INSERT INTO a managed parquet table are first-class
    // SQL (exercised here end-to-end: DDL → DML → SELECT readback all
    // through spark.sql); UPDATE/DELETE on plain parquet have no ACID
    // story in OSS Spark without a lakehouse table format — they are
    // exposed as the Merge.updateByKey / Merge.deleteWhere rewrites
    // (q18-q20), and SURVEY §1.4 documents that split.
    QueryDef("q56_sql_dml", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_dml_orders")
      s.sql("""
        CREATE TABLE graft_dml_orders USING parquet AS
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0""")
      s.sql("""
        INSERT INTO graft_dml_orders
        SELECT o_orderkey, 'N' AS o_orderstatus, o_totalprice + 100.0
        FROM orders WHERE o_orderkey % 3 = 1""")
      s.sql("""
        SELECT o_orderstatus, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM graft_dml_orders
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    }, Some("""
      WITH t AS (
        SELECT o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT 'N', o_totalprice + 100.0
        FROM orders WHERE o_orderkey % 3 = 1)
      SELECT o_orderstatus, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
      FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // Benchmark decontamination (eval-leakage guard): docs sharing any
    // 8-word-gram with the benchmark set are dropped. The benchmark here
    // is a slice of the corpus itself (doc_id % 97), so contamination is
    // planted by construction; broadcast semi-join on the tiny benchmark
    // gram set, answer-sized distinct - see TrainingPrep.decontaminate.
    QueryDef("q58_decontaminate", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val bench = docs.filter($"doc_id" % 97 === 0)
      TrainingPrep.decontaminate(docs, "text", "doc_id", bench, "text", k = 8)
        .select($"doc_id").orderBy($"doc_id")
    }, Some(s"""
      WITH sh AS (${shingleSetsSqlK(8)}),
      bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
      bad AS (SELECT DISTINCT t.doc_id
              FROM (SELECT doc_id, unnest(s) AS g FROM sh) t JOIN bench USING (g))
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY doc_id""")),

    // Repetition score (Gopher/C4-family quality signal): fraction of a
    // doc's 3-grams that repeat an earlier one. Pure projection.
    QueryDef("q59_repetition", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "documents")
        .select($"doc_id", TrainingPrep.repetitionScore($"text").as("rep_ratio"))
        .orderBy($"doc_id")
    }, Some(s"""
      WITH sh AS (${shingleSetsSqlK(3)}),
      w AS (SELECT doc_id,
                   len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS nw
            FROM documents)
      SELECT w.doc_id,
             CASE WHEN w.nw < 3 THEN 0.0
                  ELSE 1.0 - CAST(len(sh.s) AS DOUBLE) / (w.nw - 2) END AS rep_ratio
      FROM w JOIN sh ON w.doc_id = sh.doc_id
      ORDER BY w.doc_id""")),

    // Greedy context-window packing: md5-sharded, id-ordered, running
    // token offset -> sequence floor(t/512). The scalable replacement for
    // driver-side "concatenate and split" - one per-shard window.
    QueryDef("q60_pack_sequences", (s, dir) => {
      import s.implicits._
      TrainingPrep.packSequences(Tables.load(s, dir, "documents"), "text", "doc_id",
        ctxTokens = 512, shards = 8)
        .select($"doc_id", $"shard", $"n_tok", $"seq_id")
        .orderBy($"doc_id")
    }, Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
               CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
        FROM documents)
      SELECT doc_id, shard, n_tok,
             CAST(floor((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok) / 512.0) AS BIGINT) AS seq_id
      FROM t ORDER BY doc_id""")),

    // Domain-mixture resampling: per-source keep rates (permille),
    // deterministic md5 keep decision - reproducible on any engine.
    QueryDef("q61_domain_mix", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val permille = when($"source".isin("src0", "src1", "src2", "src3", "src4"), 1000)
        .when($"source".isin("src5", "src6", "src7", "src8", "src9"), 500)
        .otherwise(100)
      TrainingPrep.sampleByDomain(docs, "doc_id", permille)
        .groupBy($"source").agg(count(lit(1)).as("n_kept"))
        .orderBy($"source")
    }, Some("""
      SELECT source, COUNT(*) AS n_kept
      FROM (SELECT source,
                   CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS h,
                   CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1000
                        WHEN source IN ('src5','src6','src7','src8','src9') THEN 500
                        ELSE 100 END AS permille
            FROM documents)
      WHERE h < permille
      GROUP BY source ORDER BY source""")),

    // int8 scalar quantization (embedding storage prep): 4x compression
    // with bounded reconstruction error; codes are a pure double-math
    // function with an explicit floor(x+0.5) rounding rule, so DuckDB
    // reproduces them bit-for-bit - see Quantize.
    QueryDef("q62_quantize_embed", (s, dir) => {
      import s.implicits._
      import graft.similarity.Quantize
      Tables.load(s, dir, "embeddings")
        .withColumn("scale", Quantize.scaleOf($"embedding"))
        .select($"vec_id", $"scale",
          array_join(transform(Quantize.codes($"embedding", $"scale"),
            c => c.cast("string")), ",").as("codes"))
        .orderBy($"vec_id")
    }, Some("""
      WITH t AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings)
      SELECT vec_id, scale,
             array_to_string(CASE WHEN scale = 0
                  THEN list_transform(embedding, x -> 0)
                  ELSE list_transform(embedding,
                    x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS INTEGER))
             END, ',') AS codes
      FROM t ORDER BY vec_id""")),

    // REAL image decode end-to-end: synthImages writes actual PNG/JPEG/BMP
    // bytes (dims/format/alpha are pure functions of doc_id), and
    // extractFeatures recovers width/height/channels by DECODING the pixels
    // with the JDK codec (ImageCodec). DuckDB predicts the same values
    // arithmetically — so a codec regression (wrong dims, dropped alpha,
    // broken writer) breaks the hash match. Per-row CPU kernel, no shuffle.
    QueryDef("q66_image_decode", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id")
      Multimodal.extractFeatures(s, Multimodal.synthImages(s, docs)).toDF()
        .select($"doc_id", $"format", $"width", $"height", $"channels")
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'png'
                  WHEN 1 THEN 'jpeg' ELSE 'bmp' END AS format,
             CAST(8 + doc_id % 9 AS INTEGER) AS width,
             CAST(8 + (doc_id // 9) % 7 AS INTEGER) AS height,
             CAST(CASE WHEN doc_id % 6 = 0 THEN 4 ELSE 3 END AS INTEGER) AS channels
      FROM documents ORDER BY doc_id""")),

    // Near-duplicate CLUSTERS, not just pairs: connected components over
    // the exact Jaccard pair set (transitive closure), cluster id = the
    // component's min doc_id — the principled "keep one per duplicate
    // cluster" semantics (pair-wise removal either drops both ends of a
    // chain a–b–c or keeps near-dups whose only witness was removed).
    // Spark side: alternating large-star/small-star, O(log n) rounds, no
    // neighbor lists (Dedup.connectedComponents); oracle: recursive-CTE
    // reachability closure over the same pair set.
    // r7: consumes the SAME verified pair set as q30 (DedupCache — the
    // pair join runs once per corpus per process; previously this query
    // recomputed the full exact Jaccard join, doubling the most expensive
    // computation in the bench for an answer-sized closure).
    QueryDef("q69_dup_clusters", (s, dir) => {
      import s.implicits._
      Dedup.connectedComponents(jaccardPairs(s, dir), "id_a", "id_b")
        .select($"id".as("doc_id"), $"cluster_id")
        .withColumn("cluster_size", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")))
        .withColumn("keep", $"doc_id" === $"cluster_id")
        .orderBy($"doc_id")
    }, Some(s"""
      WITH RECURSIVE docs AS ($NEAR_DUP_DOCS_SQL),
      sh AS (${shingleSetsSqlFrom("docs")}),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(a.s || b.s)) >= 0.7),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(u, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, rr.r FROM edges e JOIN reach rr ON e.v = rr.u)
      SELECT u AS doc_id, MIN(r) AS cluster_id,
             COUNT(*) OVER (PARTITION BY MIN(r)) AS cluster_size,
             u = MIN(r) AS keep
      FROM reach GROUP BY u ORDER BY doc_id""")),

    // PII redaction (email / phone / IPv4) — the compliance scrub every
    // training corpus runs. PII is planted by deterministic concatenation
    // (same arithmetic both engines); counts via regexp_count on the raw
    // text; redaction applies the classes in an order that keeps them
    // disjoint (emails first — a redacted token has no digits or @ left to
    // re-match). Patterns live in TextAnalysis and are interpolated into
    // the oracle, so the two sides cannot drift; they are restricted to
    // the Java-regex ∩ RE2 subset (no lookaround, no backreferences) so
    // DuckDB is an exact oracle. Pure codegen projection — no shuffle.
    QueryDef("q70_pii_redact", (s, dir) => {
      import s.implicits._
      val withPii = Tables.load(s, dir, "documents").select($"doc_id",
        when($"doc_id" % 7 === 0,
          concat($"text", lit(" contact user"), $"doc_id", lit("@mail.example.com now")))
        .when($"doc_id" % 7 === 1,
          concat($"text", lit(" call 555-123-4567 or 555.987.6543")))
        .when($"doc_id" % 7 === 2,
          concat($"text", lit(" host 10.0."), ($"doc_id" % 256).cast("string"), lit(".25 down")))
        .otherwise($"text").as("text"))
      withPii.select(Seq($"doc_id") ++ TextAnalysis.piiCounts($"text") :+
          TextAnalysis.redactPii($"text").as("redacted"): _*)
        .orderBy($"doc_id")
    }, Some(s"""
      WITH withpii AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com now'
                    WHEN doc_id % 7 = 1 THEN text || ' call 555-123-4567 or 555.987.6543'
                    WHEN doc_id % 7 = 2 THEN text || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.25 down'
                    ELSE text END AS text
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS INTEGER) AS n_email,
             CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS INTEGER) AS n_phone,
             CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS INTEGER) AS n_ip,
             regexp_replace(regexp_replace(regexp_replace(text,
               '${TextAnalysis.EmailRe}', '[EMAIL]', 'g'),
               '${TextAnalysis.PhoneRe}', '[PHONE]', 'g'),
               '${TextAnalysis.Ipv4Re}', '[IP]', 'g') AS redacted
      FROM withpii ORDER BY doc_id""")),

    // Rarity-weighted top terms per document (tf-idf family; score = tf/df
    // is ONE division of exact integer operands — §5-deterministic, no ln).
    // The per-doc argsort runs through the scored_top_k bounded heap:
    // map-side partial top-k, so the rerank shuffle carries tasks×docs×5
    // entries, never the full (doc, term) table. Term identity rides the
    // portable 60-bit md5 hash (DuckDB computes the identical value), which
    // makes the DESC-score tie-break bit-identical cross-engine; the term
    // string joins back from the vocab-sized df table only for answer rows.
    // Scale: tf and df are linear shuffles; AQE broadcasts the df side of
    // both joins when the vocabulary fits, and they stay linear equi-joins
    // when it doesn't.
    QueryDef("q72_tfidf", (s, dir) => {
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select($"doc_id", explode(split(TextAnalysis.normalize($"text"), " ", -1)).as("tok"))
      val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "tok")
        .select($"doc_id", ($"tf".cast("double") / $"df").as("score"),
          Dedup.portableTokenHash($"tok").as("h"))
      val top = scored.groupBy($"doc_id")
        .agg(graft.functions.AggFunctions.scoredTopK($"score", $"h", 5).as("top"))
        .select($"doc_id", posexplode($"top"))
        .select($"doc_id", ($"pos" + 1).cast("int").as("rk"),
          $"col.score".as("score"), $"col.id".as("h"))
      top.join(df.select($"tok", Dedup.portableTokenHash($"tok").as("h")), "h")
        .select($"doc_id", $"rk", $"tok".as("term"), $"score")
        .orderBy($"doc_id", $"rk")
    }, Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT doc_id, tok, CAST(tf AS DOUBLE) / df AS score,
               CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
        FROM tf JOIN df USING (tok)),
      ranked AS (
        SELECT doc_id, tok, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, h) AS rk
        FROM scored)
      SELECT doc_id, CAST(rk AS INTEGER) AS rk, tok AS term, score
      FROM ranked WHERE rk <= 5 ORDER BY doc_id, rk""")),

    // Source-overlap matrix: pairwise 5-gram Jaccard between domains — the
    // curation diagnostic behind "is src A already covered by src B?"
    // decisions before mixing. Grams travel as 61-bit hashes through one
    // distinct (source, gram) projection; the gram self-join fans out at
    // most |sources|^2 rows per gram (a constant), and the final shuffle is
    // answer-sized (|sources|^2 pairs). The oracle joins raw gram strings —
    // counts agree unless two distinct grams collide in 2^61 (negligible).
    QueryDef("q77_source_overlap", (s, dir) => {
      import s.implicits._
      val grams = Tables.load(s, dir, "documents")
        .select($"source", explode(graft.functions.HashFunctions.wordShingleHash(
          TextAnalysis.normalize($"text"), 5, 2305843009213693951L)).as("g"))
        .distinct()
      val counts = grams.groupBy($"source").agg(count(lit(1)).as("n"))
      val inter = grams.as("a").join(grams.as("b"),
          $"a.g" === $"b.g" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(broadcast(counts.select($"source".as("src_a"), $"n".as("na"))), "src_a")
        .join(broadcast(counts.select($"source".as("src_b"), $"n".as("nb"))), "src_b")
        .select($"src_a", $"src_b", $"n_common",
          ($"n_common".cast("double") / ($"na" + $"nb" - $"n_common")).as("jaccard"))
        .orderBy($"src_a", $"src_b")
    }, Some(s"""
      WITH sg AS (
        SELECT DISTINCT source, unnest(s) AS g FROM (
          SELECT source, list_distinct(
            CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
                 ELSE [array_to_string(w[i:i+4], ' ') FOR i IN range(1, len(w)-3)] END) AS s
          FROM (SELECT source,
                  string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
                FROM documents))),
      n AS (SELECT source, COUNT(*) AS n FROM sg GROUP BY 1),
      i AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
            FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2)
      SELECT src_a, src_b, n_common,
             CAST(n_common AS DOUBLE) / (na.n + nb.n - n_common) AS jaccard
      FROM i JOIN n na ON na.source = i.src_a JOIN n nb ON nb.source = i.src_b
      ORDER BY src_a, src_b""")),

    // Inverted-index build: per-term document frequency + the first 10
    // postings. The posting list for a stop-word is corpus-sized, so the
    // naive collect_list+sort dies exactly where it matters — instead the
    // capped list goes through the scored_top_k bounded heap (map-side
    // partial top-k): per-term state is k entries and the term shuffle
    // carries tasks×terms×k rows, never raw postings.
    QueryDef("q79_postings", (s, dir) => {
      import s.implicits._
      val td = Tables.load(s, dir, "documents")
        .select($"doc_id",
          explode(split(TextAnalysis.normalize($"text"), " ", -1)).as("tok"))
        .distinct()
      val agg = td.groupBy($"tok").agg(
        count(lit(1)).as("df"),
        graft.functions.AggFunctions.scoredTopK(
          -$"doc_id".cast("double"), $"doc_id", 10).as("top"))
      agg.select($"tok", $"df",
          array_join(transform($"top", x => x.getField("id").cast("string")), ",")
            .as("postings"))
        .orderBy($"df".desc, $"tok").limit(100)
    }, Some("""
      WITH td AS (SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
          FROM documents)),
      agg AS (SELECT tok, COUNT(*) AS df FROM td GROUP BY 1),
      r AS (SELECT tok, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY tok ORDER BY doc_id) AS rn
            FROM td)
      SELECT a.tok, a.df,
             string_agg(CAST(r.doc_id AS VARCHAR), ',' ORDER BY r.doc_id) AS postings
      FROM agg a JOIN r ON a.tok = r.tok AND r.rn <= 10
      GROUP BY a.tok, a.df
      ORDER BY a.df DESC, a.tok LIMIT 100""")),

    // BM25 keyword retrieval (k1=1.2, b=0.75) for a fixed 3-term query:
    // per-term tf + doc lengths + broadcast df/corpus stats — the classic
    // search scorer as one linear pass + answer-sized joins. Cross-engine
    // float discipline: each per-term contribution is aggregated with a
    // disjoint-support conditional sum (adding exact zeros commutes), the
    // three contributions add in fixed textual order, and the score ships
    // as floor(score*1e6) so a last-ulp ln() difference cannot flip the
    // hash. Top-20 ordered by the integerized score.
    QueryDef("q81_bm25", (s, dir) => {
      import s.implicits._
      val k1 = 1.2; val b = 0.75
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select($"doc_id",
        explode(split(TextAnalysis.normalize($"text"), " ", -1)).as("tok"))
      val lens = toks.groupBy($"doc_id").agg(count(lit(1)).as("len"))
      val stats = lens.agg(count(lit(1)).as("n_docs"), avg($"len").as("avg_len"))
      val tf = toks.filter($"tok".isin("spark", "join", "merge"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val contrib = tf.join(lens, "doc_id").join(broadcast(df), "tok")
        .join(broadcast(stats))
        .select($"doc_id", $"tok",
          (log(($"n_docs" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
            ($"tf" * (k1 + 1)) /
            ($"tf" + lit(k1) * (lit(1 - b) + lit(b) * $"len" / $"avg_len"))).as("c"))
      contrib.groupBy($"doc_id")
        .agg(sum(when($"tok" === "spark", $"c").otherwise(0.0)).as("c_spark"),
          sum(when($"tok" === "join", $"c").otherwise(0.0)).as("c_join"),
          sum(when($"tok" === "merge", $"c").otherwise(0.0)).as("c_merge"))
        .select($"doc_id",
          floor(($"c_spark" + $"c_join" + $"c_merge") * 1e6).cast("long").as("score_u"))
        .orderBy($"score_u".desc, $"doc_id").limit(20)
    }, Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      lens AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
      stats AS (SELECT COUNT(*) AS n_docs, AVG(len) AS avg_len FROM lens),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
             WHERE tok IN ('spark', 'join', 'merge') GROUP BY 1, 2),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      contrib AS (
        SELECT tf.doc_id, tf.tok,
               ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) *
                 (tf.tf * 2.2) /
                 (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / stats.avg_len)) AS c
        FROM tf JOIN lens ON tf.doc_id = lens.doc_id
                JOIN df ON tf.tok = df.tok
                CROSS JOIN stats)
      SELECT doc_id,
             CAST(floor((SUM(CASE WHEN tok = 'spark' THEN c ELSE 0.0 END)
                       + SUM(CASE WHEN tok = 'join'  THEN c ELSE 0.0 END)
                       + SUM(CASE WHEN tok = 'merge' THEN c ELSE 0.0 END)) * 1e6) AS BIGINT) AS score_u
      FROM contrib GROUP BY doc_id
      ORDER BY score_u DESC, doc_id LIMIT 20""")),

    // IVF+PQ — the composed billion-scale index (IvfPq: coarse cells prune
    // WHICH files a probe reads, PQ codes shrink WHAT in-cell scoring
    // touches) through the same prebuilt-index lifecycle and exact-ANN
    // oracle as q46/q57. The planted-copy correctness argument carries
    // over to both quantizers: coarse assignment is an argmax of
    // dot(x, centroid) — scale-invariant, so each scaled copy lands in
    // its query's cell — and Pq.encodeOne unit-normalizes before coding,
    // so every copy carries the query's OWN code word-for-word and tops
    // the ADC shortlist; the exact rerank then restores cosine-1 +
    // n_id tie-break order. As with q33: a future hash mismatch here
    // means shortlist recall regressed (parameter/corpus drift), not a
    // wrong join — triage it as a recall regression.
    QueryDef("q83_ann_ivfpq", (s, dir) => {
      import s.implicits._
      IvfPq.probeTopK(s, ivfPqIndexFor(s, dir),
        Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding").filter($"vec_id" < 5),
        "embedding", "vec_id", k = 5, nProbe = 3, shortlist = 100)
        .select($"q_id", $"rk", $"n_id")
        .orderBy($"q_id", $"rk")
    }, Some(IVF_ORACLE_SQL)),

    // Exact-size stratified sample (eval-set carving): the 10 docs per
    // source with the smallest md5 rank, through the ScoredTopK bounded
    // heap — never a per-stratum Window sort of the corpus. The oracle
    // re-derives the same rows from the same md5 arithmetic.
    QueryDef("q85_stratified_sample", (s, dir) => {
      import s.implicits._
      TrainingPrep.stratifiedSample(
        Tables.load(s, dir, "documents"), "doc_id", "source", n = 10)
        .orderBy($"source", $"smp_rank")
    }, Some("""
      SELECT source, smp_rank, doc_id FROM (
        SELECT source, doc_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000000,
                          doc_id) AS INTEGER) AS smp_rank
        FROM documents)
      WHERE smp_rank <= 10 ORDER BY source, smp_rank""")),

    // Fractional-epoch upsampling (domain mixing, the upsampling half q61
    // can't express): 2.5 epochs of src0-3, 1.0 of src4-7, 0.3 of the
    // rest — whole copies for everyone, the remainder resolved by the
    // md5 draw, exploded to one row per (doc, epoch).
    QueryDef("q86_epoch_upsample", (s, dir) => {
      import s.implicits._
      val w = when($"source".isin("src0", "src1", "src2", "src3"), 2500)
        .when($"source".isin("src4", "src5", "src6", "src7"), 1000)
        .otherwise(300)
      TrainingPrep.epochUpsample(Tables.load(s, dir, "documents"), "doc_id", w)
        .select($"doc_id", $"source", $"n_copies", $"epoch_i")
        .orderBy($"doc_id", $"epoch_i")
    }, Some("""
      WITH t AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 AS h,
               CASE WHEN source IN ('src0','src1','src2','src3') THEN 2500
                    WHEN source IN ('src4','src5','src6','src7') THEN 1000
                    ELSE 300 END AS w
        FROM documents),
      c AS (SELECT doc_id, source,
                   CAST(w // 1000 + CASE WHEN h < w % 1000 THEN 1 ELSE 0 END AS INTEGER) AS n_copies
            FROM t)
      SELECT doc_id, source, n_copies,
             CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS epoch_i
      FROM c WHERE n_copies >= 1
      ORDER BY doc_id, epoch_i""")),

    // Graded benchmark contamination (the ratio published pipelines
    // threshold, vs q58's binary any-gram drop): per doc, the fraction of
    // its distinct 8-grams found in the benchmark set. Answer-sized —
    // only docs with >=1 shared gram surface.
    QueryDef("q87_contamination_score", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val bench = docs.filter($"doc_id" % 89 === 0)
      TrainingPrep.contaminationScore(docs, "text", "doc_id", bench, "text", k = 8)
        .orderBy($"doc_id")
    }, Some(s"""
      WITH sh AS (${shingleSetsSqlK(8)}),
      bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 89 = 0),
      tot AS (SELECT doc_id, CAST(len(s) AS INTEGER) AS n_grams FROM sh),
      hit AS (SELECT t.doc_id, CAST(COUNT(*) AS INTEGER) AS n_hit
              FROM (SELECT doc_id, unnest(s) AS g FROM sh) t JOIN bench USING (g)
              GROUP BY t.doc_id)
      SELECT doc_id, n_grams, n_hit, CAST(n_hit AS DOUBLE) / n_grams AS score
      FROM tot JOIN hit USING (doc_id)
      ORDER BY doc_id""")),

    // Bigram LM quality score (CCNet/KenLM-family): per-doc total
    // log-likelihood under the corpus's own MLE bigram model. Per-bigram
    // log-probs integerize BEFORE the per-doc sum (exact long addition
    // commutes; a double sum over unbounded terms would be
    // shuffle-order-dependent — the q81 rule extended).
    QueryDef("q89_bigram_lm", (s, dir) => {
      import s.implicits._
      TrainingPrep.bigramLmScore(
        Tables.load(s, dir, "documents"), "text", "doc_id")
        .orderBy($"doc_id")
    }, Some(BIGRAM_LM_ORACLE_SQL)),

    // Sparse tf-idf cosine "more like this" (SparseCosine): lexical top-k
    // similarity through the inverted index with the MAXDF vocabulary cap
    // (candidates ≤ Σ df² — never all-pairs; the cap is part of the
    // model, dropped terms are the lowest-idf ones). Planted term-group
    // docs make the answer non-degenerate on the driver's tiny-vocab
    // corpus at every sf: corpus words exceed the cap, group tokens are
    // unique to their group, so each query's neighbors are exactly its
    // group mates, ranked by genuinely different tf-idf cosines.
    QueryDef("q90_more_like_this", (s, dir) => {
      import s.implicits._
      val planted = PLANTED_MLT_DOCS.toDF("doc_id", "text")
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      graft.similarity.SparseCosine.topK(docs, "text", "doc_id",
        $"doc_id" >= 1000000L, k = 5, maxDf = 100)
        .orderBy($"q_id", $"rk")
    }, Some {
      val values = PLANTED_MLT_DOCS
        .map { case (id, text) => s"($id, '$text')" }.mkString(", ")
      s"""
      WITH alldocs AS (SELECT doc_id, text FROM documents
                       UNION ALL
                       SELECT * FROM (VALUES $values) AS planted(doc_id, text)),
      toks AS (SELECT doc_id AS d,
                      unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
               FROM alldocs),
      tf AS (SELECT d, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      n AS (SELECT COUNT(*) AS n FROM alldocs),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 100),
      w AS (SELECT d, tf.tok, tf.tf, ln(CAST(n.n AS DOUBLE) / df.df) AS lnidf
            FROM tf JOIN df USING (tok) CROSS JOIN n),
      norm AS (SELECT d,
                      CAST(SUM(CAST(floor(tf * tf * lnidf * lnidf * 1e6) AS BIGINT)) AS BIGINT) AS n2_u
               FROM w GROUP BY 1),
      p AS (SELECT a.d AS q, b.d AS c,
                   CAST(SUM(CAST(floor(a.tf * b.tf * a.lnidf * a.lnidf * 1e6) AS BIGINT)) AS BIGINT) AS num_u
            FROM w a JOIN w b USING (tok)
            WHERE a.d >= 1000000 AND a.d <> b.d GROUP BY 1, 2),
      sc AS (SELECT q, c,
                    CAST(floor(CAST(num_u AS DOUBLE) /
                      (sqrt(CAST(na.n2_u AS DOUBLE)) * sqrt(CAST(nb.n2_u AS DOUBLE))) * 1e6) AS BIGINT) AS score_u
             FROM p JOIN norm na ON na.d = p.q JOIN norm nb ON nb.d = p.c),
      r AS (SELECT q, c, score_u,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q ORDER BY score_u DESC, c) AS INTEGER) AS rk
            FROM sc)
      SELECT q AS q_id, rk, c AS n_id, score_u FROM r WHERE rk <= 5
      ORDER BY q_id, rk"""
    }),

    // Embedding QC (EmbeddingQc): zero / non-finite vector detection +
    // norm range per label — the hygiene pass before any index build.
    // Planted bad vectors (zero, NaN, Inf, known-norm) under label 99
    // make every flag column non-degenerate; per-component micro-unit
    // integerization keeps the norm sums order-free exact (q89/q90 rule).
    QueryDef("q92_embedding_qc", (s, dir) => {
      import s.implicits._
      val planted = Seq(
        (2000001L, Array(0.0f, 0.0f, 0.0f, 0.0f), 99),
        (2000002L, Array(Float.NaN, 1.0f, 2.0f, 3.0f), 99),
        (2000003L, Array(Float.PositiveInfinity, 1.0f, 2.0f, 3.0f), 99),
        (2000004L, Array(3.0f, 4.0f), 99))
        .toDF("vec_id", "embedding", "label")
      // NULL malformations (truncated writes): a NULL component and a
      // NULL vector — Scala Array[Float] can't hold null, so build these
      // two rows through SQL array literals
      val plantedNulls = Seq((2000005L, 99), (2000006L, 99))
        .toDF("vec_id", "label")
        .withColumn("embedding", when($"vec_id" === 2000005L,
            expr("array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT))"))
          .otherwise(lit(null).cast("array<float>")))
        .select($"vec_id", $"embedding", $"label")
      val embs = Tables.load(s, dir, "embeddings")
        .select($"vec_id", $"embedding", $"label")
        .unionByName(planted).unionByName(plantedNulls)
      graft.similarity.EmbeddingQc.qcReport(embs, "embedding", "label")
        .orderBy($"label")
    }, Some("""
      WITH alle AS (
        SELECT vec_id, embedding, label FROM embeddings
        UNION ALL
        SELECT * FROM (VALUES
          (2000001, CAST([0.0, 0.0, 0.0, 0.0] AS FLOAT[]), 99),
          (2000002, CAST(['nan'::FLOAT, 1.0, 2.0, 3.0] AS FLOAT[]), 99),
          (2000003, CAST(['infinity'::FLOAT, 1.0, 2.0, 3.0] AS FLOAT[]), 99),
          (2000004, CAST([3.0, 4.0] AS FLOAT[]), 99),
          (2000005, CAST([1.0, NULL, 2.0] AS FLOAT[]), 99),
          (2000006, CAST(NULL AS FLOAT[]), 99)) AS p(vec_id, embedding, label)),
      v AS (
        SELECT label,
               embedding IS NULL OR len(list_filter(embedding,
                 x -> x IS NULL OR isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)))) > 0 AS bad,
               list_sum(list_transform(embedding,
                 x -> CASE WHEN isnan(CAST(x AS DOUBLE)) OR isinf(CAST(x AS DOUBLE)) THEN 0
                           ELSE CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e6) AS BIGINT) END)) AS n2_u
        FROM alle)
      SELECT label, CAST(COUNT(*) AS INTEGER) AS n_vecs,
             CAST(SUM(CASE WHEN NOT bad AND n2_u = 0 THEN 1 ELSE 0 END) AS INTEGER) AS n_zero,
             CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS INTEGER) AS n_nonfinite,
             CAST(MIN(CASE WHEN NOT bad THEN n2_u END) AS BIGINT) AS min_n2_u,
             CAST(MAX(CASE WHEN NOT bad THEN n2_u END) AS BIGINT) AS max_n2_u
      FROM v GROUP BY label ORDER BY label""")),

    // REAL audio decode end-to-end (the q66 protocol for the second
    // modality): synthAudio writes genuine RIFF/WAVE PCM16 containers
    // (rate/channels/frames/amplitude pure functions of doc_id, square
    // wave so Σ|sample| is an exact integer), extractAudioFeatures
    // recovers every column by PARSING the container with the JRE codec
    // (javax.sound.sampled) — DuckDB predicts the same values
    // arithmetically, so the hash gates the codec: a header, endianness,
    // or channel-interleave bug breaks it.
    QueryDef("q95_audio_decode", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id")
      Multimodal.extractAudioFeatures(s, Multimodal.synthAudio(s, docs)).toDF()
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id,
             CAST(CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER) AS sample_rate,
             CAST(1 + doc_id % 2 AS INTEGER) AS channels,
             CAST(50 + doc_id % 100 AS INTEGER) AS n_frames,
             CAST((1000 + (doc_id % 7) * 1000) * (50 + doc_id % 100) * (1 + doc_id % 2) AS BIGINT) AS sum_abs
      FROM documents ORDER BY doc_id""")),

    // Exact corpus-vocabulary heavy hitters with BOUNDED task memory
    // (HeavyHitters, r8): per-partition Misra–Gries summaries (capacity
    // counters per task, invariant in corpus size) yield a candidate
    // superset guaranteed to contain every token with count >
    // n/(capacity+1); an exact broadcast-filtered recount ranks them.
    // The runtime certificate (rank-m count must beat the MG floor)
    // throws rather than silently truncating — on a Zipfian vocabulary
    // the margin is wide at every sf. The oracle is the full GROUP BY
    // the operator exists to avoid: agreement proves the bounded-memory
    // path loses nothing. knownTotal comes from a COUNT projection (no
    // second token explode).
    QueryDef("q99_heavy_hitters", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val toks = docs.select(
        explode(graft.text.TextAnalysis.wordTokens($"text")).as("tok"))
      val nTokens = docs.select(
        sum(graft.text.TextAnalysis.wordTokenCount($"text").cast("long")))
        .head.getLong(0)
      HeavyHitters.exactTopK(toks, "tok", m = 20, capacity = 1024,
          knownTotal = Some(nTokens))
        .select($"hh_key".as("tok"), $"n")
    }, Some("""
      SELECT tok, COUNT(*) AS n FROM (
        SELECT unnest(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
                                  x -> len(x) > 0)) AS tok
        FROM documents)
      GROUP BY tok ORDER BY n DESC, tok LIMIT 20""")),

    // Sub-document boilerplate removal (dedup/Boilerplate.scala): drop
    // the 8-chunk PASSAGES that repeat across >= 2 documents, keep the
    // documents — the CCNet duplicated-line filter generalized to
    // whitespace-chunk windows (raw text reassembled, punctuation/case
    // intact; keys case-folded). The whole reconstruction is audited by
    // hash: n_seg / n_kept plus md5 of the cleaned text per doc, so the
    // oracle proves segmentation, df-counting, the drop set AND
    // position-ordered reassembly all agree with an independent engine.
    QueryDef("q101_passage_dedup", (s, dir) => {
      import s.implicits._
      graft.dedup.Boilerplate.dropDuplicatedPassages(
          Tables.load(s, dir, "documents"), "text", "doc_id", k = 8, minDocs = 2)
        .orderBy($"doc_id")
    }, Some("""
      WITH tk AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                           x -> len(x) > 0) AS toks
        FROM documents),
      seg AS (
        SELECT doc_id, u.i AS seg_i, u.seg AS seg FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1),
                   i -> {'i': i,
                         'seg': array_to_string(list_slice(toks, i*8+1, i*8+8), ' ')})) AS u
          FROM tk WHERE len(toks) > 0)),
      hot AS (SELECT md5(lower(seg)) AS h FROM seg
              GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2),
      kept AS (SELECT * FROM seg WHERE md5(lower(seg)) NOT IN (SELECT h FROM hot)),
      agg AS (SELECT doc_id, COUNT(*) AS n_kept,
                     string_agg(seg, ' ' ORDER BY seg_i) AS cleaned
              FROM kept GROUP BY 1)
      SELECT t.doc_id,
             CAST(CASE WHEN len(t.toks) = 0 THEN 0
                       ELSE ceil(len(t.toks) / 8.0) END AS BIGINT) AS n_seg,
             COALESCE(a.n_kept, 0) AS n_kept,
             md5(COALESCE(a.cleaned, '')) AS clean_md5
      FROM tk t LEFT JOIN agg a USING (doc_id)
      ORDER BY t.doc_id""")),

    // Integer-exact distributed k-means (similarity/KMeansInt.scala):
    // Lloyd's iterations over the embeddings table — the iterative
    // refinement sibling of Ivf's one-shot sampled training. Components
    // quantized to milli-units, distances integer sums of squares,
    // centroid update integer mean (div truncates toward zero in Spark,
    // DuckDB, and the JVM alike), ties to the smaller centroid index —
    // so the DuckDB oracle, unrolling the SAME three assign→update
    // rounds as chained CTEs (the q100 protocol for iterative
    // fixpoints), reproduces assignments and centroids bit-for-bit.
    // Output: cluster × label contingency + final centroid L1 norms.
    QueryDef("q108_kmeans", (s, dir) => {
      import s.implicits._
      val embs = Tables.load(s, dir, "embeddings")
      val (assigned, centroids) =
        graft.similarity.KMeansInt.fit(embs, "vec_id", "embedding", k = 5, iters = 3)
      val norms = centroids.zipWithIndex
        .map { case (c, j) => (j, c.map(math.abs).sum) }.toSeq
        .toDF("cluster", "c_norm1")
      assigned.groupBy($"cluster", $"label").agg(count(lit(1)).as("n"))
        .join(broadcast(norms), "cluster")
        .select($"cluster", $"label", $"n", $"c_norm1")
        .orderBy($"cluster", $"label")
    }, Some(kmeansOracleSql(k = 5, iters = 3))),

    // Positional phrase search (text/PhraseIndex.scala): the corpus's
    // most frequent verbatim trigram and every document containing it —
    // boilerplate/template discovery via the positional-postings
    // construction (per-doc lead windows, one doc-id shuffle, no join),
    // where a LIKE scan would re-read the whole corpus per query. The
    // oracle builds the same trigrams by list comprehension, picks the
    // same (count DESC, phrase) winner, and counts the same docs.
    QueryDef("q110_phrase_search", (s, dir) => {
      import s.implicits._
      graft.text.PhraseIndex.topPhraseDocs(
        Tables.load(s, dir, "documents"), "text", "doc_id", n = 3)
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      g AS (
        SELECT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       FOR i IN range(1, len(w) - 1)]) AS phrase
        FROM w WHERE len(w) >= 3),
      pc AS (SELECT doc_id, phrase, COUNT(*) AS n_occ FROM g GROUP BY 1, 2),
      top AS (SELECT phrase FROM pc GROUP BY phrase
              ORDER BY SUM(n_occ) DESC, phrase LIMIT 1)
      SELECT pc.phrase, pc.doc_id, pc.n_occ
      FROM pc JOIN top USING (phrase)
      ORDER BY pc.doc_id""")),

    // Perceptual image near-dup (Multimodal.aHashBands +
    // imageNearDupPairs): average-hash of the 8×8 crop of REAL decoded
    // pixels, banded hamming join — exact recall for hamming ≤ 3 by the
    // 4-band pigeonhole. The q66 arithmetic-oracle trick extended to
    // PIXELS: colors are pure integer functions of (id, x, y) and the
    // formats are lossless (PNG/BMP; JPEG excluded), so DuckDB derives
    // every gray value, mean, hash bit, band, candidate, and hamming
    // arithmetically while Spark actually encodes and decodes images —
    // a header, channel-order, or alpha bug breaks the hash equality.
    // Planted twins (one pixel xor'd) make the answer non-degenerate.
    QueryDef("q111_image_neardup", (s, dir) => {
      import s.implicits._
      val organic = Tables.load(s, dir, "documents")
        .select($"doc_id").filter($"doc_id" % 3 =!= 1)
      val assets = Multimodal.synthImages(s, organic)
        .unionByName(Multimodal.synthTwinImages(s, nPairs = 8, base = 3000000L))
      Multimodal.imageNearDupPairs(Multimodal.aHashBands(s, assets), maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }, Some("""
      WITH ids AS (
        SELECT doc_id AS id, doc_id AS base, FALSE AS twin
        FROM documents WHERE doc_id % 3 <> 1
        UNION ALL
        SELECT 3000000 + 2*i, 3000000 + 2*i, FALSE FROM range(8) t(i)
        UNION ALL
        SELECT 3000000 + 2*i + 1, 3000000 + 2*i, TRUE FROM range(8) t(i)),
      px AS (
        SELECT id, x, y,
          CASE WHEN twin AND x = 0 AND y = 0
               THEN xor((base * CAST(1103515245 AS BIGINT) + x*12345
                         + y*CAST(2654435761 AS BIGINT)) & 16777215, 8421504)
               ELSE (base * CAST(1103515245 AS BIGINT) + x*12345
                     + y*CAST(2654435761 AS BIGINT)) & 16777215
          END AS rgb
        FROM ids, range(8) xs(x), range(8) ys(y)),
      g AS (
        SELECT id, (y*8 + x) AS pos,
               (((rgb >> 16) & 255) * 299 + ((rgb >> 8) & 255) * 587
                + (rgb & 255) * 114) // 1000 AS gray
        FROM px),
      mn AS (SELECT id, SUM(gray) // 64 AS mean FROM g GROUP BY id),
      bits AS (
        SELECT g.id, pos // 16 AS j,
               CASE WHEN gray > mean THEN (1 << (pos % 16)) ELSE 0 END AS bv
        FROM g JOIN mn ON mn.id = g.id),
      bands AS (SELECT id, j, CAST(SUM(bv) AS BIGINT) AS v FROM bits GROUP BY 1, 2),
      wide AS (
        SELECT id,
               MAX(CASE WHEN j = 0 THEN v END) AS b0,
               MAX(CASE WHEN j = 1 THEN v END) AS b1,
               MAX(CASE WHEN j = 2 THEN v END) AS b2,
               MAX(CASE WHEN j = 3 THEN v END) AS b3
        FROM bands GROUP BY id),
      classes AS (
        SELECT MIN(id) AS rep, COUNT(*) AS n, b0, b1, b2, b3
        FROM wide GROUP BY b0, b1, b2, b3),
      zero AS (
        SELECT rep AS id_a, rep AS id_b, 0 AS hamming, n AS n_a, n AS n_b
        FROM classes WHERE n >= 2),
      cb AS (
        SELECT rep, 0 AS j, b0 AS v FROM classes
        UNION ALL SELECT rep, 1, b1 FROM classes
        UNION ALL SELECT rep, 2, b2 FROM classes
        UNION ALL SELECT rep, 3, b3 FROM classes),
      cand AS (
        SELECT DISTINCT a.rep AS ra, b.rep AS rb
        FROM cb a JOIN cb b ON a.j = b.j AND a.v = b.v AND a.rep < b.rep),
      near AS (
        SELECT ra, rb,
               bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
               + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming,
               x.n AS n_a, y.n AS n_b
        FROM cand JOIN classes x ON x.rep = ra JOIN classes y ON y.rep = rb)
      SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming, n_a, n_b FROM (
        SELECT * FROM zero
        UNION ALL
        SELECT ra, rb, hamming, n_a, n_b FROM near WHERE hamming BETWEEN 1 AND 3)
      ORDER BY id_a, id_b""")),

    // Deterministic hard-negative sampling (TrainingPrep.negativeSample):
    // per anchor, the 5 md5-drawn negatives from OTHER sources — the
    // contrastive-pairs step of a training pipeline, reproducible
    // row-by-row on any engine (the shard discipline). Anchors
    // broadcast; candidates stream through one scored_top_k heap — no
    // per-anchor window sort of the corpus.
    QueryDef("q114_negative_sampling", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val anchors = docs.filter($"doc_id" < 10)
        .select($"doc_id".as("a_id"), $"source".as("a_source"))
      TrainingPrep.negativeSample(docs, "doc_id", "source", anchors, k = 5)
        .orderBy($"a_id", $"neg_rank")
    }, Some("""
      WITH anchors AS (
        SELECT doc_id AS a_id, source AS a_source FROM documents WHERE doc_id < 10),
      cand AS (
        SELECT a.a_id, d.doc_id,
               (CAST(('0x' || substr(md5('neg:' || CAST(a.a_id AS VARCHAR)
                  || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                % 1000000000) * 65536 + d.doc_id % 65536 AS sc
        FROM documents d, anchors a WHERE d.source <> a.a_source)
      SELECT a_id, CAST(rn AS INTEGER) AS neg_rank, doc_id AS neg_id FROM (
        SELECT a_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY sc) AS rn
        FROM cand)
      WHERE rn <= 5 ORDER BY a_id, neg_rank""")),

    // Semantic (SemDeDup-class) dedup (dedup/SemDedup.scala): catch
    // PARAPHRASES — documents whose embeddings point the same way with
    // no surface overlap, the one dedup class q27–q31 (all
    // surface-keyed) cannot. KMeansInt clusters the corpus (k = ⌊√n⌋,
    // min 5 — balancing assignment O(n·k·d) against the within-cluster
    // pair join O(n²·d/k) at n^1.5·d total), then each cluster's
    // exact cosine pair join drops every vector dominated by a
    // smaller-id clustermate above 0.95. Planted paraphrase pairs:
    // ×1.015625 copies — the multiplier is exact in float AND double,
    // so Spark's float multiply and DuckDB's double-then-cast produce
    // identical bytes (same direction, different surface; cosine ≈ 1).
    // Cluster assignment is the integer-exact q108 protocol (the oracle
    // unrolls the same 2 rounds with rank-based seeding); the cosine
    // threshold compare rides the corpus's measured similarity gap
    // (naturals ≤ ~0.6, planted ≈ 1 — the q31 argument).
    QueryDef("q115_semantic_dedup", (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
      val planted = emb.filter($"vec_id" % 9 === 0)
        .select(($"vec_id" + 1000000).as("vec_id"),
          transform($"embedding", x => (x * lit(1.015625f)).cast("float"))
            .as("embedding"))
      val src = emb.unionByName(planted)
      // k = ⌊√n⌋ balances the two corpus-scale costs — assignment
      // O(n·k·d) vs within-cluster pairs O(n²·d/k) — at n^1.5·d (the
      // measured 23× sf3 blowup of the first k = n/200 choice was the
      // assignment term). IEEE sqrt is correctly rounded, so both
      // engines compute the identical k.
      val k = math.max(5L, math.sqrt(src.count().toDouble).toLong).toInt
      graft.dedup.SemDedup.semanticDedup(src, "vec_id", "embedding", k,
        iters = 2, threshold = 0.95)
        .orderBy($"id")
    }, Some(semanticDedupOracleSql)),

    // Collocation mining (text/Collocations.scala): top-50 adjacent
    // bigrams by PMI — the "which token pairs belong together" signal
    // (Church & Hanks CL'90), complementing Bpe (raw pair frequency)
    // and q110 (most FREQUENT phrase) with most ASSOCIATED. The score
    // ships as the LIFT ratio c_xy·B/(c_x·c_y) — ln is monotone, so
    // ranking by lift IS ranking by PMI, and the lift is a fixed-order
    // double chain over exact integer counts (bit-identical cross-
    // engine; ln itself differs in the last ulp between engines and
    // never gets computed). minCount=5 is the standard hapax guard.
    QueryDef("q119_collocations", (s, dir) => {
      graft.text.Collocations.pmiTopK(
        Tables.load(s, dir, "documents"), "text", minCount = 5L, k = 50)
    }, Some("""
      WITH w AS (
        SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      uni AS (SELECT unnest(w) AS tok FROM w),
      cu AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY 1),
      b AS (SELECT unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
            FROM w WHERE len(w) >= 2),
      cb AS (SELECT bg, COUNT(*) AS n_xy FROM b GROUP BY 1 HAVING COUNT(*) >= 5),
      tot AS (SELECT COUNT(*) AS nb FROM b)
      SELECT cb.bg AS bigram, cb.n_xy, x.c AS n_x, y.c AS n_y,
             CAST(cb.n_xy AS DOUBLE) * (SELECT nb FROM tot) / x.c / y.c AS lift
      FROM cb JOIN cu x ON string_split(cb.bg, ' ')[1] = x.tok
              JOIN cu y ON string_split(cb.bg, ' ')[2] = y.tok
      ORDER BY lift DESC, bigram LIMIT 50""")),

    // Hybrid retrieval via reciprocal-rank fusion (similarity/
    // HybridSearch.scala — Cormack et al. SIGIR'09): the standard RAG
    // search composition. Lexical leg = exact 3-gram Jaccard top-10
    // per query doc (queries broadcast, corpus streams once through
    // the ScoredTopK heap); dense leg = exact cosine top-10 over the
    // embeddings (the q32 ranking at k=10 — its oracle agreement IS
    // the dense leg's rank gate); fusion = Σ 1/(60+rk), absent legs
    // contribute exact 0.0 — every fused score is a fixed-order sum of
    // single exact-integer divisions, bit-identical cross-engine, ties
    // on the candidate id. Fusion inputs are queries×k rows, so the
    // fuse join + rank window are answer-sized at any corpus scale.
    // Planted two-leg candidates keep the FUSION non-degenerate at
    // every sf: id 5000000+q carries an exact COPY of query q's text
    // (lexical rank 1, J = 1) AND a ×1.015625 scaled copy of query q's
    // embedding (dense rank 1, cosine ≈ 1 — the float/double-exact
    // multiplier), so each query's fused top hit sums BOTH legs (2/61)
    // — on the synthetic corpus the text and embedding tables are
    // independent, so natural two-leg overlap is rare.
    QueryDef("q123_hybrid_rrf", (s, dir) => {
      import s.implicits._
      val docs0 = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val docs = docs0.unionByName(docs0.filter($"doc_id" < 3)
        .select(($"doc_id" + 5000000).as("doc_id"), $"text"))
      val lex = graft.similarity.HybridSearch.jaccardTopK(
        docs, "text", "doc_id", $"doc_id" < 3, k = 10)
      val emb0 = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
      val emb = emb0.unionByName(emb0.filter($"vec_id" < 3)
        .select(($"vec_id" + 5000000).as("vec_id"),
          transform($"embedding", x => (x * lit(1.015625f)).cast("float"))
            .as("embedding")))
      val dense = Ann.bruteTopK(emb, emb.filter($"vec_id" < 3),
        "embedding", "vec_id", k = 10)
      graft.similarity.HybridSearch.rrfFuse(lex, dense, c = 60, k = 5)
        .orderBy($"q_id", $"rk")
    }, Some(s"""
      WITH sh AS (${shingleSetsSqlFrom(
        """(SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 5000000, text FROM documents WHERE doc_id < 3)""")}),
      lexs AS (
        SELECT q.doc_id AS q_id, d.doc_id AS n_id,
               CAST(len(list_intersect(d.s, q.s)) AS DOUBLE)
                 / len(list_distinct(d.s || q.s)) AS j
        FROM sh d JOIN sh q ON q.doc_id < 3 AND d.doc_id <> q.doc_id),
      lex AS (
        SELECT q_id, n_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY j DESC, n_id) AS rk
        FROM lexs),
      eu AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 5000000,
               list_transform(embedding,
                 x -> CAST(x * CAST(1.015625 AS DOUBLE) AS FLOAT))
        FROM embeddings WHERE vec_id < 3),
      dens AS (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                          e.vec_id) AS rk
        FROM eu q JOIN eu e ON q.vec_id <> e.vec_id
        WHERE q.vec_id < 3),
      fused AS (
        SELECT COALESCE(l.q_id, d.q_id) AS q_id,
               COALESCE(l.n_id, d.n_id) AS n_id,
               COALESCE(1.0 / (60.0 + l.rk), 0.0)
                 + COALESCE(1.0 / (60.0 + d.rk), 0.0) AS rrf
        FROM (SELECT * FROM lex WHERE rk <= 10) l
        FULL OUTER JOIN (SELECT * FROM dens WHERE rk <= 10) d
          ON l.q_id = d.q_id AND l.n_id = d.n_id)
      SELECT q_id, CAST(rk AS INTEGER) AS rk, n_id, rrf FROM (
        SELECT q_id, n_id, rrf,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rk
        FROM fused)
      WHERE rk <= 5 ORDER BY q_id, rk""")),

    // Chunk->document embedding pooling (similarity/Pooling.meanPool):
    // the aggregation between chunk-wise encoding (q49 chunks what the
    // encoder's window bounds) and every doc-granularity consumer
    // (semantic dedup, coarse routing, diversity sampling). Integer-
    // exact: micro-unit quantization + Σ div n truncating mean (the
    // q108 convention), so the pooled vector is bit-identical cross-
    // engine; the output audits EVERY component via the position-
    // weighted checksum Σ (pos+1)·mean_pos and the L1 norm — a single
    // flipped component breaks the hash. Five consecutive vec_ids pose
    // as one document's chunks.
    QueryDef("q124_embedding_pool", (s, dir) => {
      import s.implicits._
      val chunks = Tables.load(s, dir, "embeddings")
        .select(expr("vec_id div 5").as("doc"), $"embedding")
      graft.similarity.Pooling.meanPool(chunks, "doc", "embedding")
        .select($"doc", $"n_chunks",
          aggregate($"pooled", lit(0L), (a, x) => a + abs(x)).as("l1_u"),
          aggregate(zip_with($"pooled", sequence(lit(1), size($"pooled")),
            (m, i) => m * i), lit(0L), (a, x) => a + x).as("chk_u"))
        .orderBy($"doc")
    }, Some("""
      WITH q AS (
        SELECT vec_id // 5 AS doc, u.i AS pos,
               CAST(round(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS q
        FROM (SELECT vec_id,
                unnest(list_transform(embedding, (x, i) -> {'i': i, 'x': x})) AS u
              FROM embeddings)),
      m AS (SELECT doc, pos, SUM(q) // COUNT(*) AS m, COUNT(*) AS n
            FROM q GROUP BY 1, 2),
      nc AS (SELECT doc, CAST(MAX(n) AS BIGINT) AS n_chunks FROM m GROUP BY 1)
      SELECT m.doc, nc.n_chunks,
             CAST(SUM(ABS(m.m)) AS BIGINT) AS l1_u,
             CAST(SUM(m.pos * m.m) AS BIGINT) AS chk_u
      FROM m JOIN nc ON nc.doc = m.doc
      GROUP BY 1, 2 ORDER BY m.doc""")),

    // BPE tokenizer training under the oracle (text/Bpe.scala — Sennrich
    // ACL'16): the q108/q100 unrolling protocol applied to the last big
    // tested-only component. Three merge rounds as chained CTEs over the
    // (word, count) table: adjacent pair counts (weighted by word count,
    // HAVING >= 2 — the trainer's min-pair rule), a 1-row argmax with
    // the (count DESC, left, right) lexicographic tie-break, and the
    // per-word merge application. Merge application is EXACT in SQL via
    // the double-delimiter string encoding: symbols ride as
    // "||s1||s2||...||" and one native replace('|a||b|' -> '|ab|') per
    // round IS Bpe.applyMerge — each match consumes only the INNER
    // delimiters, so consecutive matches all land in one left-to-right
    // pass, and equal-symbol runs pair leftmost exactly like the Scala
    // kernel ("aaaaa" -> [aa, aa, a], not [aa, a, aa]). The corpus is
    // pre-restricted to [a-z0-9 ] in BOTH engines so '|' cannot occur
    // in a symbol. Output: the learned merge list + the corpus's top-5
    // words segmented by it (the greedy encoder applied in training
    // order) — merge SELECTION, tie-breaks, non-overlap application AND
    // the downstream encoder all driver-checked.
    QueryDef("q127_bpe", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select(regexp_replace(lower($"text"), "[^a-z0-9 ]", " ").as("text"))
      val merges = graft.text.Bpe.train(docs, "text", nMerges = 3)
      val sample = docs
        .select(explode(split(graft.text.TextAnalysis.normalize($"text"), " ", -1)).as("w"))
        .filter(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"w").limit(5)
        .select("w").as[String].collect()
      val mergeRows = merges.zipWithIndex.map { case (m, i) =>
        (s"merge:${i + 1}", m.left + "+" + m.right) }
      val segRows = sample.toSeq.map(w =>
        (s"seg:$w", graft.text.Bpe.segmentWord(w, merges).mkString(" ")))
      (mergeRows ++ segRows).toDF("item", "value").orderBy($"item")
    }, Some(bpeOracleSql(3))),

    // The END-TO-END corpus pipeline (ops/CorpusPipeline.scala) under ONE
    // driver-checked row: exact dedup → shared-passage removal → quality
    // + repetition gates → benchmark decontamination → near-dup cluster
    // removal (MinHash + connected components) → context-window packing,
    // composed exactly as a trainer would call it. Every stage is
    // individually oracle-gated (q27/q101/q48/q59/q58/q30+q69/q60); this
    // row closes the one correctness class per-stage oracles cannot see —
    // integration drift (stage order, column contracts, text mutations
    // between stages). The input plants one specimen per removal class:
    // whitespace-variant exact dups (%7, the q27 arithmetic), suffix
    // near-dups (%17, the q30 arithmetic: J ≥ 0.76 — above the 0.7
    // threshold, where 21×3 banding misses w.p. ~5e-6), 16-word-header
    // boilerplate carriers (%13 — see PIPELINE_HEADER; header passages go
    // hot at minDocs=4, and the cleaned carrier becomes BYTE-IDENTICAL to
    // its original, so it reaches the near-dup stage as a deterministic
    // exact-group pair — banding never sees it), and the %97 slice as the
    // benchmark (contamination by construction). The oracle recomposes
    // all six stages from the proven per-stage SQL fragments; the DuckDB
    // all-pairs Jaccard stays exact for the cluster stage by the q28 gap
    // argument (naturals < 0.25, planted ≥ 0.76 on the cleaned corpus —
    // passage removal only strips the carriers' header, so it creates no
    // new cross-doc similarity below the planted band).
    QueryDef("q125_corpus_pipeline", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val exactDups = docs.filter($"doc_id" % 7 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"),
          concat($"text", lit("  ")).as("text"))
      val nearDups = docs.filter($"doc_id" % 17 === 0)
        .select(($"doc_id" + 1200000).as("doc_id"),
          concat($"text", lit(" near duplicate copy tag")).as("text"))
      val carriers = docs.filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + 1400000).as("doc_id"),
          concat(lit(PIPELINE_HEADER + " "), $"text").as("text"))
      val corpus = docs.unionByName(exactDups).unionByName(nearDups)
        .unionByName(carriers)
      val benchmark = docs.filter($"doc_id" % 97 === 0)
      graft.ops.CorpusPipeline.prepare(corpus, benchmark,
        minChars = 50, minAlpha = 0.5, maxRepetition = 0.5,
        jaccardThreshold = 0.7, ctxTokens = 512, shards = 8,
        passageMinDocs = 4)
        .orderBy($"doc_id")
    }, Some(corpusPipelineOracleSql)),

    // Indexed hybrid retrieval — q123's RRF fusion over the PRODUCTION
    // legs a large corpus would run: dense = the q83 prebuilt IVF+PQ
    // index (coarse cells prune which files a probe reads, PQ codes
    // shrink in-cell scoring, exact rerank on the shortlist), lexical =
    // the q90 MAXDF-capped sparse tf-idf inverted index. The oracle is
    // the EXACT-leg fusion (brute cosine + exact tf-idf), so the hash
    // match doubles as a recall gate on BOTH indexes at once (the q33/
    // q83 framing: a future mismatch means shortlist recall regressed,
    // not a wrong join). PLANTED_HYBRID_DOCS aligns the two id spaces:
    // candidate ids m·1000000+q are simultaneously the IVF corpus's
    // scaled embedding copies (dense rank m — cosine 1, id tie-break)
    // and the lexical group's filler-graded members (lexical rank m),
    // so every fused hit sums both legs: rrf = 2/(60+m), exact integer
    // divisions in fixed order, bit-identical cross-engine.
    QueryDef("q126_hybrid_indexed", (s, dir) => {
      import s.implicits._
      val dense = IvfPq.probeTopK(s, ivfPqIndexFor(s, dir),
        Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding").filter($"vec_id" < 5),
        "embedding", "vec_id", k = 5, nProbe = 3, shortlist = 100)
        .select($"q_id", $"rk", $"n_id")
      val planted = PLANTED_HYBRID_DOCS.toDF("doc_id", "text")
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
        .unionByName(planted)
      val lex = graft.similarity.SparseCosine.topK(docs, "text", "doc_id",
          $"doc_id" >= 6000000L, k = 5, maxDf = 100)
        .withColumn("q_id", $"q_id" - 6000000L)
      graft.similarity.HybridSearch.rrfFuse(lex, dense, c = 60, k = 5)
        .orderBy($"q_id", $"rk")
    }, Some(hybridIndexedOracleSql)),

    // Count-min frequency sketch under the oracle (ops/Sketches.scala —
    // Cormode & Muthukrishnan '05): the bounded-memory token-frequency
    // summary that pairs with q99's Misra–Gries top-k — MG answers "which
    // keys are heavy", count-min answers "how often is THIS key" for any
    // key, in depth×width integer counters that merge by addition
    // (per-shard sketches sum into the corpus sketch — the incremental
    // story again). Everything is exact integer arithmetic over md5
    // bucket hashes, so the oracle rebuilds every counter and estimate
    // bit-for-bit — no float anywhere (the q121 portability class).
    // The probe batch is the top-8 true-frequency tokens ((count DESC,
    // tok) — deterministic), and the output pairs est_n with true_n:
    // est ≥ true by construction (collisions only add), equality when a
    // row isolates the key — both visible to the driver.
    QueryDef("q129_count_min", (s, dir) => {
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select(explode(split(TextAnalysis.normalize($"text"), " ", -1)).as("tok"))
      val counters = graft.ops.Sketches.cmsCounters(
        toks, $"tok", lit(1L), depth = 4, width = 32)
      val truth = toks.groupBy($"tok").agg(count(lit(1)).as("true_n"))
        .orderBy($"true_n".desc, $"tok").limit(8)
      val est = graft.ops.Sketches.cmsEstimate(
        counters, truth.select($"tok"), "tok", depth = 4, width = 32)
      truth.join(est, "tok").select($"tok", $"true_n", $"est_n")
        .orderBy($"tok")
    }, Some("""
      WITH toks AS (
        SELECT unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        FROM documents),
      cnt AS (SELECT tok, COUNT(*) AS true_n FROM toks GROUP BY 1),
      probes AS (SELECT tok, true_n FROM cnt ORDER BY true_n DESC, tok LIMIT 8),
      ctr AS (
        SELECT i.i AS i,
               CAST(('0x' || substr(md5('cms:' || CAST(i.i AS VARCHAR) || ':' || tok), 1, 15)) AS BIGINT) % 32 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM toks CROSS JOIN (SELECT unnest(range(4)) AS i) i
        GROUP BY 1, 2),
      pb AS (
        SELECT p.tok, i.i AS i,
               CAST(('0x' || substr(md5('cms:' || CAST(i.i AS VARCHAR) || ':' || p.tok), 1, 15)) AS BIGINT) % 32 AS bucket
        FROM probes p CROSS JOIN (SELECT unnest(range(4)) AS i) i),
      pe AS (SELECT pb.tok, CAST(MIN(COALESCE(ctr.c, 0)) AS BIGINT) AS est_n
             FROM pb LEFT JOIN ctr ON ctr.i = pb.i AND ctr.bucket = pb.bucket
             GROUP BY 1)
      SELECT p.tok, p.true_n, pe.est_n
      FROM probes p JOIN pe USING (tok) ORDER BY tok""")),

    // Asymmetric CONTAINMENT join (dedup/Containment.scala) — excerpt /
    // quote detection, the directed relation every symmetric near-dup
    // operator in the suite is blind to: a 30-word excerpt of a long page
    // has Jaccard ≈ 0.1 against its source but containment 1.0. The
    // planted specimens are literal 30-word windows (words 11–40 of every
    // %9 == 0 doc with ≥ 45 words, id + 3000000): every shingle of a
    // contiguous window is a shingle of the source, so containment is
    // EXACTLY 1 by construction — no threshold-gap argument needed, and
    // none is: the prefix-filtered join is lossless (unlike LSH), so the
    // DuckDB all-pairs containment join is a fair oracle for the whole
    // output, planted and natural alike. The containment value is one
    // IEEE division of exact integer operands (|S(a)∩S(b)| / |S(a)|) —
    // hash-checkable. minGrams = 8 excludes confetti docs from the
    // contained side in BOTH engines.
    QueryDef("q132_containment", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val words = docs.select($"doc_id",
        split(TextAnalysis.normalize($"text"), " ", -1).as("w"))
      val excerpts = words
        .filter($"doc_id" % 9 === 0 && size($"w") >= 45)
        .select(($"doc_id" + 3000000).as("doc_id"),
          array_join(slice($"w", 11, 30), " ").as("text"))
      graft.dedup.Containment.containmentJoin(
          docs.unionByName(excerpts), "text", "doc_id",
          threshold = 0.9, k = 3, minGrams = 8)
        .orderBy($"id_a", $"id_b")
    }, Some(s"""
      WITH w AS (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      exc AS (
        SELECT doc_id + 3000000 AS doc_id, array_to_string(w[11:40], ' ') AS text
        FROM w WHERE doc_id % 9 = 0 AND len(w) >= 45),
      docs AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM exc),
      sh AS (${shingleSetsSqlFrom("docs")})
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      WHERE len(a.s) >= 8
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.9
      ORDER BY id_a, id_b""")),

    // Cross-crawl novelty scoring (TrainingPrep.noveltyScore): sources
    // src10–src19 play the NEW crawl, src0–src9 the reference corpus;
    // per new doc, the fraction of its distinct word bigrams the
    // reference has never seen — the keep/deprioritize signal a crawl
    // pipeline computes before any expensive dedup pass. Reference state
    // is its DISTINCT bigram vocabulary (Heaps-sublinear), membership one
    // anti-join on the bigram key — no broadcast assumption, works
    // identically at 100 TB. Counts are integers; novelty is one IEEE
    // division of exact operands.
    QueryDef("q133_novelty", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"text",
          substring($"source", 4, 8).cast("int").as("srcn"))
      graft.ops.TrainingPrep.noveltyScore(
          docs.filter($"srcn" >= 10), docs.filter($"srcn" < 10),
          "text", "doc_id")
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (
        SELECT doc_id, CAST(substr(source, 4) AS INTEGER) AS srcn,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        FROM documents),
      b AS (
        SELECT doc_id, srcn,
               unnest(list_distinct([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))])) AS bg
        FROM w WHERE len(w) >= 2),
      ref AS (SELECT DISTINCT bg FROM b WHERE srcn < 10),
      cand AS (SELECT doc_id, bg FROM b WHERE srcn >= 10),
      tot AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams
              FROM cand GROUP BY 1),
      uns AS (SELECT c.doc_id, CAST(COUNT(*) AS INTEGER) AS n_unseen
              FROM cand c LEFT JOIN ref r USING (bg)
              WHERE r.bg IS NULL GROUP BY 1)
      SELECT t.doc_id, t.n_bigrams,
             COALESCE(u.n_unseen, 0) AS n_unseen,
             CAST(COALESCE(u.n_unseen, 0) AS DOUBLE) / t.n_bigrams AS novelty
      FROM tot t LEFT JOIN uns u USING (doc_id) ORDER BY t.doc_id""")),

    // Corpus-wide BPE ENCODING under the oracle — q127 proved merge
    // SELECTION; this row proves the tokenizer's production half: the
    // trained merge list applied to every document (the pass that turns
    // a 100 TB corpus into token sequences). Scale shape: segmentation
    // runs once per VOCABULARY word (Bpe.segmentVocab — Heaps-sublinear,
    // merge list broadcast, per-row kernel), then the corpus word STREAM
    // equi-joins the segmented vocab by word. Output per doc: word count,
    // subword count, and a position-weighted fingerprint
    // Σ p · (md5_60(seg_p) mod 1000003) — order-sensitive in the word
    // stream, exact in long (p ≤ doc words, factor < 2^20), so any
    // count-preserving mis-segmentation ("ab c" vs "a bc") still flips
    // the hash. The oracle re-learns the merges with q127's proven CTE
    // rounds and re-applies them with the same double-delimiter replace.
    QueryDef("q135_bpe_encode", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", regexp_replace(lower($"text"), "[^a-z0-9 ]", " ").as("text"))
      val merges = graft.text.Bpe.train(docs, "text", nMerges = 3)
      val stream = docs.select($"doc_id",
          posexplode(split(TextAnalysis.normalize($"text"), " ", -1)).as(Seq("p0", "w")))
        .filter(length($"w") > 0)
        .select($"doc_id", ($"p0" + 1).as("p"), $"w")
      val seg = graft.text.Bpe.segmentVocab(s, stream.select($"w").distinct(), "w", merges)
      val segHash = conv(substring(md5($"seg"), 1, 15), 16, 10).cast("long") % 1000003L
      stream.join(seg, "w")
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("int").as("n_words"),
          sum($"n_tok").cast("int").as("n_subwords"),
          sum($"p" * segHash).as("fp"))
        .orderBy($"doc_id")
    }, Some(bpeEncodeOracleSql(3))),

    // Weight-proportional systematic sampling (Sampling.systematicWeighted)
    // — the byte-budget curation draw: one doc selected per 1500 chars of
    // cumulative weight walking a deterministic md5 order, so inclusion
    // probability ∝ n_chars while the sample's total weight is pinned to
    // totalW/step ± 1 per stratum (the controlled-budget property
    // Bernoulli draws lack). 64 md5 strata keep the running sum a
    // parallel per-bucket window, never a one-partition global sort; all
    // arithmetic integer (long cumsum, truncating DIV), replayed
    // bit-for-bit by the oracle's window.
    QueryDef("q138_weighted_sample", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"n_chars")
      graft.ops.Sampling.systematicWeighted(docs, "doc_id", "n_chars",
          step = 1500L, buckets = 64)
        .orderBy($"doc_id")
    }, Some("""
      WITH h AS (
        SELECT doc_id, n_chars,
               CAST(('0x' || substr(md5('syssamp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM documents),
      c AS (
        SELECT doc_id, n_chars,
               SUM(n_chars) OVER (PARTITION BY h % 64 ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM h)
      SELECT doc_id, n_chars FROM c
      WHERE cw // 1500 > (cw - n_chars) // 1500
      ORDER BY doc_id""")),

    // Trigram-indexed substring search (text/TrigramIndex.scala — the
    // pg_trgm / code-search technique): arbitrary-substring lookup the
    // word-level indexes (q79 postings, q110 phrases) cannot answer —
    // log fragments, identifiers, partial words. A doc containing a
    // pattern contains every character trigram of it, so the ALL-trigram
    // candidate set is COMPLETE and one contains() verify per candidate
    // replaces the corpus-wide LIKE scan (the oracle runs exactly that
    // scan — hash equality proves completeness). Probe batch: a common
    // phrase, a rarer one, and an absent one (no row — candidates may
    // exist per-trigram but never hold ALL trigrams or fail verify).
    QueryDef("q140_substring_search", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val postings = graft.text.TrigramIndex.build(docs, "text", "doc_id")
      graft.text.TrigramIndex.search(postings, docs, "text", "doc_id",
          Seq("batch scan", "stream merge", "quantum flux"))
        .select($"pattern", $"id".as("doc_id"))
        .orderBy($"pattern", $"doc_id")
    }, Some("""
      SELECT p.pattern, d.doc_id
      FROM (VALUES ('batch scan'), ('stream merge'), ('quantum flux')) p(pattern)
      JOIN documents d ON contains(lower(d.text), p.pattern)
      ORDER BY p.pattern, d.doc_id""")),

    // URL canonicalization + key dedup (text/UrlNormalize.scala): the
    // normalization crawl dedup runs BEFORE any content fingerprint —
    // case/port/www/tracking-param/fragment/trailing-slash variants of
    // the same page collapse to one canonical key without reading a
    // byte of content (RFC 3986 §6 plus the de-facto crawl rules).
    // Deterministic messy variants are synthesized from doc_id in BOTH
    // engines (the planted-specimen discipline): per group g, three
    // https variants differing ONLY in removable noise (upper-case
    // authority + :443 + www + utm_* + fragment; param order scrambled;
    // ref=rss) plus one http variant — the https three MUST collapse
    // (n_variants = 3) while the http row stays its own group (scheme
    // is preserved: http/https may serve different content — collapsing
    // them is policy, not normalization). Param survivors are
    // byte-sorted (sort_array/list_sort — locale-free), so the oracle
    // replays every rule verbatim.
    QueryDef("q145_url_canonical", (s, dir) => {
      import s.implicits._
      val u0 = Tables.load(s, dir, "documents").select($"doc_id",
        expr("CAST(doc_id DIV 4 AS STRING)").as("g"),
        pmod($"doc_id", lit(4)).as("v"))
      val urls = u0.select($"doc_id",
        when($"v" === 0, concat(lit("HTTPS://WWW.Site-"), $"g",
            lit(".com:443/Art/p"), $"g", lit("/?utm_source=x&z="), $"g",
            lit("&id="), $"g", lit("#top")))
          .when($"v" === 1, concat(lit("https://site-"), $"g",
            lit(".com/Art/p"), $"g", lit("?z="), $"g", lit("&id="), $"g",
            lit("&utm_campaign=y")))
          .when($"v" === 2, concat(lit("https://www.site-"), $"g",
            lit(".com/Art/p"), $"g", lit("?ref=rss&id="), $"g",
            lit("&z="), $"g"))
          .otherwise(concat(lit("http://site-"), $"g",
            lit(".com:80/Art/p"), $"g", lit("?id="), $"g", lit("&z="), $"g"))
          .as("url"))
      urls
        .select($"doc_id",
          graft.text.UrlNormalize.canonicalUrl($"url").as("canonical_url"))
        .groupBy($"canonical_url")
        .agg(count(lit(1)).cast("long").as("n_variants"),
          min($"doc_id").as("min_doc"))
        .orderBy($"canonical_url")
    }, Some("""
      WITH u0 AS (
        SELECT doc_id, CAST(doc_id // 4 AS VARCHAR) AS g, doc_id % 4 AS v
        FROM documents),
      u AS (
        SELECT doc_id,
          CASE v
            WHEN 0 THEN 'HTTPS://WWW.Site-'||g||'.com:443/Art/p'||g||'/?utm_source=x&z='||g||'&id='||g||'#top'
            WHEN 1 THEN 'https://site-'||g||'.com/Art/p'||g||'?z='||g||'&id='||g||'&utm_campaign=y'
            WHEN 2 THEN 'https://www.site-'||g||'.com/Art/p'||g||'?ref=rss&id='||g||'&z='||g
            ELSE 'http://site-'||g||'.com:80/Art/p'||g||'?id='||g||'&z='||g
          END AS url
        FROM u0),
      """ + urlCanonSqlFrom("u") + """
      SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_variants, MIN(doc_id) AS min_doc
      FROM canon GROUP BY 1 ORDER BY 1""")),

    // Content-defined chunking (text/CdcChunk.scala — the LBFS/rsync
    // dedup-storage family, Muthitacharoen SOSP'01): boundaries where a
    // hash of the trailing 16-char window ≡ 0 mod 64, so they depend
    // only on LOCAL content — prepend a word and every fixed-size chunk
    // shifts, but CDC boundaries downstream of the edit stay put. Chunk
    // hashes are the storage/transfer dedup key that survives edits —
    // the sub-document complement of q27 (whole-doc) and q101 (fixed
    // token windows); the corpus's shared chunks are visible as
    // repeated h values. The window hash is the classic Karp–Rabin
    // ROLLING polynomial (RollingChunkBounds: B=131 mod 2^31−1, one
    // O(len) codegen loop per document — r10's per-window md5 paid
    // O(len·w), 51 s at sf0.1 for this one query); every intermediate
    // fits 64-bit integers, so the oracle replays each window as an
    // explicit Σ code·B^j with the sixteen B^j mod P coefficients
    // inlined as literals — still bit-for-bit. One projection builds
    // boundaries AND chunk structs array-side (text never duplicated
    // through a shuffle), one generator emits answer-sized chunk rows.
    QueryDef("q146_cdc_chunks", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      graft.text.CdcChunk.chunks(docs, "text", "doc_id", w = 16, m = 64)
        .orderBy($"id", $"idx")
    }, Some(cdcChunksCteSql + """
      SELECT id, idx, start, len, h FROM ch ORDER BY id, idx""")),

    // Delta (incremental) near-dup dedup (dedup/DeltaDedup.scala): LSH-
    // join ONLY a new crawl shard against the standing corpus's
    // PERSISTED banded index — the appendToIndex discipline applied to
    // q28 (the r10 verdict's one family-level gap). The corpus is
    // touched only through its slim persisted (band, bkey, id) rows,
    // pruned to delta-touched buckets by a broadcast semi-join BEFORE
    // anything shuffles; corpus×corpus pairs never form. Contract:
    // == minHashPairs(C ∪ D) restricted to pairs touching D, which the
    // all-pairs oracle replays directly (same J-gap recall argument as
    // q28: the delta plants 4-word-tag variants of ≥20-word docs —
    // J = (n-2)/(n+2) ≥ 0.8, P(miss) ≈ 3e-7 — plus whitespace variants
    // that collide in EVERY band at J = 1.0, the cross-exact path).
    // The index builds once per corpus fingerprint (IvfIndexCache
    // lifecycle); this query measures what ONE crawl increment costs.
    QueryDef("q147_delta_dedup", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val idx = IvfIndexCache.getOrBuildLsh(s, dir)(docs)
      val norm = trim(regexp_replace(lower($"text"), "\\s+", " "))
      val delta = docs
        .filter($"doc_id" % 13 === 0 && size(split(norm, " ")) >= 20)
        .select(($"doc_id" + 3000000).as("doc_id"),
          concat($"text", lit(" fresh crawl revision tag")).as("text"))
        .unionByName(docs.filter($"doc_id" % 19 === 0)
          .select(($"doc_id" + 4000000).as("doc_id"),
            concat($"text", lit("  ")).as("text")))
      graft.dedup.DeltaDedup.deltaPairs(s, idx, delta, "text", "doc_id",
        threshold = 0.5).orderBy($"id_a", $"id_b")
    }, Some(s"""
      WITH cd AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000, text || ' fresh crawl revision tag' FROM documents
        WHERE doc_id % 13 = 0
          AND len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 20
        UNION ALL
        SELECT doc_id + 4000000, text || '  ' FROM documents WHERE doc_id % 19 = 0),
      sh AS (${shingleSetsSqlKFrom(3, "cd")})
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE (a.doc_id >= 3000000 OR b.doc_id >= 3000000)
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5
      ORDER BY id_a, id_b""")),

    // Cross-document SHARED-chunk report over q146's content-defined
    // chunks — the reason CDC chunking exists: chunk hashes shared by
    // ≥2 documents are the storage/transfer dedup opportunity (and the
    // sub-document boilerplate q27's whole-doc keys can't see). One
    // groupBy on the 32-byte chunk hash; same-h chunks have identical
    // text hence identical len, so min(len) is exact, not a sample.
    // Naturally non-degenerate: the corpus shares ~120 chunk hashes
    // across docs at the gate sf. Scale: chunk rows shuffle once on h
    // with map-side partial aggregation; output is shared-hash-sized.
    QueryDef("q148_chunk_dedup", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      graft.text.CdcChunk.chunks(docs, "text", "doc_id", w = 16, m = 64)
        .groupBy($"h")
        .agg(countDistinct($"id").as("n_docs"), count(lit(1)).as("n_occ"),
          min($"len").as("len"), min($"id").as("first_doc"))
        .filter($"n_docs" >= 2)
        .orderBy($"h")
    }, Some(cdcChunksCteSql + """
      SELECT h, CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ,
             MIN(len) AS len, MIN(id) AS first_doc
      FROM ch
      GROUP BY h HAVING COUNT(DISTINCT id) >= 2 ORDER BY h""")),

    // Temperature-balanced language sampling (ops/Sampling.scala —
    // mT5 §3.4.3 / XLM-R §3): the operator that sets a multilingual
    // training MIX, the missing member of the sampling family (q54 hash
    // split, q138 weighted systematic — both inherit the CORPUS's group
    // skew; this one reshapes it). Budget = half the corpus; per-language
    // targets t_l = min(n_l, B·⌊√n_l⌋ ⌊/⌋ Σ⌊√n⌋) — pure long arithmetic
    // after an IEEE-exact integer sqrt — and the selected rows are each
    // language's t_l smallest md5 key hashes, so both engines pick
    // byte-identical docs AND exact per-language counts (what a mix spec
    // audits: α = 1/2 visibly upsamples the tail — compare t_l/n_l
    // across langs in the output). Group sizes broadcast back;
    // selection is one per-group rank.
    QueryDef("q154_temperature_sample", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"lang")
      val budget = Tables.load(s, dir, "documents")
        .agg((count(lit(1)).cast("long") / 2).cast("long").as("b"))
        .as[Long].head()
      graft.ops.Sampling.temperatureSample(docs, "lang", "doc_id", lit(budget))
        .orderBy($"lang", $"doc_id")
    }, Some("""
      WITH n AS (SELECT lang, COUNT(*) AS n_grp FROM documents GROUP BY 1),
      w AS (SELECT lang, n_grp,
                   CAST(floor(sqrt(CAST(n_grp AS DOUBLE))) AS BIGINT) AS w_l
            FROM n),
      tot AS (SELECT CAST(SUM(w_l) AS BIGINT) AS sw,
                     CAST(SUM(n_grp) // 2 AS BIGINT) AS b
              FROM w),
      t AS (SELECT lang, n_grp,
                   CAST(LEAST(n_grp, (tot.b * w.w_l) // tot.sw) AS BIGINT) AS t_grp
            FROM w CROSS JOIN tot),
      rk AS (SELECT lang, doc_id,
                    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                      CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)) AS r
             FROM documents)
      SELECT rk.lang, rk.doc_id, t.n_grp, t.t_grp
      FROM rk JOIN t USING (lang)
      WHERE rk.r <= t.t_grp
      ORDER BY rk.lang, rk.doc_id""")),

    // Perceptual AUDIO near-dup (Multimodal.audioFingerprintBands +
    // the SAME class-collapsed banded hamming join as q111 — the
    // fingerprint lands in q111's (id, b0..b3) shape by design, so one
    // join kernel serves both modalities): Haitsma–Kalker energy-delta
    // bits (ISMIR'02) over REAL decoded PCM — 65 windows × 8 frames,
    // bit p = [E_{p+1} > E_p], 4 bands of 16 bits, exact recall for
    // hamming ≤ 3 by the pigeonhole. The q111 arithmetic-oracle trick
    // applied to WAVEFORMS: samples are a pure integer LCG of
    // (waveform, t) and PCM16/RIFF is lossless, so DuckDB derives every
    // sample, energy, bit, band, candidate and hamming while Spark
    // actually encodes and decodes WAV bytes — an endianness, header,
    // or interleave bug breaks the hash equality. Planted twins (frame
    // 0 zeroed) land at hamming ≤ 1 and keep the answer non-degenerate.
    QueryDef("q156_audio_neardup", (s, dir) => {
      import s.implicits._
      val organic = Tables.load(s, dir, "documents")
        .select($"doc_id").filter($"doc_id" % 3 =!= 2)
      val assets = Multimodal.synthNoiseAudio(s, organic)
        .unionByName(Multimodal.synthTwinAudio(s, nPairs = 8, base = 4000000L))
      Multimodal.imageNearDupPairs(
          Multimodal.audioFingerprintBands(s, assets), maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }, Some("""
      WITH ids AS (
        SELECT doc_id AS id, doc_id AS base, FALSE AS twin
        FROM documents WHERE doc_id % 3 <> 2
        UNION ALL
        SELECT 4000000 + 2*i, 4000000 + 2*i, FALSE FROM range(8) t(i)
        UNION ALL
        SELECT 4000000 + 2*i + 1, 4000000 + 2*i, TRUE FROM range(8) t(i)),
      v AS (
        SELECT id, t.t AS t, twin,
               (base * CAST(1103515245 AS BIGINT) + t.t * 12345) & 65535 AS v
        FROM ids, range(520) t(t)),
      smp AS (
        SELECT id, t,
               CASE WHEN twin AND t = 0 THEN 0
                    ELSE (((v * v) >> 8) & 65535) - 32768
               END AS s
        FROM v),
      en AS (SELECT id, t // 8 AS w, SUM(CAST(s AS BIGINT) * s) AS e
             FROM smp GROUP BY 1, 2),
      bits AS (
        SELECT a.id, (a.w - 1) // 16 AS j,
               CASE WHEN a.e > b.e THEN (1 << CAST((a.w - 1) % 16 AS INTEGER)) ELSE 0 END AS bv
        FROM en a JOIN en b ON b.id = a.id AND b.w = a.w - 1
        WHERE a.w >= 1),
      bands AS (SELECT id, j, CAST(SUM(bv) AS BIGINT) AS v FROM bits GROUP BY 1, 2),
      wide AS (
        SELECT id,
               MAX(CASE WHEN j = 0 THEN v END) AS b0,
               MAX(CASE WHEN j = 1 THEN v END) AS b1,
               MAX(CASE WHEN j = 2 THEN v END) AS b2,
               MAX(CASE WHEN j = 3 THEN v END) AS b3
        FROM bands GROUP BY id),
      classes AS (
        SELECT MIN(id) AS rep, COUNT(*) AS n, b0, b1, b2, b3
        FROM wide GROUP BY b0, b1, b2, b3),
      zero AS (
        SELECT rep AS id_a, rep AS id_b, 0 AS hamming, n AS n_a, n AS n_b
        FROM classes WHERE n >= 2),
      cb AS (
        SELECT rep, 0 AS j, b0 AS v FROM classes
        UNION ALL SELECT rep, 1, b1 FROM classes
        UNION ALL SELECT rep, 2, b2 FROM classes
        UNION ALL SELECT rep, 3, b3 FROM classes),
      cand AS (
        SELECT DISTINCT a.rep AS ra, b.rep AS rb
        FROM cb a JOIN cb b ON a.j = b.j AND a.v = b.v AND a.rep < b.rep),
      near AS (
        SELECT ra, rb,
               bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
               + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming,
               x.n AS n_a, y.n AS n_b
        FROM cand JOIN classes x ON x.rep = ra JOIN classes y ON y.rep = rb)
      SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming, n_a, n_b FROM (
        SELECT * FROM zero
        UNION ALL
        SELECT ra, rb, hamming, n_a, n_b FROM near WHERE hamming BETWEEN 1 AND 3)
      ORDER BY id_a, id_b""")),

    // Temporal VIDEO near-dup (Multimodal.videoFingerprintBands) — the
    // third modality through the SAME class-collapsed banded-hamming
    // join: TIRI-style temporal signature (bit f = [luma_{f+1} >
    // luma_f] over 64 frame transitions, four 16-bit bands). COMPOSED
    // from the existing demux stage — sampleFrames → one per-frame luma
    // kernel (binary bytes are opaque to Catalyst) → a fully
    // DECLARATIVE lead/sum bit-packing (one doc-keyed window, one
    // groupBy; no bespoke fingerprint kernel). No video codec ships
    // with the JRE, so the pseudo-frame container IS the honest format
    // (the sampleFrames contract) and the oracle derives every byte,
    // luma, bit and band from the q156 middle-square formula. Planted
    // zeroed-frame twins land at hamming ≤ 1.
    QueryDef("q157_video_neardup", (s, dir) => {
      import s.implicits._
      val organic = Tables.load(s, dir, "documents")
        .select($"doc_id").filter($"doc_id" % 3 =!= 0)
      val assets = Multimodal.synthVideo(s, organic)
        .unionByName(Multimodal.synthTwinVideo(s, nPairs = 8, base = 5000000L))
      Multimodal.imageNearDupPairs(
          Multimodal.videoFingerprintBands(s, assets), maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }, Some("""
      WITH ids AS (
        SELECT doc_id AS id, doc_id AS base, FALSE AS twin
        FROM documents WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT 5000000 + 2*i, 5000000 + 2*i, FALSE FROM range(8) t(i)
        UNION ALL
        SELECT 5000000 + 2*i + 1, 5000000 + 2*i, TRUE FROM range(8) t(i)),
      v AS (
        SELECT id, i.i // 64 AS f, twin,
               (base * CAST(1103515245 AS BIGINT) + i.i * 12345) & 65535 AS v
        FROM ids, range(4160) i(i)),
      lum AS (
        SELECT id, f,
               SUM(CASE WHEN twin AND f = 0 THEN 0
                        ELSE ((v * v) >> 8) & 255 END) AS luma
        FROM v GROUP BY 1, 2),
      bits AS (
        SELECT a.id, a.f // 16 AS j,
               CASE WHEN b.luma > a.luma
                    THEN (1 << CAST(a.f % 16 AS INTEGER)) ELSE 0 END AS bv
        FROM lum a JOIN lum b ON b.id = a.id AND b.f = a.f + 1
        WHERE a.f < 64),
      bands AS (SELECT id, j, CAST(SUM(bv) AS BIGINT) AS v FROM bits GROUP BY 1, 2),
      wide AS (
        SELECT id,
               MAX(CASE WHEN j = 0 THEN v END) AS b0,
               MAX(CASE WHEN j = 1 THEN v END) AS b1,
               MAX(CASE WHEN j = 2 THEN v END) AS b2,
               MAX(CASE WHEN j = 3 THEN v END) AS b3
        FROM bands GROUP BY id),
      classes AS (
        SELECT MIN(id) AS rep, COUNT(*) AS n, b0, b1, b2, b3
        FROM wide GROUP BY b0, b1, b2, b3),
      zero AS (
        SELECT rep AS id_a, rep AS id_b, 0 AS hamming, n AS n_a, n AS n_b
        FROM classes WHERE n >= 2),
      cb AS (
        SELECT rep, 0 AS j, b0 AS v FROM classes
        UNION ALL SELECT rep, 1, b1 FROM classes
        UNION ALL SELECT rep, 2, b2 FROM classes
        UNION ALL SELECT rep, 3, b3 FROM classes),
      cand AS (
        SELECT DISTINCT a.rep AS ra, b.rep AS rb
        FROM cb a JOIN cb b ON a.j = b.j AND a.v = b.v AND a.rep < b.rep),
      near AS (
        SELECT ra, rb,
               bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
               + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS hamming,
               x.n AS n_a, y.n AS n_b
        FROM cand JOIN classes x ON x.rep = ra JOIN classes y ON y.rep = rb)
      SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming, n_a, n_b FROM (
        SELECT * FROM zero
        UNION ALL
        SELECT ra, rb, hamming, n_a, n_b FROM near WHERE hamming BETWEEN 1 AND 3)
      ORDER BY id_a, id_b""")),

    // --- q158: exact repeated-substring excision (Lee et al. ACL'22
    // ExactSubstr; see dedup/SubstringDedup.scala). Planted specimens:
    // for every base doc with ≥ 40 tokens and doc_id % 101 == 0, two
    // synthetic docs share the base's 40-token prefix and diverge at
    // the first tail token — the operator must excise the prefix from
    // BOTH plants (keep-first: the base, smallest doc_id, keeps it).
    QueryDef("q158_substring_dedup", (s, dir) => {
      import s.implicits._
      val raw = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val w = split(trim(regexp_replace($"text", "\\s+", " ")), " ", -1)
      val pre = raw.filter($"doc_id" % 101 === 0 && size(w) >= 40)
        .select($"doc_id", array_join(slice(w, 1, 40), " ").as("p"))
      def plant(offset: Long, tag: String) = pre.select(
        ($"doc_id" + offset).as("doc_id"),
        concat($"p", lit(s" $tag:"), $"doc_id").as("text"))
      val aug = raw
        .unionByName(plant(2000000L, "alphaplant"))
        .unionByName(plant(3000000L, "betaplant"))
      SubstringDedup.excise(aug, "text", "doc_id", l = 8).orderBy($"id")
    }, Some {
      val P = SubstringDedup.Prime
      val cs = SubstringDedup.coefs(8)
      // window key: first token × B^7 … last token × B^0, per-term mod
      val key = (1 to 8).map(j => s"(c[i+$j]*${cs(8 - j)}) % $P").mkString(" + ")
      val plantSql = (off: Long, tag: String) => s"""
        SELECT doc_id + $off, array_to_string(w[1:40], ' ') || ' $tag:' || CAST(doc_id AS VARCHAR)
        FROM (SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS w
              FROM documents WHERE doc_id % 101 = 0)
        WHERE len(w) >= 40"""
      s"""
      WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL ${plantSql(2000000L, "alphaplant")}
        UNION ALL ${plantSql(3000000L, "betaplant")}),
      sp AS (
        SELECT doc_id AS id,
               list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                           x -> len(x) > 0) AS toks
        FROM aug),
      sp2 AS (SELECT id, toks, CAST(len(toks) AS BIGINT) AS n FROM sp),
      cd AS (
        SELECT id, n,
               [CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % $P FOR x IN toks] AS c
        FROM sp2),
      occ AS (
        SELECT id, p.s AS start, p.k AS key FROM (
          SELECT id, unnest([{'s': CAST(i AS BIGINT), 'k': ($key) % $P}
                             FOR i IN range(0, n - 7)]) AS p
          FROM cd)),
      dupk AS (SELECT key FROM occ GROUP BY key HAVING COUNT(*) >= 2),
      ver AS (
        SELECT o.id, o.start,
               md5(array_to_string(s2.toks[o.start+1 : o.start+8], ' ')) AS wkey
        FROM occ o JOIN dupk USING (key) JOIN sp2 s2 ON s2.id = o.id),
      rem AS (
        SELECT id, start, start + 8 AS e FROM (
          SELECT id, start,
                 ROW_NUMBER() OVER (PARTITION BY wkey ORDER BY id, start) AS rn,
                 COUNT(*) OVER (PARTITION BY wkey) AS cnt
          FROM ver)
        WHERE cnt >= 2 AND rn >= 2),
      brk AS (
        SELECT id, start, e,
               CASE WHEN start > COALESCE(MAX(e) OVER (PARTITION BY id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS b
        FROM rem),
      isl AS (
        SELECT id, g, MIN(start) AS s, MAX(e) AS e, CAST(COUNT(*) AS BIGINT) AS nw FROM (
          SELECT id, start, e,
                 SUM(b) OVER (PARTITION BY id ORDER BY start ROWS UNBOUNDED PRECEDING) AS g
          FROM brk) GROUP BY 1, 2),
      segs AS (
        SELECT id, COALESCE(LAG(e) OVER (PARTITION BY id ORDER BY s), 0) AS gs, s AS ge FROM isl
        UNION ALL
        SELECT i.id, MAX(i.e) AS gs, MAX(sp2.n) AS ge
        FROM isl i JOIN sp2 ON sp2.id = i.id GROUP BY i.id),
      kept AS (
        SELECT s2.id, string_agg(array_to_string(s2.toks[g.gs+1 : g.ge], ' '), ' ' ORDER BY g.gs) AS txt
        FROM segs g JOIN sp2 s2 ON s2.id = g.id
        WHERE g.ge > g.gs
        GROUP BY s2.id),
      agg AS (
        SELECT id, CAST(SUM(nw) AS BIGINT) AS n_dup_win, CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(e - s) AS BIGINT) AS n_removed_tok
        FROM isl GROUP BY id)
      SELECT sp2.id, sp2.n AS n_tok,
             COALESCE(a.n_dup_win, CAST(0 AS BIGINT)) AS n_dup_win,
             COALESCE(a.n_spans, CAST(0 AS BIGINT)) AS n_spans,
             COALESCE(a.n_removed_tok, CAST(0 AS BIGINT)) AS n_removed_tok,
             md5(CASE WHEN a.id IS NULL THEN array_to_string(sp2.toks, ' ')
                      ELSE COALESCE(k.txt, '') END) AS clean_md5
      FROM sp2 LEFT JOIN agg a ON a.id = sp2.id LEFT JOIN kept k ON k.id = sp2.id
      ORDER BY sp2.id"""
    }),

    // --- q163: MMR diversified rerank (similarity/Mmr.scala — Carbonell
    // & Goldstein SIGIR'98). λ = 1/2 over exact int8-code dots, so every
    // greedy round compares exact longs (ties to smaller id) — the
    // oracle unrolls the same 5 rounds over the same 32-candidate
    // shortlist. Probe = vec_id 3's row.
    QueryDef("q163_mmr", (s, dir) => {
      import s.implicits._
      graft.similarity.Mmr.rerank(Tables.load(s, dir, "embeddings"),
        "embedding", "vec_id", queryId = 3L, shortlist = 32, k = 5)
        .orderBy($"rk")
    }, Some {
      def round(r: Int): String = {
        val selected = (1 until r).map(i => s"SELECT n_id, codes FROM p$i")
          .mkString(" UNION ALL ")
        s"""
      p$r AS (
        SELECT s.n_id, s.rel, s.rel - mx.ms AS cut, s.codes FROM sl s
        JOIN (SELECT a.n_id, MAX(CAST(list_dot_product(a.codes, p.codes) AS BIGINT)) AS ms
              FROM sl a, ($selected) p GROUP BY a.n_id) mx ON mx.n_id = s.n_id
        WHERE s.n_id NOT IN (${(1 until r).map(i => s"SELECT n_id FROM p$i").mkString(" UNION ALL ")})
        ORDER BY cut DESC, s.n_id LIMIT 1)"""
      }
      s"""
      WITH t AS (
        SELECT vec_id,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
               embedding
        FROM embeddings),
      c AS (
        SELECT vec_id AS n_id,
               CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding,
                      x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS INTEGER))
               END AS codes
        FROM t),
      rel AS (
        SELECT n_id, codes,
               CAST(list_dot_product(codes, (SELECT codes FROM c WHERE n_id = 3)) AS BIGINT) AS rel
        FROM c WHERE n_id <> 3),
      sl AS (SELECT n_id, codes, rel FROM rel ORDER BY rel DESC, n_id LIMIT 32),
      p1 AS (SELECT n_id, rel, rel AS cut, codes FROM sl ORDER BY rel DESC, n_id LIMIT 1),
      ${(2 to 5).map(round).mkString(",")}
      SELECT rk, n_id, rel, cut FROM (
        SELECT CAST(1 AS INTEGER) AS rk, n_id, rel, cut FROM p1
        ${(2 to 5).map(i => s"UNION ALL SELECT CAST($i AS INTEGER), n_id, rel, cut FROM p$i").mkString(" ")})
      ORDER BY rk"""
    }),

    // --- q165: corpus vocabulary drift — the distribution-shift monitor
    // a training pipeline runs on every new crawl ("did the token mix
    // move? which tokens moved it?"). Total-variation distance kept
    // EXACT: TVD = ½·Σ|n_a·B − n_b·A|/(A·B), and the operator surfaces
    // the integer numerator only (per-token drift = |n_a·B − n_b·A| as
    // decimal — products overflow long at corpus scale — plus the Σ and
    // the two totals; the caller is one division from the float, the
    // engine never rounds). KL needs ln (engine-ulp-dependent) and
    // explodes on unseen tokens; TVD is rational and total — the right
    // exactness-first choice, stated. Corpus A = even doc_ids, B = odd
    // + a planted spam-token injection (every 33rd doc) the top-drift
    // list MUST surface. One shuffle: tokens groupBy(tok) with
    // side-conditional sums (full-outer semantics for free); totals
    // ride a broadcast 1-row join; top-10 is a bounded TakeOrdered.
    QueryDef("q165_vocab_drift", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id",
        concat($"text", when($"doc_id" % 2 === 1 && $"doc_id" % 11 === 0,
          lit(" spamtokenone spamtokentwo spamtokenone")).otherwise(lit("")))
          .as("text"))
      // §5 surface rule (r12): drift stays decimal(38,0) internally
      // (n_a·B products overflow long at corpus scale) and through the
      // ORDER BY (numeric, not lexicographic), then SURFACES as a
      // string — wide decimals in a final output trip the driver's
      // cross-engine hash canonicalization.
      TextAnalysis.vocabDrift(
          docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
          "text", topK = 10)
        .orderBy($"drift".desc, $"tok")
        .select($"tok", $"n_a", $"n_b", $"drift".cast("string").as("drift"))
    }, Some("""
      WITH docs AS (
        SELECT doc_id,
               text || CASE WHEN doc_id % 2 = 1 AND doc_id % 11 = 0
                            THEN ' spamtokenone spamtokentwo spamtokenone'
                            ELSE '' END AS text
        FROM documents),
      toks AS (
        SELECT doc_id % 2 AS side, unnest(
          list_filter(string_split(trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
            '\s+', ' ', 'g')), ' '), x -> len(x) > 0)) AS tok
        FROM docs),
      counts AS (
        SELECT tok,
               CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM toks GROUP BY 1),
      totals AS (
        SELECT CAST(SUM(n_a) AS DECIMAL(18,0)) AS ta,
               CAST(SUM(n_b) AS DECIMAL(18,0)) AS tb
        FROM counts),
      scored AS (
        SELECT tok, n_a, n_b,
               CAST(abs(CAST(n_a AS DECIMAL(19,0)) * tb - CAST(n_b AS DECIMAL(19,0)) * ta)
                    AS DECIMAL(38,0)) AS drift
        FROM counts, totals),
      top AS (SELECT * FROM scored ORDER BY drift DESC, tok LIMIT 10),
      gl AS (
        SELECT '__tvd' AS tok, CAST(t.ta AS BIGINT) AS n_a, CAST(t.tb AS BIGINT) AS n_b,
               CAST((SELECT SUM(drift) FROM scored) AS DECIMAL(38,0)) AS drift
        FROM totals t)
      SELECT tok, n_a, n_b, CAST(drift0 AS VARCHAR) AS drift FROM (
        SELECT tok, n_a, n_b, drift AS drift0 FROM top
        UNION ALL SELECT tok, n_a, n_b, drift FROM gl)
      ORDER BY drift0 DESC, tok""")),

    // --- q172: JSONL ingestion roundtrip — newline-delimited JSON is
    // how LLM corpora actually arrive (CommonCrawl derivatives, vendor
    // drops); an import tool that corrupts escapes or types on the way
    // through is poison. The corpus lands as JSONL ONCE per (corpus,
    // content-fingerprint) — the q98 memoized-landing discipline — and
    // is read back with an EXPLICIT schema (schema inference is a
    // corpus-sized extra pass and type roulette; stated). The oracle
    // reads the ORIGINAL parquet: hash equality proves the write+read
    // roundtrip is lossless for every row, column, and escape.
    QueryDef("q172_jsonl_roundtrip", (s, dir) => {
      import s.implicits._
      val path = jsonlDocs(s, dir)
      s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .json(path)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          length($"text").cast("long").as("len"), md5($"text").as("text_md5"))
        .orderBy($"doc_id")
    }, Some("""
      SELECT doc_id, lang, source, n_chars,
             CAST(length(text) AS BIGINT) AS len, md5(text) AS text_md5
      FROM documents ORDER BY doc_id""")),

    // --- q173: lexical diversity per source — the template-detection
    // curation signal (a boilerplate-heavy source has few distinct
    // tokens behind a large stream; models memorize it). Exact-integer
    // surface: type-token ratio ttr_u = D·1e6 div N (truncating
    // integer division, the q100 discipline) and the Gini-impurity
    // sufficient statistic Σ n_tok² as decimal (1 − Σn²/N² is the
    // impurity; the caller is one division away, the engine never
    // rounds — entropy would need ln, engine-ulp-dependent, rejected
    // as in q165). One token-count shuffle + one per-source rollup.
    QueryDef("q173_lexical_diversity", (s, dir) => {
      import s.implicits._
      // §5 surface rule (r12): Σn² stays decimal(38,0) internally (it
      // outgrows long at corpus scale) but SURFACES as a string — wide
      // decimals in a final output trip the driver's cross-engine hash.
      TextAnalysis.lexicalDiversity(
          Tables.load(s, dir, "documents"), "text", "source")
        .select($"source", $"n_tok", $"n_distinct", $"ttr_u",
          $"sum_sq".cast("string").as("sum_sq"))
        .orderBy($"source")
    }, Some("""
      WITH toks AS (
        SELECT source, unnest(
          list_filter(string_split(trim(regexp_replace(
            regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
            '\s+', ' ', 'g')), ' '), x -> len(x) > 0)) AS tok
        FROM documents),
      cnt AS (SELECT source, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2)
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tok,
             COUNT(*) AS n_distinct,
             CAST(COUNT(*) * 1000000 // SUM(n) AS BIGINT) AS ttr_u,
             CAST(CAST(SUM(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS VARCHAR) AS sum_sq
      FROM cnt GROUP BY source ORDER BY source""")),

    // --- q181: deterministic seeded corpus shuffle (Sampling
    // .corpusShuffle) — the epoch-order pass every training run needs:
    // a fresh but REPRODUCIBLE global order per seed. shard = md5 shard
    // under the seed (one shard per training worker), pos = rank within
    // the shard under an INDEPENDENT md5 draw. NO global sort (an
    // ORDER BY rand() range-partitions the corpus through one skew-
    // prone exchange): two md5s per row, one hash shuffle, per-shard
    // rank windows each sorting corpus/nShards rows — nShards is the
    // knob that keeps a shard file-sized at any corpus scale. Any
    // engine re-derives the identical order from (seed, id) alone —
    // which is exactly what the oracle proves.
    QueryDef("q181_corpus_shuffle", (s, dir) => {
      import s.implicits._
      graft.ops.Sampling.corpusShuffle(
          Tables.load(s, dir, "documents"), "doc_id", seed = "ep7", nShards = 8)
        .orderBy($"shard", $"pos")
    }, Some("""
      WITH r AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('ep:ep7:' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 8 AS shard,
               CAST(('0x' || substr(md5('pos:ep7:' || CAST(doc_id AS VARCHAR)), 1, 15))
                 AS BIGINT) AS rk
        FROM documents)
      SELECT doc_id, shard,
             CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS BIGINT) AS pos
      FROM r ORDER BY shard, pos""")),

    // --- q182: leakage-safe split (TrainingPrep.splitByCluster) — the
    // assignment unit is the NEAR-DUP CLUSTER: a per-doc split plants
    // eval contamination whenever a held-out doc's near-duplicate sits
    // in train (the split-level q58 problem). Clusters = q69's verified
    // connected components over the planted near-dup corpus; singleton
    // docs are their own cluster; every member inherits the cluster
    // rep's md5 bucket, so near-dups cannot straddle splits BY
    // CONSTRUCTION — and the planted %17 copy pairs prove it at every
    // sf (each copy lands in its original's split). 80/10/10.
    QueryDef("q182_split_leakage_safe", (s, dir) => {
      import s.implicits._
      TrainingPrep.splitByCluster(nearDupDocs(s, dir), "doc_id",
          jaccardPairs(s, dir), trainPct = 80, valPct = 10)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    }, Some(s"""
      WITH RECURSIVE docs AS ($NEAR_DUP_DOCS_SQL),
      sh AS (${shingleSetsSqlFrom("docs")}),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(a.s || b.s)) >= 0.7),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(u, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, rr.r FROM edges e JOIN reach rr ON e.v = rr.u),
      cl AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
      base AS (
        SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
        FROM docs d LEFT JOIN cl ON cl.doc_id = d.doc_id),
      bk AS (
        SELECT doc_id, cluster_id,
               CAST(('0x' || substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 15))
                 AS BIGINT) % 100 AS b
        FROM base)
      SELECT doc_id, cluster_id,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM bk ORDER BY doc_id""")),

    // --- q184: deterministic image augmentation (Multimodal
    // .augmentImages) — the vision-training transform pass: crop + md5-
    // coin horizontal flip, every choice a pure function of (epoch, id)
    // so any worker or resumed job re-derives identical pixels. Spark
    // genuinely decodes the PNG/BMP, crops, flips, RE-ENCODES to PNG,
    // re-decodes, and sums pixels; DuckDB predicts both sums
    // arithmetically from the synthImages color formula (the q66/q111
    // oracle trick applied to a TRANSFORM — a channel-order, offset, or
    // orientation bug breaks the equality; wsum is position-weighted
    // precisely because a plain sum is flip-blind). Lossless formats
    // only (doc_id % 3 != 1 excludes JPEG).
    QueryDef("q184_image_augment", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id").filter($"doc_id" % 3 =!= 1)
      Multimodal.augmentImages(s, Multimodal.synthImages(s, docs), epoch = "ep3")
        .toDF().orderBy($"doc_id")
    }, Some("""
      WITH ids AS (
        SELECT doc_id AS id,
               CAST(8 + doc_id % 9 AS BIGINT) AS w,
               CAST(8 + (doc_id // 9) % 7 AS BIGINT) AS h,
               CAST(('0x' || substr(md5('augf:ep3:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 1 AS flip,
               CAST(('0x' || substr(md5('augx:ep3:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS ox,
               CAST(('0x' || substr(md5('augy:ep3:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS oy
        FROM documents WHERE doc_id % 3 <> 1),
      gx AS (SELECT *, unnest(range(w - 2)) AS x FROM ids),
      gxy AS (SELECT *, unnest(range(h - 2)) AS y FROM gx),
      v AS (
        SELECT id, w, h, flip, ox, oy, x, y,
               (id * 1103515245 + (CASE WHEN flip THEN ox + (w - 3 - x) ELSE ox + x END) * 12345
                  + (oy + y) * 2654435761) & 16777215 AS rgb
        FROM gxy),
      s3s AS (
        SELECT id, w, h, flip, ox, oy, x, y,
               (rgb // 65536) + ((rgb // 256) % 256) + (rgb % 256) AS s3
        FROM v)
      SELECT id AS doc_id, CAST(w - 2 AS INTEGER) AS aug_w,
             CAST(h - 2 AS INTEGER) AS aug_h, flip,
             CAST(ox AS INTEGER) AS ox, CAST(oy AS INTEGER) AS oy,
             CAST(SUM(s3) AS BIGINT) AS sum_rgb,
             CAST(SUM((131 * x + y) * s3) AS BIGINT) AS wsum
      FROM s3s GROUP BY 1, 2, 3, 4, 5, 6
      ORDER BY doc_id""")),

    // --- q186: deterministic audio augmentation (Multimodal
    // .augmentAudio) — q184's discipline on the WAV path: md5 gain
    // ∈ {1,2,3} + leading frame-crop offset ∈ {0,1,2}, RE-ENCODED
    // through the RIFF writer and RE-DECODED by the JRE parser before
    // any statistic is read. The square wave's constant |s| makes
    // unsigned sums offset-blind, so the surface adds the SIGNED
    // position-weighted Σ(131·frame + chan)·s — the (off+j) sign
    // alternation moves it on every offset/interleave/endianness bug.
    // Gain never clips here (3·amp_max = 21000 < 32767 — the operator's
    // saturation guard stays dormant, stated); the oracle collapses the
    // channel sum arithmetically: Σ_c (131j + c) = 131·ch·j + ch(ch−1)/2.
    QueryDef("q186_audio_augment", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id")
      Multimodal.augmentAudio(s, Multimodal.synthAudio(s, docs), epoch = "ep3")
        .toDF().orderBy($"doc_id")
    }, Some("""
      WITH ids AS (
        SELECT doc_id AS id,
               CAST(CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER) AS sample_rate,
               CAST(1 + doc_id % 2 AS BIGINT) AS ch,
               CAST(50 + doc_id % 100 AS BIGINT) AS frames,
               CAST(1000 + (doc_id % 7) * 1000 AS BIGINT) AS amp,
               CAST(('0x' || substr(md5('auga:ep3:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 + 1 AS gain,
               CAST(('0x' || substr(md5('augo:ep3:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS off
        FROM documents),
      jf AS (SELECT *, unnest(range(frames - 4)) AS j FROM ids),
      t AS (
        SELECT id, sample_rate, ch, gain, off, frames, amp,
               (CASE WHEN (off + j) % 2 = 0 THEN 1 ELSE -1 END)
                 * (131 * ch * j + ch * (ch - 1) // 2) AS term
        FROM jf)
      SELECT id AS doc_id, sample_rate, CAST(ch AS INTEGER) AS channels,
             CAST(gain AS INTEGER) AS gain, CAST(off AS INTEGER) AS off,
             CAST(frames - 4 AS INTEGER) AS n_frames,
             CAST((frames - 4) * ch * amp * gain AS BIGINT) AS sum_abs,
             CAST(gain * amp * SUM(term) AS BIGINT) AS wsigned
      FROM t
      GROUP BY id, sample_rate, ch, gain, off, frames, amp
      ORDER BY doc_id""")),

    // --- q187: deterministic video augmentation — temporal crop
    // (drop the first o ∈ {0,1,2} frames) + frame stride (every k-th,
    // k ∈ {1,2}), the frame-subsampling transform a video training
    // pipeline runs per epoch. Completes the augmentation triple
    // (q184 image / q186 audio / here time axis) with a DIFFERENT
    // shape on purpose: the only kernel is the existing sampleFrames
    // demux + frameLuma byte-sum (binary payloads are opaque to
    // Catalyst); the augmentation CHOICES ride as Sampling.shard
    // column expressions and the offset/stride selection is a pure
    // codegen filter — no new kernel, Spark-first. The oracle derives
    // every frame luma arithmetically from the middle-square byte
    // formula; wsum's per-frame weights catch offset/stride/
    // re-indexing bugs (lumas vary per frame).
    QueryDef("q187_video_augment", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id")
      val lum = Multimodal.frameLuma(s, Multimodal.sampleFrames(s,
          Multimodal.synthVideo(s, docs),
          frameBytes = Multimodal.VideoFrameBytes, everyN = 1))
        .filter($"frame_idx" < Multimodal.VideoFrames)
      val o = graft.ops.Sampling.shard($"doc_id", 3, "vauo:ep3")
      val k = graft.ops.Sampling.shard($"doc_id", 2, "vauk:ep3") + 1
      lum.select($"doc_id", $"frame_idx".cast("long").as("f"), $"luma",
          o.as("o"), k.as("k"))
        .filter($"f" >= $"o" && pmod($"f" - $"o", $"k") === 0)
        .select($"doc_id", $"o", $"k",
          (($"f" - $"o") / $"k").cast("long").as("j"), $"luma")
        .groupBy($"doc_id", $"o", $"k")
        .agg(count(lit(1)).as("n_frames"), sum($"luma").as("sum_luma"),
          sum($"j" * $"luma").as("wsum"))
        .select($"doc_id", $"o".cast("int").as("off"),
          $"k".cast("int").as("stride"), $"n_frames", $"sum_luma", $"wsum")
        .orderBy($"doc_id")
    }, Some("""
      WITH ids AS (
        SELECT doc_id AS id,
               CAST(('0x' || substr(md5('vauo:ep3:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS o,
               CAST(('0x' || substr(md5('vauk:ep3:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 + 1 AS k
        FROM documents),
      v AS (
        SELECT id, o, k, i.i // 64 AS f,
               ((((id * 1103515245 + i.i * 12345) & 65535)
                  * ((id * 1103515245 + i.i * 12345) & 65535)) >> 8) & 255 AS b
        FROM ids, range(4160) i(i)),
      lum AS (SELECT id, o, k, f, SUM(b) AS luma FROM v GROUP BY 1, 2, 3, 4),
      aug AS (
        SELECT id, o, k, (f - o) // k AS j, luma
        FROM lum WHERE f >= o AND (f - o) % k = 0)
      SELECT id AS doc_id, CAST(o AS INTEGER) AS off, CAST(k AS INTEGER) AS stride,
             COUNT(*) AS n_frames, CAST(SUM(luma) AS BIGINT) AS sum_luma,
             CAST(SUM(j * luma) AS BIGINT) AS wsum
      FROM aug GROUP BY 1, 2, 3 ORDER BY doc_id""")),

    // --- q188: the dataset card — the per-(source, lang) release
    // summary every published training corpus ships (counts a reader
    // can audit), plus the '__all' rollup (the q165 __tvd pattern).
    // Exact integers only: docs, exact-duplicate docs (fingerprint
    // seen ≥ 2 GLOBALLY — dup detection crosses sources, then the flag
    // rolls up per cell), whitespace-convention tokens (empty-text
    // guard stated — split('') is a phantom token), chars. Shape: one
    // fingerprint count shuffle + one broadcastable dup-fp semi flag +
    // one rollup — the corpus-governance sibling of q177's diagnostics
    // composition.
    QueryDef("q188_dataset_card", (s, dir) => {
      import s.implicits._
      DatasetCard.card(Tables.load(s, dir, "documents"))
        .orderBy($"source", $"lang")
    }, Some(DATASET_CARD_ORACLE_SQL)),

    // --- q190: the dataset card as a MERGEABLE artifact (DatasetCard
    // .partials + .merge) — the 100 TB release story q188 lacks: each
    // ingest shard lands two MATERIALIZED partial tables (answer-sized
    // cell sums + the per-shard fp tally, the dup-detection boundary);
    // the release card is their merge — cell sums by SUM, dup counts
    // from ONE fp-keyed shuffle over the tallies. Shards are md5-drawn
    // by DOCUMENT id, so exact copies of one text land in different
    // shards and the cross-shard dup merge is genuinely exercised. The
    // merge identity — merged partials == the from-scratch card — is
    // what the driver gates: the oracle IS q188's, verbatim (the
    // q178/q183 same-answer-independently-derived discipline); shard-
    // count invariance (1 vs 8 shards) is unit-tested on top.
    QueryDef("q190_card_merged", (s, dir) => {
      import s.implicits._
      val (cells, fps) = DatasetCard.partials(
        Tables.load(s, dir, "documents"), nShards = 8)
      DatasetCard.merge(cells, fps).orderBy($"source", $"lang")
    }, Some(DATASET_CARD_ORACLE_SQL)),

    // --- q191: STREAMING dataset-card maintenance (StreamingCard) —
    // q190's ingest half as a live operator: each micro-batch of
    // documents lands its two partial-card tables (shard = batch id)
    // and the release card is the q190 merge over the landed artifacts,
    // never re-reading an old batch's documents. NOTHING sits in
    // streaming state (the landed parquet IS the state — restart-safe
    // by construction). Both partials are SUM/tally-mergeable, so the
    // replay is deliberately ARBITRARY shuffled micro-batches (the
    // q131/q183 discipline) and the merged card must equal the batch
    // card bit-for-bit: the oracle is q188's, verbatim — the third
    // query on one oracle, pinning from-scratch == merged == streamed.
    QueryDef("q191_stream_card", (s, dir) => {
      import s.implicits._
      val stream = graft.streaming.EventsStream.replayShuffled(
        Tables.load(s, dir, "documents"), nFiles = 4)
      val out = graft.Scratch.dir("graft_q191").toString
      val (cellsDir, fpsDir) =
        graft.streaming.StreamingCard.landPartials(s, stream, out)
      DatasetCard.merge(s.read.parquet(cellsDir), s.read.parquet(fpsDir))
        .orderBy($"source", $"lang")
    }, Some(DATASET_CARD_ORACLE_SQL)),

    // --- q193: crawl-to-text markup extraction (TextExtract) — the C4/
    // CCNet step ZERO the text family lacked: every doc is wrapped in a
    // deterministic HTML shell (script + style + comment + tags +
    // planted entities — both engines CONSTRUCT the same markup from
    // documents.text, the transparency-oracle discipline), and the
    // extractor must drop the script/style SUBTREES, strip tags, decode
    // entities single-pass, and collapse whitespace. Surface: the md5
    // of the cleaned prose + its exact length — one wrong regex, decode
    // order, or collapse detail moves the hash on every row. Pure
    // codegen chain, zero shuffle (the q34 cost class).
    QueryDef("q193_html_extract", (s, dir) => {
      import s.implicits._
      val html = htmlShell($"doc_id", $"text")
      Tables.load(s, dir, "documents")
        .select($"doc_id", TextExtract.title(html).as("title"),
          TextExtract.extractText(html).as("clean"))
        .select($"doc_id", $"title",
          length($"clean").cast("long").as("n_chars_clean"),
          md5($"clean").as("fp"))
        .orderBy($"doc_id")
    }, Some(HTML_EXTRACT_ORACLE_SQL)),

    // --- q196: the q193 chain over the WIRE format (sources/Warc) —
    // crawl corpora land as WARC (ISO 28500), not as a parquet text
    // column; this row closes that boundary with a ROUNDTRIP gate: the
    // engine serializes every doc's q193 HTML shell as an HTTP response
    // record into per-partition `.warc.gz` shards (each record its own
    // gzip member, the spec shape — written ONCE per corpus content,
    // the IvfIndexCache memo discipline), reads them back with the
    // from-spec reader, re-derives doc_id from WARC-Target-URI, splits
    // the HTTP body, and runs the identical extraction chain. The
    // oracle is q193's VERBATIM — one definition, two gates (the
    // q145/q194 precedent): any framing, member, header, body-split, or
    // decode defect anywhere in the warc path moves a hash or drops a
    // row.
    QueryDef("q196_warc_extract", (s, dir) => {
      import s.implicits._
      val warcDir = warcShardsFor(s, dir)
      val resp = graft.sources.Warc.responses(s, warcDir)
      val docId = regexp_extract($"target_uri", "/([0-9]+)$", 1).cast("long")
      resp.select(docId.as("doc_id"), $"body")
        .select($"doc_id", TextExtract.title($"body").as("title"),
          TextExtract.extractText($"body").as("clean"))
        .select($"doc_id", $"title",
          length($"clean").cast("long").as("n_chars_clean"),
          md5($"clean").as("fp"))
        .orderBy($"doc_id")
    }, Some(HTML_EXTRACT_ORACLE_SQL)),

    // --- q205: WET conversion export — the WRITE half of the WARC
    // boundary (q196 proved the read): extracted text re-emitted as the
    // standard derived artifact real crawl pipelines ship (WET-style
    // `WARC-Type: conversion` records, text/plain payloads, per-record
    // gzip members), then RE-READ with the same from-spec reader and
    // gated on q193's oracle (minus the title column — a conversion
    // record carries the prose, not the markup): the THIRD gate on one
    // extraction definition, and a roundtrip that moves a hash on any
    // writer framing, Content-Length, member, or transcoding defect.
    // Scale shape: read one-task-per-archive, extraction map-side,
    // export one conversion file per partition — the emit path a 100 TB
    // job uses to land WET shards next to the crawl.
    QueryDef("q205_wet_export", (s, dir) => {
      import s.implicits._
      val warcDir = warcShardsFor(s, dir)
      val resp = graft.sources.Warc.responses(s, warcDir)
      val docId = regexp_extract($"target_uri", "/([0-9]+)$", 1).cast("long")
      val clean = resp.select(docId.as("doc_id"), $"target_uri",
        TextExtract.extractText($"body").as("clean"))
      val out = graft.Scratch.dir("graft_wet").toString
      clean.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // a 0-byte .warc.gz is not a valid archive (no gzip member) and
        // the reader rejects it loudly — an empty partition emits nothing
        if (it.hasNext) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val f = new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(s"$out/part-$pid.warc.gz"), 1 << 16)
          try it.foreach { r =>
            f.write(graft.sources.Warc.gzipMember(
              graft.sources.Warc.recordBytes("conversion",
                r.getString(1), "2026-08-16T00:00:00Z",
                s"<urn:uuid:conv-${r.getLong(0)}>", "text/plain",
                r.getString(2).getBytes("UTF-8"))))
          } finally f.close()
        }
      }
      graft.sources.Warc.read(s, out)
        .filter($"warc_type" === "conversion")
        .select(
          regexp_extract($"target_uri", "/([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          decode($"payload", "UTF-8").as("t"))
        .select($"doc_id", length($"t").cast("long").as("n_chars_clean"),
          md5($"t").as("fp"))
        .orderBy($"doc_id")
    }, Some("SELECT doc_id, n_chars_clean, fp FROM (" +
      HTML_EXTRACT_ORACLE_SQL + ") wet_sub ORDER BY doc_id")),

    // --- q197: crawl frontier maintenance (Frontier.additions) — the
    // q147/q192 delta discipline on canonical URLs, closing the loop
    // q194 opened: the standing crawl's links build the VISITED index
    // (canonical, distinct, landed once); a delta batch's links are
    // adjudicated against it — bloom prune in the scan stage
    // (q136's sketch; visited mass never reaches the count shuffle),
    // exact FP kill via broadcast semi/anti (the visited side is never
    // shuffled) — and only genuinely new targets come back. Fixture:
    // standing docs (doc_id%5≠2) emit their q194 variant + the hub;
    // delta docs emit (a) their own group's variant — VISITED, every
    // group has a standing member, (b) a shifted-site variant (fresh
    // group 'n'||g, still a noisy surface form the canonicalizer must
    // normalize), (c) a per-doc fresh url, (d) the hub — VISITED. The
    // oracle recomputes the FULL union closure (canonicalize both
    // batches, set-difference, re-count) — the identity the operator
    // never materializes.
    QueryDef("q197_frontier_delta", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id",
        expr("CAST(doc_id DIV 4 AS STRING)").as("g"),
        pmod($"doc_id", lit(4)).as("v"))
      val hub = lit("HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f")
      val visited = docs.filter($"doc_id" % 5 =!= 2)
        .select(explode(array(urlVariant($"g", $"v"), hub)).as("url"))
        .select(graft.text.UrlNormalize.canonicalUrl($"url").as("canonical_url"))
        .distinct()
        .localCheckpoint(true) // the standing INDEX — landed once per round
      val delta = docs.filter($"doc_id" % 5 === 2)
        .select($"doc_id", explode(array(
          urlVariant($"g", $"v"),
          urlVariant(concat(lit("n"), $"g"), $"v"),
          concat(lit("https://fresh-"), $"doc_id", lit(".example/p?id="),
            $"doc_id"),
          hub)).as("url"))
      Frontier.additions(visited, delta).orderBy($"canonical_url")
    }, Some("""
      WITH d0 AS (
        SELECT doc_id, CAST(doc_id // 4 AS VARCHAR) AS g, doc_id % 4 AS v
        FROM documents),
      links AS (
        SELECT doc_id, unnest([
          """ + urlVariantSqlCase("g", "v") + """,
          'HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f']) AS url
        FROM d0 WHERE doc_id % 5 <> 2
        UNION ALL
        SELECT doc_id, unnest([
          """ + urlVariantSqlCase("g", "v") + """,
          """ + urlVariantSqlCase("('n'||g)", "v") + """,
          'https://fresh-'||CAST(doc_id AS VARCHAR)||'.example/p?id='||CAST(doc_id AS VARCHAR),
          'HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f']) AS url
        FROM d0 WHERE doc_id % 5 = 2),
      """ + urlCanonSqlFrom("links") + """,
      vis AS (SELECT DISTINCT canonical_url FROM canon WHERE doc_id % 5 <> 2),
      del AS (SELECT doc_id, canonical_url FROM canon WHERE doc_id % 5 = 2)
      SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_links,
             MIN(doc_id) AS min_doc
      FROM del
      WHERE canonical_url NOT IN (SELECT canonical_url FROM vis)
      GROUP BY 1 ORDER BY 1""")),

    // --- q201: STREAMING frontier maintenance (StreamingFrontier) — the
    // q198 landed-artifact treatment applied to q197's visited index:
    // per micro-batch, Frontier.additions adjudicates the batch's links
    // against the visited set AS LANDED by predecessors; the batch lands
    // its additions (the answer, FINAL at arrival — a target is emitted
    // once, at its first-sighting batch, with that batch's counts: the
    // production enqueue semantics) plus its addition keys as the
    // visited partial (addition-sized — revisit mass never lands). The
    // oracle computes the SAME arrival semantics analytically: batch
    // assignment is a pure function of doc_id ((doc_id DIV 10) % 3), so
    // first_batch = min batch over a target's unvisited links and the
    // counts confine to it. Fixture = q197's link surface plus two
    // cross-batch shared fresh targets (newhub-0/1, linked by every
    // delta doc — the rows that prove a target emits ONCE at first
    // sighting, not once per batch) and the hub (visited — never emits).
    QueryDef("q201_stream_frontier", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id",
        expr("CAST(doc_id DIV 4 AS STRING)").as("g"),
        pmod($"doc_id", lit(4)).as("v"))
      val hub = lit("HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f")
      val visited0 = docs.filter($"doc_id" % 5 =!= 2)
        .select(explode(array(urlVariant($"g", $"v"), hub)).as("url"))
        .select(graft.text.UrlNormalize.canonicalUrl($"url").as("canonical_url"))
        .distinct()
        .localCheckpoint(true)
      val delta = docs.filter($"doc_id" % 5 === 2)
        .select($"doc_id", expr("(doc_id DIV 10) % 3").as("b"),
          explode(array(
            urlVariant($"g", $"v"),
            urlVariant(concat(lit("n"), $"g"), $"v"),
            concat(lit("https://fresh-"), $"doc_id", lit(".example/p?id="),
              $"doc_id"),
            concat(lit("https://newhub-"), pmod($"doc_id", lit(2)),
              lit(".example/")),
            hub)).as("url"))
      val stream = graft.streaming.EventsStream.replayOrdered(
        Seq(0, 1, 2).map(b =>
          delta.filter($"b" === b).select($"doc_id", $"url")))
      val out = graft.Scratch.dir("graft_q201").toString
      val (aDir, _) = graft.streaming.StreamingFrontier.drain(
        s, visited0, stream, out)
      s.read.parquet(aDir)
        .select($"canonical_url", $"shard".cast("long").as("first_batch"),
          $"n_links", $"min_doc")
        .orderBy($"canonical_url")
    }, Some("""
      WITH d0 AS (
        SELECT doc_id, CAST(doc_id // 4 AS VARCHAR) AS g, doc_id % 4 AS v
        FROM documents),
      links AS (
        SELECT doc_id, unnest([
          """ + urlVariantSqlCase("g", "v") + """,
          'HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f']) AS url
        FROM d0 WHERE doc_id % 5 <> 2
        UNION ALL
        SELECT doc_id, unnest([
          """ + urlVariantSqlCase("g", "v") + """,
          """ + urlVariantSqlCase("('n'||g)", "v") + """,
          'https://fresh-'||CAST(doc_id AS VARCHAR)||'.example/p?id='||CAST(doc_id AS VARCHAR),
          'https://newhub-'||CAST(doc_id % 2 AS VARCHAR)||'.example/',
          'HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f']) AS url
        FROM d0 WHERE doc_id % 5 = 2),
      """ + urlCanonSqlFrom("links") + """,
      vis AS (SELECT DISTINCT canonical_url FROM canon WHERE doc_id % 5 <> 2),
      nv AS (SELECT doc_id, (doc_id // 10) % 3 AS b, canonical_url
             FROM canon WHERE doc_id % 5 = 2
               AND canonical_url NOT IN (SELECT canonical_url FROM vis)),
      fb AS (SELECT canonical_url, MIN(b) AS first_batch FROM nv GROUP BY 1)
      SELECT n.canonical_url, CAST(f.first_batch AS BIGINT) AS first_batch,
             CAST(COUNT(*) AS BIGINT) AS n_links, MIN(n.doc_id) AS min_doc
      FROM nv n JOIN fb f
        ON n.canonical_url = f.canonical_url AND n.b = f.first_batch
      GROUP BY 1, 2 ORDER BY 1""")),

    // --- q194: link extraction for the crawl frontier — the companion
    // of q193 (extract TEXT) and q145 (canonicalize URLs): harvest every
    // href from the markup, canonicalize it with the SAME UrlNormalize
    // rules q145 gates, and count links per canonical target (the
    // frontier/link-graph build step). Each doc's shell embeds its
    // q145-style variant URL (so canonicalization must collapse the four
    // surface forms per group) plus one hub link shared by EVERY doc
    // (the heavy-hitter row: n_links = corpus size, min_doc = 0) — and
    // the raw text rides inside the shell, so any accidental href-shaped
    // text is adjudicated identically by both engines. Map-side: one
    // regexp_extract_all + explode (bounded fan-out) + the codegen
    // canonicalizer; one (canonical_url) count shuffle — nothing else.
    QueryDef("q194_link_extract", (s, dir) => {
      import s.implicits._
      val u0 = Tables.load(s, dir, "documents").select($"doc_id", $"text",
        expr("CAST(doc_id DIV 4 AS STRING)").as("g"),
        pmod($"doc_id", lit(4)).as("v"))
      val variant = urlVariant($"g", $"v")
      val html = concat(lit("<html><body><a href=\""), variant,
        lit("\">v</a><p>"), $"text",
        lit("</p><a href=\"HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f\">hub</a></body></html>"))
      u0.select($"doc_id", html.as("h"))
        .select($"doc_id", explode(
          regexp_extract_all($"h", lit("href=\"([^\"]*)\""), lit(1))).as("url"))
        .select($"doc_id",
          graft.text.UrlNormalize.canonicalUrl($"url").as("canonical_url"))
        .groupBy($"canonical_url")
        .agg(count(lit(1)).cast("long").as("n_links"), min($"doc_id").as("min_doc"))
        .orderBy($"canonical_url")
    }, Some("""
      WITH u0 AS (
        SELECT doc_id, text, CAST(doc_id // 4 AS VARCHAR) AS g, doc_id % 4 AS v
        FROM documents),
      hh AS (
        SELECT doc_id,
          '<html><body><a href="' ||
          """ + urlVariantSqlCase("g", "v") + """ ||
          '">v</a><p>' || text ||
          '</p><a href="HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f">hub</a></body></html>' AS h
        FROM u0),
      u AS (
        SELECT doc_id, unnest(regexp_extract_all(h, 'href="([^"]*)"', 1)) AS url
        FROM hh),
      """ + urlCanonSqlFrom("u") + """
      SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_links, MIN(doc_id) AS min_doc
      FROM canon GROUP BY 1 ORDER BY 1""")),

    // --- q192: incremental multimodal ingest (MultimodalPipeline
    // .deltaVerdicts) — the q147 delta-dedup discipline applied to the
    // fingerprint family: a NEW asset batch is adjudicated against the
    // standing corpus touching only its CLASS INDEX (hash → min id) —
    // never re-fingerprinting or re-pairing standing×standing, the term
    // a full recompute pays. First-writer-wins; ids are monotone across
    // ingests, so the batch keep-one over the union (q189's exact rule)
    // restricted to delta ids IS the incremental answer — and that
    // identity is precisely what the oracle checks by recomputing the
    // FULL union closure the operator never runs. Delta corpus: a
    // fresh organic slice (new ids 7000000+d, JPEG excluded by the
    // shifted modulus) that attaches only by natural hash collision,
    // plus re-minted twins carrying the STANDING 3000000-plant pixel
    // streams (synthTwinImages idOffset) — 16 guaranteed attachments
    // at every sf.
    QueryDef("q192_multimodal_delta", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      assertPlantBasesClear(docs)
      val standing = Multimodal.synthImages(s,
          docs.select($"doc_id").filter($"doc_id" % 3 =!= 1))
        .unionByName(Multimodal.synthTwinImages(s, nPairs = 8, base = 3000000L))
      // the standing INDEX — in production landed once per ingested
      // corpus; everything standing is touched only through it
      val standingClasses = Multimodal.aHashBands(s, standing)
        .groupBy($"b0", $"b1", $"b2", $"b3").agg(min($"doc_id").as("rep"))
        .localCheckpoint(true)
      val delta = Multimodal.synthImages(s,
          docs.select($"doc_id").filter($"doc_id" % 5 === 2 && $"doc_id" % 3 =!= 0)
            .select(($"doc_id" + 7000000L).as("doc_id")))
        .unionByName(Multimodal.synthTwinImages(s, nPairs = 8, base = 3000000L,
          idOffset = 3000000L))
      graft.multimodal.MultimodalPipeline.deltaVerdicts(standingClasses,
          Multimodal.aHashBands(s, delta))
        .orderBy($"doc_id")
    }, Some(MM_DELTA_ORACLE_SQL)),

    // --- q195: C4 line-level cleaning (C4LineClean) — the public step
    // AFTER q193's tag strip (Raffel et al. JMLR'20 §2.2): line-local
    // keep rules (terminal punctuation, ≥3 words, no "javascript"),
    // page-level drops (brace / lorem-ipsum pages; <4 surviving lines),
    // then corpus-wide boilerplate-LINE dedup keep-first — the line-
    // granularity sibling of q158's passage excision. The fixture
    // builds a page per doc that exercises every rule deterministically
    // at every sf: an all-corpus share-bar line (deduped to doc 0), a
    // per-group-of-10 copyright footer (deduped to each group's first
    // doc), a javascript line, a 2-word line, a no-terminal-punct line,
    // content sentences from the doc's own words, and per-modulus
    // plants for the two page-level drops (%7==3 braces, %11==5 lorem)
    // plus a %13==7 sentence omission that trips the min-lines gate.
    // Scale shape (plan-audited): line+page filters are map-side
    // array lambdas; ONE corpus-linear shuffle on md5(line) with a
    // map-side-combinable min/count aggregate (no window on the hot
    // all-corpus key); the repeated-line set broadcasts back.
    QueryDef("q195_c4_line_clean", (s, dir) => {
      import s.implicits._
      val ws = split($"text", " ", -1)
      val page = concat_ws("\n",
        lit("Share this article with your friends."),
        concat(concat_ws(" ", slice(ws, 1, 15)), lit(".")),
        lit("Please enable JavaScript to continue."),
        when($"doc_id" % 7 === 3, lit("if (x) { return; }")),
        lit("Too short."),
        when($"doc_id" % 13 =!= 7,
          concat(concat_ws(" ", slice(ws, 16, 15)), lit("?"))),
        lit("no terminal punctuation boilerplate line"),
        when($"doc_id" % 11 === 5, lit("Lorem ipsum dolor sit amet.")),
        concat(lit("Copyright group "), expr("CAST(doc_id DIV 10 AS STRING)"),
          lit(" Example Press. All rights reserved.")))
      graft.text.C4LineClean.clean(
          Tables.load(s, dir, "documents").select($"doc_id", page.as("page")),
          "page", "doc_id")
        .select($"doc_id", $"n_lines", $"n_kept",
          length($"clean").cast("long").as("n_chars_clean"),
          md5($"clean").as("fp"))
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      page AS (SELECT doc_id, concat_ws(chr(10),
          'Share this article with your friends.',
          array_to_string(ws[1:15], ' ') || '.',
          'Please enable JavaScript to continue.',
          CASE WHEN doc_id % 7 = 3 THEN 'if (x) { return; }' END,
          'Too short.',
          CASE WHEN doc_id % 13 <> 7 THEN array_to_string(ws[16:30], ' ') || '?' END,
          'no terminal punctuation boilerplate line',
          CASE WHEN doc_id % 11 = 5 THEN 'Lorem ipsum dolor sit amet.' END,
          'Copyright group ' || CAST(doc_id // 10 AS VARCHAR) ||
            ' Example Press. All rights reserved.') AS page
        FROM w),
      lines0 AS (
        SELECT doc_id,
               unnest(list_transform(string_split(page, chr(10)), x -> trim(x))) AS t,
               unnest(range(0, len(string_split(page, chr(10))))) AS line_no
        FROM page),
      kept AS (
        SELECT doc_id, line_no, t FROM lines0
        WHERE length(t) > 0 AND regexp_matches(t, '[.!?"]$')
          AND len(string_split(t, ' ')) >= 3
          AND NOT contains(lower(t), 'javascript')),
      npl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
              FROM kept GROUP BY 1),
      pages AS (
        SELECT p.doc_id, n.n_lines FROM page p JOIN npl n USING (doc_id)
        WHERE NOT contains(p.page, '{')
          AND NOT contains(lower(p.page), 'lorem ipsum')
          AND n.n_lines >= 4),
      kl AS (SELECT k.doc_id, k.line_no, k.t
             FROM kept k JOIN pages USING (doc_id)),
      win AS (SELECT doc_id, line_no, t,
                ROW_NUMBER() OVER (PARTITION BY t ORDER BY doc_id, line_no) AS rn,
                COUNT(*) OVER (PARTITION BY t) AS df
              FROM kl),
      surv AS (SELECT doc_id, line_no, t FROM win WHERE df < 2 OR rn = 1),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                string_agg(t, chr(10) ORDER BY line_no) AS clean
              FROM surv GROUP BY 1)
      SELECT p.doc_id, p.n_lines,
             COALESCE(a.n_kept, 0) AS n_kept,
             CAST(length(COALESCE(a.clean, '')) AS BIGINT) AS n_chars_clean,
             md5(COALESCE(a.clean, '')) AS fp
      FROM pages p LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id""")),

    // --- q198: STREAMING fingerprint-index maintenance (StreamingMmIndex)
    // — q192's ingest as a live operator, the q191 treatment for the
    // multimodal class index: each micro-batch is fingerprinted once,
    // adjudicated against the index AS LANDED by its predecessors, and
    // lands its verdicts plus a DELTA-sized class partial (shard = batch
    // id, idempotent overwrite under at-least-once foreachBatch); the
    // index as of batch N is a min-merge over the seed + partials < N —
    // order-free, so the chain can never drift from advanceIndex or the
    // from-scratch union index (unit-pinned). The delta is q192's fixture
    // split into FOUR id-ordered ingest slices (monotone ids across
    // batches — the documented ingest contract; no keep-retracting bridge
    // spans a slice boundary: every delta twin attaches to a standing
    // class and organics are singletons), so the union of the per-batch
    // verdicts must equal the full union closure — the oracle is q192's
    // VERBATIM: the second gate on one oracle, streamed == incremental ==
    // batch closure. Slice choice is load-bearing: the twins split across
    // two ordered slices (every twin attaches to a STANDING class, so a
    // pair spanning the boundary stays closure-consistent), but the
    // organics land as ONE slice — a natural banded collision between two
    // organics CAN bridge a kept-at-arrival asset to standing through a
    // LATER arrival (observed at sf0.1: one such bridge), and
    // adjudicate-at-arrival never retracts a shipped keep; within one
    // slice the component closes exactly as q192's single call does.
    QueryDef("q198_stream_mm_index", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      assertPlantBasesClear(docs)
      val standing = Multimodal.synthImages(s,
          docs.select($"doc_id").filter($"doc_id" % 3 =!= 1))
        .unionByName(Multimodal.synthTwinImages(s, nPairs = 8, base = 3000000L))
      val standingClasses = Multimodal.aHashBands(s, standing)
        .groupBy($"b0", $"b1", $"b2", $"b3").agg(min($"doc_id").as("rep"))
        .localCheckpoint(true)
      val deltaTwins = Multimodal.synthTwinImages(s, nPairs = 8,
        base = 3000000L, idOffset = 3000000L)
      val organics = Multimodal.synthImages(s,
        docs.select($"doc_id").filter($"doc_id" % 5 === 2 && $"doc_id" % 3 =!= 0)
          .select(($"doc_id" + 7000000L).as("doc_id")))
      val stream = graft.streaming.EventsStream.replayOrdered(Seq(
        deltaTwins.filter($"doc_id" < 6000008L),
        deltaTwins.filter($"doc_id" >= 6000008L),
        organics))
      val out = graft.Scratch.dir("graft_q198").toString
      val (vDir, _) = graft.streaming.StreamingMmIndex.drain(
        s, standingClasses, stream, b => Multimodal.aHashBands(s, b), out)
      s.read.parquet(vDir).select($"doc_id", $"kept").orderBy($"doc_id")
    }, Some(MM_DELTA_ORACLE_SQL)),

    // --- q199: Gopher repetition battery (GopherRepetition.metrics) —
    // the repetition-quality signals AFTER q195's C4 line pass (Rae et
    // al. 2021 Table A1): per-doc duplicate-line fraction, duplicate-line
    // character fraction, top-2/3/4-gram character fractions, and
    // duplicated-5/10-gram character fractions, with the published
    // thresholds as the keep verdict — all integer micro-units. The
    // fixture plants each trip deterministically on its own modulus
    // (4× repeated marker line %9==4; a 2-gram spam line %4==1; a
    // repeated 5-word phrase %6==2; a repeated 10-word phrase %8==5)
    // around content lines from the doc's own words, so every rule fires
    // at every sf and overlapping moduli just produce docs that trip
    // several rules at once — both engines construct the same page and
    // must agree on every fraction. Scale shape (plan-audited): ZERO
    // shuffle — per-row array sorts + folds; gram counting never
    // explodes (corpus × n_tokens explode-groupBy would be the job's
    // largest shuffle at 100 TB; the oracle pays it, the engine never).
    QueryDef("q199_gopher_repetition", (s, dir) => {
      import s.implicits._
      val ws = split($"text", " ", -1)
      val marker = when($"doc_id" % 9 === 4,
        lit("Repeated boilerplate marker line."))
      val p5 = concat_ws(" ", slice(ws, 1, 5))
      val p10 = concat_ws(" ", slice(ws, 1, 10))
      val page = concat_ws("\n",
        concat_ws(" ", slice(ws, 1, 25)),
        marker, marker, marker, marker,
        when($"doc_id" % 4 === 1, expr("rtrim(repeat('spam ham ', 12))")),
        when($"doc_id" % 6 === 2, concat(p5, lit(" q7z "), p5)),
        when($"doc_id" % 8 === 5, concat(p10, lit(" zq "), p10)),
        // NULL (skipped by concat_ws) when the doc has no 26th word —
        // DuckDB's array_to_string([]) is NULL while Spark's concat_ws of
        // an empty array is '', so the empty line must never be born
        when(size(ws) >= 26, concat_ws(" ", slice(ws, 26, 25))),
        concat(lit("Footer group "), expr("CAST(doc_id DIV 10 AS STRING)"), lit(".")))
      graft.text.GopherRepetition.metrics(
          Tables.load(s, dir, "documents").select($"doc_id", page.as("page")),
          "page", "doc_id")
        .orderBy($"doc_id")
    }, Some("""
      WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      pg AS (SELECT doc_id, concat_ws(chr(10),
          array_to_string(ws[1:25], ' '),
          CASE WHEN doc_id % 9 = 4 THEN 'Repeated boilerplate marker line.' END,
          CASE WHEN doc_id % 9 = 4 THEN 'Repeated boilerplate marker line.' END,
          CASE WHEN doc_id % 9 = 4 THEN 'Repeated boilerplate marker line.' END,
          CASE WHEN doc_id % 9 = 4 THEN 'Repeated boilerplate marker line.' END,
          CASE WHEN doc_id % 4 = 1 THEN rtrim(repeat('spam ham ', 12)) END,
          CASE WHEN doc_id % 6 = 2 THEN array_to_string(ws[1:5], ' ') || ' q7z ' || array_to_string(ws[1:5], ' ') END,
          CASE WHEN doc_id % 8 = 5 THEN array_to_string(ws[1:10], ' ') || ' zq ' || array_to_string(ws[1:10], ' ') END,
          array_to_string(ws[26:50], ' '),
          'Footer group ' || CAST(doc_id // 10 AS VARCHAR) || '.') AS page
        FROM w0),
      tok AS (SELECT doc_id, page,
          string_split(page, chr(10)) AS lines,
          string_split(replace(page, chr(10), ' '), ' ') AS ws
        FROM pg),
      base AS (SELECT doc_id,
          CAST(len(lines) AS BIGINT) AS n_lines,
          CAST(len(lines) - len(list_distinct(lines)) AS BIGINT) AS n_dup_lines,
          GREATEST(CAST(length(replace(replace(page, chr(10), ''), ' ', '')) AS BIGINT), 1) AS wchars,
          GREATEST(CAST(length(page) - len(lines) + 1 AS BIGINT), 1) AS lchars
        FROM tok),
      lcnt AS (SELECT doc_id, line, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(length(line) AS BIGINT) AS ln
        FROM (SELECT doc_id, unnest(lines) AS line FROM tok) GROUP BY 1, 2),
      ldup AS (SELECT doc_id, CAST(SUM(CASE WHEN c >= 2 THEN (c - 1) * ln ELSE 0 END) AS BIGINT) AS dupc
        FROM lcnt GROUP BY 1),
      g2 AS (SELECT doc_id, array_to_string(ws[i+1:i+2], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 1, 0))) AS i FROM tok)),
      c2 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(length(g) - 1 AS BIGINT) AS cl FROM g2 GROUP BY 1, 2),
      s2 AS (SELECT doc_id, MAX(c * cl) AS top FROM c2 GROUP BY 1),
      g3 AS (SELECT doc_id, array_to_string(ws[i+1:i+3], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 2, 0))) AS i FROM tok)),
      c3 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(length(g) - 2 AS BIGINT) AS cl FROM g3 GROUP BY 1, 2),
      s3 AS (SELECT doc_id, MAX(c * cl) AS top FROM c3 GROUP BY 1),
      g4 AS (SELECT doc_id, array_to_string(ws[i+1:i+4], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 3, 0))) AS i FROM tok)),
      c4 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(length(g) - 3 AS BIGINT) AS cl FROM g4 GROUP BY 1, 2),
      s4 AS (SELECT doc_id, MAX(c * cl) AS top FROM c4 GROUP BY 1),
      g5 AS (SELECT doc_id, array_to_string(ws[i+1:i+5], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 4, 0))) AS i FROM tok)),
      c5 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(length(g) - 4 AS BIGINT) AS cl FROM g5 GROUP BY 1, 2),
      s5 AS (SELECT doc_id, CAST(SUM(CASE WHEN c >= 2 THEN c * cl ELSE 0 END) AS BIGINT) AS dup
        FROM c5 GROUP BY 1),
      g10 AS (SELECT doc_id, array_to_string(ws[i+1:i+10], ' ') AS g
        FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 9, 0))) AS i FROM tok)),
      c10 AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c,
          CAST(length(g) - 9 AS BIGINT) AS cl FROM g10 GROUP BY 1, 2),
      s10 AS (SELECT doc_id, CAST(SUM(CASE WHEN c >= 2 THEN c * cl ELSE 0 END) AS BIGINT) AS dup
        FROM c10 GROUP BY 1),
      m AS (SELECT b.doc_id, b.n_lines,
          (b.n_dup_lines * 1000000) // b.n_lines AS dup_line_u,
          (COALESCE(ld.dupc, 0) * 1000000) // b.lchars AS dup_line_char_u,
          (COALESCE(s2.top, 0) * 1000000) // b.wchars AS top2_u,
          (COALESCE(s3.top, 0) * 1000000) // b.wchars AS top3_u,
          (COALESCE(s4.top, 0) * 1000000) // b.wchars AS top4_u,
          (COALESCE(s5.dup, 0) * 1000000) // b.wchars AS dup5_u,
          (COALESCE(s10.dup, 0) * 1000000) // b.wchars AS dup10_u
        FROM base b
        LEFT JOIN ldup ld USING (doc_id) LEFT JOIN s2 USING (doc_id)
        LEFT JOIN s3 USING (doc_id) LEFT JOIN s4 USING (doc_id)
        LEFT JOIN s5 USING (doc_id) LEFT JOIN s10 USING (doc_id))
      SELECT m.*, NOT (dup_line_u > 300000 OR dup_line_char_u > 200000 OR
          top2_u > 200000 OR top3_u > 180000 OR top4_u > 160000 OR
          dup5_u > 150000 OR dup10_u > 100000) AS keep
      FROM m ORDER BY doc_id""")),

    // --- q206: Gopher quality battery (GopherQuality) — the
    // NON-repetition half of Rae et al. Table A1 (q199 is the
    // repetition half): word-count bounds, mean-word-length bounds,
    // symbol-to-word ratio (# and ...), bullet/ellipsis line ratios,
    // alpha-word fraction, stop-word presence — integer micro-units,
    // published thresholds as the keep verdict. Fixture: content from
    // the doc's own words (docs span 10–99 words, so the 50-word floor
    // fires naturally in both directions) plus per-modulus plants for
    // each rule (a # spam line %6, bullet/ellipsis lines %7, a numeric
    // line %8, a stop-word line %2 — the GenData tech vocabulary has NO
    // natural stop words, so the %2 plant keeps rule 6 non-degenerate).
    // Same scale class as q199: per-row lambdas, ZERO shuffle.
    QueryDef("q206_gopher_quality", (s, dir) => {
      import s.implicits._
      val ws = split($"text", " ", -1)
      val page = concat_ws("\n",
        concat_ws(" ", slice(ws, 1, 60)),
        when($"doc_id" % 6 === 1, lit("# # # # # # # #")),
        when($"doc_id" % 7 === 2, lit("• first item")),
        when($"doc_id" % 7 === 2, lit("• second item")),
        when($"doc_id" % 7 === 2, lit("- third item...")),
        when($"doc_id" % 8 === 3, lit("123 456 789 012 345 678")),
        when($"doc_id" % 2 === 0, lit("of the and that with more.")),
        lit("End."))
      graft.text.GopherQuality.metrics(
          Tables.load(s, dir, "documents").select($"doc_id", page.as("page")),
          "page", "doc_id")
        .orderBy($"doc_id")
    }, Some("""
      WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      pg AS (SELECT doc_id, concat_ws(chr(10),
          array_to_string(ws[1:60], ' '),
          CASE WHEN doc_id % 6 = 1 THEN '# # # # # # # #' END,
          CASE WHEN doc_id % 7 = 2 THEN '• first item' END,
          CASE WHEN doc_id % 7 = 2 THEN '• second item' END,
          CASE WHEN doc_id % 7 = 2 THEN '- third item...' END,
          CASE WHEN doc_id % 8 = 3 THEN '123 456 789 012 345 678' END,
          CASE WHEN doc_id % 2 = 0 THEN 'of the and that with more.' END,
          'End.') AS page
        FROM w0),
      t AS (SELECT doc_id, page,
          string_split(page, chr(10)) AS lines,
          string_split(replace(page, chr(10), ' '), ' ') AS words
        FROM pg),
      m AS (SELECT doc_id,
          CAST(len(words) AS BIGINT) AS nw,
          CAST(len(lines) AS BIGINT) AS nl,
          CAST(length(replace(replace(page, chr(10), ''), ' ', '')) AS BIGINT) AS wchars,
          CAST(length(page) - length(replace(page, '#', '')) AS BIGINT) AS nhash,
          CAST((length(page) - length(replace(page, '...', ''))) // 3 AS BIGINT) AS nell,
          CAST(len(list_filter(lines, x -> starts_with(x, '•') OR starts_with(x, '- '))) AS BIGINT) AS nbullet,
          CAST(len(list_filter(lines, x -> ends_with(x, '...'))) AS BIGINT) AS nelline,
          CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS nalpha,
          CAST(len(list_filter(words, x -> list_contains(['the','be','to','of','and','that','have','with'], lower(x)))) AS BIGINT) AS nstop
        FROM t)
      SELECT doc_id, nw AS n_words,
          (wchars * 1000000) // nw AS mean_word_len_u,
          ((nhash + nell) * 1000000) // nw AS symbol_ratio_u,
          (nbullet * 1000000) // nl AS bullet_line_u,
          (nelline * 1000000) // nl AS ellipsis_line_u,
          (nalpha * 1000000) // nw AS alpha_word_u,
          nstop AS n_stopwords,
          (nw BETWEEN 50 AND 100000
           AND (wchars * 1000000) // nw BETWEEN 3000000 AND 10000000
           AND ((nhash + nell) * 1000000) // nw <= 100000
           AND (nbullet * 1000000) // nl <= 100000
           AND (nelline * 1000000) // nl <= 300000
           AND (nalpha * 1000000) // nw >= 800000
           AND nstop >= 2) AS keep
      FROM m ORDER BY doc_id""")),

    // --- q200: robots.txt exclusion gate (RobotsTxt — RFC 9309, from
    // spec) — the politeness step between q197's frontier additions and
    // the fetcher, completing the crawl ring: extract (q193/q196) →
    // links (q194) → frontier (q197) → THIS. Per-host robots bodies are
    // constructed from the host id in both engines (transparency-oracle
    // discipline) and exercise the spec's load-bearing corners at every
    // sf: multi-UA runs forming one group, case-insensitive agent match,
    // MERGED same-agent groups, specific-agent-beats-*, empty rule
    // values, `*` wildcards, the `$` end anchor, and longest-match-wins
    // with Allow breaking ties. Scale shape (plan-audited): the rule
    // table collapses to one array per HOST (dimension-sized) and
    // BROADCASTS; the URL stream is adjudicated by a per-row fold —
    // never shuffled, never exploded against rules.
    QueryDef("q200_robots_gate", (s, dir) => {
      import s.implicits._
      val d = Tables.load(s, dir, "documents")
        .select($"doc_id", ($"doc_id" % 7).as("h"))
      def hostOf(h: org.apache.spark.sql.Column) =
        concat(lit("site"), h.cast("string"), lit(".example"))
      val robots = d.select($"h").distinct()
        .select(hostOf($"h").as("host"), concat_ws("\n",
          lit("# fixture"),
          lit("User-agent: otherbot"),
          lit("User-agent: oldbot"),
          lit("Disallow: /"),
          when($"h" % 2 === 0, lit("User-agent: GraftBot")),
          when($"h" % 2 === 0, lit("Disallow: /private/")),
          when($"h" % 2 === 0, lit("Allow: /private/pub*")),
          when($"h" % 2 === 0, lit("Disallow: /tmp/*.log$")),
          when($"h" % 2 === 0, lit("Allow:")),
          lit("User-agent: *"),
          lit("Disallow: /all/"),
          lit("Allow: /all/open"),
          when($"h" % 3 === 0, lit("User-agent: graftbot")),
          when($"h" % 3 === 0, lit("Disallow: /merge/")),
          when($"h" % 5 === 3, lit("User-agent: specialbot")),
          when($"h" % 5 === 3, lit("User-agent: graftbot")),
          when($"h" % 5 === 3, lit("Disallow: /shared/"))).as("txt"))
      val rules = graft.text.RobotsTxt.agentRules(robots, "host", "txt", "graftbot")
      val urls = d.select($"doc_id", hostOf($"h").as("host"),
        explode(array(
          concat(lit("/private/x"), $"doc_id"),
          concat(lit("/private/pub"), $"doc_id"),
          concat(lit("/tmp/f"), $"doc_id", lit(".log")),
          concat(lit("/tmp/f"), $"doc_id", lit(".txt")),
          concat(lit("/all/q"), $"doc_id"),
          concat(lit("/all/open"), $"doc_id"),
          concat(lit("/merge/m"), $"doc_id"),
          concat(lit("/shared/s"), $"doc_id"),
          concat(lit("/ok/"), $"doc_id"))).as("path"))
      graft.text.RobotsTxt.adjudicate(urls, rules)
        .orderBy($"doc_id", $"path")
    }, Some("""
      WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
      hosts AS (SELECT DISTINCT h, 'site' || CAST(h AS VARCHAR) || '.example' AS host FROM d),
      rob AS (SELECT host, concat_ws(chr(10),
          '# fixture',
          'User-agent: otherbot',
          'User-agent: oldbot',
          'Disallow: /',
          CASE WHEN h % 2 = 0 THEN 'User-agent: GraftBot' END,
          CASE WHEN h % 2 = 0 THEN 'Disallow: /private/' END,
          CASE WHEN h % 2 = 0 THEN 'Allow: /private/pub*' END,
          CASE WHEN h % 2 = 0 THEN 'Disallow: /tmp/*.log$' END,
          CASE WHEN h % 2 = 0 THEN 'Allow:' END,
          'User-agent: *',
          'Disallow: /all/',
          'Allow: /all/open',
          CASE WHEN h % 3 = 0 THEN 'User-agent: graftbot' END,
          CASE WHEN h % 3 = 0 THEN 'Disallow: /merge/' END,
          CASE WHEN h % 5 = 3 THEN 'User-agent: specialbot' END,
          CASE WHEN h % 5 = 3 THEN 'User-agent: graftbot' END,
          CASE WHEN h % 5 = 3 THEN 'Disallow: /shared/' END) AS txt
        FROM hosts),
      lines0 AS (SELECT host, unnest(string_split(txt, chr(10))) AS raw,
          unnest(range(0, len(string_split(txt, chr(10))))) AS line_no
        FROM rob),
      lines1 AS (SELECT host, line_no,
          trim(regexp_replace(raw, '#.*$', '')) AS ln FROM lines0),
      lns AS (SELECT host, line_no,
          lower(trim(regexp_extract(ln, '^([^:]+):', 1))) AS field,
          trim(regexp_extract(ln, '^[^:]+:(.*)$', 1)) AS value
        FROM lines1 WHERE length(ln) > 0),
      fl AS (SELECT * FROM lns WHERE field IN ('user-agent', 'allow', 'disallow')),
      g0 AS (SELECT *, (field = 'user-agent') AS is_ua,
          (field = 'user-agent') AND NOT COALESCE(
            LAG(field = 'user-agent') OVER (PARTITION BY host ORDER BY line_no),
            FALSE) AS ua_start
        FROM fl),
      g1 AS (SELECT *, SUM(CASE WHEN ua_start THEN 1 ELSE 0 END)
            OVER (PARTITION BY host ORDER BY line_no) AS grp
        FROM g0),
      ga AS (SELECT host, grp,
          MAX(CASE WHEN lower(value) = 'graftbot' THEN 1 ELSE 0 END) AS named,
          MAX(CASE WHEN value = '*' THEN 1 ELSE 0 END) AS star
        FROM g1 WHERE is_ua GROUP BY 1, 2),
      hn AS (SELECT host, MAX(named) AS has_named FROM ga GROUP BY 1),
      rules AS (SELECT g1.host, (field = 'allow') AS is_allow, value AS rule,
          CAST(length(value) AS BIGINT) AS spec
        FROM g1 JOIN ga USING (host, grp) JOIN hn USING (host)
        WHERE NOT is_ua AND length(value) > 0
          AND CASE WHEN has_named = 1 THEN named = 1 ELSE star = 1 END),
      rre AS (SELECT host, is_allow, rule, spec,
          CASE WHEN rule LIKE '%$'
            THEN '^' || substr(e, 1, length(e) - 2) || '$'
            ELSE '^' || e END AS re
        FROM (SELECT *, replace(replace(replace(rule, '.', '\.'), '$', '\$'), '*', '.*') AS e
              FROM rules)),
      urls AS (SELECT doc_id, 'site' || CAST(h AS VARCHAR) || '.example' AS host,
          unnest(['/private/x' || CAST(doc_id AS VARCHAR),
                  '/private/pub' || CAST(doc_id AS VARCHAR),
                  '/tmp/f' || CAST(doc_id AS VARCHAR) || '.log',
                  '/tmp/f' || CAST(doc_id AS VARCHAR) || '.txt',
                  '/all/q' || CAST(doc_id AS VARCHAR),
                  '/all/open' || CAST(doc_id AS VARCHAR),
                  '/merge/m' || CAST(doc_id AS VARCHAR),
                  '/shared/s' || CAST(doc_id AS VARCHAR),
                  '/ok/' || CAST(doc_id AS VARCHAR)]) AS path
        FROM d),
      cand AS (SELECT u.doc_id, u.host, u.path, r.is_allow, r.rule, r.spec
        FROM urls u JOIN rre r ON u.host = r.host AND regexp_matches(u.path, r.re)),
      best AS (SELECT doc_id, host, path, is_allow, rule, spec,
          ROW_NUMBER() OVER (PARTITION BY doc_id, host, path
            ORDER BY spec DESC, is_allow DESC, rule ASC) AS rn
        FROM cand)
      SELECT u.doc_id, u.host, u.path,
          COALESCE(b.is_allow, TRUE) AS allowed, b.rule AS rule,
          COALESCE(b.spec, 0) AS spec
      FROM urls u LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        USING (doc_id, host, path)
      ORDER BY doc_id, path""")),

    // --- q202: politeness-budgeted crawl scheduling — the step after
    // q201's frontier and q200's robots gate: each host fetches serially
    // (politeness), so the scheduler assigns each host's top-BUDGET
    // targets a WAVE number (1..K, by links desc — the value order) and
    // reports the host's total backlog (the makespan diagnostic: the
    // hottest host bounds crawl time). The 100 TB shape is the point:
    // per-host ranking via the scored_top_k BOUNDED HEAP (map-side
    // partial top-k — a million-URL host reduces to K entries per map
    // task before anything shuffles; the shuffle carries tasks×hosts×K),
    // never a rank window over the full frontier — the window form
    // funnels every candidate of a hot host into one sort task. URL
    // strings ride as md5_60 longs through the heap (the q185 house
    // discipline; ties prefer the smaller hash — deterministic in both
    // engines, birthday risk n²/2⁶¹ stated) and join back answer-sized.
    QueryDef("q202_crawl_schedule", (s, dir) => {
      import s.implicits._
      def h60(c: org.apache.spark.sql.Column) =
        pmod(conv(substring(md5(concat(lit("sch:"), c)), 1, 15), 16, 10)
          .cast("long"), lit(1152921504606846976L))
      val links = Tables.load(s, dir, "documents")
        .select($"doc_id", ($"doc_id" % 7).as("hh"))
        .select($"doc_id",
          concat(lit("site"), $"hh", lit(".example")).as("host"),
          concat(lit("https://site"), $"hh", lit(".example/p"),
            pmod($"doc_id", lit(23))).as("url"))
      val counts = links.groupBy($"host", $"url")
        .agg(count(lit(1)).cast("long").as("n_links"), min($"doc_id").as("min_doc"))
        .withColumn("uid", h60($"url"))
      val topk = counts.groupBy($"host")
        .agg(graft.functions.AggFunctions
            .scoredTopK($"n_links".cast("double"), $"uid", 4).as("top"),
          count(lit(1)).cast("long").as("backlog"))
        .select($"host", $"backlog", posexplode($"top").as(Seq("pos", "e")))
        .select($"host", $"backlog", ($"pos" + 1).cast("long").as("wave"),
          $"e.id".as("uid"))
      // answer-sized (hosts × budget) schedule broadcasts back onto the
      // target stats — the big counts table is never re-shuffled
      counts.join(broadcast(topk), Seq("host", "uid"))
        .select($"host", $"wave", $"url", $"n_links", $"min_doc", $"backlog")
        .orderBy($"host", $"wave")
    }, Some("""
      WITH l AS (SELECT doc_id, doc_id % 7 AS hh FROM documents),
      links AS (SELECT doc_id,
          'site' || CAST(hh AS VARCHAR) || '.example' AS host,
          'https://site' || CAST(hh AS VARCHAR) || '.example/p' ||
            CAST(doc_id % 23 AS VARCHAR) AS url
        FROM l),
      counts AS (SELECT host, url, CAST(COUNT(*) AS BIGINT) AS n_links,
          MIN(doc_id) AS min_doc
        FROM links GROUP BY 1, 2),
      u AS (SELECT *, ('0x' || substr(md5('sch:' || url), 1, 15))::BIGINT
              % 1152921504606846976 AS uid
        FROM counts),
      bl AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS backlog
        FROM counts GROUP BY 1),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY host
          ORDER BY n_links DESC, uid ASC) AS wave
        FROM u)
      SELECT r.host, CAST(r.wave AS BIGINT) AS wave, r.url, r.n_links,
          r.min_doc, b.backlog
      FROM rk r JOIN bl b USING (host) WHERE r.wave <= 4
      ORDER BY host, wave""")),

    // --- q203: sitemap seed discovery (text/Sitemap — the sitemaps.org
    // protocol, from the public spec): the crawl ring's missing
    // crawl-control file (robots.txt points at it via `Sitemap:`). Both
    // engines CONSTRUCT each host's sitemap XML from the corpus's
    // distinct (host, page) pairs — entries sorted by page key, noisy
    // uppercase-scheme/port locs (the q145 canonicalizer is
    // load-bearing), lastmod on most entries (absent on %5 — the
    // optional-field contract), a <priority> field on %4 the parser must
    // SKIP (named-field extraction, not positional). The operator
    // harvests <url> blocks (bounded generator fan-out), extracts
    // loc/lastmod map-side, canonicalizes, and drops already-visited
    // seeds with the q197 discipline (Bloom prune + broadcast exact
    // kill — the visited set never shuffles). The oracle builds the
    // SAME XML with string_agg, re-parses it with the same regexes, and
    // threads BOTH the sitemap locs and the visited surfaces through
    // ONE shared canonicalization chain keyed by a deterministic row
    // key derived from the url itself (never row_number-over-nothing).
    QueryDef("q203_sitemap_seeds", (s, dir) => {
      import s.implicits._
      val hk = Tables.load(s, dir, "documents")
        .select(($"doc_id" % 7).as("h"), ($"doc_id" % 23).as("k")).distinct()
      val surface = concat(lit("HTTPS://site"), $"h",
        lit(".example:443/p"), $"k")
      val entry = concat(
        lit("<url><loc>"), surface, lit("</loc>"),
        when($"k" % 5 =!= 0, concat(lit("<lastmod>2026-0"),
          ($"k" % 8) + 1, lit("-15</lastmod>"))).otherwise(lit("")),
        when($"k" % 4 === 0, concat(lit("<priority>0."), $"k" % 9,
          lit("</priority>"))).otherwise(lit("")),
        lit("</url>"))
      val maps = hk.select($"h", struct($"k", entry.as("e")).as("se"))
        .groupBy($"h")
        .agg(array_sort(collect_list($"se")).as("arr"))
        .select(concat(lit("site"), $"h", lit(".example")).as("host"),
          concat(
            lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
              "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"),
            array_join(transform($"arr", x => x.getField("e")), ""),
            lit("</urlset>")).as("xml"))
      val visited = hk.filter($"k" % 3 === 0)
        .select(graft.text.UrlNormalize.canonicalUrl(surface).as("canonical_url"))
        .distinct().localCheckpoint(true)
      val e = graft.text.Sitemap.entries(maps, "host", "xml")
      graft.text.Sitemap.seeds(e, visited)
        .orderBy($"host", $"canonical_url")
    }, Some("""
      WITH hk AS (SELECT DISTINCT doc_id % 7 AS h, doc_id % 23 AS k FROM documents),
      ent AS (SELECT h, k,
          '<url><loc>HTTPS://site' || CAST(h AS VARCHAR) || '.example:443/p' ||
            CAST(k AS VARCHAR) || '</loc>' ||
          CASE WHEN k % 5 <> 0 THEN '<lastmod>2026-0' ||
            CAST(k % 8 + 1 AS VARCHAR) || '-15</lastmod>' ELSE '' END ||
          CASE WHEN k % 4 = 0 THEN '<priority>0.' || CAST(k % 9 AS VARCHAR) ||
            '</priority>' ELSE '' END ||
          '</url>' AS e
        FROM hk),
      maps AS (SELECT h, 'site' || CAST(h AS VARCHAR) || '.example' AS host,
          '<?xml version="1.0" encoding="UTF-8"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' ||
          string_agg(e, '' ORDER BY k) || '</urlset>' AS xml
        FROM hk JOIN ent USING (h, k) GROUP BY 1, 2),
      blocks AS (SELECT host,
          unnest(regexp_extract_all(xml, '<url>(.*?)</url>', 1)) AS b
        FROM maps),
      locs AS (SELECT host,
          regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS raw_url,
          NULLIF(regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod
        FROM blocks),
      src AS (
        SELECT CAST(regexp_extract(raw_url, 'site([0-9]+)', 1) AS BIGINT) * 1000
             + CAST(regexp_extract(raw_url, '/p([0-9]+)$', 1) AS BIGINT) AS doc_id,
             raw_url AS url
        FROM locs
        UNION ALL
        SELECT -(h * 1000 + k) - 1 AS doc_id,
               'HTTPS://site' || CAST(h AS VARCHAR) || '.example:443/p' ||
                 CAST(k AS VARCHAR) AS url
        FROM hk WHERE k % 3 = 0),
      """ + urlCanonSqlFrom("src") + """,
      vis AS (SELECT DISTINCT canonical_url FROM canon WHERE doc_id < 0),
      ce AS (SELECT l.host, c.canonical_url, l.lastmod
        FROM locs l JOIN canon c
          ON c.doc_id = CAST(regexp_extract(l.raw_url, 'site([0-9]+)', 1) AS BIGINT) * 1000
                      + CAST(regexp_extract(l.raw_url, '/p([0-9]+)$', 1) AS BIGINT))
      SELECT host, canonical_url, lastmod FROM ce
      WHERE canonical_url NOT IN (SELECT canonical_url FROM vis)
      ORDER BY host, canonical_url""")),

    // --- q204: charset sniffing (text/CharsetSniff — RFC 3629 from
    // spec): the decode step between the wire (q196 WARC bodies are
    // BYTES) and every text operator — BOM dispatch, hand-rolled UTF-8
    // well-formedness validation, Latin-1 fallback (the CCNet/C4-class
    // "is this page UTF-8?" gate). The fixture builds four payload
    // classes per doc: valid UTF-8 with planted non-ASCII (é €), a
    // BOM'd UTF-8 page (BOM must strip), UTF-8 + a stray 0xFF byte
    // (invalid — the latin-1 fallback decodes EVERY byte: 0xFF → ÿ),
    // and a BOM'd UTF-16LE page. The oracle never sees the bytes — it
    // predicts enc, char count, and the md5 of the DECODED text purely
    // from the modulus and codepoint arithmetic (chr(233)/chr(8364)/
    // chr(255) — both engines hash the same UTF-8 re-encoding), so any
    // validator, BOM, or transcoding defect moves a hash. RFC edges
    // (overlongs, surrogates, F5–FF leads, U+10FFFF, truncated tails)
    // are unit-pinned. Pure per-row kernel, zero shuffle.
    QueryDef("q204_charset_sniff", (s, dir) => {
      import s.implicits._
      val bomU8 = lit(Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
      val bomLE = lit(Array[Byte](0xFF.toByte, 0xFE.toByte))
      val junk = lit(Array[Byte](0xFF.toByte, 0x41.toByte))
      val m = $"doc_id" % 4
      val payload = when(m === 0,
          encode(concat($"text", lit("é€")), "UTF-8"))
        .when(m === 1, concat(bomU8, encode($"text", "UTF-8")))
        .when(m === 2, concat(encode($"text", "UTF-8"), junk))
        .otherwise(concat(bomLE, encode($"text", "UTF-16LE")))
      val assets = Tables.load(s, dir, "documents")
        .select($"doc_id", payload.as("payload"))
      graft.text.CharsetSniff.sniff(s, assets)
        .select($"doc_id", $"enc", $"n_chars", md5($"text").as("fp"))
        .orderBy($"doc_id")
    }, Some("""
      WITH t AS (SELECT doc_id, text, doc_id % 4 AS m FROM documents),
      p AS (SELECT doc_id,
          CASE m WHEN 2 THEN 'latin-1' WHEN 3 THEN 'utf-16le'
                 ELSE 'utf-8' END AS enc,
          CASE m WHEN 0 THEN text || chr(233) || chr(8364)
                 WHEN 2 THEN text || chr(255) || 'A'
                 ELSE text END AS txt
        FROM t)
      SELECT doc_id, enc, CAST(length(txt) AS BIGINT) AS n_chars,
             md5(txt) AS fp
      FROM p ORDER BY doc_id""")),

    // --- q189: the multimodal END-TO-END composition
    // (MultimodalPipeline.prepare) — the q125 of binary columns, closing
    // the family's compositional gap: for each of the three modalities,
    // asset snapshot (ONE materialization, consumed by both decode
    // passes) → fingerprint (real decode; q111/q156/q157's band tables)
    // → near-dup components → keep-one (class non-reps + non-keeper
    // reps, a duplicate-mass-sized DROPPED set driving one broadcast
    // anti-join) → augment survivors (q184/q186/q187's codec-roundtrip
    // transforms at epoch ep3) → a one-row card of exact longs. The
    // oracle re-derives every pixel/sample/luma, hash bit, candidate,
    // component, survivor, and augmented checksum arithmetically — one
    // wrong drop or one recomputed/mis-transformed payload moves a
    // checksum. The plan audit pins the snapshot discipline: the final plan
    // reads NO parquet (everything rides the materialized assets).
    QueryDef("q189_multimodal_pipeline", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      assertPlantBasesClear(docs)
      graft.multimodal.MultimodalPipeline
        .prepare(s, docs)
        .orderBy($"modality")
    }, Some(MM_PIPELINE_ORACLE_SQL)),

    // --- q207: CCNet perplexity bucketing (text/CcNetBucket — Wenzek
    // et al., LREC 2020): the quality-triage step AFTER the crawl
    // cleaning path — per-LANGUAGE bigram-LM perplexity (the q89 scoring
    // algebra partitioned by lang, micro-nat integerization before the
    // exact per-doc sum), bucketed head/middle/tail at each language's
    // terciles. The 100 TB shape IS the row: cutoffs come from a fixed-
    // width HISTOGRAM (one map-side-combined (lang,bin) count — the only
    // corpus-keyed exchange past the LM build), the cumulative walk runs
    // over the answer-sized bin table, and the two cut bins per language
    // BROADCAST back onto the doc stream — never an ntile/rank window
    // funneling a language's whole corpus into one sort task (the plan
    // audit pins the broadcast + the absence of any Window in the plan).
    // The corpus's natural source/lang mix keeps every language's three
    // buckets populated at every sf; the oracle recomputes the identical
    // model, histogram, and cuts.
    QueryDef("q207_ccnet_bucket", (s, dir) => {
      import s.implicits._
      graft.text.CcNetBucket.buckets(
        Tables.load(s, dir, "documents"), "text", "doc_id", "lang")
        .orderBy($"doc_id")
    }, Some("""
      WITH w AS (SELECT doc_id, lang,
                        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents),
      b AS (SELECT doc_id, lang, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
            FROM w WHERE len(w) >= 2),
      c12 AS (SELECT lang, bg, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
      c1 AS (SELECT lang, string_split(bg, ' ')[1] AS w1, SUM(c12) AS c1 FROM c12 GROUP BY 1, 2),
      doc AS (SELECT b.doc_id, b.lang,
                     CAST(COUNT(*) AS INTEGER) AS n_bigrams,
                     CAST(SUM(CAST(floor(ln(CAST(c12.c12 AS DOUBLE) / c1.c1) * 1e6) AS BIGINT)) AS BIGINT) AS ll_u
              FROM b JOIN c12 ON b.lang = c12.lang AND b.bg = c12.bg
                     JOIN c1 ON b.lang = c1.lang AND string_split(b.bg, ' ')[1] = c1.w1
              GROUP BY 1, 2),
      ppl AS (SELECT doc_id, lang, n_bigrams,
                     CAST((-ll_u) // n_bigrams AS BIGINT) AS ppl_u FROM doc),
      bins AS (SELECT lang, ppl_u // 1000 AS bin, COUNT(*) AS c
               FROM ppl GROUP BY 1, 2),
      cum AS (SELECT lang, bin,
                     SUM(c) OVER (PARTITION BY lang ORDER BY bin) AS cum,
                     SUM(c) OVER (PARTITION BY lang) AS tot
              FROM bins),
      cuts AS (SELECT lang,
                      MIN(CASE WHEN cum * 3 >= tot THEN bin END) AS cut1,
                      MIN(CASE WHEN cum * 3 >= tot * 2 THEN bin END) AS cut2
               FROM cum GROUP BY 1)
      SELECT p.doc_id, p.lang, p.n_bigrams, p.ppl_u,
             CASE WHEN p.ppl_u // 1000 <= c.cut1 THEN 'head'
                  WHEN p.ppl_u // 1000 <= c.cut2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ppl p JOIN cuts c ON p.lang = c.lang
      ORDER BY p.doc_id""")),

    // --- q208: anchor-text harvest (text/AnchorText) — the TEXT half
    // of the link boundary q194 opened (q194 counts the hrefs; this
    // collects what linking pages SAY about each target — the classic
    // link-context signal, public since Brin & Page 1998 §2.2 and
    // shipped as training corpora, e.g. the MS MARCO anchor sets).
    // Fixture: each doc links its group variant with an anchor carrying
    // INNER MARKUP (<b>w1</b> w2 link — the strip is load-bearing) and
    // the hub with a mixed anchor (two corpus-constant terms + the
    // doc's own first word), so every target has a real term
    // distribution: the hub's top terms are corpus-count constants, a
    // group's are its 'link' constant plus its members' words. Scale
    // shape (plan-audited): one bounded generator fan-out, ONE
    // map-side-combined (target, term) count, per-target top-k through
    // the scored_top_k BOUNDED HEAP (never a rank window — a hub with a
    // million-term anchor vocabulary reduces to K entries per map task),
    // winners join back on the key the counts table is already hashed
    // by. The oracle threads the url vocabulary through the shared q145
    // canonicalization chain keyed by the url itself.
    QueryDef("q208_anchor_text", (s, dir) => {
      import s.implicits._
      graft.text.AnchorText.topTerms(anchorPages(s, dir), "h", k = 3)
        .orderBy($"canonical_url", $"rk")
    }, Some(ANCHOR_TEXT_ORACLE_SQL)),

    // --- q213: STREAMING anchor-text maintenance (streaming/
    // StreamingAnchor) — the q191/q201 landed-artifact treatment
    // applied to q208: each micro-batch of crawled pages lands its own
    // (target, term, cnt) partial (shard = batch id, idempotent
    // overwrite under at-least-once foreachBatch), and the corpus
    // top-K is computed over the SUM-merge of the landed shards alone
    // — no old batch's pages are ever re-read, nothing lives in
    // streaming state. Term counts merge by addition (order-free), so
    // ARBITRARY shuffled replay must reproduce the batch answer —
    // the gate is q208's oracle VERBATIM, the second query on one
    // definition (streamed == batch).
    QueryDef("q213_stream_anchor", (s, dir) => {
      import s.implicits._
      val stream = graft.streaming.EventsStream.replayShuffled(
        anchorPages(s, dir), nFiles = 4)
      val out = graft.Scratch.dir("graft_q213").toString
      graft.streaming.StreamingAnchor.landPartials(s, stream, "h", out)
      graft.streaming.StreamingAnchor.merged(s, out, k = 3)
        .orderBy($"canonical_url", $"rk")
    }, Some(ANCHOR_TEXT_ORACLE_SQL)),
    // --- q209: DSIR importance weights (TrainingPrep.dsirWeights —
    // Xie et al., NeurIPS 2023): data selection by hashed-bigram
    // importance resampling, the published alternative to classifier
    // quality filters. Target slice = the English documents (the
    // paper's "formal text" target re-expressed on this corpus's lang
    // column — content-correlated, so weights genuinely separate:
    // English docs score positive, others negative, and the `keep`
    // verdict is the paper's acceptance direction). Per-bucket
    // log-ratios integerize to micro-nats before the exact per-doc sum
    // (the q89 rule). Scale shape (plan-audited): both bucket
    // histograms build in ONE map-side-combined pass over the feature
    // stream (the table is 1024 rows by construction — the point of
    // hashed features at 100 TB), the ratio table BROADCASTS back, and
    // the per-doc weight is the operator's only corpus-keyed exchange.
    QueryDef("q209_dsir_weights", (s, dir) => {
      import s.implicits._
      TrainingPrep.dsirWeights(
        Tables.load(s, dir, "documents"), "text", "doc_id",
        isTarget = col("lang") === "en")
        .orderBy($"doc_id")
    }, Some(DSIR_ORACLE_SQL)),

    // --- q210: CDX index + random-access re-read (sources/Warc.cdx /
    // fetchRecords) — the THIRD standard crawl artifact (q196 proved
    // WARC read, q205 WET write; CDX is the index that makes a petabyte
    // archive random-accessible, the CommonCrawl cdx convention). The
    // indexer walks each archive's gzip MEMBERS from the RFC 1952
    // framing itself (fixed header, flag-announced optional fields,
    // deflate extent measured by the inflater, CRC32+ISIZE trailer) —
    // offsets nothing but the spec can produce. The GATE is the read
    // pattern a CDX exists for: every record re-fetched by (offset,
    // length) range — seek, read exactly length bytes, gunzip ONE
    // member, parse — then the q193 chain over the fetched body, PLUS
    // the payload digest recomputed from the FETCHED bytes: the fourth
    // gate on one extraction oracle, extended by a digest column the
    // oracle derives from the same ONE shell definition — one wrong
    // member boundary, header skip, or range read moves a hash or
    // fails the gunzip loudly. Scale shape: index build one task per
    // archive; fetches repartitioned per archive and offset-sorted —
    // one handle per archive run, sequential forward reads.
    QueryDef("q210_cdx_fetch", (s, dir) => {
      import s.implicits._
      val warcDir = warcShardsFor(s, dir)
      val cdx = graft.sources.Warc.cdx(s, warcDir)
      val recs = graft.sources.Warc.fetchRecords(
        cdx.filter($"warc_type" === "response"))
      // the Warc.responses body split, over the range-fetched payloads
      val txt = $"payload".cast("string")
      val bpos = instr(txt, "\r\n\r\n")
      recs.select(
          regexp_extract($"target_uri", "/([0-9]+)$", 1).cast("long").as("doc_id"),
          when(bpos > 0, substr(txt, bpos + 4)).otherwise(lit("")).as("body"),
          md5($"payload").as("digest"))
        .select($"doc_id", TextExtract.title($"body").as("title"),
          TextExtract.extractText($"body").as("clean"), $"digest")
        .select($"doc_id", $"title",
          length($"clean").cast("long").as("n_chars_clean"),
          md5($"clean").as("fp"), $"digest")
        .orderBy($"doc_id")
    }, Some("""
      WITH ex AS (""" + HTML_EXTRACT_ORACLE_SQL + """),
      dg AS (
        SELECT doc_id,
               md5('HTTP/1.1 200 OK' || chr(13) || chr(10) ||
                   'Content-Type: text/html' || chr(13) || chr(10) ||
                   chr(13) || chr(10) || """ + HTML_SHELL_SQL + """) AS digest
        FROM documents)
      SELECT e.doc_id, e.title, e.n_chars_clean, e.fp, d.digest
      FROM ex e JOIN dg d ON e.doc_id = d.doc_id
      ORDER BY e.doc_id""")),

    // --- q211: WARC revisit resolution (sources/Warc.resolveRevisits)
    // — wire-level dedup, the convention real crawlers ship (Heritrix /
    // the IIPC identical-payload-digest profile): a fetch whose payload
    // digest matches something already archived lands as a PAYLOAD-LESS
    // revisit record, and a reader materializes the bytes by digest
    // lookup. Fixture: groups of three docs share one payload (the
    // group rep's shell) — the rep archives as a response with its
    // digest header, the other two as revisits carrying the same
    // digest + Refers-To — so 2/3 of the archive is revisit mass the
    // resolver must re-materialize. Gate: the q193 chain over EVERY
    // record's resolved body, against an oracle that derives each doc's
    // expected prose from its REP's text through the one shared
    // extraction definition (fifth gate on one chain) — a wrong digest
    // join, a dropped revisit, or a mis-framed empty payload moves a
    // hash or a row. Scale shape: the digest→payload table is the
    // DISTINCT payload vocabulary (the dedup mass), equi-joined on the
    // digest; responses pass through untouched; never all-pairs.
    QueryDef("q211_warc_revisit", (s, dir) => {
      import s.implicits._
      val revDir = revisitShardsFor(s, dir)
      val recs = graft.sources.Warc.resolveRevisits(
        graft.sources.Warc.read(s, revDir))
      val txt = $"payload".cast("string")
      val bpos = instr(txt, "\r\n\r\n")
      recs.select(
          regexp_extract($"target_uri", "/([0-9]+)$", 1).cast("long").as("doc_id"),
          $"warc_type".as("src_type"),
          when(bpos > 0, substr(txt, bpos + 4)).otherwise(lit("")).as("body"))
        .select($"doc_id", $"src_type", TextExtract.title($"body").as("title"),
          TextExtract.extractText($"body").as("clean"))
        .select($"doc_id", $"src_type", $"title",
          length($"clean").cast("long").as("n_chars_clean"),
          md5($"clean").as("fp"))
        .orderBy($"doc_id")
    }, Some("""
      WITH ex AS (""" + htmlExtractOracleSql(
        """SELECT d.doc_id, """ + htmlShellSql("r.doc_id", "r.text") + """ AS h
        FROM documents d JOIN documents r ON r.doc_id = d.doc_id - d.doc_id % 3""") + """)
      SELECT e.doc_id,
             CASE WHEN e.doc_id % 3 = 0 THEN 'response' ELSE 'revisit' END AS src_type,
             e.title, e.n_chars_clean, e.fp
      FROM ex e ORDER BY e.doc_id""")),

    // --- q212: URL blocklist gate (text/UrlBlocklist) — the domain-ban
    // step of the public cleaning recipes (C4 / RefinedWeb filter
    // against UT1-style domain blocklists, with SUBDOMAIN inheritance:
    // bad.example bans ads.bad.example but NOT notbad.example — the
    // label boundary is the load-bearing semantic, planted in the
    // fixture as a 'notbadsite3' host that must survive). Fixture per
    // doc: a subdomain-inherited ban (ads.badsiteK — for K=0 ALSO a
    // more specific entry, proving most-specific-wins attribution), an
    // exact-domain ban, the boundary decoy, and a clean host. Scale
    // shape (plan-audited): suffix matching is depth-bounded
    // COLUMNS (never an explode), each LEFT-joined against the
    // BROADCAST blocklist — zero shuffles, the URL corpus adjudicated
    // entirely map-side (the q200 cost class).
    QueryDef("q212_url_blocklist", (s, dir) => {
      import s.implicits._
      val urls = Tables.load(s, dir, "documents").select($"doc_id",
        explode(array(
          concat(lit("https://ads.badsite"), pmod($"doc_id", lit(10)),
            lit(".example/x"), $"doc_id"),
          concat(lit("https://badsite"), pmod($"doc_id" + 1, lit(10)),
            lit(".example/y")),
          concat(lit("https://notbadsite3.example/w"), $"doc_id"),
          concat(lit("https://goodsite"), pmod($"doc_id", lit(7)),
            lit(".com/z")))).as("url"))
      val blocklist = s.range(10)
        .select(concat(lit("badsite"), $"id", lit(".example")).as("domain"))
        .unionByName(Seq("ads.badsite0.example", "tracker.com")
          .toDF("domain"))
      graft.text.UrlBlocklist.adjudicate(urls, blocklist)
        .orderBy($"doc_id", $"url")
    }, Some("""
      WITH urls AS (
        SELECT doc_id, unnest([
          'https://ads.badsite' || CAST(doc_id % 10 AS VARCHAR) || '.example/x' || CAST(doc_id AS VARCHAR),
          'https://badsite' || CAST((doc_id + 1) % 10 AS VARCHAR) || '.example/y',
          'https://notbadsite3.example/w' || CAST(doc_id AS VARCHAR),
          'https://goodsite' || CAST(doc_id % 7 AS VARCHAR) || '.com/z']) AS url
        FROM documents),
      bl AS (
        SELECT 'badsite' || CAST(i AS VARCHAR) || '.example' AS domain FROM range(10) t(i)
        UNION ALL SELECT 'ads.badsite0.example'
        UNION ALL SELECT 'tracker.com'),
      h AS (
        SELECT doc_id, url,
               lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]*)', 1)) AS host
        FROM urls),
      sx AS (
        SELECT doc_id, url, host, string_split(host, '.') AS ls
        FROM h),
      sfx AS (
        SELECT doc_id, url, host,
               CASE WHEN len(ls) >= 2
                    THEN array_to_string(list_slice(ls, len(ls) - 1, len(ls)), '.') END AS s2,
               CASE WHEN len(ls) >= 3
                    THEN array_to_string(list_slice(ls, len(ls) - 2, len(ls)), '.') END AS s3
        FROM sx)
      SELECT f.doc_id, f.url, f.host,
             (b2.domain IS NOT NULL OR b3.domain IS NOT NULL) AS blocked,
             COALESCE(b3.domain, b2.domain) AS matched
      FROM sfx f
      LEFT JOIN bl b2 ON f.s2 = b2.domain
      LEFT JOIN bl b3 ON f.s3 = b3.domain
      ORDER BY f.doc_id, f.url""")),

    // --- q215: STREAMING language-model maintenance (streaming/
    // StreamingLm) — the landed-artifact treatment applied to the MODEL
    // itself: the MLE bigram model's sufficient statistic is a
    // (bg, c12) count table, counts over a union of batches merge by
    // ADDITION, so the ingest stream lands one vocabulary-sized count
    // partial per micro-batch (shard = batch id, idempotent overwrite)
    // and the release model is the SUM-merge of the landed shards — no
    // batch's documents are ever re-read to refresh the model. The
    // release pass scores the corpus against the streamed model
    // (TrainingPrep.bigramLmScoreAgainst — the c1 marginals derive
    // from the model table itself), and the gate is q89's oracle
    // VERBATIM: model-from-partials == model-from-corpus, to the bit,
    // on every doc's (n_bigrams, ll_u).
    QueryDef("q215_stream_lm", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"text")
      val stream = graft.streaming.EventsStream.replayShuffled(docs, nFiles = 4)
      val out = graft.Scratch.dir("graft_q215").toString
      graft.streaming.StreamingLm.landCounts(s, stream, "text", "doc_id", out)
      TrainingPrep.bigramLmScoreAgainst(docs, "text", "doc_id",
          graft.streaming.StreamingLm.mergedModel(s, out))
        .orderBy($"doc_id")
    }, Some(BIGRAM_LM_ORACLE_SQL)),

    // --- q216: Crawl-delay politeness ETA (RobotsTxt.crawlDelays ∘
    // the q202 scheduler) — the directive RFC 9309 doesn't define but
    // every major non-Google engine honors (stated; §2.2.4's
    // extensibility clause covers unknown directives): per-host
    // Crawl-delay resolved with the SAME winning-group rule as paths —
    // a host with named groups takes ONLY their delays (a named group
    // publishing none ⇒ the default, never the `*` group's — planted
    // on h%6==0), several delays take the MAX, non-numeric ignored.
    // Composition: q202's wave schedule gains eta_s = (wave−1)·delay_s
    // — the serial-fetch completion estimate per target, the makespan
    // number a crawl planner actually reads. The delay oracle is
    // ANALYTIC from the host modulus (the q204 transparency style —
    // the parse machinery itself is q200-gated); waves mirror q202's
    // rank CTE. Scale: delays are HOST-dimension-sized and broadcast;
    // everything else is the q202 shape (bounded heap, no window over
    // the frontier).
    QueryDef("q216_crawl_delay", (s, dir) => {
      import s.implicits._
      def h60(c: org.apache.spark.sql.Column) =
        pmod(conv(substring(md5(concat(lit("sch:"), c)), 1, 15), 16, 10)
          .cast("long"), lit(1152921504606846976L))
      val links = Tables.load(s, dir, "documents")
        .select($"doc_id", ($"doc_id" % 7).as("hh"))
        .select($"doc_id", $"hh",
          concat(lit("site"), $"hh", lit(".example")).as("host"),
          concat(lit("https://site"), $"hh", lit(".example/p"),
            pmod($"doc_id", lit(23))).as("url"))
      val counts = links.groupBy($"host", $"url")
        .agg(count(lit(1)).cast("long").as("n_links"), min($"doc_id").as("min_doc"))
        .withColumn("uid", h60($"url"))
      val topk = counts.groupBy($"host")
        .agg(graft.functions.AggFunctions
            .scoredTopK($"n_links".cast("double"), $"uid", 4).as("top"))
        .select($"host", posexplode($"top").as(Seq("pos", "e")))
        .select($"host", ($"pos" + 1).cast("long").as("wave"),
          $"e.id".as("uid"))
      val robots = links.select($"hh").distinct()
        .select(concat(lit("site"), $"hh", lit(".example")).as("host"),
          concat_ws("\n",
            lit("User-agent: otherbot"),
            lit("Crawl-delay: 99"),
            when($"hh" % 2 === 0, lit("User-agent: GraftBot")),
            when($"hh" % 2 === 0 && $"hh" % 3 =!= 0,
              concat(lit("Crawl-delay: "), ($"hh" % 3) + 2)),
            when($"hh" % 2 === 0, lit("Disallow: /tmp/")),
            when($"hh" % 2 === 0, lit("Crawl-delay: oops")),
            lit("User-agent: *"),
            lit("Crawl-delay: 7")).as("txt"))
      val delays = graft.text.RobotsTxt.crawlDelays(
        robots, "host", "txt", "graftbot")
      counts.join(broadcast(topk), Seq("host", "uid"))
        .join(broadcast(delays), Seq("host"))
        .select($"host", $"wave", $"url", $"n_links", $"delay_s",
          (($"wave" - 1) * $"delay_s").as("eta_s"))
        .orderBy($"host", $"wave")
    }, Some("""
      WITH l AS (SELECT doc_id, doc_id % 7 AS hh FROM documents),
      links AS (SELECT doc_id, hh,
          'site' || CAST(hh AS VARCHAR) || '.example' AS host,
          'https://site' || CAST(hh AS VARCHAR) || '.example/p' ||
            CAST(doc_id % 23 AS VARCHAR) AS url
        FROM l),
      counts AS (SELECT host, url, CAST(COUNT(*) AS BIGINT) AS n_links,
          MIN(doc_id) AS min_doc
        FROM links GROUP BY 1, 2),
      u AS (SELECT *, ('0x' || substr(md5('sch:' || url), 1, 15))::BIGINT
              % 1152921504606846976 AS uid
        FROM counts),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY host
          ORDER BY n_links DESC, uid ASC) AS wave
        FROM u),
      hosts AS (SELECT DISTINCT hh,
          'site' || CAST(hh AS VARCHAR) || '.example' AS host FROM l),
      delays AS (SELECT host,
          CAST(CASE WHEN hh % 2 = 0 AND hh % 3 <> 0 THEN hh % 3 + 2
                    WHEN hh % 2 = 0 THEN 1
                    ELSE 7 END AS BIGINT) AS delay_s
        FROM hosts)
      SELECT r.host, CAST(r.wave AS BIGINT) AS wave, r.url, r.n_links,
          d.delay_s, CAST((r.wave - 1) * d.delay_s AS BIGINT) AS eta_s
      FROM rk r JOIN delays d ON r.host = d.host
      WHERE r.wave <= 4
      ORDER BY r.host, wave""")),

    // --- q217: character-entropy quality signal (TextAnalysis
    // .charEntropy) — the classic cheap noise detector the heuristic
    // stacks run beside the Gopher battery: near-zero for `aaaa…` spam,
    // prose sits around 2.7–3.0 nats, base64-ish blobs above. Integer
    // protocol (the q89 rule): per-distinct-char terms integerized to
    // micro-nats BEFORE the exact long sum, per-char entropy by
    // truncating integral division. A planted 40-char `a` run on
    // doc_id%9==4 drags those docs' entropy measurably below their
    // unpolluted siblings at every sf (the non-degeneracy plant).
    // Shape (plan-audited): a pure per-row fold over the sorted
    // char array — zero shuffle, zero fan-out, the q199 cost class;
    // the oracle pays the unnest-groupBy the engine never does.
    QueryDef("q217_char_entropy", (s, dir) => {
      import s.implicits._
      val page = concat($"text",
        when($"doc_id" % 9 === 4, concat(lit(" "),
          lpad(lit(""), 40, "a"))).otherwise(lit("")))
      graft.text.TextAnalysis.charEntropy(
          Tables.load(s, dir, "documents").select($"doc_id", page.as("page")),
          "page", "doc_id")
        .orderBy($"doc_id")
    }, Some("""
      WITH pg AS (
        SELECT doc_id, text || CASE WHEN doc_id % 9 = 4
            THEN ' ' || repeat('a', 40) ELSE '' END AS page
        FROM documents),
      t AS (SELECT doc_id,
                   trim(regexp_replace(lower(page), '\s+', ' ', 'g')) AS s
            FROM pg),
      ch AS (SELECT doc_id,
                    unnest([substr(s, i, 1) FOR i IN range(1, length(s) + 1)]) AS c
             FROM t),
      cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM ch GROUP BY 1, 2),
      agg AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
                     CAST(COUNT(*) AS BIGINT) AS nd,
                     CAST(SUM(CAST(floor(cnt * ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS s1
              FROM cc GROUP BY 1)
      SELECT doc_id, n AS n_chars, nd AS n_distinct_chars,
             CAST((CAST(floor(n * ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) - s1) // n AS BIGINT) AS ent_u
      FROM agg ORDER BY doc_id""")),

    // --- q218: the crawl-ring END-TO-END composition (the q125/q189
    // treatment for the crawl family): harvest → canonicalize →
    // frontier delta vs the visited index (q197's bloom + broadcast
    // discipline) → URL blocklist gate (q212) → robots path gate
    // (q200's parser) → politeness schedule with Crawl-delays (q216)
    // — ONE plan from page links to fetch waves, each stage killing
    // its own planted victim class: the hub and K%3==0 targets die at
    // the frontier (visited), ads.badsiteN hosts at the blocklist,
    // /private/ paths at robots, and the survivors schedule into
    // per-host waves with eta_s = (wave−1)·delay_s (even hosts publish
    // named delays, odd hosts prove named-group-without-delay ⇒
    // default). The oracle recomputes the full chain: the shared q145
    // canonicalization CTEs, an analytic robots/blocklist/delay mirror
    // (the parsers themselves are q200/q212-gated), and q202's rank
    // CTE for the waves. Scale: every stage keeps its own audited
    // shape — the corpus-keyed exchanges are the frontier count and
    // the per-host heap, everything else broadcasts.
    QueryDef("q218_crawl_plan", (s, dir) => {
      import s.implicits._
      def h60(c: org.apache.spark.sql.Column) =
        pmod(conv(substring(md5(concat(lit("sch:"), c)), 1, 15), 16, 10)
          .cast("long"), lit(1152921504606846976L))
      val d = Tables.load(s, dir, "documents").select($"doc_id",
        ($"doc_id" % 7).as("hh"), ($"doc_id" % 23).as("kk"))
      val hub = lit("HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f")
      val links = d.select($"doc_id", explode(array(
        concat(lit("HTTPS://site"), $"hh", lit(".example:443/p"), $"kk",
          lit("?utm_source=x")),
        hub,
        concat(lit("https://ads.badsite"), pmod($"hh", lit(3)),
          lit(".example/x"), $"kk"),
        concat(lit("https://site"), $"hh", lit(".example/private/s"), $"kk")))
        .as("url"))
      val visited = d.filter($"kk" % 3 === 0)
        .select(concat(lit("https://site"), $"hh", lit(".example/p"), $"kk")
          .as("canonical_url"))
        .unionByName(s.range(1).select(
          graft.text.UrlNormalize.canonicalUrl(hub).as("canonical_url")))
        .distinct().localCheckpoint(true)
      // the frontier delta is delta-sized by contract — land it once
      // (the materialization a production crawl round writes anyway);
      // every gate below rides this snapshot instead of re-running the
      // links → canon → bloom chain once per consumer (the robots host
      // table, the budget heap and the final attach each re-executed
      // it: three corpus passes for one, measured 7.3 → 3.6 s at
      // sf0.1). q197 still pins the bloom-prune plan shape itself.
      val additions = Frontier.additions(visited, links).localCheckpoint(true)
      val blocklist = s.range(3)
        .select(concat(lit("badsite"), $"id", lit(".example")).as("domain"))
      val unblocked = graft.text.UrlBlocklist
        .adjudicate(additions, blocklist, "canonical_url")
        .filter(!$"blocked")
        .select($"canonical_url", $"n_links", $"min_doc",
          regexp_extract($"canonical_url", "^[a-z]+://([^/]*)", 1).as("host"),
          regexp_extract($"canonical_url", "^[a-z]+://[^/]*(/.*)$", 1).as("path"))
      val robots = unblocked.select($"host").distinct()
        .select($"host",
          regexp_extract($"host", "^site([0-9]+)\\.", 1).cast("int").as("h"))
        .select($"host", concat_ws("\n",
          lit("User-agent: GraftBot"),
          lit("Disallow: /private/"),
          when($"h" % 2 === 0, concat(lit("Crawl-delay: "), ($"h" % 3) + 2)),
          lit("User-agent: *"),
          lit("Crawl-delay: 7")).as("txt"))
      val rules = graft.text.RobotsTxt.agentRules(robots, "host", "txt", "graftbot")
      val allowed = graft.text.RobotsTxt.adjudicate(unblocked, rules)
        .filter($"allowed")
      val delays = graft.text.RobotsTxt.crawlDelays(robots, "host", "txt", "graftbot")
      val withUid = allowed.withColumn("uid", h60($"canonical_url"))
      val topk = withUid.groupBy($"host")
        .agg(graft.functions.AggFunctions
            .scoredTopK($"n_links".cast("double"), $"uid", 4).as("top"))
        .select($"host", posexplode($"top").as(Seq("pos", "e")))
        .select($"host", ($"pos" + 1).cast("long").as("wave"), $"e.id".as("uid"))
      withUid.join(broadcast(topk), Seq("host", "uid"))
        .join(broadcast(delays), Seq("host"))
        .select($"host", $"wave", $"canonical_url", $"n_links", $"delay_s",
          (($"wave" - 1) * $"delay_s").as("eta_s"))
        .orderBy($"host", $"wave")
    }, Some("""
      WITH d AS (SELECT doc_id, doc_id % 7 AS hh, doc_id % 23 AS kk FROM documents),
      l0 AS (SELECT doc_id, unnest([
          'HTTPS://site' || CAST(hh AS VARCHAR) || '.example:443/p' || CAST(kk AS VARCHAR) || '?utm_source=x',
          'HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f',
          'https://ads.badsite' || CAST(hh % 3 AS VARCHAR) || '.example/x' || CAST(kk AS VARCHAR),
          'https://site' || CAST(hh AS VARCHAR) || '.example/private/s' || CAST(kk AS VARCHAR)]) AS url
        FROM d),
      """ + urlCanonSqlFrom("l0") + """,
      visited AS (
        SELECT DISTINCT 'https://site' || CAST(hh AS VARCHAR) || '.example/p' || CAST(kk AS VARCHAR) AS cu
        FROM d WHERE kk % 3 = 0
        UNION
        SELECT 'https://hub.com/home?s=1'),
      frontier AS (
        SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_links,
               MIN(doc_id) AS min_doc
        FROM canon WHERE canonical_url NOT IN (SELECT cu FROM visited)
        GROUP BY 1),
      hp AS (SELECT *,
               regexp_extract(canonical_url, '^[a-z]+://([^/]*)', 1) AS host,
               regexp_extract(canonical_url, '^[a-z]+://[^/]*(/.*)$', 1) AS path
             FROM frontier),
      sfx AS (SELECT *, string_split(host, '.') AS ls FROM hp),
      unblocked AS (
        SELECT canonical_url, n_links, min_doc, host, path FROM sfx
        WHERE array_to_string(list_slice(ls, len(ls) - 1, len(ls)), '.')
              NOT IN ('badsite0.example', 'badsite1.example', 'badsite2.example')),
      allowed AS (SELECT * FROM unblocked WHERE path NOT LIKE '/private/%'),
      uids AS (SELECT *, ('0x' || substr(md5('sch:' || canonical_url), 1, 15))::BIGINT
                 % 1152921504606846976 AS uid
               FROM allowed),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY host
               ORDER BY n_links DESC, uid ASC) AS wave
             FROM uids),
      delays AS (SELECT DISTINCT host,
          CAST(CASE WHEN CAST(regexp_extract(host, '^site([0-9]+)', 1) AS INTEGER) % 2 = 0
                    THEN CAST(regexp_extract(host, '^site([0-9]+)', 1) AS INTEGER) % 3 + 2
                    ELSE 1 END AS BIGINT) AS delay_s
        FROM allowed)
      SELECT r.host, CAST(r.wave AS BIGINT) AS wave, r.canonical_url,
             r.n_links, dl.delay_s,
             CAST((r.wave - 1) * dl.delay_s AS BIGINT) AS eta_s
      FROM rk r JOIN delays dl ON r.host = dl.host
      WHERE r.wave <= 4
      ORDER BY r.host, r.wave""")),

    // --- q219: α-power language sampling (TrainingPrep
    // .alphaSampleSummary — the mC4/mT5 recipe, Xue et al. NAACL'21
    // §3.1): uniform sampling buries low-resource languages, so lang l
    // is sampled ∝ n_l^0.3 — the published exponent, flattening
    // without inverting. q61 applies HAND-SET per-source rates; this
    // row DERIVES them from observed counts with the published power
    // law. Integer protocol: per-language w_u = floor(exp(α·ln n)·10⁶)
    // integerizes before the weight sum (a float Σ over languages
    // would be engine-order-dependent), rates all-integer from there
    // (two-step division, truncation points mirrored), keep =
    // deterministic hash threshold — never a per-language rank window.
    // The per-language summary surfaces the recipe's signature: small
    // languages' rates cap at 10⁶ (kept whole), big ones sample down.
    QueryDef("q219_alpha_sample", (s, dir) => {
      import s.implicits._
      TrainingPrep.alphaSampleSummary(
        Tables.load(s, dir, "documents"), "lang", "doc_id")
        .orderBy($"lang")
    }, Some("""
      WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY 1),
      w AS (SELECT lang, n_docs,
                   CAST(floor(exp(0.3 * ln(CAST(n_docs AS DOUBLE))) * 1e6) AS BIGINT) AS w_u
            FROM c),
      t AS (SELECT CAST(SUM(w_u) AS BIGINT) AS wtot,
                   CAST(SUM(n_docs) AS BIGINT) AS ntot FROM w),
      r AS (SELECT lang, n_docs, w_u,
                   least(1000000, CAST(((((ntot * 500) // 1000) * w_u) // wtot * 1000000) // n_docs AS BIGINT)) AS rate_u
            FROM w CROSS JOIN t),
      k AS (SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
            FROM documents d JOIN r ON d.lang = r.lang
            WHERE ('0x' || substr(md5('alpha:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 1000000 < r.rate_u
            GROUP BY 1)
      SELECT r.lang, r.n_docs, r.w_u, CAST(r.rate_u AS BIGINT) AS rate_u,
             COALESCE(k.n_kept, 0) AS n_kept
      FROM r LEFT JOIN k ON r.lang = k.lang
      ORDER BY r.lang""")),

    // --- q220: seed-trained Naive-Bayes quality classifier
    // (TrainingPrep.nbClassifierScore — Brown et al. NeurIPS'20 App. A:
    // the GPT-3/PaLM "quality classifier" recipe, a linear model fit on
    // curated-positive vs random-crawl-negative SEED docs and applied to
    // the whole corpus; hashed features per Joulin et al. '16). The
    // third selection family beside the heuristic batteries and the
    // q207/q209 distribution ratios: the fit sees only the labeled seed
    // (curated = the en slice at doc%4=1; crawl-negative = the random
    // doc%4=3 slice, ANY language — noisy negatives exactly like the
    // real recipe's random Common Crawl draw), and every OTHER doc is
    // scored by a model that never saw it. Multinomial NB's fit is pure
    // counting, so train = ONE map-side-combined histogram (≤1024 rows);
    // per-bucket log-odds integerize to micro-nats before the exact
    // per-doc sum (q89 rule); seed-unseen buckets fall back to the
    // smoothing-only default via coalesce, never a dropped occurrence.
    // Scale shape (plan-audited): weights/totals/prior broadcast;
    // the per-doc sum is the only corpus-keyed exchange.
    QueryDef("q220_quality_classifier", (s, dir) => {
      import s.implicits._
      // the q217 plant construction, shared by both engines: docs at
      // %9==4 carry a spam appendix — the low-quality class the recipe
      // exists to remove. Curated positive seed = the %4==1 slice WITH
      // the spam docs filtered out (curation IS that filter); negative
      // seed = the %4==3 slice UNFILTERED (the random crawl draw, noisy
      // exactly like the real recipe's). Held-out spam docs (%9==4
      // outside both seeds) are killed by a model that never saw them;
      // the near-balanced seeds keep clean docs straddling the MAP
      // boundary, so `keep` is non-degenerate in both directions.
      TrainingPrep.nbClassifierScore(
        nbPageFixture(s, dir), "page", "doc_id",
        isPos = NB_IS_POS, isNeg = NB_IS_NEG)
        .orderBy($"doc_id")
    }, Some(NB_CLASSIFIER_ORACLE_SQL)),

    // --- q225: STREAMING classifier maintenance (streaming/StreamingNb
    // — the q215/q222 landed-artifact treatment for q220's fit): the NB
    // fit's sufficient statistics — the ≤1024-row (c_pos, c_neg) seed
    // histogram AND the one-row (n_pos, n_neg) prior — both merge by
    // ADDITION, so the labeled-seed ingest lands one histogram partial
    // + one prior partial per micro-batch (idempotent shard overwrite;
    // arbitrary 4-file shuffled replay) and the release model is the
    // shard SUM-merge; scoring = nbScoreAgainst over the merged tables.
    // Gate: q220's oracle VERBATIM — the streamed fit must score every
    // doc identically to the inline corpus fit, to the bit. The row
    // completes the maintainable-model family: LM (q215), DSIR (q222),
    // classifier (here) — every model artifact this engine fits is now
    // stream-maintained with constant-or-sublinear state.
    QueryDef("q225_stream_classifier", (s, dir) => {
      import s.implicits._
      val docs = nbPageFixture(s, dir)
      val stream = graft.streaming.EventsStream.replayShuffled(docs, nFiles = 4)
      val out = graft.Scratch.dir("graft_q225").toString
      graft.streaming.StreamingNb.landCounts(s, stream, "page", "doc_id",
        isPos = NB_IS_POS, isNeg = NB_IS_NEG, out)
      TrainingPrep.nbScoreAgainst(docs, "page", "doc_id",
          graft.streaming.StreamingNb.mergedCounts(s, out),
          graft.streaming.StreamingNb.mergedPrior(s, out))
        .orderBy($"doc_id")
    }, Some(NB_CLASSIFIER_ORACLE_SQL)),

    // --- q222: STREAMING DSIR maintenance (streaming/StreamingDsir —
    // the q215 landed-artifact treatment for q209's importance model):
    // DSIR's sufficient statistic is the per-bucket (c_raw, c_tgt)
    // histogram over a FIXED 1024-slot hashed vocabulary, and counts
    // merge by ADDITION — so the ingest stream lands one ≤1024-row
    // partial per micro-batch (shard = batch id, idempotent overwrite
    // under at-least-once foreachBatch; an arbitrary 4-file shuffled
    // replay is the stream) and the release distributions are the
    // SUM-merge of the shards, CONSTANT-bounded state (stronger than
    // q215's Heaps-sublinear partial). Gate: q209's oracle VERBATIM —
    // the merged-histogram weights must equal the inline corpus-built
    // weights on every doc's (n_feats, w_u, keep), to the bit.
    QueryDef("q222_stream_dsir", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"text", $"lang")
      val stream = graft.streaming.EventsStream.replayShuffled(docs, nFiles = 4)
      val out = graft.Scratch.dir("graft_q222").toString
      graft.streaming.StreamingDsir.landCounts(s, stream, "text", "doc_id",
        isTarget = col("lang") === "en", out)
      TrainingPrep.dsirWeightsAgainst(docs, "text", "doc_id",
          isTarget = col("lang") === "en",
          graft.streaming.StreamingDsir.mergedCounts(s, out))
        .orderBy($"doc_id")
    }, Some(DSIR_ORACLE_SQL)),

    // --- q223: hard-negative mining (similarity/Ann.hardNegatives —
    // Karpukhin et al. EMNLP'20 §4.2, the DPR recipe): per anchor, the
    // k most-cosine-similar corpus vectors with a DIFFERENT label — the
    // semantically-close-but-not-positive examples that keep a
    // contrastive gradient informative once q114's random cross-source
    // draw goes trivial. The label column is the positive-equivalence
    // key (here the embedding table's cluster label — anchors must not
    // mine their own clustermates as negatives). Scale shape
    // (plan-audited): anchors broadcast, corpus streams through one
    // codegen cosine stage into the bounded scored_top_k heap — the
    // exchange carries tasks×anchors×k entries, never scored rows, and
    // no per-anchor rank window sorts the corpus (q32's window shape
    // retired for the mining variant; ties prefer the smaller id, the
    // BRUTE_TOPK convention, so the rank surface stays hash-exact).
    QueryDef("q223_hard_negatives", (s, dir) => {
      import s.implicits._
      val emb = Tables.load(s, dir, "embeddings")
      graft.similarity.Ann.hardNegatives(
        emb, emb.filter($"vec_id" < 8), "embedding", "vec_id", "label", k = 5)
        .orderBy($"q_id", $"rk")
    }, Some("""
      SELECT q_id, rk, n_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id AS n_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC, e.vec_id)
                 AS INTEGER) AS rk
        FROM embeddings q JOIN embeddings e ON q.label <> e.label
        WHERE q.vec_id < 8)
      WHERE rk <= 5 ORDER BY q_id, rk""")),

    // --- q224: mojibake repair (text/Mojibake — the ftfy-class fixer
    // C4/CCNet-era pipelines run after charset decode; core heuristic
    // from first principles: chars → Latin-1 bytes → accept iff valid
    // RFC 3629 UTF-8 via the q204 validator, re-decode). The q217 plant
    // construction in BOTH engines: %6==1 docs carry the planted
    // non-ASCII suffix put through ONE mis-decode layer (é→Ã©, €→â··¬,
    // ï→Ã¯ — the exact char expansion a Latin-1 mis-read produces);
    // %6==3 docs carry a LONE high char before a space (C3 20 — invalid
    // UTF-8, pinning the validator's refusal: genuine Latin-1 stays);
    // everyone else carries the clean suffix (non-repairable: € is not
    // Latin-1-encodable). The oracle predicts n_fixes, both char
    // counts, and the md5 of the REPAIRED text analytically — repair
    // must invert the corruption to the byte. Per-row kernel, zero
    // shuffle (plan audit: no exchange/join/window).
    QueryDef("q224_mojibake_repair", (s, dir) => {
      import s.implicits._
      // self-insulating plant (r15): the base text is sanitized to ASCII
      // in BOTH engines before the substitutions, so the analytic
      // n_fixes prediction cannot break if the corpus fixture ever gains
      // a non-ASCII char the é/€/ï replaces leave unsubstituted (any CJK
      // char makes fixOnce refuse; a stray Latin-1 char shifts n_chars)
      val base = regexp_replace($"text", "[^ -~]", "")
      val orig = concat(base, lit(" café € naïve"))
      val corrupted = regexp_replace(regexp_replace(regexp_replace(orig,
        "é", "Ã©"),
        "€", "â¬"),
        "ï", "Ã¯")
      val page = when($"doc_id" % 6 === 1, corrupted)
        .when($"doc_id" % 6 === 3, concat(base, lit(" Ã")))
        .otherwise(orig)
      graft.text.Mojibake.repair(s,
        Tables.load(s, dir, "documents").select($"doc_id", page.as("page")),
        "page", "doc_id")
        .orderBy($"doc_id")
    }, Some("""
      WITH san AS (
        SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS text
        FROM documents),
      base AS (
        SELECT doc_id, text, text || ' caf' || chr(233) || ' ' || chr(8364)
               || ' na' || chr(239) || 've' AS orig
        FROM san),
      pg AS (SELECT doc_id, orig,
        CASE WHEN doc_id % 6 = 1 THEN
          replace(replace(replace(orig,
            chr(233), chr(195) || chr(169)),
            chr(8364), chr(226) || chr(130) || chr(172)),
            chr(239), chr(195) || chr(175))
        WHEN doc_id % 6 = 3 THEN text || ' ' || chr(195)
        ELSE orig END AS page
      FROM base),
      rep AS (SELECT doc_id,
        CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END AS n_fixes,
        length(page) AS n_chars_in,
        CASE WHEN doc_id % 6 = 1 THEN orig ELSE page END AS fixed
      FROM pg)
      SELECT doc_id, CAST(n_fixes AS INTEGER) AS n_fixes,
             CAST(n_chars_in AS BIGINT) AS n_chars_in,
             CAST(length(fixed) AS BIGINT) AS n_chars_out,
             md5(fixed) AS fp
      FROM rep ORDER BY doc_id""")),

    // --- q226: incremental connected components (Dedup.deltaComponents
    // — the delta discipline applied to cluster MAINTENANCE, closing the
    // loop q147 opened: q147 produces the delta's near-dup PAIRS without
    // touching corpus×corpus; this row folds those pairs into the
    // STANDING component map without re-running the corpus fixpoint).
    // Endpoints map to standing reps via the q197 broadcast-semi probe
    // (the map is scanned, never shuffled), the fixpoint runs over the
    // DELTA-SIZED rep graph, and the relabel is one map scan against the
    // broadcast answer-sized merge table. Exact by the rep-minimum
    // argument (a standing rep IS its component's min node id), and the
    // oracle checks exactly that identity: full union closure vs full
    // standing closure (q69's recursive CTEs, twice), emitting every
    // node whose label changes. Fixture plants all three event classes
    // at every sf: fresh attachments (q147's revision/whitespace
    // deltas), a delta-delta clique, and — the event the operator
    // exists for — a STANDING MERGE: two standing docs sliced from a
    // base's REVERSED words (60% overlap → J ≈ 0.57–0.61, separate
    // components) bridged by the full reversed text arriving in the
    // delta (J ≈ 0.78–0.8 to BOTH), so B's whole component relabels to
    // A's rep — the fromStanding branch fires live, not just in units.
    QueryDef("q226_delta_components", (s, dir) => {
      import s.implicits._
      val standingMap = Dedup.connectedComponents(
        bridgeStandingPairs(s, dir), "id_a", "id_b")
      val dp = bridgeDeltaPairs(s, dir)
      Dedup.deltaComponents(standingMap, dp.select($"id_a", $"id_b"))
        .orderBy($"node")
    }, Some(s"""
      WITH RECURSIVE docs AS ($NEAR_DUP_DOCS_SQL),
      br AS (
        SELECT doc_id, list_reverse(
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
        WHERE doc_id % 37 = 11
          AND len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 30),
      standing AS (
        SELECT doc_id, text FROM docs
        UNION ALL
        SELECT doc_id + 2000000, array_to_string(list_slice(w, 1, (4 * len(w)) // 5), ' ')
        FROM br
        UNION ALL
        SELECT doc_id + 2200000, array_to_string(list_slice(w, len(w) // 5 + 1, len(w)), ' ')
        FROM br),
      delta AS (
        SELECT doc_id + 3000000 AS doc_id, text || ' fresh crawl revision tag' AS text
        FROM documents
        WHERE doc_id % 13 = 0
          AND len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 20
        UNION ALL
        SELECT doc_id + 4000000, text || '  ' FROM documents WHERE doc_id % 19 = 0
        UNION ALL
        SELECT doc_id + 3500000, array_to_string(w, ' ') FROM br),
      cd AS (SELECT doc_id, text FROM standing
             UNION ALL SELECT doc_id, text FROM delta),
      shs AS (${shingleSetsSqlFrom("standing")}),
      shu AS (${shingleSetsSqlFrom("cd")}),
      pairss AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM shs a JOIN shs b ON a.doc_id < b.doc_id
         AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(a.s || b.s)) >= 0.7),
      pairsu AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM shu a JOIN shu b ON a.doc_id < b.doc_id
         AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(a.s || b.s)) >= 0.7),
      edgess AS (SELECT id_a AS u, id_b AS v FROM pairss
                 UNION SELECT id_b, id_a FROM pairss),
      reachs(u, r) AS (
        SELECT u, u FROM edgess
        UNION
        SELECT e.u, rr.r FROM edgess e JOIN reachs rr ON e.v = rr.u),
      reps AS (SELECT u AS doc_id, MIN(r) AS rep FROM reachs GROUP BY u),
      edgesu AS (SELECT id_a AS u, id_b AS v FROM pairsu
                 UNION SELECT id_b, id_a FROM pairsu),
      reachu(u, r) AS (
        SELECT u, u FROM edgesu
        UNION
        SELECT e.u, rr.r FROM edgesu e JOIN reachu rr ON e.v = rr.u),
      repu AS (SELECT u AS doc_id, MIN(r) AS rep FROM reachu GROUP BY u)
      SELECT n.doc_id AS node,
             COALESCE(s.rep, n.doc_id) AS old_rep,
             COALESCE(u.rep, n.doc_id) AS new_rep
      FROM cd n LEFT JOIN reps s ON n.doc_id = s.doc_id
                LEFT JOIN repu u ON n.doc_id = u.doc_id
      WHERE COALESCE(s.rep, n.doc_id) <> COALESCE(u.rep, n.doc_id)
      ORDER BY node""")),

    // --- q227: checksum-validated card PII (text/Pii — Luhn mod-10,
    // ISO/IEC 7812-1): the PRECISION step q70's regex classes lack — a
    // 13–19 digit run is only a card number if its check digit holds,
    // which is how production scrubbers cut the order-id/timestamp
    // false-positive flood. Fixture: per-doc 15-digit bases whose check
    // digit is COMPUTED BY THE SAME LUHN FOLD in both engines (no
    // hand-baked constants — a wrong fold breaks its own fixture):
    // %8==1 docs carry the valid card, %8==5 the same base with the
    // check digit shifted +5 (never valid — the precision event: a
    // candidate that must NOT validate). The oracle runs the generic
    // detector too: extract + per-candidate Luhn fold, md5 of the
    // validated list. Pure codegen projection, zero shuffle (the
    // q70/q199 cost class, plan-audited).
    QueryDef("q227_card_pii", (s, dir) => {
      import s.implicits._
      val base = lpad((($"doc_id" * 7919 + 123457) % 1000000000000000L)
        .cast("string"), 15, "0")
      // Luhn sum of the base as it sits in the 16-digit card: base digit
      // j (1-based) lands at position-from-right 17-j, doubled when j is
      // odd (transform's i is 0-based, so: i even)
      val digits = filter(split(base, ""), d => d =!= "")
      val terms = transform(digits, (d, i) => {
        val v = d.cast("int")
        val dbl = v * 2
        when(pmod(i, lit(2)) === 0,
          dbl - when(dbl > 9, 9).otherwise(0)).otherwise(v)
      })
      val s15 = aggregate(terms, lit(0), (a, t) => a + t)
      val cd = pmod(lit(10) - pmod(s15, lit(10)), lit(10))
      val page = concat($"text",
        when($"doc_id" % 8 === 1,
          concat(lit(" card "), base, cd.cast("string")))
        .when($"doc_id" % 8 === 5,
          concat(lit(" ref "), base, pmod(cd + 5, lit(10)).cast("string")))
        .otherwise(lit("")))
      val (nCand, nValid, validFp) = graft.text.Pii.cardSummary($"page")
      Tables.load(s, dir, "documents").select($"doc_id", page.as("page"))
        .select($"doc_id", nCand.as("n_cand"), nValid.as("n_valid"),
          validFp.as("valid_fp"))
        .orderBy($"doc_id")
    }, Some("""
      WITH b AS (SELECT doc_id, text,
          lpad(CAST((doc_id * 7919 + 123457) % 1000000000000000 AS VARCHAR), 15, '0') AS base
        FROM documents),
      t AS (SELECT doc_id, text, base,
          list_sum([CASE WHEN i % 2 = 1 THEN
              CASE WHEN 2 * CAST(base[i] AS INT) > 9
                   THEN 2 * CAST(base[i] AS INT) - 9
                   ELSE 2 * CAST(base[i] AS INT) END
            ELSE CAST(base[i] AS INT) END FOR i IN range(1, 16)]) AS s15
        FROM b),
      pg AS (SELECT doc_id,
          text || CASE WHEN doc_id % 8 = 1
              THEN ' card ' || base || CAST((10 - s15 % 10) % 10 AS VARCHAR)
            WHEN doc_id % 8 = 5
              THEN ' ref ' || base || CAST(((10 - s15 % 10) % 10 + 5) % 10 AS VARCHAR)
            ELSE '' END AS page
        FROM t),
      cand AS (SELECT doc_id,
          regexp_extract_all(page, '\b[0-9]{13,19}\b') AS cands
        FROM pg),
      v AS (SELECT doc_id, cands,
          list_filter(cands, c ->
            list_sum([CASE WHEN (len(c) - i) % 2 = 1 THEN
                CASE WHEN 2 * CAST(c[i] AS INT) > 9
                     THEN 2 * CAST(c[i] AS INT) - 9
                     ELSE 2 * CAST(c[i] AS INT) END
              ELSE CAST(c[i] AS INT) END FOR i IN range(1, len(c) + 1)]) % 10 = 0)
            AS valids
        FROM cand)
      SELECT doc_id, CAST(len(cands) AS INTEGER) AS n_cand,
             CAST(len(valids) AS INTEGER) AS n_valid,
             md5(COALESCE(array_to_string(valids, ','), '')) AS valid_fp
      FROM v ORDER BY doc_id""")),

    // --- q228: STREAMING component-map maintenance (streaming/
    // StreamingComponents — q226's streaming symmetry, completing the
    // dedup lifecycle the way q198 completed the fingerprint index's):
    // near-dup PAIRS arrive as micro-batches (the standing pair corpus
    // + the q147 delta flow, shuffled across 4 replay files), each
    // batch lands its OWN local closure as an idempotent shard (a pure
    // function of the batch — the only landing that survives
    // at-least-once replay; node-bounded star rows, never pair mass),
    // and the release map is the deltaComponents FOLD of the shards:
    // per shard the standing side is touched by scans and zero
    // exchanges, the fixpoint is shard-bounded, the merge table
    // answer-sized. Labels are component minima, so the fold is
    // batch-split-invariant: min-merge ≡ batch deltaComponents ≡
    // from-scratch. Gate: the full union-corpus closure (q69's
    // recursive CTE over q226's fixture), node for node — one row per
    // node in any pair, label = the union component's minimum.
    QueryDef("q228_stream_components", (s, dir) => {
      import s.implicits._
      val pairs = bridgeStandingPairs(s, dir).select($"id_a", $"id_b")
        .unionByName(bridgeDeltaPairs(s, dir).select($"id_a", $"id_b"))
      val stream = graft.streaming.EventsStream.replayShuffled(pairs, nFiles = 4)
      val out = graft.Scratch.dir("graft_q228").toString
      graft.streaming.StreamingComponents.landPartials(s, stream, out)
      graft.streaming.StreamingComponents.mergedMap(s, out)
        .select($"id".as("node"), $"cluster_id")
        .orderBy($"node")
    }, Some(COMPONENT_MAP_ORACLE_SQL)),

    // --- q229: supervised language id (TrainingPrep.langid* — the
    // trained-classifier langid the public CCNet/C4 stacks run, where
    // q36 is the heuristic approximation): multinomial NB over hashed
    // char TRIGRAMS (the fastText-langid feature class — 3-grams cross
    // word boundaries and separate languages sharing an alphabet),
    // fit on a labeled seed (%3≠0) with q220's kernel — ONE
    // map-side-combined (lang, bucket) histogram + a one-row-per-lang
    // prior, both SUM-mergeable — scores in exact integer micro-nats,
    // argmax as a min(struct) vote (never a rank window over the
    // corpus). FIXTURE: the synthetic corpus's text is the same tech
    // vocabulary for every lang label, so each doc carries a doubled
    // per-language marker phrase constructed identically in both
    // engines; %12==6 docs (⊂ the held-out third) ALSO carry a French
    // fragment — the cross-language confusable, which the doubled true
    // marker must out-vote (it does: held-out AND confusable rows
    // classify to their label at every sf, and the oracle re-derives
    // every score to the micro-nat either way). Unseen buckets fall
    // back per-language to w0_u (the nbScoreAgainst rule).
    QueryDef("q229_langid", (s, dir) => {
      import s.implicits._
      TrainingPrep.langidClassify(langidPageFixture(s, dir),
          "page", "doc_id", "lang", isSeed = $"doc_id" % 3 =!= 0)
        .orderBy($"doc_id")
    }, Some(LANGID_ORACLE_SQL)),

    // --- q230: cross-modal pair QC (MultimodalPipeline.crossModalQc —
    // the LAION-class caption↔image consistency filter, Schuhmann et
    // al. NeurIPS'21: pairs whose text and image embeddings disagree
    // are dropped before training; the multimodal family's first
    // BETWEEN-modality gate — q111/q156/q157 dedup within one). Exact
    // protocol: both sides int8-quantize (q62's bit-reproducible
    // codes), then INTEGER dot/norms and one integer division produce
    // the signed micro-cosine² — no float is ever compared, so the
    // verdict is engine-portable at any sf. Fixture: pair i carries its
    // own embedding on both sides (cons_u = exactly 10⁶) except %5==3
    // pairs, whose "image" side is row i−1's embedding — the planted
    // mismatch; the corpus's near-isotropic pair cosines stay under
    // 0.47 (cons_u < 2.2·10⁵), a 4× margin to the 0.9² = 810000 gate.
    // Per-row kernel over the pair table; the only join BUILDS the
    // pairs (no join wider than the pair table itself).
    QueryDef("q230_crossmodal_qc", (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings").select($"vec_id", $"embedding")
      val pairs = e.select($"vec_id".as("pair_id"), $"embedding".as("tvec"),
          when($"vec_id" % 5 === 3, $"vec_id" - 1).otherwise($"vec_id").as("p"))
        .join(e.select($"vec_id".as("p"), $"embedding".as("ivec")), "p")
      graft.multimodal.MultimodalPipeline.crossModalQc(
          pairs, "tvec", "ivec", "pair_id")
        .orderBy($"pair_id")
    }, Some("""
      WITH p AS (
        SELECT a.vec_id AS pair_id, a.embedding AS tv, b.embedding AS iv
        FROM embeddings a JOIN embeddings b
          ON b.vec_id = CASE WHEN a.vec_id % 5 = 3
                             THEN a.vec_id - 1 ELSE a.vec_id END),
      qa AS (SELECT pair_id, tv, iv,
            list_max(list_transform(tv, x -> abs(CAST(x AS DOUBLE)))) AS sa,
            list_max(list_transform(iv, x -> abs(CAST(x AS DOUBLE)))) AS sb
          FROM p),
      c AS (SELECT pair_id,
            CASE WHEN sa = 0 THEN list_transform(tv, x -> CAST(0 AS BIGINT))
                 ELSE list_transform(tv, x ->
                   CAST(floor(CAST(x AS DOUBLE) / sa * 127 + 0.5) AS BIGINT)) END AS ca,
            CASE WHEN sb = 0 THEN list_transform(iv, x -> CAST(0 AS BIGINT))
                 ELSE list_transform(iv, x ->
                   CAST(floor(CAST(x AS DOUBLE) / sb * 127 + 0.5) AS BIGINT)) END AS cb
          FROM qa),
      d AS (SELECT pair_id,
            CAST(list_sum([ca[i] * cb[i] FOR i IN range(1, len(ca) + 1)]) AS BIGINT) AS dot_q,
            CAST(list_sum([ca[i] * ca[i] FOR i IN range(1, len(ca) + 1)]) AS BIGINT) AS na2,
            CAST(list_sum([cb[i] * cb[i] FOR i IN range(1, len(cb) + 1)]) AS BIGINT) AS nb2
          FROM c),
      s AS (SELECT pair_id, dot_q, na2, nb2,
            CASE WHEN na2 = 0 OR nb2 = 0 THEN 0
                 ELSE CAST(sign(dot_q) AS BIGINT)
                      * ((dot_q * dot_q * 1000000) // (na2 * nb2)) END AS cons_u
          FROM d)
      SELECT pair_id, dot_q, na2, nb2, cons_u, cons_u >= 810000 AS keep
      FROM s ORDER BY pair_id""")),

    // --- q231: incremental CDX maintenance (sources/Warc.advanceCdx —
    // the advanceIndex lifecycle q198's fingerprint index and the IVF
    // index already have, applied to the archive index q210 builds per
    // run): a standing CDX over the even-numbered archives is advanced
    // with the whole directory — only the odd archives are walked (the
    // even ones are pruned from the file manifest before any byte is
    // read), and the advanced index must be the batch build, row for
    // row (per-archive independence: cdx(A ∪ B) = cdx(A) ∪ cdx(B)).
    // Gate: every response record's identity from the ADVANCED index —
    // doc id from the target URI, the payload digest the oracle derives
    // from the one shell definition, and n_recs = 1 per doc (a
    // duplicated or dropped archive moves a count or a hash). Scale
    // shape: indexing one task per FRESH archive only; the standing
    // side contributes a manifest-sized distinct + union.
    QueryDef("q231_cdx_advance", (s, dir) => {
      import s.implicits._
      val warcDir = warcShardsFor(s, dir)
      // the "prior run": a CDX over the even-numbered archives only —
      // built from an even FILE manifest so this harness, like the
      // operator, never opens an archive it doesn't need
      val p = new org.apache.hadoop.fs.Path(warcDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val even = fs.listStatus(p).map(_.getPath)
        .filter(q => "part-([0-9]+)".r.findFirstMatchIn(q.getName)
          .exists(_.group(1).toInt % 2 == 0))
        .map(_.toString).sorted
      val standing = graft.sources.Warc.cdx(s, even.mkString(","))
        .localCheckpoint(true) // the prior run's landed index
      graft.sources.Warc.advanceCdx(standing, warcDir)
        .filter($"warc_type" === "response")
        .select(regexp_extract($"target_uri", "/([0-9]+)$", 1)
          .cast("long").as("doc_id"), $"digest")
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("int").as("n_recs"), min($"digest").as("digest"))
        .orderBy($"doc_id")
    }, Some(CDX_IDENTITY_ORACLE_SQL)),

    // --- q232: STREAMING langid maintenance (streaming/StreamingLangid
    // — the q225 landed-artifact treatment for q229's fit, keeping the
    // invariant that EVERY fitted model this engine produces is
    // stream-maintained): the (lang, bucket) trigram histogram and the
    // per-lang prior both merge by ADDITION, so the labeled-seed ingest
    // lands one partial of each per micro-batch (idempotent shard
    // overwrite; arbitrary 4-file shuffled replay) and the release
    // model is the shard SUM-merge; scoring = langidScoreAgainst over
    // the merged tables. Gate: q229's oracle VERBATIM — the streamed
    // fit must classify every doc identically to the inline fit, to
    // the micro-nat.
    QueryDef("q232_stream_langid", (s, dir) => {
      import s.implicits._
      val docs = langidPageFixture(s, dir)
      val stream = graft.streaming.EventsStream.replayShuffled(
        docs.filter($"doc_id" % 3 =!= 0), nFiles = 4)
      val out = graft.Scratch.dir("graft_q232").toString
      graft.streaming.StreamingLangid.landCounts(s, stream, "page", "lang", out)
      TrainingPrep.langidScoreAgainst(docs, "page", "doc_id",
          graft.streaming.StreamingLangid.mergedCounts(s, out),
          graft.streaming.StreamingLangid.mergedPrior(s, out))
        .orderBy($"doc_id")
    }, Some(LANGID_ORACLE_SQL)),

    // --- q233: STREAMING CDX maintenance (streaming/StreamingCdx — the
    // landed-artifact treatment for the archive index, completing the
    // lifecycle q210 built and q231 batch-advanced): archive PATH
    // announcements arrive as micro-batches (the fetcher fleet's rotated
    // shards, every file re-offered across the replay to exercise the
    // prune), each batch lands the CDX of the files no predecessor shard
    // indexed (idempotent shard overwrite; prune manifest = the landed
    // chain's distinct files, archive-manifest-sized), and the release
    // index is the plain shard UNION (cdx(A ∪ B) = cdx(A) ∪ cdx(B) —
    // per-archive independence makes concatenation the merge). The
    // standing even-archive CDX seeds the chain as shard=-1, so the
    // stream must neither re-walk nor drop a standing archive. Gate:
    // q231's oracle VERBATIM — every response record's identity from the
    // streamed index, row for row.
    QueryDef("q233_stream_cdx", (s, dir) => {
      import s.implicits._
      val warcDir = warcShardsFor(s, dir)
      val p = new org.apache.hadoop.fs.Path(warcDir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val all = fs.listStatus(p).map(_.getPath)
        .filter(q => q.getName.startsWith("part-")).map(_.toString).sorted
      val even = all.filter(f => "part-([0-9]+)".r.findFirstMatchIn(
        f.substring(f.lastIndexOf('/') + 1)).exists(_.group(1).toInt % 2 == 0))
      val standing = graft.sources.Warc.cdx(s, even.mkString(","))
        .localCheckpoint(true) // the prior run's landed index
      val announce = graft.streaming.EventsStream.replayShuffled(
        all.toSeq.toDF("file"), nFiles = 4)
      val out = graft.Scratch.dir("graft_q233").toString
      graft.streaming.StreamingCdx.landPartials(s, standing, announce, out)
      graft.streaming.StreamingCdx.merged(s, out)
        .filter($"warc_type" === "response")
        .select(regexp_extract($"target_uri", "/([0-9]+)$", 1)
          .cast("long").as("doc_id"), $"digest")
        .groupBy($"doc_id")
        .agg(count(lit(1)).cast("int").as("n_recs"), min($"digest").as("digest"))
        .orderBy($"doc_id")
    }, Some(CDX_IDENTITY_ORACLE_SQL)),

    // --- q234: STREAMING IVF index maintenance (streaming/StreamingIvf —
    // the landed-artifact treatment for the LAST index artifact that had
    // only batch legs; with it, every index this engine builds — LSH
    // dedup, multimodal fingerprint, CDX, IVF — is stream-maintained):
    // the quantizer trains ONCE on the standing corpus (vec_id % 4 ≠ 3 —
    // the appendToIndex contract: day-over-day data keeps the trained
    // geometry) and its centroids are the FIXED broadcast constant that
    // makes each batch's landed partial a pure per-row function
    // (Ivf.assign); the %4 == 3 vectors stream in over a 4-file shuffled
    // replay, q3's five planted copies among them, and probeTopK reads
    // the chain root directly — the cell filter partition-prunes ACROSS
    // shards. Gate: the q46 oracle VERBATIM (exact top-5 = the planted
    // direction-identical copies, same nearest cell as their query under
    // ANY centroid geometry — found at any nProbe, streamed or not).
    QueryDef("q234_stream_ivf", (s, dir) => {
      import s.implicits._
      val corpus = ivfCorpus(s, dir)
      val stream = graft.streaming.EventsStream.replayShuffled(
        corpus.filter($"vec_id" % 4 === 3), nFiles = 4)
      val out = graft.Scratch.dir("graft_q234").toString
      graft.streaming.StreamingIvf.drain(s,
        corpus.filter($"vec_id" % 4 =!= 3), stream,
        "embedding", "vec_id", dim = 64, nCells = 8, out)
      Ivf.probeTopK(s, out, Tables.load(s, dir, "embeddings")
          .select($"vec_id", $"embedding").filter($"vec_id" < 5),
        "embedding", "vec_id", k = 5, nProbe = 3)
        .orderBy($"q_id", $"rk")
    }, Some(IVF_ORACLE_SQL)),

    // --- q235: host-level adjudication (ops/HostStats — the RefinedWeb/
    // Dolma per-domain rollup that sits between per-document filtering
    // and the q212 blocklist gate, and is where that gate's ban list
    // COMES from: spam concentrates by origin, so per-doc verdicts
    // aggregated by host ban what no per-document signal sees). Fixture
    // constructed in both engines: every doc gets a messy URL
    // (HTTP://WWW.D<id%41>.Example:80/p/<id> — case, www, default port,
    // all normalized away by the generic hostOf extractor; the oracle
    // derives the clean host analytically, so extraction must land
    // exactly there), docs of host d7 all carry the spam appendix and a
    // %97 == 13 background scatters it across clean hosts — d7 rolls up
    // to flag_frac 1.0 (banned), every other host to ~1% (kept). ONE
    // map-side-combined aggregate; the exchange carries hosts, never
    // docs; output answer-sized.
    QueryDef("q235_host_adjudicate", (s, dir) => {
      import s.implicits._
      HostStats.rollup(hostFixture(s, dir), "url", "is_spam", "page",
          banAbove = 0.5)
        .orderBy($"host")
    }, Some(HOST_ROLLUP_ORACLE_SQL)),

    // --- q237: STREAMING host-stats maintenance (StreamingHostStats —
    // the q222/q225/q232 landed-artifact treatment for q235's rollup):
    // the per-host (n_docs, n_flagged, sum_chars) triple merges by
    // ADDITION, so the crawl ingest lands one host-vocabulary-bounded
    // partial per micro-batch (idempotent shard overwrite; 4-file
    // shuffled replay) and the release verdicts derive from the shard
    // SUM-merge — per-crawl-shard partials summing into the fleet-wide
    // ban discovery, no batch re-read. Gate: q235's oracle VERBATIM —
    // the streamed rollup must adjudicate every host identically to the
    // inline aggregate, count for count.
    // --- q238: LSH index ADVANCE (DeltaDedup.advanceIndex — the
    // appendToIndex lifecycle leg for the dedup index itself): q147
    // probes a delta against the standing index; this row makes the
    // delta STANDING for the next increment without rebuilding —
    // attached fingerprints join their standing exact group (groups/
    // gains a row, bands/shingles/fps gain nothing: the rep already
    // bands), fresh fingerprints append their rep's band keys, verify
    // shingles, and (fp, rep) row; the standing side is touched by ONE
    // scan of the slim fps/ table probed with the BROADCAST delta
    // fingerprint set. Exact rebuild identity under the enforced
    // fresh-ids-above-standing contract. Gate: the FIRST delta (q147's)
    // advances a per-run COPY of the standing index, then a SECOND
    // increment (v2 revisions of the same base docs + new whitespace
    // variants) probes the ADVANCED index — the answer must equal the
    // all-pairs oracle over C ∪ D1 ∪ D2 restricted to D2-touching
    // pairs, which only holds if D1's docs truly became standing (v2
    // revisions must pair with BOTH their base doc and D1's revision;
    // whitespace arrivals must expand through D1's appended group rows).
    // --- q239: STREAMING LSH index maintenance (streaming/StreamingLsh
    // — the landed-artifact treatment for the dedup index, the last
    // index with only batch legs after q238): crawl increments arrive
    // as ORDERED micro-batches (the q192/q198 monotone-id ingest
    // contract, enforced per batch against the landed metas) and each
    // lands its own four artifact increments — the advanceParts
    // derivation against the fps chain as landed by predecessors —
    // under idempotent shard dirs; per-batch landing ≡ chained
    // advanceIndex ≡ rebuild, artifact for artifact, and deltaPairs
    // probes the chain root directly (every index read selects its
    // columns, so the shard axis adds directories, never rows). Gate:
    // q238's oracle VERBATIM — D1 streams in over two ordered batches,
    // D2 probes the streamed chain.
    QueryDef("q239_stream_lsh", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val idx0 = IvfIndexCache.getOrBuildLsh(s, dir)(docs)
      val norm = trim(regexp_replace(lower($"text"), "\\s+", " "))
      val d1a = docs
        .filter($"doc_id" % 13 === 0 && size(split(norm, " ")) >= 20)
        .select(($"doc_id" + 3000000).as("doc_id"),
          concat($"text", lit(" fresh crawl revision tag")).as("text"))
      val d1b = docs.filter($"doc_id" % 19 === 0)
        .select(($"doc_id" + 4000000).as("doc_id"),
          concat($"text", lit("  ")).as("text"))
      val out = graft.Scratch.dir("graft_q239").toString
      graft.streaming.StreamingLsh.drain(s, idx0,
        graft.streaming.EventsStream.replayOrdered(Seq(d1a, d1b)),
        "text", "doc_id", out)
      val d2 = docs
        .filter($"doc_id" % 13 === 0 && size(split(norm, " ")) >= 20)
        .select(($"doc_id" + 5000000).as("doc_id"),
          concat($"text", lit(" fresh crawl revision tag v2")).as("text"))
        .unionByName(docs.filter($"doc_id" % 23 === 0)
          .select(($"doc_id" + 6000000).as("doc_id"),
            concat($"text", lit("   ")).as("text")))
      graft.dedup.DeltaDedup.deltaPairs(s, out, d2, "text", "doc_id",
        threshold = 0.5).orderBy($"id_a", $"id_b")
    }, Some(LSH_ADVANCE_ORACLE_SQL)),

    QueryDef("q238_lsh_advance", (s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
      val idx0 = IvfIndexCache.getOrBuildLsh(s, dir)(docs)
      // advance mutates the layout — fresh per-run copy (q236 discipline)
      val out = graft.Scratch.dir("graft_q238").toString
      val conf = s.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(idx0)
      val fs = src.getFileSystem(conf)
      val idx = s"$out/index"
      org.apache.hadoop.fs.FileUtil.copy(fs, src,
        fs, new org.apache.hadoop.fs.Path(idx), false, conf)
      val norm = trim(regexp_replace(lower($"text"), "\\s+", " "))
      val d1 = docs
        .filter($"doc_id" % 13 === 0 && size(split(norm, " ")) >= 20)
        .select(($"doc_id" + 3000000).as("doc_id"),
          concat($"text", lit(" fresh crawl revision tag")).as("text"))
        .unionByName(docs.filter($"doc_id" % 19 === 0)
          .select(($"doc_id" + 4000000).as("doc_id"),
            concat($"text", lit("  ")).as("text")))
      graft.dedup.DeltaDedup.advanceIndex(s, idx, d1, "text", "doc_id")
      val d2 = docs
        .filter($"doc_id" % 13 === 0 && size(split(norm, " ")) >= 20)
        .select(($"doc_id" + 5000000).as("doc_id"),
          concat($"text", lit(" fresh crawl revision tag v2")).as("text"))
        .unionByName(docs.filter($"doc_id" % 23 === 0)
          .select(($"doc_id" + 6000000).as("doc_id"),
            concat($"text", lit("   ")).as("text")))
      graft.dedup.DeltaDedup.deltaPairs(s, idx, d2, "text", "doc_id",
        threshold = 0.5).orderBy($"id_a", $"id_b")
    }, Some(LSH_ADVANCE_ORACLE_SQL)),

    QueryDef("q237_stream_hosts", (s, dir) => {
      import s.implicits._
      val stream = graft.streaming.EventsStream.replayShuffled(
        hostFixture(s, dir), nFiles = 4)
      val out = graft.Scratch.dir("graft_q237").toString
      graft.streaming.StreamingHostStats.landCounts(
        s, stream, "url", "is_spam", "page", out)
      HostStats.verdictsFrom(
          graft.streaming.StreamingHostStats.mergedCounts(s, out),
          banAbove = 0.5)
        .orderBy($"host")
    }, Some(HOST_ROLLUP_ORACLE_SQL)),

    // --- q236: landed-chain COMPACTION (StreamingComponents.compact —
    // the LSM discipline every landed-artifact scaladoc promises, made
    // concrete and gated): after the q228 drain lands four shards, the
    // first three are rewritten offline as ONE node-bounded partial (the
    // local closure of their union's star pairs — the same mergeable
    // shape as any batch partial; the closure checkpoints before any
    // predecessor is dropped) and the release fold runs over the
    // SHORTENED chain. Semantically free by the fold's own invariant —
    // labels are component minima and components of a union don't care
    // how the union was split — so the gate is q228's oracle VERBATIM:
    // the compacted chain must reproduce the full union closure node
    // for node. Operationally this is what bounds a year-long ingest:
    // fold cost tracks the compaction cadence, not the batch count.
    QueryDef("q236_compact_components", (s, dir) => {
      import s.implicits._
      // the drained chain is this row's FIXTURE (q228 measures the
      // landing; this row measures compact + fold), so it lands once per
      // corpus — the warcShardsFor memo discipline — and each run gets a
      // fresh COPY because compaction rewrites the chain in place
      val seed = q236ChainFor(s, dir)
      val out = graft.Scratch.dir("graft_q236").toString
      val conf = s.sparkContext.hadoopConfiguration
      val src = new org.apache.hadoop.fs.Path(seed)
      val fs = src.getFileSystem(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, src,
        fs, new org.apache.hadoop.fs.Path(out, "cc"), false, conf)
      graft.streaming.StreamingComponents.compact(s, out, upTo = 2L)
      graft.streaming.StreamingComponents.mergedMap(s, out)
        .select($"id".as("node"), $"cluster_id")
        .orderBy($"node")
    }, Some(COMPONENT_MAP_ORACLE_SQL))
  )

  /** q236's landed-chain fixture: the q228 drain run ONCE per corpus
    * content (the [[warcShardsFor]] memo discipline — the drain is q228's
    * measured surface, not this row's). Returns the chain's `cc` dir;
    * callers copy it before compacting, since compaction rewrites the
    * chain in place. */
  private val q236Chain = new scala.collection.concurrent.TrieMap[String, String]()
  private def q236ChainFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    q236Chain.getOrElseUpdate(
      dir + "@" + graft.sources.Layout.dirFingerprint(
        s, Tables.path(dir, "documents")), {
        import s.implicits._
        val pairs = bridgeStandingPairs(s, dir).select($"id_a", $"id_b")
          .unionByName(bridgeDeltaPairs(s, dir).select($"id_a", $"id_b"))
        val stream = graft.streaming.EventsStream.replayShuffled(pairs, nFiles = 4)
        val out = graft.Scratch.dir("graft_q236_seed").toString
        graft.streaming.StreamingComponents.landPartials(s, stream, out)
        s"$out/cc"
      })

  /** The deterministic markup shell both crawl-boundary gates build
    * around each doc's text — q193 runs the extractor on it directly,
    * q196 first roundtrips it through WARC framing. */
  /** q208/q213's shared page fixture: per doc, the group's url variant
    * linked with an anchor carrying INNER MARKUP, plus the hub with a
    * mixed anchor (two corpus constants + the doc's first word). */
  private def anchorPages(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val u0 = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"),
      expr("CAST(doc_id DIV 4 AS STRING)").as("g"),
      pmod(col("doc_id"), lit(4)).as("v"),
      split(col("text"), " ", -1).as("ws"))
    val html = concat(
      lit("<html><body><a href=\""), urlVariant(col("g"), col("v")),
      lit("\" class=\"x\"><b>"), element_at(col("ws"), 1), lit("</b> "),
      element_at(col("ws"), 2), lit(" link</a><p>"), col("text"),
      lit("</p><a href=\"HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f\">hub home "),
      element_at(col("ws"), 1), lit("</a></body></html>"))
    u0.select(col("doc_id"), html.as("h"))
  }

  /** q226's standing corpus: the q30/q69 near-dup corpus PLUS the
    * bridge-pair plant — for base docs (%37==11, ≥30 words) two
    * standing docs sliced from the REVERSED word sequence (reversal
    * makes their 3-shingles disjoint from the original's): A = the
    * first 80% of reversed words, B = the last 80%. They overlap 60% →
    * J(A,B) ≈ 0.57–0.61 < 0.7 (separate standing components), while
    * the FULL reversed text (planted in the delta) hits both at
    * J ≈ 0.78–0.8 ≥ 0.7 — a delta doc that MERGES two standing
    * components, the event incremental cluster maintenance exists for. */
  private def bridgeCorpus(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val br = bridgeBases(s, dir)
    val a = br.select(($"doc_id" + 2000000).as("doc_id"),
      array_join(expr("slice(w, 1, CAST(4 * size(w) DIV 5 AS INT))"), " ")
        .as("text"))
    val b = br.select(($"doc_id" + 2200000).as("doc_id"),
      array_join(expr(
          "slice(w, CAST(size(w) DIV 5 + 1 AS INT), CAST(size(w) - size(w) DIV 5 AS INT))"),
        " ").as("text"))
    nearDupDocs(s, dir).unionByName(a).unionByName(b)
  }

  /** The reversed-word bases for the q226 bridge plant. */
  private def bridgeBases(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id",
        reverse(split(graft.text.TextAnalysis.normalize($"text"), " ", -1)).as("w"))
      .filter($"doc_id" % 37 === 11 && size($"w") >= 30)
  }

  /** q226/q228's standing pair set: the exact Jaccard join over the
    * bridge standing corpus, memoized per corpus content. */
  private def bridgeStandingPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val fp = graft.sources.Layout.dirFingerprint(
      s, Tables.path(dir, "documents"))
    DedupCache.memoVersioned(s"$dir#jaccard3@0.7+bridge", fp) {
      Dedup.jaccardJoinOrdered(
        Dedup.shingleProjection(bridgeCorpus(s, dir), "text", "doc_id"),
        threshold = 0.7)
    }
  }

  /** q226/q228's fresh-crawl delta: revision-tagged re-crawls
    * (%13==0), whitespace-only re-fetches (%19==0), and the bridge
    * docs — each base's FULL reversed text, which hits BOTH of its
    * standing slices at J ≈ 0.78–0.8 and merges their components. */
  private def bridgeDelta(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val norm = trim(regexp_replace(lower($"text"), "\\s+", " "))
    docs
      .filter($"doc_id" % 13 === 0 && size(split(norm, " ")) >= 20)
      .select(($"doc_id" + 3000000).as("doc_id"),
        concat($"text", lit(" fresh crawl revision tag")).as("text"))
      .unionByName(docs.filter($"doc_id" % 19 === 0)
        .select(($"doc_id" + 4000000).as("doc_id"),
          concat($"text", lit("  ")).as("text")))
      .unionByName(bridgeBases(s, dir)
        .select(($"doc_id" + 3500000).as("doc_id"),
          array_join($"w", " ").as("text")))
  }

  /** The delta's near-dup pairs against standing ∪ delta — the q147
    * flow q226 adjudicates and q228 streams. */
  private def bridgeDeltaPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val idx = IvfIndexCache.getOrBuildLsh(s, dir, "bridge")(bridgeCorpus(s, dir))
    graft.dedup.DeltaDedup.deltaPairs(s, idx, bridgeDelta(s, dir),
      "text", "doc_id", threshold = 0.7)
  }

  /** q229's fixture: the corpus with a DOUBLED per-language marker
    * phrase appended (the synthetic text is the same tech vocabulary
    * for every lang label, so language-distinct signal must be
    * planted — identically in the oracle), plus a French fragment on
    * %12==6 as the cross-language confusable. */
  private def langidPageFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val m = when($"lang" === "en", lit(" the quick would with many of them"))
      .when($"lang" === "fr", lit(" le chat serait avec beaucoup de eux"))
      .when($"lang" === "de", lit(" der hund wuerde mit vielen von ihnen"))
      .when($"lang" === "es", lit(" el gato seria con muchos de ellos"))
      .otherwise(lit(" de mao jiang you henduo zhege"))
    val confus = when($"doc_id" % 12 === 6, lit(" le chat avec"))
      .otherwise(lit(""))
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"lang", concat($"text", m, m, confus).as("page"))
  }

  /** q229's oracle: the NB langid re-derived from the same planted
    * pages — histogram, totals, prior, per-(doc, lang) fallback sums,
    * and the argmax (rank window ordered score DESC, lang ASC — the
    * same tie-break as the min(struct) vote). */
  private def LANGID_ORACLE_SQL: String = """
      WITH mk AS (SELECT doc_id, lang,
            CASE lang WHEN 'en' THEN ' the quick would with many of them'
                      WHEN 'fr' THEN ' le chat serait avec beaucoup de eux'
                      WHEN 'de' THEN ' der hund wuerde mit vielen von ihnen'
                      WHEN 'es' THEN ' el gato seria con muchos de ellos'
                      ELSE ' de mao jiang you henduo zhege' END AS m
          FROM documents),
      pg AS (SELECT d.doc_id, d.lang,
            d.text || mk.m || mk.m ||
            CASE WHEN d.doc_id % 12 = 6 THEN ' le chat avec' ELSE '' END AS page
          FROM documents d JOIN mk ON mk.doc_id = d.doc_id),
      t AS (SELECT doc_id, lang,
            trim(regexp_replace(lower(page), '\s+', ' ', 'g')) AS s FROM pg),
      g AS (SELECT doc_id, lang,
            unnest([substr(s, i, 3) FOR i IN range(1, greatest(length(s) - 1, 1))]) AS g3
          FROM t),
      fe AS (SELECT doc_id, lang,
            ('0x' || substr(md5('lid:' || g3), 1, 15))::BIGINT % 4096 AS f
          FROM g),
      hist AS (SELECT lang, f, CAST(COUNT(*) AS BIGINT) AS c
            FROM fe WHERE doc_id % 3 <> 0 GROUP BY 1, 2),
      tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM hist GROUP BY 1),
      pri AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents WHERE doc_id % 3 <> 0 GROUP BY 1),
      nn AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS nn FROM pri),
      langs AS (SELECT p.lang,
            CAST(floor(ln(CAST(p.n_docs AS DOUBLE) / nn.nn) * 1e6) AS BIGINT) AS prior_u,
            CAST(floor(ln(1.0 / (COALESCE(t.t, 0) + 4096.0)) * 1e6) AS BIGINT) AS w0_u
          FROM pri p LEFT JOIN tot t USING (lang) CROSS JOIN nn),
      wts AS (SELECT h.lang, h.f,
            CAST(floor(ln((h.c + 1.0) / (t.t + 4096.0)) * 1e6) AS BIGINT) AS w_u
          FROM hist h JOIN tot t USING (lang)),
      fs AS (SELECT fe.doc_id, l.lang,
            CAST(SUM(COALESCE(w.w_u, l.w0_u)) AS BIGINT) AS fsum,
            CAST(COUNT(*) AS BIGINT) AS nf
          FROM fe CROSS JOIN langs l
          LEFT JOIN wts w ON w.lang = l.lang AND w.f = fe.f
          GROUP BY 1, 2),
      sc AS (SELECT d.doc_id, l.lang,
            l.prior_u + COALESCE(s.fsum, 0) AS score_u,
            COALESCE(s.nf, 0) AS nf
          FROM documents d CROSS JOIN langs l
          LEFT JOIN fs s ON s.doc_id = d.doc_id AND s.lang = l.lang),
      rk AS (SELECT doc_id, nf, lang, score_u,
            ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY score_u DESC, lang) AS rk
          FROM sc)
      SELECT doc_id, CAST(nf AS INTEGER) AS n_grams, lang AS pred_lang, score_u
      FROM rk WHERE rk = 1 ORDER BY doc_id"""

  /** q220/q225's shared fixture: the corpus with the q217-style spam
    * plant appended on %9==4 (constructed identically in the oracle). */
  private def nbPageFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val page = concat($"text", when($"doc_id" % 9 === 4,
      repeat(lit(" buy cheap click"), 8)).otherwise(lit("")))
    Tables.load(s, dir, "documents").select($"doc_id", page.as("page"))
  }

  /** Curated positive seed: the %4==1 slice WITH the spam docs filtered
    * out (curation IS that filter). */
  private def NB_IS_POS: org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(4)) === 1 && pmod(col("doc_id"), lit(9)) =!= 4
  /** Negative seed: the %4==3 slice UNFILTERED — the noisy random
    * crawl draw of the published recipe. */
  private def NB_IS_NEG: org.apache.spark.sql.Column =
    pmod(col("doc_id"), lit(4)) === 3

  /** q220's oracle — and VERBATIM q225's (the fit merged from streamed
    * count partials must score every doc identically to the inline
    * corpus fit). */
  private def NB_CLASSIFIER_ORACLE_SQL: String = """
      WITH pg AS (SELECT doc_id,
              text || CASE WHEN doc_id % 9 = 4
                THEN repeat(' buy cheap click', 8) ELSE '' END AS page
            FROM documents),
      lbl AS (SELECT doc_id,
              (doc_id % 4 = 1 AND doc_id % 9 <> 4) AS is_pos,
              (doc_id % 4 = 3) AS is_neg,
              string_split(trim(regexp_replace(lower(page), '\s+', ' ', 'g')), ' ') AS w
            FROM pg),
      f AS (SELECT doc_id, is_pos, is_neg,
              ('0x' || substr(md5('nbq:' || unnest(w)), 1, 15))::BIGINT % 1024 AS f
            FROM lbl),
      hist AS (SELECT f,
              CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
              CAST(SUM(CASE WHEN is_neg THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
            FROM f WHERE is_pos OR is_neg GROUP BY 1),
      tot AS (SELECT CAST(SUM(c_pos) AS BIGINT) AS tpos,
                     CAST(SUM(c_neg) AS BIGINT) AS tneg FROM hist),
      pri AS (SELECT CAST(SUM(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                     CAST(SUM(CASE WHEN is_neg THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
              FROM lbl),
      wts AS (SELECT f,
              CAST(floor(ln(((c_pos + 1.0) * (tneg + 1024)) /
                            ((c_neg + 1.0) * (tpos + 1024))) * 1e6) AS BIGINT) AS w_u
              FROM hist CROSS JOIN tot),
      cst AS (SELECT CAST(floor(ln((tneg + 1024.0) / (tpos + 1024.0)) * 1e6) AS BIGINT) AS w0_u,
                     CAST(floor(ln(CAST(n_pos AS DOUBLE) / n_neg) * 1e6) AS BIGINT) AS prior_u
              FROM tot CROSS JOIN pri)
      SELECT f.doc_id, CAST(COUNT(*) AS INTEGER) AS n_toks,
             CAST(prior_u + SUM(COALESCE(w_u, w0_u)) AS BIGINT) AS score_u,
             (prior_u + SUM(COALESCE(w_u, w0_u))) > 0 AS keep
      FROM f LEFT JOIN wts USING (f) CROSS JOIN cst
      GROUP BY f.doc_id, prior_u ORDER BY doc_id"""

  /** q209's oracle — and VERBATIM q222's (the distributions merged
    * from streamed histogram partials must weight every doc identically
    * to the inline corpus-built distributions). */
  private def DSIR_ORACLE_SQL: String = """
      WITH w0 AS (SELECT doc_id, lang = 'en' AS is_tgt,
                         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                  FROM documents),
      b AS (SELECT doc_id, is_tgt,
                   unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
            FROM w0 WHERE len(w) >= 2),
      f AS (SELECT doc_id, is_tgt,
                   ('0x' || substr(md5('dsir:' || bg), 1, 15))::BIGINT % 1024 AS f
            FROM b),
      hist AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS c_raw,
                      CAST(SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_tgt
               FROM f GROUP BY 1),
      tot AS (SELECT CAST(SUM(c_raw) AS BIGINT) AS rtot,
                     CAST(SUM(c_tgt) AS BIGINT) AS ttot FROM hist),
      dist AS (SELECT f,
                 CAST(floor((ln((c_tgt + 1.0) / (ttot + 1024.0))
                           - ln((c_raw + 1.0) / (rtot + 1024.0))) * 1e6) AS BIGINT) AS lr_u
               FROM hist CROSS JOIN tot)
      SELECT f.doc_id, CAST(COUNT(*) AS INTEGER) AS n_feats,
             CAST(SUM(lr_u) AS BIGINT) AS w_u,
             CAST(SUM(lr_u) AS BIGINT) > 0 AS keep
      FROM f JOIN dist USING (f) GROUP BY 1 ORDER BY doc_id"""

  /** q89's oracle — and VERBATIM q215's (the model merged from
    * streamed count partials must score every doc identically to the
    * inline corpus-built model). */
  private def BIGRAM_LM_ORACLE_SQL: String = """
      WITH w AS (SELECT doc_id,
                        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
                 FROM documents),
      b AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] FOR i IN range(1, len(w))]) AS bg
            FROM w WHERE len(w) >= 2),
      c12 AS (SELECT bg, COUNT(*) AS c FROM b GROUP BY 1),
      c1 AS (SELECT string_split(bg, ' ')[1] AS w1, SUM(c) AS c FROM c12 GROUP BY 1),
      lp AS (SELECT b.doc_id,
                    CAST(floor(ln(CAST(c12.c AS DOUBLE) / c1.c) * 1e6) AS BIGINT) AS lp_u
             FROM b JOIN c12 USING (bg)
                    JOIN c1 ON string_split(b.bg, ' ')[1] = c1.w1)
      SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
             CAST(SUM(lp_u) AS BIGINT) AS ll_u
      FROM lp GROUP BY 1 ORDER BY doc_id"""

  /** q208's oracle — and VERBATIM q213's (streamed partials
    * merged must equal the batch answer). */
  private def ANCHOR_TEXT_ORACLE_SQL: String = """
      WITH u0 AS (
        SELECT doc_id, text, CAST(doc_id // 4 AS VARCHAR) AS g, doc_id % 4 AS v,
               string_split(text, ' ') AS ws
        FROM documents),
      hh AS (
        SELECT doc_id,
          '<html><body><a href="' ||
          """ + urlVariantSqlCase("g", "v") + """ ||
          '" class="x"><b>' || ws[1] || '</b> ' || ws[2] || ' link</a><p>' ||
          text ||
          '</p><a href="HTTPS://WWW.Hub.com:443/home/?utm_source=x&s=1#f">hub home ' ||
          ws[1] || '</a></body></html>' AS h
        FROM u0),
      snips AS (
        SELECT doc_id, unnest(regexp_extract_all(h, '(?s)<a [^>]*>.*?</a>', 0)) AS a
        FROM hh),
      pairs AS (
        SELECT regexp_extract(a, 'href="([^"]*)"', 1) AS url,
               trim(regexp_replace(lower(regexp_replace(
                 regexp_extract(a, '(?s)^<a [^>]*>(.*)</a>$', 1),
                 '<[^>]*>', ' ', 'g')), '\s+', ' ', 'g')) AS anchor
        FROM snips),
      uv AS (SELECT DISTINCT url AS doc_id, url FROM pairs),
      """ + urlCanonSqlFrom("uv") + """,
      terms AS (
        SELECT c.canonical_url, unnest(string_split(p.anchor, ' ')) AS term
        FROM pairs p JOIN canon c ON p.url = c.doc_id),
      counts AS (
        SELECT canonical_url, term, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM terms WHERE length(term) > 0 GROUP BY 1, 2),
      tids AS (
        SELECT *, ('0x' || substr(md5('anc:' || term), 1, 15))::BIGINT
                  % 1152921504606846976 AS tid
        FROM counts),
      nt AS (SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_terms
             FROM counts GROUP BY 1),
      rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canonical_url
               ORDER BY cnt DESC, tid ASC) AS rk
             FROM tids)
      SELECT r.canonical_url, CAST(r.rk AS BIGINT) AS rk, r.term, r.cnt,
             n.n_terms
      FROM rk r JOIN nt n ON r.canonical_url = n.canonical_url
      WHERE r.rk <= 3
      ORDER BY r.canonical_url, r.rk"""

  private def htmlShell(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<html><head><script>var x="), docId,
      lit(";</script><style>p {color:red}</style></head><body><h1>Doc "),
      docId, lit("""</h1><!-- meta --><p id="t">"""), text,
      lit(" &lt;tag&gt; &amp; fin</p></body></html>"))

  /** One oracle, two gates (q193 parquet-column path, q196 WARC wire
    * path): the full extraction chain re-run in DuckDB over the same
    * constructed shell. Plain (non-interpolated) string: '\s+' and
    * '\b' stay single-backslash regexes. */
  /** [[htmlShell]]'s DuckDB spelling — ONE definition feeding the
    * extraction oracle AND q210's payload-digest CTE. A `def`: the
    * eager `defs` val forces the oracle strings during object init,
    * before any forward-declared plain val would be assigned. */

  /** The component-map identity gate shared by q228 (streamed
    * maintenance) and q236 (chain compaction): the full union-corpus
    * recursive closure over q226's bridge fixture, node for node. */
  private def COMPONENT_MAP_ORACLE_SQL: String = s"""
      WITH RECURSIVE docs AS ($NEAR_DUP_DOCS_SQL),
      br AS (
        SELECT doc_id, list_reverse(
            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
        FROM documents
        WHERE doc_id % 37 = 11
          AND len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 30),
      standing AS (
        SELECT doc_id, text FROM docs
        UNION ALL
        SELECT doc_id + 2000000, array_to_string(list_slice(w, 1, (4 * len(w)) // 5), ' ')
        FROM br
        UNION ALL
        SELECT doc_id + 2200000, array_to_string(list_slice(w, len(w) // 5 + 1, len(w)), ' ')
        FROM br),
      delta AS (
        SELECT doc_id + 3000000 AS doc_id, text || ' fresh crawl revision tag' AS text
        FROM documents
        WHERE doc_id % 13 = 0
          AND len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 20
        UNION ALL
        SELECT doc_id + 4000000, text || '  ' FROM documents WHERE doc_id % 19 = 0
        UNION ALL
        SELECT doc_id + 3500000, array_to_string(w, ' ') FROM br),
      cd AS (SELECT doc_id, text FROM standing
             UNION ALL SELECT doc_id, text FROM delta),
      shu AS (${shingleSetsSqlFrom("cd")}),
      pairsu AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM shu a JOIN shu b ON a.doc_id < b.doc_id
         AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(a.s || b.s)) >= 0.7),
      edgesu AS (SELECT id_a AS u, id_b AS v FROM pairsu
                 UNION SELECT id_b, id_a FROM pairsu),
      reachu(u, r) AS (
        SELECT u, u FROM edgesu
        UNION
        SELECT e.u, rr.r FROM edgesu e JOIN reachu rr ON e.v = rr.u),
      repu AS (SELECT u AS doc_id, MIN(r) AS rep FROM reachu GROUP BY u)
      SELECT doc_id AS node, rep AS cluster_id FROM repu ORDER BY node"""

  private def HTML_SHELL_SQL: String = htmlShellSql()

  /** q235/q237's shared fixture: every doc gets a messy URL
    * (case/www/default-port noise the generic extractor must normalize
    * away) and host d7 carries the spam appendix on every doc, with a
    * %97 background scatter across clean hosts. */
  private def hostFixture(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val marker = " click here buy now winner"
    Tables.load(s, dir, "documents").select($"doc_id",
      concat(lit("HTTP://WWW.D"), $"doc_id" % 41,
        lit(".Example:80/p/"), $"doc_id").as("url"),
      concat($"text", when($"doc_id" % 41 === 7 || $"doc_id" % 97 === 13,
        lit(marker)).otherwise(lit(" regular footer"))).as("page"))
      .withColumn("is_spam", instr($"page", lit(marker)) > 0)
  }


  /** The advanced-index gate shared by q238 (in-place advance) and q239
    * (streamed landing): all-pairs truth over C ∪ D1 ∪ D2 restricted to
    * D2-touching pairs — only reproducible if D1 truly became standing. */
  private def LSH_ADVANCE_ORACLE_SQL: String = s"""
      WITH cd AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 3000000, text || ' fresh crawl revision tag' FROM documents
        WHERE doc_id % 13 = 0
          AND len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 20
        UNION ALL
        SELECT doc_id + 4000000, text || '  ' FROM documents WHERE doc_id % 19 = 0
        UNION ALL
        SELECT doc_id + 5000000, text || ' fresh crawl revision tag v2' FROM documents
        WHERE doc_id % 13 = 0
          AND len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) >= 20
        UNION ALL
        SELECT doc_id + 6000000, text || '   ' FROM documents WHERE doc_id % 23 = 0),
      sh AS (${shingleSetsSqlKFrom(3, "cd")})
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / len(list_distinct(a.s || b.s)) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE (a.doc_id >= 5000000 OR b.doc_id >= 5000000)
        AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)) >= 0.5
      ORDER BY id_a, id_b"""

  /** The host-adjudication gate shared by q235 (inline rollup) and q237
    * (streamed maintenance): per-host counts, exact-ratio fraction, and
    * the ban verdict over the [[hostFixture]] corpus. */
  private def HOST_ROLLUP_ORACLE_SQL: String = """
      WITH d AS (
        SELECT doc_id,
               'd' || CAST(doc_id % 41 AS VARCHAR) || '.example' AS host,
               text || CASE WHEN doc_id % 41 = 7 OR doc_id % 97 = 13
                 THEN ' click here buy now winner'
                 ELSE ' regular footer' END AS page,
               CASE WHEN doc_id % 41 = 7 OR doc_id % 97 = 13
                 THEN 1 ELSE 0 END AS flagged
        FROM documents),
      r AS (
        SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(flagged) AS BIGINT) AS n_flagged,
               CAST(SUM(length(page)) AS BIGINT) AS sum_chars
        FROM d GROUP BY host)
      SELECT host, n_docs, n_flagged, sum_chars,
             CAST(n_flagged AS DOUBLE) / CAST(n_docs AS DOUBLE) AS flag_frac,
             CAST(n_flagged AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.5 AS banned
      FROM r ORDER BY host"""

  /** The archive-index identity gate shared by q231 (batch advance) and
    * q233 (streamed maintenance): every response record's identity from
    * the maintained index — doc id from the target URI, the payload
    * digest derived from the one shell definition, n_recs = 1 per doc (a
    * duplicated or dropped archive moves a count or a hash). */
  private def CDX_IDENTITY_ORACLE_SQL: String = """
      SELECT doc_id, CAST(1 AS INTEGER) AS n_recs,
             md5('HTTP/1.1 200 OK' || chr(13) || chr(10) ||
                 'Content-Type: text/html' || chr(13) || chr(10) ||
                 chr(13) || chr(10) || """ + HTML_SHELL_SQL + """) AS digest
      FROM documents ORDER BY doc_id"""

  /** The same shell over arbitrary id/text columns — q211 builds it
    * from the duplicate group's REPRESENTATIVE row. */
  private def htmlShellSql(id: String = "doc_id", text: String = "text"): String =
    s"""'<html><head><script>var x=' || CAST($id AS VARCHAR) ||
          ';</script><style>p {color:red}</style></head><body><h1>Doc ' ||
          CAST($id AS VARCHAR) || '</h1><!-- meta --><p id="t">' || $text ||
          ' &lt;tag&gt; &amp; fin</p></body></html>'"""

  private lazy val HTML_EXTRACT_ORACLE_SQL: String =
    htmlExtractOracleSql(
      "SELECT doc_id, " + HTML_SHELL_SQL + " AS h FROM documents")

  /** The full extraction chain over any `html(doc_id, h)` CTE body —
    * one definition of the rules behind the q193/q196/q205/q210/q211
    * gates. */
  private def htmlExtractOracleSql(htmlCte: String): String = """
      WITH html AS (
        """ + htmlCte + """),
      stripped AS (
        SELECT doc_id,
          regexp_extract(h, '<h1>(.*?)</h1>', 1) AS title,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(h, '(?s)<script\b[^>]*>.*?</script>', ' ', 'g'),
                    '(?s)<style\b[^>]*>.*?</style>', ' ', 'g'),
                  '(?s)<!--.*?-->', ' ', 'g'),
                '<[^>]*>', ' ', 'g'),
              '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
            '\s+', ' ', 'g')) AS clean
        FROM html)
      SELECT doc_id, title, CAST(length(clean) AS BIGINT) AS n_chars_clean,
             md5(clean) AS fp
      FROM stripped ORDER BY doc_id"""

  /** q196's wire fixture: every doc's shell serialized as an HTTP
    * response record into per-partition `.warc.gz` shards (per-record
    * gzip members, the spec shape), written ONCE per corpus content —
    * the [[IvfIndexCache]] memo discipline (bench repeats measure the
    * READ path, the lifecycle the row exists to show; the write is the
    * ingest job's cost). The scratch path must be task-writable shared
    * storage — trivially true on local[*]; a cluster deploy lands
    * shards on the lake exactly like a fetcher fleet does. */
  private val warcShards = new scala.collection.concurrent.TrieMap[String, String]()
  private def warcShardsFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    warcShards.getOrElseUpdate(
      dir + "@" + graft.sources.Layout.dirFingerprint(
        s, Tables.path(dir, "documents")), {
        val out = graft.Scratch.dir("graft_warc").toString
        // archive parallelism ≥ cores: every archive read path (q196/
        // q205/q210/q218) is one-task-per-archive by the per-record-gzip
        // contract, so fewer shards than cores makes the archive rows'
        // wall time noise-by-construction (r14's stalled-flag shape); a
        // real crawl has millions of shards — the fixture should too,
        // proportionally (empty partitions write nothing)
        val shards = math.max(1, s.sparkContext.defaultParallelism)
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), htmlShell(col("doc_id"), col("text")).as("h"))
          .repartition(shards, col("doc_id"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            if (it.hasNext) {
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val f = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$out/part-$pid.warc.gz"), 1 << 16)
              try it.foreach { r =>
                val id = r.getLong(0)
                val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
                  r.getString(1)).getBytes("UTF-8")
                f.write(graft.sources.Warc.gzipMember(
                  graft.sources.Warc.recordBytes("response",
                    s"http://docs.example/$id", "2026-08-15T00:00:00Z",
                    s"<urn:uuid:doc-$id>", "application/http;msgtype=response",
                    payload)))
              } finally f.close()
            }
          }
        out
      })

  /** q211's wire fixture: a crawl where every duplicate-group member
    * past the first is archived as a payload-less REVISIT record (the
    * identical-payload-digest profile) — groups of three share one
    * payload (the group representative's shell), so 2/3 of the archive
    * is revisit mass. Each revisit's digest is recomputed from the rep
    * shell carried on its own row — the writer needs no cross-row
    * lookup, exactly like a fetcher that hashes what it just fetched.
    * Memoized per corpus content (the [[warcShardsFor]] discipline). */
  private val revisitShards = new scala.collection.concurrent.TrieMap[String, String]()
  private def revisitShardsFor(s: org.apache.spark.sql.SparkSession,
      dir: String): String =
    revisitShards.getOrElseUpdate(
      dir + "@" + graft.sources.Layout.dirFingerprint(
        s, Tables.path(dir, "documents")), {
        val out = graft.Scratch.dir("graft_warc_rev").toString
        val shards = math.max(1, s.sparkContext.defaultParallelism) // see warcShardsFor
        val docs = Tables.load(s, dir, "documents")
        val reps = docs.select(col("doc_id").as("rep_id"), col("text").as("rtext"))
        docs.select(col("doc_id"),
            (col("doc_id") - pmod(col("doc_id"), lit(3))).as("rep_id"))
          .join(reps, "rep_id")
          .select(col("doc_id"), col("rep_id"),
            htmlShell(col("rep_id"), col("rtext")).as("h"))
          .repartition(shards, col("doc_id"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            if (it.hasNext) {
              val pid = org.apache.spark.TaskContext.getPartitionId()
              val f = new java.io.BufferedOutputStream(
                new java.io.FileOutputStream(s"$out/part-$pid.warc.gz"), 1 << 16)
              val md = java.security.MessageDigest.getInstance("MD5")
              try it.foreach { r =>
                val (id, rep, h) = (r.getLong(0), r.getLong(1), r.getString(2))
                val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + h)
                  .getBytes("UTF-8")
                val dg = "md5:" + md.digest(payload).map(x => f"$x%02x").mkString
                val rec =
                  if (id == rep) graft.sources.Warc.recordBytes("response",
                    s"http://docs.example/$id", "2026-08-16T00:00:00Z",
                    s"<urn:uuid:doc-$id>", "application/http;msgtype=response",
                    payload, Seq("WARC-Payload-Digest" -> dg))
                  else graft.sources.Warc.recordBytes("revisit",
                    s"http://docs.example/$id", "2026-08-16T00:00:00Z",
                    s"<urn:uuid:rev-$id>", "application/http;msgtype=response",
                    Array.emptyByteArray, Seq(
                      "WARC-Payload-Digest" -> dg,
                      "WARC-Refers-To-Target-URI" -> s"http://docs.example/$rep",
                      "WARC-Profile" ->
                        "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"))
                f.write(graft.sources.Warc.gzipMember(rec))
              } finally f.close()
            }
          }
        out
      })

  /** The from-scratch dataset-card oracle — q188's gate, and VERBATIM
    * q190's (merged partials must equal the whole-corpus card). Plain
    * (non-interpolated) string: '\s+' stays a single-backslash regex. */
  private lazy val DATASET_CARD_ORACLE_SQL: String = """
      WITH base AS (
        SELECT doc_id, source, lang, n_chars,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
               CAST(len(list_filter(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '),
                 x -> len(x) > 0)) AS BIGINT) AS n_tok
        FROM documents),
      dupf AS (SELECT fp FROM base GROUP BY fp HAVING COUNT(*) >= 2),
      flagged AS (
        SELECT b.source, b.lang,
               CASE WHEN d.fp IS NULL THEN 0 ELSE 1 END AS isdup,
               b.n_tok, b.n_chars
        FROM base b LEFT JOIN dupf d ON d.fp = b.fp)
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(isdup) AS BIGINT) AS n_dup_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM flagged GROUP BY 1, 2
      UNION ALL
      SELECT '__all', '__all', COUNT(*),
             CAST(SUM(isdup) AS BIGINT), CAST(SUM(n_tok) AS BIGINT),
             CAST(SUM(n_chars) AS BIGINT)
      FROM flagged
      ORDER BY source, lang"""

  /** q192's oracle: the FULL union closure (standing ∪ delta through the
    * q189 keep-one machinery) the incremental operator deliberately never
    * runs — a delta asset is kept iff it is a union survivor; every
    * standing touch (exact class, direct near pair, or a path through
    * the component graph) must therefore produce `kept = false`, and any
    * divergence between the incremental shape and the batch closure
    * breaks the row set. */
  private lazy val MM_DELTA_ORACLE_SQL: String = s"""
      WITH RECURSIVE
      u_ids AS (
        SELECT doc_id AS id, doc_id AS base, FALSE AS twin
        FROM documents WHERE doc_id % 3 <> 1
        UNION ALL
        SELECT 3000000 + 2*i, 3000000 + 2*i, FALSE FROM range(8) t(i)
        UNION ALL
        SELECT 3000000 + 2*i + 1, 3000000 + 2*i, TRUE FROM range(8) t(i)
        UNION ALL
        SELECT 6000000 + i, 3000000 + (i // 2) * 2, i % 2 = 1 FROM range(16) t(i)
        UNION ALL
        SELECT 7000000 + doc_id, 7000000 + doc_id, FALSE
        FROM documents WHERE doc_id % 5 = 2 AND doc_id % 3 <> 0),
      ${mmImageWideSql("u_")},
      ${mmKeepOneSql("u_")}
      SELECT i.id AS doc_id, s.id IS NOT NULL AS kept
      FROM u_ids i LEFT JOIN u_surv s ON s.id = i.id
      WHERE i.id >= 6000000
      ORDER BY doc_id"""

  /** q189's shared keep-one SQL per modality prefix, mirroring
    * [[graft.multimodal.MultimodalPipeline.card]]'s dropped-set rule:
    * identical-hash classes collapse to their rep (min id), rep-level
    * banded near pairs (hamming ≤ 3) close into components (recursive
    * CTE — the q182 shape), survivor = its component's overall min.
    * Expects `${p}wide(id, b0..b3)` upstream. */
  private def mmKeepOneSql(p: String): String = s"""
      ${p}classes AS (
        SELECT MIN(id) AS rep, b0, b1, b2, b3 FROM ${p}wide GROUP BY b0, b1, b2, b3),
      ${p}cb AS (
        SELECT rep, 0 AS j, b0 AS v FROM ${p}classes
        UNION ALL SELECT rep, 1, b1 FROM ${p}classes
        UNION ALL SELECT rep, 2, b2 FROM ${p}classes
        UNION ALL SELECT rep, 3, b3 FROM ${p}classes),
      ${p}cand AS (
        SELECT DISTINCT a.rep AS ra, b.rep AS rb
        FROM ${p}cb a JOIN ${p}cb b ON a.j = b.j AND a.v = b.v AND a.rep < b.rep),
      ${p}np AS (
        SELECT ra, rb FROM ${p}cand
        JOIN ${p}classes x ON x.rep = ra JOIN ${p}classes y ON y.rep = rb
        WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) <= 3),
      ${p}rp AS (SELECT ra AS u, rb AS v FROM ${p}np UNION SELECT rb, ra FROM ${p}np),
      ${p}reach(u, r) AS (
        SELECT u, u FROM ${p}rp
        UNION
        SELECT e.u, rr.r FROM ${p}rp e JOIN ${p}reach rr ON e.v = rr.u),
      ${p}comp AS (SELECT u, MIN(r) AS keeper FROM ${p}reach GROUP BY u),
      ${p}idrep AS (
        SELECT w.id, c.rep FROM ${p}wide w JOIN ${p}classes c
        ON c.b0 = w.b0 AND c.b1 = w.b1 AND c.b2 = w.b2 AND c.b3 = w.b3),
      ${p}surv AS (
        SELECT i.id FROM ${p}idrep i LEFT JOIN ${p}comp cp ON cp.u = i.rep
        WHERE i.id = i.rep AND i.rep = COALESCE(cp.keeper, i.rep))"""

  /** The DuckDB mirror of [[graft.text.UrlNormalize.canonicalUrl]] as a
    * CTE chain over a relation `src(doc_id, url)`, ending in
    * `canon(doc_id, canonical_url)` — shared by q145 (variant collapse)
    * and q194 (link extraction). Built by token replacement, NOT
    * interpolation: the chain carries `\1` backrefs and `\.` classes
    * that an s-interpolator would reject/mangle (the r12 backslash
    * rule). */
  /** The four surface forms one logical page arrives under in the crawl
    * fixtures (case/port/www/tracking/trailing-slash/param-order noise
    * that [[graft.text.UrlNormalize]] must collapse) — one definition
    * serving q194's harvest gate and q197's frontier gate. */
  private def urlVariant(g: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(v === 0, concat(lit("HTTPS://WWW.Site-"), g,
        lit(".com:443/Art/p"), g, lit("/?utm_source=x&z="), g,
        lit("&id="), g, lit("#top")))
      .when(v === 1, concat(lit("https://site-"), g,
        lit(".com/Art/p"), g, lit("?z="), g, lit("&id="), g,
        lit("&utm_campaign=y")))
      .when(v === 2, concat(lit("https://www.site-"), g,
        lit(".com/Art/p"), g, lit("?ref=rss&id="), g,
        lit("&z="), g))
      .otherwise(concat(lit("http://site-"), g,
        lit(".com:80/Art/p"), g, lit("?id="), g, lit("&z="), g))

  /** [[urlVariant]]'s DuckDB spelling, over column expressions. */
  private def urlVariantSqlCase(g: String, v: String): String = s"""CASE $v
            WHEN 0 THEN 'HTTPS://WWW.Site-'||$g||'.com:443/Art/p'||$g||'/?utm_source=x&z='||$g||'&id='||$g||'#top'
            WHEN 1 THEN 'https://site-'||$g||'.com/Art/p'||$g||'?z='||$g||'&id='||$g||'&utm_campaign=y'
            WHEN 2 THEN 'https://www.site-'||$g||'.com/Art/p'||$g||'?ref=rss&id='||$g||'&z='||$g
            ELSE 'http://site-'||$g||'.com:80/Art/p'||$g||'?id='||$g||'&z='||$g
          END"""

  private def urlCanonSqlFrom(src: String): String = """
      c0 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM __SRC__),
      c1 AS (SELECT doc_id, nofrag,
                    regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1) AS auth
             FROM c0),
      c2 AS (SELECT doc_id,
                    substr(nofrag, length(auth) + 1) AS rest,
                    regexp_replace(regexp_replace(lower(auth),
                      '^(https://[^/?]*):443$', '\1'),
                      '^(http://[^/?]*):80$', '\1') AS noport
             FROM c1),
      c3 AS (SELECT doc_id, rest,
                    regexp_replace(noport, '^([a-z][a-z0-9+.-]*://)www\.', '\1') AS nowww,
                    instr(rest, '?') AS qpos
             FROM c2),
      c4 AS (SELECT doc_id, nowww,
                    CASE WHEN qpos > 0 THEN substr(rest, 1, qpos - 1) ELSE rest END AS path0,
                    CASE WHEN qpos > 0 THEN substr(rest, qpos + 1) ELSE '' END AS query0
             FROM c3),
      c5 AS (SELECT doc_id, nowww,
                    CASE WHEN length(path0) > 1 AND path0 LIKE '%/'
                         THEN substr(path0, 1, length(path0) - 1) ELSE path0 END AS pathn,
                    array_to_string(list_sort([p FOR p IN string_split(query0, '&')
                      IF p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid|msclkid)=')]), '&') AS qnorm
             FROM c4),
      canon AS (SELECT doc_id,
                   nowww || pathn || CASE WHEN length(qnorm) > 0 THEN '?' || qnorm ELSE '' END AS canonical_url
            FROM c5)""".replace("__SRC__", src)

  /** The image aHash derivation (q111's px → wide pipeline) over
    * `${p}ids(id, base, twin[, …])` — shared by q189's image leg and
    * q192's standing ∪ delta union. Twin-aware ((0,0) xor). */
  private def mmImageWideSql(p: String): String = s"""
      ${p}px AS (
        SELECT id, x, y,
          CASE WHEN twin AND x = 0 AND y = 0
               THEN xor((base * CAST(1103515245 AS BIGINT) + x*12345
                         + y*CAST(2654435761 AS BIGINT)) & 16777215, 8421504)
               ELSE (base * CAST(1103515245 AS BIGINT) + x*12345
                     + y*CAST(2654435761 AS BIGINT)) & 16777215
          END AS rgb
        FROM ${p}ids, range(8) xs(x), range(8) ys(y)),
      ${p}g AS (
        SELECT id, (y*8 + x) AS pos,
               (((rgb >> 16) & 255) * 299 + ((rgb >> 8) & 255) * 587
                + (rgb & 255) * 114) // 1000 AS gray
        FROM ${p}px),
      ${p}mn AS (SELECT id, SUM(gray) // 64 AS mean FROM ${p}g GROUP BY id),
      ${p}bits AS (
        SELECT g.id, pos // 16 AS j,
               CASE WHEN gray > mean THEN (1 << (pos % 16)) ELSE 0 END AS bv
        FROM ${p}g g JOIN ${p}mn mn ON mn.id = g.id),
      ${p}bands AS (SELECT id, j, CAST(SUM(bv) AS BIGINT) AS v FROM ${p}bits GROUP BY 1, 2),
      ${p}wide AS (
        SELECT id,
               MAX(CASE WHEN j = 0 THEN v END) AS b0,
               MAX(CASE WHEN j = 1 THEN v END) AS b1,
               MAX(CASE WHEN j = 2 THEN v END) AS b2,
               MAX(CASE WHEN j = 3 THEN v END) AS b3
        FROM ${p}bands GROUP BY id)"""

  /** q189's per-modality one-row card SELECT over the prefix's CTEs. */
  private def mmCardRowSql(p: String, modality: String): String = s"""
      SELECT '$modality' AS modality,
             (SELECT COUNT(*) FROM ${p}ids) AS n_assets,
             (SELECT COUNT(*) FROM ${p}ids) - (SELECT COUNT(*) FROM ${p}surv) AS n_dropped,
             (SELECT COUNT(*) FROM ${p}surv) AS n_kept,
             (SELECT sum_stat FROM ${p}agg) AS sum_stat,
             (SELECT wsum_stat FROM ${p}agg) AS wsum_stat"""

  /** The q189 oracle: the q111/q156/q157 fingerprint derivations, the
    * shared keep-one closure, and the q184/q186/q187 augmentation
    * arithmetic restricted to survivors — all in one statement, three
    * one-row modality cards unioned. Twin-aware throughout (the CASE in
    * each sample/pixel/luma CTE), so the oracle stays correct for ANY
    * survivor set the closure selects. */
  // lazy: declared below `defs`, which captures it at object init
  private lazy val MM_PIPELINE_ORACLE_SQL: String = s"""
      WITH RECURSIVE
      i_ids AS (
        SELECT doc_id AS id, doc_id AS base, FALSE AS twin,
               CAST(8 + doc_id % 9 AS BIGINT) AS w,
               CAST(8 + (doc_id // 9) % 7 AS BIGINT) AS h
        FROM documents WHERE doc_id % 3 <> 1
        UNION ALL
        SELECT 3000000 + 2*i, 3000000 + 2*i, FALSE, 8, 8 FROM range(8) t(i)
        UNION ALL
        SELECT 3000000 + 2*i + 1, 3000000 + 2*i, TRUE, 8, 8 FROM range(8) t(i)),
      ${mmImageWideSql("i_")},
      ${mmKeepOneSql("i_")},
      i_par AS (
        SELECT d.id, d.base, d.twin, d.w, d.h,
               CAST(('0x' || substr(md5('augf:ep3:' || CAST(d.id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 1 AS flip,
               CAST(('0x' || substr(md5('augx:ep3:' || CAST(d.id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS ox,
               CAST(('0x' || substr(md5('augy:ep3:' || CAST(d.id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS oy
        FROM i_ids d JOIN i_surv s ON s.id = d.id),
      i_gx AS (SELECT *, unnest(range(w - 2)) AS x FROM i_par),
      i_gxy AS (SELECT *, unnest(range(h - 2)) AS y FROM i_gx),
      i_src AS (
        SELECT id, base, twin, x, y,
               CASE WHEN flip THEN ox + (w - 3 - x) ELSE ox + x END AS sx,
               oy + y AS sy
        FROM i_gxy),
      i_v AS (
        SELECT id, x, y,
          CASE WHEN twin AND sx = 0 AND sy = 0
               THEN xor((base * CAST(1103515245 AS BIGINT) + sx*12345
                         + sy*CAST(2654435761 AS BIGINT)) & 16777215, 8421504)
               ELSE (base * CAST(1103515245 AS BIGINT) + sx*12345
                     + sy*CAST(2654435761 AS BIGINT)) & 16777215
          END AS rgb
        FROM i_src),
      i_agg AS (
        SELECT CAST(SUM(s3) AS BIGINT) AS sum_stat,
               CAST(SUM((131*x + y) * s3) AS BIGINT) AS wsum_stat
        FROM (SELECT x, y, (rgb // 65536) + ((rgb // 256) % 256) + (rgb % 256) AS s3
              FROM i_v)),
      a_ids AS (
        SELECT doc_id AS id, doc_id AS base, FALSE AS twin
        FROM documents WHERE doc_id % 3 <> 2
        UNION ALL
        SELECT 4000000 + 2*i, 4000000 + 2*i, FALSE FROM range(8) t(i)
        UNION ALL
        SELECT 4000000 + 2*i + 1, 4000000 + 2*i, TRUE FROM range(8) t(i)),
      a_v AS (
        SELECT id, t.t AS t, twin,
               (base * CAST(1103515245 AS BIGINT) + t.t * 12345) & 65535 AS v
        FROM a_ids, range(520) t(t)),
      a_smp AS (
        SELECT id, t,
               CASE WHEN twin AND t = 0 THEN 0
                    ELSE (((v * v) >> 8) & 65535) - 32768
               END AS s
        FROM a_v),
      a_en AS (SELECT id, t // 8 AS w, SUM(CAST(s AS BIGINT) * s) AS e
               FROM a_smp GROUP BY 1, 2),
      a_bits AS (
        SELECT a.id, (a.w - 1) // 16 AS j,
               CASE WHEN a.e > b.e THEN (1 << CAST((a.w - 1) % 16 AS INTEGER)) ELSE 0 END AS bv
        FROM a_en a JOIN a_en b ON b.id = a.id AND b.w = a.w - 1
        WHERE a.w >= 1),
      a_bands AS (SELECT id, j, CAST(SUM(bv) AS BIGINT) AS v FROM a_bits GROUP BY 1, 2),
      a_wide AS (
        SELECT id,
               MAX(CASE WHEN j = 0 THEN v END) AS b0,
               MAX(CASE WHEN j = 1 THEN v END) AS b1,
               MAX(CASE WHEN j = 2 THEN v END) AS b2,
               MAX(CASE WHEN j = 3 THEN v END) AS b3
        FROM a_bands GROUP BY id),
      ${mmKeepOneSql("a_")},
      a_par AS (
        SELECT d.id,
               CAST(('0x' || substr(md5('auga:ep3:' || CAST(d.id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 + 1 AS gain,
               CAST(('0x' || substr(md5('augo:ep3:' || CAST(d.id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS off
        FROM a_ids d JOIN a_surv s ON s.id = d.id),
      a_pj AS (SELECT p.id, p.gain, p.off, j.j AS j FROM a_par p, range(516) j(j)),
      a_aug AS (
        SELECT pj.id, pj.j,
               GREATEST(-32767, LEAST(32767, sm.s * pj.gain)) AS g
        FROM a_pj pj JOIN a_smp sm ON sm.id = pj.id AND sm.t = pj.off + pj.j),
      a_agg AS (
        SELECT CAST(SUM(ABS(g)) AS BIGINT) AS sum_stat,
               CAST(SUM(131 * j * g) AS BIGINT) AS wsum_stat
        FROM a_aug),
      v_ids AS (
        SELECT doc_id AS id, doc_id AS base, FALSE AS twin
        FROM documents WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT 5000000 + 2*i, 5000000 + 2*i, FALSE FROM range(8) t(i)
        UNION ALL
        SELECT 5000000 + 2*i + 1, 5000000 + 2*i, TRUE FROM range(8) t(i)),
      v_v AS (
        SELECT id, i.i // 64 AS f, twin,
               (base * CAST(1103515245 AS BIGINT) + i.i * 12345) & 65535 AS v
        FROM v_ids, range(4160) i(i)),
      v_lum AS (
        SELECT id, f,
               SUM(CASE WHEN twin AND f = 0 THEN 0
                        ELSE ((v * v) >> 8) & 255 END) AS luma
        FROM v_v GROUP BY 1, 2),
      v_bits AS (
        SELECT a.id, a.f // 16 AS j,
               CASE WHEN b.luma > a.luma
                    THEN (1 << CAST(a.f % 16 AS INTEGER)) ELSE 0 END AS bv
        FROM v_lum a JOIN v_lum b ON b.id = a.id AND b.f = a.f + 1
        WHERE a.f < 64),
      v_bands AS (SELECT id, j, CAST(SUM(bv) AS BIGINT) AS v FROM v_bits GROUP BY 1, 2),
      v_wide AS (
        SELECT id,
               MAX(CASE WHEN j = 0 THEN v END) AS b0,
               MAX(CASE WHEN j = 1 THEN v END) AS b1,
               MAX(CASE WHEN j = 2 THEN v END) AS b2,
               MAX(CASE WHEN j = 3 THEN v END) AS b3
        FROM v_bands GROUP BY id),
      ${mmKeepOneSql("v_")},
      v_par AS (
        SELECT d.id,
               CAST(('0x' || substr(md5('vauo:ep3:' || CAST(d.id AS VARCHAR)), 1, 15)) AS BIGINT) % 3 AS o,
               CAST(('0x' || substr(md5('vauk:ep3:' || CAST(d.id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 + 1 AS k
        FROM v_ids d JOIN v_surv s ON s.id = d.id),
      v_aug AS (
        SELECT p.id, (l.f - p.o) // p.k AS j, l.luma
        FROM v_par p JOIN v_lum l ON l.id = p.id
        WHERE l.f >= p.o AND (l.f - p.o) % p.k = 0),
      v_agg AS (
        SELECT CAST(SUM(luma) AS BIGINT) AS sum_stat,
               CAST(SUM(j * luma) AS BIGINT) AS wsum_stat
        FROM v_aug)
      SELECT * FROM (
        ${mmCardRowSql("i_", "image")}
        UNION ALL
        ${mmCardRowSql("a_", "audio")}
        UNION ALL
        ${mmCardRowSql("v_", "video")})
      ORDER BY modality"""

  /** The documents corpus as a JSONL landing, written once per
    * (corpus, content-fingerprint) per process — q172's import source
    * and the q98 memoized-landing discipline. */
  def jsonlDocs(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val fp = graft.sources.Layout.dirFingerprint(s, Tables.path(dir, "documents"))
    jsonl.getOrElseUpdate(s"$dir@$fp", {
      val path = graft.Scratch.dir("graft_jsonl").toString
      Tables.load(s, dir, "documents").coalesce(4)
        .write.mode("overwrite").json(path)
      path
    })
  }
  private val jsonl = scala.collection.concurrent.TrieMap.empty[String, String]

  /** The q127 oracle: `nMerges` unrolled BPE rounds. Symbol sequences
    * travel as double-delimited strings ("||" + join(syms, "||") + "||");
    * `replace(s, '\|L\|\|R\|', '\|LR\|')` (native, non-regex) applies one
    * merge with EXACT Bpe.applyMerge semantics — see the q127 comment. */
  /** The q135 oracle: q127's proven training CTEs (same rounds, same
    * double-delimiter merge application) + the corpus word stream joined
    * to the segmented vocabulary — per-doc counts and the
    * position-weighted segment fingerprint. */
  private def bpeEncodeOracleSql(nMerges: Int): String = {
    def applyCte(src: String, dst: String, m: Int) = s"""
      $dst AS (
        SELECT w, cnt,
               replace(syms,
                 '|' || (SELECT a FROM m$m) || '||' || (SELECT b FROM m$m) || '|',
                 '|' || (SELECT a FROM m$m) || (SELECT b FROM m$m) || '|') AS syms
        FROM $src)"""
    val rounds = (1 to nMerges).map { r =>
      s"""
      p$r AS (
        SELECT p.a, p.b, SUM(cnt) AS n FROM (
          SELECT cnt, unnest([{'a': s[i], 'b': s[i+1]} FOR i IN range(1, len(s))]) AS p
          FROM (SELECT cnt,
                  list_filter(string_split(syms, '||'), x -> x <> '') AS s
                FROM w${r - 1})) t
        GROUP BY 1, 2 HAVING SUM(cnt) >= 2),
      m$r AS (SELECT a, b FROM p$r ORDER BY n DESC, a, b LIMIT 1),${applyCte(s"w${r - 1}", s"w$r", r)}"""
    }.mkString(",")
    s"""
      WITH docs AS (
        SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g') AS text
        FROM documents),
      words AS (
        SELECT w, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS w
          FROM docs) t
        WHERE len(w) > 0 GROUP BY 1),
      w0 AS (
        SELECT w, cnt,
               '||' || array_to_string(
                 list_append([substr(w, i, 1) FOR i IN range(1, len(w) + 1)], '</w>'),
                 '||') || '||' AS syms
        FROM words),$rounds,
      seg AS (
        SELECT w,
               array_to_string(list_filter(string_split(syms, '||'), x -> x <> ''), ' ') AS seg,
               len(list_filter(string_split(syms, '||'), x -> x <> '')) AS n_tok
        FROM w$nMerges),
      stream AS (
        SELECT doc_id, p, w FROM (
          SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS p
          FROM (SELECT doc_id,
                  string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS ws
                FROM docs) t1) t2
        WHERE len(w) > 0)
      SELECT s.doc_id, CAST(COUNT(*) AS INTEGER) AS n_words,
             CAST(SUM(g.n_tok) AS INTEGER) AS n_subwords,
             CAST(SUM(s.p * (CAST(('0x' || substr(md5(g.seg), 1, 15)) AS BIGINT) % 1000003)) AS BIGINT) AS fp
      FROM stream s JOIN seg g USING (w)
      GROUP BY 1 ORDER BY s.doc_id"""
  }

  private def bpeOracleSql(nMerges: Int): String = {
    def applyCte(src: String, dst: String, m: Int) = s"""
      $dst AS (
        SELECT w, cnt,
               replace(syms,
                 '|' || (SELECT a FROM m$m) || '||' || (SELECT b FROM m$m) || '|',
                 '|' || (SELECT a FROM m$m) || (SELECT b FROM m$m) || '|') AS syms
        FROM $src)"""
    val rounds = (1 to nMerges).map { r =>
      s"""
      p$r AS (
        SELECT p.a, p.b, SUM(cnt) AS n FROM (
          SELECT cnt, unnest([{'a': s[i], 'b': s[i+1]} FOR i IN range(1, len(s))]) AS p
          FROM (SELECT cnt,
                  list_filter(string_split(syms, '||'), x -> x <> '') AS s
                FROM w${r - 1})) t
        GROUP BY 1, 2 HAVING SUM(cnt) >= 2),
      m$r AS (SELECT a, b FROM p$r ORDER BY n DESC, a, b LIMIT 1),${applyCte(s"w${r - 1}", s"w$r", r)}"""
    }.mkString(",")
    val holdRounds = (1 to nMerges)
      .map(r => "," + applyCte(s"h${r - 1}", s"h$r", r)).mkString
    s"""
      WITH docs AS (
        SELECT regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g') AS text
        FROM documents),
      words AS (
        SELECT w, COUNT(*) AS cnt FROM (
          SELECT unnest(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ')) AS w
          FROM docs) t
        WHERE len(w) > 0 GROUP BY 1),
      w0 AS (
        SELECT w, cnt,
               '||' || array_to_string(
                 list_append([substr(w, i, 1) FOR i IN range(1, len(w) + 1)], '</w>'),
                 '||') || '||' AS syms
        FROM words),$rounds,
      hold AS (SELECT w, cnt FROM words ORDER BY cnt DESC, w LIMIT 5),
      h0 AS (
        SELECT w, cnt, '||' || array_to_string(
                 list_append([substr(w, i, 1) FOR i IN range(1, len(w) + 1)], '</w>'),
                 '||') || '||' AS syms
        FROM hold)$holdRounds
      SELECT item, value FROM (
        ${(1 to nMerges).map(r =>
          s"SELECT 'merge:$r' AS item, (SELECT a || '+' || b FROM m$r) AS value").mkString("\n        UNION ALL ")}
        UNION ALL
        SELECT 'seg:' || w AS item,
               array_to_string(list_filter(string_split(syms, '||'), x -> x <> ''), ' ') AS value
        FROM h$nMerges) t
      ORDER BY item"""
  }

  /** The q125 oracle: the whole corpus-preparation chain recomposed in
    * DuckDB from the proven per-stage fragments — q27's fingerprint
    * dedup, q101's segmentation/hot-set/reassembly (minDocs=4), q48/q59's
    * gates on the CLEANED text, q58's gram semi-join against the %97
    * benchmark, q30+q69's exact-Jaccard pairs + recursive-CTE closure,
    * and q60's packing arithmetic. A drift in any stage's column
    * contract, ordering, or text handling breaks the hash. */
  private def corpusPipelineOracleSql: String = s"""
      WITH RECURSIVE corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text || '  ' FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + 1200000, text || ' near duplicate copy tag'
        FROM documents WHERE doc_id % 17 = 0
        UNION ALL
        SELECT doc_id + 1400000, '$PIPELINE_HEADER' || ' ' || text
        FROM documents WHERE doc_id % 13 = 0),
      ded AS (
        SELECT MIN(doc_id) AS doc_id, min_by(text, doc_id) AS text
        FROM corpus
        GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
      tk AS (
        SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' '),
                           x -> len(x) > 0) AS toks
        FROM ded),
      seg AS (
        SELECT doc_id, u.i AS seg_i, u.seg AS seg FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   generate_series(0, CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1),
                   i -> {'i': i,
                         'seg': array_to_string(list_slice(toks, i*8+1, i*8+8), ' ')})) AS u
          FROM tk WHERE len(toks) > 0)),
      hot AS (SELECT md5(lower(seg)) AS h FROM seg
              GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 4),
      cleaned AS (
        SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_i) AS text
        FROM seg WHERE md5(lower(seg)) NOT IN (SELECT h FROM hot)
        GROUP BY 1),
      r3 AS (${shingleSetsSqlFrom("cleaned")}),
      gate AS (
        SELECT c.doc_id, c.text,
               length(c.text) AS n_chars,
               CAST(length(regexp_replace(c.text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                 / length(c.text) AS alpha,
               len(string_split(trim(regexp_replace(lower(c.text), '\\s+', ' ', 'g')), ' ')) AS nw,
               len(r3.s) AS d3
        FROM cleaned c JOIN r3 ON c.doc_id = r3.doc_id),
      gated AS (
        SELECT doc_id, text FROM gate
        WHERE n_chars >= 50 AND alpha >= 0.5
          AND (CASE WHEN nw < 3 THEN 0.0
                    ELSE 1.0 - CAST(d3 AS DOUBLE) / (nw - 2) END) <= 0.5),
      bsh AS (${shingleSetsSqlKFrom(8,
        "(SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0)")}),
      bgrams AS (SELECT DISTINCT unnest(s) AS g FROM bsh),
      dsh AS (${shingleSetsSqlKFrom(8, "gated")}),
      bad AS (SELECT DISTINCT t.doc_id
              FROM (SELECT doc_id, unnest(s) AS g FROM dsh) t JOIN bgrams USING (g)),
      surv AS (SELECT doc_id, text FROM gated
               WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
      s3 AS (${shingleSetsSqlFrom("surv")}),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s3 a JOIN s3 b ON a.doc_id < b.doc_id
         AND len(a.s) * 0.7 <= len(b.s) AND len(b.s) * 0.7 <= len(a.s)
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                / len(list_distinct(a.s || b.s)) >= 0.7),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      reach(u, r) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, rr.r FROM edges e JOIN reach rr ON e.v = rr.u),
      comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
      uniq AS (
        SELECT s.doc_id, s.text FROM surv s LEFT JOIN comp c ON s.doc_id = c.doc_id
        WHERE c.cluster_id IS NULL OR s.doc_id = c.cluster_id),
      packed AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok,
               CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard
        FROM uniq)
      SELECT doc_id, shard, n_tok,
             CAST(floor((SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id) - n_tok) / 512.0) AS BIGINT) AS seq_id
      FROM packed ORDER BY doc_id"""

  /** The q126 oracle: the EXACT legs (brute cosine over the q46/q83 IVF
    * corpus; exact MAXDF-capped tf-idf cosine over documents +
    * PLANTED_HYBRID_DOCS) fused by the same RRF arithmetic — so the hash
    * match is simultaneously a rank gate on the IVF+PQ shortlist and on
    * the sparse inverted-index leg. */
  private def hybridIndexedOracleSql: String = {
    val values = PLANTED_HYBRID_DOCS
      .map { case (id, text) => s"($id, '$text')" }.mkString(", ")
    s"""
      WITH e AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + m.m * 1000000,
               list_transform(embedding, x -> CAST(x * (1 << m.m) AS FLOAT))
        FROM embeddings, (SELECT unnest(range(1, 6)) AS m) m
        WHERE vec_id < 5),
      dens AS (
        SELECT q_id, n_id, rk FROM (
          SELECT q.vec_id AS q_id, e.vec_id AS n_id,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
                            e.vec_id) AS rk
          FROM embeddings q JOIN e ON q.vec_id <> e.vec_id
          WHERE q.vec_id < 5)
        WHERE rk <= 5),
      alldocs AS (SELECT doc_id, text FROM documents
                  UNION ALL
                  SELECT * FROM (VALUES $values) AS planted(doc_id, text)),
      toks AS (SELECT doc_id AS d,
                      unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
               FROM alldocs),
      tf AS (SELECT d, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      n AS (SELECT COUNT(*) AS n FROM alldocs),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 100),
      w AS (SELECT d, tf.tok, tf.tf, ln(CAST(n.n AS DOUBLE) / df.df) AS lnidf
            FROM tf JOIN df USING (tok) CROSS JOIN n),
      norm AS (SELECT d,
                      CAST(SUM(CAST(floor(tf * tf * lnidf * lnidf * 1e6) AS BIGINT)) AS BIGINT) AS n2_u
               FROM w GROUP BY 1),
      p AS (SELECT a.d AS q, b.d AS c,
                   CAST(SUM(CAST(floor(a.tf * b.tf * a.lnidf * a.lnidf * 1e6) AS BIGINT)) AS BIGINT) AS num_u
            FROM w a JOIN w b USING (tok)
            WHERE a.d >= 6000000 AND a.d <> b.d GROUP BY 1, 2),
      sc AS (SELECT q, c,
                    CAST(floor(CAST(num_u AS DOUBLE) /
                      (sqrt(CAST(na.n2_u AS DOUBLE)) * sqrt(CAST(nb.n2_u AS DOUBLE))) * 1e6) AS BIGINT) AS score_u
             FROM p JOIN norm na ON na.d = p.q JOIN norm nb ON nb.d = p.c),
      lex AS (
        SELECT q - 6000000 AS q_id, c AS n_id, rk FROM (
          SELECT q, c, ROW_NUMBER() OVER (PARTITION BY q ORDER BY score_u DESC, c) AS rk
          FROM sc)
        WHERE rk <= 5),
      fused AS (
        SELECT COALESCE(l.q_id, d.q_id) AS q_id,
               COALESCE(l.n_id, d.n_id) AS n_id,
               COALESCE(1.0 / (60.0 + l.rk), 0.0)
                 + COALESCE(1.0 / (60.0 + d.rk), 0.0) AS rrf
        FROM lex l FULL OUTER JOIN dens d
          ON l.q_id = d.q_id AND l.n_id = d.n_id)
      SELECT q_id, CAST(rk AS INTEGER) AS rk, n_id, rrf FROM (
        SELECT q_id, n_id, rrf,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id) AS rk
        FROM fused)
      WHERE rk <= 5 ORDER BY q_id, rk"""
  }

  /** The unrolled k-means round CTEs (shared by the q108 and q115
    * oracles) — one (a_r, c_r) pair per round over a `pts`(id, pos, q) /
    * `c0`(j, pos, c) prologue the caller supplies; assignment = per-id
    * argmin with the (dist, j) tie-break, update = integer mean with
    * COALESCE-from-previous for empty clusters (KMeansInt's keep-old
    * semantics). Round shape is independent of k — k enters only through
    * the caller's c0. */
  private[ops] def kmeansRoundCtes(iters: Int): String = {
    (1 to iters).map { r =>
      s"""      a$r AS (
        SELECT id, j FROM (
          SELECT p.id, c.j, ROW_NUMBER() OVER (PARTITION BY p.id
              ORDER BY SUM((p.q - c.c)*(p.q - c.c)), c.j) AS rk
          FROM pts p JOIN c${r - 1} c ON p.pos = c.pos
          GROUP BY p.id, c.j) WHERE rk = 1),
      c$r AS (
        SELECT prev.j, prev.pos, COALESCE(n.c, prev.c) AS c
        FROM c${r - 1} prev LEFT JOIN (
          SELECT a.j, p.pos, SUM(p.q) // COUNT(*) AS c
          FROM a$r a JOIN pts p ON p.id = a.id
          GROUP BY a.j, p.pos) n
        ON n.j = prev.j AND n.pos = prev.pos)"""
    }.mkString(",\n")
  }

  /** The pts + c0 prologue for a k-means oracle over `srcSql` (a relation
    * with (vec_id, embedding)). Seeds = the k smallest ids BY RANK (the
    * operator's actual rule: `orderBy(id).limit(k)` mapped to indexes by
    * sort rank) — NOT `id < k`, which only coincides when ids are
    * contiguous from 0; `kExpr` may be any scalar SQL expression. */
  private[ops] def kmeansPrologCtes(srcSql: String, kExpr: String): String =
    s"""pts AS (
        SELECT id, u.i - 1 AS pos, u.q FROM (
          SELECT vec_id AS id, unnest(list_transform(embedding,
            (x, i) -> {'i': i,
                       'q': CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)})) AS u
          FROM ($srcSql))),
      c0 AS (
        SELECT CAST(rk - 1 AS INTEGER) AS j, pos, q AS c FROM (
          SELECT id, pos, q, DENSE_RANK() OVER (ORDER BY id) AS rk FROM pts)
        WHERE rk <= ($kExpr))"""

  private def kmeansOracleSql(k: Int, iters: Int): String = {
    s"""
      WITH ${kmeansPrologCtes("SELECT vec_id, embedding FROM embeddings", k.toString)},
${kmeansRoundCtes(iters)}
      SELECT CAST(a.j AS INTEGER) AS cluster, e.label, COUNT(*) AS n, nrm.c_norm1
      FROM a$iters a
      JOIN embeddings e ON e.vec_id = a.id
      JOIN (SELECT j, CAST(SUM(ABS(c)) AS BIGINT) AS c_norm1
            FROM c$iters GROUP BY j) nrm ON nrm.j = a.j
      GROUP BY 1, 2, 4 ORDER BY 1, 2"""
  }

  /** The q115 oracle: the same planted-paraphrase union, the same
    * integer k-means rounds (k = GREATEST(5, ⌊√n⌋) as a scalar
    * subquery — IEEE sqrt is correctly rounded, so both engines compute
    * the identical k at any sf), then the within-cluster smaller-id
    * dominance rule
    * as a pair join + NOT IN. Equivalent to the operator's exact-collapse
    * form: every byte-identical group's minimum is its representative, so
    * "dominated by a smaller id" and "non-rep, or rep dominated by a
    * smaller rep" decide identically. */
  private def semanticDedupOracleSql: String = {
    val src = """SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000,
               list_transform(embedding,
                 x -> CAST(x * CAST(1.015625 AS DOUBLE) AS FLOAT))
        FROM embeddings WHERE vec_id % 9 = 0"""
    s"""
      WITH ${kmeansPrologCtes(src,
        "SELECT GREATEST(5, CAST(FLOOR(SQRT(COUNT(DISTINCT id))) AS BIGINT)) FROM pts")},
${kmeansRoundCtes(2)},
      src AS ($src),
      v AS (
        SELECT s.vec_id AS id, s.embedding AS emb, a.j AS cluster
        FROM src s JOIN a2 a ON a.id = s.vec_id),
      dom AS (
        SELECT DISTINCT y.id
        FROM v x JOIN v y ON x.cluster = y.cluster AND x.id < y.id
        WHERE list_cosine_similarity(x.emb, y.emb) > 0.95)
      SELECT v.id, CAST(v.cluster AS INTEGER) AS cluster,
             v.id NOT IN (SELECT id FROM dom) AS kept
      FROM v ORDER BY v.id"""
  }

  /** Planted term-group documents for q90: 8 groups × 4 docs on unique
    * group vocabularies (df ≤ 4 ≤ maxDf, zero cross-group overlap). The
    * j-th doc of a group repeats the 3-token core j+2 times and adds two
    * unique tokens — distinct tf mixes, so within-group cosines differ
    * and the top-k ranking is non-trivial. Plain lowercase ⇒ safe as SQL
    * string literals. (lazy: declared below the `defs` val that captures
    * it — the closure runs at query time, but the oracle-SQL branch
    * interpolates it during `defs` initialization.) */
  private lazy val PLANTED_MLT_DOCS: Seq[(Long, String)] =
    (for { g <- 0 until 8; j <- 0 until 4 } yield {
      val core = s"g${g}xa g${g}xb g${g}xc"
      val text = (Seq.fill(j + 2)(core) :+ s"g${g}u$j g${g}v$j").mkString(" ")
      (1000000L + g * 4 + j, text)
    })
}
