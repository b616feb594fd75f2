package graft.text

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the step
  * between q55's frequency vocabulary and an actual subword tokenizer
  * (the Sennrich ACL'16 algorithm every GPT/Llama-family tokenizer
  * descends from): repeatedly merge the most frequent adjacent symbol
  * pair until `nMerges` merges are learned.
  *
  * Scale design — iterate on the WORD TABLE, never the corpus: the
  * corpus collapses once into (word, count) — one linear shuffle, result
  * bounded by the VOCABULARY (Heaps-law sublinear in corpus size, ~10⁷
  * rows for a web corpus — a small Spark table, an impossible driver
  * object). The pair-count table is STATE, built once from the full word
  * table and then delta-maintained per merge round (the
  * [[graft.ops.IncrementalAgg]] retraction discipline): a merge touches
  * only the words that CONTAIN the merged pair — a vanishing fraction of
  * the vocabulary — so each round (a) filters the word table to those
  * words (a scan, no shuffle), (b) emits count retractions for their old
  * pair windows and insertions for the new ones (a delta-sized
  * aggregation), (c) folds the delta into the pair state with one
  * pair-keyed join, (d) pulls a 1-ROW argmax to the driver (the only
  * thing that ever leaves the cluster), (e) rewrites the word table with
  * a per-row merge map. Without the delta maintenance, a 10⁷-word
  * vocabulary × 32k merges would re-aggregate ALL pairs 32k times; with
  * it, round cost tracks pair rarity. Both iterating tables cache per
  * round with a lineage cut every 3rd round ([[graft.ops.Lineage]]; a
  * `checkpointDir` stays the session's checkpoint dir).
  *
  * Determinism: ties on pair count break lexicographically, so the
  * learned merge list is a pure function of the corpus on any engine —
  * same contract as the md5 Sampling family.
  */
object Bpe {

  /** One learned merge: the adjacent symbol pair, in order. */
  final case class Merge(left: String, right: String)

  /** End-of-word marker (Sennrich convention): "est" inside a word and
    * word-final "est&lt;/w&gt;" learn separate merges. */
  val EndOfWord = "</w>"

  /** Per-round training telemetry: the merged pair, how many vocabulary
    * words contained it (= the delta recount's input size), and the
    * vocabulary size — lets tests and monitors verify the incremental
    * claim (affected ≪ total after the table settles). */
  final case class RoundStats(merge: Merge, affectedWords: Long, totalWords: Long)

  /** Learn `nMerges` merges from the corpus. Stops early when no pair
    * occurs twice. `onRound` (tests/monitoring) receives per-round stats
    * — it costs one extra count job per round, so leave it None in
    * production runs. */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
      checkpointDir: Option[String] = None,
      onRound: Option[RoundStats => Unit] = None): Seq[Merge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // corpus -> (word, count): the ONE corpus-sized pass
    val words = docs
      .select(explode(split(TextAnalysis.normalize(col(textCol)), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    // word -> initial symbol sequence (chars + the end-of-word marker)
    // (syms, count) tuples: codegen-friendly encoders, no private types
    var wt: Dataset[(Seq[String], Long)] = words.as[(String, Long)]
      .map { case (w, c) => ((w.map(_.toString).toList :+ EndOfWord): Seq[String], c) }
      .persist()
    val totalWords = wt.count() // materialize before the loop

    // adjacent pair windows of a word-table slice, each weighted sign*cnt
    def pairsOf(ds: Dataset[(Seq[String], Long)], sign: Long) =
      ds.flatMap { case (syms, cnt) =>
        syms.sliding(2).collect { case Seq(a, b) => ((a, b), sign * cnt) } }

    // the pair-count STATE: one full aggregation here, deltas ever after
    var pc: Dataset[((String, String), Long)] =
      pairsOf(wt, 1L).groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
        .persist()
    pc.count()

    // leak-free cache rotation: persist the successor, materialize it,
    // then drop the predecessor; on checkpoint rounds the pre-checkpoint
    // CacheManager entry is unpersisted too (the checkpoint data lives in
    // checkpoint files / RDD blocks, not in that cache entry)
    def rotate[T](mapped: Dataset[T], doCheckpoint: Boolean): Dataset[T] =
      if (doCheckpoint) {
        val cp = graft.ops.Lineage.cut(mapped, checkpointDir)
        mapped.unpersist()
        cp
      } else { mapped.count(); mapped }

    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      // the 1-row argmax over the STATE (count desc, then lexicographic)
      val best = pc.toDF("pair", "n").filter(col("n") >= 2)
        .orderBy(col("n").desc, col("pair._1"), col("pair._2"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val p = best(0).getStruct(0)
        val m = Merge(p.getString(0), p.getString(1))
        merges += m
        // Planning the typed rounds' growing plan doubles each un-cut
        // round (measured round walls 1.2, 1.3, 1.7, 2.8, 5.1, 9.2 s on a
        // 16-word corpus), so lineage is cut every 3rd round, which keeps
        // rounds near the first one's cost; never after the last round,
        // whose tables only get unpersisted.
        val ckpt = (round + 1) % 3 == 0 && round + 1 < nMerges
        // delta recount: ONLY the words containing the merged pair —
        // retract their old pair windows, insert their post-merge ones
        val affected = wt.filter { case (syms, _) => containsPair(syms, m) }
        onRound.foreach(f => f(RoundStats(m, affected.count(), totalWords)))
        val delta = pairsOf(affected, -1L)
          .union(pairsOf(
            affected.map { case (s, c) => (applyMerge(s, m): Seq[String], c) }, 1L))
          .groupByKey(_._1).mapValues(_._2).reduceGroups(_ + _)
          .filter(_._2 != 0L)
        // fold the delta into the state: one pair-keyed outer join,
        // delta-sized on one side; pairs whose count hits zero leave
        val prevPc = pc
        val nextPc = prevPc.toDF("pair", "n")
          .join(delta.toDF("pair", "dn"), Seq("pair"), "full_outer")
          .select(col("pair").as("_1"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("_2"))
          .filter(col("_2") > 0)
          .as[((String, String), Long)]
          .persist()
        pc = rotate(nextPc, ckpt)
        prevPc.unpersist()
        // per-row merge map over the word table (scan, no shuffle)
        val prevWt = wt
        val mappedWt = prevWt
          .map { case (syms, cnt) => (applyMerge(syms, m): Seq[String], cnt) }
          .persist()
        wt = rotate(mappedWt, ckpt)
        prevWt.unpersist()
      }
      round += 1
    }
    wt.unpersist()
    pc.unpersist()
    merges.toSeq
  }

  /** Does the symbol sequence contain the pair adjacently? */
  private def containsPair(syms: Seq[String], m: Merge): Boolean = {
    var i = 0
    while (i + 1 < syms.length) {
      if (syms(i) == m.left && syms(i + 1) == m.right) return true
      i += 1
    }
    false
  }

  /** One left-to-right pass replacing every non-overlapping adjacent
    * (left, right) with the concatenation — the standard BPE merge. */
  def applyMerge(syms: Seq[String], m: Merge): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m.left && syms(i + 1) == m.right) {
        out += m.left + m.right; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Segment one word with a learned merge list (applied in training
    * order — the standard greedy BPE encoder). */
  def segmentWord(word: String, merges: Seq[Merge]): Seq[String] =
    merges.foldLeft(word.map(_.toString) :+ EndOfWord: Seq[String])(applyMerge)

  /** Segment a DISTINCT word table with a learned merge list: (word,
    * seg = space-joined subword tokens, n_tok). The vocabulary-sized half
    * of corpus encoding: segmentation cost is paid once per VOCABULARY
    * entry (Heaps-sublinear in corpus size), and the corpus word stream
    * then equi-joins this table by word — corpus-sized rows never carry
    * symbol arrays, and the join key is the word the stream already has.
    * The merge list broadcasts (nMerges entries — KBs). */
  def segmentVocab(spark: SparkSession, words: DataFrame, wordCol: String,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges)
    graft.ops.Par.balanced(words.select(col(wordCol).cast("string"))).as[String]
      .mapPartitions { it =>
        val ms = bc.value
        it.map { w =>
          val seg = segmentWord(w, ms)
          (w, seg.mkString(" "), seg.length)
        }
      }.toDF(wordCol, "seg", "n_tok")
  }

  /** Distributed encode: documents to subword-token sequences. The merge
    * list broadcasts (it is nMerges entries — KBs); the encode is a pure
    * per-row kernel, no shuffle. */
  def encodeDocs(spark: SparkSession, docs: DataFrame, textCol: String,
      idCol: String, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges)
    graft.ops.Par.balanced(docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { batch =>
        val ms = bc.value
        batch.map { case (id, text) =>
          val toks = TextAnalysis.normalizeString(text).split(" ").iterator
            .filter(_.nonEmpty).flatMap(w => segmentWord(w, ms)).toSeq
          (id, toks)
        }
      }.toDF(idCol, "subwords")
  }
}
