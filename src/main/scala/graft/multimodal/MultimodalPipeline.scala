package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The whole multimodal curation pipeline as one composition — the q125
  * (CorpusPipeline) of BINARY columns, closing the family the same way
  * corpus prep and the time-series diagnostics were closed:
  *
  *   asset snapshot → fingerprint (real decode) → near-dup components →
  *   keep-one → augment survivors (real codec roundtrip) → one-row card
  *
  * Every stage is the already-tested operator ([[Multimodal.aHashBands]]/
  * [[Multimodal.audioFingerprintBands]]/[[Multimodal.videoFingerprintBands]],
  * [[Multimodal.imageNearDupPairs]], [[graft.dedup.Dedup.connectedComponents]],
  * [[Multimodal.augmentImages]]/[[Multimodal.augmentAudio]] and the q187
  * declarative frame-stride augment); this object owns only the composition
  * discipline:
  *
  *  - The asset set MATERIALIZES once (eager localCheckpoint): it is
  *    consumed by two separate decode passes — the fingerprint table and
  *    the survivor augmentation — and without the checkpoint Spark re-runs
  *    the payload synthesis/read per consumer. At 100 TB this snapshot IS
  *    the landed raw-asset table a real pipeline reads from storage; the
  *    final card plan reads NO parquet at all (the plan audit pins it), because
  *    everything downstream rides the snapshot.
  *  - The fingerprint table also materializes once (three consumers: class
  *    map, class-collapsed banded join, survivor rule) — one decode per
  *    asset for the whole near-dup stage.
  *  - Keep-one is CLUSTER semantics, like CorpusPipeline: identical-hash
  *    class members collapse to their rep (min id), rep-level near pairs
  *    (banded hamming ≤ 3, exact by the pigeonhole) close into connected
  *    components, and the unique survivor of a component is its minimum
  *    id. The DROPPED set — not the survivor set — drives the filter: it
  *    is duplicate-mass-sized (ids only, 8 bytes a row), so the survivor
  *    selection is one BROADCAST anti-join against the snapshot, never a
  *    corpus-sized join. (Note the asymmetry with CorpusPipeline, which
  *    SHUFFLE-anti-joins its dup ids because text crawl dup mass scales
  *    with the corpus; both shapes are deliberate. The hint is right
  *    while dup mass ≪ corpus — a dup-heavy ingest drops the broadcast()
  *    call, one line, and AQE plans the anti-join as a shuffle.)
  *  - The card is exact longs only: asset/survivor counts and the two
  *    augmentation checksums (Σ stat, Σ position-weighted stat) whose
  *    values prove the decode → transform → re-encode roundtrip on every
  *    surviving payload.
  *
  * Domain note: assets that do not fingerprint (undecodable, or below the
  * fingerprint's geometry floor) are never near-dup candidates and
  * therefore never dropped — they flow to augmentation, which raises
  * loudly on an undecodable payload. The q189 corpora fingerprint
  * completely, and the card equality is what proves it.
  */
object MultimodalPipeline {

  /** One modality end-to-end; returns the ONE-ROW card
    * (modality, n_assets, n_dropped, n_kept, sum_stat, wsum_stat).
    *
    * @param fingerprint assets → (doc_id, b0..b3) band table (real decode)
    * @param augment     surviving assets → (doc_id, stat, wstat) exact longs
    */
  def card(modality: String, assets: DataFrame,
      fingerprint: DataFrame => DataFrame,
      augment: DataFrame => DataFrame): DataFrame = {
    // the landed asset snapshot: two decode passes consume it
    val mat = assets.localCheckpoint(true)
    // fingerprint table: one decode per asset, three consumers below
    val bands0 = fingerprint(mat).localCheckpoint(true)
    // Scan width for the landed band table: it is slim metadata (5 ints
    // a row) consumed by several SMALL jobs — the class map, the banded
    // candidate join, the survivor rule — so inheriting the codec
    // stage's cores-wide block layout just multiplies every downstream
    // job's task count (measured: the near-pair join + components leg
    // 10.2 → 5.8 s at sf0.1 when the 32-block layout is narrowed).
    // One block per ~2M rows (≈80 MB) keeps a local band table at 1–2
    // scan tasks and a 100 TB one cores-wide; coalesce on a
    // checkpointed RDD is a view — no second materialization.
    val bandWidth = math.max(1L, bands0.count() / 2000000L).toInt
    val bands = if (bandWidth < bands0.rdd.getNumPartitions)
      bands0.coalesce(bandWidth) else bands0
    // id → identical-hash class rep (min id of the class). One extra
    // asset-sized groupBy vs reusing imageNearDupPairs' internal class
    // table (not exposed; a sliver next to the decode) — both read the
    // same checkpointed bands.
    val bandKey = Seq("b0", "b1", "b2", "b3")
    val classes = bands.groupBy(bandKey.map(col): _*)
      .agg(min(col("doc_id")).as("rep"))
    val idRep = bands.join(classes, bandKey).select(col("doc_id"), col("rep"))
    // rep-level near pairs (hamming 1..3; the class-collapsed banded join)
    val nearPairs = Multimodal.imageNearDupPairs(bands, maxHamming = 3)
      .filter(col("id_a") =!= col("id_b")).select("id_a", "id_b")
    // transitive closure on the answer-sized rep pair graph
    val comps = graft.dedup.Dedup.connectedComponents(nearPairs, "id_a", "id_b")
    // dropped = class non-reps ∪ non-keeper reps — duplicate-mass-sized
    val dropped = idRep.filter(col("doc_id") =!= col("rep")).select("doc_id")
      .unionByName(comps.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id")))
      .distinct()
    val survivors = mat.join(broadcast(dropped), Seq("doc_id"), "left_anti")
    // augment survivors: the second (intrinsic) decode pass, roundtripped
    val aug = augment(survivors)
    val nAssets = mat.agg(count(lit(1)).as("n_assets"))
    val augAgg = aug.agg(count(lit(1)).as("n_kept"),
      sum(col("stat")).as("sum_stat"), sum(col("wstat")).as("wsum_stat"))
    nAssets.crossJoin(augAgg) // 1-row × 1-row scalar join
      .select(lit(modality).as("modality"), col("n_assets"),
        (col("n_assets") - col("n_kept")).as("n_dropped"), col("n_kept"),
        col("sum_stat"), col("wsum_stat"))
  }

  /** Incremental ingest verdicts — the DeltaDedup discipline applied to
    * the modality fingerprints: which DELTA assets survive against an
    * already-ingested corpus, touching standing data only through its
    * CLASS INDEX (b0..b3, rep = min standing id per hash) — never
    * re-fingerprinting, re-pairing, or re-deciding a standing asset.
    * First-writer-wins, and because asset ids are MONOTONE across
    * ingests (standing < delta), the batch keep-one over the union —
    * q189's exact rule — restricted to delta ids IS this incremental
    * answer: that identity is what q192's oracle checks (it recomputes
    * the full union closure; this function never does).
    *
    * A delta asset is kept iff (a) its hash class contains no standing
    * asset and no smaller delta asset, (b) its class rep's delta-pair
    * component contains no rep attached to standing (exact hash hit or
    * banded hamming ≤ 3 to a standing class rep), and (c) its rep is
    * the component minimum.
    *
    * Work shape: one delta-sized exact collapse; ONE banded join of
    * delta reps against standing-class ∪ delta-class reps — NEVER
    * standing × standing (the term a full recompute pays and the whole
    * point of the index); components over the answer-sized delta-delta
    * pair graph; broadcast attachment flags. Returns (doc_id, kept). */
  def deltaVerdicts(standingClasses: DataFrame, deltaBands0: DataFrame): DataFrame = {
    val bk = Seq("b0", "b1", "b2", "b3")
    // one fingerprint decode of the delta: the band table is consumed by
    // the class build AND the final verdict join
    // r16: every landed intermediate below is a LAZY checkpoint — each
    // one's first consumer is a full scan (an aggregate or a broadcast
    // build), so materialization rides that job instead of paying a
    // separate eager job per table. q198 pays this chain once per
    // micro-batch; the eager form was 4 scheduling round-trips per batch
    // (the r15 deltaComponents lesson, applied here).
    val deltaBands = deltaBands0.localCheckpoint(false)
    val dClasses = deltaBands.groupBy(bk.map(col): _*)
      .agg(min(col("doc_id")).as("rep"))
      .localCheckpoint(false) // consumed four times below
    val sc = standingClasses.select(
      (bk.map(col) :+ col("rep")): _*).withColumn("standing", lit(true))
    val union = sc.unionByName(dClasses.withColumn("standing", lit(false)))
    // classes whose exact hash already stands
    val exactAttached = dClasses
      .join(standingClasses.select(bk.map(col): _*), bk, "left_semi")
      .select(col("rep"))
    // banded candidates: delta reps vs all reps (one shared band)
    val allBand = union.select(col("rep"), col("standing"),
      posexplode(array(bk.map(col): _*)).as(Seq("j", "v")))
    val cand = allBand.filter(!col("standing"))
      .select(col("j"), col("v"), col("rep").as("ra"))
      .join(allBand.select(col("j"), col("v"), col("rep").as("rb"),
        col("standing")), Seq("j", "v"))
      .filter(col("ra") =!= col("rb"))
      .select("ra", "rb", "standing").distinct()
    val ca = dClasses.select((Seq(col("rep").as("ra")) ++
      bk.zipWithIndex.map { case (b, i) => col(b).as(s"a$i") }): _*)
    val cb = union.select((Seq(col("rep").as("rb"), col("standing").as("sb")) ++
      bk.zipWithIndex.map { case (b, i) => col(b).as(s"c$i") }): _*)
    val near = cand.drop("standing").join(ca, "ra").join(cb, "rb")
      .withColumn("hamming", (
        bit_count(col("a0").bitwiseXOR(col("c0"))) +
        bit_count(col("a1").bitwiseXOR(col("c1"))) +
        bit_count(col("a2").bitwiseXOR(col("c2"))) +
        bit_count(col("a3").bitwiseXOR(col("c3")))).cast("int"))
      .filter(col("hamming") <= 3)
      .select(col("ra"), col("rb"), col("sb"))
      .localCheckpoint(false) // consumed twice (attachment + delta pairs)
    val nearToStanding = near.filter(col("sb")).select(col("ra").as("rep"))
    val deltaPairs = near.filter(!col("sb") && col("ra") < col("rb"))
      .select(col("ra").as("id_a"), col("rb").as("id_b"))
    val comps = graft.dedup.Dedup.connectedComponents(deltaPairs, "id_a", "id_b")
    val attachedReps = exactAttached.unionByName(nearToStanding).distinct()
      .localCheckpoint(false)
    val attachedClusters = comps
      .join(attachedReps.withColumnRenamed("rep", "id"), Seq("id"))
      .select(col("cluster_id")).distinct()
    // per-rep verdict: not attached (directly or through its component)
    // and the component minimum (a rep outside any pair is its own comp)
    val repVerdict = dClasses.select(col("rep"))
      .join(broadcast(attachedReps.withColumn("att", lit(true))), Seq("rep"), "left")
      .join(broadcast(comps.withColumnRenamed("id", "rep")), Seq("rep"), "left")
      .join(broadcast(attachedClusters.withColumn("catt", lit(true))),
        Seq("cluster_id"), "left")
      .select(col("rep"),
        (coalesce(col("att"), lit(false)) === false &&
         coalesce(col("catt"), lit(false)) === false &&
         (col("cluster_id").isNull || col("cluster_id") === col("rep")))
          .as("rep_kept"))
    deltaBands.join(dClasses, bk)
      .join(broadcast(repVerdict), Seq("rep"))
      .select(col("doc_id"),
        (col("doc_id") === col("rep") && col("rep_kept")).as("kept"))
  }

  /** Advance the standing class index past an adjudicated delta — the
    * IvfPq.appendToIndex discipline for the fingerprint index: every
    * delta hash class enters keyed by its min delta id, DROPPED classes
    * included (the index's job is dup detection — first-writer-wins must
    * remember a hash was seen even if its bearer was rejected, the q190
    * fp-tally argument); hashes already standing keep their standing rep
    * (min wins — id monotonicity makes the result the batch-built union
    * index EXACTLY, so chained ingests never drift from a from-scratch
    * rebuild: the identity the unit test pins). One delta-sized groupBy
    * + one index-keyed merge; the old index is never re-derived from
    * payloads. */
  def advanceIndex(standingClasses: DataFrame, deltaBands: DataFrame): DataFrame = {
    val bk = Seq("b0", "b1", "b2", "b3")
    val dClasses = deltaBands.groupBy(bk.map(col): _*)
      .agg(min(col("doc_id")).as("rep"))
    standingClasses.select((bk.map(col) :+ col("rep")): _*)
      .unionByName(dClasses)
      .groupBy(bk.map(col): _*).agg(min(col("rep")).as("rep"))
  }

  /** All three modalities through [[card]] on the q111/q156/q157 corpora
    * with the q184/q186/q187 epoch-"ep3" augmenters — the one-materialization
    * release pass over every binary-column operator the family has. */
  def prepare(spark: SparkSession, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val img = {
      val organic = docs.select(col("doc_id")).filter(col("doc_id") % 3 =!= 1)
      val assets = Multimodal.synthImages(spark, organic)
        .unionByName(Multimodal.synthTwinImages(spark, nPairs = 8, base = 3000000L))
      card("image", assets,
        a => Multimodal.aHashBands(spark, a),
        a => Multimodal.augmentImages(spark, a, epoch = "ep3").toDF()
          .select(col("doc_id"), col("sum_rgb").as("stat"), col("wsum").as("wstat")))
    }
    val aud = {
      val organic = docs.select(col("doc_id")).filter(col("doc_id") % 3 =!= 2)
      val assets = Multimodal.synthNoiseAudio(spark, organic)
        .unionByName(Multimodal.synthTwinAudio(spark, nPairs = 8, base = 4000000L))
      card("audio", assets,
        a => Multimodal.audioFingerprintBands(spark, a),
        a => Multimodal.augmentAudio(spark, a, epoch = "ep3").toDF()
          .select(col("doc_id"), col("sum_abs").as("stat"), col("wsigned").as("wstat")))
    }
    val vid = {
      val organic = docs.select(col("doc_id")).filter(col("doc_id") % 3 =!= 0)
      val assets = Multimodal.synthVideo(spark, organic)
        .unionByName(Multimodal.synthTwinVideo(spark, nPairs = 8, base = 5000000L))
      // the q187 augment: temporal crop + stride as declarative filters
      // over the existing frame demux — no new kernel
      def augmentVideo(a: DataFrame): DataFrame = {
        val lum = Multimodal.frameLuma(spark, Multimodal.sampleFrames(spark, a,
            frameBytes = Multimodal.VideoFrameBytes, everyN = 1))
          .filter(col("frame_idx") < Multimodal.VideoFrames)
        val o: Column = graft.ops.Sampling.shard(col("doc_id"), 3, "vauo:ep3")
        val k: Column = graft.ops.Sampling.shard(col("doc_id"), 2, "vauk:ep3") + 1
        lum.select(col("doc_id"), col("frame_idx").cast("long").as("f"),
            col("luma"), o.as("o"), k.as("k"))
          .filter(col("f") >= col("o") && pmod(col("f") - col("o"), col("k")) === 0)
          .select(col("doc_id"),
            ((col("f") - col("o")) / col("k")).cast("long").as("j"), col("luma"))
          .groupBy(col("doc_id"))
          .agg(sum(col("luma")).as("stat"), sum(col("j") * col("luma")).as("wstat"))
      }
      card("video", assets, a => Multimodal.videoFingerprintBands(spark, a),
        augmentVideo)
    }
    img.unionByName(aud).unionByName(vid)
  }

  /** Cross-modal PAIR consistency QC — the LAION-class caption↔image
    * filter (Schuhmann et al., NeurIPS'21 D&B: pairs whose CLIP text
    * and image embeddings disagree are dropped before training): per
    * pair, an exact-integer consistency score between the two embedding
    * columns and a keep verdict at `t2Micro` (micro-units of cosine²).
    *
    * Exactness protocol (the q62/q115 rule): both vectors pass through
    * int8 scalar quantization — codes are bit-reproducible cross-engine
    * — and everything after is INTEGER arithmetic: dot_q = Σ aᵢ·bᵢ,
    * norms² na2/nb2, and the signed micro-cosine² cons_u =
    * sign(dot_q)·((dot_q²·10⁶) DIV (na2·nb2)) — one integer division,
    * no float ever compared. Ranges are overflow-safe by construction:
    * |dot_q| ≤ d·127² (≈10⁶ at d=64) so dot_q²·10⁶ ≤ ~10¹⁸ < 2⁶³.
    * A zero-norm side scores 0 / drop (a zero vector has no direction
    * — the hardNegatives rule).
    *
    * Scale shape: a pure per-row kernel over the pair table — the only
    * join is whatever built the pairs; nothing here is wider than the
    * pair table itself. Returns (idCol, dot_q, na2, nb2, cons_u, keep). */
  def crossModalQc(pairs: DataFrame, aCol: String, bCol: String,
      idCol: String, t2Micro: Long = 810000L): DataFrame = {
    import graft.similarity.Quantize
    import graft.functions.VectorFunctions.dotF
    def q(c: String) = Quantize.codes(col(c), Quantize.scaleOf(col(c)))
      .cast("array<float>") // int8 codes are float-exact; dotF sums in double
    val scored = pairs.select(col(idCol),
      dotF(q(aCol), q(bCol)).cast("long").as("dot_q"),
      dotF(q(aCol), q(aCol)).cast("long").as("na2"),
      dotF(q(bCol), q(bCol)).cast("long").as("nb2"))
    scored.select(col(idCol), col("dot_q"), col("na2"), col("nb2"),
        when(col("na2") === 0 || col("nb2") === 0, lit(0L))
          .otherwise(signum(col("dot_q")).cast("long") *
            expr("(dot_q * dot_q * 1000000L) DIV (na2 * nb2)"))
          .as("cons_u"))
      .withColumn("keep", col("cons_u") >= t2Micro)
  }
}
