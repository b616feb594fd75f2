package graft.dedup

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{AnswerSized, Lineage, PageRank, QueryLog}
import graft.text.TextAnalysis

/** Deduplication operators for LLM training corpora.
  *
  * Scale design (100 TB): nothing here is O(n²) on the full corpus.
  *  - Exact dedup is a hash groupBy (one shuffle on the fingerprint).
  *  - MinHash/SimHash emit a bounded number of bucket keys per document
  *    (bands / hamming chunks); candidate pairs only form *within* buckets,
  *    so the shuffle is |docs|×bands slim rows and the join fans out only
  *    where signatures collide. The expensive exact verify (Jaccard /
  *    hamming / cosine) runs on candidate pairs only.
  *  - Every banding path is guarded against the hot-bucket quadratic: exact
  *    duplicates are collapsed to one representative per distinct normalized
  *    text *before* banding (a boilerplate cluster of 1M identical docs
  *    contributes ONE row to its buckets, not 10¹² intra-bucket pairs), and
  *    buckets above `maxBucket` are dropped from candidate generation (see
  *    [[droppedBuckets]] for the audit view).
  *  - [[jaccardJoin]] is an *exact* similarity self-join (prefix filtering,
  *    AllPairs/PPJoin family — Bayardo et al., WWW'07): 100% recall at the
  *    requested threshold without any all-pairs stage.
  */
object Dedup {

  // ---------------- exact ----------------

  /** Exact dedup on the normalized-text fingerprint: one representative
    * (min id) per content hash + the duplicate count. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (id, rep) mapping that collapses byte-identical *normalized* texts to
    * their min-id representative — the pre-banding hot-bucket guard shared
    * by the MinHash and SimHash pipelines.
    *
    * The representative is a map-side-combinable `groupBy(fp).agg(min(id))`
    * joined back onto the (id, fp) projection — NEVER `min over a window
    * partitioned by fp`: a window cannot be skew-split, so a boilerplate
    * cluster of 10⁸ identical pages (exactly the mass this collapse exists
    * to absorb at 100 TB) would land on ONE task's sort. The groupBy
    * combines the hot key on the map side and the join-back is
    * AQE-skew-splittable (the q158/q202 keep-first discipline applied to
    * the flagship dedup path itself). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = df.select(col(idCol).as("id"),
      TextAnalysis.fingerprint(col(textCol)).as("fp"))
    withFp.join(withFp.groupBy("fp").agg(min("id").as("rep")), "fp")
      .select("id", "rep")
  }

  /** Expand representative-level pairs back to member-level pairs: cross
    * pairs inherit the representatives' score (identical normalized text ⇒
    * identical shingle set / signature), intra-group pairs get the perfect
    * score. Output size is the true answer's size — the only place any
    * quadratic term survives, and it is the result itself.
    *
    * `dupGroups` holds ONLY multi-member groups' (id, rep) rows — the
    * duplicate MASS, not a corpus-sized identity map: singleton reps
    * expand to themselves through the left-join coalesce, so the join is
    * answer-proportional (and broadcastable whenever the dup mass is). */
  private[dedup] def expandPairs(repPairs: DataFrame, dupGroups: DataFrame,
      scoreCol: String, perfectScore: Column): DataFrame = {
    val ga = dupGroups.select(col("rep").as("id_a"), col("id").as("m_a"))
    val gb = dupGroups.select(col("rep").as("id_b"), col("id").as("m_b"))
    val cross = repPairs
      .join(ga, Seq("id_a"), "left")
      .join(gb, Seq("id_b"), "left")
      .select(
        least(coalesce(col("m_a"), col("id_a")),
          coalesce(col("m_b"), col("id_b"))).as("id_a"),
        greatest(coalesce(col("m_a"), col("id_a")),
          coalesce(col("m_b"), col("id_b"))).as("id_b"), col(scoreCol))
    val intra = dupGroups.alias("x")
      .join(dupGroups.alias("y"), col("x.rep") === col("y.rep") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), perfectScore.as(scoreCol))
    cross.unionByName(intra)
  }


  /** The slim (id, fp) projection: one normalized-text fingerprint per
    * document, the key of the pre-banding exact collapse. */
  private def fingerprints(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))

  /** The pre-banding exact collapse both banding pipelines share, shaped
    * around fingerprinting the corpus exactly ONCE: the slim (id, fp)
    * projection arrives landed (`withFp`: ids + 32-byte hashes — at
    * 100 TB this is the ~tens-of-GB-per-executor spill-backed class,
    * orders below the text it fingerprints), the per-fingerprint
    * aggregate carries only (rep id, member count) — no text ever rides
    * the aggregation exchange (`first(t)` dragged the full corpus text
    * through shuffle partials; measured 2.7 → 1.4 s on q28 at sf0.1) —
    * and both consumers derive from those two artifacts: `reps` (id, t)
    * fetches the representative text back by an id equi-join, `dups`
    * (id, rep) joins the SAME landed fingerprints against the
    * multi-member groups (no second fingerprint pass). All
    * map-side-combinable aggregates and AQE-skew-splittable joins —
    * never a window over the fingerprint (a 10⁸-page boilerplate cluster
    * combines map-side; the landed copy's exact stats let AQE broadcast
    * the dup-group side whenever it fits). */
  private def collapseExact(df: DataFrame, textCol: String, idCol: String,
      withFp: DataFrame): (DataFrame, DataFrame) = {
    val collapsed = withFp.groupBy("fp")
      .agg(min(col("id")).as("id"), count(lit(1)).as("n")).localCheckpoint(true)
    val reps = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .join(collapsed.select("id"), "id")
    val dups = withFp.join(collapsed.filter(col("n") > 1)
      .select(col("fp"), col("id").as("rep")), "fp")
      .select("id", "rep")
    (reps, dups)
  }

  /** Keep only bucket rows whose bucket holds ≤ maxBucket members. The cap
    * bounds the within-bucket join at maxBucket² per bucket; anything larger
    * is near-certainly a boilerplate cluster that exact-collapse should have
    * caught — audit the drops with [[droppedBuckets]].
    *
    * The HOT list (buckets above the cap) is answer-tiny by construction
    * — at most totalBucketRows/maxBucket entries, usually zero — so the
    * cap is one map-side-combined count plus a BROADCAST anti-join: the
    * bucket table itself never shuffles (a count-over-window partitioned
    * by the bucket key would put the hot bucket on one task's sort —
    * exactly the shape this cap exists to prevent). */
  private[dedup] def capBuckets(buckets: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val hot = buckets.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBucket)
      .select(keys.map(col): _*)
    buckets.join(broadcast(hot), keys, "left_anti")
  }

  // ---------------- MinHash + LSH ----------------

  /** Deterministic affine permutation parameters for MinHash. Coefficients
    * stay within 31 bits so a*h+b over 31-bit-reduced hashes never exceeds
    * 2^62 — overflow-free under ANSI mode. */
  private val HashPrime = 2147483647L // 2^31 - 1
  /** Mersenne prime 2^61-1: the shingle-hash modulus for exact-Jaccard
    * verify sets, where collisions (which would perturb |A∩B|/|A∪B|) must be
    * beyond-astronomical. MinHash signatures keep the 31-bit modulus (their
    * a*h+b arithmetic needs headroom; a signature collision only creates one
    * extra candidate, never a wrong answer). */
  private[dedup] val BigPrime = 2305843009213693951L
  private def perms(n: Int, seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(((r.nextInt(Int.MaxValue - 1) + 1).toLong, r.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signature (array<bigint>, length numPerm) over word k-shingles,
    * computed by the native codegen kernels (WordShingleHash → MinHashSig;
    * the naive `transform`/`array_min` composition runs on Catalyst's
    * interpreted HOF path — 100×+ slower). Same shingle-hash scheme as
    * [[minHashPairs]], so signatures and the pair pipeline interoperate. */
  def minHashSignature(textCol: Column, numPerm: Int = 64, k: Int = 3,
      seed: Long = 42L): Column = {
    val ps = perms(numPerm, seed)
    graft.functions.HashFunctions.minHashSig(
      graft.functions.HashFunctions.wordShingleHash(
        TextAnalysis.normalize(textCol), k, HashPrime),
      ps.map(_._1).toArray, ps.map(_._2).toArray, HashPrime)
  }

  /** A signature's (band, bkey) LSH bucket keys, one per band, from the
    * native `lsh_band_keys` kernel: bkey is `xxhash64(b, the band's
    * comma-joined decimal slice)`. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    graft.functions.HashFunctions.lshBandKeys(sig, bands, rowsPerBand)

  /** Near-duplicate pairs by MinHash LSH, verified with exact Jaccard over
    * shingle sets. Returns (id_a, id_b, jaccard) with id_a < id_b, sorted
    * on (id_a, id_b).
    *
    * Recall: a pair at Jaccard J collides in ≥1 band with probability
    * 1-(1-J^r)^bands (r = numPerm/bands). The 21×3 default gives
    * P(miss | J=0.8) ≈ 3e-7 while random low-J pairs almost never collide;
    * lower J thresholds want fewer rows per band.
    *
    * Hot-bucket guards: exact duplicates are collapsed to one representative
    * before banding (then expanded back into the answer), and buckets larger
    * than maxBucket are dropped from candidate generation.
    *
    * The (id, fp) fingerprints pass the answer-sized gate
    * ([[AnswerSized]], op `minhash`). At or under the cap, with an
    * integral id, the pairs are finished on the driver ([[pairsOnDriver]])
    * and come back as a sorted local relation with the distributed path's
    * rows and schema. Over the cap, or with any other id type, the
    * distributed pipeline continues from the landed fingerprints. */
  def minHashPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.5, numPerm: Int = 64, bands: Int = 21,
      k: Int = 3, maxBucket: Int = 100000): DataFrame = {
    val rowsPerBand = numPerm / bands
    require(rowsPerBand >= 1, s"bands=$bands exceeds numPerm=$numPerm")
    val withFp = fingerprints(df, textCol, idCol)
    val idField = withFp.schema("id")
    val landed = AnswerSized.collectIfUnder("minhash", withFp, None,
        driverSolvable = PageRank.Integral.contains(idField.dataType)) match {
      case Left(rows) =>
        pairsOnDriver(df, textCol, idCol, rows, idField, threshold, numPerm, bands, k,
            maxBucket) match {
          case Some(pairs) => return pairs
          case None =>
            // the answer outgrew the cap on the driver: continue
            // distributed from the landed rows
            QueryLog.note("minhash.distributed", rows.length.toLong)
            df.sparkSession.createDataFrame(rows.toSeq.asJava, withFp.schema)
        }
      case Right(landed) => landed
    }
    // one row per distinct normalized text — see [[collapseExact]] for the
    // single-fingerprint-pass shape shared with simHashPairs
    val (reps, dups) = collapseExact(df, textCol, idCol, landed)
    // Fully native pipeline: hashed shingle sets in one codegen pass (no
    // string shingles materialized), native signature and band-key
    // kernels, slim (id, band, bkey) band rows so the shuffle never moves
    // arrays. 31-bit hashes feed the signature; a separate 61-bit set
    // feeds the exact-Jaccard verify (collision-free), joined back only
    // for surviving candidate pairs.
    val sig = reps.select(col("id"), minHashSignature(col("t"), numPerm, k).as("sig"))
    // landed lazily: the cap's hot-bucket count and its anti-join both
    // read the band rows, and left unlanded each would run the signature
    // kernel over every representative
    val buckets = sig
      .select(col("id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.bkey").as("bkey"))
      .localCheckpoint(false)
    // checkpointed: the slim capped bucket table feeds BOTH sides of the
    // candidate self-join — left lazy, the banding + cap subtree runs
    // once per side
    val capped = capBuckets(buckets, Seq("band", "bkey"), maxBucket)
      .localCheckpoint(true)
    // verify first, dedup after: a pair colliding in m bands costs m-1
    // extra codegen'd intersect/unions, while the dedup shuffle shrinks
    // from candidate-count to answer-size
    val candidates = capped.alias("x")
      .join(capped.alias("y"), Seq("band", "bkey"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .filter(col("id_a") < col("id_b"))
    // landed lazily for the same reason: both sides of the verify join
    // read the shingle sets, so the shingle kernel runs once per doc
    val verifySets = hashedShingleSets(reps, "t", "id", k, BigPrime).localCheckpoint(false)
    val repPairs = verifyPairsJaccard(candidates, verifySets, threshold)
      .dropDuplicates("id_a", "id_b")
    expandPairs(repPairs, dups, "jaccard", lit(1.0))
      .orderBy("id_a", "id_b")
  }

  /** [[minHashPairs]] finished on the driver from the landed (id, fp)
    * rows, with the distributed pipeline's semantics step for step:
    *  1. group the fingerprints: each group's min id represents it (the
    *     null-fp group too), and only non-null fingerprints with more
    *     than one row form duplicate groups (the fp equi-join);
    *  2. one job fetches the representatives' band keys;
    *  3. bucket on (band, bkey), drop buckets above maxBucket, form the
    *     id_a < id_b candidates;
    *  4. one job fetches the 61-bit verify sets of the candidate
    *     documents only;
    *  5. verify by a sorted-merge intersection — the kernel emits sorted,
    *     distinct arrays, so i / (|A| + |B| − i) is exactly
    *     size(array_intersect) / size(array_union); a null set drops the
    *     pair;
    *  6. expand through the duplicate groups (cross pairs, intra-group
    *     pairs at 1.0) and sort on (id_a, id_b).
    * Driver memory is bounded by the cap: the fixed-width landed rows,
    * `bands` keys per representative, shingle sets of candidate documents
    * only, and at most cap pairs — None, once the intra-group pairs plus
    * the candidates' expanded pairs would pass the cap; the caller then
    * notes `minhash.distributed` and continues from the landed rows. */
  private def pairsOnDriver(df: DataFrame, textCol: String, idCol: String,
      fpRows: Array[Row], idField: StructField, threshold: Double, numPerm: Int,
      bands: Int, k: Int, maxBucket: Int): Option[DataFrame] = {
    val spark = df.sparkSession
    val cap = AnswerSized.cap(spark)
    val byFp = fpRows.groupBy(r => Option(r.getString(1)))
      .map { case (fp, g) => fp -> g.map(r => if (r.isNullAt(0)) None else Some(r.getAs[Number](0).longValue)) }
    val reps = byFp.values.flatMap(_.flatten.minOption).toArray
    // rep → member rows of its duplicate group; a null member id expands
    // to the rep itself, as the left join's coalesce does
    val members: Map[Long, Array[Option[Long]]] = byFp.toSeq
      .collect { case (Some(_), ids) if ids.length > 1 => ids }
      .flatMap(ids => ids.flatten.minOption.map(_ -> ids))
      .groupMapReduce(_._1)(_._2)(_ ++ _)
    def expanded(rep: Long): Array[Long] = members.get(rep).fold(Array(rep))(_.map(_.getOrElse(rep)))

    val out = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    members.values.foreach { ids =>
      val m = ids.flatten.sorted
      for (i <- m.indices; j <- i + 1 until m.length if m(i) < m(j)) out += ((m(i), m(j), 1.0))
    }
    if (out.length > cap) return None

    // the documents' (id, text) rows whose id is in `ids`: one scan
    // under an InSet filter (a broadcast local relation would pay a job
    // of its own to build)
    def fetch(ids: Iterable[Long]): DataFrame =
      df.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
        .filter(org.apache.spark.sql.graft.bridge.inSet(col("id"), ids.toSet))
    val rowsPerBand = numPerm / bands
    val buckets = Array.fill(bands)(mutable.LongMap.empty[mutable.ArrayBuffer[Long]])
    fetch(reps)
      .select(col("id"), minHashSignature(col("t"), numPerm, k).as("sig"))
      .select(col("id"), lshBands(col("sig"), bands, rowsPerBand).as("b"))
      .collect().foreach { r =>
        val id = r.getLong(0)
        r.getSeq[Row](1).foreach(b =>
          buckets(b.getInt(0)).getOrElseUpdate(b.getLong(1), mutable.ArrayBuffer.empty) += id)
      }
    // candidates, each weighted by the pairs it expands to
    var budget = cap - out.length
    val candidates = mutable.HashSet.empty[(Long, Long)]
    val kept = buckets.iterator.flatMap(_.valuesIterator).filter(_.length <= maxBucket)
    while (budget >= 0 && kept.hasNext) {
      val ids = kept.next()
      var i = 0
      while (budget >= 0 && i < ids.length) {
        var j = i + 1
        while (budget >= 0 && j < ids.length) {
          val (a, b) = (ids(i) min ids(j), ids(i) max ids(j))
          if (a < b && candidates.add((a, b)))
            budget -= expanded(a).length.toLong * expanded(b).length
          j += 1
        }
        i += 1
      }
    }
    if (budget < 0) return None

    val sets = mutable.LongMap.empty[Array[Long]]
    hashedShingleSets(fetch(candidates.iterator.flatMap(p => Iterator(p._1, p._2)).toSet),
        "t", "id", k, BigPrime)
      .collect().foreach(r => if (!r.isNullAt(1)) sets(r.getLong(0)) = r.getSeq[Long](1).toArray)
    candidates.foreach { case (a, b) =>
      for (sa <- sets.get(a); sb <- sets.get(b)) {
        val i = intersectionSize(sa, sb)
        val jaccard = i.toDouble / (sa.length + sb.length - i)
        if (jaccard >= threshold)
          for (ma <- expanded(a); mb <- expanded(b)) out += ((ma min mb, ma max mb, jaccard))
      }
    }

    val box: Long => Any = idField.dataType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val schema = StructType(Seq(
      StructField("id_a", idField.dataType, idField.nullable),
      StructField("id_b", idField.dataType, idField.nullable),
      StructField("jaccard", DoubleType)))
    val rows = out.sortInPlaceBy(p => (p._1, p._2)).map(p => Row(box(p._1), box(p._2), p._3))
    Some(spark.createDataFrame(rows.asJava, schema))
  }

  /** |A ∩ B| of two sorted arrays of distinct values. */
  private def intersectionSize(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** LSH buckets that exceeded maxBucket for this banding (band, bkey, size)
    * — the audit view for capped candidate generation. Computed over the
    * same exact-collapsed representatives [[minHashPairs]] actually bands,
    * so sizes match what capBuckets saw (banding the raw df would report
    * exact-duplicate-inflated buckets the pipeline never formed). */
  def droppedBuckets(df: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, bands: Int = 21, k: Int = 3,
      maxBucket: Int = 100000): DataFrame = {
    val rowsPerBand = numPerm / bands
    val groups = exactGroups(df, textCol, idCol)
    val reps = df.select(col(idCol).as("id"), col(textCol).as("t"))
      .join(groups.filter(col("id") === col("rep")).select("id"), "id")
    val buckets = reps
      .select(col("id"), minHashSignature(col("t"), numPerm, k).as("sig"))
      .select(col("id"), explode(lshBands(col("sig"), bands, rowsPerBand)).as("b"))
      .select(col("b.band").as("band"), col("b.bkey").as("bkey"))
    buckets.groupBy("band", "bkey").agg(count(lit(1)).as("size"))
      .filter(col("size") > maxBucket)
  }

  /** Distinct hashed word k-shingle sets, (id, sh) — one native pass per
    * doc; the set representation the verify/banding stages share. The
    * modulus trades MinHash-arithmetic headroom (31-bit) against collision
    * resistance (61-bit) — see [[minHashPairs]]. */
  def hashedShingleSets(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, modulus: Long = HashPrime): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.HashFunctions.wordShingleHash(
        TextAnalysis.normalize(col(textCol)), k, modulus).as("sh"))

  /** Exact-Jaccard verify pass over candidate pairs: shingle sets join in
    * from a once-per-doc projection; per-pair work is one codegen'd
    * intersect/union. */
  def verifyPairsJaccard(pairs: DataFrame, docShingles: DataFrame,
      threshold: Double): DataFrame = {
    val a = docShingles.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = docShingles.select(col("id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---------------- SimHash ----------------

  /** 60-bit md5-prefix token hash — engine-portable: any engine with md5
    * (DuckDB, Trino, ...) reproduces it bit-for-bit in SQL, which makes a
    * SimHash built on it oracle-checkable across engines. 15 hex chars
    * keep conv()'s output within a signed long. xxhash64 stays the default
    * SimHash token hash (faster, but Spark-specific). */
  def portableTokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash over word tokens: per-bit majority vote (ties clear
    * the bit) of token-multiset hashes, computed by the native codegen
    * kernel. `tokenHash` swaps the per-token hash — see
    * [[portableTokenHash]] for the cross-engine-verifiable variant. */
  def simHash64(textCol: Column,
      tokenHash: Column => Column = xxhash64(_)): Column =
    graft.functions.HashFunctions.simHash64(
      transform(split(TextAnalysis.normalize(textCol), " ", -1), t => tokenHash(t)))

  /** (band, chunk) keys splitting a 64-bit SimHash into nBands nearly-equal
    * bit ranges. Pigeonhole: two hashes within hamming ≤ nBands-1 agree on
    * at least one whole chunk, so banding with nBands = maxHamming+1 has
    * guaranteed recall at radius maxHamming. */
  def simHashChunks(sim: Column, nBands: Int): Column =
    array((0 until nBands).map { b =>
      val lo = b * 64 / nBands
      val width = (b + 1) * 64 / nBands - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1
      struct(lit(b).as("band"), shiftright(sim, lo).bitwiseAND(mask).as("chunk"))
    }: _*)

  /** Near-duplicate pairs by SimHash: band the 64-bit hash into
    * maxHamming+1 chunks (pigeonhole ⇒ guaranteed recall at the requested
    * radius), candidate on (band, chunk) equality, verify with exact
    * popcount of xor. Same exact-collapse + bucket-cap guards as
    * [[minHashPairs]]. */
  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 100000,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming=$maxHamming outside [0, 63]: a 64-bit SimHash cannot band for it")
    val nBands = maxHamming + 1
    // collapse via the shared single-fingerprint-pass shape
    val (reps, dups) = collapseExact(df, textCol, idCol,
      fingerprints(df, textCol, idCol).localCheckpoint(true))
    val withSim = reps.select(col("id"), simHash64(col("t"), tokenHash).as("sim"))
    val chunked = withSim
      .select(col("id"), col("sim"), explode(simHashChunks(col("sim"), nBands)).as("c"))
      .select(col("id"), col("sim"), col("c.band").as("band"), col("c.chunk").as("chunk"))
    // checkpointed for the same two-sided-self-join reason as minHashPairs
    val capped = capBuckets(chunked, Seq("band", "chunk"), maxBucket)
      .localCheckpoint(true)
    val a = capped.select(col("band"), col("chunk"), col("id").as("id_a"), col("sim").as("sim_a"))
    val b = capped.select(col("band"), col("chunk"), col("id").as("id_b"), col("sim").as("sim_b"))
    // verify first, dedup after (same trade as minHashPairs): a pair
    // colliding in m chunks costs m-1 extra xor/popcounts, while the
    // dedup shuffle shrinks from candidate-count to answer-size
    val repPairs = a.join(b, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
    expandPairs(repPairs, dups, "hamming", lit(0))
      .orderBy("id_a", "id_b")
  }

  // ---------------- exact Jaccard similarity join (prefix filter) ----------------

  /** Exact n-gram Jaccard similarity self-join: every pair with
    * J(shingles_a, shingles_b) ≥ threshold, with NO approximation and NO
    * all-pairs stage — the AllPairs/PPJoin prefix-filter design (Bayardo et
    * al., WWW'07):
    *
    *  1. shingle sets, sorted by ascending global document frequency (rare
    *     tokens first) under one total order;
    *  2. each doc emits only its prefix — the first
    *     |x| - ⌈t/(1+t)·|x|⌉ + 1 tokens. Any pair with J ≥ t must share a
    *     prefix token: J ≥ t ⇒ |A∩B| ≥ t/(1+t)·(|A|+|B|), while disjoint
    *     prefixes bound the overlap by the two suffix lengths
    *     < t/(1+t)·(|A|+|B|);
    *  3. candidates = equi-join on prefix tokens (+ length filter
    *     t·max(|A|,|B|) ≤ min(|A|,|B|) + PPJoin positional filter: a shared
    *     prefix token at 1-based sorted positions (p_a, p_b) bounds the
    *     overlap at min(|A|-p_a, |B|-p_b) + 1, which must still reach
    *     ⌈t/(1+t)·(|A|+|B|)⌉ — pairs sharing only late-prefix tokens die
    *     here, before any shuffle), exact-Jaccard verify on candidates.
    *
    * Because prefixes hold the *rarest* tokens, hot-token fan-out is
    * minimized by construction; all shuffles are linear in Σ|prefix|.
    * Returns (id_a, id_b, jaccard), id_a < id_b. */
  def jaccardJoin(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, k: Int = 3): DataFrame =
    // localCheckpoint, not persist: the projection must be materialized
    // once and shared by the prefix arrays and the verify sets, but this
    // entry point has no unpersist hook (the result is a lazy plan), and
    // a CacheManager persist here leaks one MEMORY_AND_DISK entry per
    // call for the session lifetime. localCheckpoint blocks are
    // RDD-level and ContextCleaner-managed: freed when the returned plan
    // is GC'd. Callers wanting a durable shared projection use
    // [[shingleProjection]] + [[DedupCache]] — the q30/q69 path, and
    // what graft_jaccard_join does (memo keyed by the table's
    // file-manifest fingerprint, so repeated SQL invocations share one
    // persisted projection).
    jaccardJoinOrdered(shingleProjection(df, textCol, idCol, k).localCheckpoint(),
      threshold)

  /** The df-ordered shingle projection feeding [[jaccardJoinOrdered]]:
    * one row per doc with (id, toks, sz), toks sorted by ascending global
    * document frequency (rarest first) under one (df, tok) total order,
    * carrying the full 61-bit token — array_intersect/union are
    * order-insensitive, so the same array IS the exact verify set; no
    * second shingle scan, no packed-key collisions to reason about.
    * At corpus scale this is the AllPairs "inverted index"
    * materialization. It depends only on (corpus, k), NOT on the join
    * threshold — callers running several thresholds (or a pair join plus
    * clustering, q30/q69) should persist ONE projection and share it
    * ([[DedupCache]] memoizes it per corpus). */
  def shingleProjection(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame = {
    val sh = hashedShingleSets(df, textCol, idCol, k, BigPrime)
    val toks = sh.select(col("id"), explode(col("sh")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    toks.join(freq, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("dtoks"))
      .select(col("id"), transform(col("dtoks"), s => s.getField("tok")).as("toks"),
        size(col("dtoks")).as("sz"))
  }

  /** The join phase of [[jaccardJoin]] over a prebuilt [[shingleProjection]]
    * — `ordered` should be persisted by the caller: the prefix arrays (both
    * join sides) AND the verify sets read it, and recomputing the freq join
    * + collect_list per branch is the single biggest cost in this join
    * (use MEMORY_AND_DISK — the default — so it spills rather than OOMs). */
  def jaccardJoinOrdered(ordered: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold outside (0,1]")
    val tt = threshold / (1.0 + threshold)
    val prefixed = ordered.select(col("id"), col("sz"),
      slice(col("toks"), lit(1),
        greatest(lit(0), (col("sz") - ceil(col("sz") * lit(tt)) + 1).cast("int"))).as("pref"))
    def side(idAs: String, szAs: String, posAs: String) = prefixed
      .select(col("id").as(idAs), col("sz").as(szAs),
        posexplode(col("pref")).as(Seq(posAs, "tok")))
    val pa = side("id_a", "sz_a", "p_a")
    val pb = side("id_b", "sz_b", "p_b")
    // verify-then-dedup: a pair sharing m prefix tokens is verified m
    // times (one codegen intersect/union each — only near-dup pairs share
    // many prefix tokens, and they are answer-sized), while the dedup
    // shuffle shrinks from candidate-count to answer-size.
    val cands = pa.join(pb, "tok")
      .filter(col("id_a") < col("id_b") &&
        col("sz_a") * lit(threshold) <= col("sz_b") &&
        col("sz_b") * lit(threshold) <= col("sz_a") &&
        // positional: posexplode is 0-based, so remaining-after-token
        // counts are sz - pos - 1 + the token itself
        least(col("sz_a") - col("p_a"), col("sz_b") - col("p_b")) >=
          ceil((col("sz_a") + col("sz_b")) * lit(tt)))
      .select("id_a", "id_b")
    val a = ordered.select(col("id").as("id_a"), col("toks").as("sh_a"))
    val b = ordered.select(col("id").as("id_b"), col("toks").as("sh_b"))
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact n-gram Jaccard similarity between two text columns (the verify
    * pass applied to candidate pairs — never run it all-pairs at scale). */
  def ngramJaccard(a: Column, b: Column, k: Int = 3): Column = {
    val sa = graft.text.Shingling.wordShingles(a, k)
    val sb = graft.text.Shingling.wordShingles(b, k)
    size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb))
  }

  // ---------------- embedding cosine ----------------

  /** Cosine similarity between two float-array columns: codegen dot-product
    * kernel, double accumulation, deterministic left-to-right order. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineF(a, b)

  /** (id, rep) mapping collapsing byte-identical vectors to their min-id
    * representative — the embedding-side analog of [[exactGroups]] (arrays
    * are first-class grouping keys in Spark), with the same
    * map-side-combinable groupBy + join-back shape: a window partitioned
    * by the vector would put a hot padded/zero vector on one task. */
  def exactVectorGroups(df: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val withV = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    withV.join(withV.groupBy("v").agg(min("id").as("rep")), "v")
      .select("id", "rep")
  }


  /** Embedding near-duplicate pairs above a cosine threshold — the DEFAULT,
    * scale-safe path: random-hyperplane LSH buckets generate candidates
    * (equi-join on (band, chunk) — no cartesian, no
    * BroadcastNestedLoopJoin), exact cosine verifies each candidate.
    * Bucket rows are slim (id, band, chunk); vectors join back only for
    * candidate pairs. Hot-bucket guards match [[minHashPairs]]: byte-identical
    * vectors collapse to one representative before bucketing (expanded back
    * into the answer), and buckets above `maxBucket` are dropped
    * ([[droppedBucketsEmbedding]] is the audit view).
    *
    * Recall: a pair at angle θ differs per plane w.p. p = θ/π; with b-bit
    * bands and single-bit multi-probe on one side a band collides when its
    * chunks are within hamming 1, so
    * P(miss) = (1 - (1-p)^b - b·p·(1-p)^(b-1))^bands.
    * The 96-plane / 6-band / 16-bit default gives P(miss) ≈ 1.4e-2 at
    * cos = 0.95, ≈ 2e-5 at cos = 0.99, and exactly 0 at cos = 1 (identical
    * signatures), while a random pair (cos ≈ 0) collides anywhere with
    * P ≈ 17·2⁻¹⁶·6 ≈ 1.6e-3 uniform (a clustered corpus skews this up —
    * 16-bit chunks keep the 65536-way band partition selective even then).
    * Recall at the low end of the near-dup range matters → raise bands
    * (e.g. 144 planes / 9 bands: miss ≈ 1.6e-3 at cos 0.95) rather than
    * shrinking bandBits, which costs candidate selectivity.
    *
    * THRESHOLD HONESTY — this is a NEAR-DUP operator, not a dense
    * similarity join. Measured on the test corpus (DuckDB all-pairs), the
    * natural pair-cosine distribution is continuous through [0.3, 0.6] with
    * no gap; at a threshold inside that bulk (e.g. the 0.4 this operator
    * once defaulted to) per-plane agreement for a matching pair is 0.63 vs
    * 0.50 for a random one, and NO banding is simultaneously selective and
    * complete — any sublinear candidate scheme loses recall, and a config
    * that keeps recall 1.0 degenerates to all-pairs (LSH's documented
    * low-similarity failure mode). Use thresholds ≥ ~0.9, where real
    * near-dups live and the formula above has teeth; for exhaustive joins
    * at bulk thresholds use [[embeddingPairsExact]] knowing it is O(n²).
    *
    * SIZING bandBits AT SCALE: random-collision candidates cost
    * ≈ n²·probes·bands / 2^bandBits dot products — the dominant term on a
    * weakly-clustered corpus (measured: q31 wall 2.5s → 8.3s → 19.1s at
    * 1×/10×/30× corpus as this term overtakes the linear signature cost).
    * It stays linear if bandBits grows with log₂(n) (bandBits ≈ log₂(n)
    * + c, c ≈ 4–6). Longer chunks lower each band's hit rate at a fixed
    * cosine, so holding recall means MORE bands: by the formula above,
    * matching the default's 1.4e-2 miss at cos 0.95 with 30-bit chunks
    * takes ~22 bands (660 planes). That trade is the point — signature
    * cost is linear in n·planes while the collision term is quadratic in
    * n, so at 10⁹ vectors the retuned config wins by orders of magnitude.
    * The 16-bit default is right for ~10⁵–10⁶ vectors. */
  def embeddingPairsLsh(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, dim: Int, nPlanes: Int = 96, bandBits: Int = 16,
      seed: Long = 42L, maxBucket: Int = 100000,
      multiProbe: Boolean = true): DataFrame = {
    import graft.functions.VectorFunctions.dotF
    import graft.similarity.Ann
    val planes = Ann.hyperplanes(dim, nPlanes, seed)
    // collapse byte-identical vectors in ONE aggregation (arrays are
    // first-class grouping keys) — reps carry the vector, so the heavy
    // branches below need no window or self-join to reach them; the same
    // aggregate carries the group count for the dup-mass expansion
    val collapsed = df.groupBy(col(vecCol).as("v"))
      .agg(min(col(idCol)).as("id"), count(lit(1)).as("n"))
    val reps = collapsed.select("v", "id")
    val dups = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(collapsed.filter(col("n") > 1)
        .select(col("v"), col("id").as("rep")), "v")
      .select("id", "rep")
    val base = reps.select(col("id"), col("v"),
      sqrt(dotF(col("v"), col("v"))).as("nrm"),
      Ann.signature(col("v"), planes).as("sig"))
    // slim bucket rows; probe side covers single-bit flips so a pair
    // collides when some band's chunks are within hamming 1. Capping the
    // exact side alone bounds every in-bucket product at
    // |probe bucket| × maxBucket — no quadratic bucket survives.
    def buckets(bk: Column => Column, idAs: String) = base
      .select(col("id").as(idAs), explode(bk(col("sig"))).as("b"))
      .select(col(idAs), col("b.band").as("band"), col("b.chunk").as("chunk"))
    val probe = buckets(if (multiProbe) Ann.lshProbeBuckets(_, nPlanes, bandBits)
                        else Ann.lshBuckets(_, nPlanes, bandBits), "id_a")
    val exact = capBuckets(buckets(Ann.lshBuckets(_, nPlanes, bandBits), "id_b"),
      Seq("band", "chunk"), maxBucket)
    val cands = probe.join(exact, Seq("band", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val a = base.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = base.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    // verify first, dedup after: band-duplicate candidates cost one extra
    // dot product each, while the dedup shuffle shrinks to the answer size
    val repPairs = cands.join(a, "id_a").join(b, "id_b")
      .filter(dotF(col("v_a"), col("v_b")) / col("n_a") / col("n_b") > threshold)
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("s", lit(1.0))
    expandPairs(repPairs, dups, "s", lit(1.0))
      .select("id_a", "id_b")
  }

  /** Hyperplane-LSH buckets that exceeded maxBucket (band, chunk, size),
    * computed over the same exact-collapsed representatives
    * [[embeddingPairsLsh]] actually bands — the audit view for its cap. */
  def droppedBucketsEmbedding(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, nPlanes: Int = 96, bandBits: Int = 12, seed: Long = 42L,
      maxBucket: Int = 100000): DataFrame = {
    import graft.similarity.Ann
    val planes = Ann.hyperplanes(dim, nPlanes, seed)
    val groups = exactVectorGroups(df, vecCol, idCol)
    val reps = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(groups.filter(col("id") === col("rep")).select("id"), "id")
    reps.select(col("id"),
        explode(Ann.lshBuckets(Ann.signature(col("v"), planes), nPlanes, bandBits)).as("b"))
      .groupBy(col("b.band").as("band"), col("b.chunk").as("chunk"))
      .agg(count(lit(1)).as("size"))
      .filter(col("size") > maxBucket)
  }

  /** All-pairs embedding near-dup (theta join, O(n²)) — the small-SF oracle
    * cross-check for [[embeddingPairsLsh]] ONLY; never the corpus path. */
  def embeddingPairsExact(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.dotF
    val withNorm = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(dotF(col(vecCol), col(vecCol))).as("nrm"))
    val a = withNorm.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
    val b = withNorm.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .filter(dotF(col("v_a"), col("v_b")) / col("n_a") / col("n_b") > threshold)
      .select(col("id_a"), col("id_b"))
  }

  // ---------------- duplicate clustering (connected components) ----------------

  /** Connected components over an undirected pair list — the operator that
    * turns near-duplicate PAIRS into duplicate CLUSTERS (transitive
    * closure), making "keep one per cluster" principled: pair-wise removal
    * either drops both endpoints of a chain a–b–c or keeps near-dups whose
    * only witness was a removed middle document.
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14). Each round is two
    * min-aggregations + two joins; NO per-node neighbor list is ever
    * materialized, so the hot center of a 10⁶-member boilerplate cluster
    * costs one min() group, not a 10⁶-element array on one row. The edge
    * set converges to per-component stars centered on the component minimum
    * in O(log n) rounds regardless of graph diameter (min-label propagation
    * needs O(diameter) rounds — a pathological dup chain kills it).
    * Lineage is cut every round ([[Lineage]]; a `checkpointDir` stays the
    * session's checkpoint dir); iterative DataFrame plans
    * otherwise grow without bound. The loop stops on the first round
    * whose output is a star forest (see `isStarForest` below), so a
    * converged graph pays no confirming round; the rounds run are noted
    * as `cc.roundsRun` ([[QueryLog]]).
    *
    * Input rows are (aCol, bCol) node pairs; self-pairs are dropped. The
    * id columns must already be integral (byte/short/int/long).
    *
    * The canonical edge set passes the answer-sized gate
    * ([[AnswerSized]]): at or under the cap it is solved on the driver
    * with a [[UnionFind]] and returned as a local relation — identical
    * labels, since both paths converge to component minima, without the
    * fixpoint's per-round scheduling floor. Over the cap, or with a
    * reliable `checkpointDir`, the fixpoint runs on the landed edges.
    *
    * Returns (id, cluster_id) — one row per node appearing in `pairs`,
    * cluster_id = the minimum id of the node's component. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxRounds: Int = 50, checkpointDir: Option[String] = None): DataFrame = {
    PageRank.requireIntegral("connectedComponents", pairs, aCol, bCol)
    val s = pairs.sparkSession
    import s.implicits._
    // canonical u < v edges
    val canonical = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
    var edges = AnswerSized.collectIfUnder("cc", canonical, checkpointDir) match {
      case Left(rows) =>
        val uf = new UnionFind
        rows.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
        return uf.labels.toSeq.toDF("id", "cluster_id")
      case Right(landed) => landed
    }
    // only the unprobed reliable-checkpoint frame can still be empty
    if (checkpointDir.isDefined && edges.isEmpty)
      return Seq.empty[(Long, Long)].toDF("id", "cluster_id")

    def bothDirs(e: DataFrame) =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))

    // Both stars exploit that every round's edge set is CANONICAL
    // (u < v — the initial distinct canonicalizes, largeStar emits
    // m ≤ u < v, smallStar emits m < v and m < u): bothDirs(e)'s
    // `v > u` half IS e and its `v < u` half IS flip(e), so the join
    // probe sides ship |e| rows instead of 2|e| and the post-join
    // direction filters vanish (OPTIMIZATION_r15.md: −18/−25% on the
    // 200k-edge and answer-sized loads, output-identity asserted). Only
    // the min-neighbor aggregate still reads both directions.

    // large-star: every neighbor v > u re-links to m = min(Γ(u) ∪ {u}).
    // m ≤ u < v, so (m, v) is already canonical.
    def largeStar(e: DataFrame) = {
      val m = bothDirs(e).groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      e.join(m, "u")
        .select(col("m").as("u"), col("v")).distinct()
    }

    // small-star: every neighbor v < u (and u itself) re-links to
    // m = min of u's smaller neighbors. m < v and m < u throughout.
    def smallStar(e: DataFrame) = {
      val d = e.select(col("v").as("u"), col("u").as("v"))
      val m = d.groupBy("u").agg(min(col("v")).as("m"))
      d.join(m, "u").filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v"))
        .unionByName(m.select(col("m").as("u"), col("u").as("v")))
        .distinct()
    }

    // A star forest — every leaf has one center and no center is a leaf
    // — is exactly a fixed point of smallStar∘largeStar. The star rounds
    // keep the components, so each star is one component, and its
    // center, below all its leaves, is the component minimum. One
    // map-side-combined aggregate per node counts its edges and its leaf
    // roles: a leaf with a second edge breaks the certificate.
    def isStarForest(e: DataFrame): Boolean =
      e.select(explode(array(
          struct(col("u").as("x"), lit(0L).as("leaf")),
          struct(col("v").as("x"), lit(1L).as("leaf")))).as("r"))
        .groupBy(col("r.x")).agg(sum(col("r.leaf")).as("leaves"), count(lit(1)).as("n"))
        .filter(col("leaves") > 0 && col("n") > 1)
        .isEmpty

    // The per-round cut is LAZY: the certificate aggregate that
    // immediately follows is a full scan, so ONE job materializes the
    // round's blocks AND reads the certificate — the eager form paid a
    // separate materialization job per round (pure fixed latency on
    // answer-sized graphs, where scheduling, not data, is the round cost).
    var round = 0
    var star = false
    while (!star && round < maxRounds) {
      edges = Lineage.cutLazy(smallStar(largeStar(edges)), checkpointDir)
      round += 1
      star = isStarForest(edges)
    }
    QueryLog.note("cc.roundsRun", round.toLong)
    if (!star) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxRounds rounds")
    // converged star edges are exactly (component_min, member)
    edges.select(col("v").as("id"), col("u").as("cluster_id"))
      .unionByName(edges.select(col("u").as("id"), col("u").as("cluster_id")).distinct())
  }

  /** INCREMENTAL connected components — the delta discipline (q147/
    * q192/q221) applied to cluster MAINTENANCE: a new batch of near-dup
    * pairs is adjudicated against the STANDING component map without
    * ever re-running the corpus-wide fixpoint. The union graph's
    * components differ from the standing ones only where a delta pair
    * connects them, and every standing component is already summarized
    * by its representative — so it suffices to (1) map the delta pairs'
    * endpoints to their standing reps (nodes the map has never seen are
    * their own rep), (2) solve the DELTA-SIZED rep graph, and (3)
    * relabel. Exactness: a standing rep is its component's minimum node
    * id, and a fresh node's rep is itself, so the min over merged reps IS
    * the min over the union component's members — the incremental labels
    * equal a full recompute's, node for node (the oracle checks precisely
    * that identity).
    *
    * Scale shape: the standing map is touched by exactly two scans and
    * ZERO exchanges (a broadcast-semi probe for the endpoints' reps —
    * the q197 visited-index discipline — and one relabel scan joined
    * against the broadcast answer-sized merge table); the rep graph is
    * bounded by the DELTA's pair count, never the corpus's. Delta pairs
    * internal to one standing component collapse to self-loops and cost
    * nothing.
    *
    * The delta pairs pass the answer-sized gate ([[AnswerSized]]). At
    * or under the cap the whole fold is orchestrated on the driver: one
    * probe scan collects the touched reps, a [[UnionFind]] merges them,
    * and the merge table feeds the relabel scan. Over the cap the
    * distributed fold continues from the gate's landed pairs, so the
    * pair plan is never re-run. All four id columns must be integral.
    * A `checkpointDir` cuts lineage as in [[connectedComponents]]
    * ([[Lineage]]; it stays the session's checkpoint dir).
    *
    * Returns (node, old_rep, new_rep), all long, for every node whose
    * label CHANGES: members of standing components that merged, plus
    * fresh nodes attaching to anything smaller than themselves (their
    * old_rep is themselves). Apply with a keyed upsert into the standing
    * map; unchanged nodes never ship. */
  def deltaComponents(standingMap: DataFrame, deltaPairs: DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    PageRank.requireIntegral("deltaComponents", standingMap, "id", "cluster_id")
    PageRank.requireIntegral("deltaComponents", deltaPairs, "id_a", "id_b")
    val session = deltaPairs.sparkSession
    import session.implicits._
    val sm = standingMap.select(col("id"), col("cluster_id"))
    // the relabel: ONE standing-map scan against a broadcast merge table
    def relabel(merges: DataFrame): DataFrame = sm
      .join(broadcast(merges), sm("cluster_id") === merges("rep"))
      .select(sm("id").cast("long").as("node"),
        sm("cluster_id").cast("long").as("old_rep"), col("new_rep"))
    val pairs0 = deltaPairs
      .select(col("id_a").cast("long").as("id_a"), col("id_b").cast("long").as("id_b"))
      .filter(col("id_a") =!= col("id_b"))

    val pairs = AnswerSized.collectIfUnder("deltaComponents", pairs0, checkpointDir) match {
      case Left(rows) =>
        val pairsArr = rows.map(r => (r.getLong(0), r.getLong(1)))
        val endpoints = pairsArr.flatMap(p => Array(p._1, p._2)).distinct.sorted
        // the ONE standing probe scan: reps for the touched ids
        val touched: Array[(Long, Long)] =
          if (endpoints.isEmpty) Array.empty
          else sm.join(broadcast(endpoints.toSeq.toDF("id")), Seq("id"), "left_semi")
            .select(col("id").cast("long"), col("cluster_id").cast("long"))
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        val rep = scala.collection.mutable.LongMap.from(endpoints.map(id => id -> id) ++ touched)
        val uf = new UnionFind
        pairsArr.foreach { case (a, b) => uf.union(rep(a), rep(b)) }
        val merges = uf.labels.filter { case (r, root) => r != root }
        val newRep = merges.toMap
        val standingIds = touched.iterator.map(_._1).toSet
        // fresh nodes (never in the map, so their own rep) relabel here
        val fromFresh = endpoints.iterator
          .filter(id => !standingIds.contains(id))
          .flatMap(id => newRep.get(id).map(nr => (id, id, nr)))
          .toSeq.toDF("node", "old_rep", "new_rep")
        return relabel(merges.toSeq.toDF("rep", "new_rep")).unionByName(fromFresh)
      case Right(landed) => landed
    }

    // The three landed intermediates below are LAZY checkpoints: each
    // one's first consumer is a full scan (a distinct or a broadcast
    // build), so the materialization rides that job instead of paying a
    // separate eager job per table — scheduling round-trips are the
    // dominant cost at answer-sized deltas.
    val endpoints = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id"))).distinct()
    // the standing map's reps for delta-touched ids: endpoint keys
    // broadcast over ONE map scan — the map itself never shuffles
    val smTouched = sm
      .join(broadcast(endpoints), Seq("id"), "left_semi")
      .localCheckpoint(false) // delta-sized
    val epReps = endpoints
      .join(broadcast(smTouched), Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("rep"))
      .localCheckpoint(false) // delta-sized
    val repGraph = pairs
      .join(broadcast(epReps.select(col("id").as("id_a"), col("rep").as("ra"))), "id_a")
      .join(broadcast(epReps.select(col("id").as("id_b"), col("rep").as("rb"))), "id_b")
      .select(col("ra"), col("rb")).filter(col("ra") =!= col("rb")).distinct()
    // the components of the delta-sized rep graph; reps whose label
    // moves are exactly the merge events (answer-sized)
    val merges = connectedComponents(repGraph, "ra", "rb",
        checkpointDir = checkpointDir)
      .filter(col("cluster_id") =!= col("id"))
      .select(col("id").as("rep"), col("cluster_id").as("new_rep"))
      .localCheckpoint(false)
    // the fresh nodes (never in the map): old label = themselves
    val fromFresh = epReps
      .join(broadcast(smTouched.select(col("id"))), Seq("id"), "left_anti")
      .join(broadcast(merges), Seq("rep"))
      .select(col("id").as("node"), col("id").as("old_rep"), col("new_rep"))
    relabel(merges).unionByName(fromFresh)
  }
}

/** Min-rooted union-find over long ids with path compression. Every union
  * points the larger root at the smaller, so by induction each root is
  * the minimum id of its set: `find(x)` is x's component minimum, the
  * label the distributed fixpoint converges to. Ids join on first sight. */
private[graft] final class UnionFind {
  private val parent = new scala.collection.mutable.LongMap[Long]()

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val n = parent(c); parent.update(c, r); c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val (ra, rb) = (find(a), find(b))
    if (ra < rb) parent.update(rb, ra) else if (rb < ra) parent.update(ra, rb)
  }

  /** (id, component minimum) for every id seen, in id order. */
  def labels: Array[(Long, Long)] = parent.keys.toArray.sorted.map(x => (x, find(x)))
}
