package graft.examples

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic test-data generator for scale-factor step-up benchmarking
  * (SURVEY §6): emits the same ten-table schema as the driver's
  * `/root/testdata/sf*` at an arbitrary multiple of sf0.1's row counts,
  * with matching column types, value domains, and key relationships
  * (TPC-H-ish row ratios: customer 150k·sf, orders 1.5M·sf, lineitem
  * ≈ 6M·sf, …). Distributions mirror the driver data (uniform tech-word
  * documents, uniform unit-cube embeddings, weighted order statuses,
  * 30-day event window) so per-query cost scales the way the driver's
  * generator would — this is BENCH data for timing scaling curves, not
  * oracle data; correctness stays gated on the driver's sf0.01.
  *
  * Determinism: every column is a pure function of the row id via hash(),
  * so reruns and partitionings produce identical tables.
  *
  * Run: sbt "runMain graft.examples.GenData /tmp/graft_sf1 1.0"
  */
object GenData {

  private val Vocab = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "index", "join", "shuffle", "cache", "plan", "stage",
    "task", "node", "disk", "block", "read", "write", "map", "reduce")

  /** uniform [0,1) double, pure function of (id, salt) */
  private def u(salt: Int) = (pmod(hash(col("id"), lit(salt)), lit(1000000)) / 1000000.0)

  /** CLUSTERED embeddings (vec_id, embedding, label): `nClusters` uniform
    * [-1,1]^dim centers, each vector = its cluster's center + uniform
    * [-noise, noise] per-component jitter. This is the structure real
    * text/image embedding corpora have and the IVF coarse quantizer
    * exploits (vs the main `embeddings` table, which stays near-isotropic
    * like the driver corpus) — see examples/IvfProbe for the measured
    * recall-vs-nProbe curve on it. Deterministic: pure hash of (id, dim). */
  def clusteredEmbeddings(spark: SparkSession, n: Long, dim: Int,
      nClusters: Int, noise: Double): DataFrame = {
    val cluster = pmod(hash(col("id"), lit(50)), lit(nClusters))
    def unit(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column, salt: Int) =
      (pmod(hash(a, b, lit(salt)), lit(2000001)) - lit(1000000)) / 1000000.0
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => (unit(cluster, j, 51) + unit(col("id"), j, 52) * noise).cast("float"))
        .as("embedding"),
      cluster.cast("int").as("label"))
  }

  private def pick(choices: Seq[String], salt: Int) =
    element_at(array(choices.map(lit): _*),
      (pmod(hash(col("id"), lit(salt)), lit(choices.size)) + 1).cast("int"))

  val Usage: String =
    "usage: GenData [outDir [scaleFactor]]  (defaults /tmp/graft_sf1 1.0; " +
      "every table under outDir is overwritten)"

  /** (outDir, scale factor) from the command line, or why it is refused.
    * `outDir` is written with SaveMode.Overwrite, so a flag-like argument
    * is never taken for it, and extra or malformed arguments are errors
    * rather than silently ignored. */
  def parseArgs(args: Seq[String]): Either[String, (String, Double)] =
    args.find(_.startsWith("-")) match {
      case Some(flag) => Left(s"unknown option '$flag'")
      case None if args.length > 2 => Left(s"unexpected argument '${args(2)}'")
      case None =>
        val sf = args.lift(1).fold(Option(1.0))(_.toDoubleOption).filter(x => x > 0 && !x.isInfinite)
        sf.map(args.headOption.getOrElse("/tmp/graft_sf1") -> _)
          .toRight(s"scale factor '${args(1)}' is not a positive number")
    }

  def main(args: Array[String]): Unit = parseArgs(args.toSeq) match {
    case Left(err) =>
      System.err.println(s"GenData: $err\n$Usage")
      sys.exit(2)
    case Right((outDir, sf)) =>
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
      val spark = graft.GraftSession(s"local[$cpus]", cpus)
      try generate(spark, outDir, sf) finally spark.stop()
  }

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    def n(base: Long): Long = math.max(1L, (base * sf).toLong)
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
      System.err.println(s"[gendata] wrote $name")
    }

    // fixed dims (region/nation don't scale in TPC-H)
    import spark.implicits._
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(regions.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("r_regionkey", "r_name")
      .select($"r_regionkey".cast("int"), $"r_name"), "region")
    write((0 until 25).map(i => (i, f"NATION$i%02d", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
      .select($"n_nationkey".cast("int"), $"n_name", $"n_regionkey".cast("int")),
      "nation")

    val nCust = n(150000)
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      pmod(hash(col("id"), lit(1)), lit(25)).cast("int").as("c_nationkey"),
      round(u(2) * 11000 - 1000, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 3)
        .as("c_mktsegment")), "customer")

    write(spark.range(n(10000)).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      pmod(hash(col("id"), lit(4)), lit(25)).cast("int").as("s_nationkey"),
      round(u(5) * 11000 - 1000, 2).as("s_acctbal")), "supplier")

    val nPart = n(200000)
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat(lit("part "), pick(Vocab, 6), lit(" "), pick(Vocab, 7)).as("p_name"),
      concat(lit("Brand#"), pmod(hash(col("id"), lit(8)), lit(25))).as("p_brand"),
      concat(pick(Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"), 9),
        lit(" "), pick(Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"), 10),
        lit(" "), pick(Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"), 11)).as("p_type"),
      (pmod(hash(col("id"), lit(12)), lit(50)) + 1).cast("int").as("p_size"),
      round(u(13) * 2000 + 900, 2).as("p_retailprice")), "part")

    val nOrders = n(1500000)
    write(spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(hash(col("id"), lit(14)), lit(nCust)).as("o_custkey"),
      // ~49% O / 46% F / 5% P, like TPC-H's date-driven split
      when(u(15) < 0.49, "O").when(u(15) < 0.95, "F").otherwise("P").as("o_orderstatus"),
      round(u(16) * 450000 + 850, 2).as("o_totalprice"),
      // 788918400 = 1995-01-01T00:00Z; session TZ is UTC (GraftSession)
      timestamp_seconds(lit(788918400L) +
        (u(17) * 2400).cast("long") * 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 18)
        .as("o_orderpriority")), "orders")

    // ≈4 lines per order (1-7 in TPC-H; the driver's ratio is 4)
    write(spark.range(nOrders * 4).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      pmod(hash(col("id"), lit(19)), lit(nPart)).as("l_partkey"),
      pmod(hash(col("id"), lit(20)), lit(n(10000))).as("l_suppkey"),
      (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"),
      (pmod(hash(col("id"), lit(21)), lit(50)) + 1).cast("double").as("l_quantity"),
      round(u(22) * 100000 + 900, 2).as("l_extendedprice"),
      round(u(23) * 0.1, 2).as("l_discount"),
      round(u(24) * 0.08, 2).as("l_tax"),
      when(u(25) < 0.25, "R").when(u(25) < 0.5, "A").otherwise("N").as("l_returnflag"),
      when(u(26) < 0.5, "O").otherwise("F").as("l_linestatus"),
      timestamp_seconds(lit(788918400L) +
        (u(27) * 2500).cast("long") * 86400L).as("l_shipdate")), "lineitem")

    val nEvents = n(1000000)
    val nUsers = math.max(1L, nCust / 10)
    write(spark.range(nEvents).select(
      col("id").as("event_id"),
      // 30-day window like the driver data; micros precision (the driver's
      // NANOS variant is a parquet-encoding detail Tables.load normalizes)
      // 1704067200 = 2024-01-01T00:00Z
      timestamp_seconds(lit(1704067200L) +
        (u(28) * 30 * 86400).cast("long")).as("ts"),
      pmod(hash(col("id"), lit(29)), lit(nUsers)).as("user_id"),
      when(u(30) < 0.4, "view").when(u(30) < 0.7, "click")
        .when(u(30) < 0.85, "purchase").when(u(30) < 0.95, "signup")
        .otherwise("error").as("event_type"),
      round(u(31) * 100, 2).as("value"),
      concat(lit("{\"k\": "), pmod(hash(col("id"), lit(32)), lit(100)), lit("}"))
        .as("props")), "events")

    // documents: 15-60 words drawn from a HEAPS-LAW vocabulary — 30% from
    // a fixed 40-word head (the stopword-like mass of a real corpus), 70%
    // from a tail whose size grows ∝ nDocs^0.7. A fixed vocabulary would
    // saturate the 3-gram shingle space and make per-shingle document
    // frequency grow ∝ n — the documented adversarial worst case for
    // exact similarity joins (candidates ∝ n²/|vocab|), so scale benches
    // of q30 would measure the corpus, not the operator. With the Heaps
    // tail, distinct shingles grow with the corpus and prefix-token df
    // stays near-flat, like real text.
    // Every 50th doc (id % 50 == 1) is a NEAR-DUP of its predecessor
    // (same generated words + one extra): the dedup operators' answer
    // paths (verify + pair output) then scale with the corpus instead of
    // returning empty at every sf.
    val nDocs = n(50000)
    val nTailVocab = math.max(Vocab.size,
      math.ceil(8.0 * math.pow(nDocs.toDouble, 0.7)).toInt)
    val vocabCol = array(Vocab.map(lit): _*)
    val isNearDup = pmod(col("id"), lit(50)) === 1
    val genId = when(isNearDup, col("id") - 1).otherwise(col("id"))
    val baseText = array_join(transform(
      sequence(lit(1), (pmod(hash(genId, lit(33)), lit(46)) + 15).cast("int")),
      i => when(pmod(hash(genId, i, lit(40)), lit(10)) < 3,
        element_at(vocabCol,
          (pmod(hash(genId, i, lit(34)), lit(Vocab.size)) + 1).cast("int")))
        .otherwise(concat(lit("w"), pmod(hash(genId, i, lit(39)), lit(nTailVocab))))),
      " ")
    write(spark.range(nDocs).select(
      col("id").as("doc_id"),
      when(isNearDup, concat(baseText, lit(" near dup suffix")))
        .otherwise(baseText).as("text"),
      pick(Seq("en", "de", "fr", "es", "zh"), 35).as("lang"),
      concat(lit("src"), pmod(hash(col("id"), lit(36)), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: 64-dim uniform [-1,1] floats (near-isotropic like the
    // driver corpus — pairwise cosines bounded away from 1)
    write(spark.range(n(20000)).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => ((pmod(hash(col("id"), i, lit(37)), lit(2000001)) - lit(1000000)) /
          1000000.0).cast("float")).as("embedding"),
      pmod(hash(col("id"), lit(38)), lit(10)).cast("int").as("label")), "embeddings")
  }
}
