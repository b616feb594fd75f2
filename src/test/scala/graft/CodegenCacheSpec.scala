package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StructField}

import graft.catalog.Catalog
import graft.dedup.Dedup
import graft.ops.{PageRank, Profile, QueryProfile}

/** Generated code compiles once per JVM: the session's class cache holds
  * the iterative families' working set, so a repeated pass over freshly
  * read inputs reuses every class it compiled, and `primaryKeyCandidates`
  * plans the same code on every call. */
class CodegenCacheSpec extends SparkSpec {
  import spark.implicits._

  /** Janino compilations the block caused. */
  private def compiles(body: => Any): Long = QueryProfile.of(spark)(body)._2.compiles

  private lazy val dir = Files.createTempDirectory("codegen_cache").toString

  private def save(df: DataFrame, name: String): String = {
    val p = s"$dir/$name.parquet"
    df.repartition(2).write.mode("overwrite").parquet(p)
    p
  }

  /** Components of 2–5 nodes, `n` edges, ids offset by `base`. */
  private def components(n: Int, base: Long): DataFrame =
    (0 until n).map(i => (base + i / 4 * 5 + i % 4, base + i / 4 * 5 + i % 4 + 1)).toDF("a", "b")

  test("a warm pass of the graph and dedup families recompiles at most a tenth of the cold pass's classes") {
    val small = save(components(120, 0), "cc_small")
    val big = save(components(240, 10000), "cc_big")
    val prEdges = save((0 until 400).map(i => (i % 90L, (i * 7 + 3) % 90L)).toDF("src", "dst"), "pr")
    val words = Seq("delta", "lake", "spark", "graph", "merge", "table", "query", "plan")
    val docs = save((0 until 80).map(i => (i.toLong,
      (0 until 30).map(w => words((i / 2 * 3 + w * (w + 1)) % words.size)).mkString(" "))).toDF("doc_id", "text"),
      "docs")
    val out = s"$dir/out"
    def write(name: String, df: DataFrame): Unit = df.write.mode("overwrite").parquet(s"$out/$name")
    def pass(): Unit = withConf("graft.cc.driverEdgeCap", "200") {
      write("cc_driver", Dedup.connectedComponents(spark.read.parquet(small), "a", "b"))
      write("cc_dist", Dedup.connectedComponents(spark.read.parquet(big), "a", "b"))
      write("pagerank", PageRank.run(spark.read.parquet(prEdges), 2))
      write("minhash", Dedup.minHashPairs(spark.read.parquet(docs), "text", "doc_id"))
      Catalog.primaryKeyCandidates(spark.read.parquet(docs))
    }
    val cold = compiles(pass())
    val warm = compiles(pass())
    assert(warm * 10 <= cold, s"cold pass compiled $cold classes, warm pass $warm")
    assert(spark.read.parquet(s"$out/minhash").count() > 0, "the documents hold no near-duplicate pair")
  }

  test("a plan whose stages come back under other codegen ids compiles nothing the second time") {
    val t = spark.read.parquet(save((0 until 200).map(i => (i % 7L, i.toLong, i * 3L)).toDF("k", "v", "x"),
      "swap"))
    val a = t.groupBy("k").agg(sum($"v" * 11 + $"x").as("s"))
    val b = t.groupBy("k").agg(max($"x" - $"v" * 13).as("s"))
    // AQE numbers the stages in plan order, so the second union plans
    // each side's stages at the other side's ids
    def swapped(): Long = { a.unionByName(b).collect(); compiles(b.unionByName(a).collect()) }
    val withIds = withConf("spark.sql.codegen.useIdInClassName", "true")(swapped())
    assert(withIds > 0, "the swapped plan reused every class even with stage ids in the class names")
    val n = swapped()
    assert(n == 0, s"the swapped plan compiled $n classes")
  }

  /** The aggregate `primaryKeyCandidates` had: one `count_distinct` per
    * column, which Spark rewrites into an expand. */
  private def distinctCountKeys(df: DataFrame, cols: Seq[String]): Seq[String] = {
    val r = df.agg(count(lit(1)), cols.map(c => count_distinct(col(c))): _*).head()
    cols.indices.filter(j => r.getLong(j + 1) == r.getLong(0)).map(cols)
  }

  /** The plan `Profile.profile` had: count, count_distinct, min and max
    * of every column in one aggregate, reshaped to one row per column. */
  private def profileRef(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    val aggd = df.agg(count(lit(1)).as("nr"), fields.flatMap { f =>
      val c = col(f.name)
      Seq(count(c).as(s"cnt_${f.name}"), count_distinct(c).as(s"nd_${f.name}"),
        min(c).as(s"mn_${f.name}"), max(c).as(s"mx_${f.name}"))
    }: _*)
    def entry(f: StructField): Column = {
      val (mn, mx) = (col(s"mn_${f.name}"), col(s"mx_${f.name}"))
      val num = f.dataType.isInstanceOf[NumericType]
      struct(lit(f.name).as("col_name"), col("nr").as("n_rows"),
        (col("nr") - col(s"cnt_${f.name}")).as("n_nulls"), col(s"nd_${f.name}").as("n_distinct"),
        (if (num) mn.cast("double") else lit(null).cast("double")).as("min_num"),
        (if (num) mx.cast("double") else lit(null).cast("double")).as("max_num"),
        (if (num) lit(null).cast("string") else mn.cast("string")).as("min_str"),
        (if (num) lit(null).cast("string") else mx.cast("string")).as("max_str"))
    }
    aggd.select(explode(array(fields.map(entry): _*)).as("e")).select(col("e.*"))
  }

  /** Rows as values, doubles as text (NaN equals itself) with -0.0 read
    * as 0.0: min and max may return either zero, by the order partial
    * aggregates meet. */
  private def values(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map { case d: Double => (d + 0.0).toString; case v => v })

  test("primaryKeyCandidates: count_distinct's answers, no more jobs, no compile on a warm call") {
    val nan = Double.NaN
    val table = Seq[(java.lang.Long, java.lang.Double, String, java.lang.Double, Int)](
      (1L, 0.0, "a", 1.5, 1), (2L, -0.0, "b", nan, 1), (3L, nan, null, 2.5, 2),
      (4L, nan, "c", -0.0, 2), (null, 1.0, "d", 0.0, 3))
      .toDF("id", "x", "s", "y", "k")
      .withColumn("pair", struct($"k", $"s"))
    val cases = Map(
      "mixed" -> table,
      "unique" -> table.filter($"id".isNotNull),
      "empty" -> table.filter(lit(false)),
      "one row" -> table.limit(1))
    for ((name, df) <- cases) {
      val p = save(df, s"pk_${name.replace(' ', '_')}")
      val loaded = spark.read.parquet(p)
      assert(values(Profile.profile(loaded)) == values(profileRef(loaded)), name)
      assert(Catalog.primaryKeyCandidates(loaded) == distinctCountKeys(loaded, loaded.columns.toSeq), name)
      assert(Catalog.primaryKeyCandidates(loaded, Seq("s", "id")) == distinctCountKeys(loaded, Seq("s", "id")), name)
    }
    // x repeats only as -0.0 = 0.0 and NaN = NaN, as in a grouping; s has a null
    assert(Catalog.primaryKeyCandidates(spark.read.parquet(s"$dir/pk_unique.parquet")) == Seq("id", "y", "pair"))

    val p = s"$dir/pk_mixed.parquet"
    val cols = Seq("id", "x", "s", "y", "k", "pair")
    val refJobs = QueryProfile.of(spark)(distinctCountKeys(spark.read.parquet(p), cols))._2.jobs
    val (keys, pk) = QueryProfile.of(spark)(Catalog.primaryKeyCandidates(spark.read.parquet(p)))
    assert(keys == Seq("pair") && pk.jobs <= refJobs, s"${pk.jobs} jobs, count_distinct took $refJobs")
    Profile.profile(spark.read.parquet(p)).collect()
    for (call <- 1 to 3) {
      val n = compiles(Catalog.primaryKeyCandidates(spark.read.parquet(p)))
      assert(n == 0, s"warm call $call compiled $n classes")
      val m = compiles(Profile.profile(spark.read.parquet(p)).collect())
      assert(m == 0, s"warm Profile.profile call $call compiled $m classes")
    }
  }
}
