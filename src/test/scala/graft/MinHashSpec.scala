package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.dedup.Dedup
import graft.ops.QueryProfile

/** `Dedup.minHashPairs` on both sides of the answer-sized gate: the
  * driver path at or under `graft.cc.driverEdgeCap` gives the
  * distributed path's rows and schema, and the native band-key kernel
  * gives the `transform`-per-band expression's keys. */
class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = "graft.cc.driverEdgeCap"

  /** The band keys as one `transform` lambda per band. */
  private def lambdaBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(lit(b), array_join(transform(
          slice(sig, b * rowsPerBand + 1, rowsPerBand), x => x.cast("string")), ",")).as("bkey"))
    }: _*)

  test("lsh_band_keys equals the transform-per-band keys, for null, short and negative signatures") {
    val r = new scala.util.Random(20261020L)
    def value(): java.lang.Long = r.nextInt(8) match {
      case 0 => null
      case 1 => Long.MinValue
      case 2 => -r.nextInt(1000).toLong
      case _ => r.nextLong()
    }
    val sigs = Seq[Array[java.lang.Long]](null, Array.empty) ++
      Seq.fill(3000)(Array.fill(if (r.nextInt(10) == 0) r.nextInt(64) else 64)(value()))
    val local = spark.createDataFrame(sigs.map(Row(_)).asJava,
      StructType(Seq(StructField("sig", ArrayType(LongType)))))
    // a local relation folds the projection by eval; a file scan runs it
    // in generated code
    val path = java.nio.file.Files.createTempDirectory("band_keys").toString + "/sigs"
    local.repartition(2).write.parquet(path)
    for (df <- Seq(local, spark.read.parquet(path)); (bands, rows) <- Seq(21 -> 3, 8 -> 8, 5 -> 13)) {
      val got = df.select($"sig", Dedup.lshBands($"sig", bands, rows).as("b"))
      val want = df.select($"sig", lambdaBands($"sig", bands, rows).as("b"))
      assert(got.schema == want.schema)
      assert(got.collect().toSet == want.collect().toSet, s"bands=$bands rows=$rows")
    }
    val plan = spark.read.parquet(path).select(Dedup.lshBands($"sig", 21, 3))
      .queryExecution.executedPlan.toString
    assert(plan.contains("lsh_band_keys") && !plan.contains("lambda"), plan)
  }

  /** A seeded corpus: exact-duplicate clusters (case and spacing
    * variants of one text), near duplicates (one word changed), texts
    * shorter than k words, and empty and null texts. */
  private def corpus(seed: Long): Seq[String] = {
    val words = "delta lake spark graph merge table query plan join scan page rank index shard"
      .split(" ").toIndexedSeq
    val docs = for {
      bases <- Gen.listOfN(16, Gen.choose(4, 40).flatMap(Gen.listOfN(_, Gen.oneOf(words))))
      exact <- Gen.listOfN(5, Gen.choose(0, 15))
      near <- Gen.listOfN(8, Gen.zip(Gen.choose(0, 15), Gen.oneOf(words)))
      short <- Gen.listOfN(3, Gen.choose(1, 2).flatMap(Gen.listOfN(_, Gen.oneOf(words))))
    } yield {
      val texts = bases.map(_.mkString(" "))
      texts ++
        exact.map(i => "  " + texts(i).toUpperCase.replace(" ", "   ")) ++
        near.map { case (i, w) => (w +: bases(i).tail).mkString(" ") } ++
        short.map(_.mkString(" ")) ++ Seq("", " ", null, null)
    }
    docs.pureApply(Gen.Parameters.default, Seed(seed))
  }

  test("minHashPairs: the driver path ≡ the distributed path (cap 0), rows and schema") {
    // (threshold, maxBucket, id type, nullable ids with one null id)
    val cases = Seq(
      (0.3, 100000, LongType, false),
      (0.5, 100000, IntegerType, false),
      (0.9, 100000, LongType, true),
      (0.5, 2, LongType, false),
      (0.3, 1, IntegerType, true),
      (0.5, 100000, ShortType, true))
    cases.zipWithIndex.foreach { case ((threshold, maxBucket, idType, nullable), i) =>
      val texts = corpus(i.toLong)
      val ids = new scala.util.Random(i).shuffle(texts.indices.map(_ * 7L + 3).toList)
      val rows = texts.zip(ids).zipWithIndex.map { case ((t, id), j) =>
        Row(if (nullable && j == 1) null else id, t)
      }
      val df = spark.createDataFrame(rows.asJava, StructType(Seq(
          StructField("id", LongType, nullable), StructField("text", StringType))))
        .select(col("id").cast(idType).as("id"), col("text"))
      def pairs(): (StructType, Seq[Row]) = {
        val out = Dedup.minHashPairs(df, "text", "id", threshold = threshold, maxBucket = maxBucket)
        (out.schema, out.collect().toSeq)
      }
      val paths = notes {
        val local = pairs()
        val dist = withConf(Cap, "0")(pairs())
        assert(local._1 == dist._1, s"case $i")
        assert(local._2 == dist._2, s"case $i: driver ${local._2.size} rows, distributed ${dist._2.size}")
        assert(local._2.exists(_.getDouble(2) == 1.0), s"case $i: no exact pair")
        assert(maxBucket < 3 || local._2.exists(_.getDouble(2) < 1.0), s"case $i: no near pair")
      }.map(_._1).filter(_.startsWith("minhash."))
      assert(paths == Seq("minhash.driverPath", "minhash.distributed"), s"case $i: $paths")
    }
  }

  test("minHashPairs: a driver answer over the cap continues distributed, with the same rows") {
    val texts = Seq.fill(12)("one boilerplate page repeated verbatim") ++ corpus(99L)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def pairs() = Dedup.minHashPairs(df, "text", "id").collect().toSeq
    val dist = withConf(Cap, "0")(pairs())
    // the 66 pairs of the 12 copies pass a cap of 60 that the 48 landed
    // fingerprints fit under
    var got = Seq.empty[Row]
    val paths = withConf(Cap, "60")(notes { got = pairs() }).map(_._1).filter(_.startsWith("minhash."))
    assert(got == dist)
    assert(paths == Seq("minhash.driverPath", "minhash.distributed"), paths)
  }

  test("minHashPairs: the driver path runs at most a third of the distributed path's jobs") {
    val df = corpus(7L).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    def jobs(): Int = QueryProfile.of(spark)(Dedup.minHashPairs(df, "text", "id").collect())._2.jobs
    val local = jobs()
    val dist = withConf(Cap, "0")(jobs())
    assert(local * 3 <= dist, s"driver path $local jobs, distributed $dist")
  }
}
