package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.dedup.{Dedup, UnionFind}
import graft.ops.QueryProfile

/** The component family's two paths — the driver union-find under
  * `graft.cc.driverEdgeCap` and the distributed fold over it — proven
  * identical by properties, plus the answer-sized gate's job and
  * run-once pins and the integral-id contract. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = "graft.cc.driverEdgeCap"

  /** Checks `prop` on `samples` generated cases from a fixed seed. */
  private def check(samples: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(samples).withInitialSeed(Seed(20261018L))
    val result = Test.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  /** Random graphs: scattered edges, a chain, a hub, self-loops, and
    * duplicated and reversed copies of some edges. */
  private val graphs: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2L, 80L)
    node = Gen.choose(0L, n)
    scattered <- Gen.listOf(Gen.zip(node, node))
    chainFrom <- node
    chainLen <- Gen.choose(0, 40)
    hub <- node
    spokes <- Gen.listOf(node)
    loops <- Gen.listOf(node)
  } yield {
    val base = scattered ++ (chainFrom until chainFrom + chainLen).map(i => (i, i + 1)) ++
      spokes.map(hub -> _) ++ loops.map(x => (x, x))
    base ++ base.take(7).map(_.swap) ++ base.take(5)
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.as[(Long, Long)].collect().toMap

  private def changes(df: DataFrame): Seq[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSeq.sorted

  /** A standing map (id, cluster_id = component minimum) of `g`. */
  private def standing(g: Seq[(Long, Long)]): Map[Long, Long] =
    PipelineSpec.unionFind(g.filter(e => e._1 != e._2))

  /** What a full recompute says changes when `delta` folds into `before`. */
  private def recount(before: Map[Long, Long], delta: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val stars = before.toSeq.map { case (id, rep) => (rep, id) }
    val full = PipelineSpec.unionFind((stars ++ delta).filter(e => e._1 != e._2))
    (before.keySet ++ full.keySet).toSeq.flatMap { n =>
      val old = before.getOrElse(n, n)
      full.get(n).filter(_ != old).map(nr => (n, old, nr))
    }.sorted
  }

  test("UnionFind labels equal the reference union-find on random edge lists") {
    check(500)(Prop.forAll(graphs) { g =>
      val edges = g.filter(e => e._1 != e._2)
      val uf = new UnionFind
      edges.foreach { case (a, b) => uf.union(a, b) }
      val got = uf.labels
      got.map(_._1).toSeq == got.map(_._1).sorted.toSeq &&
        got.toMap == PipelineSpec.unionFind(edges)
    })
  }

  test("connectedComponents: cap=0 (distributed fixpoint) ≡ the default cap (driver union-find)") {
    check(6)(Prop.forAll(graphs) { g =>
      val df = g.toDF("a", "b")
      val local = labels(Dedup.connectedComponents(df, "a", "b"))
      val dist = withConf(Cap, "0")(labels(Dedup.connectedComponents(df, "a", "b")))
      local == dist && local == PipelineSpec.unionFind(g.filter(e => e._1 != e._2))
    })
  }

  /** Chains and hubs over shuffled ids: shapes the star rounds need
    * several rounds to fold. */
  private val deepGraphs: Gen[Seq[(Long, Long)]] = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    chains <- Gen.choose(1, 3)
    len <- Gen.choose(24, 60)
    hubs <- Gen.choose(0, 2)
  } yield {
    val ids = new scala.util.Random(seed).shuffle((0L until 400L).toList).toIndexedSeq
    val chainEdges = (0 until chains).flatMap { c =>
      (0 until len - 1).map(i => (ids(c * 100 + i), ids(c * 100 + i + 1)))
    }
    // a hub joins the chains' far ends with a fan of spokes on fresh ids
    val hubEdges = (0 until hubs).flatMap { h =>
      val hub = ids(350 + h)
      (0 until chains).map(c => (hub, ids(c * 100 + len - 1 - h))) ++
        (0 until 10).map(k => (hub, ids(300 + h * 20 + k)))
    }
    chainEdges ++ hubEdges
  }

  test("connectedComponents: cap=0 ≡ the reference on chains and hubs that take 3 or more rounds") {
    check(3)(Prop.forAll(deepGraphs) { g =>
      val df = g.toDF("a", "b")
      var dist = Map.empty[Long, Long]
      val rounds = notes {
        dist = withConf(Cap, "0")(labels(Dedup.connectedComponents(df, "a", "b")))
      }.collect { case ("cc.roundsRun", n) => n }
      (dist == PipelineSpec.unionFind(g)) :| "labels" && (rounds.size == 1 && rounds.head >= 3) :| s"rounds $rounds"
    })
  }

  test("deltaComponents: cap=0 ≡ the default cap ≡ a full recompute's label changes") {
    val folds = for {
      g <- graphs
      d <- graphs
      shift <- Gen.choose(0L, 60L) // part of the delta lands on fresh nodes
    } yield (standing(g), d.map { case (a, b) => (a, b + shift) })
    check(5)(Prop.forAll(folds) { case (before, delta) =>
      val sm = before.toSeq.toDF("id", "cluster_id")
      val dp = delta.toDF("id_a", "id_b")
      val local = changes(Dedup.deltaComponents(sm, dp))
      val dist = withConf(Cap, "0")(changes(Dedup.deltaComponents(sm, dp)))
      val expected = recount(before, delta)
      local == expected && dist == expected
    })
  }

  test("deltaComponents rejects non-integral ids on both paths and returns longs on both") {
    val sm = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val dp = Seq((2L, 3L)).toDF("id_a", "id_b")
    val bad = Seq(
      "double pair ids" -> (sm, Seq((1.2, 1.7), (1.7, 3.0)).toDF("id_a", "id_b")),
      "string pair ids" -> (sm, Seq(("1", "3")).toDF("id_a", "id_b")),
      "double map ids" -> (Seq((1.0, 1.0)).toDF("id", "cluster_id"), dp),
      "string map reps" -> (Seq((1L, "1")).toDF("id", "cluster_id"), dp))
    for ((what, (m, p)) <- bad; cap <- Seq("100000", "0")) {
      val ex = intercept[IllegalArgumentException] {
        withConf(Cap, cap)(Dedup.deltaComponents(m, p).collect())
      }
      assert(ex.getMessage.contains("integral"), s"$what at cap=$cap")
    }
    // an int-typed map comes back as (long, long, long) from either path
    val intMap = Seq((1, 1), (2, 1), (5, 5)).toDF("id", "cluster_id")
    val intPairs = Seq((2, 5), (5, 9)).toDF("id_a", "id_b")
    def typed(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.simpleString)
    val local = Dedup.deltaComponents(intMap, intPairs)
    val dist = withConf(Cap, "0")(Dedup.deltaComponents(intMap, intPairs))
    val want = Seq("node" -> "bigint", "old_rep" -> "bigint", "new_rep" -> "bigint")
    assert(typed(local) == want && typed(dist) == want, (typed(local), typed(dist)))
    assert(changes(local) == Seq((5L, 5L, 1L), (9L, 9L, 1L)) && changes(dist) == changes(local))
  }

  // Fixtures for the job pins: parallelized (not local-relation) inputs of
  // four partitions, like a scanned table.
  private val rnd = new scala.util.Random(41)
  private val pinGraph: Seq[(Long, Long)] =
    (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq.fill(300)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
  private val pinMap: Seq[(Long, Long)] = standing(
    Seq.fill(200)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))).toSeq
  private val pinDelta: Seq[(Long, Long)] =
    Seq.fill(120)((rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
  private def parallel(rows: Seq[(Long, Long)], a: String, b: String): DataFrame =
    spark.sparkContext.parallelize(rows, 4).toDF(a, b)

  test("the answer-sized gate: fewer jobs for connectedComponents, no more for the delta fold") {
    val (cc, ccProfile) = QueryProfile.of(spark) {
      Dedup.connectedComponents(parallel(pinGraph, "a", "b"), "a", "b").collect()
    }
    assert(cc.length == PipelineSpec.unionFind(pinGraph.filter(e => e._1 != e._2)).size)
    // the landing and one probe; a count() before a collect costs two more
    assert(ccProfile.jobs <= 3, s"connectedComponents driver path ran ${ccProfile.jobs} jobs")
    val (fold, foldProfile) = QueryProfile.of(spark) {
      Dedup.deltaComponents(parallel(pinMap, "id", "cluster_id"),
        parallel(pinDelta, "id_a", "id_b")).collect()
    }
    assert(fold.nonEmpty)
    // the landing, one probe, the standing-map scan and the relabel
    assert(foldProfile.jobs <= 6, s"deltaComponents driver fold ran ${foldProfile.jobs} jobs")
  }

  test("an over-cap graph of 2- and 3-node components stops on the star certificate, with fewer jobs") {
    val comps: Seq[(Long, Long)] = (0 until 150).flatMap { c =>
      val b = c * 10L
      if (c % 2 == 0) Seq((b + 1, b)) else Seq((b + 2, b + 1), (b + 1, b))
    }
    val (got, p) = QueryProfile.of(spark) {
      withConf(Cap, "10")(labels(Dedup.connectedComponents(parallel(comps, "a", "b"), "a", "b")))
    }
    assert(got == PipelineSpec.unionFind(comps))
    // the parent's confirming-round fixpoint ran 23 jobs on this input
    assert(p.jobs < 23, s"over-cap connectedComponents ran ${p.jobs} jobs")
  }

  test("an over-cap delta computes each pair row once: the fold continues from the gate's landing") {
    val computed = spark.sparkContext.longAccumulator("delta pair rows computed")
    val tally = udf { (x: Long) => computed.add(1); x }.asNondeterministic()
    val dp = parallel(pinDelta, "a", "b").select(tally($"a").as("id_a"), $"b".as("id_b"))
    val sm = parallel(pinMap, "id", "cluster_id")
    val got = withConf(Cap, "2")(changes(Dedup.deltaComponents(sm, dp)))
    assert(got == recount(pinMap.toMap, pinDelta))
    // a probe over the unlanded pairs would evaluate some rows twice
    assert(computed.value == pinDelta.size.toLong, s"${computed.value} pair rows computed")
  }
}
