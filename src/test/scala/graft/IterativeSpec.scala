package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.dedup.Dedup
import graft.ops.{Bfs, LabelProp, Lineage, PageRank, Scc, Sssp}

/** The iterative graph operators' merged paths: PageRank's entry points
  * agree wherever their recurrences coincide, every operator that takes
  * a `checkpointDir` gives the same answer with it as without, and a
  * reliable lineage cut writes under the dir its call passed. */
class IterativeSpec extends SparkSpec {
  import spark.implicits._

  /** Checks `prop` on `samples` generated cases from a fixed seed. */
  private def check(samples: Int)(prop: Prop): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(samples).withInitialSeed(Seed(20261019L))
    val result = Test.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  /** Random directed graphs: scattered edges over up to 25 nodes, a
    * chain, self-loops and duplicated edges. */
  private val graphs: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(1L, 25L)
    node = Gen.choose(0L, n)
    scattered <- Gen.nonEmptyListOf(Gen.zip(node, node))
    chainFrom <- node
    chainLen <- Gen.choose(0, 8)
    loops <- Gen.listOf(node)
  } yield {
    val base = scattered.take(40) ++ (chainFrom until chainFrom + chainLen).map(i => (i, i + 1)) ++
      loops.take(3).map(x => (x, x))
    base ++ base.take(3)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def edges(g: Seq[(Long, Long)]): DataFrame = g.toDF("src", "dst")

  test("PageRank: runToFixpoint at tol 0 ≡ run; all-ones runWeighted ≡ run; PPR seeded everywhere ≡ run") {
    check(4)(Prop.forAll(graphs, Gen.choose(0, 3)) { (g, n) =>
      val e = edges(g)
      val ref = rows(PageRank.run(e, n))
      val nodes = (g.map(_._1) ++ g.map(_._2)).distinct.toDF("node")
      (rows(PageRank.runToFixpoint(e, n, 0L)._1) == ref) :| "runToFixpoint" &&
        (rows(PageRank.runWeighted(g.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"), n)) == ref) :|
          "runWeighted" &&
        (rows(PageRank.runPersonalized(e, nodes, n)) == ref) :| "runPersonalized"
    })
  }

  private val Cap = "graft.cc.driverEdgeCap"

  /** A random graph plus a dangling node, an edge from and an edge to a
    * null id, as long or string ids: (edges, weighted edges carrying 1–4,
    * seeds holding a graph node, a node not in the graph and a null). */
  private def rankCase(g: Seq[(Long, Long)], asString: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val rows: Seq[(Option[Long], Option[Long])] = g.map { case (a, b) => (Some(a), Some(b)) } ++
      Seq((Some(g.head._1), Some(1000L)), (None, Some(g.head._2)), (Some(g.head._1), None))
    def ids(df: DataFrame, cols: String*): DataFrame =
      if (!asString) df
      else df.select(df.columns.map(c => if (cols.contains(c)) df(c).cast("string").as(c) else df(c)): _*)
    (ids(rows.toDF("src", "dst"), "src", "dst"),
      ids(rows.zipWithIndex.map { case ((a, b), i) => (a, b, 1L + i % 4) }.toDF("src", "dst", "w"),
        "src", "dst"),
      ids(Seq(Some(g.head._1), Some(999L), None).toDF("node"), "node"))
  }

  test("PageRank: every entry point gives the same rows, schema and rounds under the cap as over it") {
    def result(df: DataFrame) = (rows(df), df.schema)
    // (string ids, rounds, runToFixpoint's tolerance), one per sample
    val settings = Iterator.continually(Seq((false, 0, 0L), (true, 2, 2000L), (false, 3, 0L))).flatten
    check(3)(Prop.forAll(graphs) { g =>
      val (asString, n, tol) = settings.next()
      val (e, w, seeds) = rankCase(g, asString)
      def all() = Seq(
        "run" -> result(PageRank.run(e, n)),
        "runWeighted" -> result(PageRank.runWeighted(w, n)),
        "runPersonalized" -> result(PageRank.runPersonalized(e, seeds, n)),
        "runToFixpoint" -> { val (r, k) = PageRank.runToFixpoint(e, n + 3, tol); (result(r), k) })
      val driver = all()
      val dist = withConf(Cap, "0")(all())
      val wrong = driver.zip(dist).collect { case ((name, a), (_, b)) if a != b => s"$name: $a vs $b" }
      wrong.isEmpty :| s"string ids $asString, $n rounds: ${wrong.mkString("; ")}"
    })
  }

  test("PageRank overflow fails loudly under the cap as over it") {
    // 10⁶ · 10¹³ > 2⁶³: the first round's weighted share overflows
    val e = Seq((1L, 2L, 10000000000000L), (1L, 3L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    def arithmetic(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] || arithmetic(t.getCause))
    for (cap <- Seq("100000", "0")) {
      val ex = intercept[Exception](withConf(Cap, cap)(PageRank.runWeighted(e, 1).collect()))
      assert(arithmetic(ex), s"cap=$cap: $ex")
    }
  }

  test("Sssp: runToFixpoint ≡ runRounds for the rounds it ran") {
    check(4)(Prop.forAll(graphs) { g =>
      val e = g.map { case (s, d) => (s, d, (s * 7 + d) % 5) }.toDF("src", "dst", "w")
      val (fix, r) = Sssp.runToFixpoint(e, g.head._1, 30)
      rows(fix) == rows(Sssp.runRounds(e, g.head._1, r))
    })
  }

  /** Reliable checkpoint data files (`rdd-N/part-*`) under `dir`. */
  private def checkpointFiles(dir: File): Int = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(dir).count(_.getName.startsWith("part-"))
  }

  test("Lineage: cuts keep the answer; a reliable cut writes under the dir its call passed") {
    val dirs = Seq.fill(2)(Files.createTempDirectory("lineage").toFile)
    def counts = dirs.map(checkpointFiles)
    val ds = spark.range(20).toDF("id")
    val ref = rows(ds)
    val local = rows(Lineage.cut(ds, None)) ++ rows(Lineage.cutLazy(ds, None))
    assert(local == ref ++ ref && counts == Seq(0, 0), s"local cuts: $local, files $counts")
    val cuts: Seq[(String, (DataFrame, Option[String]) => DataFrame)] = Seq(
      "cut" -> ((d, cd) => Lineage.cut(d, cd)),
      "cutLazy" -> ((d, cd) => Lineage.cutLazy(d, cd)))
    // each call passes the other dir than the call before it, so a rule
    // that keeps the first dir set on the context shows as files landing
    // in the wrong one
    val wrong = (0 until 4).flatMap { i =>
      val (name, cut) = cuts(i / 2)
      val mine = i % 2
      val before = counts
      val got = rows(cut(ds, Some(dirs(mine).toString)))
      val after = counts
      (if (got == ref) Nil else Seq(s"$name #$i: answer $got")) ++
        (if (after(mine) > before(mine) && after(1 - mine) == before(1 - mine)) Nil
         else Seq(s"$name #$i: checkpoint files per dir $before -> $after"))
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("every lineage-taking graph operator gives the same answer with a checkpointDir") {
    val dir = Some(Files.createTempDirectory("lineage_ops").toString)
    check(2)(Prop.forAll(graphs) { g =>
      val e = edges(g)
      val w = g.map { case (s, d) => (s, d, 1 + (s + d) % 4) }.toDF("src", "dst", "w")
      val seeds = Seq(g.head._1).toDF("node")
      val half = g.take(g.size / 2).filter(p => p._1 != p._2)
      val sm = PipelineSpec.unionFind(half).toSeq.toDF("id", "cluster_id")
      val delta = g.drop(g.size / 2).toDF("id_a", "id_b")
      val ops: Seq[(String, Option[String] => Any)] = Seq(
        "PageRank.run" -> (cd => rows(PageRank.run(e, 2, cd))),
        "PageRank.runWeighted" -> (cd => rows(PageRank.runWeighted(w, 2, cd))),
        "PageRank.runPersonalized" -> (cd => rows(PageRank.runPersonalized(e, seeds, 2, cd))),
        "PageRank.runToFixpoint" -> { cd =>
          val (r, n) = PageRank.runToFixpoint(e, 2, 0L, cd); (rows(r), n) },
        "Bfs.run" -> (cd => rows(Bfs.run(e, seeds, 2, cd))),
        "Sssp.runRounds" -> (cd => rows(Sssp.runRounds(w, g.head._1, 2, cd))),
        "Sssp.runToFixpoint" -> { cd =>
          val (r, n) = Sssp.runToFixpoint(w, g.head._1, 30, cd); (rows(r), n) },
        "LabelProp.run" -> (cd => rows(LabelProp.run(e, "src", "dst", 2, cd))),
        "Dedup.connectedComponents" -> (cd =>
          rows(Dedup.connectedComponents(e, "src", "dst", checkpointDir = cd))),
        "Dedup.deltaComponents" -> (cd => rows(Dedup.deltaComponents(sm, delta, cd))))
      val wrong = ops.flatMap { case (name, op) =>
        val (plain, reliable) = (op(None), op(dir))
        if (plain == reliable) Nil else Seq(s"$name: $reliable, without the dir $plain")
      }
      wrong.isEmpty :| wrong.mkString("; ")
    })
  }

  test("Scc: concurrent calls each note their own propagation steps") {
    // a directed cycle is one component, whose labels take about n steps
    // to travel round it
    def cycle(n: Int) = (0 until n).map(i => (i.toLong, (i + 1L) % n)).toDF("src", "dst")
    /** The `scc.propSteps` notes `body` leaves, sorted. */
    def steps(body: => Unit): Seq[Long] =
      notes(body).collect { case ("scc.propSteps", n) => n }.sorted
    val short = steps(Scc.scc(cycle(3), "src", "dst").collect())
    val long = steps(Scc.scc(cycle(9), "src", "dst").collect())
    assert(short.size == 1 && long.size == 1 && short.head < long.head, s"$short vs $long")
    val both = steps {
      val calls = Seq(3, 9).map(n => new Thread(() => Scc.scc(cycle(n), "src", "dst").collect()))
      calls.foreach(_.start())
      calls.foreach(_.join())
    }
    assert(both == short ++ long, s"concurrent calls noted $both, alone $short and $long")
  }
}
