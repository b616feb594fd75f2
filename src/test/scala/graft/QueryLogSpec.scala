package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.{QueryLog, QueryLogListener, QueryProfile}

class QueryLogSpec extends SparkSpec {
  import spark.implicits._

  /** Listener-bus delivery is asynchronous — poll until the expected number
    * of events lands (or time out and let the assertion fail loudly). The
    * generous timeout absorbs cold-JVM codegen + a loaded listener bus,
    * which produced sub-1% flakes at 10s. */
  private def awaitPending(l: QueryLogListener, n: Int, timeoutMs: Long = 45000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (l.pending < n && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  test("listener records success and failure rows, flush writes parquet once") {
    val dir = Files.createTempDirectory("qlog").toString + "/log"
    val l = QueryLog.install(spark)
    try {
      Seq(1, 2, 3).toDF("x").filter($"x" > 1).collect()
      // ANSI mode: long overflow in an action throws → onFailure fires
      intercept[Exception] {
        spark.sql("SELECT 9223372036854775807 + CAST(id AS BIGINT) FROM range(2, 3)").collect()
      }
      awaitPending(l, 2)
      assert(l.pending >= 2)
      assert(l.flush(spark, dir) >= 2)
      // give any self-logged flush-write event time to surface, then drain
      // again: the re-entrancy guard means the log must contain no
      // write-action ops (our own queries are collect/count only)
      Thread.sleep(1500)
      l.flush(spark, dir)

      val log = spark.read.parquet(dir)
      assert(log.columns.toSet ==
        Set("ts_ms", "op", "status", "rows", "wall_ms", "error"))
      val ops = log.select("op").as[String].collect().toSet
      assert(!ops.exists(o => o.contains("save") || o.contains("insert") ||
        o.contains("parquet") || o.contains("command")), s"flush logged itself: $ops")
      val byStatus = log.groupBy("status").count().as[(String, Long)].collect().toMap
      assert(byStatus.getOrElse("success", 0L) >= 1, s"got $byStatus")
      assert(byStatus.getOrElse("error", 0L) >= 1, s"got $byStatus")
      assert(log.filter($"status" === "success" && $"op" === "collect" &&
        $"rows" === 2 && $"wall_ms" >= 0).count() >= 1) // filter x>1 keeps 2 of 3
      val err = log.filter($"status" === "error").head()
      assert(err.getAs[String]("error") != null)
    } finally QueryLog.uninstall(spark, l)
  }

  test("operator notes reach every installed listener and flush as status=note rows") {
    val dir = Files.createTempDirectory("qlog_note").toString + "/log"
    val l = QueryLog.install(spark)
    try {
      // synchronous path — no listener-bus wait needed
      QueryLog.note("q100_pagerank.roundsRun", 2L)
      assert(l.pending >= 1)
      assert(l.flush(spark, dir) >= 1)
      val row = spark.read.parquet(dir)
        .filter($"op" === "q100_pagerank.roundsRun").head()
      assert(row.getAs[String]("status") == "note" && row.getAs[Long]("rows") == 2L)
    } finally QueryLog.uninstall(spark, l)
    // after uninstall a note is a silent no-op, not a strand into the
    // dead listener (compare pending DELTA — the async listener bus may
    // still deliver this test's own read-action events)
    val p0 = l.pending
    QueryLog.note("orphan", 1L)
    assert(l.pending == p0)
  }

  test("the answer-sized gate notes one path per call on each side of the cap, and the loops their rounds") {
    import graft.dedup.Dedup
    import graft.ops.PageRank
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val sm = Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val delta = Seq((2L, 5L), (7L, 8L)).toDF("id_a", "id_b")
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "a  B c d e")).toDF("id", "t")
    def paths(ns: Seq[(String, Long)]) = ns.filter(n => n._1.endsWith(".driverPath") || n._1.endsWith(".distributed"))
    for ((cap, path) <- Seq("100000" -> "driverPath", "0" -> "distributed")) withConf("graft.cc.driverEdgeCap", cap) {
      val cc = notes(Dedup.connectedComponents(pairs, "a", "b").collect())
      assert(paths(cc).map(_._1) == Seq(s"cc.$path"), s"cap=$cap: $cc")
      val fold = notes(Dedup.deltaComponents(sm, delta).collect())
      // over the cap the fold solves its rep graph with connectedComponents
      val inner = if (cap == "0") Seq("cc.distributed") else Nil
      assert(paths(fold).map(_._1) == s"deltaComponents.$path" +: inner, s"cap=$cap: $fold")
      val pr = notes(PageRank.run(edges, 2).collect())
      assert(paths(pr).map(_._1) == Seq(s"pagerank.$path") && pr.contains("pagerank.roundsRun" -> 2L),
        s"cap=$cap: $pr")
      val mh = notes(Dedup.minHashPairs(docs, "t", "id").collect())
      assert(paths(mh).map(_._1) == Seq(s"minhash.$path"), s"cap=$cap: $mh")
    }
    // the probed rows ride the note: the landed edges under the cap
    assert(notes(Dedup.connectedComponents(pairs, "a", "b").collect()).contains("cc.driverPath" -> 3L))
    assert(notes(Dedup.minHashPairs(docs, "t", "id").collect()).contains("minhash.driverPath" -> 3L))
    val rounds = withConf("graft.cc.driverEdgeCap", "0")(notes(Dedup.connectedComponents(pairs, "a", "b").collect()))
    assert(rounds.count(_._1 == "cc.roundsRun") == 1, rounds)
  }

  test("maxBuffer bounds listener state: oldest drop, loss surfaces as a dropped_events row") {
    val dir = Files.createTempDirectory("qlog3").toString + "/log"
    // a late event of an earlier test's actions would count as one of ours;
    // a profile returns once the listener bus has delivered every event
    QueryProfile.of(spark)(())
    val l = QueryLog.install(spark, maxBuffer = 3)
    try {
      (1 to 8).foreach(i => spark.range(i).count())
      awaitPending(l, 3)
      // async bus: wait until all 8 actions have been DELIVERED (3 buffered
      // + the rest counted as dropped), not just until the buffer fills
      val deadline = System.currentTimeMillis() + 45000
      while (l.pending + l.dropped < 8 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(l.pending <= 3, s"buffer must stay capped, got ${l.pending}")
      assert(l.dropped == 8 - l.pending, s"pending=${l.pending} dropped=${l.dropped}")
      l.flush(spark, dir)
      val log = spark.read.parquet(dir)
      val drop = log.filter($"op" === "dropped_events")
      assert(drop.count() == 1)
      assert(drop.head().getAs[Long]("rows") == 5L)
      assert(l.dropped == 0, "flush resets the dropped counter")
    } finally QueryLog.uninstall(spark, l)
  }

  test("flush is append-safe across batches") {
    val dir = Files.createTempDirectory("qlog2").toString + "/log"
    val l = QueryLog.install(spark)
    try {
      spark.range(10).count()
      awaitPending(l, 1)
      val first = l.flush(spark, dir)
      assert(first >= 1)
      spark.range(5).count()
      awaitPending(l, 1)
      assert(l.flush(spark, dir) >= 1)
      assert(spark.read.parquet(dir).count() >= first + 1)
    } finally QueryLog.uninstall(spark, l)
  }
}
