package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: a closed loop with one client. Set-up builds the
  * session, generates the seeded inputs and runs untimed warm-up passes;
  * the timed phase then runs a fixed number of passes, each op type once
  * per pass, and checks every op's output.
  *
  * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root DIR --result FILE [--spans FILE] [--warmup N]
  * `--root` is a scratch directory the run owns; the result is written as
  * JSON to `--result`, and a traced run's spans to `--spans`. `--warmup`
  * overrides the workload's warm-up pass count (the build's class-sharing
  * run uses it). */
object Main {
  /** Every op type of every workload: a traced run prints the same
    * per-layer metric names whatever the workload. */
  val OpTypes: Seq[String] = Seq("import", "catalog", "update", "diff", "analyze", "sql", "report",
    "cc_driver", "cc_dist", "pagerank", "minhash")

  /** Spans with a per-layer metric of their own, `<span>_ms`. */
  val SpanMetrics: Seq[String] = Seq(
    "sources.list_sheets", "sources.read_sheet", "sources.map", "sources.append",
    "catalog.list_tables", "catalog.table_design", "catalog.pk_candidates", "catalog.analyze",
    "ops.update_by_key", "ops.snapshot_diff", "ops.group_sum", "ops.export_report", "ops.pagerank",
    "queries.saved_run", "dedup.cc_driver", "dedup.cc_dist", "dedup.minhash_pairs")
  val Layers: Seq[String] = Seq("bench", "sources", "catalog", "ops", "queries", "dedup")

  final case class Sample(op: String, tag: String, pass: Int, traced: Boolean, ms: Double, startMs: Long, endMs: Long,
      rows: Long, inBytes: Long, files: Int, written: Long, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = Paths.get(opt("root")).toAbsolutePath
    val result = Paths.get(opt("result")).toAbsolutePath
    val code =
      try {
        run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1", root, result,
          opt.get("spans").map(Paths.get(_).toAbsolutePath), opt.get("warmup").map(_.toInt))
        0
      }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    System.out.flush(); System.err.flush()
    // skip Spark's shutdown hooks: the caller deletes `root` wholesale
    Runtime.getRuntime.halt(code)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean, root: Path, result: Path,
      spans: Option[Path], warmup: Option[Int]): Unit = {
    val tmp = Files.createDirectories(root.resolve("tmp"))
    System.setProperty("java.io.tmpdir", tmp.toString)
    System.setProperty("spark.local.dir", tmp.toString)
    val spark = graft.GraftSession("local[2]", 2)
    val sc = spark.sparkContext
    val listener = new OpListener
    if (traced) sc.addSparkListener(listener)
    log(f"session up at ${sinceStart()}%.2f s")
    val w = Workload(workload, spark, root, seed)
    log(f"inputs ready at ${sinceStart()}%.2f s")

    var seq = 0
    def runOp(op: Op, pass: Int, trace: Boolean): Sample = {
      seq += 1
      val tag = s"${op.name}#$seq"
      sc.setLocalProperty(OpListener.Tag, if (trace) tag else null)
      Trace.on = trace
      Trace.pass = pass
      val (t0, wall0) = (System.nanoTime(), System.currentTimeMillis())
      val out = try Right(Trace.span(s"bench.${op.name}")(op.run())) catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val wall1 = System.currentTimeMillis()
      Trace.on = false
      sc.setLocalProperty(OpListener.Tag, null)
      val checked = out.flatMap(o => try { o.check(); Right(o) } catch { case NonFatal(e) => Left(e) })
      checked.left.foreach(e => log(s"$workload/${op.name} pass $pass FAILED: $e"))
      val o = out.toOption
      Sample(op.name, tag, pass, trace, ms, wall0, wall1, o.fold(0L)(_.rows), o.fold(0L)(_.inBytes),
        o.fold(0)(_.written.size), o.fold(0L)(_.written.map(Files.size).sum), checked.isRight)
    }

    val warmupPasses = warmup.getOrElse(w.warmupPasses)
    val warmFailures = (1 to warmupPasses).map { p =>
      val ss = w.ops.map(runOp(_, -p, trace = false))
      log(s"warm-up pass $p: " + ss.map(s => f"${s.op}=${s.ms}%.0f").mkString(" "))
      ss.count(!_.ok)
    }.sum
    System.gc()
    val setupS = sinceStart()

    val passes = math.max(2, math.round(seconds / w.passSeconds).toInt)
    val jvm0 = (Jvm.gcMs, Jvm.jitMs, Jvm.cpuNs)
    val calib = mutable.ArrayBuffer.empty[Double]
    val samples = (1 to passes).flatMap { p =>
      calib += Jvm.calibMs()
      // a traced run traces every other pass; the untraced ones are the
      // in-run baseline for the tracing overhead
      w.ops.map(runOp(_, p, trace = traced && p % 2 == 1))
    }
    val jvm = (Jvm.gcMs - jvm0._1, Jvm.jitMs - jvm0._2, Jvm.cpuNs - jvm0._3)
    val heapMb = Jvm.retainedHeapMb()

    val byType = samples.groupBy(_.op).view.mapValues(_.map(_.ms)).toMap
    val medians = w.ops.map(o => median(byType(o.name)))
    // tail: each latency relative to its type's median, pooled; the highest
    // whole percentile of the pool with at least 10 samples beyond it
    val ratios = samples.map(s => s.ms / median(byType(s.op)))
    val tailQ = math.max(0.5, math.floor(100.0 * (1 - 10.0 / ratios.size)) / 100)
    val timedS = samples.map(_.ms).sum / 1000
    val opP50 = geomean(medians)
    val metrics =
      if (traced) {
        org.apache.spark.BenchBus.drain(sc)
        spans.foreach { f =>
          Files.createDirectories(f.getParent)
          Files.write(f, Trace.toJson.getBytes("UTF-8"))
        }
        layerMetrics(samples, passes, calib.toSeq, listener, jvm)
      } else Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", samples.size / timedS, "1/s"),
        ("op_p50_ms", opP50, "ms"),
        ("op_tail_ms", opP50 * quantile(ratios, tailQ), "ms"),
        ("rows_per_s", samples.map(_.rows).sum / timedS, "rows/s"),
        ("retained_heap_mb", heapMb, "MB"),
        ("stored_bytes_per_input_byte", samples.map(_.written).sum.toDouble / samples.map(_.inBytes).sum, "B/B"))

    val detail = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "passes" -> passes.toString,
      "warmup_passes" -> warmupPasses.toString, "ops_per_pass" -> w.ops.size.toString,
      "tail_percentile" -> f"${tailQ * 100}%.0f", "tail_samples" -> ratios.size.toString,
      "timed_s" -> timedS.toString, "host_calib_ms" -> calib.map(c => f"$c%.1f").mkString("[", ", ", "]"),
      "op_median_ms" -> w.ops.zip(medians).map { case (o, m) => f""""${o.name}": $m%.1f""" }.mkString("{", ", ", "}"))
    val failed = samples.count(!_.ok)
    def num(x: Double) = if (x.isNaN || x.isInfinite) "0" else x.toString
    val json = s"""{"correct": ${failed == 0 && warmFailures == 0}, "attempted": ${samples.size}, """ +
      s""""failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") +
      "}, \"detail\": " + detail.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}") + "}"
    Files.write(result, json.getBytes("UTF-8"))
  }

  /** The traced run's per-layer metrics, in `BENCHMARK.json` order. */
  def layerMetrics(samples: Seq[Sample], passes: Int, calib: Seq[Double], listener: OpListener,
      jvm: (Long, Long, Long)): Seq[(String, Double, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    val traced = samples.filter(_.traced)
    val tracedPasses = traced.map(_.pass).distinct
    val nTraced = tracedPasses.size.toDouble
    for (span <- SpanMetrics) {
      val perPass = tracedPasses.map(p => Trace.spans.filter(s => s.name == span && s.pass == p).map(_.ms).sum)
      out += ((s"${span}_ms", median(perPass), "ms"))
      if (span == "sources.read_sheet") {
        val reads = Trace.spans.filter(_.name == span)
        val secs = reads.map(_.ms).sum / 1000
        out += (("sources.read_sheet_rows_per_s", if (reads.isEmpty) 0.0 else reads.map(_.rows).sum / secs, "rows/s"))
      }
    }
    val counts = listener.synchronized(listener.byTag.toMap)
    val execs = traced.map(s => (s, counts.getOrElse(s.tag, new listener.Counts)))
    def perOp(name: String, unit: String)(f: (Sample, listener.Counts) => Double): Unit =
      for (op <- OpTypes) {
        val xs = execs.collect { case (s, c) if s.op == op => f(s, c) }
        out += ((s"spark.$name.$op", if (xs.isEmpty) 0.0 else xs.sum / xs.size, unit))
      }
    perOp("jobs", "count")((_, c) => c.jobs.toDouble)
    perOp("stages", "count")((_, c) => c.stages.toDouble)
    perOp("tasks", "count")((_, c) => c.tasks.toDouble)
    perOp("driver_gap_ms", "ms")((s, c) => OpListener.gapMs(s.startMs, s.endMs, c.stageIntervals.toSeq).toDouble)
    perOp("executor_cpu_ms", "ms")((_, c) => c.cpuNs / 1e6)
    perOp("shuffle_write_bytes", "bytes")((_, c) => c.shuffleWrite.toDouble)
    perOp("shuffle_read_bytes", "bytes")((_, c) => c.shuffleRead.toDouble)
    perOp("input_bytes", "bytes")((_, c) => c.input.toDouble)
    out += (("spark.spill_bytes", execs.map(_._2.spill).sum / nTraced, "bytes"))
    out += (("spark.output_bytes", execs.map(_._2.output).sum / nTraced, "bytes"))
    out += (("io.files_written", samples.map(_.files).sum.toDouble / passes, "count"))
    out += (("io.bytes_written", samples.map(_.written).sum.toDouble / passes, "bytes"))
    val (gcMs, jitMs, cpuNs) = jvm
    out += (("jvm.gc_ms", gcMs.toDouble / passes, "ms"))
    out += (("jvm.jit_ms", jitMs.toDouble / passes, "ms"))
    out += (("jvm.cpu_ms_per_op", cpuNs / 1e6 / samples.size, "ms"))
    out += (("host.calib_ms", median(calib), "ms"))
    val passMs = samples.groupBy(_.pass).values.map(ss => (ss.head.traced, ss.map(_.ms).sum)).toSeq
    val (on, off) = passMs.partition(_._1)
    out += (("trace.overhead_pct", 100 * (median(on.map(_._2)) / median(off.map(_._2)) - 1), "%"))
    val self = Trace.selfMsByLayer
    for (l <- Layers) out += ((s"$l.self_ms", self.getOrElse(l, 0.0) / nTraced, "ms"))
    log("self time per traced pass (ms): " + Layers.map(l => f"$l=${self.getOrElse(l, 0.0) / nTraced}%.1f").mkString(" "))
    out.toSeq
  }

  private def sinceStart(): Double = (System.currentTimeMillis() - Jvm.startMs) / 1000.0

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")
}
