package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory tracing for the traced run. A span is one call the benchmark
  * makes into a graft module (or one whole op); spans nest through a
  * stack, so each knows its parent, and carry the pass they ran in.
  * Nothing is recorded while `on` is false, which is how the untraced
  * passes of a traced run and every untraced run pay nothing. */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, pass: Int, startNs: Long, endNs: Long,
      rows: Long) {
    def ms: Double = (endNs - startNs) / 1e6
    def layer: String = name.takeWhile(_ != '.')
  }

  @volatile var on = false
  var pass = 0
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int](-1)
  private var nextId = 0

  /** Times `body` as span `name`. `rows` is the number of input rows the
    * call consumed, where that is known (for a rows/s figure). */
  def span[A](name: String, rows: Long = 0L)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.top
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, pass, t0, System.nanoTime(), rows)
        stack.pop()
      }
    }

  /** Self time of each layer: a span's duration minus the time its child
    * spans cover (children run sequentially on the one driver thread). */
  def selfMsByLayer: Map[String, Double] = {
    val childMs = spans.groupMapReduce(_.parent)(_.ms)(_ + _)
    spans.groupMapReduce(_.layer)(s => s.ms - childMs.getOrElse(s.id, 0.0))(_ + _)
  }

  def toJson: String = spans.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","pass":${s.pass},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"rows":${s.rows}}""")
    .mkString("[\n", ",\n", "\n]")
}

/** Per-op-execution Spark counts. The benchmark tags every job of a traced
  * op with the local property [[OpListener.Tag]] (`<op type>#<seq>`);
  * stages and tasks inherit the tag through their job. */
final class OpListener extends SparkListener {
  final class Counts {
    var jobs, stages, tasks = 0L
    var cpuNs, shuffleWrite, shuffleRead, spill, input, output = 0L
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val byTag = mutable.LinkedHashMap.empty[String, Counts]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def counts(tag: String) = byTag.getOrElseUpdate(tag, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpListener.Tag))).foreach { tag =>
      counts(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageTag.get(info.stageId).foreach { tag =>
      val c = counts(tag)
      c.stages += 1
      for (s <- info.submissionTime; f <- info.completionTime) c.stageIntervals += ((s, f))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      val c = counts(tag)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }
}

object OpListener {
  val Tag = "graftbench.op"

  /** Milliseconds of `[start, end]` that no stage interval covers. */
  def gapMs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.map { case (s, f) => (s max start, f min end) }.filter { case (s, f) => f > s }
      .sortBy(_._1).foreach { case (s, f) =>
        if (f > reach) { covered += f - (s max reach); reach = f }
      }
    (end - start) - covered
  }
}

/** JVM-wide counters from the management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def cpuNs: Long = os.getProcessCpuTime
  /** Heap still in use after a full collection. The second collection
    * follows a pause in which Spark's ContextCleaner drops the cached
    * blocks and broadcasts the first one found unreachable, so their
    * memory is not counted by chance of timing. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** A fixed pure-CPU loop. Its time says how fast this core ran just
    * now; it is reported beside the results and never used to scale them. */
  def calibMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x243F6A8885A308D3L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) println("") // keeps the loop live
    ms
  }
}
