package graft.ops

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.graft.bridge

/** Where a block's wall time went, from one listener: the structured
  * record of a query or operator call that otherwise took a probe program
  * per question.
  *
  * [[QueryProfile.of]] runs the block under a fresh Spark job tag. Tags are
  * local properties, so they reach the threads Spark starts for the block
  * (AQE stage submission, broadcasts, a stream started inside it, whose
  * `StreamExecution` overwrites the job group but keeps inherited tags),
  * and never a thread that was already running. Tags nest: a job of an
  * inner profile counts in the outer one too. Stages and tasks belong to
  * the block through their job.
  *
  * Wall and process CPU time the block alone; the listener bus is drained
  * after the clock stops, so every event of the block is counted and none
  * of the drain is. Process CPU, Janino compiles and compile ms are
  * JVM-wide counters: they include whatever else the process ran
  * meanwhile. */
object QueryProfile {

  /** @param wallMs block wall time
    * @param cpuMs process CPU time (driver and local executors)
    * @param compiles Janino compilations of generated classes
    * @param compileMs time spent in them
    * @param jobs jobs tagged with the block's tag
    * @param stages their completed stage attempts (skipped stages never run)
    * @param tasks their finished tasks
    * @param runMs Σ executor run time of the tasks
    * @param executorCpuMs Σ executor CPU time of the tasks
    * @param gcMs Σ JVM GC time during the tasks
    * @param shuffleReadBytes shuffle bytes read, local and remote
    * @param shuffleWriteBytes shuffle bytes written
    * @param memorySpillBytes in-memory size of spilled data
    * @param diskSpillBytes on-disk size of spilled data
    * @param skew the largest, over stages of two or more tasks, of max task
    *   run time / median task run time (the median counts as at least 1 ms);
    *   1 when there is no such stage
    * @param driverGapMs wall time no stage of the block was running:
    *   analysis, planning, scheduling and driver-side work */
  final case class Profile(wallMs: Double, cpuMs: Double, compiles: Long, compileMs: Double,
      jobs: Int, stages: Int, tasks: Int, runMs: Long, executorCpuMs: Double, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, memorySpillBytes: Long, diskSpillBytes: Long,
      skew: Double, driverGapMs: Double) {

    def toJson: String = {
      def r2(x: Double): Double = math.round(x * 100) / 100.0
      s"""{"wall_ms":${r2(wallMs)},"cpu_ms":${r2(cpuMs)},"compiles":$compiles,""" +
        s""""compile_ms":${r2(compileMs)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""run_ms":$runMs,"executor_cpu_ms":${r2(executorCpuMs)},"gc_ms":$gcMs,""" +
        s""""shuffle_read_bytes":$shuffleReadBytes,"shuffle_write_bytes":$shuffleWriteBytes,""" +
        s""""memory_spill_bytes":$memorySpillBytes,"disk_spill_bytes":$diskSpillBytes,""" +
        s""""skew":${r2(skew)},"driver_gap_ms":${r2(driverGapMs)}}"""
    }
  }

  private val os = java.lang.management.ManagementFactory
    .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])

  /** Runs `body` and profiles it. Returns after the listener bus has
    * delivered every event posted up to the block's end, earlier ones
    * included. */
  def of[A](spark: SparkSession)(body: => A): (A, Profile) = {
    val sc = spark.sparkContext
    val tag = s"graft-profile-${java.util.UUID.randomUUID}"
    val listener = new TagListener(tag)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val cpu0 = os.getProcessCpuTime
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body
      val wallMs = (System.nanoTime() - t0) / 1e6
      val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      bridge.drainListenerBus(sc)
      (out, listener.profile(wallMs, cpuMs, compiles, compileMs, start, start + math.round(wallMs)))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  private final class TagListener(tag: String) extends SparkListener {
    private var jobs, stages, tasks = 0
    private var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, memorySpill, diskSpill = 0L
    private val ours = mutable.HashSet.empty[Int]
    private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (bridge.jobTags(e.properties).contains(tag)) {
        jobs += 1
        ours ++= e.stageIds
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      if (ours.contains(info.stageId)) {
        stages += 1
        for (s <- info.submissionTime; f <- info.completionTime) intervals += ((s, f))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (ours.contains(e.stageId)) {
        tasks += 1
        Option(e.taskMetrics).foreach { m =>
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          memorySpill += m.memoryBytesSpilled
          diskSpill += m.diskBytesSpilled
          taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
    }

    def profile(wallMs: Double, cpuMs: Double, compiles: Long, compileMs: Double,
        start: Long, end: Long): Profile = synchronized {
      val skew = taskMs.values.filter(_.size >= 2).map { ts =>
        val sorted = ts.sorted
        sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
      }.maxOption.getOrElse(1.0)
      // the union of stage intervals, clipped to the block
      var covered = 0L
      var reach = start
      intervals.map { case (s, f) => (s max start, f min end) }.filter { case (s, f) => f > s }
        .sortBy(_._1).foreach { case (s, f) =>
          if (f > reach) { covered += f - (s max reach); reach = f }
        }
      Profile(wallMs, cpuMs, compiles, compileMs, jobs, stages, tasks, runMs, cpuNs / 1e6, gcMs,
        shuffleRead, shuffleWrite, memorySpill, diskSpill, skew, math.max(0.0, wallMs - covered))
    }
  }
}
