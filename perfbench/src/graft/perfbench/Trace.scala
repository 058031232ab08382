package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** A timed interval around one call into a layer. `op` groups the spans
  * of one batch or query; `parent` is the enclosing span (-1 at the
  * root). Times are ns since the tracer started. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side work observed between two [[Tracer.take]] calls. */
final class Counts {
  var jobs, stages, tasks, failedTasks = 0L
  var taskCpuNs, runMs, schedDelayMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var cachedPeakBytes = 0L

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; taskCpuNs += o.taskCpuNs
    runMs += o.runMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    cachedPeakBytes = math.max(cachedPeakBytes, o.cachedPeakBytes)
  }
}

/** Outside-in tracer: spans recorded around the benchmark's calls into
  * graft, plus a Spark listener and a query-execution listener whose
  * events are attributed to the current layer by draining the listener
  * bus at each boundary. `enabled` is toggled per op so one traced run
  * can also time untraced ops and report the tracing overhead. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  var op = 0
  private var attached = false

  def enabled: Boolean = attached

  /** Per-op samples of each layer metric, over traced ops only. */
  val samples = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val opMs = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  def record(name: String, v: Double): Unit =
    if (attached) samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  private var opCounts = new Counts

  /** Starts an op; [[attach]] has already taken what came before. */
  def beginOp(id: Int): Unit = {
    op = id
    opMs.clear()
    opCounts = new Counts
  }

  /** Closes the op: each span name's total time in it becomes one
    * sample named `<span>_ms`, and the Spark work it caused becomes
    * one sample of each `exec.*` and `plan.*` metric. */
  def endOp(): Unit = {
    take(): Unit
    opMs.foreach { case (n, ms) => record(s"${n}_ms", ms) }
    opMs.clear()
    val c = opCounts
    record("exec.jobs_per_op", c.jobs)
    record("exec.stages_per_op", c.stages)
    record("exec.tasks_per_op", c.tasks)
    record("exec.failed_tasks", c.failedTasks)
    record("exec.scheduler_delay_ms", c.schedDelayMs)
    record("exec.task_cpu_s", c.taskCpuNs / 1e9)
    record("exec.executor_run_s", c.runMs / 1e3)
    record("exec.task_gc_s", c.gcMs / 1e3)
    record("exec.shuffle_read_mb", c.shuffleRead / 1048576.0)
    record("exec.shuffle_write_mb", c.shuffleWrite / 1048576.0)
    record("exec.spill_mb", c.spill / 1048576.0)
    record("plan.analysis_ms", c.analysisMs)
    record("plan.optimization_ms", c.optimizationMs)
    record("plan.planning_ms", c.planningMs)
  }

  def span[A](name: String)(body: => A): A =
    if (!attached) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val s = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        val sp = Span(id, name, op, parent, s - t0, System.nanoTime() - t0)
        spans += sp
        opMs(name) = opMs.getOrElse(name, 0.0) + sp.ms
      }
    }

  private var pending = new Counts
  private var cachedNow = 0L
  private val blockSizes = scala.collection.mutable.HashMap.empty[String, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      pending.jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { pending.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      pending.tasks += 1
      if (e.reason != org.apache.spark.Success) pending.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        pending.taskCpuNs += m.executorCpuTime
        pending.runMs += m.executorRunTime
        pending.gcMs += m.jvmGCTime
        pending.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        pending.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        pending.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val i = e.taskInfo
        pending.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      Tracer.this.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isInstanceOf[RDDBlockId]) {
          val key = b.blockId.name
          cachedNow -= blockSizes.remove(key).getOrElse(0L)
          if (b.storageLevel.isValid) {
            blockSizes(key) = b.memSize + b.diskSize
            cachedNow += b.memSize + b.diskSize
          }
          pending.cachedPeakBytes = math.max(pending.cachedPeakBytes, cachedNow)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  private def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  private def phases(qe: QueryExecution): Unit = synchronized {
    pending.analysisMs += phaseMs(qe, "analysis")
    pending.optimizationMs += phaseMs(qe, "optimization")
    pending.planningMs += phaseMs(qe, "planning")
  }

  /** Analysis of a frame built outside any action (the root frame of a
    * query or batch is analysed eagerly when it is constructed). */
  def addAnalysis(qe: QueryExecution): Unit = synchronized {
    pending.analysisMs += phaseMs(qe, "analysis")
  }

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
    take(): Unit
  }

  /** Call after [[endOp]], which has drained the bus. */
  def detach(): Unit = if (attached) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  /** Everything observed since the previous take. */
  def take(): Counts = {
    if (attached) org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val c = pending
      pending = new Counts
      pending.cachedPeakBytes = cachedNow
      opCounts += c
      c
    }
  }

  /** Spans as JSON lines, written once at the end of the run. */
  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""")
        .append(s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").append('\n')
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), sb.toString.getBytes("UTF-8"))
  }
}

/** Process and host counters read from /proc and the JVM. */
object Host {
  import scala.jdk.CollectionConverters._
  private val clkTck = 100.0

  /** (steal ticks, total ticks) over all CPUs since boot. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.take(8).sum)
    } finally f.close()
  }

  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    finally f.close()
  }

  private def statFields(pid: Long): Option[Array[String]] = try {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"/proc/$pid/stat")), "UTF-8")
    Some(s.substring(s.lastIndexOf(')') + 2).split(" "))
  } catch { case _: java.io.IOException => None }

  /** CPU seconds of a process tree rooted at `root`: the root's own and
    * reaped-children time plus every live child's own time. */
  def treeCpuS(root: Long): Double = {
    // fields after "(comm) ": 0 state, 1 ppid, 11 utime, 12 stime, 13 cutime, 14 cstime
    val rootCpu = statFields(root).map(f => f(11).toLong + f(12).toLong +
      f(13).toLong + f(14).toLong).getOrElse(0L)
    val kids = new java.io.File("/proc").listFiles().iterator
      .filter(_.getName.forall(_.isDigit)).flatMap { d =>
        statFields(d.getName.toLong).filter(_(1).toLong == root)
          .map(f => f(11).toLong + f(12).toLong)
      }.sum
    (rootCpu + kids) / clkTck
  }

  /** Time the JIT compilers have spent, summed over their threads. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark has generated and compiled with Janino so far: the
    * misses of its code cache. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def gcS(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
