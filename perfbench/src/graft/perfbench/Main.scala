package graft.perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import graft.GraftSession

/** A workload: `warmup` sets it up and leaves it in a fresh state,
  * `op` runs one timed op (a batch or a query) and returns the units of
  * work it did, a pass ends when it is `exhausted`, and `reset` starts
  * the next pass from the same state. */
trait Workload {
  /** Set-up and warm-up work, checked; returns failures. */
  def warmup(): Seq[String]
  def reset(): Unit
  def exhausted: Boolean
  def op(): Double
  /** What the last op was, for the log. */
  def label: String
  def check(): Seq[String]
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Harrell-Davis estimate of the median: every order statistic,
    * weighted by a Beta((n+1)/2, (n+1)/2) distribution. On a few dozen
    * ops that are a mix of a few distinct costs, the sample median jumps
    * across the gap between two of them from run to run; this one moves
    * smoothly. */
  def hdMedian(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    val b = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) / 2.0, (n + 1) / 2.0)
    s.indices.map { i =>
      (b.cumulativeProbability((i + 1).toDouble / n) - b.cumulativeProbability(i.toDouble / n)) * s(i)
    }.sum
  }
}

/** The benchmark harness. One JVM per run, `local[cores]`, one
  * closed-loop client: each op starts when the previous one ends.
  *
  * Run: set-up (session, Postgres when the workload loads, warm-up),
  * then whole passes until `--seconds` of op time have passed, each
  * pass checked. Timing whole passes gives every run the same mix of
  * ops, whatever their speed. Prints one JSON line. With `--trace 1`,
  * half of the ops are traced and the run reports the per-layer
  * metrics, the floors, and the tracing overhead (traced against
  * untraced ops of the same run).
  */
object Main {
  /** The ROADMAP floor class, pure `q*`/`sql_*` queries that build a
    * plan and run one action with no sink: the queries at the 10th, 50th
    * and 90th percentiles of the class's r14 times, as
    * perfbench/floor_set.py derives. */
  val FloorQueries: Seq[String] = Seq("q11_running_sum", "q33_grouping_sets", "q3_join_agg")
  /** A query whose work is in graft's own kernels: `operators`
    * (Dedup.embeddingPairs), `functions` (hyperplane signatures) and a
    * `Checkpoints` pin; the cheapest such query on the fixed tables. */
  val OperatorQueries: Seq[String] = Seq("dedup_embedding")
  /** The classes these four generate fit in Spark's code cache (100
    * entries), so a warm pass compiles none. Seven queries did not fit:
    * each pass compiled 58 to 85 classes again, a count set by the query
    * order, and op times spread 12-15% between runs.
    * `exec.codegen_compiles_per_op` shows which side of that line a run
    * is on. */
  val AnalyticsQueries: Seq[String] = FloorQueries ++ OperatorQueries

  /** Per-layer metrics of the ETL layers; 0 on a query workload. */
  val EtlMetrics: Seq[String] = Seq("etl.next_batch_ms", "etl.mark_completed_ms",
    "sinks.write_ms", "sinks.jobs_per_batch", "sinks.tasks_per_batch",
    "sinks.cached_mb_per_batch", "sinks.count_query_ms",
    "sinks.pg_backend_cpu_s_per_batch", "sinks.pg_sessions_per_batch",
    "sinks.pg_xacts_per_batch", "sinks.pg_tup_inserted_per_batch",
    "etl.load_rows_per_s", "sinks.encode_rows_per_s", "sources.noop_rows_per_s",
    "sinks.ntz_probe_failed", "sinks.encode_bytes_per_row", "sinks.wire_mb_per_s")

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, genS: Double, expected: String, record: Boolean)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m.getOrElse("gen-s", "0").toDouble,
      m("expected"), m.getOrElse("record", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val isQuery = a.workload == "analytics_floor"
    // the server boots while the Spark session starts
    val pgBoot = new java.util.concurrent.FutureTask[Pg](() => Pg.boot())
    if (!isQuery) new Thread(pgBoot).start()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${a.work}/spark")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark)
    val tables = s"${a.work}/tables"
    val expected = Expected.load(a.expected)

    if (a.record) {
      Expected.record(spark, tr, tables, AnalyticsQueries)
      spark.stop()
      return
    }

    val w: Workload = a.workload match {
      case "etl_backfill" =>
        new EtlWorkload(spark, tr, pgBoot.get(), s"${a.work}/etl")
      case "analytics_floor" =>
        new QueryWorkload(spark, tr, tables, AnalyticsQueries, expected, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val failures = ArrayBuffer.empty[String]
    failures ++= w.warmup()
    // everything before the first timed op, one-time work included: a
    // median over repeated set-ups would hide exactly the one-time work
    // this metric exists to expose
    val setupS = a.genS + (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] setup $setupS%.2f s (inputs ${a.genS}%.2f s)")

    val lat = Array(ArrayBuffer.empty[Double], ArrayBuffer.empty[Double])
    val units = Array(0.0, 0.0)
    val busy = Array(0.0, 0.0)
    // units per second of op time of each whole pass (untraced runs)
    val passRates = ArrayBuffer.empty[Double]
    var passUnits, passBusy = 0.0
    var attempted, failed = 0
    val steal0 = Host.cpuTicks()
    val jit0 = Host.jitS()
    val gc0 = Host.gcS()
    val codegen0 = Host.codegenCompiles()
    Host.resetHeapPeak()
    w match { case e: EtlWorkload if a.trace => e.startCounters() case _ => }
    var elapsed = 0.0
    var i = 0
    def timedOp(traced: Boolean): (Double, Double) = {
      if (traced) tr.attach()
      tr.beginOp(i)
      val t = System.nanoTime()
      attempted += 1
      val u = try w.op() catch {
        case e: Throwable =>
          failed += 1
          failures += s"op $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          0.0
      }
      val s = (System.nanoTime() - t) / 1e9
      tr.endOp()
      if (traced) { tr.record("op_wall_s", s); tr.detach() }
      System.err.println(f"[perfbench] op $i ${w.label} $s%.3f")
      i += 1
      (u, s)
    }
    // whole passes give every query the same number of samples, so the
    // metrics over all ops weigh each query once; a traced run alternates
    // untraced and traced passes (batches on the ETL workloads) to
    // measure the tracing overhead on the same work
    var passes = 0
    val minPasses = if (isQuery && a.trace) 2 else 1
    var done = false
    while (!done) {
      val traced = a.trace && (if (isQuery) passes % 2 == 1 else i % 2 == 0)
      val (u, s) = timedOp(traced)
      val k = if (traced) 1 else 0
      lat(k) += s
      units(k) += u
      busy(k) += s
      elapsed += s
      passUnits += u
      passBusy += s
      if (w.exhausted) {
        passRates += passUnits / passBusy
        passUnits = 0.0
        passBusy = 0.0
        passes += 1
        failures ++= w.check()
        done = elapsed >= a.seconds && passes >= minPasses
        if (!done) w.reset()
      }
    }
    val steal1 = Host.cpuTicks()
    val jitS = Host.jitS() - jit0
    val gcS = Host.gcS() - gc0
    val codegen = Host.codegenCompiles() - codegen0
    val heapPeak = Host.heapPeakMb()
    val server = w match {
      case e: EtlWorkload if a.trace => e.serverCounters()
      case _ => Map.empty[String, Double]
    }

    val result = LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      result("setup_s") = (setupS, "s")
      result("op_p50_s") = (Stats.hdMedian(lat(0).toSeq), "s")
      // the median pass, so one pass slowed by a JIT burst or by the
      // host weighs no more than any other
      result("throughput_per_s") = (Stats.hdMedian(passRates.toSeq), "1/s")
    } else {
      val m = LinkedHashMap.empty[String, Double]
      def med(n: String): Double =
        tr.samples.get(n).map(x => Stats.median(x.toSeq)).getOrElse(0.0)
      def avg(n: String): Double =
        tr.samples.get(n).map(x => Stats.mean(x.toSeq)).getOrElse(0.0)
      def total(n: String): Double = tr.samples.get(n).map(_.sum).getOrElse(0.0)
      m("construct.ms") = med("construct_ms")
      m("construct.jobs") = avg("construct.jobs")
      for (k <- Seq("plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
          "exec.jobs_per_op", "exec.stages_per_op", "exec.tasks_per_op",
          "exec.scheduler_delay_ms")) m(k) = med(k)
      m("exec.codegen_compiles_per_op") = codegen.toDouble / i
      for (k <- Seq("exec.task_cpu_s", "exec.executor_run_s", "exec.task_gc_s",
          "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
          "checkpoints.blocks_mb")) m(k) = avg(k)
      m("exec.failed_tasks") = total("exec.failed_tasks")
      m("exec.core_busy_share") = total("exec.executor_run_s") / (total("op_wall_s") * cores)
      m("jvm.gc_s") = gcS
      m("jvm.jit_s") = jitS
      m("jvm.heap_peak_mb") = heapPeak
      m("jvm.rss_peak_mb") = Host.peakRssMb()
      val (st, tot) = (steal1._1 - steal0._1, steal1._2 - steal0._2)
      m("host.cpu_steal_share") = if (tot > 0) st.toDouble / tot else 0.0
      def change(traced: Double, plain: Double) = (traced - plain) / plain
      m("trace.overhead_op_p50_share") =
        change(Stats.hdMedian(lat(1).toSeq), Stats.hdMedian(lat(0).toSeq))
      m("trace.overhead_throughput_share") = change(units(1) / busy(1), units(0) / busy(0))

      // the ETL layers, on the ETL workloads only
      w match {
        case e: EtlWorkload =>
          for (k <- Seq("etl.next_batch_ms", "etl.mark_completed_ms", "sinks.write_ms",
              "sinks.jobs_per_batch", "sinks.tasks_per_batch", "sinks.cached_mb_per_batch"))
            m(k) = med(k)
          m ++= server
          m("etl.load_rows_per_s") = total("etl.rows") / total("etl.batch_s")
          m ++= e.floors(floorBatches = 2, cores = cores)
        case _ => EtlMetrics.foreach(k => m(k) = 0.0)
      }
      m.foreach { case (k, v) => result(k) = (v, Units(k)) }
      tr.writeSpans(s"${a.work}/spans.jsonl")
    }
    System.err.println(f"[perfbench] timed $elapsed%.2f s over $i ops")
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val metrics = result.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {$metrics}}""")
    spark.stop()
  }
}

/** Units of the per-layer metrics: the last part of the name. */
object Units {
  def apply(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") || n == "ms" => "ms"
    case n if n.endsWith("_mb_per_s") => "MB/s"
    case n if n.endsWith("_per_s") => "1/s"
    case n if n.endsWith("_s") || n.contains("_s_per_") => "s"
    case n if n.endsWith("_mb") || n.contains("_mb_per_") => "MB"
    case n if n.endsWith("_share") => "ratio"
    case n if n.endsWith("bytes_per_row") => "B"
    case _ => "count"
  }
}

object Json {
  def num(v: Double): String = java.math.BigDecimal.valueOf(v).toPlainString
}
