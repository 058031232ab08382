package graft.perfbench

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Checkpoints, SparkEntry}

/** One op of a query workload: `SparkEntry.queries(name)(spark, dir)`
  * followed by a `noop` write under `Checkpoints.sweeping`, as graft's
  * own Bench runs it. The write observes the row count and an
  * order-independent content hash of the result, which must equal the
  * values recorded for the fixed tables. */
final class QueryWorkload(spark: SparkSession, tr: Tracer, dir: String,
    names: Seq[String], expected: Map[String, (Long, String)], seed: Long)
    extends Workload {
  private val fns = SparkEntry.queries
  /** The seed's order of the queries, the same in every pass of the run.
    * A pass generates more classes than Spark's code cache holds (100
    * entries), so each pass compiles some of them again. Under an order
    * that repeats, the cache evicts the same classes in every pass; a
    * fresh order per pass made that count, and with it the JIT's load,
    * move from pass to pass and run to run. */
  private val order: Vector[String] = new scala.util.Random(seed).shuffle(names.toVector)
  private var pos = 0
  private var lastName = ""

  def label: String = lastName

  def reset(): Unit = pos = 0

  def exhausted: Boolean = pos >= order.size

  /** Twelve passes: the first compiles and loads everything the queries
    * use, and the JIT keeps making passes faster for several more. */
  def warmup(): Seq[String] = {
    (0 until 12).foreach { _ =>
      reset()
      while (!exhausted) op()
    }
    reset()
    Nil
  }

  def check(): Seq[String] = Nil

  def op(): Double = {
    val name = order(pos)
    pos += 1
    lastName = name
    val (rows, hash) = run(name)
    val (eRows, eHash) = expected(name)
    if (rows != eRows || hash != eHash)
      throw new AssertionError(
        s"$name returned $rows rows hash $hash; expected $eRows rows hash $eHash")
    1.0
  }

  /** Runs one query; returns (row count, content hash). */
  def run(name: String): (Long, String) = {
    val df = tr.span("construct")(fns(name)(spark, dir))
    tr.addAnalysis(df.queryExecution)
    tr.record("construct.jobs", tr.take().jobs)
    val obs = Observation()
    val row = struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)
    val checked = df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(to_json(row)).cast("decimal(20,0)")).as("h"))
    tr.span("action") {
      Checkpoints.sweeping(spark) {
        checked.write.format("noop").mode("overwrite").save()
        if (tr.enabled) tr.record("checkpoints.blocks_mb",
          spark.sparkContext.getRDDStorageInfo
            .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
    }
    val m = obs.get
    (m("n").asInstanceOf[Long], String.valueOf(m("h")))
  }
}
