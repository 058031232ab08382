package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.etl.{ObjectStore, TypeMapping, WorkLists}
import graft.sinks.{PgBinaryCopy, PgCopySink, PgServer, PgWire}
import graft.sources.ParquetSource

/** The benchmark's own connections to the live server. Every call opens
  * and closes one session. */
final class Pg(val live: PgServer.Live) {
  def query(sql: String): Seq[Array[String]] = {
    val c = PgWire.connect(live.target)
    try c.query(sql)._2 finally c.close()
  }

  def exec(sql: String): Unit = {
    val c = PgWire.connect(live.target)
    try { c.exec(sql); () } finally c.close()
  }

  /** (sessions, transactions, tuples inserted) for the database. */
  def stats(): (Long, Long, Long) = {
    val r = query("SELECT sessions, xact_commit + xact_rollback, tup_inserted " +
      "FROM pg_stat_database WHERE datname = current_database()").head
    (r(0).toLong, r(1).toLong, r(2).toLong)
  }

  /** CPU seconds of the server: postmaster, reaped and live backends. */
  def serverCpuS(): Double = {
    val pid = Files.readAllLines(Paths.get(PgServer.dataDir, "postmaster.pid")).get(0).trim.toLong
    Host.treeCpuS(pid)
  }
}

object Pg {
  /** The live server, with autovacuum off: the benchmark drops and
    * creates its tables every pass, and autovacuum on the catalogs that
    * churn would run beside the timed batches and add catalog rows to
    * the database's inserted-tuple count the checks read. */
  def boot(): Pg = {
    val pg = new Pg(PgServer.instance.fold(
      e => throw new IllegalStateException(s"postgres unavailable: $e"), identity))
    pg.exec("ALTER SYSTEM SET autovacuum = off")
    pg.query("SELECT pg_reload_conf()")
    pg
  }
}

/** The paper's path, composed from graft's layer entry points the way
  * `Pipeline.run` composes them, with the sink that speaks Postgres:
  * work list → ObjectStore.resolve → ParquetSource.readBatch /
  * selectFields → TypeMapping.castTo → PgCopySink.write → markCompleted.
  * One op is one work-list batch; a pass is the whole work list, into a
  * fresh target table. */
final class EtlWorkload(spark: SparkSession, tr: Tracer, pg: Pg, dir: String)
    extends Workload {
  import EtlWorkload._

  private val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
    .readTree(new java.io.File(s"$dir/manifest.json"))
  private val fields: Seq[String] =
    manifest.get("fields").elements().asScala.map(_.asText).toSeq
  private val casts: Map[String, String] =
    manifest.get("casts").properties().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val batchSize = manifest.get("batch").asInt
  private val ddl = manifest.get("ddl").asText
  private val objects = s"$dir/objects"
  private def keys(f: String): Vector[String] =
    Files.readAllLines(Paths.get(dir, f)).asScala.toVector.filter(_.nonEmpty)
  private val allKeys = keys("todo")
  /** [[SparkAggregates]] of a set of input files: the files do not change
    * during a run, so each set is aggregated once. */
  private val inputAgg = scala.collection.mutable.Map.empty[Seq[String], Seq[BigDecimal]]

  private var pass = 0
  private var wl: WorkLists = _
  private var consumed = 0
  private var passRows = 0L
  private var passTupBase = 0L
  var batches = 0L
  private var tupInserted = 0L

  private def create(t: String): Unit = {
    pg.exec(s"DROP TABLE IF EXISTS $t")
    pg.exec(s"CREATE TABLE $t ($ddl)")
  }

  /** Waits until the server's inserted-tuple count reaches `atLeast`:
    * backends flush their statistics when they exit, a moment after the
    * client closes the connection. Returns the count. */
  private def settledTup(atLeast: Long): Long = {
    val deadline = System.nanoTime() + 5e9.toLong
    var tup = pg.stats()._3
    while (tup < atLeast && System.nanoTime() < deadline) {
      Thread.sleep(100)
      tup = pg.stats()._3
    }
    tup
  }

  /** The server's inserted-tuple count once the sessions that ended
    * before this call have flushed theirs (the catalog rows of CREATE
    * TABLE count too): two reads 100 ms apart that agree. */
  private def quietTup(): Long = {
    val deadline = System.nanoTime() + 5e9.toLong
    var last = -1L
    var tup = pg.stats()._3
    while (tup != last && System.nanoTime() < deadline) {
      Thread.sleep(100)
      last = tup
      tup = pg.stats()._3
    }
    tup
  }

  def reset(): Unit = {
    create(Target)
    pass += 1
    val wlDir = Paths.get(dir, s"worklist-$pass")
    Files.createDirectories(wlDir)
    Files.copy(Paths.get(dir, "todo"), wlDir.resolve("todo"))
    wl = new WorkLists(wlDir.toString, batchSize)
    consumed = 0
    passRows = 0L
    passTupBase = quietTup()
    if (counting) counters.resume()
  }

  def exhausted: Boolean = consumed >= allKeys.size

  def label: String = s"pass $pass batch ${batches}"

  /** Warms up on [[WarmupPasses]] whole passes, each checked: batch
    * times fall steeply for the first four passes while the JIT compiles
    * the scan, cast and encode paths, and only slowly after. */
  def warmup(): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    (0 until WarmupPasses).foreach { _ =>
      reset()
      while (!exhausted) op()
      errs ++= check()
    }
    reset()
    errs.toSeq
  }

  private def pgAggregates(table: String): Seq[BigDecimal] =
    pg.query(s"SELECT $PgAggregates FROM $table").head.toSeq.map(BigDecimal(_))

  /** [[SparkAggregates]] of the given input files, read by plain Spark. */
  private def inputAggregates(ks: Seq[String]): Seq[BigDecimal] =
    if (ks.isEmpty) Seq.fill(SparkAggregates.size)(BigDecimal(0))
    else inputAgg.getOrElseUpdate(ks.sorted, {
      val r = spark.read.parquet(ks.map(k => s"$objects/$k"): _*)
        .selectExpr(SparkAggregates: _*).head()
      (0 until r.length).map(i => BigDecimal(String.valueOf(r.get(i))))
    })

  private def construct(keys: Seq[String]): DataFrame = {
    val paths = tr.span("etl.resolve")(keys.map(ObjectStore.resolve(objects, _)))
    val df = tr.span("sources.read_batch")(ParquetSource.readBatch(spark, paths))
    val sel = tr.span("sources.select_fields")(ParquetSource.selectFields(df, fields))
    tr.span("etl.cast_to")(TypeMapping.castTo(sel, casts))
  }

  def op(): Double = {
    val t = System.nanoTime()
    val batch = tr.span("etl.next_batch")(wl.nextBatch())
    val df = tr.span("construct")(construct(batch))
    tr.addAnalysis(df.queryExecution)
    tr.record("construct.jobs", tr.take().jobs)
    val n = tr.span("sinks.write")(
      PgCopySink.write(df, pg.live.url, Target, sourceFields = Some(fields)))
    val sink = tr.take()
    tr.record("sinks.jobs_per_batch", sink.jobs)
    tr.record("sinks.tasks_per_batch", sink.tasks)
    tr.record("sinks.cached_mb_per_batch", sink.cachedPeakBytes / 1048576.0)
    tr.span("etl.mark_completed")(batch.foreach(wl.markCompleted))
    tr.record("etl.rows", n)
    tr.record("etl.batch_s", (System.nanoTime() - t) / 1e9)
    consumed += batch.size
    passRows += n
    batches += 1
    n.toDouble
  }

  /** Output checks for the current pass: work-list state, Postgres
    * aggregates against aggregates of the landed files read by
    * plain Spark (not through graft's source and cast layers), and the
    * server's own inserted-tuple count. */
  def check(): Seq[String] = {
    if (counting) counters.pause()
    val errs = ArrayBuffer.empty[String]
    val d = Paths.get(dir, s"worklist-$pass")
    def lines(f: String): Vector[String] = {
      val p = d.resolve(f)
      if (!Files.exists(p)) Vector.empty
      else Files.readAllLines(p).asScala.toVector.filter(_.trim.nonEmpty)
    }
    val (todo, wip, done) = (lines("todo"), lines("wip"), lines("completed"))
    if (wip.nonEmpty) errs += s"wip not empty: ${wip.size} keys"
    if (done.distinct.size != done.size) errs += "a key is completed twice"
    if ((todo ++ done).sorted != allKeys.sorted)
      errs += "todo and completed do not partition the input keys"
    if (exhausted && todo.nonEmpty) errs += "todo not empty at the end of the input"
    val pgAgg = pgAggregates(Target)
    val landed = inputAggregates(done)
    if (pgAgg != landed)
      errs += s"postgres aggregates ${pgAgg.mkString(",")} != input ${landed.mkString(",")}"
    if (landed.head.toLong != passRows)
      errs += s"sink reported $passRows rows, input has ${landed.head}"
    val tup = settledTup(passTupBase + passRows) - passTupBase
    if (tup != passRows) errs += s"pg_stat_database.tup_inserted moved $tup for $passRows rows"
    tupInserted += tup
    errs.toSeq
  }

  private def frames(n: Int): Seq[(DataFrame, Long)] =
    allKeys.grouped(batchSize).take(n).toSeq.map { keys =>
      val df = construct(keys)
      (df, df.count())
    }

  /** Floors on the workload's own first batches: the same frame into
    * `noop` (Spark-side ceiling), encoded by the sink's RowStream into a
    * discard stream, and pre-encoded bytes through `PgWire.copyIn` on at
    * most `cores` connections (Postgres ceiling). Plus the NTZ probe. */
  def floors(floorBatches: Int, cores: Int): Map[String, Double] = {
    val fs = frames(floorBatches)
    val rows = fs.map(_._2).sum.toDouble
    def rate(f: DataFrame => Unit): Double = {
      fs.foreach { case (df, _) => f(df) } // warm
      val t = System.nanoTime()
      fs.foreach { case (df, _) => f(df) }
      rows / ((System.nanoTime() - t) / 1e9)
    }
    val noop = rate(_.write.format("noop").mode("overwrite").save())
    val encs = fs.head._1.schema.fields.map(f => PgBinaryCopy.fieldEncoder(f.dataType).get)
    val bytesAcc = spark.sparkContext.longAccumulator("encoded_bytes")
    val encode = rate { df =>
      df.foreachPartition { (it: Iterator[Row]) =>
        val s = new PgBinaryCopy.RowStream(it, encs)
        val buf = new Array[Byte](1 << 16)
        var total = 0L
        var n = s.read(buf, 0, buf.length)
        while (n >= 0) { total += n; n = s.read(buf, 0, buf.length) }
        bytesAcc.add(total)
      }
    }
    val bytesPerRow = bytesAcc.value / (2 * rows)
    val encoded: Seq[Array[Byte]] = fs.flatMap { case (df, _) =>
      df.rdd.mapPartitions { it =>
        val bos = new java.io.ByteArrayOutputStream()
        new PgBinaryCopy.RowStream(it, encs).transferTo(bos)
        Iterator(bos.toByteArray)
      }.collect().toSeq
    }
    create(WireTable)
    val cols = fields.map(f => s""""$f"""").mkString(", ")
    val copySql = s"COPY $WireTable ($cols) FROM STDIN WITH (FORMAT binary)"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, cores))
    val wireMbS = try {
      val t = System.nanoTime()
      val futs = encoded.map { b =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            val c = PgWire.connect(pg.live.target)
            try c.copyIn(copySql, new java.io.ByteArrayInputStream(b)) finally c.close()
          }
        })
      }
      val copied = futs.map(_.get).sum
      val s = (System.nanoTime() - t) / 1e9
      require(copied == rows.toLong, s"wire floor copied $copied of $rows rows")
      encoded.map(_.length.toLong).sum / 1048576.0 / s
    } finally pool.shutdown()
    pg.exec(s"DROP TABLE $WireTable")
    Map(
      "sources.noop_rows_per_s" -> noop,
      "sinks.encode_rows_per_s" -> encode,
      "sinks.encode_bytes_per_row" -> bytesPerRow,
      "sinks.wire_mb_per_s" -> wireMbS,
      "sinks.ntz_probe_failed" -> ntzProbe())
  }

  /** Loads the TIMESTAMP_NTZ slice through the same path; 1 when the
    * sink rejects it, 0 when it lands. */
  private def ntzProbe(): Double = {
    create(NtzTable)
    val df = TypeMapping.castTo(ParquetSource.selectFields(
      ParquetSource.readBatch(spark, Seq(s"$dir/ntz/probe.parquet")), fields), casts)
    val failed =
      try { PgCopySink.write(df, pg.live.url, NtzTable, sourceFields = Some(fields)); 0.0 }
      catch {
        case e: IllegalArgumentException if e.getMessage.contains("no PG binary mapping") => 1.0
      }
    pg.exec(s"DROP TABLE $NtzTable")
    failed
  }

  private val counters = new ServerCounters(pg)
  private var counting = false
  private var batches0, tup0 = 0L

  /** Opens the window over which [[serverCounters]] reports. It covers
    * the ops only: [[check]] pauses it and [[reset]] resumes it, so the
    * benchmark's own queries in between stay out of it. */
  def startCounters(): Unit = {
    counting = true
    batches0 = batches
    tup0 = tupInserted
    counters.resume()
  }

  /** Server-side counters per batch since [[startCounters]]; call after
    * the last [[check]]. */
  def serverCounters(): Map[String, Double] = {
    counting = false
    val b = math.max(1L, batches - batches0).toDouble
    Map(
      "sinks.pg_sessions_per_batch" -> counters.sessions / b,
      "sinks.pg_xacts_per_batch" -> counters.xacts / b,
      "sinks.pg_backend_cpu_s_per_batch" -> counters.cpuS / b,
      "sinks.pg_tup_inserted_per_batch" -> (tupInserted - tup0) / b,
      "sinks.count_query_ms" -> countQueryMs())
  }

  /** Median COUNT(*) on the target at its current size, in ms. */
  def countQueryMs(): Double = {
    val c = PgWire.connect(pg.live.target)
    try Stats.median((0 until 5).map { _ =>
      val t = System.nanoTime()
      c.query(s"SELECT COUNT(*) FROM $Target")
      (System.nanoTime() - t) / 1e6
    })
    finally c.close()
  }
}

/** `pg_stat_database` and server-CPU deltas summed over the intervals
  * between [[resume]] and [[pause]]. The one benchmark session inside
  * each interval (the statistics read that opens it) is subtracted: one
  * session, and the transactions such a session was measured to add. */
final class ServerCounters(pg: Pg) {
  var sessions, xacts = 0L
  var cpuS = 0.0
  private var at: (Double, (Long, Long, Long)) = _

  /** Transactions of one statistics read, from three reads spaced so
    * each one's session has ended and flushed before the next. */
  private lazy val readXacts: Long = {
    val r = (0 until 3).map { _ => Thread.sleep(300); pg.stats()._2 }
    r(2) - r(1)
  }

  def resume(): Unit = {
    readXacts: Unit
    at = (pg.serverCpuS(), pg.stats())
  }

  def pause(): Unit = {
    Thread.sleep(300) // the sink's backends have exited and flushed
    val cpu = pg.serverCpuS()
    val st = pg.stats()
    cpuS += cpu - at._1
    sessions += st._1 - at._2._1 - 1
    xacts += st._2 - at._2._2 - readXacts
  }
}

object EtlWorkload {
  val WarmupPasses = 4
  val Target = "bench_target"
  val WireTable = "bench_wire"
  val NtzTable = "bench_ntz"

  /** The same aggregates on both sides: exact (decimal) sums of every
    * numeric column, category counts, and whole seconds of the dates. */
  private val sums = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  private val cents = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val PgAggregates: String = (Seq("count(*)") ++ sums.map(c => s"coalesce(sum($c), 0)") ++
    cents.map(c => s"coalesce(sum($c::numeric(20,2)), 0)") ++ Seq(
      "count(*) FILTER (WHERE l_returnflag = 'R')",
      "count(*) FILTER (WHERE l_linestatus = 'F')",
      "coalesce(sum(extract(epoch FROM l_shipdate))::bigint, 0)")).mkString(", ")

  val SparkAggregates: Seq[String] = Seq("count(*)") ++ sums.map(c => s"sum($c)") ++
    cents.map(c => s"sum(cast($c AS decimal(20,2)))") ++ Seq(
      "count_if(l_returnflag = 'R')", "count_if(l_linestatus = 'F')",
      "sum(unix_seconds(l_shipdate))")
}
