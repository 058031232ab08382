package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.etl.{GraftConfig, Pipeline, WorkLists}
import graft.sinks.{PgBinaryCopy, PgCopySink, PgServer, PgWire}

/** Live-server acceptance of the whole Postgres load path — server
  * bootstrap shared per JVM via [[PgServer]] (cancels where the
  * container lacks binaries, so the suite stays honest elsewhere):
  *
  *  1. byte-level: a real server-side `COPY FROM (FORMAT binary)` of
  *     [[PgBinaryCopy]] bytes, value-compared through psql — every
  *     encoder branch incl. multibyte UTF-8, pre-1970, negative
  *     high-scale numeric, all-NULL tuple (the r11 acceptance).
  *  2. the FULL sink (r11 verdict item 1): [[PgCopySink.write]] drives
  *     a Spark DataFrame through per-partition `COPY FROM STDIN` over
  *     graft's own protocol-v3 wire client — no pgjdbc anywhere — and
  *     the server-side readback value-compares.
  *  3. the auth matrix of the wire client against the live server:
  *     scram-sha-256, md5, and cleartext `password` hba methods, plus
  *     a wrong-password rejection with the server's SQLSTATE.
  *  4. protocol error discipline: server errors surface as
  *     [[PgWire.PgServerException]] with SQLSTATE and the connection
  *     stays usable past the sync point.
  *  5. the CLI's load loop: [[Pipeline.run]] from a YAML config whose
  *     `conn_str` names the live server, fresh and resuming a `wip`
  *     batch left by a crashed run.
  */
class PgLiveSpec extends AnyFunSuite {
  import SparkTestSession._

  // explicit UTF-8 decode of the child's output: sys.process decodes
  // with the platform charset, which mangles multibyte under the
  // container's POSIX locale
  private def sh(cmd: String): (Int, String) = {
    val pb = new java.lang.ProcessBuilder("sh", "-c", cmd)
    pb.directory(new java.io.File("/tmp"))
    pb.redirectErrorStream(true)
    val p = pb.start()
    val bytes = p.getInputStream.readAllBytes()
    val code = p.waitFor()
    (code, new String(bytes, "UTF-8"))
  }

  private def live: PgServer.Live = PgServer.instance match {
    case Right(l) => l
    case Left(reason) => cancel(s"live PostgreSQL unavailable: $reason")
  }

  private def psql(l: PgServer.Live, q: String): String = {
    val (c, o) = sh(
      s"""PGCLIENTENCODING=UTF8 psql -h ${l.socketDir} -U ${l.user} ${l.db} -v ON_ERROR_STOP=1 -At -c "$q"""")
    assert(c == 0, s"psql failed: $o")
    o
  }

  test("live COPY FROM (FORMAT binary) round-trips every encoder type") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_copy")
    psql(l, """CREATE TABLE graft_copy (
      b boolean, i2 smallint, i4 integer, i8 bigint,
      f4 real, f8 double precision, s text, by bytea,
      dt date, ts timestamp, num numeric)""")

    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i2", ShortType),
      StructField("i4", IntegerType), StructField("i8", LongType),
      StructField("f4", FloatType), StructField("f8", DoubleType),
      StructField("s", StringType), StructField("by", BinaryType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("num", DecimalType(20, 4))))
    val encs = schema.fields.map(f =>
      PgBinaryCopy.fieldEncoder(f.dataType).getOrElse(
        fail(s"no encoder for ${f.dataType}")))
    val rows = Seq(
      Row(true, (-32768).toShort, 2147483647, -9007199254740993L,
        1.5f, -2.25d, "héllo 中𝕆", Array[Byte](0, 1, -1),
        java.time.LocalDate.of(1969, 7, 20),
        java.time.Instant.parse("1965-03-04T12:34:56.789012Z"),
        new java.math.BigDecimal("-12345.6789")),
      Row(false, 7.toShort, -1, 0L, 0.0f, 0.0d, "", Array[Byte](),
        java.time.LocalDate.of(2024, 2, 29),
        java.time.Instant.parse("2024-02-29T23:59:59.000001Z"),
        new java.math.BigDecimal("0.0000")),
      Row(null, null, null, null, null, null, null, null, null, null, null))
    val base = java.nio.file.Files.createTempDirectory("pglive_bytes")
    val bin = s"$base/tuples.bin"
    val out = new java.io.FileOutputStream(bin)
    try {
      out.write(PgBinaryCopy.header)
      rows.foreach(r => out.write(PgBinaryCopy.encodeRow(r, encs)))
      out.write(PgBinaryCopy.trailer)
    } finally out.close()
    sh(s"chmod 755 $base && chmod 644 $bin")
    try {
      // the REAL consumer: server-side binary COPY of our bytes
      psql(l, s"COPY graft_copy FROM '$bin' (FORMAT binary)")

      val got = psql(l,
        "SELECT b,i2,i4,i8,f4,f8,s,by,dt,ts,num FROM graft_copy ORDER BY i4 NULLS LAST")
        .trim.split('\n').toSeq
      assert(got == Seq(
        "f|7|-1|0|0|0||\\x|2024-02-29|2024-02-29 23:59:59.000001|0.0000",
        "t|-32768|2147483647|-9007199254740993|1.5|-2.25|héllo 中𝕆|" +
          "\\x0001ff|1969-07-20|1965-03-04 12:34:56.789012|-12345.6789",
        "||||||||||"),
        "server-decoded values must equal what the encoder was fed")
      // numeric arithmetic sanity: the server can COMPUTE on what we
      // sent (proves numeric groups/weight/scale, not just display)
      assert(psql(l, "SELECT SUM(num) FROM graft_copy").trim == "-12345.6789")
      assert(psql(l, "SELECT COUNT(*) FROM graft_copy WHERE b IS NULL").trim == "1")
      // transport-independent multibyte check: the server's own md5 +
      // byte/char census over the stored text must match the UTF-8
      // bytes the encoder was fed (immune to psql display encoding)
      val s0 = "héllo 中𝕆"
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(psql(l,
        "SELECT md5(s) || '|' || octet_length(s) || '|' || char_length(s)" +
          " FROM graft_copy WHERE b").trim ==
        s"$md5|${s0.getBytes("UTF-8").length}|${s0.codePointCount(0, s0.length)}")
    } finally {
      sh(s"rm -rf $base")
      ()
    }
  }

  test("FULL sink: PgCopySink.write drives per-partition wire COPY into live PG") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_sink")
    psql(l, """CREATE TABLE graft_sink (
      k bigint, s text, v double precision, dt date, ts timestamp, num numeric)""")
    val df = spark.sql("""
      SELECT id AS k,
        CASE WHEN id % 5 = 0 THEN NULL
             WHEN id % 3 = 0 THEN concat('中𝕆-', id)
             ELSE concat('row-', id) END AS s,
        CAST(id AS DOUBLE) * 1.25 AS v,
        DATE_ADD(DATE'1969-12-01', CAST(id AS INT)) AS dt,
        TIMESTAMP'1965-03-04 12:34:56.789012' + make_interval(0,0,0,0,0,0, id) AS ts,
        CAST(CAST(id AS DECIMAL(20,4)) * -1.5 AS DECIMAL(20,4)) AS num
      FROM range(0, 1000)""").repartition(7) // several partitions => several wire COPYs
    val n = PgCopySink.write(df, l.url, "graft_sink")
    assert(n == 1000)
    // value compare through the server itself
    assert(psql(l, "SELECT COUNT(*), COUNT(s), SUM(k)::bigint FROM graft_sink").trim
      == "1000|800|499500")
    assert(psql(l, "SELECT v, dt, ts, num FROM graft_sink WHERE k = 999").trim
      == "1248.75|1972-08-26|1965-03-04 12:51:35.789012|-1498.5000")
    assert(psql(l, "SELECT s FROM graft_sink WHERE k = 999").trim == "中𝕆-999")
    assert(psql(l, "SELECT SUM(num) FROM graft_sink").trim == "-749250.0000")
    // validation parity with the INSERT path: unknown column fails fast
    val bad = spark.range(3).selectExpr("id AS nope")
    val e = intercept[IllegalArgumentException](
      PgCopySink.write(bad, l.url, "graft_sink"))
    assert(e.getMessage.contains("no alias and no same-named column"))
    // retry-duplication detector: a second full write doubles the
    // table (at-least-once is real), and the landed-vs-input check
    // reads exact landed counts, so this second write SUCCEEDS with
    // delta == input
    assert(PgCopySink.write(df, l.url, "graft_sink") == 1000)
    assert(psql(l, "SELECT COUNT(*) FROM graft_sink").trim == "2000")
  }

  /** The landed-vs-input check on the COPY branch: a row trigger that
    * inserts one more row per inserted row (guarded by
    * pg_trigger_depth, so its own insert does not fire it) doubles
    * what lands, which the check must report. */
  test("COPY branch: landed-vs-input mismatch throws, empty input returns 0") {
    val l = live
    val conn = PgWire.connect(l.target)
    try {
      conn.exec("DROP TABLE IF EXISTS graft_dup")
      conn.exec("CREATE TABLE graft_dup (k bigint, s text)")
      conn.exec("CREATE OR REPLACE FUNCTION graft_dup_row() RETURNS trigger " +
        "LANGUAGE plpgsql AS $$ BEGIN " +
        "INSERT INTO graft_dup VALUES (NEW.k, NEW.s); RETURN NULL; END $$")
      conn.exec("CREATE TRIGGER graft_dup_t AFTER INSERT ON graft_dup " +
        "FOR EACH ROW WHEN (pg_trigger_depth() < 1) EXECUTE FUNCTION graft_dup_row()")
    } finally conn.close()
    val df = spark.range(0, 100).selectExpr("id AS k", "concat('r-', id) AS s")
      .repartition(3)
    val e = intercept[IllegalStateException](PgCopySink.write(df, l.url, "graft_dup"))
    assert(e.getMessage.contains("200 rows landed for 100 inputs"), e.getMessage)
    assert(psql(l, "SELECT COUNT(*) FROM graft_dup").trim == "200")
    assert(PgCopySink.write(df.filter("k < 0"), l.url, "graft_dup") == 0)
    assert(psql(l, "SELECT COUNT(*) FROM graft_dup").trim == "200")
  }

  /** Parquet objects for the CLI specs: `n` directories under a fresh
    * local bucket, object i holding the rows with id % n == i. */
  private def landObjects(n: Int, rows: Long): (String, Seq[String]) = {
    val bucket = java.nio.file.Files.createTempDirectory("pglive_bucket").toString
    val src = spark.range(0, rows)
      .selectExpr("id AS k", "concat('r-', id) AS s", "CAST(id AS DOUBLE) * 0.5 AS v")
    val objects = (0 until n).map(i => f"obj_$i%02d.parquet")
    objects.zipWithIndex.foreach { case (name, i) =>
      src.filter(s"pmod(k, $n) = $i").write.parquet(s"$bucket/$name")
    }
    (bucket, objects)
  }

  private def cliConfig(connStr: String, table: String, bucket: String,
      batch: Int, work: String): GraftConfig =
    GraftConfig.fromYamlString(
      s"""db:
         |  table_name: $table
         |  conn_str: "$connStr"
         |s3:
         |  bucket: $bucket
         |  download_batch_size: $batch
         |  downloads_dir: unused
         |parquet:
         |  desired_fields: [k, s, v]
         |parquet_to_db:
         |  k: id
         |  s: label
         |  v: null
         |work_lists:
         |  dir: $work
         |""".stripMargin)

  private def readWorkList(work: String, name: String): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(work, name)), "UTF-8").linesIterator.toSeq

  test("CLI pipeline: Pipeline.run loads a live table from a YAML config") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_cli")
    psql(l, "CREATE TABLE graft_cli (id bigint, label text, v double precision)")
    val (bucket, objects) = landObjects(4, 4000)
    val work = java.nio.file.Files.createTempDirectory("pglive_work").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "todo"),
      objects.mkString("", "\n", "\n").getBytes("UTF-8"))
    val total = Pipeline.run(spark, cliConfig(l.url, "graft_cli", bucket, 2, work))
    assert(total == 4000)
    assert(psql(l, "SELECT COUNT(*), COUNT(DISTINCT id), SUM(id), SUM(v) FROM graft_cli").trim
      == "4000|4000|7998000|3999000")
    assert(psql(l, "SELECT label FROM graft_cli WHERE id = 42").trim == "r-42")
    assert(readWorkList(work, "completed") == objects)
    assert(readWorkList(work, "todo").isEmpty && readWorkList(work, "wip").isEmpty)
  }

  /** Crash and resume against the live server: a run strands its first
    * batch in `wip` and dies before loading; the resumed run (libpq
    * key/value `conn_str`, another batch size) drains `wip` first and
    * lands every object exactly once. */
  test("CLI pipeline: resume from a leftover wip batch lands the todo set once") {
    val l = live
    psql(l, "DROP TABLE IF EXISTS graft_cli_resume")
    psql(l, "CREATE TABLE graft_cli_resume (id bigint, label text, v double precision)")
    val (bucket, objects) = landObjects(5, 5000)
    val work = java.nio.file.Files.createTempDirectory("pglive_resume").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(work, "todo"),
      objects.mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(new WorkLists(work, 2).nextBatch() == objects.take(2).toVector)
    assert(readWorkList(work, "wip") == objects.take(2))
    val connStr =
      s"host=${l.socketDir} port=${l.port} user=${l.user} dbname=${l.db}"
    val total = Pipeline.run(spark,
      cliConfig(connStr, "graft_cli_resume", bucket, 3, work))
    assert(total == 5000)
    assert(psql(l, "SELECT COUNT(*), COUNT(DISTINCT id), SUM(id) FROM graft_cli_resume").trim
      == "5000|5000|12497500")
    assert(psql(l,
      "SELECT id % 5, COUNT(*) FROM graft_cli_resume GROUP BY 1 ORDER BY 1").trim
      == (0 until 5).map(i => s"$i|1000").mkString("\n"))
    assert(readWorkList(work, "completed") == objects)
    assert(readWorkList(work, "todo").isEmpty && readWorkList(work, "wip").isEmpty)
  }

  test("schema-qualified target: PgCopySink resolves 'etl.t' as (schema, relation)") {
    val l = live
    psql(l, "CREATE SCHEMA IF NOT EXISTS graft_etl")
    psql(l, "DROP TABLE IF EXISTS graft_etl.orders_q")
    psql(l, "CREATE TABLE graft_etl.orders_q (k bigint, s text)")
    val df = spark.range(0, 100).selectExpr("id AS k", "concat('r-', id) AS s")
    // before the fix this aborted in pgTableColumns ('table does not
    // exist': table_name='graft_etl.orders_q' in current_schema())
    assert(PgCopySink.write(df, l.url, "graft_etl.orders_q") == 100)
    assert(psql(l, "SELECT COUNT(*), SUM(k)::bigint FROM graft_etl.orders_q").trim
      == "100|4950")
    assert(psql(l, "SELECT s FROM graft_etl.orders_q WHERE k = 42").trim == "r-42")
  }

  test("wire auth matrix: scram-sha-256, md5, cleartext password, wrong-password reject") {
    val l = live
    // roles with stored credentials in both formats
    psql(l, "DROP ROLE IF EXISTS graft_scram")
    psql(l, "DROP ROLE IF EXISTS graft_md5")
    psql(l, "SET password_encryption='scram-sha-256'; " +
      "CREATE ROLE graft_scram LOGIN PASSWORD 'sekret-scram'")
    psql(l, "SET password_encryption='md5'; " +
      "CREATE ROLE graft_md5 LOGIN PASSWORD 'sekret-md5'")
    // hba: method depends on the connecting role; first match wins
    val hba = s"${PgServer.dataDir}/pg_hba.conf"
    val body = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hba)), "UTF-8")
    if (!body.contains("graft_scram")) {
      java.nio.file.Files.write(java.nio.file.Paths.get(hba),
        ("local all graft_scram scram-sha-256\n" +
          "local all graft_md5 md5\n" + body).getBytes("UTF-8"))
      psql(l, "SELECT pg_reload_conf()")
    }
    def url(u: String, pw: String) =
      s"jdbc:postgresql://localhost:${l.port}/${l.db}?user=$u&password=$pw&socketDir=${l.socketDir}"
    // SCRAM-SHA-256 (the PG15 default)
    val c1 = PgWire.connect(PgWire.parse(url("graft_scram", "sekret-scram")))
    try assert(c1.query("SELECT current_user")._2.head(0) == "graft_scram")
    finally c1.close()
    // MD5 challenge-response
    val c2 = PgWire.connect(PgWire.parse(url("graft_md5", "sekret-md5")))
    try assert(c2.query("SELECT current_user")._2.head(0) == "graft_md5")
    finally c2.close()
    // wrong password must be rejected by the SERVER (28P01), proving
    // the proof actually reaches it
    val e = intercept[PgWire.PgServerException](
      PgWire.connect(PgWire.parse(url("graft_scram", "wrong"))))
    assert(e.sqlState == "28P01", e.getMessage)
    // cleartext `password` method: switch the hba line and reconnect
    val body2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hba)), "UTF-8")
    java.nio.file.Files.write(java.nio.file.Paths.get(hba),
      body2.replace("local all graft_md5 md5",
        "local all graft_md5 password").getBytes("UTF-8"))
    psql(l, "SELECT pg_reload_conf()")
    val c3 = PgWire.connect(PgWire.parse(url("graft_md5", "sekret-md5")))
    try assert(c3.query("SELECT current_user")._2.head(0) == "graft_md5")
    finally c3.close()
  }

  test("wire protocol error discipline: SQLSTATE surfaces, connection survives") {
    val l = live
    val conn = PgWire.connect(l.target)
    try {
      // copy into a missing table: the error carries 42P01 and the
      // connection reaches its sync point
      val e = intercept[PgWire.PgServerException](
        conn.copyIn("COPY graft_nope FROM STDIN (FORMAT binary)",
          new java.io.ByteArrayInputStream(PgBinaryCopy.header ++ PgBinaryCopy.trailer)))
      assert(e.sqlState == "42P01", e.getMessage)
      // ...and is still usable for the next statement
      assert(conn.query("SELECT 41 + 1")._2.head(0) == "42")
      // mid-COPY server error (wrong trailer => 22P04 bad copy data)
      val e2 = intercept[PgWire.PgServerException] {
        conn.exec("CREATE TABLE IF NOT EXISTS graft_badcopy (k bigint)")
        conn.copyIn("COPY graft_badcopy FROM STDIN (FORMAT binary)",
          new java.io.ByteArrayInputStream(
            PgBinaryCopy.header ++ Array[Byte](9, 9))) // torn tuple
      }
      assert(e2.sqlState.startsWith("22"), e2.getMessage)
      assert(conn.query("SELECT 1")._2.head(0) == "1")
      // producer failure mid-COPY: the row source's own exception
      // surfaces (not a protocol hang) and the connection recovers —
      // the client sends CopyFail and drains to the sync point
      val boom = new java.io.InputStream {
        private var sent = 0
        override def read(): Int =
          if (sent < PgBinaryCopy.header.length) {
            sent += 1; PgBinaryCopy.header(sent - 1) & 0xff
          } else throw new RuntimeException("row source exploded")
      }
      val e3 = intercept[RuntimeException](
        conn.copyIn("COPY graft_badcopy FROM STDIN (FORMAT binary)", boom))
      assert(e3.getMessage == "row source exploded")
      assert(conn.query("SELECT 2")._2.head(0) == "2")
      // exec() on a COPY FROM statement must refuse the transfer and
      // surface the server's CopyFail error, never deadlock
      val e4 = intercept[PgWire.PgServerException](
        conn.exec("COPY graft_badcopy FROM STDIN (FORMAT binary)"))
      assert(e4.sqlState == "57014", e4.getMessage) // query_canceled
      assert(conn.query("SELECT 3")._2.head(0) == "3")
    } finally conn.close()
  }
}
