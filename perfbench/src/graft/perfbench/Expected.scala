package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Recorded (row count, content hash) per query on the fixed tables. */
object Expected {
  def load(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      .get("queries").properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
      }.toMap
  }

  /** Runs each query once and prints `{"name", "rows", "hash"}` lines. */
  def record(spark: SparkSession, tr: Tracer, tables: String, names: Seq[String]): Unit = {
    val q = new QueryWorkload(spark, tr, tables, names, Map.empty, 0L)
    names.foreach { n =>
      val t = System.nanoTime()
      val (rows, hash) = q.run(n)
      val ms = (System.nanoTime() - t) / 1e6
      println(s"""{"name": "$n", "rows": $rows, "hash": "$hash", "ms": $ms}""")
    }
  }
}
