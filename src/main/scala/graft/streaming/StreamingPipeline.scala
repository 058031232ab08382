package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.etl.TypeMapping
import graft.sinks.PgCopySink
import graft.sources.ParquetSource

/** Continuous-ingest mode of the reference's ETL loop
  * (reference: src/runner.rs:48-113): instead of draining a todo file,
  * a FileStreamSource watches the landing prefix and every micro-batch
  * runs the same project → cast → validated-load stages through
  * [[PgCopySink.write]].
  *
  * Restartability comes from the streaming checkpoint instead of the
  * todo/wip/completed work lists: source offsets (which files are
  * consumed) commit only after the batch's foreachBatch completes, so
  * a crash replays the in-flight batch — the same at-least-once unit
  * of work as the reference's wip list, with no bespoke state files.
  * At scale `maxFilesPerTrigger` bounds batch size exactly like the
  * reference's `download_batch_size`.
  */
object StreamingPipeline {

  def run(spark: SparkSession, srcGlob: String, schema: StructType,
      desiredFields: Seq[String], url: String, table: String,
      aliases: Map[String, Option[String]] = Map.empty,
      casts: Map[String, String] = Map.empty,
      checkpointDir: String, maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcGlob)
    val sel = ParquetSource.selectFields(src, desiredFields)
    val cast = if (casts.isEmpty) sel else TypeMapping.castTo(sel, casts)
    cast.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // sourceFields: alias resolution must see the USER's field
        // names, not selectFields' deduped '_N' labels (the
        // Pipeline.run discipline — review r11)
        PgCopySink.write(batch, url, table, aliases,
          sourceFields = Some(desiredFields))
        ()
      }
      .start()
  }
}
