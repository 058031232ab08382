package graft.sinks

import java.sql.DriverManager
import scala.collection.mutable

/** JDBC metadata for [[PgCopySink.write]]'s INSERT branch (any
  * non-Postgres url; embedded Derby in the specs and gated queries).
  *
  * Connect-time validation of the parquet→db column mapping against
  * the live table schema: every dataframe column must land on an
  * existing db column, via the optional alias map (`parquet_to_db`)
  * or by bearing the same name; a missing column or unknown alias is
  * an error BEFORE any data moves (mirrors db.rs Db::connect).
  */
object JdbcSink {

  /** Columns of `table` as reported by JDBC metadata (lower-cased).
    * The table name is a SEARCH PATTERN to getColumns — `_` matches
    * any character, so an unescaped "stage_t" would merge STAGEXT's
    * columns into the validation set and defeat the fail-fast mapping
    * check (review r11); escape with the driver's escape string. */
  def tableColumns(url: String, table: String): Seq[String] = {
    val conn = DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      val esc = Option(md.getSearchStringEscape).getOrElse("\\")
      def pat(t: String): String =
        t.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
      def fetch(t: String): Seq[String] = {
        val rs = md.getColumns(null, null, pat(t), null)
        val cols = mutable.ArrayBuffer.empty[String]
        while (rs.next()) cols += rs.getString("COLUMN_NAME").toLowerCase
        cols.toSeq
      }
      val up = fetch(table.toUpperCase)
      // lowercase / exact-case table identifiers
      if (up.nonEmpty) up else fetch(table)
    } finally conn.close()
  }

  /** Resolve the dataframe→db column names through the alias map and
    * fail fast on anything that doesn't land on a real column. */
  def resolveColumns(dfCols: Seq[String], dbCols: Seq[String],
      aliases: Map[String, Option[String]]): Seq[(String, String)] = {
    val dbSet = dbCols.toSet
    dfCols.map { c =>
      val target = aliases.get(c).flatten.getOrElse(c)
      if (aliases.get(c).flatten.isDefined && !dbSet.contains(target.toLowerCase))
        throw new IllegalArgumentException(
          s"alias '$target' for parquet field '$c' is not a column of the target table")
      if (!dbSet.contains(target.toLowerCase))
        throw new IllegalArgumentException(
          s"parquet field '$c' has no alias and no same-named column in the target table")
      c -> target
    }
  }

  /** COUNT(*) of the target table. */
  private[sinks] def tableCount(url: String, table: String): Long = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next(); rs.getLong(1)
    } finally conn.close()
  }
}
