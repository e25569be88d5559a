package graft.load

import java.sql.Connection
import java.util.Properties

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.jdbc.{JdbcOptionsInWrite, JdbcUtils}

import graft.core.RunSession

/** Per-table load result (reference: transform/load.py:111-189). */
case class LoadResult(
    index: Int,
    tableName: String,
    rows: Long,
    columns: Int,
    status: String, // success | skipped_empty | error
    rowsLoaded: Long,
    tableExisted: Boolean,
    action: String, // create | append | replace | fail
    error: Option[String] = None)

/** Load-phase metadata (reference: transform/load.py:92-99,273-286). */
case class LoadReport(
    status: String, // success | partial_success | failure | no_data
    dbPath: String,
    tablesLoaded: Int,
    totalRowsLoaded: Long,
    totalErrors: Int,
    results: Seq[LoadResult])

/** Load stage (SURVEY §2.1 K1/K2 + A5; reference transform/load.py):
  * write the final frames to an embedded relational database over JDBC
  * with append/replace/fail semantics and a post-write row-count
  * verification (A5), plus the per-frame CSV sink.
  *
  * The reference embeds SQLite; the rebuild's `df.write.jdbc` is
  * engine-agnostic — tests run against embedded Derby (the JDBC
  * database shipped with Spark), and a production deployment points
  * the same code at any JDBC URL. At scale the JDBC write streams
  * partition-parallel inserts (`numPartitions` on the writer bounds
  * connection fan-out). The existence check (the dialect's probe
  * query) and the row-count verify (`SELECT COUNT(*)`) are plain SQL
  * over one JDBC connection per table, opened like the writer's: the
  * database counts, and no row comes back. Frames load side by side,
  * one task per table.
  */
class Loader(jdbcUrl: String, props: Properties = new Properties()) {

  /** K1 + A5: load each frame into its table with the given existence
    * policy, verifying each write by counting the table's rows. The
    * frames load side by side ([[RunSession.parMap]]); results keep
    * input order.
    */
  def loadJdbc(spark: SparkSession, dataframes: Seq[DataFrame],
               tableNames: Option[Seq[String]] = None,
               ifExists: String = "append"): LoadReport = {
    if (dataframes.isEmpty)
      return LoadReport("no_data", jdbcUrl, 0, 0L, 0, Nil)
    val names = tableNames.getOrElse(dataframes.indices.map(i => s"table_$i"))
    require(names.size == dataframes.size,
      s"Number of table names (${names.size}) must match number of DataFrames (${dataframes.size})")

    // frames bound for one table load one after another, so each
    // verify counts only its own write
    val byTable = dataframes.zip(names).zipWithIndex.groupBy(_._1._2).values.toSeq
    val results = RunSession.parMap(spark, byTable) {
      _.map { case ((df, table), idx) => load(df, table, idx, ifExists) }
    }.flatten.sortBy(_.index)

    val errors = results.count(_.status == "error")
    val loaded = results.count(_.status == "success")
    val status =
      if (errors == 0) "success"
      else if (errors == dataframes.size) "failure"
      else "partial_success"
    LoadReport(status, jdbcUrl, loaded,
      results.filter(_.status == "success").map(_.rows).sum, errors, results)
  }

  private def load(df: DataFrame, table: String, idx: Int, ifExists: String): LoadResult = {
    val rows = df.count()
    val nCols = df.columns.length
    // the writer's options: driver, user and connection properties
    val opts = new JdbcOptionsInWrite(jdbcUrl, table, props.asScala.toMap)
    if (rows == 0L) {
      val existed = try JdbcUtils.withConnection(opts)(JdbcUtils.tableExists(_, opts))
        catch { case _: Exception => false }
      LoadResult(idx, table, rows, nCols, "skipped_empty", 0L,
        tableExisted = existed, action = ifExists)
    } else {
      try JdbcUtils.withConnection(opts) { conn =>
        val existed = JdbcUtils.tableExists(conn, opts)
        val before = if (existed) tableCount(conn, table) else 0L
        val mode = ifExists match {
          case "replace" => SaveMode.Overwrite
          case "fail" => SaveMode.ErrorIfExists
          case _ => SaveMode.Append
        }
        df.write.mode(mode).jdbc(jdbcUrl, table, props)
        // A5: count-based load verification (load.py:163,282-286)
        val after = tableCount(conn, table)
        val expected = if (existed && ifExists == "append") before + rows else rows
        val status = if (after == expected) "success" else "error"
        LoadResult(idx, table, rows, nCols, status, after, existed,
          action = if (existed) ifExists else "create",
          error = if (after == expected) None
          else Some(s"row-count verify failed: expected $expected, found $after"))
      } catch {
        case e: Exception =>
          LoadResult(idx, table, rows, nCols, "error", 0L,
            tableExisted = false, action = ifExists, error = Some(e.getMessage))
      }
    }
  }

  private def tableCount(conn: Connection, table: String): Long = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally st.close()
  }
}

object Loader {

  /** K2: per-frame CSV outputs (`result_<i>.csv`, header on), one file
    * each like the reference's `df.to_csv` (validator.py:507-566).
    * `coalesce(1)` is the reference-parity single-file contract; lake-
    * scale exports drop it and write partition-parallel part files.
    * The frames are written side by side ([[RunSession.parMap]]).
    */
  def writeCsv(dataframes: Seq[DataFrame], outDir: String,
               singleFile: Boolean = true): Seq[String] =
    if (dataframes.isEmpty) Nil
    else RunSession.parMap(dataframes.head.sparkSession, dataframes.zipWithIndex) { case (df, i) =>
      val path = s"$outDir/result_$i.csv"
      val w = if (singleFile) df.coalesce(1) else df
      w.write.mode("overwrite").option("header", "true").csv(path)
      path
    }
}
