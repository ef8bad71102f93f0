package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are assembled from the QueryRegistry so every
  * operator's Spark implementation and DuckDB oracle live side by side.
  */
object SparkEntry {

  /** Flagship: end-to-end RAG retrieval (embed → cosine top-k → fetch text)
    * on sf0.001; the driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    RagQueries.queryTextTop5(
      Par(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")),
      substring(col("text"), 1, 80).as("snippet"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryRegistry.all.map(d => d.name -> d.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (LlmClient-boundary queries) → driver records a rows-only check.
    */
  def oracleSql: Map[String, String] =
    QueryRegistry.all.flatMap(d => d.oracle.map(sql => d.name -> sql.trim)).toMap
}
