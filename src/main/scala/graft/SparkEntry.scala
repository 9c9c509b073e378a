package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's full declared inventory (SURVEY §2.4 Q1-Q12
  * plus the training-data-pipeline operators); every entry has a DuckDB
  * oracle in `oracleSql` with identical column names and engine-exact value
  * arithmetic (integer counts, integer-cents money sums, bit-identical
  * IEEE-754 derived doubles).
  */
object SparkEntry {

  /** The query families, in inventory order, with their entries. */
  val families: Seq[(String, Seq[(String, QueryDef)])] = Seq(
    "text" -> TextQueries.entries,
    "relational" -> RelationalQueries.entries,
    "dedup" -> DedupQueries.entries,
    "similarity" -> SimilarityQueries.entries,
    "multimodal" -> MultimodalQueries.entries,
    "pipeline" -> PipelineQueries.entries)

  val all: ListMap[String, QueryDef] = ListMap(families.flatMap(_._2): _*)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.groupAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (name, q) => name -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.collect { case (name, q) if q.sql.isDefined => name -> q.sql.get }
}
