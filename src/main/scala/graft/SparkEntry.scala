package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.queries._

/** Driver contract (SURVEY.md §7): the flagship `entry`, and every query
  * with its DuckDB oracle.
  *
  * Each query is one [[graft.queries.QueryDef]] in the file of the operator
  * module it exercises (`graft.queries.<Family>Queries`). Column names are
  * aligned 1:1 between a builder and its oracle (the driver sorts columns
  * by name before hashing). Doubles are rounded on both sides for
  * cross-engine float stability.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's flagship is streaming word count
    * (SocketTextStreamWordCount.scala:59-63) — here over the documents table.
    */
  def entry(spark: SparkSession): DataFrame =
    Core.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"), "text")

  private type Q = (SparkSession, String) => DataFrame

  /** Every query, grouped by operator module. */
  val all: Seq[QueryDef] =
    EssentialsQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      TextAnalysisQueries.all ++ TextEvalQueries.all ++ RetrievalQueries.all ++
      SamplingQueries.all ++ CurationQueries.all ++ PackingQueries.all ++
      PreferenceQueries.all ++ MultimodalQueries.all

  /** Query name → builder over (session, data dir). Renders no oracle SQL. */
  lazy val queries: Map[String, Q] = all.iterator.map(q => q.name -> q.build).toMap

  /** Query name → DuckDB SQL over the same parquet tables. */
  def oracleSql: Map[String, String] = all.iterator.map(q => q.name -> q.oracle()).toMap
}
