package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query: its Spark builder over (session, data dir) and its DuckDB
  * oracle SQL. The oracle is rendered on demand, so building the query map
  * renders no SQL. The object that holds a record is its operator module.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String)
