package graft

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet testdata (TESTDATA.md).
  *
  * Scale notes (100 TB design): every loader returns a plain parquet scan so
  * Catalyst keeps predicate pushdown / column pruning / partition pruning on
  * the table. Nothing here caches data or collects; callers compose lazily.
  */
object Tables {

  /** Per path and parquet read settings: the file listing a schema was
    * inferred from, and that schema.
    */
  private val schemas = TrieMap.empty[(String, Map[String, String]),
    (Seq[(String, Long, Long)], StructType)]

  /** A parquet scan of `<dir>/<name>.parquet` that starts no job: schema
    * inference reads a footer in a one-task job, so the inferred schema
    * is memoized per path and session parquet settings (`nanosAsLong`
    * changes what `events.ts` reads as), and inferred again when the
    * driver-side listing (each file's path, length and modification
    * time) changes.
    */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hadoopPath = new Path(path)
    val files = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(hadoopPath, true)
    val listing = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq
    val key = (path, spark.conf.getAll.filter(_._1.contains("parquet")))
    val schema = schemas.get(key) match {
      case Some((`listing`, known)) => known
      case _ =>
        val inferred = spark.read.parquet(path).schema
        schemas.put(key, (listing, inferred))
        inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  /** `events` stream-shaped table. The driver writes `ts` as parquet
    * TIMESTAMP(NANOS) which Spark's vectorized reader rejects; we read it as
    * raw nanos (`nanosAsLong`) and truncate to microseconds — exactly the
    * truncation DuckDB applies when it casts TIMESTAMP_NS to its native
    * microsecond TIMESTAMP, so oracle comparisons line up bit-for-bit.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) read as raw nanos
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw // already a timestamp column (e.g. re-exported data)
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
