package graft

import java.nio.file.Files

/** Table loaders: a repeated read starts no schema-inference job. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a second read of an unchanged table starts no job; a rewrite " +
      "infers the schema again") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val path = s"$dir/nation.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("n_nationkey", "n_name")
      .write.parquet(path)
    val (first, inferJobs) = jobsDuring(Tables.nation(spark, dir))
    assert(inferJobs >= 1 && first.columns.toSeq == Seq("n_nationkey", "n_name"))
    val (second, jobs) = jobsDuring(Tables.nation(spark, dir))
    assert(jobs == 0, jobs)
    assert(second.schema == first.schema)
    assert(second.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    Seq((3L, "c", 7)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(path)
    spark.catalog.refreshByPath(path)
    val (third, reinferJobs) = jobsDuring(Tables.nation(spark, dir))
    assert(reinferJobs >= 1, reinferJobs)
    assert(third.columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(third.as[(Long, String, Int)].collect().toSeq == Seq((3L, "c", 7)))
  }
}
