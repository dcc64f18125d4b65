package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.ops.Par

/** `Par` decides from plan metadata alone: the fan never runs a job, and
  * only a starved file scan gains an exchange.
  */
class ParSpec extends SparkSpec {

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeLike] =
    df.queryExecution.sparkPlan.collect { case e: ShuffleExchangeLike => e }

  /** A one-file parquet table: the one-split scan of the local bench. */
  private lazy val oneFileScan: DataFrame = {
    val dir = Files.createTempDirectory("graft-par").resolve("t").toString
    spark.range(0, 200).select(col("id"), (col("id") % 7).as("k"))
      .coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("fanOutKernel: a one-file parquet scan gains one round-robin " +
      "exchange over defaultParallelism partitions, without a job") {
    val cores = spark.sparkContext.defaultParallelism
    assert(cores > 1)
    val scan = oneFileScan.where(col("k") =!= 3)
    assert(exchanges(scan).isEmpty)
    val (out, jobs) = jobsDuring(Par.fanOutKernel(scan))
    assert(jobs == 0, s"the fan decision ran $jobs job(s)")
    val ex = exchanges(out)
    assert(ex.size == 1)
    assert(ex.head.outputPartitioning == RoundRobinPartitioning(cores))
    assert(out.count() == scan.count())
  }

  test("fanOutKernel returns an in-memory frame, a repartitioned scan and " +
      "a streaming frame as the same object") {
    import spark.implicits._
    val inMemory = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val shuffled = oneFileScan.repartition(col("k"))
    assert(exchanges(shuffled).nonEmpty)
    val streaming = MemoryStream[Int](91, spark, None).toDF()
    for (df <- Seq(inMemory, shuffled, streaming)) {
      val (out, jobs) = jobsDuring(Par.fanOutKernel(df))
      assert(out eq df)
      assert(jobs == 0)
    }
  }

  test("spreadCheckpointed rejects a lazy shuffled frame without running " +
      "a job") {
    val lazyShuffled = spark.range(0, 1000).groupBy((col("id") % 5).as("g"))
      .count()
    val (thrown, jobs) = jobsDuring(
      intercept[IllegalArgumentException](Par.spreadCheckpointed(lazyShuffled)))
    assert(thrown.getMessage.contains("checkpointed"))
    assert(jobs == 0, s"building the frame ran $jobs job(s)")
  }

  test("spreadCheckpointed spreads a one-partition checkpoint to " +
      "defaultParallelism partitions") {
    val cores = spark.sparkContext.defaultParallelism
    val cp = spark.range(0, 100).toDF().coalesce(1).localCheckpoint()
    assert(cp.rdd.getNumPartitions == 1)
    val (out, jobs) = jobsDuring(Par.spreadCheckpointed(cp))
    assert(jobs == 0)
    assert(out.rdd.getNumPartitions == cores)
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == (0L until 100L))
  }
}
