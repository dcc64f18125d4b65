package graft.tools

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.streaming.StreamingOps

/** Recall measurement for [[StreamingOps.streamingNearDedup]] against the
  * batch MinHash+LSH decision at equal threshold — the empirical evidence
  * behind the single-band pre-filter's documented s^bandRows recall claim
  * (which was previously analytical only). Results: `git show
  * ba03322:NOTES.md`.
  *
  * Run (test sources): sbt "Test/runMain graft.tools.MeasureStreamDedup <sf-dir>"
  */
object MeasureStreamDedup {

  private val streamIds = new AtomicInteger(9000)

  /** Replay `docs` (doc_id, text) through [[StreamingOps.streamingNearDedup]]
    * in doc_id order (event time = epoch + doc_id ms, `batchSize` docs per
    * micro-batch) and return the (doc_id, kept, dup_of) verdicts. Shared by
    * the measurement main and the StreamingSpec recall pin so both replay
    * identically.
    */
  def replay(spark: SparkSession, docs: Seq[(Long, String)], threshold: Double,
      batchSize: Int, bandRows: Int = 2): Seq[(Long, Boolean, Option[Long])] = {
    import spark.implicits._
    val id = streamIds.incrementAndGet()
    val in = MemoryStream[(Long, Timestamp, String)](id, spark, None)
    val name = s"msd_$id"
    val out = StreamingOps.streamingNearDedup(
      in.toDF().toDF("doc_id", "ts", "text"), "ts", "1 hour",
      threshold = threshold, bandRows = bandRows)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      docs.sortBy(_._1).grouped(batchSize).foreach { chunk =>
        in.addData(chunk.map { case (id, text) =>
          (id, new Timestamp(id), text)
        })
        q.processAllAvailable()
      }
      spark.table(name).as[(Long, Boolean, Option[Long])].collect().toSeq
    } finally q.stop()
  }

  /** Docs flagged duplicate by the batch LSH pipeline under
    * first-arrival-wins (the higher doc_id of each pair at `threshold`).
    */
  def batchDupIds(docs: DataFrame, threshold: Double): Set[Long] =
    Dedup.minHashLshPairs(docs, threshold = threshold)
      .select("b_id").distinct().collect().map(_.getLong(0)).toSet

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: MeasureStreamDedup <sf-dir>"))
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // stress corpus: every document plus a near-dup variant (every 29th
    // token dropped → shingle-level Jaccard ≈ 0.9, above the 0.8 threshold)
    val base = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val variants = base.select((col("doc_id") + 1000000L).as("doc_id"),
      array_join(filter(split(col("text"), " "),
        (_, i) => i % 29 =!= 0), " ").as("text"))
    val corpus = base.unionByName(variants)
    import spark.implicits._
    val rows = corpus.as[(Long, String)].collect().toSeq
    println(s"corpus=${rows.size} docs (${rows.size / 2} near-dup pairs)")

    for (threshold <- Seq(0.7, 0.8)) {
      val batchDups = batchDupIds(corpus, threshold) // per threshold, not per config
      for (bandRows <- Seq(1, 2)) {
      val verdicts = replay(spark, rows, threshold, batchSize = 500,
        bandRows = bandRows)
      val streamDups = verdicts.filter(!_._2).map(_._1).toSet
      val hits = (batchDups & streamDups).size
      val extra = (streamDups -- batchDups).size
      println(f"threshold=$threshold bandRows=$bandRows " +
        f"batchDups=${batchDups.size} streamDups=${streamDups.size} " +
        f"recall=${if (batchDups.isEmpty) 1.0 else hits.toDouble / batchDups.size}%.4f " +
        f"extra=$extra bound(t^r)=${math.pow(threshold, bandRows)}%.3f")
      }
    }
    spark.stop()
  }
}
