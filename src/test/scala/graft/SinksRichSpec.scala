package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.util.LongAccumulator

import graft.ops.Rich
import graft.sources.Sinks

/** Sinks (SURVEY.md §2.2 K1-K6) + rich lifecycle (T3/X8). */
class SinksRichSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("K1 writeAsText (BuiltIn.scala:72-75)") {
    val dir = tmp("k1")
    Sinks.writeText(Seq("alpha", "beta").toDF("value"), dir)
    val back = spark.read.text(dir).as[String].collect().sorted.toSeq
    assert(back == Seq("alpha", "beta"))
  }

  test("K2 writeAsCsv with overwrite (BuiltIn.scala:173-177)") {
    val dir = tmp("k2")
    Sinks.writeCsv(Seq((1, "a"), (2, "b")).toDF("n", "s"), dir)
    Sinks.writeCsv(Seq((3, "c")).toDF("n", "s"), dir) // OVERWRITE semantics
    val back = spark.read.csv(dir).collect()
    assert(back.length == 1 && back.head.getString(0) == "3")
  }

  test("K3 print(): printSink shows the first rows on the console") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out) {
      Sinks.printSink(Seq((1, "alpha"), (2, "beta")).toDF("n", "s"), rows = 1)
    }
    val text = out.toString("UTF-8")
    assert(text.contains("alpha") && !text.contains("beta") &&
      text.contains("only showing top 1 row"), text)
  }

  test("K4 foreach sink side effect (BuiltIn.scala:196)") {
    val acc: LongAccumulator = spark.sparkContext.longAccumulator("seen")
    Sinks.foreachSink(Seq(1, 2, 3).toDS())(v => acc.add(v))
    assert(acc.value == 6L)
  }

  test("K6 executeAndCollect (BuiltIn.scala:322-324)") {
    val rows = Sinks.collectRows(Seq((1, "x")).toDF("a", "b"))
    assert(rows.length == 1 && rows.head.getInt(0) == 1)
  }

  test("K5 checkpointed rolling file sink is exactly-once per micro-batch " +
      "(BuiltIn.scala:200-226)") {
    val dir = tmp("k5out")
    val ckpt = tmp("k5ckpt")
    val in = MemoryStream[String](20, spark, None)
    val q = Sinks.rollingFileSink(in.toDF(), dir, ckpt).start()
    try {
      in.addData("r1", "r2"); q.processAllAvailable()
      in.addData("r3"); q.processAllAvailable()
      val back = spark.read.text(dir).as[String].collect().sorted.toSeq
      assert(back == Seq("r1", "r2", "r3"))
    } finally q.stop()
  }

  test("K5 exactly-once across sink restart: no duplicate rows " +
      "(BuiltIn.scala:200-226 fault-tolerance claim)") {
    val dir = tmp("k5r-out")
    val ckpt = tmp("k5r-ckpt")
    val in = MemoryStream[String](21, spark, None)
    def start() = Sinks.rollingFileSink(in.toDF(), dir, ckpt).start()
    val q1 = start()
    in.addData("a", "b"); q1.processAllAvailable(); q1.stop()
    in.addData("c")
    val q2 = start() // restart from the same checkpoint ("redeploy")
    try {
      q2.processAllAvailable()
      val back = spark.read.text(dir).as[String].collect().sorted.toSeq
      assert(back == Seq("a", "b", "c")) // a,b not re-emitted
    } finally q2.stop()
  }

  test("W5 processing-time window smoke: wall-clock bucketing runs " +
      "(TimeBasedTransformations.scala:69-74 divergence, SURVEY §7.4.2)") {
    import org.apache.spark.sql.functions._
    // batch analogue: every row buckets into the current wall-clock window —
    // inherently nondeterministic across runs, hence smoke-only (the
    // correctness harness recasts all W5 pipelines over event time)
    val got = Seq(1, 2, 3).toDF("v")
      .groupBy(window(current_timestamp(), "10 seconds"))
      .count().collect()
    assert(got.length == 1 && got.head.getLong(1) == 3L)
  }

  test("foreachBatch fans one stream out to multiple sinks exactly once") {
    import scala.jdk.CollectionConverters._
    val dir = tmp("fb-out")
    val ckpt = tmp("fb-ckpt")
    val in = MemoryStream[String](23, spark, None)
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val q = in.toDF().writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.persist() // one upstream computation feeds both sinks
        batch.write.mode("append").parquet(dir)
        batch.collect().foreach(r => seen.add(r.getString(0)))
        batch.unpersist()
        ()
      }.start()
    try {
      in.addData("a", "b"); q.processAllAvailable()
      in.addData("c"); q.processAllAvailable()
      assert(seen.asScala.sorted == Seq("a", "b", "c"))
      assert(spark.read.parquet(dir).as[String].collect().sorted.toSeq ==
        Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains all pending input then terminates") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmp("anow-out")
    val ckpt = tmp("anow-ckpt")
    val in = MemoryStream[String](22, spark, None)
    in.addData("x", "y", "z")
    val q = in.toDF().writeStream.format("text")
      .option("path", dir).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(30000)) // self-terminates after the drain
    assert(spark.read.text(dir).count() == 3L)
  }

  test("T3/X8 rich lifecycle: open/close once per partition " +
      "(RichFunctions.scala:91-157)") {
    val opens = spark.sparkContext.longAccumulator("opens")
    val closes = spark.sparkContext.longAccumulator("closes")
    val ds = spark.createDataset(1 to 8).repartition(2)
    val out = Rich.mapWithLifecycle(ds)(
      _ => opens.add(1), v => v * 10, _ => closes.add(1))
    assert(out.collect().sorted.toSeq == (1 to 8).map(_ * 10))
    assert(opens.value == 2L) // once per parallel instance, as the
    assert(closes.value == 2L) // reference demonstrates for parallelism 2
  }

  test("runtime context exposes the job id (RichFunctions.scala:118-133)") {
    import spark.implicits._
    val ds = spark.createDataset(1 to 4).repartition(2)
    // the reference's open() prints (jobId, subtask index); here every
    // record carries what its task's RuntimeInfo reported
    val seen = Rich.mapWithRuntimeContext(ds)(
      _ => (), (ctx, v) => (ctx.appId, ctx.partitionId, v), _ => ())
      .collect()
    val appId = spark.sparkContext.applicationId
    assert(seen.map(_._1).distinct.toSeq == Seq(appId))
    assert(seen.map(_._2).distinct.sorted.toSeq == Seq(0, 1))
    assert(seen.map(_._3).sorted.toSeq == (1 to 4))
  }

  test("writeRangeClustered: per-file key ranges are disjoint and sorted") {
    import org.apache.spark.sql.functions._
    val dir = tmp("clustered")
    // adversarial input layout: keys round-robined across partitions so a
    // naive write would give every file the full [0, 4000) range
    val df = spark.range(4000).select(
      (col("id") * 2654435761L % 4000).as("k"), col("id").as("v"))
      .repartition(8)
    Sinks.writeRangeClustered(df, dir, nFiles = 4, clusterCols = Seq("k"))
    val files = spark.read.parquet(dir).inputFiles.toSeq
    assert(files.size == 4, files)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("k"), max("k"), count(lit(1)))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }.sortBy(_._1)
    assert(ranges.map(_._3).sum == 4000L) // nothing lost
    // disjoint: every file's max < the next file's min ⇒ a range predicate
    // touches only the files whose [min, max] straddles it
    ranges.sliding(2).foreach {
      case Seq((_, max1, _), (min2, _, _)) => assert(max1 < min2, ranges)
      case _ => ()
    }
    // rows inside each file are sorted on the cluster key (row-group
    // min/max stats are then tight, not whole-file-wide)
    for (f <- files) {
      val ks = spark.read.parquet(f).select("k").as[Long].collect().toSeq
      assert(ks == ks.sorted, f)
    }
  }

  test("shardManifest: exact per-file facts; total hash invariant under re-sharding") {
    import org.apache.spark.sql.functions._
    val df = spark.range(1000).select(col("id").as("k"),
      (col("id") % 7).cast("string").as("v"))
    val dir4 = tmp("mani4")
    val dir2 = tmp("mani2")
    Sinks.writeRangeClustered(df, dir4, nFiles = 4, clusterCols = Seq("k"))
    Sinks.writeRangeClustered(df, dir2, nFiles = 2, clusterCols = Seq("k"))
    val m4 = Sinks.shardManifest(spark, dir4, Seq("k")).collect()
    assert(m4.length == 4)
    // row counts conserve; every file's manifest row matches the file
    assert(m4.map(_.getAs[Long]("n_rows")).sum == 1000L)
    for (r <- m4) {
      val f = spark.read.parquet(r.getAs[String]("file"))
      assert(f.count() == r.getAs[Long]("n_rows"))
      val mm = f.agg(min("k"), max("k")).head()
      assert(mm.getLong(0) == r.getAs[Long]("min_k") &&
        mm.getLong(1) == r.getAs[Long]("max_k"))
      assert(r.getAs[Long]("file_bytes") > 0)
    }
    // Σ content_hash is a pure function of the CONTENT: identical rows
    // written at different parallelism (different files, different
    // per-file splits) total to the same hash
    def total(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.getAs[java.math.BigDecimal]("content_hash"))
        .map(BigDecimal(_)).sum
    val m2 = Sinks.shardManifest(spark, dir2, Seq("k")).collect()
    assert(m2.length == 2)
    assert(total(m4) == total(m2))
    // a content change moves the total: same keys, one value differs
    val dirX = tmp("maniX")
    val dfX = spark.range(1000).select(col("id").as("k"),
      when(col("id") === 500, lit("tampered"))
        .otherwise((col("id") % 7).cast("string")).as("v"))
    Sinks.writeRangeClustered(dfX, dirX, nFiles = 4, clusterCols = Seq("k"))
    val mX = Sinks.shardManifest(spark, dirX, Seq("k")).collect()
    assert(total(mX) != total(m4))
  }

  test("compaction plan: contiguous offset bins, hand-checked groups") {
    import spark.implicits._
    val manifest = Seq(("f1", 10L), ("f2", 10L), ("f3", 10L), ("f4", 25L),
      ("f5", 5L), ("f6", 0L)).toDF("file", "bytes")
    val got = graft.sources.Sinks
      .compactionPlan(manifest, "bytes", "file", target = 30L)
      .as[(String, Long, Int)].collect().sortBy(_._1).toSeq
    // cumulative-before: 0,10,20,30,55,60 -> bins 0,0,0,1,1,2
    assert(got == Seq(("f1", 10L, 0), ("f2", 10L, 0), ("f3", 10L, 0),
      ("f4", 25L, 1), ("f5", 5L, 1), ("f6", 0L, 2)), got)
    // groups are contiguous in file order (a merged range stays a range)
    val byGroup = got.groupBy(_._3).view.mapValues(_.map(_._1).sorted)
    assert(byGroup.values.forall(fs =>
      got.map(_._1).slice(got.map(_._1).indexOf(fs.head),
        got.map(_._1).indexOf(fs.head) + fs.size) == fs))
  }

  test("writeZOrdered: every file bounds BOTH columns; a one-column sort " +
      "leaves the other unbounded") {
    import org.apache.spark.sql.functions.{col, avg}
    val grid = (for (x <- 0 until 32; y <- 0 until 32) yield (x, y))
      .toDF("x", "y")
    val dirZ = java.nio.file.Files.createTempDirectory("zw").toString
    Sinks.writeZOrdered(grid, dirZ, nFiles = 16, Seq("x", "y"), bits = 5)
    val mz = Sinks.shardManifest(spark, dirZ, Seq("x", "y", "zval"))
      .collect()
    assert(mz.length == 16 && mz.map(r => r.getAs[Long]("n_rows")).sum == 1024L)
    // zval ranges disjoint across files (range clustering's guarantee)
    val zr = mz.map(r => (r.getAs[Long]("min_zval"), r.getAs[Long]("max_zval")))
      .sortBy(_._1)
    assert(zr.sliding(2).forall { case Array(a, b) => a._2 < b._1 })
    // dual-column locality: spans of BOTH x and y stay well under the
    // 0..31 range in every file (sampled boundaries allow straddle, so
    // assert < full range per file and tight on average)
    val spans = mz.map(r => (r.getAs[Int]("max_x") - r.getAs[Int]("min_x"),
      r.getAs[Int]("max_y") - r.getAs[Int]("min_y")))
    assert(spans.forall { case (sx, sy) => sx < 32 && sy < 32 })
    assert(spans.map(_._1).sum.toDouble / 16 <= 16.0)
    assert(spans.map(_._2).sum.toDouble / 16 <= 16.0)
    // contrast: clustering by x alone bounds x but reads the FULL y
    // range in every file
    val dirX = java.nio.file.Files.createTempDirectory("xw").toString
    Sinks.writeRangeClustered(grid, dirX, 16, Seq("x"))
    val mx = Sinks.shardManifest(spark, dirX, Seq("y")).collect()
    assert(mx.forall(r => r.getAs[Int]("max_y") - r.getAs[Int]("min_y") == 31))
  }
}
