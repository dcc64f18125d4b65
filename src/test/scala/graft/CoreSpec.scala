package graft

import graft.ops.Core
import graft.agg.Aggregators

class CoreSpec extends SparkSpec {
  import spark.implicits._

  test("fizzbuzz matches the reference transform (BuiltIn.scala:161-170)") {
    val got = Core.fizzbuzz(spark, 15).as[(Long, String)].collect().toMap
    assert(got(1L) == "1")
    assert(got(3L) == "fizz")
    assert(got(5L) == "buzz")
    assert(got(15L) == "fizzbuzz")
    assert(got(7L) == "7")
    assert(got.size == 15)
  }

  test("x10-duplicate-filter-even reproduces the committed golden output " +
      "(myDataStreamX10WithDuplicatesEven.out)") {
    val got = Core.mapDuplicateFilterEven(spark, 4).as[Long].collect().sorted
    assert(got.toSeq == Seq(10L, 10L, 20L, 20L, 30L, 30L, 40L, 40L))
  }

  test("word count (SocketTextStreamWordCount.scala:59-63)") {
    val docs = Seq("To be or not to be", "be quick").toDF("text")
    val got = Core.wordCount(docs, "text").as[(String, Long)].collect().toMap
    assert(got("be") == 3L)
    assert(got("to") == 2L)
    assert(got("quick") == 1L)
  }

  test("quantity expansion flatMap (RichFunctions.scala:182-194)") {
    val df = Seq(("sku1", 2), ("sku2", 0), ("sku1", 1)).toDF("sku", "qty")
    val got = Core.expandByQuantity(df, "sku", "qty").as[(String, Long)].collect().toMap
    assert(got == Map("sku1" -> 3L))
  }

  test("keyed reduce/sum (BuiltIn.scala:300-304)") {
    val df = Seq(("a", 1.0), ("a", 2.5), ("b", 4.0)).toDF("k", "v")
    val got = Core.keyedSum(df, "k", "v").as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 3.5, "b" -> 4.0))
  }

  test("typed Dataset pipeline over the deterministic generator (S5-S7)") {
    import graft.model.ShoppingCartEvent
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val events = graft.sources.Generators
      .shoppingCartEvents(100, base, seed = 42L, generateRemoved = true)
    val again = graft.sources.Generators
      .shoppingCartEvents(100, base, seed = 42L, generateRemoved = true)
    assert(events == again) // seeded generator is reproducible
    val ds: org.apache.spark.sql.Dataset[ShoppingCartEvent] = spark.createDataset(events)
    val totals = ds.filter(_.eventType == "add")
      .groupByKey(_.userId)
      .mapGroups((u, it) => (u, it.map(_.quantity).sum))
      .collect().toMap
    val expected = events.filter(_.eventType == "add")
      .groupBy(_.userId).map { case (u, es) => u -> es.map(_.quantity).sum }
    assert(totals == expected)
  }

  test("S8 catalog generator: the same seed gives the same sequence") {
    import graft.sources.Generators
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val events = Generators.catalogEvents(50, base)
    assert(events == Generators.catalogEvents(50, base))
    assert(events != Generators.catalogEvents(50, base, seed = 44L))
    assert(events.map(_.time) == (0 until 50).map(i => base.plusSeconds(i.toLong)))
    assert(events.map(_.productId).distinct.size == 50)
  }

  test("S5/S6 streaming form: the rate-driven cart stream has the event " +
      "schema and event time base + row number") {
    import scala.jdk.CollectionConverters._
    import graft.model.ShoppingCartEvent
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val stream = graft.sources.Generators.shoppingCartStream(spark, base, rowsPerSecond = 20)
    assert(stream.schema.map(f => f.name -> f.dataType) ==
      org.apache.spark.sql.Encoders.product[ShoppingCartEvent].schema
        .map(f => f.name -> f.dataType))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[ShoppingCartEvent]()
    val q = stream.writeStream.foreachBatch {
      (ds: org.apache.spark.sql.Dataset[ShoppingCartEvent], _: Long) =>
        ds.collect().foreach(seen.add)
    }.start()
    try {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (seen.size < 5 && System.nanoTime() < deadline) Thread.sleep(50)
    } finally q.stop()
    val first = seen.asScala.toSeq.sortBy(_.time.toEpochMilli).take(5)
    assert(first.map(_.time) == (0 until 5).map(i => base.plusSeconds(i.toLong)), first)
    assert(first.map(_.userId) == Seq("Bob", "Alice", "Sam", "Tom", "Rob"), first)
    assert(first.map(e => (e.eventType, e.sku, e.quantity)) ==
      (0 until 5).map(i => ("add", s"sku_$i", i)), first)
  }

  test("custom Aggregator maps AggregateFunction 1:1 (Windows.scala:165-180)") {
    val counter = new Aggregators.CountAggregator[(String, Int)]
    val mean = new Aggregators.MeanAggregator[(String, Int)](_._2.toDouble)
    val ds = Seq(("a", 1), ("a", 3), ("b", 10)).toDS()
    val got = ds.groupByKey(_._1)
      .agg(counter.toColumn.name("cnt"), mean.toColumn.name("mean"))
      .collect().toSeq.sortBy(_._1)
    assert(got == Seq(("a", 2L, 2.0), ("b", 1L, 10.0)))
  }
}
