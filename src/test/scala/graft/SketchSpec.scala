package graft

import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Sketch aggregates (HLL++ distinct count, quantile sketch): the mergeable
  * fixed-size-state form of distinct/quantile aggregation — at 100 TB the
  * exact forms either shuffle every distinct value (countDistinct) or
  * buffer whole groups (percentile); sketches keep O(1) state per group and
  * combine map-side. Accuracy is the contract, so these specs measure it
  * against the exact aggregates.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  test("Space-Saving sketch: heavy hitters survive partitioned merges within bounds") {
    // known multiset: 2 true heavies, a 200-item tail. N = 800 + 300 +
    // 200*10 = 3100; with k = 10 the guarantee threshold is N/k = 310 —
    // h1 (800) and h2 (320) MUST be present after any merge order.
    val tokens = Seq.fill(800)("h1") ++ Seq.fill(320)("h2") ++
      (1 to 200).flatMap(i => Seq.fill(10)(s"t$i"))
    val trueCounts = tokens.groupBy(identity).map { case (t, v) => t -> v.size.toLong }
    val ds = scala.util.Random.shuffle(tokens).toDS().repartition(8) // force merge path
    val agg = new graft.agg.Aggregators.SpaceSavingAggregator(10)
    val sketch = ds.select(agg.toColumn).head()
    assert(sketch.size <= 10)
    val byItem = sketch.map { case (i, c, e) => i -> ((c, e)) }.toMap
    for (h <- Seq("h1", "h2")) {
      assert(byItem.contains(h), s"$h missing: $sketch")
      val (est, err) = byItem(h)
      val truth = trueCounts(h)
      assert(est >= truth && est - err <= truth,
        s"$h est=$est err=$err true=$truth")
    }
    // every estimate over-approximates its true count (SS invariant)
    for ((i, c, e) <- sketch)
      assert(c >= trueCounts.getOrElse(i, 0L) && c - e <= trueCounts.getOrElse(i, 0L))
  }

  test("Space-Saving contains every exact phi-heavy hitter (twin validation)") {
    // zipf-ish corpus; exact twin = TextAnalysis.heavyHitters's semantics
    // computed in plain Scala on the same multiset
    val tokens = (1 to 60).flatMap(r => Seq.fill(1200 / r)(s"w$r"))
    val n = tokens.size.toLong
    val phi = 0.02
    val exactHeavy = tokens.groupBy(identity).collect {
      case (t, v) if v.size > n * phi => t
    }.toSet
    assert(exactHeavy.nonEmpty)
    val k = 60 // 1/k < phi ⇒ the sketch must retain every phi-heavy item
    val sketch = scala.util.Random.shuffle(tokens).toDS().repartition(8)
      .select(new graft.agg.Aggregators.SpaceSavingAggregator(k).toColumn)
      .head()
    val kept = sketch.map(_._1).toSet
    assert(exactHeavy.subsetOf(kept), s"missing: ${exactHeavy -- kept}")
  }

  test("HLL approx_count_distinct within 5% of exact at 10k distinct keys") {
    // 10k distinct users, skew-free; default rsd = 0.05
    val df = spark.range(100000).select((col("id") % 10000).as("user"))
    val approx = df.agg(approx_count_distinct(col("user"))).head().getLong(0)
    val err = math.abs(approx - 10000.0) / 10000.0
    assert(err <= 0.05, s"approx=$approx err=$err")
  }

  test("HLL with tighter rsd converges; sketch merges across partitions") {
    val df = spark.range(100000).select((col("id") % 10000).as("user"))
      .repartition(16) // merge path: 16 partial sketches combined
    val tight = df.agg(approx_count_distinct(col("user"), 0.01)).head().getLong(0)
    assert(math.abs(tight - 10000.0) / 10000.0 <= 0.01, s"tight=$tight")
  }

  test("quantile sketch is exact when accuracy exceeds group size") {
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val got = df.agg(expr("approx_percentile(v, array(0.5, 0.9), 10000)"))
      .head().getSeq[Double](0)
    assert(got == Seq(500.0, 900.0), got.toString)
  }

  test("quantile sketch within rank tolerance at low accuracy") {
    val df = (1 to 100000).map(_.toDouble).toDF("v")
    val got = df.agg(expr("approx_percentile(v, 0.5, 100)")).head().getDouble(0)
    // guaranteed rank error <= n/accuracy = 1000 ranks
    assert(math.abs(got - 50000.0) <= 1000.0, got.toString)
  }

  test("count-min never underestimates; exact at generous width") {
    import graft.ops.CountMin
    val keys = (Seq.fill(100)("x") ++ Seq.fill(37)("y") ++
      (1 to 50).map(i => s"k$i")).toDF("token")
    val truth = keys.groupBy("token").count()
      .as[(String, Long)].collect().toMap
    val probes = (truth.keys.toSeq :+ "absent").toDF("token")
    // tight width (8 cells): collisions guaranteed — still one-sided
    val tight = CountMin.estimate(
      CountMin.sketch(keys, "token", depth = 4, width = 8),
      probes, "token", depth = 4, width = 8)
      .as[(String, Long)].collect().toMap
    truth.foreach { case (t, c) =>
      assert(tight(t) >= c, s"$t underestimated: ${tight(t)} < $c")
    }
    assert(tight.exists { case (t, e) => e > truth.getOrElse(t, 0L) },
      "8 cells for 52 keys must collide somewhere")
    // generous width: 52 keys in 4×4096 cells — md5 rows collide nowhere
    val wide = CountMin.estimate(
      CountMin.sketch(keys, "token", depth = 4, width = 4096),
      probes, "token", depth = 4, width = 4096)
      .as[(String, Long)].collect().toMap
    truth.foreach { case (t, c) => assert(wide(t) == c, s"$t: ${wide(t)}") }
    assert(wide("absent") == 0L)
  }

  test("count-min merge of shard sketches equals the whole-corpus sketch") {
    import graft.ops.CountMin
    val a = (Seq.fill(20)("x") ++ (1 to 30).map(i => s"a$i")).toDF("token")
    val b = (Seq.fill(15)("x") ++ (1 to 30).map(i => s"b$i")).toDF("token")
    val merged = CountMin.merge(
      CountMin.sketch(a, "token", width = 32),
      CountMin.sketch(b, "token", width = 32))
      .as[(Int, Long, Long)].collect().toSet
    val whole = CountMin.sketch(a.unionByName(b), "token", width = 32)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == whole)
  }

  test("count-min serve: micro-batched stream equals one build") {
    import graft.ops.CountMin
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tokens = (Seq.fill(40)("x") ++ (1 to 60).map(i => s"t$i")).map(Tuple1(_))
    val in = MemoryStream[Tuple1[String]](93, spark, None)
    val schema = CountMin.sketch(tokens.toDF("token"), "token", width = 32)
      .schema
    var state = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val q = Sinks.eachBatch(in.toDF().toDF("token")) { b =>
      val merged = CountMin.merge(state,
        CountMin.sketch(b, "token", width = 32))
      state = spark.createDataFrame(
        spark.sparkContext.parallelize(merged.collect().toSeq), schema)
    }.start()
    try {
      tokens.grouped(35).foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val whole = CountMin.sketch(tokens.toDF("token"), "token", width = 32)
      .as[(Int, Long, Long)].collect().toSet
    assert(state.as[(Int, Long, Long)].collect().toSet == whole)
  }
}
