package graft

import graft.ops.Contracts
import org.apache.spark.ListenerBusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Data-contract violations + k-anonymity publish gate. */
class ContractsSpec extends SparkSpec {
  import spark.implicits._

  test("violations: null predicates violate, one scan serves all rules") {
    val df = Seq(
      (1L, Some(5), "a"), (2L, Some(-1), "b"), (3L, None, "a"),
      (4L, Some(9), "zz")
    ).toDF("id", "v", "tag")
    val got = Contracts.violations(df, Seq(
      "v_positive" -> (col("v") > 0),          // row 2 false, row 3 NULL
      "tag_short" -> (length(col("tag")) < 2), // row 4
      "always_ok" -> lit(true)), "id")
      .as[(String, Long, Option[Long], Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // an unevaluable contract (NULL) is a broken contract
    assert(got("v_positive") == ((2L, Some(2L), 4L)), got("v_positive"))
    assert(got("tag_short") == ((1L, Some(4L), 4L)))
    assert(got("always_ok") == ((0L, None, 4L)))
    // all rules ride ONE aggregate: a single scan of the input
    val plan = Contracts.violations(df, Seq("a" -> (col("v") > 0),
      "b" -> (col("v") < 9)), "id").queryExecution.executedPlan.toString
    assert("LocalTableScan|Scan ".r.findAllIn(plan).length <= 1, plan)
  }

  test("tableProfile: hand-checked metrics, nulls counted, no Expand") {
    val df = Seq[(java.lang.Double, java.lang.Long)](
      (1.0, 10L), (2.0, 10L), (3.0, 20L), (null, 30L))
      .toDF("a", "b")
    val prof = Contracts.tableProfile(df, Seq("a", "b"))
    val got = prof.collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 3L && a.getLong(2) == 1L && a.getLong(3) == 3L)
    assert(a.getDouble(4) == 1.0 && a.getDouble(5) == 3.0 &&
      a.getDouble(6) == 2.0 && a.getDouble(7) == 1.0) // stddev_samp of 1,2,3
    assert(a.getDouble(8) == 2.0 && a.getDouble(9) == 2.9) // p50, p95
    val b = got("b")
    assert(b.getLong(1) == 4L && b.getLong(2) == 0L && b.getLong(3) == 3L)
    assert(b.getDouble(8) == 15.0) // p50 of 10,10,20,30
    // exact-path plan contract: the returned frame is ONE streaming
    // aggregate pass (n_distinct and the exact percentiles were computed
    // up front per column via the dictionary prefix sum and enter as
    // literals), and NO Expand replicates scan rows through percentile
    // buffers (the round-9 q_profile plan bug)
    val leaves = prof.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.length == 1, leaves)
    assert(!prof.queryExecution.executedPlan.toString.contains("Expand"),
      "exact distincts must not re-join the main aggregate's Expand")
    // approx path: everything inline, a single leaf, still no Expand
    val approxDf = Contracts.tableProfile(df, Seq("a", "b"), exact = false)
    assert(approxDf.queryExecution.optimizedPlan.collectLeaves().length == 1)
    val approx = approxDf
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(approx("a") >= 2L && approx("a") <= 4L)
  }

  test("tableProfile: the exact-stats jobs carry the caller's job group") {
    // int and double columns: n_distinct reads off the dictionary, so every
    // exact-stats job is the caller's own
    val df = Seq((1, 1.0), (2, 2.0), (3, 2.0), (4, 8.0)).toDF("a", "b")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
        ()
      }
    }
    ListenerBusFlush(sc)
    sc.addSparkListener(l)
    sc.setJobGroup("caller", "tableProfile job-group check")
    try {
      Contracts.tableProfile(df, Seq("a", "b"), exact = true)
      ListenerBusFlush(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    assert(seen.nonEmpty, "the exact path runs its jobs eagerly")
    assert(seen.forall(_ == "caller"), seen)
  }

  test("exactColumnStats ≡ built-in exact percentile + countDistinct") {
    val rnd = new scala.util.Random(7)
    // duplicates, skew, negatives, a null — and a tiny frame
    val data = (Seq.fill(400)(rnd.nextInt(40).toDouble / 4.0) ++
      Seq.fill(100)(rnd.nextDouble() * 1e6 - 5e5) ++ Seq(-0.25, -0.25))
      .map(java.lang.Double.valueOf) :+ null.asInstanceOf[java.lang.Double]
    val df = data.map(Tuple1(_)).toDF("v").repartition(7)
    for (ps <- Seq(Seq(0.5, 0.95), Seq(0.0, 1.0), Seq(0.25))) {
      val (nd, got) = Contracts.exactColumnStats(df, "v", ps)
      val builtin = df.agg(
        expr(s"percentile(CAST(v AS DOUBLE), array(${ps.mkString(",")}))"),
        countDistinct(col("v"))).head()
      val exp = builtin.getSeq[Double](0)
      assert(nd == builtin.getLong(1))
      // BIT-identical, not approximately equal: the profile is hashed
      ps.indices.foreach { i => assert(got(i).contains(exp(i)), s"$ps $i") }
    }
    // empty / all-null column
    val (nd0, p0) = Contracts.exactColumnStats(
      Seq[java.lang.Double](null, null).map(Tuple1(_)).toDF("v"),
      "v", Seq(0.5))
    assert(nd0 == 0L && p0 == Seq(None))
  }

  test("exactColumnStats on a STRING column: numeric percentile " +
      "ordering, unparseable values excluded, n_distinct on raw values") {
    // lexicographic order of these strings ("10" < "2" < "30") differs
    // from numeric order — percentiles must match
    // percentile(TRY_CAST(v AS DOUBLE), p): ordering by the cast,
    // dropping values whose cast is null ("x", "y") instead of throwing
    // or NPE'ing a rank lookup; n_distinct still counts raw strings (5)
    val df = Seq("10", "2", "x", "30", "2", "y", null)
      .map(Tuple1(_)).toDF("v").repartition(3)
    val (nd, got) = Contracts.exactColumnStats(df, "v", Seq(0.5, 0.95))
    val builtin = df.agg(
      expr("percentile(TRY_CAST(v AS DOUBLE), array(0.5, 0.95))"),
      countDistinct(col("v"))).head()
    assert(nd == builtin.getLong(1) && nd == 5L)
    val exp = builtin.getSeq[Double](0)
    assert(got == Seq(Some(exp(0)), Some(exp(1))), s"$got vs $exp")
    // a string column with NO parseable values: raw distincts counted,
    // percentiles null — the graceful pre-regression behavior
    val (ndS, pS) = Contracts.exactColumnStats(
      Seq("a", "b", "a").map(Tuple1(_)).toDF("v"), "v", Seq(0.5))
    assert(ndS == 2L && pS == Seq(None))
  }

  test("PrefixSum: fan-out adapts to dictionary size; cumulative sums " +
      "are exact global running sums") {
    import graft.ops.PrefixSum
    assert(PrefixSum.parts(0L) == 64)          // floor: the historic 64
    assert(PrefixSum.parts(10000000L) == 64)   // 10M/250k+1 = 41 < floor
    assert(PrefixSum.parts(100000000L) == 401) // 100M distinct → 401
    assert(PrefixSum.parts(1000000000L) == 4001)
    assert(PrefixSum.parts(Long.MaxValue) == 4096) // offset-collect cap
    // shuffled dictionary of distinct values 1..5000, counts = value:
    // inclusive cumulative at v must equal v(v+1)/2 exactly
    val rnd = new scala.util.Random(3)
    val dict = rnd.shuffle((1 to 5000).toList)
      .map(v => (v.toDouble, v.toLong)).toDF("_v", "_c")
      .repartition(7).localCheckpoint()
    val cum = PrefixSum.cumulative(dict, "_v", Seq("_c" -> "_cum"))
      .select(col("_v"), col("_cum")).as[(Double, Double)].collect()
    assert(cum.length == 5000)
    cum.foreach { case (v, c) =>
      assert(c == v * (v + 1) / 2, s"v=$v cum=$c")
    }
  }

  test("PrefixSum: tieCol keeps colliding double-cast keys deterministic " +
      "and in true key order") {
    import graft.ops.PrefixSum
    // distinct longs past 2^53 that collide under the double cast:
    // without the tie column, within-tie running sums are order-
    // arbitrary; with it, the cumulative follows the exact long order
    val base = 1L << 60 // double spacing here is 256: +1..+3 all collide
    val rows = Seq(
      (base + 1, 10L), (base + 2, 100L), (base + 3, 1000L),
      (base - 512, 1L)) // a distinct double strictly below the trio
    val dict = rows.toDF("_k", "_c")
      .withColumn("_v", col("_k").cast("double"))
      .repartition(3).localCheckpoint()
    assert(dict.select(countDistinct("_v")).as[Long].head() == 2L)
    val got = PrefixSum.cumulative(dict, "_v", Seq("_c" -> "_cum"),
        tieCol = Some("_k"))
      .select(col("_k"), col("_cum")).as[(Long, Double)].collect().toMap
    assert(got(base - 512) == 1.0, got)
    assert(got(base + 1) == 11.0, got)
    assert(got(base + 2) == 111.0, got)
    assert(got(base + 3) == 1111.0, got)
  }

  test("kAnonymity counts small QI cells, rows at risk, null QI cells") {
    val df = Seq(
      ("en", 1), ("en", 1), ("en", 1),   // cell of 3: safe at k=3
      ("de", 1), ("de", 1),              // cell of 2: at risk
      ("fr", 2),                         // cell of 1: at risk
      (null, 2), (null, 2)               // null QI is its own cell (2)
    ).toDF("lang", "b")
    val got = Contracts.kAnonymity(df, Seq("lang", "b"), k = 3)
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == ((4L, 3L, 5L, 1L)), got)
  }
}
