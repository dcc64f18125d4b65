package graft

import graft.ops.Sampling
import graft.sources.Sinks
import org.apache.spark.sql.functions.{col, round}

/** Deterministic hash sampling: the retry-stable, engine-reproducible
  * replacement for RNG sampling in corpus curation.
  */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private def docs = spark.range(10000).toDF("doc_id")
    .selectExpr("doc_id", "CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END AS lang")

  test("hash sample hits the target rate and is exactly repeatable") {
    val a = Sampling.hashSample(docs, "doc_id", 0.1).select("doc_id")
      .as[Long].collect().toSet
    val b = Sampling.hashSample(docs, "doc_id", 0.1).select("doc_id")
      .as[Long].collect().toSet
    assert(a == b) // identical set, not just same size — no RNG state
    assert(math.abs(a.size - 1000.0) / 1000.0 < 0.1, s"got ${a.size}")
  }

  test("sample is stable under repartitioning (task layout independence)") {
    val a = Sampling.hashSample(docs, "doc_id", 0.2).select("doc_id")
      .as[Long].collect().toSet
    val b = Sampling.hashSample(docs.repartition(13), "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b) // df.sample() fails this: its draw depends on layout
  }

  test("nested samples: lower rate is a subset of higher rate (same salt)") {
    val small = Sampling.hashSample(docs, "doc_id", 0.05).select("doc_id")
      .as[Long].collect().toSet
    val big = Sampling.hashSample(docs, "doc_id", 0.2).select("doc_id")
      .as[Long].collect().toSet
    assert(small.subsetOf(big)) // thresholds nest — scale samples up/down
  }

  test("salts decorrelate samples") {
    val a = Sampling.hashSample(docs, "doc_id", 0.5, salt = "s1")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.hashSample(docs, "doc_id", 0.5, salt = "s2")
      .select("doc_id").as[Long].collect().toSet
    val overlap = (a & b).size.toDouble / 5000.0
    assert(overlap > 0.4 && overlap < 0.6, s"overlap=$overlap") // ≈ rate
  }

  test("tiny rates are reachable (32-bit hash: no 1/65536 quantum)") {
    // 16-bit hashing rounded 1e-5 down to an unreachable 0; 32 bits make a
    // 0.001% sample of a large corpus a real request
    assert(Sampling.hexThreshold(1e-5) != Sampling.hexThreshold(0.0))
    val big = spark.range(2000000).toDF("doc_id")
    val n = Sampling.hashSample(big, "doc_id", 1e-5).count()
    // Binomial(2e6, ~1e-5): mean ≈ 20 (threshold rounds to 43/2^32 ≈ 1.0e-5)
    assert(n > 0 && n < 100, s"got $n rows at rate 1e-5")
  }

  test("rate 0 and 1 are exact") {
    assert(Sampling.hashSample(docs, "doc_id", 0.0).count() == 0L)
    assert(Sampling.hashSample(docs, "doc_id", 1.0).count() == 10000L)
  }

  test("stratified rates apply per stratum") {
    val got = Sampling.stratifiedHashSample(docs, "lang", "doc_id",
        Map("en" -> 0.4), defaultRate = 0.1)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(math.abs(got("en") - 2000.0) / 2000.0 < 0.15, got.toString)
    assert(math.abs(got("de") - 500.0) / 500.0 < 0.25, got.toString)
  }

  test("hash split is disjoint, exhaustive, and roughly proportioned") {
    val got = Sampling.hashSplit(docs, "doc_id", 0.8, 0.1)
      .groupBy("split").count().as[(String, Long)].collect().toMap
    assert(got.values.sum == 10000L) // exhaustive by construction
    assert(math.abs(got("train") - 8000.0) / 8000.0 < 0.05, got.toString)
    assert(got.keySet == Set("train", "valid", "test"))
  }

  // 9:1 skewed two-source corpus for the temperature-mix tests
  private def skewed = spark.range(10000).toDF("doc_id")
    .selectExpr("doc_id",
      "CASE WHEN doc_id % 10 = 0 THEN 'rare' ELSE 'web' END AS source")

  test("temperatureMix: alpha=1 recovers natural proportions") {
    val got = Sampling.temperatureMix(skewed, "source", "doc_id", 1.0, 1000)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(got("web") == 900L && got("rare") == 100L, got.toString)
  }

  test("temperatureMix: alpha<1 flattens toward uniform") {
    val got = Sampling.temperatureMix(skewed, "source", "doc_id", 0.5, 1000)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    // sqrt weights: 9000→94.87, 1000→31.62 ⇒ web 750, rare 250
    assert(got("web") == 750L && got("rare") == 250L, got.toString)
    assert(got.values.sum == 1000L)
  }

  test("temperatureMix: target above a stratum's size caps at the stratum") {
    val got = Sampling.temperatureMix(skewed, "source", "doc_id", 0.5, 5000)
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(got("rare") == 1000L, got.toString) // only 1000 rare docs exist
  }

  test("temperatureMix: selection is a stable per-stratum prefix") {
    def ids(total: Long): Set[Long] =
      Sampling.temperatureMix(skewed, "source", "doc_id", 0.5, total)
        .select("doc_id").as[Long].collect().toSet
    val small = ids(400)
    val big = ids(1200)
    assert(small.subsetOf(big)) // scaling the mixture keeps prior picks
    val relay = Sampling.temperatureMix(skewed.repartition(13), "source",
      "doc_id", 0.5, 400).select("doc_id").as[Long].collect().toSet
    assert(relay == small) // layout-independent
  }

  test("deterministicShuffle is a permutation with dense per-shard positions") {
    val got = Sampling.deterministicShuffle(docs, "doc_id")
      .as[(Long, Int, Int)].collect().toSeq
    assert(got.map(_._1).toSet.size == 10000) // every row exactly once
    assert(got.forall(r => r._2 >= 0 && r._2 < 16))
    got.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (1 to rows.size), s"shard $shard")
    }
    // shards split the hash space evenly: 625 expected per shard
    val sizes = got.groupBy(_._2).map(_._2.size)
    assert(sizes.forall(s => s > 400 && s < 850), sizes.toString)
  }

  test("epochUpsample: whole copies exact, fractional extra near rate, " +
      "deterministic and zero-epoch strata dropped") {
    val got = Sampling.epochUpsample(docs, "lang",
      Map("en" -> 2.5, "de" -> 0.0), defaultEpochs = 1.0, salt = "ep")
    val counts = got.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(!counts.contains("de")) // 0 epochs = dropped stratum
    // en: 5000 docs × 2.5 expected → every doc twice + ~50% a third time
    assert(counts("en") >= 5000L * 2 + 2200 && counts("en") <= 5000L * 2 + 2800,
      counts.toString)
    // every en doc appears 2 or 3 times, epochs numbered 0..n-1
    val perDoc = got.where($"lang" === "en").groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.max($"epoch").as("mx"))
      .as[(Long, Long, Int)].collect()
    assert(perDoc.length == 5000)
    assert(perDoc.forall(r => (r._2 == 2 || r._2 == 3) && r._3 == r._2 - 1))
    // exactly repeatable (pure function of the data)
    val again = Sampling.epochUpsample(docs, "lang",
      Map("en" -> 2.5, "de" -> 0.0), defaultEpochs = 1.0, salt = "ep")
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(again == counts)
  }

  test("deterministicShuffle (shard, pos) order replays global hash order") {
    val small = Sampling.deterministicShuffle(docs.limit(500), "doc_id")
    val byShard = small.orderBy("shard", "pos").select("doc_id")
      .as[Long].collect().toSeq
    // the global hash order, computed independently
    val want = Sampling.hashSplit(docs.limit(500), "doc_id", 0.0, 0.0)
      .selectExpr("doc_id", "concat('0', substring(md5(cast(doc_id as string)), 1, 8)) AS hk")
      .orderBy("hk", "doc_id").select("doc_id").as[Long].collect().toSeq
    assert(byShard == want)
  }

  test("deterministicShuffle: 2 hex digits give 256 shards, same order") {
    val a = Sampling.deterministicShuffle(docs, "doc_id", shardHexDigits = 1)
      .orderBy("shard", "pos").select("doc_id").as[Long].collect().toSeq
    val b = Sampling.deterministicShuffle(docs, "doc_id", shardHexDigits = 2)
      .orderBy("shard", "pos").select("doc_id").as[Long].collect().toSeq
    assert(a == b) // refining the sharding never changes the global order
  }

  test("perplexityMix: quantile buckets by score, per-bucket deterministic rates") {
    // 10 distinct scores, two buckets: bottom half keeps all, top drops all
    val scored = (1L to 10L).map(i => (i, i.toDouble)).toDF("doc_id", "s")
    val got = Sampling.perplexityMix(scored, "doc_id", "s", Seq(1.0, 0.0))
      .as[(Long, Double, Int)].collect().toSet
    assert(got.map(_._1) == Set(1L, 2L, 3L, 4L, 5L), got.toString)
    assert(got.forall(_._3 == 1))
    // ties: identical scores share the LOWEST bucket (strict-below
    // fraction 0 ⇒ bucket 1) — a homogeneous corpus can never be
    // wholesale-dropped by a keep-the-head policy
    val tied = (1L to 6L).map(i => (i, 7.7)).toDF("doc_id", "s")
    val all = Sampling.perplexityMix(tied, "doc_id", "s", Seq(1.0, 0.0))
      .as[(Long, Double, Int)].collect()
    assert(all.length == 6 && all.forall(_._3 == 1))
    // fractional middle bucket: a stable hash-selected strict subset
    val many = (1L to 300L).map(i => (i, (i % 30).toDouble)).toDF("doc_id", "s")
    val r = Seq(1.0, 0.5, 0.0)
    val a = Sampling.perplexityMix(many, "doc_id", "s", r)
      .as[(Long, Double, Int)].collect()
    val b = Sampling.perplexityMix(many, "doc_id", "s", r)
      .as[(Long, Double, Int)].collect()
    assert(a.toSet == b.toSet) // pure function of the data
    val byBucket = a.groupBy(_._3).view.mapValues(_.length).toMap
    assert(byBucket(1) == 100)          // rate 1.0 keeps its whole decile span
    assert(byBucket.getOrElse(3, 0) == 0) // rate 0.0 keeps nothing
    val mid = byBucket.getOrElse(2, 0)
    assert(mid > 20 && mid < 80, s"mid bucket kept $mid of 100")
    // null scores: excluded from the output AND from the quantile
    // denominator — real rows' buckets must not shift when unscorable
    // rows ride along
    val withNulls = ((1L to 10L).map(i => (i, Option(i.toDouble))) ++
      (11L to 18L).map(i => (i, Option.empty[Double]))).toDF("doc_id", "s")
    val g2 = Sampling.perplexityMix(withNulls, "doc_id", "s", Seq(1.0, 0.0))
      .as[(Long, Double, Int)].collect().toSet
    assert(g2.map(_._1) == Set(1L, 2L, 3L, 4L, 5L), g2.toString)
  }

  test("perplexityMixApply: a fitted dictionary serves a STREAM identically") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rates = Seq(1.0, 0.5, 0.0)
    val reference = (1L to 300L).map(i => (i, (i % 30).toDouble))
      .toDF("doc_id", "s")
    val buckets = Sampling.perplexityBuckets(reference, "s", rates.length)
      .localCheckpoint() // the persisted artifact a serving job would load
    // fresh rows scored with values the reference distribution covers,
    // plus one unseen score (31.0) that must drop, not mis-bucket
    val fresh = (1000L to 1060L).map(i => (i, (i % 30).toDouble)) :+
      ((2000L, 31.0))
    val expect = Sampling.perplexityMixApply(fresh.toDF("doc_id", "s"),
        buckets, "doc_id", "s", rates)
      .as[(Long, Double, Int)].collect().toSet
    assert(expect.nonEmpty && !expect.exists(_._1 == 2000L))
    // rates/dictionary mismatch (dictionary has 3 buckets, rates 2):
    // bucket-3 rows drop like unseen scores — no ANSI element_at crash
    val short = Sampling.perplexityMixApply(fresh.toDF("doc_id", "s"),
        buckets, "doc_id", "s", Seq(1.0, 1.0))
      .as[(Long, Double, Int)].collect()
    assert(short.nonEmpty && short.forall(_._3 <= 2), short.mkString(","))
    val in = MemoryStream[(Long, Double)](46, spark, None)
    val q = Sampling.perplexityMixApply(in.toDF().toDF("doc_id", "s"),
        buckets, "doc_id", "s", rates)
      .writeStream.format("memory").queryName("pplserve")
      .outputMode("append").start()
    try {
      in.addData(fresh.take(30): _*)
      in.addData(fresh.drop(30): _*)
      q.processAllAvailable()
      val got = spark.table("pplserve")
        .as[(Long, Double, Int)].collect().toSet
      assert(got == expect, s"stream ${got.size} vs batch ${expect.size}")
    } finally q.stop()
  }

  test("perplexityBuckets: UNROUNDED doubles — exact buckets, no unpartitioned window") {
    // the round-8 latent hazard: a raw (unrounded) double score makes the
    // distinct-score dictionary corpus-sized, and the old single
    // Window.orderBy prefix sum would move it all to ONE partition. The
    // sketch-partitioned form must produce the exact same buckets with no
    // unpartitioned Window anywhere in the plan.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val rng = new scala.util.Random(907)
    val scores = (1L to 20000L).map(i => (i, rng.nextDouble() * 40.0 - 10.0))
    val n = 5
    val got = Sampling.perplexityBuckets(scores.toDF("doc_id", "s"), "s", n)
    val naked = got.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(naked.isEmpty, s"unpartitioned Window in plan:\n$naked")
    // exact reference: per distinct score, bucket from the strictly-below
    // running count — floor(strict·n/N)+1
    val dict = scores.map(_._2).groupBy(identity).toSeq
      .map { case (s, g) => (s, g.size.toLong) }.sortBy(_._1)
    val nAll = dict.map(_._2).sum.toDouble
    var below = 0L
    val want = dict.map { case (s, c) =>
      val b = math.floor(below * n / nAll).toInt + 1
      below += c
      s -> b
    }.toMap
    val gotMap = got.as[(Double, Int)].collect().toMap
    assert(gotMap.size == want.size, s"${gotMap.size} vs ${want.size}")
    assert(gotMap == want)
  }

  test("perplexityBuckets: non-numeric scores take the guarded ordinal path") {
    // strings have no percentile sketch: the single-partition fallback
    // still runs (with its cardinality guard) and buckets correctly
    val df = Seq((1L, "aa"), (2L, "ab"), (3L, "ab"), (4L, "zz"))
      .toDF("doc_id", "s")
    val got = Sampling.perplexityBuckets(df, "s", 2)
      .as[(String, Int)].collect().toMap
    assert(got == Map("aa" -> 1, "ab" -> 1, "zz" -> 2))
  }

  test("interleavedOrder: every prefix of the vtime order holds the weight ratio") {
    val docs = (0L until 300L).map { i =>
      (i, if (i % 2 == 0) "heavy" else "light")
    }.toDF("doc_id", "source")
    val got = Sampling.interleavedOrder(docs, "source", "doc_id",
        weights = Map("heavy" -> 2.0, "light" -> 1.0))
      .as[(String, Long, Int, Double)].collect()
      .sortBy(r => (r._4, r._1, r._2)).toSeq
    assert(got.length == 300)
    // vtime = rank/weight: heavy rows appear ~2x as often in any prefix
    // while both strata still have supply (heavy's 150 rows exhaust at
    // vtime 75 = global prefix 225; past that only light remains — the
    // correct stride-scheduling behavior, not a ratio violation)
    for (cut <- Seq(30, 90, 150, 210)) {
      val heavy = got.take(cut).count(_._1 == "heavy")
      val ratio = heavy.toDouble / (cut - heavy)
      assert(ratio > 1.6 && ratio < 2.5, s"prefix $cut ratio $ratio")
    }
    // weight 0 drops the stratum; absent strata take the default weight
    val dropped = Sampling.interleavedOrder(docs, "source", "doc_id",
        weights = Map("light" -> 0.0))
      .as[(String, Long, Int, Double)].collect()
    assert(dropped.forall(_._1 == "heavy") && dropped.length == 150)
    // deterministic across runs
    val again = Sampling.interleavedOrder(docs, "source", "doc_id",
        weights = Map("heavy" -> 2.0, "light" -> 1.0))
      .as[(String, Long, Int, Double)].collect()
      .sortBy(r => (r._4, r._1, r._2)).toSeq
    assert(again == got)
  }

  // ---- exact-k weighted sampling (A-ES exponential race) ----

  /** Local replay of the A-ES clock: same md5 uniform, same formula. */
  private def localClock(id: Long, w: Double, salt: String = ""): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest((salt + id.toString).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    val u = (java.lang.Long.parseLong(hex, 16).toDouble + 0.5) / 4294967296.0
    -math.log(u) / w
  }

  private def wdocs = spark.range(2000).toDF("doc_id")
    .selectExpr("doc_id",
      "CASE WHEN doc_id % 3 = 0 THEN 'a' ELSE 'b' END AS source",
      "CAST(1 + doc_id % 50 AS DOUBLE) AS wt")

  test("weighted sample equals a local A-ES replay, exactly k per stratum") {
    val got = Sampling.weightedSample(wdocs, "source", "doc_id", "wt", k = 15)
      .as[(String, Long, Double, Int)].collect()
    assert(got.count(_._1 == "a") == 15 && got.count(_._1 == "b") == 15)
    val exp = Seq("a", "b").flatMap { s =>
      (0L until 2000L).filter(id => (if (id % 3 == 0) "a" else "b") == s)
        .map(id => (id, localClock(id, 1.0 + id % 50)))
        .sortBy { case (id, c) => (c, id) }.take(15).zipWithIndex
        .map { case ((id, c), i) =>
          (s, id, BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            .toDouble, i + 1) }
    }.toSet
    assert(got.toSet == exp)
    // layout independence (the hashSample argument)
    val rep = Sampling.weightedSample(wdocs.repartition(13), "source",
      "doc_id", "wt", k = 15).as[(String, Long, Double, Int)].collect()
    assert(rep.toSet == got.toSet)
  }

  test("weighted sampling is weight-proportional across salts") {
    // two weight classes 10:1; over many independent draws the inclusion
    // frequency ratio must track the weight ratio (loosely — k of n is a
    // without-replacement draw, which compresses the ratio)
    val df = spark.range(400).toDF("doc_id")
      .selectExpr("doc_id", "'s' AS source",
        "CAST(CASE WHEN doc_id < 40 THEN 10.0 ELSE 1.0 END AS DOUBLE) AS wt")
    val hits = (0 until 30).flatMap { i =>
      Sampling.weightedSample(df, "source", "doc_id", "wt", k = 40,
        salt = s"s$i").select("doc_id").as[Long].collect()
    }
    val heavy = hits.count(_ < 40).toDouble / (30 * 40)   // share of draws
    assert(heavy > 0.45 && heavy < 0.75, s"heavy share $heavy")
  }

  test("weighted sample is append-stable and drops non-positive weights") {
    val base = Sampling.weightedSample(wdocs, "source", "doc_id", "wt", 10)
      .as[(String, Long, Double, Int)].collect().toSet
    // appending rows can only displace incumbents by winning the race
    val extra = spark.range(2000, 2100).toDF("doc_id")
      .selectExpr("doc_id", "'a' AS source", "CAST(1000.0 AS DOUBLE) AS wt")
    val grown = Sampling.weightedSample(wdocs.unionByName(extra), "source",
      "doc_id", "wt", 10).as[(String, Long, Double, Int)].collect()
    val bIds = base.filter(_._1 == "b").map(_._2)
    assert(grown.filter(_._1 == "b").map(_._2).toSet == bIds) // untouched stratum
    val zeroW = wdocs.selectExpr("doc_id", "source",
      "CASE WHEN doc_id % 2 = 0 THEN CAST(0.0 AS DOUBLE) ELSE wt END AS wt")
    val z = Sampling.weightedSample(zeroW, "source", "doc_id", "wt", 10)
      .select("doc_id").as[Long].collect()
    assert(z.forall(_ % 2 == 1), "weight-0 rows must never be drawn")
  }

  test("weighted sample merge: sharded and streamed folds equal one draw") {
    // shard combine: top-k(top-k(A) ∪ B) = top-k(A ∪ B)
    val all = Sampling.weightedSample(wdocs, "source", "doc_id", "wt", 12)
      .as[(String, Long, Double, Int)].collect().toSet
    val aSide = wdocs.where($"doc_id" < 900)
    val bSide = wdocs.where($"doc_id" >= 900)
    val folded = Sampling.weightedSampleMerge(
      Sampling.weightedSampleRows(aSide, "source", "doc_id", "wt", 12),
      bSide, "source", "doc_id", "wt", 12)
    assert(folded.select(col("source"), col("doc_id"),
        round(col("clock"), 4), col("rn"))
      .as[(String, Long, Double, Int)].collect().toSet == all)
    // streaming serve twin: 3 micro-batches ≡ the batch draw
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = wdocs.as[(Long, String, Double)].collect().toSeq
    val in = MemoryStream[(Long, String, Double)](92, spark, None)
    var state = Sampling.weightedSampleRows(
      wdocs.limit(0), "source", "doc_id", "wt", 12)
      .collect() // empty, but with the state schema
    val stateSchema =
      Sampling.weightedSampleRows(wdocs, "source", "doc_id", "wt", 12).schema
    val q = Sinks.eachBatch(in.toDF().toDF("doc_id", "source", "wt")) { b =>
      val prev = spark.createDataFrame(
        spark.sparkContext.parallelize(state.toSeq), stateSchema)
      state = Sampling.weightedSampleMerge(prev, b, "source", "doc_id", "wt",
        12).collect()
    }.start()
    try {
      rows.grouped(700).foreach { b =>
        in.addData(b); q.processAllAvailable()
      }
    } finally q.stop()
    val served = state.map(r =>
      (r.getString(0), r.getLong(1),
        BigDecimal(r.getDouble(3)).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble, r.getInt(4))).toSet
    assert(served == all)
  }

  test("matchDistribution pulls the sample toward the reference histogram") {
    import graft.ops.TextAnalysis
    // corpus: 90% short docs, 10% long; reference: 50/50
    val corpus = spark.range(2000).toDF("doc_id")
      .selectExpr("doc_id",
        "CAST(CASE WHEN doc_id % 10 < 9 THEN 50 ELSE 500 END AS DOUBLE) AS len")
    val ref = spark.range(400).toDF("doc_id")
      .selectExpr("doc_id",
        "CAST(CASE WHEN doc_id % 2 = 0 THEN 50 ELSE 500 END AS DOUBLE) AS len")
    val edges = Seq(100.0)
    val got = Sampling.matchDistribution(corpus,
      TextAnalysis.bucketCounts(ref, "len", edges), "len", edges,
      k = 200, idCol = "doc_id")
    val ids = got.select("doc_id").as[Long].collect().toSet
    assert(ids.size == 200)
    val longShare = ids.count(_ % 10 == 9).toDouble / 200
    // the uniform draw gives ~10% long; the 9x importance weight on the
    // long bucket must pull the share several-fold toward the
    // reference's 50% (one seeded draw — wide band, but far from 0.10)
    val uniform = Sampling.weightedSample(
      corpus.selectExpr("'s' AS s", "doc_id", "CAST(1.0 AS DOUBLE) AS w"),
      "s", "doc_id", "w", k = 200).select("doc_id").as[Long].collect()
    val uniShare = uniform.count(_ % 10 == 9).toDouble / 200
    assert(uniShare < 0.2, s"uniform long share $uniShare")
    assert(longShare > 0.3 && longShare < 0.7, s"long share $longShare")
    // deterministic + exact-k via TakeOrderedAndProject (no global sort,
    // no single-partition window)
    val again = Sampling.matchDistribution(corpus,
      TextAnalysis.bucketCounts(ref, "len", edges), "len", edges,
      k = 200, idCol = "doc_id").select("doc_id").as[Long].collect().toSet
    assert(again == ids)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("weighted sample plans a partial top-k below the exchange") {
    val plan = Sampling.weightedSample(wdocs, "source", "doc_id", "wt", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("clusterSplit co-locates cluster members where hashSplit leaks") {
    import spark.implicits._
    // 40 duplicate pairs (id, id+1000 share a cluster keyed by the low
    // id) + 100 singletons with no cluster row
    val ids = (0L until 40L) ++ (0L until 40L).map(_ + 1000L) ++
      (2000L until 2100L)
    val docs = ids.toDF("doc_id")
    val clusters = (0L until 40L)
      .flatMap(i => Seq((i, i), (i + 1000L, i)))
      .toDF("doc_id", "cluster_id")
    val got = Sampling.clusterSplit(docs, clusters, 0.8, 0.1)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every pair co-located
    for (i <- 0L until 40L)
      assert(got(i) == got(i + 1000L), s"pair $i straddles")
    // the naive per-id split DOES scatter at least one of these pairs —
    // the leak this operator exists to close
    val naive = Sampling.hashSplit(docs, "doc_id", 0.8, 0.1)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert((0L until 40L).exists(i => naive(i) != naive(i + 1000L)))
    // singletons fall back to their own id = the hashSplit assignment
    for (i <- 2000L until 2100L) assert(got(i) == naive(i))
  }

  test("clusterSplit: appending a member never moves standing assignments") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val before = Sampling.clusterSplit(docs, clusters, 0.6, 0.2)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // doc 4 joins cluster 1; doc 5 arrives as a singleton
    val docs2 = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val clusters2 = Seq((1L, 1L), (2L, 1L), (4L, 1L))
      .toDF("doc_id", "cluster_id")
    val after = Sampling.clusterSplit(docs2, clusters2, 0.6, 0.2)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(before.forall { case (k, v) => after(k) == v })
    // the new member inherits its cluster's standing split
    assert(after(4L) == before(1L))
  }

  test("apportion: Hamilton quotas — exact sum, largest remainder, name tie-break") {
    // shares 3.5 / 2.1 / 1.4 → base 3/2/1, one leftover seat; remainders
    // (×10) are 5/1/4 → 'a' takes it: quotas 4/2/1, Σ = 7 exactly
    val counts = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("source", "c")
    val got = Sampling.apportion(counts, 7L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    // all remainders equal (equal counts): leftover seats go by name
    val eq = Seq(("z", 10L), ("y", 10L), ("x", 10L)).toDF("source", "c")
    val got2 = Sampling.apportion(eq, 7L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got2 == Map("x" -> 3L, "y" -> 2L, "z" -> 2L))
    // no WindowExec anywhere — the rank rides the coalesce(1) sort
    val plan = Sampling.apportion(counts, 7L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("apportionedSample: exactly the quota per stratum, exact total") {
    val docs = (0 until 60).map(i =>
      (i.toLong, if (i < 30) "big" else if (i < 50) "mid" else "small"))
      .toDF("doc_id", "source")
    val drawn = Sampling.apportionedSample(docs, "source", "doc_id", 13L)
      .select("doc_id", "source").as[(Long, String)].collect()
    assert(drawn.length == 13)
    val byStratum = drawn.groupBy(_._2).view.mapValues(_.length).toMap
    // shares 6.5 / 4.33 / 2.17 → base 6/4/2, leftover 1 to 'big' (.5)
    assert(byStratum == Map("big" -> 7, "mid" -> 4, "small" -> 2))
    // deterministic across runs and layouts
    val again = Sampling.apportionedSample(
      docs.repartition(7), "source", "doc_id", 13L)
      .select("doc_id", "source").as[(Long, String)].collect()
    assert(again.map(_._1).sorted.toSeq == drawn.map(_._1).sorted.toSeq)
    // oversampled budget: every row of a small stratum is returned
    val all = Sampling.apportionedSample(docs, "source", "doc_id", 100L)
      .select("doc_id", "source").as[(Long, String)].collect()
    assert(all.length == 60) // quotas exceed counts → draw caps at c
  }

  test("curriculumOrder: stages ascend with score, per-(stage,shard) " +
      "positions dense, null scores drop, layout-independent") {
    // 40 rows, scores 0..39: 4 stages of 10 by the strict-below rule
    val scored = ((0L until 40L).map(i => (i, i.toDouble)) :+
      ((99L, Double.NaN))).toDF("doc_id", "score")
      .select($"doc_id",
        org.apache.spark.sql.functions.when($"doc_id" === 99L, null)
          .otherwise($"score").as("score"))
    val got = Sampling.curriculumOrder(scored, "doc_id", "score", 4)
      .as[(Long, Double, Int, Int, Int)].collect()
    assert(got.length == 40) // the null-score row dropped
    val stageOf = got.map(r => r._1 -> r._3).toMap
    assert((0L until 10L).forall(stageOf(_) == 1))
    assert((30L until 40L).forall(stageOf(_) == 4))
    // every score maps to exactly one stage and stages are monotone in
    // the score
    val byStage = got.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byStage(1).max < byStage(2).min && byStage(3).max < byStage(4).min)
    // positions dense within each (stage, shard): 1..n
    got.groupBy(r => (r._3, r._4)).values.foreach { g =>
      assert(g.map(_._5).sorted.toSeq == (1 to g.size).toSeq)
    }
    // physical layout cannot change the order decision
    val again = Sampling.curriculumOrder(scored.repartition(7), "doc_id",
      "score", 4).as[(Long, Double, Int, Int, Int)].collect()
    assert(again.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
    spark.catalog.clearCache() // curriculumOrder persists its projection
  }
}
