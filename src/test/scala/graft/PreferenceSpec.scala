package graft

import graft.ops.Preference
import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** Bradley-Terry rating estimation over pairwise preference outcomes. */
class PreferenceSpec extends SparkSpec {
  import spark.implicits._

  test("btRatings: hand-checked two-item case converges to (2, 1e-6 floor)") {
    // A beats B three times: W_A=3, n_AB=3. Step: den_A = 3/(r_A+r_B),
    // u_A = W_A/den_A, u_B = 0; mean-1 renorm → (2, 0), with the winless
    // item held at the 1e-6 floor (the denominator guard), then stable.
    val pairs = Seq(("a", "b"), ("a", "b"), ("a", "b")).toDF("winner", "loser")
    val got = Preference.btRatings(pairs, iterations = 4)
      .as[(String, Double, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == Seq("a", "b"))
    assert(math.abs(got(0)._2 - 2.0) <= 2e-6 && got(1)._2 == 1e-6, got)
    assert(got.map(g => (g._3, g._4)) == Seq((3L, 3L), (0L, 3L)), got)
  }

  test("btRatings floor: extreme win skew never zeroes a rating or nulls " +
      "an MM denominator") {
    // 60 strong arms each beat arm 0 a million times; arm 0's single win
    // (over arm 61) makes it weak-but-WINNING — pre-floor, per-step q6
    // rounding floors u_0/m to exactly 0.0, and the 0-61 edge then puts
    // r_i + r_j = 0 in a denominator (null division that sum() drops).
    // The 1e-6 floor keeps every denominator positive; every rating is
    // non-null and >= the floor, and strong arms stay on top.
    val graph = ((1L to 60L).map(i => (i, 0L, 1000000L)) ++
      Seq((0L, 61L, 1L))).toDF("w", "l", "n")
    val got = Preference.btRatingsFromGraph(graph, iterations = 4)
      .as[(Long, Double, Long, Long)].collect()
    assert(got.length == 62)
    assert(got.forall(r => !r._2.isNaN && r._2 >= 1e-6), got.minBy(_._2))
    val byId = got.map(r => r._1 -> r._2).toMap
    assert(byId(1L) > byId(0L) && byId(0L) >= byId(61L), (byId(1L), byId(0L), byId(61L)))
  }

  test("btRatings: ratings order matches strength under a balanced schedule") {
    // full round robin, 10 games per ordered pair; item i beats item j>i
    // in 7/10 of their games — strictly stronger items must rate higher
    val games = for {
      i <- 0 until 4; j <- 0 until 4 if i < j
      g <- 0 until 10
    } yield if (g < 7) (i.toLong, j.toLong) else (j.toLong, i.toLong)
    val got = Preference.btRatings(games.toDF("winner", "loser"),
        iterations = 8)
      .as[(Long, Double, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(_._4).forall(_ == 30L)) // 3 opponents × 10 games
    val ratings = got.map(_._2)
    assert(ratings == ratings.sorted.reverse, s"not monotone: $got")
    assert(ratings.distinct.length == 4)
  }

  test("btMerge ≡ full-history graph; serve twin replays it in batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = (0 until 60).map(k =>
      ((k % 5).toLong, ((k * 3 + 1) % 5).toLong))
      .filter(p => p._1 != p._2)
    val (a, b) = all.splitAt(40)
    val merged = Preference.btMerge(
      Preference.btGraph(a.toDF("winner", "loser")), b.toDF("winner", "loser"))
      .as[(Long, Long, Long)].collect().toSet
    val full = Preference.btGraph(all.toDF("winner", "loser"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged == full && full.nonEmpty)
    // ratings from the merged graph ≡ ratings from the full history
    val rm = Preference.btRatingsFromGraph(
      Preference.btMerge(Preference.btGraph(a.toDF("winner", "loser")),
        b.toDF("winner", "loser")))
      .as[(Long, Double, Long, Long)].collect().toSet
    val rf = Preference.btRatings(all.toDF("winner", "loser"))
      .as[(Long, Double, Long, Long)].collect().toSet
    assert(rm == rf)
    // streaming: three micro-batches fold to the same standing graph
    var standing = Preference.btGraph(
      Seq.empty[(Long, Long)].toDF("winner", "loser")).localCheckpoint()
    val in = MemoryStream[(Long, Long)](92, spark, None)
    val q = Sinks.eachBatch(in.toDF().toDF("winner", "loser")) { b =>
      standing = Preference.btMerge(standing, b).localCheckpoint()
    }.start()
    try {
      all.grouped(20).foreach { g => in.addData(g); q.processAllAvailable() }
    } finally q.stop()
    assert(standing.as[(Long, Long, Long)].collect().toSet == full)
  }

  test("btRatings ≡ a sequential MM reference with the same q6 steps") {
    val rnd = new scala.util.Random(11)
    val items = 10
    val pairs = Seq.fill(300) {
      val a = rnd.nextInt(items); var b = rnd.nextInt(items)
      while (b == a) b = rnd.nextInt(items)
      // latent strength = items - index, logistic outcome
      val pA = (items - a).toDouble / ((items - a) + (items - b))
      if (rnd.nextDouble() < pA) (a.toLong, b.toLong) else (b.toLong, a.toLong)
    }
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    // sequential reference: same aggregation, same per-step q6 + renorm
    val wins = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    pairs.foreach { case (w, l) => n((w, l)) += 1; n((l, w)) += 1 }
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    var r = ids.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      val u = ids.map { i =>
        val den = ids.filter(j => n((i, j)) > 0)
          .map(j => n((i, j)).toDouble / (r(i) + r(j))).sum
        i -> wins.getOrElse(i, 0L).toDouble / den
      }.toMap
      val m = u.values.sum / u.size
      // the 1e-6 floor mirrors btRatingsFromGraph's post-rounding guard
      r = u.map { case (k, v) => k -> math.max(q6(v / m), 1e-6) }
    }
    val got = Preference.btRatings(pairs.toDF("winner", "loser"),
        iterations = 3)
      .as[(Long, Double, Long, Long)].collect()
      .map(x => x._1 -> x._2).toMap
    ids.foreach { i =>
      assert(math.abs(got(i) - r(i)) <= 1e-6, s"item $i: ${got(i)} vs ${r(i)}")
    }
  }

  test("fleissKappa: hand-checked panel, ragged panel refused, " +
      "constant-vote panel NULL") {
    // 4 items × 3 raters: (a,a,a) (a,a,b) (a,b,c) (b,b,c).
    // P_i = {1, 1/3, 0, 1/3} → P̄ = 5/12; p = (1/2, 1/3, 1/6) →
    // P̄_e = 7/18; κ = (5/12 − 7/18)/(1 − 7/18) = 1/22
    val votes = Seq(
      (1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "a"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"), (3L, "c"),
      (4L, "b"), (4L, "b"), (4L, "c")).toDF("item", "label")
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = Preference.fleissKappa(votes, "item", "label")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got == ((4L, 3L, Some(q6(5.0 / 12)), Some(q6(7.0 / 18)),
      Some(q6(1.0 / 22)))), got)
    // ragged panel (item 2 has only 2 votes) is a hard error
    intercept[IllegalArgumentException] {
      Preference.fleissKappa(
        Seq((1L, "a"), (1L, "a"), (2L, "a")).toDF("item", "label"),
        "item", "label")
    }
    // every vote one category: P̄_e = 1 → κ NULL (vacuous, not perfect)
    val const = Preference.fleissKappa(
      Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a")).toDF("item", "label"),
      "item", "label")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(const._5.isEmpty && const._3.contains(1.0), const)
    // empty panel: zero row, all-null stats
    val empty = Preference.fleissKappa(
      Seq.empty[(Long, String)].toDF("item", "label"), "item", "label")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(empty == ((0L, 0L, None, None, None)))
  }
  test("krippAlpha: hand-checked ragged panel, the fleissKappa-refused " +
      "fixture accepted, perfect/constant/unpairable edges, null votes excluded") {
    // items: 1=(a,a,a) 2=(a,b) 3=(b — single vote, EXCLUDED) 4=(a,b,b,b).
    // Pairable: n = 9; D_o = 0/2 + 2/1 + 6/3 = 4; marginals a=5 b=4 →
    // D_e = (81 − 41)/8 = 5; alpha = 1 − 4/5 = 0.2
    val votes = Seq(
      (1L, "a"), (1L, "a"), (1L, "a"),
      (2L, "a"), (2L, "b"),
      (3L, "b"),
      (4L, "a"), (4L, "b"), (4L, "b"), (4L, "b")).toDF("item", "label")
    val got = Preference.krippAlpha(votes, "item", "label")
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got == ((3L, 9L, 2L, Some(4.0), Some(5.0), Some(0.2))), got)
    // the exact fixture fleissKappa REFUSES (ragged panel) is accepted:
    // item1 (a,a,a), item2 (a,b) → D_o = 2, n = 5, D_e = (25 − 17)/4 = 2
    val ragged = Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"))
      .toDF("item", "label")
    intercept[IllegalArgumentException] {
      Preference.fleissKappa(ragged, "item", "label")
    }
    val r = Preference.krippAlpha(ragged, "item", "label")
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(r == ((2L, 5L, 2L, Some(2.0), Some(2.0), Some(0.0))), r)
    // a null vote is a missing vote, not a category: same result
    val withNull = Preference.krippAlpha(
      ragged.unionByName(Seq((2L, null.asInstanceOf[String]))
        .toDF("item", "label")), "item", "label")
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(withNull == r, withNull)
    // perfect agreement → alpha = 1
    val perfect = Preference.krippAlpha(
      Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b")).toDF("item", "label"),
      "item", "label")
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(perfect._4.contains(0.0) && perfect._6.contains(1.0), perfect)
    // constant labels → D_e = 0 → alpha NULL (vacuous, not perfect)
    val const = Preference.krippAlpha(
      Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a")).toDF("item", "label"),
      "item", "label")
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(const._6.isEmpty && const._4.contains(0.0), const)
    // nothing pairable (every item one vote) → zero row, all-null stats
    val none = Preference.krippAlpha(
      Seq((1L, "a"), (2L, "b")).toDF("item", "label"), "item", "label")
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(none == ((0L, 0L, 0L, None, None, None)), none)
  }

  test("krippAlphaInterval: hand-checked squared-difference panel, " +
      "binary values reduce to the nominal alpha, edges") {
    def run(rows: Seq[(Long, Double)]) =
      Preference.krippAlphaInterval(rows.toDF("item", "score"),
          "item", "score")
        .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
        .collect().head
    // item1 (1,3): 2(2·10−16)/1 = 8; item2 (2,2,5): 2(3·33−81)/2 = 18;
    // item3 (4) excluded. D_o = 26; n=5, T1=13, T2=43 →
    // D_e = 2(5·43−169)/4 = 23; alpha = 1 − 26/23
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = run(Seq((1L, 1.0), (1L, 3.0), (2L, 2.0), (2L, 2.0),
      (2L, 5.0), (3L, 4.0)))
    assert(got == ((2L, 5L, Some(26.0), Some(23.0),
      Some(q6(1.0 - 26.0 / 23.0)))), got)
    // perfect agreement → alpha 1; identical ratings everywhere → NULL
    val perfect = run(Seq((1L, 2.0), (1L, 2.0), (2L, 3.0), (2L, 3.0)))
    assert(perfect._3.contains(0.0) && perfect._5.contains(1.0), perfect)
    val const = run(Seq((1L, 2.0), (1L, 2.0), (2L, 2.0), (2L, 2.0)))
    assert(const._5.isEmpty, const)
    // binary 0/1 ratings: squared difference IS the nominal delta, so
    // interval alpha equals krippAlpha on the same ragged panel
    val binPairs = Seq((1L, 0.0), (1L, 0.0), (1L, 0.0), (2L, 0.0), (2L, 1.0))
    val nom = Preference.krippAlpha(
      binPairs.map { case (i, x) => (i, x.toString) }.toDF("item", "label"),
      "item", "label")
      .select("d_o", "d_e", "alpha")
      .as[(Option[Double], Option[Double], Option[Double])].collect().head
    val itv = run(binPairs)
    assert((itv._3, itv._4, itv._5) == nom, s"$itv vs $nom")
    // nothing pairable → zero row
    assert(run(Seq((1L, 1.0), (2L, 2.0))) == ((0L, 0L, None, None, None)))
  }

  test("winMatrix: hand-checked pair counts, Wilson interval formula, " +
      "self-games dropped, tight-vs-wide CI sanity") {
    val games = Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("winner", "loser")
    val got = Preference.winMatrix(games)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L)), got.keySet)
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    def wilson(w: Long, n: Long): (Double, Double) = {
      val z = 1.96; val z2 = z * z
      val nd = n.toDouble; val p = w.toDouble / nd
      val c = p + z2 / (nd * 2)
      val m = z * math.sqrt(p * (1.0 - p) / nd + z2 / (nd * nd * 4))
      val d = 1.0 + z2 / nd
      (q6((c - m) / d), q6((c + m) / d))
    }
    val ab = got((1L, 2L))
    assert(ab._3 == 3L && ab._4 == 2L && ab._5 == q6(2.0 / 3), ab)
    assert((ab._6, ab._7) == wilson(2, 3), ab)
    // item 1 never beat 3: rate 0, lower bound 0 (clamped by formula)
    val ac = got((1L, 3L))
    assert(ac._4 == 0L && ac._5 == 0.0 && (ac._6, ac._7) == wilson(0, 1))
    // a 2-game sweep stays HONEST: upper near 1 but lower far below
    val sweep = Preference.winMatrix(
      Seq((1L, 2L), (1L, 2L)).toDF("winner", "loser"))
      .select("lo95", "hi95").as[(Double, Double)].collect().head
    assert(sweep._1 < 0.45 && sweep._2 == 1.0, sweep)
  }

  test("krippAlphaOrdinal: hand-checked between-rank deltas, binary " +
      "reduces to the nominal alpha, perfect/constant edges") {
    def run(rows: Seq[(Long, Double)]) =
      Preference.krippAlphaOrdinal(rows.toDF("item", "grade"),
          "item", "grade")
        .as[(Long, Long, Long, Option[Double], Option[Double],
          Option[Double])].collect().head
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    // items 1:(1,2) 2:(1,3) 3:(2 — excluded). Pairable marginals
    // n1=2 n2=1 n3=1. deltas: (1,2)=1.5, (1,3)=2.5, (2,3)=1 →
    // D_o = 2·2.25 + 2·6.25 = 17; D_e = (9 + 25 + 2)/3 = 12
    val got = run(Seq((1L, 1.0), (1L, 2.0), (2L, 1.0), (2L, 3.0),
      (3L, 2.0)))
    assert(got == ((2L, 4L, 3L, Some(17.0), Some(12.0),
      Some(q6(1.0 - 17.0 / 12)))), got)
    // two categories: every disagreeing pair shares one delta², which
    // cancels — ordinal alpha == nominal alpha on the same panel
    val binPairs = Seq((1L, 0.0), (1L, 0.0), (1L, 0.0), (2L, 0.0),
      (2L, 1.0))
    val nom = Preference.krippAlpha(
      binPairs.map { case (i, x) => (i, x.toString) }.toDF("item", "label"),
      "item", "label").select("alpha")
      .as[Option[Double]].collect().head
    assert(run(binPairs)._6 == nom, s"${run(binPairs)._6} vs $nom")
    // perfect agreement across two grade levels → alpha 1
    val perfect = run(Seq((1L, 3.0), (1L, 3.0), (2L, 5.0), (2L, 5.0)))
    assert(perfect._4.contains(0.0) && perfect._6.contains(1.0), perfect)
    // one grade everywhere → D_e = 0 → NULL
    assert(run(Seq((1L, 2.0), (1L, 2.0), (2L, 2.0), (2L, 2.0)))._6.isEmpty)
    // nothing pairable → zero row
    assert(run(Seq((1L, 1.0), (2L, 2.0))) ==
      ((0L, 0L, 0L, None, None, None)))
  }

  test("positionBias: hand-checked Wilson read, biased flag fires on a " +
      "60/40 slot skew and stays quiet on a fair judge; empty log is NULLs") {
    def run(games: Int, firstWins: Int) = {
      val df = (0 until games)
        .map(i => Tuple1(i < firstWins)).toDF("first_wins")
      Preference.positionBias(df)
        .as[(Long, Long, Option[Double], Option[Double], Option[Double],
          Option[Int])].collect().head
    }
    // 240/400: p = .6, Wilson 95% ≈ [.551, .647] — excludes the coin
    val skew = run(400, 240)
    assert(skew._1 == 400L && skew._2 == 240L && skew._3.contains(0.6), skew)
    val (lo, hi) = (skew._4.get, skew._5.get)
    assert(lo > 0.55 && lo < 0.56 && hi > 0.64 && hi < 0.65, skew)
    assert(skew._6.contains(1), skew)
    // hand Wilson at z = 1.96 reproduced to the rounded digit
    val (p, n, z) = (0.6, 400.0, 1.96)
    val c = p + z * z / (2 * n)
    val m = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    val d = 1 + z * z / n
    assert(skew._4.contains(math.rint((c - m) / d * 1e6) / 1e6), skew)
    assert(skew._5.contains(math.rint((c + m) / d * 1e6) / 1e6), skew)
    // a fair judge: interval straddles 0.5, flag quiet
    assert(run(400, 200)._6.contains(0), run(400, 200))
    // empty judging log → NULL reads, not NaN
    val empty = run(0, 0)
    assert(empty == ((0L, 0L, None, None, None, None)), empty)
  }

  test("lengthBias: equal-length games carry no signal, a 65/35 longer " +
      "skew fires, an all-equal log reads NULLs") {
    def df(rows: Seq[(Int, Int)]) = rows.toDF("win_len", "lose_len")
    // 400 unequal games, 260 longer-wins + 50 equal-length games that
    // must leave the denominator: rate .65, Wilson ≈ [.602, .695]
    val rows = (0 until 260).map(_ => (200, 120)) ++
      (0 until 140).map(_ => (80, 120)) ++
      (0 until 50).map(_ => (120, 120))
    val got = Preference.lengthBias(df(rows))
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
        Option[Int])].collect().head
    assert(got._1 == 400L && got._2 == 260L && got._3.contains(0.65), got)
    assert(got._4.get > 0.6 && got._5.get < 0.7 && got._6.contains(1), got)
    // all-equal log: zero usable games → NULL reads
    val empty = Preference.lengthBias(df(Seq((5, 5), (9, 9))))
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
        Option[Int])].collect().head
    assert(empty == ((0L, 0L, None, None, None, None)), empty)
  }

  test("lengthBiasCurve: gap bucketing by |Δlen| // width, per-bucket " +
      "Wilson reads, equal-length games excluded, extreme bucket flags") {
    val rows =
      // bucket 0 (gap < 40): 3 games, longer wins 2
      Seq((110, 100), (105, 100), (100, 120)) ++
      // bucket 1 (40-79): 2 games, longer wins 0
      Seq((100, 150), (100, 170)) ++
      // bucket 2 (80-119): 40 games, longer always wins → biased
      (0 until 40).map(_ => (200, 101)) ++
      // equal length: excluded entirely
      Seq((100, 100))
    val got = Preference.lengthBiasCurve(rows.toDF("win_len", "lose_len"),
        bucketWidth = 40)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(0L, 1L, 2L), got.keySet)
    assert(got(0L)._2 == 0L && got(0L)._3 == 39L, got(0L))
    assert(got(0L)._4 == 3L && got(0L)._5 == 2L, got(0L))
    assert(got(1L)._4 == 2L && got(1L)._5 == 0L && got(1L)._6 == 0.0, got(1L))
    assert(got(2L)._4 == 40L && got(2L)._5 == 40L && got(2L)._6 == 1.0)
    // 40/40 at gap 80+: the Wilson interval excludes the fair coin
    assert(got(2L)._9 == 1 && got(0L)._9 == 0, (got(2L), got(0L)))
  }
}
