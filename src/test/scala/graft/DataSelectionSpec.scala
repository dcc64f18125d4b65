package graft

import org.apache.spark.sql.functions._
import graft.ops.{Sampling, TextAnalysis}
import graft.sources.Sinks

/** Data-selection & labeler-QA wave: DSIR importance scoring, the
  * token-budget mixture solve, Cohen's kappa, calibration report, and
  * the weak-label frame they run over.
  */
class DataSelectionSpec extends SparkSpec {
  import spark.implicits._

  /** Independent replay of the kernel's bucket scheme (first 8 md5 hex
    * digits mod dim) — the pii-scrub "reference impl in the test"
    * convention.
    */
  private def bucketOf(tok: String, dim: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes)
    val head = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    (head % dim).toInt
  }

  test("nbFit/nbPredict: disjoint vocabularies separate; priors decide empty docs") {
    // two classes with DISJOINT vocabulary — a working classifier must
    // recover the labels perfectly on its own training set
    val wikiWords = "astronomy telescope galaxy nebula orbit"
    val spamWords = "viagra lottery winner clicknow freemoney"
    val docs = ((0 until 12).map(i => (i.toLong, s"$wikiWords $wikiWords", "wiki")) ++
      (12 until 20).map(i => (i.toLong, s"$spamWords $spamWords", "spam")) ++
      Seq((20L, "", "wiki"))) // zero tokens → prior-only → majority class
      .toDF("doc_id", "text", "lang")
    val model = TextAnalysis.nbFit(docs, "lang", dim = 32)
    // model is label-sorted — the tie-break order nbPredict relies on
    assert(model.map(_._1) == Seq("spam", "wiki"))
    val pred = TextAnalysis.nbPredict(docs, model, carry = Seq("lang"))
      .as[(Long, String, String)].collect().map(r => r._1 -> r._3).toMap
    (0 until 12).foreach(i => assert(pred(i.toLong) == "wiki"))
    (12 until 20).foreach(i => assert(pred(i.toLong) == "spam"))
    // 13 wiki docs vs 8 spam: the empty doc goes to the majority prior
    assert(pred(20L) == "wiki")
    // scoring is scan-stage: no Exchange in the predict plan
    val plan = TextAnalysis.nbPredict(docs, model)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("nbPredict: exact score ties go to the lexicographically first label") {
    // identical class-conditional evidence and equal priors — every
    // per-class score is EQUAL, so the argmax must consistently pick the
    // first label in sorted order
    val docs = Seq(
      (0L, "same words here", "aaa"), (1L, "same words here", "bbb"))
      .toDF("doc_id", "text", "lang")
    val model = TextAnalysis.nbFit(docs, "lang", dim = 16)
    val pred = TextAnalysis.nbPredict(docs, model)
      .as[(Long, String)].collect().toMap
    assert(pred(0L) == "aaa" && pred(1L) == "aaa")
  }

  test("nbPredict streams stateless-append: MemoryStream batches = batch scoring") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val train = Seq(
      (0L, "alpha beta gamma", "x"), (1L, "delta epsilon zeta", "y"))
      .toDF("doc_id", "text", "lang")
    val model = TextAnalysis.nbFit(train, "lang", dim = 16)
    val rows = Seq((10L, "alpha beta"), (11L, "delta zeta"), (12L, ""))
    val in = MemoryStream[(Long, String)](94, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = TextAnalysis.nbPredict(in.toDF().toDF("doc_id", "text"), model)
      .writeStream.outputMode("append").foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out ++= b.as[(Long, String)].collect(); ()
      }.start()
    try {
      in.addData(rows.take(2)); q.processAllAvailable()
      in.addData(rows.drop(2)); q.processAllAvailable()
    } finally q.stop()
    val batch = TextAnalysis.nbPredict(rows.toDF("doc_id", "text"), model)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(out.sortBy(_._1).toSeq == batch)
    assert(out.toMap.apply(10L) == "x" && out.toMap.apply(11L) == "y")
  }

  test("classifierReport: hand-checked P/R/F1, one-sided classes, NULL denominators") {
    // truth:  a a a b b c   pred: a a b b b a
    // class a: tp 2, n_true 3, n_pred 3 → P 2/3, R 2/3
    // class b: tp 2, n_true 2, n_pred 3 → P 2/3, R 1
    // class c: tp 0, n_true 1, n_pred 0 → P NULL (never predicted), R 0
    val pred = Seq(("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"),
      ("b", "b"), ("c", "a")).toDF("lang", "pred")
    val got = TextAnalysis.classifierReport(pred, "lang", "pred")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 2 && a.getLong(2) == 3 && a.getLong(3) == 3)
    assert(a.getAs[Double]("prec") == 0.6667 && a.getAs[Double]("rec") == 0.6667)
    assert(a.getAs[Double]("f1") == 0.6667)
    val b = got("b")
    assert(b.getAs[Double]("prec") == 0.6667 && b.getAs[Double]("rec") == 1.0)
    // F1 from UNROUNDED ratios: 2·(2/3)·1/(2/3+1) = 0.8
    assert(b.getAs[Double]("f1") == 0.8)
    val c = got("c")
    assert(c.isNullAt(c.fieldIndex("prec")), "never-predicted class has no precision")
    assert(c.getAs[Double]("rec") == 0.0)
    assert(c.isNullAt(c.fieldIndex("f1")))
  }

  test("hash_count_entries: unsigned occurrence counts per touched bucket") {
    val df = Seq((1L, "aa aa aa bb")).toDF("doc_id", "text")
      .select(explode(graft.functions.ArrayKernels.hash_count_entries(
        split(col("text"), " "), 16)).as("e"))
      .select(col("e.dim_idx"), col("e.value"))
    val got = df.as[(Int, Double)].collect().toMap
    val bAA = bucketOf("aa", 16)
    val bBB = bucketOf("bb", 16)
    if (bAA == bBB) assert(got == Map(bAA -> 4.0))
    else assert(got == Map(bAA -> 3.0, bBB -> 1.0))
  }

  test("dsirScores: target-looking docs score positive, off-target negative") {
    // target distribution = pure "wiki" docs; raw adds "spam". Token
    // mass must dominate the add-alpha prior (alpha·dim = 8) for the
    // sign structure to show — 20-token docs, dim 8, no bucket
    // collision (wiki -> 2, spam -> 5 mod 8, asserted below).
    val dim = 8
    assert(bucketOf("wiki", dim) != bucketOf("spam", dim))
    val wikiDoc = Seq.fill(20)("wiki").mkString(" ")
    val raw = Seq(
      (1L, wikiDoc), (2L, wikiDoc),
      (3L, Seq.fill(20)("spam").mkString(" ")),
      (4L, Seq.fill(10)("wiki spam").mkString(" ")),
      (5L, "")).toDF("doc_id", "text")
    val target = raw.where($"doc_id" <= 2L)
    val lr = TextAnalysis.dsirLogRatios(raw, target, dim = dim)
    val got = TextAnalysis.dsirScores(raw, lr)
      .select("doc_id", "dsir_logw").as[(Long, Double)].collect().toMap
    assert(got(1L) > 0.0 && got(1L) == got(2L))
    assert(got(3L) < 0.0)
    assert(got(4L) > got(3L) && got(4L) < got(1L))
    // zero-token doc: kept, zero evidence
    assert(got(5L) == 0.0)
    // exact replay of the formula through the independent bucket map
    val cnt = (docs: Seq[Seq[String]]) => {
      val c = new Array[Double](dim)
      docs.flatten.foreach(t => c(bucketOf(t, dim)) += 1.0)
      c
    }
    val rawToks = Seq.fill(2)(Seq.fill(20)("wiki")) ++
      Seq(Seq.fill(20)("spam"),
        Seq.fill(10)(Seq("wiki", "spam")).flatten, Nil)
    val ct = cnt(rawToks.take(2))
    val cr = cnt(rawToks)
    val nt = ct.sum + dim
    val nr = cr.sum + dim
    val lrExp = Array.tabulate(dim)(b =>
      math.log((ct(b) + 1) / nt) - math.log((cr(b) + 1) / nr))
    assert(lr.toSeq == lrExp.toSeq)
    val exp1 = BigDecimal(20.0 * lrExp(bucketOf("wiki", dim)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == exp1)
  }

  test("mixtureSolve: closed-form waterline, epoch cap binding") {
    val inv = Seq(("a", 100L), ("b", 300L), ("c", 50L))
      .toDF("domain", "n_tokens")
    val got = Sampling.mixtureSolve(inv,
      Map("a" -> 0.5, "b" -> 0.5), maxEpochs = 2.0)
      .orderBy("domain")
      .select("domain", "n_tokens", "weight", "alloc_tokens", "rate", "epochs")
      .as[(String, Long, Double, Double, Double, Double)].collect()
    // T* = min(2*100/0.5, 2*300/0.5) = 400: domain a binds at 2 epochs
    assert(got(0) == (("a", 100L, 0.5, 200.0, 1.0, 2.0)))
    assert(got(1) == (("b", 300L, 0.5, 200.0, 0.666667, 0.6667)))
    assert(got(2) == (("c", 50L, 0.0, 0.0, 0.0, 0.0)))
    // a weighted domain with no inventory is a contract violation
    intercept[IllegalArgumentException] {
      Sampling.mixtureSolve(inv, Map("a" -> 1.0, "zz" -> 1.0))
    }
  }

  test("cohenKappa: hand-computed 2x2 table") {
    // n11=4, n10=2, n01=1, n00=3: po=0.7, pa=0.6, pb=0.5, pe=0.5, k=0.4
    val rows = Seq.fill(4)((true, true)) ++ Seq.fill(2)((true, false)) ++
      Seq.fill(1)((false, true)) ++ Seq.fill(3)((false, false))
    val got = TextAnalysis.cohenKappa(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Double, Double, Double, Double, Double)].head()
    assert(got == ((10L, 0.6, 0.5, 0.7, 0.5, 0.4)))
  }

  test("cohenKappa: constant labelers yield NULL kappa, not 1.0") {
    val rows = Seq.fill(5)((true, true)).toDF("a", "b")
    val r = TextAnalysis.cohenKappa(rows, "a", "b")
      .select("po", "pe", "kappa").head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 1.0 && r.isNullAt(2))
  }

  test("calibrationReport: hand-computed bins, score 1.0 folds into top bin") {
    val rows = Seq((0.05, 0), (0.15, 1), (0.15, 0), (0.95, 1), (1.0, 1))
      .toDF("s", "y")
    val got = TextAnalysis.calibrationReport(rows, "s", "y")
      .orderBy("bin")
      .as[(Int, Long, Double, Double, Double)].collect()
    assert(got(0) == ((1, 1L, 0.05, 0.0, 0.0025)))
    assert(got(1) == ((2, 2L, 0.15, 0.5, 0.3725)))
    // bin 10 holds both 0.95 and the exact-1.0 score (least() fold)
    assert(got(2) == ((10, 2L, 0.975, 1.0, 0.0013)))
  }

  test("secretScan: entropy separates random keys from repeated filler") {
    val docs = Seq(
      // 24 a's: candidate, 0.0 bits — must NOT flag
      (1L, "plain text aaaaaaaaaaaaaaaaaaaaaaaa here"),
      // alternating ab (24): exactly 1.0 bit — not a secret
      (2L, "x abababababababababababab y"),
      // hex-looking key: high entropy — flagged
      (3L, "token sk_9f86d081884c7d659a2feaa0c55ad015 end"),
      // too short (< 20) and non-ASCII-class runs: no candidates
      (4L, "short_run1234 ok"),
      (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.secretScan(docs)
      .select("doc_id", "candidate", "entropy", "is_secret")
      .as[(Long, String, Double, Int)].collect()
    val byDoc = got.groupBy(_._1)
    assert(byDoc(1L).toSeq ==
      Seq((1L, "aaaaaaaaaaaaaaaaaaaaaaaa", 0.0, 0)))
    assert(byDoc(2L).toSeq ==
      Seq((2L, "abababababababababababab", 1.0, 0)))
    val d3 = byDoc(3L)
    assert(d3.length == 1 && d3.head._2.startsWith("sk_9f86") &&
      d3.head._3 >= 3.0 && d3.head._4 == 1)
    assert(!byDoc.contains(4L) && !byDoc.contains(5L))
    // independent entropy replay for the flagged candidate
    val cand = d3.head._2
    val h = cand.groupBy(identity).values.map { g =>
      val p = g.size.toDouble / cand.length
      -p * math.log(p)
    }.sum / math.log(2.0)
    assert(d3.head._3 ==
      BigDecimal(h).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // duplicate candidate within one doc emits ONE row
    val dup = TextAnalysis.secretScan(Seq(
      (9L, "aaaaaaaaaaaaaaaaaaaaaaaa then aaaaaaaaaaaaaaaaaaaaaaaa"))
      .toDF("doc_id", "text"))
    assert(dup.count() == 1)
  }

  test("dsirScores is stateless append-mode streamable as-is") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val raw = Seq((1L, "wiki wiki wiki wiki wiki wiki wiki wiki"),
      (2L, "spam spam spam spam spam spam spam spam"))
      .toDF("doc_id", "text")
    val lr = TextAnalysis.dsirLogRatios(raw, raw.where($"doc_id" === 1L),
      dim = 8)
    val in = MemoryStream[(Long, String)](47, spark, None)
    val q = TextAnalysis.dsirScores(
        in.toDF().toDF("doc_id", "text"), lr)
      .writeStream.format("memory").queryName("dsir_serve")
      .outputMode("append").start()
    try {
      in.addData((10L, "wiki wiki wiki wiki wiki wiki wiki wiki"),
        (11L, "spam spam spam spam spam spam spam spam"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("dsir_serve")
      .select("doc_id", "dsir_logw").as[(Long, Double)].collect().toMap
    val batch = TextAnalysis.dsirScores(raw, lr)
      .select("doc_id", "dsir_logw").as[(Long, Double)].collect().toMap
    assert(streamed == Map(10L -> batch(1L), 11L -> batch(2L)))
  }

  test("gopherRules: each rule trips on its own fixture, clean doc passes") {
    val clean = Seq.fill(5)(
      "the quick brown fox and all of that have gone with them today")
      .mkString(" ") // 65 words, mean len 49/13, 6 stopwords
    val docs = Seq(
      (1L, clean),
      (2L, "tiny doc"),                              // word count < 50
      (3L, clean + " " + Seq.fill(10)("#").mkString(" ")), // 10 sym / 75 w
      (4L, "- a\n- b\n- c\n- d"),                    // 4/4 bullet lines
      (5L, "a...\nb...\nc\nd"),                      // 2/4 ellipsis lines
      (6L, Seq.fill(50)("a").mkString(" ")))         // mean word len 1
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs)
      .select("doc_id", "n_words", "r_word_count", "r_mean_word_len",
        "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines",
        "r_alpha_words", "r_stopwords", "pass")
      .as[(Long, Long, Int, Int, Int, Int, Int, Int, Int, Int)]
      .collect().map(t => t._1 -> t).toMap
    assert(got(1L) == ((1L, 65L, 1, 1, 1, 1, 1, 1, 1, 1)))
    assert(got(2L)._3 == 0 && got(2L)._10 == 0)      // word count
    assert(got(3L)._2 == 75L && got(3L)._5 == 0)     // symbol ratio
    assert(got(3L)._8 == 1)                          // alpha still ok
    assert(got(4L)._6 == 0)                          // bullet lines
    assert(got(5L)._7 == 0)                          // ellipsis lines
    assert(got(6L)._4 == 0)                          // mean word len
  }

  test("weakLabels: single scan, gate parity with the standalone signals") {
    val docs = Seq(
      (1L, "The cat sat on the mat. The dog ran off!"),
      (2L, "zxq"), (3L, "")).toDF("doc_id", "text")
    val wl = TextAnalysis.weakLabels(docs)
    val ids = wl.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L)) // token-less doc 3 excluded
    val q = TextAnalysis.qualityClassifierScore(docs)
      .select("doc_id", "keep").as[(Long, Int)].collect().toMap
    val f = TextAnalysis.readability(docs)
      .select("doc_id", "flesch").as[(Long, Double)].collect().toMap
    wl.select("doc_id", "keep_a", "keep_b").as[(Long, Int, Int)].collect()
      .foreach { case (id, a, b) =>
        assert(a == q(id))
        assert(b == (if (f(id) >= 30.0) 1 else 0))
      }
  }

  test("passAtK: unbiased estimator hand-checks, k > n NULL, " +
      "zero-pass 0, saturated 1") {
    import graft.ops.TextAnalysis
    // problem A: n=4, c=2 -> pass@1 = 1/2, pass@3 = 1 (n-c=2 < 3);
    // problem B: n=2, c=0 -> pass@1 = 0, pass@3 NULL (k > n)
    val samples = Seq(("A", true), ("A", true), ("A", false), ("A", false),
      ("B", false), ("B", false)).toDF("problem", "ok")
    val got = TextAnalysis.passAtK(samples, "problem", "ok", ks = Seq(1, 3))
      .as[(String, Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 4L, 2L, Some(0.5), Some(1.0))), got("A"))
    assert(got("B") == (("B", 2L, 0L, Some(0.0), None)), got("B"))
    // exact binomial identity on a bigger case: n=10, c=3, k=5 ->
    // 1 - C(7,5)/C(10,5) = 1 - 21/252
    val big = (0 until 10).map(i => ("C", i < 3)).toDF("problem", "ok")
    val g5 = TextAnalysis.passAtK(big, "problem", "ok", ks = Seq(5))
      .select("pass_5").as[Option[Double]].collect().head
    assert(g5.contains(math.rint((1.0 - 21.0 / 252) * 1e6) / 1e6), g5)
  }

  test("majorityVote: plurality answer, smallest-answer tie-break, " +
      "correctness flag") {
    import graft.ops.TextAnalysis
    val samples = Seq(
      ("A", "x", "x"), ("A", "x", "x"), ("A", "y", "x"),
      ("B", "y", "y"), ("B", "x", "y"),
      ("C", "z", "z")).toDF("problem", "answer", "gold")
    val got = TextAnalysis.majorityVote(samples, "problem", "answer", "gold")
      .as[(String, Long, Long, String, String, Long, Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 3L, 2L, "x", "x", 2L, 1)), got("A"))
    // 1-1 tie resolves to the SMALLEST answer ("x" < "y") — gold is y,
    // so the vote is wrong, deterministically
    assert(got("B") == (("B", 2L, 2L, "y", "x", 1L, 0)), got("B"))
    assert(got("C") == (("C", 1L, 1L, "z", "z", 1L, 1)), got("C"))
  }

  test("majorityVote: null answers are not votable — a null plurality " +
      "cannot out-vote a real answer, and an all-null problem emits a " +
      "NULL vote row") {
    import graft.ops.TextAnalysis
    val samples = Seq(
      // two nulls vs one "y": y must win despite the null plurality
      ("D", null, "y"), ("D", null, "y"), ("D", "y", "y"),
      // all answers unparseable: the problem still reports, vote NULL
      ("E", null, "z"), ("E", null, "z")).toDF("problem", "answer", "gold")
    val got = TextAnalysis.majorityVote(samples, "problem", "answer", "gold")
      .collect().map(r => r.getString(0) -> r).toMap
    val d = got("D")
    assert((d.getLong(1), d.getLong(2), d.getString(3), d.getString(4),
      d.getLong(5), d.getInt(6)) == ((3L, 1L, "y", "y", 1L, 1)), d)
    val e = got("E")
    assert((e.getLong(1), e.getLong(2), e.getString(3)) == ((2L, 0L, "z")), e)
    assert(e.isNullAt(4) && e.isNullAt(5) && e.isNullAt(6), e)
  }

  test("passDict / voteDict: merge ≡ rebuild, FromDict ≡ one-shot, serve " +
      "twins fold micro-batches to the same standing dictionaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.TextAnalysis
    val rnd = new scala.util.Random(41)
    val all = Seq.fill(300) {
      val p = rnd.nextInt(12)
      val ans = if (rnd.nextInt(5) == 0) null
        else (p % 3 + rnd.nextInt(2)).toString
      (p.toString, ans, (p % 3).toString, rnd.nextInt(3) == 0)
    }
    val df = all.toDF("problem", "answer", "gold", "ok")
    val (a, b) = all.splitAt(180)
    // pass@k: merged dictionary ≡ full rebuild, estimator bit-equal
    val pMerged = TextAnalysis.passDictMerge(
      TextAnalysis.passDict(a.toDF("problem", "answer", "gold", "ok"),
        "problem", "ok"),
      b.toDF("problem", "answer", "gold", "ok"), "problem", "ok")
      .localCheckpoint()
    val pFull = TextAnalysis.passDict(df, "problem", "ok").localCheckpoint()
    assert(pMerged.as[(String, Long, Long)].collect().toSet ==
      pFull.as[(String, Long, Long)].collect().toSet)
    assert(TextAnalysis.passAtKFromDict(pMerged, Seq(1, 3)).collect().toSet ==
      TextAnalysis.passAtK(df, "problem", "ok", Seq(1, 3)).collect().toSet)
    // majority vote: null answers keep their n mass through the merge
    val vMerged = TextAnalysis.voteDictMerge(
      TextAnalysis.voteDict(a.toDF("problem", "answer", "gold", "ok"),
        "problem", "answer", "gold"),
      b.toDF("problem", "answer", "gold", "ok"),
      "problem", "answer", "gold").localCheckpoint()
    val vFull = TextAnalysis.voteDict(df, "problem", "answer", "gold")
      .localCheckpoint()
    assert(vMerged.as[(String, Option[String], Long, String)].collect().toSet
      == vFull.as[(String, Option[String], Long, String)].collect().toSet)
    assert(TextAnalysis.majorityVoteFromDict(vMerged).collect().toSet ==
      TextAnalysis.majorityVote(df, "problem", "answer", "gold")
        .collect().toSet)
    // streaming: micro-batches fold to the same standing dictionaries
    var pStanding = TextAnalysis.passDict(
      Seq.empty[(String, Boolean)].toDF("problem", "ok"), "problem", "ok")
      .localCheckpoint()
    val pIn = MemoryStream[(String, Boolean)](71, spark, None)
    val pq = Sinks.eachBatch(pIn.toDF().toDF("problem", "ok")) { b =>
      pStanding = TextAnalysis.passDictMerge(pStanding, b, "problem", "ok")
        .localCheckpoint()
    }.start()
    try {
      all.map(r => (r._1, r._4)).grouped(100)
        .foreach { g => pIn.addData(g); pq.processAllAvailable() }
    } finally pq.stop()
    assert(pStanding.as[(String, Long, Long)].collect().toSet ==
      pFull.as[(String, Long, Long)].collect().toSet)
    var vStanding = TextAnalysis.voteDict(
      Seq.empty[(String, String, String)].toDF("problem", "answer", "gold"),
      "problem", "answer", "gold").localCheckpoint()
    val vIn = MemoryStream[(String, String, String)](72, spark, None)
    val vq = Sinks.eachBatch(vIn.toDF().toDF("problem", "answer", "gold")) { b =>
      vStanding = TextAnalysis.voteDictMerge(vStanding, b, "problem", "answer",
        "gold").localCheckpoint()
    }.start()
    try {
      all.map(r => (r._1, r._2, r._3)).grouped(100)
        .foreach { g => vIn.addData(g); vq.processAllAvailable() }
    } finally vq.stop()
    assert(vStanding.as[(String, Option[String], Long, String)].collect()
      .toSet ==
      vFull.as[(String, Option[String], Long, String)].collect().toSet)
  }

  test("bestOfN: reward argmax over the first n draws, earliest-draw " +
      "tie-break, NULL past the sample count") {
    import graft.ops.TextAnalysis
    val samples = Seq(
      // problem A: draws (reward, ok) = (0.5, 0), (0.9, 1), (0.7, 0)
      ("A", 1L, 0.5, false), ("A", 2L, 0.9, true), ("A", 3L, 0.7, false),
      // problem B: a reward TIE at the top — draw 1 must win it
      ("B", 1L, 0.8, true), ("B", 2L, 0.8, false))
      .toDF("problem", "draw", "reward", "ok")
    val got = TextAnalysis.bestOfN(samples, "problem", "draw", "reward",
        "ok", ns = Seq(1, 2, 4))
      .as[(String, Long, Option[Int], Option[Int], Option[Int])]
      .collect().map(r => r._1 -> r).toMap
    // A: best_1 = draw 1 (wrong); best_2 = draw 2 (0.9, right);
    // best_4 = NULL (only 3 samples)
    assert(got("A") == (("A", 3L, Some(0), Some(1), None)), got("A"))
    // B: the 0.8 tie at n = 2 resolves to the EARLIEST draw (right)
    assert(got("B") == (("B", 2L, Some(1), Some(1), None)), got("B"))
    // plan fence: the per-n argmaxes share ONE problem-keyed shuffle —
    // the window's hash partitioning is reused by the aggregate
    val plan = TextAnalysis.bestOfN(samples, "problem", "draw", "reward",
      "ok", ns = Seq(1, 2, 4)).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan)
  }
}
