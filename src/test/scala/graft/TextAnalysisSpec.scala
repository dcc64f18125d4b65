package graft

import graft.ops.TextAnalysis
import graft.sources.Sinks

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("quality scores: tokens, stopword ratio, non-alnum ratio") {
    val docs = Seq((1L, "The cat sat on the mat!", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.qualityScores(docs)
      .as[(Long, Int, Double, Double, Double)].collect().head
    val (_, nTokens, avgLen, stopRatio, nonAlnum) = got
    assert(nTokens == 6) // the cat sat on the mat
    assert(stopRatio == 0.5) // the, on, the
    assert(avgLen == 2.8333) // (3+3+3+2+3+3)/6
    assert(nonAlnum > 0.2 && nonAlnum < 0.3) // 6 non-alnum chars of 23
  }

  test("language id: char-n-gram profiles across five scripts") {
    val docs = Seq(
      (1L, "the cat and the dog is here", "x"),
      (2L, "der hund und die katze ist da", "x"),
      (3L, "el gato que está en la casa es pequeño", "x"),
      (4L, "le chien est dans le jardin avec les enfants", "x"),
      (5L, "это не просто что и как надо было", "x"), // Cyrillic
      (6L, "这是一个不重要的测试，我们在这里有很多人。", "x"), // Han, unspaced
      (7L, "これはテストです。わたしたちはここにいます。", "x"), // kana
      (8L, "이것은 테스트입니다 우리는 여기에 있습니다", "x"), // Hangul
      (9L, "هذا اختبار في اللغة من فضلك", "x"), // Arabic
      (10L, "xyzzy qwerty", "x") // no profile hits anywhere
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(docs).as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "es" &&
      got(4L) == "fr", got)
    assert(got(5L) == "ru" && got(6L) == "zh" && got(7L) == "ja" &&
      got(8L) == "ko" && got(9L) == "ar", got)
    assert(got(10L) == "und")
  }

  test("fingerprint is normalization-invariant") {
    val docs = Seq(
      (1L, "Hello,  World!", "x"),
      (2L, "hello world", "x"),
      (3L, "goodbye world", "x")
    ).toDF("doc_id", "text", "lang")
    val fps = TextAnalysis.fingerprints(docs).as[(Long, String)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("tfidf: empty documents count toward N but emit no terms") {
    // 4 docs, one token-less: idf = ln(4/df), NOT ln(3/df) — an engine that
    // derives N from the exploded term table silently shifts every score
    val docs = Seq(
      (1L, "alpha beta", "en"),
      (2L, "alpha gamma", "en"),
      (3L, "beta gamma", "en"),
      (4L, "!!! ...", "en") // zero tokens after normalization
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.tfIdfTopTerms(docs, 2)
      .as[(Long, String, Double, Int)].collect()
    assert(!got.exists(_._1 == 4L)) // no rows for the empty doc
    // every term appears in 2 of 4 docs: tfidf = 1 * ln(4/2) = 0.6931
    assert(got.forall(_._3 == 0.6931), got.mkString(", "))
    assert(got.count(_._1 == 1L) == 2)
  }

  test("cleanCorpus: quality gates then exact dedup, text never re-shuffled") {
    import graft.ops.Curation
    val long = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, long, "en", "s0"),                    // survivor
      (2L, long, "en", "s1"),                    // exact dup of 1 → dropped
      (3L, "too short", "en", "s0"),             // < minTokens
      (4L, "!!! ??? *** $$$ %%% ^^^ &&& ((( ))) === +++ ~~~", "en", "s0"), // punct
      (5L, long + " extra", "de", "s2")          // survivor
    ).toDF("doc_id", "text", "lang", "source")
    val kept = Curation.cleanCorpus(docs).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 5L))
    val stats = Curation.cleanCorpusStats(docs)
      .as[(String, String, Long)].collect().toSet
    assert(stats == Set(("en", "s0", 1L), ("de", "s2", 1L)))
  }

  test("token stats per language") {
    val docs = Seq(
      (1L, "one two three", "en"),
      (2L, "uno dos", "es")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.tokenStats(docs)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got("en") == ("en", 1L, 3L, 3.0))
    assert(got("es") == ("es", 1L, 2L, 2.0))
  }

  test("bpeSegmentCount: greedy longest-match goldens") {
    // the=the(1); thering=the+r+ing(3); understanding=und+er+st+and+ing(5);
    // xyz has no vocab unit → 3 single-char fallbacks; "" must be 0 (the
    // raw fold would see sequence(1,0) DESCEND and count 1)
    val words = Seq("the", "thering", "understanding", "xyz", "").toDF("word")
    val got = words
      .select($"word", TextAnalysis.bpeSegmentCount($"word").as("n"))
      .as[(String, Int)].collect().toMap
    assert(got == Map("the" -> 1, "thering" -> 3, "understanding" -> 5,
      "xyz" -> 3, "" -> 0))
  }

  test("bpeExactStats: exact totals + bounded drift vs the pre-token proxy") {
    val docs = Seq(
      (1L, "the thering understanding", "en"),
      (2L, "understanding the", "en"),
      (3L, "der ist und", "de")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.bpeExactStats(docs)
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // en: (1+3+5) + (5+1) = 15 exact; proxy = 5 pre-tokens
    assert(got("en")._2 == 15L && got("en")._3 == 5L && got("en")._4 == 3.0)
    // de: der(1) + ist(1) + und(1) = 3 exact; proxy = 3 pre-tokens
    assert(got("de")._2 == 3L && got("de")._4 == 1.0)
    // calibration claim: on word-like text the proxy is within a small
    // constant factor of the exact subword count (here ≤ 3×)
    got.values.foreach { case (_, _, _, drift) =>
      assert(drift >= 1.0 && drift <= 3.0, s"drift out of bound: $drift")
    }
  }

  test("repetition scores: top-token fraction + duplicated 3-gram fraction") {
    val docs = Seq(
      (1L, "spam spam spam spam ok", "en"),  // 4/5 top token
      (2L, "a b c a b c a b c", "en"),       // cyclic: 7 shingles, 3 distinct
      (3L, "all distinct words here", "en"), // no repetition
      (4L, "xy zz", "en")                    // <3 tokens → no shingles
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.repetitionScores(docs)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (0.8, 0.3333))    // 3 shingles, 2 distinct → 1/3 dup
    assert(got(2L) == (0.3333, 0.5714)) // 7 shingles, 3 distinct → 4/7 dup
    assert(got(3L) == (0.25, 0.0))
    assert(got(4L) == (0.5, 0.0))
  }

  test("surprisal: rare tokens score higher than common ones") {
    // "common" appears 8x across the corpus, "rare" once each
    val docs = Seq(
      (1L, "common common common common", "en"),
      (2L, "common common common common", "en"),
      (3L, "rarest unique singular words", "en")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.surprisalScores(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // p(common) = 8/12 → surprisal ln(12/8); p(rare) = 1/12 → ln(12)
    assert(got(1L)._3 == got(2L)._3)
    assert(got(3L)._3 > got(1L)._3 * 3)
    assert(math.abs(got(1L)._3 - math.log(12.0 / 8)) < 1e-3)
    assert(math.abs(got(3L)._3 - math.log(12.0)) < 1e-3)
  }

  test("compression ratio separates degenerate from natural text") {
    val degenerate = "spam " * 200
    val natural = "the quick brown fox jumps over a lazy dog while seventeen " +
      "curious owls examine quaint bridges spanning frozen rivers near old " +
      "villages whose inhabitants weave colorful fabrics during long winters"
    val docs = Seq((1L, degenerate, "en"), (2L, natural, "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.compressionScores(docs)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) < 0.1, s"degenerate ratio ${got(1L)}") // collapses
    assert(got(2L) > 0.3, s"natural ratio ${got(2L)}")    // mostly survives
    assert(got(1L) < got(2L) / 3) // the filterable gap
    // empty input: documented 1.0 convention (length filters own that case)
    val empty = Seq((9L, "", "en")).toDF("doc_id", "text", "lang")
    assert(TextAnalysis.compressionScores(empty)
      .as[(Long, Double)].collect().head._2 == 1.0)
    // the kernel is registered as a SQL function too
    graft.functions.GraftExtensions.install(spark)
    val viaSql = docs.createOrReplaceTempView("cmp_docs")
    val sqlGot = spark.sql(
      "SELECT doc_id, round(deflate_ratio(text), 4) AS r FROM cmp_docs")
      .as[(Long, Double)].collect().toMap
    assert(sqlGot == got)
  }

  test("cleanCorpusV2: per-source thresholds + language-agreement gate") {
    import graft.ops.Curation
    val en8 = "the cat and the dog is on mats" // 8 tokens, pred=en
    val en12 = "the cat and the dog is on mats with more fur now" // 12 tokens
    val docs = Seq(
      (1L, en12, "en", "strict"), // 12 < 15 → dropped by source threshold
      (2L, en12, "en", "lax"),    // kept (12 >= default 10)
      (3L, en8, "en", "lax"),     // dropped: 8 < 10 default
      (4L, en12, "de", "lax"),    // dropped: pred en ≠ label de (gate)
      (5L, en12, "en", "lax")     // exact dup of 2 → deduped (min doc_id kept)
    ).toDF("doc_id", "text", "lang", "source")
    val kept = Curation.cleanCorpusV2(docs, Map("strict" -> 15))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L))
    val stats = Curation.cleanCorpusV2Stats(docs, Map("strict" -> 15))
      .as[(String, String, Long)].collect().toSet
    assert(stats == Set(("en", "lax", 1L)))
  }

  test("LangPredict kernel matches the replace-arithmetic reference form") {
    // the kernel is what queries run; the expression form is what the
    // generated DuckDB oracle computes — they must agree everywhere,
    // including non-overlapping counting ("aaaa" contains "aa" twice) and
    // multi-byte grams matched at byte level
    import org.apache.spark.sql.functions.col
    val texts = Seq(
      "the cat and the dog is here", "der hund und die katze ist da",
      "el gato que está en la casa", "le chien est dans le jardin",
      "это не просто что и как надо", "这是一个不重要的测试我们在这里有很多人",
      "これはテストです。わたしたちは", "이것은 테스트입니다 우리는",
      "هذا اختبار في اللغة من فضلك", "xyzzy qwerty", "",
      "aaaa nd nd nd the the信息的的的一一", "ist ist ist und und der die das"
    )
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val both = docs.select(col("doc_id"),
      TextAnalysis.predLang(col("text")).as("kernel"),
      TextAnalysis.predLangRef(col("text")).as("ref"))
      .as[(Long, String, String)].collect()
    both.foreach { case (id, k, r) =>
      assert(k == r, s"doc $id: kernel=$k ref=$r (${texts(id.toInt)})")
    }
    // and over a corpus-shaped sample: every prediction identical
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val diff = corpus.select(
      TextAnalysis.predLang(col("text")).as("kernel"),
      TextAnalysis.predLangRef(col("text")).as("ref"))
      .where(col("kernel") =!= col("ref")).count()
    assert(diff == 0L)
  }

  test("corpusReport: one-row health dashboard with exact count/dup arithmetic") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs on"),
      (2L, "the quick brown fox jumps over the lazy dog and runs on"), // exact dup
      (3L, "a completely different document with many of the usual words in it"),
      (4L, "!!!")) // untokenizable: raw-fingerprint regime, 0 tokens
      .toDF("doc_id", "text")
    val r = TextAnalysis.corpusReport(docs)
      .as[(Long, Long, Double, Double, Double, Double, Double)].collect().head
    assert(r._1 == 4L)
    assert(r._2 == 12L + 12L + 12L + 0L) // token counts; doc 4 contributes 0
    assert(r._3 == 9.0)                  // avg tokens
    assert(r._4 == 0.25)                 // 3 distinct fps over 4 docs
    assert(r._5 > 0.0 && r._5 < 1.0)     // quality avg is a probability
    assert(r._6 >= 0.0 && r._6 <= 1.0)
    // en_frac agrees with the standalone predictor on the same rows
    val en = docs.select((TextAnalysis.predLang($"text") === "en")
        .cast("int").as("e"))
      .agg(org.apache.spark.sql.functions.avg($"e"))
      .as[Double].collect().head
    assert(r._7 == math.rint(en * 10000) / 10000)
    // empty corpus: defined zeros, not nulls/NaN where counts are concerned
    val empty = TextAnalysis.corpusReport(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
      .select("n_docs", "n_tokens", "exact_dup_frac")
      .as[(Long, Long, Double)].collect().head
    assert(empty == ((0L, 0L, 0.0)))
  }

  test("tfidf/surprisal dictionary joins are unhinted; AQE still broadcasts small ones") {
    // the dictionary (df / tf) joins must NOT carry a broadcast() hint — a
    // hint ships the Heaps-law vocabulary to the driver unconditionally at
    // 100 TB. Proof of no perf loss at small scale: AQE's final plan still
    // picks a BroadcastHashJoin on the word keys when the dictionary
    // measures small.
    val docs = Seq.tabulate(64) { i =>
      (i.toLong, s"alpha beta gamma tok$i the quick brown fox jumps", "en")
    }.toDF("doc_id", "text", "lang")
    for (q <- Seq(TextAnalysis.tfIdfTopTerms(docs, 2),
        TextAnalysis.surprisalScores(docs))) {
      // exactly ONE hint in the logical plan: the one-row aggregate
      // (nDocs / total); zero on the dictionary side
      val hints = q.queryExecution.analyzed.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }
      assert(hints.size == 1, s"expected only the one-row hint, got:\n$hints")
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    }
    // the bigram path has no one-row aggregate at all: ZERO hints — the
    // prev-token marginal (c1) is the unigram vocabulary, Heaps-law sized,
    // and must never be forced driver-side
    val bg = TextAnalysis.surprisalScoresBigram(docs)
    val bgHints = bg.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(bgHints.isEmpty, s"expected no hints in bigram plan, got:\n$bgHints")
    bg.collect()
    val bgPlan = bg.queryExecution.executedPlan.toString
    assert(bgPlan.contains("BroadcastHashJoin"), s"plan:\n$bgPlan")
  }

  test("cleanCorpusV3Stats: per-stage attrition through the full recipe") {
    import graft.ops.Curation
    // 24 tokens so the doc splits into two 20-token spans (second partial);
    // near-dup pair 1/2 share their token-set prefix (SNM-adjacent)
    val base = (1 to 24).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base, "en", "s0"),               // survives everything
      (2L, base + " tail", "en", "s0"),     // near dup of 1 (jaccard 24/25) → s4 drop
      (3L, base, "en", "s1"),               // exact dup of 1 → s3 drop
      (4L, "too short", "en", "s0"),        // quality drop (< 10 tokens)
      (5L, (30 to 60).map(i => s"w$i").mkString(" "), "en", "s0") // distinct survivor
    ).toDF("doc_id", "text", "lang", "source")
    val stats = Curation.cleanCorpusV3Stats(docs)
      .as[(String, Long)].collect().toMap
    assert(stats("s1_raw") == 5L)
    assert(stats("s2_quality") == 4L)      // doc 4 gated
    assert(stats("s3_exact_dedup") == 3L)  // doc 3 deduped
    assert(stats("s4_near_dedup") == 2L)   // doc 2 dropped by SNM cluster
    assert(stats("s5_spans_total") == 4L)  // docs 1 and 5: 2 spans each
    assert(stats("s5_spans_kept") == 4L)   // no cross-doc span dups remain
  }

  test("cleanCorpusV2 keeps non-Latin documents whose label agrees") {
    // the round-5 verdict's top finding: a marker-word classifier returned
    // 'und' for every non-Latin script, so the v2 agreement gate silently
    // deleted all CJK/Cyrillic/Arabic documents. The char-n-gram profiles
    // must keep them (and still drop genuinely mislabeled ones).
    import graft.ops.Curation
    val docs = Seq(
      (1L, "这是一个不重要的测试，我们在这里有很多人。", "zh", "s0"),
      (2L, "это не просто что и как надо было", "ru", "s0"),
      (3L, "هذا اختبار في اللغة من فضلك", "ar", "s0"),
      (4L, "これはテストです。わたしたちはここにいます。", "ja", "s0"),
      (5L, "这是一个不重要的测试，我们在这里有很多人。", "en", "s0") // mislabeled → dropped
    ).toDF("doc_id", "text", "lang", "source")
    val kept = Curation.cleanCorpusV2(docs, Map.empty, defaultMinTokens = 1)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 2L, 3L, 4L))
  }

  test("tokenLengthHistogram: exact power-of-two buckets incl. empty docs") {
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, "!!!"),        // 0 tokens → bucket -1
      (2L, words(1)),     // bucket 0
      (3L, words(2)),     // bucket 1
      (4L, words(3)),     // bucket 1 (the float-log2 trap value family)
      (5L, words(8)),     // bucket 3 — exactly a power of two
      (6L, words(1023)),  // bucket 9 upper edge
      (7L, words(1024)))  // bucket 10 lower edge
      .toDF("doc_id", "text")
    val got = TextAnalysis.tokenLengthHistogram(docs)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      -1 -> ((1L, 0L)), 0 -> ((1L, 1L)), 1 -> ((2L, 5L)),
      3 -> ((1L, 8L)), 9 -> ((1L, 1023L)), 10 -> ((1L, 1024L))))
  }

  test("surprisalScoresBackoff: seen pairs use cnt2/cnt1, unseen back off") {
    val train = Seq(
      (0L, "a b a b a c")).toDF("doc_id", "text")
    // train counts: bigrams (a,b)x2 (b,a)x2 (a,c)x1 → cnt1(a)=3, cnt1(b)=2
    // unigrams: a=3, b=2, c=1, N=6
    val score = Seq(
      (1L, "a b"),     // seen: s = 2/3
      (2L, "c b"),     // (c,b) unseen, word b in vocab → s = 0.4 * 2/6
      (3L, "a zz"))    // word zz out of vocab → excluded → NO row
      .toDF("doc_id", "text")
    val got = TextAnalysis.surprisalScoresBackoff(train, score)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((1L, 1L, BigDecimal(-math.log(2.0 / 3.0))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)), got(1L))
    assert(got(2L) == ((2L, 1L, BigDecimal(-math.log(0.4 * (2.0 / 6.0)))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)), got(2L))
  }

  test("hashEmbed: dense/long parity, and hashed vectors drive semantic dedup") {
    import graft.ops.Similarity
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog"),
      (2L, "the quick brown fox jumps over the dog"), // exact dup of 1
      (3L, "completely different content entirely here"),
      (4L, ""))                                       // zero tokens: no vector
      .toDF("doc_id", "text")
    val dense = TextAnalysis.hashEmbed(docs, dim = 32)
      .as[(Long, Seq[Float])].collect().map(r => r._1 -> r._2).toMap
    assert(dense.keySet == Set(1L, 2L, 3L)) // empty doc emits nothing
    assert(dense.values.forall(_.length == 32))
    assert(dense(1L) == dense(2L)) // identical text → identical vector
    assert(dense(1L) != dense(3L))
    // dense is exactly the long form scattered into its buckets
    val long = TextAnalysis.hashEmbedLong(docs, dim = 32)
      .as[(Long, Int, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    dense.foreach { case (id, v) =>
      v.zipWithIndex.foreach { case (x, i) =>
        assert(x.toDouble == long(id).getOrElse(i, 0.0), (id, i))
      }
    }
    // the bridge works end to end: semantic dedup over the hashed vectors
    // flags the exact dup and keeps the distinct doc
    val flags = Similarity
      .semanticDedupFlags(TextAnalysis.hashEmbed(docs, dim = 32),
        minCos = 0.99, signDims = 4)
      .as[(Long, Long, Option[Double], Int)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(flags(1L) == 0 && flags(2L) == 1 && flags(3L) == 0, flags)
  }

  test("bpeEncode: greedy segments reassemble the word, count-parity with bpeSegmentCount, vocab ids") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "the terminal xyz anderson understanding"),
      (2L, "die verwaltung los estados")).toDF("doc_id", "text")
    val enc = TextAnalysis.bpeEncode(docs)
      .as[(String, Int, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // pieces reassemble every word exactly, seg indices are 0..n-1
    enc.foreach { case (w, segs) =>
      assert(segs.map(_._3).mkString == w, w)
      assert(segs.map(_._2).toList == (0 until segs.length).toList, w)
    }
    // whole-word vocab hit: "the" is one piece with its 1-based vocab id
    assert(enc("the").map(s => (s._3, s._4)).toList ==
      List(("the", TextAnalysis.BPE_VOCAB.indexOf("the") + 1)))
    // pure out-of-vocab word: single-char fallbacks, piece_id 0
    assert(enc("xyz").map(s => (s._3, s._4)).toList ==
      List(("x", 0), ("y", 0), ("z", 0)))
    // count parity with the oracled bpeSegmentCount fold, word by word
    val words = enc.keySet.toSeq.toDF("word")
    val cnt = words.select(col("word"),
      TextAnalysis.bpeSegmentCount(col("word")).as("c"))
      .as[(String, Int)].collect().toMap
    enc.foreach { case (w, segs) => assert(segs.length == cnt(w), w) }
  }

  test("bpe_segment_ids kernel matches the interpreted bpeSegments fold id-for-id") {
    import org.apache.spark.sql.functions._
    // adversarial vocabulary-shaped words: whole-unit hits, overlapping
    // prefixes (the/th), all-fallback, mixed, and a supplementary-plane
    // char (one code point = one fallback step, as substr(pos,1) consumes)
    val words = Seq("the", "terminal", "xyz", "understanding", "ingest",
      "verwaltung", "estados", "a", "😀ab").toDF("word")
    val got = words.select(col("word"),
      graft.functions.ArrayKernels.bpe_segment_ids(col("word"),
        TextAnalysis.BPE_VOCAB).as("ids"))
      .as[(String, Seq[Int])].collect().toMap
    val ref = words.select(col("word"),
      transform(TextAnalysis.bpeSegments(col("word")), p =>
        coalesce(array_position(typedLit(TextAnalysis.BPE_VOCAB), p), lit(0L))
          .cast("int")).as("ids"))
      .as[(String, Seq[Int])].collect().toMap
    assert(got == ref, s"got=$got ref=$ref")
    // surrogate pair consumed as ONE fallback step, then a, b
    assert(got("😀ab").toList == List(0, 0, 0))
  }

  test("tokenIds: every token instance carries its word's id sequence at its stream position") {
    val docs = Seq((1L, "the the xyz"), (2L, "terminal")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenIds(docs).as[(Long, Int, Int, Int)]
      .collect().sortBy(r => (r._1, r._2, r._3)).toList
    val theId = TextAnalysis.BPE_VOCAB.indexOf("the") + 1
    val terIds = TextAnalysis.bpeEncode(
        Seq((9L, "terminal")).toDF("doc_id", "text"))
      .as[(String, Int, String, Int)].collect().sortBy(_._2).map(_._4).toList
    assert(got.takeWhile(_._1 == 1L) == List(
      (1L, 0, 0, theId), (1L, 1, 0, theId),    // duplicate word: one row per instance
      (1L, 2, 0, 0), (1L, 2, 1, 0), (1L, 2, 2, 0))) // xyz → 3 char fallbacks
    assert(got.dropWhile(_._1 == 1L) ==
      terIds.zipWithIndex.map { case (id, s) => (2L, 0, s, id) })
  }

  test("hashEmbed kernel matches the relational md5 hashing scheme exactly") {
    // The codegen kernel (ArrayKernels.HashEmbedEntries) replaced an
    // explode+groupBy over conv(substring(md5(tok),...)) expressions; the
    // DuckDB oracles still replay THAT formula, so the kernel is locked
    // against it here: same buckets, same signs, same cancelled-to-zero
    // rows, on a fixture wide enough to hit sign cancellation.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve diez"))
      .toDF("doc_id", "text")
    import org.apache.spark.sql.functions._
    val dim = 8 // small dim forces collisions and ±1 cancellations
    val kernel = TextAnalysis.hashEmbedLong(docs, dim)
      .as[(Long, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val legacy = docs
      .select(col("doc_id"), explode(graft.ops.Core.tokensUni(col("text"))).as("tok"))
      .withColumn("_h", md5(col("tok")))
      .select(col("doc_id"),
        (conv(substring(col("_h"), 1, 8), 16, 10).cast("long") % dim)
          .cast("int").as("dim_idx"),
        when(conv(substring(col("_h"), 9, 1), 16, 10).cast("long") % 2 === 0,
          1.0).otherwise(-1.0).as("sgn"))
      .groupBy("doc_id", "dim_idx").agg(sum("sgn").as("value"))
      .as[(Long, Int, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(kernel == legacy, s"kernel=$kernel legacy=$legacy")
    assert(kernel.nonEmpty && kernel.exists(_._2 == 0.0),
      "fixture should produce at least one cancelled-to-zero touched bucket")
  }

  test("dataCard: per-source counts, dup fraction, language spread") {
    val docs = Seq(
      (1L, "one two three", "en", "web", 13L),
      (2L, "one two three", "en", "web", 13L),  // exact dup of 1
      (3L, "vier fünf", "de", "web", 9L),
      (4L, "solo uno", "es", "books", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.dataCard(docs)
      .as[(String, Long, Long, Double, Double, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("web") == (("web", 3L, 8L, 2.6667, 0.3333, 2L, 11.6667)),
      got("web"))
    assert(got("books") == (("books", 1L, 2L, 2.0, 0.0, 1L, 8.0)))
  }

  test("vocab coverage counts pieces, fallbacks and OOV words per source") {
    val docs = Seq(
      (1L, "ab abc xy", "s1"),   // ab=1 piece; abc=ab+c(fb); xy=2 fb
      (2L, "ab ab", "s2")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.vocabCoverage(docs, vocab = Seq("ab", "a", "b"))
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // s1: 3 words; pieces 1 + 2 + 2 = 5; fallbacks 0 + 1 + 2 = 3; OOV 2
    assert(got("s1") == (("s1", 3L, 5L, 3L, 2L)), got("s1"))
    assert(got("s2") == (("s2", 2L, 2L, 0L, 0L)), got("s2"))
  }

  test("distribution drift: hand-checked PSI, zero self-drift, empty buckets") {
    val a = Seq(5.0, 5.0, 15.0).toDF("v")
    val b = Seq(5.0, 15.0, 15.0, 15.0).toDF("v")
    val got = TextAnalysis.distributionDrift(a, b, "v", Seq(10.0))
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    // (p-q)·ln(p/q) with +0.5 smoothing, computed independently
    assert(got == Seq((0, 2L, 1L, 0.23854), (1, 1L, 3L, 0.20285)), got)
    // identical snapshots drift by exactly zero in every bucket
    val self = TextAnalysis.distributionDrift(a, a, "v", Seq(10.0, 20.0))
      .as[(Int, Long, Long, Double)].collect()
    assert(self.length == 3 && self.forall(r => r._4 == 0.0), self.toSeq)
    // a bucket empty on BOTH sides is emitted (count conservation for
    // the monitoring consumer) and its smoothed psi is finite
    val gap = self.find(_._1 == 2).get
    assert(gap._2 == 0L && gap._3 == 0L && gap._4 == 0.0)
    // nulls are excluded, not bucketed
    val withNull = Seq[Option[Double]](Some(5.0), None).toDF("v")
    val n = TextAnalysis.distributionDrift(withNull, withNull, "v", Seq(10.0))
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1)
    assert(n.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((0, 1L, 1L), (1, 0L, 0L)))
    // the standing-reference form: stored bucketCounts replay the same
    // drift without rescanning the reference snapshot
    val ref = TextAnalysis.bucketCounts(a, "v", Seq(10.0))
    val viaRef = TextAnalysis.distributionDriftFrom(ref, b, "v", Seq(10.0))
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(viaRef == got)
    // streaming monitor: each micro-batch gets its own PSI report vs the
    // standing reference, identical to the batch compare on its rows
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[Double](94, spark, None)
    val reports = scala.collection.mutable.ArrayBuffer[Seq[(Int, Long, Long, Double)]]()
    val q = Sinks.eachBatch(in.toDF().toDF("v")) { b =>
      val r = TextAnalysis.distributionDriftFrom(ref, b, "v", Seq(10.0))
      reports += r.as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq
    }.start()
    try {
      in.addData(5.0, 15.0, 15.0, 15.0); q.processAllAvailable()
      in.addData(5.0); q.processAllAvailable()
    } finally q.stop()
    assert(reports.head == got) // batch 1 = b's rows exactly
    assert(reports(1) == TextAnalysis.distributionDriftFrom(ref,
        Seq(5.0).toDF("v"), "v", Seq(10.0))
      .as[(Int, Long, Long, Double)].collect().sortBy(_._1).toSeq)
  }

  test("surprisalScoresSketch: one-sided vs exact, exact at collision-free width") {
    val docs = Seq(
      (1L, "alpha alpha alpha alpha beta"),
      (2L, "beta gamma gamma delta"),
      (3L, "epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val exact = m(TextAnalysis.surprisalScores(docs))
    // generous width: 11 words cannot all-4-rows collide — scores equal
    // the exact dictionary's bit-for-bit (same rounding contract)
    val wide = m(TextAnalysis.surprisalScoresSketch(docs, depth = 4, width = 4096))
    assert(wide == exact, s"$wide vs $exact")
    // width 4 pigeonholes 11 words into 4 buckets: counts only inflate,
    // so surprisal only DEFLATES — never the other direction
    val narrow = m(TextAnalysis.surprisalScoresSketch(docs, depth = 2, width = 4))
    for ((id, (n, s)) <- narrow) {
      assert(n == exact(id)._1)
      assert(s <= exact(id)._2 + 1e-9, s"doc $id: $s > ${exact(id)._2}")
    }
    assert(narrow.exists { case (id, (_, s)) => s < exact(id)._2 - 1e-9 },
      "collisions never fired — width 4 should inflate something")
  }

  test("surprisalApplySketch: standing artifact scoring, unseen words floor at 1") {
    import graft.ops.CountMin
    import org.apache.spark.sql.functions.{col, count => cnt, explode, lit}
    val train = Seq((1L, "alpha alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val terms = train.select(col("doc_id"),
      explode(graft.ops.Core.tokensUni(col("text"))).as("word"))
    val cms = CountMin.sketch(terms, "word")
    val totals = terms.agg(cnt(lit(1)).cast("double").as("n_total"))
    val got = TextAnalysis.surprisalApplySketch(
        Seq((9L, "zzznever zzznever")).toDF("doc_id", "text"), cms, totals)
      .as[(Long, Long, Double)].collect().head
    assert(got._2 == 2L)
    // floor at est 1 caps surprisal at ln(n_total)=ln(5); finite, > 0
    assert(got._3 > 0 && got._3 <= math.rint(math.log(5.0) * 1e4) / 1e4)
    // the standing-sketch path reproduces the self-scored convenience form
    val self = TextAnalysis.surprisalApplySketch(train, cms, totals)
      .as[(Long, Long, Double)].collect().toSet
    val conv = TextAnalysis.surprisalScoresSketch(train)
      .as[(Long, Long, Double)].collect().toSet
    assert(self == conv)
  }

  private def typoMap(docs: org.apache.spark.sql.DataFrame,
      minLen: Int = 4, minRatio: Long = 2L): Map[String, String] =
    TextAnalysis.typoClusters(docs, minLen, minRatio)
      .as[(String, Long, String, Long)].collect()
      .map(r => r._1 -> r._3).toMap

  test("typoClusters: each 1-edit class remaps, 2-edit and weak-ratio stay") {
    val texts =
      Seq.fill(10)("streaming model") ++ Seq(
        "streamng model",   // deletion      → remap
        "streaaming model", // insertion     → remap
        "streeming model",  // substitution  → remap
        "stremaing model")  // transposition = 2 edits → stays itself
    // freq 6 variant: strictly rarer than "streaming" (10) but 10 < 2·6
    // fails the minRatio guard — ambiguity, not a clear typo
    val all = texts ++ Seq.fill(6)("streamin model")
    val docs = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = typoMap(docs)
    assert(got("streamng") == "streaming")
    assert(got("streaaming") == "streaming")
    assert(got("streeming") == "streaming")
    assert(got("stremaing") == "stremaing")
    assert(got("streamin") == "streamin")
    assert(got("streaming") == "streaming") // the canonical never remaps
    assert(got("model") == "model")
  }

  test("typoNormalize: ordered rewrite with counts, untokenizable pass-through") {
    val docs = Seq(
      (1L, "thee cat saw thee dog"),
      (2L, "the the the the the cat dog"),
      (3L, "")).toDF("doc_id", "text")
    val mapping = TextAnalysis.typoClusters(docs)
    val got = TextAnalysis.typoNormalize(docs, mapping)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // "thee" (freq 2) → "the" (freq 5 ≥ 2·2, one deletion); order preserved
    assert(got(1L) == (("the cat saw the dog", 5L, 2L)), got(1L).toString)
    assert(got(2L) == (("the the the the the cat dog", 7L, 0L)))
    // zero-token doc passes through unchanged with zero counts
    assert(got(3L) == (("", 0L, 0L)))
  }

  test("typoClusters: minLen fences short words; equal-freq ties break on word") {
    val words = Seq.fill(10)("abcd") ++ Seq.fill(10)("abce") ++ Seq("abcf") ++
      Seq.fill(20)("cat") ++ Seq("cart")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val got = typoMap(docs)
    // two canonicals at freq 10 — deterministic lexicographic winner
    assert(got("abcf") == "abcd")
    // "cart" (len 4) remaps into the 20× more frequent "cat"...
    assert(got("cart") == "cat")
    // ...but "cat" itself (len 3 < minLen) is fenced from remapping even
    // though "abcd" would never qualify anyway; identity row preserved
    assert(got("cat") == "cat")
    // full mapping covers every vocabulary word exactly once
    assert(typoMap(docs).size ==
      TextAnalysis.typoClusters(docs).count().toInt)
  }

  test("gopherGate: conjunction of the two halves, one row per doc") {
    // a clean long doc (passes both), a degenerate repeated-phrase doc
    // (structurally fine, repetition-gated), a too-short doc (gated by
    // BOTH halves — tiny docs also trip the top-gram rules by
    // pigeonhole: any bigram holds >20% of 22 chars)
    val phrase = "the quick brown fox jumps over the lazy dog again and again"
    val clean = "the be to of and that have with " +
      (1 to 80).map(i => s"word$i term$i").mkString(" ")
    val docs = Seq(
      (1L, clean),
      (2L, (s"$phrase $phrase $phrase $phrase $phrase have to of with " +
        (1 to 60).map(i => s"unique$i").mkString(" "))),
      (3L, "too short to have any words")).toDF("doc_id", "text")
    val got = TextAnalysis.gopherGate(docs).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3)))
      .toMap
    assert(got.size == 3)
    got.values.foreach { case (s, r, p) => assert(p == s * r) }
    assert(got(1L) == ((1, 1, 1)), got(1L).toString)
    assert(got(2L)._1 == 1 && got(2L)._2 == 0, got(2L).toString)
    assert(got(3L) == ((0, 0, 0)), got(3L).toString)
  }

  test("scriptMix: exact class counts, dominant tie-break, mixed flag, zero shuffle") {
    val docs = Seq(
      (0L, "hello world 42"),            // pure latin + digits
      (1L, "hello 机器学习模型训练数据"),   // latin 5 + han 10 → mixed
      (2L, "данные модели"),              // pure cyrillic
      (3L, "абв 机器学"),                  // 3-way tie at 3 chars → lexicographic
      (4L, ""),                           // no scripts at all
      (5L, "abc"))                        // latin-only, under minChars
      .toDF("doc_id", "text")
    val out = TextAnalysis.scriptMix(docs)
    val r = out.collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getAs[Long]("n_latin") == 10 &&
      r(0L).getAs[Long]("n_digit") == 2 && r(0L).getAs[Long]("n_space") == 2)
    assert(r(0L).getAs[String]("dominant") == "latin" &&
      r(0L).getAs[Int]("mixed") == 0)
    assert(r(1L).getAs[Long]("n_han") == 10 &&
      r(1L).getAs[String]("dominant") == "han" &&
      r(1L).getAs[Int]("mixed") == 1)
    assert(r(2L).getAs[String]("dominant") == "cyrillic")
    // equal 3-char counts: 'cyrillic' < 'han' < 'latin' — first wins
    assert(r(3L).getAs[Long]("n_latin") == 0, r(3L).toString)
    assert(r(3L).getAs[String]("dominant") == "cyrillic")
    assert(r(4L).getAs[String]("dominant") == "none" &&
      r(4L).getAs[Int]("mixed") == 0)
    assert(r(5L).getAs[Int]("mixed") == 0)
    // non-whitespace fractions on doc 1: 5 latin / 15 non-ws
    assert(r(1L).getAs[Double]("latin_frac") == 0.3333)
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("gopherRepetition: hand-checked fractions, vacuous empty doc, zero shuffle") {
    val docs = Seq(
      (0L, "a a a b\nx\nx\nx"),
      (1L, ""),
      (2L, "one two three")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs)
    val r = out.collect().map(x => x.getLong(0) -> x).toMap
    val d0 = r(0L)
    // lines: [a a a b, x, x, x] → 4 total / 2 distinct; char mass
    // 7 + 3·1 = 10, beyond-first dup chars = 2·1
    assert(d0.getAs[Double]("dup_line_frac") == 0.5)
    assert(d0.getAs[Double]("dup_line_char_frac") == 0.2)
    // 0.2 is EXACTLY the ≤ 0.20 boundary — the flag must pass
    assert(d0.getAs[Int]("r_dup_line_char") == 1)
    assert(d0.getAs[Int]("r_dup_line") == 0) // 0.5 > 0.30
    // tokens [a,a,a,b,x,x,x], dtok 7; top 2-gram: "a a"/"x x" tie at
    // count 2, char mass 2 → 4/7
    assert(d0.getAs[Double]("top_2gram_char_frac") == 0.5714)
    // all 3-grams distinct → mx 1, longest has 3 token chars → 3/7
    assert(d0.getAs[Double]("top_3gram_char_frac") == 0.4286)
    assert(d0.getAs[Double]("dup_5gram_char_frac") == 0.0)
    // empty doc: all-zero signals, every rule passes vacuously
    val d1 = r(1L)
    assert(d1.getAs[Int]("pass") == 1)
    assert(d1.getAs[Double]("dup_line_frac") == 0.0)
    // single-line clean doc: only the top-gram rules can fail (tiny
    // denominators make any gram heavy)
    assert(r(2L).getAs[Double]("top_3gram_char_frac") == 1.0)
    // scan-stage contract: no Exchange anywhere in the plan
    assert(!out.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("gopherRepetition: doubled phrase drives the dup-n-gram family over threshold") {
    val phrase = "the quick brown fox jumps over the lazy dog again and again"
    // the unique doc is LONG (60 distinct words) so the top-gram rules
    // pass — on tiny docs any gram holds >20% of the chars by pigeonhole
    val unique = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq((0L, s"$phrase $phrase"), (1L, unique))
      .toDF("doc_id", "text")
    val r = TextAnalysis.gopherRepetition(docs).collect()
      .map(x => x.getLong(0) -> x).toMap
    // for n ≤ 12 the window starting at position j duplicates the one at
    // j+12, and the duplicated windows cover EVERY token position — the
    // covered-position char mass is exactly 1.0, never more (chars
    // counted once)
    (5 to 10).foreach { n =>
      assert(r(0L).getAs[Double](s"dup_${n}gram_char_frac") == 1.0,
        s"n=$n: ${r(0L)}")
      assert(r(0L).getAs[Int](s"r_dup_${n}gram") == 0)
      assert(r(1L).getAs[Double](s"dup_${n}gram_char_frac") == 0.0)
      assert(r(1L).getAs[Int](s"r_dup_${n}gram") == 1)
    }
    assert(r(0L).getAs[Int]("pass") == 0)
    assert(r(1L).getAs[Int]("pass") == 1)
  }

  test("licenseScan: SPDX ids, name patterns, dual licensing, no-license " +
      "docs emit nothing") {
    val docs = Seq(
      (1L, "code\nSPDX-License-Identifier: Apache-2.0\nmore"),
      (2L, "Licensed under the Apache License, Version 2.0 " +
        "or alternatively the MIT License."),
      (3L, "plain prose about licensing nothing specific"),
      (4L, "SPDX-License-Identifier: MIT\nSPDX-License-Identifier: MIT"),
      (5L, "released under the GNU General Public License v3 and " +
        "Creative Commons Attribution 4.0"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.licenseScan(docs).as[(Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) == Set("spdx:Apache-2.0"))
    assert(got(2L) == Set("Apache-2.0", "MIT"))
    assert(!got.contains(3L))
    assert(got(4L) == Set("spdx:MIT")) // repeated tag emits once
    assert(got(5L) == Set("GPL", "CC-BY"))
  }

  test("codeSignals: statement/indent/comment fractions, keyword hits, " +
      "integer is_code thresholds at the exact boundary") {
    val code = "function f() {\n  // add\n  var y = 1;\n  return y;\n}"
    val docs = Seq(
      (1L, code),
      (2L, "hello world this is ordinary prose text"),
      (3L, ""),
      // exactly 3 statement lines of 10 non-empty: 3*10 >= 10*3 holds
      (4L, (Seq.fill(3)("x = 1;") ++ Seq.fill(7)("prose line"))
        .mkString("\n")),
      // 2 of 7: 2*10 < 7*3 -> not code (and no keywords)
      (5L, (Seq.fill(2)("x = 1;") ++ Seq.fill(5)("prose line"))
        .mkString("\n")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.codeSignals(docs)
      .as[(Long, Int, Double, Double, Double, Double, Int, Int)]
      .collect().map(r => r._1 -> r).toMap
    val (_, n1, stmt1, ind1, com1, _, kw1, isCode1) = got(1L)
    // 4 of 5 lines end ;/{/} ; 3 of 5 start indented; 1 comment line
    assert(n1 == 5 && stmt1 == 0.8 && ind1 == 0.6 && com1 == 0.2)
    assert(kw1 == 2 && isCode1 == 1) // function, return
    assert(got(2L)._8 == 0 && got(2L)._3 == 0.0)
    assert(got(3L)._2 == 0 && got(3L)._8 == 0) // empty text: all zero
    assert(got(4L)._8 == 1 && got(5L)._8 == 0) // exact 30 % boundary
  }

  test("logisticFit ≡ a sequential GD reference with the same q6 steps") {
    val rnd = new scala.util.Random(5)
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val rows = Seq.fill(200) {
      val x0 = rnd.nextGaussian(); val x1 = rnd.nextGaussian()
      val y = if (1.5 * x0 - x1 + 0.3 * rnd.nextGaussian() > 0) 1 else 0
      (y, x0, x1)
    }
    val got = TextAnalysis.logisticFit(
      rows.toDF("y", "x0", "x1").repartition(5), Seq("x0", "x1"), "y",
      iterations = 4, lr = 0.8)
    // sequential reference, same mean-gradient update and q6 per step
    var w = Seq(0.0, 0.0, 0.0)
    for (_ <- 1 to 4) {
      val grads = rows.map { case (y, x0, x1) =>
        val p = 1.0 / (1.0 + math.exp(-(w(0) + w(1) * x0 + w(2) * x1)))
        val r = y - p
        (r, r * x0, r * x1)
      }
      val n = rows.size.toDouble
      val g = Seq(grads.map(_._1).sum, grads.map(_._2).sum,
        grads.map(_._3).sum)
      w = w.indices.map(i => q6(w(i) + 0.8 * g(i) / n))
    }
    got.zip(w).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-6, s"$got vs $w")
    }
    // the fit learned the separating direction: positive on x0,
    // negative on x1
    assert(got(1) > 0.1 && got(2) < -0.05, got)
  }

  test("thresholdSweep + aucScore: hand-checked confusion and tie-aware AUC") {
    // scores: pos {0.9, 0.7, 0.5}, neg {0.5, 0.3} — one tie at 0.5.
    // pairs (pos, neg): (0.9,0.5)+ (0.9,0.3)+ (0.7,0.5)+ (0.7,0.3)+
    // (0.5,0.3)+ (0.5,0.5)=½ → AUC = 5.5/6
    val scored = Seq((0.9, 1), (0.7, 1), (0.5, 1), (0.5, 0), (0.3, 0))
      .toDF("s", "y")
    val auc = TextAnalysis.aucScore(scored, "s", "y")
      .as[(Long, Long, Option[Double])].collect().head
    assert(auc == ((3L, 2L, Some(math.rint(5.5 / 6 * 1e6) / 1e6))), auc)
    val sw = TextAnalysis.thresholdSweep(scored, "s", "y",
        thresholds = Seq(0.5))
      .as[(Double, Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    // at t = 0.5: predicted pos = {0.9, 0.7, 0.5pos, 0.5neg}
    assert(sw._2 == 3L && sw._3 == 1L && sw._4 == 0L && sw._5 == 1L)
    assert(sw._6.contains(0.75) && sw._7.contains(1.0) &&
      sw._8.contains(math.rint(6.0 / 7 * 1e4) / 1e4), sw)
    // degenerate: one class only → NULL AUC, counts still right
    val one = TextAnalysis.aucScore(Seq((0.4, 1), (0.6, 1)).toDF("s", "y"),
      "s", "y").as[(Long, Long, Option[Double])].collect().head
    assert(one == ((2L, 0L, None)))
  }

  test("apScore ≡ sklearn-style sequential average precision with ties") {
    // hand-checked: pos {0.9, 0.5}, neg {0.7, 0.5}. Descending distinct
    // scores: 0.9 → tp=1 fp=0, ΔR=1/2, P=1; 0.7 → no pos at s; 0.5 →
    // tp=2 fp=2, ΔR=1/2, P=0.5. AP = 0.5·1 + 0.5·0.5 = 0.75
    val scored = Seq((0.9, 1), (0.7, 0), (0.5, 1), (0.5, 0)).toDF("s", "y")
    val got = TextAnalysis.apScore(scored, "s", "y")
      .as[(Long, Long, Option[Double])].collect().head
    assert(got == ((2L, 2L, Some(0.75))), got)
    // random tied data vs a sequential reference
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(400) {
      val y = rnd.nextInt(2)
      val s = math.min(1.0, math.max(0.0,
        math.rint((0.4 + 0.25 * y + 0.25 * rnd.nextGaussian()) * 20) / 20))
      (s, y)
    }
    val g2 = TextAnalysis.apScore(rows.toDF("s", "y"), "s", "y")
      .as[(Long, Long, Option[Double])].collect().head
    val p = rows.count(_._2 == 1).toDouble
    val byS = rows.groupBy(_._1).map { case (s, v) =>
      (s, v.count(_._2 == 1).toDouble, v.count(_._2 == 0).toDouble)
    }.toSeq.sortBy(-_._1)
    var (tp, fp, ap) = (0.0, 0.0, 0.0)
    byS.foreach { case (_, np, nn) =>
      tp += np; fp += nn
      if (np > 0) ap += (np / p) * (tp / (tp + fp))
    }
    assert(g2._3.exists(a => math.abs(a - ap) <= 1e-6), s"$g2 vs $ap")
    // no positives → NULL
    val none = TextAnalysis.apScore(Seq((0.3, 0)).toDF("s", "y"), "s", "y")
      .as[(Long, Long, Option[Double])].collect().head
    assert(none == ((0L, 1L, None)))
  }

  test("aucByGroup ≡ aucScore run per group; one-class groups NULL") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.tabulate(300) { i =>
      val g = s"src${i % 3}"
      val y = rnd.nextInt(2)
      val s = math.rint((0.3 + 0.3 * y + 0.3 * rnd.nextDouble()) * 20) / 20
      (g, s, y)
    } :+ (("lonely", 0.5, 1)) // one-class group
    val df = rows.toDF("g", "s", "y")
    val got = TextAnalysis.aucByGroup(df, "g", "s", "y")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    for (g <- Seq("src0", "src1", "src2")) {
      val sub = TextAnalysis.aucScore(df.where($"g" === g), "s", "y")
        .as[(Long, Long, Option[Double])].collect().head
      assert(got(g) == ((g, sub._1, sub._2, sub._3)), g)
    }
    assert(got("lonely") == (("lonely", 1L, 0L, None)))
  }

  test("aucBootstrap: deterministic, CI brackets the point AUC, " +
      "≡ sequential md5-Poisson reference") {
    val rnd = new scala.util.Random(29)
    val rows = Seq.tabulate(200) { i =>
      val y = rnd.nextInt(2)
      val s = math.rint((0.35 + 0.3 * y + 0.25 * rnd.nextGaussian()) * 20) / 20
      (i.toLong, s, y)
    }
    val df = rows.toDF("id", "s", "y")
    val B = 50
    val got = TextAnalysis.aucBootstrap(df, "id", "s", "y", replicas = B)
      .as[(Int, Option[Double], Option[Double], Option[Double])]
      .collect().head
    val again = TextAnalysis.aucBootstrap(df, "id", "s", "y", replicas = B)
      .as[(Int, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got == again, "bootstrap must be deterministic")
    val point = TextAnalysis.aucScore(df, "s", "y")
      .as[(Long, Long, Option[Double])].collect().head._3.get
    assert(got._3.get <= point && point <= got._4.get,
      s"CI ${got._3}-${got._4} must bracket $point")
    assert(got._3.get < got._4.get && got._1 == B)
    // sequential reference: same md5 draws, weighted pairwise AUC
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    def weight(id: Long, b: Int): Double = {
      // replica b draws lane b mod 4 of md5(salt|id|b div 4)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"boot|$id|${b / 4}".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString
        .substring((b % 4) * 8, (b % 4) * 8 + 8)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / 4294967296.0
      TextAnalysis.POISSON1_CDF.count(c => u >= c).toDouble
    }
    val refAucs = (0 until B).flatMap { b =>
      val wr = rows.map { case (id, s, y) => (s, y, weight(id, b)) }
        .filter(_._3 > 0)
      val pos = wr.filter(_._2 == 1); val neg = wr.filter(_._2 == 0)
      val p = pos.map(_._3).sum; val n = neg.map(_._3).sum
      if (p == 0 || n == 0) None
      else {
        val u = (for (a <- pos; c <- neg) yield
          a._3 * c._3 * (if (a._1 > c._1) 1.0
            else if (a._1 == c._1) 0.5 else 0.0)).sum
        Some(q6(u / (p * n)))
      }
    }.sorted
    assert(refAucs.length == got._1)
    val lo = refAucs(math.max(math.ceil(0.025 * refAucs.length).toInt, 1) - 1)
    val hi = refAucs(math.ceil(0.975 * refAucs.length).toInt - 1)
    assert(math.abs(got._3.get - lo) <= 1e-6 &&
      math.abs(got._4.get - hi) <= 1e-6, s"$got vs ($lo, $hi)")
    assert(math.abs(got._2.get - q6(refAucs.sum / refAucs.length)) <= 1e-6)
  }

  test("scoreReport: hand-checked accuracy, Brier, clamped log-loss") {
    // (s, y): (0.9, 1) correct; (0.2, 0) correct; (0.6, 0) wrong;
    // (1.0, 0) wrong AND saturated — the eps clamp keeps logloss finite
    val df = Seq((0.9, 1), (0.2, 0), (0.6, 0), (1.0, 0)).toDF("s", "y")
    val got = TextAnalysis.scoreReport(df, "s", "y")
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(got._1 == 4L && got._2 == 1L && got._3 == 0.5)
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val brier = (math.pow(0.9 - 1, 2) + math.pow(0.2, 2) +
      math.pow(0.6, 2) + 1.0) / 4
    assert(got._4 == q6(brier), got)
    val ll = -(math.log(0.9) + math.log(0.8) + math.log(0.4) +
      math.log(1e-15)) / 4
    assert(got._5 == q6(ll), got)
  }

  test("ksTest: hand-checked, sequential parity, shift detection") {
    // a = {1,2,3}, b = {3,4}: CDF gaps at v=1: 1/3; v=2: 2/3; v=3: 1/2;
    // v=4: 0 → D = 2/3
    val a1 = Seq(1, 2, 3).toDF("v"); val b1 = Seq(3, 4).toDF("v")
    val g1 = TextAnalysis.ksTest(a1, b1, "v")
      .as[(Long, Long, Option[Double], Option[Int])].collect().head
    assert(g1._1 == 3 && g1._2 == 2 &&
      g1._3.contains(math.rint(2.0 / 3 * 1e6) / 1e6), g1)
    // random two-sample vs a sequential reference
    val rnd = new scala.util.Random(31)
    val xa = Seq.fill(300)(rnd.nextInt(50).toDouble)
    val xb = Seq.fill(200)(rnd.nextInt(50).toDouble + 10)
    val g2 = TextAnalysis.ksTest(xa.toDF("v"), xb.toDF("v"), "v")
      .as[(Long, Long, Option[Double], Option[Int])].collect().head
    val vs = (xa ++ xb).distinct.sorted
    val ref = vs.map(v => math.abs(
      xa.count(_ <= v).toDouble / xa.size -
        xb.count(_ <= v).toDouble / xb.size)).max
    assert(g2._3.exists(k => math.abs(k - math.rint(ref * 1e6) / 1e6) <= 1e-9))
    // the +10 shift on a 0..49 support is detectable at n=300/200
    // (KS ≈ 0.2 vs critical ≈ 0.124)
    assert(g2._4.contains(1), g2)
    // identical samples: D = 0, no rejection; empty side: NULL
    val same = TextAnalysis.ksTest(xa.toDF("v"), xa.toDF("v"), "v")
      .as[(Long, Long, Option[Double], Option[Int])].collect().head
    assert(same._3.contains(0.0) && same._4.contains(0))
    val empty = TextAnalysis.ksTest(xa.toDF("v"),
      Seq.empty[Double].toDF("v"), "v")
      .as[(Long, Long, Option[Double], Option[Int])].collect().head
    assert(empty == ((300L, 0L, None, None)))
  }

  test("aucScore ≡ a sequential rank-statistic reference on random data") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(500) {
      val y = rnd.nextInt(2)
      // ties guaranteed: scores on a 0.05 grid, informative of y
      val s = math.min(1.0, math.max(0.0,
        math.rint((0.35 + 0.3 * y + 0.3 * rnd.nextGaussian()) * 20) / 20))
      (s, y)
    }
    val got = TextAnalysis.aucScore(rows.toDF("s", "y"), "s", "y")
      .as[(Long, Long, Option[Double])].collect().head
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1)
    val u = (for (p <- pos; n <- neg) yield
      if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum
    val ref = math.rint(u / (pos.size * neg.size) * 1e6) / 1e6
    assert(got._1 == pos.size && got._2 == neg.size)
    assert(got._3.exists(a => math.abs(a - ref) <= 1e-6), s"$got vs $ref")
  }

  test("qualityFitScore: standardized fit separates the length label") {
    val rnd = new scala.util.Random(9)
    val docs = (0L until 200L).map { i =>
      val n = 3 + (i % 40).toInt
      val words = Seq.fill(n)(Seq("the", "batch", "join", "data",
        "pipeline")(rnd.nextInt(5)))
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")))
    val got = TextAnalysis.qualityFitScore(docs, labelMinChars = 120)
      .as[(Long, Int, Double, Int)].collect()
    // both classes present in the decisions, and accuracy well above
    // chance (ln-token-count is a near-perfect proxy for the label)
    val acc = got.count(r => r._4 == r._2).toDouble / got.length
    assert(got.map(_._4).distinct.length == 2, "degenerate keep column")
    assert(acc >= 0.85, s"train accuracy $acc")
    // deterministic: the standardization and GD replay exactly
    val again = TextAnalysis.qualityFitScore(docs, labelMinChars = 120)
      .as[(Long, Int, Double, Int)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("logisticFit ignores null-label/null-feature rows entirely") {
    // rows with a null label or feature contribute null to every
    // gradient sum; n must count only the rows the sums actually saw,
    // or nulls silently shrink the effective learning rate
    val clean = Seq((1, 1.0, 0.2), (0, -0.5, 0.8), (1, 0.7, -0.3),
      (0, -1.2, 0.5), (1, 2.0, -1.0), (0, -0.1, 1.4))
    val dirty = clean.map { case (y, a, b) =>
      (Option(y), Option(a), Option(b))
    } ++ Seq((Option.empty[Int], Some(9.0), Some(9.0)),
      (Some(1), Option.empty[Double], Some(9.0)),
      (Some(0), Some(9.0), Option.empty[Double]))
    val wClean = TextAnalysis.logisticFit(clean.toDF("y", "x0", "x1"),
      Seq("x0", "x1"), "y", iterations = 3)
    val wDirty = TextAnalysis.logisticFit(dirty.toDF("y", "x0", "x1"),
      Seq("x0", "x1"), "y", iterations = 3)
    assert(wClean == wDirty, s"$wClean vs $wDirty")
    // all-null frame is a hard error, not a zero-division
    intercept[IllegalArgumentException] {
      TextAnalysis.logisticFit(
        Seq((Option.empty[Int], 1.0, 2.0)).toDF("y", "x0", "x1"),
        Seq("x0", "x1"), "y", iterations = 1)
    }
  }

  test("ksTest alpha: D = 0.12 rejects at 0.10 and 0.05 but not 0.01; " +
      "unsupported alpha refused") {
    // a = 1..300, b = 37..336: uniform shift — D = 36/300 = 0.12 exactly.
    // crit = c(α)·√(600/90000) = c(α)·0.08165: 0.10 → 0.0999 (reject),
    // 0.05 → 0.1109 (reject), 0.01 → 0.1329 (no reject)
    val a = (1 to 300).map(_.toDouble).toDF("v")
    val b = (37 to 336).map(_.toDouble).toDF("v")
    def flag(alpha: Double): (String, Int) = {
      val df = TextAnalysis.ksTest(a, b, "v", alpha)
      (df.columns.last,
        df.select(org.apache.spark.sql.functions.col(df.columns.last))
          .as[Int].collect().head)
    }
    assert(flag(0.10) == (("reject_10", 1)))
    assert(flag(0.05) == (("reject_05", 1)))
    assert(flag(0.01) == (("reject_01", 0)))
    intercept[RuntimeException] { TextAnalysis.ksTest(a, b, "v", 0.2) }
  }

  test("scoreDict: merge ≡ rebuild, aucFromDict ≡ aucScore, aucServe " +
      "folds micro-batches to the same standing dictionary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rnd = new scala.util.Random(29)
    val all = Seq.fill(400) {
      val y = rnd.nextInt(2)
      val s = math.rint((0.3 + 0.3 * y + 0.3 * rnd.nextDouble()) * 25) / 25
      (s, y)
    }
    val (a, b) = all.splitAt(250)
    val merged = TextAnalysis.scoreDictMerge(
      TextAnalysis.scoreDict(a.toDF("s", "y"), "s", "y"),
      b.toDF("s", "y"), "s", "y").localCheckpoint()
    val full = TextAnalysis.scoreDict(all.toDF("s", "y"), "s", "y")
      .localCheckpoint()
    assert(merged.as[(Double, Double, Double)].collect().toSet ==
      full.as[(Double, Double, Double)].collect().toSet)
    // exact AUC off the standing dictionary ≡ the one-shot corpus AUC
    val aucM = TextAnalysis.aucFromDict(merged)
      .as[(Long, Long, Option[Double])].collect().head
    val aucF = TextAnalysis.aucScore(all.toDF("s", "y"), "s", "y")
      .as[(Long, Long, Option[Double])].collect().head
    assert(aucM == aucF && aucM._3.nonEmpty, s"$aucM vs $aucF")
    // streaming: four micro-batches fold to the same standing dict
    var standing = TextAnalysis.scoreDict(
      Seq.empty[(Double, Int)].toDF("s", "y"), "s", "y").localCheckpoint()
    val in = MemoryStream[(Double, Int)](93, spark, None)
    val q = Sinks.eachBatch(in.toDF().toDF("s", "y")) { b =>
      standing = TextAnalysis.scoreDictMerge(standing, b, "s", "y")
        .localCheckpoint()
    }.start()
    try {
      all.grouped(100).foreach { g => in.addData(g); q.processAllAvailable() }
    } finally q.stop()
    assert(standing.as[(Double, Double, Double)].collect().toSet ==
      full.as[(Double, Double, Double)].collect().toSet)
  }

  test("tokenDivergence: identical corpora read zero; hand case matches " +
      "the sequential smoothed-KL reference; empty edge") {
    val a = Seq((1L, "x x y", "en")).toDF("doc_id", "text", "lang")
    val b = Seq((2L, "x z", "en")).toDF("doc_id", "text", "lang")
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    // sequential reference with the same per-term q6 rounding
    val (ca, cb) = (Map("x" -> 2L, "y" -> 1L, "z" -> 0L),
      Map("x" -> 1L, "y" -> 0L, "z" -> 1L))
    val (na, nb, v) = (3.0, 2.0, 3.0)
    val terms = Seq("x", "y", "z").map { t =>
      val p = (ca(t) + 0.5) / (na + 0.5 * v)
      val q = (cb(t) + 0.5) / (nb + 0.5 * v)
      (q6(p * math.log(p / q)), q6(q * math.log(q / p)),
        q6(p * math.log(p / ((p + q) / 2)) / 2) +
          q6(q * math.log(q / ((p + q) / 2)) / 2))
    }
    val got = TextAnalysis.tokenDivergence(a, b)
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got._1 == 3L && got._2 == 2L && got._3 == 3L)
    assert(got._4.contains(q6(terms.map(_._1).sum)) &&
      got._5.contains(q6(terms.map(_._2).sum)) &&
      got._6.contains(q6(terms.map(_._3).sum)), got)
    // JS is symmetric and bounded by ln 2; both KLs positive here
    assert(got._6.get > 0 && got._6.get < math.log(2))
    val same = TextAnalysis.tokenDivergence(a, a)
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(same._4.contains(0.0) && same._5.contains(0.0) &&
      same._6.contains(0.0), same)
    val empty = TextAnalysis.tokenDivergence(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang"),
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang"))
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(empty == ((0L, 0L, 0L, None, None, None)))
  }

  test("vocabReport: hand-checked type inventory; empty corpus nulls") {
    val docs = Seq((1L, "a a b c", "en"), (2L, "a b", "en"))
      .toDF("doc_id", "text", "lang")
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = TextAnalysis.vocabReport(docs)
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    // a:3 b:2 c:1 → N=6 V=3 hapax=1 dis=1 ttr=1/2 unseen=1/6
    assert(got == ((6L, 3L, 1L, 1L, Some(0.5), Some(q6(1.0 / 6)))), got)
    val empty = TextAnalysis.vocabReport(
      Seq((1L, "", "en")).toDF("doc_id", "text", "lang"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double])]
      .collect().head
    assert(empty == ((0L, 0L, 0L, 0L, None, None)))
  }

  test("pairedBootstrap: separation detected, identical systems read " +
      "delta 0, pairing cancels shared item difficulty") {
    val rnd = new scala.util.Random(7)
    // B is uniformly better by ~0.1 on every item; item difficulty is
    // shared noise the pairing must cancel
    val rows = (0L until 300L).map { i =>
      val difficulty = rnd.nextGaussian() * 0.5
      (i, 0.5 + difficulty, 0.6 + difficulty)
    }
    val got = TextAnalysis.pairedBootstrap(rows.toDF("id", "a", "b"),
      "id", "a", "b")
      .as[(Int, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(got._1 == 100)
    // every replica's delta is EXACTLY 0.1 (Σw(b−a)/Σw with b−a ≡ 0.1)
    assert(got._2.exists(d => math.abs(d - 0.1) <= 1e-6), got)
    assert(got._3.exists(l => math.abs(l - 0.1) <= 1e-6) &&
      got._4.exists(h => math.abs(h - 0.1) <= 1e-6), got)
    assert(got._5.contains(1.0), got)
    // identical systems: delta 0, win rate 0 (strict >)
    val same = TextAnalysis.pairedBootstrap(
      rows.map(r => (r._1, r._2, r._2)).toDF("id", "a", "b"), "id", "a", "b")
      .as[(Int, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(same._2.contains(0.0) && same._5.contains(0.0), same)
    // deterministic: same salt reproduces bit-for-bit
    val again = TextAnalysis.pairedBootstrap(rows.toDF("id", "a", "b"),
      "id", "a", "b")
      .as[(Int, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(again == got)
    // null on either side excludes the item (paired = both present)
    val withNull = TextAnalysis.pairedBootstrap(
      (rows.map(r => (r._1, Option(r._2), Option(r._3))) :+
        (999L, Option.empty[Double], Some(9.9))).toDF("id", "a", "b"),
      "id", "a", "b")
      .as[(Int, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(withNull == got)
  }

  test("bleuScore: hand-checked clipping, brevity penalty, zero-match " +
      "and empty-candidate conventions") {
    // ref "the cat sat on the mat" (r=6), cand "the cat the cat sat"
    // (c=5). Unigrams clip: the→min(2,2)+cat→min(2,1)+sat→1 = 4/5.
    // Bigrams: "the cat"×2 clips to 1, "cat sat" matches → 2/4.
    val pair = Seq((1L, "the cat sat on the mat", "the cat the cat sat"))
      .toDF("id", "ref", "cand")
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val g2 = TextAnalysis.bleuScore(pair, "id", "ref", "cand", maxN = 2)
      .as[(Long, Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(g2._1 == 1L && g2._2 == 5L && g2._3 == 6L)
    assert(g2._4.contains(0.8) && g2._5.contains(0.5), g2)
    val want = math.rint(math.exp(
      (q6(math.log(0.8)) + q6(math.log(0.5))) / 2 + (1.0 - 6.0 / 5)) * 1e4) / 1e4
    assert(g2._6.contains(want), s"$g2 vs $want")
    // no 4-gram survives → unsmoothed BLEU-4 is exactly 0
    val g4 = TextAnalysis.bleuScore(pair, "id", "ref", "cand")
      .select("bleu").as[Option[Double]].collect().head
    assert(g4.contains(0.0), g4)
    // candidate LONGER than reference: BP caps at 1 (exponent 0)
    val longCand = Seq((1L, "a b", "a b a b")).toDF("id", "ref", "cand")
    val gl = TextAnalysis.bleuScore(longCand, "id", "ref", "cand", maxN = 1)
      .select("p1", "bleu").as[(Option[Double], Option[Double])]
      .collect().head
    assert(gl._1.contains(0.5) && gl._2.contains(0.5), gl)
    // empty candidate: no tokens at all → NULL, not 0
    val empty = TextAnalysis.bleuScore(
      Seq((1L, "a b", "")).toDF("id", "ref", "cand"), "id", "ref", "cand")
      .select("bleu").as[Option[Double]].collect().head
    assert(empty.isEmpty)
  }

  test("cohenKappaMulti: hand-checked 2x2 confusion, agrees with the " +
      "binary form, constant raters NULL, nulls excluded") {
    // (x,x):20 (x,y):5 (y,x):10 (y,y):15 → po = 35/50 = 0.7;
    // rows (25, 25), cols (30, 20) → pe = (750+500)/2500 = 0.5 → κ = 0.4
    val rows = Seq.fill(20)(("x", "x")) ++ Seq.fill(5)(("x", "y")) ++
      Seq.fill(10)(("y", "x")) ++ Seq.fill(15)(("y", "y"))
    val got = TextAnalysis.cohenKappaMulti(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(got == ((50L, 2L, Some(0.7), Some(0.5), Some(0.4))), got)
    // two categories ≡ the boolean cohenKappa (which rounds 4)
    val bin = rows.map { case (a, b) => (a == "x", b == "x") }
    val kBin = TextAnalysis.cohenKappa(bin.toDF("a", "b"), "a", "b")
      .select("kappa").as[Option[Double]].collect().head
    assert(kBin.exists(k => math.abs(k - 0.4) <= 5e-5), kBin)
    // three-way: a null on either side drops the pair from every count
    val withNull = rows.map { case (a, b) => (Option(a), Option(b)) } :+
      ((Option.empty[String], Some("x")))
    val gN = TextAnalysis.cohenKappaMulti(withNull.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(gN == got, s"$gN vs $got")
    // both raters constant: pe = 1 → κ NULL (vacuous)
    val const = TextAnalysis.cohenKappaMulti(
      Seq(("x", "x"), ("x", "x")).toDF("a", "b"), "a", "b")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(const._5.isEmpty && const._3.contains(1.0), const)
    // empty input: one all-null zero row (the fleissKappa empty edge)
    val empty = TextAnalysis.cohenKappaMulti(
      Seq.empty[(String, String)].toDF("a", "b"), "a", "b")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().head
    assert(empty == ((0L, 0L, None, None, None)))
  }

  test("mcnemarTest: hand-checked discordant counts, continuity " +
      "correction, no-discordance NULL") {
    // 20 items: A right / B wrong on 15, reverse on 2, both right on 3.
    // stat = (|15-2|-1)^2 / 17 = 144/17 ≈ 8.4706 > 3.841 → reject
    val rows = Seq.fill(15)((1, 1, 0)) ++ Seq.fill(2)((1, 0, 1)) ++
      Seq.fill(3)((1, 1, 1))
    val got = TextAnalysis.mcnemarTest(rows.toDF("y", "a", "b"),
      "y", "a", "b")
      .as[(Long, Long, Long, Option[Double], Option[Int])].collect().head
    assert(got == ((20L, 15L, 2L,
      Some(math.rint(144.0 / 17 * 1e6) / 1e6), Some(1))), got)
    // balanced discordance: (|8-6|-1)^2/14 = 1/14 → no rejection
    val bal = TextAnalysis.mcnemarTest(
      (Seq.fill(8)((1, 1, 0)) ++ Seq.fill(6)((1, 0, 1))).toDF("y", "a", "b"),
      "y", "a", "b")
      .as[(Long, Long, Long, Option[Double], Option[Int])].collect().head
    assert(bal._4.contains(math.rint(1.0 / 14 * 1e6) / 1e6) &&
      bal._5.contains(0), bal)
    // identical predictions: b+c = 0 → statistic and flag NULL
    val same = TextAnalysis.mcnemarTest(
      Seq((1, 1, 1), (0, 1, 1)).toDF("y", "a", "b"), "y", "a", "b")
      .as[(Long, Long, Long, Option[Double], Option[Int])].collect().head
    assert(same == ((2L, 0L, 0L, None, None)), same)
    // the 8.47 statistic clears 3.841 (α=0.05) but not... it also
    // clears 6.635 (α=0.01); the 1/14 statistic clears neither —
    // and the column carries the level's name
    val a01 = TextAnalysis.mcnemarTest(rows.toDF("y", "a", "b"),
      "y", "a", "b", alpha = 0.01)
    assert(a01.columns.last == "reject_01")
    assert(a01.select("reject_01").as[Option[Int]].collect().head
      .contains(1))
    intercept[RuntimeException] {
      TextAnalysis.mcnemarTest(rows.toDF("y", "a", "b"), "y", "a", "b",
        alpha = 0.2)
    }
    // incomplete pairs (null label or prediction) leave EVERY count,
    // including n — the statistic's sample is exactly what n reports
    val withNulls = rows.map { case (y, a, b) =>
      (Option(y), Option(a), Option(b))
    } ++ Seq((Some(1), Option.empty[Int], Some(1)),
      (Option.empty[Int], Some(1), Some(1)))
    val gN = TextAnalysis.mcnemarTest(withNulls.toDF("y", "a", "b"),
      "y", "a", "b")
      .as[(Long, Long, Long, Option[Double], Option[Int])].collect().head
    assert(gN == got, s"$gN vs $got")
  }

  test("chrF: hand-checked effective-order means, identical pair reads " +
      "1.0, whitespace is invisible, empty side NULL") {
    // ref "ab cd" → chars abcd; cand "ab". n=1: m=2 t=2 tr=4; n=2:
    // "ab" matches → m=1 t=1 tr=3; n=3: tr=2 m=0; n=4: tr=1 m=0.
    // P = mean(1, 1) = 1; R = mean(1/2, 1/3, 0, 0) = 0.208333...;
    // chrF2 = 5PR/(4P+R)
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val got = TextAnalysis.chrF(
      Seq((1L, "ab cd", "ab")).toDF("id", "ref", "cand"),
      "id", "ref", "cand")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    val r = (0.5 + 1.0 / 3 + 0.0 + 0.0) / 4
    val f = 5.0 * 1.0 * r / (4.0 * 1.0 + r)
    assert(got == ((1L, 2L, 4L, Some(1.0), Some(q6(r)), Some(q6(f)))), got)
    // identical text (and whitespace differences) score exactly 1.0
    val same = TextAnalysis.chrF(
      Seq((1L, "the quick fox", "thequick  fox")).toDF("id", "ref", "cand"),
      "id", "ref", "cand")
      .select("chrf").as[Option[Double]].collect().head
    assert(same.contains(1.0), same)
    // an empty side: metrics NULL, lengths still reported
    val empty = TextAnalysis.chrF(
      Seq((1L, "abc", "")).toDF("id", "ref", "cand"), "id", "ref", "cand")
      .as[(Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(empty == ((1L, 0L, 3L, None, None, None)), empty)
  }

  test("rougeN: hand-checked clipped bigram recall, repeats clip, " +
      "short sides drop out") {
    // ref "a b a b c" bigrams: ab, ba, ab, bc; cand "a b a b a b"
    // bigrams: ab×3, ba×2 → clipped: min(3,2)+min(2,1) = 3.
    // P = 3/5, R = 3/4
    val got = TextAnalysis.rougeN(
      Seq((1L, "a b a b c", "a b a b a b")).toDF("id", "ref", "cand"),
      "id", "ref", "cand", n = 2)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().head
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val (p, r) = (3.0 / 5, 3.0 / 4)
    assert(got == ((1L, 3L, 5L, 4L, q6(p), q6(r),
      q6(2.0 * p * r / (p + r)))), got)
    // a one-token candidate has no bigrams → no row; zero overlap → 0.0
    val edge = TextAnalysis.rougeN(
      Seq((1L, "a b", "x"), (2L, "a b", "x y")).toDF("id", "ref", "cand"),
      "id", "ref", "cand", n = 2)
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(edge.length == 1 && edge.head._1 == 2L &&
      edge.head._2 == 0L && edge.head._7 == 0.0, edge.toSeq)
  }

  test("rougeL: hand-checked LCS, random parity vs a sequential DP, " +
      "zero-overlap F = 0, empty sides emit no row") {
    // ref "a b c d", cand "a c b d": LCS = 3 ("a b d" or "a c d")
    val got = TextAnalysis.rougeL(
      Seq((1L, "a b c d", "a c b d")).toDF("id", "ref", "cand"),
      "id", "ref", "cand")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect().head
    assert(got._2 == 3L && got._3 == 4L && got._4 == 4L)
    assert(got._5 == 0.75 && got._6 == 0.75 && got._7 == 0.75, got)
    // random corpora vs an in-test sequential DP
    val rnd = new scala.util.Random(19)
    def sent() = Seq.fill(3 + rnd.nextInt(20))(
      ('a' + rnd.nextInt(5)).toChar.toString).mkString(" ")
    val pairs = (0L until 60L).map(i => (i, sent(), sent()))
    def lcsRef(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i)(j - 1), dp(i - 1)(j))
      dp(a.length)(b.length)
    }
    val g2 = TextAnalysis.rougeL(pairs.toDF("id", "ref", "cand"),
      "id", "ref", "cand")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    pairs.foreach { case (i, ref, cand) =>
      val want = lcsRef(cand.split(" ").toSeq, ref.split(" ").toSeq)
      assert(g2(i) == want, s"pair $i: ${g2(i)} vs $want")
    }
    // zero overlap: F defined as 0.0; empty candidate: no row
    val edge = TextAnalysis.rougeL(
      Seq((1L, "a b", "x y"), (2L, "a b", "")).toDF("id", "ref", "cand"),
      "id", "ref", "cand")
      .as[(Long, Long, Long, Long, Double, Double, Double)].collect()
    assert(edge.length == 1 && edge.head._1 == 1L &&
      edge.head._2 == 0L && edge.head._7 == 0.0, edge.toSeq)
  }

  test("ter: hand-checked shift-free edits, random parity vs a " +
      "sequential Levenshtein DP, empty-side conventions") {
    def run(rows: Seq[(Long, String, String)]) =
      TextAnalysis.ter(rows.toDF("id", "ref", "cand"), "id", "ref", "cand")
        .as[(Long, Long, Long, Long, Double)].collect()
    // cand "a x c" vs ref "a b c d": substitute x→b, insert d → 2 edits
    assert(run(Seq((1L, "a b c d", "a x c"))).head ==
      ((1L, 2L, 3L, 4L, 0.5)))
    // identical → 0 edits
    assert(run(Seq((1L, "a b c", "a b c"))).head == ((1L, 0L, 3L, 3L, 0.0)))
    // SHIFT-FREE (the documented divergence from full TER): an adjacent
    // transposition costs 2 (two substitutions), not 1 shift
    assert(run(Seq((1L, "a b", "b a"))).head == ((1L, 2L, 2L, 2L, 1.0)))
    // empty candidate = r_len straight edits, ter = 1; empty ref = no row
    assert(run(Seq((1L, "a b", ""))).head == ((1L, 2L, 0L, 2L, 1.0)))
    assert(run(Seq((1L, "", "a b"))).isEmpty)
    // candidate longer than the reference can exceed 1
    assert(run(Seq((1L, "a", "x y z"))).head._5 == 3.0)
    // random corpora vs an in-test sequential Levenshtein DP
    val rnd = new scala.util.Random(31)
    def sent() = Seq.fill(1 + rnd.nextInt(18))(
      ('a' + rnd.nextInt(4)).toChar.toString).mkString(" ")
    val pairs = (0L until 60L).map(i => (i, sent(), sent()))
    def levRef(a: Seq[String], b: Seq[String]): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1),
          math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1))
      dp(a.length)(b.length)
    }
    val got = run(pairs).map(r => r._1 -> r._2).toMap
    pairs.foreach { case (i, ref, cand) =>
      val want = levRef(cand.split(" ").toSeq, ref.split(" ").toSeq)
      assert(got(i) == want, s"pair $i: ${got(i)} vs $want")
    }
  }

  test("rougeL, rougeN and ter stream stateless-append: MemoryStream " +
      "batches = batch rows (the dsirScores twin discipline)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq((1L, "a b c d", "a c b d"), (2L, "a b", "x y"),
      (3L, "q r s t u", "q s u"), (4L, "m n", ""))
    def twin(mkDf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        streamId: Int): Unit = {
      val in = MemoryStream[(Long, String, String)](streamId, spark, None)
      val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
      val q = mkDf(in.toDF().toDF("id", "ref", "cand"))
        .writeStream.outputMode("append").foreachBatch {
          (b: org.apache.spark.sql.DataFrame, _: Long) =>
            out ++= b.collect(); ()
        }.start()
      try {
        in.addData(rows.take(2)); q.processAllAvailable()
        in.addData(rows.drop(2)); q.processAllAvailable()
      } finally q.stop()
      val batch = mkDf(rows.toDF("id", "ref", "cand")).collect()
      assert(out.sortBy(_.getLong(0)).map(_.toSeq).toSeq ==
        batch.sortBy(_.getLong(0)).map(_.toSeq).toSeq)
    }
    twin(df => TextAnalysis.rougeL(df, "id", "ref", "cand"), 971)
    twin(df => TextAnalysis.ter(df, "id", "ref", "cand"), 972)
    // round 12: the kernel-clip rougeN is a pure scan too — the old
    // explode + count + full-join plan could not append-stream
    twin(df => TextAnalysis.rougeN(df, "id", "ref", "cand", n = 2), 973)
    twin(df => TextAnalysis.bleuSentence(df, "id", "ref", "cand"), 974)
  }

  test("bleuSentence: hand-checked BLEU+1 smoothing, zero-unigram 0.0, " +
      "perfect pair 1.0, empty-side conventions; chrFpp: hand-checked " +
      "pooled char+word means, identical pair reads 1.0") {
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    def runB(rows: Seq[(Long, String, String)]) =
      TextAnalysis.bleuSentence(rows.toDF("id", "ref", "cand"),
          "id", "ref", "cand")
        .as[(Long, Long, Long, Option[Double])].collect()
    // identical pair: every level p = 1 (smoothed levels (m+1)/(t+1)
    // = 1 too), bp = 0 → 1.0
    assert(runB(Seq((1L, "a b c d e", "a b c d e"))).head ==
      ((1L, 5L, 5L, Some(1.0))))
    // cand "a b x" vs ref "a b c": p1 = 2/3; bigrams cand {ab, bx},
    // ref {ab, bc} → m2 = 1, p2 = (1+1)/(2+1); trigrams m3 = 0, t3 = 1
    // → 1/2; 4-grams none → 1/1; bp = 0 (equal lengths)
    val got = runB(Seq((1L, "a b c", "a b x"))).head
    val want = math.rint(math.exp(
      (q6(math.log(2.0 / 3)) + q6(math.log(2.0 / 3)) +
        q6(math.log(0.5)) + q6(math.log(1.0))) / 4) * 1e4) / 1e4
    assert(got == ((1L, 3L, 3L, Some(want))), s"$got vs $want")
    // zero unigram overlap → 0.0; empty cand → NULL; empty ref → no row
    assert(runB(Seq((1L, "a b", "x y"))).head._4.contains(0.0))
    assert(runB(Seq((1L, "a b", ""))).head._4.isEmpty)
    assert(runB(Seq((1L, "", "a b"))).isEmpty)
    // chrFpp on the chrF hand fixture "ab cd" vs "ab": char levels as
    // in the chrF spec (P-parts 1,1; R-parts 1/2,1/3,0,0 over rl=4
    // grams at n<=4... with maxN=6 levels 5,6 have no ref grams), word
    // levels: unigrams m=1/t=1 (P 1) over ref 2 (R 1/2); bigrams ref
    // only (R 0). Pooled P = mean(1,1,1) = 1;
    // R = mean(1/2, 1/3, 0, 0, 1/2, 0) = 4/18
    val pp = TextAnalysis.chrFpp(
      Seq((1L, "ab cd", "ab")).toDF("id", "ref", "cand"),
      "id", "ref", "cand")
      .as[(Long, Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    val r = (0.5 + 1.0 / 3 + 0.5) / 6
    val f = 5.0 * 1.0 * r / (4.0 * 1.0 + r)
    assert(pp == ((1L, 2L, 4L, 1L, 2L, Some(1.0), Some(q6(r)), Some(q6(f)))),
      pp)
    // identical text scores exactly 1.0 on both gram families
    val same = TextAnalysis.chrFpp(
      Seq((1L, "the quick fox", "the quick fox")).toDF("id", "ref", "cand"),
      "id", "ref", "cand").select("chrfpp").as[Option[Double]].collect().head
    assert(same.contains(1.0), same)
  }

  test("char_ngram_counts kernel ≡ the regexp extraction path on " +
      "500 random docs, codepoint-safe, first-occurrence order") {
    import graft.functions.ArrayKernels
    // astral char included: the kernel must slice codepoints, not
    // UTF-16 units (the chrF '(?s).' semantics)
    val alphabet = Seq("a", "b", "c", "é", "😀")
    val rnd = new scala.util.Random(41)
    def doc() = Seq.fill(rnd.nextInt(40))(
      alphabet(rnd.nextInt(alphabet.length))).mkString
    val docs = (0L until 500L).map(i => (i, doc()))
    def refCounts(s: String, n: Int): Map[String, Long] = {
      val cps = {
        val b = Vector.newBuilder[String]; var i = 0
        while (i < s.length) {
          val cc = Character.charCount(s.codePointAt(i))
          b += s.substring(i, i + cc); i += cc
        }
        b.result()
      }
      cps.sliding(n).filter(_.length == n).map(_.mkString).toSeq
        .groupBy(identity).map { case (g, o) => g -> o.length.toLong }
    }
    for (n <- Seq(1, 2, 3, 6)) {
      val got = docs.toDF("id", "s")
        .select($"id", ArrayKernels.char_ngram_counts($"s", n).as("e"))
        .as[(Long, Seq[(String, Long)])].collect().toMap
      docs.foreach { case (i, s) =>
        assert(got(i).toMap == refCounts(s, n), s"doc $i n=$n")
        // entries arrive in first-occurrence order and collapse repeats
        assert(got(i).map(_._1).distinct == got(i).map(_._1), s"doc $i dup")
      }
    }
    // chrF itself is unchanged by the kernel path: the identical-pair
    // and hand-checked rows still read exactly as before (regression
    // anchors beside the dedicated chrF suite)
    val same = TextAnalysis.chrF(
      Seq((1L, "xy ab", "xyab")).toDF("id", "ref", "cand"),
      "id", "ref", "cand").select("chrf").as[Option[Double]].collect().head
    assert(same.contains(1.0), same)
  }

  test("per-pair eval metrics stay zero-exchange (kernel-clip plan fence)") {
    // the round-12 rework's whole point: rougeN/rougeL/ter/bleuSentence
    // are pure scan stages — a regression that reintroduces a gram
    // shuffle (or any exchange) should fail loudly, not ship as a
    // silent 10x at scale
    val df = Seq((1L, "a b c d", "a b x")).toDF("id", "ref", "cand")
    def plan(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.executedPlan.toString
    Seq(
      "rougeN" -> TextAnalysis.rougeN(df, "id", "ref", "cand", n = 2),
      "rougeL" -> TextAnalysis.rougeL(df, "id", "ref", "cand"),
      "ter" -> TextAnalysis.ter(df, "id", "ref", "cand"),
      "bleuSentence" -> TextAnalysis.bleuSentence(df, "id", "ref", "cand")
    ).foreach { case (name, d) =>
      assert(!plan(d).contains("Exchange"), s"$name plan gained an exchange")
    }
  }

  test("token_ngram_counts + gram_clip_stats ≡ the explode/count/clip " +
      "path on 300 random token pairs") {
    import graft.functions.ArrayKernels
    val rnd = new scala.util.Random(43)
    def sent(n: Int) = Seq.fill(rnd.nextInt(n))(
      ('a' + rnd.nextInt(4)).toChar.toString)
    val pairs = (0L until 300L).map(i => (i, sent(25), sent(25)))
    def refStats(c: Seq[String], r: Seq[String], n: Int): (Long, Long, Long) = {
      def counts(t: Seq[String]) = t.sliding(n).filter(_.length == n)
        .map(_.mkString(" ")).toSeq.groupBy(identity)
        .map { case (g, o) => g -> o.length.toLong }
      val (cc, rc) = (counts(c), counts(r))
      val m = cc.map { case (g, k) => math.min(k, rc.getOrElse(g, 0L)) }.sum
      (m, cc.values.sum, rc.values.sum)
    }
    for (n <- Seq(1, 2, 4)) {
      val got = pairs.toDF("id", "cand", "ref")
        .select($"id", ArrayKernels.gram_clip_stats(
          ArrayKernels.token_ngram_counts($"cand", n),
          ArrayKernels.token_ngram_counts($"ref", n)).as("s"))
        .select($"id", $"s.m", $"s.t", $"s.tr")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      pairs.foreach { case (i, c, r) =>
        assert(got(i) == refStats(c, r, n), s"pair $i n=$n")
      }
    }
    // and the composed surface: bleuScore on a known pair — cand
    // "a b a" vs ref "a b c": p1 = 2/3 clipped ('a' clips at 1... no:
    // ref has one 'a', cand two → min(2,1)=1, plus 'b' → m1 = 2 of 3;
    // p2: cand bigrams {a b, b a}, ref {a b, b c} → 1 of 2
    val one = TextAnalysis.bleuScore(
      Seq((1L, "a b c", "a b a")).toDF("id", "ref", "cand"),
      "id", "ref", "cand", maxN = 2)
      .select("c_len", "r_len", "p1", "p2")
      .as[(Long, Long, Option[Double], Option[Double])].collect().head
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(one == ((3L, 3L, Some(q6(2.0 / 3)), Some(0.5))), one)
  }

  test("bleuByGroup ≡ bleuScore run per group, zero-match and " +
      "empty-group conventions included") {
    val rnd = new scala.util.Random(23)
    def sent() = Seq.fill(4 + rnd.nextInt(15))(
      ('a' + rnd.nextInt(4)).toChar.toString).mkString(" ")
    val pairs = (0L until 60L).map(i => (i, s"g${i % 3}", sent(), sent()))
    val df = pairs.toDF("id", "g", "ref", "cand")
    val grouped = TextAnalysis.bleuByGroup(df, "g", "id", "ref", "cand")
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(grouped.keySet == Set("g0", "g1", "g2"))
    Seq("g0", "g1", "g2").foreach { g =>
      val corpus = TextAnalysis.bleuScore(df.where($"g" === g),
        "id", "ref", "cand")
        .select("n_pairs", "c_len", "r_len", "bleu")
        .as[(Long, Long, Long, Option[Double])].collect().head
      assert(grouped(g)._2 == corpus._1 && grouped(g)._3 == corpus._2 &&
        grouped(g)._4 == corpus._3 && grouped(g)._5 == corpus._4,
        s"$g: ${grouped(g)} vs $corpus")
    }
    // a group whose candidates are all empty reads NULL like the
    // corpus form
    val withEmpty = TextAnalysis.bleuByGroup(
      (pairs :+ (99L, "g9", "a b c", "")).toDF("id", "g", "ref", "cand"),
      "g", "id", "ref", "cand")
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r._5).toMap
    assert(withEmpty("g9").isEmpty)
    // the SAME item ids recur in every group (per-model-variant evals):
    // reference counts must stay group-scoped — pooled refs would
    // inflate clipping (id 1 in vA: cand 'a a' vs ref 'a b' must clip
    // 'a' at the ONE ref occurrence, p1 = 1/2, regardless of vB's copy
    // of the same ref)
    val variants = Seq(
      (1L, "vA", "a b", "a a"), (2L, "vA", "c d", "c d"),
      (1L, "vB", "a b", "a b"), (2L, "vB", "c d", "x y"))
      .toDF("id", "g", "ref", "cand")
    val perVariant = TextAnalysis.bleuByGroup(variants, "g", "id",
      "ref", "cand", maxN = 1)
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r._5).toMap
    Seq("vA", "vB").foreach { v =>
      val solo = TextAnalysis.bleuScore(variants.where($"g" === v),
        "id", "ref", "cand", maxN = 1)
        .select("bleu").as[Option[Double]].collect().head
      assert(perVariant(v) == solo, s"$v: ${perVariant(v)} vs $solo")
    }
    // vA concretely: clipped unigrams = 1 ('a' once) + 2 ('c d') = 3/4
    assert(perVariant("vA").contains(0.75), perVariant)
  }

  test("lm counts: merge ≡ rebuild; add-k perplexity matches the " +
      "sequential reference incl. OOV and unseen-context events") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val d1 = Seq((1L, "a b a b a c", "en")).toDF("doc_id", "text", "lang")
    val d2 = Seq((2L, "b a c a", "en")).toDF("doc_id", "text", "lang")
    val all = d1.unionByName(d2)
    val merged = TextAnalysis.lmMerge(TextAnalysis.lmCounts(d1), d2)
    assert(merged.as[(String, String, Long)].collect().toSet ==
      TextAnalysis.lmCounts(all).as[(String, String, Long)].collect().toSet)
    // model on d1: (a,b):2 (b,a):2 (a,c):1; ctx a:3 b:2; V+1 = 4.
    // score "a b d": ln(2.5/5) and OOV ln(0.5/4); "d a": unseen ctx
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    def q4(x: Double) = math.rint(x * 1e4) / 1e4
    val score = Seq((9L, "a b d", "en"), (10L, "d a", "en"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.lmPerplexity(score, TextAnalysis.lmCounts(d1))
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    val ce9 = q4(-(q6(math.log(2.5 / 5)) + q6(math.log(0.5 / 4))) / 2)
    assert(got(9L) == ((9L, 2L, ce9, q4(math.exp(ce9)))), got(9L))
    val ce10 = q4(-q6(math.log(0.5 / 2.0))) // unseen ctx: (0+.5)/(0+2)
    assert(got(10L) == ((10L, 1L, ce10, q4(math.exp(ce10)))), got(10L))
    // streaming twin: batches fold to the rebuild
    var standing = TextAnalysis.lmCounts(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang"))
      .localCheckpoint()
    val in = MemoryStream[(Long, String, String)](94, spark, None)
    val q = Sinks.eachBatch(in.toDF().toDF("doc_id", "text", "lang")) { b =>
      standing = TextAnalysis.lmMerge(standing, b).localCheckpoint()
    }.start()
    try {
      in.addData(Seq((1L, "a b a b a c", "en"))); q.processAllAvailable()
      in.addData(Seq((2L, "b a c a", "en"))); q.processAllAvailable()
    } finally q.stop()
    assert(standing.as[(String, String, Long)].collect().toSet ==
      TextAnalysis.lmCounts(all).as[(String, String, Long)].collect().toSet)
  }

  test("calibrationError: hand-checked ECE/MCE over occupied bins") {
    import graft.ops.TextAnalysis
    // bin 1: (.05,0)x2 → |Σs−Σy| = .1; bin 9: (.85,1),(.85,0) → .7;
    // bin 10: (.95,1) → .05 ⇒ ECE = .85/5 = .17, MCE = |.85−.5| = .35
    val scored = Seq((0.05, 0), (0.05, 0), (0.85, 1), (0.85, 0),
      (0.95, 1)).toDF("s", "y")
    val got = TextAnalysis.calibrationError(scored, "s", "y")
      .as[(Long, Long, Double, Double)].collect().head
    assert(got == ((5L, 3L, 0.17, 0.35)), got)
  }

  test("qaEval: hand EM/F1, unscoreable pairs leave the denominator, " +
      "per-pair F1 equals rougeN n=1") {
    import graft.ops.TextAnalysis
    val pairs = Seq(
      (1L, "the cat sat", "the cat sat"),     // EM 1, F1 1
      (2L, "a b c d", "a b x y"),             // EM 0, F1 2*(2/4)*(2/4)/1 = .5
      (3L, "only gold", ""),                  // pred empty: not scoreable
      (4L, "w w z", "w q w")                  // dup clip: m=2, F1 = 2/3
    ).toDF("doc_id", "gold", "pred")
    val got = TextAnalysis.qaEval(pairs, "doc_id", "gold", "pred")
      .as[(Long, Double, Double)].collect().head
    // n=3 scoreable; EM = 1/3 = .3333; F1 = (1 + .5 + .666667)/3 = .7222
    assert(got._1 == 3L && got._2 == 0.3333, got)
    assert(got._3 == math.rint((1.0 + 0.5 + 0.666667) / 3 * 1e4) / 1e4, got)
  }

  test("qaDict: merge ≡ rebuild, FromDict ≡ qaEval, the serve twin folds " +
      "micro-batches to the same standing dictionary") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.ops.TextAnalysis
    val rnd = new scala.util.Random(43)
    val words = Seq("a", "b", "c", "d", "e")
    val all = (0L until 60L).map { i =>
      val gold = Seq.fill(3 + rnd.nextInt(3))(words(rnd.nextInt(5)))
      val pred = if (rnd.nextInt(6) == 0) ""
        else gold.map(w => if (rnd.nextInt(4) == 0) "zz" else w).mkString(" ")
      (i, gold.mkString(" "), pred)
    }
    val df = all.toDF("doc_id", "gold", "pred")
    val (a, b) = all.splitAt(35)
    val merged = TextAnalysis.qaDictMerge(
      TextAnalysis.qaDict(a.toDF("doc_id", "gold", "pred"),
        "doc_id", "gold", "pred"),
      b.toDF("doc_id", "gold", "pred"), "doc_id", "gold", "pred")
      .localCheckpoint()
    val full = TextAnalysis.qaDict(df, "doc_id", "gold", "pred")
      .localCheckpoint()
    assert(merged.as[(Long, Long, Long)].collect().toSeq ==
      full.as[(Long, Long, Long)].collect().toSeq)
    // the dict scorecard agrees with the one-shot qaEval on the fixture
    val fd = TextAnalysis.qaEvalFromDict(full)
      .as[(Long, Option[Double], Option[Double])].collect().head
    val qe = TextAnalysis.qaEval(df, "doc_id", "gold", "pred")
      .as[(Long, Double, Double)].collect().head
    assert(fd == ((qe._1, Some(qe._2), Some(qe._3))), (fd, qe))
    // streaming: micro-batches fold to the same standing dictionary
    var standing = TextAnalysis.qaDict(
      Seq.empty[(Long, String, String)].toDF("doc_id", "gold", "pred"),
      "doc_id", "gold", "pred").localCheckpoint()
    val in = MemoryStream[(Long, String, String)](73, spark, None)
    val q = Sinks.eachBatch(in.toDF().toDF("doc_id", "gold", "pred")) { b =>
      standing = TextAnalysis.qaDictMerge(standing, b, "doc_id", "gold", "pred")
        .localCheckpoint()
    }.start()
    try {
      all.grouped(20).foreach { g => in.addData(g); q.processAllAvailable() }
    } finally q.stop()
    assert(standing.as[(Long, Long, Long)].collect().toSeq ==
      full.as[(Long, Long, Long)].collect().toSeq)
    // empty dictionary: n = 0 ⇒ NULL metrics, not NaNs
    val empty = TextAnalysis.qaEvalFromDict(TextAnalysis.qaDict(
      Seq.empty[(Long, String, String)].toDF("doc_id", "gold", "pred"),
      "doc_id", "gold", "pred"))
      .as[(Long, Option[Double], Option[Double])].collect().head
    assert(empty == ((0L, None, None)), empty)
  }

  test("bleuScoreMulti: single reference reduces exactly to bleuScore; " +
      "per-gram max licensing and closest-length BP") {
    import graft.ops.TextAnalysis
    val pairs = Seq(
      (1L, "a b c d", "a b x d", "a b x d"),
      (2L, "p q r s t", "p q r z t", "p q r s"))
      .toDF("doc_id", "ref", "ref2", "cand")
    // single-ref multi ≡ bleuScore, column for column
    val single = TextAnalysis.bleuScoreMulti(pairs, "doc_id", Seq("ref"),
      "cand").collect().head
    val classic = TextAnalysis.bleuScore(pairs, "doc_id", "ref", "cand")
      .collect().head
    assert(single == classic, (single, classic))
    // with ref2: pair 1's cand IS ref2 → every gram licensed; pair 2's
    // "r z t" grams only ref2 licenses. Both refs same length per pair
    // → r_len unchanged from the closest-length rule
    val multi = TextAnalysis.bleuScoreMulti(pairs, "doc_id",
      Seq("ref", "ref2"), "cand")
      .as[(Long, Long, Long, Double, Double, Double, Double, Double)]
      .collect().head
    assert(multi._4 == 1.0, multi) // p1: every cand token licensed
    val classicBleu = classic.getDouble(7)
    assert(multi._8 > classicBleu, (multi._8, classicBleu))
    // a cand exactly equal to one full reference scores bleu 1.0
    val perfect = TextAnalysis.bleuScoreMulti(
      Seq((1L, "a b c d e", "a b x d e", "a b x d e"))
        .toDF("doc_id", "ref", "ref2", "cand"),
      "doc_id", Seq("ref", "ref2"), "cand").collect().head
    assert(perfect.getDouble(7) == 1.0, perfect)
  }

  test("permTestPaired: identical systems give p = 1, a dominant system " +
      "hits the add-one floor, empty frame reports NULLs") {
    import graft.ops.TextAnalysis
    val same = (0L until 50L).map(i => (i, 0.5 + i * 0.01, 0.5 + i * 0.01))
      .toDF("id", "ma", "mb")
    val g1 = TextAnalysis.permTestPaired(same, "id", "ma", "mb",
      replicas = 50).as[(Long, Int, Option[Double], Option[Double])]
      .collect().head
    assert(g1 == ((50L, 50, Some(0.0), Some(1.0))), g1)
    // b dominates by 1.0 on every item: no sign-flip mean can reach
    // |Δ_obs| = 1 (that needs every coin identical), so p = 1/(R+1)
    val dom = (0L until 100L).map(i => (i, 0.0, 1.0)).toDF("id", "ma", "mb")
    val g2 = TextAnalysis.permTestPaired(dom, "id", "ma", "mb",
      replicas = 99).as[(Long, Int, Option[Double], Option[Double])]
      .collect().head
    assert(g2 == ((100L, 99, Some(1.0), Some(0.01))), g2)
    val empty = TextAnalysis.permTestPaired(
      Seq.empty[(Long, Double, Double)].toDF("id", "ma", "mb"),
      "id", "ma", "mb", replicas = 10)
      .as[(Long, Int, Option[Double], Option[Double])].collect().head
    assert(empty == ((0L, 10, None, None)), empty)
  }
}
