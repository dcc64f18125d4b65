package graft

import graft.ops.Retrieval
import graft.sources.Sinks

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "spark streams join fast joins spark spark"),
    (2L, "flink streams windows"),
    (3L, "spark joins tables"),
    (4L, "completely unrelated text"))
    .toDF("doc_id", "text")

  test("postings: one row per (token, doc) with exact tf and doc length") {
    val got = Retrieval.postings(docs)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got.contains(("spark", 1L, 3L, 7L))) // tf counts repeats; dl = 7 tokens
    assert(got.contains(("joins", 3L, 1L, 3L)))
    assert(!got.exists(_._1 == "")) // tokenizer never emits empties
  }

  test("searchAll returns exactly the docs containing every term") {
    val got = Retrieval.searchAll(docs, Seq("spark", "joins"))
      .as[Long].collect().toSet
    assert(got == Set(1L, 3L))
    // a term nobody has ⇒ empty, not error
    assert(Retrieval.searchAll(docs, Seq("spark", "nosuch")).count() == 0L)
    // raw user input is normalized like the corpus tokens — capitalized
    // or punctuated queries must not silently match nothing
    val raw = Retrieval.searchAll(docs, Seq("Spark, JOINS!"))
      .as[Long].collect().toSet
    assert(raw == Set(1L, 3L), raw.toString)
  }

  test("bm25 matches the hand-computed Robertson score") {
    val got = Retrieval.bm25(docs, Seq("spark"), k1 = 1.2, b = 0.75)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // corpus stats: N=4, dl = (7,3,3,3), avgdl = 4.0; df(spark)=2
    val idf = math.log(1 + (4 - 2 + 0.5) / (2 + 0.5))
    def s(tf: Double, dl: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 4.0))
    assert(got.keySet == Set(1L, 3L))
    assert(math.abs(got(1L) - s(3, 7)) < 1e-3, got.toString)
    assert(math.abs(got(3L) - s(1, 3)) < 1e-3, got.toString)
    // higher tf at comparable length ranks higher
    assert(got(1L) > got(3L))
  }

  test("bm25: rarer terms contribute more (idf ordering)") {
    val corpus = (1L to 20L).map { i =>
      val rare = if (i == 1) " needle" else ""
      (i, s"common words everywhere$rare")
    }.toDF("doc_id", "text")
    val gotRare = Retrieval.bm25(corpus, Seq("needle"))
      .as[(Long, Long, Double)].collect().head._3
    val gotCommon = Retrieval.bm25(corpus, Seq("common"))
      .as[(Long, Long, Double)].collect().map(_._3).max
    assert(gotRare > gotCommon, s"$gotRare vs $gotCommon")
  }

  test("standing postings index: lookup is a bucketed read, no exchange") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_idx_test_postings_b8")
    val idx = Retrieval.postingsIndex(docs, "ret_idx_test")
    val got = Retrieval.lookup(idx, "spark")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got == Map(1L -> 3L, 3L -> 1L))
    // token-grouped aggregation rides the bucketing — no Exchange
    val dfAgg = idx.groupBy("token").count()
    val plan = dfAgg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("bm25FromIndex: identical rows to bm25, zero corpus access at query time") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_bm25_test_postings_b8")
    IndexTables.drop(spark, "ret_bm25_test_stats")
    val idx = Retrieval.postingsIndex(docs, "ret_bm25_test")
    val stats = Retrieval.corpusStats(docs, "ret_bm25_test")
    val terms = Seq("spark", "joins")
    val fromIdx = Retrieval.bm25FromIndex(idx, stats, terms)
    val direct = Retrieval.bm25(docs, terms)
      .as[(Long, Long, Double)].collect().toSet
    assert(fromIdx.as[(Long, Long, Double)].collect().toSet == direct)
    assert(direct.nonEmpty)
    // the query-serving plan reads ONLY the two persisted tables: the
    // in-memory docs frame (a LocalTableScan) must not appear, and no
    // tokenization (the corpus-scan fingerprint) survives into the plan
    val plan = fromIdx.queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), s"corpus scan in plan:\n$plan")
    // bucket pruning: the IN-filter on the bucketing column reaches the
    // index scan ("SelectedBucketsCount" appears when buckets are pruned)
    assert(plan.contains("SelectedBucketsCount"), s"no bucket pruning:\n$plan")
  }

  test("bm25TopK: deterministic (score, id) head via TakeOrdered, no global sort") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_topk_test_postings_b8")
    IndexTables.drop(spark, "ret_topk_test_stats")
    val idx = Retrieval.postingsIndex(docs, "ret_topk_test")
    val stats = Retrieval.corpusStats(docs, "ret_topk_test")
    val top2 = Retrieval.bm25TopK(idx, stats, Seq("spark", "joins"), k = 2)
    val all = Retrieval.bm25FromIndex(idx, stats, Seq("spark", "joins"))
      .as[(Long, Long, Double)].collect()
      .sortBy { case (id, _, score) => (-score, id) }.take(2).toSeq
    assert(top2.as[(Long, Long, Double)].collect().toSeq == all)
    val plan = top2.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrdered"), s"expected TakeOrdered:\n$plan")
  }

  test("corpusStats counts zero-token docs toward N and avgdl, like bm25") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_stats_test_stats")
    val withEmpty = docs.union(Seq((5L, "!!! ...")).toDF("doc_id", "text"))
    val got = Retrieval.corpusStats(withEmpty, "ret_stats_test")
      .as[(Long, Double)].collect().head
    assert(got._1 == 5L)          // N includes the zero-token doc
    assert(got._2 == 16.0 / 5.0)  // dl = (7,3,3,3,0)
  }

  test("bm25 plan: df and stats broadcast; no corpus text in any exchange") {
    val plan = Retrieval.bm25(docs, Seq("spark", "joins"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.toLowerCase.contains("exchange hashpartitioning(text"),
      plan)
  }

  test("bm25TopKAll: batch-of-queries serving matches per-query bm25FromIndex") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_batchq_test_postings_b8")
    IndexTables.drop(spark, "ret_batchq_test_stats")
    val idx = Retrieval.postingsIndex(docs, "ret_batchq_test")
    val stats = Retrieval.corpusStats(docs, "ret_batchq_test")
    val queries = Seq((10L, "Spark, JOINS!"), (20L, "flink streams"),
      (30L, "nosuchzz")).toDF("query_id", "query")
    val got = Retrieval.bm25TopKAll(idx, stats, queries, k = 2)
    val rows = got.as[(Long, Long, Long, Double, Int)].collect()
    // per query, the rows equal the single-query serving path's ranked head
    for ((qid, terms) <- Seq(10L -> Seq("spark", "joins"),
        20L -> Seq("flink", "streams"))) {
      val expect = Retrieval.bm25FromIndex(idx, stats, terms)
        .as[(Long, Long, Double)].collect()
        .sortBy { case (id, _, s) => (-s, id) }.take(2)
        .zipWithIndex.map { case ((id, nt, s), i) => (qid, id, nt, s, i + 1) }
        .toSeq
      assert(rows.filter(_._1 == qid).sortBy(_._5).toSeq == expect, qid.toString)
    }
    // vocabulary-miss query: no rows, not an error
    assert(!rows.exists(_._1 == 30L))
    // plan: bucket-pruned index scan; the corpus text never appears
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), s"no bucket pruning:\n$plan")
    assert(!plan.contains("text#"), s"corpus text in serving plan:\n$plan")
    // empty / all-symbol batches: empty result with the contract schema
    val none = Retrieval.bm25TopKAll(idx, stats,
      Seq((1L, "!!! ...")).toDF("query_id", "query"), k = 2)
    assert(none.count() == 0L && none.columns.toSeq ==
      Seq("query_id", "doc_id", "n_terms", "score", "rank"))
  }

  test("bm25Serve: streaming query batches score identically to the batch path") {
    import graft.ops.IndexTables
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    IndexTables.drop(spark, "ret_serve_test_postings_b8")
    IndexTables.drop(spark, "ret_serve_test_stats")
    val idx = Retrieval.postingsIndex(docs, "ret_serve_test")
    val stats = Retrieval.corpusStats(docs, "ret_serve_test")
    val in = MemoryStream[(Long, String)](44, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double, Int)]()
    val q = Sinks.eachBatch(in.toDF().toDF("query_id", "query")) { b =>
      out ++= Retrieval.bm25TopKAll(idx, stats, b, k = 2)
        .as[(Long, Long, Long, Double, Int)].collect()
    }.start()
    try {
      in.addData((10L, "Spark, JOINS!"))
      q.processAllAvailable()
      in.addData((20L, "flink streams"), (30L, "nosuchzz"))
      q.processAllAvailable()
    } finally q.stop()
    val batch = Retrieval.bm25TopKAll(idx, stats,
      Seq((10L, "Spark, JOINS!"), (20L, "flink streams"), (30L, "nosuchzz"))
        .toDF("query_id", "query"), k = 2)
      .as[(Long, Long, Long, Double, Int)].collect()
    assert(out.toSet == batch.toSet && out.nonEmpty)
  }

  test("lexicalHardNegatives excludes self and exact dups BEFORE ranking") {
    import graft.ops.TextAnalysis
    val corpus = Seq(
      (1L, "spark streams join fast"),
      (2L, "spark streams join fast"),     // exact dup of 1 — false negative
      (3L, "spark streams join slow"),     // high overlap, NOT a dup → wanted
      (4L, "spark tables"),                // some overlap
      (5L, "completely unrelated words"))  // no overlap with query 1
      .toDF("doc_id", "text")
    val idx = Retrieval.postingsIndex(corpus, "ret_lexneg_test")
    val stats = Retrieval.corpusStats(corpus, "ret_lexneg_test")
    val got = Retrieval.lexicalHardNegatives(idx, stats,
        corpus.where($"doc_id" === 1).select("doc_id", "text"),
        TextAnalysis.fingerprints(corpus), k = 3)
      .as[(Long, Long, Long, Double, Int)].collect().sortBy(_._5).toSeq
    // neither the query doc nor its exact copy may appear; the top
    // negative is the near-miss doc 3, and k fills from the REMAINING
    // candidates (doc 4; doc 5 shares no term so never scores)
    assert(got.map(_._2) == Seq(3L, 4L), got)
    assert(got.head._4 > got(1)._4) // doc 3 outranks doc 4
  }

  test("knownItemEval: exact MRR/recall arithmetic, dup docs tie to the lower id") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_kie_test_postings_b8")
    IndexTables.drop(spark, "ret_kie_test_stats")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon unique tail one"),
      (2L, "zeta eta theta iota kappa second doc tail"),
      (3L, "alpha beta gamma delta epsilon unique tail one"), // exact dup of 1
      (4L, "lambda mu nu xi omicron completely different"))
      .toDF("doc_id", "text")
    val idx = Retrieval.postingsIndex(corpus, "ret_kie_test")
    val stats = Retrieval.corpusStats(corpus, "ret_kie_test")
    val got = Retrieval.knownItemEval(idx, stats, corpus, k = 10,
      queryTokens = 5).as[(Long, Double, Double, Double)].collect()
    // queries 1, 2, 4 hit themselves at rank 1; query 3's prefix scores
    // identically on docs 1 and 3 and the tie breaks to doc 1, so doc 3
    // finds itself at rank 2: MRR = (1 + 1 + 1 + 1/2) / 4
    assert(got.toList == List((4L, 0.875, 0.75, 1.0)), got.toList)
  }

  test("bm25TopKAll maxDf: common query terms prune before the candidate " +
      "join; None keeps exact scoring") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_maxdf_test_postings_b8")
    IndexTables.drop(spark, "ret_maxdf_test_stats")
    val corpus = Seq(
      (1L, "unique common filler one"),
      (2L, "common other words two"),
      (3L, "common more words three"),
      (4L, "common again words four")).toDF("doc_id", "text")
    val idx = Retrieval.postingsIndex(corpus, "ret_maxdf_test")
    val stats = Retrieval.corpusStats(corpus, "ret_maxdf_test")
    val q = Seq((9L, "unique common")).toDF("query_id", "query")
    val exact = Retrieval.bm25TopKAll(idx, stats, q, k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(exact == Set(1L, 2L, 3L, 4L), exact) // "common" matches all
    val capped = Retrieval.bm25TopKAll(idx, stats, q, k = 10,
        maxDf = Some(3L))
      .select("doc_id").as[Long].collect().toSet
    assert(capped == Set(1L), capped) // df("common") = 4 > 3: pruned
  }

  test("ndcgAtK: hand-computed graded gains, ideal ordering, unranked " +
      "qrels price recall") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_ndcg_test_postings_b8")
    IndexTables.drop(spark, "ret_ndcg_test_stats")
    val corpus = Seq(
      (1L, "alpha beta gamma one"),
      (2L, "alpha beta gamma two"),
      (3L, "zeta eta theta isolated")).toDF("doc_id", "text")
    val idx = Retrieval.postingsIndex(corpus, "ret_ndcg_test")
    val stats = Retrieval.corpusStats(corpus, "ret_ndcg_test")
    // q1 rel-set {1:3, 2:2} — both rank (shared prefix) in ideal order
    // → ndcg 1.0; q2 rel-set {2:3, 3:2} — doc 3 shares no term, never
    // ranks → dcg = 7 alone, idcg = 7 + 3/log2(3)
    val qrels = Seq((1L, 1L, 3), (1L, 2L, 2), (2L, 2L, 3), (2L, 3L, 2))
      .toDF("query_id", "doc_id", "rel")
    val got = Retrieval.ndcgAtK(idx, stats,
        corpus.where($"doc_id" < 3), qrels, k = 10, queryTokens = 4)
      .as[(Long, Double, Double, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val t2 = q6(3.0 / (math.log(3.0) / math.log(2.0)))
    val ideal = q6(7.0 + t2)
    assert(got(1L) == ((1L, ideal, ideal, Some(1.0))), got(1L))
    val exp2 = math.rint(7.0 / ideal * 1e4) / 1e4
    assert(got(2L) == ((2L, 7.0, ideal, Some(exp2))), got(2L))
  }

  test("rm3: fbTerms=0 degenerates to plain serving; expansion recalls " +
      "term-disjoint docs") {
    import graft.ops.IndexTables
    Seq("ret_rm3_test_postings_b8", "ret_rm3_test_stats")
      .foreach(IndexTables.drop(spark, _))
    // doc 3 shares NO term with the query, but co-occurs with the
    // feedback doc's vocabulary ("joins" pools from doc 1)
    val corpus = Seq(
      (1L, "spark streams joins joins"),
      (2L, "flink windows triggers"),
      (3L, "joins tables optimizer"),
      (4L, "completely unrelated text"))
      .toDF("doc_id", "text")
    val idx = Retrieval.postingsIndex(corpus, "ret_rm3_test")
    val stats = Retrieval.corpusStats(corpus, "ret_rm3_test")
    val queries = Seq((10L, "spark streams")).toDF("query_id", "query")
    val plain = Retrieval.bm25TopKAll(idx, stats, queries, k = 4)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    val degenerate = Retrieval.rm3Expand(idx, stats, queries, k = 4,
        fbDocs = 2, fbTerms = 0)
      .as[(Long, Long, Long, Double, Int)].collect().toSet
    assert(degenerate == plain)
    assert(!plain.exists(_._2 == 3L)) // term-disjoint: unreachable without RM3
    val expanded = Retrieval.rm3Expand(idx, stats, queries, k = 4,
        fbDocs = 1, fbTerms = 2)
      .as[(Long, Long, Long, Double, Int)].collect()
    // feedback doc 1 contributes "joins" (tf 2) — doc 3 now retrievable
    assert(expanded.exists(_._2 == 3L), expanded.toSeq)
    // original query terms still dominate: doc 1 stays rank 1
    assert(expanded.find(_._5 == 1).get._2 == 1L)
  }

  private def phraseDocs = Seq(
    (1L, "batch batch batch stream"), // overlapping occurrences
    (2L, "batch stream batch"),       // co-occurrence but never adjacent
    (3L, "the batch"),                // one token cannot fill two slots
    (4L, "stream spark batch batch"),
    (5L, "spark stream"))             // reversed order is not the phrase
    .toDF("doc_id", "text")

  test("phraseSearch: adjacency, overlap, and repeated-slot honesty") {
    val got = Retrieval.phraseSearch(phraseDocs, "batch batch")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 1: "batch batch batch" = starts 0 and 1; doc 4: start 2.
    // docs 2 (non-adjacent) and 3 (single token) must NOT match — a
    // plain count over slot votes would wrongly admit doc 3.
    assert(got == Map(1L -> (2L, 0L), 4L -> (1L, 2L)), got.toString)
    // order matters: doc 5 has "spark stream", not "stream spark"
    val ord = Retrieval.phraseSearch(phraseDocs, "stream spark")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(ord == Map(4L -> (1L, 0L)), ord.toString)
    // raw user phrasing normalizes like the corpus stream
    val raw = Retrieval.phraseSearch(phraseDocs, "Stream, SPARK!")
      .as[(Long, Long, Long)].collect().map(_._1).toSet
    assert(raw == Set(4L))
  }

  test("phraseSearchAll: batch rows equal the per-phrase served results") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_phraseall_test_pos_b8")
    val idx = Retrieval.positionalIndex(phraseDocs, "ret_phraseall_test")
    val phrases = Seq((1L, "batch batch"), (2L, "stream spark"),
      (3L, "zzznope batch")).toDF("phrase_id", "phrase")
    val got = Retrieval.phraseSearchAll(idx, phrases)
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = (for ((pid, p) <- Seq((1L, "batch batch"), (2L, "stream spark"));
        r <- Retrieval.phraseFromIndex(idx, p)
          .as[(Long, Long, Long)].collect())
      yield (pid, r._1, r._2, r._3)).toSet
    assert(got == want, s"$got vs $want")
    // the vocabulary-miss phrase yields no rows, not an error
    assert(!got.exists(_._1 == 3L))
    // blocklist gate shape: the union of matched docs is the flag set
    assert(got.map(_._2) == Set(1L, 4L))
  }

  test("phraseFromIndex serves identical rows off the standing positional index") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "ret_phrase_test_pos_b8")
    val idx = Retrieval.positionalIndex(phraseDocs, "ret_phrase_test")
    for (p <- Seq("batch batch", "stream spark", "the batch")) {
      val direct = Retrieval.phraseSearch(phraseDocs, p)
        .as[(Long, Long, Long)].collect().toSet
      val served = Retrieval.phraseFromIndex(idx, p)
        .as[(Long, Long, Long)].collect().toSet
      assert(served == direct, s"phrase '$p': $served vs $direct")
    }
  }
}
