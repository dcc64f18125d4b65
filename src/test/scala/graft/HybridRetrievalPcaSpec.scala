package graft

import org.apache.spark.sql.functions._
import graft.ops.{Retrieval, Similarity, TextAnalysis}
import graft.sources.Sinks

/** Hybrid retrieval (dense leg + reciprocal-rank fusion) and the
  * covariance/PCA-whitening stack.
  */
class HybridRetrievalPcaSpec extends SparkSpec {
  import spark.implicits._

  // ---------- RRF ----------

  test("rrfFuse: hand-computed scores, n_runs, and tie-break") {
    // runA ranks docs 1,2; runB ranks docs 2,3. kParam=60.
    val runA = Seq((1L, 1L, 1L), (1L, 2L, 2L)).toDF("query_id", "doc_id", "rank")
    val runB = Seq((1L, 2L, 1L), (1L, 3L, 2L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(runA, runB), topK = 10)
      .orderBy("rank")
      .select("doc_id", "n_runs", "rrf_score", "rank")
      .as[(Long, Long, Double, Long)].collect()
    def r(x: Double) = math.rint(x * 1e6) / 1e6
    // doc 2: in both runs (1/61 + 1/62); docs 1 and 3: one run each
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 3L), got.mkString(","))
    assert(got(0)._2 == 2L && got(1)._2 == 1L && got(2)._2 == 1L)
    assert(got(0)._3 == r(1.0 / 62 + 1.0 / 61))
    assert(got(1)._3 == r(1.0 / 61))
    assert(got(2)._3 == r(1.0 / 62))
    // docs 1 (rank 1 in A) vs 3 (rank 2 in B): 1/61 > 1/62
    assert(got(1)._3 > got(2)._3)
  }

  test("rrfFuse: equal fused scores break ties by doc_id") {
    // Both docs get rank 1 in exactly one run → identical scores.
    val runA = Seq((1L, 9L, 1L)).toDF("query_id", "doc_id", "rank")
    val runB = Seq((1L, 4L, 1L)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(runA, runB), topK = 2)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(4L, 9L), got.toString)
  }

  test("rrfFuse: topK truncates per query independently") {
    val runA = Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 7L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(runA), topK = 1)
    assert(got.count() == 2L) // one head per query
    assert(got.where(col("query_id") === 1L).select("doc_id")
      .as[Long].head() == 1L)
  }

  // ---------- dense leg ----------

  private def hybridDocs = Seq(
    (1L, "spark streams join fast"),
    (2L, "flink streams windows"),
    (3L, "spark joins tables"),
    (4L, "completely unrelated text"),
    (5L, "spark streams join fast")) // exact dup of doc 1
    .toDF("doc_id", "text")

  test("denseTopKAll: an exact-text query ranks its duplicates first with cos 1") {
    val q = Seq((1L, "spark streams join fast")).toDF("query_id", "query")
    val got = Retrieval.denseTopKAll(hybridDocs, q, k = 5)
      .orderBy("rank")
      .select("doc_id", "score", "rank").as[(Long, Double, Long)].collect()
    // docs 1 and 5 are verbatim the query: cosine exactly 1.0, doc_id tie-break
    assert(got(0) == ((1L, 1.0, 1L)), got.mkString(","))
    assert(got(1) == ((5L, 1.0, 2L)))
    assert(got.drop(2).forall(_._2 < 1.0))
  }

  test("denseTopKAll: group-limited top-k equals the naive global ranking") {
    val q = Seq((1L, "spark join"), (2L, "windows"), (3L, "text"))
      .toDF("query_id", "query")
    // repartition the corpus so the per-partition phase actually runs
    val docs = hybridDocs.repartition(3)
    for (k <- Seq(2, 10)) {
      val got = Retrieval.denseTopKAll(docs, q, k)
        .select("query_id", "doc_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
      // naive: single global window over every (query, doc) cosine
      val dv = graft.ops.TextAnalysis.hashEmbed(docs, 64)
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("de"))
      val qv = graft.ops.TextAnalysis.hashEmbed(
          q.select(col("query_id").as("doc_id"), col("query").as("text")), 64)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qe"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))
      val naive = dv.crossJoin(qv)
        .select(col("query_id"), col("doc_id"),
          round(Similarity.dot(col("de"), col("qe")) /
            (Similarity.l2norm(col("de")) * Similarity.l2norm(col("qe"))), 4)
            .as("score"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select("query_id", "doc_id", "rank")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == naive, s"k=$k: ${got.diff(naive)} / ${naive.diff(got)}")
    }
  }

  test("rrfFuse of lexical+dense runs: vocabulary-miss query falls back to dense") {
    val docs = hybridDocs
    val q = Seq((1L, "spark join"), (2L, "zzznosuchterm")).toDF("query_id", "query")
    val lex = Retrieval.bm25TopKAll(
      Retrieval.postings(docs), // un-persisted postings double as the index
      docs.select(size(graft.ops.Core.tokensUni(col("text"))).cast("long").as("_dl"))
        .agg(count(lit(1)).as("n_docs"), avg("_dl").as("avgdl")),
      q, k = 3)
    val dense = Retrieval.denseTopKAll(docs, q, k = 3)
    val fused = Retrieval.rrfFuse(Seq(lex, dense), topK = 3)
    // query 2 has no lexical hits: every fused row is dense-only
    val q2 = fused.where(col("query_id") === 2L)
    assert(q2.count() > 0)
    assert(q2.where(col("n_runs") =!= 1L).count() == 0L)
    // query 1 has both legs: its head doc must appear in both runs
    val head = fused.where(col("query_id") === 1L && col("rank") === 1L)
    assert(head.select("n_runs").as[Long].head() == 2L)
  }

  test("hybridServe: streamed batches fuse identically to the batch path") {
    import graft.ops.IndexTables
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    IndexTables.drop(spark, "hyb_serve_test_postings_b8")
    IndexTables.drop(spark, "hyb_serve_test_stats")
    val docs = hybridDocs
    val idx = Retrieval.postingsIndex(docs, "hyb_serve_test")
    val stats = Retrieval.corpusStats(docs, "hyb_serve_test")
    val in = MemoryStream[(Long, String)](45, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double, Long)]()
    val q = Sinks.eachBatch(in.toDF().toDF("query_id", "query")) { b =>
      val batch = Retrieval.rrfFuse(Seq(
        Retrieval.bm25TopKAll(idx, stats, b, 3),
        Retrieval.denseTopKAll(docs, b, 3)), topK = 3)
      out ++= batch.as[(Long, Long, Long, Double, Long)].collect()
    }.start()
    try {
      in.addData((10L, "spark join"))
      q.processAllAvailable()
      in.addData((20L, "zzznosuchterm"))
      q.processAllAvailable()
    } finally q.stop()
    val qt = Seq((10L, "spark join"), (20L, "zzznosuchterm"))
      .toDF("query_id", "query")
    val batch = Retrieval.rrfFuse(Seq(
        Retrieval.bm25TopKAll(idx, stats, qt, k = 3),
        Retrieval.denseTopKAll(docs, qt, k = 3)), topK = 3)
      .as[(Long, Long, Long, Double, Long)].collect()
    assert(out.toSet == batch.toSet && out.nonEmpty)
    // the vocabulary-miss query is still served (dense-only fallback)
    assert(out.exists(_._1 == 20L))
  }

  // ---------- MMR ----------

  private def mmrRun = Seq(
    (1L, 1L, 0.9), (1L, 2L, 0.8), (1L, 3L, 0.5))
    .toDF("query_id", "doc_id", "score")
  private def mmrVecs = Seq(
    (1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(0f, 1f)))
    .toDF("vec_id", "embedding")

  test("mmrRerank: a near-duplicate of the top pick is deferred behind a diverse doc") {
    val got = Retrieval.mmrRerank(mmrRun, mmrVecs, m = 3, lambda = 0.5)
      .orderBy("mmr_rank")
      .select("doc_id", "mmr_score", "mmr_rank")
      .as[(Long, Double, Long)].collect()
    // step 1: doc 1 (λ·0.9 = 0.45); step 2: doc 2 scores 0.5·0.8−0.5·1 =
    // −0.1 (identical vector) vs doc 3's 0.25 → doc 3; step 3: doc 2
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 2L), got.mkString(","))
    assert(got(0)._2 == 0.45 && got(1)._2 == 0.25 && got(2)._2 == -0.1)
    assert(got.map(_._3).toSeq == Seq(1L, 2L, 3L))
  }

  test("mmrRerank: lambda = 1 is pure relevance order; short queries stop early") {
    val got = Retrieval.mmrRerank(mmrRun, mmrVecs, m = 5, lambda = 1.0)
      .orderBy("mmr_rank").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L), got.toString) // and only 3 rows for m=5
  }

  test("mmrRerank: ranking is per query, ties break by doc_id") {
    val run = Seq((1L, 1L, 0.9), (1L, 2L, 0.9), (2L, 3L, 0.5))
      .toDF("query_id", "doc_id", "score")
    val vecs = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Retrieval.mmrRerank(run, vecs, m = 2, lambda = 0.7)
      .select("query_id", "doc_id", "mmr_rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 1L)), got.toString)
  }

  test("mmrRerank: a string id column is rejected, not silently nulled") {
    val run = Seq((1L, "d1", 0.9)).toDF("query_id", "doc_id", "score")
    val vecs = Seq(("d1", Seq(1f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Retrieval.mmrRerank(run, vecs, m = 1))
    assert(e.getMessage.contains("idCol 'doc_id' must be an integral type, got string"),
      e.getMessage)
  }

  // ---------- run overlap / vector quality / text signals ----------

  test("runOverlap: counts, jaccard, and one-sided queries") {
    val runA = Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 7L))
      .toDF("query_id", "doc_id")
    val runB = Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 9L))
      .toDF("query_id", "doc_id")
    val got = Retrieval.runOverlap(runA, runB)
      .select("query_id", "n_a", "n_b", "n_common", "jaccard", "overlap_coef")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 3L, 2L, 0.5, 0.6667)), got(1L).toString)
    assert(got(2L) == ((2L, 1L, 0L, 0L, 0.0, 0.0))) // only in run A
    assert(got(3L) == ((3L, 0L, 1L, 0L, 0.0, 0.0))) // only in run B
  }

  test("rboOverlap: hand math, reversed runs penalized where Jaccard reads 1.0") {
    // identical 2-deep runs at p=0.5: RBO = 0.5·1 + 0.25·1 = 0.75
    val same = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "rank")
    val idGot = Retrieval.rboOverlap(same, same, p = 0.5, k = 2)
      .as[(Long, Long, Double)].collect().head
    assert(idGot == ((1L, 2L, 0.75)), idGot.toString)
    // SAME two docs in opposite order: every doc first co-present at
    // depth 2 → RBO 0.25, while set-Jaccard would read a perfect 1.0
    val rev = Seq((1L, 11L, 1), (1L, 10L, 2)).toDF("query_id", "doc_id", "rank")
    val revGot = Retrieval.rboOverlap(same, rev, p = 0.5, k = 2)
      .as[(Long, Long, Double)].collect().head
    assert(revGot == ((1L, 2L, 0.25)), revGot.toString)
    // disjoint runs: the query still reports, rbo 0
    val other = Seq((1L, 99L, 1)).toDF("query_id", "doc_id", "rank")
    val dis = Retrieval.rboOverlap(same, other, p = 0.5, k = 2)
      .as[(Long, Long, Double)].collect().head
    assert(dis == ((1L, 0L, 0.0)))
  }

  test("vectorQuality flags NaN, zero, ragged, and norm-outlier vectors") {
    val emb = (
      (1L to 20L).map(i => (i, Seq(1f, 0f, 0f))) ++ Seq(
        (90L, Seq(Float.NaN, 1f, 1f)), // NaN
        (91L, Seq(0f, 0f, 0f)),        // zero norm
        (92L, Seq(1f, 1f)),            // ragged
        (93L, Seq(100f, 0f, 0f)))      // norm outlier
    ).toDF("vec_id", "embedding")
    val got = Similarity.vectorQuality(emb, dim = 3)
      .select("vec_id", "flag").as[(Long, Boolean)].collect().toMap
    assert(Seq(90L, 91L, 92L, 93L).forall(got(_)), got.toString)
    assert((1L to 20L).forall(i => !got(i)))
  }

  test("vectorQualityServe: streamed batches flag identically to the batch gate") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val corpus = (1L to 20L).map(i => (i, Seq(1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val stats = Similarity.vectorQualityStats(corpus, 3).localCheckpoint()
    val in = MemoryStream[(Long, Seq[Float])](46, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Boolean)]()
    val q = Sinks.eachBatch(in.toDF().toDF("vec_id", "embedding")) { b =>
      out ++= Similarity.vectorQualityFrom(b, stats, dim = 3)
        .select("vec_id", "flag").as[(Long, Boolean)].collect()
    }.start()
    try {
      in.addData((100L, Seq(1f, 0f, 0f)), (101L, Seq(0f, 0f, 0f)),
        (102L, Seq(9f, 9f)))
      q.processAllAvailable()
    } finally q.stop()
    val batch = Similarity.vectorQualityFrom(
      Seq((100L, Seq(1f, 0f, 0f)), (101L, Seq(0f, 0f, 0f)),
        (102L, Seq(9f, 9f))).toDF("vec_id", "embedding"), stats, dim = 3)
      .select("vec_id", "flag").as[(Long, Boolean)].collect()
    assert(out.toSet == batch.toSet && out.size == 3)
    assert(out.toMap == Map(100L -> false, 101L -> true, 102L -> true))
  }

  test("readability: hand-computed Flesch on a two-sentence doc") {
    val docs = Seq((1L, "The cat sat. The dog ran!"), (2L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(docs)
      .as[(Long, Int, Long, Long, Double)].collect()
    assert(got.length == 1) // token-less doc excluded
    val (_, w, s2, sy, f) = got.head: (Long, Int, Long, Long, Double)
    assert((w, s2, sy) == ((6, 2L, 6L)), got.head.toString)
    // 206.835 − 1.015·(6/2) − 84.6·(6/6)
    assert(math.abs(f - 119.19) < 1e-9, f.toString)
  }

  test("ngramDiversity: a collapsing source scores low, a diverse one high") {
    val docs = Seq(
      (1L, "spam", "buy buy buy buy"),
      (2L, "spam", "buy buy buy buy"),
      (3L, "prose", "all words here differ completely"))
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.ngramDiversity(docs)
      .select("source", "n", "distinct_ratio")
      .as[(String, Int, Double)].collect()
      .map { case (s, n, r) => (s, n) -> r }.toMap
    assert(got(("spam", 1)) == 0.125)  // 1 distinct / 8 unigrams
    assert(got(("spam", 2)) == math.rint(1.0 / 6.0 * 1e4) / 1e4)
    assert(got(("prose", 1)) == 1.0 && got(("prose", 2)) == 1.0)
  }

  test("pmiCollocations: always-together pairs score ln(N·c/(cx·cy)), fence holds") {
    val docs = ((1 to 5).map(i => (i.toLong, "p q")) ++
      (6 to 10).map(i => (i.toLong, "u v")) ++
      Seq((11L, "p v"))) // count-1 pair: must be fenced out
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, minCount = 5, topK = 10)
      .as[(String, Long, Double)].collect()
    // N = 11 pairs; c(p,q)=5, cx(p)=6, cy(q)=5 → ln(5·11/30); u v: ln(5·11/30)
    val want = math.rint(math.log(5.0 * 11 / (6 * 5)) * 1e4) / 1e4
    assert(got.map(_._1).toSeq == Seq("p q", "u v"), got.mkString(","))
    assert(got.forall(_._2 == 5L) && got.forall(_._3 == want), got.mkString(","))
  }

  test("zipfFit: two-point fixture has slope exactly -1 and intercept ln(top freq)") {
    val docs = Seq((1L, "a a a a b b")).toDF("doc_id", "text")
    val got = TextAnalysis.zipfFit(docs).as[(Long, Double, Double)].head()
    assert(got._1 == 2L)
    assert(got._2 == -1.0, got.toString) // (ln2−ln4)/(ln2−ln1)
    assert(got._3 == math.rint(math.log(4.0) * 1e4) / 1e4)
  }

  // ---------- covariance / PCA ----------

  test("covarianceLong: hand-computed 2-dim population covariance") {
    val emb = Seq((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(5f, 6f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.covarianceLong(emb, dim = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    // xs = 1,3,5 and ys = 2,4,6: var = 8/3, cov = 8/3 (perfect correlation)
    val v = math.rint(8.0 / 3.0 * 1e6) / 1e6
    assert(got.size == 4)
    assert(got((0L, 0L)) == v && got((1L, 1L)) == v)
    assert(got((0L, 1L)) == v && got((1L, 0L)) == v)
  }

  test("covarianceLong: ragged vectors are excluded, not silently mixed") {
    val emb = Seq((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(5f, 6f)),
      (4L, Seq(9f))) // wrong dim — must not corrupt the grid
    .toDF("vec_id", "embedding")
    val got = Similarity.covarianceLong(emb, dim = 2)
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    val v = math.rint(8.0 / 3.0 * 1e6) / 1e6
    assert(got((0L, 0L)) == v, got.toString)
  }

  test("covarianceMerge: standing moments + increment equal the full rebuild") {
    import graft.ops.IndexTables
    IndexTables.drop(spark, "cov_moments_test")
    val emb = (1 to 24).map(i =>
      (i.toLong, Seq((i % 7).toFloat, ((i * 3) % 5).toFloat)))
      .toDF("vec_id", "embedding")
    val base = emb.where(col("vec_id") % 3 =!= 0L)
    val inc = emb.where(col("vec_id") % 3 === 0L)
    val standing = Similarity.momentsTable(spark, base, 2, "cov_moments_test")
    val merged = Similarity.covarianceFromSums(
      Similarity.covarianceMerge(standing, Similarity.momentSums(inc, 2)), 2)
      .as[(Long, Long, Double)].collect().toSet
    val direct = Similarity.covarianceLong(emb, 2)
      .as[(Long, Long, Double)].collect().toSet
    // integer-valued fixture: double sums are exact, equality is exact
    assert(merged == direct && merged.size == 4, merged.toString)
    // the standing table is read back, not rebuilt: a SECOND call with a
    // DIFFERENT base must still serve the persisted sums
    val stale = Similarity.momentsTable(spark, inc, 2, "cov_moments_test")
    assert(stale.as[(Int, Double)].collect().toSet ==
      standing.as[(Int, Double)].collect().toSet)
  }

  test("pcaTop: perfectly correlated 2-dim data has one eigenpair") {
    val emb = Seq((1L, Seq(1f, 2f)), (2L, Seq(3f, 4f)), (3L, Seq(5f, 6f)))
      .toDF("vec_id", "embedding")
    val m = Similarity.pcaTop(emb, dim = 2, k = 2)
    assert(math.abs(m.eigvals(0) - 16.0 / 3.0) < 1e-9, m.eigvals.toSeq.toString)
    assert(math.abs(m.eigvals(1)) < 1e-9)
    // component 1 = (1,1)/√2, sign-canonicalized positive
    assert(math.abs(m.components(0)(0) - math.sqrt(0.5)) < 1e-9)
    assert(math.abs(m.components(0)(1) - math.sqrt(0.5)) < 1e-9)
    assert(math.abs(m.mean(0) - 3.0) < 1e-12 && math.abs(m.mean(1) - 4.0) < 1e-12)
  }

  /** Deterministic full-rank 3-dim fixture (no RNG — the repo convention). */
  private def fullRank3 = (1 to 24).map { i =>
    (i.toLong, Seq((i % 7).toFloat, ((i * i) % 11).toFloat, ((i * 5) % 13).toFloat))
  }.toDF("vec_id", "embedding")

  test("pcaTop: components are orthonormal, eigenvalues descending, cov reconstructs") {
    val m = Similarity.pcaTop(fullRank3, dim = 3, k = 3, iters = 300)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.map(i => a(i) * b(i)).sum
    for (c <- 0 until 3) assert(math.abs(dot(m.components(c), m.components(c)) - 1) < 1e-9)
    for (a <- 0 until 3; b <- a + 1 until 3)
      assert(math.abs(dot(m.components(a), m.components(b))) < 1e-7, s"$a,$b")
    assert(m.eigvals(0) >= m.eigvals(1) && m.eigvals(1) >= m.eigvals(2))
    // Σ λ v vᵀ reproduces the covariance (full-rank k = dim)
    val cov = Similarity.covarianceLong(fullRank3, dim = 3)
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    for (i <- 0 until 3; j <- 0 until 3) {
      val rec = (0 until 3).map(c =>
        m.eigvals(c) * m.components(c)(i) * m.components(c)(j)).sum
      assert(math.abs(rec - cov((i.toLong, j.toLong))) < 1e-5, s"($i,$j)")
    }
  }

  test("pcaWhiten: whitened components have unit variance and zero correlation") {
    val m = Similarity.pcaTop(fullRank3, dim = 3, k = 3, iters = 300)
    val white = Similarity.pcaWhiten(fullRank3, m)
      .select(col("vec_id"), col("whitened").cast("array<float>").as("embedding"))
    val cov = Similarity.covarianceLong(white, dim = 3)
      .as[(Long, Long, Double)].collect()
      .map { case (i, j, c) => (i, j) -> c }.toMap
    for (i <- 0 until 3; j <- 0 until 3) {
      val want = if (i == j) 1.0 else 0.0
      // float32 round-trip through the embedding column costs ~1e-4
      assert(math.abs(cov((i.toLong, j.toLong)) - want) < 1e-3, s"($i,$j) ${cov((i.toLong, j.toLong))}")
    }
    // ragged rows are excluded from the apply, mirroring the fit
    val ragged = fullRank3.union(Seq((99L, Seq(1f))).toDF("vec_id", "embedding"))
    assert(Similarity.pcaWhiten(ragged, m).where(col("vec_id") === 99L).count() == 0L)
  }
}
