package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Queries over `ops.Retrieval`. */
object RetrievalQueries {

  /** The standing BM25 (postings, corpus stats) over `d`'s documents; "pst1"
    * tags the norm-in-posting schema so a pre-dl index is never reused.
    */
  private def bm25Index(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val name = IndexTables.ident("bm25pst1", docs)
    (Retrieval.postingsIndex(docs, name), Retrieval.corpusStats(docs, name))
  }

  private def positionalIndex(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Retrieval.positionalIndex(docs, IndexTables.ident("pospst1", docs))
  }

  private val SEARCH_TERMS = Seq("stream", "join", "filter")

  private val BM25_TERMS = Seq("stream", "join")

  // repeated-term phrase on purpose: exercises the distinct-slot vote
  private val PHRASE_Q = "batch batch"

  private val PHRASE_IDX_Q = "stream spark"

  private val PHRASE_BATCH: Seq[(Long, String)] = Seq(
    (1L, "batch batch"), (2L, "stream spark"), (3L, "zzznosuchterm data"))

  /** q_bm25_batch's query table: raw (un-normalized) text on purpose —
    * the serving path must tokenize queries exactly like the corpus; q3
    * is a vocabulary miss that must yield zero rows, not an error.
    */
  private val BM25_QUERIES: Seq[(Long, String)] = Seq(
    (1L, "Stream JOIN"),
    (2L, "filter stream window"),
    (3L, "zzznosuchterm"))

  /** DuckDB replay of Retrieval's phrase-alignment vote: positions from a
    * zipped unnest, each matched posting votes for start = pos − slot, a
    * start with all DISTINCT slots present is an occurrence. Shared by
    * q_phrase (direct) and q_phrase_idx (standing positional index) — the
    * index path must land on identical rows by construction.
    */
  private def phraseSql(phrase: String): String = {
    val ts = phrase.toLowerCase.split("[^\\p{L}\\p{Nd}]+")
      .filter(_.nonEmpty).toSeq
    val slots = ts.zipWithIndex
      .map { case (t, i) => s"('$t', $i)" }.mkString(", ")
    val terms = ts.distinct.map(t => s"'$t'").mkString(", ")
    s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
      "p AS (SELECT doc_id, unnest(toks) AS token, " +
      "unnest(range(len(toks))) AS pos FROM t), " +
      s"tp AS (SELECT * FROM p WHERE token IN ($terms)), " +
      s"qt(token, slot) AS (VALUES $slots), " +
      "al AS (SELECT doc_id, pos - slot AS start FROM tp JOIN qt USING (token) " +
      s"GROUP BY doc_id, pos - slot " +
      s"HAVING count(DISTINCT slot) = ${ts.size} AND pos - slot >= 0) " +
      "SELECT doc_id, count(*) AS n_matches, " +
      "CAST(min(start) AS BIGINT) AS first_pos FROM al GROUP BY doc_id"
  }

  /** WITH-body producing the two ranked runs the run-comparison oracles
    * (q_run_overlap, q_rbo) share: `lr` (BM25 lexical top-10) and `dr`
    * (dense hashed-vector top-10), both (query_id, doc_id, rank).
    */
  private def twoRunsCtes: String = {
    val qVals = BM25_QUERIES
      .map { case (id, q) => s"($id, '$q')" }.mkString(", ")
    val qToks = TOKS.replace("lower(text)", "lower(query)")
    s"q AS (SELECT CAST(query_id AS BIGINT) AS query_id, query " +
      s"FROM (VALUES $qVals) v(query_id, query)), " +
      s"qt AS (SELECT query_id, unnest(list_distinct($qToks)) AS token FROM q), " +
      s"t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
      "stats AS (SELECT count(*) AS n_docs, " +
      "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
      "terms AS (SELECT DISTINCT token FROM qt), " +
      "tp2 AS (SELECT doc_id, token, " +
      "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
      "CAST(len(toks) AS DOUBLE) AS dl " +
      "FROM t JOIN terms ON list_contains(toks, token)), " +
      "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
      "FROM tp2 GROUP BY token), " +
      "sc AS (SELECT qt.query_id, tp2.doc_id, " +
      "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
      "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
      "FROM tp2 JOIN dfs USING (token) JOIN qt USING (token), stats " +
      "GROUP BY qt.query_id, tp2.doc_id), " +
      "lr AS (SELECT query_id, doc_id, rank FROM " +
      "(SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY score DESC, doc_id) AS rank FROM sc) WHERE rank <= 10), " +
      s"${denseRunCtes(64, 10)}"
  }

  /** DuckDB mirror of Retrieval.denseTopKAll: the [[hashEmbedCtes]]
    * md5-bucket/sign chain run over BOTH the corpus (dd* CTEs) and the
    * query table (dq* CTEs, expecting a CTE `q(query_id, query)` in
    * scope), densified over a range(dim) grid, cosine-scored, and ranked
    * per query on (rounded score DESC, doc_id). Ends in
    * `dr(query_id, doc_id, score, rank)` with rank ≤ k. ONE definition
    * for q_dense_topk and q_rrf so the dense leg cannot drift between
    * the standalone run and the fusion.
    */
  private def denseRunCtes(dim: Int, k: Int): String = {
    val qToks = TOKS.replace("lower(text)", "lower(query)")
    // MATERIALIZED on the multiply-referenced stages (ddsv feeds ddids +
    // dddv, ddn/dqn feed dsc + downstream cand joins, dr feeds u/cand):
    // DuckDB 1.0 inlines CTEs per reference, re-running the whole
    // embedding chain each time — the q_clean_corpus_v8 lesson
    // (CurationQueries recipeV5Sql), applied here for q_mmr/q_rrf/q_dense_topk
    s"ddt AS (SELECT doc_id, unnest($TOKS) AS tok FROM documents), " +
      "ddh AS (SELECT doc_id, md5(tok) AS hx FROM ddt), " +
      "ddb AS (SELECT doc_id, " +
      s"CAST(CAST(('0x' || substring(hx, 1, 8)) AS UBIGINT) % $dim AS INT) AS dim_idx, " +
      "CASE WHEN CAST(('0x' || substring(hx, 9, 1)) AS UBIGINT) % 2 = 0 " +
      "THEN 1.0 ELSE -1.0 END AS sgn FROM ddh), " +
      "ddsv AS MATERIALIZED (SELECT doc_id, dim_idx, sum(sgn) AS value FROM ddb " +
      "GROUP BY doc_id, dim_idx), " +
      "ddids AS (SELECT DISTINCT doc_id FROM ddsv), " +
      s"ddgrid AS (SELECT ddids.doc_id, r.range AS i FROM ddids, range($dim) r), " +
      "dddv AS (SELECT g.doc_id, g.i, coalesce(sv.value, 0.0) AS v FROM ddgrid g " +
      "LEFT JOIN ddsv sv ON sv.doc_id = g.doc_id AND sv.dim_idx = g.i), " +
      "dde AS (SELECT doc_id, list(v ORDER BY i) AS dv FROM dddv GROUP BY doc_id), " +
      "ddn AS MATERIALIZED (SELECT doc_id, dv, sqrt(list_dot_product(dv, dv)) AS nd FROM dde " +
      "WHERE sqrt(list_dot_product(dv, dv)) > 0), " +
      s"dqt AS (SELECT query_id, unnest($qToks) AS tok FROM q), " +
      "dqh AS (SELECT query_id, md5(tok) AS hx FROM dqt), " +
      "dqb AS (SELECT query_id, " +
      s"CAST(CAST(('0x' || substring(hx, 1, 8)) AS UBIGINT) % $dim AS INT) AS dim_idx, " +
      "CASE WHEN CAST(('0x' || substring(hx, 9, 1)) AS UBIGINT) % 2 = 0 " +
      "THEN 1.0 ELSE -1.0 END AS sgn FROM dqh), " +
      "dqsv AS MATERIALIZED (SELECT query_id, dim_idx, sum(sgn) AS value FROM dqb " +
      "GROUP BY query_id, dim_idx), " +
      "dqids AS (SELECT DISTINCT query_id FROM dqsv), " +
      s"dqgrid AS (SELECT dqids.query_id, r.range AS i FROM dqids, range($dim) r), " +
      "dqdv AS (SELECT g.query_id, g.i, coalesce(sv.value, 0.0) AS v FROM dqgrid g " +
      "LEFT JOIN dqsv sv ON sv.query_id = g.query_id AND sv.dim_idx = g.i), " +
      "dqe AS (SELECT query_id, list(v ORDER BY i) AS qv FROM dqdv GROUP BY query_id), " +
      "dqn AS MATERIALIZED (SELECT query_id, qv, sqrt(list_dot_product(qv, qv)) AS nq FROM dqe " +
      "WHERE sqrt(list_dot_product(qv, qv)) > 0), " +
      "dsc AS (SELECT dqn.query_id, ddn.doc_id, " +
      "round(list_dot_product(ddn.dv, dqn.qv) / (ddn.nd * dqn.nq), 4) AS score " +
      "FROM ddn, dqn), " +
      "dr AS MATERIALIZED (SELECT query_id, doc_id, score, rank FROM " +
      "(SELECT query_id, doc_id, score, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM dsc) " +
      s"WHERE rank <= $k)"
  }

  /** DuckDB mirror of Retrieval.mmrRerank over the [[denseRunCtes]]
    * candidates: greedy MMR unrolled one CTE trio (pick/sel/ms) per
    * step — the pagerankSql convention for iteration. λ and (1−λ) are
    * spelled so both engines execute the SAME IEEE ops on the SAME
    * grid-rounded inputs (rel and sim carry round(·,4)), making every
    * intermediate mmr value bit-identical; ties break by doc_id.
    */
  private def mmrSql(dim: Int, k: Int, m: Int, lambda: Double): String = {
    // BOTH weights are Scala-computed doubles shipped as DOUBLE literals:
    // a bare `(1 - 0.7)` would be DuckDB DECIMAL arithmetic (exactly 0.3,
    // a DIFFERENT double than Scala's 1.0-0.7) and flip rounding
    // boundaries — caught by a real 1e-4 mismatch at first verify
    val lam = s"CAST(${lambda} AS DOUBLE)"
    val lamBar = s"CAST(${1.0 - lambda} AS DOUBLE)"
    // Every step CTE is MATERIALIZED: sel$t/ms$t reference sel$p/ms$p,
    // so under DuckDB 1.0's per-reference inlining the unrolled chain
    // re-expands EXPONENTIALLY in m (each of pick/sel/ms at step t
    // inlines the step t-1 trio twice) — this single oracle replayed in
    // 90 s and helped zero the round-13 driver compare. Materialized,
    // each step runs once over k-row frames.
    val base =
      s"${denseRunCtes(dim, k)}, " +
        "cand AS MATERIALIZED (SELECT dr.query_id, dr.doc_id, dr.score AS rel, " +
        "ddn.dv, ddn.nd FROM dr JOIN ddn USING (doc_id)), " +
        "ps AS MATERIALIZED (SELECT a.query_id, a.doc_id AS ca, b.doc_id AS cb, " +
        "round(list_dot_product(a.dv, b.dv) / (a.nd * b.nd), 4) AS sim " +
        "FROM cand a JOIN cand b ON a.query_id = b.query_id " +
        "AND a.doc_id <> b.doc_id), " +
        s"sel1 AS MATERIALIZED (SELECT query_id, doc_id, $lam * rel AS mmr, " +
        "CAST(1 AS BIGINT) AS r FROM (SELECT query_id, doc_id, rel, " +
        "row_number() OVER (PARTITION BY query_id " +
        "ORDER BY rel DESC, doc_id) AS rn FROM cand) WHERE rn = 1), " +
        "ms1 AS MATERIALIZED (SELECT ps.query_id, ps.ca AS doc_id, max(ps.sim) AS ms " +
        "FROM ps JOIN sel1 s ON ps.query_id = s.query_id " +
        "AND ps.cb = s.doc_id GROUP BY 1, 2)"
    val steps = (2 to m).map { t =>
      val p = t - 1
      s"pick$t AS MATERIALIZED (SELECT query_id, doc_id, mmr, CAST($t AS BIGINT) AS r " +
        "FROM (SELECT query_id, doc_id, mmr, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY mmr DESC, doc_id) AS rn FROM " +
        s"(SELECT c.query_id, c.doc_id, $lam * c.rel - $lamBar * " +
        s"coalesce(mp.ms, 0) AS mmr FROM cand c LEFT JOIN ms$p mp " +
        "ON mp.query_id = c.query_id AND mp.doc_id = c.doc_id " +
        s"WHERE NOT EXISTS (SELECT 1 FROM sel$p s " +
        "WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id))) " +
        "WHERE rn = 1), " +
        s"sel$t AS MATERIALIZED (SELECT * FROM sel$p UNION ALL SELECT * FROM pick$t), " +
        s"ms$t AS MATERIALIZED (SELECT query_id, doc_id, max(ms) AS ms FROM " +
        s"(SELECT * FROM ms$p UNION ALL SELECT ps.query_id, ps.ca AS doc_id, " +
        s"ps.sim AS ms FROM ps JOIN pick$t p ON ps.query_id = p.query_id " +
        "AND ps.cb = p.doc_id) GROUP BY 1, 2)"
    }.mkString(", ")
    s"$base, $steps SELECT query_id, doc_id, round(mmr, 4) AS mmr_score, " +
      s"r AS mmr_rank FROM sel$m"
  }

  /** The known-item BM25 ranking replay (5-token-prefix queries over the
    * doc_id % 25 sample, the q_bm25_batch scoring form), ending in
    * `r(query_id, doc_id, rank)` plus `q`/`t` for downstream metric
    * tails — ONE definition shared by the q_retrieval_eval and q_ndcg
    * oracles so ranking semantics cannot drift between them.
    */
  private val KNOWN_ITEM_BM25_CTES: String =
    s"t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
      "q AS MATERIALIZED (SELECT doc_id AS query_id, toks[1:5] AS qtoks FROM t " +
      "WHERE doc_id % 25 = 0 AND len(toks) > 0), " +
      "qt AS (SELECT query_id, unnest(list_distinct(qtoks)) AS token FROM q), " +
      "stats AS (SELECT count(*) AS n_docs, " +
      "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
      "terms AS (SELECT DISTINCT token FROM qt), " +
      "tp2 AS (SELECT doc_id, token, " +
      "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
      "CAST(len(toks) AS DOUBLE) AS dl " +
      "FROM t JOIN terms ON list_contains(toks, token)), " +
      "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
      "FROM tp2 GROUP BY token), " +
      "sc AS (SELECT qt.query_id, tp2.doc_id, " +
      "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
      "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
      "FROM tp2 JOIN dfs USING (token) JOIN qt USING (token), stats " +
      "GROUP BY qt.query_id, tp2.doc_id), " +
      "r AS MATERIALIZED (SELECT query_id, doc_id, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY score DESC, doc_id) AS rank FROM sc)"

  val all: Seq[QueryDef] = Seq(
    // conjunctive posting-list search over the query terms only
    QueryDef("q_search", ((s, d) =>
      Retrieval.searchAll(Tables.documents(s, d), SEARCH_TERMS)),
      () => {
        val termList = SEARCH_TERMS.map(t => s"'$t'").mkString("[", ", ", "]")
        s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          s"tp AS (SELECT doc_id, unnest(list_intersect(toks, $termList)) AS token FROM t) " +
          "SELECT doc_id FROM tp GROUP BY doc_id " +
          s"HAVING count(DISTINCT token) = ${SEARCH_TERMS.size}"
      }),
    // BM25 ranking of any-term matches (Robertson/Lucene idf form)
    QueryDef("q_bm25", ((s, d) =>
      Retrieval.bm25(Tables.documents(s, d), BM25_TERMS)),
      // every intermediate CAST AS DOUBLE: DuckDB decimal/decimal division
      // truncates scale, doubles match Spark bit-for-bit pre-round
      () => {
        val termList = BM25_TERMS.map(t => s"'$t'").mkString("[", ", ", "]")
        s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          "stats AS (SELECT count(*) AS n_docs, " +
          "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
          s"tp AS (SELECT doc_id, unnest(list_intersect(toks, $termList)) AS token, toks FROM t), " +
          "tp2 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl FROM tp), " +
          "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp2 GROUP BY token) " +
          "SELECT doc_id, count(*) AS n_terms, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp2 JOIN dfs USING (token), stats GROUP BY doc_id"
      }),
    // the query-serving twin: same scores served from the persisted
    // token-bucketed postings + one-row stats tables — no corpus text is
    // read or tokenized at query time
    QueryDef("q_bm25_idx", ((s, d) => {
      val (postings, stats) = bm25Index(s, d)
      Retrieval.bm25FromIndex(postings, stats, BM25_TERMS)
    }),
      // index-served BM25 must produce byte-identical scores to the direct
      // path, so its oracle IS the direct path's SQL
      () => {
        val termList = BM25_TERMS.map(t => s"'$t'").mkString("[", ", ", "]")
        s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          "stats AS (SELECT count(*) AS n_docs, " +
          "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
          s"tp AS (SELECT doc_id, unnest(list_intersect(toks, $termList)) AS token, toks FROM t), " +
          "tp2 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl FROM tp), " +
          "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp2 GROUP BY token) " +
          "SELECT doc_id, count(*) AS n_terms, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp2 JOIN dfs USING (token), stats GROUP BY doc_id"
      }),
    // the serving shape: top-25 by score from the standing index
    // (TakeOrdered — per-partition heads + one k-row merge, no global sort)
    QueryDef("q_bm25_topk", ((s, d) => {
      val (postings, stats) = bm25Index(s, d)
      Retrieval.bm25TopK(postings, stats, BM25_TERMS, k = 25)
    }),
      // top-k serving: same scores, deterministic (score desc, doc_id) head
      () => {
        val termList = BM25_TERMS.map(t => s"'$t'").mkString("[", ", ", "]")
        s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          "stats AS (SELECT count(*) AS n_docs, " +
          "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
          s"tp AS (SELECT doc_id, unnest(list_intersect(toks, $termList)) AS token, toks FROM t), " +
          "tp2 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl FROM tp), " +
          "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp2 GROUP BY token), " +
          "sc AS (SELECT doc_id, count(*) AS n_terms, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp2 JOIN dfs USING (token), stats GROUP BY doc_id) " +
          "SELECT doc_id, n_terms, score FROM sc " +
          "ORDER BY score DESC, doc_id LIMIT 25"
      }),
    // batch-of-queries serving: a whole query table scored from the
    // standing index in one bucket-pruned pass (raw query text goes
    // through the index-side tokenizer; q3's term misses the vocabulary
    // and returns no rows). rank cast to long for the BIGINT oracle
    QueryDef("q_bm25_batch", ((s, d) => {
      import s.implicits._
      val (postings, stats) = bm25Index(s, d)
      Retrieval.bm25TopKAll(postings, stats,
        BM25_QUERIES.toDF("query_id", "query"), k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
      // batch-of-queries serving: queries as a VALUES table whose raw text
      // is tokenized with the SAME expression as the corpus; df over the
      // union of all batch terms (per-token global — identical either way);
      // rank = row_number over (rounded score DESC, doc_id), ≤ k
      () => {
        val qVals = BM25_QUERIES
          .map { case (id, q) => s"($id, '$q')" }.mkString(", ")
        val qToks = TOKS.replace("lower(text)", "lower(query)")
        s"WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, query " +
          s"FROM (VALUES $qVals) v(query_id, query)), " +
          s"qt AS (SELECT query_id, unnest(list_distinct($qToks)) AS token FROM q), " +
          s"t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          "stats AS (SELECT count(*) AS n_docs, " +
          "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
          "terms AS (SELECT DISTINCT token FROM qt), " +
          "tp2 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl " +
          "FROM t JOIN terms ON list_contains(toks, token)), " +
          "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp2 GROUP BY token), " +
          "sc AS (SELECT qt.query_id, tp2.doc_id, count(*) AS n_terms, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp2 JOIN dfs USING (token) JOIN qt USING (token), stats " +
          "GROUP BY qt.query_id, tp2.doc_id), " +
          "r AS (SELECT query_id, doc_id, n_terms, score, " +
          "row_number() OVER (PARTITION BY query_id " +
          "ORDER BY score DESC, doc_id) AS rank FROM sc) " +
          "SELECT query_id, doc_id, n_terms, score, rank FROM r WHERE rank <= 10"
      }),
    // RM3 pseudo-relevance feedback: 5 feedback docs pool score-weighted
    // term frequencies, 3 strongest new terms expand each query, the
    // expanded set rescored through the same standing-index path
    QueryDef("q_rm3", ((s, d) => {
      import s.implicits._
      val (postings, stats) = bm25Index(s, d)
      Retrieval.rm3Expand(postings, stats,
        BM25_QUERIES.toDF("query_id", "query"), k = 10, fbDocs = 5,
        fbTerms = 3)
        .withColumn("rank", col("rank").cast("long"))
    }),
      // RM3 replay: feedback rank<=5 off the q_bm25_batch scoring CTEs,
      // score-weighted tf pooling (grid-exact sums), 3 strongest new terms
      // per query via NOT EXISTS, rescore of the expanded term set
      () => {
        val qVals = BM25_QUERIES
          .map { case (id, q) => s"($id, '$q')" }.mkString(", ")
        val qToks = TOKS.replace("lower(text)", "lower(query)")
        s"WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, query " +
          s"FROM (VALUES $qVals) v(query_id, query)), " +
          s"qt AS (SELECT query_id, unnest(list_distinct($qToks)) AS token FROM q), " +
          s"t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          "stats AS (SELECT count(*) AS n_docs, " +
          "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
          "terms AS (SELECT DISTINCT token FROM qt), " +
          "tp2 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl " +
          "FROM t JOIN terms ON list_contains(toks, token)), " +
          "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp2 GROUP BY token), " +
          "sc AS (SELECT qt.query_id, tp2.doc_id, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp2 JOIN dfs USING (token) JOIN qt USING (token), stats " +
          "GROUP BY qt.query_id, tp2.doc_id), " +
          "fb AS (SELECT query_id, doc_id, score FROM (SELECT query_id, doc_id, score, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank " +
          "FROM sc) WHERE rank <= 5), " +
          "fpost AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM " +
          "(SELECT doc_id, unnest(toks) AS token FROM t " +
          "JOIN (SELECT DISTINCT doc_id FROM fb) USING (doc_id)) GROUP BY 1, 2), " +
          "ew AS (SELECT fb.query_id, fpost.token, round(sum(fpost.tf * fb.score), 4) AS w " +
          "FROM fb JOIN fpost USING (doc_id) GROUP BY 1, 2), " +
          "ex AS (SELECT query_id, token FROM (SELECT ew.query_id, ew.token, " +
          "row_number() OVER (PARTITION BY ew.query_id ORDER BY w DESC, ew.token) AS rn " +
          "FROM ew WHERE NOT EXISTS (SELECT 1 FROM qt " +
          "WHERE qt.query_id = ew.query_id AND qt.token = ew.token)) WHERE rn <= 3), " +
          "qt2 AS (SELECT query_id, token FROM qt UNION SELECT query_id, token FROM ex), " +
          "terms2 AS (SELECT DISTINCT token FROM qt2), " +
          "tp3 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl " +
          "FROM t JOIN terms2 ON list_contains(toks, token)), " +
          "dfs2 AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp3 GROUP BY token), " +
          "sc2 AS (SELECT qt2.query_id, tp3.doc_id, count(*) AS n_terms, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp3 JOIN dfs2 USING (token) JOIN qt2 USING (token), stats " +
          "GROUP BY qt2.query_id, tp3.doc_id), " +
          "r2 AS (SELECT query_id, doc_id, n_terms, score, " +
          "row_number() OVER (PARTITION BY query_id " +
          "ORDER BY score DESC, doc_id) AS rank FROM sc2) " +
          "SELECT query_id, doc_id, n_terms, score, rank FROM r2 WHERE rank <= 10"
      }),
    // exact phrase search straight off the corpus: consecutive-token
    // match with occurrence count + first position; the repeated-term
    // phrase exercises the distinct-slot vote (one "batch" posting must
    // not fill both slots of "batch batch")
    QueryDef("q_phrase", ((s, d) =>
      Retrieval.phraseSearch(Tables.documents(s, d), PHRASE_Q)),
      () => phraseSql(PHRASE_Q)),
    // the serving twin: same phrase semantics from the standing
    // token-bucketed POSITIONAL index — no corpus text at query time
    QueryDef("q_phrase_idx", ((s, d) =>
      Retrieval.phraseFromIndex(positionalIndex(s, d), PHRASE_IDX_Q)),
      () => phraseSql(PHRASE_IDX_Q)),
    // batch multi-phrase matching off the same standing index — the
    // C4-blocklist gate shape; phrase 3's first term misses the
    // vocabulary, so it must yield zero rows
    QueryDef("q_phrase_batch", ((s, d) => {
      import s.implicits._
      Retrieval.phraseSearchAll(positionalIndex(s, d),
        PHRASE_BATCH.toDF("phrase_id", "phrase"))
    }),
      () => {
        val slots = PHRASE_BATCH.flatMap { case (pid, p) =>
          p.toLowerCase.split("[^\\p{L}\\p{Nd}]+").filter(_.nonEmpty)
            .zipWithIndex.map { case (t, i) => s"($pid, '$t', $i)" }
        }.mkString(", ")
        val terms = PHRASE_BATCH.flatMap(_._2.toLowerCase
            .split("[^\\p{L}\\p{Nd}]+")).filter(_.nonEmpty)
          .distinct.map(t => s"'$t'").mkString(", ")
        s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          "p AS (SELECT doc_id, unnest(toks) AS token, " +
          "unnest(range(len(toks))) AS pos FROM t), " +
          s"qt(pid, token, slot) AS (VALUES $slots), " +
          "ns AS (SELECT pid, count(*) AS n FROM qt GROUP BY pid), " +
          s"tp AS (SELECT * FROM p WHERE token IN ($terms)), " +
          "al AS (SELECT pid, doc_id, pos - slot AS start, " +
          "count(DISTINCT slot) AS hit FROM tp JOIN qt USING (token) " +
          "GROUP BY 1, 2, 3), " +
          "m AS (SELECT pid, doc_id, start FROM al JOIN ns USING (pid) " +
          "WHERE hit = n AND start >= 0) " +
          "SELECT pid AS phrase_id, doc_id, count(*) AS n_matches, " +
          "CAST(min(start) AS BIGINT) AS first_pos FROM m GROUP BY 1, 2"
      }),
    // lexical hard negatives: per query doc (ids 0-2), top-5 BM25-similar
    // docs excluding itself and its exact-fingerprint copies — the
    // retriever-training negative miner over the same standing index
    QueryDef("q_lex_negatives", ((s, d) => {
      val docs = Tables.documents(s, d)
      val (postings, stats) = bm25Index(s, d)
      Retrieval.lexicalHardNegatives(postings, stats,
        docs.where(col("doc_id") < 3).select("doc_id", "text"),
        TextAnalysis.fingerprints(docs), k = 5)
        .withColumn("rank", col("rank").cast("long"))
    }),
      // the q_bm25_batch scoring replay with query docs as their own query
      // strings, minus the fingerprint-identical exclusion set, ranked
      // AFTER exclusion
      () => {
        val qToks = TOKS.replace("lower(text)", "lower(query)")
        s"WITH q AS (SELECT doc_id AS query_id, text AS query FROM documents WHERE doc_id < 3), " +
          s"qt AS (SELECT query_id, unnest(list_distinct($qToks)) AS token FROM q), " +
          s"t AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
          "stats AS (SELECT count(*) AS n_docs, " +
          "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
          "terms AS (SELECT DISTINCT token FROM qt), " +
          "tp2 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl " +
          "FROM t JOIN terms ON list_contains(toks, token)), " +
          "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp2 GROUP BY token), " +
          "sc AS (SELECT qt.query_id, tp2.doc_id, count(*) AS n_terms, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp2 JOIN dfs USING (token) JOIN qt USING (token), stats " +
          "GROUP BY qt.query_id, tp2.doc_id), " +
          s"f AS (SELECT doc_id, ${fpSql("toks")} AS fp FROM t), " +
          "qf AS (SELECT q.query_id, f.fp AS qfp FROM q JOIN f ON q.query_id = f.doc_id), " +
          "excl AS (SELECT qf.query_id, f.doc_id FROM qf JOIN f ON f.fp = qf.qfp), " +
          "fs AS (SELECT sc.query_id, sc.doc_id, sc.n_terms, sc.score FROM sc " +
          "LEFT JOIN excl ON sc.query_id = excl.query_id AND sc.doc_id = excl.doc_id " +
          "WHERE excl.doc_id IS NULL), " +
          "r AS (SELECT query_id, doc_id, n_terms, score, " +
          "row_number() OVER (PARTITION BY query_id " +
          "ORDER BY score DESC, doc_id) AS rank FROM fs) " +
          "SELECT query_id, doc_id, n_terms, score, rank FROM r WHERE rank <= 5"
      }),
    // known-item retrieval eval off the standing index: each sampled
    // doc's 5-token prefix queries for the doc itself; one-row MRR@10 /
    // recall@1 / recall@10 (MRR in exact lcm-scaled integer arithmetic)
    QueryDef("q_retrieval_eval", ((s, d) => {
      val docs = Tables.documents(s, d)
      val (postings, stats) = bm25Index(s, d)
      Retrieval.knownItemEval(postings, stats,
        docs.where(col("doc_id") % 25 === 0), k = 10, queryTokens = 5)
    }),
      // known-item eval: the q_bm25_batch scoring replay with 5-token-prefix
      // queries, hits = rank of the query doc itself; MRR as exact
      // lcm(1..10)-scaled integer sum (double reciprocal sums are
      // summation-order-dependent across engines)
      () => (s"WITH $KNOWN_ITEM_BM25_CTES, " +
        "h AS (SELECT query_id, rank FROM r WHERE rank <= 10 AND doc_id = query_id), " +
        "nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q), " +
        "s AS (SELECT sum(CAST(2520 / rank AS BIGINT)) AS irr, " +
        "sum(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS h1, count(*) AS hk FROM h) " +
        "SELECT n_queries, " +
        "round((coalesce(irr, 0) / 2520.0) / n_queries, 4) AS mrr, " +
        "round(CAST(coalesce(h1, 0) AS DOUBLE) / n_queries, 4) AS recall_1, " +
        "round(CAST(hk AS DOUBLE) / n_queries, 4) AS recall_k FROM nq, s")),
    // nDCG@10 over the same standing index and known-item queries, with
    // graded qrels: the query doc itself rel 3, its two successor docs
    // rel 2 and 1 where they exist — deterministic and fully replayable
    QueryDef("q_ndcg", ((s, d) => {
      val docs = Tables.documents(s, d)
      val (postings, stats) = bm25Index(s, d)
      val qd = docs.where(col("doc_id") % 25 === 0)
      val qrels = qd.select(col("doc_id").as("query_id"))
        .select(col("query_id"), explode(array(
          struct(col("query_id").as("doc_id"), lit(3).as("rel")),
          struct((col("query_id") + 1).as("doc_id"), lit(2).as("rel")),
          struct((col("query_id") + 2).as("doc_id"), lit(1).as("rel"))))
          .as("qr"))
        .select(col("query_id"), col("qr.doc_id").as("doc_id"),
          col("qr.rel").as("rel"))
        .join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
      Retrieval.ndcgAtK(postings, stats, qd, qrels, k = 10, queryTokens = 5)
    }),
      // nDCG@10 over the same known-item ranking chain with graded qrels
      // (query doc rel 3, its two successor docs rel 2/1 where they exist);
      // each log term q6-rounds as gain / (ln(pos+1)/ln(2)) — the exact
      // expression the Spark side evaluates (libm-parity class)
      () => (s"WITH $KNOWN_ITEM_BM25_CTES, " +
        "qr AS (SELECT q.query_id, q.query_id + g.range AS doc_id, " +
        "CAST(3 - g.range AS BIGINT) AS rel FROM q, range(3) g), " +
        "qre AS MATERIALIZED (SELECT qr.query_id, qr.doc_id, qr.rel " +
        "FROM qr JOIN t ON t.doc_id = qr.doc_id), " +
        "dcg AS (SELECT r.query_id, " +
        "round(sum(round((power(2, qre.rel) - 1) / " +
        "(ln(r.rank + 1.0) / ln(2.0)), 6)), 6) AS dcg " +
        "FROM r JOIN qre ON r.query_id = qre.query_id AND r.doc_id = qre.doc_id " +
        "WHERE r.rank <= 10 GROUP BY r.query_id), " +
        "iw AS (SELECT query_id, rel, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY rel DESC, doc_id) AS i FROM qre), " +
        "idcg AS (SELECT query_id, round(sum(round((power(2, rel) - 1) / " +
        "(ln(i + 1.0) / ln(2.0)), 6)), 6) AS idcg FROM iw WHERE i <= 10 " +
        "GROUP BY query_id) " +
        "SELECT q.query_id, coalesce(dcg.dcg, 0.0) AS dcg, idcg.idcg, " +
        "CASE WHEN idcg.idcg > 0 THEN round(coalesce(dcg.dcg, 0.0) / idcg.idcg, 4) " +
        "END AS ndcg FROM q LEFT JOIN idcg USING (query_id) " +
        "LEFT JOIN dcg USING (query_id)")),
    // dense leg of hybrid retrieval: feature-hashed query vectors scored
    // by cosine against the hashed corpus — the exact-recall baseline the
    // ANN legs are measured against; WindowGroupLimit's partial pass
    // bounds the pre-shuffle volume to parts×k rows per query
    QueryDef("q_dense_topk", ((s, d) => {
      import s.implicits._
      Retrieval.denseTopKAll(Tables.documents(s, d),
        BM25_QUERIES.toDF("query_id", "query"), k = 10)
        .withColumn("rank", col("rank").cast("long"))
    }),
      // the dense hybrid leg alone: hashEmbed chain over corpus AND query
      // strings, densified, cosine-ranked per query on (rounded score
      // DESC, doc_id)
      () => {
        val qVals = BM25_QUERIES
          .map { case (id, q) => s"($id, '$q')" }.mkString(", ")
        s"WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, query " +
          s"FROM (VALUES $qVals) v(query_id, query)), " +
          s"${denseRunCtes(64, 10)} " +
          "SELECT query_id, doc_id, score, CAST(rank AS BIGINT) AS rank FROM dr"
      }),
    // reciprocal-rank fusion of the lexical (BM25, standing index) and
    // dense (hashed-vector cosine) runs — rank-only hybrid retrieval, no
    // score calibration; q3's term misses the lexical vocabulary
    // entirely, so its fused list is the dense run alone (n_runs = 1)
    QueryDef("q_rrf", ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val (postings, stats) = bm25Index(s, d)
      val qt = BM25_QUERIES.toDF("query_id", "query")
      val lex = Retrieval.bm25TopKAll(postings, stats, qt, k = 10)
      val dense = Retrieval.denseTopKAll(docs, qt, k = 10)
      Retrieval.rrfFuse(Seq(lex, dense), topK = 10)
    }),
      // RRF replay: the q_bm25_batch lexical chain (rank <= 10) UNION ALL
      // the q_dense_topk dense chain (rank <= 10), fused per (query, doc)
      // as a SORTED sum of 1/(60+rank) contributions (the Spark side folds
      // in ascending order too — unordered double sums are
      // summation-order-dependent), rounded to 6, re-ranked
      () => {
        val qVals = BM25_QUERIES
          .map { case (id, q) => s"($id, '$q')" }.mkString(", ")
        val qToks = TOKS.replace("lower(text)", "lower(query)")
        s"WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, query " +
          s"FROM (VALUES $qVals) v(query_id, query)), " +
          s"qt AS (SELECT query_id, unnest(list_distinct($qToks)) AS token FROM q), " +
          s"t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
          "stats AS (SELECT count(*) AS n_docs, " +
          "avg(CAST(len(toks) AS DOUBLE)) AS avgdl FROM t), " +
          "terms AS (SELECT DISTINCT token FROM qt), " +
          "tp2 AS (SELECT doc_id, token, " +
          "CAST(len(list_filter(toks, x -> x = token)) AS DOUBLE) AS tf, " +
          "CAST(len(toks) AS DOUBLE) AS dl " +
          "FROM t JOIN terms ON list_contains(toks, token)), " +
          "dfs AS (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df " +
          "FROM tp2 GROUP BY token), " +
          "sc AS (SELECT qt.query_id, tp2.doc_id, " +
          "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) * " +
          "tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 4) AS score " +
          "FROM tp2 JOIN dfs USING (token) JOIN qt USING (token), stats " +
          "GROUP BY qt.query_id, tp2.doc_id), " +
          "lr AS (SELECT query_id, doc_id, rank FROM " +
          "(SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id " +
          "ORDER BY score DESC, doc_id) AS rank FROM sc) WHERE rank <= 10), " +
          s"${denseRunCtes(64, 10)}, " +
          "u AS (SELECT query_id, doc_id, rank FROM lr " +
          "UNION ALL SELECT query_id, doc_id, rank FROM dr), " +
          "f AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_runs, " +
          "round(list_sum(list_sort(list(1.0 / (60.0 + rank)))), 6) AS rrf_score " +
          "FROM u GROUP BY 1, 2) " +
          "SELECT query_id, doc_id, n_runs, rrf_score, rank FROM " +
          "(SELECT query_id, doc_id, n_runs, rrf_score, " +
          "CAST(row_number() OVER (PARTITION BY query_id " +
          "ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank FROM f) " +
          "WHERE rank <= 10"
      }),
    // MMR diversified re-rank of the dense run: greedily pick 5 of each
    // query's top-10 maximizing λ·rel − (1−λ)·max-sim-to-selected — the
    // dedup-aware serving head; every frame is (queries × k)-sized, the
    // oracle is a per-step unrolled replay (the q_pagerank convention)
    QueryDef("q_mmr", ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val run = Retrieval.denseTopKAll(docs,
        BM25_QUERIES.toDF("query_id", "query"), k = 10)
      Retrieval.mmrRerank(run, TextAnalysis.hashEmbed(docs, 64),
        m = 5, lambda = 0.7)
    }),
      // greedy MMR unrolled per step over the dense-run candidates; the
      // q CTE feeds denseRunCtes exactly as in q_dense_topk
      () => {
        val qVals = BM25_QUERIES
          .map { case (id, q) => s"($id, '$q')" }.mkString(", ")
        s"WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, query " +
          s"FROM (VALUES $qVals) v(query_id, query)), " +
          mmrSql(64, 10, 5, 0.7)
      }),
    // leg-overlap diagnostics: how much the lexical and dense top-10s
    // actually intersect per query — the measurement that justifies (or
    // kills) RRF; q3 is lexical-miss so its row reports n_a = 0
    QueryDef("q_run_overlap", ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val (postings, stats) = bm25Index(s, d)
      val qt = BM25_QUERIES.toDF("query_id", "query")
      Retrieval.runOverlap(
        Retrieval.bm25TopKAll(postings, stats, qt, k = 10),
        Retrieval.denseTopKAll(docs, qt, k = 10))
    }),
      // run-overlap replay: the q_bm25_batch lexical chain and the dense
      // chain, set-intersected per query over a FULL OUTER join (q3 has no
      // lexical row)
      () => {
        s"WITH $twoRunsCtes, " +
          "sa AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_a, " +
          "list(doc_id) AS da FROM lr GROUP BY 1), " +
          "sb AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_b, " +
          "list(doc_id) AS db FROM dr GROUP BY 1), " +
          "j AS (SELECT coalesce(sa.query_id, sb.query_id) AS query_id, " +
          "coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b, " +
          "CAST(len(list_intersect(coalesce(da, []), coalesce(db, []))) AS BIGINT) " +
          "AS n_common FROM sa FULL OUTER JOIN sb ON sa.query_id = sb.query_id) " +
          "SELECT query_id, n_a, n_b, n_common, " +
          "CASE WHEN n_a + n_b - n_common > 0 THEN " +
          "round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 4) " +
          "ELSE 0.0 END AS jaccard, " +
          "CASE WHEN least(n_a, n_b) > 0 THEN " +
          "round(CAST(n_common AS DOUBLE) / least(n_a, n_b), 4) " +
          "ELSE 0.0 END AS overlap_coef FROM j"
      }),
    // rank-biased overlap between the same two runs — TOP-WEIGHTED
    // agreement (reversed top-10s read Jaccard 1.0 but low RBO)
    QueryDef("q_rbo", ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val (postings, stats) = bm25Index(s, d)
      val qt = BM25_QUERIES.toDF("query_id", "query")
      Retrieval.rboOverlap(
        Retrieval.bm25TopKAll(postings, stats, qt, k = 10),
        Retrieval.denseTopKAll(docs, qt, k = 10))
    }),
      // RBO replay: tail sum per common doc from its first co-present
      // depth; (1−p) as an explicit DOUBLE subtraction — DuckDB folds
      // 1 - 0.9 in DECIMAL to a DIFFERENT double (the MMR lesson)
      () => {
        val omp = "(CAST(1 AS DOUBLE) - CAST(0.9 AS DOUBLE))"
        s"WITH $twoRunsCtes, " +
          "pr AS (SELECT lr.query_id, greatest(lr.rank, dr.rank) AS m " +
          "FROM lr JOIN dr USING (query_id, doc_id)), " +
          "qq AS (SELECT DISTINCT query_id FROM " +
          "(SELECT query_id FROM lr UNION ALL SELECT query_id FROM dr) u), " +
          "rb AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_common, " +
          "sum(list_sum(list_transform(range(m - 1, 10), d0 -> " +
          s"$omp * power(CAST(0.9 AS DOUBLE), d0) / (d0 + 1)))) AS s " +
          "FROM pr GROUP BY 1) " +
          "SELECT qq.query_id, coalesce(rb.n_common, 0) AS n_common, " +
          "round(coalesce(rb.s, 0.0), 4) AS rbo " +
          "FROM qq LEFT JOIN rb USING (query_id)"
      }),
  )
}
