package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import Shared._

/** Curation steps: recipe pipelines and the ingest gate (`ops.Curation`),
  * URL and domain curation (`ops.WebCuration`), benchmark
  * decontamination (`ops.Decontam`), PII scrubbing and privacy checks
  * (`ops.Scrub`) and data contracts (`ops.Contracts`).
  */
object CurationQueries {

  /** q_ingest_gate fixture constants, shared by the query and its
    * oracle (the QUALITY_W convention). The eval sentinel is a phrase
    * that cannot occur in the synthetic corpus vocabulary.
    */
  private val INGEST_BANNER = "subscribe to our newsletter"

  private val INGEST_EVAL_TEXT = "ingest gate sentinel check passage"

  /** Stopword-bearing connective the %4 ∈ {2,3} increment classes get:
    * the synthetic corpus has NO English stopwords, so without it the
    * Gopher stopword rule rejects every doc and `keep` is a constant.
    * Inline (no newline) so it can never become a hot boilerplate line.
    */
  private val INGEST_FILLER =
    " with the rest of that batch and more to have it all be done"

  /** Deterministic q_ingest_gate injection: a site banner on every 3rd
    * doc (hot boilerplate), and on increment docs (doc_id%10 >= 8) by
    * residue — %4=0 an EXACT COPY of snapshot doc (doc_id−8)'s injected
    * text (the dup-probe target), %4=1 an eval-sentinel quote, %4=2 an
    * email. All keyed on doc_id residues so the oracle rebuilds the
    * same corpus.
    */
  private def ingestInject(docs: DataFrame): DataFrame = {
    val incr = col("doc_id") % 10 >= 8
    // inline appends FIRST, the banner line LAST: a class-specific suffix
    // glued onto the banner line would make that variant a hot shared
    // line of its own and scrub the marker away with it
    val inj0 = docs.select(col("doc_id"), concat(col("text"),
      when(incr && col("doc_id") % 4 === 1,
        lit(" ingest gate sentinel check")).otherwise(lit("")),
      when(incr && col("doc_id") % 4 === 2,
        lit(" mail bob@example.com")).otherwise(lit("")),
      when(incr && (col("doc_id") % 4 === 2 || col("doc_id") % 4 === 3),
        lit(INGEST_FILLER)).otherwise(lit("")),
      when(col("doc_id") % 3 === 0, concat(lit("\n"), lit(INGEST_BANNER)))
        .otherwise(lit(""))).as("text"))
    // by-NAME equi-join (Seq("doc_id")) on a +8-shifted key rather than
    // a `col("doc_id") - 8` expression condition: on a SELF-join an
    // unqualified reference in the condition has two candidate bindings,
    // and keying the source rows before the join removes the ambiguity
    // by construction.
    val src = inj0.select((col("doc_id") + 8).as("doc_id"),
      col("text").as("_st"))
    inj0.join(src, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(incr && col("doc_id") % 4 === 0 && col("_st").isNotNull,
          col("_st")).otherwise(col("text")).as("text"))
  }

  /** The q_ingest_gate eval-gram literal (bounded by contract — one
    * sentence; the Decontam.collectEvalGrams bounded-eval precedent).
    */
  private def ingestEvalGrams(s: SparkSession): Seq[String] = {
    import s.implicits._
    ops.Decontam.collectEvalGrams(
      Seq((0L, INGEST_EVAL_TEXT)).toDF("doc_id", "text"), "text", n = 3)
  }

  /** The substring-scrubbed corpus as a STANDING table (the bm25-index
    * pattern): v7/v8/v9 all curate the same rewritten corpus, and the
    * scrub's gram-ownership shuffle is the single most expensive stage of
    * each — "write the scrubbed corpus, then curate the written table" is
    * the production form the recipe docs prescribe, so the first caller
    * builds it once per version of the documents files and everyone after
    * reads parquet.
    */
  private def scrubbedCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    IndexTables.plain(s, IndexTables.ident("scrub_k8", docs))(
      Dedup.substringScrub(docs, k = 8).select(col("doc_id"), col("text")))
  }

  /** Standing recipe-prefix decision tables (the scrubbedCorpus /
    * qscored_v1 pattern): the gate→exact-dedup→SNM→lexical-decontam
    * chain the v5-v9 recipes share, built ONCE per documents snapshot
    * and read by every variant — the round-12 verdict's family fix
    * (the five recipes re-ran the identical prefix per query). Three
    * tables because the prefix input/stages differ: raw corpus
    * (v5/v6), substring-scrubbed corpus (v7), scrubbed + semantic
    * decontam with the surprisal REFIT on the sem survivors (v8/v9 —
    * derived FROM the scrub table so the shared chain isn't paid
    * twice). "_v1" pins the baked config (default gates, contamN = 3,
    * %97 eval split, semMinCos = 0.85): any threshold change must bump
    * it (the qscored_v1 rule). Oracles keep replaying the whole recipe
    * from documents.text, so a drift in the prefix build flips all
    * nine recipe rows red.
    */
  private def recipePrefixRaw(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    IndexTables.plain(s, IndexTables.ident("recipeprefix_raw_v1", docs))(
      Curation.recipePrefixDecisions(docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0), contamN = 3))
  }

  private def recipePrefixScrub(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    IndexTables.plain(s, IndexTables.ident("recipeprefix_scrub_v1", docs))(
      Curation.recipePrefixDecisions(
        scrubbedCorpus(s, d).where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0), contamN = 3))
  }

  private def recipePrefixScrubSem(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    IndexTables.plain(s,
      IndexTables.ident("recipeprefix_scrubsem_v1", docs))(
      Curation.recipePrefixSemExtend(recipePrefixScrub(s, d),
        scrubbedCorpus(s, d).where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0), semMinCos = 0.85))
  }

  /** Deterministic URL synthesis for the web-provenance queries (the
    * documents table carries no URL column): scheme/host case, public
    * suffix, explicit default port, path id (doc_id % 50 — forces
    * canonical collisions), trailing slash, tracking params, and fragment
    * all keyed on doc_id residues so the oracle rebuilds the same URLs.
    */
  private def urlInject(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("n_chars"), concat(
      when(col("doc_id") % 4 === 0, lit("HTTPS://WWW."))
        .otherwise(lit("https://")),
      col("source"),
      when(col("doc_id") % 3 === 0, lit(".co.uk")).otherwise(lit(".org")),
      when(col("doc_id") % 5 === 0, lit(":443")).otherwise(lit("")),
      lit("/p/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("?utm_source=feed&b=2&a=1"))
        .otherwise(lit("?b=2&a=1")),
      when(col("doc_id") % 6 === 0, lit("#frag")).otherwise(lit("")))
      .as("url"))

  /** q_domain_cap / q_k_anon / q_l_diversity / q_code_signals shared
    * constants (oracles interpolate these — the QUALITY_W convention).
    */
  private val DOMAIN_CAP = 8

  private val K_ANON = 5

  private val L_DIV = 5

  private val BLOCKED_DOMAINS: Seq[String] =
    Seq("src3.org", "src7.co.uk", "src11.org", "src19.co.uk")

  /** q_domain_cap_incr's cap: sized ABOVE the ~10-doc base batches (most
    * domains keep their whole base) so the increment's remaining quota
    * is small but nonzero — the binding-at-the-margin case.
    */
  private val DOMAIN_CAP_INCR = 12

  /** q_profile's audited columns (oracle interpolates the same list). */
  private val PROFILE_COLS =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** q_ingest_gate's (increment, standing line-frequency index, standing
    * cleaned-text fingerprints); the snapshot is doc_id % 10 < 8.
    */
  private def ingestGate(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = ingestInject(Tables.documents(s, d))
    val base = docs.where(col("doc_id") % 10 < 8)
    val idx = Dedup.lineFreqIndex(base, IndexTables.ident("ingate_lf", base))
    val fps = IndexTables.plain(s, IndexTables.ident("ingate_fp", base))(
      ops.Scrub.scrubPii(Dedup.boilerplateScrub(base, minDocs = 3))
        .select(md5(col("text")).as("fp")).distinct())
    (docs.where(col("doc_id") % 10 >= 8), idx, fps)
  }

  /** DuckDB mirror of TextAnalysis.fingerprint incl. the zero-token guard
    * (`raw:`-prefixed md5 of the raw text — untokenizable documents never
    * share a fingerprint unless byte-identical). `toksExpr` must be
    * evaluated in a scope where `text` is also in scope.
    */
  /** DuckDB mirror of [[urlInject]] + WebCuration's parse/normalize/
    * registered-domain chain. Exposes CTEs `urls` (raw), `rd` (adds
    * host, norm_url, reg_domain). The regexes and the multi-suffix list
    * interpolate from the Scala constants — one definition per rule.
    */
  private def urlCtes: String = {
    val suffixes = WebCuration.MULTI_SUFFIXES
      .map(sfx => s"'$sfx'").mkString(", ")
    "urls AS (SELECT doc_id, n_chars, " +
      "CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END || source || " +
      "CASE WHEN doc_id % 3 = 0 THEN '.co.uk' ELSE '.org' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END || " +
      "'/p/' || CAST(doc_id % 50 AS VARCHAR) || " +
      "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END || " +
      "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1' ELSE '?b=2&a=1' END || " +
      "CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url FROM documents), " +
      "parts AS (SELECT doc_id, n_chars, url, " +
      "lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme, " +
      "lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)) AS host, " +
      "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)', 1) AS port, " +
      "regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path, " +
      "regexp_extract(url, '\\?([^#]*)', 1) AS qq FROM urls), " +
      "qs AS (SELECT *, array_to_string(list_sort(list_filter(" +
      "string_split(qq, '&'), p -> p <> '' AND NOT regexp_matches(p, " +
      s"'${WebCuration.TRACKING_PARAM_RE}'))), '&') AS q2 FROM parts), " +
      "norm AS (SELECT doc_id, n_chars, url, host, scheme || '://' || host || " +
      "CASE WHEN port <> '' AND NOT ((scheme = 'https' AND port = '443') " +
      "OR (scheme = 'http' AND port = '80')) THEN ':' || port ELSE '' END || " +
      "CASE WHEN path = '' THEN '/' WHEN length(path) > 1 AND path LIKE '%/' " +
      "THEN substring(path, 1, length(path) - 1) ELSE path END || " +
      "CASE WHEN q2 <> '' THEN '?' || q2 ELSE '' END AS norm_url FROM qs), " +
      "rd AS (SELECT *, CASE WHEN len(labels) >= 3 AND " +
      s"array_to_string(labels[-2:], '.') IN ($suffixes) " +
      "THEN array_to_string(labels[-3:], '.') " +
      "WHEN len(labels) >= 2 THEN array_to_string(labels[-2:], '.') " +
      "ELSE host END AS reg_domain FROM " +
      "(SELECT *, string_split(host, '.') AS labels FROM norm) lb)"
  }

  /** v6 recipe bucket rates: keep quintiles 1-3 wholesale, thin 4 and 5. */
  private val V6_PPL_RATES = Seq(1.0, 1.0, 1.0, 0.5, 0.1)

  /** The v6 fractional-rate bucket predicate, shared by the v6 and v7
    * recipe oracles.
    */
  private lazy val v6PplPredicate: String =
    "'0' || substring(md5('ppl' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
      "CASE bucket " + V6_PPL_RATES.zipWithIndex.map { case (r, i) =>
        s"WHEN ${i + 1} THEN '${ops.Sampling.hexThreshold(r)}'"
      }.mkString(" ") + " END"

  /** DuckDB replay of the END-TO-END q_ingest_gate: injection →
    * line-level boilerplate removal (union counts for the increment,
    * base-only counts for the snapshot fingerprints — the two forms
    * boilerplateScrubApply vs boilerplateScrub compute) → PII chain →
    * Gopher gate on the cleaned text (the factored gopher bodies run
    * against the `piiu` CTE) → eval-sentinel gram flag → exact md5 dup
    * probe. `piiu` is MATERIALIZED (the q_clean_corpus_v8 CTE-inlining
    * lesson: it feeds four consumers).
    */
  private def ingestGateSql: String = {
    def pii(src: String) =
      s"SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t, " +
        s"'${Scrub.EMAIL_RE}', '<EMAIL>', 'g'), " +
        s"'${Scrub.IPV4_RE}', '<IP>', 'g'), " +
        s"'${Scrub.PHONE_RE}', '<PHONE>', 'g') AS text FROM $src"
    "WITH inj0 AS (SELECT doc_id, text || " +
      "CASE WHEN doc_id % 10 >= 8 AND doc_id % 4 = 1 THEN " +
      "' ingest gate sentinel check' ELSE '' END || " +
      "CASE WHEN doc_id % 10 >= 8 AND doc_id % 4 = 2 THEN " +
      "' mail bob@example.com' ELSE '' END || " +
      "CASE WHEN doc_id % 10 >= 8 AND doc_id % 4 IN (2, 3) THEN " +
      s"'$INGEST_FILLER' ELSE '' END || " +
      s"CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$INGEST_BANNER' ELSE '' END " +
      "AS t FROM documents), " +
      "inj AS (SELECT a.doc_id, CASE WHEN a.doc_id % 10 >= 8 AND " +
      "a.doc_id % 4 = 0 AND b.t IS NOT NULL THEN b.t ELSE a.t END AS t " +
      "FROM inj0 a LEFT JOIN inj0 b ON b.doc_id = a.doc_id - 8), " +
      "pp AS (SELECT doc_id, string_split_regex(t, '\\r?\\n') AS parts FROM inj), " +
      "l AS (SELECT doc_id, generate_subscripts(parts, 1) - 1 AS line_no, " +
      "trim(unnest(parts)) AS line FROM pp), " +
      "le AS (SELECT * FROM l WHERE len(line) > 0), " +
      "hotu AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd " +
      "FROM le GROUP BY 1) c WHERE nd >= 3), " +
      "hotb AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd " +
      "FROM le WHERE doc_id % 10 < 8 GROUP BY 1) c WHERE nd >= 3), " +
      "keepu AS (SELECT doc_id, line_no, line FROM le WHERE doc_id % 10 >= 8 " +
      "AND line NOT IN (SELECT line FROM hotu)), " +
      "agu AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) " +
      "AS kept FROM keepu GROUP BY doc_id), " +
      "scrubu AS (SELECT inj.doc_id, coalesce(agu.kept, '') AS t FROM inj " +
      "LEFT JOIN agu USING (doc_id) WHERE inj.doc_id % 10 >= 8), " +
      "keepb AS (SELECT doc_id, line_no, line FROM le WHERE doc_id % 10 < 8 " +
      "AND line NOT IN (SELECT line FROM hotb)), " +
      "agb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) " +
      "AS kept FROM keepb GROUP BY doc_id), " +
      "scrubb AS (SELECT inj.doc_id, coalesce(agb.kept, '') AS t FROM inj " +
      "LEFT JOIN agb USING (doc_id) WHERE inj.doc_id % 10 < 8), " +
      s"piiu AS MATERIALIZED (${pii("scrubu")}), " +
      s"piib AS (${pii("scrubb")}), " +
      "fps AS (SELECT DISTINCT md5(text) AS fp FROM piib), " +
      s"ev AS (SELECT '$INGEST_EVAL_TEXT' AS text), " +
      s"evt AS (SELECT $TOKS AS toks FROM ev), " +
      "evg AS (SELECT DISTINCT array_to_string(toks[(i+1):(i+3)], ' ') AS g " +
      "FROM (SELECT toks, unnest(range(len(toks)-2)) AS i FROM evt) x), " +
      s"put AS (SELECT doc_id, $TOKS AS toks FROM piiu), " +
      "contam AS (SELECT DISTINCT doc_id FROM (SELECT doc_id, " +
      "array_to_string(toks[(i+1):(i+3)], ' ') AS g FROM (SELECT doc_id, " +
      "toks, unnest(range(len(toks)-2)) AS i FROM put WHERE len(toks) >= 3) y) z " +
      "WHERE g IN (SELECT g FROM evg)), " +
      "dup AS (SELECT DISTINCT doc_id FROM piiu " +
      "WHERE md5(text) IN (SELECT fp FROM fps)), " +
      s"g AS (SELECT doc_id, pass AS pass_struct FROM " +
      s"(${gopherRulesSql("piiu")}) s), " +
      s"rep AS (SELECT doc_id, pass AS pass_rep FROM " +
      s"(${gopherRepSql(inject = false, src = "piiu")}) s2) " +
      "SELECT p.doc_id, g.pass_struct, rep.pass_rep, " +
      "CAST(p.doc_id IN (SELECT doc_id FROM contam) AS INT) AS contaminated, " +
      "CAST(p.doc_id IN (SELECT doc_id FROM dup) AS INT) AS dup_of_corpus, " +
      "CAST(g.pass_struct = 1 AND rep.pass_rep = 1 AND " +
      "p.doc_id NOT IN (SELECT doc_id FROM contam) AND " +
      "p.doc_id NOT IN (SELECT doc_id FROM dup) AS INT) AS keep " +
      "FROM piiu p JOIN g USING (doc_id) JOIN rep USING (doc_id)"
  }

  /** [[argmaxBlockedCtes]] generalized to any token source and a CTE-name
    * suffix, so a composite oracle (the v8 recipe) can run the SAME
    * blocking chain over two populations (recipe survivors' toks, raw
    * eval docs) inside one WITH without name collisions. The suffixed
    * chain is textually the [[argmaxBlockedCtes]] chain — one semantics,
    * two spellings guarded by the shared hash/densify/argmax formulas
    * below.
    */
  private def argmaxBlockedCtesFrom(dim: Int, sfx: String,
      tokSource: String): String =
    s"t$sfx AS ($tokSource), " +
      s"h$sfx AS (SELECT doc_id, md5(tok) AS hx FROM t$sfx), " +
      s"hb$sfx AS (SELECT doc_id, " +
      s"CAST(CAST(('0x' || substring(hx, 1, 8)) AS UBIGINT) % $dim AS INT) AS dim_idx, " +
      "CASE WHEN CAST(('0x' || substring(hx, 9, 1)) AS UBIGINT) % 2 = 0 " +
      s"THEN 1.0 ELSE -1.0 END AS sgn FROM h$sfx), " +
      s"sv$sfx AS (SELECT doc_id, dim_idx, sum(sgn) AS value FROM hb$sfx " +
      "GROUP BY doc_id, dim_idx), " +
      s"ids$sfx AS (SELECT DISTINCT doc_id FROM sv$sfx), " +
      s"grid$sfx AS (SELECT ids$sfx.doc_id, r.range AS i FROM ids$sfx, range($dim) r), " +
      s"dv$sfx AS (SELECT g.doc_id, g.i, coalesce(s.value, 0.0) AS v FROM grid$sfx g " +
      s"LEFT JOIN sv$sfx s ON s.doc_id = g.doc_id AND s.dim_idx = g.i), " +
      s"e$sfx AS (SELECT doc_id AS vec_id, v, list_transform(v, x -> abs(x)) AS a " +
      s"FROM (SELECT doc_id, list(v ORDER BY i) AS v FROM dv$sfx GROUP BY doc_id)), " +
      // MATERIALIZED: the chain terminal is consumed 2× downstream
      // (semp join + semdocs join for the "d" chain) and is the whole
      // embedding cost — same per-reference-inlining guard as recipeV5Sql
      s"b$sfx AS MATERIALIZED (SELECT vec_id, v, " +
      "CAST(list_position(a, list_max(a)) AS BIGINT) AS block " +
      s"FROM e$sfx WHERE sqrt(list_dot_product(v, v)) > 0)"

  /** The v8 semantic-decontamination CTE block, spliced into
    * [[recipeV5Sql]] after `dec`: embed the s5 survivors (their recipe
    * toks — the scrubbed text's tokenization) and the RAW eval docs under
    * the same argmax blocking, join on block, and keep survivors whose
    * max rounded cosine stays under `minCos` — the DuckDB mirror of
    * `Decontam.semanticContamination` filtered to is_contam = 0. Ends in
    * `semdocs(doc_id, toks)`.
    */
  private def semDecontamCtes(minCos: Double): String =
    argmaxBlockedCtesFrom(64, "d",
      "SELECT doc_id, unnest(toks) AS tok FROM dec") + ", " +
      argmaxBlockedCtesFrom(64, "q",
        s"SELECT doc_id, unnest($TOKS) AS tok FROM documents WHERE doc_id % 97 = 0") + ", " +
      "semp AS (SELECT bd.vec_id AS a_id, " +
      "round(list_cosine_similarity(bd.v, bq.v), 4) AS c " +
      "FROM bd JOIN bq ON bd.block = bq.block), " +
      "semm AS (SELECT a_id, max(c) AS mx FROM semp GROUP BY a_id), " +
      // MATERIALIZED: semdocs feeds the surprisal chain AND two stage
      // counts — same inlining-blowup guard as `dec` in [[recipeV5Sql]]
      "semdocs AS MATERIALIZED (SELECT dec.doc_id, dec.toks FROM dec " +
      "JOIN bd ON dec.doc_id = bd.vec_id " +
      "LEFT JOIN semm ON bd.vec_id = semm.a_id " +
      s"WHERE coalesce(semm.mx, -2) < $minCos)"

  /** The full v5/v6 recipe oracle (quality → exact dedup → SNM clusters →
    * decontam → surprisal-quantile stage → span dedup) with the perplexity
    * stage's keep predicate as the one parameter: v5 passes the hard
    * bucket-prefix cut, v6 the per-bucket hash-fraction predicate —
    * everything upstream/downstream is shared so the two oracles cannot
    * drift.
    */
  private def recipeV5Sql(pplPredicate: String,
      prefixCtes: String = "", docsFrom: String = "documents",
      semMinCos: Option[Double] = None,
      resampleK: Option[Int] = None): String = {
    // optional v8 semantic-decontamination stage: CTE block after `dec`,
    // downstream stages re-sourced to its survivors, stage labels shifted
    val semBlock = semMinCos.map(c => semDecontamCtes(c) + ", ").getOrElse("")
    val pplSrc = if (semMinCos.isDefined) "semdocs" else "dec"
    val pplLabel = if (semMinCos.isDefined) "s7_perplexity" else "s6_perplexity"
    val spanIdx = (if (semMinCos.isDefined) 8 else 7) +
      (if (resampleK.isDefined) 1 else 0)
    val spanPfx = s"s$spanIdx"
    val semRow = if (semMinCos.isDefined)
      "UNION ALL SELECT 's6_sem_decontam', count(*) FROM semdocs " else ""
    // optional v9 importance-resample stage: length-bucket likelihood
    // ratios (reference = the raw t0 corpus), the A-ES clock race,
    // ORDER BY clock LIMIT k — the q_resample replay re-rooted on the
    // recipe's own frames; span dedup then runs over the resampled set.
    // Edges come from the ONE shared constant the Spark side buckets
    // with, so engine and oracle cannot drift
    val resampleEdges = ops.Curation.RESAMPLE_EDGES
    val rBex = resampleEdges.map(e =>
      s"CAST(length(text) >= $e AS INT)").mkString(" + ")
    val resBlock = resampleK.map { kF =>
      s"spiner AS (SELECT CAST(range AS INT) AS bucket FROM range(${resampleEdges.length + 1})), " +
        s"rref AS MATERIALIZED (SELECT spiner.bucket, CAST(coalesce(cnt, 0) AS BIGINT) AS ref_cnt " +
        s"FROM spiner LEFT JOIN (SELECT $rBex AS bucket, count(*) AS cnt " +
        "FROM t0 GROUP BY 1) rr USING (bucket)), " +
        "rsv AS MATERIALIZED (SELECT t0.doc_id, text FROM t0 JOIN ppl USING (doc_id)), " +
        s"rcur AS MATERIALIZED (SELECT spiner.bucket, CAST(coalesce(cnt, 0) AS BIGINT) AS cur_cnt " +
        s"FROM spiner LEFT JOIN (SELECT $rBex AS bucket, count(*) AS cnt " +
        "FROM rsv GROUP BY 1) rc USING (bucket)), " +
        "rw AS (SELECT rref.bucket, ((ref_cnt + 0.5) / (rt.rn + 2.5)) / " +
        "((cur_cnt + 0.5) / (ct.cn + 2.5)) AS w " +
        "FROM rref JOIN rcur ON rref.bucket = rcur.bucket, " +
        "(SELECT sum(ref_cnt) AS rn FROM rref) rt, " +
        "(SELECT sum(cur_cnt) AS cn FROM rcur) ct), " +
        s"rcl AS (SELECT doc_id, -ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) " +
        "AS UBIGINT) + 0.5) / 4294967296.0) / w AS clock " +
        s"FROM (SELECT doc_id, $rBex AS bucket FROM rsv) rb JOIN rw USING (bucket)), " +
        s"resampled AS MATERIALIZED (SELECT doc_id FROM rcl ORDER BY clock, doc_id LIMIT $kF), "
    }.getOrElse("")
    val resRow = if (resampleK.isDefined)
      s"UNION ALL SELECT 's${spanIdx - 1}_resample', count(*) FROM resampled "
    else ""
    // Every multiply-referenced stage CTE is MATERIALIZED (its own stage-
    // count row + 1-2 downstream consumers): DuckDB 1.0 inlines CTEs per
    // reference, so the unmaterialized recipe re-ran the whole upstream
    // chain once per stage row — q_clean_corpus_v7 replayed in 302 s,
    // v5 in 105 s, v6 in 43 s, and together they blew the driver's ~600 s
    // compare window (CORRECTNESS_r13 = {}). Same fix as the v8 `dec`
    // measurement below (302 s-class → seconds).
    s"WITH RECURSIVE ${prefixCtes}t0 AS MATERIALIZED (SELECT doc_id, text, $TOKS AS toks " +
      s"FROM $docsFrom WHERE doc_id % 97 <> 0), " +
      "passed AS MATERIALIZED (SELECT doc_id, text, toks FROM t0 WHERE len(toks) >= 10 " +
      s"AND CAST(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g')) AS DOUBLE) " +
      "/ greatest(length(text), 1) <= 0.35 " +
      "AND CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS DOUBLE) " +
      "/ greatest(len(toks), 1) <= 0.7), " +
      "keepw AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, " +
      "md5(array_to_string(toks, ' ')) AS fp FROM passed) GROUP BY fp), " +
      "exact AS MATERIALIZED (SELECT doc_id, text, toks FROM passed " +
      "WHERE doc_id IN (SELECT doc_id FROM keepw)), " +
      sortedCtes("exact") + ", " +
      "prs AS MATERIALIZED (SELECT a_id, b_id FROM j WHERE jaccard >= 0.9), " +
      "edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM prs " +
      "UNION SELECT b_id, a_id FROM prs), " +
      "reach(id, lbl) AS (SELECT src, src FROM edges " +
      "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
      "drops AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) <> id), " +
      "near AS MATERIALIZED (SELECT doc_id, toks FROM exact " +
      "WHERE doc_id NOT IN (SELECT id FROM drops)), " +
      s"ev AS (SELECT $TOKS AS toks FROM documents WHERE doc_id % 97 = 0), " +
      "evi AS (SELECT toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM ev), " +
      "evg AS (SELECT DISTINCT array_to_string(toks[i+1:i+3], ' ') AS g FROM evi), " +
      "ni AS (SELECT doc_id, toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM near), " +
      "ng AS (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS g FROM ni), " +
      "contam AS (SELECT DISTINCT ng.doc_id FROM ng JOIN evg USING (g)), " +
      // dec is ALWAYS materialized since round 14: it feeds the surprisal
      // chain, pdocs, its own stage row, and (v8) semdocs. The original
      // v8-only guard carried the measurement: the plain v8 oracle ran
      // minutes; materialized, 4.5 s.
      "dec AS MATERIALIZED " +
      "(SELECT doc_id, toks FROM near " +
      "WHERE doc_id NOT IN (SELECT doc_id FROM contam)), " +
      semBlock +
      s"st AS MATERIALIZED (SELECT doc_id, unnest(toks) AS word FROM $pplSrc), " +
      "stf AS MATERIALIZED (SELECT word, count(*) AS cnt FROM st GROUP BY word), " +
      "sn AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM stf), " +
      "ss AS MATERIALIZED (SELECT doc_id, round(avg(-ln(cnt / n_total)), 4) AS sc " +
      "FROM st JOIN stf USING (word), sn GROUP BY doc_id), " +
      "scnt AS MATERIALIZED (SELECT sc, count(*) AS c FROM ss GROUP BY 1), " +
      "sna AS (SELECT CAST(sum(c) AS DOUBLE) AS n_all FROM scnt), " +
      "scum AS (SELECT sc, c, sum(c) OVER (ORDER BY sc " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM scnt), " +
      "sb AS (SELECT sc, CAST(floor((cum - c) * 5 / n_all) AS INT) + 1 " +
      "AS bucket FROM scum, sna), " +
      "ppl AS MATERIALIZED (SELECT doc_id FROM ss JOIN sb USING (sc) " +
      s"WHERE $pplPredicate), " +
      resBlock +
      s"pdocs AS (SELECT doc_id, toks FROM $pplSrc " +
      s"WHERE doc_id IN (SELECT doc_id FROM " +
      s"${if (resampleK.isDefined) "resampled" else "ppl"})), " +
      "sp0 AS (SELECT doc_id, toks, " +
      "unnest(range(CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS i FROM pdocs), " +
      "sp AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS span_idx, " +
      "array_to_string(toks[i*20+1 : i*20+20], ' ') AS span FROM sp0), " +
      "own AS (SELECT doc_id, span_idx, " +
      "row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn FROM sp) " +
      "SELECT 's1_raw' AS stage, count(*) AS n FROM t0 " +
      "UNION ALL SELECT 's2_quality', count(*) FROM passed " +
      "UNION ALL SELECT 's3_exact_dedup', count(*) FROM exact " +
      "UNION ALL SELECT 's4_near_dedup', count(*) FROM near " +
      "UNION ALL SELECT 's5_decontam', count(*) FROM dec " +
      semRow +
      s"UNION ALL SELECT '$pplLabel', count(*) FROM ppl " +
      resRow +
      s"UNION ALL SELECT '${spanPfx}_spans_total', count(*) FROM sp " +
      s"UNION ALL SELECT '${spanPfx}_spans_kept', count(*) FROM own WHERE rn = 1"
  }

  val all: Seq[QueryDef] = Seq(
    // C4-style cleaning pipeline: quality filters → exact dedup → report
    QueryDef("q_clean_corpus", ((s, d) =>
      Curation.cleanCorpusStats(Tables.documents(s, d))),
      () => (s"WITH passed AS (SELECT doc_id, lang, source, text FROM " +
        s"(SELECT *, $TOKS AS toks FROM documents) " +
        "WHERE len(toks) >= 10 " +
        "AND CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) " +
        "/ greatest(length(text), 1) <= 0.35 " +
        "AND CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) <= 0.7), " +
        s"keep AS (SELECT min(doc_id) AS doc_id FROM " +
        s"(SELECT doc_id, md5(array_to_string($TOKS, ' ')) AS fp FROM passed) GROUP BY fp) " +
        "SELECT lang, source, count(*) AS n_kept FROM passed " +
        "WHERE doc_id IN (SELECT doc_id FROM keep) GROUP BY lang, source")),
    // v2: per-source length thresholds + language-agreement gate (drop
    // docs whose predicted language disagrees with the label)
    QueryDef("q_clean_corpus_v2", ((s, d) =>
      Curation.cleanCorpusV2Stats(Tables.documents(s, d),
        minTokensBySource = Map("src0" -> 60, "src1" -> 40))),
      // v2: v1's chain + per-source min-token CASE + pred_lang = lang gate
      // (scoring/prediction SQL generated from the same LANG_PROFILES the
      // Spark side uses — see LANG_SCORE_COLS/LANG_PRED_CASE)
      () => (s"WITH t AS (SELECT doc_id, lang, source, text, $TOKS AS toks, " +
        s"$LANG_PAD AS pad FROM documents), " +
        s"s AS (SELECT *, $LANG_SCORE_COLS FROM t), " +
        s"pred AS (SELECT *, $LANG_PRED_CASE AS pred_lang FROM s), " +
        // MATERIALIZED: passed feeds the keep subquery AND the final
        // grouped scan — unmaterialized, the lang-scoring chain ran twice
        "passed AS MATERIALIZED (SELECT doc_id, lang, source, toks FROM pred " +
        "WHERE len(toks) >= CASE WHEN source = 'src0' THEN 60 " +
        "WHEN source = 'src1' THEN 40 ELSE 10 END " +
        "AND CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) " +
        "/ greatest(length(text), 1) <= 0.35 " +
        "AND CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) <= 0.7 " +
        "AND pred_lang = lang), " +
        "keep AS (SELECT min(doc_id) AS doc_id FROM " +
        "(SELECT doc_id, md5(array_to_string(toks, ' ')) AS fp FROM passed) GROUP BY fp) " +
        "SELECT lang, source, count(*) AS n_kept FROM passed " +
        "WHERE doc_id IN (SELECT doc_id FROM keep) GROUP BY lang, source")),
    // v3: the COMPLETE C4 recipe — quality gates → exact dedup → SNM
    // near-dup cluster drop → span dedup — reported as the per-stage
    // attrition counts a data team reads after a cleaning run
    QueryDef("q_clean_corpus_v3", ((s, d) =>
      Curation.cleanCorpusV3Stats(Tables.documents(s, d))),
      // v3: quality CTE (as v1) → exact-dedup winners → sorted-neighborhood
      // pairs OVER THE SURVIVORS (sortedCtes parameterized source) →
      // recursive-CTE components → span ownership; one count per stage
      () => (s"WITH RECURSIVE t0 AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
        "passed AS MATERIALIZED (SELECT doc_id, text, toks FROM t0 WHERE len(toks) >= 10 " +
        s"AND CAST(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g')) AS DOUBLE) " +
        "/ greatest(length(text), 1) <= 0.35 " +
        "AND CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) <= 0.7), " +
        "keepw AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, " +
        "md5(array_to_string(toks, ' ')) AS fp FROM passed) GROUP BY fp), " +
        "exact AS MATERIALIZED (SELECT doc_id, text, toks FROM passed " +
        "WHERE doc_id IN (SELECT doc_id FROM keepw)), " +
        sortedCtes("exact") + ", " +
        "prs AS MATERIALIZED (SELECT a_id, b_id FROM j WHERE jaccard >= 0.9), " +
        "edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM prs " +
        "UNION SELECT b_id, a_id FROM prs), " +
        "reach(id, lbl) AS (SELECT src, src FROM edges " +
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
        "drops AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) <> id), " +
        "near AS MATERIALIZED (SELECT doc_id, toks FROM exact " +
        "WHERE doc_id NOT IN (SELECT id FROM drops)), " +
        "sp0 AS (SELECT doc_id, toks, " +
        "unnest(range(CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS i FROM near), " +
        "sp AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS span_idx, " +
        "array_to_string(toks[i*20+1 : i*20+20], ' ') AS span FROM sp0), " +
        "own AS (SELECT doc_id, span_idx, " +
        "row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn FROM sp) " +
        "SELECT 's1_raw' AS stage, count(*) AS n FROM documents " +
        "UNION ALL SELECT 's2_quality', count(*) FROM passed " +
        "UNION ALL SELECT 's3_exact_dedup', count(*) FROM exact " +
        "UNION ALL SELECT 's4_near_dedup', count(*) FROM near " +
        "UNION ALL SELECT 's5_spans_total', count(*) FROM sp " +
        "UNION ALL SELECT 's5_spans_kept', count(*) FROM own WHERE rn = 1")),
    // benchmark decontamination: eval set = every 97th doc_id (a stand-in
    // for a held-out benchmark table); n=3 because the synthetic corpus
    // vocabulary is ~30 words (n=13, the production default, finds zero
    // overlap here — measured)
    QueryDef("q_decontam", ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontam.contaminationCounts(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
    }),
      () => (s"WITH tr AS (SELECT doc_id, $TOKS AS toks FROM documents WHERE doc_id % 97 <> 0), " +
        s"ev AS (SELECT $TOKS AS toks FROM documents WHERE doc_id % 97 = 0), " +
        "evi AS (SELECT toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM ev), " +
        "evg AS (SELECT DISTINCT array_to_string(toks[i+1:i+3], ' ') AS g FROM evi), " +
        "tri AS (SELECT doc_id, toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM tr), " +
        "trg AS (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS g FROM tri), " +
        "m AS (SELECT doc_id, count(DISTINCT g) AS nc FROM trg JOIN evg USING (g) GROUP BY doc_id) " +
        "SELECT tr.doc_id, coalesce(m.nc, 0) AS n_contam, " +
        "CAST(coalesce(m.nc, 0) > 0 AS INT) AS contaminated " +
        "FROM tr LEFT JOIN m USING (doc_id)")),
    // graded decontam: overlap normalized by the doc's own gram count —
    // what threshold/downweight policies actually consume
    QueryDef("q_contam_frac", ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontam.contaminationFraction(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
    }),
      // graded decontam over the same gram CTEs, + per-doc distinct-gram
      // denominator
      () => (s"WITH tr AS (SELECT doc_id, $TOKS AS toks FROM documents WHERE doc_id % 97 <> 0), " +
        s"ev AS (SELECT $TOKS AS toks FROM documents WHERE doc_id % 97 = 0), " +
        "evi AS (SELECT toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM ev), " +
        "evg AS (SELECT DISTINCT array_to_string(toks[i+1:i+3], ' ') AS g FROM evi), " +
        "tri AS (SELECT doc_id, toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM tr), " +
        "trg AS (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS g FROM tri), " +
        "ng AS (SELECT doc_id, count(DISTINCT g) AS ng FROM trg GROUP BY doc_id), " +
        "m AS (SELECT doc_id, count(DISTINCT g) AS nc FROM trg JOIN evg USING (g) GROUP BY doc_id) " +
        "SELECT tr.doc_id, CAST(coalesce(ng.ng, 0) AS BIGINT) AS n_grams, " +
        "CAST(coalesce(m.nc, 0) AS BIGINT) AS n_contam, " +
        "round(CASE WHEN coalesce(ng.ng, 0) > 0 " +
        "THEN CAST(coalesce(m.nc, 0) AS DOUBLE) / ng.ng ELSE 0 END, 4) AS contam_frac " +
        "FROM tr LEFT JOIN ng USING (doc_id) LEFT JOIN m USING (doc_id)")),
    // SEMANTIC decontamination: paraphrase-robust eval-overlap flags via
    // hashed-vector cosine under the q_semdedup_text argmax blocking —
    // catches reworded benchmark items the n-gram family (q_decontam)
    // can't see; the eval assignment is broadcast (bounded by contract)
    QueryDef("q_sem_decontam", ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontam.semanticContamination(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        minCos = 0.9)
    }),
      // the argmax-blocked embedding chain (shared CTEs with the
      // q_semdedup_text oracle) split into train/eval populations by the
      // %97 convention, block-joined, max rounded cosine per train doc
      () => (s"WITH ${argmaxBlockedCtes(64)}, " +
        "tr AS (SELECT * FROM b WHERE vec_id % 97 <> 0), " +
        "ev AS (SELECT * FROM b WHERE vec_id % 97 = 0), " +
        "p AS (SELECT tr.vec_id AS a_id, " +
        "round(list_cosine_similarity(tr.v, ev.v), 4) AS c " +
        "FROM tr JOIN ev ON tr.block = ev.block), " +
        "m AS (SELECT a_id, max(c) AS mx FROM p GROUP BY a_id) " +
        "SELECT tr.vec_id, tr.block, m.mx AS max_probe_cos, " +
        "CAST(CASE WHEN coalesce(m.mx, -2) >= 0.9 THEN 1 ELSE 0 END AS INT) AS is_contam " +
        "FROM tr LEFT JOIN m ON tr.vec_id = m.a_id")),
    // span-level decontamination: remove exactly the benchmark-overlapping
    // token spans, keep the rest of the document (same eval-set convention
    // as q_decontam)
    QueryDef("q_decontam_scrub", ((s, d) => {
      val docs = Tables.documents(s, d)
      Decontam.scrubContamination(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
    }),
      // same gram CTEs as q_decontam, then: covered token set = union of
      // [i, i+3) over matched gram starts; survivors string_agg'd in token
      // order; untouched docs keep their ORIGINAL text (CASE on hits)
      () => (s"WITH tr AS (SELECT doc_id, text, $TOKS AS toks FROM documents WHERE doc_id % 97 <> 0), " +
        s"ev AS (SELECT $TOKS AS toks FROM documents WHERE doc_id % 97 = 0), " +
        "evi AS (SELECT toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM ev), " +
        "evg AS (SELECT DISTINCT array_to_string(toks[i+1:i+3], ' ') AS g FROM evi), " +
        "tri AS (SELECT doc_id, toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM tr), " +
        "trg AS (SELECT doc_id, i, array_to_string(toks[i+1:i+3], ' ') AS g FROM tri), " +
        "m AS (SELECT doc_id, i FROM trg JOIN evg USING (g)), " +
        "hits AS (SELECT doc_id, count(*) AS n_hits FROM m GROUP BY doc_id), " +
        "cov AS (SELECT DISTINCT doc_id, unnest(range(i, i+3)) AS j FROM m), " +
        "tok AS (SELECT doc_id, toks, unnest(range(len(toks))) AS j FROM tr), " +
        "kept AS (SELECT t.doc_id, t.j, t.toks[t.j+1] AS tok FROM tok t " +
        "LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j WHERE c.doc_id IS NULL), " +
        "reb AS (SELECT doc_id, count(*) AS n_kept, " +
        "string_agg(tok, ' ' ORDER BY j) AS txt FROM kept GROUP BY doc_id), " +
        "tl AS (SELECT doc_id, len(toks) AS n_toks FROM tr) " +
        "SELECT tr.doc_id, coalesce(hits.n_hits, 0) AS n_hits, " +
        "CAST(CASE WHEN hits.doc_id IS NULL THEN 0 " +
        "ELSE tl.n_toks - coalesce(reb.n_kept, 0) END AS BIGINT) AS n_removed, " +
        "CASE WHEN hits.doc_id IS NULL THEN tr.text " +
        "ELSE coalesce(reb.txt, '') END AS text " +
        "FROM tr LEFT JOIN hits USING (doc_id) LEFT JOIN reb USING (doc_id) " +
        "JOIN tl USING (doc_id)")),
    // PII scrubbing: the synthetic corpus contains no PII-shaped strings
    // (measured — zero '@', zero digit runs), so every 7th document gets a
    // deterministic email+IP+phone suffix injected IN the query, mirrored
    // in the oracle SQL — the redaction path is then hash-validated on
    // real data, not just spec fixtures
    QueryDef("q_pii_scrub", ((s, d) => {
      val docs = Tables.documents(s, d)
      val injected = docs.select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.1 call +1 415 550 0"), (col("doc_id") % 10).cast("string"),
            lit("99")))
          .otherwise(col("text")).as("text"))
      Scrub.scrubPii(injected)
    }),
      // regexes interpolated from the same Scrub constants the Spark side
      // compiles — the patterns stay in the Java/RE2 agreement subset
      () => ("WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || " +
        "' contact user' || doc_id || '@example.com or 10.' || (doc_id % 256) || " +
        "'.0.1 call +1 415 550 0' || (doc_id % 10) || '99' ELSE text END AS t0 " +
        "FROM documents), " +
        s"s1 AS (SELECT doc_id, t0, regexp_replace(t0, '${Scrub.EMAIL_RE}', '<EMAIL>', 'g') AS t1 FROM inj), " +
        s"s2 AS (SELECT *, regexp_replace(t1, '${Scrub.IPV4_RE}', '<IP>', 'g') AS t2 FROM s1), " +
        s"s3 AS (SELECT *, regexp_replace(t2, '${Scrub.PHONE_RE}', '<PHONE>', 'g') AS t3 FROM s2) " +
        "SELECT doc_id, t3 AS text, " +
        s"CAST(len(regexp_extract_all(t0, '${Scrub.EMAIL_RE}')) AS INT) AS n_email, " +
        s"CAST(len(regexp_extract_all(t1, '${Scrub.IPV4_RE}')) AS INT) AS n_ip, " +
        s"CAST(len(regexp_extract_all(t2, '${Scrub.PHONE_RE}')) AS INT) AS n_phone " +
        "FROM s3")),
    // HTML boilerplate strip: every 4th document wrapped in a deterministic
    // markup template IN the query (the q_pii_scrub injected-fixture
    // convention — the synthetic corpus has no markup), then extracted
    QueryDef("q_strip_html", ((s, d) => {
      val docs = Tables.documents(s, d)
      val injected = docs.select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(
            lit("<html><head><title>Page</title><style>body{color:red}" +
              "</style><script>var x = 1 < 2;</script></head>" +
              "<body><!-- nav --><p>"),
            col("text"),
            lit("</p><div>&amp; &lt;tail&gt;&nbsp;end</div></body></html>")))
          .otherwise(col("text")).as("text"))
      injected.select(col("doc_id"), Scrub.stripHtml(col("text")).as("text"))
    }),
      // same pass order as Scrub.stripHtml, patterns interpolated from the
      // same constants; 'gs' option = global ('s' is inline in the pattern
      // where needed); &amp; decoded last like the Spark side
      () => ("WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN " +
        "'<html><head><title>Page</title><style>body{color:red}</style>" +
        "<script>var x = 1 < 2;</script></head><body><!-- nav --><p>' " +
        "|| text || '</p><div>&amp; &lt;tail&gt;&nbsp;end</div></body></html>' " +
        "ELSE text END AS t0 FROM documents), " +
        s"s1 AS (SELECT doc_id, regexp_replace(t0, '${Scrub.SCRIPT_RE}', ' ', 'g') AS t FROM inj), " +
        s"s2 AS (SELECT doc_id, regexp_replace(t, '${Scrub.STYLE_RE}', ' ', 'g') AS t FROM s1), " +
        s"s3 AS (SELECT doc_id, regexp_replace(t, '${Scrub.COMMENT_RE}', ' ', 'g') AS t FROM s2), " +
        s"s4 AS (SELECT doc_id, regexp_replace(t, '${Scrub.TAG_RE}', ' ', 'g') AS t FROM s3), " +
        "s5 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t, " +
        "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), " +
        "'&#39;', ''''), '&amp;', '&') AS t FROM s4) " +
        s"SELECT doc_id, trim(regexp_replace(t, '${Scrub.WS_RE}', ' ', 'g')) AS text FROM s5")),
    // v4 full recipe: v3's chain + benchmark decontamination (same
    // eval-set convention as q_decontam) between near-dup and span stages
    QueryDef("q_clean_corpus_v4", ((s, d) => {
      val docs = Tables.documents(s, d)
      // v4's stages ARE the raw prefix's flag set (quality → exact →
      // SNM → decontam) — it reads the same standing table as v5/v6
      Curation.cleanCorpusV4Stats(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        contamN = 3, prefix = Some(recipePrefixRaw(s, d)))
    }),
      // v4: the v3 chain restricted to the train split, plus a decontam CTE
      // block (trigram overlap vs the doc_id % 97 = 0 eval set, matching
      // q_decontam) between near-dup and span stages
      () => (s"WITH RECURSIVE t0 AS (SELECT doc_id, text, $TOKS AS toks " +
        "FROM documents WHERE doc_id % 97 <> 0), " +
        "passed AS MATERIALIZED (SELECT doc_id, text, toks FROM t0 WHERE len(toks) >= 10 " +
        s"AND CAST(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g')) AS DOUBLE) " +
        "/ greatest(length(text), 1) <= 0.35 " +
        "AND CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS DOUBLE) " +
        "/ greatest(len(toks), 1) <= 0.7), " +
        "keepw AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, " +
        "md5(array_to_string(toks, ' ')) AS fp FROM passed) GROUP BY fp), " +
        "exact AS MATERIALIZED (SELECT doc_id, text, toks FROM passed " +
        "WHERE doc_id IN (SELECT doc_id FROM keepw)), " +
        sortedCtes("exact") + ", " +
        "prs AS MATERIALIZED (SELECT a_id, b_id FROM j WHERE jaccard >= 0.9), " +
        "edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM prs " +
        "UNION SELECT b_id, a_id FROM prs), " +
        "reach(id, lbl) AS (SELECT src, src FROM edges " +
        "UNION SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id), " +
        "drops AS (SELECT id FROM reach GROUP BY id HAVING min(lbl) <> id), " +
        "near AS MATERIALIZED (SELECT doc_id, toks FROM exact " +
        "WHERE doc_id NOT IN (SELECT id FROM drops)), " +
        s"ev AS (SELECT $TOKS AS toks FROM documents WHERE doc_id % 97 = 0), " +
        "evi AS (SELECT toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM ev), " +
        "evg AS (SELECT DISTINCT array_to_string(toks[i+1:i+3], ' ') AS g FROM evi), " +
        "ni AS (SELECT doc_id, toks, unnest(range(greatest(len(toks)-2, 0))) AS i FROM near), " +
        "ng AS (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS g FROM ni), " +
        "contam AS (SELECT DISTINCT ng.doc_id FROM ng JOIN evg USING (g)), " +
        "dec AS MATERIALIZED (SELECT doc_id, toks FROM near " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM contam)), " +
        "sp0 AS (SELECT doc_id, toks, " +
        "unnest(range(CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS i FROM dec), " +
        "sp AS MATERIALIZED (SELECT doc_id, CAST(i AS INT) AS span_idx, " +
        "array_to_string(toks[i*20+1 : i*20+20], ' ') AS span FROM sp0), " +
        "own AS (SELECT doc_id, span_idx, " +
        "row_number() OVER (PARTITION BY md5(span) ORDER BY doc_id, span_idx) AS rn FROM sp) " +
        "SELECT 's1_raw' AS stage, count(*) AS n FROM t0 " +
        "UNION ALL SELECT 's2_quality', count(*) FROM passed " +
        "UNION ALL SELECT 's3_exact_dedup', count(*) FROM exact " +
        "UNION ALL SELECT 's4_near_dedup', count(*) FROM near " +
        "UNION ALL SELECT 's5_decontam', count(*) FROM dec " +
        "UNION ALL SELECT 's6_spans_total', count(*) FROM sp " +
        "UNION ALL SELECT 's6_spans_kept', count(*) FROM own WHERE rn = 1")),
    // v5: v4 + the perplexity-percentile gate (drop the worst surprisal
    // quintile of the decontam survivors) before span rewriting — the
    // full modern recipe
    QueryDef("q_clean_corpus_v5", ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.cleanCorpusV5Stats(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        contamN = 3, prefix = Some(recipePrefixRaw(s, d)))
    }),
      // v5: the v4 chain + the surprisal/quantile CTEs over the decontam
      // survivors (worst quintile dropped; 0/1 rates are deterministic, so
      // no hash predicate is needed in the replay)
      () => recipeV5Sql("bucket <= 4")),
    // v6: fractional bucket rates — thin the high-surprisal tail instead
    // of amputating it (deterministic hash-fraction per quantile bucket)
    QueryDef("q_clean_corpus_v6", ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.cleanCorpusV6Stats(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        contamN = 3, pplRates = V6_PPL_RATES,
        prefix = Some(recipePrefixRaw(s, d)))
    }),
      // v6 = the same chain with FRACTIONAL bucket rates: the ppl stage
      // keeps a hash-fraction per bucket (q_ppl_mix's predicate, salt 'ppl')
      () => recipeV5Sql(v6PplPredicate)),
    // v7: the exact substring scrub as stage 0 of the recipe — rewrite
    // duplicated >=8-token runs corpus-wide FIRST, then run the whole v6
    // chain on the rewritten text (contamination still matches RAW eval
    // docs; the scrub sees eval docs too, so eval-owned grams scrub out
    // of training text — decontamination-flavored by design)
    QueryDef("q_clean_corpus_v7", ((s, d) => {
      val docs = Tables.documents(s, d)
      // the standing scrubbed-corpus table (scrubbedCorpus): the recipe
      // scans its input's text once per stage, and each scan would
      // otherwise re-run the whole scrub — its gram-ownership shuffle
      // included (74 s → 11 s on the 50k stress with a checkpoint;
      // standing table amortizes it across v7/v8/v9 AND bench passes)
      val scrubbed = scrubbedCorpus(s, d)
      Curation.cleanCorpusV6Stats(
        scrubbed.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        contamN = 3, pplRates = V6_PPL_RATES,
        prefix = Some(recipePrefixScrub(s, d)))
    }),
      // v7 = the substring scrub FEEDING the v6 chain: scrub over the full
      // corpus (eval docs may own grams — decontamination-flavored, by
      // design), then the whole v6 recipe runs on the rewritten text while
      // contamination still matches the RAW eval documents
      () => recipeV5Sql(v6PplPredicate,
        prefixCtes = substringScrubCtes("7") +
          ", scrubbed AS (SELECT t7.doc_id, coalesce(ag7.text, '') AS text " +
          "FROM t7 LEFT JOIN ag7 USING (doc_id)), ",
        docsFrom = "scrubbed")),
    // v8: the FULL composition — substring scrub (v7 stage 0), the whole
    // v6 chain, plus a SEMANTIC decontamination stage between the lexical
    // one and the perplexity gate (paraphrased eval items that share no
    // n-gram with the benchmark still drop)
    QueryDef("q_clean_corpus_v8", ((s, d) => {
      val docs = Tables.documents(s, d)
      // same standing scrubbed-corpus table as q_clean_corpus_v7
      val scrubbed = scrubbedCorpus(s, d)
      Curation.cleanCorpusV8Stats(
        scrubbed.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        contamN = 3, pplRates = V6_PPL_RATES, semMinCos = 0.85,
        prefix = Some(recipePrefixScrubSem(s, d)))
    }),
      // v8 = the v7 composition + the semantic-decontamination CTE block
      // (argmax-blocked cosine vs the raw eval docs) between dec and the
      // perplexity stage
      () => recipeV5Sql(v6PplPredicate,
        prefixCtes = substringScrubCtes("7") +
          ", scrubbed AS (SELECT t7.doc_id, coalesce(ag7.text, '') AS text " +
          "FROM t7 LEFT JOIN ag7 USING (doc_id)), ",
        docsFrom = "scrubbed", semMinCos = Some(0.85))),
    // v9: the v8 composition + a final importance-resample stage — exact
    // 50 survivors whose length histogram tracks the RAW train corpus,
    // shedding the length bias the quality/perplexity gates introduce
    QueryDef("q_clean_corpus_v9", ((s, d) => {
      val docs = Tables.documents(s, d)
      // same standing scrubbed-corpus table as q_clean_corpus_v7
      val scrubbed = scrubbedCorpus(s, d)
      Curation.cleanCorpusV9Stats(
        scrubbed.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        contamN = 3, pplRates = V6_PPL_RATES, semMinCos = 0.85,
        kFinal = 50, prefix = Some(recipePrefixScrubSem(s, d)))
    }),
      // v9 = v8 + the resample CTE block (length-bucket likelihood weights
      // vs the raw t0 reference, clock race, LIMIT k) ahead of span dedup
      () => recipeV5Sql(v6PplPredicate,
        prefixCtes = substringScrubCtes("7") +
          ", scrubbed AS (SELECT t7.doc_id, coalesce(ag7.text, '') AS text " +
          "FROM t7 LEFT JOIN ag7 USING (doc_id)), ",
        docsFrom = "scrubbed", semMinCos = Some(0.85),
        resampleK = Some(50))),
    // data-contract report over a corpus with INJECTED violations (every
    // 13th row's lang corrupted, every 17th row's n_chars off by one —
    // the q_pii_scrub injected-fixture convention)
    QueryDef("q_contract", ((s, d) => {
      val mutated = Tables.documents(s, d).select(col("doc_id"),
        col("text"), col("source"),
        when(col("doc_id") % 13 === 0, lit("xx")).otherwise(col("lang"))
          .as("lang"),
        when(col("doc_id") % 17 === 0, col("n_chars") + 1)
          .otherwise(col("n_chars")).as("n_chars"))
      Contracts.violations(mutated, Seq(
        "lang_in_enum" -> col("lang").isin("en", "de", "fr", "es", "zh"),
        "n_chars_matches_text" -> (col("n_chars") === length(col("text"))),
        "text_nonempty" -> (length(col("text")) > 0),
        "source_prefixed" -> col("source").startsWith("src")),
        idCol = "doc_id")
    }),
      // contract replay: same injected mutations, per-rule stacked counts
      () => ("WITH m AS (SELECT doc_id, text, source, " +
        "CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang, " +
        "CASE WHEN doc_id % 17 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars " +
        "FROM documents), " +
        "f AS (SELECT doc_id, " +
        "NOT coalesce(lang IN ('en','de','fr','es','zh'), false) AS b0, " +
        "NOT coalesce(n_chars = length(text), false) AS b1, " +
        "NOT coalesce(length(text) > 0, false) AS b2, " +
        "NOT coalesce(source LIKE 'src%', false) AS b3 FROM m) " +
        "SELECT 'lang_in_enum' AS rule, CAST(sum(CASE WHEN b0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, " +
        "min(CASE WHEN b0 THEN doc_id END) AS first_bad_id, count(*) AS n_rows FROM f " +
        "UNION ALL SELECT 'n_chars_matches_text', CAST(sum(CASE WHEN b1 THEN 1 ELSE 0 END) AS BIGINT), " +
        "min(CASE WHEN b1 THEN doc_id END), count(*) FROM f " +
        "UNION ALL SELECT 'text_nonempty', CAST(sum(CASE WHEN b2 THEN 1 ELSE 0 END) AS BIGINT), " +
        "min(CASE WHEN b2 THEN doc_id END), count(*) FROM f " +
        "UNION ALL SELECT 'source_prefixed', CAST(sum(CASE WHEN b3 THEN 1 ELSE 0 END) AS BIGINT), " +
        "min(CASE WHEN b3 THEN doc_id END), count(*) FROM f")),
    // k-anonymity over (lang, source, length-decile) quasi-identifiers
    QueryDef("q_kanon", ((s, d) =>
      Contracts.kAnonymity(Tables.documents(s, d)
          .withColumn("len_bucket", (col("n_chars") / 100).cast("int")),
        Seq("lang", "source", "len_bucket"), k = 3)),
      // k-anonymity replay: QI-cell counts, small-cell algebra
      () => ("WITH c AS (SELECT lang, source, n_chars // 100 AS len_bucket, " +
        "count(*) AS cnt FROM documents GROUP BY 1, 2, 3) " +
        "SELECT count(*) AS n_cells, " +
        "CAST(sum(CASE WHEN cnt < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_cells, " +
        "CAST(sum(CASE WHEN cnt < 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_rows_at_risk, " +
        "min(cnt) AS min_cell FROM c")),
    // numeric table profile: every column's metrics in ONE aggregate
    // pass (exact distinct/percentile here for the oracle; production
    // uses the approx variants — see Contracts.tableProfile)
    QueryDef("q_profile", ((s, d) =>
      Contracts.tableProfile(Tables.lineitem(s, d), PROFILE_COLS)),
      // per-column UNION ALL replay of the one-pass profile (CAST AS
      // DOUBLE everywhere — the DECIMAL truncation lesson; quantile_cont
      // is DuckDB's exact interpolated percentile)
      () => PROFILE_COLS.map { c =>
        s"SELECT '$c' AS col_name, CAST(count($c) AS BIGINT) AS n, " +
          s"CAST(count(*) - count($c) AS BIGINT) AS n_null, " +
          s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, " +
          s"round(CAST(min($c) AS DOUBLE), 4) AS min, " +
          s"round(CAST(max($c) AS DOUBLE), 4) AS max, " +
          s"round(avg(CAST($c AS DOUBLE)), 4) AS mean, " +
          s"round(stddev_samp(CAST($c AS DOUBLE)), 4) AS std, " +
          s"round(quantile_cont(CAST($c AS DOUBLE), 0.5), 4) AS p50, " +
          s"round(quantile_cont(CAST($c AS DOUBLE), 0.95), 4) AS p95 " +
          "FROM lineitem"
      }.mkString(" UNION ALL ")),
    // Luhn-validated payment-card scan: the classic Visa test number
    // (valid) on every 9th doc, an off-by-one check digit (invalid) on
    // every 13th, a dashed Amex (valid) on every 17th — the checksum
    // kills digit-run false positives a bare regex can't
    QueryDef("q_cc_scan", ((s, d) =>
      Scrub.creditCardScan(Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 9 === 0, lit(" card 4111 1111 1111 1111"))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" acct 4111111111111112"))
            .otherwise(lit("")),
          when(col("doc_id") % 17 === 0, lit(" ref 3782-8224-6310-005"))
            .otherwise(lit(""))).as("text")))),
      // Luhn replay: same injection and candidate class; from the right,
      // 0-based-even positions count as-is, odd double (−9 above 9 ⇔
      // digit > 4); one list_sum per candidate
      () => {
        def dig = "CAST(substring(reverse(digits), CAST(i + 1 AS INT), 1) AS INT)"
        "WITH inj AS (SELECT doc_id, text || " +
          "CASE WHEN doc_id % 9 = 0 THEN ' card 4111 1111 1111 1111' ELSE '' END || " +
          "CASE WHEN doc_id % 13 = 0 THEN ' acct 4111111111111112' ELSE '' END || " +
          "CASE WHEN doc_id % 17 = 0 THEN ' ref 3782-8224-6310-005' ELSE '' END " +
          "AS text FROM documents), " +
          "cands AS (SELECT DISTINCT doc_id, candidate FROM " +
          "(SELECT doc_id, unnest(regexp_extract_all(text, " +
          "'[0-9]([ -]?[0-9]){12,18}')) AS candidate FROM inj) u), " +
          "lu AS (SELECT doc_id, candidate, " +
          "regexp_replace(candidate, '[^0-9]', '', 'g') AS digits FROM cands) " +
          "SELECT doc_id, candidate, digits, " +
          "CAST(CAST(list_sum(list_transform(range(length(digits)), i -> " +
          s"CASE WHEN i % 2 = 0 THEN $dig " +
          s"WHEN $dig > 4 THEN $dig * 2 - 9 " +
          s"ELSE $dig * 2 END)) AS BIGINT) % 10 = 0 AS INT) AS luhn_valid " +
          "FROM lu"
      }),
    // the ORACLED end-to-end ingest gate (exact-dup variant): snapshot
    // docs (%10 < 8) maintain the standing line-freq index + cleaned-text
    // fingerprint set; the increment is judged at increment cost —
    // boilerplate removal, PII scrub, Gopher gate, eval-sentinel
    // decontam flag, exact dup probe — one verdict row per incoming doc
    QueryDef("q_ingest_gate", ((s, d) => {
      val (incr, idx, fps) = ingestGate(s, d)
      Curation.ingestGateExact(incr, idx, ingestEvalGrams(s), fps, minDocs = 3)
        .select(col("doc_id"), col("pass_struct"), col("pass_rep"),
          col("contaminated"), col("dup_of_corpus"), col("keep"))
    }),
      () => ingestGateSql),
    // the one-row batch dashboard over the same gate verdicts: keeps +
    // rejection-reason histogram (reasons independent, not a partition)
    QueryDef("q_ingest_report", ((s, d) => {
      val (incr, idx, fps) = ingestGate(s, d)
      Curation.ingestSummary(Curation.ingestGateExact(incr, idx,
        ingestEvalGrams(s), fps, minDocs = 3))
    }),
      () => (s"SELECT CAST(count(*) AS BIGINT) AS n_in, " +
        "CAST(sum(keep) AS BIGINT) AS n_keep, " +
        "CAST(sum(CASE WHEN pass_struct = 0 OR pass_rep = 0 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_gopher_reject, " +
        "CAST(sum(contaminated) AS BIGINT) AS n_contaminated, " +
        "CAST(sum(dup_of_corpus) AS BIGINT) AS n_dup, " +
        "round(sum(keep) / CAST(greatest(count(*), 1) AS DOUBLE), 4) " +
        s"AS keep_rate FROM ($ingestGateSql) v")),
    // ---- web provenance: URL canonicalization & domain rollups ----
    // deterministic URL synthesis (urlInject): mixed-case scheme/host,
    // default ports, tracking params, unsorted params, trailing slashes
    // and fragments — every rule normalizeUrl owns, replayed verbatim in
    // the oracle
    QueryDef("q_url_norm", ((s, d) =>
      WebCuration.urlCanonical(urlInject(Tables.documents(s, d)),
        "doc_id", "url")),
      // URL canonicalization replay: same injection, same regex parses,
      // same normalization algebra (lowercase scheme/host, default-port
      // drop, fragment drop, tracking-param filter + param sort, trailing
      // slash) and the same multi-suffix registered-domain rule
      () => (s"WITH $urlCtes SELECT doc_id, url, norm_url, reg_domain FROM rd")),
    QueryDef("q_domain_stats", ((s, d) =>
      WebCuration.domainStats(urlInject(Tables.documents(s, d)),
        "doc_id", "url", "n_chars")),
      () => (s"WITH $urlCtes SELECT reg_domain, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT norm_url) AS BIGINT) AS n_urls, " +
        "CAST(count(DISTINCT host) AS BIGINT) AS n_hosts, " +
        "CAST(sum(n_chars) AS BIGINT) AS n_chars FROM rd GROUP BY reg_domain")),
    // heavy-tail guard: no registered domain contributes more than
    // DOMAIN_CAP docs; keep decision by salted hash clock, domain-
    // partitioned window (parallel across domains)
    QueryDef("q_domain_cap", ((s, d) =>
      WebCuration.domainCap(urlInject(Tables.documents(s, d)),
        "doc_id", "url", DOMAIN_CAP)),
      // same salted md5 hash clock, same (hash, id) tie-break
      () => (s"WITH $urlCtes, rk AS (SELECT doc_id, reg_domain, " +
        "row_number() OVER (PARTITION BY reg_domain ORDER BY " +
        "'0' || substring(md5('domcap' || CAST(doc_id AS VARCHAR)), 1, 8), " +
        "doc_id) AS rn FROM rd) " +
        s"SELECT doc_id, reg_domain FROM rk WHERE rn <= $DOMAIN_CAP")),
    // ---- privacy release gates ----
    // k-anonymity over the (nation, market-segment) quasi-identifier:
    // groups of fewer than K customers re-identify their members
    QueryDef("q_k_anon", ((s, d) =>
      Scrub.kAnonymityAudit(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), K_ANON)),
      () => ("SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n, " +
        s"CAST(count(*) < $K_ANON AS INT) AS k_violation " +
        "FROM customer GROUP BY c_nationkey, c_mktsegment")),
    // l-diversity: nations whose customers concentrate in < L distinct
    // market segments leak the segment through the nation alone
    QueryDef("q_l_diversity", ((s, d) =>
      Scrub.lDiversityAudit(Tables.customer(s, d),
        Seq("c_nationkey"), "c_mktsegment", L_DIV)),
      () => ("SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive, " +
        s"CAST(count(DISTINCT c_mktsegment) < $L_DIV AS INT) AS l_violation " +
        "FROM customer GROUP BY c_nationkey")),
    // domain blocklist filter: the canonical provenance chain ending in
    // a bloom anti-join against the blocked registered domains — at
    // 100 TB the blocklist is the big side and non-hits bypass the
    // shuffle entirely (the q_incr_dedup shape)
    QueryDef("q_domain_block", ((s, d) => {
      import s.implicits._
      BloomJoin.bloomAntiJoin(
        WebCuration.urlCanonical(urlInject(Tables.documents(s, d)),
          "doc_id", "url").select("doc_id", "reg_domain"),
        BLOCKED_DOMAINS.toDF("reg_domain"), "reg_domain")
    }),
      // bloom anti-join ≡ plain anti-join (no false negatives; flagged
      // rows exactly adjudicated) — the oracle is the plain NOT IN
      () => {
        val blocked = BLOCKED_DOMAINS.map(b => s"'$b'").mkString(", ")
        s"WITH $urlCtes SELECT doc_id, reg_domain FROM rd " +
          s"WHERE reg_domain NOT IN ($blocked)"
      }),
    // crawl-frontier URL dedup: increment probes the standing canonical
    // -URL fingerprint index (bloom anti-join — never-seen URLs bypass
    // the shuffle), keep-first within the increment
    QueryDef("q_url_frontier", ((s, d) => {
      val all = urlInject(Tables.documents(s, d))
      WebCuration.urlFrontierApply(
        all.where(col("doc_id") % 10 >= 8),
        WebCuration.urlFrontierIndex(
          all.where(col("doc_id") % 10 < 8), "url"),
        "doc_id", "url")
    }),
      // frontier replay: base fingerprints, NOT IN probe, keep-first
      () => (s"WITH $urlCtes, " +
        "bse AS (SELECT md5(norm_url) AS url_fp FROM rd WHERE doc_id % 10 < 8 " +
        "GROUP BY 1), " +
        "inc AS (SELECT doc_id, md5(norm_url) AS url_fp FROM rd " +
        "WHERE doc_id % 10 >= 8) " +
        "SELECT min(doc_id) AS doc_id, url_fp FROM inc " +
        "WHERE url_fp NOT IN (SELECT url_fp FROM bse) GROUP BY url_fp")),
    // incremental cap: base batch fills each domain's quota, the
    // increment admits only into the remainder (arrival-order semantics
    // — already-shipped base rows are never evicted; the
    // q_boilerplate_incr standing-index convention)
    QueryDef("q_domain_cap_incr", ((s, d) => {
      val all = urlInject(Tables.documents(s, d))
      val base = all.where(col("doc_id") % 10 < 8)
      val incr = all.where(col("doc_id") % 10 >= 8)
      WebCuration.domainCapApply(incr,
        WebCuration.domainCapIndex(
          WebCuration.domainCap(base, "doc_id", "url", DOMAIN_CAP_INCR)),
        "doc_id", "url", DOMAIN_CAP_INCR)
    }),
      // arrival-order incremental cap replay: base quota fill, then the
      // increment ranked into each domain's remainder
      () => (s"WITH $urlCtes, " +
        "base AS (SELECT doc_id, reg_domain FROM rd WHERE doc_id % 10 < 8), " +
        "bk AS (SELECT doc_id, reg_domain, row_number() OVER " +
        "(PARTITION BY reg_domain ORDER BY " +
        "'0' || substring(md5('domcap' || CAST(doc_id AS VARCHAR)), 1, 8), " +
        "doc_id) AS rn FROM base), " +
        s"cnt AS (SELECT reg_domain, count(*) AS c FROM bk WHERE rn <= $DOMAIN_CAP_INCR " +
        "GROUP BY reg_domain), " +
        "inc AS (SELECT doc_id, reg_domain FROM rd WHERE doc_id % 10 >= 8), " +
        "ik AS (SELECT doc_id, reg_domain, row_number() OVER " +
        "(PARTITION BY reg_domain ORDER BY " +
        "'0' || substring(md5('domcap' || CAST(doc_id AS VARCHAR)), 1, 8), " +
        "doc_id) AS rn FROM inc) " +
        "SELECT ik.doc_id, ik.reg_domain FROM ik LEFT JOIN cnt USING (reg_domain) " +
        s"WHERE ik.rn <= $DOMAIN_CAP_INCR - coalesce(cnt.c, 0)")),
  )
}
