package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.model.ModelPins._
import Shared._

/** Evaluation metrics over `ops.TextAnalysis`: classifier AUC, AP,
  * calibration and agreement, generation metrics (BLEU, chrF, ROUGE, TER,
  * QA), LM perplexity, pass@k and self-consistency.
  */
object TextEvalQueries {

  /** The fixed quality classifier's scores joined to the length weak
    * label and the source group (the q_quality_fit convention) — the
    * shared input of the classifier-eval family (q_threshold_sweep,
    * q_auc, q_ap, q_clf_report, q_auc_boot, q_auc_group). STANDING
    * (IndexTables.plain — the scrubbedCorpus / unigram_v256 precedent):
    * the corpus is scored and joined ONCE per documents snapshot;
    * every eval query and every bench pass after the first reads the
    * materialized (doc_id, quality_score, keep, y, source) table
    * instead of re-running the score+join chain — at 100 TB, eval
    * metrics are recomputed far more often than the scorer changes, so
    * the scored table is the artifact and the queries are
    * dictionary-sized work on top of it.
    */
  private def qualityScoredLabeled(s: SparkSession, d: String): DataFrame =
    // "_v1" is the scorer-version token (the unigram_v256 precedent):
    // the ident otherwise keys only on the documents files, so a change
    // to QUALITY_W, the keep threshold, or the y = n_chars >= 300 label
    // would silently reuse a stale materialized table — bump the
    // version with any scorer/label change
    IndexTables.plain(s,
      IndexTables.ident("qscored_v1", Tables.documents(s, d)))(
      TextAnalysis.qualityClassifierScore(Tables.documents(s, d))
        .join(Tables.documents(s, d).select(col("doc_id"), col("source"),
          (col("n_chars") >= 300).cast("int").as("y")), "doc_id"))

  /** The MT-eval pair corpus as a STANDING table (the
    * qualityScoredLabeled precedent): ref = the token-joined text (so
    * every metric shares the tokenizer's casing), cand = the q_bleu
    * every-3rd-token-drop degradation, cand_sub = the q_ter
    * substitute+drop degradation. The tokenize→degrade→rejoin chain
    * used to run inside EVERY MT query; at 100 TB an eval-pair set is
    * scored by many metrics per snapshot, so the pair corpus is the
    * artifact — materialized once per documents snapshot, read by
    * q_bleu / q_bleu_source / q_chrf / q_rouge / q_rouge2 / q_ter.
    * Token-level metrics are unchanged by reading ref from the
    * rejoined text (toks ∘ array_join ∘ toks ≡ toks — the q_chrf ref
    * convention, now shared); the oracles keep replaying from
    * documents.text directly, so any drift in the fixture build flips
    * the rows red. "_v1" is the degradation-recipe version token (the
    * qscored_v1 rule).
    */
  private def evalPairs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // kernel fan: the standing pair table is a small single-file parquet
    // read locally (one-task scan), and every consumer is a row-pure metric
    // kernel (BLEU/chrF/TER/ROUGE DPs) — the exact shape Par.fanOutKernel
    // exists for; at scale the probe is a no-op (guide §2.2/§2.6)
    ops.Par.fanOutKernel(IndexTables.plain(s,
      IndexTables.ident("evalpairs_v1", docs)) {
      val t = Core.tokensUni(col("text"))
      val mut = transform(t, (x, i) =>
        when((i + 1) % 3 === 0, lit("xx")).otherwise(x))
      docs.select(col("doc_id"), col("source"),
        array_join(t, " ").as("ref"),
        array_join(filter(t, (_, i) => (i + 1) % 3 =!= 0), " ").as("cand"),
        array_join(filter(mut, (_, i) => (i + 1) % 5 =!= 0), " ")
          .as("cand_sub"))
    })
  }

  /** DuckDB mirror of TextAnalysis.weakLabels — the quality-gate /
    * readability-gate labeler frame, ONE definition for q_kappa and
    * q_calibration. Composes the q_quality_model feature chain and the
    * q_readability Flesch counts over tokenizable documents; ends in
    * `l(doc_id, s, a, b)` with s = rounded sigmoid, a = model keep,
    * b = rounded-Flesch >= fleschT.
    */
  private def weakLabelCtes(fleschT: Double): String = {
    val (bias, wLog, wAvg, wStop, wNon, keepT) = ops.TextAnalysis.QUALITY_W
    s"t AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
      "f AS (SELECT doc_id, text, toks, len(toks) AS n, " +
      "coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
      "greatest(len(toks), 1) AS avg_len, " +
      "len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
      "greatest(len(toks), 1) AS stop_r, " +
      s"(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g'))) / " +
      "greatest(length(text), 1) AS non_al FROM t WHERE len(toks) > 0), " +
      s"z AS (SELECT doc_id, text, toks, n, ($bias) + ($wLog) * ln(1 + n) + " +
      s"($wAvg) * avg_len + ($wStop) * stop_r + ($wNon) * non_al AS z FROM f), " +
      "r AS (SELECT doc_id, z, n AS n_words, " +
      "CAST(greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'), " +
      "x -> regexp_matches(x, '\\p{L}')))) AS BIGINT) AS n_sents, " +
      "CAST(list_sum(list_transform(toks, w -> greatest(1, " +
      "len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT) AS n_syll FROM z), " +
      "l AS (SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS s, " +
      s"CAST(1.0 / (1.0 + exp(-z)) >= $keepT AS INT) AS a, " +
      "CAST(round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents) - " +
      s"84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) >= $fleschT AS INT) AS b " +
      "FROM r)"
  }

  /** The q_quality_model score CTEs joined to the length weak label —
    * the shared `j(s, y)` input of the classifier-eval oracles
    * (q_threshold_sweep / q_auc), mirroring [[qualityScoredLabeled]].
    */
  private def qualityLabeledCtes: String = {
    val (bias, wLog, wAvg, wStop, wNon, _) = ops.TextAnalysis.QUALITY_W
    s"t AS (SELECT doc_id, source, text, n_chars, $TOKS AS toks FROM documents), " +
      "f AS (SELECT doc_id, source, n_chars, len(toks) AS n, " +
      "coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
      "greatest(len(toks), 1) AS avg_len, " +
      "len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
      "greatest(len(toks), 1) AS stop_r, " +
      s"(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g'))) / " +
      "greatest(length(text), 1) AS non_al FROM t), " +
      s"z AS (SELECT doc_id, source, n_chars, ($bias) + ($wLog) * ln(1 + n) + " +
      s"($wAvg) * avg_len + ($wStop) * stop_r + ($wNon) * non_al AS z FROM f), " +
      "j AS (SELECT doc_id, source, round(1.0 / (1.0 + exp(-z)), 4) AS s, " +
      "CAST(n_chars >= 300 AS INT) AS y FROM z)"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.thresholdSweep]] over the
    * [[qualityLabeledCtes]] input: all-integer confusion algebra.
    */
  private def thresholdSweepSql: String = {
    val grid = (0 to 20).map(k => java.lang.Double.toString(k / 20.0))
      .mkString("[", ",", "]")
    s"WITH $qualityLabeledCtes, " +
      s"g AS (SELECT unnest($grid) AS threshold), " +
      "c AS (SELECT g.threshold, " +
      "CAST(sum(CASE WHEN j.s >= g.threshold THEN j.y ELSE 0 END) AS BIGINT) AS tp, " +
      "CAST(sum(CASE WHEN j.s >= g.threshold THEN 1 - j.y ELSE 0 END) AS BIGINT) AS fp, " +
      "CAST(sum(CASE WHEN j.s < g.threshold THEN j.y ELSE 0 END) AS BIGINT) AS fn, " +
      "CAST(sum(CASE WHEN j.s < g.threshold THEN 1 - j.y ELSE 0 END) AS BIGINT) AS tn " +
      "FROM j, g GROUP BY g.threshold) " +
      "SELECT threshold, tp, fp, fn, tn, " +
      "round(CASE WHEN tp + fp > 0 THEN tp / CAST(tp + fp AS DOUBLE) END, 4) AS precision, " +
      "round(CASE WHEN tp + fn > 0 THEN tp / CAST(tp + fn AS DOUBLE) END, 4) AS recall, " +
      "round(CASE WHEN 2*tp + fp + fn > 0 THEN 2*tp / CAST(2*tp + fp + fn AS DOUBLE) END, 4) AS f1 " +
      "FROM c"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.aucScore]] over the same
    * input: Mann-Whitney with the tie term, cumulative negatives via an
    * ordered window over the distinct-score dictionary (DuckDB side is
    * free to use the plain window — the distributed prefix sum is the
    * Spark side's scale obligation, not the oracle's).
    */
  private def aucSql: String =
    s"WITH $qualityLabeledCtes, " +
      "d AS (SELECT s, CAST(sum(y) AS DOUBLE) AS np, " +
      "CAST(sum(1 - y) AS DOUBLE) AS nn FROM j GROUP BY s), " +
      "c AS (SELECT s, np, nn, coalesce(sum(nn) OVER (ORDER BY s " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM d) " +
      "SELECT CAST(sum(np) AS BIGINT) AS n_pos, " +
      "CAST(sum(nn) AS BIGINT) AS n_neg, " +
      "round(CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN " +
      "sum(np * (below + nn / 2)) / (sum(np) * sum(nn)) END, 6) AS auc " +
      "FROM c"

  /** DuckDB mirror of [[graft.ops.TextAnalysis.aucByGroup]]: the aucSql
    * algebra with every stage keyed by source.
    */
  private def aucGroupSql: String =
    s"WITH $qualityLabeledCtes, " +
      "d AS (SELECT source, s, CAST(sum(y) AS DOUBLE) AS np, " +
      "CAST(sum(1 - y) AS DOUBLE) AS nn FROM j GROUP BY source, s), " +
      "c AS (SELECT source, s, np, nn, coalesce(sum(nn) OVER " +
      "(PARTITION BY source ORDER BY s " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM d) " +
      "SELECT source, CAST(sum(np) AS BIGINT) AS n_pos, " +
      "CAST(sum(nn) AS BIGINT) AS n_neg, " +
      "round(CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN " +
      "sum(np * (below + nn / 2)) / (sum(np) * sum(nn)) END, 6) AS auc " +
      "FROM c GROUP BY source"

  /** DuckDB mirror of [[graft.ops.TextAnalysis.aucBootstrap]]: the same
    * deterministic md5 Poisson(1) weights (the '0x'||hex UBIGINT cast
    * replay of Spark's conv), per-replica Mann-Whitney, and the
    * nearest-rank CI over the sorted replica AUCs.
    */
  private def aucBootSql(replicas: Int): String = {
    val cdf = ops.TextAnalysis.POISSON1_CDF
      .map(java.lang.Double.toString).mkString("[", ",", "]")
    s"WITH $qualityLabeledCtes, " +
      s"e AS (SELECT j.doc_id, j.s, j.y, CAST(r.range AS BIGINT) AS b " +
      s"FROM j, range($replicas) r), " +
      "wts AS (SELECT s, y, b, " +
      s"CAST(len(list_filter($cdf, c -> ((CAST(('0x' || " +
      "substring(md5('boot' || '|' || CAST(doc_id AS VARCHAR) || '|' || " +
      "CAST(b // 4 AS VARCHAR)), CAST((b % 4) * 8 + 1 AS INT), 8)) " +
      "AS UBIGINT) + 0.5) / 4294967296.0) >= c)) " +
      "AS DOUBLE) AS w FROM e), " +
      "d AS (SELECT b, s, sum(w * y) AS np, sum(w * (1 - y)) AS nn " +
      "FROM wts WHERE w > 0 GROUP BY b, s), " +
      "c AS (SELECT b, s, np, nn, coalesce(sum(nn) OVER (PARTITION BY b " +
      "ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
      "AS below FROM d), " +
      "per AS (SELECT b, sum(np) AS p, sum(nn) AS n, " +
      "sum(np * (below + nn / 2)) AS u FROM c GROUP BY b), " +
      "aucs AS (SELECT round(u / (p * n), 6) AS auc FROM per " +
      "WHERE p > 0 AND n > 0), " +
      "ranked AS (SELECT auc, row_number() OVER (ORDER BY auc) AS rn, " +
      "count(*) OVER () AS cnt FROM aucs) " +
      "SELECT CAST(max(cnt) AS INT) AS n_replicas, " +
      "round(sum(auc) / max(cnt), 6) AS auc_mean, " +
      "max(CASE WHEN rn = greatest(CAST(ceil(0.025 * cnt) AS INT), 1) " +
      "THEN auc END) AS ci_lo, " +
      "max(CASE WHEN rn = CAST(ceil(0.975 * cnt) AS INT) THEN auc END) " +
      "AS ci_hi FROM ranked"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.pairedBootstrap]] over
    * the q_sys_compare fixture: per-doc Brier complements of the fixed
    * classifier vs the length heuristic, the aucBootSql md5-lane draw,
    * one shared weight per (doc, replica), Δ = Σw(b−a)/Σw q6,
    * nearest-rank interval + win rate.
    */
  private def sysCompareSql(replicas: Int): String =
    s"WITH $qualityLabeledCtes, " +
      "m AS (SELECT j.doc_id, " +
      "1.0 - (j.s - j.y) * (j.s - j.y) AS ma, " +
      "1.0 - (least(1.0, d.n_chars/1000.0) - j.y) * " +
      "(least(1.0, d.n_chars/1000.0) - j.y) AS mb " +
      "FROM j JOIN documents d USING (doc_id)), " +
      s"e AS (SELECT m.doc_id, m.ma, m.mb, CAST(r.range AS BIGINT) AS b " +
      s"FROM m, range($replicas) r), " +
      "wts AS (SELECT ma, mb, b, " +
      s"CAST(len(list_filter(${poisson1CdfSql}, c -> ((CAST(('0x' || " +
      "substring(md5('pair' || '|' || CAST(doc_id AS VARCHAR) || '|' || " +
      "CAST(b // 4 AS VARCHAR)), CAST((b % 4) * 8 + 1 AS INT), 8)) " +
      "AS UBIGINT) + 0.5) / 4294967296.0) >= c)) " +
      "AS DOUBLE) AS w FROM e), " +
      "per AS (SELECT b, sum(w * (mb - ma)) AS sd, sum(w) AS sw " +
      "FROM wts WHERE w > 0 GROUP BY b), " +
      "ds AS (SELECT round(sd / sw, 6) AS d FROM per WHERE sw > 0), " +
      "ranked AS (SELECT d, row_number() OVER (ORDER BY d) AS rn, " +
      "count(*) OVER () AS cnt FROM ds) " +
      "SELECT CAST(max(cnt) AS INT) AS n_replicas, " +
      "round(sum(d) / max(cnt), 6) AS delta_mean, " +
      "max(CASE WHEN rn = greatest(CAST(ceil(0.025 * cnt) AS INT), 1) " +
      "THEN d END) AS ci_lo, " +
      "max(CASE WHEN rn = CAST(ceil(0.975 * cnt) AS INT) THEN d END) " +
      "AS ci_hi, " +
      "round(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) / (1.0 * max(cnt)), 6) " +
      "AS b_win_rate FROM ranked"

  /** DuckDB mirror of [[graft.ops.TextAnalysis.bleuByGroup]] on the
    * q_bleu fixture grouped by source: pivoted per-(source, n) totals,
    * the same q6-ln mean and brevity-penalty expressions per group.
    */
  private def bleuSourceSql(maxN: Int): String = {
    val piv = (1 to maxN).map(n =>
      s"coalesce(sum(CASE WHEN n = $n THEN m END), 0) AS m$n, " +
        s"coalesce(sum(CASE WHEN n = $n THEN t END), 0) AS t$n").mkString(", ")
    val anyZero = (1 to maxN).map(n => s"t$n = 0 OR m$n = 0").mkString(" OR ")
    val meanLog = "(" + (1 to maxN).map(n =>
      s"round(ln(m$n/(1.0*t$n)), 6)").mkString(" + ") + s")/$maxN"
    s"WITH tk AS (SELECT doc_id, source, $TOKS AS rt FROM documents), " +
      "pair AS (SELECT doc_id, source, rt, list_filter(rt, (x, i) -> i % 3 <> 0) AS ct FROM tk), " +
      "lens AS (SELECT source, count(*) AS np, CAST(coalesce(sum(len(ct)), 0) AS BIGINT) AS cl, " +
      "CAST(coalesce(sum(len(rt)), 0) AS BIGINT) AS rl FROM pair GROUP BY source), " +
      "grams AS (SELECT doc_id, source, n.n AS n, " +
      "list_transform(range(1, len(ct)-n.n+2), i -> array_to_string(list_slice(ct, i, i+n.n-1), ' ')) AS cg, " +
      "list_transform(range(1, len(rt)-n.n+2), i -> array_to_string(list_slice(rt, i, i+n.n-1), ' ')) AS rg " +
      s"FROM pair, (SELECT unnest(range(1, ${maxN + 1})) AS n) n), " +
      "cg AS (SELECT source, doc_id, n, g, count(*) AS cc FROM " +
      "(SELECT source, doc_id, n, unnest(cg) AS g FROM grams) GROUP BY 1, 2, 3, 4), " +
      "rg AS (SELECT source, doc_id, n, g, count(*) AS cr FROM " +
      "(SELECT source, doc_id, n, unnest(rg) AS g FROM grams) GROUP BY 1, 2, 3, 4), " +
      "pern AS (SELECT cg.source, cg.n, sum(least(cc, coalesce(cr, 0))) AS m, sum(cc) AS t " +
      "FROM cg LEFT JOIN rg ON cg.source = rg.source AND cg.doc_id = rg.doc_id " +
      "AND cg.n = rg.n AND cg.g = rg.g " +
      "GROUP BY 1, 2), " +
      s"piv AS (SELECT source, $piv FROM pern GROUP BY source) " +
      "SELECT l.source, l.np AS n_pairs, l.cl AS c_len, l.rl AS r_len, " +
      "CASE WHEN l.cl = 0 THEN NULL " +
      s"WHEN $anyZero THEN 0.0 " +
      s"ELSE round(exp($meanLog + least(0.0, 1.0 - l.rl/(1.0*l.cl))), 4) " +
      "END AS bleu FROM lens l LEFT JOIN piv USING (source)"
  }

  /** The [[graft.ops.TextAnalysis.POISSON1_CDF]] thresholds as a DuckDB
    * list literal (shared by the bootstrap draw replays).
    */
  private def poisson1CdfSql: String =
    ops.TextAnalysis.POISSON1_CDF
      .map(java.lang.Double.toString).mkString("[", ",", "]")

  /** DuckDB mirror of [[graft.ops.TextAnalysis.apScore]] over the same
    * input: step-wise average precision from the strictly-below
    * cumulative counts, term order matching the Spark expression.
    */
  private def apSql: String =
    s"WITH $qualityLabeledCtes, " +
      "d AS (SELECT s, CAST(sum(y) AS DOUBLE) AS np, " +
      "CAST(sum(1 - y) AS DOUBLE) AS nn FROM j GROUP BY s), " +
      "c AS (SELECT s, np, nn, " +
      "coalesce(sum(np) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND 1 PRECEDING), 0) AS pb, " +
      "coalesce(sum(nn) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND 1 PRECEDING), 0) AS nb FROM d), " +
      "tot AS (SELECT sum(np) AS p, sum(nn) AS n FROM d) " +
      "SELECT CAST(tot.p AS BIGINT) AS n_pos, CAST(tot.n AS BIGINT) AS n_neg, " +
      "round(CASE WHEN tot.p > 0 THEN sum(CASE WHEN c.np > 0 THEN " +
      "(c.np / tot.p) * ((tot.p - c.pb) / ((tot.p - c.pb) + (tot.n - c.nb))) " +
      "ELSE 0 END) END, 6) AS ap FROM c, tot GROUP BY tot.p, tot.n"

  /** DuckDB replay of q_ter_shift under [[TER_SHIFT_PINNED]]: rebuild
    * the fixture (sub/drop degradation, 32-slice, rotate-left-8 when
    * >= 16 tokens), apply the pinned shifts step by step (unrolled to
    * the pin's max step count; each step is one slice/concat rewrite
    * of the hypothesis list), then run the q_ter min-plus-prefix edit
    * DP on the shifted hypothesis. shifts = the doc's pin count.
    */
  private def terShiftSql: String = {
    val maxStep = TER_SHIFT_PINNED.map(_._2).max
    val pinVals = TER_SHIFT_PINNED.map { case (d, st, s, l, p) =>
      s"($d, $st, $s, $l, $p)"
    }.mkString(", ")
    // one CTE per pinned step: remove ct[st+1 .. st+bl] (1-indexed),
    // re-insert at 0-indexed position ip of the remainder; docs without
    // a pin at this step pass through (LEFT JOIN null guard)
    val stepCtes = (1 to maxStep).map { k =>
      val prev = if (k == 1) "pair" else s"h${k - 1}"
      s"h$k AS MATERIALIZED (SELECT doc_id, rt, " +
        "CASE WHEN st IS NULL THEN ct " +
        "ELSE rest[1:ip] || blk || rest[ip+1:] END AS ct FROM " +
        s"(SELECT h.doc_id, h.rt, h.ct, pin.st, pin.ip, " +
        "h.ct[pin.st+1:pin.st+pin.bl] AS blk, " +
        "h.ct[1:pin.st] || h.ct[pin.st+pin.bl+1:] AS rest " +
        s"FROM $prev h LEFT JOIN pins pin ON pin.pd = h.doc_id " +
        s"AND pin.step = $k))"
    }.mkString(", ")
    val hFin = s"h$maxStep"
    s"WITH RECURSIVE tk AS (SELECT doc_id, $TOKS AS t FROM documents), " +
      s"pins(pd, step, st, bl, ip) AS (SELECT * FROM (VALUES $pinVals) " +
      "v(pd, step, st, bl, ip)), " +
      // the fixture: rt = full-token 32-slice; ct = degraded list
      // (sub every 3rd, drop every 5th — 1-based DuckDB lambda indexes,
      // the q_ter convention), 32-sliced, rotated left by 8 iff >= 16
      "pair AS MATERIALIZED (SELECT doc_id, rt, CASE WHEN len(ct0) >= 16 " +
      "THEN ct0[9:] || ct0[1:8] ELSE ct0 END AS ct FROM " +
      "(SELECT doc_id, t[1:32] AS rt, " +
      "list_filter(list_transform(t, (x, i) -> CASE WHEN i % 3 = 0 " +
      "THEN 'xx' ELSE x END), (x, i) -> i % 5 <> 0)[1:32] AS ct0 " +
      "FROM tk WHERE len(t) > 0)), " +
      s"$stepCtes, " +
      // q_ter's min-plus-prefix Levenshtein DP, row source = the
      // post-shift hypothesis
      "rec(doc_id, i, dp) AS (" +
      s"SELECT doc_id, 0, list_transform(range(0, len(rt)+1), x -> x) FROM $hFin " +
      "UNION ALL " +
      "SELECT doc_id, i + 1, " +
      "list_transform(range(0, len(tl)), j -> " +
      "list_min(list_transform(range(0, j+1), k -> tl[k+1] + (j - k)))) FROM (" +
      "SELECT r.doc_id, r.i AS i, " +
      "list_prepend(r.i + 1, list_transform(range(1, len(p.rt)+1), j -> " +
      s"least(dp[j+1] + 1, dp[j] + CASE WHEN p.ct[r.i+1] = p.rt[j] THEN 0 ELSE 1 END))) AS tl " +
      s"FROM rec r JOIN $hFin p ON r.doc_id = p.doc_id " +
      "WHERE r.i < len(p.ct))), " +
      s"fin AS (SELECT r.doc_id, dp[len(p.rt)+1] AS e, len(p.ct) AS cl, " +
      s"len(p.rt) AS rl FROM rec r JOIN $hFin p ON r.doc_id = p.doc_id " +
      "WHERE r.i = len(p.ct)), " +
      "shc AS (SELECT pd AS doc_id, count(*) AS ns FROM pins GROUP BY pd) " +
      "SELECT f.doc_id, CAST(coalesce(shc.ns, 0) AS BIGINT) AS shifts, " +
      "CAST(e AS BIGINT) AS edits, CAST(cl AS BIGINT) AS c_len, " +
      "CAST(rl AS BIGINT) AS r_len, " +
      "round((coalesce(shc.ns, 0) + e)/(1.0*rl), 6) AS ter_shift " +
      "FROM fin f LEFT JOIN shc ON f.doc_id = shc.doc_id"
  }

  val all: Seq[QueryDef] = Seq(
    // operating-point sweep of the fixed quality classifier against the
    // length weak label: confusion + P/R/F1 per threshold, all-integer
    QueryDef("q_threshold_sweep", ((s, d) =>
      TextAnalysis.thresholdSweep(qualityScoredLabeled(s, d),
        "quality_score", "y")),
      // classifier eval: integer confusion sweep + exact tie-aware AUC
      () => thresholdSweepSql),
    // exact tie-aware ROC-AUC of the same scorer (Mann-Whitney form,
    // distributed prefix sum over the score dictionary)
    QueryDef("q_auc", ((s, d) =>
      TextAnalysis.aucScore(qualityScoredLabeled(s, d),
        "quality_score", "y")),
      () => aucSql),
    // the monitoring path: the additive (_s, _np, _nn) score dictionary
    // built from batch 1, MERGEd with batch 2 (doc_id parity split),
    // exact AUC recomputed from the standing dictionary — contract:
    // equals the full rebuild, so the oracle IS the q_auc replay (the
    // q_covariance_incr precedent)
    QueryDef("q_auc_incr", ((s, d) => {
      val scored = qualityScoredLabeled(s, d)
      val dict1 = TextAnalysis.scoreDict(
        scored.where(col("doc_id") % 2 === 0), "quality_score", "y")
      TextAnalysis.aucFromDict(TextAnalysis.scoreDictMerge(dict1,
        scored.where(col("doc_id") % 2 === 1), "quality_score", "y"))
    }),
      // merge ≡ rebuild is the contract, so the incremental path's oracle
      // IS the full-corpus AUC replay
      () => aucSql),
    // exact step-wise average precision (PR-AUC) on the same dictionary
    QueryDef("q_ap", ((s, d) =>
      TextAnalysis.apScore(qualityScoredLabeled(s, d),
        "quality_score", "y")),
      () => apSql),
    // one-row classifier scorecard (accuracy/Brier/log-loss)
    QueryDef("q_clf_report", ((s, d) =>
      TextAnalysis.scoreReport(qualityScoredLabeled(s, d),
        "quality_score", "y")),
      // scorecard: per-row expression aggregate, log-loss eps-clamped
      () => (s"WITH $qualityLabeledCtes " +
        "SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos, " +
        "round(avg(CAST((s >= 0.5) = (y = 1) AS INT)), 4) AS accuracy, " +
        "round(avg((s - y) * (s - y)), 6) AS brier, " +
        "round(-avg(y * ln(greatest(s, 1e-15)) + " +
        "(1 - y) * ln(greatest(1.0 - s, 1e-15))), 6) AS logloss FROM j")),
    // exact two-sample KS drift test: English vs non-English n_chars
    QueryDef("q_ks_drift", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.ksTest(
        docs.where(col("lang") === "en").select(col("n_chars")),
        docs.where(col("lang") =!= "en").select(col("n_chars")),
        "n_chars")
    }),
      // exact KS: integer-rational CDF gap maximized over the dictionary
      () => ("WITH t AS (SELECT CAST(n_chars AS DOUBLE) AS v, " +
        "CAST(lang = 'en' AS INT) AS y FROM documents), " +
        "d AS (SELECT v, CAST(sum(y) AS DOUBLE) AS np, " +
        "CAST(sum(1 - y) AS DOUBLE) AS nn FROM t GROUP BY v), " +
        "c AS (SELECT v, np, nn, " +
        "coalesce(sum(np) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 PRECEDING), 0) AS pb, " +
        "coalesce(sum(nn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND 1 PRECEDING), 0) AS nb FROM d), " +
        "tot AS (SELECT sum(np) AS na, sum(nn) AS nb2 FROM d) " +
        "SELECT CAST(tot.na AS BIGINT) AS n_a, " +
        "CAST(tot.nb2 AS BIGINT) AS n_b, " +
        "round(max(abs((c.pb + c.np) / tot.na - (c.nb + c.nn) / tot.nb2)), 6) AS ks, " +
        "CAST(max(abs((c.pb + c.np) / tot.na - (c.nb + c.nn) / tot.nb2)) > " +
        "1.358 * sqrt((tot.na + tot.nb2) / (tot.na * tot.nb2)) AS INT) " +
        "AS reject_05 FROM c, tot GROUP BY tot.na, tot.nb2")),
    // Poisson-bootstrap CI for the AUC (100 deterministic md5 replicas,
    // exact nearest-rank interval)
    QueryDef("q_auc_boot", ((s, d) =>
      TextAnalysis.aucBootstrap(qualityScoredLabeled(s, d), "doc_id",
        "quality_score", "y", replicas = 100)),
      () => aucBootSql(100)),
    // multi-class Cohen's kappa between two deterministic 3-way judges
    // (the q_fleiss panel's raters 0 and 1) — the two-judge categorical
    // agreement gate beside the panel-level Fleiss
    QueryDef("q_kappa_multi", ((s, d) => {
      def judge(j: Int) =
        (((col("doc_id") % (j + 2)) + (col("doc_id") % 3)) % 3).cast("int")
      TextAnalysis.cohenKappaMulti(
        Tables.documents(s, d).select(judge(0).as("a"), judge(1).as("b")),
        "a", "b")
    }),
      // multi-class Cohen: exact integer sums (agree, Σ row_k·col_k)
      // divided once — the fleissKappa arithmetic
      () => ("WITH v AS (SELECT CAST(((doc_id % 2) + (doc_id % 3)) % 3 AS VARCHAR) AS a, " +
        "CAST(((doc_id % 3) + (doc_id % 3)) % 3 AS VARCHAR) AS b FROM documents), " +
        "cell AS (SELECT a, b, count(*) AS c FROM v GROUP BY a, b), " +
        "tot AS (SELECT coalesce(sum(c), 0) AS n, " +
        "coalesce(sum(CASE WHEN a = b THEN c END), 0) AS agree FROM cell), " +
        "rm AS (SELECT a AS k, sum(c) AS r FROM cell GROUP BY a), " +
        "cm AS (SELECT b AS k, sum(c) AS cc FROM cell GROUP BY b), " +
        "mg AS (SELECT count(*) AS nl, " +
        "coalesce(sum(coalesce(r, 0) * coalesce(cc, 0)), 0) AS src " +
        "FROM rm FULL JOIN cm USING (k)) " +
        "SELECT CAST(tot.n AS BIGINT) AS n, CAST(mg.nl AS BIGINT) AS n_labels, " +
        "round(tot.agree/(1.0*tot.n), 6) AS po, " +
        "round(mg.src/(tot.n*1.0*tot.n), 6) AS pe, " +
        "CASE WHEN mg.src/(tot.n*1.0*tot.n) < 1 THEN " +
        "round((tot.agree/(1.0*tot.n) - mg.src/(tot.n*1.0*tot.n))/" +
        "(1 - mg.src/(tot.n*1.0*tot.n)), 6) END AS kappa FROM tot, mg")),
    // McNemar on paired binary decisions: the trained classifier's keep
    // flag vs the n_chars >= 500 heuristic against the weak label —
    // only discordant pairs carry signal
    QueryDef("q_mcnemar", ((s, d) => {
      val scored = qualityScoredLabeled(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id")
      TextAnalysis.mcnemarTest(
        scored.select(col("y"), col("keep").as("a_pred"),
          (col("n_chars") >= 500).cast("int").as("b_pred")),
        "y", "a_pred", "b_pred")
    }),
      // McNemar: discordant-pair counts + the continuity-corrected
      // chi-square(1) statistic, keep flag from the same logit CTEs
      () => (s"WITH $qualityLabeledCtes, " +
        // keep compares the UNROUNDED sigmoid to keepT (the
        // qualityClassifierScore definition — j.s is rounded 4)
        s"m AS (SELECT CAST(z.n_chars >= 300 AS INT) AS y, " +
        s"CAST(1.0 / (1.0 + exp(-z.z)) >= ${ops.TextAnalysis.QUALITY_W._6} AS INT) AS a, " +
        "CAST(z.n_chars >= 500 AS INT) AS b FROM z), " +
        "agg AS (SELECT count(*) AS n, " +
        "CAST(sum(CASE WHEN a = y AND b <> y THEN 1 ELSE 0 END) AS BIGINT) AS b_only, " +
        "CAST(sum(CASE WHEN a <> y AND b = y THEN 1 ELSE 0 END) AS BIGINT) AS c_only FROM m) " +
        "SELECT n, b_only, c_only, " +
        "CASE WHEN b_only + c_only > 0 THEN " +
        "round((abs(1.0*b_only - c_only) - 1) * (abs(1.0*b_only - c_only) - 1) / (1.0*b_only + c_only), 6) END AS statistic, " +
        "CASE WHEN b_only + c_only > 0 THEN " +
        "CAST((abs(1.0*b_only - c_only) - 1) * (abs(1.0*b_only - c_only) - 1) / (1.0*b_only + c_only) > 3.841 AS INT) END AS reject_05 " +
        "FROM agg")),
    // paired-bootstrap system comparison: per-doc Brier complement of
    // the trained-weights classifier (A) vs the min(1, n_chars/1000)
    // length heuristic (B) against the same weak label — one shared
    // draw per (doc, replica), so item difficulty cancels in Δ
    QueryDef("q_sys_compare", ((s, d) => {
      val scored = qualityScoredLabeled(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id")
      val heur = least(lit(1.0), col("n_chars") / 1000.0)
      TextAnalysis.pairedBootstrap(
        scored.select(col("doc_id"),
          (lit(1.0) - (col("quality_score") - col("y")) *
            (col("quality_score") - col("y"))).as("m_a"),
          (lit(1.0) - (heur - col("y")) * (heur - col("y"))).as("m_b")),
        "doc_id", "m_a", "m_b")
    }),
      // paired bootstrap: the q_auc_boot md5-lane draw replay, one shared
      // weight per (doc, replica), delta = Σw(b−a)/Σw q6, nearest-rank CI
      () => sysCompareSql(100)),
    // paired sign-flip permutation significance over the SAME per-doc
    // (m_a, m_b) frame as q_sys_compare: deterministic md5-lane coins,
    // two-sided add-one p — the hypothesis-test complement of the
    // bootstrap CI
    QueryDef("q_perm_test", ((s, d) => {
      val scored = qualityScoredLabeled(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id")
      val heur = least(lit(1.0), col("n_chars") / 1000.0)
      TextAnalysis.permTestPaired(
        scored.select(col("doc_id"),
          (lit(1.0) - (col("quality_score") - col("y")) *
            (col("quality_score") - col("y"))).as("m_a"),
          (lit(1.0) - (heur - col("y")) * (heur - col("y"))).as("m_b")),
        "doc_id", "m_a", "m_b")
    }),
      // sign-flip permutation replay on the q_sys_compare (ma, mb) frame:
      // md5(salt|doc|replica) 4-hex-digit parity coins, q6 replica means,
      // |Δ_r| ≥ |Δ_obs| counted on the rounded grid, add-one p
      () => (s"WITH $qualityLabeledCtes, " +
        "m AS (SELECT j.doc_id, " +
        "1.0 - (j.s - j.y) * (j.s - j.y) AS ma, " +
        "1.0 - (least(1.0, d.n_chars/1000.0) - j.y) * " +
        "(least(1.0, d.n_chars/1000.0) - j.y) AS mb " +
        "FROM j JOIN documents d USING (doc_id)), " +
        "ob AS (SELECT CAST(count(*) AS BIGINT) AS n, " +
        "round(sum(mb - ma) / count(*), 6) AS dobs FROM m), " +
        "e AS (SELECT m.doc_id, m.ma, m.mb, CAST(r.range AS BIGINT) AS b " +
        "FROM m, range(200) r), " +
        "sgn AS (SELECT b, CASE WHEN CAST(('0x' || " +
        "substring(md5('perm' || '|' || CAST(doc_id AS VARCHAR) || '|' || " +
        "CAST(b AS VARCHAR)), 1, 4)) AS UBIGINT) % 2 = 0 " +
        "THEN (mb - ma) ELSE -(mb - ma) END AS sd FROM e), " +
        "per AS (SELECT b, round(sum(sd) / (SELECT n FROM ob), 6) AS d " +
        "FROM sgn GROUP BY b) " +
        "SELECT ob.n AS n_items, CAST(200 AS INT) AS n_replicas, " +
        "ob.dobs AS delta_obs, " +
        "CASE WHEN ob.n > 0 THEN round((1 + (SELECT count(*) FROM per " +
        "WHERE abs(per.d) >= abs(ob.dobs))) / 201.0, 6) END AS p_value " +
        "FROM ob")),
    // the fairness cut: exact AUC per source, off the same standing
    // scored table as the rest of the eval family
    QueryDef("q_auc_group", ((s, d) =>
      TextAnalysis.aucByGroup(qualityScoredLabeled(s, d),
        "source", "quality_score", "y")),
      () => aucGroupSql),
    // chance-corrected agreement between two weak labelers (model
    // quality gate vs Flesch readability gate) over tokenizable docs —
    // the weak-supervision acceptance check
    QueryDef("q_kappa", ((s, d) =>
      TextAnalysis.cohenKappa(
        TextAnalysis.weakLabels(Tables.documents(s, d)), "keep_a", "keep_b")),
      // κ replay over the shared weak-label CTEs: exact integer counts,
      // then the same double ratio arithmetic as the engine
      () => (s"WITH ${weakLabelCtes(30.0)}, " +
        "agg AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(a) AS na, " +
        "sum(b) AS nb, sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree FROM l) " +
        "SELECT n, round(na / CAST(n AS DOUBLE), 4) AS p_a, " +
        "round(nb / CAST(n AS DOUBLE), 4) AS p_b, " +
        "round(agree / CAST(n AS DOUBLE), 4) AS po, " +
        "round((na * nb + (n - na) * (n - nb)) / (n * CAST(n AS DOUBLE)), 4) AS pe, " +
        "round(CASE WHEN (na * nb + (n - na) * (n - nb)) / (n * CAST(n AS DOUBLE)) < 1.0 " +
        "THEN (agree / CAST(n AS DOUBLE) - " +
        "(na * nb + (n - na) * (n - nb)) / (n * CAST(n AS DOUBLE))) / " +
        "(1.0 - (na * nb + (n - na) * (n - nb)) / (n * CAST(n AS DOUBLE))) END, 4) AS kappa " +
        "FROM agg")),
    // reliability diagram of the quality classifier probability against
    // the readability proxy label: per-decile mean prediction vs
    // observed positive rate + Brier contribution
    QueryDef("q_calibration", ((s, d) =>
      TextAnalysis.calibrationReport(
        TextAnalysis.weakLabels(Tables.documents(s, d)),
        "quality_score", "keep_b")),
      // reliability-diagram replay: bins on the ROUNDED score (both
      // engines bin the identical 4-decimal double)
      () => (s"WITH ${weakLabelCtes(30.0)}, " +
        "bb AS (SELECT least(CAST(floor(s * 10) AS INT) + 1, 10) AS bin, s, b FROM l) " +
        "SELECT bin, CAST(count(*) AS BIGINT) AS n, " +
        "round(avg(s), 4) AS mean_score, " +
        "round(avg(CAST(b AS DOUBLE)), 4) AS frac_pos, " +
        "round(avg((s - b) * (s - b)), 4) AS brier " +
        "FROM bb GROUP BY bin")),
    // the report collapsed to the model-card scalars (ECE/MCE) over
    // the same bins and the same weak-label frame
    QueryDef("q_calibration_error", ((s, d) =>
      TextAnalysis.calibrationError(
        TextAnalysis.weakLabels(Tables.documents(s, d)),
        "quality_score", "keep_b")),
      // per-bin exact sums; ECE's n_b weight cancels to |Σs − Σb|
      () => (s"WITH ${weakLabelCtes(30.0)}, " +
        "bb AS (SELECT least(CAST(floor(s * 10) AS INT) + 1, 10) AS bin, s, b FROM l), " +
        "g AS (SELECT bin, count(*) AS n, sum(s) AS ss, " +
        "sum(CAST(b AS DOUBLE)) AS sy FROM bb GROUP BY bin) " +
        "SELECT CAST(sum(n) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) AS n_bins, " +
        "round(sum(abs(ss - sy)) / CAST(sum(n) AS DOUBLE), 4) AS ece, " +
        "round(max(abs(ss / n - sy / n)), 4) AS mce FROM g")),
    // corpus BLEU of a synthetic degraded candidate (every 3rd token
    // dropped — deterministic, so the oracle rebuilds the exact pair
    // set) vs the original text: p1 = 1 by construction (dropping only
    // reduces counts under clipping), higher n-gram precisions and the
    // brevity penalty price the damage
    QueryDef("q_bleu", ((s, d) =>
      TextAnalysis.bleuScore(evalPairs(s, d), "doc_id", "ref", "cand")),
      // corpus BLEU: the pair set rebuilt with DuckDB's 1-based indexed
      // list_filter (≡ Spark's 0-based (i+1)%3), clipped matches via the
      // per-(pair, n, gram) count join, q6 per-level logs, BP in the
      // exponent — the bleuScore arithmetic term for term
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS rt FROM documents), " +
        "pair AS (SELECT doc_id, rt, list_filter(rt, (x, i) -> i % 3 <> 0) AS ct FROM tk), " +
        "lens AS (SELECT count(*) AS np, CAST(coalesce(sum(len(ct)), 0) AS BIGINT) AS cl, " +
        "CAST(coalesce(sum(len(rt)), 0) AS BIGINT) AS rl FROM pair), " +
        "grams AS (SELECT doc_id, n.n AS n, " +
        "list_transform(range(1, len(ct)-n.n+2), i -> array_to_string(list_slice(ct, i, i+n.n-1), ' ')) AS cg, " +
        "list_transform(range(1, len(rt)-n.n+2), i -> array_to_string(list_slice(rt, i, i+n.n-1), ' ')) AS rg " +
        "FROM pair, (SELECT unnest(range(1, 5)) AS n) n), " +
        "cg AS (SELECT doc_id, n, g, count(*) AS cc FROM " +
        "(SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "rg AS (SELECT doc_id, n, g, count(*) AS cr FROM " +
        "(SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "pern AS (SELECT cg.n, sum(least(cc, coalesce(cr, 0))) AS m, sum(cc) AS t " +
        "FROM cg LEFT JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g " +
        "GROUP BY cg.n), " +
        "p AS (SELECT n, CASE WHEN t > 0 THEN m/(1.0*t) END AS p FROM pern), " +
        // ln only inside the p > 0 branch: DuckDB ln(0) THROWS, and a
        // zero-match level must read bleu = 0.0, not crash the gate
        "agg AS (SELECT sum(CASE WHEN p > 0 THEN round(ln(p), 6) END)/4 AS mlp, " +
        "min(CASE WHEN p IS NULL OR p = 0 THEN 0 ELSE 1 END) AS ok, count(*) AS k FROM p) " +
        "SELECT lens.np AS n_pairs, lens.cl AS c_len, lens.rl AS r_len, " +
        "round((SELECT p FROM p WHERE n = 1), 6) AS p1, " +
        "round((SELECT p FROM p WHERE n = 2), 6) AS p2, " +
        "round((SELECT p FROM p WHERE n = 3), 6) AS p3, " +
        "round((SELECT p FROM p WHERE n = 4), 6) AS p4, " +
        "CASE WHEN lens.cl = 0 THEN NULL " +
        "WHEN agg.ok = 0 OR agg.k < 4 THEN 0.0 " +
        "ELSE round(exp(agg.mlp + least(0.0, 1.0 - lens.rl/(1.0*lens.cl))), 4) " +
        "END AS bleu FROM lens, agg")),
    // per-source corpus BLEU — the fairness cut of q_bleu (bleuByGroup
    // stays fully columnar: pivoted per-(group, n) totals, no driver
    // collect at any group cardinality)
    QueryDef("q_bleu_source", ((s, d) =>
      TextAnalysis.bleuByGroup(evalPairs(s, d),
        "source", "doc_id", "ref", "cand")),
      // per-source BLEU: the q_bleu replay pivoted per (source, n)
      () => bleuSourceSql(4)),
    // MULTI-REFERENCE corpus BLEU (SacreBLEU convention): ref2 is the
    // every-3rd-token→"xx" mutation of ref, cand is cand_sub (that same
    // mutation with every 5th token dropped) — so cand's "xx" grams are
    // licensed ONLY by ref2 and its clean grams only by ref, exercising
    // the per-gram max-over-references clip in both directions; the
    // brevity penalty takes the closest-length (tie: shorter) reference
    QueryDef("q_bleu_multiref", ((s, d) => {
      val ep = evalPairs(s, d)
      val rt = Core.tokensUni(col("ref"))
      val pairs = ep.select(col("doc_id"), col("ref"),
        array_join(transform(rt, (x, i) =>
          when((i + 1) % 3 === 0, lit("xx")).otherwise(x)), " ").as("ref2"),
        col("cand_sub").as("cand"))
      TextAnalysis.bleuScoreMulti(pairs, "doc_id", Seq("ref", "ref2"),
        "cand")
    }),
      // multi-reference BLEU: the q_bleu replay with (a) clipped matches
      // against the per-gram MAX over both references and (b) r_len = Σ of
      // the per-pair closest-length (tie: shorter) reference length.
      // 1-based DuckDB lambdas ≡ Spark's 0-based (i+1) residues.
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS rt FROM documents), " +
        "pair AS (SELECT doc_id, rt, " +
        "list_transform(rt, (x, i) -> CASE WHEN i % 3 = 0 THEN 'xx' ELSE x END) AS rt2, " +
        "list_filter(list_transform(rt, (x, i) -> CASE WHEN i % 3 = 0 THEN 'xx' ELSE x END), " +
        "(x, i) -> i % 5 <> 0) AS ct FROM tk), " +
        "lens AS (SELECT count(*) AS np, CAST(coalesce(sum(len(ct)), 0) AS BIGINT) AS cl, " +
        "CAST(coalesce(sum(CASE WHEN abs(len(rt2) - len(ct)) < abs(len(rt) - len(ct)) " +
        "OR (abs(len(rt2) - len(ct)) = abs(len(rt) - len(ct)) AND len(rt2) < len(rt)) " +
        "THEN len(rt2) ELSE len(rt) END), 0) AS BIGINT) AS rl FROM pair), " +
        "grams AS (SELECT doc_id, n.n AS n, " +
        "list_transform(range(1, len(ct)-n.n+2), i -> array_to_string(list_slice(ct, i, i+n.n-1), ' ')) AS cg, " +
        "list_transform(range(1, len(rt)-n.n+2), i -> array_to_string(list_slice(rt, i, i+n.n-1), ' ')) AS rg, " +
        "list_transform(range(1, len(rt2)-n.n+2), i -> array_to_string(list_slice(rt2, i, i+n.n-1), ' ')) AS rg2 " +
        "FROM pair, (SELECT unnest(range(1, 5)) AS n) n), " +
        "cg AS (SELECT doc_id, n, g, count(*) AS cc FROM " +
        "(SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "rg AS (SELECT doc_id, n, g, count(*) AS cr FROM " +
        "(SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "rg2 AS (SELECT doc_id, n, g, count(*) AS cr2 FROM " +
        "(SELECT doc_id, n, unnest(rg2) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "pern AS (SELECT cg.n, " +
        "sum(least(cc, greatest(coalesce(cr, 0), coalesce(cr2, 0)))) AS m, " +
        "sum(cc) AS t FROM cg " +
        "LEFT JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g " +
        "LEFT JOIN rg2 ON cg.doc_id = rg2.doc_id AND cg.n = rg2.n AND cg.g = rg2.g " +
        "GROUP BY cg.n), " +
        "p AS (SELECT n, CASE WHEN t > 0 THEN m/(1.0*t) END AS p FROM pern), " +
        "agg AS (SELECT sum(CASE WHEN p > 0 THEN round(ln(p), 6) END)/4 AS mlp, " +
        "min(CASE WHEN p IS NULL OR p = 0 THEN 0 ELSE 1 END) AS ok, count(*) AS k FROM p) " +
        "SELECT lens.np AS n_pairs, lens.cl AS c_len, lens.rl AS r_len, " +
        "round((SELECT p FROM p WHERE n = 1), 6) AS p1, " +
        "round((SELECT p FROM p WHERE n = 2), 6) AS p2, " +
        "round((SELECT p FROM p WHERE n = 3), 6) AS p3, " +
        "round((SELECT p FROM p WHERE n = 4), 6) AS p4, " +
        "CASE WHEN lens.cl = 0 THEN NULL " +
        "WHEN agg.ok = 0 OR agg.k < 4 THEN 0.0 " +
        "ELSE round(exp(agg.mlp + least(0.0, 1.0 - lens.rl/(1.0*lens.cl))), 4) " +
        "END AS bleu FROM lens, agg")),
    // chrF2 on the q_bleu fixture (ref = the token-joined text, so both
    // sides share the tokenizer's casing): character n-gram F with
    // whitespace removed — pure integer-rational algebra, no logs
    QueryDef("q_chrf", ((s, d) =>
      TextAnalysis.chrF(evalPairs(s, d), "doc_id", "ref", "cand")),
      // chrF2: character-gram clipped stats (chars of the token-joined,
      // whitespace-removed text), effective-order means, β² = 4 — pure
      // integer-rational algebra
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS t FROM documents), " +
        "pair AS (SELECT doc_id, " +
        "regexp_extract_all(array_to_string(t, ''), '(?s).') AS rt, " +
        "regexp_extract_all(array_to_string(list_filter(t, (x, i) -> i % 3 <> 0), ''), '(?s).') AS ct " +
        "FROM tk), " +
        "lens AS (SELECT count(*) AS np, CAST(coalesce(sum(len(ct)), 0) AS BIGINT) AS cl, " +
        "CAST(coalesce(sum(len(rt)), 0) AS BIGINT) AS rl FROM pair), " +
        "grams AS (SELECT doc_id, n.n AS n, " +
        "list_transform(range(1, len(ct)-n.n+2), i -> array_to_string(list_slice(ct, i, i+n.n-1), ' ')) AS cg, " +
        "list_transform(range(1, len(rt)-n.n+2), i -> array_to_string(list_slice(rt, i, i+n.n-1), ' ')) AS rg " +
        "FROM pair, (SELECT unnest(range(1, 7)) AS n) n), " +
        "cg AS (SELECT doc_id, n, g, count(*) AS cc FROM " +
        "(SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "rg AS (SELECT doc_id, n, g, count(*) AS cr FROM " +
        "(SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "pern AS (SELECT coalesce(cg.n, rg.n) AS n, " +
        "sum(least(coalesce(cc, 0), coalesce(cr, 0))) AS m, " +
        "sum(coalesce(cc, 0)) AS t, sum(coalesce(cr, 0)) AS tr " +
        "FROM cg FULL JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g " +
        "GROUP BY 1), " +
        "pr AS (SELECT coalesce(avg(CASE WHEN t > 0 THEN m/(1.0*t) END), 0) AS p, " +
        "coalesce(avg(CASE WHEN tr > 0 THEN m/(1.0*tr) END), 0) AS r FROM pern) " +
        // either side character-free → NULL metrics (the chrF contract),
        // not 0.0 — a degenerate snapshot must not flip the row
        "SELECT lens.np AS n_pairs, lens.cl AS c_chars, lens.rl AS r_chars, " +
        "CASE WHEN lens.cl > 0 AND lens.rl > 0 THEN round(p, 6) END AS chr_p, " +
        "CASE WHEN lens.cl > 0 AND lens.rl > 0 THEN round(r, 6) END AS chr_r, " +
        "CASE WHEN lens.cl = 0 OR lens.rl = 0 THEN NULL " +
        "WHEN p + r = 0 THEN 0.0 ELSE round(5.0*p*r/(4.0*p+r), 6) END AS chrf " +
        "FROM lens, pr")),
    // chrF++ (word-order-2): the chrF level means extended with word
    // 1-2 grams — two zero-exchange kernel scans (char + token)
    QueryDef("q_chrfpp", ((s, d) =>
      TextAnalysis.chrFpp(evalPairs(s, d), "doc_id", "ref", "cand")),
      // chrF++: the q_chrf char pern UNIONed with a word 1-2 gram pern
      // (word levels keyed n+100 so the pooled effective-order average
      // runs over all 8 levels exactly like chrFpp's ps/rs means)
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS t FROM documents), " +
        "pair AS (SELECT doc_id, " +
        "regexp_extract_all(array_to_string(t, ''), '(?s).') AS rc, " +
        "regexp_extract_all(array_to_string(list_filter(t, (x, i) -> i % 3 <> 0), ''), '(?s).') AS cc, " +
        "t AS rw, list_filter(t, (x, i) -> i % 3 <> 0) AS cw FROM tk), " +
        "lens AS (SELECT count(*) AS np, CAST(coalesce(sum(len(cc)), 0) AS BIGINT) AS cl, " +
        "CAST(coalesce(sum(len(rc)), 0) AS BIGINT) AS rl, " +
        "CAST(coalesce(sum(len(cw)), 0) AS BIGINT) AS cwn, " +
        "CAST(coalesce(sum(len(rw)), 0) AS BIGINT) AS rwn FROM pair), " +
        "grams AS (SELECT doc_id, n.n AS n, " +
        "list_transform(range(1, len(cc)-n.n+2), i -> array_to_string(list_slice(cc, i, i+n.n-1), ' ')) AS cg, " +
        "list_transform(range(1, len(rc)-n.n+2), i -> array_to_string(list_slice(rc, i, i+n.n-1), ' ')) AS rg " +
        "FROM pair, (SELECT unnest(range(1, 7)) AS n) n " +
        "UNION ALL SELECT doc_id, n.n + 100 AS n, " +
        "list_transform(range(1, len(cw)-n.n+2), i -> array_to_string(list_slice(cw, i, i+n.n-1), ' ')) AS cg, " +
        "list_transform(range(1, len(rw)-n.n+2), i -> array_to_string(list_slice(rw, i, i+n.n-1), ' ')) AS rg " +
        "FROM pair, (SELECT unnest(range(1, 3)) AS n) n), " +
        "cg AS (SELECT doc_id, n, g, count(*) AS cc FROM " +
        "(SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "rg AS (SELECT doc_id, n, g, count(*) AS cr FROM " +
        "(SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "pern AS (SELECT coalesce(cg.n, rg.n) AS n, " +
        "sum(least(coalesce(cc, 0), coalesce(cr, 0))) AS m, " +
        "sum(coalesce(cc, 0)) AS t, sum(coalesce(cr, 0)) AS tr " +
        "FROM cg FULL JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g " +
        "GROUP BY 1), " +
        "pr AS (SELECT coalesce(avg(CASE WHEN t > 0 THEN m/(1.0*t) END), 0) AS p, " +
        "coalesce(avg(CASE WHEN tr > 0 THEN m/(1.0*tr) END), 0) AS r FROM pern) " +
        "SELECT lens.np AS n_pairs, lens.cl AS c_chars, lens.rl AS r_chars, " +
        "lens.cwn AS c_words, lens.rwn AS r_words, " +
        "CASE WHEN lens.cl > 0 AND lens.rl > 0 THEN round(p, 6) END AS chr_p, " +
        "CASE WHEN lens.cl > 0 AND lens.rl > 0 THEN round(r, 6) END AS chr_r, " +
        "CASE WHEN lens.cl = 0 OR lens.rl = 0 THEN NULL " +
        "WHEN p + r = 0 THEN 0.0 ELSE round(5.0*p*r/(4.0*p+r), 6) END AS chrfpp " +
        "FROM lens, pr")),
    // per-pair smoothed sentence BLEU (BLEU+1): the candidate-ranking
    // signal beside the corpus number — pure scan off the same-row
    // clip kernels, zero shuffle
    QueryDef("q_bleu_sent", ((s, d) =>
      TextAnalysis.bleuSentence(evalPairs(s, d), "doc_id", "ref", "cand")),
      // sentence BLEU+1: per-doc clipped level counts pivoted, p1
      // unsmoothed, (m+1)/(t+1) above, q6 per-ln + brevity — the
      // bleuSentence arithmetic verbatim
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS rt FROM documents), " +
        "pair AS (SELECT doc_id, rt, list_filter(rt, (x, i) -> i % 3 <> 0) AS ct " +
        "FROM tk WHERE len(rt) > 0), " +
        "grams AS (SELECT doc_id, n.n AS n, " +
        "list_transform(range(1, len(ct)-n.n+2), i -> array_to_string(list_slice(ct, i, i+n.n-1), ' ')) AS cg, " +
        "list_transform(range(1, len(rt)-n.n+2), i -> array_to_string(list_slice(rt, i, i+n.n-1), ' ')) AS rg " +
        "FROM pair, (SELECT unnest(range(1, 5)) AS n) n), " +
        "cg AS (SELECT doc_id, n, g, count(*) AS cc FROM " +
        "(SELECT doc_id, n, unnest(cg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "rg AS (SELECT doc_id, n, g, count(*) AS cr FROM " +
        "(SELECT doc_id, n, unnest(rg) AS g FROM grams) GROUP BY 1, 2, 3), " +
        "pern AS (SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id, " +
        "coalesce(cg.n, rg.n) AS n, " +
        "sum(least(coalesce(cc, 0), coalesce(cr, 0))) AS m, " +
        "sum(coalesce(cc, 0)) AS t " +
        "FROM cg FULL JOIN rg ON cg.doc_id = rg.doc_id AND cg.n = rg.n AND cg.g = rg.g " +
        "GROUP BY 1, 2), " +
        "piv AS (SELECT p.doc_id, len(p.ct) AS cl, len(p.rt) AS rl, " +
        "coalesce(sum(CASE WHEN n = 1 THEN m END), 0) AS m1, " +
        "coalesce(sum(CASE WHEN n = 1 THEN t END), 0) AS t1, " +
        "coalesce(sum(CASE WHEN n = 2 THEN m END), 0) AS m2, " +
        "coalesce(sum(CASE WHEN n = 2 THEN t END), 0) AS t2, " +
        "coalesce(sum(CASE WHEN n = 3 THEN m END), 0) AS m3, " +
        "coalesce(sum(CASE WHEN n = 3 THEN t END), 0) AS t3, " +
        "coalesce(sum(CASE WHEN n = 4 THEN m END), 0) AS m4, " +
        "coalesce(sum(CASE WHEN n = 4 THEN t END), 0) AS t4 " +
        "FROM pair p LEFT JOIN pern ON pern.doc_id = p.doc_id " +
        "GROUP BY 1, 2, 3) " +
        "SELECT doc_id, CAST(cl AS BIGINT) AS c_len, CAST(rl AS BIGINT) AS r_len, " +
        "CASE WHEN cl = 0 THEN NULL WHEN m1 = 0 THEN 0.0 ELSE " +
        "round(exp((round(ln(m1/(1.0*t1)), 6) + round(ln((m2+1)/(1.0*(t2+1))), 6) + " +
        "round(ln((m3+1)/(1.0*(t3+1))), 6) + round(ln((m4+1)/(1.0*(t4+1))), 6))/4 " +
        "+ least(0.0, 1.0 - rl/(1.0*cl))), 4) END AS bleu_s " +
        "FROM piv")),
    // ROUGE-2 per pair on the q_bleu fixture: clipped bigram
    // recall/precision/F — the reported summarization metric beside
    // ROUGE-L's subsequence view
    QueryDef("q_rouge2", ((s, d) =>
      TextAnalysis.rougeN(evalPairs(s, d), "doc_id", "ref", "cand", n = 2)),
      // ROUGE-2: per-doc clipped bigram counts, the q_bleu gram
      // machinery at one level with per-pair outputs
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS rt FROM documents), " +
        "pair AS (SELECT doc_id, rt, list_filter(rt, (x, i) -> i % 3 <> 0) AS ct FROM tk), " +
        "g AS (SELECT doc_id, " +
        "list_transform(range(1, len(ct)), i -> array_to_string(list_slice(ct, i, i+1), ' ')) AS cg, " +
        "list_transform(range(1, len(rt)), i -> array_to_string(list_slice(rt, i, i+1), ' ')) AS rg " +
        "FROM pair WHERE len(ct) >= 2 AND len(rt) >= 2), " +
        "cg AS (SELECT doc_id, gg, count(*) AS cc FROM " +
        "(SELECT doc_id, unnest(cg) AS gg FROM g) GROUP BY 1, 2), " +
        "rg AS (SELECT doc_id, gg, count(*) AS cr FROM " +
        "(SELECT doc_id, unnest(rg) AS gg FROM g) GROUP BY 1, 2), " +
        "m AS (SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id, " +
        "sum(least(coalesce(cc, 0), coalesce(cr, 0))) AS matches " +
        "FROM cg FULL JOIN rg ON cg.doc_id = rg.doc_id AND cg.gg = rg.gg GROUP BY 1), " +
        "lens AS (SELECT doc_id, len(cg) AS cgr, len(rg) AS rgr FROM g) " +
        "SELECT l.doc_id, CAST(m.matches AS BIGINT) AS matches, " +
        "CAST(l.cgr AS BIGINT) AS c_grams, CAST(l.rgr AS BIGINT) AS r_grams, " +
        "round(m.matches/(1.0*l.cgr), 6) AS rouge_p, " +
        "round(m.matches/(1.0*l.rgr), 6) AS rouge_r, " +
        "CASE WHEN m.matches > 0 THEN round(2.0*(m.matches/(1.0*l.cgr))*(m.matches/(1.0*l.rgr))/" +
        "((m.matches/(1.0*l.cgr))+(m.matches/(1.0*l.rgr))), 6) ELSE 0.0 END AS rouge_f " +
        "FROM lens l JOIN m USING (doc_id)")),
    // ROUGE-L per pair on the q_bleu fixture: LCS in the codegen DP
    // kernel, pure scan stage. Dropping tokens keeps the remainder a
    // subsequence, so lcs = c_len and P = 1 by construction — R and F
    // price the cut (the complementary recall view to q_bleu)
    QueryDef("q_rouge", ((s, d) =>
      TextAnalysis.rougeL(evalPairs(s, d), "doc_id", "ref", "cand")),
      // ROUGE-L: the LCS DP replayed as a recursive CTE — row i of the
      // DP table advances per candidate token, and the in-row sequential
      // dependence resolves via the prefix-max identity
      // dp'[j] = max(dp[j], max over matches k<=j of dp[k-1]+1)
      () => (s"WITH RECURSIVE tk AS (SELECT doc_id, $TOKS AS rt FROM documents), " +
        "pair AS (SELECT doc_id, rt, list_filter(rt, (x, i) -> i % 3 <> 0) AS ct FROM tk), " +
        "rec(doc_id, i, dp) AS (" +
        "SELECT doc_id, 0, list_transform(range(0, len(rt)+1), x -> 0) FROM pair " +
        "UNION ALL " +
        "SELECT r.doc_id, r.i + 1, " +
        "(SELECT list_prepend(0, list_transform(range(1, len(p.rt)+1), j -> " +
        "greatest(dp[j+1], " +
        "coalesce(list_max(list_transform(range(1, j+1), k -> " +
        "CASE WHEN p.ct[r.i+1] = p.rt[k] THEN dp[k] + 1 END)), 0))))) " +
        "FROM rec r JOIN pair p ON r.doc_id = p.doc_id " +
        "WHERE r.i < len(p.ct)), " +
        "fin AS (SELECT r.doc_id, dp[len(p.rt)+1] AS l, len(p.ct) AS cl, " +
        "len(p.rt) AS rl FROM rec r JOIN pair p ON r.doc_id = p.doc_id " +
        "WHERE r.i = len(p.ct)) " +
        "SELECT doc_id, CAST(l AS BIGINT) AS lcs, CAST(cl AS BIGINT) AS c_len, " +
        "CAST(rl AS BIGINT) AS r_len, " +
        "round(l/(1.0*cl), 6) AS rouge_p, round(l/(1.0*rl), 6) AS rouge_r, " +
        "CASE WHEN l > 0 THEN round(2.0*(l/(1.0*cl))*(l/(1.0*rl))/((l/(1.0*cl))+(l/(1.0*rl))), 6) " +
        "ELSE 0.0 END AS rouge_f " +
        "FROM fin WHERE cl > 0 AND rl > 0")),
    // TER (shift-free) on a HARDER synthetic degradation than the
    // q_bleu drop fixture (a pure subsequence makes edit distance
    // collapse to r_len − c_len): every 3rd token SUBSTITUTED with a
    // marker and every 5th dropped, so the DP must actually mix
    // substitutions and deletions. Codegen two-row Levenshtein in the
    // scan — zero shuffle; oracle replays the DP via the min-plus
    // prefix identity (the q_rouge recursive-CTE doctrine)
    // SQuAD-style QA eval over the standing pair fixture: EM on the
    // shared tokenizer's normal form + token-F1 (= the rougeN n=1 clip)
    QueryDef("q_qa_eval", ((s, d) =>
      TextAnalysis.qaEval(evalPairs(s, d), "doc_id", "ref", "cand")),
      // the q_rouge2 unigram clip (grams = the tokens themselves) + list
      // equality for EM, averaged; gold = ref, pred = cand (every-3rd-
      // token drop), both replayed from documents.text
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS rt FROM documents), " +
        "pair AS (SELECT doc_id, rt, list_filter(rt, (x, i) -> i % 3 <> 0) AS ct FROM tk), " +
        "cg AS (SELECT doc_id, gg, count(*) AS cc FROM " +
        "(SELECT doc_id, unnest(ct) AS gg FROM pair) GROUP BY 1, 2), " +
        "rg AS (SELECT doc_id, gg, count(*) AS cr FROM " +
        "(SELECT doc_id, unnest(rt) AS gg FROM pair) GROUP BY 1, 2), " +
        "m AS (SELECT coalesce(cg.doc_id, rg.doc_id) AS doc_id, " +
        "sum(least(coalesce(cc, 0), coalesce(cr, 0))) AS matches " +
        "FROM cg FULL JOIN rg ON cg.doc_id = rg.doc_id AND cg.gg = rg.gg GROUP BY 1), " +
        "lens AS (SELECT doc_id, len(ct) AS cgr, len(rt) AS rgr, " +
        "CASE WHEN ct = rt THEN 1 ELSE 0 END AS em FROM pair " +
        "WHERE len(ct) > 0 AND len(rt) > 0), " +
        "per AS (SELECT l.doc_id, l.em, " +
        "CASE WHEN m.matches > 0 THEN round(2.0*(m.matches/(1.0*l.cgr))*(m.matches/(1.0*l.rgr))/" +
        "((m.matches/(1.0*l.cgr))+(m.matches/(1.0*l.rgr))), 6) ELSE 0.0 END AS f " +
        "FROM lens l JOIN m USING (doc_id)) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
        "round(avg(em), 4) AS exact_match, round(avg(f), 4) AS token_f1 FROM per")),
    QueryDef("q_ter", ((s, d) =>
      TextAnalysis.ter(evalPairs(s, d), "doc_id", "ref", "cand_sub")),
      // shift-free TER: the Levenshtein DP replayed as a recursive CTE —
      // the q_rouge prefix trick for the in-row sequential dependence,
      // here the MIN-PLUS identity cur[j] = min_k<=j (t[k] + (j-k)) with
      // t[k] = min(del, sub) candidates off the previous row
      () => // pair is MATERIALIZED: the DP recursion joins it per step, and
      // unmaterialized each step re-tokenized + re-degraded the corpus
      (s"WITH RECURSIVE tk AS (SELECT doc_id, $TOKS AS rt FROM documents), " +
        "pair AS MATERIALIZED (SELECT doc_id, rt, " +
        "list_filter(list_transform(rt, (x, i) -> CASE WHEN i % 3 = 0 THEN 'xx' ELSE x END), " +
        "(x, i) -> i % 5 <> 0) AS ct FROM tk WHERE len(rt) > 0), " +
        "rec(doc_id, i, dp) AS (" +
        "SELECT doc_id, 0, list_transform(range(0, len(rt)+1), x -> x) FROM pair " +
        "UNION ALL " +
        "SELECT doc_id, i + 1, " +
        "list_transform(range(0, len(tl)), j -> " +
        "list_min(list_transform(range(0, j+1), k -> tl[k+1] + (j - k)))) FROM (" +
        "SELECT r.doc_id, r.i AS i, " +
        "list_prepend(r.i + 1, list_transform(range(1, len(p.rt)+1), j -> " +
        "least(dp[j+1] + 1, dp[j] + CASE WHEN p.ct[r.i+1] = p.rt[j] THEN 0 ELSE 1 END))) AS tl " +
        "FROM rec r JOIN pair p ON r.doc_id = p.doc_id " +
        "WHERE r.i < len(p.ct))), " +
        "fin AS (SELECT r.doc_id, dp[len(p.rt)+1] AS e, len(p.ct) AS cl, " +
        "len(p.rt) AS rl FROM rec r JOIN pair p ON r.doc_id = p.doc_id " +
        "WHERE r.i = len(p.ct)) " +
        "SELECT doc_id, CAST(e AS BIGINT) AS edits, CAST(cl AS BIGINT) AS c_len, " +
        "CAST(rl AS BIGINT) AS r_len, round(e/(1.0*rl), 6) AS ter FROM fin")),
    // greedy-shift TER on sentence-shaped slices (first 32 tokens —
    // the terShift contract; real MT evals are sentence-segmented),
    // with the 32-slice of cand_sub ROTATED left by 8 when it has ≥16
    // tokens so the block-shift loop actually fires (the sub/drop
    // degradation alone is order-preserving — zero shifts, a fixture
    // that never exercises the operator). Oracled since round 14 via
    // the q_bpe_apply pin discipline: the greedy loop's DECISIONS
    // (applied shifts at sf0.01) are pinned literals, shift application
    // + the edit DP replay mechanically in DuckDB — kernel drift makes
    // the replayed edits diverge and the row goes red rather than
    // silently drifting from the pin.
    QueryDef("q_ter_shift", ((s, d) => {
      val ct = slice(Core.tokensUni(col("cand_sub")), 1, 32)
      val rot = when(size(ct) >= 16,
        concat(slice(ct, lit(9), size(ct) - 8), slice(ct, 1, 8))).otherwise(ct)
      val sliced = evalPairs(s, d).select(col("doc_id"),
        array_join(slice(Core.tokensUni(col("ref")), 1, 32), " ").as("ref"),
        array_join(rot, " ").as("cand_sub"))
      TextAnalysis.terShift(sliced, "doc_id", "ref", "cand_sub")
    }),
      // greedy-shift TER replay under the PINNED sf0.01 shift decisions
      // (tools/pin_ter_r14.scala): application + edit DP are mechanical,
      // the argmin decisions ride as literals — converted from rows-only
      // in round 14 (the q_bpe_apply precedent)
      () => terShiftSql),
    // TRUE add-k perplexity under the STANDING bigram-count model
    // (fit on the 97-residue train split, scored over every doc —
    // held-out docs hit unseen events and the smoothing actually
    // carries them; the CCNet-style quality filter proper)
    QueryDef("q_lm_ppl", ((s, d) => {
      val docs = Tables.documents(s, d)
      // the model is the STANDING artifact: materialize it once — the
      // scorer reads it twice (count join + context rollup), and an
      // unmaterialized model would re-scan the train split for each
      // (plan-audited round 11)
      TextAnalysis.lmPerplexity(docs,
        TextAnalysis.lmCounts(docs.where(col("doc_id") % 97 =!= 0))
          .localCheckpoint())
    }),
      // add-k perplexity under the train-split bigram model: V+1 for the
      // OOV bucket, per-term q6 logs, ppl = exp of the ROUNDED ce
      () => (s"WITH tk AS (SELECT doc_id, $TOKS AS t FROM documents), " +
        "pairs AS (SELECT doc_id, z[1] AS prev, z[2] AS word FROM " +
        "(SELECT doc_id, unnest(list_zip(t[1:len(t)-1], t[2:len(t)])) AS z " +
        "FROM tk WHERE len(t) >= 2)), " +
        "m AS (SELECT prev, word, count(*) AS cnt FROM pairs WHERE doc_id % 97 <> 0 GROUP BY 1, 2), " +
        "vv AS (SELECT count(DISTINCT word) + 1 AS v FROM m), " +
        "ctx AS (SELECT prev, sum(cnt) AS c1 FROM m GROUP BY prev), " +
        "sc AS (SELECT p.doc_id, " +
        "round(ln((coalesce(m.cnt, 0) + 0.5)/(coalesce(ctx.c1, 0) + 0.5*vv.v)), 6) AS logp " +
        "FROM pairs p LEFT JOIN m ON p.prev = m.prev AND p.word = m.word " +
        "LEFT JOIN ctx ON p.prev = ctx.prev, vv) " +
        "SELECT doc_id, count(*) AS n_bigrams, round(-avg(logp), 4) AS cross_entropy, " +
        "round(exp(round(-avg(logp), 4)), 4) AS ppl FROM sc GROUP BY doc_id")),
    // unbiased pass@k (Codex §2.1) over synthetic per-problem sample
    // outcomes (problem = doc_id mod 50, pass = residue rule — the
    // oracle rebuilds the exact sample sets): the functional-
    // correctness estimator, 1 - prod (n-c-i)/(n-i)
    QueryDef("q_pass_at_k", ((s, d) => {
      val samples = Tables.documents(s, d).select(
        (col("doc_id") % 50).as("problem"),
        ((col("doc_id") * 7) % 3 === 0).as("ok"))
      TextAnalysis.passAtK(samples, "problem", "ok", ks = Seq(1, 5, 10))
    }),
      // pass@k: the product estimator folded ascending-i per k, NULL
      // when k exceeds the problem's sample count
      () => ("WITH s AS (SELECT doc_id % 50 AS problem, " +
        "CASE WHEN (doc_id * 7) % 3 = 0 THEN 1 ELSE 0 END AS ok FROM documents), " +
        "agg AS (SELECT problem, count(*) AS n, sum(ok) AS c FROM s GROUP BY problem) " +
        "SELECT problem, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c, " +
        Seq(1, 5, 10).map { k =>
          s"CASE WHEN n >= $k THEN round(1.0 - list_reduce(" +
          s"list_transform(range(0, $k), i -> (n-c-i)/(1.0*(n-i))), " +
          s"(x, y) -> x*y), 6) END AS pass_$k"
        }.mkString(", ") +
        " FROM agg")),
    // the incremental form: a standing (problem, n, c) dictionary from
    // the first 80 % of samples, the rest MERGEd as a rollout batch —
    // the merged board must equal the full-history run, so the oracle
    // IS the full replay (the q_bt_incr / q_auc_incr contract)
    QueryDef("q_pass_at_k_incr", ((s, d) => {
      val samples = Tables.documents(s, d).select(
        col("doc_id"),
        (col("doc_id") % 50).as("problem"),
        ((col("doc_id") * 7) % 3 === 0).as("ok"))
      val dict = TextAnalysis.passDict(
        samples.where(col("doc_id") % 10 < 8), "problem", "ok")
      TextAnalysis.passAtKFromDict(
        TextAnalysis.passDictMerge(dict,
          samples.where(col("doc_id") % 10 >= 8), "problem", "ok"),
        ks = Seq(1, 5, 10))
    }),
      // merge ≡ rebuild is the contract, so the incremental dictionary's
      // oracle IS the full-sample-history pass@k replay
      () => ("WITH s AS (SELECT doc_id % 50 AS problem, " +
        "CASE WHEN (doc_id * 7) % 3 = 0 THEN 1 ELSE 0 END AS ok FROM documents), " +
        "agg AS (SELECT problem, count(*) AS n, sum(ok) AS c FROM s GROUP BY problem) " +
        "SELECT problem, CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c, " +
        Seq(1, 5, 10).map { k =>
          s"CASE WHEN n >= $k THEN round(1.0 - list_reduce(" +
          s"list_transform(range(0, $k), i -> (n-c-i)/(1.0*(n-i))), " +
          s"(x, y) -> x*y), 6) END AS pass_$k"
        }.mkString(", ") +
        " FROM agg")),
    // best-of-n selection eval: per problem the reward-model argmax
    // over the first n draws (draw order = doc_id; reward = exact
    // two-decimal residue grid so the argmax replays bit-for-bit;
    // ok = the pass@k residue rule) — measures what the RM picks,
    // not whether anything passed
    QueryDef("q_best_of_n", ((s, d) => {
      val samples = Tables.documents(s, d).select(
        (col("doc_id") % 50).as("problem"),
        col("doc_id").as("draw"),
        (((col("doc_id") * 37) % 100).cast("double") / 100.0).as("reward"),
        ((col("doc_id") * 7) % 3 === 0).as("ok"))
      TextAnalysis.bestOfN(samples, "problem", "draw", "reward", "ok",
        ns = Seq(1, 2, 4))
    }),
      // best-of-n: row_number draw order, per-n argmax on (reward DESC,
      // draw ASC) — the struct-max (reward, -rn) order verbatim
      () => ("WITH s AS (SELECT doc_id % 50 AS problem, doc_id AS draw, " +
        "((doc_id * 37) % 100) / CAST(100 AS DOUBLE) AS reward, " +
        "CASE WHEN (doc_id * 7) % 3 = 0 THEN 1 ELSE 0 END AS ok FROM documents), " +
        "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY problem " +
        "ORDER BY draw) AS INT) AS rn FROM s), " +
        "tot AS (SELECT problem, count(*) AS n_samples FROM r GROUP BY problem), " +
        Seq(1, 2, 4).map { n =>
          s"b$n AS (SELECT problem, ok AS best_$n FROM " +
          s"(SELECT problem, ok, row_number() OVER (PARTITION BY problem " +
          s"ORDER BY reward DESC, rn ASC) AS rk FROM r WHERE rn <= $n) " +
          s"WHERE rk = 1)"
        }.mkString(", ") +
        " SELECT tot.problem, tot.n_samples, " +
        Seq(1, 2, 4).map { n =>
          s"CASE WHEN tot.n_samples >= $n THEN b$n.best_$n END AS best_$n"
        }.mkString(", ") +
        " FROM tot " +
        Seq(1, 2, 4).map(n => s"LEFT JOIN b$n USING (problem)")
          .mkString(" "))),
    // self-consistency: plurality answer over sampled decodes per
    // problem vs gold (2/3 of samples emit gold's residue class, the
    // rest a doc-keyed wrong answer — the oracle rebuilds the votes);
    // smallest-answer tie-break keeps both engines deterministic
    QueryDef("q_self_consist", ((s, d) => {
      val problem = col("doc_id") % 40
      val samples = Tables.documents(s, d).select(
        problem.as("problem"),
        when(col("doc_id") % 3 =!= 0, problem % 4)
          .otherwise(col("doc_id") % 5).cast("int").as("answer"),
        (problem % 4).cast("int").as("gold"))
      TextAnalysis.majorityVote(samples, "problem", "answer", "gold")
    }),
      // self-consistency: per-(problem, answer) counts, plurality via
      // row_number (count desc, answer asc — the smallest-answer
      // tie-break verbatim)
      () => ("WITH s AS (SELECT doc_id % 40 AS problem, " +
        "CAST(CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 40) % 4 " +
        "ELSE doc_id % 5 END AS VARCHAR) AS answer, " +
        "CAST((doc_id % 40) % 4 AS VARCHAR) AS gold FROM documents), " +
        "c AS (SELECT problem, answer, count(*) AS cnt FROM s GROUP BY 1, 2), " +
        "top AS (SELECT problem, answer AS vote_answer, cnt AS vote_n FROM " +
        "(SELECT problem, answer, cnt, row_number() OVER " +
        "(PARTITION BY problem ORDER BY cnt DESC, answer ASC) AS rn FROM c) " +
        "WHERE rn = 1), " +
        "tot AS (SELECT problem, count(*) AS n, " +
        "count(DISTINCT answer) AS n_answers, max(gold) AS gold " +
        "FROM s GROUP BY problem) " +
        "SELECT tot.problem, tot.n, CAST(tot.n_answers AS BIGINT) AS n_answers, " +
        "tot.gold, top.vote_answer, top.vote_n, " +
        "CAST(top.vote_answer = tot.gold AS INT) AS correct " +
        "FROM tot JOIN top USING (problem)")),
    // the incremental form of the vote board (same contract as
    // q_pass_at_k_incr): 80 % seeds the (problem, answer) dictionary,
    // the rest merges in; oracle = full replay
    QueryDef("q_self_consist_incr", ((s, d) => {
      val problem = col("doc_id") % 40
      val samples = Tables.documents(s, d).select(
        col("doc_id"),
        problem.as("problem"),
        when(col("doc_id") % 3 =!= 0, problem % 4)
          .otherwise(col("doc_id") % 5).cast("int").as("answer"),
        (problem % 4).cast("int").as("gold"))
      val dict = TextAnalysis.voteDict(
        samples.where(col("doc_id") % 10 < 8), "problem", "answer", "gold")
      TextAnalysis.majorityVoteFromDict(
        TextAnalysis.voteDictMerge(dict,
          samples.where(col("doc_id") % 10 >= 8),
          "problem", "answer", "gold"))
    }),
      // merged vote dictionary ≡ rebuild: oracle = the q_self_consist
      // full replay
      () => ("WITH s AS (SELECT doc_id % 40 AS problem, " +
        "CAST(CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 40) % 4 " +
        "ELSE doc_id % 5 END AS VARCHAR) AS answer, " +
        "CAST((doc_id % 40) % 4 AS VARCHAR) AS gold FROM documents), " +
        "c AS (SELECT problem, answer, count(*) AS cnt FROM s GROUP BY 1, 2), " +
        "top AS (SELECT problem, answer AS vote_answer, cnt AS vote_n FROM " +
        "(SELECT problem, answer, cnt, row_number() OVER " +
        "(PARTITION BY problem ORDER BY cnt DESC, answer ASC) AS rn FROM c) " +
        "WHERE rn = 1), " +
        "tot AS (SELECT problem, count(*) AS n, " +
        "count(DISTINCT answer) AS n_answers, max(gold) AS gold " +
        "FROM s GROUP BY problem) " +
        "SELECT tot.problem, tot.n, CAST(tot.n_answers AS BIGINT) AS n_answers, " +
        "tot.gold, top.vote_answer, top.vote_n, " +
        "CAST(top.vote_answer = tot.gold AS INT) AS correct " +
        "FROM tot JOIN top USING (problem)")),
  )
}
