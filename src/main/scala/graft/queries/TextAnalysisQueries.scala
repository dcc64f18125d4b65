package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._
import graft.model.ModelPins._
import Shared._

/** Text statistics, tokenizers (BPE and unigram learn, apply, encode,
  * sample), quality scoring, language id, surprisal, naive-Bayes and
  * Gopher classifiers and content scanners over `ops.TextAnalysis`.
  */
object TextAnalysisQueries {

  /** The typo-fixture injection q_typo_clusters AND q_typo_apply share:
    * 1-edit "batch" variants (delete/insert/substitute) + a 2-edit
    * transposition appended to every 11th document.
    */
  private def typoInjected(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" batc batchh batxh abtch")))
        .otherwise(col("text")).as("text"))

  /** The learned unigram tokenizer as a STANDING model table (the
    * scrubbedCorpus/bm25-index pattern): train once per documents files,
    * every apply query — encode, doc stats — reads the model back instead
    * of re-running EM. This is the production seam: a tokenizer is
    * trained once per corpus snapshot and applied everywhere.
    */
  private def unigramModel(s: SparkSession, d: String): Seq[(String, Double)] = {
    val docs = Tables.documents(s, d)
    TextAnalysis.unigramModelOf(IndexTables.plain(s,
      IndexTables.ident("unigram_v256", docs))(
      TextAnalysis.unigramLearn(docs, vocabSize = 256, emIters = 2)))
  }

  private val CODE_BLOCK =
    "\nfunction f(x) {\n  // add one\n  var y = x + 1;\n  return y;\n}"

  private val HH_PHI = 0.02

  private val QRANK_KEEP = 0.4

  /** q_dsir_mix keep rates, ASCENDING by bucket — DSIR importance
    * RESAMPLING keeps more of the target-like tail (high log-weight =
    * bucket 5), the mirror image of the perplexity filter's
    * keep-the-head PPL_RATES.
    */
  private val DSIR_RATES = Seq(0.1, 0.25, 0.5, 0.8, 1.0)

  /** Shared SymSpell CTE chain (q_typo_clusters AND q_typo_apply): the
    * injected-typo corpus `base`, per-doc token lists `t2`, vocabulary
    * `v`, delete-neighborhood keys `k`, verified candidate pairs `p`,
    * ranked canonicals `c` (rn = 1 is the winner).
    */
  private val TYPO_CTES =
    "base AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0 " +
      "THEN text || ' batc batchh batxh abtch' ELSE text END AS text " +
      "FROM documents), " +
      s"t2 AS (SELECT doc_id, $TOKS AS toks FROM base), " +
      "vo AS (SELECT unnest(toks) AS word FROM t2), " +
      "v AS (SELECT word, count(*) AS freq FROM vo GROUP BY word), " +
      "k AS (SELECT word, freq, unnest(list_distinct(list_prepend(word, " +
      "list_transform(range(1, len(word)+1), " +
      "i -> substr(word, 1, i-1) || substr(word, i+1, len(word)))))) AS key " +
      "FROM v), " +
      "p AS (SELECT a.word AS word, b.word AS cand, b.freq AS cfreq " +
      "FROM k a JOIN k b USING (key) " +
      "WHERE len(a.word) >= 4 AND a.word <> b.word " +
      "AND levenshtein(a.word, b.word) <= 1 " +
      "AND b.freq > a.freq AND b.freq >= 2 * a.freq), " +
      "c AS (SELECT word, cand, cfreq, row_number() OVER " +
      "(PARTITION BY word ORDER BY cfreq DESC, cand) AS rn FROM p)"

  /** DuckDB mirror of the TextAnalysis.dsirLogRatios + dsirScores chain
    * — ONE definition for q_dsir and q_dsir_mix so the score cannot
    * drift between the standalone scoring and the resample. Ends in
    * `ds(doc_id, n_tokens, dsir_logw)`; target = lang='en', alpha=1.
    */
  private def dsirCtes(dim: Int): String =
    s"t AS (SELECT doc_id, unnest($TOKS) AS tok FROM documents), " +
      "h AS (SELECT doc_id, md5(tok) AS hx FROM t), " +
      "hb AS (SELECT doc_id, " +
      s"CAST(CAST(('0x' || substring(hx, 1, 8)) AS UBIGINT) % $dim AS INT) AS b FROM h), " +
      "cd AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c FROM hb GROUP BY 1, 2), " +
      s"grid AS (SELECT CAST(range AS INT) AS b FROM range($dim)), " +
      "craw AS (SELECT g.b, coalesce(sum(cd.c), 0.0) AS c FROM grid g " +
      "LEFT JOIN cd ON cd.b = g.b GROUP BY g.b), " +
      "ctgt AS (SELECT g.b, coalesce(sum(cd.c), 0.0) AS c FROM grid g " +
      "LEFT JOIN (SELECT cd.* FROM cd JOIN documents USING (doc_id) " +
      "WHERE lang = 'en') cd ON cd.b = g.b GROUP BY g.b), " +
      s"nr AS (SELECT sum(c) + $dim.0 AS n FROM craw), " +
      s"nt AS (SELECT sum(c) + $dim.0 AS n FROM ctgt), " +
      "lr AS (SELECT r.b, ln((tg.c + 1.0) / nt.n) - ln((r.c + 1.0) / nr.n) AS lr " +
      "FROM craw r JOIN ctgt tg ON tg.b = r.b, nr, nt), " +
      "sc AS (SELECT cd.doc_id, sum(cd.c * lr.lr) AS s FROM cd " +
      "JOIN lr ON lr.b = cd.b GROUP BY 1), " +
      s"ds AS (SELECT d.doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens, " +
      // + 0.0: -0.0 normalization (see lshPairCtes note)
      "round(coalesce(sc.s, 0.0), 4) + 0.0 AS dsir_logw " +
      "FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)"

  /** DuckDB replay of the TextAnalysis.nbFit + nbPredict chain — the
    * model RE-FIT in SQL (cls × range(dim) smoothing grid, add-1, doc
    * -count priors) rather than interpolated, the dsirCtes discipline.
    * Argmax on the ROUNDED per-(doc, class) score, ties to the
    * lexicographically first label (rn over s DESC, cand ASC = the
    * engine's first-win over the label-sorted score array). Ends in
    * `pr(doc_id, lang, pred)`.
    */
  private def nbCtes(dim: Int): String =
    s"t AS (SELECT doc_id, unnest($TOKS) AS tok FROM documents), " +
      "h AS (SELECT doc_id, md5(tok) AS hx FROM t), " +
      "hb AS (SELECT doc_id, " +
      s"CAST(CAST(('0x' || substring(hx, 1, 8)) AS UBIGINT) % $dim AS INT) AS b FROM h), " +
      "cd AS (SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS c FROM hb GROUP BY 1, 2), " +
      s"grid AS (SELECT CAST(range AS INT) AS b FROM range($dim)), " +
      "cls AS (SELECT DISTINCT lang FROM documents), " +
      "dc AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1), " +
      "ntot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents), " +
      "cdl AS (SELECT d.lang, cd.b, cd.c FROM cd " +
      "JOIN documents d ON d.doc_id = cd.doc_id), " +
      "cb AS (SELECT l.lang, g.b, coalesce(q.c, 0.0) AS c FROM cls l " +
      "CROSS JOIN grid g LEFT JOIN (SELECT lang, b, sum(c) AS c " +
      "FROM cdl GROUP BY 1, 2) q ON q.lang = l.lang AND q.b = g.b), " +
      s"nl AS (SELECT lang, sum(c) + $dim.0 AS ntok FROM cb GROUP BY 1), " +
      "lp AS (SELECT cb.lang, cb.b, ln((cb.c + 1.0) / nl.ntok) AS lp " +
      "FROM cb JOIN nl USING (lang)), " +
      "pri AS (SELECT dc.lang, ln(dc.n / ntot.n) AS pri FROM dc, ntot), " +
      "sc AS (SELECT d.doc_id, d.lang AS true_lang, l.lang AS cand, " +
      "round(pri.pri + coalesce(sum(cd.c * lp.lp), 0.0), 4) AS s " +
      "FROM documents d CROSS JOIN cls l " +
      "JOIN pri ON pri.lang = l.lang " +
      "LEFT JOIN cd ON cd.doc_id = d.doc_id " +
      "LEFT JOIN lp ON lp.lang = l.lang AND lp.b = cd.b " +
      "GROUP BY d.doc_id, d.lang, l.lang, pri.pri), " +
      "rk AS (SELECT doc_id, true_lang, cand, row_number() OVER " +
      "(PARTITION BY doc_id ORDER BY s DESC, cand ASC) AS rn FROM sc), " +
      "pr AS (SELECT doc_id, true_lang AS lang, cand AS pred FROM rk " +
      "WHERE rn = 1)"

  /** DuckDB mirror of [[graft.ops.TextAnalysis.bpeEncodeLearned]] under
    * [[BPE_MERGES_PINNED]]: each merge is ONE left-to-right
    * non-overlapping fusion pass (the BpeMergeEncode kernel semantics),
    * which is exactly what a chained `replace` does on a
    * delimiter-framed symbol string. Each symbol is wrapped as
    * `\u0001 sym \u0001`, so adjacent syms share a `\u0001\u0001` seam;
    * replacing `\u0001 l \u0001\u0001 r \u0001` with `\u0001 lr \u0001`
    * fuses whole symbols only (syms never contain \u0001 — BPE
    * pre-tokens are text chars; chr(1) absence from the corpus is the
    * pin's precondition) and, because replace() scans the ORIGINAL
    * remainder left-to-right, reproduces the kernel's i+=2 skip exactly.
    */
  private def bpeApplySql: String = {
    val D = "\u0001"
    val init = s"${sqlLit(D)} || array_to_string(" +
      s"regexp_extract_all(word, '(?s).'), ${sqlLit(D + D)}) || ${sqlLit(D)}"
    val enc = BPE_MERGES_PINNED.foldLeft(init) { case (e, (l, r)) =>
      s"replace($e, ${sqlLit(D + l + D + D + r + D)}, ${sqlLit(D + l + r + D)})"
    }
    s"WITH t AS (SELECT unnest(regexp_extract_all(lower(text), " +
      s"'${ops.TextAnalysis.bpePatternSql}')) AS word FROM documents), " +
      "g AS (SELECT word, count(*) AS freq FROM t GROUP BY word), " +
      s"s AS (SELECT word, freq, $enc AS enc FROM g) " +
      s"SELECT word, freq, replace(trim(enc, ${sqlLit(D)}), " +
      s"${sqlLit(D + D)}, ' ') AS pieces, " +
      s"CAST(len(string_split(trim(enc, ${sqlLit(D)}), ${sqlLit(D + D)})) " +
      "AS INT) AS n_pieces FROM s"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.unigramDocStats]] under
    * [[UNIGRAM_PINNED]]: the UnigramViterbi DP replayed per DISTINCT
    * word as a recursive CTE that advances one code-point boundary per
    * step, carrying the full best-score (`fwd`) and best-piece-count
    * (`np`) vectors as lists. At each position the candidate scores over
    * predecessor boundaries j (ascending = longest piece first) are a
    * list_transform against the model shipped as a MAP literal;
    * `list_position(scores, list_max(scores))` picks the FIRST maximum —
    * exactly the kernel's strict-`>` replacement rule, so equal-scored
    * segmentations resolve to the longest piece in both engines. The
    * per-doc stats then join the word stream back to the distinct-word
    * DP results (the corpus text itself never enters the recursion).
    */
  private def unigramStatsSql: String = {
    val maxLen = UNIGRAM_PINNED.map(_._1.length).max
    val plist = UNIGRAM_PINNED.map(p => sqlLit(p._1)).mkString("[", ",", "]")
    val llist = UNIGRAM_PINNED.map(p => java.lang.Double.toString(p._2))
      .mkString("[", ",", "]") + "::DOUBLE[]"
    val unk = java.lang.Double.toString(ops.TextAnalysis.UNIGRAM_UNK_LOGP)
    s"WITH RECURSIVE base AS (SELECT doc_id, regexp_extract_all(lower(text), " +
      s"'${ops.TextAnalysis.bpePatternSql}') AS toks FROM documents), " +
      "words AS (SELECT DISTINCT unnest(toks) AS word FROM base), " +
      "dp(word, n, pos, fwd, np) AS (" +
      "SELECT word, length(word), 0, [0.0]::DOUBLE[], [0] FROM words " +
      "UNION ALL " +
      "SELECT word, n, p, list_append(fwd, scores[bj]), " +
      "list_append(np, np[idxs[bj]+1] + 1) FROM (" +
      "SELECT word, n, p, fwd, np, idxs, scores, " +
      "list_position(scores, list_max(scores)) AS bj FROM (" +
      "SELECT word, n, p, fwd, np, idxs, " +
      s"list_transform(idxs, j -> fwd[j+1] + coalesce(" +
      s"map_extract(map($plist, $llist), substring(word, j+1, p-j))[1], " +
      s"CASE WHEN p - j = 1 THEN $unk END)) AS scores FROM (" +
      "SELECT word, n, pos + 1 AS p, fwd, np, " +
      s"range(greatest(0, pos + 1 - $maxLen), pos + 1) AS idxs " +
      "FROM dp WHERE pos < n)))), " +
      "ws AS (SELECT word, np[n+1] AS wnp FROM dp WHERE pos = n), " +
      "st AS (SELECT doc_id, unnest(toks) AS word FROM base), " +
      "agg AS (SELECT st.doc_id, count(*) AS nw, sum(ws.wnp) AS npc " +
      "FROM st JOIN ws USING (word) GROUP BY st.doc_id) " +
      "SELECT b.doc_id, CAST(coalesce(a.nw, 0) AS INT) AS n_words, " +
      "CAST(coalesce(a.npc, 0) AS INT) AS n_pieces, " +
      "CASE WHEN coalesce(a.nw, 0) > 0 THEN " +
      "round(CAST(a.npc AS DOUBLE) / a.nw, 4) END AS fertility " +
      "FROM base b LEFT JOIN agg a USING (doc_id)"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.unigramEncodeLearned]]
    * under [[UNIGRAM_PINNED]]: the [[unigramStatsSql]] Viterbi DP
    * extended to CARRY the best-path segmentation per boundary (a
    * VARCHAR[][] column appended alongside the score vector — same
    * first-maximum tie-break, so the emitted pieces match the kernel's
    * piece-for-piece), joined to distinct-word frequencies.
    */
  private def unigramEncodeSql: String = {
    val maxLen = UNIGRAM_PINNED.map(_._1.length).max
    val plist = UNIGRAM_PINNED.map(p => sqlLit(p._1)).mkString("[", ",", "]")
    val llist = UNIGRAM_PINNED.map(p => java.lang.Double.toString(p._2))
      .mkString("[", ",", "]") + "::DOUBLE[]"
    val unk = java.lang.Double.toString(ops.TextAnalysis.UNIGRAM_UNK_LOGP)
    s"WITH RECURSIVE base AS (SELECT doc_id, regexp_extract_all(lower(text), " +
      s"'${ops.TextAnalysis.bpePatternSql}') AS toks FROM documents), " +
      "g AS (SELECT unnest(toks) AS word FROM base), " +
      "wf AS (SELECT word, count(*) AS freq FROM g GROUP BY word), " +
      "dp(word, n, pos, fwd, segs) AS (" +
      "SELECT word, length(word), 0, [0.0]::DOUBLE[], [[]::VARCHAR[]] " +
      "FROM (SELECT DISTINCT word FROM wf) " +
      "UNION ALL " +
      "SELECT word, n, p, list_append(fwd, scores[bj]), " +
      "list_append(segs, list_append(segs[idxs[bj]+1], " +
      "substring(word, idxs[bj]+1, p-idxs[bj]))) FROM (" +
      "SELECT word, n, p, fwd, segs, idxs, scores, " +
      "list_position(scores, list_max(scores)) AS bj FROM (" +
      "SELECT word, n, p, fwd, segs, idxs, " +
      s"list_transform(idxs, j -> fwd[j+1] + coalesce(" +
      s"map_extract(map($plist, $llist), substring(word, j+1, p-j))[1], " +
      s"CASE WHEN p - j = 1 THEN $unk END)) AS scores FROM (" +
      "SELECT word, n, pos + 1 AS p, fwd, segs, " +
      s"range(greatest(0, pos + 1 - $maxLen), pos + 1) AS idxs " +
      "FROM dp WHERE pos < n)))) " +
      "SELECT wf.word, wf.freq, array_to_string(dp.segs[dp.n+1], ' ') AS pieces, " +
      "CAST(len(dp.segs[dp.n+1]) AS INT) AS n_pieces " +
      "FROM wf JOIN dp ON dp.word = wf.word AND dp.pos = dp.n"
  }

  /** Shared CTE text for the quantized unigram FORWARD filter under
    * [[UNIGRAM_PINNED]] (q_unigram_sample / q_unigram_soft): the
    * [[unigramStatsSql]] DP with the Viterbi max swapped for a
    * logsumexp list_reduce in the kernel's ascending-j fold order,
    * each cell round(·,6) — exactly UnigramSample/quantized
    * UnigramExpectedCounts' forward arithmetic, so every fwd entry is
    * the same double in both engines. Emits `words` (distinct corpus
    * words) and `dp(word, n, pos, fwd)`.
    */
  private def unigramFwdCtes: String = {
    val maxLen = UNIGRAM_PINNED.map(_._1.length).max
    val plist = UNIGRAM_PINNED.map(p => sqlLit(p._1)).mkString("[", ",", "]")
    val llist = UNIGRAM_PINNED.map(p => java.lang.Double.toString(p._2))
      .mkString("[", ",", "]") + "::DOUBLE[]"
    val unk = java.lang.Double.toString(ops.TextAnalysis.UNIGRAM_UNK_LOGP)
    s"base AS (SELECT doc_id, regexp_extract_all(lower(text), " +
      s"'${ops.TextAnalysis.bpePatternSql}') AS toks FROM documents), " +
      "g AS (SELECT unnest(toks) AS word FROM base), " +
      "wf AS (SELECT word, count(*) AS freq FROM g GROUP BY word), " +
      "words AS (SELECT DISTINCT word FROM wf), " +
      "dp(word, n, pos, fwd) AS (" +
      "SELECT word, length(word), 0, [0.0]::DOUBLE[] FROM words " +
      "UNION ALL " +
      "SELECT word, n, p, list_append(fwd, round(list_reduce(terms, " +
      "(a, b) -> CASE WHEN a >= b THEN a + ln(1 + exp(b - a)) " +
      "ELSE b + ln(1 + exp(a - b)) END), 6)) FROM (" +
      "SELECT word, n, p, fwd, list_filter(list_transform(idxs, " +
      s"j -> fwd[j+1] + 1.0*coalesce(map_extract(map($plist, $llist), " +
      s"substring(word, j+1, p-j))[1], " +
      s"CASE WHEN p - j = 1 THEN $unk END)), x -> x IS NOT NULL) AS terms " +
      "FROM (SELECT word, n, pos + 1 AS p, fwd, " +
      s"range(greatest(0, pos + 1 - $maxLen), pos + 1) AS idxs " +
      "FROM dp WHERE pos < n)))"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.unigramSampleEncode]]
    * (seed 17, alpha 1) under [[UNIGRAM_PINNED]]: the
    * [[unigramFwdCtes]] forward filter, then the backward WALK as a
    * second recursive CTE — at each boundary the valid arcs' integer
    * micro-masses round(exp(fwd_j + s − fwd_pos)·10⁶) prefix-sum
    * ascending-j (exact integers in doubles) against the md5-lane
    * uniform u·10⁶ rebuilt from the kernel's own key; first prefix
    * past u wins, last feasible arc on quantization slack. Pieces
    * accumulate by list_prepend so the walk emits them in order.
    *
    * Doctrine caveat (round-12 advice): the Scala side quantizes with
    * math.rint (HALF_EVEN) and scores with log1p, while DuckDB's
    * round() is half-away-from-zero and its ln(1+exp()) pre-rounds
    * 1+x — the q6/micro-mass grids absorb the ulp gap everywhere it
    * can arise (all rows green), but a value landing EXACTLY on a
    * half-grid point would split the two engines. Keep grid steps at
    * 1e6 and scores off exact halves when extending this family.
    */
  private def unigramSampleSql: String = {
    val maxLen = UNIGRAM_PINNED.map(_._1.length).max
    val plist = UNIGRAM_PINNED.map(p => sqlLit(p._1)).mkString("[", ",", "]")
    val llist = UNIGRAM_PINNED.map(p => java.lang.Double.toString(p._2))
      .mkString("[", ",", "]") + "::DOUBLE[]"
    val unk = java.lang.Double.toString(ops.TextAnalysis.UNIGRAM_UNK_LOGP)
    s"WITH RECURSIVE $unigramFwdCtes, " +
      "bs(word, n, fwd, pos, pieces) AS (" +
      "SELECT word, n, fwd, n, []::VARCHAR[] FROM dp WHERE pos = n " +
      "UNION ALL " +
      "SELECT word, n, fwd, arcs[ks].j, " +
      "list_prepend(substring(word, arcs[ks].j + 1, pos - arcs[ks].j), pieces) " +
      "FROM (" +
      "SELECT word, n, fwd, pos, pieces, arcs, " +
      "CASE WHEN len(list_filter(cums, c -> u6 >= c)) + 1 <= len(arcs) " +
      "THEN len(list_filter(cums, c -> u6 >= c)) + 1 ELSE len(arcs) END AS ks " +
      "FROM (" +
      "SELECT word, n, fwd, pos, pieces, arcs, " +
      "list_transform(range(1, len(arcs) + 1), k -> " +
      "list_aggregate(ms[1:k], 'sum')) AS cums, " +
      "((('0x' || substring(md5(word || chr(1) || '17' || chr(1) || " +
      "CAST(pos AS VARCHAR)), 1, 8))::UBIGINT + 0.5) / 4294967296.0) " +
      "* 1000000.0 AS u6 " +
      "FROM (" +
      "SELECT word, n, fwd, pos, pieces, arcs, " +
      "list_transform(arcs, a -> " +
      "round(exp(fwd[a.j + 1] + 1.0*a.s - fwd[pos + 1]) * 1000000.0)) AS ms " +
      "FROM (" +
      "SELECT word, n, fwd, pos, pieces, " +
      s"list_filter(list_transform(range(greatest(0, pos - $maxLen), pos), " +
      s"j -> {'j': j, 's': coalesce(map_extract(map($plist, $llist), " +
      s"substring(word, j + 1, pos - j))[1], " +
      s"CASE WHEN pos - j = 1 THEN $unk END)}), " +
      "a -> a.s IS NOT NULL) AS arcs " +
      "FROM bs WHERE pos > 0))))) " +
      "SELECT wf.word, wf.freq, array_to_string(b.pieces, ' ') AS pieces, " +
      "CAST(len(b.pieces) AS INT) AS n_pieces " +
      "FROM wf JOIN bs b ON b.word = wf.word AND b.pos = 0"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.unigramSoftEncode]]
    * under [[UNIGRAM_PINNED]]: [[unigramFwdCtes]] (α), a BACKWARD
    * recursive CTE building β by list_prepend (same q6-per-cell
    * logsumexp, the kernel's ascending-i fold with the s + β term
    * order), then every valid arc's posterior as an integer NANOMASS
    * round(exp(α_j + s + β_i − Z)·10⁹) summed per (word, piece) —
    * exact integers, aggregation-order-free — and ec = Σ/10⁹
    * unrounded (one shared exact division, the kernel's output form).
    */
  private def unigramSoftSql: String = {
    val maxLen = UNIGRAM_PINNED.map(_._1.length).max
    val plist = UNIGRAM_PINNED.map(p => sqlLit(p._1)).mkString("[", ",", "]")
    val llist = UNIGRAM_PINNED.map(p => java.lang.Double.toString(p._2))
      .mkString("[", ",", "]") + "::DOUBLE[]"
    val unk = java.lang.Double.toString(ops.TextAnalysis.UNIGRAM_UNK_LOGP)
    val mdl = s"map($plist, $llist)"
    s"WITH RECURSIVE $unigramFwdCtes, " +
      "bt(word, n, p, bt) AS (" +
      "SELECT word, length(word), length(word), [0.0]::DOUBLE[] FROM words " +
      "UNION ALL " +
      "SELECT word, n, p - 1, " +
      "list_prepend(round(list_reduce(terms, " +
      "(a, b) -> CASE WHEN a >= b THEN a + ln(1 + exp(b - a)) " +
      "ELSE b + ln(1 + exp(a - b)) END), 6), bt) FROM (" +
      "SELECT word, n, p, bt, list_filter(list_transform(is_, " +
      s"i -> coalesce(map_extract($mdl, substring(word, p, i - p + 1))[1], " +
      s"CASE WHEN i - p + 1 = 1 THEN $unk END) + bt[i - p + 1]), " +
      "x -> x IS NOT NULL) AS terms " +
      "FROM (SELECT word, n, p, bt, " +
      s"range(p, least(n, p - 1 + $maxLen) + 1) AS is_ " +
      "FROM bt WHERE p > 0)))," +
      "af AS (SELECT word, n, fwd FROM dp WHERE pos = n), " +
      "bf AS (SELECT word, bt FROM bt WHERE p = 0), " +
      "arcs AS (SELECT word, n, fwd, bt, unnest(range(0, n)) AS j " +
      "FROM af JOIN bf USING (word)), " +
      s"arc2 AS (SELECT word, n, fwd, bt, j, " +
      s"unnest(range(j + 1, least(n, j + $maxLen) + 1)) AS i FROM arcs), " +
      "contrib AS (SELECT word, substring(word, j + 1, i - j) AS piece, " +
      "round(exp(fwd[j+1] + s + bt[i+1] - fwd[n+1]) * 1000000000.0) AS m " +
      s"FROM (SELECT *, coalesce(map_extract($mdl, " +
      s"substring(word, j + 1, i - j))[1], " +
      s"CASE WHEN i - j = 1 THEN $unk END) AS s FROM arc2) " +
      "WHERE s IS NOT NULL), " +
      "ec AS (SELECT word, piece, sum(m) / 1000000000.0 AS ec " +
      "FROM contrib GROUP BY word, piece) " +
      "SELECT wf.word, wf.freq, ec.piece, ec.ec FROM wf JOIN ec USING (word)"
  }

  /** The [[unigramStatsSql]] replay aggregated per language — exact
    * integer totals, fertility as one rounded ratio of sums (a corpus
    * fertility, not an average of per-doc ratios).
    */
  private def fertilityLangSql: String = {
    val i = unigramStatsSql.lastIndexOf("SELECT b.doc_id")
    require(i > 0, "fertilityLangSql: unigramStatsSql final-select anchor moved")
    // the prefix ends after the last CTE's closing paren — re-open the
    // CTE list with a comma before appending `per`
    unigramStatsSql.substring(0, i).stripSuffix(" ") + ", " +
      "per AS (SELECT b.doc_id, coalesce(a.nw, 0) AS nw, " +
      "coalesce(a.npc, 0) AS npc FROM base b LEFT JOIN agg a USING (doc_id)) " +
      "SELECT d.lang, count(*) AS n_docs, " +
      "CAST(sum(per.nw) AS BIGINT) AS n_words, " +
      "CAST(sum(per.npc) AS BIGINT) AS n_pieces, " +
      "CASE WHEN sum(per.nw) > 0 THEN " +
      "round(CAST(sum(per.npc) AS DOUBLE) / sum(per.nw), 4) END AS fertility " +
      "FROM per JOIN documents d USING (doc_id) GROUP BY d.lang"
  }

  /** DuckDB mirror of [[graft.ops.TextAnalysis.qualityFitScore]]: the
    * feature frame (the q_quality expressions, unrounded), a q6-rounded
    * standardization CTE, then one (gradient / weights) CTE pair per GD
    * iteration — the btRatingsSql unrolled-iteration convention — and
    * the final σ(wᵀx) scoring select.
    */
  private def qualityFitSql(iterations: Int, lr: Double,
      minChars: Int): String = {
    val lrs = java.lang.Double.toString(lr)
    val head =
      s"WITH f0_ AS (SELECT doc_id, CAST(n_chars >= $minChars AS INT) AS y, " +
        s"ln(1 + CAST(len($TOKS) AS DOUBLE)) AS f0, " +
        s"CAST(coalesce(list_aggregate(list_transform($TOKS, x -> length(x)), 'sum'), 0) AS DOUBLE) " +
        s"/ greatest(len($TOKS), 1) AS f1, " +
        s"CAST(len(list_filter($TOKS, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) AS DOUBLE) " +
        s"/ greatest(len($TOKS), 1) AS f2, " +
        "CAST(length(text) - length(regexp_replace(lower(text), " +
        "'[^\\p{L}\\p{Nd}]', '', 'g')) AS DOUBLE) " +
        "/ greatest(length(text), 1) AS f3 FROM documents), " +
        "st AS (SELECT " + (0 to 3).map(i =>
          s"round(avg(f$i),6) AS m$i, greatest(round(stddev_samp(f$i),6), 1e-6) AS s$i")
          .mkString(", ") + " FROM f0_), " +
        "f AS (SELECT doc_id, y, " + (0 to 3).map(i =>
          s"(f$i-m$i)/s$i AS f$i").mkString(", ") + " FROM f0_, st), " +
        "w0 AS (SELECT " + (0 to 4).map(i =>
          s"CAST(0 AS DOUBLE) AS w$i").mkString(", ") + ")"
    def z = "(w.w0 + w.w1*f.f0 + w.w2*f.f1 + w.w3*f.f2 + w.w4*f.f3)"
    def r = s"(f.y - 1.0/(1.0 + exp(-$z)))"
    val body = (1 to iterations).map { k =>
      s", g$k AS (SELECT sum($r) AS g0, " + (0 to 3).map(i =>
        s"sum($r*f.f$i) AS g${i + 1}").mkString(", ") +
        s", count(*) AS n FROM f, w${k - 1} w), " +
        s"w$k AS (SELECT " + (0 to 4).map(i =>
          s"round(w.w$i + $lrs*g.g$i/g.n, 6) AS w$i").mkString(", ") +
        s" FROM w${k - 1} w, g$k g)"
    }.mkString
    head + body +
      " SELECT f.doc_id, f.y AS label, " +
      s"round(1.0/(1.0 + exp(-$z)), 4) AS p, " +
      s"CAST(1.0/(1.0 + exp(-$z)) >= 0.5 AS INT) AS keep " +
      s"FROM f, w$iterations w"
  }

  /** DuckDB side of q_bpe_learn under [[graft.model.OutputPins]]: the 20
    * merge DECISIONS (rank, pair, pair count at merge time) are the pin;
    * `merged` recomputes as the concatenation. The live query still runs
    * the full iterative trainer, so any drift in the argmax sequence or
    * the counted frequencies flips the row red (the q_ter_shift
    * decisions-pinned doctrine; the APPLY half has been oracled off
    * BPE_MERGES_PINNED since round 12).
    */
  private def bpeLearnSql: String = {
    val vals = graft.model.OutputPins.bpeLearn.map { t =>
      val Array(r, l, rt, c) = t.split("\\|", -1)
      s"($r, ${sqlLit(l)}, ${sqlLit(rt)}, $c)"
    }.mkString(", ")
    "SELECT CAST(rank AS INT) AS rank, \"left\", \"right\", " +
      "\"left\" || \"right\" AS merged, CAST(cnt AS BIGINT) AS cnt " +
      s"""FROM (VALUES $vals) AS t(rank, "left", "right", cnt)"""
  }

  /** DuckDB side of q_unigram_learn: the EM-trained vocabulary rows
    * (rank, piece, count, q6 logp) pinned via Double.toString and
    * replayed as e0 literals — trainer drift flips the row red; the
    * soft-encode/sampling APPLY paths have been oracled off
    * UNIGRAM_PINNED since round 12.
    */
  private def unigramLearnSql: String = {
    val vals = graft.model.OutputPins.unigramLearn.map { t =>
      val Array(r, p, c, lp) = t.split("\\|", -1)
      s"($r, ${sqlLit(p)}, $c, ${lp}e0)"
    }.mkString(", ")
    "SELECT CAST(rank AS INT) AS rank, piece, CAST(cnt AS BIGINT) AS cnt, " +
      s"CAST(logp AS DOUBLE) AS logp FROM (VALUES $vals) " +
      "AS t(rank, piece, cnt, logp)"
  }

  /** DuckDB side of q_compression: DEFLATE is not available in DuckDB
    * SQL, so the 500 per-doc ratios are the pin (Double.toString → e0
    * literals); kernel drift flips the row red. Accuracy against
    * known-compressibility fixtures stays in TextAnalysisSpec.
    */
  private def compressionSql: String = {
    val vals = graft.model.OutputPins.compression.map { t =>
      val Array(d, r) = t.split("\\|", -1)
      s"($d, ${r}e0)"
    }.mkString(", ")
    s"SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
      "CAST(deflate_ratio AS DOUBLE) AS deflate_ratio " +
      s"FROM (VALUES $vals) AS t(doc_id, deflate_ratio)"
  }

  /** Shared CTE chain scoring language profiles and predicting a language
    * per document — q_lang_id reads the prediction, q_lang_confusion
    * aggregates it against the label.
    */
  private val LANGID_CTES =
    (s"t AS (SELECT doc_id, lang, $LANG_PAD AS pad FROM documents), " +
      s"s AS (SELECT doc_id, lang, $LANG_SCORE_COLS FROM t), " +
      s"pred AS (SELECT doc_id, lang, $LANG_PRED_CASE AS pred_lang FROM s)")

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_fingerprint", ((s, d) => TextAnalysis.fingerprints(Tables.documents(s, d))),
      () => s"SELECT doc_id, ${fpSql(TOKS)} AS fp FROM documents"),
    // corpus bits-per-token / bits-per-byte under its own unigram LM —
    // the compression-difficulty dashboard tracked per curation stage
    QueryDef("q_bpb", ((s, d) => TextAnalysis.bitsPerByte(Tables.documents(s, d))),
      // the q_surprisal per-doc rows (rounded avgs — part of the contract)
      // re-aggregated to one corpus row with octet_length denominators
      () => (s"WITH terms AS (SELECT doc_id, unnest($TOKS) AS word FROM documents), " +
        "tf AS (SELECT word, count(*) AS cnt FROM terms GROUP BY word), " +
        "n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM tf), " +
        "ss AS (SELECT doc_id, count(*) AS n_tokens, " +
        "round(avg(-ln(cnt / n_total)), 4) AS avg_surprisal " +
        "FROM terms JOIN tf USING (word), n GROUP BY doc_id), " +
        "b AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS bytes FROM documents) " +
        "SELECT count(*) AS n_docs, CAST(sum(ss.n_tokens) AS BIGINT) AS total_tokens, " +
        "CAST(sum(b.bytes) AS BIGINT) AS total_bytes, " +
        "round(sum(ss.n_tokens * ss.avg_surprisal) / sum(ss.n_tokens) / ln(2), 4) AS bits_per_token, " +
        "round(sum(ss.n_tokens * ss.avg_surprisal) / sum(b.bytes) / ln(2), 4) AS bits_per_byte " +
        "FROM ss JOIN b USING (doc_id)")),
    // ---- text analysis ----
    QueryDef("q_token_stats", ((s, d) => TextAnalysis.tokenStats(Tables.documents(s, d))),
      () => (s"WITH t AS (SELECT lang, len($TOKS) AS n_tokens FROM documents) " +
        "SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
        "round(avg(n_tokens), 4) AS avg_tokens FROM t GROUP BY lang")),
    // power-of-two length histogram: the seqLen / truncation decision input
    QueryDef("q_token_hist", ((s, d) =>
      TextAnalysis.tokenLengthHistogram(Tables.documents(s, d))),
      // exact integer floor-log2 via binary-string length in BOTH engines
      () => (s"WITH t AS (SELECT coalesce(len($TOKS), 0) AS n FROM documents), " +
        "b AS (SELECT CASE WHEN n = 0 THEN -1 " +
        "ELSE CAST(length(bin(n)) - 1 AS INT) END AS bucket, n FROM t) " +
        "SELECT bucket, count(*) AS n_docs, " +
        "CAST(sum(n) AS BIGINT) AS total_tokens FROM b GROUP BY bucket")),
    QueryDef("q_bpe_stats", ((s, d) => TextAnalysis.bpeTokenStats(Tables.documents(s, d))),
      () => (s"WITH t AS (SELECT lang, len(regexp_extract_all(lower(text), " +
        s"'${ops.TextAnalysis.bpePatternSql}')) AS n FROM documents) " +
        "SELECT lang, CAST(sum(n) AS BIGINT) AS total_bpe, " +
        "round(avg(n), 4) AS avg_bpe FROM t GROUP BY lang")),
    // per-source tokenizer fit: pieces, char-fallback pieces, OOV words
    QueryDef("q_vocab_coverage", ((s, d) =>
      TextAnalysis.vocabCoverage(Tables.documents(s, d))),
      // the q_bpe_encode recursion aggregated per word, joined back to the
      // per-source word stream: counts only (rates are the consumer's)
      () => (s"WITH RECURSIVE w0 AS (SELECT source, unnest($TOKS) AS word FROM documents), " +
        "words AS (SELECT DISTINCT word FROM w0), " +
        "seg(word, pos, idx, piece) AS (" +
        "SELECT word, 1, -1, CAST(NULL AS VARCHAR) FROM words " +
        "UNION ALL SELECT word, pos + L, idx + 1, substring(word, pos, L) " +
        "FROM (SELECT word, pos, idx, coalesce(list_max(list_transform(" +
        s"${ops.TextAnalysis.bpeVocabSql}, " +
        "v -> CASE WHEN substring(word, pos, length(v)) = v THEN length(v) END)), 1) AS L " +
        "FROM seg WHERE pos <= length(word))), " +
        "d AS (SELECT word, count(*) AS n_p, " +
        s"sum(CASE WHEN coalesce(list_position(${ops.TextAnalysis.bpeVocabSql}, piece), 0) = 0 " +
        "THEN 1 ELSE 0 END) AS n_f " +
        "FROM seg WHERE idx >= 0 GROUP BY word) " +
        "SELECT source, count(*) AS n_words, CAST(sum(n_p) AS BIGINT) AS n_pieces, " +
        "CAST(sum(n_f) AS BIGINT) AS n_fallback_pieces, " +
        "CAST(sum(CASE WHEN n_f > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_words " +
        "FROM w0 JOIN d USING (word) GROUP BY source")),
    // SymSpell-style vocab typo normalization: each word with its most
    // frequent verified edit-distance-1 neighbor (self when none
    // decisively stronger). The clean synthetic vocabulary has no 1-edit
    // pairs, so typo'd "batch" variants are injected IN the query (the
    // q_pii_scrub convention): deletion/insertion/substitution must
    // remap, the transposition (2 edits) must stay its own canonical
    QueryDef("q_typo_clusters", ((s, d) =>
      TextAnalysis.typoClusters(typoInjected(Tables.documents(s, d)))),
      // SymSpell replay: {word} ∪ single-deletion keys, join, levenshtein
      // verify, strict-majority canonical by (freq desc, word asc)
      () => (s"WITH $TYPO_CTES " +
        "SELECT v.word, v.freq, coalesce(c.cand, v.word) AS canonical, " +
        "coalesce(c.cfreq, v.freq) AS canon_freq " +
        "FROM v LEFT JOIN c ON v.word = c.word AND c.rn = 1")),
    // the apply side: rewrite the injected corpus with its own learned
    // mapping — every typo token lands on "batch", order preserved,
    // untouched docs pass through with n_changed 0
    QueryDef("q_typo_apply", ((s, d) => {
      val injected = typoInjected(Tables.documents(s, d))
      TextAnalysis.typoNormalize(injected,
        TextAnalysis.typoClusters(injected))
    }),
      // the learned mapping applied back: ordered string_agg reassembly,
      // untokenizable docs pass through via the left join
      () => (s"WITH $TYPO_CTES, " +
        "st AS (SELECT doc_id, unnest(toks) AS word, " +
        "unnest(range(len(toks))) AS pos FROM t2), " +
        "corr AS (SELECT word, cand FROM c WHERE rn = 1), " +
        "j AS (SELECT doc_id, pos, coalesce(cand, st.word) AS w, " +
        "CASE WHEN cand IS NOT NULL THEN 1 ELSE 0 END AS ch " +
        "FROM st LEFT JOIN corr ON st.word = corr.word), " +
        "a AS (SELECT doc_id, string_agg(w, ' ' ORDER BY pos) AS text, " +
        "count(*) AS n_tokens, CAST(sum(ch) AS BIGINT) AS n_changed " +
        "FROM j GROUP BY doc_id) " +
        "SELECT b.doc_id, coalesce(a.text, b.text) AS text, " +
        "coalesce(a.n_tokens, 0) AS n_tokens, " +
        "coalesce(a.n_changed, 0) AS n_changed " +
        "FROM base b LEFT JOIN a USING (doc_id)")),
    QueryDef("q_bpe_exact", ((s, d) => TextAnalysis.bpeExactStats(Tables.documents(s, d))),
      // greedy longest-match segmentation over the distinct word vocabulary
      // (the Spark side's fold over character positions = this recursion)
      () => (s"WITH RECURSIVE t AS (SELECT lang, unnest($TOKS) AS word FROM documents), " +
        "g AS (SELECT lang, word, count(*) AS cnt FROM t GROUP BY lang, word), " +
        "words AS (SELECT DISTINCT word FROM g), " +
        "seg(word, pos, cnt) AS (SELECT word, 1, 0 FROM words " +
        "UNION ALL SELECT word, pos + coalesce(list_max(list_transform(" +
        s"${ops.TextAnalysis.bpeVocabSql}, " +
        "v -> CASE WHEN substring(word, pos, length(v)) = v THEN length(v) END)), 1), " +
        "cnt + 1 FROM seg WHERE pos <= length(word)), " +
        "sc AS (SELECT word, max(cnt) AS seg FROM seg GROUP BY word), " +
        "exact AS (SELECT lang, CAST(sum(g.cnt * sc.seg) AS BIGINT) AS total_exact " +
        "FROM g JOIN sc USING (word) GROUP BY lang), " +
        "proxy AS (SELECT lang, CAST(sum(len(regexp_extract_all(lower(text), " +
        s"'${ops.TextAnalysis.bpePatternSql}'))) AS BIGINT) AS total_proxy " +
        "FROM documents GROUP BY lang) " +
        "SELECT lang, total_exact, total_proxy, " +
        "round(CAST(total_exact AS DOUBLE) / total_proxy, 4) AS drift " +
        "FROM exact JOIN proxy USING (lang)")),
    // tokenizer APPLY: greedy longest-match segmentation pieces + vocab
    // ids for every distinct word (the id-sequence feed for packing)
    QueryDef("q_bpe_encode", ((s, d) => TextAnalysis.bpeEncode(Tables.documents(s, d))),
      // greedy longest-match segmentation as a recursion tracking the piece
      // (the q_bpe_exact recursion, carrying substring(word, pos, L));
      // seed row idx=-1 is the pre-first-piece state and is filtered out
      () => (s"WITH RECURSIVE words AS (SELECT DISTINCT unnest($TOKS) AS word FROM documents), " +
        "seg(word, pos, idx, piece) AS (" +
        "SELECT word, 1, -1, CAST(NULL AS VARCHAR) FROM words " +
        "UNION ALL SELECT word, pos + L, idx + 1, substring(word, pos, L) " +
        "FROM (SELECT word, pos, idx, coalesce(list_max(list_transform(" +
        s"${ops.TextAnalysis.bpeVocabSql}, " +
        "v -> CASE WHEN substring(word, pos, length(v)) = v THEN length(v) END)), 1) AS L " +
        "FROM seg WHERE pos <= length(word))) " +
        "SELECT word, CAST(idx AS INT) AS seg_idx, piece, " +
        s"CAST(coalesce(list_position(${ops.TextAnalysis.bpeVocabSql}, piece), 0) AS INT) AS piece_id " +
        "FROM seg WHERE idx >= 0")),
    // tokenizer TRAINING: learn 20 BPE merge rules from the corpus itself
    // (freq-weighted pair argmax per iteration on the distinct-word
    // dictionary). Iterative global argmax — not SQL-expressible live;
    // oracled since round 15 via the OutputPins merge-decision pin
    // (trainer drift flips red); parity also locked by PropertySpec
    // against an independent sequential reference implementation
    QueryDef("q_bpe_learn", ((s, d) =>
      TextAnalysis.bpeLearn(Tables.documents(s, d), nMerges = 20)),
      // training/sketch OUTPUT pins (OutputPins.scala, round 15): the live
      // queries keep training/sketching/deflating — drift flips red
      () => bpeLearnSql),
    // encode the corpus vocabulary under those LEARNED merges (train →
    // apply round trip; pieces space-joined — the driver compare hashes
    // scalar cells only)
    QueryDef("q_bpe_apply", ((s, d) => {
      val m = TextAnalysis.bpeLearn(Tables.documents(s, d), nMerges = 20)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncodeLearned(Tables.documents(s, d), m)
        .select(col("word"), col("freq"),
          concat_ws(" ", col("pieces")).as("pieces"), col("n_pieces"))
    }),
      // learned-merge application replayed off the PINNED sf0.01 merge
      // list (training stays exempt; see BPE_MERGES_PINNED)
      () => bpeApplySql),
    // the OTHER learned tokenizer family: unigram-LM (SentencePiece)
    // training via Viterbi-EM on the distinct-word dictionary. Iterative
    // global re-estimation — not SQL-expressible live; oracled since
    // round 15 via the OutputPins vocabulary pin (trainer drift flips
    // red); parity also locked by PropertySpec against an independent
    // sequential Viterbi reference
    QueryDef("q_unigram_learn", ((s, d) =>
      TextAnalysis.unigramLearn(Tables.documents(s, d), vocabSize = 256,
        emIters = 2)),
      () => unigramLearnSql),
    // SOFT encode under the standing model — the E-step posterior
    // application (expected piece usage over ALL segmentations, the
    // soft-label twin of q_unigram_encode's Viterbi one-best).
    // ROUND-12 RECAST: this row previously ran the full-EM TRAINING
    // loop (unigramLearnSoft — which remains in the library, exercised
    // by PropertySpec's sequential full-EM parity; training stays
    // represented by the exempt q_unigram_learn row); the APPLY half
    // is mechanical DP arithmetic under a fixed model, so it is
    // oracled off UNIGRAM_PINNED via the recursive-CTE
    // forward/backward replay (the BPE_MERGES_PINNED doctrine — the
    // live query still reads the trained standing model, so trainer
    // drift flips the row red)
    QueryDef("q_unigram_soft", ((s, d) =>
      TextAnalysis.unigramSoftEncode(Tables.documents(s, d),
        unigramModel(s, d))),
      // the E-step soft encode replayed off the pinned model: forward +
      // backward q6 DPs, integer-nanomass arc posteriors grouped per
      // (word, piece)
      () => unigramSoftSql),
    // train → apply round trip under the learned unigram model (pieces
    // space-joined — the driver compare hashes scalar cells only). The
    // model comes from the STANDING trained artifact: train once per
    // corpus snapshot, apply everywhere
    QueryDef("q_unigram_encode", ((s, d) => {
      val m = unigramModel(s, d)
      TextAnalysis.unigramEncodeLearned(Tables.documents(s, d), m)
        .select(col("word"), col("freq"),
          concat_ws(" ", col("pieces")).as("pieces"), col("n_pieces"))
    }),
      // train → apply round trip: the apply half replayed off the pinned
      // model with the path-carrying Viterbi DP
      () => unigramEncodeSql),
    // subword regularization: ONE seeded draw from P(seg)^alpha per
    // distinct word under the standing model — the per-epoch tokenizer
    // noise (seed = epoch). Deterministic per (word, seed) on md5-lane
    // uniforms with a quantized DP (round 12), so the draw is oracled
    // off UNIGRAM_PINNED: the DuckDB replay rebuilds the forward
    // filter (q6 logsumexp cells) and the backward walk (integer
    // micro-mass prefix sums against the same md5 uniform) exactly
    QueryDef("q_unigram_sample", ((s, d) =>
      TextAnalysis.unigramSampleEncode(Tables.documents(s, d),
          unigramModel(s, d), seed = 17L)
        .select(col("word"), col("freq"),
          concat_ws(" ", col("pieces")).as("pieces"), col("n_pieces"))),
      // the seeded subword-regularization draw replayed off the pinned
      // model: q6 logsumexp forward filter + md5-lane integer-mass
      // backward walk (the kernel's exact arithmetic)
      () => unigramSampleSql),
    // per-document token budget + fertility under the learned unigram
    // model — stateless scan-stage (streams as-is); oracled off
    // UNIGRAM_PINNED like the rest of the apply family
    QueryDef("q_unigram_stats", ((s, d) =>
      TextAnalysis.unigramDocStats(Tables.documents(s, d), unigramModel(s, d))),
      // Viterbi segmentation stats replayed off the PINNED sf0.01 unigram
      // model (see UNIGRAM_PINNED)
      () => unigramStatsSql),
    // tokenizer-efficiency by language: corpus fertility (ratio of
    // sums) per lang under the standing unigram model — the vocab
    // ablation table
    QueryDef("q_fertility_lang", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.unigramDocStats(docs, unigramModel(s, d))
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").cast("long").as("n_words"),
          sum("n_pieces").cast("long").as("n_pieces"))
        .withColumn("fertility", when(col("n_words") > 0,
          round(col("n_pieces").cast("double") / col("n_words"), 4)))
    }),
      () => fertilityLangSql),
    // the corpus-wide id stream: every token instance joined to the
    // distinct-word dictionary, in (doc, token, piece) order
    QueryDef("q_token_ids", ((s, d) => TextAnalysis.tokenIds(Tables.documents(s, d))),
      // the q_bpe_encode recursion joined back to the token stream
      () => (s"WITH RECURSIVE t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "stream AS (SELECT doc_id, CAST(i AS INT) AS ti, toks[i+1] AS word " +
        "FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t)), " +
        "words AS (SELECT DISTINCT word FROM stream), " +
        "seg(word, pos, idx, piece) AS (" +
        "SELECT word, 1, -1, CAST(NULL AS VARCHAR) FROM words " +
        "UNION ALL SELECT word, pos + L, idx + 1, substring(word, pos, L) " +
        "FROM (SELECT word, pos, idx, coalesce(list_max(list_transform(" +
        s"${ops.TextAnalysis.bpeVocabSql}, " +
        "v -> CASE WHEN substring(word, pos, length(v)) = v THEN length(v) END)), 1) AS L " +
        "FROM seg WHERE pos <= length(word))) " +
        "SELECT stream.doc_id, stream.ti, CAST(seg.idx AS INT) AS seg_idx, " +
        s"CAST(coalesce(list_position(${ops.TextAnalysis.bpeVocabSql}, seg.piece), 0) AS INT) AS piece_id " +
        "FROM stream JOIN seg USING (word) WHERE seg.idx >= 0")),
    QueryDef("q_quality", ((s, d) => TextAnalysis.qualityScores(Tables.documents(s, d))),
      () => (s"WITH t AS (SELECT doc_id, text, $TOKS AS toks FROM documents) " +
        "SELECT doc_id, len(toks) AS n_tokens, " +
        "round(coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
        "greatest(len(toks), 1), 4) AS avg_token_len, " +
        "round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
        "greatest(len(toks), 1), 4) AS stopword_ratio, " +
        "round((length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))) / " +
        "greatest(length(text), 1), 4) AS non_alnum_ratio FROM t")),
    // one-row corpus health dashboard composing the scan-stage signals
    QueryDef("q_corpus_report", ((s, d) =>
      TextAnalysis.corpusReport(Tables.documents(s, d))),
      // the health report composes the quality-feature, lang-score, and
      // fingerprint SQL the per-signal oracles already use
      () => {
        val (bias, wLog, wAvg, wStop, wNon, keepT) = ops.TextAnalysis.QUALITY_W
        s"WITH t AS (SELECT doc_id, text, $TOKS AS toks, $LANG_PAD AS pad FROM documents), " +
          "f AS (SELECT *, len(toks) AS n, " +
          "coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
          "greatest(len(toks), 1) AS avg_len, " +
          "len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
          "greatest(len(toks), 1) AS stop_r, " +
          s"(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g'))) / " +
          "greatest(length(text), 1) AS non_al FROM t), " +
          s"z AS (SELECT *, ($bias) + ($wLog) * ln(1 + n) + ($wAvg) * avg_len + " +
          s"($wStop) * stop_r + ($wNon) * non_al AS z FROM f), " +
          s"sc AS (SELECT *, $LANG_SCORE_COLS FROM z), " +
          s"p AS (SELECT n, $LANG_PRED_CASE AS pred_lang, ${fpSql("toks")} AS fp, " +
          "1.0 / (1.0 + exp(-z)) AS q FROM sc) " +
          "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens, " +
          "round(avg(n), 4) AS avg_doc_tokens, " +
          "CASE WHEN count(*) > 0 THEN round(1.0 - " +
          "CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 4) ELSE 0.0 END AS exact_dup_frac, " +
          "round(avg(q), 4) AS avg_quality, " +
          s"round(avg(CAST(q >= $keepT AS INT)), 4) AS quality_keep_frac, " +
          "round(avg(CAST(pred_lang = 'en' AS INT)), 4) AS en_frac FROM p"
      }),
    QueryDef("q_quality_model", ((s, d) =>
      TextAnalysis.qualityClassifierScore(Tables.documents(s, d))),
      // weights interpolated from the same QUALITY_W constant the Spark
      // side compiles; round(4) absorbs libm exp/ln ulp differences
      () => {
        val (bias, wLog, wAvg, wStop, wNon, keepT) = ops.TextAnalysis.QUALITY_W
        s"WITH t AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
          "f AS (SELECT doc_id, len(toks) AS n, " +
          "coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
          "greatest(len(toks), 1) AS avg_len, " +
          "len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
          "greatest(len(toks), 1) AS stop_r, " +
          s"(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g'))) / " +
          "greatest(length(text), 1) AS non_al FROM t), " +
          s"z AS (SELECT doc_id, ($bias) + ($wLog) * ln(1 + n) + ($wAvg) * avg_len + " +
          s"($wStop) * stop_r + ($wNon) * non_al AS z FROM f) " +
          "SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS quality_score, " +
          s"CAST(1.0 / (1.0 + exp(-z)) >= $keepT AS INT) AS keep FROM z"
      }),
    // ON-CLUSTER trained quality filter: full-batch logistic regression
    // on the corpus's own weak length labels (3 q6-rounded GD steps,
    // model-sized collects), then scored in the same job
    QueryDef("q_quality_fit", ((s, d) =>
      TextAnalysis.qualityFitScore(Tables.documents(s, d))),
      // trained logistic quality filter, GD unrolled per-iteration
      () => qualityFitSql(3, 0.5, 300)),
    // NFC canonicalization: the synthetic corpus is pure ASCII (NFC
    // identity), so every 13th doc gets a decomposed-accent + double-space
    // suffix injected IN the query (chr() codepoints in the oracle SQL) —
    // the composition path is then hash-validated, not just spec'd
    QueryDef("q_normalize", ((s, d) => {
      val docs = Tables.documents(s, d)
      val injected = docs.select(col("doc_id"),
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" cafe\u0301 A\u030Abc  end")))
          .otherwise(col("text")).as("text"))
      TextAnalysis.normalizeText(injected)
    }),
      // fixture injected via chr() codepoints (769 = U+0301 combining
      // acute, 778 = U+030A combining ring) so the SQL carries no raw
      // combining bytes; DuckDB's nfc_normalize (utf8proc) and Java's
      // Normalizer implement the same Unicode NFC
      () => ("WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || " +
        "' cafe' || chr(769) || ' A' || chr(778) || 'bc  end' " +
        "ELSE text END AS t0 FROM documents), " +
        "n AS (SELECT doc_id, t0, trim(regexp_replace(nfc_normalize(t0), " +
        s"'${ops.TextAnalysis.WS_RUN_RE}', ' ', 'g')) AS t1 FROM inj) " +
        "SELECT doc_id, t1 AS text, CAST(length(t0) AS INT) AS orig_len, " +
        "CAST(length(t1) AS INT) AS norm_len FROM n")),
    QueryDef("q_repetition", ((s, d) => TextAnalysis.repetitionScores(Tables.documents(s, d))),
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "r AS (SELECT doc_id, toks, " +
        "CASE WHEN len(toks) >= 3 THEN list_transform(range(len(toks) - 2), " +
        "i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) " +
        "ELSE [] END AS sh FROM t) " +
        "SELECT doc_id, " +
        "round(CAST(coalesce(list_max(list_transform(list_distinct(toks), " +
        "x -> len(list_filter(toks, y -> y = x)))), 0) AS DOUBLE) " +
        "/ greatest(len(toks), 1), 4) AS top_tok_frac, " +
        "round(CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE) " +
        "/ greatest(len(sh), 1), 4) AS dup_3gram_frac FROM r")),
    // DEFLATE is not available in DuckDB SQL → the 500 per-doc ratios
    // are OutputPins literals since round 15 (kernel drift flips red);
    // accuracy asserted against known-compressibility fixtures in
    // TextAnalysisSpec
    QueryDef("q_compression", ((s, d) => TextAnalysis.compressionScores(Tables.documents(s, d))),
      () => compressionSql),
    QueryDef("q_surprisal", ((s, d) => TextAnalysis.surprisalScores(Tables.documents(s, d))),
      () => (s"WITH terms AS (SELECT doc_id, unnest($TOKS) AS word FROM documents), " +
        "tf AS (SELECT word, count(*) AS cnt FROM terms GROUP BY word), " +
        "n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n_total FROM tf) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(avg(-ln(cnt / n_total)), 4) AS avg_surprisal " +
        "FROM terms JOIN tf USING (word), n GROUP BY doc_id")),
    // fixed-memory surprisal: unigram counts served from a 4×64
    // count-min sketch (width 64 forces real collisions on the 31-word
    // vocab — the one-sided underestimate of rarity is the point)
    QueryDef("q_surprisal_cms", ((s, d) =>
      TextAnalysis.surprisalScoresSketch(Tables.documents(s, d),
        depth = 4, width = 64)),
      // the q_cms md5-slice cell replay feeding the q_surprisal scoring
      // shape: estimates per distinct word (min over d cells, floored at
      // 1), exact token total, same rounding contract
      () => (s"WITH terms AS (SELECT doc_id, unnest($TOKS) AS word FROM documents), " +
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM terms), " +
        "ds AS (SELECT CAST(range AS INT) AS d FROM range(4)), " +
        "cells AS (SELECT d, CAST(('0x' || substring(md5('cm0-' || word), 1 + 8 * d, 8)) " +
        "AS UBIGINT) % 64 AS bucket, count(*) AS cnt FROM terms, ds GROUP BY 1, 2), " +
        "dict AS (SELECT DISTINCT word FROM terms), " +
        "pb AS (SELECT word, d, CAST(('0x' || substring(md5('cm0-' || word), 1 + 8 * d, 8)) " +
        "AS UBIGINT) % 64 AS bucket FROM dict, ds), " +
        "est AS (SELECT word, greatest(CAST(min(coalesce(cnt, 0)) AS BIGINT), 1) AS est " +
        "FROM pb LEFT JOIN cells USING (d, bucket) GROUP BY word) " +
        "SELECT doc_id, count(*) AS n_tokens, " +
        "round(avg(-ln(est / n_total)), 4) AS avg_surprisal " +
        "FROM terms JOIN est USING (word), n GROUP BY doc_id")),
    QueryDef("q_surprisal2", ((s, d) => TextAnalysis.surprisalScoresBigram(Tables.documents(s, d))),
      () => (s"WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "p AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS prev, " +
        "unnest(toks[2:len(toks)]) AS word FROM t WHERE len(toks) >= 2), " +
        "c2 AS (SELECT prev, word, count(*) AS cnt2 FROM p GROUP BY prev, word), " +
        "c1 AS (SELECT prev, sum(cnt2) AS cnt1 FROM c2 GROUP BY prev) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "round(avg(-ln(CAST(cnt2 AS DOUBLE) / cnt1)), 4) AS avg_surprisal2 " +
        "FROM p JOIN c2 USING (prev, word) JOIN c1 USING (prev) GROUP BY doc_id")),
    // stupid-backoff bigram LM served from a TRAIN split (even doc_ids):
    // held-out docs hit unseen bigrams, so the backoff branch really fires
    QueryDef("q_surprisal_bo", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.surprisalScoresBackoff(
        docs.where(col("doc_id") % 2 === 0), docs)
    }),
      // counts from the even-id train half; CASE = seen-pair ratio vs
      // alpha-scaled unigram backoff, word-OOV bigrams excluded
      () => (s"WITH tr AS (SELECT doc_id, $TOKS AS toks FROM documents WHERE doc_id % 2 = 0), " +
        "trp AS (SELECT unnest(toks[1:len(toks)-1]) AS prev, " +
        "unnest(toks[2:len(toks)]) AS word FROM tr WHERE len(toks) >= 2), " +
        "c2 AS (SELECT prev, word, count(*) AS cnt2 FROM trp GROUP BY prev, word), " +
        "c1 AS (SELECT prev, sum(cnt2) AS cnt1 FROM c2 GROUP BY prev), " +
        "u AS (SELECT unnest(toks) AS word FROM tr), " +
        "uw AS (SELECT word, count(*) AS cntw FROM u GROUP BY word), " +
        "nt AS (SELECT CAST(sum(cntw) AS DOUBLE) AS n_total FROM uw), " +
        s"al AS (SELECT doc_id, $TOKS AS toks FROM documents), " +
        "sp AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS prev, " +
        "unnest(toks[2:len(toks)]) AS word FROM al WHERE len(toks) >= 2), " +
        "j AS (SELECT sp.doc_id, CASE WHEN c2.cnt2 IS NOT NULL " +
        "THEN CAST(c2.cnt2 AS DOUBLE) / c1.cnt1 " +
        "ELSE 0.4 * (CAST(uw.cntw AS DOUBLE) / n_total) END AS s " +
        "FROM sp LEFT JOIN c2 USING (prev, word) LEFT JOIN c1 USING (prev) " +
        "LEFT JOIN uw USING (word), nt) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored, " +
        "round(avg(-ln(s)), 4) AS avg_surprisal_bo " +
        "FROM j WHERE s IS NOT NULL GROUP BY doc_id")),
    QueryDef("q_lang_id", ((s, d) => TextAnalysis.langId(Tables.documents(s, d))),
      () => s"WITH $LANGID_CTES SELECT doc_id, pred_lang FROM pred"),
    QueryDef("q_lang_confusion", ((s, d) =>
      TextAnalysis.langConfusion(Tables.documents(s, d))),
      () => (s"WITH $LANGID_CTES SELECT lang, pred_lang, count(*) AS cnt " +
        "FROM pred GROUP BY lang, pred_lang")),
    // script/charset composition + code-switching flag over injected
    // CJK (every 4th doc) and Cyrillic (every 6th) segments — the
    // synthetic corpus is pure ASCII, so the mix needs structure
    QueryDef("q_script_mix", ((s, d) =>
      TextAnalysis.scriptMix(Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 4 === 0, lit(" 机器学习模型训练数据"))
            .otherwise(lit("")),
          when(col("doc_id") % 6 === 0, lit(" обучение моделей данных"))
            .otherwise(lit(""))).as("text")))),
      // script-mix replay: same injection, RE2 script classes (\p{Latin}
      // vs Java's \p{IsLatin} — same semantics), length-difference counts,
      // the same dominant CASE order = lexicographic tie-break
      () => ("WITH inj AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' 机器学习模型训练数据' ELSE '' END || " +
        "CASE WHEN doc_id % 6 = 0 THEN ' обучение моделей данных' ELSE '' END " +
        "AS text FROM documents), " +
        "c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS len, " +
        "CAST(length(text) - length(regexp_replace(text, '\\p{Latin}', '', 'g')) AS BIGINT) AS n_latin, " +
        "CAST(length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')) AS BIGINT) AS n_han, " +
        "CAST(length(text) - length(regexp_replace(text, '\\p{Cyrillic}', '', 'g')) AS BIGINT) AS n_cyrillic, " +
        "CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digit, " +
        "CAST(length(text) - length(regexp_replace(text, '[ \\t\\n\\r\\f]', '', 'g')) AS BIGINT) AS n_space " +
        "FROM inj) " +
        "SELECT doc_id, n_latin, n_han, n_cyrillic, n_digit, n_space, " +
        "len - n_latin - n_han - n_cyrillic - n_digit - n_space AS n_other, " +
        "round(n_latin / CAST(greatest(len - n_space, 1) AS DOUBLE), 4) AS latin_frac, " +
        "round(n_han / CAST(greatest(len - n_space, 1) AS DOUBLE), 4) AS han_frac, " +
        "round(n_cyrillic / CAST(greatest(len - n_space, 1) AS DOUBLE), 4) AS cyrillic_frac, " +
        "CASE WHEN greatest(n_latin, n_han, n_cyrillic) = 0 THEN 'none' " +
        "WHEN n_cyrillic = greatest(n_latin, n_han, n_cyrillic) THEN 'cyrillic' " +
        "WHEN n_han = greatest(n_latin, n_han, n_cyrillic) THEN 'han' " +
        "ELSE 'latin' END AS dominant, " +
        "CAST((CASE WHEN n_latin >= 5 THEN 1 ELSE 0 END + " +
        "CASE WHEN n_han >= 5 THEN 1 ELSE 0 END + " +
        "CASE WHEN n_cyrillic >= 5 THEN 1 ELSE 0 END) >= 2 AS INT) AS mixed " +
        "FROM c")),
    QueryDef("q_tfidf", ((s, d) => TextAnalysis.tfIdfTopTerms(Tables.documents(s, d), 3)),
      () => (s"WITH terms AS (SELECT doc_id, unnest($TOKS) AS word FROM documents), " +
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM terms GROUP BY doc_id, word), " +
        "df AS (SELECT word, count(DISTINCT doc_id) AS df FROM terms GROUP BY word), " +
        "n AS (SELECT count(*) AS n_docs FROM documents), " +
        "scored AS (SELECT doc_id, tf.word AS word, tf, " +
        "round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf, " +
        "CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df) DESC, tf.word ASC) AS INT) AS rk " +
        "FROM tf, df, n WHERE tf.word = df.word) " +
        "SELECT doc_id, word, tfidf, rk FROM scored WHERE rk <= 3")),
    // exact heavy hitters (the Space-Saving sketch's oracle twin —
    // SketchSpec validates the sketch against this form)
    QueryDef("q_heavy_hitters", ((s, d) =>
      TextAnalysis.heavyHitters(Tables.documents(s, d), HH_PHI)),
      () => (s"WITH tk AS (SELECT unnest($TOKS) AS token FROM documents), " +
        "wc AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token), " +
        "t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM wc) " +
        s"SELECT token, cnt FROM wc, t WHERE CAST(cnt AS DOUBLE) > total * $HH_PHI")),
    // the split-leakage FIX: split on the exact-dup cluster key (min
    // doc_id per content fingerprint, multi-member groups only) so no
    // fingerprint-identical pair can straddle splits; singletons fall
    // back to their own id = the plain hashSplit assignment
    QueryDef("q_cluster_split", ((s, d) => {
      val docs = Tables.documents(s, d)
      // the corpus has no exact dups at test SF: re-crawled copies are
      // injected IN the query (every 9th doc, shifted id) so the
      // cluster arm actually decides — each copy-pair must co-locate
      val all = docs.select("doc_id", "text").unionByName(
        docs.where(col("doc_id") % 9 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      val fps = TextAnalysis.fingerprints(all)
      val clusters = fps.groupBy("fp")
        .agg(min("doc_id").as("cluster_id"), count(lit(1)).as("_n"))
        .where(col("_n") > 1)
      val assign = fps.join(clusters, "fp").select("doc_id", "cluster_id")
      Sampling.clusterSplit(fps.select("doc_id"), assign,
        trainRate = 0.8, validRate = 0.1)
        .select("doc_id", "cluster_id", "split")
    }),
      // split key = coalesce(cluster_id, doc_id) hashed with the same
      // 9-digit hex thresholds; multi-member fingerprint groups only
      () => ("WITH base AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 100000, text FROM documents " +
        "WHERE doc_id % 9 = 0), " +
        s"fps AS (SELECT doc_id, ${fpSql(TOKS)} AS fp FROM base), " +
        "cl AS (SELECT fp, min(doc_id) AS cluster_id, count(*) AS n " +
        "FROM fps GROUP BY fp), " +
        "asg AS (SELECT f.doc_id, CASE WHEN cl.n > 1 THEN cl.cluster_id END " +
        "AS cluster_id FROM fps f JOIN cl USING (fp)), " +
        "k AS (SELECT doc_id, cluster_id, '0' || substring(md5(" +
        "CAST(coalesce(cluster_id, doc_id) AS VARCHAR)), 1, 8) AS hk FROM asg) " +
        s"SELECT doc_id, cluster_id, CASE WHEN hk < '${ops.Sampling.hexThreshold(0.8)}' " +
        s"THEN 'train' WHEN hk < '${ops.Sampling.hexThreshold(0.9)}' THEN 'valid' " +
        "ELSE 'test' END AS split FROM k")),
    // incremental snapshot dedup: an "incoming crawl" (doc_id >= 200)
    // overlapping the "previous snapshot" (doc_id < 300) — keep incoming
    // docs whose content fingerprint is absent from the snapshot, via the
    // bloom-prefiltered exact anti-join, so only bloom-flagged rows (the
    // 100 re-crawled docs + ~fpp false positives) reach the join's shuffle
    QueryDef("q_incr_dedup", ((s, d) => {
      val fps = TextAnalysis.fingerprints(Tables.documents(s, d))
      BloomJoin.bloomAntiJoin(
        fps.where(col("doc_id") >= 200),
        fps.where(col("doc_id") < 300).select("fp"),
        "fp")
    }),
      // the bloom prefilter is invisible to the oracle by design: the
      // operator's contract is exact equality with the plain anti-join
      () => (s"WITH f AS (SELECT doc_id, ${fpSql(TOKS)} AS fp FROM documents) " +
        "SELECT doc_id, fp FROM f WHERE doc_id >= 200 " +
        "AND fp NOT IN (SELECT fp FROM f WHERE doc_id < 300)")),
    // per-source percentile quality gate: keep each source's best 40 %
    QueryDef("q_quality_rank", ((s, d) =>
      TextAnalysis.qualityPercentile(Tables.documents(s, d), "source",
        keepFrac = QRANK_KEEP)),
      // rank on the raw logit (monotone in the score but never saturates to
      // a tie the way sigmoid's double rounding can); cume_dist — not
      // percent_rank, which zeroes single-doc strata — is an exact rational
      // so the keep boundary agrees across engines
      () => {
        val (bias, wLog, wAvg, wStop, wNon, _) = ops.TextAnalysis.QUALITY_W
        s"WITH t AS (SELECT doc_id, source, text, $TOKS AS toks FROM documents), " +
          "f AS (SELECT doc_id, source, len(toks) AS n, " +
          "coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
          "greatest(len(toks), 1) AS avg_len, " +
          "len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
          "greatest(len(toks), 1) AS stop_r, " +
          s"(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g'))) / " +
          "greatest(length(text), 1) AS non_al FROM t), " +
          s"z AS (SELECT doc_id, source, ($bias) + ($wLog) * ln(1 + n) + " +
          s"($wAvg) * avg_len + ($wStop) * stop_r + ($wNon) * non_al AS z FROM f), " +
          "p AS (SELECT doc_id, source, z, cume_dist() OVER " +
          "(PARTITION BY source ORDER BY z) AS cd FROM z) " +
          "SELECT doc_id, source, round(1.0 / (1.0 + exp(-z)), 4) AS quality_score, " +
          "round(cd, 6) AS pctl, " +
          s"CAST(cd > 1.0 - $QRANK_KEEP AS INT) AS keep FROM p"
      }),
    // per-source dataset card (the corpus report broken out by provenance)
    QueryDef("q_data_card", ((s, d) =>
      TextAnalysis.dataCard(Tables.documents(s, d))),
      () => (s"WITH t AS (SELECT source, lang, n_chars, $TOKS AS toks, " +
        s"${fpSql(TOKS)} AS fp FROM documents) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(coalesce(sum(len(toks)), 0) AS BIGINT) AS n_tokens, " +
        "round(avg(len(toks)), 4) AS avg_doc_tokens, " +
        "CASE WHEN count(*) > 0 THEN round(1.0 - " +
        "CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 4) ELSE 0.0 END AS exact_dup_frac, " +
        "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, " +
        "round(avg(n_chars), 4) AS avg_chars " +
        "FROM t GROUP BY source")),
    // population drift monitor: PSI of the length distribution, English
    // slice vs the rest (fixed bucket edges — the reference binning)
    QueryDef("q_drift", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.distributionDrift(
        docs.where(col("lang") === "en"), docs.where(col("lang") =!= "en"),
        "n_chars", Seq(150.0, 250.0, 350.0, 450.0))
    }),
      // PSI replay: same fixed edges, +0.5 Laplace smoothing, ln ratio
      () => ("WITH ca AS (SELECT CAST(n_chars >= 150.0 AS INT) + CAST(n_chars >= 250.0 AS INT) + " +
        "CAST(n_chars >= 350.0 AS INT) + CAST(n_chars >= 450.0 AS INT) AS bucket, " +
        "count(*) AS cnt_a FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL GROUP BY 1), " +
        "cb AS (SELECT CAST(n_chars >= 150.0 AS INT) + CAST(n_chars >= 250.0 AS INT) + " +
        "CAST(n_chars >= 350.0 AS INT) + CAST(n_chars >= 450.0 AS INT) AS bucket, " +
        "count(*) AS cnt_b FROM documents WHERE lang <> 'en' AND n_chars IS NOT NULL GROUP BY 1), " +
        "sp AS (SELECT CAST(range AS INT) AS bucket FROM range(5)), " +
        "j AS (SELECT sp.bucket, CAST(coalesce(cnt_a, 0) AS BIGINT) AS cnt_a, " +
        "CAST(coalesce(cnt_b, 0) AS BIGINT) AS cnt_b " +
        "FROM sp LEFT JOIN ca USING (bucket) LEFT JOIN cb USING (bucket)), " +
        "t AS (SELECT sum(cnt_a) AS n_a, sum(cnt_b) AS n_b FROM j) " +
        "SELECT bucket, cnt_a, cnt_b, " +
        "round(((cnt_a + 0.5) / (n_a + 2.5) - (cnt_b + 0.5) / (n_b + 2.5)) * " +
        "ln(((cnt_a + 0.5) / (n_a + 2.5)) / ((cnt_b + 0.5) / (n_b + 2.5))), 6) AS psi " +
        "FROM j, t")),
    // feature-hashed document vectors, long format (the hashing trick —
    // the model-free text→vector bridge into the similarity stack)
    QueryDef("q_hash_embed", ((s, d) =>
      TextAnalysis.hashEmbedLong(Tables.documents(s, d), dim = 64)),
      // same md5-prefix bucket/sign arithmetic; values are exact signed
      // counts, so no rounding is needed
      () => (s"WITH ${hashEmbedCtes(64)} " +
        "SELECT doc_id, dim_idx, value FROM sv")),
    // INCREMENTAL text semdedup: the base corpus is a standing
    // argmax-block index (built once, bucketed by block); the day's
    // increment probes it and gets batch-identical verdicts — the oracle
    // is the full q_semdedup_text replay filtered to the increment rows,
    // so any drift between apply and batch decision hash-fails
    QueryDef("q_semdedup_incr", ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.where(col("doc_id") % 10 < 8)
      val idx = TextAnalysis.semanticDedupTextIndex(s, base,
        IndexTables.ident("semtext", base))
      TextAnalysis.semanticDedupTextApply(
        docs.where(col("doc_id") % 10 >= 8), idx, minCos = 0.9)
    }),
      // the SAME full-corpus replay filtered to the increment rows: the
      // incremental apply's contract is batch-identical verdicts, so its
      // oracle IS the batch oracle restricted to the rows it decided
      () => semdedupTextSql(" WHERE b.vec_id % 10 >= 8")),
    // DSIR importance scoring: hashed-unigram log-likelihood ratios of a
    // target distribution (the English subset stands in for "curated
    // reference text") vs the raw pool, fitted once (dim-sized model),
    // then every document scored in the scan stage with the model as
    // literals — zero shuffle, the 100 TB data-selection pass
    QueryDef("q_dsir", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.dsirScores(docs,
        TextAnalysis.dsirLogRatios(docs, docs.where(col("lang") === "en")))
    }),
      // DSIR replay: UNSIGNED bucket counts (same md5 scheme, no sign),
      // add-1-smoothed target (lang='en') vs raw distributions over the
      // full range(64) grid, per-doc Σ c·lr; zero-token docs score 0.0
      () => (s"WITH ${dsirCtes(64)} " +
        "SELECT doc_id, n_tokens, dsir_logw FROM ds")),
    // DSIR importance RESAMPLING — the second half of the method: the
    // q_dsir scores bucketed by their corpus distribution, keep rates
    // ASCENDING so the target-like tail is retained and the off-target
    // mass thinned (perplexityMix with the score flipped in meaning)
    QueryDef("q_dsir_mix", ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = TextAnalysis.dsirScores(docs,
        TextAnalysis.dsirLogRatios(docs, docs.where(col("lang") === "en")))
        .select(col("doc_id"), col("dsir_logw"))
      Sampling.perplexityMix(scored, "doc_id", "dsir_logw", DSIR_RATES,
        salt = "dsir")
    }),
      // DSIR importance RESAMPLING: the q_dsir scores through the
      // q_ppl_mix bucket/keep machinery with ASCENDING rates (keep the
      // target-like tail) — ONE score definition (dsirCtes), one bucket
      // replay, salt 'dsir'
      () => {
        val caseThr = DSIR_RATES.zipWithIndex.map { case (r, i) =>
          s"WHEN ${i + 1} THEN '${ops.Sampling.hexThreshold(r)}'"
        }.mkString(" ")
        s"WITH ${dsirCtes(64)}, " +
          "s AS (SELECT doc_id, dsir_logw FROM ds), " +
          "cnts AS (SELECT dsir_logw, count(*) AS c FROM s GROUP BY 1), " +
          "na AS (SELECT CAST(sum(c) AS DOUBLE) AS n_all FROM cnts), " +
          "cum AS (SELECT dsir_logw, c, sum(c) OVER (ORDER BY dsir_logw " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM cnts), " +
          s"b AS (SELECT dsir_logw, CAST(floor((cum - c) * ${DSIR_RATES.length} " +
          "/ n_all) AS INT) + 1 AS bucket FROM cum, na) " +
          "SELECT s.doc_id, s.dsir_logw, b.bucket " +
          "FROM s JOIN b USING (dsir_logw) " +
          "WHERE '0' || substring(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8) < " +
          s"CASE b.bucket $caseThr END"
      }),
    // trained multiclass NB over hashed token counts — the fasttext-
    // style router: per-doc argmax prediction vs the true lang label
    // (the synthetic corpus's labels are vocabulary-independent, so the
    // model learns priors+noise — exactly what the oracle replays)
    QueryDef("q_nb_lang", ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = TextAnalysis.nbFit(docs, "lang", dim = 64)
      TextAnalysis.nbPredict(docs, model, carry = Seq("lang"))
        .withColumn("correct", (col("pred") === col("lang")).cast("int"))
    }),
      // NB classifier replay: the model re-fit in SQL, per-doc argmax on
      // the rounded score with the same lexicographic tie-break
      () => (s"WITH ${nbCtes(64)} " +
        "SELECT doc_id, lang, pred, CAST(pred = lang AS INT) AS correct " +
        "FROM pr")),
    // the classifier acceptance artifact: true × predicted confusion
    QueryDef("q_nb_confusion", ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = TextAnalysis.nbFit(docs, "lang", dim = 64)
      TextAnalysis.nbPredict(docs, model, carry = Seq("lang"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
    }),
      // confusion matrix off the same prediction chain
      () => (s"WITH ${nbCtes(64)} " +
        "SELECT lang, pred, count(*) AS n FROM pr GROUP BY 1, 2")),
    // per-class precision/recall/F1 off the same prediction chain — F1
    // from the UNROUNDED ratios, NULL metrics on empty denominators
    QueryDef("q_nb_prf", ((s, d) => {
      val docs = Tables.documents(s, d)
      val model = TextAnalysis.nbFit(docs, "lang", dim = 64)
      TextAnalysis.classifierReport(
        TextAnalysis.nbPredict(docs, model, carry = Seq("lang")),
        "lang", "pred")
    }),
      // per-class P/R/F1 replay — F1's harmonic mean from the unrounded
      // ratios, CASE-guarded NULLs on empty denominators
      () => (s"WITH ${nbCtes(64)}, " +
        "conf AS (SELECT lang, pred, count(*) AS n FROM pr GROUP BY 1, 2), " +
        prfTailSql("lang", "pred"))),
    // Gopher/MassiveText structural quality rules: per-rule flags +
    // conjunction, every threshold integer-exact (cross-multiplied)
    QueryDef("q_gopher_rules", ((s, d) =>
      TextAnalysis.gopherRules(Tables.documents(s, d))),
      // Gopher-rule replay: whitespace words, newline lines, the same
      // regexes, every threshold cross-multiplied in BIGINT — no float
      // anywhere, so the rows must match exactly, not just post-round
      () => gopherRulesSql()),
    // the complete published gate: structural AND repetition halves
    // joined per doc over the plain corpus (each half individually
    // oracled; the conjunction is the production filter)
    QueryDef("q_gopher_gate", ((s, d) =>
      TextAnalysis.gopherGate(Tables.documents(s, d))),
      // the COMPLETE table-A1 gate: both halves over the SAME (plain)
      // corpus, conjunction per doc
      () => ("SELECT r.doc_id, r.pass AS pass_struct, p.pass AS pass_rep, " +
        "CAST(r.pass * p.pass AS INT) AS pass " +
        s"FROM (${gopherRulesSql()}) r JOIN (${gopherRepSql(inject = false)}) p " +
        "ON p.doc_id = r.doc_id")),
    // the REPETITION half of the Gopher gate, over deterministically
    // injected repetition (dup lines on every 3rd doc, a doubled
    // 12-token phrase on every 5th, dup paragraphs on every 7th — the
    // synthetic corpus is single-line, so the rules need structure to
    // bite on)
    QueryDef("q_gopher_rep", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.gopherRepetition(docs.select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\nsubscribe now\nsubscribe now\nsubscribe now"))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit(s" $GOPHER_REP_PHRASE $GOPHER_REP_PHRASE"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit("\n\npromo paragraph block\n\npromo paragraph block"))
            .otherwise(lit(""))).as("text")))
    }),
      // repetition-gate replay: per-(doc, unit) counts via unnest+GROUP BY
      // instead of the engine's sorted-run arrays — same exact integers,
      // same rounded fractions, same cross-multiplied flags
      () => gopherRepSql()),
    // entropy-based secret detection over deterministically injected
    // credentials (md5-hex key on every 7th doc = high entropy; a
    // repeated-char run on every 11th = the low-entropy control the
    // threshold must NOT flag)
    QueryDef("q_secret_scan", ((s, d) =>
      TextAnalysis.secretScan(Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            concat(lit(" key_"), md5(col("doc_id").cast("string"))))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" aaaaaaaaaaaaaaaaaaaaaaaa")).otherwise(lit("")))
          .as("text")))),
      // secret-scan replay: same injection, same candidate class, char
      // entropy re-derived via a substring histogram (engine byte = char:
      // candidates are ASCII by the class), flag on the ROUNDED bits
      () => ("WITH inj AS (SELECT doc_id, text || " +
        "CASE WHEN doc_id % 7 = 0 THEN ' key_' || md5(CAST(doc_id AS VARCHAR)) ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN ' aaaaaaaaaaaaaaaaaaaaaaaa' ELSE '' END AS text " +
        "FROM documents), " +
        "cands AS (SELECT DISTINCT doc_id, candidate FROM " +
        "(SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z0-9+/=_-]{20,}')) " +
        "AS candidate FROM inj) u), " +
        "ch AS (SELECT doc_id, candidate, unnest(list_transform(range(length(candidate)), " +
        "i -> substring(candidate, CAST(i + 1 AS INT), 1))) AS c FROM cands), " +
        "cc AS (SELECT doc_id, candidate, c, count(*) AS n FROM ch GROUP BY 1, 2, 3), " +
        "ent AS (SELECT doc_id, candidate, " +
        "round(sum(-(CAST(n AS DOUBLE) / length(candidate)) * " +
        "ln(CAST(n AS DOUBLE) / length(candidate))) / ln(2.0), 4) AS entropy " +
        "FROM cc GROUP BY 1, 2) " +
        "SELECT doc_id, candidate, entropy, " +
        "CAST(entropy >= 3.0 AS INT) AS is_secret FROM ent")),
    // DPO-style preference pairs: per source, best-vs-worst document by
    // the model quality LOGIT (raw z — the q_quality_rank tie rationale:
    // sigmoid's rounding saturates, the logit never does)
    QueryDef("q_pref_pairs", ((s, d) => {
      val scored = Tables.documents(s, d).select(col("source"),
        col("doc_id"), col("text"),
        TextAnalysis.qualityLogit(col("text")).as("z"))
      Conversations.preferencePairs(scored, "source", "doc_id", "z", "text")
    }),
      // best/worst per source on the raw logit; both tie-breaks prefer the
      // lowest doc_id; strict-preference filter mirrors the Spark guard
      () => {
        val (bias, wLog, wAvg, wStop, wNon, _) = ops.TextAnalysis.QUALITY_W
        s"WITH t AS (SELECT doc_id, source, text, $TOKS AS toks FROM documents), " +
          "f AS (SELECT doc_id, source, text, len(toks) AS n, " +
          "coalesce(list_aggregate(list_transform(toks, x -> length(x)), 'sum'), 0) / " +
          "greatest(len(toks), 1) AS avg_len, " +
          "len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','on'], x))) / " +
          "greatest(len(toks), 1) AS stop_r, " +
          s"(length(text) - length(regexp_replace(lower(text), '$NON_ALNUM_SQL', '', 'g'))) / " +
          "greatest(length(text), 1) AS non_al FROM t), " +
          s"z AS (SELECT doc_id, source, text, ($bias) + ($wLog) * ln(1 + n) + " +
          s"($wAvg) * avg_len + ($wStop) * stop_r + ($wNon) * non_al AS z FROM f), " +
          "zs AS (SELECT * FROM z WHERE z IS NOT NULL), " +
          "rk AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY z DESC, doc_id ASC) AS rc, " +
          "row_number() OVER (PARTITION BY source ORDER BY z ASC, doc_id ASC) AS rr FROM zs), " +
          "n AS (SELECT source, count(*) AS n_cands FROM zs GROUP BY source) " +
          "SELECT c.source, c.doc_id AS chosen_id, c.text AS chosen, " +
          "r.doc_id AS rejected_id, r.text AS rejected, " +
          "round(c.z - r.z, 4) AS score_gap, n.n_cands " +
          "FROM (SELECT * FROM rk WHERE rc = 1) c " +
          "JOIN (SELECT * FROM rk WHERE rr = 1) r USING (source) " +
          "JOIN n USING (source) WHERE c.z > r.z"
      }),
    // vocabulary-level drift: KL both ways + Jensen-Shannon divergence
    // between the en and non-en token distributions (union vocab,
    // add-half smoothing) — the drift check PSI/KS can't see
    QueryDef("q_js_div", ((s, d) => {
      val docs = Tables.documents(s, d)
      TextAnalysis.tokenDivergence(docs.where(col("lang") === "en"),
        docs.where(col("lang") =!= "en"))
    }),
      // KL/JS over the union vocabulary with add-half smoothing; each ln
      // term q6-rounded before the sum (the tokenDivergence convention)
      () => (s"WITH ca AS (SELECT t, count(*) AS c FROM " +
        s"(SELECT unnest($TOKS) AS t FROM documents WHERE lang = 'en') GROUP BY t), " +
        s"cb AS (SELECT t, count(*) AS c FROM " +
        s"(SELECT unnest($TOKS) AS t FROM documents WHERE lang <> 'en') GROUP BY t), " +
        "j AS (SELECT coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb " +
        "FROM ca FULL JOIN cb ON ca.t = cb.t), " +
        "tot AS (SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS v FROM j), " +
        "pq AS (SELECT (ca+0.5)/(tot.na+0.5*tot.v) AS p, (cb+0.5)/(tot.nb+0.5*tot.v) AS q FROM j, tot) " +
        // scalar subqueries, not GROUP BY over pq: a token-free union
        // must yield ONE all-null row (the tokenDivergence contract),
        // not zero rows
        "SELECT CAST(coalesce(tot.na, 0) AS BIGINT) AS n_a, " +
        "CAST(coalesce(tot.nb, 0) AS BIGINT) AS n_b, " +
        "CAST(tot.v AS BIGINT) AS vocab, " +
        "(SELECT round(sum(round(p*ln(p/q), 6)), 6) FROM pq) AS kl_ab, " +
        "(SELECT round(sum(round(q*ln(q/p), 6)), 6) FROM pq) AS kl_ba, " +
        "(SELECT round(sum(round(p*ln(p/((p+q)/2))/2, 6) + round(q*ln(q/((p+q)/2))/2, 6)), 6) FROM pq) AS js " +
        "FROM tot")),
    // corpus-planning scorecard: tokens, types, hapax/dis, TTR,
    // Good-Turing unseen mass (the type-inventory view q_zipf and
    // q_corpus_report don't carry)
    QueryDef("q_vocab_report", ((s, d) =>
      TextAnalysis.vocabReport(Tables.documents(s, d))),
      // vocab scorecard: one dictionary aggregate (the Zipf shape scalar
      // is q_zipf's)
      () => (s"WITH c AS (SELECT t, count(*) AS c FROM " +
        s"(SELECT unnest($TOKS) AS t FROM documents) GROUP BY t) " +
        "SELECT CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(count(*) AS BIGINT) AS vocab, " +
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax, " +
        "CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis, " +
        "round(count(*)/(1.0*sum(c)), 6) AS ttr, " +
        "round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)/(1.0*sum(c)), 6) AS gt_unseen " +
        "FROM c")),
    // Flesch reading ease per document — exact integer counts in the
    // scan stage (no per-token explode), float only in the final formula
    QueryDef("q_readability", ((s, d) =>
      TextAnalysis.readability(Tables.documents(s, d))),
      // Flesch replay: [.!?]+ segments with a letter (floored at 1),
      // vowel-group runs per word (floored at 1), exact integer counts;
      // the formula's constants promote to DOUBLE (no DECIMAL folding
      // hazard: every product has a DOUBLE operand)
      () => (s"WITH t AS (SELECT doc_id, text, $TOKS AS toks FROM documents), " +
        "r AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_words, " +
        "CAST(greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'), " +
        "x -> regexp_matches(x, '\\p{L}')))) AS BIGINT) AS n_sents, " +
        "CAST(list_sum(list_transform(toks, w -> greatest(1, " +
        "len(regexp_extract_all(w, '[aeiouy]+'))))) AS BIGINT) AS n_syll " +
        "FROM t WHERE len(toks) > 0) " +
        "SELECT doc_id, n_words, n_sents, n_syll, " +
        "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents) - " +
        "84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch FROM r")),
    // distinct-1/distinct-2 diversity per source — the mode-collapse /
    // templated-spam audit for generated or scraped corpora
    QueryDef("q_diversity", ((s, d) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, d))),
      // distinct-n replay: unigrams + positional bigrams, per-source
      // distinct/total gram counts
      () => (s"WITH t AS (SELECT source, $TOKS AS toks FROM documents), " +
        "u1 AS (SELECT source, unnest(toks) AS gram FROM t), " +
        "g1 AS (SELECT source, gram, count(*) AS c FROM u1 GROUP BY 1, 2), " +
        "d1 AS (SELECT source, 1 AS n, CAST(count(*) AS BIGINT) AS distinct_grams, " +
        "CAST(sum(c) AS BIGINT) AS total_grams FROM g1 GROUP BY source), " +
        "u2 AS (SELECT source, unnest(list_transform(range(len(toks) - 1), " +
        "i -> toks[i+1] || ' ' || toks[i+2])) AS gram FROM t), " +
        "g2 AS (SELECT source, gram, count(*) AS c FROM u2 GROUP BY 1, 2), " +
        "d2 AS (SELECT source, 2 AS n, CAST(count(*) AS BIGINT) AS distinct_grams, " +
        "CAST(sum(c) AS BIGINT) AS total_grams FROM g2 GROUP BY source), " +
        "u AS (SELECT * FROM d1 UNION ALL SELECT * FROM d2) " +
        "SELECT source, n, distinct_grams, total_grams, " +
        "round(CAST(distinct_grams AS DOUBLE) / total_grams, 4) AS distinct_ratio " +
        "FROM u")),
    // PMI collocations: top-50 adjacent word pairs by pointwise mutual
    // information (count fence ≥ 5) — the multiword-unit miner; sort key
    // is the ROUNDED pmi in both engines
    QueryDef("q_pmi", ((s, d) =>
      TextAnalysis.pmiCollocations(Tables.documents(s, d))),
      // PMI replay: positional adjacent pairs, three dictionary counts,
      // one-row N; ln on exact integer ratios, top-50 on the rounded grid
      () => (s"WITH t AS (SELECT $TOKS AS toks FROM documents), " +
        "p AS (SELECT toks[i+1] AS x, toks[i+2] AS y FROM " +
        "(SELECT toks, unnest(range(len(toks) - 1)) AS i FROM t)), " +
        "px AS (SELECT x, count(*) AS c_x FROM p GROUP BY x), " +
        "py AS (SELECT y, count(*) AS c_y FROM p GROUP BY y), " +
        "pxy AS (SELECT x, y, count(*) AS c FROM p GROUP BY x, y), " +
        "n AS (SELECT CAST(sum(c) AS BIGINT) AS n_pairs FROM pxy) " +
        "SELECT x || ' ' || y AS bigram, CAST(c AS BIGINT) AS c, " +
        "round(ln(CAST(c AS DOUBLE) * n_pairs / (c_x * c_y)), 4) AS pmi " +
        "FROM pxy JOIN px USING (x) JOIN py USING (y), n " +
        "WHERE c >= 5 ORDER BY pmi DESC, bigram LIMIT 50")),
    // Zipf rank-frequency fit over the top-100 words — the one-scalar
    // "is this natural language" corpus-health check (natural ≈ −1)
    QueryDef("q_zipf", ((s, d) =>
      TextAnalysis.zipfFit(Tables.documents(s, d))),
      // Zipf replay: top-100 word head (freq DESC, word — deterministic at
      // the cutoff), least-squares on (ln rank, ln freq)
      () => (s"WITH t AS (SELECT $TOKS AS toks FROM documents), " +
        "wds AS (SELECT unnest(toks) AS word FROM t), " +
        "c AS (SELECT word, count(*) AS c FROM wds GROUP BY word " +
        "ORDER BY c DESC, word LIMIT 100), " +
        "r AS (SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, word) " +
        "AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM c), " +
        "s AS (SELECT CAST(count(*) AS BIGINT) AS n_words, sum(x) AS sx, " +
        "sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx FROM r) " +
        "SELECT n_words, " +
        "round((sxy - sx * sy / n_words) / (sxx - sx * sx / n_words), 4) AS slope, " +
        "round(sy / n_words - ((sxy - sx * sy / n_words) / " +
        "(sxx - sx * sx / n_words)) * sx / n_words, 4) AS intercept FROM s")),
    // ---- code/licensing provenance ----
    // SPDX tags + license-name patterns over deterministically injected
    // license texts (doc 0 is dual-licensed by construction)
    QueryDef("q_license_scan", ((s, d) =>
      TextAnalysis.licenseScan(Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 8 === 0,
            lit(" SPDX-License-Identifier: MIT")).otherwise(lit("")),
          when(col("doc_id") % 12 === 0,
            lit(" Licensed under the Apache License, Version 2.0"))
            .otherwise(lit("")),
          when(col("doc_id") % 15 === 0,
            lit(" under the GNU General Public License v3"))
            .otherwise(lit(""))).as("text")))),
      // license patterns interpolated from the Scala constants so the two
      // engines can never drift on a regex
      () => {
        val spdx = TextAnalysis.SPDX_RE
        val nameCases = TextAnalysis.LICENSE_NAMES.map { case (re, label) =>
          s"CASE WHEN regexp_matches(text, '$re') THEN '$label' END"
        }.mkString(", ")
        "WITH inj AS (SELECT doc_id, text || " +
          "CASE WHEN doc_id % 8 = 0 THEN ' SPDX-License-Identifier: MIT' ELSE '' END || " +
          "CASE WHEN doc_id % 12 = 0 THEN ' Licensed under the Apache License, Version 2.0' ELSE '' END || " +
          "CASE WHEN doc_id % 15 = 0 THEN ' under the GNU General Public License v3' ELSE '' END " +
          "AS text FROM documents), " +
          "lab AS (SELECT doc_id, unnest(list_filter([" +
          s"CASE WHEN regexp_matches(text, '$spdx') THEN 'spdx:' || " +
          s"regexp_extract(text, '$spdx', 1) END, $nameCases" +
          "], x -> x IS NOT NULL)) AS license FROM inj) " +
          "SELECT DISTINCT doc_id, license FROM lab"
      }),
    // code-vs-prose router signals over an injected code block (every
    // 9th doc) — statement/indent/comment line fractions, symbol mass,
    // keyword hits, integer-threshold is_code flag
    QueryDef("q_code_signals", ((s, d) =>
      TextAnalysis.codeSignals(Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 9 === 0, lit(CODE_BLOCK)).otherwise(lit("")))
          .as("text")))),
      // code-signals replay: same line classes, same symbol class (with
      // DuckDB's explicit 'g' flag — its regexp_replace is first-match by
      // default where Spark's is global), same integer thresholds
      () => {
        val block = "'" + CODE_BLOCK.replace("\n", "' || chr(10) || '") + "'"
        "WITH inj AS (SELECT doc_id, text || " +
          s"CASE WHEN doc_id % 9 = 0 THEN $block ELSE '' END AS text " +
          "FROM documents), " +
          "l AS (SELECT doc_id, text, " +
          "list_filter(string_split(text, chr(10)), x -> x <> '') AS ne FROM inj), " +
          "m AS (SELECT doc_id, len(ne) AS n, " +
          "len(list_filter(ne, x -> regexp_matches(x, '[;{}]$'))) AS stmt, " +
          "len(list_filter(ne, x -> regexp_matches(x, '^(  |\t)'))) AS ind, " +
          "len(list_filter(ne, x -> regexp_matches(x, '^[ \t]*(//|#|/\\*)'))) AS com, " +
          "length(text) - length(regexp_replace(text, '[{}()\\[\\];=<>]', '', 'g')) AS sym, " +
          "length(text) AS tl, " +
          "len(regexp_extract_all(text, '\\b(function|return|import|void|def)\\b')) AS kw " +
          "FROM l) " +
          "SELECT doc_id, CAST(n AS INT) AS n_lines, " +
          "CASE WHEN n > 0 THEN round(CAST(stmt AS DOUBLE) / n, 4) ELSE 0.0 END AS stmt_line_frac, " +
          "CASE WHEN n > 0 THEN round(CAST(ind AS DOUBLE) / n, 4) ELSE 0.0 END AS indent_frac, " +
          "CASE WHEN n > 0 THEN round(CAST(com AS DOUBLE) / n, 4) ELSE 0.0 END AS comment_frac, " +
          "CASE WHEN tl > 0 THEN round(CAST(sym AS DOUBLE) / tl, 4) ELSE 0.0 END AS sym_frac, " +
          "CAST(kw AS INT) AS kw_hits, " +
          "CAST((n > 0 AND stmt * 10 >= n * 3) OR (kw >= 2 AND sym * 40 >= tl) AS INT) AS is_code " +
          "FROM m"
      }),
  )
}
