package graft
package queries

/** Fixtures, constants and SQL fragments that queries of two or more
  * families share. A helper used by one family lives, private, in that
  * family's file.
  */
private[queries] object Shared {

  /** q_gopher_rep's injected 12-token phrase — doubled, every 5..10-gram
    * inside it duplicates and the top-2/3/4-gram mass concentrates.
    */
  val GOPHER_REP_PHRASE =
    "the quick brown fox jumps over the lazy dog again and again"

  /** DuckDB mirror of Core.tokensUni — the script-aware tokenizer every
    * LLM-pipeline oracle uses. RE2's `\p{L}`/`\p{Nd}` matches Java's.
    */
  val TOKS =
    "list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{Nd}]+'), x -> x <> '')"

  def fpSql(toksExpr: String): String =
    s"CASE WHEN len($toksExpr) > 0 THEN md5(array_to_string($toksExpr, ' ')) " +
      "ELSE 'raw:' || md5(text) END"

  /** DuckDB mirror of TextAnalysis.NON_ALNUM_RE (same literal — RE2 and
    * Java agree on these Unicode categories).
    */
  val NON_ALNUM_SQL = ops.TextAnalysis.NON_ALNUM_RE

  /** DuckDB mirror of Sampling.hashKey (salt ""): fixed-width 9-digit hex. */
  val HASHKEY =
    "'0' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)"

  /** DuckDB mirror of TextAnalysis.hashEmbedLong: the md5-prefix bucket +
    * sign-digit CTE chain, ending in `sv(doc_id, dim_idx, value)`. ONE
    * definition for q_hash_embed and q_semdedup_text, so the hashing
    * scheme cannot drift between the two oracles.
    */
  def hashEmbedCtes(dim: Int): String =
    s"t AS (SELECT doc_id, unnest($TOKS) AS tok FROM documents), " +
      "h AS (SELECT doc_id, md5(tok) AS hx FROM t), " +
      "hb AS (SELECT doc_id, " +
      s"CAST(CAST(('0x' || substring(hx, 1, 8)) AS UBIGINT) % $dim AS INT) AS dim_idx, " +
      "CASE WHEN CAST(('0x' || substring(hx, 9, 1)) AS UBIGINT) % 2 = 0 " +
      "THEN 1.0 ELSE -1.0 END AS sgn FROM h), " +
      "sv AS (SELECT doc_id, dim_idx, sum(sgn) AS value FROM hb " +
      "GROUP BY doc_id, dim_idx)"

  /** DuckDB replay of TextAnalysis.gopherRules — factored so the
    * q_gopher_gate and q_ingest_gate compositions reuse the identical
    * body; `src` is the (doc_id, text) relation to gate (an outer CTE
    * name works — DuckDB scopes inner WITH subqueries lexically).
    */
  def gopherRulesSql(src: String = "documents"): String =
    s"WITH w AS (SELECT doc_id, text, " +
      s"list_filter(string_split_regex(text, '${ops.TextAnalysis.WS_RUN_RE}'), x -> x <> '') AS ws, " +
      s"string_split(text, chr(10)) AS lines, $TOKS AS toks FROM $src), " +
      "c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
      "CAST(coalesce(list_sum(list_transform(ws, x -> length(x))), 0) AS BIGINT) AS sumlen, " +
      "CAST((length(text) - length(replace(text, '#', ''))) + " +
      "(length(text) - length(replace(text, '…', ''))) + " +
      "(length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT) AS nsym, " +
      "CAST(len(lines) AS BIGINT) AS nlines, " +
      "CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*•]'))) AS BIGINT) AS nbullet, " +
      "CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$'))) AS BIGINT) AS nell, " +
      "CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}'))) AS BIGINT) AS nalpha, " +
      "CAST(len(list_filter(['the','be','to','of','and','that','have','with'], " +
      "s -> list_contains(toks, s))) AS BIGINT) AS nstop FROM w), " +
      "r AS (SELECT doc_id, n_words, " +
      "CAST(n_words >= 50 AND n_words <= 100000 AS INT) AS r_word_count, " +
      "CAST(3 * n_words <= sumlen AND sumlen <= 10 * n_words AS INT) AS r_mean_word_len, " +
      "CAST(10 * nsym <= n_words AS INT) AS r_symbol_ratio, " +
      "CAST(10 * nbullet <= 9 * nlines AS INT) AS r_bullet_lines, " +
      "CAST(10 * nell <= 3 * nlines AS INT) AS r_ellipsis_lines, " +
      "CAST(5 * nalpha >= 4 * n_words AS INT) AS r_alpha_words, " +
      "CAST(nstop >= 2 AS INT) AS r_stopwords FROM c) " +
      "SELECT *, CAST(r_word_count * r_mean_word_len * r_symbol_ratio * " +
      "r_bullet_lines * r_ellipsis_lines * r_alpha_words * r_stopwords AS INT) AS pass " +
      "FROM r"

  /** DuckDB replay of TextAnalysis.gopherRepetition (with or without
    * the q_gopher_rep injected fixture): per-(doc, unit) counts via
    * unnest+GROUP BY instead of the engine's sorted-run arrays — same
    * integers, same rounded fractions, same cross-multiplied flags.
    * Threshold rationals interpolate TextAnalysis.GOPHER_TOP/GOPHER_DUP
    * — the one definition both sides share.
    */
  def gopherRepSql(inject: Boolean = true,
      src: String = "documents"): String = {
    val top = ops.TextAnalysis.GOPHER_TOP
    val dup = ops.TextAnalysis.GOPHER_DUP
    val inj = if (!inject) s"inj AS (SELECT doc_id, text FROM $src)"
    else "inj AS (SELECT doc_id, text || " +
      "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe now' || " +
      "chr(10) || 'subscribe now' || chr(10) || 'subscribe now' " +
      "ELSE '' END || " +
      s"CASE WHEN doc_id % 5 = 0 THEN ' $GOPHER_REP_PHRASE " +
      s"$GOPHER_REP_PHRASE' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN chr(10) || chr(10) || " +
      "'promo paragraph block' || chr(10) || chr(10) || " +
      "'promo paragraph block' ELSE '' END AS text FROM documents)"
    val base = s"base AS (SELECT doc_id, $TOKS AS toks, " +
      "list_filter(list_transform(string_split_regex(text, '\\r?\\n'), " +
      "x -> trim(x)), x -> x <> '') AS lines, " +
      "list_filter(list_transform(string_split_regex(text, " +
      "'(\\r?\\n){2,}'), x -> trim(x)), x -> x <> '') AS paras FROM inj)"
    def unitStats(cte: String, src: String) =
      s"$cte AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, " +
        "CAST(count(*) AS BIGINT) AS d, " +
        "CAST(sum(c * len) AS BIGINT) AS ch, " +
        "CAST(sum((c - 1) * len) AS BIGINT) AS dch FROM " +
        "(SELECT doc_id, v, count(*) AS c, length(v) AS len FROM " +
        s"(SELECT doc_id, unnest($src) AS v FROM base) u " +
        "GROUP BY doc_id, v) r GROUP BY doc_id)"
    val dt = "dt AS (SELECT doc_id, CAST(coalesce(list_sum(" +
      "list_transform(toks, x -> length(x))), 0) AS BIGINT) AS dtok " +
      "FROM base)"
    // positional grams per n; counts derive from them. Top family:
    // occurrences × gram char mass of the max-count gram (longest on
    // ties). Dup family: char mass of the DISTINCT token positions
    // covered by any duplicated occurrence — chars counted once.
    val gramCtes = (top ++ dup).map { case (n, _) =>
      s"gp$n AS (SELECT doc_id, unnest(range(len(toks) - ${n - 1})) " +
        s"AS i, toks FROM base WHERE len(toks) >= $n), " +
        s"g$n AS (SELECT doc_id, i, " +
        s"array_to_string(toks[(i+1):(i+$n)], ' ') AS g FROM gp$n), " +
        s"c$n AS (SELECT doc_id, g, count(*) AS c, " +
        s"length(g) - ${n - 1} AS len FROM g$n GROUP BY doc_id, g)"
    }
    val topCtes = top.map { case (n, _) =>
      s"t$n AS (SELECT doc_id, max(c) AS mx FROM c$n GROUP BY doc_id), " +
        s"top$n AS (SELECT g.doc_id, CAST(t.mx AS BIGINT) * " +
        s"CAST(max(g.len) AS BIGINT) AS topc FROM c$n g JOIN t$n t " +
        "ON t.doc_id = g.doc_id AND g.c = t.mx GROUP BY g.doc_id, t.mx)"
    }
    val dupCtes = dup.map { case (n, _) =>
      s"cov$n AS (SELECT DISTINCT g.doc_id, g.i + o.o AS p FROM g$n g " +
        s"JOIN c$n c ON c.doc_id = g.doc_id AND c.g = g.g AND c.c >= 2 " +
        s"CROSS JOIN (SELECT unnest(range($n)) AS o) o), " +
        s"d$n AS (SELECT c.doc_id, CAST(sum(length(" +
        s"b.toks[CAST(c.p + 1 AS INT)])) AS BIGINT) AS dch " +
        s"FROM cov$n c JOIN base b ON b.doc_id = c.doc_id " +
        "GROUP BY c.doc_id)"
    }
    def fr(x: String, d: String) =
      s"round($x / CAST(greatest($d, 1) AS DOUBLE), 4)"
    def fl(p: Int, q: Int, x: String, d: String) =
      s"CAST($q * $x <= $p * $d AS INT)"
    val lineCols =
      fr("coalesce(ls.n - ls.d, 0)", "coalesce(ls.n, 0)") +
        " AS dup_line_frac, " +
        fr("coalesce(ls.dch, 0)", "coalesce(ls.ch, 0)") +
        " AS dup_line_char_frac, " +
        fr("coalesce(ps.n - ps.d, 0)", "coalesce(ps.n, 0)") +
        " AS dup_para_frac, " +
        fr("coalesce(ps.dch, 0)", "coalesce(ps.ch, 0)") +
        " AS dup_para_char_frac"
    val gramCols = (top.map { case (n, _) =>
      fr(s"coalesce(top$n.topc, 0)", "dt.dtok") +
        s" AS top_${n}gram_char_frac"
    } ++ dup.map { case (n, _) =>
      fr(s"coalesce(d$n.dch, 0)", "dt.dtok") +
        s" AS dup_${n}gram_char_frac"
    }).mkString(", ")
    val flagCols =
      (Seq(
        fl(3, 10, "coalesce(ls.n - ls.d, 0)", "coalesce(ls.n, 0)") +
          " AS r_dup_line",
        fl(1, 5, "coalesce(ls.dch, 0)", "coalesce(ls.ch, 0)") +
          " AS r_dup_line_char",
        fl(3, 10, "coalesce(ps.n - ps.d, 0)", "coalesce(ps.n, 0)") +
          " AS r_dup_para",
        fl(1, 5, "coalesce(ps.dch, 0)", "coalesce(ps.ch, 0)") +
          " AS r_dup_para_char") ++
        top.map { case (n, (p, q)) =>
          fl(p, q, s"coalesce(top$n.topc, 0)", "dt.dtok") +
            s" AS r_top_${n}gram" } ++
        dup.map { case (n, (p, q)) =>
          fl(p, q, s"coalesce(d$n.dch, 0)", "dt.dtok") +
            s" AS r_dup_${n}gram" }).mkString(", ")
    val joins = "FROM base b JOIN dt ON dt.doc_id = b.doc_id " +
      "LEFT JOIN ls ON ls.doc_id = b.doc_id " +
      "LEFT JOIN ps ON ps.doc_id = b.doc_id " +
      (top.map(t => s"LEFT JOIN top${t._1} ON top${t._1}.doc_id = b.doc_id") ++
        dup.map(t => s"LEFT JOIN d${t._1} ON d${t._1}.doc_id = b.doc_id"))
        .mkString(" ", " ", "")
    val passExpr = (Seq("r_dup_line", "r_dup_line_char", "r_dup_para",
      "r_dup_para_char") ++ top.map(t => s"r_top_${t._1}gram") ++
      dup.map(t => s"r_dup_${t._1}gram")).mkString(" * ")
    s"WITH $inj, $base, ${unitStats("ls", "lines")}, " +
      s"${unitStats("ps", "paras")}, $dt, " +
      gramCtes.mkString(", ") + ", " + topCtes.mkString(", ") + ", " +
      dupCtes.mkString(", ") + " " +
      s"SELECT * , CAST($passExpr AS INT) AS pass FROM (" +
      s"SELECT b.doc_id, $lineCols, $gramCols, $flagCols $joins) r"
  }

  /** Shared per-class P/R/F1 SQL tail over a `conf(<aCol>, <pCol>, n)`
    * CTE — ONE definition for the q_nb_prf and q_dedup_eval replays
    * (the classifierReport algebra: F1 from the UNROUNDED ratios, NULL
    * on empty denominators, full-outer on label).
    */
  def prfTailSql(aCol: String, pCol: String): String =
    s"bt AS (SELECT $aCol AS label, CAST(sum(n) AS BIGINT) AS n_true, " +
      s"CAST(coalesce(sum(CASE WHEN $pCol = $aCol THEN n END), 0) AS BIGINT) " +
      "AS tp FROM conf GROUP BY 1), " +
      s"bp AS (SELECT $pCol AS label, CAST(sum(n) AS BIGINT) AS n_pred " +
      "FROM conf GROUP BY 1), " +
      "jj AS (SELECT coalesce(bt.label, bp.label) AS label, " +
      "coalesce(tp, 0) AS tp, coalesce(n_true, 0) AS n_true, " +
      "coalesce(n_pred, 0) AS n_pred " +
      "FROM bt FULL OUTER JOIN bp ON bt.label = bp.label) " +
      "SELECT label, tp, n_true, n_pred, " +
      "CASE WHEN n_pred > 0 THEN round(tp / CAST(n_pred AS DOUBLE), 4) " +
      "END AS prec, " +
      "CASE WHEN n_true > 0 THEN round(tp / CAST(n_true AS DOUBLE), 4) " +
      "END AS rec, " +
      "CASE WHEN n_pred > 0 AND n_true > 0 AND " +
      "(tp / CAST(n_pred AS DOUBLE) + tp / CAST(n_true AS DOUBLE)) > 0 " +
      "THEN round(2 * (tp / CAST(n_pred AS DOUBLE)) * " +
      "(tp / CAST(n_true AS DOUBLE)) / (tp / CAST(n_pred AS DOUBLE) + " +
      "tp / CAST(n_true AS DOUBLE)), 4) END AS f1 FROM jj"

  /** SQL string literal with quotes doubled. */
  def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** The [[hashEmbedCtes]] chain densified over a range(dim) grid and
    * argmax-blocked — DuckDB mirror of
    * `Similarity.argmaxBlocked(TextAnalysis.hashEmbed(…))`, ending in
    * `b(vec_id, v, block)` over non-zero-norm vectors. ONE definition
    * feeding the q_semdedup_text / q_semdedup_incr / q_block_report
    * oracles, so blocking semantics cannot drift between them.
    */
  def argmaxBlockedCtes(dim: Int): String =
    s"${hashEmbedCtes(dim)}, " +
      "ids AS (SELECT DISTINCT doc_id FROM sv), " +
      s"grid AS (SELECT ids.doc_id, r.range AS i FROM ids, range($dim) r), " +
      "dv AS (SELECT g.doc_id, g.i, coalesce(sv.value, 0.0) AS v FROM grid g " +
      "LEFT JOIN sv ON sv.doc_id = g.doc_id AND sv.dim_idx = g.i), " +
      "e AS (SELECT doc_id AS vec_id, v, list_transform(v, x -> abs(x)) AS a " +
      "FROM (SELECT doc_id, list(v ORDER BY i) AS v FROM dv GROUP BY doc_id)), " +
      "b AS (SELECT vec_id, v, " +
      "CAST(list_position(a, list_max(a)) AS BIGINT) AS block " +
      "FROM e WHERE sqrt(list_dot_product(v, v)) > 0)"

  /** The full text-SemDeDup decision replay over [[argmaxBlockedCtes]],
    * with an optional trailing row filter (the incremental oracle is the
    * batch decision restricted to the increment's rows).
    */
  def semdedupTextSql(rowFilter: String): String =
    s"WITH ${argmaxBlockedCtes(64)}, " +
      "p AS (SELECT a.vec_id AS a_id, " +
      "round(list_cosine_similarity(a.v, b2.v), 4) AS c " +
      "FROM b a JOIN b b2 ON a.block = b2.block AND b2.vec_id < a.vec_id), " +
      "m AS (SELECT a_id, max(c) AS mx FROM p GROUP BY a_id) " +
      "SELECT b.vec_id, b.block, m.mx AS max_lower_cos, " +
      "CAST(CASE WHEN coalesce(m.mx, -2) >= 0.9 THEN 1 ELSE 0 END AS INT) AS is_dup " +
      s"FROM b LEFT JOIN m ON b.vec_id = m.a_id$rowFilter"

  /** Language-scoring SQL GENERATED from [[ops.TextAnalysis.LANG_PROFILES]]
    * — the same char-n-gram constant the Spark side scores with, so the
    * profiles and tie-break order cannot drift between engine and oracle.
    * Occurrence counting is the identical replace-length arithmetic over
    * the padded lowercased text (`pad` must be in scope); `//` is DuckDB's
    * integer division (the char-diff is always a multiple of the gram
    * length, matching the Spark side's lossless int cast).
    */
  val LANG_SCORE_COLS = ops.TextAnalysis.LANG_PROFILES.map { case (l, gs) =>
    gs.map { g =>
      val e = g.replace("'", "''")
      s"(length(pad) - length(replace(pad, '$e', ''))) // ${g.length}"
    }.mkString("(", " + ", s") AS score_$l")
  }.mkString(", ")

  val LANG_PRED_CASE = {
    val g = s"greatest(${ops.TextAnalysis.LANG_PROFILES.map("score_" + _._1).mkString(", ")})"
    s"CASE WHEN $g <= 0 THEN 'und' " +
      ops.TextAnalysis.LANG_PROFILES.map { case (l, _) =>
        s"WHEN score_$l = $g THEN '$l' "
      }.mkString + "ELSE 'und' END"
  }

  /** DuckDB mirror of TextAnalysis.langPad — the scoring surface. */
  val LANG_PAD = "' ' || lower(text) || ' '"

  /** Shared CTE chain producing the sorted-neighborhood pair table `j` —
    * used by q_sorted_dedup, (as the edge source, under WITH RECURSIVE)
    * q_dedup_clusters, and — parameterized over its source relation —
    * q_clean_corpus_v3 (pairs over the exact-dedup survivors).
    */
  def sortedCtes(src: String): String =
    (s"k AS (SELECT doc_id, list_distinct(toks) AS tset, " +
      "array_to_string(toks[1:3], ' ') AS blk, array_to_string(toks[1:2], ' ') AS blk_pfx " +
      s"FROM (SELECT doc_id, $TOKS AS toks FROM $src)), " +
      "p AS (SELECT doc_id, tset, lag(doc_id) OVER w AS prev_id, lag(tset) OVER w AS prev_tset " +
      "FROM k WINDOW w AS (PARTITION BY blk_pfx ORDER BY blk, doc_id)), " +
      "j AS (SELECT least(prev_id, doc_id) AS a_id, greatest(prev_id, doc_id) AS b_id, " +
      "round(CAST(len(list_intersect(tset, prev_tset)) AS DOUBLE) / " +
      "greatest(len(list_distinct(tset || prev_tset)), 1), 4) AS jaccard " +
      "FROM p WHERE prev_id IS NOT NULL)")

  /** Scrub CTE chain with suffixed names (`x` below) so it composes into
    * larger oracles (the v7 recipe) without CTE-name collisions.
    */
  def substringScrubCtes(x: String = ""): String =
    // t$x is MATERIALIZED: gi$x, ti$x, and the caller's `scrubbed` all
    // reference it — unmaterialized, the tokenizer scan re-ran per
    // reference (the q_clean_corpus_v7 302 s replay)
    s"t$x AS MATERIALIZED (SELECT doc_id, $TOKS AS toks FROM documents), " +
      s"gi$x AS (SELECT doc_id, toks, unnest(range(len(toks) - 7)) AS i " +
      s"FROM t$x WHERE len(toks) >= 8), " +
      s"g$x AS (SELECT doc_id, CAST(i AS INT) AS pos, " +
      s"substring(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 16) AS h FROM gi$x), " +
      s"d$x AS (SELECT doc_id, pos FROM (SELECT doc_id, pos, " +
      s"row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM g$x) " +
      "WHERE rn > 1), " +
      s"b$x AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER w$x IS NULL " +
      s"OR pos > lag(pos) OVER w$x + 8 THEN 1 ELSE 0 END AS brk FROM d$x " +
      s"WINDOW w$x AS (PARTITION BY doc_id ORDER BY pos)), " +
      s"gr$x AS (SELECT doc_id, pos, sum(brk) OVER " +
      s"(PARTITION BY doc_id ORDER BY pos) AS grp FROM b$x), " +
      s"sp$x AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e " +
      s"FROM gr$x GROUP BY doc_id, grp), " +
      s"ti$x AS (SELECT doc_id, toks, unnest(range(len(toks))) AS i FROM t$x), " +
      s"kept$x AS (SELECT ti$x.doc_id, CAST(ti$x.i AS INT) AS i, toks[i+1] AS tok " +
      s"FROM ti$x WHERE NOT EXISTS (SELECT 1 FROM sp$x " +
      s"WHERE sp$x.doc_id = ti$x.doc_id AND ti$x.i BETWEEN sp$x.s AND sp$x.e)), " +
      s"ag$x AS (SELECT doc_id, CAST(count(*) AS INT) AS n_kept, " +
      s"string_agg(tok, ' ' ORDER BY i) AS text FROM kept$x GROUP BY doc_id)"
}
