package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops._

/** Queries over `ops.Preference`. */
object PreferenceQueries {

  /** Deterministic synthetic judge votes for q_bt_ratings: 32
    * strength-ranked arms (lower id = stronger), one game per document,
    * pairing and outcome keyed on doc_id residues (stronger arm wins
    * when (doc_id·13) mod 7 < 4 — a 4/7 upset-prone judge), so the
    * oracle rebuilds the exact game list with integer arithmetic.
    */
  private def btGames(docs: DataFrame): DataFrame = {
    val a = col("doc_id") % 32
    val b = (col("doc_id") * 3 + 1) % 32
    val strongWins = (col("doc_id") * 13) % 7 < 4
    docs.select(col("doc_id"), a.as("a"), b.as("b"), strongWins.as("sw"))
      .where(col("a") =!= col("b"))
      .select(
        when(col("sw"), least(col("a"), col("b")))
          .otherwise(greatest(col("a"), col("b"))).as("winner"),
        when(col("sw"), greatest(col("a"), col("b")))
          .otherwise(least(col("a"), col("b"))).as("loser"))
  }

  /** DuckDB mirror of [[graft.ops.Preference.btRatings]] over the
    * [[btGames]] synthesis: the MM update unrolled one CTE trio
    * (denominator / raw update / renormalized rating) per iteration —
    * the pageRank convention — with btRatings' own q6 per-step rounding,
    * which is what keeps cross-engine float-sum order differences from
    * compounding across iterations.
    */
  private def btRatingsSql(iterations: Int): String = {
    val head =
      "WITH g AS (SELECT doc_id % 32 AS a, (doc_id * 3 + 1) % 32 AS b, " +
        "CASE WHEN (doc_id * 13) % 7 < 4 THEN 1 ELSE 0 END AS sw " +
        "FROM documents WHERE doc_id % 32 <> (doc_id * 3 + 1) % 32), " +
        "p AS (SELECT CASE WHEN sw = 1 THEN least(a, b) ELSE greatest(a, b) END AS w, " +
        "CASE WHEN sw = 1 THEN greatest(a, b) ELSE least(a, b) END AS l FROM g), " +
        "dir AS (SELECT w, l, count(*) AS n FROM p GROUP BY w, l), " +
        "e AS (SELECT i, j, CAST(sum(n) AS BIGINT) AS n FROM " +
        "(SELECT w AS i, l AS j, n FROM dir UNION ALL SELECT l AS i, w AS j, n FROM dir) " +
        "GROUP BY i, j), " +
        "wn AS (SELECT w AS item, CAST(sum(n) AS BIGINT) AS wins FROM dir GROUP BY w), " +
        "items AS (SELECT i AS item, CAST(sum(n) AS BIGINT) AS games FROM e GROUP BY i), " +
        "r0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS r FROM items)"
    val body = (1 to iterations).map { k =>
      s", d$k AS (SELECT e.i AS item, sum(e.n / (ri.r + rj.r)) AS den FROM e " +
        s"JOIN r${k - 1} ri ON ri.item = e.i JOIN r${k - 1} rj ON rj.item = e.j " +
        "GROUP BY e.i), " +
        s"u$k AS (SELECT it.item, CAST(coalesce(wn.wins, 0) AS DOUBLE) / d$k.den AS u " +
        s"FROM items it LEFT JOIN wn ON wn.item = it.item JOIN d$k ON d$k.item = it.item), " +
        s"r$k AS (SELECT item, greatest(round(u / (SELECT avg(u) FROM u$k), 6), 1e-6) AS r FROM u$k)"
    }.mkString
    head + body +
      s" SELECT it.item, r$iterations.r AS rating, " +
      "CAST(coalesce(wn.wins, 0) AS BIGINT) AS wins, it.games " +
      "FROM items it LEFT JOIN wn ON wn.item = it.item " +
      s"JOIN r$iterations ON r$iterations.item = it.item"
  }

  val all: Seq[QueryDef] = Seq(
    // Fleiss' kappa over a deterministic 3-judge panel (label_j =
    // ((doc_id mod (j+2)) + (doc_id mod 3)) mod 3 — integer residues
    // the oracle rebuilds exactly; measures κ ≈ 0.086, a realistic
    // mildly-agreeing panel): the acceptance gate on an LLM-judge
    // ensemble before its majority votes become labels
    QueryDef("q_fleiss", ((s, d) => {
      val votes = Tables.documents(s, d).select(col("doc_id"),
        explode(array((0 until 3).map(j =>
          (((col("doc_id") % (j + 2)) + (col("doc_id") % 3)) % 3)
            .cast("int")): _*)).as("label"))
      Preference.fleissKappa(votes, "doc_id", "label")
    }),
      // Fleiss' kappa: votes rebuilt from the doc_id residues, the exact
      // Fleiss algebra over (item, label) counts — every term an
      // integer-derived rational, kappa from the UNROUNDED pbar/pe
      () => ("WITH votes AS (SELECT doc_id, CAST(((doc_id % (j+2)) + (doc_id % 3)) % 3 AS INT) AS label " +
        "FROM documents, range(0,3) r(j)), " +
        "cell AS (SELECT doc_id AS i, label AS jl, count(*) AS nij FROM votes GROUP BY 1, 2), " +
        "item AS (SELECT i, sum(nij) AS n, sum(nij*nij) AS sq FROM cell GROUP BY i), " +
        "tot AS (SELECT count(*) AS ni, any_value(n) AS n, sum(sq) AS ssq FROM item), " +
        // P̄ and P̄_e as single divisions of exact integer sums — the
        // fleissKappa arithmetic verbatim
        "pb AS (SELECT (tot.ssq - tot.ni*tot.n)/(1.0*tot.ni*tot.n*(tot.n-1)) AS pbar FROM tot), " +
        "pe AS (SELECT sum(cj*cj)/((tot.ni*tot.n)*1.0*(tot.ni*tot.n)) AS pe FROM " +
        "(SELECT jl, sum(nij) AS cj FROM cell GROUP BY jl), tot GROUP BY tot.ni, tot.n) " +
        "SELECT CAST(tot.ni AS BIGINT) AS n_items, CAST(tot.n AS BIGINT) AS n_raters, " +
        "round(pb.pbar, 6) AS p_bar, round(pe.pe, 6) AS p_e, " +
        "CASE WHEN pe.pe < 1 THEN round((pb.pbar - pe.pe)/(1 - pe.pe), 6) END AS kappa " +
        "FROM tot, pb, pe")),
    // Krippendorff's alpha over a RAGGED panel — the q_fleiss judges
    // with realistic raggedness (judge 1 times out on every 5th doc,
    // judge 2 on every 7th, a 4th judge joins on every 4th; docs at
    // the 5·7 residue drop to ONE vote and are excluded as unpairable)
    // — the agreement statistic fleissKappa refuses raggedness for.
    // Missing votes are nulls; krippAlpha's null-exclusion builds the
    // ragged panel from them
    QueryDef("q_kripp", ((s, d) => {
      def lbl(j: Int) =
        (((col("doc_id") % (j + 2)) + (col("doc_id") % 3)) % 3).cast("int")
      val votes = Tables.documents(s, d).select(col("doc_id"),
        explode(array(
          lbl(0),
          when(col("doc_id") % 5 =!= 0, lbl(1)),
          when(col("doc_id") % 7 =!= 0, lbl(2)),
          when(col("doc_id") % 4 === 0, lbl(3)))).as("label"))
      Preference.krippAlpha(votes, "doc_id", "label")
    }),
      // Krippendorff alpha on the ragged q_kripp panel: coincidence-form
      // integer sums, one division per distinct rater count m (items
      // grouped by m share the (m-1) denominator — the krippAlpha
      // arithmetic verbatim), single-vote items excluded from EVERY total
      () => ("WITH votes AS (SELECT doc_id, ((doc_id % (j+2)) + (doc_id % 3)) % 3 AS label " +
        "FROM documents, range(0,4) r(j) " +
        "WHERE j = 0 OR (j = 1 AND doc_id % 5 <> 0) " +
        "OR (j = 2 AND doc_id % 7 <> 0) OR (j = 3 AND doc_id % 4 = 0)), " +
        "cell AS (SELECT doc_id AS i, label, count(*) AS nij FROM votes GROUP BY 1, 2), " +
        "item AS (SELECT i, sum(nij) AS m, sum(1.0*nij*nij) AS sq " +
        "FROM cell GROUP BY i HAVING sum(nij) >= 2), " +
        "tot AS (SELECT count(*) AS ni, coalesce(sum(m), 0) AS n FROM item), " +
        "dm AS (SELECT m, sum(1.0*m*m - sq) AS num FROM item GROUP BY m), " +
        "dd AS (SELECT coalesce(sum(num/(m - 1.0)), 0) AS d_o FROM dm), " +
        "marg AS (SELECT count(*) AS nl, coalesce(sum(1.0*c*c), 0) AS sc2 FROM " +
        "(SELECT cell.label, sum(cell.nij) AS c FROM cell JOIN item ON cell.i = item.i " +
        "GROUP BY cell.label)), " +
        "de AS (SELECT CASE WHEN tot.n > 1 THEN (1.0*tot.n*tot.n - marg.sc2)/(tot.n - 1.0) " +
        "ELSE 0.0 END AS d_e FROM tot, marg) " +
        "SELECT CAST(tot.ni AS BIGINT) AS n_items, CAST(tot.n AS BIGINT) AS n_pairable, " +
        "CAST(marg.nl AS BIGINT) AS n_labels, round(dd.d_o, 6) AS d_o, " +
        "round(de.d_e, 6) AS d_e, " +
        "CASE WHEN de.d_e > 0 THEN round(1.0 - dd.d_o/de.d_e, 6) END AS alpha " +
        "FROM tot, marg, dd, de")),
    // interval-metric Krippendorff over the same ragged panel shape,
    // judges emitting NUMERIC scores ((doc_id mod (j+3)) + (doc_id
    // mod 5) — integer-grid, so the sufficient-statistic sums are
    // exact): squared-difference disagreement, the scalar-score
    // agreement gate beside q_kripp's categorical one
    QueryDef("q_kripp_interval", ((s, d) => {
      def sc(j: Int) =
        ((col("doc_id") % (j + 3)) + (col("doc_id") % 5)).cast("double")
      val votes = Tables.documents(s, d).select(col("doc_id"),
        explode(array(
          sc(0),
          when(col("doc_id") % 5 =!= 0, sc(1)),
          when(col("doc_id") % 7 =!= 0, sc(2)),
          when(col("doc_id") % 4 === 0, sc(3)))).as("score"))
      Preference.krippAlphaInterval(votes, "doc_id", "score")
    }),
      // interval Krippendorff: the pairwise squared differences collapse
      // to per-item (m, Σv, Σv²) sufficient statistics — the krippAlpha
      // per-distinct-m division discipline on top
      () => ("WITH votes AS (SELECT doc_id, CAST((doc_id % (j+3)) + (doc_id % 5) AS DOUBLE) AS v " +
        "FROM documents, range(0,4) r(j) " +
        "WHERE j = 0 OR (j = 1 AND doc_id % 5 <> 0) " +
        "OR (j = 2 AND doc_id % 7 <> 0) OR (j = 3 AND doc_id % 4 = 0)), " +
        "item AS (SELECT doc_id AS i, count(*) AS m, sum(v) AS s1, " +
        "sum(v*v) AS s2 FROM votes GROUP BY doc_id HAVING count(*) >= 2), " +
        "tot AS (SELECT count(*) AS ni, coalesce(sum(m), 0) AS n, " +
        "coalesce(sum(s1), 0) AS t1, coalesce(sum(s2), 0) AS t2 FROM item), " +
        "dm AS (SELECT m, sum(2.0*(m*s2 - s1*s1)) AS num FROM item GROUP BY m), " +
        "dd AS (SELECT coalesce(sum(num/(m - 1.0)), 0) AS d_o FROM dm), " +
        "de AS (SELECT CASE WHEN tot.n > 1 THEN " +
        "2.0*(tot.n*tot.t2 - tot.t1*tot.t1)/(tot.n - 1.0) ELSE 0.0 END AS d_e FROM tot) " +
        "SELECT CAST(tot.ni AS BIGINT) AS n_items, CAST(tot.n AS BIGINT) AS n_pairable, " +
        "round(dd.d_o, 6) AS d_o, round(de.d_e, 6) AS d_e, " +
        "CASE WHEN de.d_e > 0 THEN round(1.0 - dd.d_o/de.d_e, 6) END AS alpha " +
        "FROM tot, dd, de")),
    // ordinal-metric Krippendorff — ragged Likert grades ((doc_id mod
    // (j+2)) + (doc_id mod 4), a bounded ranked scale): disagreement
    // weighted by squared between-rank marginal mass, the judge-grade
    // agreement gate between q_kripp's categorical and
    // q_kripp_interval's numeric readings
    QueryDef("q_kripp_ordinal", ((s, d) => {
      def gr(j: Int) =
        ((col("doc_id") % (j + 2)) + (col("doc_id") % 4)).cast("double")
      val votes = Tables.documents(s, d).select(col("doc_id"),
        explode(array(
          gr(0),
          when(col("doc_id") % 5 =!= 0, gr(1)),
          when(col("doc_id") % 7 =!= 0, gr(2)),
          when(col("doc_id") % 4 === 0, gr(3)))).as("grade"))
      Preference.krippAlphaOrdinal(votes, "doc_id", "grade")
    }),
      // ordinal Krippendorff: delta as exact half-integers off the
      // cumulative pairable marginals, quarter-integer products, the
      // per-distinct-m division discipline
      () => ("WITH votes AS (SELECT doc_id, CAST((doc_id % (j+2)) + (doc_id % 4) AS DOUBLE) AS v " +
        "FROM documents, range(0,4) r(j) " +
        "WHERE j = 0 OR (j = 1 AND doc_id % 5 <> 0) " +
        "OR (j = 2 AND doc_id % 7 <> 0) OR (j = 3 AND doc_id % 4 = 0)), " +
        "cell AS (SELECT doc_id AS i, v, count(*) AS nij FROM votes GROUP BY 1, 2), " +
        "item AS (SELECT i, sum(nij) AS m FROM cell GROUP BY i HAVING sum(nij) >= 2), " +
        "marg AS (SELECT v, sum(nij) AS c FROM cell JOIN item USING (i) GROUP BY v), " +
        "cum AS (SELECT v, c, sum(c) OVER (ORDER BY v ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM marg), " +
        "tot AS (SELECT count(*) AS nl, coalesce(sum(c), 0) AS n FROM marg), " +
        "dta AS (SELECT a.v AS va, b.v AS vb, " +
        "CASE WHEN a.v <= b.v THEN (b.cum - a.cum + a.c) - (a.c + b.c)/2.0 " +
        "ELSE (a.cum - b.cum + b.c) - (b.c + a.c)/2.0 END AS delta " +
        "FROM cum a, cum b WHERE a.v <> b.v), " +
        "d2q AS (SELECT va, vb, delta*delta AS d2 FROM dta), " +
        "de AS (SELECT CASE WHEN tot.n > 1 THEN " +
        "coalesce(sum(ma.c * mb.c * q.d2), 0)/(tot.n - 1.0) ELSE 0.0 END AS d_e " +
        "FROM d2q q JOIN marg ma ON ma.v = q.va JOIN marg mb ON mb.v = q.vb, tot " +
        "GROUP BY tot.n), " +
        "nm AS (SELECT it.m AS m, sum(ca.nij * cb.nij * q.d2) AS num " +
        "FROM cell ca JOIN cell cb ON ca.i = cb.i AND ca.v <> cb.v " +
        "JOIN d2q q ON q.va = ca.v AND q.vb = cb.v " +
        "JOIN item it ON it.i = ca.i GROUP BY it.m), " +
        "dd AS (SELECT coalesce(sum(num/(m - 1.0)), 0) AS d_o FROM nm) " +
        "SELECT CAST((SELECT count(*) FROM item) AS BIGINT) AS n_items, " +
        "CAST(tot.n AS BIGINT) AS n_pairable, CAST(tot.nl AS BIGINT) AS n_labels, " +
        "round(dd.d_o, 6) AS d_o, round(de.d_e, 6) AS d_e, " +
        "CASE WHEN de.d_e > 0 THEN round(1.0 - dd.d_o/de.d_e, 6) END AS alpha " +
        "FROM tot, dd, de")),
    // Bradley-Terry strengths over the synthetic judge votes (32
    // strength-ranked arms, one game per doc, stronger arm wins 4/7 of
    // the time — all integer arithmetic, so the oracle rebuilds the
    // same games); 3 MM iterations, q6-rounded per step
    QueryDef("q_bt_ratings", ((s, d) =>
      Preference.btRatings(btGames(Tables.documents(s, d)),
        iterations = 3)),
      // Bradley-Terry MM unrolled per-iteration (the pagerank convention);
      // the incremental form's contract is exactly "equals the full
      // rebuild", so its oracle IS the same replay
      () => btRatingsSql(3)),
    // the arena table over the same synthetic games: per unordered
    // pair, wins/games/rate + Wilson 95% interval (small-n honest —
    // exact integer counts, IEEE sqrt replays bit-for-bit)
    QueryDef("q_win_matrix", ((s, d) =>
      Preference.winMatrix(btGames(Tables.documents(s, d)))),
      // arena win matrix: the btRatingsSql game CTEs rolled to unordered
      // pairs; Wilson bounds with z^2 emitted as the exact double literal
      () => {
        val z = 1.96
        val z2 = java.lang.Double.toString(z * z)
        "WITH g AS (SELECT doc_id % 32 AS a, (doc_id * 3 + 1) % 32 AS b, " +
          "CASE WHEN (doc_id * 13) % 7 < 4 THEN 1 ELSE 0 END AS sw " +
          "FROM documents WHERE doc_id % 32 <> (doc_id * 3 + 1) % 32), " +
          "p AS (SELECT CASE WHEN sw = 1 THEN least(a, b) ELSE greatest(a, b) END AS w, " +
          "CASE WHEN sw = 1 THEN greatest(a, b) ELSE least(a, b) END AS l FROM g), " +
          "dir AS (SELECT w, l, count(*) AS n FROM p GROUP BY w, l), " +
          "und AS (SELECT least(w, l) AS a, greatest(w, l) AS b, " +
          "CAST(sum(CASE WHEN w < l THEN n ELSE 0 END) AS BIGINT) AS wins_a, " +
          "CAST(sum(n) AS BIGINT) AS games FROM dir GROUP BY 1, 2), " +
          "e AS (SELECT a, b, games, wins_a, CAST(games AS DOUBLE) AS nd, " +
          "wins_a/(1.0*games) AS pd FROM und) " +
          "SELECT a, b, games, wins_a, round(pd, 6) AS rate_a, " +
          s"round((pd + $z2/(nd*2) - $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS lo95, " +
          s"round((pd + $z2/(nd*2) + $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS hi95 FROM e"
      }),
    // judge position-bias audit over the PRESENTED game log: the first
    // slot is keyed on WINNER parity (winner % 2 = 0 puts the winner
    // first), so rate_first measures P(winner is even) — a synthetic
    // judge favoring the first slot ~50/50-biased by the arms' strength
    // layout — and the audit must flag it (0.5 outside the Wilson
    // interval at sf0.01's ~600 games)
    QueryDef("q_position_bias", ((s, d) => {
      val judged = btGames(Tables.documents(s, d)).select(
        when(col("winner") % 2 === 0, col("winner"))
          .otherwise(col("loser")).as("first"),
        when(col("winner") % 2 === 0, col("loser"))
          .otherwise(col("winner")).as("second"),
        (col("winner") % 2 === 0).as("first_wins"))
      Preference.positionBias(judged)
    }),
      // the q_win_matrix Wilson replay on the slot counts; biased =
      // interval excludes the fair coin
      () => {
        val z = 1.96
        val z2 = java.lang.Double.toString(z * z)
        "WITH g AS (SELECT doc_id % 32 AS a, (doc_id * 3 + 1) % 32 AS b, " +
          "CASE WHEN (doc_id * 13) % 7 < 4 THEN 1 ELSE 0 END AS sw " +
          "FROM documents WHERE doc_id % 32 <> (doc_id * 3 + 1) % 32), " +
          "p AS (SELECT CASE WHEN sw = 1 THEN least(a, b) ELSE greatest(a, b) END AS w " +
          "FROM g), " +
          "j AS (SELECT CASE WHEN w % 2 = 0 THEN 1 ELSE 0 END AS fw FROM p), " +
          "t AS (SELECT count(*) AS games, " +
          "CAST(coalesce(sum(fw), 0) AS BIGINT) AS first_wins FROM j), " +
          "e AS (SELECT games, first_wins, CAST(games AS DOUBLE) AS nd, " +
          "first_wins/(1.0*games) AS pd FROM t) " +
          "SELECT games, first_wins, round(pd, 6) AS rate_first, " +
          s"round((pd + $z2/(nd*2) - $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS lo95, " +
          s"round((pd + $z2/(nd*2) + $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS hi95, " +
          "CASE WHEN games > 0 THEN CAST(" +
          s"((pd + $z2/(nd*2) - $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd) > 0.5 OR " +
          s"(pd + $z2/(nd*2) + $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd) < 0.5) AS INT) END AS biased FROM e"
      }),
    // verbosity-bias audit: synthetic judge prefers the longer answer
    // 13/20 of the time (winner length rides a residue draw above or
    // below the constant loser length) — the audit must flag it
    QueryDef("q_length_bias", ((s, d) => {
      val judged = btGames(Tables.documents(s, d)).select(
        col("winner"), col("loser"),
        when((col("winner") * 17 + col("loser") * 3) % 20 < 13,
          lit(200) + col("winner") % 40)
          .otherwise(lit(50) + col("winner") % 30).as("win_len"),
        lit(120).as("lose_len"))
      Preference.lengthBias(judged)
    }),
      () => {
        val z = 1.96
        val z2 = java.lang.Double.toString(z * z)
        "WITH g AS (SELECT doc_id % 32 AS a, (doc_id * 3 + 1) % 32 AS b, " +
          "CASE WHEN (doc_id * 13) % 7 < 4 THEN 1 ELSE 0 END AS sw " +
          "FROM documents WHERE doc_id % 32 <> (doc_id * 3 + 1) % 32), " +
          "p AS (SELECT CASE WHEN sw = 1 THEN least(a, b) ELSE greatest(a, b) END AS w, " +
          "CASE WHEN sw = 1 THEN greatest(a, b) ELSE least(a, b) END AS l FROM g), " +
          "j AS (SELECT CASE WHEN (w * 17 + l * 3) % 20 < 13 THEN 1 ELSE 0 END AS lw FROM p), " +
          "t AS (SELECT count(*) AS games, " +
          "CAST(coalesce(sum(lw), 0) AS BIGINT) AS longer_wins FROM j), " +
          "e AS (SELECT games, longer_wins, CAST(games AS DOUBLE) AS nd, " +
          "longer_wins/(1.0*games) AS pd FROM t) " +
          "SELECT games, longer_wins, round(pd, 6) AS rate_longer, " +
          s"round((pd + $z2/(nd*2) - $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS lo95, " +
          s"round((pd + $z2/(nd*2) + $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS hi95, " +
          "CASE WHEN games > 0 THEN CAST(" +
          s"((pd + $z2/(nd*2) - $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd) > 0.5 OR " +
          s"(pd + $z2/(nd*2) + $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd) < 0.5) AS INT) END AS biased FROM e"
      }),
    // length-binned win-rate CURVE over the same game log with
    // gap-VARYING synthetic lengths (both sides residue draws, so gap
    // buckets 0-2 fill with mixed outcomes): per |len_w − len_l| / 40
    // bucket, the exact-integer Wilson read — the stratified view that
    // reveals gap-dependent verbosity bias the one-row audit collapses
    QueryDef("q_len_winrate", ((s, d) => {
      val judged = btGames(Tables.documents(s, d)).select(
        col("winner"), col("loser"),
        (lit(100) + (col("winner") * 7 + col("loser") * 11) % 120)
          .as("win_len"),
        (lit(100) + (col("winner") * 13 + col("loser") * 5) % 120)
          .as("lose_len"))
      Preference.lengthBiasCurve(judged, bucketWidth = 40)
    }),
      // the same Wilson replay on the longer-wins flag (win_len > 120
      // iff the 13/20 residue draw fires)
      // the stratified curve: same game rebuild, gap-varying length draws,
      // bucketed Wilson reads per |gap| // 40 (exact integer counts)
      () => {
        val z = 1.96
        val z2 = java.lang.Double.toString(z * z)
        "WITH g AS (SELECT doc_id % 32 AS a, (doc_id * 3 + 1) % 32 AS b, " +
          "CASE WHEN (doc_id * 13) % 7 < 4 THEN 1 ELSE 0 END AS sw " +
          "FROM documents WHERE doc_id % 32 <> (doc_id * 3 + 1) % 32), " +
          "p AS (SELECT CASE WHEN sw = 1 THEN least(a, b) ELSE greatest(a, b) END AS w, " +
          "CASE WHEN sw = 1 THEN greatest(a, b) ELSE least(a, b) END AS l FROM g), " +
          "j AS (SELECT 100 + (w * 7 + l * 11) % 120 AS wl, " +
          "100 + (w * 13 + l * 5) % 120 AS ll FROM p), " +
          "f AS (SELECT CAST(abs(wl - ll) // 40 AS BIGINT) AS gap_bucket, " +
          "CASE WHEN wl > ll THEN 1 ELSE 0 END AS lw FROM j WHERE wl <> ll), " +
          "t AS (SELECT gap_bucket, count(*) AS games, " +
          "CAST(coalesce(sum(lw), 0) AS BIGINT) AS longer_wins FROM f GROUP BY gap_bucket), " +
          "e AS (SELECT gap_bucket, games, longer_wins, CAST(games AS DOUBLE) AS nd, " +
          "longer_wins/(1.0*games) AS pd FROM t) " +
          "SELECT gap_bucket, gap_bucket * 40 AS gap_lo, " +
          "(gap_bucket + 1) * 40 - 1 AS gap_hi, games, longer_wins, " +
          "round(pd, 6) AS rate_longer, " +
          s"round((pd + $z2/(nd*2) - $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS lo95, " +
          s"round((pd + $z2/(nd*2) + $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd), 6) AS hi95, " +
          s"CAST(((pd + $z2/(nd*2) - $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd) > 0.5 OR " +
          s"(pd + $z2/(nd*2) + $z*sqrt(pd*(1.0-pd)/nd + $z2/(nd*nd*4)))/" +
          s"(1.0 + $z2/nd) < 0.5) AS INT) AS biased FROM e"
      }),
    // the incremental form: a standing vote graph built from the first
    // 80 % of docs, the rest MERGEd as a new batch — ratings from the
    // merged graph must equal the full-history run, so the oracle IS
    // the full replay (the q_covariance_incr / q_scd2_incr contract)
    QueryDef("q_bt_incr", ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = Preference.btGraph(btGames(
        docs.where(col("doc_id") % 10 < 8)))
      Preference.btRatingsFromGraph(
        Preference.btMerge(base,
          btGames(docs.where(col("doc_id") % 10 >= 8))),
        iterations = 3)
    }),
      () => btRatingsSql(3)),
  )
}
