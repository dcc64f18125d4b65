package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Preference-data aggregation beyond pair assembly
  * ([[Conversations.preferencePairs]] builds (chosen, rejected) training
  * pairs; THIS estimates latent item strengths from the pairwise
  * outcomes themselves) — the rating layer an RLHF/eval pipeline runs
  * over judge votes: which prompts/candidates/models are actually
  * stronger, with how much evidence.
  */
object Preference {

  /** Bradley-Terry strength estimation from pairwise game outcomes via
    * the MM algorithm (Hunter 2004, "MM algorithms for generalized
    * Bradley-Terry models"), `iterations` synchronous updates from a
    * uniform start:
    *
    *   r'(i) = W_i / Σ_{j : n_ij > 0} n_ij / (r_i + r_j)
    *
    * with W_i = total wins of i and n_ij = games between i and j,
    * followed by mean-1 renormalization each step (the scale is not
    * identified; without the renorm the whole vector drifts). Ratings
    * are rounded to 6 decimals at EVERY step — the unigramLearnSoft q6
    * convention — so the distributed sums' last-ulp order sensitivity
    * cannot compound across iterations, which is what makes a
    * fixed-iteration run DuckDB-oracle-able with unrolled per-iteration
    * CTEs (the pageRank precedent).
    *
    * Winless items converge toward rating 0 (they bound the model's
    * strength floor); a pair of items that actually played produced a
    * winner among them, so the pre-rounding iterate keeps every
    * denominator term positive — and because per-step q6 rounding could
    * still floor an extreme-skew WINNING item to exactly 0.0, the
    * renormalized rating is additionally floored at 1e-6 each step
    * (mirrored in the oracle replay), keeping the invariant after
    * rounding too.
    *
    * Scale shape: `pairs` (one row per game, however large) collapses
    * FIRST to the symmetric game graph — (i, j, n_ij) plus an item-keyed
    * win count, both map-side-combined aggregates, and everything after
    * touches only graph-sized frames: each step is one edges ⋈ ratings
    * join pair (hash-distributed on the item key), one item-keyed sum,
    * and a one-row mean broadcast into the renorm. Edge and rating
    * frames are localCheckpoint'd (the pageRank lineage discipline) so
    * step N never replays steps 1..N-1. The game graph is additive
    * under appended games — a standing (i, j, n_ij) table MERGEs new
    * votes by summing counts, and ratings recompute from the graph at
    * graph cost, never replaying history.
    *
    * Returns (item, rating, wins, games), rating rounded to 6.
    */
  def btRatings(pairs: DataFrame, winnerCol: String = "winner",
      loserCol: String = "loser", iterations: Int = 3): DataFrame =
    btRatingsFromGraph(btGraph(pairs, winnerCol, loserCol), iterations)

  /** The minimal sufficient statistic of a Bradley-Terry model: directed
    * win counts (w, l, n). ADDITIVE under appended games — the standing
    * artifact a vote pipeline maintains ([[btMerge]] folds a new batch
    * by summing counts), from which [[btRatingsFromGraph]] recomputes
    * ratings at graph cost, never replaying vote history. Self-games
    * (winner = loser — a malformed vote; it carries no preference
    * information and would corrupt the MM denominators as a self-edge)
    * are dropped here, so every downstream consumer sees a clean graph.
    */
  def btGraph(pairs: DataFrame, winnerCol: String = "winner",
      loserCol: String = "loser"): DataFrame =
    pairs.where(!(col(winnerCol) <=> col(loserCol)))
      .groupBy(col(winnerCol).as("w"), col(loserCol).as("l"))
      .agg(count(lit(1)).as("n"))

  /** Fold a new batch of games into a standing [[btGraph]]: counts sum.
    * Exactly equals the graph of the concatenated history (spec'd) —
    * the mergeable-sketch shape, batch- plus graph-sized work.
    */
  def btMerge(graph: DataFrame, newPairs: DataFrame,
      winnerCol: String = "winner", loserCol: String = "loser"): DataFrame =
    graph.unionByName(btGraph(newPairs, winnerCol, loserCol))
      .groupBy("w", "l").agg(sum("n").as("n"))

  /** [[btRatings]] from a standing [[btGraph]] — the apply half. */
  def btRatingsFromGraph(graph: DataFrame, iterations: Int = 3)
      : DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val dir = graph
    val edges = dir.select(col("w").as("i"), col("l").as("j"), col("n"))
      .unionByName(dir.select(col("l").as("i"), col("w").as("j"), col("n")))
      .groupBy("i", "j").agg(sum("n").as("n"))
      .localCheckpoint()
    val wins = dir.groupBy(col("w").as("item")).agg(sum("n").as("wins"))
    val games = edges.groupBy(col("i").as("item")).agg(sum("n").as("games"))
    val items = games.join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"),
        col("games"))
      .localCheckpoint()
    var ratings = items.select(col("item"), lit(1.0).as("r"))
      .localCheckpoint()
    var it = 0
    while (it < iterations) {
      val denom = edges
        .join(ratings.select(col("item").as("i"), col("r").as("ri")), "i")
        .join(ratings.select(col("item").as("j"), col("r").as("rj")), "j")
        .groupBy(col("i").as("item"))
        .agg(sum(col("n") / (col("ri") + col("rj"))).as("den"))
      val raw = items.join(denom, Seq("item"))
        .select(col("item"),
          (col("wins").cast("double") / col("den")).as("u"))
      val mean = raw.agg(avg("u").as("m"))
      // floor at 1e-6: per-step q6 rounding could otherwise floor a
      // weak-but-winning item to exactly 0.0 (u/m < 5e-7 under extreme
      // win skew), and two zero-rated items sharing an edge would put
      // 0 in an MM denominator — null division that sum() silently
      // drops, corrupting the step (and diverging from the oracle)
      ratings = raw.crossJoin(broadcast(mean))
        .select(col("item"),
          greatest(round(col("u") / col("m"), 6), lit(1e-6)).as("r"))
        .localCheckpoint()
      it += 1
    }
    items.join(ratings, Seq("item"))
      .select(col("item"), col("r").as("rating"), col("wins"), col("games"))
  }

  /** Pairwise win-rate matrix with Wilson 95 % intervals — the ARENA
    * table beside [[btRatings]]' latent strengths: per unordered model
    * pair (a < b), a's wins, total games, the raw rate, and the Wilson
    * score interval (the small-n-honest CI — a 2-game 100 % pair reads
    * a wide [0.34, 1.0], not "certainly better"). Self-games drop (the
    * [[btGraph]] rule). Arithmetic: exact integer counts off the
    * directed game graph, then row expressions — p̂ is one division,
    * and IEEE sqrt is correctly rounded, so the DuckDB replay (with
    * z² emitted as the exact double literal) matches bit-for-bit;
    * rate/bounds round 6. Game volume collapses map-side to the
    * pair-keyed graph — one dictionary-sized shuffle at any vote
    * count. Returns (a, b, games, wins_a, rate_a, lo95, hi95).
    */
  def winMatrix(pairs: DataFrame, winnerCol: String = "winner",
      loserCol: String = "loser", z: Double = 1.96): DataFrame = {
    require(z > 0, s"winMatrix: z must be > 0, got $z")
    val g = btGraph(pairs, winnerCol, loserCol)
    val und = g.select(least(col("w"), col("l")).as("a"),
        greatest(col("w"), col("l")).as("b"),
        when(col("w") < col("l"), col("n")).otherwise(lit(0L)).as("_wa"),
        col("n").as("_n"))
      .groupBy("a", "b")
      .agg(sum("_wa").as("wins_a"), sum("_n").as("games"))
    // double from the start: (games²·4) as Long would wrap past ~7.6e8
    // games on one pair (the cohenKappaMulti Long-wrap lesson)
    val nD = col("games").cast("double")
    val p = col("wins_a").cast("double") / nD
    val z2 = z * z
    val center = p + lit(z2) / (nD * 2)
    val margin = lit(z) *
      sqrt(p * (lit(1.0) - p) / nD + lit(z2) / (nD * nD * 4))
    val denom = lit(1.0) + lit(z2) / nD
    und.select(col("a"), col("b"), col("games"), col("wins_a"),
      round(p, 6).as("rate_a"),
      round((center - margin) / denom, 6).as("lo95"),
      round((center + margin) / denom, 6).as("hi95"))
  }

  /** Judge position-bias audit — the sanity check every pairwise
    * LLM-judge arena needs before its [[winMatrix]]/[[btRatings]]
    * numbers are trusted: pairwise judges systematically favor one
    * presentation slot (usually the first answer shown), and a biased
    * judge inflates whichever arm the pairing schedule happens to put
    * there. Input is the PRESENTED form of each game — (first, second,
    * first_wins) — i.e. the raw judging log before any winner/loser
    * normalization erases slot information. One row out: games,
    * first-slot wins, the first-slot win rate with its Wilson
    * interval (the winMatrix z-interval on the same exact integer
    * counts — IEEE sqrt replays bit-for-bit), and `biased` = 1 when
    * 0.5 falls outside the interval (an unbiased judge's slot rate is
    * a fair coin; slot assignment must be randomized for this read to
    * be causal — the caller's contract). One count-sized aggregate;
    * the game stream never shuffles more than partials.
    */
  def positionBias(judged: DataFrame, firstWinsCol: String = "first_wins",
      z: Double = 1.96): DataFrame =
    coinRateAudit(judged, col(firstWinsCol), "first_wins", "rate_first", z)

  /** Judge verbosity-bias audit — [[positionBias]]'s sibling for the
    * other famous pairwise-judge artifact: preferring the LONGER
    * answer regardless of quality. Input is the judged game log with
    * the winner's and loser's answer lengths; equal-length games carry
    * no verbosity signal and are excluded from the denominator. Same
    * Wilson read: rate_longer = P(the longer answer won), `biased` = 1
    * when the interval excludes the fair coin. (Causal only under
    * quality-matched or randomized pairing — the positionBias caveat;
    * a genuinely-better-when-longer corpus also moves this rate.)
    */
  def lengthBias(judged: DataFrame, winLenCol: String = "win_len",
      loseLenCol: String = "lose_len", z: Double = 1.96): DataFrame =
    coinRateAudit(judged.where(col(winLenCol) =!= col(loseLenCol)),
      col(winLenCol) > col(loseLenCol), "longer_wins", "rate_longer", z)

  /** [[lengthBias]] stratified into a CURVE (round-14 verdict #8): the
    * one-row audit collapses verbosity preference across all length
    * gaps, but a judge's length bias typically GROWS with the gap — the
    * curve is what reveals it. Games bucket by |win_len − lose_len| /
    * `bucketWidth` (equal-length games carry no signal and are excluded,
    * the [[lengthBias]] rule); each bucket gets the same exact-integer
    * Wilson read: rate_longer = P(longer answer won | gap bucket), with
    * `biased` = 1 when the interval excludes the fair coin. One
    * games-pass aggregate (map-side combined, bucket-sized result);
    * IEEE sqrt replays bit-for-bit, rates/interval round 6. Returns
    * (gap_bucket, gap_lo, gap_hi, games, longer_wins, rate_longer,
    * lo95, hi95, biased) ordered by bucket.
    */
  def lengthBiasCurve(judged: DataFrame, winLenCol: String = "win_len",
      loseLenCol: String = "lose_len", bucketWidth: Int = 40,
      z: Double = 1.96): DataFrame = {
    require(bucketWidth >= 1, s"lengthBiasCurve: bucketWidth must be >= 1")
    require(z > 0, s"lengthBiasCurve: z must be > 0, got $z")
    val agg = judged.where(col(winLenCol) =!= col(loseLenCol))
      .select((abs(col(winLenCol) - col(loseLenCol)) / bucketWidth)
        .cast("long").as("gap_bucket"),
        (col(winLenCol) > col(loseLenCol)).cast("long").as("_lw"))
      .groupBy("gap_bucket")
      .agg(count(lit(1)).as("games"), sum("_lw").as("longer_wins"))
    val nD = col("games").cast("double")
    val p = col("longer_wins").cast("double") / nD
    val z2 = z * z
    val center = p + lit(z2) / (nD * 2)
    val margin = lit(z) *
      sqrt(p * (lit(1.0) - p) / nD + lit(z2) / (nD * nD * 4))
    val denom = lit(1.0) + lit(z2) / nD
    agg.select(col("gap_bucket"),
      (col("gap_bucket") * bucketWidth).as("gap_lo"),
      ((col("gap_bucket") + 1) * bucketWidth - 1).as("gap_hi"),
      col("games"), col("longer_wins"),
      round(p, 6).as("rate_longer"),
      round((center - margin) / denom, 6).as("lo95"),
      round((center + margin) / denom, 6).as("hi95"),
      ((center - margin) / denom > 0.5 || (center + margin) / denom < 0.5)
        .cast("int").as("biased"))
  }

  /** Shared one-row fair-coin audit: count the flagged games, Wilson
    * z-interval on the flag rate (exact integer counts — IEEE sqrt
    * replays bit-for-bit), `biased` = 1 when 0.5 falls outside it.
    * games = 0 ⇒ every ratio is 0/0: NULLs, not NaNs (an empty log has
    * no rate reading).
    */
  private def coinRateAudit(games: DataFrame, flag: Column,
      winsName: String, rateName: String, z: Double): DataFrame = {
    require(z > 0, s"coinRateAudit: z must be > 0, got $z")
    val agg = games.agg(count(lit(1)).as("games"),
      coalesce(sum(flag.cast("boolean").cast("long")), lit(0L))
        .as(winsName))
    val nD = col("games").cast("double")
    val p = col(winsName).cast("double") / nD
    val z2 = z * z
    val center = p + lit(z2) / (nD * 2)
    val margin = lit(z) *
      sqrt(p * (lit(1.0) - p) / nD + lit(z2) / (nD * nD * 4))
    val denom = lit(1.0) + lit(z2) / nD
    agg.select(col("games"), col(winsName),
      when(col("games") > 0, round(p, 6)).as(rateName),
      when(col("games") > 0, round((center - margin) / denom, 6)).as("lo95"),
      when(col("games") > 0, round((center + margin) / denom, 6)).as("hi95"),
      when(col("games") > 0,
        ((center - margin) / denom > 0.5 || (center + margin) / denom < 0.5)
          .cast("int")).as("biased"))
  }

  /** Krippendorff's alpha with the ORDINAL metric — the ragged-panel
    * agreement statistic for RANKED grades (LLM judges emitting
    * Likert scales: 1-5 quality, severity tiers), completing the
    * [[krippAlpha]] (nominal) / [[krippAlphaInterval]] family.
    * Disagreement between categories c ≤ k is the squared
    * between-rank mass δ²_ck = (Σ_{g=c..k} n_g − (n_c + n_k)/2)²
    * over the PAIRABLE marginal counts (Krippendorff's ordinal
    * metric — adjacent popular grades disagree more than adjacent
    * rare ones). Same exclusion rules (items with <2 ratings and
    * null grades leave every total) and the same scaling as the
    * siblings:
    *
    *   D_o = Σ_u Σ_{c≠k} n_uc·n_uk·δ²_ck/(m_u − 1)
    *   D_e = Σ_{c≠k} n_c·n_k·δ²_ck/(n − 1);  α = 1 − D_o/D_e
    *
    * With two categories every disagreeing pair shares one δ², so α
    * reduces EXACTLY to the nominal form (spec-asserted). Arithmetic:
    * δ is an exact half-integer off integer cumulative sums, so every
    * product is an exact quarter-integer below 2^53 —
    * order-insensitive sums, the per-distinct-m division discipline,
    * bit-identical oracle. The δ² table is category-pair-sized
    * (grades are a bounded set — required ≤ 512 distinct) and
    * broadcast; per-item pair expansion is dictionary-sized (items ×
    * their distinct grades²). α NULL when D_e = 0. D_o/D_e/α round 6.
    * Returns (n_items, n_pairable, n_labels, d_o, d_e, alpha).
    */
  def krippAlphaOrdinal(votes: DataFrame, itemCol: String,
      valueCol: String): DataFrame = {
    val cell = votes
      .select(col(itemCol).as("_i"), col(valueCol).cast("double").as("_v"))
      .where(col("_v").isNotNull)
      .groupBy("_i", "_v").agg(count(lit(1)).as("_nij"))
      .localCheckpoint()
    val perItem = cell.groupBy("_i")
      .agg(sum("_nij").as("_m"))
      .where(col("_m") >= 2)
      .localCheckpoint()
    import votes.sparkSession.implicits._
    val marg = cell.join(perItem.select("_i"), Seq("_i"))
      .groupBy("_v").agg(sum("_nij").as("_c"))
      .as[(Double, Long)].collect().sortBy(_._1)
    if (marg.isEmpty)
      return Seq((0L, 0L, 0L, Option.empty[Double], Option.empty[Double],
        Option.empty[Double]))
        .toDF("n_items", "n_pairable", "n_labels", "d_o", "d_e", "alpha")
    require(marg.length <= 512,
      s"krippAlphaOrdinal: ${marg.length} distinct grades — the ordinal " +
        "metric's pair table is category²-sized; bucket the grade scale " +
        "(or use krippAlphaInterval) beyond 512")
    val n = marg.map(_._2).sum
    val nLabels = marg.length.toLong
    // cumulative marginal mass in grade order: δ(c≤k) = between-mass
    // minus the endpoints' half-counts — exact half-integers
    val cums = marg.map(_._2).scanLeft(0L)(_ + _).tail
    val d2: Seq[(Double, Double, Double)] =
      for {
        ci <- marg.indices
        ki <- marg.indices
        if ci != ki
      } yield {
        val (lo, hi) = (math.min(ci, ki), math.max(ci, ki))
        val between = cums(hi) - cums(lo) + marg(lo)._2
        val delta = between - (marg(lo)._2 + marg(hi)._2) / 2.0
        (marg(ci)._1, marg(ki)._1, delta * delta)
      }
    val margMap = marg.toMap
    val dE =
      if (n <= 1) 0.0
      else d2.map { case (c, k, d) =>
        margMap(c).toDouble * margMap(k) * d
      }.sum / (n - 1).toDouble
    val d2Df = d2.toDF("_va", "_vb", "_d2")
    // per-item disagreeing grade pairs (dictionary-sized: items ×
    // their distinct grades²) against the broadcast δ² table, then
    // the per-distinct-m division discipline
    val a = cell.select(col("_i"), col("_v").as("_va"), col("_nij").as("_na"))
    val b = cell.select(col("_i"), col("_v").as("_vb"), col("_nij").as("_nb"))
    val byM = a.join(b, Seq("_i")).where(col("_va") =!= col("_vb"))
      .join(broadcast(d2Df), Seq("_va", "_vb"))
      .join(perItem, Seq("_i"))
      .groupBy("_m")
      .agg(sum(col("_na").cast("double") * col("_nb") * col("_d2"))
        .as("_num"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    val nItems = perItem.count()
    val dO = byM.map { case (m, num) => num / (m - 1).toDouble }.sum
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val alpha = if (dE <= 0.0) Option.empty[Double]
      else Some(q6(1.0 - dO / dE))
    Seq((nItems, n, nLabels, Some(q6(dO)), Some(q6(dE)), alpha))
      .toDF("n_items", "n_pairable", "n_labels", "d_o", "d_e", "alpha")
  }

  /** Fleiss' kappa — chance-corrected agreement across a PANEL of
    * raters (the multi-rater generalization of the two-labeler
    * [[TextAnalysis.cohenKappa]]): THE acceptance gate on an
    * LLM-judge ensemble before its majority votes are trusted as labels.
    * Standard formulation (Fleiss 1971) over items i and categories j
    * with n raters per item:
    *
    *   P_i = (Σ_j n_ij² − n) / (n(n−1));  P̄ = mean_i P_i
    *   p_j = Σ_i n_ij / (N·n);  P̄_e = Σ_j p_j²;  κ = (P̄−P̄_e)/(1−P̄_e)
    *
    * Requires a COMPLETE panel (same rater count on every item —
    * validated, since silent raggedness corrupts the statistic).
    * Scale shape: one map-side-combined (item, label) count aggregate,
    * then item-keyed and label-keyed rollups of that dictionary — the
    * corpus of votes shuffles once. Every term is an integer-derived
    * rational accumulated in DOUBLE (exact below 2^53, the PrefixSum
    * convention — Long would wrap silently on Σn_ij²/Σc_j² past ~3e9
    * items with a dominant label; order-insensitive while exact), so
    * the oracle agrees bit-for-bit at test scale and diverges only by
    * ulps past 2^53; κ rounds 6 and is NULL when P̄_e = 1 (all votes
    * one category — agreement is undefined, not perfect).
    * Returns one row (n_items, n_raters, p_bar, p_e, kappa).
    */
  def fleissKappa(votes: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val cell = votes.groupBy(col(itemCol).as("_i"), col(labelCol).as("_j"))
      .agg(count(lit(1)).as("_nij"))
      .localCheckpoint()
    // n_ij² is panel-size-bounded and exact, but its SUM over items (and
    // Σc_j² below) wraps Long silently past ~3e9 items with a dominant
    // label under non-ANSI Spark while the DuckDB oracle promotes to
    // HUGEINT — accumulate in double instead (exact below 2^53, the
    // PrefixSum convention; beyond that a rounded ulp, never a wrap)
    val perItem = cell.groupBy("_i")
      .agg(sum("_nij").as("_n"),
        sum((col("_nij") * col("_nij")).cast("double")).as("_sq"))
      .localCheckpoint()
    val ns = perItem.select(col("_n")).distinct().collect().map(_.getLong(0))
    require(ns.length <= 1,
      s"fleissKappa: ragged panel — items have rater counts ${ns.sorted.mkString(", ")}")
    import votes.sparkSession.implicits._
    if (ns.isEmpty)
      return Seq((0L, 0L, Option.empty[Double], Option.empty[Double],
        Option.empty[Double]))
        .toDF("n_items", "n_raters", "p_bar", "p_e", "kappa")
    val n = ns.head
    require(n >= 2, s"fleissKappa: need >= 2 raters per item, got $n")
    // grand totals as plan constants (the apScore pattern): N items and
    // the per-category vote mass both come off the tiny dictionaries.
    // P̄ and P̄_e reduce to INTEGER sums divided once — Σ_i(sq_i − n) =
    // Σsq − N·n and Σ_j c_j² are exact integers, order-insensitive, so
    // both statistics are single correctly-rounded divisions and the
    // oracle is bit-identical (NOT an avg of per-item inexact rationals,
    // whose partition-order ulps could cross a rounding boundary)
    val nItems = perItem.count()
    val sumSq = perItem.agg(coalesce(sum("_sq"), lit(0.0))).head().getDouble(0)
    val pBar = (sumSq - nItems.toDouble * n) /
      (nItems.toDouble * n * (n - 1))
    val sumCj2 = cell.groupBy("_j")
      .agg(sum("_nij").as("_cj"))
      .agg(coalesce(sum(col("_cj").cast("double") *
        col("_cj").cast("double")), lit(0.0)))
      .head().getDouble(0)
    val pE = sumCj2 / ((nItems.toDouble * n) * (nItems.toDouble * n))
    val kappa =
      if (pE >= 1.0) Option.empty[Double]
      else Some(math.rint((pBar - pE) / (1 - pE) * 1e6) / 1e6)
    Seq((nItems, n, Some(math.rint(pBar * 1e6) / 1e6),
      Some(math.rint(pE * 1e6) / 1e6), kappa))
      .toDF("n_items", "n_raters", "p_bar", "p_e", "kappa")
  }

  /** Krippendorff's alpha for NOMINAL data — the chance-corrected
    * agreement statistic for RAGGED judge panels, where
    * [[fleissKappa]] deliberately refuses to run: real LLM-judge data
    * is ragged (judges time out, batches shard, panels grow
    * mid-rollout), and Krippendorff 1970's coincidence-matrix form is
    * built for exactly that — items contribute pairable-vote mass
    * proportional to however many ratings they actually got.
    *
    * Standard nominal formulation over items u with m_u ≥ 2 ratings
    * (items with fewer than 2 ratings carry no pairable information
    * and are EXCLUDED from every total, including n):
    *
    *   D_o = Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1)   observed disagreement
    *   D_e = (n² − Σ_c n_c²)/(n − 1),  n = Σ_u m_u, n_c = Σ_u n_uc
    *   α   = 1 − D_o/D_e
    *
    * Arithmetic discipline (the [[fleissKappa]] doctrine): every
    * numerator is an exact integer sum accumulated in double (exact
    * below 2^53) — the ONLY non-integer step is one division per
    * DISTINCT rater count m (items grouped by m share the (m−1)
    * denominator, so D_o is a ≤panel-size driver-side sum of exact
    * rationals in ascending-m order) plus the final D_e division, so
    * the DuckDB oracle agrees bit-for-bit at test scale. Null labels
    * are excluded from every count (the cohenKappaMulti rule). α is
    * NULL when D_e = 0 (all pairable votes one category, or fewer
    * than 2 pairable votes — agreement is vacuous, not perfect).
    * D_o/D_e/α round 6.
    * Returns one row (n_items, n_pairable, n_labels, d_o, d_e, alpha):
    * n_items counts the pairable items, n_pairable their total votes.
    */
  def krippAlpha(votes: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val cell = votes
      .select(col(itemCol).as("_i"), col(labelCol).cast("string").as("_j"))
      .where(col("_j").isNotNull)
      .groupBy("_i", "_j").agg(count(lit(1)).as("_nij"))
      .localCheckpoint()
    val perItem = cell.groupBy("_i")
      .agg(sum("_nij").as("_m"),
        sum((col("_nij") * col("_nij")).cast("double")).as("_sq"))
      .where(col("_m") >= 2)
      .localCheckpoint()
    // one row per distinct rater count: the (m−1) denominators are
    // shared within each group, so the per-item rationals collapse to
    // exact-integer numerators before any division happens
    val byM = perItem.groupBy("_m")
      .agg(sum(col("_m").cast("double") * col("_m").cast("double") -
        col("_sq")).as("_num"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    import votes.sparkSession.implicits._
    if (byM.isEmpty)
      return Seq((0L, 0L, 0L, Option.empty[Double], Option.empty[Double],
        Option.empty[Double]))
        .toDF("n_items", "n_pairable", "n_labels", "d_o", "d_e", "alpha")
    val head = perItem.agg(count(lit(1)),
      coalesce(sum("_m"), lit(0L))).head()
    val (nItems, n) = (head.getLong(0), head.getLong(1))
    // label marginals over PAIRABLE items only: an excluded
    // single-vote item must not leak its label mass into D_e
    val marg = cell.join(perItem.select("_i"), Seq("_i"))
      .groupBy("_j").agg(sum("_nij").as("_c"))
      .agg(count(lit(1)),
        coalesce(sum(col("_c").cast("double") * col("_c").cast("double")),
          lit(0.0)))
      .head()
    val (nLabels, sumC2) = (marg.getLong(0), marg.getDouble(1))
    val dO = byM.map { case (m, num) => num / (m - 1).toDouble }.sum
    val dE =
      if (n <= 1) 0.0
      else (n.toDouble * n - sumC2) / (n - 1).toDouble
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val alpha = if (dE <= 0.0) Option.empty[Double]
      else Some(q6(1.0 - dO / dE))
    Seq((nItems, n, nLabels, Some(q6(dO)), Some(q6(dE)), alpha))
      .toDF("n_items", "n_pairable", "n_labels", "d_o", "d_e", "alpha")
  }

  /** Krippendorff's alpha with the INTERVAL metric — [[krippAlpha]]
    * for NUMERIC ratings (LLM judges emitting scalar scores:
    * 1-10 quality, harmlessness grades), where disagreement between
    * two ratings is their squared difference rather than 0/1. Same
    * ragged-panel semantics (items with <2 ratings excluded from
    * every total, null ratings excluded).
    *
    * The pairwise sums collapse to SUFFICIENT STATISTICS — for any
    * vote multiset, Σ_{c,k} n_c·n_k·(v_c−v_k)² = 2·(m·Σnv² − (Σnv)²)
    * — so nothing pairwise is ever materialized:
    *
    *   D_o = Σ_u 2(m_u·S2_u − S1_u²)/(m_u − 1)   (S1=Σv, S2=Σv² per item)
    *   D_e = 2(n·T2 − T1²)/(n − 1)               (T over pairable votes)
    *   α   = 1 − D_o/D_e
    *
    * — the [[krippAlpha]] scaling convention exactly (nominal is the
    * special case δ² ∈ {0,1}). Arithmetic: per-item/corpus (count,
    * Σv, Σv²) aggregates in double (exact for integer-grid ratings
    * below ~2^26; beyond that ulp-level, the fleissKappa 2^53 note),
    * one division per distinct rater count for D_o (ascending-m
    * driver rationals) plus the final D_e division. α NULL when
    * D_e = 0 (all pairable ratings identical — vacuous). D_o/D_e/α
    * round 6. Returns (n_items, n_pairable, d_o, d_e, alpha).
    */
  def krippAlphaInterval(votes: DataFrame, itemCol: String,
      valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val perItem = votes
      .select(col(itemCol).as("_i"), v.as("_v"))
      .where(col("_v").isNotNull)
      .groupBy("_i")
      .agg(count(lit(1)).as("_m"), sum(col("_v")).as("_s1"),
        sum(col("_v") * col("_v")).as("_s2"))
      .where(col("_m") >= 2)
      .localCheckpoint()
    val byM = perItem.groupBy("_m")
      .agg(sum(lit(2.0) * (col("_m") * col("_s2") -
        col("_s1") * col("_s1"))).as("_num"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
    import votes.sparkSession.implicits._
    if (byM.isEmpty)
      return Seq((0L, 0L, Option.empty[Double], Option.empty[Double],
        Option.empty[Double]))
        .toDF("n_items", "n_pairable", "d_o", "d_e", "alpha")
    val head = perItem.agg(count(lit(1)), coalesce(sum("_m"), lit(0L)),
      coalesce(sum("_s1"), lit(0.0)), coalesce(sum("_s2"), lit(0.0))).head()
    val (nItems, n) = (head.getLong(0), head.getLong(1))
    val (t1, t2) = (head.getDouble(2), head.getDouble(3))
    val dO = byM.map { case (m, num) => num / (m - 1).toDouble }.sum
    val dE =
      if (n <= 1) 0.0
      else 2.0 * (n * t2 - t1 * t1) / (n - 1).toDouble
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val alpha = if (dE <= 0.0) Option.empty[Double]
      else Some(q6(1.0 - dO / dE))
    Seq((nItems, n, Some(q6(dO)), Some(q6(dE)), alpha))
      .toDF("n_items", "n_pairable", "d_o", "d_e", "alpha")
  }
}
