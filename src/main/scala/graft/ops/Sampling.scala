package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines.
  *
  * At 100 TB, `df.sample()` is the wrong tool: its RNG draw depends on
  * partition layout and task retries, so a re-run (or a recovered executor)
  * yields a DIFFERENT sample. Hashing a stable id into [0,1) instead makes
  * the sample a pure function of the data — reproducible across runs,
  * engines, cluster sizes, and retries, trivially parallel (a pushed-down
  * filter on the scan, no shuffle), and consistent across tables (the same
  * id set is selected everywhere, so joins between sampled tables stay
  * aligned). This is the standard "hash mod" sampling used in large corpus
  * curation.
  */
object Sampling {

  /** Uniform hash of `id` into 32 bits as a fixed-width (9-digit,
    * '0'-padded) lowercase-hex string. Fixed width means lexicographic
    * comparison ≡ numeric comparison — including against the rate=1.0
    * threshold "100000000" — which keeps the predicate expressible
    * identically in any engine with md5 (the DuckDB oracles mirror it
    * verbatim). 32 bits quantize rates to 1/2^32 ≈ 2.3e-10, so even a
    * 0.0001 % sample of a 100 TB corpus is reachable (16 bits capped out
    * at ~1.5e-5). `salt` decorrelates independent samples from the same
    * ids.
    */
  private[ops] def hashKey(id: Column, salt: String): Column =
    concat(lit("0"), substring(md5(concat(lit(salt), id.cast("string"))), 1, 8))

  /** 9-digit hex threshold selecting `rate` of the 32-bit hash space.
    * `private[graft]` so the queries' DuckDB oracle strings interpolate the
    * same constants instead of hand-duplicating them.
    */
  private[graft] def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    f"${math.round(rate * 4294967296L.toDouble).min(4294967296L)}%09x"
  }

  /** Deterministic `rate`-fraction sample of rows by hashed id. The filter
    * pushes to the scan; no RNG state, no shuffle.
    */
  def hashSample(df: DataFrame, idCol: String, rate: Double,
      salt: String = ""): DataFrame =
    df.where(hashKey(col(idCol), salt) < lit(hexThreshold(rate)))

  /** Stratified deterministic sample: per-stratum rates (e.g. re-balancing
    * languages or sources in a training mix). Unlisted strata default to
    * `defaultRate`. One pass, one pushed-down predicate — the scalable form
    * of `DataFrameStatFunctions.sampleBy`, made retry-stable.
    */
  def stratifiedHashSample(df: DataFrame, strataCol: String, idCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = ""): DataFrame = {
    val threshold = rates.foldLeft(lit(hexThreshold(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit(hexThreshold(rate))).otherwise(acc)
    }
    df.where(hashKey(col(idCol), salt) < threshold)
  }

  /** Domain/source mixing to per-stratum TOKEN budgets — the operator that
    * turns "40 % web, 30 % code, 30 % books, N tokens total" into a
    * concrete document set. Each stratum keeps the greedy prefix of its
    * documents in deterministic hash order until the token budget fills:
    * reproducible across runs and engines, stable under appends (new
    * documents land at hash positions that don't reshuffle the prefix
    * decision of existing ones below the boundary).
    *
    * 100 TB scale shape — two phases:
    * 1. A `prefilterRates` stratified hash sample (a pushed-down scan
    *    filter, no shuffle) bounds each stratum's candidate set to
    *    ~rate·stratum before anything shuffles. Callers size the rate from
    *    known stratum totals (≈ margin·budget/total): the per-stratum
    *    window input is then budget-sized REGARDLESS of corpus size — a
    *    10 TB source costs the same as a 10 GB one past the scan.
    * 2. The exact trim: a per-stratum running token sum over (hash, id)
    *    order keeps rows while the cumulative count fits the budget. Only
    *    (stratum, id, n_tokens, hash) tuples shuffle — never text.
    * With the default `prefilterRates` (keep everything) phase 2 sees the
    * whole stratum — correct at any scale, but the single-partition sort
    * makes it a small-corpus/test configuration only.
    *
    * The prefix property (phase 2 orders by the SAME hash phase 1
    * thresholds on) means the two-phase result equals the unfiltered
    * greedy prefix whenever the prefilter admits at least the budget's
    * worth of tokens; an undersized rate caps the stratum below budget —
    * the documented margin tradeoff.
    */
  def tokenBudgetMix(docs: DataFrame, strataCol: String, idCol: String,
      budgets: Map[String, Long], defaultBudget: Long,
      textCol: String = "text",
      prefilterRates: Map[String, Double] = Map.empty,
      defaultPrefilterRate: Double = 1.0,
      salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pre = stratifiedHashSample(docs, strataCol, idCol,
      prefilterRates, defaultPrefilterRate, salt)
    val budget = budgets.foldLeft(lit(defaultBudget)) {
      case (acc, (stratum, b)) =>
        when(col(strataCol) === stratum, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashKey(col(idCol), salt), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pre
      .select(col(strataCol), col(idCol),
        size(graft.ops.Core.tokensUni(col(textCol))).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens").cast("long")).over(w))
      .where(col("cum_tokens") <= budget)
  }

  /** Temperature-based domain re-mixing: sample stratum `s` in proportion
    * to `c_s^alpha / Σ_t c_t^alpha` (the standard multilingual /
    * multi-domain rebalancing — alpha = 1 keeps natural proportions,
    * alpha → 0 approaches uniform over strata, 0.3–0.7 are the usual
    * pretraining settings). `totalRows` scales the mixture to a concrete
    * target; each stratum keeps its first `min(c_s, ⌊totalRows·q_s + ½⌋)`
    * rows in deterministic (hash, id) order, so the selection is a stable
    * prefix per stratum — re-runs, retries, and engine ports agree.
    *
    * The mixture weight is rounded to 6 decimals before the target-count
    * arithmetic: `pow` is the one step IEEE 754 does not require exactly
    * rounded, so an unrounded weight could differ in the last ulp across
    * engines and flip a ⌊·+½⌋ boundary; after round(·,6) both engines
    * compute identical counts (the repo's round-aggregates-only rule).
    *
    * 100 TB scale shape: the stratum-count aggregate is map-side-combined
    * (one long per stratum per task); the weights table is strata-sized
    * (unhinted join — AQE broadcasts it while it fits); per-stratum
    * selection is a window over (hash, id) with only (stratum, id, hash)
    * tuples in the sort, never text. Heavily skewed mixtures should
    * pre-bound hot strata with [[stratifiedHashSample]] first, exactly as
    * [[tokenBudgetMix]]'s prefilter does.
    */
  def temperatureMix(docs: DataFrame, strataCol: String, idCol: String,
      alpha: Double, totalRows: Long, salt: String = ""): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(totalRows > 0, s"totalRows must be positive, got $totalRows")
    import org.apache.spark.sql.expressions.Window
    // materialize the strata-sized count table: it feeds both the weights
    // and the Σc^α total, and referencing the aggregate subtree twice on
    // crossJoin sides re-runs the corpus count on both (the q_heavy_hitters
    // lesson — no ReusedExchange across an aggregate)
    val pw = docs.groupBy(strataCol)
      .agg(count(lit(1)).as("c"))
      .withColumn("pw", pow(col("c"), lit(alpha)))
      .localCheckpoint()
    val targets = pw
      .crossJoin(broadcast(pw.agg(sum("pw").as("tot"))))
      .select(col(strataCol),
        round(col("pw") / col("tot"), 6).as("weight"),
        least(col("c"),
          floor(round(col("pw") / col("tot"), 6) * totalRows + 0.5)
            .cast("long")).as("n_target"))
    val rk = Window.partitionBy(col(strataCol))
      .orderBy(hashKey(col(idCol), salt), col(idCol))
    docs.select(col(strataCol), col(idCol))
      .withColumn("rk", row_number().over(rk))
      .join(targets, Seq(strataCol))
      .where(col("rk") <= col("n_target"))
      .select(col(strataCol), col(idCol), col("rk"),
        col("weight"), col("n_target"))
  }

  /** Token-budget mixture solve — "how big can the run be?": given
    * per-domain token inventories and TARGET mixture proportions
    * (Pile/Dolma-style recipe weights), the largest total training
    * budget T* that honors the proportions without repeating any domain
    * more than `maxEpochs` times is
    * `T* = min over weighted domains of maxEpochs·c_d/ŵ_d` — the domain
    * that hits its epoch cap first is the binding constraint (the Pile's
    * Wikipedia-upweighting arithmetic, solved in closed form). Returns
    * one row per inventory domain: normalized weight, allocated tokens
    * `ŵ_d·T*`, sampling rate `alloc/c_d` and epochs `rate` (>1 =
    * repetition); unweighted domains allocate 0. Weighted domains must
    * exist in the inventory (a weighted domain with no data means
    * T* = 0 — fail fast rather than return a degenerate solve).
    *
    * Scale shape: the inventory is domain-sized (the caller aggregates
    * the corpus; see q_mix_solve), the weights ship as a broadcast
    * literal frame, and the binding min is a one-row aggregate broadcast
    * back — nothing here ever touches the corpus.
    */
  def mixtureSolve(domainTokens: DataFrame, weights: Map[String, Double],
      maxEpochs: Double = 1.0, domainCol: String = "domain",
      tokensCol: String = "n_tokens"): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0.0) &&
      weights.values.sum > 0.0,
      s"mixtureSolve: weights must be non-negative with a positive sum")
    require(maxEpochs > 0.0, s"mixtureSolve: maxEpochs must be positive")
    val spark = domainTokens.sparkSession
    val wSum = weights.values.sum
    val wDf = broadcast(spark.createDataFrame(
      weights.toSeq.map(kv => (kv._1, kv._2 / wSum)))
      .toDF(domainCol, "_w"))
    val inv = domainTokens.join(wDf, Seq(domainCol), "left")
      .withColumn("_w", coalesce(col("_w"), lit(0.0)))
      .localCheckpoint() // feeds the binding min AND the output join
    val missing = weights.keySet --
      inv.where(col("_w") > 0).select(domainCol)
        .collect().map(_.getString(0)).toSet
    require(missing.isEmpty,
      s"mixtureSolve: weighted domains absent from inventory: $missing")
    val tStar = inv.where(col("_w") > 0)
      .agg(min(lit(maxEpochs) * col(tokensCol) / col("_w")).as("_tstar"))
    inv.crossJoin(broadcast(tStar))
      .select(col(domainCol), col(tokensCol),
        round(col("_w"), 6).as("weight"),
        round(col("_w") * col("_tstar"), 4).as("alloc_tokens"),
        // rate = the one-pass sampling fraction (capped at 1); epochs =
        // alloc/c_d, the repetition count when the domain is upweighted
        round(least(col("_w") * col("_tstar") / col(tokensCol), lit(1.0)), 6)
          .as("rate"),
        round(col("_w") * col("_tstar") / col(tokensCol), 4).as("epochs"))
  }

  /** Hamilton largest-remainder apportionment: split an integer budget
    * of `total` draws across strata proportionally to INTEGER weights
    * (document or token counts) EXACTLY — Σ quota = total, every quota
    * within 1 of its real-valued share, and no float anywhere: base
    * quota is (total·c) div C, and the leftover seats go to the largest
    * integer remainders (total·c) mod C, ties to the lexicographically
    * first stratum. Where [[mixtureSolve]] answers "how many tokens CAN
    * this recipe run" in doubles, apportion answers "exactly how many
    * rows does each stratum contribute to this batch" — the integer
    * arithmetic means two engines (or two reruns) can never disagree by
    * an ulp, which is what an exact-count contract downstream needs.
    * Caller guarantees total·max(c) fits a long.
    *
    * Scale shape: strata-sized by contract after the caller's count
    * aggregation (the [[mixtureSolve]] convention) — the one-row total
    * is a broadcast cross join and the remainder rank is a window over
    * the strata frame, never the corpus.
    */
  def apportion(counts: DataFrame, total: Long,
      strataCol: String = "source", countCol: String = "c"): DataFrame = {
    require(total >= 0, s"apportion: total must be >= 0, got $total")
    // greatest(C, 1) keeps the division ANSI-safe on an all-zero/empty
    // inventory (quotas then come only from leftover seats, by name)
    val tot = counts
      .agg(greatest(coalesce(sum(col(countCol)), lit(0L)), lit(1L))
        .cast("long").as("_C"))
    val base = counts.crossJoin(broadcast(tot))
      .select(col(strataCol), col(countCol).cast("long").as("c"),
        expr(s"(${total}L * CAST($countCol AS BIGINT)) div _C")
          .as("_base"),
        expr(s"(${total}L * CAST($countCol AS BIGINT)) % _C").as("_rem"))
    // leftover = total − Σ base; strata-sized frame, one-row broadcast
    val left = base
      .agg((lit(total) - coalesce(sum("_base"), lit(0L))).as("_left"))
    // remainder rank WITHOUT a window: a lit-keyed partitionBy constant-
    // folds to an empty spec (single-partition WindowExec — the q_zipf
    // lesson); the frame is strata-sized by contract, so rank via the
    // coalesce(1) + sorted monotonically_increasing_id convention
    base.crossJoin(broadcast(left))
      .coalesce(1)
      .sortWithinPartitions(col("_rem").desc, col(strataCol).asc)
      .withColumn("_rn", monotonically_increasing_id() + 1)
      .select(col(strataCol), col("c"),
        (col("_base") + when(col("_rn") <= col("_left"), 1L)
          .otherwise(0L)).as("quota"))
  }

  /** Draw EXACTLY the [[apportion]] quota from each stratum: rows rank
    * by a salted md5 clock within their stratum (deterministic,
    * append-stable in distribution, layout-independent) and keep rank ≤
    * quota. The per-stratum rank is a window PARTITIONED on the stratum
    * — corpus-wide but parallel; the quota join is a broadcast of the
    * strata-sized apportionment. Strata smaller than their quota yield
    * all their rows (the apportionment should then be re-run on real
    * counts — quotas from this corpus's own counts can never exceed c).
    */
  def apportionedSample(df: DataFrame, strataCol: String, idCol: String,
      total: Long, salt: String = "apportion"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("c"))
    val quotas = apportion(counts, total, strataCol, "c")
      .select(col(strataCol), col("quota"))
    df.join(broadcast(quotas), Seq(strataCol))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col(strataCol))
          .orderBy(hashKey(col(idCol), salt), col(idCol))))
      .where(col("_rn") <= col("quota"))
      .drop("_rn", "quota")
  }

  /** Perplexity-bucket mixing — "sample by model signal", the shape of
    * perplexity-filtered curation (keep the clean text, thin the weird
    * tail) and DSIR-style importance mixing. `scored` carries one model
    * score per row (e.g. [[TextAnalysis.surprisalScores]]'s
    * avg_surprisal); rows are bucketed 1..rates.length by the
    * corpus-wide distribution of that score: bucket = floor(n · the
    * fraction of rows scoring STRICTLY below) + 1, so ties share the
    * LOWEST bucket consistent with their position (all-identical
    * scores ⇒ everyone bucket 1 — a keep-the-head policy can then
    * never silently drop a homogeneous corpus, where inclusive
    * cume_dist semantics would put every row in the top bucket), and
    * bucket i keeps a deterministic [[hashSample]]-style fraction of
    * rates(i−1). Returns the mix decision (id, score, bucket); semi-join
    * the corpus by id to apply it. Null-score rows are EXCLUDED — from
    * the output and from the quantile denominator (they carry no model
    * signal to bucket by; keeping or dropping them is the caller's
    * explicit policy, applied via anti-join on this decision).
    *
    * Scale shape: NO corpus-wide window. The cumulative distribution is
    * computed over the DISTINCT-score dictionary (grouped counts + a
    * DISTRIBUTED prefix sum: sketch-range-partitioned windows plus
    * driver-folded per-partition offsets — see [[perplexityBuckets]];
    * never a corpus- or dictionary-sized single partition for numeric
    * scores, and fail-fast above 2^22 distinct values for non-numeric
    * ones), rows join that dictionary on the score
    * value (AQE broadcasts it while it fits), and the keep filter is
    * the usual pushed-down hash predicate. The default salt
    * decorrelates the keep decision from plain [[hashSample]] runs over
    * the same ids. The (id, score) projection is persisted for the
    * call's two consumers and NOT unpersisted (same contract as
    * [[Retrieval.bm25]]): a driver looping many fits should
    * `spark.catalog.clearCache()` between them, or fit once with
    * [[perplexityBuckets]] and serve every later batch through
    * [[perplexityMixApply]], which caches nothing.
    */
  def perplexityMix(scored: DataFrame, idCol: String, scoreCol: String,
      rates: Seq[Double], salt: String = "ppl"): DataFrame = {
    require(rates.nonEmpty, "perplexityMix: need at least one bucket rate")
    // null scores carry no model signal: excluded up front so they
    // neither inflate the quantile denominator nor silently vanish at
    // the equi-join below — unscorable rows are the CALLER's policy
    // decision, not a skew on everyone else's bucket.
    // persist: the (id, score) projection feeds BOTH the dictionary
    // build and the output join — without it an expensive upstream
    // scorer (the surprisal chain in q_ppl_mix) runs twice per call
    // (plan-audited). Lineage stays intact (the bm25 persist argument);
    // (id, score) is two narrow columns, MEMORY_AND_DISK spills fine.
    val real = scored.where(col(scoreCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    perplexityMixApply(real,
      perplexityBuckets(real, scoreCol, rates.length),
      idCol, scoreCol, rates, salt)
  }

  /** The quantile-bucket dictionary behind [[perplexityMix]], exposed as
    * its own artifact for the train/serve split: fit the (score →
    * bucket) mapping on a reference corpus once, persist it, and apply
    * it to later batches or a live STREAM with [[perplexityMixApply]] —
    * the model-signal analogue of serving from a standing index. One
    * row per distinct score; bucket = floor(strictly-below-fraction · n)
    * + 1 over the reference distribution (tie-safe — see
    * [[perplexityMix]]). Null scores are ignored.
    */
  /** Fail-fast bound for the non-numeric-score fallback path, which still
    * runs the dictionary prefix sum on one partition (there is no
    * fixed-size percentile sketch for arbitrary orderable types). 2^22
    * distinct scores ≈ a few hundred MB of window state — well inside one
    * executor; beyond it the caller is told to discretize the score.
    */
  private val MAX_ORDINAL_DICT = 1 << 22

  def perplexityBuckets(scored: DataFrame, scoreCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"perplexityBuckets: need n >= 1 buckets, got $n")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.NumericType
    // materialize the distinct-score dictionary: it feeds both the
    // running sum and the Σ total, and referencing the aggregate
    // subtree on both crossJoin sides re-runs the corpus scan twice
    // (the q_heavy_hitters / temperatureMix lesson)
    val counts = scored.where(col(scoreCol).isNotNull)
      .groupBy(scoreCol).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // Running count over the distinct-score dictionary: rows with score
    // ≤ this one, ties included — exactly cume_dist's numerator. The
    // round-8 verdict's latent hazard was computing it with ONE
    // unpartitioned Window.orderBy — safe only while callers rounded the
    // score so the dictionary stayed small, and nothing enforced that.
    // For any numeric score the sum is the shared ADAPTIVE distributed
    // prefix sum ([[PrefixSum.cumulative]] — the same machinery behind
    // the classifier-eval score dictionary): range
    // buckets that grow with the dictionary, within-bucket windows,
    // broadcast offsets. No corpus- or dictionary-sized single partition
    // at ANY score cardinality.
    val isNumeric =
      counts.schema(counts.schema.fieldIndex(scoreCol))
        .dataType.isInstanceOf[NumericType]
    val cum =
      if (!isNumeric) {
        // arbitrary orderable scores (strings, …): no sketch available —
        // keep the single-partition form but ENFORCE the bounded
        // dictionary it silently assumed (counts is checkpointed, so
        // this count() is a metadata-cheap scan of materialized rows)
        val d = counts.count()
        require(d <= MAX_ORDINAL_DICT,
          s"perplexityBuckets: $d distinct non-numeric scores exceeds " +
            s"$MAX_ORDINAL_DICT — the dictionary prefix sum would move " +
            "them to one partition. Discretize the score (round/truncate) " +
            "or cast it numeric to get the distributed sketch path.")
        counts.withColumn("_cum",
          sum("c").over(Window.orderBy(col(scoreCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      } else {
        // the prefix-sum RANGE key is the DOUBLE cast (the PrefixSum
        // convention), but the within-bucket window orders by the
        // ORIGINAL score as the exact tiebreak: distinct integral/
        // decimal scores past 2^53 collide under the cast, and without
        // the tie column their within-tie cumulative sums (and so the
        // bucket assignment) would be nondeterministic
        PrefixSum.cumulative(
          counts.withColumn("_sd", col(scoreCol).cast("double")),
          "_sd", Seq("c" -> "_cum"), tieCol = Some(scoreCol)).drop("_sd")
      }
    // bucket from the STRICTLY-BELOW fraction, floor(strict·n/N)+1, not
    // ceil(cume_dist·n): with inclusive-ties semantics a score shared by
    // many rows is pushed into the TOP bucket (all-identical scores ⇒
    // bucket n ⇒ a "drop the worst bucket" policy silently drops the
    // whole corpus). Under strict-below, ties land in the LOWEST bucket
    // consistent with their position — a row is only in bucket b+1 once
    // MORE than b/n of the corpus scores strictly below it, so
    // homogeneous corpora keep everything under any keep-prefix.
    cum
      .crossJoin(broadcast(counts.agg(sum("c").cast("double").as("n_all"))))
      .select(col(scoreCol),
        (floor((col("_cum") - col("c")) * n / col("n_all")).cast("int") + 1)
          .as("bucket"))
  }

  /** Apply a fitted [[perplexityBuckets]] dictionary to scored rows —
    * batch or STREAMING (a stream-static equi-join on the score value
    * plus a pushed-down hash predicate; no watermark or state needed,
    * so it runs append-mode as-is). Scores outside the fitted
    * dictionary (unseen values, e.g. fresher crawl than the reference
    * corpus) drop with the equi-join — refit the dictionary on the
    * cadence the score distribution drifts, the corpusStats staleness
    * policy. Null scores drop likewise.
    */
  def perplexityMixApply(scored: DataFrame, buckets: DataFrame,
      idCol: String, scoreCol: String, rates: Seq[Double],
      salt: String = "ppl"): DataFrame = {
    require(rates.nonEmpty, "perplexityMixApply: need at least one rate")
    require(rates.forall(r => r >= 0.0 && r <= 1.0),
      s"perplexityMixApply: rates must be in [0,1], got $rates")
    // bucket ids outside [1, rates.length] mean the dictionary was
    // fitted with a different bucket count than `rates` describes (a
    // config/refit mismatch): those rows DROP like unseen scores —
    // under ANSI mode a raw element_at would instead throw
    // INVALID_ARRAY_INDEX mid-batch and kill a serving stream
    val thresholds = when(
      col("bucket").between(1, rates.length),
      element_at(array(rates.map(r => lit(hexThreshold(r))): _*),
        col("bucket")))
    scored.join(buckets, Seq(scoreCol))
      .where(hashKey(col(idCol), salt) < thresholds)
      .select(col(idCol), col(scoreCol), col("bucket"))
  }

  /** Fractional-epoch upsampling — the dual of downsampling in a data
    * recipe: "2.5 epochs of books, 0.3 of web" repeats every stratum-s
    * row ⌊e_s⌋ times and gives a deterministic e_s−⌊e_s⌋ hash-fraction of
    * its rows one extra copy, so the expected duplication per stratum is
    * exactly e_s and the CHOICE of extra-copy rows is a pure function of
    * the data (re-runs, retries, and engines agree — the same argument as
    * [[hashSample]]; an RNG draw would make every recovery a different
    * mixture). Emits every input column plus `epoch` (0-based copy
    * index) so downstream order shuffling can decorrelate the copies;
    * e_s = 0 drops the stratum.
    *
    * Scale shape: scan-stage only — the per-row copy count is a constant
    * fold over the strata map plus one hash compare, and the explode is
    * narrow; nothing shuffles. Output volume is Σ e_s·|s| rows, the
    * price of upsampling itself, not of this operator.
    */
  def epochUpsample(docs: DataFrame, strataCol: String,
      epochs: Map[String, Double], defaultEpochs: Double = 1.0,
      idCol: String = "doc_id", salt: String = ""): DataFrame = {
    require((epochs.values ++ Seq(defaultEpochs)).forall(e => e >= 0.0 && e <= 1024.0),
      s"epochs must be in [0, 1024], got $epochs / $defaultEpochs")
    def whole(e: Double): Int = math.floor(e).toInt
    def fracThr(e: Double): String = hexThreshold(e - math.floor(e))
    val base = epochs.foldLeft(lit(whole(defaultEpochs))) {
      case (acc, (s, e)) => when(col(strataCol) === s, lit(whole(e))).otherwise(acc)
    }
    val thr = epochs.foldLeft(lit(fracThr(defaultEpochs))) {
      case (acc, (s, e)) => when(col(strataCol) === s, lit(fracThr(e))).otherwise(acc)
    }
    docs
      .withColumn("_n_copies",
        base + (hashKey(col(idCol), salt) < thr).cast("int"))
      .where(col("_n_copies") > 0)
      .select(docs.columns.map(col).toSeq :+
        explode(sequence(lit(0), col("_n_copies") - 1)).as("epoch"): _*)
  }

  /** Deterministic global corpus shuffle into `16^shardHexDigits` training
    * shards — the "randomize training order reproducibly" op. Reading
    * shards in shard order, rows in `pos` order, replays the corpus in
    * EXACTLY ascending hash order: the shard id is the hash's leading hex
    * digit(s), so shards are contiguous ranges of the hash space and
    * (shard, pos) is a globally consistent random permutation — computed
    * without any global window.
    *
    * Scale shape: one hash-partitioned window per shard moving (id, hash)
    * pairs only; shard count picks parallelism (4 digits = 65 536 shards
    * for a 1000-executor sort). Retry/layout/engine independent like every
    * hash op here. If the corpus is ALSO hash-sampled, use different
    * `salt`s for sample and shuffle — with the same salt the sample is a
    * hash-space prefix, i.e. exactly the first shards.
    */
  def deterministicShuffle(docs: DataFrame, idCol: String,
      shardHexDigits: Int = 1, salt: String = ""): DataFrame = {
    require(shardHexDigits >= 1 && shardHexDigits <= 4,
      s"shardHexDigits must be in [1,4], got $shardHexDigits")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("_hk"), col(idCol))
    docs.select(col(idCol), hashKey(col(idCol), salt).as("_hk"))
      .withColumn("shard", shardFromHash(shardHexDigits).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Hex digit i of the `_hk` hash column (hash chars start at position 2
    * after the fixed '0' pad) → int, composed most-significant-first —
    * shards are contiguous hash ranges (the [[deterministicShuffle]]
    * invariant, shared with [[curriculumOrder]]).
    */
  private def shardFromHash(shardHexDigits: Int): Column =
    (0 until shardHexDigits).map { i =>
      (expr(s"locate(substring(_hk, ${2 + i}, 1), '0123456789abcdef')") - 1) *
        (1 << (4 * (shardHexDigits - 1 - i)))
    }.reduce(_ + _)

  /** Curriculum training order — easy-to-hard staging by a model score
    * (readability, perplexity, loss): rows bucket into `nStages` stages by
    * the corpus-wide score distribution ([[perplexityBuckets]] — stage 1 =
    * lowest scores), and WITHIN each stage get a deterministic
    * (shard, pos) replay order (the [[deterministicShuffle]] form — random
    * order within a stage, stages read in sequence). The trainer reads
    * stage 1's shards first, then stage 2's: ordered difficulty between
    * stages, shuffled difficulty within.
    *
    * Scale shape: the stage dictionary is the distributed-prefix-sum
    * bucket fit (no corpus window at any score cardinality); rows join it
    * on the score value (AQE broadcasts it); the within-stage rank windows
    * on (stage, shard) — `nStages · 16^shardHexDigits` parallel groups,
    * each moving (id, hash) pairs only. Returns (id, score, stage, shard,
    * pos). Null-score rows drop (no signal to stage by — the
    * [[perplexityMix]] policy). The (id, score) projection is persisted
    * for its two consumers (bucket fit + output join) and NOT unpersisted
    * — the same `spark.catalog.clearCache()` caller contract as
    * [[perplexityMix]].
    */
  def curriculumOrder(scored: DataFrame, idCol: String, scoreCol: String,
      nStages: Int, shardHexDigits: Int = 1,
      salt: String = "cur"): DataFrame = {
    require(nStages >= 1, s"curriculumOrder: need nStages >= 1, got $nStages")
    require(shardHexDigits >= 1 && shardHexDigits <= 4,
      s"shardHexDigits must be in [1,4], got $shardHexDigits")
    import org.apache.spark.sql.expressions.Window
    val real = scored.where(col(scoreCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stages = perplexityBuckets(real, scoreCol, nStages)
      .withColumnRenamed("bucket", "stage")
    val w = Window.partitionBy(col("stage"), col("shard"))
      .orderBy(col("_hk"), col(idCol))
    real.join(stages, Seq(scoreCol))
      .withColumn("_hk", hashKey(col(idCol), salt))
      .withColumn("shard", shardFromHash(shardHexDigits).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col(idCol), col(scoreCol), col("stage"), col("shard"),
        col("pos"))
  }

  /** Ratio-faithful interleaved training order — stride scheduling over
    * sources: each stratum's rows get a deterministic in-stratum rank
    * (hash, id — decorrelated from corpus order), and row k of a stratum
    * with weight w is assigned virtual time (k+1)/w. Sorting the output
    * by (vtime, stratum, id) yields a global order whose every PREFIX
    * holds the strata in weight proportion (a weight-2 source appears
    * twice as often as a weight-1 source at any cut) — the mixture
    * SCHEDULE that temperature/domain mixing decides rates for. The sort
    * itself is left to the consumer: Spark's orderBy is a distributed
    * range-partitioned sort, whereas materializing a global position
    * would need a corpus-wide window (the deterministicShuffle
    * rationale). vtime is exact: an integer rank divided by a literal
    * weight computes identically everywhere.
    *
    * Strata absent from `weights` take `defaultWeight`; weight 0 drops
    * the stratum. Scale shape: one per-stratum window (hash exchange on
    * the stratum key) and scan-stage arithmetic — no joins, no global
    * window. Returns (strataCol, idCol, stratum_rank, vtime).
    */
  def interleavedOrder(docs: DataFrame, strataCol: String, idCol: String,
      weights: Map[String, Double], defaultWeight: Double = 1.0,
      salt: String = "ord"): DataFrame = {
    require(weights.values.forall(_ >= 0.0) && defaultWeight >= 0.0,
      s"weights must be non-negative: $weights / $defaultWeight")
    import org.apache.spark.sql.expressions.Window
    val w = weights.foldLeft(lit(defaultWeight)) { case (acc, (s, wt)) =>
      when(col(strataCol) === s, lit(wt)).otherwise(acc)
    }
    val rk = Window.partitionBy(col(strataCol))
      .orderBy(col("_hk"), col(idCol))
    docs.select(col(strataCol), col(idCol),
        hashKey(col(idCol), salt).as("_hk"), w.as("_w"))
      .where(col("_w") > 0)
      .withColumn("stratum_rank", row_number().over(rk))
      .select(col(strataCol), col(idCol), col("stratum_rank"),
        (col("stratum_rank").cast("double") / col("_w")).as("vtime"))
  }

  /** Deterministic train/validation/test split: assigns each row a split
    * label by hash position — disjoint, exhaustive, and stable under
    * re-runs (no row ever migrates between splits when data is appended,
    * unlike randomSplit).
    */
  def hashSplit(df: DataFrame, idCol: String, trainRate: Double,
      validRate: Double, salt: String = ""): DataFrame =
    df.withColumn("split", splitLabel(col(idCol), trainRate, validRate, salt))

  /** The ONE split-label expression [[hashSplit]] and [[clusterSplit]]
    * share: hash-position thresholds over the 9-digit hex key.
    */
  private def splitLabel(key: Column, trainRate: Double, validRate: Double,
      salt: String): Column = {
    val k = hashKey(key, salt)
    when(k < lit(hexThreshold(trainRate)), "train")
      .when(k < lit(hexThreshold(trainRate + validRate)), "valid")
      .otherwise("test")
  }

  /** Cluster-respecting split — the FIX for what
    * [[graft.ops.Dedup.splitLeakagePairs]] audits: a per-document hash
    * split scatters near-duplicate copies across train/valid/test, so the
    * model is evaluated on paraphrases of its own training data. Here the
    * split key is the CLUSTER id, so every member of a duplicate cluster
    * lands in the same split by construction; documents without a cluster
    * row (singletons — the overwhelming majority, so cluster frames stay
    * small) fall back to their own id, which keeps their assignment
    * identical to [[hashSplit]]'s when cluster ids are representative doc
    * ids in the same key space.
    *
    * `clusters`: (idCol, clusterCol) mapping, normally exact-fingerprint
    * groups or [[graft.ops.Dedup.canonicalPerCluster]]'s near-dup
    * survivor mapping, listing only multi-member clusters. Returns `df`'s
    * rows + (clusterCol, split).
    *
    * Scale shape: one id-keyed join (cluster frame is dup-members-sized,
    * AQE broadcasts while small) + a scan-stage label expression — same
    * append-stability as [[hashSplit]]: no row migrates when data grows,
    * and a new cluster member inherits its cluster's standing split.
    */
  def clusterSplit(df: DataFrame, clusters: DataFrame, trainRate: Double,
      validRate: Double, idCol: String = "doc_id",
      clusterCol: String = "cluster_id", salt: String = ""): DataFrame =
    df.join(clusters, Seq(idCol), "left")
      .withColumn("split",
        splitLabel(coalesce(col(clusterCol), col(idCol)).cast("string"),
          trainRate, validRate, salt))

  /** Exact-k weighted sample WITHOUT replacement per stratum — the
    * Efraimidis–Spirakis A-ES draw phrased as an exponential race: each
    * row gets a clock `-ln(u)/w` where `u` is a deterministic uniform in
    * (0,1) from its hashed id and `w` its weight; the k SMALLEST clocks
    * per stratum are exactly a weight-proportional without-replacement
    * sample (the classic `u^(1/w)` key is the monotone transform
    * `exp(-clock)`). This is the missing third form next to
    * [[stratifiedHashSample]] (fraction, not exact-k) and
    * [[tokenBudgetMix]] (budget, hash-uniform): "exactly k docs per
    * source, preferring high-weight ones, reproducibly". With a constant
    * weight column it degenerates to a uniform per-stratum QUOTA CAP.
    *
    * Deterministic and append-stable: `u` depends only on (salt, id), so
    * re-runs and engine ports agree, and a newly appended row enters the
    * sample only by beating an incumbent's clock — no global reshuffle of
    * the randomness (the [[hashSample]] retry-stability argument).
    *
    * Scale shape: the clock is a scan-stage expression over (stratum, id,
    * weight) — text never moves — and the rank-filter window compiles to
    * WindowGroupLimit partial top-k BELOW the exchange (verified in the
    * plan: each map task forwards at most k rows per stratum), so the
    * per-stratum final sort sees ≤ k·partitions rows no matter how big
    * the corpus is. Rows with weight ≤ 0 or null are excluded (no valid
    * clock — same policy as [[perplexityMix]]'s null scores).
    */
  def weightedSample(df: DataFrame, strataCol: String, idCol: String,
      weightCol: String, k: Int, salt: String = ""): DataFrame =
    weightedSampleRows(df, strataCol, idCol, weightCol, k, salt)
      .select(col(strataCol), col(idCol),
        round(col("clock"), 4).as("clock"), col("rn"))

  /** The A-ES race clock: -ln(u)/w with u a 32-bit md5 uniform centered
    * off 0 — u = (v + 0.5) / 2^32 ∈ (0,1) exactly, so ln never sees an
    * endpoint. Shared by the per-stratum race and [[matchDistribution]].
    */
  private def raceClock(idCol: String, weightCol: String,
      salt: String): Column = {
    val v = conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))),
      1, 8), 16, 10).cast("double")
    val u = (v + lit(0.5)) / lit(4294967296.0)
    -log(u) / col(weightCol).cast("double")
  }

  /** [[weightedSample]] carrying the weight column through and the clock
    * unrounded — the self-contained STATE row for merge/serve paths (a
    * clock is a pure function of (salt, id, weight), so a sample row
    * plus its weight replays its own draw exactly).
    */
  def weightedSampleRows(df: DataFrame, strataCol: String, idCol: String,
      weightCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"weightedSample: k must be positive, got $k")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("clock").asc, col(idCol).asc)
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(strataCol), col(idCol), col(weightCol),
        raceClock(idCol, weightCol, salt).as("clock"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
  }

  /** Fold new rows into a standing k-per-stratum sample: the A-ES race
    * is prefix-decomposable — top-k(top-k(A) ∪ B) = top-k(A ∪ B) — so
    * merging a batch against the k·strata STATE rows reproduces the
    * full-history draw exactly without ever revisiting history. This is
    * the distributed-shard combine AND the streaming maintenance step in
    * one identity (the mergeable-sketch shape: state is k rows per
    * stratum, forever).
    */
  def weightedSampleMerge(state: DataFrame, batch: DataFrame,
      strataCol: String, idCol: String, weightCol: String, k: Int,
      salt: String = ""): DataFrame =
    weightedSampleRows(
      state.select(col(strataCol), col(idCol), col(weightCol))
        .unionByName(batch.select(col(strataCol), col(idCol), col(weightCol))),
      strataCol, idCol, weightCol, k, salt)

  /** Importance resampling to MATCH a reference distribution — the
    * actionable fix for what [[graft.ops.TextAnalysis.distributionDrift]]
    * detects: draw exactly `k` documents from this corpus such that the
    * sample's `valueCol` histogram tracks the stored reference's, by
    * weighting each document with the per-bucket likelihood ratio
    * (ref share / current share, both +0.5-smoothed like the drift
    * monitor) and running the [[weightedSample]] race. Over-represented
    * buckets get weight < 1, under-represented > 1; the draw stays exact-k,
    * deterministic, and append-stable.
    *
    * `refCounts` is a [[graft.ops.TextAnalysis.bucketCounts]] artifact
    * built with the SAME `edges`. Engine-exactness: the weight is a
    * composition of divisions of exactly-representable numbers
    * (integer + 0.5), identical in any IEEE engine; the clock then
    * follows the [[weightedSample]] argument. Scale shape: the K-row
    * weight table broadcasts onto a scan-stage bucket expression; the
    * global exact-k is TakeOrderedAndProject (per-partition heaps — a
    * single-stratum rank-filter window would drag every clock to one
    * partition and WARN, the q_shard_manifest lesson), so no global
    * sort and no rank column: membership and clocks are the output,
    * rank is derivable.
    */
  def matchDistribution(docs: DataFrame, refCounts: DataFrame,
      valueCol: String, edges: Seq[Double], k: Int, idCol: String,
      salt: String = ""): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted,
      s"matchDistribution: edges must be non-empty ascending, got $edges")
    require(k > 0, s"matchDistribution: k must be positive, got $k")
    val nb = edges.length + 1
    val bucket = edges.foldLeft(lit(0))((acc, e) =>
      acc + (col(valueCol) >= lit(e)).cast("int"))
    val cur = graft.ops.TextAnalysis.bucketCounts(docs, valueCol, edges)
      .select(col("bucket"), col("cnt").as("cur_cnt"))
    val refTot = refCounts.agg(sum("cnt").as("ref_n"))
    val curTot = cur.agg(sum("cur_cnt").as("cur_n"))
    val weights = refCounts.select(col("bucket"), col("cnt").as("ref_cnt"))
      .join(cur, Seq("bucket"))
      .crossJoin(broadcast(refTot)).crossJoin(broadcast(curTot))
      .select(col("bucket"),
        (((col("ref_cnt") + lit(0.5)) / (col("ref_n") + lit(0.5) * nb)) /
          ((col("cur_cnt") + lit(0.5)) / (col("cur_n") + lit(0.5) * nb)))
          .as("w"))
    docs.where(col(valueCol).isNotNull)
      .select(col(idCol), bucket.as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .where(col("w") > 0)
      .select(col(idCol), raceClock(idCol, "w", salt).as("clock"))
      .orderBy(col("clock").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), round(col("clock"), 4).as("clock"))
  }
}
