package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the C4-style cleaning pipeline — cheap
  * quality filters, then exact dedup — composed from this library's
  * operators as ONE lazy plan.
  *
  * Shape at 100 TB: the quality metrics are pure expressions computed in
  * the scan stage (no join against a metrics table — recomputing the
  * tokenizer beats shuffling the corpus to meet its own metrics), the
  * filter drops most rows BEFORE anything shuffles, and the dedup decision
  * shuffles only (16-byte fingerprint, doc_id) pairs. The corpus text
  * itself never moves: survivors are selected by a final id semi-join.
  */
object Curation {

  /** Survivor selection shared by v1/v2: exact dedup over the passed rows
    * (lowest doc_id per fingerprint wins), applied as an id-only semi-join.
    * One shuffle of (md5, id) pairs; the full rows are filtered in place
    * and the corpus text never moves.
    */
  private def dedupSurvivors(passed: DataFrame): DataFrame = {
    val keepers = passed
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    passed.join(keepers, Seq("doc_id"), "left_semi")
  }

  /** Documents surviving quality filtering + exact dedup (lowest doc_id per
    * normalized-content fingerprint survives). Returns the surviving rows
    * of `docs` unchanged.
    */
  def cleanCorpus(docs: DataFrame, minTokens: Int = 10,
      maxNonAlnum: Double = 0.35, maxStopword: Double = 0.7): DataFrame =
    // round 17b measured-and-rejected (guide §1): a kernel fan before the
    // gate ablated +0.49 s (v2: +0.47) despite the double evaluation of
    // `passed` — the gate ladder is still too cheap per row for two
    // 32-way exchanges of the doc text.
    dedupSurvivors(docs.where(TextAnalysis.curationGate(col("text"),
      lit(minTokens), maxNonAlnum, maxStopword, langLabel = None)))

  /** [[cleanCorpus]] followed by sub-document span dedup — the full
    * C4-style recipe: quality gates, whole-document dedup, then removal of
    * boilerplate spans duplicated ACROSS the surviving documents (the step
    * document-level dedup cannot see). Output: every surviving document
    * with its reconstructed text plus span-retention counts.
    */
  def cleanCorpusSpans(docs: DataFrame, minTokens: Int = 10,
      maxNonAlnum: Double = 0.35, maxStopword: Double = 0.7,
      spanTokens: Int = 20): DataFrame =
    Dedup.spanDedup(cleanCorpus(docs, minTokens, maxNonAlnum, maxStopword),
      spanTokens, carry = Seq("lang", "source"))

  /** The curation summary: per-(lang, source) survivor counts — the report
    * a data team reads after a cleaning run.
    */
  def cleanCorpusStats(docs: DataFrame, minTokens: Int = 10,
      maxNonAlnum: Double = 0.35, maxStopword: Double = 0.7): DataFrame =
    cleanCorpus(docs, minTokens, maxNonAlnum, maxStopword)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_kept"))

  /** [[cleanCorpus]] v2 — the production knobs real curation runs need on
    * a multi-source crawl:
    *   - per-SOURCE minimum-length thresholds (a trusted source keeps short
    *     documents; a noisy crawl needs a higher bar), falling back to
    *     `defaultMinTokens`;
    *   - a language-agreement gate: drop documents whose predicted language
    *     ([[TextAnalysis.predLang]], same classifier as q_lang_id) disagrees
    *     with the source-provided label — the standard mislabeled-document
    *     filter.
    *
    * Both are pure scan-stage expressions (the threshold lookup is a
    * broadcast-free CASE over the tiny source map; the prediction is inline
    * — no join of the corpus against its own metadata), so everything still
    * filters BEFORE the dedup shuffle, exactly like v1.
    */
  def cleanCorpusV2(docs: DataFrame,
      minTokensBySource: Map[String, Int],
      defaultMinTokens: Int = 10,
      maxNonAlnum: Double = 0.35, maxStopword: Double = 0.7): DataFrame = {
    val minTok = minTokensBySource.toSeq match {
      case Seq() => lit(defaultMinTokens)
      case (src0, n0) +: rest =>
        rest.foldLeft(when(col("source") === src0, lit(n0))) {
          case (acc, (src, n)) => acc.when(col("source") === src, lit(n))
        }.otherwise(lit(defaultMinTokens))
    }
    dedupSurvivors(docs.where(TextAnalysis.curationGate(col("text"),
      minTok, maxNonAlnum, maxStopword, langLabel = Some(col("lang")))))
  }

  /** Per-(lang, source) survivor counts for [[cleanCorpusV2]]. */
  def cleanCorpusV2Stats(docs: DataFrame,
      minTokensBySource: Map[String, Int],
      defaultMinTokens: Int = 10,
      maxNonAlnum: Double = 0.35, maxStopword: Double = 0.7): DataFrame =
    cleanCorpusV2(docs, minTokensBySource, defaultMinTokens, maxNonAlnum,
      maxStopword)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_kept"))

  /** v3 — the FULL C4-style recipe with its per-stage attrition report:
    * quality gates → exact dedup → sorted-neighborhood NEAR-dup cluster
    * drop (the stage v1/v2 stop short of) → sub-document span dedup over
    * the survivors. Output: one (stage, n) row per stage — document counts
    * for s1-s4, span counts for s5 — the drop-rate readout a data team
    * inspects after a cleaning run.
    *
    * Scale shape: each stage composes operators that individually carry
    * their 100 TB contract (scan-stage gates, fingerprint-only and
    * candidate-set-only shuffles, span text never moving); the counts are
    * one aggregate per stage over the lazily-shared plan prefix.
    */
  def cleanCorpusV3Stats(docs: DataFrame, minTokens: Int = 10,
      maxNonAlnum: Double = 0.35, maxStopword: Double = 0.7,
      snmThreshold: Double = 0.9, spanTokens: Int = 20): DataFrame =
    recipeStats(docs, None, None, minTokens, maxNonAlnum, maxStopword,
      snmThreshold, spanTokens)

  /** v4 — v3 plus benchmark decontamination between near-dup removal and
    * span dedup: documents sharing token n-grams with `evalSet` are dropped
    * ([[Decontam.decontaminate]]) so a model trained on the output can't
    * memorize its own eval. Decontamination runs AFTER dedup (the standard
    * order: dedup first shrinks the gram-generation input; contamination is
    * per-document, so removing duplicates first can't change any surviving
    * document's verdict) and before span rewriting (grams must be matched
    * against ORIGINAL text, not span-reconstructed text). Adds one
    * `s5_decontam` stage row; span rows become s6.
    */
  def cleanCorpusV4Stats(docs: DataFrame, evalSet: DataFrame,
      minTokens: Int = 10, maxNonAlnum: Double = 0.35,
      maxStopword: Double = 0.7, snmThreshold: Double = 0.9,
      spanTokens: Int = 20, contamN: Int = 13,
      prefix: Option[DataFrame] = None): DataFrame =
    recipeStats(docs, Some((evalSet, contamN)), None, minTokens, maxNonAlnum,
      maxStopword, snmThreshold, spanTokens, prefix = prefix)

  /** v5 — v4 plus a perplexity-percentile gate between decontamination
    * and span rewriting: unigram surprisal is fitted over the decontam
    * SURVIVORS ([[TextAnalysis.surprisalScores]] — the corpus's own LM,
    * so the gate needs no external model), documents bucket into
    * `pplBuckets` quantiles of that distribution, and only buckets
    * ≤ `pplKeepUpTo` survive — the "drop the weirdest tail by model
    * signal" stage every modern curation stack runs, here with 0/1
    * bucket rates so the decision is fully deterministic (the
    * fractional-rate form is [[Sampling.perplexityMix]] directly).
    * Fitting on survivors, not raw input, is deliberate: boilerplate
    * and near-dups removed upstream would otherwise drag the
    * distribution toward their own repetitive token statistics. Adds a
    * `s6_perplexity` stage row; span rows become s7. Zero-token
    * documents carry no surprisal signal and drop at this stage.
    */
  def cleanCorpusV5Stats(docs: DataFrame, evalSet: DataFrame,
      minTokens: Int = 10, maxNonAlnum: Double = 0.35,
      maxStopword: Double = 0.7, snmThreshold: Double = 0.9,
      spanTokens: Int = 20, contamN: Int = 13,
      pplBuckets: Int = 5, pplKeepUpTo: Int = 4,
      prefix: Option[DataFrame] = None): DataFrame = {
    require(pplKeepUpTo >= 1 && pplKeepUpTo <= pplBuckets,
      s"cleanCorpusV5Stats: need 1 <= pplKeepUpTo <= pplBuckets, " +
        s"got $pplKeepUpTo/$pplBuckets")
    recipeStats(docs, Some((evalSet, contamN)),
      Some((1 to pplBuckets).map(b => if (b <= pplKeepUpTo) 1.0 else 0.0)),
      minTokens, maxNonAlnum, maxStopword, snmThreshold, spanTokens,
      prefix = prefix)
  }

  /** v6 — v5 with FRACTIONAL per-bucket perplexity rates instead of the
    * hard keep/drop prefix: bucket i of the surprisal distribution keeps a
    * deterministic hash-fraction `pplRates(i-1)` of its documents (the
    * [[Sampling.perplexityMixApply]] predicate — retry-stable, engine-
    * reproducible, no RNG state). "Keep the clean text wholesale, THIN the
    * weird tail instead of amputating it" — the soft version of v5's gate,
    * preserving some high-perplexity diversity (rare languages, code,
    * tables) that a hard cut destroys. The default keeps the first three
    * quintiles wholesale, half of the fourth, a tenth of the worst.
    */
  def cleanCorpusV6Stats(docs: DataFrame, evalSet: DataFrame,
      minTokens: Int = 10, maxNonAlnum: Double = 0.35,
      maxStopword: Double = 0.7, snmThreshold: Double = 0.9,
      spanTokens: Int = 20, contamN: Int = 13,
      pplRates: Seq[Double] = Seq(1.0, 1.0, 1.0, 0.5, 0.1),
      prefix: Option[DataFrame] = None): DataFrame = {
    require(pplRates.nonEmpty, "cleanCorpusV6Stats: need bucket rates")
    recipeStats(docs, Some((evalSet, contamN)), Some(pplRates), minTokens,
      maxNonAlnum, maxStopword, snmThreshold, spanTokens, prefix = prefix)
  }

  /** v8 — v6 plus a SEMANTIC decontamination stage between the lexical
    * one and the perplexity gate: documents whose hashed-vector cosine to
    * any eval document clears `semMinCos` are dropped even when they share
    * no n-gram with the benchmark (reworded eval items — the paraphrase
    * blind spot of s5). Callers wanting the v7 composition pass substring-
    * scrubbed docs, exactly as with v6.
    */
  def cleanCorpusV8Stats(docs: DataFrame, evalSet: DataFrame,
      minTokens: Int = 10, maxNonAlnum: Double = 0.35,
      maxStopword: Double = 0.7, snmThreshold: Double = 0.9,
      spanTokens: Int = 20, contamN: Int = 13,
      pplRates: Seq[Double] = Seq(1.0, 1.0, 1.0, 0.5, 0.1),
      semMinCos: Double = 0.9,
      prefix: Option[DataFrame] = None): DataFrame = {
    require(pplRates.nonEmpty, "cleanCorpusV8Stats: need bucket rates")
    recipeStats(docs, Some((evalSet, contamN)), Some(pplRates), minTokens,
      maxNonAlnum, maxStopword, snmThreshold, spanTokens,
      semDecontam = Some((evalSet, semMinCos)), prefix = prefix)
  }

  /** Length-bucket edges shared by the v9 resample stage and its oracle
    * (the q_drift edge convention).
    */
  private[graft] val RESAMPLE_EDGES = Seq(150.0, 250.0, 350.0, 450.0)

  /** v9 — v8 plus a final IMPORTANCE-RESAMPLE stage before span dedup:
    * the quality/perplexity gates skew the survivor LENGTH distribution
    * (short docs die at the token gate, odd lengths at the perplexity
    * gate); the resample draws exactly `kFinal` survivors whose length
    * histogram tracks the RAW corpus's — curation keeps its filters
    * without inheriting their length bias. Composed from
    * [[graft.ops.TextAnalysis.bucketCounts]] (reference = stage-1 raw) +
    * [[graft.ops.Sampling.matchDistribution]].
    */
  def cleanCorpusV9Stats(docs: DataFrame, evalSet: DataFrame,
      minTokens: Int = 10, maxNonAlnum: Double = 0.35,
      maxStopword: Double = 0.7, snmThreshold: Double = 0.9,
      spanTokens: Int = 20, contamN: Int = 13,
      pplRates: Seq[Double] = Seq(1.0, 1.0, 1.0, 0.5, 0.1),
      semMinCos: Double = 0.9, kFinal: Int = 50,
      prefix: Option[DataFrame] = None): DataFrame = {
    require(pplRates.nonEmpty, "cleanCorpusV9Stats: need bucket rates")
    recipeStats(docs, Some((evalSet, contamN)), Some(pplRates), minTokens,
      maxNonAlnum, maxStopword, snmThreshold, spanTokens,
      semDecontam = Some((evalSet, semMinCos)), resampleK = Some(kFinal),
      prefix = prefix)
  }

  private def recipeStats(docs: DataFrame,
      decontam: Option[(DataFrame, Int)],
      ppl: Option[Seq[Double]], minTokens: Int,
      maxNonAlnum: Double, maxStopword: Double,
      snmThreshold: Double, spanTokens: Int,
      semDecontam: Option[(DataFrame, Double)] = None,
      resampleK: Option[Int] = None,
      prefix: Option[DataFrame] = None): DataFrame = {
    // no fan at entry: every stage re-scans `docs` with a heavy row-pure
    // kernel (gate, fingerprints, SNM tokens, decontam grams, surprisal),
    // but after the one-checkpoint decision table landed (round 17) an
    // entry fan measured +0.73 s under the 5-pass warm ablation (the six
    // stage scans each pay the 32-way exchange's task tax on a sub-MB
    // local table). With a standing prefix table the shared stages are
    // flag scans of `p`, and the internal op-level fans
    // (spanFingerprints etc.) cover the heavy passes.
    // Each stage's DECISION is materialized as an id-only set
    // (localCheckpoint): six stage counts over a lazily-shared plan would
    // otherwise recompute the whole upstream chain per count — the span
    // aggregates alone re-ran gate+fingerprint+SNM twice each (measured
    // 2× end-to-end at sf0.1). Ids-and-booleans are decision-sized, not
    // corpus-sized — the same contract as nearDupClusters' checkpointed
    // label table; the corpus TEXT is still scanned exactly once per stage
    // that derives from it (gate, fingerprints, SNM tokens, spans) and
    // never shuffled. With a `prefix` table
    // ([[recipePrefixDecisions]]/[[recipePrefixSemExtend]] — normally a
    // STANDING artifact) the shared stages come from flag scans of the
    // materialized table instead: five recipe variants per snapshot then
    // pay the gate→dedup→SNM→decontam (→sem) chain once, not five times.
    def ids(df: DataFrame): DataFrame = df.select("doc_id").localCheckpoint()
    val (qualityIds, exactIds, nearIds, lastIds, semIds, prefixScored,
      prefixStageRows) =
    prefix match {
      case Some(p) =>
        require(decontam.isDefined,
          "recipeStats: a prefix table always covers the lexical " +
            "decontam stage — pass its config so stage naming matches")
        require(semDecontam.isEmpty == !p.columns.contains("sem"),
          "recipeStats: the prefix table's stages (sem flag present = " +
            "built by recipePrefixSemExtend) must match the semDecontam " +
            "argument — the score column is fitted on the LAST covered " +
            "stage's survivors")
        // ONE checkpoint of the whole decision table (round 17), not six:
        // the per-stage id-sets and the fitted scores are lazy WHERE
        // views of this single materialized frame — each stage count
        // then scans a decision-sized in-memory table instead of paying
        // its own checkpoint job (6 eager jobs → 1 per variant; the
        // v5–v9 family invokes this five times per snapshot). A caller
        // passing an UNMATERIALIZED recipePrefixDecisions result now
        // executes the gate→dedup→SNM→decontam chain exactly once here
        // (it previously ran once per flag checkpoint).
        val lastFlag = if (semDecontam.isDefined) "sem" else "dc"
        val pc = p.select(
          Seq(col("doc_id"), col("q"), col("ex"), col("nd"), col("dc")) ++
            (if (semDecontam.isDefined) Seq(col("sem")) else Nil) :+
            col("avg_surprisal"): _*)
          .localCheckpoint()
        val sel = (f: String) => pc.where(col(f)).select("doc_id")
        // round 17b: the five/six prefix-covered stage COUNTS come off ONE
        // aggregate over pc instead of one count job per stage (s1 = pc's
        // row count — identical to counting `docs` by the prefix contract:
        // the flag table carries every input document). Integer sums, so
        // the collapse cannot change any value; v5–v9 drop ~10 AQE jobs
        // each (34–51 jobs measured, mostly 1-task count stages).
        val flagNames = Seq("s1_raw" -> None, "s2_quality" -> Some("q"),
          "s3_exact_dedup" -> Some("ex"), "s4_near_dedup" -> Some("nd"),
          "s5_decontam" -> Some("dc")) ++
          (if (semDecontam.isDefined) Seq("s6_sem_decontam" -> Some("sem"))
           else Nil)
        val flagAggs = flagNames.zipWithIndex.map {
          case ((_, None), i)    => count(lit(1)).as(s"c$i")
          case ((_, Some(f)), i) =>
            coalesce(sum(col(f).cast("long")), lit(0L)).as(s"c$i")
        }
        val stackSql = s"stack(${flagNames.size}, " + flagNames.zipWithIndex
          .map { case ((nm, _), i) => s"'$nm', c$i" }.mkString(", ") +
          ") AS (stage, n)"
        val stageRows = pc.agg(flagAggs.head, flagAggs.tail: _*)
          .select(expr(stackSql))
        (sel("q"), sel("ex"), sel("nd"), sel("dc"), sel(lastFlag),
          Some(pc.where(col(lastFlag) && col("avg_surprisal").isNotNull)
            .select(col("doc_id"), col("avg_surprisal"))),
          Some(stageRows))
      case None =>
        val quality = docs.where(TextAnalysis.curationGate(col("text"),
          lit(minTokens), maxNonAlnum, maxStopword, langLabel = None))
        val qualityIds = ids(quality)
        val qualityDocs = docs.join(qualityIds, Seq("doc_id"), "left_semi")
        val exactIds = ids(dedupSurvivors(qualityDocs))
        val exactDocs = docs.join(exactIds, Seq("doc_id"), "left_semi")
        val nearIds = ids(Dedup.dedupCorpus(exactIds,
          Dedup.sortedNeighborPairs(exactDocs, threshold = snmThreshold)))
        // optional decontamination stage (v4): id-only decision like every
        // other stage — gram generation runs over the near-dedup SURVIVORS
        // only, and the eval gram set broadcasts (bounded benchmark)
        val lastIds = decontam match {
          case None => nearIds
          case Some((evalSet, n)) =>
            ids(Decontam.decontaminate(
              docs.join(nearIds, Seq("doc_id"), "left_semi")
                .select("doc_id", "text"),
              evalSet, "doc_id", "text", n))
        }
        // optional SEMANTIC decontamination stage (v8): paraphrase-robust —
        // hashed-vector cosine vs the broadcast eval assignment under argmax
        // blocking, dropping what s5's n-gram match cannot see. A doc whose
        // hashed vector is zero-norm has no verdict row and is dropped with
        // the contaminated (no direction ⇒ not comparable — the Similarity
        // unitVecs convention; unreachable in practice behind the
        // minTokens gate)
        val semIds = semDecontam match {
          case None => lastIds
          case Some((evalSet, minCos)) =>
            ids(Decontam.semanticContamination(
              docs.join(lastIds, Seq("doc_id"), "left_semi")
                .select("doc_id", "text"),
              evalSet, minCos)
              .where(col("is_contam") === 0)
              .select(col("vec_id").as("doc_id")))
        }
        (qualityIds, exactIds, nearIds, lastIds, semIds, None, None)
    }
    // optional perplexity-percentile stage (v5/v6): fit unigram surprisal
    // on the current survivors, keep each quantile bucket at its rate —
    // v5's 0/1 rates make the hash predicate degenerate (always / never
    // keep, fully deterministic); v6's fractional rates thin buckets via
    // the deterministic hash-sample predicate. With a prefix table the
    // fitted scores are already materialized columns of it.
    val pplIds = ppl match {
      case None => semIds
      case Some(rates) =>
        // (id, score) is decision-sized: localCheckpoint it like every
        // other stage decision, then fit+apply the quantile dictionary
        // directly — perplexityMix's internal persist would leak one
        // cache entry per recipe invocation (its documented caveat)
        val scored = prefixScored.getOrElse {
          val surv = docs.join(semIds, Seq("doc_id"), "left_semi")
          TextAnalysis.surprisalScores(
              surv.select(col("doc_id"), col("text")))
            .select(col("doc_id"), col("avg_surprisal"))
            .localCheckpoint()
        }
        ids(Sampling.perplexityMixApply(scored,
          Sampling.perplexityBuckets(scored, "avg_surprisal", rates.length),
          "doc_id", "avg_surprisal", rates).select("doc_id"))
    }
    // optional importance-resample stage (v9): exact-k survivors whose
    // length histogram tracks the RAW stage-1 corpus — the filters keep
    // their judgments, the output sheds their length bias. Reference and
    // survivor lengths both derive from this recipe's own docs frame, so
    // the stage is deterministic and oracle-replayable end to end
    val resIds = resampleK match {
      case None => pplIds
      case Some(kF) =>
        val len = length(col("text")).cast("double").as("len")
        ids(Sampling.matchDistribution(
          docs.join(pplIds, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), len),
          TextAnalysis.bucketCounts(docs.select(len), "len", RESAMPLE_EDGES),
          "len", RESAMPLE_EDGES, kF, "doc_id").select("doc_id"))
    }
    val spanIdx = 5 + (if (decontam.isDefined) 1 else 0) +
      (if (semDecontam.isDefined) 1 else 0) +
      (if (ppl.isDefined) 1 else 0) +
      (if (resampleK.isDefined) 1 else 0)
    val spanPrefix = s"s$spanIdx"
    val spans = Dedup.spanDedup(docs.join(resIds, Seq("doc_id"), "left_semi"),
      spanTokens)
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
    // ONE aggregate for both span sums, stacked into two rows: two
    // separate .agg calls over the lazy `spans` frame re-ran the whole
    // span-dedup pass (gate-survivor scan + span fingerprint shuffle)
    // twice — measured ~1 s of the sf0.1 bench time.
    // coalesce: sum over zero surviving documents is NULL, the oracle's
    // count(*) over zero span rows is 0 — report 0
    val spanStages = spans
      .agg(coalesce(sum(col("n_spans")), lit(0)).cast("long").as("total"),
        coalesce(sum(col("n_kept")), lit(0)).cast("long").as("kept"))
      .select(expr(s"stack(2, '${spanPrefix}_spans_total', total, " +
        s"'${spanPrefix}_spans_kept', kept) AS (stage, n)"))
    val semIdx = 5 + (if (decontam.isDefined) 1 else 0)
    // prefix path: all covered stage counts ride the ONE pc aggregate
    // built above; compute-from-corpus path: per-stage counts over the
    // checkpointed id frames, as before
    val withSem = prefixStageRows.getOrElse {
      val base = stage("s1_raw", docs)
        .unionByName(stage("s2_quality", qualityIds))
        .unionByName(stage("s3_exact_dedup", exactIds))
        .unionByName(stage("s4_near_dedup", nearIds))
      val withDec =
        if (decontam.isDefined) base.unionByName(stage("s5_decontam", lastIds))
        else base
      if (semDecontam.isDefined)
        withDec.unionByName(stage(s"s${semIdx}_sem_decontam", semIds))
      else withDec
    }
    val pplIdx = semIdx + (if (semDecontam.isDefined) 1 else 0)
    val withPpl =
      if (ppl.isDefined)
        withSem.unionByName(stage(s"s${pplIdx}_perplexity", pplIds))
      else withSem
    (if (resampleK.isDefined)
       withPpl.unionByName(stage(s"s${spanIdx - 1}_resample", resIds))
     else withPpl)
      .unionByName(spanStages)
  }

  /** The shared recipe PREFIX as a materializable decision table: every
    * input document with its survival flag through each of the stages
    * the v4+ recipes have in common — quality gate (`q`), exact dedup
    * (`ex`), near dedup (`nd`), lexical decontam (`dc`) — plus
    * `avg_surprisal` fitted on the `dc` survivors (NULL for non-survivors
    * and zero-token docs). Persist it as a STANDING artifact per
    * (source files, config-version) and pass it to the
    * `prefix` parameter of [[cleanCorpusV5Stats]]/[[cleanCorpusV6Stats]]:
    * five recipe variants then read flag scans of one table instead of
    * each re-running the gate→fingerprint→SNM→gram chain — at 100 TB the
    * recipe prefix is recomputed far more often than it changes, the
    * qualityScoredLabeled argument exactly. The caller owns config
    * consistency: the variants must be invoked with the SAME thresholds
    * the prefix was built with (bake them into the artifact's version
    * token — the qscored_v1 rule).
    */
  def recipePrefixDecisions(docs: DataFrame, evalSet: DataFrame,
      minTokens: Int = 10, maxNonAlnum: Double = 0.35,
      maxStopword: Double = 0.7, snmThreshold: Double = 0.9,
      contamN: Int = 13): DataFrame = {
    def ids(df: DataFrame): DataFrame = df.select("doc_id").localCheckpoint()
    val qualityIds = ids(Par.fanOutKernel(docs).where(TextAnalysis.curationGate(col("text"),
      lit(minTokens), maxNonAlnum, maxStopword, langLabel = None)))
    val exactIds = ids(dedupSurvivors(
      docs.join(qualityIds, Seq("doc_id"), "left_semi")))
    val nearIds = ids(Dedup.dedupCorpus(exactIds,
      Dedup.sortedNeighborPairs(
        docs.join(exactIds, Seq("doc_id"), "left_semi"),
        threshold = snmThreshold)))
    val dcIds = ids(Decontam.decontaminate(
      docs.join(nearIds, Seq("doc_id"), "left_semi")
        .select("doc_id", "text"),
      evalSet, "doc_id", "text", contamN))
    flagTable(docs,
      Seq("q" -> qualityIds, "ex" -> exactIds, "nd" -> nearIds,
        "dc" -> dcIds),
      surprisalOver(docs, dcIds))
  }

  /** Extend a [[recipePrefixDecisions]] table with the v8/v9 semantic
    * decontamination stage: adds the `sem` flag over the `dc` survivors
    * and REFITS `avg_surprisal` on the `sem` survivors (the perplexity
    * gate of a sem-bearing recipe fits its LM on what semantic decontam
    * let through — a different corpus than `dc`). Same sem semantics as
    * the inline stage: zero-norm hashed vectors drop with the
    * contaminated.
    */
  def recipePrefixSemExtend(prefix: DataFrame, docs: DataFrame,
      evalSet: DataFrame, semMinCos: Double): DataFrame = {
    val dcIds = prefix.where(col("dc")).select("doc_id").localCheckpoint()
    val semIds = Decontam.semanticContamination(
        docs.join(dcIds, Seq("doc_id"), "left_semi")
          .select("doc_id", "text"),
        evalSet, semMinCos)
      .where(col("is_contam") === 0)
      .select(col("vec_id").as("doc_id")).localCheckpoint()
    prefix.drop("avg_surprisal")
      .join(semIds.withColumn("sem", lit(true)), Seq("doc_id"), "left")
      .withColumn("sem", coalesce(col("sem"), lit(false)))
      .join(surprisalOver(docs, semIds), Seq("doc_id"), "left")
  }

  private def surprisalOver(docs: DataFrame, survIds: DataFrame): DataFrame =
    TextAnalysis.surprisalScores(
        docs.join(survIds, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("avg_surprisal"))

  private def flagTable(docs: DataFrame, flags: Seq[(String, DataFrame)],
      scored: DataFrame): DataFrame =
    flags.foldLeft(docs.select("doc_id")) { case (acc, (name, set)) =>
      acc.join(set.withColumn(name, lit(true)), Seq("doc_id"), "left")
        .withColumn(name, coalesce(col(name), lit(false)))
    }.join(scored, Seq("doc_id"), "left")

  /** The INGEST GATE — the crawl-to-corpus front door, composed from the
    * STANDING artifacts the batch pipeline already maintains so a new
    * increment is judged at increment cost, never corpus cost:
    *
    *   1. boilerplate lines removed against the standing line-frequency
    *      index ([[graft.ops.Dedup.lineFreqIndex]] — read-only here);
    *   2. PII scrubbed ([[graft.ops.Scrub.scrubPii]]; counts ride as
    *      telemetry) — BEFORE quality, so the gate judges the text that
    *      would actually be trained on;
    *   3. the full Gopher gate (structural + repetition halves) on the
    *      cleaned text;
    *   4. decontamination flag against the bounded eval-gram literal
    *      (stateless per-row probe);
    *   5. near-dup flag against the standing banded MinHash snapshot
    *      ([[graft.ops.Dedup.bandedIndex]]) — increment-sized probe.
    *      `snapshotBanded` MUST be built from the same cleaned-text
    *      convention as the probe side (boilerplateScrub then scrubPii,
    *      i.e. [[cleanedIncrement]]'s order) — a snapshot indexed from
    *      RAW text carries shingles from banner/PII lines that exist on
    *      no probe side, silently lowering near-dup recall for re-crawls
    *      that differ only in boilerplate (the [[ingestGateExact]]
    *      contract, stated there, applies here identically).
    *
    * Emits EVERY input doc with its verdict — (doc_id, text, PII counts,
    * pass_struct, pass_rep, contaminated, dup_of_corpus, keep) — so
    * rejected rows can be audited or quarantined rather than silently
    * dropped; filter `keep = 1` for the corpus append. All five stages
    * are per-batch local: no state beyond the standing indexes, so the
    * composition streams per micro-batch via
    * [[graft.sources.Sinks.eachBatch]] with full semantics.
    */
  def ingestGate(docs: DataFrame, lineIndex: DataFrame,
      evalGrams: Seq[String], snapshotBanded: DataFrame,
      minDocs: Int = 3, contamN: Int = 3, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val pii = cleanedIncrement(docs, lineIndex, minDocs)
    val dupIds = Dedup.minHashLshAgainst(pii.select(col("doc_id"),
        col("text")), snapshotBanded, shingleK, numHashes, bands, threshold)
      .select(col("new_id").as("doc_id")).distinct()
    gateTail(pii, dupIds, evalGrams, contamN)
  }

  /** Boilerplate + PII cleaning of one ingest increment, lineage-cut:
    * the cleaned frame feeds five consumers (dup probe, both Gopher
    * halves, the contamination flag, the output row) — without the cut
    * each subtree re-runs the whole chain. Increment-sized by contract
    * (this is the per-batch ingest path) — the curation-stage
    * localCheckpoint convention. Measured 4.4 → 4.0 s warm at sf0.1
    * (the rest is the Gopher gram machinery plus the standing-artifact
    * witness scans, not recomputation).
    */
  private def cleanedIncrement(docs: DataFrame, lineIndex: DataFrame,
      minDocs: Int): DataFrame =
    // round 17b measured-and-rejected (guide §1): spreading this
    // AQE-coalesced checkpoint across cores for its five per-row
    // consumers ablated +0.38 s on q_ingest_gate / +0.39 s on
    // q_ingest_report — each consumer re-pays the spread's exchange and
    // none of the per-row work is heavy enough to amortize it.
    Scrub.scrubPii(Dedup.boilerplateScrubApply(docs, lineIndex, minDocs))
      .localCheckpoint()

  /** [[ingestGate]] with the near-dup probe swapped for an EXACT
    * fingerprint probe against a standing md5 set (the q_incr_dedup
    * blocklist shape) — the variant to reach for when the dedup policy
    * is exact-only, and the one the driver can oracle end to end
    * (seeded MinHash is not DuckDB-replayable; md5 of the cleaned text
    * is). Fingerprints are taken AFTER boilerplate + PII cleaning, so a
    * re-crawl that differs only in removed banner lines still matches
    * its snapshot twin.
    */
  def ingestGateExact(docs: DataFrame, lineIndex: DataFrame,
      evalGrams: Seq[String], snapshotFps: DataFrame,
      minDocs: Int = 3, contamN: Int = 3): DataFrame = {
    val pii = cleanedIncrement(docs, lineIndex, minDocs)
    val dupIds = pii.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(snapshotFps, Seq("fp")).select("doc_id").distinct()
    gateTail(pii, dupIds, evalGrams, contamN)
  }

  /** The shared verdict assembly of the two ingest gates: Gopher halves
    * on the cleaned text, contamination flag, dup flag, conjunction.
    */
  private def gateTail(pii: DataFrame, dupIds: DataFrame,
      evalGrams: Seq[String], contamN: Int): DataFrame = {
    val gate = TextAnalysis.gopherGate(pii.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("pass_struct"), col("pass_rep"))
    pii.join(gate, Seq("doc_id"))
      .join(dupIds.withColumn("_dup", lit(1)), Seq("doc_id"), "left")
      .withColumn("contaminated",
        Decontam.contaminatedFlag(col("text"), evalGrams, contamN)
          .cast("int"))
      .withColumn("dup_of_corpus", coalesce(col("_dup"), lit(0)))
      .drop("_dup")
      .withColumn("keep",
        (col("pass_struct") === 1 && col("pass_rep") === 1 &&
          col("contaminated") === 0 && col("dup_of_corpus") === 0)
          .cast("int"))
  }

  /** One-row ingest telemetry over a gate verdict frame — the batch
    * dashboard a crawl operator actually watches: input size, keeps,
    * and the rejection-reason histogram (reasons are NOT exclusive —
    * a doc can be both contaminated and a dup — so the columns are
    * independent counts, not a partition). One scan-stage aggregate.
    */
  def ingestSummary(gated: DataFrame): DataFrame =
    gated.agg(
      count(lit(1)).as("n_in"),
      sum(col("keep")).as("n_keep"),
      sum(when(col("pass_struct") === 0 || col("pass_rep") === 0, 1)
        .otherwise(0)).as("n_gopher_reject"),
      sum(col("contaminated")).as("n_contaminated"),
      sum(col("dup_of_corpus")).as("n_dup"),
      round(sum(col("keep")).cast("double") /
        greatest(count(lit(1)), lit(1L)), 4).as("keep_rate"))
}
