package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for large-scale training-data pipelines: token counting,
  * quality scoring, language ID, fingerprinting. All pure Catalyst
  * expressions (split / higher-order functions / md5) — no UDFs, so every
  * operator stays in WholeStageCodegen and runs embarrassingly parallel
  * (zero shuffles except final aggregations).
  */
object TextAnalysis {

  /** Script-aware tokenization ([[Core.tokensUni]]) — every operator here
    * must see real tokens for non-Latin-script documents; the ASCII form is
    * reserved for the reference-fidelity word count.
    */
  private def toks(text: Column): Column = Core.tokensUni(text)

  /** Unicode complement of letters/digits — the non-alphanumeric character
    * class shared by the quality ratio and the curation gate (the ASCII
    * `[^a-z0-9]` form would score every CJK/Cyrillic document as 100 %
    * punctuation and gate it out). Mirrored verbatim in the DuckDB oracles.
    */
  private[graft] val NON_ALNUM_RE = "[^\\p{L}\\p{Nd}]"

  /** Per-document token count + per-language aggregate. Whitespace/regex
    * tokenization per Core.tokens.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    Par.fanOutKernel(docs).select(col("lang"), size(toks(col("text"))).as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_tokens")), 4).as("avg_tokens"))

  /** Power-of-two token-length histogram — the distribution a packing /
    * sequence-length decision reads (what seqLen wastes the least
    * padding; how much of the corpus a max-length truncation clips).
    * Bucket b holds documents with 2^b ≤ tokens < 2^(b+1); zero-token
    * documents land in bucket −1. The floor-log2 is EXACT integer
    * arithmetic — `length(bin(n)) − 1`, no float log whose 2.999…
    * rounding could disagree across engines. One scan, one tiny-key
    * aggregation.
    */
  def tokenLengthHistogram(docs: DataFrame): DataFrame =
    Par.fanOutKernel(docs).select(coalesce(size(toks(col("text"))), lit(0)).as("n"))
      .select(when(col("n") === 0, lit(-1))
        .otherwise(length(bin(col("n").cast("long"))) - 1)
        .cast("int").as("bucket"), col("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n").cast("long").as("total_tokens"))

  /** Exact heavy hitters: tokens whose corpus frequency exceeds
    * `phi`·total — the vocabulary-pruning / stopword-discovery primitive.
    * Two aggregations (per-token counts with map-side partials, then the
    * one-row total broadcast back over the counts — the hint is on a
    * single row, never a dictionary), so the only corpus-sized shuffle is
    * the token count itself. The fixed-memory streaming/sketch twin is
    * [[graft.agg.Aggregators.SpaceSavingAggregator]] (validated against
    * this exact form in SketchSpec).
    */
  def heavyHitters(docs: DataFrame, phi: Double): DataFrame = {
    require(phi > 0.0 && phi < 1.0, s"phi must be in (0,1), got $phi")
    val counts = Par.fanOutKernel(docs)
      .select(explode(Core.tokensUni(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    // the total comes from a per-document size() sum — a scan-stage
    // aggregate with NO token shuffle — not from summing `counts`:
    // referencing the counts subtree twice re-ran the whole explode +
    // token-key Exchange on both crossJoin sides (no ReusedExchange
    // across the aggregate; observed in the executed plan). Tokenizing
    // the scan twice is the cheap side of that trade.
    val total = docs
      .select(size(Core.tokensUni(col("text"))).cast("long").as("n"))
      .agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .where(col("cnt").cast("double") > col("total").cast("double") * phi)
      .select("token", "cnt")
  }

  /** Per-document quality score: token count, mean token length, stopword
    * ratio, non-alphanumeric (punctuation/whitespace) character ratio.
    * These are the standard cheap quality filters (length / punct /
    * stopword heuristics) applied before LLM training.
    */
  def qualityScores(docs: DataFrame, stopwords: Seq[String] =
      Seq("the", "a", "of", "and", "to", "in", "is", "on")): DataFrame = {
    val t = toks(col("text"))
    val stops = array(stopwords.map(lit): _*)
    Par.fanOutKernel(docs).select(
      col("doc_id"),
      size(t).as("n_tokens"),
      round(
        aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
          greatest(size(t), lit(1)), 4).as("avg_token_len"),
      round(size(filter(t, x => array_contains(stops, x))).cast("double") /
        greatest(size(t), lit(1)), 4).as("stopword_ratio"),
      round((length(col("text")) -
        length(regexp_replace(lower(col("text")), NON_ALNUM_RE, ""))).cast("double") /
        greatest(length(col("text")), lit(1)), 4).as("non_alnum_ratio"))
  }

  /** Text canonicalization — Unicode NFC composition + whitespace-run
    * collapse + trim: the pass that must run BEFORE fingerprinting/
    * shingling on real crawl data ("café" composed vs decomposed are
    * different byte strings — different md5, different MinHash — for
    * identical rendered text, so un-normalized corpora silently
    * under-deduplicate). Pure scan-stage expressions (the NFC kernel has
    * an ASCII fast path; the whitespace class is spelled explicitly
    * because Java's `\s` includes U+000B and RE2's does not). Returns the
    * id, the canonical text, and before/after char counts.
    */
  /** Whitespace-run class shared with the q_normalize oracle SQL (the
    * NON_ALNUM_RE convention): spelled explicitly because Java's `\s`
    * includes U+000B and RE2's does not — editing this in one place
    * cannot desync engine and oracle.
    */
  private[graft] val WS_RUN_RE = "[ \\t\\n\\r\\f]+"

  def normalizeText(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(
      graft.functions.ArrayKernels.nfc_normalize(col(textCol)),
      WS_RUN_RE, " "))
    docs.select(col(idCol), norm.as(textCol),
      length(col(textCol)).cast("int").as("orig_len"),
      length(norm).cast("int").as("norm_len"))
  }

  /** Default weights for [[qualityClassifierScore]] — stand-ins for an
    * offline-trained model, `private[graft]` so the DuckDB oracle SQL
    * interpolates the SAME constants (the LANG_PROFILES pattern).
    * (bias, w·ln(1+tokens), w·avgTokenLen, w·stopwordRatio,
    * w·nonAlnumRatio, keep threshold).
    */
  private[graft] val QUALITY_W: (Double, Double, Double, Double, Double, Double) =
    (-3.0, 0.6, 0.3, -2.0, -4.0, 0.3)

  /** Model-based quality scoring — the fastText-classifier-shaped pass
    * (DCLM / FineWeb-Edu style) reduced to its deployment form: a fixed
    * linear model over cheap text features with a sigmoid score and a
    * keep decision. Training happens offline; at 100 TB what runs is
    * exactly this — one scan-stage expression per document, the model
    * riding the plan as constants, zero shuffle, corpus never moving.
    * Features are the [[qualityScores]] metrics (unrounded) plus
    * ln(1+tokens) for scale-free length.
    */
  def qualityClassifierScore(docs: DataFrame, stopwords: Seq[String] =
      Seq("the", "a", "of", "and", "to", "in", "is", "on")): DataFrame = {
    val keepT = QUALITY_W._6
    val score = sigmoid(qualityLogit(col("text"), stopwords))
    Par.fanOutKernel(docs).select(col("doc_id"),
      round(score, 4).as("quality_score"),
      (score >= keepT).cast("int").as("keep"))
  }

  /** Distributed full-batch logistic-regression training — the ON-CLUSTER
    * counterpart of [[qualityClassifierScore]]'s offline-trained weights
    * (and the linear sibling of the trained [[nbFit]] router): gradient
    * ascent on the Bernoulli log-likelihood,
    *
    *   w ← w + lr · (1/n) Σ_rows (y − σ(wᵀx)) · x
    *
    * for `iterations` full-batch steps from w = 0, bias as the implicit
    * leading feature. Each step is ONE map-side-combined aggregate over
    * the data (the current weights ride the plan as literals — the
    * dsirScores model-as-constants shape) and a (d+2)-sized driver
    * collect; nothing larger than the model ever reaches the driver, and
    * the corpus never shuffles. Weights are q6-rounded per step (the
    * btRatings convention), which is what lets a fixed-iteration run be
    * replayed in a DuckDB oracle with unrolled per-iteration CTEs
    * despite cross-engine float-sum order differences. Callers iterating
    * over a derived feature frame should localCheckpoint it once so step
    * k does not replay the feature derivation k times.
    *
    * Returns the trained weights, bias first.
    */
  def logisticFit(data: DataFrame, featureCols: Seq[String],
      labelCol: String, iterations: Int = 3, lr: Double = 0.5)
      : Seq[Double] = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    val d = featureCols.length
    def q6(x: Double): Double = math.rint(x * 1e6) / 1e6
    var w = Seq.fill(d + 1)(0.0)
    for (_ <- 1 to iterations) {
      val z = featureCols.zipWithIndex.foldLeft(lit(w(0)): Column) {
        case (acc, (c, i)) => acc + lit(w(i + 1)) * col(c)
      }
      val resid = col(labelCol).cast("double") - sigmoid(z)
      // n counts rows where resid is non-null (label AND every feature
      // present) — exactly the rows the gradient sums see; counting all
      // rows would let null rows silently shrink the effective lr
      val aggs = ((lit(1.0): Column) +: featureCols.map(col))
        .zipWithIndex.map { case (x, i) => sum(resid * x).as(s"g$i") } :+
        count(resid).as("n")
      val row = data.agg(aggs.head, aggs.tail: _*).head()
      val n = row.getLong(d + 1).toDouble
      require(n > 0, "logisticFit: no rows with non-null label and features")
      w = w.indices.map(i => q6(w(i) + lr * row.getDouble(i) / n))
    }
    w
  }

  /** Quality-classifier training features + weak label as a frame:
    * the [[qualityLogit]] features UNROUNDED (ln(1+tokens), avg token
    * length, stopword ratio, non-alnum ratio — exact rationals of ints
    * except the ln, so the DuckDB twin is bit-comparable) and a
    * deterministic length label y = (n_chars ≥ labelMinChars) — the
    * weak-supervision stand-in for human keep/drop labels.
    */
  private[graft] def qualityTrainingFrame(docs: DataFrame,
      labelMinChars: Int,
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in",
        "is", "on")): DataFrame = {
    val t = toks(col("text"))
    val n = greatest(size(t), lit(1))
    val stops = array(stopwords.map(lit): _*)
    docs.select(col("doc_id"),
      (col("n_chars") >= labelMinChars).cast("int").as("y"),
      log(lit(1.0) + size(t).cast("double")).as("f0"),
      (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / n)
        .as("f1"),
      (size(filter(t, x => array_contains(stops, x))).cast("double") / n)
        .as("f2"),
      ((length(col("text")) -
        length(regexp_replace(lower(col("text")), NON_ALNUM_RE, "")))
        .cast("double") / greatest(length(col("text")), lit(1))).as("f3"))
  }

  /** Train-then-score in one pass over the corpus's own weak labels:
    * features are z-SCORED first (per-feature mean/std from one
    * aggregate, q6-rounded so both engines standardize with the same
    * constants — unstandardized GD saturates: the large-scale avg-len
    * feature blows the logit past the sigmoid's linear range in one
    * step and every document scores ~0.99), then [[logisticFit]] on the
    * standardized frame (localCheckpoint'd once — the iterations
    * re-scan materialized features, not the text chain), then every
    * document scored under the learned weights. Returns (doc_id, label,
    * p, keep) with p = σ(wᵀx) rounded 4 and keep = p ≥ 0.5 — the
    * end-to-end "fit the quality filter on the cluster, apply it in the
    * same job" flow (q_quality_fit).
    */
  def qualityFitScore(docs: DataFrame, iterations: Int = 3,
      lr: Double = 0.5, labelMinChars: Int = 300): DataFrame = {
    def q6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val raw = qualityTrainingFrame(Par.fanOutKernel(docs), labelMinChars).localCheckpoint()
    val cols = Seq("f0", "f1", "f2", "f3")
    val statAggs = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"m_$c"), stddev_samp(col(c)).as(s"s_$c")))
    val sr = raw.agg(statAggs.head, statAggs.tail: _*).head()
    val stats = cols.zipWithIndex.map { case (c, i) =>
      val s = if (sr.isNullAt(2 * i + 1)) 0.0 else q6(sr.getDouble(2 * i + 1))
      c -> (q6(sr.getDouble(2 * i)), math.max(s, 1e-6))
    }.toMap
    val feats = raw.select(col("doc_id") +: col("y") +: cols.map { c =>
      val (m, s) = stats(c)
      ((col(c) - lit(m)) / lit(s)).as(c)
    }: _*).localCheckpoint()
    val w = logisticFit(feats, cols, "y", iterations, lr)
    val z = cols.zipWithIndex.foldLeft(lit(w(0)): Column) {
      case (acc, (c, i)) => acc + lit(w(i + 1)) * col(c)
    }
    val p = sigmoid(z)
    feats.select(col("doc_id"), col("y").as("label"),
      round(p, 4).as("p"), (p >= 0.5).cast("int").as("keep"))
  }

  /** Raw linear-model logit over the [[qualityScores]] features — the
    * pre-sigmoid form, monotonic in the quality score but free of the
    * sigmoid's double saturation (distinct long documents can share a
    * quality_score of exactly 1.0, but never a logit), so it is the
    * correct RANKING key (the rank-on-raw-never-rounded rule).
    */
  private[graft] def qualityLogit(text: Column,
      stopwords: Seq[String] =
        Seq("the", "a", "of", "and", "to", "in", "is", "on")): Column = {
    val (bias, wLog, wAvg, wStop, wNon, _) = QUALITY_W
    val t = toks(text)
    val n = greatest(size(t), lit(1))
    val stops = array(stopwords.map(lit): _*)
    val avgLen = aggregate(t, lit(0L), (acc, x) => acc + length(x))
      .cast("double") / n
    val stopR = size(filter(t, x => array_contains(stops, x))).cast("double") / n
    val nonAl = (length(text) -
      length(regexp_replace(lower(text), NON_ALNUM_RE, ""))).cast("double") /
      greatest(length(text), lit(1))
    lit(bias) + lit(wLog) * log1p(size(t).cast("double")) +
      lit(wAvg) * avgLen + lit(wStop) * stopR + lit(wNon) * nonAl
  }

  private def sigmoid(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** Per-stratum percentile gate over the model quality score: keep the
    * top `keepFrac` of each stratum (source/domain/language) by
    * `percent_rank`, so a uniformly weaker domain is trimmed against
    * ITSELF rather than wholesale-deleted by one global threshold — the
    * production form of "keep the best 30 % of every source".
    *
    * Ranking is on the raw logit (see [[qualityLogit]]); tie groups are
    * identical feature vectors on both engines, so `cume_dist` — an exact
    * rational in the row counts — agrees cross-engine. `cume_dist`, not
    * `percent_rank`: a single-document stratum has percent_rank 0 and
    * would be wholesale-deleted by any keepFrac < 1 — the exact failure
    * this per-stratum gate exists to prevent; its cume_dist is 1, so it
    * is kept at any keepFrac. Ties share a cume_dist and therefore share
    * the verdict. Scale shape: one window over (stratum → logit) moving
    * only (id, stratum, logit) tuples; the text never shuffles.
    */
  def qualityPercentile(docs: DataFrame, strataCol: String = "source",
      keepFrac: Double = 0.5): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0,1], got $keepFrac")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(strataCol)).orderBy(col("_z"))
    Par.fanOutKernel(docs)
      .select(col("doc_id"), col(strataCol),
        qualityLogit(col("text")).as("_z"))
      .withColumn("_cd", cume_dist().over(w))
      .select(col("doc_id"), col(strataCol),
        round(sigmoid(col("_z")), 4).as("quality_score"),
        round(col("_cd"), 6).as("pctl"),
        (col("_cd") > 1.0 - keepFrac).cast("int").as("keep"))
  }

  /** Language-ID: character-n-gram profiles (Cavnar–Trenkle family) for 11
    * languages across 5 scripts, scored by profile-gram occurrence counts
    * and resolved by deterministic argmax. Char n-grams — not marker words —
    * are what real identifiers (fastText, CLD) reduce to, and they are the
    * only form that works on scripts the whitespace tokenizer can't segment:
    * unspaced CJK text has ~1 "token" per punctuation run, but its
    * characteristic characters (的/は/을) still count.
    *
    * Each gram is a plain substring (space = word boundary against the
    * padded text), so counting is `(len(s) - len(replace(s, g))) / len(g)` —
    * pure codegen'd string arithmetic, zero regex, and character-identical
    * in the DuckDB oracle (the SQL twin is generated from this same
    * constant in SparkEntry). Grams shared across related languages
    * (" de" in de/fr/pt) are fine: scores are sums, argmax disambiguates.
    */
  private[graft] val LANG_PROFILES: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", " th", "he ", "nd ", " of", "ing", " to", " is", "ion", " an"),
    "de" -> Seq(" de", "der", "ein", "sch", "ich", "nde", "die", "und", "ung", "cht"),
    "es" -> Seq(" la", "os ", " es", "el ", "ión", "ado", "que", " qu", "nte", " co"),
    "fr" -> Seq(" le", " de", "es ", "ent", "que", "eur", "ait", "ons", " la", "oir"),
    "it" -> Seq(" di", "to ", "la ", "che", "zio", "gli", "re ", "ell", " co", "ona"),
    "pt" -> Seq(" de", "ão ", "os ", "ção", "da ", "em ", "ara", " qu", "nto", " se"),
    "ru" -> Seq(" и ", "ого", " не", "ать", "ост", "ние", "что", " по", "ств", "его"),
    "ar" -> Seq("ال", " في", " من", "ات ", "ين ", " وا", "ها ", " عل"),
    "zh" -> Seq("的", "是", "了", "在", "一", "不", "有", "人", "我", "中"),
    "ja" -> Seq("の", "に", "は", "を", "た", "が", "て", "し", "です", "ます"),
    "ko" -> Seq("이", "는", "을", "다 ", "하", "에", "니다", "가 "))

  /** `' ' + lower(text) + ' '` — the scoring surface: padding lets grams
    * with leading/trailing spaces match word boundaries at text edges.
    */
  private def langPad(text: Column): Column =
    concat(lit(" "), lower(text), lit(" "))

  /** Occurrence count of one profile gram in the padded text — replace-
    * length arithmetic, no regex. Exact: the char-diff is always a multiple
    * of the gram length, so the division (double in both engines) is exact
    * and the int cast lossless. This is the REFERENCE form: it is what the
    * generated DuckDB oracle computes, and TextAnalysisSpec pins the
    * [[graft.functions.ArrayKernels.LangPredict]] production kernel
    * against it; the kernel (one allocation-free pass) is what queries
    * actually run.
    */
  private def gramCount(pad: Column, g: String): Column =
    ((length(pad) - length(replace(pad, lit(g), lit("")))) / lit(g.length))
      .cast("int")

  /** Per-language reference scores over an already-padded text column. */
  private[graft] def langScoresRef(pad: Column): Seq[(String, Column)] =
    LANG_PROFILES.map { case (lang, gs) =>
      lang -> gs.map(gramCount(pad, _)).reduce(_ + _)
    }

  /** The language prediction as ONE expression over a text column — for
    * use inside a filter (e.g. the curation agreement gate) where a
    * projection + re-join would shuffle the corpus to meet its own
    * metadata. Identical semantics to [[langId]] (same profiles, same
    * deterministic tie-break).
    *
    * Backed by the [[graft.functions.ArrayKernels.LangPredict]] codegen
    * kernel — ONE allocation-free byte scan per row. The pure-expression
    * form ([[langScoresRef]], kept as the spec-parity reference) pays one
    * `replace` ALLOCATION of the text per gram per row, and in predicate
    * position Catalyst's filter pushdown additionally substitutes the
    * argmax's repeated score references wholesale (measured 6.5× slower on
    * q_clean_corpus_v2 at sf0.1); the kernel is one opaque call, immune to
    * both. Count semantics are byte-identical to the generated oracle SQL
    * (non-overlapping replace-length arithmetic; see the kernel Scaladoc).
    */
  def predLang(text: Column): Column =
    // NULL text → 'und', matching the reference when-chain's .otherwise
    // and the oracle CASE's ELSE (the kernel itself null-propagates)
    coalesce(
      graft.functions.ArrayKernels.lang_predict(langPad(text), LANG_PROFILES),
      lit("und"))

  /** Deterministic language argmax over reference score columns — the SQL
    * twin is generated as LANG_PRED_CASE in SparkEntry, so the tie-break
    * rule (first profile language reaching the max; 'und' when no gram
    * hits) lives in one Scala place and one generated-SQL place; the
    * production kernel implements the same rule (spec-pinned).
    */
  private def langArgmax(scores: Seq[(String, Column)]): Column = {
    val mx = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(mx <= 0, "und")) { case (acc, (lang, sc)) =>
      acc.when(sc === mx, lang)
    }.otherwise("und")
  }

  /** Reference-form prediction (expression scoring + when-chain argmax) —
    * the spec-parity twin of [[predLang]]; NOT for hot paths (see
    * [[predLang]]'s Scaladoc for why).
    */
  private[graft] def predLangRef(text: Column): Column =
    langArgmax(langScoresRef(langPad(text)))

  /** The ENTIRE curation gate (length, stopword ratio, non-alnum ratio,
    * optional language-agreement) as ONE boolean expression that tokenizes
    * the text exactly once.
    *
    * Why one expression: Catalyst's filter pushdown substitutes projected
    * aliases back into every predicate conjunct (PushPredicateThroughNonJoin
    * has no cost guard), so "materialize the token array in a projection,
    * filter on it" silently re-plants the split regex in each conjunct —
    * the optimized v2 plan carried 55 split() instances that way. Inside a
    * single `aggregate`, per-token counters accumulate in one fold and the
    * `finish` lambda's state variable is BOUND, not substituted, so every
    * threshold test reads the counters for free.
    */
  private[graft] def curationGate(text: Column, minTokens: Column,
      maxNonAlnum: Double, maxStopword: Double,
      langLabel: Option[Column],
      stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on")): Column = {
    val stopLit = array(stopwords.map(lit): _*)
    val counters = aggregate(
      Core.tokensUni(text),
      struct(lit(0).as("n"), lit(0).as("stop")),
      (st, x) => struct(
        (st.getField("n") + 1).as("n"),
        (st.getField("stop") + when(array_contains(stopLit, x), 1).otherwise(0)).as("stop")),
      st => {
        val n = st.getField("n")
        n >= minTokens &&
          st.getField("stop").cast("double") / greatest(n, lit(1)) <= maxStopword
      })
    val base = counters &&
      (length(text) -
        length(regexp_replace(lower(text), NON_ALNUM_RE, ""))).cast("double") /
        greatest(length(text), lit(1)) <= maxNonAlnum
    // the language-agreement gate is CHAR-level ([[predLang]] profile
    // scoring over the raw text), not token-level, so it joins the
    // non-alnum ratio outside the token fold — one extra conjunct, still a
    // scan-stage expression with no tokenizer re-run
    langLabel match {
      case None        => base
      case Some(label) => base && predLang(text) === label
    }
  }

  def langId(docs: DataFrame, carry: Seq[String] = Nil): DataFrame =
    Par.fanOutKernel(docs).select(col("doc_id") +: carry.map(col) :+
      predLang(col("text")).as("pred_lang"): _*)

  /** Language-ID quality report: predicted vs labeled confusion counts —
    * the QA readout for the classifier over a labeled corpus. Labels are
    * carried through the scoring projection (zero extra shuffle; joining
    * predictions back to the corpus would re-shuffle it for a column it
    * already had).
    */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs, carry = Seq("lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("cnt"))

  /** TF-IDF top terms per document — the classic keyword-extraction /
    * feature-weighting operator. tf = in-document term count,
    * idf = ln(N / df); top `n` terms per doc with deterministic tie-break.
    * Scale: two aggregations (term counts, document frequencies) + one
    * broadcast-able join on the term dictionary; the corpus text itself is
    * exploded once and never shuffled again.
    */
  def tfIdfTopTerms(docs: DataFrame, n: Int): DataFrame = {
    // round 17b measured-and-rejected (guide §1): a kernel fan here
    // ablated +0.33 s — tokenize+explode+count is the cheap-per-row class
    // where the exchange never pays (bigramPairs, curationGate: same).
    val terms = docs.select(col("doc_id"), explode(toks(col("text"))).as("word"))
    // N is the full corpus size (docs WITH ZERO TOKENS included — idf must
    // not shift when empty documents exist), as a broadcast one-row
    // aggregate: the plan stays LAZY (no count job fired at construction
    // time) and N is evaluated against the same snapshot as the rest of
    // the query
    val nDocs = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    // tf and df are two independent aggregations over the same narrow
    // explode; re-running the explode is cheaper at scale than pinning a
    // corpus-sized intermediate in executor storage (lineage stays
    // recomputable after executor loss, unlike localCheckpoint)
    val tf = terms.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    // rank on the RAW score (the oracle does too): ranking on the rounded
    // value would order near-ties differently across engines
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("word").asc)
    // the df dictionary join is deliberately UNHINTED: a web corpus's token
    // vocabulary is Heaps-law sized but still hundreds of millions of
    // entries at 100 TB — gigabytes that a broadcast() hint would force
    // onto the driver and every executor regardless of
    // autoBroadcastJoinThreshold. AQE broadcasts it while it measures
    // small and falls back to a sort-merge join on the word keys when it
    // doesn't (same treatment as the bigram dictionary in
    // [[surprisalScoresBigram]]). Only the ONE-ROW nDocs aggregate keeps
    // the hint.
    tf.join(df, "word")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_raw", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= n)
      .select(col("doc_id"), col("word"), round(col("tfidf_raw"), 4).as("tfidf"),
        col("rk"))
  }

  /** BPE-style pre-tokenization (the GPT-2 pattern family, simplified to
    * the RE2/Java common subset): contraction suffixes, space-prefixed
    * letter runs, digit runs, punctuation runs. Counting THESE tokens — not
    * whitespace words — is how training pipelines budget corpus size,
    * because it tracks what a subword tokenizer will emit (~1 BPE merge per
    * pre-token for common words). Pure regexp_extract_all: codegen'd, zero
    * shuffle, and exactly reproducible in the DuckDB oracle.
    */
  private val BPE_PATTERN =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\\s']+"

  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(BPE_PATTERN), lit(0))

  /** Per-language BPE-token statistics — the corpus-budget aggregate. */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs.select(col("lang"), size(bpeTokens(col("text"))).as("n_bpe"))
      .groupBy("lang")
      .agg(sum(col("n_bpe")).as("total_bpe"),
        round(avg(col("n_bpe")), 4).as("avg_bpe"))

  /** [[BPE_PATTERN]] as a SQL string literal body (quotes doubled) for
    * oracle construction — same pattern text, no hand-duplication.
    */
  private[graft] def bpePatternSql: String = BPE_PATTERN.replace("'", "''")

  /** Subword vocabulary for merge-based token counting: the multi-char
    * units a small BPE training run converges to on mixed en/de/es/fr text
    * (common suffixes/digraphs + frequent whole words). Single characters
    * are the implicit byte-fallback — any position no unit matches costs
    * one token. Longest-match only ever compares lengths, so list order is
    * irrelevant (duplicates would be too, but the list is distinct).
    */
  private[graft] val BPE_VOCAB: Seq[String] = Seq(
    "tion", "ing", "ent", "ter", "ver", "der", "und", "die", "ist",
    "the", "and", "for", "est", "les", "los",
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "ed",
    "es", "or", "ar", "al", "st", "it", "le", "is", "ou", "of",
    "to", "el", "et", "la", "de")

  /** [[BPE_VOCAB]] as a DuckDB list literal for oracle construction. */
  private[graft] def bpeVocabSql: String =
    BPE_VOCAB.map(v => s"'${v.replace("'", "''")}'").mkString("[", ",", "]")

  /** Exact subword count for one word under greedy longest-match
    * segmentation against `vocab` (unmatched position ⇒ 1-char fallback
    * token) — the deterministic, engine-portable core of BPE/WordPiece
    * token counting. A single codegen'd fold over character positions:
    * state (pos, cnt) advances pos by the longest matching unit; positions
    * already consumed are skipped without evaluating the vocab probe
    * (`when` short-circuits in generated code).
    */
  def bpeSegmentCount(word: Column, vocab: Seq[String] = BPE_VOCAB): Column =
    // empty-word guard: sequence(1, 0) DESCENDS (yielding [1, 0] and one
    // spurious fold step), it does not return an empty array
    when(length(word) === 0, lit(0)).otherwise(aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), lit(0).as("cnt")),
      (st, i) => {
        val pos = st.getField("pos")
        val best = coalesce(
          greatest(vocab.map(v =>
            when(word.substr(pos, lit(v.length)) === v, lit(v.length))): _*),
          lit(1))
        when(i < pos, st).otherwise(
          struct((pos + best).as("pos"), (st.getField("cnt") + 1).as("cnt")))
      },
      st => st.getField("cnt")))

  /** The SEGMENTS of greedy longest-match subword segmentation — the
    * [[bpeSegmentCount]] fold, accumulating the pieces instead of their
    * count (one definition would be ideal, but the count form predates
    * this and its oracle locks it; a parity spec pins size(segments) ==
    * count). Empty word → empty array.
    */
  def bpeSegments(word: Column, vocab: Seq[String] = BPE_VOCAB): Column =
    when(length(word) === 0, array().cast("array<string>")).otherwise(aggregate(
      sequence(lit(1), length(word)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("segs")),
      (st, i) => {
        val pos = st.getField("pos")
        val best = coalesce(
          greatest(vocab.map(v =>
            when(word.substr(pos, lit(v.length)) === v, lit(v.length))): _*),
          lit(1))
        when(i < pos, st).otherwise(
          struct((pos + best).as("pos"),
            concat(st.getField("segs"),
              array(word.substr(pos, best))).as("segs")))
      },
      st => st.getField("segs")))

  /** Corpus BPE ENCODE at the vocabulary level: greedy longest-match
    * segmentation of every DISTINCT word into (word, seg_idx, piece,
    * piece_id) rows — piece_id is the 1-based [[BPE_VOCAB]] index, 0 for
    * single-char fallback pieces (the out-of-vocab byte-fallback id
    * space). This is the tokenizer-apply step of the training pipeline:
    * join it back to the exploded token stream (or feed it to a
    * [[graft.ops.Packing]] run) to materialize id sequences.
    *
    * Scale shape: segmentation runs once per distinct (Heaps'-law sized)
    * word after one token→distinct shuffle, exactly the
    * [[bpeExactStats]] rationale — never once per token instance.
    */
  def bpeEncode(docs: DataFrame, vocab: Seq[String] = BPE_VOCAB): DataFrame =
    docs.select(explode(toks(col("text"))).as("word")).distinct()
      .select(col("word"),
        posexplode(bpeSegments(col("word"), vocab)).as(Seq("seg_idx", "piece")))
      .select(col("word"), col("seg_idx"), col("piece"),
        coalesce(array_position(typedLit(vocab), col("piece")), lit(0L))
          .cast("int").as("piece_id"))

  /** Corpus-wide tokenizer APPLY: the id stream a trainer consumes —
    * (doc_id, ti, seg_idx, piece_id) rows in (token, piece) order, ids
    * from [[bpeEncode]]'s scheme (1-based vocab index, 0 = char
    * fallback). Long format on purpose: the global order key
    * (doc_id, ti, seg_idx) is explicit, and scalar rows feed both the
    * driver compare and a downstream [[graft.ops.Packing]] run without
    * array re-explosion.
    *
    * Scale shape: segmentation runs ONCE per distinct word (the
    * [[bpeExactStats]] Heaps'-law argument), then the token stream
    * equi-joins the (word → ids) dictionary — a token-volume shuffle on
    * the word key, the same volume a word count moves, and far cheaper
    * than segmenting per token instance (tokens/distinct-words ratio).
    * The dictionary is NOT force-broadcast: at 100 TB it is millions of
    * rows (let AQE decide — the q_search Heaps-law lesson,
    * TextAnalysis.scala:397).
    */
  def tokenIds(docs: DataFrame, vocab: Seq[String] = BPE_VOCAB): DataFrame = {
    // ids via the codegen kernel, not the interpreted bpeSegments fold:
    // Catalyst may migrate this projection across the join below and
    // evaluate it per token INSTANCE (measured 9 s at sf0.1 when the
    // fold rode the join); the kernel makes placement irrelevant
    val dict = docs.select(explode(toks(col("text"))).as("word")).distinct()
      .select(col("word"), graft.functions.ArrayKernels
        .bpe_segment_ids(col("word"), vocab).as("ids"))
    docs.select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("ti", "word")))
      .join(dict, Seq("word"))
      .select(col("doc_id"), col("ti"),
        posexplode(col("ids")).as(Seq("seg_idx", "piece_id")))
  }

  /** Per-source tokenizer VOCABULARY COVERAGE — the go/no-go readout for
    * "does this tokenizer fit this corpus slice": word instances, emitted
    * pieces, char-fallback pieces (vocab misses), and words containing at
    * least one fallback. A source whose fallback share spikes (new
    * language, code, math) is about to train at inflated sequence length
    * and degraded compression — this report catches it before packing.
    *
    * Counts only, no rates: the consumer divides — emitted ratios of
    * arbitrary integer counts are exactly the cross-engine rounding
    * hazard the margin/containment operators document.
    *
    * Scale shape: [[tokenIds]]' — segmentation once per DISTINCT word
    * (kernel, scan-stage), one token-volume word-keyed join, per-source
    * aggregate; the dictionary is not force-broadcast (the Heaps-law
    * rule at :397).
    */
  def vocabCoverage(docs: DataFrame,
      vocab: Seq[String] = BPE_VOCAB): DataFrame = {
    val words = docs.select(col("source"), explode(toks(col("text"))).as("word"))
    val dict = words.select("word").distinct()
      .select(col("word"), graft.functions.ArrayKernels
        .bpe_segment_ids(col("word"), vocab).as("ids"))
      .select(col("word"), size(col("ids")).as("n_p"),
        size(filter(col("ids"), x => x === 0)).as("n_f"))
    words.join(dict, Seq("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_p").cast("long")).as("n_pieces"),
        sum(col("n_f").cast("long")).as("n_fallback_pieces"),
        sum((col("n_f") > 0).cast("long")).as("n_oov_words"))
  }

  /** Vocabulary typo clustering (SymSpell delete-neighborhood form): map
    * each word to its most frequent edit-distance-≤1 neighbor when that
    * neighbor is decisively more frequent — the misspelling-normalization
    * table an OCR'd / user-generated corpus wants before frequency-based
    * stages (a typo'd variant otherwise reads as a rare "different" word
    * and skews surprisal, vocab coverage, and BPE learning).
    *
    * Candidate generation is exact for d ≤ 1: two words are within one
    * edit iff they share a key in {word} ∪ single-deletions(word)
    * (delete covers insert/delete from either side; a shared deletion at
    * the same position covers substitution). The join can also admit
    * d = 2 pairs (two different deletions colliding, e.g. transposition),
    * so every candidate is VERIFIED with `levenshtein ≤ 1` — the
    * band-then-verify contract the MinHash/LSH family uses. A word is
    * remapped only if length ≥ `minLen` (short words have too many
    * 1-edit neighbors to correct safely — the SymSpell caveat) and the
    * canonical is strictly more frequent AND at least `minRatio`× as
    * frequent (integer arithmetic, no float thresholds); ties break on
    * (freq desc, word asc) via one struct-min aggregate, no window.
    * Output: every vocabulary word with (word, freq, canonical,
    * canon_freq), canonical = the word itself when nothing qualifies.
    *
    * Scale shape: everything after the word-count aggregation (the one
    * corpus-sized shuffle, map-side combined — the word-count plan) is
    * vocabulary-sized (Heaps' law): keys explode ×(len+1) on the
    * dictionary only, the self-join shuffles vocab×(len+1) key rows, and
    * the final mapping join is vocab-sized. The corpus text never moves.
    */
  def typoClusters(docs: DataFrame, minLen: Int = 4,
      minRatio: Long = 2L): DataFrame = {
    require(minLen >= 1, s"typoClusters: minLen must be >= 1, got $minLen")
    require(minRatio >= 1L, s"typoClusters: minRatio must be >= 1, got $minRatio")
    val vocab = docs.select(explode(toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // {word} ∪ single-deletions; substr len overshoot is safe, and the
    // length-1 word's "" deletion key just groups 1-char words (harmless
    // — the verify filter decides). array_distinct: "aa" deletes to the
    // same "a" twice — duplicate keys only fan out the join.
    def keyed(v: DataFrame) = v.select(col("word"), col("freq"),
      explode(array_distinct(concat(array(col("word")),
        transform(sequence(lit(1), length(col("word"))), i =>
          concat(col("word").substr(lit(1), i - 1),
            col("word").substr(i + 1, length(col("word")))))))).as("key"))
    val typoSide = keyed(vocab.where(length(col("word")) >= minLen))
      .toDF("word", "freq", "key")
    val canonSide = keyed(vocab).toDF("cand", "cfreq", "key")
    // duplicate (word, cand) rows from multiple shared keys are harmless
    // under the min-struct aggregate — no distinct shuffle needed
    val best = typoSide.join(canonSide, "key")
      .where(col("word") =!= col("cand") &&
        levenshtein(col("word"), col("cand")) <= 1 &&
        col("cfreq") > col("freq") &&
        col("cfreq") >= col("freq") * minRatio)
      .groupBy("word")
      .agg(min(struct((-col("cfreq")).as("_nf"), col("cand").as("_c")))
        .as("_b"))
      .select(col("word"), col("_b._c").as("_cand"),
        (-col("_b._nf")).as("_cfreq"))
    vocab.join(best, Seq("word"), "left")
      .select(col("word"), col("freq"),
        coalesce(col("_cand"), col("word")).as("canonical"),
        coalesce(col("_cfreq"), col("freq")).as("canon_freq"))
  }

  /** Apply a [[typoClusters]] mapping: rewrite every token to its
    * canonical form, order-preserving — the fit/apply pair of the typo
    * family (the perplexityBuckets → perplexityMixApply convention).
    * Untokenizable documents pass through unchanged. Returns
    * (idCol, textCol, n_tokens, n_changed).
    *
    * Scale shape: the token stream shuffles once for the ordered
    * reassembly (the tokenIds/spanDedup reconstruct pattern — the honest
    * cost of rewriting text at token resolution); the mapping join is
    * vocabulary-sized and unhinted (AQE broadcasts while small). Identity
    * rows are filtered from the mapping BEFORE the join so a mapping that
    * changes nothing costs nothing extra.
    */
  def typoNormalize(docs: DataFrame, mapping: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val m = mapping.where(col("canonical") =!= col("word"))
      .select(col("word"), col("canonical"))
    val rebuilt = docs
      .select(col(idCol), posexplode(toks(col(textCol))).as(Seq("pos", "word")))
      .join(m, Seq("word"), "left")
      .groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"),
            coalesce(col("canonical"), col("word")).as("w")))),
          s => s.getField("w")), " ").as("_new_text"),
        count(lit(1)).as("n_tokens"),
        sum(col("canonical").isNotNull.cast("long")).as("n_changed"))
    docs.select(col(idCol), col(textCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_new_text"), col(textCol)).as(textCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_changed"), lit(0L)).as("n_changed"))
  }

  /** Per-language EXACT merge-based token totals vs the pre-tokenizer
    * proxy ([[bpeTokens]]), with the drift ratio between them — the
    * calibration report for corpus budgeting (how far off the cheap count
    * is from what the subword tokenizer will actually emit).
    *
    * Scale shape: segmentation runs on the DISTINCT (lang, word)
    * vocabulary, not per token instance — Heaps'-law sized (millions of
    * rows at 100 TB, vs trillions of tokens), reached by one (lang, word)
    * shuffle of counts; the corpus text is scanned once per side and never
    * shuffled. Languages with no latin-script tokens have no exact-side
    * rows and drop out via the inner join (both engines agree).
    */
  def bpeExactStats(docs: DataFrame, vocab: Seq[String] = BPE_VOCAB): DataFrame = {
    val byWord = docs
      .select(col("lang"), explode(toks(col("text"))).as("word"))
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    val exact = byWord
      .withColumn("seg", bpeSegmentCount(col("word"), vocab))
      .groupBy("lang").agg(sum(col("cnt") * col("seg")).as("total_exact"))
    val proxy = docs
      .select(col("lang"), size(bpeTokens(col("text"))).as("n"))
      .groupBy("lang").agg(sum(col("n")).as("total_proxy"))
    exact.join(proxy, "lang")
      .select(col("lang"), col("total_exact"), col("total_proxy"),
        round(col("total_exact").cast("double") / col("total_proxy"), 4)
          .as("drift"))
  }

  /** Distributed BPE merge LEARNING — the tokenizer-training half the
    * merge-based encoder family was missing: learn `nMerges` merge rules
    * from the corpus itself (Sennrich et al. 1508.07909, the GPT-2/HF
    * `tokenizers` algorithm). Classic formulation: training statistics
    * live on the DISTINCT pre-token dictionary weighted by frequency —
    * Heaps'-law sized, the [[bpeExactStats]] argument — so one corpus
    * scan builds (word, freq), and every iteration after that touches
    * only the dictionary:
    *
    *   pair counts  = explode of adjacent symbol pairs, freq-weighted,
    *                  map-side combined (dictionary-volume shuffle);
    *   best pair    = TakeOrdered(1) by (count DESC, left ASC, right ASC)
    *                  — fully deterministic tie-break, one driver row per
    *                  iteration (the model, not the data);
    *   apply        = one scan-stage [[graft.functions.ArrayKernels.BpeMergePair]]
    *                  pass over the dictionary's symbol arrays.
    *
    * The dictionary is localCheckpoint'd at start and every
    * `checkpointEvery` merges — dictionary-sized, the Curation
    * id-only-checkpoint convention — so the per-iteration plan stays
    * O(checkpointEvery) deep instead of re-running the whole merge chain
    * each round. Learning stops early when the best pair's weighted count
    * falls below `minFreq` (merging a pair that barely occurs buys no
    * compression). Returns (rank, left, right, merged, cnt) — `cnt` is
    * the freq-weighted adjacent-occurrence count at selection time.
    *
    * Not SQL-expressible (per-iteration global argmax feeding the next
    * iteration's state); parity-locked instead against an independent
    * sequential reference implementation on random corpora
    * (PropertySpec), the q_pii_scrub/q_fim convention.
    */
  def bpeLearn(docs: DataFrame, nMerges: Int, minFreq: Long = 2L,
      checkpointEvery: Int = 5, batchTopN: Int = 64): DataFrame = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    require(batchTopN >= 1, s"batchTopN must be >= 1, got $batchTopN")
    val spark = docs.sparkSession
    var dict = docs
      .select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      // split to code points ((?s). matches one code point, incl. any
      // linebreak); the symbol alphabet grows by concatenation from here
      .select(col("freq"),
        regexp_extract_all(col("word"), lit("(?s)."), lit(0)).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    // Round 17 (guide §5, driver round-trips): one pair-count JOB per merge
    // becomes one job per BATCH of merges. Each job collects the top
    // `batchTopN` pairs; merges keep being accepted off that snapshot while
    // provably identical to the sequential argmax. Soundness: merging
    // p=(l,r)→lr only changes counts of pairs touching {l, r, lr} — old
    // pairs monotonically DECREASE (a merge consumes adjacencies, and a new
    // adjacency always involves lr), and every NEW pair (x,lr)/(lr,y) is
    // bounded by the snapshot count of its parent (x,l)/(r,y), which itself
    // touches the affected set. So the best listed pair whose symbols are
    // untouched still has its EXACT snapshot count, and it is the true
    // global argmax whenever that count strictly exceeds every stale bound:
    // listed pairs touching the affected set, and the last listed count for
    // anything unlisted (strict >, because an equal-count unknown could win
    // the (cnt desc, l asc, r asc) tie-break). The merged pair itself
    // leaves the board: a left-to-right merge pass leaves no (l,r)
    // adjacency behind. Parity stays locked by the PropertySpec sequential
    // reference; the merge list (and each cnt-at-selection) is unchanged.
    while (rank <= nMerges && !done) {
      val top = dict
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("syms")) - 2),
            j => struct(element_at(col("syms"), j + 1).as("l"),
              element_at(col("syms"), j + 2).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(batchTopN).collect()
      if (top.isEmpty || top(0).getLong(2) < minFreq) done = true
      else {
        // pairs not in the snapshot can never currently exceed this
        val unlistedBound = if (top.length == batchTopN) top.last.getLong(2) else 0L
        val affected = scala.collection.mutable.Set.empty[String]
        val acceptedIdx = scala.collection.mutable.Set.empty[Int]
        var snapshotLive = true
        while (snapshotLive && rank <= nMerges && !done) {
          // best listed pair whose symbols the snapshot still prices exactly
          var j = 0
          while (j < top.length && (acceptedIdx(j) ||
              affected(top(j).getString(0)) || affected(top(j).getString(1))))
            j += 1
          if (j >= top.length) snapshotLive = false
          else {
            val (l, r, c) =
              (top(j).getString(0), top(j).getString(1), top(j).getLong(2))
            // stale upper bound on every pair whose count the snapshot no
            // longer prices exactly (touches affected, or unlisted)
            var bound = unlistedBound
            var k = 0
            while (k < top.length) {
              if (!acceptedIdx(k) &&
                  (affected(top(k).getString(0)) || affected(top(k).getString(1))) &&
                  top(k).getLong(2) > bound)
                bound = top(k).getLong(2)
              k += 1
            }
            if (affected.nonEmpty && c <= bound) snapshotLive = false
            else if (c < minFreq) done = true
            else {
              merges += ((rank, l, r, c))
              acceptedIdx += j
              affected += l; affected += r; affected += (l + r)
              dict = dict.withColumn("syms",
                graft.functions.ArrayKernels.bpe_merge_pair(col("syms"), l, r))
              if (rank % checkpointEvery == 0) dict = dict.localCheckpoint()
              rank += 1
            }
          }
        }
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "cnt")
      .select(col("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("cnt"))
  }

  /** Merge-based BPE ENCODING of a corpus under a learned merge list:
    * every distinct pre-token segmented by
    * [[graft.functions.ArrayKernels.BpeMergeEncode]] (apply merges in rank
    * order — the exact inverse-of-training segmentation), returned as
    * (word, freq, pieces, n_pieces). Segmentation cost is paid once per
    * DISTINCT word; `merges` is the learned model — driver-sized by
    * definition (k rules), the IVF-centroid precedent — interpolated into
    * the plan as kernel constants.
    */
  def bpeEncodeLearned(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    docs.select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("pieces",
        graft.functions.ArrayKernels.bpe_merge_encode(col("word"), merges))
      .withColumn("n_pieces", size(col("pieces")))

  /** Unigram-LM tokenizer TRAINING (Kudo 1804.10959, the SentencePiece
    * unigram model) in its hard-EM (Viterbi-EM) form — the OTHER learned
    * tokenizer family beside merge-based [[bpeLearn]]:
    *
    *   1. seed — every ≤ `seedMaxLen`-code-point substring of the distinct-
    *      word dictionary, freq-weighted; the alphabet (all single code
    *      points) is kept unconditionally, plus the top `seedMult ×
    *      vocabSize` multi-char candidates by corpus mass;
    *   2. E-step — segment every distinct word by
    *      [[graft.functions.ArrayKernels.UnigramViterbi]] under the current
    *      model (model as expression literals — scan stage, zero shuffle);
    *   3. M-step — piece probabilities re-estimated from freq-weighted
    *      usage counts; unused candidates prune away, the alphabet floors
    *      at count 1 so total coverage survives zero usage;
    *   4. repeat `emIters` times, then keep the alphabet + the top
    *      (vocabSize − |alphabet|) multi-char pieces.
    *
    * Full EM sums over ALL segmentations (forward-backward over the word
    * lattice); the Viterbi-EM variant assigns each word its single best
    * segmentation per round — the deterministic, engine-portable core
    * (same family relationship as [[bpeSegments]] to full BPE dropout).
    * Documented divergence, locked by spec against an independent
    * sequential reference.
    *
    * Scale shape: the dictionary is distinct-word (Heaps'-law) sized and
    * localCheckpoint'd once; seeding is one map-side-combined aggregate
    * over O(len × seedMaxLen) substring rows per distinct word (token-
    * volume bounded, the honest seed cost); each EM round is one
    * scan-stage segmentation pass + one MODEL-SIZED aggregate collect —
    * the driver only ever holds the model (the [[bpeLearn]] /
    * ivfCentroids discipline). Returns (rank, piece, cnt, logp), rank by
    * (cnt desc, piece asc).
    *
    * Not SQL-expressible (per-iteration global re-estimation feeding the
    * next round's literals) — parity/property-locked instead, the
    * q_bpe_learn convention.
    */
  /** Shared trainer front half ([[unigramLearn]] / [[unigramLearnSoft]]):
    * distinct-word dictionary + freq-weighted substring seed. Returns
    * (dict, alphabet, seed entries) — alphabet-sized and model-sized
    * driver collects respectively.
    */
  private def unigramSeed(docs: DataFrame, vocabSize: Int, seedMaxLen: Int,
      seedMult: Int): (DataFrame, Seq[(String, Long)], Seq[(String, Long)]) = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(seedMaxLen >= 2, s"seedMaxLen must be >= 2, got $seedMaxLen")
    require(seedMult >= 1, s"seedMult must be >= 1, got $seedMult")
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = docs
      .select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .localCheckpoint()
    val syms = regexp_extract_all(col("word"), lit("(?s)."), lit(0))
    val subCounts = dict
      .select(col("freq"), syms.as("s"))
      .select(col("freq"), explode(flatten(
        transform(sequence(lit(1), size(col("s"))), i =>
          transform(
            sequence(lit(1), least(lit(seedMaxLen), size(col("s")) - i + 1)),
            l => array_join(slice(col("s"), i, l), ""))))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .withColumn("n_cp",
        size(regexp_extract_all(col("piece"), lit("(?s)."), lit(0))))
    val alphabet = subCounts.where(col("n_cp") === 1)
      .select(col("piece"), col("cnt")).as[(String, Long)].collect().toSeq
    require(alphabet.nonEmpty,
      "unigram seed: corpus yielded no tokens — nothing to train on")
    val seed: Seq[(String, Long)] = alphabet ++ subCounts
      .where(col("n_cp") >= 2)
      .orderBy(col("cnt").desc, col("piece").asc)
      .limit(seedMult * vocabSize)
      .select(col("piece"), col("cnt")).as[(String, Long)].collect().toSeq
    (dict, alphabet, seed)
  }

  def unigramLearn(docs: DataFrame, vocabSize: Int, seedMaxLen: Int = 6,
      seedMult: Int = 4, emIters: Int = 3,
      unkLogp: Double = UNIGRAM_UNK_LOGP): DataFrame = {
    require(emIters >= 0, s"emIters must be >= 0, got $emIters")
    val spark = docs.sparkSession
    import spark.implicits._
    val (dict, alphabet, seed) =
      unigramSeed(docs, vocabSize, seedMaxLen, seedMult)
    val alphaSet = alphabet.map(_._1).toSet
    var entries: Seq[(String, Long)] = seed
    val nMulti = math.max(vocabSize - alphabet.size, 0)
    def toModel(es: Seq[(String, Long)]): (Seq[String], Seq[Double]) = {
      val total = es.map(_._2).sum.toDouble
      (es.map(_._1), es.map(e => math.log(e._2 / total)))
    }
    for (_ <- 1 to emIters) {
      val (pieces, logps) = toModel(entries)
      val counted = dict
        .select(col("freq"), explode(graft.functions.ArrayKernels
          .unigram_viterbi(col("word"), pieces, logps, unkLogp)).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .as[(String, Long)].collect().toMap
      entries = alphabet.map { case (p, _) =>
        (p, math.max(counted.getOrElse(p, 0L), 1L)) } ++
        counted.iterator.filter { case (p, _) => !alphaSet(p) }.toSeq
          .sortBy { case (p, c) => (-c, p) }.take(nMulti)
    }
    val kept = entries.filter { case (p, _) => alphaSet(p) } ++
      entries.filter { case (p, _) => !alphaSet(p) }
        .sortBy { case (p, c) => (-c, p) }.take(nMulti)
    val (pieces, logps) = toModel(kept)
    pieces.indices.map { i => (pieces(i), kept(i)._2, logps(i)) }
      .sortBy { case (p, c, _) => (-c, p) }.zipWithIndex
      .map { case ((p, c, lp), i) => (i + 1, p, c, lp) }
      .toDF("rank", "piece", "cnt", "logp")
      .withColumn("logp", round(col("logp"), 6))
  }

  /** FULL-EM unigram tokenizer training — the Kudo 1804.10959 §3.2
    * E-step proper, where [[unigramLearn]] is the hard (Viterbi-EM)
    * variant: each word contributes POSTERIOR EXPECTED usage counts over
    * ALL its segmentations (forward–backward over the word lattice via
    * [[graft.functions.ArrayKernels.UnigramExpectedCounts]]), so
    * plausible-but-not-best pieces keep probability mass instead of
    * starving at round one. Same seed, pruning policy (alphabet floors
    * at 1.0, top-n multis), scale shape (scan-stage E-step with the
    * model as literals, MODEL-sized M-step collects), and output schema
    * — `cnt` is the expected count, a double rounded to 6 decimals
    * before ranking so the distributed sum's last-ulp order sensitivity
    * cannot flip a prune-boundary tie between runs.
    */
  def unigramLearnSoft(docs: DataFrame, vocabSize: Int, seedMaxLen: Int = 6,
      seedMult: Int = 4, emIters: Int = 3,
      unkLogp: Double = UNIGRAM_UNK_LOGP): DataFrame = {
    require(emIters >= 0, s"emIters must be >= 0, got $emIters")
    val spark = docs.sparkSession
    import spark.implicits._
    val (dict, alphabet, seed) =
      unigramSeed(docs, vocabSize, seedMaxLen, seedMult)
    val alphaSet = alphabet.map(_._1).toSet
    val nMulti = math.max(vocabSize - alphabet.size, 0)
    def toModel(es: Seq[(String, Double)]): (Seq[String], Seq[Double]) = {
      val total = es.map(_._2).sum
      (es.map(_._1), es.map(e => math.log(e._2 / total)))
    }
    def q6(x: Double): Double =
      math.rint(x * 1e6) / 1e6
    var entries: Seq[(String, Double)] =
      seed.map { case (p, c) => (p, c.toDouble) }
    for (_ <- 1 to emIters) {
      val (pieces, logps) = toModel(entries)
      val counted = dict
        .select(col("freq"), explode(graft.functions.ArrayKernels
          .unigram_expected_counts(col("word"), pieces, logps, unkLogp))
          .as("e"))
        .select(col("e.piece").as("piece"),
          (col("e.ec") * col("freq")).as("c"))
        .groupBy("piece").agg(sum("c").as("cnt"))
        .as[(String, Double)].collect().toMap
      // q6-rounded zeros (posterior mass < 5e-7) must not survive the
      // top-n cut: on degenerate/small corpora where vocabSize exceeds
      // the positive-count pool, a 0.0 entry would reach toModel as
      // log(0) = -Infinity and crash the kernels' finite-logp require.
      entries = alphabet.map { case (p, _) =>
        (p, math.max(q6(counted.getOrElse(p, 0.0)), 1.0)) } ++
        counted.iterator.filter { case (p, _) => !alphaSet(p) }
          .map { case (p, c) => (p, q6(c)) }.filter(_._2 > 0.0).toSeq
          .sortBy { case (p, c) => (-c, p) }.take(nMulti)
    }
    val kept = entries.filter { case (p, _) => alphaSet(p) } ++
      entries.filter { case (p, c) => !alphaSet(p) && c > 0.0 }
        .sortBy { case (p, c) => (-c, p) }.take(nMulti)
    val (pieces, logps) = toModel(kept)
    pieces.indices.map { i => (pieces(i), kept(i)._2, logps(i)) }
      .sortBy { case (p, c, _) => (-c, p) }.zipWithIndex
      .map { case ((p, c, lp), i) => (i + 1, p, c, lp) }
      .toDF("rank", "piece", "cnt", "logp")
      .withColumn("cnt", round(col("cnt"), 4))
      .withColumn("logp", round(col("logp"), 6))
  }

  /** The default out-of-model single-code-point log-probability: low
    * enough that any in-model path wins, finite so coverage is total.
    */
  private[graft] val UNIGRAM_UNK_LOGP = -25.0

  /** Unigram-LM ENCODING of a corpus under a learned (piece, logp) model:
    * every distinct pre-token segmented by the max-likelihood Viterbi path
    * ([[graft.functions.ArrayKernels.UnigramViterbi]]), returned as
    * (word, freq, pieces, n_pieces) — the [[bpeEncodeLearned]] shape, so
    * downstream id-stream/packing plumbing is shared. Segmentation cost is
    * paid once per DISTINCT word; the model is driver-sized by definition
    * and rides the plan as kernel literals. Out-of-alphabet code points
    * segment as themselves at `unkLogp` (the byte-fallback id space).
    */
  def unigramEncodeLearned(docs: DataFrame, model: Seq[(String, Double)],
      unkLogp: Double = UNIGRAM_UNK_LOGP): DataFrame =
    docs.select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("pieces", graft.functions.ArrayKernels.unigram_viterbi(
        col("word"), model.map(_._1), model.map(_._2), unkLogp))
      .withColumn("n_pieces", size(col("pieces")))

  /** SAMPLED unigram encoding — subword regularization (Kudo §3.1): each
    * distinct word segmented by ONE draw from P(seg)^alpha via the
    * forward-filter/backward-sample kernel, the tokenizer noise training
    * pipelines inject so the model sees segmentation variants of the
    * same surface form. Deterministic per (word, seed, model) — the
    * seeded-LSH replayability convention — so an epoch's variant stream
    * is `unigramSampleEncode(docs, m, seed = epoch)`: new noise each
    * epoch, reproducible runs. alpha = 1 samples the exact posterior;
    * large alpha degenerates to the Viterbi segmentation.
    */
  def unigramSampleEncode(docs: DataFrame, model: Seq[(String, Double)],
      seed: Long, alpha: Double = 1.0,
      unkLogp: Double = UNIGRAM_UNK_LOGP): DataFrame =
    docs.select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("pieces", graft.functions.ArrayKernels.unigram_sample(
        col("word"), model.map(_._1), model.map(_._2), unkLogp, seed, alpha))
      .withColumn("n_pieces", size(col("pieces")))

  /** SOFT unigram encoding — the E-step posterior APPLICATION under a
    * standing model (the apply half of [[unigramLearnSoft]], whose
    * TRAINING loop stays the oracle-exempt row): per distinct word,
    * the expected usage count of every piece over ALL segmentations
    * (forward–backward in the QUANTIZED
    * [[graft.functions.ArrayKernels.UnigramExpectedCounts]] kernel —
    * q6 DP cells, integer-nanomass arc posteriors, ec = nanomass/10⁹
    * unrounded), the soft-label view beside
    * [[unigramEncodeLearned]]'s one-best path. The quantization is
    * what makes the rows bit-replayable in a DuckDB oracle (the
    * UnigramSample md5-lane doctrine): every cross-engine libm ulp is
    * absorbed at a q6/rint boundary and the per-piece sums are
    * order-exact integers. Scale shape: dictionary-sized, model as
    * literals, zero shuffle past the word dictionary.
    * Returns (word, freq, piece, ec).
    */
  def unigramSoftEncode(docs: DataFrame, model: Seq[(String, Double)],
      unkLogp: Double = UNIGRAM_UNK_LOGP): DataFrame =
    docs.select(explode(bpeTokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        explode(graft.functions.ArrayKernels.unigram_expected_counts(
          col("word"), model.map(_._1), model.map(_._2), unkLogp,
          quantize = true)).as("e"))
      .select(col("word"), col("freq"), col("e.piece").as("piece"),
        col("e.ec").as("ec"))

  /** Collect a [[unigramLearn]] output frame to the (piece, logp) literal
    * model [[unigramEncodeLearned]] and the Viterbi kernel take — one
    * model-sized driver hop, the explicit seam between training and apply.
    */
  def unigramModelOf(learned: DataFrame): Seq[(String, Double)] =
    learned.select(col("piece"), col("logp"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq

  /** Per-document token budget under a learned unigram model — the
    * corpus-sizing pass a pipeline runs before packing/mixing: word count,
    * piece count, and fertility (pieces per word, the tokenizer-efficiency
    * number vocab ablations compare). Unlike [[unigramEncodeLearned]]
    * (distinct-word dictionary + join shape), this segments each
    * document's words in place — one scan-stage pass, zero shuffle,
    * STATELESS, so it runs unchanged on a stream (append mode, no
    * foreachBatch — the dsirScores precedent). The per-instance
    * segmentation re-pays Viterbi per duplicate word; that is the price
    * of statelessness, and the kernel is O(len × maxPieceLen) — for batch
    * corpus budgeting at 100 TB prefer the dictionary form and weight by
    * freq.
    */
  def unigramDocStats(docs: DataFrame, model: Seq[(String, Double)],
      unkLogp: Double = UNIGRAM_UNK_LOGP): DataFrame = {
    val pieces = transform(bpeTokens(col("text")),
      w => graft.functions.ArrayKernels.unigram_viterbi(
        w, model.map(_._1), model.map(_._2), unkLogp))
    Par.fanOutKernel(docs).select(col("doc_id"), pieces.as("_p"))
      .select(col("doc_id"),
        size(col("_p")).as("n_words"),
        coalesce(aggregate(col("_p"), lit(0),
          (acc, ps) => acc + size(ps)), lit(0)).as("n_pieces"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          round(col("n_pieces").cast("double") / col("n_words"), 4)))
  }

  /** Gopher/MassiveText-style repetition signals per document — the
    * standard "degenerate text" filters applied before LLM training:
    * the fraction of tokens taken by the single most frequent token, and
    * the fraction of duplicated 3-gram shingles. Both integers come off
    * the shared GopherRepStats codegen kernel in one pass per row:
    * zero shuffle, embarrassingly parallel, hashed O(len) per doc —
    * book-length texts included (the former interpreted filter-count
    * form was O(len × distinct)).
    */
  def repetitionScores(docs: DataFrame): DataFrame = {
    val emptyS = array().cast("array<string>")
    // round 12: both count fractions come off the shared GopherRepStats
    // kernel pass (fields ntok/t1c/d3i) — the O(L·distinct)
    // interpreted filter-count lambdas are gone, and the per-doc cost
    // is the kernel's hashed O(L)
    Par.fanOutKernel(docs).select(col("doc_id"),
        graft.functions.ArrayKernels.gopher_rep_stats(
          coalesce(toks(col("text")), emptyS), emptyS, emptyS,
          lite = true).as("_s"))
      .select(col("doc_id"),
        round(col("_s.t1c").cast("double") /
          greatest(col("_s.ntok"), lit(1L)), 4).as("top_tok_frac"),
        round(col("_s.d3i").cast("double") /
          greatest(greatest(col("_s.ntok") - 2L, lit(0L)), lit(1L)), 4)
          .as("dup_3gram_frac"))
  }


  /** CCNet-style unigram surprisal per document: avg −ln p(token) under
    * the corpus's own unigram distribution — the SQL-expressible core of
    * LM-perplexity quality filtering (documents of improbable tokens score
    * high; formulaic boilerplate scores low). Same scale shape as
    * [[tfIdfTopTerms]]: one explode, one word-count aggregation, a
    * broadcast-able frequency dictionary (Heaps-law sized) joined back,
    * one per-doc aggregation; the corpus text never shuffles. Documents
    * with zero tokens have no rows to score and drop out (both engines
    * agree via inner-join semantics).
    */
  def surprisalScores(docs: DataFrame): DataFrame = {
    val terms = Par.fanOutKernel(docs).select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val tf = terms.groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = tf.agg(sum("cnt").cast("double").as("n_total"))
    // tf dictionary join left UNHINTED for the same reason as the tfidf df
    // join above: Heaps-law sized is not broadcast-sized at 100 TB; AQE
    // picks broadcast while it fits. Only the one-row total keeps the hint.
    terms.join(tf, "word")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("cnt") / col("n_total"))), 4).as("avg_surprisal"))
  }

  /** Unigram surprisal scored from a COUNT-MIN SKETCH instead of the
    * exact frequency dictionary — the fixed-memory form of
    * [[surprisalScores]]. At 100 TB the exact unigram table is itself
    * hundreds of millions of rows that must shuffle and join; the sketch
    * is d·w cells BY CONSTRUCTION (parameters, not data), so the
    * frequency model becomes a broadcastable artifact that
    * [[CountMin.serve]] can maintain incrementally. CMS error is
    * one-sided (never an underestimate), so sketch-scored surprisal only
    * ever UNDERSTATES rarity — a perplexity gate keyed on high surprisal
    * never flags extra documents, it can only miss ones whose rare words
    * collided with hot cells (bounded by εN at w = ⌈e/ε⌉).
    *
    * Convenience self-scored form: build the sketch and exact token
    * total from `docs`, then score `docs`. The artifact-serving form is
    * [[surprisalApplySketch]].
    */
  def surprisalScoresSketch(docs: DataFrame, depth: Int = 4,
      width: Int = 256): DataFrame = {
    val terms = Par.fanOutKernel(docs).select(col("doc_id"), explode(toks(col("text"))).as("word"))
    surprisalApplySketch(docs,
      CountMin.sketch(terms, "word", depth, width),
      terms.agg(count(lit(1)).cast("double").as("n_total")), depth, width)
  }

  /** Score documents against a STANDING count-min sketch + one-row token
    * total (the [[CountMin.serve]] artifacts) — surprisal serving with no
    * corpus-sized dictionary anywhere: estimates are computed per
    * DISTINCT word (Heaps-law sized) by joining the word's d cells
    * against the broadcast cell table (≤ d·w rows — the bounded-by-
    * construction case where a forced broadcast is correct, unlike the
    * Heaps-law tf dictionary), then joined back to the token stream
    * unhinted. Words absent from the sketch (all d cells empty — only
    * possible when scoring docs the sketch never saw) floor at count 1,
    * the standard smoothing that keeps −ln finite and deterministic.
    */
  def surprisalApplySketch(docs: DataFrame, cms: DataFrame,
      totals: DataFrame, depth: Int = 4, width: Int = 256): DataFrame = {
    val terms = docs.select(col("doc_id"), explode(toks(col("text"))).as("word"))
    val cells = terms.select("word").distinct()
      .select(col("word"), explode(array((0 until depth).map(d =>
        struct(lit(d).as("d"),
          CountMin.bucket(col("word"), d, width).as("bucket"))): _*)).as("cell"))
      .select(col("word"), col("cell.d").as("d"), col("cell.bucket").as("bucket"))
    val est = cells.join(broadcast(cms), Seq("d", "bucket"), "left")
      .groupBy("word")
      .agg(greatest(min(coalesce(col("cnt"), lit(0L))), lit(1L)).as("est"))
    terms.join(est, "word")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("est") / col("n_total"))), 4).as("avg_surprisal"))
  }

  /** (doc_id, prev, word) bigram rows — the ONE pair construction
    * [[surprisalScoresBigram]] and [[surprisalScoresBackoff]] share.
    */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val t = toks(col("text"))
    // round 17b measured-and-rejected (guide §1): a kernel fan here
    // ablated +0.12 s on q_lm_ppl and +0.29 s on q_dsir_mix — the
    // tokenize + self-zip explode is too cheap per row to pay for the
    // exchange (the r16 cheap-kernel lesson, see [[Par]]).
    docs
      .select(col("doc_id"), t.as("_t"))
      .where(size(col("_t")) >= 2)
      .select(col("doc_id"),
        explode(arrays_zip(
          slice(col("_t"), lit(1), size(col("_t")) - 1).as("prev"),
          slice(col("_t"), lit(2), size(col("_t")) - 1).as("word"))).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.word").as("word"))
  }

  /** Bigram surprisal per document: avg −ln p(wᵢ | wᵢ₋₁) under the
    * corpus's own bigram LM, p(w|prev) = C(prev,w) / C(prev,·) with
    * C(prev,·) summed over observed continuations. One step up the
    * n-gram ladder from [[surprisalScores]] toward the LM-perplexity
    * filters real curation stacks run; formulaic boilerplate (always the
    * same continuation) scores near zero, incoherent text scores high.
    *
    * Scale shape: bigrams come from zipping the token array with its own
    * tail — no window function, no per-doc shuffle; then one explode, one
    * (prev,word) count aggregation, a context-count rollup, and a join
    * back. BOTH dictionary joins are left unhinted: the bigram table grows
    * faster than Heaps' law, and the prev-token marginal `c1` is the
    * unigram vocabulary itself — hundreds of millions of rows at 100 TB,
    * never a safe forced broadcast (same policy as [[surprisalScores]]'s
    * tf join). AQE broadcasts either side while it measures small; in the
    * corpus-scale fallback the joins are sort-merge over dictionary-sized
    * (not corpus-sized) rows — c1's aggregation and the c2⋈c1 join each
    * cost an exchange of the bigram/unigram dictionaries, which is the
    * honest floor once neither fits in memory. Documents with < 2 tokens
    * have no bigrams and drop out (inner-join semantics, both engines
    * agree).
    */
  def surprisalScoresBigram(docs: DataFrame): DataFrame = {
    val pairs = bigramPairs(docs)
    val c2 = pairs.groupBy("prev", "word").agg(count(lit(1)).as("cnt2"))
    val c1 = c2.groupBy("prev").agg(sum("cnt2").as("cnt1"))
    pairs.join(c2.join(c1, "prev"), Seq("prev", "word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("cnt2").cast("double") / col("cnt1"))), 4)
          .as("avg_surprisal2"))
  }

  /** Stupid-backoff bigram surprisal with a TRAIN/SCORE split — the
    * serving form of [[surprisalScoresBigram]]: counts are fitted on
    * `train` and applied to `score`, so held-out documents hit bigrams
    * the model never saw and the backoff actually fires (self-scoring
    * makes cnt2 >= 1 by construction, which is why the self-scored
    * operator needs none). Score per bigram: cnt2/cnt1 when the TRAIN
    * corpus saw the pair, else alpha * (unigram count / train tokens) —
    * Brants et al.'s stupid backoff, the standard web-scale LM smoothing
    * precisely because it needs only the raw count tables. Bigrams whose
    * WORD is outside the train vocabulary entirely carry no signal and
    * are excluded; documents with no scorable bigram emit no row.
    *
    * Scale shape: the count dictionaries are Heaps-law sized and join
    * UNHINTED (the round-5/6 broadcast lesson: AQE broadcasts them while
    * they fit, and at 100 TB they must be allowed to shuffle); the score
    * side explodes narrow in the scan stage and only (doc, prev, word)
    * rows reach the joins.
    */
  def surprisalScoresBackoff(train: DataFrame, score: DataFrame,
      alpha: Double = 0.4): DataFrame = {
    val trainPairs = bigramPairs(train)
    val c2 = trainPairs.groupBy("prev", "word").agg(count(lit(1)).as("cnt2"))
    val c1 = c2.groupBy("prev").agg(sum("cnt2").as("cnt1"))
    val uni = train
      .select(explode(toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cntw"))
    val nTotal = uni.agg(sum("cntw").cast("double").as("n_total"))
    val s = when(col("cnt2").isNotNull,
        col("cnt2").cast("double") / col("cnt1"))
      .otherwise(lit(alpha) * (col("cntw").cast("double") / col("n_total")))
    bigramPairs(score)
      .join(c2, Seq("prev", "word"), "left")
      .join(c1, Seq("prev"), "left")
      .join(uni, Seq("word"), "left")
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"), s.as("_s"))
      .where(col("_s").isNotNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_scored"),
        round(avg(-log(col("_s"))), 4).as("avg_surprisal_bo"))
  }

  /** DEFLATE compression ratio per document (compressed/raw bytes) — the
    * language-agnostic degenerate-text signal (Gopher's compressibility
    * filter): boilerplate and repeated spans compress far below natural
    * text. Backed by the codegen'd
    * [[graft.functions.ArrayKernels.DeflateRatio]] kernel (JDK Deflater,
    * once per document).
    */
  def compressionScores(docs: DataFrame): DataFrame =
    Par.fanOutKernel(docs).select(col("doc_id"),
      round(graft.functions.ArrayKernels.deflate_ratio(col("text")), 4)
        .as("deflate_ratio"))

  /** Document fingerprint: md5 over the normalized token stream. Exact-dup
    * detection at 100 TB = groupBy(fingerprint) — a single shuffle of 16-byte
    * keys instead of full documents.
    *
    * Zero-token guard: a document that tokenizes to NOTHING (punctuation- or
    * symbol-only text; any script the tokenizer can't segment) must NOT
    * fingerprint to md5("") — that single value would make exactDedup's
    * keep-lowest-id rule silently collapse every such document into one
    * survivor. Those documents fall back to a `raw:`-prefixed md5 of the
    * raw text: byte-identical documents still dedup, merely-untokenizable
    * ones never do. The prefix keeps the fallback disjoint from every
    * token-stream md5 (no 32-hex collision between the two regimes).
    */
  /** Corpus bits-per-token / bits-per-byte under the corpus's OWN unigram
    * LM — the compression-difficulty dashboard LLM-data teams track per
    * source and per curation stage (a cheap stand-in for model-based
    * perplexity; falling bpb across recipe versions = the corpus got more
    * predictable). Derived from the [[surprisalScores]] per-doc rows, so
    * it inherits their oracle parity bit for bit: total bits =
    * Σ n_tokens·avg_surprisal / ln 2 over the ROUNDED per-doc averages
    * (the rounding is part of the contract, replayed by the oracle).
    * One row; only (word, count) partials and per-doc scores shuffle.
    */
  def bitsPerByte(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        octet_length(col("text")).cast("long").as("_bytes"))
      .join(surprisalScores(docs), "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        sum("_bytes").as("total_bytes"),
        round(sum(col("n_tokens") * col("avg_surprisal")) /
          sum("n_tokens") / math.log(2.0), 4).as("bits_per_token"),
        round(sum(col("n_tokens") * col("avg_surprisal")) /
          sum("_bytes") / math.log(2.0), 4).as("bits_per_byte"))

  def fingerprint(text: Column): Column = {
    val t = toks(text)
    when(size(t) > 0, md5(array_join(t, " ")))
      .otherwise(concat(lit("raw:"), md5(text)))
  }

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Feature-hashing document vectors — the hashing trick (Weinberger et
    * al.): each token is hashed into one of `dim` buckets with a ±1 sign
    * from a second hash bit (the sign halves collision bias), and a
    * document's vector is the signed bucket counts. Model-free,
    * deterministic, and engine-reproducible — the bridge from the text
    * side to the vector stack ([[Similarity.semanticDedupFlags]],
    * IVF/LSH indexing) when no learned embedder is in the loop, and a
    * classical near-dup signal in its own right (cosine of hashed
    * vectors estimates token-multiset overlap). Long format (doc_id,
    * dim_idx, value) — only touched buckets emit rows, values are exact
    * signed counts (integer-valued doubles, no rounding needed), and
    * zero-token documents emit nothing.
    *
    * Scale shape: ZERO shuffles — the whole vector is computed per document
    * in the scan stage by the codegen'd
    * [[graft.functions.ArrayKernels.HashEmbedEntries]] kernel (one MD5 per
    * token into a dim-slot accumulator), and the long format is an explode
    * of the ≤dim touched-bucket entries, not of the token stream. This
    * replaced an explode-every-token + groupBy(doc, bucket) formulation
    * whose shuffle volume was the token count (round 9); the hash scheme is
    * bit-identical (first 8 md5 hex digits mod dim; hex digit 9 parity as
    * the sign), so DuckDB oracle replays are unchanged. A touched bucket
    * whose signs cancel to 0.0 still emits its row, exactly as the
    * aggregation did.
    */
  def hashEmbedLong(docs: DataFrame, dim: Int = 64): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    Par.fanOutKernel(docs).select(col("doc_id"),
        explode(graft.functions.ArrayKernels.hash_embed_entries(
          toks(col("text")), dim)).as("_e"))
      .select(col("doc_id"), col("_e.dim_idx").as("dim_idx"),
        col("_e.value").as("value"))
  }

  /** Dense assembly: (vec_id, embedding ARRAY<FLOAT>) in the canonical
    * embeddings-table shape, so hashed document vectors feed the similarity
    * stack unchanged. Same scan-stage kernel
    * ([[graft.functions.ArrayKernels.HashEmbedDense]]), zero shuffles; the
    * size guard keeps the [[hashEmbedLong]] contract that zero-token
    * documents emit nothing (they must not enter the similarity stack as
    * all-zero vectors).
    */
  def hashEmbed(docs: DataFrame, dim: Int = 64,
      kernelFan: Boolean = true): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    // kernelFan = false is the INCREMENT-probe shape
    // ([[semanticDedupTextApply]]): the frame is a fraction of the corpus
    // that immediately joins the bucketed standing index, where downstream
    // parallelism comes from that join's exchange and the fan measured
    // +0.23 s at sf0.1 (r17 ablation), so it is not fanned.
    val fanned = if (kernelFan) Par.fanOutKernel(docs) else docs
    fanned.select(col("doc_id").as("vec_id"), toks(col("text")).as("_t"))
      .where(size(col("_t")) > 0)
      .select(col("vec_id"),
        graft.functions.ArrayKernels.hash_embed_dense(col("_t"), dim)
          .as("embedding"))
  }

  /** DSIR-style importance log-ratios (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", its deployment
    * skeleton re-expressed Spark-first): two smoothed hashed-unigram
    * feature distributions — a TARGET corpus (the data you want more of:
    * curated reference text) and the RAW corpus — reduced to one
    * `dim`-slot log-likelihood-ratio array
    * `lr[b] = ln p_target(b) − ln p_raw(b)` (add-alpha smoothed over the
    * full bucket grid, so never-hit buckets still carry the prior). The
    * array IS the model: dim doubles that ride the scoring plan as
    * literals ([[Similarity.pcaWhiten]]'s model-as-literals convention).
    *
    * Scale shape: one scan-stage [[graft.functions.ArrayKernels.HashCountEntries]]
    * pass per corpus (zero token-stream shuffle — only ≤dim touched-bucket
    * partials per document move, map-side combined to a dim-sized
    * dictionary), then a dim-sized driver collect. Counts are
    * integer-valued doubles, so both corpus aggregations are exact.
    */
  def dsirLogRatios(raw: DataFrame, target: DataFrame, dim: Int = 64,
      alpha: Double = 1.0): Array[Double] = {
    require(dim > 0, s"dsirLogRatios: dim must be positive, got $dim")
    require(alpha > 0, s"dsirLogRatios: alpha must be positive, got $alpha")
    def bucketCounts(docs: DataFrame): Array[Double] = {
      val out = new Array[Double](dim)
      docs.select(explode(graft.functions.ArrayKernels.hash_count_entries(
          toks(col("text")), dim)).as("_e"))
        .groupBy(col("_e.dim_idx").as("b")).agg(sum("_e.value").as("c"))
        .collect()
        .foreach(r => out(r.getInt(0)) = r.getDouble(1))
      out
    }
    val ct = bucketCounts(target)
    val cr = bucketCounts(raw)
    val nt = ct.sum + alpha * dim
    val nr = cr.sum + alpha * dim
    Array.tabulate(dim)(b =>
      math.log((ct(b) + alpha) / nt) - math.log((cr(b) + alpha) / nr))
  }

  /** Score every document with a fitted [[dsirLogRatios]] model:
    * `dsir_logw = Σ_b c_doc(b)·lr[b]` — the hashed-feature importance
    * log-weight. Positive ⇒ the document looks more like the target
    * distribution than the raw pool; feed the scores to
    * [[Sampling.perplexityBuckets]]/[[Sampling.temperatureMix]]-style
    * selection (rank, bucket, or exp(logw/T)-weighted resample) to get
    * the "importance resampling" half of DSIR.
    *
    * Pure scan stage: the per-document fold runs over the kernel's
    * dim_idx-ASCENDING entries array with the model as a literal array —
    * zero shuffle, the 100 TB scoring form. Zero-token documents score
    * 0.0 (no evidence either way) and are KEPT — a scoring pass must not
    * silently drop rows (the selection policy decides their fate).
    */
  def dsirScores(docs: DataFrame, logRatios: Array[Double]): DataFrame = {
    require(logRatios.nonEmpty, "dsirScores: empty log-ratio model")
    val dim = logRatios.length
    val lrLit = array(logRatios.toIndexedSeq.map(lit): _*)
    val t = toks(col("text"))
    Par.fanOutKernel(docs).select(col("doc_id"), size(t).cast("long").as("n_tokens"),
      round(aggregate(
        graft.functions.ArrayKernels.hash_count_entries(t, dim), lit(0.0),
        (acc, e) => acc + e.getField("value") *
          element_at(lrLit, e.getField("dim_idx") + lit(1))), 4)
        .as("dsir_logw"))
  }

  /** Multinomial Naive Bayes fit over hashed token counts — the TRAINED
    * stand-in for the fasttext-style classifiers corpus pipelines run
    * for language/domain routing ([[predLang]] is the fixed-heuristic
    * twin; [[dsirLogRatios]] is the binary log-ratio special case of
    * this). Features are [[graft.functions.ArrayKernels.HashCountEntries]]
    * buckets, add-`alpha` smoothed per class; priors are document-count
    * shares. Returns (label, logPrior, logCondProb[dim]) SORTED BY LABEL
    * — the order [[nbPredict]]'s tie-break depends on. Null labels are
    * excluded from the fit.
    *
    * Scale shape: two corpus passes, both map-side-combined aggregates
    * whose key spaces are (nClasses × dim) and nClasses — the collects
    * are model-sized, never data-sized (the [[dsirLogRatios]] contract).
    */
  def nbFit(docs: DataFrame, labelCol: String, dim: Int = 64,
      alpha: Double = 1.0): Seq[(String, Double, Array[Double])] = {
    require(dim > 0, s"nbFit: dim must be positive, got $dim")
    require(alpha > 0, s"nbFit: alpha must be positive, got $alpha")
    val labeled = Par.fanOutKernel(docs).where(col(labelCol).isNotNull)
    val counts = labeled.select(col(labelCol).as("_y"),
        explode(graft.functions.ArrayKernels.hash_count_entries(
          toks(col("text")), dim)).as("_e"))
      .groupBy(col("_y"), col("_e.dim_idx").as("b"))
      .agg(sum("_e.value").as("c")).collect()
    val docCounts = labeled.groupBy(col(labelCol).as("_y"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(docCounts.nonEmpty, "nbFit: no labeled documents")
    val nTotal = docCounts.values.sum
    val byClass = counts.groupBy(_.getString(0))
    docCounts.keys.toSeq.sorted.map { y =>
      val arr = new Array[Double](dim)
      byClass.getOrElse(y, Array.empty[org.apache.spark.sql.Row])
        .foreach(r => arr(r.getInt(1)) = r.getDouble(2))
      val nTok = arr.sum + alpha * dim
      (y, math.log(docCounts(y).toDouble / nTotal.toDouble),
        Array.tabulate(dim)(b => math.log((arr(b) + alpha) / nTok)))
    }
  }

  /** Argmax prediction with a fitted [[nbFit]] model: per document, the
    * label maximizing logPrior + Σ_b c(b)·logCondProb[b]. Per-class
    * scores are ROUNDED to 4 decimals before the argmax so the decision
    * cannot drift across engine ulps; count ties go to the
    * lexicographically FIRST label (array_position first-win over the
    * label-sorted score array — [[nbFit]] sorts). Zero-token documents
    * score prior-only, i.e. predict the majority class.
    *
    * Pure scan stage with the model as literal arrays — zero shuffle,
    * stateless-append streamable, the 100 TB scoring form.
    */
  def nbPredict(docs: DataFrame, model: Seq[(String, Double, Array[Double])],
      carry: Seq[String] = Nil): DataFrame = {
    require(model.nonEmpty, "nbPredict: empty model")
    val dim = model.head._3.length
    require(model.forall(_._3.length == dim), "nbPredict: ragged model")
    val labelsLit = array(model.map(m => lit(m._1)): _*)
    val withEntries = Par.fanOutKernel(docs).select(col("doc_id") +: carry.map(col) :+
      graft.functions.ArrayKernels.hash_count_entries(
        toks(col("text")), dim).as("_e"): _*)
    val scores = model.map { case (_, pri, lp) =>
      val lpLit = array(lp.toIndexedSeq.map(lit): _*)
      round(lit(pri) + aggregate(col("_e"), lit(0.0), (acc, e) =>
        acc + e.getField("value") *
          element_at(lpLit, e.getField("dim_idx") + lit(1))), 4)
    }
    withEntries
      .select(col("doc_id") +: carry.map(col) :+
        array(scores: _*).as("_sc"): _*)
      .withColumn("pred", element_at(labelsLit,
        array_position(col("_sc"), array_max(col("_sc"))).cast("int")))
      .drop("_sc")
  }

  /** Per-class precision/recall/F1 over ANY (label, prediction) frame —
    * the multiclass acceptance artifact beside [[cohenKappa]] (pairwise
    * labeler agreement) and [[calibrationReport]] (score reliability):
    * per class, true-positive / support / predicted counts in exact
    * integers, then prec = tp/n_pred, rec = tp/n_true, F1 as their
    * harmonic mean computed from the UNROUNDED ratios (rounding first
    * would double-round F1); metrics are NULL where the denominator is
    * empty (a class never predicted has no precision, not 0.0). Classes
    * appearing only on one side still get a row (full-outer on label).
    *
    * Scale shape: one confusion aggregate over the predictions (classes²
    * keys, map-side combined), then class-count-sized frames only.
    */
  def classifierReport(pred: DataFrame, labelCol: String,
      predCol: String): DataFrame = {
    val conf = pred
      .groupBy(col(labelCol).as("label"), col(predCol).as("p"))
      .agg(count(lit(1)).as("n"))
    val byTrue = conf.groupBy(col("label"))
      .agg(sum("n").as("n_true"),
        sum(when(col("p") === col("label"), col("n")).otherwise(lit(0L)))
          .as("tp"))
    val byPred = conf.groupBy(col("p").as("label"))
      .agg(sum("n").as("n_pred"))
    val j = byTrue.join(byPred, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
    val pr = col("tp").cast("double") / col("n_pred").cast("double")
    val rc = col("tp").cast("double") / col("n_true").cast("double")
    j.select(col("label"), col("tp"), col("n_true"), col("n_pred"),
      when(col("n_pred") > 0, round(pr, 4)).as("prec"),
      when(col("n_true") > 0, round(rc, 4)).as("rec"),
      when(col("n_pred") > 0 && col("n_true") > 0 && (pr + rc) > 0,
        round(lit(2.0) * pr * rc / (pr + rc), 4)).as("f1"))
  }

  /** Per-document script/charset composition — the code-switching and
    * mojibake audit multilingual curation runs before language-ID is
    * trusted ([[predLang]] assumes one dominant script; this measures
    * whether that holds): exact char counts per class (Latin, Han,
    * Cyrillic, decimal digits, whitespace, other), rounded fractions
    * over the non-whitespace mass, the dominant script (count argmax,
    * lexicographic on ties — 'none' when no script chars at all), and a
    * `mixed` flag when ≥ 2 script classes reach `minChars` chars — the
    * docs a single-language pipeline should route to segmentation
    * instead of dropping.
    *
    * Counting is length-difference over a char-class regexp_replace —
    * exact integers, no tokenizer involvement (raw chars are the
    * signal). Pure scan stage, zero shuffle, stateless-append
    * streamable.
    */
  def scriptMix(docs: DataFrame, minChars: Int = 5): DataFrame = {
    val text = coalesce(col("text"), lit(""))
    def classCount(re: String): Column =
      (length(text) - length(regexp_replace(text, re, ""))).cast("long")
    val a = Par.fanOutKernel(docs).select(col("doc_id"),
      length(text).cast("long").as("_len"),
      classCount("\\p{IsLatin}").as("n_latin"),
      classCount("\\p{IsHan}").as("n_han"),
      classCount("\\p{IsCyrillic}").as("n_cyrillic"),
      classCount("[0-9]").as("n_digit"),
      classCount("[ \\t\\n\\r\\f]").as("n_space"))
    val scripts = Seq("n_latin", "n_han", "n_cyrillic")
    val nonWs = greatest(col("_len") - col("n_space"), lit(1L))
    val mx = greatest(scripts.map(col): _*)
    a.select(Seq(col("doc_id"), col("n_latin"), col("n_han"),
      col("n_cyrillic"), col("n_digit"), col("n_space"),
      (col("_len") - col("n_latin") - col("n_han") - col("n_cyrillic") -
        col("n_digit") - col("n_space")).as("n_other")) ++
      scripts.map(c =>
        round(col(c).cast("double") / nonWs.cast("double"), 4)
          .as(c.stripPrefix("n_") + "_frac")) :+
      when(mx === 0L, "none")
        .when(col("n_cyrillic") === mx, "cyrillic")
        .when(col("n_han") === mx, "han")
        .otherwise("latin").as("dominant") :+
      (scripts.map(c => when(col(c) >= minChars, 1).otherwise(0))
        .reduce(_ + _) >= 2).cast("int").as("mixed"): _*)
  }

  /** Cohen's kappa between two boolean labelers — chance-corrected
    * agreement, THE acceptance gate on weak-supervision labels (quality
    * gates, toxicity votes, preference annotations): raw agreement po
    * over-credits labelers that both say "keep" to almost everything, so
    * curation pipelines gate on κ = (po − pe)/(1 − pe) instead. One
    * single-row conditional aggregation — counts are exact integers, the
    * κ arithmetic is a handful of driver-free ratios, zero shuffle.
    * Returns (n, p_a, p_b, po, pe, kappa), rounded 4; κ is NULL when
    * pe = 1 (both labelers constant — agreement is vacuous, not perfect).
    */
  def cohenKappa(labels: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    val po = col("_agree") / col("n")
    val pe = (col("_na") * col("_nb") +
      (col("n") - col("_na")) * (col("n") - col("_nb"))) /
      (col("n") * col("n").cast("double"))
    labels.agg(count(lit(1)).as("n"),
        sum(when(a, 1L).otherwise(0L)).as("_na"),
        sum(when(b, 1L).otherwise(0L)).as("_nb"),
        sum(when(a === b, 1L).otherwise(0L)).as("_agree"))
      .select(col("n"),
        round(col("_na") / col("n"), 4).as("p_a"),
        round(col("_nb") / col("n"), 4).as("p_b"),
        round(po, 4).as("po"),
        round(pe, 4).as("pe"),
        round(when(pe < 1.0, (po - pe) / (lit(1.0) - pe)), 4).as("kappa"))
  }

  /** Multi-class Cohen's kappa — [[cohenKappa]] generalized from two
    * boolean labelers to two CATEGORICAL raters (two LLM judges
    * assigning k-way labels: topic, quality tier, refusal class):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement and
    * p_e = Σ_k row_k·col_k / N² the chance agreement from the raters'
    * marginals. The [[Preference.fleissKappa]] arithmetic discipline:
    * every statistic reduces to exact INTEGER sums divided once
    * (agree/N and Σ row_k·col_k — order-insensitive; the marginal
    * product accumulates in double, exact below 2^53, so it rounds
    * instead of wrapping Long at extreme scale), so the oracle is
    * bit-identical. One map-side-combined (a, b) pair-count dictionary,
    * then label-keyed rollups of that dictionary. Rows with a null
    * label on either side are excluded from every count. κ NULL when
    * p_e = 1 (both raters constant — vacuous, not perfect). p_o/p_e
    * round 6, κ rounds 6.
    * Returns one row (n, n_labels, po, pe, kappa).
    */
  def cohenKappaMulti(labels: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cell = labels
      .select(col(aCol).cast("string").as("_a"),
        col(bCol).cast("string").as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
      .groupBy("_a", "_b").agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    val tot = cell.agg(coalesce(sum("_c"), lit(0L)),
      coalesce(sum(when(col("_a") === col("_b"), col("_c"))), lit(0L)))
      .head()
    val (n, agree) = (tot.getLong(0), tot.getLong(1))
    import labels.sparkSession.implicits._
    if (n == 0L)
      return Seq((0L, 0L, Option.empty[Double], Option.empty[Double],
        Option.empty[Double])).toDF("n", "n_labels", "po", "pe", "kappa")
    val rowM = cell.groupBy(col("_a").as("_k")).agg(sum("_c").as("_row"))
    val colM = cell.groupBy(col("_b").as("_k")).agg(sum("_c").as("_col"))
    // marginal product in DOUBLE, not Long: row_k·col_k wraps Long
    // silently past ~3e9 rows with a dominant label under non-ANSI
    // Spark, while the DuckDB oracle promotes to HUGEINT — a silent
    // cross-engine divergence. Doubles are exact below 2^53 (the
    // PrefixSum convention); beyond that the product rounds to ulp
    // instead of wrapping.
    val margins = rowM.join(colM, Seq("_k"), "full")
      .agg(count(lit(1)),
        coalesce(sum(coalesce(col("_row"), lit(0L)).cast("double") *
          coalesce(col("_col"), lit(0L)).cast("double")), lit(0.0)))
      .head()
    val (nLabels, sumRC) = (margins.getLong(0), margins.getDouble(1))
    val po = agree.toDouble / n
    val pe = sumRC / (n.toDouble * n)
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val kappa =
      if (pe >= 1.0) Option.empty[Double]
      else Some(q6((po - pe) / (1 - pe)))
    Seq((n, nLabels, Some(q6(po)), Some(q6(pe)), kappa))
      .toDF("n", "n_labels", "po", "pe", "kappa")
  }

  /** McNemar's test on PAIRED binary decisions — the exact-count
    * significance check for "do classifiers A and B actually disagree
    * in one direction?" beside [[pairedBootstrap]]'s resampled view on
    * continuous metrics (and [[cohenKappa]]'s agreement view): only the
    * DISCORDANT pairs carry signal — b = items A got right and B
    * wrong, c = the reverse — and the continuity-corrected statistic
    * (|b−c|−1)²/(b+c) is χ²(1) under H₀. `alpha` picks the χ²(1)
    * critical value — {0.10 → 2.706, 0.05 → 3.841, 0.01 → 6.635},
    * default 0.05 (the ksTest convention, reject column named for the
    * level). One map-side-combined conditional aggregate, zero
    * shuffle; counts are exact integers, the statistic an
    * integer-derived rational (round 6). Statistic/flag NULL when
    * b+c = 0 (no discordant pairs — nothing to test, not "no
    * difference proven"). Rows with a null label or prediction are
    * excluded from EVERY count including n (paired = complete — n must
    * reflect exactly the pairs the statistic saw).
    * Returns one row (n, b_only, c_only, statistic, reject_NN).
    */
  def mcnemarTest(preds: DataFrame, labelCol: String, aCol: String,
      bCol: String, alpha: Double = 0.05): DataFrame = {
    val crit = CHI2_1_CRITICAL.getOrElse(alpha, sys.error(
      s"mcnemarTest: alpha must be one of ${CHI2_1_CRITICAL.keys.toSeq.sorted
        .mkString(", ")}, got $alpha"))
    val rejCol = f"reject_${math.rint(alpha * 100).toInt}%02d"
    val y = col(labelCol).cast("boolean")
    val aOk = col(aCol).cast("boolean") === y
    val bOk = col(bCol).cast("boolean") === y
    val b = col("b_only").cast("double")
    val c = col("c_only").cast("double")
    val stat = (abs(b - c) - 1) * (abs(b - c) - 1) / (b + c)
    // complete pairs only — a null label or prediction must leave n
    // too, or the statistic quietly computes over a subsample the
    // reported n doesn't reflect (the logisticFit count(resid) rule)
    preds.where(aOk.isNotNull && bOk.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum((aOk && !bOk).cast("long")).as("b_only"),
        sum((!aOk && bOk).cast("long")).as("c_only"))
      .select(col("n"), col("b_only"), col("c_only"),
        round(when(b + c > 0, stat), 6).as("statistic"),
        when(b + c > 0, (stat > crit).cast("int")).as(rejCol))
  }

  /** χ²(1) critical values for [[mcnemarTest]]'s significance levels. */
  private val CHI2_1_CRITICAL: Map[Double, Double] =
    Map(0.10 -> 2.706, 0.05 -> 3.841, 0.01 -> 6.635)

  /** Unbiased pass@k (Chen et al. 2021, Codex §2.1) over per-problem
    * sample outcomes — THE functional-correctness metric for code/math
    * generation evals: with n samples and c correct for a problem,
    * pass@k = 1 − C(n−c, k)/C(n, k), estimated exactly as
    * 1 − Π_{i=0..k−1} (n−c−i)/(n−i) (numerically stable, no
    * factorials). NULL when k > n (the estimator is undefined —
    * sampling more than was drawn); 1.0 whenever n − c < k (a zero
    * factor — some draw of k must contain a pass). The product folds
    * ascending-i in both engines and rounds 6, so the oracle agrees.
    * One problem-keyed aggregate (map-side combined) then row
    * expressions — the sample stream shuffles once at problem
    * granularity. Returns (problem, n, c, pass_K...) per problem;
    * corpus means are one trivial aggregate on top.
    */
  def passAtK(samples: DataFrame, problemCol: String, okCol: String,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame =
    passAtKFromDict(passDict(samples, problemCol, okCol), ks)

  /** The pass@k sufficient statistic as a standing DICTIONARY:
    * (problem, n, c) = samples drawn, samples passed. ADDITIVE under
    * appended samples — the [[scoreDict]] shape for sampled-decoding
    * eval: during a rollout each new generation batch
    * [[passDictMerge]]s in at batch cost and the board recomputes from
    * the problem-count-sized dictionary ([[passAtKFromDict]]), never
    * rescanning sample history. One map-side-combined aggregate.
    */
  def passDict(samples: DataFrame, problemCol: String,
      okCol: String): DataFrame =
    samples.groupBy(col(problemCol).as("problem"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col(okCol).cast("boolean").cast("long")), lit(0L))
          .as("c"))

  /** Fold a new sample batch into a standing [[passDict]]: counts sum
    * per problem. Exactly equals the dictionary of the concatenated
    * history (spec'd — the scoreDictMerge/btMerge contract).
    */
  def passDictMerge(dict: DataFrame, newSamples: DataFrame,
      problemCol: String, okCol: String): DataFrame =
    dict.unionByName(passDict(newSamples, problemCol, okCol))
      .groupBy("problem").agg(sum("n").as("n"), sum("c").as("c"))

  /** [[passAtK]] from a standing [[passDict]] — the apply half: the
    * estimator is a pure function of (n, c), so the dictionary IS the
    * sufficient statistic and the result is bit-equal to a full
    * rebuild.
    */
  def passAtKFromDict(dict: DataFrame,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && ks == ks.sorted,
      s"passAtK: ks must be sorted positive, got $ks")
    ks.foldLeft(dict) { (d, k) =>
      d.withColumn(s"pass_$k",
        when(col("n") >= k, round(lit(1.0) -
          aggregate(sequence(lit(0), lit(k - 1)), lit(1.0),
            (acc, i) => acc * ((col("n") - col("c") - i).cast("double") /
              (col("n") - i))), 6)))
    }
  }

  /** Streaming pass@k ingestion: each micro-batch of samples
    * [[passDictMerge]]s into the standing dictionary (the aucServe /
    * btServe read-write pattern); the eval board recomputes from the
    * dictionary on demand, not per batch.
    */
  def passAtKServe(sampleStream: DataFrame, problemCol: String,
      okCol: String)(
      state: () => DataFrame, save: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sampleStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        save(passDictMerge(state(), batch, problemCol, okCol))
    }

  /** Best-of-n selection eval — the reward-model scorecard beside
    * [[passAtK]]: per problem and per n, take the FIRST n samples in
    * `orderCol` order (the rollout's own draw order, so growing n
    * reuses earlier draws exactly as a real BoN deployment would),
    * select the one with the highest reward (ties to the EARLIEST
    * draw — deterministic in both engines), and report whether that
    * selected sample is correct. Measures what the reward model buys:
    * pass@n is "any of n correct", best-of-n is "the one the RM picks
    * is correct". NULL when the problem has fewer than n samples (the
    * passAtK convention). ONE problem-keyed window + ONE aggregate —
    * the per-n argmaxes are conditional struct-maxes inside the same
    * groupBy, so the sample stream shuffles once regardless of |ns|.
    * Returns (problem, n_samples, best_1, best_2, ... — 0/1 ints).
    */
  def bestOfN(samples: DataFrame, problemCol: String, orderCol: String,
      rewardCol: String, okCol: String,
      ns: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns == ns.sorted,
      s"bestOfN: ns must be sorted positive, got $ns")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("problem").orderBy(col("_ord"))
    val base = samples.select(col(problemCol).as("problem"),
        col(orderCol).as("_ord"),
        col(rewardCol).cast("double").as("_r"),
        col(okCol).cast("boolean").cast("int").as("_ok"))
      .withColumn("_rn", row_number().over(w))
    val aggs = count(lit(1)).as("n_samples") +: ns.map { n =>
      max(when(col("_rn") <= n,
        struct(col("_r"), (-col("_rn")).as("_nr"), col("_ok"))))
        .as(s"_b_$n")
    }
    ns.foldLeft(base.groupBy("problem").agg(aggs.head, aggs.tail: _*)) {
      (d, n) =>
        d.withColumn(s"best_$n",
          when(col("n_samples") >= n, col(s"_b_$n").getField("_ok")))
          .drop(s"_b_$n")
    }
  }

  /** Self-consistency majority-vote eval (Wang et al. 2023) — the
    * sampled-decoding accuracy booster's scorecard beside [[passAtK]]:
    * per problem, the plurality answer over n samples (ties broken to
    * the SMALLEST answer string — deterministic in both engines), its
    * vote count, and whether it matches gold. `goldCol` must be
    * constant per problem (a property of the problem, carried on each
    * sample row; max() reads it back). One (problem, answer) count
    * aggregate plus a problem-keyed window — the sample stream
    * shuffles once, window partitions are answer-dictionary-sized.
    * NULL answers (unparseable generations) are NOT votable: they are
    * excluded before the plurality count — mirroring krippAlpha's
    * null-exclusion rule — so a null group can never out-vote (or
    * nulls-first tie-break past) a real answer, while `n` still counts
    * EVERY sample and `n_answers`/`vote_n` count parseable ones. A
    * problem whose answers are all null emits (vote_answer NULL,
    * vote_n NULL, correct NULL) via the left join.
    * Returns (problem, n, n_answers, gold, vote_answer, vote_n,
    * correct).
    */
  def majorityVote(samples: DataFrame, problemCol: String,
      answerCol: String, goldCol: String): DataFrame =
    majorityVoteFromDict(voteDict(samples, problemCol, answerCol, goldCol))

  /** The majority-vote sufficient statistic as a standing DICTIONARY:
    * one row per (problem, answer) with its sample count and the
    * problem's gold — null answers keep their own row (they carry `n`
    * mass but are never votable). ADDITIVE under appended samples (the
    * [[passDict]] shape); answer cardinality per problem is
    * generation-diversity-bounded, so the dictionary stays tiny.
    */
  def voteDict(samples: DataFrame, problemCol: String,
      answerCol: String, goldCol: String): DataFrame =
    samples.groupBy(col(problemCol).as("problem"),
        col(answerCol).cast("string").as("_a"))
      .agg(count(lit(1)).as("_c"), max(col(goldCol).cast("string")).as("_g"))

  /** Fold a new sample batch into a standing [[voteDict]]: counts sum
    * per (problem, answer); gold is constant per problem by the
    * majorityVote contract, so max() carries it through the merge.
    */
  def voteDictMerge(dict: DataFrame, newSamples: DataFrame,
      problemCol: String, answerCol: String, goldCol: String): DataFrame =
    dict.unionByName(voteDict(newSamples, problemCol, answerCol, goldCol))
      .groupBy("problem", "_a")
      .agg(sum("_c").as("_c"), max("_g").as("_g"))

  /** [[majorityVote]] from a standing [[voteDict]] — the apply half:
    * n sums every row's count (null answers included), the vote window
    * and n_answers read only the non-null rows, so the result is
    * bit-equal to a full rebuild.
    */
  def majorityVoteFromDict(dict: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = dict.where(col("_a").isNotNull)
      .select(col("problem"), col("_a"), col("_c"))
    val w = Window.partitionBy("problem")
      .orderBy(col("_c").desc, col("_a").asc)
    val top = counts.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("problem"), col("_a").as("vote_answer"),
        col("_c").as("vote_n"))
    val tot = dict.groupBy("problem")
      .agg(sum("_c").as("n"),
        count(when(col("_a").isNotNull, lit(1))).as("n_answers"),
        max(col("_g")).as("gold"))
    tot.join(top, Seq("problem"), "left")
      .select(col("problem"), col("n"), col("n_answers"), col("gold"),
        col("vote_answer"), col("vote_n"),
        (col("vote_answer") === col("gold")).cast("int").as("correct"))
  }

  /** Streaming majority-vote ingestion: each micro-batch
    * [[voteDictMerge]]s into the standing dictionary — the
    * [[passAtKServe]] twin for answer-voting eval boards.
    */
  def voteServe(sampleStream: DataFrame, problemCol: String,
      answerCol: String, goldCol: String)(
      state: () => DataFrame, save: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    sampleStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        save(voteDictMerge(state(), batch, problemCol, answerCol, goldCol))
    }

  /** Calibration report for a [0,1]-probability scorer against a binary
    * label — the reliability-diagram table (per-bin mean prediction vs
    * observed positive rate) plus per-bin Brier contribution, the QA
    * pass a data-filtering classifier ([[qualityClassifierScore]]) gets
    * before its threshold is trusted at corpus scale. Bin
    * `least(floor(score·nBins)+1, nBins)` on the ROUNDED score so the
    * edge assignment cannot drift across engine ulps. One bin-sized
    * aggregation — the corpus never shuffles, only (bin, partials).
    */
  def calibrationReport(scored: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"calibrationReport: need nBins >= 2, got $nBins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean").cast("int")
    scored
      .select(least(floor(s * nBins).cast("int") + 1, lit(nBins)).as("bin"),
        s.as("_s"), y.as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(avg("_s"), 4).as("mean_score"),
        round(avg("_y"), 4).as("frac_pos"),
        round(avg((col("_s") - col("_y")) * (col("_s") - col("_y"))), 4)
          .as("brier"))
  }

  /** Expected / maximum calibration error — [[calibrationReport]]'s
    * table collapsed to the two scalars a model card quotes: ECE =
    * Σ_b (n_b/N)·|conf_b − acc_b| and MCE = max_b |conf_b − acc_b|
    * over the same least(floor(score·nBins)+1, nBins) bins. The
    * weighted ECE term simplifies to |Σscore_b − Σlabel_b| (the n_b
    * cancels), so the whole statistic is two bin-dictionary-sized
    * aggregates over exact per-bin sums — fewer float ops than the
    * textbook form and the same one-shuffle shape as the report.
    * Returns one row (n, n_bins — OCCUPIED bins only, the report's
    * own granularity — ece, mce), rounded 4.
    */
  def calibrationError(scored: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"calibrationError: need nBins >= 2, got $nBins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean").cast("int")
    scored
      .select(least(floor(s * nBins).cast("int") + 1, lit(nBins)).as("bin"),
        s.as("_s"), y.as("_y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("_n"), sum("_s").as("_ss"),
        sum(col("_y").cast("double")).as("_sy"))
      .agg(sum("_n").as("n"), count(lit(1)).as("n_bins"),
        round(sum(abs(col("_ss") - col("_sy"))) / sum("_n"), 4).as("ece"),
        round(max(abs(col("_ss") / col("_n") - col("_sy") / col("_n"))), 4)
          .as("mce"))
  }

  /** Operating-point sweep for a classifier against a binary label: one
    * row per candidate threshold with the full confusion (tp/fp/fn/tn)
    * and precision/recall/F1 — the table a pipeline reads to PICK the
    * keep threshold [[calibrationReport]] then sanity-checks. The grid
    * is caller-supplied (default 0.05 steps); the corpus collapses
    * FIRST to the distinct-score dictionary (one map-side-combined
    * aggregate — the aucScore input), and the grid explodes against the
    * DICTIONARY, so the per-threshold pass touches |grid|·|distinct
    * scores| rows, never |grid|·|corpus| (measured 10.3 → 0.5 s at 6M
    * rows × 21 thresholds). Exact integer arithmetic end to end, so the
    * oracle hashes bit-for-bit; ratios round 4, NULL on an empty
    * denominator.
    */
  def thresholdSweep(scored: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Double] = (0 to 20).map(_ / 20.0)): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: need thresholds")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean").cast("int")
    scored.select(s.as("_s"), y.as("_y"))
      .groupBy("_s")
      .agg(sum(col("_y")).as("_np"), sum(lit(1) - col("_y")).as("_nn"))
      .select(col("_s"), col("_np"), col("_nn"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy("threshold")
      .agg(sum(when(col("_s") >= col("threshold"), col("_np"))
          .otherwise(0L)).cast("long").as("tp"),
        sum(when(col("_s") >= col("threshold"), col("_nn"))
          .otherwise(0L)).cast("long").as("fp"),
        sum(when(col("_s") < col("threshold"), col("_np"))
          .otherwise(0L)).cast("long").as("fn"),
        sum(when(col("_s") < col("threshold"), col("_nn"))
          .otherwise(0L)).cast("long").as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        round(when(col("tp") + col("fp") > 0,
          col("tp") / (col("tp") + col("fp")).cast("double")), 4)
          .as("precision"),
        round(when(col("tp") + col("fn") > 0,
          col("tp") / (col("tp") + col("fn")).cast("double")), 4)
          .as("recall"),
        round(when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
          lit(2) * col("tp") /
            (lit(2) * col("tp") + col("fp") + col("fn")).cast("double")), 4)
          .as("f1"))
  }

  /** EXACT ROC-AUC of a scorer against a binary label — the
    * Mann-Whitney form with proper tie handling: AUC = (Σ over distinct
    * scores of npos_s · (negBelow_s + nneg_s/2)) / (nPos · nNeg). The
    * score dictionary (distinct score → pos/neg counts) is a map-side-
    * combined aggregate, and negBelow — the cumulative negative count
    * strictly below each score — is the DISTRIBUTED prefix sum over that
    * dictionary (the perplexityBuckets machinery: approx_percentile
    * range buckets, within-bucket window, broadcast offsets; no
    * unpartitioned window at any score cardinality). Every term until
    * the final division is integer or half-integer — exact in doubles,
    * order-insensitive — so the oracle agrees bit-for-bit; AUC rounds 6.
    * Returns one row (n_pos, n_neg, auc); auc is NULL when either class
    * is absent.
    */
  def aucScore(scored: DataFrame, scoreCol: String, labelCol: String)
      : DataFrame =
    aucFromCum(scoreDictCum(scored, scoreCol, labelCol))

  private def aucFromCum(cum: DataFrame): DataFrame =
    cum.agg(sum("_np").as("_P"), sum("_nn").as("_N"),
        sum(col("_np") * (col("_nnBelow") + col("_nn") / 2)).as("_U"))
      .select(col("_P").cast("long").as("n_pos"),
        col("_N").cast("long").as("n_neg"),
        round(when(col("_P") > 0 && col("_N") > 0,
          col("_U") / (col("_P") * col("_N"))), 6).as("auc"))

  /** The standing score DICTIONARY of the classifier-eval family:
    * (_s, _np, _nn) = distinct score, positive count, negative count.
    * ADDITIVE under appended rows — exactly the [[Preference.btGraph]]
    * mergeable-sufficient-statistic shape: an AUC/AP monitoring
    * pipeline maintains this dictionary-sized artifact
    * ([[scoreDictMerge]] folds each batch by summing counts,
    * [[aucServe]] wires that into foreachBatch) and recomputes exact
    * metrics from it at dictionary cost ([[aucFromDict]]), never
    * rescanning score history. One map-side-combined aggregate; null
    * scores are excluded (the [[aucScore]] convention).
    */
  def scoreDict(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val y = col(labelCol).cast("boolean").cast("int")
    scored.select(col(scoreCol).cast("double").as("_s"), y.as("_y"))
      .where(col("_s").isNotNull)
      .groupBy("_s")
      .agg(sum(col("_y")).cast("double").as("_np"),
        sum(lit(1) - col("_y")).cast("double").as("_nn"))
  }

  /** Fold a new batch of scored rows into a standing [[scoreDict]]:
    * counts sum per distinct score. Exactly equals the dictionary of
    * the concatenated history (spec'd — the btMerge contract), at
    * batch-dictionary cost.
    */
  def scoreDictMerge(dict: DataFrame, newScored: DataFrame,
      scoreCol: String, labelCol: String): DataFrame =
    dict.unionByName(scoreDict(newScored, scoreCol, labelCol))
      .groupBy("_s").agg(sum("_np").as("_np"), sum("_nn").as("_nn"))

  /** [[aucScore]] from a standing [[scoreDict]] — the apply half of the
    * monitoring loop: prefix sums + the Mann-Whitney algebra over the
    * dictionary alone (exact, tie-aware, bit-equal to a full rebuild
    * because the dictionary IS the sufficient statistic).
    */
  def aucFromDict(dict: DataFrame): DataFrame =
    aucFromCum(scoreDictCumFrom(dict.localCheckpoint()))

  /** Streaming metric ingestion: each micro-batch of (score, label)
    * rows [[scoreDictMerge]]s into the standing dictionary (the
    * btServe read-write pattern); exact AUC/AP recompute from the
    * dictionary on demand, not per batch.
    */
  def aucServe(scoredStream: DataFrame, scoreCol: String,
      labelCol: String)(
      state: () => DataFrame, save: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scoredStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        save(scoreDictMerge(state(), batch, scoreCol, labelCol))
    }

  /** EXACT average precision (the step-wise PR-AUC,
    * sklearn's average_precision_score definition) with proper tie
    * handling on the same [[scoreDictCum]] dictionary: thresholds at
    * each distinct score s descending, P(s) = tp_s/(tp_s+fp_s) with
    * tp_s/fp_s the ≥-s cumulative counts (derived from the
    * strictly-below prefix sums: tp_s = P − posBelow_s), recall
    * increment = np_s/P, and AP = Σ_s (np_s/P)·P(s). Integer-derived
    * rationals per term; rounds 6. Returns one row
    * (n_pos, n_neg, ap); NULL when no positives.
    */
  def apScore(scored: DataFrame, scoreCol: String, labelCol: String)
      : DataFrame = {
    val cum = scoreDictCum(scored, scoreCol, labelCol).localCheckpoint()
    // grand totals as plan constants (dictionary-sized aggregate; exact
    // integers in doubles, so the oracle's scalar subqueries agree)
    val tot = cum.agg(coalesce(sum("_np"), lit(0.0)),
      coalesce(sum("_nn"), lit(0.0))).head()
    val (p, n) = (tot.getDouble(0), tot.getDouble(1))
    val tp = lit(p) - col("_npBelow")
    val fp = lit(n) - col("_nnBelow")
    cum
      .agg(sum(when(col("_np") > 0,
        (col("_np") / p) * (tp / (tp + fp))).otherwise(lit(0.0))).as("_ap"))
      .select(lit(p.toLong).as("n_pos"), lit(n.toLong).as("n_neg"),
        round(when(lit(p) > 0, col("_ap")), 6).as("ap"))
  }

  /** One-row classifier scorecard — the headline numbers next to the
    * detailed [[thresholdSweep]]/[[calibrationReport]]/[[aucScore]]
    * tables: counts, accuracy at the 0.5 cut, Brier score, and clamped
    * log-loss (probabilities floored at 1e-15 so a saturated scorer
    * yields a finite, comparable penalty instead of ±Infinity). One
    * map-side-combined aggregate; all terms are per-row expressions, so
    * the corpus never shuffles.
    */
  def scoreReport(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean").cast("int")
    val eps = 1e-15
    scored.select(s.as("_s"), y.as("_y"))
      .where(col("_s").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("_y")).cast("long").as("n_pos"),
        round(avg(((col("_s") >= 0.5) === (col("_y") === 1)).cast("int")), 4)
          .as("accuracy"),
        round(avg((col("_s") - col("_y")) * (col("_s") - col("_y"))), 6)
          .as("brier"),
        round(-avg(col("_y") * log(greatest(col("_s"), lit(eps))) +
          (lit(1) - col("_y")) *
            log(greatest(lit(1.0) - col("_s"), lit(eps)))), 6).as("logloss"))
  }

  /** Per-group exact AUC — the fairness report: does the scorer rank as
    * well WITHIN every source/language/domain as it does globally? Same
    * tie-aware Mann-Whitney algebra as [[aucScore]], but the cumulative
    * negatives use a plain window PARTITIONED BY the group over the
    * per-group score dictionary — the standard distributed-window idiom
    * (each group's dictionary sorts in its own partition; the global
    * form needs the prefix-sum machinery precisely because it has no
    * partitioning key). One map-side-combined dictionary aggregate,
    * one window, one group-keyed aggregate; the corpus never moves.
    * Returns (group, n_pos, n_neg, auc round 6; NULL one-class groups).
    */
  def aucByGroup(scored: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val y = col(labelCol).cast("boolean").cast("int")
    val w = Window.partitionBy(col(groupCol)).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .select(col(groupCol), col(scoreCol).cast("double").as("_s"),
        y.as("_y"))
      .where(col("_s").isNotNull)
      .groupBy(col(groupCol), col("_s"))
      .agg(sum(col("_y")).cast("double").as("_np"),
        sum(lit(1) - col("_y")).cast("double").as("_nn"))
      .withColumn("_below", sum("_nn").over(w) - col("_nn"))
      .groupBy(col(groupCol))
      .agg(sum("_np").as("_P"), sum("_nn").as("_N"),
        sum(col("_np") * (col("_below") + col("_nn") / 2)).as("_U"))
      .select(col(groupCol),
        col("_P").cast("long").as("n_pos"),
        col("_N").cast("long").as("n_neg"),
        round(when(col("_P") > 0 && col("_N") > 0,
          col("_U") / (col("_P") * col("_N"))), 6).as("auc"))
  }

  /** Poisson(1) inverse-CDF thresholds for k = 0..8: u ≥ k of them ⇒
    * bootstrap weight k. P(K > 8) ≈ 1.1e-6 is truncated identically in
    * both engines (the weight caps at 9).
    */
  private[graft] val POISSON1_CDF: Seq[Double] =
    (0 to 8).map { k =>
      (0 to k).map { j =>
        var f = 1.0; (1 to j).foreach(f *= _); 1.0 / f
      }.sum * math.exp(-1.0)
    }

  /** Bootstrap confidence interval for [[aucScore]] via the POISSON
    * bootstrap — the at-scale resampling scheme (each row enters
    * replica b with an independent Poisson(1) multiplicity, so no
    * global multinomial coordination is needed; the standard
    * large-data bootstrap). Weights are DETERMINISTIC md5 draws keyed
    * on (salt, row id, replica) — the raceClock convention — so runs,
    * engines, and retries agree exactly. Per-replica AUC uses the same
    * tie-aware Mann-Whitney algebra on a (replica, score) dictionary
    * with the cumulative window PARTITIONED BY replica (distributed
    * across replicas); the replica AUCs (≤ `replicas` rows, a
    * parameter-bounded driver collect — the model-sized-collect
    * convention) yield the mean and an exact nearest-rank CI
    * (ranks ⌈α·B⌉ and ⌈(1−α)·B⌉ over the sorted replicas; one-class
    * replicas drop). Cost is one corpus × replicas pass, map-side
    * combined into the dictionary — linear, shuffle on (replica,
    * score). Returns one row (n_replicas, auc_mean, ci_lo, ci_hi).
    *
    * `idCol` must be UNIQUE per row: duplicate ids draw IDENTICAL
    * Poisson weights in every replica (their rows are perfectly
    * correlated across the bootstrap), silently narrowing the CI.
    */
  def aucBootstrap(scored: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, replicas: Int = 100, alpha: Double = 0.025,
      salt: String = "boot"): DataFrame = {
    checkBootstrapParams(replicas, alpha, "aucBootstrap")
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    import spark.implicits._
    val y = col(labelCol).cast("boolean").cast("int")
    val w = poisson1DrawCol(salt, col("_b"))
    val dict = scored
      .select(col(idCol).cast("string").as("_id"),
        col(scoreCol).cast("double").as("_s"), y.as("_y"))
      .where(col("_s").isNotNull)
      .select(col("_id"), col("_s"), col("_y"),
        explode(sequence(lit(0), lit(replicas - 1))).as("_b"))
      .withColumn("_w", w).where(col("_w") > 0)
      .groupBy(col("_b"), col("_s"))
      .agg(sum(col("_w") * col("_y")).as("_np"),
        sum(col("_w") * (lit(1) - col("_y"))).as("_nn"))
    val win = Window.partitionBy(col("_b")).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val aucs = dict
      .withColumn("_below", sum("_nn").over(win) - col("_nn"))
      .groupBy("_b")
      .agg(sum("_np").as("_P"), sum("_nn").as("_N"),
        sum(col("_np") * (col("_below") + col("_nn") / 2)).as("_U"))
      .select(round(when(col("_P") > 0 && col("_N") > 0,
        col("_U") / (col("_P") * col("_N"))), 6).as("_auc"))
      .where(col("_auc").isNotNull)
      .as[Double].collect().sorted
    val out = nearestRank(aucs, alpha) match {
      case None => Seq((0, Option.empty[Double], Option.empty[Double],
        Option.empty[Double]))
      case Some((mean, lo, hi)) =>
        Seq((aucs.length, Some(mean), Some(lo), Some(hi)))
    }
    out.toDF("n_replicas", "auc_mean", "ci_lo", "ci_hi")
  }

  /** The deterministic md5-lane Poisson(1) draw over (`_id`, replica):
    * one digest serves FOUR replicas (lane = replica mod 4 of
    * md5(salt|id|replica div 4)) as a single codegen'd kernel call per
    * row — the built-in filter-over-thresholds form re-ran the md5
    * chain once per threshold (interpreted HOF lambdas; measured 105 s
    * vs ~13 s at 100M draws). ONE definition shared by [[aucBootstrap]]
    * and [[pairedBootstrap]]; both DuckDB oracles replay it verbatim,
    * so any change here must stay bit-compatible with both.
    */
  private def poisson1DrawCol(salt: String, rep: Column): Column = {
    val key = concat(lit(salt), lit("|"), col("_id"), lit("|"),
      (rep / 4).cast("long").cast("string"))
    graft.functions.ArrayKernels.poisson1_weight(key,
      (rep % 4).cast("int"), POISSON1_CDF).cast("double")
  }

  /** Nearest-rank summary of sorted replica statistics: (q6 mean,
    * lo = ceil(α·B)-th, hi = ceil((1−α)·B)-th order statistic); None on
    * an empty replica set. The ONE interval definition both bootstrap
    * operators and their oracles share.
    */
  private def nearestRank(sorted: Array[Double], alpha: Double)
      : Option[(Double, Double, Double)] =
    if (sorted.isEmpty) None
    else {
      val b = sorted.length
      Some((math.rint(sorted.sum / b * 1e6) / 1e6,
        sorted(math.max(math.ceil(alpha * b).toInt, 1) - 1),
        sorted(math.ceil((1 - alpha) * b).toInt - 1)))
    }

  private def checkBootstrapParams(replicas: Int, alpha: Double,
      who: String): Unit = {
    require(replicas >= 2 && replicas <= 100000,
      s"$who: replicas must be in [2, 100000], got $replicas")
    require(alpha > 0 && alpha < 0.5, s"$who: bad alpha $alpha")
  }

  /** PAIRED Poisson-bootstrap comparison of two per-item metric columns
    * (system A vs system B evaluated on the SAME items — per-query
    * nDCG, per-doc scorer accuracy, per-example reward): each replica
    * draws ONE shared Poisson(1) weight per item, so item difficulty
    * cancels inside the replica — the pairing is the whole point, an
    * unpaired interval would charge the systems for variance they
    * share. Per replica, Δ = weighted-mean(B) − weighted-mean(A)
    * (= Σw(b−a)/Σw, q6); the replica deltas give the nearest-rank
    * (alpha, 1−alpha) interval and B's win rate — the standard "is B
    * actually better or is the gap resampling noise" significance test
    * (Koehn 2004's paired bootstrap, Poisson-ized for one-pass
    * distributed draws). Weights ride the same md5-lane
    * [[graft.functions.ArrayKernels.poisson1_weight]] kernel as
    * [[aucBootstrap]] — deterministic per (salt, id, replica), so a
    * DuckDB oracle replays every draw. Items with a null metric on
    * either side are excluded (paired = both present). Returns one row
    * (n_replicas, delta_mean, ci_lo, ci_hi, b_win_rate).
    */
  def pairedBootstrap(scored: DataFrame, idCol: String, aCol: String,
      bCol: String, replicas: Int = 100, alpha: Double = 0.025,
      salt: String = "pair"): DataFrame = {
    checkBootstrapParams(replicas, alpha, "pairedBootstrap")
    val spark = scored.sparkSession
    import spark.implicits._
    val w = poisson1DrawCol(salt, col("_r"))
    val deltas = scored
      .select(col(idCol).cast("string").as("_id"),
        col(aCol).cast("double").as("_ma"),
        col(bCol).cast("double").as("_mb"))
      .where(col("_ma").isNotNull && col("_mb").isNotNull)
      .select(col("_id"), col("_ma"), col("_mb"),
        explode(sequence(lit(0), lit(replicas - 1))).as("_r"))
      .withColumn("_w", w).where(col("_w") > 0)
      .groupBy("_r")
      .agg(sum(col("_w") * (col("_mb") - col("_ma"))).as("_sd"),
        sum("_w").as("_sw"))
      .select(round(col("_sd") / col("_sw"), 6).as("_d"))
      .where(col("_d").isNotNull)
      .as[Double].collect().sorted
    def q6(x: Double): Double = math.rint(x * 1e6) / 1e6
    val out = nearestRank(deltas, alpha) match {
      case None => Seq((0, Option.empty[Double], Option.empty[Double],
        Option.empty[Double], Option.empty[Double]))
      case Some((mean, lo, hi)) =>
        Seq((deltas.length, Some(mean), Some(lo), Some(hi),
          Some(q6(deltas.count(_ > 0).toDouble / deltas.length))))
    }
    out.toDF("n_replicas", "delta_mean", "ci_lo", "ci_hi", "b_win_rate")
  }

  /** Paired SIGN-FLIP permutation test (round-14 verdict #7) — the
    * significance reading that completes the judge-eval shelf next to
    * the Wilson intervals and the [[pairedBootstrap]] CI: under H0
    * (systems exchangeable per item) each per-item difference
    * d_i = m_b − m_a keeps its magnitude and gets a random sign, so the
    * observed mean difference is compared against `replicas` sign-flip
    * resamples. Two-sided p with the add-one convention:
    * p = (1 + #{|Δ_r| ≥ |Δ_obs|}) / (replicas + 1) — never exactly 0,
    * honest at small replica counts.
    *
    * Signs are DETERMINISTIC md5-lane coins (first 4 hex digits of
    * md5(salt|id|replica), even → keep) — the [[pairedBootstrap]] draw
    * discipline, so DuckDB replays every resample bit-for-bit. Replica
    * means q6-round before the |Δ| comparison (both engines compare on
    * the same grid). One corpus pass + a replica-count-sized collect.
    * Returns one row (n_items, n_replicas, delta_obs, p_value); NULL
    * metrics on an empty frame.
    */
  def permTestPaired(scored: DataFrame, idCol: String, aCol: String,
      bCol: String, replicas: Int = 200, salt: String = "perm"): DataFrame = {
    require(replicas >= 1 && replicas <= 100000,
      s"permTestPaired: replicas must be in [1, 100000], got $replicas")
    val spark = scored.sparkSession
    import spark.implicits._
    // base feeds the observed aggregate AND the replica explode — cut
    // lineage so the upstream scoring chain runs once (the
    // dedupFlagsByBlock checkpoint rule); the frame is (id, double)-sized
    val base = scored.select(col(idCol).cast("string").as("_id"),
        col(aCol).cast("double").as("_ma"),
        col(bCol).cast("double").as("_mb"))
      .where(col("_ma").isNotNull && col("_mb").isNotNull)
      .select(col("_id"), (col("_mb") - col("_ma")).as("_d"))
      .localCheckpoint()
    val ob = base.agg(count(lit(1)), sum("_d")).head()
    val n = ob.getLong(0)
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    if (n == 0)
      return Seq((0L, replicas, Option.empty[Double], Option.empty[Double]))
        .toDF("n_items", "n_replicas", "delta_obs", "p_value")
    val dObs = q6(ob.getDouble(1) / n)
    val key = concat(lit(salt), lit("|"), col("_id"), lit("|"),
      col("_r").cast("string"))
    val flip = conv(substring(md5(key), 1, 4), 16, 10).cast("int") % 2
    // round 17b: AQE coalesces the checkpoint to ONE partition locally,
    // so the replicas×n explode + md5 sign coins (the expensive job) ran
    // single-task (1243ms/1t of a 1.79 s query). Spread the materialized
    // frame for the REPLICA path only — the observed aggregate stays on
    // `base`, so delta_obs is bit-identical; per-replica sums q6-round
    // before the comparison (oracle-gated green at all three SFs).
    val deltas = Par.spreadCheckpointed(base)
      .select(col("_id"), col("_d"),
        explode(sequence(lit(0), lit(replicas - 1))).as("_r"))
      .select(col("_r"),
        when(flip === 0, col("_d")).otherwise(-col("_d")).as("_sd"))
      .groupBy("_r").agg(round(sum("_sd") / n, 6).as("_dr"))
      .select("_dr").as[Double].collect()
    val ge = deltas.count(d => math.abs(d) >= math.abs(dObs))
    val p = q6((ge + 1).toDouble / (replicas + 1))
    Seq((n, replicas, Some(dObs), Some(p)))
      .toDF("n_items", "n_replicas", "delta_obs", "p_value")
  }

  /** Distinct-score dictionary with DISTRIBUTED strictly-below prefix
    * sums of both class counts ([[PrefixSum.cumulative]]: adaptive
    * approx_percentile range buckets — monotone in the score — a
    * within-bucket ordered window, and driver-collected per-bucket
    * totals broadcast back as offsets; no unpartitioned window at any
    * score cardinality). One corpus pass builds the dictionary
    * (map-side combined); everything after is dictionary-sized.
    * Returns (_s, _np, _nn, _npBelow, _nnBelow).
    */
  private[graft] def scoreDictCum(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    scoreDictCumFrom(scoreDict(scored, scoreCol, labelCol).localCheckpoint())

  /** The prefix-sum half over an already-built (checkpointed)
    * dictionary — shared by the one-shot and standing-artifact paths.
    */
  private def scoreDictCumFrom(dict: DataFrame): DataFrame =
    PrefixSum.cumulative(dict, "_s", Seq("_np" -> "_cumP", "_nn" -> "_cumN"))
      // strictly below = cumulative through this score minus own counts
      .select(col("_s"), col("_np"), col("_nn"),
        (col("_cumP") - col("_np")).as("_npBelow"),
        (col("_cumN") - col("_nn")).as("_nnBelow"))

  /** Gopher/MassiveText document-quality rules (Rae et al. 2021, table
    * A1 — the structural gate nearly every later pipeline inherited):
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * bullet-line and ellipsis-line fractions, alphabetic-word fraction,
    * and the ≥2-stopwords check. Returns one row per document with each
    * rule as its own flag plus the conjunction — pipelines want the
    * per-rule breakdown (WHY a doc failed), not just the verdict.
    *
    * Every threshold is evaluated in EXACT INTEGER arithmetic
    * (cross-multiplied: mean len in [3,10] ⇔ 3n ≤ Σlen ≤ 10n) — no
    * float boundary can drift across engines. Words are whitespace
    * runs ([[WS_RUN_RE]] — the rules are about raw layout, unlike the
    * tokenizer); the alphabetic check uses `\p{L}` (multilingual-fair
    * reading of Gopher's English-only "alphabetic" rule, documented
    * divergence). Pure scan stage, zero shuffle, stateless-append
    * streamable.
    */
  def gopherRules(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and",
        "that", "have", "with")): DataFrame = {
    val ws = filter(split(col("text"), WS_RUN_RE), w => w =!= "")
    val lines = split(col("text"), "\n")
    val base = Par.fanOutKernel(docs).select(col("doc_id"),
      size(ws).cast("long").as("n_words"),
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("_sumlen"),
      // symbols: '#', the one-char ellipsis, and '...' (each '...' run
      // counted once via non-overlapping left-to-right replace)
      ((length(col("text")) -
          length(expr("replace(text, '#', '')"))) +
        (length(col("text")) -
          length(expr("replace(text, '…', '')"))) +
        (length(col("text")) -
          length(expr("replace(text, '...', '')"))) / 3)
        .cast("long").as("_nsym"),
      size(lines).cast("long").as("_nlines"),
      size(filter(lines, l => l.rlike("^[ \\t]*[-*•]"))).cast("long")
        .as("_nbullet"),
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)[ \\t]*$"))).cast("long")
        .as("_nell"),
      size(filter(ws, w => w.rlike("\\p{L}"))).cast("long").as("_nalpha"),
      size(array_intersect(toks(col("text")),
        array(stopwords.map(lit): _*))).cast("long").as("_nstop"))
    base.select(col("doc_id"), col("n_words"),
        (col("n_words") >= 50 && col("n_words") <= 100000).cast("int")
          .as("r_word_count"),
        (lit(3) * col("n_words") <= col("_sumlen") &&
          col("_sumlen") <= lit(10) * col("n_words")).cast("int")
          .as("r_mean_word_len"),
        (lit(10) * col("_nsym") <= col("n_words")).cast("int")
          .as("r_symbol_ratio"),
        (lit(10) * col("_nbullet") <= lit(9) * col("_nlines")).cast("int")
          .as("r_bullet_lines"),
        (lit(10) * col("_nell") <= lit(3) * col("_nlines")).cast("int")
          .as("r_ellipsis_lines"),
        (lit(5) * col("_nalpha") >= lit(4) * col("n_words")).cast("int")
          .as("r_alpha_words"),
        (col("_nstop") >= 2).cast("int").as("r_stopwords"))
      .withColumn("pass",
        (col("r_word_count") * col("r_mean_word_len") *
          col("r_symbol_ratio") * col("r_bullet_lines") *
          col("r_ellipsis_lines") * col("r_alpha_words") *
          col("r_stopwords")).cast("int"))
  }

  /** detect-secrets-style credential scan — the scrubbing pass PII
    * regexes miss: API keys, tokens, and passwords have no fixed shape,
    * but they are RANDOM, so long candidate runs (length ≥ `minLen`
    * over the base64/hex/identifier class) are flagged by character
    * Shannon entropy ≥ `entropyBits` (detect-secrets' hex default is
    * 3.0 bits). Returns one row per DISTINCT (doc, candidate) with the
    * rounded entropy and the flag — rows to feed a span scrubber;
    * candidate-less documents emit nothing. The gate compares the
    * ROUNDED entropy so the verdict cannot drift across engine ulps.
    *
    * Scale shape: pure scan stage — regexp extraction, per-candidate
    * [[graft.functions.ArrayKernels.CharEntropy]] byte-histogram kernel
    * (candidates are ASCII by the character class, where byte = char),
    * zero shuffle. A streaming corpus runs it unchanged (stateless
    * projection, append-mode).
    */
  def secretScan(docs: DataFrame, minLen: Int = 20,
      entropyBits: Double = 3.0): DataFrame = {
    require(minLen >= 4, s"secretScan: minLen must be >= 4, got $minLen")
    val candRe = s"[A-Za-z0-9+/=_\\-]{$minLen,}"
    Par.fanOutKernel(docs).select(col("doc_id"),
        explode(array_distinct(
          regexp_extract_all(col("text"), lit(candRe), lit(0))))
          .as("candidate"))
      .select(col("doc_id"), col("candidate"),
        round(graft.functions.ArrayKernels.char_entropy(col("candidate")), 4)
          .as("entropy"))
      .withColumn("is_secret", (col("entropy") >= entropyBits).cast("int"))
  }

  /** Standing index for INCREMENTAL text semantic dedup: the argmax-blocked
    * unit-vector assignment (vec_id, block, e) of [[hashEmbed]] vectors,
    * materialized once as a parquet table BUCKETED BY block
    * ([[IndexTables.bucketed]]). A daily crawl then probes it through
    * [[semanticDedupTextApply]] instead of re-deciding the whole corpus —
    * the text-side twin of the embedding stack's snapshot path
    * ([[Dedup.dedupAgainstSnapshot]] / [[Similarity.ivfAppend]]), which
    * was the one incremental form the text pipeline lacked (round-8
    * verdict #6). Key `name` on the source with [[IndexTables.ident]]
    * and put every other data-changing parameter (dim) in its prefix;
    * grow the table with
    * [[IndexTables.append]] under append-only id discipline so standing
    * verdicts stay batch-accurate (see
    * [[Similarity.semanticDedupFlagsApply]]).
    */
  def semanticDedupTextIndex(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, name: String, dim: Int = 64,
      nBuckets: Int = 16): DataFrame =
    IndexTables.bucketed(spark, name, nBuckets, Seq("block"), Seq("vec_id"))(
      Similarity.argmaxBlocked(hashEmbed(docs, dim)))

  /** The probe half: hash-embed and argmax-block the increment under the
    * index's blocking, then decide each increment document against every
    * lower-id document in its block across index ∪ increment
    * ([[Similarity.semanticDedupFlagsApply]]). `dim` must match the
    * index build. Returns increment-row flags with batch-identical
    * verdicts (oracled as q_semdedup_incr against the full-corpus DuckDB
    * replay filtered to the increment).
    */
  def semanticDedupTextApply(incDocs: DataFrame, index: DataFrame,
      dim: Int = 64, minCos: Double = 0.9, maxBlock: Int = 1024): DataFrame =
    Similarity.semanticDedupFlagsApply(index,
      Similarity.argmaxBlocked(
        hashEmbed(incDocs, dim, kernelFan = false)), minCos, maxBlock)

  /** Streaming twin of [[semanticDedupTextApply]]: a STREAM of documents
    * is flagged against the standing index, one micro-batch per
    * [[semanticDedupTextApply]] call — the [[Retrieval.bm25Serve]] /
    * [[Similarity.annServe]] foreachBatch pattern and the same reasoning
    * (re-planning per batch lets each batch's block probes reach the
    * bucketed snapshot scan while the index side never moves). Each
    * micro-batch gets full incremental semantics — decided against index
    * ∪ own-batch lower ids — so a crawl replayed as a stream produces the
    * per-batch apply decisions exactly (IncrementalSemDedupSpec). Note
    * the index is NOT grown between batches here (serving is read-only);
    * an ingest pipeline appends accepted batches via
    * [[IndexTables.append]] on its own cadence. The caller owns
    * trigger/checkpoint config; `sink` receives each batch's flags.
    */
  def semanticDedupTextServe(docStream: DataFrame, index: DataFrame,
      dim: Int = 64, minCos: Double = 0.9)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        sink(semanticDedupTextApply(batch, index, dim, minCos))
    }

  /** Per-source dataset card — [[corpusReport]]'s dashboard broken out by
    * provenance, the table a data team publishes alongside a corpus
    * release: per source, document and token counts, mean document
    * length (tokens and chars), the exact-duplicate fraction, and how
    * many languages the source spans. Same scale shape as the report:
    * every signal is a scan-stage expression and only 16-byte
    * fingerprints plus per-task partials shuffle, now keyed by source.
    */
  def dataCard(docs: DataFrame): DataFrame =
    Par.fanOutKernel(docs).select(col("source"), col("lang"), col("n_chars"),
        greatest(size(Core.tokensUni(col("text"))), lit(0)).cast("long").as("_n"),
        fingerprint(col("text")).as("_fp"))
      .groupBy("source")
      // no empty-group guards here, unlike corpusReport's GLOBAL
      // aggregation: a groupBy group holds >= 1 row by construction
      .agg(
        count(lit(1)).as("n_docs"),
        sum("_n").as("n_tokens"),
        round(avg("_n"), 4).as("avg_doc_tokens"),
        round(lit(1.0) - countDistinct(col("_fp")).cast("double") /
          count(lit(1)), 4).as("exact_dup_frac"),
        countDistinct(col("lang")).as("n_langs"),
        round(avg(col("n_chars")), 4).as("avg_chars"))

  /** One-row corpus health report — the dashboard numbers every curation
    * run starts and ends with, computed by COMPOSING the existing
    * scan-stage signals (token counts, [[fingerprint]] exact-dup rate,
    * the model quality score, [[predLang]]) in one corpus pass plus the
    * distinct-fingerprint aggregation. Emits n_docs, n_tokens,
    * avg_doc_tokens, exact_dup_frac (1 − distinct fps / docs; 0 for an
    * empty corpus), avg_quality, quality_keep_frac (share at or above
    * the model keep threshold), and en_frac (share predicted English).
    *
    * Scale shape: all per-document signals are scan-stage expressions;
    * the only data that shuffles is the 16-byte fingerprint (for the
    * distinct count) and the per-task partial aggregates. No joins, no
    * windows, text never moves.
    */
  def corpusReport(docs: DataFrame,
      keepThreshold: Double = QUALITY_W._6): DataFrame = {
    val t = toks(col("text"))
    Par.fanOutKernel(docs).select(
        greatest(size(t), lit(0)).cast("long").as("_n"),
        fingerprint(col("text")).as("_fp"),
        sigmoid(qualityLogit(col("text"))).as("_q"),
        (predLang(col("text")) === "en").cast("int").as("_en"))
      .agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("_n"), lit(0L)).as("n_tokens"),
        round(avg("_n"), 4).as("avg_doc_tokens"),
        when(count(lit(1)) > 0,
          round(lit(1.0) - countDistinct(col("_fp")).cast("double") /
            count(lit(1)), 4)).otherwise(0.0).as("exact_dup_frac"),
        round(avg("_q"), 4).as("avg_quality"),
        round(avg((col("_q") >= keepThreshold).cast("int")), 4)
          .as("quality_keep_frac"),
        round(avg("_en"), 4).as("en_frac"))
  }

  /** Distribution drift between two corpus snapshots as per-bucket PSI
    * (population stability index) contributions — the monitoring
    * complement to [[graft.ops.Dedup.corpusDiff]]: diff says WHICH
    * documents changed, drift says whether the POPULATION a model will
    * see has shifted (PSI > 0.2 over a feature like length, quality or
    * perplexity is the standard retrain/investigate alarm).
    *
    * Buckets come from FIXED literal `edges` (bucket = #edges ≤ v), not
    * data-driven quantiles: the monitoring use case compares many
    * snapshots against a reference, so the binning must not move with
    * the data (and fixed edges keep the whole computation engine-exact).
    * Counts are Laplace-smoothed (+0.5 per bucket) so empty buckets
    * contribute finite drift: p = (cnt+0.5)/(n+0.5·K).
    *
    * psi_i = (p_i − q_i) · ln(p_i / q_i); total PSI = sum over the K
    * rows. Scale shape: one map-side-combined groupBy per snapshot over
    * a scan-stage bucket expression; everything after is K-row algebra.
    * Null values are excluded (no bucket — the [[Sampling.perplexityMix]]
    * null-score policy).
    */
  /** Exact two-sample Kolmogorov-Smirnov statistic — the
    * distribution-shift test [[distributionDrift]]'s PSI buckets
    * approximate: D = max over distinct values of |F̂_a − F̂_b|, with the
    * empirical CDFs as exact integer rationals, so the oracle agrees
    * bit-for-bit. Rides [[scoreDictCum]] (value dictionary + the
    * distributed strictly-below prefix sums; inclusive CDF = below +
    * own), one corpus pass per side. The reject flag applies the
    * classical large-sample critical value
    * c(α)·√((n_a+n_b)/(n_a·n_b)) at the chosen significance level —
    * α ∈ {0.10, 0.05, 0.01} with the standard c(α) table
    * {1.224, 1.358, 1.628}; default α = 0.05. Returns one row
    * (n_a, n_b, ks, reject_NN) where NN is the alpha's two-digit
    * percent form (reject_05, reject_01, reject_10); ks NULL when
    * either sample is empty.
    */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String,
      alpha: Double = 0.05): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val cAlpha = KS_CRITICAL.getOrElse(alpha, sys.error(
      s"ksTest: alpha must be one of ${KS_CRITICAL.keys.toSeq.sorted
        .mkString(", ")}, got $alpha"))
    val rejCol = f"reject_${math.rint(alpha * 100).toInt}%02d"
    val tagged = a.select(col(valueCol).cast("double").as("_v"),
        lit(1).as("_y"))
      .unionByName(b.select(col(valueCol).cast("double").as("_v"),
        lit(0).as("_y")))
    val cum = scoreDictCum(tagged, "_v", "_y").localCheckpoint()
    // sample sizes as plan constants (the apScore grand-totals pattern)
    val tot = cum.agg(coalesce(sum("_np"), lit(0.0)),
      coalesce(sum("_nn"), lit(0.0))).head()
    val (na, nb) = (tot.getDouble(0), tot.getDouble(1))
    if (na == 0 || nb == 0)
      Seq((na.toLong, nb.toLong, Option.empty[Double], Option.empty[Int]))
        .toDF("n_a", "n_b", "ks", rejCol)
    else {
      val crit = cAlpha * math.sqrt((na + nb) / (na * nb))
      cum.agg(max(abs((col("_npBelow") + col("_np")) / na -
          (col("_nnBelow") + col("_nn")) / nb)).as("_ks"))
        .select(lit(na.toLong).as("n_a"), lit(nb.toLong).as("n_b"),
          round(col("_ks"), 6).as("ks"),
          (col("_ks") > lit(crit)).cast("int").as(rejCol))
    }
  }

  /** The classical large-sample two-sample KS critical coefficients
    * c(α) (Smirnov): reject when D > c(α)·√((n_a+n_b)/(n_a·n_b)).
    */
  private val KS_CRITICAL: Map[Double, Double] =
    Map(0.10 -> 1.224, 0.05 -> 1.358, 0.01 -> 1.628)

  /** Unigram token-DISTRIBUTION divergence between two corpora — the
    * vocabulary-level drift check beside [[distributionDrift]]'s
    * numeric-column PSI and [[ksTest]]'s CDF gap (a new crawl snapshot
    * can hold every numeric profile steady while its vocabulary walks):
    * KL both directions plus the bounded symmetric Jensen-Shannon
    * divergence, over the UNION vocabulary with add-half (Jeffreys)
    * smoothing so either side's absent tokens contribute finite terms —
    * the [[Sampling.perplexityBuckets]] smoothing policy.
    *
    *   p_t = (c_a(t)+½)/(N_a+½V);  q_t likewise over V union types
    *   KL(p‖q) = Σ_t p_t ln(p_t/q_t);  JS = ½KL(p‖m)+½KL(q‖m), m=(p+q)/2
    *
    * Scale shape: one map-side-combined token count per side, a full
    * outer join of the two DICTIONARIES, and dictionary-sized algebra —
    * each corpus shuffles once, nothing row-sized after. Every ln term
    * is q6-rounded BEFORE the sum (cross-engine libm ulps never
    * compound); outputs round 6. Returns one row
    * (n_a, n_b, vocab, kl_ab, kl_ba, js); nulls when both sides are
    * token-free.
    */
  def tokenDivergence(a: DataFrame, b: DataFrame): DataFrame = {
    def cnts(df: DataFrame, as: String) = df
      .select(explode(toks(col("text"))).as("_t"))
      .groupBy("_t").agg(count(lit(1)).as(as))
    val joined = cnts(a, "_ca")
      .join(cnts(b, "_cb"), Seq("_t"), "full")
      .select(col("_t"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .localCheckpoint()
    val tot = joined.agg(coalesce(sum("_ca"), lit(0L)),
      coalesce(sum("_cb"), lit(0L)), count(lit(1))).head()
    val (na, nb, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    import a.sparkSession.implicits._
    if (v == 0L)
      return Seq((0L, 0L, 0L, Option.empty[Double], Option.empty[Double],
        Option.empty[Double]))
        .toDF("n_a", "n_b", "vocab", "kl_ab", "kl_ba", "js")
    val p = (col("_ca") + 0.5) / (na + 0.5 * v)
    val q = (col("_cb") + 0.5) / (nb + 0.5 * v)
    val m = (p + q) / 2
    joined.agg(
        round(sum(round(p * log(p / q), 6)), 6).as("kl_ab"),
        round(sum(round(q * log(q / p), 6)), 6).as("kl_ba"),
        round(sum(round(p * log(p / m) / 2, 6) +
          round(q * log(q / m) / 2, 6)), 6).as("js"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"), lit(v).as("vocab"),
        col("kl_ab"), col("kl_ba"), col("js"))
  }

  /** One-row vocabulary & coverage report — the corpus-planning numbers
    * a pretraining run is sized with: total tokens, distinct types,
    * hapax/dis legomena (count-1/count-2 types), type-token ratio, and
    * the Good-Turing UNSEEN-mass estimate n₁/N (the probability that
    * the next token drawn is a type this corpus has never shown — "is
    * the corpus big enough"). The rank-frequency shape scalar lives in
    * [[zipfFit]]; the volume/dup/quality headline in [[corpusReport]] —
    * this row is the type-inventory view neither covers.
    *
    * Scale shape: ONE map-side-combined token count builds the
    * vocabulary dictionary; everything else is one dictionary-sized
    * aggregate. ttr/gt_unseen round 6.
    */
  def vocabReport(docs: DataFrame): DataFrame = {
    val cnts = docs.select(explode(toks(col("text"))).as("_t"))
      .groupBy("_t").agg(count(lit(1)).as("_c"))
    val agg = cnts.agg(coalesce(sum("_c"), lit(0L)), count(lit(1)),
      coalesce(sum((col("_c") === 1).cast("long")), lit(0L)),
      coalesce(sum((col("_c") === 2).cast("long")), lit(0L))).head()
    val (n, v, n1, n2) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3))
    import docs.sparkSession.implicits._
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    if (v == 0L)
      return Seq((0L, 0L, 0L, 0L, Option.empty[Double],
        Option.empty[Double]))
        .toDF("n_tokens", "vocab", "hapax", "dis", "ttr", "gt_unseen")
    Seq((n, v, n1, n2, Some(q6(v.toDouble / n)), Some(q6(n1.toDouble / n))))
      .toDF("n_tokens", "vocab", "hapax", "dis", "ttr", "gt_unseen")
  }

  /** The standing bigram-LM COUNT table: (prev, word, cnt) — the
    * sufficient statistic of every count-based LM smoothing, ADDITIVE
    * under appended documents (the [[Preference.btGraph]] /
    * [[scoreDict]] mergeable-artifact shape; [[lmMerge]] folds a batch,
    * [[lmServe]] wires foreachBatch). [[surprisalScoresBackoff]] fits
    * its counts per run; a production perplexity filter maintains THIS
    * table once per corpus snapshot and scores every later batch
    * against it at batch cost.
    */
  def lmCounts(docs: DataFrame): DataFrame =
    bigramPairs(docs).groupBy("prev", "word").agg(count(lit(1)).as("cnt"))

  /** Fold a new document batch into a standing [[lmCounts]] model:
    * counts sum. Exactly equals the model of the concatenated corpus
    * (spec'd — the btMerge contract).
    */
  def lmMerge(model: DataFrame, newDocs: DataFrame): DataFrame =
    model.unionByName(lmCounts(newDocs))
      .groupBy("prev", "word").agg(sum("cnt").as("cnt"))

  /** Streaming corpus ingestion for the LM counts (the btServe
    * read-write pattern).
    */
  def lmServe(docStream: DataFrame)(
      state: () => DataFrame, save: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) => save(lmMerge(state(), batch))
    }

  /** TRUE perplexity under a standing [[lmCounts]] bigram model with
    * add-k smoothing — the CCNet-style LM quality filter
    * ([[surprisalScoresBackoff]] is the stupid-backoff sibling; add-k
    * handles fully-unseen events with a proper probability, which
    * backoff's score heuristic does not):
    *
    *   p(w|prev) = (c(prev,w) + k) / (c(prev,·) + k·(V+1))
    *
    * with V = the model's word-type count and +1 the OOV bucket, so
    * unseen words and unseen contexts both get finite mass and the
    * distribution still sums to 1 per context. Per-document
    * cross-entropy = −mean ln p (each ln term q6-rounded before the
    * mean — cross-engine libm ulps never compound), ppl = e^ce, both
    * rounded 4. Documents with < 2 tokens have no bigrams and emit no
    * row (the [[surprisalScoresBigram]] convention).
    *
    * Scale shape: V and the context marginals are dictionary-sized
    * rollups of the model; the score side explodes narrow (doc, prev,
    * word) rows that join the two dictionaries UNHINTED (the
    * surprisal-family broadcast policy: AQE broadcasts while small, at
    * 100 TB the Heaps-law dictionaries must be allowed to shuffle),
    * then one doc-keyed mean. Returns (doc_id, n_bigrams,
    * cross_entropy, ppl).
    */
  def lmPerplexity(score: DataFrame, model: DataFrame,
      k: Double = 0.5): DataFrame = {
    require(k > 0, s"lmPerplexity: add-k needs k > 0, got $k")
    val vRow = model.agg(countDistinct(col("word"))).head()
    val v = vRow.getLong(0) + 1L // + the OOV bucket
    val ctx = model.groupBy("prev").agg(sum("cnt").as("_c1"))
    val pairs = bigramPairs(score)
    val logp = round(
      log((coalesce(col("cnt"), lit(0L)) + k) /
        (coalesce(col("_c1"), lit(0L)) + k * v)), 6)
    pairs
      .join(model, Seq("prev", "word"), "left")
      .join(ctx, Seq("prev"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(logp), 4).as("cross_entropy"))
      .withColumn("ppl", round(exp(col("cross_entropy")), 4))
  }

  def distributionDrift(a: DataFrame, b: DataFrame, valueCol: String,
      edges: Seq[Double]): DataFrame =
    distributionDriftFrom(bucketCounts(a, valueCol, edges), b, valueCol,
      edges)

  /** The spine-complete (bucket, cnt) histogram behind
    * [[distributionDrift]] — the standing REFERENCE artifact of the
    * monitoring pattern: fit it once on the blessed snapshot, store it
    * (K rows), and compare every later snapshot against it with
    * [[distributionDriftFrom]] without rescanning the reference. Every
    * bucket is emitted (absent = 0) so stored references stay
    * join-complete.
    */
  def bucketCounts(df: DataFrame, valueCol: String,
      edges: Seq[Double]): DataFrame = {
    require(edges.nonEmpty && edges == edges.sorted,
      s"bucketCounts: edges must be non-empty ascending, got $edges")
    val bucket = edges.foldLeft(lit(0))((acc, e) =>
      acc + (col(valueCol) >= lit(e)).cast("int"))
    df.sparkSession.range(edges.length + 1)
      .select(col("id").cast("int").as("bucket"))
      .join(df.where(col(valueCol).isNotNull)
          .groupBy(bucket.as("bucket")).agg(count(lit(1)).as("cnt")),
        Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Streaming drift monitor: every micro-batch compared against the
    * standing [[bucketCounts]] reference via [[distributionDriftFrom]] —
    * stateless per batch (the semanticContaminationServe pattern: the
    * verdict depends only on the reference side), so the sink receives
    * one K-row PSI report per batch.
    */
  def distributionDriftServe(stream: DataFrame, refCounts: DataFrame,
      valueCol: String, edges: Seq[Double])(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        sink(distributionDriftFrom(refCounts, batch, valueCol, edges))
    }

  /** [[distributionDrift]] against a stored [[bucketCounts]] reference
    * (built with the same `edges`).
    */
  def distributionDriftFrom(refCounts: DataFrame, b: DataFrame,
      valueCol: String, edges: Seq[Double]): DataFrame = {
    val k = edges.length + 1
    val joined = refCounts.select(col("bucket"), col("cnt").as("cnt_a"))
      .join(bucketCounts(b, valueCol, edges)
        .select(col("bucket"), col("cnt").as("cnt_b")), Seq("bucket"))
    val tot = joined.agg(sum("cnt_a").as("n_a"), sum("cnt_b").as("n_b"))
    // smoothed shares are single divisions of exactly-representable
    // numbers (integer + 0.5), so p and q are bit-identical across
    // engines unrounded; only the transcendental psi term rounds
    val p = (col("cnt_a") + lit(0.5)) / (col("n_a") + lit(0.5) * k)
    val q = (col("cnt_b") + lit(0.5)) / (col("n_b") + lit(0.5) * k)
    joined.crossJoin(broadcast(tot))
      .select(col("bucket"), col("cnt_a"), col("cnt_b"),
        round((p - q) * log(p / q), 6).as("psi"))
  }

  /** Flesch reading-ease per document — the classic readability signal
    * educational-quality curation gates on (alongside
    * [[qualityScores]]/[[qualityLogit]]): 206.835 − 1.015·(words/
    * sentences) − 84.6·(syllables/word). Sentences = [.!?]+ segments
    * containing a letter; syllables = vowel-group runs per word, floored
    * at 1 (the standard heuristic). Every count is exact integer math in
    * the scan stage (token transform + aggregate — zero shuffle, no
    * per-token explode), so the only float work is the final formula
    * over exact ratios, rounded 4. Token-less documents are excluded
    * (no words ⇒ no readability, the [[hashEmbed]] convention).
    */
  /** The three exact Flesch counts as columns — ONE definition shared by
    * [[readability]] and [[weakLabels]] so the heuristic cannot drift
    * between the standalone signal and the labeler composition.
    */
  private[graft] def fleschCounts(text: Column): (Column, Column, Column) = {
    val t = toks(text)
    val sents = size(filter(split(text, "[.!?]+"), s => s.rlike("\\p{L}")))
    val syll = aggregate(
      transform(t, w => greatest(lit(1),
        size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))))),
      lit(0L), (acc, x) => acc + x)
    (size(t), greatest(lit(1), sents).cast("long"), syll)
  }

  private[graft] def fleschOf(nWords: Column, nSents: Column,
      nSyll: Column): Column =
    round(lit(206.835) - lit(1.015) * (nWords.cast("double") / nSents) -
      lit(84.6) * (nSyll.cast("double") / nWords), 4)

  def readability(docs: DataFrame): DataFrame = {
    val (nw, ns, sy) = fleschCounts(col("text"))
    docs.select(col("doc_id"), nw.as("n_words"),
        ns.as("n_sents"), sy.as("n_syll"))
      .where(col("n_words") > 0)
      .withColumn("flesch",
        fleschOf(col("n_words"), col("n_sents"), col("n_syll")))
  }

  /** Two independent weak labelers over tokenizable documents in ONE
    * scan — the model gate ([[qualityClassifierScore]]'s sigmoid ≥ its
    * keep threshold) and the readability gate (ROUNDED Flesch ≥
    * `fleschT`) — the substrate for labeler-QA diagnostics
    * ([[cohenKappa]] agreement, [[calibrationReport]] calibration).
    * Token-less documents are excluded (no Flesch is defined for them,
    * the [[readability]] convention). Zero shuffle.
    */
  def weakLabels(docs: DataFrame, fleschT: Double = 30.0): DataFrame = {
    val (nw, ns, sy) = fleschCounts(col("text"))
    val score = sigmoid(qualityLogit(col("text")))
    // counts first, filter, THEN the Flesch division — fleschOf divides
    // by n_words, so it must sit above the tokenizable filter (ANSI
    // divide-by-zero on empty docs; the [[readability]] structure)
    docs.select(col("doc_id"), round(score, 4).as("quality_score"),
        (score >= QUALITY_W._6).cast("int").as("keep_a"),
        nw.as("_nw"), ns.as("_ns"), sy.as("_sy"))
      .where(col("_nw") > 0)
      .withColumn("keep_b",
        (fleschOf(col("_nw"), col("_ns"), col("_sy")) >= fleschT)
          .cast("int"))
      .drop("_nw", "_ns", "_sy")
  }

  /** PMI collocation mining — the classic phrase-discovery signal
    * (Church & Hanks 1990): for adjacent word pairs with count ≥
    * minCount, pmi = ln(c_xy·N / (c_x·c_y)) where N is the total bigram
    * count. High-PMI pairs are the multiword units a tokenizer or
    * phrase table wants ("los angeles"), and a minCount fence keeps
    * singleton noise out (a pair seen once has spuriously maximal PMI).
    * Returns the global top-`topK` by (ROUNDED pmi DESC, bigram) — the
    * sort key is the rounded value in BOTH engines, so tie order can't
    * drift across float ulps. Counts are exact integers; only the final
    * ln rounds.
    *
    * Scale shape: two map-side-combined aggregations (bigram + unigram
    * dictionaries — Heaps'-law sized, never the token stream), one
    * broadcast one-row N, a dictionary-sized join, and a TakeOrdered
    * head. No corpus-sized shuffle.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
      topK: Int = 50): DataFrame = {
    require(minCount >= 1 && topK >= 1,
      s"pmiCollocations: bad (minCount=$minCount, topK=$topK)")
    // tokens materialized as their own projection BEFORE the lambdas: an
    // inline toks(text) re-runs the split regex once per array ELEMENT
    // inside interpreted HOF bodies (the spanDedup lesson) — O(len²)
    // tokenization that read 42.8 s at the 50k stress vs ~6 s fixed
    val t = col("_t")
    val pairs = Par.fanOutKernel(docs).select(toks(col("text")).as("_t"))
      .select(explode(filter(
        transform(t, (_, i) =>
          when(i + 2 <= size(t),
            struct(element_at(t, i + lit(1)).as("x"),
              element_at(t, i + lit(2)).as("y")))),
        p => p.isNotNull)).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    // ONE token-volume aggregation; the marginals and N are derived from
    // the pair DICTIONARY (sum of c grouped by x / y — identical counts),
    // which is Heaps'-law sized. The first cut aggregated the exploded
    // pair stream four times (cxy, cx, cy, N) and read 42.8 s at the 50k
    // stress; this form reads ~12 s. The dictionary is checkpointed so
    // the three derivations don't re-run the explode.
    val cxy = pairs.groupBy("x", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val cx = cxy.groupBy("x").agg(sum("c").as("c_x"))
    val cy = cxy.groupBy("y").agg(sum("c").as("c_y"))
    val n = cxy.agg(sum("c").as("n_pairs"))
    cxy.where(col("c") >= minCount)
      .join(cx, "x").join(cy, "y")
      .crossJoin(broadcast(n))
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"), col("c"),
        round(log(col("c").cast("double") * col("n_pairs") /
          (col("c_x") * col("c_y"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topK)
  }

  /** Corpus-level BLEU of a candidate text column against a reference
    * column (Papineni 2002 — the reference-overlap eval every
    * generation/translation pipeline reports): modified n-gram
    * precision with per-gram CLIPPING (a candidate gram counts at most
    * as often as the reference shows it), geometric mean over n = 1..
    * `maxN`, and the brevity penalty e^(1−r/c) for short candidates.
    *
    * Scale shape (round 12): a ZERO-exchange scan — each pair's two
    * per-level (gram → count) dictionaries come off the
    * TokenNgramCounts kernel and clip IN the row via GramClipStats
    * (clipping is per-(pair, gram) and both sides share the row, so
    * the (id, n, gram) union + count shuffle + clip join the
    * explode-based plan paid never exist; the chrF doctrine). Pair
    * counts and token lengths ride the same single one-row aggregate
    * (c_len/r_len ≡ the n = 1 gram totals). The per-n match/total
    * pairs are a maxN-row driver collect (model-sized); every count is an
    * exact integer, each ln pₙ is q6-rounded (the tokenDivergence libm
    * policy), BLEU rounds 4. Precisions round 6 and are NULL at tₙ = 0;
    * BLEU is 0.0 when any level has zero matches (the standard unsmoothed
    * convention) and NULL when there are no candidate tokens at all.
    * Returns one row (n_pairs, c_len, r_len, p1..pN, bleu).
    *
    * CONTRACT: `idCol` must be UNIQUE within `pairs`. Under the
    * per-row clip kernel each ROW clips independently against its own
    * reference (gram dictionaries never pool across rows), so duplicate
    * ids are silently scored as two separate pairs and both feed the
    * corpus totals — double-weighting that id rather than corrupting
    * the clip. Multi-reference or multi-candidate evals must
    * disambiguate the id (e.g. concat id with a variant tag) before
    * calling; same contract on [[chrF]] and [[rougeN]], and per
    * (group, id) on [[bleuByGroup]].
    */
  def bleuScore(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"bleuScore: bad maxN $maxN")
    val base = pairs.select(col(idCol).as("_id"),
      toks(col(refCol)).as("_rt"), toks(col(candCol)).as("_ct"))
    val (nPairs, perN) = tokenClipTotals(base, maxN)
    // token lengths ARE the 1-gram totals (every token starts one)
    val (cLen, rLen) = (perN(1)._2, perN(1)._3)
    import pairs.sparkSession.implicits._
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val mt = (1 to maxN).map { n =>
      val (m, t, _) = perN.getOrElse(n, (0L, 0L, 0L)); (m, t)
    }
    val ps = mt.map { case (m, t) =>
      if (t == 0L) Option.empty[Double] else Some(m.toDouble / t)
    }
    val bleu =
      if (cLen == 0L) Option.empty[Double]
      else if (ps.exists(p => p.isEmpty || p.get == 0.0)) Some(0.0)
      else {
        val meanLogP = ps.map(p => q6(math.log(p.get))).sum / maxN
        val bpExp = math.min(0.0, 1.0 - rLen.toDouble / cLen)
        Some(math.rint(math.exp(meanLogP + bpExp) * 1e4) / 1e4)
      }
    val head = Seq(lit(nPairs).as("n_pairs"), lit(cLen).as("c_len"),
      lit(rLen).as("r_len"))
    val pCols = ps.zipWithIndex.map { case (p, i) =>
      p.map(v => lit(q6(v))).getOrElse(lit(null).cast("double"))
        .as(s"p${i + 1}")
    }
    val bleuCol = bleu.map(lit(_)).getOrElse(lit(null).cast("double"))
      .as("bleu")
    Seq(1).toDF("_one").select(head ++ pCols :+ bleuCol: _*)
  }

  /** MULTI-REFERENCE corpus BLEU (round-14 verdict #4) — the SacreBLEU
    * convention [[bleuScore]] lacks: a candidate gram clips against the
    * per-gram MAXIMUM count over ALL references (a gram any reference
    * licenses is licensed), and the brevity penalty uses the per-pair
    * effective reference length — the reference length CLOSEST to the
    * candidate's, ties to the SHORTER (the original mteval rule).
    *
    * Implementation: one extra dictionary-sized step per pair ahead of
    * GramClipStats — the refs' per-row gram dictionaries max-merge in
    * the codegen'd [[graft.functions.ArrayKernels.GramMaxMerge]] kernel
    * (one compiled HashMap pass; the interpreted map_from_entries →
    * map_zip_with → map_entries round-trip it replaced measured 2.2×
    * on this scan even with a single reference), then the standard
    * clip kernel runs against the merged dictionary. Everything else
    * is the [[bleuScore]] shape: ZERO-exchange scan, one one-row
    * aggregate, exact integer totals, q6 logs, BLEU rounds 4. With a
    * single reference the reduce is the identity and the plan IS
    * [[bleuScore]]'s clip chain (spec-asserted equal). Same unique-id
    * contract as [[bleuScore]].
    */
  def bleuScoreMulti(pairs: DataFrame, idCol: String, refCols: Seq[String],
      candCol: String, maxN: Int = 4): DataFrame = {
    require(refCols.nonEmpty, "bleuScoreMulti: need at least one reference")
    require(maxN >= 1 && maxN <= 8, s"bleuScoreMulti: bad maxN $maxN")
    val K = graft.functions.ArrayKernels
    val base = pairs.select(
      col(idCol).as("_id") +: toks(col(candCol)).as("_ct") +:
        refCols.zipWithIndex.map { case (r, i) => toks(col(r)).as(s"_rt$i") }: _*)
    val rEff = array_min(array(refCols.indices.map(i =>
        struct(abs(size(col(s"_rt$i")) - size(col("_ct"))).as("d"),
          size(col(s"_rt$i")).as("l"))): _*))
      .getField("l").cast("long")
    val statCols = (1 to maxN).map { n =>
      val merged = refCols.indices
        .map(i => K.token_ngram_counts(col(s"_rt$i"), n))
        .reduce(K.gram_max_merge)
      K.gram_clip_stats(K.token_ngram_counts(col("_ct"), n), merged)
        .as(s"_s$n")
    }
    val aggs = Seq(count(lit(1)): Column,
      coalesce(sum(col("_re")), lit(0L))) ++
      (1 to maxN).flatMap { n => Seq(
        coalesce(sum(col(s"_s$n.m")), lit(0L)),
        coalesce(sum(col(s"_s$n.t")), lit(0L))) }
    val row = base.select(statCols :+ rEff.as("_re"): _*)
      .agg(aggs.head, aggs.tail: _*).head()
    val nPairs = row.getLong(0)
    val rLen = row.getLong(1)
    val mt = (1 to maxN).map(n =>
      (row.getLong(2 + (n - 1) * 2), row.getLong(3 + (n - 1) * 2)))
    val cLen = mt.head._2 // 1-gram candidate total = token count
    import pairs.sparkSession.implicits._
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    val ps = mt.map { case (m, t) =>
      if (t == 0L) Option.empty[Double] else Some(m.toDouble / t)
    }
    val bleu =
      if (cLen == 0L) Option.empty[Double]
      else if (ps.exists(p => p.isEmpty || p.get == 0.0)) Some(0.0)
      else {
        val meanLogP = ps.map(p => q6(math.log(p.get))).sum / maxN
        val bpExp = math.min(0.0, 1.0 - rLen.toDouble / cLen)
        Some(math.rint(math.exp(meanLogP + bpExp) * 1e4) / 1e4)
      }
    val head = Seq(lit(nPairs).as("n_pairs"), lit(cLen).as("c_len"),
      lit(rLen).as("r_len"))
    val pCols = ps.zipWithIndex.map { case (p, i) =>
      p.map(v => lit(q6(v))).getOrElse(lit(null).cast("double"))
        .as(s"p${i + 1}")
    }
    val bleuCol = bleu.map(lit(_)).getOrElse(lit(null).cast("double"))
      .as("bleu")
    Seq(1).toDF("_one").select(head ++ pCols :+ bleuCol: _*)
  }

  /** [[chrF]]'s clipped char-gram core: from a (_id, _r, _c) frame of
    * whitespace-stripped STRINGS, the pair count plus per n ∈ 1..maxN
    * corpus totals (clipped matches, candidate grams, reference
    * grams) — ONE job, ZERO exchanges. Clipping is per-(pair, gram)
    * and a pair's two sides share a row, so the per-doc
    * CharNgramCounts dictionaries feed GramClipStats IN PLACE (one
    * HashMap probe pass per row per level) and the only aggregation
    * is the one-row total — the (id, n, gram) explode+shuffle plan
    * (where BOTH the instance volume and the clip join were
    * corpus-gram-sized) never exists here. The explode-based round-11
    * plan pushed ~500M rows through that shuffle at the 10× stress;
    * this is the rougeL shape instead.
    */
  private def charClipTotals(base: DataFrame, maxN: Int)
      : (Long, Map[Int, (Long, Long, Long)]) = {
    val K = graft.functions.ArrayKernels
    val statCols = (1 to maxN).map { n =>
      K.gram_clip_stats(K.char_ngram_counts(col("_c"), n),
        K.char_ngram_counts(col("_r"), n)).as(s"_s$n")
    }
    val aggs = (count(lit(1)): Column) +: (1 to maxN).flatMap { n => Seq(
      coalesce(sum(col(s"_s$n.m")), lit(0L)),
      coalesce(sum(col(s"_s$n.t")), lit(0L)),
      coalesce(sum(col(s"_s$n.tr")), lit(0L)))
    }
    val row = base.select(statCols: _*).agg(aggs.head, aggs.tail: _*).head()
    val perN = (1 to maxN).map { n =>
      val b = 1 + (n - 1) * 3
      n -> (row.getLong(b), row.getLong(b + 1), row.getLong(b + 2))
    }.toMap
    (row.getLong(0), perN)
  }

  /** [[bleuScore]]'s clipped token-n-gram core — the token twin of
    * [[charClipTotals]]: from a (_id, _rt, _ct) frame of token
    * arrays, the pair count plus per n ∈ 1..maxN corpus totals
    * (clipped matches, candidate grams, reference grams), computed as
    * ONE zero-exchange pass: TokenNgramCounts dictionaries clipped in
    * the row by GramClipStats, all levels and the pair count riding a
    * single one-row aggregate. Clipping is per ROW — identical to the
    * per-id form under [[bleuScore]]'s unique-id contract.
    */
  private def tokenClipTotals(base: DataFrame, maxN: Int)
      : (Long, Map[Int, (Long, Long, Long)]) = {
    val K = graft.functions.ArrayKernels
    val statCols = (1 to maxN).map { n =>
      K.gram_clip_stats(K.token_ngram_counts(col("_ct"), n),
        K.token_ngram_counts(col("_rt"), n)).as(s"_s$n")
    }
    val aggs = (count(lit(1)): Column) +: (1 to maxN).flatMap { n => Seq(
      coalesce(sum(col(s"_s$n.m")), lit(0L)),
      coalesce(sum(col(s"_s$n.t")), lit(0L)),
      coalesce(sum(col(s"_s$n.tr")), lit(0L)))
    }
    val row = base.select(statCols: _*).agg(aggs.head, aggs.tail: _*).head()
    val perN = (1 to maxN).map { n =>
      val b = 1 + (n - 1) * 3
      n -> (row.getLong(b), row.getLong(b + 1), row.getLong(b + 2))
    }.toMap
    (row.getLong(0), perN)
  }

  /** Per-GROUP corpus BLEU — [[bleuScore]] sliced by a group column
    * (per source, per language, per model variant): the fairness cut
    * that shows WHERE generation quality holds, the aucByGroup
    * doctrine. Unlike the corpus form (whose maxN-row totals collect
    * driver-side), everything here stays columnar: per-row kernel clip
    * structs roll up group-keyed straight into per-(group, n) columns
    * and the geometric mean / brevity penalty are row expressions — NO
    * driver collect at any group cardinality, no gram shuffle at any
    * corpus size (round 12: the TokenNgramCounts + GramClipStats
    * zero-gram-exchange plan). Levels with zero candidate
    * grams or zero matches make the group's BLEU 0.0 (the unsmoothed
    * convention); groups with no candidate tokens read NULL. ln terms
    * q6-round before the mean (the corpus form's convention); BLEU
    * rounds 4. Returns (group, n_pairs, c_len, r_len, bleu).
    */
  def bleuByGroup(pairs: DataFrame, groupCol: String, idCol: String,
      refCol: String, candCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"bleuByGroup: bad maxN $maxN")
    val K = graft.functions.ArrayKernels
    // clipping happens per ROW (≡ per (group, id) under the unique-id
    // contract — the same item id legitimately recurs across groups in
    // per-model-variant evals, and a row is always one (group, id)
    // pair, so reference counts can never pool across variants); the
    // ONLY shuffle is the group-keyed rollup of per-row (m, t) structs
    // — no gram ever leaves the scan stage (the corpus-form doctrine),
    // and c_len/r_len ride the same rollup as the n = 1 totals
    val base = pairs.select(col(groupCol).as("_grp"),
      toks(col(refCol)).as("_rt"), toks(col(candCol)).as("_ct"))
    val statCols = (1 to maxN).map { n =>
      K.gram_clip_stats(K.token_ngram_counts(col("_ct"), n),
        K.token_ngram_counts(col("_rt"), n)).as(s"_s$n")
    }
    val aggs = (count(lit(1)).as("n_pairs"): Column) +:
      (1 to maxN).flatMap(n => Seq(
        coalesce(sum(col(s"_s$n.m")), lit(0L)).as(s"_m$n"),
        coalesce(sum(col(s"_s$n.t")), lit(0L)).as(s"_t$n"),
        coalesce(sum(col(s"_s$n.tr")), lit(0L)).as(s"_tr$n")))
    val pivoted = base.select(col("_grp") +: statCols: _*)
      .groupBy("_grp").agg(aggs.head, aggs.tail: _*)
    val anyZero = (1 to maxN).map(n =>
      col(s"_t$n") === 0L || col(s"_m$n") === 0L).reduce(_ || _)
    val meanLog = (1 to maxN).map(n =>
      round(log(col(s"_m$n").cast("double") / col(s"_t$n")), 6))
      .reduce(_ + _) / maxN
    val bpExp = least(lit(0.0),
      lit(1.0) - col("_tr1").cast("double") / col("_t1"))
    pivoted
      .select(col("_grp").as(groupCol), col("n_pairs"),
        col("_t1").as("c_len"), col("_tr1").as("r_len"),
        when(col("_t1") === 0L, lit(null).cast("double"))
          .when(anyZero, lit(0.0))
          .otherwise(round(exp(meanLog + bpExp), 4)).as("bleu"))
  }

  /** Corpus-level chrF (Popović 2015; β = 2 — chrF2, the WMT default):
    * CHARACTER n-gram F-score over n = 1..`maxN`, whitespace removed
    * before character extraction (the sacrebleu convention — chrF
    * measures orthographic overlap, not spacing). Per level,
    * Pₙ = clipped matches / candidate grams and Rₙ = clipped matches /
    * reference grams off [[charClipTotals]] — a ZERO-exchange
    * scan: per-doc (gram → count) dictionaries from the
    * CharNgramCounts kernel, clipped in place by GramClipStats (grams
    * are per-PAIR clipped, totals corpus-summed);
    * P and R are arithmetic means over the levels with a nonzero
    * denominator (the effective-order rule), and
    * chrF = (1+β²)·P·R/(β²·P+R), 0 when P+R = 0. Pure integer-rational
    * algebra — no logs — so the oracle agrees bit-for-bit; P/R/chrF
    * round 6. Returns one row (n_pairs, c_chars, r_chars, chr_p,
    * chr_r, chrf); NULL metrics when either side has no characters.
    * `idCol` must be unique within `pairs` (the [[bleuScore]] clipping
    * contract — duplicate ids pool into one pair before the clip).
    */
  def chrF(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String, maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"chrF: bad maxN $maxN")
    require(beta > 0, s"chrF: beta must be > 0, got $beta")
    // whitespace stripped, then ALL per-doc gram work runs on STRINGS
    // through the CharNgramCounts + GramClipStats codegen kernels —
    // the pair's two gram dictionaries share a row, so clipping never
    // leaves the scan stage (the round-11 explode plan pushed ~500M
    // gram-instance rows through an (id, n, gram) shuffle at the 10x
    // stress; this plan is ONE job with zero exchanges). Codepoint
    // lengths ARE the n = 1 gram totals, so they ride the same
    // one-row aggregate
    val base = pairs.select(col(idCol).as("_id"),
      regexp_replace(col(refCol), "\\s+", "").as("_r"),
      regexp_replace(col(candCol), "\\s+", "").as("_c"))
    val (nPairs, perN) = charClipTotals(base, maxN)
    val (cLen, rLen) = (perN(1)._2, perN(1)._3)
    import pairs.sparkSession.implicits._
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    if (cLen == 0L || rLen == 0L)
      return Seq((nPairs, cLen, rLen, Option.empty[Double],
        Option.empty[Double], Option.empty[Double]))
        .toDF("n_pairs", "c_chars", "r_chars", "chr_p", "chr_r", "chrf")
    val stats = (1 to maxN).map(n => perN.getOrElse(n, (0L, 0L, 0L)))
    val ps = stats.collect { case (m, t, _) if t > 0 => m.toDouble / t }
    val rs = stats.collect { case (m, _, tr) if tr > 0 => m.toDouble / tr }
    val p = if (ps.isEmpty) 0.0 else ps.sum / ps.length
    val r = if (rs.isEmpty) 0.0 else rs.sum / rs.length
    val b2 = beta * beta
    val f = if (p + r == 0.0) 0.0 else (1 + b2) * p * r / (b2 * p + r)
    Seq((nPairs, cLen, rLen, Some(q6(p)), Some(q6(r)), Some(q6(f))))
      .toDF("n_pairs", "c_chars", "r_chars", "chr_p", "chr_r", "chrf")
  }

  /** Corpus chrF++ (Popović 2017; the WMT word-order-2 refinement of
    * [[chrF]]): the level means behind P and R run over BOTH the
    * char n-grams (1..`charMaxN`, whitespace stripped) AND the word
    * n-grams (1..`wordMaxN`) — word grams reward correct word order
    * that pure char overlap can't see. Same effective-order rule
    * (levels with a zero denominator drop out of their mean), same
    * β-weighted harmonic mean, same integer-rational algebra — and
    * the same ZERO-exchange plan twice: [[charClipTotals]] +
    * [[tokenClipTotals]] are each one kernel-clipped scan job.
    * Returns one row (n_pairs, c_chars, r_chars, c_words, r_words,
    * chr_p, chr_r, chrfpp); NULL metrics when either char side is
    * empty (the [[chrF]] contract). `idCol` must be unique within
    * `pairs` (the [[bleuScore]] clipping contract).
    */
  def chrFpp(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String, charMaxN: Int = 6, wordMaxN: Int = 2,
      beta: Double = 2.0): DataFrame = {
    require(charMaxN >= 1 && charMaxN <= 8, s"chrFpp: bad charMaxN $charMaxN")
    require(wordMaxN >= 1 && wordMaxN <= 8, s"chrFpp: bad wordMaxN $wordMaxN")
    require(beta > 0, s"chrFpp: beta must be > 0, got $beta")
    val cbase = pairs.select(col(idCol).as("_id"),
      regexp_replace(col(refCol), "\\s+", "").as("_r"),
      regexp_replace(col(candCol), "\\s+", "").as("_c"))
    val (nPairs, charN) = charClipTotals(cbase, charMaxN)
    val wbase = pairs.select(col(idCol).as("_id"),
      toks(col(refCol)).as("_rt"), toks(col(candCol)).as("_ct"))
    val (_, wordN) = tokenClipTotals(wbase, wordMaxN)
    val (cLen, rLen) = (charN(1)._2, charN(1)._3)
    val (cWords, rWords) = (wordN(1)._2, wordN(1)._3)
    import pairs.sparkSession.implicits._
    def q6(x: Double) = math.rint(x * 1e6) / 1e6
    if (cLen == 0L || rLen == 0L)
      return Seq((nPairs, cLen, rLen, cWords, rWords, Option.empty[Double],
        Option.empty[Double], Option.empty[Double]))
        .toDF("n_pairs", "c_chars", "r_chars", "c_words", "r_words",
          "chr_p", "chr_r", "chrfpp")
    val stats = (1 to charMaxN).map(n => charN.getOrElse(n, (0L, 0L, 0L))) ++
      (1 to wordMaxN).map(n => wordN.getOrElse(n, (0L, 0L, 0L)))
    val ps = stats.collect { case (m, t, _) if t > 0 => m.toDouble / t }
    val rs = stats.collect { case (m, _, tr) if tr > 0 => m.toDouble / tr }
    val p = if (ps.isEmpty) 0.0 else ps.sum / ps.length
    val r = if (rs.isEmpty) 0.0 else rs.sum / rs.length
    val b2 = beta * beta
    val f = if (p + r == 0.0) 0.0 else (1 + b2) * p * r / (b2 * p + r)
    Seq((nPairs, cLen, rLen, cWords, rWords,
      Some(q6(p)), Some(q6(r)), Some(q6(f))))
      .toDF("n_pairs", "c_chars", "r_chars", "c_words", "r_words",
        "chr_p", "chr_r", "chrfpp")
  }

  /** Per-pair smoothed sentence BLEU (BLEU+1, Lin & Och 2004): the
    * per-example view beside [[bleuScore]]'s corpus number — the
    * ranking signal a distillation/rejection-sampling pipeline sorts
    * candidates by. p₁ stays unsmoothed (a sentence with zero unigram
    * overlap scores 0); higher levels take (m+1)/(t+1) so short or
    * partially-matching sentences keep a graded score instead of
    * collapsing at the first zero level (a level with no grams reads
    * the neutral 1). Same q6-per-ln / brevity-penalty arithmetic as
    * the corpus form, all from the same-row clip kernels — a pure
    * scan stage, ZERO shuffle, stateless-append streamable (the
    * [[ter]] shape). Pairs with an empty reference emit no row; an
    * empty candidate reads NULL; zero unigram matches read 0.0.
    * bleu_s rounds 4. `idCol` unique per the [[bleuScore]] contract.
    * Returns (id, c_len, r_len, bleu_s).
    */
  def bleuSentence(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String, maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"bleuSentence: bad maxN $maxN")
    val K = graft.functions.ArrayKernels
    val base = pairs.select(col(idCol).as(idCol),
      toks(col(refCol)).as("_rt"), toks(col(candCol)).as("_ct"))
    val withStats = (1 to maxN).foldLeft(
      base.select(col(idCol), col("_rt"), col("_ct"))) { (d, n) =>
      d.withColumn(s"_s$n",
        K.gram_clip_stats(K.token_ngram_counts(col("_ct"), n),
          K.token_ngram_counts(col("_rt"), n)))
    }
    val cLen = col("_s1.t")
    val rLen = col("_s1.tr")
    val logTerms = (1 to maxN).map { n =>
      if (n == 1)
        round(log(col("_s1.m").cast("double") / col("_s1.t")), 6)
      else
        round(log((col(s"_s$n.m") + lit(1L)).cast("double") /
          (col(s"_s$n.t") + lit(1L))), 6)
    }
    val meanLog = logTerms.reduce(_ + _) / maxN
    val bpExp = least(lit(0.0), lit(1.0) - rLen.cast("double") / cLen)
    withStats
      .where(rLen > 0)
      .select(col(idCol), cLen.cast("long").as("c_len"),
        rLen.cast("long").as("r_len"),
        when(cLen === 0L, lit(null).cast("double"))
          .when(col("_s1.m") === 0L, lit(0.0))
          .otherwise(round(exp(meanLog + bpExp), 4)).as("bleu_s"))
  }

  /** Per-pair ROUGE-N — clipped n-gram recall against the reference
    * (Lin 2004; ROUGE-1/ROUGE-2 are the reported summarization
    * numbers), with the precision and F1 sides for free: per pair,
    * matches = Σ_gram min(c_cand, c_ref), R = matches/ref-grams,
    * P = matches/cand-grams, F = 2PR/(P+R). The [[bleuScore]] clip
    * kernels at a single level with per-PAIR outputs instead of corpus
    * totals — a pure scan stage, ZERO shuffle, stateless-append
    * streamable (round 12; the explode + per-side count + full-join
    * plan is gone). Pairs where either side has no n-grams emit no row
    * (the [[rougeL]] convention); F is 0.0 at zero matches. P/R round
    * 6, F from the unrounded ratios in one expression shape (oracle
    * bit-parity). `idCol` must be unique within `pairs` (the
    * [[bleuScore]] clipping contract — each row clips independently,
    * so duplicate ids emit one output row PER duplicate, ambiguous to
    * any per-id consumer).
    * Returns (id, matches, c_grams, r_grams, rouge_p, rouge_r,
    * rouge_f).
    */
  def rougeN(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String, n: Int = 2): DataFrame = {
    require(n >= 1 && n <= 8, s"rougeN: bad n $n")
    val K = graft.functions.ArrayKernels
    val base = pairs.select(col(idCol).as(idCol),
      K.gram_clip_stats(K.token_ngram_counts(toks(col(candCol)), n),
        K.token_ngram_counts(toks(col(refCol)), n)).as("_s"))
      .where(col("_s.t") > 0 && col("_s.tr") > 0)
    val p = col("matches") / col("c_grams")
    val r = col("matches") / col("r_grams")
    base.select(col(idCol), col("_s.m").as("matches"),
        col("_s.t").as("c_grams"), col("_s.tr").as("r_grams"))
      .select(col(idCol), col("matches"), col("c_grams"), col("r_grams"),
        round(p, 6).as("rouge_p"), round(r, 6).as("rouge_r"),
        when(col("matches") > 0, round(lit(2.0) * p * r / (p + r), 6))
          .otherwise(lit(0.0)).as("rouge_f"))
  }

  /** SQuAD-style extractive-QA eval — corpus exact-match and token-F1
    * over (gold, prediction) pairs, the scorecard every reading-
    * comprehension benchmark quotes. Token-F1 IS [[rougeN]] at n = 1
    * (matches = Σ min token counts, F = 2PR/(P+R) — the same clipped
    * unigram overlap), so the per-pair scores ride the one clip-kernel
    * definition and cannot drift from the ROUGE family; exact match
    * compares the shared tokenizer's normal forms (lowercased token
    * sequences — the library-wide normalization, close kin to SQuAD's
    * lower+strip). Pairs where either side tokenizes empty are not
    * scoreable and leave the denominator (the rougeN convention).
    * Two scans of the pair fixture (kernel pass + EM pass joined on
    * id) — eval sets are benchmark-sized by contract. Returns one row
    * (n_pairs, exact_match, token_f1), averages rounded 4.
    */
  def qaEval(pairs: DataFrame, idCol: String, goldCol: String,
      predCol: String): DataFrame = {
    val per = rougeN(pairs, idCol, refCol = goldCol, candCol = predCol,
      n = 1).select(col(idCol), col("rouge_f"))
    val em = pairs.select(col(idCol),
      (toks(col(goldCol)) === toks(col(predCol))).cast("int").as("_em"))
    per.join(em, Seq(idCol))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("_em"), 4).as("exact_match"),
        round(avg("rouge_f"), 4).as("token_f1"))
  }

  /** The [[qaEval]] sufficient statistic as a standing ONE-ROW
    * dictionary (round-14 verdict #8 — the passDict merge shape):
    * per-pair EM and token-F1 are row-local (the rougeN n = 1 clip),
    * so the corpus scorecard is additive in (n, Σem, Σf1). The F1 sum
    * is kept as an EXACT integer on the 1e-6 grid (per-pair rouge_f is
    * already q6-rounded, so ×1e6 rounds to the exact integer) — merges
    * are then bit-exact regardless of batch split or summation order,
    * the passDict/voteDict contract.
    */
  def qaDict(pairs: DataFrame, idCol: String, goldCol: String,
      predCol: String): DataFrame = {
    val per = rougeN(pairs, idCol, refCol = goldCol, candCol = predCol,
      n = 1).select(col(idCol), col("rouge_f"))
    val em = pairs.select(col(idCol),
      (toks(col(goldCol)) === toks(col(predCol))).cast("long").as("_em"))
    per.join(em, Seq(idCol))
      .agg(count(lit(1)).as("n"),
        coalesce(sum("_em"), lit(0L)).as("em_sum"),
        coalesce(sum(round(col("rouge_f") * 1e6).cast("long")), lit(0L))
          .as("f1_q6_sum"))
  }

  /** Fold a new pair batch into a standing [[qaDict]]: the three
    * integer totals sum — exactly equals the dictionary of the
    * concatenated history (the passDictMerge contract).
    */
  def qaDictMerge(dict: DataFrame, newPairs: DataFrame, idCol: String,
      goldCol: String, predCol: String): DataFrame =
    dict.unionByName(qaDict(newPairs, idCol, goldCol, predCol))
      .agg(sum("n").as("n"), sum("em_sum").as("em_sum"),
        sum("f1_q6_sum").as("f1_q6_sum"))

  /** [[qaEval]]'s scorecard from a standing [[qaDict]] — pure function
    * of the three totals, so the board recomputes from one row on
    * demand, never rescanning pair history. NULL metrics at n = 0.
    */
  def qaEvalFromDict(dict: DataFrame): DataFrame =
    dict.select(col("n").as("n_pairs"),
      when(col("n") > 0,
        round(col("em_sum").cast("double") / col("n"), 4))
        .as("exact_match"),
      when(col("n") > 0,
        round(col("f1_q6_sum").cast("double") / 1e6 / col("n"), 4))
        .as("token_f1"))

  /** Streaming [[qaEval]] ingestion — each micro-batch of (gold, pred)
    * pairs [[qaDictMerge]]s into the standing one-row dictionary (the
    * passAtKServe read-write pattern); the scorecard recomputes from
    * the dictionary on demand, not per batch.
    */
  def qaEvalServe(pairStream: DataFrame, idCol: String, goldCol: String,
      predCol: String)(
      state: () => DataFrame, save: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        save(qaDictMerge(state(), batch, idCol, goldCol, predCol))
    }

  /** Per-pair ROUGE-L — the recall-oriented reference-overlap eval
    * beside [[bleuScore]]'s precision view (summarization/generation
    * pipelines report both): longest-common-SUBSEQUENCE precision
    * lcs/|cand|, recall lcs/|ref|, and their harmonic mean F. The LCS
    * runs in the codegen'd
    * [[graft.functions.ArrayKernels.token_lcs_len]] kernel — a pure
    * scan stage, zero shuffle, O(|ref|·|cand|) compiled DP per pair;
    * stateless-append streamable. Pairs where either side has no
    * tokens emit no row (the bigram drop-out convention); F is 0.0
    * when the LCS is empty (defined, not null — both sides had
    * content). P/R round 6; F computes from the UNROUNDED ratios with
    * one expression shape so the oracle is bit-identical.
    * Returns (id, lcs, c_len, r_len, rouge_p, rouge_r, rouge_f).
    */
  def rougeL(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String): DataFrame = {
    val base = pairs.select(col(idCol).as(idCol),
      toks(col(refCol)).as("_rt"), toks(col(candCol)).as("_ct"))
      .where(size(col("_rt")) > 0 && size(col("_ct")) > 0)
    val p = col("lcs") / col("c_len")
    val r = col("lcs") / col("r_len")
    base.select(col(idCol),
        graft.functions.ArrayKernels.token_lcs_len(col("_ct"), col("_rt"))
          .cast("long").as("lcs"),
        size(col("_ct")).cast("long").as("c_len"),
        size(col("_rt")).cast("long").as("r_len"))
      .select(col(idCol), col("lcs"), col("c_len"), col("r_len"),
        round(p, 6).as("rouge_p"), round(r, 6).as("rouge_r"),
        when(col("lcs") > 0,
          round(lit(2.0) * p * r / (p + r), 6))
          .otherwise(lit(0.0)).as("rouge_f"))
  }

  /** Per-pair TER (translation edit rate, shift-free) — the edit-cost
    * view that completes the MT battery beside [[bleuScore]]
    * (precision), [[chrF]] (char F), and [[rougeL]]/[[rougeN]]
    * (recall): ter = word-level edit distance / reference length.
    * DOCUMENTED DIVERGENCE from full TER (Snover 2006): the block-SHIFT
    * move is omitted — this is the unit-cost Levenshtein normalization
    * (an upper bound on full TER; equal whenever no reordering helps),
    * the variant most eval harnesses label "TER (no shifts)" / WER.
    * The distance runs in the codegen'd
    * [[graft.functions.ArrayKernels.TokenEditDist]] kernel — pure scan
    * stage, zero shuffle, O(|ref|·|cand|) compiled two-row DP per
    * pair; stateless-append streamable (the [[rougeL]] shape). Pairs
    * with an empty reference emit no row (TER undefined — nothing to
    * edit toward); an empty candidate against a nonempty reference is
    * r_len straight insertions, ter = 1. ter rounds 6; can exceed 1
    * (candidate longer/noisier than the reference). `idCol` must be
    * unique within `pairs` (the [[bleuScore]] contract).
    * Returns (id, edits, c_len, r_len, ter).
    */
  def ter(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String): DataFrame = {
    val base = pairs.select(col(idCol).as(idCol),
      toks(col(refCol)).as("_rt"), toks(col(candCol)).as("_ct"))
      .where(size(col("_rt")) > 0)
    base.select(col(idCol),
        graft.functions.ArrayKernels.token_edit_dist(col("_ct"), col("_rt"))
          .cast("long").as("edits"),
        size(col("_ct")).cast("long").as("c_len"),
        size(col("_rt")).cast("long").as("r_len"))
      .select(col(idCol), col("edits"), col("c_len"), col("r_len"),
        round(col("edits") / col("r_len"), 6).as("ter"))
  }

  /** Greedy-shift TER (Snover et al. 2006) — [[ter]]'s shift-free form
    * plus the block-shift loop the original metric defines, on the
    * [[graft.functions.ArrayKernels.TerShiftStats]] kernel: shifts cost
    * 1 each and TER = (shifts + edits) / ref_len. RELATIONSHIP to
    * [[ter]] (the documented r12 divergence, now closed): shift-free
    * TER ≡ WER is an upper bound — the kernel only takes a shift when
    * it reduces the edit distance by MORE than the shift's own cost,
    * so ter_shift ≤ ter row-wise (spec-asserted). Same zero-shuffle
    * scan-stage shape as [[ter]]; the greedy loop is
    * O(L²·maxShiftLen·matches) per improving step, so inputs are
    * sentence-shaped BY CONTRACT — segment or truncate long documents
    * first; the q_ter_shift fixture slices to 32 tokens, since the
    * greedy loop is cubic-ish in the slice and 32 covers the p95 MT
    * sentence. Not
    * oracle-able: the loop is an iterative argmin over hypothesis
    * permutations, outside relational replay — PropertySpec pins it to
    * a sequential reference instead (the q_bpe_learn class).
    */
  def terShift(pairs: DataFrame, idCol: String, refCol: String,
      candCol: String, maxShiftLen: Int = 10): DataFrame = {
    val base = pairs.select(col(idCol).as(idCol),
      toks(col(refCol)).as("_rt"), toks(col(candCol)).as("_ct"))
      .where(size(col("_rt")) > 0)
    base.select(col(idCol),
        graft.functions.ArrayKernels.ter_shift_stats(col("_ct"), col("_rt"),
          maxShiftLen).as("_s"),
        size(col("_ct")).cast("long").as("c_len"),
        size(col("_rt")).cast("long").as("r_len"))
      .select(col(idCol), col("_s.shifts").as("shifts"),
        col("_s.edits").as("edits"), col("c_len"), col("r_len"),
        round((col("_s.shifts") + col("_s.edits")) / col("r_len"), 6)
          .as("ter_shift"))
  }

  /** Zipf rank-frequency fit — the corpus-health scalar ("is this
    * natural language or generator output?"): least-squares slope of
    * ln(freq) on ln(rank) over the top-`topN` words. Natural text sits
    * near −1; templated/generated corpora flatten or step. One row:
    * (n_words = fitted count, slope, intercept), rounded 4.
    *
    * Scale shape: the word dictionary aggregates map-side, the top-N
    * head is a TakeOrdered (freq DESC, word — deterministic at the
    * cutoff), and the regression runs over N ≤ topN rows. Rank comes
    * from an explicit one-partition sort + monotonic id on that bounded
    * head, NOT a window: a partitionBy(lit) spelling gets its foldable
    * key constant-folded away by Catalyst, resurrecting the
    * single-partition WindowExec warning this avoids (observed in the
    * round-9 verify log — the q_shard_manifest lesson, round two).
    */
  def zipfFit(docs: DataFrame, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"zipfFit: topN must be >= 2, got $topN")
    val counts = Par.fanOutKernel(docs).select(explode(toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("word")).limit(topN)
    counts.coalesce(1).sortWithinPartitions(col("c").desc, col("word"))
      .withColumn("rank", monotonically_increasing_id() + 1)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
      .agg(count(lit(1)).as("n_words"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("n_words"),
        round((col("sxy") - col("sx") * col("sy") / col("n_words")) /
          (col("sxx") - col("sx") * col("sx") / col("n_words")), 4)
          .as("slope"),
        round(col("sy") / col("n_words") -
          ((col("sxy") - col("sx") * col("sy") / col("n_words")) /
            (col("sxx") - col("sx") * col("sx") / col("n_words"))) *
            col("sx") / col("n_words"), 4).as("intercept"))
  }

  /** Distinct-n diversity per source (Li et al. 2016's distinct-1/2) —
    * the repetitiveness audit for generated or scraped corpora: a
    * collapsing source (templated spam, mode-collapsed synthetic data)
    * shows a distinct-n ratio near 0 while healthy text stays high.
    * distinct_n = |distinct n-grams| / Σ n-grams within the source.
    * One (source, gram) shuffle per n with map-side combine — the gram
    * dictionary is Heaps'-law sized, never the token stream; counts
    * exact, ratios rounded 4.
    */
  def ngramDiversity(docs: DataFrame, ns: Seq[Int] = Seq(1, 2)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ngramDiversity: bad ns $ns")
    // _t materialized before the lambdas — the pmiCollocations /
    // spanDedup per-element re-tokenization trap
    val t = col("_t")
    val toked = Par.fanOutKernel(docs).select(col("source"), toks(col("text")).as("_t"))
    ns.map { n =>
      val grams =
        if (n == 1) t
        else filter(
          transform(t, (_, i) =>
            when(i + n <= size(t),
              array_join(slice(t, i + lit(1), lit(n)), " "))),
          g => g.isNotNull)
      toked.select(col("source"), explode(grams).as("gram"))
        .groupBy("source", "gram").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(lit(n).as("n"), count(lit(1)).as("distinct_grams"),
          sum("c").as("total_grams"))
        .select(col("source"), col("n"), col("distinct_grams"),
          col("total_grams"),
          round(col("distinct_grams").cast("double") / col("total_grams"), 4)
            .as("distinct_ratio"))
    }.reduce(_.unionByName(_))
  }

  // -------------------------------------------------------------------
  // Gopher repetition battery

  /** Gopher top-n-gram char-fraction thresholds as exact rationals
    * (n → (p, q) meaning frac ≤ p/q): 2→0.20, 3→0.18, 4→0.16
    * (Rae et al. 2021, table A1).
    */
  private[graft] val GOPHER_TOP: Seq[(Int, (Int, Int))] =
    Seq(2 -> (1, 5), 3 -> (9, 50), 4 -> (4, 25))

  /** Gopher duplicate-n-gram char-fraction thresholds: 5→0.15, 6→0.14,
    * 7→0.13, 8→0.12, 9→0.11, 10→0.10.
    */
  private[graft] val GOPHER_DUP: Seq[(Int, (Int, Int))] =
    Seq(5 -> (3, 20), 6 -> (7, 50), 7 -> (13, 100), 8 -> (3, 25),
      9 -> (11, 100), 10 -> (1, 10))

  /** Run-length encoding of a SORTED string array as
    * ARRAY<STRUCT<c:int, len:int>> — one struct per distinct value with
    * its occurrence count and char length minus `sepAdj` (the n-gram
    * space separators, so `len` is pure token char mass). O(m) over the
    * sorted input: run starts are the positions whose value differs from
    * their predecessor, run length is the gap to the next start.
    *
    * `s` MUST be a materialized column (not an inline sort_array chain):
    * the lambdas probe it with element_at per position, and an inline
    * expression would re-sort per element (the pmiCollocations
    * re-tokenization trap).
    */
  private def sortedRuns(s: Column, sepAdj: Int): Column = {
    val m = size(s)
    // the greatest() keeps the probe index valid at i=1 without relying
    // on Or short-circuiting under ANSI (s[1] vs s[1] is a no-op there —
    // the first disjunct already marks position 1 a run start)
    val starts = filter(sequence(lit(1), m), i =>
      (i === 1) || (element_at(s, i) =!=
        element_at(s, greatest(i - 1, lit(1)))))
    val ends = concat(
      slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
      array(m + 1))
    when(m >= 1, zip_with(starts, ends, (a, b) => struct(
        (b - a).as("c"),
        (length(element_at(s, a)) - lit(sepAdj)).as("len"))))
      .otherwise(array().cast("array<struct<c:int,len:int>>"))
  }

  /** The COMPLETE Gopher/MassiveText gate: the structural rules
    * ([[gopherRules]]) AND the repetition battery ([[gopherRepetition]])
    * joined per document — pass_struct, pass_rep, and their
    * conjunction, the published Rae et al. table-A1 filter in one
    * artifact. Each half is individually oracled; the join key is the
    * only shuffle (two scan stages meeting on doc_id).
    */
  def gopherGate(docs: DataFrame): DataFrame =
    gopherRules(docs).select(col("doc_id"), col("pass").as("pass_struct"))
      .join(gopherRepetition(docs)
        .select(col("doc_id"), col("pass").as("pass_rep")), Seq("doc_id"))
      .withColumn("pass",
        (col("pass_struct") * col("pass_rep")).cast("int"))

  /** The REPETITION half of the Gopher/MassiveText quality gate
    * ([[gopherRules]] is the structural half; [[repetitionScores]] keeps
    * its two count-fraction signals): per document, the char-mass
    * fractions the paper's table A1 thresholds apply to —
    *
    *  - `dup_line_frac` / `dup_para_frac`: lines (split `\r?\n`) and
    *    paragraphs (split on blank-line runs), trimmed, non-empty,
    *    beyond-first occurrences over the total (≤ 0.30);
    *  - `dup_line_char_frac` / `dup_para_char_frac`: char mass of those
    *    beyond-first occurrences over total line/para char mass (≤ 0.20);
    *  - `top_{2,3,4}gram_char_frac`: chars in ALL occurrences of the
    *    most frequent n-gram over total token char mass (count ties
    *    resolved to the longest gram — deterministic in both engines;
    *    per-occurrence counting, so degenerate single-token runs can
    *    read above 1.0 — the published reimplementations' reading);
    *  - `dup_{5..10}gram_char_frac`: char mass of the UNION of token
    *    positions covered by any occurrence of a duplicated n-gram,
    *    over total token char mass — each char counted once (the
    *    paper's reading; always ≤ 1).
    *
    * Char mass is token chars only (gram separators subtracted), so the
    * fractions are layout-independent. Every numerator and denominator
    * is an exact integer; the emitted fractions round to 4 decimals and
    * every `r_*` flag cross-multiplies the integers against the exact
    * rational threshold — no float boundary anywhere. Documents with no
    * tokens/lines score 0.0 and pass vacuously (the structural
    * [[gopherRules]] word-count rule is the one that rejects them).
    *
    * Scale shape: pure scan stage, zero shuffle, stateless-append
    * streamable; the entire integer battery is ONE compiled
    * GopherRepStats kernel pass per row (HashMap gram counts +
    * coverage marking, O(L·n) per level), replacing the former
    * interpreted sort/run-length/array_contains HOF pipeline.
    */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    val emptyS = array().cast("array<string>")
    def trimmedParts(re: String): Column =
      filter(transform(coalesce(split(col("text"), re), emptyS),
        p => trim(p)), p => length(p) > 0)
    // round 12: the whole integer battery comes off ONE codegen kernel
    // pass (GopherRepStats) — the former 15-stage interpreted HOF
    // pipeline (9 per-doc sorts, array_contains probes, O(L·n)
    // coverage lambdas) is gone; the fraction/flag algebra below is
    // unchanged and reads the kernel's struct fields.
    // round 17b: kernel fan — the structural half (gopherRules) fanned in
    // r16 but this half was missed; q_gopher_rep ran its whole
    // HashMap-gram kernel as ONE 1.57 s task on the unsplit local scan
    // (job profile: 1567ms/1t of a 1.78 s query). Per-row output, so
    // row placement is free to change.
    val a = Par.fanOutKernel(docs).select(col("doc_id"),
      graft.functions.ArrayKernels.gopher_rep_stats(
        coalesce(toks(col("text")), emptyS),
        trimmedParts("\\r?\\n"),
        trimmedParts("(\\r?\\n){2,}")).as("_s"))
    def frac(x: Column, d: Column): Column =
      round(x.cast("double") / greatest(d, lit(1L)).cast("double"), 4)
    def flagLe(p: Int, q: Int, x: Column, d: Column): Column =
      (lit(q) * x <= lit(p) * d).cast("int")
    val dtok = col("_s.d")
    val dupl = col("_s.nl") - col("_s.dl")
    val dupp = col("_s.np") - col("_s.dp")
    val flagDefs: Seq[(String, Column)] =
      Seq("r_dup_line" -> flagLe(3, 10, dupl, col("_s.nl")),
        "r_dup_line_char" -> flagLe(1, 5, col("_s.dlch"), col("_s.lch")),
        "r_dup_para" -> flagLe(3, 10, dupp, col("_s.np")),
        "r_dup_para_char" -> flagLe(1, 5, col("_s.dpch"), col("_s.pch"))) ++
      GOPHER_TOP.map { case (n, (p, q)) =>
        s"r_top_${n}gram" -> flagLe(p, q, col(s"_s.t$n"), dtok) } ++
      GOPHER_DUP.map { case (n, (p, q)) =>
        s"r_dup_${n}gram" -> flagLe(p, q, col(s"_s.d$n"), dtok) }
    a.select(Seq(col("doc_id"),
      frac(dupl, col("_s.nl")).as("dup_line_frac"),
      frac(col("_s.dlch"), col("_s.lch")).as("dup_line_char_frac"),
      frac(dupp, col("_s.np")).as("dup_para_frac"),
      frac(col("_s.dpch"), col("_s.pch")).as("dup_para_char_frac")) ++
      GOPHER_TOP.map { case (n, _) =>
        frac(col(s"_s.t$n"), dtok).as(s"top_${n}gram_char_frac") } ++
      GOPHER_DUP.map { case (n, _) =>
        frac(col(s"_s.d$n"), dtok).as(s"dup_${n}gram_char_frac") } ++
      flagDefs.map { case (name, f) => f.as(name) }: _*)
      .withColumn("pass",
        flagDefs.map { case (name, _) => col(name) }.reduce(_ * _)
          .cast("int"))
  }

  /** SPDX tag pattern for [[licenseScan]] — Java∩RE2 subset (no
    * lookaround), group 1 = the license id.
    */
  private[graft] val SPDX_RE =
    "SPDX-License-Identifier:[ \\t]*([A-Za-z0-9.+\\-]+)"

  /** (detection regex → normalized label) for license NAME matches —
    * ordered, first-match-wins is NOT applied: every matching family
    * reports (a file can be dual-licensed). Patterns stay in the shared
    * Java∩RE2 subset so the oracle replays them verbatim.
    */
  private[graft] val LICENSE_NAMES: Seq[(String, String)] = Seq(
    "Apache License,? Version 2\\.0" -> "Apache-2.0",
    "MIT License" -> "MIT",
    "GNU General Public License" -> "GPL",
    "Mozilla Public License" -> "MPL",
    "BSD 3-Clause" -> "BSD-3-Clause",
    "Creative Commons Attribution" -> "CC-BY")

  /** License detection over document text — the provenance gate a
    * code/web corpus runs before training (copyleft and attribution
    * obligations are decided per document, up front). Two detector
    * families, both reported: the SPDX machine tag (exact id, prefixed
    * `spdx:`) and the human-readable license-name patterns
    * ([[LICENSE_NAMES]], normalized labels). One output row per distinct
    * (doc, license); docs with no detection emit nothing.
    *
    * Scale shape: a per-row array of conditional labels, filtered and
    * exploded — pure scan stage, zero shuffle, stateless-append
    * streamable.
    */
  def licenseScan(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val spdx = when(t.rlike(SPDX_RE),
      concat(lit("spdx:"), regexp_extract(t, SPDX_RE, 1)))
    val names = LICENSE_NAMES.map { case (re, label) =>
      when(t.rlike(re), lit(label)) }
    docs.select(col(idCol),
        explode(array_distinct(filter(array(spdx +: names: _*),
          x => x.isNotNull))).as("license"))
  }

  /** Code-vs-prose signals — the router that sends a document down the
    * code pipeline (code wants different dedup, quality, and packing than
    * prose). Per document: line counts, the fraction of non-empty lines
    * that end like statements (`;`/`{`/`}`), start indented (two spaces
    * or a tab), or start like comments (slash-slash, `#`, slash-star), the
    * code-symbol character count, keyword hits, and an integer
    * cross-multiplied `is_code` flag (statement lines ≥ 30 % of non-empty
    * lines, OR ≥ 2 keywords with symbols ≥ 2.5 % of chars) — no float
    * thresholds to drift across engines.
    *
    * Scale shape: one scan-stage expression tree per row (the line array
    * is materialized once and each signal filters it — the per-element
    * re-evaluation trap avoided); zero shuffle, streams unchanged.
    */
  def codeSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val frac4 = (num: Column, den: Column) =>
      when(den > 0, round(num.cast("double") / den, 4)).otherwise(lit(0.0))
    docs.select(col(idCol), t.as("_t"), split(t, "\n").as("_lines"))
      .select(col(idCol), col("_t"),
        filter(col("_lines"), l => l =!= "").as("_ne"))
      .select(col(idCol),
        size(col("_ne")).as("_n"),
        size(filter(col("_ne"), l => l.rlike("[;{}]$"))).as("_stmt"),
        size(filter(col("_ne"), l => l.rlike("^(  |\\t)"))).as("_ind"),
        size(filter(col("_ne"), l => l.rlike("^[ \\t]*(//|#|/\\*)")))
          .as("_com"),
        (length(col("_t")) -
          length(regexp_replace(col("_t"), "[{}()\\[\\];=<>]", "")))
          .as("_sym"),
        length(col("_t")).as("_len"),
        size(regexp_extract_all(col("_t"),
          lit("\\b(function|return|import|void|def)\\b"), lit(0)))
          .as("kw_hits"))
      .select(col(idCol), col("_n").as("n_lines"),
        frac4(col("_stmt"), col("_n")).as("stmt_line_frac"),
        frac4(col("_ind"), col("_n")).as("indent_frac"),
        frac4(col("_com"), col("_n")).as("comment_frac"),
        frac4(col("_sym"), col("_len")).as("sym_frac"),
        col("kw_hits"),
        ((col("_n") > 0 && col("_stmt") * 10 >= col("_n") * 3) ||
          (col("kw_hits") >= 2 && col("_sym") * 40 >= col("_len")))
          .cast("int").as("is_code"))
  }
}
