package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data-pipeline operator that
  * removes (or flags) training documents sharing token n-grams with an
  * evaluation/benchmark set, so reported eval numbers aren't memorization.
  * Standard recipe: 13-gram overlap (GPT-3/PaLM-style); `n` is a parameter
  * because a tiny-vocabulary corpus (like the synthetic test data) needs a
  * smaller n to discriminate at all.
  *
  * 100 TB scale shape: the training side never shuffles its n-grams — the
  * explode is narrow and the join against the eval gram set is a broadcast
  * hash join in the scan stage, so only MATCHED (id, gram) rows ever reach
  * a shuffle (contamination is rare by construction). The `broadcast` hint
  * here is deliberate and correct, unlike a corpus-derived dictionary: an
  * eval benchmark is bounded-small by definition (thousands of documents,
  * MBs of grams), fixed up front, and does not grow with the corpus — the
  * exact case the hint exists for.
  */
object Decontam {

  /** Token n-grams of a token-array column as space-joined strings
    * (optionally deduped per document); empty array when the document has
    * fewer than `n` tokens. A codegen kernel
    * ([[graft.functions.ArrayKernels.TokenNgrams]]): the composed HOF form
    * (`transform(sequence, i -> array_join(slice))`) evaluates interpreted
    * and re-slices the array per gram — measured 4.4 s of the original
    * 6.2 s q_decontam bench time before the kernel.
    */
  def ngrams(toks: Column, n: Int, distinct: Boolean = false): Column =
    graft.functions.ArrayKernels.token_ngrams(toks, n, distinct)

  /** Distinct n-grams of the eval set — the broadcast side. Distinct
    * before the broadcast so repeated benchmark phrasing doesn't inflate
    * the build side or double-count matches.
    */
  private def evalGrams(evalSet: DataFrame, textCol: String, n: Int): DataFrame =
    evalSet
      .select(explode(ngrams(Core.tokensUni(col(textCol)), n)).as("g"))
      .distinct()

  /** The shared match core: (idCol, g) rows of `train` whose gram hits the
    * eval set — distinct grams per document (INSIDE the kernel, before
    * exploding, so (id, gram) is unique and downstream aggregates are
    * plain counts/distincts, never count_distinct over per-key hash sets;
    * the dense tiny-vocab bench corpus made the count_distinct form
    * pathological), inner-joined against the broadcast eval grams. Both
    * public operators derive from this one definition so their verdicts
    * cannot drift.
    */
  private def matchedGrams(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    train
      .select(col(idCol),
        explode(ngrams(Core.tokensUni(col(textCol)), n, distinct = true)).as("g"))
      .join(broadcast(evalGrams(evalSet, textCol, n)), "g")

  /** Per-training-document contamination counts: for every row of `train`,
    * the number of DISTINCT token n-grams it shares with `evalSet`, plus an
    * int 0/1 flag. Returns one row per training document (zero-overlap
    * documents included with n_contam = 0).
    */
  def contaminationCounts(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val matched = matchedGrams(train, evalSet, idCol, textCol, n)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contam"))
    train.select(col(idCol))
      .join(matched, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        (coalesce(col("n_contam"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  /** Graded contamination: [[contaminationCounts]] normalized by each
    * document's own distinct-gram count — 40 shared grams mean total
    * memorization for a 50-gram doc and background noise for a 50k-gram
    * one, so threshold policies (drop above x%, downweight in between)
    * need the fraction, not the raw count. Returns (id, n_grams,
    * n_contam, contam_frac) for every training row; zero-gram documents
    * (shorter than n tokens) get fraction 0. Same two-scan shape as
    * [[contaminationCounts]] (the gram-size pass is scan-stage narrow;
    * only matched (id, gram) rows and the id-keyed counts shuffle).
    */
  def contaminationFraction(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val matched = matchedGrams(train, evalSet, idCol, textCol, n)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_contam"))
    train
      // greatest(·, 0): size() of a NULL array (null-text row) is -1
      // under Spark's legacy sizeOfNull — the gram count must read 0
      // there, matching the oracle's coalesce and the non-negative
      // contract downstream policies assume
      .select(col(idCol),
        greatest(size(ngrams(Core.tokensUni(col(textCol)), n, distinct = true)),
          lit(0)).cast("long").as("n_grams"))
      .join(matched, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"),
        round(when(col("n_grams") > 0,
            coalesce(col("n_contam"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(0.0), 4).as("contam_frac"))
  }

  /** Per-row contamination predicate against a FIXED eval gram list — the
    * streaming form. The batch anti-join is self-referential (the
    * contaminated-id set derives from the same frame), which append-mode
    * streams can't express; a per-row `arrays_overlap` against the gram
    * list can run on any stream (or batch frame) as a stateless
    * scan-stage expression. The caller collects the grams once from the
    * benchmark table (`evalGrams(...).as[String].collect()` — bounded by
    * the same argument that justifies the broadcast); Spark ships the
    * literal array with the plan exactly like a broadcast value.
    */
  def contaminatedFlag(textCol: Column, grams: Seq[String], n: Int): Column =
    arrays_overlap(
      ngrams(Core.tokensUni(textCol), n, distinct = true),
      lit(grams.toArray))

  /** Eval-side gram list for [[contaminatedFlag]], driver-collected. */
  def collectEvalGrams(evalSet: DataFrame, textCol: String, n: Int): Seq[String] = {
    import evalSet.sparkSession.implicits._
    evalGrams(evalSet, textCol, n).as[String].collect().toSeq
  }

  /** Span-level SCRUB: instead of dropping a contaminated document wholesale
    * ([[decontaminate]]) or just flagging it ([[contaminationCounts]]),
    * remove exactly the token spans that overlap the eval set and keep the
    * rest of the document — the right policy when a long, otherwise-good
    * document quotes one benchmark item. Every token covered by ANY
    * matching n-gram occurrence is removed; the survivors are re-joined in
    * original order. Returns one row per training document: (idCol, n_hits
    * = matched gram START positions, n_removed = tokens removed, textCol).
    * Uncontaminated documents pass through with their ORIGINAL text
    * untouched (no tokenize→re-join normalization) — at 100 TB the common
    * case does zero string work in this stage.
    *
    * Scale shape: same as [[contaminationCounts]] — the position explode is
    * scan-stage narrow against the broadcast eval grams, so only MATCHED
    * (id, pos) rows shuffle into the per-doc start-list aggregate; the
    * keep-list join back to `train` is id-keyed with a by-construction
    * tiny right side (contaminated docs only), and reconstruction happens
    * in the scan stage of that join (the [[graft.ops.Dedup.spanDedup]]
    * re-tokenize-in-place trade: recomputing the tokenizer beats shuffling
    * corpus text).
    */
  def scrubContamination(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    // matched gram START positions per doc: posexplode of the NON-distinct
    // gram array (index = token start offset), inner-joined against the
    // distinct broadcast eval grams — (id, pos) rows are unique because the
    // eval side is distinct on g
    val hitStarts = train
      .select(col(idCol),
        posexplode(ngrams(Core.tokensUni(col(textCol)), n)).as(Seq("pos", "g")))
      .join(broadcast(evalGrams(evalSet, textCol, n)), "g")
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("pos"))).as("_starts"),
        count(lit(1)).as("_nhits"))
    scrubReconstruct(
      train.join(hitStarts, Seq(idCol), "left")
        .withColumn("_t",
          coalesce(Core.tokensUni(col(textCol)), array().cast("array<string>"))),
      idCol, textCol, n)
  }

  /** The ONE span-removal reconstruction both scrub operators share (the
    * matchedGrams one-definition principle — two copies of the keep-list
    * algebra WOULD drift). Expects `_t` (token array), `_starts` (matched
    * start positions; NULL or empty on clean rows), `_nhits` (match count;
    * NULL ⇒ 0). The keep list is computed ONCE into its own projection —
    * it is an interpreted HOF filter+exists referenced by both n_removed
    * and the rebuilt text, and inlining it would run the O(tokens ×
    * starts) scan twice per contaminated row. On contaminated rows the
    * gram match guarantees size(_t) >= n >= 1, so sequence() is ascending.
    */
  private def scrubReconstruct(df: DataFrame, idCol: String,
      textCol: String, n: Int): DataFrame = {
    val t = col("_t")
    val contaminated =
      col("_starts").isNotNull && size(col("_starts")) > 0
    df
      .withColumn("_keep",
        when(contaminated, filter(sequence(lit(0), size(t) - 1),
          i => !exists(col("_starts"), s => i >= s && i < s + n))))
      .select(col(idCol),
        coalesce(col("_nhits"), lit(0L)).as("n_hits"),
        when(col("_keep").isNull, lit(0L))
          .otherwise((size(t) - size(col("_keep"))).cast("long"))
          .as("n_removed"),
        when(col("_keep").isNull, col(textCol))
          .otherwise(array_join(
            transform(col("_keep"), i => element_at(t, i + 1)), " "))
          .as(textCol))
  }

  /** The STREAMING form of [[scrubContamination]]: per-row span scrub
    * against a FIXED eval gram list (the [[contaminatedFlag]] convention —
    * the batch operator's aggregate+join is stateless-inexpressible on an
    * append stream, a literal gram array runs anywhere). Same output
    * contract: (idCol, n_hits, n_removed, textCol), untouched documents
    * keep their original text; parity with the batch operator is
    * spec-asserted on a replayed stream.
    *
    * Every multiply-referenced intermediate (tokens, gram array, matched
    * starts) is its own projection, not an inline expression — interpreted
    * HOF bodies re-evaluate per element, so an inline starts-filter inside
    * the per-token exists() would re-scan the gram list once per token
    * (the spanDedup / winnowing recompute lesson). The kernel-backed
    * [[contaminatedFlag]]-style overlap short-circuit is implicit: clean
    * rows have an empty starts array and skip straight to the original
    * text.
    */
  def scrubWithGrams(df: DataFrame, grams: Seq[String], n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val litGrams = lit(grams.toArray)
    val t = col("_t")
    val g = col("_g")
    scrubReconstruct(
      df
        .withColumn("_t",
          coalesce(Core.tokensUni(col(textCol)), array().cast("array<string>")))
        .withColumn("_g", ngrams(t, n))
        // matched gram START positions: index i of the (ordered) gram array
        // is the token start offset — same geometry as the batch operator.
        // Zero-gram guard: sequence(0, -1) would be DESCENDING, not empty
        .withColumn("_starts",
          when(size(g) > 0,
            filter(sequence(lit(0), size(g) - 1),
              i => array_contains(litGrams, element_at(g, i + 1))))
            .otherwise(array().cast("array<int>")))
        .withColumn("_nhits", size(col("_starts")).cast("long")),
      idCol, textCol, n)
  }

  /** The filtering form: training rows with NO n-gram overlap with the eval
    * set, all columns preserved. Contaminated ids are collected as an
    * id-only anti-join side (matched grams only — tiny), never the text.
    */
  def decontaminate(train: DataFrame, evalSet: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val contaminatedIds = matchedGrams(train, evalSet, idCol, textCol, n)
      .select(col(idCol))
      .distinct()
    train.join(contaminatedIds, Seq(idCol), "left_anti")
  }

  /** SEMANTIC decontamination — the paraphrase-robust complement of the
    * n-gram family above: a training document is flagged when its
    * feature-hashed vector ([[TextAnalysis.hashEmbed]]) has rounded cosine
    * >= `minCos` to ANY eval document, so a benchmark item that was
    * reworded (token overlap ~0, the exact blind spot of 13-gram matching)
    * still surfaces. Candidate pairs come from shared argmax blocks
    * ([[Similarity.argmaxBlocked]] — the q_semdedup_text blocking), so the
    * corpus side never materializes an eval cross product: the block
    * match + rescoring run against the BROADCAST eval assignment in the
    * corpus scan stage ([[Similarity.contaminationFlagsBlocked]] documents
    * why that hint is legitimate here). Every stage is deterministic —
    * the whole chain is DuckDB-oracle-able (q_sem_decontam).
    *
    * Returns (vec_id, block, max_probe_cos, is_contam) for every
    * non-zero-norm training document ([[Similarity]] unitVecs convention).
    */
  def semanticContamination(train: DataFrame, evalSet: DataFrame,
      minCos: Double = 0.9, dim: Int = 64): DataFrame =
    // round 17b: NEITHER embed is fanned (measured +0.54 s on
    // q_sem_decontam with the kernel fans). The eval side is bounded by
    // contract (the increment-probe shape); the train side's fan wins in
    // semanticDedupText (block² rescoring downstream) but LOSES here —
    // contaminationFlagsBlocked's post-checkpoint work is probe-sized, so
    // a 32-partition checkpoint only adds per-job scheduling tax.
    Similarity.contaminationFlagsBlocked(
      Similarity.argmaxBlocked(
        TextAnalysis.hashEmbed(train, dim, kernelFan = false)),
      Similarity.argmaxBlocked(
        TextAnalysis.hashEmbed(evalSet, dim, kernelFan = false)),
      minCos)

  /** Streaming twin of [[semanticContamination]]: flag each micro-batch of
    * a document stream against a FIXED eval set (each row's verdict
    * depends only on the eval side, so per-batch apply ≡ the batch
    * decision row-for-row — no cross-batch state at all, simpler than
    * even the dedup serve twins). The eval assignment is computed once
    * per batch from the (bounded) eval frame; pre-compute it with
    * [[Similarity.argmaxBlocked]] + cache on the caller side if the
    * stream is hot.
    */
  def semanticContaminationServe(docStream: DataFrame, evalSet: DataFrame,
      minCos: Double = 0.9, dim: Int = 64)(sink: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docStream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        sink(semanticContamination(batch, evalSet, minCos, dim))
    }
}
