package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard. Designed for 100 TB: every variant reduces
  * documents to small fixed-size keys (16-byte md5, k×8-byte minhash,
  * 8-byte simhash) *before* any shuffle, so the expensive join/groupBy moves
  * hashes, never documents.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per normalized-content fingerprint.
    * groupBy on the 16-byte fingerprint — single shuffle of keys.
    */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-language unique/total counts — the summary form of exact dedup. */
  def exactDedupStats(docs: DataFrame): DataFrame =
    docs.select(col("lang"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .groupBy("lang")
      .agg(countDistinct("fp").as("n_unique"), count(lit(1)).as("n_docs"))

  /** Word k-shingles of a document as a deduplicated array column.
    * Documents with fewer than k tokens yield an EMPTY shingle set (same
    * convention as the DuckDB oracle's `range(len-k+1)` — keeping a
    * whole-text fallback here would silently diverge from the oracle on
    * short documents).
    */
  private def shingles(k: Int) = {
    val t = Core.tokensUni(col("text"))
    array_distinct(
      when(size(t) >= k,
        transform(sequence(lit(0), size(t) - k),
          i => array_join(slice(t, i + 1, lit(k)), " ")))
        .otherwise(array().cast("array<string>")))
  }

  /** MinHash signatures: k independent permutations approximated by
    * `(a_i * h + b_i) mod p` over 64-bit shingle hashes (xxhash64).
    * Deterministic seeds → reproducible across runs and cluster sizes.
    * Output: doc_id, sig ARRAY<BIGINT>(numHashes).
    */
  /** The MinHash signature as a reusable column expression over a text
    * column — shared by the batch pipeline and the streaming near-dup
    * twin ([[graft.streaming.StreamingOps.streamingNearDedup]]), so both
    * produce bit-identical signatures (fixed seeds).
    */
  def minhashSigExpr(text: Column, shingleK: Int = 3,
      numHashes: Int = 32): Column = {
    // p > 2^32 prime; coefficients < 2^30 keep a*h + b < 2^63 (no overflow)
    val p = 4294967311L
    val rnd = new scala.util.Random(42)
    val (as, bs) = (0 until numHashes).map { _ =>
      (rnd.nextInt(1 << 30).toLong + 1, rnd.nextInt(1 << 30).toLong)
    }.unzip
    // token hashes only — the kernel rolls length-k windows into shingle
    // hashes itself (no shingle strings, no array_distinct: a multiset min
    // equals the set min) and computes all lanes in one codegen'd pass
    graft.functions.ArrayKernels.minhash_sig(
      transform(Core.tokensUni(text), t => xxhash64(t)), shingleK,
      as.toArray, bs.toArray, p)
  }

  def minHashSignatures(docs: DataFrame, shingleK: Int = 3,
      numHashes: Int = 32): DataFrame =
    docs.select(col("doc_id"),
      minhashSigExpr(col("text"), shingleK, numHashes).as("sig"))

  /** Per-band bucket hashes of a minhash signature (the LSH join keys):
    * band b's rows joined into one 64-bit hash, seeded by b so identical
    * row-slices in different bands never collide. Public since round 15:
    * the q_minhash_lsh pin tool (tools/pin_sketch_r15.scala) reads the
    * banding off this exact expression, so the pinned band GROUPS can
    * never drift from the production join keys.
    */
  def bandHashes(sig: Column, numHashes: Int,
      bands: Int): Column = {
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      xxhash64(lit(b), array_join(slice(sig, b * rowsPerBand + 1, rowsPerBand)
        .cast("array<string>"), ","))
    }: _*)
  }

  /** MinHash + LSH candidate pairs: band the signature (bands × rowsPerBand),
    * bucket-join on (band index, band hash), estimate Jaccard from full
    * signatures. The join key is a 16-byte hash — at 100 TB this is the
    * standard near-dup pipeline (shingle → minhash → band → bucket join).
    */
  def minHashLshPairs(docs: DataFrame, shingleK: Int = 3, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.5,
      indexName: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0,
      s"minHashLshPairs: bands=$bands must divide numHashes=$numHashes")
    // materialize signatures once: they are tiny (k longs per doc) and both
    // sides of the bucket self-join need them — without this the whole
    // shingle→hash pipeline runs twice (and at 100 TB, twice over the corpus)
    // drop empty-shingle-set docs (all-MaxValue marker sigs): they carry no
    // similarity signal and would otherwise all collide into one bucket
    val rawSigs = minHashSignatures(docs, shingleK, numHashes)
      .where(element_at(col("sig"), 1) =!= Long.MaxValue)
    def explodeBands(sigs: DataFrame): DataFrame =
      sigs.select(col("doc_id"), col("sig"),
          posexplode(bandHashes(col("sig"), numHashes, bands)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // with indexName: persist the BANDED table bucketed on the join key —
    // the self-join below then co-locates from bucketing metadata alone
    // (no Exchange on either side; only the pair-dedup aggregation
    // shuffles). Storage is bands× the signature table — the standard
    // space-for-shuffle trade of a reusable LSH index. Without a name:
    // localCheckpoint the signatures for one-off/test corpora (the join
    // then shuffles, which is fine once).
    val banded = indexName match {
      case Some(n) => bandedIndex(docs, n, shingleK, numHashes, bands)
      case None => explodeBands(rawSigs.localCheckpoint())
    }
    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val r = banded.select(col("band"), col("bucket"), col("doc_id").as("b_id"), col("sig").as("b_sig"))
    l.join(r, Seq("band", "bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (graft.functions.ArrayKernels.array_eq_count(col("a_sig"), col("b_sig"))
          .cast("double") / numHashes).as("est_jaccard"))
      .groupBy("a_id", "b_id").agg(max("est_jaccard").as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Build (or load, if already persisted) the banded minhash index of a
    * corpus: (doc_id, sig, band, bucket) bucketed on the LSH join key.
    * This is the standing artifact both [[minHashLshPairs]] (self-join
    * dedup) and [[minHashLshAgainst]] (incremental dedup) probe; the
    * parameters are baked into the table name, so mismatched probes can't
    * silently read an incompatible index.
    */
  def bandedIndex(docs: DataFrame, name: String, shingleK: Int = 3,
      numHashes: Int = 32, bands: Int = 8, nBuckets: Int = 8): DataFrame = {
    require(numHashes % bands == 0,
      s"bandedIndex: bands=$bands must divide numHashes=$numHashes")
    IndexTables.bucketed(docs.sparkSession,
      s"${name}_h${numHashes}_k${shingleK}_b$bands", nBuckets,
      Seq("band", "bucket"), Seq("band", "bucket", "doc_id"))(
      minHashSignatures(docs, shingleK, numHashes)
        .where(element_at(col("sig"), 1) =!= Long.MaxValue)
        .select(col("doc_id"), col("sig"),
          posexplode(bandHashes(col("sig"), numHashes, bands)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"))
  }

  /** Near-dup candidates of `incoming` AGAINST a persisted snapshot band
    * index — incremental crawl dedup: the snapshot index (built once by
    * [[bandedIndex]] / [[minHashLshPairs]] with `indexName`, i.e. the
    * (doc_id, sig, band,
    * bucket) table bucketed on the join key) is probed by the increment's
    * bands, so each crawl pays only increment-sized work instead of
    * re-deduping the union corpus. `shingleK`/`numHashes`/`bands` MUST
    * match the index build — the deterministic seeds then make signatures
    * comparable across runs. Returns (new_id, snap_id, est_jaccard) pairs
    * at or above `threshold`.
    *
    * Scale shape: increment signatures are k longs per doc
    * (localCheckpoint'd once, like the self-join path); the join
    * hash-exchanges ONLY the increment side into the snapshot's
    * bucketing; snapshot text is never read — the index carries
    * signatures, not documents.
    */
  def minHashLshAgainst(incoming: DataFrame, snapshotBanded: DataFrame,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0,
      s"minHashLshAgainst: bands=$bands must divide numHashes=$numHashes")
    val incSigs = minHashSignatures(incoming, shingleK, numHashes)
      .where(element_at(col("sig"), 1) =!= Long.MaxValue)
      .localCheckpoint()
    val probes = incSigs
      .select(col("doc_id").as("new_id"), col("sig").as("new_sig"),
        posexplode(bandHashes(col("sig"), numHashes, bands)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    probes
      .join(snapshotBanded.select(col("band"), col("bucket"),
        col("doc_id").as("snap_id"), col("sig").as("snap_sig")),
        Seq("band", "bucket"))
      .select(col("new_id"), col("snap_id"),
        (graft.functions.ArrayKernels.array_eq_count(col("new_sig"), col("snap_sig"))
          .cast("double") / numHashes).as("est_jaccard"))
      .groupBy("new_id", "snap_id").agg(max("est_jaccard").as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** The decision form: `incoming` rows with NO near-dup in the snapshot
    * index (id-only anti-join on the flagged increment ids — increment
    * text never shuffles). Compose with [[graft.ops.BloomJoin.bloomAntiJoin]]
    * over content fingerprints for the exact-dup pass of the same
    * incremental pipeline.
    */
  def dedupAgainstSnapshot(incoming: DataFrame, snapshotBanded: DataFrame,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val dupIds = minHashLshAgainst(incoming, snapshotBanded, shingleK,
      numHashes, bands, threshold)
      .select(col("new_id").as("doc_id")).distinct()
    incoming.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    * algorithm): hash every token k-gram, slide a w-window over the hash
    * sequence, keep each window's minimum — guaranteeing any shared run
    * of ≥ w+k−1 tokens between two documents shares at least one selected
    * fingerprint, at ~1/w the storage of full k-gram sets. The robust
    * span-level dedup/contamination detector (fixed-stride span md5
    * misses shifted copies; winnowing is shift-invariant by
    * construction). Tie rule: window minimum by hash value (leftmost on
    * equal hashes — any consistent rule preserves the guarantee).
    *
    * Hashes are md5-prefix STRINGS, not xxhash64, precisely so the
    * selection is engine-reproducible (the DuckDB oracle replays it with
    * a relational window-min). Documents shorter than k tokens emit
    * nothing; with fewer than w k-grams, one window over all grams.
    *
    * Scale shape: the entire selection is array expressions in the scan
    * stage — gram hashes never leave their document row, ZERO shuffle;
    * only the selected (doc_id, fp) fingerprints (≈ grams/w rows) reach
    * downstream joins. Returns distinct (doc_id, fp).
    */
  /** The winnow algebra, ONE definition shared by the batch index
    * ([[winnowFingerprints]]) and the streaming flag
    * ([[winnowOverlapFlag]]) so the two can never drift on hash prefix,
    * tie rule, or gram form. Split into the gram-hash expression and the
    * selection-over-bound-hashes on purpose: `h` must be a BOUND value
    * (a projected column or a lambda variable) at every call site —
    * inlining the hash chain into an expression that references it
    * multiple times re-evaluates tokenize→ngram→md5 per reference (the
    * round-4/round-6 multi-reference trap; measured 12× on q_winnow_pairs
    * when this was briefly inlined).
    */
  private def winnowHashes(textCol: Column, k: Int): Column =
    transform(
      graft.functions.ArrayKernels.token_ngrams(
        Core.tokensUni(textCol), k, distinct = false),
      g => substring(md5(g), 1, 16))

  /** Distinct window-mins over an already-bound hash array column. */
  private def winnowSelect(h: Column, w: Int): Column =
    array_distinct(transform(
      sequence(lit(0), greatest(size(h) - w, lit(0))),
      s => array_min(slice(h, s + 1, lit(w)))))

  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && w >= 1, s"winnow: k=$k and w=$w must be >= 1")
    Par.fanOutKernel(docs)
      .select(col(idCol), winnowHashes(col(textCol), k).as("_h"))
      .where(size(col("_h")) > 0)
      .select(col(idCol), explode(winnowSelect(col("_h"), w)).as("fp"))
  }

  /** Cross-document span-match candidates from winnowing fingerprints:
    * pairs of documents sharing at least `minShared` selected
    * fingerprints — the MOSS match step, and the shift-invariant
    * complement of the fixed-stride [[spanDedup]]. Only the winnowed
    * (doc_id, fp) rows (≈ grams/w per doc) are joined; hot fingerprints
    * (boilerplate shared by thousands of documents) are capped at
    * `maxDocsPerFp` postings to keep the per-key self-join quadratic
    * blow-up bounded, the same guardrail as LSH bucket caps — capped
    * fingerprints still contribute their first `maxDocsPerFp` documents.
    */
  def winnowPairs(docs: DataFrame, k: Int = 3, w: Int = 4,
      minShared: Int = 2, maxDocsPerFp: Int = 64): DataFrame = {
    // posting lists per fingerprint instead of a fp-keyed self-join: the
    // winnow selection is computed ONCE, the capped groupBy reuses the
    // window's fp partitioning, and the ≤ cap² ordered pairs expand
    // in-row — one exchange fewer and no double scan (the self-join form
    // computed the fingerprints on both sides). The row_number cap runs
    // BEFORE collect_list so a hot fingerprint's aggregation buffer is
    // bounded at maxDocsPerFp ids (the window sort spills; an uncapped
    // million-doc collect_list buffer would not)
    val lists = winnowFingerprints(docs, k, w)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .where(col("rn") <= maxDocsPerFp)
      .groupBy("fp")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
    val pairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, lit(maxDocsPerFp)),
        b => struct(a.as("a_id"), b.as("b_id")))))
    lists
      .select(explode(pairs).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Standing winnow-fingerprint index: [[winnowFingerprints]] persisted
    * bucketed on `fp` — the MOSS analogue of [[bandedIndex]], and the
    * artifact [[winnowPairsAgainst]] probes for incremental span-match /
    * plagiarism / contamination checks against a growing reference
    * corpus. Parameters are baked into the table name so a mismatched
    * probe (different k or w selects different fingerprints) can't
    * silently read an incompatible index.
    */
  def winnowIndex(docs: DataFrame, name: String, k: Int = 3, w: Int = 4,
      nBuckets: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    IndexTables.bucketed(docs.sparkSession, s"${name}_winnow_k${k}_w$w",
      nBuckets, Seq("fp"), Seq("fp", idCol))(
      winnowFingerprints(docs, k, w, idCol, textCol))

  /** Incremental MOSS match: span-sharing pairs between an INCREMENT and
    * a persisted snapshot [[winnowIndex]] — (new_id, snap_id, n_shared)
    * for pairs sharing ≥ `minShared` selected fingerprints. Each crawl
    * pays increment-sized work: the increment's fingerprints are
    * selected in its scan stage (zero shuffle), hash-exchange into the
    * snapshot's fp bucketing, and join index rows that never exchange;
    * snapshot text is never read. The standing table is LOADED here by
    * `(indexName, k, w, nBuckets)` — the same name [[winnowIndex]]
    * bakes the parameters into — so probing with mismatched selection
    * parameters fails loudly (no such table) instead of silently
    * joining incompatible fingerprints into near-zero matches. A
    * re-crawled document probing an index that already contains its id
    * matches everything it ever said: such identity pairs are excluded
    * (the a_id < b_id guard of the batch form, restated for the
    * asymmetric shape). The snapshot's hot-fingerprint postings are
    * capped at `maxDocsPerFp` in snapshot doc-id order — the
    * [[winnowPairs]] boilerplate guardrail, applied to the side that can
    * be millions of documents deep on a nav-bar fingerprint.
    */
  def winnowPairsAgainst(incoming: DataFrame, indexName: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2, maxDocsPerFp: Int = 64,
      nBuckets: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val index = incoming.sparkSession
      .table(s"${indexName}_winnow_k${k}_w${w}_b$nBuckets")
    val inc = winnowFingerprints(incoming, k, w, idCol, textCol)
      .select(col(idCol).as("new_id"), col("fp"))
    // the row_number window partitions on fp — the index's bucketing
    // column — so the cap rides the standing table's layout
    val snap = index
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col(idCol))))
      .where(col("rn") <= maxDocsPerFp)
      .select(col("fp"), col(idCol).as("snap_id"))
    inc.join(snap, Seq("fp"))
      .where(col("new_id") =!= col("snap_id"))
      .groupBy("new_id", "snap_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Streaming span-contamination flag served from the STANDING
    * [[winnowIndex]] — the unbounded-reference twin of
    * [[winnowOverlapFlag]] (whose driver-collected fingerprint list is
    * benchmark-bounded by design): each arriving document's winnow
    * fingerprints are selected in its own row (pure array expressions —
    * stream-safe), LEFT SEMI stream-static joined against the index's
    * fp column (semi: a hot boilerplate fingerprint with a million
    * postings matches once, never fans out), and flagged documents
    * emit exactly once via watermark-bounded dedup. The reference
    * corpus can be any size — nothing about it ever reaches the
    * driver. Emits (idCol, tsCol) of flagged documents, append-mode.
    * Parameters load the index by name like [[winnowPairsAgainst]].
    */
  def winnowFlagAgainst(stream: DataFrame, indexName: String, k: Int = 3,
      w: Int = 4, nBuckets: Int = 8, delay: String = "10 seconds",
      idCol: String = "doc_id", textCol: String = "text",
      tsCol: String = "ts"): DataFrame = {
    val index = stream.sparkSession
      .table(s"${indexName}_winnow_k${k}_w${w}_b$nBuckets")
    stream.withWatermark(tsCol, delay)
      .select(col(idCol), col(tsCol), winnowHashes(col(textCol), k).as("_h"))
      .where(size(col("_h")) > 0)
      .select(col(idCol), col(tsCol),
        explode(winnowSelect(col("_h"), w)).as("fp"))
      .join(index.select("fp"), Seq("fp"), "left_semi")
      .dropDuplicatesWithinWatermark(idCol)
      .select(col(idCol), col(tsCol))
  }

  /** Multi-resolution MOSS match: [[winnowPairs]] at TWO gram sizes at
    * once, joined per pair — the match-LENGTH discrimination a single
    * gram size cannot give. Sharing a `kLong`-gram fingerprint means the
    * pair has a verbatim run of ≥ kLong tokens (mirror/plagiarism-grade
    * overlap → `match_class` 'long'); a pair with only `kShort`-gram
    * evidence shares phrases but no long run ('short'). The join is
    * full-outer so a long-run pair that falls below `minSharedShort`
    * still surfaces (the winnow guarantee only promises ONE shared
    * fingerprint per shared run). Cost is ONE corpus scan: both
    * resolutions' fingerprints are selected from one tokenization in the
    * scan stage, k-tagged, and share one capped postings pipeline and one
    * pair aggregation — the full-outer join of two independent passes is
    * replaced by a conditional zero-fill with identical output.
    */
  def winnowPairsMultiK(docs: DataFrame, kShort: Int = 3, kLong: Int = 8,
      w: Int = 4, minSharedShort: Int = 2, minSharedLong: Int = 1,
      maxDocsPerFp: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(kShort >= 1 && kLong > kShort,
      s"winnowPairsMultiK: need 1 <= kShort < kLong, got $kShort/$kLong")
    require(minSharedLong >= 1,
      s"winnowPairsMultiK: minSharedLong must be >= 1, got $minSharedLong")
    // ONE corpus scan for both resolutions (was: two composed
    // [[winnowPairs]] passes full-outer-joined — two parquet scans, two
    // tokenizations, two independent shuffle pipelines; r7→r8 flagged
    // this query as the one bench regression). Both fingerprint sets are
    // selected from the same tokenization in the scan stage, k-tagged,
    // and ride ONE (k, fp)-keyed cap/postings pipeline and ONE pair
    // aggregation. The conditional zero-fill below reproduces the old
    // full-outer semantics exactly: a side's count reads 0 unless it
    // cleared its own threshold (a pair with 1 short + 1 long shared fp
    // reports n_shared_short = 0, as the two-table join did).
    // BIND the hash arrays in their own projection before winnowSelect
    // touches them: winnowSelect's slice lambda references its hash
    // argument once per window position, and an INLINED winnowHashes
    // there re-runs the tokenize+ngram+md5 chain per position — the
    // exact 12× regression commit ef2ff1e fixed for winnowFingerprints
    // (and this rewrite briefly reintroduced: 31 s vs 2.4 s at sf0.1)
    val bound = Par.fanOutKernel(docs).select(col(idCol),
      winnowHashes(col(textCol), kShort).as("_hs"),
      winnowHashes(col(textCol), kLong).as("_hl"))
    // a doc shorter than k tokens has NO k-grams and its winnowSelect
    // emits [null] (array_min of an empty slice) — the size(_h) > 0
    // filter of winnowFingerprints, restated per resolution as a null
    // filter, since kShort may have grams where kLong doesn't
    val tagged = bound.select(col(idCol), explode(filter(concat(
        transform(winnowSelect(col("_hs"), w),
          f => struct(lit(kShort).as("k"), f.as("fp"))),
        transform(winnowSelect(col("_hl"), w),
          f => struct(lit(kLong).as("k"), f.as("fp")))),
        t => t.getField("fp").isNotNull)).as("t"))
      .select(col(idCol), col("t.k").as("k"), col("t.fp").as("fp"))
    val lists = tagged
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("k"), col("fp")).orderBy(col(idCol))))
      .where(col("rn") <= maxDocsPerFp)
      .groupBy("k", "fp")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
    val pairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + 2, lit(maxDocsPerFp)),
        b => struct(a.as("a_id"), b.as("b_id")))))
    val cnts = lists
      .select(col("k"), explode(pairs).as("p"))
      .groupBy(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .agg(sum(when(col("k") === kShort, 1L).otherwise(0L)).as("cs"),
        sum(when(col("k") === kLong, 1L).otherwise(0L)).as("cl"))
    cnts
      .where(col("cs") >= minSharedShort || col("cl") >= minSharedLong)
      .select(col("a_id"), col("b_id"),
        when(col("cs") >= minSharedShort, col("cs")).otherwise(lit(0L))
          .as("n_shared_short"),
        when(col("cl") >= minSharedLong, col("cl")).otherwise(lit(0L))
          .as("n_shared_long"),
        when(col("cl") >= minSharedLong, lit("long")).otherwise(lit("short"))
          .as("match_class"))
  }

  /** The ONE full-outer match-class combination [[winnowPairsMultiK]]
    * and [[winnowPairsAgainstMultiK]] share: short/long pair tables
    * joined per pair, zero-filled counts, 'long' iff the long-gram side
    * cleared its threshold.
    */
  private def multiKClassify(s: DataFrame, l: DataFrame, aCol: String,
      bCol: String, minSharedLong: Int): DataFrame =
    s.withColumnRenamed("n_shared", "n_shared_short")
      .join(l.withColumnRenamed("n_shared", "n_shared_long"),
        Seq(aCol, bCol), "full_outer")
      .select(col(aCol), col(bCol),
        coalesce(col("n_shared_short"), lit(0L)).as("n_shared_short"),
        coalesce(col("n_shared_long"), lit(0L)).as("n_shared_long"),
        when(coalesce(col("n_shared_long"), lit(0L)) >= minSharedLong,
          lit("long")).otherwise(lit("short")).as("match_class"))

  /** Multi-resolution INCREMENTAL match: [[winnowPairsAgainst]] at two
    * gram sizes over two standing [[winnowIndex]]es of the same base
    * name (each bakes its own k), classified like
    * [[winnowPairsMultiK]] — match-length discrimination for the
    * crawl-increment shape: 'long' pairs are mirror/plagiarism-grade
    * hits against the reference corpus, 'short' pairs phrase-level
    * echo. Increment-sized work twice; snapshot text never read.
    */
  def winnowPairsAgainstMultiK(incoming: DataFrame, indexName: String,
      kShort: Int = 3, kLong: Int = 8, w: Int = 4,
      minSharedShort: Int = 2, minSharedLong: Int = 1,
      maxDocsPerFp: Int = 64, nBuckets: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(kShort >= 1 && kLong > kShort,
      s"winnowPairsAgainstMultiK: need 1 <= kShort < kLong, " +
        s"got $kShort/$kLong")
    require(minSharedLong >= 1,
      s"winnowPairsAgainstMultiK: minSharedLong must be >= 1, " +
        s"got $minSharedLong")
    multiKClassify(
      winnowPairsAgainst(incoming, indexName, kShort, w, minSharedShort,
        maxDocsPerFp, nBuckets, idCol, textCol),
      winnowPairsAgainst(incoming, indexName, kLong, w, minSharedLong,
        maxDocsPerFp, nBuckets, idCol, textCol),
      "new_id", "snap_id", minSharedLong)
  }

  /** Companion truncation report for [[winnowPairs]]: the posting cap
    * (`maxDocsPerFp`) silently drops a hot fingerprint's documents beyond
    * the cap, and because the oracle mirrors the cap the correctness gate
    * cannot see how much was dropped — this surfaces it. One row:
    * total distinct fingerprints, how many hit the cap, how many
    * (doc, fp) postings the cap dropped, and the hottest fingerprint's
    * posting count (the number to look at when deciding whether the cap
    * is biting real overlap or just boilerplate). Run it alongside
    * winnowPairs when tuning; same single winnow pass + one fp-keyed
    * aggregation, nothing corpus-sized shuffles.
    */
  def winnowPairsStats(docs: DataFrame, k: Int = 3, w: Int = 4,
      maxDocsPerFp: Int = 64): DataFrame =
    winnowFingerprints(docs, k, w)
      .groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .agg(
        count(lit(1)).as("n_fps"),
        count(when(col("n_docs") > maxDocsPerFp, 1)).as("n_capped_fps"),
        coalesce(sum(when(col("n_docs") > maxDocsPerFp,
          col("n_docs") - maxDocsPerFp)), lit(0L)).as("n_dropped_postings"),
        coalesce(max("n_docs"), lit(0L)).as("max_docs_per_fp"))

  /** Per-row winnow-overlap predicate against a FIXED fingerprint set —
    * the streaming form of winnow-based contamination/span-dup detection
    * (the batch [[winnowPairs]] is self-referential; append-mode streams
    * need a stateless per-row test, the same decomposition as
    * [[graft.ops.Decontam.contaminatedFlag]]). The reference set — a
    * benchmark's or blocklist corpus's winnowed fingerprints, collected
    * once via [[collectWinnowFingerprints]] — rides the plan as a
    * literal array; the winnow selection on the streaming row is pure
    * array expressions, so this runs identically on batch frames.
    */
  def winnowOverlapFlag(textCol: Column, fps: Seq[String], k: Int = 3,
      w: Int = 4): Column =
    // the hash chain is bound ONCE as a lambda variable (the single-column
    // analogue of winnowFingerprints' projection boundary); zero-gram docs
    // get false, never null
    element_at(
      transform(array(winnowHashes(textCol, k)), h =>
        when(size(h) > 0,
          arrays_overlap(winnowSelect(h, w), lit(fps.toArray)))
          .otherwise(lit(false))),
      1)

  /** Reference-side fingerprint list for [[winnowOverlapFlag]],
    * driver-collected (bounded by the same benchmark-is-small argument
    * as the decontam eval grams).
    */
  def collectWinnowFingerprints(refSet: DataFrame, k: Int = 3,
      w: Int = 4): Seq[String] = {
    import refSet.sparkSession.implicits._
    // distinct IN THE PLAN: per-doc fps are only distinct within a doc,
    // and a heavily-overlapping reference corpus (winnowing's target
    // case) would otherwise ship every duplicate row to the driver
    winnowFingerprints(refSet, k, w).select("fp").distinct().as[String]
      .collect().toSeq
  }

  /** SimHash: 64-bit signature from per-token hash bit-votes. Near-dups have
    * small Hamming distance. Pure expressions: token → xxhash64 → per-bit
    * ±1 votes → sign. One pass, no shuffle.
    */
  def simHash(docs: DataFrame): DataFrame =
    Par.fanOutKernel(docs).select(col("doc_id"),
      graft.functions.ArrayKernels.simhash64(
        transform(Core.tokensUni(col("text")), tok => xxhash64(tok))).as("simhash"))

  /** Sorted-neighborhood dedup (SNM): sort by a blocking key (here the
    * normalized token prefix), compare each doc to its sort-neighbor with
    * token-set Jaccard. The sort-based alternative to LSH candidate
    * generation — one global sort instead of a bucket self-join; near-dups
    * share prefixes and land adjacent. Deterministic via (key, doc_id)
    * ordering.
    */
  def sortedNeighborPairs(docs: DataFrame, prefixTokens: Int = 3,
      threshold: Double = 0.5, blockTokens: Int = 2): DataFrame = {
    val t = Core.tokensUni(col("text"))
    val keyed = docs.select(col("doc_id"), array_distinct(t).as("tset"),
      array_join(slice(t, 1, prefixTokens), " ").as("blk"),
      // partition by a `blockTokens`-token prefix: keeps the sort distributed
      // (a global Window.orderBy would collapse to one partition) AND avoids
      // head-token skew — on natural text a huge share of documents starts
      // with the same word ("the", "a", …), so a 1-token block would make one
      // partition absorb most of the corpus; a 2-token prefix has
      // quadratically more distinct values and Spark hash-distributes the
      // high-cardinality key across shuffle partitions. Docs in different
      // blocks share <blockTokens prefix tokens and are not SNM-adjacent.
      array_join(slice(t, 1, blockTokens), " ").as("blk_pfx"))
    val w = Window.partitionBy(col("blk_pfx")).orderBy(col("blk"), col("doc_id"))
    keyed
      .withColumn("prev_id", lag(col("doc_id"), 1).over(w))
      .withColumn("prev_tset", lag(col("tset"), 1).over(w))
      .where(col("prev_id").isNotNull)
      .select(
        least(col("prev_id"), col("doc_id")).as("a_id"),
        greatest(col("prev_id"), col("doc_id")).as("b_id"),
        round(size(array_intersect(col("tset"), col("prev_tset"))).cast("double") /
          greatest(size(array_union(col("tset"), col("prev_tset"))), lit(1)), 4)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Near-duplicate clusters: connected components over a candidate-pair
    * edge set (MinHash-LSH or sorted-neighborhood output), labelling every
    * member with the minimum doc_id of its component — the step that turns
    * pairwise candidates into a dedup decision ("keep cluster_id, drop the
    * rest").
    *
    * Iterative min-label propagation run to the exact fixpoint (which is
    * unique regardless of schedule — results are deterministic): each
    * iteration is one join + min-aggregation over the EDGE SET, never the
    * corpus. The label table is bounded by the candidate set, and near-dup
    * components are shallow, so the iteration count is the component
    * diameter — small in practice. Per-iteration localCheckpoint truncates
    * the growing loop lineage; unlike the corpus-sized checkpoints this
    * repo removed, this state is candidate-set-sized by construction.
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 50,
      driverFastPathEdges: Long = 1L << 18): DataFrame = {
    // localCheckpoint truncates LINEAGE but INHERITS the plan's estimated
    // sizeInBytes — and join estimation multiplies child sizes. Feeding one
    // iteration's inflated estimate into the next compounds the BigInt
    // exponentially (by ~iteration 6 Catalyst multiplies 100k-digit numbers
    // inside the stats visitor and the driver livelocks — observed on the
    // 50k-doc stress corpus). Re-wrapping the checkpointed RDD resets the
    // stats each iteration; the RDD itself is not recomputed.
    def pinned(df: DataFrame): DataFrame = {
      val ck = df.localCheckpoint()
      ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
    }
    // small-graph fast path: label propagation costs ~4 Spark jobs PER
    // ITERATION in fixed overhead; when the edge set fits comfortably on
    // the driver (default fence 2^18 edges — collected Rows + a boxed-Long
    // union-find map land in the tens of MB), a local union-find computes
    // the identical min-label fixpoint in milliseconds. Same driver-side-
    // tiny-by-design contract as the IVF centroid sample; the distributed
    // iteration below IS the 100 TB path (edge sets from a corpus-scale
    // LSH pass exceed any driver). Ids normalize to long up front so both
    // paths share one schema (and the fast path can't miscast); null ids
    // are dropped exactly as the propagation joins would drop them.
    val pinnedPairs = pinned(pairs
      .select(col("a_id").cast("long").as("a_id"), col("b_id").cast("long").as("b_id"))
      .where(col("a_id").isNotNull && col("b_id").isNotNull))
    if (pinnedPairs.count() <= driverFastPathEdges) {
      val es = pinnedPairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) // min root wins
      }
      val rows = parent.keys.toSeq.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return rows.toDF("doc_id", "cluster_id")
    }
    // edges derive from the already-materialized pair checkpoint, so the
    // symmetrization union reads it instead of re-running the candidate
    // lineage twice (one branch per union side)
    val edges = pinned(
      pinnedPairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pinnedPairs.select(col("b_id").as("src"), col("a_id").as("dst"))))
    var labels = pinned(edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    // labels only ever decrease, so an unchanged label-sum witnesses the
    // fixpoint — one tiny aggregation per iteration instead of an
    // anti-join-shaped change scan. sum() over zero rows is NULL → 0.
    def labelSum(df: DataFrame): Long = {
      val r = df.agg(sum("label")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    var prevSum = labelSum(labels)
    var iter = 0
    var done = labels.isEmpty
    while (iter < maxIter && !done) {
      // step 1: adjacency over REAL edges ∪ BIDIRECTIONAL label-edges
      // (id↔label) — hash-to-min-style star contraction. Plain adjacency
      // alone moves the component min ONE hop per iteration across a
      // local-min plateau (a run of nodes labeled by a node that labels
      // itself), and pointer jumping can't help there because the
      // plateau's label self-points — observed on the r14 100×-replica
      // SNM stress corpus: after 3 iterations the label sum fell by a
      // CONSTANT per round and 50 iterations weren't enough. With label-
      // edges, the plateau's anchor hears a better label from any member
      // whose pointer still targets it, and the plateau collapses through
      // the jump rounds. Label values are always member ids of the same
      // component, so the extra edges never cross components and the
      // fixpoint (all labels = component min) is unchanged; the
      // label-edge set is ~n rows against the edge set's m, so the join
      // grows marginally.
      val lblEdges = labels.where(col("id") =!= col("label"))
        .select(col("id").as("src"), col("label").as("dst"))
      val biEdges = edges
        .union(lblEdges)
        .union(lblEdges.select(col("dst").as("src"), col("src").as("dst")))
      val nbrMin = biEdges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id")).agg(min("label").as("nbr_min"))
      val viaNbr0 = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // step 1b: anchor notify — label-edges alone are NOT enough,
      // because a member that learns a better label REPOINTS to it
      // immediately, severing its label-edge to the old anchor before
      // the anchor ever hears the news; the old plateau then erodes one
      // adjacency hop per round (observed: a constant ~27-node frontier
      // crawling one replica per iteration through 100-long SNM replica
      // chains, mirroring hash-to-min's known failure without the
      // backward send). So every node whose label just improved tells
      // its OLD anchor the new label in the SAME iteration; the
      // remaining plateau members (whose pointers still target that
      // anchor) then adopt it through the next jump/label-edge round.
      // Each merge event resolves in O(1) rounds instead of
      // O(plateau length), restoring logarithmic total iterations.
      val anchorMin = viaNbr0.where(col("label") < col("old_label"))
        .groupBy(col("old_label").as("id"))
        .agg(min(col("label")).as("anchor_min"))
      val viaNbr = viaNbr0.join(anchorMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("anchor_min"), col("label"))).as("label"))
      // step 2: pointer jumping — follow label→label(label), compressing
      // the remaining propagation distance. One jump per iteration can
      // stall into linear progress when a node's label points at a local
      // minimum whose own label is only one hop better (observed on the
      // 50k stress corpus: SNM adjacency builds thousand-node paths), so
      // run up to three pinned jump rounds per adjacency step — each round
      // compresses the pointer chains built so far, giving the multi-hop
      // shortcutting that keeps total iterations logarithmic. Rounds stop
      // as soon as one makes no progress (the label sum is the witness),
      // so shallow components — the common case — pay for one jump, not
      // three.
      var cur = pinned(viaNbr)
      var curSum = labelSum(cur)
      var jumping = true
      var j = 0
      while (j < 3 && jumping) {
        cur = pinned(cur
          .join(cur.select(col("id").as("lbl_id"), col("label").as("lbl_lbl")),
            col("label") === col("lbl_id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("lbl_lbl"), col("label"))).as("label")))
        val nsum = labelSum(cur)
        jumping = nsum != curSum
        curSum = nsum
        j += 1
      }
      labels = cur
      done = curSum == prevSum
      prevSum = curSum
      iter += 1
    }
    require(done,
      s"nearDupClusters did not converge in $maxIter iterations — " +
        "raise maxIter (component diameter exceeds 2^maxIter)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** End-to-end corpus dedup decision: given candidate near-dup pairs
    * (from LSH, SNM, or embedding buckets), keep exactly one document per
    * connected component (the lowest doc_id) plus every unpaired document.
    * The drop-list is cluster-members-minus-canonicals — a LEFT ANTI join
    * against ids only, so the corpus text shuffles nowhere.
    */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val dropList = nearDupClusters(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.join(dropList, Seq("doc_id"), "left_anti")
  }

  /** 0-based indices of the non-overlapping `k`-token spans of token array
    * `t`: ceil(len/k) spans, last one partial. Guarded for len=0 (Spark's
    * `sequence(0, -1)` would DESCEND, not return empty).
    */
  private def spanIndices(t: Column, k: Int): Column =
    when(size(t) > 0,
      sequence(lit(0), floor((size(t) - 1).cast("double") / k).cast("int")))
      .otherwise(array().cast("array<int>"))

  /** (doc_id, span_idx, fp): the md5 fingerprint of every non-overlapping
    * `spanTokens`-token span of every document. The exploded rows carry
    * 16-byte hashes + ids only — span TEXT never leaves the scan stage.
    */
  def spanFingerprints(docs: DataFrame, spanTokens: Int): DataFrame =
    Par.fanOutKernel(docs).select(col("doc_id"), Core.tokensUni(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        explode(spanIndices(col("t"), spanTokens)).as("span_idx"))
      .select(col("doc_id"), col("span_idx"),
        md5(array_join(slice(col("t"), col("span_idx") * spanTokens + 1,
          lit(spanTokens)), " ")).as("fp"))

  /** Sub-document (span-level) dedup — the C4-recipe step whole-document
    * dedup misses: boilerplate paragraphs repeated ACROSS surviving
    * documents. Every `spanTokens`-token span is fingerprinted; per
    * fingerprint the lowest (doc_id, span_idx) occurrence is the owner and
    * every other occurrence (including intra-document repeats) is removed;
    * each document's surviving text is reconstructed in span order.
    * Returns every input document: (doc_id, n_spans, n_kept, text) with
    * text possibly empty when a document was entirely duplicated spans.
    *
    * Scale shape: ownership is one groupBy over (fp, ids) — 16-byte keys,
    * like [[exactDedup]] — and keep-lists are (doc_id, ARRAY<int>), so
    * everything up to reconstruction shuffles hashes and ids only (span
    * TEXT is re-derived by re-tokenizing in place: recomputing the
    * tokenizer beats moving 100 TB of text, the same trade
    * [[graft.ops.TextAnalysis.tfIdfTopTerms]] makes). The one corpus-sized
    * movement is the final docs⋈keep-lists id-equi-join; bucket the corpus
    * table by doc_id and that join rides the bucketing with no text
    * Exchange.
    */
  def spanDedup(docs: DataFrame, spanTokens: Int = 20,
      carry: Seq[String] = Nil): DataFrame = {
    val k = spanTokens
    val owners = spanFingerprints(docs, k)
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("own"))
    val keeps = owners
      .select(col("own.doc_id").as("doc_id"), col("own.span_idx").as("span_idx"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("span_idx"))).as("keep"))
    // tokens materialized as their own projection: referenced from inside
    // the transform lambda below, an inline Core.tokens(text) would re-run
    // the split regex once PER KEPT SPAN (interpreted HOF bodies re-evaluate
    // per element); CollapseProject keeps the projection separate because
    // the alias is non-cheap and multiply-referenced
    val t = col("_t")
    docs.join(keeps, Seq("doc_id"), "left")
      .withColumn("_t", Core.tokensUni(col("text")))
      .select(col("doc_id") +: carry.map(col) :+
        size(spanIndices(t, k)).as("n_spans") :+
        size(coalesce(col("keep"), array().cast("array<int>"))).as("n_kept") :+
        array_join(transform(coalesce(col("keep"), array().cast("array<int>")),
          i => array_join(slice(t, i * k + 1, lit(k)), " ")), " ").as("text"): _*)
  }

  /** Canonical-document selection: one survivor per near-dup cluster,
    * chosen by QUALITY (argmax [[TextAnalysis.qualityLogit]], ties to the
    * lowest doc_id), not by lowest id — the merge step of a dedup
    * pipeline where "first crawled" is the wrong keep rule (the canonical
    * copy of a boilerplate-wrapped article is the cleanest one, not the
    * earliest one). `clusters` is a (doc_id, cluster_id) assignment
    * ([[nearDupClusters]] output); unassigned documents are their own
    * singleton cluster. Returns (cluster_id, n_members, keep_id, keep_z).
    *
    * Scale shape: quality is a scan-stage expression; the left join
    * attaches cluster labels (cluster tables are pair-participants only —
    * usually ≪ corpus); the argmax is ONE groupBy carrying an 8-byte
    * struct, the [[exactDedup]] shuffle shape. The struct-max trick
    * (max of (z, -doc_id)) keeps the tie rule inside the aggregate —
    * no window, no second pass.
    */
  /** Cross-source duplication-leakage matrix — the data-governance
    * diagnostic behind "which sources copy from which": for every
    * unordered source pair (a <= b), the number of distinct k-gram
    * contents both sources carry; the diagonal counts grams REPEATED
    * within one source. Gram-level (not whole-doc fingerprints) because
    * real leakage is mostly partial — boilerplate, quoted passages,
    * syndicated fragments — which document hashes never see. Scale
    * shape: one (gram, source) aggregate — map-side combined — then a
    * per-gram self-join whose fan-out is bounded by the SOURCE count per
    * gram (a small set by nature), never by document multiplicity; the
    * matrix itself is |sources|²-bounded.
    */
  def sourceDupMatrix(docs: DataFrame, k: Int = 8): DataFrame = {
    val bySrc = Par.fanOutKernel(docs)
      .select(col("source"),
        explode(Decontam.ngrams(Core.tokensUni(col("text")), k)).as("g"))
      .groupBy("g", "source").agg(count(lit(1)).as("n"))
    val l = bySrc.select(col("g"), col("source").as("source_a"),
      col("n").as("_na"))
    val r = bySrc.select(col("g"), col("source").as("source_b"))
    l.join(r, Seq("g"))
      .where(col("source_a") < col("source_b") ||
        (col("source_a") === col("source_b") && col("_na") >= 2))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  def canonicalPerCluster(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val z = docs.select(col("doc_id"),
      TextAnalysis.qualityLogit(col("text")).as("z"))
    z.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .groupBy("cluster_id").agg(
        count(lit(1)).as("n_members"),
        max(struct(col("z"), (-col("doc_id")).as("nid"))).as("_b"))
      .select(col("cluster_id"), col("n_members"),
        (-col("_b.nid")).as("keep_id"),
        round(col("_b.z"), 4).as("keep_z"))
  }

  /** EXACT duplicated-substring scrub at k-gram resolution — the
    * suffix-array-style dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better" (arXiv:2107.06499), re-expressed
    * relationally: any token inside a ≥k-token run whose content also
    * occurs earlier in the corpus (lower (doc_id, pos), intra-document
    * repeats included) is removed; the FIRST occurrence of every run
    * survives verbatim. Complements [[spanDedup]] (fixed 20-token grid —
    * misses shifted copies) and [[winnowPairs]] (shift-invariant but
    * DETECTS pairs, doesn't rewrite): this one rewrites, at exact k-gram
    * alignment-free resolution. Every k-gram of every document is hashed
    * (16-char md5 prefix, the winnow convention — engine-reproducible);
    * non-first occurrences mark their k token positions covered; covered
    * positions merge into maximal removal spans (gaps-and-islands — the
    * q_window_session idiom); surviving tokens rebuild the text in place.
    *
    * Scale shape: the gram-hash ownership shuffle is token-volume — the
    * honest, unavoidable cost of EXACT substring dedup (the same volume
    * C4's line dedup or a word count moves; Lee et al. pay a suffix-array
    * sort of the whole corpus for the character-resolution version).
    * Everything after is smaller: duplicated positions (≤ token volume,
    * usually ≪), spans (runs collapse to one row each), and a doc-keyed
    * join of span LISTS back to the corpus — token indices are filtered
    * against the per-doc span list in the scan stage, so document text
    * shuffles zero times. Returns every input document: (doc_id,
    * [carry...], n_tokens, n_kept, text), text "" when fully duplicated.
    */
  def substringScrub(docs: DataFrame, k: Int = 8,
      carry: Seq[String] = Nil): DataFrame = {
    require(k >= 2, s"substringScrub: k=$k must be >= 2")
    // corpus-wide first occurrence per gram hash owns it; every other
    // occurrence covers its k token positions
    val dupPos = substringGrams(Par.fanOutKernel(docs), k)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
      .where(col("_rn") > 1)
      .select(col("doc_id"), col("pos"))
    scrubByDupPositions(docs, dupPos, k, carry)
  }

  /** The (doc_id, pos, h) gram rows of [[substringScrub]] — one
    * definition shared with the incremental forms so batch and apply can
    * never drift on gram content or hash prefix.
    */
  private def substringGrams(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), Core.tokensUni(col("text")).as("_t"))
      .select(col("doc_id"), posexplode(transform(
        graft.functions.ArrayKernels.token_ngrams(col("_t"), k,
          distinct = false),
        g => substring(md5(g), 1, 16))).as(Seq("pos", "h")))

  /** Shared tail of the scrub family: duplicated positions → merged
    * removal spans (gaps-and-islands) → in-place rebuild of `docs`.
    */
  private def scrubByDupPositions(docs: DataFrame, dupPos: DataFrame,
      k: Int, carry: Seq[String]): DataFrame = {
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = dupPos
      .withColumn("_brk",
        when(col("pos") > lag(col("pos"), 1).over(wd) + k, 1)
          .when(lag(col("pos"), 1).over(wd).isNull, 1).otherwise(0))
      .withColumn("_grp", sum(col("_brk")).over(wd))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(k - 1)).as("e"))
    val spanLists = spans.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("_sp"))
    val noSpans = array().cast("array<struct<s:int,e:int>>")
    docs.join(spanLists, Seq("doc_id"), "left")
      .select(col("doc_id") +: carry.map(col) :+
        Core.tokensUni(col("text")).as("_t") :+
        coalesce(col("_sp"), noSpans).as("_sp"): _*)
      .withColumn("_kept", filter(col("_t"), (_, i) =>
        !exists(col("_sp"),
          sp => i >= sp.getField("s") && i <= sp.getField("e"))))
      .select(col("doc_id") +: carry.map(col) :+
        size(col("_t")).as("n_tokens") :+
        size(col("_kept")).as("n_kept") :+
        array_join(col("_kept"), " ").as("text"): _*)
  }

  /** Standing gram-OWNERSHIP index for incremental [[substringScrub]]:
    * per gram hash, the corpus-wide first occurrence (min (doc_id, pos)),
    * bucketed by `h` ([[IndexTables.bucketed]], parameters baked into the
    * name — the [[winnowIndex]] discipline). A daily crawl then scrubs
    * its increment at increment-gram cost ([[substringScrubApply]])
    * instead of re-scrubbing the union. Growing the table: do NOT
    * [[IndexTables.append]] raw gram rows — ownership is a MIN, so append
    * the increment's grams and re-min on read, or rebuild on ingest
    * cadence; the apply below treats index rows as authoritative owners.
    */
  def substringIndex(docs: DataFrame, name: String, k: Int = 8,
      nBuckets: Int = 8): DataFrame =
    IndexTables.bucketed(docs.sparkSession, s"${name}_substr_k$k",
      nBuckets, Seq("h"), Seq("h"))(
      substringGrams(docs, k)
        .groupBy("h")
        .agg(min(struct(col("doc_id"), col("pos"))).as("own"))
        .select(col("h"), col("own.doc_id").as("own_doc"),
          col("own.pos").as("own_pos")))

  /** Incremental substring scrub: rewrite INCREMENT documents with every
    * token removed whose covering gram has a strictly lower (doc_id, pos)
    * occurrence in snapshot ∪ increment — verdicts identical to the batch
    * [[substringScrub]] over the union, filtered to increment rows, even
    * with INTERLEAVED ids (the comparison is the owner ORDERING, not "is
    * it in the snapshot": an increment gram whose (doc_id, pos) precedes
    * the snapshot owner keeps its tokens, exactly as the batch would —
    * the q_semdedup_incr lesson). Increment-internal duplicates are
    * decided by a window-min over the increment's own grams; the
    * snapshot probe is an h-equi join that rides the index bucketing.
    * Each crawl pays increment-gram cost; snapshot text is never read.
    */
  def substringScrubApply(incDocs: DataFrame, index: DataFrame, k: Int = 8,
      carry: Seq[String] = Nil): DataFrame = {
    val grams = substringGrams(incDocs, k)
    val mine = struct(col("doc_id"), col("pos"))
    val incMin = min(mine).over(Window.partitionBy(col("h")))
    val dupPos = grams
      .withColumn("_incMin", incMin)
      .join(index.select(col("h"),
        struct(col("own_doc").as("doc_id"), col("own_pos").as("pos"))
          .as("_idxOwn")), Seq("h"), "left")
      .where((col("_idxOwn").isNotNull && col("_idxOwn") < mine) ||
        col("_incMin") < mine)
      .select(col("doc_id"), col("pos"))
    scrubByDupPositions(incDocs, dupPos, k, carry)
  }

  /** The ONE definition of the line algebra [[lineDedup]] and
    * [[lineStats]] share (split on \r?\n; null text → zero lines, since
    * split(null) is null and size() of it would read -1 instead of the
    * oracle's 0 — the Decontam n_grams guard). Trim/drop-empties happens
    * at each use site over these raw parts.
    */
  private val lineSplitExpr: Column =
    coalesce(split(col("text"), "\\r?\\n"), array().cast("array<string>"))

  /** C4-style exact LINE-level dedup: every distinct non-empty (trimmed)
    * line is kept only at its first occurrence corpus-wide — ownership =
    * lowest (doc_id, line_no) — and documents are rewritten with only
    * their owned lines. This is the C4 recipe's named dedup unit (the
    * "three-sentence span" variant is [[spanDedup]]; lines catch the
    * boilerplate the span grid straddles: nav bars, cookie banners,
    * "subscribe" footers repeated across a site's every page).
    *
    * Scale shape mirrors [[spanDedup]]: lines never shuffle — ownership
    * groups on md5(line) (16-byte keys + (doc_id, line_no) structs),
    * keep-lists are per-doc int arrays, and reconstruction re-splits the
    * text in the scan stage of the final join. Line numbering is the
    * pre-filter split index, so empty/whitespace lines don't shift
    * ownership identity. Returns (doc_id, [carry...], n_lines, n_kept,
    * text) with kept lines trimmed and newline-joined; a document whose
    * every line is owned elsewhere comes back with empty text, not a
    * dropped row (the caller decides the drop policy).
    */
  def lineDedup(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val lines = lineRows(docs)
    val owners = lines
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("own"))
    val keeps = owners
      .select(col("own.doc_id").as("doc_id"), col("own.line_no").as("line_no"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("line_no"))).as("keep"))
    rebuildKeptLines(docs, keeps, carry)
  }

  /** The (doc_id, line_no, h) rows of the line-rewrite family — trimmed
    * non-empty lines keyed by md5, line_no = pre-filter split index. ONE
    * definition shared by [[lineDedup]], [[boilerplateScrub]] and the
    * incremental forms so batch and apply can never drift on identity.
    */
  private def lineRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(lineSplitExpr).as(Seq("line_no", "line")))
      .select(col("doc_id"), col("line_no"), trim(col("line")).as("line"))
      .where(length(col("line")) > 0)
      .select(col("doc_id"), col("line_no"), md5(col("line")).as("h"))

  /** Shared reconstruction tail: given per-doc SORTED keep lists of line
    * indices (pre-filter split indices), re-split the text once (the
    * spanDedup multiply-referenced-projection discipline) and emit the
    * kept lines trimmed and newline-joined. Docs with no keep row come
    * back with empty text, not a dropped row.
    */
  private def rebuildKeptLines(docs: DataFrame, keeps: DataFrame,
      carry: Seq[String]): DataFrame = {
    val l = col("_l")
    docs.join(keeps, Seq("doc_id"), "left")
      .withColumn("_l", lineSplitExpr)
      .select(col("doc_id") +: carry.map(col) :+
        size(filter(transform(l, x => trim(x)), x => length(x) > 0))
          .as("n_lines") :+
        size(coalesce(col("keep"), array().cast("array<int>"))).as("n_kept") :+
        array_join(transform(coalesce(col("keep"), array().cast("array<int>")),
          i => trim(element_at(l, i + 1))), "\n").as("text"): _*)
  }

  /** RefinedWeb/CCNet-style BOILERPLATE line removal: every line whose
    * trimmed content appears in at least `minDocs` DISTINCT documents is
    * removed from EVERY document — no survivor, unlike [[lineDedup]]'s
    * keep-first-occurrence policy. This is the policy for nav bars,
    * cookie banners and "subscribe" footers stamped onto a whole site:
    * the first page that happens to own the banner should not keep it
    * either (it was never content), while a line repeated WITHIN one
    * document (code, tables, poetry refrains) is untouched because the
    * gate counts distinct documents, not occurrences.
    *
    * Scale shape: line text never shuffles — [[lineRows]] reduces each
    * line to a 16-byte md5 in the scan stage; the hot set is the
    * distinct-doc count dictionary filtered to ≥ `minDocs` (the
    * boilerplate dictionary — tiny by construction), the keep lists are
    * per-doc int arrays from a left-anti join on h, and reconstruction
    * re-splits the text in the final join's scan stage.
    */
  def boilerplateScrub(docs: DataFrame, minDocs: Int = 3,
      carry: Seq[String] = Nil): DataFrame = {
    require(minDocs >= 2, s"boilerplateScrub: minDocs must be >= 2, got $minDocs")
    val lines = lineRows(docs)
    val hot = lines.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs)
      .select(col("h"))
    val keeps = lines.join(hot, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("line_no"))).as("keep"))
    rebuildKeptLines(docs, keeps, carry)
  }

  /** Standing per-line distinct-doc counts for incremental
    * [[boilerplateScrub]]: (h, nd) bucketed by h
    * ([[IndexTables.bucketed]], parameters in the name —
    * the [[winnowIndex]] discipline). Counts are additive under the
    * append-only DISJOINT doc-id contract (a crawl's new docs never
    * reuse snapshot ids), so grow the table by appending the increment's
    * own per-line counts and re-summing on read, or rebuild on ingest
    * cadence — the [[substringIndex]] re-aggregate convention.
    */
  def lineFreqIndex(docs: DataFrame, name: String,
      nBuckets: Int = 8): DataFrame =
    IndexTables.bucketed(docs.sparkSession,
      s"${name}_linefreq", nBuckets, Seq("h"), Seq("h"))(
      lineRows(docs).groupBy("h")
        .agg(count_distinct(col("doc_id")).as("nd")))

  /** Incremental boilerplate scrub: rewrite INCREMENT documents with
    * every line removed whose distinct-doc count across snapshot ∪
    * increment reaches `minDocs` — identical to the batch
    * [[boilerplateScrub]] over the union, filtered to increment rows,
    * PROVIDED snapshot and increment doc ids are disjoint (the counts
    * are then additive; the standing index carries the snapshot side).
    * The index is RE-SUMMED per h on read, so the [[lineFreqIndex]]
    * growth path (appending per-crawl count rows) is honored here — an
    * appended line with rows (h,2),(h,2) reads as 4, not as two
    * independent 2s. Each crawl pays increment-line cost; snapshot text
    * is never read.
    * Note the asymmetry with [[substringScrubApply]]: boilerplate has no
    * ownership ordering, so snapshot documents' own rewrites only change
    * when a NEW line crosses the threshold — re-scrub the snapshot on
    * rebuild cadence if layout-stable output matters there.
    */
  def boilerplateScrubApply(incDocs: DataFrame, index: DataFrame,
      minDocs: Int = 3, carry: Seq[String] = Nil): DataFrame = {
    require(minDocs >= 2,
      s"boilerplateScrubApply: minDocs must be >= 2, got $minDocs")
    val lines = lineRows(incDocs)
    val incCounts = lines.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("_ndInc"))
    // re-sum appended index rows; the aggregation rides the h-bucketing
    val idxCounts = index.groupBy("h")
      .agg(sum(col("nd")).cast("long").as("_ndIdx"))
    val hot = incCounts
      .join(idxCounts, Seq("h"), "left")
      .where(coalesce(col("_ndIdx"), lit(0L)) + col("_ndInc") >= minDocs)
      .select(col("h"))
    val keeps = lines.join(hot, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("line_no"))).as("keep"))
    rebuildKeptLines(incDocs, keeps, carry)
  }

  /** One-row line-duplication report over the corpus — the health number
    * behind a [[lineDedup]] decision: total non-blank (trimmed) lines,
    * distinct lines, the duplicate-line fraction, and the hottest line's
    * frequency (the boilerplate signal; a nav header shared by millions
    * of pages shows up here first). Same line algebra as [[lineDedup]]
    * (split on \r?\n, trim, drop empties, md5 identity). Scale shape:
    * line text never shuffles — the exchange carries fixed-width md5
    * keys with map-side-combined counts, then one global aggregate.
    */
  def lineStats(docs: DataFrame): DataFrame = {
    docs.select(explode(lineSplitExpr).as("line"))
      .select(trim(col("line")).as("line"))
      .where(length(col("line")) > 0)
      .groupBy(md5(col("line")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(
        coalesce(sum("c"), lit(0L)).as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        round(lit(1.0) - count(lit(1)) /
          coalesce(sum("c"), lit(1L)).cast("double"), 6)
          .as("dup_line_fraction"),
        coalesce(max("c"), lit(0L)).as("max_line_freq"))
  }

  /** Detector-quality evaluation: score ANY near-dup pair generator
    * ([[sortedNeighborPairs]], LSH, winnowing — any (a_id, b_id) frame)
    * against exact-fingerprint ground truth, per-class P/R/F1 via
    * [[graft.ops.TextAnalysis.classifierReport]]. A document's truth
    * label is 'dup' when another document shares its content
    * fingerprint; its prediction is 'dup' when it appears in any
    * candidate pair. Recall of the 'dup' class is the number every
    * blocking strategy (prefix blocks, LSH bands, winnow grams) trades
    * against cost — this artifact is how you price that trade on real
    * data before committing the 100 TB run. Exact duplicates are the
    * floor a detector must catch; near-dup-only pairs surface as 'uniq'
    * -class precision loss here, to be judged against a labeled sample.
    *
    * Scale shape: one fingerprint groupBy (16-byte keys), one distinct
    * over pair endpoints, one left join, then the classes²-keyed report.
    * Null-text fingerprints key on a sentinel so such rows still eval.
    */
  def detectorEval(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val fp = TextAnalysis.fingerprints(docs)
      .select(col("doc_id"), coalesce(col("fp"), lit("")).as("fp"))
    val truth = fp.join(
        fp.groupBy("fp").agg(count(lit(1)).as("_n")), Seq("fp"))
      .select(col("doc_id"),
        when(col("_n") > 1, "dup").otherwise("uniq").as("truth"))
    val flagged = pairs.select(col("a_id").as("doc_id"))
      .union(pairs.select(col("b_id").as("doc_id"))).distinct()
      .withColumn("pred", lit("dup"))
    TextAnalysis.classifierReport(
      truth.join(flagged, Seq("doc_id"), "left")
        .select(col("truth"), coalesce(col("pred"), lit("uniq")).as("pred")),
      "truth", "pred")
  }

  /** Corpus snapshot diff — the dataset-versioning primitive: per doc_id,
    * whether the document was `added` (absent from the old snapshot),
    * `removed` (absent from the new), `changed` (present in both with a
    * different content fingerprint), or `unchanged`. Content identity is
    * [[graft.ops.TextAnalysis.fingerprint]], so formatting-only noise the
    * tokenizer normalizes away does not read as change.
    *
    * Scale shape: both sides reduce to (id, 16-byte fp) in the scan stage;
    * the full-outer join shuffles fingerprints only, never text.
    */
  def corpusDiff(old: DataFrame, fresh: DataFrame): DataFrame = {
    // presence is keyed on explicit side markers, NOT on fingerprint
    // nullability: a NULL-text document fingerprints to NULL (md5(NULL)
    // propagates), and reading absence off the fp would mislabel such a
    // row 'added' even when both snapshots contain it
    val o = TextAnalysis.fingerprints(old)
      .select(col("doc_id"), col("fp").as("_ofp"), lit(true).as("_inOld"))
    val n = TextAnalysis.fingerprints(fresh)
      .select(col("doc_id"), col("fp").as("_nfp"), lit(true).as("_inNew"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("_inOld").isNull, "added")
          .when(col("_inNew").isNull, "removed")
          // null-safe compare: two NULL-text rows are the same (absent)
          // content, not a change
          .when(col("_ofp") <=> col("_nfp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Train/valid/test split-leakage check: near-duplicate pairs that
    * STRADDLE a hash-split boundary — the eval-integrity audit every
    * split deserves, because a validation document whose near-twin sits
    * in train inflates the measured score exactly like benchmark
    * contamination does. Candidates come from [[sortedNeighborPairs]]
    * (swap in the LSH or winnow pair generators for higher recall — any
    * (a_id, b_id, jaccard) frame composes); splits from
    * [[graft.ops.Sampling.hashSplit]] with the same rates the pipeline
    * uses. Returns the offending pairs with both split labels.
    *
    * Scale shape: the pair set is candidate-sized, the split columns are
    * a scan-stage hash expression joined by id — nothing corpus-sized
    * shuffles beyond what candidate generation already does.
    */
  def splitLeakagePairs(docs: DataFrame, trainRate: Double,
      validRate: Double, threshold: Double = 0.9): DataFrame = {
    // sortedNeighborPairs already applies the >= threshold filter
    val pairs = sortedNeighborPairs(docs, threshold = threshold)
    val splits = Sampling.hashSplit(docs.select(col("doc_id")), "doc_id",
      trainRate, validRate)
    pairs
      .join(splits.select(col("doc_id").as("a_id"), col("split").as("split_a")),
        Seq("a_id"))
      .join(splits.select(col("doc_id").as("b_id"), col("split").as("split_b")),
        Seq("b_id"))
      .where(col("split_a") =!= col("split_b"))
      .select(col("a_id"), col("b_id"), col("jaccard"),
        col("split_a"), col("split_b"))
  }

  /** Exact n-gram Jaccard similarity for a candidate pair set (normally the
    * LSH output — never all-pairs). `candidates` must have (a_id, b_id).
    */
  def ngramJaccard(docs: DataFrame, candidates: DataFrame, shingleK: Int = 3): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles(shingleK).as("sh"))
    candidates
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        round(size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
          greatest(size(array_union(col("a_sh"), col("b_sh"))), lit(1)), 4)
          .as("jaccard"))
  }

  /** Asymmetric n-gram CONTAINMENT for a candidate pair set — the
    * quote/subset detector where Jaccard goes blind: a short document
    * quoted wholly inside a long one has tiny Jaccard (the union is the
    * long doc) but containment |sh(A)∩sh(B)| / |sh(A)| ≈ 1 on the short
    * side, and the dedup decision that follows is DIRECTIONAL (drop the
    * contained quote, keep the superset) — something no symmetric score
    * expresses. Broder's containment coefficient at shingle resolution.
    *
    * Outputs are integers plus threshold flags; the flags compare in
    * scaled-integer space (n_inter·10⁴ ≥ thr_scaled·n) so no float
    * division is ever rounded — shingle-set sizes are exactly the
    * divisors (powers of two included) that land float ratios on
    * cross-engine rounding midpoints. Ratios are consumer-derivable from
    * the emitted counts.
    *
    * Scale shape: identical to [[ngramJaccard]] — candidate-sized joins
    * against the per-doc shingle sets; never all-pairs.
    */
  def ngramContainment(docs: DataFrame, candidates: DataFrame,
      threshold: Double = 0.9, shingleK: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"ngramContainment: threshold must be in (0,1], got $threshold")
    val thrScaled = math.round(threshold * 10000).toInt
    // prune the corpus to candidate members BEFORE computing/shuffling
    // shingle arrays: the id set is candidate-sized, so broadcasting it
    // turns the prune into a streamed BroadcastHashJoin over the scan —
    // without it, both pair joins hash-exchange every document's shingle
    // array (measured 14 s → 4 s for 5k pairs over 55k docs at 10×)
    val ids = broadcast(candidates.select(col("a_id").as("doc_id"))
      .unionByName(candidates.select(col("b_id").as("doc_id"))).distinct())
    // lineage-cut: both pair joins reference this frame — live, the
    // prune + shingling re-executes per side (and the join's derived
    // null-filter can push the shingle transform into a Filter); the
    // checkpoint is candidate-member-sized by the prune above
    val sh = docs.join(ids, Seq("doc_id"))
      .select(col("doc_id"), shingles(shingleK).as("sh"))
      .localCheckpoint()
    candidates
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).as("n_inter"),
        size(col("a_sh")).as("n_a"), size(col("b_sh")).as("n_b"))
      .select(col("a_id"), col("b_id"), col("n_inter"), col("n_a"), col("n_b"),
        // long arithmetic: a web-scale doc's shingle set × 10⁴ overflows int
        (col("n_a") > 0 && col("n_inter").cast("long") * 10000 >=
          lit(thrScaled.toLong) * col("n_a"))
          .cast("int").as("a_in_b"),
        (col("n_b") > 0 && col("n_inter").cast("long") * 10000 >=
          lit(thrScaled.toLong) * col("n_b"))
          .cast("int").as("b_in_a"))
  }
}
