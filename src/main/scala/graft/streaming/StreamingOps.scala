package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.LocalCheckpointFs.checkpointed

/** Streaming twins of the batch windowing/aggregation operators
  * (SURVEY.md §2.5-2.6): identical `window()`/`session_window()` Catalyst
  * expressions over a streaming Dataset, with `withWatermark` supplying the
  * reference's bounded-out-of-orderness watermark strategy
  * (M1, reference Windows.scala:71-80 — max-seen − delay, windows finalize
  * when the watermark passes their end; mechanics narrated at
  * reference TimeBasedTransformations.scala:213-233).
  *
  * Running these in append mode WITHOUT a watermark is rejected by Spark's
  * analyzer — the engine-enforced form of the reference's own negative
  * tests (M3/M4: no watermark ⇒ no window ever fires,
  * reference TimeBasedTransformations.scala:313-350, Windows.scala:183-185).
  *
  * Every builder installs [[LocalCheckpointFs]] on its session, so state
  * and log files under a `file:` checkpoint are written without forks.
  */
object StreamingOps {

  /** M1+W1: watermarked tumbling window count (append mode — rows emitted
    * once, when the watermark finalizes the window).
    */
  def tumblingCount(stream: DataFrame, tsCol: String, delay: String, size: String,
      keys: String*): DataFrame = checkpointed(
    stream.withWatermark(tsCol, delay)
      .groupBy((window(col(tsCol), size) +: keys.map(col)): _*)
      .count()
      .select((Seq(col("window.start").as("w_start"), col("window.end").as("w_end")) ++
        keys.map(col) :+ col("count").as("cnt")): _*))

  /** Streaming exact dedup — the streaming twin of the batch cleaning
    * pipeline's fingerprint dedup ([[graft.ops.Curation.cleanCorpus]]):
    * keep the FIRST document per content fingerprint, where "first" is
    * arrival order within the watermark horizon. `dropDuplicates` keys
    * state by the 16-byte fingerprint only (never the text), and
    * `withWatermark` bounds that state: fingerprints older than the delay
    * are evicted, so state is O(unique docs per horizon) — the standard
    * shape for deduping an unbounded crawl feed at ingest.
    */
  def streamingDedup(stream: DataFrame, tsCol: String, delay: String,
      textCol: String = "text"): DataFrame = checkpointed(
    stream.withWatermark(tsCol, delay)
      .withColumn("_fp", graft.ops.TextAnalysis.fingerprint(col(textCol)))
      // dedup on the fingerprint ALONE while still evicting state by
      // watermark (plain dropDuplicates would need the ts column in the
      // key for cleanup, missing same-content-different-ts duplicates)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp"))

  /** Streaming NEAR-dup dedup — the streaming twin of the batch
    * MinHash+LSH pipeline ([[graft.ops.Dedup.minHashLshPairs]]): documents
    * whose estimated Jaccard (fraction of agreeing MinHash lanes, same
    * fixed-seed signature as batch) reaches `threshold` against an
    * earlier-arriving document are flagged as duplicates, first arrival
    * wins. Emits one verdict row per document: (doc_id, kept, dup_of).
    *
    * Shape: one `flatMapGroupsWithState`, keyed by the document's FIRST
    * LSH band (`bandRows` leading signature lanes rolled into one hash).
    * Per-bucket state is the (tsMs, doc_id, signature) list of survivors —
    * never the text — capped at `maxPerBucket` and watermark-GC'd like
    * [[graft.streaming.Stateful.windowedApproxDistinct]]: entries behind
    * the watermark are dropped each invocation and the bucket times out
    * (EventTimeTimeout) once the watermark passes its newest entry, so
    * state is O(survivors per band-bucket per horizon).
    *
    * Recall is the single-band collision probability s^bandRows (s = true
    * Jaccard) — e.g. 0.90 for s≈0.95, bandRows=2 — deliberately ONE
    * stateful operator: this is the ingest-time pre-filter; the batch LSH
    * pass with b bands remains the full-recall path. Zero-shingle
    * documents (< shingleK tokens: the kernel's all-MaxValue marker) are
    * never duplicates and never stored — the streaming analogue of the
    * batch empty-token fingerprint guard.
    */
  def streamingNearDedup(stream: DataFrame, tsCol: String, delay: String,
      textCol: String = "text", shingleK: Int = 3, numHashes: Int = 32,
      bandRows: Int = 2, threshold: Double = 0.8,
      maxPerBucket: Int = 128): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    def estSim(a: Seq[Long], b: Seq[Long]): Double = {
      var eq = 0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
      if (n == 0) 0.0 else eq.toDouble / n
    }
    checkpointed(stream.withWatermark(tsCol, delay)
      // the watermarked column must pass through as a bare alias: wrapping
      // it in a cast strips the watermark metadata and the analyzer then
      // rejects the EventTimeTimeout ("watermark must be specified")
      .select(col("doc_id").cast("long").as("doc_id"),
        col(tsCol).as("_ts"),
        graft.ops.Dedup.minhashSigExpr(col(textCol), shingleK, numHashes)
          .as("sig"))
      .as[(Long, java.sql.Timestamp, Seq[Long])]
      .groupByKey { case (_, _, sig) =>
        sig.take(bandRows).foldLeft(0L)((acc, x) => acc * 1000003L ^ x)
      }
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: Long, it: Iterator[(Long, java.sql.Timestamp, Seq[Long])],
            state: org.apache.spark.sql.streaming.GroupState[
              List[(Long, Long, Seq[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = try state.getCurrentWatermarkMs()
              catch { case _: UnsupportedOperationException => 0L }
            // per-entry horizon eviction, then first-arrival-wins in
            // deterministic (event-time, doc_id) order within the batch
            var entries = state.getOption.getOrElse(Nil).filter(_._1 >= wm)
            val out = List.newBuilder[(Long, Boolean, Option[Long])]
            it.toSeq.sortBy(t => (t._2.getTime, t._1)).foreach {
              case (id, t, sig) =>
                if (sig.headOption.contains(Long.MaxValue)) {
                  out += ((id, true, None)) // zero-shingle doc: never a dup
                } else entries.find(e => estSim(e._3, sig) >= threshold) match {
                  case Some((_, ownerId, _)) => out += ((id, false, Some(ownerId)))
                  case None =>
                    if (entries.size < maxPerBucket)
                      entries = (t.getTime, id, sig) :: entries
                    out += ((id, true, None))
                }
            }
            if (entries.isEmpty) state.remove()
            else {
              state.update(entries)
              state.setTimeoutTimestamp(
                math.max(entries.map(_._1).max, wm) + 1)
            }
            out.result().iterator
          }
      }
      .toDF("doc_id", "kept", "dup_of"))
  }

  /** M1+W2: watermarked sliding window count. */
  def slidingCount(stream: DataFrame, tsCol: String, delay: String, size: String,
      slide: String): DataFrame = checkpointed(
    stream.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), size, slide))
      .count()
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("count").as("cnt")))

  /** M1+W3: watermarked session window (gap-merged, per key). */
  def sessionCount(stream: DataFrame, tsCol: String, delay: String, gap: String,
      key: String): DataFrame = checkpointed(
    stream.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(key))
      .count()
      .select(col(key), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("count").as("cnt")))

  /** W5: TRUE processing-time tumbling window
    * (`TumblingProcessingTimeWindows`,
    * reference TimeBasedTransformations.scala:69,104-107): every row is
    * stamped with the wall clock AT INGESTION (`current_timestamp()` — in
    * a streaming query this is the micro-batch timestamp, Spark's
    * processing-time notion) and windowed on that stamp. Inherently
    * nondeterministic across runs, exactly as the reference demonstrates
    * by printing different window contents per execution — hence
    * test-smoke only; the oracled pipelines recast W5 over event time
    * (SURVEY §7.4.2).
    */
  def processingTimeTumblingCount(stream: DataFrame, size: String,
      keys: String*): DataFrame = checkpointed(
    stream.withColumn("proc_time", current_timestamp())
      .withWatermark("proc_time", "0 seconds")
      .groupBy((window(col("proc_time"), size) +: keys.map(col)): _*)
      .count()
      .select((Seq(col("window.start").as("w_start"), col("window.end").as("w_end")) ++
        keys.map(col) :+ col("count").as("cnt")): _*))

  /** A4 streaming: running word/key count in update mode — emits the
    * updated count per key on every arrival, the reference's
    * `keyBy(0).sum(1)` observable (reference
    * SocketTextStreamWordCount.scala:62-63).
    */
  def runningCount(stream: DataFrame, key: String): DataFrame =
    checkpointed(stream.groupBy(col(key)).count().withColumnRenamed("count", "cnt"))

  /** The reference's flagship: streaming word count over a line stream
    * (reference SocketTextStreamWordCount.scala:59-63). Pair with
    * `Generators.socketLines` for the socket form.
    */
  def wordCount(lines: DataFrame, lineCol: String = "value"): DataFrame =
    runningCount(
      lines.select(explode(graft.ops.Core.tokens(col(lineCol))).as("word")), "word")
}
