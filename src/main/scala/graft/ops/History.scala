package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing attribute history (SCD type 2) over a change stream —
  * the snapshot-versioning layer of a corpus pipeline: "what was this
  * document's (license, domain label, quality tier) in the March crawl?",
  * "which dedup decision was live when shard 17 was packed?". The same
  * algebra serves user/state timelines over event streams.
  *
  * Everything is per-key window algebra on the change stream itself — no
  * driver state, no iteration. The key is high-cardinality (doc id, user
  * id), so every exchange hash-distributes on it (plus the run id for
  * the seen-through aggregate).
  */
object History {

  /** Collapse a change stream into SCD2 version rows: one row per (key,
    * run of equal values in (ts, ord) order), with
    * `[valid_from, valid_to)` bounds, a per-key version number, an
    * `is_current` flag on the open-ended run, and `seen_ts`/`seen_ord` —
    * the run's LAST underlying change (re-statements included). Re-
    * stating the same value does NOT open a new version (the lag filter
    * drops consecutive duplicates) — the standard SCD2 contract — but it
    * DOES advance seen_ts/seen_ord: "state last confirmed at", and, on
    * the current row, the exact append-only floor [[scd2Apply]]'s guard
    * needs (valid_from alone under-states the floor precisely when
    * re-statements were collapsed).
    *
    * `ordCol` breaks same-timestamp ties deterministically (two changes
    * in one instant produce an empty-interval version row for the loser
    * — retained, so the audit trail is lossless). Null values are a real
    * state (null-safe comparison): a key can version from x → null → x,
    * producing three rows.
    */
  def scd2(changes: DataFrame, keyCol: String, tsCol: String,
      ordCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(ordCol))
    val flagged = changes
      .select(col(keyCol), col(tsCol), col(ordCol), col(valueCol))
      .withColumn("_prev", lag(col(valueCol), 1).over(w))
      .withColumn("_rn", row_number().over(w))
      // run openers: the first change per key, and every change whose
      // value differs (null-safely) from its predecessor; the running
      // sum of the flag is the run id (== the opener's version number)
      .withColumn("_open",
        (col("_rn") === 1 || !(col(valueCol) <=> col("_prev"))).cast("int"))
      .withColumn("_run", sum(col("_open")).over(w))
    // last underlying change per run — computed over ALL rows of the run,
    // collapsed re-statements included
    val seen = flagged.groupBy(col(keyCol), col("_run"))
      .agg(max(struct(col(tsCol).as("ts"), col(ordCol).as("ord"))).as("_seen"))
    flagged.where(col("_open") === 1)
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .join(seen, Seq(keyCol, "_run"))
      .select(col(keyCol), col("_run").cast("int").as("version"),
        col(valueCol).as("state"),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.cast("int").as("is_current"),
        col("_seen.ts").as("seen_ts"), col("_seen.ord").as("seen_ord"))
  }

  /** Point-in-time snapshot of an [[scd2]] history: the state of every
    * key live at `ts` (half-open intervals: a version starting exactly at
    * `ts` is live, one ending at `ts` is not). Keys whose first version
    * opens after `ts` are absent — they did not exist yet. A pushed-down
    * range filter on the history table; with the history written
    * range-clustered by valid_from this prunes whole files at scale.
    */
  def asOf(history: DataFrame, keyCol: String, ts: Column): DataFrame =
    history
      .where(col("valid_from") <= ts &&
        (col("valid_to").isNull || col("valid_to") > ts))
      .select(col(keyCol), col("version"), col("state"))

  /** Fold an append-only batch of changes into a standing [[scd2]]
    * history without revisiting it — the warehouse MERGE step: closed
    * versions are immutable (their [valid_from, valid_to) is sealed by a
    * later change that already exists), so only each key's CURRENT row
    * can change, and the fold is scd2(current rows ∪ new changes)
    * spliced over the closed rows. Exactly equals a full-history
    * recompute (spec'd) PROVIDED the batch is append-only per key —
    * every new (ts, ord) sorts strictly after the key's last seen change
    * — and `validate` fails fast when it is not.
    *
    * State touched: current rows of AFFECTED keys only (one row each) +
    * the batch — closed history is read-only passthrough. Version
    * numbers continue from the current row's; the current run's
    * seen_ts/seen_ord advance over any collapsed batch re-statements.
    *
    * `validate` (default on) ENFORCES the append-only contract instead
    * of trusting it: a batch change at or before its key's
    * (seen_ts, seen_ord) — the current run's last underlying change,
    * which is exactly the floor valid_from under-states when
    * re-statements were collapsed — would have to rewrite history that
    * the collapse has already sealed, and without the check it would
    * silently splice a wrong version chain. The check is one batch-sized
    * join + count (the perplexityBuckets guard precedent); callers that
    * have already validated upstream can switch it off.
    *
    * Per micro-batch ([[graft.sources.Sinks.eachBatch]], `state()` reading
    * the current history and `save` writing the fold back) the history at
    * any point equals the full-history recompute over everything ingested
    * so far, and a late or replayed change fails its batch. `state()` must
    * return an [[scd2]]-schema frame; seed an empty stream with
    * `scd2(emptyChanges, …)`.
    */
  def scd2Apply(history: DataFrame, changes: DataFrame, keyCol: String,
      tsCol: String, ordCol: String, valueCol: String,
      validate: Boolean = true): DataFrame = {
    val affected = changes.select(col(keyCol)).distinct()
    if (validate) {
      val bad = changes.select(col(keyCol), col(tsCol), col(ordCol))
        .join(history.where(col("is_current") === 1)
          .select(col(keyCol), col("seen_ts"), col("seen_ord")), Seq(keyCol))
        .where(struct(col(tsCol), col(ordCol).cast("long")) <=
          struct(col("seen_ts"), col("seen_ord").cast("long")))
        .count()
      require(bad == 0L,
        s"scd2Apply: $bad batch change(s) are at or before their key's " +
          "last seen change (seen_ts, seen_ord) — they would rewrite " +
          "history the run collapse has already sealed. Replay from a " +
          "full-history scd2() instead, or fix the feed (validate = " +
          "false skips this check once enforced upstream).")
    }
    val cur = history.where(col("is_current") === 1)
      .join(affected, Seq(keyCol))
      .select(col(keyCol), col("valid_from").as(tsCol),
        // the current row re-enters the fold as a pseudo-change that
        // sorts FIRST for its key (its ts seals the append-only floor);
        // minimal ord keeps it ahead of same-instant batch rows
        lit(Long.MinValue).as(ordCol), col("state").as(valueCol),
        col("version").as("_base_version"),
        col("seen_ts").as("_base_seen_ts"),
        col("seen_ord").as("_base_seen_ord"))
    val folded = scd2(
      cur.select(col(keyCol), col(tsCol), col(ordCol), col(valueCol))
        .unionByName(
          changes.select(col(keyCol), col(tsCol), col(ordCol).cast("long")
            .as(ordCol), col(valueCol))),
      keyCol, tsCol, ordCol, valueCol)
    // re-base version numbers: the fold numbered the current row 1.
    // Keys NEW to the history have no current row — left join, base 1.
    // The base run's seen advances over the STANDING seen (the fold only
    // saw the pseudo-change, whose (ts, ord) is the collapsed floor).
    val baseSeen = struct(col("_base_seen_ts"), col("_base_seen_ord"))
    val foldSeen = struct(col("seen_ts"), col("seen_ord"))
    val rebased = folded
      .join(cur.select(col(keyCol), col("_base_version"),
        col("_base_seen_ts"), col("_base_seen_ord")), Seq(keyCol), "left")
      .select(col(keyCol),
        (col("version") + coalesce(col("_base_version"), lit(1)) - 1)
          .as("version"),
        col("state"), col("valid_from"), col("valid_to"), col("is_current"),
        when(col("version") === 1 && col("_base_seen_ts").isNotNull &&
            baseSeen > foldSeen, col("_base_seen_ts"))
          .otherwise(col("seen_ts")).as("seen_ts"),
        when(col("version") === 1 && col("_base_seen_ts").isNotNull &&
            baseSeen > foldSeen, col("_base_seen_ord"))
          .otherwise(col("seen_ord")).as("seen_ord"))
    // splice: untouched keys' rows + affected keys' closed rows pass
    // through; affected current rows are replaced by the fold (which
    // re-emits them, possibly closed, under their original version)
    history
      .join(affected, Seq(keyCol), "left_anti")
      .unionByName(history.where(col("is_current") === 0)
        .join(affected, Seq(keyCol)))
      .unionByName(rebased)
  }
}
