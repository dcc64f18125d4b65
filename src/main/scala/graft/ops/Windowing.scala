package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time windowing (SURVEY.md §2.5–2.6).
  *
  * Tumbling/sliding/session windows re-expressed with Catalyst's native
  * `window()` / `session_window()` expressions — the `TimeWindow` rewrite
  * turns these into plain projections + hash aggregation, so a windowed
  * count at 100 TB is one shuffle on (window, key) with map-side partials.
  * The streaming twins in [[graft.streaming.StreamingOps]] call these same
  * operators on a watermarked stream, so batch and streaming share one
  * definition.
  */
object Windowing {

  /** Keyed tumbling event-time window count (W1/A6/M1,
    * reference Windows.scala:84-86, 197-203). Window bounds are surfaced as
    * `w_start`/`w_end` — the analogue of Flink's `context.window` metadata
    * (W6, reference Windows.scala:129,150).
    */
  def tumblingCount(df: DataFrame, tsCol: String, size: String, keys: Column*): DataFrame =
    df.groupBy((window(col(tsCol), size) +: keys): _*)
      .count()
      .select((Seq(col("window.start").as("w_start"), col("window.end").as("w_end")) ++
        keys :+ col("count").as("cnt")): _*)

  /** Sliding event-time window count (W2, reference Windows.scala:244-247).
    * Each event lands in size/slide windows; Catalyst expands that with a
    * Generator (no self-join), then one hash aggregation.
    */
  def slidingCount(df: DataFrame, tsCol: String, size: String, slide: String): DataFrame =
    df.groupBy(window(col(tsCol), size, slide))
      .count()
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("count").as("cnt"))

  /** Keyed session window with gap (W3,
    * reference Windows.scala:317-323,330-338): native `session_window`
    * (Spark ≥3.2) — start = first event, end = last event + gap, merged
    * while gaps < gap. Partitioned by key → scales as one shuffle.
    */
  def sessionAgg(df: DataFrame, tsCol: String, gap: String, key: String): DataFrame =
    df.groupBy(session_window(col(tsCol), gap), col(key))
      .count()
      .select(col(key), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("count").as("cnt"))

  /** "Window with the most events" — the reference's top-k exercise (W7,
    * reference Windows.scala:367-391: slide → count → driver-side maxBy).
    * Here the argmax stays distributed: TakeOrderedAndProject (no full sort)
    * with a deterministic tie-break on window start.
    */
  def busiestWindow(df: DataFrame, tsCol: String, size: String, slide: String,
      pred: Column): DataFrame =
    df.where(pred)
      .groupBy(window(col(tsCol), size, slide))
      .count()
      .select(col("window.start").as("w_start"), col("count").as("cnt"))
      .orderBy(col("cnt").desc, col("w_start").asc)
      .limit(1)

  /** Retention cohort matrix: keys grouped by first-seen week, counted
    * in each later week they were active — the (cohort × week-offset)
    * triangle behind every retention chart, and for a data platform the
    * "are last month's onboarded sources still sending?" readout.
    * Week truncation is ISO-Monday in both Spark and DuckDB; offsets are
    * exact day differences (multiples of 7) divided out, so the matrix
    * is engine-exact. Two aggregations: distinct (key, week) activity,
    * then the min-week cohort joined back — both keyed on the
    * high-cardinality key.
    */
  def retentionCohorts(events: DataFrame, tsCol: String,
      keyCol: String): DataFrame = {
    val weeks = events
      .select(col(keyCol), date_trunc("week", col(tsCol)).as("week"))
      .distinct()
    val cohorts = weeks.groupBy(col(keyCol))
      .agg(min(col("week")).as("cohort_week"))
    weeks.join(cohorts, Seq(keyCol))
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7).cast("int")
          .as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
  }

  /** Volume-anomaly flags over keyed tumbling windows — the pipeline
    * observability alarm ("source X suddenly sends 10×… or nothing"):
    * for each key, flag windows whose event count deviates from the
    * key's own per-window mean by more than `sigmas` population standard
    * deviations. Missing (key, window) combinations enter as count 0 via
    * the key × observed-window spine — a silent source is the headline
    * anomaly, not a missing row.
    *
    * The test is EXACT integer algebra: with per-key window count n,
    * count sum S and sum of squares SS,
    *   |cnt − S/n| > σ·sd_pop ⟺ (n·cnt − S)² > σ²·(n·SS − S²),
    * so no float mean or stddev is ever computed, let alone rounded —
    * the flag is engine-exact (DECIMAL(38,0) arithmetic keeps
    * billion-count windows away from long overflow, and ANSI mode makes
    * a true overflow an error, not a wrong flag).
    *
    * `keyCol` is a monitoring dimension (source, event_type, shard) —
    * low cardinality by nature, so the spine cross join is small; the
    * heavy input passes through one map-side-combined (key, window)
    * count.
    */
  def volumeAnomalies(events: DataFrame, tsCol: String, keyCol: String,
      size: String, sigmas: Int = 2): DataFrame = {
    require(sigmas > 0, s"volumeAnomalies: sigmas must be positive, got $sigmas")
    val dec = "decimal(38,0)"
    val counted = events
      .groupBy(window(col(tsCol), size).getField("start").as("w_start"),
        col(keyCol))
      .agg(count(lit(1)).as("cnt"))
    // null-SAFE joins throughout (renamed sides — the spine derives from
    // `counted`, so dataset-qualified refs trip the ambiguous-self-join
    // detector): a null-labeled source is a real monitored group (groupBy
    // already keeps it) — plain equi-joins would zero its counts at the
    // spine and then drop its rows at the stats join, silently
    // un-monitoring exactly one stream
    val spine = counted.select(col(keyCol).as("_k")).distinct()
      .crossJoin(counted.select(col("w_start").as("_w")).distinct())
    val filled = spine.join(counted,
        col("_k") <=> col(keyCol) && col("_w") === col("w_start"), "left")
      .select(col("_k").as(keyCol), col("_w").as("w_start"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    val stats = filled.groupBy(col(keyCol))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("cnt")).cast(dec).as("s"),
        // square in decimal BEFORE summing: a long cnt*cnt aggregate
        // overflows past ~3e9-count windows before any cast applies
        sum(col("cnt").cast(dec) * col("cnt").cast(dec)).as("ss"))
      .withColumnRenamed(keyCol, "_sk")
    val dev = col("n") * col("cnt").cast(dec) - col("s")
    filled.join(stats, col(keyCol) <=> col("_sk"))
      .select(col(keyCol), col("w_start"), col("cnt"),
        (dev * dev >
          lit(sigmas * sigmas) * (col("n") * col("ss") - col("s") * col("s")))
          .cast("int").as("anomaly"))
  }

  /** Ordered funnel: per key, the earliest time each step of `steps` can
    * complete GIVEN the previous step already has (greedy earliest-
    * completion — the standard funnel semantics: t_k = min ts of step k
    * events at or after t_{k-1}). Returns one row per key with the step
    * timestamps (null once the sequence breaks — nulls cascade by
    * construction since a null t_{k-1} joins away its candidates).
    *
    * Sequential-pattern matching in relational form: one filtered
    * min-aggregate per step joined on the key — `steps.length` key-keyed
    * shuffles of (key, ts) pairs, no window over the event stream, no
    * per-key state machine. Events sharing the boundary timestamp count
    * (>=, not >): two steps can complete in the same instant, matching
    * the usual analytics convention.
    */
  def funnelTimes(events: DataFrame, steps: Seq[String],
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnelTimes: need at least one step")
    steps.zipWithIndex.foldLeft(
      events.select(col(keyCol)).distinct()) { case (acc, (st, i)) =>
      val cands = events.where(col(typeCol) === st)
        .select(col(keyCol), col(tsCol).as("_t"))
      val reached =
        (if (i == 0) cands
         else cands.join(acc.select(col(keyCol), col(s"t${i - 1}")), Seq(keyCol))
           .where(col("_t") >= col(s"t${i - 1}")))
          .groupBy(col(keyCol)).agg(min(col("_t")).as(s"t$i"))
      acc.join(reached, Seq(keyCol), "left")
    }
  }

  /** Fold an append-only event batch into standing [[funnelTimes]] state
    * without revisiting history: under the append-only-ts discipline a
    * key's existing step times never move (every new candidate is later
    * than every old one, so an achieved min stands), and new events can
    * only FILL the first null step onward — so the fold is, per step in
    * order, t_k = coalesce(standing t_k, min batch ts of step k at or
    * after the folded t_{k-1}). Exactly equals the full-history
    * recompute (spec'd). State = one row per key seen so far.
    *
    * The append-only discipline is NOT enforced here (unlike
    * [[graft.ops.History.scd2Apply]], the state carries no "last ts
    * seen" watermark to check against): a late event older than an
    * achieved step time is silently ignored — the result is then the
    * funnel of the stream AS DELIVERED, which may complete later (never
    * earlier) than the full recompute over the true order. Feeds that
    * cannot guarantee order should recompute with [[funnelTimes]].
    */
  def funnelApply(state: DataFrame, batch: DataFrame, steps: Seq[String],
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnelApply: need at least one step")
    val allKeys = state.select(col(keyCol))
      .unionByName(batch.select(col(keyCol))).distinct()
    val base = allKeys.join(state, Seq(keyCol), "left")
    steps.zipWithIndex.foldLeft(base) { case (acc, (st, i)) =>
      val cands = batch.where(col(typeCol) === st)
        .select(col(keyCol), col(tsCol).as("_t"))
      val fromBatch =
        (if (i == 0) cands
         else cands.join(acc.select(col(keyCol),
             col(s"t${i - 1}").as("_prev")), Seq(keyCol))
           .where(col("_prev").isNotNull && col("_t") >= col("_prev")))
          .groupBy(col(keyCol)).agg(min(col("_t")).as(s"_new$i"))
      acc.join(fromBatch, Seq(keyCol), "left")
        .withColumn(s"t$i", coalesce(col(s"t$i"), col(s"_new$i")))
        .drop(s"_new$i")
    }
  }

  /** Funnel summary: how many keys complete each step prefix (the
    * conversion report). Step counts are non-increasing by construction.
    */
  def funnelCounts(events: DataFrame, steps: Seq[String],
      keyCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val times = funnelTimes(events, steps, keyCol, tsCol, typeCol)
    // coalesce: a global agg over zero rows sums to null, but an empty
    // event stream has reached-count 0, not null (oracle counts agree)
    val aggs = steps.indices.map(i =>
      coalesce(sum(col(s"t$i").isNotNull.cast("long")), lit(0L)).as(s"c$i"))
    val wide = times.agg(aggs.head, aggs.tail: _*)
    val pairs = steps.zipWithIndex.map { case (st, i) =>
      struct(lit(i).as("step_idx"), lit(st).as("step"),
        col(s"c$i").as("reached"))
    }
    wide.select(explode(array(pairs: _*)).as("r"))
      .select(col("r.step_idx"), col("r.step"), col("r.reached"))
  }
}
