package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-stream operators: union, window join, interval join
  * (SURVEY.md §2.8; reference HandlingMultipleStreams.scala).
  *
  * Scale notes: the window join co-buckets both sides on (key, bucket) so the
  * equi-join shuffles each side exactly once; the interval join is an
  * equi-join on the key with the time range as a post-join predicate — at
  * 100 TB the key equi-condition is what keeps it a hash/sort-merge join
  * rather than a cartesian. Dimension-sized sides should be wrapped in
  * `broadcast()` by the caller (Catalyst + AQE also auto-detect).
  */
object Joins {

  /** `a.union(b)` — same-typed merge, no order guarantee (J1,
    * reference HandlingMultipleStreams.scala:49-85). Union is a zero-shuffle
    * plan node; any downstream agg shuffles once.
    */
  def unionCounts(a: DataFrame, b: DataFrame, key: String): DataFrame =
    // by name, not position: positional union silently mis-associates
    // columns when the two sides list the same fields in different order
    a.unionByName(b).groupBy(col(key)).count().withColumnRenamed("count", "cnt")

  /** Windowed equi-join (J2, reference HandlingMultipleStreams.scala:87-129):
    * pairs of events from both sides with the same key inside the same
    * tumbling window. Both sides are bucketed by `window()` *before* the
    * join, so the join keys are (key, bucket) — a plain shuffle-hash /
    * sort-merge equi-join, exactly Flink's co-windowed join semantics.
    */
  def windowJoinCount(a: DataFrame, b: DataFrame, key: String, tsCol: String,
      size: String): DataFrame = {
    val aw = a.select(col(key).as("k"), window(col(tsCol), size)("start").as("w_start"))
    val bw = b.select(col(key).as("k"), window(col(tsCol), size)("start").as("w_start"))
    aw.join(bw, Seq("k", "w_start"))
      .groupBy(col("w_start"))
      .count().withColumnRenamed("count", "cnt")
  }

  /** Keyed interval join (J3,
    * reference HandlingMultipleStreams.scala:131-210): match a-row with
    * b-rows of the same key where `a.ts − lower < b.ts < a.ts + upper`
    * (exclusive bounds, as `.lowerBoundExclusive().upperBoundExclusive()`).
    * Emits the matched id pair.
    */
  def intervalJoin(a: DataFrame, b: DataFrame, key: String, tsCol: String,
      idCol: String, bound: String): DataFrame = {
    val l = a.select(col(key).as("k"), col(tsCol).as("a_ts"), col(idCol).as("a_id"))
    val r = b.select(col(key).as("k2"), col(tsCol).as("b_ts"), col(idCol).as("b_id"))
    l.join(r,
        col("k") === col("k2") &&
        col("b_ts") > col("a_ts") - expr(s"INTERVAL $bound") &&
        col("b_ts") < col("a_ts") + expr(s"INTERVAL $bound"))
      .select(col("a_id"), col("b_id"))
  }

  /** As-of join: for every left row, the single most recent right row with
    * the same key and timestamp at-or-before the left row's — the "latest
    * value as of time t" join of feature stores, market data, and
    * session attribution. Spark has no native ASOF JOIN; the scale-right
    * distributed form is NOT a range join (which explodes to a
    * near-cartesian per key) but the union + keyed running-last trick:
    * tag both sides, sort within each key by (ts, right-before-left), and
    * carry the last non-null right payload forward with a running window —
    * ONE shuffle on the key, linear work, no pair blow-up. Inner
    * semantics: left rows with no prior right row are dropped.
    *
    * Equal timestamps on the right side are the caller's to disambiguate
    * (pre-aggregate per (key, ts)); rows at the same (key, ts, side) have
    * no defined winner, matching native ASOF implementations.
    *
    * `rightVal` must be non-null: NULL is the internal "this is a left
    * row" sentinel, so a genuinely-null right payload would be skipped by
    * the running `last(ignoreNulls)` and an OLDER version matched instead
    * (native ASOF would match the null-valued row). Wrap nullable payloads
    * in a struct before joining.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, tsCol: String,
      leftId: String, rightVal: String): DataFrame = {
    val lidT = left.schema(leftId).dataType
    val rvalT = right.schema(rightVal).dataType
    val l = left.select(col(key), col(tsCol),
      col(leftId).as("_lid"), lit(null).cast(rvalT).as("_rval"), lit(0).as("_side"))
    val r = right.select(col(key), col(tsCol),
      lit(null).cast(lidT).as("_lid"), col(rightVal).as("_rval"), lit(1).as("_side"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      // at equal ts the right row sorts first: "at-or-before" includes it
      .orderBy(col(tsCol).asc, col("_side").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    l.unionByName(r)
      .withColumn("_asof", last(col("_rval"), ignoreNulls = true).over(w))
      .where(col("_side") === 0 && col("_asof").isNotNull)
      .select(col(key), col(tsCol), col("_lid").as(leftId),
        col("_asof").as(rightVal))
  }

  /** [[asofJoin]] generalized to the pandas merge_asof surface:
    * `direction` ∈ backward (latest at-or-before — asofJoin's
    * semantics), forward (earliest at-or-after), nearest (whichever of
    * the two is closer; exact-tie → backward, deterministically), plus
    * an optional `toleranceSec` — the maximum |left ts − matched ts| in
    * the timestamp's double-cast unit (seconds for timestamps, the raw
    * value for numeric time columns); out-of-tolerance rows drop (inner
    * semantics, like the base join).
    *
    * Same scale shape as [[asofJoin]]: union + keyed running-last, ONE
    * shuffle on the key. Forward is the same running window over the
    * reversed ordering, and nearest evaluates both windows on the one
    * unioned frame — same partitioning, two sorts, still no pair
    * blow-up. The matched right timestamp rides in a struct so the
    * tolerance/nearest arithmetic never needs a second join. The
    * [[asofJoin]] non-null `rightVal` contract applies.
    */
  def asofJoinDir(left: DataFrame, right: DataFrame, key: String,
      tsCol: String, leftId: String, rightVal: String,
      direction: String = "backward",
      toleranceSec: Option[Double] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"asofJoinDir: unknown direction '$direction'")
    // internal working names must not shadow caller columns (the
    // rangeLookup _rl_bin policy: fail fast, no silent replacement)
    val reserved = Seq("_lid", "_rv0", "_side", "_r", "_b", "_f", "_m")
    val clash = (left.columns ++ right.columns).toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"asofJoinDir: inputs must not contain reserved column(s) $clash")
    val lidT = left.schema(leftId).dataType
    val rvalT = right.schema(rightVal).dataType
    val l = left.select(col(key), col(tsCol), col(leftId).as("_lid"),
      lit(null).cast(rvalT).as("_rv0"), lit(0).as("_side"))
    val r = right.select(col(key), col(tsCol),
      lit(null).cast(lidT).as("_lid"), col(rightVal).as("_rv0"),
      lit(1).as("_side"))
    val u = l.unionByName(r)
      // the whole right payload (value + its ts) rides one nullable
      // struct; left rows carry NULL so last(ignoreNulls) skips them
      .withColumn("_r", when(col("_side") === 1,
        struct(col(tsCol).as("_rts"), col("_rv0").as("_rv"))))
    import org.apache.spark.sql.expressions.Window
    val frame = (w: org.apache.spark.sql.expressions.WindowSpec) =>
      w.rowsBetween(Window.unboundedPreceding, 0)
    val back = last(col("_r"), ignoreNulls = true).over(frame(
      Window.partitionBy(col(key)).orderBy(col(tsCol).asc, col("_side").desc)))
    val fwd = last(col("_r"), ignoreNulls = true).over(frame(
      Window.partitionBy(col(key)).orderBy(col(tsCol).desc, col("_side").desc)))
    val withPick = direction match {
      case "backward" => u.withColumn("_m", back)
      case "forward"  => u.withColumn("_m", fwd)
      case "nearest"  =>
        val t = col(tsCol).cast("double")
        val db = t - col("_b._rts").cast("double")
        val df = col("_f._rts").cast("double") - t
        u.withColumn("_b", back).withColumn("_f", fwd)
          .withColumn("_m",
            when(col("_b").isNull, col("_f"))
              .when(col("_f").isNull, col("_b"))
              .when(df < db, col("_f"))
              .otherwise(col("_b")))
    }
    val tolOk = toleranceSec match {
      case None => lit(true)
      case Some(tol) =>
        abs(col(tsCol).cast("double") - col("_m._rts").cast("double")) <=
          lit(tol)
    }
    withPick
      .where(col("_side") === 0 && col("_m").isNotNull && tolOk)
      .select(col(key), col(tsCol), col("_lid").as(leftId),
        col("_m._rv").as(rightVal))
  }

  /** Point-in-interval lookup join: every fact row matched to the
    * dimension rows whose half-open interval [lo, hi) contains its point —
    * the IP→geo / value→band / ts→validity-window lookup. Spark plans a
    * bare `pt >= lo AND pt < hi` join as BroadcastNestedLoopJoin (or a
    * cartesian), which is facts × dims work; the scale-right form is BIN
    * EXPANSION: each interval explodes to the fixed-width bins it covers,
    * each point hashes to its one bin, and the match becomes a plain
    * equi-join on the bin id with the interval test as a post-join filter.
    * One shuffle of each side on the bin key (or zero for the facts side
    * when AQE broadcasts the expanded dims — it stays dimension-sized),
    * never a pair blow-up.
    *
    * `binWidth` trades expansion against join selectivity: cost is
    * Σ_dims (len/binWidth + 1) expanded rows, and at most two false bins
    * are filtered per matched pair when binWidth ≈ interval length. The
    * `maxBinsPerRow` contract fails fast when a caller passes a width
    * orders of magnitude under the interval lengths (the silent-explosion
    * guard — same policy as perplexityBuckets' dictionary fence): the
    * check is one aggregate over the DIMENSION table, which is
    * dimension-sized by definition.
    *
    * Empty and inverted intervals (lo >= hi) match nothing and are
    * dropped before expansion. Overlapping intervals yield one output row
    * per covering interval. Column names are passed through — callers own
    * disambiguation between fact and dim columns.
    */
  def rangeLookup(facts: DataFrame, dims: DataFrame, ptCol: String,
      loCol: String, hiCol: String, binWidth: Double,
      maxBinsPerRow: Long = 10000L): DataFrame = {
    require(binWidth > 0, s"binWidth must be > 0, got $binWidth")
    require(maxBinsPerRow >= 1, s"maxBinsPerRow must be >= 1")
    // The internal bin key is added with withColumn, which would silently
    // REPLACE a caller column of the same name — fail fast instead (the
    // maxBinsPerRow policy: no silent data loss).
    require(!facts.columns.contains("_rl_bin") && !dims.columns.contains("_rl_bin"),
      "rangeLookup: inputs must not contain the reserved column `_rl_bin`")
    val live = dims.where(col(loCol) < col(hiCol))
    val binsOf = (floor(col(hiCol) / binWidth) - floor(col(loCol) / binWidth)
      + 1).cast("long")
    val worst = live.agg(coalesce(max(binsOf), lit(0L))).head().getLong(0)
    require(worst <= maxBinsPerRow,
      s"rangeLookup: an interval spans $worst bins at binWidth=$binWidth " +
        s"(max allowed $maxBinsPerRow) — raise binWidth or maxBinsPerRow")
    val expanded = live.withColumn("_rl_bin", explode(sequence(
      floor(col(loCol) / binWidth).cast("long"),
      floor(col(hiCol) / binWidth).cast("long"))))
    facts.withColumn("_rl_bin", floor(col(ptCol) / binWidth).cast("long"))
      .join(expanded, Seq("_rl_bin"))
      .where(col(ptCol) >= col(loCol) && col(ptCol) < col(hiCol))
      .drop("_rl_bin")
  }

  /** connect + CoMapFunction (J5/J6,
    * reference HandlingMultipleStreams.scala:288-327): per-side transform to
    * a common shape, then union — the Spark-first decomposition of
    * `ConnectedStreams.map(f, g)`.
    */
  def coMap(a: DataFrame, fa: DataFrame => DataFrame,
      b: DataFrame, fb: DataFrame => DataFrame): DataFrame =
    fa(a).unionByName(fb(b))
}
