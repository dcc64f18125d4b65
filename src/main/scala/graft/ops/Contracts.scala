package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-contract enforcement for delivered tables — the ingest-time twin
  * of the corpus observability stack (drift watches distributions,
  * anomaly watches volumes, THIS watches row-level invariants): each
  * rule is a boolean Column over the row, and the report says how many
  * rows break it and where to start looking. The privacy counterpart
  * ([[kAnonymity]]) reports quasi-identifier cells too small to publish.
  */
object Contracts {

  /** One row per rule: violations (predicate FALSE or NULL — an
    * unevaluable contract is a broken contract), total rows, and the
    * smallest violating id as the repro pointer. ALL rules evaluate in
    * ONE scan (a single aggregate projects every rule's flag; the rows
    * are stacked after) — N rules never cost N passes over a 100 TB
    * table.
    */
  def violations(df: DataFrame, rules: Seq[(String, Column)],
      idCol: String): DataFrame = {
    require(rules.nonEmpty, "Contracts.violations: need at least one rule")
    val aggs = rules.zipWithIndex.flatMap { case ((_, p), i) =>
      val bad = !coalesce(p, lit(false))
      Seq(sum(bad.cast("long")).as(s"v$i"),
        min(when(bad, col(idCol))).as(s"b$i"))
    } :+ count(lit(1)).as("n_rows")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"),
        coalesce(col(s"v$i"), lit(0L)).as("n_violations"),
        col(s"b$i").as("first_bad_id"), col("n_rows").as("n_rows"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.rule"), col("r.n_violations"), col("r.first_bad_id"),
        col("r.n_rows"))
  }

  /** k-anonymity report over quasi-identifier columns: how many distinct
    * QI cells exist, how many hold fewer than `k` rows, and how many
    * ROWS sit in those re-identifiable cells — the publish/suppress
    * gate for releasing per-group statistics. One map-side-combined
    * groupBy over the QI tuple, then K-cell-sized algebra; null QI
    * values form their own cells (they are an identifier value too).
    * [[Scrub.kAnonymityAudit]] is the per-group detail twin (which
    * cells to suppress); [[Scrub.lDiversityAudit]] adds the
    * sensitive-value homogeneity check.
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[String], k: Int): DataFrame = {
    require(quasiIds.nonEmpty && k >= 2,
      s"kAnonymity: need QI columns and k >= 2, got $quasiIds / $k")
    df.groupBy(quasiIds.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .agg(count(lit(1)).as("n_cells"),
        sum((col("cnt") < k).cast("long")).as("n_small_cells"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(lit(0L)))
          .as("n_rows_at_risk"),
        min(col("cnt")).as("min_cell"))
  }

  /** Numeric column profiler — the "what is in this table" report a data
    * handoff leads with (the Deequ/Great Expectations profile): per
    * column, non-null count, null count, distinct count, min/max, mean,
    * sample stddev, and exact p50/p95, one output row per column.
    *
    * EVERY column's streaming-aggregable metric (count/null/min/max/
    * mean/std) computes in ONE aggregate pass (the [[violations]]
    * doctrine — N columns never cost N scans); the one-row wide result
    * unpivots to rows driver-free via explode.
    *
    * `exact = true` (the validation form) computes n_distinct AND the
    * exact percentiles per column off ONE distinct-value dictionary
    * (`groupBy(col).count`, a map-side-combined two-phase aggregate over
    * a single pruned parquet column): n_distinct is the dictionary's row
    * count, and p50/p95 come from [[exactPercentiles]] — a DISTRIBUTED
    * prefix sum over the dictionary (the perplexityBuckets machinery)
    * plus a driver-side interpolation replicating Spark `percentile`'s
    * exact formula. Neither metric rides the main aggregate, so there is
    * no multi-distinct Expand replicating scan rows and no exact
    * `percentile` ObjectHashAggregate holding every value of every
    * column in executor memory — the two round-9 q_profile scale
    * killers (21.9 → ~1.5 s at sf0.1; at 100 TB the dictionary is
    * distinct-value-sized and the prefix sum never forms a single
    * partition). `exact = false` (the monitoring form) keeps everything
    * inline in the one pass: HLL++ `approx_count_distinct` (±2 %) and
    * `approx_percentile` sketches — estimates, one scan, fixed memory.
    *
    * NOTE: `exact = true` executes EAGERLY — the dictionary chain runs on
    * the calling thread inside this call (so its jobs carry the caller's
    * job group and local properties; only the concurrent raw-value
    * n_distinct of [[exactProfileStats]] does not) and its results ride
    * the returned frame as literals; the frame is NOT a lazy plan over
    * `df`.
    */
  def tableProfile(df: DataFrame, cols: Seq[String],
      exact: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "Contracts.tableProfile: need at least one column")
    val aggs = cols.flatMap { c =>
      val d = col(c).cast("double")
      (if (exact) Nil
       else Seq(approx_count_distinct(col(c)).as(s"nd_$c"),
         round(percentile_approx(d, lit(0.5), lit(10000)), 4).as(s"p50_$c"),
         round(percentile_approx(d, lit(0.95), lit(10000)), 4).as(s"p95_$c"))
      ) ++ Seq(
        count(col(c)).as(s"n_$c"),
        sum(col(c).isNull.cast("long")).as(s"null_$c"),
        round(min(d), 4).as(s"min_$c"),
        round(max(d), 4).as(s"max_$c"),
        round(avg(d), 4).as(s"mean_$c"),
        round(stddev_samp(d), 4).as(s"std_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // exact path (round-17): ALL columns' dictionaries come off ONE
    // long-format pass over the table (explode to (column, value) rows,
    // one map-side-combined groupBy) instead of k concurrent per-column
    // chains — same shuffle bytes, one scan instead of k, ~6 jobs
    // instead of ~8k (guide §2.4/§1.2: remove passes before tuning them)
    val one = if (!exact) wide else {
      val stats = exactProfileStats(df, cols, Seq(0.5, 0.95))
      cols.foldLeft(wide) { (acc, c) =>
        val (nd, pcts) = stats(c)
        def p(o: Option[Double]) =
          o.map(v => round(lit(v), 4)).getOrElse(lit(null).cast("double"))
        acc.withColumn(s"nd_$c", lit(nd))
          .withColumn(s"p50_$c", p(pcts(0)))
          .withColumn(s"p95_$c", p(pcts(1)))
      }
    }
    val rows = cols.map { c =>
      struct(lit(c).as("col_name"), col(s"n_$c").as("n"),
        coalesce(col(s"null_$c"), lit(0L)).as("n_null"),
        col(s"nd_$c").as("n_distinct"), col(s"min_$c").as("min"),
        col(s"max_$c").as("max"), col(s"mean_$c").as("mean"),
        col(s"std_$c").as("std"), col(s"p50_$c").as("p50"),
        col(s"p95_$c").as("p95"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Exact n_distinct + exact percentiles of one column, computed the
    * way a 100 TB table allows: ONE two-phase `groupBy(col).count` over
    * the pruned single-column scan builds the distinct-value dictionary
    * (map-side combine — the shuffle is distinct-value-sized, never
    * row-sized), then the global cumulative count over the dictionary is
    * the DISTRIBUTED prefix sum of [[PrefixSum.cumulative]] (adaptive
    * range buckets + within-bucket windows + broadcast offsets — never
    * one unpartitioned window at any cardinality). Each requested
    * percentile then needs only the order statistics at
    * floor/ceil(p·(n−1)), looked up by rank against the cumulative
    * counts, and the interpolation replicates Spark `percentile`'s
    * exact arithmetic — `(higher − pos)·lower + (pos − lower)·higher`
    * with its two short-circuits — so the result is bit-identical to
    * the built-in exact aggregate without ever materializing every
    * value of the column in one ObjectHashAggregate buffer.
    *
    * n_distinct counts the ORIGINAL column values (the dictionary key);
    * percentile machinery runs entirely on the DOUBLE cast — the
    * dictionary re-aggregates by the cast (distinct raw values can only
    * merge under it, so the second aggregate is dictionary-sized), rows
    * whose cast is null drop out, and the cumulative window orders by
    * the cast — exactly `percentile(TRY_CAST(c AS DOUBLE), p)`
    * semantics (try_cast so an unparseable string drops out instead of
    * throwing under ANSI).
    * A string column therefore gets numeric (not lexicographic)
    * percentile ordering over its parseable values, and a column with
    * no castable values gets null percentiles instead of a rank-lookup
    * failure. Returns (n_distinct, value per requested percentile —
    * None when no non-null-cast rows exist).
    */
  private[graft] def exactColumnStats(df: DataFrame, c: String,
      ps: Seq[Double]): (Long, Seq[Option[Double]]) =
    exactProfileStats(df, Seq(c), ps)(c)

  /** The batched form: every column's (n_distinct, exact percentiles) off
    * TWO concurrent single-scan chains instead of k per-column chains.
    *
    * Percentiles: `explode` stacks the profiled columns into
    * (column-index, value-as-double) rows — `try_cast`, so malformed
    * strings drop out as null instead of throwing under ANSI — one
    * map-side-combined groupBy builds ALL value dictionaries in a single
    * scan+shuffle, and ONE [[PrefixSum.cumulative]] (partitioned by
    * column via `byCol`) ranks them together.
    *
    * n_distinct: when every profiled column's type casts to double
    * INJECTIVELY (int and narrower, float/double, boolean, decimal with
    * ≤ 15 digits — all below 2^53), distinct raw values ≡ distinct
    * dictionary keys and n_distinct reads off the same dictionary for
    * free. Otherwise (strings, longs, wide decimals) one separate
    * `count(DISTINCT col)`-per-column aggregate over RAW values runs
    * concurrently with the dictionary chain; its Expand multiplies rows
    * only into map-side partial aggregates — it never rides the returned
    * frame's plan and never joins a percentile buffer (the round-9
    * q_profile scale killers).
    */
  private[graft] def exactProfileStats(df: DataFrame, cols: Seq[String],
      ps: Seq[Double]): Map[String, (Long, Seq[Option[Double]])] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    import org.apache.spark.sql.types._
    def injective(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | FloatType | DoubleType |
           BooleanType => true
      case d: DecimalType => d.precision <= 15
      case _ => false
    }
    val schemaByName = df.schema.map(f => f.name -> f.dataType).toMap
    val allInjective = cols.forall(c =>
      schemaByName.get(c).exists(injective))
    val ndFut = if (allInjective) None else Some(Future {
      val row = df.agg(countDistinct(col(cols.head)),
        cols.tail.map(c => countDistinct(col(c))): _*).head()
      cols.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    })
    val entries = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("_i"),
        expr(s"try_cast(`$c` AS DOUBLE)").as("_d"))
    }
    // round 17b measured-and-rejected (guide §1): fanning this explode
    // (kernel fan on the pre-projected 4 columns) ablated +0.49 s, and
    // fanning the wide aggregate too +1.65 s — the 600k-row exchange
    // (with round-robin's local sort) costs more than the 5-split scan
    // stage it parallelizes, because the near-all-distinct dictionary
    // gives the partial aggregate nothing to combine either way. Left on
    // the scan splits.
    val dictD = df
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e._i").as("_i"), col("e._d").as("_d"))
      .where(col("_d").isNotNull)
      .groupBy("_i", "_d").agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    // one tiny job: per column, the castable row total the percentile
    // positions index into + the dictionary row count (≡ n_distinct on
    // the all-injective path)
    val nRows = dictD.groupBy("_i")
      .agg(sum("_c").as("_n"), count(lit(1)).as("_rows")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ns = cols.indices.map(i => nRows.get(i).map(_._1).getOrElse(0L))
    val dictRows = nRows.values.map(_._2).sum
    val nds = ndFut match {
      case Some(f) => Await.result(f, Duration.Inf)
      case None    => cols.indices.map(i =>
        nRows.get(i).map(_._2).getOrElse(0L))
    }
    // per-column 0-indexed order statistics wanted from the shared
    // cumulative frame (none for all-null/uncastable columns)
    val ranksOf = cols.indices.map { i =>
      if (ns(i) == 0L) Seq.empty[Long]
      else ps.map(p => p * (ns(i) - 1).toDouble)
        .flatMap(r => Seq(math.floor(r).toLong, math.ceil(r).toLong))
        .distinct
    }
    val hits: Map[(Int, Long), Double] =
      if (ranksOf.forall(_.isEmpty)) Map.empty
      else {
        // Round 17 (guide §1.2/§2.3): rank-TARGETED order statistics
        // instead of the full PrefixSum.cumulative — the profiler throws
        // away all but ~4 rows per column of the global running sum, so
        // windowing the whole dictionary (583k rows for a near-all-
        // distinct column at sf0.1) was pure waste. Same bucket algebra:
        // monotone range buckets from a percentile sketch (bounds only
        // BALANCE buckets — exactness never depends on them, hence the
        // lighter accuracy), exact per-bucket mass collected to driver
        // offsets, then the within-bucket running sum runs ONLY over the
        // buckets that contain a wanted rank (≤ ranks-per-column buckets
        // of ~dictRows/parts rows each, instead of the whole dictionary).
        import org.apache.spark.sql.expressions.Window
        val nParts = PrefixSum.parts(dictRows)
        val probs = (1 until nParts).map(_.toDouble / nParts)
        val accuracy = math.max(1000, nParts * 4)
        val pct = percentile_approx(col("_d"), lit(probs.toArray),
          lit(accuracy)).as("b")
        val perGroup: Map[Int, Array[Double]] =
          dictD.groupBy(col("_i")).agg(pct).collect().map { r =>
            r.getInt(0) -> (if (r.isNullAt(1)) Array.empty[Double]
              else r.getSeq[Double](1).distinct.sorted.toArray)
          }.toMap
        val boundsCol = perGroup.foldLeft(lit(Array.empty[Double])) {
          case (acc, (g, bs)) => when(col("_i") === g, lit(bs)).otherwise(acc)
        }
        // bucket(s) = #{bound < s}: monotone in the key, so offset +
        // within-bucket running sum ≡ the global cumulative sum exactly
        val parted = dictD.withColumn("_part",
          size(filter(boundsCol, b => b < col("_d"))))
        val mass: Map[(Int, Int), Double] = parted
          .groupBy(col("_i"), col("_part"))
          .agg(sum(col("_c").cast("double")).as("_t")).collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
        val offsets: Map[(Int, Int), Double] = perGroup.flatMap {
          case (i, bs) =>
            var acc = 0.0
            (0 to bs.length).map { b =>
              val o = (i, b) -> acc
              acc += mass.getOrElse((i, b), 0.0)
              o
            }
        }
        // the one bucket holding order statistic k of column i:
        // offset ≤ k < offset + mass (exists and is unique since k < nᵢ)
        val wanted: Set[(Int, Int)] = ranksOf.zipWithIndex.flatMap {
          case (ks, i) =>
            val bs = perGroup.getOrElse(i, Array.empty[Double])
            ks.map { k =>
              (0 to bs.length).find { b =>
                offsets((i, b)) <= k.toDouble &&
                  offsets((i, b)) + mass.getOrElse((i, b), 0.0) > k.toDouble
              }.map(b => (i, b)).getOrElse((i, 0))
            }
        }.toSet
        val offCol = wanted.foldLeft(lit(0.0)) { case (acc, (i, b)) =>
          when(col("_i") === i && col("_part") === b,
            lit(offsets((i, b)))).otherwise(acc)
        }
        val inWanted = wanted.foldLeft(lit(false)) { case (acc, (i, b)) =>
          acc || (col("_i") === i && col("_part") === b)
        }
        val rankArr = cols.indices.foldLeft(
          lit(Array.empty[Long])) { (acc, i) =>
          when(col("_i") === i, lit(ranksOf(i).toArray)).otherwise(acc)
        }
        val w = Window.partitionBy(col("_i"), col("_part")).orderBy(col("_d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // the dict row holding order statistic k: cum−cnt ≤ k < cum
        parted.where(inWanted)
          .withColumn("_cum",
            offCol + sum(col("_c").cast("double")).over(w))
          .withColumn("_k", explode(filter(rankArr,
            k => col("_cum") > k && (col("_cum") - col("_c")) <= k)))
          .select(col("_i"), col("_k"), col("_d")).collect()
          .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      }
    cols.zipWithIndex.map { case (c, i) =>
      val vals =
        if (ns(i) == 0L) ps.map(_ => None)
        else ps.map(p => p * (ns(i) - 1).toDouble).map { r =>
          val (kl, kh) = (math.floor(r).toLong, math.ceil(r).toLong)
          val lo = hits((i, kl))
          if (kh == kl) Some(lo)
          else {
            val hi = hits((i, kh))
            if (hi == lo) Some(lo) else Some((kh - r) * lo + (r - kl) * hi)
          }
        }
      c -> (nds(i), vals)
    }.toMap
  }
}
