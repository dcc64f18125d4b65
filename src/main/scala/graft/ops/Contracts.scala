package graft.ops

import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

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
    * (a map-side-combined `groupBy` over the pruned columns): n_distinct
    * is the dictionary's row count, and p50/p95 are order statistics
    * found on the range-partitioned dictionary ([[exactProfileStats]])
    * plus a driver-side interpolation replicating Spark `percentile`'s
    * exact formula. Neither metric rides the main aggregate, so there is
    * no multi-distinct Expand replicating scan rows and no exact
    * `percentile` ObjectHashAggregate holding every value of every
    * column in executor memory — the two round-9 q_profile scale
    * killers. At 100 TB the dictionary is distinct-value-sized and never
    * forms a single partition. `exact = false` (the monitoring form)
    * keeps everything inline in the one pass: HLL++
    * `approx_count_distinct` (±2 %) and `approx_percentile` sketches —
    * estimates, one scan, fixed memory.
    *
    * NOTE: `exact = true` executes EAGERLY — inside this call and on the
    * calling thread (so its jobs carry the caller's job group and local
    * properties) it runs the dictionary's aggregate stage, the range
    * partitioner's sample, one per-partition count job and one job over
    * the partitions holding a wanted rank, plus a raw `count(DISTINCT)`
    * job when a column does not cast to double injectively. Its results
    * ride the returned frame as literals; the frame is NOT a lazy plan
    * over `df`.
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
    // exact path: ALL columns' dictionaries come off ONE long-format pass
    // over the table (explode to (column, value) rows, one map-side-
    // combined groupBy) instead of k per-column chains
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

  /** Exact n_distinct + exact percentiles of one column: the one-column
    * form of [[exactProfileStats]].
    *
    * n_distinct counts the ORIGINAL column values; the percentiles are
    * exactly `percentile(TRY_CAST(c AS DOUBLE), p)` (try_cast so an
    * unparseable string drops out instead of throwing under ANSI). A
    * string column therefore gets numeric (not lexicographic)
    * percentile ordering over its parseable values, and a column with
    * no castable values gets null percentiles. Returns (n_distinct,
    * value per requested percentile — None when no non-null-cast rows
    * exist).
    */
  private[graft] def exactColumnStats(df: DataFrame, c: String,
      ps: Seq[Double]): (Long, Seq[Option[Double]]) =
    exactProfileStats(df, Seq(c), ps)(c)

  /** Every column's (n_distinct, exact percentiles), all jobs on the
    * calling thread (so every job carries the caller's job group and
    * local properties).
    *
    * Percentiles: `explode` stacks the profiled columns into
    * (column-index, value-as-double) rows — `try_cast`, so malformed
    * strings drop out as null — and one map-side-combined groupBy builds
    * ALL value dictionaries in a single scan+shuffle. The dictionary is
    * range-partitioned and sorted on (column, value) in `percentile`'s
    * value order, one job counts each partition's rows and value mass
    * per column, and the driver turns those counts into the partition
    * and offset of every wanted order statistic floor/ceil(p·(n−1)). One
    * last job reads only those partitions, and the interpolation
    * replicates `percentile`'s exact arithmetic —
    * `(higher − pos)·lower + (pos − lower)·higher` with its two
    * short-circuits — so results are bit-identical to the built-in
    * aggregate. The driver receives per-partition counts and the wanted
    * rows only.
    *
    * n_distinct: when every profiled column's type casts to double
    * INJECTIVELY (int and narrower, float/double, boolean, decimal with
    * ≤ 15 digits — all below 2^53), distinct raw values ≡ distinct
    * dictionary keys and n_distinct is the dictionary's row count.
    * Otherwise (strings, longs, wide decimals) one separate
    * `count(DISTINCT col)`-per-column aggregate over RAW values runs;
    * its Expand multiplies rows only into map-side partial aggregates
    * and never rides the returned frame's plan.
    */
  private[graft] def exactProfileStats(df: DataFrame, cols: Seq[String],
      ps: Seq[Double]): Map[String, (Long, Seq[Option[Double]])] = {
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
    val dict = df
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e._i").as("_i"), col("e._d").as("_d"))
      .where(col("_d").isNotNull)
      .groupBy("_i", "_d").agg(count(lit(1)).as("_c"))
      // the aggregate emits rows in shuffle-fetch order; sorted, the
      // seeded range sample below is the same on every run
      .sortWithinPartitions("_i", "_d")
      .rdd.map(r => ((r.getInt(0), r.getDouble(1)), r.getLong(2)))
    val sc = df.sparkSession.sparkContext
    // range bounds from a reservoir sample of each dictionary partition,
    // seeded by partition: Spark's RangePartitioner seeds its sample with
    // the RDD id, so its ranges and shuffle bytes would change every run
    val nParts = df.sparkSession.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt
    val sampleSize = math.ceil(
      3.0 * math.min(20.0 * nParts, 1e6) / math.max(1, dict.getNumPartitions)).toInt
    val samples = sc.runJob(dict,
      (ctx: TaskContext, it: Iterator[((Int, Double), Long)]) => {
        val rnd = new java.util.Random(ctx.partitionId())
        val kept = new Array[(Int, Double)](sampleSize)
        var seen = 0L
        it.foreach { case (key, _) =>
          val slot = if (seen < sampleSize) seen else (rnd.nextDouble() * (seen + 1)).toLong
          if (slot < sampleSize) kept(slot.toInt) = key
          seen += 1
        }
        (seen, kept.take(math.min(seen, sampleSize.toLong).toInt))
      })
    val sorted = dict.repartitionAndSortWithinPartitions(
      new RangeBounds(rangeBounds(samples, nParts)))
    val k = cols.length
    // one job: per partition, each column's dictionary rows and value mass
    val perPart: Array[(Array[Long], Array[Long])] = sc.runJob(sorted,
      (it: Iterator[((Int, Double), Long)]) => {
        val (rows, mass) = (new Array[Long](k), new Array[Long](k))
        it.foreach { case ((i, _), c) => rows(i) += 1; mass(i) += c }
        (rows, mass)
      })
    // per column, the castable row total the percentile positions index
    // into, and the dictionary size (≡ n_distinct on the injective path)
    val ns = cols.indices.map(i => perPart.map(_._2(i)).sum)
    val nds =
      if (allInjective) cols.indices.map(i => perPart.map(_._1(i)).sum)
      else {
        val row = df.agg(countDistinct(col(cols.head)),
          cols.tail.map(c => countDistinct(col(c))): _*).head()
        cols.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
      }
    // per-column 0-indexed order statistics (none for all-null or
    // uncastable columns), each with the partition that holds it and the
    // column's mass before that partition: offset ≤ rank < offset + mass
    val wanted: Map[Int, Seq[(Int, Long, Long)]] = cols.indices.flatMap { i =>
      val ranks =
        if (ns(i) == 0L) Nil
        else ps.map(p => p * (ns(i) - 1).toDouble)
          .flatMap(r => Seq(math.floor(r).toLong, math.ceil(r).toLong)).distinct
      val offsets = perPart.scanLeft(0L)(_ + _._2(i))
      ranks.map { r =>
        val p = perPart.indices.find(p => r < offsets(p + 1)).get
        p -> (i, r, offsets(p))
      }
    }.groupMap(_._1)(_._2)
    // one job over only those partitions: a running mass per column
    val hits: Map[(Int, Long), Double] =
      if (wanted.isEmpty) Map.empty
      else sc.runJob(sorted,
        (ctx: TaskContext, it: Iterator[((Int, Double), Long)]) => {
          val want = wanted(ctx.partitionId())
          val before = scala.collection.mutable.Map(
            want.map { case (i, _, offset) => i -> offset }: _*)
          it.flatMap { case ((i, d), c) =>
            before.get(i).toSeq.flatMap { b =>
              before(i) = b + c
              want.collect { case (`i`, r, _) if b <= r && r < b + c => (i, r) -> d }
            }
          }.toArray
        }, wanted.keys.toSeq.sorted).flatten.toMap
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

  /** Spark `percentile`'s value order within each column: NaN last (a
    * groupBy has already folded -0.0 into 0.0).
    */
  private implicit val byColumnThenValue: Ordering[(Int, Double)] =
    Ordering.Tuple2(Ordering.Int, Ordering.Double.TotalOrdering)

  /** Up to `parts` − 1 bounds splitting the weighted sample into ranges
    * of equal estimated size; each sampled key stands for its
    * partition's rows over its sample size.
    */
  private def rangeBounds(samples: Array[(Long, Array[(Int, Double)])],
      parts: Int): Array[(Int, Double)] = {
    val weighted = samples.flatMap { case (n, keys) =>
      keys.map(_ -> n.toDouble / keys.length)
    }.sortBy(_._1)
    val step = weighted.map(_._2).sum / parts
    val bounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    var acc = 0.0
    for ((key, w) <- weighted) {
      acc += w
      if (acc >= step * (bounds.length + 1) && bounds.length < parts - 1) bounds += key
    }
    bounds.toArray
  }

  /** Range partitioner over sorted bounds: a key goes to the first range
    * whose bound is at or above it.
    */
  private final class RangeBounds(bounds: Array[(Int, Double)])
      extends Partitioner {
    override def numPartitions: Int = bounds.length + 1
    override def getPartition(key: Any): Int =
      bounds.search(key.asInstanceOf[(Int, Double)]).insertionPoint
  }
}
