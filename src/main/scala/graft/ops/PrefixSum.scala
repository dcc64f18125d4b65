package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** The distributed prefix-sum machinery shared by
  * `Sampling.perplexityBuckets` and the classifier-eval score dictionary
  * (TextAnalysis.scoreDictCum): a global cumulative
  * sum over a distinct-value DICTIONARY ordered by a double-valued key,
  * computed without ever forming one unpartitioned window —
  * approx_percentile range-buckets the keys monotonically, the running
  * sum windows within each bucket, and the per-bucket totals collect
  * driver-side into broadcast offsets.
  *
  * The bucket fan-out is ADAPTIVE (round-11): it grows with the
  * dictionary so a 100×-scale near-all-distinct column never puts a
  * corpus-shaped share of the dictionary through one window partition,
  * and stays capped so the per-bucket totals remain an offset-sized
  * driver collect.
  */
private[graft] object PrefixSum {

  /** Bucket count for a dictionary of `dictRows` distinct values: the
    * historic floor of 64, then one extra bucket per ~250k dictionary
    * rows (so a window partition tops out around 250k rows — well
    * inside executor memory even with the carried count columns),
    * capped at 4096 (per-bucket totals stay a ≤4096-row driver collect
    * and the quantile probe stays resolvable).
    */
  def parts(dictRows: Long): Int =
    math.min(4096L, math.max(64L, dictRows / 250000L + 1L)).toInt

  /** Adds, for each `(cntCol, outCol)` pair, the INCLUSIVE global
    * running sum of `cntCol` over ascending `valueCol` (a double-typed
    * dictionary key). Ties in `valueCol` cannot exist UNLESS `tieCol`
    * is given: callers pass a groupBy dictionary, but a double CAST of
    * an exact key can collide past 2^53 — supply the original exact
    * column as `tieCol` and the within-bucket window orders by
    * (valueCol, tieCol), keeping the running sum deterministic and in
    * true key order (the cast is monotone, so colliding keys always
    * share a range bucket and never interleave across buckets). Sums
    * are computed in double (counts below 2^53 stay exact). Original
    * columns are preserved; the machinery's internals are dropped. The
    * input should be localCheckpoint'd by the caller — this runs a
    * count job plus a quantile-probe job plus the totals job over it.
    */
  def cumulative(dict: DataFrame, valueCol: String,
      cnts: Seq[(String, String)],
      tieCol: Option[String] = None,
      byCol: Option[String] = None,
      dictRows: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(cnts.nonEmpty, "PrefixSum.cumulative: need at least one count column")
    val v = col(valueCol)
    val byCols = byCol.toSeq
    // dictRows: caller-known dictionary size — skips the count job
    val nParts = parts(dictRows.getOrElse(dict.count()))
    val probs = (1 until nParts).map(_.toDouble / nParts)
    val accuracy = math.max(10000, nParts * 4)
    // range-bucket bounds: global, or per byCol group (the batched
    // multi-column profiler) — each group gets its OWN monotone bucket
    // grid, so the running sum stays a per-group cumulative sum exactly
    val pct = percentile_approx(v, lit(probs.toArray), lit(accuracy)).as("b")
    val boundsOf: Column => Column = byCol match {
      case None =>
        val boundsRow = dict.agg(pct).head()
        val bounds =
          if (boundsRow.isNullAt(0)) Array.empty[Double]
          else boundsRow.getSeq[Double](0).distinct.sorted.toArray
        _ => lit(bounds)
      case Some(by) =>
        val rows = dict.groupBy(col(by)).agg(pct).collect()
        val perGroup = rows.map { r =>
          r.get(0) -> (if (r.isNullAt(1)) Array.empty[Double]
            else r.getSeq[Double](1).distinct.sorted.toArray)
        }
        b => perGroup.foldLeft(lit(Array.empty[Double])) {
          case (acc, (g, bs)) => when(b <=> lit(g), lit(bs)).otherwise(acc)
        }
    }
    // bucket(s) = #{bound < s}: monotone in the key, so offset +
    // within-bucket running sum ≡ the global cumulative sum exactly
    val parted = dict.withColumn("_part",
      size(filter(boundsOf(byCol.map(col).getOrElse(lit(0))), b => b < v)))
    val totAggs = cnts.map { case (c, _) =>
      sum(col(c).cast("double")).as(s"_t_$c") }
    val totals = parted.groupBy((byCols :+ "_part").map(col): _*)
      .agg(totAggs.head, totAggs.tail: _*).collect()
      .map(r => ((byCol.map(_ => r.get(0)), r.getInt(byCols.size)),
        cnts.indices.map(i => r.getDouble(i + 1 + byCols.size)).toArray))
      .sortBy(_._1._2).sortBy(_._1._1.map(_.toString))
    // running offsets reset at each byCol group boundary
    val offs = Array.ofDim[Double](totals.length, cnts.size)
    for (r <- totals.indices; i <- cnts.indices) {
      val sameGroup = r > 0 && totals(r - 1)._1._1 == totals(r)._1._1
      offs(r)(i) =
        (if (sameGroup) offs(r - 1)(i) + totals(r - 1)._2(i) else 0.0)
    }
    val schema = StructType(
      byCol.map(by => dict.schema(by).copy(name = "_by")).toSeq ++
      (StructField("_part", IntegerType) +:
        cnts.map { case (c, _) => StructField(s"_off_$c", DoubleType) }))
    val offRows = totals.indices.map { r =>
      Row.fromSeq(totals(r)._1._1.toSeq ++
        (totals(r)._1._2 +: cnts.indices.map(i => offs(r)(i))))
    }
    import scala.jdk.CollectionConverters._
    val offDf0 = dict.sparkSession.createDataFrame(offRows.asJava, schema)
    val offDf = byCol match {
      case Some(by) => offDf0.withColumnRenamed("_by", by)
      case None     => offDf0
    }
    val w = Window.partitionBy((byCols :+ "_part").map(col): _*)
      .orderBy(v +: tieCol.map(col).toSeq: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withW = cnts.foldLeft(parted) { case (d, (c, _)) =>
      d.withColumn(s"_w_$c", sum(col(c).cast("double")).over(w)) }
    val joined = withW.join(broadcast(offDf), byCols :+ "_part")
    val withOut = cnts.foldLeft(joined) { case (d, (c, out)) =>
      d.withColumn(out, col(s"_off_$c") + col(s"_w_$c")) }
    withOut.drop("_part" +: cnts.flatMap { case (c, _) =>
      Seq(s"_off_$c", s"_w_$c") }: _*)
  }
}
