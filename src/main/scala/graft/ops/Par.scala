package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Scale-adaptive scan fan-out (optimization guide §2.2/§2.6, §6).
  *
  * Spark's file-split arithmetic (`maxSplitBytes = min(maxPartitionBytes,
  * max(openCostInBytes, bytes/minPartitionNum))`) cannot split inside one
  * parquet row group, so a single small single-row-group file — the local
  * bench's table shape — yields a ONE-task scan no matter the core count,
  * and every scan-stage kernel (TER/chrF/BLEU DPs, curation gates, the
  * covariance grid) runs single-threaded on a 32-core host. At production
  * scale the same tables are thousands of row groups and scans parallelize
  * naturally; the two shapes need different physical plans, not a constant
  * tuned for either.
  *
  * [[fanOutKernel]] bridges them by DERIVING the decision from the input:
  * when (and only when) the frame's actual file-scan partitioning is
  * starved relative to the session's cores, insert one round-robin
  * repartition so downstream per-row work uses the whole machine;
  * otherwise return the input untouched (at scale the probe says "not
  * starved" and the plan is byte-identical to before). Use it ONLY above
  * HEAVY row-pure kernels (DP alignments, regex ladders, per-row hash
  * grids) where per-row compute dwarfs the one extra exchange: the
  * round-16 `graft.Bench` runs showed a 32-way exchange over a sub-MB table
  * costs more than a CHEAP kernel it parallelizes (q_cluster_sizes 0.54×,
  * q_ivf_topk 0.58×, q_lsh_pairs 0.58×, q_minhash_lsh 0.64× under the cold
  * median-of-3 protocol), so cheap row-pure work (projections, signature
  * hashes, explode-aggregates) is not fanned at all — a splittable scan
  * with enough bytes to amortize the exchange is already planned into
  * about `cores` splits by Spark's own arithmetic above.
  *
  * The probe reads partitioning METADATA only — the leaf scan nodes'
  * planned split count — never `df.rdd` (which under AQE materializes
  * every upstream shuffle stage, i.e. runs real jobs at
  * DataFrame-construction time). Plans that already contain a shuffle
  * exchange are returned untouched: their downstream parallelism is
  * `spark.sql.shuffle.partitions`, not the scan split count, so they are
  * not scan-starved in the §2.5 sense. The probe reads the planner's
  * `sparkPlan`, before `EnsureRequirements`, so it sees the exchange of
  * an explicit `repartition` but not the one an aggregate or join will
  * get: such a frame over a starved scan is still fanned.
  *
  * Use ONLY above row-wise-pure work (per-row kernels, filters, aggregates,
  * joins keyed on columns): a repartition changes row placement and
  * intra-partition order, so partition-sensitive operators (the Packing
  * family's partition-local packing, `monotonically_increasing_id` chains
  * not behind an explicit sort) must not sit directly downstream.
  */
object Par {
  /** starved-or-not per (cores, plan identity); bounded by the number of
    * distinct table scans a session touches. The plan identity key is the
    * 32-bit semanticHash salted with the schema hash and node count — not
    * collision-proof in theory (a full canonicalized-plan digest would be,
    * but costs a tree render per call); a collision mis-applies another
    * plan's fan decision, a perf-only misbehavior.
    */
  private val decided =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int, Int), Boolean]()

  /** Fan a starved file scan out to `defaultParallelism` partitions, for
    * sites whose downstream per-row kernel (DP alignment, regex ladder,
    * k-means grid) dominates the exchange even on a sub-MB scan
    * (`graft.Bench`, round 16: q_lang_id 1.96×, q_quality 1.76×,
    * q_token_stats 1.50×).
    */
  def fanOutKernel(df: DataFrame): DataFrame = {
    // streaming frames: micro-batch partitioning is the source's business
    // (and the probe below cannot run on an unstarted stream)
    if (df.isStreaming) return df
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (cores <= 1) return df
    val analyzed = df.queryExecution.analyzed
    val key = (cores, analyzed.semanticHash(),
      df.schema.catalogString.hashCode, analyzed.collectLeaves().size)
    val starved = decided.computeIfAbsent(key, _ => {
      val plan = df.queryExecution.sparkPlan
      // a plan already carrying a shuffle is not scan-starved: everything
      // downstream of the exchange runs at spark.sql.shuffle.partitions
      val shuffled = plan.exists { case _: ShuffleExchangeLike => true
        case _ => false }
      if (shuffled) false
      else {
        // only FILE-backed inputs qualify: an in-memory relation (test
        // fixture, literal frame) is never the 100 TB shape, and fanning
        // it would add an exchange to operators whose zero-shuffle plan
        // is a spec'd invariant. Partition counts come from the scan
        // nodes' PLANNED splits (metadata — no job, unlike df.rdd under
        // AQE).
        val v1 = plan.collect { case f: FileSourceScanExec => f }
        val v2 = plan.collect { case b: BatchScanExec => b }
        (v1.nonEmpty || v2.nonEmpty) &&
          v1.map(_.inputRDDs().head.getNumPartitions).sum +
            v2.map(_.inputRDD.getNumPartitions).sum < cores
      }
    })
    if (starved) df.repartition(cores) else df
  }

  /** Post-materialization spread (round 17b): a `localCheckpoint`ed
    * decision-sized frame inherits its parent's FINAL partitioning, which
    * under AQE's small-data coalescing is often ONE partition locally —
    * and [[fanOutKernel]]'s plan probe cannot see that (a checkpoint is
    * an RDD scan, not a file scan; the starvation only exists in the
    * materialized RDD). When such a frame feeds
    * row-AMPLIFYING work (a replicas× explode, a per-row kernel grid),
    * that work runs single-task. This helper reads the materialized
    * partition count and spreads only when starved; at scale a
    * checkpointed frame is already wide and this is the identity.
    *
    * `df` must be the direct result of `checkpoint`/`localCheckpoint`
    * (its logical plan a [[LogicalRDD]]): only then is `df.rdd` metadata.
    * On a lazy frame `df.rdd` would run every upstream shuffle stage
    * under AQE while the caller is still building its DataFrame, so such
    * a frame is rejected. Use only above row-pure work — same placement
    * caveats as [[fanOutKernel]].
    */
  def spreadCheckpointed(df: DataFrame): DataFrame = {
    require(df.queryExecution.logical.isInstanceOf[LogicalRDD],
      "spreadCheckpointed needs a checkpointed frame (logical plan " +
        s"LogicalRDD), got ${df.queryExecution.logical.nodeName}")
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (cores <= 1) return df
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }
}
