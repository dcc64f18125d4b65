package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Sinks (SURVEY.md §2.2, K1-K6).
  *
  * Batch: `DataFrameWriter` covers writeAsText/writeAsCsv/collect.
  * Streaming: checkpointed file sink = the reference's exactly-once
  * `StreamingFileSink` (reference BuiltIn.scala:200-226) — Spark rolls
  * files per micro-batch with a write-ahead log + idempotent commits,
  * same guarantee, trigger interval playing the rolling-policy role.
  */
object Sinks {

  /** K1: `writeAsText` — one dir per sink, one file per partition. */
  def writeText(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").text(path)

  /** K2: `writeAsCsv(path, OVERWRITE)`. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "false").csv(path)

  /** K3: `print()` — console sink. */
  def printSink(df: DataFrame, rows: Int = 20): Unit = df.show(rows, false)

  /** K4: `addSink(lambda)` — arbitrary per-record side effect. */
  def foreachSink[T](ds: Dataset[T])(f: T => Unit): Unit = ds.foreach(f)

  /** K6: `executeAndCollect()`. */
  def collectRows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** K5: exactly-once rolling file sink (streaming). Caller starts the
    * returned writer; `trigger` ≈ the reference's rollover interval.
    */
  def rollingFileSink(df: DataFrame, path: String, checkpoint: String,
      format: String = "csv", triggerMs: Long = 1000L): DataStreamWriter[Row] =
    graft.streaming.LocalCheckpointFs.checkpointed(df).writeStream
      .format(format)
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(triggerMs))

  /** Runs a batch operator on every micro-batch of `stream` — the one
    * way a standing-artifact operator serves a stream, e.g.
    * `eachBatch(queries)(b => sink(Retrieval.bm25TopKAll(index, stats, b, k)))`
    * or `eachBatch(votes)(b => save(Preference.btMerge(state(), b)))`.
    * Returns the un-started writer; the caller owns trigger and
    * checkpoint. Installs [[graft.streaming.LocalCheckpointFs]], so a
    * `file:` checkpoint starts no `chmod`/`readlink` process.
    *
    * foreachBatch rather than a stream-static join: each batch is planned
    * again, so its `IN` literal or probe-cell filter reaches the
    * bucket-pruned index scan while the index side never moves.
    *
    * Delivery is at-least-once: after a restart Spark may run `apply`
    * again for a batch it already ran, so a `save(merge(state(), b))`
    * fold can count that batch twice.
    */
  def eachBatch(stream: DataFrame)(apply: DataFrame => Unit): DataStreamWriter[Row] =
    graft.streaming.LocalCheckpointFs.checkpointed(stream).writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) => apply(b) }

  /** Range-clustered parquet write — the layout-management half of a
    * 100 TB pipeline. `repartitionByRange` gives every output file a
    * DISJOINT value range on the cluster keys and `sortWithinPartitions`
    * orders rows inside each file, so parquet min/max statistics let any
    * downstream range or point predicate skip whole files and row groups
    * instead of scanning the corpus (beyond what predicate pushdown alone
    * buys on a randomly-laid-out table). Range boundaries come from a
    * reservoir sample of the keys (Spark's range partitioner), so skew
    * surfaces as uneven file sizes, not failures. The sort also
    * maximizes parquet RLE/dictionary efficiency on the cluster keys —
    * clustered tables are usually smaller, not just faster to probe.
    * One shuffle, executed once at write time, amortized over every
    * future scan: the write-side complement of [[graft.ops.IndexTables]]
    * (which buys hash-bucketed JOIN locality; this buys range-scan
    * pruning).
    */
  def writeRangeClustered(df: DataFrame, path: String, nFiles: Int,
      clusterCols: Seq[String]): Unit = {
    require(clusterCols.nonEmpty, "at least one cluster column required")
    val cols = clusterCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(nFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file manifest of a parquet directory — the delivery artifact a
    * training-data handoff needs: every data file with its row count,
    * on-disk size, an order-independent content hash, and (optionally)
    * the min/max of the cluster keys, making the range-pruning promise
    * of [[writeRangeClustered]] auditable file by file. The file
    * universe comes from one directory listStatus (the same
    * metadata-sized driver operation every scan's file index performs),
    * so zero-row data files still appear — with n_rows 0 and hash 0 —
    * and a manifest-vs-shipped reconcile cannot miss them; the row
    * counting and hashing stay DISTRIBUTED, grouped per file via the
    * `_metadata` hidden column, so it scales to a million-file dataset
    * like any other query.
    *
    * The content hash is the exact decimal sum of per-row xxhash64 over
    * all data columns: independent of row order within a file and —
    * totaled — of how rows are split across files, so rewriting the
    * same content at different parallelism keeps Σ content_hash
    * constant while any row-level change moves it (a sum, not an XOR:
    * XOR is blind to duplicated row pairs, exactly the corruption a
    * dedup pipeline cares about). Decimal(38,0) accumulation never
    * overflows under ANSI mode: 10^11 rows × |hash| < 2^63 stays under
    * 10^31.
    */
  def shardManifest(spark: org.apache.spark.sql.SparkSession, path: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    // the directory listing is the file universe — derived from rows
    // alone, a zero-row (schema-only) data file would silently vanish
    // from the manifest and a reconcile-against-shipped-files audit
    // would miss it. One listStatus call, the same driver-side metadata
    // operation every Spark scan's file index performs (this is not
    // per-file content walking; the hashing below stays distributed).
    val dir = new org.apache.hadoop.fs.Path(path)
    val fsys = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val listing = spark.createDataFrame(
      fsys.listStatus(dir).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .map(s => (s.getPath.getName, s.getPath.toString, s.getLen)))
      .toDF("fname", "file", "file_bytes")
    val df = spark.read.parquet(path)
    val dataCols = df.columns.toSeq
    // join on the file NAME (unique within the directory): the URI
    // scheme/authority rendering of _metadata.file_path and the
    // FileSystem listing can differ (file:/ vs file:///)
    val rows = df.select(
      element_at(split(col("_metadata.file_path"), "/"), -1).as("fname") ::
        xxhash64(dataCols.map(col): _*).cast("decimal(38,0)").as("_h") ::
        keyCols.map(col).toList: _*)
    val aggs = count(lit(1)).as("n_rows") ::
      sum(col("_h")).as("content_hash") ::
      keyCols.flatMap(k =>
        Seq(min(col(k)).as(s"min_$k"), max(col(k)).as(s"max_$k"))).toList
    val perFile = rows.groupBy("fname").agg(aggs.head, aggs.tail: _*)
    listing.join(perFile, Seq("fname"), "left")
      .select(col("file") :: col("file_bytes") ::
        coalesce(col("n_rows"), lit(0L)).as("n_rows") ::
        coalesce(col("content_hash"), lit(0).cast("decimal(38,0)"))
          .as("content_hash") ::
        keyCols.flatMap(k => Seq(col(s"min_$k"), col(s"max_$k"))).toList: _*)
  }

  /** Small-file compaction plan over a manifest: assign each file to a
    * merge group by cumulative-offset binning — group = (bytes of all
    * files strictly earlier in `fileCol` order) div `target` — so groups
    * are CONTIGUOUS in the manifest's order (range-clustered layouts stay
    * range-clustered after the merge) and average `target` in size (a
    * file straddling a boundary joins the earlier group; bins are offset
    * slots, not hard caps — the deterministic convention that keeps the
    * plan a pure function of the manifest, unlike greedy
    * best-fit-with-reset which is inherently sequential). The
    * maintenance step every long-lived parquet dataset needs once
    * appends and partial rewrites accumulate sub-target files.
    *
    * The cumulative sum is a self-join, not an unpartitioned window: the
    * manifest is file-count sized by construction (one row per output
    * file), so O(F²) on it beats dragging the frame to one partition and
    * the false-alarm WindowExec WARN that comes with it (the
    * q_shard_manifest lesson). `div` keeps the bin arithmetic in exact
    * integer space at any byte total.
    *
    * Feed it [[shardManifest]] output (`sizeCol` = file_bytes) in
    * production; any (file, size) frame works — the oracle-checked query
    * plans over a virtual manifest derived purely from table data,
    * because physical parquet byte sizes are engine/encoder-specific.
    */
  def compactionPlan(manifest: DataFrame, sizeCol: String, fileCol: String,
      target: Long): DataFrame = {
    require(target > 0, s"compactionPlan: target must be positive, got $target")
    import org.apache.spark.sql.functions._
    val a = manifest.select(col(fileCol).as("_f"), col(sizeCol).as("_s"))
    val b = a.select(col("_f").as("_g"), col("_s").as("_t"))
    a.join(b, col("_g") < col("_f"), "left")
      .groupBy(col("_f"), col("_s"))
      .agg(coalesce(sum("_t"), lit(0L)).as("_cum"))
      .select(col("_f").as(fileCol), col("_s").as(sizeCol),
        expr(s"_cum div ${target}L").cast("int").as("grp"))
  }

  /** Z-order clustered write — [[writeRangeClustered]] on the Morton key
    * ([[graft.ops.Partitioning.zOrdered]]): every output file gets a
    * disjoint `zval` range, which bounds EVERY interleaved column's
    * min/max per file, so parquet footer stats skip files for predicates
    * on ANY of the columns (a single-column sort buys that for its
    * leading column only). The `zval` column is kept in the output — it
    * is the cluster key the manifest audits and future compactions
    * re-sort by. This is what OPTIMIZE ZORDER BY does in table formats,
    * expressed as write-time layout.
    */
  def writeZOrdered(df: DataFrame, path: String, nFiles: Int,
      cols: Seq[String], bits: Int): Unit =
    writeRangeClustered(graft.ops.Partitioning.zOrdered(df, cols, bits),
      path, nFiles, Seq("zval"))
}
