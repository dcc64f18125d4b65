package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once / probe-many index tables.
  *
  * The scale-safe replacement for `localCheckpoint()` on corpus-sized
  * intermediates (IVF cell assignments, LSH buckets, MinHash signatures):
  * localCheckpoint pins blocks in executor storage — it dies with executor
  * loss and is rebuilt per query — while a bucketed parquet table is written
  * once, survives failures, is reusable across queries AND JVMs, and
  * (when bucketed by the probe key) feeds joins/aggregations on that key
  * with no shuffle Exchange: the bucketing metadata already provides the
  * hash distribution.
  *
  * Reuse across processes: a completed on-disk index (marked by Spark's
  * `_SUCCESS`) is re-registered in a fresh catalog via CREATE TABLE over
  * its location instead of being rebuilt — schema comes from the parquet
  * footers, bucketing from the caller (the bucket count is baked into the
  * table name so a layout/spec mismatch cannot happen). Index tables are
  * immutable once written, so the name changes whenever the data would:
  * `ident(prefix, source)` keys it on the caller's prefix (the derivation
  * and its build parameters) plus a digest of the source's files (path,
  * length, modification time) from the listing its file scans already
  * hold — no job, no data read; every leaf must be a file scan. An
  * in-place edit of a source file therefore builds a fresh index.
  *
  * Concurrent writers: builds across JVMs are fenced by a `<path>._building`
  * marker created if absent (HDFS/local) and holding its owner, `pid@host`.
  * A marker owned by a dead process on THIS host (a JVM killed mid-build)
  * is reclaimed by an atomic rename aside; a live, other-host or ownerless
  * marker is refused. Object stores without atomic create-if-absent don't
  * get that fence — there, one writer at a time owns GRAFT_INDEX_DIR
  * (readers are always safe: they only see `_SUCCESS`-completed tables).
  */
object IndexTables {

  private val baseDir = sys.env.getOrElse("GRAFT_INDEX_DIR",
    s"${System.getProperty("java.io.tmpdir")}/graft-index")

  /** Wall seconds this JVM spent actually BUILDING index tables (fresh
    * builds only — re-registration of a completed on-disk index costs a
    * footer read and is not counted), and how many builds ran. Bench
    * reports these (`index_build_sec` / `index_builds`) so the
    * first-run cost of every standing artifact is visible instead of
    * amortized silently into whichever query happens to build it
    * (round-16 verdict #4: the standing-index doctrine must keep its
    * build price on the books).
    */
  private val buildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val buildCount = new java.util.concurrent.atomic.AtomicInteger(0)
  def buildSeconds: Double = buildNanos.get() / 1e9
  def buildsRun: Int = buildCount.get()

  /** Sanitize arbitrary cache-key parts (e.g. a data directory path) into a
    * valid SQL table identifier, stable across runs. A 4-byte content
    * digest is appended so distinct raw keys whose sanitized forms collide
    * (e.g. "sf0.01" vs "sf0-01", or '_'-boundary ambiguity between parts)
    * can never silently share — and serve each other's — persisted index.
    */
  def ident(parts: String*): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString("\u0000").getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    ("graft_idx_" + parts.mkString("_")).toLowerCase
      .replaceAll("[^a-z0-9_]", "_").take(48) + "_" + digest
  }

  /** The name of index `prefix` over `source`'s files (see object doc):
    * callers sharing a prefix must pass the same derivation of the source.
    */
  def ident(prefix: String, source: DataFrame): String = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = source.queryExecution.analyzed.collectLeaves()
    val scans = leaves.collect { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }
    require(scans.nonEmpty && scans.size == leaves.size, s"IndexTables.ident($prefix): " +
      s"every leaf must be a file scan, got ${leaves.map(_.nodeName).mkString(", ")}")
    val files = scans.flatMap(_.location.listFiles(Nil, Nil)).flatMap(_.files)
      .map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}").distinct.sorted
    ident(prefix, java.security.MessageDigest.getInstance("SHA-256")
      .digest(files.mkString("\n").getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString)
  }

  /** Hadoop FileSystem for `baseDir` — NOT java.io.File, so the stated
    * deployment (an index dir on HDFS/S3) gets the same cross-process
    * reuse and cleanup semantics as a local run.
    */
  private def fs(spark: SparkSession): FileSystem =
    new Path(baseDir).getFileSystem(spark.sessionState.newHadoopConf())

  /** If a prior [[compact]] died between deleting the main path and
    * renaming the compacted tmp copy into place, the tmp dir holds the ONLY
    * copy of any appended rows. Finishing that swap must happen on EVERY
    * access path — if only compact() recovered, a plain bucketed()/plain()
    * call would find no `_SUCCESS` at the main path and silently rebuild
    * over the lost appends. Returns true if a swap was completed.
    */
  private def finishInterruptedCompact(spark: SparkSession, name: String): Boolean = {
    val f = fs(spark)
    val mainPath = new Path(s"$baseDir/$name")
    val tmpPath = new Path(s"$baseDir/${name}_compacting")
    if (!f.exists(new Path(mainPath, "_SUCCESS")) &&
        f.exists(new Path(tmpPath, "_SUCCESS"))) {
      require(f.rename(tmpPath, mainPath),
        s"compact recovery: rename $tmpPath -> $mainPath failed; " +
          "index data is intact at the tmp path, resolve manually")
      true
    } else false
  }

  /** Whether a COMPLETED index table `name` already exists — registered
    * in this session's catalog, on disk with a `_SUCCESS` marker from an
    * earlier JVM, or recoverable from an interrupted compact's tmp copy
    * (exactly the three states in which `registerOrBuild` re-registers
    * instead of rebuilding — the tmp-copy check matters because a
    * compact that died mid-swap leaves the ONLY copy of appended rows
    * there, and the next access completes the swap rather than building
    * fresh). Callers use this to distinguish "about to build fresh"
    * from "about to re-register", e.g. to invalidate companion tables
    * exactly when the primary is rebuilt.
    */
  def exists(spark: SparkSession, name: String): Boolean = synchronized {
    spark.catalog.tableExists(name) ||
      fs(spark).exists(new Path(s"$baseDir/$name/_SUCCESS")) ||
      fs(spark).exists(new Path(s"$baseDir/${name}_compacting/_SUCCESS"))
  }

  /** This host, and this JVM as a build-marker owner: `pid@host`. */
  private[graft] lazy val markerHost =
    scala.util.Try(java.net.InetAddress.getLocalHost.getHostName).getOrElse("unknown")
  private lazy val owner = s"${ProcessHandle.current().pid()}@$markerHost"

  /** Create `marker` recording [[owner]]; false if it already exists. */
  private def claim(f: FileSystem, marker: Path): Boolean =
    try {
      val out = f.create(marker, false)
      try out.write(owner.getBytes("UTF-8")) finally out.close()
      true
    } catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }

  private def ownerOf(f: FileSystem, marker: Path): Option[String] =
    scala.util.Try {
      val in = f.open(marker)
      try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
    }.toOption.filter(_.nonEmpty)

  /** Take over `marker` if its owner is a dead process on this host. The
    * rename aside is atomic, so of two reclaimers only one moves a given
    * marker; if what moved is not the stale marker judged (a racing
    * reclaimer's live one), it is put back and the build refused.
    */
  private def reclaim(f: FileSystem, marker: Path): Boolean =
    ownerOf(f, marker).filter { o =>
      val (pid, host) = o.span(_ != '@')
      host == s"@$markerHost" &&
        pid.toLongOption.exists(!ProcessHandle.of(_).filter(_.isAlive).isPresent)
    }.exists { stale =>
      val aside = new Path(s"$marker.stale-$owner-${System.nanoTime()}")
      f.rename(marker, aside) && (
        if (ownerOf(f, aside).contains(stale)) f.delete(aside, false) && claim(f, marker)
        else { f.rename(aside, marker); false })
    }

  private def registerOrBuild(spark: SparkSession, name: String,
      bucketSpec: String, build: => Unit,
      repairAfterRegister: Boolean = false): DataFrame = synchronized {
    if (!spark.catalog.tableExists(name)) {
      val path = s"$baseDir/$name"
      val f = fs(spark)
      finishInterruptedCompact(spark, name)
      if (f.exists(new Path(s"$path/_SUCCESS"))) {
        // completed index from an earlier JVM: register, don't rebuild.
        // Schema inference here reads one parquet footer, not the data.
        val schema = spark.read.parquet(path).schema.toDDL
        spark.sql(s"CREATE TABLE $name ($schema) USING PARQUET " +
          s"$bucketSpec LOCATION '$path'")
        // a re-registered PARTITIONED table has an empty partition list
        // in the metastore until the directories are discovered
        if (repairAfterRegister) { spark.sql(s"MSCK REPAIR TABLE $name"); () }
      } else {
        // cross-PROCESS build guard (`synchronized` only covers this JVM;
        // see object Scaladoc)
        val marker = new Path(s"$path._building")
        require(claim(f, marker) || reclaim(f, marker),
          s"index build of $name appears to be in progress in another " +
            s"process (marker $marker exists); wait for it to finish, or " +
            "delete the marker if that process died on another host")
        val t0 = System.nanoTime()
        try build
        finally {
          buildNanos.addAndGet(System.nanoTime() - t0)
          buildCount.incrementAndGet()
          f.delete(marker, false); ()
        }
      }
    }
    spark.table(name)
  }

  /** Materialize `build` as a parquet table bucketed by `bucketCols` the
    * first time `name` is requested (per catalog, with cross-JVM on-disk
    * reuse); afterwards return the registered table scan. Joins/groupBys on
    * `bucketCols` over the result need no Exchange (asserted in
    * DedupSimilaritySpec).
    */
  def bucketed(spark: SparkSession, name: String, nBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String])(build: => DataFrame): DataFrame = {
    val n = s"${name}_b$nBuckets"
    val sorted = if (sortCols.nonEmpty) s"SORTED BY (${sortCols.mkString(", ")}) " else ""
    registerOrBuild(spark, n,
      s"CLUSTERED BY (${bucketCols.mkString(", ")}) ${sorted}INTO $nBuckets BUCKETS", {
        val w = build.write.mode("overwrite").option("path", s"$baseDir/$n")
          .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
        (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
          .saveAsTable(n)
      })
  }

  /** Incremental maintenance for a growing corpus: append rows to an
    * existing bucketed index table. insertInto honors the catalog's bucket
    * spec — appended files carry bucket suffixes like the originals — so
    * probes keep their no-Exchange property and readers see the union
    * (asserted in DedupSimilaritySpec). Each append adds one file set per
    * bucket; rebuild (overwrite) periodically if appends accumulate.
    * `name` is the FULL table name as returned by `bucketed`'s catalog
    * entry (including the `_b<n>` suffix).
    */
  def append(spark: SparkSession, name: String, rows: DataFrame): Unit =
    synchronized { rows.write.mode("append").insertInto(name) }

  /** Compact an appended bucketed index: each `append` adds one file set
    * per bucket, and reads degrade as small files accumulate. Rewriting
    * snapshots the current rows (append is the only mutation, so the
    * snapshot is consistent), drops the old table+files, and rebuilds the
    * same name with one file set — same bucket spec, probes keep their
    * no-Exchange property throughout. `name` is the full table name;
    * `nBuckets`/`bucketCols`/`sortCols` must match the original build.
    */
  def compact(spark: SparkSession, name: String, nBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String]): Unit = synchronized {
    val f = fs(spark)
    val tmpName = s"${name}_compacting"
    val mainPath = new Path(s"$baseDir/$name")
    val tmpPath = new Path(s"$baseDir/$tmpName")
    def register(): Unit = {
      val schema = spark.read.parquet(mainPath.toString).schema.toDDL
      val sorted = if (sortCols.nonEmpty) s"SORTED BY (${sortCols.mkString(", ")}) " else ""
      spark.sql(s"CREATE TABLE $name ($schema) USING PARQUET " +
        s"CLUSTERED BY (${bucketCols.mkString(", ")}) ${sorted}INTO $nBuckets BUCKETS " +
        s"LOCATION '$mainPath'")
    }
    // crash recovery: if a prior compact died between delete and rename,
    // the tmp dir holds the ONLY copy (appended rows are not reproducible
    // by any rebuild) — finish its swap instead of deleting it. The same
    // check runs in registerOrBuild so ANY access path completes the swap.
    if (finishInterruptedCompact(spark, name)) {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      register()
      return // the recovered copy IS the completed compaction
    }
    drop(spark, tmpName) // plain debris from before a tmp write finished
    // distributed rewrite to a sibling path (never through the driver:
    // index tables scale with the corpus), fully executed before the old
    // files are touched. Repartitioning on the bucket columns guarantees
    // the small-file collapse this exists for — without it each read task
    // writes its own per-bucket files and the file count can stay ~as high
    // as before.
    val snapshot = spark.table(name)
      .repartition(nBuckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
    val w = snapshot.write.mode("overwrite")
      .option("path", tmpPath.toString)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tmpName)
    // swap: drop old catalog entry + files, rename (metadata-only on
    // HDFS/local), re-register under the original name. Hadoop FileSystem
    // reports most failures via a false return, not an exception — every
    // step is checked so a failed swap stops HERE, while the data still
    // exists at the tmp path, instead of registering an empty table.
    spark.sql(s"DROP TABLE IF EXISTS $name")
    require(!f.exists(mainPath) || f.delete(mainPath, true),
      s"compact: could not delete old index files at $mainPath; " +
        s"compacted copy is intact at $tmpPath")
    require(f.rename(tmpPath, mainPath),
      s"compact: rename $tmpPath -> $mainPath failed; " +
        s"compacted copy is intact at $tmpPath")
    spark.sql(s"DROP TABLE IF EXISTS $tmpName") // external: files already moved
    register()
  }

  /** Drop an index: catalog entry AND on-disk files (so the next `bucketed`
    * call rebuilds instead of re-registering). The rebuild half of the
    * append-then-compact maintenance cycle. `name` is the full table name.
    */
  def drop(spark: SparkSession, name: String): Unit = synchronized {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val f = fs(spark)
    val dir = new Path(s"$baseDir/$name")
    if (f.exists(dir)) { f.delete(dir, true); () }
    // "the next call rebuilds" also clears the build marker (a SIBLING of
    // the table dir), whatever its owner: needed for a build killed on
    // another host (this host's dead builds are reclaimed). So drop must
    // NOT race a live build — it force-clears that fence just the same.
    val marker = new Path(s"$baseDir/$name._building")
    if (f.exists(marker)) { f.delete(marker, false); () }
  }

  /** Un-bucketed variant for indexes whose probe key is derived downstream
    * (e.g. MinHash band hashes, computed after an explode of the stored
    * signature): materialization still buys build-once + failure-safety.
    */
  def plain(spark: SparkSession, name: String)(build: => DataFrame): DataFrame =
    registerOrBuild(spark, name, "",
      build.write.mode("overwrite").option("path", s"$baseDir/$name")
        .saveAsTable(name))

  /** Materialize `build` as a parquet table PARTITIONED BY `partCols`
    * (directory layout). Use this when the key is a literal FILTER key
    * of bounded cardinality (IVF cells, shards, dates): a partition
    * filter prunes directories in ANY plan shape, whereas bucket
    * pruning is discarded whenever the planner disables the bucketed
    * scan on a query with no bucketing-interested operator (observed on
    * the IVF-PQ cell probe — a plain filter+sort read all 8 buckets).
    * Use [[bucketed]] when the key is a JOIN/groupBy key.
    */
  def partitioned(spark: SparkSession, name: String,
      partCols: Seq[String])(build: => DataFrame): DataFrame =
    registerOrBuild(spark, name,
      s"PARTITIONED BY (${partCols.mkString(", ")})",
      build.write.mode("overwrite").option("path", s"$baseDir/$name")
        .partitionBy(partCols: _*).saveAsTable(name),
      repairAfterRegister = true)
}
