package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (ARRAY<FLOAT>).
  *
  * Baseline: brute-force cosine — a broadcast of the (small) query set
  * against the (huge) corpus, all math in higher-order array functions
  * (`zip_with` + `aggregate`), accumulated in double. Scale path: random
  * hyperplane LSH buckets (deterministic seed) so candidate generation is a
  * bucket equi-join instead of a cartesian product.
  *
  * Vectors are unit-normalized ONCE per row (norm in its own column, never
  * inside a lambda) so every pairwise cosine is a single dot product —
  * at N×M pair scale this removes 2/3 of the float work, and it keeps the
  * per-pair expression tree small (higher-order array functions are
  * interpreted, not codegen'd: tree size is the constant factor).
  */
object Similarity {

  /** Dot product of two array columns, accumulated in double precision.
    * Backed by the codegen'd [[graft.functions.ArrayKernels.ArrayDotProduct]]
    * kernel — the interpreted `aggregate(zip_with(...))` form costs ~10× per
    * pair and pays a multi-second first-use interpretation setup.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.ArrayKernels.array_dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** (id, unit-normalized embedding) — the norm is materialized as its own
    * column so it is computed once per vector, not once per lambda element
    * and not once per candidate pair.
    */
  private def unitVecs(emb: DataFrame, idAs: String, embAs: String): DataFrame =
    emb.select(col("vec_id").as(idAs), asDouble(col("embedding")).as("e"),
        l2norm(asDouble(col("embedding"))).as("nrm"))
      // zero-norm vectors have no direction: excluded rather than silently
      // divided into NULLs (which the dot kernel would read as 0.0).
      // The division itself is still guarded: subexpression elimination
      // can hoist the transform into a PREDICATE evaluated before this
      // filter (observed in the v8 recipe composition), where a zero-norm
      // row would throw ANSI DIVIDE_BY_ZERO — `when` short-circuits, so
      // excluded rows never execute the division wherever Catalyst places
      // it (the value 0.0 is unobservable: the row is filtered)
      .where(col("nrm") > 0)
      .select(col(idAs), transform(col("e"),
        x => when(col("nrm") > 0, x / col("nrm")).otherwise(lit(0.0))).as(embAs))

  /** Scalar int8 quantization quality report — the 4× storage cut every
    * large embedding store takes before ANN indexing. Per-vector symmetric
    * scale (`maxAbs/127`); the quantizer is `floor(x/scale + 0.5)` —
    * explicit floor-of-shifted, NOT an engine `round()`, because engines
    * disagree on tie behavior (HALF_UP vs half-even) and this form is
    * bit-identical everywhere, which is what lets DuckDB oracle the whole
    * computation. Zero vectors carry no direction and are excluded (the
    * [[unitVecs]] convention). Returns per-vector scale and reconstruction
    * error (max abs + RMSE) — the go/no-go readout for whether int8 is
    * safe for a given embedding family. Zero shuffle; one scan. (HOF
    * expressions, not a kernel: this runs once per corpus build, not per
    * query.)
    */
  def quantizeInt8Stats(emb: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val maxAbs = array_max(transform(v, x => abs(x)))
    val scale = col("ma") / 127.0
    val recon = transform(col("v"), x => floor(x / col("sc") + lit(0.5)) * col("sc"))
    emb
      .select(col("vec_id"), v.as("v"), maxAbs.as("ma"))
      // NaN sorts above 0 in Spark, so `ma > 0` alone would admit NaN/Inf
      // vectors and report NaN stats; the report excludes them like zeros
      .where(col("ma") > 0 && !isnan(col("ma")) &&
        col("ma") =!= Double.PositiveInfinity)
      .withColumn("sc", scale)
      .withColumn("r", recon)
      .select(col("vec_id"), col("sc"), col("v"), col("r"),
        zip_with(col("v"), col("r"), (a, b) => abs(a - b)).as("err"))
      .select(
        col("vec_id"),
        round(col("sc"), 6).as("scale"),
        round(array_max(col("err")), 6).as("max_err"),
        round(sqrt(aggregate(zip_with(col("v"), col("r"),
            (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
          / size(col("v"))), 6).as("rmse"))
  }

  /** The stored artifact form of [[quantizeInt8Stats]]: per-vector scale
    * plus the int8 codes (as ARRAY<INT> in [-127, 127] — parquet stores
    * them as one byte each after dictionary/bit-packing). Reconstruct
    * with `transform(q, c -> c * scale)`. Unlike the stats REPORT (which
    * may skip degenerate rows), the artifact keeps EVERY input vector —
    * a stored table that silently loses vec_ids corrupts any downstream
    * join: zero/non-finite-max vectors get scale 0 and all-zero codes
    * (reconstructing to the zero vector). PipelineOpsSpec proves top-k
    * neighbor recall survives the round-trip.
    */
  def quantizeInt8(emb: DataFrame, embCol: String = "embedding",
      carry: Seq[String] = Nil): DataFrame = {
    val v = asDouble(col(embCol))
    // Spark orders NaN above every double, so a NaN element makes `ma`
    // NaN and `ma > 0` alone would take the quantize branch, storing
    // scale NaN and NaN codes. Non-finite max-abs (NaN or ±Inf elements)
    // must fall into the degenerate branch with the zero vectors.
    val finite = col("ma") > 0 && !isnan(col("ma")) &&
      col("ma") =!= Double.PositiveInfinity
    emb
      .select(col("vec_id") +: carry.map(col) :+ v.as("v") :+
        array_max(transform(v, x => abs(x))).as("ma"): _*)
      .select(col("vec_id") +: carry.map(col) :+
        when(finite, col("ma") / 127.0).otherwise(0.0).as("scale") :+
        when(finite,
          transform(col("v"), x =>
            floor(x / (col("ma") / 127.0) + lit(0.5)).cast("int")))
          .otherwise(transform(col("v"), _ => lit(0))).as("q"): _*)
  }

  /** Element-wise mean of embedding vectors per group — class centroids,
    * cluster centroids, user/session embedding pooling. Relational form:
    * `posexplode` to (grp, dim-index, value), one hash aggregation with
    * map-side partial sums (k·dim running sums per task, independent of
    * corpus size), then per-group reassembly of the dim-sorted means.
    * Only (grp, i, partial-sum) triples shuffle — never vectors.
    * Returns (grp, n, centroid) with means rounded to 6 decimals (sum
    * order differs across engines/partitionings).
    */
  def meanPool(emb: DataFrame, groupCol: Column,
      embCol: Column = col("embedding")): DataFrame =
    meanPoolLong(emb, groupCol, embCol)
      .groupBy("grp")
      .agg(max("n").as("n"),
        transform(sort_array(collect_list(struct(col("i"), col("m")))),
          s => round(s.getField("m"), 6)).as("centroid"))

  /** [[meanPool]] before array reassembly: one row per (grp, dim) with
    * the unrounded mean — consumers that want long format (or feed the
    * means onward) should use this and skip the collect_list shuffle +
    * re-explode entirely.
    */
  def meanPoolLong(emb: DataFrame, groupCol: Column,
      embCol: Column = col("embedding")): DataFrame =
    emb.select(groupCol.as("grp"), posexplode(asDouble(embCol)).as(Seq("i", "x")))
      .groupBy("grp", "i").agg(avg("x").as("m"), count(lit(1)).as("n"))

  /** Mean quantization error `avg(1 − max_c ⟨v, c⟩)` of unit vectors
    * against their nearest centroid — the (cosine-space) k-means inertia,
    * computed corpus-wide in one scan-stage pass.
    */
  def quantizerInertia(emb: DataFrame, centroids: Array[Array[Double]]): Double =
    unitVecs(emb, "vec_id", "e")
      .select(greatest(centroids.toIndexedSeq.map(c =>
        dot(col("e"), centroidLit(c))): _*).as("d"))
      .agg(avg(lit(1.0) - col("d"))).head().getDouble(0)

  /** Distributed Lloyd refinement of an IVF coarse quantizer: re-assign
    * EVERY corpus vector to its nearest centroid and recompute centroids
    * as unit-normalized per-cell means, `iters` times. The driver-sample
    * training in [[ivfCentroids]] sees ~100k vectors; this pass corrects
    * the quantizer against the FULL distribution (tail cells the sample
    * missed) at the cost of `iters` corpus scans — the standard index
    * build/refresh trade. Per iteration only k·dim aggregated sums reach
    * the driver (centroid-sized, same contract as the trainer); empty
    * cells keep their previous centroid.
    */
  def refineCentroids(emb: DataFrame, centroids: Array[Array[Double]],
      iters: Int = 2): Array[Array[Double]] = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var cents = centroids
    val dim = cents(0).length
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      ivfAssign(emb, cents)
        .select(col("cell"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy("cell", "i").agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .collect().foreach { r =>
          val cell = r.getInt(0)
          sums(cell)(r.getInt(1)) = r.getDouble(2)
          counts(cell) = r.getLong(3)
        }
      cents = cents.indices.map { c =>
        if (counts(c) == 0) cents(c)
        else {
          val m = sums(c).map(_ / counts(c))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0) cents(c) else m.map(_ / n)
        }
      }.toArray
    }
    cents
  }

  /** Cosine similarity of every corpus vector against one query vector
    * (`queryId`). Broadcast-join of the single-row query side — zero
    * shuffle of the corpus; the filter/projection stays on the scan.
    */
  def cosineToQuery(emb: DataFrame, queryId: Long): DataFrame = {
    val q = unitVecs(emb.where(col("vec_id") === queryId), "q_id", "q_emb")
      .select("q_emb")
    unitVecs(emb.where(col("vec_id") =!= queryId), "vec_id", "emb")
      .join(broadcast(q))
      .select(col("vec_id"), round(dot(col("emb"), col("q_emb")), 4).as("cos"))
  }

  /** Brute-force top-k nearest neighbours for one query vector.
    * TakeOrderedAndProject keeps the top-k selection distributed (per-
    * partition heaps, no global sort). Deterministic tie-break on vec_id.
    */
  def topKForQuery(emb: DataFrame, queryId: Long, k: Int): DataFrame =
    cosineToQuery(emb, queryId)
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)

  /** For every vector: its nearest neighbour (excluding itself) among the
    * corpus — all-pairs via a single broadcast self-join. This is the exact
    * O(N²) VERIFIER for the LSH/IVF paths, deliberately NOT a production
    * operator: at 100× the corpus it is 10,000× the pairs plus a broadcast
    * of the full vector table. The `maxRows` fence makes that explicit —
    * it cannot be lifted into a scale pipeline by copy-paste without a
    * deliberate override. Scale path: [[lshNearestNeighbour]]; bounded
    * verification: feed a [[Sampling.hashSample]] subset.
    * Ties broken by lowest neighbour id via struct max ordering.
    */
  def nearestNeighbour(emb: DataFrame, maxRows: Long = 65536): DataFrame = {
    val n = emb.count()
    require(n <= maxRows,
      s"nearestNeighbour is the exact O(N^2) verifier: $n vectors = " +
        s"${n * n} pairs, which must not run at corpus scale. Use " +
        "lshNearestNeighbour as the production path, or verify on a " +
        "bounded Sampling.hashSample subset (raising maxRows is a " +
        "deliberate offline-only choice).")
    val a = unitVecs(emb, "a_id", "a_emb")
    val b = unitVecs(emb, "b_id", "b_emb")
    a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), dot(col("a_emb"), col("b_emb")).as("cos"))
      // argmax per a_id: max of (cos, -b_id) struct → highest cos, lowest id
      .groupBy(col("a_id"))
      .agg(max(struct(col("cos"), (-col("b_id")).as("neg_id"))).as("best"))
      .select(col("a_id"), (-col("best.neg_id")).cast("long").as("nn_id"),
        round(col("best.cos"), 4).as("cos"))
  }

  /** IVF coarse quantizer: deterministic k-means over a driver-side sample.
    * Sampling a bounded set (here: lowest-xxhash vec_ids) and training the
    * small centroid table on the driver is the standard IVF recipe — at
    * 100 TB you sample ~100k vectors; the corpus itself never leaves the
    * executors. Returns k unit-normalized centroids.
    */
  def ivfCentroids(emb: DataFrame, k: Int, iters: Int = 5,
      sampleSize: Int = 4096): Array[Array[Double]] = {
    val sample = unitVecs(emb, "vec_id", "e")
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(sampleSize)
      .select("e").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.length >= k,
      s"ivfCentroids: need at least k=$k vectors to train, got ${sample.length}")
    var centroids = sample.take(k)
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](centroids(0).length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0
        var bestDot = Double.MinValue
        for (c <- centroids.indices) {
          var dp = 0.0
          var i = 0
          while (i < v.length) { dp += v(i) * centroids(c)(i); i += 1 }
          if (dp > bestDot) { bestDot = dp; best = c }
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else {
          val m = sums(c).map(_ / counts(c))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0) centroids(c) else m.map(_ / n)
        }
      }.toArray
    }
    centroids
  }

  private def centroidLit(c: Array[Double]): Column = array(c.toIndexedSeq.map(lit): _*)

  /** IVF index: train the coarse quantizer once, persist it (the quantizer
    * is part of the index — FAISS-style — so a fresh process LOADS the k
    * tiny centroid rows instead of retraining), and persist the cell
    * assignment (vec_id, e, cell) as a parquet table bucketed by `cell` —
    * built once, probed by every ANN/clustering query. At 100 TB this is
    * the difference between an index (amortized across the workload) and a
    * per-query full-corpus pass; bucketing by cell also means cell-local
    * aggregations/joins need no Exchange.
    *
    * The centroid table IS the cache (k tiny rows; re-collecting them per
    * call is noise) — a JVM-side memo would serve stale quantizers after
    * an IndexTables.drop-and-rebuild on changed data.
    * Returns (centroids, assignment scan).
    */
  def ivfIndex(emb: DataFrame, k: Int, name: String,
      nBuckets: Int = 8): (Array[Array[Double]], DataFrame) =
    persistIvf(emb.sparkSession, name, k, nBuckets,
      ivfCentroids(emb, k), emb)

  /** The shared store step behind [[ivfIndex]] and the
    * [[ivfAppendAutoRefresh]] rebuild: persist the quantizer (`train`
    * only evaluates when the centroid table is absent — build-once),
    * the cell-bucketed assignment, and the one-row
    * `<name>_<k>_inertia` baseline table holding the build-time
    * [[ivfInertiaFromIndex]] — the quality of record the append-time
    * staleness check compares against. Anyone dropping the index must
    * drop all THREE tables (centroids, `_b<n>` assignment, `_inertia`).
    */
  private def persistIvf(spark: org.apache.spark.sql.SparkSession,
      name: String, k: Int, nBuckets: Int,
      train: => Array[Array[Double]], emb: DataFrame)
      : (Array[Array[Double]], DataFrame) = {
    import spark.implicits._
    val stored = IndexTables.plain(spark, s"${name}_${k}_centroids")(
      train.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "centroid"))
    val cents = stored.orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    // a FRESH assignment build invalidates any surviving inertia table:
    // a user who dropped only centroids+assignment and rebuilt (the
    // documented manual-refresh recipe) must not keep the old corpus's
    // baseline, or the next auto-refresh compares against the wrong
    // number. A re-registered existing index keeps its build-time row.
    val building = !IndexTables.exists(spark, s"${name}_${k}_b$nBuckets")
    if (building) IndexTables.drop(spark, s"${name}_${k}_inertia")
    val assigned = IndexTables.bucketed(spark, s"${name}_$k",
      nBuckets, Seq("cell"), Seq("cell", "vec_id"))(ivfAssign(emb, cents))
    IndexTables.plain(spark, s"${name}_${k}_inertia")(
      Seq(ivfInertiaFromIndex(assigned, cents)).toDF("inertia"))
    (cents, assigned)
  }

  /** Quantizer inertia measured from the stored index itself: the
    * assignment already records each vector's argmax cell, so the error
    * is ONE dot per row against that cell's centroid — an index-table
    * scan, not the k-dot full requantization [[quantizerInertia]] does
    * over raw embeddings. Numerically identical to quantizerInertia on
    * the same vectors (the assigned cell IS the max-dot cell). Empty
    * index → 0.
    */
  def ivfInertiaFromIndex(assigned: DataFrame,
      centroids: Array[Array[Double]]): Double = {
    val centArr = array(centroids.toIndexedSeq.map(centroidLit): _*)
    assigned
      .select((lit(1.0) -
        dot(col("e"), element_at(centArr, col("cell") + 1))).as("d"))
      .agg(coalesce(avg("d"), lit(0.0))).head().getDouble(0)
  }

  /** Incremental maintenance for a growing embedding store: assign NEW
    * vectors against the index's EXISTING quantizer and append them into
    * the cell-bucketed assignment table — the embedding twin of the
    * incremental LSH dedup path (increment-sized work per crawl; the
    * standing index is never rebuilt or re-read). The stored centroid
    * table is the quantizer of record: recomputing centroids here would
    * silently split the index across two quantizers and corrupt every
    * probe, so this REFUSES to run when no built index exists. Appended
    * `vec_id`s must be new, same contract as every index append.
    *
    * Quantizer staleness: the centroids were trained on the corpus at
    * build time, so cell occupancy drifts as the distribution shifts —
    * probes stay CORRECT (assignment and probe use the same centroids;
    * recall at fixed nprobe degrades only as cells unbalance). Use
    * [[ivfAppendAutoRefresh]] to close that loop quantitatively (rebuild
    * when measured inertia degrades past a threshold), or refresh
    * manually on the compact cadence: [[IndexTables.drop]] all three
    * tables and rebuild via [[ivfIndex]] (optionally warm-started with
    * [[refineCentroids]]), the same policy as
    * [[graft.ops.Retrieval.corpusStats]].
    */
  def ivfAppend(newEmb: DataFrame, k: Int, name: String,
      nBuckets: Int = 8): DataFrame = {
    val spark = newEmb.sparkSession
    val cents = IndexTables.plain(spark, s"${name}_${k}_centroids")(
        sys.error(s"ivfAppend($name): no existing IVF index — " +
          "build one with ivfIndex first"))
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    IndexTables.append(spark, s"${name}_${k}_b$nBuckets",
      ivfAssign(newEmb, cents))
    spark.table(s"${name}_${k}_b$nBuckets")
  }

  /** What [[ivfAppendAutoRefresh]] did and measured: the served index
    * scan, whether the append triggered a quantizer rebuild, the
    * CURRENT quantizer (refreshed or not — callers must probe with
    * these, not with centroids loaded before the append), and the two
    * inertia readings behind the decision.
    */
  case class IvfRefreshReport(index: DataFrame,
      centroids: Array[Array[Double]], refreshed: Boolean,
      baselineInertia: Double, appendInertia: Double)

  /** [[ivfAppend]] with the staleness loop closed: append the increment
    * under the stored quantizer, re-measure [[ivfInertiaFromIndex]] over
    * the grown index (one index scan, one dot per row), and — only when
    * quantization error degraded more than `maxDegrade` relative to the
    * build-time baseline — rebuild the quantizer from the index's own
    * stored vectors: a durable snapshot of (vec_id, e), warm-started
    * [[refineCentroids]] Lloyd steps, then a full reassignment, new
    * baseline included. This is the FAISS "retrain when the distribution
    * drifts" policy with the trigger made quantitative; routine appends
    * stay increment-sized, and the full-corpus rebuild cost is paid
    * exactly when drift shows up in the measured error (a zero-error
    * baseline refreshes on any degradation).
    *
    * The rebuild never reads through dropped tables: the snapshot is
    * written as a plain index table FIRST, the three index tables are
    * dropped, and the rebuild runs from the snapshot (dropped last). A
    * refresh that dies mid-rebuild leaves `<name>_<k>_refresh_snapshot`
    * on disk as the recovery copy — rebuild from it via [[ivfIndex]]
    * over its rows, or delete it to accept the loss of the appends.
    */
  def ivfAppendAutoRefresh(newEmb: DataFrame, k: Int, name: String,
      nBuckets: Int = 8, maxDegrade: Double = 0.2,
      refineIters: Int = 2): IvfRefreshReport = {
    require(maxDegrade >= 0, s"maxDegrade must be >= 0, got $maxDegrade")
    val spark = newEmb.sparkSession
    import spark.implicits._
    val cents = IndexTables.plain(spark, s"${name}_${k}_centroids")(
        sys.error(s"ivfAppendAutoRefresh($name): no existing IVF index — " +
          "build one with ivfIndex first"))
      .orderBy("cell").collect().map(_.getSeq[Double](1).toArray)
    // baseline BEFORE appending: for an index built before the baseline
    // table existed, this lazily snapshots the pre-append quality
    val baseline = IndexTables.plain(spark, s"${name}_${k}_inertia")(
      Seq(ivfInertiaFromIndex(
        spark.table(s"${name}_${k}_b$nBuckets"), cents)).toDF("inertia"))
      .head().getDouble(0)
    val grown = ivfAppend(newEmb, k, name, nBuckets)
    val measured = ivfInertiaFromIndex(grown, cents)
    if (measured <= baseline * (1 + maxDegrade))
      IvfRefreshReport(grown, cents, refreshed = false, baseline, measured)
    else {
      val snapName = s"${name}_${k}_refresh_snapshot"
      IndexTables.drop(spark, snapName) // debris from an abandoned refresh
      val recovered = IndexTables.plain(spark, snapName)(
        grown.select(col("vec_id"), col("e").as("embedding")))
      val refined = refineCentroids(recovered, cents, refineIters)
      IndexTables.drop(spark, s"${name}_${k}_centroids")
      IndexTables.drop(spark, s"${name}_${k}_b$nBuckets")
      IndexTables.drop(spark, s"${name}_${k}_inertia")
      val (newCents, rebuilt) =
        persistIvf(spark, name, k, nBuckets, refined, recovered)
      IndexTables.drop(spark, snapName)
      IvfRefreshReport(rebuilt, newCents, refreshed = true, baseline, measured)
    }
  }

  /** Assign every vector to its nearest centroid cell. The per-vector cost
    * is k dot products through the codegen kernel; output carries only
    * (vec_id, cell, unit vector), so downstream probes shuffle ids+vecs,
    * never recompute assignments.
    */
  def ivfAssign(emb: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val u = unitVecs(emb, "vec_id", "e")
    // argmax over k cells via struct-max: (dot, -cell) → best dot, lowest id
    val best = greatest(centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(dot(col("e"), centroidLit(c)).as("d"), lit(-i).as("neg_cell"))
    }: _*)
    u.select(col("vec_id"), col("e"), (-best.getField("neg_cell")).as("cell"))
  }

  /** IVF top-k for one query: probe the `nprobe` cells whose centroids are
    * closest to the query and scan only those cells — the ANN scale path
    * (brute force over ~nprobe/k of the corpus). Exact within the probed
    * cells; recall is tunable via nprobe.
    *
    * `assigned` is the (vec_id, e, cell) assignment — normally the bucketed
    * index table from [[ivfIndex]] (build-once; probing is a pushed-down
    * cell filter + TakeOrdered, no Exchange anywhere), or a raw
    * [[ivfAssign]] result for one-off/test use.
    */
  def ivfTopK(assigned: DataFrame, queryId: Long, k: Int, centroids: Array[Array[Double]],
      nprobe: Int = 4): DataFrame = {
    val q = assigned.where(col("vec_id") === queryId)
      .select(col("e").as("q_e")).collect().head.getSeq[Double](0).toArray
    val probeCells = centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(q).map { case (x, y) => x * y }.sum, i)
    }.sortBy(-_._1).take(nprobe).map(_._2)
    assigned
      .where(col("cell").isin(probeCells.toIndexedSeq.map(Integer.valueOf): _*) &&
        col("vec_id") =!= queryId)
      .select(col("vec_id"),
        round(dot(col("e"), centroidLit(q)), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** IVF top-k for a whole BATCH of queries — the production form of
    * [[ivfTopK]] (a real retrieval/dedup pipeline probes thousands of
    * queries per run; the single-query form is this operator's limit
    * case). Plan shape at 100 TB:
    *
    *  1. per-query probe cells computed IN the query rows (k centroid dot
    *     products as one sorted-array expression — no driver round-trip,
    *     no per-query job);
    *  2. probes ⋈ assignment on `cell`: the corpus side is the
    *     cell-bucketed index table, so it is never exchanged — the
    *     (queries × nprobe) probe side broadcasts while small and shuffles
    *     INTO the bucketing when not;
    *  3. per-query top-k over candidate rows only (queries × probed-cell
    *     occupancy, not the corpus) — the single hash exchange.
    *
    * `queries` is a raw (vec_id, embedding) table; vectors are
    * unit-normalized here, zero-norm queries dropped like corpus rows.
    * Exact within probed cells: nprobe = k(centroids) reproduces exact
    * per-query top-k (the oracle regime for q_ivf_topk_multi).
    */
  /** `excludeSelf` governs the `vec_id =!= q_id` filter: true (default)
    * for queries drawn FROM the indexed set (self is trivially its own
    * nearest neighbor); false when query ids live in their OWN id space
    * (external serving) — there an id collision with a corpus vector is
    * coincidence, and excluding it would silently drop a true top-k
    * member. A query stream served per micro-batch is that case: pass
    * false unless the stream genuinely replays indexed vectors.
    */
  def ivfTopKAll(assigned: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Double]], nprobe: Int = 4,
      excludeSelf: Boolean = true): DataFrame = {
    val probes = probeCells(unitVecs(queries, "q_id", "q_e"), centroids, nprobe)
    // rank on the ROUNDED cosine (then vec_id) — the same order ivfTopK's
    // orderBy uses, so batch and single-query results agree even when two
    // candidates at the top-k boundary round to the same 4-decimal value
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    probes.join(assigned, Seq("cell"))
      .where(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("e"), col("q_e")), 4).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** [[ivfTopKAll]] with an int8-quantized COARSE stage — the
    * memory-bound ANN serving shape: a 100 TB vector store keeps 4×-
    * smaller int8 codes hot and touches full-precision vectors only to
    * rescore a per-query shortlist. Candidates from the probed cells are
    * first ranked by the approximate score `scale · ⟨q, codes⟩` (the
    * [[quantizeInt8]] reconstruction — within per-element scale/2 of the
    * true dot), the top `k · refine` survive per query, and only those
    * join back to the full-precision vectors for the exact rounded-cosine
    * ranking ivfTopKAll uses. `refine` trades recall for rescore volume:
    * a candidate whose true rank is within k but whose quantized rank
    * falls outside k·refine is lost (measured in DedupSimilaritySpec);
    * refine covering the whole probe set reproduces ivfTopKAll exactly —
    * the oracle regime, same argument as nprobe = all cells.
    *
    * Plan shape: identical to [[ivfTopKAll]] plus one narrow quantize
    * projection on the index side and one extra (q_id, vec_id)-keyed
    * shortlist join — the full-precision side is touched shortlist-sized,
    * never probe-sized.
    */
  def ivfTopKAllQuantized(assigned: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Double]], nprobe: Int = 4,
      refine: Int = 4, excludeSelf: Boolean = true): DataFrame = {
    require(refine > 0, s"refine must be positive, got $refine")
    val uq = unitVecs(queries, "q_id", "q_e")
    val probes = probeCells(uq, centroids, nprobe)
    // int8 codes of the index's unit vectors in ONE projection over the
    // assignment (no vec_id self-join, no second index scan) — at
    // production scale this is a column of the index table written at
    // build time
    val codes = quantizeInt8(assigned, embCol = "e", carry = Seq("cell"))
      .withColumnRenamed("q", "codes")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("approx").desc, col("vec_id").asc)
    // q_e is consumed by the approx dot in the join's scan stage and
    // DROPPED before the shortlist window — the ranking exchange carries
    // (q_id, vec_id, approx) scalars only, never dim-sized vectors (the
    // same discipline as ivfTopKAll's cos window)
    val shortlist = probes.join(codes, Seq("cell"))
      .where(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id"),
        (col("scale") * dot(col("q_e"), col("codes").cast("array<double>")))
          .as("approx"))
      .withColumn("_qrk", row_number().over(wq))
      .where(col("_qrk") <= k * refine)
      .select(col("q_id"), col("vec_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    // rescore: full-precision vectors joined shortlist-sized; the query
    // unit vectors re-join from the query-count-sized frame
    shortlist
      .join(assigned.select(col("vec_id"), col("e")), Seq("vec_id"))
      .join(uq, Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("e"), col("q_e")), 4).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** The ONE definition of the per-query cell-probe expansion that
    * [[ivfTopKAll]] and [[hardNegatives]] share: for each row of `q`
    * (which must carry `q_e`), the `nprobe` cells whose centroids score
    * the highest dot — (dot, −cell) struct-argmax order, the same
    * deterministic highest-dot-then-lowest-cell order [[ivfTopK]]'s
    * driver-side sortBy produces. Keeps every column of `q`, adds
    * `cell`.
    */
  private def probeCells(q: DataFrame, centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val cellScores = array(centroids.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct(dot(col("q_e"), centroidLit(c)).as("d"), lit(-i).as("neg_cell"))
    }: _*)
    q.withColumn("pc",
        explode(slice(sort_array(cellScores, asc = false), 1, nprobe)))
      .withColumn("cell", -col("pc.neg_cell"))
      .drop("pc")
  }

  /** Hard-negative mining for contrastive/embedding training: for each
    * anchor in `queries`, the top-`k` nearest DIFFERENT-label vectors,
    * served from the IVF index — close in embedding space but labeled
    * otherwise (the informative negatives; random negatives are
    * trivially far). Same probe shape as [[ivfTopKAll]] (cell-pruned
    * candidates, ranking on the rounded cosine, one top-k shuffle); the
    * label filter runs BEFORE ranking, so the contract is "the k nearest
    * negatives", not "the negatives among the k nearest". `labels`
    * (vec_id → label) joins onto the PROBE-SIZED candidate set — at
    * production scale, store the label as an extra column of the
    * assignment table at build time and pass it here pre-joined to skip
    * that join entirely. nprobe = number of cells ⇒ exact (the oracle
    * regime, same as ivfTopKAll).
    */
  def hardNegatives(assigned: DataFrame, labels: DataFrame,
      queries: DataFrame, k: Int, centroids: Array[Array[Double]],
      nprobe: Int = 4, labelCol: String = "label"): DataFrame =
    labelNeighbors(assigned, labels, queries, k, centroids, nprobe,
      labelCol, same = false)
      .select(col("q_id"), col("nb_id").as("neg_id"),
        col("nb_label").as("neg_label"), col("cos"), col("rk"))

  /** The ONE candidate stage behind [[hardNegatives]] and
    * [[contrastiveTriplets]]: every cell-probed candidate per anchor
    * with its label and rounded cosine — (q_id, q_lab, nb_id, nb_label,
    * cos). The expensive part (probe expansion, cell-bucketed join,
    * label join, dot products) lives HERE once; callers only differ in
    * how they rank/filter the result.
    */
  private def labelCandidates(assigned: DataFrame, labels: DataFrame,
      queries: DataFrame, centroids: Array[Array[Double]],
      nprobe: Int, labelCol: String): DataFrame = {
    val qlab = queries.select(col("vec_id").as("q_id"),
      col(labelCol).as("q_lab"))
    val probes = probeCells(
      unitVecs(queries, "q_id", "q_e").join(qlab, "q_id"), centroids, nprobe)
    probes.join(assigned, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .join(labels.select(col("vec_id"), col(labelCol).as("nb_label")),
        Seq("vec_id"))
      .select(col("q_id"), col("q_lab"), col("vec_id").as("nb_id"),
        col("nb_label"), round(dot(col("e"), col("q_e")), 4).as("cos"))
  }

  /** Top-`k` nearest vectors whose label is equal (`same = true`) or
    * different (`same = false`) to the anchor's, ranked on the rounded
    * cosine with the vec_id tie-break, over [[labelCandidates]].
    */
  private def labelNeighbors(assigned: DataFrame, labels: DataFrame,
      queries: DataFrame, k: Int, centroids: Array[Array[Double]],
      nprobe: Int, labelCol: String, same: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("nb_id").asc)
    val labelPred =
      if (same) col("nb_label") === col("q_lab")
      else col("nb_label") =!= col("q_lab")
    labelCandidates(assigned, labels, queries, centroids, nprobe, labelCol)
      .where(labelPred)
      .select(col("q_id"), col("nb_id"), col("nb_label"), col("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** Contrastive-triplet assembly — the full (anchor, positive,
    * negative) sampler for embedding-model training: per anchor, the
    * nearest SAME-label vector (the positive) and the nearest
    * DIFFERENT-label vector (the hard negative), plus the cosine margin
    * between them (≤ 0 means the hardest negative is closer than the
    * best positive — the informative, loss-driving triplets). ONE pass
    * over [[labelCandidates]]: ranking partitions by (anchor, polarity)
    * and a conditional struct-max aggregation pivots the two rank-1
    * rows into one triplet — the candidate join and dot products are
    * never paid twice. Anchors missing either side
    * (only-label-of-its-kind, or candidates outside the probed cells)
    * emit nothing — documented inner-triplet semantics rather than
    * NULL-padding. nprobe = number of cells ⇒ exact.
    */
  def contrastiveTriplets(assigned: DataFrame, labels: DataFrame,
      queries: DataFrame, centroids: Array[Array[Double]],
      nprobe: Int = 4, labelCol: String = "label"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"), col("is_pos"))
      .orderBy(col("cos").desc, col("nb_id").asc)
    labelCandidates(assigned, labels, queries, centroids, nprobe, labelCol)
      .withColumn("is_pos", col("nb_label") === col("q_lab"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .groupBy("q_id")
      .agg(
        max(when(col("is_pos"), struct(col("cos"), col("nb_id")))).as("p"),
        max(when(!col("is_pos"), struct(col("cos"), col("nb_id")))).as("n"))
      .where(col("p").isNotNull && col("n").isNotNull)
      .select(col("q_id"),
        col("p.nb_id").as("pos_id"), col("p.cos").as("pos_cos"),
        col("n.nb_id").as("neg_id"), col("n.cos").as("neg_cos"),
        round(col("p.cos") - col("n.cos"), 4).as("margin"))
  }

  /** Random-hyperplane LSH bucket id (deterministic seed): sign bits of
    * `numPlanes` fixed random projections. Vectors in the same bucket are
    * near-duplicate candidates; at 100 TB candidate generation becomes a
    * groupBy/join on a small integer key.
    */
  def lshBucket(emb: Column, dim: Int, numPlanes: Int = 8, seed: Long = 42L): Column =
    lshPlanes(dim, numPlanes, seed).zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (plane, i)) =>
        val proj = dot(emb, array(plane.toIndexedSeq.map(v => lit(v)): _*))
        acc.bitwiseOR(when(proj > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
    }

  /** The seeded hyperplanes behind [[lshBucket]], exposed so an oracle can
    * replay the bucket fold with the exact same doubles: plane `i` is the
    * i-th block of `dim` consecutive `nextGaussian()` draws from
    * `scala.util.Random(seed)` — the plan-literal values themselves, not a
    * re-derivation, so a reseeding or draw-order change here changes both
    * the live plan and the replay together.
    */
  def lshPlanes(dim: Int, numPlanes: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** (vec_id, e, bucket) for one hyperplane-LSH table — the raw form of the
    * LSH index; persist via [[lshIndex]] for probing at scale.
    */
  def lshAssign(emb: DataFrame, dim: Int, numPlanes: Int = 8,
      seed: Long = 42L): DataFrame =
    unitVecs(emb, "vec_id", "e")
      .select(col("vec_id"), col("e"),
        lshBucket(col("e"), dim, numPlanes, seed).as("bucket"))

  /** LSH index: persist (vec_id, e, bucket) as a parquet table bucketed by
    * `bucket` — the self-join in [[lshCandidatePairs]] then co-locates by
    * bucketing metadata alone (no Exchange; asserted in
    * DedupSimilaritySpec).
    */
  def lshIndex(emb: DataFrame, dim: Int, name: String, numPlanes: Int = 8,
      seed: Long = 42L, nBuckets: Int = 8): DataFrame =
    IndexTables.bucketed(emb.sparkSession, s"${name}_p${numPlanes}_s$seed",
      nBuckets, Seq("bucket"), Seq("bucket", "vec_id"))(
      lshAssign(emb, dim, numPlanes, seed))

  /** Approximate nearest neighbour for EVERY vector — the benched scale
    * path replacing the O(N²) [[nearestNeighbour]] (which stays as the
    * exact verifier; DedupSimilaritySpec measures recall against it).
    *
    * `numTables` independent hyperplane-LSH tables each bucket the corpus;
    * intra-bucket pairs (both directions) are exactly rescored and a
    * per-vector struct-max argmax keeps the best. Candidate work is
    * Σ bucket², not N² — at 100× the corpus this grows ~linearly for fixed
    * bucket occupancy (add planes as N grows). Duplicate candidates from
    * multi-table collisions need no dedup pass: argmax is idempotent, and
    * skipping the dedup avoids a shuffle that would carry vectors.
    * Vectors isolated in every table emit no row (recall/coverage rises
    * with numTables).
    *
    * `multiProbe`: additionally probe every bucket at Hamming distance 1
    * from each vector's own bucket (flip each sign bit once). A near pair
    * separated by exactly one hyperplane is still found, so one table with
    * multi-probe reaches the recall of several tables — ×(numPlanes+1)
    * probe fan-out on ONE join side instead of ×numTables index storage
    * (the standard storage/compute trade of multi-probe LSH).
    *
    * Default = 2 tables WITH multi-probe: the measured Pareto point on the
    * sf0.1 corpus (graft.tools.MeasureLsh — recall 0.47 vs 0.23 for the
    * old 4-table/no-probe config, fastest of the sweep, half the index
    * storage, and 1.0 recall on the cos≥0.6 pairs a dedup pipeline acts
    * on; the old default found NONE of those). On quasi-orthogonal
    * vectors overall NN recall is geometry-bounded for ANY bucketing
    * scheme — raise tables/probes only for genuinely clustered corpora.
    */
  def lshNearestNeighbour(emb: DataFrame, dim: Int, numPlanes: Int = 6,
      numTables: Int = 2, indexName: Option[String] = None,
      multiProbe: Boolean = true): DataFrame = {
    val u = unitVecs(emb, "vec_id", "e")
    val buckets = array((0 until numTables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(col("e"), dim, numPlanes, seed = 42L + t).as("b"))
    }: _*)
    val raw = u.select(col("vec_id"), col("e"), explode(buckets).as("tb"))
      .select(col("vec_id"), col("e"), col("tb.tbl").as("tbl"), col("tb.b").as("bucket"))
    // the (tbl, bucket) assignment is the index: persisted + bucketed on the
    // join key when named (self-join then shuffles nothing), checkpointed
    // for one-off/test corpora
    val assigned = indexName match {
      case Some(n) => IndexTables.bucketed(emb.sparkSession,
        s"${n}_p${numPlanes}_t$numTables", 8,
        Seq("tbl", "bucket"), Seq("tbl", "bucket", "vec_id"))(raw)
      case None => raw.localCheckpoint()
    }
    val l =
      if (!multiProbe)
        assigned.select(col("tbl"), col("bucket"),
          col("vec_id").as("a_id"), col("e").as("a_e"))
      else
        assigned.select(col("tbl"),
          explode(array((col("bucket") +: (0 until numPlanes).map(i =>
            col("bucket").bitwiseXOR(lit(1L << i)))): _*)).as("bucket"),
          col("vec_id").as("a_id"), col("e").as("a_e"))
    val r = assigned.select(col("tbl"), col("bucket"), col("vec_id").as("b_id"), col("e").as("b_e"))
    l.join(r, Seq("tbl", "bucket"))
      .where(col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), dot(col("a_e"), col("b_e")).as("cos"))
      .groupBy(col("a_id"))
      .agg(max(struct(col("cos"), (-col("b_id")).as("neg_id"))).as("best"))
      .select(col("a_id"), (-col("best.neg_id")).cast("long").as("nn_id"),
        round(col("best.cos"), 4).as("cos"))
  }

  /** The shared SemDeDup decision core: given a blocked assignment
    * (vec_id, block, e) with unit vectors, flag every vector that has a
    * LOWER-id near-duplicate (rounded cosine >= minCos) in its own block.
    * Keep-lowest-per-local-rule, not connected components: each vector's
    * verdict depends only on its own block neighborhood, so the decision
    * is one self-join + one aggregate — no iteration — and is stable
    * under corpus append (a new vector can only be dropped, never flip an
    * existing survivor). The threshold compares the ROUNDED cosine
    * (4 decimals): raw dot products differ across engines in the last
    * ulps, and a threshold read off the raw double would flip
    * borderline pairs between Spark and the DuckDB oracle.
    *
    * Returns every input vector: (vec_id, block, max_lower_cos — highest
    * rounded cosine to any lower-id blockmate, NULL when it has none —
    * and is_dup 0/1).
    */
  private def dedupFlagsByBlock(base0: DataFrame, minCos: Double): DataFrame = {
    // base feeds BOTH self-join sides and the output join. localCheckpoint
    // — a hard lineage cut — NOT persist: the join planner derives an
    // isnotnull(block) null-filter and pushes it below the projections of
    // the live lineage, re-evaluating the embedding chain per row inside
    // the filter; cache substitution does not reliably protect against it
    // (measured on the sf0.1 text corpus: 3.5 s warm persisted vs 0.8 s
    // checkpointed for the identical decision — and the round-9
    // contaminationFlagsBlocked case was 28.8 s vs 1.4 s). The checkpoint
    // is embedding-sized and GC-cleaned when the decision frame dies, so
    // nothing pins the cache across calls (round-8 advice).
    val base = base0.localCheckpoint()
    val l = base.select(col("block"), col("vec_id").as("a_id"), col("e").as("a_e"))
    val r = base.select(col("block"), col("vec_id").as("b_id"), col("e").as("b_e"))
    val best = l.join(r, Seq("block"))
      .where(col("b_id") < col("a_id"))
      .select(col("a_id"), round(dot(col("a_e"), col("b_e")), 4).as("c"))
      .groupBy("a_id")
      .agg(max(col("c")).as("max_lower_cos"))
    base.select(col("vec_id"), col("block"))
      .join(best.withColumnRenamed("a_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("block"), col("max_lower_cos"),
        (coalesce(col("max_lower_cos"), lit(-2.0)) >= minCos).cast("int")
          .as("is_dup"))
  }

  /** Sign-bit block id: bit i set iff component i of the embedding is
    * >= 0. Axis-aligned LSH — no random projections, so the whole dedup
    * decision is deterministic and DuckDB-reproducible end to end (the
    * seeded-gaussian [[lshBucket]] family is stronger on biased dims but
    * its bucket ids can't be replayed relationally). Unit normalization
    * preserves signs, so the block is computed on the raw vector.
    */
  def signBlock(embCol: Column, signDims: Int): Column =
    (0 until signDims).foldLeft(lit(0L)) { (acc, i) =>
      // get(), not element_at(): the docstring recommends raising signDims
      // with corpus size, so signDims > dim must degrade (missing dims
      // read as bit 0, weakening the blocking) rather than throw ANSI
      // INVALID_ARRAY_INDEX mid-job — get() is null-safe out of bounds,
      // and null >= 0 is null, which when() treats as the otherwise branch
      acc.bitwiseOR(when(get(embCol, lit(i)) >= 0,
        shiftleft(lit(1L), i)).otherwise(lit(0L)))
    }

  /** SemDeDup over an embedding table with deterministic sign-bit
    * blocking: two vectors are candidate near-duplicates when the signs of
    * their first `signDims` components all agree; candidates are exactly
    * rescored and every vector with a lower-id blockmate at rounded cosine
    * >= `minCos` is flagged. Fully oracle-able (q_semdedup hash-matches a
    * DuckDB replay) — the deterministic twin of the seeded-LSH + connected
    * -components decision (q_embed_dedup), which stays rows-only.
    *
    * Scale shape: candidate work is Σ block², never N² — blocks are a
    * groupBy/join on one long key. `signDims` plays numPlanes' role: size
    * it ~log2(N / target-block-occupancy) (8 → 256 blocks fits the test
    * corpus; a 100 TB store wants 20+, and genuinely biased dims — all
    * positive activations, say — want the gaussian [[lshBucket]] family
    * instead, since a dim whose sign never varies contributes no
    * partitioning). Exact-block match means a true near-dup pair straddling
    * one sign boundary is missed (recall, not precision, is approximate —
    * the standard single-probe LSH trade measured for the hyperplane
    * variant in MeasureLsh); precision is exact because candidates are
    * rescored.
    */
  def semanticDedupFlags(emb: DataFrame, minCos: Double = 0.95,
      signDims: Int = 8): DataFrame =
    dedupFlagsByBlock(signBlocked(emb, signDims), minCos)

  /** The blocked-assignment form behind [[semanticDedupFlags]]:
    * (vec_id, block, e) with sign-bit blocks over unit vectors. Public
    * because the assignment is ALSO what a standing dedup index stores
    * (build once, probe per increment — [[semanticDedupFlagsApply]])
    * and what [[blockOccupancy]] audits before the O(block²) rescoring
    * is paid. Unit normalization preserves signs, so the block reads off
    * the canonical [[unitVecs]] projection — one normalization policy,
    * no drift in the zero-norm handling.
    */
  def signBlocked(emb: DataFrame, signDims: Int): DataFrame =
    unitVecs(emb, "vec_id", "e")
      .select(col("vec_id"), signBlock(col("e"), signDims).as("block"),
        col("e"))

  /** [[semanticDedupFlags]] with ARGMAX blocking — for sparse/count-like
    * vectors (the [[graft.ops.TextAnalysis.hashEmbed]] family), where
    * sign bits degenerate: most components of a hashed count vector are
    * exactly 0, `>= 0` sets their bits, and nearly every document lands
    * in the same all-ones mega-block whose O(block²) rescoring is ~N²
    * (measured: the sign-blocked text query benched 8.5 s at sf0.1
    * against ~1 s for spread blocks). Blocking on the INDEX of the
    * largest |component| instead spreads documents roughly uniformly
    * over the dims (the max-abs bucket is where a doc's token hashes
    * concentrated — near-identical token multisets share it), keeping
    * Σ block² honest. Same deterministic/oracle-able contract: argmax is
    * scale-invariant, and ties break to the FIRST index in both engines.
    */
  def semanticDedupFlagsArgmax(emb: DataFrame, minCos: Double = 0.95): DataFrame =
    dedupFlagsByBlock(argmaxBlocked(emb), minCos)

  /** The blocked-assignment form behind [[semanticDedupFlagsArgmax]]:
    * (vec_id, block, e) with the 1-based index of the largest |component|
    * as the block. Public for the same reasons as [[signBlocked]] — it is
    * the stored shape of a standing text-dedup index
    * ([[graft.ops.TextAnalysis.semanticDedupTextIndex]]) and the input
    * [[blockOccupancy]] audits.
    */
  def argmaxBlocked(emb: DataFrame): DataFrame =
    unitVecs(emb, "vec_id", "e")
      // abs array materialized once (referenced by max and position)
      .withColumn("_a", transform(col("e"), x => abs(x)))
      .select(col("vec_id"),
        array_position(col("_a"), array_max(col("_a"))).as("block"),
        col("e"))

  /** Incremental SemDeDup apply — the probe half of a standing dedup
    * index. `snapshot` is the already-decided corpus's blocked assignment
    * (vec_id, block, e) — normally a build-once table bucketed by block
    * ([[graft.ops.IndexTables.bucketed]]), so the block join rides the
    * bucketing with no snapshot-side Exchange — and `increment` is the
    * new batch's assignment under the SAME blocking. Returns the
    * (vec_id, block, max_lower_cos, is_dup) decision for INCREMENT rows
    * only, comparing each against every lower-id vector in its block
    * across snapshot ∪ increment.
    *
    * Batch parity is exact and unconditional for the increment rows: the
    * lower-id comparison set is the same set the full-corpus
    * [[semanticDedupFlags]]/[[semanticDedupFlagsArgmax]] run would use,
    * regardless of how ids interleave (IncrementalSemDedupSpec pins this;
    * q_semdedup_incr oracles it against the batch DuckDB replay filtered
    * to the increment). The SNAPSHOT's standing verdicts additionally
    * stay batch-accurate only under append-only id discipline (new ids >
    * old ids): the keep-lowest local rule then guarantees an increment
    * can never flip an existing survivor (the [[dedupFlagsByBlock]]
    * stability contract). Cost per day: Σ_b inc_b·(snap_b + inc_b) — the
    * increment sweeps only its own blocks, never the whole corpus. The
    * hot-block salting below PARALLELIZES that cost but does not shrink
    * it; on corpora whose occupancy report flags collapse, build the
    * index with [[boundedBlocked]] and apply with
    * [[semanticDedupFlagsBoundedApply]] instead — its anchor arm BOUNDS
    * the per-row work by construction.
    */
  def semanticDedupFlagsApply(snapshot: DataFrame, increment: DataFrame,
      minCos: Double = 0.95, maxBlock: Int = 1024): DataFrame = {
    // increment feeds the probe side, the self-join, and the output join
    // — day-sized, but its upstream (hashEmbed's explode+aggregate in
    // the text composition) is the expensive part. localCheckpoint like
    // dedupFlagsByBlock's base: a hard lineage cut, because the joins'
    // derived isnotnull(block) null-filters push into live lineage and
    // re-evaluate the embedding chain per row (the persist form measured
    // 3.5 s vs 0.8 s checkpointed on the batch twin — same shape here)
    val inc = increment.localCheckpoint()
    val l = inc.select(col("block"), col("vec_id").as("a_id"),
      col("e").as("a_e"))
    def lowerScores(r: DataFrame): DataFrame =
      l.join(r, Seq("block"))
        .where(col("b_id") < col("a_id"))
        .select(col("a_id"), round(dot(col("a_e"), col("b_e")), 4).as("c"))
    // OCCUPANCY ROUTING (the blockOccupancy telemetry, acted on): a
    // bucketed probe join puts each block's pair work in ONE bucket
    // task, and — unlike the batch path's shuffle join — AQE's
    // skew-join splitter cannot split a bucketed scan. One mega-block
    // therefore serializes the whole apply (measured at the 50k-doc
    // stress corpus: 29 s for a 5k increment whose 0.86-max_share block
    // held 42M of its pairs in one task — slower than re-deciding all
    // 50k from scratch). So: count per-block occupancy off the index
    // (an aggregate that itself rides the bucketing), and route blocks
    // with more than `maxBlock` snapshot rows through a SALTED shuffle
    // arm — snapshot rows get salt = hash(id) mod ceil(c/maxBlock),
    // probe rows replicate over the salts, the (block, salt) join
    // parallelizes the hot block across ceil(c/maxBlock) tasks, and
    // every (a, b) pair still meets exactly once (b has ONE salt).
    // Cold blocks — all blocks, in the healthy-blocking common case —
    // keep the no-Exchange bucket join; the hot arm is added to the
    // plan only when hot blocks exist.
    val snapCols = snapshot.select(col("block"),
      col("vec_id").as("b_id"), col("e").as("b_e"))
    val hot = snapshot.groupBy("block").agg(count(lit(1)).as("c"))
      .where(col("c") > maxBlock)
      .select(col("block"),
        ceil(col("c").cast("double") / maxBlock).cast("int").as("nsalt"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val snapScores =
      if (hot.isEmpty) lowerScores(snapCols)
      else {
        val hotIds = hot.map(_._1)
        val hotDf = broadcast(snapshot.sparkSession
          .createDataFrame(hot.toSeq.map(p => Tuple2(p._1, p._2)))
          .toDF("block", "nsalt"))
        // literal isin filter, not a join, on the cold arm: a filter
        // provably preserves the scan's bucketed distribution
        val cold = lowerScores(
          snapCols.where(!col("block").isin(hotIds.toSeq: _*)))
        val hotSnap = snapCols.where(col("block").isin(hotIds.toSeq: _*))
          .join(hotDf, Seq("block"))
          .select(col("block"),
            pmod(xxhash64(col("b_id")), col("nsalt").cast("long")).as("salt"),
            col("b_id"), col("b_e"))
          // EXPLICIT repartition on (block, salt): the bucketed scan's
          // HashPartitioning(block) already SATISFIES a clustered-
          // distribution requirement on (block, salt) — block is a
          // subset of the keys — so without this Exchange, Spark would
          // keep the whole hot block in its one bucket partition and
          // the salt would parallelize nothing
          .repartition(col("block"), col("salt"))
        val hotProbe = l.join(hotDf, Seq("block"))
          .select(col("block"),
            explode(sequence(lit(0L), col("nsalt").cast("long") - 1))
              .as("salt"),
            col("a_id"), col("a_e"))
        val hotScores = hotProbe.join(hotSnap, Seq("block", "salt"))
          .where(col("b_id") < col("a_id"))
          .select(col("a_id"),
            round(dot(col("a_e"), col("b_e")), 4).as("c"))
        cold.unionByName(hotScores)
      }
    // TWO joins, not one join against snapshot ∪ increment: a union is a
    // new plan node with no distribution, so unioning the day's rows into
    // the snapshot would force a corpus-sized Exchange of exactly the
    // bucketed table the standing index exists to never reshuffle. Kept
    // separate, the snapshot probe rides the bucketing (only the
    // day-sized probe side shuffles to the bucket layout — asserted in
    // IncrementalSemDedupSpec) and the self-join is increment-sized
    // (shuffle-planned, so AQE handles ITS skew); the union happens on
    // (a_id, c) candidate SCORES, then one aggregate.
    val best = snapScores
      .unionByName(lowerScores(inc.select(col("block"),
        col("vec_id").as("b_id"), col("e").as("b_e"))))
      .groupBy("a_id")
      .agg(max(col("c")).as("max_lower_cos"))
    inc.select(col("vec_id"), col("block"))
      .join(best.withColumnRenamed("a_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("block"), col("max_lower_cos"),
        (coalesce(col("max_lower_cos"), lit(-2.0)) >= minCos).cast("int")
          .as("is_dup"))
  }

  /** One-row blocking-degeneracy telemetry over a blocked assignment
    * ([[signBlocked]]/[[argmaxBlocked]]/an IVF cell table): how much
    * O(block²) rescoring a [[dedupFlagsByBlock]]-family decision WOULD
    * pay, measured before paying it. `nsq_ratio` = Σblock²/N² is the
    * fraction of the all-pairs cost the blocking leaves (1.0 = one
    * mega-block, the q_semdedup_text 8.5 s failure mode this exists to
    * catch early; 1/N = perfect spread); `max_share` = max_block²/Σblock²
    * says whether that cost is one hot block or diffuse. Aggregation-only
    * — one groupBy on the block key, no pair is ever formed.
    */
  def blockOccupancy(blocked: DataFrame): DataFrame =
    blocked.groupBy("block").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_blocks"), sum("c").as("n_vecs"),
        max("c").as("max_block"),
        sum(col("c") * col("c")).as("sum_block_sq"))
      .select(col("n_blocks"), col("n_vecs"), col("max_block"),
        col("sum_block_sq"),
        round(col("sum_block_sq").cast("double") /
          (col("n_vecs").cast("double") * col("n_vecs")), 6).as("nsq_ratio"),
        round(col("max_block").cast("double") * col("max_block") /
          col("sum_block_sq"), 4).as("max_share"))

  /** The filtering form of [[semanticDedupFlags]]: rows of `emb` that
    * survive (zero-norm vectors — no direction, never comparable — are
    * dropped too, the [[unitVecs]] convention). Dup ids are an id-only
    * semi-join side; embedding payloads never re-shuffle.
    */
  def semanticDedup(emb: DataFrame, minCos: Double = 0.95,
      signDims: Int = 8): DataFrame = {
    val keep = semanticDedupFlags(emb, minCos, signDims)
      .where(col("is_dup") === 0).select(col("vec_id"))
    emb.join(keep, Seq("vec_id"), "left_semi")
  }

  /** Hierarchically-refined argmax blocking — the BOUNDED-cost answer to
    * the collapsed-block shape [[blockOccupancy]] exists to flag (round-14
    * stress: 43% of a 100×-replica corpus in ONE argmax block, whose
    * O(block²) rescoring salting can parallelize but nothing shrinks).
    * Level 1 blocks on the index of the largest |component| of the RAW
    * embedding ([[argmaxBlocked]] — computed on the raw array, scale-
    * invariant, so the oracle replay never divides and cannot disagree on
    * a normalization ulp). Any block holding more than `maxBlock` rows is
    * REFINED: its rows append the argmax over the remaining components
    * (consumed positions masked to −1, which no |x| can tie) to the key —
    * `block·4096 + nextPos` — and the count-and-refine step repeats up to
    * `levels` levels. Occupancy counts are block-key aggregates (map-side
    * combined, ≤ dim^level rows) broadcast back, so the refinement itself
    * never shuffles the corpus and has no skewed task. Rows whose FINAL
    * leaf still exceeds `maxBlock` (exact replicas and near-identical
    * template mass share every argmax by construction) are marked
    * `hot = 1` for [[semanticDedupFlagsBounded]]'s anchor arm. Returns
    * (vec_id, block, hot, e) with `e` unit-normalized for downstream dots.
    *
    * Deterministic end to end (ties break to the first index in both
    * engines), so the whole decision is DuckDB-replayable — q_semdedup_hot
    * hash-matches a full relational replay of refine + anchor.
    */
  def boundedBlocked(emb: DataFrame, maxBlock: Int = 1024,
      levels: Int = 2): DataFrame = {
    require(maxBlock >= 1 && levels >= 1,
      s"boundedBlocked: maxBlock=$maxBlock and levels=$levels must be >= 1")
    // raw-abs base with the unitVecs zero-norm/guarded-division policy:
    // blocks read the RAW |components| (what the oracle sees bit-for-bit
    // off parquet); dots read the unit projection
    val raw = emb.select(col("vec_id"),
        asDouble(col("embedding")).as("_v"))
      .withColumn("_n", sqrt(dot(col("_v"), col("_v"))))
      .where(col("_n") > 0)
      .select(col("vec_id"),
        transform(col("_v"),
          x => when(col("_n") > 0, x / col("_n")).otherwise(lit(0.0))).as("e"),
        transform(col("_v"), x => abs(x)).as("_a"))
    // invariant: `_a` has every consumed position masked to -1, so each
    // level's next argmax is array_position(_a, array_max(_a)) directly
    def maskAt(a: Column, pos: Column): Column =
      transform(a, (x, i) => when(i === pos - 1, lit(-1.0)).otherwise(x))
    val lvl1 = raw
      .withColumn("_p", array_position(col("_a"), array_max(col("_a"))))
      .select(col("vec_id"), col("e"), col("_p").as("block"),
        maskAt(col("_a"), col("_p")).as("_a"))
    val leaf = (2 to levels).foldLeft(lvl1) { (cur0, _) =>
      // refinement reads `cur` twice (count + join): cut lineage so the
      // embedding chain is not re-evaluated per consumer (the
      // dedupFlagsByBlock checkpoint rule)
      val cur = cur0.localCheckpoint()
      val hot = cur.groupBy("block").agg(count(lit(1)).as("_c"))
        .where(col("_c") > maxBlock)
        .select(col("block"), lit(1).as("_hot"))
      cur.join(broadcast(hot), Seq("block"), "left")
        .withColumn("_p", array_position(col("_a"), array_max(col("_a"))))
        .select(col("vec_id"), col("e"),
          when(col("_hot").isNull, col("block"))
            .otherwise(col("block") * 4096L + col("_p")).as("block"),
          when(col("_hot").isNull, col("_a"))
            .otherwise(maskAt(col("_a"), col("_p"))).as("_a"))
    }.localCheckpoint()
    val stillHot = leaf.groupBy("block").agg(count(lit(1)).as("_c"))
      .where(col("_c") > maxBlock).select(col("block"), lit(1).as("_hot"))
    leaf.join(broadcast(stillHot), Seq("block"), "left")
      .select(col("vec_id"), col("block"),
        coalesce(col("_hot"), lit(0)).as("hot"), col("e"))
  }

  /** SemDeDup with cost BOUNDED BY CONSTRUCTION on any corpus shape —
    * the round-14 verdict's #1: [[semanticDedupFlagsArgmax]]'s decision
    * with two escape hatches for collapsed blocks. Blocks are the
    * hierarchically-refined argmax leaves of [[boundedBlocked]]; cold
    * leaves (≤ `maxBlock` rows — all leaves, on healthy corpora) take the
    * exact keep-lowest lower-pairs decision, so Σ their cost ≤ maxBlock·N.
    * Leaves that stay hot through every refinement level — exact replicas
    * and template mass whose |component| RANKING is identical, which no
    * content-based blocking can split — switch to the ANCHOR rule: each
    * row compares to its leaf's minimum-id row only, O(leaf) not O(leaf²).
    * Total candidate work is ≤ maxBlock·N + N on ANY input.
    *
    * Semantics trade (documented, not hidden): in hot leaves
    * `max_lower_cos` is the ANCHOR cosine — a witness, not the max over
    * all lower blockmates — so a hot row near some blockmate but far from
    * the anchor is missed (recall), while every flagged dup is exactly
    * rescored (precision stays exact). On the replica shapes that produce
    * hot leaves the anchor catches essentially everything: the leaf is hot
    * precisely because its members agree on every |component| rank. The
    * anchor row itself (leaf min id) reports NULL/keep, matching the
    * unbounded rule. `hot` is carried in the output so a pipeline can
    * route hot survivors to a second pass if it wants the exact decision.
    *
    * Returns (vec_id, block, hot, max_lower_cos, is_dup) for every
    * non-zero-norm input row.
    */
  def semanticDedupFlagsBounded(emb: DataFrame, minCos: Double = 0.95,
      maxBlock: Int = 1024, levels: Int = 2): DataFrame = {
    val blocked = boundedBlocked(emb, maxBlock, levels).localCheckpoint()
    val cold = dedupFlagsByBlock(
        blocked.where(col("hot") === 0)
          .select(col("vec_id"), col("block"), col("e")), minCos)
      .select(col("vec_id"), col("block"), lit(0).as("hot"),
        col("max_lower_cos"), col("is_dup"))
    val hotRows = blocked.where(col("hot") === 1)
    // anchor table: one row per hot leaf — broadcast-sized by definition
    // (≥ maxBlock+1 rows each), so the hot arm is one broadcast-join scan
    val anchors = hotRows.groupBy("block").agg(min("vec_id").as("_aid"))
    val anchorVecs = hotRows.join(broadcast(anchors), Seq("block"))
      .where(col("vec_id") === col("_aid"))
      .select(col("block"), col("_aid"), col("e").as("_ae"))
    val hot = hotRows.join(broadcast(anchorVecs), Seq("block"))
      .select(col("vec_id"), col("block"), lit(1).as("hot"),
        when(col("vec_id") === col("_aid"), lit(null).cast("double"))
          .otherwise(round(dot(col("e"), col("_ae")), 4))
          .as("max_lower_cos"))
      .withColumn("is_dup",
        (coalesce(col("max_lower_cos"), lit(-2.0)) >= minCos).cast("int"))
    cold.unionByName(hot)
  }

  /** Incremental BOUNDED SemDeDup apply — the daily-ingest half of
    * [[semanticDedupFlagsBounded]], replacing the salted
    * [[semanticDedupFlagsApply]] arm whose hot-block cost is
    * parallelized but NOT bounded (inc_b × snap_b pairs per hot block —
    * on the 43%-collapsed 500k stress shape that is the run-killer the
    * round-14 verdict flagged). `snapshotLeaves` is a [[boundedBlocked]]
    * build of the base corpus — (vec_id, block, hot, e), normally
    * persisted bucketed by block; `levels`/`maxBlock` MUST match the
    * build (the bandedIndex parameter discipline).
    *
    * Increment rows ROUTE through the snapshot's refinement decisions:
    * the leaf-key space is ≤ dim + dim² + … + dim^levels keys (a few
    * thousand at dim 64 — bounded by construction, NEVER corpus-sized),
    * so the per-level refined-key sets and per-leaf (count, min id,
    * hot) stats are broadcast tables derived from one tiny aggregate
    * over the index. A leaf that IS hot in the snapshot or BECOMES
    * overfull with the increment (snap + inc count > maxBlock) takes
    * the anchor arm — each increment row scores against the leaf's
    * global minimum id (snapshot min or increment min, whichever is
    * lower) — O(inc) per leaf; cold leaves take the exact lower-pairs
    * probe against snapshot ∪ increment, ≤ maxBlock comparisons per
    * row. Total increment work ≤ maxBlock·|inc| + |inc| on ANY shape.
    *
    * Parity: leaf assignment replays the snapshot's refinement, so the
    * decision for increment rows EQUALS the full-corpus
    * [[semanticDedupFlagsBounded]] run whenever the increment does not
    * flip any refinement decision (refinement-stable increments —
    * spec-asserted); a leaf newly pushed past maxBlock anchors HERE but
    * would refine-then-anchor in a batch rebuild, the documented
    * periodic-rebuild trade of every standing blocking index. Returns
    * (vec_id, block, hot, max_lower_cos, is_dup) for INCREMENT rows.
    */
  /** Route an increment into a standing [[boundedBlocked]] index's leaf
    * space by REPLAYING the snapshot's refinement decisions — the shared
    * core of [[semanticDedupFlagsBoundedApply]] (decide) and
    * [[boundedIndexAppend]] (grow). The per-level refined-prefix set
    * reconstructs from the leaf keys alone (a prefix was refined iff
    * some leaf key sits strictly below it in the radix-4096 tree) — one
    * tiny distinct over the index, broadcast back. Returns
    * (vec_id, e, block), lineage-cut.
    */
  private def routeIncrement(snapshotLeaves: DataFrame,
      increment: DataFrame, levels: Int): DataFrame = {
    val spark = snapshotLeaves.sparkSession
    val refined: Set[Long] =
      snapshotLeaves.select("block").distinct()
        .collect().map(_.getLong(0)).filter(_ > 4096L).toSet
        .flatMap((l: Long) => Iterator.iterate(l / 4096L)(_ / 4096L)
          .takeWhile(_ > 0L).toSet)
    val refinedDf = broadcast(
      spark.createDataFrame(refined.toSeq.map(Tuple1(_)))
        .toDF("block").withColumn("_ref", lit(1)))
    val raw = increment.select(col("vec_id"),
        asDouble(col("embedding")).as("_v"))
      .withColumn("_n", sqrt(dot(col("_v"), col("_v"))))
      .where(col("_n") > 0)
      .select(col("vec_id"),
        transform(col("_v"),
          x => when(col("_n") > 0, x / col("_n")).otherwise(lit(0.0))).as("e"),
        transform(col("_v"), x => abs(x)).as("_a"))
    def maskAt(a: Column, pos: Column): Column =
      transform(a, (x, i) => when(i === pos - 1, lit(-1.0)).otherwise(x))
    val lvl1 = raw
      .withColumn("_p", array_position(col("_a"), array_max(col("_a"))))
      .select(col("vec_id"), col("e"), col("_p").as("block"),
        maskAt(col("_a"), col("_p")).as("_a"))
    (2 to levels).foldLeft(lvl1) { (cur, _) =>
      cur.join(refinedDf, Seq("block"), "left")
        .withColumn("_p", array_position(col("_a"), array_max(col("_a"))))
        .select(col("vec_id"), col("e"),
          when(col("_ref").isNull, col("block"))
            .otherwise(col("block") * 4096L + col("_p")).as("block"),
          when(col("_ref").isNull, col("_a"))
            .otherwise(maskAt(col("_a"), col("_p"))).as("_a"))
    }.select(col("vec_id"), col("e"), col("block")).localCheckpoint()
  }

  def semanticDedupFlagsBoundedApply(snapshotLeaves: DataFrame,
      increment: DataFrame, minCos: Double = 0.95, maxBlock: Int = 1024,
      levels: Int = 2): DataFrame = {
    require(maxBlock >= 1 && levels >= 1,
      s"boundedApply: maxBlock=$maxBlock and levels=$levels must be >= 1")
    val spark = snapshotLeaves.sparkSession
    // leaf stats: ONE aggregate over the (bucketed) index; result is
    // leaf-key-space-sized (≤ Σ dim^k), collected and broadcast
    val leafStats = snapshotLeaves.groupBy("block")
      .agg(count(lit(1)).as("_sc"), min("vec_id").as("_smin"),
        max("hot").as("_shot"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
        r.getInt(2 + 1))))
      .toMap
    val routed = routeIncrement(snapshotLeaves, increment, levels)
    // combined occupancy per leaf: increment counts (inc-sized
    // aggregate) against the broadcast snapshot stats
    val incStats = routed.groupBy("block")
      .agg(count(lit(1)).as("_ic"), min("vec_id").as("_imin"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .toMap
    val leafPlan = incStats.map { case (b, (ic, imin)) =>
      val (sc, smin, shot) = leafStats.getOrElse(b, (0L, Long.MaxValue, 0))
      val hot = shot == 1 || sc + ic > maxBlock
      (b, hot, math.min(smin, imin))
    }.toSeq
    val hotLeaves = leafPlan.filter(_._2).map(p => (p._1, p._3))
    val hotDf = broadcast(spark.createDataFrame(hotLeaves)
      .toDF("block", "_aid"))
    // anchor embeddings: ≤ one row per hot leaf, fetched from whichever
    // side holds the minimum id — both fetches are broadcast-joined
    // lookups, the snapshot side riding its bucketing
    val anchorVecs = broadcast(
      snapshotLeaves.join(hotDf, Seq("block"))
        .where(col("vec_id") === col("_aid"))
        .select(col("block"), col("_aid"), col("e").as("_ae"))
        .unionByName(routed.join(hotDf, Seq("block"))
          .where(col("vec_id") === col("_aid"))
          .select(col("block"), col("_aid"), col("e").as("_ae")))
        .localCheckpoint())
    val hotDec = routed.join(hotDf, Seq("block"))
      .join(anchorVecs.select(col("block"), col("_ae")), Seq("block"))
      .select(col("vec_id"), col("block"), lit(1).as("hot"),
        when(col("vec_id") === col("_aid"), lit(null).cast("double"))
          .otherwise(round(dot(col("e"), col("_ae")), 4))
          .as("max_lower_cos"))
    // cold arm: the two-join probe of semanticDedupFlagsApply, leaf-
    // keyed — cold means snapshot + increment fit in maxBlock, so the
    // per-row comparison set is bounded and no salting is ever needed
    val coldInc = routed.join(hotDf.select("block"), Seq("block"),
      "left_anti")
    val l = coldInc.select(col("block"), col("vec_id").as("a_id"),
      col("e").as("a_e"))
    def lowerScores(r: DataFrame): DataFrame =
      l.join(r, Seq("block"))
        .where(col("b_id") < col("a_id"))
        .select(col("a_id"), round(dot(col("a_e"), col("b_e")), 4).as("c"))
    val best = lowerScores(snapshotLeaves.select(col("block"),
        col("vec_id").as("b_id"), col("e").as("b_e")))
      .unionByName(lowerScores(coldInc.select(col("block"),
        col("vec_id").as("b_id"), col("e").as("b_e"))))
      .groupBy("a_id").agg(max(col("c")).as("max_lower_cos"))
    val coldDec = coldInc.select(col("vec_id"), col("block"))
      .join(best.withColumnRenamed("a_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("block"), lit(0).as("hot"),
        col("max_lower_cos"))
    coldDec.unionByName(hotDec)
      .withColumn("is_dup",
        (coalesce(col("max_lower_cos"), lit(-2.0)) >= minCos).cast("int"))
  }

  /** Grow a standing [[boundedBlocked]] index with a decided increment —
    * the third quarter of the bounded-dedup lifecycle (build → apply →
    * APPEND → serve): increment rows keep the leaf keys
    * [[semanticDedupFlagsBoundedApply]] routed them to (old rows are
    * never re-refined — the standing-index contract; shapes that drift
    * far from the build distribution take the periodic-rebuild
    * doctrine), and per-leaf hot flags recompute from the merged counts
    * (one leaf-space-sized aggregate, broadcast back). Returns the new
    * (vec_id, block, hot, e) index, column-compatible with
    * [[boundedBlocked]], so apply/append chain day after day.
    */
  def boundedIndexAppend(snapshotLeaves: DataFrame, increment: DataFrame,
      maxBlock: Int = 1024, levels: Int = 2): DataFrame = {
    require(maxBlock >= 1 && levels >= 1,
      s"boundedIndexAppend: maxBlock=$maxBlock, levels=$levels must be >= 1")
    val routed = routeIncrement(snapshotLeaves, increment, levels)
    val all = snapshotLeaves.select(col("vec_id"), col("block"), col("e"))
      .unionByName(routed.select(col("vec_id"), col("block"), col("e")))
    val hot = all.groupBy("block").agg(count(lit(1)).as("_c"))
      .where(col("_c") > maxBlock).select(col("block"), lit(1).as("_hot"))
    all.join(broadcast(hot), Seq("block"), "left")
      .select(col("vec_id"), col("block"),
        coalesce(col("_hot"), lit(0)).as("hot"), col("e"))
  }

  /** True-SemDeDup blocking: the learned IVF cells (k-means regions) as
    * blocks instead of sign bits — semantically tighter neighborhoods at
    * equal block count, so higher recall on clustered corpora. `assigned`
    * is the (vec_id, e, cell) table from [[ivfIndex]] — build-once,
    * cell-bucketed, so the decision self-join rides the bucketing with no
    * corpus Exchange. Not oracle-able (cell boundaries depend on the
    * fitted centroids); DedupSimilaritySpec pins its decisions against
    * the brute-force verifier on a fixture.
    */
  def semanticDedupIvf(assigned: DataFrame, minCos: Double = 0.95): DataFrame =
    dedupFlagsByBlock(
      assigned.select(col("vec_id"), col("cell").cast("long").as("block"), col("e")),
      minCos)

  /** LSH-bucketed near-neighbour candidate pairs with exact cosine —
    * the scale path: only intra-bucket pairs are scored. `bucketed` is the
    * (vec_id, e, bucket) assignment — normally the [[lshIndex]] table, so
    * the projection pipeline runs once at index build and the self-join
    * shuffles nothing.
    */
  def lshCandidatePairs(bucketed: DataFrame, minCos: Double = 0.0): DataFrame = {
    val l = bucketed.select(col("bucket"), col("vec_id").as("a_id"), col("e").as("a_e"))
    val r = bucketed.select(col("bucket"), col("vec_id").as("b_id"), col("e").as("b_e"))
    l.join(r, Seq("bucket"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(dot(col("a_e"), col("b_e")), 4).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** Cross-corpus contamination flags over two blocked assignments under
    * the SAME blocking: every `corpus` vector is flagged when some `probes`
    * vector shares its block at rounded cosine >= `minCos`. The asymmetric
    * sibling of [[dedupFlagsByBlock]] — no lower-id rule (the sides are
    * different populations) and no self-join: the probe side is an eval
    * benchmark, bounded-small by contract (thousands of rows, fixed up
    * front, does NOT grow with the corpus — the [[graft.ops.Decontam]]
    * broadcast rationale, and the only reason the `broadcast` hint here is
    * legitimate). The corpus side therefore never shuffles: block match +
    * cosine + max all run map-side against the broadcast probe table, and
    * the per-vector max is a groupBy on vec_id that AQE coalesces to the
    * matched-row volume. Same determinism contract as the dedup core:
    * the threshold reads the ROUNDED cosine so borderline pairs can't
    * flip between engines.
    *
    * Returns every corpus vector: (vec_id, block, max_probe_cos — NULL
    * when no probe shares its block — and is_contam 0/1). Recall is
    * block-bounded exactly as in [[semanticDedupFlagsArgmax]]; precision
    * is exact (candidates are rescored).
    */
  /** Johnson–Lindenstrauss reduction of an embedding table with the
    * deterministic ±1/√outDim matrix
    * ([[graft.functions.ArrayKernels.SignedRandomProject]]): (vec_id,
    * embedding) in, same shape out at `outDim` — drop-in front for the
    * IVF/LSH index builders when the source dimension is larger than the
    * index wants to carry. Scan-stage only, zero shuffle; the matrix is a
    * function of `tag` (never stored), so the projection of an increment
    * batch equals the projection the standing index was built with by
    * construction.
    */
  def randomProject(emb: DataFrame, inDim: Int, outDim: Int,
      tag: String = "rp"): DataFrame =
    emb.select(col("vec_id"),
      graft.functions.ArrayKernels.signed_project(
        asDouble(col("embedding")), inDim, outDim, tag).as("embedding"))

  // -------------------------------------------------------------------
  // Product quantization (PQ) — the byte-code vector compression layer

  /** Product-quantization codebooks: the UNIT-normalized d-dim space is
    * split into `m` contiguous subspaces of d/m dims, and each subspace
    * gets its own `k`-codeword quantizer — per-subspace L2 Lloyd on the
    * same deterministic hash-ordered sample discipline as
    * [[ivfCentroids]] (first-k init, empty cells keep their codeword).
    * A vector then stores m small ints instead of d floats — with
    * m=8, k=16 a 64-dim float vector compresses 64× to 8 nibbles, which
    * is what makes a 100 TB embedding store RAM-resident; production
    * layouts compose this with the IVF cells ([[ivfIndex]] prunes, PQ
    * codes score — the FAISS IVF-PQ shape). Unlike the coarse quantizer,
    * codewords are NOT re-normalized: subvectors of unit vectors are not
    * unit, and the asymmetric-distance dot identity needs the raw means.
    * Returns codebooks(sub)(code) = centroid of length d/m.
    */
  def pqTrain(emb: DataFrame, m: Int, k: Int, iters: Int = 5,
      sampleSize: Int = 4096): Array[Array[Array[Double]]] = {
    require(m >= 1 && k >= 1, s"pqTrain: bad m=$m k=$k")
    val sample = unitVecs(Par.fanOutKernel(emb), "vec_id", "e")
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(sampleSize)
      .select("e").collect()
      .map(_.getSeq[Double](0).toArray)
    pqTrainOn(sample, m, k, iters)
  }

  /** The per-subspace Lloyd core over an in-memory training set —
    * factored out so [[ivfPqIndex]] can train on cell RESIDUALS while
    * [[pqTrain]] trains on the unit vectors themselves.
    */
  private def pqTrainOn(sample: Array[Array[Double]], m: Int, k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    require(sample.length >= k,
      s"pqTrain: need at least k=$k vectors to train, got ${sample.length}")
    val d = sample.head.length
    require(d % m == 0, s"pqTrain: dim $d not divisible by m=$m")
    val dsub = d / m
    Array.tabulate(m) { s =>
      val sub = sample.map(v => v.slice(s * dsub, (s + 1) * dsub))
      var cb = sub.take(k).map(_.clone())
      for (_ <- 1 to iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        sub.foreach { v =>
          val best = pqNearest(v, cb)
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += v(i); i += 1 }
        }
        cb = cb.indices.map { c =>
          if (counts(c) == 0) cb(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      cb
    }
  }

  /** Argmin-L2 codeword for one subvector — first index wins ties, the
    * SAME left-to-right fold order as the [[pqEncode]] expression so the
    * two can never disagree on a boundary vector.
    */
  private[graft] def pqNearest(v: Array[Double],
      cb: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    for (c <- cb.indices) {
      var dd = 0.0
      var i = 0
      while (i < v.length) {
        val x = v(i) - cb(c)(i); dd += x * x; i += 1
      }
      if (dd < bestD) { bestD = dd; best = c }
    }
    best
  }

  /** Encode every vector as its per-subspace nearest codewords:
    * (vec_id, codes ARRAY<INT> of length m). Pure scan stage with the
    * codebooks as literal arrays — the unit-normalized vector is
    * materialized once, each subspace argmin is a fold over its k
    * codeword distances (strict < , so the first minimal index wins —
    * [[pqNearest]] parity). Zero shuffle; the encoded table is the
    * standing ANN artifact a daily increment appends to.
    */
  def pqEncode(emb: DataFrame,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    withPqCodes(unitVecs(Par.fanOutKernel(emb), "vec_id", "_e"), "_e", codebooks, "codes")
      .select(col("vec_id"), col("codes"))

  /** Append `as` = the per-subspace argmin-codeword array for `vecCol` —
    * shared by [[pqEncode]] (unit vectors) and [[ivfPqIndex]] (cell
    * residuals) so the two encodings share one fold definition. Staged
    * as three projections (subvectors → distance arrays → argmins) so
    * every array a lambda probes is MATERIALIZED: an inline slice
    * re-evaluates per element (measured 27.6 s → 12.7 s on the
    * 20k-vector index build, 5.8 s → 1.4 s on the bare encode), and the
    * distance array would otherwise be computed twice
    * (array_min + array_position).
    */
  private def withPqCodes(df: DataFrame, vecCol: String,
      codebooks: Array[Array[Array[Double]]], as: String): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks.head.head.length
    val staged = df.select(col("*") +: (0 until m).map(s =>
      slice(col(vecCol), s * dsub + 1, dsub).as(s"_sub$s")): _*)
    val withDists = staged.select(col("*") +: (0 until m).map { s =>
      val subv = col(s"_sub$s")
      array(codebooks(s).toIndexedSeq.map { cw =>
        aggregate(sequence(lit(1), lit(dsub)), lit(0.0), (acc, i) =>
          acc + (element_at(subv, i) - element_at(centroidLit(cw), i)) *
            (element_at(subv, i) - element_at(centroidLit(cw), i)))
      }: _*).as(s"_d$s")
    }: _*)
    withDists.select(col("*"),
        array((0 until m).map { s =>
          (array_position(col(s"_d$s"), array_min(col(s"_d$s"))) - 1)
            .cast("int")
        }: _*).as(as))
      .drop((0 until m).flatMap(s => Seq(s"_sub$s", s"_d$s")): _*)
  }

  /** Asymmetric-distance top-k over a PQ-encoded table: the query's
    * m×k dot-product lookup table is computed driver-side (the model,
    * not the data) and shipped as one literal array; each encoded
    * vector's approximate cosine is the m-term table fold — no float
    * vectors are read at all, which is the point: at 100 TB the scan
    * touches m bytes per vector. Ranking is (rounded score desc,
    * vec_id) with a TakeOrdered head, the [[ivfTopK]] convention.
    * Approximate by construction (codeword error) — verify recall
    * against [[knnAllBrute]] on a sample, as the spec does.
    */
  def pqTopK(encoded: DataFrame, codebooks: Array[Array[Array[Double]]],
      query: Array[Double], k: Int): DataFrame =
    encoded.select(col("vec_id"),
        adcScoreExpr(codebooks, query).as("pq_score"))
      .orderBy(col("pq_score").desc, col("vec_id").asc)
      .limit(k)

  /** The ADC fold over a `codes` column: the unit-normalized query's
    * m×k dot table ships as ONE flat literal array; the score is the
    * m-term lookup sum, rounded 4 (the ranking convention).
    */
  private def adcScoreExpr(codebooks: Array[Array[Array[Double]]],
      query: Array[Double]): Column = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0, "adcScoreExpr: zero-norm query")
    round(adcFoldExpr(codebooks, query.map(_ / qn)), 4)
  }

  /** Unrounded ADC lookup fold for an ALREADY-normalized query. */
  private def adcFoldExpr(codebooks: Array[Array[Array[Double]]],
      qu: Array[Double]): Column = {
    val m = codebooks.length
    val kcode = codebooks.head.length
    val dsub = codebooks.head.head.length
    val table = Array.tabulate(m, kcode) { (s, c) =>
      var dp = 0.0
      var i = 0
      while (i < dsub) { dp += qu(s * dsub + i) * codebooks(s)(c)(i); i += 1 }
      dp
    }
    val tLit = array(table.flatten.toIndexedSeq.map(lit): _*)
    aggregate(sequence(lit(1), lit(m)), lit(0.0), (acc, s) =>
      acc + element_at(tLit,
        (s - 1) * kcode + element_at(col("codes"), s) + 1))
  }

  /** FAISS-layout IVF-PQ index: ONE standing artifact (vec_id, cell,
    * codes) PARTITIONED BY cell (directory layout — a cell probe prunes
    * directories in any plan shape, where bucket pruning is discarded
    * on plain filter scans; see [[IndexTables.partitioned]]) — the
    * coarse cells prune the scan ([[ivfIndex]]'s job), the PQ codes
    * score what survives, and at 100 TB the whole searchable corpus is
    * kCells tiny centroid rows + m bytes per vector, directory-pruned
    * on every probe. The codes quantize cell RESIDUALS (v − centroid),
    * the FAISS refinement — serving recomposes cos(q,v) ≈ q·c_cell +
    * q·codeword — so the codebook resolution is spent on within-cell
    * structure. Returns (centroids, codebooks, table).
    */
  def ivfPqIndex(emb: DataFrame, kCells: Int, m: Int, kCodes: Int,
      name: String, iters: Int = 5, sampleSize: Int = 4096)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    val cents = ivfCentroids(emb, kCells)
    // codebooks train on cell RESIDUALS (v − centroid[cell]) — the FAISS
    // refinement: residuals are small and centered, so kCodes codewords
    // spend their resolution on the within-cell structure instead of
    // re-describing the cell positions. Sample assignment replicates
    // ivfAssign's argmax (strict >, lowest cell on ties).
    val sample = unitVecs(emb, "vec_id", "e")
      .withColumn("h", xxhash64(col("vec_id")))
      .orderBy("h").limit(sampleSize)
      .select("e").collect()
      .map(_.getSeq[Double](0).toArray)
    val residuals = sample.map { v =>
      var best = 0
      var bestDot = Double.MinValue
      for (c <- cents.indices) {
        var dp = 0.0
        var i = 0
        while (i < v.length) { dp += v(i) * cents(c)(i); i += 1 }
        if (dp > bestDot) { bestDot = dp; best = c }
      }
      v.indices.map(i => v(i) - cents(best)(i)).toArray
    }
    val cbs = pqTrainOn(residuals, m, kCodes, iters)
    val d = cents.head.length
    val centsFlat = array(cents.flatten.toIndexedSeq.map(lit): _*)
    val tbl = IndexTables.partitioned(emb.sparkSession, s"${name}_ivfpq",
      Seq("cell"))(
      withPqCodes(
        ivfAssign(emb, cents)
          .withColumn("_r", zip_with(col("e"),
            slice(centsFlat, col("cell") * d + 1, lit(d)),
            (a, b) => a - b)),
        "_r", cbs, "codes")
        .select(col("vec_id"), col("codes"), col("cell")))
    (cents, cbs, tbl)
  }

  /** Three-stage IVF-PQ serving: probe the `nprobe` closest cells
    * (driver-side — centroids are the model), ADC-score only the probed
    * partitions' codes via the residual decomposition cos(q,v) ≈
    * q·c_cell + q·codeword, exact-rescore the `shortlist` survivors
    * against the float table. At nprobe = kCells and shortlist ≥ corpus
    * this is EXACTLY brute force (the [[ivfTopKAll]] full-coverage
    * property, which is what lets the driver oracle it); production
    * dials both down and pays only recall — measured on the isotropic
    * sf0.01 embeddings: shortlist-100 refine reads recall@10 = 1.0
    * (the flat-code [[pqTopKRefined]] reads 0.9 on the same data).
    */
  def ivfPqTopK(index: DataFrame, emb: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      k: Int, nprobe: Int, shortlist: Int = 100): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0, "ivfPqTopK: zero-norm query")
    val qu = query.map(_ / qn)
    val cellDots = centroids.map(c =>
      c.zip(qu).map { case (a, b) => a * b }.sum)
    val probes = centroids.indices
      .map(i => (cellDots(i), i))
      .sortBy(t => (-t._1, t._2)).take(nprobe).map(_._2)
    // residual decomposition: cos(q, v) ≈ q·c_cell + q·codeword(residual)
    // — the cell term is a kCells literal lookup, the residual term the
    // shared ADC fold
    val cellDotLit = array(cellDots.toIndexedSeq.map(lit): _*)
    val short = index.where(col("cell").isin(probes.map(Int.box): _*))
      .select(col("vec_id"),
        round(element_at(cellDotLit, col("cell") + 1) +
          adcFoldExpr(codebooks, qu), 4).as("pq_score"))
      .orderBy(col("pq_score").desc, col("vec_id").asc)
      .limit(shortlist)
      .select(col("vec_id"))
    val qLit = array(qu.toIndexedSeq.map(lit): _*)
    unitVecs(emb, "vec_id", "e")
      .join(broadcast(short), Seq("vec_id"))
      .select(col("vec_id"), round(dot(col("e"), qLit), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Two-stage PQ serving: ADC shortlist (`shortlist` candidates, m
    * bytes per vector scanned) then EXACT cosine rescore of only those
    * rows against the float table — the [[ivfTopKAllQuantized]] shape at
    * the PQ layer. Recall is the shortlist's to lose: on the isotropic
    * sf0.01 embeddings (the hardest case — no cluster structure for the
    * codewords to exploit) raw ADC@10 measures 0.5 while the 100-deep
    * shortlist rescored exactly reaches 0.9; on clustered embeddings
    * both are exact (spec).
    * The shortlist is driver-bounded (`shortlist` rows) and broadcast
    * into the rescore join; the float table is touched only for those
    * ids.
    */
  def pqTopKRefined(encoded: DataFrame, emb: DataFrame,
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      k: Int, shortlist: Int = 100): DataFrame = {
    val short = pqTopK(encoded, codebooks, query, shortlist)
      .select(col("vec_id"))
    val qn = math.sqrt(query.map(x => x * x).sum)
    require(qn > 0, "pqTopKRefined: zero-norm query")
    val qLit = array(query.map(_ / qn).toIndexedSeq.map(lit): _*)
    unitVecs(emb, "vec_id", "e")
      .join(broadcast(short), Seq("vec_id"))
      .select(col("vec_id"), round(dot(col("e"), qLit), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  def contaminationFlagsBlocked(corpus0: DataFrame, probes0: DataFrame,
      minCos: Double): DataFrame = {
    // localCheckpoint BOTH assignments — a hard lineage cut, not persist.
    // Two measured failure modes with live lineage here (sf0.1, 4948
    // docs: 33 s → 1.4 s):
    // (1) the inner join derives an isnotnull(block) null-filter and
    //     pushes it below the projections, re-evaluating the whole
    //     hashEmbed→normalize→argmax chain ~8× per corpus row inside the
    //     filter — and the corpus is ALSO re-referenced by the output
    //     join (cache substitution did not protect: the persisted
    //     variant still ran the 28.8 s plan);
    // (2) Catalyst's small row estimate for `best` broadcast the entire
    //     corpus subtree into a single-threaded subquery build (46 s in
    //     one task inside the v8 recipe).
    // The checkpoint is embedding-sized — the price a standing dedup
    // index pays anyway; at 100 TB this materialization IS the index
    // build (IndexTables), and per-batch serving checkpoints only the
    // batch.
    val corpus = corpus0.localCheckpoint()
    val p = broadcast(
      probes0.select(col("block"), col("e").as("p_e")).localCheckpoint())
    val best = corpus.select(col("block"), col("vec_id"), col("e"))
      .join(p, Seq("block"))
      .select(col("vec_id"), round(dot(col("e"), col("p_e")), 4).as("c"))
      .groupBy("vec_id")
      .agg(max(col("c")).as("max_probe_cos"))
    corpus.select(col("vec_id"), col("block"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("block"), col("max_probe_cos"),
        (coalesce(col("max_probe_cos"), lit(-2.0)) >= minCos).cast("int")
          .as("is_contam"))
  }

  /** Exact top-k neighbours in `corpus` for EVERY probe vector — the
    * batch brute-force analogue of [[ivfTopKAll]] (same output schema and
    * the same rounded-cos ranking convention, so the two are
    * interchangeable and spec-comparable: ivfTopKAll at nprobe =
    * #centroids reproduces this exactly). The probe side broadcasts
    * (bounded query batch — the [[contaminationFlagsBlocked]] hint case);
    * the corpus is scanned once and the rank-filter compiles to
    * WindowGroupLimit partial top-k below the exchange, so each map task
    * forwards ≤ k rows per probe rather than the full |probes|·|corpus|
    * pair volume. Still a corpus-per-probe scan: the 100 TB serving path
    * is [[ivfTopKAll]]; this is the exact verifier / small-probe-batch
    * form (the [[nearestNeighbour]] fence rationale, minus the self-join).
    *
    * `excludeSelf` as in [[ivfTopKAll]]: drop `vec_id === q_id` when the
    * probes are drawn from the indexed set.
    */
  def knnAllBrute(corpus: DataFrame, probes: DataFrame, k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val p = broadcast(unitVecs(probes, "q_id", "q_e"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id").asc)
    // round 17b: kernel fan — each corpus row pays |probes| dot products
    // (the definition of brute kNN), the heaviest per-row kernel in the
    // repo; unfanned, the whole sweep over the local embedding table ran
    // as ONE task (q_margin_knn 965ms/1t, q_hubness 787ms/1t). Rounded
    // per-pair cos + (cos desc, id) rank are placement-independent.
    unitVecs(Par.fanOutKernel(corpus), "vec_id", "e")
      .join(p, if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .select(col("q_id"), col("vec_id"),
        round(dot(col("e"), col("q_e")), 4).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
  }

  /** Margin-based similar-pair mining (the Artetxe–Schwenk ratio-margin
    * criterion from LASER bitext mining, arXiv:1811.01136 "max"
    * strategy): for each probe x, its best corpus neighbour y is kept
    * when
    *
    *   margin(x,y) = cos(x,y) / ((avgK(x → corpus) + avgK(y → probes))/2)
    *
    * clears `minMargin`. Dividing by the mean of both sides' top-k
    * neighbourhoods normalizes HUBNESS away: a raw cosine threshold
    * over-mines around hub vectors (globally close to everything) and
    * under-mines in sparse regions, while the ratio asks "closer than
    * your usual neighbours?" — the standard mined-pair filter for
    * parallel/paraphrase corpora.
    *
    * Shape: forward kNN from `fwd` (caller supplies [[knnAllBrute]] for
    * the exact/oracle regime or [[ivfTopKAll]] output for the indexed
    * 100 TB path — the margin algebra is identical, see [[marginMineIvf]]);
    * the backward kNN runs the candidate set (≤ |probes|·k rows, joined
    * back to `corpus` for vectors) against the broadcast probe batch —
    * bounded × bounded, never corpus². Output: one row per mined (x, y)
    * with both neighbourhood sums exposed for audit (avgK = s_/k).
    *
    * Numeric determinism: the neighbourhood aggregates are SUMS of the
    * rounded cosines — a sum of 4-decimal values is on the 1e-4 grid for
    * any k, so round(·,4) never meets a rounding midpoint, whereas the
    * mean divides by k and for many k lands EXACTLY on midpoints (k=4:
    * sum ≡ 2 mod 4 → .5 in the 5th decimal), where engines' double
    * rounding disagrees in the last digit (observed vs DuckDB). The
    * margin divides by (s_fwd + s_bwd) directly — 2k·cos/(s_fwd+s_bwd)
    * ≡ cos/((avgK_fwd+avgK_bwd)/2) — so no rounded mean ever enters it.
    */
  def marginMine(corpus: DataFrame, probes: DataFrame, k: Int,
      minMargin: Double,
      fwd0: Option[DataFrame] = None): DataFrame = {
    // the forward frame is referenced three times (avg, rank-1 row,
    // candidate ids) on a derived key — the join-null-filter recompute
    // trap; candidate-set-sized, so the cut is cheap
    val fwd = fwd0.getOrElse(knnAllBrute(corpus, probes, k)).localCheckpoint()
    val sumFwd = fwd.groupBy(col("q_id"))
      .agg(round(sum(col("cos")), 4).as("s_fwd"))
    // candidate vectors feed the BACKWARD side's broadcast: without the
    // cut, the broadcast build executes corpus-scan ⋈ fwd single-threaded
    // inside the broadcast thread (the contaminationFlagsBlocked failure
    // mode #2). ≤ |probes|·k rows — candidate-set-sized
    val candidates = corpus.join(
      fwd.select(col("vec_id")).distinct(), Seq("vec_id")).localCheckpoint()
    val sumBwd = knnAllBrute(probes, candidates, k, excludeSelf = true)
      .groupBy(col("q_id")).agg(round(sum(col("cos")), 4).as("s_bwd"))
      .select(col("q_id").as("vec_id"), col("s_bwd"))
    fwd.where(col("rk") === 1)
      .join(sumFwd, Seq("q_id"))
      .join(sumBwd, Seq("vec_id"))
      .select(col("q_id"), col("vec_id"), col("cos"), col("s_fwd"),
        col("s_bwd"),
        round(lit(2 * k) * col("cos") / (col("s_fwd") + col("s_bwd")), 4)
          .as("margin"))
      .where(col("margin") >= minMargin)
  }

  /** [[marginMine]] served from a standing IVF index — the production
    * form: forward kNN via [[ivfTopKAll]] over the bucketed assignment
    * (probe side broadcasts; corpus side never exchanges), backward side
    * and margin algebra unchanged. At nprobe = #centroids the forward
    * set is exact and this equals [[marginMine]] row for row (spec'd);
    * smaller nprobe trades mined-pair recall for probe cost exactly like
    * any other IVF query.
    */
  def marginMineIvf(assigned: DataFrame, corpus: DataFrame,
      probes: DataFrame, k: Int, minMargin: Double,
      centroids: Array[Array[Double]], nprobe: Int): DataFrame =
    marginMine(corpus, probes, k, minMargin,
      fwd0 = Some(ivfTopKAll(assigned, probes, k, centroids, nprobe)
        .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))))

  /** Hubness report over a kNN result frame ([[knnAllBrute]] /
    * [[ivfTopKAll]] output): for each corpus vector, how many probes'
    * top-k lists it appears in, its best rank, and the SUM of its
    * cosines over those appearances (mean = sum_cos / hits — see the
    * aggregate comment for why the sum, not the mean, is emitted). The
    * k-occurrence distribution is THE diagnostic
    * for high-dimensional retrieval quality — a heavy right tail (hub
    * vectors appearing in a large fraction of lists) predicts both
    * degraded recall and margin-criterion value (see [[marginMine]]).
    * Aggregation-only on the already-bounded kNN frame.
    */
  def hubness(knn: DataFrame): DataFrame =
    knn.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("hits"), min(col("rk")).as("best_rk"),
        // SUM of the rounded cosines, not their mean: a sum of 4-decimal
        // values is itself on the 1e-4 grid for ANY appearance count, so
        // round(·,4) never meets a rounding midpoint — a mean divides by
        // the variable `hits` and can land exactly on one, where engines'
        // double-rounding disagrees (the [[marginMine]] scale note; mean =
        // sum_cos/hits for the consumer who wants it)
        round(sum(col("cos")), 4).as("sum_cos"))

  /** Embedding-store sanity gate — the screen every vector corpus runs
    * BEFORE indexing (a broken embedder ships NaNs, zero vectors, or
    * norm blowups that silently poison ANN recall): per vector, its
    * dimension count, L2 norm, NaN/zero flags, and the norm's z-score
    * against the corpus (population mean/std over well-formed vectors,
    * one-row broadcast). `flag` marks ragged / NaN / zero vectors and
    * |z| > zThresh outliers; comparisons run on the ROUNDED z so both
    * engines decide from the same grid value. One scan + one one-row
    * aggregate; zero corpus shuffle.
    */
  def vectorQuality(emb: DataFrame, dim: Int, zThresh: Double = 3.0)
      : DataFrame =
    // one stats scan + one decision scan (inherent: global stats gate
    // per-row z); the decision definition lives ONCE in
    // [[vectorQualityFrom]], shared with the standing-stats serving path
    vectorQualityFrom(emb, vectorQualityStats(emb, dim), dim, zThresh)

  /** The [[vectorQuality]] decision against ALREADY-COMPUTED corpus
    * stats — the serving form: a standing (mu, sigma) one-row frame
    * (persist `vectorQualityStats` via [[graft.ops.IndexTables.plain]])
    * gates incoming vectors without rescanning the corpus.
    */
  def vectorQualityFrom(emb: DataFrame, stats: DataFrame, dim: Int,
      zThresh: Double = 3.0): DataFrame = {
    val e = asDouble(col("embedding"))
    emb.select(col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        l2norm(e).as("_nrm"),
        exists(e, x => isnan(x)).as("has_nan"))
      .crossJoin(broadcast(stats))
      .select(col("vec_id"), col("n_dims"), col("has_nan"),
        round(col("_nrm"), 4).as("norm"),
        round(when(col("_sigma") > 0,
            (col("_nrm") - col("_mu")) / col("_sigma")).otherwise(lit(0.0)), 4)
          .as("z"))
      .withColumn("flag",
        col("has_nan") || col("n_dims") =!= dim || col("norm") === 0.0 ||
          abs(col("z")) > zThresh)
  }

  /** The one-row (mu, sigma) norm statistics over well-formed vectors —
    * the standing artifact [[vectorQualityFrom]] gates against, in batch
    * or per micro-batch via [[graft.sources.Sinks.eachBatch]].
    */
  def vectorQualityStats(emb: DataFrame, dim: Int): DataFrame = {
    val e = asDouble(col("embedding"))
    emb.select(size(col("embedding")).as("_nd"), l2norm(e).as("_nrm"),
        exists(e, x => isnan(x)).as("_nan"))
      .where(!col("_nan") && col("_nd") === dim && col("_nrm") > 0)
      .agg(avg("_nrm").as("_mu"), stddev_pop("_nrm").as("_sigma"))
  }

  /** One-pass moment sums for the d×d covariance matrix: the flattened
    * per-row outer-product grid (d² slots), the raw vector (d slots for
    * the means), and a count slot are concatenated into ONE array whose
    * element-wise sum is computed by posexplode + a map-side-combined
    * aggregate — shuffle volume is (d²+d+1) × partitions partial rows,
    * never N. Rows whose embedding is not exactly `dim` long are
    * excluded (ragged vectors would silently corrupt the grid indexing).
    * Returns the (idx, s) sums frame; [[covarianceLong]] turns it into
    * covariances, [[pcaTop]] into a driver-side model. The per-row
    * compute is Θ(d²) multiplications — inherent to covariance; for d
    * beyond a few hundred, sketch/sample upstream rather than paying the
    * full grid (the [[quantizeInt8Stats]] argument in reverse).
    */
  def momentSums(emb: DataFrame, dim: Int): DataFrame = {
    require(dim > 0 && dim <= 512,
      s"covariance: dim must be in [1, 512], got $dim")
    val base = Par.fanOutKernel(emb).select(asDouble(col("embedding")).as("e"))
      .where(size(col("e")) === dim)
    val arr = concat(
      flatten(transform(col("e"), x => transform(col("e"), y => x * y))),
      col("e"), array(lit(1.0)))
    base.select(posexplode(arr).as(Seq("idx", "v")))
      .groupBy("idx").agg(sum("v").as("s"))
  }

  /** Standing moment-sums artifact: [[momentSums]] persisted as a plain
    * (d²+d+1)-row parquet table. Moment sums are MERGEABLE BY
    * CONSTRUCTION (element-wise addition — the sketch property the HLL /
    * CountMin / SpaceSaving artifacts share), so a standing table plus a
    * day's increment re-derives the full-corpus covariance WITHOUT
    * rescanning the base corpus: see [[covarianceMerge]] /
    * [[covarianceFromSums]]. Key `name` on the source with
    * [[IndexTables.ident]] and put other data-changing parameters (dim)
    * in its prefix, as usual.
    */
  def momentsTable(spark: org.apache.spark.sql.SparkSession,
      emb: DataFrame, dim: Int, name: String): DataFrame =
    IndexTables.plain(spark, name)(momentSums(emb, dim))

  /** Element-wise merge of moment-sums frames — increment maintenance
    * for the covariance/PCA stack. Input frames are (d²+d+1)-row; the
    * merge is one tiny aggregation.
    */
  def covarianceMerge(sums: DataFrame*): DataFrame = {
    require(sums.nonEmpty, "covarianceMerge: need at least one sums frame")
    sums.map(_.select(col("idx"), col("s"))).reduce(_.unionByName(_))
      .groupBy("idx").agg(sum("s").as("s"))
  }

  /** Population covariance matrix of the embedding column in long form:
    * (i, j, cov) for every 0 ≤ i, j < dim, cov = E[x_i·x_j] −
    * E[x_i]·E[x_j], rounded to 6 for cross-engine reproducibility. The
    * distributed work is ONE scan ([[momentSums]]); everything after is
    * (d²+d+1)-row algebra (tiny joins that auto-broadcast). This is the
    * statistics half of PCA/whitening ([[pcaTop]]) and a drift signal in
    * its own right (covariance drift between two embedder versions).
    */
  def covarianceLong(emb: DataFrame, dim: Int): DataFrame =
    // the sums frame feeds FOUR branches (products, means×2, count) —
    // without the checkpoint each branch re-runs the corpus scan + d²
    // explode (no ReusedExchange across differently-filtered subtrees);
    // checkpointing (d²+d+1) rows buys back 3 scans (the id-only
    // decision-checkpoint convention)
    covarianceFromSums(momentSums(emb, dim).localCheckpoint(true), dim)

  /** [[covarianceLong]]'s algebra over an already-materialized sums
    * frame (a standing [[momentsTable]], a [[covarianceMerge]] result) —
    * the incremental path: base moments stand, only the increment is
    * scanned, and the merged covariance is IDENTICAL to a full-corpus
    * rebuild (oracled as q_covariance_incr against the full replay).
    */
  def covarianceFromSums(sums0: DataFrame, dim: Int): DataFrame = {
    require(dim > 0 && dim <= 512,
      s"covariance: dim must be in [1, 512], got $dim")
    val sums = sums0
    val nRow = sums.where(col("idx") === dim * dim + dim)
      .select(col("s").as("n"))
    val means = sums
      .where(col("idx") >= dim * dim && col("idx") < dim * dim + dim)
      .select((col("idx") - dim * dim).cast("long").as("mi"),
        col("s").as("sx"))
    sums.where(col("idx") < dim * dim)
      .select(floor(col("idx") / dim).cast("long").as("i"),
        pmod(col("idx"), lit(dim)).cast("long").as("j"), col("s").as("sxy"))
      .join(means.select(col("mi").as("i"), col("sx").as("sxi")), "i")
      .join(means.select(col("mi").as("j"), col("sx").as("sxj")), "j")
      .crossJoin(broadcast(nRow))
      .select(col("i"), col("j"),
        round(col("sxy") / col("n") -
          (col("sxi") / col("n")) * (col("sxj") / col("n")), 6).as("cov"))
  }

  /** Driver-side PCA model: top-k eigenpairs of the population
    * covariance + the mean vector. */
  final case class PcaModel(mean: Array[Double], eigvals: Array[Double],
      components: Array[Array[Double]])

  /** Top-k PCA of the embedding column — power iteration with deflation
    * over the d×d covariance matrix. The DATA-sized work is the one
    * [[momentSums]] scan; the matrix itself is d² doubles — THE MODEL,
    * NOT THE DATA — so collecting it and iterating on the driver is the
    * same call [[ivfCentroids]] makes for its k×d centroids (a 100 TB
    * corpus still has a 16×16 covariance). Deterministic by
    * construction: init is the basis vector of the largest diagonal
    * entry (ties → lowest index), a fixed `iters` sweep count, and sign
    * canonicalization (largest-|coordinate| positive, ties → lowest
    * index), so repeated builds ship identical models.
    */
  def pcaTop(emb: DataFrame, dim: Int, k: Int, iters: Int = 100): PcaModel = {
    require(k >= 1 && k <= dim, s"pcaTop: k must be in [1, $dim], got $k")
    val sums = momentSums(emb, dim).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val n = sums.getOrElse(dim * dim + dim, 0.0)
    require(n >= 2, s"pcaTop: need at least 2 rows of dim $dim, got $n")
    val mean = Array.tabulate(dim)(i => sums.getOrElse(dim * dim + i, 0.0) / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      sums.getOrElse(i * dim + j, 0.0) / n - mean(i) * mean(j))
    val comps = Array.ofDim[Array[Double]](k)
    val lams = Array.ofDim[Double](k)
    def dotv(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    for (c <- 0 until k) {
      // power-iterate on the EXPLICITLY deflated matrix C − Σ λ_p v_p v_pᵀ
      // (projection-per-step collapses to the zero vector in degenerate
      // residual spaces and silently re-converges onto an extracted
      // component — the Rayleigh quotient then reports a stale λ)
      val defl = Array.tabulate(dim, dim)((i, j) =>
        cov(i)(j) - (0 until c).map(p => lams(p) * comps(p)(i) * comps(p)(j)).sum)
      def mv(v: Array[Double]): Array[Double] =
        Array.tabulate(dim)(i => (0 until dim).map(j => defl(i)(j) * v(j)).sum)
      val diag = Array.tabulate(dim)(i => defl(i)(i))
      var v = Array.tabulate(dim)(i =>
        if (i == diag.indices.maxBy(j => (diag(j), -j))) 1.0 else 0.0)
      var live = true
      for (_ <- 0 until iters if live) {
        val w = mv(v)
        val nrm = math.sqrt(dotv(w, w))
        if (nrm > 1e-12) v = w.map(_ / nrm)
        else live = false // residual space is (numerically) null: λ_c = 0
      }
      // numerical hygiene: re-orthogonalize against the extracted basis
      for (p <- 0 until c) {
        val proj = dotv(v, comps(p))
        v = Array.tabulate(dim)(i => v(i) - proj * comps(p)(i))
      }
      val nv = math.sqrt(dotv(v, v))
      if (nv > 1e-9) v = v.map(_ / nv)
      else {
        // fully degenerate direction: first basis vector with a non-null
        // residual after Gram-Schmidt against the extracted components
        v = (0 until dim).iterator.map { b =>
          var cand = Array.tabulate(dim)(i => if (i == b) 1.0 else 0.0)
          for (p <- 0 until c) {
            val proj = dotv(cand, comps(p))
            cand = Array.tabulate(dim)(i => cand(i) - proj * comps(p)(i))
          }
          cand
        }.find(cand => math.sqrt(dotv(cand, cand)) > 1e-9)
          .map(cand => { val n = math.sqrt(dotv(cand, cand)); cand.map(_ / n) })
          .getOrElse(sys.error("pcaTop: no orthogonal direction left"))
      }
      // sign canonicalization: the largest-|coordinate| entry is positive
      val pivot = v.indices.maxBy(i => (math.abs(v(i)), -i))
      if (v(pivot) < 0) v = v.map(-_)
      comps(c) = v
      lams(c) = math.max(0.0, dotv(v, mv(v)))
    }
    // near-degenerate spectra (λ_c ≈ λ_{c+1}, e.g. isotropic embeddings)
    // converge to the right SUBSPACE but can extract the pairs a hair out
    // of order (observed on real data: 0.0207 before 0.0208) — sort the
    // extracted pairs so the "top-k by variance" contract actually holds
    val order = (0 until k).sortBy(c => (-lams(c), c))
    PcaModel(mean, order.map(lams).toArray, order.map(comps).toArray)
  }

  /** PCA whitening apply — the scan-stage projection a [[pcaTop]] model
    * compiles to: y_c = (x − mean)·v_c / sqrt(λ_c + eps) per component.
    * The model rides the plan as literals (mean + k components, each a
    * d-array — parameter-sized, the legitimate broadcast-by-literal
    * case); per row the cost is k dot products in the scan stage, ZERO
    * shuffles, and the output components have unit variance and zero
    * correlation by construction (spec-pinned). Rows not exactly `dim`
    * long are excluded, mirroring the fit. Returns (vec_id, whitened
    * ARRAY<double> of length k).
    */
  def pcaWhiten(emb: DataFrame, model: PcaModel, eps: Double = 1e-9)
      : DataFrame = {
    val dim = model.mean.length
    val meanLit = array(model.mean.toIndexedSeq.map(lit): _*)
    val centered = zip_with(asDouble(col("embedding")), meanLit, _ - _)
    val comps = model.components.indices.map { c =>
      val vLit = array(model.components(c).toIndexedSeq.map(lit): _*)
      (dot(col("_c0"), vLit) / lit(math.sqrt(model.eigvals(c) + eps)))
        .as(s"_y$c")
    }
    emb.where(size(col("embedding")) === dim)
      .select(col("vec_id"), centered.as("_c0"))
      .select(col("vec_id"), array(comps: _*).as("whitened"))
  }
}
