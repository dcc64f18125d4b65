package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Headline benchmark. Drift-proof protocol (round-6 verdict #2):
  *
  *   - one untimed WARMUP pass over every query (parquet reader, codegen,
  *     shuffle machinery, broadcast path, per-plan JIT), then
  *   - three timed passes in round-robin order (pass 1 all queries, pass 2
  *     all queries, ...), reporting the per-query MEDIAN. Round-robin, not
  *     back-to-back repeats: if the host slows mid-bench, the slowdown
  *     lands on whole passes and the median recovers the middle reading,
  *     whereas three adjacent runs of one query would all absorb it;
  *   - a fixed-work CALIBRATION probe (hash-xor over a constant range,
  *     zero I/O) timed once per pass and emitted as calibration_sec —
  *     identical code measured 25.7 → 32.1 s across one hour on this
  *     host (NOTES.md round 6), so the probe gives the driver a
  *     same-moment yardstick to tell host drift from plan regressions.
  *
  * JSON stays one line and keeps every round-1 field; new fields are
  * additive (calibration_sec, passes).
  *
  * Output-size contract (round-7 advice): the driver snapshots only the
  * LAST 2000 characters of the run's stdout and parses the JSON line out
  * of that tail — round 7's full-precision 113-query line was ~5 KB, so
  * the tail held only its second half and the driver recorded
  * `parsed: null`. The stdout line therefore stays under ~1.6 KB: it
  * carries every aggregate field plus per-query timings for the
  * BASELINE-SHARED queries only (the set the 2× gate is actually graded
  * on); the complete full-precision per-query map is written to
  * `BENCH_LOCAL.json` in the working directory (committed per round), and
  * the line names that file in its `full` field.
  */
object Bench {
  /** Force full materialization of every output column: a bare count()
    * lets Catalyst prune projection-only work (the kernels being measured)
    * down to a column-less scan. Hashing all columns into an aggregate
    * keeps the whole plan live while returning one row to the driver.
    */
  private def exercise(df: DataFrame): Unit = {
    // bit_xor, not sum: summing 64-bit hashes overflows under ANSI mode
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Constant-work CPU probe: hash + xor-fold a fixed range. No file I/O,
    * no shuffle — its wall time moves only when the host does.
    */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200L * 1000 * 1000)
      .select(xxhash64(col("id")).as("h")).agg(expr("bit_xor(h)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The MULTI-THREADED twin of [[calibrate]] (round-14 verdict #5): the
    * same per-core work fanned over every local[N] slot — 200M hash-xor
    * rows PER THREAD in N single-slice partitions. The single-thread probe
    * missed parallel-stage contention twice (round-13's 0.56-0.81 ratio
    * spread at fixed plan state was co-tenant pressure the idle-core probe
    * never felt); this one runs at the same concurrency the measured
    * queries do, so a loaded host moves BOTH probes and a contention-only
    * wobble moves this one. Emitted as calibration_par_sec beside the
    * serial reading — the driver's drift yardsticks, per BASELINE.md
    * "Bench protocol".
    */
  private def calibratePar(spark: SparkSession, threads: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200L * 1000 * 1000 * threads, 1L, threads)
      .select(xxhash64(col("id")).as("h")).agg(expr("bit_xor(h)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // q_nn is the deliberately-fenced exact O(N²) VERIFIER (Similarity.
    // nearestNeighbour) — it exists to validate the LSH/IVF scale paths at
    // sf0.01 (where the oracle still runs it), not to be benched: as the
    // query set grows its ~2.5 s all-pairs pass would dominate the
    // headline total while measuring nothing production-shaped. The scale
    // path q_nn_lsh carries the NN row in the bench; set
    // SPARK_GRAFT_BENCH_ALL=1 to time the verifier too. Skipped queries
    // drop out of the baseline_ratio subtotal on BOTH sides (the shared
    // filter below), so the gate accounting stays like-for-like.
    val verifierOnly = if (sys.env.contains("SPARK_GRAFT_BENCH_ALL"))
      Set.empty[String] else Set("q_nn")
    val queries = (SparkEntry.queries -- verifierOnly).toSeq.sortBy(_._1)

    // WARMUP pass: a query that fails here is marked failed and skipped in
    // the timed passes (-1 in the JSON keeps it visible). Since round 16
    // the warmup is also TIMED (it was free): the warmup sample is a
    // second, temporally-distant reading for the ~240 non-gate queries
    // that get exactly one timed pass — round 15's driver artifact
    // recorded 67 s for a 1.4 s query when host contention landed inside
    // the single pass, and min(warmup, pass-1) caps that damage at the
    // other reading. Warmup samples are systematically high (first-plan
    // codegen, index builds), so the min is normally just pass 1 — it
    // only bites when pass 1 is the contaminated one.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val failed = scala.collection.mutable.Set[String]()
    val warmSample = scala.collection.mutable.Map[String, Double]()
    queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        exercise(fn(spark, sfDir))
        warmSample(name) = (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => failed += name }
    }

    // Baseline accounting: the 2× perf gate is anchored to round 1's
    // 44-query bench, but the query set grows every round — comparing the
    // headline total against the round-1 total would flag a phantom
    // regression once enough NEW queries accumulate (~1.7× by round 4 with
    // same-query perf flat at 1.03×). So compare like with like: the
    // subtotal over the queries PRESENT IN BOTH runs, emitted per bench run
    // as baseline_ratio. See BASELINE.md "Gate evaluation". Parsed BEFORE
    // the timed passes since round 14: the shared set also decides which
    // queries get multi-pass timing (below).
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BENCH_r01.json")
    val baseline: Map[String, Double] = try {
      val src = scala.io.Source.fromFile(baselinePath)
      // the driver wraps the bench JSON line in a log-tail string with
      // escaped quotes; unescape before scanning for "q_*":secs pairs
      val txt = try src.mkString.replace("\\\"", "\"") finally src.close()
      """"(q_\w+)":(-?[0-9][0-9.eE+-]*)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    // round-17 (verdict #2): five kernel-heavy rows are PROMOTED into the
    // multi-pass median set so the fan-out/kernel work is gradable under
    // the same median-of-passes protocol as the gate set (at sf0.1 they
    // were single-pass rows, where a methodology change shadows any code
    // delta). Additive only: every previously multi-pass query keeps its
    // protocol.
    val promoted = Set("q_ter_shift", "q_chrf", "q_covariance",
      "q_winnow_multik", "q_pq_topk")
    val multiPass: String => Boolean =
      name => promoted(name) || baseline.get(name).exists(_ >= 0)
    // the median-of-passes drift protection silently disappears when the
    // baseline file is missing or unparseable (multiPass false for every
    // query) — surface it (round-14 advice): a loud stderr line here, and
    // multi_pass_queries in the JSON so the artifact itself records how
    // many queries actually got the median treatment
    val nMultiPass = queries.count { case (n, _) => multiPass(n) }
    if (passes > 1 && nMultiPass == 0)
      System.err.println(s"[bench] WARNING: passes=$passes but baseline " +
        s"'$baselinePath' yielded 0 shared queries — every timing is a " +
        "single sample (median-of-passes drift protection is OFF)")

    // timed round-robin passes; one calibration reading per pass.
    // Pass 1 times EVERY query; passes 2+ re-time only the baseline-shared
    // gate set (round-13 verdict #4: the full-suite run grew to 1,139 s and
    // lives inside the same driver window the oracle compare blew — the 2×
    // gate is graded on the shared subtotal's median-of-passes, so the
    // ~235 non-gate queries pay one timed pass, not three; their single
    // sample still lands in BENCH_LOCAL.json for round-over-round eyes).
    val samples = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    // pass-1 START offset (seconds since bench start) per query — the
    // post-hoc diagnosability the round-15 verdict asked for: a
    // contention band shows up as a contiguous time window of inflated
    // rows, identifiable from these stamps (BENCH_LOCAL.json only).
    val t1Start = scala.collection.mutable.Map[String, Double]()
    val benchT0 = System.nanoTime()
    val calib = scala.collection.mutable.ListBuffer[Double]()
    val calibPar = scala.collection.mutable.ListBuffer[Double]()
    for (pass <- 1 to passes) {
      // drop Dataset-cache entries between passes: queries that persist()
      // an intermediate (q_bm25's matched postings) are keyed by
      // canonicalized plan in the CacheManager, so without this every
      // timed pass after the first would silently measure the FIRST
      // pass's cached intermediate instead of the query
      spark.catalog.clearCache()
      calib += calibrate(spark)
      calibPar += calibratePar(spark, cpus.toInt)
      queries.foreach { case (name, fn) =>
        if (!failed(name) && (pass == 1 || multiPass(name))) {
          val t0 = System.nanoTime()
          if (pass == 1) t1Start(name) = (t0 - benchT0) / 1e9
          try {
            exercise(fn(spark, sfDir))
            samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples(name)
          } catch { case _: Throwable => failed += name }
        }
      }
    }
    // gate (multi-pass) rows: median of passes, the unchanged protocol the
    // 2× gate is graded on. Single-pass rows: min(warmup, pass 1) — the
    // round-15 verdict-#2 contamination cap (see the warmup comment).
    val results: Map[String, Double] = queries.map { case (name, _) =>
      val xs = samples(name)
      name -> (if (failed(name) || xs.isEmpty) -1.0
               else if (xs.length > 1) median(xs)
               else warmSample.get(name).fold(xs.head)(w => math.min(w, xs.head)))
    }.toMap

    val total = results.values.filter(_ >= 0).sum
    val shared = results.collect {
      case (k, v) if v >= 0 && baseline.get(k).exists(_ >= 0) => (v, baseline(k))
    }
    val curShared = shared.map(_._1).sum
    val baseShared = shared.map(_._2).sum
    val ratio = if (baseShared > 0) curShared / baseShared else -1.0

    def f3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def qsJson(sel: Map[String, Double], fmt: Double => String): String =
      sel.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")

    // contention tripwire (round-15 verdict #7): on this host's quiet
    // baseline the parallel probe reads ~3.9-4.3× the serial one
    // (BASELINE.md "Probe reference points"); a materially higher ratio
    // means the parallel slots are contended while the idle-core serial
    // probe is not — exactly the co-tenant signature that contaminated
    // r15's driver pass 1 — so flag it loudly next to the numbers.
    val parRatio = median(calibPar.toSeq) / math.max(median(calib.toSeq), 1e-9)
    if (parRatio > 6.0)
      System.err.println(f"[bench] WARNING: calibration_par/calibration = " +
        f"$parRatio%.2f (quiet-host reference ~4) — parallel-slot " +
        "contention detected; treat single-sample rows with suspicion")

    // full-precision, all queries — the committed local artifact.
    // t1_start: pass-1 start offsets (sec since bench start) for post-hoc
    // contention-band diagnosis; warmup: the warmup-pass samples feeding
    // the single-pass min (both round-15 verdict #2).
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${qsJson(results, _.toString)},""" +
      s""""shared_with_baseline":${shared.size},"shared_total":$curShared,""" +
      s""""baseline_shared_total":$baseShared,"baseline_ratio":$ratio,""" +
      s""""passes":$passes,"multi_pass_queries":$nMultiPass,""" +
      s""""calibration_sec":${median(calib.toSeq)},""" +
      s""""calibration_runs":${calib.map(f3).mkString("[", ",", "]")},""" +
      s""""calibration_par_sec":${median(calibPar.toSeq)},""" +
      s""""calibration_par_runs":${calibPar.map(f3).mkString("[", ",", "]")},""" +
      s""""t1_start":${qsJson(t1Start.toMap, f3)},""" +
      s""""warmup":${qsJson(warmSample.toMap, f3)},""" +
      s""""index_build_sec":${f3(graft.ops.IndexTables.buildSeconds)},""" +
      s""""index_builds":${graft.ops.IndexTables.buildsRun},""" +
      s""""sf":"$sfDir"}"""
    val fullPath = "BENCH_LOCAL.json"
    // advertise the file only if THIS run wrote it: the path is committed
    // per round, so pointing at it after a failed write (read-only cwd)
    // would silently serve a previous round's numbers as this run's
    // NonFatal only: an OutOfMemoryError/VM error must surface as a crash,
    // not silently degrade to fullWritten=false with plausible-looking
    // stdout aggregates from a half-dead JVM
    val fullWritten =
      try {
        val w = new java.io.PrintWriter(fullPath, "UTF-8")
        try { w.println(fullJson); true } finally w.close()
      } catch { case scala.util.control.NonFatal(_) => false }

    // compact stdout line (< ~1.6 KB — must fit the driver's 2000-char
    // output tail whole): aggregates + the baseline-shared per-query set
    // at millisecond precision. Falls back to as-many-as-fit when no
    // baseline file is present (fresh checkout).
    val sharedNames = results.keySet.filter(k => baseline.get(k).exists(_ >= 0))
    val compactSel0 =
      if (sharedNames.nonEmpty) results.view.filterKeys(sharedNames).toMap
      else results
    // hard cap: never let the queries map push the line past the tail
    val budget = 1500
    val ordered = compactSel0.toSeq.sortBy(_._1)
    val kept = scala.collection.mutable.ListBuffer[(String, Double)]()
    var len = 2
    ordered.foreach { case (k, v) =>
      val e = k.length + f3(v).length + 4
      if (len + e <= budget) { kept += (k -> v); len += e }
    }
    // count EVERYTHING absent from the compact map (non-shared queries and
    // budget drops alike) so n_queries − |queries| always reconciles
    val dropped = results.size - kept.size
    val line =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec",""" +
      s""""queries":${qsJson(kept.toMap, f3)},""" +
      s""""n_queries":${results.size},"queries_omitted":$dropped,""" +
      s""""shared_with_baseline":${shared.size},"shared_total":${f3(curShared)},""" +
      s""""baseline_shared_total":${f3(baseShared)},""" +
      s""""baseline_ratio":${String.format(java.util.Locale.ROOT, "%.4f", Double.box(ratio))},""" +
      s""""passes":$passes,"multi_pass_queries":$nMultiPass,""" +
      s""""calibration_sec":${f3(median(calib.toSeq))},""" +
      s""""calibration_par_sec":${f3(median(calibPar.toSeq))},""" +
      s""""index_build_sec":${f3(graft.ops.IndexTables.buildSeconds)},""" +
      s""""index_builds":${graft.ops.IndexTables.buildsRun},""" +
      (if (fullWritten) s""""full":"$fullPath",""" else "") +
      s""""sf":"$sfDir"}"""
    println(line)
    spark.stop()
    // re-emit after shutdown so the JSON stays at the very end of the
    // process output even if Spark's stop() logs anything to stdout —
    // the driver's tail-parse picks up whichever copy it scans
    println(line)
  }
}
