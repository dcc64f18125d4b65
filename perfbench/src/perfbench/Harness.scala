package perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.{SparkEntry, Tables}
import graft.ops.IndexTables
import graft.streaming.{Stateful, StreamingOps}

final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String)

/** One benchmark run inside one JVM. It times its own calls into the
  * library's public entry points and writes every raw sample to a JSON
  * file that `run.py` turns into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --out FILE
  *        Harness --record --data DIR --out FILE
  *
  * `--record` runs every batch query once and writes its output
  * fingerprint; `fingerprints.json` is made that way.
  */
object Harness {

  /** Kernel-heavy operator-library rows, one per module: retrieval over the
    * standing BM25 index, IVF and LSH indexes, a TF-IDF kernel pass, a
    * checkpointed graph loop, and a table profile whose DataFrame
    * construction runs eager jobs.
    */
  val CurationBatch: Seq[String] = Seq(
    "q_bm25_topk", "q_ivf_topk", "q_minhash_lsh", "q_tfidf", "q_pagerank",
    "q_profile")

  /** Fewest timed passes of a run; its metrics are medians over them. A
    * `curation_batch` pass is short and its first timed one is the
    * noisiest, so it gets three; a `stream_replay` pass is longer and
    * steadier.
    */
  val BatchTimedPasses = 3
  val StreamTimedPasses = 2

  val BatchEvents = 1000
  val WatermarkDelay = "10 minutes"
  val WindowSize = "1 hour"
  /** Replay jitter bound: strictly inside the watermark delay, so no event
    * is ever behind the watermark and no output depends on arrival order.
    */
  val JitterMicros: Long = 5L * 60 * 1000 * 1000

  /** When the Spark session was up, for the set-up breakdown. */
  var sessionReady = 0.0

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, record: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var record = false
    var i = 0
    while (i < args.length) {
      if (args(i) == "--record") { record = true; i += 1 }
      else {
        require(args(i).startsWith("--") && i + 1 < args.length, s"bad argument ${args(i)}")
        kv(args(i).drop(2)) = args(i + 1); i += 2
      }
    }
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv("data"), kv("out"), record)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    sessionReady = now()
    val json =
      try {
        if (a.record) record(spark, a)
        else a.workload match {
          case "curation_batch" => runBatch(spark, a, CurationBatch, cores)
          case "stream_replay" => runStream(spark, a, cores)
          case w => throw new IllegalArgumentException(s"unknown workload '$w'")
        }
      } finally spark.stop()
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(json) finally w.close()
  }

  // ---------------------------------------------------------------- probes

  /** The same fixed work as `graft.Bench.calibrate`: hash-xor 200M rows on
    * one slot. Its wall time moves only when the host does.
    */
  def calibSerial(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200L * 1000 * 1000)
      .select(xxhash64(col("id")).as("h")).agg(expr("bit_xor(h)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The same fixed work as `graft.Bench.calibratePar`: 200M rows per slot,
    * one partition per slot.
    */
  def calibPar(spark: SparkSession, cores: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 200L * 1000 * 1000 * cores, 1L, cores)
      .select(xxhash64(col("id")).as("h")).agg(expr("bit_xor(h)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  // ----------------------------------------------------------- batch runs

  /** Order-independent fingerprint of a query's full output, the
    * `xxhash64(struct(*))` / `bit_xor` reduction of `graft.Bench.exercise`,
    * plus the row count (bit_xor alone cancels duplicate rows).
    */
  def fingerprint(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)").as("h"), count(lit(1)).as("n"))

  private object Plans extends AdaptiveSparkPlanHelper {
    def counts(p: SparkPlan): (Int, Int, Int) = {
      val found = collectWithSubqueries(p) {
        case _: ShuffleExchangeLike => 0
        case _: BroadcastExchangeLike => 1
        case _: RDDScanExec => 2
      }
      (found.count(_ == 0), found.count(_ == 1), found.count(_ == 2))
    }
  }

  final case class Op(name: String, t0: Double, t1: Double, t2: Double,
      ok: Boolean, hash: Long, rows: Long, err: String,
      plan: (Int, Int, Int))

  /** One closed-loop query: build the DataFrame, then collect its
    * fingerprint. The next query starts only after this one returns.
    */
  def runQuery(spark: SparkSession, name: String, dir: String, span: String): Op = {
    val sc = spark.sparkContext
    val t0 = now()
    var t1 = t0
    try {
      if (span != null) sc.setLocalProperty(Tracer.SpanKey, s"$span/build")
      val df = SparkEntry.queries(name)(spark, dir)
      t1 = now()
      if (span != null) sc.setLocalProperty(Tracer.SpanKey, s"$span/exec")
      val fp = fingerprint(df)
      val r = fp.collect()(0)
      val t2 = now()
      val plan = if (span != null) Plans.counts(fp.queryExecution.executedPlan) else (0, 0, 0)
      Op(name, t0, t1, t2, ok = true, r.getLong(0), r.getLong(1), null, plan)
    } catch {
      case NonFatal(e) =>
        Op(name, t0, t1, now(), ok = false, 0L, 0L, e.toString.take(300), (0, 0, 0))
    } finally {
      if (span != null) sc.setLocalProperty(Tracer.SpanKey, null)
    }
  }

  def opJson(o: Op): Json.Raw = Json.obj("name" -> o.name, "t0" -> o.t0,
    "t1" -> o.t1, "t2" -> o.t2, "ok" -> o.ok, "hash" -> o.hash.toString,
    "rows" -> o.rows, "err" -> Option(o.err), "exchanges" -> o.plan._1,
    "broadcasts" -> o.plan._2, "rdd_scans" -> o.plan._3)

  def runBatch(spark: SparkSession, a: Args, queries: Seq[String], cores: Int): String = {
    val launch = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // warmup: one untimed pass fills codegen and JIT caches and builds
    // every standing index the queries read
    val warm = queries.map(q => runQuery(spark, q, a.data, null))
    spark.catalog.clearCache()
    val setupEnd = now()
    val setupBuilds = IndexTables.buildsRun
    val setupBuildS = IndexTables.buildSeconds
    val calib0 = (calibSerial(spark), calibPar(spark, cores))

    def pass(no: Int, traced: Boolean): Json.Raw = {
      spark.catalog.clearCache()
      val order = new Random(a.seed * 1000003L + no).shuffle(queries)
      val p0 = now()
      val ops = order.map(q => runQuery(spark, q, a.data, if (traced) s"p$no/$q" else null))
      Json.obj("no" -> no, "traced" -> traced, "t0" -> p0, "t1" -> now(),
        "ops" -> Json.arr(ops.map(opJson)))
    }
    val passes = mutable.ArrayBuffer[Json.Raw]()
    val t0 = now()
    while (passes.size < BatchTimedPasses || now() - t0 < a.seconds * 1000)
      passes += pass(passes.size, traced = false)
    // traced run: two traced passes, whose per-query counters must agree,
    // then one more untraced pass so the tracing overhead is measured
    // against untraced passes on both sides
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      for (_ <- 0 until 2) passes += pass(passes.size, traced = true)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
      passes += pass(passes.size, traced = false)
    }
    val calib1 = (calibSerial(spark), calibPar(spark, cores))
    Json.obj("workload" -> a.workload, "kind" -> "batch", "cores" -> cores,
      "launch" -> launch, "session_ready" -> sessionReady, "setup_end" -> setupEnd,
      "calib_serial" -> Seq(calib0._1, calib1._1), "calib_par" -> Seq(calib0._2, calib1._2),
      "index_builds_setup" -> setupBuilds, "index_build_s_setup" -> setupBuildS,
      "index_builds_timed" -> (IndexTables.buildsRun - setupBuilds),
      "warmup" -> Json.arr(warm.map(opJson)), "passes" -> Json.arr(passes.toSeq),
      "trace" -> tracer.map(_.toJson), "peak_rss_kb" -> peakRssKb()).s
  }

  def record(spark: SparkSession, a: Args): String = {
    val ops = CurationBatch.map(q => runQuery(spark, q, a.data, null))
    Json.obj("passes" -> Json.arr(Seq(Json.obj("ops" -> Json.arr(ops.map(opJson)))))).s
  }

  // ---------------------------------------------------------- stream runs

  private val streamIds = new java.util.concurrent.atomic.AtomicInteger(100)

  /** Driver-side sinks: what each streaming query has emitted so far. */
  final class Sinks {
    val windows = mutable.Map[(Long, Long, String), Long]()
    var windowDups = 0
    val counts = mutable.Map[Long, Long]()
    val lists = mutable.Map[Long, List[Long]]()
  }

  def startQueries(spark: SparkSession, ckpt: String, span: String, sinks: Sinks)
      : Seq[(String, MemoryStream[Ev], StreamingQuery)] = {
    import spark.implicits._
    val sc = spark.sparkContext
    def tag(q: String): Unit = if (span != null) sc.setLocalProperty(Tracer.SpanKey, s"$span/$q")

    val m1 = MemoryStream[Ev](streamIds.incrementAndGet(), spark, None)
    val winSink: (DataFrame, Long) => Unit = (b, _) => b.collect().foreach { r =>
      val k = (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getString(2))
      if (sinks.windows.contains(k)) sinks.windowDups += 1
      sinks.windows(k) = r.getLong(3)
    }
    tag("tumbling")
    val q1 = StreamingOps.tumblingCount(m1.toDF(), "ts", WatermarkDelay, WindowSize, "event_type")
      .writeStream.outputMode("append").option("checkpointLocation", s"$ckpt/tumbling")
      .foreachBatch(winSink).start()

    val m2 = MemoryStream[Ev](streamIds.incrementAndGet(), spark, None)
    val countSink: (Dataset[(Long, Long)], Long) => Unit =
      (b, _) => b.collect().foreach { case (k, c) => sinks.counts(k) = c }
    tag("running_count")
    val q2 = Stateful.runningCount(m2.toDS().groupByKey(_.user_id))
      .writeStream.outputMode("update").option("checkpointLocation", s"$ckpt/running_count")
      .foreachBatch(countSink).start()

    val m3 = MemoryStream[Ev](streamIds.incrementAndGet(), spark, None)
    val listSink: (Dataset[(Long, List[Long])], Long) => Unit =
      (b, _) => b.collect().foreach { case (k, l) => sinks.lists(k) = l }
    tag("accumulate_list")
    val q3 = Stateful.accumulateList(m3.toDS().groupByKey(_.user_id), (e: Ev) => e.event_id)
      .writeStream.outputMode("update").option("checkpointLocation", s"$ckpt/accumulate_list")
      .foreachBatch(listSink).start()
    if (span != null) sc.setLocalProperty(Tracer.SpanKey, null)
    Seq(("tumbling", m1, q1), ("running_count", m2, q2), ("accumulate_list", m3, q3))
  }

  def progressJson(p: StreamingQueryProgress): Json.Raw = {
    import scala.jdk.CollectionConverters._
    val ops = p.stateOperators.toSeq.map(s => Json.obj(
      "rows" -> s.numRowsTotal, "bytes" -> s.memoryUsedBytes,
      "commit_ms" -> s.commitTimeMs, "update_ms" -> s.allUpdatesTimeMs,
      "dropped_late" -> s.numRowsDroppedByWatermark,
      "instances" -> s.numStateStoreInstances))
    Json.obj("batch" -> p.batchId, "input_rows" -> p.numInputRows,
      "timestamp" -> p.timestamp,
      "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "watermark" -> Option(p.eventTime.get("watermark")), "state" -> Json.arr(ops))
  }

  /** Replays `events` through three fresh streaming queries, one
    * micro-batch of BatchEvents at a time per query, closed loop: the next
    * batch is added only after `processAllAvailable` returns.
    */
  def replay(spark: SparkSession, events: Array[Ev], nBatches: Int, ckpt: String,
      span: String): (Json.Raw, Sinks, StreamingQuery) = {
    val sinks = new Sinks
    val qs = startQueries(spark, ckpt, span, sinks)
    val ops = mutable.ArrayBuffer[Json.Raw]()
    val p0 = now()
    try {
      for (b <- 0 until nBatches) {
        val slice = events.slice(b * BatchEvents, (b + 1) * BatchEvents).toSeq
        qs.foreach { case (name, m, q) =>
          val t0 = now()
          val err = try { m.addData(slice); q.processAllAvailable(); null }
            catch { case NonFatal(e) => e.toString.take(300) }
          ops += Json.obj("name" -> name, "batch" -> b, "t0" -> t0, "t2" -> now(),
            "ok" -> (err == null), "err" -> Option(err))
        }
      }
    } finally qs.foreach(_._3.stop())
    val p1 = now()
    val progress = qs.map { case (name, _, q) =>
      name -> Json.arr(q.recentProgress.toSeq.map(progressJson)) }
    (Json.obj("t0" -> p0, "t1" -> p1, "ops" -> Json.arr(ops.toSeq),
      "progress" -> Json.obj(progress: _*)), sinks, qs.head._3)
  }

  /** Checks the streaming outputs against a plain Spark batch recomputation
    * over the same replayed events. Returns the names of the queries whose
    * output differs.
    */
  def check(spark: SparkSession, replayed: Seq[Ev], sinks: Sinks,
      tumbling: StreamingQuery): Seq[String] = {
    import spark.implicits._
    val df = replayed.toDS()
    val bad = mutable.ArrayBuffer[String]()
    val counts = df.groupBy("user_id").count().as[(Long, Long)].collect().toMap
    if (counts != sinks.counts.toMap) bad += "running_count"
    val sets = df.groupBy("user_id").agg(collect_set("event_id"))
      .as[(Long, Seq[Long])].collect().map { case (k, s) => k -> s.toSet }.toMap
    val listsOk = sinks.lists.keySet == sets.keySet && sinks.lists.forall {
      case (k, l) => l.size == sets(k).size && l.toSet == sets(k) }
    if (!listsOk) bad += "accumulate_list"
    val wins = df.groupBy(window(col("ts"), WindowSize), col("event_type")).count()
      .select(col("window.start"), col("window.end"), col("event_type"), col("count"))
      .as[(Timestamp, Timestamp, String, Long)].collect()
      .map { case (s, e, t, c) => (s.getTime, e.getTime, t) -> c }.toMap
    // every window the final watermark closed must have been emitted, and
    // every emitted window must carry its complete count
    val wm = tumbling.recentProgress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).foldLeft(0L)(math.max)
    val dropped = tumbling.recentProgress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum
    val closed = wins.filter { case ((_, e, _), _) => e <= wm }
    val winOk = sinks.windowDups == 0 && dropped == 0 && closed.nonEmpty &&
      closed.forall { case (k, c) => sinks.windows.get(k).contains(c) } &&
      sinks.windows.forall { case (k, c) => wins.get(k).contains(c) }
    if (!winOk) bad += "tumbling"
    bad.toSeq
  }

  def runStream(spark: SparkSession, a: Args, cores: Int): String = {
    import spark.implicits._
    val launch = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val ckptRoot = new java.io.File(System.getProperty("java.io.tmpdir"), "ckpt").getPath
    // input load: the events table, replayed in event-time order with a
    // seeded jitter bounded by JitterMicros
    val rng = new Random(a.seed)
    val events = Tables.events(spark, a.data)
      .select("event_id", "ts", "user_id", "event_type").as[Ev].collect()
      .map(e => (e.ts.getTime * 1000 + rng.nextLong(JitterMicros), e.event_id, e))
      .sortBy(t => (t._1, t._2)).map(_._3)
    val nBatches = (events.length + BatchEvents - 1) / BatchEvents
    // warmup: one untimed replay of the whole table; the micro-batches of
    // fresh queries keep speeding up until its end
    replay(spark, events, nBatches, s"$ckptRoot/warmup", null)
    val setupEnd = now()
    val setupBuilds = IndexTables.buildsRun
    val setupBuildS = IndexTables.buildSeconds
    val calib0 = (calibSerial(spark), calibPar(spark, cores))

    val passes = mutable.ArrayBuffer[Json.Raw]()
    var n = 0
    def pass(traced: Boolean): Unit = {
      val (js, sinks, tumbling) =
        replay(spark, events, nBatches, s"$ckptRoot/p$n", if (traced) s"p$n" else null)
      val bad = check(spark, events.toSeq, sinks, tumbling)
      passes += Json.obj("no" -> n, "traced" -> traced, "replay" -> js,
        "mismatched" -> bad, "events" -> events.length)
      n += 1
    }
    val t0 = now()
    while (passes.size < StreamTimedPasses || now() - t0 < a.seconds * 1000) pass(traced = false)
    val tracer = if (a.trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      for (_ <- 0 until 2) pass(traced = true)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
      pass(traced = false)
    }
    val calib1 = (calibSerial(spark), calibPar(spark, cores))
    Json.obj("workload" -> a.workload, "kind" -> "stream", "cores" -> cores,
      "launch" -> launch, "session_ready" -> sessionReady, "setup_end" -> setupEnd,
      "calib_serial" -> Seq(calib0._1, calib1._1), "calib_par" -> Seq(calib0._2, calib1._2),
      "index_builds_setup" -> setupBuilds, "index_build_s_setup" -> setupBuildS,
      "index_builds_timed" -> (IndexTables.buildsRun - setupBuilds),
      "passes" -> Json.arr(passes.toSeq), "trace" -> tracer.map(_.toJson),
      "peak_rss_kb" -> peakRssKb()).s
  }
}
