package graft

import java.sql.Timestamp

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.{AnalysisException, DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{array_sort, col}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.streaming.{ForklessLocalFs, LocalCheckpointFs, Stateful, StreamingOps}

/** Streaming semantics: cross-micro-batch state evolution, watermark-driven
  * window finalization, late-data drop, event-time timers — the scenarios
  * the reference hand-traces (SURVEY.md §2.6-2.7, §2.10).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: Double) = new Timestamp((s * 1000).toLong)

  private def withQuery[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  /** Queries using ProcessingTimeTimeout make `shouldRunAnotherBatch`
    * always-true, so with the default continuous trigger the engine
    * constructs no-data micro-batches forever and `processAllAvailable`
    * never observes quiescence. Disabling no-data batches (snapshotted at
    * query START) restores data-driven batches for the test; expired
    * timers still fire inside every data-carrying batch.
    */
  private def withNoDataBatchesDisabled[T](body: => T): T =
    withConf("spark.sql.streaming.noDataMicroBatches.enabled", "false")(body)

  /** Runs `body` with session conf `key` set to `value`, then restores it. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("X1 running count evolves across micro-batches (KeyedState.scala:65-118)") {
    val in = MemoryStream[(String, Int)](1, spark, None)
    val counts = Stateful.runningCount(in.toDS().groupByKey(_._1))
    val q = counts.writeStream.format("memory").queryName("x1").outputMode("update").start()
    withQuery(q) {
      in.addData(("a", 1), ("a", 2), ("b", 3)); q.processAllAvailable()
      in.addData(("a", 4)); q.processAllAvailable()
      val rows = spark.table("x1").as[(String, Long)].collect().toSeq
      assert(rows.contains(("a", 2L)) && rows.contains(("b", 1L)))
      assert(rows.contains(("a", 3L))) // state carried into batch 2
    }
  }

  test("as-of enrichment: latest right version per key across micro-batches") {
    val lefts = MemoryStream[(String, Long, Long)](71, spark, None)
    val rights = MemoryStream[(String, Long, String)](72, spark, None)
    val out = Stateful.asofEnrich(lefts.toDS(), rights.toDS())
    val q = out.writeStream.format("memory").queryName("asof")
      .outputMode("append").start()
    withQuery(q) {
      // batch 1: versions v1@10 for key a, v9@10 for key b; left a@12
      rights.addData(("a", 10L, "v1"), ("b", 10L, "v9"))
      lefts.addData(("a", 12L, 100L)); q.processAllAvailable()
      // batch 2: a upgrades to v2@20; lefts a@25 (sees v2) and the
      // no-version key c@5 (emits nothing)
      rights.addData(("a", 20L, "v2"))
      lefts.addData(("a", 25L, 101L), ("c", 5L, 102L)); q.processAllAvailable()
      // batch 3: same-batch, same-ts tie — right first at equal ts
      rights.addData(("b", 30L, "v10"))
      lefts.addData(("b", 30L, 103L)); q.processAllAvailable()
      // batch 4: a LATE right version (ts=15 < stored ts=20) must not
      // clobber the newer state — left a@26 still sees v2
      rights.addData(("a", 15L, "v1.5"))
      lefts.addData(("a", 26L, 104L)); q.processAllAvailable()
      val got = spark.table("asof").as[(Long, String)].collect().toMap
      assert(got == Map(100L -> "v1", 101L -> "v2", 103L -> "v10",
        104L -> "v2"))
    }
  }

  test("streaming dedup keeps the first arrival per content fingerprint") {
    val in = MemoryStream[(Long, Timestamp, String)](73, spark, None)
    val out = StreamingOps.streamingDedup(
      in.toDS().toDF("doc_id", "ts", "text"), "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    withQuery(q) {
      // same normalized content under different surface forms + timestamps
      in.addData((1L, ts(1), "Hello,  World!"), (2L, ts(2), "hello world"),
        (3L, ts(3), "different text")); q.processAllAvailable()
      // a later batch re-sends the same content within the horizon
      in.addData((4L, ts(5), "HELLO world")); q.processAllAvailable()
      val kept = spark.table("sdedup").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 3L)) // one survivor per fingerprint
    }
  }

  test("streaming curation: quality gate + dedup compose on an unbounded feed") {
    import org.apache.spark.sql.functions.{col, lit}
    val in = MemoryStream[(Long, Timestamp, String)](74, spark, None)
    // the BATCH gate expression runs on the stream unchanged — Catalyst
    // expressions are execution-mode-agnostic, so the curation pipeline
    // needs no streaming rewrite of its filters
    val gated = in.toDS().toDF("doc_id", "ts", "text")
      .where(graft.ops.TextAnalysis.curationGate(col("text"), lit(4), 0.35,
        0.7, langLabel = None))
    val out = StreamingOps.streamingDedup(gated, "ts", "10 seconds")
    val q = out.writeStream.format("memory").queryName("scur")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(
        (1L, ts(1), "the quick brown fox jumps over the dog"),
        (2L, ts(2), "no"),                                       // too short
        (3L, ts(3), "the quick brown fox JUMPS over the dog"));  // dup of 1
      q.processAllAvailable()
      in.addData((4L, ts(5), "a completely different clean document here"))
      q.processAllAvailable()
      val kept = spark.table("scur").select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 4L))
    }
  }

  test("streaming curation v2: the language-agreement gate (codegen kernel) " +
      "runs inside a micro-batch plan") {
    import org.apache.spark.sql.functions.{col, lit}
    val in = MemoryStream[(Long, Timestamp, String, String)](75, spark, None)
    val gated = in.toDS().toDF("doc_id", "ts", "text", "lang")
      .where(graft.ops.TextAnalysis.curationGate(col("text"), lit(4), 0.35,
        0.7, langLabel = Some(col("lang"))))
    val q = gated.select("doc_id").writeStream.format("memory")
      .queryName("scur2").outputMode("append").start()
    withQuery(q) {
      in.addData(
        (1L, ts(1), "the cat and the dog is here with more", "en"), // agrees
        (2L, ts(2), "the cat and the dog is here with more", "de"), // label disagrees
        (3L, ts(3), "это не просто что и как надо было тут", "ru")) // non-Latin agrees
      q.processAllAvailable()
      val kept = spark.table("scur2").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 3L))
    }
  }

  test("G1 count trigger fires cumulatively across batches " +
      "(WindowAssignersAndTriggers.scala:55-90)") {
    val in = MemoryStream[(String, Int)](2, spark, None)
    val fires = Stateful.countTrigger(in.toDS().groupByKey(_._1), 3)
    val q = fires.writeStream.format("memory").queryName("g1").outputMode("append").start()
    withQuery(q) {
      in.addData(Seq.fill(4)(("k", 1)): _*); q.processAllAvailable()
      in.addData(Seq.fill(5)(("k", 1)): _*); q.processAllAvailable()
      val got = spark.table("g1").as[(String, Long)].collect().map(_._2).sorted.toSeq
      assert(got == Seq(3L, 6L, 9L)) // cumulative window contents per fire
    }
  }

  test("G1-in-W1 count trigger scoped per 3s tumbling window fires 10,20,… " +
      "independently per window (WindowAssignersAndTriggers.scala:44-53)") {
    val in = MemoryStream[(String, Timestamp)](40, spark, None)
    // watermark enables window-state GC (event-time timeout at window end)
    val fires = Stateful.windowedCountTrigger(in.toDS().withWatermark("_2", "0 seconds"),
      (t: (String, Timestamp)) => t._1, (t: (String, Timestamp)) => t._2.getTime,
      windowMs = 3000L, n = 10)
    val q = fires.writeStream.format("memory").queryName("g1w").outputMode("append").start()
    withQuery(q) {
      // window [0,3s): 25 events arriving across two micro-batches
      in.addData((1 to 7).map(i => ("u", ts(0.1 * i))): _*); q.processAllAvailable()
      in.addData((8 to 25).map(i => ("u", ts(0.1 * i))): _*); q.processAllAvailable()
      // window [3s,6s): 12 events — its own firing sequence restarts at 10
      in.addData((1 to 12).map(i => ("u", ts(3.0 + 0.1 * i))): _*); q.processAllAvailable()
      val got = spark.table("g1w").as[(String, Long, Long)].collect().sorted.toSeq
      // reference output shape: each window emits 10, 20, … for ITS elements
      assert(got == Seq(("u", 0L, 10L), ("u", 0L, 20L), ("u", 3000L, 10L)), got.toString)
    }
  }

  test("G2 purging trigger emits n,n,n across batches " +
      "(TriggersAndEvictors.scala:85-102)") {
    val in = MemoryStream[(String, Int)](3, spark, None)
    val fires = Stateful.purgingCountTrigger(in.toDS().groupByKey(_._1), 3)
    val q = fires.writeStream.format("memory").queryName("g2").outputMode("append").start()
    withQuery(q) {
      in.addData(Seq.fill(4)(("k", 1)): _*); q.processAllAvailable()
      in.addData(Seq.fill(5)(("k", 1)): _*); q.processAllAvailable()
      val got = spark.table("g2").as[(String, Long)].collect().map(_._2).toSeq
      assert(got == Seq(3L, 3L, 3L)) // 9 elements → three purged fires
    }
  }

  test("windowed HLL state: per-window approx distinct with fixed-size " +
      "registers, merged across batches") {
    val in = MemoryStream[(String, Timestamp, Long)](43, spark, None)
    val est = Stateful.windowedApproxDistinct(
      in.toDS().withWatermark("_2", "0 seconds"),
      (t: (String, Timestamp, Long)) => t._1,
      (t: (String, Timestamp, Long)) => t._2.getTime,
      (t: (String, Timestamp, Long)) => t._3.toString,
      windowMs = 10000L, p = 8)
    val q = est.writeStream.format("memory").queryName("whll")
      .outputMode("update").start()
    withQuery(q) {
      // window [0,10s): 300 distinct uids split across two batches with
      // overlap — register merge must not double-count
      in.addData((1L to 200L).map(u => ("k", ts(1), u)): _*); q.processAllAvailable()
      in.addData((150L to 300L).map(u => ("k", ts(2), u)): _*); q.processAllAvailable()
      // window [10s,20s): 50 distinct
      in.addData((1L to 50L).map(u => ("k", ts(11), u)): _*); q.processAllAvailable()
      val rows = spark.table("whll").as[(String, Long, Long)].collect()
      val w0 = rows.filter(_._2 == 0L).map(_._3)
      val w1 = rows.filter(_._2 == 10000L).map(_._3)
      assert(math.abs(w0.last - 300.0) / 300.0 < 0.15, s"w0=${w0.toSeq}")
      assert(w0.head < w0.last) // estimate grew as the second batch merged
      assert(math.abs(w1.last - 50.0) / 50.0 < 0.15, s"w1=${w1.toSeq}")
    }
  }

  test("streaming HLL sketch: approx distinct count evolves across batches " +
      "in update mode (mergeable sketch state per key)") {
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(String, Long)](42, spark, None)
    val agg = in.toDF().toDF("k", "uid")
      .groupBy("k").agg(approx_count_distinct(col("uid")).as("nd"))
    val q = agg.writeStream.format("memory").queryName("shll")
      .outputMode("update").start()
    withQuery(q) {
      in.addData((1L to 50L).map(("a", _)): _*); q.processAllAvailable()
      // overlapping + new uids: sketch state merges across micro-batches
      in.addData((26L to 100L).map(("a", _)): _*); q.processAllAvailable()
      val latest = spark.table("shll").as[(String, Long)].collect().last._2
      assert(math.abs(latest - 100.0) / 100.0 < 0.1, s"approx=$latest")
    }
  }

  test("W5 true processing-time tumbling window: rows bucket by wall-clock " +
      "ingestion stamp (TimeBasedTransformations.scala:69,104-107)") {
    val in = MemoryStream[String](41, spark, None)
    val agg = StreamingOps.processingTimeTumblingCount(in.toDF(), "10 seconds")
    val q = agg.writeStream.format("memory").queryName("w5").outputMode("update").start()
    withQuery(q) {
      val t0 = System.currentTimeMillis()
      in.addData("a", "b", "c"); q.processAllAvailable()
      val got = spark.table("w5").collect()
      assert(got.map(_.getLong(2)).sum == 3L) // all rows landed in some window
      // the stamp is processing time, not any payload field: window bounds
      // straddle the wall clock at ingestion (generous slack — the exact
      // window is nondeterministic, as the reference itself demonstrates)
      val starts = got.map(_.getTimestamp(0).getTime)
      assert(starts.forall(s => s >= t0 - 60000 && s <= t0 + 60000))
    }
  }

  test("M1 watermark finalizes tumbling windows; late data dropped " +
      "(Windows.scala:71-80, TimeBasedTransformations.scala:204-233)") {
    val in = MemoryStream[(String, Timestamp)](4, spark, None)
    val agg = StreamingOps.tumblingCount(in.toDF().toDF("k", "time"),
      "time", "0 seconds", "10 seconds", "k")
    val q = agg.writeStream.format("memory").queryName("m1").outputMode("append").start()
    withQuery(q) {
      in.addData(("a", ts(1)), ("a", ts(2))); q.processAllAvailable()
      in.addData(("a", ts(25))); q.processAllAvailable() // advances watermark past 10
      in.addData(("a", ts(26))); q.processAllAvailable() // extra batch to emit finalized
      val got = spark.table("m1").as[(Timestamp, Timestamp, String, Long)].collect().toSeq
      assert(got.contains((ts(0), ts(10), "a", 2L))) // window [0,10) finalized, 2 events
      // late event for the closed [0,10) window: silently dropped
      in.addData(("a", ts(3))); q.processAllAvailable()
      in.addData(("a", ts(40))); q.processAllAvailable()
      in.addData(("a", ts(41))); q.processAllAvailable()
      val after = spark.table("m1").as[(Timestamp, Timestamp, String, Long)].collect().toSeq
      assert(after.count(_._1 == ts(0)) == 1) // still exactly one [0,10) row, cnt 2
    }
  }

  test("M3/M4 negative: append-mode windowed agg without watermark is rejected " +
      "(TimeBasedTransformations.scala:313-350, Windows.scala:183-185)") {
    val in = MemoryStream[(String, Timestamp)](5, spark, None)
    val agg = in.toDF().toDF("k", "time")
      .groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("time"), "10 seconds"))
      .count()
    assertThrows[AnalysisException] {
      agg.writeStream.format("memory").queryName("m3").outputMode("append").start()
    }
  }

  test("X5 TTL: expired state is recreated, live state retained " +
      "(KeyedState.scala:331-348)") {
    // ttl=0 → always expired on next access: each batch counts only itself
    val in = MemoryStream[(String, Int)](6, spark, None)
    val counts = Stateful.countWithTtl(in.toDS().groupByKey(_._1), 0L,
      () => System.currentTimeMillis())
    val q = withNoDataBatchesDisabled {
      counts.writeStream.format("memory").queryName("x5a").outputMode("update").start()
    }
    withQuery(q) {
      in.addData(("a", 1), ("a", 2)); q.processAllAvailable()
      in.addData(("a", 3)); q.processAllAvailable()
      val got = spark.table("x5a").as[(String, Long)].collect().map(_._2).toSeq
      assert(got == Seq(2L, 1L)) // second batch restarted from expired state
    }
    // large ttl → state survives across batches
    val in2 = MemoryStream[(String, Int)](7, spark, None)
    val counts2 = Stateful.countWithTtl(in2.toDS().groupByKey(_._1), 3600000L,
      () => System.currentTimeMillis())
    val q2 = withNoDataBatchesDisabled {
      counts2.writeStream.format("memory").queryName("x5b").outputMode("update").start()
    }
    withQuery(q2) {
      in2.addData(("a", 1), ("a", 2)); q2.processAllAvailable()
      in2.addData(("a", 3)); q2.processAllAvailable()
      val got = spark.table("x5b").as[(String, Long)].collect().map(_._2).toSeq
      assert(got == Seq(2L, 3L))
    }
  }

  test("X5 TTL: idle keys are GC'd from the state store at ~ttl") {
    // read-side expiry alone would leak: a key never accessed again holds
    // its entry forever. The re-armed processing-time timeout must remove
    // it, observable as numRowsTotal dropping in the state operator.
    val in = MemoryStream[(String, Int)](60, spark, None)
    val counts = Stateful.countWithTtl(in.toDS().groupByKey(_._1), 200L,
      () => System.currentTimeMillis())
    val q = withNoDataBatchesDisabled {
      counts.writeStream.format("memory").queryName("x5gc").outputMode("update").start()
    }
    withQuery(q) {
      in.addData(("idle", 1)); q.processAllAvailable()
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L)
      Thread.sleep(1000) // let idle's timer (armed at +200ms) expire
      in.addData(("fresh", 1)); q.processAllAvailable()
      // the batch that processed "fresh" also fired idle's timeout → only
      // fresh's entry remains, and the GC emitted no row for idle
      assert(q.lastProgress.stateOperators.head.numRowsTotal == 1L)
      val got = spark.table("x5gc").as[(String, Long)].collect().toSeq
      assert(got == Seq(("idle", 1L), ("fresh", 1L)))
    }
  }

  test("X6 event-time timer flushes when watermark passes deadline " +
      "(KeyedState.scala:480-528)") {
    val in = MemoryStream[(String, Timestamp)](8, spark, None)
    val flushed = Stateful.countFromFirstEvent(
      in.toDS().toDF("k", "time").withWatermark("time", "0 seconds")
        .as[(String, Timestamp)].groupByKey(_._1),
      (t: (String, Timestamp)) => t._2.getTime, 10000L)
    val q = flushed.writeStream.format("memory").queryName("x6").outputMode("append").start()
    withQuery(q) {
      in.addData(("a", ts(1)), ("a", ts(2))); q.processAllAvailable()
      in.addData(("z", ts(30))); q.processAllAvailable() // watermark → 30s
      in.addData(("z", ts(31))); q.processAllAvailable() // timeout callback fires
      val got = spark.table("x6").as[(String, Long, Long)].collect().toSeq
      assert(got.contains(("a", 1000L, 2L))) // window opened at first event, count 2
    }
  }

  test("W3 streaming session window merges within gap and finalizes on watermark") {
    val in = MemoryStream[(String, Timestamp)](10, spark, None)
    val agg = StreamingOps.sessionCount(in.toDF().toDF("k", "time"),
      "time", "0 seconds", "5 seconds", "k")
    val q = agg.writeStream.format("memory").queryName("w3").outputMode("append").start()
    withQuery(q) {
      in.addData(("a", ts(1)), ("a", ts(3)), ("a", ts(20))); q.processAllAvailable()
      in.addData(("a", ts(60))); q.processAllAvailable() // watermark passes both sessions
      in.addData(("a", ts(61))); q.processAllAvailable()
      val got = spark.table("w3").as[(String, Timestamp, Timestamp, Long)].collect().toSet
      assert(got.contains(("a", ts(1), ts(8), 2L)))   // [1,3] merged, end = last + gap
      assert(got.contains(("a", ts(20), ts(25), 1L))) // 20 is its own session
    }
  }

  test("streaming conversation assembly: session-flushed renders match the " +
      "batch render on a replayed turn stream (one shared definition)") {
    import graft.ops.Conversations
    // two users, interleaved + out-of-order turns, one null-props turn;
    // user 7's turns split into TWO sessions (> 30s apart)
    val turns = Seq(
      (7L, ts(1), 101L, "user", "{\"q\":1}"),
      (7L, ts(3), 102L, "assistant", null),
      (8L, ts(2), 201L, "user", "{\"q\":2}"),
      (7L, ts(3), 103L, "tool", "{\"t\":1}"), // same-ts tie with 102 → id order
      (7L, ts(50), 104L, "user", "{\"q\":3}"), // second session
      (8L, ts(5), 202L, "assistant", "{\"a\":2}"))
    val cols = Seq("user_id", "ts", "event_id", "event_type", "props")
    // batch reference over the same frame
    val expected = Conversations.renderSessions(
        turns.toDF(cols: _*), "30 seconds")
      .as[(Long, Timestamp, Timestamp, Long, String)].collect().toSet
    assert(expected.size == 3 && expected.exists(_._4 == 1L))

    val in = MemoryStream[(Long, Timestamp, Long, String, String)](17, spark, None)
    val sessions = Conversations.renderSessions(
      in.toDF().toDF(cols: _*).withWatermark("ts", "0 seconds"), "30 seconds")
    val q = sessions.writeStream.format("memory").queryName("conv_sessions")
      .outputMode("append").start()
    withQuery(q) {
      // replay across micro-batches, splitting INSIDE user 7's first
      // session so partial sessions must merge in the state store
      in.addData(turns(0), turns(2)); q.processAllAvailable()
      in.addData(turns(1), turns(3), turns(5)); q.processAllAvailable()
      in.addData(turns(4)); q.processAllAvailable()
      // sentinel advances the watermark past every session end
      in.addData((999L, ts(200), 901L, "user", "x")); q.processAllAvailable()
      in.addData((999L, ts(201), 902L, "user", "x")); q.processAllAvailable()
      val got = spark.table("conv_sessions")
        .as[(Long, Timestamp, Timestamp, Long, String)]
        .collect().filter(_._1 != 999L).toSet
      assert(got == expected, s"got:\n$got\nexpected:\n$expected")
    }
  }

  test("X6 event-time timer survives a key spanning multiple micro-batches " +
      "(Spark clears stored timeouts per invocation — must re-arm)") {
    val in = MemoryStream[(String, Timestamp)](13, spark, None)
    val flushed = Stateful.countFromFirstEvent(
      in.toDS().toDF("k", "time").withWatermark("time", "0 seconds")
        .as[(String, Timestamp)].groupByKey(_._1),
      (t: (String, Timestamp)) => t._2.getTime, 10000L)
    val q = flushed.writeStream.format("memory").queryName("x6b").outputMode("append").start()
    withQuery(q) {
      in.addData(("a", ts(1))); q.processAllAvailable()
      in.addData(("a", ts(3))); q.processAllAvailable() // second batch, same key
      in.addData(("z", ts(30))); q.processAllAvailable() // watermark past deadline
      in.addData(("z", ts(31))); q.processAllAvailable() // timeout must still fire
      val got = spark.table("x6b").as[(String, Long, Long)].collect().toSeq
      assert(got.contains(("a", 1000L, 2L)),
        s"timer lost after multi-batch key: $got")
    }
  }

  test("streaming dedup within watermark drops cross-batch duplicates, " +
      "evicts state for old keys") {
    val in = MemoryStream[(Long, Timestamp)](12, spark, None)
    val deduped = in.toDF().toDF("id", "time")
      .withWatermark("time", "10 seconds")
      .dropDuplicatesWithinWatermark("id")
    val q = deduped.writeStream.format("memory").queryName("sdd")
      .outputMode("append").start()
    withQuery(q) {
      in.addData((1L, ts(1)), (2L, ts(2)), (1L, ts(3))); q.processAllAvailable()
      in.addData((1L, ts(4))); q.processAllAvailable() // cross-batch duplicate
      in.addData((9L, ts(100))); q.processAllAvailable() // advances watermark far
      in.addData((1L, ts(101))); q.processAllAvailable() // id 1 state evicted → re-emitted
      val ids = spark.table("sdd").as[(Long, Timestamp)].collect().map(_._1).toSeq
      assert(ids.count(_ == 1L) == 2) // once early, once after eviction
      assert(ids.count(_ == 2L) == 1)
    }
  }

  test("streaming near-dup dedup: exact and near dups flagged, distinct kept") {
    import graft.tools.MeasureStreamDedup
    val t1 = (1 to 60).map(i => s"tok$i").mkString(" ")
    val t3 = t1 + " extra trailing tokens"
    val docs = Seq(
      (1L, t1),  // first arrival → kept, becomes the bucket owner
      (2L, t1),  // exact dup of 1 (cross-batch) → flagged
      (3L, t3),  // near dup of 1 (3 appended tokens, s ≈ 0.95) → flagged
      (4L, (1 to 60).map(i => s"other$i").mkString(" ")), // distinct → kept
      (5L, "ab") // < shingleK tokens: zero-shingle guard → kept, never stored
    )
    val m = MeasureStreamDedup.replay(spark, docs, threshold = 0.8, batchSize = 2)
      .map(v => v._1 -> v).toMap
    assert(m.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(m(1L)._2 && m(4L)._2 && m(5L)._2, m)
    assert(!m(2L)._2 && m(2L)._3.contains(1L), m)
    assert(!m(3L)._2 && m(3L)._3.contains(1L), m)
  }

  test("streaming near-dup recall meets the documented single-band bound " +
      "vs the batch LSH decision at equal threshold") {
    import graft.tools.MeasureStreamDedup
    // 40 near-dup pairs: variant drops 1 of 40 tokens (shingle Jaccard
    // ≈ 0.88); cross-pairs are unrelated. Fixed seed → deterministic.
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map { i =>
      (i.toLong, Seq.fill(40)("w" + rnd.nextInt(5000)).mkString(" "))
    }
    val variants = base.map { case (id, text) =>
      val toks = text.split(" ").toSeq
      (id + 1000L, (toks.take(20) ++ toks.drop(21)).mkString(" "))
    }
    val docs = base ++ variants
    val batchDups = MeasureStreamDedup.batchDupIds(docs.toDF("doc_id", "text"), 0.8)
    val streamDups = MeasureStreamDedup.replay(spark, docs, 0.8, batchSize = 20)
      .filter(!_._2).map(_._1).toSet
    assert(batchDups.nonEmpty && batchDups.forall(_ >= 1000L))
    val recall = (batchDups & streamDups).size.toDouble / batchDups.size
    // documented single-band pre-filter bound: s^bandRows at the
    // threshold = 0.8² = 0.64 (measured: see NOTES.md, ~0.9 on this corpus)
    assert(recall >= 0.64, s"recall=$recall batch=${batchDups.size} " +
      s"stream=${streamDups.size}")
  }

  test("state survives query restart from checkpoint " +
      "(KeyedState.scala:70-73: 'state will be restored')") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val in = MemoryStream[(String, Int)](11, spark, None)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    def start() =
      Stateful.runningCount(in.toDS().groupByKey(_._1))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
          ds.collect().foreach(seen.add)
        }.start()
    val q1 = start()
    in.addData(("a", 1), ("a", 2)); q1.processAllAvailable()
    assert(seen.contains(("a", 2L)))
    q1.stop() // "node crash" — redeploy below restores from the checkpoint
    in.addData(("a", 3))
    val q2 = start()
    withQuery(q2) {
      q2.processAllAvailable()
      assert(seen.contains(("a", 3L))) // 2 restored + 1 new, not restarted at 1
    }
  }

  test("A4 streaming running word count in update mode " +
      "(SocketTextStreamWordCount.scala:59-63)") {
    val in = MemoryStream[String](9, spark, None)
    val wc = StreamingOps.wordCount(in.toDF())
    val q = wc.writeStream.format("memory").queryName("wc").outputMode("update").start()
    withQuery(q) {
      in.addData("to be or not"); q.processAllAvailable()
      in.addData("to be"); q.processAllAvailable()
      val rows = spark.table("wc").as[(String, Long)].collect().toSeq
      assert(rows.contains(("to", 1L)) && rows.contains(("to", 2L)))
      assert(rows.contains(("be", 2L)))
    }
  }

  // ------------------------------------------------ file: checkpoint FS

  private val StockFs = LocalCheckpointFs.StockLocalFs
  private val ForklessFs = classOf[ForklessLocalFs].getName

  /** Runs `body` with the session's `file:` FileContext set explicitly to
    * `impl`; an explicit setting wins over the builders' install.
    */
  private def withFileFs[T](impl: String)(body: => T): T =
    withConf(LocalCheckpointFs.Key, impl)(body)

  /** Command lines of the child processes this JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(f)
      RecordingFile.readAllEvents(f).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.delete(f) }
  }

  private def isFsFork(cmd: String) =
    Set("chmod", "readlink")(cmd.trim.split("\\s+").head.split('/').last)

  test("file: checkpoints of a stateful query start no chmod/readlink processes") {
    val ckpt = Files.createTempDirectory("graft-forks")
    val in = MemoryStream[(String, Int)](90, spark, None)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]()
    val cmds = processStarts {
      val q = Stateful.runningCount(in.toDS().groupByKey(_._1))
        .writeStream.outputMode("update").option("checkpointLocation", ckpt.toString)
        .foreachBatch { (ds: Dataset[(String, Long)], _: Long) => ds.collect().foreach(seen.add) }
        .start()
      withQuery(q) {
        for (i <- 1 to 3) { in.addData(("a", i), ("b", i)); q.processAllAvailable() }
      }
      // the recorder sees this JVM's process starts: a control fork
      new ProcessBuilder("true").start().waitFor()
    }
    assert(cmds.exists(_.trim == "true"), cmds)
    assert(!cmds.exists(isFsFork), cmds.filter(isFsFork).take(5))
    assert(seen.contains(("a", 3L)) && seen.contains(("b", 3L)))
    // the checkpoint was written, with Hadoop's .crc sidecars
    for (f <- Seq("offsets/2", "offsets/.2.crc", "commits/2", "commits/.2.crc"))
      assert(Files.exists(ckpt.resolve(f)), f)
    val deltas = Files.walk(ckpt.resolve("state")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(deltas.contains("3.delta") && deltas.contains(".3.delta.crc"), deltas)
  }

  /** Replays `batches` of (key, event-time s) through the query `build`
    * makes, collecting every emitted row as a string. With `restart`
    * = Some((k, fsA, fsB)) the first k batches run under `fsA`, the query
    * stops, and it resumes from the same checkpoint under `fsB`.
    */
  private def replay(build: Dataset[(String, Timestamp)] => DataFrame, mode: String,
      batches: Seq[Seq[(String, Double)]], restart: Option[(Int, String, String)])
      : Seq[String] = {
    val ckpt = Files.createTempDirectory("graft-restart").toString
    val in = MemoryStream[(String, Timestamp)](91, spark, None)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(part: Seq[Seq[(String, Double)]]): Unit = {
      val q = build(in.toDS()).writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) => df.collect().foreach(r => seen.add(r.toString)) }
        .start()
      withQuery(q) {
        part.foreach { b => in.addData(b.map { case (k, t) => (k, ts(t)) }); q.processAllAvailable() }
      }
    }
    restart match {
      case None => run(batches)
      case Some((k, fsA, fsB)) =>
        withFileFs(fsA)(run(batches.take(k)))
        withFileFs(fsB)(run(batches.drop(k)))
    }
    seen.asScala.toSeq.sorted
  }

  private val restartBatches = Seq(
    Seq("a" -> 1.0, "b" -> 2.0, "a" -> 3.0),
    Seq("a" -> 11.0, "c" -> 12.0),
    Seq("b" -> 21.0, "a" -> 22.0, "b" -> 23.0),
    Seq("c" -> 31.0, "a" -> 32.0),
    Seq("b" -> 41.0))

  private val restartQueries
      : Seq[(String, Dataset[(String, Timestamp)] => DataFrame, String)] = Seq(
    ("runningCount", ds => Stateful.runningCount(ds.groupByKey(_._1)).toDF(), "update"),
    ("accumulateList", ds => Stateful.accumulateList(ds.groupByKey(_._1),
        (t: (String, Timestamp)) => t._2.getTime).toDF()
      // within-batch list order follows shuffle order; compare sorted lists
      .select(col("_1"), array_sort(col("_2"))), "update"),
    ("tumblingCount", ds => StreamingOps.tumblingCount(ds.toDF("k", "ts"), "ts",
      "0 seconds", "10 seconds", "k"), "append"))

  for ((name, build, mode) <- restartQueries; (fsA, fsB) <- Seq(StockFs -> ForklessFs,
      ForklessFs -> StockFs)) {
    val (a, b) = (fsA.split('.').last, fsB.split('.').last)
    test(s"$name resumes a $a checkpoint under $b with the uninterrupted output") {
      val whole = replay(build, mode, restartBatches, None)
      val resumed = replay(build, mode, restartBatches, Some((2, fsA, fsB)))
      assert(whole.nonEmpty)
      assert(resumed == whole, s"\nresumed: $resumed\nwhole:   $whole")
    }
  }

  for (fs <- Seq(StockFs, ForklessFs)) {
    test(s"a flipped byte in a state delta file fails the restart loudly " +
        s"(${fs.split('.').last})") {
      val ckpt = Files.createTempDirectory("graft-corrupt")
      val in = MemoryStream[(String, Int)](92, spark, None)
      def start() = Stateful.runningCount(in.toDS().groupByKey(_._1))
        .writeStream.outputMode("update").option("checkpointLocation", ckpt.toString)
        .foreachBatch { (ds: Dataset[(String, Long)], _: Long) => ds.collect(); () }.start()
      withFileFs(fs) {
        val q1 = start()
        withQuery(q1) {
          for (i <- 1 to 3) { in.addData(("a", i), ("b", i)); q1.processAllAvailable() }
        }
        val delta = Files.walk(ckpt.resolve("state")).iterator().asScala
          .filter(_.getFileName.toString == "3.delta").maxBy(Files.size(_))
        val bytes = Files.readAllBytes(delta)
        bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
        Files.write(delta, bytes)
        val q2 = start()
        withQuery(q2) {
          in.addData(("a", 4), ("b", 4))
          val e = intercept[StreamingQueryException](q2.processAllAvailable())
          // caught by Spark's checksum sidecar: FileContext.open(path) skips
          // Hadoop's .crc on either FS (see LocalCheckpointFsSpec)
          val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
          assert(causes.exists(c =>
            String.valueOf(c.getMessage).contains("CHECKPOINT_FILE_CHECKSUM_VERIFICATION_FAILED")),
            causes.mkString("\n"))
        }
      }
    }
  }
}
