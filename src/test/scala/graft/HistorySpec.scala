package graft

import java.sql.Timestamp

import graft.ops.History
import graft.sources.Sinks
import org.apache.spark.sql.functions._

/** SCD2 attribute history + point-in-time reconstruction. */
class HistorySpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  private def changes = Seq(
    // user 1: a→a (re-statement, no new version)→b→a
    (1L, t("2024-01-01 00:00:00"), 10L, "a"),
    (1L, t("2024-01-02 00:00:00"), 11L, "a"),
    (1L, t("2024-01-03 00:00:00"), 12L, "b"),
    (1L, t("2024-01-04 00:00:00"), 13L, "a"),
    // user 2: x→null→x (null is a real state)
    (2L, t("2024-01-01 12:00:00"), 20L, "x"),
    (2L, t("2024-01-02 12:00:00"), 21L, null),
    (2L, t("2024-01-03 12:00:00"), 22L, "x"),
    // user 3: same-instant tie broken by ord — empty interval retained
    (3L, t("2024-01-05 00:00:00"), 30L, "p"),
    (3L, t("2024-01-05 00:00:00"), 31L, "q")
  ).toDF("user_id", "ts", "event_id", "event_type")

  private def hist = History.scd2(changes, "user_id", "ts", "event_id",
    "event_type")

  private type Row8 = (Long, Int, Option[String], Timestamp,
    Option[Timestamp], Int, Timestamp, Long)

  test("scd2 collapses runs, keeps nulls, empty intervals, seen-through") {
    val got = hist.as[Row8].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == Seq(
      // u1 v1: the collapsed re-statement advances seen, not valid_from
      (1L, 1, Some("a"), t("2024-01-01 00:00:00"),
        Some(t("2024-01-03 00:00:00")), 0, t("2024-01-02 00:00:00"), 11L),
      (1L, 2, Some("b"), t("2024-01-03 00:00:00"),
        Some(t("2024-01-04 00:00:00")), 0, t("2024-01-03 00:00:00"), 12L),
      (1L, 3, Some("a"), t("2024-01-04 00:00:00"), None, 1,
        t("2024-01-04 00:00:00"), 13L),
      (2L, 1, Some("x"), t("2024-01-01 12:00:00"),
        Some(t("2024-01-02 12:00:00")), 0, t("2024-01-01 12:00:00"), 20L),
      (2L, 2, None, t("2024-01-02 12:00:00"),
        Some(t("2024-01-03 12:00:00")), 0, t("2024-01-02 12:00:00"), 21L),
      (2L, 3, Some("x"), t("2024-01-03 12:00:00"), None, 1,
        t("2024-01-03 12:00:00"), 22L),
      (3L, 1, Some("p"), t("2024-01-05 00:00:00"),
        Some(t("2024-01-05 00:00:00")), 0, t("2024-01-05 00:00:00"), 30L),
      (3L, 2, Some("q"), t("2024-01-05 00:00:00"), None, 1,
        t("2024-01-05 00:00:00"), 31L)), got)
  }

  test("asOf reconstructs each instant, half-open boundaries") {
    def at(s: String) = History.asOf(hist, "user_id", lit(t(s)))
      .select("user_id", "state").as[(Long, Option[String])]
      .collect().toMap
    assert(at("2024-01-02 00:00:01") == Map(1L -> Some("a"), 2L -> Some("x")))
    // boundary: a version starting exactly at ts is live, the closed one gone
    assert(at("2024-01-03 00:00:00")(1L) == Some("b"))
    assert(at("2024-01-02 12:00:00")(2L) == None) // the null state is live
    // before a key exists it is absent
    assert(!at("2024-01-02 00:00:00").contains(3L))
    // the empty interval [t, t) is never live — p loses the same-ts race
    assert(at("2024-01-05 00:00:00")(3L) == Some("q"))
  }

  test("scd2Apply: incremental fold equals the full-history recompute") {
    val extra = Seq(
      (4L, t("2024-01-01 00:00:00"), 40L, "p"),  // will be RE-STATED in batch
      (4L, t("2024-01-06 00:00:00"), 41L, "p"),
      (5L, t("2024-01-01 00:00:00"), 50L, "q")   // untouched by the batch
    ).toDF("user_id", "ts", "event_id", "event_type")
    val all = changes.unionByName(extra)
    val cut = t("2024-01-03 00:00:00")
    val first = all.where(col("ts") < lit(cut))
    val batch = all.where(col("ts") >= lit(cut))   // user 3 is NEW here
    val incr = History.scd2Apply(
      History.scd2(first, "user_id", "ts", "event_id", "event_type"),
      batch, "user_id", "ts", "event_id", "event_type")
      .as[Row8].collect().toSet
    val full = History.scd2(all, "user_id", "ts", "event_id", "event_type")
      .as[Row8].collect().toSet
    // full equality INCLUDING seen_ts/seen_ord: the batch's collapsed
    // re-statement of user 4 advances the standing current row's seen
    assert(incr == full,
      s"only-incr=${incr -- full}\nonly-full=${full -- incr}")
  }

  test("scd2Apply fails fast on a batch that would rewrite sealed history") {
    val first = changes.where(col("ts") < lit(t("2024-01-03 00:00:00")))
    val hist1 = History.scd2(first, "user_id", "ts", "event_id", "event_type")
    // predates user 1's current valid_from outright
    val bad = Seq((1L, t("2023-12-31 00:00:00"), 99L, "z"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val e = intercept[IllegalArgumentException] {
      History.scd2Apply(hist1, bad, "user_id", "ts", "event_id",
        "event_type")
    }
    assert(e.getMessage.contains("sealed"), e.getMessage)
    // the subtle case: INSIDE the current run, after a collapsed
    // re-statement — valid_from (01-01) under-states the floor; the
    // seen-through guard (01-02, ord 11) still catches it
    val inRun = Seq((1L, t("2024-01-01 18:00:00"), 99L, "z"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val e2 = intercept[IllegalArgumentException] {
      History.scd2Apply(hist1, inRun, "user_id", "ts", "event_id",
        "event_type")
    }
    assert(e2.getMessage.contains("sealed"), e2.getMessage)
    // equal (ts, ord) to the last seen change = re-delivery: rejected too
    val dup = Seq((1L, t("2024-01-02 00:00:00"), 11L, "z"))
      .toDF("user_id", "ts", "event_id", "event_type")
    intercept[IllegalArgumentException] {
      History.scd2Apply(hist1, dup, "user_id", "ts", "event_id",
        "event_type")
    }
    // validate = false skips the guard (caller-enforced feeds)
    History.scd2Apply(hist1, bad, "user_id", "ts", "event_id",
      "event_type", validate = false).count()
  }

  test("every exchange hashes on the key (no global or driver stage)") {
    val plan = hist.queryExecution.executedPlan.toString
    // the seen-through aggregate adds (key, run)-keyed exchanges on top
    // of the original (key) window exchange — all hash-distributed on
    // the high-cardinality key; what must NOT appear is a single
    // partition or broadcast of the change stream
    assert(!plan.contains("SinglePartition"), plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).toSeq
    assert(exchanges.nonEmpty && exchanges.length <= 4, plan.take(2000))
  }

  test("scd2Serve: streamed micro-batches equal the full-history recompute") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val extra = Seq(
      (4L, t("2024-01-01 00:00:00"), 40L, "p"),
      (4L, t("2024-01-06 00:00:00"), 41L, "p"),
      (5L, t("2024-01-01 00:00:00"), 50L, "q")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val all = changes.unionByName(extra)
      .as[(Long, Timestamp, Long, String)].collect().toSeq
      .sortBy(r => (r._2.getTime, r._3))
    // standing history table, seeded EMPTY via the scd2 schema itself
    var standing = History.scd2(
      Seq.empty[(Long, Timestamp, Long, String)]
        .toDF("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", "event_type").localCheckpoint()
    val in = MemoryStream[(Long, Timestamp, Long, String)](91, spark, None)
    val q = Sinks.eachBatch(
        in.toDF().toDF("user_id", "ts", "event_id", "event_type")) { b =>
      standing = History.scd2Apply(standing, b, "user_id", "ts", "event_id",
        "event_type").localCheckpoint()
    }.start()
    try {
      // three time-ordered batches (append-only per key by construction)
      all.grouped(3).foreach { b => in.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val got = standing.as[Row8].collect().toSet
    val full = History.scd2(all.toDF("user_id", "ts", "event_id",
      "event_type"), "user_id", "ts", "event_id", "event_type")
      .as[Row8].collect().toSet
    assert(got == full, s"only-serve=${got -- full}\nonly-full=${full -- got}")
  }
}
