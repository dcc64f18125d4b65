package graft

import org.apache.spark.sql.functions._

import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("transitionEdges: per-user consecutive pairs, weighted, tie-ordered") {
    val ev = Seq(
      // u1: a -> b -> a (ts order), u2: b -> c, u3: single event (no edge)
      (1L, 10L, 1L, "a"), (2L, 20L, 1L, "b"), (3L, 30L, 1L, "a"),
      (4L, 10L, 2L, "b"), (5L, 20L, 2L, "c"),
      (6L, 10L, 3L, "z"),
      // u4: same-ts tie broken by event_id: a -> b
      (7L, 40L, 4L, "a"), (8L, 40L, 4L, "b")
    ).toDF("event_id", "ts", "user_id", "page")
    val got = Graph.transitionEdges(ev, "page", "user_id", "ts", "event_id")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(("a", "b", 2L), ("b", "a", 1L), ("b", "c", 1L)))
  }

  test("pageRank equals a sequential reference (dangling mass included)") {
    // a -> b twice, a -> c once, c -> a once; b is DANGLING — its mass
    // must be redistributed, not dropped (sum(rank) stays 1)
    val edges = Seq(("a", "b", 2L), ("a", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "weight")
    val iters = 3
    val d = 0.85
    val got = Graph.pageRank(edges, iters, d)
      .as[(String, Double)].collect().toMap
    // independent reference: dense synchronous updates
    val nodes = Seq("a", "b", "c")
    val n = nodes.length
    val share = Map(("a", "b") -> 2.0 / 3, ("a", "c") -> 1.0 / 3,
      ("c", "a") -> 1.0)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = r("b") // only b has no out-edges
      r = nodes.map { v =>
        val in = share.collect { case ((u, w), s) if w == v => r(u) * s }.sum
        v -> ((1 - d) / n + d * (in + dang / n))
      }.toMap
    }
    nodes.foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-6, s"$v: ${got(v)} vs ${r(v)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-5, got)
  }

  test("pageRank: symmetric 2-cycle stays uniform at every iteration") {
    val edges = Seq(("x", "y", 1L), ("y", "x", 1L)).toDF("src", "dst", "weight")
    val got = Graph.pageRank(edges, iterations = 4).as[(String, Double)]
      .collect().toMap
    assert(got == Map("x" -> 0.5, "y" -> 0.5), got)
  }

  /** Dense synchronous PageRank over an explicit edge list. */
  private def denseRanks[K](edges: Seq[(K, K, Long)], iters: Int,
      d: Double): Map[K, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size
    val outdeg = edges.groupMapReduce(_._1)(_._3.toDouble)(_ + _)
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(outdeg.contains).map(r).sum
      val in = edges.groupMapReduce(_._2)(e => r(e._1) * e._3 / outdeg(e._1))(_ + _)
      r = nodes.map(v => v -> ((1 - d) / n + d * (in.getOrElse(v, 0.0) + dang / n))).toMap
    }
    r
  }

  test("pageRank equals the dense reference on seeded random graphs") {
    // dangling nodes, self-loops, dst-only nodes, string and int ids and
    // 0-4 iterations; ranks are rounded to 6, so they agree within 1e-6
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val nNodes = 2 + rnd.nextInt(12)
      val edges = Seq.fill(1 + rnd.nextInt(3 * nNodes)) {
        // sources come from the first two thirds: the rest are dst-only
        (rnd.nextInt(1 + 2 * nNodes / 3), rnd.nextInt(nNodes), 1L + rnd.nextInt(4))
      }.groupMapReduce(e => (e._1, e._2))(_._3)(_ + _)
        .toSeq.map { case ((u, v), w) => (u, v, w) }
      val iters = seed % 5
      def check[K](got: Map[K, Double], exp: Map[K, Double]): Unit = {
        assert(got.keySet == exp.keySet, s"seed $seed")
        exp.foreach { case (v, r) =>
          assert(math.abs(got(v) - r) < 1e-6, s"seed $seed node $v: ${got(v)} vs $r")
        }
      }
      if (seed % 2 == 0) {
        val byName = edges.map { case (u, v, w) => (s"p$u", s"p$v", w) }
        check(Graph.pageRank(byName.toDF("src", "dst", "weight"), iters)
          .as[(String, Double)].collect().toMap, denseRanks(byName, iters, 0.85))
      } else {
        check(Graph.pageRank(edges.toDF("src", "dst", "weight"), iters)
          .as[(Int, Double)].collect().toMap, denseRanks(edges, iters, 0.85))
      }
    }
  }

  test("randomProject matches the md5-parity formula and preserves cosine") {
    import graft.ops.Similarity
    val emb = Seq(
      (0L, Array.tabulate(64)(i => math.sin(i + 1).toFloat)),
      (1L, Array.tabulate(64)(i => math.sin(i + 1).toFloat * 2f)), // colinear
      (2L, Array.tabulate(64)(i => math.cos(3 * i + 2).toFloat))
    ).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(emb, 64, 16)
      .as[(Long, Seq[Double])].collect().toMap
    // plain-Scala replay of the kernel's matrix formula
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Double = {
      val h = md.digest(s"rp-$i-$j".getBytes("UTF-8")); md.reset()
      val hex = (h(0) >> 4) & 0xf
      (if (hex % 2 == 0) 1.0 else -1.0) / math.sqrt(16.0)
    }
    val v0 = Array.tabulate(64)(i => math.sin(i + 1))
    val exp0 = Array.tabulate(16)(j =>
      (0 until 64).map(i => v0(i).toFloat.toDouble * sign(i, j)).sum)
    got(0L).zip(exp0).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-9, s"$g vs $e")
    }
    // colinear inputs stay colinear (cosine exactly 1 under any linear map)
    val c01 = got(0L).zip(got(1L)).map { case (a, b) => a * b }.sum /
      (math.sqrt(got(0L).map(x => x * x).sum) *
        math.sqrt(got(1L).map(x => x * x).sum))
    assert(math.abs(c01 - 1.0) < 1e-9, c01.toString)
  }
}
