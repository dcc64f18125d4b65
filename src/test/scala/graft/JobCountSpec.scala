package graft

import graft.ops.{Contracts, Graph}

/** Job budgets of the two driver-coordinated operators. The counts are
  * deterministic, so a change that adds a per-step job or an extra
  * collect fails here before any timing shows it.
  */
class JobCountSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank: 2 jobs to build and collect (node count, result)") {
    val edges = Seq(("a", "b", 2L), ("a", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "weight")
    val (_, jobs) = jobsDuring(Graph.pageRank(edges, 3).collect())
    assert(jobs <= 2, jobs)
  }

  test("exact tableProfile: 4 jobs to build (dictionary stage, range " +
      "sample, per-partition counts, wanted ranks)") {
    val df = Seq((1, 1.0), (2, 2.0), (3, 2.0), (4, 8.0), (5, Double.NaN))
      .toDF("a", "b")
    val (_, jobs) = jobsDuring(
      Contracts.tableProfile(df, Seq("a", "b"), exact = true))
    assert(jobs <= 4, jobs)
  }
}
