package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for declared queries to files — the plan
  * evidence behind plans/r16/<query>_{before,after}.txt (optimization-round
  * deliverable: the judge checks plan claims against these files).
  *
  * Plans are written with run-varying tokens replaced ([[normalize]]) and
  * each query's expression ids started at a fixed base (hash-ordered
  * rewrites like the distinct-aggregate Expand then do not depend on the
  * queries built before it), so comparing two commits is a `diff -r`.
  *
  * Run: sbt "runMain graft.tools.ExplainDump <sfDir> <outDir> [suffix] [q1,q2,...]"
  * Writes <outDir>/<query>_<suffix>.txt (suffix default "before").
  */
object ExplainDump {

  private val runVarying: Seq[(scala.util.matching.Regex, String)] = Seq(
    // standing-index idents; the op-added suffix (`_postings_b8`) stays
    """graft_idx_[a-z0-9_]*?_[0-9a-f]{8}(?![a-z0-9])""".r -> "graft_idx_<ident>",
    // index locations: whatever directory GRAFT_INDEX_DIR points at
    """[^\s\[\],]*/graft_idx_""".r -> "<index-dir>/graft_idx_",
    // lambda variable suffixes (`lambda x_13#568`), before the expr ids
    """(lambda \w+?)_\d+""".r -> "$1_N",
    """#\d+""".r -> "#N",
    """plan_id=\d+""".r -> "plan_id=N",
    """RDD\[\d+\]""".r -> "RDD[N]",
    // AQE query-stage ids: stages are numbered in materialization order
    """(\(\d+\) \w*QueryStage\n(?:[^\n]+\n)*?Arguments: )\d+""".r -> "$1N",
    // JVM lambda class names and identity hashes
    """\$\$Lambda[^\s,()\[\]]*""".r -> "\\$\\$Lambda",
    """(\w)@[0-9a-f]{4,8}(?![0-9a-z])""".r -> "$1@N",
    // call sites (`at Similarity.scala:1022`)
    """(\w\.scala):\d+""".r -> "$1:N")

  /** Restart Catalyst's expression-id counter at `base`. */
  private def startExprIdsAt(base: Long): Unit = {
    val m = org.apache.spark.sql.catalyst.expressions.NamedExpression
    val f = m.getClass.getDeclaredField("curId")
    f.setAccessible(true)
    f.get(m).asInstanceOf[java.util.concurrent.atomic.AtomicLong].set(base)
  }

  /** `plan` with every run-varying token replaced. */
  def normalize(plan: String): String =
    runVarying.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = if (args.length > 2) args(2) else "before"
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .zipWithIndex
      .filter { case ((n, _), _) => only.isEmpty || only(n) }
      .foreach { case ((name, fn), i) =>
        try {
          // above any earlier query's ids; the same for any commit or subset
          startExprIdsAt((i + 1) * 1000000000L)
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
          try w.println(normalize(plan)) finally w.close()
        } catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
