package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Optimization-round measurement tool (guide §1: measure first).
  *
  * For every declared query, split wall time into
  *   - build: `fn(spark, sfDir)` — DataFrame construction, including any eager
  *     driver-side work hidden in construction (collects, bloom builds, pins);
  *   - plan: forcing `queryExecution.executedPlan` (analysis + optimization +
  *     physical planning, AQE initial plan);
  *   - exec: the Bench.exercise action (xxhash64-fold over all columns);
  * plus scheduler counters (jobs / stages / tasks launched by the exec), the
  * number of Exchange nodes in the executed plan string, and the exec's
  * five longest jobs as `<ms>ms/<tasks>t`. A heavy job with a tiny task
  * count is a starved stage (the batch-4 single-task kernel hunt:
  * q_gopher_rep 1567ms/1t, q_cms 1185ms/1t, q_perm_test 1243ms/1t).
  *
  * Tasks are counted from `onTaskEnd`, never from a stage's planned
  * `numTasks`, so a stage a job skips (its shuffle output is reused) adds
  * nothing. A job's tasks are those of the stages it was first to list.
  *
  * Methodology matches Bench: warmup pass, then `passes` timed passes, median.
  * Output: TSV to stdout, one row per query.
  *
  * Run: SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ProfileSplit /root/testdata/sf0.1 [passes] [q1,q2,...]"
  */
object ProfileSplit {
  /** Scheduler counters since the last [[reset]]; the listener bus calls
    * in on its own thread, so every access holds the lock.
    */
  private class Counters extends SparkListener {
    var jobs, stages, tasks = 0
    /** (wall ms, tasks run) of each job that ended */
    val finished = mutable.ListBuffer[(Long, Int)]()
    private val started = mutable.Map[Int, Long]()
    private val stageJob = mutable.Map[Int, Int]()
    private val jobTasks = mutable.Map[Int, Int]()

    def reset(): Unit = synchronized { jobs = 0; stages = 0; tasks = 0; finished.clear() }

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      started(j.jobId) = j.time
      j.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j.jobId)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      stageJob.get(t.stageId).foreach(j => jobTasks(j) = jobTasks.getOrElse(j, 0) + 1)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      finished += ((j.time - started.remove(j.jobId).getOrElse(j.time),
        jobTasks.remove(j.jobId).getOrElse(0)))
    }
  }

  private def exercise(df: DataFrame): Unit = {
    df.select(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val passes = if (args.length > 1) args(1).toInt else 3
    val only: Set[String] = if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val prof = new Counters
    spark.sparkContext.addSparkListener(prof)

    val queries = (graft.SparkEntry.queries - "q_nn").toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }

    // warmup
    queries.foreach { case (_, fn) =>
      try exercise(fn(spark, sfDir)) catch { case _: Throwable => () }
    }

    val rows = queries.flatMap { case (name, fn) =>
      try {
        val bs = Array.fill(passes)(0.0); val ps = Array.fill(passes)(0.0)
        val es = Array.fill(passes)(0.0)
        var (j0, s0, t0c, top) = (0, 0, 0, "")
        for (p <- 0 until passes) {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          prof.reset()
          exercise(df)
          val t3 = System.nanoTime()
          // listener events are async; tiny settle for counter accuracy
          Thread.sleep(30)
          bs(p) = (t1 - t0) / 1e9; ps(p) = (t2 - t1) / 1e9; es(p) = (t3 - t2) / 1e9
          if (p == passes - 1) prof.synchronized {
            j0 = prof.jobs; s0 = prof.stages; t0c = prof.tasks
            top = prof.finished.sortBy(-_._1).take(5)
              .map { case (ms, n) => s"${ms}ms/${n}t" }.mkString(",")
          }
        }
        val planStr = fn(spark, sfDir).queryExecution.executedPlan.toString
        val nEx = "Exchange".r.findAllIn(planStr).length
        Some((name, median(bs.toSeq), median(ps.toSeq), median(es.toSeq), j0, s0, t0c, nEx, top))
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name failed: ${e.getMessage}"); None
      }
    }

    println("query\tbuild\tplan\texec\ttotal\tjobs\tstages\ttasks\texchanges\ttop_jobs")
    rows.sortBy(-_._4).foreach { case (n, b, p, e, j, s, t, x, top) =>
      println(f"$n\t$b%.3f\t$p%.3f\t$e%.3f\t${b + p + e}%.3f\t$j\t$s\t$t\t$x\t$top")
    }
    val (tb, tp, te) = (rows.map(_._2).sum, rows.map(_._3).sum, rows.map(_._4).sum)
    println(f"TOTALS\t$tb%.1f\t$tp%.1f\t$te%.1f\t${tb + tp + te}%.1f")
    spark.stop()
  }
}
