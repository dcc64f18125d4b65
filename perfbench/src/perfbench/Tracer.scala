package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Records, in memory, every Spark job and stage that runs under a span tag
  * (the `perfbench.span` local property the harness sets around each timed
  * call), with the task counters summed per stage from `onTaskEnd`.
  * Untagged work (warmup, calibration probes) is ignored.
  */
final class Tracer extends SparkListener {
  final class Job(val id: Int, val span: String, val start: Long) {
    var end: Long = -1L
  }
  final class Stage(val id: Int, val attempt: Int) {
    var job: Int = -1
    var submit: Long = -1L
    var complete: Long = -1L
    var numTasks: Int = 0
    var tasks = 0L
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var inRows = 0L
    var inBytes = 0L
  }

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val stageJob = mutable.Map[Int, Int]()

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanKey))).orNull
    if (span != null) {
      jobs(e.jobId) = new Job(e.jobId, span, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageJob.get(i.stageId).foreach { j =>
      val s = stage(i.stageId, i.attemptNumber())
      s.job = j
      s.numTasks = i.numTasks
      s.submit = i.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach { s =>
      s.complete = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val s = stage(e.stageId, e.stageAttemptId)
      val m = e.taskMetrics
      s.tasks += 1
      s.cpuNs += m.executorCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inRows += m.inputMetrics.recordsRead
      s.inBytes += m.inputMetrics.bytesRead
    }
  }

  def toJson: Json.Raw = synchronized {
    val js = jobs.values.map(j => Json.obj(
      "id" -> j.id, "span" -> j.span, "start" -> j.start, "end" -> j.end))
    val ss = stages.values.filter(_.job >= 0).map(s => Json.obj(
      "id" -> s.id, "attempt" -> s.attempt, "job" -> s.job,
      "start" -> s.submit, "end" -> s.complete, "num_tasks" -> s.numTasks,
      "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs, "run_ms" -> s.runMs,
      "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
      "shuffle_read" -> s.shuffleRead, "spill" -> s.spill,
      "in_rows" -> s.inRows, "in_bytes" -> s.inBytes))
    Json.obj("jobs" -> Json.arr(js.toSeq), "stages" -> Json.arr(ss.toSeq))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + render(v) }.mkString("{", ",", "}"))
  def arr(xs: Seq[Any]): Raw = Raw(xs.map(render).mkString("[", ",", "]"))
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def render(v: Any): String = v match {
    case Raw(s) => s
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => arr(xs).s
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).s
    case other => quote(other.toString)
  }
}
