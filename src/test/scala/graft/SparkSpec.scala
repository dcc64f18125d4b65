package graft

import org.apache.spark.ListenerBusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one per forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Result of `f` and the number of Spark jobs that started while it ran. */
  protected def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    ListenerBusFlush(sc)
    sc.addSparkListener(l)
    try {
      val r = f
      ListenerBusFlush(sc)
      (r, started.get)
    } finally sc.removeSparkListener(l)
  }

  /** Collects `ds` with codegen fallback off and asserts that an
    * expression of class `kernel` ran inside whole-stage generated code.
    * A projection straight over a local Seq is folded into its
    * `LocalRelation` and evaluated interpreted, so such a frame needs a
    * `repartition` before the kernel.
    */
  protected def collectGenerated[T](ds: Dataset[T], kernel: Class[_]): Array[T] = {
    val conf = spark.conf
    conf.set("spark.sql.codegen.fallback", "false")
    val rows = try ds.collect() finally conf.unset("spark.sql.codegen.fallback")
    val plan = ds.queryExecution.executedPlan
    val stages = new AdaptiveSparkPlanHelper {}.collect(plan) { case w: WholeStageCodegenExec => w }
    assert(stages.exists(_.exists(_.expressions.exists(_.exists(kernel.isInstance)))),
      s"${kernel.getSimpleName} is not in generated code:\n$plan")
    rows
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
