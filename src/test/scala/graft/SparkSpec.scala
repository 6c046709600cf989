package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs launched while `body` runs — the mechanical pin for
    * the metadata-cost contracts ("reads O(1) segments", "a warm
    * snapshot consult runs zero jobs"). The listener bus is drained
    * before counting (its waitUntilEmpty is private[spark] in the API
    * but public in bytecode). */
  protected def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(l)
    try {
      body
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" &&
        m.getParameterCount == 0).foreach(_.invoke(bus))
    } finally sc.removeSparkListener(l)
    n.get()
  }

  /** Classes compiled while `body` runs — the twin of [[jobsDuring]] for
    * the generated-code contracts ("a new key compiles nothing"). Spark
    * records one `CodegenMetrics` compilation per code-cache miss, on the
    * driver and (in local mode, the same JVM) on the executors. */
  protected def compilesDuring(body: => Unit): Long = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    body
    h.getCount - before
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
