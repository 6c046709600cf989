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
    * before counting. */
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
    try { body; drainListenerBus() } finally sc.removeSparkListener(l)
    n.get()
  }

  /** The root SQL executions of the jobs `body` ran: each job's
    * `spark.sql.execution.root.id`, None for a job outside any SQL
    * execution. One root means every job was attributed to one query. */
  protected def rootExecutionsDuring(body: => Unit): Set[Option[String]] = {
    val sc = spark.sparkContext
    val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[Option[String]]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        roots.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))))
        ()
      }
    }
    sc.addSparkListener(l)
    try { body; drainListenerBus() } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    roots.asScala.toSet
  }

  /** What `body` read, from the task-end metrics — the twin of
    * [[jobsDuring]] for the scale contracts ("an append reads the batch,
    * never the history", "a salted join flattens the reducers"). Input
    * records and bytes are summed over every task: file scans (bytes
    * include parquet footers) and reads of persisted blocks both count.
    * `shuffleRecords` holds, per stage that read any shuffle records,
    * each task's shuffle-read record count. */
  protected def readDuring(body: => Unit): SparkSpec.Reads = {
    val sc = spark.sparkContext
    val records = new java.util.concurrent.atomic.AtomicLong(0L)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val shuffle = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
          shuffle.add(e.stageId ->
            e.taskMetrics.shuffleReadMetrics.recordsRead)
        }
    }
    sc.addSparkListener(l)
    try { body; drainListenerBus() } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val byStage = shuffle.asScala.toSeq.groupMap(_._1)(_._2)
      .filter(_._2.sum > 0L)
    SparkSpec.Reads(records.get(), bytes.get(), byStage)
  }

  /** Runs `body` with the session confs `kvs` set, restoring each
    * prior value (or unsetting it) afterwards. */
  protected def withConf[A](kvs: Seq[(String, String)])(body: => A): A = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Blocks until every event posted so far reached the listeners (the
    * bus's waitUntilEmpty is private[spark] in the API but public in
    * bytecode). */
  protected def drainListenerBus(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods.find(m => m.getName == "waitUntilEmpty" &&
      m.getParameterCount == 0).foreach(_.invoke(bus))
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
  /** [[SparkSpec.readDuring]]'s counts: input records and bytes, and
    * the shuffle records each task read, keyed by stage. */
  final case class Reads(records: Long, bytes: Long,
                         shuffleRecords: Map[Int, Seq[Long]])

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
