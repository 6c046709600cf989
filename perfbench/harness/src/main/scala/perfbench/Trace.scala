package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `file:` with call counters: the benchmark registers it as
  * `fs.file.impl`, so every Hadoop FileSystem call the engine makes on
  * local paths (parquet writes, lineage reads, listings) is counted
  * from outside the engine. Spark's own shuffle/spill files do not go
  * through Hadoop and are not counted. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    statusCalls.incrementAndGet(); super.getFileStatus(f)
  }
}

object CountingLocalFs {
  val creates = new AtomicLong
  val renames = new AtomicLong
  val lists = new AtomicLong
  val statusCalls = new AtomicLong

  final case class Snap(creates: Long, renames: Long, lists: Long,
                        status: Long) {
    def -(o: Snap): Snap = Snap(creates - o.creates, renames - o.renames,
      lists - o.lists, status - o.status)
  }

  def snap(): Snap = Snap(creates.get, renames.get, lists.get, statusCalls.get)
}

/** Spark-side spans: every job, stage and task the listener sees, kept
  * in memory and attributed to benchmark ops afterwards — by job group
  * where the op ran on a benchmark thread, by time interval where it ran
  * on a server thread. Query phases come from `QueryExecution.tracker`.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val schedDelay = new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
  private val phases = new ConcurrentLinkedQueue[Phases]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, g, e.time, -1L, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      val d = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      schedDelay.computeIfAbsent(e.stageId, _ => new AtomicLong)
        .addAndGet(math.max(0L, d))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(Stage(i.stageId, i.numTasks,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
      Option(schedDelay.get(i.stageId)).map(_.get).getOrElse(0L)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    phases.add(Phases(ms("analysis"), ms("optimization"), ms("planning"),
      System.currentTimeMillis()))
  }

  /** Spark work of the jobs selected by `owns`, per op. */
  def rollup(owns: Job => Boolean, ops: Int): Map[String, Double] = {
    val js = jobs.values.asScala.filter(owns).toSeq
    val sids = js.flatMap(_.stages).toSet
    val ss = stages.asScala.filter(s => sids(s.id)).toSeq
    val per = math.max(1, ops).toDouble
    Map(
      "spark.jobs_per_op" -> js.size / per,
      "spark.stages_per_op" -> ss.size / per,
      "spark.tasks_per_op" -> ss.map(_.tasks).sum / per,
      "spark.task_cpu_ms_per_op" -> ss.map(_.cpuNs).sum / 1e6 / per,
      "spark.shuffle_bytes_per_op" -> ss.map(_.shuffleBytes).sum / per,
      "spark.spill_bytes_per_op" -> ss.map(_.spillBytes).sum / per,
      "spark.gc_ms_per_op" -> ss.map(_.gcMs).sum / per,
      "spark.sched_delay_ms_per_op" -> ss.map(_.schedDelayMs).sum / per)
  }

  def jobsIn(from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= from && j.start <= to).toSeq

  def jobsOfGroup(g: String): Seq[Job] =
    jobs.values.asScala.filter(_.group == g).toSeq

  /** Milliseconds of [from, to] covered by no job interval. */
  def gapMs(from: Long, to: Long, js: Seq[Job]): Double = {
    val iv = js.map(j => (math.max(from, j.start),
        math.min(to, if (j.end < 0) to else j.end)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var cur = from
    iv.foreach { case (s, e) =>
      if (e > cur) { covered += e - math.max(s, cur); cur = e }
    }
    math.max(0L, (to - from) - covered).toDouble
  }

  /** Summed analysis / optimization / planning ms of the queries that
    * finished in [from, to] (listener events arrive slightly late). */
  def phaseTotals(from: Long, to: Long): (Double, Double, Double) = {
    val ps = phases.asScala.filter(p => p.at >= from && p.at <= to + 2000).toSeq
    (ps.map(_.analysis).sum.toDouble, ps.map(_.optimization).sum.toDouble,
      ps.map(_.planning).sum.toDouble)
  }
}

object Trace {
  final case class Job(id: Int, group: String, start: Long, var end: Long,
                       stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, cpuNs: Long,
                         shuffleBytes: Long, spillBytes: Long, gcMs: Long,
                         schedDelayMs: Long)
  final case class Phases(analysis: Long, optimization: Long, planning: Long,
                          at: Long)
}
