package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation as the client saw it. `cls` is `read`, `commit`
  * or `query` (a catalog query of the traced run's operator pass);
  * `kind` names the route, query or lake op. `start`/`end` are wall-clock
  * ms (to match listener events), `ns` the duration from `nanoTime`. */
final case class Sample(kind: String, cls: String, start: Long, end: Long,
                        ok: Boolean, group: String, ns: Long) {
  def ms: Double = ns / 1e6
}

/** What one run hands back to `run.py`: raw samples (percentiles are
  * computed there), set-up times, byte counts for the amplification
  * ratios, per-layer numbers and the recorded facts. */
final class Recorder {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val wrong = new ConcurrentLinkedQueue[String]()
  val setups = mutable.ArrayBuffer.empty[Double]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val bytes = mutable.LinkedHashMap.empty[String, Long]
  @volatile var measuredS = 0.0

  def fail(msg: String): Unit = if (wrong.size < 1000) wrong.add(msg)
  def ops: Seq[Sample] = samples.asScala.toSeq

  /** The untraced first half of a traced run: kept for per-op-kind
    * medians, which need no listener. */
  val untracedSamples = mutable.ArrayBuffer.empty[Sample]

  def json: String = Json.write(Map(
    "setup_s" -> setups.toSeq,
    "measured_s" -> measuredS,
    "samples" -> ops.map(s => Seq(s.kind, s.cls, s.ms, s.ok)),
    "wrong" -> wrong.asScala.take(20).toSeq,
    "bytes" -> bytes.toMap,
    "layers" -> layers.toMap,
    "facts" -> facts.toMap))
}

/** Benchmark context shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: String, val rec: Recorder) {
  private val opSeq = new AtomicInteger
  private var dirSeq = 0

  def dir(name: String): String = synchronized {
    dirSeq += 1; s"$work/$name-$dirSeq"
  }

  /** Run `f` as one op on the calling thread under its own job group,
    * recording latency; an exception or a failed check (`f` returning
    * false) counts the op failed, never as a time. */
  def op(kind: String, cls: String)(f: => Boolean): Boolean = {
    val group = s"op-${opSeq.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val ok = try f catch {
      case e: Throwable =>
        rec.fail(s"$kind threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300)); false
    } finally sc.clearJobGroup()
    rec.samples.add(Sample(kind, cls, t0, System.currentTimeMillis(), ok, group,
      System.nanoTime() - n0))
    ok
  }

  def check(cond: Boolean, msg: => String): Boolean = {
    if (!cond) rec.fail(msg); cond
  }

  /** Closed loop in whole cycles: client `c` runs `body(c, i)` back to
    * back for `cycles` whole cycles of `cycle(c)` ops, so every run times
    * the same op mix and the same number of ops whatever the machine's
    * speed; a client with `cycle(c) == 0` runs until the others are done.
    * Returns the elapsed seconds. */
  def closedLoop(threads: Int, cycles: Int, cycle: Int => Int)
                (body: (Int, Int) => Unit): Double = {
    val t0 = System.nanoTime()
    val leadersLeft = new java.util.concurrent.CountDownLatch(
      (0 until threads).count(cycle(_) > 0))
    val ts = (0 until threads).map { c =>
      val t = new Thread(() => {
        var i = 0
        if (cycle(c) > 0) {
          while (i < cycles * cycle(c)) { body(c, i); i += 1 }
          leadersLeft.countDown()
        } else while (leadersLeft.getCount > 0) { body(c, i); i += 1 }
      }, s"perfbench-client-$c")
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  @volatile var tracedFrom = 0L
  @volatile var tracedTo = 0L
  @volatile var fsTraced = CountingLocalFs.Snap(0, 0, 0, 0)

  /** The timed phase, `loop(cycles)` returning its elapsed seconds.
    * `cycleS` is the nominal length of one cycle on a 4-core machine; a
    * run measures `seconds / cycleS` whole cycles (at least one), a count
    * fixed by `--seconds` alone. A traced run first measures half the
    * cycles untraced, then attaches the listeners and measures half
    * traced; the traced half's samples are the run's samples, the
    * untraced half's feed only per-kind medians, and
    * `trace.overhead_frac` compares the two throughputs. */
  def measure(cycleS: Double)(loop: Int => Double): Unit = {
    def cycles(s: Double) = math.max(1, math.round(s / cycleS).toInt)
    rec.facts("measured_cycles") = cycles(if (traced) seconds / 2 else seconds)
    if (!traced) rec.measuredS = loop(cycles(seconds))
    else {
      val s0 = loop(cycles(seconds / 2))
      val untraced = rec.samples.size / s0
      rec.untracedSamples ++= rec.ops
      rec.samples.clear()
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Main.trace = Some(t)
      tracedFrom = System.currentTimeMillis()
      val fs0 = CountingLocalFs.snap()
      rec.measuredS = loop(cycles(seconds / 2))
      fsTraced = CountingLocalFs.snap() - fs0
      tracedTo = System.currentTimeMillis()
      rec.layers("trace.overhead_frac") =
        1.0 - (rec.samples.size / rec.measuredS) / math.max(1e-9, untraced)
    }
  }

  /** Runs `f` and records its wall seconds as fact `phase_s.<name>`. */
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally rec.facts(s"phase_s.$name") = (System.nanoTime() - t0) / 1e9
  }

  /** The layers every workload reports from a traced run: Spark work per
    * op (jobs owned by the op's job group, or by time interval when the
    * op ran on a server thread), the driver gap, query phases and
    * file-system calls per op. */
  def commonLayers(ops: Seq[Sample], byInterval: Boolean): Unit = {
    val tr = Main.trace.get
    val n = math.max(1, ops.size).toDouble
    def jobsOf(o: Sample) =
      if (byInterval) tr.jobsIn(o.start, o.end) else tr.jobsOfGroup(o.group)
    val owned = ops.flatMap(jobsOf).map(_.id).toSet
    val L = rec.layers
    L ++= tr.rollup(j => owned(j.id), ops.size)
    L("spark.driver_gap_ms_per_op") =
      ops.map(o => tr.gapMs(o.start, o.end, jobsOf(o))).sum / n
    val (a, opt, plan) = tr.phaseTotals(tracedFrom, tracedTo)
    L("plans.analysis_ms") = a / n
    L("plans.optimization_ms") = opt / n
    L("plans.planning_ms") = plan / n
    L("sources.fs_creates_per_op") = fsTraced.creates / n
    L("sources.fs_renames_per_op") = fsTraced.renames / n
    L("sources.fs_lists_per_op") = fsTraced.lists / n
    L("sources.fs_status_calls_per_op") = fsTraced.status / n
  }

  /** Median latency of one op kind over both halves of a traced run
    * (0 when the kind did not run). */
  def kindMedianMs(kind: String): Double = {
    val xs = (rec.untracedSamples ++ rec.ops).filter(_.kind == kind).map(_.ms).sorted
    if (xs.isEmpty) 0.0 else xs(xs.size / 2)
  }

  /** Set-ups per run: three, whose median is `setup_s`; one in a traced
    * run, which reports no `setup_s`. */
  def setUps: Int = if (traced) 1 else 3

  /** Time `f` `n` times (each in a fresh state from `f`), recording the
    * set-up durations; returns the last result. */
  def setUp[A](n: Int)(f: => A)(dispose: A => Unit): A = {
    var last: Option[A] = None
    (1 to n).foreach { _ =>
      last.foreach(dispose)
      val t0 = System.nanoTime()
      last = Some(f)
      rec.setups += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => bytesUnder(x.getPath)).sum).getOrElse(0L)
  }

  def filesUnder(path: String, pred: String => Boolean): Int = {
    val f = new java.io.File(path)
    if (f.isFile) (if (pred(f.getName)) 1 else 0)
    else Option(f.listFiles).map(_.map(x => filesUnder(x.getPath, pred)).sum).getOrElse(0)
  }
}

object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case x => quote(x.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}
