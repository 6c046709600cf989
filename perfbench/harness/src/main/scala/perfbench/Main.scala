package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Harness entry point, launched by `run.py`:
  *
  * {{{
  * Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outJson>
  * Main selftest <workDir>
  * }}}
  *
  * Runs one workload in this JVM and writes its raw record as JSON;
  * `run.py` turns the record into the benchmark's metrics.
  */
object Main {

  @volatile var trace: Option[Trace] = None

  def session(work: String): SparkSession = {
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def conf(spark: SparkSession): Map[String, Any] = Map(
    "spark.master" -> spark.sparkContext.master,
    "spark.sql.shuffle.partitions" ->
      spark.conf.get("spark.sql.shuffle.partitions"),
    "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "spark.version" -> spark.version)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("selftest", work) => SelfTest.run(work)
    case Seq(workload, seed, seconds, traced, work, out) =>
      val t0 = System.nanoTime()
      val spark = session(work)
      val rec = new Recorder
      rec.facts("phase_s.session") = (System.nanoTime() - t0) / 1e9
      val ctx = new Ctx(spark, seed.toLong, seconds.toDouble, traced == "1",
        work, rec)
      rec.facts ++= conf(spark).map { case (k, v) => s"conf.$k" -> v }
      rec.facts("seed") = seed.toLong
      rec.facts("work_dir") = "fresh per run, deleted at exit"
      try workload match {
        case "dashboard" => Dashboard.run(ctx)
        case "lake_churn" => Lake.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      } finally {
        Files.writeString(Paths.get(out), rec.json)
        spark.stop()
      }
    case _ =>
      System.err.println("usage: Main <workload> <seed> <seconds> <trace> <work> <out>")
      sys.exit(2)
  }
}
