package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Layout, TimeTravel}

/** The driver layout of a commit whose batch the driver already holds
  * (a `LocalRelation`): it must commit exactly what the distributed
  * layout commits for the same rows, run no Spark job when warm, and
  * leave every batch it cannot take to the distributed path. Also the
  * driver fold behind `vacuum` and `vacuumPreview`.
  */
class DriverCommitSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_dc_$tag").toFile
    d.deleteOnExit()
    new java.io.File(d, "data").getPath
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n", IntegerType), StructField("amt", DoubleType),
    StructField("flag", BooleanType), StructField("note", StringType),
    StructField("ts", TimestampType), StructField("d", DateType)))

  /** `count` rows from `from`: nulls in every column but `id`, and a
    * 0001-01-01 date in the first row. `equalKey` gives every row the
    * same id and date, so every row has the same z-key. */
  private def rows(from: Int, count: Int, equalKey: Boolean): Seq[Row] =
    (from until from + count).map { i =>
      def orNull[A](every: Int)(v: A): Any = if (i % every == 3) null else v
      val d =
        if (equalKey) java.sql.Date.valueOf("2020-01-01")
        else if (i == from) java.sql.Date.valueOf("0001-01-01")
        else orNull(8)(java.sql.Date.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays((i * 37) % 400)))
      Row(if (equalKey) 7L else (i * 7919L) % 1000L, orNull(7)(i * 3),
        orNull(5)(i * 0.5), orNull(6)(i % 2 == 0), orNull(4)(s"n$i é"),
        orNull(9)(new java.sql.Timestamp(1600000000000L + i * 1000L)), d)
    }

  private def local(rs: Seq[Row], s: StructType = schema): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), s)

  private def distributed(rs: Seq[Row], s: StructType = schema): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 2), s)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def history(dir: String): Seq[String] =
    sorted(TimeTravel.history(spark, dir).drop("commit_ts"))

  /** Per version, the add rows' stats (file names are attempt tokens). */
  private def lineageStats(dir: String): Seq[String] =
    sorted(TimeTravel.readLineage(spark, dir)
      .filter(col("action") === "add").drop("file_name", "commit_ts"))

  test("a batch the driver holds commits what the distributed layout " +
      "commits: same history, head rows, lineage stats and z-ordered " +
      "files, over files 1 and 3, distinct and equal keys, one dim and " +
      "a (long, date) pair; the warm driver commit runs no job") {
    for (dims <- Seq(Seq("id"), Seq("id", "d"));
         equalKey <- Seq(false, true); files <- Seq(1, 3)) {
      val tag = s"${dims.mkString("_")}_${equalKey}_$files"
      val batches = Seq(rows(0, 40, equalKey), rows(40, 30, equalKey))
      val (ld, dd) = (tmpDir(s"l_$tag"), tmpDir(s"d_$tag"))
      val jobs = batches.map { b =>
        TimeTravel.latestVersion(spark, ld) // a warm lineage snapshot
        (jobsDuring(TimeTravel.commitAppend(local(b), ld, dims, files): Unit),
          jobsDuring(TimeTravel.commitAppend(distributed(b), dd, dims,
            files): Unit))
      }
      assert(jobs(1)._1 == 0, s"$tag: warm driver commit ran jobs $jobs")
      assert(jobs.forall(_._2 > 0), s"$tag: distributed path ran no job")
      assert(history(ld) == history(dd), tag)
      assert(sorted(TimeTravel.read(spark, ld)) ==
        sorted(TimeTravel.read(spark, dd)), tag)
      assert(sorted(TimeTravel.read(spark, ld)).size == 70, tag)
      assert(lineageStats(ld) == lineageStats(dd), tag)
      // every file of either table is non-decreasing in its batch's key
      batches.zipWithIndex.foreach { case (b, i) =>
        val key = Layout.countAndZKey(local(b), dims)._2.collect()
          .map(r => r.toSeq.init.mkString("|") -> r.getLong(r.length - 1)).toMap
        Seq(ld, dd).foreach { dir =>
          TimeTravel.readLineage(spark, dir)
            .filter(col("action") === "add" && col("version") === i + 1)
            .select("file_name").collect().map(_.getString(0))
            .foreach { f =>
              val ks = spark.read.parquet(s"$dir/$f").collect()
                .map(r => key(r.toSeq.mkString("|")))
              assert(ks.toSeq == ks.sorted.toSeq, s"$tag: $dir/$f")
            }
        }
      }
    }
  }

  test("the driver runs are the range partitioner's partitions, row for " +
      "row, with distinct keys and with runs of equal keys of growing " +
      "length") {
    for (dims <- Seq(Seq("id"), Seq("id", "d"));
         repeated <- Seq(false, true); files <- Seq(3, 15)) {
      // 75 rows per input partition: the partitioner's sample holds every
      // row. Repeated ids come in runs of 1 to 12 rows, so some cut
      // targets fall inside a run.
      val rs = rows(0, 150, equalKey = false).zipWithIndex.map {
        case (r, i) if repeated =>
          val id = math.sqrt(4.0 * i).toLong * 7919L % 1000L
          Row.fromSeq(id +: r.toSeq.tail)
        case (r, _) => r
      }
      val want = Layout.zCluster(
          Layout.countAndZKey(distributed(rs), dims)._2, files)
        .rdd.glom().collect().filter(_.nonEmpty)
        .map(_.map(_.toString).toSeq.sorted).toSeq
      val got = Layout.zRunsOnDriver(local(rs), dims, files).get
        .map(_.map(_.toString).toSeq.sorted)
      assert(got == want, s"$dims repeated=$repeated files=$files")
    }
  }

  test("the distributed path keeps every batch the driver layout cannot " +
      "take — a double dim, a decimal, short or array column, a " +
      "non-deterministic projection — and commits the same rows") {
    val base = rows(0, 30, equalKey = false)
    def both(tag: String, dims: Seq[String], s: StructType,
             widen: Row => Row): Unit = {
      val rs = base.map(widen)
      val (ld, dd) = (tmpDir(s"fl_$tag"), tmpDir(s"fd_$tag"))
      TimeTravel.commitAppend(local(rs.take(10), s), ld, dims, 2)
      TimeTravel.commitAppend(distributed(rs.take(10), s), dd, dims, 2)
      val warm = jobsDuring(TimeTravel.commitAppend(local(rs.drop(10), s),
        ld, dims, 2): Unit)
      assert(warm > 0, s"$tag took the driver layout")
      TimeTravel.commitAppend(distributed(rs.drop(10), s), dd, dims, 2)
      assert(history(ld) == history(dd), tag)
      assert(sorted(TimeTravel.read(spark, ld)) ==
        sorted(TimeTravel.read(spark, dd)), tag)
    }
    both("double_dim", Seq("amt"), schema, identity)
    both("decimal", Seq("id"), schema.add("dec", DecimalType(10, 2)),
      r => Row.fromSeq(r.toSeq :+ java.math.BigDecimal.valueOf(
        r.getLong(0), 2)))
    both("short", Seq("id"), schema.add("s", ShortType),
      r => Row.fromSeq(r.toSeq :+ (r.getLong(0) % 100).toShort))
    both("array", Seq("id"), schema.add("arr", ArrayType(LongType)),
      r => Row.fromSeq(r.toSeq :+ Seq(r.getLong(0), 1L)))
    // rand() over local rows: the batch is evaluated once, materialized
    val dir = tmpDir("rand")
    TimeTravel.commitAppend(local(base.take(10)), dir, Seq("id"), 2)
    val noisy = local(base.drop(10)).withColumn("r", rand(11))
    assert(!Layout.driverHeld(noisy))
    assert(jobsDuring(TimeTravel.commitAppend(noisy, dir, Seq("id"),
      2): Unit) > 0)
    assert(sorted(TimeTravel.read(spark, dir).drop("r")) ==
      sorted(local(base)))
    val r = TimeTravel.read(spark, dir).filter(col("r").isNotNull)
    assert(r.count() == 20L && r.filter(col("r") >= 1.0).isEmpty)
  }

  test("a warm append of a local batch with a batch id, and graft_tt_commit " +
      "over a local temp view, run no Spark job") {
    val dir = tmpDir("warm")
    GraftExtensions.register(spark)
    TimeTravel.commitAppend(local(rows(0, 50, equalKey = false)), dir,
      Seq("id"), files = 4, batchId = Some("w0"))
    TimeTravel.commitAppend(local(rows(50, 20, equalKey = false)), dir,
      Seq("id"), files = 1, batchId = Some("w1"))
    assert(jobsDuring(TimeTravel.commitAppend(local(rows(70, 20,
      equalKey = false)), dir, Seq("id"), files = 1,
      batchId = Some("w2")): Unit) == 0)
    def sqlCommit(from: Int, b: String): Long = {
      local(rows(from, 20, equalKey = false))
        .createOrReplaceTempView("dc_batch")
      spark.sql(s"SELECT version FROM graft_tt_commit('dc_batch', " +
        s"'$dir', 'id', 1, '$b')").head().getLong(0)
    }
    assert(sqlCommit(90, "s0") == 4L)
    var v = -1L
    assert(jobsDuring { v = sqlCommit(110, "s1") } == 0)
    assert(v == 5L)
    // the replayed batch id stays a no-op on the driver path
    assert(jobsDuring { v = sqlCommit(110, "s1") } == 0)
    assert(v == 5L && TimeTravel.read(spark, dir).count() == 130L)
  }

  test("graft_tt_commit over a local temp view runs no Spark job when " +
      "warm in a session built with the extensions") {
    val dir = tmpDir("ext")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = SparkSession.builder().withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      assert(ext ne spark)
      def sqlCommit(from: Int, b: String): Long = {
        ext.createDataFrame(java.util.Arrays.asList(
            rows(from, 20, equalKey = false): _*), schema)
          .createOrReplaceTempView("dc_ext_batch")
        ext.sql(s"SELECT version FROM graft_tt_commit('dc_ext_batch', " +
          s"'$dir', 'id', 1, '$b')").head().getLong(0)
      }
      assert(sqlCommit(0, "e0") == 1L && sqlCommit(20, "e1") == 2L)
      var v = -1L
      assert(jobsDuring { v = sqlCommit(40, "e2") } == 0)
      assert(v == 3L)
      assert(jobsDuring { v = sqlCommit(40, "e2") } == 0)
      assert(v == 3L && TimeTravel.read(spark, dir).count() == 60L)
    } finally {
      // the new session's shared state added its own SQL status listener
      // to the shared context; later suites must not pay for it
      ext.sharedState.statusStore.listener
        .foreach(spark.sparkContext.removeSparkListener)
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a table's first commit leaves its lineage snapshot behind: the " +
      "second local append on a fresh table runs no Spark job, and the " +
      "snapshot equals a cold load") {
    val dir = tmpDir("first")
    TimeTravel.commitAppend(local(rows(0, 30, equalKey = false)), dir,
      Seq("id"), files = 2)
    assert(jobsDuring(TimeTravel.commitAppend(local(rows(30, 20,
      equalKey = false)), dir, Seq("id"), files = 1): Unit) == 0)
    val warm = (history(dir), TimeTravel.readLineage(spark, dir).schema)
    graft.sources.ListingSnapshot.invalidateAll()
    assert((history(dir), TimeTravel.readLineage(spark, dir).schema) == warm)
    assert(TimeTravel.read(spark, dir).count() == 50L)
  }

  test("vacuum runs no Spark job on a warm snapshot, and vacuumPreview " +
      "names exactly what it reclaims: a file a rollback re-added " +
      "survives") {
    val dir = tmpDir("vac")
    TimeTravel.commitAppend(local(rows(0, 40, equalKey = false)), dir,
      Seq("id"), files = 2)                               // v1
    TimeTravel.compact(spark, dir, Seq("id"), files = 1)  // v2
    TimeTravel.rollback(spark, dir, 1L)                   // v3: v1 re-added
    TimeTravel.commitAppend(local(rows(40, 10, equalKey = false)), dir,
      Seq("id"), files = 1)                               // v4
    def adds(v: Long) = TimeTravel.readLineage(spark, dir)
      .filter(col("version") === v && col("action") === "add")
      .select("file_name").collect().map(_.getString(0)).toSet
    val preview = TimeTravel.vacuumPreview(spark, dir, keepFrom = 3L)
    assert(preview.schema == StructType(Seq(
      StructField("file_name", StringType),
      StructField("removed_at_version", LongType))))
    // only v2's compacted file, removed by the rollback at v3
    val named = preview.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(named.toSeq == adds(2L).toSeq.map(_ -> 3L))
    var n = -1
    assert(jobsDuring { n = TimeTravel.vacuum(spark, dir, keepFrom = 3L) } == 0)
    assert(n == 1)
    val vacuumed = TimeTravel.readLineage(spark, dir)
      .filter(col("action") === "vacuum").select("file_name").collect()
      .map(_.getString(0)).toSet
    assert(vacuumed == named.map(_._1).toSet && (vacuumed & adds(1L)).isEmpty)
    assert(TimeTravel.read(spark, dir).count() == 50L)
    assert(TimeTravel.readAsOf(spark, dir, 3L).count() == 40L)
    assert(TimeTravel.vacuumPreview(spark, dir, keepFrom = 3L).isEmpty)
    assert(TimeTravel.vacuum(spark, dir, keepFrom = 3L) == 0)
  }
}
