package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Scd, TimeTravel}

/** The systematic crash-injection MATRIX over the lake's write faces
  * (VERDICT r14 task 6): every commit family killed at every
  * commit-protocol step boundary, asserting the three invariants the
  * staged-swap design promises —
  *
  *   1. version-(N−1) INTACTNESS: a crash before the lineage append
  *      leaves the previous version bit-identical and the head
  *      unmoved (the residue is invisible orphans);
  *   2. RETRY CONVERGENCE: re-running the same mutation lands its
  *      content exactly once — including across the
  *      lineage-landed-but-ledger-unrecorded window, where the batch
  *      id stamped INTO the segment (r15) is what makes the replay a
  *      no-op instead of a double-apply;
  *   3. ORPHAN RECLAMATION: gcOrphans after any crash point reclaims
  *      residue without touching a committed read.
  *
  * Step boundaries (seams in TimeTravel):
  *   staged          — batch written to the staging dir, nothing promoted
  *   promote_partial — first data file renamed into the table dir
  *   promoted        — all files promoted, lineage NOT yet appended
  *   ledger          — lineage appended (commit IS durable), ledger
  *                     record not yet written (batchId faces only)
  */
class CrashMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_crash_$tag").toFile
    d.deleteOnExit()
    new java.io.File(d, "data").getPath
  }

  private def base: DataFrame =
    spark.range(0L, 50L)
      .select(col("id"), (col("id") % 5).as("grp"), (col("id") * 3).as("v"))

  /** The ids `[from, until)` in the base shape, as either batch kind:
    * range-backed (the distributed layout) or held on the driver (a
    * `LocalRelation`, which a commit stages with no Spark job). */
  private def shaped(kind: String, from: Long, until: Long): DataFrame =
    if (kind == "local")
      (from until until).map(i => (i, i % 5, i * 3)).toDF("id", "grp", "v")
    else spark.range(from, until)
      .select(col("id"), (col("id") % 5).as("grp"), (col("id") * 3).as("v"))

  private val batchKinds = Seq("range", "local")

  private def rows(dir: String): Set[(Long, Long, Long)] =
    TimeTravel.read(spark, dir).select(col("id"), col("grp"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private val baseRows: Set[(Long, Long, Long)] =
    (0L until 50L).map(i => (i, i % 5, i * 3)).toSet

  /** Run `body` with an injected crash at `step`; returns after
    * asserting the crash actually fired. */
  private def crashingAt(step: String)(body: => Unit): Unit = {
    TimeTravel.crashForTests = l =>
      if (l == step) throw new RuntimeException(s"injected crash at $l")
    try {
      val e = intercept[RuntimeException](body)
      assert(e.getMessage.contains(s"injected crash at $step"), e.getMessage)
    } finally TimeTravel.crashForTests = _ => ()
  }

  /** One matrix cell: crash `mutate` at `step` on a fresh v1 table,
    * assert v1 intactness (or commit durability for the post-lineage
    * `ledger` step), gc, retry, and converge on `want` exactly once. */
  private def cell(face: String, step: String,
                   mutate: String => Unit,
                   want: Set[(Long, Long, Long)],
                   retryBurnsVersion: Boolean = true): Unit = {
    val dir = tmpDir(s"${face}_$step")
    TimeTravel.commitAppend(base, dir, Seq("id"), files = 2) // v1
    crashingAt(step)(mutate(dir))
    if (step == "ledger") {
      // the lineage append IS the commit point: the mutation is durable
      assert(TimeTravel.latestVersion(spark, dir) == 2L,
        s"$face/$step: post-lineage crash must leave the commit durable")
      assert(rows(dir) == want, s"$face/$step: durable content wrong")
    } else {
      // pre-lineage crash: the head is unmoved and v1 is bit-identical
      assert(TimeTravel.latestVersion(spark, dir) == 1L,
        s"$face/$step: pre-lineage crash moved the head")
      assert(rows(dir) == baseRows, s"$face/$step: v1 not intact")
    }
    // residue is invisible orphans; reclaiming them changes no read
    TimeTravel.gcOrphans(spark, dir): Unit
    assert(rows(dir) == (if (step == "ledger") want else baseRows),
      s"$face/$step: gcOrphans touched a committed read")
    // the retry converges to exactly-once content
    mutate(dir)
    assert(rows(dir) == want, s"$face/$step: retry did not converge")
    val vAfter = TimeTravel.latestVersion(spark, dir)
    if (step == "ledger" && !retryBurnsVersion)
      assert(vAfter == 2L,
        s"$face/$step: the batch id rides the segment, so the replay " +
          s"must be version-free — got $vAfter")
    // a second retry is always a no-op for batchId faces
    if (!retryBurnsVersion) {
      mutate(dir)
      assert(TimeTravel.latestVersion(spark, dir) == vAfter &&
        rows(dir) == want, s"$face/$step: replay after success moved state")
    }
    TimeTravel.readAsOf(spark, dir, 1L) // v1 stays readable throughout
      .count(): Unit
  }

  private val preSteps = Seq("staged", "promote_partial", "promoted")

  test("commitAppend × {staged, promote_partial, promoted, ledger}: " +
      "v1 intact, orphans reclaimed, batchId retry exactly-once even " +
      "when the crash fell between the lineage and the ledger") {
    val want = baseRows ++ (100L until 120L).map(i => (i, i % 5, i * 3))
    batchKinds.foreach { kind =>
      def extra = shaped(kind, 100L, 120L)
      def mutate(dir: String): Unit =
        TimeTravel.commitAppend(extra, dir, Seq("id"), files = 2,
          batchId = Some("mx_append")): Unit
      (preSteps :+ "ledger").foreach(s =>
        cell(s"append_$kind", s, mutate, want, retryBurnsVersion = false))
    }
  }

  test("commitUpsert × every step boundary: matched files rewritten " +
      "exactly once across any crash point") {
    def upd = spark.range(0L, 10L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(777L).as("v"))
    val want = baseRows.filter(_._1 >= 10L) ++
      (0L until 10L).map(i => (i, i % 5, 777L))
    def mutate(dir: String): Unit =
      TimeTravel.commitUpsert(spark, dir, "id", upd, files = 2,
        batchId = Some("mx_upsert")): Unit
    (preSteps :+ "ledger").foreach(s =>
      cell("upsert", s, mutate, want, retryBurnsVersion = false))
  }

  test("commitDelete × pre-lineage steps: the survivor rewrite crashes " +
      "invisibly and the retry converges (deletes are naturally " +
      "idempotent — no ledger step exists)") {
    val want = baseRows.filter(_._1 >= 10L)
    def mutate(dir: String): Unit =
      TimeTravel.commitDelete(spark, dir, "id",
        spark.range(0L, 10L).toDF("id")): Unit
    preSteps.foreach(s => cell("delete", s, mutate, want))
  }

  test("commitReplaceWhere × every step boundary: the region swap is " +
      "all-or-nothing at every crash point") {
    def repl = spark.range(200L, 210L)
      .select(col("id"), lit(1L).as("grp"), lit(11L).as("v"))
    val want = baseRows.filter(_._2 != 1L) ++
      (200L until 210L).map(i => (i, 1L, 11L))
    def mutate(dir: String): Unit =
      TimeTravel.commitReplaceWhere(spark, dir, col("grp") === 1L,
        repl, files = 2, batchId = Some("mx_rw")): Unit
    (preSteps :+ "ledger").foreach(s =>
      cell("replace_where", s, mutate, want, retryBurnsVersion = false))
  }

  test("Scd merge × every step boundary: a crashed closing merge " +
      "leaves the dimension's history consistent and the retried merge " +
      "applies exactly once") {
    (preSteps :+ "ledger").foreach { step =>
      val dir = tmpDir(s"scd_$step")
      Scd.merge(spark, dir, "k",
        Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "name", "score"),
        files = 2) // v1
      def mutate(): Long = Scd.merge(spark, dir, "k",
        Seq((1L, "a", 11L)).toDF("k", "name", "score"), files = 2,
        batchId = Some("mx_scd"))
      crashingAt(step)(mutate(): Unit)
      def hist = Scd.history(spark, dir)
        .select(col("k"), col("score"), col(Scd.FromCol),
          coalesce(col(Scd.ToCol), lit(-1L)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      val merged = Set((1L, 10L, 1L, 2L), (1L, 11L, 2L, -1L),
        (2L, 20L, 1L, -1L))
      val virgin = Set((1L, 10L, 1L, -1L), (2L, 20L, 1L, -1L))
      if (step == "ledger") assert(hist == merged, s"scd/$step durable")
      else assert(hist == virgin, s"scd/$step: history not intact")
      TimeTravel.gcOrphans(spark, dir): Unit
      // retry converges; the replay after that is version-free
      mutate(): Unit
      assert(hist == merged, s"scd/$step: retry did not converge")
      val v = TimeTravel.latestVersion(spark, dir)
      assert(mutate() == v && hist == merged,
        s"scd/$step: replayed merge moved state")
      assert(Scd.current(spark, dir).count() == 2L)
    }
  }

  test("checkpoint boundary: a crash in the post-commit log fold " +
      "leaves the commit durable and no half-written checkpoint; the " +
      "replay absorbs and the NEXT commit folds the backlog") {
    batchKinds.foreach { kind =>
      val dir = tmpDir(s"ckpt_crash_$kind")
      val conf = spark.sparkContext.hadoopConfiguration
      conf.setInt(TimeTravel.checkpointIntervalKey, 1)
      try {
        TimeTravel.commitAppend(base, dir, Seq("id"), files = 2) // v1 folds
        def extra = shaped(kind, 100L, 120L)
        val want = baseRows ++ (100L until 120L).map(i => (i, i % 5, i * 3))
        def mutate(): Unit = TimeTravel.commitAppend(extra, dir, Seq("id"),
          files = 2, batchId = Some("mx_ckpt")): Unit
        crashingAt("checkpoint")(mutate())
        // the fold is post-commit maintenance: the commit IS durable
        assert(TimeTravel.latestVersion(spark, dir) == 2L)
        assert(rows(dir) == want)
        val lp = TimeTravel.lineagePath(dir)
        val fs = new org.apache.hadoop.fs.Path(lp)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        def cks = fs.listStatus(new org.apache.hadoop.fs.Path(lp))
          .map(_.getPath.getName).filter(_.startsWith("ckpt_")).toSeq.sorted
        assert(cks == Seq("ckpt_v1.parquet"),
          s"half-written checkpoint after crash: $cks")
        TimeTravel.gcOrphans(spark, dir): Unit
        // replay absorbs version-free (the batch id rides the segment)
        mutate()
        assert(TimeTravel.latestVersion(spark, dir) == 2L && rows(dir) == want)
        // the next commit folds the backlog; reads survive the reclaim
        TimeTravel.commitAppend(shaped(kind, 200L, 210L), dir, Seq("id"),
          files = 1) // v3
        assert(cks.contains("ckpt_v3.parquet"), cks.toString)
        assert(TimeTravel.vacuumLineage(spark, dir, graceMillis = 0) > 0)
        assert(TimeTravel.readAsOf(spark, dir, 1L).count() == 50L)
        assert(TimeTravel.latestVersion(spark, dir) == 3L)
      } finally conf.unset(TimeTravel.checkpointIntervalKey)
    }
  }
}
