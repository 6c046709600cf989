package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.TimeTravel

/** A local filesystem wearing an object-store costume: scheme `mocks3`,
  * NOT in the engine's atomic-rename allowlist — the store-capability
  * probe must refuse commits on it (needs a public no-arg constructor
  * for Hadoop's reflective FileSystem loading).
  */
class MockS3FileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mocks3"
  override def getUri: java.net.URI = java.net.URI.create("mocks3:///")
}

class TimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_tt_$tag").toFile
    d.deleteOnExit()
    new java.io.File(d, "data").getPath
  }

  /** Batch b: ids in [b*100, b*100+99], grp = id % 5, val = id * 3. */
  private def batch(b: Int): DataFrame =
    spark.range(b * 100L, b * 100L + 100)
      .select(col("id"), (col("id") % 5).as("grp"), (col("id") * 3).as("v"))

  /** [[batch]]'s rows held on the driver (a `LocalRelation`): the kind
    * a commit lays out and stages with no Spark job. */
  private def localBatch(b: Int): DataFrame =
    (b * 100L until b * 100L + 100).map(i => (i, i % 5, i * 3))
      .toDF("id", "grp", "v")

  /** Both batch kinds, for the specs every commit path must pass. */
  private val batchKinds: Seq[(String, Int => DataFrame)] =
    Seq("range" -> batch, "local" -> localBatch)

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("commitAppend assigns dense versions and readAsOf returns " +
      "exactly the batches committed by then") {
    val dir = tmpDir("basic")
    assert(TimeTravel.latestVersion(spark, dir) == 0L)
    assert(TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) == 1L)
    assert(TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) == 2L)
    assert(TimeTravel.commitAppend(batch(2), dir, Seq("id"), files = 2) == 3L)
    assert(TimeTravel.latestVersion(spark, dir) == 3L)
    assert(ids(TimeTravel.readAsOf(spark, dir, 1)) == (0L until 100L))
    assert(ids(TimeTravel.readAsOf(spark, dir, 2)) == (0L until 200L))
    assert(ids(TimeTravel.readAsOf(spark, dir, 3)) == (0L until 300L))
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 300L))
    // full rows survive, not just ids
    val r = TimeTravel.readAsOf(spark, dir, 2)
      .filter(col("id") === 123L).head()
    assert(r.getLong(r.fieldIndex("grp")) == 3L &&
      r.getLong(r.fieldIndex("v")) == 369L)
    // out-of-range versions fail loudly
    intercept[IllegalArgumentException](TimeTravel.readAsOf(spark, dir, 0))
    intercept[IllegalArgumentException](TimeTravel.readAsOf(spark, dir, 4))
  }

  test("commitDelete hides rows from the new version only; untouched " +
      "files are shared") {
    val dir = tmpDir("delete")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    val doomed = spark.range(0L, 300L).filter(col("id") % 10 === 7)
      .select(col("id"))
    val v = TimeTravel.commitDelete(spark, dir, "id", doomed)
    assert(v == 3L)
    assert(ids(TimeTravel.readAsOf(spark, dir, 3)) ==
      (0L until 200L).filterNot(_ % 10 == 7))
    // history is intact: both earlier versions still read the doomed rows
    assert(ids(TimeTravel.readAsOf(spark, dir, 1)) == (0L until 100L))
    assert(ids(TimeTravel.readAsOf(spark, dir, 2)) == (0L until 200L))
    // a delete matching nothing commits NO new version
    val none = spark.range(9000L, 9010L).select(col("id"))
    assert(TimeTravel.commitDelete(spark, dir, "id", none) == 3L)
    assert(TimeTravel.latestVersion(spark, dir) == 3L)
  }

  test("compaction rewrites the live set without changing ANY as-of read") {
    val dir = tmpDir("compact")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 3)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 3)
    val doomed = spark.range(0L, 200L).filter(col("id") % 7 === 3)
      .select(col("id"))
    TimeTravel.commitDelete(spark, dir, "id", doomed)
    val before = (1L to 3L).map(v =>
      ids(TimeTravel.readAsOf(spark, dir, v)))
    val v4 = TimeTravel.compact(spark, dir, Seq("id"), files = 2)
    assert(v4 == 4L)
    // every historical read is bit-identical post-compaction
    (1L to 3L).foreach { v =>
      assert(ids(TimeTravel.readAsOf(spark, dir, v)) == before((v - 1).toInt),
        s"as-of $v changed across compaction")
    }
    // the compacted head equals the pre-compaction head
    assert(ids(TimeTravel.readAsOf(spark, dir, 4)) == before(2))
    // and the head now reads exactly the 2 compacted files
    val live = TimeTravel.history(spark, dir)
      .filter(col("version") === 4L).head()
    assert(live.getLong(live.fieldIndex("n_adds")) == 2L)
  }

  test("batchId makes whole-commit replays exact no-ops") {
    val dir = tmpDir("ledger")
    val v1 = TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2,
      batchId = Some("b0"))
    assert(v1 == 1L)
    // replay of the SAME batch id: no new version, no duplicate rows
    val v1b = TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2,
      batchId = Some("b0"))
    assert(v1b == 1L)
    assert(TimeTravel.latestVersion(spark, dir) == 1L)
    assert(TimeTravel.read(spark, dir).count() == 100L)
    // a NEW id commits normally
    assert(TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2,
      batchId = Some("b1")) == 2L)
  }

  test("vacuum reclaims pre-keepFrom history and truncates loudly") {
    val dir = tmpDir("vacuum")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    TimeTravel.compact(spark, dir, Seq("id"), files = 1) // v3 removes v1+v2 files
    assert(TimeTravel.earliestReadable(spark, dir) == 1L)
    val reclaimed = TimeTravel.vacuum(spark, dir, keepFrom = 3L)
    assert(reclaimed == 4) // both versions' 2 files each
    assert(TimeTravel.earliestReadable(spark, dir) == 3L)
    // pre-floor reads refuse; the floor version still reads fully
    intercept[IllegalArgumentException](TimeTravel.readAsOf(spark, dir, 2))
    assert(ids(TimeTravel.readAsOf(spark, dir, 3)) == (0L until 200L))
    // idempotent: nothing left to reclaim
    assert(TimeTravel.vacuum(spark, dir, keepFrom = 3L) == 0)
  }

  test("vacuum spares files a rollback revived: latest-action-wins, " +
      "like liveFileNames") {
    val dir = tmpDir("vacrollback")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.compact(spark, dir, Seq("id"), files = 1)         // v2: removes v1's files
    TimeTravel.rollback(spark, dir, 1L)                          // v3: re-ADDS v1's files
    // v1's files carry a remove at v2 — but their latest action is the
    // v3 re-add, so they are LIVE at the head and must survive vacuum.
    // Only v2's compacted file (latest action: removed at v3) goes.
    val reclaimed = TimeTravel.vacuum(spark, dir, keepFrom = 3L)
    assert(reclaimed == 1, s"expected only v2's file reclaimed, got $reclaimed")
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 100L))
    assert(ids(TimeTravel.readAsOf(spark, dir, 3)) == (0L until 100L))
    // maintain() goes through the same path: a second pass reclaims nothing
    assert(TimeTravel.vacuum(spark, dir, keepFrom = 3L) == 0)
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 100L))
  }

  test("commitAppend is a no-op on an empty batch: no version burned, " +
      "no wedged retries") {
    val dir = tmpDir("emptyappend")
    val empty = batch(0).limit(0)
    // empty first commit: table stays unborn
    assert(TimeTravel.commitAppend(empty, dir, Seq("id"), files = 2) == 0L)
    assert(TimeTravel.latestVersion(spark, dir) == 0L)
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    // empty later commit (a routine empty streaming epoch): same version back
    assert(TimeTravel.commitAppend(empty, dir, Seq("id"), files = 2,
      batchId = Some("e1")) == 1L)
    assert(TimeTravel.latestVersion(spark, dir) == 1L)
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 100L))
  }

  test("commits REFUSE stores without atomic segment birth, and the " +
      "operator's explicit attestation lifts the refusal") {
    val dir = tmpDir("mocks3")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocks3.impl", classOf[MockS3FileSystem].getName)
    try {
      val e = intercept[IllegalArgumentException] {
        TimeTravel.commitAppend(batch(0), s"mocks3:$dir", Seq("id"),
          files = 2)
      }
      assert(e.getMessage.contains("atomic") &&
        e.getMessage.contains(TimeTravel.assumeAtomicKey),
        s"refusal must name the remedy: ${e.getMessage}")
      // the attestation (store fronted by a consistency layer) lifts it
      conf.setBoolean(TimeTravel.assumeAtomicKey, true)
      assert(TimeTravel.commitAppend(batch(0), s"mocks3:$dir", Seq("id"),
        files = 2) == 1L)
      assert(ids(TimeTravel.read(spark, s"mocks3:$dir")) == (0L until 100L))
    } finally {
      conf.unset(TimeTravel.assumeAtomicKey)
      conf.unset("fs.mocks3.impl")
    }
    // local paths unchanged: the whole rest of this suite is the proof
  }

  test("a truncated/empty cursor file fails loudly, not with an index " +
      "error") {
    val dir = tmpDir("cursor")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    val cursor = new java.io.File(new java.io.File(dir).getParent,
      "tail_cursor").getPath
    Files.write(java.nio.file.Paths.get(cursor), Array.empty[Byte])
    val e = intercept[IllegalArgumentException] {
      TimeTravel.followChanges(spark, dir, "id", cursor)((_, _) => ())
    }
    assert(e.getMessage.contains("corrupt version file"))
  }

  test("lineage is truth: a crashed commit's residue is an invisible " +
      "orphan — the retry never reads it, gcOrphans reclaims it") {
    val dir = tmpDir("crash")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    // simulate a crash AFTER promotion, BEFORE the lineage append: a
    // v2-named file exists but version 2 was never committed
    val orphanRows = spark.range(9000L, 9100L)
      .select(col("id"), (col("id") % 5).as("grp"), (col("id") * 3).as("v"))
    orphanRows.coalesce(1).write.parquet(dir + "_orphan_stage")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(dir + "_orphan_stage"))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/v2_deadbeef_7.parquet")
    fs.rename(part, orphan)
    // the orphan is invisible to every read
    assert(TimeTravel.latestVersion(spark, dir) == 1L)
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 100L))
    // the retry commits under its own attempt-unique names — the
    // residue stays invisible, no duplicate, no orphan rows read
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    assert(ids(TimeTravel.readAsOf(spark, dir, 2)) == (0L until 200L))
    // reclamation is gcOrphans' job, and only the residue goes
    assert(TimeTravel.gcOrphans(spark, dir) == 1)
    assert(!fs.exists(orphan))
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 200L))
  }

  test("a vanished committed file is corruption, never a smaller table") {
    val dir = tmpDir("corrupt")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = spark.read
      .parquet(TimeTravel.lineagePath(dir))
      .select("file_name").head().getString(0)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$committed"), false)
    val e = intercept[IllegalArgumentException](
      TimeTravel.read(spark, dir))
    assert(e.getMessage.contains("missing on disk"))
  }

  test("pruned as-of reads skip files by the lineage's own stats and " +
      "stay row-identical to the plain as-of filter") {
    import graft.sources.Layout.ColRange
    val dir = tmpDir("prune")
    // 4 files per commit, z-ordered on id → tight per-file id ranges
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 4)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 4)
    val r = Seq(ColRange("id", lit(10L), lit(40L)))
    // row-identical at BOTH versions (history skips like the head)
    (1L to 2L).foreach { v =>
      val pruned = ids(TimeTravel.readAsOfPruned(spark, dir, v, r))
      val full = ids(TimeTravel.readAsOf(spark, dir, v)
        .filter(col("id").between(10L, 40L)))
      assert(pruned == full, s"as-of $v pruned read diverged")
    }
    // and it actually skips: the v1 slice [10,40] cannot need v2's
    // files (ids 100-199) nor all 4 of v1's quarter-files
    val nFiles = TimeTravel.readAsOfPruned(spark, dir, 1L, r)
      .inputFiles.length
    assert(nFiles < 4, s"expected file skipping, plan reads $nFiles files")
    // a range over a never-recorded dimension degrades to row filtering
    val byV = TimeTravel.readAsOfPruned(spark, dir, 2L,
      Seq(ColRange("v", lit(30L), lit(60L))))
    assert(ids(byV) == (10L to 20L))
    // a versioned delete's rewrite keeps recording stats: post-delete
    // files are still skippable
    TimeTravel.commitDelete(spark, dir, "id",
      spark.range(0L, 5L).select(col("id")))
    assert(ids(TimeTravel.readAsOfPruned(spark, dir, 3L, r)) ==
      (10L to 40L))
  }

  test("the SQL faces drive the whole lifecycle from SQL text alone") {
    GraftExtensions.register(spark)
    val dir = tmpDir("sqlface")
    batch(0).createOrReplaceTempView("tt_b0")
    batch(1).createOrReplaceTempView("tt_b1")
    val r1 = spark.sql(
      s"SELECT * FROM graft_tt_commit('tt_b0', '$dir', 'id', 2)").head()
    assert(r1.getLong(1) == 1L)
    // replayed batchId via SQL: same receipt version, no growth
    spark.sql(
      s"SELECT * FROM graft_tt_commit('tt_b1', '$dir', 'id', 2, 'bb1')")
    val r2b = spark.sql(
      s"SELECT * FROM graft_tt_commit('tt_b1', '$dir', 'id', 2, 'bb1')").head()
    assert(r2b.getLong(1) == 2L)
    assert(spark.sql(s"SELECT * FROM graft_tt_read('$dir')").count() == 200L)
    assert(spark.sql(s"SELECT * FROM graft_tt_read('$dir', 1)").count() == 100L)
    batch(0).filter(col("id") % 2 === 0).select("id")
      .createOrReplaceTempView("tt_doomed")
    val r3 = spark.sql(
      s"SELECT * FROM graft_tt_delete('tt_doomed', '$dir', 'id')").head()
    assert(r3.getLong(1) == 3L)
    assert(spark.sql(s"SELECT * FROM graft_tt_read('$dir')").count() == 150L)
    val r4 = spark.sql(
      s"SELECT * FROM graft_tt_compact('$dir', 'id', 1)").head()
    assert(r4.getLong(1) == 4L)
    assert(spark.sql(
      s"SELECT * FROM graft_tt_history('$dir')").count() == 4L)
    val r5 = spark.sql(
      s"SELECT * FROM graft_tt_vacuum('$dir', 4)").head()
    assert(r5.getInt(1) > 0 && r5.getLong(2) == 4L)
    assert(spark.sql(s"SELECT * FROM graft_tt_read('$dir', 4)").count() == 150L)
  }

  test("commitReplaceWhere swaps exactly the predicate region in ONE " +
      "commit; earlier versions read the pre-swap rows") {
    val dir = tmpDir("repl")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    // backfill grp 2 with recomputed payloads
    val redo = spark.range(0L, 200L).filter(col("id") % 5 === 2)
      .select(col("id"), (col("id") % 5).as("grp"),
        (col("id") * 1000).as("v"))
    assert(TimeTravel.commitReplaceWhere(spark, dir, col("grp") === 2,
      redo, files = 2) == 3L)
    val head = TimeTravel.read(spark, dir)
    assert(head.count() == 200L)
    assert(head.filter(col("grp") === 2 && col("v") =!= col("id") * 1000)
      .count() == 0L)
    assert(head.filter(col("grp") =!= 2 && col("v") =!= col("id") * 3)
      .count() == 0L)
    // history intact: version 2 still reads the ORIGINAL payloads
    assert(TimeTravel.readAsOf(spark, dir, 2)
      .filter(col("v") =!= col("id") * 3).count() == 0L)
    // region guard: a batch row outside the predicate refuses loudly,
    // version unmoved
    val e = intercept[IllegalArgumentException] {
      TimeTravel.commitReplaceWhere(spark, dir, col("grp") === 2,
        batch(0).limit(3), files = 2)
    }
    assert(e.getMessage.contains("do NOT match"))
    assert(TimeTravel.latestVersion(spark, dir) == 3L)
  }

  test("commitReplaceWhere: empty batch is a predicate delete; nothing " +
      "matching + empty batch is version-free; batchId replays absorb; " +
      "null-predicate rows survive") {
    val dir = tmpDir("repl2")
    val withNulls = batch(0).select(
      col("id"),
      when(col("id") < 10, lit(null).cast("long"))
        .otherwise(col("grp")).as("grp"), col("v"))
    TimeTravel.commitAppend(withNulls, dir, Seq("id"), files = 2)
    // delete grp 3 in one commit — null-grp rows must survive (CHECK
    // semantics: null does not match)
    assert(TimeTravel.commitReplaceWhere(spark, dir, col("grp") === 3,
      withNulls.limit(0), files = 2, batchId = Some("del3")) == 2L)
    val head = TimeTravel.read(spark, dir)
    assert(head.filter(col("grp") === 3).count() == 0L)
    assert(head.filter(col("grp").isNull).count() == 10L)
    // replay absorbed by the ledger
    assert(TimeTravel.commitReplaceWhere(spark, dir, col("grp") === 3,
      withNulls.limit(0), files = 2, batchId = Some("del3")) == 2L)
    // nothing matches and the batch is empty: version-free no-op
    assert(TimeTravel.commitReplaceWhere(spark, dir, col("grp") === 99,
      withNulls.limit(0), files = 2) == 2L)
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
  }

  test("commitReplaceWhere screenRanges cut the rewrite to stat-" +
      "screened files; the SQL face drives the swap from text") {
    GraftExtensions.register(spark)
    val dir = tmpDir("repl3")
    // two id-disjoint generations → id stats separate their files
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    val redo = spark.range(20L, 40L)
      .select(col("id"), (col("id") % 5).as("grp"),
        lit(-7L).as("v"))
    TimeTravel.commitReplaceWhere(spark, dir,
      col("id") >= 20 && col("id") < 40, redo, files = 1,
      screenRanges = Seq(graft.sources.Layout.ColRange("id",
        lit(20L), lit(39L))))
    // only generation-1 files could hold ids 20-39: generation 2's two
    // files survive untouched
    val removedAtV3 = spark.read
      .parquet(TimeTravel.lineagePath(dir))
      .filter(col("version") === 3L && col("action") === "remove")
      .select("file_name").collect().map(_.getString(0))
    assert(removedAtV3.nonEmpty && removedAtV3.forall(_.startsWith("v1_")),
      s"only generation-1 files should rewrite, got: " +
        removedAtV3.mkString(","))
    assert(TimeTravel.read(spark, dir).count() == 200L)
    // SQL face
    spark.range(40L, 60L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(-8L).as("v"))
      .createOrReplaceTempView("repl_batch")
    val r = spark.sql(
      s"SELECT * FROM graft_tt_replace_where('repl_batch', '$dir', " +
        "'id >= 40 AND id < 60', 2)").head()
    assert(r.getLong(1) == 4L)
    assert(TimeTravel.read(spark, dir)
      .filter(col("v") === -8L).count() == 20L)
  }

  test("commitReplaceWhere derives a stat screen from its own " +
      "predicate: simple comparison conjuncts prune with NO caller " +
      "ranges") {
    val dir = tmpDir("replauto")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    // no screenRanges: the >= / < conjuncts screen on the id stats
    val redo = spark.range(120L, 140L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(-3L).as("v"))
    TimeTravel.commitReplaceWhere(spark, dir,
      col("id") >= 120 && col("id") < 140, redo, files = 1)
    val removed = spark.read
      .parquet(TimeTravel.lineagePath(dir))
      .filter(col("version") === 3L && col("action") === "remove")
      .select("file_name").collect().map(_.getString(0))
    assert(removed.nonEmpty && removed.forall(_.startsWith("v2_")),
      s"only generation-2 files (ids 100-199) should rewrite, got: " +
        removed.mkString(","))
    assert(TimeTravel.read(spark, dir).count() == 200L)
    assert(TimeTravel.read(spark, dir)
      .filter(col("v") === -3L).count() == 20L)
    // an IN-list predicate screens too (single- and multi-value)
    val redo2 = spark.range(7L, 8L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(-4L).as("v"))
    TimeTravel.commitReplaceWhere(spark, dir, col("id").isin(7L),
      redo2, files = 1)
    val removed2 = spark.read
      .parquet(TimeTravel.lineagePath(dir))
      .filter(col("version") === 4L && col("action") === "remove")
      .select("file_name").collect().map(_.getString(0))
    assert(removed2.forall(_.startsWith("v1_")),
      s"only generation-1 files (ids 0-99) should rewrite, got: " +
        removed2.mkString(","))
  }

  test("the MERGE / change-feed / matview SQL faces compose from SQL " +
      "text alone") {
    GraftExtensions.register(spark)
    val dir = tmpDir("sqlface2")
    val view = dir + "_view"
    batch(0).createOrReplaceTempView("tt2_b0")
    spark.sql(s"SELECT * FROM graft_tt_commit('tt2_b0', '$dir', 'id', 2)")
    val mv = spark.sql(
      s"SELECT * FROM graft_mv_create('$dir', '$view', 'grp', 'v')").head()
    assert(mv.getLong(1) == 1L)
    // MERGE from SQL: update ids 0-4, insert 900
    spark.range(0L, 5L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(-1L).as("v"))
      .unionByName(Seq((900L, 0L, -2L)).toDF("id", "grp", "v"))
      .createOrReplaceTempView("tt2_upd")
    val up = spark.sql(
      s"SELECT * FROM graft_tt_upsert('tt2_upd', '$dir', 'id', 2)").head()
    assert(up.getLong(1) == 2L)
    // key-level feed, then the 'rows' form with post-images
    val feed = spark.sql(
      s"SELECT * FROM graft_tt_changes('$dir', 1, 2, 'id')")
      .collect().map(r => (r.getLong(1), r.getString(2))).toSet
    assert(feed == (0L until 5L).map((_, "updated")).toSet + ((900L, "inserted")))
    val rows = spark.sql(
      s"SELECT * FROM graft_tt_changes('$dir', 1, 2, 'id', 'rows')")
      .collect().map(r => (r.getLong(r.fieldIndex("id")),
        r.getLong(r.fieldIndex("v")))).toMap
    assert(rows == (0L until 5L).map(_ -> -1L).toMap + (900L -> -2L))
    // refresh via SQL: the receipt reports an incremental file count,
    // and the view equals a recompute
    val rf = spark.sql(
      s"SELECT * FROM graft_mv_refresh('$view')").head()
    assert(rf.getLong(1) == 2L)
    val got = spark.sql(s"SELECT * FROM graft_mv_read('$view')")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = spark.sql(s"SELECT * FROM graft_tt_read('$dir')")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // the operational ring from SQL text: stats, clone, maintain, gc
    val st = spark.sql(
      s"SELECT * FROM graft_tt_stats('$dir', 2, 'id')").head()
    assert(st.getLong(st.fieldIndex("n_rows")) == 101L) // 100 + insert
    val cl = spark.sql(s"SELECT * FROM graft_tt_clone('$dir', 1, " +
      s"'${dir}_clone1')").head()
    assert(cl.getLong(1) == 100L)
    val mt = spark.sql(s"SELECT * FROM graft_tt_maintain('$dir', 'id', " +
      "1, 1, 1)").head()
    assert(mt.getBoolean(mt.fieldIndex("compacted")))
    assert(spark.sql(s"SELECT * FROM graft_tt_gc('$dir')").head()
      .getInt(1) == 0)
  }

  test("rollback restores an old version metadata-only, keeps every " +
      "intermediate version readable, and keeps the stats payload") {
    import graft.sources.Layout.ColRange
    val dir = tmpDir("rollback")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    TimeTravel.commitDelete(spark, dir, "id",
      spark.range(0L, 200L).filter(col("id") % 3 === 0).select("id")) // v3
    // undo the delete: head == v2 again, as a NEW version
    val v4 = TimeTravel.rollback(spark, dir, 2L)
    assert(v4 == 4L)
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 200L))
    // the delete's version is still there, un-rewritten
    assert(ids(TimeTravel.readAsOf(spark, dir, 3L)) ==
      (0L until 200L).filterNot(_ % 3 == 0))
    // a replayed rollback is a no-op
    assert(TimeTravel.rollback(spark, dir, 2L) == 4L)
    // re-added files kept their stats: the head still skips files
    val pruned = TimeTravel.readAsOfPruned(spark, dir, 4L,
      Seq(ColRange("id", lit(0L), lit(30L))))
    assert(pruned.inputFiles.length < 4)
    assert(ids(pruned) == (0L to 30L))
    // rolling FORWARD again works too (back to the deleted state)
    assert(TimeTravel.rollback(spark, dir, 3L) == 5L)
    assert(ids(TimeTravel.read(spark, dir)) ==
      (0L until 200L).filterNot(_ % 3 == 0))
  }

  test("diff and diffByKey report version-to-version changes from " +
      "changed files only; compaction diffs to empty") {
    val dir = tmpDir("diff")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    val doomed = spark.range(0L, 200L).filter(col("id") % 10 === 1)
      .select("id")
    TimeTravel.commitDelete(spark, dir, "id", doomed)            // v3
    TimeTravel.compact(spark, dir, Seq("id"), files = 1)         // v4
    // v1 → v2: batch 1's keys appeared
    val d12 = TimeTravel.diffByKey(spark, dir, 1L, 2L, "id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(d12.forall(_._2 == "appeared"))
    assert(d12.map(_._1).sorted.toSeq == (100L until 200L))
    // v2 → v3: exactly the doomed keys disappeared
    val d23 = TimeTravel.diffByKey(spark, dir, 2L, 3L, "id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(d23.forall(_._2 == "disappeared"))
    assert(d23.map(_._1).sorted.toSeq ==
      (0L until 200L).filter(_ % 10 == 1))
    // v3 → v4 (compaction): every file changed, no key did
    assert(TimeTravel.diff(spark, dir, 3L, 4L).count() > 0)
    assert(TimeTravel.diffByKey(spark, dir, 3L, 4L, "id").isEmpty)
  }

  test("streamingSink commits each epoch exactly once across replays") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("stream")
    val in = MemoryStream[Long]
    val sink = TimeTravel.streamingSink(dir, Seq("id"), files = 1)
    val q = in.toDS().toDF("id")
      .writeStream.foreachBatch(sink).start()
    try {
      in.addData(0L until 50L: _*)
      q.processAllAvailable()
      in.addData(50L until 80L: _*)
      q.processAllAvailable()
    } finally q.stop()
    val vAfter = TimeTravel.latestVersion(spark, dir)
    assert(TimeTravel.read(spark, dir).count() == 80L)
    // an epoch REPLAY (the at-least-once case foreachBatch documents)
    // must be an exact no-op: same epoch id, no growth
    import spark.implicits._
    sink(Seq(60L, 61L).toDF("id"), 1L)
    assert(TimeTravel.latestVersion(spark, dir) == vAfter)
    assert(TimeTravel.read(spark, dir).count() == 80L)
  }

  test("streamingUpsertSink: CDC micro-batches MERGE by key exactly " +
      "once; a replayed epoch moves nothing") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("usink")
    val in = MemoryStream[(Long, Long)]
    val q = in.toDS().toDF("id", "v")
      .writeStream
      .foreachBatch(TimeTravel.streamingUpsertSink(dir, "id", files = 1))
      .start()
    try {
      in.addData((0L until 100L).map(i => (i, i * 3)): _*)
      q.processAllAvailable()
      // second epoch overlaps ids 50-99 (updates) and adds 100-149
      in.addData((50L until 150L).map(i => (i, -1L)): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    val head = TimeTravel.read(spark, dir)
    assert(head.count() == 150L)
    assert(head.filter(col("id") >= 50L && col("v") =!= -1L)
      .count() == 0L)
    assert(head.filter(col("id") < 50L && col("v") =!= col("id") * 3)
      .count() == 0L)
    // the at-least-once epoch replay is absorbed by the commit ledger,
    // even with drifted payloads
    import spark.implicits._
    TimeTravel.streamingUpsertSink(dir, "id", files = 1)(
      Seq((60L, -99L)).toDF("id", "v"), 1L)
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    assert(TimeTravel.read(spark, dir)
      .filter(col("v") === -99L).count() == 0L)
  }

  test("schema evolution: a batch adding a column merges at the head, " +
      "while pre-evolution versions never see it") {
    val dir = tmpDir("evolve")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    val widened = batch(1).withColumn("lang", lit("en"))
    TimeTravel.commitAppend(widened, dir, Seq("id"), files = 2)  // v2
    // as-of v1: the column does not exist yet — reads the old schema
    assert(!TimeTravel.readAsOf(spark, dir, 1L).columns.contains("lang"))
    // head: merged schema; old rows read null, new rows their value
    val head = TimeTravel.read(spark, dir)
    assert(head.columns.contains("lang"))
    assert(head.filter(col("lang").isNull).count() == 100L)
    assert(head.filter(col("lang") === "en").count() == 100L)
  }

  test("reproducibility composition: a mixture manifest re-derived from " +
      "an as-of snapshot is bit-identical, whatever landed since") {
    import graft.operators.Corpus
    val dir = tmpDir("repro")
    // corpus v1: two sources, deterministic tokens
    val v1docs = spark.range(0L, 60L).select(
      col("id").as("doc_id"),
      concat(lit("src"), (col("id") % 2).cast("string")).as("source"),
      // id-dependent token counts: "w " repeated (id % 7 + 1) times
      concat_ws(" ", sequence(lit(1), col("id") % 7 + 1)).as("text"))
    TimeTravel.commitAppend(v1docs, dir, Seq("doc_id"), files = 2)
    val manifestThen = Corpus.tokenBudgetFill(
        TimeTravel.read(spark, dir), "source", "doc_id", "text",
        Seq("src0" -> 40L, "src1" -> 25L))
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .collect().map(_.toString).sorted.toSeq
    // the lake moves on: a new batch lands, then a delete rewrites files
    TimeTravel.commitAppend(
      spark.range(100L, 140L).select(col("id").as("doc_id"),
        lit("src0").as("source"), lit("a b c").as("text")),
      dir, Seq("doc_id"), files = 2)
    TimeTravel.commitDelete(spark, dir, "doc_id",
      spark.range(0L, 30L).select(col("id").as("doc_id")))
    // reproducing the ORIGINAL run needs only the version number
    val manifestNow = Corpus.tokenBudgetFill(
        TimeTravel.readAsOf(spark, dir, 1L), "source", "doc_id", "text",
        Seq("src0" -> 40L, "src1" -> 25L))
      .select("source", "doc_id", "n_tokens", "cum_tokens")
      .collect().map(_.toString).sorted.toSeq
    assert(manifestNow == manifestThen,
      "as-of mixture manifest must reproduce bit-identically")
    assert(manifestThen.nonEmpty)
  }

  test("history reports per-version file and row accounting") {
    val dir = tmpDir("history")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 3)
    val h = TimeTravel.history(spark, dir).collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(h.map(r => r.getLong(r.fieldIndex("n_adds"))).toSeq == Seq(2L, 3L))
    assert(h.map(r => r.getLong(r.fieldIndex("rows_added"))).toSeq ==
      Seq(100L, 100L))
  }

  test("commitUpsert replaces matched rows, inserts the rest, rewrites " +
      "only matched files, and preserves history") {
    val dir = tmpDir("upsert")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    // updates: bump v for ids 50–59 (exist, all inside batch 0's range),
    // insert ids 900–904 (don't exist)
    val updates = spark.range(50L, 60L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(-1L).as("v"))
      .unionByName(spark.range(900L, 905L)
        .select(col("id"), (col("id") % 5).as("grp"), lit(-2L).as("v")))
    val v3 = TimeTravel.commitUpsert(spark, dir, "id", updates, files = 2)
    assert(v3 == 3L)
    val head = TimeTravel.read(spark, dir)
    assert(head.count() == 205L)
    assert(head.filter(col("v") === -1L).count() == 10L)
    assert(head.filter(col("v") === -2L).count() == 5L)
    // unmatched rows kept their payload
    assert(head.filter(col("id") === 123L).head().getLong(2) == 369L)
    // history: version 2 still reads the PRE-update payloads
    val old = TimeTravel.readAsOf(spark, dir, 2L)
    assert(old.count() == 200L)
    assert(old.filter(col("v") < 0L).count() == 0L)
    // file economics: batch 1's files hold no matched id (ids 50–59 all
    // sit in batch 0's range; the stats screen must prove it), so v3
    // removes at most batch 0's 2 files
    val h = TimeTravel.history(spark, dir)
      .filter(col("version") === 3L).head()
    assert(h.getLong(h.fieldIndex("n_removes")) <= 2L,
      "upsert rewrote files the stats screen should have cleared")
    // duplicate update ids refuse loudly
    val dup = updates.unionByName(updates.limit(1))
    val e = intercept[IllegalArgumentException](
      TimeTravel.commitUpsert(spark, dir, "id", dup, files = 2))
    assert(e.getMessage.contains("duplicate-id"))
    // null-id rows are dropped, not inserted
    val withNull = spark.range(905L, 907L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(-3L).as("v"))
      .unionByName(spark.range(1)
        .select(lit(null).cast("long").as("id"),
          lit(0L).as("grp"), lit(-9L).as("v")))
    TimeTravel.commitUpsert(spark, dir, "id", withNull, files = 1)
    val h2 = TimeTravel.read(spark, dir)
    assert(h2.count() == 207L && h2.filter(col("v") === -9L).count() == 0L)
    // empty updates commit nothing
    assert(TimeTravel.commitUpsert(spark, dir, "id",
      updates.limit(0), files = 1) == 4L)
    // upsert into an EMPTY table is a plain first commit
    val dir2 = tmpDir("upsert_empty")
    assert(TimeTravel.commitUpsert(spark, dir2, "id", batch(0),
      files = 2) == 1L)
    assert(ids(TimeTravel.read(spark, dir2)) == (0L until 100L))
    // batchId replay is an exact no-op
    val v = TimeTravel.commitUpsert(spark, dir2, "id",
      spark.range(0L, 5L).select(col("id"), lit(0L).as("grp"),
        lit(-7L).as("v")), files = 1, batchId = Some("u1"))
    assert(v == 2L)
    assert(TimeTravel.commitUpsert(spark, dir2, "id",
      spark.range(0L, 5L).select(col("id"), lit(0L).as("grp"),
        lit(-7L).as("v")), files = 1, batchId = Some("u1")) == 2L)
    assert(TimeTravel.read(spark, dir2).filter(col("v") === -7L)
      .count() == 5L)
    // an empty upsert into an EMPTY table manufactures no version
    val dir3 = tmpDir("upsert_noop")
    assert(TimeTravel.commitUpsert(spark, dir3, "id", batch(0).limit(0),
      files = 1) == 0L)
    assert(TimeTravel.latestVersion(spark, dir3) == 0L)
  }

  test("commitUpsert carries schema evolution both ways") {
    val dir = tmpDir("upsert_schema")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    // updates ADD a column and OMIT one
    val updates = spark.range(10L, 12L)
      .select(col("id"), (col("id") % 5).as("grp"),
        lit("fresh").as("note"))
    TimeTravel.commitUpsert(spark, dir, "id", updates, files = 1)
    val head = TimeTravel.read(spark, dir)
    assert(head.columns.sorted.toSeq == Seq("grp", "id", "note", "v"))
    val updated = head.filter(col("id") === 10L).head()
    assert(updated.getAs[String]("note") == "fresh" &&
      updated.isNullAt(updated.fieldIndex("v")))
    val survivor = head.filter(col("id") === 99L).head()
    assert(survivor.getLong(survivor.fieldIndex("v")) == 297L &&
      survivor.isNullAt(survivor.fieldIndex("note")))
  }

  test("changeFeedByKey attributes inserts/deletes/updates to their " +
      "commit and cancels pure rewrites by payload") {
    val dir = tmpDir("feed")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    TimeTravel.commitDelete(spark, dir, "id",                    // v3
      spark.range(0L, 10L).select(col("id")))
    // v4: update ids 20–24, re-insert deleted id 3, insert id 500
    val updates = spark.range(20L, 25L)
      .select(col("id"), (col("id") % 5).as("grp"), lit(-1L).as("v"))
      .unionByName(Seq((3L, 3L, -2L), (500L, 0L, -3L))
        .toDF("id", "grp", "v"))
    TimeTravel.commitUpsert(spark, dir, "id", updates, files = 2)
    TimeTravel.compact(spark, dir, Seq("id"), files = 2)         // v5
    val feed = TimeTravel.changeFeedByKey(spark, dir, 1L, 5L, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    val expected =
      (100L until 200L).map(i => (2L, i, "inserted")).toSet ++
        (0L until 10L).map(i => (3L, i, "deleted")) ++
        (20L until 25L).map(i => (4L, i, "updated")) ++
        Set((4L, 3L, "inserted"), (4L, 500L, "inserted"))
    assert(feed == expected)
    // the compaction (v5) fed nothing: every moved row was identical
    assert(!feed.exists(_._1 == 5L))
    // both images ride the full feed: an update carries its OLD row in
    // `pre` and its new payload in the post columns; a delete carries
    // only `pre`; an insert only the post columns
    val full = TimeTravel.changeFeed(spark, dir, 1L, 5L, "id").collect()
      .map(r => (r.getLong(r.fieldIndex("id")),
        r.getString(r.fieldIndex("change"))) -> r).toMap
    val upd20 = full((20L, "updated"))
    assert(upd20.getLong(upd20.fieldIndex("v")) == -1L &&
      upd20.getStruct(upd20.fieldIndex("pre")).getAs[Long]("v") == 60L)
    val del0 = full((0L, "deleted"))
    assert(del0.isNullAt(del0.fieldIndex("v")) &&
      del0.getStruct(del0.fieldIndex("pre")).getAs[Long]("v") == 0L)
    val ins500 = full((500L, "inserted"))
    assert(ins500.getLong(ins500.fieldIndex("v")) == -3L &&
      ins500.isNullAt(ins500.fieldIndex("pre")))
    // a sub-range feeds exactly its commits
    val sub = TimeTravel.changeFeedByKey(spark, dir, 3L, 4L, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSet
    assert(sub == expected.filter(_._1 == 4L))
    // range guards are loud
    intercept[IllegalArgumentException](
      TimeTravel.changeFeedByKey(spark, dir, 5L, 5L, "id"))
    intercept[IllegalArgumentException](
      TimeTravel.changeFeedByKey(spark, dir, 1L, 9L, "id"))
  }

  test("changeFeed post-images reconstruct any later version from any " +
      "earlier one, across a randomized append/delete/upsert/compact/" +
      "rollback sequence") {
    val dir = tmpDir("replay")
    val rnd = new scala.util.Random(13) // seeded: reproducible sequence
    var nextId = 0L
    def freshRows(n: Int) = {
      val rows = spark.range(nextId, nextId + n)
        .select(col("id"), (col("id") % 5).as("grp"),
          (col("id") * 3).as("v"))
      nextId += n
      rows
    }
    TimeTravel.commitAppend(freshRows(80), dir, Seq("id"), files = 2)
    (1 to 10).foreach { _ =>
      rnd.nextInt(5) match {
        case 0 => TimeTravel.commitAppend(freshRows(40), dir, Seq("id"),
          files = 2)
        case 1 => TimeTravel.commitDelete(spark, dir, "id",
          spark.range(0L, nextId)
            .filter(col("id") % 11 === rnd.nextInt(11).toLong)
            .select(col("id")))
        case 2 =>
          val salt = rnd.nextInt(1000).toLong
          val updates = spark.range(0L, nextId)
            .filter(col("id") % 7 === rnd.nextInt(7).toLong)
            .select(col("id"), (col("id") % 5).as("grp"),
              (col("id") + salt).as("v"))
          TimeTravel.commitUpsert(spark, dir, "id", updates, files = 2)
        case 3 => TimeTravel.compact(spark, dir, Seq("id"), files = 3)
        case 4 =>
          val latest = TimeTravel.latestVersion(spark, dir)
          TimeTravel.rollback(spark, dir, 1L + rnd.nextInt(latest.toInt))
      }
    }
    val head = TimeTravel.latestVersion(spark, dir)
    def snapshot(v: Long): Map[Long, (Long, Long)] =
      TimeTravel.readAsOf(spark, dir, v).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // replay from several bases, not just version 1
    Seq(1L, head / 2, head - 1).filter(_ >= 1).distinct.foreach { base =>
      val replica = scala.collection.mutable.Map(snapshot(base).toSeq: _*)
      TimeTravel.changeFeed(spark, dir, base, head, "id")
        .orderBy(col("version")).collect().foreach { r =>
          val id = r.getLong(r.fieldIndex("id"))
          r.getString(r.fieldIndex("change")) match {
            case "deleted" => replica.remove(id): Unit
            case _ => replica(id) = (r.getLong(r.fieldIndex("grp")),
              r.getLong(r.fieldIndex("v")))
          }
        }
      assert(replica.toMap == snapshot(head),
        s"feed replay from base $base must reconstruct version $head")
    }
  }

  test("the feed maintains a MinHash near-dup index through the " +
      "documented delete->compact->append recipe: probes equal a fresh " +
      "build on the final membership") {
    import graft.operators.Dedup
    val dir = tmpDir("feedmh")
    val idxFeed = dir + "_idx_feed"
    val idxFresh = dir + "_idx_fresh"
    // near-dup families of 3: ids sharing id div 3 share 7 of 8 tokens
    def rows(r: org.apache.spark.sql.Dataset[java.lang.Long]) = {
      val fam = expr("id div 3").cast("string")
      val text = concat_ws(" ",
        Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
          .map(w => concat(lit(w), fam)) :+
          concat(lit("theta"), (col("id") % 3).cast("string")): _*)
      r.select(col("id"), text.as("text"))
    }
    val docs = rows(spark.range(0L, 60L))
    (0 to 1).foreach(i => TimeTravel.commitAppend(
      docs.filter(col("id") % 2 === i), dir, Seq("id"), files = 2))
    Dedup.saveMinhashIndex(TimeTravel.readAsOf(spark, dir, 2L),
      idxFeed, "id", "text")
    // mutate: a delete, then an upsert that edits text and inserts
    TimeTravel.commitDelete(spark, dir, "id",
      spark.range(0L, 60L).filter(col("id") % 10 === 7).select(col("id")))
    val updated = rows(spark.range(0L, 60L)
        .filter(col("id") % 9 === 4 && col("id") % 10 =!= 7))
      .withColumn("text", concat(col("text"), lit(" edited extra words")))
    TimeTravel.commitUpsert(spark, dir, "id",
      updated.unionByName(rows(spark.range(1000L, 1006L))), files = 2)
    // maintain from the feed alone: per version, tombstone the
    // deleted/updated ids, COMPACT (an append-only index cannot replace
    // content — the stale band rows must go), then append post-images
    (3L to 4L).foreach { v =>
      val f = TimeTravel.changeFeed(spark, dir, v - 1, v, "id")
      Dedup.deleteFromMinhashIndex(
        f.filter(col("change").isin("deleted", "updated"))
          .select(col("id")), idxFeed, "id")
      Dedup.compactMinhashIndex(spark, idxFeed)
      Dedup.appendMinhashIndex(
        f.filter(col("change").isin("inserted", "updated"))
          .select(col("id"), col("text")), idxFeed, "id", "text")
    }
    Dedup.saveMinhashIndex(TimeTravel.read(spark, dir), idxFresh,
      "id", "text")
    // probe: exact copies of live docs (probe ids offset so they never
    // equal an index id) + novel texts — deterministic membership
    val probe = rows(spark.range(0L, 60L)
        .filter(col("id") % 10 =!= 7 && col("id") % 9 =!= 4 &&
          col("id") < 10))
      .unionByName(updated.filter(col("id") < 30))
      .select((col("id") + 5000L).as("id"), col("text"))
      .unionByName(Seq((9000L, "nothing like anything indexed at all"))
        .toDF("id", "text"))
    def flags(idx: String) =
      Dedup.flagAgainstIndex(probe, idx, "id", "text")
        .select(col("id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaFeed = flags(idxFeed)
    val viaFresh = flags(idxFresh)
    assert(viaFeed == viaFresh,
      "feed-maintained index must answer probes exactly like a fresh " +
        "build on the final membership")
    assert(viaFeed.nonEmpty, "copies of live docs must flag")
    assert(!viaFeed.exists(_._1 == 9000L), "novel text must not flag")
  }

  test("cloneAsOf hands off a historical version as a plain table that " +
      "outlives the lake's vacuum") {
    val dir = tmpDir("clone")
    val dest = tmpDir("clone_dest") + "_out"
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2)
    TimeTravel.commitDelete(spark, dir, "id",
      spark.range(0L, 50L).select(col("id")))
    assert(TimeTravel.cloneAsOf(spark, dir, 2L, dest) == 200L)
    // a PLAIN read (no library) sees exactly version 2
    assert(ids(spark.read.parquet(dest)) == (0L until 200L))
    // clones never overwrite
    val e = intercept[IllegalArgumentException](
      TimeTravel.cloneAsOf(spark, dir, 1L, dest))
    assert(e.getMessage.contains("never overwrite"))
    // the clone outlives the history it came from
    TimeTravel.compact(spark, dir, Seq("id"), files = 1)
    TimeTravel.vacuum(spark, dir, keepFrom = 4L)
    intercept[IllegalArgumentException](TimeTravel.readAsOf(spark, dir, 2L))
    assert(ids(spark.read.parquet(dest)) == (0L until 200L))
  }

  test("followChanges tails versions in order exactly once across " +
      "restarts, re-delivering only a crashed version") {
    val dir = tmpDir("follow")
    val cursor = tmpDir("follow_cursor") + "_cur"
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    TimeTravel.commitDelete(spark, dir, "id",                    // v3
      spark.range(0L, 10L).select(col("id")))
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    // bootstrap from version 1's snapshot; tail everything after
    assert(TimeTravel.followChanges(spark, dir, "id", cursor,
      startAfter = 1L) { (feed, v) => seen += ((v, feed.count())) } == 2)
    assert(seen.toSeq == Seq((2L, 100L), (3L, 10L)))
    // nothing new: zero versions, cursor intact
    assert(TimeTravel.followChanges(spark, dir, "id", cursor) {
      (_, _) => fail("must not fire") } == 0)
    // a new commit is picked up from the durable cursor (no startAfter)
    TimeTravel.commitAppend(batch(2), dir, Seq("id"), files = 2) // v4
    seen.clear()
    assert(TimeTravel.followChanges(spark, dir, "id", cursor) {
      (feed, v) => seen += ((v, feed.count())) } == 1)
    assert(seen.toSeq == Seq((4L, 100L)))
    // a crash MID-version re-delivers exactly that version on restart
    TimeTravel.commitAppend(batch(3), dir, Seq("id"), files = 2) // v5
    TimeTravel.commitAppend(batch(4), dir, Seq("id"), files = 2) // v6
    var calls = 0
    intercept[RuntimeException](
      TimeTravel.followChanges(spark, dir, "id", cursor) { (_, v) =>
        calls += 1
        if (v == 6L) throw new RuntimeException("crash before cursor")
      })
    assert(calls == 2) // v5 processed (cursor advanced), v6 crashed
    seen.clear()
    TimeTravel.followChanges(spark, dir, "id", cursor) {
      (feed, v) => seen += ((v, feed.count())) }
    assert(seen.toSeq == Seq((6L, 100L)), "only the crashed version replays")
    // a first tail without a base refuses
    val e = intercept[IllegalArgumentException](
      TimeTravel.followChanges(spark, dir, "id",
        tmpDir("follow_nocur") + "_cur") { (_, _) => () })
    assert(e.getMessage.contains("startAfter"))
  }

  test("the feed carries both images correctly across a schema " +
      "evolution boundary") {
    val dir = tmpDir("feed_schema")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    // v2: updates that ADD a column and OMIT one
    TimeTravel.commitUpsert(spark, dir, "id",
      spark.range(10L, 12L).select(col("id"), (col("id") % 5).as("grp"),
        lit("fresh").as("note")), files = 1)
    val f = TimeTravel.changeFeed(spark, dir, 1L, 2L, "id")
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    assert(f.keySet == Set(10L, 11L))
    val r10 = f(10L)
    // post-image: the new column present, the omitted one null
    assert(r10.getString(r10.fieldIndex("note")) == "fresh" &&
      r10.isNullAt(r10.fieldIndex("v")))
    // pre-image: the OLD row, with the new column null inside the struct
    val pre = r10.getStruct(r10.fieldIndex("pre"))
    assert(pre.getAs[Long]("v") == 30L && pre.getAs[String]("note") == null)
    // and the post-images equal the head's rows for those keys
    val head = TimeTravel.read(spark, dir).filter(col("id").isin(10L, 11L))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("note")))
      .toSet
    assert(head == Set((10L, "fresh"), (11L, "fresh")))
  }

  test("maintain compacts only past the cap, vacuums only allowed " +
      "history, and reclaims orphans — one quiet-moment call") {
    val dir = tmpDir("maintain")
    (0 to 3).foreach(i => TimeTravel.commitAppend(batch(i), dir,
      Seq("id"), files = 2)) // 8 live files, v4
    // under the cap: nothing compacts, nothing vacuums (floor already 1)
    val (c0, v0, g0) = TimeTravel.maintain(spark, dir, Seq("id"),
      maxLiveFiles = 20, keepVersions = 10, compactTo = 2)
    assert(!c0 && v0 == 0 && g0 == 0)
    assert(TimeTravel.latestVersion(spark, dir) == 4L)
    // past the cap with a short retention: compact (v5), vacuum the
    // pre-compaction generations, reclaim a planted orphan
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(dir, "v99_0.parquet")
    val out = fs.create(orphan, true); out.write(7); out.close()
    val (c1, v1, g1) = TimeTravel.maintain(spark, dir, Seq("id"),
      maxLiveFiles = 4, keepVersions = 1, compactTo = 2)
    assert(c1 && v1 == 8 && g1 == 1)
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 400L))
    assert(TimeTravel.earliestReadable(spark, dir) == 5L)
  }

  test("reserved-name collisions refuse loudly instead of silently " +
      "destroying a data column") {
    val dir = tmpDir("collide")
    // a table with its own file_name column commits fine (the lineage
    // never reads data columns)…
    TimeTravel.commitAppend(
      spark.range(0L, 20L).select(col("id"),
        concat(lit("f"), col("id")).as("file_name")),
      dir, Seq("id"), files = 1)
    TimeTravel.commitAppend(
      spark.range(20L, 40L).select(col("id"),
        concat(lit("f"), col("id")).as("file_name")),
      dir, Seq("id"), files = 1)
    // …but the feed must refuse, not overwrite it
    val e = intercept[IllegalArgumentException](
      TimeTravel.changeFeedByKey(spark, dir, 1L, 2L, "id").count())
    assert(e.getMessage.contains("collide"))
    // upsert scratch collision
    val dir2 = tmpDir("collide2")
    TimeTravel.commitAppend(
      spark.range(0L, 5L).select(col("id"), lit(1L).as("v")),
      dir2, Seq("id"), files = 1)
    val e2 = intercept[IllegalArgumentException](
      TimeTravel.commitUpsert(spark, dir2, "id",
        spark.range(0L, 2L).select(col("id"), lit("x").as("__FILE")),
        files = 1))
    assert(e2.getMessage.contains("collide"))
    // matview: a key named like a view output column refuses
    val dir3 = tmpDir("collide3")
    TimeTravel.commitAppend(
      spark.range(0L, 5L).select(col("id"), lit(1L).as("n_rows"),
        lit(2L).as("v")),
      dir3, Seq("id"), files = 1)
    val e3 = intercept[IllegalArgumentException](
      graft.sources.MatView.create(spark, dir3, dir3 + "_view",
        Seq("n_rows"), Seq("v")))
    assert(e3.getMessage.contains("collide"))
  }

  test("columnStats equals a data recompute at every version across " +
      "append/delete/upsert/compact/rollback, and never reads data") {
    val dir = tmpDir("stats")
    def expect(v: Long): (Long, Long, Long, Long) = {
      val r = TimeTravel.readAsOf(spark, dir, v)
        .agg(min(col("v")), max(col("v")),
          sum(when(col("v").isNull, 1L).otherwise(0L)), count(lit(1)))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    def got(v: Long): (Long, Long, Long, Long) = {
      val r = TimeTravel.columnStats(spark, dir, v, "v").head()
      (r.getLong(r.fieldIndex("min_v")), r.getLong(r.fieldIndex("max_v")),
        r.getLong(r.fieldIndex("n_nulls")), r.getLong(r.fieldIndex("n_rows")))
    }
    TimeTravel.commitAppend(batch(0), dir, Seq("id", "v"), files = 2)
    TimeTravel.commitAppend(batch(1), dir, Seq("id", "v"), files = 2)
    TimeTravel.commitDelete(spark, dir, "id",
      spark.range(150L, 200L).select(col("id"))) // kills the max
    TimeTravel.commitUpsert(spark, dir, "id",
      spark.range(0L, 3L).select(col("id"), (col("id") % 5).as("grp"),
        lit(-50L).as("v")), files = 1) // new min
    TimeTravel.compact(spark, dir, Seq("id", "v"), files = 2)
    TimeTravel.rollback(spark, dir, 3L)
    (1L to TimeTravel.latestVersion(spark, dir)).foreach { v =>
      assert(got(v) == expect(v), s"stats diverge at version $v")
    }
    // unrecorded column refuses loudly
    val e = intercept[IllegalArgumentException](
      TimeTravel.columnStats(spark, dir, 1L, "grp"))
    assert(e.getMessage.contains("no lineage stats"))
    // an all-null stat column is NOT a refusal: its files contribute
    // null counts, and min/max come from the non-null files
    val dir2 = tmpDir("stats_nulls")
    TimeTravel.commitAppend(
      spark.range(0L, 10L).select(col("id"),
        lit(null).cast("long").as("v")), dir2, Seq("id", "v"), files = 1)
    TimeTravel.commitAppend(
      spark.range(10L, 20L).select(col("id"), (col("id") * 2).as("v")),
      dir2, Seq("id", "v"), files = 1)
    val r2 = TimeTravel.columnStats(spark, dir2, 2L, "v").head()
    assert(r2.getLong(r2.fieldIndex("min_v")) == 20L &&
      r2.getLong(r2.fieldIndex("max_v")) == 38L &&
      r2.getLong(r2.fieldIndex("n_nulls")) == 10L &&
      r2.getLong(r2.fieldIndex("n_rows")) == 20L)
  }

  test("the commit point is a race arbiter: a second segment at the " +
      "same version loses with a typed CommitRaceLost and corrupts " +
      "nothing") {
    val dir = tmpDir("race")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    val live = spark.read.parquet(TimeTravel.lineagePath(dir))
      .select("file_name").collect().map(_.getString(0)).sorted
    // simulate the loser of a two-committer race: the winner's
    // segment_v2 landed; a second appendLineage at v2 must throw and
    // leave exactly ONE segment for v2
    val segA = spark.range(1)
      .select(lit(2L).as("version"), lit("remove").as("action"),
        lit(live(0)).as("file_name"), lit(0L).as("n_rows"))
    TimeTravel.appendLineage(spark, dir, segA, 2L)
    val segB = spark.range(1)
      .select(lit(2L).as("version"), lit("remove").as("action"),
        lit(live(1)).as("file_name"), lit(0L).as("n_rows"))
    val e = intercept[graft.sources.CommitRaceLost](
      TimeTravel.appendLineage(spark, dir, segB, 2L))
    assert(e.getMessage.contains("LOST the race") && e.version == 2L)
    // the winner's commit is intact and the loser published nothing:
    // v2 removed exactly live(0), so the head reads only live(1)'s rows
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    val headRows = TimeTravel.read(spark, dir).count()
    assert(headRows > 0L && headRows < 100L,
      s"v2 must hide exactly the winner's removed file, got $headRows")
    // a retry lands cleanly on the NEXT version
    assert(TimeTravel.commitAppend(batch(1), dir, Seq("id"),
      files = 2) == 3L)
  }

  /** Sets the interleave seam to run `body` exactly once (resetting
    * itself first, so the interleaved commit doesn't recurse). */
  private def interleaving[A](body: => Unit)(run: => A): A = {
    TimeTravel.interleaveForTests = () => {
      TimeTravel.interleaveForTests = () => ()
      body
    }
    try run
    finally TimeTravel.interleaveForTests = () => ()
  }

  test("optimistic appends: two racing disjoint appends BOTH land, at " +
      "v and v+1") {
    batchKinds.foreach { case (kind, batch) =>
      val dir = tmpDir(s"optappend_$kind")
      TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
      // the loser computes v2, then the winner's append lands v2 first
      val v = interleaving {
        assert(TimeTravel.commitAppend(batch(1), dir, Seq("id"),
          files = 2) == 2L)
      } {
        TimeTravel.commitAppend(batch(2), dir, Seq("id"), files = 2)
      }
      assert(v == 3L, s"the out-raced append must retry and land v3, got $v")
      assert(TimeTravel.latestVersion(spark, dir) == 3L)
      assert(ids(TimeTravel.read(spark, dir)) == (0L until 300L))
      // history is clean: v2 holds exactly the winner's rows
      assert(ids(TimeTravel.readAsOf(spark, dir, 2)) == (0L until 200L))
    }
  }

  test("expectedVersion is a pre-commit CAS: a pinned commit refuses " +
      "before staging when the head has moved, never retries past the " +
      "pin, and a stale pin on an upsert leaves the table untouched") {
    import spark.implicits._
    batchKinds.foreach { case (kind, batch) =>
      val dir = tmpDir(s"caspin_$kind")
      TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
      // stale pin on an append: the head lands at 2, the caller pinned 9
      val ap = intercept[graft.sources.CommitRaceLost] {
        TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2,
          expectedVersion = Some(9L))
      }
      assert(ap.getMessage.contains("before staging"))
      // a pinned append that loses the segment race refuses instead of
      // retrying to a version past its pin
      val raced = intercept[graft.sources.CommitRaceLost] {
        interleaving {
          TimeTravel.commitAppend(batch(2), dir, Seq("id"), files = 2): Unit
        } {
          TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2,
            expectedVersion = Some(2L))
        }
      }
      assert(raced.version == 2L)
      // stale pin on an upsert: refused with the version unmoved and the
      // head content intact
      val before = TimeTravel.latestVersion(spark, dir)
      val up = intercept[graft.sources.CommitRaceLost] {
        TimeTravel.commitUpsert(spark, dir, "id",
          Seq((0L, "x")).toDF("id", "payload"), files = 2,
          expectedVersion = Some(before + 7L))
      }
      assert(up.getMessage.contains("before staging"))
      assert(TimeTravel.latestVersion(spark, dir) == before)
      // a correct pin commits exactly there
      assert(TimeTravel.commitUpsert(spark, dir, "id",
        Seq((0L, "x")).toDF("id", "payload"), files = 2,
        expectedVersion = Some(before + 1L)) == before + 1L)
    }
  }

  test("optimistic merges: provably DISJOINT racing merges both land; " +
      "OVERLAPPING merges yield one winner and one loud refusal") {
    import spark.implicits._
    val dir = tmpDir("optmerge")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    // --- disjoint: loser deletes low ids, winner upserts high ids ---
    val v = interleaving {
      assert(TimeTravel.commitUpsert(spark, dir, "id",
        Seq((95L, 9L, -1L), (96L, 9L, -1L)).toDF("id", "grp", "v"),
        files = 1) == 2L)
    } {
      TimeTravel.commitDelete(spark, dir, "id",
        Seq(3L, 4L).toDF("id"))
    }
    assert(v == 3L, s"disjoint merge must retry and land v3, got $v")
    val head = ids(TimeTravel.read(spark, dir))
    assert(!head.contains(3L) && !head.contains(4L) && head.contains(95L))
    // the winner's update survived the loser's recomputed rewrite
    assert(TimeTravel.read(spark, dir).filter(col("id") === 95L)
      .head().getAs[Long]("v") == -1L)
    // --- overlap: both merges touch the same ids → loser refuses ---
    val e = intercept[graft.sources.CommitRaceLost] {
      interleaving {
        assert(TimeTravel.commitUpsert(spark, dir, "id",
          Seq((50L, 0L, -2L)).toDF("id", "grp", "v"), files = 1) == 4L)
      } {
        TimeTravel.commitDelete(spark, dir, "id", Seq(50L).toDF("id"))
      }
    }
    assert(e.getMessage.contains("REFUSED") &&
      e.getMessage.contains("new head"), e.getMessage)
    // the winner's commit stands; the loser published nothing
    assert(TimeTravel.latestVersion(spark, dir) == 4L)
    assert(TimeTravel.read(spark, dir).filter(col("id") === 50L)
      .head().getAs[Long]("v") == -2L)
    // ...and re-deriving against the new head (the remedy) succeeds
    assert(TimeTravel.commitDelete(spark, dir, "id",
      Seq(50L).toDF("id")) == 5L)
    assert(!ids(TimeTravel.read(spark, dir)).contains(50L))
  }

  test("streamChanges is the feed as a streaming query: per-version " +
      "delivery equal to followChanges, cursor in the checkpoint " +
      "across restarts") {
    import spark.implicits._
    val dir = tmpDir("feedstream")
    val cp = tmpDir("feedstream_cp")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    TimeTravel.commitDelete(spark, dir, "id",                    // v3
      Seq(7L, 8L, 107L).toDF("id"))
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val got = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
    val deliveries = new java.util.concurrent.atomic.AtomicInteger(0)
    val deliver: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (df, v) => { got.put(v, canon(df)); deliveries.incrementAndGet(): Unit }
    val q1 = TimeTravel.streamChanges(spark, dir, "id", cp)(deliver)
    q1.processAllAvailable(); q1.stop()
    assert(got.keySet == Set(1L, 2L, 3L) && deliveries.get() == 3)
    // commits land while the stream is DOWN; the restart resumes from
    // the checkpoint cursor and delivers ONLY the missed versions
    TimeTravel.commitUpsert(spark, dir, "id",                    // v4
      Seq((5L, 0L, -9L)).toDF("id", "grp", "v"), files = 1)
    val q2 = TimeTravel.streamChanges(spark, dir, "id", cp)(deliver)
    q2.processAllAvailable(); q2.stop()
    assert(got.keySet == Set(1L, 2L, 3L, 4L) && deliveries.get() == 4,
      "a restart must deliver exactly the missed versions, no replays")
    // feed-as-stream ≡ followChanges: a twin durable-cursor tailer over
    // the same table delivers bit-identical frames per version
    val cursor = new java.io.File(new java.io.File(dir).getParent,
      "twin_cursor").getPath
    val expect = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
    val n = TimeTravel.followChanges(spark, dir, "id", cursor,
      startAfter = 0L)((df, v) => { expect.put(v, canon(df)): Unit })
    assert(n == 4 && got == expect)
    // startAfter bounds the backfill for a consumer bootstrapped from v2
    val late = scala.collection.concurrent.TrieMap.empty[Long, Seq[String]]
    val q3 = TimeTravel.streamChanges(spark, dir, "id",
      tmpDir("feedstream_cp2"), startAfter = 2L)(
      (df, v) => { late.put(v, canon(df)): Unit })
    q3.processAllAvailable(); q3.stop()
    assert(late.keySet == Set(3L, 4L) && late(3L) == expect(3L))
  }

  test("streamChanges maintains the q134 digest index as a STREAMING " +
      "job across restarts: membership equals a fresh build of the head") {
    import spark.implicits._
    val dir = tmpDir("feedidx")
    val idx = dir + "_digest_index"
    val cp = tmpDir("feedidx_cp")
    def body(tag: String) = concat(lit(s"$tag:"), col("id").cast("string"))
    val docs = spark.range(0L, 100L)
      .select(col("id"), body("b").as("body"))
    TimeTravel.commitAppend(docs.filter(col("id") < 50), dir,
      Seq("id"), files = 2)                                       // v1
    TimeTravel.commitAppend(docs.filter(col("id") >= 50), dir,
      Seq("id"), files = 2)                                       // v2
    // the index reflects v2's snapshot; the stream tails from there
    graft.operators.Dedup.saveDigestIndex(
      TimeTravel.readAsOf(spark, dir, 2L), idx, "body")
    val maintain: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (f, _) => {
        // q134's recipe: tombstone pre-images, append post-images
        graft.operators.Dedup.deleteFromDigestIndex(
          f.filter(col("change").isin("deleted", "updated"))
            .select(col("pre.body").as("body")), idx, "body")
        graft.operators.Dedup.appendDigestIndex(
          f.filter(col("change").isin("inserted", "updated"))
            .select(col("body")), idx, "body")
      }
    TimeTravel.commitDelete(spark, dir, "id",                     // v3
      Seq(3L, 44L, 91L).toDF("id"))
    val q1 = TimeTravel.streamChanges(spark, dir, "id", cp,
      startAfter = 2L)(maintain)
    q1.processAllAvailable(); q1.stop()
    // mutations land while the maintenance job is DOWN
    val updated = spark.range(10L, 20L)
      .select(col("id"), body("u").as("body"))
    val inserted = spark.range(200L, 210L)
      .select(col("id"), body("n").as("body"))
    TimeTravel.commitUpsert(spark, dir, "id",                     // v4
      updated.unionByName(inserted), files = 2)
    val q2 = TimeTravel.streamChanges(spark, dir, "id", cp,
      startAfter = 2L)(maintain)
    q2.processAllAvailable(); q2.stop()
    // the streamed index's membership == a fresh build of the head
    val streamed = graft.operators.Dedup.loadDigestIndex(spark, idx)
      .select(col("digest")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val fresh = TimeTravel.read(spark, dir)
      .select(md5(col("body")).as("digest")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(streamed == fresh,
      s"streamed index has ${streamed.size} digests, head has ${fresh.size}")
  }

  test("compactSmall bin-packs ONLY sub-target files, leaves big " +
      "files alone, changes no read, and no-ops below minInputFiles") {
    // the big generation grows ×1/×4/×10 under a constant dribble: the
    // pack reads the same records at every scale — its cost tracks the
    // small bytes, never the table
    val reads = Seq(1, 4, 10).map(compactSmallAtScale)
    assert(reads.distinct.size == 1,
      s"compactSmall read ${reads.mkString("/")} records at x1/x4/x10")
  }

  /** Runs the compactSmall scenario over a big generation of 5000 ×
    * `scale` rows; returns the records compactSmall read. */
  private def compactSmallAtScale(scale: Int): Long = {
    val dir = tmpDir(s"compactsmall_x$scale")
    val big = 5000L * scale
    // one BIG generation (5000 × scale rows in one file), then
    // streaming-style dribble: four tiny single-file commits
    TimeTravel.commitAppend(
      spark.range(0L, big).select(col("id"), (col("id") % 5).as("grp"),
        (col("id") * 3).as("v")), dir, Seq("id"), files = 1)      // v1
    (0 until 4).foreach { i =>
      TimeTravel.commitAppend(
        spark.range(big + i * 10, big + 10 + i * 10)
          .select(col("id"), (col("id") % 5).as("grp"),
            (col("id") * 3).as("v")),
        dir, Seq("id"), files = 1)                                // v2..v5
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lineage = spark.read.parquet(TimeTravel.lineagePath(dir))
    val bigFile = lineage.filter(col("version") === 1L)
      .select("file_name").head().getString(0)
    val bigLen = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$dir/$bigFile")).getLen
    val before = (1L to 5L).map(v =>
      ids(TimeTravel.readAsOf(spark, dir, v)))
    // target sized between the tiny files and the big one
    var v6 = -1L
    val read = readDuring {
      v6 = TimeTravel.compactSmall(spark, dir, Seq("id"),
        targetBytes = bigLen)
    }
    assert(v6 == 6L)
    // one pass over the dribble's 40 rows (the write: the z-bounds
    // come from the lineage stats), none over the big file's rows
    assert(read.records <= 40L, s"x$scale: compactSmall read " +
      s"${read.records} records; the dribble holds 40 (big: $big)")
    // every historical read and the head are bit-identical
    (1L to 5L).foreach(v =>
      assert(ids(TimeTravel.readAsOf(spark, dir, v)) == before((v - 1).toInt)))
    assert(ids(TimeTravel.readAsOf(spark, dir, 6L)) == before(4))
    // the big file survived untouched; the four tiny files packed to one
    val l2 = spark.read.parquet(TimeTravel.lineagePath(dir))
    val removed = l2.filter(col("version") === 6L &&
        col("action") === "remove")
      .select("file_name").collect().map(_.getString(0)).toSet
    assert(!removed.contains(bigFile) && removed.size == 4)
    assert(l2.filter(col("version") === 6L && col("action") === "add")
      .count() == 1L)
    // idempotent hygiene: one packed file + one big file left → no-op
    assert(TimeTravel.compactSmall(spark, dir, Seq("id"),
      targetBytes = bigLen) == 6L)
    assert(TimeTravel.latestVersion(spark, dir) == 6L)
    // the SQL face drives the same no-op from SQL text alone
    GraftExtensions.register(spark)
    val r = spark.sql(
      s"SELECT * FROM graft_tt_compact_small('$dir', 'id', $bigLen)")
      .head()
    assert(r.getLong(r.fieldIndex("version")) == 6L)
    read.records
  }

  test("compaction takes integral and date z-bounds from the lineage " +
      "stats: the same files, history and head rows as the aggregate " +
      "probe, and one read of the rewritten rows instead of two") {
    // long and date dims; an all-null date file and a partly-null one
    def build(dir: String): Unit = {
      def batch(from: Long, n: Long, d: Column) =
        spark.range(from, from + n).select(col("id"),
          (col("id") % 3).cast("int").as("grp"), d.as("d"))
      val day = date_add(lit("2024-01-01").cast("date"),
        (col("id") % 40).cast("int"))
      TimeTravel.commitAppend(batch(0L, 30L, day), dir, Seq("id", "d"),
        files = 2)
      TimeTravel.commitAppend(batch(30L, 10L, lit(null).cast("date")), dir,
        Seq("id", "d"), files = 1)
      TimeTravel.commitAppend(batch(40L, 10L,
        when(col("id") % 2 === 0, day)), dir, Seq("id", "d"), files = 1)
    }
    def run(fromLineage: Boolean) = {
      val dir = tmpDir(s"zbounds_$fromLineage")
      build(dir)
      TimeTravel.lineageBoundsForTests = fromLineage
      var v = -1L
      val read = try readDuring {
        v = TimeTravel.compactSmall(spark, dir, Seq("id", "d"),
          targetBytes = 1L << 30)
      } finally TimeTravel.lineageBoundsForTests = true
      assert(v == 4L)
      val added = spark.read.parquet(TimeTravel.lineagePath(dir))
        .filter(col("version") === v && col("action") === "add")
        .select("file_name").as[String].collect().sorted.toSeq
      // each packed file's rows in physical order
      val files = added.map(f => spark.read.parquet(s"$dir/$f").collect()
        .map(_.toSeq).toSeq)
      val history = TimeTravel.history(spark, dir).drop("commit_ts")
        .collect().toSeq
      val head = TimeTravel.readAsOf(spark, dir, v).collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      (files, history, head, read.records)
    }
    val (aggFiles, aggHistory, aggHead, aggRead) = run(fromLineage = false)
    val (linFiles, linHistory, linHead, linRead) = run(fromLineage = true)
    assert(linFiles.nonEmpty && linFiles == aggFiles)
    assert(linHistory == aggHistory)
    assert(linHead.size == 50 && linHead == aggHead)
    assert(aggRead == 2 * 50L && linRead == 50L, s"$aggRead / $linRead")
  }

  test("replicate maintains a LAKE REPLICA from the feed alone across " +
      "a randomized op sequence, a mid-sequence restart, and a schema " +
      "evolution — replica content == source head") {
    val src = tmpDir("replsrc")
    val dst = tmpDir("repldst")
    val cp = tmpDir("repl_cp")
    val rnd = new scala.util.Random(29)
    var nextId = 0L
    def freshRows(n: Int) = {
      val rows = spark.range(nextId, nextId + n)
        .select(col("id"), (col("id") % 5).as("grp"),
          (col("id") * 3).as("v"))
      nextId += n
      rows
    }
    def mutate(): Unit = rnd.nextInt(4) match {
      case 0 => TimeTravel.commitAppend(freshRows(40), src, Seq("id"),
        files = 2): Unit
      case 1 => TimeTravel.commitDelete(spark, src, "id",
        spark.range(0L, nextId)
          .filter(col("id") % 11 === rnd.nextInt(11).toLong)
          .select(col("id"))): Unit
      case 2 =>
        val salt = rnd.nextInt(1000).toLong
        TimeTravel.commitUpsert(spark, src, "id",
          spark.range(0L, nextId)
            .filter(col("id") % 7 === rnd.nextInt(7).toLong)
            .select(col("id"), (col("id") % 5).as("grp"),
              (col("id") + salt).as("v")), files = 2): Unit
      case 3 => TimeTravel.compact(spark, src, Seq("id"), files = 3): Unit
    }
    TimeTravel.commitAppend(freshRows(80), src, Seq("id"), files = 2)
    (1 to 5).foreach(_ => mutate())
    // first replication run, bootstrapping the replica from NOTHING
    val q1 = TimeTravel.replicate(spark, src, dst, "id", cp)
    q1.processAllAvailable(); q1.stop()
    // source keeps moving while the replica is down — including a
    // SCHEMA EVOLUTION commit (new column w)
    (1 to 4).foreach(_ => mutate())
    TimeTravel.commitAppend(
      freshRows(30).withColumn("w", col("id") * 7), src, Seq("id"),
      files = 2)
    val q2 = TimeTravel.replicate(spark, src, dst, "id", cp)
    q2.processAllAvailable(); q2.stop()
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    }
    val srcHead = TimeTravel.read(spark, src)
    val dstHead = TimeTravel.read(spark, dst)
    assert(srcHead.columns.sorted.toSeq == dstHead.columns.sorted.toSeq,
      s"schema drift: ${srcHead.columns.toSeq} vs ${dstHead.columns.toSeq}")
    assert(canon(srcHead) == canon(dstHead))
    // a rerun over the same checkpoint re-delivers nothing and the
    // replica's version does not move (idempotence receipt)
    val before = TimeTravel.latestVersion(spark, dst)
    val q3 = TimeTravel.replicate(spark, src, dst, "id", cp)
    q3.processAllAvailable(); q3.stop()
    assert(TimeTravel.latestVersion(spark, dst) == before)
  }

  test("timestamp time travel: versionAt/readAsOfTimestamp map instants " +
      "to versions, and vacuumOlderThan retains by wall clock") {
    val dir = tmpDir("tsread")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    TimeTravel.compact(spark, dir, Seq("id"), files = 1)         // v3
    TimeTravel.commitAppend(batch(2), dir, Seq("id"), files = 2) // v4
    val h = TimeTravel.history(spark, dir).collect()
      .map(r => r.getLong(r.fieldIndex("version")) ->
        r.getLong(r.fieldIndex("commit_ts"))).toMap
    // commit timestamps are nondecreasing (each commit takes >> 1 ms,
    // so strictly increasing in practice)
    assert((1L to 3L).forall(v => h(v) <= h(v + 1)))
    assert(TimeTravel.versionAt(spark, dir, h(2L)) == 2L)
    assert(TimeTravel.versionAt(spark, dir, (h(2L) + h(3L)) / 2) == 2L)
    assert(TimeTravel.versionAt(spark, dir, h(4L) + 60000L) == 4L)
    assert(ids(TimeTravel.readAsOfTimestamp(spark, dir, h(2L))) ==
      (0L until 200L))
    // an instant before the table existed refuses loudly
    val e = intercept[IllegalArgumentException](
      TimeTravel.versionAt(spark, dir, h(1L) - 1L))
    assert(e.getMessage.contains("predates"))
    // time-based retention: keep the window starting at v3's instant —
    // the four files the compaction removed at v3 reclaim, nothing else
    val reclaimed = TimeTravel.vacuumOlderThan(spark, dir,
      retainMillis = h(4L) - h(3L), nowMillis = h(4L))
    assert(reclaimed == 4, s"expected the 4 compacted files, got $reclaimed")
    assert(TimeTravel.earliestReadable(spark, dir) == 3L)
    intercept[IllegalArgumentException](TimeTravel.readAsOf(spark, dir, 2L))
    assert(ids(TimeTravel.readAsOf(spark, dir, 3L)) == (0L until 200L))
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 300L))
    // already covered: a second pass reclaims nothing
    assert(TimeTravel.vacuumOlderThan(spark, dir,
      retainMillis = h(4L) - h(3L), nowMillis = h(4L)) == 0)
  }

  test("commit-time CHECK constraints: violating batches refuse before " +
      "staging naming rule and count; schema drift against a rule " +
      "refuses; the SQL faces manage the set") {
    val dir = tmpDir("constraints")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.setConstraints(spark, dir, Seq(
      "nonneg_v" -> "v >= 0", "grp_range" -> "grp BETWEEN 0 AND 4"))
    // a clean batch commits
    assert(TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) == 2L)
    // a dirty batch refuses BEFORE staging: version unmoved, no orphans
    val dirty = batch(2).withColumn("v",
      when(col("id") % 10 === 0, -col("v")).otherwise(col("v")))
    val e = intercept[IllegalArgumentException](
      TimeTravel.commitAppend(dirty, dir, Seq("id"), files = 2))
    assert(e.getMessage.contains("nonneg_v") &&
      e.getMessage.contains("10 of 100"), e.getMessage)
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    assert(TimeTravel.gcOrphans(spark, dir) == 0,
      "refusal must fire before any staging")
    // the upsert path is gated too (null predicate = violation)
    import spark.implicits._
    val e2 = intercept[IllegalArgumentException](
      TimeTravel.commitUpsert(spark, dir, "id",
        Seq((5L, 2L, Option.empty[Long])).toDF("id", "grp", "v"),
        files = 1))
    assert(e2.getMessage.contains("nonneg_v"))
    // a batch missing a constrained column is schema drift — refused
    val e3 = intercept[IllegalArgumentException](
      TimeTravel.commitAppend(batch(2).drop("v"), dir, Seq("id"),
        files = 2))
    assert(e3.getMessage.contains("does not resolve"))
    // SQL faces: tighten, list, lift; enforcement follows the set
    GraftExtensions.register(spark)
    spark.sql(s"SELECT * FROM graft_tt_constrain('$dir', 'cap_v', " +
      "'v < 600')").collect()
    assert(spark.sql(s"SELECT * FROM graft_tt_constraints('$dir')")
      .count() == 3L)
    val e4 = intercept[Exception](
      TimeTravel.commitAppend(batch(2), dir, Seq("id"), files = 2))
    assert(e4.getMessage.contains("cap_v")) // ids 200.. → v = id*3 >= 600
    spark.sql(s"SELECT * FROM graft_tt_unconstrain('$dir', 'cap_v')")
      .collect()
    assert(TimeTravel.commitAppend(batch(2), dir, Seq("id"),
      files = 2) == 3L)
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 300L))
  }

  test("maintainBySize is the streaming lake's tick: size-aware pack + " +
      "time retention + GC, each stage no-op-safe") {
    val dir = tmpDir("maintsize")
    TimeTravel.commitAppend(
      spark.range(0L, 5000L).select(col("id"), (col("id") % 5).as("grp"),
        (col("id") * 3).as("v")), dir, Seq("id"), files = 1)      // v1 big
    (0 until 3).foreach { i =>
      TimeTravel.commitAppend(
        spark.range(5000L + i * 10, 5010L + i * 10)
          .select(col("id"), (col("id") % 5).as("grp"),
            (col("id") * 3).as("v")),
        dir, Seq("id"), files = 1)                                // v2..v4
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigLen = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(_.getLen).max
    // tick 1: packs the three dribble files; retention window covers
    // everything (far future retain), so nothing vacuums
    val h4 = TimeTravel.history(spark, dir)
      .agg(max(col("commit_ts"))).head().getLong(0)
    val (p1, v1, g1) = TimeTravel.maintainBySize(spark, dir, Seq("id"),
      targetBytes = bigLen, retainMillis = 3600000L, nowMillis = h4)
    assert((p1, v1, g1) == ((3, 0, 0)), s"got ($p1, $v1, $g1)")
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 5030L))
    // tick 2, nothing changed: every stage no-ops
    assert(TimeTravel.maintainBySize(spark, dir, Seq("id"),
      targetBytes = bigLen, retainMillis = 3600000L,
      nowMillis = h4) == ((0, 0, 0)))
    // tick 3 with a zero-width retention window anchored after the
    // pack: the three packed-away originals reclaim
    val h5 = TimeTravel.history(spark, dir)
      .agg(max(col("commit_ts"))).head().getLong(0)
    val (p3, v3, g3) = TimeTravel.maintainBySize(spark, dir, Seq("id"),
      targetBytes = bigLen, retainMillis = 0L, nowMillis = h5)
    assert((p3, v3, g3) == ((0, 3, 0)), s"got ($p3, $v3, $g3)")
    assert(ids(TimeTravel.read(spark, dir)) == (0L until 5030L))
    // the SQL face returns the same receipt shape
    GraftExtensions.register(spark)
    val r = spark.sql(s"SELECT * FROM graft_tt_maintain_size('$dir', " +
      s"'id', $bigLen, 3600000)").head()
    assert(r.getInt(r.fieldIndex("small_files_packed")) == 0 &&
      r.getInt(r.fieldIndex("files_vacuumed")) == 0)
  }

  test("describeTable and vacuumPreview: the ops summary is exact and " +
      "the dry run names exactly what vacuum then reclaims") {
    val dir = tmpDir("describe")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    TimeTravel.compact(spark, dir, Seq("id"), files = 1)         // v3
    TimeTravel.setConstraints(spark, dir, Seq("nonneg" -> "v >= 0"))
    val d = TimeTravel.describeTable(spark, dir).head()
    assert(d.getLong(d.fieldIndex("head_version")) == 3L)
    assert(d.getLong(d.fieldIndex("earliest_readable")) == 1L)
    assert(d.getInt(d.fieldIndex("n_live_files")) == 1)
    assert(d.getLong(d.fieldIndex("n_rows")) == 200L)
    assert(d.getInt(d.fieldIndex("n_constraints")) == 1)
    assert(d.getLong(d.fieldIndex("live_bytes")) > 0L)
    assert(d.getLong(d.fieldIndex("first_commit_ts")) <=
      d.getLong(d.fieldIndex("last_commit_ts")))
    // dry run: the four compacted-away files, with the removing version
    val pv = TimeTravel.vacuumPreview(spark, dir, keepFrom = 3L).collect()
    assert(pv.length == 4 && pv.forall(_.getLong(1) == 3L))
    // zero side effects: everything still reads
    assert(ids(TimeTravel.readAsOf(spark, dir, 1L)) == (0L until 100L))
    // the preview is exactly what vacuum reclaims
    assert(TimeTravel.vacuum(spark, dir, keepFrom = 3L) == 4)
    assert(TimeTravel.vacuumPreview(spark, dir, keepFrom = 3L).isEmpty)
    // SQL faces
    GraftExtensions.register(spark)
    assert(spark.sql(s"SELECT * FROM graft_tt_describe('$dir')")
      .head().getLong(1) == 4L) // head moved to 4 (the vacuum action)
    assert(spark.sql(
      s"SELECT * FROM graft_tt_vacuum_preview('$dir', 3)").count() == 0L)
  }

  test("gcOrphans reclaims unreferenced files and staging residue, " +
      "never referenced history") {
    val dir = tmpDir("gc")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.compact(spark, dir, Seq("id"), files = 1) // v2 removes v1's
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant orphans: a stranded data file (a crashed promotion) and a
    // staging dir (a crashed attempt)
    val orphan = new org.apache.hadoop.fs.Path(dir, "v9_0.parquet")
    val out = fs.create(orphan, true)
    out.write(Array[Byte](1, 2, 3)); out.close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "_staging_v9"))
    val before = (1L to 2L).map(v =>
      ids(TimeTravel.readAsOf(spark, dir, v)))
    assert(TimeTravel.gcOrphans(spark, dir) == 1)
    assert(!fs.exists(orphan))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + "_staging_v9")))
    // referenced files — including v1's logically-removed history —
    // survive: every as-of read is bit-identical
    (1L to 2L).foreach(v => assert(
      ids(TimeTravel.readAsOf(spark, dir, v)) == before((v - 1).toInt)))
    // idempotent
    assert(TimeTravel.gcOrphans(spark, dir) == 0)
  }

  test("changeFeedByKey refuses ranges behind the vacuum floor and " +
      "feeds empty over metadata-only spans") {
    val dir = tmpDir("feed_vacuum")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.compact(spark, dir, Seq("id"), files = 1)         // v2
    TimeTravel.vacuum(spark, dir, keepFrom = 2L) // v3; v1's files gone
    assert(TimeTravel.earliestReadable(spark, dir) == 2L)
    intercept[IllegalArgumentException](
      TimeTravel.changeFeedByKey(spark, dir, 1L, 2L, "id"))
    // (2, 3] holds only the vacuum action — an empty, well-typed feed
    val f = TimeTravel.changeFeedByKey(spark, dir, 2L, 3L, "id")
    assert(f.count() == 0L)
    assert(f.columns.toSeq == Seq("version", "id", "change"))
  }

  test("type widening: a wider batch evolves the column, reads across " +
      "the boundary decode narrow files under the widened target, and " +
      "as-of reads BEFORE the boundary keep the narrow type") {
    val dir = tmpDir("widen")
    def narrow(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id"),
        (col("id") % 100).cast("int").as("x"),
        (col("id") * 2).cast("float").as("f"))
    TimeTravel.commitAppend(narrow(0L, 50L), dir, Seq("id"), files = 2) // v1
    // v2 widens x: int→long and f: float→double
    val wide = spark.range(50L, 80L)
      .select(col("id"),
        (col("id") % 100 + 3000000000L).as("x"),
        (col("id") * 2).cast("double").as("f"))
    assert(TimeTravel.commitAppend(wide, dir, Seq("id"), files = 2) == 2L)
    val head = TimeTravel.read(spark, dir)
    assert(head.schema("x").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(head.schema("f").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // values from the NARROW files read exactly under the wide target
    assert(head.filter(col("id") === 7L).select(col("x"), col("f"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((7L, 14.0)))
    assert(head.filter(col("x") >= 3000000000L).count() == 30L)
    // as-of BEFORE the boundary: only narrow files, narrow type
    val v1 = TimeTravel.readAsOf(spark, dir, 1L)
    assert(v1.schema("x").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // an upsert whose matched files span the boundary still works
    // (survivor reads use the widened target)
    val up = spark.range(7L, 8L).select(col("id"),
      lit(999999999999L).as("x"), lit(1.5d).as("f"))
    assert(TimeTravel.commitUpsert(spark, dir, "id", up, files = 2) == 3L)
    assert(TimeTravel.read(spark, dir)
      .filter(col("id") === 7L).select(col("x"))
      .head().getLong(0) == 999999999999L)
    // compaction reads wide and homogenizes; every as-of read survives
    assert(TimeTravel.compact(spark, dir, Seq("id"), files = 2) == 4L)
    assert(TimeTravel.read(spark, dir).count() == 80L)
    assert(TimeTravel.readAsOf(spark, dir, 1L).count() == 50L)
  }

  test("type widening: NARROWING and incomparable batches refuse " +
      "loudly at commit time with nothing committed") {
    val dir = tmpDir("narrow")
    val wide = spark.range(0L, 10L)
      .select(col("id"), (col("id") + 3000000000L).as("x"))
    TimeTravel.commitAppend(wide, dir, Seq("id"), files = 1) // v1: x long
    val narrowBatch = spark.range(10L, 20L)
      .select(col("id"), col("id").cast("int").as("x"))
    val e = intercept[IllegalArgumentException] {
      TimeTravel.commitAppend(narrowBatch, dir, Seq("id"), files = 1)
    }
    assert(e.getMessage.contains("narrowing") &&
      e.getMessage.contains("'x'"))
    val alien = spark.range(10L, 20L)
      .select(col("id"), col("id").cast("string").as("x"))
    val e2 = intercept[IllegalArgumentException] {
      TimeTravel.commitAppend(alien, dir, Seq("id"), files = 1)
    }
    assert(e2.getMessage.contains("widening lattice"))
    // the upsert face shares the guard
    intercept[IllegalArgumentException] {
      TimeTravel.commitUpsert(spark, dir, "id",
        narrowBatch.limit(1), files = 1)
    }
    assert(TimeTravel.latestVersion(spark, dir) == 1L)
    assert(TimeTravel.read(spark, dir).count() == 10L)
  }

  test("type widening: the change feed crosses the boundary (post- and " +
      "pre-images under the widened target) and a replica maintained " +
      "from the feed alone matches the widened source head") {
    val (src, dst) = (tmpDir("widensrc"), tmpDir("widendst"))
    val narrow = spark.range(0L, 20L)
      .select(col("id"), (col("id") % 7).cast("int").as("x"))
    TimeTravel.commitAppend(narrow, src, Seq("id"), files = 1) // v1
    val wide = spark.range(5L, 10L)
      .select(col("id"), (col("id") + 4000000000L).as("x"))
    TimeTravel.commitUpsert(spark, src, "id", wide, files = 1) // v2
    TimeTravel.commitDelete(spark, src, "id",
      Seq(0L, 19L).toDF("id")) // v3
    // the feed across (0, 3] never throws on mixed-width files and its
    // post-images carry the widened type
    val feed = TimeTravel.changeFeed(spark, src, 0L, 3L, "id")
    assert(feed.schema("x").dataType ==
      org.apache.spark.sql.types.LongType)
    // replica from the feed alone == the widened source head
    (1L to 3L).foreach(v => TimeTravel.applyFeedVersion(spark, dst, "id",
      TimeTravel.changeFeed(spark, src, v - 1, v, "id"), v, files = 1))
    val s = TimeTravel.read(spark, src).select(col("id"), col("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d = TimeTravel.read(spark, dst).select(col("id"), col("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(s == d && s.size == 18)
    assert(d.exists(_._2 > 4000000000L))
  }

  test("lineage checkpoint folds the log: every as-of read identical " +
      "across the fold, vacuumLineage reclaims folded segments, and " +
      "commits continue past it") {
    val dir = tmpDir("ckptfold")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
    TimeTravel.commitAppend(batch(1), dir, Seq("id"), files = 2) // v2
    TimeTravel.commitDelete(spark, dir, "id",
      spark.range(0L, 200L).filter(col("id") % 10 === 7)
        .select(col("id"))) // v3
    TimeTravel.commitUpsert(spark, dir, "id",
      spark.range(5L, 8L).select(col("id"), lit(0L).as("grp"),
        lit(-1L).as("v")), files = 1) // v4
    val before = (1L to 4L).map(v => ids(TimeTravel.readAsOf(spark, dir, v)))
    val hBefore = TimeTravel.history(spark, dir).collect().map(_.toSeq).toSeq
    assert(TimeTravel.checkpointLineage(spark, dir) == 4L)
    assert(TimeTravel.checkpointLineage(spark, dir) == 4L) // idempotent
    assert((1L to 4L).map(v =>
      ids(TimeTravel.readAsOf(spark, dir, v))) == before)
    // reclaiming the folded segments changes NOTHING a reader sees
    // (4 commit segments fold; the checkpoint carries their rows)
    assert(TimeTravel.vacuumLineage(spark, dir, graceMillis = 0) == 4)
    assert((1L to 4L).map(v =>
      ids(TimeTravel.readAsOf(spark, dir, v))) == before)
    assert(TimeTravel.history(spark, dir).collect().map(_.toSeq).toSeq
      == hBefore)
    assert(TimeTravel.latestVersion(spark, dir) == 4L)
    // life continues past the fold: commits, reads, a re-fold
    assert(TimeTravel.commitAppend(batch(2), dir, Seq("id"),
      files = 2) == 5L)
    assert(ids(TimeTravel.readAsOf(spark, dir, 5L)).size ==
      before.last.size + 100)
    assert(TimeTravel.checkpointLineage(spark, dir) == 5L)
    assert(TimeTravel.vacuumLineage(spark, dir, graceMillis = 0) == 2) // seg_v5 + ckpt_v4
    assert(ids(TimeTravel.readAsOf(spark, dir, 1L)) == before.head)
    // the SQL faces drive the same fold + reclaim from text
    GraftExtensions.register(spark)
    TimeTravel.commitAppend(batch(3), dir, Seq("id"), files = 1) // v6
    assert(spark.sql(s"SELECT * FROM graft_tt_checkpoint('$dir')")
      .head().getLong(1) == 6L)
    assert(spark.sql(s"SELECT * FROM graft_tt_vacuum_lineage('$dir', 0)")
      .head().getInt(1) == 2) // segment_v6 + ckpt_v5
    assert(ids(TimeTravel.readAsOf(spark, dir, 6L)).size ==
      before.last.size + 200)
    assert(ids(TimeTravel.readAsOf(spark, dir, 1L)) == before.head)
  }

  test("checkpoint fold truncates vacuumed-floor history: driver " +
      "snapshot flat under churn at fixed live files, retained-window " +
      "reads and the floor unchanged, truncated replay ids still absorb") {
    val dir = tmpDir("ckpttrunc")
    // a commit whose ledger record CRASHES: its replay guarantee rides
    // only its lineage batch stamp — the row the fold will truncate
    TimeTravel.crashForTests = b =>
      if (b == "ledger") { TimeTravel.crashForTests = _ => ()
        throw new RuntimeException("crash: ledger") }
    intercept[RuntimeException] {
      TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 1,
        batchId = Some("orphan_batch"))
    }
    assert(TimeTravel.latestVersion(spark, dir) == 1L) // commit IS durable
    def upsertAll(tag: Long): Long = TimeTravel.commitUpsert(spark, dir,
      "id", spark.range(0L, 100L).select(col("id"),
        (col("id") % 5).as("grp"), (col("id") * 3 + tag).as("v")),
      files = 2)
    upsertAll(1) // v2: removes v1's file, adds 2 new
    assert(TimeTravel.vacuum(spark, dir, 2L) == 1) // v3: v1's file gone
    // churn epochs at FIXED live-file count: each upsert rewrites both
    // files, vacuum reclaims, the fold truncates — snapshot must not
    // grow with epochs
    def epoch(i: Int): (Int, Long) = {
      upsertAll(i + 10L)
      TimeTravel.vacuum(spark, dir, TimeTravel.latestVersion(spark, dir))
      TimeTravel.checkpointLineage(spark, dir)
      TimeTravel.vacuumLineage(spark, dir, graceMillis = 0)
      TimeTravel.lineageSnapshotSize(spark, dir)
    }
    val sizes = (0 until 6).map(epoch)
    val floor = TimeTravel.earliestReadable(spark, dir)
    val head = TimeTravel.latestVersion(spark, dir)
    // flat-in-epochs: rows bounded by a constant (live files + dead-not-
    // yet-vacuumed tail + witnesses), never accumulating per epoch
    assert(sizes.last._1 <= sizes.head._1,
      s"snapshot rows grew under churn: ${sizes.map(_._1)}")
    // the fold preserved the floor and the retained window exactly
    assert(floor > 2L && head > floor)
    val atHead = ids(TimeTravel.readAsOf(spark, dir, head))
    assert(atHead == (0L until 100L))
    assert(ids(TimeTravel.readAsOf(spark, dir, floor)) == (0L until 100L))
    intercept[IllegalArgumentException] {
      TimeTravel.readAsOf(spark, dir, floor - 1)
    }
    // the truncated commit's batch id MOVED to the ledger: its replay
    // is still an exact no-op even though its lineage rows are gone
    val l = TimeTravel.readLineage(spark, dir)
    assert(l.filter(col("batch_id") === "orphan_batch").count() == 0L,
      "the orphan batch's rows should be truncated out of the fold")
    assert(TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 1,
      batchId = Some("orphan_batch")) == head)
    assert(TimeTravel.read(spark, dir).count() == 100L)
    // schema resolution still answers from a stamp (no regression to a
    // legacy fold) and commits keep flowing
    assert(TimeTravel.schemaResolution(spark, dir) == "stamped")
    assert(TimeTravel.commitAppend(batch(3), dir, Seq("id"),
      files = 1) == head + 1)
    assert(TimeTravel.read(spark, dir).count() == 200L)
  }

  test("vacuumLineage is age-gated against cross-process readers: a " +
      "fresh checkpoint reclaims nothing under the default grace; an " +
      "aged checkpoint, grace 0, or the attestation reclaims") {
    val dir = tmpDir("vlgrace")
    (0 to 2).foreach(b =>
      TimeTravel.commitAppend(batch(b), dir, Seq("id"), files = 1))
    assert(TimeTravel.checkpointLineage(spark, dir) == 3L)
    // default grace (15 min), checkpoint seconds old: nothing reclaimed
    assert(TimeTravel.vacuumLineage(spark, dir) == 0)
    // a reader that listed before the checkpoint existed can still be
    // mid-read; once the checkpoint has aged past the grace, it cannot
    assert(TimeTravel.vacuumLineage(spark, dir,
      nowMillis = System.currentTimeMillis() + 16L * 60 * 1000) == 3)
    TimeTravel.commitAppend(batch(3), dir, Seq("id"), files = 1) // v4
    assert(TimeTravel.checkpointLineage(spark, dir) == 4L)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setBoolean(TimeTravel.singleMaintainerKey, true)
    try assert(TimeTravel.vacuumLineage(spark, dir) == 2) // seg4 + ckpt3
    finally hconf.unset(TimeTravel.singleMaintainerKey)
    assert(ids(TimeTravel.readAsOf(spark, dir, 1L)) == (0L until 100L))
  }

  test("multi-writer storm on one table: appends, merges, deletes, and " +
      "maintenance racing across threads yield dense versions, zero " +
      "lost commits, atomic merges, readable as-ofs, and a duplicate-" +
      "free folded log") {
    val dir = tmpDir("storm")
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setInt(TimeTravel.checkpointIntervalKey, 8) // folds DURING it
    try {
      TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val appended = new java.util.concurrent.ConcurrentLinkedQueue[Long]
      val rnd = new java.util.Random(7)
      def op(body: => Unit): Unit = {
        var attempts = 0
        var done = false
        while (!done) {
          try { body; done = true }
          catch {
            case _: graft.sources.CommitRaceLost if attempts < 60 =>
              attempts += 1
              Thread.sleep(5 + rnd.nextInt(40).toLong)
            case scala.util.control.NonFatal(e) =>
              failures.add(e); done = true
          }
        }
      }
      // 3 appenders (distinct id ranges), 2 mergers (disjoint key
      // halves of the seed), 1 deleter (kills its own appends), 1
      // maintainer (explicit folds + grace-0 reclaims). gcOrphans is
      // NOT in the storm: its documented contract is quiesced-only (a
      // just-promoted, not-yet-committed file is indistinguishable
      // from an orphan) — it runs after the barrier instead.
      val threads =
        (0 until 3).map { t =>
          new Thread(() => (0 until 5).foreach { i =>
            val base = 100000L * (t + 1) + i * 100L
            op {
              TimeTravel.commitAppend(
                spark.range(base, base + 50L).select(col("id"),
                  (col("id") % 5).as("grp"), lit(0L).as("v")),
                dir, Seq("id"), files = 1,
                batchId = Some(s"storm_a${t}_$i")): Unit
              appended.add(base)
            }
          })
        } ++ (0 until 2).map { t =>
          new Thread(() => (0 until 4).foreach { i =>
            op {
              TimeTravel.commitUpsert(spark, dir, "id",
                spark.range(t * 50L, t * 50L + 50L).select(col("id"),
                  (col("id") % 5).as("grp"),
                  lit(t * 1000L + i).as("v")), files = 1): Unit
            }
          })
        } ++ Seq(
          new Thread(() => (0 until 3).foreach { i =>
            val base = 900000L + i * 100L
            op {
              TimeTravel.commitAppend(
                spark.range(base, base + 30L).select(col("id"),
                  (col("id") % 5).as("grp"), lit(0L).as("v")),
                dir, Seq("id"), files = 1): Unit
            }
            op {
              TimeTravel.commitDelete(spark, dir, "id",
                spark.range(base, base + 30L).select(col("id"))): Unit
            }
          }),
          new Thread(() => (0 until 4).foreach { _ =>
            try {
              TimeTravel.checkpointLineage(spark, dir): Unit
              TimeTravel.vacuumLineage(spark, dir, graceMillis = 0): Unit
            } catch {
              case scala.util.control.NonFatal(e) => failures.add(e)
            }
            Thread.sleep(150)
          }))
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
      assert(failures.isEmpty,
        s"storm surfaced non-race failures: ${failures.peek()}")
      val head = TimeTravel.latestVersion(spark, dir)
      val l = TimeTravel.readLineage(spark, dir)
      // versions dense: the create-if-absent segment birth arbitrates
      // every race — no gaps, no shared versions
      val versions = l.select(col("version")).distinct()
        .collect().map(_.getLong(0)).sorted
      assert(versions.toSeq == (1L to head),
        s"versions not dense: ${versions.mkString(",")}")
      // the fold never duplicated an action row (the r16 ADVICE race:
      // a checkpoint embedding a segment that stays effective)
      assert(l.count() ==
        l.select(col("version"), col("action"), col("file_name"))
          .distinct().count(),
        "duplicate action rows — a checkpoint embedded a live segment")
      // zero lost commits: every append that reported success is
      // present exactly once at the head
      val at = TimeTravel.read(spark, dir)
      appended.toArray(Array.empty[java.lang.Long]).foreach { b =>
        assert(at.filter(col("id") >= b.longValue() &&
          col("id") < b.longValue() + 50L).count() == 50L,
          s"append at base $b lost or duplicated")
      }
      // merge atomicity: each merger's key half carries exactly ONE of
      // its tags (its last successful upsert), never a torn mix
      (0 until 2).foreach { t =>
        val vs = at.filter(col("id") >= t * 50L &&
            col("id") < t * 50L + 50L)
          .select(col("v")).distinct().collect().map(_.getLong(0))
        assert(vs.length == 1 && vs.head / 1000L == t,
          s"merger $t keys torn: ${vs.mkString(",")}")
      }
      // the deleter's ranges are fully gone
      assert(at.filter(col("id") >= 900000L).count() == 0L)
      // every as-of in the retained window is readable
      val floor = TimeTravel.earliestReadable(spark, dir)
      (floor to head).foreach(v =>
        TimeTravel.readAsOf(spark, dir, v).count(): Unit)
      // post-storm, quiesced: orphans (lost racers' stranded files)
      // reclaim without touching anything committed
      val before = at.orderBy(col("id")).collect().map(_.toSeq).toSeq
      TimeTravel.gcOrphans(spark, dir): Unit
      assert(TimeTravel.read(spark, dir).orderBy(col("id"))
        .collect().map(_.toSeq).toSeq == before)
    } finally hconf.unset(TimeTravel.checkpointIntervalKey)
  }

  test("auto-checkpoint: the commit path folds the log every K commits " +
      "and the replay ledger keeps working through the fold") {
    val dir = tmpDir("autockpt")
    val conf = spark.sparkContext.hadoopConfiguration
    conf.setInt(TimeTravel.checkpointIntervalKey, 3)
    try {
      (0 to 6).foreach(b => TimeTravel.commitAppend(batch(b), dir,
        Seq("id"), files = 1, batchId = Some(s"auto_$b")))
      val lp = TimeTravel.lineagePath(dir)
      val fs = new org.apache.hadoop.fs.Path(lp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val names = fs.listStatus(new org.apache.hadoop.fs.Path(lp))
        .map(_.getPath.getName).toSet
      assert(names.contains("ckpt_v3.parquet") &&
        names.contains("ckpt_v6.parquet"), names.toSeq.sorted.toString)
      // replays of batches whose segments are FOLDED still absorb
      (0 to 6).foreach { b =>
        assert(TimeTravel.commitAppend(batch(b), dir, Seq("id"),
          files = 1, batchId = Some(s"auto_$b")) == 7L)
      }
      assert(TimeTravel.read(spark, dir).count() == 700L)
      assert(ids(TimeTravel.readAsOf(spark, dir, 2L)) == (0L until 200L))
    } finally conf.unset(TimeTravel.checkpointIntervalKey)
  }

  test("schema resolution reads O(1) segments: every commit stamps the " +
      "cumulative widened schema, resolution uses the newest stamp " +
      "alone, and a read costs the same jobs at 4 and 20 commits") {
    def build(nCommits: Int): String = {
      val dir = tmpDir(s"o1_$nCommits")
      // v1 narrow, v2 widens, the rest ride the wide type
      TimeTravel.commitAppend(spark.range(0L, 20L).select(col("id"),
        (col("id") % 9).cast("int").as("x")), dir, Seq("id"), files = 1)
      (2 to nCommits).foreach(i => TimeTravel.commitAppend(
        spark.range(i * 100L, i * 100L + 20L).select(col("id"),
          (col("id") + 3000000000L).as("x")), dir, Seq("id"), files = 1))
      dir
    }
    val small = build(4)
    val big = build(20)
    Seq(small, big).foreach { d =>
      assert(TimeTravel.schemaResolution(spark, d) == "stamped")
      assert(TimeTravel.read(spark, d).schema("x").dataType ==
        org.apache.spark.sql.types.LongType)
    }
    // warm the snapshots (one listing + bounded load each), then a full
    // read must cost the SAME jobs regardless of commit count — the
    // r15 shape re-derived the schema from ALL lineage segments per
    // read, so job count grew with history
    TimeTravel.latestVersion(spark, small)
    TimeTravel.latestVersion(spark, big)
    val jSmall = jobsDuring(TimeTravel.read(spark, small).count(): Unit)
    val jBig = jobsDuring(TimeTravel.read(spark, big).count(): Unit)
    assert(jBig == jSmall,
      s"read jobs grew with commit count: $jSmall at 4 commits, " +
        s"$jBig at 20 — metadata resolution is no longer O(1)")
    // and the rollback rule: re-adding pre-widening files must NOT
    // present the old cumulative as the newest record
    val head = TimeTravel.latestVersion(spark, small)
    TimeTravel.rollback(spark, small, 1L)
    assert(TimeTravel.schemaResolution(spark, small) != "none")
    assert(TimeTravel.read(spark, small).schema("x").dataType ==
      org.apache.spark.sql.types.IntegerType) // v1 content, narrow files
    // the monotone table type survives: a narrow-int batch still refuses
    val e = intercept[IllegalArgumentException] {
      TimeTravel.commitAppend(spark.range(900L, 910L).select(col("id"),
        col("id").cast("int").as("x")), small, Seq("id"), files = 1)
    }
    assert(e.getMessage.contains("narrowing"), e.getMessage)
    assert(TimeTravel.latestVersion(spark, small) == head + 1)
  }

  test("commitUpsert replay ordering: a verbatim replay of a landed " +
      "pinned commit absorbs as a no-op even though its pin is stale") {
    val dir = tmpDir("replaypin")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 1) // v1
    def up = spark.range(5L, 8L).select(col("id"), lit(9L).as("grp"),
      lit(-1L).as("v"))
    assert(TimeTravel.commitUpsert(spark, dir, "id", up, files = 1,
      batchId = Some("pin_b1"), expectedVersion = Some(2L)) == 2L)
    // the verbatim replay: same batchId, same (now stale) pin — the
    // exactly-once answer is the landed version, never CommitRaceLost
    assert(TimeTravel.commitUpsert(spark, dir, "id", up, files = 1,
      batchId = Some("pin_b1"), expectedVersion = Some(2L)) == 2L)
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    // a NEW batch with a stale pin still refuses before staging
    intercept[graft.sources.CommitRaceLost] {
      TimeTravel.commitUpsert(spark, dir, "id", up, files = 1,
        batchId = Some("pin_b2"), expectedVersion = Some(2L))
    }
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
  }

  test("legacy int-typed stat columns: a pre-wide-stats segment beside " +
      "new long-typed ones reads through the widening fold instead of " +
      "throwing on mergeSchema") {
    val dir = tmpDir("legacystats")
    TimeTravel.commitAppend(spark.range(0L, 50L).select(col("id"),
      (col("id") % 9).cast("int").as("x")), dir, Seq("x"), files = 1) // v1
    // forge the legacy shape: rewrite segment_v1 with int-typed
    // min_x/max_x and no schema stamps (what a pre-r15 engine wrote)
    val lp = TimeTravel.lineagePath(dir)
    val segPath = s"$lp/segment_v1.parquet"
    val doctored = spark.read.parquet(segPath)
      .withColumn("min_x", col("min_x").cast("int"))
      .withColumn("max_x", col("max_x").cast("int"))
      .drop("schema_json", "table_schema_json")
    val tmp = s"$lp/_doctor"
    doctored.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(lp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.delete(new org.apache.hadoop.fs.Path(segPath), false)
    fs.rename(part, new org.apache.hadoop.fs.Path(segPath))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // v2 records long-typed stats (the stable-wide rule) — the lineage
    // now mixes int and long min_x across segments
    TimeTravel.commitAppend(spark.range(50L, 80L).select(col("id"),
      (col("id") % 9).cast("int").as("x")), dir, Seq("x"), files = 1)
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    assert(TimeTravel.read(spark, dir).count() == 80L)
    assert(TimeTravel.readAsOf(spark, dir, 1L).count() == 50L)
    // the stats screen still prunes on the mixed-typed dimension
    assert(TimeTravel.readAsOfPruned(spark, dir, 2L,
      Seq(graft.sources.Layout.ColRange("x", lit(2), lit(3))))
      .select(col("x")).distinct().collect()
      .map(_.getInt(0)).toSet == Set(2, 3))
    // and the fold survives a checkpoint of the mixed log
    TimeTravel.checkpointLineage(spark, dir)
    assert(TimeTravel.vacuumLineage(spark, dir, graceMillis = 0) == 2)
    assert(TimeTravel.read(spark, dir).count() == 80L)
  }

  test("vacuumed-arbiter guard is not tripped by a concurrent fold that " +
      "truncates the vacuum's own non-witness rows: the durable vacuum " +
      "reports success (ADVICE r17 false positive)") {
    val dir = tmpDir("vguard")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2) // v1: 2 files
    // delete spanning BOTH v1 files → v2 removes both, re-adds survivors
    TimeTravel.commitDelete(spark, dir, "id",
      spark.range(25L, 75L).toDF("id"))
    val lp = TimeTravel.lineagePath(dir)
    val fs = new org.apache.hadoop.fs.Path(lp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // inject the race INSIDE vacuum()'s commit point: right after its
    // segment birth wins, a concurrent maintainer folds the log (the
    // fold truncates the non-witness vacuumed file's rows — including
    // the vacuum-action row our guard used to require verbatim) and
    // reclaims the folded segments. Self-clearing: fires exactly once.
    TimeTravel.postBirthForTests = () => {
      TimeTravel.postBirthForTests = () => ()
      TimeTravel.checkpointLineage(spark, dir): Unit
      TimeTravel.vacuumLineage(spark, dir, graceMillis = 0): Unit
    }
    try {
      // the vacuum IS durable (files deleted, fold embedded) — it must
      // report success, not CommitRaceLost
      assert(TimeTravel.vacuum(spark, dir, keepFrom = 2L) == 2)
    } finally TimeTravel.postBirthForTests = () => ()
    // the fold happened and truncated: one checkpoint, non-witness file
    // history gone, witness + survivor rows retained
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(lp))
      .map(_.getPath.getName).toSet
    assert(names.exists(_.startsWith("ckpt_v3")), names.toSeq.sorted)
    // the table reads exactly the survivors at the head, as-ofs in the
    // retained window work, and the truncated range refuses loudly
    assert(ids(TimeTravel.read(spark, dir)) ==
      ((0L until 25L) ++ (75L until 100L)))
    assert(TimeTravel.earliestReadable(spark, dir) == 2L)
    intercept[IllegalArgumentException](
      TimeTravel.readAsOf(spark, dir, 1L).collect())
  }

  // ---- the one rewrite-commit core under every write face ----------

  test("every write face in one fixture: each launches at most its " +
      "pinned jobs, and every version's history row is unchanged") {
    val dir = tmpDir("faces")
    val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def face(name: String)(commit: => Long): Unit =
      jobs(name) = jobsDuring(commit: Unit)
    face("append_cold")(
      TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2))
    face("append")(TimeTravel.commitAppend(batch(1), dir, Seq("id"),
      files = 2, batchId = Some("faces_b1")))
    face("append_warm")(TimeTravel.commitAppend(batch(2), dir, Seq("id"),
      files = 2, batchId = Some("faces_b2")))
    face("upsert")(TimeTravel.commitUpsert(spark, dir, "id",
      batch(0).filter(col("id") < 25L).withColumn("v", lit(-1L))
        .unionByName(batch(3).filter(col("id") < 310L)),
      files = 2, batchId = Some("faces_up")))
    face("delete")(TimeTravel.commitDelete(spark, dir, "id",
      spark.range(0L, 400L).filter(col("id") % 10 === 7L).toDF("id")))
    face("replace_where")(TimeTravel.commitReplaceWhere(spark, dir,
      col("grp") === 1L,
      spark.range(500L, 510L)
        .select(col("id"), lit(1L).as("grp"), (col("id") * 3).as("v")),
      files = 2, batchId = Some("faces_rw")))
    face("compact_small")(
      TimeTravel.compactSmall(spark, dir, Seq("id"), 1L << 20))
    face("compact")(TimeTravel.compact(spark, dir, Seq("id"), files = 2))
    // ceilings: each face's jobs on this fixture when the faces were
    // six hand-copied pipelines (same session, same inputs)
    val ceiling = Map("append_cold" -> 6, "append" -> 10,
      "append_warm" -> 6, "upsert" -> 20, "delete" -> 11,
      "replace_where" -> 10, "compact_small" -> 5, "compact" -> 6)
    info(s"jobs per face: $jobs")
    jobs.foreach { case (f, n) =>
      assert(n <= ceiling(f), s"$f launched $n jobs, ceiling ${ceiling(f)}")
    }
    // (version, n_adds, n_removes, rows_added): the delete keeps one
    // file per rewritten file, the merges and compactions z-cluster
    // into `files`, compactSmall packs everything into one target file
    val hist = TimeTravel.history(spark, dir)
      .select("version", "n_adds", "n_removes", "rows_added").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(hist == Seq((1L, 2L, 0L, 100L), (2L, 2L, 0L, 100L),
      (3L, 2L, 0L, 100L), (4L, 2L, 1L, 60L), (5L, 7L, 7L, 279L),
      (6L, 2L, 7L, 227L), (7L, 1L, 2L, 227L), (8L, 2L, 1L, 227L)))
    // and the head holds exactly the modelled rows
    val model = (0L until 310L)
      .map(i => (i, i % 5, if (i < 25L) -1L else i * 3))
      .filter(r => r._1 % 10 != 7L && r._2 != 1L) ++
      (500L until 510L).map(i => (i, 1L, i * 3))
    assert(TimeTravel.read(spark, dir).select("id", "grp", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      model.toSet)
  }

  test("each batch face evaluates its batch exactly once: a counting " +
      "non-deterministic UDF sees every batch row one time") {
    val evals = spark.sparkContext.longAccumulator("batch_evals")
    val counted = udf((x: Long) => { evals.add(1L); x }).asNondeterministic()
    // ten rows through the counting UDF, all inside replaceWhere's region
    def tenRows: DataFrame = spark.range(500L, 510L)
      .select(counted(col("id")).as("id"), lit(1L).as("grp"),
        (col("id") * 3).as("v"))
    val faces: Seq[(String, String => Long)] = Seq(
      "append" -> (dir => TimeTravel.commitAppend(tenRows, dir, Seq("id"),
        files = 2)),
      "upsert" -> (dir => TimeTravel.commitUpsert(spark, dir, "id",
        tenRows, files = 2)),
      "replace_where" -> (dir => TimeTravel.commitReplaceWhere(spark, dir,
        col("grp") === 1L, tenRows, files = 2)))
    faces.foreach { case (name, commit) =>
      val dir = tmpDir(s"once_$name")
      TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
      evals.reset()
      assert(commit(dir) == 2L, name)
      assert(evals.value == 10L,
        s"$name evaluated its 10-row batch ${evals.value} times")
      assert(TimeTravel.read(spark, dir)
        .filter(col("id") >= 500L).count() == 10L, name)
    }
  }

  test("compact and compactSmall of a table whose rows were all deleted " +
      "commit nothing and return the head") {
    val dir = tmpDir("compact_empty")
    TimeTravel.commitAppend(batch(0), dir, Seq("id"), files = 2)
    assert(TimeTravel.commitDelete(spark, dir, "id",
      spark.range(0L, 100L).toDF("id")) == 2L)
    assert(TimeTravel.compact(spark, dir, Seq("id"), files = 2) == 2L)
    assert(TimeTravel.compactSmall(spark, dir, Seq("id"), 1L << 20) == 2L)
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
  }
}
