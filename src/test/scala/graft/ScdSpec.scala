package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.{Scd, TimeTravel}

class ScdSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_scd_$tag").toFile
    d.deleteOnExit()
    new java.io.File(d, "data").getPath
  }

  private def dim(rows: (Long, String, Long)*): DataFrame =
    rows.toDF("k", "name", "score")

  /** (key, name, score, from, to) tuples, null `to` as -1 for easy
    * literal comparison. */
  private def hist(dir: String): Seq[(Long, String, Long, Long, Long)] =
    Scd.history(spark, dir)
      .select(col("k"), col("name"), col("score"),
        col(Scd.FromCol), coalesce(col(Scd.ToCol), lit(-1L)))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSeq.sortBy(t => (t._1, t._4))

  test("merge opens rows, closes changed keys, skips unchanged keys, " +
      "and an all-unchanged batch is a version-free no-op") {
    val dir = tmpDir("basic")
    assert(Scd.merge(spark, dir, "k",
      dim((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)), files = 2) == 1L)
    // change k=1, keep k=2 verbatim, add k=4
    assert(Scd.merge(spark, dir, "k",
      dim((1L, "a", 11L), (2L, "b", 20L), (4L, "d", 40L)), files = 2) == 2L)
    assert(hist(dir) == Seq(
      (1L, "a", 10L, 1L, 2L), (1L, "a", 11L, 2L, -1L),
      (2L, "b", 20L, 1L, -1L),
      (3L, "c", 30L, 1L, -1L),
      (4L, "d", 40L, 2L, -1L)))
    // identical re-merge: nothing changes, NO version burned
    assert(Scd.merge(spark, dir, "k",
      dim((1L, "a", 11L), (2L, "b", 20L), (4L, "d", 40L)), files = 2) == 2L)
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    // current = open rows only
    assert(Scd.current(spark, dir).count() == 4L)
  }

  test("delete closes without erasing; a re-merged key opens a fresh " +
      "row; absent keys are version-free no-ops") {
    val dir = tmpDir("del")
    Scd.merge(spark, dir, "k", dim((1L, "a", 10L), (2L, "b", 20L)),
      files = 2)
    assert(Scd.delete(spark, dir, "k", Seq(1L).toDF("k"), files = 2) == 2L)
    assert(hist(dir) == Seq(
      (1L, "a", 10L, 1L, 2L),
      (2L, "b", 20L, 1L, -1L)))
    // deleting an absent or already-closed key commits nothing
    assert(Scd.delete(spark, dir, "k", Seq(1L, 99L).toDF("k"),
      files = 2) == 2L)
    // re-merge of the deleted key opens a NEW validity interval
    assert(Scd.merge(spark, dir, "k", dim((1L, "a2", 12L)), files = 2) == 3L)
    assert(hist(dir) == Seq(
      (1L, "a", 10L, 1L, 2L), (1L, "a2", 12L, 3L, -1L),
      (2L, "b", 20L, 1L, -1L)))
  }

  test("asOf returns the dimension state at every epoch it has lived " +
      "through, and lake time travel agrees") {
    val dir = tmpDir("asof")
    Scd.merge(spark, dir, "k", dim((1L, "a", 10L), (2L, "b", 20L)),
      files = 2)
    Scd.merge(spark, dir, "k", dim((1L, "a", 11L)), files = 2)
    Scd.delete(spark, dir, "k", Seq(2L).toDF("k"), files = 2)
    def state(v: Long): Seq[(Long, Long)] =
      Scd.asOf(spark, dir, v).select(col("k"), col("score"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(state(1L) == Seq((1L, 10L), (2L, 20L)))
    assert(state(2L) == Seq((1L, 11L), (2L, 20L)))
    assert(state(3L) == Seq((1L, 11L)))
    // stamps never change after the commit that writes them, so the
    // asOf FILTER over the head equals the time-travel READ at v
    (1L to 3L).foreach { v =>
      val tt = TimeTravel.readAsOf(spark, dir, v)
        .filter(col(Scd.FromCol) <= v &&
          (col(Scd.ToCol).isNull || col(Scd.ToCol) > v))
        .select(col("k"), col("score"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(tt == state(v), s"asOf($v) diverged from time travel")
    }
  }

  test("asOfTimestamp: the dimension as the world saw it at an instant") {
    val dir = tmpDir("ts")
    Scd.merge(spark, dir, "k", dim((1L, "a", 10L)), files = 1)
    Thread.sleep(10)
    val between = System.currentTimeMillis()
    Thread.sleep(10)
    Scd.merge(spark, dir, "k", dim((1L, "a", 11L)), files = 1)
    assert(Scd.asOfTimestamp(spark, dir, between)
      .select("score").head().getLong(0) == 10L)
    assert(Scd.asOfTimestamp(spark, dir, System.currentTimeMillis())
      .select("score").head().getLong(0) == 11L)
  }

  test("schema evolution: a batch adding a column closes every matched " +
      "row (null-safe compare), an omitted column reads null in the " +
      "new row") {
    val dir = tmpDir("evol")
    Scd.merge(spark, dir, "k", dim((1L, "a", 10L)), files = 2)
    // add a column: the matched row is 'changed' because current reads
    // null where the batch has 'gold'
    Scd.merge(spark, dir, "k",
      Seq((1L, "a", 10L, "gold")).toDF("k", "name", "score", "tier"),
      files = 2)
    val cur = Scd.current(spark, dir)
    assert(cur.count() == 1L)
    assert(cur.select("tier").head().getString(0) == "gold")
    // identical evolved batch: no-op
    assert(Scd.merge(spark, dir, "k",
      Seq((1L, "a", 10L, "gold")).toDF("k", "name", "score", "tier"),
      files = 2) == 2L)
    // omit the column again: changed (gold -> null), new row reads null
    assert(Scd.merge(spark, dir, "k", dim((1L, "a", 10L)), files = 2) == 3L)
    val head = Scd.current(spark, dir).select("tier").head()
    assert(head.isNullAt(0))
  }

  test("contract guards: duplicate keys refuse, reserved columns " +
      "refuse, null-key rows are dropped") {
    val dir = tmpDir("guards")
    val dup = intercept[IllegalArgumentException](
      Scd.merge(spark, dir, "k",
        dim((1L, "a", 10L), (1L, "b", 20L)), files = 2))
    assert(dup.getMessage.contains("duplicate-key"))
    val res = intercept[IllegalArgumentException](
      Scd.merge(spark, dir, "k",
        dim((1L, "a", 10L)).withColumn(Scd.FromCol, lit(9L)), files = 2))
    assert(res.getMessage.contains("reserved"))
    // null keys dropped at the edge (the r14 contract)
    Scd.merge(spark, dir, "k",
      Seq((Some(1L), "a", 10L), (None, "x", 99L))
        .toDF("k", "name", "score"), files = 2)
    assert(hist(dir) == Seq((1L, "a", 10L, 1L, -1L)))
    // an all-null batch is version-free
    assert(Scd.merge(spark, dir, "k",
      Seq((None: Option[Long], "x", 99L)).toDF("k", "name", "score"),
      files = 2) == 1L)
  }

  test("exactly-once batchId replay: a replayed merge moves nothing") {
    val dir = tmpDir("replay")
    Scd.merge(spark, dir, "k", dim((1L, "a", 10L)), files = 2,
      batchId = Some("b1"))
    assert(Scd.merge(spark, dir, "k", dim((1L, "a", 11L)), files = 2,
      batchId = Some("b2")) == 2L)
    // replaying b2 (same id, even different payload) is absorbed by the
    // commit ledger — the lake-face contract Scd inherits
    assert(Scd.merge(spark, dir, "k", dim((1L, "a", 12L)), files = 2,
      batchId = Some("b2")) == 2L)
    assert(hist(dir) == Seq(
      (1L, "a", 10L, 1L, 2L), (1L, "a", 11L, 2L, -1L)))
  }

  test("point-in-time join: facts stamped with an epoch join the " +
      "dimension attributes that were current AT that epoch") {
    val dir = tmpDir("pit")
    Scd.merge(spark, dir, "k", dim((1L, "a", 10L), (2L, "b", 20L)),
      files = 2)
    Scd.merge(spark, dir, "k", dim((1L, "a", 99L)), files = 2)
    val facts = Seq((100L, 1L, 1L), (101L, 1L, 2L), (102L, 2L, 2L))
      .toDF("fact_id", "k", "epoch")
    val joined = Scd.pitJoin(spark, facts, dir, "k", "epoch")
      .select(col("fact_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(joined == Seq((100L, 10L), (101L, 99L), (102L, 20L)))
    // LEFT semantics: an unknown key and a pre-history epoch read null
    val edge = Scd.pitJoin(spark,
        Seq((200L, 9L, 1L), (201L, 1L, 0L)).toDF("fact_id", "k", "epoch"),
        dir, "k", "epoch")
      .select(col("fact_id"), col("score"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq.sorted
    assert(edge == Seq((200L, -1L), (201L, -1L)))
    // collision guard: a fact column named like a dim attribute refuses
    val clash = intercept[IllegalArgumentException] {
      Scd.pitJoin(spark,
        Seq((1L, 1L, 1L)).toDF("score", "k", "epoch"), dir, "k", "epoch")
    }
    assert(clash.getMessage.contains("collide"))
  }

  test("SQL faces drive the whole lifecycle from text") {
    GraftExtensions.register(spark)
    val dir = tmpDir("sql")
    dim((1L, "a", 10L), (2L, "b", 20L)).createOrReplaceTempView("scd_b1")
    dim((1L, "a", 11L)).createOrReplaceTempView("scd_b2")
    Seq(2L).toDF("k").createOrReplaceTempView("scd_del")
    assert(spark.sql(
      s"SELECT version FROM graft_scd_merge('scd_b1', '$dir', 'k', 2)")
      .head().getLong(0) == 1L)
    assert(spark.sql(
      s"SELECT version FROM graft_scd_merge('scd_b2', '$dir', 'k', 2)")
      .head().getLong(0) == 2L)
    assert(spark.sql(
      s"SELECT version FROM graft_scd_delete('scd_del', '$dir', 'k', 2)")
      .head().getLong(0) == 3L)
    assert(spark.sql(s"SELECT * FROM graft_scd_current('$dir')")
      .count() == 1L)
    val asof1 = spark.sql(
        s"SELECT k, score FROM graft_scd_asof('$dir', 1) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(asof1 == Seq((1L, 10L), (2L, 20L)))
    assert(spark.sql(s"SELECT * FROM graft_scd_history('$dir')")
      .count() == 3L)
  }

  test("SCD maintained from a source table's change feed alone: " +
      "current equals the source head, history captures every " +
      "transition — dimension history for free on any CDC-fed table") {
    val src = tmpDir("feedsrc")
    val dimDir = tmpDir("feeddim")
    TimeTravel.commitAppend(
      spark.range(1L, 21L).select(col("id"), (col("id") * 10).as("score")),
      src, Seq("id"), files = 2)
    TimeTravel.commitUpsert(spark, src, "id",
      spark.range(1L, 6L).select(col("id"),
        (col("id") * 10 + 1).as("score")), files = 2)
    TimeTravel.commitDelete(spark, src, "id", Seq(7L, 8L).toDF("id"))
    (1L to TimeTravel.latestVersion(spark, src)).foreach { v =>
      val feed = TimeTravel.changeFeed(spark, src, v - 1, v, "id")
      // applyChanges: the MIXED per-version batch lands as exactly one
      // dimension commit — feed version v ↦ dimension version v
      Scd.applyChanges(spark, dimDir, "id",
        feed.filter(col("change") =!= "deleted")
          .select(col("id"), col("score")),
        feed.filter(col("change") === "deleted").select(col("id")),
        files = 2)
    }
    // one dim commit per source commit, by construction
    assert(TimeTravel.latestVersion(spark, dimDir) ==
      TimeTravel.latestVersion(spark, src))
    val cur = Scd.current(spark, dimDir).select("id", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val headT = TimeTravel.read(spark, src).select("id", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(cur == headT)
    val h = Scd.history(spark, dimDir)
    assert(h.filter(col("id") === 3L).count() == 2L) // 30 then 31
    assert(h.filter(col("id") === 7L &&
      col(Scd.ToCol).isNotNull).count() == 1L) // deleted: closed, kept
    assert(h.filter(col("id") === 12L).count() == 1L) // untouched
  }

  test("applyChanges: a mixed upsert+delete batch is ONE commit; a key " +
      "with two fates refuses; both-empty is version-free") {
    val dir = tmpDir("apply")
    Scd.merge(spark, dir, "k",
      dim((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)), files = 2)
    // one commit: change k=1, insert k=4, delete k=3
    assert(Scd.applyChanges(spark, dir, "k",
      dim((1L, "a", 11L), (4L, "d", 40L)), Seq(3L).toDF("k"),
      files = 2) == 2L)
    assert(hist(dir) == Seq(
      (1L, "a", 10L, 1L, 2L), (1L, "a", 11L, 2L, -1L),
      (2L, "b", 20L, 1L, -1L),
      (3L, "c", 30L, 1L, 2L),
      (4L, "d", 40L, 2L, -1L)))
    // two fates for one key: refuse, version unmoved
    val e = intercept[IllegalArgumentException] {
      Scd.applyChanges(spark, dir, "k", dim((2L, "b", 21L)),
        Seq(2L).toDF("k"), files = 2)
    }
    assert(e.getMessage.contains("BOTH"))
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    // unchanged upserts + absent deletes: version-free
    assert(Scd.applyChanges(spark, dir, "k", dim((1L, "a", 11L)),
      Seq(99L).toDF("k"), files = 2) == 2L)
    // SQL face
    GraftExtensions.register(spark)
    dim((2L, "b", 22L)).createOrReplaceTempView("scd_apply_u")
    Seq(4L).toDF("k").createOrReplaceTempView("scd_apply_d")
    assert(spark.sql(
      s"SELECT version FROM graft_scd_apply('scd_apply_u', " +
        s"'scd_apply_d', '$dir', 'k', 2)").head().getLong(0) == 3L)
    assert(Scd.current(spark, dir).count() == 2L) // k=1, k=2
  }

  test("string business keys: a URL-keyed dimension merges with exact " +
      "history (string z-image clusters, string stats screen)") {
    val dir = tmpDir("strkey")
    def b(rows: (String, Long)*) = rows.toDF("url", "rank")
    Scd.merge(spark, dir, "url",
      b(("https://a.example/1", 1L), ("https://a.example/2", 2L),
        ("https://b.example/1", 3L)), files = 2)
    Scd.merge(spark, dir, "url", b(("https://a.example/2", 20L)),
      files = 2)
    val h = Scd.history(spark, dir)
      .select(col("url"), col("rank"), col(Scd.FromCol),
        coalesce(col(Scd.ToCol), lit(-1L)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(t => (t._1, t._3))
    assert(h == Seq(
      ("https://a.example/1", 1L, 1L, -1L),
      ("https://a.example/2", 2L, 1L, 2L),
      ("https://a.example/2", 20L, 2L, -1L),
      ("https://b.example/1", 3L, 1L, -1L)))
  }

  test("a merge rewrites only files holding a CHANGED key — untouched " +
      "files are shared between versions") {
    val dir = tmpDir("touch")
    val gen1 = spark.range(1L, 101L)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"),
        (col("id") * 2).as("score"))
    Scd.merge(spark, dir, "k", gen1, files = 2)
    // change ONE low key: the generation is clustered on (k, surrogate),
    // so only the file whose key range holds k=1 is a candidate
    Scd.merge(spark, dir, "k",
      dim((1L, "n1", 999L)), files = 1)
    val removedAtV2 = spark.read
      .parquet(TimeTravel.lineagePath(dir))
      .filter(col("version") === 2L && col("action") === "remove")
      .count()
    assert(removedAtV2 == 1L,
      s"expected exactly 1 of 2 generation files rewritten, got $removedAtV2")
    assert(hist(dir).filter(_._1 == 1L) == Seq(
      (1L, "n1", 2L, 1L, 2L), (1L, "n1", 999L, 2L, -1L)))
    assert(Scd.current(spark, dir).count() == 100L)
  }

  test("a merge reads the batch's current rows, never the closed " +
      "history: records and bytes read stay flat at ×1/×4/×10 history") {
    val keys = 200L
    def gen(epoch: Long): DataFrame = spark.range(0L, keys)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"),
        (col("id") * 31 + epoch).as("score"))
    // a fixed 5% key slice changes payload
    val slice = gen(999L).filter(col("k") < keys / 20)
    val dir = tmpDir("decade")
    Scd.merge(spark, dir, "k", gen(0L), files = 4)
    var epochs = 0L
    val reads = Seq(1L, 4L, 10L).map { n =>
      // epochs that each change EVERY key: each closes the whole
      // current generation, so closed history grows to n × current
      while (epochs < n) {
        epochs += 1
        Scd.merge(spark, dir, "k", gen(epochs), files = 4)
      }
      assert(Scd.history(spark, dir).count() == keys * (n + 1))
      val head = TimeTravel.latestVersion(spark, dir)
      var v = -1L
      val merge = readDuring { v = Scd.merge(spark, dir, "k", slice, 1) }
      // the identical re-merge is pure change detection: version-free
      val noop = readDuring {
        assert(Scd.merge(spark, dir, "k", slice, 1) == v)
      }
      // back to the head's files, so the next epochs grow the same
      // current layout the slice merge was measured on
      TimeTravel.rollback(spark, dir, head)
      assert(Scd.current(spark, dir).count() == keys)
      n -> (merge, noop)
    }
    // equal records; bytes (which carry the footer of every file opened)
    // flat within 5% — a scan that opened the closed files would grow
    // by one footer per epoch even where their row groups are skipped
    val (m1, o1) = reads.head._2
    def near(a: Long, b: Long) = math.abs(a - b) * 20 <= b
    assert(m1.records > 0L && reads.forall { case (_, (m, o)) =>
        m.records == m1.records && o.records == o1.records &&
          near(m.bytes, m1.bytes) && near(o.bytes, o1.bytes) },
      "(merge, no-op) reads by history scale: " + reads.map {
        case (n, (m, o)) => s"x$n: ${m.records}/${m.bytes} B, " +
          s"${o.records}/${o.bytes} B" }.mkString("; "))
  }

  test("two concurrent merges: the interleaved winner lands, the loser's " +
      "pre-commit CAS refuses BEFORE anything enters the lineage, and " +
      "the re-derived merge succeeds — never an epoch-inconsistent " +
      "commit") {
    val dir = tmpDir("cas")
    Scd.merge(spark, dir, "k", dim((1L, "a", 10L), (2L, "b", 20L)),
      files = 2) // v1
    // merge B commits v2 inside merge A's read-to-commit window, AFTER
    // A has already stamped its epochs from the v1 head
    Scd.interleaveForTests = () => {
      Scd.interleaveForTests = () => () // no recursion for B itself
      Scd.merge(spark, dir, "k", dim((2L, "b2", 21L)), files = 2): Unit
    }
    val e = try intercept[graft.sources.CommitRaceLost] {
      Scd.merge(spark, dir, "k", dim((1L, "a2", 11L)), files = 2)
    } finally Scd.interleaveForTests = () => ()
    assert(e.getMessage.contains("before staging"),
      s"the refusal must be the pre-commit CAS, got: ${e.getMessage}")
    // the lineage holds ONLY the winner — A's v2-stamped rows are
    // nowhere, time travel and validity intervals agree at every version
    assert(TimeTravel.latestVersion(spark, dir) == 2L)
    assert(hist(dir) == Seq(
      (1L, "a", 10L, 1L, -1L),
      (2L, "b", 20L, 1L, 2L), (2L, "b2", 21L, 2L, -1L)))
    // the loser re-derives against the new head and lands cleanly
    assert(Scd.merge(spark, dir, "k", dim((1L, "a2", 11L)),
      files = 2) == 3L)
    assert(Scd.current(spark, dir).count() == 2L)
  }

  test("delete on an uncommitted dimension is a version-free no-op — " +
      "the same contract applyChanges gives the identical delete keys") {
    val dir = tmpDir("delempty")
    assert(Scd.delete(spark, dir, "k", Seq(1L).toDF("k"), files = 2) == 0L)
    assert(Scd.applyChanges(spark, dir, "k",
      dim((1L, "a", 10L)).limit(0), Seq(1L).toDF("k"), files = 2) == 0L)
    assert(TimeTravel.latestVersion(spark, dir) == 0L)
    // the dimension is still virgin: the first real merge lands at v1
    assert(Scd.merge(spark, dir, "k", dim((1L, "a", 10L)), files = 2) == 1L)
  }

  test("type widening mid-history: an attribute widened int→long " +
      "reads through history/current/asOf/pitJoin, and a narrowing " +
      "merge refuses") {
    val dir = tmpDir("widen")
    // epoch 1: score is INT
    assert(Scd.merge(spark, dir, "k",
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "name", "score"),
      files = 2) == 1L)
    // epoch 2: a merge carries score as LONG beyond int range — the
    // lake's widening contract must flow through the SCD face
    assert(Scd.merge(spark, dir, "k",
      Seq((1L, "a", 5000000000L), (3L, "c", 30L))
        .toDF("k", "name", "score"), files = 2) == 2L)
    import org.apache.spark.sql.types.LongType
    val h = Scd.history(spark, dir)
    assert(h.schema("score").dataType == LongType)
    // history: epoch-1 rows decode under the widened type
    assert(hist(dir) == Seq(
      (1L, "a", 10L, 1L, 2L), (1L, "a", 5000000000L, 2L, -1L),
      (2L, "b", 20L, 1L, -1L), (3L, "c", 30L, 2L, -1L)))
    assert(Scd.current(spark, dir).count() == 3L)
    // asOf BEFORE the widening: validity filtering over the head table,
    // values exact
    assert(Scd.asOf(spark, dir, 1L).select(col("k"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 20L)))
    // pitJoin across the boundary: facts at epoch 1 see the narrow-era
    // values, facts at epoch 2 the widened ones
    val facts = Seq((1L, 1L, 100L), (1L, 2L, 200L), (3L, 1L, 300L))
      .toDF("k", "epoch", "amt")
    val j = Scd.pitJoin(spark, facts, dir, "k", "epoch")
      .select(col("amt"), col("score")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_ => r.getLong(1))))
      .toSet
    assert(j == Set((100L, Some(10L)), (200L, Some(5000000000L)),
      (300L, None)))
    // a LATE int batch upcasts losslessly through the face (the merge
    // unions it with current rows, which carry the widened type) — the
    // committed attribute stays long and the value is exact; no
    // precision loss is possible on the way UP the lattice
    assert(Scd.merge(spark, dir, "k",
      Seq((4L, "d", 40)).toDF("k", "name", "score"), files = 1) == 3L)
    val r4 = Scd.current(spark, dir).filter(col("k") === 4L)
    assert(r4.schema("score").dataType == LongType &&
      r4.select(col("score")).head().getLong(0) == 40L)
  }
}
