package graft

import java.nio.file.{Files, Paths}

import graft.engine.Bookmarks
import graft.operators.{Ledger, Tombstones}
import graft.sources.ListingSnapshot

/** The driver snapshot primitive: its staleness, mark and install rules
  * on plain files, and the over-bound branches of the three
  * consumers whose data is not file-count-sized (ledger ids, tombstone
  * keys, bookmark users), run on real data past [[ListingSnapshot.MaxKeys]].
  */
class ListingSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("listing snapshot: absent is never cached; a listing change " +
      "reloads; guarded installs; the over-bound mark outlives growth " +
      "until reset; a throwing load caches nothing") {
    val dir = tmpDir("graft_ls") + "/d"
    def touch(name: String): Unit =
      Files.write(Paths.get(dir, name), name.getBytes): Unit
    var loads = 0
    val snap = new ListingSnapshot[String, Set[String]](identity)({
      (_, _, files) =>
        loads += 1
        val names = files.map(_.getPath.getName).toSet
        require(!names("bad"), "unreadable")
        if (names.size > 3) Left("big") else Right(names)
    })
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def get() = snap.get(spark, dir)

    assert(get().isEmpty && loads == 0, "an absent directory is absent")
    Files.createDirectories(Paths.get(dir))
    touch("a")
    assert(get().contains(Right(Set("a"))) && loads == 1)
    assert(get().contains(Right(Set("a"))) && loads == 1, "warm")
    touch("b") // a foreign write moves the fingerprint
    assert(get().contains(Right(Set("a", "b"))) && loads == 2)

    // guarded install: the listing is exactly the cached set + ours
    touch("c")
    snap.afterAppend(dir, Set("c"), snap.list(fs, dir))(_ + "c")
    assert(get().contains(Right(Set("a", "b", "c"))) && loads == 2)
    // a foreign file in the window: the entry is dropped, not installed
    touch("d"); touch("e")
    snap.afterAppend(dir, Set("e"), snap.list(fs, dir))(_ + "e")
    assert(get().contains(Left("big")) && loads == 3)

    // the mark outlives growth-only appends and listing changes...
    touch("f")
    snap.afterAppend(dir, Set("f"), snap.list(fs, dir))(_ + "f")
    assert(get().contains(Left("big")) && loads == 3)
    // ...until the owner's reset
    snap.reset(dir)
    assert(get().contains(Left("big")) && loads == 4)

    // a swap installs only when the listing is exactly the landed set
    Seq("a", "b", "c", "d", "e", "f").foreach(n =>
      Files.delete(Paths.get(dir, n)))
    touch("g")
    snap.afterSwap(dir, Set("g"), snap.list(fs, dir), Set("g"))
    assert(get().contains(Right(Set("g"))) && loads == 4)
    touch("h")
    snap.afterSwap(dir, Set("h"), snap.list(fs, dir), Set("h"))
    assert(get().contains(Right(Set("g", "h"))) && loads == 5)

    // a load that throws caches nothing: the next consult loads again
    touch("bad")
    intercept[IllegalArgumentException](get())
    intercept[IllegalArgumentException](get())
    assert(loads == 7)
    Files.delete(Paths.get(dir, "bad"))
    assert(get().contains(Right(Set("g", "h"))) && loads == 8)
    ListingSnapshot.invalidateAll()
    assert(get().contains(Right(Set("g", "h"))) && loads == 9)
  }

  test("ledger past the snapshot bound: membership and replay skipping " +
      "stay exact on the pushed-down scan") {
    val root = tmpDir("graft_ls_ledger")
    val lp = s"$root/batches"
    val n = ListingSnapshot.MaxKeys + 1
    Ledger.recordAll(spark, lp, (0 until n).map(i => s"id-$i"))
    assert(spark.read.parquet(lp).count() == n + 1L) // + __base__
    Seq("id-0", "id-77777", s"id-${n - 1}", "__base__").foreach(id =>
      assert(Ledger.contains(spark, lp, id), id))
    Seq(s"id-$n", "id--1", "nope").foreach(id =>
      assert(!Ledger.contains(spark, lp, id), id))

    // a replayed batch is skipped: its payload write never runs
    val live = s"$root/live"
    Files.createDirectories(Paths.get(live))
    def append(id: String): Boolean =
      Ledger.guardedSegmentAppend(spark, root, id, Seq("" -> live)) {
        staged => Seq(id).toDF("v").coalesce(1).write.parquet(staged)
      }
    assert(!append("id-4242"))
    assert(new java.io.File(live).list().isEmpty)
    // a fresh batch lands, is recorded on the over-bound ledger, and its
    // replay is skipped in turn
    assert(append("fresh"))
    assert(Ledger.contains(spark, lp, "fresh"))
    assert(!append("fresh"))
    assert(spark.read.parquet(live).as[String].collect().toSeq ==
      Seq("fresh"))
  }

  test("tombstone sidecar past the snapshot bound: add, clear, applyTo and " +
      "applySelfTo match a set model; a probe built after an over-bound " +
      "add runs zero jobs") {
    val tomb = tmpDir("graft_ls_tomb") + "/tombstones"
    val model = scala.collection.mutable.Set.empty[Long]
    val probeIds = Seq(0L, 5L, 7L, 99999L, 100000L, 100001L, 200000L,
      300000L)
    def probe(): Seq[Long] =
      Tombstones.applyTo(probeIds.toDF("k"), "k", tomb)
        .as[Long].collect().sorted.toSeq
    def probeSelf(): Seq[Long] =
      Tombstones.applySelfTo(probeIds.toDF("id"), tomb)
        .as[Long].collect().sorted.toSeq
    def check(): Unit = {
      assert(spark.read.parquet(tomb).as[Long].collect().toSet == model)
      val want = probeIds.filterNot(model).sorted
      assert(probe() == want)
      assert(probeSelf() == want)
    }

    val n = ListingSnapshot.MaxKeys + 1L
    Tombstones.add(spark.range(0L, n).toDF("id"), "id", tomb)
    model ++= 0L until n
    check() // the first probe marks the sidecar over-bound
    Tombstones.add(Seq(200000L, 5L).toDF("id"), "id", tomb)
    model += 200000L
    // the mark survived the add: building a probe neither re-collects
    // the sidecar nor infers its schema
    assert(jobsDuring {
      Tombstones.applyTo(probeIds.toDF("k"), "k", tomb)
      Tombstones.applySelfTo(probeIds.toDF("id"), tomb): Unit
    } == 0)
    check()
    // a clear rewrites the sidecar and resets the mark: back at the
    // bound, the next probe takes the driver snapshot again
    Tombstones.clear(Seq(5L, 7L, 300000L).toDF("id"), "id", tomb)
    model --= Seq(5L, 7L)
    assert(model.size == ListingSnapshot.MaxKeys)
    check()
    Tombstones.add(Seq(7L).toDF("id"), "id", tomb)
    model += 7L
    check()
    Tombstones.clear(Seq(7L, 99999L).toDF("id"), "id", tomb)
    model --= Seq(7L, 99999L)
    check()
  }

  test("bookmark store past the snapshot bound: the store is marked, and " +
      "appendToggle assigns the same seqs as on an in-bound store") {
    import org.apache.spark.sql.functions.{col, lit}
    val n = ListingSnapshot.MaxKeys + 1L
    // user 5 toggled b (seq 1, among the bulk), then c, then b off
    def history(store: String, users: Long): Unit = {
      spark.range(0L, users).select(col("id").as("userId"),
          lit("b").as("bbl"), lit(1L).as("seq"))
        .write.parquet(store)
      Seq(Bookmarks.ToggleEvent(5L, "c", 2L), Bookmarks.ToggleEvent(5L, "b", 3L))
        .toDS().write.mode("append").parquet(store)
    }
    def toggles(store: String): Unit = {
      Bookmarks.appendToggle(spark, store, 5L, "d")
      Bookmarks.appendToggle(spark, store, 5L, "c")
      Bookmarks.appendToggle(spark, store, n + 7L, "z") // a new user
    }
    val over = tmpDir("graft_ls_bm") + "/toggles"
    val in = tmpDir("graft_ls_bm") + "/toggles"
    history(over, n)
    history(in, 6L)
    toggles(over)
    toggles(in)
    // warm, the in-bound store answers from the snapshot; the marked one
    // runs the point-filter max and never re-collects its users
    assert(jobsDuring(Bookmarks.appendToggle(spark, in, 5L, "e")) == 0)
    var read: SparkSpec.Reads = null
    assert(jobsDuring {
      read = readDuring(Bookmarks.appendToggle(spark, over, 5L, "e"))
    } > 0)
    assert(read.shuffleRecords.values.flatten.sum < 100L, read)
    def seqs(store: String, u: Long): Seq[(Long, String)] =
      spark.read.parquet(store).as[Bookmarks.ToggleEvent]
        .filter(_.userId == u).collect().map(e => e.seq -> e.bbl)
        .sorted.toSeq
    Seq(5L, n + 7L).foreach(u => assert(seqs(over, u) == seqs(in, u)))
    assert(seqs(over, 5L).map(_._1) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    // b, c, b off, d, c off, e
    assert(Bookmarks.saved(spark, over, 5L) == Seq("d", "e"))
    assert(Bookmarks.saved(spark, in, 5L) == Seq("d", "e"))
  }
}
