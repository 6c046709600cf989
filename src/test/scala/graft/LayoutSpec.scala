package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.operators.Lifecycle
import graft.sources.Layout
import graft.sources.Layout.ColRange

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_layout_$tag").toFile
    d.deleteOnExit()
    new java.io.File(d, "data").getPath
  }

  /** Morton interleave of two 16-bit ranks, reference implementation. */
  private def morton2(a: Long, b: Long): Long =
    (0 until 16).foldLeft(0L) { (acc, j) =>
      acc | (((a >> j) & 1L) << (j * 2)) | (((b >> j) & 1L) << (j * 2 + 1))
    }

  test("z-order write clusters rows by the Morton interleave of dim ranks") {
    // A 2-D grid with known ranks: x,y in 0..15 so scaled rank == value
    // scaled up to 16 bits — verify ORDER, the only thing the layout is.
    val n = 16
    val grid = spark.range(n.toLong * n)
      .select((col("id") % n).cast("long").as("x"),
              (col("id") / n).cast("long").as("y"))
    val dir = tmpDir("grid")
    Layout.writeZOrdered(grid, dir, "x", "y", files = 1)
    val written = spark.read.parquet(dir).select("x", "y")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // ranks scale to 16 bits with norm16's exact FP operation order
    // ((v - lo) / (hi - lo) * 65536, clamped) — a mathematically
    // equivalent formula can differ by 1 ulp and Morton order is not
    // monotone-transform invariant
    def rank(v: Long): Long =
      math.max(0L, math.min(65535L,
        math.floor((v - 0.0) / (15.0 - 0.0) * 65536.0).toLong))
    val expected = written.sortBy { case (x, y) => morton2(rank(x), rank(y)) }
    assert(written.toSeq == expected.toSeq,
      "file order must be exactly the Morton order of the scaled ranks")
  }

  test("pruned read is row-identical to a full-scan filter, and skips files") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val dir = tmpDir("li")
    Layout.writeZOrdered(li, dir, "l_shipdate", "l_partkey", files = 16)
    Layout.writeManifest(spark, dir, dims)

    val ranges = Seq(
      ColRange("l_shipdate",
        lit("1996-01-01").cast("timestamp"),
        lit("1996-06-30").cast("timestamp")),
      ColRange("l_partkey", lit(1L), lit(50L)))

    val pruned = Layout.prunedRead(spark, dir, ranges)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .collect()
    val full = li
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
              col("l_shipdate") <= lit("1996-06-30").cast("timestamp") &&
              col("l_partkey").between(1L, 50L))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .collect()
    assert(pruned.toSeq == full.toSeq)

    val (files, total) = Layout.pruneFiles(spark, dir, ranges)
    assert(total == 16, s"expected 16 data files, manifest saw $total")
    assert(files.nonEmpty && files.size < total.toInt,
      s"selective 2-D slice should skip files: kept ${files.size}/$total")
  }

  test("a z-ordered layout prunes more files than a 1-D sorted layout " +
       "on the second dimension") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")

    val zDir = tmpDir("z")
    Layout.writeZOrdered(li, zDir, "l_shipdate", "l_partkey", files = 16)
    Layout.writeManifest(spark, zDir, dims)

    // 1-D control: range-sorted by shipdate ONLY, same file count
    val oneDir = tmpDir("one")
    li.repartitionByRange(16, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(oneDir)
    Layout.writeManifest(spark, oneDir, dims)

    // predicate on the SECOND dimension only — the one the 1-D sort
    // cannot cluster. Z-order keeps partkey ranges tight per file; the
    // shipdate sort leaves every file spanning ~the full partkey domain.
    val pk = Seq(ColRange("l_partkey", lit(1L), lit(40L)))
    val (zKept, zTotal) = Layout.pruneFiles(spark, zDir, pk)
    val (oneKept, oneTotal) = Layout.pruneFiles(spark, oneDir, pk)
    assert(zTotal == 16 && oneTotal == 16)
    assert(zKept.size < oneKept.size,
      s"z-order should skip more: z kept ${zKept.size}, 1-D kept ${oneKept.size}")
    // and the pruned read over the control layout is still CORRECT —
    // pruning is conservative for any layout
    val a = Layout.prunedRead(spark, oneDir, pk).agg(count(lit(1))).head().getLong(0)
    val b = li.filter(col("l_partkey").between(1L, 40L)).count()
    assert(a == b)
  }

  /** N-way Morton interleave, reference implementation: dim d bit j →
    * key bit j·n + d. */
  private def mortonN(ranks: Seq[Long], bits: Int): Long = {
    val n = ranks.size
    ranks.zipWithIndex.foldLeft(0L) { case (acc, (v, d)) =>
      (0 until bits).foldLeft(acc) { (a, j) =>
        a | (((v >> j) & 1L) << (j * n + d))
      }
    }
  }

  test("3-D z-order write clusters rows by the N-way Morton interleave") {
    val n = 8
    val grid = spark.range(n.toLong * n * n)
      .select((col("id") % n).cast("long").as("x"),
              ((col("id") / n) % n).cast("long").as("y"),
              (col("id") / (n * n)).cast("long").as("z"))
    val dir = tmpDir("grid3")
    Layout.writeZOrdered(grid, dir, Seq("x", "y", "z"), files = 1)
    val written = spark.read.parquet(dir).select("x", "y", "z")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def rank(v: Long): Long =
      math.max(0L, math.min(65535L,
        math.floor((v - 0.0) / (7.0 - 0.0) * 65536.0).toLong))
    val expected = written.sortBy { case (x, y, z) =>
      mortonN(Seq(rank(x), rank(y), rank(z)), 16) }
    assert(written.toSeq == expected.toSeq,
      "file order must be exactly the 3-way Morton order of scaled ranks")
  }

  test("a 3-D z-order layout prunes on the THIRD dimension; the 2-D layout cannot") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims3 = Seq("l_shipdate", "l_partkey", "l_suppkey")

    val z3 = tmpDir("z3")
    Layout.writeZOrdered(li, z3, dims3, files = 16)
    Layout.writeManifest(spark, z3, dims3)

    // 2-D control clustered on (shipdate, partkey) only — but statted
    // for all three dims, so both manifests can evaluate the predicate
    val z2 = tmpDir("z2ctl")
    Layout.writeZOrdered(li, z2, "l_shipdate", "l_partkey", files = 16)
    Layout.writeManifest(spark, z2, dims3)

    // suppkey-only predicate: the dimension only the 3-D layout clusters
    val lo = li.agg(min(col("l_suppkey"))).head().getLong(0)
    val sk = Seq(ColRange("l_suppkey", lit(lo), lit(lo + 1)))
    val (kept3, t3) = Layout.pruneFiles(spark, z3, sk)
    val (kept2, t2) = Layout.pruneFiles(spark, z2, sk)
    assert(t3 == 16 && t2 == 16)
    assert(kept3.size < kept2.size,
      s"3-D should skip on suppkey: z3 kept ${kept3.size}, 2-D kept ${kept2.size}")

    // correctness invariant holds for the 3-D pruned path
    val a = Layout.prunedRead(spark, z3, sk)
      .agg(count(lit(1))).head().getLong(0)
    assert(a == li.filter(col("l_suppkey").between(lo, lo + 1)).count())
  }

  test("stale manifest: unmanifested data files are kept unpruned, never lost") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val dir = tmpDir("stale")
    val base = li.filter(col("l_orderkey") % 4 =!= 0)
    val batch = li.filter(col("l_orderkey") % 4 === 0)
    Layout.writeZOrdered(base, dir, "l_shipdate", "l_partkey", files = 4)
    Layout.updateManifest(spark, dir, dims)
    // a batch lands WITHOUT its manifest update (crash between sink and
    // updateManifest, or an external writer): readers must still see it
    Layout.appendZOrdered(batch, dir, "l_shipdate", "l_partkey", files = 2)
    val ranges = Seq(ColRange("l_partkey", lit(10L), lit(59L)))
    val (kept, total) = Layout.pruneFiles(spark, dir, ranges)
    assert(total == 6, s"guard must count the 2 unmanifested files: $total")
    val got = Layout.prunedRead(spark, dir, ranges)
      .agg(count(lit(1))).head().getLong(0)
    val want = li.filter(col("l_partkey").between(10L, 59L)).count()
    assert(got == want,
      s"stale manifest lost rows: pruned=$got full=$want (kept ${kept.size}/$total)")
    // after the manifest catches up, the same read prunes again
    Layout.updateManifest(spark, dir, dims)
    assert(Layout.prunedRead(spark, dir, ranges)
      .agg(count(lit(1))).head().getLong(0) == want)
  }

  test("manifests are per-flat-directory: a partitioned path is rejected loudly") {
    val dir = tmpDir("part")
    Seq((1L, "a"), (2L, "b")).toDF("id", "k")
      .write.partitionBy("k").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.updateManifest(spark, dir, Seq("id"))
    }
    assert(e.getMessage.contains("per-flat-directory"))
    intercept[IllegalArgumentException] {
      Layout.writeManifest(spark, dir, Seq("id"))
    }
  }

  test("files holding nulls in a ranged dimension survive pruning") {
    val dir = tmpDir("nulls")
    // one file per row via four single-partition appends → the null row
    // is alone in a file whose v-stats are all-null
    Seq[(Long, Option[Long])]((1L, Some(10L)), (2L, Some(20L)),
        (3L, None), (4L, Some(40L))).foreach { row =>
      Seq(row).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    Layout.writeManifest(spark, dir, Seq("v"))
    val (files, total) = Layout.pruneFiles(spark, dir,
      Seq(ColRange("v", lit(15L), lit(25L))))
    assert(total == 4)
    // kept: the v=20 file (range hit) AND the null file (conservative);
    // the v=10 and v=40 files are provably disjoint
    assert(files.size == 2, s"kept ${files.size}, expected 2")
    // the final filter still excludes the null row
    val rows = Layout.prunedRead(spark, dir,
        Seq(ColRange("v", lit(15L), lit(25L))))
      .select("id").as[Long].collect().toSeq
    assert(rows == Seq(2L))
  }

  test("range filters push to the parquet scan of the pruned read") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val dir = tmpDir("push")
    Layout.writeZOrdered(li, dir, "l_shipdate", "l_partkey", files = 4)
    Layout.writeManifest(spark, dir, dims)
    val df = Layout.prunedRead(spark, dir,
      Seq(ColRange("l_partkey", lit(1L), lit(40L))))
    val scans = df.queryExecution.executedPlan.collect {
      case a: AdaptiveSparkPlanExec => a.inputPlan.collect {
        case s: FileSourceScanExec => s
      }
      case s: FileSourceScanExec => Seq(s)
    }.flatten
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]")).mkString
    assert(pushed.contains("GreaterThanOrEqual(l_partkey") &&
           pushed.contains("LessThanOrEqual(l_partkey"),
      s"range must reach the scan, got: $pushed")
  }

  test("empty prune result yields a schema-stable empty frame") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(100)
    val dir = tmpDir("empty")
    Layout.writeZOrdered(li, dir, "l_partkey", "l_orderkey", files = 2)
    Layout.writeManifest(spark, dir, Seq("l_partkey"))
    val out = Layout.prunedRead(spark, dir,
      Seq(ColRange("l_partkey", lit(-10L), lit(-1L))))
    assert(out.schema.fieldNames.toSeq ==
           spark.read.parquet(dir).schema.fieldNames.toSeq)
    assert(out.count() == 0)
  }

  test("incremental append + manifest update equal a one-shot build; " +
       "the update never rescans the base") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val base  = li.filter(col("l_orderkey") % 4 =!= 0) // ~4500 rows
    val batch = li.filter(col("l_orderkey") % 4 === 0) // ~1500 rows
    val dir = tmpDir("inc")
    Layout.writeZOrdered(base, dir, "l_shipdate", "l_partkey", files = 8)
    assert(Layout.updateManifest(spark, dir, dims) == 8) // bootstrap path

    // records read while updating after the append must be batch-sized,
    // not table-sized — THE incremental claim, pinned behaviorally
    Layout.appendZOrdered(batch, dir, "l_shipdate", "l_partkey", files = 2)
    var statted = -1
    val read = readDuring {
      statted = Layout.updateManifest(spark, dir, dims)
    }.records
    assert(statted == 2, s"update statted $statted files, appended 2")
    val batchRows = batch.count()
    val baseRows = base.count()
    assert(read < batchRows + 100,
      s"manifest update read $read records — more than the " +
        s"$batchRows-row batch + manifest; it must never rescan the " +
        s"$baseRows-row base")
    // idempotent no-op
    assert(Layout.updateManifest(spark, dir, dims) == 0)

    // the incrementally-built manifest answers exactly like a full scan
    val ranges = Seq(
      ColRange("l_shipdate",
        lit("1997-01-01").cast("timestamp"),
        lit("1997-12-31").cast("timestamp")),
      ColRange("l_partkey", lit(10L), lit(59L)))
    val pruned = Layout.prunedRead(spark, dir, ranges)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").collect()
    val full = li
      .filter(col("l_shipdate").between(lit("1997-01-01").cast("timestamp"),
                lit("1997-12-31").cast("timestamp")) &&
              col("l_partkey").between(10L, 59L))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").collect()
    assert(pruned.toSeq == full.toSeq)

    // compaction: many manifest files -> one, identical rows
    val before = spark.read.parquet(Layout.manifestPath(dir))
      .orderBy("file_name").collect()
    def manifestFiles(): Int =
      new java.io.File(Layout.manifestPath(dir)).listFiles()
        .count(_.getName.endsWith(".parquet"))
    assert(manifestFiles() >= 2) // bootstrap + append wrote separately
    Layout.compactManifest(spark, dir)
    assert(manifestFiles() == 1)
    val after = spark.read.parquet(Layout.manifestPath(dir))
      .orderBy("file_name").collect()
    assert(after.toSeq == before.toSeq)
    // and pruning still answers identically off the compacted manifest
    val pruned2 = Layout.prunedRead(spark, dir, ranges)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").collect()
    assert(pruned2.toSeq == full.toSeq)
  }

  test("unordered dimension types are rejected loudly") {
    val df = Seq((Seq(1, 2), 1L)).toDF("s", "v")
    val e = intercept[IllegalArgumentException] {
      Layout.writeZOrdered(df, tmpDir("bad"), "s", "v", files = 1)
    }
    assert(e.getMessage.contains("unordered type"))
  }

  test("string dims z-cluster by the prefix-stripped byte image: " +
      "URL-shaped keys prune files despite a long shared prefix") {
    // every key shares 'https://site.example/u/' — a naive first-6-byte
    // image would collapse the whole batch to one curve cell
    val df = spark.range(0L, 2000L).select(
      concat(lit("https://site.example/u/"),
        lpad(col("id").cast("string"), 6, "0")).as("url"),
      col("id").as("v"))
    val dir = tmpDir("strz")
    Layout.writeZOrdered(df, dir, Seq("url"), files = 8)
    Layout.writeManifest(spark, dir, Seq("url"))
    val lo = "https://site.example/u/000100"
    val hi = "https://site.example/u/000299"
    val ranges = Seq(ColRange("url", lit(lo), lit(hi)))
    val pruned = Layout.prunedRead(spark, dir, ranges)
      .orderBy("v").collect().map(_.getLong(1)).toSeq
    assert(pruned == (100L to 299L))
    val (files, total) = Layout.pruneFiles(spark, dir, ranges)
    assert(total == 8, s"expected 8 data files, manifest saw $total")
    assert(files.size < total.toInt,
      s"a 10% slice of prefix-shared keys should skip files: " +
        s"kept ${files.size}/$total")
  }

  test("string image is monotonic: mixed-length and multi-byte keys " +
      "round-trip a pruned read row-identically") {
    val keys = Seq("a", "ab", "abc", "abcdef", "abcdefg", "b", "ba",
      "émile", "émilie", "zèta", "zz", "κάππα", "κάλος", "中文键",
      "中文鍵值", "")
    val df = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("k", "v")
    val dir = tmpDir("strmono")
    Layout.writeZOrdered(df, dir, Seq("k"), files = 4)
    Layout.writeManifest(spark, dir, Seq("k"))
    val ranges = Seq(ColRange("k", lit("ab"), lit("é")))
    val pruned = Layout.prunedRead(spark, dir, ranges)
      .select("k").collect().map(_.getString(0)).toSet
    val full = keys.filter(k => k >= "ab" && k <= "é").toSet
    assert(pruned == full)
  }

  // --- targeted deletes ---------------------------------------------

  private def dataFileNames(dir: String): Set[String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

  test("deleteByIds removes doomed rows, rewrites ONLY candidate files, " +
       "and leaves the manifest orphan-free") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_orderkey")
    val dir = tmpDir("del")
    Layout.writeZOrdered(li, dir, dims, files = 16)
    Layout.writeManifest(spark, dir, dims)
    val before = dataFileNames(dir)

    // a narrow band of consecutive order keys — only files whose
    // manifest orderkey range intersects it should be rewritten
    val keys = li.select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    val ids = keys.toDF("l_orderkey")
    val rewritten = Layout.deleteByIds(spark, dir, dims, "l_orderkey", ids)
    assert(rewritten > 0, "the doomed keys exist, so some file must rewrite")
    assert(rewritten < 16,
      s"a 5-key band must not force a full-table rewrite ($rewritten/16)")
    val untouched = before.intersect(dataFileNames(dir))
    assert(untouched.size == 16 - rewritten,
      "non-candidate files must survive byte-identically by name")

    // surviving content is exactly the table minus the doomed keys
    // ((l_orderkey, l_linenumber) is not unique in this data, so
    // compare full-row multisets)
    val got = spark.read.parquet(dir).collect().map(_.toString).sorted
    val want = li.filter(!col("l_orderkey").isin(keys: _*))
      .collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq)

    // manifest agrees with the directory: no orphan rows, no unseen
    // files — a pruned full-range read covers everything
    val (kept, total) = Layout.pruneFiles(spark, dir, Seq.empty)
    assert(total.toInt == dataFileNames(dir).size)
    assert(kept.map(n => new org.apache.hadoop.fs.Path(n).getName).toSet ==
      dataFileNames(dir))

    // replay: same ids again — no candidate holds a matching row now
    assert(Layout.deleteByIds(spark, dir, dims, "l_orderkey", ids) == 0)
    // absent ids — manifest range pruning may select candidates, but
    // no row matches, so nothing rewrites
    assert(Layout.deleteByIds(spark, dir, dims, "l_orderkey",
      Seq(-1L).toDF("l_orderkey")) == 0)
  }

  test("stale manifest: doomed rows in unmanifested files are still deleted") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_orderkey")
    val dir = tmpDir("delstale")
    val batchKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val base = li.filter(col("l_orderkey") =!= batchKey)
    val batch = li.filter(col("l_orderkey") === batchKey)
    Layout.writeZOrdered(base, dir, dims, files = 4)
    Layout.writeManifest(spark, dir, dims)
    Layout.appendZOrdered(batch, dir, dims, files = 1)
    // NO updateManifest: the batch's file is invisible to the manifest,
    // but its rows must still die — staleness may only cost rewrite
    // work, never retain a doomed row
    val n = Layout.deleteByIds(spark, dir, dims, "l_orderkey",
      Seq(batchKey).toDF("l_orderkey"))
    assert(n >= 1)
    assert(spark.read.parquet(dir)
      .filter(col("l_orderkey") === batchKey).count() == 0)
    // the reconcile that ran inside delete also adopted every file the
    // manifest had never seen
    val (kept, total) = Layout.pruneFiles(spark, dir, Seq.empty)
    assert(total.toInt == dataFileNames(dir).size &&
      kept.size == total.toInt)
  }

  test("deleteByIds matches null ids null-safely") {
    val df = Seq[(java.lang.Long, Long)]((1L, 10L), (2L, 20L),
      (null, 30L), (3L, 40L)).toDF("id", "v")
    val dims = Seq("id", "v")
    val dir = tmpDir("delnull")
    Layout.writeZOrdered(df, dir, dims, files = 2)
    Layout.writeManifest(spark, dir, dims)
    val ids = Seq[java.lang.Long](null).toDF("id")
    assert(Layout.deleteByIds(spark, dir, dims, "id", ids) >= 1)
    val left = spark.read.parquet(dir).orderBy("v")
      .collect().map(r => (Option(r.get(0)), r.getLong(1))).toSeq
    assert(left == Seq((Some(1L), 10L), (Some(2L), 20L), (Some(3L), 40L)))
  }

  test("delete column must be a manifest dimension, loudly") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(10)
    val dir = tmpDir("delbad")
    Layout.writeZOrdered(li, dir, Seq("l_shipdate", "l_partkey"), files = 1)
    val e = intercept[IllegalArgumentException] {
      Layout.deleteByIds(spark, dir, Seq("l_shipdate", "l_partkey"),
        "l_orderkey", Seq(1L).toDF("l_orderkey"))
    }
    assert(e.getMessage.contains("not a manifest dimension"))
  }

  test("reconcileManifest drops rows for vanished files and adopts " +
       "unseen ones — the delete-crash recovery path") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val dir = tmpDir("reconcile")
    Layout.writeZOrdered(li, dir, dims, files = 8)
    Layout.writeManifest(spark, dir, dims)
    // simulate an interrupted rewrite: one file vanishes, one lands
    // outside the manifest's knowledge
    val victim = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val lost = spark.read.parquet(victim.getPath).collect().length
    assert(victim.delete())
    li.limit(7).write.mode("append").parquet(dir)
    val (dropped, added) = Layout.reconcileManifest(spark, dir, dims)
    assert(dropped == 1 && added >= 1)
    // manifest and directory agree again; pruned full read works
    val (kept, total) = Layout.pruneFiles(spark, dir, Seq.empty)
    assert(total.toInt == dataFileNames(dir).size &&
      kept.size == total.toInt)
    assert(Layout.prunedRead(spark, dir, Seq.empty).count() ==
      li.count() - lost + 7)
    // idempotent
    assert(Layout.reconcileManifest(spark, dir, dims) == ((0, 0)))
  }

  test("reconcile's keep decision is a join plan, never an In-literal " +
       "over kept file names") {
    // At 100-TB file counts a driver-built isin(...) with one literal
    // per kept file is a planner hazard; the keep set must reach the
    // plan as a (broadcast) relation. Assert on the optimized plan of
    // the exact frame reconcileManifest writes.
    val df = Seq.tabulate(50)(i => (i.toLong, s"file:/tmp/part-$i.parquet"))
      .toDF("n_rows", "file_name")
    val present = (0 until 40).map(i => s"part-$i.parquet")
    val plan = Layout.keepRowsPlan(df, present).queryExecution.optimizedPlan
    val inExprs = plan.flatMap(_.expressions.flatMap(_.collect {
      case i: org.apache.spark.sql.catalyst.expressions.In => i
      case i: org.apache.spark.sql.catalyst.expressions.InSet => i
    }))
    assert(inExprs.isEmpty,
      s"keep decision planned an In/InSet literal: $inExprs")
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, "keep decision must be a join")
    // and it KEEPS the right rows
    assert(Layout.keepRowsPlan(df, present).count() == 40)
  }

  test("known-file discovery is an anti-join plan — the full manifest " +
       "name set never reaches the driver (VERDICT r9)") {
    // lookupByIds / updateManifest / delete discovery / pruneFiles'
    // staleness guard (r11) all subtract the manifest's names from the
    // directory listing; that subtraction must be planned as a join
    // against the manifest relation, with only the survivors (one
    // batch's unmanifested files) collected.
    val m = Seq.tabulate(50)(i => (i.toLong, s"file:/tmp/part-$i.parquet"))
      .toDF("n_rows", "file_name")
    val listed = (45 until 60).map(i => s"part-$i.parquet")
    val frame = Layout.unmanifestedNamesPlan(m, listed)
    val plan = frame.queryExecution.optimizedPlan
    val inExprs = plan.flatMap(_.expressions.flatMap(_.collect {
      case i: org.apache.spark.sql.catalyst.expressions.In => i
      case i: org.apache.spark.sql.catalyst.expressions.InSet => i
    }))
    assert(inExprs.isEmpty,
      s"known-file discovery planned an In/InSet literal: $inExprs")
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty, "known-file discovery must be a join")
    // survivors are exactly the names the manifest has never seen
    assert(frame.collect().map(_.getString(0)).sorted.toSeq ==
      (50 until 60).map(i => s"part-$i.parquet").sorted)
  }

  test("stagedSwap fails loudly on a pre-existing staged directory " +
       "(concurrent writer / crash residue), leaving the live table intact") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(50)
    val dir = tmpDir("collide")
    Layout.writeZOrdered(li, dir, Seq("l_partkey", "l_orderkey"), files = 2)
    Layout.writeManifest(spark, dir, Seq("l_partkey"))
    val mp = Layout.manifestPath(dir)
    val before = spark.read.parquet(mp).orderBy("file_name").collect()
    // a dead writer's residue (or a live concurrent compaction)
    val stagedDir = new java.io.File(mp + "_compacting")
    assert(stagedDir.mkdirs())
    val e = intercept[IllegalStateException] {
      Layout.compactManifest(spark, dir)
    }
    assert(e.getMessage.contains("already exists"))
    assert(spark.read.parquet(mp).orderBy("file_name").collect().toSeq ==
      before.toSeq, "live manifest must be untouched by the collision")
    // after the documented recovery (delete staged dir), the swap runs
    assert(stagedDir.delete())
    Layout.compactManifest(spark, dir)
    assert(spark.read.parquet(mp).orderBy("file_name").collect().length ==
      before.length)
  }

  test("gcStaged: old residue is reclaimed with the table intact, " +
       "fresh residue still throws, absent residue returns false") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(50)
    val dir = tmpDir("gcstaged")
    Layout.writeZOrdered(li, dir, Seq("l_partkey", "l_orderkey"), files = 2)
    Layout.writeManifest(spark, dir, Seq("l_partkey"))
    val mp = Layout.manifestPath(dir)
    val before = spark.read.parquet(mp).orderBy("file_name")
      .collect().toSeq
    val hourMs = 60L * 60L * 1000L

    assert(!Lifecycle.gcStaged(spark, mp, hourMs),
      "no residue: nothing to reclaim, no throw")

    // residue written just now: may be a LIVE writer — must throw,
    // must delete nothing
    val stagedDir = new java.io.File(mp + "_compacting")
    assert(stagedDir.mkdirs())
    val part = new java.io.File(stagedDir, "part-0.parquet")
    Files.write(part.toPath, Array[Byte](1, 2, 3))
    val fresh = intercept[IllegalStateException] {
      Lifecycle.gcStaged(spark, mp, hourMs)
    }
    assert(fresh.getMessage.contains("younger"))
    assert(stagedDir.exists() && part.exists(),
      "a fresh staging must never be clobbered by the gc")

    // the liveness signal is the NEWEST mtime anywhere under the
    // staging: an old dir whose writer just touched a file is live
    assert(stagedDir.setLastModified(
      System.currentTimeMillis() - 2 * hourMs))
    intercept[IllegalStateException] {
      Lifecycle.gcStaged(spark, mp, hourMs)
    }

    // age every entry past the bound: dead residue, reclaimed
    val old = System.currentTimeMillis() - 2 * hourMs
    assert(part.setLastModified(old) && stagedDir.setLastModified(old))
    assert(Lifecycle.gcStaged(spark, mp, hourMs))
    assert(!stagedDir.exists())
    assert(spark.read.parquet(mp).orderBy("file_name").collect().toSeq ==
      before, "gc touches only the staging, never the live table")

    // and the path is usable again: the next staged rewrite swaps clean
    Layout.compactManifest(spark, dir)
    assert(spark.read.parquet(mp).orderBy("file_name").collect().length ==
      before.length)

    // the SQL face: same semantics, receipt row back
    GraftExtensions.register(spark)
    assert(stagedDir.mkdirs())
    val part2 = new java.io.File(stagedDir, "part-0.parquet")
    Files.write(part2.toPath, Array[Byte](1))
    assert(part2.setLastModified(old) && stagedDir.setLastModified(old))
    val receipt = spark.sql(
      s"SELECT * FROM graft_gc_staged('$mp', ${hourMs}L)")
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(receipt == Seq((mp, true)) && !stagedDir.exists())
    // nothing left: reclaimed=false, no throw
    assert(spark.sql(s"SELECT * FROM graft_gc_staged('$mp', ${hourMs}L)")
      .collect().head.getBoolean(1) == false)
  }

  // --- keyed upsert (MERGE) -----------------------------------------

  test("upsertByIds replaces matched keys' row sets, inserts unseen keys, " +
       "rewrites only candidate files, and keeps the manifest exact") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_orderkey")

    // update batch: for 3 existing keys, REPLACE their line sets with a
    // single summary row each (per-key row count changes — the MERGE
    // contract); plus 2 brand-new keys
    val maxKey = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val hit = li.select(col("l_orderkey")).distinct()
      .orderBy(col("l_orderkey")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    val replaced = li.filter(col("l_orderkey").isin(hit: _*))
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_shipdate")).as("l_shipdate"),
        sum(col("l_quantity")).cast("double").as("l_quantity"))
      .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
    // brand-new keys derived from the same frame (types stay exact)
    val inserted = replaced.select(
      (col("l_orderkey") + lit(maxKey + 1)).as("l_orderkey"),
      col("l_shipdate"), col("l_quantity"))
    val updates = replaced.union(inserted)
    // project the table to the update schema first: MERGE requires a
    // consistent schema, and this spec cares about key semantics
    val slim = li
      .select(col("l_orderkey"), col("l_shipdate"),
        col("l_quantity").cast("double").as("l_quantity"))
    val slimDir = tmpDir("upsert_slim")
    Layout.writeZOrdered(slim, slimDir, dims, files = 16)
    Layout.writeManifest(spark, slimDir, dims)
    val beforeSlim = dataFileNames(slimDir)

    val rewritten = Layout.upsertByIds(spark, slimDir, dims, "l_orderkey",
      updates, files = 2)
    assert(rewritten > 0 && rewritten < 16,
      s"a 3-key band must rewrite some but not all files ($rewritten/16)")
    val untouched = beforeSlim.intersect(dataFileNames(slimDir))
    assert(untouched.size == 16 - rewritten,
      "non-candidate files must survive byte-identically by name")

    // table state: matched keys carry EXACTLY the batch's rows, unseen
    // keys landed, untouched keys intact
    val got = spark.read.parquet(slimDir)
      .collect().map(_.toString).sorted.toSeq
    val want = (slim.filter(!col("l_orderkey").isin(hit: _*)).collect() ++
      updates.collect()).map(_.toString).sorted.toSeq
    assert(got == want)

    // manifest agrees with the directory after both halves
    val (kept, total) = Layout.pruneFiles(spark, slimDir, Seq.empty)
    assert(total.toInt == dataFileNames(slimDir).size &&
      kept.size == total.toInt)
    // vault dropped on success
    assert(!new java.io.File(slimDir + "_upsert_vault").exists())
  }

  test("upsertByIds on a missing data path degrades to a pure insert") {
    val dir = tmpDir("upsert_first")
    assert(!new java.io.File(dir).exists())
    val batch = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val n = Layout.upsertByIds(spark, dir, Seq("id", "v"), "id", batch,
      files = 1)
    assert(n == 0)
    assert(spark.read.parquet(dir).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // manifest was created too: pruned reads work from batch one
    val (kept, total) = Layout.pruneFiles(spark, dir, Seq.empty)
    assert(total == 1L && kept.size == 1)
  }

  test("replayed upsert without a batchId converges; with a batchId it " +
       "is an exact no-op (no file rewritten, nothing appended)") {
    val dir = tmpDir("upsert_replay")
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
    Layout.writeZOrdered(base, dir, Seq("id", "v"), files = 3)
    Layout.writeManifest(spark, dir, Seq("id", "v"))
    val batch = Seq((2L, 99L), (4L, 40L)).toDF("id", "v")

    def state(): Seq[(Long, Long)] = spark.read.parquet(dir).orderBy("id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // un-ledgered replay: same table state, files rewritten again
    Layout.upsertByIds(spark, dir, Seq("id", "v"), "id", batch, files = 1)
    val s1 = state()
    Layout.upsertByIds(spark, dir, Seq("id", "v"), "id", batch, files = 1)
    assert(state() == s1, "un-ledgered replay must converge")
    assert(s1 == Seq((1L, 10L), (2L, 99L), (3L, 30L), (4L, 40L)))

    // ledgered: first run applies, replay is an exact no-op
    val batch2 = Seq((3L, 77L)).toDF("id", "v")
    val r1 = Layout.upsertByIds(spark, dir, Seq("id", "v"), "id", batch2,
      files = 1, batchId = Some("b-2024-001"))
    assert(r1 >= 0 && state().contains((3L, 77L)))
    val filesAfter = dataFileNames(dir)
    val r2 = Layout.upsertByIds(spark, dir, Seq("id", "v"), "id", batch2,
      files = 1, batchId = Some("b-2024-001"))
    assert(r2 == 0)
    assert(dataFileNames(dir) == filesAfter,
      "a ledger-skipped replay must not touch a single file")
    assert(state() == Seq((1L, 10L), (2L, 99L), (4L, 40L), (3L, 77L))
      .sorted.map(identity), "table state unchanged by the replay")
  }

  // --- partitioned-table composition --------------------------------

  test("partitioned z-order table: composed pruned read is row-identical " +
       "to a full-scan filter and skips both leaves and files") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val root = tmpDir("partz")
    Layout.writeZOrderedPartitioned(li, root, "l_returnflag", dims,
      files = 12)
    assert(Layout.updateManifestPartitioned(spark, root, dims) > 0)
    // idempotent refresh
    assert(Layout.updateManifestPartitioned(spark, root, dims) == 0)

    // _manifests must be invisible to a plain reader of the root
    assert(spark.read.parquet(root).count() == li.count())

    val ranges = Seq(
      Layout.ColRange("l_returnflag", lit("N"), lit("R")), // leaf level
      Layout.ColRange("l_partkey", lit(1L), lit(50L)))     // file level
    val got = Layout.prunedReadPartitioned(spark, root, ranges)
      .select(li.columns.map(col).toIndexedSeq: _*)
      .collect().map(_.toString).sorted.toSeq
    val want = li.filter(col("l_returnflag").between("N", "R") &&
        col("l_partkey").between(1L, 50L))
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)

    // leaf skipping: returnflag = 'A' leaf never contributes a file
    val one = Layout.prunedReadPartitioned(spark, root,
      Seq(Layout.ColRange("l_returnflag", lit("R"), lit("R"))))
    assert(one.select(col("l_returnflag")).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("R"))
    // file skipping within surviving leaves on the data dimension
    val full = Layout.prunedReadPartitioned(spark, root, Seq.empty)
      .inputFiles.length
    val sliced = Layout.prunedReadPartitioned(spark, root, ranges)
      .inputFiles.length
    assert(sliced < full,
      s"manifest pruning inside leaves must skip files: $sliced/$full")
  }

  test("partitioned read: a leaf without a manifest keeps all its files " +
       "(staleness costs skip rate, never rows)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet").limit(2000)
    val dims = Seq("l_partkey")
    val root = tmpDir("partstale")
    Layout.writeZOrderedPartitioned(li, root, "l_returnflag", dims,
      files = 6)
    // manifest only SOME leaves: delete one leaf's manifest after build
    Layout.updateManifestPartitioned(spark, root, dims)
    val mdirs = new java.io.File(root, "_manifests").listFiles()
    assert(mdirs.length >= 2)
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      assert(f.delete())
    }
    rmrf(mdirs.head)
    val ranges = Seq(Layout.ColRange("l_partkey", lit(1L), lit(80L)))
    val got = Layout.prunedReadPartitioned(spark, root, ranges)
      .agg(count(lit(1))).head().getLong(0)
    val want = li.filter(col("l_partkey").between(1L, 80L)).count()
    assert(got == want)
  }

  test("partitioned helpers reject non-hive or mixed-key roots loudly") {
    val root = tmpDir("partbad")
    Seq((1L, "a", 1L), (2L, "b", 2L)).toDF("id", "k", "j")
      .write.partitionBy("k").parquet(root)
    // a second, different partition key appears
    Seq((3L, "c", 3L)).toDF("id", "k", "j")
      .write.partitionBy("j").mode("append").parquet(root)
    val e = intercept[IllegalArgumentException] {
      Layout.updateManifestPartitioned(spark, root, Seq("id"))
    }
    assert(e.getMessage.contains("mixed partition keys"))
    val e2 = intercept[IllegalArgumentException] {
      Layout.writeZOrderedPartitioned(
        Seq((1L, "a")).toDF("id", "k"), tmpDir("partbad2"), "k", Seq("k"),
        files = 1)
    }
    assert(e2.getMessage.contains("cannot be a z-order dim"))
  }

  test("deleteRetaining moves rewritten originals into the vault, " +
       "readable until the caller drops them") {
    val df = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("id", "v")
    val dims = Seq("id", "v")
    val dir = tmpDir("vault")
    Layout.writeZOrdered(df, dir, dims, files = 2)
    Layout.writeManifest(spark, dir, dims)
    val vault = dir + "_vault"
    val n = Layout.deleteRetaining(spark, dir, dims, "id",
      Seq(1L).toDF("id"), vault = Some(vault))
    assert(n >= 1)
    // the vaulted originals hold the PRE-delete rows of the rewritten
    // files — including the doomed row
    val vaultFiles = new java.io.File(vault).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(vaultFiles.length == n, "one vaulted original per rewritten file")
    val vaulted = spark.read.parquet(vaultFiles.toIndexedSeq: _*)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(vaulted.contains((1L, 10L)),
      s"vault must retain the deleted row's original file: $vaulted")
    // and the live table no longer has it
    assert(spark.read.parquet(dir).filter(col("id") === 1L).count() == 0)
    // retired staging dir is gone (promoted into the vault)
    assert(!new java.io.File(dir + "_delete_retired").exists())
  }

  test("bloomFor columns carry a screening structure in every row " +
       "group — a bloom filter, or parquet's full dictionary when the " +
       "chunk dict-encodes completely; unrequested columns pay for " +
       "neither") {
    import scala.jdk.CollectionConverters._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val conf = spark.sparkContext.hadoopConfiguration
    def chunks(dir: String) = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet"))
      files.flatMap { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getPath), conf))
        try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .map(c => (c.getPath.toDotString, c.getBloomFilterOffset,
            c.getEncodingStats != null &&
              !c.getEncodingStats.hasNonDictionaryEncodedPages))
          .toSeq
        finally r.close()
      }.toSeq
    }
    // dictionary disabled: the bloom filter MUST be physically present
    // (this is what proves the option reaches the parquet writer)
    val dir = tmpDir("bloom")
    Layout.writeZOrdered(li, dir, Seq("l_shipdate", "l_partkey"),
      files = 4, bloomFor = Seq("l_orderkey"),
      options = Map("parquet.enable.dictionary" -> "false"))
    val cs = chunks(dir)
    assert(cs.nonEmpty)
    assert(cs.filter(_._1 == "l_orderkey").forall(_._2 > 0),
      s"l_orderkey must carry a bloom filter in every row group: $cs")
    assert(cs.filter(_._1 == "l_partkey").forall(_._2 <= 0),
      "unrequested columns must not pay for bloom filters")
    // default write: low-cardinality chunks dict-encode fully and
    // parquet drops the redundant bloom — one exact screening
    // structure or the other, never neither
    val dir2 = tmpDir("bloomdict")
    Layout.writeZOrdered(li, dir2, Seq("l_shipdate", "l_partkey"),
      files = 4, bloomFor = Seq("l_orderkey"))
    assert(chunks(dir2).filter(_._1 == "l_orderkey")
      .forall(c => c._2 > 0 || c._3),
      "every requested chunk needs bloom OR a complete dictionary")
  }

  test("lookupByIds: row-identical to the plain IN filter; a manifest-" +
       "dim probe opens fewer files; the IN pushes to the scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val dir = tmpDir("needle")
    Layout.writeZOrdered(li, dir, dims, files = 16,
      bloomFor = Seq("l_orderkey"))
    Layout.writeManifest(spark, dir, dims)
    // non-dim probe column: no file-level stats, bloom territory
    val ids = Seq(3L, 7L, 500L)
    val got = Layout.lookupByIds(spark, dir, "l_orderkey", ids)
    assert(got.collect().map(_.toString).sorted.toSeq ==
      li.filter(col("l_orderkey").isin(ids: _*))
        .collect().map(_.toString).sorted.toSeq)
    val pushed = got.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters") && pushed.contains("In(l_orderkey"),
      s"the IN must reach the parquet scan:\n$pushed")
    // manifest-dim probe: per-file [min,max] drops files before the scan
    val byDim = Layout.lookupByIds(spark, dir, "l_partkey", Seq(42L))
    assert(byDim.collect().map(_.toString).sorted.toSeq ==
      li.filter(col("l_partkey") === 42L)
        .collect().map(_.toString).sorted.toSeq)
    assert(byDim.inputFiles.length < 16,
      s"dim-stat pruning must drop files: ${byDim.inputFiles.length}/16")
  }

  test("partitioned append routes rows to their leaves — including new " +
       "ones — and the composed read stays row-identical before AND " +
       "after the manifest refresh") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val root = tmpDir("partapp")
    val first = li.filter(col("l_orderkey") % 2 === 0)
    val second = li.filter(col("l_orderkey") % 2 =!= 0)
    Layout.writeZOrderedPartitioned(
      first.filter(col("l_returnflag") =!= "A"), root, "l_returnflag",
      dims, files = 8)
    Layout.updateManifestPartitioned(spark, root, dims)
    // the append touches existing leaves AND creates the 'A' leaf the
    // table has never seen
    Layout.appendZOrderedPartitioned(
      second.unionAll(first.filter(col("l_returnflag") === "A")),
      root, "l_returnflag", dims, files = 8)
    val ranges = Seq(
      Layout.ColRange("l_returnflag", lit("A"), lit("N")),
      Layout.ColRange("l_partkey", lit(1L), lit(60L)))
    def got(): Seq[String] =
      Layout.prunedReadPartitioned(spark, root, ranges)
        .select(li.columns.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).sorted.toSeq
    val want = li.filter(col("l_returnflag").between("A", "N") &&
        col("l_partkey").between(1L, 60L))
      .collect().map(_.toString).sorted.toSeq
    // BEFORE the refresh: appended files are unmanifested in old
    // leaves, and the 'A' leaf has no manifest at all — both are
    // conservatively kept, so staleness costs skip rate, never rows
    assert(got() == want)
    assert(Layout.updateManifestPartitioned(spark, root, dims) > 0)
    assert(got() == want)
  }

  test("compactPartitioned rewrites only over-budget leaves, preserves " +
       "rows exactly, and keeps pruned reads manifest-consistent") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val root = tmpDir("partcomp")
    Layout.writeZOrderedPartitioned(li, root, "l_returnflag", dims,
      files = 6)
    // pile small files onto every leaf via 4 appends
    (1 to 4).foreach { i =>
      Layout.appendZOrderedPartitioned(
        li.filter(col("l_orderkey") % 4 === i % 4), root, "l_returnflag",
        dims, files = 6)
    }
    Layout.updateManifestPartitioned(spark, root, dims)
    val before = spark.read.parquet(root)
    val beforeRows = before.collect().map(_.toString).sorted.toSeq
    val filesBefore = before.inputFiles.length
    val compacted =
      Layout.compactPartitioned(spark, root, dims, filesPerLeaf = 2,
        maxFilesPerLeaf = 3)
    assert(compacted >= 1)
    val after = spark.read.parquet(root)
    assert(after.inputFiles.length < filesBefore,
      s"compaction must shrink file count: ${after.inputFiles.length}" +
        s"/$filesBefore")
    assert(after.collect().map(_.toString).sorted.toSeq == beforeRows)
    // idempotent once under budget
    assert(Layout.compactPartitioned(spark, root, dims, filesPerLeaf = 2,
      maxFilesPerLeaf = 3) == 0)
    // manifests reconciled: pruned read row-identical and skipping
    val ranges = Seq(Layout.ColRange("l_partkey", lit(1L), lit(40L)))
    val got = Layout.prunedReadPartitioned(spark, root, ranges)
      .agg(count(lit(1))).head().getLong(0)
    val want = spark.read.parquet(root)
      .filter(col("l_partkey").between(1L, 40L)).count()
    assert(got == want)
  }

  test("compactPartitioned fails loudly on a pre-existing staged " +
       "directory instead of clobbering a concurrent writer") {
    val df = Seq((1L, "a", 1L), (2L, "a", 2L), (3L, "a", 3L))
      .toDF("id", "k", "v")
    val root = tmpDir("partcollide")
    (1 to 4).foreach { _ =>
      Layout.appendZOrderedPartitioned(df, root, "k", Seq("id", "v"),
        files = 1)
    }
    val staged = new java.io.File(
      new java.io.File(root, "_compact"), "k=a__staged")
    assert(staged.mkdirs())
    val e = intercept[IllegalStateException] {
      Layout.compactPartitioned(spark, root, Seq("id", "v"),
        filesPerLeaf = 1, maxFilesPerLeaf = 2)
    }
    assert(e.getMessage.contains("already exists"))
    // the leaf is untouched
    assert(spark.read.parquet(root).count() == 12)
  }

  test("dropPartition removes the leaf AND its manifest; a recreated " +
       "partition starts clean") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "b")).toDF("id", "k")
    val root = tmpDir("partdrop")
    Layout.writeZOrderedPartitioned(df, root, "k", Seq("id"), files = 2)
    Layout.updateManifestPartitioned(spark, root, Seq("id"))
    assert(Layout.dropPartition(spark, root, "k=b"))
    assert(!new java.io.File(new java.io.File(root, "_manifests"), "k=b")
      .exists())
    assert(Layout.prunedReadPartitioned(spark, root, Seq.empty)
      .select(col("id")).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // dropping again: no-op, false
    assert(!Layout.dropPartition(spark, root, "k=b"))
    // recreate the partition — the read must NOT see stale manifest rows
    Layout.appendZOrderedPartitioned(Seq((9L, "b")).toDF("id", "k"),
      root, "k", Seq("id"), files = 1)
    Layout.updateManifestPartitioned(spark, root, Seq("id"))
    assert(Layout.prunedReadPartitioned(spark, root,
        Seq(Layout.ColRange("id", lit(1L), lit(9L))))
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 9L))
    // bare values are rejected, not silently ignored
    intercept[IllegalArgumentException] {
      Layout.dropPartition(spark, root, "b")
    }
  }

  test("deleteByIdsPartitioned removes the ids from every leaf and " +
       "rewrites nothing in leaves whose manifest excludes them") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val dims = Seq("l_shipdate", "l_partkey")
    val root = tmpDir("partdel")
    Layout.writeZOrderedPartitioned(li, root, "l_returnflag", dims,
      files = 24)
    Layout.updateManifestPartitioned(spark, root, dims)
    // a NARROW id set (one corner of the key range): the z-layout's
    // per-file partkey boxes must exclude it for most files — the
    // manifest-bounded rewrite is the point of the per-leaf pruning
    val doomed = li.select(col("l_partkey")).distinct()
      .filter(col("l_partkey").between(1L, 5L))
    val doomedSet = doomed.collect().map(_.getLong(0)).toSet
    assert(doomedSet.nonEmpty)
    val filesBefore = spark.read.parquet(root).inputFiles.toSet
    val rewritten =
      Layout.deleteByIdsPartitioned(spark, root, dims, "l_partkey", doomed)
    assert(rewritten >= 1)
    val after = spark.read.parquet(root)
    assert(after.filter(col("l_partkey").isin(doomedSet.toSeq: _*))
      .count() == 0)
    assert(after.count() ==
      li.filter(!col("l_partkey").isin(doomedSet.toSeq: _*)).count())
    // untouched files keep their names: the rewrite is bounded by the
    // per-leaf manifest candidates, not the table
    val filesAfter = after.inputFiles.toSet
    assert((filesBefore intersect filesAfter).nonEmpty,
      "a partition-wide delete must not rewrite every file")
    // replay: nothing left to delete anywhere
    assert(Layout.deleteByIdsPartitioned(spark, root, dims, "l_partkey",
      doomed) == 0)
    // composed pruned read agrees post-delete
    val got = Layout.prunedReadPartitioned(spark, root,
        Seq(Layout.ColRange("l_partkey", lit(1L), lit(80L))))
      .agg(count(lit(1))).head().getLong(0)
    val want = li.filter(col("l_partkey").between(1L, 80L) &&
      !col("l_partkey").isin(doomedSet.toSeq: _*)).count()
    assert(got == want)
  }

  test("deleteByIdsPartitioned leaf pre-pruning is staleness-safe: a " +
       "doomed id living ONLY in an unmanifested file of a stats-" +
       "missing leaf is still deleted") {
    import spark.implicits._
    val dims = Seq("l_shipdate", "l_partkey")
    val root = tmpDir("partdelstale")
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_partkey") <= 50L)
    Layout.writeZOrderedPartitioned(base, root, "l_returnflag", dims,
      files = 6)
    Layout.updateManifestPartitioned(spark, root, dims)
    // land a fresh batch in ONE leaf with partkeys far outside every
    // manifested file's stats, WITHOUT refreshing that leaf's manifest
    // — the leaf's stats now exclude the doomed ids, so only the
    // unmanifested-file guard can route the delete there
    val leaf = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("l_returnflag="))
      .map(_.getName).sorted.head
    val fresh = base.limit(3)
      .withColumn("l_partkey", col("l_partkey") + 100000L)
    fresh.write.mode("append").parquet(s"$root/$leaf")
    val freshKeys = fresh.select(col("l_partkey")).distinct()
      .as[Long].collect().toSet
    val n = Layout.deleteByIdsPartitioned(spark, root, dims, "l_partkey",
      freshKeys.toSeq.toDF("l_partkey"))
    assert(n >= 1, "the stale leaf must be processed, not stats-skipped")
    val after = spark.read.parquet(root)
    assert(after.filter(col("l_partkey") >= 100000L).count() == 0,
      "unmanifested rows outside every manifest's stats must still die")
    assert(after.count() == base.count(),
      "exactly the appended fresh rows are gone — base rows intact")
  }

  test("stat-schema drift is pruning-conservative: files manifested " +
       "before a dims change are KEPT on the new dim, never silently " +
       "pruned (nulls-discriminator under mergeSchema)") {
    import spark.implicits._
    val dir = tmpDir("dimsdrift")
    val oldBatch = (0L until 40L).map(i => (i, i * 10L))
      .toDF("x", "y")
    oldBatch.write.parquet(dir)
    Layout.writeManifest(spark, dir, Seq("x")) // pre-change: x stats only
    val newBatch = (100L until 140L).map(i => (i, i * 10L))
      .toDF("x", "y")
    newBatch.write.mode("append").parquet(dir)
    Layout.updateManifest(spark, dir, Seq("x", "y")) // post-change dims
    // range on the NEW dim: old-manifest files carry no y stats and
    // must all be kept; new files prune by theirs
    val ranges = Seq(Layout.ColRange("y", lit(0L), lit(200L)))
    val (kept, total) = Layout.pruneFiles(spark, dir, ranges)
    assert(total >= 2 && kept.nonEmpty)
    val got = Layout.prunedRead(spark, dir, ranges)
      .select(col("x")).as[Long].collect().sorted.toSeq
    assert(got == (0L until 21L).toSeq,
      "rows from pre-change files must survive the y-range read")
    // and the delete side: a doomed y living only in a pre-change file
    // still dies (its file cannot be proven id-free)
    val n = Layout.deleteByIds(spark, dir, Seq("x", "y"), "y",
      Seq(50L).toDF("y"))
    assert(n >= 1, "pre-change files cannot be proven y-free, so the " +
      "delete must reach them")
    assert(spark.read.parquet(dir).filter(col("y") === 50L).count() == 0)
  }

  test("partition values with URI-encodable characters: manifest " +
       "matching decodes the leaf segment, so refresh is idempotent " +
       "and reads stay row-identical") {
    import spark.implicits._
    val root = tmpDir("spacedpart")
    // 'a+b' is the ADVICE-r11 case: Hive path escaping leaves '+' raw,
    // but URLDecoder turns a raw '+' into a space — a decoder with
    // form-encoding semantics maps leaf 'part=a+b' to 'a b', never
    // matching its own manifest rows (refresh then re-stats forever).
    val df = (0L until 60L).map(i =>
      (Seq("a b", "c:d", "a+b")((i % 3L).toInt), i, i * 3L))
      .toDF("part", "id", "v")
    Layout.writeZOrderedPartitioned(df, root, "part", Seq("id"),
      files = 4)
    val first = Layout.updateManifestPartitioned(spark, root, Seq("id"))
    assert(first > 0)
    assert(Layout.updateManifestPartitioned(spark, root, Seq("id")) == 0,
      "a second refresh must see every file as manifested — an " +
        "encoding mismatch would re-stat (and duplicate) forever")
    val ranges = Seq(Layout.ColRange("id", lit(10L), lit(40L)))
    val got = Layout.prunedReadPartitioned(spark, root, ranges)
      .select(col("id")).as[Long].collect().sorted.toSeq
    assert(got == (10L to 40L).toSeq,
      "each row exactly once — an encoding mismatch would duplicate " +
        "files through the unmanifested path")
    // a partition-column range that selects EXACTLY the '+' leaf: the
    // driver-side leaf selection must decode 'a+b' as 'a+b', not 'a b'
    // (which sorts before 'a+a' and would wrongly prune the leaf —
    // silent row loss)
    val plusOnly = Layout.prunedReadPartitioned(spark, root,
        Seq(Layout.ColRange("part", lit("a+a"), lit("a+c"))))
      .select(col("id")).as[Long].collect().sorted.toSeq
    assert(plusOnly == (0L until 60L).filter(_ % 3 == 2).toSeq,
      "the a+b leaf's rows, all of them, and only them")
    val n = Layout.deleteByIdsPartitioned(spark, root, Seq("id"), "id",
      Seq(11L, 12L).toDF("id"))
    assert(n == 2)
    assert(spark.read.parquet(root)
      .filter(col("id").isin(11L, 12L)).count() == 0)
  }

  // --- r12 review hardening: crash residue, mixed schemas, empties ---

  test("manifest rewrites keep EVERY stat column across a dims change: " +
       "compactManifest and the delete's auto-reconcile read merged") {
    import spark.implicits._
    val dir = tmpDir("mixschema")
    val df = (0L until 40L).map(i => (i, i * 2, s"s$i")).toDF("a", "b", "s")
    Layout.writeZOrdered(df.filter($"a" < 20), dir, Seq("a"), files = 2)
    Layout.writeManifest(spark, dir, Seq("a"))
    // dims change: later segments carry b's stats too
    Layout.appendZOrdered(df.filter($"a" >= 20), dir, Seq("a", "b"), files = 2)
    Layout.updateManifest(spark, dir, Seq("a", "b"))
    val mp = Layout.manifestPath(dir)
    def cols() = spark.read.option("mergeSchema", "true").parquet(mp)
      .columns.toSet
    assert(cols().contains("min_b") && cols().contains("min_a"))
    // the compaction rewrite must not pick one segment's schema
    Layout.compactManifest(spark, dir)
    assert(cols().contains("min_b") && cols().contains("min_a"),
      "compaction permanently dropped a stat column")
    // pruned reads on BOTH dims still work after the rewrite
    assert(Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("b", lit(50L), lit(60L))))
      .select("a").as[Long].collect().sorted.toSeq ==
      (25L to 30L).toSeq)
    // the delete path auto-reconciles — that rewrite must merge too
    Layout.deleteByIds(spark, dir, Seq("a", "b"), "a", Seq(3L).toDF("a"))
    assert(cols().contains("min_b") && cols().contains("min_a"),
      "delete's reconcile rewrite dropped a stat column")
    assert(Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("b", lit(50L), lit(60L))))
      .select("a").as[Long].collect().sorted.toSeq == (25L to 30L).toSeq)
  }

  test("delete refuses to clobber crash residue: non-empty retired or " +
       "staged directories fail loudly with the table intact") {
    import spark.implicits._
    val dir = tmpDir("delresidue")
    val df = (0L until 30L).map(i => (i, i * 3)).toDF("id", "v")
    Layout.writeZOrdered(df, dir, Seq("id"), files = 2)
    Layout.writeManifest(spark, dir, Seq("id"))
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    // a crashed delete's retired dir: may be the ONLY copies
    val retired = new java.io.File(dir + "_delete_retired")
    assert(retired.mkdirs())
    Files.write(new java.io.File(retired, "part-old.parquet").toPath,
      Array[Byte](1))
    val e1 = intercept[IllegalStateException] {
      Layout.deleteByIds(spark, dir, Seq("id"), "id", Seq(5L).toDF("id"))
    }
    assert(e1.getMessage.contains("only copies"))
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq == before)
    assert(new java.io.File(retired, "part-old.parquet").exists(),
      "residue must be untouched")
    // recovered (emptied) residue no longer blocks
    assert(new java.io.File(retired, "part-old.parquet").delete())
    // a crashed delete's staged survivors block too
    val staged = new java.io.File(dir + "_deleting")
    assert(staged.mkdirs())
    Files.write(new java.io.File(staged, "part-x.parquet").toPath,
      Array[Byte](1))
    val e2 = intercept[IllegalStateException] {
      Layout.deleteByIds(spark, dir, Seq("id"), "id", Seq(5L).toDF("id"))
    }
    assert(e2.getMessage.contains("staged directory"))
    assert(new java.io.File(staged, "part-x.parquet").delete())
    // clear: the delete now runs
    assert(Layout.deleteByIds(spark, dir, Seq("id"), "id",
      Seq(5L).toDF("id")) >= 1)
    assert(spark.read.parquet(dir).filter($"id" === 5L).count() == 0)
  }

  test("upsert refuses a non-empty vault from a crashed run unless " +
       "resuming; the resume converges and clears it") {
    import spark.implicits._
    val dir = tmpDir("vaultresidue")
    val dims = Seq("id", "v")
    val df = (0L until 20L).map(i => (i, i * 10)).toDF("id", "v")
    Layout.writeZOrdered(df, dir, dims, files = 2)
    Layout.writeManifest(spark, dir, dims)
    // simulate a crash between the halves: vault holds originals
    val vault = new java.io.File(dir + "_upsert_vault")
    assert(vault.mkdirs())
    Files.write(new java.io.File(vault, "part-crashed.parquet").toPath,
      Array[Byte](1))
    val batch = Seq((3L, 999L), (50L, 500L)).toDF("id", "v")
    val e = intercept[IllegalStateException] {
      Layout.upsertByIds(spark, dir, dims, "id", batch, files = 1)
    }
    assert(e.getMessage.contains("resumeVault"))
    assert(new java.io.File(vault, "part-crashed.parquet").exists())
    // the documented recovery: replay the batch as a resume
    Layout.upsertByIds(spark, dir, dims, "id", batch, files = 1,
      resumeVault = true)
    assert(!vault.exists(), "a successful resume clears the vault")
    val got = spark.read.parquet(dir).orderBy("id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(3L) == 999L && got(50L) == 500L && got.size == 21)
  }

  test("compactPartitioned surfaces a leaf emptied by a crashed " +
       "compaction instead of skipping it as under-budget") {
    import spark.implicits._
    val root = tmpDir("emptiedleaf")
    val df = (0L until 40L).map(i => (s"p${i % 2}", i, i * 2))
      .toDF("part", "id", "v")
    Layout.writeZOrderedPartitioned(df, root, "part", Seq("id"), files = 4)
    Layout.updateManifestPartitioned(spark, root, Seq("id"))
    // simulate the crash: all of p0's files retired, none promoted
    val leafDir = new java.io.File(root, "part=p0")
    val retired = new java.io.File(root, "_compact/part=p0__retired")
    assert(retired.mkdirs())
    leafDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      assert(f.renameTo(new java.io.File(retired, f.getName)))
    }
    val e = intercept[IllegalStateException] {
      Layout.compactPartitioned(spark, root, Seq("id"),
        filesPerLeaf = 1, maxFilesPerLeaf = 1)
    }
    assert(e.getMessage.contains("only copies"))
    // recovery: rename back, retry cleanly
    retired.listFiles().foreach { f =>
      assert(f.renameTo(new java.io.File(leafDir, f.getName)))
    }
    assert(retired.delete())
    Layout.compactPartitioned(spark, root, Seq("id"),
      filesPerLeaf = 1, maxFilesPerLeaf = 1)
    assert(spark.read.parquet(root).count() == 40L)
  }

  test("zero-row data files enter the manifest: updateManifest stays " +
       "idempotent and pruned reads stay row-identical") {
    import spark.implicits._
    val dir = tmpDir("emptyfile")
    val df = (0L until 30L).map(i => (i, i * 2)).toDF("id", "v")
    Layout.writeZOrdered(df, dir, Seq("id"), files = 2)
    Layout.writeManifest(spark, dir, Seq("id"))
    // an empty appended batch produces a schema-only parquet file
    Layout.appendZOrdered(df.filter($"id" < 0), dir, Seq("id"), files = 1)
    val fresh = Layout.updateManifest(spark, dir, Seq("id"))
    assert(fresh >= 1, "the empty file is new to the manifest")
    assert(Layout.updateManifest(spark, dir, Seq("id")) == 0,
      "second refresh must be the idempotent no-op — an unmanifested " +
        "empty file would re-stat forever")
    val got = Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("id", lit(5L), lit(10L))))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (5L to 10L).toSeq)
    // the synthetic row reads as authentic (null counters present):
    // no nulls_<dim> IS NULL rows exist in this manifest
    val m = spark.read.option("mergeSchema", "true")
      .parquet(Layout.manifestPath(dir))
    assert(m.filter(col("nulls_id").isNull).count() == 0)

    // partitioned twin: a schema-only file inside a leaf must not
    // re-stat forever either (same segment writer, same synthesis)
    val root = tmpDir("emptyleaf2")
    val pdf = (0L until 20L).map(i => (s"p${i % 2}", i)).toDF("part", "id")
    Layout.writeZOrderedPartitioned(pdf, root, "part", Seq("id"), files = 2)
    assert(Layout.updateManifestPartitioned(spark, root, Seq("id")) > 0)
    spark.range(0).select(col("id"))
      .coalesce(1).write.mode("append").parquet(s"$root/part=p0")
    assert(Layout.updateManifestPartitioned(spark, root, Seq("id")) == 1)
    assert(Layout.updateManifestPartitioned(spark, root, Seq("id")) == 0,
      "the empty leaf file must be manifested, not re-statted")
    assert(Layout.prunedReadPartitioned(spark, root,
        Seq(Layout.ColRange("id", lit(0L), lit(19L)))).count() == 20L)
  }

  test("prunedRead before any manifest exists degrades to the " +
       "conservative full scan instead of throwing") {
    import spark.implicits._
    val dir = tmpDir("nomanifest")
    val df = (0L until 25L).map(i => (i, i * 2)).toDF("id", "v")
    Layout.writeZOrdered(df, dir, Seq("id"), files = 2)
    val got = Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("id", lit(3L), lit(7L))))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (3L to 7L).toSeq)
  }

  test("prunedRead resolves kept files through the listing, so a data " +
       "PATH with URI-encodable characters reads after manifesting") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_layout sp").toFile
    base.deleteOnExit()
    val dir = new java.io.File(base, "data dir").getPath
    val df = (0L until 25L).map(i => (i, i * 2)).toDF("id", "v")
    Layout.writeZOrdered(df, dir, Seq("id"), files = 2)
    Layout.writeManifest(spark, dir, Seq("id"))
    // manifest file_names percent-encode the space; reading them
    // verbatim would double-encode and fail path-not-found
    val got = Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("id", lit(3L), lit(7L))))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (3L to 7L).toSeq)
  }

  test("legacy int-typed manifest stats beside stable-wide long rows " +
       "read through the widening fold: pruning, compaction, and " +
       "deletes keep working on a pre-upgrade manifest") {
    import spark.implicits._
    val dir = tmpDir("legacymanifest")
    val df = (0L until 40L).map(i => (i, (i % 10).toInt)).toDF("id", "x")
    Layout.writeZOrdered(df.filter($"id" < 20), dir, Seq("x"), files = 2)
    Layout.writeManifest(spark, dir, Seq("x"))
    // forge the pre-r15 shape: the manifest's first generation holds
    // INT-typed min_x/max_x (statsAggs has recorded long since r15)
    val mp = Layout.manifestPath(dir)
    val doctored = spark.read.parquet(mp)
      .withColumn("min_x", col("min_x").cast("int"))
      .withColumn("max_x", col("max_x").cast("int"))
    val tmp = dir + "_doctor"
    doctored.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(mp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(mp), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(mp))
    fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(f => assert(fs.rename(f.getPath,
        new org.apache.hadoop.fs.Path(s"$mp/${f.getPath.getName}"))))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // a post-upgrade append records LONG stats — the manifest now mixes
    // int and long min_x across its parts (mergeSchema alone throws)
    Layout.appendZOrdered(df.filter($"id" >= 20), dir, Seq("x"), files = 2)
    Layout.updateManifest(spark, dir, Seq("x"))
    // every consultation reads through the fold: pruning…
    assert(Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("x", lit(3), lit(3))))
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L until 40L).filter(_ % 10 == 3).toSeq)
    // …compaction (the rewrite homogenizes to the wide type)…
    Layout.compactManifest(spark, dir)
    val after = spark.read.parquet(mp)
    assert(after.schema("min_x").dataType ==
      org.apache.spark.sql.types.LongType)
    // …and the delete path's candidate screen + auto-reconcile
    // (keyed on the manifest dimension, per deleteByIds's contract)
    Layout.deleteByIds(spark, dir, Seq("x"), "x", Seq(7).toDF("x"))
    assert(Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("x", lit(7), lit(7)))).isEmpty)
    assert(Layout.prunedRead(spark, dir,
        Seq(Layout.ColRange("x", lit(3), lit(3))))
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L until 40L).filter(_ % 10 == 3).toSeq)
  }

  /** One [[graft.sources.ListingSnapshot]] consumer under the cold/warm
    * pin below: `consult` answers from the consumer's snapshot, each
    * write is followed by the answer it must produce. */
  private type Write = (() => Unit, Seq[String] => Boolean)
  private final class SnapshotConsumer(val name: String,
      val setup: String => (() => Seq[String], Seq[Write]),
      val initial: Seq[String] => Boolean)

  private val snapshotConsumers = Seq(
    new SnapshotConsumer("manifest", { dir =>
      val df = (0L until 400L).map(i => (i, i % 20)).toDF("id", "x")
      Layout.writeZOrdered(df, dir, Seq("x"), files = 4)
      Layout.writeManifest(spark, dir, Seq("x"))
      val mp = Layout.manifestPath(dir)
      // the rows come from the driver-held snapshot as a LocalRelation
      // whose collect is a LocalTableScan — zero jobs warm (an AGGREGATE
      // over it would still run a local job; the consult itself must not)
      val consult = () => {
        val m = Layout.readManifestMerged(spark, mp)
        assert(m.columns.contains("min_x"))
        m.collect().map(_.toString).toSeq.sorted
      }
      (consult, Seq(
        // a manifest write moves the fingerprint: the next consult sees
        // the new rows (freshness), never the stale snapshot
        (() => {
          Layout.appendZOrdered(df.withColumn("x", col("x") + 100), dir,
            Seq("x"), files = 2)
          assert(Layout.updateManifest(spark, dir, Seq("x")) == 2)
        }, (_: Seq[String]).length == 6),
        // the staged-swap compaction also moves the fingerprint
        (() => Layout.compactManifest(spark, dir),
          (_: Seq[String]).length == 6)))
    }, _.length == 4),
    new SnapshotConsumer("lineage", { dir =>
      def batch(from: Long) =
        spark.range(from, from + 50).select(col("id"), (col("id") % 7).as("x"))
      graft.sources.TimeTravel.commitAppend(batch(0), dir, Seq("x"),
        files = 2): Unit
      val consult = () => graft.sources.TimeTravel.readLineage(spark, dir)
        .select("version", "action", "file_name").collect()
        .map(_.toString).toSeq.sorted
      (consult, Seq(
        // a commit lands a segment the post-commit install folds in
        (() => graft.sources.TimeTravel.commitAppend(batch(50), dir,
          Seq("x"), files = 2): Unit,
          (rows: Seq[String]) => rows.length == 4 &&
            rows.count(_.startsWith("[2,add,")) == 2)))
    }, rows => rows.length == 2 && rows.forall(_.startsWith("[1,add,"))),
    new SnapshotConsumer("ledger", { dir =>
      val lp = s"$dir/ledger"
      graft.operators.Ledger.init(spark, lp)
      graft.operators.Ledger.record(spark, lp, "b1")
      val consult = () => Seq("b1", "b2", "__base__").map(id =>
        s"$id=${graft.operators.Ledger.contains(spark, lp, id)}")
      (consult, Seq(
        (() => graft.operators.Ledger.record(spark, lp, "b2"),
          (_: Seq[String]) == Seq("b1=true", "b2=true", "__base__=true"))))
    }, _ == Seq("b1=true", "b2=false", "__base__=true")))

  snapshotConsumers.foreach { c =>
    test(s"${c.name} snapshot cache: a consult on an unchanged listing runs " +
        s"ZERO Spark jobs, and any ${c.name} write invalidates it") {
      val (consult, writes) = c.setup(tmpDir(s"snapcache_${c.name}"))
      graft.sources.ListingSnapshot.invalidateAll()
      // cold: the snapshot load is real work (parquet read + collect)
      var answer = Seq.empty[String]
      val cold = jobsDuring { answer = consult() }
      assert(cold >= 1, s"cold consult should run jobs, ran $cold")
      assert(c.initial(answer), s"cold answer: $answer")
      // warm: one directory listing decides staleness — zero jobs, and
      // the same answer
      val warm = jobsDuring(assert(consult() == answer))
      assert(warm == 0, s"warm consult on an unchanged listing ran $warm jobs")
      // dropping every snapshot changes nothing but the cost
      graft.sources.ListingSnapshot.invalidateAll()
      assert(consult() == answer)
      writes.foreach { case (write, expect) =>
        write()
        val fresh = consult()
        assert(expect(fresh), s"post-write consult must see the write: $fresh")
        // and the refreshed snapshot is again zero-jobs warm
        assert(jobsDuring(assert(consult() == fresh)) == 0)
        graft.sources.ListingSnapshot.invalidateAll()
        assert(consult() == fresh)
      }
    }
  }
}
