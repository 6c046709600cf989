package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftExtensions
import graft.operators.Dedup
import graft.sources.{Layout, TimeTravel}

import Gen.LakeRow

/** `lake_churn`: one closed-loop client on a seeded versioned table plus
  * an exact-dedup digest index and a MinHash band index, alternating one
  * writer op with two reads of what it wrote. The writer ops are small
  * commits (append, upsert, delete, a replayed batch id, a commit issued
  * through `graft_tt_commit` SQL), maintenance (compactSmall, checkpoint,
  * vacuum) and index appends/deletes/compaction; the reads are latest,
  * as-of and stats-pruned table reads and index probes. Every read and
  * probe is checked against the benchmark's own model.
  *
  * Reads follow writes in time rather than overlapping them: with a
  * concurrent reader, how reads and writes happened to overlap moved the
  * read median by a quarter between runs, more than a regression bound.
  *
  * The digest index starts with `PreTombstoned` live tombstones, so the
  * writer's digest deletes push its sidecar past the engine's 100 k-key
  * driver-snapshot bound a few ops into the run: probes and deletes are
  * reported separately below and above the bound.
  */
object Lake {

  val InitialRows = 20000
  val DigestDocs = 130000
  val PreTombstoned = 99500
  val DigestDeleteBatch = 1000
  val SnapshotBound = 100000
  val MinhashDocs = 1500
  val BatchRows = 200

  /** The writer's cycle: mostly small table commits (four appends, one
    * through `graft_tt_commit` SQL, an upsert, a delete and a replayed
    * batch id), one each of compactSmall, checkpoint and vacuum, and the
    * index writes (a MinHash append, delete and compaction; two digest
    * deletes, the first crossing the tombstone bound, the second above
    * it). The appends, the SQL commit and the compaction are the middle
    * of the cycle's latencies, so its median falls among them rather
    * than between two groups of unlike ops. */
  val WriterCycle: IndexedSeq[String] = IndexedSeq("commit_append",
    "digest_delete", "commit_upsert", "sql_commit", "commit_append",
    "minhash_append", "replay", "commit_delete", "commit_append",
    "minhash_delete", "compact_small", "checkpoint", "commit_append",
    "digest_delete", "vacuum", "minhash_compact")
  /** The two reads after each writer op, in writer-cycle order: mostly
    * latest and as-of reads (the cheap common case), two stats-pruned
    * reads, and two probes of each index — the first digest probe before
    * the cycle's first digest delete (below the tombstone bound), the
    * second above it; the MinHash probes after its delete and its
    * compaction. The cheap reads are 26 of 32, so the read median falls
    * among them. */
  val ReaderCycle: IndexedSeq[String] = IndexedSeq(
    "read_latest", "probe_digest", "read_as_of", "read_latest",
    "read_as_of", "read_pruned", "read_latest", "read_as_of",
    "read_latest", "read_as_of", "read_latest", "read_as_of",
    "read_as_of", "read_latest", "read_as_of", "read_pruned",
    "read_latest", "read_as_of", "probe_minhash", "read_latest",
    "read_as_of", "read_latest", "read_as_of", "read_latest",
    "read_as_of", "read_latest", "probe_digest", "read_as_of",
    "read_as_of", "read_latest", "probe_minhash", "read_latest")
  val ReadsPerWrite = 2

  /** Nominal seconds of one writer cycle on a 4-core machine. */
  val CycleS = 24.0

  /** What the model knows about one committed version; `live` is kept
    * for the last few versions only (the reader's as-of window). */
  final case class VState(rows: Long, amount: Long,
                          live: Option[Map[Long, LakeRow]])

  final class State(val root: String) {
    val table = s"$root/table"
    val digest = s"$root/digest"
    val minhash = s"$root/minhash"
    val live = mutable.LinkedHashMap.empty[Long, LakeRow]
    val versions = mutable.Map.empty[Long, VState]
    var head = 0L
    var vacuumFloor = 1L
    var nextId = 0L
    val written = mutable.ArrayBuffer.empty[LakeRow] // every committed row
    val batches = mutable.ArrayBuffer.empty[(String, Seq[LakeRow])]
    // digest index: doc i < DigestDocs has text "doc <seed> <i>"; ids
    // below `digestDelNext` are tombstoned, the rest are live
    var digestDelNext = PreTombstoned.toLong
    def tombKeys: Long = digestDelNext
    var prunedFiles = 0L
    var liveFilesAtPrunedReads = 0L
    // minhash index: id -> text, and deleted ids
    val mhText = mutable.LinkedHashMap.empty[Long, String]
    val mhDead = mutable.Set.empty[Long]
    val files = mutable.Map.empty[String, Long] // every file ever seen under table
    var crossedAtOp = -1
    var initialFileBytes = Seq.empty[Long]
  }

  def run(ctx: Ctx): Unit = {
    import ctx._
    GraftExtensions.register(spark)
    val st = phase("setup")(setUp(setUps)(setupState(ctx))(_ => ()))
    rec.facts ++= Map("lake.initial_rows" -> InitialRows,
      "lake.batch_rows" -> BatchRows, "lake.digest_docs" -> DigestDocs,
      "lake.digest_pre_tombstoned" -> PreTombstoned,
      "lake.digest_delete_batch" -> DigestDeleteBatch,
      "lake.tombstone_bound" -> SnapshotBound,
      "lake.minhash_docs" -> MinhashDocs,
      "lake.writer_cycle" -> WriterCycle, "lake.reader_cycle" -> ReaderCycle,
      "lake.reads_per_write" -> ReadsPerWrite,
      "lake.tombstones_cross_bound_at_digest_delete" ->
        ((SnapshotBound - PreTombstoned) / DigestDeleteBatch + 1))
    // untimed warm-up: one read of each kind
    phase("warmup") {
      val r = Gen.rng(seed, 500)
      ReaderCycle.distinct.foreach(k => read(ctx, st, k, r, record = false))
    }
    val wr = Gen.rng(seed, 50); val rr = Gen.rng(seed, 51)
    measure(CycleS)(cycles => closedLoop(1, cycles, _ => WriterCycle.size) {
      (_, i) =>
        write(ctx, st, WriterCycle(i % WriterCycle.size), wr)
        trackFiles(st)
        (0 until ReadsPerWrite).foreach(j => read(ctx, st,
          ReaderCycle((i * ReadsPerWrite + j) % ReaderCycle.size), rr, record = true))
    })
    rec.facts("lake.initial_file_bytes") = st.initialFileBytes
    rec.facts("lake.tombstones_crossed_bound_at_op") = st.crossedAtOp
    rec.facts("lake.tombstone_keys_end") = st.tombKeys
    rec.facts("lake.versions_end") = st.head
    phase("amplification")(amplification(ctx, st))
    if (traced) phase("layers")(layers(ctx, st))
  }

  // ----------------------------------------------------------------
  // set-up
  // ----------------------------------------------------------------

  private def rowsDf(ctx: Ctx, rows: Seq[LakeRow]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    rows.toDF()
  }

  private def digestDocs(ctx: Ctx, from: Long, until: Long): DataFrame =
    ctx.spark.range(from, until).select(col("id"),
      concat(lit(s"doc ${ctx.seed} "), col("id").cast("string")).as("text"))

  private def setupState(ctx: Ctx): State = {
    val st = new State(ctx.dir("lake"))
    val r = Gen.rng(ctx.seed, 20)
    val rows = (0 until InitialRows).map(i => Gen.lakeRow(r, i.toLong))
    st.nextId = InitialRows
    val v = TimeTravel.commitAppend(rowsDf(ctx, rows), st.table, Seq("id"),
      files = 4, batchId = Some("b0"))
    rows.foreach(x => st.live(x.id) = x)
    st.written ++= rows
    st.batches += (("b0", rows))
    committed(st, v)
    Dedup.saveDigestIndex(digestDocs(ctx, 0, DigestDocs), st.digest, "text")
    Dedup.deleteFromDigestIndex(digestDocs(ctx, 0, PreTombstoned), st.digest, "text")
    val rm = Gen.rng(ctx.seed, 21)
    (0 until MinhashDocs).foreach(i => st.mhText(i.toLong) = Gen.docText(rm))
    Dedup.saveMinhashIndex(mhDf(ctx, st.mhText.toSeq), st.minhash, "id", "text")
    trackFiles(st)
    st.initialFileBytes = Option(new java.io.File(st.table).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.length).sorted
    st
  }

  private def mhDf(ctx: Ctx, docs: Seq[(Long, String)]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    docs.toDF("id", "text")
  }

  private def committed(st: State, v: Long): Unit = {
    st.versions(v) = VState(st.live.size, st.live.values.map(_.amount).sum,
      Some(st.live.toMap))
    st.versions.get(v - 8).foreach(s => st.versions(v - 8) = s.copy(live = None))
    st.head = v
  }

  /** The table's files: data, its sibling lineage and commit ledger. */
  private def tableDirs(st: State): Seq[java.io.File] =
    Option(new java.io.File(st.root).listFiles).toSeq.flatten
      .filter(_.getPath.startsWith(st.table))

  private def trackFiles(st: State): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isFile) st.files(f.getPath) = f.length
      else Option(f.listFiles).foreach(_.foreach(walk))
    tableDirs(st).foreach(walk)
  }

  // ----------------------------------------------------------------
  // writer
  // ----------------------------------------------------------------

  private def write(ctx: Ctx, st: State, kind: String,
                    r: java.util.SplittableRandom): Unit = {
    val spark = ctx.spark
    def fresh(n: Int) = (0 until n).map { _ =>
      st.nextId += 1; Gen.lakeRow(r, st.nextId) }
    // upserts and deletes touch only the initial rows, so every cycle's
    // small batch files stay live for compactSmall whatever the seed
    def someLive(n: Int) = {
      val ids = st.live.keys.filter(_ < InitialRows).toIndexedSeq
      Gen.shuffled(ids.size, r).take(n).map(ids(_)).toSeq
    }
    def commit(rows: Seq[LakeRow])(v: Long): Boolean = {
      val ok = ctx.check(v == st.head + 1, s"$kind landed at $v, head was ${st.head}")
      rows.foreach(x => st.live(x.id) = x)
      st.written ++= rows
      committed(st, v); ok
    }
    kind match {
      case "commit_append" =>
        val rows = fresh(BatchRows); val b = s"b${st.batches.size}"
        st.batches += ((b, rows))
        ctx.op(kind, "commit")(commit(rows)(
          TimeTravel.commitAppend(rowsDf(ctx, rows), st.table, Seq("id"),
            files = 1, batchId = Some(b))))
      case "commit_upsert" =>
        val rows = someLive(BatchRows / 2).map(id =>
          st.live(id).copy(amount = r.nextInt(1000000).toLong)) ++ fresh(BatchRows / 2)
        ctx.op(kind, "commit")(commit(rows)(
          TimeTravel.commitUpsert(spark, st.table, "id", rowsDf(ctx, rows),
            files = 1)))
      case "commit_delete" =>
        val ids = someLive(BatchRows / 2)
        import spark.implicits._
        ctx.op(kind, "commit") {
          val v = TimeTravel.commitDelete(spark, st.table, "id", ids.toDF("id"))
          ids.foreach(st.live.remove)
          commit(Nil)(v)
        }
      case "sql_commit" =>
        val rows = fresh(BatchRows); val b = s"b${st.batches.size}"
        st.batches += ((b, rows))
        ctx.op(kind, "commit") {
          rowsDf(ctx, rows).createOrReplaceTempView("perfbench_batch")
          val got = spark.sql(s"SELECT version FROM graft_tt_commit(" +
            s"'perfbench_batch', '${st.table}', 'id', 1, '$b')").head().getLong(0)
          commit(rows)(got)
        }
      case "replay" =>
        // an already-applied batch id again: must be an exact no-op
        val (b, rows) = st.batches(r.nextInt(st.batches.size))
        ctx.op(kind, "commit") {
          val v = TimeTravel.commitAppend(rowsDf(ctx, rows), st.table,
            Seq("id"), files = 1, batchId = Some(b))
          ctx.check(v <= st.head && TimeTravel.latestVersion(spark, st.table) == st.head,
            s"replay of $b moved the head to $v")
        }
      case "compact_small" =>
        ctx.op(kind, "commit") {
          val v = TimeTravel.compactSmall(spark, st.table, Seq("id"), 256L << 10)
          if (v != st.head) committed(st, v); true
        }
      case "checkpoint" =>
        ctx.op(kind, "commit") { TimeTravel.checkpointLineage(spark, st.table); true }
      case "vacuum" =>
        val keep = st.head - 6
        if (keep > st.vacuumFloor) ctx.op(kind, "commit") {
          TimeTravel.vacuum(spark, st.table, keep)
          val v = TimeTravel.latestVersion(spark, st.table)
          if (v != st.head) committed(st, v)
          st.vacuumFloor = keep; true
        }
      case "digest_delete" =>
        val from = st.digestDelNext
        require(from + DigestDeleteBatch <= DigestDocs, "digest index exhausted")
        if (ctx.op(tombKind(kind, from), "commit") {
          Dedup.deleteFromDigestIndex(
            digestDocs(ctx, from, from + DigestDeleteBatch), st.digest, "text")
          true
        }) st.digestDelNext = from + DigestDeleteBatch
        if (from <= SnapshotBound && st.tombKeys > SnapshotBound)
          st.crossedAtOp = ctx.rec.samples.size
      case "minhash_append" =>
        val rm = Gen.rng(ctx.seed, 1000 + st.mhText.size)
        val docs = (0 until 50).map(i => (st.mhText.size.toLong + i, Gen.docText(rm)))
        ctx.op(kind, "commit") {
          Dedup.appendMinhashIndex(mhDf(ctx, docs), st.minhash, "id", "text")
          docs.foreach { case (i, t) => st.mhText(i) = t }; true
        }
      case "minhash_delete" =>
        val alive = st.mhText.keys.filterNot(st.mhDead).toIndexedSeq
        val ids = Gen.shuffled(alive.size, r).take(10).map(alive(_)).toSeq
        import spark.implicits._
        ctx.op(kind, "commit") {
          Dedup.deleteFromMinhashIndex(ids.toDF("id"), st.minhash, "id")
          st.mhDead ++= ids; true
        }
      case "minhash_compact" =>
        ctx.op(kind, "commit") {
          Dedup.compactMinhashIndex(spark, st.minhash); true
        }
    }
  }

  private def tombKind(kind: String, keys: Long): String =
    if (keys > SnapshotBound) s"$kind.over_bound" else s"$kind.in_bound"

  // ----------------------------------------------------------------
  // reader
  // ----------------------------------------------------------------

  private def agg(df: DataFrame): (Long, Long) = {
    val row = df.agg(count(lit(1)), coalesce(sum(col("amount")), lit(0L))).head()
    (row.getLong(0), row.getLong(1))
  }

  private def read(ctx: Ctx, st: State, kind: String,
                   r: java.util.SplittableRandom, record: Boolean): Unit = {
    val spark = ctx.spark
    def timed(k: String)(f: => Boolean): Unit =
      if (record) ctx.op(k, "read")(f) else f
    kind match {
      case "read_latest" => timed(kind) {
        val v = TimeTravel.latestVersion(spark, st.table)
        val got = agg(TimeTravel.readAsOf(spark, st.table, v))
        val want = st.versions.get(v).map(s => (s.rows, s.amount))
        ctx.check(want.contains(got), s"read_latest v$v: got $got want $want")
      }
      case "read_as_of" =>
        val back = r.nextInt(4)
        timed(kind) {
          val head = TimeTravel.latestVersion(spark, st.table)
          val v = math.max(st.vacuumFloor, head - back).min(head)
          val got = agg(TimeTravel.readAsOf(spark, st.table, v))
          val want = st.versions.get(v).map(s => (s.rows, s.amount))
          ctx.check(want.contains(got), s"read_as_of v$v: got $got want $want")
        }
      case "read_pruned" =>
        val lo = r.nextInt(InitialRows).toLong; val hi = lo + 500
        timed(kind) {
          val v = TimeTravel.latestVersion(spark, st.table)
          val df = TimeTravel.readAsOfPruned(spark, st.table, v,
            Seq(Layout.ColRange("id", lit(lo), lit(hi))))
          val got = agg(df)
          st.prunedFiles += df.inputFiles.length
          st.liveFilesAtPrunedReads +=
            TimeTravel.readAsOf(spark, st.table, v).inputFiles.length
          val want = st.versions.get(v).flatMap(_.live).map { m =>
            val xs = m.values.filter(x => x.id >= lo && x.id <= hi)
            (xs.size.toLong, xs.map(_.amount).sum)
          }
          ctx.check(want.contains(got), s"read_pruned v$v [$lo,$hi]: got $got want $want")
        }
      case "probe_digest" =>
        // 10 live, 10 tombstoned and 5 never indexed documents: only
        // the live ones count as seen
        val del = st.digestDelNext
        val liveIds = (0 until 10).map(_ => del + r.nextLong(DigestDocs - del))
        val deadIds = (0 until 10).map(_ => r.nextLong(del))
        val newIds = (0 until 5).map(_ => 10000000L + r.nextInt(1000000))
        val probe = (liveIds ++ deadIds ++ newIds).distinct
        timed(tombKind("probe_digest", del)) {
          val got = Dedup.incrementalExact(probeDocs(ctx, probe), st.digest, "id", "text")
            .select("id").collect().map(_.getLong(0)).toSet
          val want = probe.filterNot(liveIds.toSet).toSet
          ctx.check(got == want, s"probe_digest: got ${got.size} want ${want.size}")
        }
      case "probe_minhash" =>
        val ids = st.mhText.keys.toIndexedSeq
        val pick = Gen.shuffled(ids.size, r).take(6).map(ids(_)).toSeq
        val docs = pick.zipWithIndex.map { case (id, i) =>
          (100000000L + i, st.mhText(id)) }
        timed("probe_minhash") {
          val got = Dedup.flagAgainstIndex(mhDf(ctx, docs), st.minhash, "id", "text")
            .select("id", "neighbor_id").collect()
            .map(x => (x.getLong(0), x.getLong(1))).toSet
          // an exact copy always finds its live source; a deleted
          // source must never surface
          val okLive = pick.zipWithIndex.forall { case (id, i) =>
            st.mhDead(id) || got((100000000L + i, id)) }
          val noDead = got.forall(p => !st.mhDead(p._2))
          ctx.check(okLive && noDead, s"probe_minhash: $got for $pick")
        }
    }
  }

  private def probeDocs(ctx: Ctx, ids: Seq[Long]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    ids.map(i => (i, s"doc ${ctx.seed} $i")).toDF("id", "text")
  }

  // ----------------------------------------------------------------
  // amplification and the traced run's layer numbers
  // ----------------------------------------------------------------

  private def amplification(ctx: Ctx, st: State): Unit = {
    trackFiles(st)
    ctx.rec.bytes("written") = st.files.values.sum
    ctx.rec.bytes("end") = tableDirs(st).map(d => ctx.bytesUnder(d.getPath)).sum
    val once = ctx.dir("plain-written")
    rowsDf(ctx, st.written.toSeq).coalesce(1).write.parquet(once)
    ctx.rec.bytes("written_plain") = ctx.bytesUnder(once)
    val live = ctx.dir("plain-live")
    rowsDf(ctx, st.live.values.toSeq).coalesce(1).write.parquet(live)
    ctx.rec.bytes("live_plain") = ctx.bytesUnder(live)
  }

  private def layers(ctx: Ctx, st: State): Unit = {
    val tr = Main.trace.get
    val L = ctx.rec.layers
    val ops = ctx.rec.ops
    val commits = ops.filter(_.cls == "commit")
    ctx.commonLayers(ops, byInterval = false)
    def med(kind: String): Double = ctx.kindMedianMs(kind)
    Seq("commit_append", "commit_upsert", "commit_delete", "sql_commit",
      "compact_small", "checkpoint", "vacuum", "read_latest", "read_as_of",
      "read_pruned").foreach(k => L(s"sources.${k}_ms") = med(k))
    L("sources.jobs_per_commit") = commits.map(c => tr.jobsOfGroup(c.group).size)
      .sum.toDouble / math.max(1, commits.size)
    L("sources.pruned_file_frac") = 1.0 - st.prunedFiles.toDouble /
      math.max(1L, st.liveFilesAtPrunedReads)
    L("sources.bytes_written_per_commit") =
      st.files.values.sum.toDouble / math.max(1, st.head)
    L("operators.ledger.replay_ms") = med("replay")
    L("operators.ledger.replay_skipped_frac") = {
      val rs = (ctx.rec.untracedSamples ++ ops).filter(_.kind == "replay")
      if (rs.isEmpty) 0.0 else rs.count(_.ok).toDouble / rs.size
    }
    Seq("in_bound", "over_bound").foreach { b =>
      L(s"operators.tombstones.delete_${b}_ms") = med(s"digest_delete.$b")
      L(s"operators.tombstones.probe_${b}_ms") = med(s"probe_digest.$b")
    }
    L("operators.dedup_index.append_ms") = med("minhash_append")
    L("operators.dedup_index.probe_ms") = med("probe_minhash")
    L("operators.dedup_index.compact_ms") = med("minhash_compact")
    val lineage = new java.io.File(TimeTravel.lineagePath(st.table))
    L("sources.lineage_files_end") = Option(lineage.listFiles)
      .map(_.count(f => f.isFile && !f.getName.startsWith("."))).getOrElse(0).toDouble
    L("sources.live_files_end") = ctx.filesUnder(st.table, n =>
      n.endsWith(".parquet") && !n.startsWith(".")).toDouble
    L ++= Kernels.measure(ctx)
  }
}
