package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Versioned lake snapshots — read-as-of ("time travel") over an
  * append-only file-action lineage, the subsystem the [[Layout]] family
  * was shaped for (batch-tagged manifests, ledgers, staged swaps) and
  * the one a 100 TB training-data lake cannot run without: reproducing
  * LAST month's training run needs last month's corpus exactly, even
  * though deletes, compactions and new batches have landed since.
  *
  * Design (original; the log-structured shape lakehouse formats share):
  * the table is a flat directory of immutable parquet files plus a
  * SIBLING `<path>_lineage` directory of tiny parquet segments — one
  * per commit — whose rows are file ACTIONS `(version, action ∈
  * {add, remove, vacuum}, file_name, n_rows)`. The live file set at
  * version v is `adds(≤v) minus removes(≤v)`; nothing is ever rewritten
  * in place, so every historical version stays readable until [[vacuum]]
  * reclaims it. Versions are dense positive longs assigned by the commit
  * protocol below.
  *
  * TRUTH STANCE — the opposite of the [[Layout]] manifest, deliberately:
  * a stats manifest is a CACHE over a directory-as-truth table, so
  * stale rows may only cost skip rate; the lineage here IS the truth.
  * A data file the lineage has not committed is invisible (a crashed or
  * out-raced attempt's residue — an orphan [[gcOrphans]] reclaims), and
  * a vanished committed file is an error, never a silent shrink.
  *
  * Commit protocol:
  *  1. pick `v = latestVersion + 1`;
  *  2. stage the new files under `<path>_staging_v<v>_<token>`, then
  *     promote each part as `v<v>_<token>_<i>.parquet` into the data
  *     dir — the token is attempt-unique, so concurrent attempts can
  *     never clobber each other's parts;
  *  3. land the lineage segment LAST as an atomic create-if-absent
  *     single-file birth (`segment_v<v>.parquet` — see
  *     [[appendLineage]]) — the commit point AND the race arbiter: a
  *     crash before (3) leaves the table exactly at version v-1, and
  *     two committers racing to one version get one winner and one
  *     [[CommitRaceLost]] loser, never a silently merged version.
  *
  * OPTIMISTIC CONCURRENCY (r14): the loser no longer has to abandon.
  * [[commitAppend]] retries at the next version automatically (bounded)
  * — an append reads no files and rewrites no files, so it conflicts
  * with nothing and any serialization is correct. [[commitUpsert]] and
  * [[commitDelete]] retry ONLY after proving their work disjoint from
  * every intervening commit ([[requireRetryDisjoint]]): none of their
  * planned rewrites was touched, and no intervening ADD carries an id
  * range overlapping their keys (exact min/max stats — non-overlap
  * proves absence). Overlap REFUSES loudly, never silently merges: two
  * writers touching the same rows is a lost-update hazard only the
  * caller can adjudicate. Disjoint retries RECOMPUTE everything from
  * the new head (nothing stale is reused), so the result is a true
  * serialization.
  * Replaying a WHOLE committed batch (at-least-once ingestion) is the
  * caller's hazard exactly as in [[Layout.appendZOrdered]]; pass
  * `batchId` to make replays exact no-ops via the applied-batch
  * [[graft.operators.Ledger]] at `<path>_commit_ledger`.
  *
  * Scale shape: every lineage read, live-set computation and collect is
  * FILE-COUNT-sized (the same ~hundreds-of-bytes-per-file driver budget
  * as [[Layout.pruneFiles]]); data rows are touched only by the batch
  * being written, the files being compacted, or the delete's candidate
  * files — never the whole table for a commit, never any data at all
  * for a read's planning.
  */
/** Typed signal of a lost commit race: another committer's segment for
  * `version` landed first. Nothing the loser staged is visible; its
  * files are orphans [[TimeTravel.gcOrphans]] reclaims. The commit
  * faces catch this to drive bounded optimistic retries; it escapes to
  * the caller only when retries are exhausted or the conflict check
  * refuses.
  */
final class CommitRaceLost(val version: Long, val dataPath: String,
                           message: String)
  extends IllegalStateException(message)

object TimeTravel {

  /** Lineage location: a sibling directory, never inside the data path
    * (a reader globbing the data must not ingest log rows). */
  def lineagePath(dataPath: String): String =
    dataPath.stripSuffix("/") + "_lineage"

  /** Test seam: runs inside each commit face after it has computed its
    * version/candidates but BEFORE the commit point, so a spec can
    * interleave a winner deterministically (set it to a function that
    * first resets this seam, then commits — otherwise it recurses).
    * A no-op in production.
    */
  private[graft] var interleaveForTests: () => Unit = () => ()

  /** Crash-injection seam: the commit faces call this at each
    * commit-protocol step boundary (staged / promote_partial /
    * promoted / ledger); a test assigns a throwing closure to simulate
    * a crash at exactly that point. The matrix spec drives every face
    * through every boundary and asserts version-(N-1) intactness,
    * retry convergence, and orphan reclamation. */
  private[graft] var crashForTests: String => Unit = _ => ()

  /** Interleave seam INSIDE the commit point: called right after a
    * segment birth WINS, before the vacuumed-arbiter guard's listing —
    * the window where a concurrent checkpoint fold + lineage vacuum
    * can supersede the just-born segment. Lets a test drive that race
    * deterministically (the guard's folded-vs-stale discrimination is
    * unreachable from outside otherwise). A no-op in production. */
  private[graft] var postBirthForTests: () => Unit = () => ()

  private def commitLedgerPath(dataPath: String): String =
    dataPath.stripSuffix("/") + "_commit_ledger"

  private def stagingPath(dataPath: String, v: Long): String =
    dataPath.stripSuffix("/") + s"_staging_v$v"

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Read a tiny version-number file fully. A single `read` into a
    * buffer is NOT enough: HDFS-class streams may legally return a
    * short read, and an empty/truncated file (a crash mid-create) must
    * fail loudly naming the file, not throw an index error from a
    * `-1` length. */
  private[sources] def readVersionFile(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Long = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream(32)
      val chunk = new Array[Byte](32)
      var n = in.read(chunk)
      while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      val s = new String(buf.toByteArray, "UTF-8").trim
      require(s.nonEmpty,
        s"corrupt version file $p: empty — a crash mid-write? " +
          "delete it and re-seed from the consumer's known version")
      s.toLong
    } finally in.close()
  }

  // ---- lineage snapshot: memoized, checkpoint-aware, widened --------
  //
  // Every metadata question here (latest version, live set, batch
  // replay, recorded schema) used to re-read EVERY lineage segment —
  // O(commit-count) parquet footer merges per consultation, and a
  // multi-commit query paid O(N²) total lineage cost (the r15 q144
  // finding). The shape at 100 TB was wrong: the log only ever GROWS
  // by one immutable file per commit, so one directory listing decides
  // staleness and the folded rows can be reused until it changes.
  //
  // Mechanics: one `listStatus` of the lineage directory yields the
  // EFFECTIVE file set — the newest checkpoint (`ckpt_v<N>.parquet`, a
  // fold of every segment ≤ N written by [[checkpointLineage]]) plus
  // the tail segments with version > N — and the [[ListingSnapshot]]
  // keyed by the lineage path returns the previously collected rows
  // while that set's fingerprint is unchanged (the staleness contract
  // is stated there once). Cost per consultation: one FS listing (hit), or
  // one bounded read of ≤ checkpoint-interval files (miss — i.e. once
  // per commit). The rows are file-count-sized, the same driver
  // budget every face already spends.

  private val segmentNameRe = """segment_v(\d+)\.parquet""".r
  private val ckptNameRe = """ckpt_v(\d+)\.parquet""".r

  /** Auto-checkpoint cadence (Hadoop conf): after a commit lands, when
    * the tail past the newest checkpoint reaches this many segments,
    * [[appendLineage]] folds the log ([[checkpointLineage]]). 0
    * disables. Folded segments stay on disk until [[vacuumLineage]]
    * reclaims them (an explicit maintenance act — deleting inside the
    * commit path would race concurrent readers' listings). */
  private[graft] val checkpointIntervalKey =
    "graft.timetravel.checkpoint.interval"
  private def checkpointInterval(spark: SparkSession): Int =
    spark.sparkContext.hadoopConfiguration
      .getInt(checkpointIntervalKey, 64)

  /** The folded lineage: schema + collected rows. Field indexes are
    * precomputed for the hot driver-side scans. */
  private final class LineageRows(val schema: StructType,
                                  val rows: Array[Row]) {
    val vIdx: Int = schema.fieldNames.indexOf("version")
    val aIdx: Int = schema.fieldNames.indexOf("action")
    val fIdx: Int = schema.fieldNames.indexOf("file_name")
    def idx(c: String): Int = schema.fieldNames.indexOf(c)
    def maxVersion: Long = {
      var m = 0L
      rows.foreach(r => if (r.getLong(vIdx) > m) m = r.getLong(vIdx))
      m
    }
  }

  /** The lineage snapshot per lineage directory, fingerprinted over the
    * effective files ([[ListingSnapshot]]). A miss reads them under one
    * widened schema ([[widenMerge]] over per-file footers when a plain
    * mergeSchema read refuses — e.g. a legacy segment recorded `min_x`
    * stats as int where newer commits record long). */
  private val snapshots =
    new ListingSnapshot[Nothing, LineageRows](effectiveLineageFiles)({
      (spark, lp, files) =>
        val df = readWidened(spark, files.map(_.getPath.toString),
          s"lineage at $lp")
        Right(new LineageRows(df.schema, df.collect()))
    })

  /** Read `paths` under one schema: mergeSchema, or — when mergeSchema
    * refuses across an int/long stat-column boundary (segments written
    * before the stable-wide-stats rule mixed with segments after it) —
    * each footer's schema folded through the SAFE widening lattice
    * ([[widenMerge]]) and the files read under that one target. */
  private[sources] def readWidened(spark: SparkSession, paths: Seq[String],
                                   what: String): DataFrame =
    try spark.read.option("mergeSchema", "true").parquet(paths: _*)
    catch {
      case _: org.apache.spark.SparkException =>
        val target = paths.map(p => spark.read.parquet(p).schema)
          .reduce((a, b) => widenMerge(a, b, what))
        spark.read.schema(target).parquet(paths: _*)
    }

  /** Measurement seam: the driver-held lineage snapshot's (row count,
    * estimated bytes) — what the BASELINE lakemeta curve reports and
    * the fold-truncation spec bounds. Bytes via Spark's own
    * SizeEstimator over the collected rows. */
  private[graft] def lineageSnapshotSize(spark: SparkSession,
                                         dataPath: String): (Int, Long) = {
    val s = lineageSnap(spark, dataPath)
    (s.rows.length, org.apache.spark.util.SizeEstimator.estimate(s.rows))
  }

  /** The files a lineage read consults: newest checkpoint + segments
    * past it, in version order. Folded segments (≤ the checkpoint's
    * version) and superseded checkpoints are ignored even while they
    * still exist on disk. */
  private def effectiveLineageFiles(
      all: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val ckpt = all.flatMap(f => f.getPath.getName match {
      case ckptNameRe(v) => Some(v.toLong -> f)
      case _ => None
    }).sortBy(_._1).lastOption
    val floor = ckpt.fold(0L)(_._1)
    val segs = all.flatMap(f => f.getPath.getName match {
      case segmentNameRe(v) if v.toLong > floor => Some(v.toLong -> f)
      case _ => None
    }).sortBy(_._1)
    (ckpt.toSeq ++ segs).map(_._2)
  }

  /** The effective lineage files of `dataPath` right now (empty when the
    * table has no lineage) — one listing. */
  private def lineageListing(spark: SparkSession, dataPath: String)
      : Option[ListingSnapshot.Listing] =
    snapshots.list(fsOf(spark, dataPath), lineagePath(dataPath))
      .filter(_.files.nonEmpty)

  /** Does this failure mean a file vanished between our listing and
    * our read? The one benign cause here: a concurrent
    * [[checkpointLineage]] + [[vacuumLineage]] superseded the listed
    * segments — the checkpoint that justified the delete is then
    * guaranteed present, so a RE-LIST converges (r17 storm finding:
    * the list→read window exists in-process too, not just across
    * processes). */
  private def vanishedFile(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[java.io.FileNotFoundException] ||
          (t.getMessage != null &&
            (t.getMessage.contains("FILE_NOT_EXIST") ||
             t.getMessage.contains("does not exist")))) return true
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }

  /** Load (or reuse) the lineage snapshot; None when the table has no
    * commits. One listing decides staleness; a miss reads the bounded
    * effective file set. */
  private def lineageOpt(spark: SparkSession,
                         dataPath: String): Option[LineageRows] = {
    var attempt = 0
    while (true) {
      try return lineageListing(spark, dataPath)
        .map(snapshots.lookup(spark, lineagePath(dataPath), _).merge)
      catch {
        case e: Exception if attempt < 5 && vanishedFile(e) =>
          attempt += 1 // superseded listing — re-list and reload
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def lineageSnap(spark: SparkSession,
                          dataPath: String): LineageRows = {
    val s = lineageOpt(spark, dataPath)
    require(s.nonEmpty, s"no lineage at ${lineagePath(dataPath)} — the " +
      "table has no commits")
    s.get
  }

  /** The lineage as a DataFrame — a LocalRelation over the snapshot's
    * driver-held rows, so downstream filters/aggregations cost local
    * jobs, never parquet re-reads. The checkpoint-aware read every
    * consumer outside this object must use too ([[MatView]],
    * [[SnapshotGroup]] — a raw `spark.read.parquet(lineagePath)` would
    * double-count rows once a checkpoint exists beside its tail). */
  private[graft] def readLineage(spark: SparkSession,
                                 dataPath: String): DataFrame =
    lineage(spark, dataPath)

  /** Stamp a commit's batch id into its own segment rows — the
    * durable half of [[lineageHasBatch]]. No-op without a batchId
    * (the column is simply absent; lineage mergeSchema reads null). */
  private def stampBatch(seg: DataFrame, batchId: Option[String]): DataFrame =
    batchId.fold(seg)(id => seg.withColumn("batch_id", lit(id)))

  /** Has `batchId` already committed? Replay detection that survives
    * the crash window between the lineage commit and the ledger
    * record: every batchId commit stamps its id into its own segment
    * (the ATOMIC commit point), so a retry finds the batch applied even
    * when the crash killed the writer before the ledger line landed.
    * The ledger stays as the fast path and the compactable long-term
    * record; it is created on first use. */
  private def replayed(spark: SparkSession, dataPath: String,
                       batchId: Option[String]): Boolean =
    batchId.exists { id =>
      val ledger = commitLedgerPath(dataPath)
      if (!fsOf(spark, dataPath).exists(hp(ledger)))
        graft.operators.Ledger.init(spark, ledger)
      graft.operators.Ledger.contains(spark, ledger, id) ||
        lineageHasBatch(spark, dataPath, id)
    }

  private def lineageHasBatch(spark: SparkSession, dataPath: String,
                              id: String): Boolean =
    lineageOpt(spark, dataPath).exists { s =>
      val b = s.idx("batch_id")
      b >= 0 && s.rows.exists(r => !r.isNullAt(b) && r.getString(b) == id)
    }

  /** The lineage frame (see [[readLineage]]): every segment's rows
    * under one widened schema — `add` segments carry the per-dim stat
    * columns (min/max/nulls, the data-skipping payload), remove/vacuum
    * segments only the base four, and commits after a dims change may
    * carry different stat sets; the snapshot's widened fold keeps the
    * stats half that a first-file schema would silently drop. */
  private def lineage(spark: SparkSession, dataPath: String): DataFrame = {
    val s = lineageSnap(spark, dataPath)
    spark.createDataFrame(
      java.util.Arrays.asList(s.rows: _*), s.schema)
  }

  // ---- schema evolution: type widening ------------------------------
  //
  // Commits may add/omit columns (the append rule) AND widen a column's
  // numeric type (byte→short→int→long, float→double): a 100 TB table
  // whose int key outgrows 2^31 must not need a table rewrite. The
  // mechanics: every commit records its batch's schema JSON in its
  // lineage segment (metadata-sized), the read faces compute ONE
  // widened target schema across the files they touch and hand it to
  // the parquet scan (Spark's reader natively decodes an int32 file
  // under a bigint read schema — verified on this build; mergeSchema,
  // by contrast, THROWS across an int/long boundary, so recorded
  // schemas are what make widening readable at all). Files from
  // commits predating the record fall back to one footer-merge over
  // just those files — sound because a pre-record table is
  // type-consistent (a conflicting commit would have broken its own
  // reads). NARROWING refuses loudly at commit time (the
  // CHECK-constraint discipline): the table's column type only ever
  // widens, so every live file is always readable under the head type.

  /** Nullability-normalized view of a type (commits may legitimately
    * disagree on nullable/containsNull; only the value type matters
    * for the widening lattice). */
  private def normalizeType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, normalizeType(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(normalizeType(a.elementType), true)
      case m: MapType =>
        MapType(normalizeType(m.keyType), normalizeType(m.valueType), true)
      case o => o
    }
  }

  /** The SAFE widening lattice: the wider of two types when one
    * losslessly contains the other, None when they are incomparable.
    * Integral chain byte < short < int < long; float < double. Nothing
    * else widens (int→double is representable but changes arithmetic
    * semantics; string/complex types must match exactly). */
  private[graft] def widerOf(a: org.apache.spark.sql.types.DataType,
                             b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    val (na, nb) = (normalizeType(a), normalizeType(b))
    if (na == nb) Some(na)
    else {
      val chain: Seq[DataType] =
        Seq(ByteType, ShortType, IntegerType, LongType)
      val (ia, ib) = (chain.indexOf(na), chain.indexOf(nb))
      if (ia >= 0 && ib >= 0) Some(chain(math.max(ia, ib)))
      else if (Set[DataType](FloatType, DoubleType) == Set(na, nb))
        Some(DoubleType)
      else None
    }
  }

  /** Fold two commit schemas into one read target: first-seen column
    * order (mergeSchema's rule — evolution appends), shared columns
    * widened by [[widerOf]], incomparable types refuse loudly. */
  private[graft] def widenMerge(base: org.apache.spark.sql.types.StructType,
                                next: org.apache.spark.sql.types.StructType,
                                ctx: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val fields = scala.collection.mutable.LinkedHashMap(
      base.fields.map(f => f.name -> normalizeType(f.dataType)).toSeq: _*)
    next.fields.foreach { f =>
      fields.get(f.name) match {
        case None => fields += f.name -> normalizeType(f.dataType)
        case Some(cur) =>
          fields(f.name) = widerOf(cur, f.dataType).getOrElse(
            throw new IllegalStateException(
              s"$ctx: column '${f.name}' carries incompatible types " +
                s"across commits ($cur vs ${f.dataType}) — outside the " +
                "safe widening lattice; this cannot happen through the " +
                "commit faces (narrowing refuses at commit time)"))
      }
    }
    StructType(fields.map { case (n, t) =>
      StructField(n, t, nullable = true) }.toSeq)
  }

  /** Read lake data files under ONE widened target schema: recorded
    * commit schemas (metadata) widen-merge in version order; files
    * predating the record contribute one footer-merge over just
    * themselves. The scan then decodes narrow files under the wide
    * target natively — the widen-on-read half of the contract. */
  private[graft] def readFilesWidened(spark: SparkSession,
                                      dataPath: String,
                                      names: Seq[String]): DataFrame = {
    require(names.nonEmpty, "readFilesWidened: no files (caller guards)")
    val paths = names.map(n => s"$dataPath/$n")
    val s = lineageSnap(spark, dataPath)
    val sj = s.idx("schema_json")
    // driver-side scan of the cached snapshot — ZERO metadata jobs
    // (the r15 shape ran two lineage reads per call; a multi-commit
    // query paid O(commits²) total footer work)
    val nameSet = names.toSet
    val touched =
      if (sj < 0) Array.empty[Row]
      else s.rows.filter(r => r.getString(s.aIdx) == "add" &&
        nameSet(r.getString(s.fIdx)) && !r.isNullAt(sj))
    val recordedFiles: Set[String] = touched.map(_.getString(s.fIdx)).toSet
    val legacy = names.filterNot(recordedFiles)
    if (legacy.size == names.size)
      // nothing recorded: the pre-widening read, byte-identical behavior
      return spark.read.option("mergeSchema", "true").parquet(paths: _*)
    val legacySchema =
      if (legacy.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(legacy.map(n => s"$dataPath/$n"): _*).schema)
    val commitSchemas = touched
      .sortBy(_.getLong(s.vIdx)).map(_.getString(sj)).distinct.toSeq
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
    val target = (legacySchema.toSeq ++ commitSchemas)
      .reduce((a, b) => widenMerge(a, b, s"read of $dataPath"))
    spark.read.schema(target).parquet(paths: _*)
  }

  /** The table's current LOGICAL schema from recorded commit schemas
    * alone (None before any commit recorded one) — what the commit
    * guard compares a batch against. Monotone over all adds: a type,
    * once widened, stays widened even if its files were deleted.
    *
    * O(1) resolution (r16): every commit stamps the CUMULATIVE widened
    * schema (`table_schema_json`, folded forward at commit time in
    * [[stageAndPromote]]), so the newest stamp alone answers —
    * re-deriving from ALL per-commit schemas is only the fallback for
    * rows written before the stamp existed (and for any per-commit
    * `schema_json` newer than the newest stamp, normally none). */
  private def recordedTableSchema(spark: SparkSession, dataPath: String)
      : Option[StructType] = {
    val s = lineageOpt(spark, dataPath).getOrElse(return None)
    val sj = s.idx("schema_json")
    val tj = s.idx("table_schema_json")
    def parse(j: String): StructType =
      normalizeType(org.apache.spark.sql.types.DataType.fromJson(j))
        .asInstanceOf[StructType]
    val stamped: Option[(Long, StructType)] =
      if (tj < 0) None
      else s.rows.filter(r => r.getString(s.aIdx) == "add" &&
          !r.isNullAt(tj))
        .sortBy(_.getLong(s.vIdx)).lastOption
        .map(r => r.getLong(s.vIdx) -> parse(r.getString(tj)))
    val floor = stamped.fold(Long.MinValue)(_._1)
    val later =
      if (sj < 0) Seq.empty
      else s.rows.filter(r => r.getString(s.aIdx) == "add" &&
          !r.isNullAt(sj) && r.getLong(s.vIdx) > floor)
        .sortBy(_.getLong(s.vIdx)).map(_.getString(sj))
        .distinct.toSeq.map(parse)
    val all = stamped.map(_._2).toSeq ++ later
    if (all.isEmpty) None
    else Some(all.reduce((a, b) =>
      widenMerge(a, b, s"schema of $dataPath")))
  }

  /** How [[recordedTableSchema]] resolved — the mechanical pin for the
    * O(1) contract: "stamped" when the newest cumulative stamp alone
    * answered, "legacy-fold" when it had to re-derive from per-commit
    * schemas, "none" when nothing was ever recorded. Test seam. */
  private[graft] def schemaResolution(spark: SparkSession,
                                      dataPath: String): String = {
    val s = lineageOpt(spark, dataPath).getOrElse(return "none")
    val tj = s.idx("table_schema_json")
    val sj = s.idx("schema_json")
    val stampV =
      if (tj < 0) None
      else s.rows.filter(r => r.getString(s.aIdx) == "add" &&
        !r.isNullAt(tj)).map(_.getLong(s.vIdx)).sorted.lastOption
    stampV match {
      case Some(v) if sj < 0 || !s.rows.exists(r =>
        r.getString(s.aIdx) == "add" && !r.isNullAt(sj) &&
          r.getLong(s.vIdx) > v) => "stamped"
      case Some(_) => "stamped+fold"
      case None if sj >= 0 && s.rows.exists(r =>
        r.getString(s.aIdx) == "add" && !r.isNullAt(sj)) => "legacy-fold"
      case None => "none"
    }
  }

  /** The narrowing guard, enforced at every data-committing face:
    * a batch column may match the table's current type or WIDEN it
    * (the table's logical type moves up the lattice and stays there);
    * a NARROWER or incomparable batch type refuses loudly before
    * staging — silently committing it would either lose precision or
    * strand files no single read schema can serve. */
  private def enforceWidening(spark: SparkSession, dataPath: String,
                              batch: DataFrame, face: String): Unit = {
    recordedTableSchema(spark, dataPath).foreach { cur =>
      val curByName = cur.fields.map(f => f.name -> f.dataType).toMap
      batch.schema.fields.foreach { f =>
        curByName.get(f.name).foreach { curT =>
          val bT = normalizeType(f.dataType)
          if (bT != curT) widerOf(curT, bT) match {
            case Some(w) if w == bT => () // widening: allowed
            case Some(_) => throw new IllegalArgumentException(
              s"$face REFUSED: batch column '${f.name}' is $bT but the " +
                s"table's type is the WIDER $curT — a narrowing commit " +
                "is silent precision loss; cast the batch up to the " +
                "table's type (the table's type only ever widens)")
            case None => throw new IllegalArgumentException(
              s"$face REFUSED: batch column '${f.name}' is $bT but the " +
                s"table carries $curT — outside the safe widening " +
                "lattice (byte→short→int→long, float→double); evolve " +
                "by adding a NEW column instead")
          }
        }
      }
    }
  }

  /** Highest committed version; 0 for a table with no commits yet.
    * One directory listing (snapshot cache hit) — no job. */
  def latestVersion(spark: SparkSession, dataPath: String): Long =
    lineageOpt(spark, dataPath).fold(0L)(_.maxVersion)

  /** The file names live at `v`: per file, its LATEST add/remove action
    * at or before `v` decides (not a mere add-minus-remove set — a
    * [[rollback]] re-ADDS a file a later version had removed, so the
    * ordering matters). One lineage-sized (file-count-sized) collect;
    * no data is read.
    */
  private def liveFileNames(spark: SparkSession, dataPath: String,
                            v: Long): Seq[String] =
    lastActions(lineageSnap(spark, dataPath), v).iterator
      .collect { case (f, (a, rm)) if a > 0 && a > rm => f }.toSeq.sorted

  /** Per file, its latest `add` and latest `remove` version at or before
    * `upTo` (0 when it has none) — the latest-action-wins fold of
    * [[liveFileNames]] and [[vacuum]]. A driver fold over the cached
    * snapshot (file-count-sized), the hottest metadata question, asked
    * by every face; zero jobs. */
  private def lastActions(s: LineageRows,
                          upTo: Long): collection.Map[String, (Long, Long)] = {
    val acc = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    s.rows.foreach { r =>
      val ver = r.getLong(s.vIdx)
      if (ver <= upTo) {
        val (a0, r0) = acc.getOrElse(r.getString(s.fIdx), (0L, 0L))
        r.getString(s.aIdx) match {
          case "add" => acc(r.getString(s.fIdx)) = (math.max(a0, ver), r0)
          case "remove" => acc(r.getString(s.fIdx)) = (a0, math.max(r0, ver))
          case _ => ()
        }
      }
    }
    acc
  }

  /** Append one commit's action rows as the lineage segment for version
    * `v` — THE COMMIT POINT, made an atomic single-file birth under the
    * deterministic name `segment_v<v>.parquet` so two committers racing
    * to the same version can never BOTH win. The segment stages as a
    * temp parquet, then moves in with create-if-absent semantics: on an
    * HDFS-class store the arbiter is `rename` (atomic in the namenode,
    * fails on an existing destination); on a local filesystem `rename`
    * silently overwrites, so the arbiter is a hard link (`link(2)` —
    * atomic, fails if the destination exists). On an object store whose
    * "rename" is copy+delete (S3A without a committer layer) the
    * exists-then-rename check narrows but cannot close the window —
    * there, front the lineage with an HDFS/DBFS-class path or an
    * external lock, as every log-structured format requires on S3.
    * The loser throws a typed
    * [[CommitRaceLost]]; nothing it staged is visible (attempt-unique
    * names mean racers cannot clobber each other's parts, and
    * unreferenced files are the orphans [[gcOrphans]] reclaims). The
    * commit faces catch the signal to drive bounded optimistic retries
    * — appends unconditionally, merges after [[requireRetryDisjoint]]
    * proves the winner's touch set disjoint (see the object doc).
    * Stores without an atomic segment birth are refused up front by
    * [[requireAtomicBirth]]. Segments may carry different stat columns
    * — [[lineage]] merges schemas on read.
    */
  /** Schemes whose `rename` is atomic-no-overwrite at the metadata
    * layer, making the segment birth a true arbiter. Everything else —
    * S3A-class stores where rename is copy+delete, and any scheme this
    * engine cannot VOUCH for — is refused at commit time rather than
    * documented as a hazard: a race window the operator has to know
    * about from a scaladoc is not a contract, a loud refusal is.
    */
  private val atomicRenameSchemes =
    Set("hdfs", "viewfs", "webhdfs", "swebhdfs", "abfs", "abfss", "dbfs")

  /** The conf key an operator sets to attest their store's rename IS
    * atomic (e.g. S3 fronted by a consistency/locking layer). An
    * explicit attestation, never a default. */
  private[graft] val assumeAtomicKey = "graft.timetravel.assume.atomic.rename"

  /** Refuse commits on stores without an atomic segment birth. `file`
    * passes (the arbiter there is a hard link, not rename); the
    * known-atomic schemes pass; anything else needs the operator's
    * explicit attestation via [[assumeAtomicKey]]. */
  private[graft] def requireAtomicBirth(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      dataPath: String): Unit = {
    val scheme = fs.getScheme
    val attested = spark.sparkContext.hadoopConfiguration
      .getBoolean(assumeAtomicKey, false)
    require(scheme == "file" || atomicRenameSchemes(scheme) || attested,
      s"time-travel commit REFUSED: store scheme '$scheme' ($dataPath) " +
        "has no atomic rename-no-overwrite, so the version arbiter " +
        "cannot close the two-committers race window (on S3-class " +
        "stores rename is copy+delete). Remedy: front the lineage " +
        s"with an HDFS/ABFS/DBFS-class path, or set $assumeAtomicKey" +
        "=true in the Hadoop conf to attest your store is fronted by " +
        "a consistency/locking layer that makes rename atomic")
  }

  /** Land `df` as ONE parquet file at `dest` with create-if-absent
    * semantics — the atomic-birth primitive both the segment commit
    * point and the lineage checkpoint use. Stages under `tmpDir`
    * (coalesce(1) → exactly one part), then arbitrates: hard link on a
    * local filesystem (atomic, fails on an existing destination),
    * exists+rename on HDFS-class stores. Returns whether THIS attempt
    * created the destination. */
  private def atomicSingleFileBirth(
      fs: org.apache.hadoop.fs.FileSystem, df: DataFrame,
      tmpDir: String, dest: org.apache.hadoop.fs.Path,
      localRows: Option[(Array[Row], StructType)] = None): Boolean = {
    fs.delete(hp(tmpDir), true)
    // Both callers hold the rows driver-side already (a segment/fold is
    // metadata-sized by construction) — write the one file through
    // parquet-mr with no Spark job when every column type is in
    // [[LocalParquet]]'s proven map (r18, guide §1.2: one job + an
    // output-committer directory dance per commit, for one small file).
    // Unsupported type ⇒ the original Spark write, same staging layout.
    val wroteLocal = localRows.exists { case (rows, schema) =>
      LocalParquet.write(rows, schema, s"$tmpDir/part-local-0.parquet",
        df.sparkSession.sparkContext.hadoopConfiguration)
    }
    if (!wroteLocal)
      df.coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val part = fs.listStatus(hp(tmpDir))
      .filter(f => f.getPath.getName.startsWith("part-") &&
        f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath) match {
      case Array(p) => p
      case ps => throw new IllegalStateException(
        s"single-file staging wrote ${ps.length} parts at $tmpDir — " +
          "coalesce(1) must yield exactly one")
    }
    fs.mkdirs(dest.getParent)
    val won =
      if (fs.getScheme == "file")
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(part.toUri.getPath)): Unit
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      else !fs.exists(dest) && fs.rename(part, dest)
    fs.delete(hp(tmpDir), true)
    won
  }

  private[graft] def appendLineage(spark: SparkSession, dataPath: String,
                                   seg: DataFrame, v: Long): Unit = {
    val lp = lineagePath(dataPath)
    val fs = fsOf(spark, dataPath)
    requireAtomicBirth(spark, fs, dataPath)
    // commit_ts (epoch millis, the segment's write moment) rides every
    // action row — what readAsOfTimestamp / vacuumOlderThan map
    // against. Metadata only: no query result ever derives from it.
    // attempt-unique staging (r17 storm finding): two committers racing
    // to one version both staged into `_segtmp_v<v>`, and the birth's
    // delete-on-entry clobbered the other's in-flight write — a Spark
    // job failure instead of the typed CommitRaceLost the loser is owed.
    // The create-if-absent birth stays the one arbiter.
    val token = java.util.UUID.randomUUID().toString.take(8)
    // Collect the segment FIRST (it is metadata-sized by construction —
    // file actions, not data), write the birth from the local rows, and
    // keep them for the post-commit snapshot refresh below: the old
    // shape re-listed AND re-read the whole effective lineage on the
    // next consultation after every commit — one growing Spark job per
    // commit that the committer, holding the very rows it just
    // appended, never needed (r17, guide §1.2).
    val stamped = seg.withColumn("commit_ts",
      lit(System.currentTimeMillis()))
    val segRows = stamped.collect()
    val segLocal = spark.createDataFrame(
      java.util.Arrays.asList(segRows: _*), stamped.schema)
    val won = atomicSingleFileBirth(fs, segLocal,
      lp + s"_segtmp_v${v}_$token", hp(s"$lp/segment_v$v.parquet"),
      localRows = Some((segRows, stamped.schema)))
    if (!won) throw new CommitRaceLost(v, dataPath,
      s"time-travel commit LOST the race for version $v of $dataPath — " +
        "another committer's segment landed first; this commit " +
        "published nothing (its attempt-unique staged files are " +
        "orphans gcOrphans reclaims). Appends auto-retry; merges " +
        "retry only when provably disjoint from the winner")
    // VACUUMED-ARBITER GUARD (r17 storm finding, the round's one real
    // correctness bug — inherited): the version arbiter is the
    // create-if-absent birth of segment_v<v>, but [[vacuumLineage]]
    // DELETES folded segments — so a committer whose head-read→birth
    // window spans a fold+vacuum cycle can re-birth a long-burned
    // version successfully while every reader ignores it (the newer
    // checkpoint wins effectiveLineageFiles): a silently LOST commit
    // that reported success. Post-birth, one listing decides: a
    // checkpoint at or past v existing NOW either folded our segment
    // (it was born before the fold's listing — rows present, commit
    // durable) or predated our birth (the stale case — rows absent,
    // the version was already burned). Absent ⇒ remove our invisible
    // segment and lose the race loudly; the caller's normal retry
    // lands at the true head. Honest commits can never trip it: any
    // fold reaching version ≥ v after our birth folded our rows in.
    postBirthForTests()
    val after = snapshots.list(fs, lp)
    val filesAfter = after.fold(Seq.empty[org.apache.hadoop.fs.FileStatus])(
      _.files)
    val ckptAfter = filesAfter.map(_.getPath.getName).collectFirst {
      case ckptNameRe(cv) => cv.toLong }.getOrElse(0L)
    if (ckptAfter >= v) {
      val s = lineageSnap(spark, dataPath)
      val (sa, sf) = (stamped.schema.fieldNames.indexOf("action"),
        stamped.schema.fieldNames.indexOf("file_name"))
      val effAtV = s.rows.iterator.filter(_.getLong(s.vIdx) == v)
        .map(x => (x.getString(s.aIdx), x.getString(s.fIdx))).toSet
      val ours = segRows.iterator
        .map(r => (r.getString(sa), r.getString(sf))).toSet
      // Foldedness test, comparing only what [[compactFoldRows]] would
      // RETAIN (ADVICE r17 — the verbatim forall false-positived on
      // durable vacuum() segments whose own non-witness vacuum rows the
      // fold legitimately truncates):
      //  - every surviving version-v row must be OURS (a stale rebirth
      //    finds the ORIGINAL commit's rows there — fires correctly;
      //    this direction also closes the old test's hole where a stale
      //    segment whose rows were a strict SUBSET of the original's
      //    passed as folded);
      //  - every row of ours must either survive verbatim, or be a
      //    vacuum-action row whose file has NO rows anywhere in the
      //    folded view — exactly the truncation signature (the fold
      //    drops a vacuumed non-witness file's entire history). For a
      //    STALE vacuum rebirth that absence instead means the file was
      //    already vacuumed AND folded earlier, so reporting success is
      //    the idempotent-vacuum answer either way. add/remove rows
      //    keep the verbatim requirement: a brand-new staged file is
      //    also "absent" when the commit never folded, and only the
      //    loud CommitRaceLost retry re-derives those correctly.
      val filesWithRows = s.rows.iterator.map(_.getString(s.fIdx)).toSet
      val folded = effAtV.subsetOf(ours) && ours.forall { rr =>
        effAtV(rr) || (rr._1 == "vacuum" && !filesWithRows(rr._2))
      }
      if (!folded) {
        fs.delete(hp(s"$lp/segment_v$v.parquet"), false)
        throw new CommitRaceLost(v, dataPath,
          s"time-travel commit LOST the race for version $v of " +
            s"$dataPath: the version was already committed, folded " +
            "into a lineage checkpoint, and its segment vacuumed " +
            "before this attempt's birth — the re-born segment is " +
            "invisible to every reader and has been removed. " +
            "Appends auto-retry at the true head; merges retry only " +
            "when provably disjoint")
      }
    } else {
      // the commit IS durable here; what follows is log maintenance.
      // A crash in it (the "checkpoint" matrix boundary) leaves a fully
      // committed version whose caller retry no-ops through batchId.
      refreshSnapAfterAppend(lp, v, segRows, stamped.schema, after)
    }
    maybeCheckpoint(spark, dataPath, filesAfter.count(f =>
      segmentNameRe.pattern.matcher(f.getPath.getName).matches))
  }

  /** Fold the just-committed segment's rows into the cached lineage
    * snapshot IN PLACE — zero jobs, no extra listing — instead of
    * letting the next consultation reload every effective file. The
    * snapshot's guarded install ([[ListingSnapshot.afterAppend]]) skips
    * it unless the post-birth listing is exactly the cached file set
    * plus this commit's own segment — a cached set that already holds
    * our segment (a concurrent cold load) would duplicate its rows.
    * When the listing is exactly our segment (a table's first commit)
    * the segment IS the lineage, and it is installed whether or not a
    * snapshot was cached ([[ListingSnapshot.afterSwap]]).
    * Never load-bearing: a skipped or raced update costs one cold
    * reload, not correctness.
    */
  private def refreshSnapAfterAppend(lp: String, v: Long,
      segRows: Array[Row], segSchema: StructType,
      after: Option[ListingSnapshot.Listing]): Unit = {
    val seg = Set(s"segment_v$v.parquet")
    def withSegment(cached: LineageRows): LineageRows = {
      val merged = widenMerge(cached.schema, segSchema,
        s"lineage snapshot of $lp")
      def remap(rows: Array[Row], from: StructType): Array[Row] = {
        if (from == merged) return rows
        val srcIdx = merged.fields.map(f => from.fieldNames.indexOf(f.name))
        val needsCast = merged.fields.zip(srcIdx).map { case (f, i) =>
          i >= 0 && normalizeType(from.fields(i).dataType) != f.dataType }
        rows.map { r =>
          Row.fromSeq(merged.fields.indices.map { j =>
            val i = srcIdx(j)
            if (i < 0 || r.isNullAt(i)) null
            else if (!needsCast(j)) r.get(i)
            else (r.get(i), merged.fields(j).dataType) match {
              case (x: java.lang.Number,
                    org.apache.spark.sql.types.LongType) =>
                java.lang.Long.valueOf(x.longValue())
              case (x: java.lang.Number,
                    org.apache.spark.sql.types.DoubleType) =>
                java.lang.Double.valueOf(x.doubleValue())
              case _ => throw new IllegalStateException("uncastable") // skip via NonFatal below
            }
          })
        }
      }
      new LineageRows(merged,
        remap(cached.rows, cached.schema) ++ remap(segRows, segSchema))
    }
    try {
      if (after.exists(_.names == seg))
        snapshots.afterSwap(lp, seg, after,
          withSegment(new LineageRows(new StructType(), Array.empty)))
      else snapshots.afterAppend(lp, seg, after)(withSegment)
    } catch {
      case scala.util.control.NonFatal(_) => () // next read reloads cold
    }
  }

  /** Fold the log when the tail past the newest checkpoint (`tail`,
    * counted on the commit's post-birth listing) reaches the
    * configured interval — [[appendLineage]]'s post-commit hook. Write
    * only, never delete (a delete here would race concurrent readers'
    * listings; [[vacuumLineage]] reclaims explicitly). */
  private def maybeCheckpoint(spark: SparkSession, dataPath: String,
                              tail: Int): Unit = {
    val k = checkpointInterval(spark)
    if (k <= 0 || tail < k) return
    crashForTests("checkpoint")
    // Best-effort maintenance: the commit this hook follows is ALREADY
    // durable, so a fold failure must not surface as an apparent commit
    // failure (a batchId-less caller retrying on it would double-commit
    // its rows — ADVICE r16). Log and continue; the next commit past the
    // interval retries the fold.
    try checkpointLineage(spark, dataPath): Unit
    catch {
      case scala.util.control.NonFatal(e) =>
        org.apache.log4j.Logger.getLogger(getClass).warn(
          s"lineage checkpoint fold failed for $dataPath (commit is " +
            s"durable; next commit retries): $e")
    }
  }

  /** Fold every effective lineage file into ONE checkpoint parquet
    * (`ckpt_v<head>.parquet` beside the segments) so every later
    * metadata consultation reads checkpoint + tail instead of
    * O(commit-count) segments — the log-structured fold every lake
    * format needs once commit counts grow. Idempotent (a checkpoint
    * already at the head is a no-op) and race-safe (create-if-absent
    * birth; a lost race means another checkpointer folded the same
    * rows — equally correct). Folded segments stay on disk until
    * [[vacuumLineage]]; readers ignore them from the moment the
    * checkpoint exists. Returns the checkpointed head version.
    *
    * THE FOLD COMPACTS (r17, VERDICT r16 #2): rows of files a [[vacuum]]
    * has reclaimed are TRUNCATED out of the checkpoint — every vacuumed
    * file was last removed at or below the vacuum floor, so no as-of
    * read in the retained window ([[earliestReadable]], head] can ever
    * touch its rows, and keeping them made driver snapshot bytes grow
    * O(files-ever) with commit churn at a FIXED live-file count. What
    * survives per truncated history: a floor WITNESS (the vacuumed file
    * whose remove realizes the floor keeps all its rows, so
    * [[earliestReadable]] answers unchanged), a schema-stamp witness
    * (when the newest cumulative `table_schema_json` rides only
    * vacuumed adds, that file's rows stay — the widening guard's record
    * must never regress), and the truncated commits' replay `batch_id`s,
    * moved into the commit ledger ([[graft.operators.Ledger.recordAll]])
    * so [[lineageHasBatch]]'s crash-window guarantee survives the rows.
    * [[history]] / [[versionAt]] / [[describeTable]] aggregates over
    * versions at or below the floor become partial — the explicit trade
    * [[vacuum]] already made for the DATA at those versions. */
  def checkpointLineage(spark: SparkSession, dataPath: String): Long = {
    val s = lineageSnap(spark, dataPath)
    val v = s.maxVersion
    val lp = lineagePath(dataPath)
    val fs = fsOf(spark, dataPath)
    val dest = hp(s"$lp/ckpt_v$v.parquet")
    if (fs.exists(dest)) return v
    // Fold the SAME captured snapshot the head version came from — a
    // second lineage() here would re-list, and a concurrent committer
    // landing v+1 between the two reads would embed v+1's rows in
    // ckpt_v{v} while segment_v{v+1} stays effective: readers would see
    // those action rows TWICE (ADVICE r16). From one snapshot the fold
    // is exactly the rows ≤ v by construction. Staging dir is
    // attempt-unique: two processes crossing the interval at the same
    // head must not clobber each other's in-flight parts (the birth
    // itself is already create-if-absent).
    val foldRows = compactFoldRows(spark, dataPath, s)
    val fold = spark.createDataFrame(
      java.util.Arrays.asList(foldRows: _*), s.schema)
    val token = java.util.UUID.randomUUID().toString.take(8)
    atomicSingleFileBirth(fs, fold,
      lp + s"_ckpttmp_v${v}_$token", dest,
      localRows = Some((foldRows, s.schema))): Unit
    v
  }

  /** The checkpoint's compacted row set (see [[checkpointLineage]]):
    * all rows of never-vacuumed files, plus all rows of the witness
    * files, minus everything else — with truncated replay ids moved to
    * the ledger FIRST (the ledger append is idempotent, so a crash
    * between it and the checkpoint birth re-runs harmlessly; the
    * reverse order would open a replay window). Pure driver fold over
    * the snapshot — zero jobs beyond the bounded ledger anti-join. */
  private def compactFoldRows(spark: SparkSession, dataPath: String,
                              s: LineageRows): Array[Row] = {
    val vacuumed = scala.collection.mutable.HashSet.empty[String]
    s.rows.foreach { r =>
      if (r.getString(s.aIdx) == "vacuum") vacuumed += r.getString(s.fIdx)
    }
    if (vacuumed.isEmpty) return s.rows
    // floor witness: max (remove version, file_name) among vacuumed
    var wfV = 0L; var wfN = ""
    s.rows.foreach { r =>
      if (r.getString(s.aIdx) == "remove" && vacuumed(r.getString(s.fIdx))) {
        val rv = r.getLong(s.vIdx); val rn = r.getString(s.fIdx)
        if (rv > wfV || (rv == wfV && rn > wfN)) { wfV = rv; wfN = rn }
      }
    }
    // stamp witness: needed only when NO retained add row carries a
    // cumulative stamp at the newest stamped version (ties across a
    // commit's files carry identical stamps, so any retained one frees
    // the truncation)
    val tj = s.idx("table_schema_json")
    var stampV = Long.MinValue
    if (tj >= 0) s.rows.foreach { r =>
      if (r.getString(s.aIdx) == "add" && !r.isNullAt(tj) &&
          r.getLong(s.vIdx) > stampV) stampV = r.getLong(s.vIdx)
    }
    val stampOnRetained = tj >= 0 && s.rows.exists(r =>
      r.getString(s.aIdx) == "add" && !r.isNullAt(tj) &&
        r.getLong(s.vIdx) == stampV && !vacuumed(r.getString(s.fIdx)))
    val wStamp: Option[String] =
      if (tj < 0 || stampV == Long.MinValue || stampOnRetained) None
      else s.rows.iterator.filter(r => r.getString(s.aIdx) == "add" &&
          !r.isNullAt(tj) && r.getLong(s.vIdx) == stampV)
        .map(_.getString(s.fIdx)).toSeq.sorted.lastOption
    val witness: Set[String] = Set(wfN) ++ wStamp
    def retained(r: Row): Boolean = {
      val f = r.getString(s.fIdx)
      !vacuumed(f) || witness(f)
    }
    // replay ids of truncated rows outlive them in the ledger
    val bIdx = s.idx("batch_id")
    if (bIdx >= 0) {
      val dropped = s.rows.iterator
        .filter(r => !retained(r) && !r.isNullAt(bIdx))
        .map(_.getString(bIdx)).toSeq.distinct
      graft.operators.Ledger.recordAll(spark,
        commitLedgerPath(dataPath), dropped)
    }
    s.rows.filter(retained)
  }

  /** The operator's attestation that THIS process is the table's only
    * maintainer AND no reader runs in another process — what lets
    * [[vacuumLineage]] skip its grace window. Explicit, never a
    * default. */
  private[graft] val singleMaintainerKey =
    "graft.timetravel.single.maintainer"

  /** Default [[vacuumLineage]] grace: folded files are reclaimed only
    * once the checkpoint superseding them has existed this long —
    * orders of magnitude past any reader's listing-to-read latency. */
  private[graft] val defaultLineageGraceMillis: Long = 15L * 60 * 1000

  /** Reclaim lineage files a checkpoint has folded: segments at
    * versions ≤ the newest checkpoint and superseded checkpoints.
    * Row history over the RETAINED window is fully preserved in the
    * checkpoint (vacuumed-floor history truncates at the fold —
    * [[checkpointLineage]]); only the per-commit DISCOVERY files go, so
    * a [[streamChanges]] consumer bootstrapping from scratch afterwards
    * must start at a snapshot ≥ the checkpoint version (live streams
    * are unaffected — their seen-files log already absorbed the folded
    * segments). Returns files deleted.
    *
    * CROSS-PROCESS READER SAFETY (r17, VERDICT r16 #3): a reader in
    * another process lists the directory, then reads what it listed —
    * if its listing predates the newest checkpoint, it is mid-read of
    * the very segments this call deletes. The delete is therefore
    * AGE-GATED: nothing is reclaimed until the newest checkpoint has
    * existed for `graceMillis` (default 15 min — a bound no
    * listing-to-read window approaches; 0 reclaims now and reads as a
    * per-call single-maintainer attestation). The conf key
    * [[singleMaintainerKey]] is the standing attestation that skips
    * the gate process-wide. */
  def vacuumLineage(spark: SparkSession, dataPath: String,
                    graceMillis: Long = defaultLineageGraceMillis,
                    nowMillis: Long = System.currentTimeMillis()): Int = {
    val lp = lineagePath(dataPath)
    val fs = fsOf(spark, dataPath)
    if (!fs.exists(hp(lp))) return 0
    val all = fs.listStatus(hp(lp)).filter(_.isFile)
    val ckpt = all.flatMap(f => f.getPath.getName match {
      case ckptNameRe(v) => Some(v.toLong -> f)
      case _ => None
    }).sortBy(_._1).lastOption.getOrElse(return 0)
    val grace =
      if (spark.sparkContext.hadoopConfiguration
          .getBoolean(singleMaintainerKey, false)) 0L
      else graceMillis
    if (nowMillis - ckpt._2.getModificationTime < grace) return 0
    val ckptV = ckpt._1
    val doomed = all.filter(f => f.getPath.getName match {
      case segmentNameRe(v) => v.toLong <= ckptV
      case ckptNameRe(v) => v.toLong < ckptV
      case _ => false
    })
    doomed.foreach(f => fs.delete(f.getPath, false): Unit)
    doomed.length
  }

  /** Reclaim INVISIBLE residue: data files no lineage row references
    * (crashed promotions, a lost race's stranded generation) plus
    * leftover staging and segment-temp directories. Never touches a
    * referenced file — including logically-removed history, which is
    * [[vacuum]]'s job (an explicit policy decision, not hygiene).
    * Same serialized-writer discipline as every maintenance face: run
    * at a quiet moment, never concurrent with an in-flight commit
    * (whose just-promoted, not-yet-committed files look exactly like
    * orphans). Returns the number of data files reclaimed.
    */
  def gcOrphans(spark: SparkSession, dataPath: String): Int = {
    val fs = fsOf(spark, dataPath)
    if (!fs.exists(hp(dataPath))) return 0
    val referenced: Set[String] =
      lineageOpt(spark, dataPath).fold(Set.empty[String]) { s =>
        s.rows.iterator.map(_.getString(s.fIdx)).toSet
      }
    val doomed = fs.listStatus(hp(dataPath))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
      .filterNot(p => referenced.contains(p.getName))
    doomed.foreach(p => fs.delete(p, false): Unit)
    Seq("_staging_v*", "_lineage_segtmp_v*", "_lineage_ckpttmp_v*")
      .foreach { pat =>
      Option(fs.globStatus(hp(dataPath.stripSuffix("/") + pat)))
        .toSeq.flatten.foreach(f => fs.delete(f.getPath, true): Unit)
    }
    doomed.length
  }

  /** Plain (version, action, file_name, n_rows) rows — the stat-less
    * remove/vacuum segment shape. */
  private def actionRows(spark: SparkSession,
                         rows: Seq[(Long, String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("version", "action", "file_name", "n_rows")
  }

  /** The commit's per-file stats frame derived from parquet footers
    * alone ([[FooterStats]]) — None whenever ANY needed stat is
    * absent, inexact-prone, or of an unsupported type (the caller then
    * runs the old scan-derived aggregate, which is always exact). */
  private def footerStatsDf(spark: SparkSession, dataPath: String,
                            promoted: Seq[String], schema: StructType,
                            dims: Seq[String]): Option[DataFrame] =
    FooterStats.statsDf(spark,
      promoted.map(n => (n, hp(s"$dataPath/$n"))), schema, dims)

  /** A generation laid out on the driver ([[Layout.zRunsOnDriver]]):
    * its rows in curve order, one run per file. */
  private final case class LocalRuns(schema: StructType,
                                     runs: Seq[Array[Row]])

  /** Stage `staged` (already clustered by the caller: a frame Spark
    * writes, or runs [[LocalParquet]] writes one file each with no
    * Spark job), promote the parts
    * under attempt-unique `v<v>_<token>_<i>.parquet` names, and return
    * the commit's `add` lineage rows: per promoted file its row count
    * AND the [[Layout.statsAggs]] min/max/null-count payload for
    * `dims` — ONE batch-sized scan computes both, and recording the
    * stats in the lineage is what lets [[readAsOf]] skip files without
    * any secondary manifest. Steps 2–3 of the commit protocol. Crash
    * and race safety come from the same fact: only the lineage makes
    * files real, so an abandoned attempt's uniquely-named files are
    * invisible orphans, never residue a retry must clear.
    */
  private def stageAndPromote(spark: SparkSession, dataPath: String,
                              v: Long, staged: Either[DataFrame, LocalRuns],
                              dims: Seq[String]): DataFrame = {
    val fs = fsOf(spark, dataPath)
    val schema = staged.fold(_.schema, _.schema)
    // ATTEMPT-UNIQUE names (r14): a random token per staging attempt
    // keeps two committers racing to the same version from clobbering
    // each other's parts — the hazard the arbiter scaladoc used to
    // document is now structurally impossible, which is what lets the
    // lost racer RETRY at the next version instead of inspecting
    // residue. A crashed attempt's files are plain orphans (lineage is
    // truth; gcOrphans reclaims them) — no glob-clear, which under
    // racing would have deleted the OTHER writer's promoted files.
    val tok = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong() |
        (1L << 62)).take(8)
    val staging = stagingPath(dataPath, v) + s"_$tok"
    fs.delete(hp(staging), true)
    staged match {
      case Left(df) => df.write.mode("overwrite").parquet(staging)
      case Right(l) => l.runs.zipWithIndex.foreach { case (run, i) =>
        require(LocalParquet.write(run, l.schema,
          f"$staging/part-$i%05d.parquet",
          spark.sparkContext.hadoopConfiguration),
          s"time-travel commit: ${l.schema.simpleString} is outside " +
            "the driver writer's types") }
    }
    crashForTests("staged")
    fs.mkdirs(hp(dataPath))
    val parts = fs.listStatus(hp(staging))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val promoted = parts.zipWithIndex.map { case (f, i) =>
      val name = s"v${v}_${tok}_$i.parquet"
      require(fs.rename(f.getPath, hp(s"$dataPath/$name")),
        s"time-travel commit: could not promote ${f.getPath} — retry " +
          "the commit (an abandoned attempt's files are orphans " +
          "gcOrphans reclaims)")
      if (i == 0) crashForTests("promote_partial")
      name
    }.toSeq
    fs.delete(hp(staging), true)
    crashForTests("promoted")
    // stats from the PROMOTED files (post-rename, so the scan and the
    // lineage agree on names; a crash before the lineage append leaves
    // only untracked files the retry overwrites). Batch-sized, and the
    // one scan serves counts, history accounting, and data skipping.
    if (promoted.isEmpty)
      return actionRows(spark, Seq.empty).limit(0)
    // the CUMULATIVE table schema, folded FORWARD at commit time: the
    // previous record (O(1) — itself a stamp) widened by this batch.
    // What makes read-side schema resolution O(1) in commit count
    // instead of a re-derivation over ALL history per read (the r15
    // q144 finding). Monotone by construction: widenMerge can only
    // keep or widen the previous record.
    val cumulative = recordedTableSchema(spark, dataPath) match {
      case Some(cur) => widenMerge(cur, schema, s"commit of $dataPath")
      case None => normalizeType(schema).asInstanceOf[StructType]
    }
    // Per-file stats from the parquet FOOTERS of the files this commit
    // just wrote (r17, guide §1.2/§6): the staging write already paid
    // one full pass over the batch; re-scanning the promoted files to
    // re-derive min/max/null-counts the writer recorded in the footer
    // was a second full pass per commit. Footer reads are
    // metadata-sized driver work (files-per-commit bounded). Exactness
    // contract: stats here surface to oracle-checked results
    // ([[columnStats]]), so only types whose footer stats provably
    // equal the old aggregate are taken — integer family (exact), date
    // (exact int32 days), string (exact unsigned-lexicographic UTF8,
    // absent-when-truncated); float/double (NaN/±0.0 divergence) and
    // everything else fall back to the scan, as does any file whose
    // footer lacks a needed stat.
    val stats = footerStatsDf(spark, dataPath, promoted, schema, dims)
      .getOrElse(
        spark.read.parquet(promoted.map(n => s"$dataPath/$n"): _*)
          .groupBy(element_at(split(input_file_name(), "/"), -1)
            .as("file_name"))
          .agg(count(lit(1)).as("n_rows"),
            Layout.statsAggs(schema, dims): _*))
    stats
      .withColumn("version", lit(v))
      .withColumn("action", lit("add"))
      // the commit's schema rides its add rows (metadata-sized): what
      // readFilesWidened folds into the read target, and what the
      // narrowing guard compares the next batch against
      .withColumn("schema_json", lit(schema.json))
      .withColumn("table_schema_json", lit(cumulative.json))
  }

  /** Materialize-once, the rule every batch face enters by: a commit
    * reads its batch from several places — emptiness and guard
    * aggregates, candidate joins, the range partitioner's sample pass,
    * the staged write — and batches are routinely derived trees (SCD
    * stamps, feed filters, change-feed joins), not raw scans. Each use
    * would re-evaluate the tree, and a non-deterministic batch could
    * pass a guard and then write different rows. MEMORY_AND_DISK spills
    * instead of OOMing when a batch outgrows executor storage (the
    * materialize-the-merge-source move Delta's MERGE makes);
    * unpersisted on every exit. A batch the driver already holds
    * ([[Layout.driverHeld]]) is materialized and deterministic as it
    * stands, so [[commitAppend]] passes it through uncached: caching
    * it would hide the local rows the driver layout reads.
    */
  private def materialized[T](df: DataFrame)(body: DataFrame => T): T = {
    val mat = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(mat) finally mat.unpersist(false)
  }

  /** THE rewrite commit every write face lands on: version `base + 1`
    * is the live set at `base` minus the `rewrite` files, plus one
    * fresh generation — the rows of the rewritten files that `keep`
    * retains, unioned with `batch` (schema evolution by the merged
    * union every read uses). A face plans against `base` (which files
    * to rewrite, which rows survive) and owns its guards and its retry
    * rule; everything after the plan happens here, once:
    *  1. the batch arrives [[materialized]] from its face (or as the
    *     driver's own rows, which need no cache); a merge
    *     generation (survivors AND a batch — a join tree) is
    *     materialized too, so the bounds probe, the range partitioner's
    *     sample and the staged write evaluate it once. Survivors alone
    *     (a delete's single-pass write, a compaction's re-read of
    *     immutable files) are not cached: the cache would cost a Spark
    *     job per commit;
    *  2. it is z-clustered on `dimsFor(its columns)` into `files`
    *     parquet files: ONE aggregate ([[Layout.countAndZKey]]) yields
    *     the row count and the z-key bounds, [[Layout.zCluster]] lays
    *     out the curve. A generation that is only a batch the driver
    *     holds, with integral or date dims and a schema
    *     [[LocalParquet]] writes, is laid out on the driver instead
    *     ([[Layout.zRunsOnDriver]]: the same keys, cut into runs
    *     without splitting a key) and staged one file per run with no
    *     Spark job; only the write in [[stageAndPromote]] differs. A
    *     generation of `wholeFiles` (the rewritten
    *     files kept whole, no batch: compact, compactSmall) takes the
    *     count and bounds from the files' lineage `add` rows instead
    *     when they are exact ([[lineageZBounds]]), so the files are
    *     read once, by the write. Bounds drift between generations
    *     only loosens skip rate, never results. An empty or dim-less
    *     generation, and a delete's survivors (`cluster = false`:
    *     one output file per rewritten file keeps file sizes stable),
    *     take a plain repartition instead;
    *  3. nothing to write and nothing to remove commits nothing and
    *     returns `base` — never a contentless version;
    *  4. `admit` runs the face's last pre-staging guard; then the
    *     interleave seam, [[stageAndPromote]], the `remove` rows for
    *     `rewrite` and the batch-id stamp;
    *  5. [[appendLineage]], the commit point (a lost race escapes as
    *     [[CommitRaceLost]] to the face's retry rule), then — for a
    *     batch — the commit-ledger record.
    */
  private def rewriteCommit(spark: SparkSession, dataPath: String,
      base: Long, rewrite: Seq[String], keep: DataFrame => DataFrame,
      batch: Option[DataFrame], dimsFor: Seq[String] => Seq[String],
      files: Int, batchId: Option[String] = None, cluster: Boolean = true,
      admit: () => Unit = () => (), wholeFiles: Boolean = false): Long = {
    def commit(gen: DataFrame): Long = {
      val dims = dimsFor(gen.columns.toSeq)
      val fromLineage =
        if (wholeFiles && batch.isEmpty && cluster && dims.nonEmpty)
          lineageZBounds(spark, dataPath, rewrite, gen, dims)
        else None
      val clustered = cluster && dims.nonEmpty
      // only a lone batch can be driver-held: survivors are file scans
      // and a merge generation is cached
      val onDriver =
        if (clustered && rewrite.isEmpty)
          Layout.zRunsOnDriver(gen, dims, files)
        else None
      val (empty, laid) = onDriver match {
        case Some(runs) => (runs.isEmpty, Right(LocalRuns(gen.schema, runs)))
        case None if !clustered =>
          (rewrite.isEmpty && gen.isEmpty, Left(gen.repartition(files)))
        case None => fromLineage.map { case (n, bounds) =>
            (n, Layout.zKeyFromBounds(gen, dims, bounds)) }
          .getOrElse(Layout.countAndZKey(gen, dims)) match {
          case (0L, _) => (true, Left(gen.repartition(files)))
          case (_, keyed) => (false, Left(Layout.zCluster(keyed, files)))
        }
      }
      if (empty && rewrite.isEmpty) return base
      admit()
      val v = base + 1
      interleaveForTests()
      appendLineage(spark, dataPath,
        stampBatch(stageAndPromote(spark, dataPath, v, laid, dims)
          .unionByName(actionRows(spark,
            rewrite.map(name => (v, "remove", name, 0L))),
            allowMissingColumns = true), batchId), v)
      if (batch.nonEmpty) {
        crashForTests("ledger")
        batchId.foreach(graft.operators.Ledger.record(spark,
          commitLedgerPath(dataPath), _))
      }
      v
    }
    val survivors =
      if (rewrite.isEmpty) None
      else Some(keep(readFilesWidened(spark, dataPath, rewrite)))
    (survivors, batch) match {
      case (None, None) => base
      case (None, Some(b)) => commit(b)
      case (Some(s), None) => commit(s)
      case (Some(s), Some(b)) =>
        materialized(s.unionByName(b, allowMissingColumns = true))(commit)
    }
  }

  /** Test seam: false sends every rewrite to the aggregate probe, so a
    * spec can run both z-bounds paths over the same files. True in
    * production. */
  private[graft] var lineageBoundsForTests: Boolean = true

  /** The row count of `files` and each z-dim's ord-image bounds (None
    * when every value is null), from the files' lineage `add` rows
    * alone: `sum(n_rows)`, and the min of `min_<dim>` / max of
    * `max_<dim>` through the z-key's monotone cast to double. Exact only
    * for [[Layout.exactStatOrd]] types, so None — the caller keeps the
    * aggregate — unless every dim of `gen` has such a type and every
    * file's add row carries `n_rows` and the dim's stats (a null min
    * only on an all-null file: `nulls_<dim>` = `n_rows`). */
  private def lineageZBounds(spark: SparkSession, dataPath: String,
      files: Seq[String], gen: DataFrame, dims: Seq[String])
      : Option[(Long, Seq[(Option[Double], Option[Double])])] = {
    if (!lineageBoundsForTests || !dims.forall(d => gen.schema.fields
        .exists(f => f.name == d && Layout.exactStatOrd(f.dataType))))
      return None
    val s = lineageSnap(spark, dataPath)
    val nIdx = s.idx("n_rows")
    val stat = dims.map(d =>
      (s.idx(s"min_$d"), s.idx(s"max_$d"), s.idx(s"nulls_$d")))
    if (nIdx < 0 || stat.exists { case (a, b, c) => a < 0 || b < 0 || c < 0 })
      return None
    val want = files.toSet
    val adds = s.rows.iterator.filter(r =>
        r.getString(s.aIdx) == "add" && want(r.getString(s.fIdx)))
      .map(r => r.getString(s.fIdx) -> r).toMap.values.toSeq
    if (adds.size != want.size || adds.exists(_.isNullAt(nIdx))) return None
    val bounds = stat.map { case (mnI, mxI, nuI) =>
      val perFile = adds.map { r =>
        if (r.isNullAt(nuI)) None
        else if (r.isNullAt(mnI) || r.isNullAt(mxI))
          Option.when(r.getLong(nuI) == r.getLong(nIdx))(
            Option.empty[(Double, Double)])
        else for (lo <- Layout.exactOrdImage(r.get(mnI));
                  hi <- Layout.exactOrdImage(r.get(mxI)))
          yield Option((lo, hi))
      }
      if (perFile.exists(_.isEmpty)) return None
      val known = perFile.flatten.flatten
      (known.map(_._1).minOption, known.map(_._2).maxOption)
    }
    Some((adds.map(_.getLong(nIdx)).sum, bounds))
  }

  /** The files among `files` whose lineage `add` rows may hold a row
    * inside every prunable range — [[Layout.rangeKeep]]'s conservative
    * rule: null-bearing files and stats-less add rows (a commit
    * predating the dimension) stay, so stats may only cost skip rate,
    * never rows. A range over a column the lineage has never recorded
    * stats for prunes nothing; `also` is one more keep condition over
    * the same stat columns. A driver filter over the lineage's local
    * rows — no data read. */
  private def statScreen(l: DataFrame, files: Seq[String],
                         ranges: Seq[Layout.ColRange],
                         also: Option[Column] = None): Seq[String] = {
    val keeps = ranges.filter(r => Seq("min_", "max_", "nulls_")
        .forall(p => l.columns.contains(p + r.colName)))
      .map(Layout.rangeKeep) ++ also
    if (keeps.isEmpty || files.isEmpty) files
    else {
      val kept = l.filter(col("action") === "add" && keeps.reduce(_ && _))
        .select(col("file_name")).collect().map(_.getString(0)).toSet
      files.filter(kept)
    }
  }

  /** The files among `candidates` actually holding a row `matching`
    * selects — the data half of a rewrite's discovery, one scan of
    * ONLY the candidate files. No broadcast hint on an id frame a
    * `matching` joins: it is usually needle-sized but is not REQUIRED
    * to be, and a literal hint would pin a build side that might be
    * 10^9 ids at 100 TB — AQE picks the broadcast at runtime when the
    * frame is small. Sorted. */
  private def filesHolding(spark: SparkSession, dataPath: String,
                           candidates: Seq[String],
                           matching: DataFrame => DataFrame): Seq[String] =
    if (candidates.isEmpty) Seq.empty
    else matching(readFilesWidened(spark, dataPath, candidates)
        .withColumn("__file", element_at(split(input_file_name(), "/"), -1)))
      .select(col("__file")).distinct()
      .collect().map(r =>
        Layout.decodePathComponent(r.getString(0))).toSeq.sorted

  /** Commit a new batch as version `latest + 1`: the batch z-clustered
    * on `dims` into `files` parquet files and its `add` actions
    * recorded ([[rewriteCommit]], rewriting no file). Returns the
    * committed version; an empty batch commits nothing (streaming
    * epochs are routinely empty). `batchId` makes whole-commit replays
    * exact no-ops (see object doc). A batch is [[materialized]] once,
    * unless the driver already holds its rows ([[Layout.driverHeld]]):
    * such a batch, with integral or date dims and a schema
    * [[LocalParquet]] writes, commits warm with no Spark job (the
    * driver layout of [[rewriteCommit]] step 2).
    *
    * `expectedVersion` is the pre-commit CAS for writers that stamp
    * the target version INTO their rows (e.g. [[Scd]] epochs): when
    * set, the commit must land exactly there — a head that has moved
    * refuses with [[CommitRaceLost]] BEFORE staging, and a lost
    * appendLineage race refuses without retrying (a retry would land
    * at a different version than the rows claim). Nothing
    * epoch-inconsistent can enter the lineage.
    */
  def commitAppend(df: DataFrame, dataPath: String, dims: Seq[String],
                   files: Int, batchId: Option[String] = None,
                   retries: Int = 3,
                   expectedVersion: Option[Long] = None): Long = {
    def append(b: DataFrame): Long =
      appendBatch(b, dataPath, dims, files, batchId, retries, expectedVersion)
    if (Layout.driverHeld(df)) append(df) else materialized(df)(append)
  }

  private def appendBatch(df: DataFrame, dataPath: String,
                          dims: Seq[String], files: Int,
                          batchId: Option[String], retries: Int,
                          expectedVersion: Option[Long]): Long = {
    val spark = df.sparkSession
    if (replayed(spark, dataPath, batchId))
      return latestVersion(spark, dataPath)
    // Probe BEFORE staging too (appendLineage is the authoritative choke
    // point, but failing after a table-sized stage write helps nobody)
    requireAtomicBirth(spark, fsOf(spark, dataPath), dataPath)
    val latest = latestVersion(spark, dataPath)
    try rewriteCommit(spark, dataPath, latest, Nil, identity, Some(df),
      _ => dims, files, batchId, admit = () => {
        enforceConstraints(spark, dataPath, df, "commitAppend")
        enforceWidening(spark, dataPath, df, "commitAppend")
        expectedVersion.filter(_ != latest + 1).foreach(ev =>
          throw new CommitRaceLost(ev, dataPath,
            s"commitAppend REFUSED before staging: the caller pinned " +
              s"version $ev but the head of $dataPath now lands commits " +
              s"at ${latest + 1} — another writer committed after the " +
              "caller read the head. Nothing was staged; re-derive " +
              "against the new head (rows stamped with the pinned epoch " +
              "must not land at a different version)"))
      })
    catch {
      // an append reads and rewrites NOTHING — its conflict set is
      // empty, so serializing behind any winner is correct; bounded
      // only as a runaway-race backstop. A pinned expectedVersion
      // never retries: the retry would land past the pin.
      case _: CommitRaceLost if retries > 0 && expectedVersion.isEmpty =>
        appendBatch(df, dataPath, dims, files, batchId, retries - 1,
          expectedVersion)
    }
  }

  /** The merge-retry conflict check: after losing the race from base
    * version `base`, a merge may retry ONLY if every intervening commit
    * is provably disjoint from its work —
    *  1. no intervening commit removed/vacuumed a file this merge also
    *     planned to rewrite (a shared rewrite = the same rows touched
    *     twice; auto-retry would pick a winner per row silently);
    *  2. no intervening ADD carries an `idCol` range overlapping this
    *     merge's keys (stats are exact min/max, so NON-overlap proves
    *     no matching id exists in the new files; overlap or missing
    *     stats refuse conservatively — the new rows might be ones this
    *     merge intended to match).
    * Refusal is the honest outcome for overlap: two writers touching
    * the same rows is a lost-update hazard only the caller can
    * adjudicate — re-derive the merge against the new head. Metadata
    * cost: one lineage filter, file-count-sized.
    */
  private[graft] def requireRetryDisjoint(
      spark: SparkSession, dataPath: String, base: Long, idCol: String,
      ids: DataFrame, plannedRewrites: Seq[String], face: String): Unit = {
    // The disjointness proof reads remove/vacuum rows in (base, head] —
    // sound only while none were truncated. A vacuum floor that moved
    // past the merge's base (possible only when an intervening vacuum
    // reclaimed files this merge could still see) means the checkpoint
    // fold may have truncated exactly those rows: refuse the auto-retry
    // loudly instead of proving disjointness from an incomplete log.
    val floor = earliestReadable(spark, dataPath)
    if (base < floor) throw new CommitRaceLost(base + 1, dataPath,
      s"$face REFUSED after losing the commit race on $dataPath: the " +
        s"vacuum floor advanced to $floor past this merge's base $base " +
        "while it ran — the intervening-commit log may be truncated, so " +
        "disjointness cannot be proven. Re-read the table and re-derive " +
        "the merge against the new head")
    val l = lineage(spark, dataPath).filter(col("version") > base)
    val winnersRemoves = l
      .filter(col("action").isin("remove", "vacuum"))
      .select(col("file_name")).collect().map(_.getString(0)).toSet
    val clash = plannedRewrites.filter(winnersRemoves).sorted
    if (clash.nonEmpty) throw new CommitRaceLost(base + 1, dataPath,
      s"$face REFUSED after losing the commit race on $dataPath: an " +
        s"intervening commit rewrote ${clash.take(5).mkString(", ")} " +
        "which this merge also rewrites — the writes OVERLAP, and an " +
        "automatic retry would silently pick a winner per row. " +
        "Re-read the table and re-derive the merge against the new head")
    val adds = l.filter(col("action") === "add")
    val mnC = s"min_$idCol"; val mxC = s"max_$idCol"
    val bounds = ids.agg(min(col(idCol)).as("lo"), max(col(idCol)).as("hi"))
      .head()
    val overlapping =
      if (!adds.columns.contains(mnC) || !adds.columns.contains(mxC))
        adds.count() // no id stats recorded → nothing is provable
      else adds.filter(col(mnC).isNull || col(mxC).isNull ||
        !(col(mxC) < lit(bounds.get(0)) || col(mnC) > lit(bounds.get(1))))
        .count()
    if (overlapping > 0L) throw new CommitRaceLost(base + 1, dataPath,
      s"$face REFUSED after losing the commit race on $dataPath: " +
        s"$overlapping intervening added file(s) carry $idCol ranges " +
        "overlapping this merge's keys — the writers may touch the " +
        "same rows. Re-derive the merge against the new head")
  }

  /** Versioned delete: rows of the CURRENT version whose `idCol` matches
    * a row of `doomedIds` disappear from version `latest + 1` on, while
    * every earlier version still reads them. Only the files that
    * actually hold a doomed row are rewritten (survivors re-staged as
    * one new file per rewritten file, originals logically removed);
    * untouched files are shared between the old and new versions.
    * Returns the new version, or the current one unchanged when nothing
    * matched (a no-op delete commits nothing — replay-friendly like
    * [[Layout.deleteByIds]]).
    *
    * The affected-file discovery composes two prunes before any data
    * moves: the lineage's own per-file `[min, max]` stats screen
    * candidate files against the id frame ([[idCandidateFiles]]), then
    * one semi-join of ONLY the candidate files' rows against the ids
    * yields the files actually holding a doomed row ([[filesHolding]]).
    * Driver cost stays file-count-bounded; data cost is
    * candidate-bounded, never table-bounded. A lost race retries only
    * when provably disjoint ([[requireRetryDisjoint]]), recomputing
    * everything from the new head.
    */
  def commitDelete(spark: SparkSession, dataPath: String, idCol: String,
                   doomedIds: DataFrame, retries: Int = 3): Long = {
    val latest = latestVersion(spark, dataPath)
    require(latest >= 1, s"commitDelete: no committed table at $dataPath")
    val live = liveFileNames(spark, dataPath, latest)
    // null doomed ids are inert BY the join semantics (null never equals
    // a data row's id), so the candidate screen drops them too. The id
    // frame joins three times — stat screen, affected probe, survivor
    // anti-join — and is routinely a derived tree (a change-feed filter)
    materialized(doomedIds.select(doomedIds.columns.head).toDF(idCol)
        .filter(col(idCol).isNotNull).distinct()) { ids =>
      val l = lineage(spark, dataPath)
      val affected = filesHolding(spark, dataPath,
        idCandidateFiles(l, live, idCol, ids),
        _.join(ids, Seq(idCol), "left_semi"))
      try rewriteCommit(spark, dataPath, latest, affected,
        _.join(ids, Seq(idCol), "left_anti"), None, _ => statDims(l),
        affected.size, cluster = false)
      catch {
        case _: CommitRaceLost if retries > 0 =>
          requireRetryDisjoint(spark, dataPath, latest, idCol, ids,
            affected, "commitDelete")
          commitDelete(spark, dataPath, idCol, doomedIds, retries - 1)
      }
    }
  }

  /** The stat dimensions the lineage already records (`min_<c>` column
    * suffixes) — a rewrite commit keeps recording them so its new files
    * stay skippable. */
  private def statDims(l: DataFrame): Seq[String] =
    l.columns.filter(_.startsWith("min_")).map(_.stripPrefix("min_")).toSeq

  /** The live files that MAY hold a row of `ids` by the lineage's own
    * per-file `[min, max]` stats — the metadata-sized candidate screen
    * [[commitDelete]] and [[commitUpsert]] share before any data moves.
    * Conservative by the same rule as [[Layout]]: no stats recorded for
    * `idCol` at all → every live file is a candidate; a stats-less add
    * row (a commit predating a dims change — nulls in min/max) cannot be
    * proven id-free and stays a candidate whenever any id exists.
    */
  private def idCandidateFiles(l: DataFrame, live: Seq[String],
                               idCol: String, ids: DataFrame): Seq[String] =
    if (!l.columns.contains(s"min_$idCol")) live
    else {
      val stats = l.filter(col("action") === "add" &&
          col("file_name").isin(live: _*))
        .select(col("file_name"), col(s"min_$idCol"), col(s"max_$idCol"))
      // stats-less rows (nulls in min/max from a pre-dims-change
      // commit) survive the range test as candidates via <=> false…
      // make the conservative keep explicit instead:
      stats.join(ids,
          col(idCol) >= col(s"min_$idCol") &&
            col(idCol) <= col(s"max_$idCol"), "left_semi")
        .unionByName(stats.filter(col(s"min_$idCol").isNull)
          .join(ids.limit(1), lit(true), "left_semi"))
        .select(col("file_name")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    }

  /** Versioned MERGE (upsert): rows of `updates` whose `idCol` matches a
    * live row of the CURRENT version replace that row in version
    * `latest + 1`; the rest are inserted. Whole-row replacement under the
    * same one-row-per-id contract as [[commitDelete]]/[[diffByKey]] —
    * and the same file economics: the two-stage prune (lineage stats
    * screen, then one candidate-bounded semi-join) finds the files that
    * actually hold a matched id, ONLY those are rewritten (their
    * survivors re-staged together with every update row as one freshly
    * z-clustered generation, [[rewriteCommit]]), and untouched files are
    * shared between the versions. Earlier versions still read the
    * pre-update rows — an upsert is history-preserving like every
    * commit here.
    *
    * Contract guards, all loud: `updates` must not carry duplicate ids
    * (two updates for one key in one commit has no deterministic winner
    * — callers pick one FIRST, e.g. by [[graft.operators.Dedup]]'s
    * best-copy argmax); null-id update rows are dropped (null matches no
    * row, and inserting one would break the keyed contract the readers
    * above rely on). Schema evolution is the append rule: update rows
    * may add columns (survivors read null there) or omit columns
    * (updates read null), via the same merged union every read uses.
    * An upsert into an EMPTY table is exactly [[commitAppend]] clustered
    * on the id. `batchId` gives exactly-once replays through the commit
    * ledger, like every write face. Returns the committed version (the
    * current one when `updates` is empty). `expectedVersion` is the
    * pre-commit CAS (see [[commitAppend]]): refuse with
    * [[CommitRaceLost]] before staging when the head has moved past
    * the caller's read, and never retry past the pin.
    *
    * `screenRanges` is an optional caller-supplied stat screen (e.g.
    * [[Scd]]'s business-key range when the match id itself is a string
    * with no lineage stats), applied by [[statScreen]]. INTERSECTION
    * contract: every matched row must satisfy ALL supplied ranges, so a
    * file failing ANY single range is pruned before any data is read.
    * Do not pass ALTERNATIVE ranges (a row satisfying only one of them
    * would be silently lost).
    */
  def commitUpsert(spark: SparkSession, dataPath: String, idCol: String,
                   updates: DataFrame, files: Int,
                   batchId: Option[String] = None,
                   retries: Int = 3,
                   screenRanges: Seq[Layout.ColRange] = Nil,
                   expectedVersion: Option[Long] = None): Long =
    materialized(updates.filter(col(idCol).isNotNull))(upsertBatch(spark,
      dataPath, idCol, _, files, batchId, retries, screenRanges,
      expectedVersion))

  private def upsertBatch(spark: SparkSession, dataPath: String,
                          idCol: String, upd: DataFrame, files: Int,
                          batchId: Option[String], retries: Int,
                          screenRanges: Seq[Layout.ColRange],
                          expectedVersion: Option[Long]): Long = {
    val latest = latestVersion(spark, dataPath)
    // replay check FIRST, before the pin (commitAppend's ordering): a
    // verbatim replay of an already-landed pinned commit — same
    // batchId, same now-stale pin — must absorb as a no-op, not throw
    // CommitRaceLost; exactly-once means the replay's answer is the
    // landed version regardless of how stale its arguments look
    if (replayed(spark, dataPath, batchId)) return latest
    // the pre-commit CAS (see commitAppend): a caller that stamped its
    // rows with the target version pins it here, and a head that has
    // already moved refuses BEFORE any candidate read or staging —
    // never an epoch-inconsistent commit in the lineage.
    expectedVersion.filter(_ != latest + 1).foreach(ev =>
      throw new CommitRaceLost(ev, dataPath,
        s"commitUpsert REFUSED before staging: the caller pinned " +
          s"version $ev but the head of $dataPath now lands commits " +
          s"at ${latest + 1} — another writer committed after the " +
          "caller read the head. Nothing was staged; re-derive the " +
          "merge against the new head"))
    // one batch-sized aggregate serves both guards: emptiness (a no-op
    // upsert commits nothing — including into an EMPTY table, where an
    // empty first commit would manufacture a contentless version) and
    // the duplicate-id contract
    val head = upd.agg(count(lit(1)), count_distinct(col(idCol))).head()
    val (nRows, nIds) = (head.getLong(0), head.getLong(1))
    if (nRows == 0L) return latest
    require(nRows == nIds,
      s"commitUpsert: updates carry ${nRows - nIds} duplicate-id rows " +
        s"on $idCol — one commit admits one row per key (pick the " +
        "winner first, e.g. Dedup.dedupCorpusBest's argmax)")
    // the admission gate sees the UPDATE rows (survivors already passed
    // it when they were first committed)
    enforceConstraints(spark, dataPath, upd, "commitUpsert")
    enforceWidening(spark, dataPath, upd, "commitUpsert")
    if (latest == 0)
      return appendBatch(upd, dataPath, Seq(idCol), files, batchId,
        retries, expectedVersion)
    requireNoCollision(upd.columns.toSeq, Seq("__file"), "commitUpsert")
    val live = liveFileNames(spark, dataPath, latest)
    val l = lineage(spark, dataPath)
    // the distinct-id frame joins three times (stat screen, affected
    // probe, survivor anti-join) — one shuffle, not three
    materialized(upd.select(col(idCol)).distinct()) { ids =>
      val affected = filesHolding(spark, dataPath,
        statScreen(l, idCandidateFiles(l, live, idCol, ids), screenRanges),
        _.join(ids, Seq(idCol), "left_semi"))
      // cluster and record stats on the lineage's dims that still EXIST
      // in the merged generation (an update batch may drop one); falling
      // back to the id keeps the generation clustered by the column
      // every prune here screens on
      try rewriteCommit(spark, dataPath, latest, affected,
        _.join(ids, Seq(idCol), "left_anti"), Some(upd),
        cols => statDims(l).filter(cols.contains) match {
          case Seq() => Seq(idCol)
          case d => d
        }, files, batchId)
      catch {
        // provably disjoint or refuse; the retry recomputes candidates
        // and survivors from the new head. A pinned expectedVersion
        // never retries (the retry would land past the pin — the caller
        // re-derives instead).
        case _: CommitRaceLost if retries > 0 && expectedVersion.isEmpty =>
          requireRetryDisjoint(spark, dataPath, latest, idCol, ids,
            affected, "commitUpsert")
          upsertBatch(spark, dataPath, idCol, upd, files, batchId,
            retries - 1, screenRanges, expectedVersion)
      }
    }
  }

  /** Atomic REPLACE WHERE — the backfill commit: version `latest + 1`
    * holds every live row NOT matching `predicate` plus every `batch`
    * row, in ONE commit. The two-commit spelling (delete-matching then
    * append) exposes readers to the emptied-region state and can crash
    * into it; a backfill that recomputes a partition/day/bucket needs
    * the swap to be a single version.
    *
    * The region contract is the guard that keeps backfills honest:
    * every batch row MUST match the predicate, or the commit refuses
    * loudly BEFORE staging (naming the out-of-region row count) — a
    * batch that writes outside the region it claims to replace is how
    * neighbouring partitions get silently corrupted. Matching is CHECK
    * semantics throughout: `predicate <=> true`; a null-predicate row
    * does NOT match, so it survives the replace and is refused in the
    * batch.
    *
    * An EMPTY batch is a predicate DELETE in one commit; nothing
    * matching + empty batch = version-free no-op. File economics are
    * the keyed faces': optional `screenRanges` plus the predicate's own
    * simple conjuncts ([[predicateScreen]]) cut candidate files by the
    * lineage stats ([[statScreen]]) before any data moves, then only
    * files actually HOLDING a matching row rewrite — their non-matching
    * survivors re-staged with the batch as one freshly z-clustered
    * generation ([[rewriteCommit]]), untouched files shared between
    * versions. Replace commits do not auto-retry a lost race
    * ([[CommitRaceLost]] propagates): a predicate's conflict set is not
    * provably disjoint by id stats, and refusal is the honest
    * arbitration (re-derive against the new head). `batchId` gives
    * exactly-once replays through the commit ledger.
    */
  def commitReplaceWhere(spark: SparkSession, dataPath: String,
                         predicate: Column, batch: DataFrame, files: Int,
                         batchId: Option[String] = None,
                         screenRanges: Seq[Layout.ColRange] = Nil): Long = {
    val latest = latestVersion(spark, dataPath)
    require(latest >= 1,
      s"commitReplaceWhere: no committed table at $dataPath — a first " +
        "batch is commitAppend, there is no region to replace")
    if (replayed(spark, dataPath, batchId)) return latest
    requireAtomicBirth(spark, fsOf(spark, dataPath), dataPath)
    requireNoCollision(batch.columns.toSeq, Seq("__file"),
      "commitReplaceWhere")
    val inRegion = predicate <=> lit(true)
    materialized(batch) { b =>
      // region contract: one shuffle-free count of the offenders, which
      // is also the pass that builds the batch's cache (an aggregate
      // here would add an exchange and an adaptive cache-building stage)
      val nOut = b.filter(!inRegion).queryExecution.toRdd.count()
      require(nOut == 0L,
        s"commitReplaceWhere: $nOut batch rows do NOT match the replace " +
          "predicate — a backfill writes only inside the region it " +
          "replaces (widen the predicate or trim the batch)")
      enforceConstraints(spark, dataPath, b, "commitReplaceWhere")
      enforceWidening(spark, dataPath, b, "commitReplaceWhere")
      val l = lineage(spark, dataPath)
      // widened-target candidate reads: the predicate may reference a
      // column older files lack (reads null there → no match → survive)
      // or one a later commit widened
      val affected = filesHolding(spark, dataPath,
        statScreen(l, liveFileNames(spark, dataPath, latest), screenRanges,
          predicateScreen(l, predicate)),
        _.filter(inRegion))
      rewriteCommit(spark, dataPath, latest, affected, _.filter(!inRegion),
        Some(b), cols => statDims(l).filter(cols.contains), files, batchId)
    }
  }

  /** The automatic stat screen [[commitReplaceWhere]] derives from its
    * own predicate: every top-level AND-conjunct of the simple
    * comparison shapes (`col = v`, `col >/>=/</<= v`, `col IN (…)`,
    * either operand order) whose column has recorded lineage stats
    * becomes a per-file satisfiability test — a file whose [min, max]
    * provably excludes the comparison cannot hold a matching row.
    * Sound by CHECK semantics: these comparisons are never TRUE on a
    * null value, so an all-null file (null min/max with a recorded
    * null count) is DROPPED, while a stats-less add row (null null
    * count — a commit predating a dims change) is conservatively kept.
    * Conjuncts that don't match a simple shape contribute nothing
    * (never wrong, only less pruned); OR trees are left whole for the
    * same reason. Returns None when nothing prunable was found.
    */
  private def predicateScreen(l: DataFrame,
                              predicate: Column): Option[Column] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd,
      EqualNullSafe, EqualTo, Expression, GreaterThan,
      GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        Some(a.name)
      case _ => None
    }
    def litOf(e: Expression): Option[Column] = e match {
      case lit: Literal if lit.value != null =>
        Some(org.apache.spark.sql.GraftInternal.column(lit))
      case _ => None
    }
    def statsFor(n: String): Boolean =
      Seq(s"min_$n", s"max_$n", s"nulls_$n").forall(l.columns.contains)
    // per-conjunct: Some(keep) when the shape is simple and the column
    // has stats. The stats-less hatch (nulls_<c> IS NULL → keep) rides
    // every test; a null comparison result reads as NOT satisfiable.
    def guard(n: String, cond: Column): Column =
      col(s"nulls_$n").isNull || coalesce(cond, lit(false))
    def screen(e: Expression): Option[Column] = e match {
      case EqualTo(a, b) => eqScreen(a, b).orElse(eqScreen(b, a))
      case EqualNullSafe(a, b) => eqScreen(a, b).orElse(eqScreen(b, a))
      case GreaterThan(a, b) => gtScreen(a, b).orElse(ltScreen(b, a))
      case GreaterThanOrEqual(a, b) =>
        gtScreen(a, b).orElse(ltScreen(b, a))
      case LessThan(a, b) => ltScreen(a, b).orElse(gtScreen(b, a))
      case LessThanOrEqual(a, b) => ltScreen(a, b).orElse(gtScreen(b, a))
      case In(a, vs) if vs.nonEmpty && vs.forall(
          v => litOf(v).isDefined) =>
        nameOf(a).filter(statsFor).map { n =>
          val cols = vs.flatMap(litOf)
          val lo = if (cols.size == 1) cols.head else least(cols: _*)
          val hi = if (cols.size == 1) cols.head else greatest(cols: _*)
          guard(n, col(s"max_$n") >= lo && col(s"min_$n") <= hi)
        }
      case _ => None
    }
    def eqScreen(a: Expression, b: Expression): Option[Column] =
      for { n <- nameOf(a).filter(statsFor); v <- litOf(b) }
        yield guard(n, col(s"max_$n") >= v && col(s"min_$n") <= v)
    def gtScreen(a: Expression, b: Expression): Option[Column] =
      for { n <- nameOf(a).filter(statsFor); v <- litOf(b) }
        yield guard(n, col(s"max_$n") >= v)
    def ltScreen(a: Expression, b: Expression): Option[Column] =
      for { n <- nameOf(a).filter(statsFor); v <- litOf(b) }
        yield guard(n, col(s"min_$n") <= v)
    conjuncts(org.apache.spark.sql.GraftInternal.expression(predicate))
      .flatMap(screen)
      .reduceOption(_ && _)
  }

  /** Rewrite the live file set as one freshly z-clustered generation
    * (version `latest + 1`, [[rewriteCommit]]): adds the compacted
    * files, logically removes every prior live file. As-of reads at
    * EVERY earlier version are untouched — the old files stay on disk
    * until [[vacuum]] — which is the whole point of logical removal.
    * Returns the new version; a table with no live files (every row
    * deleted) commits nothing and returns the head.
    */
  def compact(spark: SparkSession, dataPath: String, dims: Seq[String],
              files: Int): Long = {
    val latest = latestVersion(spark, dataPath)
    require(latest >= 1, s"compact: no committed table at $dataPath")
    rewriteCommit(spark, dataPath, latest,
      liveFileNames(spark, dataPath, latest), identity, None, _ => dims,
      files, wholeFiles = true)
  }

  /** Size-aware INCREMENTAL compaction — the 100 TB form: bin-pack
    * only the live files smaller than `targetBytes` into a fresh
    * z-clustered generation and logically remove just those; files
    * already at target size are never rewritten. [[compact]] rewrites
    * the WHOLE live set — correct, but at lake scale a full rewrite is
    * never affordable, while streaming ingestion ([[streamingSink]])
    * constantly mints small files: this face caps the small-file count
    * with write amplification proportional to the SMALL bytes only.
    * Output file count = ceil(smallBytes / targetBytes), so packed
    * generations land at target size. No-ops (fewer than
    * `minInputFiles` small files — packing one file is pure churn)
    * commit nothing and return the current version. History is
    * untouched, like every commit here. Driver cost: one listing of
    * the live set (file-count-sized).
    */
  def compactSmall(spark: SparkSession, dataPath: String,
                   dims: Seq[String], targetBytes: Long,
                   minInputFiles: Int = 2): Long = {
    require(targetBytes > 0 && minInputFiles >= 2,
      "compactSmall: targetBytes must be positive and minInputFiles >= 2" +
        " (packing a single file is churn, not compaction)")
    val latest = latestVersion(spark, dataPath)
    require(latest >= 1, s"compactSmall: no committed table at $dataPath")
    val fs = fsOf(spark, dataPath)
    val small = liveFileNames(spark, dataPath, latest)
      .map(n => n -> fs.getFileStatus(hp(s"$dataPath/$n")).getLen)
      .filter(_._2 < targetBytes)
    if (small.size < minInputFiles) return latest
    val outFiles = math.max(1L,
      (small.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    rewriteCommit(spark, dataPath, latest, small.map(_._1), identity, None,
      _ => dims, outFiles, wholeFiles = true)
  }

  /** Earliest version still fully readable: 1 until a [[vacuum]] has
    * physically reclaimed files, then the highest remove-version among
    * vacuumed files (a file removed at r was last needed by version
    * r - 1, so reads at ≥ r survive its reclamation).
    */
  def earliestReadable(spark: SparkSession, dataPath: String): Long = {
    val s = lineageOpt(spark, dataPath).getOrElse(return 1L)
    val vacuumed = s.rows.iterator
      .filter(_.getString(s.aIdx) == "vacuum")
      .map(_.getString(s.fIdx)).toSet
    if (vacuumed.isEmpty) return 1L
    val floor = s.rows.iterator
      .filter(r => r.getString(s.aIdx) == "remove" &&
        vacuumed(r.getString(s.fIdx)))
      .map(_.getLong(s.vIdx))
    if (floor.isEmpty) 1L else floor.max
  }

  /** The table exactly as committed at `version` — the read face. Fails
    * loudly on a version never committed, or one [[vacuum]] has
    * reclaimed, or a committed file missing from disk (the lineage is
    * truth; a vanished file is corruption, not a smaller table).
    */
  def readAsOf(spark: SparkSession, dataPath: String,
               version: Long): DataFrame = {
    val latest = latestVersion(spark, dataPath)
    require(version >= 1 && version <= latest,
      s"readAsOf: version $version outside committed range [1, $latest] " +
        s"of $dataPath")
    val floor = earliestReadable(spark, dataPath)
    require(version >= floor,
      s"readAsOf: version $version was vacuumed (earliest readable is " +
        s"$floor) — vacuum trades history for space, explicitly")
    val live = liveFileNames(spark, dataPath, version)
    require(live.nonEmpty,
      s"readAsOf: version $version of $dataPath has no live files " +
        "(every row was deleted) — an empty table read is almost always " +
        "a caller bug; read a neighboring version or recreate the table")
    val fs = fsOf(spark, dataPath)
    val missing = live.filterNot(n => fs.exists(hp(s"$dataPath/$n")))
    require(missing.isEmpty,
      s"readAsOf: committed files missing on disk at $dataPath: " +
        s"${missing.mkString(", ")} — lineage is the source of truth; " +
        "a vanished committed file is corruption, never a smaller table")
    // widened-target read: commits may evolve the schema (a batch
    // adding a column, or WIDENING a type), and a first-file schema
    // would silently drop or misread it. The target is naturally
    // AS-OF: a version before the evolution reads only pre-evolution
    // files and never sees it.
    readFilesWidened(spark, dataPath, live)
  }

  /** [[readAsOf]] with data skipping: the lineage's own per-file
    * min/max/null stats (recorded by every commit, one scan each) drop
    * files whose ranges cannot intersect, exactly [[Layout.prunedRead]]'s
    * conservative keep rule — null-bearing files and stats-less add
    * rows (a commit predating the dimension) stay unpruned, so stats
    * may only cost skip rate, never rows. Historical versions skip just
    * as well as the head: the stats ride the same log that defines
    * them. Row filters for every range are applied on top, like
    * prunedRead.
    */
  def readAsOfPruned(spark: SparkSession, dataPath: String, version: Long,
                     ranges: Seq[Layout.ColRange]): DataFrame = {
    val base = readAsOf(spark, dataPath, version) // validation + corruption
    // prune only on dimensions the lineage has ever recorded; a range
    // over an unrecorded column still row-filters below
    val files = statScreen(
      lineage(spark, dataPath).filter(col("version") <= version),
      liveFileNames(spark, dataPath, version), ranges)
    val pruned =
      if (files.isEmpty) base.limit(0)
      else readFilesWidened(spark, dataPath, files)
    ranges.foldLeft(pruned) { (df, r) =>
      df.filter(col(r.colName) >= r.lo && col(r.colName) <= r.hi)
    }
  }

  /** The current table (convenience: [[readAsOf]] the latest version). */
  def read(spark: SparkSession, dataPath: String): DataFrame =
    readAsOf(spark, dataPath, latestVersion(spark, dataPath))

  /** EXACT per-column stats at ANY readable version, from the lineage
    * alone — zero data files read. This works because every commit here
    * recomputes fresh min/max/null-count stats for the exact generation
    * it writes (appends, delete survivors, compactions, all through
    * [[stageAndPromote]]'s one batch-sized scan), so the live add rows'
    * stats describe the live files EXACTLY, not conservatively: the
    * table min is the min of live per-file mins, nulls and rows are
    * sums. ANALYZE for free, at every historical version — the profile
    * a 100 TB planner wants without a 100 TB scan.
    *
    * One row: `(col_name, min_v, max_v, n_nulls, n_rows)`, min/max in
    * the recorded stat type. Refuses LOUDLY when any live file at the
    * version lacks recorded stats for the column (a commit predating a
    * dims change — exact metadata stats are impossible there; read the
    * data instead). The all-null-file case is not a refusal: such a
    * file records `min = max = NULL` with `nulls = n_rows`, the null
    * min/max simply contribute nothing, and the null COUNT is what
    * distinguishes it from missing stats (the same nulls-discriminator
    * rule as [[Layout]]'s pruning).
    */
  def columnStats(spark: SparkSession, dataPath: String, version: Long,
                  column: String): DataFrame = {
    val latest = latestVersion(spark, dataPath)
    val floor = earliestReadable(spark, dataPath)
    require(version >= floor && version <= latest,
      s"columnStats: version $version outside readable range " +
        s"[$floor, $latest] of $dataPath")
    val l = lineage(spark, dataPath)
    require(l.columns.contains(s"min_$column"),
      s"columnStats: no lineage stats recorded for column $column " +
        s"(recorded: ${statDims(l).mkString(", ")}) — re-commit or " +
        "compact with it in dims, or read the data")
    val live = liveFileNames(spark, dataPath, version)
    // each live file's LATEST add row at or before the version (a
    // rollback re-add copies the stats payload, so latest-wins is safe)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("file_name")).orderBy(col("version").desc)
    val latestAdds = l
      .filter(col("action") === "add" && col("version") <= version &&
        col("file_name").isin(live: _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val missing = latestAdds.filter(col(s"nulls_$column").isNull)
      .select(col("file_name")).limit(5)
      .collect().map(_.getString(0))
    require(missing.isEmpty,
      s"columnStats: live files without recorded $column stats at " +
        s"version $version (${missing.mkString(", ")}…) — a commit " +
        "predating the dims change; compact to refresh stats, or read " +
        "the data")
    latestAdds.agg(
        min(col(s"min_$column")).as("min_v"),
        max(col(s"max_$column")).as("max_v"),
        sum(col(s"nulls_$column")).cast("long").as("n_nulls"),
        sum(col("n_rows")).cast("long").as("n_rows"))
      .select(lit(column).as("col_name"), col("min_v"), col("max_v"),
        col("n_nulls"), col("n_rows"))
  }

  /** One row per commit: version, adds/removes/vacuumed file counts,
    * rows added — the audit face a lake operator reads before trusting
    * a rollback target. Pure lineage aggregation, no data touched.
    */
  def history(spark: SparkSession, dataPath: String): DataFrame = {
    val l = lineage(spark, dataPath)
    val withTs =
      if (l.columns.contains("commit_ts")) l
      else l.withColumn("commit_ts", lit(null).cast("long"))
    withTs
      .groupBy(col("version"))
      .agg(
        sum(when(col("action") === "add", 1L).otherwise(0L)).as("n_adds"),
        sum(when(col("action") === "remove", 1L).otherwise(0L))
          .as("n_removes"),
        sum(when(col("action") === "vacuum", 1L).otherwise(0L))
          .as("n_vacuumed"),
        sum(when(col("action") === "add", col("n_rows")).otherwise(0L))
          .as("rows_added"),
        max(col("commit_ts")).as("commit_ts"))
      .orderBy(col("version"))
  }

  /** The version a wall-clock instant maps to: the HIGHEST version
    * whose commit landed at or before `tsMillis` — "the table as the
    * world saw it at 14:00". Commits from before the commit_ts era
    * (r14) count as infinitely old, so they are reachable by any
    * timestamp a timestamped commit is. Refuses a timestamp older than
    * every commit (there was no table then) and a table with no
    * timestamped commits at all.
    */
  def versionAt(spark: SparkSession, dataPath: String,
                tsMillis: Long): Long = {
    val h = history(spark, dataPath)
    require(h.columns.contains("commit_ts") &&
      h.filter(col("commit_ts").isNotNull).limit(1).count() == 1L,
      s"versionAt: no timestamped commits at $dataPath (pre-r14 " +
        "table?) — address versions by number")
    val r = h.filter(col("commit_ts").isNull ||
        col("commit_ts") <= tsMillis)
      .agg(max(col("version"))).head()
    require(!r.isNullAt(0),
      s"versionAt: $tsMillis predates every commit of $dataPath " +
        "(earliest is visible in history())")
    r.getLong(0)
  }

  /** `TIMESTAMP AS OF`: the table exactly as committed at the last
    * version landed at or before `tsMillis` ([[versionAt]] +
    * [[readAsOf]] — same vacuum-floor refusals). */
  def readAsOfTimestamp(spark: SparkSession, dataPath: String,
                        tsMillis: Long): DataFrame =
    readAsOf(spark, dataPath, versionAt(spark, dataPath, tsMillis))

  /** Time-based retention: vacuum history no version committed within
    * the last `retainMillis` needs — keepFrom = the earliest version
    * whose commit is inside the retention window (the head when none
    * is). `nowMillis` is injectable for tests; production callers use
    * the default clock. Returns files reclaimed, 0 when the floor
    * already covers the window.
    */
  def vacuumOlderThan(spark: SparkSession, dataPath: String,
                      retainMillis: Long,
                      nowMillis: Long = System.currentTimeMillis()): Int = {
    val cutoff = nowMillis - retainMillis
    val h = history(spark, dataPath)
    val inWindow = h.filter(col("commit_ts").isNotNull &&
        col("commit_ts") >= cutoff)
      .agg(min(col("version"))).head()
    val keepFrom =
      if (inWindow.isNullAt(0)) latestVersion(spark, dataPath)
      else inWindow.getLong(0)
    if (keepFrom <= earliestReadable(spark, dataPath)) 0
    else vacuum(spark, dataPath, keepFrom)
  }

  /** Restore version `toVersion`'s content as the NEW head — the
    * bad-batch undo. Metadata-only: one lineage commit that removes the
    * current head's extra files and re-ADDS the files the target
    * version read (copying each file's latest add row, so the stats
    * payload — and with it [[readAsOfPruned]]'s skipping — survives the
    * rollback). Nothing is copied or rewritten; every intermediate
    * version stays readable, and rolling FORWARD again is just another
    * rollback. Returns the new version (the current one when the head
    * already equals the target — a replayed rollback is a no-op).
    */
  def rollback(spark: SparkSession, dataPath: String,
               toVersion: Long): Long = {
    val latest = latestVersion(spark, dataPath)
    require(toVersion >= 1 && toVersion <= latest,
      s"rollback: version $toVersion outside committed range [1, $latest]")
    val floor = earliestReadable(spark, dataPath)
    require(toVersion >= floor,
      s"rollback: version $toVersion was vacuumed (earliest readable " +
        s"is $floor) — its files are gone; rollback cannot resurrect them")
    val target = liveFileNames(spark, dataPath, toVersion).toSet
    val current = liveFileNames(spark, dataPath, latest).toSet
    if (target == current) return latest
    val v = latest + 1
    val missing = (target -- current).toSeq.sorted
    val l = lineage(spark, dataPath)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("file_name")).orderBy(col("version").desc)
    // each missing file's latest add row, stats and all, re-stamped as
    // this commit's add (lineage-sized window — file-count rows)
    val readds = l
      .filter(col("action") === "add" && col("file_name").isin(missing: _*))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .withColumn("version", lit(v))
      // the copied per-commit schema_json stays (readFilesWidened needs
      // each FILE's write schema), but the cumulative table stamp must
      // NOT be re-stamped at the new head: the table's logical type is
      // monotone, and a rollback re-adding pre-widening files would
      // otherwise present its OLD cumulative as the newest record
      .drop("table_schema_json")
    appendLineage(spark, dataPath,
      readds.unionByName(
        actionRows(spark,
          (current -- target).toSeq.sorted.map(n => (v, "remove", n, 0L))),
        allowMissingColumns = true), v)
    v
  }

  /** File-level diff between two readable versions (`v1 < v2`): one row
    * per file whose membership changed, `change ∈ {added, removed}`.
    * Pure lineage metadata — the audit a lake operator reads before
    * trusting a [[rollback]] target. */
  def diff(spark: SparkSession, dataPath: String, v1: Long,
           v2: Long): DataFrame = {
    val (only1, only2) = changedFiles(spark, dataPath, v1, v2)
    import spark.implicits._
    (only2.map((_, "added")) ++ only1.map((_, "removed")))
      .toDF("file_name", "change")
  }

  /** Key-level presence diff between two readable versions: which
    * `idCol` values appeared / disappeared from v1 to v2 — reading ONLY
    * the files whose membership changed (keys in files both versions
    * share are present in both by definition). Requires the id-keyed
    * table contract (one row per id per version, the same contract
    * [[commitDelete]] serves); under it a compaction — every file
    * rewritten, no row changed — correctly diffs to empty, because the
    * two changed-file key sets cancel.
    */
  def diffByKey(spark: SparkSession, dataPath: String, v1: Long, v2: Long,
                idCol: String): DataFrame = {
    val (only1, only2) = changedFiles(spark, dataPath, v1, v2)
    def keysOf(files: Seq[String]): DataFrame =
      if (files.isEmpty)
        readAsOf(spark, dataPath, v2).select(col(idCol)).limit(0)
      else readFilesWidened(spark, dataPath, files)
        .select(col(idCol)).distinct()
    val k1 = keysOf(only1)
    val k2 = keysOf(only2)
    k2.except(k1).withColumn("change", lit("appeared"))
      .unionByName(k1.except(k2).withColumn("change", lit("disappeared")))
  }

  /** Row-level change feed over `(v1, v2]`: one row per key whose ROW
    * changed at each version, `change ∈ {inserted, deleted, updated}`,
    * attributed to the exact commit that changed it — the face an
    * incremental consumer (a downstream index, a [[MatView]], a replica)
    * tails instead of re-reading the table.
    *
    * Cost is feed-shaped, never table-shaped: the lineage rows of the
    * range name exactly the files each commit added/removed, ONLY those
    * files are read (once, even when a file enters and leaves within the
    * range), and each row joins a broadcast-sized file→(version, side)
    * map. Rewrite traffic cancels by CONTENT, not just presence: a
    * survivor row re-staged by a delete/upsert/compaction appears on both
    * sides of its version with an identical payload and is dropped, so a
    * pure compaction feeds ZERO rows; a row whose payload differs feeds
    * `updated`. Payloads compare by null-safe struct equality over the
    * union schema (no hashing — no collision caveat). Same keyed contract
    * as [[diffByKey]]; null-id rows are ignored like everywhere on the
    * keyed faces.
    */
  def changeFeedByKey(spark: SparkSession, dataPath: String, v1: Long,
                      v2: Long, idCol: String): DataFrame =
    changeFeedCore(spark, dataPath, v1, v2, idCol)
      .select(col("version"), col(idCol), col("change"))

  /** [[changeFeedByKey]] with both row images: every data column rides
    * along as the POST-image (null for `deleted` rows — the key is the
    * tombstone), plus one `pre` struct holding the PRE-image (null for
    * `inserted` rows). Post-images let a downstream replica apply the
    * feed directly — delete the `deleted` keys, put the rest, in
    * version order; replaying `(v1, v2]` onto a readAsOf(v1) snapshot
    * reconstructs readAsOf(v2) exactly (the invariant TimeTravelSpec
    * drives across a randomized op sequence). Pre-images are what
    * CONTENT-keyed consumers need: a derived index tombstones the OLD
    * text of a delete/update, which no post-image carries.
    */
  def changeFeed(spark: SparkSession, dataPath: String, v1: Long,
                 v2: Long, idCol: String): DataFrame = {
    val core = changeFeedCore(spark, dataPath, v1, v2, idCol)
    // the post-image's columns: everything the union schema carries
    // beyond the key (sorted — same canonical order as the payload)
    val dataCols = core.schema("__a").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.filterNot(_ == idCol).toSeq
    core.select(
      Seq(col("version"), col(idCol), col("change")) ++
        dataCols.map(c => col(s"__a.$c").as(c)) :+
        col("__r").as("pre"): _*)
  }

  /** Loud collision guard (the r12 mixture-family rule): a data table
    * whose own columns collide with the names an operator introduces
    * would be silently destroyed or mis-joined — refuse instead.
    * Case-insensitive, matching Spark's default resolution. */
  private def requireNoCollision(cols: Seq[String], reserved: Seq[String],
                                 face: String): Unit = {
    val clash = cols.map(_.toLowerCase)
      .intersect(reserved.map(_.toLowerCase)).distinct
    require(clash.isEmpty,
      s"$face: the table's own columns collide with names this face " +
        s"introduces (${clash.mkString(", ")}) — rename them first " +
        "(Spark resolves case-insensitively, so Foo collides with foo)")
  }

  private def changeFeedCore(spark: SparkSession, dataPath: String,
                             v1: Long, v2: Long, idCol: String): DataFrame = {
    val latest = latestVersion(spark, dataPath)
    val floor = earliestReadable(spark, dataPath)
    // v1 ≥ floor keeps every file the range needs on disk: a file read
    // here was removed at some version > v1 ≥ floor (or never), and
    // vacuum only ever reclaims files removed at ≤ floor. v1 is the
    // consumer's base version — start from a readAsOf(v1) snapshot,
    // then tail (v1, head] forever. v1 = 0 (a consumer bootstrapping
    // from NOTHING — followChanges/streamChanges with startAfter = 0)
    // is legal while no vacuum has run: version 1 is pure adds, so the
    // (0, 1] feed needs no pre-image files, and floor = 1 proves v1's
    // own files still exist.
    val minV1 = if (floor == 1L) 0L else floor
    require(v1 >= minV1 && v2 <= latest && v1 < v2,
      s"changeFeedByKey wants $minV1 ≤ v1 < v2 ≤ $latest (files " +
        s"removed at versions ≤ $floor may be vacuumed), got ($v1, $v2)")
    val l = lineage(spark, dataPath)
    val acts = l.filter(col("version") > v1 && col("version") <= v2 &&
        col("action").isin("add", "remove"))
      .select(col("version"), col("action"), col("file_name"))
    // the range's touched files, each read ONCE even if it enters and
    // leaves within the range (its rows then feed both versions through
    // the action join below)
    val files = acts.select(col("file_name")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    if (files.isEmpty) {
      val shape = readAsOf(spark, dataPath, v2).limit(0)
      val payload = struct(shape.columns.sorted.map(col).toIndexedSeq: _*)
      return shape.select(lit(0L).as("version"), col(idCol),
        lit("").as("change"), payload.as("__a"), payload.as("__r"))
    }
    val fs = fsOf(spark, dataPath)
    val missing = files.filterNot(n => fs.exists(hp(s"$dataPath/$n")))
    require(missing.isEmpty,
      s"changeFeedByKey: committed files missing on disk: " +
        s"${missing.mkString(", ")} — lineage is truth (corruption, " +
        "or the range reaches behind a vacuum)")
    val rows = readFilesWidened(spark, dataPath, files)
      .filter(col(idCol).isNotNull)
    // a data column named like the feed's own output would be silently
    // overwritten (file_name) or shadow the result (version/action/
    // change/pre) — refuse loudly
    requireNoCollision(rows.columns.toSeq,
      Seq("file_name", "version", "action", "change", "pre", "__row",
        "__a", "__r"), "changeFeed")
    // whole-row payload in a canonical (sorted) column order, so a
    // schema reorder between commits never reads as an update
    val payload = struct(rows.columns.sorted.map(col).toIndexedSeq: _*)
    // promoted names are `v<d>_<d>.parquet` — URI-safe by construction
    // (stageAndPromote's naming rule), so input_file_name needs no
    // decoding before it joins the lineage's names
    val tagged = rows
      .withColumn("file_name",
        element_at(split(input_file_name(), "/"), -1))
      .select(col(idCol), payload.as("__row"), col("file_name"))
      .join(broadcast(acts), Seq("file_name"))
    // keyed contract: per version a key has ≤1 row on each side, so the
    // max IS the row
    tagged.groupBy(col("version"), col(idCol))
      .agg(
        max(when(col("action") === "add", col("__row"))).as("__a"),
        max(when(col("action") === "remove", col("__row"))).as("__r"))
      .withColumn("change",
        when(col("__r").isNull, lit("inserted"))
          .when(col("__a").isNull, lit("deleted"))
          .when(col("__a") <=> col("__r"), lit(null))
          .otherwise(lit("updated")))
      .filter(col("change").isNotNull)
      .select(col("version"), col(idCol), col("change"), col("__a"),
        col("__r"))
  }

  private def changedFiles(spark: SparkSession, dataPath: String,
                           v1: Long, v2: Long): (Seq[String], Seq[String]) = {
    val latest = latestVersion(spark, dataPath)
    val floor = earliestReadable(spark, dataPath)
    require(v1 >= floor && v2 <= latest && v1 < v2,
      s"diff wants readable versions $floor ≤ v1 < v2 ≤ $latest, " +
        s"got ($v1, $v2)")
    val live1 = liveFileNames(spark, dataPath, v1).toSet
    val live2 = liveFileNames(spark, dataPath, v2).toSet
    ((live1 -- live2).toSeq.sorted, (live2 -- live1).toSeq.sorted)
  }

  /** Materialize a historical version as a PLAIN parquet directory —
    * the handoff face: a consumer without this library (another team,
    * another engine) gets exactly the readAsOf(version) bytes as an
    * ordinary table, decoupled from the lake's lifetime (a later
    * [[vacuum]] cannot touch the clone). One copy-shaped job; the clone
    * is written staged-then-promoted so a crashed clone is an obvious
    * `_staging` residue, never a half-table at the destination.
    */
  def cloneAsOf(spark: SparkSession, dataPath: String, version: Long,
                destPath: String): Long = {
    val fs = fsOf(spark, destPath)
    require(!fs.exists(hp(destPath)),
      s"cloneAsOf: destination $destPath exists — clones never " +
        "overwrite (delete it explicitly first)")
    val staging = destPath.stripSuffix("/") + "_staging"
    fs.delete(hp(staging), true)
    val df = readAsOf(spark, dataPath, version) // validates + corruption
    df.write.mode("overwrite").parquet(staging)
    require(fs.rename(hp(staging), hp(destPath)),
      s"cloneAsOf: could not promote $staging to $destPath")
    df.count()
  }

  /** Tail the change feed with a DURABLE cursor: process every version
    * committed after the cursor exactly once per successful run, in
    * order, surviving restarts. `f(feed, version)` receives the
    * [[changeFeed]] frame (both images) for ONE version; the cursor
    * file advances only AFTER `f` returns, so a crash mid-version
    * re-delivers that version (at-least-once per version — make `f`
    * idempotent, e.g. key its writes by version like every batchId
    * face here). Returns the number of versions processed. A FIRST
    * call must pass `startAfter` — the version of the base snapshot
    * the consumer bootstrapped from (readAsOf it first); later calls
    * read the cursor and `startAfter` is ignored.
    */
  def followChanges(spark: SparkSession, dataPath: String, idCol: String,
                    cursorPath: String, startAfter: Long = -1L)(
                    f: (DataFrame, Long) => Unit): Int = {
    val fs = fsOf(spark, cursorPath)
    val cp = hp(cursorPath)
    val from =
      if (fs.exists(cp)) {
        readVersionFile(fs, cp)
      } else {
        require(startAfter >= 0L,
          s"followChanges: no cursor at $cursorPath and no startAfter — " +
            "a first tail must name the base version its consumer " +
            "bootstrapped from (readAsOf that version first)")
        startAfter
      }
    val head = latestVersion(spark, dataPath)
    var v = from + 1
    var n = 0
    while (v <= head) {
      f(changeFeed(spark, dataPath, v - 1, v, idCol), v)
      val out = fs.create(cp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      n += 1
      v += 1
    }
    n
  }

  /** `foreachBatch` sink: each micro-batch commits as one version under
    * batch id `stream_<epoch>`, so Structured Streaming's at-least-once
    * epoch replays become exactly-once version growth through the
    * commit ledger — the same discipline as the index appends.
    * Usage: `df.writeStream.foreachBatch(TimeTravel.streamingSink(path,
    * dims, files)).start()`.
    */
  def streamingSink(dataPath: String, dims: Seq[String],
                    files: Int): (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      commitAppend(batch, dataPath, dims, files,
        batchId = Some(s"stream_$epochId")): Unit
    }

  /** UPSERT-mode `foreachBatch` sink — CDC ingestion: each micro-batch
    * MERGEs by `idCol` (matched keys replaced, the rest inserted) as
    * one version under batch id `ustream_<epoch>`, exactly-once through
    * the commit ledger like [[streamingSink]]. A batch carrying two
    * rows for one key refuses loudly per [[commitUpsert]]'s contract —
    * upstream dedups pick the winner first (e.g. the window's `last`).
    * Usage: `df.writeStream.foreachBatch(TimeTravel
    * .streamingUpsertSink(path, idCol, files)).start()`.
    */
  def streamingUpsertSink(dataPath: String, idCol: String,
                          files: Int): (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      commitUpsert(batch.sparkSession, dataPath, idCol, batch, files,
        batchId = Some(s"ustream_$epochId")): Unit
    }

  /** The change feed as a STRUCTURED STREAMING query — the
    * streaming-native [[followChanges]]: `f(feed, version)` receives
    * the [[changeFeed]] frame (both images) for every version as it
    * commits, with the cursor living in the streaming CHECKPOINT, so
    * restarts resume exactly where the last run stopped.
    *
    * No custom Source is needed, by construction of the commit
    * protocol: each commit lands its lineage segment as ONE atomic
    * file, so a plain file stream over the lineage directory is
    * already an ordered, exactly-once version-discovery log — the file
    * source's seen-files log IS the durable cursor, and a segment can
    * never be observed half-written. Per micro-batch the segment rows
    * are metadata-sized; the feed rows for each contained version come
    * from [[changeFeed]] (same changeFeedCore as every feed face —
    * reads only that commit's own files). Delivery is per-version in
    * commit order, at-least-once across crashes exactly like
    * [[followChanges]] (a crashed epoch re-delivers its versions) —
    * make `f` idempotent, e.g. version-keyed writes like the q134
    * index-maintenance discipline. `startAfter` bounds the backfill:
    * versions ≤ it are never delivered (the consumer bootstrapped from
    * that readAsOf snapshot).
    */
  def streamChanges(spark: SparkSession, dataPath: String, idCol: String,
                    checkpoint: String, startAfter: Long = 0L)(
                    f: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    // the base four action columns every segment carries (stat columns
    // vary per commit; the stream only needs version discovery)
    val segSchema = StructType(Seq(
      StructField("version", LongType), StructField("action", StringType),
      StructField("file_name", StringType), StructField("n_rows", LongType)))
    spark.readStream
      .schema(segSchema)
      // per-commit SEGMENTS only: a lineage checkpoint (ckpt_v*, the
      // fold checkpointLineage writes beside them) re-states versions
      // the stream already delivered and must never be discovered
      .parquet(lineagePath(dataPath) + "/segment_v*.parquet")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (seg: DataFrame, _: Long) =>
        // dedup DRIVER-side: the micro-batch is metadata-sized (action
        // rows of the discovered segments), and a distributed distinct
        // here paid a full shuffle.partitions-wide shuffle per epoch —
        // streaming disables AQE, so nothing coalesced it (r18, §2.4)
        val versions = seg.select(col("version")).collect()
          .map(_.getLong(0)).distinct.filter(_ > startAfter).sorted
        versions.foreach { v =>
          f(changeFeed(spark, dataPath, v - 1, v, idCol), v)
        }
      }
      .start()
  }

  private def constraintsPath(dataPath: String): String =
    dataPath.stripSuffix("/") + "_constraints"

  /** Declare (or replace) the table's CHECK constraints: named boolean
    * SQL expressions every subsequent commit must satisfy on EVERY row
    * of its batch — the admission gate that keeps a lake table clean at
    * the door instead of quarantining after the fact. NULL predicates
    * count as violations (the conservative CHECK semantics
    * [[graft.operators.Profiling.checkConstraints]] pins). Persisted
    * beside the table; enforcement costs one batch-sized aggregate per
    * commit and nothing at read time.
    */
  def setConstraints(spark: SparkSession, dataPath: String,
                     rules: Seq[(String, String)]): Unit = {
    require(rules.nonEmpty, "setConstraints: empty rule set — use " +
      "clearConstraints to drop enforcement explicitly")
    require(rules.map(_._1).distinct.size == rules.size,
      "setConstraints: rule names must be distinct")
    import spark.implicits._
    rules.toDF("name", "expr").coalesce(1)
      .write.mode("overwrite").parquet(constraintsPath(dataPath))
  }

  /** The table's declared constraints, name → expression (empty when
    * none were ever set). */
  def tableConstraints(spark: SparkSession,
                       dataPath: String): Seq[(String, String)] = {
    val p = constraintsPath(dataPath)
    if (!fsOf(spark, dataPath).exists(hp(p))) Seq.empty
    else spark.read.parquet(p).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq.sortBy(_._1)
  }

  /** Drop all constraints — an explicit act, never a side effect. */
  def clearConstraints(spark: SparkSession, dataPath: String): Unit = {
    fsOf(spark, dataPath).delete(hp(constraintsPath(dataPath)), true): Unit
  }

  /** The commit-side gate: every declared rule must hold on every row
    * of `batch`, or the commit refuses BEFORE staging — naming each
    * failing rule with its violation count. A rule referencing a
    * column the batch lacks refuses too (schema drift against a
    * declared contract is a violation, not a pass). */
  private def enforceConstraints(spark: SparkSession, dataPath: String,
                                 batch: DataFrame, face: String): Unit = {
    val rules = tableConstraints(spark, dataPath)
    if (rules.isEmpty) return
    val report =
      try graft.operators.Profiling.checkConstraints(batch,
          rules.map { case (n, e) => n -> expr(e) })
        .filter(col("n_violations") > 0)
        .collect()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$face REFUSED by table constraints on $dataPath: a rule " +
              s"does not resolve against the batch schema " +
              s"(${batch.columns.mkString(", ")}) — ${e.getMessage}")
      }
    if (report.nonEmpty) {
      val detail = report.map(r =>
        s"${r.getString(0)} (${r.getLong(2)} of ${r.getLong(1)} rows)")
        .mkString("; ")
      throw new IllegalArgumentException(
        s"$face REFUSED by table constraints on $dataPath: $detail — " +
          "nothing was committed; fix or quarantine the batch, or " +
          "clearConstraints/setConstraints to change the contract")
    }
  }

  /** Apply ONE source version's [[changeFeed]] frame to a replica
    * table: the deleted keys leave (a [[commitDelete]] — naturally
    * idempotent, a replayed delete matches nothing), the inserted and
    * updated POST-images land as a [[commitUpsert]] under batch id
    * `repl_v<version>` (exactly-once through the replica's commit
    * ledger). Together the two idempotences make the whole application
    * safe under the feed's at-least-once redelivery: a crash between
    * the delete and the upsert replays into a no-op delete + the
    * pending upsert. The replica's version NUMBERS differ from the
    * source's (one source version can be up to two replica commits) —
    * the replica's CONTENT after version v equals `readAsOf(src, v)`,
    * which is the contract that matters.
    */
  def applyFeedVersion(spark: SparkSession, dstPath: String, idCol: String,
                       feed: DataFrame, version: Long,
                       files: Int = 2): Unit = {
    val dataCols = feed.columns
      .filterNot(Set("change", "version", "pre")).toSeq
    // ONE evaluation of the feed serves both commits: a changeFeed
    // frame is a join over the source's changed files, and the
    // delete + upsert pair below would otherwise each re-derive it
    // (commitDelete/commitUpsert materialize their own id/update
    // frames, so the feed tree itself was still being recomputed
    // twice). Version-sized, spills if not.
    val fed = feed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // an unborn replica has nothing to delete (the bootstrap version's
      // feed is pure inserts; a delete for a row never replicated would
      // be inert anyway)
      if (latestVersion(spark, dstPath) >= 1L)
        commitDelete(spark, dstPath, idCol,
          fed.filter(col("change") === "deleted").select(col(idCol))): Unit
      commitUpsert(spark, dstPath, idCol,
        fed.filter(col("change").isin("inserted", "updated"))
          .select(dataCols.map(col): _*),
        files, batchId = Some(s"repl_v$version")): Unit
    } finally fed.unpersist(false)
  }

  /** Cross-lake replication as a STREAMING query: [[streamChanges]]
    * over the source drives [[applyFeedVersion]] into the replica —
    * the disaster-recovery / multi-region face, maintained from the
    * feed ALONE (the source table is never re-read; each version costs
    * its own commit's files). `startAfter = 0` bootstraps a replica
    * from nothing; to seed from a snapshot instead, [[cloneAsOf]] +
    * `commitAppend` the clone, then start at that version. Restarts
    * resume from the checkpoint; the at-least-once epochs are absorbed
    * by applyFeedVersion's idempotence.
    */
  def replicate(spark: SparkSession, srcPath: String, dstPath: String,
                idCol: String, checkpoint: String, files: Int = 2,
                startAfter: Long = 0L):
      org.apache.spark.sql.streaming.StreamingQuery =
    streamChanges(spark, srcPath, idCol, checkpoint, startAfter) {
      (feed, v) => applyFeedVersion(spark, dstPath, idCol, feed, v, files)
    }

  /** The quiet-moment maintenance pass, one call: compact when the live
    * file count drifts past `maxLiveFiles` (never otherwise — an
    * unneeded compaction burns a version and a rewrite), then vacuum
    * history older than the newest `keepVersions` versions (when the
    * floor allows), then reclaim orphans. Returns
    * `(compacted, vacuumedFiles, orphansReclaimed)`. Same
    * serialized-writer discipline as each face alone.
    */
  def maintain(spark: SparkSession, dataPath: String, dims: Seq[String],
               maxLiveFiles: Int, keepVersions: Long,
               compactTo: Int): (Boolean, Int, Int) = {
    require(maxLiveFiles >= 1 && keepVersions >= 1 && compactTo >= 1,
      "maintain: maxLiveFiles, keepVersions, compactTo must be positive")
    val latest = latestVersion(spark, dataPath)
    require(latest >= 1, s"maintain: no committed table at $dataPath")
    val live = liveFileNames(spark, dataPath, latest)
    val compacted = live.size > maxLiveFiles
    if (compacted) compact(spark, dataPath, dims, compactTo): Unit
    val head = latestVersion(spark, dataPath)
    val keepFrom = head - keepVersions + 1
    val vacuumed =
      if (keepFrom > earliestReadable(spark, dataPath))
        vacuum(spark, dataPath, keepFrom)
      else 0
    (compacted, vacuumed, gcOrphans(spark, dataPath))
  }

  /** [[maintain]] in the shape a STREAMING lake runs continuously:
    * size-aware pack instead of a full rewrite ([[compactSmall]] —
    * cost tracks the small bytes the sink dribbled since the last
    * tick, never the table), time-based retention instead of a version
    * count ([[vacuumOlderThan]] — "keep 7 days" is the policy people
    * actually state), then orphan GC. Safe to run every tick: each
    * stage no-ops cleanly when there is nothing to do, so an idle
    * table costs three metadata reads. Returns
    * `(smallFilesPacked, filesVacuumed, orphansReclaimed)`.
    */
  def maintainBySize(spark: SparkSession, dataPath: String,
                     dims: Seq[String], targetBytes: Long,
                     retainMillis: Long,
                     nowMillis: Long = System.currentTimeMillis())
      : (Int, Int, Int) = {
    val latest = latestVersion(spark, dataPath)
    require(latest >= 1, s"maintainBySize: no committed table at $dataPath")
    val before = latestVersion(spark, dataPath)
    val packedV = compactSmall(spark, dataPath, dims, targetBytes)
    val packed =
      if (packedV == before) 0
      else lineage(spark, dataPath)
        .filter(col("version") === packedV && col("action") === "remove")
        .count().toInt
    val vacuumed = vacuumOlderThan(spark, dataPath, retainMillis, nowMillis)
    (packed, vacuumed, gcOrphans(spark, dataPath))
  }

  /** DESCRIBE DETAIL — the one-row operational summary an on-call
    * reads first: head version, earliest readable, live file count and
    * bytes, sub-`targetHint` small-file count (the compactSmall
    * backlog at a 128 MB hint), total committed rows at the head,
    * declared constraint count, and the first/last commit instants.
    * Metadata + one listing; zero data read.
    */
  def describeTable(spark: SparkSession, dataPath: String,
                    smallHintBytes: Long = 128L * 1024 * 1024): DataFrame = {
    val latest = latestVersion(spark, dataPath)
    require(latest >= 1, s"describeTable: no committed table at $dataPath")
    val fs = fsOf(spark, dataPath)
    val live = liveFileNames(spark, dataPath, latest).toSet
    val lens = fs.listStatus(hp(dataPath))
      .filter(f => f.isFile && live(f.getPath.getName))
      .map(_.getLen)
    val h = history(spark, dataPath)
    val ts = h.agg(min(col("commit_ts")), max(col("commit_ts"))).head()
    val liveRows = lineage(spark, dataPath)
      .filter(col("action").isin("add", "remove"))
      .groupBy(col("file_name"))
      .agg(max(when(col("action") === "add", col("version"))).as("__a"),
        max(when(col("action") === "remove", col("version"))).as("__r"),
        max(when(col("action") === "add", col("n_rows"))).as("__n"))
      .filter(col("__a").isNotNull &&
        (col("__r").isNull || col("__a") > col("__r")))
      .agg(sum(col("__n"))).head()
    import spark.implicits._
    Seq((dataPath, latest, earliestReadable(spark, dataPath),
        live.size, lens.sum, lens.count(_ < smallHintBytes),
        if (liveRows.isNullAt(0)) 0L else liveRows.getLong(0),
        tableConstraints(spark, dataPath).size,
        if (ts.isNullAt(0)) null else java.lang.Long.valueOf(ts.getLong(0)),
        if (ts.isNullAt(1)) null else java.lang.Long.valueOf(ts.getLong(1))))
      .toDF("data_path", "head_version", "earliest_readable",
        "n_live_files", "live_bytes", "n_small_files", "n_rows",
        "n_constraints", "first_commit_ts", "last_commit_ts")
  }

  /** What [[vacuum]] at `keepFrom` WOULD reclaim — the dry run an
    * operator reads before trading history for space. Same
    * latest-action-wins doom rule ([[doomedFiles]]), zero side effects:
    * one row per reclaimable file with the version that removed it,
    * ordered by file name. A local frame; no Spark job.
    */
  def vacuumPreview(spark: SparkSession, dataPath: String,
                    keepFrom: Long): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
        doomedFiles(spark, dataPath, keepFrom, "vacuumPreview")
          .map { case (f, r) => Row(f, r) }: _*),
      StructType(Seq(StructField("file_name", StringType),
        StructField("removed_at_version", LongType))))

  /** The files no version ≥ `keepFrom` can need, each with the version
    * that removed it, sorted by name: those whose LATEST add/remove
    * action is a remove at a version ≤ `keepFrom`, not yet vacuumed.
    * Latest-action-wins, exactly like [[liveFileNames]]: a [[rollback]]
    * re-ADDS a file an earlier version had removed, and that file is
    * live at the head — a mere "has a remove ≤ keepFrom" test would
    * physically delete it and corrupt the current table. One driver
    * fold over the lineage snapshot; zero jobs. */
  private def doomedFiles(spark: SparkSession, dataPath: String,
                          keepFrom: Long, face: String): Seq[(String, Long)] = {
    val latest = latestVersion(spark, dataPath)
    require(keepFrom >= 1 && keepFrom <= latest,
      s"$face: keepFrom $keepFrom outside committed range [1, $latest]")
    val s = lineageSnap(spark, dataPath)
    val vacuumed = s.rows.iterator.filter(_.getString(s.aIdx) == "vacuum")
      .map(_.getString(s.fIdx)).toSet
    lastActions(s, Long.MaxValue).iterator.collect {
      case (f, (a, rm)) if rm > 0 && rm <= keepFrom && a < rm &&
          !vacuumed(f) => (f, rm)
    }.toSeq.sortBy(_._1)
  }

  /** Physically reclaim the files [[doomedFiles]] names for `keepFrom`.
    * Records a `vacuum` action per reclaimed file (at a fresh version,
    * so the log stays strictly ordered), after which [[readAsOf]]
    * refuses the truncated range loudly instead of returning partial
    * tables. Returns the number of files reclaimed. Idempotent:
    * already-vacuumed files are skipped; a crash between deletes and
    * the log append re-deletes nothing (the files are gone) and
    * re-records harmlessly.
    */
  def vacuum(spark: SparkSession, dataPath: String, keepFrom: Long): Int = {
    val doomed = doomedFiles(spark, dataPath, keepFrom, "vacuum").map(_._1)
    if (doomed.isEmpty) return 0
    val fs = fsOf(spark, dataPath)
    doomed.foreach { n =>
      val p = hp(s"$dataPath/$n")
      if (fs.exists(p))
        require(fs.delete(p, false),
          s"vacuum: filesystem refused to delete $p — lineage NOT " +
            "updated, every version still readable; retry")
    }
    val v = latestVersion(spark, dataPath) + 1
    appendLineage(spark, dataPath,
      actionRows(spark, doomed.map(name => (v, "vacuum", name, 0L))), v)
    doomed.size
  }
}
