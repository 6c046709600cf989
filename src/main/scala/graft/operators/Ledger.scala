package graft.operators

import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Shared batch-id ledger for the incremental indexes whose appends are
  * NOT idempotent by value — additive count segments ([[Corpus]] LM
  * stats, [[Profiling]] heavy-hitter sketches), where a replayed append
  * silently inflates counts and nothing downstream can tell. The guard
  * is an explicit id per append, recorded in a tiny parquet table next
  * to the index; a recorded id skips the append wholesale, which turns
  * foreachBatch's at-least-once replays into effective exactly-once
  * index growth.
  *
  * The membership read is a [[graft.sources.ListingSnapshot]] for
  * ledgers up to [[graft.sources.ListingSnapshot.MaxKeys]] ids (zero
  * jobs warm, one listing) and degrades to
  * the original pushed-down point filter past that bound, so driver
  * memory stays FLAT no matter how many appends the index has seen (a
  * per-minute streaming sink writes ~525 k ledger rows/year; past the
  * bound the check is one small filtered scan, and [[compact]] folds
  * the accumulated one-row files down on the operator's schedule).
  * Sequential writers only (the read-check-append pair is not fenced
  * against a concurrent append of the same id — same single-writer
  * contract as the index compactions).
  */
private[graft] object Ledger {

  /** Append batch-id rows WITHOUT a Spark job (r17): a ledger record is
    * one id in one column — launching a distributed write per recorded
    * commit paid a whole job for a metadata-sized file. The row lands
    * through [[graft.sources.LocalParquet.appendFile]] (staged file +
    * unique rename, so concurrent recorders commute), uncompressed and
    * under the `ledger` root name as ledger files always were (their
    * bytes count toward a table's write amplification), readable by
    * every existing `spark.read.parquet` face. */
  private def appendIdsLocal(spark: SparkSession, path: String,
                             ids: Seq[String]): String =
    graft.sources.LocalParquet.appendFile(ids.map(Row(_)).toArray,
      IdSchema, path, "rec", spark.sparkContext.hadoopConfiguration,
      CompressionCodecName.UNCOMPRESSED, "ledger").get

  private val IdSchema = StructType(Seq(StructField("batch_id", StringType)))

  /** Driver-held membership set per ledger directory, a
    * [[graft.sources.ListingSnapshot]] over every file: a warm
    * [[contains]] costs one listing and zero jobs. A ledger past
    * [[graft.sources.ListingSnapshot.MaxKeys]] ids is marked over-bound
    * until the next [[init]] — the flat-driver-memory contract of the
    * scaladoc above holds at streaming scale. */
  private val snapshots =
    new graft.sources.ListingSnapshot[Unit, java.util.HashSet[String]](
        identity)({ (spark, path, _) =>
      val max = graft.sources.ListingSnapshot.MaxKeys
      val rows = spark.read.parquet(path)
        .select(org.apache.spark.sql.functions.col("batch_id"))
        .limit(max + 1).collect()
      if (rows.length > max) Left(())
      else {
        val set = new java.util.HashSet[String](rows.length * 2)
        rows.foreach(r => if (!r.isNullAt(0)) set.add(r.getString(0)))
        Right(set)
      }
    })

  /** Create/reset the ledger with the base marker recorded. Racing
    * creates converge to a ledger holding at least one marker row
    * (duplicate markers are harmless — membership is the only read). */
  def init(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    snapshots.reset(path)
    appendIdsLocal(spark, path, Seq("__base__"))
  }

  /** Is `batchId` already recorded? Callers check BEFORE writing their
    * payload and [[record]] AFTER it succeeds — so a crash inside the
    * payload write leaves the id unrecorded and the retry re-runs (the
    * retry converges when the payload write is crash-idempotent, as
    * `appendLmStats`'s staged promotion is). Warm = one listing + a
    * driver-set lookup (bounded; see the object doc); over the bound
    * = the pushed-down equality filter + limit 1, flat driver memory
    * regardless of ledger size. A ledger directory
    * that exists but holds no readable rows yet (a concurrent init
    * mid-flight) truthfully contains nothing.
    */
  def contains(spark: SparkSession, path: String, batchId: String)
      : Boolean =
    try snapshots.get(spark, path) match {
      case Some(Right(ids)) => ids.contains(batchId)
      case _ => spark.read.parquet(path)
        .filter(org.apache.spark.sql.functions.col("batch_id") === batchId)
        .limit(1).head(1).nonEmpty
    } catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") => false
    }

  /** Record `batchId` after its payload write succeeded. Safe under
    * concurrent recorders ([[appendIdsLocal]]). */
  def record(spark: SparkSession, path: String, batchId: String): Unit =
    appendAndFold(spark, path, Seq(batchId))

  /** Land `ids` as one file and fold them into the cached membership
    * set in place (the snapshot's guarded install — a concurrent
    * recorder in the window drops the entry instead). */
  private def appendAndFold(spark: SparkSession, path: String,
                            ids: Seq[String]): Unit = {
    val landed = appendIdsLocal(spark, path, ids)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    snapshots.afterAppend(path, Set(landed), snapshots.list(fs, path)) {
      cached =>
        val next = new java.util.HashSet[String](cached)
        ids.foreach(next.add)
        next
    }
  }

  /** Record every id in `batchIds` not already present, in ONE append
    * (one anti-join read + one segment, never one file per id) — the
    * bulk face the lineage checkpoint fold uses to move replay ids of
    * truncated history from the log into the ledger. */
  def recordAll(spark: SparkSession, path: String,
                batchIds: Seq[String]): Unit = {
    if (batchIds.isEmpty) return
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) init(spark, path)
    val missing = batchIds.distinct.toDF("batch_id")
      .join(spark.read.parquet(path), Seq("batch_id"), "left_anti")
      .collect().map(_.getString(0))
    if (missing.nonEmpty) appendAndFold(spark, path, missing.toSeq)
  }

  /** Fold the one-file-per-append ledger down to one file, rows exactly
    * preserved (staged write + swap, single-writer contract). Run on
    * the same schedule as the owning index's compaction — the ledger's
    * cost is file COUNT, not row count.
    */
  def compact(spark: SparkSession, path: String): Unit =
    Lifecycle.stagedSwap(spark, path) { staged =>
      spark.read.parquet(path).distinct().coalesce(1)
        .write.mode("overwrite").parquet(staged)
    }

  private def hexTag(batchId: String): String =
    batchId.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map("%02x".format(_)).mkString

  /** Crash-idempotent ledgered segment append — the ONE commit
    * discipline for the additive-segment indexes (LM stats, HH sketch,
    * histogram), where a replayed plain `mode("append")` would land a
    * second copy of the batch and silently inflate counts:
    *
    *  1. delete any crashed promotion's batch-tagged partial files,
    *  2. stage the segment write away from the live tables,
    *  3. promote each staged part file under a batch-tagged
    *     DETERMINISTIC name,
    *  4. record the id (last — the record closes the replay window).
    *
    * A retry of ANY crash point re-lands the same file names, never a
    * second copy. `tables` maps each staged subdirectory ("" = the
    * staging root itself) to its live directory; `write` stages the
    * segment files under the given path. Returns false when the id was
    * already recorded.
    */
  def guardedSegmentAppend(spark: SparkSession, path: String,
                           batchId: String,
                           tables: Seq[(String, String)])
                          (write: String => Unit): Boolean = {
    if (contains(spark, s"$path/batches", batchId)) return false
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val tag = hexTag(batchId)
    tables.foreach { case (_, live) =>
      Option(fs.globStatus(p(s"$live/batch_${tag}_*"))).toSeq.flatten
        .foreach(f => fs.delete(f.getPath, false))
    }
    val staging = s"$path/staging_$tag"
    fs.delete(p(staging), true)
    write(staging)
    tables.foreach { case (sub, live) =>
      val src = if (sub.isEmpty) staging else s"$staging/$sub"
      val parts = fs.listStatus(p(src))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        require(fs.rename(f.getPath, p(s"$live/batch_${tag}_$i.parquet")),
          s"ledgered append: could not promote ${f.getPath} — retry " +
            "the append (promotion is crash-idempotent)")
      }
    }
    fs.delete(p(staging), true)
    record(spark, s"$path/batches", batchId)
    true
  }

  /** Refuse to compact over a crashed append's residue: batch-tagged
    * segment files whose id the ledger has NOT recorded are a pending
    * append mid-crash — folding them would merge the batch's counts
    * AND destroy the tagged markers its retry's pre-delete keys on, so
    * the retry would then double-apply the batch. The owner compaction
    * calls this first; recovery is replaying the named batch (which
    * converges), then compacting.
    */
  def requireNoPendingAppends(spark: SparkSession, path: String,
                              liveDirs: Seq[String]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val tags = liveDirs.flatMap { live =>
      Option(fs.globStatus(p(s"$live/batch_*"))).toSeq.flatten
        .map(_.getPath.getName.stripPrefix("batch_").takeWhile(_ != '_'))
    }.distinct
    val pending = tags.filter { tag =>
      // a name that is not our hex tagging (an external file) is not a
      // pending append — only decodable tags are checked
      val idOpt =
        try Some(new String(
          tag.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
          java.nio.charset.StandardCharsets.UTF_8))
        catch { case _: NumberFormatException => None }
      idOpt.exists(id => !contains(spark, s"$path/batches", id))
    }
    require(pending.isEmpty,
      s"compaction refused: batch-tagged segments with UNRECORDED ids " +
        s"found (tags ${pending.mkString(", ")}) — a crashed append is " +
        "pending. Replay that batch (its append converges), then " +
        "compact. Nothing was touched.")
  }
}
