package graft.engine

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Param

/** Bookmark state — the reference's only mutable state: a per-user ordered
  * BBL list with toggle semantics (add if absent, remove if present,
  * insertion order preserved; reference webserver/server.py:538-558).
  *
  * Two forms: a pure in-memory toggle (what the Flask session cookie did)
  * and a Structured Streaming `mapGroupsWithState` operator for the
  * at-scale variant (state sharded by user across the cluster).
  */
object Bookmarks {

  /** Pure toggle, insertion order preserved (server.py:548-552). */
  def toggle(saved: Seq[String], bbl: String): Seq[String] =
    if (saved.contains(bbl)) saved.filterNot(_ == bbl) else saved :+ bbl

  /** `seq` totally orders one user's toggles (r12): mapGroupsWithState
    * gives NO intra-group ordering guarantee — two same-trigger events
    * from different input partitions can reach the fold in either
    * order, and toggle order decides both membership (an on/off pair)
    * and the insertion order the reference contract pins. The event
    * producer assigns it (an HTTP tier's per-session counter, a log
    * offset); ties are a producer bug and break deterministically by
    * bbl.
    */
  case class ToggleEvent(userId: Long, bbl: String, seq: Long)
  case class UserBookmarks(userId: Long, bbls: Seq[String])

  /** Streaming toggle: one state entry per user, updated per toggle event
    * in `seq` order, emitting the user's current list after each batch.
    */
  def toggleStream(events: Dataset[ToggleEvent]): Dataset[UserBookmarks] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.userId)
      .mapGroupsWithState[Seq[String], UserBookmarks](
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[ToggleEvent], state: GroupState[Seq[String]]) =>
          val start = state.getOption.getOrElse(Seq.empty)
          // one user's one-trigger batch is interaction-sized: sorting
          // it is free, and it is what makes the fold deterministic
          val ordered = batch.toSeq.sortBy(e => (e.seq, e.bbl))
          val updated = ordered.foldLeft(start)((acc, e) => toggle(acc, e.bbl))
          state.update(updated)
          UserBookmarks(userId, updated)
      }
  }

  // --- persisted session store (VERDICT r12 #7): the T1 state at
  // production shape. Event-sourced onto a tiny parquet ledger — one
  // row per toggle, replayed through the SAME [[toggle]] fold the
  // in-memory and streaming faces use, so all three faces provably
  // agree and the state survives restarts like every other persisted
  // family. Single-writer per store path (the serving tier's session
  // affinity), like the index ledgers. A store directory that holds no
  // parquet file yet (a first append interrupted after the directory
  // was made) is an empty store. ---

  private val EventSchema = Encoders.product[ToggleEvent].schema

  /** The store's events under their declared schema: no schema-
    * inference job, and a directory with no parquet file reads as
    * empty instead of failing to infer. */
  private def events(spark: SparkSession, path: String): Dataset[ToggleEvent] = {
    import spark.implicits._
    spark.read.schema(EventSchema).parquet(path).as[ToggleEvent]
  }

  /** Each user's max `seq` per store directory, a
    * [[graft.sources.ListingSnapshot]] over the visible parquet files:
    * a warm [[appendToggle]] costs one listing and zero jobs. A store
    * past [[graft.sources.ListingSnapshot.MaxKeys]] users is marked
    * over-bound and keeps the pushed-down point-filter `max`. */
  private val maxSeqs =
    new graft.sources.ListingSnapshot[Unit, Map[Long, Long]](
        _.filter { f =>
          val n = f.getPath.getName
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        })({ (spark, path, files) =>
      val bound = graft.sources.ListingSnapshot.MaxKeys
      val rows =
        if (files.isEmpty) Array.empty[Row]
        else events(spark, path).groupBy(col("userId")).agg(max(col("seq")))
          .limit(bound + 1).collect()
      if (rows.length > bound) Left(())
      else Right(rows.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    })

  /** Record one toggle for `userId`. `seq` is assigned as the user's
    * max + 1, read from the driver snapshot of every user's max (one
    * listing warm; one aggregate after a restart or a foreign write;
    * the pushed-down point-filter `max` past the snapshot bound). The
    * row lands as one driver-written file
    * ([[graft.sources.LocalParquet.appendFile]]) and is folded into the
    * snapshot, so a warm toggle runs no Spark job (interaction-sized; a
    * bulk producer with its own ordering should append [[ToggleEvent]]
    * frames directly and keep its seq).
    */
  def appendToggle(spark: SparkSession, path: String, userId: Long,
                   bbl: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    val snap = maxSeqs.get(spark, path)
    val next = snap match {
      case None => 1L
      case Some(Right(m)) => m.getOrElse(userId, 0L) + 1L
      case Some(Left(())) =>
        val ev = events(spark, path)
        val m = ev.filter(Param.equalTo(ev, "userId", userId))
          .agg(max(col("seq"))).head()
        if (m.isNullAt(0)) 1L else m.getLong(0) + 1L
    }
    val landed = graft.sources.LocalParquet.appendFile(
      Array(Row(userId, bbl, next)), EventSchema, path, "toggle", hconf).get
    if (snap.isEmpty)
      maxSeqs.afterSwap(path, Set(landed), maxSeqs.list(fs, path),
        Map(userId -> next))
    else
      maxSeqs.afterAppend(path, Set(landed), maxSeqs.list(fs, path))(
        _.updated(userId, next))
  }

  /** Every user's current list, replayed from the ledger: per-user
    * seq-ordered [[toggle]] fold (group state is one user's
    * interaction-sized history — never corpus-shaped).
    */
  def replay(spark: SparkSession, path: String): Dataset[UserBookmarks] = {
    import spark.implicits._
    events(spark, path)
      .groupByKey(_.userId)
      .mapGroups { (userId, events) =>
        val ordered = events.toSeq.sortBy(e => (e.seq, e.bbl))
        UserBookmarks(userId,
          ordered.foldLeft(Seq.empty[String])((acc, e) => toggle(acc, e.bbl)))
      }
  }

  /** One user's current list (empty for an absent store or user) — the
    * read a restarted serving tier does per session, under a pushed
    * user filter. */
  def saved(spark: SparkSession, path: String, userId: Long): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(path))) return Seq.empty
    val ev = events(spark, path)
    ev.filter(Param.equalTo(ev, "userId", userId))
      .collect().sortBy(e => (e.seq, e.bbl))
      .foldLeft(Seq.empty[String])((acc, e) => toggle(acc, e.bbl))
  }
}
