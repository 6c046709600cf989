package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}
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
  // affinity), like the index ledgers. ---

  /** Record one toggle for `userId`. `seq` is assigned as the user's
    * max + 1 — one pushed-down point-filter read plus a one-row append
    * (interaction-sized; a bulk producer with its own ordering should
    * append [[ToggleEvent]] frames directly and keep its seq).
    */
  def appendToggle(spark: SparkSession, path: String, userId: Long,
                   bbl: String): Unit = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val next =
      if (!fs.exists(new org.apache.hadoop.fs.Path(path))) 1L
      else {
        val events = spark.read.parquet(path)
        val m = events.filter(Param.equalTo(events, "userId", userId))
          .agg(max(col("seq"))).head()
        if (m.isNullAt(0)) 1L else m.getLong(0) + 1L
      }
    Seq(ToggleEvent(userId, bbl, next)).toDS()
      .write.mode("append").parquet(path)
  }

  /** Every user's current list, replayed from the ledger: per-user
    * seq-ordered [[toggle]] fold (group state is one user's
    * interaction-sized history — never corpus-shaped).
    */
  def replay(spark: SparkSession, path: String): Dataset[UserBookmarks] = {
    import spark.implicits._
    spark.read.parquet(path).as[ToggleEvent]
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
    import spark.implicits._
    val events = spark.read.parquet(path).as[ToggleEvent]
    events.filter(Param.equalTo(events, "userId", userId))
      .collect().sortBy(e => (e.seq, e.bbl))
      .foldLeft(Seq.empty[String])((acc, e) => toggle(acc, e.bbl))
  }
}
