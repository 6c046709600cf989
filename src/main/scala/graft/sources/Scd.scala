package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (Type 2) history on the versioned lake:
  * a dimension table that keeps EVERY version of every business key as
  * its own row, stamped `[__valid_from, __valid_to)` in lake commit
  * versions (`__valid_to` null = current). The reference's dimension
  * tables (`schema.sql:1-73` — Complaint_Type, Property, Agency) are
  * overwrite-in-place; at pipeline scale the question "what did this
  * dimension say when last month's batch ran" needs the history kept,
  * and keeping it as data (not only as time-travel versions) is what
  * makes point-in-time joins a plain filter instead of N as-of reads.
  *
  * Mechanics — everything is ONE [[TimeTravel]] commit per merge, so
  * atomicity, constraints, exactly-once `batchId` replays, stats, the
  * change feed, clone/replicate and time travel all apply for free:
  *  - each history row carries a surrogate `__scd_id = key@valid_from`
  *    (unique by construction: a key gains at most one row per commit),
  *    which is the lake's one-row-per-id key; the BUSINESS key repeats
  *    across history rows on purpose.
  *  - [[merge]] compares the batch against CURRENT rows with null-safe
  *    per-column equality (no hash shortcut — a 32-bit digest equality
  *    would silently drop one-in-4-billion real changes): unchanged
  *    rows cost nothing, changed keys CLOSE the old row (rewrite via
  *    the same candidate-file screen as [[TimeTravel.commitUpsert]])
  *    and insert the new one, unseen keys insert. An all-unchanged
  *    batch is a VERSION-FREE no-op, like every no-op write here.
  *  - [[delete]] closes current rows without inserting — the key's
  *    history stays queryable, exactly the soft-delete the reference's
  *    cascade tombstones (VERDICT r12 J5) model.
  *
  * Scale shape — merges are HISTORY-FLAT: generations z-cluster on
  * `(__closed, key, valid_from)` with the closed flag FIRST, so open
  * and closed rows separate into different files, and both the change
  * scan and the rewrite's candidate screen add `__closed = 0` to the
  * batch's key range ([[TimeTravel.readAsOfPruned]] /
  * `commitUpsert(screenRanges)` on the lineage min/max stats — the
  * surrogate is a string with no z-stats, the flag and key carry
  * them). The accumulated fully-closed files — the bulk of an old
  * dimension — are skipped by metadata before any data is read; a
  * closed row rewrites exactly once (by the commit that closes it)
  * and never again. Cost tracks the batch and the CURRENT table's
  * touched files, never the history (ScdSpec pins it: a slice merge
  * and its no-op re-merge read the same records at ×1/×4/×10 closed
  * history).
  *
  * Concurrency contract: SCD merges on one table are inherently
  * overlapping commits (two merges both adjudicate "current"), so this
  * face is SINGLE-WRITER per table: `retries = 0` under the commit
  * arbiter — a lost race REFUSES loudly (the epoch stamps must match
  * the version the commit lands at) and the caller re-derives against
  * the new head. Never a silent per-row winner, per the r14 rule.
  */
object Scd {
  val SurrogateCol = "__scd_id"
  val FromCol = "__valid_from"
  val ToCol = "__valid_to"
  /** Derived from `__valid_to` (0 = open, 1 = closed) and FIRST in the
    * clustering dims, so open and closed rows separate into different
    * curve regions — and therefore different FILES — as soon as a
    * generation has two. This is what makes merges HISTORY-FLAT: the
    * change scan and the rewrite screen add `ColRange(__closed, 0, 0)`,
    * so the accumulated fully-closed files (the bulk of an old
    * dimension) are skipped by stats before any data is read. A
    * closed row is rewritten exactly once — by the commit that closes
    * it — and drifts into the closed region forever after. */
  val ClosedCol = "__closed"
  private val Meta = Seq(SurrogateCol, FromCol, ToCol, ClosedCol)

  /** Test seam: fires after a merge reads the head (epochs already
    * stamped from it) and before the commit — the window a concurrent
    * writer must make the pre-commit CAS refuse in. */
  private[graft] var interleaveForTests: () => Unit = () => ()

  private def openRange: Layout.ColRange =
    Layout.ColRange(ClosedCol, lit(0L), lit(0L))

  private def requireBatchShape(cols: Seq[String], keyCol: String,
                                face: String): Unit = {
    require(cols.contains(keyCol), s"$face: batch lacks key column $keyCol")
    val clash = cols.filter(c => Meta.contains(c) || c == "__file")
    require(clash.isEmpty,
      s"$face: columns ${clash.mkString(",")} are reserved by Scd")
  }

  /** One batch-sized aggregate serving both the emptiness short-circuit
    * and the one-row-per-key admission rule (two rows for one key in
    * one merge has no deterministic winner — same contract as
    * [[TimeTravel.commitUpsert]]). Returns row count. */
  private def requireOneRowPerKey(batch: DataFrame, keyCol: String,
                                  face: String): Long = {
    val head = batch.agg(count(lit(1)), count_distinct(col(keyCol))).head()
    val (nRows, nKeys) = (head.getLong(0), head.getLong(1))
    require(nRows == nKeys,
      s"$face: batch carries ${nRows - nKeys} duplicate-key rows on " +
        s"$keyCol — one merge admits one row per business key (pick " +
        "the winner first, e.g. Dedup.dedupCorpusBest's argmax)")
    nRows
  }

  private def stamp(df: DataFrame, keyCol: String, v: Long): DataFrame =
    df.withColumn(SurrogateCol,
        concat(col(keyCol).cast("string"), lit("@"), lit(v)))
      .withColumn(FromCol, lit(v))
      .withColumn(ToCol, lit(null).cast("long"))
      .withColumn(ClosedCol, lit(0L))

  /** Clustering/stat dims for a generation: `__closed` FIRST (open vs
    * closed rows separate into different files — the history-flat
    * screen), then the business key when its type z-orders
    * (numeric/date/timestamp/string — [[Layout.withZKey]]'s rule;
    * strings cluster by their prefix-stripped byte image), then
    * `__valid_from`. The surrogate is never a dim — closed-flag and
    * key-range stats are what the change scan and the merge's
    * candidate screen prune on. */
  private def genDims(df: DataFrame, keyCol: String): Seq[String] = {
    import org.apache.spark.sql.types._
    df.schema(keyCol).dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
           StringType =>
        Seq(ClosedCol, keyCol, FromCol)
      case _ => Seq(ClosedCol, FromCol)
    }
  }

  /** The batch-key [min, max] as a candidate screen for the rewrite —
    * None when empty/unliteralizable (never wrong, only less pruned). */
  private def keyRange(keys: DataFrame,
                       keyCol: String): Option[Layout.ColRange] = {
    val r = keys.agg(min(col(keyCol)), max(col(keyCol))).head()
    if (r.isNullAt(0)) None
    else try Some(Layout.ColRange(keyCol, lit(r.get(0)), lit(r.get(1))))
    catch { case _: RuntimeException => None }
  }

  /** CURRENT rows pruned to the batch's key range — the metadata
    * screen before the exact change join. Min/max over one batch-sized
    * aggregate; lineage stats skip whole files outside the range (keys
    * are commonly appended in ranges — new ids, new dates — so mature
    * history files prune). Falls back to the full current set when the
    * key type defies range literals (never wrong, only less pruned).
    */
  private def currentInKeyRange(spark: SparkSession, dataPath: String,
                                keys: DataFrame,
                                keyCol: String): DataFrame = {
    val latest = TimeTravel.latestVersion(spark, dataPath)
    // only the literal construction is guarded inside keyRange (a key
    // type `lit` can't embed — unpruned is identical, just less
    // skipped); read errors (corruption, missing versions) propagate.
    // The __closed = 0 range is the history-flat half of the screen:
    // fully-closed files (the bulk of an old dimension) never read
    TimeTravel.readAsOfPruned(spark, dataPath, latest,
        openRange +: keyRange(keys, keyCol).toSeq)
      .filter(col(ToCol).isNull)
  }

  /** Type-2 MERGE of `batch` (business rows: `keyCol` + attributes,
    * no meta columns) into the dimension at `dataPath`. Null-key rows
    * are dropped (null matches no business key — the r14 contract
    * every keyed write face shares). Returns the committed lake
    * version — unchanged when the whole batch is already current.
    */
  def merge(spark: SparkSession, dataPath: String, keyCol: String,
            batch: DataFrame, files: Int,
            batchId: Option[String] = None): Long =
    applyChanges(spark, dataPath, keyCol, batch,
      batch.select(col(keyCol)).limit(0), files, batchId,
      face = "Scd.merge")

  /** One-commit CDC application: `upserts` (business rows) and
    * `deletes` (a one-column business-key frame) land as a SINGLE
    * version — the mixed shape a change-feed consumer receives per
    * source commit. Two separate commits would expose a readable
    * intermediate state (upserted-but-not-yet-deleted) and double the
    * version churn; this face is why a [[TimeTravel.changeFeed]]
    * version maintains a dimension with exactly one dimension commit.
    * A key appearing in BOTH frames refuses loudly (there is no
    * deterministic order between its update and its delete — the
    * caller picks); otherwise semantics are exactly [[merge]] then
    * [[delete]], fused. Both-empty (or all-unchanged + all-absent) is
    * version-free.
    */
  def applyChanges(spark: SparkSession, dataPath: String, keyCol: String,
                   upserts: DataFrame, deletes: DataFrame, files: Int,
                   batchId: Option[String] = None,
                   face: String = "Scd.applyChanges"): Long = {
    requireBatchShape(upserts.columns.toSeq, keyCol, face)
    // Materialize the batch once ([[TimeTravel.commitUpsert]]'s rule):
    // the merge evaluates it from the one-row-per-key guard, the
    // both-fates check, the key-range aggregate, and the delta join —
    // each would re-run the caller's whole source tree. Unpersisted on
    // every exit below.
    val clean = upserts.filter(col(keyCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try applyChangesImpl(spark, dataPath, keyCol, clean, deletes, files,
      batchId, face)
    finally clean.unpersist(false)
  }

  private def applyChangesImpl(spark: SparkSession, dataPath: String,
                   keyCol: String, clean: DataFrame, deletes: DataFrame,
                   files: Int, batchId: Option[String],
                   face: String): Long = {
    val delKeys = deletes.select(col(deletes.columns.head)).toDF(keyCol)
      .filter(col(keyCol).isNotNull).distinct()
    val latest = TimeTravel.latestVersion(spark, dataPath)
    val nUps = requireOneRowPerKey(clean, keyCol, face)
    if (nUps == 0L && delKeys.isEmpty) return latest
    require(clean.select(col(keyCol))
        .join(delKeys, Seq(keyCol), "left_semi").isEmpty,
      s"$face: keys appear in BOTH the upsert and delete frames — " +
        "one batch admits one fate per key (apply the later change)")
    val v = latest + 1
    interleaveForTests()
    val stamped = stamp(clean, keyCol, v)
    if (latest == 0L) {
      // deleting from an empty dimension is naturally a no-op; the
      // first generation clusters on (closed, key, valid_from) so the
      // change-scan prune and the candidate screen get stats from day
      // one. The pin makes the first commit CAS-safe too: rows are
      // stamped v, so landing anywhere else must refuse pre-commit.
      if (nUps == 0L) return latest
      return TimeTravel.commitAppend(stamped, dataPath,
        genDims(stamped, keyCol), files, batchId,
        expectedVersion = Some(v))
    }

    // ONE pruned current scan serves both halves: the merge delta and
    // the delete closes
    val allKeys = clean.select(col(keyCol))
      .unionByName(delKeys).distinct()
    // the pruned current scan feeds the delta join (twice — inserts
    // and close-keys both hang off it) and the to-close rewrite; one
    // read instead of three
    val cur = currentInKeyRange(spark, dataPath, allKeys, keyCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // null-safe column-wise comparison over the UNION of attribute
    // sets — schema evolution is the lake's append rule (a column the
    // batch adds reads null in current → changed; one it omits reads
    // null in the new row)
    val batchAttrs = clean.columns.filterNot(_ == keyCol).toSeq
    val curAttrs = cur.columns
      .filterNot(c => Meta.contains(c) || c == keyCol).toSeq
    val allAttrs = (batchAttrs ++ curAttrs.filterNot(batchAttrs.contains))
    val bSide = clean.select(col(keyCol) +: allAttrs.map(a =>
      (if (clean.columns.contains(a)) col(a)
       else lit(null)).as(a)): _*)
    val cSide = cur.select(col(keyCol).as("__cur_key") +: allAttrs.map(a =>
      (if (cur.columns.contains(a)) col(a)
       else lit(null)).as(s"__cur_$a")): _*)
    val joined = bSide.join(cSide,
      col(keyCol) === col("__cur_key"), "left")
    val unchanged = allAttrs.map(a => col(a) <=> col(s"__cur_$a"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val delta = joined.filter(col("__cur_key").isNull || !unchanged)
    val inserts = stamp(
      delta.select(col(keyCol) +: allAttrs.map(col): _*), keyCol, v)
    val closeKeys = delta.filter(col("__cur_key").isNotNull)
      .select(col(keyCol))
      .unionByName(delKeys)
    val toClose = cur
      .join(closeKeys, Seq(keyCol), "left_semi")
      .withColumn(ToCol, lit(v))
      .withColumn(ClosedCol, lit(1L))
    commitExpecting(spark, dataPath, v,
      toClose.unionByName(inserts, allowMissingColumns = true),
      files, batchId, face, keyRange(allKeys, keyCol))
    } finally cur.unpersist(false)
  }

  /** Close the current rows of `keys` (a one-column frame of business
    * keys) at the next version — Type-2 soft delete: history stays,
    * [[current]] no longer returns the key, a later [[merge]] of the
    * key opens a fresh row. Absent/already-closed keys are no-ops; an
    * all-absent batch is version-free — including on an UNCOMMITTED
    * dimension (deleting from nothing closes nothing: the same
    * natural no-op [[applyChanges]] gives the identical delete keys,
    * so the two faces agree). */
  def delete(spark: SparkSession, dataPath: String, keyCol: String,
             keys: DataFrame, files: Int,
             batchId: Option[String] = None): Long = {
    val latest = TimeTravel.latestVersion(spark, dataPath)
    if (latest == 0L) return 0L
    val k = keys.select(col(keyCol)).filter(col(keyCol).isNotNull)
      .distinct()
    val v = latest + 1
    val toClose = currentInKeyRange(spark, dataPath, k, keyCol)
      .join(k, Seq(keyCol), "left_semi")
      .withColumn(ToCol, lit(v))
      .withColumn(ClosedCol, lit(1L))
    commitExpecting(spark, dataPath, v, toClose, files, batchId,
      "Scd.delete", keyRange(k, keyCol))
  }

  /** The single-writer commit: the epoch stamped into the rows must be
    * the version the commit lands at, so the target is PINNED at the
    * arbiter (`expectedVersion` — the pre-commit CAS): any writer that
    * interleaved between this merge's head read and its commit makes
    * the commit refuse with [[CommitRaceLost]] BEFORE anything lands
    * in the lineage (re-derive against the new head). `retries = 0`
    * belt-and-braces the same contract on the appendLineage race. The
    * post-commit `require` below is therefore a pure tripwire — with
    * the pin it cannot fire on a race, only on a commitUpsert
    * accounting bug. */
  private def commitExpecting(spark: SparkSession, dataPath: String,
                              v: Long, upserts: DataFrame, files: Int,
                              batchId: Option[String], face: String,
                              screen: Option[Layout.ColRange]): Long = {
    if (upserts.isEmpty) return v - 1 // version-free no-op
    // rows to CLOSE live only in open files; insert surrogates exist
    // nowhere — so the __closed = 0 range joins the key range and the
    // rewrite never reads the accumulated fully-closed files
    val got = TimeTravel.commitUpsert(spark, dataPath, SurrogateCol,
      upserts, files, batchId, retries = 0,
      screenRanges = openRange +: screen.toSeq,
      expectedVersion = Some(v))
    // got == v-1 with a batchId = the commit ledger absorbed a replay
    // (exactly-once); anything else off-target is a mid-merge writer
    require(got == v || (batchId.isDefined && got == v - 1),
      s"$face: commit landed at version $got but epochs were stamped " +
        s"$v — another writer committed to $dataPath mid-merge; SCD " +
        "tables are single-writer (re-derive the merge from the head)")
    got
  }

  /** Full history: every version of every key with its validity
    * stamps. The surrogate and the closed flag are internal — dropped
    * here. */
  def history(spark: SparkSession, dataPath: String): DataFrame =
    TimeTravel.read(spark, dataPath).drop(SurrogateCol, ClosedCol)

  /** Rows current NOW (validity still open) — pruned by the closed
    * flag, so the read skips the accumulated fully-closed files and
    * costs the CURRENT table, not the history. */
  def current(spark: SparkSession, dataPath: String): DataFrame =
    TimeTravel.readAsOfPruned(spark, dataPath,
        TimeTravel.latestVersion(spark, dataPath), Seq(openRange))
      .filter(col(ToCol).isNull)
      .drop(SurrogateCol, ClosedCol)

  /** The dimension as of epoch `v` (a lake commit version): rows whose
    * validity interval `[from, to)` covers `v`. A plain filter over
    * the head table — the point-in-time join face, no as-of read per
    * epoch. (Time travel still works too: `readAsOf` at `v` gives the
    * same rows for any `v` the table has lived through, because a
    * row's stamps never change after the commit that writes them —
    * closing a row rewrites it WITH its closure, at the closing
    * version.) */
  def asOf(spark: SparkSession, dataPath: String, v: Long): DataFrame =
    history(spark, dataPath).filter(col(FromCol) <= v &&
      (col(ToCol).isNull || col(ToCol) > v))

  /** Point-in-time join — the query SCD history exists to serve: each
    * fact row joins the dimension attributes that were current AT the
    * fact's own epoch (`facts(epochCol)`, a lake commit version, e.g.
    * the version a [[TimeTravel]] fact table stamped at ingest). A
    * LEFT join: facts whose key was absent (or already closed) at
    * their epoch keep null attributes; null-key and null-epoch facts
    * match nothing and survive the same way. One equi-join on the
    * business key with the validity interval as a post-condition —
    * Catalyst plans the standard shuffled hash/sort-merge join on the
    * key, no per-epoch as-of read, no window function.
    *
    * Collision guard: a fact column sharing a dimension attribute's
    * name would make the output ambiguous — refuse loudly (the
    * mixture-family rule), except the join key itself.
    */
  def pitJoin(spark: SparkSession, facts: DataFrame, dataPath: String,
              keyCol: String, epochCol: String): DataFrame = {
    require(facts.columns.contains(keyCol) &&
      facts.columns.contains(epochCol),
      s"Scd.pitJoin: facts lack $keyCol/$epochCol")
    val h = TimeTravel.read(spark, dataPath).drop(SurrogateCol, ClosedCol)
    val attrs = h.columns.filterNot(c =>
      c == keyCol || c == FromCol || c == ToCol)
    val clash = attrs.intersect(facts.columns.filterNot(_ == keyCol))
    require(clash.isEmpty,
      s"Scd.pitJoin: fact columns collide with dimension attributes " +
        s"(${clash.mkString(", ")}) — rename them first")
    facts.join(h,
        facts(keyCol) === h(keyCol) &&
          h(FromCol) <= facts(epochCol) &&
          (h(ToCol).isNull || h(ToCol) > facts(epochCol)), "left")
      .drop(h(keyCol)).drop(FromCol, ToCol)
  }

  /** The dimension as the world saw it at a wall-clock instant:
    * [[TimeTravel.versionAt]] maps the instant to the last commit
    * landed by then (the lake's commit_ts metadata), [[asOf]] filters
    * the validity intervals — TIMESTAMP AS OF for history rows. */
  def asOfTimestamp(spark: SparkSession, dataPath: String,
                    tsMillis: Long): DataFrame =
    asOf(spark, dataPath, TimeTravel.versionAt(spark, dataPath, tsMillis))
}
