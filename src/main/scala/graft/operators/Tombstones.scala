package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{StructField, StructType}

/** Id-tombstone sidecar shared by the five persisted index families
  * (digest, MinHash, SimHash, IVF, LSH) — the delete path the reference
  * models with FK cascade actions (`schema.sql:60-64`) re-expressed for
  * append-only parquet indexes. Removing a document (takedown, license
  * retraction — routine in training-data pipelines) must not require a
  * full index rebuild, so deletion is LOGICAL first, PHYSICAL later:
  *
  *  - `deleteFrom*Index` appends the doc's key to a tiny sidecar table
  *    next to the index (deletion-count-sized, never data-sized);
  *  - every PROBE anti-joins its index-side rows against the sidecar,
  *    so deleted docs stop matching immediately;
  *  - the family's `compact*Index` applies the sidecar during its
  *    rewrite (rows physically removed) and then drops it — after
  *    compaction the anti-join is a no-op on an absent sidecar.
  *
  * Append-after-delete REVIVES: each family's append first clears its
  * batch's keys from the sidecar. The index's physical rows for a
  * revived id are usually still present (the idempotence anti-join will
  * not duplicate them), so clearing the tombstone is the whole revival.
  *
  * Delete is idempotent by VALUE (incoming keys are de-duplicated
  * against the current sidecar before landing, so a replayed delete
  * writes nothing) and serialized per index path like every writer in
  * the families.
  *
  * DRIVER SNAPSHOT (r18, guide §1.2): the sidecar is deletion-count-
  * sized by contract, so its membership set lives in a
  * [[graft.sources.ListingSnapshot]] (bounded at
  * [[graft.sources.ListingSnapshot.MaxKeys]] keys; a sidecar past it is
  * marked over-bound until [[clear]] rewrites or [[drop]] removes it,
  * and every operation keeps the original distributed formulation, so
  * driver memory stays flat).
  * Warm, `add` is one bounded collect of the incoming keys plus a
  * jobless single-file parquet append ([[graft.sources.LocalParquet]]),
  * a replayed delete writes nothing at all, `clear` rewrites the
  * deletion-count-sized survivor set driver-side under the same
  * staged-swap discipline, and every probe's anti-join builds from a
  * broadcast local relation instead of re-listing and re-scanning the
  * sidecar files. Results are bit-identical: the set semantics
  * (distinct, null-safe equality, null keys allowed — the digest
  * family tombstones a null digest) are the same ones the joins
  * expressed; the fallback paths below ARE the pre-r18 formulations.
  *
  * SNAPSHOT SEMANTICS, same as every index read here: the sidecar's
  * existence (and content fingerprint) are resolved when a probe FRAME
  * is constructed, not per action — a held frame does not see later
  * deletes; re-construct probes after mutating, exactly as after an
  * append or compaction. The existence check is the one structural
  * eager read (the snapshot's listing, no cluster job).
  *
  * NOT offered for the count-based families (LM stats, heavy-hitter
  * sketches): their segments are additive AGGREGATES — a doc's
  * contribution is not recoverable from the index, so deletion there is
  * a rebuild (or a deliberate negative-segment append), not a sidecar.
  *
  * Capacity interaction: a bucket-capped family (MinHash) counts only
  * LIVE rows toward its bucket caps at append time (the append's cap
  * accounting anti-joins the sidecar) — a delete frees both PROBE
  * results and cap SLOTS immediately; compaction later restores the
  * physical bucket to the cap by removing the tombstoned rows.
  */
private[graft] object Tombstones {

  private def fs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // --- driver snapshot (r18) ----------------------------------------

  /** The sidecar's schema and key set. */
  private type Keys = (StructType, java.util.HashSet[Any])

  /** Over-bound or unsupported sidecars (not one column, or a type
    * outside LocalParquet's map) are marked with their schema, so the
    * distributed formulation reads them without a schema-inference job. */
  private val snapshots =
    new graft.sources.ListingSnapshot[StructType, Keys](identity)({
      (spark, path, _) =>
        val df = spark.read.parquet(path)
        // one-column contract; a multi-column sidecar (never written by
        // this object) stays on the scan path. The write-side staged
        // swap may not fail halfway, so the type map is checked here,
        // before any fast path runs.
        if (df.schema.fields.length != 1 ||
            !graft.sources.LocalParquet.supports(df.schema)) Left(df.schema)
        else {
          val rows = df.limit(maxKeys + 1).collect()
          if (rows.length > maxKeys) Left(df.schema)
          else {
            val set = new java.util.HashSet[Any](rows.length * 2 + 4)
            rows.foreach(r => set.add(r.get(0)))
            Right((df.schema, set))
          }
        }
    })

  private def maxKeys = graft.sources.ListingSnapshot.MaxKeys

  private def schemaOf(side: Either[StructType, Keys]): StructType =
    side.fold(identity, _._1)

  /** Distinct key values of `keys`' single column, driver-side, bounded:
    * None past the bound (caller falls back — flat driver memory). One
    * Spark action, like the join-based formulations. */
  private def collectDistinct(keys: DataFrame): Option[Array[Any]] = {
    val rows = keys.distinct().limit(maxKeys + 1).collect()
    if (rows.length > maxKeys) None else Some(rows.map(_.get(0)))
  }

  /** Land `values` as ONE locally-written parquet file inside the
    * sidecar directory ([[graft.sources.LocalParquet.appendFile]], so
    * concurrent recorders commute). None = type outside LocalParquet's
    * map, nothing written; Some(landed file name) otherwise. */
  private def appendKeysLocal(spark: SparkSession, path: String,
                              schema: StructType,
                              values: Seq[Any]): Option[String] =
    graft.sources.LocalParquet.appendFile(values.map(Row(_)).toArray,
      schema, path, "tomb", spark.sparkContext.hadoopConfiguration)

  // --- operations ---------------------------------------------------

  /** Append `keys`' distinct non-already-tombstoned values (single
    * column `keyCol`, written under that name — the sidecar is
    * self-describing). Creates the sidecar on first delete. A replayed
    * delete (all keys already present) writes nothing.
    */
  def add(keys: DataFrame, keyCol: String, tombPath: String): Unit = {
    val spark = keys.sparkSession
    val incoming = keys.select(col(keyCol))
    val dt = incoming.schema.fields(0).dataType
    val side = snapshots.get(spark, tombPath)
    val fastDone: Boolean = side match {
      case None =>
        val schema = StructType(Seq(StructField(keyCol, dt, nullable = true)))
        graft.sources.LocalParquet.supports(schema) &&
          collectDistinct(incoming).exists { vals =>
            // empty delete set on an absent sidecar: nothing to record —
            // an absent sidecar and an empty one are the same identity
            // to every probe, so no empty file is landed
            vals.isEmpty ||
              appendKeysLocal(spark, tombPath, schema, vals.toSeq).isDefined
          }
      case Some(Right((schema, cached))) if schema.fields(0).dataType == dt &&
          schema.fields(0).name == keyCol =>
        collectDistinct(incoming).exists { vals =>
          val fresh = vals.filterNot(cached.contains)
          fresh.isEmpty || // replayed delete: no write, no new file
            appendKeysLocal(spark, tombPath, schema, fresh.toSeq)
              .exists { landed =>
                snapshots.afterAppend(tombPath, Set(landed),
                    snapshots.list(fs(spark, tombPath), tombPath)) {
                  case (sc, ks) =>
                    val merged = new java.util.HashSet[Any](ks)
                    fresh.foreach(merged.add)
                    (sc, merged)
                }
                true
              }
        }
      case _ => false
    }
    if (fastDone) return
    // the pre-r18 distributed formulation — the semantics pin
    val distinctIncoming = incoming.distinct()
    val fresh = side.fold(distinctIncoming) { s =>
      distinctIncoming.join(scan(spark, tombPath, schemaOf(s))
          .select(col(keyCol).as("__tomb")),
        col(keyCol) <=> col("__tomb"), "left_anti")
    }
    fresh.write.mode("append").parquet(tombPath)
  }

  /** Remove `keys` from the sidecar (append-path revival). Reads the
    * sidecar only when it exists, rewrites it only when a key actually
    * matches — the common no-deletes append pays one listing plus
    * one bounded key collect. Staged-swap rewrite, same promotion rule
    * as the index compactions.
    */
  def clear(keys: DataFrame, keyCol: String, tombPath: String): Unit = {
    val spark = keys.sparkSession
    val side = snapshots.get(spark, tombPath).getOrElse(return)
    val incoming = keys.select(col(keyCol))
    val dt = incoming.schema.fields(0).dataType
    val fastDone: Boolean = side match {
      case Right((schema, cached)) if schema.fields(0).dataType == dt =>
        collectDistinct(incoming).exists { vals =>
          val inc = new java.util.HashSet[Any](vals.length * 2 + 4)
          vals.foreach(inc.add)
          val hit = {
            val it = cached.iterator()
            var h = false
            while (!h && it.hasNext) h = inc.contains(it.next())
            h
          }
          if (!hit) true
          else {
            val survivors = new java.util.HashSet[Any](cached)
            survivors.removeAll(inc)
            val file = "part-00000-survivors.parquet"
            Lifecycle.stagedSwap(spark, tombPath) { staged =>
              fs(spark, tombPath)
                .mkdirs(new org.apache.hadoop.fs.Path(staged))
              require(graft.sources.LocalParquet.write(
                  survivors.toArray.map(Row(_)), schema, s"$staged/$file",
                  spark.sparkContext.hadoopConfiguration),
                "unreachable: the snapshot admitted a LocalParquet-" +
                  "supported schema")
            }
            snapshots.afterSwap(tombPath, Set(file),
              snapshots.list(fs(spark, tombPath), tombPath),
              (schema, survivors))
            true
          }
        }
      case _ => false
    }
    if (fastDone) return
    // the pre-r18 distributed formulation — the semantics pin
    val tomb = scan(spark, tombPath, schemaOf(side))
    val ks = incoming.select(col(keyCol).as("__clr")).distinct()
    val hit = tomb.join(ks, col(keyCol) <=> col("__clr"), "left_semi")
      .limit(1).head(1).nonEmpty
    if (!hit) return
    Lifecycle.stagedSwap(spark, tombPath) { staged =>
      tomb.join(ks, col(keyCol) <=> col("__clr"), "left_anti")
        .write.mode("overwrite").parquet(staged)
    }
    snapshots.reset(tombPath)
  }

  /** The sidecar files read under the schema the snapshot recorded —
    * the distributed formulation's side, with no inference job. */
  private def scan(spark: SparkSession, tombPath: String,
                   schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(tombPath)

  /** Anti-join `df` against the sidecar on `joinCol` <=> sidecar key
    * (null-safe: the digest family tombstones a null digest for deleted
    * null-text docs). Identity when no sidecar exists — the structural
    * existence probe documented above. Warm, the sidecar side is a
    * broadcast local relation (content pinned at frame construction,
    * exactly the snapshot semantics above); over the bound it is the
    * original file scan.
    */
  def applyTo(df: DataFrame, joinCol: String, tombPath: String): DataFrame =
    snapshots.get(df.sparkSession, tombPath)
      .fold(df)(antiJoin(df, joinCol, tombPath, _))

  /** [[applyTo]] joining on the column the sidecar itself names — for
    * readers that do not carry the index's id column name (IVF load).
    * The sidecar is single-column by construction, written by the
    * family's delete function under the index's own id column name.
    */
  def applySelfTo(df: DataFrame, tombPath: String): DataFrame =
    snapshots.get(df.sparkSession, tombPath).fold(df) { side =>
      antiJoin(df, schemaOf(side).fields(0).name, tombPath, side)
    }

  private def antiJoin(df: DataFrame, joinCol: String, tombPath: String,
                       side: Either[StructType, Keys]): DataFrame = {
    val spark = df.sparkSession
    val tomb = side match {
      case Right((schema, keys)) =>
        val rows = new java.util.ArrayList[Row](keys.size())
        keys.forEach(v => rows.add(Row(v)): Unit)
        broadcast(spark.createDataFrame(rows, schema))
      case Left(schema) => scan(spark, tombPath, schema)
    }
    df.join(tomb.select(col(tomb.columns(0)).as("__tomb")),
      col(joinCol) <=> col("__tomb"), "left_anti")
  }

  /** Drop the sidecar after a compaction physically applied it. A crash
    * between the compaction's swap and this delete leaves a harmless
    * sidecar whose anti-joins match nothing.
    */
  def drop(spark: SparkSession, tombPath: String): Unit = {
    snapshots.reset(tombPath)
    fs(spark, tombPath)
      .delete(new org.apache.hadoop.fs.Path(tombPath), true): Unit
  }
}
