package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A driver-held value derived from one directory's files, reused until
  * the directory's listing changes — the one snapshot cache behind the
  * lineage ([[TimeTravel]]), the stats manifest ([[Layout]]), the batch
  * ledger ([[graft.operators.Ledger]]), the tombstone sidecars
  * ([[graft.operators.Tombstones]]) and the bookmark store's per-user
  * max `seq` ([[graft.engine.Bookmarks]]). Every file those directories hold
  * is an immutable single-file birth, so an unchanged listing proves
  * unchanged content: a warm consult costs one `listStatus` plus one
  * `getFileStatus` and zero Spark jobs.
  *
  * STALENESS CONTRACT. The fingerprint is `n=<count>:dir=<dir mtime>`
  * plus `name:len:mtime` per selected file ([[list]], the one place it
  * is built). The directory's own mtime moves on every create or delete
  * inside it, so a delete-and-recreate that reproduces names, lengths
  * and (on a coarse-mtime store) file mtimes is still seen. The listing
  * is taken before the load, so a write racing the load can only make
  * the fingerprint older than the value, which costs one reload, never
  * a stale answer. A directory that does not exist is absent, never
  * cached; a load that throws caches nothing.
  *
  * OVER-BOUND MARK. `load` returns `Left(mark)` when the data is too
  * large for the driver ([[MaxKeys]]) or of a shape the consumer's fast
  * path does not support. The mark outlives fingerprint changes — the
  * owner's growth-only appends keep it — and is cleared only by the
  * owner's [[reset]] (or [[ListingSnapshot.invalidateAll]]), so a
  * consumer past its bound pays one bounded collect, not one per call.
  * The bound is checked by `load` only: a guarded install folds in the
  * writer's own rows without re-checking it.
  *
  * GUARDED INSTALL. A writer that holds the rows it just landed folds
  * them into the cached value in place ([[afterAppend]], [[afterSwap]])
  * instead of letting the next consult reload. The install happens only
  * when the fresh listing is exactly the cached file set plus the
  * writer's own files; a concurrent writer in the window makes the sets
  * differ and the entry is dropped. Never load-bearing: a skipped
  * install costs one cold reload.
  *
  * EVICTION. Entries of every instance share one map, cleared whole
  * when it passes 256 entries — it bounds the number of cached
  * directories, not their size.
  *
  * @param select the files of the (name-sorted) listing the value is
  *               derived from; the fingerprint covers exactly these
  * @param load   builds the value from the selected files: `Right`
  *               to cache it, `Left(mark)` to mark the path over-bound
  */
private[graft] final class ListingSnapshot[M, T](
    select: Seq[FileStatus] => Seq[FileStatus])(
    load: (SparkSession, String, Seq[FileStatus]) => Either[M, T]) {
  import ListingSnapshot._

  private def key(path: String): (AnyRef, String) = (this, path)

  /** One listing of `path`: the selected files and their fingerprint.
    * None when the directory does not exist. */
  def list(fs: FileSystem, path: String): Option[Listing] = {
    val p = new Path(path)
    try {
      val files = select(fs.listStatus(p).filter(_.isFile)
        .sortBy(_.getPath.getName).toSeq)
      val dirM = fs.getFileStatus(p).getModificationTime
      Some(Listing(files, (s"n=${files.length}:dir=$dirM" +: files.map(f =>
        s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"))
        .mkString("|")))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The value for `path`, served warm or loaded: None when the
    * directory is absent, `Left(mark)` when the path is marked
    * over-bound. */
  def get(spark: SparkSession, path: String): Option[Either[M, T]] =
    list(new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration),
      path).map(lookup(spark, path, _))

  /** [[get]] over a listing the caller already took. */
  def lookup(spark: SparkSession, path: String,
             listing: Listing): Either[M, T] =
    entries.get(key(path)) match {
      case Marked(mark) => Left(mark.asInstanceOf[M])
      case Cached(fp, _, value) if fp == listing.fingerprint =>
        Right(value.asInstanceOf[T])
      case _ =>
        val loaded = load(spark, path, listing.files)
        put(path, loaded.fold(Marked(_), Cached(listing.fingerprint,
          listing.names, _)))
        loaded
    }

  /** The owner landed `landed` in `path` without removing anything:
    * install `fold(cached value)` when `listing` (evaluated only if a
    * value is cached) is exactly the cached file set plus `landed`,
    * else drop the entry. A mark stays. */
  def afterAppend(path: String, landed: Set[String],
                  listing: => Option[Listing])(fold: T => T): Unit =
    entries.get(key(path)) match {
      case c @ Cached(_, names, value) =>
        listing.filter(l => !landed.exists(names) &&
            l.names == names ++ landed) match {
          case Some(l) => put(path,
            Cached(l.fingerprint, l.names, fold(value.asInstanceOf[T])))
          case None => entries.remove(key(path), c): Unit
        }
      case _ => ()
    }

  /** The owner replaced the whole content of `path` with `landed` (a
    * staged swap): reset, then install `value` when `listing` is
    * exactly `landed`. */
  def afterSwap(path: String, landed: Set[String],
                listing: Option[Listing], value: T): Unit = {
    reset(path)
    listing.filter(_.names == landed)
      .foreach(l => put(path, Cached(l.fingerprint, l.names, value)))
  }

  /** Forget `path`, its over-bound mark included — the owner's reset
    * (a re-init, a swap that may shrink the data, a drop). */
  def reset(path: String): Unit = entries.remove(key(path)): Unit

  private def put(path: String, e: Entry): Unit = {
    if (entries.size > 256) entries.clear()
    entries.put(key(path), e): Unit
  }
}

private[graft] object ListingSnapshot {

  /** The driver-memory bound shared by the consumers whose data is not
    * file-count-sized (ledger ids, tombstone keys, bookmark users): past
    * it the load marks the path over-bound and the consumer keeps its
    * distributed formulation, so driver memory stays flat. */
  val MaxKeys = 100000

  /** One listing's selected files and their fingerprint. */
  final case class Listing(files: Seq[FileStatus], fingerprint: String) {
    lazy val names: Set[String] = files.iterator.map(_.getPath.getName).toSet
  }

  private sealed trait Entry
  private final case class Cached(fingerprint: String, names: Set[String],
                                  value: Any) extends Entry
  private final case class Marked(mark: Any) extends Entry

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(AnyRef, String), Entry]()

  /** Drop every cached value and mark, so the next consult of each path
    * pays the cold load. A test and measurement seam: correctness never
    * depends on it. */
  def invalidateAll(): Unit = entries.clear()
}
