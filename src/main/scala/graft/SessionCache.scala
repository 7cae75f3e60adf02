package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** One-per-(session, table directory, key) memo for expensive derived
  * values (sorted replay feeds, LPA labelings, kmeans assignments,
  * dedup closures) — the single source of the cache discipline that
  * was previously hand-rolled per pack:
  *
  *   - WEAK session keys: a stopped session's entries become
  *     collectable instead of leaking across test suites;
  *   - SOFT value references: a strongly-held value (a Dataset)
  *     reaches its own SparkSession and would make the weak key
  *     permanently reachable — the classic WeakHashMap value→key
  *     cycle its Javadoc warns about; soft refs break the cycle while
  *     surviving explicit System.gc() (they only clear under memory
  *     pressure);
  *   - compute OUTSIDE the monitor: a racing duplicate computation
  *     costs one redundant run, never a deadlock against Spark's own
  *     locks;
  *   - every lookup folds [[SessionCache.listingStamp]] of the table
  *     directory into the key, so a table re-imported or regenerated
  *     mid-session is computed afresh, and the stale entry for the
  *     same (directory, key) is replaced rather than kept.
  */
final class SessionCache[V <: AnyRef] {
  private val cache = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.mutable.Map[String, (String, java.lang.ref.SoftReference[V])]]()

  /** The value for (`dir`, `key`) in session `s`, computed by
    * `compute` at most once per listing of `dir`'s data files. */
  def getOrCompute(s: SparkSession, dir: String, key: String = "")(compute: => V): V = {
    import scala.jdk.CollectionConverters._
    val id = s"$dir|$key"
    val stamp = SessionCache.listingStamp(s, dir)
    val byKey = cache.synchronized {
      cache.asScala.getOrElseUpdate(s, scala.collection.mutable.Map.empty)
    }
    byKey.synchronized(byKey.get(id).collect { case (`stamp`, r) => Option(r.get) }.flatten) match {
      case Some(v) => v
      case None =>
        val v = compute
        byKey.synchronized(byKey(id) = (stamp, new java.lang.ref.SoftReference(v)))
        v
    }
  }
}

object SessionCache {

  /** An identity for the data files under `path` (a directory, read
    * recursively, or one file): the relative name, length and
    * modification time of each file, sorted by name. Hidden entries
    * (a name starting with `_` or `.`, as Spark's file index skips
    * them) are not data and are left out; a missing path stamps as
    * "none". Every write names its part files afresh, so a rewrite of
    * the same rows still changes the stamp. */
  def listingStamp(s: SparkSession, path: String): String = {
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    // listStatus, not listFiles: a located status loads each file's
    // permissions, which the local file system does by forking `ls`
    def walk(st: FileStatus, rel: String): Seq[String] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath))
        .flatMap(c => walk(c, if (rel.isEmpty) c.getPath.getName else s"$rel/${c.getPath.getName}"))
      else Seq(s"${if (rel.isEmpty) st.getPath.getName else rel}:${st.getLen}:${st.getModificationTime}")
    if (!fs.exists(root)) "none" else walk(fs.getFileStatus(root), "").sorted.mkString(",")
  }
}
