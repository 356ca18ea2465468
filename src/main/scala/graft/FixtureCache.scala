package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one caching rule for values derived from input files (loaded
  * tables, served indexes, prepared graphs, fixture templates):
  *
  *  - Key: the session, the caller's key, and a fingerprint of the
  *    inputs — the sorted (relative path, size, mtime) of every file
  *    under each input path, listed driver-side through the session's
  *    Hadoop `FileSystem` (so `file:`, `hdfs:` and `s3a:` paths
  *    fingerprint like plain ones).
  *  - Hit: an unchanged fingerprint returns the cached value itself.
  *  - Miss: a changed fingerprint rebuilds. Spark's cached data over
  *    the changed inputs is refreshed first (`refreshByPath`): the
  *    cache manager matches plans by path, not by file version, so a
  *    replaced `cache()`d DataFrame — or a relation a builder cached
  *    internally — would otherwise answer the rebuild with old rows.
  *  - Eviction: a session's entries go when its SparkContext ends.
  *    (Weak session keys would not work: every value references its
  *    session, so the key would never become unreachable.)
  *
  * Keep one instance per fixture kind. Builders nest (a fixture build
  * loads its tables through another instance), and a nested update of
  * the same map inside `compute` throws "Recursive update".
  */
final class FixtureCache[K, V] {
  import FixtureCache.Entry

  private val entries =
    new ConcurrentHashMap[(SparkSession, K), Entry[V]]()
  FixtureCache.instances.add(this)

  def apply(s: SparkSession, key: K, inputs: String*)(build: => V): V = {
    FixtureCache.watch(s.sparkContext)
    val fp = inputs.flatMap(FixtureCache.fingerprint(s, _))
    entries.compute((s, key), (_, old) =>
      if (old != null && old.fingerprint == fp) old
      else {
        if (old != null) inputs.foreach(s.catalog.refreshByPath)
        Entry(fp, build)
      }).value
  }

  private def evict(sc: SparkContext): Unit = {
    entries.keySet.removeIf(_._1.sparkContext eq sc)
    ()
  }
}

object FixtureCache {
  private[graft] type FileStamp = (String, Long, Long)
  private final case class Entry[V](fingerprint: Seq[FileStamp], value: V)

  private val instances = new CopyOnWriteArrayList[FixtureCache[_, _]]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd)
          : Unit = {
        instances.forEach(_.evict(sc))
        watched.remove(sc)
        ()
      }
    })

  /** The sorted stamps of every file under `path` ([[Catalog.files]]),
    * relative to it; empty when nothing is there yet.
    */
  private[graft] def fingerprint(s: SparkSession, path: String)
      : Seq[FileStamp] = {
    val base = qualified(s, path)
    Catalog.files(s, path).map(stamp(base, _)).sortBy(_._1)
  }

  /** `path` qualified by its file system: the prefix a listed file's
    * path carries, which its stamp drops.
    */
  private[graft] def qualified(s: SparkSession, path: String): String = {
    val root = new Path(path)
    root.getFileSystem(s.sparkContext.hadoopConfiguration)
      .makeQualified(root).toString
  }

  /** The stamp of file `f` under the qualified path `base`. */
  private[graft] def stamp(base: String, f: FileStatus): FileStamp =
    (f.getPath.toString.stripPrefix(base), f.getLen, f.getModificationTime)
}
