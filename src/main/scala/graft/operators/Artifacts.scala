package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of ingest artifacts: the tables an ingest pipeline
  * writes once and every query reuses (shingle and pair tables, the
  * IVF/PQ indexes, LSH buckets, the co-occurrence graph, component
  * labels). Each artifact is built at most once per
  * (session, dataset dir, key), where `key` names the family and its
  * parameters, and its persisted frames are released together.
  *
  * Invalidation has one rule: every access first takes the dataset's
  * FINGERPRINT (path, length and mtime of each `*.parquet` file under
  * `dir`, the snapshot-id stand-in a table format would provide). When
  * it differs from the one the entries were built under, every entry
  * of that dir, in every session, is dropped and unpersisted before
  * anything is rebuilt. Dropping everything, not just the entry asked
  * for, is what makes a re-ingest safe: Spark's CacheManager swaps any
  * still-cached plan that matches a subtree of a new build into it
  * (a re-read of the same path matches the old read), so one stale
  * frame left cached would leak the old dataset's rows into the
  * rebuilt artifacts. It also means no dependency list is needed:
  * labels, pairs and shingles go stale together.
  *
  * Builds run under a lock held by their entry, never inside a
  * `ConcurrentHashMap.compute`, because builds nest (labels → pairs →
  * shingles) and a compute function must not touch other mappings.
  * The registry lock itself is only held for the map lookups and
  * drops.
  */
object Artifacts {

  /** The frames one build persisted. `apply` persists a frame,
    * materializes it with a count and records it; `release` unpersists
    * every recorded frame (safe to call again).
    */
  private[graft] final class Keep {
    private val frames = new ConcurrentLinkedQueue[DataFrame]()
    def apply(df: DataFrame): DataFrame = counted(df)._1
    def counted(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist()
      frames.add(p)
      (p, p.count()) // materialize: ingest-time work
    }
    def release(): Unit =
      Iterator.continually(frames.poll()).takeWhile(_ != null).foreach(_.unpersist())
  }

  /** Run `build` with a fresh [[Keep]]; if it throws, unpersist every
    * frame it kept before rethrowing.
    */
  private[graft] def building[A](build: Keep => A): (A, Keep) = {
    val keep = new Keep
    try (build(keep), keep)
    catch { case e: Throwable => keep.release(); throw e }
  }

  private final class Entry {
    var value: Option[Any] = None // guarded by the entry's own lock
    @volatile var keep = new Keep
    @volatile var dropped = false
    def drop(): Unit = { dropped = true; keep.release() }
  }

  private type Fingerprint = Set[(String, Long, Long)]
  private val entries = mutable.Map.empty[(SparkSession, String, Any), Entry]
  private val fingerprints = mutable.Map.empty[String, Fingerprint]

  // listStatus, not listFiles: the located statuses listFiles builds
  // also load each file's owner and permissions, which the local file
  // system reads file by file without the native Hadoop library
  // (measured on a 4-core box: ~37 ms against ~4 ms per listing of a
  // 10-table dir)
  private def fingerprint(s: SparkSession, dir: String): Fingerprint = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    def files(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) files(f.getPath)
        else if (f.getPath.getName.endsWith(".parquet"))
          Seq((f.getPath.toString, f.getLen, f.getModificationTime))
        else Nil
      }
    files(root).toSet
  }

  private def drop(p: ((SparkSession, String, Any)) => Boolean): Unit =
    entries.keys.filter(p).toList.foreach(k => entries.remove(k).foreach(_.drop()))

  /** The artifact `key` of dataset `dir` in session `s`, built by
    * `build` on first access and after any change of the dataset's
    * files.
    */
  private[graft] def apply[A](s: SparkSession, dir: String, key: Any)(
      build: Keep => A): A = {
    val fp = fingerprint(s, dir)
    val e = synchronized {
      if (!fingerprints.get(dir).contains(fp)) {
        drop(_._2 == dir)
        fingerprints(dir) = fp
      }
      entries.getOrElseUpdate((s, dir, key), new Entry)
    }
    e.synchronized {
      if (e.value.isEmpty) {
        val (v, keep) = building(build)
        e.keep = keep
        e.value = Some(v)
        // dropped while building (the files changed meanwhile): the
        // entry is gone from the registry, so nothing else frees these
        if (e.dropped) keep.release()
      }
      e.value.get.asInstanceOf[A]
    }
  }

  /** Drop and unpersist every ingest artifact of `dir` built in session
    * `s`, freeing executor storage; the next query rebuilds what it
    * needs. Not needed for correctness after a re-ingest, which the
    * fingerprint check detects on its own.
    */
  def release(s: SparkSession, dir: String): Unit =
    synchronized(drop(k => k._1 == s && k._2 == dir))
}
