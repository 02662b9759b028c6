package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of shared one-time stages: results that several entries
  * consume and that are built once, not once per consumer.
  *  - PCA's centered covariance, driver data read by d13, d14, d15 and
  *    corr01;
  *  - Similarity's candidate pairs, a persisted frame read by d02, d07
  *    and lp01;
  *  - Bucketed's orders/lineitem layout, two catalog tables over scratch
  *    files, read by q40.
  *
  * Key: the stage's name, the corpus dir it reads and its parameters.
  * Each key holds at most one entry, stamped with the snapshot version of
  * the corpus it was built from (a hash of the names, sizes and mtimes of
  * the files under the dir, listed on the driver; no Spark job). A lookup
  * that finds another version releases the entry and builds again, so a
  * corpus rewritten at the same dir is never answered from the old files.
  * A dir that cannot be listed has no version: its stage is built on
  * every call and nothing is kept, since a shared slot for unversioned
  * corpora would let one answer for another.
  *
  * Scope: an entry belongs to the SparkContext that built it and is
  * shared by every session of that context, as persisted blocks and
  * catalog tables are. When that context stops (`stop()`, or Spark's
  * own shutdown hook at JVM exit) its entries are released, so scratch
  * files a stage wrote do not outlive the process: the first entry a
  * context keeps registers one listener on it for that, and a lookup
  * adds no work. Nothing is keyed on a session: a map keyed
  * weakly on a session never drops an entry whose value (a persisted
  * frame) holds that session, and an identity hash can collide.
  *
  * Release: each stage passes its own (unpersist the frame; drop the
  * tables and delete their files); driver data is just dropped. [[evict]]
  * releases every entry, for a long-lived process done with its corpora.
  *
  * Timing: the first consumer of a stage in a context pays its cold cost
  * and every later one reads the kept result, so the consumers' numbers
  * in one session are warm-stage numbers. Bench warms the three stages
  * before its first round and reports their cold cost apart
  * (`cov_shared_cold`, `pairs_shared_cold`, `bucketed_write_cold`); the
  * covariance pass alone is about 6.5 s at sf0.1.
  *
  * Lookups, builds and releases hold one lock, so two callers never build
  * the same stage twice or release a value the other just received. A
  * build that runs jobs (the covariance, the bucketed write) holds it for
  * that time; each runs once per corpus version.
  */
object Shared {
  private final case class Key(stage: String, dir: String, params: Seq[Any])
  private final case class Entry(sc: SparkContext, version: Long, value: Any, release: () => Unit)
  private val entries = mutable.Map.empty[Key, Entry]
  /** Contexts with a stop listener registered. */
  private val watched = mutable.Set.empty[SparkContext]

  /** Snapshot version of the files under `dir`, or None when the listing
    * fails or the path does not exist. */
  private def corpusVersion(spark: SparkSession, dir: String): Option[Long] =
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) None
      else {
        var h = 1125899906842597L
        val it = fs.listFiles(path, true)
        while (it.hasNext) {
          val f = it.next()
          h = h * 31 + f.getPath.getName.hashCode
          h = h * 31 + f.getLen
          h = h * 31 + f.getModificationTime
        }
        Some(h)
      }
    } catch { case NonFatal(_) => None }

  /** The result of `stage` over `dir` with `params`: the kept one while
    * the corpus is unchanged, else `build(tag)`, kept with `release`.
    * `tag` is unique to the key and the corpus version, made of
    * lowercase hex digits, so a stage may name tables and paths with it;
    * it is None when the dir has no version and the result is not kept. */
  def apply[T](spark: SparkSession, stage: String, dir: String, params: Any*)(
      build: Option[String] => T, release: T => Unit = (_: T) => ()): T = synchronized {
    val key = Key(stage, dir, params)
    corpusVersion(spark, dir) match {
      case None => build(None)
      case Some(version) =>
        val sc = spark.sparkContext
        entries.get(key) match {
          case Some(e) if e.version == version && (e.sc eq sc) && !sc.isStopped =>
            e.value.asInstanceOf[T]
          case _ =>
            drop(key)
            val digest = java.security.MessageDigest.getInstance("SHA-256")
              .digest(s"$key@$version".getBytes("UTF-8"))
            val value = build(Some(digest.take(8).map(b => f"$b%02x").mkString))
            entries(key) = Entry(sc, version, value, () => release(value))
            if (watched.add(sc)) sc.addSparkListener(new SparkListener {
              override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
                releaseAll(sc)
            })
            value
        }
    }
  }

  private def drop(key: Key): Unit =
    entries.remove(key).foreach { e =>
      // a stopped context has nothing left to free
      try e.release() catch { case NonFatal(_) if e.sc.isStopped => () }
    }

  /** Releases the stages kept for a stopping context. */
  private def releaseAll(sc: SparkContext): Unit = synchronized {
    watched -= sc
    entries.collect { case (k, e) if e.sc eq sc => k }.toList.foreach(drop)
  }

  /** Releases every kept stage. */
  def evict(): Unit = synchronized { entries.keys.toList.foreach(drop) }
}
