package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session-scoped state registry. Everything the engine derives
  * once and reuses across queries of one application lives here: the
  * maintained tables (shingle/signature/postings/… indexes, trained
  * models), the streamed stores the corpus queries fold, the resolved
  * parquet relations and planner statistics of [[Tables]], and the
  * store relations of the streaming folds. The reference keeps its
  * derived tables (rudder_identity_mappings, identity.go:79-262) as
  * maintained storage that readers scan; this is that storage for the
  * length of a session.
  *
  * KEY. One entry per (applicationId, dir, name). `dir` is the input
  * the artifact derives from (a corpus dir, or a store dir).
  *
  * STALENESS. Every lookup passes the entry's version: the content
  * watermark of what it derives from ([[Tables.snapshotVersion]] of its
  * source tables, or a store's visible-file fingerprint). The same
  * version is a hit; any other version rebuilds. So a source mutated
  * mid-session never serves a stale artifact.
  *
  * RECLAIM. An entry may own a scratch path under the application's
  * root, `${java.io.tmpdir}/graft-<applicationId>/`, named by (name,
  * dir, version) so a rebuild never lands on the path it replaces, and
  * a pinned DataFrame. When a new version replaces an entry, the old
  * pin is unpersisted and the old path deleted, after the replacement
  * is fully built (a splice reads the old entry while it builds). When
  * the application ends, a SparkListener drops its entries and deletes
  * its root, with every per-query scratch dir and the checkpoint dir in
  * it. Deletes are best-effort: a failed delete costs disk, not
  * correctness.
  *
  * CONSUMER CONTRACT. A DataFrame handed out before its source moved
  * must be fetched again: its version's scratch files are gone, so
  * executing it fails loudly instead of serving the old snapshot.
  *
  * A hit is one map lookup and a volatile read. Builds run under the
  * entry's own lock, outside the map's compute: a build looks up other
  * entries (a table build loads its source through Tables.load), and a
  * ConcurrentHashMap compute must not update its own map.
  */
object State {

  private final case class Key(app: String, dir: String, name: String)

  private final case class Entry(version: String, value: Any,
                                 path: Option[String], pin: Option[DataFrame])

  /** Per-name counters, shared by every entry of that name. */
  private final class Counts {
    val builds, hits, nanos = new LongAdder
  }

  private final class Slot(val counts: Counts) {
    @volatile var entry: Entry = _
  }

  private val slots = new java.util.concurrent.ConcurrentHashMap[Key, Slot]()
  private val counts = scala.collection.mutable.Map.empty[String, Counts] // guarded by itself

  private def countsOf(name: String): Counts =
    counts.synchronized(counts.getOrElseUpdate(name, new Counts))

  private def lookup(s: SparkSession, dir: String, name: String, version: String)
                    (build: => Entry): Any = {
    val sc = s.sparkContext
    listen(sc)
    val slot = slots.computeIfAbsent(Key(sc.applicationId, dir, name),
      k => new Slot(countsOf(k.name)))
    val seen = slot.entry
    if (seen != null && seen.version == version) {
      slot.counts.hits.increment()
      seen.value
    } else slot.synchronized {
      val old = slot.entry
      if (old != null && old.version == version) {
        slot.counts.hits.increment()
        old.value
      } else {
        val fresh = timed(slot)(build)
        slot.entry = fresh
        if (old != null) release(sc, old)
        fresh.value
      }
    }
  }

  private def timed(slot: Slot)(build: => Entry): Entry = {
    val t0 = System.nanoTime()
    val e = build
    slot.counts.builds.increment()
    slot.counts.nanos.add(System.nanoTime() - t0)
    e
  }

  private def release(sc: SparkContext, e: Entry): Unit = {
    unpin(e)
    e.path.foreach(delete(sc, _))
  }

  private def unpin(e: Entry): Unit =
    e.pin.foreach(df => try df.unpersist() catch { case NonFatal(_) => () })

  private def delete(sc: SparkContext, path: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      ()
    } catch { case NonFatal(_) => () }

  /** A memo: no scratch path, no pin. */
  def memo[T](s: SparkSession, dir: String, name: String, version: String)
             (build: => T): T =
    lookup(s, dir, name, version)(Entry(version, build, None, None)).asInstanceOf[T]

  /** An entry that owns a scratch path: `build` fills the (empty) path
    * and returns the entry's value. */
  def scratch[T](s: SparkSession, dir: String, name: String, version: String)
                (build: String => T): T =
    lookup(s, dir, name, version) {
      val p = pathOf(s, dir, name, version)
      delete(s.sparkContext, p) // a failed earlier build's leftovers would double-fold
      Entry(version, build(p), Some(p), None)
    }.asInstanceOf[T]

  /** A maintained table: `build` is written to the entry's scratch
    * parquet once per version, and every caller gets the same
    * parquet-backed, pinned frame. The parquet copy resets lineage; the
    * pin keeps multi-scan consumers off the parquet reader. */
  def table(s: SparkSession, dir: String, name: String, version: String)
           (build: => DataFrame): DataFrame =
    lookup(s, dir, name, version)(written(s, dir, name, version, build))
      .asInstanceOf[DataFrame]

  /** Move a registered table to `version` by splicing its current rows:
    * `f` maps the old table to the new one. False when the table was
    * never built or is already at `version`. */
  def splice(s: SparkSession, dir: String, name: String, version: String)
            (f: DataFrame => DataFrame): Boolean = {
    val slot = slots.get(Key(s.sparkContext.applicationId, dir, name))
    slot != null && slot.synchronized {
      val old = slot.entry
      old != null && old.version != version && {
        val spliced = f(old.value.asInstanceOf[DataFrame])
        slot.entry = timed(slot)(written(s, dir, name, version, spliced))
        release(s.sparkContext, old)
        true
      }
    }
  }

  private def written(s: SparkSession, dir: String, name: String, version: String,
                      df: DataFrame): Entry = {
    val p = pathOf(s, dir, name, version)
    df.write.mode("overwrite").parquet(p)
    val pin = s.read.parquet(p).persist(StorageLevel.MEMORY_AND_DISK)
    Entry(version, pin, Some(p), Some(pin))
  }

  /** The scratch path of the entry registered under (dir, name), if any. */
  private[graft] def path(s: SparkSession, dir: String, name: String): Option[String] =
    Option(slots.get(Key(s.sparkContext.applicationId, dir, name)))
      .flatMap(sl => Option(sl.entry)).flatMap(_.path)

  /** The number of entries the application holds. */
  private[graft] def entries(sc: SparkContext): Int =
    slots.keySet.asScala.count(_.app == sc.applicationId)

  /** Per name: (builds, hits, build seconds), sorted by name. A build's
    * seconds include the builds of the entries it reads (sigtable's
    * include shtable's when both are cold), so the names do not sum. */
  def ledger: Seq[(String, Long, Long, Double)] =
    counts.synchronized(counts.toSeq).sortBy(_._1).map { case (n, c) =>
      (n, c.builds.sum, c.hits.sum, c.nanos.sum / 1e9)
    }

  /** The application's scratch root. */
  def root(sc: SparkContext): String =
    Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-" + sc.applicationId)
      .toString

  // MD5 of (dir, version), not a 32-bit hashCode: two dirs colliding
  // would overwrite each other's artifact
  private def pathOf(s: SparkSession, dir: String, name: String, version: String): String =
    root(s.sparkContext) + s"/graft-$name-" + java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "|" + version).getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** A fresh per-query scratch dir `graft_<tag>…` under the root. */
  def scratchDir(s: SparkSession, tag: String): String = {
    listen(s.sparkContext)
    val parent = Files.createDirectories(Paths.get(root(s.sparkContext)))
    Files.createTempDirectory(parent, s"graft_$tag").toString
  }

  /** The context's checkpoint dir, set under the root unless the
    * caller already set one. */
  def checkpointDir(s: SparkSession): String = {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      listen(sc)
      sc.setCheckpointDir(root(sc) + "/graft-cc-checkpoints")
    }
    sc.getCheckpointDir.get
  }

  /** Drop the application's entries and delete its root. */
  private[graft] def end(sc: SparkContext): Unit = {
    slots.forEach { (k, slot) =>
      if (k.app == sc.applicationId && slots.remove(k, slot)) Option(slot.entry).foreach(unpin)
    }
    delete(sc, root(sc))
  }

  @volatile private var listened: SparkContext = _

  // one listener per SparkContext (an idempotent install, like an
  // extra strategy added once per session)
  private def listen(sc: SparkContext): Unit =
    if (listened ne sc) synchronized {
      if (listened ne sc) {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = end(sc)
        })
        listened = sc
      }
    }
}
