package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared per-batch state-store compaction for the foreachBatch
  * streams (ReleaseStream, SubstrStream, CorpusStream, SearchStream):
  * every micro-batch appends one `batch_id=N` partition per store, so
  * a long stream pays a small-file tax plus an O(batches) listing per
  * boundary.
  *
  * Compaction is LSM-TIERED (r17 verdict item #6 — the previous
  * design folded the WHOLE store into one sentinel per cycle, so
  * total rewrite bytes grew quadratically in batches):
  *
  *   - a fold gathers the committed per-batch partitions into ONE new
  *     SENTINEL partition whose id encodes the folded range [a, b] as
  *     `-(2 + a·2^30 + b)` — existing sentinels are NOT rewritten;
  *   - when >= [[mergeFanout]] adjacent sentinels share a size tier
  *     (floor(log4(range length))), they merge into the next tier —
  *     so a row is rewritten O(log batches) times over the stream's
  *     life and the store holds O(log batches) partitions;
  *   - readers take the VISIBLE partition set: a partition whose
  *     range is strictly contained in another's is skipped. That rule
  *     makes every crash window readable-consistent — a fold/merge
  *     writes its sentinel in an `_stage_*` dir (ignored by readers),
  *     renames it into place atomically, then deletes the now-covered
  *     partitions; a crash between rename and deletes leaves covered
  *     partitions that readers skip and the next compaction reclaims.
  *
  * Version order across partitions is COVERAGE END, not the raw id
  * (sentinel ids grow more negative as they cover later ranges):
  * [[latestPerDoc]] / [[latestBoundary]] compare [[coverEnd]], so a
  * doc's newest cut version wins whether it sits in a per-batch
  * partition or inside any sentinel tier.
  *
  * The replay exclusion (`batch_id =!= batchId`) still works: the
  * in-flight batch is excluded from folds (see [[compactStore]]'s
  * cross-store crash contract), so no sentinel ever covers it and its
  * rows keep their own id until the next cycle.
  */
private[streaming] object StateCompaction {

  /** Range field width: batch ids must stay below 2^30 (~34 years of
    * 1-batch/second streaming) so a sentinel id packs both ends. */
  private val RangeBase = 1L << 30

  /** How many adjacent same-tier sentinels trigger a merge. */
  private val mergeFanout = 4

  private[streaming] def sentinelId(a: Long, b: Long): Long = {
    require(a >= 0 && b >= a && b < RangeBase, s"range [$a,$b] out of bounds")
    -(2L + a * RangeBase + b)
  }

  /** The [start, end] batch coverage of a partition id. */
  private[streaming] def coverage(id: Long): (Long, Long) =
    if (id >= 0) (id, id)
    else { val v = -id - 2; (v / RangeBase, v % RangeBase) }

  private[streaming] def tierOf(id: Long): Int = {
    val (a, b) = coverage(id)
    val len = math.max(1L, b - a + 1)
    // floor(log4(len)) in integer arithmetic — floating-point log can
    // round an exact power of 4 (len=64, 256, …) to just below the
    // integer and mis-tier a sentinel by one
    (63 - java.lang.Long.numberOfLeadingZeros(len)) / 2
  }

  /** SQL column for a partition's coverage end — the cross-partition
    * VERSION order (see the class note). */
  private def coverEnd: Column = {
    val id = col("batch_id").cast("long")
    when(id >= 0, id).otherwise((-id - lit(2L)) % lit(RangeBase))
  }

  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The store's `batch_id=*` partition dirs with their decoded ids. */
  private def partitionDirs(spark: SparkSession,
                            path: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("batch_id=").toLong -> s.getPath).toOption)
  }

  /** Visible = not contained in another partition's range. Containment
    * is strict between sentinels (two sentinels can't share a range —
    * the dir name is the id), but a SENTINEL covers a per-batch
    * partition with an EQUAL range too: a single-partition fold writes
    * sentinel [a,a], and a crash between its rename and the covered-dir
    * delete must not leave batch a double-counted (both readable) and
    * unreclaimable.
    */
  private[streaming] def visibleIds(ids: Seq[Long]): Seq[Long] = {
    def containedIn(i: Long, j: Long): Boolean = {
      val ((ai, bi), (aj, bj)) = (coverage(i), coverage(j))
      aj <= ai && bi <= bj && (aj < ai || bi < bj || (i >= 0 && j < 0))
    }
    ids.filterNot(i => ids.exists(j => j != i && containedIn(i, j)))
  }

  private def hasParquetUnder(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext)
      found = it.next().getPath.getName.endsWith(".parquet")
    found
  }

  /** True iff a parquet DATA file exists anywhere under `path`. A
    * store (or partition) can legally exist fileless — a
    * dynamic-partition (`partitionBy`) write of ZERO rows creates only
    * `_SUCCESS` (ReleaseStream's frontier on an all-gated batch),
    * unlike a plain write whose empty file still carries schema.
    */
  private[streaming] def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, path)
    fs.exists(p) && hasParquetUnder(fs, p)
  }

  /** The store read every consumer shares: self-heal a crashed legacy
    * swap (the Sinks contract), list the partition dirs, keep the
    * VISIBLE set, and read only those (with the partition columns) —
    * crash leftovers of an interrupted fold/merge are skipped, never
    * double-counted. None when no visible partition holds data.
    */
  def readVisible(spark: SparkSession, dir: String): Option[DataFrame] = {
    graft.sinks.Sinks.recoverSwap(spark, dir)
    val parts = partitionDirs(spark, dir)
    if (parts.isEmpty) None
    else {
      val fs = fsOf(spark, dir)
      val vis = visibleIds(parts.map(_._1)).toSet
      // one recursive listing pass per candidate partition yields BOTH
      // the has-data decision and the content fingerprint the relation
      // memo keys on — no second listing
      val md = java.security.MessageDigest.getInstance("MD5")
      val withData = parts.filter(p => vis(p._1)).sortBy(_._2.toString).filter { p =>
        val it = fs.listFiles(p._2, true)
        var found = false
        while (it.hasNext) {
          val st = it.next()
          if (st.getPath.getName.endsWith(".parquet")) {
            found = true
            md.update(s"${st.getPath.toUri.getPath}|${st.getLen}|${st.getModificationTime}"
              .getBytes("UTF-8"))
          }
        }
        found
      }
      // the resolved relation is memoized per visible-file fingerprint
      // (the Tables.load move: no re-listing or footer read per call)
      if (withData.isEmpty) None
      else Some(graft.State.memo(spark, dir, "relation",
        md.digest().map("%02x".format(_)).mkString)(
        spark.read.option("basePath", dir).parquet(withData.map(_._2.toString): _*)))
    }
  }

  /** The ONE per-batch state-read idiom every foreachBatch stream
    * uses: the visible store minus the batch's own previously-
    * committed partition (at-least-once replay). None when the store
    * has no data yet.
    */
  def readState(spark: SparkSession, dir: String,
                excludeBatchId: Long): Option[DataFrame] =
    readVisible(spark, dir).map(
      _.filter(col("batch_id").cast("long") =!= excludeBatchId).drop("batch_id"))

  /** Heal a crashed legacy swap on every listed store — processBatch
    * calls this up front so stores it only WRITES this batch recover
    * too before their dirs are recreated, which would otherwise break
    * recoverSwap's `!exists(target)` precondition forever.
    */
  def heal(spark: SparkSession, paths: Seq[String]): Unit =
    paths.foreach(graft.sinks.Sinks.recoverSwap(spark, _))

  /** LSM compaction of one store. `keep` filters the surviving rows
    * of each fold/merge (identity for append-only stores;
    * latest-per-key for versioned ones — applied per fold, which is
    * sound because coverage ranges nest: a doc's latest version in
    * the merged range IS its latest among those partitions);
    * `bucketCol` preserves an extra partition column for stores read
    * with partition pruning; `targetFiles` bounds the file count per
    * sentinel.
    *
    * `excludeBatchId` is the IN-FLIGHT batch: compaction runs inside
    * the foreachBatch callback, BEFORE the checkpoint commits the
    * batch, and is atomic per store but not across a stream's store
    * set. Folding the in-flight partition would let a crash between
    * two stores' compactions corrupt the replay: already-compacted
    * stores would expose the batch's own rows as "prior" state while
    * a not-yet-compacted OUTPUT store gets its partition overwritten
    * by the now-no-op replay and loses the rows forever. Excluded, no
    * sentinel ever covers the in-flight batch, so every store reads
    * identically pre- and post-compaction under the replay exclusion,
    * whichever subset of stores a crash left compacted; the partition
    * folds on the NEXT cycle, when its batch can never replay again.
    */
  def compactStore(spark: SparkSession, path: String, targetFiles: Int,
                   keep: DataFrame => DataFrame = identity,
                   bucketCol: Option[String] = None,
                   excludeBatchId: Long = Long.MinValue): Unit = {
    graft.sinks.Sinks.recoverSwap(spark, path)
    val fs = fsOf(spark, path)
    def reclaimCovered(): Unit = {
      // finish a crashed fold/merge: partitions covered by a sentinel
      // are invisible to readers — delete them (idempotent)
      val parts = partitionDirs(spark, path)
      val vis = visibleIds(parts.map(_._1)).toSet
      parts.filterNot(p => vis(p._1)).foreach(p => fs.delete(p._2, true))
      // and drop any abandoned stage dir
      if (fs.exists(new org.apache.hadoop.fs.Path(path)))
        fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("_stage_"))
          .foreach(s => fs.delete(s.getPath, true))
    }
    // fold the given visible partitions into one sentinel over their
    // union range: stage -> atomic rename -> delete the covered dirs
    def fold(idsWithDirs: Seq[(Long, org.apache.hadoop.fs.Path)]): Unit = {
      val ids = idsWithDirs.map(_._1)
      val (a, b) = (ids.map(coverage(_)._1).min, ids.map(coverage(_)._2).max)
      val withData = idsWithDirs.filter(p => hasParquetUnder(fs, p._2))
      if (withData.isEmpty) {
        // nothing but fileless partitions: their coverage carries no
        // rows — reclaim them outright
        idsWithDirs.foreach(p => fs.delete(p._2, true))
      } else {
        val data = keep(spark.read.option("basePath", path)
            .parquet(withData.map(_._2.toString): _*))
          .drop("batch_id")
        val out = bucketCol match {
          // co-partition by the pruning key so each bucket directory
          // lands as ~one file, not targetFiles shards
          case Some(c) => data.repartition(targetFiles, col(c))
          case None => data.repartition(targetFiles)
        }
        val stage = new org.apache.hadoop.fs.Path(path, s"_stage_${a}_$b")
        fs.delete(stage, true)
        bucketCol.fold(out.write.mode("overwrite"))(c =>
          out.write.mode("overwrite").partitionBy(c)).parquet(stage.toString)
        val target = new org.apache.hadoop.fs.Path(path, s"batch_id=${sentinelId(a, b)}")
        fs.delete(target, true) // a crashed prior attempt's leftover
        fs.rename(stage, target)
        idsWithDirs.foreach(p => fs.delete(p._2, true))
      }
    }
    reclaimCovered()
    // 1. fold the committed per-batch partitions into a new sentinel
    val perBatch = partitionDirs(spark, path)
      .filter { case (id, _) => id >= 0 && id != excludeBatchId }
    if (perBatch.nonEmpty) fold(perBatch)
    // 2. geometric merge: while >= mergeFanout ADJACENT sentinels
    // share a size tier, merge that run into the next tier — each row
    // is rewritten O(log batches) times, never once per cycle
    var merged = true
    while (merged) {
      merged = false
      val sents = partitionDirs(spark, path)
        .filter(_._1 < 0).sortBy(p => coverage(p._1)._1)
      val runs = sents.foldLeft(List.empty[List[(Long, org.apache.hadoop.fs.Path)]]) {
        case (acc, p) => acc match {
          case h :: t if tierOf(h.head._1) == tierOf(p._1) => (p :: h) :: t
          case _ => List(p) :: acc
        }
      }
      runs.find(_.length >= mergeFanout).foreach { run =>
        fold(run.sortBy(p => coverage(p._1)._1))
        merged = true
      }
    }
  }

  /** keep-rule: only each key's LATEST version survives (the
    * versioned-store semantics — a later row supersedes). Version
    * order is coverage end, so sentinel tiers compare correctly. */
  def latestPerKey(all: DataFrame, key: String): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window.partitionBy(col(key))
    all.withColumn("ce", coverEnd)
      .withColumn("mx", max(col("ce")).over(byKey))
      .filter(col("ce") === col("mx")).drop("mx", "ce")
  }

  /** [[latestPerKey]] at the doc grain (the dedup stores' shape). */
  def latestPerDoc(all: DataFrame): DataFrame = latestPerKey(all, "doc_id")

  /** keep-rule: only the LATEST batch boundary survives (stores whose
    * earlier partitions are superseded wholesale). Empty input (every
    * row belongs to the excluded in-flight batch) stays empty. */
  def latestBoundary(all: DataFrame): DataFrame = {
    val withCe = all.withColumn("ce", coverEnd)
    val latest = withCe.agg(max(col("ce"))).head.get(0)
    if (latest == null) all.limit(0)
    else withCe.filter(col("ce") === latest.asInstanceOf[Long]).drop("ce")
  }
}
