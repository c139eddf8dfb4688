package graft.streaming

import scala.reflect.ClassTag

import graft.operators.Identity
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Streaming IDENTITY RESOLUTION — the maintained mappings table's
  * incremental fold (reference: warehouse/identity/identity.go:79-262,
  * whose applyRule loop IS a stream of merge-rule batches folding into
  * rudder_identity_mappings; the batch side here is
  * [[Identity.addRules]]). This was the one maintained-index family
  * without a streaming sibling: shingle/signature tables have
  * CorpusStream, window hashes SubstrStream, postings SearchStream,
  * coded vectors VectorStream.
  *
  * Unlike those append-only/first-write-wins stores, mappings are
  * VERSIONED per node: a later merge rule can RE-LABEL existing nodes
  * (two components glued by a new edge — the retroactive case, same
  * shape as SubstrStream's retro re-cut), and an ERASURE batch can
  * SPLIT a component or tombstone nodes outright (the l8d unmerge
  * contract at stream grain). So the store holds per-batch DELTA rows
  * (node, comp, dead) and every read takes the LATEST row per node by
  * the LSM coverage order ([[StateCompaction.latestPerKey]]), dropping
  * tombstones.
  *
  * Per-batch cost scales with the batch's NEIGHBORHOOD, never the
  * graph. The merge fold prunes the store to members of TOUCHED
  * components before resolving:
  *   1. the batch's endpoint nodes select their rows in the store; TRUE
  *      latest-per-node over that slice (live rows) yields the touched
  *      component ids C (≤ batch nodes);
  *   2. rows with comp ∈ C nominate CANDIDATE nodes; a second read of
  *      every candidate's full version history keeps only nodes whose
  *      TRUE latest, live comp ∈ C. The two-step form matters once
  *      unmerge exists: labels no longer only decrease, so a node's
  *      STALE row can carry a comp it has since split away from —
  *      star-edging it back would silently re-glue the split.
  *      Candidates are bounded by the touched comps' historical
  *      membership, never the store;
  *   3. CC over (batch edges ∪ star edges member→comp) — the
  *      [[Identity.addRules]] delta contract — gives the delta: every
  *      batch endpoint (self-loop-only nodes included) and every touched
  *      member, comp = its component's min member. ONLY those rows are
  *      written as the batch's partition.
  * A batch of up to `smallGraphMax` ([[Identity.SmallGraphMax]]) rows
  * with integral ids runs this as a DRIVER fold — the reference's own
  * shape (an in-process union-find per rule batch): one bounded job
  * reads the batch, three bounded, driver-keyed jobs read the store
  * (each capped at the same bound), [[Identity.unionFind]] resolves,
  * and the delta and the ledger go out as one file each — no persist,
  * no CC call, no checkpoint (~7 jobs, against ~30 for the chain).
  * Past the bound in any read, or on non-integral or null ids, the
  * batch falls back to the DataFrame chain (pinned store, broadcast
  * semi-joins, distributed CC). The choice is made before the first
  * write, and both paths write the same rows, so a replay of the batch
  * stays idempotent whichever path either attempt took.
  *
  * The UNMERGE fold ([[processUnmerge]]) is the reference's regulation
  * path (l8d's batch contract): the regulated nodes' components
  * recompute from their SURVIVING edges (the maintained edge ledger,
  * minus anything incident to an erased node); members absent from the
  * recomputation — the regulated nodes and anyone orphaned by the
  * erasure — get TOMBSTONE rows; every other component carries over
  * untouched. Erasure is durable: the erased ledger suppresses the
  * nodes from all future merge batches, edge reads filter
  * erased-incident rows, and compaction PHYSICALLY purges them from
  * the edge store (the L9 retention-rides-the-rewrite precedent).
  *
  * State stores (per-batch `batch_id=N` partitions, overwrite mode —
  * the shared at-least-once replay contract):
  *   maps   (node, comp, dead)  versioned deltas; read = latest live
  *   edges  (src, dst)          the merge-rule ledger (unmerge input)
  *   erased (node)              the regulation suppression list
  * [[compactState]] folds committed partitions into LSM range
  * sentinels (maps keeps each node's latest row — sound per fold
  * because coverage ranges nest; edges dedup + purge erased-incident
  * rows; erased dedups), with the in-flight batch left out (the
  * cross-store crash contract).
  */
object IdentityStream {

  private[graft] val stores: Seq[String] = Seq("maps", "edges", "erased")

  private def mapsDir(stateDir: String) = s"$stateDir/maps"
  private def edgesDir(stateDir: String) = s"$stateDir/edges"
  private def erasedDir(stateDir: String) = s"$stateDir/erased"

  private def visibleExcluding(spark: SparkSession, dir: String,
                               excludeBatchId: Long): Option[DataFrame] =
    StateCompaction.readVisible(spark, dir)
      .map(_.filter(col("batch_id").cast("long") =!= excludeBatchId))

  /** The erased-node suppression list (regulation grain — broadcast). */
  private def readErasedSet(spark: SparkSession, stateDir: String,
                            excludeBatchId: Long): Option[DataFrame] =
    visibleExcluding(spark, erasedDir(stateDir), excludeBatchId)
      .map(_.select(col("node")).distinct())

  /** The maintained mappings table (node, comp) — what l8's consumers
    * scan; comp = min live member of the node's component. Tombstoned
    * nodes (erased, or orphaned by an erasure) are absent.
    */
  def readMappings(spark: SparkSession, stateDir: String): DataFrame =
    visibleExcluding(spark, mapsDir(stateDir), Long.MinValue)
      .map(all => StateCompaction.latestPerKey(all, "node")
        .filter(!col("dead")).select(col("node"), col("comp")))
      .getOrElse {
        val sess = spark
        import sess.implicits._
        Seq.empty[(Long, Long)].toDF("node", "comp")
      }

  /** One micro-batch of merge-rule edges (src, dst): suppress erased
    * nodes, resolve the batch's neighborhood, append the re-labeled
    * delta rows, and ledger the surviving edges. Idempotent under
    * replay of `batchId`. `smallGraphMax` bounds the driver fold (the
    * batch and each neighbourhood read); 0 forces the DataFrame chain.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                   batchId: Long, smallGraphMax: Long = Identity.SmallGraphMax): Unit = {
    StateCompaction.heal(spark, stores.map(n => s"$stateDir/$n"))
    val erased = readErasedSet(spark, stateDir, batchId)
    // durable erasure: a post-regulation rule naming an erased node is
    // dropped (the suppression-list contract, T1's shape)
    val e = erased.foldLeft(batch.toDF("src", "dst"))((b, er) =>
      b.join(broadcast(er.withColumnRenamed("node", "src")), Seq("src"), "left_anti")
        .join(broadcast(er.withColumnRenamed("node", "dst")), Seq("dst"), "left_anti"))
    val store = visibleExcluding(spark, mapsDir(stateDir), batchId)
    if (!foldInDriver(spark, e, store, stateDir, batchId, smallGraphMax))
      foldDistributed(e, store, stateDir, batchId)
  }

  /** The driver fold: every read is one bounded job, the union-find runs
    * in the driver, and the two writes go straight from driver rows.
    * False — before anything is written — when a read passes `bound`
    * rows or an id is not integral (or null).
    */
  private def foldInDriver(spark: SparkSession, e: DataFrame, store: Option[DataFrame],
                           stateDir: String, batchId: Long, bound: Long): Boolean = {
    def integral(df: DataFrame, cs: String*) = cs.forall(c => df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    val fits = bound > 0 && bound < Int.MaxValue && integral(e, "src", "dst") &&
      store.forall(integral(_, "node", "comp"))
    val max = bound.toInt
    val edges = if (!fits) None else collectAtMost(
        e.select(col("src").cast("long"), col("dst").cast("long")).rdd
          .map(r => if (r.anyNull) None else Some((r.getLong(0), r.getLong(1)))), max)
      .filter(_.forall(_.isDefined)).map(_.flatten)
    val members = edges.flatMap(es => store.fold(Option(Seq.empty[(Long, Long)]))(all =>
      touchedMembersInDriver(all, es.flatMap(x => Seq(x._1, x._2)).toSet, max)))
    (edges, members) match {
      case (Some(es), Some(ms)) =>
        // CC over (batch ∪ star edges member→comp): every endpoint, comp
        // = its component's min member
        val all = es ++ ms
        val root = Identity.unionFind(all.iterator).toMap
        val nodes = all.flatMap(x => Seq(x._1, x._2)).distinct
        import spark.implicits._
        nodes.map(n => (n, root.getOrElse(n, n), false)).toDF("node", "comp", "dead")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${mapsDir(stateDir)}/batch_id=$batchId")
        es.toDF("src", "dst")
          .select(e.schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"${edgesDir(stateDir)}/batch_id=$batchId")
        true
      case _ => false
    }
  }

  /** `rows` in ONE job, or None past `max` rows: each task ships at most
    * max + 1 rows and the driver drops them all once the total passes
    * max (no incremental `limit` scale-up jobs).
    */
  private def collectAtMost[T: ClassTag](rows: RDD[T], max: Int): Option[Seq[T]] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[T]
    var over = false
    rows.sparkContext.runJob(rows, (it: Iterator[T]) => it.take(max + 1).toArray,
      (_: Int, part: Array[T]) => if (!over) {
        got ++= part
        over = got.length > max
        if (over) got.clear()
      })
    if (over) None else Some(got.toSeq)
  }

  /** The touched neighbourhood of `seeds` (node) on the store — the
    * seeds' TRUE latest live rows give the touched comps C; rows with
    * any comp in C nominate candidates; the candidates' true-latest
    * live rows with comp in C are the members (node, comp). Dead rows
    * contribute nothing: a tombstoned node re-linked by a new rule
    * re-enters as a fresh node. See the class note on why one
    * candidate pass is unsound under splits.
    */
  private def touchedMembers(all: DataFrame, seeds: DataFrame): DataFrame = {
    val comps = StateCompaction.latestPerKey(all.join(broadcast(seeds), "node"), "node")
      .filter(!col("dead"))
      .select(col("comp")).distinct()
    val candNodes = all.join(broadcast(comps), "comp")
      .select(col("node")).distinct()
    StateCompaction.latestPerKey(all.join(broadcast(candNodes), "node"), "node")
      .filter(!col("dead"))
      .join(broadcast(comps), "comp")
      .select(col("node"), col("comp"))
  }

  /** [[touchedMembers]] as three driver-keyed store reads (one bounded
    * job each); None past `max` rows in any read. */
  private def touchedMembersInDriver(all: DataFrame, seeds: Set[Long],
                                     max: Int): Option[Seq[(Long, Long)]] = {
    val rows = all.select(col("node").cast("long"), col("comp").cast("long"),
      col("dead"), col("batch_id").cast("long")).rdd
    // (node, comp, dead, coverage end) of the rows whose key is in keys
    def read(key: Int, keys: Set[Long]): Option[Seq[(Long, Long, Boolean, Long)]] =
      if (keys.isEmpty) Some(Seq.empty)
      else collectAtMost(rows.filter(r => !r.isNullAt(key) && keys(r.getLong(key))).map(r =>
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), r.getBoolean(2),
          StateCompaction.coverage(r.getLong(3))._2)), max)
    // StateCompaction.latestPerKey by node, then the live rows
    def latestLive(rs: Seq[(Long, Long, Boolean, Long)]): Seq[(Long, Long)] =
      rs.groupBy(_._1).values.toSeq.flatMap { vs =>
        val last = vs.map(_._4).max
        vs.collect { case (n, c, dead, ce) if ce == last && !dead => (n, c) }
      }
    for {
      touched <- read(0, seeds)
      comps = latestLive(touched).map(_._2).toSet
      cands <- read(1, comps)
      history <- read(0, cands.map(_._1).toSet)
    } yield latestLive(history).filter(m => comps(m._2))
  }

  /** The DataFrame chain: the fold above as Spark plans, for batches or
    * neighbourhoods past the driver bound and non-integral ids. */
  private def foldDistributed(batch: DataFrame, store: Option[DataFrame],
                              stateDir: String, batchId: Long): Unit = {
    // the batch plan (typically an upstream scan + distinct) is
    // persisted for the fold's duration: it feeds the touched-
    // neighborhood broadcast chain, the CC input AND the ledger write —
    // each a separate action that would otherwise re-execute it
    val e = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pinnedStore = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val delta = store match {
        case None =>
          Identity.connectedComponents(e).toDF("node", "comp")
        case Some(all0) =>
          // the neighborhood chain reads the store THREE times inside
          // one executed plan — pin the store scan for the fold's
          // duration so each batch pays it once, not three times
          val all = all0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pinnedStore += all
          val touched = e.select(col("src").as("node"))
            .union(e.select(col("dst").as("node"))).distinct()
          val starEdges = touchedMembers(all, touched)
            .select(col("node").as("src"), col("comp").as("dst"))
          // CC materializes its input eagerly, so the pin is consumed
          // by the time it returns
          Identity.connectedComponents(e.union(starEdges)).toDF("node", "comp")
      }
      delta.withColumn("dead", lit(false)).write.mode("overwrite")
        .parquet(s"${mapsDir(stateDir)}/batch_id=$batchId")
      e.write.mode("overwrite")
        .parquet(s"${edgesDir(stateDir)}/batch_id=$batchId")
    } finally {
      pinnedStore.foreach(_.unpersist())
      e.unpersist()
    }
  }

  /** One REGULATION batch (node): erase the given nodes — their
    * components recompute from surviving ledger edges (splitting where
    * the regulated nodes were the glue), the regulated nodes and
    * anyone orphaned by the erasure tombstone out, and the erased
    * ledger suppresses them from all future rules. Untouched
    * components never enter the plan. Idempotent under replay.
    */
  def processUnmerge(spark: SparkSession, regulated: DataFrame,
                     stateDir: String, batchId: Long): Unit = {
    StateCompaction.heal(spark, stores.map(n => s"$stateDir/$n"))
    val sess = spark
    import sess.implicits._
    val reg = regulated.toDF("node")
    val store = visibleExcluding(spark, mapsDir(stateDir), batchId)
    val pinned = scala.collection.mutable.ListBuffer.empty[DataFrame]
    try {
      val delta = store match {
        case None =>
          // an erasure before any merge batch: nothing mapped, nothing
          // to split — only the suppression-list write below matters
          Seq.empty[(Long, Option[Long], Boolean)].toDF("node", "comp", "dead")
        case Some(all0) =>
          // same three-pass store read as processBatch — pin it once
          // for the fold (released with the other pins in finally)
          val all = all0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pinned += all
          // bounded by the affected components; persisted because it
          // feeds both the surviving-edge broadcast (built during the
          // eager CC) and the tombstone anti-join (executed at write)
          val members = touchedMembers(all, reg).select(col("node"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          pinned += members
          // surviving edges of the affected components: the ledger
          // filtered to member sources (components are closed under
          // their own edges), minus anything incident to an erased or
          // newly-regulated node
          val erasedNow = readErasedSet(spark, stateDir, batchId)
            .fold(reg)(_.unionByName(reg)).distinct()
          val edges = visibleExcluding(spark, edgesDir(stateDir), batchId)
            .map(_.select(col("src"), col("dst")))
            .getOrElse(Seq.empty[(Long, Long)].toDF("src", "dst"))
          val surviving = edges
            .join(broadcast(members.withColumnRenamed("node", "src")), "src")
            .join(broadcast(erasedNow.withColumnRenamed("node", "src")),
              Seq("src"), "left_anti")
            .join(broadcast(erasedNow.withColumnRenamed("node", "dst")),
              Seq("dst"), "left_anti")
          val recomputed = Identity.connectedComponents(surviving)
            .toDF("node", "comp")
          // tombstones: affected members that no surviving edge reaches —
          // the regulated nodes and the erasure's orphans
          val tomb = members
            .join(recomputed.select(col("node")), Seq("node"), "left_anti")
            .select(col("node"), lit(null).cast("long").as("comp"))
          recomputed.withColumn("dead", lit(false))
            .unionByName(tomb.withColumn("dead", lit(true)))
      }
      delta.write.mode("overwrite")
        .parquet(s"${mapsDir(stateDir)}/batch_id=$batchId")
      reg.write.mode("overwrite")
        .parquet(s"${erasedDir(stateDir)}/batch_id=$batchId")
    } finally pinned.foreach(_.unpersist())
  }

  /** Fold committed partitions into LSM range sentinels: maps keeps
    * each node's latest row, the edge ledger dedups and PHYSICALLY
    * purges erased-incident rows (retention riding the rewrite), the
    * erased list dedups. The in-flight batch is left out.
    */
  def compactState(spark: SparkSession, stateDir: String,
                   targetFiles: Int = 4,
                   excludeBatchId: Long = Long.MinValue): Unit = {
    val erased = readErasedSet(spark, stateDir, excludeBatchId)
    def purge(df: DataFrame): DataFrame = erased.fold(df)(er =>
      df.join(broadcast(er.withColumnRenamed("node", "src")), Seq("src"), "left_anti")
        .join(broadcast(er.withColumnRenamed("node", "dst")), Seq("dst"), "left_anti"))
    StateCompaction.compactStore(spark, mapsDir(stateDir), targetFiles,
      keep = df => StateCompaction.latestPerKey(df, "node"),
      excludeBatchId = excludeBatchId)
    StateCompaction.compactStore(spark, edgesDir(stateDir), targetFiles,
      keep = df => purge(df.dropDuplicates("src", "dst")),
      excludeBatchId = excludeBatchId)
    StateCompaction.compactStore(spark, erasedDir(stateDir), targetFiles,
      keep = _.dropDuplicates("node"),
      excludeBatchId = excludeBatchId)
  }

  /** The streaming entry: a (src, dst) merge-rule stream → maintained
    * mappings store, compacted every `compactEvery` batches (0
    * disables). Regulation batches arrive through [[processUnmerge]]
    * (a control-plane side input, not this stream).
    */
  def start(rules: DataFrame, stateDir: String, checkpointDir: String,
            compactEvery: Int = 64): StreamingQuery =
    rules.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateDir, batchId)
        if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
          compactState(batch.sparkSession, stateDir, excludeBatchId = batchId)
        ()
      }
      .start()
}
