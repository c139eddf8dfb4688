package graft.streaming

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming kNN-GRAPH maintenance — the maintained graph index's
  * incremental fold (the knngraph table is ll28/ll36's batch form;
  * this keeps it current as a corpus is embedded, the way
  * VectorStream keeps the coded IVF-PQ store current).
  *
  * The fold is EXACT because the graph's defining rule is
  * bucket-local ([[Similarity.bucketTop3]]): a node's top-3 edges
  * depend only on its LSH bucket's membership, and an add-only vector
  * stream only ever GROWS buckets. So one micro-batch touches exactly
  * the buckets its fresh vectors land in — every member of a touched
  * bucket (fresh or prior) gets its top-3 recomputed over the
  * bucket's CURRENT membership, and untouched buckets' stored edges
  * remain the rebuild's answer verbatim. A new vector displacing an
  * OLD node's rank-1 neighbor is the retroactive case (SubstrStream's
  * re-cut, IdentityStream's re-label precedent): the old node simply
  * gets a newer version row in the touched-bucket rewrite.
  *
  * Per-batch cost is the touched buckets' membership — at a 100 TB
  * corpus a batch touches its own buckets' rows, never the corpus
  * (the bucket partitioning of the vecs store makes the prior-member
  * read a pruned scan). Edges store as ONE versioned row per node
  * (vec_id, nbs array) so the latest-per-key read is the same idiom
  * every versioned store uses; an add-only stream can only grow a
  * node's neighbor count, so whole-version replacement never strands
  * a stale rank row.
  *
  * State stores (per-batch `batch_id=N` partitions, overwrite mode —
  * the shared at-least-once replay contract):
  *   graph (vec_id, nbs)                 versioned; read = latest per node
  *   vecs  (vec_id, embedding, nrm, bucket)  first-write-wins,
  *         directory-partitioned by bgroup = bucket % [[BucketGroups]]
  *         inside each batch partition — the pruned-read key. The
  *         group count is a layout knob (EventStream.trackBuckets'
  *         shape): 16 keeps the local dynamic-partition commit cheap;
  *         a 100 TB deployment raises it toward one dir per bucket
  * [[compactState]] folds committed partitions into LSM range
  * sentinels (graph keeps each node's latest row; vecs keeps its
  * bucket partitioning), with the in-flight batch left out (the
  * cross-store crash contract).
  */
object GraphStream {

  private[graft] val stores: Seq[String] = Seq("graph", "vecs")

  /** Directory-group count for the vecs store's partition layout. */
  private[graft] val BucketGroups = 16

  private def graphDir(stateDir: String) = s"$stateDir/graph"
  private def vecsDir(stateDir: String) = s"$stateDir/vecs"

  /** The accumulated bucketed vector store (vec_id, embedding, nrm,
    * bucket) — partition-column bucket cast back to long.
    */
  private def readVecsState(spark: SparkSession, stateDir: String,
                            excludeBatchId: Long): Option[DataFrame] =
    StateCompaction.readState(spark, vecsDir(stateDir), excludeBatchId)

  /** One micro-batch of (vec_id, embedding): bucket the first-seen
    * vectors, recompute the touched buckets' top-3 edges over their
    * current membership, and append both stores. Idempotent under
    * replay of `batchId`.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, stateDir: String,
                   batchId: Long): Unit = {
    StateCompaction.heal(spark, stores.map(n => s"$stateDir/$n"))
    val prior = readVecsState(spark, stateDir, batchId)
    // first-write-wins: a re-delivered vector is skipped (re-embedding
    // is a rebuild decision, VectorStream's contract)
    val fresh = Similarity.lshBucketed(
        prior.fold(batch.toDF("vec_id", "embedding"))(p =>
          batch.toDF("vec_id", "embedding")
            .join(p.select(col("vec_id")), Seq("vec_id"), "left_anti")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the touched-bucket list is batch-bounded (≤ 256 under the
      // 8-hyperplane scheme) — a driver-side pruning list, the
      // VectorStream qCells precedent
      val touched = fresh.select(col("bucket")).distinct()
        .collect().map(_.getLong(0))
      val touchedGroups = touched.map(_ % BucketGroups).distinct
      val members = prior
        .map(_.filter(col("bgroup").isin(touchedGroups: _*) &&
            col("bucket").isin(touched: _*))
          .drop("bgroup")
          .unionByName(fresh))
        .getOrElse(fresh.toDF())
      val delta = Similarity.bucketTop3(members)
        .groupBy(col("vec_id"))
        .agg(sort_array(collect_list(struct(col("rank"), col("neighbor_id"))))
          .as("rs"))
        .select(col("vec_id"), expr("transform(rs, r -> r.neighbor_id)").as("nbs"))
      // bound the partition's file count to the touched-group grain:
      // the delta inherits the session's shuffle partitioning (32 near-
      // empty files per batch for a touched-bucket-sized rewrite), and
      // every later store read pays the listing/open tax per file —
      // the same small-files rule as the vecs write below, sized by
      // the batch's own touched groups rather than a constant
      delta
        .coalesce(math.max(1, touchedGroups.length))
        .write.mode("overwrite")
        .parquet(s"${graphDir(stateDir)}/batch_id=$batchId")
      // repartition on the partition column first (the d8 rule): a
      // dynamic-partition write otherwise lands tasks × groups tiny
      // files and every later pruned read pays the open() tax
      fresh
        .withColumn("bgroup", col("bucket") % BucketGroups)
        .repartition(col("bgroup"))
        .write.partitionBy("bgroup").mode("overwrite")
        .parquet(s"${vecsDir(stateDir)}/batch_id=$batchId")
    } finally fresh.unpersist()
  }

  /** The maintained graph (vec_id, rank, neighbor_id) — the knngraph
    * table's streamed twin; read = latest version per node, exploded
    * back to ranked edge rows.
    */
  def readGraph(spark: SparkSession, stateDir: String): Option[DataFrame] =
    StateCompaction.readVisible(spark, graphDir(stateDir)).map { all =>
      StateCompaction.latestPerKey(all, "vec_id")
        .select(col("vec_id"), posexplode(col("nbs")).as(Seq("pos", "neighbor_id")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
          col("neighbor_id"))
    }

  /** ll36's beam walk over the streamed stores — the SAME
    * [[Similarity.graphWalk]] read path the batch query uses, so
    * batch-built and stream-maintained graphs serve one search
    * surface. `queries` is (query_id, embedding); typed-empty until
    * both stores hold data (the crash-window contract).
    */
  def search(spark: SparkSession, stateDir: String, queries: DataFrame,
             k: Int = 3): DataFrame = {
    val sess = spark
    import sess.implicits._
    def empty = Seq.empty[(Long, Long, Long)].toDF("query_id", "rank", "neighbor_id")
    (readVecsState(spark, stateDir, Long.MinValue), readGraph(spark, stateDir)) match {
      case (Some(vecs), Some(g)) =>
        val v = vecs.drop("bgroup")
        val q = Similarity.withNorm(
            queries.select(col("query_id").as("vec_id"), col("embedding")))
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
            col("nrm").as("q_nrm"))
        // the route table (bucket → min id) comes straight off the
        // bucketed store — the same coarse router the batch side
        // maintains as knnroute
        val entries = v.groupBy(col("bucket")).agg(min(col("vec_id")).as("entry"))
        Similarity.graphWalk(
          v.select(col("vec_id").as("node"), col("embedding"), col("nrm")),
          g, q, Similarity.routeOf(entries, queries), k = k)
      case _ => empty
    }
  }

  /** Fold committed partitions into LSM range sentinels: graph keeps
    * each node's latest version, vecs keeps its bgroup partitioning
    * (the pruned read's key). The in-flight batch is left out.
    */
  def compactState(spark: SparkSession, stateDir: String,
                   targetFiles: Int = 4,
                   excludeBatchId: Long = Long.MinValue): Unit = {
    StateCompaction.compactStore(spark, graphDir(stateDir), targetFiles,
      keep = df => StateCompaction.latestPerKey(df, "vec_id"),
      excludeBatchId = excludeBatchId)
    StateCompaction.compactStore(spark, vecsDir(stateDir), targetFiles,
      keep = _.dropDuplicates("vec_id"),
      bucketCol = Some("bgroup"),
      excludeBatchId = excludeBatchId)
  }

  /** The streaming entry: a (vec_id, embedding) stream → maintained
    * graph + bucketed vector stores, compacted every `compactEvery`
    * batches (0 disables).
    */
  def start(vecs: DataFrame, stateDir: String, checkpointDir: String,
            compactEvery: Int = 64): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, stateDir, batchId)
        if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1))
          compactState(batch.sparkSession, stateDir, excludeBatchId = batchId)
        ()
      }
      .start()
}
