package graft.streaming

/** The store compaction the streaming folds share is package-private;
  * this forwarder lets the benchmark call it on a store of its own. */
object BenchCompaction {
  def compactStore(spark: org.apache.spark.sql.SparkSession, path: String, targetFiles: Int): Unit =
    StateCompaction.compactStore(spark, path, targetFiles)
}
