package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-21 measurement probe (VERDICT #6): the per-band bucket
  * histogram of the MinHash pair pipeline at x1 and xK replication —
  * decides whether the pair family's 0.6-0.9 scale exponents come from
  * HOT BUCKETS (a skew problem §2.5 salting would fix) or from evenly
  * distributed pair volume (the banded-join budget working as designed,
  * where the exponent IS the pair-volume slope and salting changes
  * nothing). Prints bucket-size and pair-count statistics per scale.
  *
  *   SPARK_GRAFT_SCALE_K=8 sbt "runMain graft.operators.ProbeBands"
  */
object ProbeBands {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val k = sys.env.getOrElse("SPARK_GRAFT_SCALE_K", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = graft.State.scratchDir(spark, "bands")
    val d1 = s"$base/x1"
    val dk = s"$base/x$k"
    graft.BenchScale.replicate(spark, sfDir, d1, 1)
    graft.BenchScale.replicate(spark, sfDir, dk, k)

    Seq("x1" -> d1, s"x$k" -> dk).foreach { case (tag, dir) =>
      val buckets = Dedup.bandRowsOf(Dedup.signatureTable(spark, dir))
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("c"))
        .select(col("c"), (col("c") * (col("c") - 1) / 2).as("pairs"))
      val stats = buckets.agg(
        count(lit(1)).as("n_buckets"),
        sum(col("c")).as("rows"),
        max(col("c")).as("max_bucket"),
        expr("percentile_approx(c, 0.5)").as("median_bucket"),
        expr("percentile_approx(c, 0.99)").as("p99_bucket"),
        sum(col("pairs")).as("total_pairs"),
        max(col("pairs")).as("max_bucket_pairs")).first()
      val topShare = buckets.orderBy(col("pairs").desc).limit(10)
        .agg(sum(col("pairs"))).first().getLong(0)
      println(s"BANDS $tag n_buckets=${stats.getLong(0)} rows=${stats.getLong(1)} " +
        s"max_bucket=${stats.getLong(2)} median=${stats.get(3)} p99=${stats.get(4)} " +
        s"total_pairs=${stats.getLong(5)} max_bucket_pairs=${stats.getLong(6)} " +
        s"top10_bucket_pair_share=${topShare}")
    }
    spark.stop()
  }
}
