package graft.operators

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import graft.{SparkEntry, SparkSpec, State}
import org.apache.spark.sql.Row

/** The session state registry: entries follow their source's version,
  * and the application's end releases every entry and its scratch.
  */
class StateSpec extends SparkSpec {

  private def writeEvents(dir: String, users: Seq[Long]): Unit = {
    val s = spark
    import s.implicits._
    users.map(u => (u, u, new Timestamp(1700000000000L + u))).toDF("event_id", "user_id", "ts")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** l8's rollup computed in the test: union-find over l8's edges (each
    * user links to its %37 and %53 hub nodes). */
  private def l8Truth(users: Seq[Long]): Set[Row] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = parent(find(a)) = find(b)
    users.foreach { u =>
      union(u + 100000L, u % 37)
      union(u + 100000L, u % 53 + 1000L)
    }
    parent.keys.toSeq.groupBy(find).values.map { members =>
      Row(members.min, members.size.toLong, members.max)
    }.toSet
  }

  private def l8(dir: String): Set[Row] =
    SparkEntry.queries("l8_identity_resolution")(spark, dir).collect().toSet

  test("l8's identity mappings follow the events table it derives from") {
    val dir = Files.createTempDirectory("graft-l8ver").toString
    val users = Seq(0L, 1L, 2L, 5L)
    writeEvents(dir, users)
    assert(l8(dir) == l8Truth(users))
    // user 1591 sits on hub 0 (1591 % 37) and hub 1001 (1591 % 53 + 1000):
    // its edges join user 0's component with user 1's
    val grown = users :+ 1591L
    writeEvents(dir, grown)
    assert(l8Truth(grown).size == l8Truth(users).size - 1,
      "the added user must merge two components")
    assert(l8(dir) == l8Truth(grown),
      "l8 served the mappings of the events table before the rewrite")
  }

  test("the application's end drops its entries and deletes its scratch root") {
    val dir = Files.createTempDirectory("graft-state-end").toString
    val s = spark
    import s.implicits._
    Seq(1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with five dozen liquor jugs today")
      .toDF("doc_id", "text").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    writeEvents(dir, Seq(0L, 1L, 25L, 26L))
    def builds(name: String): Long =
      State.ledger.collectFirst { case (`name`, b, _, _) => b }.getOrElse(0L)

    Dedup.shingleTable(spark, dir).count() // a maintained table
    SparkEntry.queries("l8e_identity_stream")(spark, dir).count() // a streamed state, via CC
    val queryDir = State.scratchDir(spark, "spec") // a per-query scratch dir
    val root = Paths.get(State.root(spark.sparkContext))
    val checkpoints = root.resolve("graft-cc-checkpoints")
    assert(Files.isDirectory(checkpoints) && Files.isDirectory(Paths.get(queryDir)))
    assert(Dedup.registeredScratchPath(spark, dir, "l8estate").exists(_.startsWith(root.toString)))
    assert(State.entries(spark.sparkContext) > 0)
    val shBuilds = builds("shtable")

    State.end(spark.sparkContext)

    assert(!Files.exists(root), "the session root must be deleted")
    assert(!Files.exists(checkpoints), "the checkpoint dir must be deleted")
    assert(State.entries(spark.sparkContext) == 0, "the application must hold no entry")
    assert(Dedup.shingleTable(spark, dir).count() > 0)
    assert(builds("shtable") == shBuilds + 1, "the next lookup must rebuild")
  }
}
