package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Ev(message_id: String, ts: Timestamp, received_at: Timestamp,
              user_id: String, anonymous_id: String, event_type: String, value: Double)

/** MemoryStream tests for the streaming slice: exactly-once dedup
  * across micro-batches, merge idempotence, and streaming-vs-batch
  * equivalence of the watermarked minute aggregation.
  */
class StreamingSpec extends SparkSpec with ReleaseFixtures {

  private def t(s: String) = Timestamp.valueOf(s)

  private def ev(mid: String, tsS: String, uid: String, typ: String, v: Double) =
    Ev(mid, t(tsS), t(tsS), uid, s"anon_$uid", typ, v)

  test("end-to-end slice: dedup across micro-batches + MERGE sink") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val tableDir = Files.createTempDirectory("tracks").toString + "/tracks"
    val ckpt = Files.createTempDirectory("ckpt").toString
    val q = EventStream.startTracksPipeline(input.toDF(), tableDir, ckpt)
    try {
      input.addData(
        ev("m1", "2024-01-01 00:00:10", "u1", "purchase", 10.0),
        ev("m2", "2024-01-01 00:00:20", "u2", "click", 1.0),
        Ev("m_null", t("2024-01-01 00:00:30"), t("2024-01-01 00:00:30"),
          null, null, "view", 0.0)) // T3: no ids → rejected
      q.processAllAvailable()
      input.addData(
        ev("m2", "2024-01-01 00:00:20", "u2", "click", 1.0), // dup across batches
        ev("m3", "2024-01-01 00:00:40", "u3", "view", 2.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(tableDir)
      assert(rows.count() === 3)
      assert(rows.select("id").as[String].collect().toSet === Set("m1", "m2", "m3"))
    } finally q.stop()
  }

  test("mergeIntoTracks is idempotent and latest received_at wins") {
    val sess = spark
    import sess.implicits._
    val dir = Files.createTempDirectory("merge").toString + "/t"
    val mk = (id: String, rcv: String, v: Double) =>
      (id, "u1", "a1", "purchase", t("2024-01-01 00:00:00"), t(rcv), v)
    val b1 = Seq(mk("m1", "2024-01-01 00:01:00", 1.0))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, b1)
    EventStream.mergeIntoTracks(spark, dir, b1) // replay: no dup
    assert(spark.read.parquet(dir).count() === 1)
    val b2 = Seq(mk("m1", "2024-01-01 00:02:00", 99.0))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, b2)
    val row = spark.read.parquet(dir).collect()
    assert(row.length === 1)
    assert(row(0).getAs[Double]("value") === 99.0)
  }

  test("A2 streaming: the mergeable HLL sketch aggregates across micro-batches like batch") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val hll = udaf(new graft.functions.HllAggregator(12))
    val q = input.toDF().toDF("event_type", "uid")
      .groupBy(col("event_type")).agg(hll(col("uid")).as("est"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_stream").start()
    try {
      // two micro-batches with overlapping uids — the sketch's
      // register-wise-max merge must deduplicate across batches
      input.addData((1 to 600).map(i => ("click", s"u$i")): _*)
      q.processAllAvailable()
      input.addData((300 to 900).map(i => ("click", s"u$i")): _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_stream")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = (1 to 900).map(i => ("click", s"u$i")).toDF("event_type", "uid")
        .groupBy(col("event_type")).agg(hll(col("uid")).as("est"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch,
        "stream-merged sketch must equal the batch sketch (merge exactness)")
      assert(math.abs(streamed("click") - 900.0) / 900.0 < 0.05,
        s"estimate ${streamed("click")} outside 5% of 900")
    } finally q.stop()
  }

  test("streaming schema evolution: columns add, string upgrades to text, incompatibles discard") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("evolve").toString
    val (table, reg, disc, ckpt) =
      (s"$base/t", s"$base/registry", s"$base/discards", s"$base/ckpt")
    val q = SchemaEvolution.start(input.toDF().toDF("id", "js"), table, reg, disc, ckpt)
    try {
      input.addData(1L -> """{"a":1,"s":"hi"}""", 2L -> """{"a":2,"s":"yo"}""")
      q.processAllAvailable()
      assert(SchemaEvolution.readRegistry(spark, reg) === Map("a" -> "int", "s" -> "string"))
      // later batches: new columns b/c, s grows past 512 chars (→ text),
      // and a value incompatible with a's registered int type
      val longS = "x" * 600
      input.addData(
        3L -> s"""{"b":2.5,"s":"$longS","at":"2024-03-05T10:11:12"}""",
        4L -> """{"a":"oops","c":true,"at":"2024-03-05T10:11:12.500Z"}""")
      q.processAllAvailable()
      assert(SchemaEvolution.readRegistry(spark, reg) ===
        Map("a" -> "int", "s" -> "text", "b" -> "float", "c" -> "boolean",
          "at" -> "datetime"))
      val t = SchemaEvolution.readTable(spark, table)
      assert(t.columns.toSet === Set("id", "a", "s", "b", "c", "at"))
      // zone-less and fractional-Zulu timestamps both land typed, not
      // discarded (the datetime coercion accepts what inference accepts)
      assert(t.filter(col("id") === 3).select("at").first()
        .getTimestamp(0).toString === "2024-03-05 10:11:12.0")
      assert(t.filter(col("id") === 4).select("at").first()
        .getTimestamp(0).toString === "2024-03-05 10:11:12.5")
      assert(t.count() === 4)
      assert(t.filter(col("id") === 3).select("b").first().getDouble(0) === 2.5)
      assert(t.filter(col("id") === 1).select("b").first().isNullAt(0),
        "pre-evolution rows read back with null for later columns")
      // "oops" can't coerce to the registered int → rudder_discards
      val d = SchemaEvolution.readTable(spark, disc).collect()
      assert(d.length === 1)
      assert(d(0).getAs[Long]("row_id") === 4L)
      assert(d(0).getAs[String]("column_name") === "a")
      assert(d(0).getAs[String]("reason") === "incompatible schema conversion from int to string")
      // and the row itself still landed, with a null in the bad column
      assert(t.filter(col("id") === 4).select("a").first().isNullAt(0))
    } finally q.stop()
  }

  test("schema evolution batch replay is idempotent (crash before checkpoint commit)") {
    val sess = spark
    import sess.implicits._
    val base = Files.createTempDirectory("evolve_replay").toString
    val (table, reg, disc) = (s"$base/t", s"$base/registry", s"$base/discards")
    val b0 = Seq(1L -> """{"a":1,"s":"hi"}""", 2L -> """{"a":2}""").toDF("id", "js")
    val acts0 = SchemaEvolution.processBatch(spark, b0, table, reg, disc, 0L)
    assert(acts0 === Seq("add:a:int", "add:s:string"))
    // foreachBatch is at-least-once: a crash after the data landed but
    // before the checkpoint committed re-delivers the SAME batch id
    val replayActs = SchemaEvolution.processBatch(spark, b0, table, reg, disc, 0L)
    assert(replayActs.isEmpty, "replay must find the registry already evolved")
    assert(SchemaEvolution.readTable(spark, table).count() === 2,
      "replayed batch must not duplicate rows")
    val b1 = Seq(3L -> """{"a":"oops","b":true}""").toDF("id", "js")
    SchemaEvolution.processBatch(spark, b1, table, reg, disc, 1L)
    SchemaEvolution.processBatch(spark, b1, table, reg, disc, 1L) // replay with a discard
    val t = SchemaEvolution.readTable(spark, table)
    assert(t.count() === 3)
    assert(SchemaEvolution.readTable(spark, disc).count() === 1,
      "discards must not duplicate under replay either")
    assert(SchemaEvolution.readRegistry(spark, reg) ===
      Map("a" -> "int", "s" -> "string", "b" -> "boolean"))
  }

  test("schema evolution reads tables that predate per-batch directories") {
    val sess = spark
    import sess.implicits._
    val base = Files.createTempDirectory("evolve_migrate").toString
    val (table, reg, disc) = (s"$base/t", s"$base/registry", s"$base/discards")
    // legacy layout: rows appended flat at the table root
    Seq((0L, 7L)).toDF("id", "a").write.mode("append").parquet(table)
    // post-upgrade batches land in batch_id=N subdirectories
    SchemaEvolution.processBatch(spark,
      Seq(1L -> """{"a":1,"b":"x"}""").toDF("id", "js"), table, reg, disc, 0L)
    val t = SchemaEvolution.readTable(spark, table)
    assert(t.count() === 2, "legacy flat files and batch dirs must read together")
    assert(t.columns.toSet === Set("id", "a", "b"))
  }

  test("streaming corpus maintenance: near-dup pairs accumulate across micro-batches") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("corpus_stream").toString
    val (idx, pairs, ckpt) = (s"$base/index", s"$base/pairs", s"$base/ckpt")
    val q = CorpusStream.start(input.toDF().toDF("doc_id", "text"), idx, pairs, ckpt)
    val a = "the quick brown fox jumps over the lazy dog again"
    val c = "completely fresh vocabulary occupies every position of this sentence"
    try {
      input.addData(1L -> a,
        2L -> "an entirely different set of words fills this one out")
      q.processAllAvailable()
      assert(CorpusStream.readPairs(spark, pairs).count() === 0,
        "no near-dups inside the first batch")
      // batch 2: doc 3 duplicates doc 1 (cross-batch, via the index);
      // docs 4 and 5 duplicate each other (batch-internal)
      input.addData(3L -> a, 4L -> c, 5L -> c)
      q.processAllAvailable()
      val got = CorpusStream.readPairs(spark, pairs)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 3L), (4L, 5L)))
      // batch 3: doc 0 duplicates docs 1 and 3 but carries a SMALLER
      // id — doc_ids have no arrival-order meaning, the pair must
      // still emit; doc 4 is re-delivered by the source (a later
      // batch, not a replay) and must be skipped, not double-indexed
      input.addData(0L -> a, 4L -> c)
      q.processAllAvailable()
      val got3 = CorpusStream.readPairs(spark, pairs)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got3 === Set((1L, 3L), (4L, 5L), (0L, 1L), (0L, 3L)))
    } finally q.stop()
    // at-least-once replay of the last batch must not duplicate pairs
    // or index rows, and must not pair the batch against its own
    // previously-committed index partition
    CorpusStream.processBatch(spark,
      Seq(0L -> a, 4L -> c).toDF("doc_id", "text"), idx, pairs, 2L)
    val after = CorpusStream.readPairs(spark, pairs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(after.toSet === Set((1L, 3L), (4L, 5L), (0L, 1L), (0L, 3L)))
    assert(after.length === 4, "replay must not duplicate pair rows")
    assert(spark.read.parquet(idx).count() === 6,
      "index keeps exactly one signature row per document")
    // ---- state compaction (r16 item #2 at this stream's grain) ----
    def pairSet() = CorpusStream.readPairs(spark, pairs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def files(p: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).count(_.getName.endsWith(".parquet"))
    }
    val (pairsBefore, idxFiles) = (pairSet(), files(idx))
    CorpusStream.compactState(spark, idx, pairs, targetFiles = 1)
    assert(pairSet() === pairsBefore, "compaction must preserve every pair row")
    assert(spark.read.parquet(idx).count() === 6,
      "compaction must preserve every index row")
    assert(files(idx) <= math.min(2, idxFiles),
      s"3 batch partitions must fold to ~1 file, got ${files(idx)}")
    // a replayed PRE-compaction batch anti-joins to a no-op against
    // the sentinel partition (its rows are already indexed there)
    CorpusStream.processBatch(spark,
      Seq(0L -> a, 4L -> c).toDF("doc_id", "text"), idx, pairs, 2L)
    assert(pairSet() === pairsBefore && spark.read.parquet(idx).count() === 6,
      "replay of a compacted batch must change nothing")
    // and the next real batch still pairs against the compacted index
    CorpusStream.processBatch(spark,
      Seq(9L -> a).toDF("doc_id", "text"), idx, pairs, 3L)
    assert(pairSet() === pairsBefore ++ Set((0L, 9L), (1L, 9L), (3L, 9L)),
      "the post-compaction probe must still see the whole index")
  }

  test("crash INSIDE compaction's swap window self-heals: state strands at __old " +
    "and the next batch recovers it instead of restarting from empty") {
    val sess = spark
    import sess.implicits._
    val base = Files.createTempDirectory("corpus_swapcrash").toString
    val (idx, pairs) = (s"$base/index", s"$base/pairs")
    val a = "the quick brown fox jumps over the lazy dog again"
    CorpusStream.processBatch(spark, Seq(1L -> a).toDF("doc_id", "text"),
      idx, pairs, 0L)
    // simulate atomicSwap dying between its two renames: the committed
    // store exists ONLY at <path>__old (Sinks.scala's one non-atomic window)
    java.nio.file.Files.move(java.nio.file.Paths.get(idx),
      java.nio.file.Paths.get(idx + "__old"))
    // the next batch must HEAL first — with the pre-r17 readers this
    // saw "no index", skipped first-write-wins, and the dir recreation
    // stranded the committed signatures at __old forever
    CorpusStream.processBatch(spark, Seq(2L -> a).toDF("doc_id", "text"),
      idx, pairs, 1L)
    assert(CorpusStream.readPairs(spark, pairs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)),
      "doc 2 must pair against the RECOVERED index, not an empty one")
    assert(spark.read.parquet(idx).count() === 2)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(idx + "__old")),
      "healing must consume the stranded __old copy")
  }

  test("fileless store states are survivable: an all-gated release batch and a " +
    "duplicate-free substring compaction leave readable state") {
    val sess = spark
    import sess.implicits._
    assume(new java.io.File(releaseSfDir).exists())
    // (a) ReleaseStream: batch 0's docs all fail the quality gate ->
    // ZERO survivors -> the frontier's dynamic-partition write creates
    // a dir with no data files; batch 1 must still fold correctly
    val relState = Files.createTempDirectory("release_fileless").toString + "/state"
    // the synthetic batch bypasses Tables.load, the usual choke point
    // that registers the native vector kernels the gate chain uses
    graft.functions.VectorExprs.register(spark)
    // ids 0/1 keep the crawl frontier monotone vs the follow-up slice
    val gated = Seq((0L, "tiny doc", Seq.fill(64)(0.5f)),
      (1L, "also tiny", Seq.fill(64)(0.25f)))
      .toDF("doc_id", "text", "embedding")
    ReleaseStream.processBatch(spark, gated, releaseSfDir, relState, 0L)
    val follow = releaseRows().filter(_._1 > 1L).take(200)
      .toIndexedSeq.toDF("doc_id", "text", "embedding")
    ReleaseStream.processBatch(spark, follow, releaseSfDir, relState, 1L)
    val rel = releaseSet(ReleaseStream.readRelease(spark, relState))
    val input = rel.find(_._1 == "input").get
    assert(input._2 === 202L, s"all four + 198 docs attributed, got $input")
    assert(rel.filter(r => r._1 != "input" && r._1 != "cut:substr")
        .toSeq.map(_._2).sum === input._2,
      "doc conservation must hold across the fileless-frontier boundary")
    // (b) SubstrStream: a corpus with NO duplicated windows compacts
    // dups/cuts to zero rows (fileless dirs); the stream must keep
    // folding and detect a duplicate arriving afterwards
    val subState = Files.createTempDirectory("substr_fileless").toString + "/state"
    val p = (1 to 60).map(i => f"p$i%02d").mkString(" ")
    SubstrStream.processBatch(spark,
      Seq(1L -> s"${(1 to 10).map(i => f"a$i%02d").mkString(" ")} $p").toDF("doc_id", "text"),
      subState, 0L)
    SubstrStream.compactState(spark, subState, targetFiles = 1)
    assert(cutSet(SubstrStream.readCuts(spark, subState)) === Set.empty,
      "a duplicate-free compacted store must read as empty, not throw")
    SubstrStream.processBatch(spark,
      Seq(6L -> s"$p ${(1 to 10).map(i => f"c$i%02d").mkString(" ")}").toDF("doc_id", "text"),
      subState, 1L)
    val cuts = cutSet(SubstrStream.readCuts(spark, subState))
    assert(cuts.exists(_._1 == 1L) && cuts.exists(_._1 == 6L),
      s"the post-compaction arrival must retro-cut both holders: $cuts")
  }

  test("streaming intake: quality gate feeds the dedup index, ledger records both sides") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("intake_stream").toString
    val (idx, pairs, ledger, ckpt) =
      (s"$base/index", s"$base/pairs", s"$base/ledger", s"$base/ckpt")
    val q = IntakeStream.start(input.toDF().toDF("doc_id", "text"),
      idx, pairs, ledger, ckpt)
    // 25 words, 6 en-stopword hits -> predicted en, verdict keep
    val keepA = "the quick brown fox jumps over the lazy dog again and then " +
      "the dog jumps over the fox once more until both of them rest"
    val flagB = "tiny doc" // 2 words -> flag; no stopwords -> unknown
    try {
      input.addData(1L -> keepA, 2L -> flagB)
      q.processAllAvailable()
      assert(CorpusStream.readPairs(spark, pairs).count() === 0)
      // flagged docs never reach the index
      assert(spark.read.parquet(idx).select("doc_id").collect()
        .map(_.getLong(0)).toSet === Set(1L))
      // batch 2: doc 3 duplicates doc 1 (kept, pairs via index);
      // doc 4 is flagged again — no index row, no pair
      input.addData(3L -> keepA, 4L -> flagB)
      q.processAllAvailable()
      val got = CorpusStream.readPairs(spark, pairs)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 3L)))
      // intake ledger: per batch, per (predicted, verdict)
      val led = IntakeStream.readLedger(spark, ledger)
        .select(col("batch_id").cast("long"), col("predicted"), col("verdict"), col("n_docs"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
      assert(led === Set(
        (0L, "en", "keep", 1L), (0L, "unknown", "flag", 1L),
        (1L, "en", "keep", 1L), (1L, "unknown", "flag", 1L)))
    } finally q.stop()
    // at-least-once replay of batch 1 must not duplicate any output
    IntakeStream.processBatch(spark,
      Seq(3L -> keepA, 4L -> flagB).toDF("doc_id", "text"), idx, pairs, ledger, 1L)
    assert(CorpusStream.readPairs(spark, pairs).count() === 1)
    assert(spark.read.parquet(idx).count() === 2)
    assert(IntakeStream.readLedger(spark, ledger).count() === 4)
  }

  test("merge rewrites only batch-touched buckets (partition-pruned IO)") {
    val sess = spark
    import sess.implicits._
    val dir = Files.createTempDirectory("merge_pruned").toString + "/t"
    val mk = (id: String, rcv: String, v: Double) =>
      (id, "u1", "a1", "purchase", t("2024-01-01 00:00:00"), t(rcv), v)
    // seed enough ids to populate many buckets
    val b1 = (1 to 200).map(i => mk(s"m$i", "2024-01-01 00:01:00", i.toDouble))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, b1)
    def bucketFiles: Map[String, Set[String]] =
      Files.list(java.nio.file.Paths.get(dir)).toArray.map(_.toString)
        .filter(_.contains("id_bucket=")).map { d =>
          d -> Files.list(java.nio.file.Paths.get(d)).toArray.map(_.toString)
            .filter(_.endsWith(".parquet")).toSet
        }.toMap
    val before = bucketFiles
    assert(before.size > 5, s"seed batch should span many buckets, got ${before.size}")
    // second batch touches exactly one id → exactly one bucket
    val b2 = Seq(mk("m1", "2024-01-01 00:02:00", 999.0))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, b2)
    val after = bucketFiles
    val changed = before.keySet.filter(k => before(k) != after.getOrElse(k, Set.empty))
    assert(changed.size === 1,
      s"a one-id batch must rewrite exactly one bucket dir, rewrote: $changed")
    // and the merge itself is correct: latest received_at won
    val m1 = spark.read.parquet(dir).filter(col("id") === "m1").collect()
    assert(m1.length === 1 && m1(0).getAs[Double]("value") === 999.0)
    assert(spark.read.parquet(dir).count() === 200)
  }

  test("merge is crash-atomic: a failure during the staged write leaves the table intact") {
    val sess = spark
    import sess.implicits._
    val dir = Files.createTempDirectory("merge_crash").toString + "/t"
    val mk = (id: String, rcv: String, v: Double) =>
      (id, "u1", "a1", "purchase", t("2024-01-01 00:00:00"), t(rcv), v)
    val b1 = Seq(mk("m1", "2024-01-01 00:01:00", 1.0), mk("m2", "2024-01-01 00:01:00", 2.0))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, b1)
    // batch whose evaluation detonates mid-write
    val bad = Seq(mk("m1", "2024-01-01 00:02:00", 50.0))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
      .withColumn("value", expr("CAST(raise_error('executor died mid-write') AS DOUBLE)"))
    intercept[Exception] { EventStream.mergeIntoTracks(spark, dir, bad) }
    val rows = spark.read.parquet(dir).select("id", "value").as[(String, Double)].collect().toMap
    assert(rows === Map("m1" -> 1.0, "m2" -> 2.0), "failed merge must not touch the live table")
    // replaying the batch (streaming retry) converges
    val good = Seq(mk("m1", "2024-01-01 00:02:00", 50.0))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, good)
    EventStream.mergeIntoTracks(spark, dir, good) // idempotent replay
    val rows2 = spark.read.parquet(dir).select("id", "value").as[(String, Double)].collect().toMap
    assert(rows2 === Map("m1" -> 50.0, "m2" -> 2.0))
  }

  test("merge self-heals a bucket stranded in the swap window (.old restore)") {
    val sess = spark
    import sess.implicits._
    val dir = Files.createTempDirectory("merge_heal").toString + "/t"
    val mk = (id: String, v: Double) =>
      (id, "u1", "a1", "purchase", t("2024-01-01 00:00:00"), t("2024-01-01 00:01:00"), v)
    val b1 = (1 to 200).map(i => mk(s"m$i", i.toDouble))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, b1)
    // simulate a crash between a bucket's stage-out and swap-in
    // renames: the committed bucket survives only at its .old path
    val bucketDir = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).filter(_.contains("id_bucket=")).head
    val name = java.nio.file.Paths.get(bucketDir).getFileName.toString
    Files.move(java.nio.file.Paths.get(bucketDir),
      java.nio.file.Paths.get(s"$dir/.$name.old"))
    // next merge must restore the stranded bucket before merging
    val b2 = Seq(mk("extra1", 999.0))
      .toDF("id", "user_id", "anonymous_id", "event", "timestamp", "received_at", "value")
    EventStream.mergeIntoTracks(spark, dir, b2)
    val rows = spark.read.parquet(dir)
    assert(rows.count() === 201, "no pre-crash row may be lost")
    assert(rows.filter(col("id") === "extra1").count() === 1)
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).exists(_.endsWith(".old")), "stranded .old cleaned up")
  }

  test("recovery: dedup state and sink survive a query restart from checkpoint") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val tableDir = Files.createTempDirectory("tracks_rec").toString + "/tracks"
    val ckpt = Files.createTempDirectory("ckpt_rec").toString
    val q1 = EventStream.startTracksPipeline(input.toDF(), tableDir, ckpt)
    try {
      input.addData(
        ev("m1", "2024-01-01 00:00:10", "u1", "purchase", 10.0),
        ev("m2", "2024-01-01 00:00:20", "u2", "click", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the same checkpoint (simulated driver crash)
    val q2 = EventStream.startTracksPipeline(input.toDF(), tableDir, ckpt)
    try {
      input.addData(
        ev("m2", "2024-01-01 00:00:20", "u2", "click", 1.0), // dup vs pre-restart state
        ev("m3", "2024-01-01 00:00:30", "u3", "view", 2.0))
      q2.processAllAvailable()
      val rows = spark.read.parquet(tableDir)
      assert(rows.count() === 3, "m2 deduped against state restored from checkpoint")
      assert(rows.select("id").as[String].collect().toSet === Set("m1", "m2", "m3"))
    } finally q2.stop()
  }

  test("bounded dedup state: post-watermark duplicate is caught by the MERGE sink") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val tableDir = Files.createTempDirectory("tracks_wm").toString + "/tracks"
    val ckpt = Files.createTempDirectory("ckpt_wm").toString
    val q = EventStream.startTracksPipeline(input.toDF(), tableDir, ckpt)
    try {
      input.addData(ev("m1", "2024-01-01 00:00:10", "u1", "purchase", 10.0))
      q.processAllAvailable()
      // push the watermark far past m1 (10-minute delay threshold)
      input.addData(ev("m2", "2024-01-01 03:00:00", "u2", "click", 1.0))
      q.processAllAvailable()
      // m1's dedup state is evictable now; the replayed duplicate may
      // pass dropDuplicatesWithinWatermark — the idempotent MERGE by id
      // is the second line of defense (the reference's dedup-at-ingest
      // PLUS idempotent-load contract, SURVEY §2.10)
      input.addData(ev("m1", "2024-01-01 00:00:10", "u1", "purchase", 10.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(tableDir)
      assert(rows.count() === 2, "one m1 row and one m2 row")
      assert(rows.filter(col("id") === "m1").count() === 1)
    } finally q.stop()
  }

  test("watermarked minute agg matches the batch plan") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val events = (0 until 120).map { i =>
      ev(s"m$i", f"2024-01-01 00:${i / 40}%02d:${i % 40}%02d", s"u${i % 7}",
        if (i % 3 == 0) "purchase" else "click", i * 0.5)
    }
    val input = MemoryStream[Ev]
    val q = EventStream.minuteAgg(input.toDF())
      .writeStream.format("memory").queryName("agg_out").outputMode("complete").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("agg_out")
        .select("minute", "event_type", "n", "sum_value").collect().toSet
      val batch = EventStream.minuteAgg(events.toDF())
      // batch minuteAgg on a static DF: same expression tree
      val expected = events.toDF()
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(col("window.start").as("minute"), col("event_type"), col("n"), col("sum_value"))
        .collect().toSet
      assert(streamed === expected)
    } finally q.stop()
  }

  test("streaming sessionization: watermark closes islands like the batch gaps-and-islands") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStream.sessionAgg(input.toDF())
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // u1: two events 10 min apart (one session), then a 40-min gap
      // opens a second session; u2: a lone event
      input.addData(
        ev("m1", "2024-01-01 00:00:00", "u1", "view", 1.0),
        ev("m2", "2024-01-01 00:10:00", "u1", "view", 2.0),
        ev("m3", "2024-01-01 00:50:00", "u1", "view", 4.0),
        ev("m4", "2024-01-01 00:05:00", "u2", "click", 8.0))
      q.processAllAvailable()
      // advance the watermark far enough to close every session above
      input.addData(ev("flush", "2024-01-01 09:00:00", "u9", "view", 0.0))
      q.processAllAvailable()
      val out = spark.table("sess_out")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4))).toSet
      // session_end = last event + 30-min gap
      assert(out === Set(
        ("u1", t("2024-01-01 00:00:00"), t("2024-01-01 00:40:00"), 2L, 3.0),
        ("u1", t("2024-01-01 00:50:00"), t("2024-01-01 01:20:00"), 1L, 4.0),
        ("u2", t("2024-01-01 00:05:00"), t("2024-01-01 00:35:00"), 1L, 8.0)))
      // the flush event's own session is still open, so it never emitted
      assert(!out.exists(_._1 == "u9"))
    } finally q.stop()
  }

  test("stream-stream interval join buffers across micro-batches and drops out-of-window pairs") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val evIn = MemoryStream[Ev]
    val cfIn = MemoryStream[(String, String, Timestamp)]
    val confirms = cfIn.toDF()
      .toDF("confirm_user_id", "confirm_id", "confirm_ts")
    val q = EventStream.confirmationJoin(evIn.toDF(), confirms)
      .writeStream.format("memory").queryName("join_out").outputMode("append").start()
    try {
      evIn.addData(
        ev("m1", "2024-01-01 00:00:00", "u1", "purchase", 10.0),
        ev("m2", "2024-01-01 00:00:00", "u2", "purchase", 20.0))
      q.processAllAvailable()
      // later micro-batch: c1 inside m1's hour (joins via buffered
      // state), c2 two hours after m2 (out of window), c3 before m1
      // (confirm precedes the event -> no match)
      cfIn.addData(
        ("u1", "c1", t("2024-01-01 00:30:00")),
        ("u2", "c2", t("2024-01-01 02:00:00")),
        ("u1", "c3", t("2023-12-31 23:59:00")))
      q.processAllAvailable()
      val out = spark.table("join_out")
        .select("message_id", "confirm_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(out === Set(("m1", "c1")))
    } finally q.stop()
  }

  test("D2 order barrier on transformWithState matches the fMGWS semantics") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    import EventStream.JobAttempt
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // transformWithState requires the RocksDB-backed state store
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[JobAttempt]
    val q = input.toDS()
      .groupByKey(a => (a.user_id, a.destination))
      .transformWithState(new EventStream.OrderBarrierProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "destination", "job_id", "status")
      .writeStream.format("memory").queryName("tws_out").outputMode("append").start()
    try {
      input.addData(
        JobAttempt("u1", "web", 1L, ok = true),
        JobAttempt("u1", "web", 2L, ok = false),
        JobAttempt("u1", "web", 3L, ok = true))
      q.processAllAvailable()
      input.addData(JobAttempt("u1", "web", 4L, ok = true)) // barrier persists in ValueState
      q.processAllAvailable()
      input.addData(JobAttempt("u1", "web", 2L, ok = true)) // retry lifts
      q.processAllAvailable()
      val rows = spark.table("tws_out")
        .collect().map(r => (r.getLong(2), r.getString(3))).toSet
      assert(rows === Set((1L, "delivered"), (2L, "retrying"), (3L, "blocked"),
        (4L, "blocked"), (2L, "delivered")))
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("D2 order barrier: failure blocks successors across batches until retried OK") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    import EventStream.JobAttempt
    val input = MemoryStream[JobAttempt]
    val q = EventStream.orderBarrier(input.toDS())
      .toDF("user_id", "destination", "job_id", "status")
      .writeStream.format("memory").queryName("barrier_out").outputMode("append").start()
    try {
      input.addData(
        JobAttempt("u1", "web", 1L, ok = true),
        JobAttempt("u1", "web", 2L, ok = false), // fails -> barrier
        JobAttempt("u1", "web", 3L, ok = true),  // blocked behind 2
        JobAttempt("u2", "web", 1L, ok = true))  // other key unaffected
      q.processAllAvailable()
      input.addData(
        JobAttempt("u1", "web", 4L, ok = true))  // still blocked: barrier state carries across batches
      q.processAllAvailable()
      input.addData(
        JobAttempt("u1", "web", 2L, ok = true),  // retry succeeds -> lifts (processed in job order)
        JobAttempt("u1", "web", 5L, ok = true))  // delivers after lift
      q.processAllAvailable()
      val rows = spark.table("barrier_out")
        .collect().map(r => (r.getString(0), r.getLong(2), r.getString(3))).toSet
      assert(rows.contains(("u1", 1L, "delivered")))
      assert(rows.contains(("u1", 2L, "retrying")))
      assert(rows.contains(("u1", 3L, "blocked")))
      assert(rows.contains(("u2", 1L, "delivered")))
      assert(rows.contains(("u1", 4L, "blocked"))) // batch 2, barrier still up
      assert(rows.contains(("u1", 2L, "delivered"))) // batch 3 retry
      assert(rows.contains(("u1", 5L, "delivered"))) // after lift
    } finally q.stop()
  }

  test("q11b streaming twin: per-batch users merge equals whole-input recompute") {
    val sess = spark
    import sess.implicits._
    // three arrival batches of identify-ish events, in time order (the
    // staged-load contract: each batch postdates the table)
    def mkEv(id: Long, tsS: String, uid: Long, typ: String, v: Double, k: String) =
      (id, t(tsS), uid, typ, v, if (k == null) null else s"""{"k":"$k"}""")
    val batches = Seq(
      Seq(mkEv(1, "2024-01-01 00:00:01", 1, "view", 1.0, null),
        mkEv(2, "2024-01-01 00:00:02", 1, "click", 0.0, "alpha"),
        mkEv(3, "2024-01-01 00:00:03", 2, "purchase", 9.0, null)),
      Seq(mkEv(4, "2024-01-02 00:00:01", 1, "view", 5.0, null), // newer view wins
        mkEv(5, "2024-01-02 00:00:02", 3, "click", 0.0, "beta")), // new user
      Seq(mkEv(6, "2024-01-03 00:00:01", 2, "view", 7.0, null), // 2 keeps purchase, gains view
        mkEv(7, "2024-01-03 00:00:02", 1, "error", 0.0, null))) // no trait: must not null out
    def toDF(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Files.createTempDirectory("graft_q11b_stream").toString + "/users"
    // foreachBatch shape: aggregate the batch, merge into the table
    batches.foreach { b =>
      val delta = graft.operators.Relational.usersOf(toDF(b))
      val existing =
        if (new java.io.File(dir).exists()) spark.read.parquet(dir)
        else delta.filter(lit(false))
      val merged = graft.operators.Relational.mergeUsers(existing, delta)
      val tmp = dir + "__next"
      merged.write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).write.mode("overwrite").parquet(dir)
    }
    val streamed = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3))).toSet
    val whole = graft.operators.Relational.usersOf(toDF(batches.flatten))
      .collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3))).toSet
    assert(streamed === whole)
    // the spot semantics: user 1's error event did not erase traits
    val u1 = streamed.find(_._1 == 1L).get
    assert(u1._2 === 5.0 && u1._3 === "alpha")
  }

  test("d3b streaming twin: adaptive limit trajectory continues exactly across micro-batches") {
    import graft.operators.Adaptive
    import graft.operators.Adaptive.WindowOutcome
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    // shrink, wait-window discard, recovery, and a clean destination —
    // split mid-trajectory so batch 2 resumes from stored state
    val outcomes = Seq(
      WindowOutcome("d1", 1, 100, 0), WindowOutcome("d1", 2, 100, 0),
      WindowOutcome("d1", 3, 100, 0), WindowOutcome("d1", 4, 100, 0),
      WindowOutcome("d2", 1, 100, 10), WindowOutcome("d2", 2, 100, 11),
      WindowOutcome("d2", 3, 100, 80), WindowOutcome("d2", 4, 100, 0),
      WindowOutcome("d2", 5, 50, 0), WindowOutcome("d2", 6, 50, 0))
    val (b1, b2) = outcomes.partition(_.widx <= 2)
    val input = MemoryStream[WindowOutcome]
    val q = Adaptive.adaptiveThrottleStream(input.toDS())
      .toDF("destination_id", "widx", "lf_pct", "effective_limit")
      .writeStream.outputMode("append")
      .format("memory").queryName("d3b_stream").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("d3b_stream")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = Adaptive.adaptiveThrottle(
          outcomes.toDF("destination_id", "widx", "n_total", "n_429"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed === batch,
        "stream fold with state-store carry must equal the batch fold")
      // the wait-window discard survived the batch boundary: w3's 80
      // 429s (batch 2) must NOT trigger a second cut after w2's cut
      val d2w3 = streamed.find(t => t._1 == "d2" && t._2 == 3L).get
      val d2w2 = streamed.find(t => t._1 == "d2" && t._2 == 2L).get
      assert(d2w3._3 === d2w2._3, "discarded window must hold the factor")
    } finally q.stop()
  }

  test("gw1 streaming twin: token-bucket quota keeps being enforced exactly across micro-batches") {
    import graft.operators.Adaptive
    import graft.operators.Adaptive.IngestBatch
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    // ws_a week 1: 500+250 accepted, then 200 must 429 — the third
    // batch arrives in MICRO-BATCH 2, so the rejection only happens if
    // the 750 accepted tokens survived in the state store; a fresh
    // week resets the bucket; ws_b stays under quota throughout
    val batches = Seq(
      IngestBatch("ws_a", 1L, 100L, 1L, 500L), IngestBatch("ws_a", 1L, 200L, 2L, 250L),
      IngestBatch("ws_a", 1L, 300L, 3L, 200L), IngestBatch("ws_a", 1L, 400L, 4L, 50L),
      IngestBatch("ws_a", 2L, 500L, 5L, 700L),
      IngestBatch("ws_b", 1L, 150L, 6L, 300L), IngestBatch("ws_b", 1L, 250L, 7L, 400L))
    val (b1, b2) = batches.partition(_.arrival_us <= 200L)
    val input = MemoryStream[IngestBatch]
    val q = Adaptive.ingestRateLimitStream(input.toDS())
      .toDF("workspace_id", "week", "batch_id", "n_events", "accepted")
      .writeStream.outputMode("append")
      .format("memory").queryName("gw1_stream").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("gw1_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      val batch = Adaptive.ingestRateLimit(
          batches.toDF("workspace_id", "week", "arrival_us", "batch_id", "n_events"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSet
      assert(streamed === batch,
        "stream fold with state-store carry must equal the batch fold")
      // the cross-micro-batch rejection actually happened: batch 3
      // (200 events, arriving after 750 consumed) is dropped while the
      // smaller batch 4 (50 events) still fits
      assert(streamed.contains(("ws_a", 1L, 3L, 200L, false)))
      assert(streamed.contains(("ws_a", 1L, 4L, 50L, true)))
      assert(streamed.contains(("ws_a", 2L, 5L, 700L, true)), "new week resets the bucket")
    } finally q.stop()
  }

  test("gw1 streaming twin: an out-of-fold-order batch is denied and commits no tokens") {
    import graft.operators.Adaptive
    import graft.operators.Adaptive.IngestBatch
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    // micro-batch 1 folds arrival 300 (600 tokens committed);
    // micro-batch 2 delivers arrival 100 LATE — the fold-order
    // high-water mark must deny it outright (no retroactive accept,
    // no token commit), so the in-order arrival 400 still fits
    val input = MemoryStream[IngestBatch]
    val q = Adaptive.ingestRateLimitStream(input.toDS())
      .toDF("workspace_id", "week", "batch_id", "n_events", "accepted")
      .writeStream.outputMode("append")
      .format("memory").queryName("gw1_disorder").start()
    try {
      input.addData(IngestBatch("ws_a", 1L, 300L, 2L, 600L))
      q.processAllAvailable()
      input.addData(IngestBatch("ws_a", 1L, 100L, 1L, 100L), // late: denied
        IngestBatch("ws_a", 1L, 400L, 3L, 200L)) // in-order: 600+200 fits
      q.processAllAvailable()
      val got = spark.table("gw1_disorder").collect()
        .map(r => r.getLong(2) -> r.getBoolean(4)).toMap
      assert(got === Map(2L -> true, 1L -> false, 3L -> true))
    } finally q.stop()
  }

  test("dbg1 streaming twin: per-entity ring + seen-count carry across micro-batches, snapshot equals the batch cache") {
    import graft.operators.Relational
    import graft.operators.Relational.LiveEv
    import org.apache.spark.sql.types.{LongType, StringType, DoubleType, StructField, StructType}
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val us = 1000000L
    // (event_id, ts_us, user_id): u1 gets 5 events (ring trims to 3
    // across a batch boundary), u2 gets 2, u3's only event is stale
    // enough for the reader-side TTL to evict the whole entity
    val evs = Seq(
      (1L, 100L * us, 1L), (2L, 200L * us, 1L), (3L, 300L * us, 1L),
      (4L, 50L * us, 2L), (5L, 9500L * us, 3L),
      (6L, 400L * us, 1L), (7L, 500L * us, 1L), (8L, 60L * us, 2L))
    val cut = 5 // batch 1 = first five, batch 2 = rest
    // "now" = 9500 s (u3's event), ttl 7200 s → eviction cutoff 2300 s:
    // u1 (last 500 s) and u2 (last 60 s) evict whole, u3 survives
    // batch side: the REAL dbg1 query over synthetic events parquet
    // (nanos longs — the driver round-1..8 shape, loader-normalized)
    val dir = java.nio.file.Files.createTempDirectory("graft-dbg1").toString
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val rows = evs.map { case (eid, tsUs, uid) =>
      org.apache.spark.sql.Row(eid, tsUs * 1000L, uid, "click", 1.0, "{}")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.SparkEntry.queries("dbg1_live_event_cache")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // stream side: same rows through the stateful twin, then the SAME
    // reader-side TTL filter the batch query applies
    val input = MemoryStream[LiveEv]
    val q = Relational.liveEventCacheStream(input.toDS(), size = 3)
      .toDF("user_id", "rank", "event_id", "ts_us", "n_seen", "last_ts_us")
      .writeStream.outputMode("append")
      .format("memory").queryName("dbg1_stream").start()
    try {
      input.addData(evs.take(cut).map { case (e, ts, u) => LiveEv(u, e, ts) }: _*)
      q.processAllAvailable()
      input.addData(evs.drop(cut).map { case (e, ts, u) => LiveEv(u, e, ts) }: _*)
      q.processAllAvailable()
      val all = spark.table("dbg1_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(4), r.getLong(5)))
      // latest snapshot per entity = rows carrying its max n_seen
      val latest = all.groupBy(_._1).values.flatMap { rs =>
        val mx = rs.map(_._4).max; rs.filter(_._4 == mx)
      }.toSeq
      val nowSec = evs.map(_._2).max / us
      val streamed = latest
        .filter(_._5 >= (nowSec - 7200L) * us) // reader-side TTL, dbg1's filter
        .map(t => (t._1, t._2, t._3)).toSet
      assert(streamed === batch,
        "stream ring + reader-side TTL must equal the batch cache query")
      assert(batch.map(_._1) === Set(3L), "only u3 survives the TTL window")
    } finally q.stop()
  }

  test("er2 streaming twin: bounded canonical set carries across micro-batches") {
    import graft.operators.Errors
    import graft.operators.Errors.ErrEvent
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    def e(seq: Long, msg: String) = ErrEvent("s1", "d1", "router", "track", seq, msg, 1L)
    // three canonicals admitted in batch 1 (cap 3); batch 2 then
    // exercises cross-batch similarity absorption and RedactedError
    val b1 = Seq(
      e(1, "alpha beta gamma delta one"),
      e(2, "alpha beta gamma delta two"), // similar to canonical 1
      e(3, "foo bar baz qux one"),
      e(4, "hello world again test cluster"))
    val b2 = Seq(
      e(5, "alpha beta gamma delta three"), // must land on batch 1's canonical
      e(6, "completely novel failure group four"), // set full -> RedactedError
      e(7, "foo bar baz qux two")) // similar to canonical 2
    val input = MemoryStream[ErrEvent]
    val q = Errors.normalizeStream(input.toDS(), maxPerGroup = 3)
      .toDF("source_id", "destination_id", "pu", "event_type", "raw_message", "normalized", "n")
      .writeStream.outputMode("append")
      .format("memory").queryName("er2_stream").start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val streamed = spark.table("er2_stream")
        .collect().map(r => r.getString(4) -> r.getString(5)).toMap
      val batch = Errors.normalize(
          (b1 ++ b2).toDF("source_id", "destination_id", "pu", "event_type", "seq", "error_message", "n"),
          maxPerGroup = 3)
        .collect().map(r => r.getString(4) -> r.getString(5)).toMap
      assert(streamed === batch,
        "stream fold with state-store carry must equal the batch fold")
      assert(streamed("alpha beta gamma delta three") === "alpha beta gamma delta one",
        "batch-1 canonical must absorb batch-2 similar message")
      assert(streamed("completely novel failure group four") === "RedactedError",
        "full canonical set must redact a new cluster")
    } finally q.stop()
  }

  test("q23 streaming twin: last-touch state across micro-batches equals the batch attribution") {
    import graft.operators.Sessions
    import graft.operators.Sessions.AttrEv
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).exists())
    // the real event table, time-ordered and split into two
    // micro-batches mid-stream: attributions that straddle the cut
    // must come out of the state store, not the batch window
    val evs = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), col("value"))
      .as[AttrEv].collect().sortBy(e => (e.ts_us, e.event_id))
    val cut = evs.length / 2
    val input = MemoryStream[AttrEv]
    val q = Sessions.attributionStream(input.toDS())
      .toDF("event_id", "user_id", "channel_attr", "value")
      .writeStream.outputMode("append")
      .format("memory").queryName("q23_stream").start()
    try {
      input.addData(evs.take(cut): _*)
      q.processAllAvailable()
      input.addData(evs.drop(cut): _*)
      q.processAllAvailable()
      val streamed = spark.table("q23_stream").collect()
        .map(r => (r.getString(2), r.getDouble(3)))
        .groupBy(_._1)
        .map { case (ch, rs) =>
          ch -> ((rs.length.toLong,
            rs.map(r => BigDecimal(r._2).setScale(6)).sum.toDouble))
        }
      val batch = graft.SparkEntry.queries("q23_attribution")(spark, sfDir)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(streamed === batch,
        "per-purchase stream emissions must aggregate to the batch attribution")
      // purchases attribute exactly once: one emission per purchase event
      val nPurch = evs.count(_.event_type == "purchase").toLong
      assert(streamed.values.map(_._1).sum === nPurch)
    } finally q.stop()
  }

  test("a9 streaming twin: EWMA state carries across micro-batches like the batch fold") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).exists())
    // the real per-type hour series, split across two micro-batches
    val series = graft.Tables.events(spark, sfDir)
      .selectExpr("event_type", "unix_micros(ts) DIV 3600000000 AS h")
      .groupBy("event_type", "h").count()
      .collect().map(r => graft.operators.Sessions.HourCount(
        r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r.event_type, r.h))
    val mid = series.map(_.h).sorted.apply(series.length / 2)
    val input = MemoryStream[graft.operators.Sessions.HourCount]
    val q = graft.operators.Sessions.ewmaSpikeStream(input.toDS())
      .toDF("event_type", "hour", "n_events", "fprev", "spike")
      .writeStream.format("memory").queryName("ewma").outputMode("append").start()
    try {
      input.addData(series.filter(_.h < mid).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(series.filter(_.h >= mid).toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("ewma")
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      val batch = graft.SparkEntry.queries("a9_ewma_spikes")(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))).toMap
      assert(streamed === batch,
        "per-hour stream emissions must equal the batch EWMA fold, incl. across the batch split")
    } finally q.stop()
  }

  test("a10 streaming twin: Holt level+trend state carries exactly across micro-batches") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).exists())
    val series = graft.Tables.events(spark, sfDir)
      .selectExpr("event_type", "unix_micros(ts) DIV 3600000000 AS h")
      .groupBy("event_type", "h").count()
      .collect().map(r => graft.operators.Sessions.HourCount(
        r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(r => (r.event_type, r.h))
    val mid = series.map(_.h).sorted.apply(series.length / 2)
    val input = MemoryStream[graft.operators.Sessions.HourCount]
    val q = graft.operators.Sessions.holtStream(input.toDS())
      .toDF("event_type", "hour", "n_events", "fprev", "spike")
      .writeStream.format("memory").queryName("holt").outputMode("append").start()
    try {
      input.addData(series.filter(_.h < mid).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(series.filter(_.h >= mid).toIndexedSeq: _*)
      q.processAllAvailable()
      // IDENTICAL null handling on both sides: the stream's None fprev
      // lands as SQL NULL, the batch head row is NULL — no sentinel
      // normalization anywhere (r12 advisor finding)
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2),
            if (r.isNullAt(3)) Option.empty[Long] else Some(r.getLong(3)),
            r.getBoolean(4)))).toMap
      val streamed = asMap(spark.table("holt"))
      val batch = asMap(graft.SparkEntry.queries("a10_holt_winters")(spark, sfDir))
      assert(streamed === batch,
        "per-hour stream emissions must equal the batch Holt fold, incl. across the batch split")
    } finally q.stop()
  }

  test("holtStream disorder guard: a late hour bucket is dropped, the trajectory unrewound") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val mk = (h: Long, c: Long) => graft.operators.Sessions.HourCount("view", h, c)
    val input = MemoryStream[graft.operators.Sessions.HourCount]
    val q = graft.operators.Sessions.holtStream(input.toDS())
      .toDF("event_type", "hour", "n_events", "fprev", "spike")
      .writeStream.format("memory").queryName("holtdis").outputMode("append").start()
    try {
      input.addData(mk(0L, 10L), mk(1L, 12L), mk(2L, 14L))
      q.processAllAvailable()
      input.addData(mk(1L, 999L), mk(3L, 16L)) // hour 1 is LATE: already folded
      q.processAllAvailable()
      val rows = spark.table("holtdis").orderBy("hour").collect()
        .map(r => (r.getLong(1), r.getLong(2)))
      assert(rows.toSeq == Seq((0L, 10L), (1L, 12L), (2L, 14L), (3L, 16L)),
        "the late hour-1 re-send must produce NO output row")
      // hour 3's forecast must come from the fold that never saw the
      // late row: replay the recurrence driver-side
      var (l, b) = (10000L, 0L)
      for (c <- Seq(12L, 14L)) {
        val lnew = (3000L * c + 7L * (l + b)) / 10L
        b = ((lnew - l) + 9L * b) / 10L; l = lnew
      }
      val f3 = spark.table("holtdis").filter(col("hour") === 3L).collect().head.getLong(3)
      assert(f3 == l + b, "hour-3 fprev must be the undisturbed trajectory")
    } finally q.stop()
  }

  test("cusumStream disorder guard: a late hour bucket is dropped, chart state unrewound") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val mk = (h: Long, c: Long) => graft.operators.Sessions.HourCount("view", h, c)
    val input = MemoryStream[graft.operators.Sessions.HourCount]
    val q = graft.operators.Sessions.cusumStream(input.toDS(), 10L, 2L, 20L)
      .toDF("event_type", "hour", "n", "s_pos", "s_neg", "alarm")
      .writeStream.format("memory").queryName("cusumdis").outputMode("append").start()
    try {
      input.addData(mk(0L, 15L), mk(1L, 15L))
      q.processAllAvailable()
      input.addData(mk(0L, 100L), mk(2L, 15L)) // hour 0 re-sent late: dropped
      q.processAllAvailable()
      val rows = spark.table("cusumdis").orderBy("hour").collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getBoolean(5)))
      // S+ advances 3 per bucket (15-10-2); the late 100-count bucket
      // would have alarmed instantly had it folded
      assert(rows.toSeq == Seq((0L, 3L, false), (1L, 6L, false), (2L, 9L, false)),
        "the late hour-0 re-send must neither emit nor corrupt the chart")
    } finally q.stop()
  }

  test("q45 streaming sibling: online CUSUM alarms on both drift directions and carries state across batches") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    // ref=10, slack=2, h=20: up-drift alarms at h=3 (S+ = 18+18 = 36),
    // down-drift alarms at h=7 (S- = 6+7+8 = 21); both reset after
    val counts = Seq(10L, 10L, 30L, 30L, 10L, 2L, 1L, 0L)
    val series = counts.zipWithIndex.map { case (c, i) =>
      graft.operators.Sessions.HourCount("view", i.toLong, c)
    }
    val input = MemoryStream[graft.operators.Sessions.HourCount]
    val q = graft.operators.Sessions.cusumStream(input.toDS(), 10L, 2L, 20L)
      .toDF("event_type", "hour", "n", "s_pos", "s_neg", "alarm")
      .writeStream.format("memory").queryName("cusum").outputMode("append").start()
    try {
      input.addData(series.take(4): _*) // split INSIDE the up-drift run
      q.processAllAvailable()
      input.addData(series.drop(4): _*)
      q.processAllAvailable()
      val streamed = spark.table("cusum").orderBy("hour")
        .collect().map(r => (r.getLong(1), r.getLong(3), r.getLong(4),
          r.getBoolean(5))).toSeq
      // driver-side reference fold of the same recurrence
      var (sp, sn) = (0L, 0L)
      val expect = series.map { r =>
        val p = math.max(0L, sp + (r.c - 10L - 2L))
        val n = math.max(0L, sn + (10L - r.c - 2L))
        val alarm = p > 20L || n > 20L
        if (alarm) { sp = 0L; sn = 0L } else { sp = p; sn = n }
        (r.h, p, n, alarm)
      }
      assert(streamed == expect)
      assert(streamed.count(_._4) == 2, "one alarm per drift direction")
    } finally q.stop()
  }

  test("prof7 streaming twin: CMS counters merged across micro-batches equal the batch build exactly") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).exists())
    // the prof7 hashing verbatim: d=4 md5-derived rows over w=1024
    def cellsOf(pred: String) = spark.sql(s"""
      SELECT j, cell, COUNT(*) AS c FROM (
        SELECT CAST(j AS INT) AS j,
               CAST(pmod(conv(substring(md5(CAST(j AS STRING) || ':' ||
                 CAST(user_id % 100 AS STRING)), 1, 8), 16, 10), 1024) AS INT) AS cell
        FROM parquet.`$sfDir/events.parquet`
        LATERAL VIEW explode(sequence(0, 3)) t AS j
        WHERE $pred) GROUP BY 1, 2""")
      .collect().map(r => graft.operators.Profile.CmsCell(
        r.getInt(0), r.getInt(1), r.getLong(2)))
    val input = MemoryStream[graft.operators.Profile.CmsCell]
    val q = graft.operators.Profile.cmsStream(input.toDS())
      .toDF("j", "ver", "cell", "value")
      .writeStream.format("memory").queryName("cms").outputMode("append").start()
    try {
      input.addData(cellsOf("user_id % 2 = 0").toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(cellsOf("user_id % 2 = 1").toIndexedSeq: _*)
      q.processAllAvailable()
      val snap = spark.table("cms").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      val latest = snap.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        val vmax = rows.map(_._2).max
        rows.filter(_._2 == vmax).toSeq
      }.map(r => (r._1, r._3) -> r._4).toMap
      val batch = cellsOf("TRUE").map(c => (c.j, c.cell) -> c.c).toMap
      assert(latest === batch,
        "state-store merge of the two half-corpus sketches must equal the whole-corpus build")
    } finally q.stop()
  }

  test("mini-batch k-means streaming: state trajectory equals a driver-side reference on a split feed") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(sfDir).exists())
    val (k, dim) = (4, 64)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .collect().map(r => graft.operators.Similarity.VecRow(
        r.getLong(0), r.getSeq[Long](1)))
      .sortBy(_.vec_id)
    val mid = vecs.length / 2
    val input = MemoryStream[graft.operators.Similarity.VecRow]
    val q = graft.operators.Similarity.miniBatchKmeansStream(input.toDS(), k, dim)
      .toDF("ver", "cell", "n", "checksum")
      .writeStream.format("memory").queryName("mbkm").outputMode("append").start()
    try {
      input.addData(vecs.take(mid).toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(vecs.drop(mid).toIndexedSeq: _*)
      q.processAllAvailable()
      val snap = spark.table("mbkm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val vmax = snap.map(_._1).max
      val latest = snap.filter(_._1 == vmax).map(r => r._2 -> ((r._3, r._4))).toMap
      // independent reference: the same fold in plain Scala over the
      // same two-batch order
      val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
      val cents = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
      vecs.foreach { p =>
        if (cents.length < k) { cents += p.q.toArray; counts += 1L }
        else {
          var best = 0; var bestD = Long.MaxValue
          var j = 0
          while (j < k) {
            var d = 0L; var i = 0
            while (i < dim) { val t = p.q(i) - cents(j)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          counts(best) += 1L
          val c = cents(best); val n = counts(best)
          var i = 0
          while (i < dim) { c(i) += (p.q(i) - c(i)) / n; i += 1 }
        }
      }
      val ref = cents.indices.map(j => j.toLong -> ((counts(j), cents(j).sum))).toMap
      assert(vmax === 2L, "two micro-batches, two state versions")
      assert(latest === ref,
        "the state-store trajectory must equal the sequential reference fold exactly")
    } finally q.stop()
  }

  test("SCD2 streaming sink: versions accrete across micro-batches; replay is a no-op") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val dir = Files.createTempDirectory("scd2").toString + "/dim"
    val ckpt = Files.createTempDirectory("scd2ck").toString
    val input = MemoryStream[(String, Double, Long)]
    val q = graft.streaming.Scd2Stream.startScd2Pipeline(
      input.toDF().toDF("id", "value", "ts"), dir, ckpt)
    try {
      input.addData(("u1", 1.0, 10L), ("u2", 2.0, 10L))
      q.processAllAvailable()
      input.addData(("u1", 3.0, 20L), ("u2", 2.0, 20L), ("u3", 5.0, 20L))
      q.processAllAvailable()
      def snapshot() = spark.read.parquet(dir)
        .select("id", "value", "valid_from", "valid_to", "is_current")
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4))).toSet
      val expected = Set(
        ("u1", 1.0, 10L, 20L, false), ("u1", 3.0, 20L, -1L, true),
        ("u2", 2.0, 10L, -1L, true),
        ("u3", 5.0, 20L, -1L, true))
      assert(snapshot() === expected)
      // at-least-once replay of the last batch: value == current -> no-op
      val replay = Seq(("u1", 3.0, 20L), ("u2", 2.0, 20L), ("u3", 5.0, 20L))
        .toDF("id", "value", "ts")
      graft.streaming.Scd2Stream.scd2Merge(spark, dir, replay)
      assert(snapshot() === expected, "replayed batch must not grow versions")
    } finally q.stop()
  }

  test("q25 streaming twin: stream-static interval join matches the batch match set") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val dayUs = 86400000000L
    val base = 1700000000000000L
    // windows: u1 has two overlapping 7-day windows, u2 one, u9 none matching
    val windows = Seq(
      (1L, 101L, base, base + 7L * dayUs),
      (1L, 102L, base + 3L * dayUs, base + 10L * dayUs),
      (2L, 201L, base, base + 7L * dayUs))
      .toDF("user_id", "o_orderkey", "start_us", "end_us")
    val evs = Seq(
      (10L, 1L, base + 1L),              // inside 101 only
      (11L, 1L, base + 4L * dayUs),      // inside 101 and 102
      (12L, 1L, base + 8L * dayUs),      // inside 102 only
      (13L, 2L, base + 7L * dayUs),      // exactly at end: exclusive -> no match
      (14L, 2L, base + 7L * dayUs - 1L), // last µs inside
      (15L, 9L, base + 1L))              // user without windows
    val input = MemoryStream[(Long, Long, Long)]
    val out = EventStream.intervalJoinStream(
      input.toDF().toDF("event_id", "user_id", "ts_us"), windows)
    val q = out.writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      input.addData(evs.take(3): _*)
      q.processAllAvailable()
      input.addData(evs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("ivj").select("event_id", "o_orderkey")
        .as[(Long, Long)].collect().toSet
      assert(got === Set((10L, 101L), (11L, 101L), (11L, 102L), (12L, 102L), (14L, 201L)),
        "stream-static bucketized join must reproduce the exact interval-match set")
    } finally q.stop()
  }

  test("flusher stream: windows close on the watermark, merged sketches equal the stored-bytes fold, late rows drop") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val agg = new graft.functions.HllAggregator(12)
    // STORED sketches are the plain register array (what the sketch
    // writer's finish emits), not the tagged aggregation buffer
    def sketch(ids: Seq[String]): Array[Byte] =
      agg.registersOf(ids.foldLeft(agg.zero)(agg.reduce))
    def row(min: Int, key: String, ids: Seq[String]) =
      (java.sql.Timestamp.valueOf(f"2024-01-01 00:$min%02d:00"), key, sketch(ids))
    val input = MemoryStream[(java.sql.Timestamp, String, Array[Byte])]
    val reports = input.toDF().toDF("rts", "workspace_id", "registers")
      .withColumn("source_id", lit("src_0")).withColumn("instance_id", lit("inst_0"))
    val q = graft.operators.Transforms.flusherStream(reports)
      .writeStream.format("memory").queryName("flush_out").outputMode("append").start()
    try {
      // window [00:00, 00:30): two keys, overlapping id sets per minute
      input.addData(
        row(1, "ws_a", Seq("u1", "u2")), row(7, "ws_a", Seq("u2", "u3")),
        row(3, "ws_b", Seq("u9")))
      q.processAllAvailable()
      assert(spark.table("flush_out").count() === 0,
        "no window may flush before the watermark passes its end")
      // event time 00:41 -> watermark 00:31 closes [00:00, 00:30) only
      input.addData(row(41, "ws_a", Seq("u4")))
      q.processAllAvailable()
      val closed = spark.table("flush_out")
        .select("workspace_id", "n_reports", "tracked_users")
        .as[(String, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap
      // merged estimate == the register-wise fold of the STORED bytes
      // (HllMergeAggregator is the stored-register merger; agg.merge
      // operates on tagged aggregation buffers, not stored arrays)
      val mg = new graft.functions.HllMergeAggregator(12)
      val estA = graft.functions.HllAggregator.estimate(
        mg.merge(sketch(Seq("u1", "u2")), sketch(Seq("u2", "u3"))))
      val estB = graft.functions.HllAggregator.estimate(sketch(Seq("u9")))
      assert(closed === Map("ws_a" -> ((2L, estA)), "ws_b" -> ((1L, estB))),
        "exactly the watermark-closed window may flush, with the merged-sketch estimate")
      // a LATE row for the flushed window must be dropped, not revised
      input.addData(row(5, "ws_a", Seq("u7", "u8")))
      input.addData(row(55, "ws_a", Seq("u5"))) // advance watermark to 00:45
      q.processAllAvailable()
      val after = spark.table("flush_out")
        .filter(col("workspace_id") === "ws_a" &&
          col("window_start") === java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
        .select("n_reports", "tracked_users").as[(Long, Long)].collect().toSeq
      assert(after === Seq((2L, estA)),
        "a flushed window is never revised by a late sketch row")
      // the watermark at 00:45 also closes [00:30, 01:00)'s first half:
      // window [00:30,01:00) end 01:00 > 00:45 -> still open, not emitted
      assert(spark.table("flush_out").count() === 2,
        "windows whose end is past the watermark stay pending")
    } finally q.stop()
  }

  test("sync-stuck stream: missing flag raises once the probe ages without a " +
    "qualifying upload, clears on one, and re-arms on a new staging file") {
    import graft.operators.Scheduling.SyncEvent
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SyncEvent]
    val q = graft.operators.Scheduling.syncStuckStream(input.toDS(), twMin = 60L)
      .toDF("wh", "probe_created_min", "last_upload_min", "missing")
      .writeStream.format("memory").queryName("sync_out")
      .outputMode("append").start()
    def latest(): Map[Long, (Long, Long)] = {
      q.processAllAvailable()
      spark.table("sync_out").as[(Long, Long, Long, Long)].collect()
        .zipWithIndex.groupBy(_._1._1)
        .map { case (wh, rows) => wh -> {
          val r = rows.maxBy(_._2)._1; (r._2, r._4)
        } }
    }
    try {
      // both warehouses land a staging file at t=100: too FRESH to
      // probe at tw=60, neither is missing
      input.addData(SyncEvent(0L, "s", 1L, 100L, ""),
        SyncEvent(1L, "s", 1L, 100L, ""))
      assert(latest() === Map(0L -> ((100L, 0L)), 1L -> ((100L, 0L))))
      // t=180: wh0 completes an upload (exported_data) — healthy; wh1
      // only sees the clock (a non-qualifying transition) — its aged
      // file has no qualifying upload: STUCK
      input.addData(SyncEvent(0L, "u", 0L, 180L, "exported_data"),
        SyncEvent(1L, "u", 0L, 180L, "exporting_data"))
      assert(latest() === Map(0L -> ((100L, 0L)), 1L -> ((100L, 1L))))
      // wh1's sync lands at t=190: clears; wh0 gets a NEW staging
      // file (id 2, t=190) that ages past tw by t=260 with only the
      // OLD upload behind it: stuck again (re-armed)
      input.addData(SyncEvent(1L, "u", 0L, 190L, "exporting_data_failed"),
        SyncEvent(0L, "s", 2L, 190L, ""))
      assert(latest() === Map(0L -> ((190L, 0L)), 1L -> ((100L, 0L))))
      input.addData(SyncEvent(0L, "u", 0L, 260L, "waiting"))
      assert(latest()(0L) === ((190L, 1L)),
        "a new staging file past tw with no newer qualifying upload re-arms")
      // state stays O(1): the same SyncState fields drive every verdict
      assert(latest()(1L)._2 === 0L)
    } finally q.stop()
  }
  test("jd2 streaming: exclusions added mid-stream gate the next micro-batch, removals re-open") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val base = Files.createTempDirectory("jd2s").toString
    val (ledger, out) = (s"$base/ledger", s"$base/out")
    val q = graft.streaming.EventStream.readExcludedStream(
      input.toDF().toDF("partition_id", "event_id"), ledger, out)
    def landed() = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    try {
      // batch 1: empty ledger, everything lands
      input.addData("ws0-1" -> 1L, "ws0-2" -> 2L)
      q.processAllAvailable()
      assert(landed() === Set("ws0-1" -> 1L, "ws0-2" -> 2L))
      // exclusion added BETWEEN batches gates the next one
      graft.sinks.Sinks.addReadExcludedPartitionIDs(spark, ledger, Seq("ws0-1"))
      input.addData("ws0-1" -> 3L, "ws0-2" -> 4L)
      q.processAllAvailable()
      assert(landed() === Set("ws0-1" -> 1L, "ws0-2" -> 2L, "ws0-2" -> 4L),
        "the excluded partition's mid-stream rows must be skipped")
      // removal re-opens the partition without a restart
      graft.sinks.Sinks.removeReadExcludedPartitionIDs(spark, ledger, Seq("ws0-1"))
      input.addData("ws0-1" -> 5L)
      q.processAllAvailable()
      assert(landed().contains("ws0-1" -> 5L))
    } finally q.stop()
  }

  // ---- SubstrStream: ll33's incremental sibling ----

  private def substrDocs: Map[String, (Long, String)] = {
    val p = (1 to 60).map(i => f"p$i%02d").mkString(" ") // the shared passage
    val p2 = (1 to 50).map(i => f"q$i%02d").mkString(" ") // the within-doc repeat
    Map(
      "a" -> (1L, s"${(1 to 10).map(i => f"a$i%02d").mkString(" ")} $p"),
      "b" -> (2L, (1 to 60).map(i => f"b$i%02d").mkString(" ")),
      "d" -> (4L, s"$p2 ${(1 to 5).map(i => f"d$i%02d").mkString(" ")} $p2"),
      "e" -> (5L, (1 to 60).map(i => f"e$i%02d").mkString(" ")),
      "c" -> (6L, s"$p ${(1 to 10).map(i => f"c$i%02d").mkString(" ")}"))
  }

  private def cutSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def batchCuts(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] = {
    val sess = spark
    import sess.implicits._
    cutSet(graft.operators.Dedup.duplicatedSpans(
      docs.toDF("doc_id", "text"), w = SubstrStream.W))
  }

  test("streaming substring dedup: the fold equals batch ll33 spans at every " +
    "boundary, INCLUDING the retroactive re-cut of an earlier document") {
    val d = substrDocs
    // batch 1: a + b (no dups yet); batch 2: d (within-doc repeat) + e;
    // batch 3: c repeats a's passage -> BOTH a and c must carry cuts
    val slices = Seq(Seq(d("a"), d("b")), Seq(d("d"), d("e")), Seq(d("c")))
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val base = Files.createTempDirectory("substr_stream").toString
    val state = s"$base/state"
    val q = SubstrStream.start(input.toDF().toDF("doc_id", "text"),
      state, s"$base/ckpt")
    try {
      var arrived = Seq.empty[(Long, String)]
      slices.foreach { slice =>
        input.addData(slice.toIndexedSeq)
        q.processAllAvailable()
        arrived ++= slice
        assert(cutSet(SubstrStream.readCuts(spark, state)) === batchCuts(arrived),
          s"fold diverged from batch-on-union after ${arrived.map(_._1)}")
      }
      // the retro case actually fired: doc 1 (batch 1) carries a cut
      // that only exists because doc 6 (batch 3) repeated its passage
      val finalCuts = cutSet(SubstrStream.readCuts(spark, state))
      assert(finalCuts.exists(_._1 == 1L) && finalCuts.exists(_._1 == 6L),
        s"both passage holders must be cut: $finalCuts")
      assert(finalCuts.exists(_._1 == 4L), "the within-doc repeat must be cut")
      assert(!finalCuts.exists(c => c._1 == 2L || c._1 == 5L),
        "unique docs must carry no cuts")
    } finally q.stop()
  }

  test("substring-dedup stream replay is idempotent and compaction preserves " +
    "the versioned cut store") {
    val d = substrDocs
    val sess = spark
    import sess.implicits._
    val b1 = Seq(d("a"), d("b")).toDF("doc_id", "text")
    val b2 = Seq(d("d"), d("e")).toDF("doc_id", "text")
    val b3 = Seq(d("c")).toDF("doc_id", "text")
    val state = Files.createTempDirectory("substr_replay").toString + "/state"
    SubstrStream.processBatch(spark, b1, state, 0L)
    SubstrStream.processBatch(spark, b2, state, 1L)
    val cuts2 = cutSet(SubstrStream.readCuts(spark, state))
    // crash re-delivery under the SAME id: overwrite-idempotent
    SubstrStream.processBatch(spark, b2, state, 1L)
    assert(cutSet(SubstrStream.readCuts(spark, state)) === cuts2)
    // late re-delivery in a NEW batch: first-write-wins no-op
    SubstrStream.processBatch(spark, b1, state, 2L)
    assert(cutSet(SubstrStream.readCuts(spark, state)) === cuts2,
      "re-delivered docs must not re-cut or double-count window hashes")
    // compaction folds the stores; the fold then continues correctly
    // through the RETRO case (doc a's re-cut reads the compacted index)
    SubstrStream.compactState(spark, state, targetFiles = 1)
    assert(cutSet(SubstrStream.readCuts(spark, state)) === cuts2,
      "compaction must not change the visible cut state")
    SubstrStream.processBatch(spark, b3, state, 3L)
    assert(cutSet(SubstrStream.readCuts(spark, state)) ===
      batchCuts(Seq(d("a"), d("b"), d("d"), d("e"), d("c"))),
      "the post-compaction fold must still retro-cut the earlier holder")
  }

  test("LSM state compaction: folds rewrite ~1x the corpus over 16 batches at " +
    "compactEvery=4 (o(B^2)), sentinels merge geometrically, reads stay equivalent") {
    val sess = spark
    import sess.implicits._
    val state = Files.createTempDirectory("lsm_bound").toString + "/state"
    def sentinelSizes(): Map[String, Long] = {
      val d = new java.io.File(s"$state/postings")
      if (!d.exists()) Map.empty
      else d.listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id=-"))
        .map { dir =>
          def walk(f: java.io.File): Long =
            if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
          dir.getName -> walk(dir)
        }.toMap
    }
    var rewritten = 0L
    var seen = Set.empty[String]
    var arrived = Seq.empty[(Long, String)]
    def batchDocs(b: Int): Seq[(Long, String)] = (0 until 25).map(i =>
      ((b * 25 + i).toLong, s"w${b}_$i token alpha beta gamma delta"))
    for (b <- 0 until 16) {
      val docs = batchDocs(b)
      arrived ++= docs
      SearchStream.processBatch(spark, docs.toDF("doc_id", "text"), state, b.toLong)
      if (b % 4 == 3) {
        SearchStream.compactState(spark, state, targetFiles = 1,
          excludeBatchId = b.toLong)
        val now = sentinelSizes()
        rewritten += now.collect { case (k, v) if !seen(k) => v }.sum
        seen ++= now.keySet
      }
    }
    // read equivalence through every fold
    val wantP = graft.operators.Search.postingsOf(arrived.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(SearchStream.readPostings(spark, state).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === wantP)
    // the o(B^2) bound: every row landed in a sentinel ~once — the old
    // whole-store refold paid 3+7+11+15 = 36 batch-units of rewrite
    // over these 16 batches (~2.4x the corpus); the LSM fold pays ≤ 16
    // units (nothing has merged yet at this horizon)
    val storeBytes = sentinelSizes().values.sum
    assert(rewritten <= (storeBytes * 3) / 2,
      s"compaction rewrote $rewritten B for a ${storeBytes}B store — " +
        "sentinels are being refolded")
    // geometric merging: per-batch compaction accumulates tier-0
    // singles that must cascade into higher tiers, bounding the
    // partition count logarithmically
    var arrived2 = arrived
    for (b <- 16 until 28) {
      val docs = batchDocs(b)
      arrived2 ++= docs
      SearchStream.processBatch(spark, docs.toDF("doc_id", "text"), state, b.toLong)
      SearchStream.compactState(spark, state, targetFiles = 1,
        excludeBatchId = b.toLong)
    }
    val sentinels = sentinelSizes().keySet
    assert(sentinels.size <= 6,
      s"28 batches must collapse to O(log B) sentinels, got $sentinels")
    val wantP2 = graft.operators.Search.postingsOf(arrived2.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(SearchStream.readPostings(spark, state).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === wantP2,
      "reads must stay equivalent through tier merges")
    assert(SearchStream.readDocCount(spark, state) === arrived2.length.toLong)
  }

  // ---- VectorStream: the coded ANN index's incremental fold ----

  test("streaming ANN-index maintenance: the coded store equals a batch encode " +
    "of the union at every boundary, and pruned searches match the batch plan") {
    assume(new java.io.File(releaseSfDir).exists())
    val sess = spark
    import sess.implicits._
    graft.functions.VectorExprs.register(spark)
    val base = graft.Tables.embeddings(spark, releaseSfDir)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val model = graft.operators.Similarity.trainIvfPq(
      base.toSeq.toDF("vec_id", "embedding").withColumn("q",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .select(col("vec_id"), col("q")),
      base.length.toLong)
    val slices = Seq(base.slice(0, 40), base.slice(40, 75), base.drop(75))
    val state = Files.createTempDirectory("vec_stream").toString + "/state"
    val queries = base.take(5).toSeq.toDF("query_id", "embedding")
    def codedSet() = VectorStream.readCoded(spark, state).get.collect()
      .map(r => (r.getLong(0), r.getLong(r.fieldIndex("cell")))).toSet
    def encodeUnion(arrived: Seq[(Long, Seq[Float])]) =
      graft.operators.Similarity.ivfPqEncode(
          arrived.toDF("vec_id", "embedding").withColumn("q",
              expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
            .select(col("vec_id"), col("q")), model)
        .drop("q")
    def searchSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    var arrived = Seq.empty[(Long, Seq[Float])]
    slices.zipWithIndex.foreach { case (s, i) =>
      VectorStream.processBatch(spark, s.toSeq.toDF("vec_id", "embedding"),
        state, model, i.toLong)
      arrived ++= s
      // the maintained coded index IS the batch encode of the union
      assert(codedSet() === encodeUnion(arrived).collect()
        .map(r => (r.getLong(0), r.getLong(r.fieldIndex("cell")))).toSet,
        s"coded fold != batch encode at boundary $i")
      // a pruned search over the stores equals the batch search plan
      // run over union-derived frames (the shared searchFrames core)
      val got = searchSet(VectorStream.search(spark, state, model, queries))
      val want = searchSet(VectorStream.searchFrames(
        encodeUnion(arrived), arrived.toSeq.toDF("vec_id", "embedding"),
        model, queries, 5))
      assert(got === want, s"pruned search != batch search at boundary $i")
    }
    assert(VectorStream.readCount(spark, state) === arrived.length.toLong)
    // replay + late re-delivery are no-ops
    val before = codedSet()
    VectorStream.processBatch(spark, slices.last.toSeq.toDF("vec_id", "embedding"),
      state, model, 2L)
    assert(codedSet() === before, "same-batch replay must not change the index")
    VectorStream.processBatch(spark, slices.head.toSeq.toDF("vec_id", "embedding"),
      state, model, 3L)
    assert(codedSet() === before, "late re-delivery must not re-index")
    // compaction: identical reads through the cell-partitioned fold
    val searchBefore = searchSet(VectorStream.search(spark, state, model, queries))
    VectorStream.compactState(spark, state, targetFiles = 1)
    assert(codedSet() === before && VectorStream.readCount(spark, state) === arrived.length.toLong,
      "compaction must preserve the coded index and the ledger")
    assert(searchSet(VectorStream.search(spark, state, model, queries)) === searchBefore,
      "compaction must not change search results")
  }

  // ---- CdcStream: the chunk-occurrence index's incremental fold ----

  test("streaming CDC-chunk maintenance: occurrences equal a batch chunk pass " +
    "over the union at every boundary, additive counts survive compaction's " +
    "re-sum, and replay is a no-op") {
    assume(new java.io.File(releaseSfDir).exists())
    val sess = spark
    import sess.implicits._
    val base = graft.Tables.documents(spark, releaseSfDir)
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val slices = Seq(0, 1, 2).map(m =>
      base.zipWithIndex.filter(_._2 % 3 == m).map(_._1).toSeq)
    val state = Files.createTempDirectory("cdc_stream").toString + "/state"
    def occSet() = CdcStream.readChunks(spark, state).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(identity).view.mapValues(_.length).toMap
    def cntMap() = CdcStream.readCounts(spark, state).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def rebuild(arrived: Seq[(Long, String)]) =
      graft.operators.Dedup.cdcChunks(arrived.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    var arrived = Seq.empty[(Long, String)]
    slices.zipWithIndex.foreach { case (s, i) =>
      CdcStream.processBatch(spark, s.toDF("doc_id", "text"), state, i.toLong)
      arrived ++= s
      val want = rebuild(arrived)
      assert(occSet() === want.groupBy(identity).view.mapValues(_.length).toMap,
        s"chunk fold != batch pass at boundary $i (multiset)")
      // the additive count store sums to the occurrence counts
      assert(cntMap() === want.groupBy(_._2).view.mapValues(_.length.toLong).toMap,
        s"summed count deltas != occurrence counts at boundary $i")
    }
    // the report off the stores equals ll18's aggregation over a batch pass
    val report = CdcStream.dedupReport(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val occ = rebuild(arrived)
    val cnt = occ.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val wantReport = occ.groupBy(_._1).map { case (d, rows) =>
      (d, rows.length.toLong,
        rows.count(r => cnt(r._2) >= 2).toLong,
        rows.filter(r => cnt(r._2) >= 2).map(_._3).sum)
    }.toSet
    assert(report === wantReport, "dedupReport != ll18's batch aggregation")
    // replay + late re-delivery are no-ops
    val (o0, c0) = (occSet(), cntMap())
    CdcStream.processBatch(spark, slices.last.toDF("doc_id", "text"), state, 2L)
    assert(occSet() === o0 && cntMap() === c0,
      "same-batch replay must not change the index")
    CdcStream.processBatch(spark, slices.head.toDF("doc_id", "text"), state, 3L)
    assert(occSet() === o0 && cntMap() === c0,
      "late re-delivery must not re-chunk")
    // compaction: the count deltas RE-SUM — reads identical after
    CdcStream.compactState(spark, state, targetFiles = 1)
    assert(occSet() === o0 && cntMap() === c0,
      "compaction must preserve occurrences and summed counts")
    assert(CdcStream.dedupReport(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet === report,
      "compaction must not change the report")
  }

  // ---- GraphStream: the kNN graph's incremental fold ----

  test("streaming kNN-graph maintenance: the graph equals a batch build over " +
    "the union at every boundary, a later twin RE-EDGES an earlier node, and " +
    "replay/compaction are no-ops") {
    assume(new java.io.File(releaseSfDir).exists())
    val sess = spark
    import sess.implicits._
    graft.functions.VectorExprs.register(spark)
    val base = graft.Tables.embeddings(spark, releaseSfDir)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    // interleave so buckets assemble ACROSS batches; the last batch
    // plants exact ×2-scaled twins of five batch-0 vectors — doubling
    // every float is exact, so every hyperplane dot doubles exactly
    // and the twin is GUARANTEED to land in its original's bucket
    // with cosine ~1: the retroactive re-edge case by construction
    val slices = Seq(0, 1, 2).map(m =>
      base.zipWithIndex.filter(_._2 % 3 == m).map(_._1).toSeq)
    val twins = base.take(5).map { case (id, e) =>
      (id + 100000L, e.map(x => x * 2)) }.toSeq
    val state = Files.createTempDirectory("graph_stream").toString + "/state"
    def graphSet() = GraphStream.readGraph(spark, state).get.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def rebuild(arrived: Seq[(Long, Seq[Float])]) =
      graft.operators.Similarity.bucketTop3(
          graft.operators.Similarity.lshBucketed(
            arrived.toDF("vec_id", "embedding")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    var arrived = Seq.empty[(Long, Seq[Float])]
    (slices :+ twins).zipWithIndex.foreach { case (s, i) =>
      GraphStream.processBatch(spark, s.toDF("vec_id", "embedding"),
        state, i.toLong)
      arrived ++= s
      assert(graphSet() === rebuild(arrived),
        s"graph fold != batch build at boundary $i")
    }
    // the planted twins displaced their originals' rank-1 edges —
    // proves the fold rewrote EXISTING nodes, not just the batch's
    val g = graphSet()
    twins.foreach { case (tid, _) =>
      assert(g.contains((tid - 100000L, 1L, tid)),
        s"node ${tid - 100000L} must re-edge to its twin $tid at rank 1")
    }
    // replay + late re-delivery are no-ops
    GraphStream.processBatch(spark, twins.toDF("vec_id", "embedding"), state, 3L)
    assert(graphSet() === g, "same-batch replay must not change the graph")
    GraphStream.processBatch(spark, slices.head.toDF("vec_id", "embedding"),
      state, 4L)
    assert(graphSet() === g, "late re-delivery must not re-edge")
    // the streamed-store search equals the shared walk over
    // rebuild-derived frames, before and after compaction
    val queries = base.take(5).toSeq.toDF("query_id", "embedding")
    def searchSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = searchSet(GraphStream.search(spark, state, queries))
    val eAll = graft.operators.Similarity.withNorm(
        arrived.toDF("vec_id", "embedding"))
      .select(col("vec_id").as("node"), col("embedding"), col("nrm"))
    val qAll = graft.operators.Similarity.withNorm(
        queries.select(col("query_id").as("vec_id"), col("embedding")))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val entriesAll = graft.operators.Similarity.lshBucketed(
        arrived.toDF("vec_id", "embedding"))
      .groupBy(col("bucket")).agg(min(col("vec_id")).as("entry"))
    val want = searchSet(graft.operators.Similarity.graphWalk(eAll,
      graft.operators.Similarity.bucketTop3(
        graft.operators.Similarity.lshBucketed(
          arrived.toDF("vec_id", "embedding"))), qAll,
      graft.operators.Similarity.routeOf(entriesAll, queries)))
    assert(got === want, "streamed-store walk != batch walk")
    GraphStream.compactState(spark, state, targetFiles = 1)
    assert(graphSet() === g, "compaction must preserve the graph")
    assert(searchSet(GraphStream.search(spark, state, queries)) === got,
      "compaction must not change search results")
  }

  // ---- SearchStream: the postings index's incremental fold ----

  test("streaming postings maintenance: fold equals full rebuild at every " +
    "boundary, through replay, re-delivery, compaction, and a half-compacted crash") {
    val sess = spark
    import sess.implicits._
    val docs = Seq(
      1L -> "spark merge vector spark",
      2L -> "the quick brown fox",
      3L -> "merge column join merge merge",
      4L -> "vector spark",
      5L -> "join column")
    val slices = Seq(docs.take(2), docs.slice(2, 4), docs.drop(4))
    val state = Files.createTempDirectory("search_stream").toString + "/state"
    def postingsSet() = SearchStream.readPostings(spark, state).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    def dfSet() = SearchStream.readDf(spark, state).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    def rebuild(arrived: Seq[(Long, String)]) = {
      val p = graft.operators.Search.postingsOf(arrived.toDF("doc_id", "text"))
      (p.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet,
        p.groupBy(col("w")).agg(count(lit(1)).as("df")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet)
    }
    def assertEqRebuild(arrived: Seq[(Long, String)], ctx: String): Unit = {
      val (wantP, wantDf) = rebuild(arrived)
      assert(postingsSet() === wantP, s"postings fold != rebuild $ctx")
      assert(dfSet() === wantDf, s"df fold != rebuild $ctx")
      assert(SearchStream.readDocCount(spark, state) === arrived.length.toLong,
        s"doc count != arrived $ctx")
    }
    var arrived = Seq.empty[(Long, String)]
    slices.zipWithIndex.foreach { case (s, i) =>
      SearchStream.processBatch(spark, s.toDF("doc_id", "text"), state, i.toLong)
      arrived ++= s
      assertEqRebuild(arrived, s"at boundary $i")
    }
    // at-least-once replay of the last batch: overwrite-idempotent
    SearchStream.processBatch(spark, docs.drop(4).toDF("doc_id", "text"), state, 2L)
    assertEqRebuild(arrived, "after same-batch replay")
    // source-level re-delivery in a NEW batch: first-write-wins no-op
    SearchStream.processBatch(spark, docs.take(2).toDF("doc_id", "text"), state, 3L)
    assertEqRebuild(arrived, "after late re-delivery")
    // compaction: identical reads, df deltas re-summed to term grain
    SearchStream.compactState(spark, state, targetFiles = 1)
    assertEqRebuild(arrived, "after compaction")
    assert(spark.read.parquet(s"$state/dfd").count() === dfSet().size.toLong,
      "compaction must re-sum df deltas to one row per term")
    // the fold continues over compacted state
    SearchStream.processBatch(spark,
      Seq(6L -> "spark spark").toDF("doc_id", "text"), state, 4L)
    arrived :+= (6L -> "spark spark")
    assertEqRebuild(arrived, "after post-compaction batch")
    // crash between stores at a boundary: postings+docs compacted with
    // the in-flight batch excluded, dfd not — the replayed batch must
    // converge, not double-count df or drop its postings
    Seq("postings", "docs").foreach { n =>
      StateCompaction.compactStore(spark, s"$state/$n", 1, excludeBatchId = 4L)
    }
    SearchStream.processBatch(spark,
      Seq(6L -> "spark spark").toDF("doc_id", "text"), state, 4L)
    assertEqRebuild(arrived, "after half-compacted crash replay")
    SearchStream.compactState(spark, state, targetFiles = 1, excludeBatchId = 4L)
    assertEqRebuild(arrived, "after the re-run compaction completes")
  }

  test("substring-stream RETRO-WORK scale probe: a batch's re-cut work scales " +
    "with its own hash set, not the accumulated corpus") {
    val sess = spark
    import sess.implicits._
    // prior corpus: n docs, each carrying a DISTINCT 50-token passage
    // (no duplicates anywhere -> batch 0 writes zero cuts); the probe
    // batch then repeats the passages of exactly K prior docs, so the
    // retro-affected set is K regardless of n. Re-cut work = the rows
    // the fold re-merges and re-versions — the cuts partition the
    // probe batch writes.
    val k = 4
    def passage(i: Long) = (1 to 50).map(t => f"x$i%05d_$t%02d").mkString(" ")
    def runProbe(n: Long): (Long, Long) = {
      val state = Files.createTempDirectory(s"substr_retro_$n").toString + "/state"
      val prior = (0L until n).map(i => (i, s"head$i ${passage(i)} tail$i"))
        .toDF("doc_id", "text")
      SubstrStream.processBatch(spark, prior, state, 0L)
      assert(cutSet(SubstrStream.readCuts(spark, state)).isEmpty,
        "the prior corpus must be duplicate-free")
      // the probe: one doc repeating the passages of prior docs 0..k-1
      val probe = Seq((n, (0L until k).map(passage).mkString(" ")))
        .toDF("doc_id", "text")
      SubstrStream.processBatch(spark, probe, state, 1L)
      val batch1Cuts = spark.read.parquet(s"$state/cuts")
        .filter(col("batch_id").cast("long") === 1L)
      (batch1Cuts.filter(col("doc_id") < n).select(col("doc_id")).distinct().count(),
        batch1Cuts.count())
    }
    val (retroA, rowsA) = runProbe(400L)
    val (retroB, rowsB) = runProbe(1600L) // 4x the accumulated corpus
    assert(retroA === k && retroB === k,
      s"exactly the K planted holders re-cut at both scales: $retroA / $retroB")
    assert(rowsA === rowsB,
      s"re-cut row count must be corpus-size-independent: $rowsA vs $rowsB")
    assert(rowsA <= (k + 1L) * 2L,
      s"re-cut rows must be ~K holder spans + the probe doc's own: $rowsA")
  }

  test("the maintained window index is token-scale: long-keyed wins rows " +
    "stay under a fixed byte budget per corpus token") {
    val sess = spark
    import sess.implicits._
    // enough rows to amortize parquet footers: 400 docs x 60 tokens
    // -> 11 windows each (W=50), all hashes distinct
    val docs = (0 until 400).map(i =>
      (i.toLong, (1 to 60).map(t => f"w$i%03d_$t%02d").mkString(" ")))
      .toDF("doc_id", "text")
    val state = Files.createTempDirectory("substr_bytes").toString + "/state"
    SubstrStream.processBatch(spark, docs, state, 0L)
    def bytes(p: String): Long = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(p)).filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum
    }
    val rows = spark.read.parquet(s"$state/wins").count()
    assert(rows === 400L * 11L)
    val perRow = bytes(s"$state/wins").toDouble / rows
    // 8B incompressible hash + delta-coded pos + RLE doc_id + format
    // overhead; the 32-char hex keys this store used to carry sat at
    // ~35-40 B/row — larger than the ~7 B/token of the indexed text
    assert(perRow <= 20.0,
      f"wins store must be token-scale (~8B key/row), got $perRow%.1f B/row")
  }

  test("compaction crash BETWEEN stores is replay-consistent: the in-flight " +
    "batch's partitions ride through every store's fold uncompacted") {
    val d = substrDocs
    val sess = spark
    import sess.implicits._
    val b1 = Seq(d("a"), d("b")).toDF("doc_id", "text")
    val b2 = Seq(d("c")).toDF("doc_id", "text") // repeats a's passage -> retro-cut
    // reference: the same feed with no compaction at all
    val ref = Files.createTempDirectory("substr_crashref").toString + "/state"
    SubstrStream.processBatch(spark, b1, ref, 0L)
    SubstrStream.processBatch(spark, b2, ref, 1L)
    val want = cutSet(SubstrStream.readCuts(spark, ref))
    assert(want.exists(_._1 == 1L) && want.exists(_._1 == 6L))
    // crash path: batch 1 is a compaction boundary and the compactor
    // dies AFTER swapping wins+docs but BEFORE dups+cuts; the batch
    // (not yet checkpoint-committed) then replays against the
    // half-compacted store set. Pre-exclusion, the wins sentinel
    // exposed the batch's own window hashes as "prior" occurrences
    // and the docs sentinel swallowed the batch under first-write-wins,
    // so the replay overwrote the cuts partition with EMPTY — silent
    // permanent loss of both holders' cuts.
    val state = Files.createTempDirectory("substr_crash").toString + "/state"
    SubstrStream.processBatch(spark, b1, state, 0L)
    SubstrStream.processBatch(spark, b2, state, 1L)
    Seq("wins", "docs").foreach { n =>
      StateCompaction.compactStore(spark, s"$state/$n", 1, excludeBatchId = 1L)
    }
    SubstrStream.processBatch(spark, b2, state, 1L) // at-least-once replay
    assert(cutSet(SubstrStream.readCuts(spark, state)) === want,
      "half-compacted state + replay must not double-count windows or lose cuts")
    // the interrupted boundary compaction re-runs in full and another
    // replay of the same batch still converges
    SubstrStream.compactState(spark, state, targetFiles = 1, excludeBatchId = 1L)
    SubstrStream.processBatch(spark, b2, state, 1L)
    assert(cutSet(SubstrStream.readCuts(spark, state)) === want,
      "completed compaction + replay must stay at the reference cuts")
    // CorpusStream variant — the OUTPUT-store loss path: index
    // compacted, pairs not; pre-exclusion the replayed batch was
    // swallowed by first-write-wins against the index sentinel and
    // overwrote its own pairs partition with the empty no-op result.
    val a = "the quick brown fox jumps over the lazy dog again"
    val cbase = Files.createTempDirectory("corpus_crash").toString
    val (idx, pairs) = (s"$cbase/index", s"$cbase/pairs")
    CorpusStream.processBatch(spark, Seq(1L -> a).toDF("doc_id", "text"), idx, pairs, 0L)
    CorpusStream.processBatch(spark, Seq(2L -> a).toDF("doc_id", "text"), idx, pairs, 1L)
    def pairSet() = CorpusStream.readPairs(spark, pairs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet() === Set((1L, 2L)))
    StateCompaction.compactStore(spark, idx, 1, excludeBatchId = 1L) // crash before pairs
    CorpusStream.processBatch(spark, Seq(2L -> a).toDF("doc_id", "text"), idx, pairs, 1L)
    assert(pairSet() === Set((1L, 2L)),
      "the replayed batch must re-emit (not erase) its pairs against the half-compacted index")
    CorpusStream.compactState(spark, idx, pairs, 1, excludeBatchId = 1L)
    assert(pairSet() === Set((1L, 2L)) && spark.read.parquet(idx).count() === 2,
      "the completed compaction preserves pairs and keeps one signature row per doc")
  }

  test("release fold SCALE probe: the boundary's frontier scan is pruned to " +
    "candidate buckets — sublinear in the accumulated corpus") {
    val sess = spark
    import sess.implicits._
    // synthetic accumulated state: N survivors of 1 token each, dense
    // ids, sqrt-sized buckets — the shape the fold maintains. The
    // design's cost driver is the pruned frontier read; count it.
    def stateOf(n: Long, bsize: Long) = {
      val frontier = spark.range(n).select(col("id").as("doc_id"),
        lit(1L).as("nt"), (col("id") + 1L).as("cum"),
        expr(s"CAST(id DIV $bsize AS BIGINT)").as("bucket"))
      val bstats = spark.range(n / bsize).select(col("id").as("bucket"),
        lit(bsize).as("btot"), lit(bsize).as("bdocs"))
      val rollup = Seq(("input", n, n), ("_max", n - 1L, 0L))
        .toDF("stage", "n_docs", "n_tokens")
      (frontier, bstats, rollup)
    }
    def emptyAdj = spark.range(0).select(col("id").as("doc_id"),
      col("id").as("delta"), col("id").as("bucket"))
    def probe(n: Long, bsize: Long): (Long, Set[(String, Long, Long)]) = {
      val (f, b, r) = stateOf(n, bsize)
      val (design, pruned) = ReleaseStream.releaseOf(spark, f, b, r, emptyAdj)
      (pruned.count(), releaseSet(design))
    }
    val (prunedA, designA) = probe(250000L, 500L)
    val (prunedB, designB) = probe(4000000L, 2000L) // 16x the corpus
    // correctness at both scales: conservation holds and the sample is
    // the ~100 unit-boundary docs
    Seq((designA, 250000L), (designB, 4000000L)).foreach { case (d, n) =>
      val input = d.find(_._1 == "input").get
      assert(input === (("input", n, n)))
      val rest = d.filter(_._1 != "input")
      assert(rest.toSeq.map(_._2).sum === n && rest.toSeq.map(_._3).sum === n,
        s"conservation must hold at n=$n")
      assert(d.find(_._1 == "gate:pps_sampled_out").get._2 === n - 100L,
        s"exactly the 100 unit-boundary docs sample in at n=$n")
    }
    // the scale claim: 16x the corpus, ≤ ~4x the scanned rows (the
    // pruned read is boundaries x bucketload = O(√corpus))
    assert(prunedA <= 100L * 500L && prunedB <= 100L * 2000L,
      s"pruning must bound the scan to candidate buckets: $prunedA / $prunedB")
    assert(prunedB <= 5L * prunedA,
      s"16x corpus must cost ≤ ~4x (sqrt) scanned rows: $prunedA -> $prunedB")
    assert(prunedA < 250000L / 2L,
      s"the pruned scan must be well under the corpus: $prunedA")
    // retro-adjustment path: deltas against committed rows shift the
    // adjusted totals without touching the frontier — the design's
    // token total drops by exactly the delta sum and sampling follows
    // the ADJUSTED cums (a zeroed doc can never be sampled)
    val (f3, b3, r3) = stateOf(250000L, 500L)
    val adj3 = spark.range(100L).select((col("id") * 2500L).as("doc_id"),
      lit(1L).as("delta"), expr("CAST(id * 2500 DIV 500 AS BIGINT)").as("bucket"))
    val (design3, _) = ReleaseStream.releaseOf(spark, f3, b3, r3, adj3)
    val d3 = releaseSet(design3)
    val shipped3 = d3.filter(r => r._1.startsWith("shard:") ||
      r._1 == "gate:pps_sampled_out").toSeq.map(_._3).sum
    assert(shipped3 === 250000L - 100L,
      s"adjusted totals must drop by the delta sum: $shipped3")
    val sampled3 = d3.filter(_._1.startsWith("shard:")).toSeq.map(_._2).sum
    assert(sampled3 >= 95L && sampled3 <= 100L,
      s"sampling must still pick ~100 unit-boundary docs on adjusted cums: $sampled3")
  }

  test("online quality-probe training: the stream fold equals an independent " +
    "driver reference and learns the planted keep/flag separation") {
    import graft.operators.TextAnalysis.{ProbeDoc, miniBatchGdStream}
    val k = 16
    // planted vocab: bucket 3 appears only in keep docs (y=1000),
    // bucket 7 only in flag docs (y=0); buckets 0-2 are shared noise
    def doc(id: Long, y: Long, marker: Long) =
      ProbeDoc(id, y, Seq(0L, 1L, 2L, marker))
    val feed = (1L to 12L).map(i =>
      if (i % 2 == 0) doc(i, 1000L, 3L) else doc(i, 0L, 7L))
    // independent driver-side reference of the SAME sequential rule
    val n = Array.fill(k)(0L)
    val w = Array.fill(k)(0L)
    feed.sortBy(_.doc_id).foreach { d =>
      val bs = d.buckets.distinct
      val b = bs.length.toLong
      var pred = 0L; bs.foreach(j => pred += w(j.toInt))
      val err = pred - d.y
      bs.foreach { jj => val j = jj.toInt; n(j) += 1; w(j) -= err / (2L * n(j) * b) }
    }
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[ProbeDoc]
    val outDir = Files.createTempDirectory("gd_stream").toString
    val q = miniBatchGdStream(input.toDS(), k).toDF("ver", "bucket", "n", "w")
      .writeStream.format("parquet")
      .option("path", s"$outDir/out")
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()
    try {
      // split the feed across two micro-batches: state carries over
      input.addData(feed.take(5))
      q.processAllAvailable()
      input.addData(feed.drop(5))
      q.processAllAvailable()
      val snaps = spark.read.parquet(s"$outDir/out")
      val lastVer = snaps.agg(max(col("ver"))).head.getLong(0)
      val got = snaps.filter(col("ver") === lastVer)
        .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
      (0 until k).foreach { j =>
        assert(got(j.toLong) === ((n(j), w(j))),
          s"bucket $j diverged from the driver reference fold")
      }
      assert(w(3) > w(7) && w(3) > 0L,
        s"keep-only bucket must out-weigh flag-only: w3=${w(3)} w7=${w(7)}")
    } finally q.stop()
  }

  test("hybrid retrieval read (ts9's shape) over the STREAMED postings + coded " +
    "stores equals the batch derivation at every boundary and through compaction") {
    assume(new java.io.File(releaseSfDir).exists())
    val sess = spark
    import sess.implicits._
    graft.functions.VectorExprs.register(spark)
    def quant(df: org.apache.spark.sql.DataFrame) = df.withColumn("q",
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .select(col("vec_id"), col("q"))
    val docsAll = graft.Tables.documents(spark, releaseSfDir)
      .select(col("doc_id"), col("text"))
    val embAll = graft.Tables.embeddings(spark, releaseSfDir)
      .select(col("vec_id"), col("embedding"))
    val model = graft.operators.Similarity.trainIvfPq(quant(embAll), embAll.count())
    val state = Files.createTempDirectory("ts9_stream").toString + "/state"
    def streamedRead() = {
      val tf = SearchStream.readPostings(spark, s"$state/search")
      val n = SearchStream.readDocCount(spark, s"$state/search")
      val tt = tf.agg(sum(col("tf"))).first().getLong(0)
      val q = VectorStream.readVecs(spark, s"$state/vector").get
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val vl = VectorStream.search(spark, s"$state/vector", model, q)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("v_rank"))
      graft.operators.Search.hybridRrfOf(tf, n, tt, vl)
        .collect().map(_.toString).sorted.toSeq
    }
    def batchRead(b: Int) = {
      val dArr = docsAll.filter(col("doc_id") % 3 <= b)
      val eArr = embAll.filter(col("vec_id") % 3 <= b)
      val tf = graft.operators.Search.postingsOf(dArr)
      val n = dArr.count()
      val tt = tf.agg(sum(col("tf"))).first().getLong(0)
      val coded = graft.operators.Similarity.ivfPqEncode(quant(eArr), model).drop("q")
      val q = eArr.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val vl = VectorStream.searchFrames(coded, eArr, model, q, 5)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("v_rank"))
      graft.operators.Search.hybridRrfOf(tf, n, tt, vl)
        .collect().map(_.toString).sorted.toSeq
    }
    (0 to 2).foreach { b =>
      SearchStream.processBatch(spark,
        docsAll.filter(col("doc_id") % 3 === b), s"$state/search", b.toLong)
      VectorStream.processBatch(spark,
        embAll.filter(col("vec_id") % 3 === b), s"$state/vector", model, b.toLong)
      assert(streamedRead() === batchRead(b),
        s"streamed hybrid read diverged from the batch derivation at boundary $b")
    }
    SearchStream.compactState(spark, s"$state/search", targetFiles = 1)
    VectorStream.compactState(spark, s"$state/vector", targetFiles = 1)
    assert(streamedRead() === batchRead(2),
      "the hybrid read must be unchanged through LSM compaction")
  }

  // ---- IdentityStream: the maintained mappings table's incremental fold ----

  test("streaming identity resolution: the mappings store equals batch CC over " +
    "the union at every boundary, through a cross-boundary component merge, " +
    "replay, and compaction") {
    val sess = spark
    import sess.implicits._
    def mapSet(df: org.apache.spark.sql.DataFrame) =
      df.select("node", "comp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def ccUnion(edges: Seq[(Long, Long)]) =
      mapSet(graft.operators.Identity.connectedComponents(
        edges.toDF("src", "dst")).toDF("node", "comp"))
    val b0 = Seq(10L -> 11L, 20L -> 21L)
    val b1 = Seq(12L -> 13L, 22L -> 23L)
    val b2 = Seq(11L -> 12L, 30L -> 31L) // 11-12 GLUES two prior comps
    val b3 = Seq(13L -> 21L)             // glues the merged comp with the 20s
    val state = Files.createTempDirectory("id_stream").toString + "/state"
    IdentityStream.processBatch(spark, b0.toDF("src", "dst"), state, 0L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === ccUnion(b0))
    IdentityStream.processBatch(spark, b1.toDF("src", "dst"), state, 1L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === ccUnion(b0 ++ b1))
    // before the retro merge: 13 sits in comp 12
    assert(mapSet(IdentityStream.readMappings(spark, state)).contains(13L -> 12L))
    IdentityStream.processBatch(spark, b2.toDF("src", "dst"), state, 2L)
    val after2 = mapSet(IdentityStream.readMappings(spark, state))
    assert(after2 === ccUnion(b0 ++ b1 ++ b2),
      "the cross-boundary merge must re-label both prior components")
    assert(after2.contains(13L -> 10L),
      "node 13's mapping must move from comp 12 to the merged comp 10")
    // sequential addRules over the same batches lands identically
    val viaAddRules = Seq(b1, b2).foldLeft(
      graft.operators.Identity.connectedComponents(b0.toDF("src", "dst"))
        .toDF("node", "comp")) { (m, b) =>
      graft.operators.Identity.addRules(m, b.toDF("src", "dst"))
    }
    assert(after2 === mapSet(viaAddRules),
      "the stream fold must equal sequential batch addRules")
    // at-least-once replay of the last batch is a no-op
    IdentityStream.processBatch(spark, b2.toDF("src", "dst"), state, 2L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === after2)
    // compaction (in-flight batch excluded) preserves the read and the
    // fold continues correctly over the compacted store
    IdentityStream.compactState(spark, state, targetFiles = 1, excludeBatchId = 2L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === after2,
      "compaction must not change the mappings read")
    IdentityStream.processBatch(spark, b2.toDF("src", "dst"), state, 2L) // replay post-compaction
    assert(mapSet(IdentityStream.readMappings(spark, state)) === after2)
    IdentityStream.processBatch(spark, b3.toDF("src", "dst"), state, 3L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) ===
      ccUnion(b0 ++ b1 ++ b2 ++ b3),
      "the post-compaction fold must still retro-merge across the sentinel")
    IdentityStream.compactState(spark, state, targetFiles = 1)
    assert(mapSet(IdentityStream.readMappings(spark, state)) ===
      ccUnion(b0 ++ b1 ++ b2 ++ b3))
  }

  test("streaming identity UNMERGE: an erasure batch splits the glued chain, " +
    "tombstones orphans, suppresses future rules naming erased nodes, prunes to " +
    "the affected components, and compaction purges the erased ledger edges") {
    val sess = spark
    import sess.implicits._
    def mapSet(df: org.apache.spark.sql.DataFrame) =
      df.select("node", "comp").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val state = Files.createTempDirectory("id_unmerge").toString + "/state"
    // b0: a chain 1-2-3-4 glued through node 3, plus an untouched pair
    IdentityStream.processBatch(spark,
      Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 50L -> 51L).toDF("src", "dst"), state, 0L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) ===
      Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 50L -> 50L, 51L -> 50L))
    // b1: regulation erases node 3 — the chain SPLITS: {1,2} survives on
    // its direct edge, 4 is orphaned (its only edge was through 3), the
    // untouched pair carries over without entering the plan
    IdentityStream.processUnmerge(spark, Seq(Tuple1(3L)).toDF("node"), state, 1L)
    val afterErase = Set(1L -> 1L, 2L -> 1L, 50L -> 50L, 51L -> 50L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === afterErase,
      "erasing the glue node must split the chain and drop the orphan + regulated")
    // the unmerge delta touched ONLY the affected component's nodes
    val deltaNodes = spark.read.parquet(s"$state/maps/batch_id=1")
      .select("node").collect().map(_.getLong(0)).toSet
    assert(deltaNodes === Set(1L, 2L, 3L, 4L),
      s"the unmerge must not rewrite untouched components: $deltaNodes")
    // replay of the regulation batch is a no-op
    IdentityStream.processUnmerge(spark, Seq(Tuple1(3L)).toDF("node"), state, 1L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === afterErase)
    // b2: a later rule re-links the ORPHAN (4 was tombstoned, not
    // erased) into the untouched pair — it re-enters as a fresh node
    IdentityStream.processBatch(spark, Seq(4L -> 51L).toDF("src", "dst"), state, 2L)
    val afterRelink = Set(1L -> 1L, 2L -> 1L, 4L -> 4L, 50L -> 4L, 51L -> 4L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === afterRelink,
      "a tombstoned orphan must be re-linkable as a fresh node")
    // b3: a rule naming the ERASED node is suppressed outright
    IdentityStream.processBatch(spark, Seq(3L -> 1L).toDF("src", "dst"), state, 3L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === afterRelink,
      "rules naming an erased node must be suppressed (durable erasure)")
    // compaction preserves the read and PHYSICALLY purges the erased
    // node's ledger edges
    IdentityStream.compactState(spark, state, targetFiles = 1, excludeBatchId = 3L)
    assert(mapSet(IdentityStream.readMappings(spark, state)) === afterRelink)
    val ledger = StateCompaction.readVisible(spark, s"$state/edges").get
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!ledger.exists(e => e._1 == 3L || e._2 == 3L),
      s"compaction must purge erased-incident ledger edges: $ledger")
    assert(ledger === Set(1L -> 2L, 50L -> 51L, 4L -> 51L))
  }

  test("identity driver fold equals the DataFrame chain on a seeded random " +
    "sequence: duplicates, self-loops, aliases, retro merges, replay, " +
    "compaction, unmerge and relink") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(8101)
    def user() = 1L + rnd.nextInt(30)
    def anon() = 1000L + rnd.nextInt(60)
    def randomBatch(n: Int): Seq[(Long, Long)] = {
      val es = Seq.fill(n)(rnd.nextInt(10) match {
        case 0 => val u = user(); (u, u) // self-loop
        case 1 => (user(), user())       // user<->user alias
        case _ => (anon(), user())
      })
      // a self-loop-only node, and duplicates of a fifth of the batch
      val lone = 5000L + rnd.nextInt(1000)
      es ++ es.take(n / 5) :+ (lone -> lone)
    }
    // the same state folded twice: default bound (driver) and bound 0
    // (the DataFrame chain)
    val root = Files.createTempDirectory("id_equiv").toString
    val (drv, fbk) = (s"$root/driver", s"$root/fallback")
    def rows(dir: String, store: String, n: Long) =
      spark.read.parquet(s"$dir/$store/batch_id=$n").collect().map(_.toSeq.mkString(","))
        .toSeq.sorted
    def mappings(dir: String) = IdentityStream.readMappings(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def same(what: String): Unit =
      assert(mappings(drv) === mappings(fbk), s"readMappings diverged after $what")
    var ledger = Seq.empty[(Long, Long)]
    def merge(n: Long, batch: Seq[(Long, Long)]): Unit = {
      IdentityStream.processBatch(spark, batch.toDF("src", "dst"), drv, n)
      IdentityStream.processBatch(spark, batch.toDF("src", "dst"), fbk, n, smallGraphMax = 0L)
      assert(rows(drv, "maps", n) === rows(fbk, "maps", n), s"maps/batch_id=$n diverged")
      assert(rows(drv, "edges", n) === rows(fbk, "edges", n), s"edges/batch_id=$n diverged")
      same(s"batch $n")
    }
    // an independent oracle: BFS from each component's min node
    def oracle(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val label = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { s =>
        if (!label.contains(s)) {
          val q = scala.collection.mutable.Queue(s)
          label(s) = s
          while (q.nonEmpty) adj(q.dequeue()).foreach { m =>
            if (!label.contains(m)) { label(m) = s; q += m }
          }
        }
      }
      label.toSet
    }
    val batches = Seq(randomBatch(14), randomBatch(14), randomBatch(10))
    batches.zipWithIndex.foreach { case (b, i) => merge(i.toLong, b); ledger ++= b }
    assert(mappings(drv) === oracle(ledger))
    // replay, compaction with the in-flight batch excluded, replay again
    merge(2L, batches(2))
    Seq(drv, fbk).foreach(IdentityStream.compactState(spark, _, targetFiles = 1,
      excludeBatchId = 2L))
    same("compaction excluding batch 2")
    merge(2L, batches(2))
    val b3 = randomBatch(10)
    merge(3L, b3)
    ledger ++= b3
    assert(mappings(drv) === oracle(ledger))
    // unmerge the busiest user (the likeliest glue), then relink: a rule
    // naming it is suppressed, its former neighbours re-enter
    val glue = ledger.flatMap(e => Seq(e._1, e._2)).filter(_ < 1000L)
      .groupBy(identity).maxBy { case (n, occ) => (occ.size, -n) }._1
    val neighbours = ledger.collect { case (a, b) if a == glue && b != glue => b
      case (a, b) if b == glue && a != glue => a }.distinct.sorted
    Seq(drv, fbk).foreach(IdentityStream.processUnmerge(spark,
      Seq(Tuple1(glue)).toDF("node"), _, 4L))
    assert(rows(drv, "maps", 4L) === rows(fbk, "maps", 4L))
    same("the unmerge")
    assert(!mappings(drv).exists(_._1 == glue))
    merge(5L, Seq(glue -> neighbours.head, neighbours.head -> 7000L,
      neighbours.last -> 7001L) ++ randomBatch(6))
    assert(!mappings(drv).exists(_._1 == glue), "rules naming an erased node are suppressed")
    Seq(drv, fbk).foreach(IdentityStream.compactState(spark, _, targetFiles = 1))
    same("full compaction")
    merge(6L, randomBatch(10))
  }

  test("a warm identity fold of a small batch starts at most 10 Spark jobs") {
    val sess = spark
    import sess.implicits._
    val state = Files.createTempDirectory("id_jobs").toString + "/state"
    IdentityStream.processBatch(spark, Seq(1L -> 2L, 3L -> 4L).toDF("src", "dst"), state, 0L)
    IdentityStream.processBatch(spark, Seq(2L -> 3L, 5L -> 6L).toDF("src", "dst"), state, 1L)
    val group = "identity-fold-job-guard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val batch = Seq(4L -> 5L, 6L -> 7L, 8L -> 8L).toDF("src", "dst")
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "one warm identity fold")
    try IdentityStream.processBatch(spark, batch, state, 2L)
    finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftPlanProbe.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get() > 0 && jobs.get() <= 10, s"a warm identity fold started ${jobs.get()} jobs")
    assert(IdentityStream.readMappings(spark, state).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L, 8L -> 8L))
  }

  test("single-partition fold crash window: a sentinel [a,a] covers per-batch a " +
    "(equal range), so readers never double-count and reclaim succeeds") {
    val sess = spark
    import sess.implicits._
    // visibility rule directly: equal-range sentinel covers per-batch
    val s00 = StateCompaction.sentinelId(0, 0)
    assert(StateCompaction.visibleIds(Seq(0L, s00)) === Seq(s00),
      "per-batch 0 must be invisible next to sentinel [0,0]")
    // sentinels of equal tier but different ranges both stay visible
    val s11 = StateCompaction.sentinelId(1, 1)
    assert(StateCompaction.visibleIds(Seq(s00, s11)).toSet === Set(s00, s11))
    // integer tiering at exact powers of 4 (float log4 rounds below)
    assert(StateCompaction.tierOf(StateCompaction.sentinelId(0, 0)) === 0)
    assert(StateCompaction.tierOf(StateCompaction.sentinelId(0, 3)) === 1)   // len 4
    assert(StateCompaction.tierOf(StateCompaction.sentinelId(0, 62)) === 2)  // len 63
    assert(StateCompaction.tierOf(StateCompaction.sentinelId(0, 63)) === 3)  // len 64 exact
    assert(StateCompaction.tierOf(StateCompaction.sentinelId(0, 254)) === 3) // len 255
    assert(StateCompaction.tierOf(StateCompaction.sentinelId(0, 255)) === 4) // len 256 exact
    // end-to-end crash sim: ONE committed partition folds to [0,0];
    // a crash between the stage rename and the covered-dir delete
    // leaves BOTH dirs — the read must count batch 0's rows once and
    // the next compaction must reclaim the leftover
    val store = Files.createTempDirectory("single_fold").toString + "/st"
    val rows = Seq(1L -> 10L, 2L -> 20L).toDF("doc_id", "v")
    rows.write.parquet(s"$store/batch_id=0")
    StateCompaction.compactStore(spark, store, 1, excludeBatchId = 1L)
    // re-create the covered per-batch dir = the crash leftover
    rows.write.parquet(s"$store/batch_id=0")
    val visible = StateCompaction.readVisible(spark, store).get
    assert(visible.count() === 2L,
      "crash leftover of a single-partition fold must not double-count")
    StateCompaction.compactStore(spark, store, 1, excludeBatchId = 1L)
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(store, "batch_id=0")),
      "the next compaction must reclaim the covered per-batch dir")
    assert(StateCompaction.readVisible(spark, store).get.count() === 2L)
  }

  test("ANN search over a half-written first batch (coded present, vecs absent) " +
    "returns the typed empty result, not an exception") {
    assume(new java.io.File(releaseSfDir).exists())
    val sess = spark
    import sess.implicits._
    graft.functions.VectorExprs.register(spark)
    val emb = graft.Tables.embeddings(spark, releaseSfDir)
      .select(col("vec_id"), col("embedding")).limit(32)
    val model = graft.operators.Similarity.trainIvfPq(
      emb.withColumn("q",
          expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
        .select(col("vec_id"), col("q")),
      32L)
    val state = Files.createTempDirectory("vec_crash").toString + "/state"
    VectorStream.processBatch(spark, emb.toDF(), state, model, 0L)
    // simulate the crash: vecs store never got its first write
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/vecs"), true)
    val queries = emb.limit(2).select(col("vec_id").as("query_id"), col("embedding"))
    val res = VectorStream.search(spark, state, model, queries.toDF())
    assert(res.columns.toSeq === Seq("query_id", "rank", "neighbor_id"))
    assert(res.count() === 0L, "half-written index must read as empty, not throw")
  }
}
