package cdpbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.streaming.{BenchCompaction, EventStream, IdentityStream, SchemaEvolution}

/** The benchmark's JVM side. It runs one workload in one session on
  * `local[cores]`, times each call into the engine's public functions,
  * and writes the raw timings (and, traced, the spans) for `run.py`,
  * which turns them into metrics and checks the outputs.
  *
  * Usage:
  *   Main oracle <out.json> <query>...
  *   Main run <workload> <dataDir> <outDir> <seed> <seconds> <trace 0|1> <cores> [query...]
  */
object Main {

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracle") => dumpOracle(args(1), args.drop(2).toSeq)
    case Some("run") =>
      val run = new Run(args(1), args(2), args(3), args(4).toLong, args(5).toDouble,
        args(6) == "1", args(7).toInt, args.drop(8).toSeq)
      run.execute()
    case _ =>
      System.err.println("usage: Main oracle <out.json> <query>... | Main run <workload> ...")
      sys.exit(2)
  }

  /** The DuckDB oracle SQL of the given queries, as one JSON object. */
  private def dumpOracle(out: String, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val body = names.filter(sql.contains).map(n => n -> Json.str(sql(n)))
    Files.writeString(Paths.get(out), Json.obj(body))
  }
}

/** One timed call that produced a DataFrame: build, plan, full result. */
final case class Read(construct: Double, plan: Double, exec: Double, rows: Array[Row],
                      schema: org.apache.spark.sql.types.StructType, planBytes: Long) {
  def seconds: Double = construct + plan + exec
}

final class Run(workload: String, dataDir: String, outDir: String, seed: Long,
                seconds: Double, traced: Boolean, cores: Int, queries: Seq[String]) {

  private val trace = new Trace(traced)
  private val listener = new GroupListener
  private val ops = scala.collection.mutable.ArrayBuffer.empty[String]
  private var failed = 0L

  private lazy val spark: SparkSession = {
    val local = new File(outDir, "spark-local").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"cdpbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(outDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (traced) s.sparkContext.addSparkListener(listener)
    s
  }

  def execute(): Unit = {
    spark
    val setup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val gc0 = gcMillis
    val codegen0 = codegenCount
    val compile0 = codegenCompileNs
    val body = workload match {
      case "cdp_board" => queryPasses()
      case "ingest_stream" => ingest()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val gc = (gcMillis - gc0) / 1e3
    val scratch = dirBytes(new File(System.getProperty("java.io.tmpdir"))) / 1e6
    val heap = liveHeapMb()
    val counts =
      if (!traced) Nil
      else {
        org.apache.spark.BusDrain.drain(spark.sparkContext)
        Files.writeString(Paths.get(outDir, "spans.json"), trace.json(listener))
        Seq("groups" -> listener.json)
      }
    val fields = Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "setup_s" -> Json.num(setup),
      "gc_s" -> Json.num(gc),
      "heap_live_mb" -> Json.num(heap),
      "scratch_mb" -> Json.num(scratch),
      "codegen_classes" -> (codegenCount - codegen0).toString,
      "codegen_compile_s" -> Json.num((codegenCompileNs - compile0) / 1e9),
      "failed" -> failed.toString,
      "ops" -> ops.mkString("[\n", ",\n", "\n]")) ++ body ++ counts
    Files.writeString(Paths.get(outDir, "raw.json"), Json.obj(fields) + "\n")
    spark.stop()
  }

  // ---- calls into the engine -------------------------------------------------

  /** Build a DataFrame with `make`, force its executed plan, then produce
    * every row and column. Each phase is a child span with its own job group. */
  private def read(op: String, parent: Int)(make: => DataFrame): Read = {
    val (df, tc) = trace.child(spark, parent, op, "construct")(make)
    val (_, tp) = trace.child(spark, parent, op, "plan")(df.queryExecution.executedPlan)
    val (rows, te) = trace.child(spark, parent, op, "exec")(df.collect())
    val planBytes =
      if (traced) df.queryExecution.explainString(ExplainMode.fromString("formatted")).length.toLong
      else 0L
    Read(tc, tp, te, rows, df.schema, planBytes)
  }

  /** Write collected rows as parquet for the checks in `run.py`. */
  private def save(rows: Array[Row], schema: org.apache.spark.sql.types.StructType, name: String): Unit = {
    spark.sparkContext.setJobGroup("check", "check", interruptOnCancel = false)
    try spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(new File(outDir, s"results/$name").getAbsolutePath)
    finally spark.sparkContext.clearJobGroup()
  }

  /** Order-independent fingerprint of a result. */
  private def fingerprint(rows: Array[Row]): Long =
    rows.foldLeft(rows.length.toLong * 0x9E3779B97F4A7C15L)((h, r) =>
      h + (scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong & 0xffffffffL) * 0x100000001B3L)

  private def error(e: Throwable): String = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    (e.toString.takeWhile(_ != '\n') + " <- " + c.toString.takeWhile(_ != '\n')).take(300)
  }

  // ---- cdp_board -------------------------------------------------------------

  /** One cold pass over the query list, then warm passes until `seconds`
    * of warm time have passed (at least one). Each pass shuffles the list
    * by the seed. The cold pass's results go to `results/` for the oracle
    * check; every warm result must match its cold fingerprint. A query
    * that throws counts as failed and has no result to check. */
  private def queryPasses(): Seq[(String, String)] = {
    val cold = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val passTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var pass = 0
    var warm = 0.0
    while (pass == 0 || pass == 1 || warm < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      var total = 0.0
      order.foreach { name =>
        val op = s"$pass:$name"
        val (res, _) = trace.parent(op, "query") { id =>
          try Right(read(op, id)(SparkEntry.queries(name)(spark, dataDir)))
          catch { case NonFatal(e) => Left(error(e)) }
        }
        val fields = res match {
          case Right(r) =>
            val fp = fingerprint(r.rows)
            val mismatch =
              if (pass == 0) { cold(name) = (r.rows.length.toLong, fp); save(r.rows, r.schema, name); None }
              else if (cold.get(name).forall(_ == ((r.rows.length.toLong, fp)))) None
              else Some(s"pass $pass result differs from the cold pass")
            total += r.seconds
            Seq("construct" -> Json.num(r.construct), "plan" -> Json.num(r.plan),
              "exec" -> Json.num(r.exec), "rows" -> r.rows.length.toString,
              "plan_bytes" -> r.planBytes.toString) ++
              mismatch.map(m => "mismatch" -> Json.str(m))
          case Left(err) =>
            failed += 1
            Seq("error" -> Json.str(err))
        }
        ops += Json.obj(Seq("kind" -> Json.str("query"), "pass" -> pass.toString,
          "name" -> Json.str(name)) ++ fields)
      }
      passTimes += total
      if (pass > 0) warm += total
      pass += 1
    }
    Seq("passes" -> passTimes.map(Json.num).mkString("[", ",", "]"))
  }

  // ---- ingest_stream ---------------------------------------------------------

  /** Every batch of the stream, fed one after another (a closed loop with
    * one client). Each batch runs the tracks MERGE, the schema-evolution
    * fold and the identity fold, then compacts the identity and discard
    * stores, then reads every maintained store in full. Batch 0 is the
    * cold one. The runner decides how many batches the stream holds, so
    * the work does not depend on how fast the batches run. */
  private def ingest(): Seq[(String, String)] = {
    val state = new File(outDir, "state").getAbsolutePath
    val tracks = s"$state/tracks"
    val typed = s"$state/typed"
    val registry = s"$state/registry"
    val discards = s"$state/discards"
    val identity = s"$state/identity"
    val available = new File(dataDir, "stream").list().count(_.endsWith(".parquet"))
    val batchTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: Map[String, Read] = Map.empty
    while (batchTimes.size < available) {
      val i = batchTimes.size
      val op = s"batch:$i"
      val src = new File(dataDir, f"stream/batch_$i%05d.parquet").getAbsolutePath
      val ((timing, reads), _) = trace.parent(op, "batch") { id =>
        val raw = spark.read.parquet(src)
        val (_, tt) = trace.child(spark, id, op, "tracks_fold")(
          EventStream.mergeIntoTracks(spark, tracks, EventStream.toTracks(raw)))
        val (_, ts) = trace.child(spark, id, op, "schema_fold")(
          SchemaEvolution.processBatch(spark, raw.select(col("row_id").as("id"), col("props").as("js")),
            typed, registry, discards, i.toLong))
        val (_, ti) = trace.child(spark, id, op, "identity_fold")(
          IdentityStream.processBatch(spark,
            raw.filter(col("src").isNotNull).select(col("src"), col("dst")).distinct(),
            identity, i.toLong))
        val (_, tc) = trace.child(spark, id, op, "compact") {
          IdentityStream.compactState(spark, identity)
          BenchCompaction.compactStore(spark, discards, 4)
        }
        val reads = Seq[(String, () => DataFrame)](
          "tracks" -> (() => spark.read.parquet(tracks)),
          "mappings" -> (() => IdentityStream.readMappings(spark, identity)),
          "typed" -> (() => SchemaEvolution.readTable(spark, typed)),
          "discards" -> (() => SchemaEvolution.readTable(spark, discards))
        ).map { case (store, make) =>
          store -> trace.parent(s"$op/$store", "read", id)(rid => read(s"$op/$store", rid)(make()))._1
        }
        (Seq(tt, ts, ti, tc), reads)
      }
      val Seq(tt, ts, ti, tc) = timing
      val secs = timing.sum + reads.map(_._2.seconds).sum
      ops += Json.obj(Seq("kind" -> Json.str("batch"), "batch" -> i.toString,
        "seconds" -> Json.num(secs),
        "tracks_fold" -> Json.num(tt), "schema_fold" -> Json.num(ts),
        "identity_fold" -> Json.num(ti), "compact" -> Json.num(tc),
        "reads" -> Json.obj(reads.map { case (s, r) =>
          s -> Json.obj(Seq("construct" -> Json.num(r.construct), "plan" -> Json.num(r.plan),
            "exec" -> Json.num(r.exec), "rows" -> r.rows.length.toString,
            "plan_bytes" -> r.planBytes.toString))
        })))
      last = reads.toMap
      batchTimes += secs
    }
    val stateFiles = files(new File(state)).filter(_.getName.endsWith(".parquet"))
    last.foreach { case (store, r) => save(r.rows, r.schema, store) }
    Seq("passes" -> batchTimes.map(Json.num).mkString("[", ",", "]"),
      "state_files" -> stateFiles.size.toString,
      "state_mb" -> Json.num(stateFiles.map(_.length).sum / 1e6))
  }

  // ---- process-level counters ------------------------------------------------

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def codegenCompileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Driver heap still in use after full collections. The pauses let
    * Spark's ContextCleaner release what the previous collection made
    * unreachable, so the next one can free it. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))

  private def dirBytes(dir: File): Long = files(dir).map(_.length).sum
}
