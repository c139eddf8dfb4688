package cdpbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work counted under one job group. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L

  def add(o: Counts): Counts = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; inputBytes += o.inputBytes
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes
    this
  }

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_cpu_ns":$cpuNs,""" +
      s""""task_run_ms":$runMs,"input_bytes":$inputBytes,"shuffle_bytes":$shuffleBytes,""" +
      s""""spill_bytes":$spillBytes,"output_bytes":$outputBytes}"""
}

/** Attributes every job, stage and task to the job group it ran under.
  * Listener events arrive on Spark's listener-bus thread; readers call
  * [[org.apache.spark.BusDrain.drain]] first and then read under the lock.
  */
final class GroupListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("-")

  private def counts(g: String): Counts = groups.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    counts(g).jobs += 1
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = Option(stageGroup.get(e.stageInfo.stageId)).getOrElse(groupOf(e.properties))
    counts(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(Option(stageGroup.get(e.stageId)).getOrElse("-"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Counts of one group (zero if it ran no job). */
  def group(g: String): Counts = synchronized {
    Option(groups.get(g)).fold(new Counts)(c => new Counts().add(c))
  }

  /** Every group's counts as one JSON object. */
  def json: String = synchronized {
    Json.obj(groups.asScala.toSeq.sortBy(_._1).map { case (g, c) => g -> c.json })
  }
}

/** One timed call into the program. `group` is the Spark job group the
  * call ran under; a parent span has none and its counts are the sum of
  * its children's.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long, group: Option[String])

/** Spans of a run, kept in memory and written once at the end. */
final class Trace(enabled: Boolean) {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Run `body` as a parent span; it receives the span id for its children. */
  def parent[A](op: String, name: String, parentId: Int = -1)(body: Int => A): (A, Double) = {
    nextId += 1
    val id = nextId
    val start = System.nanoTime()
    val out = body(id)
    val end = System.nanoTime()
    if (enabled) spans += Span(id, parentId, op, name, start, end, None)
    (out, (end - start) / 1e9)
  }

  /** Run `body` under its own job group as a child span of `parent`. */
  def child[A](spark: org.apache.spark.sql.SparkSession, parent: Int, op: String,
               name: String)(body: => A): (A, Double) = {
    nextId += 1
    val id = nextId
    val group = s"$op/$name"
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    val start = System.nanoTime()
    val out = try body finally spark.sparkContext.clearJobGroup()
    val end = System.nanoTime()
    if (enabled) spans += Span(id, parent, op, name, start, end, Some(group))
    (out, (end - start) / 1e9)
  }

  /** The spans as a JSON array, each with the counts of its job group
    * (a parent span sums its children). */
  def json(listener: GroupListener): String = {
    val byParent = spans.groupBy(_.parent)
    def countsOf(s: Span): Counts = s.group match {
      case Some(g) => listener.group(g)
      case None => byParent.getOrElse(s.id, Nil).foldLeft(new Counts)((acc, c) => acc.add(countsOf(c)))
    }
    spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":"${Json.esc(s.op)}","name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counts":${countsOf(s).json}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + esc(s) + "\""
}
