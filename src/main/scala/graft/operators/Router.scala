package graft.operators

import graft.{Q, State, Tables}
import graft.functions.JsonFlatten
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Delivery-side and upload-lifecycle operators — SURVEY §2.6/§2.5:
  * the event-order barrier, throttling, staging batching, upload state
  * machine, and DDL diff, plus enrichment/validation transforms (T5
  * geo, T8 tracking plan, T13 user-transform surface, T15 hydration)
  * and A6 stats.
  */
object Router {

  private def k = get_json_object(col("props"), "$.k").cast("long")

  /** Upload state-machine log fixture (upload.go:366-404 states). */
  private val uploadLog: Seq[(String, Long, String)] = Seq(
    ("u1", 1L, "waiting"), ("u1", 2L, "generating_load_files"),
    ("u1", 3L, "exporting_data"), ("u1", 4L, "exported_data"),
    ("u2", 1L, "waiting"), ("u2", 2L, "generating_load_files"), ("u2", 3L, "aborted"),
    ("u3", 1L, "waiting"), ("u3", 2L, "exporting_data"), ("u3", 3L, "exporting_data_failed"))

  private val uploadLogSql: String = uploadLog
    .map { case (u, s, st) => s"('$u', $s, '$st')" }.mkString("(VALUES ", ", ", ")")

  /** Schema-registry fixture for the DDL diff: warehouse (live) vs
    * consolidated staging schema (schema.go:205-263 ColumnMap /
    * AlteredColumnMap).
    */
  private val whSchema: Seq[(String, String, String)] = Seq(
    ("tracks", "id", "string"), ("tracks", "event", "string"),
    ("tracks", "bio", "string"), ("users", "id", "string"))
  private val stagingSchema: Seq[(String, String, String)] = Seq(
    ("tracks", "id", "string"), ("tracks", "event", "string"),
    ("tracks", "bio", "text"), ("tracks", "plan", "string"),
    ("users", "id", "string"), ("users", "age", "int"))

  private def schemaSql(rows: Seq[(String, String, String)]) =
    rows.map { case (t, c, ty) => s"('$t', '$c', '$ty')" }.mkString("(VALUES ", ", ", ")")

  /** Drain-decision fixtures (internal/drain-config + router/utils).
    * Registry: (dest_id, enabled, retention_s). D6/D7 are deliberately
    * absent (not-found class); D0's short retention expires its old
    * jobs; the rest never expire inside the 30-day corpus window.
    */
  private val drainRegistry: Seq[(String, Boolean, Long)] = Seq(
    ("D0", true, 864000L), ("D1", true, 3456000L), ("D2", true, 3456000L),
    ("D3", true, 3456000L), ("D4", false, 3456000L), ("D5", true, 3456000L))
  private val drainAbortList: Seq[String] = Seq("D5")
  /** Cancelled jobRunIDs with entry age; entries older than maxAge are
    * TTL-dropped before they can drain anything (drainConfig.go:76).
    */
  private val drainEntries: Seq[(String, Long)] =
    Seq(("run-0", 7200L), ("run-1", 108000L))
  private val drainMaxAgeS = 86400L
  private val drainDefaultRetentionS = 3024000L

  private val drainRegistrySql: String = drainRegistry
    .map { case (d, e, r) => s"('$d', $e, $r)" }.mkString("(VALUES ", ", ", ")")
  private val drainEntriesSql: String = drainEntries
    .map { case (v, a) => s"('$v', $a)" }.mkString("(VALUES ", ", ", ")")

  /** Broadcastable geo IP ranges (services/geolocation shape). */
  private val geoRanges: Seq[(Long, Long, String)] = Seq(
    (0L, 12499L, "US"), (12500L, 24999L, "DE"), (25000L, 49999L, "IN"),
    (50000L, 74999L, "BR"), (75000L, 99999L, "JP"))

  private val geoRangesSql: String =
    geoRanges.map { case (a, b, c) => s"($a, $b, '$c')" }.mkString("(VALUES ", ", ", ")")

  /** t14b destination-transform registry: (destination, kind, k1, k2,
    * k3, event-filter, topic for clicks, default topic). Key names per
    * destination follow the public event-API conventions the reference
    * routes to via its transformer; kafka/pubsub rows model the
    * embedded envelope transformers.
    */
  private val t14Registry: Seq[(String, String, String, String, String,
      Option[String], Option[String], Option[String])] = Seq(
    ("braze", "json3", "external_id", "name", "time", None, None, None),
    ("amplitude", "json3", "user_id", "event_type", "time", None, None, None),
    ("mixpanel", "json3", "distinct_id", "event", "time", None, None, None),
    ("posthog", "json3", "distinct_id", "event", "timestamp", None, None, None),
    ("iterable", "json3", "userId", "eventName", "createdAt", None, None, None),
    ("intercom", "json3", "user_id", "event_name", "created", None, None, None),
    ("ga_collect", "query3", "cid", "ea", "qt", None, None, None),
    ("appsflyer", "query3", "af_id", "event_name", "af_time", None, None, None),
    ("adjust", "query3", "adjust_id", "event", "created_at", None, None, None),
    ("klaviyo", "profile", "id", "track", "", None, None, None),
    ("onesignal", "profile", "external_user_id", "event", "", None, None, None),
    ("kafka_main", "kafka", "", "", "", None, Some("clicks-topic"), Some("events-topic")),
    ("pubsub_main", "pubsub", "", "", "", None, None, Some("events-sub")),
    ("fb_conversions", "form", "external_id", "ev", "", Some("purchase"), None, None),
    ("hubspot_form", "form", "vid", "event", "", Some("signup"), None, None),
    // breadth wave 2 — same six payload kinds, per-destination key
    // conventions from the public event APIs the reference's
    // transformer targets
    ("clevertap", "json3", "identity", "evtName", "ts", None, None, None),
    ("webengage", "json3", "userId", "eventName", "eventTime", None, None, None),
    ("moengage", "json3", "customer_id", "action", "created_time", None, None, None),
    ("customerio", "json3", "id", "name", "timestamp", None, None, None),
    ("airship", "json3", "named_user_id", "name", "occurred", None, None, None),
    ("heap", "json3", "identity", "event", "timestamp", None, None, None),
    ("keen", "json3", "user_id", "event_collection", "timestamp", None, None, None),
    ("kissmetrics", "json3", "_p", "_n", "_t", None, None, None),
    ("branch", "json3", "developer_identity", "name", "time", None, None, None),
    ("indicative", "json3", "uniqueId", "eventName", "eventTime", None, None, None),
    ("singular", "query3", "u", "n", "utime", None, None, None),
    ("matomo", "query3", "uid", "action_name", "cdt", None, None, None),
    ("fb_pixel", "query3", "external_id", "ev", "ts", None, None, None),
    ("snap_pixel", "query3", "user_id", "ev", "timestamp", None, None, None),
    ("sendgrid", "profile", "external_id", "event", "", None, None, None),
    ("drip", "profile", "person_id", "action", "", None, None, None),
    ("mailchimp", "profile", "email_id", "event_name", "", None, None, None),
    ("kafka_cdc", "kafka", "", "", "", None, Some("cdc-clicks"), Some("cdc-events")),
    ("pubsub_audit", "pubsub", "", "", "", None, None, Some("audit-sub")),
    ("linkedin_form", "form", "member_id", "conversion", "", Some("purchase"), None, None))

  private val t14RegistrySql: String = t14Registry
    .map { case (d, kind, k1, k2, k3, ftype, tc, td) =>
      def opt(o: Option[String]) = o.map(v => s"'$v'").getOrElse("NULL")
      s"('$d', '$kind', '$k1', '$k2', '$k3', ${opt(ftype)}, ${opt(tc)}, ${opt(td)})"
    }
    .mkString("(VALUES ", ", ", ")")

  val defs: Map[String, Q] = Map(

    // D2: event-order barrier — per (userId, destination) at most one
    // in-flight failing job; successors stay blocked until it resolves
    // (router/internal/eventorder/eventorder.go). Batch semantics:
    // jobs before the first failure are delivered, the failure
    // retries, everything after it is blocked. One window min per key.
    "d2_event_order_barrier" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("destination"))
      Tables.events(s, dir)
        .withColumn("destination", col("event_type"))
        .withColumn("failed", k % 11 === 0)
        .withColumn("first_failed",
          min(when(col("failed"), col("event_id"))).over(w))
        .withColumn("delivery_state",
          when(col("first_failed").isNull || col("event_id") < col("first_failed"), "delivered")
            .when(col("event_id") === col("first_failed"), "retrying")
            .otherwise("blocked"))
        .groupBy(col("destination"), col("delivery_state"))
        .agg(count(lit(1)).as("n"))
    }),

    // D1: router delivery response classification + retry backoff —
    // the analytic core of router/worker.go:357-745 (the HTTP hop
    // itself is out of env): 2xx delivered, 429/5xx retryable with
    // exponential backoff capped at 300s, other 4xx aborted.
    "d1_router_delivery" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("status_code",
          when(k % 10 < 6, 200).when(k % 10 === 6, 201)
            .when(k % 10 === 7, 429).when(k % 10 === 8, 500).otherwise(400))
        .withColumn("attempt", (k % 4).cast("int"))
        .withColumn("job_state",
          when(col("status_code") < 300, "succeeded")
            .when(col("status_code") === 429 || col("status_code") >= 500, "waiting_retry")
            .otherwise("aborted"))
        .withColumn("backoff_s",
          when(col("job_state") === "waiting_retry",
            least(pow(lit(2), col("attempt")) * 10, lit(300)).cast("long")).otherwise(0L))
        .groupBy(col("job_state"))
        .agg(count(lit(1)).as("n"), sum(col("backoff_s")).as("total_backoff_s"))
    }),

    // Router DRAIN decision chain — internal/drain-config
    // (drainConfig.go:34,76-111: TTL'd drain_config table of cancelled
    // jobRunIDs) consumed by router/utils/utils.go:141-165 (Drain):
    // five reasons checked in FIRST-MATCH order — job expired (per-
    // destination retention), destination not in config, destination
    // disabled, destination on the abort list, jobRunID cancelled.
    // "now" is the memoized epoch-second planner stat (dbg1 pattern);
    // every config input is a broadcast-sized fixture, so the plan is
    // one events scan + broadcast joins + a (dest, reason) rollup —
    // nothing here can go superlinear.
    "dr1_router_drain" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val nowSec = Tables.maxIdStat(s, dir, "events", "ts")
      val registry = drainRegistry.toDF("dest_id", "enabled", "retention_s")
      val drains = drainEntries.toDF("run_id", "entry_age_s")
        .filter(col("entry_age_s") < drainMaxAgeS) // TTL: stale cancels expire
      Tables.events(s, dir)
        .withColumn("dest_id", concat(lit("D"), k % 8))
        .withColumn("job_run_id",
          when(k % 7 === 0, concat(lit("run-"), k % 3)).otherwise(lit("")))
        .withColumn("age_s", lit(nowSec) - col("ts").cast("long"))
        .join(broadcast(registry), Seq("dest_id"), "left")
        .join(broadcast(drains), col("job_run_id") === col("run_id"), "left")
        .withColumn("reason",
          when(col("age_s") > coalesce(col("retention_s"), lit(drainDefaultRetentionS)),
            "job expired")
            .when(col("enabled").isNull, "destination is not available in the config")
            .when(!col("enabled"), "destination is disabled")
            .when(col("dest_id").isin(drainAbortList: _*), "destination configured to abort")
            .when(col("job_run_id") =!= "" && col("run_id").isNotNull, "cancelled jobRunID")
            .otherwise("kept"))
        .groupBy(col("dest_id"), col("reason"))
        .agg(count(lit(1)).as("n_jobs"))
    }),

    // S4: internal retl/extract ingest — recordId validation per
    // extractRecordID (rules.go:154-172): empty, object and array
    // record ids are rejected with the reference's error classes.
    "s4_retl_ingest" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      Seq(
        (1L, """{"recordId":"r1","event":"sync"}"""),
        (2L, """{"recordId":"","event":"sync"}"""),
        (3L, """{"recordId":{"a":1},"event":"sync"}"""),
        (4L, """{"recordId":[1,2],"event":"sync"}"""),
        (5L, """{"event":"sync"}"""),
        (6L, """{"recordId":"r6","event":"sync"}""")).toDF("job_id", "js")
        .withColumn("record_raw", get_json_object(col("js"), "$.recordId"))
        .withColumn("status",
          when(col("record_raw").isNull || col("record_raw") === "", "err_record_id_empty")
            .when(col("record_raw").startsWith("{"), "err_record_id_object")
            .when(col("record_raw").startsWith("["), "err_record_id_array")
            .otherwise("ok"))
        .select(col("job_id"),
          when(col("status") === "ok", col("record_raw")).as("record_id"),
          col("status"))
    }),

    // D3: throttling — deliver at most 5 events per (destination,
    // minute), defer the rest (router/throttler GCRA shape reduced to
    // a per-window cap; the adaptive part is d3b). The first-5
    // selection is a bounded MIN-K AGGREGATE, not a sort window:
    // MinKAggregator's buffer never exceeds k pairs, so map-side
    // partial aggregation caps a hot (type, minute)'s shuffle
    // contribution at k per mapper — the r6 watch item on d3. The
    // per-row status then comes from one co-partitioned equi-join of
    // the events against their group's admission threshold (the k-th
    // smallest (ts, event_id) pair; exact because pairs are unique).
    // D9: DYNAMIC WORKER-BUFFER ADVISOR
    // (router/worker_buffer_calculator.go:40-70): buffer size per
    // delivery worker = ceil(max(throughput SMA, pickup batch /
    // workers, jobs-to-batch) × scaling) with the SLOW-START arm —
    // SMA under 1 job/tick forces buffer 1 to introduce backpressure.
    // Ticks are calendar HOURS on a DENSE grid (one sequence()
    // explode off the global span scalar — calendar-bounded whatever
    // the corpus, a11's pattern; hour grain keeps both arms live at
    // gate scale — minute ticks read as slow-start everywhere; the
    // grid runs 12 ticks past the last event so the feed-stopped
    // slow-start collapse to buffer 1 is pinned at every sf), all integer milli-arithmetic, one
    // documented truncation in the SMA and an exact (x·2+999) DIV
    // 1000 ceiling. Config: batch 16 / 8 workers (m2 = 2),
    // jobs-to-batch 3, scale 2.0, minBuffer 1.
    "d9_buffer_advisor" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val ev = Tables.events(s, dir).select(
        (col("user_id") % 4).as("dest"),
        expr("unix_micros(ts) DIV 3600000000").as("m"))
      val counts = ev.groupBy(col("dest"), col("m")).agg(count(lit(1)).as("cnt"))
      val grid = ev.agg(min(col("m")).as("m0"), max(col("m")).as("m1"))
        .select(explode(expr("sequence(m0, m1 + 12)")).as("m")) // 12 idle ticks: the feed-stopped slow-start regime
        .crossJoin(broadcast((0L until 4L).toDF("dest")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("dest")).orderBy(col("m")).rangeBetween(-9, 0)
      grid.join(counts, Seq("dest", "m"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
        .withColumn("sum_w", sum(col("cnt") * 1000).over(w))
        .withColumn("n_w", count(lit(1)).over(w))
        .withColumn("sma_milli", expr("sum_w DIV n_w"))
        .withColumn("buffer_size", expr(
          """CASE WHEN sma_milli < 1000 THEN 1L
             ELSE greatest((greatest(sma_milli, 3000L) * 2 + 999) DIV 1000, 1L)
             END"""))
        .select(col("dest"), col("m"), col("cnt"), col("sma_milli"),
          col("buffer_size"))
    }),

    "d3_throttle" -> ((s, dir) => {
      val minK = udaf(new graft.functions.MinKAggregator(5))
      val ev = Tables.events(s, dir)
        .withColumn("minute_us", unix_micros(date_trunc("minute", col("ts"))))
        .withColumn("ts_us", unix_micros(col("ts")))
      val thr = ev.groupBy(col("event_type"), col("minute_us"))
        .agg(minK(col("ts_us"), col("event_id")).as("thr"))
      ev.join(thr, Seq("event_type", "minute_us"))
        .withColumn("status",
          when(col("ts_us") < col("thr.a") ||
               (col("ts_us") === col("thr.a") && col("event_id") <= col("thr.b")),
            "delivered").otherwise("throttled"))
        .groupBy(col("event_type"), col("status"))
        .agg(count(lit(1)).as("n"))
    }),

    // L1: staging-file batching — group files into upload jobs of 960
    // per destination (router.go:629-713; the reference batches per
    // (source, destination) — naturally higher-cardinality keys; here
    // event_type stands in, which is LOW-NDV, so the global sequence
    // number per type is computed with the ta6 two-level prefix-sum
    // instead of one corpus-wide ordered window per type. Bucket size
    // is ~sqrt(id range) so BOTH levels stay sublinear: each
    // (event_type, bucket) local window holds ~sqrt(N) rows and the
    // per-type prefix window sees ~sqrt(N) bucket-total rows. The
    // bucket-totals table grows as sqrt(N) too, so it gets NO forced
    // broadcast hint — AQE broadcasts it while it fits and falls back
    // to a co-partitioned hash join beyond that. The sqrt sizing costs
    // one MEMOIZED scalar max() statistic (Tables.maxIdStat) — not a
    // per-construction job: ScaleGuardSpec builds every query several
    // times, and the memo also guards the empty/all-null table case.
    "l1_staging_batches" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val maxId = Tables.maxIdStat(s, dir, "events", "event_id")
      val bucketSize = math.max(1L, math.sqrt(maxId.toDouble).toLong)
      val d = ev
        .withColumn("bucket", expr(s"CAST(event_id DIV $bucketSize AS BIGINT)"))
      val wLocal = Window.partitionBy(col("event_type"), col("bucket"))
        .orderBy(col("event_id").asc)
      val wPrefix = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val prefix = d.groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("btot"))
        .withColumn("pfx", coalesce(sum(col("btot")).over(wPrefix), lit(0L)))
        .select(col("event_type"), col("bucket"), col("pfx"))
      d.withColumn("rn_local", row_number().over(wLocal).cast("long"))
        .join(prefix, Seq("event_type", "bucket"))
        .withColumn("rn", col("pfx") + col("rn_local"))
        .withColumn("batch_no", expr("CAST((rn - 1) DIV 960 AS BIGINT)"))
        .groupBy(col("event_type"), col("batch_no"))
        .agg(count(lit(1)).as("n_files"),
          min(col("event_id")).as("first_file"), max(col("event_id")).as("last_file"))
    }),

    // L2: upload state machine — resumable state log; the current
    // state is the latest row, terminality decides redrive
    // (upload.go:285-493).
    "l2_upload_states" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val w = Window.partitionBy(col("upload_id")).orderBy(col("seq").desc)
      uploadLog.toDF("upload_id", "seq", "state")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("upload_id"), col("state").as("current_state"),
          col("state").isin("exported_data", "aborted").as("terminal"))
    }),

    // L11: DDL diff — columns to ADD (in staging, not in warehouse)
    // and to ALTER string→text (schema.go:294-342 precedence diff);
    // the apply side is Delta mergeSchema / ALTER TABLE.
    "l11_schema_diff" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val wh = whSchema.toDF("table_name", "column_name", "wh_type")
      val st = stagingSchema.toDF("table_name", "column_name", "st_type")
      st.join(wh, Seq("table_name", "column_name"), "left")
        .withColumn("action",
          when(col("wh_type").isNull, lit("add"))
            .when(col("wh_type") === "string" && col("st_type") === "text",
              lit("alter_to_text")))
        .filter(col("action").isNotNull)
        .select(col("table_name"), col("column_name"), col("st_type").as("column_type"),
          col("action"))
    }),

    // VAL1: destination pre-flight validation steps — the ordered,
    // per-destination-type step table a connection wizard walks before
    // the first sync (warehouse/validations/steps.go:19-64): snowpipe
    // streaming gets the 4 connection/DDL probes and NO object-storage
    // step; GCS/Azure datalakes get ONLY object storage; an S3
    // datalake adds the Glue DDL probes (minus load) only when its
    // config opts into a Glue schema repository
    // (schema-repository.go UseGlue); every true warehouse gets all
    // six through load-table. The rules live in ONE case over a
    // destination-registry fixture (s3c/t14b pattern — adding a
    // destination is a registry row) and posexplode keeps the step
    // ORDER a checked output, not a comment.
    "val1_preflight_steps" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val dests = Seq(
        ("d1", "SNOWPIPE_STREAMING", false), ("d2", "GCS_DATALAKE", false),
        ("d3", "AZURE_DATALAKE", false), ("d4", "S3_DATALAKE", true),
        ("d5", "S3_DATALAKE", false), ("d6", "POSTGRES", false),
        ("d7", "SNOWFLAKE", false), ("d8", "BQ", false),
        ("d9", "CLICKHOUSE", false)
      ).toDF("dest_id", "dest_type", "use_glue")
      val ddlProbes = Seq("Verifying Create Schema",
        "Verifying Create and Alter Table", "Verifying Fetch Schema")
      val steps = when(col("dest_type") === "SNOWPIPE_STREAMING",
          array(("Verifying Connections" +: ddlProbes).map(lit): _*))
        .when(col("dest_type").isin("GCS_DATALAKE", "AZURE_DATALAKE") ||
            (col("dest_type") === "S3_DATALAKE" && !col("use_glue")),
          array(lit("Verifying Object Storage")))
        .when(col("dest_type") === "S3_DATALAKE" && col("use_glue"),
          array(("Verifying Object Storage" +: ddlProbes).map(lit): _*))
        .otherwise(array(("Verifying Object Storage" +: "Verifying Connections" +:
          ddlProbes :+ "Verifying Load Table").map(lit): _*))
      dests.withColumn("steps", steps)
        .select(col("dest_id"), col("dest_type"),
          posexplode(col("steps")).as(Seq("pos", "step_name")))
        .select(col("dest_id"), col("dest_type"),
          (col("pos") + 1).cast("long").as("step_id"), col("step_name"))
    }),

    // VAL2: pre-flight step EXECUTION — validate.go:132-168 runs the
    // selected steps IN ORDER and stops at the first failure: earlier
    // steps are marked success, the failing step carries the error,
    // later steps are never attempted. Here the six warehouse probes
    // run against real local resources (an object-store dir for the
    // storage roundtrip; an embedded Derby database for connection /
    // CREATE SCHEMA / CREATE+ALTER TABLE / metadata fetch / test-row
    // load — the l11 JDBC stand-in) for one healthy destination and
    // one whose object storage is broken, so the short-circuit
    // semantics are a checked output, not a comment. Driver-side
    // config-sized work, like the mmdb parse and IVF centroids.
    "val2_preflight_execute" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val stepNames = Seq("Verifying Object Storage", "Verifying Connections",
        "Verifying Create Schema", "Verifying Create and Alter Table",
        "Verifying Fetch Schema", "Verifying Load Table")
      def runSteps(destId: String, objectStore: java.nio.file.Path,
                   url: String): Seq[(String, Long, String, Boolean, Boolean)] = {
        var failed = false
        def conn() = java.sql.DriverManager.getConnection(url)
        val rows = stepNames.zipWithIndex.map { case (name, i) =>
          val attempted = !failed
          val ok = attempted && (try {
            name match {
              case "Verifying Object Storage" =>
                val f = objectStore.resolve("preflight_check.txt")
                java.nio.file.Files.write(f, "ping".getBytes("UTF-8"))
                new String(java.nio.file.Files.readAllBytes(f), "UTF-8") == "ping"
              case "Verifying Connections" =>
                val c = conn(); c.close(); true
              case "Verifying Create Schema" =>
                val c = conn()
                try c.createStatement().execute("CREATE SCHEMA graft_preflight")
                finally c.close()
                true
              case "Verifying Create and Alter Table" =>
                val c = conn()
                try {
                  c.createStatement().execute(
                    "CREATE TABLE graft_preflight.setup_test (id INT)")
                  c.createStatement().execute(
                    "ALTER TABLE graft_preflight.setup_test ADD COLUMN val VARCHAR(32)")
                } finally c.close()
                true
              case "Verifying Fetch Schema" =>
                val c = conn()
                try {
                  val rs = c.getMetaData.getColumns(null, "GRAFT_PREFLIGHT", "SETUP_TEST", null)
                  var n = 0; while (rs.next()) n += 1
                  n == 2
                } finally c.close()
              case _ => // Verifying Load Table
                val c = conn()
                try {
                  c.createStatement().execute(
                    "INSERT INTO graft_preflight.setup_test VALUES (1, 'a')")
                  val rs = c.createStatement().executeQuery(
                    "SELECT COUNT(*) FROM graft_preflight.setup_test")
                  rs.next() && rs.getInt(1) == 1
                } finally c.close()
            }
          } catch { case scala.util.control.NonFatal(_) => false })
          if (attempted && !ok) failed = true
          (destId, (i + 1).toLong, name, ok, attempted)
        }
        rows
      }
      // per-construction Derby database, dropped afterwards so repeated
      // query constructions (smoke/guard/bench passes) stay idempotent
      val dbName = s"graft_val2_${java.util.UUID.randomUUID.toString.replace("-", "")}"
      val url = s"jdbc:derby:memory:$dbName;create=true"
      val okStore = java.nio.file.Paths.get(State.scratchDir(s, "val2_store"))
      // a destination whose object storage is a plain FILE: the store
      // write throws, step 1 fails, steps 2-6 must never run
      val badStore = java.nio.file.Files.createFile(
        java.nio.file.Paths.get(State.scratchDir(s, "val2_bad"), "store.notadir"))
      val rows =
        try runSteps("d_ok", okStore, url) ++ runSteps("d_bad", badStore, url)
        finally {
          try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
          catch { case _: java.sql.SQLException => () } // drop signals via exception
        }
      rows.toDF("dest_id", "step_id", "step_name", "success", "attempted")
    }),

    // T5: geolocation enrichment — broadcast range join of a numeric
    // ip against [start, end] buckets (internal/enricher/geolocation.
    // go:68-143). At 100 TB: bucket both sides by ip>>16 so the range
    // join stays a co-partitioned equi-join + local between.
    "t5_geo_enrich" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val ranges = geoRanges.toDF("ip_start", "ip_end", "country")
      Tables.events(s, dir)
        .withColumn("ip_int", (col("user_id") * 997 + k) % 100000)
        .join(broadcast(ranges),
          col("ip_int").between(col("ip_start"), col("ip_end")), "left")
        .groupBy(col("country")).agg(count(lit(1)).as("n"))
    }),

    // T8: tracking-plan validation — required keys, expected types,
    // enum membership and value patterns against the flattened event
    // schema, the JSON-Schema subset the reference's tracking-plan
    // validator enforces (processor/trackingplan.go:69-168 delegates
    // to JSON-Schema required/type/enum/pattern). Violations keep the
    // event flowing to a violations output, not an exception.
    "t8_tracking_plan" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      JsonFlatten.register(s)
      val plan = Seq(
        ("a", "int", null, null, Some(0.0), Some(100.0)),
        ("b_c", "float", null, null, None, None),
        ("t", "datetime", null, null, None, None),
        ("ev", "string", "click,view,purchase", null, None, None),
        ("sku", "string", null, "^SKU-[0-9]{4}$", None, None))
        .map { case (k, t, e, p, mn, mx) =>
          (k, t, e, p, mn.map(Double.box).orNull, mx.map(Double.box).orNull)
        }
        .toDF("plan_key", "expected_type", "enum_vals", "pattern", "min_val", "max_val")
      val fixture = Seq(
        1L -> """{"a":1,"b":{"c":2.5},"t":"2024-03-05T10:11:12Z","ev":"click","sku":"SKU-0042"}""",
        2L -> """{"a":"oops","b":{"c":2.5},"ev":"scroll","sku":"SKU-1"}""",
        3L -> """{"b":{"c":"xx"},"t":"2024-01-01","ev":"view","sku":"SKU-9999"}""",
        4L -> """{"a":250,"b":{"c":1.0},"t":"2024-01-02","ev":"view","sku":"SKU-1234"}""").toDF("id", "js")
      val actual = fixture
        .select(col("id").as("aid"),
          explode(callUDF("flatten_json_types", col("js"))).as(Seq("key", "type")))
      val values = fixture
        .select(col("id").as("vid"),
          explode(callUDF("flatten_json", col("js"))).as(Seq("vkey", "value")))
      fixture.select(col("id").as("event_id")).crossJoin(plan)
        .join(actual,
          col("event_id") === col("aid") && col("plan_key") === col("key"), "left")
        .join(values,
          col("event_id") === col("vid") && col("plan_key") === col("vkey"), "left")
        .withColumn("violation",
          when(col("type").isNull, lit("missing-required"))
            .when(col("type") =!= col("expected_type"), lit("type-mismatch"))
            .when(col("enum_vals").isNotNull &&
              !array_contains(split(col("enum_vals"), ","), col("value")),
              lit("enum-violation"))
            .when(col("pattern").isNotNull && !expr("regexp_like(value, pattern)"),
              lit("pattern-mismatch"))
            .when(col("min_val").isNotNull &&
              (col("value").cast("double") < col("min_val") ||
                col("value").cast("double") > col("max_val")),
              lit("bounds-violation")))
        .filter(col("violation").isNotNull)
        .select(col("event_id"), col("plan_key"), col("violation"))
    }),

    // T8b: NESTED tracking-plan validation — the JSON-Schema coverage
    // t8 lacks (reference processor/trackingplan.go:69-168 validates
    // arbitrary nested schemas including array items): nested object
    // properties (address_city), array constraints (minItems), and
    // per-ELEMENT item-schema checks (required/type/pattern/bounds on
    // items[].sku / items[].qty, enum on scalar tags[] elements), each
    // violation reported with its element index. flatten_json_deep
    // walks arrays with positions map-side; the plan is a broadcast
    // fixture, so validation stays one scan + broadcast joins at any
    // scale. DuckDB replays the identical checks with json_type/
    // json_extract over the same plan — the oracle verifies the
    // validation SEMANTICS, not hardcoded outputs.
    "t8b_tracking_plan_nested" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      JsonFlatten.register(s)
      // (key, kind, type, required, enum, pattern, min, max, minItems, parent)
      val plan = Seq(
        ("a", "scalar", "int", true, null, null, Some(0.0), Some(100.0), None, null),
        ("address_city", "scalar", "string", true, null, null, None, None, None, null),
        ("items", "array", "array", true, null, null, None, None, Some(1), null),
        ("items[]_sku", "item", "string", true, null, "^SKU-[0-9]{4}$", None, None, None, "items[]"),
        ("items[]_qty", "item", "int", true, null, null, Some(1.0), Some(10.0), None, "items[]"),
        ("tags[]", "item", "string", false, "red,green,blue", null, None, None, None, null))
        .map { case (k, kd, t, req, e, p, mn, mx, mi, par) =>
          (k, kd, t, req, e, p, mn.map(Double.box).orNull, mx.map(Double.box).orNull,
            mi.map(Int.box).orNull, par)
        }
        .toDF("plan_key", "kind", "expected_type", "required", "enum_vals", "pattern",
          "min_val", "max_val", "min_items", "parent")
      val fixture = Seq(
        1L -> """{"a":5,"address":{"city":"berlin"},"items":[{"sku":"SKU-0001","qty":2}],"tags":["red"]}""",
        2L -> """{"a":50,"items":[{"sku":"SKU-0002","qty":0},{"sku":"SKU-0003","qty":3}],"tags":["green","blue"]}""",
        3L -> """{"a":7,"address":{"city":"oslo"},"items":[],"tags":["purple"]}""",
        4L -> """{"a":"oops","address":{"city":"rome"},"items":[{"qty":4}],"tags":[]}""",
        5L -> """{"a":250,"address":{"city":"kyoto"},"items":[{"sku":"SKU-12","qty":11}],"tags":["red","red"]}""")
        .toDF("id", "js")
      val flat = fixture
        .select(col("id"), explode(callUDF("flatten_json_deep", col("js"))).as("f"))
        .select(col("id").as("fid"), col("f._1").as("path"), col("f._2").as("fidx"),
          col("f._3").as("value"), col("f._4").as("jtype"))
      // one violation expression shared by all three domains; evaluation
      // order matches the oracle's CASE exactly
      val vio =
        when(col("jtype").isNull, when(col("required"), lit("missing-required")))
          .when(col("jtype") =!= col("expected_type"), lit("type-mismatch"))
          .when(col("enum_vals").isNotNull &&
            !array_contains(split(col("enum_vals"), ","), col("value")),
            lit("enum-violation"))
          .when(col("pattern").isNotNull && !expr("regexp_like(value, pattern)"),
            lit("pattern-mismatch"))
          .when(col("min_val").isNotNull &&
            (col("value").cast("double") < col("min_val") ||
              col("value").cast("double") > col("max_val")),
            lit("bounds-violation"))
          .when(col("min_items").isNotNull && col("value").cast("int") < col("min_items"),
            lit("min-items-violation"))
      // domain 1: scalar + array plan keys — one check per (event, key)
      val scalarSide = fixture.select(col("id").as("event_id"))
        .crossJoin(broadcast(plan.filter(col("kind") =!= "item")))
        .join(flat, col("event_id") === col("fid") && col("plan_key") === col("path"), "left")
        .select(col("event_id"), col("plan_key"), lit(-1L).as("item_idx"), vio.as("violation"))
      // domain 2: object array elements — presence markers give the
      // per-element domain, so a missing required property is flagged
      // for exactly the elements that exist
      val markers = flat.filter(col("jtype") === "object")
        .select(col("fid").as("event_id"), col("path").as("parent"), col("fidx").as("item_idx"))
      val objItems = markers
        .join(broadcast(plan.filter(col("kind") === "item" && col("parent").isNotNull)), "parent")
        .join(flat,
          col("event_id") === col("fid") && col("plan_key") === col("path") &&
            col("item_idx") === col("fidx"), "left")
        .select(col("event_id"), col("plan_key"), col("item_idx").cast("long").as("item_idx"),
          vio.as("violation"))
      // domain 3: scalar array elements (tags[]) — each element row is
      // its own domain; required does not apply
      val scalarItems = flat
        .join(broadcast(plan.filter(col("kind") === "item" && col("parent").isNull)),
          col("plan_key") === col("path"))
        .select(col("fid").as("event_id"), col("plan_key"),
          col("fidx").cast("long").as("item_idx"), vio.as("violation"))
      scalarSide.unionByName(objItems).unionByName(scalarItems)
        .filter(col("violation").isNotNull)
        .select(col("event_id"), col("plan_key"), col("item_idx"), col("violation"))
    }),

    // T14: destination transformation, SaaS branch — canonical events
    // projected into per-destination delivery payload formats
    // (processor/internal/transformer/destination_transformer: each
    // destination declares a body shape; the warehouse branch is
    // W1-W10). Three representative formats: a generic JSON webhook
    // body, a query-string attribution API, and a nested profile
    // object — each a pure projection that fuses into the scan, with
    // per-destination event filters applied before the union.
    "t14_destination_format" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val webhook = ev.select(col("event_id"),
        lit("webhook_generic").as("destination"),
        to_json(struct(
          concat(lit("user_"), col("user_id")).as("userId"),
          col("event_type").as("event"),
          col("ts_us").as("sentAt"))).as("payload"))
      val attrib = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), lit("attribution_api").as("destination"),
          concat(lit("u=user_"), col("user_id"), lit("&e="), col("event_type"),
            lit("&t="), col("ts_us")).as("payload"))
      val email = ev.filter(col("event_type") === "signup")
        .select(col("event_id"), lit("emailsvc").as("destination"),
          to_json(struct(
            struct(concat(lit("user_"), col("user_id")).as("id")).as("profile"),
            lit("subscribe").as("action"))).as("payload"))
      webhook.unionByName(attrib).unionByName(email)
    }),

    // T14b: destination-transform REGISTRY — the SaaS payload matrix
    // as DATA, like the webhook source registry: each destination row
    // declares a template kind plus its key names / topic map, and
    // one broadcast join + one CASE over kinds renders every
    // destination's body (processor/internal/transformer/
    // destination_transformer/: embedded kafka
    // {message,userId,topic} with integrations>eventToTopicMap>
    // default topic resolution, embedded pubsub
    // {userId,message,topicId,attributes}; the remaining shapes model
    // the transformer-routed SaaS formats — keyed JSON bodies,
    // query-string APIs, nested profile objects, form posts with
    // per-destination event filters). Payloads are assembled with
    // explicit string concatenation so the oracle is byte-identical
    // by construction; adding destination #16 is one registry row,
    // not code. Scale: events x registry is a broadcast of a
    // config-sized local fixture (ScaleGuard rule (b) legal shape);
    // the 1-in-50 event sample keys the checked output.
    "t14b_destination_registry" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val reg = t14Registry.toDF(
        "destination", "kind", "k1", "k2", "k3", "ftype", "topic_click", "topic_default")
      val ev = Tables.events(s, dir)
        .filter(col("event_id") % 50 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val j = ev.join(broadcast(reg),
        reg("ftype").isNull || reg("ftype") === ev("event_type"))
      val uid = concat(lit("user_"), col("user_id"))
      val topic = when(col("event_type") === "click" && col("topic_click").isNotNull,
        col("topic_click")).otherwise(col("topic_default"))
      val payload = when(col("kind") === "json3",
          concat(lit("{\""), col("k1"), lit("\":\""), uid, lit("\",\""),
            col("k2"), lit("\":\""), col("event_type"), lit("\",\""),
            col("k3"), lit("\":"), col("ts_us"), lit("}")))
        .when(col("kind") === "query3",
          concat(col("k1"), lit("="), uid, lit("&"), col("k2"), lit("="),
            col("event_type"), lit("&"), col("k3"), lit("="), col("ts_us")))
        .when(col("kind") === "profile",
          concat(lit("{\"profile\":{\""), col("k1"), lit("\":\""), uid,
            lit("\"},\"action\":\""), col("k2"), lit("\"}")))
        .when(col("kind") === "kafka",
          concat(lit("{\"message\":{\"userId\":\""), uid, lit("\",\"event\":\""),
            col("event_type"), lit("\",\"ts\":"), col("ts_us"),
            lit("},\"userId\":\""), uid, lit("\",\"topic\":\""), topic, lit("\"}")))
        .when(col("kind") === "pubsub",
          concat(lit("{\"userId\":\""), uid, lit("\",\"message\":{\"userId\":\""),
            uid, lit("\",\"event\":\""), col("event_type"), lit("\",\"ts\":"),
            col("ts_us"), lit("},\"topicId\":\""), topic,
            lit("\",\"attributes\":{\"eventType\":\""), col("event_type"), lit("\"}}")))
        .otherwise( // form
          concat(col("k1"), lit("="), uid, lit("&"), col("k2"), lit("="),
            col("event_type")))
      j.select(col("event_id"), col("destination"), payload.as("payload"))
    }),

    // T5b: geolocation from a REAL MaxMind-format binary — the
    // synthetic mmdb fixture is decoded by the spec-true binary
    // reader (metadata marker scan, 24-bit-record tree walk, typed
    // data section — sources/MmdbGeo.scala; the reference opens these
    // files via the public maxminddb lib, services/geolocation/
    // maxmind.go) into a range table that broadcast-range-joins the
    // events, t5's join shape. The oracle is CLOSED-FORM over the
    // tree's construction rule (octet-cycled /8s + one /9 split), so
    // any decode defect — a wrong record resolution, a bad walk, a
    // misread data pointer — shifts some range boundary and breaks
    // the hash. The mmdb parse is one-time driver-side config work,
    // like the IVF centroids.
    "t5b_geo_mmdb" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val nets = graft.sources.MmdbGeo.networks(graft.sources.MmdbGeo.fixtureBytes)
      val rdf = nets.toDF("ip_start", "ip_end", "country")
      Tables.events(s, dir)
        .withColumn("octet", (col("user_id") % 8 + 1) * 10)
        .withColumn("ip", // Knuth multiplicative mix so both /9 halves occur at every SF;
          // event_id is masked to 24 bits BEFORE the multiply — identical residue
          // mod 2^24 ((e*C) mod m = ((e mod m)*C) mod m), but the product can no
          // longer overflow Long for event_id >= 3.4e9 (where Spark would wrap
          // silently while DuckDB raises, diverging the engines at high SF/K)
          col("octet") * 16777216L + ((col("event_id") % 16777216L) * 2654435761L) % 16777216L)
        .join(broadcast(rdf),
          col("ip") >= col("ip_start") && col("ip") <= col("ip_end"))
        .groupBy(col("country"))
        .agg(count(lit(1)).as("n"), min(col("ip")).as("min_ip"), max(col("ip")).as("max_ip"))
    }),

    // T13: user-transformation surface — a named registry of pure
    // transforms with the 1→0 / 1→1 / 1→N contract of JS user
    // transformations (user_transformer.go:242-511): errors dropped,
    // purchases split into order + receipt rows, others tagged.
    "t13_user_transform" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("event_type") =!= "error") // 1→0
        .withColumn("out_type",
          explode(when(col("event_type") === "purchase",
            array(lit("purchase_order"), lit("purchase_receipt"))) // 1→N
            .otherwise(array(concat(lit("app_"), col("event_type")))))) // 1→1
        .groupBy(col("out_type")).agg(count(lit(1)).as("n"))
    }),

    // T13b: UT MIRRORING — shadow-compare of a user-transformation
    // upgrade (user_transformer.go:68-69 ForMirroring, :348-368
    // mirror-filtered handling; processor.go:3225-3360 sanity-check
    // compare emitting utMirroringEqual/Different/Filtered counters):
    // the candidate registry version runs alongside production over
    // the same events and per-message outputs are compared — how an
    // operator validates a transformation upgrade before cutover.
    // Spark-first shape: both versions are PURE column transforms, so
    // the mirror is a second expression in the SAME projection — one
    // narrow corpus scan, no second transformer fleet and no
    // messageId join (the full-outer-join shape is only forced when
    // the versions run as separate jobs). The compare is array
    // equality on each message's ordered output list; the rollup
    // carries the reference's response classes plus both stage-out
    // row counts (proc_transform_stage_out_count's success counter).
    // Candidate delta vs t13's production registry: errors quarantine
    // instead of dropping (primary_filtered), low-value views drop
    // (mirror_filtered), big purchases gain an audit row and clicks
    // rename (different); everything else is equal.
    "t13b_ut_mirroring" -> ((s, dir) => {
      val emptyOut = expr("CAST(array() AS ARRAY<STRING>)")
      val prod = when(col("event_type") === "error", emptyOut)
        .when(col("event_type") === "purchase",
          array(lit("purchase_order"), lit("purchase_receipt")))
        .otherwise(array(concat(lit("app_"), col("event_type"))))
      val mirror = when(col("event_type") === "error",
          array(lit("error_quarantine")))
        .when(col("event_type") === "view" && col("value") < 1.0d, emptyOut)
        .when(col("event_type") === "purchase" && col("value") >= 100.0d,
          array(lit("purchase_order"), lit("purchase_receipt"),
            lit("purchase_audit")))
        .when(col("event_type") === "purchase",
          array(lit("purchase_order"), lit("purchase_receipt")))
        .when(col("event_type") === "click", array(lit("app_tap")))
        .otherwise(array(concat(lit("app_"), col("event_type"))))
      Tables.events(s, dir)
        .select(col("event_id"), prod.as("out_prod"), mirror.as("out_mirror"))
        .withColumn("comparison",
          when(col("out_prod") === col("out_mirror"), "equal")
            .when(size(col("out_mirror")) === 0, "mirror_filtered")
            .when(size(col("out_prod")) === 0, "primary_filtered")
            .otherwise("different"))
        .groupBy(col("comparison"))
        .agg(count(lit(1)).as("n_events"),
          sum(size(col("out_prod")).cast("long")).as("out_rows_primary"),
          sum(size(col("out_mirror")).cast("long")).as("out_rows_mirror"))
    }),

    // T15: source hydration — broadcast lookup enriching events with
    // source account config (processor/src_hydration_stage.go shape).
    "t15_source_hydration" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val accounts = Seq(
        (0L, "acme"), (1L, "globex"), (2L, "initech"), (3L, "umbrella"), (4L, "stark"))
        .toDF("source_id", "account_name")
      Tables.events(s, dir)
        .withColumn("source_id", col("user_id") % 5)
        .join(broadcast(accounts), Seq("source_id"))
        .groupBy(col("account_name")).agg(count(lit(1)).as("n"))
    }),

    // A6: per-source event stats (processor.go:1609-1650).
    "a6_source_event_stats" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("source_id", col("user_id") % 5)
        .groupBy(col("source_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // W3: configured JSON-path passthrough — subtree `b` stays one
    // JSON string column instead of flattening (jsonpaths.go:1-42).
    "w3_jsonpath_passthrough" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      JsonFlatten.register(s)
      Seq(
        1L -> """{"a":1,"b":{"c":2.5,"d":{"e":"x"}},"z":"w"}""",
        2L -> """{"b":{"only":true},"q":7}""").toDF("id", "js")
        .select(col("id"),
          explode(callUDF("flatten_json_paths", col("js"), array(lit("b"))))
            .as(Seq("key", "val")))
    })
  )

  val oracles: Map[String, String] = Map(
    "d9_buffer_advisor" ->
      """WITH ev AS (SELECT user_id % 4 AS dest,
              epoch_us(ts) // 3600000000 AS m FROM events),
          counts AS (SELECT dest, m, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
          span AS (SELECT MIN(m) AS m0, MAX(m) AS m1 FROM ev),
          grid AS (SELECT g.m, d.dest
                   FROM (SELECT unnest(generate_series(m0, m1 + 12)) AS m
                         FROM span) g
                   CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS dest) d),
          dense AS (SELECT g.dest, g.m, COALESCE(c.cnt, 0) AS cnt
                    FROM grid g LEFT JOIN counts c
                      ON g.dest = c.dest AND g.m = c.m),
          sma AS (SELECT dest, m, cnt,
              CAST(SUM(cnt * 1000) OVER w AS BIGINT)
                // COUNT(*) OVER w AS sma_milli
            FROM dense
            WINDOW w AS (PARTITION BY dest ORDER BY m
                         RANGE BETWEEN 9 PRECEDING AND CURRENT ROW))
          SELECT CAST(dest AS BIGINT) AS dest, m, CAST(cnt AS BIGINT) AS cnt,
            CAST(sma_milli AS BIGINT) AS sma_milli,
            CAST(CASE WHEN sma_milli < 1000 THEN 1
              ELSE greatest((greatest(sma_milli, 3000) * 2 + 999) // 1000, 1)
              END AS BIGINT) AS buffer_size
          FROM sma""",
    "d2_event_order_barrier" ->
      """SELECT destination,
           CASE WHEN first_failed IS NULL OR event_id < first_failed THEN 'delivered'
                WHEN event_id = first_failed THEN 'retrying'
                ELSE 'blocked' END AS delivery_state,
           COUNT(*) AS n
         FROM (
           SELECT event_type AS destination, event_id,
             MIN(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 11 = 0
                      THEN event_id END)
               OVER (PARTITION BY user_id, event_type) AS first_failed
           FROM events) t
         GROUP BY 1, 2""",
    "d1_router_delivery" ->
      """SELECT job_state, COUNT(*) AS n,
           CAST(SUM(backoff_s) AS BIGINT) AS total_backoff_s
         FROM (
           SELECT CASE WHEN code < 300 THEN 'succeeded'
                       WHEN code = 429 OR code >= 500 THEN 'waiting_retry'
                       ELSE 'aborted' END AS job_state,
                  CASE WHEN code = 429 OR code >= 500
                       THEN CAST(least(power(2, kk % 4) * 10, 300) AS BIGINT)
                       ELSE 0 END AS backoff_s
           FROM (
             SELECT kk, CASE WHEN kk % 10 < 6 THEN 200 WHEN kk % 10 = 6 THEN 201
                             WHEN kk % 10 = 7 THEN 429 WHEN kk % 10 = 8 THEN 500
                             ELSE 400 END AS code
             FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS kk
                   FROM events))) t
         GROUP BY job_state""",
    // same fixtures as VALUES tables; "now" mirrors the planner stat
    "dr1_router_drain" ->
      s"""WITH nowt AS (SELECT epoch_us(MAX(ts)) // 1000000 AS now_sec FROM events),
          reg AS (SELECT * FROM $drainRegistrySql r(dest_id, enabled, retention_s)),
          dr AS (SELECT * FROM $drainEntriesSql d(run_id, entry_age_s)
                 WHERE entry_age_s < $drainMaxAgeS),
          jobs AS (SELECT
              'D' || CAST(kk % 8 AS VARCHAR) AS dest_id,
              CASE WHEN kk % 7 = 0 THEN 'run-' || CAST(kk % 3 AS VARCHAR)
                   ELSE '' END AS job_run_id,
              now_sec - epoch_us(ts) // 1000000 AS age_s
            FROM (SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS kk, ts
                  FROM events)
            CROSS JOIN nowt),
          dec AS (SELECT j.dest_id,
              CASE WHEN j.age_s > COALESCE(r.retention_s, $drainDefaultRetentionS)
                     THEN 'job expired'
                   WHEN r.dest_id IS NULL
                     THEN 'destination is not available in the config'
                   WHEN NOT r.enabled THEN 'destination is disabled'
                   WHEN j.dest_id IN (${drainAbortList.map(d => s"'$d'").mkString(", ")})
                     THEN 'destination configured to abort'
                   WHEN j.job_run_id <> '' AND d.run_id IS NOT NULL
                     THEN 'cancelled jobRunID'
                   ELSE 'kept' END AS reason
            FROM jobs j LEFT JOIN reg r USING (dest_id)
            LEFT JOIN dr d ON j.job_run_id = d.run_id)
          SELECT dest_id, reason, COUNT(*) AS n_jobs FROM dec GROUP BY 1, 2""",
    "s4_retl_ingest" ->
      """SELECT job_id,
           CASE WHEN status = 'ok' THEN record_raw END AS record_id, status
         FROM (
           SELECT job_id, json_extract_string(js, '$.recordId') AS record_raw,
             CASE WHEN json_extract(js, '$.recordId') IS NULL
                    OR json_extract_string(js, '$.recordId') = '' THEN 'err_record_id_empty'
                  WHEN json_type(js, '$.recordId') = 'OBJECT' THEN 'err_record_id_object'
                  WHEN json_type(js, '$.recordId') = 'ARRAY' THEN 'err_record_id_array'
                  ELSE 'ok' END AS status
           FROM (VALUES
             (1, '{"recordId":"r1","event":"sync"}'),
             (2, '{"recordId":"","event":"sync"}'),
             (3, '{"recordId":{"a":1},"event":"sync"}'),
             (4, '{"recordId":[1,2],"event":"sync"}'),
             (5, '{"event":"sync"}'),
             (6, '{"recordId":"r6","event":"sync"}')) v(job_id, js))""",
    "d3_throttle" ->
      """SELECT event_type, status, COUNT(*) AS n FROM (
           SELECT event_type,
             CASE WHEN ROW_NUMBER() OVER (
                    PARTITION BY event_type, date_trunc('minute', ts)
                    ORDER BY ts ASC, event_id ASC) <= 5
                  THEN 'delivered' ELSE 'throttled' END AS status
           FROM events) t GROUP BY 1, 2""",
    "l1_staging_batches" ->
      """SELECT event_type, batch_no, COUNT(*) AS n_files,
                MIN(event_id) AS first_file, MAX(event_id) AS last_file
         FROM (
           SELECT event_type, event_id,
             CAST(floor((ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id ASC) - 1) / 960) AS BIGINT) AS batch_no
           FROM events) t
         GROUP BY 1, 2""",
    "l2_upload_states" ->
      s"""SELECT upload_id, state AS current_state,
            state IN ('exported_data', 'aborted') AS terminal
          FROM (
            SELECT upload_id, state,
              ROW_NUMBER() OVER (PARTITION BY upload_id ORDER BY seq DESC) AS rn
            FROM $uploadLogSql AS l(upload_id, seq, state)) t
          WHERE rn = 1""",
    "l11_schema_diff" ->
      s"""SELECT st.table_name, st.column_name, st.st_type AS column_type,
            CASE WHEN wh.wh_type IS NULL THEN 'add'
                 WHEN wh.wh_type = 'string' AND st.st_type = 'text' THEN 'alter_to_text'
            END AS action
          FROM ${schemaSql(stagingSchema)} AS st(table_name, column_name, st_type)
          LEFT JOIN ${schemaSql(whSchema)} AS wh(table_name, column_name, wh_type)
            USING (table_name, column_name)
          WHERE wh.wh_type IS NULL
             OR (wh.wh_type = 'string' AND st.st_type = 'text')""",
    // independent re-statement of the steps.go rules: same case, list
    // literals + zipped unnest for the ordered (step_id, step_name)
    "val1_preflight_steps" ->
      """WITH d(dest_id, dest_type, use_glue) AS (VALUES
           ('d1','SNOWPIPE_STREAMING', false), ('d2','GCS_DATALAKE', false),
           ('d3','AZURE_DATALAKE', false), ('d4','S3_DATALAKE', true),
           ('d5','S3_DATALAKE', false), ('d6','POSTGRES', false),
           ('d7','SNOWFLAKE', false), ('d8','BQ', false),
           ('d9','CLICKHOUSE', false)),
         s AS (SELECT dest_id, dest_type,
           CASE
             WHEN dest_type = 'SNOWPIPE_STREAMING' THEN
               ['Verifying Connections', 'Verifying Create Schema',
                'Verifying Create and Alter Table', 'Verifying Fetch Schema']
             WHEN dest_type IN ('GCS_DATALAKE', 'AZURE_DATALAKE')
                  OR (dest_type = 'S3_DATALAKE' AND NOT use_glue) THEN
               ['Verifying Object Storage']
             WHEN dest_type = 'S3_DATALAKE' AND use_glue THEN
               ['Verifying Object Storage', 'Verifying Create Schema',
                'Verifying Create and Alter Table', 'Verifying Fetch Schema']
             ELSE
               ['Verifying Object Storage', 'Verifying Connections',
                'Verifying Create Schema', 'Verifying Create and Alter Table',
                'Verifying Fetch Schema', 'Verifying Load Table']
           END AS steps
           FROM d)
         SELECT dest_id, dest_type,
           unnest(generate_series(1, len(steps))) AS step_id,
           unnest(steps) AS step_name
         FROM s""",
    // the expected board IS the semantics: d_ok walks all six probes,
    // d_bad fails object storage and short-circuits the rest
    "val2_preflight_execute" ->
      """SELECT * FROM (VALUES
           ('d_ok', CAST(1 AS BIGINT), 'Verifying Object Storage', true, true),
           ('d_ok', CAST(2 AS BIGINT), 'Verifying Connections', true, true),
           ('d_ok', CAST(3 AS BIGINT), 'Verifying Create Schema', true, true),
           ('d_ok', CAST(4 AS BIGINT), 'Verifying Create and Alter Table', true, true),
           ('d_ok', CAST(5 AS BIGINT), 'Verifying Fetch Schema', true, true),
           ('d_ok', CAST(6 AS BIGINT), 'Verifying Load Table', true, true),
           ('d_bad', CAST(1 AS BIGINT), 'Verifying Object Storage', false, true),
           ('d_bad', CAST(2 AS BIGINT), 'Verifying Connections', false, false),
           ('d_bad', CAST(3 AS BIGINT), 'Verifying Create Schema', false, false),
           ('d_bad', CAST(4 AS BIGINT), 'Verifying Create and Alter Table', false, false),
           ('d_bad', CAST(5 AS BIGINT), 'Verifying Fetch Schema', false, false),
           ('d_bad', CAST(6 AS BIGINT), 'Verifying Load Table', false, false))
         AS t(dest_id, step_id, step_name, success, attempted)""",
    "t5_geo_enrich" ->
      s"""SELECT country, COUNT(*) AS n
          FROM (SELECT (user_id * 997 + CAST(json_extract_string(props, '$$.k') AS BIGINT)) % 100000 AS ip_int
                FROM events) e
          LEFT JOIN ${geoRangesSql} AS g(ip_start, ip_end, country)
            ON e.ip_int BETWEEN g.ip_start AND g.ip_end
          GROUP BY country""",
    "t8_tracking_plan" ->
      """WITH fixture(id, js) AS (VALUES
           (1, '{"a":1,"b":{"c":2.5},"t":"2024-03-05T10:11:12Z","ev":"click","sku":"SKU-0042"}'),
           (2, '{"a":"oops","b":{"c":2.5},"ev":"scroll","sku":"SKU-1"}'),
           (3, '{"b":{"c":"xx"},"t":"2024-01-01","ev":"view","sku":"SKU-9999"}'),
           (4, '{"a":250,"b":{"c":1.0},"t":"2024-01-02","ev":"view","sku":"SKU-1234"}')),
         plan(plan_key, expected_type, enum_vals, pattern, min_val, max_val) AS (VALUES
           ('a', 'int', NULL, NULL, 0.0, 100.0), ('b_c', 'float', NULL, NULL, NULL, NULL),
           ('t', 'datetime', NULL, NULL, NULL, NULL),
           ('ev', 'string', 'click,view,purchase', NULL, NULL, NULL),
           ('sku', 'string', NULL, '^SKU-[0-9]{4}$', NULL, NULL)),
         actual AS (
           SELECT id, k AS key, json_extract_string(js, p) AS value,
             CASE json_type(json_extract(js, p))
               WHEN 'BOOLEAN' THEN 'boolean'
               WHEN 'UBIGINT' THEN 'int' WHEN 'BIGINT' THEN 'int'
               WHEN 'DOUBLE' THEN (CASE WHEN CAST(json_extract(js, p) AS DOUBLE)
                     = floor(CAST(json_extract(js, p) AS DOUBLE)) THEN 'int' ELSE 'float' END)
               WHEN 'VARCHAR' THEN (CASE WHEN regexp_matches(json_extract_string(js, p),
                     '^\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2}(\.\d+)?)?(Z|[+-]\d{2}:?\d{2})?)?$')
                     THEN 'datetime' ELSE 'string' END)
               ELSE 'json' END AS type
           FROM (
             SELECT f.id, f.js, x.k,
               CASE x.k WHEN 'b_c' THEN '$.b.c' ELSE '$.' || x.k END AS p
             FROM fixture f CROSS JOIN (VALUES ('a'), ('b_c'), ('t'), ('ev'), ('sku')) x(k))
           WHERE json_extract(js, p) IS NOT NULL)
         SELECT f.id AS event_id, p.plan_key,
           CASE WHEN a.type IS NULL THEN 'missing-required'
                WHEN a.type <> p.expected_type THEN 'type-mismatch'
                WHEN p.enum_vals IS NOT NULL
                     AND NOT list_contains(string_split(p.enum_vals, ','), a.value)
                  THEN 'enum-violation'
                WHEN p.pattern IS NOT NULL
                     AND NOT regexp_matches(a.value, p.pattern)
                  THEN 'pattern-mismatch'
                WHEN p.min_val IS NOT NULL
                     AND (CAST(a.value AS DOUBLE) < p.min_val
                          OR CAST(a.value AS DOUBLE) > p.max_val)
                  THEN 'bounds-violation' END AS violation
         FROM fixture f CROSS JOIN plan p
         LEFT JOIN actual a ON f.id = a.id AND p.plan_key = a.key
         WHERE CASE WHEN a.type IS NULL THEN 'missing-required'
                WHEN a.type <> p.expected_type THEN 'type-mismatch'
                WHEN p.enum_vals IS NOT NULL
                     AND NOT list_contains(string_split(p.enum_vals, ','), a.value)
                  THEN 'enum-violation'
                WHEN p.pattern IS NOT NULL
                     AND NOT regexp_matches(a.value, p.pattern)
                  THEN 'pattern-mismatch'
                WHEN p.min_val IS NOT NULL
                     AND (CAST(a.value AS DOUBLE) < p.min_val
                          OR CAST(a.value AS DOUBLE) > p.max_val)
                  THEN 'bounds-violation' END IS NOT NULL""",
    // Replays every t8b check with DuckDB's own json_type/json_extract
    // over the same plan: scalar/nested keys, array minItems, and
    // per-element item schemas iterated via range(json_array_length).
    "t8b_tracking_plan_nested" ->
      """WITH f(event_id, js) AS (VALUES
           (1, '{"a":5,"address":{"city":"berlin"},"items":[{"sku":"SKU-0001","qty":2}],"tags":["red"]}'),
           (2, '{"a":50,"items":[{"sku":"SKU-0002","qty":0},{"sku":"SKU-0003","qty":3}],"tags":["green","blue"]}'),
           (3, '{"a":7,"address":{"city":"oslo"},"items":[],"tags":["purple"]}'),
           (4, '{"a":"oops","address":{"city":"rome"},"items":[{"qty":4}],"tags":[]}'),
           (5, '{"a":250,"address":{"city":"kyoto"},"items":[{"sku":"SKU-12","qty":11}],"tags":["red","red"]}')),
         scalars AS (
           SELECT event_id, 'a' AS plan_key, -1 AS item_idx,
             CASE WHEN json_type(js,'$.a') IS NULL THEN 'missing-required'
                  WHEN json_type(js,'$.a') NOT IN ('BIGINT','UBIGINT') THEN 'type-mismatch'
                  WHEN CAST(json_extract_string(js,'$.a') AS DOUBLE) < 0
                       OR CAST(json_extract_string(js,'$.a') AS DOUBLE) > 100
                    THEN 'bounds-violation' END AS violation
           FROM f
           UNION ALL
           SELECT event_id, 'address_city', -1,
             CASE WHEN json_type(js,'$.address.city') IS NULL THEN 'missing-required'
                  WHEN json_type(js,'$.address.city') <> 'VARCHAR' THEN 'type-mismatch' END
           FROM f
           UNION ALL
           SELECT event_id, 'items', -1,
             CASE WHEN json_type(js,'$.items') IS NULL THEN 'missing-required'
                  WHEN json_type(js,'$.items') <> 'ARRAY' THEN 'type-mismatch'
                  WHEN json_array_length(js,'$.items') < 1 THEN 'min-items-violation' END
           FROM f),
         item_elems AS (
           SELECT event_id, js, CAST(u.i AS BIGINT) AS item_idx
           FROM f CROSS JOIN UNNEST(range(0,
             CAST(coalesce(json_array_length(js,'$.items'), 0) AS BIGINT))) AS u(i)),
         items AS (
           SELECT event_id, 'items[]_sku' AS plan_key, item_idx,
             CASE WHEN json_type(js, '$.items[' || item_idx || '].sku') IS NULL
                    THEN 'missing-required'
                  WHEN json_type(js, '$.items[' || item_idx || '].sku') <> 'VARCHAR'
                    THEN 'type-mismatch'
                  WHEN NOT regexp_matches(
                       json_extract_string(js, '$.items[' || item_idx || '].sku'),
                       '^SKU-[0-9]{4}$')
                    THEN 'pattern-mismatch' END AS violation
           FROM item_elems
           UNION ALL
           SELECT event_id, 'items[]_qty', item_idx,
             CASE WHEN json_type(js, '$.items[' || item_idx || '].qty') IS NULL
                    THEN 'missing-required'
                  WHEN json_type(js, '$.items[' || item_idx || '].qty')
                       NOT IN ('BIGINT','UBIGINT') THEN 'type-mismatch'
                  WHEN CAST(json_extract_string(js, '$.items[' || item_idx || '].qty')
                       AS DOUBLE) < 1
                       OR CAST(json_extract_string(js, '$.items[' || item_idx || '].qty')
                       AS DOUBLE) > 10
                    THEN 'bounds-violation' END
           FROM item_elems),
         tags AS (
           SELECT event_id, 'tags[]' AS plan_key, CAST(u.i AS BIGINT) AS item_idx,
             CASE WHEN json_type(js, '$.tags[' || u.i || ']') <> 'VARCHAR'
                    THEN 'type-mismatch'
                  WHEN json_extract_string(js, '$.tags[' || u.i || ']')
                       NOT IN ('red','green','blue') THEN 'enum-violation' END AS violation
           FROM f CROSS JOIN UNNEST(range(0,
             CAST(coalesce(json_array_length(js,'$.tags'), 0) AS BIGINT))) AS u(i)),
         allv AS (SELECT * FROM scalars UNION ALL SELECT * FROM items
                  UNION ALL SELECT * FROM tags)
         SELECT CAST(event_id AS BIGINT) AS event_id, plan_key,
                CAST(item_idx AS BIGINT) AS item_idx, violation
         FROM allv WHERE violation IS NOT NULL""",
    "t14_destination_format" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us FROM events)
         SELECT event_id, 'webhook_generic' AS destination,
           CAST(json_object('userId', 'user_' || CAST(user_id AS VARCHAR),
                            'event', event_type, 'sentAt', ts_us) AS VARCHAR) AS payload
         FROM ev
         UNION ALL
         SELECT event_id, 'attribution_api',
           'u=user_' || CAST(user_id AS VARCHAR) || '&e=' || event_type
             || '&t=' || CAST(ts_us AS VARCHAR)
         FROM ev WHERE event_type IN ('click', 'view')
         UNION ALL
         SELECT event_id, 'emailsvc',
           CAST(json_object('profile', json_object('id', 'user_' || CAST(user_id AS VARCHAR)),
                            'action', 'subscribe') AS VARCHAR)
         FROM ev WHERE event_type = 'signup'""",
    "t5b_geo_mmdb" ->
      """SELECT country, COUNT(*) AS n, MIN(ip) AS min_ip, MAX(ip) AS max_ip
         FROM (
           SELECT CASE WHEN octet = 80
                       THEN (CASE WHEN rem < 8388608 THEN 'IN' ELSE 'FR' END)
                       ELSE (CASE (octet // 10 - 1) % 5
                               WHEN 0 THEN 'US' WHEN 1 THEN 'DE' WHEN 2 THEN 'IN'
                               WHEN 3 THEN 'BR' ELSE 'JP' END) END AS country,
                  octet * 16777216 + rem AS ip
           FROM (SELECT (user_id % 8 + 1) * 10 AS octet,
                        ((event_id % 16777216) * 2654435761) % 16777216 AS rem
                 FROM events))
         GROUP BY 1""",
    "t14b_destination_registry" ->
      s"""WITH reg AS (SELECT * FROM $t14RegistrySql
           AS t(destination, kind, k1, k2, k3, ftype, topic_click, topic_default)),
         ev AS (SELECT event_id, 'user_' || CAST(user_id AS VARCHAR) AS uid,
                  event_type, epoch_us(ts) AS ts_us
                FROM events WHERE event_id % 50 = 0),
         j AS (SELECT * FROM ev JOIN reg
                 ON reg.ftype IS NULL OR reg.ftype = ev.event_type)
         SELECT event_id, destination,
           CASE kind
             WHEN 'json3' THEN '{"' || k1 || '":"' || uid || '","' || k2 || '":"'
               || event_type || '","' || k3 || '":' || CAST(ts_us AS VARCHAR) || '}'
             WHEN 'query3' THEN k1 || '=' || uid || '&' || k2 || '=' || event_type
               || '&' || k3 || '=' || CAST(ts_us AS VARCHAR)
             WHEN 'profile' THEN '{"profile":{"' || k1 || '":"' || uid
               || '"},"action":"' || k2 || '"}'
             WHEN 'kafka' THEN '{"message":{"userId":"' || uid || '","event":"'
               || event_type || '","ts":' || CAST(ts_us AS VARCHAR)
               || '},"userId":"' || uid || '","topic":"'
               || (CASE WHEN event_type = 'click' AND topic_click IS NOT NULL
                        THEN topic_click ELSE topic_default END) || '"}'
             WHEN 'pubsub' THEN '{"userId":"' || uid || '","message":{"userId":"'
               || uid || '","event":"' || event_type || '","ts":'
               || CAST(ts_us AS VARCHAR) || '},"topicId":"'
               || (CASE WHEN event_type = 'click' AND topic_click IS NOT NULL
                        THEN topic_click ELSE topic_default END)
               || '","attributes":{"eventType":"' || event_type || '"}}'
             ELSE k1 || '=' || uid || '&' || k2 || '=' || event_type
           END AS payload
         FROM j""",
    "t13_user_transform" ->
      """SELECT out_type, COUNT(*) AS n FROM (
           SELECT CASE WHEN event_type = 'purchase' THEN x.t
                       ELSE 'app_' || event_type END AS out_type
           FROM events
           CROSS JOIN (VALUES ('purchase_order'), ('purchase_receipt')) x(t)
           WHERE event_type = 'purchase'
           UNION ALL
           SELECT 'app_' || event_type
           FROM events WHERE event_type NOT IN ('purchase', 'error')) t
         GROUP BY out_type""",
    "t13b_ut_mirroring" ->
      """WITH t AS (
           SELECT event_id,
             CASE WHEN event_type = 'error' THEN []::VARCHAR[]
                  WHEN event_type = 'purchase'
                    THEN ['purchase_order', 'purchase_receipt']
                  ELSE ['app_' || event_type] END AS out_prod,
             CASE WHEN event_type = 'error' THEN ['error_quarantine']
                  WHEN event_type = 'view' AND value < 1.0 THEN []::VARCHAR[]
                  WHEN event_type = 'purchase' AND value >= 100.0
                    THEN ['purchase_order', 'purchase_receipt', 'purchase_audit']
                  WHEN event_type = 'purchase'
                    THEN ['purchase_order', 'purchase_receipt']
                  WHEN event_type = 'click' THEN ['app_tap']
                  ELSE ['app_' || event_type] END AS out_mirror
           FROM events)
         SELECT CASE WHEN out_prod = out_mirror THEN 'equal'
                     WHEN len(out_mirror) = 0 THEN 'mirror_filtered'
                     WHEN len(out_prod) = 0 THEN 'primary_filtered'
                     ELSE 'different' END AS comparison,
                COUNT(*) AS n_events,
                CAST(SUM(len(out_prod)) AS BIGINT) AS out_rows_primary,
                CAST(SUM(len(out_mirror)) AS BIGINT) AS out_rows_mirror
         FROM t GROUP BY 1""",
    "t15_source_hydration" ->
      """SELECT account_name, COUNT(*) AS n
         FROM events
         JOIN (VALUES (0, 'acme'), (1, 'globex'), (2, 'initech'),
                      (3, 'umbrella'), (4, 'stark')) a(source_id, account_name)
           ON user_id % 5 = a.source_id
         GROUP BY account_name""",
    "a6_source_event_stats" ->
      """SELECT user_id % 5 AS source_id, event_type, COUNT(*) AS n
         FROM events GROUP BY 1, 2""",
    // Independent computation of the JSON-path passthrough: DuckDB
    // walks the same raw JSON inputs (json_keys + extract), keeping
    // subtree `b` as its compact JSON serialization — byte-identical
    // to Jackson's `toString` — instead of a precomputed VALUES
    // literal, so a flatten regression is actually catchable.
    "w3_jsonpath_passthrough" ->
      """WITH fixture(id, js) AS (VALUES
           (1, '{"a":1,"b":{"c":2.5,"d":{"e":"x"}},"z":"w"}'),
           (2, '{"b":{"only":true},"q":7}')),
         ks AS (SELECT id, js, unnest(json_keys(js)) AS key FROM fixture)
         SELECT id, key,
           CASE WHEN key = 'b' THEN CAST(json_extract(js, '$.' || key) AS VARCHAR)
                ELSE json_extract_string(js, '$.' || key) END AS val
         FROM ks"""
  )
}
