package graft.operators

import graft.{Q, State, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-level transform operators — SURVEY §2.2: the preprocess-stage
  * gates the reference applies per event before fan-out. Each is a
  * declarative filter/join so Catalyst pushes the predicates to the
  * scan and the drops happen before any shuffle (PushDownPredicates —
  * the reference's "short-circuit before fan-out" optimization is free
  * here, SURVEY §4).
  *
  * Identity fields are synthesized deterministically from the event
  * stream (the generated testdata has no anonymousId/messageId
  * columns); the synthesis is mirrored verbatim in the oracle SQL, so
  * the checks verify the operator semantics over a non-degenerate
  * input distribution.
  */
object Transforms {

  private def k = get_json_object(col("props"), "$.k").cast("long")

  /** a2d's STREAMING sibling — the flusher as a continuous query:
    * stored minute-grain sketch rows stream in, merge per (workspace,
    * source, instance) inside tumbling 30-minute event-time windows,
    * and a window's merged estimate emits exactly once when the
    * 10-minute WATERMARK passes its end — the watermark IS
    * getRange's recentExclusionWindow ("don't flush where inserts
    * are still landing"), and append-mode emission IS the
    * flush-then-delete contract (a flushed window is never revised;
    * late sketch rows drop). State per open group is the 2^p-byte
    * register array, bounded by (keys × open windows) whatever the
    * corpus. The batch closed form's first two UNALIGNED windows are
    * a bootstrap artifact of "start = min pending" on a cold store; a
    * continuous service is always in the aligned steady state this
    * window produces — StreamingSpec pins the equivalence on aligned
    * input plus the exclusion and late-drop rules.
    */
  def flusherStream(reports: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hmerge = udaf(new graft.functions.HllMergeAggregator(12))
    reports
      .withWatermark("rts", "10 minutes")
      .groupBy(window(col("rts"), "30 minutes"), col("workspace_id"),
        col("source_id"), col("instance_id"))
      .agg(count(lit(1)).as("n_reports"), hmerge(col("registers")).as("tracked_users"))
      .select(col("window.start").as("window_start"), col("workspace_id"),
        col("source_id"), col("instance_id"), col("n_reports"), col("tracked_users"))
  }

  /** The flusher's getRange loop (flusher.go:232-259) run to a batch
    * FIXPOINT in closed form: assigns each minute-grain report row
    * its flush window and drops rows whose window hasn't flushed yet.
    * start_{k+1} = end_k and each end clamps to min(start + 30 min,
    * next hour boundary), so every window from the third onward is an
    * aligned half-hour bucket — only the first two boundaries (e0,
    * e1) depend on the corpus min, both scalar arithmetic riding a
    * 1-row broadcast. currentUTC = the minute after the last report;
    * windows ending within the 10-min recent-exclusion of it are
    * pending, not flushed. TransformsSpec proves the closed form
    * equals a literal getRange iteration on an hour-UNALIGNED corpus.
    *
    * DENSITY PRECONDITION: the closed form assumes start_{k+1} =
    * end_k. The reference's literal loop restarts each cycle at
    * min(pending reported_at) (getStart reads the store), so the two
    * agree only when every window boundary has a pending report —
    * i.e. a minute-dense store, which a continuously-reporting
    * service is in steady state. After a data gap the reference
    * opens an UNALIGNED window at the next pending minute where this
    * closed form bucket-aligns it. FlusherSpec pins the dense
    * equivalence AND the gap divergence; sparse stores need the
    * literal-loop variant.
    */
  private[operators] def flushWindowed(
      reports: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val HALF = 1800000000L // 30-min flushWindow, µs
    val HOUR = 3600000000L
    val scal = reports.agg(
        min(col("reported_at_us")).as("m0"),
        (max(col("reported_at_us")) + lit(60000000L) - lit(600000000L)).as("lim"))
      .withColumn("e0", least(col("m0") + lit(HALF),
        (expr(s"m0 DIV ${HOUR}L") + 1) * lit(HOUR)))
      .withColumn("e1", least(col("e0") + lit(HALF),
        (expr(s"e0 DIV ${HOUR}L") + 1) * lit(HOUR)))
    reports
      .crossJoin(broadcast(scal)) // 1-row scalar, rule (b)'s shape
      .withColumn("window_start_us",
        when(col("reported_at_us") < col("e0"), col("m0"))
          .when(col("reported_at_us") < col("e1"), col("e0"))
          .otherwise(expr(s"(reported_at_us DIV ${HALF}L) * ${HALF}L")))
      .withColumn("window_end_us",
        when(col("window_start_us") === col("m0"), col("e0"))
          .when(col("window_start_us") === col("e0"), col("e1"))
          .otherwise(col("window_start_us") + lit(HALF)))
      .filter(col("window_end_us") <= col("lim")) // recent-exclusion gate
      .drop("m0", "lim", "e0", "e1")
  }

  val defs: Map[String, Q] = Map(

    // T1: suppression against an explicit regulation list — the
    // synced suppression KV broadcast as a small DataFrame, events
    // dropped via left_anti (gateway/handle.go:574-603,
    // enterprise/suppress-user). At 100 TB the list stays broadcast
    // (or becomes a bloom-filter pushdown) — the event stream never
    // shuffles for it.
    "t1b_suppression_list" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val suppressed = (0L until 150L by 7L).map(i => s"user_$i").toDF("suppressed_uid")
      Tables.events(s, dir)
        .withColumn("uid", concat(lit("user_"), col("user_id")))
        .join(broadcast(suppressed), col("uid") === col("suppressed_uid"), "left_anti")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // T1c: SUPPRESSION BACKUP LIFECYCLE — the T1 family's operational
    // contract (suppression-backup-service/ + enterprise/
    // suppress-user/factory.go:69-120): a live instance token-syncs
    // regulations in pages, the backup service exports FULL and
    // LATEST (trailing 30 days) artifacts, and a fresh instance
    // restores latest-first (fast to serve), then full, then RESUMES
    // the sync from the backup's stored token — never re-syncs from
    // zero. The regulation feed is a deterministic md5-coin fixture
    // (~20% cancels, ~25% wildcard-source entries, 12h spacing so the
    // 30-day window cuts at seq 60); the feed, both backup stores,
    // and the anti-join against events are all replayed by the
    // oracle. Legs: `live` (the instance that never restarted),
    // `restored_full_resume` (restore + delta sync — must EQUAL live
    // row-for-row: the roundtrip equivalence), and
    // `restored_latest_only` (the fast-boot partial store —
    // non-vacuously different). n_delta = rows pulled by the
    // post-backup sync (80 for live and the resumed restore, 0 for
    // the latest-only boot).
    "t1c_suppression_backup" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val feed = s.range(1, 201).select(
        col("id").as("seq"),
        lit("ws0").as("workspace_id"),
        expr("concat('user_', CAST(conv(substring(md5(concat('sup|', id)), 1, 8), 16, 10) AS BIGINT) % 150)")
          .as("user_id"),
        expr("CAST(conv(substring(md5(concat('cxl|', id)), 1, 4), 16, 10) AS BIGINT) % 5 = 0")
          .as("canceled"),
        (lit(1700000000000000L) + col("id") * lit(43200000000L)).as("created_at_us"),
        expr("CASE WHEN CAST(conv(substring(md5(concat('wld|', id)), 1, 4), 16, 10) AS BIGINT) % 4 = 0 " +
          "THEN CAST(array() AS ARRAY<STRING>) " +
          "ELSE array(concat('src_', id % 10)) END").as("source_ids"))
      val base = State.scratchDir(s, "t1c")
      val live = s"$base/live"
      graft.sinks.Suppression.sync(s, live, feed.filter(col("seq") <= 120), 100)
      graft.sinks.Suppression.backupFull(s, live, s"$base/full")
      graft.sinks.Suppression.backupLatest(s, live, s"$base/latest",
        30L * 24 * 3600 * 1000000L)
      val liveDelta = graft.sinks.Suppression.sync(s, live, feed, 100)
      graft.sinks.Suppression.restore(s, s"$base/latest", s"$base/boot_latest")
      graft.sinks.Suppression.restore(s, s"$base/full", s"$base/boot_full")
      val resumeDelta = graft.sinks.Suppression.sync(s, s"$base/boot_full", feed, 100)
      // all three legs share ONE pass over events: the per-leg
      // suppressed-event counts come from a single inner join against
      // the union of the (metadata-grain, broadcast) effective sets —
      // an effective set has at most one row per user, so join
      // multiplicity is 1 and kept = total − suppressed
      val legs = Seq((live, "live", liveDelta),
        (s"$base/boot_full", "restored_full_resume", resumeDelta),
        (s"$base/boot_latest", "restored_latest_only", 0L))
      val effAll = legs.map { case (sd, name, _) =>
        graft.sinks.Suppression.effectiveSet(s, sd).withColumn("leg", lit(name))
      }.reduce(_ unionByName _)
      val ev = Tables.events(s, dir)
        .select(concat(lit("user_"), col("user_id")).as("uid"),
          concat(lit("src_"), col("user_id") % 10).as("src"))
      val nEvents = Tables.countStat(s, dir, "events")
      // one ACTION for every leg-grain stat instead of seven driver-
      // sequential jobs (collect + per-leg entry/effective-set counts):
      // the store sizes, effective-set sizes and suppressed-event
      // counts are all leg-keyed aggregates of frames already built
      // above, so they join into the final 3-row result and execute
      // together when the caller runs the query
      val suppressedPerLeg = ev.join(broadcast(effAll),
          col("uid") === col("user_id") &&
            (size(col("source_ids")) === 0 ||
              array_contains(col("source_ids"), col("src"))))
        .groupBy(col("leg")).agg(count(lit(1)).as("n_suppressed_events"))
      val entriesPerLeg = legs.map { case (sd, name, _) =>
          s.read.parquet(sd).select(lit(name).as("leg")) }
        .reduce(_ unionByName _)
        .groupBy(col("leg")).agg(count(lit(1)).as("n_entries"))
      val suppPerLeg = effAll.groupBy(col("leg"))
        .agg(count(lit(1)).as("n_suppressed"))
      legs.map { case (_, name, delta) => (name, delta) }
        .toDF("leg", "n_delta")
        .join(entriesPerLeg, Seq("leg"), "left")
        .join(suppPerLeg, Seq("leg"), "left")
        .join(suppressedPerLeg, Seq("leg"), "left")
        .select(col("leg"),
          coalesce(col("n_entries"), lit(0L)).as("n_entries"),
          coalesce(col("n_suppressed"), lit(0L)).as("n_suppressed"),
          (lit(nEvents) - coalesce(col("n_suppressed_events"), lit(0L)))
            .as("n_kept"),
          col("n_delta"))
    }),

    // T2: event blocking filter — drop events whose (eventType) is in
    // the workspace blocklist (gateway/handle.go:604-634, drop at
    // processor.go:2038-2063). Broadcast anti-join shape.
    "t2_event_blocking" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val blocklist = Seq("error", "signup").toDF("event_type")
      Tables.events(s, dir)
        .join(broadcast(blocklist), Seq("event_type"), "left_anti")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // TRS1: transient-source drop — events from sources flagged
    // transient in the backend config are dropped before processing
    // (services/transientsource/transientsource.go:74-86 Apply is a
    // set-membership test on source_id, kept current by the config
    // subscription). Config-sized broadcast anti-join, t2's shape.
    "trs1_transient_drop" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val transient = Seq("src_2", "src_5", "src_8").toDF("source_id")
      Tables.events(s, dir)
        .withColumn("source_id", concat(lit("src_"), col("user_id") % 10))
        .join(broadcast(transient), Seq("source_id"), "left_anti")
        .groupBy(col("source_id"))
        .agg(count(lit(1)).as("n"), max(col("event_id")).as("max_id"))
    }),

    // MT1: multitenant degraded-workspace gating
    // (warehouse/multitenant/manager.go:67-83 DegradedWorkspace(s) —
    // the config-watched exclude list the upload creator and the
    // archiver both consult): uploads whose workspace is degraded are
    // SKIPPED, not dropped — they stay pending until the incident
    // clears, so the gate TAGS both sides instead of anti-joining
    // (trs1's shape with a left join). Same ws_2 skip list as wa1's
    // archival, the way the reference shares one tenant manager.
    "mt1_degraded_gate" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val degraded = Seq("ws_2").toDF("workspace_id")
        .withColumn("degraded", lit(true))
      Tables.events(s, dir)
        .select(expr("event_id DIV 500").as("upload"), col("event_id"))
        .withColumn("workspace_id", concat(lit("ws_"), col("upload") % 5))
        .join(broadcast(degraded), Seq("workspace_id"), "left")
        .withColumn("gate",
          when(col("degraded"), "skipped_degraded").otherwise("processed"))
        .groupBy(col("workspace_id"), col("gate"))
        .agg(countDistinct(col("upload")).as("n_uploads"),
          count(lit(1)).as("n_files"))
    }),

    // T3: non-identifiable reject — events with neither anonymousId
    // nor userId are rejected (gateway/handle.go:555-573).
    "t3_nonidentifiable_reject" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("uid",
          when(col("event_id") % 2 === 0, concat(lit("user_"), col("user_id"))))
        .withColumn("anon",
          when(col("event_id") % 3 === 0, concat(lit("anon_"), col("user_id") % 37)))
        .withColumn("status",
          when(coalesce(col("uid"), col("anon")).isNotNull, lit("accepted"))
            .otherwise(lit("rejected")))
        .groupBy(col("event_type"), col("status")).agg(count(lit(1)).as("n"))
    }),

    // T4: bot enrichment/flag — stamp is_bot/bot_name from context
    // (internal/enricher/bot.go:23-58); here derived from the payload.
    "t4_bot_flag" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("is_bot", k % 7 === 0)
        .withColumn("bot_name",
          when(col("is_bot"), concat(lit("bot_"), k % 3)))
        .groupBy(col("event_type"), col("is_bot"), col("bot_name"))
        .agg(count(lit(1)).as("n"))
    }),

    // T6: exactly-once dedup keyed on (messageId, jobRunId) — first
    // occurrence wins (services/dedup/dedup.go:43-106; key
    // processor.go:1941-1944). Batch form: row_number over the key,
    // ordered by arrival; streaming form is
    // dropDuplicatesWithinWatermark (graft.streaming).
    "t6_exactly_once_dedup" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("message_id"), col("job_run_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      Tables.events(s, dir)
        .withColumn("message_id", concat(lit("msg_"), col("event_id") % 4000))
        .withColumn("job_run_id", concat(lit("jr_"), col("event_id") % 2))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("message_id"), col("job_run_id"), col("event_id").as("first_event_id"))
    }),

    // T7: timestamp normalization / clock-skew correction
    // (processor.go:1026-1054): corrected = receivedAt - sentAt +
    // originalTimestamp. All arithmetic in integer microseconds.
    "t7_timestamp_skew" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("original_us", unix_micros(col("ts")))
        .withColumn("sent_us", col("original_us") + (col("event_id") % 300) * 1000000L)
        .withColumn("received_us", col("original_us") + 120000000L)
        .select(col("event_id"),
          col("received_us"),
          (col("received_us") - col("sent_us") + col("original_us")).as("corrected_us"))
    }),

    // T7b: delayed-event stats (processor/delayed/stats.go:30-83) —
    // classify each event missing_original_timestamp / missing_sent_at
    // / late / on-time (strict precedence, 240 h threshold), tagged by
    // the SDK identity joined "name/version" from context.library
    // ("unknown" only when BOTH are absent — a name alone yields
    // "name/", mirroring strings.Join). Both engines construct the
    // SAME message JSON (library subtree + ISO timestamps, with a
    // missing-key variant AND an unparseable-string variant — both
    // must land in the missing_* classes like GetParsedTimestamp's
    // failures), then independently parse it back, so the walk, the
    // fallible timestamp parse, and the precedence are all
    // differentially checked. One codegen'd narrow map + one count
    // aggregate; no shuffle beyond the final groupBy.
    "t7b_delayed_events" -> ((s, dir) => {
      val fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val lib = when(col("user_id") % 4 === 0, lit("""{"name":"rudder-js","version":"2.1"}"""))
        .when(col("user_id") % 4 === 1, lit("""{"name":"rudder-android","version":"1.5"}"""))
        .when(col("user_id") % 4 === 2, lit("""{"name":"rudder-ios"}"""))
        .otherwise(lit("{}"))
      val otsS = when(col("event_id") % 11 === 0, lit(null).cast("string"))
        .when(col("event_id") % 23 === 0, lit("not-a-timestamp"))
        .otherwise(date_format(col("ts"), fmt))
      val sentS = when(col("event_id") % 13 === 0, lit(null).cast("string"))
        .otherwise(date_format(
          expr("ts + make_interval(0, 0, 0, CAST(event_id % 20 AS INT), 0, 0, 0)"), fmt))
      val msg = concat(lit("""{"context":{"library":"""), lib, lit("}"),
        when(otsS.isNotNull,
          concat(lit(""","originalTimestamp":""""), otsS, lit("\""))).otherwise(lit("")),
        when(sentS.isNotNull,
          concat(lit(""","sentAt":""""), sentS, lit("\""))).otherwise(lit("")),
        lit("}"))
      Tables.events(s, dir)
        .select(msg.as("message"))
        // ONE from_json parse instead of four independent
        // get_json_object calls (each re-tokenizes the whole payload;
        // Spark only dedups from_json, not path extraction) — measured
        // 2.25 -> ~1.5 s at sf0.1 with identical output. Absent paths
        // surface as struct nulls exactly like the path form.
        .withColumn("j", from_json(col("message"), org.apache.spark.sql.types.DataType
          .fromDDL("STRUCT<context: STRUCT<library: STRUCT<name: STRING, version: STRING>>, " +
            "originalTimestamp: STRING, sentAt: STRING>")
          .asInstanceOf[org.apache.spark.sql.types.StructType]))
        .withColumn("lname", col("j.context.library.name"))
        .withColumn("lver", col("j.context.library.version"))
        .withColumn("sdk_version",
          when(coalesce(col("lname"), lit("")) =!= "" || coalesce(col("lver"), lit("")) =!= "",
            concat(coalesce(col("lname"), lit("")), lit("/"), coalesce(col("lver"), lit(""))))
            .otherwise("unknown"))
        .withColumn("ots", expr(s"try_to_timestamp(j.originalTimestamp, '$fmt')"))
        .withColumn("sent", expr(s"try_to_timestamp(j.sentAt, '$fmt')"))
        .withColumn("status",
          when(col("ots").isNull, "missing_original_timestamp")
            .when(col("sent").isNull, "missing_sent_at")
            .when(unix_micros(col("sent")) - unix_micros(col("ots")) > 240L * 3600L * 1000000L,
              "late")
            .otherwise("on-time"))
        .groupBy(col("status"), col("sdk_version"))
        .agg(count(lit(1)).as("n"))
    }),

    // T9: consent gate — drop (event, destination) pairs whose denied
    // consent category matches the destination's required category
    // (processor/consent.go:44-95; the and/or resolution strategies
    // reduce to this arrays_overlap predicate per destination).
    "t9_consent_filter" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val dests = Seq(
        ("webhook", Some("cat0")), ("warehouse", Some("cat1")),
        ("kafka", Some("cat2")), ("braze", None))
        .toDF("destination", "required_consent")
      Tables.events(s, dir)
        .withColumn("denied_consent", concat(lit("cat"), k % 3))
        .join(broadcast(dests))
        .filter(col("required_consent").isNull ||
          col("required_consent") =!= col("denied_consent"))
        .groupBy(col("destination")).agg(count(lit(1)).as("n_delivered"))
    }),

    // T10: client-side integrations gate —
    // coalesce(integrations[dest], integrations['All'], true)
    // (processor.go:2380, integrations.FilterClientIntegrations).
    "t10_integrations_filter" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val dests = Seq("webhook", "warehouse").toDF("destination")
      Tables.events(s, dir)
        .withColumn("all_flag", k % 2 === 0)
        .join(broadcast(dests))
        // webhook has an explicit entry for k%3 in {0,1}; warehouse never
        .withColumn("dest_flag",
          when(col("destination") === "webhook" && k % 3 === 0, lit(true))
            .when(col("destination") === "webhook" && k % 3 === 1, lit(false)))
        .filter(coalesce(col("dest_flag"), col("all_flag"), lit(true)))
        .groupBy(col("destination")).agg(count(lit(1)).as("n_allowed"))
    }),

    // T12: per-destination message-type allowlist
    // (processor/eventfilter/eventfilter.go:24-126).
    "t12_message_type_filter" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val allowed = Seq(
        ("warehouse", "purchase"), ("warehouse", "click"), ("warehouse", "view"),
        ("warehouse", "signup"), ("warehouse", "error"),
        ("webhook", "purchase"), ("webhook", "click"),
        ("kafka", "view")).toDF("destination", "event_type")
      Tables.events(s, dir)
        .join(broadcast(allowed), Seq("event_type"))
        .groupBy(col("destination")).agg(count(lit(1)).as("n"))
    }),

    // A2: tracked-users cardinality — |identified| + |anon| -
    // |identified-anon pairs| per group
    // (enterprise/trackedusers/users_reporter.go:104-190, cardinality
    // trick :152-162). Exact distinct here (oracle-checkable); the
    // mergeable-HLL variant is a2b (rows-only) + the HLL spec.
    "a2_tracked_users" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("uid",
          when(col("event_id") % 2 === 0, concat(lit("user_"), col("user_id"))))
        .withColumn("anon",
          when(col("event_id") % 3 === 0, concat(lit("anon_"), col("user_id") % 37)))
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("uid")).as("n_users"),
          countDistinct(col("anon")).as("n_anons"),
          countDistinct(when(col("uid").isNotNull && col("anon").isNotNull,
            concat(col("uid"), lit("|"), col("anon")))).as("n_pairs"))
        .withColumn("tracked_users",
          col("n_users") + col("n_anons") - col("n_pairs"))
    }),

    // A2b: the same metric with mergeable HLL sketches
    // (approx_count_distinct = Spark's HyperLogLog++). Spark's HLL++
    // internals can't be byte-mirrored in DuckDB (different hash /
    // bias tables), so the oracle checks the one property an
    // approximate aggregate owes its callers: the estimate lands
    // within the configured error envelope of the exact count, which
    // is emitted alongside. The envelope columns are computed FROM the
    // real approx_count_distinct output, so a broken sketch flips them
    // to false and the hash check catches it.
    "a2b_tracked_users_hll" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("uid",
          when(col("event_id") % 2 === 0, concat(lit("user_"), col("user_id"))))
        .withColumn("anon",
          when(col("event_id") % 3 === 0, concat(lit("anon_"), col("user_id") % 37)))
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("uid")).as("n_users"),
          countDistinct(col("anon")).as("n_anons"),
          approx_count_distinct(col("uid"), 0.02).as("au"),
          approx_count_distinct(col("anon"), 0.02).as("aa"))
        .select(col("event_type"), col("n_users"), col("n_anons"),
          (abs(col("au") - col("n_users")) <=
            greatest(col("n_users") * lit(0.1), lit(5.0))).as("users_hll_ok"),
          (abs(col("aa") - col("n_anons")) <=
            greatest(col("n_anons") * lit(0.1), lit(5.0))).as("anons_hll_ok"))
    }),

    // A2c: the custom mergeable-sketch form — graft.functions.
    // HllAggregator keeps the raw registers so sketches can be stored
    // and merged across reports like the reference's hll.Hll bytes.
    // The sketch math is deterministic md5 arithmetic, so the oracle
    // below mirrors it register-for-register in DuckDB SQL (same
    // top-12-bit index, leading-zero rank, register-wise max, exact
    // HUGEINT harmonic numerator, bias-corrected estimate) — a full
    // algorithm check, like ll2 mirrors MinHash. Merge exactness is
    // asserted in HllSpec.
    "a2c_tracked_users_sketch" -> ((s, dir) => {
      val hll = udaf(new graft.functions.HllAggregator(12))
      Tables.events(s, dir)
        .withColumn("uid",
          when(col("event_id") % 2 === 0, concat(lit("user_"), col("user_id"))))
        .groupBy(col("event_type"))
        .agg(hll(col("uid")).as("n_users_sketch"))
    }),

    // A2d: the reporting FLUSHER's second-level aggregation — the
    // read path a2c only stores for (reference:
    // enterprise/reporting/flusher/flusher.go:232-303 +
    // flusher/aggregator/tracked_users_inapp.go:40-108): persisted
    // minute-grain HLL sketch rows are re-aggregated per (workspace,
    // source, instance) across a flush window by MERGING the stored
    // sketch BYTES — never re-reading raw events — and the merged
    // reports are split into send batches of batchSizeToReporting.
    // Window rule (getRange, flusher.go:232-259): start = min pending
    // reported_at, end = min(start + flushWindow, next hour boundary)
    // — an aggregate never straddles an hour — and nothing within
    // recentExclusionWindow of now flushes (inserts still landing).
    // The batch analog runs the flush loop to a FIXPOINT in closed
    // form: because start_{k+1} = end_k and each end clamps to the
    // hour, every window from the third onward is an aligned
    // half-hour bucket — only the first two boundaries (e0, e1)
    // depend on the corpus min, both scalar arithmetic. currentUTC =
    // the minute after the last report. Two real levels: level 1
    // WRITES sketch rows to parquet (HllSketchAggregator bytes),
    // level 2 reads the artifact back and merges registers
    // (HllMergeAggregator) — 2^p bytes of state per group at any
    // scale, identical by the merge-exactness law to a sketch built
    // from the window's raw ids, which is exactly what the oracle
    // mirrors register-for-register (a2c's math, window-grouped).
    // The batch split is the send loop (flusher.go:279-303): reports
    // ordered by key within a window, batch_id = ordinal DIV 4. The
    // per-window rank partition is grain-bounded (|ws|·|src|·|inst| =
    // 30 rows max), never corpus-bounded.
    "a2d_flusher_agg" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val sketch = udaf(new graft.functions.HllSketchAggregator(12))
      val hmerge = udaf(new graft.functions.HllMergeAggregator(12))
      val minuteRows = Tables.events(s, dir)
        .withColumn("uid",
          when(col("event_id") % 2 === 0, concat(lit("user_"), col("user_id"))))
        .groupBy(
          expr("(unix_micros(ts) DIV 60000000) * 60000000").as("reported_at_us"),
          concat(lit("ws_"), col("user_id") % 3).as("workspace_id"),
          concat(lit("src_"), col("user_id") % 5).as("source_id"),
          concat(lit("inst_"), col("event_id") % 2).as("instance_id"))
        .agg(sketch(col("uid")).as("registers"))
      val store = State.scratchDir(s, "a2d") + "/reports"
      minuteRows.write.mode("overwrite").parquet(store)
      val reports = s.read.parquet(store) // the STORED sketches, read back
      val wBatch = Window.partitionBy(col("window_start_us"))
        .orderBy(col("workspace_id"), col("source_id"), col("instance_id"))
      flushWindowed(reports)
        .groupBy(col("window_start_us"), col("workspace_id"),
          col("source_id"), col("instance_id"))
        .agg(count(lit(1)).as("n_reports"),
          hmerge(col("registers")).as("tracked_users"))
        .withColumn("rn", row_number().over(wBatch).cast("long"))
        .withColumn("batch_id", expr("(rn - 1) DIV 4"))
        .drop("rn")
    })
  )

  val oracles: Map[String, String] = Map(
    "t1b_suppression_list" ->
      """SELECT event_type, COUNT(*) AS n FROM events
         WHERE 'user_' || user_id NOT IN (
           SELECT 'user_' || CAST(i AS VARCHAR)
           FROM generate_series(0, 149, 7) t(i))
         GROUP BY event_type""",
    // the whole lifecycle replayed declaratively: live and
    // restored-full-resume stores are the complete feed, the
    // latest-only store is the 30-day window (12h spacing → seq
    // 60..120); deltas are the page math the engine's sync returns
    "t1c_suppression_backup" -> {
      def eff(name: String, pred: String) =
        s"""eff_$name AS (SELECT user_id, source_ids FROM (
              SELECT user_id, source_ids, canceled,
                ROW_NUMBER() OVER (PARTITION BY workspace_id, user_id
                                   ORDER BY seq DESC) AS rn
              FROM feed WHERE $pred) t
            WHERE rn = 1 AND NOT canceled)"""
      def leg(name: String, pred: String, delta: Long) =
        s"""SELECT '$name' AS leg,
            (SELECT COUNT(*) FROM feed WHERE $pred) AS n_entries,
            (SELECT COUNT(*) FROM eff_$name) AS n_suppressed,
            (SELECT COUNT(*) FROM events e WHERE NOT EXISTS (
               SELECT 1 FROM eff_$name f
               WHERE f.user_id = 'user_' || e.user_id
                 AND (len(f.source_ids) = 0
                      OR list_contains(f.source_ids, 'src_' || (e.user_id % 10)))))
              AS n_kept,
            CAST($delta AS BIGINT) AS n_delta"""
      s"""WITH feed AS (
            SELECT seq, 'ws0' AS workspace_id,
              'user_' || (CAST('0x' || substr(md5('sup|' || seq), 1, 8)
                 AS BIGINT) % 150) AS user_id,
              CAST('0x' || substr(md5('cxl|' || seq), 1, 4) AS BIGINT) % 5 = 0
                AS canceled,
              CASE WHEN CAST('0x' || substr(md5('wld|' || seq), 1, 4)
                     AS BIGINT) % 4 = 0
                   THEN CAST([] AS VARCHAR[])
                   ELSE ['src_' || (seq % 10)] END AS source_ids
            FROM generate_series(1, 200) t(seq)),
          ${eff("live", "seq <= 200")},
          ${eff("full", "seq <= 200")},
          ${eff("latest", "seq BETWEEN 60 AND 120")}
          ${leg("live", "seq <= 200", 80L)}
          UNION ALL ${leg("full", "seq <= 200", 80L).replace("'full' AS leg", "'restored_full_resume' AS leg")}
          UNION ALL ${leg("latest", "seq BETWEEN 60 AND 120", 0L).replace("'latest' AS leg", "'restored_latest_only' AS leg")}"""
    },
    "t2_event_blocking" ->
      """SELECT event_type, COUNT(*) AS n FROM events
         WHERE event_type NOT IN ('error', 'signup')
         GROUP BY event_type""",
    "trs1_transient_drop" ->
      """SELECT 'src_' || CAST(user_id % 10 AS VARCHAR) AS source_id,
           COUNT(*) AS n, MAX(event_id) AS max_id
         FROM events
         WHERE 'src_' || CAST(user_id % 10 AS VARCHAR) NOT IN ('src_2', 'src_5', 'src_8')
         GROUP BY 1""",
    "mt1_degraded_gate" ->
      """SELECT 'ws_' || CAST((event_id // 500) % 5 AS VARCHAR) AS workspace_id,
           CASE WHEN (event_id // 500) % 5 = 2 THEN 'skipped_degraded'
                ELSE 'processed' END AS gate,
           COUNT(DISTINCT event_id // 500) AS n_uploads,
           COUNT(*) AS n_files
         FROM events GROUP BY 1, 2""",
    "t3_nonidentifiable_reject" ->
      """SELECT event_type,
           CASE WHEN COALESCE(
                  CASE WHEN event_id % 2 = 0 THEN 'user_' || user_id END,
                  CASE WHEN event_id % 3 = 0 THEN 'anon_' || (user_id % 37) END)
                IS NOT NULL THEN 'accepted' ELSE 'rejected' END AS status,
           COUNT(*) AS n
         FROM events GROUP BY 1, 2""",
    "t4_bot_flag" ->
      """SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0 AS is_bot,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 7 = 0
                THEN 'bot_' || (CAST(json_extract_string(props, '$.k') AS BIGINT) % 3) END AS bot_name,
           COUNT(*) AS n
         FROM events GROUP BY 1, 2, 3""",
    "t6_exactly_once_dedup" ->
      """SELECT message_id, job_run_id, event_id AS first_event_id FROM (
           SELECT 'msg_' || (event_id % 4000) AS message_id,
                  'jr_' || (event_id % 2) AS job_run_id,
                  event_id,
                  ROW_NUMBER() OVER (PARTITION BY event_id % 4000, event_id % 2
                                     ORDER BY ts ASC, event_id ASC) AS rn
           FROM events) t WHERE rn = 1""",
    "t7_timestamp_skew" ->
      """SELECT event_id,
           epoch_us(ts) + 120000000 AS received_us,
           (epoch_us(ts) + 120000000) - (epoch_us(ts) + (event_id % 300) * 1000000)
             + epoch_us(ts) AS corrected_us
         FROM events""",
    "t7b_delayed_events" ->
      """WITH base AS (
           SELECT event_id, user_id, ts,
             CASE CAST(user_id % 4 AS INT)
               WHEN 0 THEN '{"name":"rudder-js","version":"2.1"}'
               WHEN 1 THEN '{"name":"rudder-android","version":"1.5"}'
               WHEN 2 THEN '{"name":"rudder-ios"}' ELSE '{}' END AS lib,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  WHEN event_id % 23 = 0 THEN 'not-a-timestamp'
                  ELSE strftime(ts, '%Y-%m-%d %H:%M:%S.%f') END AS otss,
             CASE WHEN event_id % 13 = 0 THEN NULL
                  ELSE strftime(ts + CAST(event_id % 20 AS INT) * INTERVAL 1 DAY,
                                '%Y-%m-%d %H:%M:%S.%f') END AS sents
           FROM events),
         msg AS (
           SELECT '{"context":{"library":' || lib || '}' ||
                  COALESCE(',"originalTimestamp":"' || otss || '"', '') ||
                  COALESCE(',"sentAt":"' || sents || '"', '') || '}' AS message
           FROM base),
         parsed AS (
           SELECT
             json_extract_string(message, '$.context.library.name') AS lname,
             json_extract_string(message, '$.context.library.version') AS lver,
             try_strptime(json_extract_string(message, '$.originalTimestamp'),
                          '%Y-%m-%d %H:%M:%S.%f') AS ots,
             try_strptime(json_extract_string(message, '$.sentAt'),
                          '%Y-%m-%d %H:%M:%S.%f') AS sent
           FROM msg)
         SELECT CASE WHEN ots IS NULL THEN 'missing_original_timestamp'
                     WHEN sent IS NULL THEN 'missing_sent_at'
                     WHEN epoch_us(sent) - epoch_us(ots) > 864000000000 THEN 'late'
                     ELSE 'on-time' END AS status,
                CASE WHEN COALESCE(lname, '') <> '' OR COALESCE(lver, '') <> ''
                     THEN COALESCE(lname, '') || '/' || COALESCE(lver, '')
                     ELSE 'unknown' END AS sdk_version,
                COUNT(*) AS n
         FROM parsed GROUP BY 1, 2""",
    "t9_consent_filter" ->
      """SELECT destination, COUNT(*) AS n_delivered
         FROM events
         CROSS JOIN (VALUES ('webhook', 'cat0'), ('warehouse', 'cat1'),
                            ('kafka', 'cat2'), ('braze', NULL))
           AS d(destination, required_consent)
         WHERE required_consent IS NULL
            OR required_consent <> 'cat' || (CAST(json_extract_string(props, '$.k') AS BIGINT) % 3)
         GROUP BY destination""",
    "t10_integrations_filter" ->
      """SELECT destination, COUNT(*) AS n_allowed
         FROM (
           SELECT d.destination,
             COALESCE(
               CASE WHEN d.destination = 'webhook' AND kk % 3 = 0 THEN TRUE
                    WHEN d.destination = 'webhook' AND kk % 3 = 1 THEN FALSE END,
               kk % 2 = 0, TRUE) AS allowed
           FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS kk FROM events)
           CROSS JOIN (VALUES ('webhook'), ('warehouse')) AS d(destination)) t
         WHERE allowed GROUP BY destination""",
    "t12_message_type_filter" ->
      """SELECT destination, COUNT(*) AS n
         FROM events
         JOIN (VALUES ('warehouse','purchase'),('warehouse','click'),('warehouse','view'),
                      ('warehouse','signup'),('warehouse','error'),
                      ('webhook','purchase'),('webhook','click'),
                      ('kafka','view')) AS a(destination, event_type)
         USING (event_type)
         GROUP BY destination""",
    "a2_tracked_users" ->
      """SELECT event_type, n_users, n_anons, n_pairs,
                n_users + n_anons - n_pairs AS tracked_users
         FROM (
           SELECT event_type,
             COUNT(DISTINCT CASE WHEN event_id % 2 = 0 THEN 'user_' || user_id END) AS n_users,
             COUNT(DISTINCT CASE WHEN event_id % 3 = 0 THEN 'anon_' || (user_id % 37) END) AS n_anons,
             COUNT(DISTINCT CASE WHEN event_id % 2 = 0 AND event_id % 3 = 0
                   THEN 'user_' || user_id || '|' || 'anon_' || (user_id % 37) END) AS n_pairs
           FROM events GROUP BY event_type) t""",
    // a2b: exact counts computed independently; the envelope booleans
    // are TRUE on the oracle side — the Spark side computes them from
    // the live approx_count_distinct output, so an out-of-bound sketch
    // breaks the hash.
    "a2b_tracked_users_hll" ->
      """SELECT event_type,
           COUNT(DISTINCT CASE WHEN event_id % 2 = 0 THEN 'user_' || user_id END) AS n_users,
           COUNT(DISTINCT CASE WHEN event_id % 3 = 0 THEN 'anon_' || (user_id % 37) END) AS n_anons,
           TRUE AS users_hll_ok, TRUE AS anons_hll_ok
         FROM events GROUP BY event_type""",
    // a2c: full register-math mirror of graft.functions.HllAggregator
    // (p=12). h = first 8 md5 bytes as unsigned 64-bit; register index
    // = top 12 bits; rank = leading zeros of the remaining 52 bits
    // (shifted left 12) + 1, 53 when they are all zero; registers =
    // MAX(rank); harmonic numerator = SUM(2^(64-reg)) over all 4096
    // registers kept EXACT in HUGEINT (absent registers contribute
    // 2^64 each), converted to double once — identical to the Scala
    // BigInt path, so estimates match to the last bit.
    "a2c_tracked_users_sketch" -> {
      val rankCase = (1 to 52)
        .map(r => s"WHEN rest >= ${BigInt(1) << (64 - r)} THEN $r").mkString(" ")
      val rawEst = """(0.7213 / (1 + 1.079 / 4096.0)) * 4096 * 4096 /
                      (CAST(num AS DOUBLE) / 18446744073709551616.0)"""
      s"""WITH src AS (SELECT event_type,
             CASE WHEN event_id % 2 = 0 THEN 'user_' || CAST(user_id AS VARCHAR) END AS uid
             FROM events),
         h AS (SELECT event_type, CAST('0x' || substr(md5(uid), 1, 16) AS UBIGINT) AS h
               FROM src WHERE uid IS NOT NULL),
         rk AS (SELECT event_type, h >> 52 AS idx,
                  CASE WHEN rest = 0 THEN 53 $rankCase END AS rank
                FROM (SELECT event_type, h, (h % 4503599627370496) * 4096 AS rest FROM h)),
         reg AS (SELECT event_type, idx, MAX(rank) AS reg FROM rk GROUP BY 1, 2),
         est AS (SELECT event_type,
                   SUM(1::HUGEINT << (64 - reg)) + (4096 - COUNT(*)) * (1::HUGEINT << 64) AS num,
                   4096 - COUNT(*) AS zeros
                 FROM reg GROUP BY 1),
         -- the grouping domain is ALL events (mirroring the Spark
         -- groupBy): a group whose uid is always null still emits a
         -- row, with the empty sketch's estimate of 0 (all 4096
         -- registers zero -> linear counting -> m * ln(m/m) = 0)
         grp AS (SELECT DISTINCT event_type FROM src)
         SELECT g.event_type,
           CAST(round(CASE WHEN e.zeros IS NULL THEN 0.0
                      WHEN $rawEst <= 2.5 * 4096 AND zeros > 0
                      THEN 4096 * ln(4096.0 / zeros)
                      ELSE $rawEst END) AS BIGINT) AS n_users_sketch
         FROM grp g LEFT JOIN est e ON g.event_type = e.event_type"""
    },
    // a2d: the flusher's merged-sketch estimate is, by the
    // register-wise-max merge law, identical to a sketch built from
    // the window's raw uids — so the oracle states the second level
    // declaratively with a2c's register math grouped by (window,
    // workspace, source, instance). Window boundaries are the same
    // closed-form same-hour algebra (only e0/e1 depend on the corpus
    // min; every later window is an aligned half-hour bucket), and
    // the recent-exclusion gate drops windows ending after
    // max-minute + 1 min - 10 min.
    "a2d_flusher_agg" -> {
      val rankCase = (1 to 52)
        .map(r => s"WHEN rest >= ${BigInt(1) << (64 - r)} THEN $r").mkString(" ")
      val rawEst = """(0.7213 / (1 + 1.079 / 4096.0)) * 4096 * 4096 /
                      (CAST(num AS DOUBLE) / 18446744073709551616.0)"""
      s"""WITH base AS (SELECT
             (epoch_us(ts) // 60000000) * 60000000 AS minute_us,
             'ws_' || CAST(user_id % 3 AS VARCHAR) AS workspace_id,
             'src_' || CAST(user_id % 5 AS VARCHAR) AS source_id,
             'inst_' || CAST(event_id % 2 AS VARCHAR) AS instance_id,
             CASE WHEN event_id % 2 = 0 THEN 'user_' || CAST(user_id AS VARCHAR) END AS uid
           FROM events),
         scal AS (SELECT m0, lim,
             least(m0 + 1800000000, (m0 // 3600000000 + 1) * 3600000000) AS e0
           FROM (SELECT MIN(minute_us) AS m0,
                        MAX(minute_us) + 60000000 - 600000000 AS lim FROM base)),
         scal2 AS (SELECT m0, e0, lim,
             least(e0 + 1800000000, (e0 // 3600000000 + 1) * 3600000000) AS e1
           FROM scal),
         win AS (SELECT b.*,
             CASE WHEN minute_us < e0 THEN m0
                  WHEN minute_us < e1 THEN e0
                  ELSE (minute_us // 1800000000) * 1800000000 END AS window_start_us,
             m0, e0, e1, lim
           FROM base b CROSS JOIN scal2),
         flush AS (SELECT * FROM (
             SELECT *, CASE WHEN window_start_us = m0 THEN e0
                            WHEN window_start_us = e0 THEN e1
                            ELSE window_start_us + 1800000000 END AS window_end_us
             FROM win) t WHERE window_end_us <= lim),
         grp AS (SELECT window_start_us, workspace_id, source_id, instance_id,
                   COUNT(DISTINCT minute_us) AS n_reports
                 FROM flush GROUP BY 1, 2, 3, 4),
         h AS (SELECT window_start_us, workspace_id, source_id, instance_id,
                 CAST('0x' || substr(md5(uid), 1, 16) AS UBIGINT) AS h
               FROM flush WHERE uid IS NOT NULL),
         rk AS (SELECT window_start_us, workspace_id, source_id, instance_id,
                  h >> 52 AS idx,
                  CASE WHEN rest = 0 THEN 53 $rankCase END AS rank
                FROM (SELECT *, (h % 4503599627370496) * 4096 AS rest FROM h)),
         reg AS (SELECT window_start_us, workspace_id, source_id, instance_id,
                   idx, MAX(rank) AS reg
                 FROM rk GROUP BY 1, 2, 3, 4, 5),
         est AS (SELECT window_start_us, workspace_id, source_id, instance_id,
                   SUM(1::HUGEINT << (64 - reg)) + (4096 - COUNT(*)) * (1::HUGEINT << 64) AS num,
                   4096 - COUNT(*) AS zeros
                 FROM reg GROUP BY 1, 2, 3, 4),
         fin AS (SELECT g.window_start_us, g.workspace_id, g.source_id,
                   g.instance_id, g.n_reports,
                   CAST(round(CASE WHEN e.zeros IS NULL THEN 0.0
                         WHEN $rawEst <= 2.5 * 4096 AND zeros > 0
                         THEN 4096 * ln(4096.0 / zeros)
                         ELSE $rawEst END) AS BIGINT) AS tracked_users
                 FROM grp g LEFT JOIN est e
                   USING (window_start_us, workspace_id, source_id, instance_id))
         SELECT *, (ROW_NUMBER() OVER (PARTITION BY window_start_us
                      ORDER BY workspace_id, source_id, instance_id) - 1) // 4
                     AS batch_id
         FROM fin"""
    }
  )
}
