package graft.operators

import graft.{Q, State, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Core relational operators from SURVEY.md §2.2/§2.5/§2.7/§2.8, each
  * re-expressed as a declarative DataFrame plan so Catalyst gets
  * pushdown / pruning / broadcast decisions for free.
  *
  * Money/quantity aggregates are computed in DECIMAL and only cast to
  * DOUBLE at the output edge: decimal addition is exact and associative,
  * so the result is bit-identical regardless of partitioning — a
  * plain double sum would drift vs the DuckDB oracle under parallel
  * aggregation.
  */
object Relational {

  /** dbg1 stream-twin input/state rows. */
  case class LiveEv(user_id: Long, event_id: Long, ts_us: Long)
  case class LiveCacheState(ring: List[(Long, Long)], nSeen: Long)

  /** Streaming twin of dbg1 — the debugger cache's `Update` as a
    * stateful stream op (services/debugger/cache/internal/memory/
    * memory.go:90-105: bounded append keeping the LAST `size` values
    * per key, lastAccess refreshed per update). Each micro-batch folds
    * the entity's new events into its ring (arrival = event-time
    * order, the stream contract every twin here shares) and emits the
    * entity's CURRENT cache snapshot, newest first — the live-events
    * push. The reference's TTL cleaner is a separate goroutine, i.e.
    * reader-side: downstream (and the batch query) applies the
    * last-access filter, so eviction composes as a filter on the
    * emitted `last_ts_us`, exactly like dbg1's.
    */
  def liveEventCacheStream(events: org.apache.spark.sql.Dataset[LiveEv], size: Int)
    : org.apache.spark.sql.Dataset[(Long, Long, Long, Long, Long, Long)] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[LiveEv], state: GroupState[LiveCacheState]) => {
          var st = state.getOption.getOrElse(LiveCacheState(Nil, 0L))
          val incoming = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var ring = st.ring
          incoming.foreach { e =>
            ring = (ring :+ ((e.event_id, e.ts_us))).takeRight(size)
          }
          st = LiveCacheState(ring, st.nSeen + incoming.size)
          state.update(st)
          val lastTs = ring.map(_._2).max // ring non-empty: entity was touched
          ring.reverse.zipWithIndex.map { case ((eid, ts), i) =>
            (uid, (i + 1).toLong, eid, ts, st.nSeen, lastTs)
          }.iterator
        })
  }

  private val dec = DecimalType(18, 2)

  /** Exact, order-independent money column: cast to decimal up front. */
  private def d(c: org.apache.spark.sql.Column) = c.cast(dec)

  /** The users-table merge step (postgres load.go:380-470): per trait
    * column, a LATER batch's non-null value wins over the existing
    * table, nulls never overwrite. Callers guarantee delta rows
    * postdate the existing table (the staged-load contract), so one
    * full-outer join + per-column coalesce is exact. Shared by q11b
    * and the streaming per-batch merge (StreamingSpec).
    */
  private[graft] def mergeUsers(existing: org.apache.spark.sql.DataFrame,
                                delta: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e = existing.select(col("user_id"),
      col("trait_view_value").as("e_view"), col("trait_click_k").as("e_click"),
      col("trait_purchase_value").as("e_purchase"))
    val dl = delta.select(col("user_id"),
      col("trait_view_value").as("d_view"), col("trait_click_k").as("d_click"),
      col("trait_purchase_value").as("d_purchase"))
    e.join(dl, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("d_view"), col("e_view")).as("trait_view_value"),
        coalesce(col("d_click"), col("e_click")).as("trait_click_k"),
        coalesce(col("d_purchase"), col("e_purchase")).as("trait_purchase_value"))
  }

  /** q11's trait extraction + latest-non-null-per-column aggregate,
    * reused by the incremental/streaming paths over event subsets.
    */
  private[graft] def usersOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def latestNonNull(c: Column): Column =
      max_by(c, when(c.isNotNull, struct(col("ts"), col("event_id"))))
    df.select(
        col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", col("value")).as("trait_view_value"),
        when(col("event_type") === "click", get_json_object(col("props"), "$.k"))
          .as("trait_click_k"),
        when(col("event_type") === "purchase", col("value")).as("trait_purchase_value"))
      .groupBy(col("user_id"))
      .agg(
        latestNonNull(col("trait_view_value")).as("trait_view_value"),
        latestNonNull(col("trait_click_k")).as("trait_click_k"),
        latestNonNull(col("trait_purchase_value")).as("trait_purchase_value"))
  }

  /** q11's construction at realistic users-table WIDTH: the reference's
    * users table carries hundreds of trait columns (one per distinct
    * identify key ever seen), so the latest-non-null-per-column
    * aggregate must not degrade with width. `nTraits` derived columns
    * (trait i = value when event_id % nTraits == i) run through the
    * SAME per-column max_by groupBy as the 3-column q11 — ONE
    * user_id shuffle with map-side partial agg regardless of width,
    * no per-column window pass, and the events scan still prunes to
    * the 4 source columns (props/event_type never read). PlanSpec pins
    * all three properties at width 300; RelationalSpec pins the
    * per-column latest-non-null values.
    */
  private[graft] def usersWideOf(df: org.apache.spark.sql.DataFrame,
                                 nTraits: Int): org.apache.spark.sql.DataFrame = {
    def latestNonNull(c: Column): Column =
      max_by(c, when(c.isNotNull, struct(col("ts"), col("event_id"))))
    val names = (0 until nTraits).map(i => f"trait_w$i%03d")
    val traits = (0 until nTraits).map(i =>
      when(pmod(col("event_id"), lit(nTraits.toLong)) === i, col("value"))
        .as(names(i)))
    val aggs = names.map(n => latestNonNull(col(n)).as(n))
    df.select(Seq(col("user_id"), col("ts"), col("event_id")) ++ traits: _*)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  val defs: Map[String, Q] = Map(

    // Minute-bucket metrics aggregation — reference
    // enterprise/reporting/reporting.go:264-335 (A1): GROUP BY dims on
    // minute buckets with SUM counters. Map-side partial agg + single
    // shuffle on (bucket, event_type); scales linearly with input.
    "a1_minute_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(unix_micros(date_trunc("minute", col("ts"))).as("minute_us"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(d(col("value"))).cast("double").as("sum_value"),
          max(col("event_id")).as("max_event_id"))
    }),

    // A1 sample fidelity: the reporting aggregation also carries the
    // LATEST NON-EMPTY sample payload per bucket (reporting.go:264-283
    // ARRAY_AGG(... ORDER BY id DESC) FILTER (...)). One groupBy with
    // max_by keyed on (ts, event_id), null samples excluded by a null
    // ordering key — a single shuffle with map-side partial agg,
    // replacing the old window-over-unbounded-frame + distinct() plan
    // (two shuffles and a full-group materialization).
    "a1b_reporting_sample" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("long")
      Tables.events(s, dir)
        .withColumn("minute_us", unix_micros(date_trunc("minute", col("ts"))))
        .withColumn("sample", when(k % 5 =!= 0, col("props")))
        .groupBy(col("minute_us"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          max_by(col("sample"),
            when(col("sample").isNotNull, struct(col("ts"), col("event_id"))))
            .as("last_sample"))
    }),

    // A1c: EVENT SAMPLER — bounded, TTL'd sample capture per metric
    // group (enterprise/reporting/event_sampler/: Get/Put keyed by
    // labelset hash + TTL-window bucket, utils.go:56-98): the FIRST
    // occurrence of a (group, ttl-bucket) key carries its sample;
    // repeats within the bucket are deduped to null; and once the
    // per-window cardinality cap is reached, later keys are never
    // recorded (in_memory_cache_event_sampler.go:62-64 Put no-op at
    // limit) so their samples always flow. Deterministic logical
    // clock: arrival order = event_id; TTL = 5-minute buckets (key
    // includes the bucket, so the next window re-samples — the TTL
    // eviction); cap = 3 keys per window. All three rules are pure
    // window functions over (bucket, event_type) — keys scale with
    // the corpus time range, no sequential state needed.
    "a1c_event_sampler" -> ((s, dir) => {
      val cap = 3
      val ev = Tables.events(s, dir)
        .withColumn("bucket",
          expr("CAST(unix_micros(date_trunc('minute', ts)) DIV 300000000 AS BIGINT)"))
      val wKey = Window.partitionBy(col("bucket"), col("event_type"))
        .orderBy(col("event_id"))
      val firsts = ev.groupBy(col("bucket"), col("event_type"))
        .agg(min(col("event_id")).as("first_eid"))
        .withColumn("key_rank",
          rank().over(Window.partitionBy(col("bucket")).orderBy(col("first_eid"))))
      ev.withColumn("rn", row_number().over(wKey))
        .join(firsts, Seq("bucket", "event_type"))
        .withColumn("keep", col("rn") === 1 || col("key_rank") > cap)
        .groupBy(col("bucket"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_samples"),
          min(when(col("keep"), col("event_id"))).as("first_sample"),
          max(when(col("keep"), col("event_id"))).as("last_sample"))
    }),

    // DBG1: live-event debugger cache — the per-entity bounded
    // most-recent-N sample with TTL-by-last-access eviction that backs
    // the control-plane live-events view (services/debugger/cache/
    // internal/memory/memory.go:90-105 Update keeps the LAST `size`
    // values per key; the cleaner drops keys whose lastAccess is older
    // than keyTTL). Batch semantics: "now" is the corpus max ts,
    // obtained as a memoized scalar planner statistic (Tables.maxIdStat
    // on ts cast to epoch seconds — the ta13/l1 pattern, one scan per
    // application, no corpus-wide join in the plan); an entity whose
    // newest event is older than now - 2h is evicted WHOLE; survivors
    // keep their 3 most-recent events plus a seen-count. Both windows
    // partition by user_id (NDV grows with the corpus) and fuse into
    // one exchange.
    "dbg1_live_event_cache" -> ((s, dir) => {
      val nowSec = Tables.maxIdStat(s, dir, "events", "ts") // epoch-second floor
      val wRecent = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val wUser = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(wRecent))
        .withColumn("last_ts", max(col("ts")).over(wUser))
        .withColumn("n_seen", count(lit(1)).over(wUser))
        .filter(col("last_ts") >= timestamp_seconds(lit(nowSec - 7200L)))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("rn").cast("long").as("rank"),
          col("event_id"), unix_micros(col("ts")).as("ts_us"), col("n_seen"))
    }),

    // Pile-up counts — jobsdb/jobsdb.go:151-153 (A3).
    "a3_pileup_counts" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // A14: BURSTINESS (Fano factor) per event type — the
    // dispersion-vs-Poisson read that separates steady traffic from
    // bursty (Fano = Var/mean of per-hour counts; 1e6 ppm = Poisson,
    // above = bursty, below = regular). Dense calendar-hour grid off
    // one span scalar (idle hours COUNT toward dispersion — d9's
    // grid), then prof16's two-pass exact-integer variance: integer
    // milli-mean (one documented truncation), DECIMAL(38) centered
    // squares (hour counts at web scale overflow a long when
    // squared), fano_ppm = ss·1e6 DIV (n·mean_milli). Pairs with
    // a12's autocorrelation: a12 reads WHEN the load repeats, this
    // reads HOW SPIKY it is.
    "a14_burstiness" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val ev = Tables.events(s, dir).select(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("h"))
      val counts = ev.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("cnt"))
      val types = ev.select(col("event_type")).distinct()
      val grid = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(expr("sequence(h0, h1)")).as("h"))
        .crossJoin(broadcast(types))
      val dense = grid.join(counts, Seq("event_type", "h"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val means = dense.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("total"))
        .withColumn("mean_milli", expr("total * 1000 DIV n_hours"))
      dense.join(broadcast(means), "event_type")
        .groupBy(col("event_type"), col("n_hours"), col("total"), col("mean_milli"))
        .agg(sum(expr(
          // One factor is promoted to DECIMAL(38,0) BEFORE the multiply:
          // the product wraps silently in LONG once |cnt*1000 - mean_milli|
          // tops ~3.04e9 (~3M events in one type-hour), exactly the regime
          // this read exists for. Mirrors the oracle's HUGEINT operand cast.
          "CAST(cnt * 1000 - mean_milli AS DECIMAL(38,0)) * " +
            "(cnt * 1000 - mean_milli)")).as("ss"))
        .withColumn("fano_ppm", expr(
          "CAST(ss * 1000 DIV greatest(CAST(1 AS DECIMAL(38,0)), " +
            "CAST(n_hours AS DECIMAL(38,0)) * mean_milli) AS BIGINT)"))
        .select(col("event_type"), col("n_hours"), col("total"),
          col("mean_milli"), col("fano_ppm"))
    }),

    // Distinct parameter values — jobsdb/jobsdb.go:155-161 (A4).
    // distinct() is a shuffle on user_id only after column pruning; at
    // scale the parquet scan reads one column.
    "a4_distinct_values" -> ((s, dir) => {
      Tables.events(s, dir).select(col("user_id")).distinct()
    }),

    // TPC-H-Q1-shaped pricing aggregate (reporting-style wide agg, A1
    // analog on batch data).
    "q01_pricing_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(d(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(d(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum((d(col("l_extendedprice")) * (lit(1).cast(dec) - d(col("l_discount")))).cast(DecimalType(30, 4)))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // Filter + projection — the preprocess drop stage
    // (processor/processor.go:2004-2191, T2/T3/T4): predicates reach the
    // parquet scan as PushedFilters; only 3 columns are read.
    "q02_filter_project" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1996-01-01").cast("timestamp") &&
                col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // Multi-way join + agg — destination fan-out join shape
    // (processor/processor.go:2373-2453, T11). nation/region are tiny
    // dims → broadcast; only orders⋈customer shuffles.
    "q03_join_revenue" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(d(col("o_totalprice"))).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // Top-k with deterministic tiebreak — error-index sort-before-write
    // (enterprise/reporting/error_index/worker.go:269-277). Spark plans
    // TakeOrderedAndProject: per-partition heap + driver merge, no full
    // sort at scale.
    "q04_topk_orders" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Latest-status-per-key — jobsdb DISTINCT ON/LATERAL LIMIT 1 scan
    // (jobsdb/jobsdb_get.go:104-128, S5): row_number window, single
    // shuffle on the partition key.
    // JD1: MULTI-CONSUMER PENDING-EVENTS ACCOUNTING
    // (jobsdb/jobsdb_multiconsumer.go:20-60 `v_last_c_` view =
    // DISTINCT ON (job_id, consumer) ... ORDER BY id DESC;
    // jobsdb_pending_events.go:9-80): one stored job fans to N
    // consumers, each tracked to its OWN latest status — a job
    // contributes one pending event per consumer and a per-consumer
    // terminal decrements exactly that destination; the job is
    // complete only when EVERY consumer is terminal. Fixture: every
    // third event is a job with two consumers; each (job, consumer)
    // leg carries a status LOG (seq 1..first-terminal, md5-coin
    // states the oracle replays), and the engine computes the view
    // with max_by(state, seq) — q05's latest-row shape at (job,
    // consumer) grain — then the per-destination pending identity
    // pending = assigned − terminal and the all-consumers-terminal
    // completion rollup (1-row broadcast, rule b).
    "jd1_multiconsumer_pending" -> ((s, dir) => {
      val coin = (k: Int) =>
        s"CAST(conv(substring(md5(concat(job_id, '|', consumer, '|', $k)), 1, 4), 16, 10) AS BIGINT) % 5"
      val legs = Tables.events(s, dir)
        .filter(col("event_id") % 3 === 0)
        .select(col("event_id").as("job_id"))
        .select(col("job_id"), explode(array(
          concat(lit("d_"), col("job_id") % 4),
          concat(lit("d_"), col("job_id") % 2 + 4))).as("consumer"))
        .withColumn("first_term", expr(
          s"CASE WHEN ${coin(1)} < 2 THEN 1 WHEN ${coin(2)} < 2 THEN 2 " +
            s"WHEN ${coin(3)} < 2 THEN 3 END"))
      val statusLog = legs
        .select(col("job_id"), col("consumer"),
          explode(expr("sequence(1, coalesce(first_term, 3))")).as("seq"))
        .withColumn("state", expr(
          "CASE CAST(conv(substring(md5(concat(job_id, '|', consumer, '|', seq)), 1, 4), 16, 10) AS BIGINT) % 5 " +
            "WHEN 0 THEN 'succeeded' WHEN 1 THEN 'aborted' ELSE 'executing' END"))
      val latest = statusLog.groupBy(col("job_id"), col("consumer"))
        .agg(expr("max_by(state, seq)").as("latest_state"))
        .withColumn("terminal",
          col("latest_state").isin("succeeded", "aborted"))
      val complete = latest.groupBy(col("job_id"))
        .agg(min(when(col("terminal"), 1L).otherwise(0L)).as("all_term"))
        .agg(sum(col("all_term")).as("jobs_complete"))
      latest.groupBy(col("consumer").as("dest"))
        .agg(count(lit(1)).as("n_assigned"),
          sum(when(col("terminal"), 1L).otherwise(0L)).as("n_terminal"))
        .withColumn("n_pending", col("n_assigned") - col("n_terminal"))
        .crossJoin(broadcast(complete))
    }),

    // JD2: READ-EXCLUDED PARTITIONS (jobsdb/
    // jobsdb_read_excluded_partitions.go:15-116 + jobsdb_get.go:
    // 431-445) — a persisted partition blocklist that queue reads
    // anti-filter on, UNLESS the caller passes explicit
    // partitionFilters (filters and exclusions are mutually
    // exclusive). partition_id follows DefaultParititionFunction's
    // shape (jobsdb.go:590-596): workspace + "-" + hash(user_id) %
    // numPartitions (8, a power of two; md5 stands in for murmur3 so
    // both engines audit the same hash). The ledger is exercised
    // end-to-end: add the idx-1/idx-4 partitions of every workspace,
    // re-add one (ON CONFLICT DO NOTHING — appends nothing), remove
    // one live id plus one absent id (DELETE no-op), then reconstruct
    // and anti-join. The exclusion set is metadata-grain (≤
    // workspaces × numPartitions), so the read path is a BROADCAST
    // anti-join — the 100 TB scan never shuffles for it. Two legs
    // prove both read modes: `excluded_scan` (default path, blocklist
    // applied) and `partition_filter` (explicit filters INCLUDING an
    // excluded partition, proving exclusions are bypassed).
    "jd2_read_excluded" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val ev = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        expr("concat('ws', user_id % 3, '-', " +
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 8)")
          .as("partition_id"))
      val ledger = State.scratchDir(s, "jd2") + "/ledger"
      graft.sinks.Sinks.addReadExcludedPartitionIDs(s, ledger,
        (0 until 3).flatMap(w => Seq(s"ws$w-1", s"ws$w-4")))
      graft.sinks.Sinks.addReadExcludedPartitionIDs(s, ledger, Seq("ws0-1"))
      graft.sinks.Sinks.removeReadExcludedPartitionIDs(s, ledger,
        Seq("ws1-4", "ws9-0"))
      val excluded = graft.sinks.Sinks.readExcludedPartitionIDs(s, ledger)
      val exDf = broadcast(excluded.toDF("partition_id"))
      val openLeg = ev.join(exDf, Seq("partition_id"), "left_anti")
        .groupBy(col("partition_id"))
        .agg(count(lit(1)).as("n_jobs"), countDistinct(col("user_id")).as("n_users"))
        .withColumn("leg", lit("excluded_scan"))
      val filterLeg = ev.filter(col("partition_id").isin("ws0-1", "ws0-2"))
        .groupBy(col("partition_id"))
        .agg(count(lit(1)).as("n_jobs"), countDistinct(col("user_id")).as("n_users"))
        .withColumn("leg", lit("partition_filter"))
      openLeg.unionByName(filterLeg)
        .select(col("leg"), col("partition_id"), col("n_jobs"), col("n_users"))
    }),

    "q05_latest_per_user" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id"), col("event_type"))
    }),

    // Dedup-on-load window — the reference's single most important
    // analytic op (postgres load.go:300-309, snowflake.go:481-490, L6):
    // keep latest row per natural key.
    "q06_dedup_load" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
    }),

    // Suppression anti-join — GDPR user suppression
    // (gateway/handle.go:574-603, T1). The suppression list is small →
    // Spark broadcasts the build side of the anti-join (no shuffle of
    // the event stream).
    "q07_suppression_anti_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val suppressed = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .select(col("user_id"))
      ev.join(suppressed, Seq("user_id"), "left_anti")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // Semi-join — destination availability / integrations gate shape
    // (processor/eventfilter, T12).
    "q08_purchaser_semi_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val buyers = ev.filter(col("event_type") === "purchase")
        .select(col("user_id")).distinct()
      ev.join(buyers, Seq("user_id"), "left_semi")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    }),

    // Destination fan-out — one event row → N (event × destination)
    // rows for enabled destinations (processor/processor.go:2373-2453,
    // T11). Config dim is broadcast; fan-out is a map-side 1-to-N join.
    "q09_destination_fanout" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val conns = Seq(
        ("purchase", "warehouse"), ("purchase", "webhook"), ("purchase", "kafka"),
        ("click", "warehouse"), ("click", "webhook"),
        ("view", "warehouse"),
        ("signup", "warehouse"), ("signup", "kafka"),
        ("error", "warehouse")).toDF("event_type", "destination")
      Tables.events(s, dir)
        .join(broadcast(conns), Seq("event_type"))
        .groupBy(col("destination"))
        .agg(count(lit(1)).as("n"), sum(d(col("value"))).cast("double").as("sum_value"))
    }),

    // Union — users ∪ identifies staging shape (postgres/load.go:436-459).
    "q10_union_distinct" -> ((s, dir) => {
      Tables.events(s, dir).select(col("user_id").as("id"))
        .union(Tables.orders(s, dir).select(col("o_custkey").as("id")))
        .distinct()
    }),

    // Users latest-trait aggregation — for EACH trait column
    // independently, the latest non-null value per user (postgres
    // load.go:413-431: per-column `ORDER BY received_at WHERE x IS NOT
    // NULL LIMIT 1` subquery — NOT latest-row-wins). Trait columns are
    // derived sparsely from the event stream so most rows carry nulls
    // in most traits, exercising the per-column semantics: a user
    // whose newest event lacks a trait keeps the older non-null value.
    // One groupBy on user_id with per-column max_by keyed on
    // (ts, event_id), null traits excluded by a null ordering key — a
    // single shuffle with map-side partial agg (the old plan windowed
    // over an unbounded frame then distinct()ed: two shuffles).
    "q11_users_latest_traits" -> ((s, dir) => usersOf(Tables.events(s, dir))),

    // INCREMENTAL users merge — the reference's staged-load shape
    // (warehouse/integrations/postgres/load.go:380-470): new
    // identifies land in a staging table, and the users table is
    // updated per column as COALESCE(staging latest non-null,
    // existing value) — the EXISTING table's source events are never
    // rescanned. Here the existing users table is materialized to
    // parquet from pre-cutoff events (and read back from disk, so the
    // no-rescan claim is physical), the delta aggregates only the
    // staging batch, and the merge is one full-outer join on user_id.
    // At 100 TB the cost is the batch + a users-table join (bucketed/
    // co-partitioned in production) instead of a full-history
    // recompute; every delta trait is globally-latest by construction
    // (all staging timestamps postdate the cutoff), so per-column
    // coalesce IS load.go's per-column subquery. The oracle is the
    // whole-input q11 recompute — the incremental plan must reproduce
    // it exactly.
    "q11b_users_incremental" -> ((s, dir) => {
      val cutoff = "2024-01-15 00:00:00"
      val existingDir = State.scratchDir(s, "q11b") + "/users"
      usersOf(Tables.events(s, dir).filter(col("ts") < cutoff))
        .write.parquet(existingDir)
      val existing = s.read.parquet(existingDir) // from disk: no event rescan
      val delta = usersOf(Tables.events(s, dir).filter(col("ts") >= cutoff))
      mergeUsers(existing, delta)
    }),

    // Skew-resilient two-phase aggregation: salt the hot key, partial
    // agg per (key, salt), then merge the partials. Result is
    // bit-identical to a plain groupBy (decimal sums are associative)
    // but the first shuffle spreads a hot key over 16 reducers — the
    // manual form of AQE skew-join handling, for aggregations, which
    // AQE does not rebalance. At 100 TB a single whale user no longer
    // serializes one reducer.
    "q13_salted_agg" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("salt", col("event_id") % 16)
        .groupBy(col("user_id"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(d(col("value"))).as("psum"))
        .groupBy(col("user_id"))
        .agg(sum(col("pn")).as("n"), sum(col("psum")).cast("double").as("sum_value"))
    }),

    // Rollup totals — free with the declarative SQL surface (§2.8:
    // the reference has no grouping sets; Catalyst provides them).
    "q14_rollup" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("source_id", col("user_id") % 5)
        .rollup(col("event_type"), col("source_id"))
        .agg(count(lit(1)).as("n"))
    }),

    // CUBE with grouping_id — every subtotal combination of
    // (returnflag, linestatus) in one pass plus the bitmask that tells
    // a report consumer WHICH dimensions each row aggregates over
    // (rollup covers only the prefix lattice; cube is the full one).
    // Spark plans this as a single Expand + hash aggregate — 4x the
    // rows through one shuffle, not 4 scans.
    "q29_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          grouping_id().as("gid"))
    }),

    // The engine is a SQL surface too: canonical tables registered as
    // views, queries in plain Spark SQL.
    "q15_sql_surface" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      Tables.orders(s, dir).createOrReplaceTempView("orders_v")
      s.sql(
        """SELECT e.event_type, COUNT(*) AS n_events,
                  COUNT(DISTINCT o.o_orderkey) AS n_orders
           FROM events_v e
           LEFT JOIN orders_v o ON o.o_custkey = e.user_id
           GROUP BY e.event_type""")
    }),

    // Grouped having — rsources completion predicate shape
    // (services/rsources, A5): per key, in == out + failed.
    "q12_rsources_stats" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_in"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_failed"),
          sum(when(col("event_type") =!= "error", 1).otherwise(0)).as("n_out"))
        .filter(col("n_in") >= 20)
    }),

    // rsources failed-record KEYS — the reference stores the actual
    // failed record ids per (jobRunId, taskRunId), queryable through
    // the rsources API alongside the counters
    // (services/rsources/rsources.go:35-51 FailedRecords store). One
    // row per failed key with its run context, the run's failed
    // counter, and the completion predicate (complete when nothing is
    // still in-flight — purchases model pending deliveries here). The
    // per-run stats side is run-cardinality (tiny), so it broadcasts;
    // the failed-key side streams map-side with no shuffle of its own.
    "q12b_rsources_failed_keys" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("job_run_id", concat(lit("jr_"), (col("user_id") % 10).cast("string")))
        .withColumn("task_run_id", concat(lit("tr_"), (col("user_id") % 3).cast("string")))
      val stats = ev.groupBy(col("job_run_id"), col("task_run_id"))
        .agg(sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_failed"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_pending"))
      val failed = ev.filter(col("event_type") === "error")
        .select(col("job_run_id"), col("task_run_id"),
          concat(lit("rec_"), col("event_id").cast("string")).as("failed_key"))
      failed.join(broadcast(stats), Seq("job_run_id", "task_run_id"))
        .select(col("job_run_id"), col("task_run_id"), col("failed_key"),
          col("n_failed"), (col("n_pending") === 0L).as("job_complete"))
    })
  )

  val oracles: Map[String, String] = Map(
    "a1_minute_agg" ->
      """SELECT epoch_us(date_trunc('minute', ts)) AS minute_us, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         MAX(event_id) AS max_event_id
         FROM events GROUP BY 1, 2""",
    "a1c_event_sampler" ->
      """WITH ev AS (SELECT *,
             CAST(epoch_us(date_trunc('minute', ts)) // 300000000 AS BIGINT) AS bucket
           FROM events),
         fr AS (SELECT bucket, event_type, MIN(event_id) AS first_eid
                FROM ev GROUP BY 1, 2),
         fr2 AS (SELECT *, RANK() OVER (PARTITION BY bucket ORDER BY first_eid) AS key_rank
                 FROM fr),
         e2 AS (SELECT e.bucket, e.event_type, e.event_id, f.key_rank,
                  ROW_NUMBER() OVER (PARTITION BY e.bucket, e.event_type
                                     ORDER BY e.event_id) AS rn
                FROM ev e JOIN fr2 f
                  ON f.bucket = e.bucket AND f.event_type = e.event_type)
         SELECT bucket, event_type, COUNT(*) AS n,
           CAST(SUM(CASE WHEN rn = 1 OR key_rank > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_samples,
           MIN(CASE WHEN rn = 1 OR key_rank > 3 THEN event_id END) AS first_sample,
           MAX(CASE WHEN rn = 1 OR key_rank > 3 THEN event_id END) AS last_sample
         FROM e2 GROUP BY 1, 2""",
    // "now" mirrors the engine's epoch-second-floored planner stat
    "dbg1_live_event_cache" ->
      """WITH nowt AS (SELECT epoch_us(MAX(ts)) // 1000000 AS now_sec FROM events),
         r AS (SELECT user_id, event_id, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rank,
                 MAX(ts) OVER (PARTITION BY user_id) AS last_ts,
                 COUNT(*) OVER (PARTITION BY user_id) AS n_seen
               FROM events)
         SELECT user_id, CAST(rank AS BIGINT) AS rank, event_id,
           epoch_us(ts) AS ts_us, n_seen
         FROM r, nowt
         WHERE epoch_us(last_ts) >= (now_sec - 7200) * 1000000 AND rank <= 3""",
    "a1b_reporting_sample" ->
      """SELECT DISTINCT epoch_us(date_trunc('minute', ts)) AS minute_us, event_type,
           COUNT(*) OVER w AS n,
           last_value(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 <> 0
                           THEN props END IGNORE NULLS) OVER w AS last_sample
         FROM events
         WINDOW w AS (PARTITION BY date_trunc('minute', ts), event_type
                      ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "a3_pileup_counts" ->
      "SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2",
    "a14_burstiness" ->
      """WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h
             FROM events),
          counts AS (SELECT event_type, h, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
          span AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM ev),
          grid AS (SELECT t.event_type, g.h
                   FROM (SELECT unnest(generate_series(h0, h1)) AS h FROM span) g
                   CROSS JOIN (SELECT DISTINCT event_type FROM ev) t),
          dense AS (SELECT g.event_type, g.h, COALESCE(c.cnt, 0) AS cnt
                    FROM grid g LEFT JOIN counts c
                      ON g.event_type = c.event_type AND g.h = c.h),
          means AS (SELECT event_type, COUNT(*) AS n_hours,
              CAST(SUM(cnt) AS BIGINT) AS total,
              CAST(SUM(cnt) AS BIGINT) * 1000 // COUNT(*) AS mean_milli
            FROM dense GROUP BY 1),
          ss AS (SELECT d.event_type, m.n_hours, m.total, m.mean_milli,
              SUM(CAST((d.cnt * 1000 - m.mean_milli) AS HUGEINT)
                * (d.cnt * 1000 - m.mean_milli)) AS ss
            FROM dense d JOIN means m ON d.event_type = m.event_type
            GROUP BY 1, 2, 3, 4)
          SELECT event_type, n_hours, total,
            CAST(mean_milli AS BIGINT) AS mean_milli,
            CAST(ss * 1000 // greatest(CAST(1 AS HUGEINT),
              CAST(n_hours AS HUGEINT) * mean_milli) AS BIGINT) AS fano_ppm
          FROM ss""",
    "a4_distinct_values" ->
      "SELECT DISTINCT user_id FROM events",
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         GROUP BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate <  TIMESTAMP '1996-01-01'
           AND l_quantity > 30""",
    "q03_join_revenue" ->
      """SELECT n_name,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q04_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    // the same coin-generated status log, latest per (job, consumer)
    // via arg_max — the v_last_c_ view replayed
    "jd1_multiconsumer_pending" ->
      """WITH jobs AS (SELECT event_id AS job_id FROM events
             WHERE event_id % 3 = 0),
          legs0 AS (SELECT job_id,
              unnest(['d_' || CAST(job_id % 4 AS VARCHAR),
                      'd_' || CAST(job_id % 2 + 4 AS VARCHAR)]) AS consumer
            FROM jobs),
          legs AS (SELECT job_id, consumer,
              CASE WHEN CAST('0x' || substr(md5(concat(job_id, '|', consumer, '|', 1)), 1, 4) AS BIGINT) % 5 < 2 THEN 1
                   WHEN CAST('0x' || substr(md5(concat(job_id, '|', consumer, '|', 2)), 1, 4) AS BIGINT) % 5 < 2 THEN 2
                   WHEN CAST('0x' || substr(md5(concat(job_id, '|', consumer, '|', 3)), 1, 4) AS BIGINT) % 5 < 2 THEN 3
              END AS first_term
            FROM legs0),
          log AS (SELECT job_id, consumer, s.seq,
              CASE CAST('0x' || substr(md5(concat(job_id, '|', consumer, '|', s.seq)), 1, 4) AS BIGINT) % 5
                WHEN 0 THEN 'succeeded' WHEN 1 THEN 'aborted'
                ELSE 'executing' END AS state
            FROM legs, unnest(generate_series(1, COALESCE(first_term, 3))) s(seq)),
          latest AS (SELECT job_id, consumer,
              arg_max(state, seq) AS latest_state
            FROM log GROUP BY 1, 2),
          lt AS (SELECT *, latest_state IN ('succeeded', 'aborted') AS terminal
                 FROM latest),
          cmp AS (SELECT CAST(SUM(all_term) AS BIGINT) AS jobs_complete
                  FROM (SELECT job_id,
                          MIN(CASE WHEN terminal THEN 1 ELSE 0 END) AS all_term
                        FROM lt GROUP BY 1))
          SELECT consumer AS dest, COUNT(*) AS n_assigned,
            CAST(SUM(CASE WHEN terminal THEN 1 ELSE 0 END) AS BIGINT) AS n_terminal,
            COUNT(*) - CAST(SUM(CASE WHEN terminal THEN 1 ELSE 0 END) AS BIGINT)
              AS n_pending,
            jobs_complete
          FROM lt CROSS JOIN cmp GROUP BY 1, 5""",
    // the planted ledger op sequence replayed declaratively:
    // latest-op-wins reconstruction (the engine's idempotent appends
    // drop no-op rows, which never changes the latest op per id),
    // then the same NOT EXISTS anti-filter / explicit-filter legs
    "jd2_read_excluded" ->
      """WITH ev AS (SELECT event_id, user_id,
             'ws' || (user_id % 3) || '-' ||
               (CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 8) AS partition_id
           FROM events),
          ops AS (SELECT * FROM (VALUES
             ('ws0-1', 'add', 1), ('ws0-4', 'add', 1), ('ws1-1', 'add', 1),
             ('ws1-4', 'add', 1), ('ws2-1', 'add', 1), ('ws2-4', 'add', 1),
             ('ws0-1', 'add', 2),
             ('ws1-4', 'remove', 3), ('ws9-0', 'remove', 3))
            t(partition_id, op, seq)),
          excl AS (SELECT partition_id FROM (
              SELECT partition_id, arg_max(op, seq) AS last_op
              FROM ops GROUP BY 1)
            WHERE last_op = 'add'),
          open_leg AS (SELECT 'excluded_scan' AS leg, partition_id,
              COUNT(*) AS n_jobs, COUNT(DISTINCT user_id) AS n_users
            FROM ev WHERE NOT EXISTS (SELECT 1 FROM excl
              WHERE excl.partition_id = ev.partition_id)
            GROUP BY 1, 2),
          filt AS (SELECT 'partition_filter' AS leg, partition_id,
              COUNT(*) AS n_jobs, COUNT(DISTINCT user_id) AS n_users
            FROM ev WHERE partition_id IN ('ws0-1', 'ws0-2')
            GROUP BY 1, 2)
          SELECT leg, partition_id, CAST(n_jobs AS BIGINT) AS n_jobs,
            CAST(n_users AS BIGINT) AS n_users FROM open_leg
          UNION ALL
          SELECT leg, partition_id, CAST(n_jobs AS BIGINT),
            CAST(n_users AS BIGINT) FROM filt""",
    "q05_latest_per_user" ->
      """SELECT user_id, event_id, event_type FROM (
           SELECT user_id, event_id, event_type,
                  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t WHERE rn = 1""",
    "q06_dedup_load" ->
      """SELECT user_id, event_type, event_id FROM (
           SELECT user_id, event_type, event_id,
                  ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) t WHERE rn = 1""",
    "q07_suppression_anti_join" ->
      """SELECT event_type, COUNT(*) AS n FROM events
         WHERE user_id NOT IN (
           SELECT user_id FROM events WHERE event_type = 'error'
           GROUP BY user_id HAVING COUNT(*) >= 5)
         GROUP BY event_type""",
    "q08_purchaser_semi_join" ->
      """SELECT event_type, COUNT(*) AS n FROM events
         WHERE user_id IN (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         GROUP BY event_type""",
    "q09_destination_fanout" ->
      """SELECT destination, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events
         JOIN (VALUES
           ('purchase','warehouse'),('purchase','webhook'),('purchase','kafka'),
           ('click','warehouse'),('click','webhook'),
           ('view','warehouse'),
           ('signup','warehouse'),('signup','kafka'),
           ('error','warehouse')) AS conns(event_type, destination)
         USING (event_type)
         GROUP BY destination""",
    "q10_union_distinct" ->
      "SELECT user_id AS id FROM events UNION SELECT o_custkey AS id FROM orders",
    "q11_users_latest_traits" ->
      """SELECT DISTINCT user_id,
           last_value(trait_view_value IGNORE NULLS) OVER w AS trait_view_value,
           last_value(trait_click_k IGNORE NULLS) OVER w AS trait_click_k,
           last_value(trait_purchase_value IGNORE NULLS) OVER w AS trait_purchase_value
         FROM (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN value END AS trait_view_value,
             CASE WHEN event_type = 'click' THEN json_extract_string(props, '$.k') END AS trait_click_k,
             CASE WHEN event_type = 'purchase' THEN value END AS trait_purchase_value
           FROM events) t
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    // The incremental merge must equal the whole-input recompute —
    // the oracle IS q11's SQL.
    "q11b_users_incremental" ->
      """SELECT DISTINCT user_id,
           last_value(trait_view_value IGNORE NULLS) OVER w AS trait_view_value,
           last_value(trait_click_k IGNORE NULLS) OVER w AS trait_click_k,
           last_value(trait_purchase_value IGNORE NULLS) OVER w AS trait_purchase_value
         FROM (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'view' THEN value END AS trait_view_value,
             CASE WHEN event_type = 'click' THEN json_extract_string(props, '$.k') END AS trait_click_k,
             CASE WHEN event_type = 'purchase' THEN value END AS trait_purchase_value
           FROM events) t
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "q13_salted_agg" ->
      """SELECT user_id, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY user_id""",
    "q14_rollup" ->
      """SELECT event_type, source_id, COUNT(*) AS n
         FROM (SELECT event_type, user_id % 5 AS source_id FROM events)
         GROUP BY ROLLUP(event_type, source_id)""",
    // GROUPING() bit order matches Spark's grouping_id (leftmost
    // column = most significant bit)
    "q29_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT) AS gid
         FROM lineitem
         GROUP BY CUBE(l_returnflag, l_linestatus)""",
    "q15_sql_surface" ->
      """SELECT e.event_type, COUNT(*) AS n_events,
                COUNT(DISTINCT o.o_orderkey) AS n_orders
         FROM events e
         LEFT JOIN orders o ON o.o_custkey = e.user_id
         GROUP BY e.event_type""",
    "q12_rsources_stats" ->
      """SELECT user_id, COUNT(*) AS n_in,
         CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
         CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_out
         FROM events GROUP BY user_id HAVING COUNT(*) >= 20""",
    "q12b_rsources_failed_keys" ->
      """WITH runs AS (
           SELECT 'jr_' || (user_id % 10) AS job_run_id,
                  'tr_' || (user_id % 3) AS task_run_id,
                  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
                  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_pending
           FROM events GROUP BY 1, 2)
         SELECT e.job_run_id, e.task_run_id, e.failed_key, r.n_failed,
                r.n_pending = 0 AS job_complete
         FROM (SELECT 'jr_' || (user_id % 10) AS job_run_id,
                      'tr_' || (user_id % 3) AS task_run_id,
                      'rec_' || CAST(event_id AS VARCHAR) AS failed_key
               FROM events WHERE event_type = 'error') e
         JOIN runs r ON e.job_run_id = r.job_run_id AND e.task_run_id = r.task_run_id"""
  )
}
