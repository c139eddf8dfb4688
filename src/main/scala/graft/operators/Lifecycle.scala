package graft.operators

import java.sql.Timestamp

import graft.{Q, State, Tables}
import graft.sinks.Sinks
import graft.sources.Readers
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Load-lifecycle roundtrip operators: the correctness gate drives the
  * actual write→read encoder paths (L5 + S6/S7), then aggregates the
  * read-back rows and checks them against the DuckDB oracle computed
  * on the ORIGINAL table — any loss/corruption in the encoder,
  * compression, partition split, or reader breaks the hash.
  */
object Lifecycle {

  private val dec = DecimalType(18, 2)
  private val loadTs = Timestamp.valueOf("2024-06-01 00:00:00")

  val defs: Map[String, Q] = Map(

    // L5+S7: per-table CSV.gz load files with load-time columns,
    // written partitioned by table and read back through the CSV
    // reader.
    "l5_load_file_roundtrip" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "l5")
      val ev = Tables.events(s, dir).select(
        col("event_type").as("table_name"),
        col("event_id"), col("user_id"), col("value"))
      Sinks.writeLoadFiles(ev, tmp, "csv", loadTs)
      Readers.csvLoadFiles(s, tmp,
          StructType.fromDDL(
            "event_id BIGINT, user_id BIGINT, value DOUBLE, uuid_ts TIMESTAMP, loaded_at TIMESTAMP"))
        .groupBy(col("table_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_value"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
    }),

    // L5c: ORC load-file roundtrip — the fourth columnar load-file
    // format (reference load-file formats are CSV/JSON/Parquet per
    // warehouse provider; ORC is the Hive-lineage datalake sibling a
    // Spark-native engine gets for free and several lakehouse
    // deployments require). Same write→read→rollup differential as
    // l5: any loss in the ORC encoder, stripe split, or partition
    // routing breaks the hash.
    "l5c_orc_roundtrip" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "l5c")
      val ev = Tables.events(s, dir).select(
        col("event_type").as("table_name"),
        col("event_id"), col("user_id"), col("value"))
      Sinks.writeLoadFiles(ev, tmp, "orc", loadTs)
      Readers.orcLoadFiles(s, tmp)
        .groupBy(col("table_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_value"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
    }),

    // L14: BACKFILL PLANNER — the incremental-recompute decision of a
    // partitioned pipeline: given a processing watermark (here: the
    // top 1/5 of event ids is "late-arriving" — derived from the
    // memoized max-id stat, so both engines draw the same line),
    // which date partitions does the late data touch, how many late
    // rows vs the partition's full size (the recompute cost a
    // scheduler weighs), and does the partition need recomputing at
    // all. One scan fans both sides (late flag is a projection);
    // per-date rollup is partition-count-bounded. Partitions with NO
    // late rows never appear — the plan IS the work list.
    "l14_backfill_plan" -> ((s, dir) => {
      val wm = Tables.maxIdStat(s, dir, "events", "event_id") * 4L / 5L
      Tables.events(s, dir)
        .select(to_date(col("ts")).cast("string").as("partition_date"),
          col("event_id"))
        .groupBy(col("partition_date"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("event_id") > wm, 1L).otherwise(0L)).as("n_late"),
          min(when(col("event_id") > wm, col("event_id"))).as("first_late_id"),
          max(when(col("event_id") > wm, col("event_id"))).as("last_late_id"))
        .filter(col("n_late") > 0L)
        .withColumn("late_permille", expr("n_late * 1000 DIV n_rows"))
    }),

    // L15: SMALL-FILE COMPACTION PLANNER — the OPTIMIZE step every
    // datalake table needs after d8/l10-style partitioned writes
    // accumulate under-sized files (Delta/Iceberg's bin-packing
    // compaction, planned declaratively): per partition date, files
    // under the target size are greedily packed in file-id order into
    // target-sized rewrite bins ((cum − bytes) DIV target — ta6's
    // shard rule applied to bytes), and single-file bins drop out
    // (nothing to merge). The ledger aggregate is the only
    // corpus-scale shuffle; the packing windows run over FILE
    // METADATA (corpus/file-size rows, partition-bounded per window),
    // which is exactly the scale a real table-format compactor
    // plans over.
    "l15_compaction_plan" -> ((s, dir) => {
      val target = 4096L
      val files = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).cast("string").as("dt"),
          (col("event_id") % 40L).as("file_id"))
        .agg((sum(length(col("props")).cast("long")) + count(lit(1)) * 64L)
          .as("bytes"))
      val small = files.filter(col("bytes") < target)
      val w = Window.partitionBy(col("dt")).orderBy(col("file_id"))
      small.withColumn("cum", sum(col("bytes")).over(w))
        .withColumn("bin_id", expr(s"(cum - bytes) DIV ${target}L"))
        .groupBy(col("dt"), col("bin_id"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
          min(col("file_id")).as("first_file"), max(col("file_id")).as("last_file"))
        .filter(col("n_files") >= 2L)
    }),

    // L5b: PROVIDER-format load-file roundtrip — the same events
    // written through three provider encoders (BQ = gzip JSON with
    // both load-time columns; POSTGRES = gzip CSV with RFC3339-milli
    // uuid_ts only; CLICKHOUSE = same CSV after bool→0/1 shaping),
    // each read back through that provider's reader. The output rows
    // carry the encoded literals themselves (timestamp formats, the
    // boolean encoding divergence), which the oracle derives from the
    // same format table — a wrong pattern, precision, or shaping rule
    // breaks the hash.
    "l5b_provider_formats" -> ((s, dir) => {
      val fmtTs = Timestamp.valueOf("2024-06-01 00:00:00.123456")
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
        (col("event_type") === "error").as("is_error"))
      def roundTrip(provider: String) = {
        val tmp = State.scratchDir(s, s"l5b_$provider")
        Sinks.writeProviderLoadFiles(ev, tmp, provider, fmtTs)
        val hasLoadedAt = provider == "BQ"
        val ddl = "event_id STRING, event_type STRING, is_error STRING, uuid_ts STRING" +
          (if (hasLoadedAt) ", loaded_at STRING" else "")
        val back = Sinks.readProviderLoadFiles(s, tmp, provider, ddl)
        back.agg(
            count(lit(1)).as("n"),
            min(col("uuid_ts")).as("uuid_ts_fmt"),
            (if (hasLoadedAt) min(col("loaded_at")) else lit(null).cast("string"))
              .as("loaded_at_fmt"),
            min(when(col("event_type") === "error", col("is_error")))
              .as("true_literal"),
            min(when(col("event_type") =!= "error", col("is_error")))
              .as("false_literal"))
          .select(lit(provider).as("provider"), col("n"), col("uuid_ts_fmt"),
            col("loaded_at_fmt"), col("true_literal"), col("false_literal"))
      }
      roundTrip("BQ").unionByName(roundTrip("POSTGRES")).unionByName(roundTrip("CLICKHOUSE"))
    }),

    // D7: error-stash roundtrip — failed events written to the
    // dead-letter layout (sorted by failed_at, partitioned by date),
    // read back and rolled up against the oracle on the source table.
    "d7_error_stash_roundtrip" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "d7")
      val failed = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts").as("failed_at"),
          to_date(col("ts")).cast("string").as("failed_date"))
      graft.sinks.Sinks.errorStash(failed, tmp)
      Readers.parquetLoadFiles(s, tmp)
        // partition discovery re-infers the dir value as DATE; pin string
        .groupBy(col("failed_date").cast("string").as("failed_date"))
        .agg(count(lit(1)).as("n_failed"),
          min(col("event_id")).as("first_error"), max(col("event_id")).as("last_error"))
    }),

    // D8: archiver — raw events archived to object storage (json.gz,
    // partitioned) THEN deleted from the live table; the check reads
    // the archive back and proves live+archived == original.
    "d8_archiver" -> ((s, dir) => {
      val base = State.scratchDir(s, "d8")
      val live = s"$base/live"
      val archive = s"$base/archive"
      val cutoff = "2024-01-15 00:00:00"
      // partition by (source, destination) at source granularity, not
      // user granularity — per-user dirs at scale are a small-files
      // explosion (7,500 dirs of tiny gzip at sf0.1 took 100x the
      // write time of 100 well-sized ones)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("string").as("ts_str"),
          (col("user_id") % 20).cast("string").as("source_id"),
          col("event_type").as("destination_id"),
          date_trunc("week", col("ts")).cast("date").cast("string").as("event_week"))
      // live table laid out by event_week (the retention grain): the
      // archive scan below is partition-pruned, and retention by age
      // becomes a pure metadata partition drop — no row of the
      // retained data is read or rewritten (the L9 fast path; the
      // row-predicate rewrite path stays covered by SinksSpec). The
      // partition grain matches the retention cadence — per-day dirs
      // measured 2-3x slower end-to-end here from directory overhead
      // alone, the same small-partitions trap as per-user dirs above.
      // Repartition by the partition column first so each week gets
      // one well-sized file instead of one per task.
      ev.repartition(col("event_week"))
        .write.mode("overwrite").partitionBy("event_week").parquet(live)
      // retention cutoff aligns with the partition grain (2024-01-15
      // is a week boundary), so the predicate is exact on partitions
      val cutoffDate = cutoff.substring(0, 10)
      graft.sinks.Sinks.batchObjectSink(
        s.read.parquet(live).filter(col("event_week") < cutoffDate)
          .drop("event_week"), archive)
      graft.sinks.Sinks.retentionDropPartitions(s, live, "event_week")(_ < cutoffDate)
      val archived = Readers.stagingScan(s, archive,
          Some(StructType.fromDDL(
            "event_id BIGINT, user_id BIGINT, event_type STRING, ts_str STRING")))
        .select(lit("archived").as("side"), col("event_id"))
      val remaining = s.read.parquet(live)
        .select(lit("live").as("side"), col("event_id"))
      archived.unionByName(remaining)
        .groupBy(col("side"))
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"),
          max(col("event_id")).as("max_id"))
    }),

    // L10: datalake-sink roundtrip — events written through the
    // date-partitioned datalake layout, read back WITH partition
    // discovery (event_date exists only as directory names), rolled
    // up per date against the oracle on the original table: a sink
    // that misroutes a row to the wrong date dir, drops rows in the
    // repartition, or corrupts values breaks the hash.
    // SNAPSHOT VERSIONING roundtrip — time travel over the versioned
    // sink: commit the dimension as v0, commit the changed dimension
    // as v1, then answer "what changed between snapshots" by reading
    // BOTH versions back through readVersion and joining on the key.
    // The oracle derives the same delta straight from the source
    // table, so the check covers commit, version resolution and
    // as-of reads end-to-end. SinksSpec pins the crash-atomicity
    // (a failed commit leaves the previous latest readable).
    "l13_snapshot_versioning" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "l13")
      val dim = Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal"))
      val v0 = Sinks.versionedWrite(dim, tmp)
      val v1 = Sinks.versionedWrite(
        dim.withColumn("c_acctbal",
          when(col("c_custkey") % 7 === 3, col("c_acctbal") + 100.5)
            .otherwise(col("c_acctbal"))), tmp)
      val a = Sinks.readVersion(s, tmp, Some(v0))
        .select(col("c_custkey"), col("c_acctbal").as("acctbal_v0"))
      val b = Sinks.readVersion(s, tmp, Some(v1))
        .select(col("c_custkey"), col("c_acctbal").as("acctbal_v1"))
      a.join(b, "c_custkey")
        .filter(col("acctbal_v0") =!= col("acctbal_v1"))
        .select(col("c_custkey"), col("acctbal_v0"), col("acctbal_v1"),
          lit(v0).as("from_version"), lit(v1).as("to_version"))
    }),

    "l10_datalake_roundtrip" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "l10")
      Sinks.datalakeWrite(
        Tables.events(s, dir).select(col("event_id"), col("ts"), col("value")), tmp)
      s.read.parquet(tmp)
        .groupBy(col("event_date").cast("string").as("event_date"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          sum(col("value").cast(dec)).cast("double").as("sum_value"))
    }),

    // D6: streaming object sink — a REAL Structured Streaming query
    // (file source pinned to one file per trigger → exactly 5
    // micro-batches) delivered through startStreamingObjectSink's
    // foreachBatch into the (source, destination)-partitioned object
    // layout, then read back and rolled up per destination partition.
    // n_batches comes from the checkpoint commit log, so the oracle
    // proves BOTH multi-batch delivery and exactly-once content
    // (every row lands once across batch boundaries).
    "d6_streaming_sink" -> ((s, dir) => {
      val base = State.scratchDir(s, "d6")
      val in = s"$base/in"
      val out = s"$base/out"
      val ckpt = s"$base/ckpt"
      Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("user_id") % 3).cast("string").as("source_id"),
          col("event_type").as("destination_id"))
        .repartition(5)
        .write.mode("overwrite").parquet(in)
      val stream = s.readStream
        .schema(s.read.parquet(in).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = Sinks.startStreamingObjectSink(stream, out, ckpt)
      q.processAllAvailable()
      q.stop()
      val nBatches = Option(new java.io.File(s"$ckpt/commits").listFiles())
        .map(_.count(_.getName.forall(_.isDigit))).getOrElse(0).toLong
      Readers.stagingScan(s, out,
          Some(StructType.fromDDL("event_id BIGINT, user_id BIGINT, event_type STRING")))
        .groupBy(col("source_id").cast("string").as("source_id"),
          col("destination_id").cast("string").as("destination_id"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .withColumn("n_batches", lit(nBatches))
    }),

    // L4 in-file duplicate-id detection (slave/worker.go:333-348):
    // the staging slice is scanned for ids occurring more than once
    // per table — reported as a stat; the L6 window keeps the latest
    // on load.
    "l4d_infile_dups" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("row_id", concat(lit("id_"), col("event_id") % 4000))
        .groupBy(col("event_type"), col("row_id"))
        .agg(count(lit(1)).as("occurrences"))
        .filter(col("occurrences") > 1)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_dup_ids"), max(col("occurrences")).as("max_occurrences"))
    }),

    // L12: reverse-ETL source — warehouse table rows lifted into
    // extract events with record ids, aggregated per status.
    "l12_retl_source" -> ((s, dir) => {
      Readers.retlSource(s, s"$dir/orders.parquet", "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_records"), min(col("record_id")).as("first_record"))
    }),

    // S6: gzip JSON-lines staging file scan — events serialized to
    // the staging shape, written .json.gz, scanned back.
    "s6_staging_scan" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "s6")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").option("compression", "gzip").json(tmp)
      Readers.stagingScan(s, tmp,
          Some(StructType.fromDDL(
            "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("sum_value"))
    }),

    // L9: retention delete on a ROW predicate (not partition-aligned)
    // — the filtered crash-atomic rewrite path of
    // Sinks.retentionDelete (postgres.go:278 / snowflake.go:304
    // DELETE FROM ... WHERE). The partition-drop fast path is covered
    // by d8; this proves the rewrite keeps exactly NOT(predicate),
    // values intact, and that the returned kept-count matches what a
    // reader sees after the swap.
    "l9_retention_rewrite" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "l9") + "/t"
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.parquet(tmp)
      val predicate = "event_type = 'error' OR user_id % 7 = 0"
      val kept = Sinks.retentionDelete(s, tmp, predicate)
      s.read.parquet(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          sum(col("value").cast(dec)).cast("double").as("sum_value"))
        .withColumn("kept_total", lit(kept))
    }),

    // D4: batch object sink — events fanned into the gzip JSON
    // (source, destination)-partitioned object layout
    // (router/batchrouter/handle.go:240-452), read back WITH partition
    // discovery so the check proves each row landed in the directory
    // its keys dictate (a misrouted row changes some partition's
    // count/min/max and breaks the hash).
    "d4_object_sink" -> ((s, dir) => {
      val tmp = State.scratchDir(s, "d4")
      Sinks.batchObjectSink(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            (col("user_id") % 10).cast("string").as("source_id"),
            col("event_type").as("destination_id")), tmp)
      Readers.stagingScan(s, tmp,
          Some(StructType.fromDDL("event_id BIGINT, user_id BIGINT, event_type STRING")))
        .groupBy(col("source_id").cast("string").as("source_id"),
          col("destination_id").cast("string").as("destination_id"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
    }),

    // RG1: regulation-worker batch delete — the GDPR forget-user job
    // (regulation-worker/internal/delete/batch/batch.go:327-360): an
    // object-store corpus is listed, already-cleaned objects are
    // skipped via the job-scoped status-tracker ledger, and every
    // remaining object is rewritten without the regulation job's
    // users, crash-atomically (Sinks.regulationDelete). Run TWICE with
    // the same job id: the second pass must find a fully-populated
    // ledger and clean 0 objects — the resume semantics ARE the
    // operator, so both passes' counts ride the checked output. The
    // post-delete aggregate proves exactly the suppressed users' rows
    // (and nothing else) vanished from every object.
    "rg1_regulation_delete" -> ((s, dir) => {
      val sess = s
      import sess.implicits._
      val tmp = State.scratchDir(s, "rg1") + "/corpus"
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          (col("event_id") % 6).as("obj"))
        .write.partitionBy("obj").parquet(tmp)
      // job's userAttributes: every 13th user id up to the corpus max
      // (memoized stat), so the explicit list covers the id domain at
      // ANY sf and the oracle's modulus predicate stays equivalent
      val maxUid = Tables.maxIdStat(s, dir, "events", "user_id")
      val forget = (0L to maxUid by 13L).toDF("user_id")
      val (total, first) = Sinks.regulationDelete(s, tmp, forget, "user_id", "job_42")
      val (_, resumed) = Sinks.regulationDelete(s, tmp, forget, "user_id", "job_42")
      s.read.parquet(tmp)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          sum(col("value").cast(dec)).cast("double").as("sum_value"))
        .withColumn("objects_total", lit(total))
        .withColumn("cleaned_first", lit(first))
        .withColumn("cleaned_resume", lit(resumed))
    }),

    // WA1: warehouse-side archival cron
    // (warehouse/archive/archiver.go:105-259,539-556): the uploads
    // ledger is scanned for EXPORTED uploads past the retention
    // window whose workspace is not degraded (the same skip list as
    // countUploadsToArchive's $3), their staging-file ledger rows are
    // backed up to object storage as json.gz and deleted from the
    // live ledger, and the archived flag commits last
    // (Sinks.warehouseArchive's tracker = the reference's
    // metadata->archivedStagingAndLoadFiles). Run TWICE like rg1: the
    // resume pass must find a complete tracker and archive 0 — the
    // counts ride the checked output, and the d8-style two-side union
    // proves archived + live == the original ledger row-for-row.
    // Uploads model: 2000-file batches of the event stream, workspace
    // and status derived from the upload id, created_at = the batch's
    // max event time.
    "wa1_warehouse_archive" -> ((s, dir) => {
      val base = State.scratchDir(s, "wa1")
      val live = s"$base/staging_ledger"
      val archive = s"$base/archive"
      val files = Tables.events(s, dir).select(
        col("event_id").as("staging_file_id"),
        expr("event_id DIV 2000").as("upload"),
        col("ts"))
      files.repartition(col("upload"))
        .write.partitionBy("upload").parquet(live)
      val eligible = files.groupBy(col("upload"))
        .agg(max(col("ts")).as("created_at"))
        .filter(col("upload") % 4 =!= 3 && // status = exported_data
          concat(lit("ws_"), col("upload") % 5) =!= "ws_2" && // degraded skip
          col("created_at") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .select(col("upload")) // stays a DataFrame: the archiver pages it maxLimit at a time, never a full collect
        // upload-grain (corpus/2000 rows) but derived from a full
        // events scan+agg, and the two archiver passes re-evaluate it
        // ~5x (count + page collects per call) — pin it for the
        // lifecycle's duration, released on every path
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (nEligible, first, resumed, noneEligible) =
        try {
          val (n, first) = Sinks.warehouseArchivePaged(s, live, archive, eligible, "wa1_job")
          val (_, resumed) = Sinks.warehouseArchivePaged(s, live, archive, eligible, "wa1_job")
          (n, first, resumed, eligible.isEmpty)
        } finally eligible.unpersist()
      val archived = (if (noneEligible) // nothing written: glob would throw
          s.emptyDataFrame
            .withColumn("staging_file_id", lit(0L)).withColumn("upload", lit(0L))
        else s.read
          .schema(StructType.fromDDL("staging_file_id BIGINT, upload BIGINT"))
          .json(s"$archive/part_*"))
        .select(lit("archived").as("side"), col("staging_file_id"), col("upload"))
      val remaining = s.read.parquet(live)
        .select(lit("live").as("side"), col("staging_file_id"),
          col("upload").cast("long").as("upload"))
      archived.unionByName(remaining)
        .groupBy(col("side"), concat(lit("ws_"), col("upload") % 5).as("workspace_id"))
        .agg(count(lit(1)).as("n_files"),
          min(col("staging_file_id")).as("min_id"),
          max(col("staging_file_id")).as("max_id"))
        .withColumn("eligible_uploads", lit(nEligible))
        .withColumn("archived_first", lit(first))
        .withColumn("archived_resume", lit(resumed))
    }),

    // SJ1: warehouse SOURCE-JOB execution lifecycle
    // (warehouse/source/source.go:63-276): reverse-ETL job runs
    // insert one job per distinct table in the run's table_uploads —
    // EXCLUDING discards and identity-resolution tables
    // (source.go:82-96) — and a processing loop drains them through
    // waiting → executing → succeeded/failed/aborted with the repo's
    // pre-increment attempt cap (Sinks.sourceJobsRun). Jobs here:
    // jobRun = event_id % 5, table = the warehouse table its event
    // type feeds (signup/error map to the two EXCLUDED tables, so the
    // filter is exercised); job_id is pure arithmetic (jr·3 + table
    // index), no window. Try outcomes are a deterministic md5 coin
    // (≈1/3 success) the oracle replays; maxAttempt = 1 gives every
    // job up to 3 tries. Run TWICE like rg1/wa1: the resume pass must
    // find every job terminal and execute 0 — the counts ride the
    // checked output, and the per-job terminal rows come from the
    // ledger's own latest-state read path, not from the jobs input.
    "sj1_source_jobs" -> ((s, dir) => {
      val tidx = when(col("table_name") === "orders", 0L)
        .when(col("table_name") === "pages", 1L).otherwise(2L)
      val jobs = Tables.events(s, dir)
        .select((col("event_id") % 5).as("jr"), col("event_type"))
        .distinct()
        .withColumn("table_name",
          when(col("event_type") === "purchase", "orders")
            .when(col("event_type") === "click", "pages")
            .when(col("event_type") === "view", "screens")
            .when(col("event_type") === "signup", "rudder_identity_merge_rules")
            .otherwise("rudder_discards"))
        .filter(!lower(col("table_name")).isin(
          "rudder_discards", "rudder_identity_mappings", "rudder_identity_merge_rules"))
        .select((col("jr") * 3 + tidx).as("job_id"),
          concat(lit("jr_"), col("jr")).as("job_run_id"), col("table_name"))
        .distinct()
      def ok(run: String, tbl: String, tryNo: Long): Boolean = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$run|$tbl|$tryNo".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) % 3 == 0
      }
      val ledger = State.scratchDir(s, "sj1") + "/ledger"
      val (e1, t1) = Sinks.sourceJobsRun(s, ledger, jobs, 1, 4, ok)
      val (e2, _) = Sinks.sourceJobsRun(s, ledger, jobs, 1, 4, ok)
      val wLatest = Window.partitionBy(col("job_id")).orderBy(col("seq").desc)
      s.read.parquet(ledger)
        .withColumn("rn", row_number().over(wLatest)).filter(col("rn") === 1)
        .select(col("job_run_id"), col("table_name"), col("status"),
          col("attempt").as("attempts"))
        .withColumn("executed_first", lit(e1))
        .withColumn("terminal_first", lit(t1))
        .withColumn("executed_resume", lit(e2))
    }),

    // NT1: the notifier claim/orphan-requeue queue
    // (services/notifier/notifier.go:390-664, repo.go:95-558) — the
    // coordination service between the warehouse router and its
    // upload workers. 40 SCALE-FREE jobs (distinct o_orderkey % 40 —
    // the queue is control-plane metadata whatever the corpus size)
    // publish under 5 batches with (job % 3 + 1) priorities; 12
    // workers claim in (priority, id) order, two of them die holding
    // their first claim — RunMaintenance's orphan sweep requeues
    // both after the 2-round claim timeout WITHOUT costing an
    // attempt. Outcomes are the sj1 md5 coin (≈1/3 success) the
    // oracle replays; maxAttempt = 0 gives each job the repo's
    // pre-increment maxAttempt + 2 = 2 tries. Every transition is an
    // append to the parquet ledger (crash recovery is SinksSpec's
    // job); the checked rows come back through getByBatchID's
    // pre-delete read, with the executed / orphan / batch-completion
    // counters riding as pinned columns — orphan_requeues = the two
    // planted deaths, batches_completed = all 5 (every batch drains
    // terminal and is deleted).
    "nt1_notifier_queue" -> ((s, dir) => {
      val jobs = Tables.orders(s, dir)
        .select((col("o_orderkey") % 40).as("job_id")).distinct()
        .withColumn("batch_id", concat(lit("b_"), col("job_id") % 5))
        .withColumn("priority", col("job_id") % 3 + 1)
      def coin(batch: String, job: Long, tryNo: Long): Boolean = {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$batch|$job|$tryNo".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(hex, 16) % 3 == 0
      }
      val ledger = State.scratchDir(s, "nt1") + "/ledger"
      val (executed, orphans, _, batchesDone) = graft.sinks.Notifier.run(
        s, ledger, jobs, maxAttempt = 0, nWorkers = 12,
        orphanTimeoutRounds = 2, outcome = coin,
        deadAfterFirstClaim = Set(10, 11))
      graft.sinks.Notifier.returnedJobs(s, ledger)
        .select(col("job_id"), col("batch_id"), col("priority"),
          col("status"), col("attempt").as("attempts"))
        .withColumn("executed", lit(executed))
        .withColumn("orphan_requeues", lit(orphans))
        .withColumn("batches_completed", lit(batchesDone))
    })
  )

  val oracles: Map[String, String] = Map(
    "l5_load_file_roundtrip" ->
      """SELECT event_type AS table_name, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
         FROM events GROUP BY 1""",
    "l5c_orc_roundtrip" ->
      """SELECT event_type AS table_name, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
         FROM events GROUP BY 1""",
    // the same watermark line derived from the same max
    "l14_backfill_plan" ->
      """WITH wm AS (SELECT MAX(event_id) * 4 // 5 AS w FROM events)
         SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS partition_date,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN event_id > wm.w THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           MIN(CASE WHEN event_id > wm.w THEN event_id END) AS first_late_id,
           MAX(CASE WHEN event_id > wm.w THEN event_id END) AS last_late_id,
           (CAST(SUM(CASE WHEN event_id > wm.w THEN 1 ELSE 0 END) AS BIGINT) * 1000)
             // COUNT(*) AS late_permille
         FROM events CROSS JOIN wm
         GROUP BY 1
         HAVING SUM(CASE WHEN event_id > wm.w THEN 1 ELSE 0 END) > 0""",
    // same greedy byte-packing rule; length() counts characters in
    // both engines and the ledger aggregate is replayed exactly
    "l15_compaction_plan" ->
      """WITH f AS (SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS dt,
             event_id % 40 AS file_id,
             CAST(SUM(length(props)) + COUNT(*) * 64 AS BIGINT) AS bytes
           FROM events GROUP BY 1, 2),
         sm AS (SELECT * FROM f WHERE bytes < 4096),
         c AS (SELECT dt, file_id, bytes,
                 CAST(SUM(bytes) OVER (PARTITION BY dt ORDER BY file_id)
                   AS BIGINT) AS cum
               FROM sm)
         SELECT dt, CAST((cum - bytes) // 4096 AS BIGINT) AS bin_id,
           COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS total_bytes,
           MIN(file_id) AS first_file, MAX(file_id) AS last_file
         FROM c GROUP BY 1, 2 HAVING COUNT(*) >= 2""",
    "s6_staging_scan" ->
      """SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",
    "l4d_infile_dups" ->
      """SELECT event_type, COUNT(*) AS n_dup_ids,
           CAST(MAX(occurrences) AS BIGINT) AS max_occurrences
         FROM (
           SELECT event_type, 'id_' || (event_id % 4000) AS row_id,
                  COUNT(*) AS occurrences
           FROM events GROUP BY 1, 2 HAVING COUNT(*) > 1) t
         GROUP BY event_type""",
    "l12_retl_source" ->
      """SELECT o_orderstatus, COUNT(*) AS n_records,
           MIN('rec_' || CAST(o_orderkey AS VARCHAR)) AS first_record
         FROM orders GROUP BY 1""",
    // the oracle derives each provider's encoded literals from the
    // same format table: BQ second/micro-precision ' Z' strings, CSV
    // RFC3339-milli, ClickHouse 1/0 vs everyone's true/false.
    "l5b_provider_formats" ->
      """WITH base AS (SELECT COUNT(*) AS n FROM events),
         fmt AS (SELECT
           strftime(TIMESTAMP '2024-06-01 00:00:00.123456', '%Y-%m-%d %H:%M:%S') || ' Z' AS bq_uuid,
           strftime(TIMESTAMP '2024-06-01 00:00:00.123456', '%Y-%m-%d %H:%M:%S.%f') || ' Z' AS bq_loaded,
           strftime(TIMESTAMP '2024-06-01 00:00:00.123456', '%Y-%m-%dT%H:%M:%S.') ||
             substr(strftime(TIMESTAMP '2024-06-01 00:00:00.123456', '%f'), 1, 3) || 'Z' AS csv_uuid)
         SELECT 'BQ' AS provider, n, bq_uuid AS uuid_ts_fmt, bq_loaded AS loaded_at_fmt,
                'true' AS true_literal, 'false' AS false_literal FROM base, fmt
         UNION ALL
         SELECT 'POSTGRES', n, csv_uuid, NULL, 'true', 'false' FROM base, fmt
         UNION ALL
         SELECT 'CLICKHOUSE', n, csv_uuid, NULL, '1', '0' FROM base, fmt""",
    "l13_snapshot_versioning" ->
      """SELECT c_custkey, c_acctbal AS acctbal_v0,
           c_acctbal + 100.5 AS acctbal_v1,
           CAST(0 AS BIGINT) AS from_version, CAST(1 AS BIGINT) AS to_version
         FROM customer WHERE c_custkey % 7 = 3""",
    "l10_datalake_roundtrip" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date, COUNT(*) AS n,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1""",
    "d6_streaming_sink" ->
      """SELECT CAST(user_id % 3 AS VARCHAR) AS source_id,
           event_type AS destination_id, COUNT(*) AS n,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id,
           CAST(5 AS BIGINT) AS n_batches
         FROM events WHERE event_type IN ('click', 'purchase')
         GROUP BY 1, 2""",
    "d7_error_stash_roundtrip" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS failed_date, COUNT(*) AS n_failed,
           MIN(event_id) AS first_error, MAX(event_id) AS last_error
         FROM events WHERE event_type = 'error' GROUP BY 1""",
    "d8_archiver" ->
      """SELECT CASE WHEN CAST(ts AS VARCHAR) < '2024-01-15 00:00:00'
                     THEN 'archived' ELSE 'live' END AS side,
           COUNT(*) AS n, MIN(event_id) AS min_id, MAX(event_id) AS max_id
         FROM events GROUP BY 1""",
    "l9_retention_rewrite" ->
      """SELECT event_type, COUNT(*) AS n,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           (SELECT COUNT(*) FROM events
             WHERE NOT (event_type = 'error' OR user_id % 7 = 0)) AS kept_total
         FROM events
         WHERE NOT (event_type = 'error' OR user_id % 7 = 0)
         GROUP BY 1""",
    "d4_object_sink" ->
      """SELECT CAST(user_id % 10 AS VARCHAR) AS source_id,
           event_type AS destination_id, COUNT(*) AS n,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
         FROM events GROUP BY 1, 2""",
    // forget list is every 13th id up to max(user_id), so membership
    // reduces to the modulus at any sf; the 6 objects come from
    // obj = event_id % 6, all present at every sf, all rewritten on the
    // first pass and none on the ledger-driven resume pass.
    "rg1_regulation_delete" ->
      """SELECT event_type, COUNT(*) AS n,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           CAST(6 AS BIGINT) AS objects_total,
           CAST(6 AS BIGINT) AS cleaned_first,
           CAST(0 AS BIGINT) AS cleaned_resume
         FROM events WHERE user_id % 13 <> 0 GROUP BY 1""",
    // the archival decision replayed declaratively: eligible uploads'
    // files land on the archived side, everything else stays live
    "wa1_warehouse_archive" ->
      """WITH f AS (SELECT event_id AS staging_file_id,
                      event_id // 2000 AS upload, ts FROM events),
         elig AS (SELECT upload FROM (
                    SELECT upload, MAX(ts) AS created_at FROM f GROUP BY 1)
                  WHERE upload % 4 != 3
                    AND 'ws_' || CAST(upload % 5 AS VARCHAR) != 'ws_2'
                    AND created_at < TIMESTAMP '2024-01-20 00:00:00'),
         tagged AS (SELECT CASE WHEN upload IN (SELECT upload FROM elig)
                                THEN 'archived' ELSE 'live' END AS side,
                           staging_file_id, upload FROM f)
         SELECT side, 'ws_' || CAST(upload % 5 AS VARCHAR) AS workspace_id,
                COUNT(*) AS n_files,
                MIN(staging_file_id) AS min_id, MAX(staging_file_id) AS max_id,
                (SELECT COUNT(*) FROM elig) AS eligible_uploads,
                (SELECT COUNT(*) FROM elig) AS archived_first,
                CAST(0 AS BIGINT) AS archived_resume
         FROM tagged GROUP BY 1, 2""",
    // the lifecycle replayed declaratively: a job succeeds at the
    // first try whose md5 coin lands 0 mod 3 (tries 1..maxAttempt+2);
    // succeeded keeps attempts = failures before success, aborted
    // carries the full try count. executed_first = total tries across
    // jobs; the resume pass executes nothing.
    "sj1_source_jobs" ->
      """WITH tu AS (SELECT DISTINCT event_id % 5 AS jr,
             CASE event_type WHEN 'purchase' THEN 'orders'
                  WHEN 'click' THEN 'pages' WHEN 'view' THEN 'screens'
                  WHEN 'signup' THEN 'rudder_identity_merge_rules'
                  ELSE 'rudder_discards' END AS table_name
           FROM events),
         jobs AS (SELECT 'jr_' || CAST(jr AS VARCHAR) AS job_run_id, table_name
                  FROM tu
                  WHERE lower(table_name) NOT IN ('rudder_discards',
                    'rudder_identity_mappings', 'rudder_identity_merge_rules')),
         att AS (SELECT job_run_id, table_name, a.try,
                   CAST('0x' || substr(md5(job_run_id || '|' || table_name
                       || '|' || CAST(a.try AS VARCHAR)), 1, 8) AS UBIGINT)
                     % 3 = 0 AS ok
                 FROM jobs CROSS JOIN generate_series(1, 3) a(try)),
         fin AS (SELECT job_run_id, table_name,
                   MIN(CASE WHEN ok THEN try END) AS succ_at
                 FROM att GROUP BY 1, 2),
         tot AS (SELECT CAST(SUM(COALESCE(succ_at, 3)) AS BIGINT) AS executed_first,
                        CAST(COUNT(*) AS BIGINT) AS terminal_first FROM fin)
         SELECT job_run_id, table_name,
           CASE WHEN succ_at IS NOT NULL THEN 'succeeded' ELSE 'aborted' END AS status,
           CAST(COALESCE(succ_at - 1, 3) AS BIGINT) AS attempts,
           executed_first, terminal_first, CAST(0 AS BIGINT) AS executed_resume
         FROM fin CROSS JOIN tot""",
    // nt1 replayed declaratively: claim order and orphan requeues
    // never change a job's terminal state (a dead worker's claim
    // requeues with attempt preserved), so each job's fate is the
    // first try whose coin lands 0 mod 3 among maxAttempt + 2 = 2
    // tries. orphan_requeues = the two planted worker deaths;
    // batches_completed = all 5 (every batch drains terminal).
    "nt1_notifier_queue" ->
      """WITH j AS (SELECT DISTINCT o_orderkey % 40 AS job_id FROM orders),
         jobs AS (SELECT job_id, 'b_' || CAST(job_id % 5 AS VARCHAR) AS batch_id,
                    job_id % 3 + 1 AS priority FROM j),
         att AS (SELECT job_id, batch_id, priority, a.try,
                   CAST('0x' || substr(md5(batch_id || '|'
                       || CAST(job_id AS VARCHAR) || '|'
                       || CAST(a.try AS VARCHAR)), 1, 8) AS UBIGINT)
                     % 3 = 0 AS ok
                 FROM jobs CROSS JOIN generate_series(1, 2) a(try)),
         fin AS (SELECT job_id, batch_id, priority,
                   MIN(CASE WHEN ok THEN try END) AS succ_at
                 FROM att GROUP BY 1, 2, 3),
         tot AS (SELECT CAST(SUM(COALESCE(succ_at, 2)) AS BIGINT) AS executed
                 FROM fin)
         SELECT job_id, batch_id, priority,
           CASE WHEN succ_at IS NOT NULL THEN 'succeeded' ELSE 'aborted' END AS status,
           CAST(COALESCE(succ_at - 1, 2) AS BIGINT) AS attempts,
           executed, CAST(2 AS BIGINT) AS orphan_requeues,
           CAST(5 AS BIGINT) AS batches_completed
         FROM fin CROSS JOIN tot"""
  )
}
