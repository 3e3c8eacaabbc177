package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions._

/** §2.D — Structured Streaming over the events feed.
  *
  * The transforms are defined once over a DataFrame and applied to
  * BOTH the batch table and a `readStream` source — the batch run is
  * the oracle for the streaming run (tested in `EventStreamSpec`).
  * Esop analogue: continuous commit-log/backup event ingestion.
  *
  * Scale: tumbling windows + watermark bound the state store;
  * `dropDuplicates` state is likewise watermark-expired. On a real
  * cluster the same code runs with a durable checkpoint location and
  * kafka/file sources — nothing here is local-mode-specific.
  */
object EventStream {

  /** Parquet schema of the LEGACY events layout: ns-timestamps read as
    * raw longs (see [[normalize]]). */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Schema of the current events layout: plain µs timestamps without
    * UTC adjustment (decodes as NTZ; [[normalize]] casts to ltz). */
  val usSchema: StructType = StructType(
    rawSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f))

  /** Normalize a raw events frame (batch or stream) — the one place
    * the `events.ts` layout is decided. The table has shipped as
    * nanosecond parquet (which Spark's vectorized reader rejects,
    * [PARQUET_TYPE_ILLEGAL]; read through the legacy nanosAsLong conf it
    * decodes as LongType and is truncated to µs, matching DuckDB's own
    * µs truncation of ns parquet) and as plain µs timestamps without UTC
    * adjustment (decode as NTZ; cast to ltz, which is instant-preserving
    * under the UTC session timezone and matches DuckDB's naive reading
    * of the same file). Already-ltz `ts` passes through. */
  def normalize(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }

  /** Tumbling 1-hour window aggregation with a 1-hour watermark —
    * identical semantics in batch (where the watermark is a no-op). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Sliding 1-hour window (30-min slide) aggregation — every event
    * lands in exactly 2 overlapping windows; watermark bounds state to
    * the open windows. Batch twin (the oracle): `s05_sliding_window`. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), asDouble(sum(dec2(col("value")))).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming dedup: first event per (user_id, event_type) inside the
    * watermark horizon. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")

  /** Stream-stream interval self-join: each error event correlated to
    * the same user's click events in the preceding hour. Watermarks on
    * BOTH sides bound the join state store — click state older than
    * watermark − interval is evicted, so state is O(events per hour),
    * not O(stream length). Inner-join results emit as soon as both
    * sides arrive. Batch twin (the oracle): `s04_stream_join`. */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "1 hour")
    val e = errors.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("error_id"))
      .withWatermark("e_ts", "1 hour")
    e.join(c, expr(
      "c_user = e_user AND c_ts >= e_ts - INTERVAL 1 HOUR AND c_ts < e_ts"))
      .select(col("error_id"), col("e_user").as("user_id"), col("e_ts"),
        col("click_id"), col("c_ts"))
  }

  /** Live backup monitoring — the §2.B ledger's manifest report as a
    * stream: per-(snapshot day, node) upload counts and bytes update
    * as backup events land (esop analogue: watching
    * `AllManifestsReport` fill while `Backuper` uploads). Day windows
    * keyed by node with a 1-day watermark bound the state store to the
    * open day per node; the identical transform over the batch table
    * is the oracle (`s07_backup_monitor`). */
  def backupMonitor(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n_uploads"),
        asDouble(sum(dec2(col("value")))).as("total_bytes"))
      .select(col("window.start").cast("date").as("snapshot_day"),
        col("user_id").as("node_id"), col("n_uploads"), col("total_bytes"))

  /** s30 — LIVE snapshot-completeness monitor: b43's existence gate
    * asked as uploads land ("has today's manifest/schema arrived
    * yet?") instead of in a post-hoc manifest sweep. Watermarked day
    * windows per node; the type counts use the ledger's event_type →
    * ftype mapping ([[graft.model.BackupLedger.ledger]]: click →
    * MANIFEST_FILE, signup → CQL_SCHEMA, error → COMMIT_LOG) as a
    * per-row projection on the stream, so state is one bounded
    * (node × day) aggregate row per window — no manifest dedupe
    * state: a LIVE gate prices arrivals (the verdict is presence,
    * which dedupe cannot change for the kept row set it observes). */
  def completenessMonitor(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n_uploads"),
        count(when(graft.model.BackupLedger.ftypeCol === "MANIFEST_FILE", 1))
          .as("n_manifest"),
        count(when(graft.model.BackupLedger.ftypeCol === "CQL_SCHEMA", 1))
          .as("n_schema"),
        count(when(graft.model.BackupLedger.ftypeCol === "COMMIT_LOG", 1))
          .as("n_commitlog"))
      .select(col("window.start").cast("date").as("snapshot_day"),
        col("user_id").as("node_id"), col("n_uploads"), col("n_manifest"),
        col("n_schema"), col("n_commitlog"),
        (col("n_manifest") > 0 && col("n_schema") > 0).as("complete"))

  /** s31 — event-LATENESS audit: the measurement that PICKS a
    * watermark ("how late does this feed actually run?") instead of
    * guessing one. Lateness of an event = how far its event time lags
    * the stream's high-water mark (max event time among all EARLIER
    * ARRIVALS) — exactly what Spark's watermark tracks. The testdata
    * feed is perfectly ordered, so late ARRIVALS are injected
    * deterministically (every 17th event arrives where events 2h
    * younger do — the d25/d31 fixture convention; event-TIME delay, so
    * the fixture discriminates at every SF regardless of density).
    *
    * Scale: the naive hwm is a GLOBAL running max — a single-partition
    * sort at 100 TB. This computes it two-stage (d65's prefix-sum
    * pattern, as a prefix-MAX): per arrival-day bucket local running
    * max (parallel windows; buckets partition arrival order because
    * the bucket is a monotone function of arrival time) + a bounded
    * day-dimension prefix max broadcast back. Report per node:
    * arrivals, late-beyond-1h, max lag, late fraction — the numbers
    * that justify (or veto) `withWatermark("ts", "1 hour")`. */
  def latenessAudit(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("arr_us", col("ts_us")
        + when(col("event_id") % 17 === 0, 7200L * 1000000L).otherwise(0L))
      .withColumn("abucket", (col("arr_us") / (86400L * 1000000L)).cast("long"))
    val wLocal = Window.partitionBy("abucket")
      .orderBy(col("arr_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bucketPrior = ev.groupBy("abucket").agg(max(col("ts_us")).as("bmax"))
      .withColumn("prior_hwm", max(col("bmax")).over(
        Window.orderBy("abucket").rowsBetween(Window.unboundedPreceding, -1)))
      .select("abucket", "prior_hwm")
    ev
      .withColumn("local_hwm", max(col("ts_us")).over(wLocal))
      .join(broadcast(bucketPrior), Seq("abucket"))
      .withColumn("hwm",
        greatest(col("local_hwm"), coalesce(col("prior_hwm"), col("local_hwm"))))
      .withColumn("lag_us", col("hwm") - col("ts_us"))
      .groupBy(col("user_id").as("node_id"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("lag_us") > 3600L * 1000000L, 1)).as("n_late_1h"),
        max(col("lag_us")).as("max_lag_us"))
      .withColumn("late_frac",
        col("n_late_1h").cast("double") / col("n_events"))
  }

  /** s27's static side — the restorable-snapshot dimension with SCD-2
    * validity intervals: only FULL backups are restorable (the
    * every-third-day fixture drops ~1/3 of snapshot days — including every node's FIRST day, so the unrestorable branch is exercised — and lookups
    * genuinely resolve BACKWARD), and each row carries
    * [valid_from, valid_to) from a lead window over the bounded
    * (node, day) frame. Built once, broadcast to every micro-batch. */
  def restorableDim(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node_id").orderBy("snapshot_day")
    graft.model.BackupLedger.snapshots(s, dir)
      .filter(datediff(col("snapshot_day"), lit("2020-01-01").cast("date")) % 3 =!= 0)
      .withColumn("valid_to", lead(col("snapshot_day"), 1).over(w))
      .select(col("node_id").as("dim_node"),
        col("snapshot_day").as("valid_from"), col("valid_to"))
  }

  /** s27 — streaming AS-OF lookup (SCD Type 2): each arriving event
    * resolves the snapshot in effect at its day. b12 answers as-of in
    * batch by merging BOTH sides through a union window — the right
    * call when both sides are big; a STREAM can't sort into a merge,
    * so the dimension is pre-intervalized once ([valid_from,
    * valid_to) rows) and each event is a per-row broadcast probe:
    * equi on node + range residual, stateless append mode, no state
    * store at any event rate. LEFT join — events before a node's
    * first restorable snapshot survive with a null resolution (the
    * report must SHOW unrestorable events, not drop them). */
  def scdLookup(dim: DataFrame)(events: DataFrame): DataFrame =
    events
      .select(col("event_id"), col("user_id").as("node_id"),
        date_trunc("day", col("ts")).cast("date").as("event_day"))
      .join(broadcast(dim),
        col("node_id") === col("dim_node")
          && col("event_day") >= col("valid_from")
          && (col("valid_to").isNull || col("event_day") < col("valid_to")),
        "left")
      .select(col("event_id"), col("node_id"), col("event_day"),
        col("valid_from").as("snapshot_day"),
        datediff(col("event_day"), col("valid_from")).as("lag_days"))

  /** Live upload-size histogram (s26) — the size-distribution monitor
    * feeding bandwidth/chunking planning (b09/b21's input, watched as
    * uploads land): equi-width value bins in complete mode. State is
    * the histogram itself — bounded at value-range/width counters
    * FOREVER, the q33 argument made streaming: a histogram is the
    * right live summary precisely because its state never grows with
    * the stream. Identical transform over the batch table is the
    * oracle (`s26_stream_sizehist`); stream ≡ batch in
    * EventStreamSpec. */
  def sizeHistogram(events: DataFrame): DataFrame =
    events
      .select(floor(col("value") / 16.0).cast("long").as("bin"), col("value"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_uploads"),
        asDouble(sum(dec2(col("value")))).as("total_bytes"))

  /** Live upload-progress tracking — esop's tracker sessions
    * (`impl/AbstractTracker.java:43,152-158`, b26's batch twin) as a
    * stream: per-(day window, node) unit-state counts updating as
    * uploads land. The streaming report has no NOT_STARTED class — an
    * event that has not arrived is not yet a unit, which is exactly
    * how the live tracker sees it. Day windows keyed by node with a
    * 1-day watermark bound the state store; the identical transform
    * over the batch table is the oracle (`s09_stream_progress`). */
  def progressMonitor(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 day")
      .withColumn("state",
        when(col("event_id") % 41 === 0, "FAILED")
          .when(col("event_id") % 37 === 0, "IGNORED")
          .otherwise("FINISHED"))
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n_units"),
        count(when(col("state") === "FAILED", 1)).as("n_failed"),
        count(when(col("state") === "IGNORED", 1)).as("n_ignored"))
      .select(col("window.start").cast("date").as("snapshot_day"),
        col("user_id").as("node_id"),
        col("n_units"), col("n_failed"), col("n_ignored"),
        ((col("n_units") - col("n_failed") - col("n_ignored")).cast("double")
          / col("n_units")).as("ok_ratio"))

  /** s42 — LIVE retry-budget monitor: b46's backoff pricing
    * (`impl/retry/Retrier.java:87-121`, `RetrySpec.java:18-33` —
    * interval=10s, maxAttempts=3) asked as uploads LAND instead of in
    * a post-hoc manifest sweep: each arriving upload whose download
    * hash disagrees with its manifest hash is one retry loop of ≤3
    * attempts — 70s exponential sleep budget plus retransfer seconds
    * for re-uploading the failed bytes 3× at b21's 25-units/s rate.
    * The whole row rides [[graft.model.BackupLedger.ledgerOf]] (ONE
    * projection shared with the batch ledger, the ftypeCol convention)
    * so the live verdicts can never drift from the batch ledger's;
    * state is one bounded (node × day) aggregate row per window — the
    * live monitor prices ARRIVALS (the raw feed), so a day's budget
    * can exceed b46's manifest-deduped worst case: a superseded failed
    * upload still burned real wall-clock, which is exactly what a live
    * dashboard must show. Batch twin is the oracle
    * (`s42_stream_retry`). */
  def retryMonitor(events: DataFrame): DataFrame =
    graft.model.BackupLedger.ledgerOf(events)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day"), col("node_id"))
      .agg(count(lit(1)).as("n_uploads"),
        count(when(col("upload_hash") =!= col("download_hash"), 1))
          .as("n_failed"),
        coalesce(sum(when(col("upload_hash") =!= col("download_hash"),
          col("size"))), lit(0).cast("decimal(18,2)")).as("fsz"))
      .select(col("window.start").cast("date").as("snapshot_day"),
        col("node_id"), col("n_uploads"), col("n_failed"),
        asDouble(col("fsz")).as("failed_bytes"),
        (col("n_failed") * lit(70L)).as("sleep_exp_sec"),
        ceil(asDouble(col("fsz")) * 3 / 25.0).cast("long").as("retransfer_sec"))
      .withColumn("added_sec", col("sleep_exp_sec") + col("retransfer_sec"))

  /** Per-day verification gate — b35's "did this (node, keyspace)
    * fully verify today" question answered AS DAYS CLOSE: every upload
    * event is hash-checked when it lands (the md5 compare is computed,
    * not shortcut via the corruption fixture's %53), rolled into day
    * windows keyed by (node, keyspace). A 1-day watermark bounds state
    * to the open day × the bounded node×ks domain; when the watermark
    * passes a day, its verdict (`day_ok`) is final and emitted — the
    * feed the RPO dashboard consumes (the batch-side rolling max over
    * these verdicts IS b35). Verification rides ingestion instead of
    * being a nightly full-corpus re-hash — at 100 TB/day the re-hash
    * job is the thing this stream deletes. Batch twin is the oracle
    * (`s22_stream_verify`). */
  def verifyDayGate(events: DataFrame): DataFrame = {
    val kNum = col("event_id") % 97
    val key = concat(
      lit("node"), col("user_id").cast("string"),
      lit("/ks"), (kNum % 3).cast("string"),
      lit("/tab"), (kNum % 7).cast("string"),
      lit("/sst_"), kNum.cast("string"))
    events
      .withWatermark("ts", "1 day")
      .select(col("ts"), col("user_id"),
        concat(lit("ks"), (kNum % 3).cast("string")).as("keyspace"),
        (md5(key) =!= when(col("event_id") % 53 === 0,
          md5(concat(lit("corrupt#"), col("event_id").cast("string"))))
          .otherwise(md5(key))).as("bad"))
      .groupBy(window(col("ts"), "1 day"), col("user_id"), col("keyspace"))
      .agg(count(lit(1)).as("n_files"),
        count(when(col("bad"), 1)).as("n_bad"))
      .select(col("window.start").cast("date").as("snapshot_day"),
        col("user_id").as("node_id"), col("keyspace"),
        col("n_files"), col("n_bad"), (col("n_bad") === 0).as("day_ok"))
  }

  /** Stream-static enrichment: the event stream joined to a broadcast
    * dimension table (static side re-read per micro-batch, never
    * stateful) — the standard pattern for attaching slowly-changing
    * reference data to a 100 TB/day stream without any join state.
    * Batch twin (the oracle aggregates it): `s06_stream_enrich`. */
  def enrich(events: DataFrame, nation: DataFrame): DataFrame =
    events.join(broadcast(nation), expr("user_id % 25 = n_nationkey"))
      .select(col("event_id"), col("user_id"), col("n_name"),
        col("event_type"), col("value"))

  /** Session inactivity gap: 30 minutes, in microseconds. */
  val sessionGapUs: Long = 30L * 60 * 1000000

  /** One user's event inside the sessionizer (`ts` kept alongside the
    * µs long so the watermark column survives into the stateful op). */
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, tsu: Long, value: Double)

  /** Open-session state carried between micro-batches. */
  case class SessState(start: Long, last: Long, n: Long, total: Double)

  /** A closed session (emitted downstream). */
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
      n_events: Long, total_value: Double)

  /** Custom-state sessionization: 30-min-gap sessions per user via
    * flatMapGroupsWithState — the state store holds ONE open session
    * per user (bounded state), closed sessions are emitted as soon as
    * the gap passes or the event-time timeout fires. Batch twin:
    * `s03_sessionize` (lag + running-sum windows). */
  def sessionize(events: DataFrame): Dataset[Session] = {
    val s = events.sparkSession
    import s.implicits._
    events
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsu"), col("value"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionizeGroup)
  }

  private def sessionizeGroup(user: Long, events: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[Session] = {
    def toSession(st: SessState): Session = {
      // preserve µs: Timestamp(ms) would truncate and disagree with the
      // batch twin's microsecond session_start
      val t = new java.sql.Timestamp(st.start / 1000000 * 1000)
      t.setNanos(((st.start % 1000000) * 1000).toInt)
      Session(user, t, st.n, st.total)
    }
    if (!events.hasNext && state.hasTimedOut) {
      val out = state.getOption.map(toSession).toIterator
      state.remove()
      return out
    }
    val sorted = events.toSeq.sortBy(_.tsu)
    var open = state.getOption
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      open match {
        case Some(st) if e.tsu - st.last <= sessionGapUs =>
          open = Some(SessState(st.start, e.tsu, st.n + 1, st.total + e.value))
        case cur =>
          cur.foreach(st => closed += toSession(st))
          open = Some(SessState(e.tsu, e.tsu, 1, e.value))
      }
    }
    open match {
      case Some(st) =>
        state.update(st)
        state.setTimeoutTimestamp((st.last + sessionGapUs) / 1000 + 1)
      case None => state.remove()
    }
    closed.result().iterator
  }

  /** File-source stream over a testdata dir. Streaming sources need the
    * schema declared up front, so probe the file's decoded layout with a
    * batch footer read (LongType ts = legacy ns file, TimestampType =
    * current µs file) and declare the matching schema. */
  def readEventsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(s"$dir/events.parquet").schema("ts").dataType match {
      case LongType => rawSchema
      case _        => usSchema
    }
    // file-stream sources need a directory; glob-filter to the events
    // table inside the sf dir
    normalize(s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** Run `transform` over the event stream into partitioned parquet via
    * foreachBatch — the production durable-sink pattern: each
    * micro-batch lands through the same IO writer the batch side uses
    * (idempotent per batch-id path, so replays after failure overwrite
    * rather than duplicate). */
  def runToParquet(s: SparkSession, dir: String, outDir: String,
      transform: DataFrame => DataFrame): StreamingQuery =
    transform(readEventsStream(s, dir))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.IO.writeParquet(batch, s"$outDir/batch_$batchId")
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()

  /** Live point-in-time state tracking — b07's PIT question asked of
    * the stream: as ledger events arrive, keep the LAST event ≤ the
    * cut per (node, key). Spark-first custom state: the "last event
    * wins" register IS a running max(struct(ts, event_id, …))
    * aggregate — complete-mode state bounded by the (node × key-space)
    * domain, with map-side partial maxes, no custom state function
    * needed. The spec proves this running-max formulation equals
    * b07's batch row_number window. */
  def pitTracker(events: DataFrame): DataFrame =
    events
      .filter(col("ts") <= lit("2024-01-15 12:00:00").cast("timestamp"))
      .select(col("user_id").as("node_id"),
        regexp_extract(col("props"), "([0-9]+)", 1).as("k"),
        col("ts"), col("event_id"), dec2(col("value")).as("size"))
      .groupBy("node_id", "k")
      .agg(max(struct(col("ts"), col("event_id"), col("size"))).as("m"))
      .select(col("node_id"), col("k"), col("m.event_id").as("event_id"),
        asDouble(col("m.size")).as("size"))

  /** Run `transform` over the event stream into an in-memory sink,
    * processing all available input (test/CI harness). */
  def runToMemory(s: SparkSession, dir: String, name: String,
      transform: DataFrame => DataFrame, mode: String = "append"): StreamingQuery =
    MemorySink.run(readEventsStream(s, dir), name, transform, mode)
}
