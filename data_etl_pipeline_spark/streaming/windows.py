"""Structured Streaming over the events table (SURVEY §2.9).

The reference's streaming is queue-driven micro-batching (SQS poll ->
process -> delete, at-least-once, idempotent upserts). Spark-first mapping:

  * the queue is a file/rate/Kafka source — here the events parquet read
    as a stream with maxFilesPerTrigger to force real micro-batches;
  * windowed aggregation replaces the hand-rolled stats counters;
  * foreachBatch + idempotent keyed writes reproduce ST2's
    at-least-once + upsert contract;
  * stream-static joins reproduce J11 (each queue item enriched from the
    Manufacturer table before processing).

Streams run to completion with processAllAvailable() so batch-vs-stream
equivalence is testable hermetically.
"""

from __future__ import annotations

import datetime
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_etl_pipeline_spark.session import conf_scope, scratch_dir
from data_etl_pipeline_spark.sources.commit import write_single_parquet
from data_etl_pipeline_spark.tables import load, local_frame

# The state-store provider is read at stream start, so a query scopes it
# around the start with conf_scope(spark, ROCKSDB_STATE_STORE).
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": "org.apache.spark.sql."
    "execution.streaming.state.RocksDBStateStoreProvider"
}


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "events")  # sets nanosAsLong first for a NANOS ts
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # the file stream source requires a directory: stream the sf dir with a
    # glob filter selecting only the events file
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    # Watermarks and session windows require TIMESTAMP (event-time state
    # eviction is instant-based); a TIMESTAMP_NTZ parquet read is converted
    # to the same instant under the UTC session timezone. Outputs are cast
    # back to the batch ts type so stream/batch twins stay comparable.
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def drain_to_memory(
    stream: DataFrame, output_mode: str, prefix: str, min_batches: int = 1
) -> DataFrame:
    """Run ``stream`` to completion into a memory sink; return its rows.

    The sink registers a uuid-named temp view. The returned frame is
    analysed before that view is dropped, so it reads the sink itself and
    the session catalog is left as it was. ``min_batches`` asserts the
    stream really ran as that many micro-batches.
    """
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] + 1 >= min_batches, q.lastProgress
    finally:
        q.stop()
    out = stream.sparkSession.table(name)
    stream.sparkSession.catalog.dropTempView(name)
    return out


def _batch_ts_type(spark: SparkSession, sf_dir: str) -> str:
    """The ts dtype the batch catalog exposes ('timestamp' or 'timestamp_ntz')."""
    return dict(load(spark, sf_dir, "events").dtypes)["ts"]


def _align_ts_cols(spark: SparkSession, sf_dir: str, df: DataFrame, cols: list[str]) -> DataFrame:
    """Cast streaming-output timestamp columns back to the batch ts dtype.

    The streaming path computes in TIMESTAMP (watermark requirement); when
    the batch side reads TIMESTAMP_NTZ, the UTC round-trip LTZ -> NTZ is the
    identity on the underlying micros, so this is a type alignment only.
    """
    target = _batch_ts_type(spark, sf_dir)
    for c in cols:
        if dict(df.dtypes).get(c) != target:
            df = df.withColumn(c, F.col(c).cast(target))
    return df


def run_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts computed BY A STREAMING QUERY, returned as a
    batch DataFrame once the stream drains. Matches the batch plan
    hourly_event_stats (same grouping) — the equivalence the tests assert.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").getField("start").alias("window_start"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = drain_to_memory(agg, "complete", "hourly")
    return _align_ts_cols(spark, sf_dir, drained, ["window_start"])


def run_stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization: gap-based session windows with a
    watermark, computed by a streaming query and returned once the stream
    drains. Session merging is Spark's native session_window state store
    path — the streaming twin of the batch ``user_sessions_gap`` query
    (same 6-hour gap, same aggregates), which the oracle checks.

    Scale note: state is partitioned by user key; the watermark bounds
    state retention so a 100 TB/day stream evicts closed sessions instead
    of accumulating them.
    """
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", "6 hours").alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("session_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
    )
    return _align_ts_cols(
        spark,
        sf_dir,
        drain_to_memory(agg, "complete", "sessions"),
        ["session_start", "session_end"],
    )


def run_stream_enriched_counts(
    spark: SparkSession, sf_dir: str, sink_dir: str | None = None
) -> DataFrame:
    """J11 stream-static join: each streamed event enriched against the
    static customer dimension (user_id -> c_custkey), then counted per
    market segment via foreachBatch into an idempotent keyed parquet sink.

    The sink is EXECUTOR-side: each micro-batch's partial counts are
    written with ``mode("overwrite")`` into a directory keyed by epoch_id,
    so at-least-once re-delivery of a micro-batch rewrites the same keys
    instead of double counting (ST2's idempotent-upsert contract; with a
    table format this becomes MERGE INTO keyed on (epoch, segment, type)).
    The driver never materializes state — at 100 TB the sink scales with
    executors, not driver memory.
    """
    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = _events_stream(spark, sf_dir).join(F.broadcast(customer), "user_id", "inner")

    sink = sink_dir or scratch_dir(spark, "enriched_sink_")
    # epoch-keyed overwrite is idempotent for SAME-RUN redelivery only; a
    # reused sink dir from an earlier run could hold higher epochs the new
    # run never rewrites, silently inflating the final sum — start clean
    import shutil as _shutil

    _shutil.rmtree(sink, ignore_errors=True)

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.groupBy("c_mktsegment", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(f"{sink}/epoch={epoch_id}")
        )

    q = enriched.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    partials = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    return (
        partials.groupBy("c_mktsegment", "event_type")
        .agg(F.sum("n").alias("n"))
    )


def run_stream_update_merge_windows(
    spark: SparkSession, sf_dir: str, table_path: str | None = None,
    source_dir: str | None = None, watermark: str = "2 hours",
) -> DataFrame:
    """UPDATE-mode windowed aggregation landing via MERGE keyed on the
    WINDOW itself: each micro-batch emits only the windows it changed
    (update mode — a late event inside the watermark re-emits its
    already-written window), and foreachBatch MERGEs those rows into the
    versioned table keyed on (window_start, event_type), so the table
    always holds the latest value per window and converges to the batch
    answer regardless of arrival order (asserted over a multi-file
    out-of-order source in tests).

    This is the scale-correct sink pair for windowed streams: complete
    mode (run_stream_hourly_counts' memory sink) rewrites ALL state every
    batch — fine for a test harness, a killer at 100 TB — while here the
    per-batch sink work is proportional to the CHANGED windows only, and
    the table's key-range skipping means old window files are carried by
    reference, not rewritten. ``source_dir`` lets callers stream a
    multi-file copy of the events table to force real multi-batch
    processing with late data.
    """
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    if source_dir is None:
        stream = _events_stream(spark, sf_dir)
    else:
        raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(source_dir)
        )
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        if dict(stream.dtypes).get("ts") == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))

    # the watermark bounds state AND lateness: events later than it are
    # dropped, which is the streaming contract — convergence to the batch
    # answer holds for arrivals within the watermark (the out-of-order
    # test passes a wide one to cover its artificial multi-day disorder)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tbl = VersionedTable(spark, table_path or scratch_dir(spark, "win_merge_tbl_"))
    if tbl.latest_version() is None:
        tbl.write(local_frame(spark, [], "window_start timestamp, event_type string, n long"))

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        tbl.merge(batch_df, keys=["window_start", "event_type"])

    q = agg.writeStream.outputMode("update").foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return _align_ts_cols(spark, sf_dir, tbl.read(), ["window_start"])


def _dedup_replay_source(
    spark: SparkSession, sf_dir: str, prefix: str, source_dir: str | None = None
) -> str:
    """The shared at-least-once replay fixture for every dedup-state
    query (heap store, RocksDB twin, state-store reader audit): three
    files -> three micro-batches — full table, full redelivery, 1/3
    slice — with strictly increasing pinned mtimes so FileStreamSource's
    (mtime, path) ordering is filesystem-independent."""
    import os

    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    src = source_dir or scratch_dir(spark, prefix)
    slices = [ev, ev, ev.where(F.col("event_id") % 3 == 0)]
    seen: set[str] = set()
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.mode("append").parquet(src)
        new = [f for f in os.listdir(src) if f.endswith(".parquet") and f not in seen]
        for f in new:
            os.utime(os.path.join(src, f), (1_600_000_000 + i * 10,) * 2)
        seen.update(new)
    return src


def _dedup_replay_stream(spark: SparkSession, src: str):
    return (
        spark.readStream.schema("event_id long, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .dropDuplicates(["event_id"])
    )


def run_stream_dedup_counts(
    spark: SparkSession, sf_dir: str, source_dir: str | None = None,
    sink_dir: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication: an at-least-once source redelivers
    the whole events table plus a partial slice across three micro-batches;
    ``dropDuplicates`` on the event id keeps only first arrivals ACROSS
    batches (state-store backed), giving the exactly-once effect the
    reference's queue consumers get from idempotent upserts (SURVEY ST2 —
    SQS redelivers, the upsert absorbs). Each batch's survivors land in an
    epoch-keyed idempotent parquet sink; the returned per-type counts equal
    the distinct-id counts of the base table, which the oracle checks — an
    undetected duplicate would inflate the hash ~2.3x.

    Scale note: key-only dedup retains one state row per id for the run —
    right for bounded replays/backfills. Unbounded streams bound state with
    ``withWatermark + dropDuplicatesWithinWatermark`` (same plan shape),
    trading exactness for duplicates arriving later than the allowed
    lateness. State is hash-partitioned by id across executors either way.
    """
    src = _dedup_replay_source(spark, sf_dir, "dup_events_src_", source_dir)
    dedup = _dedup_replay_stream(spark, src)
    sink = sink_dir or scratch_dir(spark, "dedup_sink_")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    q = dedup.writeStream.outputMode("append").foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    survivors = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    return survivors.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def run_stream_dedup_counts_rocksdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """run_stream_dedup_counts under the ROCKSDB state store provider —
    the 100 TB streaming-state proof. The default HDFS-backed provider
    keeps every state row on the executor HEAP: exact dedup over a
    billion-id replay, or any watermark horizon that buffers more than
    a few GB per partition, OOMs executors long before CPU is the
    bottleneck. RocksDB spills state to local SSD with an in-memory
    block cache, so state size is bounded by disk, not heap — the
    provider Spark itself recommends for large state.

    The provider conf is read at STREAM START, so it is scoped around
    the query with ``conf_scope`` (the driver's session keeps its
    default); the in-query assert reads the executed query's progress
    and requires rocksdb* custom metrics on the dedup state operator —
    proof the store actually ran RocksDB, not a conf that silently
    fell back. Results are oracle-checked equal to the batch distinct
    counts, same as the heap-store twin.
    """
    src = _dedup_replay_source(spark, sf_dir, "rocksdb_dedup_src_")
    sink = scratch_dir(spark, "rocksdb_dedup_sink_")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    with conf_scope(spark, ROCKSDB_STATE_STORE):
        dedup = _dedup_replay_stream(spark, src)
        q = dedup.writeStream.outputMode("append").foreachBatch(write_epoch).start()
        try:
            q.processAllAvailable()
            progress = q.lastProgress
        finally:
            q.stop()
    # provider proof from the EXECUTED query, not the conf: the dedup
    # state operator must report RocksDB-specific custom metrics
    metrics = progress["stateOperators"][0]["customMetrics"]
    rocks = [k for k in metrics if k.startswith("rocksdb")]
    assert rocks, sorted(metrics)
    survivors = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    return survivors.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def run_statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store READER: after the same three-micro-batch dedup replay
    as run_stream_dedup_counts, the checkpoint's state is opened as a
    plain batch DataFrame via ``spark.read.format("statestore")`` (plus
    ``state-metadata`` for the operator layout) — Spark 4's offline
    window into streaming state. The dedup operator's state keys ARE the
    distinct ids it has absorbed, so joining them back to the static
    event table reproduces the per-type distinct counts the oracle
    computes — proving the checkpoint holds exactly the deduped key set,
    with no replay of the stream.

    Why this matters at 100 TB: streaming state is otherwise a black box
    inside executor stores; the reader turns every checkpoint into a
    queryable table for state AUDITS (this query), backfill debugging
    ("which keys does the operator think it has seen?"), state
    right-sizing, and offline migration — each partition's state files
    are read directly, so the scan parallelism is the operator's
    numPartitions, and options like snapshotStartBatchId replay a
    bounded changelog suffix instead of the whole store.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    src = _dedup_replay_source(spark, sf_dir, "ssreader_src_")
    ckpt = scratch_dir(spark, "ssreader_ckpt_")
    sink = scratch_dir(spark, "ssreader_sink_")
    dedup = _dedup_replay_stream(spark, src)
    q = (
        dedup.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # operator layout from the checkpoint alone: one dedupe operator,
    # state spanning all three replayed batches
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1 and meta[0]["operatorName"] == "dedupe", meta
    assert meta[0]["minBatchId"] == 0 and meta[0]["maxBatchId"] == 2, meta

    state_ids = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(F.col("key.event_id").alias("event_id"))
    )
    # the dedup state must hold EXACTLY the distinct ids (bounded: two
    # scalar counts)
    n_state = state_ids.count()
    n_distinct = ev.select("event_id").distinct().count()
    assert n_state == n_distinct, (n_state, n_distinct)
    return state_ids.join(ev, "event_id").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


def run_stream_merge_versioned(
    spark: SparkSession, sf_dir: str, table_path: str | None = None
) -> DataFrame:
    """Stream-static enrichment landing in the VERSIONED TABLE via
    MERGE — the lakehouse form of run_stream_enriched_counts' keyed sink
    (its docstring promises "with a table format this becomes MERGE INTO
    keyed on (epoch, segment, type)"; this is that, made real).

    Each micro-batch's partial counts MERGE into the table keyed on
    (epoch, c_mktsegment, event_type): at-least-once re-delivery of a
    micro-batch replaces its own epoch's rows instead of double counting
    (ST2), the optimistic commit log serializes the sink against any
    concurrent writer, and the result is ONE queryable table with time
    travel over ingestion history instead of a directory of partials.
    Returns the final per-(segment, type) totals read from the table.
    """
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    customer = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = _events_stream(spark, sf_dir).join(F.broadcast(customer), "user_id", "inner")

    tbl = VersionedTable(spark, table_path or scratch_dir(spark, "stream_merge_tbl_"))
    if tbl.latest_version() is None:
        tbl.write(
            local_frame(spark, [], "epoch long, c_mktsegment string, event_type string, n long")
        )

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        counts = (
            batch_df.groupBy("c_mktsegment", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit(epoch_id).cast("long").alias("epoch"),
                "c_mktsegment", "event_type", "n",
            )
        )
        tbl.merge(counts, keys=["epoch", "c_mktsegment", "event_type"])

    q = enriched.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    return tbl.read().groupBy("c_mktsegment", "event_type").agg(F.sum("n").alias("n"))


def run_stream_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING-window counts (1h window / 15min slide) by a streaming
    query: the sliding TimeWindow fans each event into its 4 covering
    windows inside the streaming aggregation, watermark-bounded state.
    Batch twin: hopping_event_stats (same grouping, count only)."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").getField("start").alias(
                "window_start"
            ),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    drained = drain_to_memory(agg, "complete", "hopping")
    return _align_ts_cols(spark, sf_dir, drained, ["window_start"])


def run_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the BOUNDED-STATE sibling of
    run_stream_dedup_counts' exact dedup, exercising all three of the
    API's behaviors in one deterministic three-batch run:

      batch 1: day-1 events (first arrivals — all emitted);
      batch 2: the rest of the month (advances the watermark; at this
        batch's end, day-1 state older than max(day1) - delay expires);
      batch 3: every day-1 event RE-SENT with a fresh timestamp
        (ts + 30 days — the retried-with-new-stamp shape; a retry that
        keeps its ORIGINAL stamp is simply late data below the watermark
        and is dropped before dedup ever sees it), plus a redelivery of
        the last-30-minutes rows at their original stamps.

    Outcome: re-stamped day-1 keys whose state expired re-emit exactly
    once; the two day-1 keys still in state (ts >= max(day1) - 2*delay)
    and the tail rows are dropped as within-state duplicates. State is
    bounded by the watermark horizon — the property exact dedup gives up.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    day1 = ev.where(F.to_date("ts") == "2024-01-01")
    rest = ev.where(F.to_date("ts") != "2024-01-01")
    mx = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    tail30 = ev.where(F.unix_timestamp("ts") > mx - 1800)
    restamped = day1.withColumn("ts", F.col("ts") + F.expr("interval 30 days"))

    src = scratch_dir(spark, "wm_dedup_src_")
    # pin each slice's mtime AS IT IS WRITTEN: sorting freshly-written
    # files by their own mtimes would tie on coarse-granularity
    # filesystems and scramble the intended batch order (the watermark
    # semantics under test are arrival-order-sensitive)
    seen: set[str] = set()
    for i, df in enumerate([day1, rest, restamped.unionByName(tail30)]):
        df.coalesce(1).write.mode("append").parquet(src)
        new = [f for f in os.listdir(src) if f.endswith(".parquet") and f not in seen]
        for p in new:
            os.utime(os.path.join(src, p), (1_600_000_000 + i * 10,) * 2)
        seen.update(new)

    dedup = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    sink = scratch_dir(spark, "wm_dedup_sink_")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.take(1):
            batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    q = dedup.writeStream.outputMode("append").foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    # the re-emission wave must be its own epoch, sized exactly to the
    # keys the batch-2 watermark expired (ts < max(day1) - 2*delay)
    d1max = day1.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    want_reemit = day1.where(F.unix_timestamp("ts") < d1max - 3600).count()
    epochs = sorted(r.epoch for r in got.select("epoch").distinct().collect())
    assert len(epochs) == 3, epochs
    n3 = got.where(F.col("epoch") == epochs[-1]).count()
    assert n3 == want_reemit, (n3, want_reemit)
    return got.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def run_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE drift monitoring: daily PSI of the event-value distribution
    against a static week-1 reference, computed over a stream.

    The reference quintile boundaries come from ONE exact-percentile
    aggregate on the static batch table (a 1-row, 4-scalar result — the
    bounded collect every monitoring system makes when it pins a
    baseline); the stream assigns each event its bin with four codegen
    compares against those literals and runs an APPEND-mode
    (day-window, bin) count, so the watermark genuinely evicts closed
    windows: state is bounded by the watermark horizon, not the stream
    length (the earlier complete-mode draft retained every window —
    ADVICE r8). A far-future flush sentinel rides as the final
    micro-batch so the last real day's windows emit before the file
    stream drains (same pattern as ss_join.append_flush_sentinel); the
    in-query assert proves each (window, bin) emitted exactly once. PSI
    math — add-one smoothing, per-bin terms rounded to 6, order-free
    DECIMAL total per day — happens on the drained O(days x 5) frame.
    Batch twin contract: a flushed append-mode stream produces exactly
    the batch counts, so the oracle recomputes the same PSI from the
    raw table.
    """
    ref = (
        load(spark, sf_dir, "events")
        .where(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
        .select(F.col("value").cast("double").alias("v"))
    )
    b = ref.agg(
        F.expr("percentile(v, array(0.2, 0.4, 0.6, 0.8))").alias("b")
    ).first()["b"]
    ref_counts = {
        int(r["bin"]): r["c"]
        for r in ref.select(
            sum((F.col("v") >= F.lit(float(q))).cast("int") for q in b).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_ref = sum(ref_counts.values())

    # stage the monitored slice as a micro-batched file source plus a
    # far-future sentinel event (ts = max + 30 days) as the LAST batch:
    # append mode only emits a window once the watermark passes its end,
    # so without the sentinel the final day's windows would sit in state
    # forever when the file stream drains
    mon_batch = (
        load(spark, sf_dir, "events")
        .where(F.col("ts") >= F.lit("2024-01-08").cast("timestamp"))
        .select("ts", F.col("value").cast("double").alias("value"))
    )
    src = scratch_dir(spark, "psi_stream_src_")
    mon_batch.repartitionByRange(3, "ts").write.mode("overwrite").parquet(src)
    for extra in os.listdir(src):  # keep only data files in the source dir
        if not extra.endswith(".parquet"):
            os.remove(os.path.join(src, extra))
    # pin mtimes ascending in ts order (FileStreamSource replays oldest
    # mtime first); the sentinel below gets a later mtime so it is the
    # LAST micro-batch — fresh write mtimes would sort AFTER it
    import pyarrow.parquet as pq

    parts = []
    for f in sorted(os.listdir(src)):
        p = os.path.join(src, f)
        vals = pq.read_table(p, columns=["ts"])["ts"].to_pylist()
        if not vals:
            os.remove(p)  # empty range partition: one fewer micro-batch
            continue
        parts.append((min(vals), p))
    for i, (_, p) in enumerate(sorted(parts)):
        os.utime(p, (1_600_000_000 + i * 10, 1_600_000_000 + i * 10))
    max_ts = mon_batch.agg(F.max("ts")).first()[0]
    sent = local_frame(
        spark, [(max_ts, 0.0)], "ts timestamp, value double"
    ).select((F.col("ts") + F.expr("interval 30 days")).alias("ts"), "value")
    dst = write_single_parquet(sent, os.path.join(src, "zz_sentinel.parquet"))
    os.utime(dst, (1_600_100_000, 1_600_100_000))  # after every real batch
    sentinel_day = (max_ts + datetime.timedelta(days=30)).date()

    monitored = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    bin_expr = sum(
        (F.col("value") >= F.lit(float(q))).cast("int") for q in b
    )
    agg = (
        monitored.withColumn("bin", bin_expr)
        .withWatermark("ts", "2 hours")
        # append mode requires the event-time WINDOW STRUCT in the
        # grouping (extracting .start pre-agg severs the event-time
        # attribute and Spark refuses the output mode)
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("bin"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("win").getField("start").alias("w"), "bin", "c")
    )
    emitted = drain_to_memory(agg, "append", "psi")
    drained = emitted.select(F.to_date("w").alias("day"), "bin", "c").where(
        F.col("day") != F.lit(sentinel_day)
    )
    # append-mode contract: each closed (window, bin) emitted exactly once
    n_all = emitted.count()
    n_distinct = emitted.select("w", "bin").distinct().count()
    assert n_all == n_distinct, (n_all, n_distinct)

    # batch post-processing on the O(days x 5) drained frame
    days = drained.select("day").distinct()
    bins = spark.range(0, 5).select(F.col("id").cast("int").alias("bin"))
    grid = days.crossJoin(F.broadcast(bins))
    from pyspark.sql import Window as W

    wday = W.partitionBy("day")
    filled = (
        grid.join(drained, ["day", "bin"], "left")
        .select("day", "bin", F.coalesce("c", F.lit(0)).cast("bigint").alias("c"))
        .select("day", "bin", "c", F.sum("c").over(wday).alias("n_day"))
    )
    r_exprs = F.create_map(
        *[x for k in range(5) for x in (F.lit(k), F.lit(ref_counts.get(k, 0)))]
    )
    pc = (F.col("c") + 1).cast("double") / (F.col("n_day") + 5)
    pr = (r_exprs[F.col("bin")] + 1).cast("double") / F.lit(float(n_ref + 5))
    term = F.round((pc - pr) * F.log(pc / pr), 6)
    return (
        filled.withColumn("t", term.cast("decimal(18,6)"))
        .groupBy("day")
        .agg(
            F.max("n_day").cast("bigint").alias("n_events"),
            F.sum("t").cast("double").alias("psi"),
        )
        .orderBy("day")
    )
