"""Stream-stream watermarked interval join (view -> purchase attribution).

The reference joins queue-driven record streams only against static state
(Mongo lookups, SURVEY J11); an engine surface also needs the two-moving-
sides case: correlate two live event streams on a key within an event-time
window.  Spark-first mapping: two file-source streams over the same
ts-range-partitioned event files, each with a watermark, inner-joined with
an equality key plus an event-time range condition.  The physical operator
is StreamingSymmetricHashJoin: both sides are buffered in keyed state and
each arriving row probes the opposite buffer, so a purchase arriving in a
later micro-batch still finds a view buffered two batches earlier.

Eviction safety argument (documented because the oracle is an exact batch
join): input files are range-partitioned on ts, so micro-batch k+1 only
carries rows with ts >= max_ts(batch k).  After batch k the watermark is
max_ts(batch k) - DELAY; a buffered view is dropped only once the
watermark passes v_ts + WINDOW.  A future purchase can still need views
with v_ts >= min_ts(batch k+1) - WINDOW >= max_ts(batch k) - WINDOW, and
with DELAY > 0 the evicted region max_ts(batch k) - DELAY - WINDOW lies
strictly below that bound — no in-window pair is ever lost, which the
DuckDB interval-join oracle verifies end-to-end.

Scale note: state size is bounded by rows-per-watermark-horizon per side,
hash-partitioned by the join key across executors; the join itself never
shuffles more than each micro-batch (state co-location is reused).  At
100 TB/day the DELAY knob directly trades completeness for state size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_etl_pipeline_spark.session import conf_scope, scratch_dir
from data_etl_pipeline_spark.sources.commit import write_single_parquet
from data_etl_pipeline_spark.tables import load, local_frame

_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string"


def split_events_by_ts(
    spark: SparkSession, sf_dir: str, n_files: int = 3, out_dir: str | None = None
) -> tuple[str, list[tuple[str, str]]]:
    """Write the events table as ``n_files`` ts-range-partitioned parquet
    files whose modification times follow ts order, so the file stream
    source replays them as ordered micro-batches.  Returns (dir, per-file
    [min_ts, max_ts] bounds as ISO strings) — the bounds let tests prove
    cross-batch joins actually happened.
    """
    out = out_dir or scratch_dir(spark, "ss_join_events_")
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type")
    )
    ev.repartitionByRange(n_files, "ts").write.mode("overwrite").parquet(out)

    import pyarrow.parquet as pq

    parts = sorted(
        os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
    )
    bounds = []
    for p in parts:
        t = pq.read_table(p, columns=["ts"])
        vals = t["ts"].to_pylist()
        if not vals:
            # repartitionByRange can emit an empty partition on tiny/skewed
            # inputs; an empty part file just means one fewer micro-batch
            os.remove(p)
            continue
        bounds.append((p, min(vals).isoformat(), max(vals).isoformat()))
    bounds.sort(key=lambda b: b[1])
    # pin mtimes ascending in ts order: FileStreamSource picks oldest first
    base = 1_600_000_000
    for i, (p, _, _) in enumerate(bounds):
        os.utime(p, (base + i * 10, base + i * 10))
    return out, [(lo, hi) for _, lo, hi in bounds]


def join_streams_over_dir(
    spark: SparkSession,
    src: str,
    window_minutes: int = 60,
    delay: str = "90 minutes",
    how: str = "inner",
) -> DataFrame:
    """Run the watermarked stream-stream join over a prepared micro-batch
    directory and return the raw (v_user, v_ts, v_id, p_ts, p_id) pairs as
    a batch DataFrame once both streams drain.

    ``how="left_outer"`` additionally emits every view that found NO
    purchase in its window, with NULL purchase columns — emitted exactly
    once, when the watermark passes the view's expiry and the state row
    is evicted unmatched (Spark's outer stream-stream contract)."""

    def side(kind: str, prefix: str) -> DataFrame:
        s = (
            spark.readStream.schema(_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .where(F.col("event_type") == kind)
        )
        return s.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts").alias(f"{prefix}_ts"),
            F.col("event_id").alias(f"{prefix}_id"),
        ).withWatermark(f"{prefix}_ts", delay)

    views = side("view", "v")
    purchases = side("purchase", "p")
    joined = views.join(
        purchases,
        F.expr(
            f"v_user = p_user AND p_ts >= v_ts "
            f"AND p_ts <= v_ts + interval {window_minutes} minutes"
        ),
        how,
    )

    sink = scratch_dir(spark, "ss_join_sink_")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    # The state-store partition count is pinned from this conf at stream
    # START and each micro-batch pays per-partition state overhead on both
    # join sides — with micro-batches this small the default (= core
    # count) is pure overhead (measured: 22 s -> 4.4 s warm at 4
    # partitions, flat across sf). On a real cluster this knob is sized to state
    # volume, not cores; scoped (conf_scope) so batch queries keep theirs.
    with conf_scope(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = joined.writeStream.outputMode("append").foreachBatch(write_epoch).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")


def run_stream_stream_attribution(
    spark: SparkSession, sf_dir: str, window_minutes: int = 60, delay: str = "90 minutes"
) -> DataFrame:
    """Per-user view->purchase attribution: for every purchase, count the
    views by the same user in the preceding ``window_minutes``; returns one
    row per user with pair and attributed-purchase counts.  Both sides are
    live streams (two independent readers of the same micro-batched file
    source) joined under watermarks.
    """
    src, _ = split_events_by_ts(spark, sf_dir)
    pairs = join_streams_over_dir(spark, src, window_minutes, delay)
    return pairs.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("p_id").alias("n_attributed_purchases"),
    )


def append_flush_sentinel(
    spark: SparkSession, src: str, bounds: list[tuple[str, str]], horizon_days: int = 30
) -> None:
    """Append one far-future view+purchase pair (reserved ids < 0) as the
    LAST micro-batch, so the final watermark advance evicts every buffered
    outer-join state row and the unmatched-view results actually emit.

    Without this, views still inside the watermark horizon when the file
    stream drains would sit in state forever and the left-outer results
    would silently under-count — the classic outer stream-stream pitfall.
    Sentinel rows carry event_id -1/-2 and are filtered out of results;
    the sentinel pair can only match itself (its ts is beyond every real
    row's window).
    """
    far = F.expr(
        f"timestamp'{max(hi for _, hi in bounds)}' + interval {horizon_days} days"
    )
    sent = local_frame(
        spark,
        [(-1, -1, "view"), (-2, -1, "purchase")],
        "event_id long, user_id long, event_type string",
    ).select("event_id", far.alias("ts"), "user_id", "event_type")
    dst = write_single_parquet(sent, os.path.join(src, "zz_sentinel.parquet"))
    os.utime(dst, (1_600_100_000, 1_600_100_000))  # after every real batch


def run_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str, window_minutes: int = 60, delay: str = "90 minutes"
) -> DataFrame:
    """Per-user attribution INCLUDING the misses: matched view->purchase
    pairs plus every view with no purchase in its window, the latter
    emitted as NULL-purchase rows on state expiry.  Returns one row per
    user with pair and unmatched-view counts."""
    src, bounds = split_events_by_ts(spark, sf_dir)
    append_flush_sentinel(spark, src, bounds)
    rows = join_streams_over_dir(
        spark, src, window_minutes, delay, how="left_outer"
    ).where(F.col("v_id") >= 0)
    return rows.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count("p_id").alias("n_pairs"),
        F.sum(F.col("p_id").isNull().cast("int")).cast("bigint").alias(
            "n_unmatched_views"
        ),
    )
