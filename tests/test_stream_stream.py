"""Stream-stream join: the state machinery must genuinely cross batches."""

from __future__ import annotations

from data_etl_pipeline_spark.streaming.ss_join import split_events_by_ts


def test_split_files_are_ts_ordered_and_disjoint(spark, sf_dir):
    _, bounds = split_events_by_ts(spark, sf_dir, n_files=3)
    assert len(bounds) == 3
    for (lo, hi), (lo2, _) in zip(bounds, bounds[1:]):
        assert lo <= hi <= lo2  # ranges ascend and never interleave


def test_cross_batch_pairs_survive_state(spark, tmp_path):
    """A view buffered in micro-batch 1 must join a purchase arriving in
    micro-batch 3 — proving StreamingSymmetricHashJoin keeps keyed state
    across batches — while a pair outside the 60-minute window must not
    appear even though the user matches."""
    import os

    from data_etl_pipeline_spark.streaming.ss_join import join_streams_over_dir

    src = str(tmp_path / "batches")
    rows_per_file = [
        # batch 1: two views (user 1 in-window, user 2 out-of-window)
        [(101, "2024-01-01 10:00:00", 1, "view"),
         (102, "2024-01-01 08:00:00", 2, "view")],
        # batch 2: unrelated traffic advances the watermark only slightly
        [(201, "2024-01-01 10:10:00", 3, "view")],
        # batch 3: purchases — user 1 within 60 min of its view, user 2 not
        [(301, "2024-01-01 10:45:00", 1, "purchase"),
         (302, "2024-01-01 10:45:00", 2, "purchase")],
    ]
    os.makedirs(src)
    for i, rows in enumerate(rows_per_file):
        from data_etl_pipeline_spark.tables import local_frame

        df = local_frame(
            spark,
            [(e, __import__("datetime").datetime.fromisoformat(t), u, k) for e, t, u, k in rows],
            "event_id long, ts timestamp, user_id long, event_type string",
        )
        path = f"{src}/f{i}"
        df.write.parquet(path)
        for f in os.listdir(path):
            full = os.path.join(path, f)
            os.utime(full, (1_600_000_000 + i * 10, 1_600_000_000 + i * 10))

    pairs = join_streams_over_dir(spark, f"{src}/f*", window_minutes=60).collect()
    got = {(r.v_id, r.p_id) for r in pairs}
    assert (101, 301) in got  # view from batch 1 joined purchase from batch 3
    assert (102, 302) not in got  # 2h45m gap: outside the window


def test_left_outer_emits_unmatched_views_on_expiry(spark, sf_dir):
    """The left-outer variant must (a) reproduce the inner pairs exactly
    and (b) emit every miss exactly once — including views still inside
    the watermark horizon at drain time (the flush sentinel's job)."""
    from pyspark.sql import functions as F

    from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
    from data_etl_pipeline_spark.tables import load

    _ensure_loaded()
    rows = QUERIES["stream_stream_left_outer"].fn(spark, sf_dir).collect()
    got = {r.user_id: (r.n_pairs, r.n_unmatched_views) for r in rows}
    assert any(u for u, (_, miss) in got.items() if miss > 0), "no misses emitted"
    assert all(u >= 0 for u in got), "sentinel leaked into results"

    ev = load(spark, sf_dir, "events")
    v = ev.where("event_type = 'view'").select(
        F.col("user_id").alias("u"), F.col("ts").alias("vts"), "event_id"
    )
    p = ev.where("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        F.col("event_id").alias("pid"),
    )
    j = v.join(
        p,
        (F.col("u") == F.col("pu"))
        & (F.col("pts") >= F.col("vts"))
        & (F.col("pts") <= F.col("vts") + F.expr("interval 60 minutes")),
        "left",
    )
    want = {
        r.u: (r.np, r.nm)
        for r in j.groupBy("u")
        .agg(
            F.count("pid").alias("np"),
            F.sum(F.col("pid").isNull().cast("int")).cast("bigint").alias("nm"),
        )
        .collect()
    }
    assert got == want
