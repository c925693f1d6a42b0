"""Stateful streaming operators (streaming/stateful.py) checked against
an independent engine path instead of the oracle."""

from __future__ import annotations


def test_episode_ttl_matches_native_session_window(spark, sf_dir):
    """Engine-vs-engine: the EventTimeTimeout episode operator must agree
    row-for-row with Spark's native session_window at the same 24h gap —
    two independent engine paths, no oracle in the loop. Also proves the
    timeout path fired (closed_by surviving rows carry the assert inside
    the runner)."""
    from pyspark.sql import functions as F

    from data_etl_pipeline_spark.streaming.stateful import run_stream_episodes_ttl
    from data_etl_pipeline_spark.tables import load

    got = {
        (r["user_id"], r["episode_start"], r["episode_end"], r["n_events"], r["n_types"])
        for r in run_stream_episodes_ttl(spark, sf_dir, ttl_hours=24).collect()
    }
    want = {
        (r["user_id"], r["episode_start"], r["episode_end"], r["n_events"], r["n_types"])
        for r in (
            load(spark, sf_dir, "events")
            .groupBy("user_id", F.session_window(F.col("ts").cast("timestamp"), "24 hours"))
            .agg(
                F.min("ts").alias("episode_start"),
                F.max("ts").alias("episode_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("event_type").alias("n_types"),
            )
            .select("user_id", "episode_start", "episode_end", "n_events", "n_types")
            .collect()
        )
    }
    assert got == want
