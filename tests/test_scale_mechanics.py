"""Scale-mechanics tests: bucketed co-located joins plan without a
shuffle, salted rollups equal their direct form, and the custom stateful
streaming dedup keeps its seen-state across micro-batches."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from data_etl_pipeline_spark.operators.skew import salted_set_rollup
from data_etl_pipeline_spark.sources.bucketed import colocated_join, write_bucketed
from data_etl_pipeline_spark.tables import load
from data_etl_pipeline_spark.plans.planassert import executed_plan, formatted_plan
from data_etl_pipeline_spark.session import conf_scope


class TestBucketedJoin:
    def test_colocated_join_has_no_exchange(self, spark, sf_dir, tmp_path_factory):
        wh = str(tmp_path_factory.mktemp("warehouse"))
        orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        li = load(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        )
        # force a non-broadcast join so the shuffle question is real
        no_broadcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
        try:
            with conf_scope(spark, no_broadcast):
                write_bucketed(orders, "b_orders", "o_orderkey", 4, sort_key="o_orderkey", path=f"{wh}/b_orders")
                write_bucketed(li, "b_lineitem", "o_orderkey", 4, sort_key="o_orderkey", path=f"{wh}/b_lineitem")
                joined = colocated_join(spark, "b_orders", "b_lineitem", "o_orderkey")
                plan = formatted_plan(joined)
                assert "SortMergeJoin" in plan
                assert "Exchange" not in plan  # co-located buckets: no shuffle
                # and the join is still correct
                expected = orders.join(li, "o_orderkey").count()
                assert joined.count() == expected
        finally:
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestSaltedRollup:
    def test_equals_direct_rollup(self, spark, sf_dir):
        ev = load(spark, sf_dir, "events").select("user_id", "event_type")
        direct = (
            ev.groupBy("user_id")
            .agg(F.array_sort(F.collect_set("event_type")).alias("values"))
            .collect()
        )
        salted = salted_set_rollup(ev, "user_id", "event_type", n_salt=8).collect()
        assert {r["user_id"]: r["values"] for r in salted} == {
            r["user_id"]: r["values"] for r in direct
        }

    def test_salt_spreads_hot_key(self, spark):
        # one key owning every row still produces the right set
        df = spark.range(0, 1000).select(
            F.lit(1).alias("k"), (F.col("id") % 7).cast("string").alias("v")
        )
        out = salted_set_rollup(df, "k", "v", n_salt=16).collect()
        assert len(out) == 1
        assert out[0]["values"] == sorted({str(i) for i in range(7)})


class TestStatefulStreamingDedup:
    def test_state_survives_across_micro_batches(self, spark, tmp_path):
        # two files -> two micro-batches (maxFilesPerTrigger=1); duplicates
        # arriving in the second batch must be dropped by the keyed state
        import pandas as pd

        from data_etl_pipeline_spark.streaming.stateful import (
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            _dedup_first_seen,
        )
        from pyspark.sql.streaming.state import GroupStateTimeout

        d = tmp_path / "stream"
        d.mkdir()
        df1 = pd.DataFrame(
            {
                "event_id": [1, 2],
                "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:01:00"]),
                "user_id": [7, 7],
                "event_type": ["click", "view"],
                "value": [1.0, 1.0],
                "props": ["{}", "{}"],
            }
        )
        df2 = pd.DataFrame(
            {
                "event_id": [3, 4],
                "ts": pd.to_datetime(["2024-01-02 00:00:00", "2024-01-02 00:01:00"]),
                "user_id": [7, 7],
                "event_type": ["click", "buy"],  # click is a cross-batch dup
                "value": [1.0, 1.0],
                "props": ["{}", "{}"],
            }
        )
        for df in (df1, df2):
            df["ts"] = df["ts"].astype("datetime64[us]")  # Spark rejects NANOS parquet
        df1.to_parquet(os.path.join(d, "a.parquet"))
        df2.to_parquet(os.path.join(d, "b.parquet"))
        # the first-seen assertion is batch-order-sensitive: pin strictly
        # increasing mtimes (FileStreamSource replays oldest mtime first)
        os.utime(os.path.join(d, "a.parquet"), (1_600_000_000,) * 2)
        os.utime(os.path.join(d, "b.parquet"), (1_600_000_010,) * 2)

        schema = spark.read.parquet(str(d)).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))
        )
        deduped = stream.groupBy("user_id").applyInPandasWithState(
            _dedup_first_seen,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = deduped.writeStream.outputMode("update").format("memory").queryName("sd").start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        rows = {(r["event_type"], r["event_id"]) for r in spark.table("sd").collect()}
        assert rows == {("click", 1), ("view", 2), ("buy", 4)}

    @pytest.mark.parametrize("name", ["stream_dedup_first_seen"])
    def test_matches_batch_first_occurrence(self, spark, sf_dir, name):
        from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
        from pyspark.sql import Window as W

        _ensure_loaded()
        streamed = {
            (r["user_id"], r["event_type"]): r["event_id"]
            for r in QUERIES[name].fn(spark, sf_dir).collect()
        }
        w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        batch = {
            (r["user_id"], r["event_type"]): r["event_id"]
            for r in load(spark, sf_dir, "events")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .collect()
        }
        assert streamed == batch


class TestTransitiveClosure:
    def test_terminates_on_cycles(self, spark):
        from data_etl_pipeline_spark.operators.hierarchy import transitive_closure

        edges = spark.createDataFrame([(1, 2), (2, 1)], "child long, parent long")
        rows = {(r["node"], r["ancestor"]): r["depth"] for r in transitive_closure(edges).collect()}
        # the pair-space saturates, so the fixpoint loop stops despite the
        # cycle: each node reaches the other (depth 1) and itself (depth 2)
        assert rows == {(1, 2): 1, (2, 1): 1, (1, 1): 2, (2, 2): 2}

    def test_chain_depths_are_shortest(self, spark):
        from data_etl_pipeline_spark.operators.hierarchy import transitive_closure

        edges = spark.createDataFrame([(4, 3), (3, 2), (2, 1), (4, 2)], "child long, parent long")
        rows = {(r["node"], r["ancestor"]): r["depth"] for r in transitive_closure(edges).collect()}
        # 4 reaches 2 directly (depth 1, not via 3) and 1 in two hops
        assert rows[(4, 2)] == 1
        assert rows[(4, 1)] == 2
        assert rows[(4, 3)] == 1
        assert rows[(3, 1)] == 2


class TestOntologyValidation:
    def test_cycle_detection(self, spark):
        from data_etl_pipeline_spark.operators.hierarchy import detect_cycles

        acyclic = spark.createDataFrame([(2, 1), (3, 1), (4, 2)], "child long, parent long")
        assert detect_cycles(acyclic).isEmpty()
        cyclic = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (9, 1)], "child long, parent long")
        rows = {r["node"]: r["cycle_length"] for r in detect_cycles(cyclic).collect()}
        assert set(rows) == {1, 2, 3}  # node 9 hangs off the cycle but is not on it
        assert all(v == 3 for v in rows.values())

    def test_duplicate_label_detection(self, spark):
        from data_etl_pipeline_spark.operators.hierarchy import duplicate_labels

        vocab = spark.createDataFrame(
            [("welding", "MIG Welding"), ("joining", "mig welding"), ("casting", "Die Casting")],
            "concept string, label string",
        )
        rows = duplicate_labels(vocab).collect()
        assert len(rows) == 1
        assert rows[0]["label_lower"] == "mig welding"
        assert rows[0]["concepts"] == ["joining", "welding"]


def test_waterfill_closed_form_matches_iterative(spark):
    """token_budget_waterfill's order-statistic closed form vs the
    textbook iterative cap-and-redistribute loop, over randomized
    capacity profiles (skewed, uniform, tiny-budget, full-budget)."""
    import random

    from data_etl_pipeline_spark.plans.pipeline import token_budget_waterfill  # noqa: F401
    from data_etl_pipeline_spark.plans.registry import QUERIES

    def iterative(caps: dict, budget: int) -> dict:
        alloc = {s: 0.0 for s in caps}
        active = set(caps)
        remaining = float(budget)
        while active and remaining > 1e-9:
            share = remaining / len(active)
            done = {s for s in active if caps[s] <= alloc[s] + share}
            if not done:
                for s in active:
                    alloc[s] += share
                remaining = 0.0
                break
            for s in done:
                remaining -= caps[s] - alloc[s]
                alloc[s] = float(caps[s])
            active -= done
        return alloc

    def closed_form(caps: dict, budget: int) -> dict:
        rows = sorted(caps.items(), key=lambda kv: (kv[1], kv[0]))
        n = len(rows)
        prefix, istar, p_star = 0, 0, 0
        for i, (s, c) in enumerate(rows, start=1):
            if c * (n - i + 1) + prefix <= budget:
                istar, p_star = i, prefix + c
            prefix += c
        out = {}
        for i, (s, c) in enumerate(rows, start=1):
            out[s] = float(c) if i <= istar else (budget - p_star) / (n - istar)
        return out

    rng = random.Random(11)
    for trial in range(200):
        n = rng.randint(1, 9)
        caps = {f"s{j}": rng.randint(1, 1000) for j in range(n)}
        total = sum(caps.values())
        budget = rng.choice([total // 2, total // 10, total, 1, total - 1])
        a, b = iterative(caps, budget), closed_form(caps, budget)
        for s in caps:
            assert abs(a[s] - b[s]) < 1e-6, (trial, caps, budget, a, b)
        assert abs(sum(b.values()) - min(budget, total)) < 1e-6
