"""Bucketed interval-join semantics: exactness vs a naive theta join,
boundary rules, bucket-width invariance, and the gap-fill query's axis."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_etl_pipeline_spark.operators.intervals import interval_join
from data_etl_pipeline_spark.plans.planassert import executed_plan, formatted_plan
from data_etl_pipeline_spark.session import conf_scope


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _points(spark):
    return spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:00")),
            (2, _ts("2024-01-01 00:05:00")),
            (3, _ts("2024-01-01 00:10:00")),  # exactly at i10's end
            (4, _ts("2024-01-01 03:00:00")),
            (5, _ts("2024-01-02 00:00:01")),
        ],
        "p_id long, p_ts timestamp",
    )


def _intervals(spark):
    return spark.createDataFrame(
        [
            (10, _ts("2024-01-01 00:00:00"), _ts("2024-01-01 00:10:00")),
            (11, _ts("2024-01-01 00:04:00"), _ts("2024-01-01 00:06:00")),
            (12, _ts("2024-01-01 02:59:00"), _ts("2024-01-01 03:01:00")),
            (13, _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00")),  # spans many buckets
        ],
        "i_id long, start timestamp, end timestamp",
    )


def _pairs(df):
    return {(r["p_id"], r["i_id"]) for r in df.select("p_id", "i_id").collect()}


class TestIntervalJoin:
    def test_matches_naive_theta_join(self, spark):
        p, i = _points(spark), _intervals(spark)
        got = _pairs(interval_join(p, i, "p_ts", "start", "end", bucket_width_s=600))
        naive = _pairs(
            p.join(i, (F.col("start") <= F.col("p_ts")) & (F.col("p_ts") < F.col("end")))
        )
        assert got == naive
        # point 3 sits exactly at i10's end -> excluded under closed="left"
        assert (3, 10) not in got
        assert (1, 10) in got and (2, 11) in got and (4, 12) in got

    def test_closed_both_includes_end(self, spark):
        got = _pairs(
            interval_join(
                _points(spark), _intervals(spark), "p_ts", "start", "end",
                bucket_width_s=600, closed="both",
            )
        )
        assert (3, 10) in got and (3, 13) in got

    @pytest.mark.parametrize("width", [1, 60, 3600, 86400])
    def test_bucket_width_invariance(self, spark, width):
        # the bucket size is a performance knob, never a semantics knob
        got = _pairs(
            interval_join(
                _points(spark), _intervals(spark), "p_ts", "start", "end",
                bucket_width_s=width,
            )
        )
        assert got == _pairs(
            interval_join(
                _points(spark), _intervals(spark), "p_ts", "start", "end",
                bucket_width_s=600,
            )
        )

    def test_no_duplicate_pairs_across_buckets(self, spark):
        # interval 13 spans 145 ten-minute buckets; each contained point
        # must still appear exactly once
        out = interval_join(
            _points(spark), _intervals(spark), "p_ts", "start", "end", bucket_width_s=600
        ).where(F.col("i_id") == 13)
        rows = [r["p_id"] for r in out.collect()]
        assert sorted(rows) == [1, 2, 3, 4]  # 3 is inside; 5 is past the end

    def test_column_collision_rejected(self, spark):
        p = _points(spark).withColumnRenamed("p_ts", "start")
        with pytest.raises(ValueError, match="collision"):
            interval_join(p, _intervals(spark), "start", "start", "end", 600)

    def test_bad_closed_rejected(self, spark):
        with pytest.raises(ValueError, match="closed"):
            interval_join(
                _points(spark), _intervals(spark), "p_ts", "start", "end", 600,
                closed="right",
            )


class TestGapFill:
    def test_axis_dense_and_ffill_total(self, spark, sf_dir):
        from data_etl_pipeline_spark.plans import all_queries

        out = all_queries()["event_type_hourly_gap_fill"](spark, sf_dir).collect()
        by_type: dict[str, list] = {}
        for r in out:
            by_type.setdefault(r["event_type"], []).append(r)
        for rows in by_type.values():
            rows.sort(key=lambda r: r["hr"])
            # dense hourly axis: consecutive rows are exactly 1h apart
            for a, b in zip(rows, rows[1:]):
                assert (b["hr"] - a["hr"]).total_seconds() == 3600
            # first row of each key is a data hour; ffill never null after it
            assert rows[0]["n_events"] > 0
            assert all(r["ffill_avg_value"] is not None for r in rows)
            # zero-filled hours carry no fresh average
            assert all(
                (r["n_events"] == 0) == (r["hr_avg_value"] is None) for r in rows
            )


def test_interval_join_falls_back_to_shuffled_join_past_broadcast(spark):
    """The designed scale path: when the interval side outgrows the
    broadcast threshold the bucket equi-join becomes a shuffled
    SortMergeJoin — never a nested loop."""
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = interval_join(
            _points(spark), _intervals(spark), "p_ts", "start", "end", 600
        )
        plan = formatted_plan(out)
        assert "SortMergeJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
        # semantics unchanged under the shuffled strategy
        assert _pairs(out) == _pairs(
            _points(spark).join(
                _intervals(spark),
                (F.col("start") <= F.col("p_ts")) & (F.col("p_ts") < F.col("end")),
            )
        )


def test_adversarial_boundaries_match_bruteforce(spark):
    """Randomized bulk equivalence vs the naive theta join, with the
    boundary shapes the fixture never produces: points exactly at
    interval starts/ends and 1 microsecond either side, zero-length
    intervals, reversed (end < start) intervals, pre-1970 timestamps
    (negative epoch micros exercise trunc-vs-floor div), and intervals
    spanning many buckets. Both closed modes."""
    import random

    rng = random.Random(88)
    base = 1_700_000_000_000_000  # 2023-11, micros

    def ts(us):
        return datetime.utcfromtimestamp(us / 1_000_000)

    ivals = []
    for i in range(40):
        kind = i % 5
        if kind == 0:  # normal
            s = base + rng.randrange(-10**9, 10**9)
            e = s + rng.randrange(1, 10**8)
        elif kind == 1:  # zero-length
            s = base + rng.randrange(-10**9, 10**9)
            e = s
        elif kind == 2:  # reversed
            e = base + rng.randrange(-10**9, 10**9)
            s = e + rng.randrange(1, 10**7)
        elif kind == 3:  # pre-1970
            s = -rng.randrange(10**8, 10**9)
            e = s + rng.randrange(1, 10**8)
        else:  # many-bucket span
            s = base + rng.randrange(-10**9, 0)
            e = s + rng.randrange(10**9, 3 * 10**9)
        ivals.append((i, ts(s), ts(e), s, e))

    pts = []
    pid = 0
    for (i, _s, _e, s_us, e_us) in ivals[:20]:
        for off in (0, 1, -1):
            for anchor in (s_us, e_us):
                pts.append((pid, ts(anchor + off)))
                pid += 1
    for _ in range(60):  # plus uniform randoms incl. negatives
        pts.append((pid, ts(rng.randrange(-(10**9), base + 2 * 10**9))))
        pid += 1

    pdf = spark.createDataFrame(pts, "pid long, p_ts timestamp")
    idf = spark.createDataFrame(
        [(i, a, b) for i, a, b, _, _ in ivals], "iid long, start timestamp, end timestamp"
    )
    for closed, upper in (("left", "<"), ("both", "<=")):
        got = sorted(
            (r.pid, r.iid)
            for r in interval_join(
                pdf, idf, "p_ts", "start", "end", bucket_width_s=3600, closed=closed
            ).collect()
        )
        want = sorted(
            (r.pid, r.iid)
            for r in pdf.join(
                idf,
                (F.col("start") <= F.col("p_ts"))
                & F.expr(f"p_ts {upper} end"),
            ).collect()
        )
        assert got == want, (closed, len(got), len(want))
        assert got  # non-vacuous: boundary construction guarantees matches


class TestIntervalOverlapJoin:
    """interval×interval overlap: the one-bucket-per-pair claim must give
    exactly the naive theta-join pairs — no duplicates when the
    intersection spans several buckets, no misses at touching edges."""

    def _sides(self, spark):
        left = spark.createDataFrame(
            [
                (1, _ts("2024-01-01 00:00:00"), _ts("2024-01-03 00:00:00")),
                (2, _ts("2024-01-02 12:00:00"), _ts("2024-01-02 13:00:00")),
                (3, _ts("2024-01-05 00:00:00"), _ts("2024-01-06 00:00:00")),
                # degenerate touch: ends exactly where b4 starts (half-open: no pair)
                (4, _ts("2024-01-08 00:00:00"), _ts("2024-01-09 00:00:00")),
            ],
            "a_id long, a_start timestamp, a_end timestamp",
        )
        right = spark.createDataFrame(
            [
                # long interval spanning many buckets: pair must appear ONCE
                (10, _ts("2023-12-30 00:00:00"), _ts("2024-01-10 00:00:00")),
                (11, _ts("2024-01-02 12:30:00"), _ts("2024-01-02 14:00:00")),
                (12, _ts("2024-01-09 00:00:00"), _ts("2024-01-09 06:00:00")),
            ],
            "b_id long, b_start timestamp, b_end timestamp",
        )
        return left, right

    @pytest.mark.parametrize("width_s", [3600, 6 * 3600, 86400, 7 * 86400])
    def test_matches_naive_theta_join(self, spark, width_s):
        from data_etl_pipeline_spark.operators.intervals import interval_overlap_join

        left, right = self._sides(spark)
        got = {
            (r["a_id"], r["b_id"])
            for r in interval_overlap_join(
                left, right, "a_start", "a_end", "b_start", "b_end", width_s
            ).collect()
        }
        naive = {
            (r["a_id"], r["b_id"])
            for r in left.join(
                right,
                (F.col("a_start") < F.col("b_end")) & (F.col("b_start") < F.col("a_end")),
            ).collect()
        }
        assert got == naive
        # the long b10 interval overlaps a1/a2/a3/a4 and must pair each ONCE
        assert (1, 10) in got and (4, 12) not in got

    def test_no_duplicates_even_counting(self, spark):
        from data_etl_pipeline_spark.operators.intervals import interval_overlap_join

        left, right = self._sides(spark)
        rows = interval_overlap_join(
            left, right, "a_start", "a_end", "b_start", "b_end", 3600
        ).groupBy("a_id", "b_id").count().where("count > 1").count()
        assert rows == 0

    def test_column_collision_rejected(self, spark):
        from data_etl_pipeline_spark.operators.intervals import interval_overlap_join

        left, right = self._sides(spark)
        with pytest.raises(ValueError, match="collision"):
            interval_overlap_join(
                left,
                right.withColumnRenamed("b_id", "a_id"),
                "a_start", "a_end", "b_start", "b_end", 3600,
            )
