"""Self-test of the benchmark's correctness gate (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import spans  # noqa: E402
import workloads as wl  # noqa: E402

COLS = ["k", "name", "total", "day"]
ROWS = [
    (1, "a", 2.5, dt.datetime(2024, 1, 1)),
    (2, "b", 3.0, dt.datetime(2024, 1, 2)),
    (3, None, 0.125, dt.datetime(2024, 1, 3)),
]


class FakeContext(run.Context):
    """Context whose queries "return" fixed rows instead of running Spark."""

    def __init__(self, results: dict[str, list]):
        super().__init__(spark=None, tracer=spans.Tracer(None, enabled=False))
        self.results = results

    def query(self, name, data_dir, collect):
        return self.op(f"query.{name}", lambda: wl.digest(COLS, self.results[name]) if collect else None)


def _workload(names):
    w = wl.QueryWorkload(names, data_dir="unused", seed=0)
    w.expected = {n: wl.digest(COLS, ROWS) for n in names}
    return w


def test_digest_ignores_row_and_column_order():
    reordered = [(r[3], r[2], r[1], r[0]) for r in reversed(ROWS)]
    assert wl.digest(list(reversed(COLS)), reordered) == wl.digest(COLS, ROWS)


def test_matching_results_keep_ok_frac_at_one():
    ctx = FakeContext({"q1": ROWS, "q2": list(reversed(ROWS))})
    _workload(["q1", "q2"]).run_pass(ctx, check=True)
    assert (ctx.attempted, ctx.failed, ctx.ok_frac) == (2, 0, 1.0)


def test_corrupted_result_drops_ok_frac_below_one():
    corrupted = [ROWS[0], (2, "b", 3.0000001, ROWS[1][3]), ROWS[2]]
    ctx = FakeContext({"q1": ROWS, "q2": corrupted})
    _workload(["q1", "q2"]).run_pass(ctx, check=True)
    assert ctx.failed == 1
    assert ctx.ok_frac < 1.0


def test_missing_row_and_exception_both_count_as_failures():
    def boom():
        raise RuntimeError("injected")

    ctx = FakeContext({"q1": ROWS[:2]})
    _workload(["q1"]).run_pass(ctx, check=True)
    ctx.op("query.q2", boom)
    assert (ctx.attempted, ctx.failed) == (2, 2)
    assert ctx.ok_frac == 0.0


def test_union_and_self_time():
    assert spans.union_s([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    recs = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert spans.self_time(recs, recs[0]) == 5.0
