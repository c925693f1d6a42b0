#!/usr/bin/env python
"""Dump .explain('formatted') for the bench-timed queries (and any extra
names given on argv) to plans/r13/<name>_<suffix>.txt — the before/after
plan evidence for the round-12 optimization pass.

Usage: python scripts/dump_r13_plans.py <suffix> [extra_query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
from data_etl_pipeline_spark.session import get_spark


def main() -> None:
    suffix = sys.argv[1]
    extras = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _ensure_loaded()
    spark = get_spark("dump-r13-plans")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)
    # with explicit names, dump ONLY those (per-change evidence); with no
    # names, dump the full benched set (round start/end snapshots)
    names = extras or [s.name for s in QUERIES.values() if s.bench_tier in (1, 2)]
    for name in names:
        spec = QUERIES[name]
        df = spec.fn(spark, sf_dir)
        from data_etl_pipeline_spark.plans.planassert import formatted_plan

        plan = formatted_plan(df)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"dumped {name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
