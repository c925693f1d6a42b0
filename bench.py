#!/usr/bin/env python
"""Benchmark the bench-tier queries (``QuerySpec.bench_tier``).

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>, "cpus": <defaultParallelism>,
   "sf_dir": "<dir>"}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
from data_etl_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    _ensure_loaded()
    spark = get_spark("bench")

    # Two totals per round (r4 verdict item 7): COLD = each query's first
    # execution (the earliest queries absorb JVM/codegen/parquet-footer
    # warmup — a true cold session), STEADY = best-of-N. The steady
    # minimum is the noise-robust estimator (the r2 bench file recorded a
    # phantom 1.73x "regression" that a quiet re-run erased); the cold
    # total anchors against judge single-run numbers so future rounds can
    # tell sandbox noise from a plan regression without a re-run.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    def run_tier(specs):
        timings: dict[str, float] = {}
        timings_cold: dict[str, float] = {}
        spread: dict[str, float] = {}
        for spec in specs:
            runs: list[float] = []
            for i in range(repeats):
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings_cold[spec.name] = round(runs[0], 3)
            timings[spec.name] = round(min(runs), 3)
            # per-query spread (max-min across the warm repeats, i.e. runs
            # after the cold first one when there are >= 3): the r5->r6 trend
            # question "sandbox noise or plan regression?" needs the
            # within-run variance recorded next to the point estimate
            warm = runs[1:] if len(runs) >= 3 else runs
            spread[spec.name] = round(max(warm) - min(warm), 3)
        return timings, timings_cold, spread

    # Each tier (QuerySpec.bench_tier) is its own total, so `value` (tier 1)
    # stays comparable with the r1-anchored trend while tier 2 (heavies
    # from the modern surface) and tier 3 (the slowest driver-visible
    # rows) watch the engine's center of mass.
    def tier(n: int):
        return run_tier([s for s in QUERIES.values() if s.bench_tier == n])

    timings, timings_cold, spread = tier(1)
    timings2, timings2_cold, spread2 = tier(2)
    timings3, timings3_cold, spread3 = tier(3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_sec",
                "value": total,
                "unit": "sec",
                "cold_value": round(sum(timings_cold.values()), 3),
                "queries": timings,
                "queries_cold": timings_cold,
                "queries_spread": spread,
                "value_tier2": round(sum(timings2.values()), 3),
                "cold_value_tier2": round(sum(timings2_cold.values()), 3),
                "queries_tier2": timings2,
                "queries_tier2_cold": timings2_cold,
                "queries_tier2_spread": spread2,
                "value_tier3": round(sum(timings3.values()), 3),
                "queries_tier3": timings3,
                "queries_tier3_cold": timings3_cold,
                "queries_tier3_spread": spread3,
                "repeats": repeats,
                "sf": sf,
                "cpus": spark.sparkContext.defaultParallelism,
                "sf_dir": sf_dir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
