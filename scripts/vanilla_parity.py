#!/usr/bin/env python
"""Oracle-parity sweep under a DEFAULT-conf SparkSession — the driver twin.

The round-8 red row (`pysource_batch_results`) was invisible to pytest
because tests/conftest.py builds its session through the repo factory
(session.py), inheriting every conf the factory sets — so "works under
repo confs, breaks under the driver's vanilla session" was an untestable
class. This sweep closes it: a bare
``SparkSession.builder.master("local[N]")`` session (NO repo factory, NO
shuffle/AQE/timezone/Arrow/pushdown confs) runs queries against the same
DuckDB oracle the driver uses. Any query that silently depends on a
session.py conf fails HERE before it fails in CORRECTNESS_r{N}.json.

session.py conf audit (why each is safe to drop, or why not):
- spark.sql.shuffle.partitions / adaptive.* — performance only; AQE and
  skew handling default ON in Spark 4.
- spark.sql.session.timeZone=UTC — semantic for epoch math, but every
  query follows the NTZ-proof contract (registry docstring) and the
  container's system TZ is UTC; the sweep would catch a violation.
- spark.sql.parquet.inferTimestampNTZ.enabled — semantic (tz-less
  parquet reads as TIMESTAMP vs TIMESTAMP_NTZ); queries are NTZ-proof
  by contract, and this sweep executes that claim under the OTHER value.
- spark.sql.execution.arrow.pyspark.enabled — transfer performance only.
- spark.sql.python.filterPushdown.enabled — SEMANTIC for Python sources
  (Spark refuses to plan pushFilters() sources without it): the r8
  failure. Now self-scoped inside pysource_batch_results.

This is the one script that builds its own SparkSession instead of
calling ``get_spark``, and it keeps it on purpose: the default-conf
session is what it tests. Every other script (profiling included) runs
the engine's own session so it measures what the bench runs.

Usage: python scripts/vanilla_parity.py [sf_dir] [query ...]
       (default queries: the committed _VERIFY_FIRST front-50)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or None

    from pyspark.sql import SparkSession

    from data_etl_pipeline_spark.oracle import compare_all

    if names is None:
        from data_etl_pipeline_spark.plans.registry import _VERIFY_FIRST

        names = list(_VERIFY_FIRST)

    # the point of this script: NOT data_etl_pipeline_spark.session.get_spark
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("vanilla-parity")
        .config("spark.ui.enabled", "false")  # avoid port collisions only
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled", None) in (
        None,
        "false",
    ), "session is not vanilla — repo factory confs leaked in"

    results = compare_all(spark, sf_dir, names)
    n_ok = sum(1 for r in results if r["ok"])
    for r in results:
        flag = "PASS" if r["ok"] else "FAIL"
        extra = (
            ""
            if r["ok"]
            else " "
            + json.dumps(
                {k: v for k, v in r.items() if k not in ("name", "ok", "status")},
                default=str,
            )[:400]
        )
        print(f"{flag} {r['name']}: {r['status']}{extra}")
    print(f"\n{n_ok}/{len(results)} queries match under a VANILLA session")
    spark.stop()
    return 0 if n_ok == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
