#!/usr/bin/env python
"""Generate QUERIES.md — the declared-query catalog from the registry."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded


def main() -> None:
    _ensure_loaded()
    lines = [
        "# QUERIES — declared-query catalog\n",
        f"{len(QUERIES)} queries, each DuckDB-oracle-checked. Generated by "
        "`python scripts/dump_catalog.py`; each runs as "
        "`queries()[name](spark, sf_dir)` from `__spark_entry__.py`.\n",
        "| query | bench tier | what it covers |",
        "|---|---|---|",
    ]
    for name in sorted(QUERIES):
        s = QUERIES[name]
        lines.append(f"| `{name}` | {s.bench_tier or ''} | {s.doc} |")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
