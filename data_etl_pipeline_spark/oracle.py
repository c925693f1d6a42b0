"""Local mirror of the driver's correctness gate: run each declared query
on Spark AND its oracle SQL on DuckDB, compare row count + column names +
order-insensitive values.

Used by tests/test_oracle_parity.py and scripts; the real gate is the
driver's CORRECTNESS_r{N}.json run, but failing here means failing there.
"""

from __future__ import annotations

import math
import threading
from typing import Any

import duckdb
from pyspark.sql import SparkSession

from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
from data_etl_pipeline_spark.tables import TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    return con


def _norm(v: Any) -> Any:
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # datetime/date; strip tz for comparison
        return v.replace(tzinfo=None).isoformat() if getattr(v, "tzinfo", None) else v.isoformat()
    return v


def _canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    return sorted(out, key=repr)


def compare_query(spark: SparkSession, con: duckdb.DuckDBPyConnection, name: str, sf_dir: str) -> dict:
    _ensure_loaded()
    spec = QUERIES[name]
    # Run the DuckDB side on a worker thread so the two engines overlap:
    # the heavy oracles (the LSH replays burn ~30 s of single-threaded
    # list_reduce) no longer serialize behind the Spark side. A DuckDB
    # connection is not thread-safe, so the worker gets its own cursor
    # (same database, same views), closed once the worker is done.
    cur = con.cursor()
    duck: dict[str, Any] = {}

    def _run_duck() -> None:
        try:
            rel = cur.sql(spec.sql)
            duck["cols"] = [c.lower() for c in rel.columns]
            duck["rows"] = rel.fetchall()
        except BaseException as e:  # re-raised on the caller thread
            duck["err"] = e

    t = threading.Thread(target=_run_duck, daemon=True)
    t.start()
    try:
        sdf = spec.fn(spark, sf_dir)
        s_cols = [c.lower() for c in sdf.columns]
        s_rows = [tuple(r) for r in sdf.collect()]
    finally:
        t.join()
        cur.close()
    result: dict[str, Any] = {"name": name, "spark_rows": len(s_rows)}
    if "err" in duck:
        raise duck["err"]
    d_cols = duck["cols"]
    d_rows = duck["rows"]
    result["oracle_rows"] = len(d_rows)
    if sorted(s_cols) != sorted(d_cols):
        result.update(status="schema_mismatch", ok=False, spark_cols=s_cols, oracle_cols=d_cols)
        return result
    if len(s_rows) != len(d_rows):
        result.update(status="rowcount_mismatch", ok=False)
        return result
    sc = _canon(s_rows, s_cols)
    dc = _canon(d_rows, d_cols)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
        result.update(status="value_mismatch", ok=False, first_diffs=diffs)
        return result
    result.update(status="match", ok=True)
    return result


def compare_all(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> list[dict]:
    _ensure_loaded()
    con = duckdb_connection(sf_dir)
    results = []
    for name in names or sorted(QUERIES):
        try:
            results.append(compare_query(spark, con, name, sf_dir))
        except Exception as exc:  # surface per-query errors without aborting the sweep
            results.append({"name": name, "status": "error", "ok": False, "error": f"{type(exc).__name__}: {exc}"[:500]})
    return results
