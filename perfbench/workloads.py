"""The benchmark's three workloads and their correctness oracle.

A workload runs in passes. ``run_pass(ctx, check)`` executes every
operation of one pass through ``ctx.op``, which counts attempts and
failures and opens the operation's span. With ``check=True`` (the first,
cold pass of a run) query results are collected and compared with the
DuckDB oracle; every other pass writes results to the ``noop`` sink,
as the repository's ``bench.py`` does.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from typing import Any

import duckdb
import pyarrow.parquet as pq

from gen import LAKE_FILES

TEXT_QUERIES = [
    "doc_ngram_jaccard_pairs",
    "doc_chunks_token_aware",
]
PAIR_QUERIES = {"doc_ngram_jaccard_pairs"}
KEY = "o_orderkey"


# ---------------------------------------------------------------- oracle ----

def _norm(v: Any) -> Any:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (a struct value)
        return _norm(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return (v.replace(tzinfo=None) if getattr(v, "tzinfo", None) else v).isoformat()
    return v


def digest(cols: list[str], rows: list) -> dict:
    """Order-insensitive digest of a result: row count, sorted column
    names and a sha256 over the canonical, sorted rows."""
    cols = [c.lower() for c in cols]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()
    return {"rows": len(rows), "cols": sorted(cols), "sha": h}


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
    return con


def oracle_digests(data_dir: str, names: list[str], sql_of) -> dict[str, dict]:
    """DuckDB digests of ``names`` on ``data_dir``, cached beside the
    inputs (the oracle depends on the inputs, never on the engine)."""
    path = os.path.join(data_dir, "oracle.json")
    cached: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    keys = {n: f"{n}:{hashlib.sha256(sql_of(n).encode()).hexdigest()[:16]}" for n in names}
    missing = [n for n in names if keys[n] not in cached]
    if missing:
        con = duck(data_dir)
        for name in missing:
            rel = con.sql(sql_of(name))
            cached[keys[name]] = digest(rel.columns, rel.fetchall())
        con.close()
        with open(path, "w") as f:
            json.dump(cached, f)
    return {n: cached[keys[n]] for n in names}


def lake_oracle(lake_dir: str) -> dict[str, dict]:
    """DuckDB replay of one lakehouse pass: the base table (``base``), the
    table after the recent-keys upsert (``recent``: the versioned table's
    version 1 and Iceberg's final state), and Delta's change feed of the
    uniform-keys upsert (``change_feed``). ``user_bytes`` is the size of
    the three final states written once each as plain parquet: what
    storage amplification is measured against."""
    with open(__file__, "rb") as f:  # the replay below is part of this file
        path = os.path.join(lake_dir, f"lake_oracle-{hashlib.sha256(f.read()).hexdigest()[:12]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duck(lake_dir)

    def dig(sql: str) -> dict:
        rel = con.sql(sql)
        return digest(rel.columns, rel.fetchall())

    for batch in ("uniform", "recent"):
        con.execute(f"CREATE TABLE {batch} AS SELECT * FROM orders WHERE {KEY} NOT IN "
                    f"(SELECT {KEY} FROM batch_{batch}) UNION ALL SELECT * FROM batch_{batch}")
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    out = {"base": dig("SELECT * FROM orders"), "recent": dig("SELECT * FROM recent")}
    out["change_feed"] = dig(f"""
        SELECT {cols}, 'update_preimage' AS _change_type, 1 AS _commit_version FROM orders
            WHERE {KEY} IN (SELECT {KEY} FROM batch_uniform)
        UNION ALL SELECT {cols}, 'update_postimage', 1 FROM batch_uniform
            WHERE {KEY} IN (SELECT {KEY} FROM orders)
        UNION ALL SELECT {cols}, 'insert', 1 FROM batch_uniform
            WHERE {KEY} NOT IN (SELECT {KEY} FROM orders)""")
    out["user_bytes"] = 0
    for name, copies in (("uniform", 1), ("recent", 2)):
        ref = os.path.join(lake_dir, f"{name}_ref.parquet")
        con.execute(f"COPY {name} TO '{ref}' (FORMAT PARQUET)")
        out["user_bytes"] += copies * os.path.getsize(ref)
        os.remove(ref)
    con.close()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


# ------------------------------------------------------------- workloads ----

class QueryWorkload:
    """A fixed list of registry queries, run in a seed-fixed order."""

    def __init__(self, queries: list[str], data_dir: str, seed: int):
        import random

        self.data_dir = data_dir
        self.queries = list(queries)
        random.Random(seed).shuffle(self.queries)
        self.expected: dict[str, dict] = {}
        self.pairs_out: dict[str, int] = {}

    def prepare(self, ctx) -> None:
        from data_etl_pipeline_spark.plans.registry import QUERIES

        self.expected = oracle_digests(self.data_dir, self.queries, lambda n: QUERIES[n].sql)

    def run_pass(self, ctx, check: bool) -> None:
        for name in self.queries:
            got = ctx.query(name, self.data_dir, collect=check)
            if check and got is not None:
                if name in PAIR_QUERIES:
                    self.pairs_out[name] = got["rows"]
                ctx.verify(name, got, self.expected[name])


class LakehouseWorkload:
    """Writes beside reads through the three commit protocols, against
    fresh table directories. Each protocol creates the range-clustered
    base table and takes one upsert: Delta the uniform-keys batch (every
    file rewritten: file skipping bypassed), the versioned table and
    Iceberg the recent-keys batch (one file rewritten by the versioned
    table: file skipping works; Iceberg rewrites none). Reads: the
    versioned table at version 0 (time travel) and, after a vacuum, at
    its latest version; Delta through its change feed; Iceberg after
    snapshot expiry."""

    def __init__(self, data_dir: str, tables_root: str):
        self.data_dir = data_dir
        self.tables_root = tables_root
        self.expected: dict = {}
        self.stored_bytes: list[int] = []
        self.written_bytes: list[int] = []
        self.files_rewritten: dict[str, list[int]] = {"uniform": [], "recent": []}

    def prepare(self, ctx) -> None:
        self.expected = lake_oracle(self.data_dir)
        keys = pq.read_table(os.path.join(self.data_dir, "batch_recent.parquet"), columns=[KEY]).column(0)
        self.key_list = ",".join(str(k) for k in keys.to_pylist())

    def run_pass(self, ctx, check: bool) -> None:
        from data_etl_pipeline_spark.sources import delta_export as dx
        from data_etl_pipeline_spark.sources import iceberg as ice
        from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
        from data_etl_pipeline_spark.sources.versioned import VersionedTable
        from data_etl_pipeline_spark.tables import load

        spark = ctx.spark
        root = os.path.join(self.tables_root, f"pass{ctx.pass_no}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        base = load(spark, self.data_dir, "orders")
        uniform, recent = (spark.read.parquet(os.path.join(self.data_dir, f"batch_{b}.parquet"))
                           for b in ("uniform", "recent"))
        written: dict[str, int] = {}
        op = ctx.op

        def sweep(path: str) -> None:
            for dirpath, _, files in os.walk(path):
                for fn in files:
                    p = os.path.join(dirpath, fn)
                    written[p] = os.path.getsize(p)

        def read_check(proto: str, what: str, df_fn, drop=()) -> None:
            def run():
                df = df_fn().drop(*drop)
                if check:
                    return ctx.collect_digest(df)
                ctx.noop(df)
            got = op(f"sources.{proto}.read", run)
            if check and got is not None:
                ctx.verify(f"{proto}.{what}", got, self.expected[what])

        # ---- versioned table: copy-on-write merge, own log ---------------
        vpath = os.path.join(root, "versioned")
        vt = VersionedTable(spark, vpath)
        op("sources.versioned.create", lambda: vt.write(base, cluster_by=[KEY], n_files=LAKE_FILES))
        before = _paths(vt)
        op("sources.versioned.merge", lambda: vt.merge(recent, keys=[KEY]))
        rewritten = {"recent": len(before - _paths(vt))}
        read_check("versioned", "base", lambda: vt.read(version=0))
        sweep(vpath)
        op("sources.versioned.vacuum", lambda: vt.vacuum(keep_versions=1))
        read_check("versioned", "recent", lambda: vt.read())

        # ---- Delta: copy-on-write merge with the change feed on ---------
        dpath = os.path.join(root, "delta")
        op("sources.delta_export.create",
           lambda: dx.export_delta(base.repartitionByRange(LAKE_FILES, KEY), dpath, cdf=True))
        res = op("sources.delta_export.merge", lambda: dx.export_delta_merge(spark, uniform, dpath, keys=[KEY]))
        rewritten["uniform"] = (res or {}).get("removed_files", 0)
        sweep(dpath)
        read_check("delta_export", "change_feed", lambda: DeltaLogReader(spark, dpath).table_changes(1),
                   drop=("_commit_timestamp",))

        # ---- Iceberg: merge-on-read upsert (equality delete + append) ---
        ipath = os.path.join(root, "iceberg")
        op("sources.iceberg.create", lambda: ice.export_iceberg(base, ipath, n_files=LAKE_FILES, range_by=KEY))

        def upsert():
            ice.delete_rows_iceberg(spark, ipath, f"{KEY} IN ({self.key_list})", equality_by=[KEY])
            return ice.append_iceberg(recent, ipath)
        op("sources.iceberg.merge", upsert)
        sweep(ipath)
        op("sources.iceberg.vacuum", lambda: ice.expire_snapshots_iceberg(ipath, keep_last=1))
        read_check("iceberg", "recent", lambda: ice.IcebergTable(spark, ipath).read())

        for name, count in rewritten.items():
            self.files_rewritten[name].append(count)
        self.written_bytes.append(sum(written.values()))
        self.stored_bytes.append(sum(
            os.path.getsize(os.path.join(d, f))
            for p in (vpath, dpath, ipath) for d, _, fs in os.walk(p) for f in fs
        ))
        shutil.rmtree(root, ignore_errors=True)


def _paths(vt) -> set[str]:
    """Data files of a versioned table's latest snapshot."""
    return {f["path"] for f in vt._manifest()["files"]} if vt.latest_version() is not None else set()
