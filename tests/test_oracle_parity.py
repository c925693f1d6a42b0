"""Every declared query must match its DuckDB oracle (the driver's gate)."""

from __future__ import annotations

import tempfile

import pytest

from data_etl_pipeline_spark.oracle import compare_query, duckdb_connection
from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded

_ensure_loaded()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_connection(sf_dir)
    yield c
    c.close()


def _catalog_tables(spark) -> set[str]:
    # the names spark.catalog.listTables() gives (tables and temp views of
    # the current database), without its per-table metadata lookups
    return {r.tableName for r in spark.sql("SHOW TABLES").collect()}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, sf_dir, name, tmp_path, monkeypatch):
    # Python's temp root is a private, empty directory while the query
    # runs: a scratch table made anywhere but under the session's own
    # root (session.scratch_dir) lands here and outlives the session.
    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    # A query leaves the session as it found it: every conf it changes
    # goes back (session.conf_scope), and every table, temp view or
    # memory sink it registers is dropped again.
    conf_before = dict(spark.conf.getAll)
    tables_before = _catalog_tables(spark)
    result = compare_query(spark, con, name, sf_dir)
    assert result["ok"], result
    assert not any(tmp_root.iterdir()), sorted(p.name for p in tmp_root.iterdir())
    conf_after = dict(spark.conf.getAll)
    assert conf_after == conf_before, {
        k: (conf_before.get(k), conf_after.get(k))
        for k in conf_before.keys() | conf_after.keys()
        if conf_before.get(k) != conf_after.get(k)
    }
    tables_after = _catalog_tables(spark)
    assert tables_after == tables_before, sorted(tables_after ^ tables_before)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "l_returnflag"
    assert set(e.oracle_sql()) <= set(e.queries())
