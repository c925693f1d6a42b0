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


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, con, sf_dir, name, tmp_path, monkeypatch):
    # Python's temp root is a private, empty directory while the query
    # runs: a scratch table made anywhere but under the session's own
    # root (session.scratch_dir) lands here and outlives the session.
    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    result = compare_query(spark, con, name, sf_dir)
    assert result["ok"], result
    assert not any(tmp_root.iterdir()), sorted(p.name for p in tmp_root.iterdir())


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns[0] == "l_returnflag"
    assert set(e.oracle_sql()) <= set(e.queries())
