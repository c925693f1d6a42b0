"""Every declared query must match its DuckDB oracle (the driver's gate)."""

from __future__ import annotations

import dataclasses
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


def _nodes(tree):
    """A JVM plan or expression tree, node by node (pre-order)."""
    yield tree
    children = tree.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def _lambda_filters_below_round_robin(df) -> list[str]:
    """The conditions of every Filter holding a lambda function that sits
    below a round-robin exchange of the physical plan. ``spread()``'s
    exchange exists to fan the heavy per-row work out: a lambda (a
    shingle, a hash transform) filtered below it runs on the scan's one
    task, and again above it."""
    found = []
    for node in _nodes(df._jdf.queryExecution().sparkPlan()):
        if node.nodeName() != "Exchange" or (
            node.outputPartitioning().getClass().getSimpleName() != "RoundRobinPartitioning"
        ):
            continue
        for below in _nodes(node):
            if below.nodeName() == "Filter" and any(
                e.getClass().getSimpleName() == "LambdaFunction" for e in _nodes(below.condition())
            ):
                found.append(below.condition().toString())
    return found


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
    spec = QUERIES[name]
    built = []

    def build(spark, sf_dir):
        built.append(spec.fn(spark, sf_dir))
        return built[0]

    monkeypatch.setitem(QUERIES, name, dataclasses.replace(spec, fn=build))
    result = compare_query(spark, con, name, sf_dir)
    assert result["ok"], result
    # spread()'s contract: no lambda is filtered below its exchange
    assert not _lambda_filters_below_round_robin(built[0])
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
