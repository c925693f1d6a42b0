"""``tables.load``: the nanosecond ``events.ts`` branch is taken only when
the parquet footer says TIMESTAMP(NANOS), and only then touches the
session conf; a file's schema is inferred once per session until the
file or an inference conf changes. ``tables.local_frame``: the same rows and schema as
``createDataFrame(rows, schema)`` for every type a driver-built frame
carries, as one partition of a ``LocalRelation``."""

from __future__ import annotations

import ast
import datetime
import decimal
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_etl_pipeline_spark.tables import load, local_frame

NANOS_FLAG = "spark.sql.legacy.parquet.nanosAsLong"
TS_NS = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999, 5]


def _write_events(path, unit: str) -> None:
    ts = pa.array([v if unit == "ns" else v // 1000 for v in TS_NS], pa.timestamp(unit))
    pq.write_table(pa.table({"event_id": pa.array([1, 2, 3], pa.int64()), "ts": ts}), path)


def _micros(df) -> list[int]:
    # a TIMESTAMP(MICROS) footer reads as TIMESTAMP_NTZ (inferTimestampNTZ);
    # under the UTC session zone the cast keeps the micros unchanged
    return sorted(r.us for r in df.select(F.unix_micros(F.col("ts").cast("timestamp")).alias("us")).collect())


def test_nanos_footer_floors_to_micros_in_its_own_session(spark, tmp_path):
    _write_events(tmp_path / "events.parquet", "ns")
    child = spark.newSession()  # the flag is session-wide; keep it off the suite's
    assert _micros(load(child, str(tmp_path), "events")) == sorted(v // 1000 for v in TS_NS)
    assert child.conf.get(NANOS_FLAG, None) == "true"


def test_micros_footer_leaves_the_conf_alone(spark, tmp_path):
    _write_events(tmp_path / "events.parquet", "us")
    child = spark.newSession()
    assert _micros(load(child, str(tmp_path), "events")) == sorted(v // 1000 for v in TS_NS)
    assert child.conf.get(NANOS_FLAG, None) is None


# --- load: the inferred schema is memoized per session, keyed by file ---


def _jobs_run(spark, fn):
    """(``fn()``, the number of Spark jobs submitted while it ran)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - first


def test_load_infers_a_file_once_until_it_changes(spark, tmp_path):
    import os

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([1, 2], pa.int64())}), path)
    child = spark.newSession()  # a fresh memo, kept off the suite's session

    def columns():
        return load(child, str(tmp_path), "region").columns

    assert _jobs_run(child, columns) == (["r_regionkey"], 1)
    assert _jobs_run(child, columns) == (["r_regionkey"], 0)
    # rewritten in place with a new size: inferred again
    pq.write_table(pa.table({"r_regionkey": pa.array([1], pa.int64()), "r_name": ["x"]}), path)
    assert _jobs_run(child, columns) == (["r_regionkey", "r_name"], 1)
    # same size, new mtime: inferred again
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _jobs_run(child, columns) == (["r_regionkey", "r_name"], 1)
    assert _jobs_run(child, columns) == (["r_regionkey", "r_name"], 0)


def test_load_infers_again_under_a_changed_inference_conf(spark, tmp_path):
    from data_etl_pipeline_spark.session import conf_scope

    pq.write_table(pa.table({"n_name": pa.array([b"x"], pa.binary())}), tmp_path / "nation.parquet")
    child = spark.newSession()

    def name_type():
        return load(child, str(tmp_path), "nation").schema["n_name"].dataType

    assert _jobs_run(child, name_type) == (T.BinaryType(), 1)
    with conf_scope(child, {"spark.sql.parquet.binaryAsString": "true"}):
        assert _jobs_run(child, name_type) == (T.StringType(), 1)
        assert _jobs_run(child, name_type) == (T.StringType(), 0)
    assert _jobs_run(child, name_type) == (T.BinaryType(), 0)


# --- local_frame: a driver-side row list as a one-partition LocalRelation ---

ADD_STRUCT = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
    ]
)
TS = datetime.datetime(2024, 2, 29, 23, 59, 58, 123456)
SCALARS = (
    "i long, n int, x double, s string, b boolean, ts timestamp, "
    "ntz timestamp_ntz, d date, dec decimal(12,3)"
)
SCALAR_ROWS = [
    (1, 2, 0.5, "a", True, TS, TS, datetime.date(2024, 2, 29), decimal.Decimal("123456789.125")),
    (None, None, None, None, None, None, None, None, None),
    Row(i=-3, n=0, x=-1e300, s="", b=False, ts=datetime.datetime(1970, 1, 1), ntz=None,
        d=datetime.date(1, 1, 1), dec=decimal.Decimal("-0.001")),
]
NESTED = T.StructType(
    [
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("add", ADD_STRUCT),
        T.StructField("meta", T.StructType([T.StructField("id", T.StringType()),
                                            T.StructField("cols", T.ArrayType(T.LongType()))])),
    ]
)
NESTED_ROWS = [
    (["p", None], ("f0.parquet", {"k": "v", "e": None}, 10, 1_700_000_000_000, True), ("m", [1, 2])),
    ([], ("f1.parquet", {}, 0, 0, False), (None, None)),
    (None, None, None),
]
CASES = {
    "scalars-ddl": (SCALAR_ROWS, SCALARS),
    "scalars-empty": ([], SCALARS),
    "nested-structtype": (NESTED_ROWS, NESTED),
    "nested-empty": ([], NESTED),
    "checkpoint-add": ([(None,), (("s.parquet", {"d": "2024"}, 3, 4, True),)],
                       T.StructType([T.StructField("add", ADD_STRUCT)])),
    "one-column-ddl": ([("x",), ("y",)], "label string"),
}


@pytest.mark.parametrize("rows,schema", CASES.values(), ids=CASES.keys())
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    ref = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert got.schema == ref.schema
    assert got.collect() == ref.collect()


@pytest.mark.parametrize("rows,schema", CASES.values(), ids=CASES.keys())
def test_local_frame_is_one_partition_of_a_local_relation(spark, rows, schema):
    df = local_frame(spark, rows, schema)
    assert df.rdd.getNumPartitions() == 1
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # at most the one-partition coalesce above the literal rows; no RDD scan
    assert plan.splitlines()[-1].lstrip("+- ").startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_local_frame_keeps_field_metadata(spark):
    schema = T.StructType([T.StructField("k", T.LongType(), True, {"parquet.field.id": 7})])
    assert local_frame(spark, [(1,)], schema).schema == schema


def _frame_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("createDataFrame", "parallelize")
    ]


def test_driver_built_frames_go_through_local_frame():
    # any other createDataFrame(rows) / parallelize builds an RDD scan that
    # runs a Python worker per slice every time the frame executes
    pkg = Path(__file__).resolve().parent.parent / "data_etl_pipeline_spark"
    stray = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == pkg / "tables.py":
            (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame"]
            allowed = {id(c) for c in _frame_calls(fn)}
            assert len(allowed) == 1
        stray += [f"{path.relative_to(pkg)}:{c.lineno}" for c in _frame_calls(tree) if id(c) not in allowed]
    assert stray == []
