"""``tables.load``: the nanosecond ``events.ts`` branch is taken only when
the parquet footer says TIMESTAMP(NANOS), and only then touches the
session conf."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_etl_pipeline_spark.tables import load

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
