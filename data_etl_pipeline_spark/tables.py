"""Table catalog over the driver-generated parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under a sf dir.
Every frame the engine builds from driver-side rows (file maps, metadata
tables, sentinels, vocabularies, collected results) comes from
``local_frame``.
"""

from __future__ import annotations

import os
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = {"region", "nation", "supplier", "part"}


def spread(df: DataFrame, parts: int | None = None) -> DataFrame:
    """Scale-adaptive fan-out for compute-heavy narrow stages that follow a
    scan (guide §2.5 "input skew: one huge unsplittable file ... repartition
    immediately after the read").

    The bench/test inputs are single-file, single-row-group parquet, so a
    scan is ONE task and every narrow operator before the first exchange
    (shingling, hash permutations, LSH sign coding, per-row scoring) runs
    on one core of the cluster. This helper round-robin-repartitions to the
    cluster's default parallelism — but only when the scan actually carries
    fewer partitions than that, decided from the plan's real partition
    count: at production scale a table scan already has >= parallelism
    splits and this is a no-op, so nothing here is tuned to local[32].

    Only worth applying where per-row compute upstream of the first
    exchange clearly exceeds one row-serialization (the repartition's own
    shuffle write is paid by the single scan task either way); byte-heavy /
    compute-light paths keep the plain scan.

    The fan-out only holds while the heavy expressions stay above the
    exchange. An ``explode`` lets the optimizer infer a ``size(arr) > 0``
    filter and push it, expression and all, below the exchange, where it
    runs on the scan's task (explode arrays that are non-empty by
    construction with ``explode_outer``). ``test_query_matches_oracle``
    pins this for every query: no Filter holding a lambda function sits
    below a round-robin exchange.
    """
    sc = df.sparkSession.sparkContext
    target = parts or sc.defaultParallelism
    # df.rdd.getNumPartitions() is a driver-side plan->RDD conversion that
    # reads the PRE-AQE partition count — exactly what we want here (the
    # question is "how many splits does the scan carry", and AQE only
    # re-coalesces exchanges downstream), but it is a per-call driver cost
    # and would misreport for exotic sources whose partitioning is only
    # known at runtime. Every current call site sits directly on a parquet
    # scan or a just-built projection of one, where the static count IS
    # the scan's split count.
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """One-partition DataFrame of rows the driver holds (tuples or ``Row``s;
    ``schema``: DDL string or ``StructType``; naive datetimes read as UTC).
    The rows travel as one Arrow table into a ``LocalRelation``: running it
    starts no Python worker, and the planner sees its real size. The
    coalesce keeps one partition (one file when written); a bare
    ``LocalTableScan`` splits into min(rows, cores) partitions."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow = to_arrow_schema(schema)
    batch = pa.RecordBatch.from_struct_array(pa.array(rows, pa.struct(arrow)))
    return spark.createDataFrame(pa.Table.from_batches([batch], arrow), schema).coalesce(1)


def _ts_is_nanos(path: str) -> bool:
    """Whether the parquet footer types the file's ``ts`` column as
    TIMESTAMP(NANOS)."""
    schema = pq.read_schema(path)
    if "ts" not in schema.names:
        return False
    t = schema.field("ts").type
    return pa.types.is_timestamp(t) and t.unit == "ns"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Table ``name`` of the fixture under ``sf_dir``.

    The schema Spark infers for a table file costs one Spark job, so it
    is memoized per session: a metadata-only cache, holding schemas and
    never rows. Its key is the file's (path, size, mtime_ns) plus the
    session's parquet-inference confs (``_INFER_CONFS``), so a file
    rewritten in place, or a changed conf, is inferred again."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and _ts_is_nanos(path):
        # Spark 4 rejects parquet TIMESTAMP(NANOS) by default: read nanos
        # as long and floor-convert to a micros timestamp (the truncation
        # DuckDB applies when casting ns -> timestamp). The flag must stay
        # set for the session, since the lazy scan reads it when it runs.
        # Every generated fixture writes TIMESTAMP(MICROS), which needs
        # neither.
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, path)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return _read_parquet(spark, path)


# the confs that change what Spark infers from a parquet footer
_INFER_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
)
_SCHEMAS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema of a file only
    the first time this session reads it under these confs (see
    ``load``). A directory is inferred on every call: its mtime does
    not move when a file inside it is rewritten."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns, *(spark.conf.get(k, None) for k in _INFER_CONFS))
    seen = _SCHEMAS.setdefault(spark, {})
    if key in seen:
        return spark.read.schema(seen[key]).parquet(path)
    df = spark.read.parquet(path)
    seen[key] = df.schema
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form queries can run."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
