"""Table catalog over the driver-generated parquet star schema.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under a sf dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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


def one_slice_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Single-partition DataFrame from a small driver-side row list.

    ``createDataFrame(rows)`` parallelizes into defaultParallelism pickled
    slices; a later ``coalesce(1)`` (the usual next step for tiny metadata
    /sentinel writes) then drains ALL of them sequentially through one
    task's Python-worker round-trips (~150 ms each — measured ~5 s per
    tiny checkpoint/sidecar/sentinel write at 32 cores). Parallelizing
    into ONE slice up front is one worker round-trip: same rows, same
    single output file, ~12x faster. Only for driver-built frames that
    are bounded by file/sentinel count, never data rows."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def _ts_is_nanos(path: str) -> bool:
    """Whether the parquet footer types the file's ``ts`` column as
    TIMESTAMP(NANOS)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    if "ts" not in schema.names:
        return False
    t = schema.field("ts").type
    return pa.types.is_timestamp(t) and t.unit == "ns"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
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
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form queries can run."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
