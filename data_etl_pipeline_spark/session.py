"""SparkSession factory.

Local test/bench runs use local[$SPARK_GRAFT_CPUS]; the same config block
is what we would ship to a real cluster (AQE on, skew-join handling on,
UTC session timezone so results are comparable across engines).

Every scratch table a query builds lives under the session's own root
(``scratch_dir``), so it is removed when the session stops.
"""

from __future__ import annotations

import os
import tempfile

from pyspark import SparkFiles
from pyspark.sql import SparkSession


def get_spark(app_name: str = "data_etl_pipeline_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions sized to cores for local mode; on a real cluster
        # AQE coalescing makes the initial number far less sensitive.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin parquet timestamp inference so semantics cannot flip with the
        # runtime's default: tz-less parquet timestamps read as TIMESTAMP_NTZ
        # (matching DuckDB's naive timestamps in the oracle). Every query is
        # NTZ-proof regardless (timestampdiff instead of double casts;
        # streaming casts to TIMESTAMP at the watermark boundary only).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source API (Spark 4): let custom sources implementing
        # pushFilters() prune at the source (sources/pysource.py skips whole
        # shard files). Only affects Python data sources; off by default in
        # 4.1 purely for rollout caution.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh, empty directory for one scratch table of a query.

    It sits under the driver's SparkFiles root, which Spark creates per
    SparkContext under ``spark.local.dir`` / ``SPARK_LOCAL_DIRS`` and
    deletes on ``SparkContext.stop()`` (and at JVM exit). The directory
    therefore outlives the query's lazy DataFrame, which still reads it,
    and dies with ``spark``, the one live session of this driver.
    Driver-local, like the tables a query writes.
    """
    return tempfile.mkdtemp(prefix=prefix, dir=SparkFiles.getRootDirectory())
