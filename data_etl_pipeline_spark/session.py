"""SparkSession factory.

Local test/bench runs use local[$SPARK_GRAFT_CPUS]; the same config block
is what we would ship to a real cluster (AQE on, skew-join handling on,
UTC session timezone so results are comparable across engines).

Every scratch table a query builds lives under the session's own root
(``scratch_dir``), so it is removed when the session stops. A query that
needs a different SQL conf for part of its work changes it through
``conf_scope``, so the session's conf is the same after the query as
before it.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

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


@contextmanager
def conf_scope(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set SQL confs for the duration of a block, then put back what was there.

    On exit every key gets its old value again, and a key that was absent
    before is unset (not set to its default), so ``spark.conf.getAll`` is
    the same after the block as before it. Scopes nest. A lazy frame
    runs under the conf in force when it executes, so whatever must see
    the scoped confs is executed inside the block.
    """
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
