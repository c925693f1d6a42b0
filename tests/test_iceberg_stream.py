"""Streaming Iceberg tail source (sources/iceberg_stream.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_etl_pipeline_spark.sources.iceberg import (
    IcebergError,
    append_iceberg,
    compact_iceberg,
    export_iceberg,
)
from data_etl_pipeline_spark.sources.iceberg_stream import register


def _mk_table(spark, d, hi=20):
    src = spark.range(0, hi).selectExpr(
        "id AS k", "CAST(id * 1.5 AS DOUBLE) AS v", "CAST(id % 3 AS STRING) AS s"
    )
    export_iceberg(src.where("k < 10"), d, n_files=2, range_by="k")
    return src


def _drain(spark, d, sink):
    stream = spark.readStream.format("iceberg_tail").option("path", d).load()

    def write_epoch(batch_df, epoch_id):
        if batch_df.take(1):
            batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    return stream.writeStream.outputMode("append").foreachBatch(write_epoch).start()


def test_two_waves_ride_separate_epochs(spark, tmp_path):
    d = str(tmp_path / "t")
    src = _mk_table(spark, d)
    register(spark)
    sink = str(tmp_path / "sink")
    q = _drain(spark, d, sink)
    try:
        q.processAllAvailable()
        append_iceberg(src.where("k >= 10"), d, n_files=2, range_by="k")
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    assert got.count() == 20
    # the second snapshot landed in a LATER epoch (offset tracking works)
    epochs = sorted(r.epoch for r in got.select("epoch").distinct().collect())
    assert len(epochs) >= 2
    first_ids = {
        r._commit_snapshot
        for r in got.where(F.col("epoch") == epochs[0])
        .select("_commit_snapshot").distinct().collect()
    }
    assert first_ids == {1}
    # content equality with the batch source
    assert (
        got.select("k", "v", "s").exceptAll(
            spark.range(0, 20).selectExpr(
                "id AS k", "CAST(id * 1.5 AS DOUBLE) AS v", "CAST(id % 3 AS STRING) AS s"
            )
        ).count()
        == 0
    )


def test_restarted_stream_resumes_from_checkpoint(spark, tmp_path):
    d = str(tmp_path / "t")
    src = _mk_table(spark, d)
    register(spark)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.format("iceberg_tail").option("path", d).load()
        )

        def write_epoch(batch_df, epoch_id):
            if batch_df.take(1):
                batch_df.write.mode("append").parquet(sink)

        return (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(write_epoch)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    append_iceberg(src.where("k >= 10"), d)
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(sink)
    # no snapshot replayed, none skipped
    assert got.count() == 20
    assert got.select("k").distinct().count() == 20


def test_replace_snapshot_refuses(spark, tmp_path):
    d = str(tmp_path / "t")
    src = _mk_table(spark, d)
    append_iceberg(src.where("k >= 10"), d)
    compact_iceberg(spark, d)  # replace snapshot in the tail range
    register(spark)
    sink = str(tmp_path / "sink")
    q = _drain(spark, d, sink)
    try:
        with pytest.raises(Exception, match="append-only|replace"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_unpublished_branch_not_streamed(spark, tmp_path):
    d = str(tmp_path / "t")
    src = _mk_table(spark, d)
    append_iceberg(src.where("k >= 10"), d, branch="staging")
    register(spark)
    sink = str(tmp_path / "sink")
    q = _drain(spark, d, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    assert got.count() == 10  # only main's snapshot 1


def test_nested_or_temporal_schema_refuses(spark, tmp_path):
    d = str(tmp_path / "t")
    export_iceberg(
        spark.sql("SELECT 1 AS k, TIMESTAMP'2024-01-01' AS ts"), d
    )
    register(spark)
    with pytest.raises(Exception, match="streaming tail source supports"):
        spark.readStream.format("iceberg_tail").option("path", d).load().schema
