"""State-store reader (statestore_reader_audit): per-batch time travel.

The declared query audits the FINAL state; this test pins the
``batchId`` option — state as of an earlier micro-batch — by feeding
three DISJOINT id slices and asserting the keyed dedup state grows
slice by slice. This is the offline backfill-debugging surface: "what
did the operator know after batch N?" without replaying the stream.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_statestore_batchid_time_travel(spark, tmp_path_factory):
    ids = list(range(100))
    from data_etl_pipeline_spark.tables import local_frame

    df = local_frame(spark, [(i,) for i in ids], "k long")
    src = str(tmp_path_factory.mktemp("ss_tt_src"))
    seen: set[str] = set()
    for m in range(3):  # three disjoint slices -> three micro-batches
        df.where(F.col("k") % 3 == m).write.mode("append").parquet(src)
        # FileStreamSource orders files by (mtime, path); pin strictly
        # increasing mtimes so the slice->batch mapping never depends on
        # filesystem timestamp granularity (same trick as
        # streaming/stateful.py::_ts_ordered_batch_dir)
        new = [f for f in os.listdir(src) if f.endswith(".parquet") and f not in seen]
        assert len(new) == 1, new
        os.utime(os.path.join(src, new[0]), (1_600_000_000 + m * 10,) * 2)
        seen.update(new)

    ckpt = str(tmp_path_factory.mktemp("ss_tt_ckpt"))
    sink = str(tmp_path_factory.mktemp("ss_tt_sink"))
    q = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .dropDuplicates(["k"])
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def state_keys(batch_id: int) -> set[int]:
        return {
            r["k"]
            for r in spark.read.format("statestore")
            .option("batchId", batch_id)
            .load(ckpt)
            .select(F.col("key.k").alias("k"))
            .collect()
        }

    expect = [
        {i for i in ids if i % 3 == 0},
        {i for i in ids if i % 3 in (0, 1)},
        set(ids),
    ]
    for b, want in enumerate(expect):
        assert state_keys(b) == want, f"batch {b}"

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1
    assert (meta[0]["minBatchId"], meta[0]["maxBatchId"]) == (0, 2)
