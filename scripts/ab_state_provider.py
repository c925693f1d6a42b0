#!/usr/bin/env python
"""State-store provider A/B at realistic state size (VERDICT r12 item 6).

Replays a streaming dropDuplicates over N_KEYS distinct bigint keys split
across BATCHES parquet files (maxFilesPerTrigger=1 -> one micro-batch per
file), once per provider (HDFS-backed heap store vs RocksDB), and reports
per-trigger durations plus the state operator's commit metrics from the
StreamingQueryProgress. 2M keys is the sf1-equivalent state for the
events-dedup fixture family (sf0.1 events ~200k rows).

Usage: python scripts/ab_state_provider.py [n_keys] [batches]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from data_etl_pipeline_spark.session import conf_scope, get_spark
from data_etl_pipeline_spark.streaming.windows import ROCKSDB_STATE_STORE


def run(provider: str, src: str, n_batches: int) -> dict:
    spark = get_spark(f"state-ab-{provider}")
    sink = tempfile.mkdtemp(prefix=f"state_ab_sink_{provider}_")
    stream = (
        spark.readStream.schema("k long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .dropDuplicates(["k"])
    )
    progress = []

    def write_epoch(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    # the provider is read at stream start; the heap store is the default
    with conf_scope(spark, ROCKSDB_STATE_STORE if provider == "rocksdb" else {}):
        q = stream.writeStream.outputMode("append").foreachBatch(write_epoch).start()
        try:
            q.processAllAvailable()
            progress = [json.loads(str(p)) for p in q.recentProgress]
        finally:
            q.stop()
    spark.stop()
    out = {"provider": provider, "batches": []}
    for p in progress:
        so = (p.get("stateOperators") or [{}])[0]
        out["batches"].append(
            {
                "batchId": p.get("batchId"),
                "batchDurationMs": p.get("batchDuration"),
                "addBatchMs": (p.get("durationMs") or {}).get("addBatch"),
                "commitOffsetsMs": (p.get("durationMs") or {}).get("commitOffsets"),
                "stateCommitMs": so.get("commitTimeMs"),
                "stateRows": so.get("numRowsTotal"),
                "stateMemUsedBytes": so.get("memoryUsedBytes"),
            }
        )
    return out


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("state-ab-fixture")
    src = tempfile.mkdtemp(prefix="state_ab_src_")
    per = n_keys // n_batches
    for i in range(n_batches):
        (
            spark.range(i * per, (i + 1) * per)
            .select(F.col("id").alias("k"))
            .repartition(1)
            .write.mode("append")
            .parquet(src)
        )
    # pin increasing mtimes so (mtime, path) batch order is stable
    files = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    for i, f in enumerate(files):
        os.utime(os.path.join(src, f), (1_600_000_000 + i * 10,) * 2)
    spark.stop()
    results = [run("hdfs", src, n_batches), run("rocksdb", src, n_batches)]
    print(json.dumps({"n_keys": n_keys, "n_batches": n_batches, "runs": results}))


if __name__ == "__main__":
    main()
