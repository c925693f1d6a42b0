"""The deferred-LLM pipeline under Structured Streaming — the reference's
queue-driven bot loop (new_extract_queue_bot.py:136-208 / SURVEY ST1-ST3)
end to end:

  * documents arrive in micro-batches (overlapping slices, so the same
    doc can be re-delivered — the at-least-once queue semantics);
  * each batch chunks its documents, anti-joins the wanted requests
    against the persisted state table and creates ONLY the missing ones
    (ST3 incremental discovery, X4);
  * the stub LLM answers the new requests and the state table is
    appended idempotently (ST2 — custom_id dedup on read = MERGE
    semantics without Delta);
  * after the stream drains, reconciliation over the state table yields
    byte-identical results to the batch pass (oracle-checked).

State lives in a parquet directory per run; on a real deployment it is
the Delta `llm_requests` table and the append+dedup becomes MERGE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_etl_pipeline_spark.etl import deferred
from data_etl_pipeline_spark.operators.chunker import chunk_even_chars
from data_etl_pipeline_spark.session import scratch_dir
from data_etl_pipeline_spark.tables import load


def _overlapping_parts(docs: DataFrame, out_dir: str, n_parts: int = 3) -> None:
    """Write n overlapping doc slices as separate parquet files: slice i
    covers [i/n - 10%, (i+1)/n] of the id range, so consecutive batches
    re-deliver ~10% of the previous one."""
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    span = (hi - lo + 1) if hi is not None else 1
    for i in range(n_parts):
        start = lo + max(0, int(span * (i / n_parts - 0.1)))
        end = lo + int(span * (i + 1) / n_parts)
        part = docs.where((F.col("doc_id") >= start) & (F.col("doc_id") < end + 1))
        part.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/part_{i}")


def run_stream_extraction(spark: SparkSession, sf_dir: str, n_parts: int = 3) -> DataFrame:
    """Stream overlapping document slices through the deferred state
    machine; return the reconciled (entity, field, results) table."""
    docs = load(spark, sf_dir, "documents")
    run_dir = scratch_dir(spark, "deferred_stream_")
    src_dir = f"{run_dir}/src"
    state_dir = f"{run_dir}/state"
    _overlapping_parts(docs, src_dir, n_parts)

    # seed the state dir with an empty, correctly-typed state table
    empty = deferred.build_requests(
        chunk_even_chars(docs.limit(0), size=200, overlap=50)
    ).withColumn("response", F.lit(None).cast("string"))
    empty.write.mode("overwrite").parquet(state_dir)

    def process_batch(batch_docs: DataFrame, epoch_id: int) -> None:
        state = batch_docs.sparkSession.read.parquet(state_dir).dropDuplicates(["custom_id"])
        wanted = deferred.build_requests(chunk_even_chars(batch_docs, size=200, overlap=50))
        todo = deferred.missing_requests(wanted, state)  # ST3: only missing
        answered = todo.join(deferred.llm_stub_responses(todo), "custom_id").select(
            *[c for c in state.columns if c != "response"], "response"
        )
        answered.write.mode("append").parquet(state_dir)

    stream = (
        spark.readStream.schema(spark.read.parquet(f"{src_dir}/part_0").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src_dir}/part_*")
    )
    q = stream.writeStream.foreachBatch(process_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    final_state = spark.read.parquet(state_dir).dropDuplicates(["custom_id"])
    completed = final_state.where(F.col("response").isNotNull())
    return deferred.reconcile(completed).select(
        "entity", "field", F.array_join("results", ",").alias("results")
    )
