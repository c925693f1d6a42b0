"""JSONL exchange-file sink/source (SURVEY S9/S10/S11).

The reference ships LLM batch requests as JSONL files bin-packed under hard
caps — max requests, max tokens, max bytes per file
(batch_jsonl_file_writer.py:96-197; caps at batch_file_station.py:57-68) —
and harvests result JSONL keyed by custom_id, tracking ids that never came
back.

Spark-first: greedy packing is inherently sequential *within a file*, so we
parallelize across partitions — each input partition packs greedily into
its own file sequence (applyInPandas), which preserves the caps exactly and
scales linearly. The file id becomes "{partition:05d}-{seq:05d}".
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PACK_SCHEMA = "custom_id string, file_id string"


def assign_files(
    requests: DataFrame,
    max_requests: int = 50_000,
    max_tokens: int = 6_000_000,
    max_bytes: int = 190 * 1024 * 1024,
    n_partitions: int | None = None,
) -> DataFrame:
    """Assign each request a file_id under per-file caps.

    Greedy first-fit in custom_id order within each hash partition; a
    request that alone exceeds a cap still gets its own file (the
    reference's per-item atomicity attempt). Returns (custom_id, file_id).
    """
    df = requests.select(
        "custom_id",
        "num_tokens",
        # byte cap must be charged against the EXACT line the sink writes
        # (same to_json serialization + the newline), not a python-side
        # re-serialization with different spacing/nesting — otherwise a
        # file packed to the cap can exceed it on disk. octet_length, not
        # length: the cap is in BYTES and multi-byte UTF-8 content would
        # be under-charged up to ~4x by a character count.
        (
            F.octet_length(
                F.to_json(F.struct("custom_id", F.struct("context").alias("body")))
            )
            + 1
        ).alias("_line_bytes"),
    )
    if n_partitions:
        df = df.repartition(n_partitions, "custom_id")

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        part_tag = None
        seq = 0
        n = tok = byt = 0
        out_ids: list[str] = []
        out_files: list[str] = []
        for pdf in batches:
            if part_tag is None and len(pdf):
                # stable per-partition tag from the first key (partition id
                # itself is not exposed to applyInPandas)
                part_tag = hashlib.md5(str(pdf["custom_id"].iloc[0]).encode()).hexdigest()[:8]
            pdf = pdf.sort_values("custom_id")
            for cid, ntok, nbytes in zip(pdf["custom_id"], pdf["num_tokens"], pdf["_line_bytes"]):
                if pd.isna(ntok):
                    raise ValueError(
                        f"null num_tokens for custom_id={cid!r}: the token cap "
                        "cannot be enforced on unknown sizes (NaN comparisons "
                        "would silently pass it)"
                    )
                if n > 0 and (n + 1 > max_requests or tok + ntok > max_tokens or byt + nbytes > max_bytes):
                    seq += 1
                    n = tok = byt = 0
                n += 1
                tok += int(ntok)
                byt += int(nbytes)
                out_ids.append(cid)
                out_files.append(f"{part_tag}-{seq:05d}")
        yield pd.DataFrame({"custom_id": out_ids, "file_id": out_files})

    return df.mapInPandas(pack, PACK_SCHEMA)


def write_request_files(
    requests: DataFrame,
    out_dir: str,
    **caps,
) -> DataFrame:
    """S9: materialize the packed request blobs as JSONL files, one file
    per file_id (partitionBy on write keeps each file's rows together)."""
    # pin the assignment: the greedy packer is order-sensitive within its
    # Arrow batches, so a lazily-recomputed plan could write one assignment
    # and return another — the caller's state table would then reference
    # file_ids that never hit disk
    packed = requests.join(assign_files(requests, **caps), "custom_id").localCheckpoint(
        eager=True
    )
    blobs = packed.select(
        "file_id",
        F.to_json(F.struct("custom_id", F.struct("context").alias("body"))).alias("line"),
    )
    blobs.write.mode("overwrite").partitionBy("file_id").text(out_dir)
    return packed


def missing_ids(requested: DataFrame, results: DataFrame) -> DataFrame:
    """S10: ids shipped but absent from the result files (drives ST5
    unpair/retry)."""
    return requested.select("custom_id").distinct().join(
        results.select("custom_id").distinct(), "custom_id", "left_anti"
    )


def split_bytes_on_lines(data: bytes, max_chunk: int, backscan: int = 10_240) -> list[bytes]:
    """S11: byte-exact splitter — cut near max_chunk at the last newline
    within ``backscan`` bytes (chunk_util.py:12-69 semantics). Driver-side
    utility for exchange files, not a distributed op."""
    if max_chunk < 1:
        raise ValueError(f"max_chunk must be >= 1, got {max_chunk}")
    chunks: list[bytes] = []
    pos = 0
    n = len(data)
    while pos < n:
        end = min(pos + max_chunk, n)
        if end < n:
            nl = data.rfind(b"\n", max(pos, end - backscan), end)
            if nl > pos:
                end = nl + 1
        chunks.append(data[pos:end])
        pos = end
    return chunks
