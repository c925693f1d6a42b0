"""Custom PySpark DataSource (Spark 4 Python Data Source API) for the
batch-results JSONL layout — the engine's S10 surface re-expressed as a
first-class ``spark.read.format(...)`` source.

The reference polls batch-job result files (JSONL, one response object
per line; SURVEY S10) and its pipeline consumes them as a table. The
existing ``sources/jsonl.py`` reads them with DataFrame primitives; this
module registers the same layout as a NATIVE Spark source through the
official ``pyspark.sql.datasource`` API, which buys three things the
ad-hoc reader cannot express:

  * PARTITIONED SCANS: one ``InputPartition`` per shard file, so a
    directory of N files reads with N-way parallelism and executor-local
    line parsing (``read`` runs on executors, never the driver);
  * FILTER PUSHDOWN (``pushFilters``, Spark 4.1): predicates on the
    ``shard`` column prune whole FILES before a byte is read — the
    file-skipping shape every lakehouse source implements, here at the
    Python source boundary (equality, range and IN filters accepted;
    everything else is returned for Spark to evaluate post-scan);
  * SQL/format ergonomics: ``spark.read.format("batch_results")`` works
    anywhere a built-in format does, including SQL ``CREATE TABLE ...
    USING batch_results`` in a real deployment.

Shard files are named ``part-<shard>.jsonl``; the shard id is also a
column (the source derives it from the file name, so a pushed filter and
the column always agree). Scale note: ``partitions()`` lists the
directory on the driver — O(files) names, no file contents — and each
executor parses only its own shard's lines.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from data_etl_pipeline_spark.sources.commit import replace_atomic

_SCHEMA = (
    "shard int, custom_id string, status string, n_tokens bigint, body string"
)


def write_result_fixture(rows, out_dir: str, n_shards: int = 4) -> list[str]:
    """Deterministic batch-results fixture: rows = (custom_id, status,
    n_tokens, body); shard = stable hash of custom_id. Driver-side by
    design — it builds small test/demo inputs, not production data."""
    import hashlib

    os.makedirs(out_dir, exist_ok=True)
    shards: dict[int, list[str]] = {s: [] for s in range(n_shards)}
    for cid, status, n_tokens, body in rows:
        s = int(hashlib.md5(str(cid).encode()).hexdigest()[:8], 16) % n_shards
        shards[s].append(
            json.dumps(
                {"custom_id": cid, "status": status, "n_tokens": n_tokens, "body": body}
            )
        )
    paths = []
    for s, lines in shards.items():
        p = os.path.join(out_dir, f"part-{s}.jsonl")
        with open(p, "w") as fh:
            fh.write("\n".join(sorted(lines)) + ("\n" if lines else ""))
        paths.append(p)
    return sorted(paths)


class _ShardPartition(InputPartition):
    def __init__(self, path: str, shard: int):
        self.path = path
        self.shard = shard


class BatchResultsReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("batch_results requires .option('path', <dir>)")
        # shard bounds narrowed by pushed filters; None = unbounded
        self._eq: set[int] | None = None
        self._lo: int | None = None
        self._lo_strict = False
        self._hi: int | None = None
        self._hi_strict = False

    # -- filter pushdown ----------------------------------------------------
    def pushFilters(self, filters: list[Filter]):
        """Accept shard-column comparisons (whole-file pruning); return
        every other filter for Spark to evaluate after the scan."""
        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("shard",):
                if isinstance(f, EqualTo):
                    vals = {int(f.value)}
                    self._eq = vals if self._eq is None else (self._eq & vals)
                    continue
                if isinstance(f, In):
                    vals = {int(v) for v in f.value}
                    self._eq = vals if self._eq is None else (self._eq & vals)
                    continue
                if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    v = int(f.value)
                    # Replace the bound only when strictly tighter; on an
                    # equal bound OR the strictness so `shard > 5 AND
                    # shard >= 5` keeps the strict exclusion of 5.
                    if self._lo is None or v > self._lo:
                        self._lo, self._lo_strict = v, isinstance(f, GreaterThan)
                    elif v == self._lo:
                        self._lo_strict = self._lo_strict or isinstance(f, GreaterThan)
                    continue
                if isinstance(f, (LessThan, LessThanOrEqual)):
                    v = int(f.value)
                    if self._hi is None or v < self._hi:
                        self._hi, self._hi_strict = v, isinstance(f, LessThan)
                    elif v == self._hi:
                        self._hi_strict = self._hi_strict or isinstance(f, LessThan)
                    continue
            yield f  # unsupported: Spark evaluates it post-scan

    def _keep_shard(self, s: int) -> bool:
        if self._eq is not None and s not in self._eq:
            return False
        if self._lo is not None and (s < self._lo or (self._lo_strict and s == self._lo)):
            return False
        if self._hi is not None and (s > self._hi or (self._hi_strict and s == self._hi)):
            return False
        return True

    # -- scan planning / execution -------------------------------------------
    def partitions(self):
        parts = []
        for f in sorted(os.listdir(self.path)):
            if not (f.startswith("part-") and f.endswith(".jsonl")):
                continue
            # fixture layout part-<shard>.jsonl or native-writer layout
            # part-<shard>-<seq>.jsonl: the shard is the first segment
            shard = int(f[len("part-") : -len(".jsonl")].split("-")[0])
            if self._keep_shard(shard):
                parts.append(_ShardPartition(os.path.join(self.path, f), shard))
        return parts

    # rows per Arrow batch: bounds worker memory on big shards while keeping
    # batches large enough that per-batch overhead amortizes (guide §4.2)
    _BATCH_ROWS = 10_000

    def read(self, partition: _ShardPartition):
        # Yield Arrow RecordBatches (the Python Data Source API's batch
        # form) instead of per-row tuples: one columnar hand-off per
        # _BATCH_ROWS lines, not one pickled tuple per row (guide §4.1 —
        # batches rather than pickled rows across the Python boundary).
        # Same rows, same schema, same order.
        import pyarrow as pa

        types = {
            "shard": pa.int32(),
            "custom_id": pa.string(),
            "status": pa.string(),
            "n_tokens": pa.int64(),
            "body": pa.string(),
        }

        def to_batch(cols):
            return pa.RecordBatch.from_arrays(
                [pa.array(cols[k], type=t) for k, t in types.items()],
                names=list(types),
            )

        cols = {k: [] for k in types}
        with open(partition.path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                d = json.loads(line)
                cols["shard"].append(partition.shard)
                cols["custom_id"].append(d.get("custom_id"))
                cols["status"].append(d.get("status"))
                cols["n_tokens"].append(d.get("n_tokens"))
                cols["body"].append(d.get("body"))
                if len(cols["shard"]) >= self._BATCH_ROWS:
                    yield to_batch(cols)
                    cols = {k: [] for k in types}
        if cols["shard"]:
            yield to_batch(cols)


class BatchResultsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "batch_results"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> BatchResultsReader:
        return BatchResultsReader(self.options)

    def simpleStreamReader(self, schema) -> "BatchResultsStreamReader":
        return BatchResultsStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "BatchResultsWriter":
        return BatchResultsWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "BatchResultsStreamWriter":
        return BatchResultsStreamWriter(self.options)


def register(spark) -> None:
    """Idempotent registration of the batch_results format."""
    spark.dataSource.register(BatchResultsDataSource)


class BatchResultsStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the batch_results source (Spark 4
    SimpleDataSourceStreamReader): the queue-poll shape of SURVEY S6 —
    result files LAND over time; each micro-batch reads exactly the
    files that appeared since the last committed offset.

    Offset contract: ``{"files": [sorted names consumed so far]}``.
    ``read(start)`` scans the directory, takes every tracked file not in
    the offset, and returns (rows, nextOffset); ``readBetweenOffsets``
    replays the difference DETERMINISTICALLY after a failure — files are
    immutable once placed, so replayed batches are byte-identical, which
    is what makes the source exactly-once composable with an idempotent
    sink. The driver holds O(files) names; rows never touch the driver.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("batch_results stream requires .option('path', <dir>)")

    def initialOffset(self) -> dict:
        return {"files": []}

    def _listing(self) -> list[str]:
        return sorted(
            f
            for f in os.listdir(self.path)
            if f.startswith("part-") and f.endswith(".jsonl")
        )

    def _rows_of(self, names):
        for name in names:
            shard = int(name[len("part-") : -len(".jsonl")].split("-")[0])
            with open(os.path.join(self.path, name)) as fh:
                for line in fh:
                    if line.strip():
                        d = json.loads(line)
                        yield (
                            shard,
                            d.get("custom_id"),
                            d.get("status"),
                            d.get("n_tokens"),
                            d.get("body"),
                        )

    def read(self, start: dict):
        seen = set(start.get("files", []))
        now = self._listing()
        fresh = [f for f in now if f not in seen]
        # materialized, not a generator: Spark's prefetcher pickles the
        # batch for replay caching (micro-batches here are file-bounded)
        return iter(list(self._rows_of(fresh))), {"files": now}

    def readBetweenOffsets(self, start: dict, end: dict):
        seen = set(start.get("files", []))
        return iter(
            list(self._rows_of([f for f in end.get("files", []) if f not in seen]))
        )

    def commit(self, end: dict) -> None:
        pass  # files are immutable; nothing to release


# ---------------------------------------------------------------------------
# Native WRITER (round 12): df.write.format("batch_results") through the
# official DataSourceWriter API — the missing third of the source trio
# (batch reader / stream reader / writer). The write follows the
# two-phase commit protocol the API exists for:
#
#   1. each TASK writes its rows, grouped by derived shard, to
#      _staging/<uuid>-shard<k>.jsonl and returns a commit message
#      naming its staged files — no task ever touches a live file;
#   2. the DRIVER, only after every task succeeded, renames staged
#      files to part-<shard>-<seq>.jsonl (overwrite first clears the
#      previous generation) and removes the staging dir; on any task
#      failure abort() deletes the staged files and the table is
#      untouched.
#
# Honest scale caveat (same as Hadoop's v2 committer): commit publishes
# one rename at a time, so a DRIVER crash mid-commit can leave a
# partial publish; task failures — the common case — never can.
#
# The shard is DERIVED from custom_id with the same md5 hash the
# fixture writer and the oracle use; an incoming 'shard' column is
# refused rather than trusted (stored-vs-derived divergence would break
# the reader's filename pushdown contract).
# ---------------------------------------------------------------------------


class _WriteMessage(WriterCommitMessage):
    def __init__(self, staged):
        self.staged = staged  # [(staged_name, shard, n_rows)]


class BatchResultsWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("batch_results write requires .option('path', <dir>)")
        self.n_shards = int(options.get("n_shards", "4"))
        self.overwrite = overwrite
        os.makedirs(os.path.join(self.path, "_staging"), exist_ok=True)

    def write(self, iterator):
        import hashlib
        import uuid as _uuid

        tag = _uuid.uuid4().hex[:12]
        buckets: dict[int, list[str]] = {}
        for row in iterator:
            d = row.asDict()
            if "shard" in d:
                raise ValueError(
                    "'shard' is derived from custom_id, not stored — drop the column"
                )
            cid = d.get("custom_id")
            s = int(hashlib.md5(str(cid).encode()).hexdigest()[:8], 16) % self.n_shards
            buckets.setdefault(s, []).append(
                json.dumps(
                    {
                        "custom_id": cid,
                        "status": d.get("status"),
                        "n_tokens": d.get("n_tokens"),
                        "body": d.get("body"),
                    }
                )
            )
        staged = []
        for s, lines in sorted(buckets.items()):
            name = f"{tag}-shard{s}.jsonl"
            with open(os.path.join(self.path, "_staging", name), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            staged.append((name, s, len(lines)))
        return _WriteMessage(staged)

    def commit(self, messages):
        staging = os.path.join(self.path, "_staging")
        if self.overwrite:
            for f in os.listdir(self.path):
                if f.startswith("part-") and f.endswith(".jsonl"):
                    os.remove(os.path.join(self.path, f))
        seq: dict[int, int] = {}
        for f in os.listdir(self.path):
            if f.startswith("part-") and f.endswith(".jsonl"):
                parts = f[len("part-") : -len(".jsonl")].split("-")
                if len(parts) == 2:  # append mode: continue numbering
                    s, i = int(parts[0]), int(parts[1])
                    seq[s] = max(seq.get(s, -1), i)
        for m in messages:
            if m is None:
                continue
            for name, s, _n in sorted(m.staged):
                seq[s] = seq.get(s, -1) + 1
                os.replace(
                    os.path.join(staging, name),
                    os.path.join(self.path, f"part-{s}-{seq[s]:05d}.jsonl"),
                )
        _clear_staging(staging)

    def abort(self, messages):
        _clear_staging(os.path.join(self.path, "_staging"))


def _clear_staging(staging: str) -> None:
    if os.path.isdir(staging):
        for f in os.listdir(staging):
            os.remove(os.path.join(staging, f))
        os.rmdir(staging)


# ---------------------------------------------------------------------------
# Native STREAMING writer (round 12): .writeStream.format("batch_results")
# through the official DataSourceStreamWriter API — with the stream
# reader above, a landing->sink pipeline runs end-to-end on the Python
# source API with no foreachBatch escape hatch. Same two-phase shape as
# the batch writer, plus the streaming guarantee: commit(messages,
# batchId) records each published batch in a _commits/ ledger, and a
# REPLAYED batchId (restart after the sink committed but the engine's
# checkpoint did not) discards its staged files instead of publishing
# twice — at-least-once replay composes to exactly-once sink contents.
# ---------------------------------------------------------------------------


class BatchResultsStreamWriter(DataSourceStreamWriter):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(
                "batch_results stream write requires .option('path', <dir>)"
            )
        self.n_shards = int(options.get("n_shards", "4"))
        os.makedirs(os.path.join(self.path, "_staging"), exist_ok=True)
        os.makedirs(os.path.join(self.path, "_commits"), exist_ok=True)

    def write(self, iterator):
        import hashlib
        import uuid as _uuid

        tag = _uuid.uuid4().hex[:12]
        buckets: dict[int, list[str]] = {}
        for row in iterator:
            d = row.asDict()
            cid = d.get("custom_id")
            s = int(hashlib.md5(str(cid).encode()).hexdigest()[:8], 16) % self.n_shards
            buckets.setdefault(s, []).append(
                json.dumps(
                    {
                        "custom_id": cid,
                        "status": d.get("status"),
                        "n_tokens": d.get("n_tokens"),
                        "body": d.get("body"),
                    }
                )
            )
        staged = []
        for s, lines in sorted(buckets.items()):
            name = f"{tag}-shard{s}.jsonl"
            with open(os.path.join(self.path, "_staging", name), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            staged.append((name, s, len(lines)))
        return _WriteMessage(staged)

    def commit(self, messages, batchId: int) -> None:
        staging = os.path.join(self.path, "_staging")
        ledger = os.path.join(self.path, "_commits", str(batchId))
        if os.path.exists(ledger):
            # replayed batch: the sink already holds it — drop the stage
            for m in messages:
                if m is None:
                    continue
                for name, _s, _n in m.staged:
                    p = os.path.join(staging, name)
                    if os.path.exists(p):
                        os.remove(p)
            return
        published = []
        seq: dict[int, int] = {}
        for m in messages:
            if m is None:
                continue
            for name, s, _n in sorted(m.staged):
                seq[s] = seq.get(s, 0) + 1
                final = f"part-{s}-b{batchId}-{seq[s]:04d}.jsonl"
                os.replace(
                    os.path.join(staging, name), os.path.join(self.path, final)
                )
                published.append(final)
        replace_atomic(ledger, json.dumps({"files": published}))

    def abort(self, messages, batchId: int) -> None:
        staging = os.path.join(self.path, "_staging")
        for m in messages:
            if m is None:
                continue
            for name, _s, _n in m.staged:
                p = os.path.join(staging, name)
                if os.path.exists(p):
                    os.remove(p)
