"""Delta-format SNAPSHOT EXPORT — the write half of lakehouse interop.

``sources/delta_reader.py`` reads foreign Delta tables; this module hands
a DataFrame BACK to the lakehouse as a brand-new, protocol-correct Delta
table (delta.io PROTOCOL.md): parquet data files plus a single
``_delta_log/00000000000000000000.json`` commit carrying ``protocol``
(minReaderVersion 1 — the export uses no optional feature, so every Delta
reader ever shipped can open it), ``metaData`` (schemaString, partition
columns) and one ``add`` per data file with real size/modificationTime.

This intentionally creates NEW tables only. Appending to or rewriting an
EXISTING foreign table's log is refused — honoring a foreign table's full
protocol (invariants, DVs, column mapping, writer features) is a Delta
writer's job, and a partial writer corrupts; the engine's own
VersionedTable covers the mutable-table write path, and a user promotes
its snapshots to the lakehouse through this export.

Partitioned export writes the standard Hive layout (``col=value/part-*``)
with partition values carried in the log, NOT in the data files — exactly
how real Delta writers lay tables out, so partition pruning works for any
downstream reader.

Every commit goes through the commit kernel (``sources/commit.py``): the
``NNN.json`` entry is an exclusive claim, and each operation's data and
change files are written into its own attempt directory and then moved
into the table's Hive layout (or under ``_change_data/``), so a commit's
adds are exactly the files it wrote — never a listing of the table.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame

from data_etl_pipeline_spark.sources import commit
from data_etl_pipeline_spark.sources.footerprune import (
    file_uri_path,
    footer_stats,
    hive_partition_values,
)
from data_etl_pipeline_spark.tables import local_frame


class DeltaExportError(RuntimeError):
    pass


def _file_stats(full: str) -> str | None:
    """Delta-style per-file stats JSON from the parquet FOOTER (no data
    read, via ``footerprune.footer_stats``): numRecords plus
    min/max/nullCount for top-level int / float / string columns.
    Columns whose footer lacks usable bounds (nested, binary, temporal,
    incomplete across row groups) are simply omitted — readers must treat
    absence as 'cannot skip'.
    """
    try:
        n_rows, cols = footer_stats(full)
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for name, (mn, mx, nc) in cols.items():
        if nc is not None:
            nulls[name] = nc
        if isinstance(mn, bytes):
            try:
                mn, mx = mn.decode(), mx.decode()
            except UnicodeDecodeError:
                continue
        if isinstance(mn, (int, float, str)) and not isinstance(mn, bool):
            mins[name] = mn
            maxs[name] = mx
    return json.dumps(
        {
            "numRecords": n_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _add_action(dest: str, full: str, data_change: bool) -> tuple[dict, int]:
    """Build one protocol add action (path, Hive partition values, size,
    mtime, footer stats) for an on-disk data file; returns (action, size)."""
    rel = os.path.relpath(full, dest).replace(os.sep, "/")
    st = os.stat(full)
    add = {
        "path": quote(rel),
        "partitionValues": hive_partition_values(rel),
        "size": st.st_size,
        "modificationTime": int(st.st_mtime * 1000),
        "dataChange": data_change,
    }
    stats = _file_stats(full)
    if stats is not None:
        add["stats"] = stats
    return {"add": add}, st.st_size


def _adds(dest: str, files: list[str], data_change: bool = True) -> tuple[list[dict], int]:
    """add actions (sorted by path) + total bytes for the data files one
    attempt placed — a commit adds exactly what its own attempt wrote."""
    pairs = [_add_action(dest, f, data_change) for f in files]
    adds = sorted((a for a, _ in pairs), key=lambda a: a["add"]["path"])
    return adds, sum(size for _, size in pairs)


def _stage_data(att: commit.Attempt, df: DataFrame, into: str, part_cols=()) -> list[str]:
    """One distributed write of ``df`` through the attempt's staging
    directory; its files land in the Hive layout under ``into``."""
    writer = df.write.partitionBy(*part_cols) if part_cols else df.write
    return att.stage_into(writer.parquet, into)


def _commit_rewrite(
    dest: str,
    versions: list[int],
    removed: list[str],
    placed: list[str],
    data_change: bool = True,
    extra: list[dict] | None = None,
) -> tuple[int, list[dict], int]:
    """Publish one copy-on-write rewrite as the next commit: a ``remove``
    for each of ``removed`` (decoded relative paths, in the given order),
    an ``add`` for each file the attempt ``placed``, then ``extra``
    (change-data actions). A lost claim retries the same actions only if
    no winner removed one of ``removed``. Returns (version, add actions,
    bytes added)."""
    now_ms = int(time.time() * 1000)
    actions = [
        {
            "remove": {
                "path": quote(rel.replace(os.sep, "/")),
                "deletionTimestamp": now_ms,
                "dataChange": data_change,
            }
        }
        for rel in removed
    ]
    adds, total = _adds(dest, placed, data_change)
    version = _publish(
        dest, versions[-1] + 1, [*actions, *adds, *(extra or [])], _rebase(dest, removed)
    )
    return version, adds, total


def _constraints(meta: dict) -> dict[str, str]:
    """CHECK constraints from the metaData configuration (the protocol's
    ``delta.constraints.<name>`` keys, writer feature checkConstraints)."""
    cfg = meta.get("configuration") or {}
    pre = "delta.constraints."
    return {k[len(pre):]: v for k, v in cfg.items() if k.startswith(pre)}


def _validate_constraints(df: DataFrame, cons: dict[str, str]) -> None:
    """Delta CHECK semantics: a row passes when every constraint is TRUE
    or NULL; any FALSE aborts before a byte is written. ONE aggregation
    evaluates every constraint over the INCOMING rows only."""
    if not cons:
        return
    from pyspark.sql import functions as F

    names = sorted(cons)
    aggs = [
        F.count(F.when(F.expr(cons[n]).eqNullSafe(F.lit(False)), 1)).alias(f"_c{i}")
        for i, n in enumerate(names)
    ]
    row = df.agg(*aggs).first()
    for i, n in enumerate(names):
        if row[f"_c{i}"]:
            raise DeltaExportError(
                f"CHECK constraint {n!r} ({cons[n]}) violated by "
                f"{row[f'_c{i}']} incoming row(s); nothing was written"
            )


def _cdf_enabled(meta: dict) -> bool:
    return (meta.get("configuration") or {}).get(
        "delta.enableChangeDataFeed"
    ) == "true"


def _write_cdc(att: commit.Attempt, dest: str, change_df, part_cols: list[str]) -> list[dict]:
    """Write change rows (which must carry ``_change_type``) as
    ``_change_data/`` parquet and return their ``cdc`` actions
    (PROTOCOL.md "Add CDC File": path, partitionValues, size,
    dataChange:false), one per file the attempt placed."""
    cd = os.path.join(dest, "_change_data")
    actions: list[dict] = []
    for full in sorted(_stage_data(att, change_df, cd, part_cols)):
        rel = os.path.relpath(full, cd).replace(os.sep, "/")
        actions.append(
            {
                "cdc": {
                    "path": quote("_change_data/" + rel),
                    "partitionValues": hive_partition_values(rel),
                    "size": os.path.getsize(full),
                    "dataChange": False,
                }
            }
        )
    return actions


def _prev_ict(dest: str, version: int) -> int | None:
    """The predecessor commit's inCommitTimestamp, or None if the table
    is not ICT (no commitInfo.inCommitTimestamp on version-1)."""
    prev = _log_path(dest, version - 1)
    if not os.path.isfile(prev):
        return None
    # ICT requires commitInfo FIRST; absent -> not ICT
    first = next(iter(_log_actions(prev)), {})
    ts = first.get("commitInfo", {}).get("inCommitTimestamp")
    return int(ts) if ts is not None else None


def _log_path(dest: str, version: int) -> str:
    return os.path.join(dest, "_delta_log", f"{version:020d}.json")


def _render_commit(dest: str, version: int, actions: list[dict]) -> str:
    """The newline-delimited JSON of commit ``version``.

    IN-COMMIT TIMESTAMPS (delta.io PROTOCOL.md "In-Commit Timestamps",
    writer feature ``inCommitTimestamp``): when the table was created
    with ICT enabled, EVERY commit must carry a ``commitInfo`` as its
    FIRST action with a strictly monotonically increasing
    ``inCommitTimestamp``. The flag self-propagates here — version 0
    declares it via table configuration, and every later commit stamps
    itself iff its predecessor did — so no lifecycle call site needs to
    thread the option. Rendered per claim attempt, so a commit that lost
    its first claim stamps itself after the winner it now follows."""
    if version == 0:
        ict = any(
            "metaData" in a
            and (a["metaData"].get("configuration") or {}).get(
                "delta.enableInCommitTimestamps"
            )
            == "true"
            for a in actions
        )
        prev_ts = -1
    else:
        p = _prev_ict(dest, version)
        ict, prev_ts = p is not None, (p if p is not None else -1)
    if ict:
        ts = max(int(time.time() * 1000), prev_ts + 1)
        actions = [{"commitInfo": {"inCommitTimestamp": ts, "timestamp": ts}}, *actions]
    return "".join(json.dumps(a) + "\n" for a in actions)


def _publish(dest: str, version: int, actions: list[dict], rebase=None) -> int | None:
    """Claim commit ``version`` (or, after ``rebase``, a later one) for
    ``actions`` through the commit kernel."""
    return commit.publish(
        functools.partial(_log_path, dest),
        version,
        lambda v: _render_commit(dest, v, actions),
        rebase,
    )


def _rebase(dest: str, removed, txn: tuple[str, int] | None = None):
    """The kernel's ``rebase`` for a Delta commit that lost its claim: a
    winner that changed ``metaData``/``protocol`` or removed a file in
    ``removed`` raises ConcurrentCommitError, one that committed the
    ``(appId, version)`` ``txn`` makes this commit a duplicate (None);
    otherwise the next free version."""
    removed = set(removed)

    def rebase(lost: int) -> int | None:
        v = lost
        while os.path.exists(_log_path(dest, v)):
            for a in _log_actions(_log_path(dest, v)):
                if "metaData" in a or "protocol" in a or (
                    "remove" in a and unquote(a["remove"]["path"]) in removed
                ):
                    raise commit.ConcurrentCommitError(
                        f"{dest}: commit {v} changed the table this commit "
                        f"was derived from ({sorted(a)[0]})"
                    )
                t = a.get("txn")
                if txn and t and t.get("appId") == txn[0] and int(t.get("version", -1)) >= txn[1]:
                    return None
            v += 1
        return v

    return rebase


def _log_actions(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _generation_exprs(meta: dict) -> dict[str, str]:
    """{column -> generation expression} from the schemaString's field
    metadata (``delta.generationExpression``, PROTOCOL.md Generated
    Columns)."""
    try:
        fields = json.loads(meta["schemaString"])["fields"]
    except (KeyError, TypeError, ValueError):
        return {}
    return {
        f["name"]: (f.get("metadata") or {})["delta.generationExpression"]
        for f in fields
        if "delta.generationExpression" in (f.get("metadata") or {})
    }


def _strip_field_metadata(schema_json: str) -> str:
    """Schema comparison key with field metadata removed — generated
    tables carry generationExpression metadata the incoming frame's
    schema lacks."""
    sch = json.loads(schema_json)
    for f in sch.get("fields", []):
        f["metadata"] = {}
    return json.dumps(sch, sort_keys=True)


def export_delta(
    df: DataFrame,
    dest: str,
    partition_by: list[str] | None = None,
    cdf: bool = False,
    constraints: dict[str, str] | None = None,
    ict: bool = False,
    generated: dict[str, str] | None = None,
) -> dict:
    """Write ``df`` as a new single-commit Delta table at ``dest``.

    Returns {"n_files": ..., "bytes": ...} accounting. One distributed
    parquet write; the log commit lists the files that write produced
    (bounded by file count, never rows).

    ``cdf=True`` enables the CHANGE DATA FEED (delta.io PROTOCOL.md
    "Add CDC File"): the table property
    ``delta.enableChangeDataFeed=true`` is set and the protocol becomes
    ``minWriterVersion: 4``; subsequent ``export_delta_delete`` /
    ``export_delta_merge`` commits then publish their row-level changes
    as ``_change_data/`` parquet files referenced by ``cdc`` actions,
    which ``DeltaLogReader.table_changes`` (and any Delta reader's
    ``table_changes``) consumes.

    ``constraints`` adds Delta CHECK constraints (PROTOCOL.md
    ``delta.constraints.<name>`` configuration, writer version >= 3): a
    row passes when the expression is TRUE or NULL; the initial write
    and every later append/merge/replaceWhere validates its INCOMING
    rows in one aggregation and refuses before writing a byte if any
    row fails — the schema-quality gate a publishing pipeline wants at
    the lakehouse boundary.

    ``ict=True`` enables IN-COMMIT TIMESTAMPS (PROTOCOL.md writer
    feature ``inCommitTimestamp``, table-features protocol
    ``minWriterVersion 7``): every commit carries an authoritative,
    strictly monotonic ``commitInfo.inCommitTimestamp`` as its first
    action, so ``timestampAsOf`` time travel no longer depends on log
    file modification times — which object stores and log copies do
    not preserve. Subsequent appends/merges stamp themselves
    automatically (see ``_render_commit``).

    ``generated`` declares GENERATED COLUMNS (PROTOCOL.md
    ``delta.generationExpression``, writer version >= 4): each
    ``{name: spark_sql_expr}`` column is materialized from the incoming
    frame and its expression recorded in the schema's field metadata.
    Partition a table by a generated column (the classic
    ``CAST(date_trunc('month', ts) AS DATE)`` layout) and
    ``DeltaLogReader`` DERIVES partition filters from predicates on the
    BASE column — partition pruning without the caller ever naming the
    partition column, which is the optimization that makes date-derived
    layouts usable at 100 TB. Appends recompute missing generated
    columns and refuse mismatched ones (the protocol's enforcement
    rule).
    """
    dest = dest.rstrip("/")
    constraints = dict(constraints or {})
    generated = dict(generated or {})
    if generated:
        from pyspark.sql import functions as _F

        for name, expr in generated.items():
            df = df.withColumn(name, _F.expr(expr))
    _validate_constraints(df, constraints)
    log_dir = os.path.join(dest, "_delta_log")
    if os.path.isdir(log_dir):
        raise DeltaExportError(
            f"{dest} already has a _delta_log; refusing to touch an "
            "existing Delta table's log (export creates NEW tables only)"
        )
    partition_by = list(partition_by or [])
    cfg: dict[str, str] = {}
    if cdf:
        cfg["delta.enableChangeDataFeed"] = "true"
    for name, expr in sorted(constraints.items()):
        cfg[f"delta.constraints.{name}"] = expr
    if ict:
        cfg["delta.enableInCommitTimestamps"] = "true"
        # writer feature => table-features protocol; legacy features in
        # use must then be listed explicitly (PROTOCOL.md feature rules)
        feats = ["inCommitTimestamp"]
        if cdf:
            feats.append("changeDataFeed")
        if constraints:
            feats.append("checkConstraints")
        if generated:
            feats.append("generatedColumns")
        protocol: dict = {
            "minReaderVersion": 1,
            "minWriterVersion": 7,
            "writerFeatures": sorted(feats),
        }
    else:
        writer_v = 4 if (cdf or generated) else (3 if constraints else 2)
        protocol = {"minReaderVersion": 1, "minWriterVersion": writer_v}
    schema_string = df.schema.json()
    if generated:
        sch = json.loads(schema_string)
        for f in sch["fields"]:
            if f["name"] in generated:
                f.setdefault("metadata", {})["delta.generationExpression"] = generated[
                    f["name"]
                ]
        schema_string = json.dumps(sch)
    meta = {
        "id": "export-" + hashlib.md5(dest.encode()).hexdigest()[:12],
        "format": {"provider": "parquet", "options": {}},
        "schemaString": schema_string,
        "partitionColumns": partition_by,
        "configuration": cfg,
    }
    # partition values come from the Hive path segments (the percent-
    # encoded form Delta stores); per-file footer stats ride each add
    with commit.Attempt(dest) as att:
        adds, total = _adds(dest, _stage_data(att, df, dest, partition_by))
        meta["createdTime"] = int(os.stat(dest).st_mtime * 1000)
        _publish(dest, 0, [{"protocol": protocol}, {"metaData": meta}, *adds])
    return {"n_files": len(adds), "bytes": total}


# ---------------------------------------------------------------------------
# Incremental publication: APPEND commits and CLASSIC CHECKPOINTS for
# tables THIS exporter created. The foreign-table refusal above stands —
# append/checkpoint first verify the log is one of ours (protocol exactly
# {minReaderVersion 1, minWriterVersion 2}, metaData id 'export-…', no
# unrecognized actions), because honoring someone else's writer features
# is a full Delta writer's job. Within that boundary, "promote each
# engine snapshot to the lakehouse" becomes a sequence of commits rather
# than a new table per snapshot, and a checkpoint + log trim keeps the
# log bounded for long-lived exports (any Delta reader, including
# sources/delta_reader.py, replays from the checkpoint).
# ---------------------------------------------------------------------------


def _read_own_log(dest: str) -> tuple[dict, list[int], dict[str, dict], dict[str, int]]:
    """(metaData, sorted versions, {path -> add}, {txn appId -> highest
    committed version}) for a table this module exported; raises
    DeltaExportError on any sign of a foreign writer. The txn map is the
    Delta transaction-identifier state exactly-once sinks consult
    (collected in the same single log pass — no second scan)."""
    log_dir = os.path.join(dest, "_delta_log")
    if not os.path.isdir(log_dir):
        raise DeltaExportError(f"{dest} has no _delta_log")
    versions = sorted(
        int(f[:20])
        for f in os.listdir(log_dir)
        # V2 manifests ({v}.checkpoint.{uuid}.json) also end .json with a
        # digit prefix but are checkpoint state, not commits
        if f.endswith(".json") and f[:20].isdigit() and ".checkpoint." not in f
    )
    cps = sorted(
        int(f[:20])
        for f in os.listdir(log_dir)
        if f.endswith(".checkpoint.parquet") and f[:20].isdigit()
    )
    v2_manifests = [
        f
        for f in os.listdir(log_dir)
        if ".checkpoint." in f and f.endswith(".json") and f[:20].isdigit()
    ]
    if not versions and not cps and not v2_manifests:
        raise DeltaExportError(f"{dest} has an empty _delta_log")
    if v2_manifests and (not versions or versions != list(range(len(versions)))):
        # a TRIMMED v2 checkpoint (fully trimmed -> no commits at all;
        # partially trimmed -> commits no longer start at 0): state lives
        # only in parquet sidecars, which this text-log path cannot replay
        raise DeltaExportError(
            f"{dest} is v2-checkpointed and trimmed; use DeltaLogReader "
            "for reads — text-log appends need the full JSON history"
        )
    meta = None
    files: dict[str, dict] = {}
    txns: dict[str, int] = {}
    start = 0
    if cps:
        # checkpointed export: earlier JSONs may be trimmed; appends only
        # need the live file set, which the newest checkpoint carries —
        # but loading parquet needs a SparkSession, so appends after a
        # trim go through checkpoint_export's own replay instead
        covered = cps[-1]
        if not all(v in set(versions) for v in range(covered + 1, (versions[-1] if versions else covered) + 1)):
            raise DeltaExportError(f"{dest}: log has holes above its checkpoint")
        raise DeltaExportError(
            f"{dest} is checkpointed; use DeltaLogReader for reads — "
            "append after a checkpoint requires replaying parquet state "
            "and is not supported by this text-log path"
        )
    if versions != list(range(len(versions))):
        raise DeltaExportError(f"{dest}: non-contiguous log {versions}")
    for v in versions:
        for a in _log_actions(_log_path(dest, v)):
            if "protocol" in a:
                # writer 2 = plain, 3 = CHECK constraints, 4 = CDF;
                # writer 7 = table features, accepted only when every
                # listed feature is one this exporter itself writes
                p = a["protocol"]
                ok = p in (
                    {"minReaderVersion": 1, "minWriterVersion": 2},
                    {"minReaderVersion": 1, "minWriterVersion": 3},
                    {"minReaderVersion": 1, "minWriterVersion": 4},
                ) or (
                    p.get("minReaderVersion") == 1
                    and p.get("minWriterVersion") == 7
                    and set(p.get("writerFeatures") or [])
                    <= {
                        "inCommitTimestamp",
                        "changeDataFeed",
                        "checkConstraints",
                        "generatedColumns",
                    }
                    and sorted(p) == ["minReaderVersion", "minWriterVersion", "writerFeatures"]
                ) or (
                    # the v2Checkpoint upgrade THIS module's
                    # checkpoint_export_v2 writes: appends to an
                    # untrimmed v2-checkpointed table stay text-replayable
                    p.get("minReaderVersion") == 3
                    and p.get("minWriterVersion") == 7
                    and list(p.get("readerFeatures") or []) == ["v2Checkpoint"]
                    and set(p.get("writerFeatures") or [])
                    <= {
                        "v2Checkpoint",
                        "inCommitTimestamp",
                        "changeDataFeed",
                        "checkConstraints",
                        "generatedColumns",
                    }
                    and sorted(p)
                    == [
                        "minReaderVersion",
                        "minWriterVersion",
                        "readerFeatures",
                        "writerFeatures",
                    ]
                )
                if not ok:
                    raise DeltaExportError(
                        f"{dest} uses protocol {a['protocol']}; refusing to "
                        "append to a table this exporter did not create"
                    )
            elif "metaData" in a:
                meta = a["metaData"]
            elif "add" in a:
                files[a["add"]["path"]] = a["add"]
            elif "remove" in a:
                files.pop(a["remove"]["path"], None)
            elif "txn" in a:
                t = a["txn"]
                app = str(t.get("appId"))
                txns[app] = max(txns.get(app, -1), int(t.get("version", -1)))
            elif "cdc" in a:
                pass  # change-data files are not table state
            elif "commitInfo" in a:
                pass  # informational
            else:
                raise DeltaExportError(
                    f"{dest}: unrecognized action {sorted(a)} — foreign writer?"
                )
    if meta is None or not str(meta.get("id", "")).startswith("export-"):
        raise DeltaExportError(
            f"{dest} was not created by this exporter (metaData id "
            f"{meta.get('id') if meta else None!r}); refusing to append"
        )
    return meta, versions, files, txns


def export_delta_append(
    df: DataFrame,
    dest: str,
    app_id: str | None = None,
    txn_version: int | None = None,
) -> dict:
    """Append ``df`` as the next commit of a table ``export_delta``
    created. The schema must match the table's EXACTLY (this exporter
    does no evolution — a drifted snapshot is a different table).
    Returns {"version": ..., "n_files": ..., "bytes": ...}.

    EXACTLY-ONCE SINK CONTRACT: pass ``app_id`` + ``txn_version`` (e.g.
    the streaming query id and micro-batch id) and the commit carries a
    Delta ``txn`` action; a RE-DELIVERED batch (txn_version <= the
    app's highest committed version) is skipped without writing a byte
    — ``{"version": None, "skipped": True}`` — which is exactly how a
    real Delta streaming sink makes foreachBatch idempotent."""
    dest = dest.rstrip("/")
    if (app_id is None) != (txn_version is None):
        raise DeltaExportError("app_id and txn_version must be passed together")
    meta, versions, _existing, txns = _read_own_log(dest)
    if app_id is not None and txn_version <= txns.get(app_id, -1):
        return {"version": None, "n_files": 0, "bytes": 0, "skipped": True}
    gen = _generation_exprs(meta)
    if gen:
        from pyspark.sql import functions as _F

        for name, expr in gen.items():
            if name not in df.columns:
                # the protocol's writer rule: absent generated columns are
                # COMPUTED from their expression
                df = df.withColumn(name, _F.expr(expr))
            else:
                # present values must EQUAL the expression (null-safe)
                bad = df.where(f"NOT (({name}) <=> ({expr}))").count()
                if bad:
                    raise DeltaExportError(
                        f"append violates generated column {name!r}: {bad} "
                        f"row(s) disagree with {expr!r}"
                    )
    if _strip_field_metadata(df.schema.json()) != _strip_field_metadata(
        meta["schemaString"]
    ):
        raise DeltaExportError(
            "append schema differs from the exported table's schema; "
            "export a new table instead of evolving this one"
        )
    _validate_constraints(df, _constraints(meta))
    partition_by = list(meta.get("partitionColumns") or [])
    txn = (app_id, int(txn_version)) if app_id is not None else None
    with commit.Attempt(dest) as att:
        adds, total = _adds(dest, _stage_data(att, df, dest, partition_by))
        actions = list(adds)
        if txn:
            actions.insert(0, {"txn": {"appId": app_id, "version": txn[1]}})
        version = _publish(dest, versions[-1] + 1, actions, _rebase(dest, (), txn))
        if version is None:  # a concurrent writer committed this batch
            commit.drop(att.files)
            return {"version": None, "n_files": 0, "bytes": 0, "skipped": True}
    return {"version": version, "n_files": len(adds), "bytes": total}


def checkpoint_export(spark, dest: str, trim: bool = False) -> int:
    """Write a CLASSIC single-file checkpoint parquet at the head version
    of a table this module exported, plus the ``_last_checkpoint``
    pointer — the layout every Delta reader's log replay starts from.
    With ``trim=True`` the JSON commits the checkpoint covers are deleted
    afterwards (the log-side half of VACUUM), which bounds log replay
    cost for long-lived incremental exports. Returns the checkpoint
    version."""
    from pyspark.sql import types as T

    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    head = versions[-1]
    cp_schema = T.StructType(
        [
            T.StructField(
                "protocol",
                T.StructType(
                    [
                        T.StructField("minReaderVersion", T.IntegerType()),
                        T.StructField("minWriterVersion", T.IntegerType()),
                    ]
                ),
            ),
            T.StructField(
                "metaData",
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("format", T.StructType([T.StructField("provider", T.StringType())])),
                        T.StructField("schemaString", T.StringType()),
                        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                        T.StructField("configuration", T.MapType(T.StringType(), T.StringType())),
                    ]
                ),
            ),
            T.StructField("add", _add_struct()),
        ]
    )
    rows = [((1, 2), None, None),
            (None,
             (meta["id"], ((meta.get("format") or {}).get("provider", "parquet"),),
              meta["schemaString"], list(meta.get("partitionColumns") or []),
              dict(meta.get("configuration") or {})),
             None)]
    rows += [(None, None, _add_row(files[p])) for p in sorted(files)]
    log_dir = os.path.join(dest, "_delta_log")
    commit.write_single_parquet(
        local_frame(spark, rows, cp_schema),
        os.path.join(log_dir, f"{head:020d}.checkpoint.parquet"),
    )
    commit.replace_atomic(
        os.path.join(log_dir, "_last_checkpoint"),
        json.dumps({"version": head, "size": len(rows)}),
    )
    if trim:
        for v in versions[:-1]:
            os.remove(os.path.join(log_dir, f"{v:020d}.json"))
    return head


def _partition_groups(
    files: dict[str, dict], part_cols: list[str]
) -> dict[tuple, list[str]]:
    """Live data files (decoded relative paths) keyed by their
    partition-value tuple."""
    groups: dict[tuple, list[str]] = {}
    for p, a in files.items():
        pv = a.get("partitionValues") or {}
        groups.setdefault(tuple(pv.get(c) for c in part_cols), []).append(unquote(p))
    return groups


def _scan_group(
    spark, dest: str, schema, part_cols: list[str], key: tuple, rels: list[str]
) -> DataFrame:
    """One partition group's files in the table schema: partition columns
    re-attached as typed literals from ``key``, the file URI as ``__fp``."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = spark.read.schema(
        T.StructType([f for f in schema.fields if f.name not in part_cols])
    ).parquet(*[os.path.join(dest, r) for r in rels]).select(
        "*", F.col("_metadata.file_path").alias("__fp")
    )
    types_map = {f.name: f.dataType for f in schema.fields}
    for c, raw in zip(part_cols, key):
        df = df.withColumn(c, F.lit(raw).cast(types_map[c]))
    return df


def _affected_files(
    scan, dest: str, groups: dict[tuple, list[str]], match
) -> dict[tuple, list[str]]:
    """Per partition group, the live files (sorted relative paths) holding
    at least one row ``match`` keeps: one pruned scan per group whose
    collect is bounded by FILE count, never rows."""
    affected: dict[tuple, list[str]] = {}
    for key, rels in sorted(groups.items(), key=lambda kv: repr(kv[0])):
        hit = match(scan(key, rels)).select("__fp").distinct().collect()
        if hit:
            by_abs = {os.path.abspath(os.path.join(dest, r)): r for r in rels}
            affected[key] = sorted(by_abs[file_uri_path(r["__fp"])] for r in hit)
    return affected


def export_delta_delete(spark, dest: str, predicate: str) -> dict:
    """COPY-ON-WRITE DELETE on a table this module exported: rows matching
    ``predicate`` (a SQL boolean over the table's columns, partition
    columns included) are removed by rewriting ONLY the data files that
    contain at least one match — untouched files stay in place, the
    commit is ``remove`` actions for the rewritten files plus ``add``
    actions for their survivor files. This is the classic Delta writer
    delete (deletion vectors are the MERGE-heavy alternative the reader
    side already understands); together with ``export_delta_append`` it
    makes the exporter a real incremental publisher.

    SQL DELETE semantics: rows where the predicate evaluates NULL are
    KEPT. A predicate matching nothing commits nothing and returns
    ``version None``. Checkpointed/foreign logs refuse via
    ``_read_own_log``.

    Scale shape: discovery is one pruned scan per partition group with
    ``_metadata.file_path`` (the collect is bounded by FILE count, never
    rows); the rewrite reads only affected files and writes survivors
    back into the same Hive partition directory.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    part_cols = list(meta.get("partitionColumns") or [])
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    pred = F.expr(predicate)
    scan_group = functools.partial(_scan_group, spark, dest, schema, part_cols)

    # 1) discovery: which live files hold at least one matching row
    affected = _affected_files(
        scan_group, dest, _partition_groups(files, part_cols), lambda g: g.where(pred)
    )
    if not affected:
        return {"version": None, "removed_files": 0, "added_files": 0}
    n_affected = sum(len(aff) for aff in affected.values())

    # 2) rewrite survivors per partition group, into the group's own dir;
    # 2b) change data feed: the deleted rows (matched rows live only in
    #     affected files by construction) as one _change_data write.
    # Each write stages in its own attempt directory and both precede the
    # commit, so they run CONCURRENTLY (guide §2.6) — per-action driver
    # gaps dominate a lifecycle commit's wall and now overlap. Failure in
    # either drops the attempt's files before any commit exists.
    keep = ~F.coalesce(pred, F.lit(False))
    groups = sorted(affected.items(), key=lambda kv: repr(kv[0]))

    def _survivor_writes(att: commit.Attempt) -> list[str]:
        return [
            path
            for key, aff in groups
            for path in _stage_data(
                att,
                scan_group(key, aff).where(keep).select(*[f.name for f in data_fields]),
                os.path.join(dest, os.path.dirname(aff[0])),
            )
        ]

    with commit.Attempt(dest) as att:
        cdc_actions: list[dict] = []
        if _cdf_enabled(meta):
            from concurrent.futures import ThreadPoolExecutor

            parts = [
                scan_group(key, aff)
                .where(pred)
                .select(*[f.name for f in schema.fields])
                .withColumn("_change_type", F.lit("delete"))
                for key, aff in groups
            ]
            deleted = functools.reduce(lambda a, b: a.unionByName(b), parts)
            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_cdc = pool.submit(_write_cdc, att, dest, deleted, part_cols)
                placed = pool.submit(_survivor_writes, att).result()
                cdc_actions = fut_cdc.result()
        else:
            placed = _survivor_writes(att)

        # 3) commit: remove rewritten files, add their survivor files
        rewritten = [rel for aff in affected.values() for rel in sorted(aff)]
        version, adds, _ = _commit_rewrite(
            dest, versions, rewritten, placed, extra=cdc_actions
        )
    return {
        "version": version,
        "removed_files": n_affected,
        "added_files": len(adds),
        "cdc_files": len(cdc_actions),
    }


def export_delta_merge(spark, df: DataFrame, dest: str, keys: list[str]) -> dict:
    """Keyed COPY-ON-WRITE MERGE (upsert) into a table this module
    exported: destination rows whose key tuple appears in ``df`` are
    replaced by the source rows, and source rows with new keys are
    inserted — the "promote each engine snapshot continuously" path the
    append/delete halves already implied. Classic Delta writer MERGE
    shape: rewrite ONLY the data files containing at least one matched
    key (survivor rows = anti-join on the keys), append ALL source rows
    as new files, commit ``remove`` + ``add`` with ``dataChange: true``.

    Tail consumers see exactly the net change semantics the Spark Delta
    streaming source defines for data-changing rewrites: the commit is
    refused by default (its row-level delta is not expressible as
    inserts) and skipped wholesale under ``skip_change_commits=True``.

    Delta MERGE's multiple-source-rows-matched rule applies: duplicate
    key tuples in ``df`` refuse loudly (a nondeterministic "last write
    wins" would silently depend on partitioning). Schema must match the
    table's exactly; checkpointed/foreign logs refuse via
    ``_read_own_log``.

    Scale shape: match discovery is one pruned scan per partition group
    joined against the (distinct) source keys — collect is bounded by
    FILE count; the rewrite reads only affected files; the insert is one
    distributed partitioned write of the source.

    A source read from the destination itself
    (``DeltaLogReader(spark, dest).read().where(...)``) merges exactly as
    a materialized copy would: it scans the files live at its snapshot,
    and the concurrent insert and change-feed jobs write only into this
    attempt's hidden ``_attempt-*`` directories, so neither job can see
    the other's output.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    if df.schema.json() != meta["schemaString"]:
        raise DeltaExportError(
            "merge source schema differs from the exported table's schema; "
            "export a new table instead of evolving this one"
        )
    for k in keys:
        if k not in df.columns:
            raise DeltaExportError(f"merge key {k!r} is not a source column")
    # the change feed tags source rows with an internal `__m` column; a
    # source that already has one would make the tag ambiguous after
    # survivor files were written — refuse before writing a byte
    if _cdf_enabled(meta) and "__m" in df.columns:
        raise DeltaExportError(
            "source column '__m' collides with the merge's internal change-"
            "feed tag name; rename it before merging"
        )
    _validate_constraints(df, _constraints(meta))
    part_cols = list(meta.get("partitionColumns") or [])
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    scan_group = functools.partial(_scan_group, spark, dest, schema, part_cols)

    # The source participates in discovery (its keys), the survivor
    #    anti-joins, and the final insert. The KEY SET is pinned with an
    #    eager localCheckpoint so every phase sees one consistent set of
    #    matched keys; the source ROWS are read once more for the insert,
    #    so — like real Delta MERGE — the source must be deterministic
    #    (materialize nondeterministic sources before merging).
    #    The duplicate-key guard rides the SAME aggregation that builds the
    #    key set (groupBy keys == distinct keys): one pass over the source
    #    instead of a separate guard job — the guard check then reads the
    #    materialized checkpoint, not the source (guide §2.4: two operations
    #    keyed the same way share one computation).
    #    The guard fires DURING the checkpoint materialization (assert_true
    #    on the per-key count) instead of as a separate take(1) job after
    #    it — one driver action fewer per merge, same refuse-before-
    #    writing-a-byte ordering (r13: profile_jobs showed each action
    #    costs ~0.2 s of driver gap at any data size).
    src_keys = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__src_n"))
        .select(
            *keys,
            F.assert_true(
                F.col("__src_n") <= 1, F.lit("__dup_merge_key__")
            ).alias("__g"),
        )
    )
    try:
        src_keys = src_keys.localCheckpoint(eager=True)
    except Exception as e:
        if "__dup_merge_key__" in str(e):
            raise DeltaExportError(
                "duplicate key tuples in the merge source — Delta MERGE "
                "semantics forbid multiple source rows matching one target row"
            ) from None
        raise
    src_keys = src_keys.drop("__g")
    # 1) discovery: live files holding at least one matched key (semi-join
    #    against the source keys; collect bounded by file count)
    affected = _affected_files(
        scan_group,
        dest,
        _partition_groups(files, part_cols),
        lambda g: g.join(src_keys, on=keys, how="left_semi"),
    )
    n_affected = sum(len(aff) for aff in affected.values())

    # 2) rewrite survivors (rows whose key is NOT in the source) of each
    #    affected file back into its own partition directory. An
    #    UNPARTITIONED table has exactly one group writing into the table
    #    root — the same directory step 3's insert lands in — so the two
    #    writes fold into one (which rows share a file never mattered).
    #    Partitioned tables keep the per-directory writes: the survivor
    #    files land in the EXISTING partition directory name rather than
    #    one re-derived from typed values through partitionBy.
    surv_parts = [
        (
            scan_group(key, aff)
            .join(src_keys, on=keys, how="left_anti")
            .select(*[f.name for f in data_fields]),
            os.path.join(dest, os.path.dirname(aff[0])),
        )
        for key, aff in sorted(affected.items(), key=lambda kv: repr(kv[0]))
    ]
    # 2b) change data feed: matched old rows are update_preimage, their
    #     source counterparts update_postimage, new-key source rows insert.
    cdc_actions: list[dict] = []
    changes = None
    if _cdf_enabled(meta):
        cols = [f.name for f in schema.fields]
        pre_parts = [
            scan_group(key, aff).join(src_keys, on=keys, how="left_semi").select(*cols)
            for key, aff in sorted(affected.items(), key=lambda kv: repr(kv[0]))
        ]
        if pre_parts:
            pre = functools.reduce(lambda a, b: a.unionByName(b), pre_parts)
            # One LEFT join against the matched key set tags each source
            # row post-image (key present in an affected file) or insert
            # (new key) — the old separate semi+anti joins against an
            # eagerly-checkpointed key set cost an extra materialization
            # action per merge. `pre` derives from immutable parquet
            # files, so re-evaluating its key set inside one plan sees
            # the same keys the preimage branch saw (the checkpoint was
            # pinning determinism the scan already has; the SOURCE
            # determinism requirement is documented above and unchanged).
            matched = pre.select(*keys).distinct().withColumn("__m", F.lit(1))
            changes = pre.withColumn(
                "_change_type", F.lit("update_preimage")
            ).unionByName(
                df.join(matched, on=keys, how="left")
                .select(
                    *cols,
                    F.when(F.col("__m") == 1, F.lit("update_postimage"))
                    .otherwise(F.lit("insert"))
                    .alias("_change_type"),
                )
            )
        else:
            changes = df.select(*cols).withColumn("_change_type", F.lit("insert"))

    # 3) insert ALL source rows (updates and new keys) as new files; on an
    #    unpartitioned table the deferred survivor rewrite rides the same
    #    write (one write action instead of two)
    def _insert_write(att: commit.Attempt) -> list[str]:
        if part_cols:
            return _stage_data(att, df, dest, part_cols)
        out = df.select(*[f.name for f in data_fields])
        for surv, _dir in surv_parts:
            out = out.unionByName(surv)
        return _stage_data(att, out, dest)

    # The CDC write and the data-file writes each stage in their own
    # attempt directory and both happen strictly before the commit, so
    # they run as two CONCURRENT jobs (guide §2.6: the scheduler overlaps
    # independent actions; a lifecycle commit's wall is mostly per-action
    # driver gaps, which now overlap). Failure in either drops the
    # attempt's files before the commit is written.
    with commit.Attempt(dest) as att:
        placed = [
            path
            for surv, out_dir in (surv_parts if part_cols else [])
            for path in _stage_data(att, surv, out_dir)
        ]
        if changes is not None:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_cdc = pool.submit(_write_cdc, att, dest, changes, part_cols)
                placed += pool.submit(_insert_write, att).result()
                cdc_actions = fut_cdc.result()
        else:
            placed += _insert_write(att)

        # 4) commit: remove rewritten files, add the files this attempt wrote
        rewritten = [rel for aff in affected.values() for rel in sorted(aff)]
        version, adds, total = _commit_rewrite(
            dest, versions, rewritten, placed, extra=cdc_actions
        )
    return {
        "version": version,
        "removed_files": n_affected,
        "added_files": len(adds),
        "bytes": total,
        "cdc_files": len(cdc_actions),
    }


def export_delta_replace_where(
    spark, df: DataFrame, dest: str, partition_values: dict
) -> dict:
    """Atomic partition overwrite (Delta ``replaceWhere`` restricted to
    partition-column equality): every live file whose partition values
    match ``partition_values`` is removed and ``df`` becomes the
    partition's new content, in ONE commit — the idempotent
    "re-publish this day/source" operation a backfill pipeline runs.

    Restrictions keep it honest: the predicate columns must be partition
    columns (a non-partition replaceWhere is a row-level rewrite — use
    merge/delete), and every ``df`` row must match the predicate
    (writing non-matching rows under a replaced partition would corrupt
    partition pruning; refused after one bounded validation aggregate).

    Scale shape: removal is a log-level file-list filter (no data read
    at all — partition values live in the log); the write is one
    distributed partitioned append; the commit is O(files touched).
    """
    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    if _cdf_enabled(meta):
        # a replaceWhere commit mixes dataChange adds and removes; without
        # cdc files its row-level delta is unrecoverable, and emitting it
        # silently would poison every change-feed consumer downstream
        raise DeltaExportError(
            "replaceWhere does not yet publish change data; this table has "
            "delta.enableChangeDataFeed=true — use export_delta_delete + "
            "export_delta_append (or merge) so the feed stays complete"
        )
    if df.schema.json() != meta["schemaString"]:
        raise DeltaExportError(
            "replaceWhere source schema differs from the exported table's "
            "schema; export a new table instead of evolving this one"
        )
    _validate_constraints(df, _constraints(meta))
    part_cols = list(meta.get("partitionColumns") or [])
    bad = [c for c in partition_values if c not in part_cols]
    if bad:
        raise DeltaExportError(
            f"replaceWhere columns {bad} are not partition columns "
            f"{part_cols}; a non-partition replace is a row-level "
            "rewrite — use export_delta_merge/export_delta_delete"
        )
    if not partition_values:
        raise DeltaExportError("replaceWhere needs at least one partition predicate")
    from pyspark.sql import functions as F

    mismatch = None
    for c, v in partition_values.items():
        m = ~F.col(c).eqNullSafe(F.lit(v))
        mismatch = m if mismatch is None else mismatch | m
    n_bad = df.where(mismatch).count()
    if n_bad:
        raise DeltaExportError(
            f"{n_bad} source rows do not match the replaceWhere predicate "
            f"{partition_values}; refusing to write them under the "
            "replaced partition"
        )
    def _pv_str(v):
        # the log stores partition values in Spark's Hive dir encoding:
        # booleans are lowercase 'true'/'false', never Python's 'True'
        # (round-7 review fix: str(True) matched nothing, so the old
        # partition silently stayed live under the new rows)
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    # removal set straight from the log — no data read
    doomed = [
        p
        for p, a in files.items()
        if all(
            (a.get("partitionValues") or {}).get(c) == _pv_str(v)
            for c, v in partition_values.items()
        )
    ]
    with commit.Attempt(dest) as att:
        version, adds, total = _commit_rewrite(
            dest,
            versions,
            [unquote(p) for p in sorted(doomed)],
            _stage_data(att, df, dest, part_cols),
        )
    return {
        "version": version,
        "removed_files": len(doomed),
        "added_files": len(adds),
        "bytes": total,
    }


def export_delta_optimize(spark, dest: str) -> dict:
    """Compact each partition of an exported table to ONE file — the
    Delta OPTIMIZE shape: the commit's ``remove``/``add`` actions all
    carry ``dataChange: false``, so log consumers know no ROWS changed
    (a streaming tail emits nothing for it; snapshot readers just see
    fewer files). Partitions already at one file are left untouched; if
    nothing needs compacting, nothing commits (``version None``).
    """
    from pyspark.sql import types as T

    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    part_cols = list(meta.get("partitionColumns") or [])
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    file_schema = T.StructType(data_fields)

    groups = _partition_groups(files, part_cols)
    todo = {k: sorted(v) for k, v in groups.items() if len(v) > 1}
    if not todo:
        return {"version": None, "compacted_files": 0, "new_files": 0}

    removed = sorted(r for rels in todo.values() for r in rels)
    with commit.Attempt(dest) as att:
        placed = [
            path
            for _key, rels in sorted(todo.items(), key=lambda kv: repr(kv[0]))
            for path in _stage_data(
                att,
                spark.read.schema(file_schema).parquet(*[os.path.join(dest, r) for r in rels]).coalesce(1),
                os.path.join(dest, os.path.dirname(rels[0])),
            )
        ]
        version, adds, _ = _commit_rewrite(dest, versions, removed, placed, data_change=False)
    return {"version": version, "compacted_files": len(removed), "new_files": len(adds)}


def export_delta_vacuum(dest: str, keep_versions: int = 1) -> dict:
    """Physically delete the files no longer referenced by the newest
    ``keep_versions`` snapshots — the storage-reclaim half of VACUUM for
    tables this exporter owns (CoW deletes and OPTIMIZE leave their
    rewritten inputs on disk until this runs), through the commit
    kernel's ``reclaim``. Retained: the data files live at any kept
    version and the ``_change_data`` files of every commit in the log
    (the change feed's retention); everything else under the table's
    root but outside ``_delta_log`` goes, a killed writer's files
    included. Time travel to versions older than the retention window
    fails loudly at scan time afterwards, exactly like a vacuumed Delta
    table. Must not run concurrently with a writer.

    Driver cost is one text-log replay, O(actions) — never rows.
    Returns {"removed_files", "reclaimed_bytes", "live_files"}.
    """
    if keep_versions < 1:
        raise DeltaExportError("keep_versions must be >= 1")
    dest = dest.rstrip("/")
    _meta, versions, _files, _txns = _read_own_log(dest)
    kept = set(versions[-keep_versions:])
    live: set[str] = set()
    adds: set[str] = set()
    cdc: set[str] = set()
    for v in versions:
        for a in _log_actions(_log_path(dest, v)):
            if "add" in a:
                adds.add(unquote(a["add"]["path"]))
            elif "remove" in a:
                adds.discard(unquote(a["remove"]["path"]))
            elif "cdc" in a:
                cdc.add(unquote(a["cdc"]["path"]))
        if v in kept:
            live |= adds
    removed = commit.reclaim(dest, live | cdc, ("_delta_log/*",))
    return {
        "removed_files": len(removed),
        "reclaimed_bytes": sum(removed.values()),
        "live_files": len(live),
    }


def export_delta_zorder(
    spark, dest: str, cols: list[str], bits: int = 8, n_files: int | None = None
) -> dict:
    """OPTIMIZE ZORDER BY for exported tables: rewrite each partition's
    files clustered on the Morton curve over numeric ``cols`` so the
    per-file footer stats (written by ``_add_action``) become tight on
    EVERY listed column at once — the layout that makes E99 data skipping
    prune on any curve dimension, not just a leading sort key. A pure
    layout commit: every remove/add carries ``dataChange: false`` (tails
    emit nothing), logical content unchanged.

    Mechanism mirrors VersionedTable.optimize_zorder (sources/
    versioned.py): rank-normalize each column to ``bits`` bits against
    approxQuantile boundaries (one sketch pass, NO global sort), fold the
    broadcast boundary array row-locally, interleave bits into one Morton
    key, range-partition files on it.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not cols:
        raise DeltaExportError("zorder needs at least one column")
    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    part_cols = list(meta.get("partitionColumns") or [])
    if set(cols) & set(part_cols):
        raise DeltaExportError("zorder columns must be data columns, not partitions")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    file_schema = T.StructType(data_fields)

    groups = _partition_groups(files, part_cols)

    removed: list[str] = []
    rewrites: list[tuple[DataFrame, str]] = []
    n = 1 << bits
    probs = [i / n for i in range(1, n)]
    for key, rels in sorted(groups.items(), key=lambda kv: repr(kv[0])):
        df = spark.read.schema(file_schema).parquet(
            *[os.path.join(dest, r) for r in sorted(rels)]
        )
        z = df
        for c in cols:
            bounds = df.stat.approxQuantile(c, probs, 1.0 / (4 * n))
            arr = F.array(*[F.lit(float(b)) for b in bounds])
            z = z.withColumn("__bnd", arr).withColumn(
                f"__r_{c}",
                F.expr(
                    f"aggregate(__bnd, 0L, (acc, b) -> acc + IF(cast({c} as double) > b, 1L, 0L))"
                ),
            ).drop("__bnd")
        k = len(cols)
        terms = [
            f"(((__r_{c} >> {b}) & 1) << {b * k + i})"
            for b in range(bits)
            for i, c in enumerate(cols)
        ]
        z = z.withColumn("__zkey", F.expr(" + ".join(terms)).cast("long"))
        nf = n_files or max(1, len(rels))
        out = z.repartitionByRange(nf, F.col("__zkey")).drop(
            "__zkey", *[f"__r_{c}" for c in cols]
        )
        rewrites.append((out, os.path.join(dest, os.path.dirname(sorted(rels)[0]))))
        removed.extend(rels)

    with commit.Attempt(dest) as att:
        placed = [p for out, out_dir in rewrites for p in _stage_data(att, out, out_dir)]
        version, adds, _ = _commit_rewrite(
            dest, versions, sorted(removed), placed, data_change=False
        )
    return {"version": version, "rewritten_files": len(removed), "new_files": len(adds)}


def checkpoint_export_v2(
    spark, dest: str, n_sidecars: int = 2, trim: bool = False
) -> int:
    """Write a V2 UUID-named checkpoint (PROTOCOL.md "V2 Checkpoint
    Spec") for a table this module exported — the writer-side twin of
    ``DeltaLogReader._load_checkpoint_v2``.

    Exactly as delta-spark does when the feature is enabled, this first
    commits a PROTOCOL UPGRADE (minReaderVersion 3 + readerFeatures
    [v2Checkpoint], writer side lifted to table features) — readers must
    be told V2 checkpoints exist before one appears — then writes:

      * ``_sidecars/<uuid>-<k>.parquet``: the add actions, range-split
        into ``n_sidecars`` files. At 100 TB this is the layout's whole
        point: checkpoint state splits across many sidecars that readers
        load as a normal multi-file parquet scan, and an incremental
        checkpointer rewrites only CHANGED sidecars;
      * ``<version>.checkpoint.<uuid>.json``: the manifest carrying
        protocol, metaData, and one ``sidecar`` action per part file;
      * ``_last_checkpoint`` naming the new version.

    ``trim=True`` deletes the JSON commits the checkpoint covers (the
    log half of VACUUM). The table becomes read-only to this module's
    text-log append path afterwards — which checkpointed tables already
    are — while ``DeltaLogReader`` replays from the manifest. Sidecar
    actions carry the protocol-required ``sizeInBytes`` (plus
    ``modificationTime``) and ``_last_checkpoint`` the v2 summary
    fields, but interop with delta-spark's v2 reader is untested here
    (no delta-spark in this environment) — the verified replay contract
    is this module's own reader. Returns the checkpoint version. The
    UUID is derived deterministically from (dest, version) so re-runs
    reproduce the same sidecar layout byte-for-byte.
    """
    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    if _stored_protocol_is_v2(dest):
        # already upgraded by an earlier checkpoint_export_v2: checkpoint
        # the current head, no duplicate protocol commit
        head = versions[-1]
    else:
        # protocol upgrade commit: the reader-visible declaration that V2
        # checkpoints exist
        head = _publish(dest, versions[-1] + 1, [{"protocol": _v2_protocol(meta)}])

    uuid_str = _v2_uuid(dest, head)
    ordered = sorted(files)
    n_sidecars = max(1, min(n_sidecars, len(ordered) or 1))
    chunk = -(-len(ordered) // n_sidecars) if ordered else 1
    sidecar_names = [
        _write_sidecar(spark, dest, files, ordered[k * chunk : (k + 1) * chunk], f"{uuid_str}-{k:03d}.parquet")
        for k in range(n_sidecars)
    ]
    _write_v2_manifest(dest, head, uuid_str, meta, sidecar_names, len(ordered))
    if trim:
        for v in [*versions, head]:
            p = _log_path(dest, v)
            if os.path.isfile(p):
                os.remove(p)
    return head


def _v2_protocol(meta: dict) -> dict:
    """The protocol of a V2-checkpointed export: reader feature
    v2Checkpoint, writer features mirroring what the table uses."""
    cfg = meta.get("configuration") or {}
    feats = {"v2Checkpoint"}
    if cfg.get("delta.enableChangeDataFeed") == "true":
        feats.add("changeDataFeed")
    if any(k.startswith("delta.constraints.") for k in cfg):
        feats.add("checkConstraints")
    if cfg.get("delta.enableInCommitTimestamps") == "true":
        feats.add("inCommitTimestamp")
    if _generation_exprs(meta):
        feats.add("generatedColumns")
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": sorted(feats),
    }


def _v2_uuid(dest: str, head: int) -> str:
    """Checkpoint UUID derived from (dest, version), so re-runs reproduce
    the same sidecar layout byte-for-byte."""
    uid = hashlib.md5(f"{dest}@{head}".encode()).hexdigest()
    return f"{uid[:8]}-{uid[8:12]}-{uid[12:16]}-{uid[16:20]}-{uid[20:32]}"


def _add_struct():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
            T.StructField("size", T.LongType()),
            T.StructField("modificationTime", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
        ]
    )


def _add_row(a: dict) -> tuple:
    """One checkpoint ``add`` struct from a replayed add action."""
    return (
        a["path"],
        dict(a.get("partitionValues") or {}),
        int(a.get("size") or 0),
        int(a.get("modificationTime") or 0),
        bool(a.get("dataChange", True)),
    )


def _write_sidecar(spark, dest: str, files: dict, part: list[str], name: str) -> str:
    """Write the adds of ``part`` as sidecar ``name``; returns the name."""
    from pyspark.sql import types as T

    commit.write_single_parquet(
        local_frame(
            spark,
            [(_add_row(files[p]),) for p in part],
            T.StructType([T.StructField("add", _add_struct())]),
        ),
        os.path.join(dest, "_delta_log", "_sidecars", name),
    )
    return name


def _write_v2_manifest(
    dest: str, head: int, uuid_str: str, meta: dict, sidecars: list[str], n_adds: int
) -> None:
    """Publish ``<head>.checkpoint.<uuid>.json`` (protocol, metaData, one
    ``sidecar`` action per part file), then ``_last_checkpoint``."""
    log_dir = os.path.join(dest, "_delta_log")
    actions = [
        {"protocol": _v2_protocol(meta)},
        {
            "metaData": {
                "id": meta["id"],
                "format": meta.get("format") or {"provider": "parquet", "options": {}},
                "schemaString": meta["schemaString"],
                "partitionColumns": list(meta.get("partitionColumns") or []),
                "configuration": dict(meta.get("configuration") or {}),
            }
        },
    ]
    total_sidecar_bytes = 0
    for name in sidecars:
        st = os.stat(os.path.join(log_dir, "_sidecars", name))
        total_sidecar_bytes += st.st_size
        # PROTOCOL.md marks sizeInBytes required on the sidecar action;
        # modificationTime is optional but cheap from the same stat call.
        actions.append(
            {
                "sidecar": {
                    "path": name,
                    "sizeInBytes": st.st_size,
                    "modificationTime": int(st.st_mtime * 1000),
                }
            }
        )
    manifest = os.path.join(log_dir, f"{head:020d}.checkpoint.{uuid_str}.json")
    commit.replace_atomic(manifest, "".join(json.dumps(a) + "\n" for a in actions))
    commit.replace_atomic(
        os.path.join(log_dir, "_last_checkpoint"),
        json.dumps(
            {
                "version": head,
                "size": n_adds + 2,
                "sizeInBytes": total_sidecar_bytes + os.stat(manifest).st_size,
                "numOfAddFiles": n_adds,
                "checkpointSchema": None,
                "tags": None,
            }
        ),
    )


def _stored_protocol_is_v2(dest: str) -> bool:
    """True when a JSON commit already carries the v2Checkpoint protocol
    upgrade this module writes."""
    log_dir = os.path.join(dest, "_delta_log")
    is_v2 = False
    for f in sorted(os.listdir(log_dir)):
        if not (f.endswith(".json") and f[:20].isdigit() and ".checkpoint." not in f):
            continue
        for a in _log_actions(os.path.join(log_dir, f)):
            if "protocol" in a:
                is_v2 = "v2Checkpoint" in (a["protocol"].get("readerFeatures") or [])
    return is_v2


def _latest_v2_manifest(dest: str) -> tuple[int, str] | None:
    """(version, absolute path) of the newest V2 UUID manifest, or None."""
    log_dir = os.path.join(dest, "_delta_log")
    best: tuple[int, str] | None = None
    for f in os.listdir(log_dir):
        if ".checkpoint." in f and f.endswith(".json") and f[:20].isdigit():
            v = int(f[:20])
            if best is None or v > best[0]:
                best = (v, os.path.join(log_dir, f))
    return best


def checkpoint_export_v2_incremental(spark, dest: str) -> dict:
    """Advance a table's V2 checkpoint to the current head REWRITING ONLY
    CHANGED SIDECARS — the at-scale contract checkpoint_export_v2's
    docstring promises. Each previous sidecar owns the set of data files
    it recorded; a sidecar whose add set is byte-for-byte unchanged
    since the last checkpoint is carried into the new manifest BY
    REFERENCE (the old parquet file, untouched on disk). A sidecar that
    lost or changed a file (CoW delete, OPTIMIZE) is rewritten with its
    surviving members — or dropped when none survive — and files new
    since the last checkpoint form one fresh sidecar. So a pure append
    reuses ALL previous sidecars plus one new file, and checkpoint cost
    is O(changed sidecars), not O(table) — at 100 TB the difference
    between re-serializing millions of add rows per checkpoint and
    writing the one range an append created. (Sidecar membership is a
    writer choice; readers union whatever the manifest names, so
    set-based ownership is as valid as range splits and is stable under
    Spark's randomized part-file names.)

    Requires an untrimmed table previously checkpointed by
    ``checkpoint_export_v2`` (the text log must still replay). Returns
    ``{"version", "reused", "rewritten", "sidecars"}`` where ``reused``
    lists carried-forward sidecar file names and ``sidecars`` the new
    manifest's full ordered list.

    Known bound: sidecar files superseded by a rewrite linger in
    ``_sidecars/`` (readers only load what the newest manifest names, so
    they are inert; disk growth is O(rewrites), reclaimable by deleting
    any sidecar no manifest references — the same referenced-set rule
    ``export_delta_vacuum`` applies to data files).
    """
    import pyarrow.parquet as pq

    dest = dest.rstrip("/")
    meta, versions, files, _txns = _read_own_log(dest)
    prev = _latest_v2_manifest(dest)
    if prev is None:
        raise DeltaExportError(
            f"{dest} has no V2 checkpoint; run checkpoint_export_v2 first"
        )
    prev_v, prev_manifest = prev
    head = versions[-1]
    if head == prev_v:
        raise DeltaExportError(
            f"{dest}: no commits after checkpoint version {prev_v}; "
            "nothing to advance"
        )
    side_dir = os.path.join(dest, "_delta_log", "_sidecars")

    # previous sidecar layout: ordered names + each one's add rows as
    # comparable tuples
    prev_sidecars: list[str] = []
    with open(prev_manifest) as fh:
        for line in fh:
            if line.strip():
                a = json.loads(line)
                if "sidecar" in a and a["sidecar"].get("path"):
                    prev_sidecars.append(a["sidecar"]["path"])

    def add_key(add: dict) -> tuple:
        # partitionValues arrives as a dict from the JSON log but as a
        # list of (k, v) tuples when the sidecar parquet's MAP column is
        # read back through pyarrow — dict() normalizes both shapes
        pv = add.get("partitionValues") or {}
        return (
            add["path"],
            int(add.get("size") or 0),
            int(add.get("modificationTime") or 0),
            bool(add.get("dataChange", True)),
            tuple(sorted(dict(pv).items())),
        )

    prev_rows: list[tuple[str, list[tuple]]] = []  # (name, sorted add keys)
    for name in prev_sidecars:
        tbl = pq.read_table(os.path.join(side_dir, name)).to_pylist()
        keys = sorted(add_key(r["add"]) for r in tbl if r.get("add"))
        prev_rows.append((name, keys))

    # group the CURRENT file list by which old sidecar owned each path;
    # paths no old sidecar recorded are new since the last checkpoint
    ordered = sorted(files)
    owner: dict[str, int] = {}
    for idx, (_name, keys) in enumerate(prev_rows):
        for key in keys:
            owner[key[0]] = idx
    buckets: list[list[str]] = [[] for _ in prev_rows]
    fresh: list[str] = []
    for p in ordered:
        if p in owner:
            buckets[owner[p]].append(p)
        else:
            fresh.append(p)

    uuid_str = _v2_uuid(dest, head)
    reused: list[str] = []
    out_names: list[str] = []
    k = 0
    for (old_name, old_keys), part in zip(prev_rows, buckets):
        if sorted(add_key(files[p]) for p in part) == old_keys:
            reused.append(old_name)
            out_names.append(old_name)
        elif part:  # dirty: rewrite with the surviving members
            out_names.append(_write_sidecar(spark, dest, files, part, f"{uuid_str}-{k:03d}.parquet"))
            k += 1
        # else: every file the old sidecar owned is gone — drop it
    if fresh:
        out_names.append(_write_sidecar(spark, dest, files, fresh, f"{uuid_str}-{k:03d}.parquet"))

    # manifest at the new head: protocol (already upgraded — enforced by
    # _read_own_log accepting it), metaData, one sidecar action per group
    _write_v2_manifest(dest, head, uuid_str, meta, out_names, len(ordered))
    return {
        "version": head,
        "reused": reused,
        "rewritten": len(out_names) - len(reused),
        "sidecars": out_names,
    }


def export_delta_evolve_add_column(
    spark, dest: str, name: str, sql_type: str
) -> int:
    """SCHEMA EVOLUTION, the one shape that is always safe: append a new
    NULLABLE column to an exported table's schema via a metaData-only
    commit (PROTOCOL.md: the latest metaData wins at replay). Existing
    data files simply lack the column and every Delta reader — including
    ``DeltaLogReader`` — surfaces NULL for their rows, because the scan
    schema comes from the table metadata, not the file footers. Later
    appends must carry the evolved schema (the exporter's exact-schema
    rule continues to hold, now against the NEW schema).

    Renames, drops, and type changes remain refused: they require column
    mapping to be correct, and half-supporting them corrupts. Returns
    the commit version.
    """
    from pyspark.sql import types as T

    dest = dest.rstrip("/")
    meta, versions, _files, _txns = _read_own_log(dest)
    sch = json.loads(meta["schemaString"])
    if any(f["name"] == name for f in sch["fields"]):
        raise DeltaExportError(f"column {name!r} already exists")
    # validate + canonicalize the type through Spark's own parser
    field_t = T._parse_datatype_string(sql_type)
    sch["fields"].append(
        {
            "name": name,
            "type": json.loads(field_t.json()),
            "nullable": True,
            "metadata": {},
        }
    )
    new_meta = dict(meta)
    new_meta["schemaString"] = json.dumps(sch)
    return _publish(dest, versions[-1] + 1, [{"metaData": new_meta}], _rebase(dest, ()))


# ---------------------------------------------------------------------------
# Zero-copy Iceberg -> Delta migration: the mirror of iceberg.py's
# convert_delta_to_iceberg. Iceberg data files are SELF-CONTAINED
# (partition source columns stay in the files; partitioning is manifest
# metadata), so ANY partition layout converts — the Delta table simply
# reads them as an unpartitioned file set, with per-file footer stats
# riding the adds for data skipping. Add paths are written ABSOLUTE
# (percent-encoded URIs, which the Delta protocol allows and
# DeltaLogReader resolves verbatim); no data byte moves.
# ---------------------------------------------------------------------------


def convert_iceberg_to_delta(spark, iceberg_dir: str, delta_dir: str) -> dict:
    """Publish an Iceberg v2 table's CURRENT snapshot as a new
    single-commit Delta table whose adds reference the SAME live parquet
    files by absolute path — one footer read per file, O(files), zero
    data rewritten. The Iceberg metadata remains that table's truth; the
    new Delta log owns only its own directory.

    Honest refusals — conversions that would change data or lie:
      * live DELETE files (position or equality): the current snapshot's
        logical rows differ from the physical files — compact first;
      * evolved schemas (>1 schema id): old files keep pre-evolution
        physical column names that a schemaString cannot re-alias —
        compact first;
      * a destination that already has a ``_delta_log``.

    The metaData id is prefixed ``convert-`` (not ``export-``), so this
    module's append/merge lifecycle refuses the converted table — its
    data files belong to the Iceberg table; growing the Delta side
    independently would silently fork the two."""
    from data_etl_pipeline_spark.sources.iceberg import IcebergTable, _local

    dest = delta_dir.rstrip("/")
    log_dir = os.path.join(dest, "_delta_log")
    if os.path.isdir(log_dir):
        raise DeltaExportError(
            f"{dest} already has a _delta_log; refusing to touch an "
            "existing Delta table's log"
        )
    t = IcebergTable(spark, iceberg_dir)
    data, deletes = t._manifest_entries()
    if deletes:
        raise DeltaExportError(
            "the current snapshot carries delete files — its logical rows "
            "differ from the physical data files; run compact_iceberg "
            "first, then convert"
        )
    if len(t.meta.get("schemas") or []) > 1:
        raise DeltaExportError(
            "the table has evolved schemas — files written before the "
            "evolution keep old physical column names; run "
            "compact_iceberg first, then convert"
        )
    files = sorted(os.path.abspath(_local(f["path"], iceberg_dir)) for f in data)
    if not files:
        raise DeltaExportError("the Iceberg table has no live data files")
    schema_string = _strip_field_metadata(spark.read.parquet(files[0]).schema.json())
    adds = []
    total = 0
    for full in files:
        st = os.stat(full)
        add = {
            "path": quote(full),
            "partitionValues": {},
            "size": st.st_size,
            "modificationTime": int(st.st_mtime * 1000),
            "dataChange": True,
        }
        stats = _file_stats(full)
        if stats is not None:
            add["stats"] = stats
        adds.append({"add": add})
        total += st.st_size
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "convert-" + hashlib.md5(dest.encode()).hexdigest()[:12],
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {},
                "createdTime": int(time.time() * 1000),
            }
        },
        *adds,
    ]
    _publish(dest, 0, actions)
    return {"n_files": len(adds), "bytes": total}
