"""Minimal Delta Lake TRANSACTION-LOG READER (interop, read-only).

The Delta log protocol is public (delta.io PROTOCOL.md): a table is a
directory of parquet data files plus ``_delta_log/%020d.json`` commits,
each a line-delimited list of actions — ``metaData`` (schemaString = a
Spark JSON schema, partitionColumns), ``add`` (path, partitionValues,
dataChange) and ``remove`` (path).  A snapshot at version N is the replay
of actions 0..N: the last metaData wins and files = adds minus removes.

This reader reconstructs snapshots and time travel for tables written by
real Delta writers WITHOUT the delta-spark package — the interop seam for
"point the engine at an existing lakehouse":

  * version listing / ``read(version=)`` time travel;
  * partitioned tables: ``partitionValues`` are re-attached as literal
    columns cast through the table schema (Delta stores them in the path
    and the log, not the parquet files);
  * CHECKPOINTS: real tables checkpoint every ~10 commits and may vacuum
    the JSON commits the checkpoint covers. ``_replay`` starts from the
    newest checkpoint at or below the target version — classic
    single-file ``%020d.checkpoint.parquet``, multi-part
    ``%020d.checkpoint.%010d.%010d.parquet`` (validated complete: parts
    exactly 1..total, no single/multi mix at one version), or a
    UUID-named V2 checkpoint (readerFeature ``v2Checkpoint``; manifest
    parquet or json plus ``_sidecars/`` parquet files holding the add
    actions) — and replays only the JSON commits after it; time travel
    to a pre-checkpoint version falls back to pure-JSON replay when
    those commits still exist. Checkpoint loading is column-pruned and
    streamed (``toLocalIterator``) so driver memory tracks the retained
    add set, not the checkpoint row count.
  * DELETION VECTORS: inline (storageType ``"i"``, a Z85-encoded
    serialized RoaringBitmapArray in the log) AND file-based
    (``"u"``/``"p"`` — the sidecar ``deletion_vector_<uuid>.bin`` files
    real writers emit for non-tiny deletes; CRC-verified framing). All
    DV-bearing files are read in ONE plan branch: a single scan
    anti-joined on a canonical (decoded file path, ``_metadata.
    row_index``) key with URI percent-encoding normalized on both sides.
  * COLUMN MAPPING: mode ``name`` (scan under physical names, rename to
    logical) and mode ``id`` (parquet field-id matching via
    ``spark.sql.parquet.fieldId.read.enabled`` with ``parquet.field.id``
    metadata carried into the scan schema — the conf rides an isolated
    child session so it never leaks into the caller's parquet scans);
    unknown modes fail loudly.
  * remaining unsupported reader features keep failing loudly.

Write support intentionally does not exist here: the engine's own
VersionedTable covers the write path; writing a foreign table's log
without its full protocol (invariants, DVs, column mapping) would corrupt
it.  The Z85/roaring ENCODERS at the bottom exist to build
protocol-correct DV fixtures for tests and interop queries (and give the
decoder a symmetry check against hand-derived byte vectors).
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_etl_pipeline_spark.sources.footerprune import (
    file_uri_path,
    file_uri_path_col,
    hive_partition_values,
)
from data_etl_pipeline_spark.tables import local_frame


class DeltaProtocolError(RuntimeError):
    """The table uses a protocol feature this minimal reader cannot honor."""


_CP_SINGLE = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_CP_MULTI = re.compile(r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
_CP_V2 = re.compile(r"^(\d{20})\.checkpoint\.[0-9a-fA-F-]{36}\.(json|parquet)$")
_COMMIT = re.compile(r"^(\d{20})\.json$")


class DeltaLogReader:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._log_dir = os.path.join(self.path, "_delta_log")
        # data-file scans run on this session; _schema_plan swaps in an
        # isolated child session when a table needs scan-scoped SQL conf
        # (column mapping mode 'id'), so reader needs never leak into the
        # caller's session (round-7 ADVICE fix)
        self._scan_spark = spark

    def _field_id_session(self) -> SparkSession:
        """A cached child session with parquet field-id matching enabled.

        ``spark.sql.parquet.fieldId.read.enabled`` is a session-wide SQL
        conf with no per-reader option; setting it on the caller's session
        would change column resolution for every later parquet scan whose
        files carry field-id metadata. ``newSession()`` shares the
        SparkContext (same executors, same catalog of temp dirs) but has
        its own SQLConf, and a DataFrame executes under the conf of the
        session that created it — exactly scan-scoped. Runtime confs that
        affect semantics/parallelism are mirrored from the parent.
        """
        cached = getattr(self.spark, "_delta_field_id_session", None)
        if cached is not None:
            return cached
        child = self.spark.newSession()
        for k in (
            "spark.sql.session.timeZone",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
        ):
            try:
                child.conf.set(k, self.spark.conf.get(k))
            except Exception:
                pass
        child.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        self.spark._delta_field_id_session = child
        return child

    # -- log directory scan -------------------------------------------------
    def _scan(self) -> tuple[list[int], dict[int, list[str]]]:
        """Returns (sorted JSON commit versions, {checkpoint version ->
        its parquet part files in order})."""
        if not os.path.isdir(self._log_dir):
            raise ValueError(f"no _delta_log at {self.path}")
        commits: list[int] = []
        cps: dict[int, list[tuple[int, str]]] = {}
        declared_total: dict[int, int] = {}  # multi-part: filename group 3
        singles: set[int] = set()
        for f in os.listdir(self._log_dir):
            full = os.path.join(self._log_dir, f)
            if m := _COMMIT.match(f):
                commits.append(int(m.group(1)))
            elif m := _CP_SINGLE.match(f):
                v = int(m.group(1))
                singles.add(v)
                cps.setdefault(v, []).append((0, full))
            elif m := _CP_MULTI.match(f):
                v, part, total = int(m.group(1)), int(m.group(2)), int(m.group(3))
                if declared_total.setdefault(v, total) != total:
                    raise DeltaProtocolError(
                        f"checkpoint {v}: part files disagree on the total "
                        f"part count ({declared_total[v]} vs {total})"
                    )
                cps.setdefault(v, []).append((part, full))
            elif m := _CP_V2.match(f):
                v = int(m.group(1))
                cps.setdefault(v, []).append((0, full))
                singles.add(v)  # a V2 manifest is one file at its version
        # COMPLETENESS: a multi-part checkpoint missing any of parts
        # 1..total (a partial sync) would silently drop add actions and
        # return an incomplete snapshot — the silent row loss this reader
        # otherwise refuses loudly. Mixing a single-file and a multi-part
        # checkpoint at one version is equally ambiguous.
        for v, total in declared_total.items():
            if v in singles:
                raise DeltaProtocolError(
                    f"checkpoint {v}: both a single-file and multi-part "
                    "checkpoint exist at the same version"
                )
            parts = sorted(p for p, _ in cps[v])
            if parts != list(range(1, total + 1)):
                raise DeltaProtocolError(
                    f"checkpoint {v}: incomplete multi-part checkpoint — "
                    f"declared {total} parts, found part numbers {parts} "
                    "(missing/partially-synced parts would silently drop "
                    "add actions)"
                )
        return sorted(commits), {
            v: [p for _, p in sorted(parts)] for v, parts in cps.items()
        }

    def versions(self) -> list[int]:
        """All version numbers the log knows about (JSON commits plus
        checkpoint versions — a checkpoint IS the state at its version, so
        it is readable even if its JSON commits were vacuumed)."""
        commits, cps = self._scan()
        out = sorted(set(commits) | set(cps))
        if not out:
            raise ValueError(f"empty _delta_log at {self.path}")
        return out

    # -- protocol/action handling ------------------------------------------
    @staticmethod
    def _check_protocol(proto: dict) -> None:
        mrv = proto.get("minReaderVersion", 1)
        feats = set(proto.get("readerFeatures") or [])
        if mrv == 1 and not feats:
            return
        if mrv == 2 and not feats:
            # column-mapping capability: honored for mode 'name'/'none';
            # mode 'id' refuses at metaData handling with a precise message
            return
        if mrv == 3 and feats <= {
            "deletionVectors",
            "columnMapping",
            "v2Checkpoint",
            # TIMESTAMP_NTZ columns: the schemaString's timestamp_ntz type
            # maps straight onto Spark's TimestampNTZType and the data
            # files' isAdjustedToUTC=false parquet timestamps — a type
            # passthrough, no interpretation change
            "timestampNtz",
        }:
            return  # these features are honored (or refused per-file/mode)
        # unknown features change how data files must be interpreted —
        # reading anyway would return silently-wrong rows, so the protocol
        # REQUIRES refusal here
        raise DeltaProtocolError(
            f"table requires Delta reader protocol {proto}; this reader "
            "supports minReaderVersion 1, 2 (column mapping mode "
            "'name'/'id'/'none'), or 3 with readerFeatures [deletionVectors, "
            "columnMapping, v2Checkpoint, timestampNtz]"
        )

    def _iter_action_rows(self, paths: list[str], wanted: list[str]):
        """Stream (column -> struct dict) rows from checkpoint-shaped
        parquet, PRUNED to the action columns that exist and filtered to
        rows carrying one of them — driver memory stays proportional to
        the add set actually retained, not the full checkpoint (real
        checkpointed tables carry millions of add rows; ``collect`` on
        all columns is a driver OOM)."""
        cp = self.spark.read.parquet(*paths)
        cols = [c for c in wanted if c in cp.columns]
        if not cols:
            return
        pruned = cp.select(*cols).where(
            " OR ".join(f"{c} IS NOT NULL" for c in cols)
        )
        for row in pruned.toLocalIterator():
            yield row.asDict(recursive=True)

    def _load_checkpoint(self, paths: list[str]) -> tuple[dict | None, dict[str, dict]]:
        """State from a checkpoint: protocol check, last metaData, and the
        complete add-file set (remove rows are vacuum tombstones —
        checkpoint state already excludes their files). Handles classic
        single/multi-part parquet checkpoints and UUID-named V2
        checkpoints (manifest parquet or json + ``_sidecars/`` parquet
        files holding the file actions)."""
        if len(paths) == 1 and _CP_V2.match(os.path.basename(paths[0])):
            return self._load_checkpoint_v2(paths[0])
        meta = None
        files: dict[str, dict] = {}
        for d in self._iter_action_rows(paths, ["protocol", "metaData", "add"]):
            if d.get("protocol") and d["protocol"].get("minReaderVersion") is not None:
                self._check_protocol(
                    {k: v for k, v in d["protocol"].items() if v is not None}
                )
            if d.get("metaData") and d["metaData"].get("schemaString"):
                meta = d["metaData"]
            if d.get("add") and d["add"].get("path"):
                files[d["add"]["path"]] = d["add"]
        return meta, files

    def _load_checkpoint_v2(self, manifest: str) -> tuple[dict | None, dict[str, dict]]:
        """V2 checkpoint (readerFeature ``v2Checkpoint``): the UUID-named
        manifest carries protocol/metaData plus ``sidecar`` actions naming
        parquet files under ``_delta_log/_sidecars/`` that hold the add
        actions (the manifest MAY also carry file actions inline).
        Removes anywhere in the checkpoint are vacuum tombstones, exactly
        as in classic checkpoints."""
        meta = None
        files: dict[str, dict] = {}
        sidecars: list[str] = []

        def take(d: dict) -> None:
            nonlocal meta
            if d.get("protocol") and d["protocol"].get("minReaderVersion") is not None:
                self._check_protocol(
                    {k: v for k, v in d["protocol"].items() if v is not None}
                )
            if d.get("metaData") and d["metaData"].get("schemaString"):
                meta = d["metaData"]
            if d.get("add") and d["add"].get("path"):
                files[d["add"]["path"]] = d["add"]
            if d.get("sidecar") and d["sidecar"].get("path"):
                sidecars.append(d["sidecar"]["path"])

        if manifest.endswith(".json"):
            with open(manifest) as fh:
                for line in fh:
                    if line.strip():
                        take(json.loads(line))
        else:
            for d in self._iter_action_rows(
                [manifest], ["protocol", "metaData", "add", "sidecar"]
            ):
                take(d)
        for sc in sidecars:
            full = os.path.join(self._log_dir, "_sidecars", sc)
            if not os.path.isfile(full):
                raise DeltaProtocolError(
                    f"V2 checkpoint names sidecar {sc!r} but "
                    f"{full} does not exist (partial sync?)"
                )
            for d in self._iter_action_rows([full], ["add"]):
                if d.get("add") and d["add"].get("path"):
                    files[d["add"]["path"]] = d["add"]
        if meta is None:
            raise DeltaProtocolError(
                "V2 checkpoint manifest carries no metaData action"
            )
        return meta, files

    def _replay(self, version: int | None):
        commits, cps = self._scan()
        all_versions = sorted(set(commits) | set(cps))
        if not all_versions:
            raise ValueError(f"empty _delta_log at {self.path}")
        target = all_versions[-1] if version is None else version
        if target not in all_versions:
            raise ValueError(f"no Delta version {version!r} at {self.path}")
        commit_set = set(commits)
        # basis: newest checkpoint <= target whose follow-up JSON commits
        # all exist; else pure-JSON replay 0..target; else the log has a
        # vacuumed hole and replay would silently miss actions
        basis = None
        for cv in sorted(cps, reverse=True):
            if cv <= target and all(v in commit_set for v in range(cv + 1, target + 1)):
                basis = cv
                break
        meta: dict | None = None
        files: dict[str, dict] = {}
        if basis is not None:
            meta, files = self._load_checkpoint(cps[basis])
            replay_from = basis + 1
        else:
            if not all(v in commit_set for v in range(0, target + 1)):
                raise DeltaProtocolError(
                    f"cannot reconstruct version {target}: JSON commits are "
                    "missing (vacuumed?) and no usable checkpoint at or "
                    "below it exists"
                )
            replay_from = 0
        for v in range(replay_from, target + 1):
            with open(os.path.join(self._log_dir, f"{v:020d}.json")) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "protocol" in action:
                        self._check_protocol(action["protocol"])
                    elif "metaData" in action:
                        meta = action["metaData"]
                    elif "add" in action:
                        add = action["add"]
                        files[add["path"]] = add
                    elif "remove" in action:
                        files.pop(action["remove"]["path"], None)
        if meta is None:
            raise DeltaProtocolError("log contains no metaData action")
        return meta, list(files.values())

    # -- deletion-vector materialization ------------------------------------
    def _dv_indexes(self, add: dict) -> list[int]:
        """Deleted row indexes for an add's deletionVector descriptor —
        inline ('i'), UUID-relative sidecar file ('u'), or absolute-path
        sidecar file ('p'). Cardinality is cross-checked against the
        descriptor in every case."""
        dv = add["deletionVector"]
        st = dv.get("storageType")
        if st == "i":
            idxs = decode_inline_dv(dv["pathOrInlineDv"])
        elif st in ("u", "p"):
            idxs = decode_rba(
                read_dv_file_bytes(
                    dv_sidecar_path(self.path, dv),
                    int(dv["offset"]) if dv.get("offset") is not None else 1,
                    int(dv["sizeInBytes"]),
                )
            )
        else:
            raise DeltaProtocolError(
                f"unknown deletion-vector storageType {st!r} on "
                f"{add['path']} — reading without applying it would "
                "resurrect deleted rows"
            )
        card = dv.get("cardinality")
        if card is not None and int(card) != len(idxs):
            raise DeltaProtocolError(
                f"deletion vector cardinality mismatch on "
                f"{add['path']}: declared {card}, decoded {len(idxs)}"
            )
        return idxs

    # -- schema interpretation ----------------------------------------------
    def _schema_plan(self, meta: dict):
        """Interpret a metaData action into everything a file scan needs:
        (table schema, partition columns, logical->physical name map,
        file scan schema, rename projection, column type map).

        COLUMN MAPPING: data files and partitionValues use PHYSICAL
        column names (schema-field metadata
        delta.columnMapping.physicalName). Mode 'name' scans under the
        physical schema and renames back to logical; mode 'id' matches
        parquet columns by FIELD ID (schema-field metadata
        delta.columnMapping.id carried into the scan as
        ``parquet.field.id`` with fieldId.read enabled), which survives
        physical renames the way the protocol requires.
        """
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = meta.get("partitionColumns") or []
        config = meta.get("configuration") or {}
        cm_mode = config.get("delta.columnMapping.mode", "none")
        if cm_mode not in ("none", "name", "id"):
            raise DeltaProtocolError(
                f"column mapping mode {cm_mode!r} is not supported; this "
                "reader handles 'none', 'name' and 'id'"
            )
        phys = {}
        field_ids = {}
        for f in schema.fields:
            md = f.metadata or {}
            if cm_mode in ("name", "id"):
                pn = md.get("delta.columnMapping.physicalName")
                fid = md.get("delta.columnMapping.id")
                if not pn or (cm_mode == "id" and fid is None):
                    raise DeltaProtocolError(
                        f"column mapping mode {cm_mode!r} but field "
                        f"{f.name!r} lacks physicalName/id metadata"
                    )
                phys[f.name] = pn
                field_ids[f.name] = fid
            else:
                phys[f.name] = f.name
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        self._scan_spark = self.spark
        if cm_mode == "id":
            # field-id matching: scan under the LOGICAL names, each field
            # tagged with its parquet field id — Spark's vectorized reader
            # resolves columns by id, so physical parquet names are
            # irrelevant (and files that predate a rename still resolve).
            # The fieldId conf rides an isolated child session, never the
            # caller's (see _field_id_session).
            self._scan_spark = self._field_id_session()
            file_schema = T.StructType(
                [
                    T.StructField(
                        f.name, f.dataType, f.nullable,
                        {"parquet.field.id": int(field_ids[f.name])},
                    )
                    for f in data_fields
                ]
            )
            rename = [F.col(f.name) for f in data_fields]
        else:
            file_schema = T.StructType(
                [
                    T.StructField(phys[f.name], f.dataType, f.nullable)
                    for f in data_fields
                ]
            )
            rename = [F.col(phys[f.name]).alias(f.name) for f in data_fields]
        types = {f.name: f.dataType for f in schema.fields}
        return schema, part_cols, phys, file_schema, rename, types

    # -- stats-based data skipping ------------------------------------------
    _FILTER_OPS = ("=", "<", "<=", ">", ">=")

    @staticmethod
    def _bound_excludes(mn, mx, op: str, v) -> bool:
        """True iff NO value in [mn, mx] can satisfy ``col op v``."""
        try:
            if op == "=":
                return mn > v or mx < v
            if op == "<":
                return mn >= v
            if op == "<=":
                return mn > v
            if op == ">":
                return mx <= v
            if op == ">=":
                return mx < v
        except TypeError:
            return False  # incomparable stats never justify a skip
        return False

    @staticmethod
    def _generation_map(meta: dict) -> dict[str, tuple[str, str]]:
        """{partition_col: (base_col, kind)} for partition columns whose
        ``delta.generationExpression`` (PROTOCOL.md Generated Columns) has
        a recognized MONOTONIC shape — the precondition for deriving
        partition filters from base-column predicates. Kinds: ``day``
        (CAST(x AS DATE)), ``month``/``year``/``week`` (date_trunc cast
        to date), ``year_int`` (year(x)). Unrecognized expressions are
        simply not derived from (never wrong, just unpruned)."""
        try:
            fields = json.loads(meta["schemaString"])["fields"]
        except (KeyError, TypeError, ValueError):
            return {}
        part = set(meta.get("partitionColumns") or [])
        out: dict[str, tuple[str, str]] = {}
        for f in fields:
            if f.get("name") not in part:
                continue
            expr = (f.get("metadata") or {}).get("delta.generationExpression")
            if not isinstance(expr, str):
                continue
            e = " ".join(expr.lower().split())
            m = re.fullmatch(r"cast\((\w+) as date\)", e)
            if m:
                out[f["name"]] = (m.group(1), "day")
                continue
            m = re.fullmatch(
                r"cast\(date_trunc\('(year|month|week|day)', (\w+)\) as date\)", e
            )
            if m:
                out[f["name"]] = (m.group(2), m.group(1))
                continue
            m = re.fullmatch(r"year\((\w+)\)", e)
            if m:
                out[f["name"]] = (m.group(1), "year_int")
        return out

    @staticmethod
    def _derive_partition_filters(filters, gen: dict[str, tuple[str, str]]):
        """Extra (partition_col, op, literal) filters implied by filters
        on generated columns' BASE columns. For a monotone non-decreasing
        generation g: c = v implies g(c) = g(v); c < v implies
        g(c) <= g(v); c > v implies g(c) >= g(v) — strict ops weaken to
        inclusive ones. Date literals serialize as ISO strings, whose
        lexicographic order is chronological, matching the Hive partition
        value strings the log stores."""
        import datetime as _dt

        def as_date(v):
            if isinstance(v, _dt.datetime):
                return v.date()
            if isinstance(v, _dt.date):
                return v
            if isinstance(v, str):
                try:
                    return _dt.date.fromisoformat(v[:10])
                except ValueError:
                    return None
            return None

        weaken = {"=": "=", "<": "<=", "<=": "<=", ">": ">=", ">=": ">="}
        derived = []
        for col, op, v in filters:
            if op not in weaken:
                continue
            for pcol, (base, kind) in gen.items():
                if base != col:
                    continue
                d = as_date(v)
                if d is None:
                    continue
                if kind == "year_int":
                    derived.append((pcol, weaken[op], d.year))
                    continue
                if kind == "month":
                    d = d.replace(day=1)
                elif kind == "year":
                    d = d.replace(month=1, day=1)
                elif kind == "week":
                    d = d - _dt.timedelta(days=d.weekday())
                derived.append((pcol, weaken[op], d.isoformat()))
        return derived

    def _prune_adds(
        self, adds: list[dict], filters, part_cols: list[str], phys: dict,
        gen: dict[str, tuple[str, str]] | None = None,
    ) -> list[dict]:
        """Drop add files whose footer stats (Delta per-file ``stats``
        JSON) or partition literals PROVE no row can match every filter —
        Delta data skipping at the interop boundary. Absent/unparseable
        stats never skip; the same predicates are ALWAYS re-applied in the
        plan, so skipping is a pure pruning optimization whose worst case
        is reading a file the filter then empties (comparison predicates
        never match NULL, so null partition values are skippable).

        ``gen`` (from ``_generation_map``) additionally derives partition
        filters from base-column predicates — pruning a generated-layout
        table even when its files carry no stats at all (foreign writers
        routinely omit them)."""
        if gen:
            filters = list(filters) + self._derive_partition_filters(filters, gen)
        out = []
        for add in adds:
            stats = None
            if add.get("stats"):
                try:
                    stats = json.loads(add["stats"])
                except (TypeError, ValueError):
                    stats = None
            pv = add.get("partitionValues") or {}
            keep = True
            for col, op, v in filters:
                if op not in self._FILTER_OPS:
                    raise ValueError(
                        f"unsupported filter op {op!r}; use one of {self._FILTER_OPS}"
                    )
                pcol = phys.get(col, col)
                if col in part_cols:
                    raw = pv.get(pcol)
                    if raw is None:
                        keep = False
                        break
                    try:
                        pval = type(v)(raw)
                    except (TypeError, ValueError):
                        continue
                    if self._bound_excludes(pval, pval, op, v):
                        keep = False
                        break
                elif stats:
                    mn = (stats.get("minValues") or {}).get(pcol)
                    mx = (stats.get("maxValues") or {}).get(pcol)
                    if mn is None or mx is None:
                        continue
                    if self._bound_excludes(mn, mx, op, v):
                        keep = False
                        break
            if keep:
                out.append(add)
        return out

    def live_files(self, version: int | None = None, filters=None) -> list[str]:
        """Decoded relative paths of the data files a (filtered) read
        would scan — the observable surface of data skipping."""
        meta, adds = self._replay(version)
        _schema, part_cols, phys, *_rest = self._schema_plan(meta)
        if filters:
            adds = self._prune_adds(adds, filters, part_cols, phys, self._generation_map(meta))
        return sorted(unquote(a["path"]) for a in adds)

    # -- snapshot read ------------------------------------------------------
    def read(
        self, version: int | None = None, filters=None, columns: list[str] | None = None
    ) -> DataFrame:
        """Snapshot read. ``filters`` is an optional list of
        ``(column, op, literal)`` with op in =/</<=/>/>= — each filter both
        PRUNES files via per-file stats and partition values (data
        skipping) and is applied in the plan (correctness never depends on
        stats honesty).

        ``columns`` optionally projects the read: only the named columns
        reach the output (in TABLE-SCHEMA order, not argument order), and
        — the part that matters at 100 TB — only they reach the parquet
        scan's ReadSchema, so a 2-of-20-column read moves 2 columns of
        bytes. Filter columns are scanned as needed and dropped from the
        output; the physical-name / field-id mapping applies per kept
        column exactly as for a full read."""
        import operator

        meta, adds = self._replay(version)
        schema, part_cols, phys, file_schema, rename, types = self._schema_plan(meta)
        out_names = [f.name for f in schema.fields]
        mid_names = out_names
        if columns is not None:
            known = set(out_names)
            unknown = [c for c in columns if c not in known]
            if unknown:
                raise ValueError(
                    f"columns {unknown} not in table schema {out_names}"
                )
            need = set(columns) | {c for c, _o, _v in (filters or [])}
            data_names = [f.name for f in schema.fields if f.name not in part_cols]
            keep = [i for i, nm in enumerate(data_names) if nm in need]
            file_schema = T.StructType([file_schema.fields[i] for i in keep])
            rename = [rename[i] for i in keep]
            mid_names = [nm for nm in out_names if nm in need]
            out_names = [nm for nm in out_names if nm in set(columns)]
        ops = {
            "=": operator.eq, "<": operator.lt, "<=": operator.le,
            ">": operator.gt, ">=": operator.ge,
        }
        cond = None
        if filters:
            adds = self._prune_adds(adds, filters, part_cols, phys, self._generation_map(meta))
            for col, op, v in filters:
                c = ops[op](F.col(col), F.lit(v))
                cond = c if cond is None else cond & c
        if not adds:
            # empty frame: the filter can reference pruned-away columns,
            # and zero rows satisfy it vacuously — skip the where
            kept = [f for f in schema.fields if f.name in set(out_names)]
            return local_frame(self.spark, [], T.StructType(kept))
        # group files by their partition assignment; each group reads with
        # the file schema and re-attaches the partition literals, cast
        # through the table schema (Delta stores them only in the log)
        groups: dict[tuple, list[str]] = {}  # plain files, batched per partition
        dv_reads: list[tuple[tuple, str, list[int]]] = []  # (key, path, indexes)
        for add in adds:
            pv = add.get("partitionValues") or {}
            # partitionValues are keyed by PHYSICAL names under column
            # mapping (identical to logical without it)
            key = tuple(pv.get(phys[c]) for c in part_cols)
            # the protocol stores add.path RFC 2396 percent-encoded (spaces,
            # colons in partition dirs); join the DECODED form or valid
            # tables fail with path-not-found
            full = os.path.join(self.path, unquote(add["path"]))
            if not add.get("deletionVector"):
                groups.setdefault(key, []).append(full)
            else:
                dv_reads.append((key, full, self._dv_indexes(add)))
        out = None

        def attach(df: DataFrame, key: tuple) -> DataFrame:
            for c, raw in zip(part_cols, key):
                if c in set(mid_names):
                    df = df.withColumn(c, F.lit(raw).cast(types[c]))
            return df.select(*mid_names)

        for key, paths in sorted(groups.items(), key=lambda kv: repr(kv[0])):
            df = self._scan_spark.read.schema(file_schema).parquet(*paths).select(*rename)
            df = attach(df, key)
            out = df if out is None else out.unionByName(df)
        if dv_reads:
            dv_df = self._read_dv_files(
                sorted(dv_reads, key=lambda kv: kv[1]),
                file_schema,
                rename,
                part_cols,  # full list: the DV partition map zips the full key tuple
                types,
                mid_names,  # restriction happens at its final select
            )
            out = dv_df if out is None else out.unionByName(dv_df)
        if cond is not None:
            out = out.where(cond)
        return out.select(*out_names) if out_names != mid_names else out

    # -- timestamp time travel ----------------------------------------------
    def version_at_timestamp(self, ts_ms: int) -> int:
        """Latest version whose commit timestamp is <= ``ts_ms`` — the
        ``timestampAsOf`` contract. A commit's timestamp is its
        ``commitInfo.inCommitTimestamp`` when the commit carries one
        (the In-Commit Timestamps writer feature, PROTOCOL.md: the
        AUTHORITATIVE time; file mtimes on object stores and log copies
        do not survive transfer and MUST be ignored for ICT commits),
        else its log file's modification time. Either way the sequence
        is adjusted to be strictly monotonic across versions exactly as
        Delta does (a clock-skewed commit inherits predecessor+1ms, so
        later versions never resolve earlier; a mixed mtime/ICT log —
        ICT enabled mid-history — stays ordered by the same rule).
        Versions whose JSON was trimmed behind a checkpoint carry no
        timestamp: a request before the earliest surviving commit
        refuses rather than guessing.
        """
        commits, _cps = self._scan()
        if not commits:
            raise ValueError(
                f"{self.path} has no JSON commits to timestamp-resolve "
                "(fully checkpointed/trimmed log); use a version read"
            )
        stamped: list[tuple[int, int]] = []
        prev = -1
        for v in sorted(commits):
            p = os.path.join(self._log_dir, f"{v:020d}.json")
            raw = self._ict_of(p)
            if raw is None:
                raw = int(os.stat(p).st_mtime * 1000)
            eff = max(raw, prev + 1)
            stamped.append((v, eff))
            prev = eff
        eligible = [v for v, t in stamped if t <= ts_ms]
        if not eligible:
            raise ValueError(
                f"timestamp {ts_ms} predates the earliest available commit "
                f"of {self.path} (version {stamped[0][0]} at {stamped[0][1]})"
            )
        return max(eligible)

    @staticmethod
    def _ict_of(json_path: str) -> int | None:
        """``commitInfo.inCommitTimestamp`` of a commit file, or None.
        ICT requires commitInfo to be the FIRST action, but foreign
        writers put commitInfo anywhere on non-ICT tables, so the whole
        file is scanned for it (first commitInfo wins)."""
        with open(json_path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    ts = (a["commitInfo"] or {}).get("inCommitTimestamp")
                    return int(ts) if ts is not None else None
        return None

    def read_as_of_timestamp(self, ts_ms: int) -> DataFrame:
        return self.read(self.version_at_timestamp(ts_ms))

    # -- incremental tail ---------------------------------------------------
    def tail(self, from_version: int, skip_change_commits: bool = False) -> DataFrame:
        """Micro-batch incremental read of a FOREIGN Delta log: the rows
        ADDED by every commit in ``(from_version, latest]``, each tagged
        ``_commit_version`` — the consumer keeps the last version it saw
        and tails from there, the offset contract Spark's own Delta
        streaming source uses (and it composes with the exactly-once
        consumed-version pattern of ``stream_table_to_table_cdf``).

        Non-append commits — any ``remove`` action or deletion-vector-
        bearing ``add`` — REFUSE by default: their row-level delta is not
        representable as inserts, and emitting their adds anyway would
        re-deliver rewritten survivors as phantom inserts. With
        ``skip_change_commits=True`` those commits are skipped WHOLESALE
        (the ``skipChangeCommits`` contract). A schema or column-mapping
        change inside the tailed range refuses loudly either way, as does
        a vacuumed hole (a missing commit JSON means silently lost adds).

        Scale shape: ONE scan branch for all new files regardless of how
        many commits the range spans — files map to (commit version,
        partition literals) through a broadcast keyed on the canonical
        decoded path, the same normalization the DV anti-join uses.
        """
        commits, cps = self._scan()
        all_versions = sorted(set(commits) | set(cps))
        if not all_versions:
            raise ValueError(f"empty _delta_log at {self.path}")
        latest = all_versions[-1]
        if from_version not in all_versions:
            raise ValueError(f"no Delta version {from_version!r} at {self.path}")
        commit_set = set(commits)
        missing = [v for v in range(from_version + 1, latest + 1) if v not in commit_set]
        if missing:
            raise DeltaProtocolError(
                f"cannot tail {self.path} from {from_version}: commit JSONs "
                f"{missing} are missing (vacuumed?) — their adds would be "
                "silently lost"
            )
        meta, _ = self._replay(from_version)
        base_cfg = (meta.get("configuration") or {}).get("delta.columnMapping.mode", "none")
        batches: list[tuple[int, list[dict]]] = []
        for v in range(from_version + 1, latest + 1):
            adds: list[dict] = []
            change = False
            with open(os.path.join(self._log_dir, f"{v:020d}.json")) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "protocol" in action:
                        self._check_protocol(action["protocol"])
                    elif "metaData" in action:
                        md = action["metaData"]
                        cfg = (md.get("configuration") or {}).get(
                            "delta.columnMapping.mode", "none"
                        )
                        if md.get("schemaString") != meta["schemaString"] or cfg != base_cfg:
                            raise DeltaProtocolError(
                                f"commit {v} changes the table schema or column "
                                "mapping mid-tail; restart the consumer from a "
                                "fresh snapshot"
                            )
                    elif "add" in action:
                        if action["add"].get("deletionVector"):
                            change = True
                        elif action["add"].get("dataChange", True):
                            adds.append(action["add"])
                        # dataChange:false adds are OPTIMIZE rewrites of
                        # rows already emitted — no new rows to deliver
                    elif "remove" in action:
                        if action["remove"].get("dataChange", True):
                            change = True
            if change:
                if not skip_change_commits:
                    raise DeltaProtocolError(
                        f"commit {v} of {self.path} is not append-only "
                        "(remove/deletion-vector actions); its row-level delta "
                        "cannot be emitted as inserts — pass "
                        "skip_change_commits=True to skip such commits, or "
                        "consume a change feed instead"
                    )
                continue
            if adds:
                batches.append((v, adds))
        schema, part_cols, phys, file_schema, rename, types = self._schema_plan(meta)
        if not batches:
            cols = [*schema.fields, T.StructField("_commit_version", T.LongType())]
            return local_frame(self.spark, [], T.StructType(cols))
        paths: list[str] = []
        map_rows: list[tuple] = []
        for v, adds in batches:
            for add in adds:
                full = os.path.join(self.path, unquote(add["path"]))
                paths.append(full)
                pv = add.get("partitionValues") or {}
                map_rows.append(
                    (os.path.abspath(full), v, *[pv.get(phys[c]) for c in part_cols])
                )
        df = (
            self._scan_spark.read.schema(file_schema)
            .parquet(*paths)
            .select("*", file_uri_path_col(F.col("_metadata.file_path")).alias("__cf"))
        )
        map_schema = T.StructType(
            [
                T.StructField("__cf", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
            + [T.StructField(c, T.StringType()) for c in part_cols]
        )
        fmap = F.broadcast(local_frame(self._scan_spark, map_rows, map_schema))
        return df.join(fmap, "__cf").select(
            *rename,
            *[F.col(c).cast(types[c]).alias(c) for c in part_cols],
            "_commit_version",
        ).select(*[f.name for f in schema.fields], "_commit_version")

    def table_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """CHANGE DATA FEED read (delta-spark's ``table_changes``): every
        row-level change committed in ``[from_version, to_version]``,
        tagged ``_change_type`` (insert / update_preimage /
        update_postimage / delete) and ``_commit_version``.

        Per the protocol's CDC reader contract, a commit that carries
        ``cdc`` actions is represented by its ``_change_data`` files
        ALONE; for commits without them the feed is DERIVED: a
        dataChange add-only commit yields its rows as inserts, a
        dataChange remove-only commit yields the removed files' rows as
        deletes (the pre-image bytes must still exist on disk — a
        vacuumed hole refuses). A dataChange commit that mixes adds and
        removes (CoW delete/merge/replaceWhere) WITHOUT cdc files
        refuses loudly: its row-level delta is unrecoverable, and
        guessing would poison every downstream consumer — enable
        ``delta.enableChangeDataFeed`` at write time instead
        (``export_delta(..., cdf=True)``). OPTIMIZE commits
        (dataChange:false) correctly contribute nothing. A schema or
        column-mapping change inside the range refuses, as in ``tail``.

        Scale shape: ONE scan per change KIND (cdc files, derived
        inserts, derived deletes) regardless of how many commits the
        range spans — files map to (version, partition literals) through
        a broadcast keyed on the canonical decoded path, exactly like
        ``tail``.
        """
        commits, _cps = self._scan()
        if not commits:
            raise ValueError(f"no commit JSONs at {self.path}")
        latest = max(commits)
        to_v = latest if to_version is None else to_version
        if not (0 <= from_version <= to_v <= latest):
            raise ValueError(
                f"invalid change range [{from_version}, {to_v}] for a log at "
                f"version {latest}"
            )
        commit_set = set(commits)
        missing = [v for v in range(from_version, to_v + 1) if v not in commit_set]
        if missing:
            raise DeltaProtocolError(
                f"cannot read changes of {self.path}: commit JSONs {missing} "
                "are missing (vacuumed?) — their changes would be silently lost"
            )
        meta, _ = self._replay(from_version)
        base_cfg = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        schema, part_cols, phys, file_schema, rename, types = self._schema_plan(meta)

        def pv_key(action: dict) -> tuple:
            pv = action.get("partitionValues")
            if pv is None:
                # removes may omit partitionValues; recover them from the
                # Hive path segments (keyed by physical names, like the
                # log): URI-decode the log path, then Hive-unescape
                pv = hive_partition_values(unquote(action["path"]))
            return tuple(pv.get(phys[c]) for c in part_cols)

        cdc_entries: list[tuple[str, int, tuple]] = []
        ins_entries: list[tuple[str, int, tuple]] = []
        del_entries: list[tuple[str, int, tuple]] = []
        for v in range(from_version, to_v + 1):
            cdc_v: list[dict] = []
            adds_v: list[dict] = []
            rem_v: list[dict] = []
            dv_change = False
            with open(os.path.join(self._log_dir, f"{v:020d}.json")) as fh:
                for line in fh:
                    if not line.strip():
                        continue
                    action = json.loads(line)
                    if "protocol" in action:
                        self._check_protocol(action["protocol"])
                    elif "metaData" in action and v > from_version:
                        md = action["metaData"]
                        cfg = (md.get("configuration") or {}).get(
                            "delta.columnMapping.mode", "none"
                        )
                        if md.get("schemaString") != meta["schemaString"] or cfg != base_cfg:
                            raise DeltaProtocolError(
                                f"commit {v} changes the table schema or column "
                                "mapping mid-range; read changes up to it, "
                                "re-snapshot, then continue"
                            )
                    elif "cdc" in action:
                        cdc_v.append(action["cdc"])
                    elif "add" in action:
                        if action["add"].get("deletionVector"):
                            dv_change = True
                        elif action["add"].get("dataChange", True):
                            adds_v.append(action["add"])
                    elif "remove" in action:
                        if action["remove"].get("dataChange", True):
                            rem_v.append(action["remove"])
            if cdc_v:
                for c in cdc_v:
                    full = os.path.join(self.path, unquote(c["path"]))
                    if not os.path.exists(full):
                        raise DeltaProtocolError(
                            f"commit {v} references change file {c['path']} "
                            "but it is gone — the feed was truncated"
                        )
                    cdc_entries.append((full, v, pv_key(c)))
                continue
            if dv_change or (adds_v and rem_v):
                raise DeltaProtocolError(
                    f"commit {v} of {self.path} rewrites data (remove+add or "
                    "deletion vectors) without cdc files; its row-level "
                    "changes are unrecoverable — write with "
                    "delta.enableChangeDataFeed=true to publish them"
                )
            for a in adds_v:
                full = os.path.join(self.path, unquote(a["path"]))
                if not os.path.exists(full):
                    raise DeltaProtocolError(
                        f"commit {v} adds {a['path']} but the file is gone "
                        "(vacuumed after a later rewrite?) — its derived "
                        "inserts are unrecoverable; start the change read "
                        "at a retained version"
                    )
                ins_entries.append((full, v, pv_key(a)))
            for r in rem_v:
                full = os.path.join(self.path, unquote(r["path"]))
                if not os.path.exists(full):
                    raise DeltaProtocolError(
                        f"commit {v} removes {r['path']} but the file is gone "
                        "(vacuumed?) — its delete pre-images are unrecoverable"
                    )
                del_entries.append((full, v, pv_key(r)))

        out_type = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )

        def scan(entries: list[tuple[str, int, tuple]], ct: str | None) -> DataFrame:
            """One scan of a change kind; ``ct`` is the literal change
            type for derived kinds, None when the files carry it."""
            fschema = file_schema
            extra = [F.col("_change_type")]
            if ct is None:
                fschema = T.StructType(
                    list(file_schema.fields)
                    + [T.StructField("_change_type", T.StringType())]
                )
            else:
                extra = [F.lit(ct).alias("_change_type")]
            df = (
                self._scan_spark.read.schema(fschema)
                .parquet(*[e[0] for e in entries])
                .select("*", file_uri_path_col(F.col("_metadata.file_path")).alias("__cf"))
            )
            map_schema = T.StructType(
                [
                    T.StructField("__cf", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
                + [T.StructField(c, T.StringType()) for c in part_cols]
            )
            map_rows = [(os.path.abspath(full), v, *pvs) for full, v, pvs in entries]
            fmap = F.broadcast(local_frame(self._scan_spark, map_rows, map_schema))
            return df.join(fmap, "__cf").select(
                *rename,
                *[F.col(c).cast(types[c]).alias(c) for c in part_cols],
                *extra,
                "_commit_version",
            ).select(*[f.name for f in out_type.fields])

        frames = [
            scan(entries, ct)
            for entries, ct in (
                (cdc_entries, None),
                (ins_entries, "insert"),
                (del_entries, "delete"),
            )
            if entries
        ]
        if not frames:
            return local_frame(self.spark, [], out_type)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def _read_dv_files(
        self,
        dv_reads: list[tuple[tuple, str, list[int]]],
        file_schema: T.StructType,
        rename: list,
        part_cols: list[str],
        types: dict,
        final_cols: list[str],
    ) -> DataFrame:
        """ONE plan branch for ALL deletion-vector-bearing files: a single
        scan of every DV file, one combined anti-join on a canonical
        (file id, row index) key, one join to re-attach per-file partition
        literals. The per-file-branch alternative blows up driver-side
        planning on foreign tables with thousands of small DV files.

        The canonical file id is the DECODED absolute filesystem path,
        normalized on BOTH sides: ``_metadata.file_path`` is a URI whose
        percent-escapes (spaces, colons) differ from the on-disk path, so
        raw string matching silently resurrects deleted rows on any table
        with encodable characters in its paths. The Spark side strips the
        ``file:`` scheme and percent-decodes (protecting literal ``+``,
        which url_decode would otherwise turn into a space); the driver
        side is already decoded (add.path is unquoted at join time).
        """
        spark = self._scan_spark
        df = (
            spark.read.schema(file_schema)
            .parquet(*[p for _, p, _ in dv_reads])
            .select(
                "*",
                file_uri_path_col(F.col("_metadata.file_path")).alias("__cf"),
                F.col("_metadata.row_index").alias("__ri"),
            )
        )
        del_rows = [
            (os.path.abspath(p), int(i)) for _, p, idxs in dv_reads for i in idxs
        ]
        dv_del = local_frame(spark, del_rows, "__cf string, __ri bigint")
        # the combined key set is bounded by the snapshot's total DV
        # cardinality; hint broadcast only while it is clearly small and
        # let AQE pick the strategy beyond that
        if len(del_rows) <= 1_000_000:
            dv_del = F.broadcast(dv_del)
        df = df.join(dv_del, ["__cf", "__ri"], "left_anti")
        if part_cols:
            pv_rows = [(os.path.abspath(p), *key) for key, p, _ in dv_reads]
            pv_schema = T.StructType(
                [T.StructField("__cf", T.StringType())]
                + [T.StructField(c, T.StringType()) for c in part_cols]
            )
            dv_pv = local_frame(spark, pv_rows, pv_schema)
            df = df.join(F.broadcast(dv_pv), "__cf", "inner")
            df = df.select(
                *rename,
                *[F.col(c).cast(types[c]).alias(c) for c in part_cols],
            )
        else:
            df = df.select(*rename)
        return df.select(*final_cols)


# ---------------------------------------------------------------------------
# Inline deletion-vector codec (public formats: ZeroMQ Z85 and the
# RoaringFormatSpec portable serialization wrapped in Delta's 64-bit
# RoaringBitmapArray "portable" layout: uint32 LE magic 1681511377,
# int64 LE bitmap count, then each 32-bit roaring bitmap; array index =
# high 32 bits of the row index).
# ---------------------------------------------------------------------------
_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}
_RBA_MAGIC = 1681511377
_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUN = 12346


def z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError(f"Z85 length must be a multiple of 5, got {len(s)}")
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for ch in s[i : i + 5]:
            acc = acc * 85 + _Z85_INV[ch]
        out += acc.to_bytes(4, "big")
    return bytes(out)


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError(f"Z85 input must be a multiple of 4 bytes, got {len(data)}")
    out = []
    for i in range(0, len(data), 4):
        acc = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            acc, r = divmod(acc, 85)
            chunk.append(_Z85[r])
        out += reversed(chunk)
    return "".join(out)


def _roaring32_decode(data: bytes, pos: int) -> tuple[list[int], int]:
    cookie = int.from_bytes(data[pos : pos + 4], "little")
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        nrb = (size + 7) // 8
        runflags = data[pos + 4 : pos + 4 + nrb]
        p = pos + 4 + nrb
        has_offsets = size >= 4  # NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        runflags = bytes((size + 7) // 8)
        p = pos + 8
        has_offsets = True
    else:
        raise DeltaProtocolError(f"unrecognized roaring cookie {cookie}")
    keys, cards = [], []
    for _ in range(size):
        keys.append(int.from_bytes(data[p : p + 2], "little"))
        cards.append(int.from_bytes(data[p + 2 : p + 4], "little") + 1)
        p += 4
    if has_offsets:
        p += 4 * size
    vals: list[int] = []
    for i in range(size):
        key = keys[i] << 16
        if runflags[i // 8] & (1 << (i % 8)):
            nruns = int.from_bytes(data[p : p + 2], "little")
            p += 2
            for _ in range(nruns):
                start = int.from_bytes(data[p : p + 2], "little")
                length = int.from_bytes(data[p + 2 : p + 4], "little")
                p += 4
                vals.extend(key | v for v in range(start, start + length + 1))
        elif cards[i] <= 4096:
            for _ in range(cards[i]):
                vals.append(key | int.from_bytes(data[p : p + 2], "little"))
                p += 2
        else:  # bitmap container: 1024 uint64 words
            for wi in range(1024):
                w = int.from_bytes(data[p + wi * 8 : p + wi * 8 + 8], "little")
                base = key | (wi << 6)
                while w:
                    lsb = w & -w
                    vals.append(base | (lsb.bit_length() - 1))
                    w ^= lsb
            p += 8192
    return vals, p


def decode_rba(data: bytes) -> list[int]:
    """RoaringBitmapArray (Delta portable layout) -> sorted row indexes."""
    magic = int.from_bytes(data[0:4], "little")
    if magic != _RBA_MAGIC:
        raise DeltaProtocolError(f"bad RoaringBitmapArray magic {magic}")
    n = int.from_bytes(data[4:12], "little")
    pos = 12
    out: list[int] = []
    for hi in range(n):
        vals, pos = _roaring32_decode(data, pos)
        out.extend((hi << 32) | v for v in vals)
    return sorted(out)


def decode_inline_dv(encoded: str) -> list[int]:
    """Z85-decode + RBA-decode an add.deletionVector.pathOrInlineDv."""
    return decode_rba(z85_decode(encoded))


# ---------------------------------------------------------------------------
# File-based deletion vectors (storageType 'u'/'p' — what real writers emit
# for any non-tiny delete; inline is the small-DV path). Public protocol:
#   * 'u': pathOrInlineDv = <optional random prefix><20-char Z85 UUID>;
#     the sidecar lives at <tableRoot>/<prefix>/deletion_vector_<uuid>.bin
#   * 'p': pathOrInlineDv is an absolute path (possibly a file: URI)
#   * sidecar format, version 1: byte 0 is the format version; at the
#     descriptor's `offset`: <dataSize: int32 BE><dataSize bytes of
#     serialized RoaringBitmapArray><CRC-32 of those bytes: int32 BE>
# ---------------------------------------------------------------------------


def dv_sidecar_path(table_path: str, dv: dict) -> str:
    """Absolute path of a file-based deletion vector's sidecar file."""
    import uuid as _uuid

    st = dv["storageType"]
    p = dv["pathOrInlineDv"]
    if st == "p":
        return file_uri_path(p) if p.startswith("file:") else p
    if len(p) < 20:
        raise DeltaProtocolError(
            f"storageType 'u' pathOrInlineDv too short for a Z85 UUID: {p!r}"
        )
    prefix, enc = p[:-20], p[-20:]
    u = _uuid.UUID(bytes=z85_decode(enc))
    name = f"deletion_vector_{u}.bin"
    return os.path.join(table_path, prefix, name) if prefix else os.path.join(
        table_path, name
    )


def read_dv_file_bytes(path: str, offset: int, size_in_bytes: int) -> bytes:
    """Read one DV's bitmap bytes out of its sidecar file, verifying the
    format version, the in-file size framing, and the CRC-32 trailer —
    a truncated or corrupted sidecar must fail loudly, not resurrect or
    over-delete rows."""
    import zlib

    if not os.path.isfile(path):
        raise DeltaProtocolError(f"deletion-vector sidecar {path} does not exist")
    with open(path, "rb") as fh:
        version = fh.read(1)
        if version != b"\x01":
            raise DeltaProtocolError(
                f"deletion-vector sidecar {path}: unsupported format "
                f"version {version!r}"
            )
        fh.seek(offset)
        size = int.from_bytes(fh.read(4), "big")
        if size != size_in_bytes:
            raise DeltaProtocolError(
                f"deletion-vector sidecar {path}: framed size {size} != "
                f"descriptor sizeInBytes {size_in_bytes}"
            )
        data = fh.read(size)
        if len(data) != size:
            raise DeltaProtocolError(
                f"deletion-vector sidecar {path}: truncated (wanted {size} "
                f"bytes at offset {offset + 4}, got {len(data)})"
            )
        crc = int.from_bytes(fh.read(4), "big")
        if crc != zlib.crc32(data):
            raise DeltaProtocolError(
                f"deletion-vector sidecar {path}: CRC-32 mismatch"
            )
    return data


def write_dv_file(
    table_path: str, indexes: list[int], dv_uuid=None, prefix: str = ""
) -> dict:
    """Write a protocol-correct 'u'-style deletion-vector sidecar under
    ``table_path`` and return its add.deletionVector descriptor
    (fixture/test helper, the file-based symmetry check for
    ``read_dv_file_bytes`` — same role encode_inline_dv plays for the
    inline decoder)."""
    import uuid as _uuid
    import zlib

    u = dv_uuid or _uuid.uuid4()
    data = encode_rba(sorted(set(indexes)))
    body = b"\x01" + len(data).to_bytes(4, "big") + data + zlib.crc32(data).to_bytes(4, "big")
    target_dir = os.path.join(table_path, prefix) if prefix else table_path
    os.makedirs(target_dir, exist_ok=True)
    with open(os.path.join(target_dir, f"deletion_vector_{u}.bin"), "wb") as fh:
        fh.write(body)
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(set(indexes)),
    }


def _roaring32_encode(vals: list[int]) -> bytes:
    """32-bit roaring bitmap, portable format, array containers only —
    sufficient (and exact) for the small bitmaps inline DVs carry; the
    decoder handles the full container set for foreign tables."""
    by_key: dict[int, list[int]] = {}
    for v in sorted(set(vals)):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    if any(len(c) > 4096 for c in by_key.values()):
        raise ValueError("encoder supports array containers (<=4096) only")
    size = len(by_key)
    out = bytearray()
    out += _SERIAL_COOKIE_NO_RUN.to_bytes(4, "little")
    out += size.to_bytes(4, "little")
    for key in sorted(by_key):
        out += key.to_bytes(2, "little")
        out += (len(by_key[key]) - 1).to_bytes(2, "little")
    off = 4 + 4 + 4 * size + 4 * size
    for key in sorted(by_key):
        out += off.to_bytes(4, "little")
        off += 2 * len(by_key[key])
    for key in sorted(by_key):
        for v in by_key[key]:
            out += v.to_bytes(2, "little")
    return bytes(out)


def encode_rba(vals: list[int]) -> bytes:
    by_hi: dict[int, list[int]] = {}
    for v in sorted(set(vals)):
        by_hi.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    n = (max(by_hi) + 1) if by_hi else 0
    out = bytearray()
    out += _RBA_MAGIC.to_bytes(4, "little")
    out += n.to_bytes(8, "little")
    for hi in range(n):
        out += _roaring32_encode(by_hi.get(hi, []))
    return bytes(out)


def encode_inline_dv(indexes: list[int]) -> dict:
    """Build a protocol-shaped add.deletionVector dict for the given
    deleted row indexes (fixture/test helper; pads the RBA bytes to the
    4-byte alignment Z85 requires — trailing zero bytes decode as an
    incomplete trailing word the decoder never reaches because the bitmap
    count bounds the scan)."""
    data = encode_rba(sorted(set(indexes)))
    pad = (-len(data)) % 4
    data += b"\x00" * pad
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data),
        "sizeInBytes": len(data),
        "cardinality": len(set(indexes)),
    }
