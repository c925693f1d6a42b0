"""Versioned table layer: MERGE / DELETE WHERE / replaceWhere / time travel
over plain parquet (SURVEY §1.4 mappings: S4 S3-version lineage -> time
travel, ST2 idempotent upsert -> MERGE, S13 ``DELETE WHERE STRSTARTS`` ->
delete_where; reference graph_db_manufacturer_service.py:10-33 and
s3_util.py version checks).

Delta/Iceberg are the production implementations of this seam — neither is
installable in this sandbox, so the layer reproduces their SEMANTICS, now
including manifest + data-skipping mechanics, over parquet + a JSON log:

    <path>/_log/v{N}.json        manifest: {"version", "op", "num_rows",
                                 "detail", "schema", "files": [{"path",
                                 "num_rows", "stats": {col: [min, max]}}]}
    <path>/data/f-{N}-{i}.parquet  immutable data files, shared by every
                                   version whose manifest references them

A commit writes ONLY the data files it changes and re-lists the untouched
ones — exactly Delta's add/remove-file model collapsed into a full file
list per version (simpler to read back, same skipping behavior):

  * MERGE prunes with per-file min/max stats on the merge keys: a file
    whose key range cannot intersect the update batch's key range is
    carried forward by reference — not read, not rewritten. Only
    intersecting files are anti-joined and rewritten. An opt-in per-file
    BLOOM index (``write(bloom_cols=...)``, Delta's bloom filter index)
    additionally carries files whose range overlaps but which provably
    lack every batch key — the point-lookup gap min/max cannot close; the
    index config persists in the log and rewrites rebuild it.
  * DELETE WHERE / replaceWhere accept an optional ``prune`` callable
    (stats dict -> might-match bool; see ``range_prune``/``prefix_prune``)
    — the explicit form of the min/max predicate evaluation Delta derives
    from the WHERE clause. Without it they conservatively rewrite all
    files (always correct).
  * Time travel = reading an older manifest; snapshots share unchanged
    data files instead of duplicating them.
  * DELETION VECTORS (``delete_where_dv``, Delta/Iceberg v2 merge-on-read
    deletes): sparse deletes record (file basename, row position) rows in
    a small ``dv/`` sidecar referenced by the manifest — no data file is
    rewritten; reads anti-join the broadcast sidecars away. Any rewrite of
    a file (merge/compact/zorder/delete) materializes its deletes, and the
    commit loop prunes sidecar entries to surviving basenames so nothing
    can resurrect. ``count_rows`` subtracts manifest-resident deleted
    counts and stays metadata-only; ``change_feed`` reads each side under
    its own DV state so DV deletes surface as row-level deletes.

Commits go through the commit kernel (``sources/commit.py``, which
documents the concurrency contract): version N is an exclusive claim of
``_log/v{N}.json``, and a writer that loses the race re-derives its
change against the winner's manifest and retries.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_etl_pipeline_spark.session import conf_scope
from data_etl_pipeline_spark.sources import commit
from data_etl_pipeline_spark.sources.commit import ConcurrentCommitError  # noqa: F401  (re-export)
from data_etl_pipeline_spark.sources.footerprune import file_uri_path, footer_stats
from data_etl_pipeline_spark.tables import local_frame

StatsPredicate = Callable[[dict], bool]

# Per-file Bloom index layout (Delta's bloom filter index, manifest-resident):
# 8192 bits = 128 longs per (file, column), two xxhash64 probes. For ~500
# distinct keys per file the false-positive rate is (1-e^(-2*500/8192))^2
# ~= 1.3% — a point lookup whose key is absent skips ~99% of range-
# overlapping files. Both the build and the probe are pure codegen
# expressions; Python only carries the word arrays through the manifest.
_BLOOM_BITS = 8192
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_SEEDS = (0x9E3779B1, 0x85EBCA77)


# Staged data files store LTZ timestamps as INT64 micros, whose footers
# carry min/max (INT96 chunks carry none; NTZ is always INT64). The output
# type is a session conf, so the writes of frames with a top-level LTZ
# column scope it and take turns; every other write takes neither.
_MICROS_WRITE = threading.Lock()


def _as_collected(dtype: "T.DataType", v):
    """A footer bound as ``collect()`` returns a value of ``dtype``:
    timestamps become the naive datetimes Spark's Python conversion
    gives (local time for TIMESTAMP, wall time for TIMESTAMP_NTZ)."""
    if isinstance(v, datetime.datetime) and isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return dtype.fromInternal((v - epoch) // datetime.timedelta(microseconds=1))
    return v


_INT_WIDTH = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}


def _lossless_upcast(src: "T.DataType", dst: "T.DataType") -> bool:
    """True when casting ``src`` to ``dst`` is the standard SQL widening
    Spark's own union coercion would apply while KEEPING the table type —
    the only mismatches MERGE may repair with a silent cast. The case
    that must refuse is a drift that would widen the COMMON type past the
    table schema (decimal(19,2) into a decimal(18,2) column), because the
    written files would then disagree with the manifest schema."""
    ss, ds = src.simpleString(), dst.simpleString()
    if ss in _INT_WIDTH and ds in _INT_WIDTH:
        return _INT_WIDTH[ss] <= _INT_WIDTH[ds]
    if ds == "double" and (
        ss in _INT_WIDTH
        or ss == "float"
        or (isinstance(src, T.DecimalType) and src.precision <= 15)
    ):
        # numeric -> double is SQL type precedence; union coercion always
        # resolved this to double before enforcement existed. Decimals
        # wider than 15 digits exceed double's 53-bit mantissa, so the
        # cast would silently ALTER large values — that is lossy drift
        # and refuses like the other lossy cases (bigint stays castable:
        # SQL precedence has always accepted its documented rounding).
        return True
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        # integer digits AND scale must both be non-shrinking
        return (dst.precision - dst.scale) >= (src.precision - src.scale) and (
            dst.scale >= src.scale
        )
    if ss in _INT_WIDTH and isinstance(dst, T.DecimalType):
        return dst.precision - dst.scale >= {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}[ss]
    return False


class ConstraintViolationError(RuntimeError):
    """Incoming rows violate a table CHECK constraint; nothing committed."""


def range_prune(col: str, lo, hi) -> StatsPredicate:
    """Might-match test for ``col BETWEEN lo AND hi``-shaped predicates."""

    def might_match(stats: dict) -> bool:
        mm = stats.get(col)
        if not mm or mm[0] is None or mm[1] is None:
            return True  # no stats -> cannot skip
        return not (mm[1] < lo or mm[0] > hi)

    return might_match


def prefix_prune(col: str, prefix: str) -> StatsPredicate:
    """Might-match test for ``STRSTARTS(col, prefix)`` (S13 prefix delete).

    Matching strings have no finite upper bound (prefix + U+10FFFF... still
    matches), but every prefix-matching string sorts strictly below any
    NON-matching string greater than ``prefix`` — so a file is provably
    clean iff its max sorts below the prefix, or its min is a non-matching
    string above it."""

    def might_match(stats: dict) -> bool:
        mm = stats.get(col)
        if not mm or mm[0] is None or mm[1] is None:
            return True
        if mm[1] < prefix:
            return False  # whole file below the prefix range
        if mm[0] > prefix and not mm[0].startswith(prefix):
            return False  # whole file above every prefix-matching string
        return True

    return might_match


class VersionedTable:
    """A keyed, versioned parquet table with table-format semantics."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self._log_dir = os.path.join(self.path, "_log")
        self._data_dir = os.path.join(self.path, "data")

    # ---- log -------------------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._log_dir):
            return []
        out = []
        for f in os.listdir(self._log_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self._versions()
        return vs[-1] if vs else None

    def history(self) -> list[dict]:
        """Commit log, oldest first (the time-travel index)."""
        entries = []
        for v in self._versions():
            with open(os.path.join(self._log_dir, f"v{v}.json")) as fh:
                entries.append(json.load(fh))
        return entries

    def _manifest(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v is None or v not in self._versions():
            raise ValueError(f"no version {version!r} at {self.path}")
        with open(os.path.join(self._log_dir, f"v{v}.json")) as fh:
            return json.load(fh)

    # ---- data files ------------------------------------------------------

    @staticmethod
    def _stat_cols(schema: T.StructType) -> list[str]:
        keep = (T.NumericType, T.StringType, T.TimestampType, T.TimestampNTZType, T.DateType)
        return [f.name for f in schema.fields if isinstance(f.dataType, keep)]

    @staticmethod
    def _json_safe(v, widen: int = 0):
        """JSON-serializable stat value. Decimals become floats, WIDENED
        one ulp outward (widen=-1 for mins, +1 for maxes) so the stored
        bound stays sound under the narrowing conversion — a min rounded
        up could otherwise wrongly exclude a file from a merge. Update-side
        bounds (widen=0) may be off by an ulp in the tight direction, which
        only costs an unnecessary rewrite, never a wrong skip."""
        if hasattr(v, "isoformat"):
            return v.isoformat()
        import decimal
        import math

        if isinstance(v, decimal.Decimal):
            f = float(v)
            if widen:
                f = math.nextafter(f, -math.inf if widen < 0 else math.inf)
            return f
        return v

    @staticmethod
    def _bloom_pos_expr(col_expr: str, seed: int) -> str:
        # ``col_expr`` is a SQL expression (callers backtick bare names)
        return f"pmod(xxhash64({seed}L, {col_expr}), {_BLOOM_BITS})"

    def _write_files(self, df: DataFrame, version: int,
                     bloom_cols: list[str] | None = None) -> list[dict]:
        """Write ``df`` as immutable data files + per-file min/max stats.

        One write job into the attempt's staging directory. Row count, min
        and max of each file come from its parquet footer
        (``footerprune.footer_stats``), so the stats cost no Spark job; they
        are the same stats Delta keeps in add-file actions, and merge/delete
        skip with them. A column the footer cannot bound (a string over
        ~4 KiB) is stored as ``[None, None]``: stats-less, never skipped.
        LTZ timestamps are written as INT64 micros, because INT96 (Spark's
        default) carries no footer statistics. Only a Bloom index
        (``bloom_cols``) runs a job: one aggregation over the staged files
        grouped by input_file_name. Zero-row files are dropped. Final names
        carry the attempt token, so concurrent writers targeting the same
        version number can never collide on a path.
        """
        types = {f.name: f.dataType for f in df.schema.fields}
        with commit.Attempt(self.path) as att:
            if any(isinstance(t, T.TimestampType) for t in types.values()):
                micros = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}
                with _MICROS_WRITE, conf_scope(self.spark, micros):
                    staged = att.stage(lambda d: df.write.parquet(d))
            else:
                staged = att.stage(lambda d: df.write.parquet(d))
            files = [os.path.join(staged, rel) for rel in commit.parquet_files(staged)]
            footers = [(p, *footer_stats(p)) for p in files]
            bloom_cols = [c for c in (bloom_cols or []) if c in df.columns]
            blooms = self._bloom_words(staged, df.schema, bloom_cols) if bloom_cols else {}
            entries: list[dict] = []
            for i, (path, n_rows, cols) in enumerate(f for f in footers if f[1] > 0):
                name = f"f-{version}-{att.token}-{i}.parquet"
                att.place(path, os.path.join(self._data_dir, name))
                stats = {}
                for c in self._stat_cols(df.schema):
                    lo, hi, _ = cols.get(c, (None, None, None))
                    stats[c] = [
                        self._json_safe(_as_collected(types[c], lo), widen=-1),
                        self._json_safe(_as_collected(types[c], hi), widen=1),
                    ]
                entry = {"path": f"data/{name}", "num_rows": n_rows, "stats": stats}
                if bloom_cols:
                    entry["bloom"] = blooms[os.path.basename(path)]
                entries.append(entry)
        return entries

    def _bloom_words(self, staged: str, schema: T.StructType,
                     bloom_cols: list[str]) -> dict[str, dict]:
        """{staged file name: {column: 128 Bloom words}} for every
        non-empty file under ``staged``: each row's two probe bits folded
        into ``bit_or`` words, in one codegen aggregation job."""
        back = self.spark.read.schema(schema).parquet(staged)
        aggs = []
        for j, c in enumerate(bloom_cols):
            back = back.withColumn(f"__bp_{j}_0", F.expr(self._bloom_pos_expr(f"`{c}`", _BLOOM_SEEDS[0])))
            back = back.withColumn(f"__bp_{j}_1", F.expr(self._bloom_pos_expr(f"`{c}`", _BLOOM_SEEDS[1])))
            for w in range(_BLOOM_WORDS):
                terms = " | ".join(
                    f"IF(__bp_{j}_{i} div 64 = {w}, "
                    f"shiftleft(cast(1 as bigint), cast(__bp_{j}_{i} % 64 as int)), 0L)"
                    for i in range(len(_BLOOM_SEEDS))
                )
                aggs.append(F.expr(f"bit_or({terms})").alias(f"__bloom_{j}_{w}"))
        per_file = back.groupBy(F.input_file_name().alias("__file")).agg(*aggs).collect()
        # input_file_name() is a percent-encoded URI (Hadoop encodes
        # spaces/'%'/'#'); file_uri_path decodes it
        return {
            os.path.basename(file_uri_path(row["__file"])): {
                c: [int(row[f"__bloom_{j}_{w}"] or 0) for w in range(_BLOOM_WORDS)]
                for j, c in enumerate(bloom_cols)
            }
            for row in per_file
        }

    def _validate_checks(self, df: DataFrame, checks: list[str]) -> None:
        """Delta CHECK semantics: a row passes when every constraint is
        TRUE or NULL; any FALSE aborts the commit before a file is
        written.  One extra pass over the INCOMING rows only (carried
        files were validated by the commit that wrote them)."""
        if not checks or df is None:
            return
        # ONE aggregation job evaluates every constraint (a per-check
        # .count() would execute the derived commit plan N times)
        aggs = [
            F.count(F.when(F.expr(e).eqNullSafe(F.lit(False)), 1)).alias(f"_c{i}")
            for i, e in enumerate(checks)
        ]
        row = df.agg(*aggs).first()
        for i, e in enumerate(checks):
            if row[f"_c{i}"]:
                raise ConstraintViolationError(
                    f"CHECK constraint violated by {row[f'_c{i}']} incoming "
                    f"row(s): {e!r}"
                )

    def _entry_path(self, version: int) -> str:
        return os.path.join(self._log_dir, f"v{version}.json")

    def _entry(self, version: int, new_files: list[dict], carry: list[dict],
               op: str, detail: str, schema_json: str | None,
               bloom_cols: list[str] | None = None,
               dv_files: list[dict] | None = None,
               checks: list[str] | None = None) -> str:
        """The manifest of ``version``: the log entry IS the commit, claimed
        after every data file exists, so readers never see half-written
        data as latest."""
        files = carry + new_files
        entry = {
            "version": version,
            "op": op,
            "num_rows": sum(f["num_rows"] for f in files),
            "detail": detail,
            "schema": schema_json,
            "files": files,
            "files_carried": len(carry),
            "files_written": len(new_files),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            # microsecond-resolution commit instant for TIMESTAMP AS OF
            # resolution (the ISO field above is second-granular)
            "committed_at_unix": time.time(),
        }
        if bloom_cols:
            entry["bloom_cols"] = list(bloom_cols)
        if checks:
            entry["checks"] = list(checks)
        if dv_files:
            entry["dv_files"] = dv_files
            entry["num_deleted"] = sum(
                n for s in dv_files for n in s["counts"].values()
            )
        return json.dumps(entry)

    def _commit(self, build, op: str) -> int:
        """The optimistic commit loop behind every operation.

        ``build(man) -> (new_df, carry, detail, schema_json[, extra])``
        derives the change from the CURRENT manifest (None before the
        first commit); ``extra`` may set ``dv_files``, ``checks`` and
        ``bloom_cols``, which otherwise persist from ``man``. After a lost
        claim the change is re-derived against the winner's manifest and
        its files rewritten — unless ``build`` returns the very frame it
        returned before (``write``'s full snapshot), whose files are reused.

        Whether supplied or inherited, DV sidecar entries are pruned to the
        basenames that survive in the carried file list: a rewrite
        (merge/compact/zorder/delete) replaces file basenames, which
        implicitly purges their deletion vectors — enforced here in one
        place so no operation can resurrect deleted rows or leak stale DV
        bookkeeping."""
        state: dict = {"df": None, "files": []}

        def derive(_lost: int | None = None) -> int:
            man = self._manifest() if self._versions() else None
            version = man["version"] + 1 if man else 0
            new_df, carry, detail, schema_json, *rest = build(man)
            extra = {**(man or {}), **(rest[0] if rest else {})}
            checks = extra.get("checks")
            if new_df is not state["df"]:
                commit.drop(os.path.join(self.path, f["path"]) for f in state["files"])
                state["files"] = []
                self._validate_checks(new_df, checks or [])
                if new_df is not None:
                    state["files"] = self._write_files(
                        new_df, version, bloom_cols=extra.get("bloom_cols")
                    )
                state["df"] = new_df
            surviving = {self._basename(f["path"]) for f in carry}
            pruned = []
            for s in extra.get("dv_files", []):
                counts = {bn: n for bn, n in s["counts"].items() if bn in surviving}
                if counts:
                    pruned.append({"path": s["path"], "counts": counts})
            state["render"] = lambda v: self._entry(
                v, state["files"], carry, op, detail, schema_json,
                bloom_cols=extra.get("bloom_cols"), dv_files=pruned, checks=checks,
            )
            return version

        try:
            return commit.publish(self._entry_path, derive(), lambda v: state["render"](v), derive)
        except BaseException:
            commit.drop(os.path.join(self.path, f["path"]) for f in state["files"])
            raise

    @staticmethod
    def _basename(path: str) -> str:
        return path.rsplit("/", 1)[-1]

    def _read_dv(self, dv_files: list[dict]) -> DataFrame:
        paths = [os.path.join(self.path, s["path"]) for s in dv_files]
        return self.spark.read.schema("_bn string, _pos long").parquet(*paths)

    def _read_files_with_pos(
        self, files: list[dict], schema_json: str, dv_files: list[dict] | None
    ) -> DataFrame:
        """Rows of ``files`` plus their physical position identity
        (``_bn`` = file basename, ``_pos`` = row index within the file,
        from the parquet ``_metadata`` column), with any deletion-vector
        rows already anti-joined away.  The DV sidecars are tiny relative
        to the data (they hold only deleted positions), so the anti-join
        broadcasts — the same plan Delta's DV read path produces."""
        schema = T.StructType.fromJson(json.loads(schema_json))
        if not files:
            df = local_frame(self.spark, [], schema)
            return df.withColumn("_bn", F.lit(None).cast("string")).withColumn(
                "_pos", F.lit(None).cast("long")
            )
        paths = [os.path.join(self.path, f["path"]) for f in files]
        df = self.spark.read.schema(schema).parquet(*paths)
        cols = df.columns
        df = df.select(
            *cols,
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("_bn"),
            F.col("_metadata.row_index").alias("_pos"),
        )
        bns = {self._basename(f["path"]) for f in files}
        relevant = [
            s for s in (dv_files or []) if any(bn in bns for bn in s["counts"])
        ]
        if not relevant:
            return df
        dv = self._read_dv(relevant)
        return df.join(F.broadcast(dv), ["_bn", "_pos"], "left_anti")

    def _read_files(
        self, files: list[dict], schema_json: str, dv_files: list[dict] | None = None
    ) -> DataFrame:
        schema = T.StructType.fromJson(json.loads(schema_json))
        if not files:
            return local_frame(self.spark, [], schema)
        bns = {self._basename(f["path"]) for f in files}
        relevant = [
            s for s in (dv_files or []) if any(bn in bns for bn in s["counts"])
        ]
        if relevant:
            cols = [f.name for f in schema.fields]
            return self._read_files_with_pos(files, schema_json, dv_files).select(*cols)
        paths = [os.path.join(self.path, f["path"]) for f in files]
        return self.spark.read.schema(schema).parquet(*paths)

    # ---- operations ------------------------------------------------------

    def write(self, df: DataFrame, cluster_by: list[str] | None = None,
              n_files: int | None = None, bloom_cols: list[str] | None = None,
              checks: list[str] | None = None) -> int:
        """Create the table (version 0) or replace it wholesale.

        ``cluster_by`` range-partitions the data files on the given keys
        before writing — the liquid-clustering analog that makes per-file
        min/max stats disjoint, which is what gives MERGE/DELETE skipping
        its bite (unclustered files all overlap and nothing can be
        skipped). ``n_files`` pins the file count; left None, AQE sizes
        the range partitions (which may coalesce a tiny table to one)."""
        if cluster_by:
            df = (
                df.repartitionByRange(n_files, *cluster_by)
                if n_files
                else df.repartitionByRange(*cluster_by)
            )
        elif n_files:
            df = df.repartition(n_files)
        # ``bloom_cols`` turns on a per-file Bloom index on those columns —
        # persisted in the manifest and rebuilt automatically on every
        # rewrite (merge/delete/compact/zorder) via the commit loop
        # ``checks`` are Delta-style CHECK constraints (SQL boolean
        # expressions): validated against these rows now, persisted in the
        # log, and enforced on every future merge/replace batch
        extra = {"bloom_cols": bloom_cols, "checks": checks, "dv_files": []}
        return self._commit(lambda _man: (df, [], "full snapshot", df.schema.json(), extra),
                            "write")

    def read(self, version: int | None = None) -> DataFrame:
        """Latest snapshot, or time-travel to an older version."""
        man = self._manifest(version)
        return self._read_files(man["files"], man["schema"], man.get("dv_files"))

    def version_as_of(self, ts) -> int:
        """Resolve a TIMESTAMP AS OF instant to a version number: the last
        commit whose instant is <= ``ts`` (Delta's rule; ties and clock
        wobble resolve in version order).  ``ts`` is a unix float or an
        ISO ``YYYY-MM-DDTHH:MM:SSZ`` string; manifests carry a
        microsecond commit instant (older ones fall back to the
        second-granular ISO field)."""
        import calendar

        if isinstance(ts, str):
            ts = calendar.timegm(time.strptime(ts, "%Y-%m-%dT%H:%M:%SZ"))
        best = None
        for v in self._versions():
            man = self._manifest(v)
            t = man.get("committed_at_unix")
            if t is None:
                t = calendar.timegm(time.strptime(man["committed_at"], "%Y-%m-%dT%H:%M:%SZ"))
            if t <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no version committed at or before {ts!r} at {self.path}"
            )
        return best

    def read_as_of(self, ts) -> DataFrame:
        """TIMESTAMP AS OF time travel (Delta ``SELECT ... TIMESTAMP AS OF``)."""
        return self.read(self.version_as_of(ts))

    def restore(self, version: int) -> int:
        """Delta ``RESTORE TABLE ... TO VERSION AS OF``: commit a NEW
        version whose content is snapshot ``version`` — a rollback that
        preserves history (time travel still reaches the undone commits)
        and carries the old file list by reference, writing nothing.
        Safe w.r.t. vacuum only while ``version`` is inside the retention
        horizon, exactly as in Delta."""
        old = self._manifest(version)

        def build(man: dict):
            checks = man.get("checks") or []
            if checks:
                # a CHECK added after ``version`` may not hold on the old
                # snapshot; restoring would advertise a violated invariant
                cur = self._read_files(
                    old["files"], old["schema"], old.get("dv_files")
                )
                self._validate_checks(cur, checks)
            detail = f"restore to v{version}"
            return (
                None,
                old["files"],
                detail,
                old["schema"],
                {"dv_files": old.get("dv_files", [])},
            )

        return self._commit(build, "restore")

    def clone(self, dest: str, deep: bool = True) -> "VersionedTable":
        """Delta CLONE parity: materialize the latest snapshot as a new
        independent table at ``dest``.

        ``deep=True`` copies the referenced data/DV files — the clone owns
        its storage and the source can be vacuumed freely.  ``deep=False``
        is a SHALLOW clone: the new table's v0 manifest references the
        source's files by ABSOLUTE path (zero bytes copied; reads resolve
        through the same ``os.path.join`` the relative form uses).  As
        with Delta shallow clones, vacuuming the SOURCE can break a
        shallow clone — the clone's manifest records the dependency in
        its detail string so the hazard is discoverable."""
        man = self._manifest()
        clone = VersionedTable(self.spark, dest)
        os.makedirs(clone.path, exist_ok=True)
        files, dvs = [], []
        if deep:
            os.makedirs(clone._data_dir, exist_ok=True)
            for f in man["files"]:
                shutil.copy2(
                    os.path.join(self.path, f["path"]),
                    os.path.join(clone.path, f["path"]),
                )
                files.append(f)
            for s in man.get("dv_files", []):
                os.makedirs(os.path.join(clone.path, "dv"), exist_ok=True)
                shutil.copy2(
                    os.path.join(self.path, s["path"]),
                    os.path.join(clone.path, s["path"]),
                )
                dvs.append(s)
            detail = f"deep clone of {self.path}@v{man['version']}"
        else:
            files = [
                {**f, "path": os.path.join(self.path, f["path"])} for f in man["files"]
            ]
            dvs = [
                {**s, "path": os.path.join(self.path, s["path"])}
                for s in man.get("dv_files", [])
            ]
            detail = f"SHALLOW clone of {self.path}@v{man['version']} (source vacuum breaks it)"
        entry = clone._entry(
            0, [], files, "clone", detail, man["schema"],
            bloom_cols=man.get("bloom_cols"), dv_files=dvs,
            checks=man.get("checks"),
        )
        if not commit.claim(clone._entry_path(0), entry):
            raise ValueError(f"destination {dest} already has a version log")
        return clone

    def files_df(self, version: int | None = None) -> DataFrame:
        """Iceberg ``table.files`` / Delta ``DESCRIBE DETAIL`` as a
        queryable DataFrame: one row per data file in the snapshot with
        its physical row count and flattened min/max stats (JSON), plus
        live deletion-vector counts.  Metadata only — no data file is
        opened."""
        man = self._manifest(version)
        dv_counts: dict[str, int] = {}
        for s in man.get("dv_files", []):
            for bn, n in s["counts"].items():
                dv_counts[bn] = dv_counts.get(bn, 0) + n
        rows = [
            (
                f["path"],
                int(f["num_rows"]),
                int(dv_counts.get(self._basename(f["path"]), 0)),
                json.dumps(f["stats"], sort_keys=True),
            )
            for f in man["files"]
        ]
        return local_frame(
            self.spark, rows, "path string, num_rows long, num_deleted long, stats_json string"
        )

    def history_df(self) -> DataFrame:
        """The commit log as a queryable DataFrame (Delta ``DESCRIBE
        HISTORY``): version, operation, file/row accounting per commit."""
        rows = [
            (
                int(h["version"]),
                h["op"],
                int(len(h["files"])),
                int(h["num_rows"]) - int(h.get("num_deleted", 0)),
                int(h["files_written"]),
                int(h["files_carried"]),
            )
            for h in self.history()
        ]
        return local_frame(
            self.spark, rows,
            "version long, op string, n_files long, n_rows long, "
            "files_written long, files_carried long",
        )

    def add_check(self, expr: str) -> int:
        """Delta ``ALTER TABLE ADD CONSTRAINT ... CHECK``: validate the
        constraint against ALL existing rows (Delta's precondition), then
        commit a metadata-only version carrying it; every future
        merge/replace batch is validated against it before any file is
        written.  Raises ConstraintViolationError if current data already
        violates."""

        def build(man: dict):
            existing = man.get("checks") or []
            cur = self._read_files(man["files"], man["schema"], man.get("dv_files"))
            self._validate_checks(cur, [expr])
            return (
                None,
                man["files"],
                f"add check {expr}",
                man["schema"],
                {"checks": existing + [expr]},
            )

        return self._commit(build, "add_check")

    def change_feed(
        self, keys: list[str], from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change-data-feed between two versions: the NET row-level changes
        that turn snapshot ``from_version`` into snapshot ``to_version``
        (latest if None), as the ``to``-schema columns plus ``change_type``
        in {'insert', 'delete', 'update_preimage', 'update_postimage'}.

        Delta's CDF replays per-commit change files; this is the snapshot-
        diff form (net effect across the version range — a row updated then
        deleted surfaces once, as a delete carrying the ``from`` preimage).

        Scale shape: only files REMOVED from the old manifest and ADDED in
        the new one are read — a file carried between versions is untouched
        by definition, so its rows never enter the diff. After a key-pruned
        MERGE on a clustered table, that is the changed key range only, not
        the table; the single shuffle is the full-outer join on ``keys``
        over those files, and unchanged rows inside rewritten files cancel
        out via the null-safe struct comparison (one pass, no re-read).

        Reference parity: the reference detects changed entities by
        comparing S3 object versions (graph_db_manufacturer_service.py
        version checks, SURVEY S4/ST7); this is the row-level form over the
        table log.
        """
        man_from = self._manifest(from_version)
        man_to = self._manifest(to_version)
        to_paths = {f["path"] for f in man_to["files"]}
        from_paths = {f["path"] for f in man_from["files"]}
        removed = [f for f in man_from["files"] if f["path"] not in to_paths]
        added = [f for f in man_to["files"] if f["path"] not in from_paths]
        # deletion vectors change a file's LIVE rows without changing its
        # path: a carried file gaining DV rows in the range must enter the
        # diff on both sides (read under each side's own DV state) so the
        # newly-deleted rows surface as deletes and untouched rows cancel.
        from_dv = man_from.get("dv_files", [])
        to_dv = man_to.get("dv_files", [])
        from_dv_paths = {s["path"] for s in from_dv}
        dv_touched_bns = {
            bn for s in to_dv if s["path"] not in from_dv_paths for bn in s["counts"]
        }
        dv_changed = [
            f
            for f in man_to["files"]
            if f["path"] in from_paths and self._basename(f["path"]) in dv_touched_bns
        ]
        removed = removed + dv_changed
        added = added + dv_changed
        old = self._read_files(removed, man_from["schema"], from_dv)
        new = self._read_files(added, man_to["schema"], to_dv)
        to_schema = T.StructType.fromJson(json.loads(man_to["schema"]))
        cols = [f.name for f in to_schema.fields]
        # mergeSchema evolution: the preimage reports NULL for columns that
        # did not exist at from_version (Delta CDF does the same)
        for fld in to_schema.fields:
            if fld.name not in old.columns:
                old = old.withColumn(fld.name, F.lit(None).cast(fld.dataType))
        vals = [c for c in cols if c not in keys]
        o = old.select(
            F.lit(True).alias("_o_present"), *[F.col(c).alias(f"_o_{c}") for c in cols]
        )
        n = new.select(
            F.lit(True).alias("_n_present"), *[F.col(c).alias(f"_n_{c}") for c in cols]
        )
        cond = None
        for k in keys:
            eq = o[f"_o_{k}"].eqNullSafe(n[f"_n_{k}"])
            cond = eq if cond is None else (cond & eq)
        # SHUFFLE_HASH: a full-outer equi-join (eqNullSafe stays hashable)
        # cannot broadcast, and both sides are bounded by the CHANGED file
        # set of one version pair — a per-partition hash build is cheaper
        # than sort-merge's two full sorts (guide §3.1).
        j = o.join(n.hint("shuffle_hash"), cond, "full_outer")
        in_old = F.coalesce(F.col("_o_present"), F.lit(False))
        in_new = F.coalesce(F.col("_n_present"), F.lit(False))
        differs = (
            ~F.struct(*[F.col(f"_o_{c}") for c in vals]).eqNullSafe(
                F.struct(*[F.col(f"_n_{c}") for c in vals])
            )
            if vals
            else F.lit(False)
        )

        def row(prefix: str, ctype: str):
            return F.struct(
                *[F.col(f"{prefix}{c}").alias(c) for c in cols],
                F.lit(ctype).alias("change_type"),
            )

        # one pass over the single join: each matched pair contributes 0, 1
        # or 2 change rows via a filtered-array explode (never a re-scan)
        events = F.array(
            F.when(~in_old & in_new, row("_n_", "insert")),
            F.when(in_old & ~in_new, row("_o_", "delete")),
            F.when(in_old & in_new & differs, row("_o_", "update_preimage")),
            F.when(in_old & in_new & differs, row("_n_", "update_postimage")),
        )
        return (
            j.select(F.explode(F.filter(events, lambda x: x.isNotNull())).alias("_e"))
            .select("_e.*")
        )

    def _split_by_key_range(self, files: list[dict], updates: DataFrame, keys: list[str],
                            max_exact: int = 1024,
                            key_types: dict | None = None,
                            extra_aggs: list | None = None):
        """(touched, carried, extras): a file is carried iff NO update row
        can match it — evaluated per file against its min/max stats box in
        ONE aggregation pass over the update batch.

        ``extra_aggs`` lets a caller fold its own aggregate guards (e.g.
        merge's duplicate-key check) into the same single job instead of
        paying a separate action for them; their values come back as the
        third element (a Row, or None when none were requested).

        This is strictly tighter than Delta's derive-a-predicate-from-
        global-bounds rule: a mixed upsert batch (low-key updates + high-key
        inserts — the common ingest shape) has global key bounds spanning
        the whole table, which would touch every file; the per-file
        existence test keeps the files between the two key clusters
        carried. Cost: the same single job over ``updates`` the bounds
        computation already paid, with an O(n_files)-wide aggregate
        expression (JVM-side, codegen). Beyond ``max_exact`` files the
        expression would dominate planning, so it falls back to the global-
        bounds rule (sound, just coarser).

        Null semantics: a NULL key in an update row carries no range
        evidence, so such rows conservatively touch every file (matches
        the merge join's behavior of never matching them — rewrite is
        correct either way, skip would not be provable).
        """
        extra_aggs = list(extra_aggs or [])

        def _extra_only():
            return updates.agg(*extra_aggs).collect()[0] if extra_aggs else None

        if not files:
            return [], [], _extra_only()
        if len(files) > max_exact:
            t, c = self._split_by_global_bounds(files, updates, keys)
            return t, c, _extra_only()
        flags = []
        for i, f in enumerate(files):
            pred = None
            for k in keys:
                mm = f["stats"].get(k)
                if not mm or mm[0] is None or mm[1] is None:
                    continue  # no stats on this key -> no evidence from it
                c = F.col(k).between(F.lit(mm[0]), F.lit(mm[1]))
                bloom = (f.get("bloom") or {}).get(k)
                if bloom is not None and len(files) <= 256:
                    # the index bits were built by hashing the TABLE-typed
                    # column; xxhash64 is type-sensitive (INT and LONG hash
                    # differently), so a type-widened update batch must be
                    # cast to the table type before probing or a present
                    # key could falsely test absent (silent lost update)
                    probe_col = f"`{k}`"
                    if key_types and k in key_types:
                        probe_col = f"cast(`{k}` as {key_types[k]})"
                    # Bloom probe: both hash positions must be set bits.
                    # Catches keys INSIDE the range box but absent from the
                    # file — the point-lookup gap min/max cannot close.
                    # Gated at 256 files: each probe inlines a 128-long
                    # array literal, which dominates planning past that.
                    arr = "array(" + ",".join(f"{w}L" for w in bloom) + ")"
                    for seed in _BLOOM_SEEDS:
                        pos = self._bloom_pos_expr(probe_col, seed)
                        c = c & F.expr(
                            f"(shiftright(element_at({arr}, cast(({pos}) div 64 as int) + 1), "
                            f"cast(({pos}) % 64 as int)) & 1) = 1"
                        )
                c = F.col(k).isNull() | c
                pred = c if pred is None else (pred & c)
            flags.append(
                F.max((pred if pred is not None else F.lit(True)).cast("int")).alias(f"_f{i}")
            )
        row = updates.agg(*flags, *extra_aggs).collect()[0]
        touched, carried = [], []
        for i, f in enumerate(files):
            # None = empty update batch: no row can match anything
            (touched if row[f"_f{i}"] == 1 else carried).append(f)
        return touched, carried, (row if extra_aggs else None)

    def _split_by_global_bounds(self, files: list[dict], updates: DataFrame, keys: list[str]):
        """Coarse fallback: carry a file iff its range on some key is
        provably disjoint from the update batch's GLOBAL key range."""
        bounds_row = updates.agg(
            *[F.min(k).alias(f"__min_{k}") for k in keys],
            *[F.max(k).alias(f"__max_{k}") for k in keys],
        ).collect()[0]
        touched, carried = [], []
        for f in files:
            might = True
            for k in keys:
                lo, hi = self._json_safe(bounds_row[f"__min_{k}"]), self._json_safe(bounds_row[f"__max_{k}"])
                if lo is None or hi is None:
                    continue  # empty/all-null update batch: no range evidence
                mm = f["stats"].get(k)
                if mm and mm[0] is not None and mm[1] is not None and (mm[1] < lo or mm[0] > hi):
                    might = False
                    break
            (touched if might else carried).append(f)
        return touched, carried

    def merge(self, updates: DataFrame, keys: list[str], merge_schema: bool = False) -> int:
        """Upsert: rows matching on ``keys`` are replaced by ``updates``,
        unmatched update rows are inserted (Delta ``MERGE WHEN MATCHED
        UPDATE SET * WHEN NOT MATCHED INSERT *``). Files whose key stats
        cannot intersect the update batch are carried forward untouched;
        only intersecting files are anti-joined and rewritten. Re-merging
        the same batch is a no-op state change — ST2's idempotent
        at-least-once contract.

        ``merge_schema=True`` is Delta's mergeSchema evolution: columns in
        ``updates`` that the table lacks are APPENDED to the table schema
        (nullable); carried/old files are read under the evolved schema
        and surface NULL for the new columns (parquet schema-on-read —
        nothing is rewritten), and time travel to older versions still
        reads the schema those versions committed. Columns the table has
        but ``updates`` lacks are filled with NULL on inserted rows.
        Without the flag, extra update columns are dropped (project to the
        table schema).

        ``updates`` is pinned with an eager localCheckpoint before any
        read: the plan is otherwise evaluated three times (key-bounds agg,
        anti-join, union), and a nondeterministic source (sampling, rand,
        re-read of changing files) could produce skip decisions
        inconsistent with the rows actually merged. Delta imposes the same
        determinism requirement on MERGE sources; the checkpoint makes it
        hold by construction (consistent-or-fail, never recomputed)."""
        updates = updates.localCheckpoint(eager=True)

        def build(man: dict):
            schema = T.StructType.fromJson(json.loads(man["schema"]))
            if merge_schema:
                extra = [f for f in updates.schema.fields if f.name not in schema.fieldNames()]
                schema = T.StructType(
                    schema.fields
                    + [T.StructField(f.name, f.dataType, True) for f in extra]
                )
            schema_json = schema.json()
            # Delta MERGE rejects sources with multiple rows per key --
            # silently accepting them would insert duplicates into a keyed
            # table (the anti-join removes ONE old row, the union adds N).
            # The guard aggregates ride the file-skip aggregation's single
            # job over the checkpointed batch (r13: one action instead of
            # two per merge; the ValueError still fires before any write).
            # count_distinct over the key tuple already excludes any-null
            # rows, and the conditional count mirrors the old
            # na.drop(subset=keys) slice exactly.
            import functools as _ft
            import operator as _op

            nn_cond = _ft.reduce(
                _op.and_, [F.col(k).isNotNull() for k in keys]
            )
            key_types = {
                f.name: f.dataType.simpleString()
                for f in schema.fields
                if f.name in keys
            }
            touched, carried, guard = self._split_by_key_range(
                man["files"], updates, keys, key_types=key_types,
                extra_aggs=[
                    F.count(F.when(nn_cond, F.lit(1))).alias("__nn_total"),
                    F.count_distinct(*[F.col(k) for k in keys]).alias(
                        "__nn_distinct"
                    ),
                ],
            )
            total, distinct = guard["__nn_total"], guard["__nn_distinct"]
            if total != distinct:
                raise ValueError(
                    f"MERGE source has {total - distinct} duplicate row(s) on "
                    f"keys {keys}; deduplicate the batch first (Delta raises "
                    "'multiple source rows matched' here for the same reason)"
                )
            cur = self._read_files(touched, schema_json, man.get("dv_files"))
            kept = cur.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
            ups = updates
            for f in schema.fields:
                if f.name not in ups.columns:
                    ups = ups.withColumn(f.name, F.lit(None).cast(f.dataType))
            # schema ENFORCEMENT (Delta semantics): an update column whose
            # type drifted from the table schema would write parquet files
            # whose physical type disagrees with it — every later read of
            # those files fails with PARQUET_COLUMN_DATA_TYPE_MISMATCH.
            # Provably-lossless upcasts (int batch into a long table) are
            # cast silently, matching the Bloom-probe key handling; a
            # LOSSY drift (decimal(18,2)+1 widening to (19,2) is the
            # classic) refuses loudly because casting it back could null
            # overflowing values instead — the caller must cast explicitly.
            up_types = {f.name: f.dataType for f in ups.schema.fields}
            mismatched = []
            for f in schema.fields:
                ut = up_types.get(f.name)
                if ut is None or ut == f.dataType:
                    continue
                if _lossless_upcast(ut, f.dataType):
                    ups = ups.withColumn(f.name, F.col(f.name).cast(f.dataType))
                else:
                    mismatched.append(
                        (f.name, ut.simpleString(), f.dataType.simpleString())
                    )
            if mismatched:
                raise ValueError(
                    "MERGE source column type(s) do not losslessly match the "
                    f"table schema: {mismatched}; cast the update batch "
                    "explicitly (Delta schema enforcement refuses the same way)"
                )
            merged = kept.unionByName(ups.select(*[f.name for f in schema.fields]))
            if len(touched) > 1:
                # re-cluster the rewritten slice on the merge keys so its new
                # files keep disjoint stats and stay skippable next merge
                merged = merged.repartitionByRange(len(touched), *keys)
            detail = f"keys={keys} files_skipped={len(carried)} files_rewritten={len(touched)}"
            return merged, carried, detail, schema_json

        return self._commit(build, "merge")

    def delete_keys(self, tombstones: DataFrame, keys: list[str]) -> int:
        """Keyed DELETE: drop every row whose key tuple appears in
        ``tombstones`` — the change-feed-delete application path (a CDC
        consumer holds delete KEYS as a DataFrame, not a predicate, so
        ``delete_where``'s Column form doesn't fit without a collect).
        Files whose key stats cannot intersect the tombstone batch are
        carried forward untouched (same per-file existence test as
        ``merge``); deleting absent keys is a no-op state change, so a
        redelivered delete batch is idempotent (ST2). Pinned with an
        eager localCheckpoint for the same determinism reason as merge."""
        tombstones = tombstones.localCheckpoint(eager=True)

        def build(man: dict):
            schema = T.StructType.fromJson(json.loads(man["schema"]))
            missing = [k for k in keys if k not in schema.fieldNames()]
            if missing:
                raise ValueError(f"delete keys {missing} not in table schema")
            key_types = {
                f.name: f.dataType.simpleString()
                for f in schema.fields
                if f.name in keys
            }
            touched, carried, _ = self._split_by_key_range(
                man["files"], tombstones, keys, key_types=key_types
            )
            cur = self._read_files(touched, man["schema"], man.get("dv_files"))
            kept = cur.join(
                tombstones.select(*keys).distinct(), on=keys, how="left_anti"
            )
            detail = (
                f"delete_keys keys={keys} files_skipped={len(carried)} "
                f"files_rewritten={len(touched)}"
            )
            return kept, carried, detail, man["schema"]

        return self._commit(build, "delete")

    def delete_where(self, cond: Column | str, prune: StatsPredicate | None = None) -> int:
        """DELETE WHERE: drop matching rows (S13 prefix-delete shape).
        Rows where the predicate is NULL are kept, matching SQL DELETE.
        ``prune`` (e.g. ``prefix_prune``/``range_prune``) lets provably
        unaffected files be carried forward without a rewrite — the
        explicit form of Delta's stats-based predicate skipping."""
        cond = F.expr(cond) if isinstance(cond, str) else cond

        def build(man: dict):
            if prune is None:
                touched, carried = man["files"], []
            else:
                touched = [f for f in man["files"] if prune(f["stats"])]
                carried = [f for f in man["files"] if not prune(f["stats"])]
            keep = ~F.coalesce(cond, F.lit(False))
            kept = self._read_files(touched, man["schema"], man.get("dv_files")).where(keep)
            detail = f"{cond} files_skipped={len(carried)} files_rewritten={len(touched)}"
            return kept, carried, detail, man["schema"]

        return self._commit(build, "delete")

    def _write_dv_file(self, hits: DataFrame) -> dict | None:
        """Persist (_bn, _pos) deletion rows as one DV sidecar parquet;
        returns its manifest entry {"path", "counts": {basename: n}} or
        None if nothing matched.  A sidecar abandoned by a lost commit
        race is an orphan for ``vacuum``, same as a data file."""
        rel = f"dv/dv-{uuid.uuid4().hex[:8]}.parquet"
        path = commit.write_single_parquet(
            hits.select("_bn", "_pos"), os.path.join(self.path, rel)
        )
        back = self.spark.read.schema("_bn string, _pos long").parquet(path)
        counts = {r["_bn"]: r["n"] for r in back.groupBy("_bn").agg(F.count(F.lit(1)).alias("n")).collect()}
        if not counts:
            commit.drop([path])
            return None
        return {"path": rel, "counts": counts}

    def delete_where_dv(self, cond: Column | str, prune: StatsPredicate | None = None) -> int:
        """DELETE WHERE via DELETION VECTORS (Delta/Iceberg v2 merge-on-read
        deletes): instead of rewriting every touched data file, record the
        matching rows' physical positions (file basename + row index) in a
        small sidecar and anti-join them away at read time.  The write cost
        is proportional to the DELETED rows, not the touched files — the
        right trade for point/sparse deletes (GDPR erasure, retractions)
        on a 100 TB table, where ``delete_where`` would rewrite terabytes
        to drop kilobytes.

        Reads pay the broadcast anti-join until a rewrite materializes the
        deletes: ``compact()`` / ``optimize_zorder`` / a MERGE touching the
        file purges its DV rows automatically (the commit loop prunes
        sidecar entries to surviving basenames).  ``count_rows`` stays
        metadata-only: manifests track per-sidecar per-file deleted counts.
        ``prune`` bounds the position scan exactly as it bounds the rewrite
        in ``delete_where``."""
        cond = F.expr(cond) if isinstance(cond, str) else cond

        def build(man: dict):
            dvs = man.get("dv_files", [])
            if prune is None:
                touched = man["files"]
            else:
                touched = [f for f in man["files"] if prune(f["stats"])]
            live = self._read_files_with_pos(touched, man["schema"], dvs)
            hits = live.where(F.coalesce(cond, F.lit(False)))
            sidecar = self._write_dv_file(hits)
            if sidecar is None:
                return None, man["files"], "dv-noop", man["schema"]
            n = sum(sidecar["counts"].values())
            detail = f"dv {cond} rows_deleted={n} files_scanned={len(touched)}"
            return None, man["files"], detail, man["schema"], {"dv_files": dvs + [sidecar]}

        return self._commit(build, "delete_dv")

    def compact(self, target_rows: int = 1_000_000) -> int:
        """OPTIMIZE-style small-file compaction: rewrite groups of small
        files into fewer larger ones; files already holding >= target_rows
        are carried forward untouched. Bin-packs manifest entries by row
        count (greedy, stats-only — no data read for the packing decision),
        then rewrites each bin with one coalesced write. Logical table
        content is unchanged: compaction is a pure manifest/file rewrite,
        which is exactly Delta's OPTIMIZE contract."""
        def build(man: dict):
            small = [f for f in man["files"] if f["num_rows"] < target_rows]
            carried = [f for f in man["files"] if f["num_rows"] >= target_rows]
            if len(small) <= 1:
                # nothing to gain: one small file cannot be compacted further
                return None, man["files"], "noop", man["schema"]
            merged = self._read_files(small, man["schema"], man.get("dv_files")).coalesce(
                max(1, sum(f["num_rows"] for f in small) // target_rows)
            )
            return (merged, carried,
                    f"files_compacted={len(small)} files_kept={len(carried)}",
                    man["schema"])

        return self._commit(build, "compact")

    def optimize_zorder(self, cols: list[str], n_files: int | None = None,
                        bits: int = 8) -> int:
        """OPTIMIZE ZORDER BY: rewrite the table's files clustered on the
        Z-order (Morton) curve over ``cols``, so per-file min/max stats
        become tight on EVERY listed column at once — `cluster_by` range
        clustering only skips well on its leading key; Z-ordering lets
        MERGE/DELETE prune on any of the curve's dimensions (the
        multi-dimensional skipping Delta's OPTIMIZE ZORDER buys).

        Mechanism: each column is rank-normalized to ``bits`` bits of
        bucket id against approxQuantile boundaries (one sketch pass, no
        global sort — a whole-table ntile window would funnel every row
        through ONE task, the 100 TB killer this deliberately avoids);
        the bucket id is computed row-locally as a fold over the
        broadcast boundary array, the per-column bits are interleaved
        into one Morton key, and files are range-partitioned on that key.
        Logical content is unchanged — a pure layout commit, like
        ``compact``. Quantile sketching makes the LAYOUT approximate,
        never the data; skew (repeated boundary values) only widens some
        buckets. Columns must be numeric (Delta's ZORDER maps strings
        through the same range-id trick; out of scope here)."""
        if not cols:
            raise ValueError("optimize_zorder needs at least one column")

        def build(man: dict):
            cur = self._read_files(man["files"], man["schema"], man.get("dv_files"))
            n = 1 << bits
            probs = [i / n for i in range(1, n)]
            z = cur
            for c in cols:
                # one G-K sketch pass per column; boundaries become a
                # broadcast literal array and bucketing is a row-local fold
                bounds = cur.stat.approxQuantile(c, probs, 1.0 / (4 * n))
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
            nf = n_files or max(1, len(man["files"]))
            out = z.repartitionByRange(nf, F.col("__zkey")).drop(
                "__zkey", *[f"__r_{c}" for c in cols]
            )
            return out, [], f"zorder_by={cols} files_rewritten={len(man['files'])}", man["schema"]

        return self._commit(build, "zorder")

    def count_rows(self, version: int | None = None) -> int:
        """``COUNT(*)`` answered from the manifest alone — the metadata-only
        scan Iceberg/Delta serve from their stats, with zero data files
        read at any table size. Each commit sums its per-file counts, so
        the number is exact for every retained version; deletion-vector
        commits track their per-file deleted counts in the manifest, so
        the subtraction is metadata-only too."""
        man = self._manifest(version)
        return int(man["num_rows"]) - int(man.get("num_deleted", 0))

    def expire_versions(self, keep_versions: int = 10) -> list[int]:
        """Log retention (Iceberg ``expire_snapshots``): drop every
        manifest older than the newest ``keep_versions``, after a
        ``vacuum`` under the same horizon has reclaimed the data files
        only those versions referenced. Without this the ``_log`` grows
        one full file-list per commit forever — at 100 TB with thousands
        of commits the metadata itself becomes a scan problem. Time
        travel and ``change_feed`` to expired versions raise instead of
        reading dangling manifests; ``history()`` reflects what is
        actually readable. Returns the expired version numbers. Like
        ``vacuum``, must not run concurrently with an in-flight writer."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        self.vacuum(keep_versions)
        versions = self._versions()
        expired = versions[:-keep_versions]
        for v in expired:
            os.remove(os.path.join(self._log_dir, f"v{v}.json"))
        return expired

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Retention cleanup through the commit kernel's ``reclaim``:
        delete every file under the table's root that none of the newest
        ``keep_versions`` manifests references — data and DV files only
        older versions used (Delta VACUUM semantics with a version-count
        horizon instead of a wall-clock one — deterministic in tests),
        and the residue of commit attempts that lost a race or were
        killed. Returns the removed paths, relative to the root. Time
        travel to vacuumed versions stops working, as in Delta — and
        like Delta's VACUUM, this must not run concurrently with an
        in-flight writer (its pre-claim data files look like orphans)."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        live: set[str] = set()
        for v in self._versions()[-keep_versions:]:
            man = self._manifest(v)
            live.update(f["path"] for f in man["files"])
            live.update(s["path"] for s in man.get("dv_files", []))
        return list(commit.reclaim(self.path, live, ("_log/*",)))

    def replace_where(self, df: DataFrame, cond: Column | str,
                      prune: StatsPredicate | None = None) -> int:
        """Delta ``replaceWhere``: atomically swap the partition(s)
        selected by ``cond`` with ``df`` (which must satisfy ``cond``).
        ``prune`` carries provably unaffected files forward unrewritten."""
        cond = F.expr(cond) if isinstance(cond, str) else cond

        def build(man: dict):
            if prune is None:
                touched, carried = man["files"], []
            else:
                touched = [f for f in man["files"] if prune(f["stats"])]
                carried = [f for f in man["files"] if not prune(f["stats"])]
            kept = self._read_files(touched, man["schema"], man.get("dv_files")).where(~F.coalesce(cond, F.lit(False)))
            detail = f"{cond} files_skipped={len(carried)} files_rewritten={len(touched)}"
            return kept.unionByName(df.where(cond)), carried, detail, man["schema"]

        return self._commit(build, "replace_where")
