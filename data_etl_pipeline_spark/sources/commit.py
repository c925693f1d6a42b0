"""The commit kernel: the only code that turns an attempt's files into a
visible commit, for all three table protocols in ``sources/`` —
``VersionedTable`` (``_log/v{N}.json``), the Delta exporter
(``_delta_log/{N:020d}.json``) and the Iceberg writer
(``metadata/vN.metadata.json``).

CLAIM. Version N becomes visible through an EXCLUSIVE create of its log
entry: written under a unique temporary name, then ``os.link``-ed to the
final name, which fails atomically if the name exists — the
put-if-absent primitive Delta's PROTOCOL.md requires for log entries and
the atomic metadata swap the Iceberg spec requires (the Delta Lake
paper, Armbrust et al., VLDB 2020, builds both on it). A writer that
loses the race hands the lost version to its protocol's ``rebase``,
which checks the commits that won and names the version to try next, or
raises ``ConcurrentCommitError``:

  * ``VersionedTable`` re-derives its change against the winner's
    manifest and writes it again, so two interleaved MERGEs both land;
    a full ``write`` reuses the files it already wrote. MERGE sources are
    pinned with ``localCheckpoint``, so every re-derivation sees the same
    source rows.
  * A Delta append retries with the same files, unless a winner already
    committed its ``txn`` (then it is skipped). Merge, delete,
    replaceWhere, OPTIMIZE and ZORDER retry the same actions only if no
    winner removed a file they remove; a winner that changed ``metaData``
    or ``protocol`` conflicts with every commit. Unlike Delta's conflict
    checker, rows a winner ADDED are not checked against a loser's match
    condition: two merges that insert the same new key both land.
  * An Iceberg append rewrites its manifest and manifest list for the
    next snapshot id (``max + 1``) and retries; every other Iceberg
    commit raises. ``version-hint.text`` is written only after a won
    claim, and readers roll forward from it while ``v{N+1}`` exists.

STAGE. Every Spark write of an attempt goes into a fresh directory under
``<table>/_attempt-<token>/``, and the attempt then moves the files to
their final names, so two writers never share a directory and a commit's
adds are exactly the files its own attempt wrote — never a listing of the
table, which would publish a concurrent writer's files or resurrect
removed ones. An attempt that fails in-process removes every file it
staged or placed; a killed process leaves them for RECLAIM.

RECLAIM. Files leave a table only through ``reclaim``, under one rule
(the Delta Lake paper's VACUUM and the Iceberg spec's orphan-file
removal): a file is garbage iff it lies under the table's root, is not
one of the protocol's log entries, and no retained version references
it. Each protocol says only which versions it retains and what they
reference — ``VersionedTable.vacuum``, ``export_delta_vacuum``,
``expire_snapshots_iceberg``. Files another table owns (a shallow
clone's source, a converted Delta table) lie outside the root and are
never touched; a killed writer's staged and placed files are
unreferenced and go. Like Delta's VACUUM, reclaim must not run
concurrently with a writer: an in-flight attempt's files are
unreferenced until its claim.

Files that are overwritten rather than claimed (``_last_checkpoint``, the
Iceberg hint, checkpoint manifests, Avro files, single-file parquet) go
through ``replace_atomic`` or ``write_single_parquet``: a unique temporary
name, then a rename.
"""

from __future__ import annotations

import fnmatch
import itertools
import os
import shutil
import uuid
from collections.abc import Callable

MAX_ATTEMPTS = 10


class ConcurrentCommitError(RuntimeError):
    """A commit lost its claim to a conflicting commit, or to contention
    that outlasted ``MAX_ATTEMPTS`` retries; nothing of it is visible."""


def _write_unique_tmp(path: str, data: str | bytes) -> str:
    head, tail = os.path.split(path)
    os.makedirs(head, exist_ok=True)
    tmp = os.path.join(head, f".{tail}.{uuid.uuid4().hex}")
    with open(tmp, "wb" if isinstance(data, bytes) else "w") as fh:
        fh.write(data)
    return tmp


def claim(path: str, data: str | bytes) -> bool:
    """Create ``path`` holding ``data`` only if no writer created it
    first; returns whether this call won. The link fails with
    FileExistsError iff the name is taken, and readers never see a
    partial entry."""
    tmp = _write_unique_tmp(path, data)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def replace_atomic(path: str, data: str | bytes) -> None:
    """Overwrite ``path`` with ``data``; readers see the old or the new
    content, never a partial file."""
    os.replace(_write_unique_tmp(path, data), path)


def publish(
    path_of: Callable[[int], str],
    version: int,
    render: Callable[[int], str | bytes],
    rebase: Callable[[int], int | None] | None = None,
) -> int | None:
    """Claim the log entry ``path_of(v)`` with ``render(v)``, starting at
    ``version``. After a lost claim ``rebase(lost)`` checks the winners
    and returns the next version to try, or None to abandon the commit
    (``publish`` then returns None); it raises ConcurrentCommitError on a
    conflict. Without ``rebase`` a lost claim raises. Returns the claimed
    version."""
    for _ in range(MAX_ATTEMPTS):
        if claim(path_of(version), render(version)):
            return version
        if rebase is None:
            raise ConcurrentCommitError(
                f"{path_of(version)} was committed by a concurrent writer"
            )
        version = rebase(version)
        if version is None:
            return None
    raise ConcurrentCommitError(
        f"gave up after {MAX_ATTEMPTS} contended commit attempts at "
        f"{path_of(version)}"
    )


def drop(paths) -> None:
    """Remove the files of an attempt that will not commit."""
    for p in paths:
        if os.path.exists(p):
            os.remove(p)


def reclaim(root: str, live, log: tuple[str, ...]) -> dict[str, int]:
    """Remove every file under ``root`` that no retained version
    references: all but the paths in ``live`` (relative to ``root`` or
    absolute) and the log entries matching a ``log`` glob (relative to
    ``root``). Directories left empty go too, except ``root`` and its
    layout directories (``data/``, ``metadata/``, ...); an attempt's
    staging directory always goes. Returns {removed path relative to
    ``root``: its size in bytes}."""
    root = os.path.abspath(root)
    keep = {os.path.normpath(os.path.join(root, p)) for p in live}
    removed: dict[str, int] = {}
    for d, _dirs, fs in os.walk(root, topdown=False):
        for f in fs:
            full = os.path.join(d, f)
            rel = os.path.relpath(full, root).replace(os.sep, "/")
            if full in keep or any(fnmatch.fnmatch(rel, g) for g in log):
                continue
            removed[rel] = os.path.getsize(full)
            os.remove(full)
        layout = os.path.dirname(d) == root and not os.path.basename(d).startswith("_attempt-")
        if d != root and not layout and not os.listdir(d):
            os.rmdir(d)
    return dict(sorted(removed.items()))


def parquet_files(d: str) -> list[str]:
    """'/'-separated paths, relative to ``d``, of the parquet files a
    Spark write left there (no ``_SUCCESS`` or checksum files)."""
    return sorted(
        os.path.relpath(os.path.join(root, f), d).replace(os.sep, "/")
        for root, _dirs, fs in os.walk(d)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


class Attempt:
    """One commit attempt's files. ``stage`` runs a Spark write into a
    fresh directory under ``<root>/_attempt-<token>/``; ``place`` moves a
    staged file to its final name. As a context manager the staging
    directory is always removed on exit, and if the body raises, every
    file placed or ``own``-ed is removed too."""

    def __init__(self, root: str):
        self.root = root
        self.token = uuid.uuid4().hex[:12]
        self.files: list[str] = []
        self._dir = os.path.join(root, f"_attempt-{self.token}")
        self._n = itertools.count()

    def stage(self, write: Callable[[str], None]) -> str:
        """Run ``write(d)`` on a fresh staging directory ``d``; returns d."""
        d = os.path.join(self._dir, str(next(self._n)))
        if os.path.exists(d):
            raise FileExistsError(
                f"staging directory already exists: {d}; refusing to "
                "overwrite another attempt's files"
            )
        write(d)
        return d

    def own(self, path: str) -> str:
        """Count a file this attempt writes directly as its own."""
        self.files.append(path)
        return path

    def place(self, src: str, dst: str) -> str:
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(src, dst)
        return self.own(dst)

    def stage_into(self, write: Callable[[str], None], into: str) -> list[str]:
        """Stage one write, then place each parquet file it wrote at the
        same relative path under ``into``; returns the placed paths."""
        d = self.stage(write)
        return [
            self.place(os.path.join(d, rel), os.path.join(into, rel))
            for rel in parquet_files(d)
        ]

    def __enter__(self) -> "Attempt":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is not None:
            drop(self.files)
        shutil.rmtree(self._dir, ignore_errors=True)


def write_single_parquet(df, path: str) -> str:
    """Write ``df`` as ONE parquet file at ``path`` (replacing any file
    there): coalesce(1) into a staged directory, then move its part file
    into place."""
    with Attempt(os.path.dirname(path)) as att:
        d = att.stage(lambda d: df.coalesce(1).write.parquet(d))
        return att.place(os.path.join(d, parquet_files(d)[0]), path)
