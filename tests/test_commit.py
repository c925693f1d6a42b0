"""The commit kernel (sources/commit.py) under contention and crashes, for
all three table protocols: VersionedTable, the Delta exporter and the
Iceberg writer.

* Two writers start from ONE head: a barrier inside the kernel's claim
  holds each writer's first claim until both have derived and staged
  their change. Every run must end with both writers landing at
  distinct versions, or one landing and the other raising
  ConcurrentCommitError — never a lost row, never a row of a writer
  that raised.
* A claim that raises (a crash at the publish step) must leave the
  prior snapshot readable exactly, no staged file or ``_attempt-*``
  directory behind, and a table the next call commits to. A killed
  process runs no cleanup, so there the protocol's reclaim (vacuum or
  expire, keeping one version) must remove every file it left.

Ops per protocol (writer ``i`` touches only its own keys):
append = insert new keys (VersionedTable: an insert-only merge);
merge = update key ``i`` and insert key ``200 + i`` (Iceberg: an
equality delete then an append); delete = delete key ``10 + i``.
"""

from __future__ import annotations

import glob
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from data_etl_pipeline_spark.sources import commit
from data_etl_pipeline_spark.sources import delta_export as dx
from data_etl_pipeline_spark.sources import iceberg as ice
from data_etl_pipeline_spark.sources.commit import ConcurrentCommitError
from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
from data_etl_pipeline_spark.sources.versioned import VersionedTable

SCHEMA = "k long, v string"
BASE = {k: f"b{k}" for k in range(20)}
PROTOCOLS = ["versioned", "delta", "iceberg"]
OPS = ["append", "merge", "delete"]


def _rows(op: str, i: int) -> dict:
    """The rows writer ``i`` upserts (append/merge) or the keys it
    deletes (delete, values None)."""
    if op == "append":
        return {100 + 10 * i + j: f"a{i}" for j in range(3)}
    if op == "merge":
        return {i: f"m{i}", 200 + i: f"m{i}"}
    return {10 + i: None}


def _expected(op: str, landed) -> dict:
    state = dict(BASE)
    for i in landed:
        for k, v in _rows(op, i).items():
            if v is None:
                state.pop(k)
            else:
                state[k] = v
    return state


def _create(proto: str, spark, path: str) -> None:
    df = spark.createDataFrame(sorted(BASE.items()), SCHEMA)
    if proto == "versioned":
        VersionedTable(spark, path).write(df)
    elif proto == "delta":
        dx.export_delta(df, path, cdf=True)
    else:
        ice.export_iceberg(df, path)


def _read(proto: str, spark, path: str) -> list[tuple]:
    if proto == "versioned":
        df = VersionedTable(spark, path).read()
    elif proto == "delta":
        df = DeltaLogReader(spark, path).read()
    else:
        df = ice.IcebergTable(spark, path).read()
    return sorted(tuple(r) for r in df.select("k", "v").collect())


def _run(proto: str, op: str, spark, path: str, i: int):
    """Writer ``i``'s op; returns the version (snapshot id) it landed at."""
    rows = _rows(op, i)
    df = spark.createDataFrame(sorted(rows.items()), SCHEMA)
    keys = ", ".join(str(k) for k in rows)
    if proto == "versioned":
        t = VersionedTable(spark, path)
        if op == "delete":
            return t.delete_where(f"k IN ({keys})")
        return t.merge(df, keys=["k"])
    if proto == "delta":
        if op == "append":
            return dx.export_delta_append(df, path)["version"]
        if op == "merge":
            return dx.export_delta_merge(spark, df, path, keys=["k"])["version"]
        return dx.export_delta_delete(spark, path, f"k IN ({keys})")["version"]
    if op == "append":
        return ice.append_iceberg(df, path)
    if op == "merge":
        ice.delete_rows_iceberg(spark, path, f"k IN ({keys})", equality_by=["k"])
        return ice.append_iceberg(df, path)
    return ice.delete_rows_iceberg(spark, path, f"k IN ({keys})")


def _files(path: str) -> set[str]:
    return {
        os.path.relpath(os.path.join(root, f), path)
        for root, _dirs, fs in os.walk(path)
        for f in fs
    }


@pytest.mark.parametrize("op", OPS)
@pytest.mark.parametrize("proto", PROTOCOLS)
def test_two_writers_from_one_head(spark, tmp_path, monkeypatch, proto, op):
    path = str(tmp_path / "t")
    _create(proto, spark, path)
    barrier = threading.Barrier(2, timeout=300)
    arrived: set[int] = set()
    real_claim = commit.claim

    def gated_claim(p, data):
        # each writer's FIRST claim waits until both have derived their
        # change from the same head and staged its files
        if threading.get_ident() not in arrived:
            arrived.add(threading.get_ident())
            barrier.wait()
        return real_claim(p, data)

    monkeypatch.setattr(commit, "claim", gated_claim)
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_run, proto, op, spark, path, i) for i in (0, 1)]
        outcomes = [f.exception() or f.result() for f in futs]

    landed = [i for i, o in enumerate(outcomes) if not isinstance(o, BaseException)]
    for o in outcomes:
        if isinstance(o, BaseException) and not isinstance(o, ConcurrentCommitError):
            raise o
    assert landed, outcomes
    if len(landed) == 2:
        assert outcomes[0] != outcomes[1], outcomes  # distinct versions
    want = _expected(op, landed)
    assert _read(proto, spark, path) == sorted(want.items())


def _reclaim(proto: str, spark, path: str) -> None:
    """The protocol's reclaim, keeping only the newest version."""
    if proto == "versioned":
        VersionedTable(spark, path).vacuum(keep_versions=1)
    elif proto == "delta":
        dx.export_delta_vacuum(path, keep_versions=1)
    else:
        ice.expire_snapshots_iceberg(path, keep_last=1)


@pytest.mark.parametrize(
    "proto, op, killed",
    [
        pytest.param(proto, op, killed, id=f"{proto}-{op}" + ("-killed" if killed else ""))
        for killed in (False, True)
        for proto in PROTOCOLS
        for op in OPS
    ],
)
def test_crash_at_claim_leaves_prior_snapshot(spark, tmp_path, monkeypatch, proto, op, killed):
    path = str(tmp_path / "t")
    _create(proto, spark, path)
    before = _files(path)

    def crash(p, data):
        raise OSError("injected crash at the claim")

    with monkeypatch.context() as m:
        m.setattr(commit, "claim", crash)
        if killed:
            # a killed process cleans nothing up: its staging directory,
            # placed data, change-data and manifest files all stay
            m.setattr(commit.Attempt, "__exit__", lambda self, *exc: None)
            m.setattr(commit, "drop", lambda paths: None)
        with pytest.raises(OSError, match="injected crash"):
            _run(proto, op, spark, path, 0)

    if killed:
        left = _files(path) - before
        assert left
        if proto == "delta" and op == "merge":
            # a change-data file no commit references
            assert any(f.startswith("_change_data") for f in left), left
        _reclaim(proto, spark, path)
    assert _read(proto, spark, path) == sorted(BASE.items())
    assert glob.glob(os.path.join(path, "**", "_attempt-*"), recursive=True) == []
    assert _files(path) == before  # nothing the attempt staged or placed is left
    _run(proto, op, spark, path, 0)
    assert _read(proto, spark, path) == sorted(_expected(op, [0]).items())


def test_claim_is_put_if_absent(tmp_path):
    p = str(tmp_path / "log" / "v1.json")
    assert commit.claim(p, "first")
    assert not commit.claim(p, "second")
    assert open(p).read() == "first"
    assert os.listdir(tmp_path / "log") == ["v1.json"]  # no temp file left


def test_publish_gives_up_after_bounded_contention(tmp_path):
    taken = str(tmp_path / "taken")
    commit.claim(taken, "x")
    calls = []

    def rebase(lost):
        calls.append(lost)
        return lost  # every retry loses again

    with pytest.raises(ConcurrentCommitError, match="gave up"):
        commit.publish(lambda v: taken, 0, lambda v: "y", rebase)
    assert len(calls) == commit.MAX_ATTEMPTS


def test_iceberg_reader_rolls_forward_past_a_stale_hint(spark, tmp_path):
    """The hint is written after the claim, so a slow writer can leave
    it behind a newer commit; readers (and the next claim) must roll
    forward, or that commit would be hidden and every later claim lose."""
    path = str(tmp_path / "t")
    _create("iceberg", spark, path)
    _run("iceberg", "append", spark, path, 0)
    with open(os.path.join(path, "metadata", "version-hint.text"), "w") as fh:
        fh.write("1")
    assert _read("iceberg", spark, path) == sorted(_expected("append", [0]).items())
    _run("iceberg", "append", spark, path, 1)
    assert _read("iceberg", spark, path) == sorted(_expected("append", [0, 1]).items())
