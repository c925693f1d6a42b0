"""Delta snapshot export: protocol shape, partition layout, refusal."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_etl_pipeline_spark.sources.delta_export import DeltaExportError, export_delta
from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
from data_etl_pipeline_spark.plans.planassert import formatted_plan


def test_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "x y"), (2, "b", "x y"), (3, "c", "z")],
        "id long, val string, day string",
    )
    dest = str(tmp_path / "t")
    acct = export_delta(df, dest, partition_by=["day"])
    assert acct["n_files"] >= 2  # one file per partition minimum
    back = DeltaLogReader(spark, dest).read()
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    # partition dirs exist; data files do NOT carry the partition column
    part_dirs = [d for d in os.listdir(dest) if d.startswith("day=")]
    assert len(part_dirs) == 2
    sample = next(
        os.path.join(dest, part_dirs[0], f)
        for f in os.listdir(os.path.join(dest, part_dirs[0]))
        if f.endswith(".parquet")
    )
    assert "day" not in spark.read.parquet(sample).columns


def test_log_shape_is_protocol_correct(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id long, val string")
    dest = str(tmp_path / "t2")
    export_delta(df, dest)
    commit = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    actions = [json.loads(line) for line in open(commit)]
    assert "protocol" in actions[0] and actions[0]["protocol"]["minReaderVersion"] == 1
    assert "metaData" in actions[1]
    meta = actions[1]["metaData"]
    assert meta["partitionColumns"] == []
    assert json.loads(meta["schemaString"])["type"] == "struct"
    adds = [a["add"] for a in actions[2:]]
    assert adds
    for a in adds:
        full = os.path.join(dest, a["path"])
        assert os.path.getsize(full) == a["size"]  # real sizes, not stubs


def test_refuses_existing_delta_table(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "id long, val string")
    dest = str(tmp_path / "t3")
    export_delta(df, dest)
    with pytest.raises(DeltaExportError, match="existing Delta table"):
        export_delta(df, dest)


def test_encoded_partition_values_roundtrip(spark, tmp_path):
    # a partition value with a space must percent-encode in add.path and
    # decode back to the same literal
    df = spark.createDataFrame([(1, "two words"), (2, "plain")], "id long, p string")
    dest = str(tmp_path / "t4")
    export_delta(df, dest, partition_by=["p"])
    back = DeltaLogReader(spark, dest).read()
    assert {r["p"] for r in back.collect()} == {"two words", "plain"}
    commit = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    raw = open(commit).read()
    assert "two%20words" in raw


def test_empty_snapshot_exports_readable_empty_table(spark, tmp_path):
    # an empty DataFrame must still produce a protocol-valid table (log
    # with protocol+metaData, zero adds) that reads back as zero rows
    # with the declared schema
    df = spark.createDataFrame([], "id long, val string")
    dest = str(tmp_path / "tempty")
    acct = export_delta(df, dest)
    assert acct["n_files"] >= 0
    back = DeltaLogReader(spark, dest).read()
    assert back.count() == 0
    assert back.columns == ["id", "val"]


def test_export_then_reexport_roundtrip_preserves_values(spark, tmp_path):
    # export -> read -> export again -> read: double roundtrip keeps
    # values and schema bit-stable (no accumulation of partition/URI
    # artifacts)
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25)], "id long, s string, v double"
    )
    d1 = str(tmp_path / "t1")
    d2 = str(tmp_path / "t2")
    export_delta(df, d1)
    mid = DeltaLogReader(spark, d1).read()
    export_delta(mid, d2)
    final = DeltaLogReader(spark, d2).read()
    assert {tuple(r) for r in final.collect()} == {tuple(r) for r in df.collect()}


class TestIncrementalExport:
    def _mk(self, spark, tmp_path, name="inc"):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
        dest = str(tmp_path / name)
        export_delta(df, dest)
        return dest

    def test_append_and_checkpoint_trim_roundtrip(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export,
            export_delta_append,
        )

        dest = self._mk(spark, tmp_path)
        export_delta_append(
            spark.createDataFrame([(3, "c")], "id long, val string"), dest
        )
        export_delta_append(
            spark.createDataFrame([(4, "d")], "id long, val string"), dest
        )
        v = checkpoint_export(spark, dest, trim=True)
        assert v == 2
        log = os.listdir(os.path.join(dest, "_delta_log"))
        assert f"{2:020d}.checkpoint.parquet" in log
        assert "_last_checkpoint" in log
        assert f"{0:020d}.json" not in log and f"{1:020d}.json" not in log
        lc = json.load(open(os.path.join(dest, "_delta_log", "_last_checkpoint")))
        assert lc["version"] == 2
        back = DeltaLogReader(spark, dest).read()
        assert sorted(r.id for r in back.collect()) == [1, 2, 3, 4]

    def test_append_refuses_foreign_table(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_append

        dest = self._mk(spark, tmp_path, "foreign")
        # rewrite the log to look like another writer's table
        commit = os.path.join(dest, "_delta_log", f"{0:020d}.json")
        lines = [json.loads(ln) for ln in open(commit)]
        for a in lines:
            if "metaData" in a:
                a["metaData"]["id"] = "some-other-writer"
        with open(commit, "w") as fh:
            for a in lines:
                fh.write(json.dumps(a) + "\n")
        with pytest.raises(DeltaExportError, match="not created by this exporter"):
            export_delta_append(
                spark.createDataFrame([(9, "z")], "id long, val string"), dest
            )

    def test_append_refuses_foreign_protocol(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_append

        dest = self._mk(spark, tmp_path, "fproto")
        commit = os.path.join(dest, "_delta_log", f"{0:020d}.json")
        lines = [json.loads(ln) for ln in open(commit)]
        for a in lines:
            if "protocol" in a:
                a["protocol"] = {"minReaderVersion": 3, "minWriterVersion": 7}
        with open(commit, "w") as fh:
            for a in lines:
                fh.write(json.dumps(a) + "\n")
        with pytest.raises(DeltaExportError, match="protocol"):
            export_delta_append(
                spark.createDataFrame([(9, "z")], "id long, val string"), dest
            )

    def test_append_after_checkpoint_refuses(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export,
            export_delta_append,
        )

        dest = self._mk(spark, tmp_path, "postcp")
        checkpoint_export(spark, dest, trim=False)
        with pytest.raises(DeltaExportError, match="checkpointed"):
            export_delta_append(
                spark.createDataFrame([(9, "z")], "id long, val string"), dest
            )


class TestCowDelete:
    """Copy-on-write delete: file-level surgical rewrite + tail interop."""

    def _table(self, spark, tmp_path, name="cow"):
        from data_etl_pipeline_spark.sources.delta_export import export_delta

        df = spark.createDataFrame(
            [(i, "p%d" % (i % 2), float(i)) for i in range(40)],
            "id long, part string, val double",
        )
        dest = str(tmp_path / name)
        export_delta(df, dest, partition_by=["part"])
        return dest, df

    def test_only_matching_files_rewritten(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_delete

        dest, df = self._table(spark, tmp_path)
        before = {
            json.loads(line)["add"]["path"]
            for line in open(os.path.join(dest, "_delta_log", f"{0:020d}.json"))
            if "add" in json.loads(line)
        }
        # the predicate hits only partition p1 (odd ids) — p0's files must
        # survive untouched
        res = export_delta_delete(spark, dest, "id % 2 = 1 AND id >= 30")
        assert res["version"] == 1
        commit = [
            json.loads(line)
            for line in open(os.path.join(dest, "_delta_log", f"{1:020d}.json"))
        ]
        from urllib.parse import unquote

        removed = {a["remove"]["path"] for a in commit if "remove" in a}
        assert removed and all(unquote(p).startswith("part=p1/") for p in removed)
        assert removed <= before
        back = DeltaLogReader(spark, dest).read()
        expect = {(i, "p%d" % (i % 2), float(i)) for i in range(40) if not (i % 2 == 1 and i >= 30)}
        assert {tuple(r) for r in back.collect()} == expect

    def test_null_predicate_rows_are_kept(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_delete,
        )

        df = spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 3.0)], "id long, val double"
        )
        dest = str(tmp_path / "nulls")
        export_delta(df, dest)
        export_delta_delete(spark, dest, "val < 5.0")
        back = DeltaLogReader(spark, dest).read()
        # SQL DELETE: the NULL-val row does not match and stays
        assert sorted(r["id"] for r in back.collect()) == [1, 2]

    def test_delete_refuses_checkpointed_log(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            DeltaExportError,
            checkpoint_export,
            export_delta_delete,
        )

        dest, _ = self._table(spark, tmp_path, "ckpt")
        checkpoint_export(spark, dest)
        with pytest.raises(DeltaExportError):
            export_delta_delete(spark, dest, "id = 1")


class TestTail:
    """Incremental foreign-log tailing: offsets, refusals, one-scan plan."""

    def _grown(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_append,
        )

        dest = str(tmp_path / "grown")
        mk = lambda lo, hi: spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "id long, val double"
        )
        export_delta(mk(0, 10), dest)
        export_delta_append(mk(10, 25), dest)
        export_delta_append(mk(25, 30), dest)
        return dest

    def test_tail_versions_and_rows(self, spark, tmp_path):
        dest = self._grown(spark, tmp_path)
        got = DeltaLogReader(spark, dest).tail(0).collect()
        by_v = {}
        for r in got:
            by_v.setdefault(r["_commit_version"], set()).add(r["id"])
        assert by_v == {1: set(range(10, 25)), 2: set(range(25, 30))}
        assert DeltaLogReader(spark, dest).tail(2).count() == 0

    def test_tail_refuses_vacuumed_hole(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_reader import DeltaProtocolError

        dest = self._grown(spark, tmp_path)
        os.remove(os.path.join(dest, "_delta_log", f"{1:020d}.json"))
        with pytest.raises((DeltaProtocolError, ValueError)):
            DeltaLogReader(spark, dest).tail(0)

    def test_tail_refuses_schema_change_mid_range(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_reader import DeltaProtocolError

        dest = self._grown(spark, tmp_path)
        # splice a metaData action with a drifted schema into commit 2
        commit = os.path.join(dest, "_delta_log", f"{2:020d}.json")
        lines = open(commit).read().splitlines()
        meta = {
            "metaData": {
                "id": "export-x",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": [
                        {"name": "id", "type": "long", "nullable": True, "metadata": {}}
                    ]}
                ),
                "partitionColumns": [],
                "configuration": {},
            }
        }
        with open(commit, "w") as fh:
            fh.write(json.dumps(meta) + "\n" + "\n".join(lines) + "\n")
        with pytest.raises(DeltaProtocolError, match="schema or column mapping"):
            DeltaLogReader(spark, dest).tail(0)

    def test_tail_is_one_scan_branch(self, spark, tmp_path):
        dest = self._grown(spark, tmp_path)
        df = DeltaLogReader(spark, dest).tail(0)
        plan = formatted_plan(df)
        # ONE parquet scan node for ALL tailed commits (formatted explain
        # prints each node twice: tree + detail); the file->version map is
        # an in-memory LocalTableScan broadcast
        assert plan.count("Scan parquet") == 2
        assert "BroadcastHashJoin" in plan

    def test_tail_skip_change_commits_drops_rewrites(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_delete

        dest = self._grown(spark, tmp_path)
        export_delta_delete(spark, dest, "id % 3 = 0")
        got = DeltaLogReader(spark, dest).tail(0, skip_change_commits=True).collect()
        # the rewrite commit contributed nothing; appends intact
        assert {r["id"] for r in got} == set(range(10, 30))


class TestOptimizeAndTimestamp:
    def test_optimize_compacts_and_append_never_resurrects(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_append,
            export_delta_delete,
            export_delta_optimize,
        )

        mk = lambda lo, hi: spark.createDataFrame(
            [(i, "p%d" % (i % 2), float(i)) for i in range(lo, hi)],
            "id long, part string, val double",
        )
        dest = str(tmp_path / "opt")
        export_delta(mk(0, 20), dest, partition_by=["part"])
        export_delta_append(mk(20, 40), dest)
        res = export_delta_optimize(spark, dest)
        assert res["version"] == 2 and res["new_files"] == 2  # one per partition
        # idempotent: already compacted -> nothing commits
        assert export_delta_optimize(spark, dest)["version"] is None
        # the regression this guards: append's walk-diff must ignore
        # removed-but-unvacuumed files, or they get re-added
        export_delta_delete(spark, dest, "id >= 35")
        export_delta_append(mk(40, 45), dest)
        back = DeltaLogReader(spark, dest).read()
        assert sorted(r["id"] for r in back.collect()) == [
            *range(0, 35), *range(40, 45)
        ]

    def test_tail_emits_nothing_for_optimize(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_append,
            export_delta_optimize,
        )

        mk = lambda lo, hi: spark.createDataFrame(
            [(i, float(i)) for i in range(lo, hi)], "id long, val double"
        )
        dest = str(tmp_path / "opt_tail")
        export_delta(mk(0, 5), dest)
        export_delta_append(mk(5, 10), dest)
        export_delta_optimize(spark, dest)
        export_delta_append(mk(10, 15), dest)
        got = DeltaLogReader(spark, dest).tail(0).collect()
        by_v = {}
        for r in got:
            by_v.setdefault(r["_commit_version"], set()).add(r["id"])
        assert by_v == {1: set(range(5, 10)), 3: set(range(10, 15))}

    def test_timestamp_resolution_is_monotonic_under_skew(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_append,
        )

        mk = lambda lo, hi: spark.createDataFrame(
            [(i,) for i in range(lo, hi)], "id long"
        )
        dest = str(tmp_path / "ts")
        export_delta(mk(0, 3), dest)
        export_delta_append(mk(3, 6), dest)
        export_delta_append(mk(6, 9), dest)
        log = os.path.join(dest, "_delta_log")
        t0 = 1_700_000_000
        # clock skew: commit 1's mtime is EARLIER than commit 0's — Delta's
        # monotonic adjustment gives it t0*1000 + 1ms, so it still resolves
        # after version 0
        os.utime(os.path.join(log, f"{0:020d}.json"), (t0, t0))
        os.utime(os.path.join(log, f"{1:020d}.json"), (t0 - 50, t0 - 50))
        os.utime(os.path.join(log, f"{2:020d}.json"), (t0 + 100, t0 + 100))
        r = DeltaLogReader(spark, dest)
        assert r.version_at_timestamp(t0 * 1000) == 0
        assert r.version_at_timestamp(t0 * 1000 + 1) == 1
        assert r.version_at_timestamp((t0 + 100) * 1000) == 2
        with pytest.raises(ValueError, match="predates"):
            r.version_at_timestamp(t0 * 1000 - 1)
        assert sorted(
            x["id"] for x in r.read_as_of_timestamp(t0 * 1000 + 1).collect()
        ) == list(range(6))


class TestVacuum:
    def test_vacuum_reclaims_only_unreferenced(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_delete,
            export_delta_vacuum,
        )

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "id long, val double"
        )
        dest = str(tmp_path / "vac")
        export_delta(df, dest)
        export_delta_delete(spark, dest, "id >= 20")
        res = export_delta_vacuum(dest, keep_versions=1)
        assert res["removed_files"] > 0
        back = DeltaLogReader(spark, dest).read()
        assert sorted(r["id"] for r in back.collect()) == list(range(20))
        # idempotent: a second vacuum finds nothing
        assert export_delta_vacuum(dest, keep_versions=1)["removed_files"] == 0

    def test_keep_versions_preserves_time_travel(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_delete,
            export_delta_vacuum,
        )

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "id long, val double"
        )
        dest = str(tmp_path / "vac2")
        export_delta(df, dest)
        export_delta_delete(spark, dest, "id >= 20")
        # keep BOTH versions: nothing referenced by v0 may be removed
        res = export_delta_vacuum(dest, keep_versions=2)
        at_v0 = DeltaLogReader(spark, dest).read(version=0)
        assert at_v0.count() == 30
        assert export_delta_vacuum(dest, keep_versions=2)["removed_files"] == 0
        # shrinking retention afterwards reclaims v0's rewritten inputs
        assert export_delta_vacuum(dest, keep_versions=1)["removed_files"] >= 1

    def test_rejects_bad_retention(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_vacuum,
        )

        df = spark.createDataFrame([(1, 1.0)], "id long, val double")
        dest = str(tmp_path / "vac3")
        export_delta(df, dest)
        with pytest.raises(DeltaExportError, match="keep_versions"):
            export_delta_vacuum(dest, keep_versions=0)


class TestStatsSkipping:
    def _ranged(self, spark, tmp_path, name="sk"):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_append,
        )

        mk = lambda lo, hi: spark.createDataFrame(
            [(i, float(i), "s%d" % (i % 3)) for i in range(lo, hi)],
            "id long, val double, tag string",
        ).repartition(1)
        dest = str(tmp_path / name)
        export_delta(mk(0, 10), dest)
        export_delta_append(mk(10, 20), dest)
        export_delta_append(mk(20, 30), dest)
        return dest

    def test_range_filter_prunes_and_stays_correct(self, spark, tmp_path):
        dest = self._ranged(spark, tmp_path)
        r = DeltaLogReader(spark, dest)
        assert len(r.live_files()) == 3
        f = [("id", ">=", 12), ("id", "<=", 17)]
        assert len(r.live_files(filters=f)) == 1
        assert sorted(x["id"] for x in r.read(filters=f).collect()) == list(range(12, 18))
        # boundary semantics: strict ops at the file edge
        assert len(r.live_files(filters=[("id", "<", 10)])) == 1
        assert len(r.live_files(filters=[("id", "<=", 10)])) == 2
        assert len(r.live_files(filters=[("id", ">", 19)])) == 1
        assert len(r.live_files(filters=[("id", "=", 10)])) == 1

    def test_filter_is_reapplied_in_plan_even_without_stats(self, spark, tmp_path):
        # strip the stats from every add: no file can be skipped, but the
        # predicate still filters rows — correctness never rests on stats
        dest = self._ranged(spark, tmp_path, "nostats")
        log = os.path.join(dest, "_delta_log")
        for fn in sorted(os.listdir(log)):
            if not fn.endswith(".json"):
                continue
            lines = [json.loads(ln) for ln in open(os.path.join(log, fn))]
            for a in lines:
                if "add" in a:
                    a["add"].pop("stats", None)
            with open(os.path.join(log, fn), "w") as fh:
                for a in lines:
                    fh.write(json.dumps(a) + "\n")
        r = DeltaLogReader(spark, dest)
        f = [("id", ">=", 12), ("id", "<=", 17)]
        assert len(r.live_files(filters=f)) == 3  # nothing provably skippable
        assert sorted(x["id"] for x in r.read(filters=f).collect()) == list(range(12, 18))

    def test_string_and_unknown_ops(self, spark, tmp_path):
        dest = self._ranged(spark, tmp_path, "strop")
        r = DeltaLogReader(spark, dest)
        # string stats: every file spans s0..s2, nothing skippable, rows correct
        got = r.read(filters=[("tag", "=", "s1")]).collect()
        assert sorted(x["id"] for x in got) == [i for i in range(30) if i % 3 == 1]
        with pytest.raises(ValueError, match="unsupported filter op"):
            r.live_files(filters=[("id", "!=", 3)])

    def test_null_partition_values_are_skipped_by_comparisons(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta

        df = spark.createDataFrame([(1, "a"), (2, None)], "id long, p string")
        dest = str(tmp_path / "nullpart")
        export_delta(df, dest, partition_by=["p"])
        r = DeltaLogReader(spark, dest)
        assert len(r.live_files()) == 2
        # a comparison never matches NULL -> the null partition's file prunes
        assert len(r.live_files(filters=[("p", "=", "a")])) == 1
        assert [x["id"] for x in r.read(filters=[("p", "=", "a")]).collect()] == [1]


class TestZorderExport:
    def test_zorder_preserves_content_and_is_datachange_false(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_zorder,
        )

        df = spark.createDataFrame(
            [(i, float((i * 37) % 100)) for i in range(200)], "id long, val double"
        )
        dest = str(tmp_path / "zo")
        export_delta(df.repartition(4), dest)
        res = export_delta_zorder(spark, dest, ["id", "val"], n_files=8)
        assert res["version"] == 1 and res["new_files"] == 8
        commit = os.path.join(dest, "_delta_log", f"{1:020d}.json")
        for line in open(commit):
            a = json.loads(line)
            act = a.get("remove") or a.get("add")
            assert act["dataChange"] is False
        back = DeltaLogReader(spark, dest).read()
        assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
        # a tail across the zorder emits nothing (layout-only commit)
        assert DeltaLogReader(spark, dest).tail(0).count() == 0

    def test_zorder_refuses_partition_columns_and_empty(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            DeltaExportError,
            export_delta,
            export_delta_zorder,
        )

        df = spark.createDataFrame([(1, "a", 2.0)], "id long, p string, v double")
        dest = str(tmp_path / "zop")
        export_delta(df, dest, partition_by=["p"])
        with pytest.raises(DeltaExportError, match="data columns"):
            export_delta_zorder(spark, dest, ["p"])
        with pytest.raises(DeltaExportError, match="at least one column"):
            export_delta_zorder(spark, dest, [])

    def test_zorder_tightens_stats_on_both_dims(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta,
            export_delta_zorder,
        )

        # anti-correlated columns: a single-column sort could only ever
        # tighten one of them
        df = spark.createDataFrame(
            [(i, float(999 - i)) for i in range(1000)], "id long, val double"
        )
        dest = str(tmp_path / "zo2")
        export_delta(df.repartition(4), dest)
        export_delta_zorder(spark, dest, ["id", "val"], n_files=16)
        r = DeltaLogReader(spark, dest)
        assert len(r.live_files(filters=[("id", "<", 100)])) < 16
        assert len(r.live_files(filters=[("val", "<", 100.0)])) < 16


class TestFooterStatsCompleteness:
    """_file_stats must emit bounds that cover EVERY row group or none at
    all — partial (tighter-than-true) bounds make data skipping drop files
    that contain matching rows (round-7 ADVICE fix)."""

    def test_undecodable_later_row_group_drops_bounds_not_tightens(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_etl_pipeline_spark.sources.delta_export import _file_stats

        path = str(tmp_path / "two_groups.parquet")
        schema = pa.schema([("x", pa.int64()), ("b", pa.binary())])
        with pq.ParquetWriter(path, schema) as w:
            # row group 0: binary stats decode fine as UTF-8
            w.write_table(
                pa.table({"x": [1, 2], "b": [b"aaa", b"bbb"]}, schema=schema)
            )
            # row group 1: invalid UTF-8 — bounds for `b` are unusable here
            w.write_table(
                pa.table({"x": [3, 4], "b": [b"\xff\xfe", b"\xff"]}, schema=schema)
            )
        assert pq.ParquetFile(path).metadata.num_row_groups == 2
        stats = json.loads(_file_stats(path))
        # int column spans BOTH row groups
        assert stats["minValues"]["x"] == 1 and stats["maxValues"]["x"] == 4
        # binary column: rg0-only bounds (min=aaa/max=bbb) would be tighter
        # than the file's true range — must be omitted entirely
        assert "b" not in stats["minValues"] and "b" not in stats["maxValues"]
        assert stats["numRecords"] == 4

    def test_stats_disabled_column_is_fully_omitted(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from data_etl_pipeline_spark.sources.delta_export import _file_stats

        path = str(tmp_path / "nostat.parquet")
        t = pa.table({"x": [1, 2, 3], "s": ["a", None, "c"]})
        pq.write_table(t, path, write_statistics=["x"])
        stats = json.loads(_file_stats(path))
        assert stats["minValues"] == {"x": 1}
        assert stats["maxValues"] == {"x": 3}
        # a column with no usable per-row-group stats must not appear in
        # nullCount either (absence == "cannot skip", never a partial count)
        assert "s" not in stats["nullCount"]
        assert stats["nullCount"]["x"] == 0


    LONG = "z" * 5000  # over 4 KiB: writers drop or blank its row group's max

    @pytest.fixture(params=["arrow_row_groups", "spark_block_size"])
    def long_string_dir(self, request, tmp_path):
        """A one-file parquet directory whose string column ``s`` truly
        reaches LONG, but one row group of which reports no usable max."""
        import glob

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = tmp_path / request.param
        if request.param == "arrow_row_groups":
            # Arrow keeps the min of LONG's row group and writes max=''
            d.mkdir()
            pq.write_table(
                pa.table({"s": ["a", "b", self.LONG, "d"]}),
                str(d / "f.parquet"),
                row_group_size=2,
            )
        else:
            # parquet-mr writes no min/max for the row group holding LONG
            from data_etl_pipeline_spark.tables import local_frame

            rows = [("s%05d" % i,) for i in range(3000)]
            rows.insert(1500, (self.LONG,))
            local_frame(request.getfixturevalue("spark"), rows, "s string").write.option(
                "parquet.block.size", 8192
            ).parquet(str(d))
        (path,) = glob.glob(str(d / "*.parquet"))
        assert pq.read_metadata(path).num_row_groups > 1
        return str(d), path

    def test_long_string_row_group_drops_bounds_for_every_consumer(self, long_string_dir):
        from data_etl_pipeline_spark.sources import iceberg
        from data_etl_pipeline_spark.sources.delta_export import _file_stats
        from data_etl_pipeline_spark.sources.footerprune import (
            agg_from_footers,
            plan_parquet_files,
        )

        d, path = long_string_dir
        stats = json.loads(_file_stats(path))
        assert "s" not in stats["minValues"] and "s" not in stats["maxValues"]
        _n, _size, lowers, uppers = iceberg._file_stats(path, {"s": 1}, {"s": "string"})
        assert 1 not in lowers and 1 not in uppers
        # pruning for the long value must keep the file that holds it
        assert plan_parquet_files(d, "s", self.LONG, self.LONG)[0] == [path]
        with pytest.raises(ValueError, match="lacks full statistics"):
            agg_from_footers(d, "s")

    DECIMALS = ("CAST(v AS DECIMAL(5,2)) AS d5", "CAST(v AS DECIMAL(15,2)) AS d15", "CAST(v AS DECIMAL(25,2)) AS d25")

    def _spark_file(self, spark, d, df, **options):
        import glob

        df.coalesce(1).write.options(**options).parquet(str(d))
        (path,) = glob.glob(str(d / "*.parquet"))
        return path

    def test_int_backed_decimal_bounds_decode(self, spark, tmp_path):
        # Spark stores decimal(p<=18) as INT32/INT64, whose bounds pyarrow
        # cannot convert; the footer reader scales the raw integers
        from decimal import Decimal

        from data_etl_pipeline_spark.sources.footerprune import footer_stats

        df = spark.sql("SELECT * FROM VALUES (1.25), (-3.5), (0.07) AS t(v)").selectExpr(*self.DECIMALS)
        _n, cols = footer_stats(self._spark_file(spark, tmp_path / "dec", df))
        for c in ("d5", "d15", "d25"):
            assert cols[c][:2] == (Decimal("-3.50"), Decimal("1.25")), c

    def test_decimal_column_keeps_the_other_columns_stats(self, spark, tmp_path):
        # one int-backed decimal column used to make the whole file stats-less
        from data_etl_pipeline_spark.sources.delta_export import _file_stats

        df = spark.range(3).selectExpr("id AS k", "CONCAT('s', id) AS s", "CAST(id AS DECIMAL(15,2)) AS d")
        stats = json.loads(_file_stats(self._spark_file(spark, tmp_path / "mixed", df)))
        assert stats["numRecords"] == 3
        assert stats["minValues"] == {"k": 0, "s": "s0"}
        assert stats["maxValues"] == {"k": 2, "s": "s2"}

    def test_nan_orders_last_across_row_groups(self, spark, tmp_path):
        # one row per row group; pyarrow reports (nan, nan) for a NaN-only
        # chunk, and a plain </> merge kept a NaN min and a finite max
        import math

        import pyarrow.parquet as pq

        from data_etl_pipeline_spark.sources.footerprune import agg_from_footers, footer_stats
        from data_etl_pipeline_spark.tables import local_frame

        df = local_frame(spark, [(math.nan,), (5.0,), (math.nan,), (1.0,)], "x double")
        one_row_groups = {
            "parquet.block.size": 1,
            "parquet.page.size.row.check.min": 1,
            "parquet.page.size.row.check.max": 1,
            "parquet.page.size.check.estimate": "false",
        }
        path = self._spark_file(spark, tmp_path / "nan", df, **one_row_groups)
        assert pq.read_metadata(path).num_row_groups == 4
        want = df.selectExpr("min(x)", "max(x)").first()
        lo, hi, _ = footer_stats(path)[1]["x"]
        assert lo == want[0] == 1.0
        assert math.isnan(hi) and math.isnan(want[1])
        assert math.isnan(agg_from_footers(str(tmp_path / "nan"), "x")["max"])

    def test_nan_only_file_matches_a_nan_bound(self, spark, tmp_path):
        # in Spark's order every NaN equals every other: a file whose min
        # is NaN holds rows with x <= NaN, so a NaN upper bound keeps it
        import math

        from data_etl_pipeline_spark.sources.footerprune import plan_parquet_files
        from data_etl_pipeline_spark.tables import local_frame

        df = local_frame(spark, [(math.nan,), (math.nan,)], "x double")
        path = self._spark_file(spark, tmp_path / "nans", df)
        assert plan_parquet_files(str(tmp_path / "nans"), "x", float("nan"), float("nan")) == ([path], 1)
        assert plan_parquet_files(str(tmp_path / "nans"), "x", 0.0, float("nan")) == ([path], 1)
        assert plan_parquet_files(str(tmp_path / "nans"), "x", 0.0, 1.0) == ([], 1)


class TestMergeUpsert:
    """export_delta_merge: keyed CoW MERGE — matched keys replaced, new
    keys inserted, only matched files rewritten, change-commit semantics
    for tails (round-7 verdict item 5)."""

    def _table(self, spark, tmp_path, name="mrg"):
        from data_etl_pipeline_spark.sources.delta_export import export_delta

        df = spark.createDataFrame(
            [(i, "p%d" % (i % 2), float(i)) for i in range(40)],
            "id long, part string, val double",
        )
        dest = str(tmp_path / name)
        export_delta(df, dest, partition_by=["part"])
        return dest, df

    def test_upsert_replaces_matched_and_inserts_new(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_merge

        dest, _ = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(2, "p0", 200.0), (7, "p1", 700.0), (100, "p0", 1000.0)],
            "id long, part string, val double",
        )
        res = export_delta_merge(spark, src, dest, keys=["id"])
        assert res["version"] == 1 and res["removed_files"] > 0
        back = {r.id: (r.part, r.val) for r in DeltaLogReader(spark, dest).read().collect()}
        assert len(back) == 41  # 40 originals, 2 replaced in place, 1 new
        assert back[2] == ("p0", 200.0)
        assert back[7] == ("p1", 700.0)
        assert back[100] == ("p0", 1000.0)
        assert back[3] == ("p1", 3.0)  # unmatched rows untouched

    def test_only_files_containing_matched_keys_are_rewritten(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_merge

        dest, _ = self._table(spark, tmp_path)
        from urllib.parse import unquote

        # keys 1 and 3 are odd -> only partition p1 files contain matches
        src = spark.createDataFrame(
            [(1, "p1", -1.0), (3, "p1", -3.0)], "id long, part string, val double"
        )
        export_delta_merge(spark, src, dest, keys=["id"])
        commit = [
            json.loads(line)
            for line in open(os.path.join(dest, "_delta_log", f"{1:020d}.json"))
        ]
        removed = {a["remove"]["path"] for a in commit if "remove" in a}
        assert removed and all(unquote(p).startswith("part=p1/") for p in removed)

    def test_duplicate_source_keys_refuse(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_merge

        dest, _ = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(2, "p0", 1.0), (2, "p0", 2.0)], "id long, part string, val double"
        )
        with pytest.raises(DeltaExportError, match="duplicate key"):
            export_delta_merge(spark, src, dest, keys=["id"])

    def test_schema_drift_and_bad_key_refuse(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_merge

        dest, _ = self._table(spark, tmp_path)
        drifted = spark.createDataFrame([(1, "p0")], "id long, part string")
        with pytest.raises(DeltaExportError, match="schema"):
            export_delta_merge(spark, drifted, dest, keys=["id"])
        ok = spark.createDataFrame([(1, "p0", 0.0)], "id long, part string, val double")
        with pytest.raises(DeltaExportError, match="not a source column"):
            export_delta_merge(spark, ok, dest, keys=["nope"])

    def test_source_with_internal_tag_column_refuses(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_merge

        dest = str(tmp_path / "tagclash")
        export_delta(spark.createDataFrame([(1, 0), (2, 0)], "id long, __m int"), dest, cdf=True)
        src = spark.createDataFrame([(1, 5)], "id long, __m int")
        with pytest.raises(DeltaExportError, match="__m"):
            export_delta_merge(spark, src, dest, keys=["id"])
        assert not os.path.exists(os.path.join(dest, "_delta_log", f"{1:020d}.json"))

    def test_merge_after_delete_never_resurrects(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta_delete,
            export_delta_merge,
        )

        dest, _ = self._table(spark, tmp_path)
        # delete ids >= 30, then merge an unrelated key: the removed-but-
        # unvacuumed files must not re-enter via the merge's walk-diff
        export_delta_delete(spark, dest, "id >= 30")
        src = spark.createDataFrame(
            [(0, "p0", 999.0)], "id long, part string, val double"
        )
        export_delta_merge(spark, src, dest, keys=["id"])
        back = {r.id: r.val for r in DeltaLogReader(spark, dest).read().collect()}
        assert set(back) == set(range(30))
        assert back[0] == 999.0

    def test_merge_commit_refuses_plain_tail_and_skips_wholesale(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta_append,
            export_delta_merge,
        )
        from data_etl_pipeline_spark.sources.delta_reader import DeltaProtocolError

        dest, _ = self._table(spark, tmp_path)
        src = spark.createDataFrame(
            [(2, "p0", 200.0)], "id long, part string, val double"
        )
        export_delta_merge(spark, src, dest, keys=["id"])  # v1: change commit
        post = spark.createDataFrame(
            [(200, "p0", 2000.0)], "id long, part string, val double"
        )
        export_delta_append(post, dest)  # v2: plain append
        reader = DeltaLogReader(spark, dest)
        with pytest.raises(DeltaProtocolError, match="append-only"):
            reader.tail(0)
        inc = reader.tail(0, skip_change_commits=True).collect()
        # the merge (v1) is skipped wholesale; only v2's append surfaces
        assert {(r.id, r._commit_version) for r in inc} == {(200, 2)}


class TestReplaceWhere:
    def _table(self, spark, tmp_path, name="rw"):
        from data_etl_pipeline_spark.sources.delta_export import export_delta

        df = spark.createDataFrame(
            [(i, "p%d" % (i % 2), float(i)) for i in range(20)],
            "id long, part string, val double",
        )
        dest = str(tmp_path / name)
        export_delta(df, dest, partition_by=["part"])
        return dest

    def test_replaces_exactly_the_predicate_partition(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta_replace_where,
        )

        dest = self._table(spark, tmp_path)
        new = spark.createDataFrame(
            [(100, "p1", -1.0), (101, "p1", -2.0)], "id long, part string, val double"
        )
        res = export_delta_replace_where(spark, new, dest, {"part": "p1"})
        assert res["version"] == 1 and res["removed_files"] > 0
        back = DeltaLogReader(spark, dest).read()
        rows = {(r.id, r.part) for r in back.collect()}
        assert rows == {(i, "p0") for i in range(0, 20, 2)} | {(100, "p1"), (101, "p1")}

    def test_nonmatching_source_rows_refuse(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta_replace_where,
        )

        dest = self._table(spark, tmp_path, "rw2")
        leak = spark.createDataFrame(
            [(100, "p1", -1.0), (101, "p0", -2.0)], "id long, part string, val double"
        )
        with pytest.raises(DeltaExportError, match="do not match"):
            export_delta_replace_where(spark, leak, dest, {"part": "p1"})

    def test_non_partition_column_refuses(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta_replace_where,
        )

        dest = self._table(spark, tmp_path, "rw3")
        new = spark.createDataFrame([(1, "p1", 0.0)], "id long, part string, val double")
        with pytest.raises(DeltaExportError, match="not partition columns"):
            export_delta_replace_where(spark, new, dest, {"id": 1})
        with pytest.raises(DeltaExportError, match="at least one"):
            export_delta_replace_where(spark, new, dest, {})

    def test_tail_sees_replace_as_change_commit(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            export_delta_replace_where,
        )
        from data_etl_pipeline_spark.sources.delta_reader import DeltaProtocolError

        dest = self._table(spark, tmp_path, "rw4")
        new = spark.createDataFrame([(100, "p1", -1.0)], "id long, part string, val double")
        export_delta_replace_where(spark, new, dest, {"part": "p1"})
        reader = DeltaLogReader(spark, dest)
        with pytest.raises(DeltaProtocolError, match="append-only"):
            reader.tail(0)
        assert reader.tail(0, skip_change_commits=True).count() == 0


class TestTxnIdempotentAppend:
    """export_delta_append with (app_id, txn_version): the Delta ``txn``
    action makes re-delivered batches no-ops — the exactly-once
    foreachBatch sink contract."""

    def _table(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta

        dest = str(tmp_path / "txn")
        export_delta(
            spark.createDataFrame([(0, 0.0)], "id long, v double"), dest
        )
        return dest

    def test_redelivered_batch_is_skipped(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_append

        dest = self._table(spark, tmp_path)
        b1 = spark.createDataFrame([(1, 1.0)], "id long, v double")
        r1 = export_delta_append(b1, dest, app_id="q1", txn_version=0)
        assert r1["version"] == 1 and not r1.get("skipped")
        # crash-after-commit replay: same batch id arrives again
        r2 = export_delta_append(b1, dest, app_id="q1", txn_version=0)
        assert r2["version"] is None and r2["skipped"]
        # next batch commits; a LATE replay of batch 0 still skips
        b2 = spark.createDataFrame([(2, 2.0)], "id long, v double")
        assert export_delta_append(b2, dest, app_id="q1", txn_version=1)["version"] == 2
        assert export_delta_append(b1, dest, app_id="q1", txn_version=0)["skipped"]
        back = DeltaLogReader(spark, dest).read()
        assert sorted(r.id for r in back.collect()) == [0, 1, 2]

    def test_independent_app_ids_do_not_interfere(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_append

        dest = self._table(spark, tmp_path)
        b = spark.createDataFrame([(1, 1.0)], "id long, v double")
        export_delta_append(b, dest, app_id="q1", txn_version=5)
        # another writer's version counter is its own
        r = export_delta_append(b, dest, app_id="q2", txn_version=0)
        assert r["version"] == 2
        assert DeltaLogReader(spark, dest).read().count() == 3

    def test_half_specified_txn_refuses(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_append

        dest = self._table(spark, tmp_path)
        b = spark.createDataFrame([(1, 1.0)], "id long, v double")
        with pytest.raises(DeltaExportError, match="together"):
            export_delta_append(b, dest, app_id="q1")

    def test_plain_append_unaffected(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta_append

        dest = self._table(spark, tmp_path)
        b = spark.createDataFrame([(1, 1.0)], "id long, v double")
        assert export_delta_append(b, dest)["version"] == 1
        assert export_delta_append(b, dest)["version"] == 2  # no dedup without txn


def test_replace_where_matches_hive_encoded_bool_partitions(spark, tmp_path):
    """Round-7 review fix: the log stores bool partition values as
    lowercase 'true'/'false' (Spark's Hive dir encoding); str(True) was
    'True', matched nothing, and the old partition silently stayed live
    under the new rows — duplicated data in an 'atomic replace'."""
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_replace_where,
    )

    dest = str(tmp_path / "rwbool")
    df = spark.createDataFrame(
        [(1, True, 1.0), (2, False, 2.0), (3, True, 3.0)],
        "id long, flag boolean, val double",
    )
    export_delta(df, dest, partition_by=["flag"])
    new = spark.createDataFrame([(10, True, 10.0)], "id long, flag boolean, val double")
    res = export_delta_replace_where(spark, new, dest, {"flag": True})
    assert res["removed_files"] > 0, "old true-partition files must be removed"
    back = {(r.id, r.flag) for r in DeltaLogReader(spark, dest).read().collect()}
    assert back == {(2, False), (10, True)}


# ---------------------------------------------------------------------------
# In-Commit Timestamps (writer feature `inCommitTimestamp`)
# ---------------------------------------------------------------------------
def _read_commit_actions(dest, v):
    import json

    with open(os.path.join(dest, "_delta_log", f"{v:020d}.json")) as fh:
        return [json.loads(ln) for ln in fh if ln.strip()]


def test_ict_stamps_every_lifecycle_commit(spark, sf_dir, tmp_path):
    """ICT self-propagates: create, append, merge, delete all carry a
    strictly increasing inCommitTimestamp as the FIRST action."""
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
        export_delta_delete,
        export_delta_merge,
    )
    from data_etl_pipeline_spark.tables import load as _load

    base = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    dest = str(tmp_path / "ict_lifecycle")
    export_delta(base.where("o_orderkey < 300"), dest, cdf=True, ict=True)
    export_delta_append(base.where("o_orderkey >= 300 and o_orderkey < 600"), dest)
    export_delta_merge(
        spark,
        base.where("o_orderkey < 100").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ),
        dest,
        keys=["o_orderkey"],
    )
    export_delta_delete(spark, dest, "o_orderkey % 7 = 0")
    prev = -1
    for v in range(4):
        actions = _read_commit_actions(dest, v)
        assert "commitInfo" in actions[0], f"v{v}: commitInfo not first"
        ts = actions[0]["commitInfo"]["inCommitTimestamp"]
        assert ts > prev, f"v{v}: ICT not strictly increasing"
        prev = ts
    proto = next(a["protocol"] for a in _read_commit_actions(dest, 0) if "protocol" in a)
    assert proto["minWriterVersion"] == 7
    assert set(proto["writerFeatures"]) == {"changeDataFeed", "inCommitTimestamp"}


def test_non_ict_tables_unchanged(spark, sf_dir, tmp_path):
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.tables import load as _load

    base = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    dest = str(tmp_path / "no_ict")
    export_delta(base.where("o_orderkey < 200"), dest)
    export_delta_append(base.where("o_orderkey >= 200 and o_orderkey < 400"), dest)
    for v in range(2):
        for a in _read_commit_actions(dest, v):
            assert "commitInfo" not in a or "inCommitTimestamp" not in a.get(
                "commitInfo", {}
            )


def test_reader_mixed_log_monotonic(spark, sf_dir, tmp_path):
    """A log whose early commits are mtime-stamped and later commits
    ICT-stamped must still resolve in version order (Delta's
    clock-skew/monotonic rule applied across the boundary)."""
    import json

    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
    from data_etl_pipeline_spark.tables import load as _load

    base = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    dest = str(tmp_path / "mixed")
    export_delta(base.where("o_orderkey < 200"), dest, ict=True)
    export_delta_append(base.where("o_orderkey >= 200 and o_orderkey < 400"), dest)
    # strip v0's commitInfo -> v0 falls back to mtime, v1 keeps its ICT
    p0 = os.path.join(dest, "_delta_log", f"{0:020d}.json")
    with open(p0) as fh:
        keep = [ln for ln in fh if ln.strip() and "commitInfo" not in json.loads(ln)]
    with open(p0, "w") as fh:
        fh.writelines(keep)
    # v0 mtime far in the future (clock skew): v1's ICT is in the past
    # relative to it, so only the monotonic rule keeps order correct
    far = 4_000_000_000
    os.utime(p0, (far, far))
    reader = DeltaLogReader(spark, dest)
    assert reader.version_at_timestamp(far * 1000) == 0
    assert reader.version_at_timestamp(far * 1000 + 1) == 1


def test_v2_checkpoint_preserves_writer_features_and_travel(spark, sf_dir, tmp_path):
    """The upgrade protocol must carry the table's existing writer
    features; post-trim version reads at the checkpoint head work, and
    pre-checkpoint time travel refuses (commits are gone)."""
    import json

    import pytest

    from data_etl_pipeline_spark.sources.delta_export import (
        checkpoint_export_v2,
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
    from data_etl_pipeline_spark.tables import load as _load

    base = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    dest = str(tmp_path / "t")
    export_delta(base.where("o_orderkey < 300"), dest, cdf=True, ict=True)
    export_delta_append(base.where("o_orderkey >= 300 and o_orderkey < 600"), dest)
    v = checkpoint_export_v2(spark, dest, n_sidecars=3, trim=True)
    log_dir = os.path.join(dest, "_delta_log")
    manifest = next(
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if ".checkpoint." in n and n.endswith(".json")
    )
    with open(manifest) as fh:
        proto = json.loads(fh.readline())["protocol"]
    assert proto["readerFeatures"] == ["v2Checkpoint"]
    assert set(proto["writerFeatures"]) >= {
        "changeDataFeed",
        "inCommitTimestamp",
        "v2Checkpoint",
    }
    reader = DeltaLogReader(spark, dest)
    assert reader.read(version=v).count() == base.where("o_orderkey < 600").count()
    with pytest.raises(Exception):
        reader.read(version=0)  # pre-checkpoint commits were trimmed


class TestV2CheckpointIncremental:
    """Incremental V2 checkpointer: unchanged sidecars carry forward by
    reference; only dirty groups rewrite; refusal edges."""

    def _table(self, spark, tmp_path, name="incr"):
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2,
            export_delta,
            export_delta_append,
        )

        df = spark.createDataFrame(
            [(i, float(i)) for i in range(40)], "id long, val double"
        )
        dest = str(tmp_path / name)
        export_delta(df.where("id < 20").repartition(3), dest)
        export_delta_append(df.where("id >= 20").repartition(2), dest)
        v = checkpoint_export_v2(spark, dest, n_sidecars=2)
        assert v == 2
        return dest, df

    def test_pure_append_reuses_all_old_sidecars(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2_incremental,
            export_delta_append,
        )

        dest, _ = self._table(spark, tmp_path)
        side_dir = os.path.join(dest, "_delta_log", "_sidecars")
        old = sorted(os.listdir(side_dir))
        old_stat = {n: os.stat(os.path.join(side_dir, n)).st_mtime_ns for n in old}
        export_delta_append(
            spark.createDataFrame([(100, 1.0), (101, 2.0)], "id long, val double")
            .repartition(1),
            dest,
        )
        inc = checkpoint_export_v2_incremental(spark, dest)
        assert sorted(inc["reused"]) == old
        assert inc["rewritten"] == 1 and len(inc["sidecars"]) == 3
        # carried forward BY REFERENCE: the old parquet files untouched
        for n in old:
            assert os.stat(os.path.join(side_dir, n)).st_mtime_ns == old_stat[n]
        reader = DeltaLogReader(spark, dest)
        assert reader.read().count() == 42

    def test_cow_delete_rewrites_only_owning_sidecar(self, spark, tmp_path):
        import pyarrow.parquet as pq

        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2_incremental,
            export_delta_delete,
        )

        dest, _ = self._table(spark, tmp_path)
        side_dir = os.path.join(dest, "_delta_log", "_sidecars")
        old = sorted(os.listdir(side_dir))
        # find which sidecar owns the file(s) holding id=5, then delete
        # those rows: only owners of rewritten files may be dirtied
        owners = {
            n: {r["add"]["path"] for r in pq.read_table(
                os.path.join(side_dir, n)).to_pylist() if r.get("add")}
            for n in old
        }
        export_delta_delete(spark, dest, "id = 5")
        inc = checkpoint_export_v2_incremental(spark, dest)
        # at least one old sidecar reused (the delete touched one data
        # file; the other group's add set is untouched)
        assert inc["reused"], inc
        for n in inc["reused"]:
            assert n in owners
        reader = DeltaLogReader(spark, dest)
        got = {r.id for r in reader.read().collect()}
        assert 5 not in got and len(got) == 39

    def test_partitioned_table_roundtrip(self, spark, tmp_path):
        """Non-empty partitionValues: the sidecar parquet's MAP column
        reads back through pyarrow as a list of (k, v) tuples, not a
        dict — add_key must normalize both shapes or the comparison
        crashes (ADVICE r8). Also proves reuse still works when every
        add row carries partition values."""
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2,
            checkpoint_export_v2_incremental,
            export_delta,
            export_delta_append,
        )

        df = spark.createDataFrame(
            [(i, i % 3, float(i)) for i in range(30)], "id long, k long, val double"
        )
        dest = str(tmp_path / "partd")
        export_delta(df.where("id < 20"), dest, partition_by=["k"])
        export_delta_append(df.where("id >= 20"), dest)
        assert checkpoint_export_v2(spark, dest, n_sidecars=2) == 2
        side_dir = os.path.join(dest, "_delta_log", "_sidecars")
        old = sorted(os.listdir(side_dir))
        export_delta_append(
            spark.createDataFrame([(100, 1, 1.0)], "id long, k long, val double"),
            dest,
        )
        inc = checkpoint_export_v2_incremental(spark, dest)
        assert sorted(inc["reused"]) == old  # pure append: all carried
        reader = DeltaLogReader(spark, dest)
        got = reader.read()
        assert got.count() == 31
        # partition values survive the incremental manifest round trip
        assert got.where("k = 1").count() == 10 + 1

    def test_refuses_without_checkpoint_or_new_commits(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2_incremental,
            export_delta,
            export_delta_append,
        )

        df = spark.createDataFrame([(1, 1.0)], "id long, val double")
        dest = str(tmp_path / "nocp")
        export_delta(df, dest)
        with pytest.raises(DeltaExportError, match="no V2 checkpoint"):
            checkpoint_export_v2_incremental(spark, dest)
        dest2, _ = self._table(spark, tmp_path, "nonew")
        with pytest.raises(DeltaExportError, match="no commits after"):
            checkpoint_export_v2_incremental(spark, dest2)

    def test_append_refuses_after_trimmed_v2(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2,
            export_delta,
            export_delta_append,
        )

        df = spark.createDataFrame([(i, float(i)) for i in range(10)],
                                   "id long, val double")
        # dest name deliberately does NOT contain 'trimmed': pytest.raises
        # match= searches the WHOLE message including the path, so a
        # path named after the expectation can green-light a wrong error
        dest = str(tmp_path / "tv2")
        export_delta(df, dest)
        checkpoint_export_v2(spark, dest, n_sidecars=1, trim=True)
        with pytest.raises(DeltaExportError, match="v2-checkpointed and trimmed"):
            export_delta_append(df, dest)

    def test_second_checkpoint_skips_duplicate_upgrade(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2,
            export_delta_append,
        )

        dest, _ = self._table(spark, tmp_path, "dup")
        export_delta_append(
            spark.createDataFrame([(200, 9.0)], "id long, val double"), dest
        )
        v = checkpoint_export_v2(spark, dest, n_sidecars=2)  # full, not incr
        assert v == 3  # checkpoints the head; no second protocol commit
        log_dir = os.path.join(dest, "_delta_log")
        commits = sorted(
            n for n in os.listdir(log_dir)
            if n.endswith(".json") and n[:20].isdigit() and ".checkpoint." not in n
        )
        assert [int(n[:20]) for n in commits] == [0, 1, 2, 3]


class TestV2IncrementalProperty:
    """Property: under ANY sequence of appends/deletes after a V2
    checkpoint, advancing the checkpoint incrementally (a) replays to
    exactly the expected live rows, (b) reuses only sidecar files that
    existed before, and (c) accounts for every manifest entry as either
    reused or freshly written."""

    def test_random_append_delete_sequences(self, spark, tmp_path):
        import random

        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2,
            checkpoint_export_v2_incremental,
            export_delta,
            export_delta_append,
            export_delta_delete,
        )

        rng = random.Random(80_08)
        for trial in range(3):
            dest = str(tmp_path / f"prop{trial}")
            live = set(range(30))
            df = spark.createDataFrame(
                [(i, float(i)) for i in sorted(live)], "id long, val double"
            )
            export_delta(df.repartition(3), dest)
            checkpoint_export_v2(spark, dest, n_sidecars=3)
            next_id = 100 * (trial + 1)
            for _step in range(rng.randint(1, 3)):
                if rng.random() < 0.6 or not live:
                    new = [(next_id + j, float(j)) for j in range(rng.randint(1, 4))]
                    export_delta_append(
                        spark.createDataFrame(new, "id long, val double")
                        .repartition(1),
                        dest,
                    )
                    live |= {i for i, _ in new}
                    next_id += 10
                else:
                    victim = rng.choice(sorted(live))
                    export_delta_delete(spark, dest, f"id = {victim}")
                    live.discard(victim)
            side_dir = os.path.join(dest, "_delta_log", "_sidecars")
            before = set(os.listdir(side_dir))
            inc = checkpoint_export_v2_incremental(spark, dest)
            assert set(inc["reused"]) <= before  # (b)
            assert len(inc["reused"]) + inc["rewritten"] == len(inc["sidecars"])  # (c)
            got = {
                r.id for r in DeltaLogReader(spark, dest).read().collect()
            }
            assert got == live, (trial, sorted(got ^ live))  # (a)

    def test_random_sequences_partitioned(self, spark, tmp_path):
        """The random append/delete property over a PARTITIONED table:
        every sidecar add row carries non-empty partitionValues, so each
        incremental advance exercises the pyarrow tuple-list MAP
        normalization in add_key on arbitrary reuse/rewrite mixes —
        not just the pure-append and single-delete shapes the pointed
        tests pin. Partition-scoped deletes must leave the other
        partitions' sidecars eligible for reuse whenever sidecar
        ownership happens to align with partition directories."""
        import random

        from data_etl_pipeline_spark.sources.delta_export import (
            checkpoint_export_v2,
            checkpoint_export_v2_incremental,
            export_delta,
            export_delta_append,
            export_delta_delete,
        )

        rng = random.Random(90_09)
        for trial in range(3):
            dest = str(tmp_path / f"pprop{trial}")
            live = set(range(40))
            df = spark.createDataFrame(
                [(i, str(i % 4), float(i)) for i in sorted(live)],
                "id long, p string, val double",
            )
            export_delta(df.repartition(2), dest, partition_by=["p"])
            checkpoint_export_v2(spark, dest, n_sidecars=3)
            next_id = 200 * (trial + 1)
            for _step in range(rng.randint(1, 3)):
                roll = rng.random()
                if roll < 0.5 or not live:
                    new = [
                        (next_id + j, str((next_id + j) % 4), float(j))
                        for j in range(rng.randint(1, 4))
                    ]
                    export_delta_append(
                        spark.createDataFrame(
                            new, "id long, p string, val double"
                        ).repartition(1),
                        dest,
                    )
                    live |= {i for i, _, _ in new}
                    next_id += 10
                elif roll < 0.75:
                    # partition-scoped delete (predicate on the partition col)
                    part = rng.choice(["0", "1", "2", "3"])
                    victims = {i for i in live if i % 4 == int(part) and i % 3 == 0}
                    export_delta_delete(
                        spark, dest, f"p = '{part}' AND id % 3 = 0"
                    )
                    live -= victims
                else:
                    victim = rng.choice(sorted(live))
                    export_delta_delete(spark, dest, f"id = {victim}")
                    live.discard(victim)
            side_dir = os.path.join(dest, "_delta_log", "_sidecars")
            before = set(os.listdir(side_dir))
            inc = checkpoint_export_v2_incremental(spark, dest)
            assert set(inc["reused"]) <= before
            assert len(inc["reused"]) + inc["rewritten"] == len(inc["sidecars"])
            got = DeltaLogReader(spark, dest).read()
            ids = {r.id for r in got.collect()}
            assert ids == live, (trial, sorted(ids ^ live))
            # partition values re-attach correctly from the new manifest
            assert {r.p for r in got.select("p").distinct().collect()} == {
                str(i % 4) for i in live
            }
