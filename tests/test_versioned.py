"""Versioned-table layer (MERGE / DELETE WHERE / replaceWhere / time
travel) — the sandbox stand-in for Delta/Iceberg semantics mapped in
SURVEY §1.4 (S4 version lineage, ST2 idempotent upsert, S13 prefix
delete)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_etl_pipeline_spark.sources.versioned import VersionedTable


@pytest.fixture()
def table(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, tag string, val double"
    )
    t.write(base)
    return t


def _state(t, version=None):
    return sorted(tuple(r) for r in t.read(version).collect())


def test_write_creates_version_zero(table):
    assert table.latest_version() == 0
    assert len(_state(table)) == 3
    assert table.history()[0]["op"] == "write"


def test_merge_updates_and_inserts(table, spark):
    updates = spark.createDataFrame(
        [(2, "B", 22.0), (4, "d", 40.0)], "id long, tag string, val double"
    )
    v = table.merge(updates, keys=["id"])
    assert v == 1
    assert _state(table) == [(1, "a", 10.0), (2, "B", 22.0), (3, "c", 30.0), (4, "d", 40.0)]


def test_merge_is_idempotent(table, spark):
    updates = spark.createDataFrame([(2, "B", 22.0)], "id long, tag string, val double")
    table.merge(updates, keys=["id"])
    first = _state(table)
    table.merge(updates, keys=["id"])  # at-least-once re-delivery
    assert _state(table) == first


def test_time_travel_reads_old_versions(table, spark):
    updates = spark.createDataFrame([(1, "A", 11.0)], "id long, tag string, val double")
    table.merge(updates, keys=["id"])
    assert _state(table, version=0) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]
    assert (1, "A", 11.0) in _state(table, version=1)
    ops = [h["op"] for h in table.history()]
    assert ops == ["write", "merge"]


def test_delete_where_keeps_null_predicate_rows(table, spark):
    extra = spark.createDataFrame([(9, None, 90.0)], "id long, tag string, val double")
    table.merge(extra, keys=["id"])
    table.delete_where(F.col("tag") < "c")  # NULL tag -> predicate NULL -> kept
    tags = {r[1] for r in _state(table)}
    assert tags == {"c", None}


def test_replace_where_swaps_partition(table, spark):
    repl = spark.createDataFrame([(3, "c", 33.0), (5, "c", 55.0)], "id long, tag string, val double")
    table.replace_where(repl, F.col("tag") == "c")
    assert _state(table) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 33.0), (5, "c", 55.0)]


def test_read_missing_version_raises(table):
    with pytest.raises(ValueError):
        table.read(version=7)


def _files(t, version=None):
    return {f["path"] for f in t._manifest(version)["files"]}


def test_merge_skips_disjoint_files(spark, tmp_path):
    """Data skipping: a merge touching one id range must carry every
    range-disjoint file forward BY REFERENCE — same path, never read,
    never rewritten (the Delta pruning the full-rewrite version lacked)."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"tag{i}", float(i)) for i in range(90)], "id long, tag string, val double"
    ).repartitionByRange(3, "id")
    t.write(base)
    v0_files = _files(t)
    assert len(v0_files) == 3  # range-partitioned -> disjoint id stats

    updates = spark.createDataFrame([(5, "B", 55.0), (7, "C", 77.0)], "id long, tag string, val double")
    t.merge(updates, keys=["id"])
    v1_files = _files(t)
    # exactly one file overlaps ids 5..7; the other two are carried
    carried = v0_files & v1_files
    assert len(carried) == 2
    assert t._manifest()["files_carried"] == 2
    # and the merged state is still exact
    rows = {r["id"]: (r["tag"], r["val"]) for r in t.read().collect()}
    assert len(rows) == 90
    assert rows[5] == ("B", 55.0) and rows[7] == ("C", 77.0)
    assert rows[4] == ("tag4", 4.0)
    # time travel still sees the pre-merge rows out of the shared files
    old = {r["id"]: r["tag"] for r in t.read(version=0).collect()}
    assert old[5] == "tag5"


def test_delete_where_prunes_with_range_hint(spark, tmp_path):
    from data_etl_pipeline_spark.sources.versioned import range_prune

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"tag{i}", float(i)) for i in range(90)], "id long, tag string, val double"
    ).repartitionByRange(3, "id")
    t.write(base)
    v0_files = _files(t)
    t.delete_where(F.col("id") < 10, prune=range_prune("id", 0, 9))
    assert len(v0_files & _files(t)) == 2  # two files provably unaffected
    assert t.read().count() == 80


def test_prefix_prune_matches_strstarts_semantics():
    from data_etl_pipeline_spark.sources.versioned import prefix_prune

    p = prefix_prune("url", "http://a")
    assert p({"url": ["http://a/x", "http://a/z"]})  # inside
    assert not p({"url": ["http://b", "http://c"]})  # all above the prefix range
    assert not p({"url": ["ftp://x", "gopher://y"]})  # all below
    assert p({"url": ["http://", "http://z"]})  # straddles
    assert p({})  # no stats -> cannot skip


def test_compact_merges_small_files_without_changing_content(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"tag{i}", float(i)) for i in range(60)], "id long, tag string, val double"
    ).repartition(6)
    t.write(base)
    before = sorted(tuple(r) for r in t.read().collect())
    assert len(t._manifest()["files"]) == 6
    t.compact(target_rows=1000)
    man = t._manifest()
    assert man["op"] == "compact"
    assert len(man["files"]) < 6
    assert sorted(tuple(r) for r in t.read().collect()) == before
    # time travel still reads the pre-compaction layout
    assert len(t._manifest(0)["files"]) == 6
    assert sorted(tuple(r) for r in t.read(version=0).collect()) == before


def test_vacuum_removes_only_unreferenced_files(spark, tmp_path):
    import os

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"tag{i}", float(i)) for i in range(90)], "id long, tag string, val double"
    ).repartitionByRange(3, "id")
    t.write(base)
    updates = spark.createDataFrame([(5, "B", 55.0)], "id long, tag string, val double")
    t.merge(updates, keys=["id"])  # v1 shares 2 of v0's 3 files
    latest = sorted(tuple(r) for r in t.read().collect())

    removed = t.vacuum(keep_versions=1)
    # only v0's replaced file is unreferenced; the 2 shared files survive
    assert len(removed) == 1
    for rel in removed:
        assert not os.path.exists(os.path.join(t.path, rel))
    assert sorted(tuple(r) for r in t.read().collect()) == latest


def test_cluster_by_enables_skipping_without_caller_partitioning(spark, tmp_path):
    """write(cluster_by=...) must produce range-disjoint file stats from an
    arbitrarily-partitioned input, so merges skip without the caller
    knowing about file layout; successive merges keep skipping because the
    rewritten slice is re-clustered on the merge keys."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, f"tag{i}", float(i)) for i in range(90)], "id long, tag string, val double"
    ).repartition(3)  # hash layout: every file spans the full id range
    t.write(base, cluster_by=["id"], n_files=3)
    files0 = _files(t)
    assert len(files0) >= 2

    u1 = spark.createDataFrame([(5, "B", 55.0)], "id long, tag string, val double")
    t.merge(u1, keys=["id"])
    assert t._manifest()["files_carried"] >= 1  # clustering made skipping possible

    u2 = spark.createDataFrame([(85, "Z", 1.0)], "id long, tag string, val double")
    t.merge(u2, keys=["id"])
    assert t._manifest()["files_carried"] >= 1
    rows = {r["id"]: r["tag"] for r in t.read().collect()}
    assert len(rows) == 90 and rows[5] == "B" and rows[85] == "Z"


def test_decimal_columns_get_sound_float_stats(spark, tmp_path):
    """Decimal stats must serialize (they are not JSON-native) and stay
    SOUND under the float conversion: stored min <= true min, stored max
    >= true max, so skipping decisions never wrongly exclude a file."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "id long, v double"
    ).select("id", F.col("v").cast("decimal(18,6)").alias("v")).repartitionByRange(2, "id")
    t.write(base)  # would raise TypeError on json.dump before the fix
    man = t._manifest()
    for f in man["files"]:
        lo, hi = f["stats"]["v"]
        assert isinstance(lo, float) and isinstance(hi, float)
        assert lo <= hi
    # merge on the decimal-stats table still works and still skips
    updates = spark.createDataFrame([(1, 99.0)], "id long, v double").select(
        "id", F.col("v").cast("decimal(18,6)").alias("v")
    )
    t.merge(updates, keys=["id"])
    assert t._manifest()["files_carried"] == 1
    assert t.read().where("id = 1").collect()[0]["v"] == 99.0


def test_concurrent_writers_both_commit(spark, tmp_path, monkeypatch):
    """Optimistic log protocol: writer A reads the manifest, then writer B
    commits BEFORE A claims its version. A's exclusive v{N}.json claim
    must fail, A must re-derive against B's manifest and retry — both
    updates land, neither is lost (last-write-wins would drop B's)."""
    path = str(tmp_path / "tbl")
    a = VersionedTable(spark, path)
    b = VersionedTable(spark, path)
    base = spark.createDataFrame(
        [(i, f"tag{i}", float(i)) for i in range(30)], "id long, tag string, val double"
    )
    a.write(base)

    u_b = spark.createDataFrame([(7, "FROM_B", 7.7)], "id long, tag string, val double")
    interposed = {"done": False}
    orig = VersionedTable._write_files

    def interpose(self, df, version, **kw):
        files = orig(self, df, version, **kw)
        if self is a and not interposed["done"]:
            interposed["done"] = True
            b.merge(u_b, keys=["id"])  # B wins the race for this version
        return files

    monkeypatch.setattr(VersionedTable, "_write_files", interpose)
    u_a = spark.createDataFrame([(3, "FROM_A", 3.3)], "id long, tag string, val double")
    a.merge(u_a, keys=["id"])

    rows = {r["id"]: r["tag"] for r in a.read().collect()}
    assert rows[3] == "FROM_A" and rows[7] == "FROM_B"  # no lost update
    assert len(rows) == 30
    ops = [h["op"] for h in a.history()]
    assert ops == ["write", "merge", "merge"]  # three versions, two merges
    # the abandoned attempt's data files are orphans; vacuum sweeps them
    # without touching anything the surviving manifests reference
    latest = sorted(tuple(r) for r in a.read().collect())
    a.vacuum(keep_versions=3)
    assert sorted(tuple(r) for r in a.read().collect()) == latest
    assert sorted(tuple(r) for r in a.read(version=1).collect())  # time travel intact


def test_merge_pins_nondeterministic_updates(spark, tmp_path):
    """The MERGE source is localCheckpoint-pinned: a nondeterministic
    updates plan (rand()) must yield a self-consistent merge — the rows
    inserted are exactly the rows the skip decision and anti-join saw."""
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    base = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(10)], "id long, tag string, val double"
    )
    t.write(base)
    # nondeterministic ids, but collision-free WITHIN a single evaluation
    # (disjoint 10-wide ranges per source row) — so any duplicate can only
    # come from the merge re-evaluating the plan with fresh randomness
    updates = (
        spark.range(3)
        .select(
            (F.col("id") * 10 + 100 + (F.rand(seed=None) * 9).cast("long")).alias("id"),
            F.lit("new").alias("tag"),
            F.lit(1.0).alias("val"),
        )
    )
    t.merge(updates, keys=["id"])
    rows = t.read().collect()
    # every inserted row appears exactly once (a re-evaluated plan could
    # insert ids the dedup/anti-join never saw, or duplicate them)
    new_ids = [r["id"] for r in rows if r["tag"] == "new"]
    assert len(new_ids) == len(set(new_ids))
    assert 10 <= len(rows) <= 13


def test_write_files_handles_percent_encoded_paths(spark, tmp_path):
    """A table path containing characters Hadoop percent-encodes (space,
    '%', '#') must round-trip through input_file_name() -> os.rename."""
    t = VersionedTable(spark, str(tmp_path / "odd dir %41 #x" / "tbl"))
    base = spark.createDataFrame([(1, "a", 1.0)], "id long, tag string, val double")
    t.write(base)
    assert sorted(tuple(r) for r in t.read().collect()) == [(1, "a", 1.0)]
    t.merge(
        spark.createDataFrame([(2, "b", 2.0)], "id long, tag string, val double"),
        keys=["id"],
    )
    assert len(t.read().collect()) == 2


def test_merge_schema_evolution(table, spark):
    """Delta mergeSchema semantics: a new column in the updates is
    appended (nullable), old/carried files surface NULL for it via
    schema-on-read (nothing rewritten for them), rows the updates lack
    columns for get NULL, and time travel still reads each version's own
    schema."""
    updates = spark.createDataFrame(
        [(2, "B", 22.0, "eu"), (4, "d", 40.0, "us")],
        "id long, tag string, val double, region string",
    )
    table.merge(updates, keys=["id"], merge_schema=True)
    rows = {r["id"]: (r["tag"], r["region"]) for r in table.read().collect()}
    assert rows == {1: ("a", None), 2: ("B", "eu"), 3: ("c", None), 4: ("d", "us")}
    # time travel: version 0 predates the column
    assert "region" not in table.read(version=0).columns
    # a later merge WITHOUT the new column null-fills it on inserts
    table.merge(
        spark.createDataFrame([(5, "e", 50.0)], "id long, tag string, val double"),
        keys=["id"],
    )
    assert {r["id"]: r["region"] for r in table.read().collect()}[5] is None
    # stats skipping still sound: files lacking stats for the new column
    # are conservatively touched, never wrongly skipped
    table.merge(
        spark.createDataFrame([(2, "B2", 2.2, "apac")],
                              "id long, tag string, val double, region string"),
        keys=["id"], merge_schema=True,
    )
    assert {r["id"]: r["tag"] for r in table.read().collect()}[2] == "B2"


def test_merge_without_flag_drops_extra_columns(table, spark):
    updates = spark.createDataFrame(
        [(2, "B", 22.0, "eu")], "id long, tag string, val double, region string"
    )
    table.merge(updates, keys=["id"])  # no merge_schema
    assert "region" not in table.read().columns


def test_optimize_zorder_skips_on_every_dimension(spark, tmp_path):
    """Z-ordering must yield per-file stats that prune on BOTH curve
    dimensions; lexicographic cluster_by only prunes on its leading key.
    Content must be byte-identical before/after (pure layout commit)."""
    import itertools

    from data_etl_pipeline_spark.sources.versioned import range_prune

    rows = [(x, y, f"p{x}-{y}") for x, y in itertools.product(range(32), range(32))]
    df = spark.createDataFrame(rows, "x long, y long, payload string")

    def skipped(t, col, lo, hi):
        p = range_prune(col, lo, hi)
        return sum(0 if p(f["stats"]) else 1 for f in t._manifest()["files"])

    # lexicographic clustering on (x, y): leading key prunes, second doesn't
    lex = VersionedTable(spark, str(tmp_path / "lex"))
    lex.write(df, cluster_by=["x", "y"], n_files=4)
    assert skipped(lex, "x", 0, 7) >= 1
    assert skipped(lex, "y", 0, 7) == 0  # every file spans the full y range

    zt = VersionedTable(spark, str(tmp_path / "z"))
    zt.write(df.repartition(5))  # arbitrary hash layout
    before = sorted(tuple(r) for r in zt.read().collect())
    assert skipped(zt, "x", 0, 7) == 0 and skipped(zt, "y", 0, 7) == 0
    zt.optimize_zorder(["x", "y"], n_files=4)
    assert zt._manifest()["op"] == "zorder"
    # quadrant-shaped files: a tight range on EITHER dimension prunes
    assert skipped(zt, "x", 0, 7) >= 1
    assert skipped(zt, "y", 0, 7) >= 1
    assert sorted(tuple(r) for r in zt.read().collect()) == before
    # and a merge into one corner now skips files on both bounds
    up = spark.createDataFrame([(1, 1, "NEW")], "x long, y long, payload string")
    zt.merge(up, keys=["x", "y"])
    assert zt._manifest()["files_carried"] >= 1
    got = {(r["x"], r["y"]): r["payload"] for r in zt.read().collect()}
    assert got[(1, 1)] == "NEW" and len(got) == 1024


def test_change_feed_net_diff_and_carried_files_unread(spark, tmp_path):
    """change_feed emits exactly the logical diff, with the preimage of an
    update-then-delete being the FROM-version row, and reads ONLY files
    removed/added between the manifests (the Delta-CDF scale property)."""
    from data_etl_pipeline_spark.sources.versioned import range_prune

    t = VersionedTable(spark, str(tmp_path / "cdf"))
    rows = [(i, "keep", float(i)) for i in range(64)]
    df = spark.createDataFrame(rows, "id long, tag string, val double")
    t.write(df, cluster_by=["id"], n_files=8)

    # v1: update ids 0-3, insert 100-101; v2: delete id 2 (updated then deleted)
    up = spark.createDataFrame(
        [(i, "upd", float(i) + 0.5) for i in range(4)]
        + [(100, "new", 100.0), (101, "new", 101.0)],
        "id long, tag string, val double",
    )
    t.merge(up, keys=["id"])
    t.delete_where(F.col("id") == 2, prune=range_prune("id", 2, 2))

    feed = {
        (r["id"], r["change_type"]): (r["tag"], r["val"])
        for r in t.change_feed(keys=["id"], from_version=0).collect()
    }
    assert feed[(100, "insert")] == ("new", 100.0)
    assert feed[(101, "insert")] == ("new", 101.0)
    # net effect of update-then-delete: ONE delete, carrying the v0 preimage
    assert feed[(2, "delete")] == ("keep", 2.0)
    assert (2, "update_preimage") not in feed and (2, "update_postimage") not in feed
    for i in (0, 1, 3):
        assert feed[(i, "update_preimage")] == ("keep", float(i))
        assert feed[(i, "update_postimage")] == ("upd", float(i) + 0.5)
    # unchanged rows inside carried files contribute nothing
    assert len(feed) == 2 + 1 + 3 * 2

    # scale property: the bounded MERGE + pruned DELETE carried most of the
    # clustered files, so the feed's inputs exclude them entirely
    man0 = t._manifest(0)
    man2 = t._manifest()
    shared = {f["path"] for f in man0["files"]} & {f["path"] for f in man2["files"]}
    assert len(shared) >= 5  # 8 clustered files, only the low-key ones touched
    read_paths = {f["path"] for f in man0["files"] + man2["files"]} - shared
    assert all(p not in shared for p in read_paths)


def test_change_feed_schema_evolution_null_preimage(spark, tmp_path):
    """After mergeSchema evolution, preimages report NULL for columns that
    did not exist at from_version (Delta CDF behavior)."""
    t = VersionedTable(spark, str(tmp_path / "cdf_evo"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string"))
    up = spark.createDataFrame([(2, "B", 9.0)], "id long, tag string, score double")
    t.merge(up, keys=["id"], merge_schema=True)
    feed = {
        (r["id"], r["change_type"]): (r["tag"], r["score"])
        for r in t.change_feed(keys=["id"], from_version=0).collect()
    }
    assert feed[(2, "update_preimage")] == ("b", None)
    assert feed[(2, "update_postimage")] == ("B", 9.0)
    assert (1, "update_preimage") not in feed


def test_merge_mixed_upsert_batch_skips_between_key_clusters(spark, tmp_path):
    """A single MERGE batch mixing low-key updates with high-key inserts
    must not touch the files between the two key clusters (global-bounds
    skipping would rewrite the whole table here)."""
    t = VersionedTable(spark, str(tmp_path / "mixed"))
    df = spark.createDataFrame([(i, f"p{i}") for i in range(80)], "id long, payload string")
    t.write(df, cluster_by=["id"], n_files=8)
    batch = spark.createDataFrame(
        [(0, "UPD"), (5, "UPD"), (500, "NEW"), (501, "NEW")], "id long, payload string"
    )
    t.merge(batch, keys=["id"])
    man = t._manifest()
    assert man["files_carried"] >= 6  # only the id<10 file (+ none for inserts) rewritten
    got = {r["id"]: r["payload"] for r in t.read().collect()}
    assert got[0] == "UPD" and got[5] == "UPD" and got[500] == "NEW" and len(got) == 82
    assert got[79] == "p79"


def test_expire_versions_drops_old_manifests_and_files(spark, tmp_path):
    import os

    import pytest

    t = VersionedTable(spark, str(tmp_path / "tbl"))
    schema = "id long, tag string, val double"
    t.write(spark.createDataFrame([(i, f"t{i}", float(i)) for i in range(30)], schema))
    for v in range(1, 4):
        t.merge(spark.createDataFrame([(1, f"upd{v}", float(v))], schema), keys=["id"])
    assert t._versions() == [0, 1, 2, 3]
    latest = sorted(tuple(r) for r in t.read().collect())

    expired = t.expire_versions(keep_versions=2)
    assert expired == [0, 1]
    assert t._versions() == [2, 3]
    assert [m["version"] for m in t.history()] == [2, 3]
    assert sorted(tuple(r) for r in t.read().collect()) == latest
    assert sorted(tuple(r) for r in t.read(version=2).collect()) != []
    with pytest.raises(ValueError, match="no version"):
        t.read(version=0)
    # every remaining data file is referenced by a surviving manifest
    live = {f["path"] for v in (2, 3) for f in t._manifest(v)["files"]}
    on_disk = {f"data/{n}" for n in os.listdir(os.path.join(t.path, "data"))}
    assert on_disk == live

    with pytest.raises(ValueError, match="keep_versions"):
        t.expire_versions(keep_versions=0)


def test_count_rows_is_metadata_only_and_exact(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    schema = "id long, tag string, val double"
    t.write(spark.createDataFrame([(i, f"t{i}", float(i)) for i in range(40)], schema))
    t.merge(
        spark.createDataFrame([(1, "upd", 9.0), (100, "new", 1.0)], schema), keys=["id"]
    )
    t.delete_where("id % 10 = 0")
    for v in (0, 1, 2):
        assert t.count_rows(version=v) == t.read(version=v).count()
    assert t.count_rows() == t.read().count()


def test_merge_racing_compact_neither_lost(spark, tmp_path, monkeypatch):
    """Maintenance (compact) racing a writer (merge): whichever loses the
    version claim must re-derive against the winner's manifest — the
    merged row survives compaction and the compacted layout still holds
    every row."""
    path = str(tmp_path / "tbl")
    writer = VersionedTable(spark, path)
    maint = VersionedTable(spark, path)
    base = spark.createDataFrame(
        [(i, f"tag{i}", float(i)) for i in range(60)], "id long, tag string, val double"
    ).repartition(6)
    writer.write(base)

    interposed = {"done": False}
    orig = VersionedTable._write_files

    def interpose(self, df, version, **kw):
        files = orig(self, df, version, **kw)
        if self is maint and not interposed["done"]:
            # the writer sneaks a merge in while compact holds its files
            interposed["done"] = True
            writer.merge(
                spark.createDataFrame([(5, "MERGED", 55.0)], "id long, tag string, val double"),
                keys=["id"],
            )
        return files

    monkeypatch.setattr(VersionedTable, "_write_files", interpose)
    maint.compact(target_rows=1000)

    rows = {r["id"]: r["tag"] for r in maint.read().collect()}
    assert rows[5] == "MERGED"  # compaction did not resurrect the old row
    assert len(rows) == 60
    assert [h["op"] for h in maint.history()] == ["write", "merge", "compact"]
    # compaction actually consolidated the layout it re-derived
    assert len(maint._manifest()["files"]) < 6


def test_bloom_index_skips_in_range_absent_keys(spark, tmp_path):
    """Per-file Bloom index: a point MERGE whose keys fall INSIDE a file's
    min/max box but are absent from the file must carry it — the gap
    range stats cannot close. Without the index the same merge rewrites
    range-overlapping files."""
    schema = "id long, tag string, val double"
    evens = spark.createDataFrame(
        [(i * 2, f"t{i}", float(i)) for i in range(60)], schema
    )  # ids 0,2,...,118

    plain = VersionedTable(spark, str(tmp_path / "plain"))
    plain.write(evens, cluster_by=["id"], n_files=3)
    bloomed = VersionedTable(spark, str(tmp_path / "bloomed"))
    bloomed.write(evens, cluster_by=["id"], n_files=3, bloom_cols=["id"])
    assert bloomed._manifest()["bloom_cols"] == ["id"]
    assert all("bloom" in f and len(f["bloom"]["id"]) == 128
               for f in bloomed._manifest()["files"])

    # odd keys: inside every range box, present in no file -> pure inserts
    batch = spark.createDataFrame([(7, "NEW", 7.0), (21, "NEW", 21.0)], schema)
    plain.merge(batch, keys=["id"])
    bloomed.merge(batch, keys=["id"])

    assert "files_skipped=3" in bloomed._manifest()["detail"]
    assert "files_rewritten=0" in bloomed._manifest()["detail"]
    assert "files_rewritten=1" in plain._manifest()["detail"]  # range says touch
    assert sorted(tuple(r) for r in bloomed.read().collect()) == sorted(
        tuple(r) for r in plain.read().collect()
    )

    # a PRESENT key still rewrites exactly its file, and the rewrite
    # re-derives the bloom (the index config persists through the log)
    upd = spark.createDataFrame([(4, "UPD", 99.0)], schema)
    bloomed.merge(upd, keys=["id"])
    man = bloomed._manifest()
    assert "files_rewritten=1" in man["detail"]
    assert man["bloom_cols"] == ["id"]
    assert all("bloom" in f for f in man["files"])
    rows = {r["id"]: r["tag"] for r in bloomed.read().collect()}
    assert rows[4] == "UPD" and rows[7] == "NEW"
    assert len(rows) == 62


# ---- deletion vectors ------------------------------------------------------


def _dv_table(spark, tmp_path, n=40, n_files=4):
    t = VersionedTable(spark, str(tmp_path / "dvt"))
    df = spark.range(n).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 1.5).alias("val")
    )
    t.write(df, cluster_by=["id"], n_files=n_files)
    return t


def test_dv_delete_removes_rows_without_rewriting_files(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    files_before = [f["path"] for f in t._manifest()["files"]]
    v = t.delete_where_dv(F.col("id") % 10 == 3)
    man = t._manifest()
    assert [f["path"] for f in man["files"]] == files_before  # zero rewrites
    assert man["files_written"] == 0
    assert man["op"] == "delete_dv"
    ids = {r.id for r in t.read().collect()}
    assert ids == {i for i in range(40) if i % 10 != 3}
    # time travel still sees the pre-delete rows
    assert len(t.read(v - 1).collect()) == 40


def test_dv_deletes_accumulate_and_count_rows_is_metadata_only(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id < 5")
    t.delete_where_dv("id >= 35")
    assert t.count_rows() == 30  # manifest arithmetic, no data read
    assert {r.id for r in t.read().collect()} == set(range(5, 35))
    # second delete of already-deleted rows is a noop commit
    before = t.latest_version()
    t.delete_where_dv("id < 5")
    assert t._manifest()["detail"] == "dv-noop"
    assert t.count_rows() == 30
    assert t.latest_version() == before + 1


def test_dv_survives_merge_on_other_files_and_purges_on_rewrite(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id = 2")
    # merge touching only the high-key file: the deleted row must not
    # resurrect, and the untouched file keeps its DV entry
    ups = spark.createDataFrame([(39, 99, 0.0)], "id long, grp long, val double")
    t.merge(ups, keys=["id"])
    rows = {r.id: r.grp for r in t.read().collect()}
    assert 2 not in rows
    assert rows[39] == 99
    assert t._manifest().get("dv_files"), "carried file should keep its DV"
    # compact rewrites everything -> DVs are materialized and pruned away
    t.compact(target_rows=1_000_000)
    assert not t._manifest().get("dv_files")
    assert 2 not in {r.id for r in t.read().collect()}
    assert t.count_rows() == 39


def test_dv_delete_with_prune_scans_only_matching_files(spark, tmp_path):
    from data_etl_pipeline_spark.sources.versioned import range_prune

    t = _dv_table(spark, tmp_path)
    t.delete_where_dv(F.col("id").between(0, 4), prune=range_prune("id", 0, 4))
    detail = t._manifest()["detail"]
    assert "files_scanned=1" in detail
    assert {r.id for r in t.read().collect()} == set(range(5, 40))


def test_change_feed_surfaces_dv_deletes(spark, tmp_path):
    t = _dv_table(spark, tmp_path, n=10, n_files=2)
    v0 = t.latest_version()
    t.delete_where_dv("id = 7")
    changes = t.change_feed(keys=["id"], from_version=v0).collect()
    assert [(r.id, r.change_type) for r in changes] == [(7, "delete")]


def test_vacuum_reclaims_stale_dv_sidecars(spark, tmp_path):
    import os

    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id = 1")
    t.compact(target_rows=1_000_000)  # purges the DV from the live manifest
    removed = t.vacuum(keep_versions=1)
    assert any(p.startswith("dv/") for p in removed)
    assert not os.listdir(os.path.join(t.path, "dv"))
    assert {r.id for r in t.read().collect()} == set(range(40)) - {1}


def test_timestamp_as_of_time_travel(spark, tmp_path):
    t = _dv_table(spark, tmp_path, n=10, n_files=2)
    t0 = t._manifest()["committed_at_unix"]
    t.delete_where_dv("id >= 5")
    t1 = t._manifest()["committed_at_unix"]
    assert t.version_as_of(t0) == 0
    assert t.version_as_of(t1) == t.latest_version()
    assert len(t.read_as_of(t0).collect()) == 10
    assert len(t.read_as_of(t1).collect()) == 5
    with pytest.raises(ValueError):
        t.version_as_of(t0 - 3600)
    # ISO-string instants resolve too; truncation to the second means the
    # instant may precede a same-second first commit, so probe one second
    # AFTER the latest commit's second, which must see every version
    import time as _time

    iso = t._manifest()["committed_at"]
    bumped = _time.strftime(
        "%Y-%m-%dT%H:%M:%SZ",
        _time.gmtime(_time.mktime(_time.strptime(iso, "%Y-%m-%dT%H:%M:%SZ")) - _time.timezone + 1),
    )
    assert t.version_as_of(bumped) == t.latest_version()


def test_dv_row_in_rewritten_file_stays_deleted_and_entry_prunes(spark, tmp_path):
    """A deletion-vector row whose FILE a later merge rewrites: the rewrite
    reads DV-applied (so the row cannot resurrect into the new file) and
    the commit loop prunes the sidecar entry for the vanished basename."""
    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id = 38")  # lives in the high-key file
    ups = spark.createDataFrame([(39, 99, 0.0)], "id long, grp long, val double")
    t.merge(ups, keys=["id"])  # touches the same high-key file
    ids = {r.id for r in t.read().collect()}
    assert 38 not in ids
    assert 39 in ids
    # the only DV'd basename was rewritten -> no sidecar entries survive
    assert not t._manifest().get("dv_files")
    assert t.count_rows() == 39


# ---- CHECK constraints -----------------------------------------------------


def test_check_constraints_gate_writes_and_merges(spark, tmp_path):
    from data_etl_pipeline_spark.sources.versioned import ConstraintViolationError

    t = VersionedTable(spark, str(tmp_path / "ck"))
    df = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, val double")
    t.write(df, checks=["val >= 0", "id is not null"])
    assert t._manifest()["checks"] == ["val >= 0", "id is not null"]

    # clean merge passes and the constraint persists through the commit
    t.merge(spark.createDataFrame([(3, 30.0)], "id long, val double"), keys=["id"])
    assert t._manifest()["checks"] == ["val >= 0", "id is not null"]

    # violating batch: nothing committed, state unchanged
    v_before = t.latest_version()
    with pytest.raises(ConstraintViolationError):
        t.merge(spark.createDataFrame([(4, -1.0)], "id long, val double"), keys=["id"])
    assert t.latest_version() == v_before
    assert {r.id for r in t.read().collect()} == {1, 2, 3}


def test_check_rows_with_null_condition_pass(spark, tmp_path):
    """SQL CHECK semantics: NULL condition is not a violation."""
    t = VersionedTable(spark, str(tmp_path / "ckn"))
    t.write(
        spark.createDataFrame([(1, 10.0)], "id long, val double"), checks=["val >= 0"]
    )
    t.merge(spark.createDataFrame([(2, None)], "id long, val double"), keys=["id"])
    assert t.read().count() == 2


def test_add_check_validates_existing_data_first(spark, tmp_path):
    from data_etl_pipeline_spark.sources.versioned import ConstraintViolationError

    t = VersionedTable(spark, str(tmp_path / "cka"))
    t.write(spark.createDataFrame([(1, -5.0), (2, 20.0)], "id long, val double"))
    with pytest.raises(ConstraintViolationError):
        t.add_check("val >= 0")  # existing row violates -> rejected
    assert "checks" not in t._manifest()

    t.add_check("id > 0")  # existing data clean -> metadata-only commit
    assert t._manifest()["checks"] == ["id > 0"]
    assert t._manifest()["op"] == "add_check"
    with pytest.raises(ConstraintViolationError):
        t.merge(spark.createDataFrame([(0, 1.0)], "id long, val double"), keys=["id"])


def test_dv_delete_racing_merge_rederives_positions(spark, tmp_path, monkeypatch):
    """A deletion-vector commit that loses the optimistic race must
    re-derive its row POSITIONS against the winner's manifest — positions
    are physical, so replaying a stale sidecar against rewritten files
    would delete the wrong rows."""
    path = str(tmp_path / "dvrace")
    a = VersionedTable(spark, path)
    b = VersionedTable(spark, path)
    base = spark.range(40).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 1.5).alias("val")
    )
    a.write(base, cluster_by=["id"], n_files=4)

    interposed = {"done": False}
    orig = VersionedTable._write_dv_file

    def interpose(self, hits):
        sidecar = orig(self, hits)
        if self is a and not interposed["done"]:
            interposed["done"] = True
            # B rewrites the file holding id=5 before A claims its version
            ups = spark.createDataFrame([(7, 99, 0.0)], "id long, grp long, val double")
            b.merge(ups, keys=["id"])
        return sidecar

    monkeypatch.setattr(VersionedTable, "_write_dv_file", interpose)
    a.delete_where_dv("id = 5")

    rows = {r.id: r.grp for r in a.read().collect()}
    assert 5 not in rows          # the delete landed on the re-derived file
    assert rows[7] == 99          # the merge was not lost
    assert len(rows) == 39
    assert a.count_rows() == 39   # metadata arithmetic consistent
    ops = [h["op"] for h in a.history()]
    assert ops == ["write", "merge", "delete_dv"]


def test_files_df_reports_dv_counts_without_reading_data(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id < 5")
    fdf = t.files_df().collect()
    assert sum(r.num_rows for r in fdf) == 40
    assert sum(r.num_deleted for r in fdf) == 5
    # deleted rows attribute to the low-key file only (clustered layout)
    with_dv = [r for r in fdf if r.num_deleted > 0]
    assert len(with_dv) == 1
    import json as _json

    stats = _json.loads(with_dv[0].stats_json)
    assert stats["id"][0] == 0  # the low-key file


def test_deep_clone_is_independent_of_source(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id = 3")
    c = t.clone(str(tmp_path / "deep"), deep=True)
    assert {r.id for r in c.read().collect()} == set(range(40)) - {3}
    # source mutates + vacuums; the clone must not notice
    t.delete_where("id >= 20")
    t.vacuum(keep_versions=1)
    assert {r.id for r in c.read().collect()} == set(range(40)) - {3}
    assert c.count_rows() == 39


def test_shallow_clone_shares_files_and_commits_independently(spark, tmp_path):
    import os

    t = _dv_table(spark, tmp_path)
    c = t.clone(str(tmp_path / "shallow"), deep=False)
    assert not os.path.isdir(os.path.join(c.path, "data")) or not os.listdir(
        os.path.join(c.path, "data")
    )  # zero bytes copied
    assert sorted(r.id for r in c.read().collect()) == list(range(40))
    # a merge on the clone lands in the clone only
    ups = spark.createDataFrame([(0, 99, 0.0)], "id long, grp long, val double")
    c.merge(ups, keys=["id"])
    assert {r.grp for r in c.read().where("id = 0").collect()} == {99}
    assert {r.grp for r in t.read().where("id = 0").collect()} == {0}
    assert "SHALLOW clone" in c.history()[0]["detail"]


def test_restore_rolls_back_content_but_keeps_history(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id < 10")
    t.merge(
        spark.createDataFrame([(50, 1, 0.0)], "id long, grp long, val double"),
        keys=["id"],
    )
    assert t.count_rows() == 31
    v = t.restore(0)
    assert sorted(r.id for r in t.read().collect()) == list(range(40))
    assert t.count_rows() == 40
    assert t._manifest()["files_written"] == 0  # carried by reference
    # the undone commits remain time-travelable
    assert t.count_rows(version=v - 1) == 31
    ops = [h["op"] for h in t.history()]
    assert ops == ["write", "delete_dv", "merge", "restore"]


# ---- round-4 review regression tests ---------------------------------------


def test_zorder_does_not_resurrect_dv_deleted_rows(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    t.delete_where_dv("id = 7")
    t.optimize_zorder(["id", "grp"], n_files=2)
    assert 7 not in {r.id for r in t.read().collect()}
    assert not t._manifest().get("dv_files")  # purged by the rewrite
    assert t.count_rows() == 39


def test_vacuum_on_shallow_clone_never_touches_source_files(spark, tmp_path):
    import os

    t = _dv_table(spark, tmp_path)
    c = t.clone(str(tmp_path / "sc"), deep=False)
    # rewrite everything in the clone so v0's absolute refs become stale
    ups = spark.createDataFrame(
        [(i, 0, 0.0) for i in range(40)], "id long, grp long, val double"
    )
    c.merge(ups, keys=["id"])
    removed = c.vacuum(keep_versions=1)
    assert all(not os.path.isabs(r) for r in removed)
    # the source table is fully intact
    assert sorted(r.id for r in t.read().collect()) == list(range(40))


def test_merge_rejects_duplicate_key_source(spark, tmp_path):
    t = _dv_table(spark, tmp_path)
    dup = spark.createDataFrame(
        [(1, 10, 0.0), (1, 20, 0.0)], "id long, grp long, val double"
    )
    with pytest.raises(ValueError, match="duplicate row"):
        t.merge(dup, keys=["id"])
    # two null-key rows are NOT duplicates (both insert, per MERGE semantics)
    nulls = spark.createDataFrame(
        [(None, 1, 0.0), (None, 2, 0.0)], "id long, grp long, val double"
    )
    t.merge(nulls, keys=["id"])
    assert t.read().where("id is null").count() == 2


def test_restore_refuses_snapshot_violating_current_checks(spark, tmp_path):
    from data_etl_pipeline_spark.sources.versioned import ConstraintViolationError

    t = VersionedTable(spark, str(tmp_path / "rck"))
    t.write(spark.createDataFrame([(1, -5.0), (2, 2.0)], "id long, val double"))
    t.delete_where("val < 0")
    t.add_check("val >= 0")  # holds on current state
    with pytest.raises(ConstraintViolationError):
        t.restore(0)  # v0 contains val=-5.0, violating the newer CHECK


def test_bloom_probe_survives_type_widened_merge_batch(spark, tmp_path):
    """xxhash64 is type-sensitive: an INT-typed update batch probing a
    LONG-built Bloom index must be cast to the table type, or a present
    key falsely tests absent and the old row silently survives."""
    t = VersionedTable(spark, str(tmp_path / "bw"))
    df = spark.range(40).select(
        F.col("id"), (F.col("id") * 1.5).alias("val")
    )
    t.write(df, cluster_by=["id"], n_files=4, bloom_cols=["id"])
    ups = spark.createDataFrame([(7, 0.0)], "id int, val double")  # INT key
    t.merge(ups, keys=["id"])
    rows = t.read().where("id = 7").collect()
    assert len(rows) == 1  # no duplicate: the matching file was rewritten
    assert rows[0].val == 0.0  # and the update actually landed


def test_merge_refuses_type_drifted_update_batch(spark, tmp_path):
    # decimal(18,2)+1 widens to (19,2); writing it would poison the table
    # with parquet files whose physical type disagrees with the schema
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "tdrift"))
    base = spark.range(10).select(
        F.col("id").alias("k"), F.lit("9.99").cast("decimal(18,2)").alias("price")
    )
    t.write(base)
    drifted = base.withColumn("price", F.col("price") + 1)  # decimal(19,2)
    with pytest.raises(ValueError, match="type"):
        t.merge(drifted, keys=["k"])
    # explicit cast back -> accepted, and the table stays readable
    t.merge(drifted.withColumn("price", F.col("price").cast("decimal(18,2)")), keys=["k"])
    assert t.read().count() == 10


def test_merge_wide_decimal_to_double_refuses(spark, tmp_path):
    # decimal precision > 15 exceeds double's 53-bit mantissa: casting
    # would silently ALTER large values, so the drift refuses like any
    # other lossy mismatch; precision <= 15 stays a silent SQL-precedence
    # upcast
    from pyspark.sql import functions as F

    t = VersionedTable(spark, str(tmp_path / "tdec2dbl"))
    base = spark.range(5).select(
        F.col("id").alias("k"), F.lit(1.5).cast("double").alias("v")
    )
    t.write(base)
    wide = spark.range(5).select(
        F.col("id").alias("k"),
        F.lit("12345678901234567.89").cast("decimal(19,2)").alias("v"),
    )
    with pytest.raises(ValueError, match="type"):
        t.merge(wide, keys=["k"])
    narrow = spark.range(5).select(
        F.col("id").alias("k"), F.lit("7.25").cast("decimal(15,2)").alias("v")
    )
    t.merge(narrow, keys=["k"])  # provably lossless -> accepted
    assert t.read().where(F.col("v") == 7.25).count() == 5


# ---- per-file stats from the staged files' parquet footers ---------------

LONG = "z" * 5000  # over 4 KiB: parquet-mr writes no bounds for its chunk


def _stats_frame(spark):
    """Every stats type across four range-clustered files: NaN doubles,
    an all-NULL column, a string column one file of which holds a value
    over 4 KiB, decimals of each parquet layout (INT32, INT64, fixed
    bytes), dates and both timestamp types."""
    return spark.range(0, 40).selectExpr(
        "id AS k",
        "CASE WHEN id % 7 = 3 THEN CAST('NaN' AS DOUBLE) ELSE id / 4 END AS x",
        "CAST(id AS FLOAT) AS f",
        "CAST(id % 5 AS SMALLINT) AS small",
        "CAST(NULL AS INT) AS nothing",
        "CAST(id / 8 - 2 AS DECIMAL(5,2)) AS d5",
        "CAST(id * 1000.125 AS DECIMAL(15,3)) AS d15",
        "CAST(id - 20 AS DECIMAL(25,2)) AS d25",
        "DATE '2024-02-27' + CAST(id AS INT) AS d",
        "TIMESTAMP '2024-03-30 23:59:59.5' + make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0) AS ts",
        "CAST(TIMESTAMP '2024-03-30 23:00:00.25' AS TIMESTAMP_NTZ)"
        " + make_interval(0, 0, 0, CAST(id AS INT), 0, 0, 0) AS ntz",
    ).withColumn("s", F.when(F.col("k") == 35, F.lit(LONG)).otherwise(F.concat(F.lit("s"), "k")))


def _aggregated(spark, t, schema) -> dict:
    """{file: (num_rows, stats)} as one Spark aggregation over the
    table's files computes them, with the decimal widening of
    ``_json_safe``: the reference the footer stats must equal."""
    import os

    cols = VersionedTable._stat_cols(schema)
    files = [f["path"] for f in t._manifest()["files"]]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    rows = (
        spark.read.schema(schema).parquet(*[os.path.join(t.path, p) for p in files])
        .groupBy(F.element_at(F.split(F.input_file_name(), "/"), -1).alias("bn"))
        .agg(*aggs)
        .collect()
    )
    safe = VersionedTable._json_safe
    return {
        f"data/{r['bn']}": (
            r["__n"],
            {c: [safe(r[f"__min_{c}"], widen=-1), safe(r[f"__max_{c}"], widen=1)] for c in cols},
        )
        for r in rows
    }


def test_footer_stats_equal_the_aggregated_stats(spark, tmp_path):
    import json

    df = _stats_frame(spark)
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(df, cluster_by=["k"], n_files=4)
    files = t._manifest()["files"]
    want = _aggregated(spark, t, df.schema)
    assert len(files) == len(want) == 4
    unbounded = 0
    for f in files:
        n, stats = want[f["path"]]
        if stats["s"][1] == LONG:
            # the footer cannot bound it: stats-less, never skipped
            stats["s"] = [None, None]
            unbounded += 1
        # JSON text compares NaN bounds too
        assert json.dumps([f["num_rows"], f["stats"]], sort_keys=True) == json.dumps(
            [n, stats], sort_keys=True
        ), f["path"]
    assert unbounded == 1
    assert any(f["stats"]["ts"][0] is not None for f in files)  # INT96 carries none


def test_only_ltz_writes_scope_the_timestamp_output_type(spark, tmp_path, monkeypatch):
    # the output type is session-wide: a frame without an LTZ column
    # neither takes the writers' lock nor changes the conf
    from data_etl_pipeline_spark.sources import versioned

    entered = []

    class Recorder:
        def __enter__(self):
            entered.append(spark.conf.get("spark.sql.parquet.outputTimestampType"))

        def __exit__(self, *exc):
            return False

    monkeypatch.setattr(versioned, "_MICROS_WRITE", Recorder())
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(spark.range(3).selectExpr("id AS k", "CAST(TIMESTAMP '2024-01-01' AS TIMESTAMP_NTZ) AS ntz"))
    assert entered == []
    t.write(spark.range(3).selectExpr("id AS k", "TIMESTAMP '2024-01-01' AS ts"))
    assert len(entered) == 1
    assert all(f["stats"]["ts"][0] is not None for f in t._manifest()["files"])


def test_footer_stats_skip_zero_row_files(spark, tmp_path):
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    df = spark.range(0, 3).selectExpr("id AS k", "CAST(id AS STRING) AS s")
    t.write(df.where("k < 0"))
    assert t._manifest()["files"] == []
    # eight partitions, five of them empty: three files, numbered densely
    t.write(df.repartition(8))
    files = t._manifest()["files"]
    assert sorted(int(f["path"].rsplit("-", 1)[1].split(".")[0]) for f in files) == [0, 1, 2]
    assert sum(f["num_rows"] for f in files) == 3


@pytest.mark.parametrize("key", ["k", "d", "ts", "ntz", "d15", "s"])
def test_merge_and_delete_keys_skip_on_footer_stats(spark, tmp_path, key):
    df = _stats_frame(spark).where("k <> 35")  # the long string spans every key order
    t = VersionedTable(spark, str(tmp_path / "tbl"))
    t.write(df, cluster_by=[key], n_files=4)
    assert len(t._manifest()["files"]) == 4
    t.delete_keys(df.where("k = 13").select(key), keys=[key])
    assert "files_skipped=3 files_rewritten=1" in t._manifest()["detail"]
    n_files = len(t._manifest()["files"])
    t.merge(df.where("k = 38"), keys=[key])
    assert t._manifest()["files_carried"] == n_files - 1
    assert t.read().count() == 38
