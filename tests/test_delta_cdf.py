"""Change-data-feed tests: exporter cdc emission, reader table_changes
semantics, and the refusal paths that keep the feed honest."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_etl_pipeline_spark.sources import delta_export as de
from data_etl_pipeline_spark.sources.delta_reader import (
    DeltaLogReader,
    DeltaProtocolError,
)
from data_etl_pipeline_spark.plans.planassert import formatted_plan
from data_etl_pipeline_spark.tables import load


def _base(spark, sf_dir):
    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@pytest.fixture
def fresh(tmp_path_factory):
    """``fresh(prefix)``: the path of a new table in a fresh directory."""
    return lambda prefix="cdf_t_": str(tmp_path_factory.mktemp(prefix)) + "/t"


def test_non_cdf_rewrite_refuses_changes(spark, sf_dir, fresh):
    b = _base(spark, sf_dir)
    dest = fresh()
    de.export_delta(b.where(F.col("o_orderkey") <= 300), dest)  # cdf off
    de.export_delta_delete(spark, dest, "o_orderkey % 5 = 0")
    r = DeltaLogReader(spark, dest)
    with pytest.raises(DeltaProtocolError, match="without cdc files"):
        r.table_changes(0).collect()
    # the creation commit alone is still derivable
    assert r.table_changes(0, 0).count() == b.where(F.col("o_orderkey") <= 300).count()


def test_change_feed_tags_files_from_a_local_relation(spark, sf_dir, fresh):
    # the file -> commit-version map is literal rows: no RDD scan, so no
    # Python worker runs when the feed executes
    dest = fresh()
    de.export_delta(_base(spark, sf_dir).where(F.col("o_orderkey") <= 300), dest, cdf=True)
    de.export_delta_delete(spark, dest, "o_orderkey % 5 = 0")
    plan = formatted_plan(DeltaLogReader(spark, dest).table_changes(1), "extended")
    assert "LocalRelation" in plan and "LocalTableScan" in plan, plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan


def test_optimize_commit_contributes_nothing(spark, sf_dir, fresh):
    b = _base(spark, sf_dir)
    dest = fresh()
    de.export_delta(b.where(F.col("o_orderkey") <= 200), dest, cdf=True)
    de.export_delta_append(
        b.where((F.col("o_orderkey") > 200) & (F.col("o_orderkey") <= 400)), dest
    )
    de.export_delta_optimize(spark, dest)
    ch = DeltaLogReader(spark, dest).table_changes(0)
    n_rows = b.where(F.col("o_orderkey") <= 400).count()
    assert ch.count() == n_rows
    assert ch.where(F.col("_commit_version") == 2).count() == 0


def test_vacuum_retains_change_data(spark, sf_dir, fresh):
    b = _base(spark, sf_dir)
    dest = fresh()
    de.export_delta(b.where(F.col("o_orderkey") <= 300), dest, cdf=True)
    res = de.export_delta_delete(spark, dest, "o_orderkey % 3 = 0")
    assert res["cdc_files"] > 0
    de.export_delta_vacuum(dest, keep_versions=1)
    cd = os.path.join(dest, "_change_data")
    assert any(f.endswith(".parquet") for _r, _d, fs in os.walk(cd) for f in fs)
    # the delete commit's cdc files survive vacuum and replay cleanly
    ch = DeltaLogReader(spark, dest).table_changes(1, 1)
    expect = b.where((F.col("o_orderkey") <= 300) & (F.col("o_orderkey") % 3 == 0))
    assert ch.where(F.col("_change_type") == "delete").count() == expect.count()
    # the creation commit's derived inserts were vacuumed with their file:
    # the full-range read refuses loudly instead of scanning a hole
    with pytest.raises(DeltaProtocolError, match="unrecoverable"):
        DeltaLogReader(spark, dest).table_changes(0).collect()


def test_cdc_files_never_become_table_adds(spark, sf_dir, fresh):
    """The walk-diff that builds add actions must not see _change_data."""
    b = _base(spark, sf_dir)
    dest = fresh()
    de.export_delta(b.where(F.col("o_orderkey") <= 300), dest, cdf=True)
    de.export_delta_delete(spark, dest, "o_orderkey % 3 = 0")
    de.export_delta_append(
        b.where((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500)), dest
    )
    snap = DeltaLogReader(spark, dest).read()
    assert "_change_type" not in snap.columns
    survivors = b.where(
        ((F.col("o_orderkey") <= 300) & (F.col("o_orderkey") % 3 != 0))
        | ((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 500))
    )
    assert snap.count() == survivors.count()


def test_remove_only_commit_derives_deletes(spark, sf_dir, tmp_path):
    """A foreign remove-only commit (no cdc) yields the removed file's
    rows as deletes — and refuses if the pre-image file was vacuumed."""
    from data_etl_pipeline_spark.sources.commit import write_single_parquet

    b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 100)
    tbl = str(tmp_path)
    os.makedirs(os.path.join(tbl, "_delta_log"))
    write_single_parquet(b, os.path.join(tbl, "a.parquet"))

    def log(v, actions):
        with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    log(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "interop-rm",
                    "schemaString": b.schema.json(),
                    "partitionColumns": [],
                    "format": {"provider": "parquet"},
                }
            },
            {
                "add": {
                    "path": "a.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(tbl, "a.parquet")),
                    "dataChange": True,
                }
            },
        ],
    )
    log(1, [{"remove": {"path": "a.parquet", "dataChange": True}}])
    ch = DeltaLogReader(spark, tbl).table_changes(1, 1)
    assert ch.count() == b.count()
    assert ch.select("_change_type").distinct().collect()[0][0] == "delete"
    os.remove(os.path.join(tbl, "a.parquet"))
    with pytest.raises(DeltaProtocolError, match="unrecoverable"):
        DeltaLogReader(spark, tbl).table_changes(1, 1).collect()


def test_partitioned_cdf_partition_values(spark, sf_dir, fresh):
    b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 400)
    dest = fresh("cdf_part_")
    de.export_delta(b, dest, partition_by=["o_orderstatus"], cdf=True)
    de.export_delta_delete(spark, dest, "o_orderkey % 4 = 1")
    ch = DeltaLogReader(spark, dest).table_changes(1, 1)
    got = {
        (r.o_orderstatus, r.n)
        for r in ch.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    want = {
        (r.o_orderstatus, r.n)
        for r in b.where(F.col("o_orderkey") % 4 == 1)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_replace_where_refuses_on_cdf_table(spark, sf_dir, fresh):
    b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 200)
    dest = fresh("cdf_rw_")
    de.export_delta(b, dest, partition_by=["o_orderstatus"], cdf=True)
    with pytest.raises(de.DeltaExportError, match="change data"):
        de.export_delta_replace_where(spark, b, dest, {"o_orderstatus": "O"})


def test_range_validation(spark, sf_dir, fresh):
    b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 100)
    dest = fresh("cdf_rng_")
    de.export_delta(b, dest, cdf=True)
    r = DeltaLogReader(spark, dest)
    with pytest.raises(ValueError, match="invalid change range"):
        r.table_changes(0, 5)
    with pytest.raises(ValueError, match="invalid change range"):
        r.table_changes(-1)


def test_delete_keys_skips_disjoint_files_and_is_idempotent(spark, sf_dir, tmp_path):
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 1000)
    t = VersionedTable(spark, str(tmp_path))
    t.write(b, cluster_by=["o_orderkey"], n_files=8)
    tomb = b.where(F.col("o_orderkey") <= 100).select("o_orderkey")
    v1 = t.delete_keys(tomb, keys=["o_orderkey"])
    hist = {h["version"]: h for h in t.history()}
    assert "files_skipped" in hist[v1]["detail"]
    # low-key tombstones must not rewrite high-key files
    assert int(hist[v1]["detail"].split("files_skipped=")[1].split(" ")[0]) > 0
    n_after = t.read().count()
    assert n_after == b.where(F.col("o_orderkey") > 100).count()
    # redelivered batch: absent keys are a no-op state change
    t.delete_keys(tomb, keys=["o_orderkey"])
    assert t.read().count() == n_after
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table schema"):
        t.delete_keys(tomb.withColumnRenamed("o_orderkey", "zz"), keys=["zz"])


class TestCheckConstraints:
    def test_initial_export_validates(self, spark, sf_dir, fresh):
        b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 100)
        with pytest.raises(de.DeltaExportError, match="price_positive"):
            de.export_delta(
                b.withColumn("o_totalprice", -F.col("o_totalprice")),
                fresh("chk_init_"),
                constraints={"price_positive": "o_totalprice > 0"},
            )

    def test_null_rows_pass_and_writer_version(self, spark, sf_dir, fresh):
        import json as _json
        import os as _os

        b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 100).withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
                F.col("o_orderstatus")
            ),
        )
        dest = fresh("chk_null_")
        de.export_delta(
            b, dest, constraints={"status_known": "o_orderstatus in ('O','F','P')"}
        )
        with open(_os.path.join(dest, "_delta_log", f"{0:020d}.json")) as fh:
            acts = [_json.loads(l) for l in fh if l.strip()]
        proto = next(a["protocol"] for a in acts if "protocol" in a)
        assert proto["minWriterVersion"] == 3
        meta = next(a["metaData"] for a in acts if "metaData" in a)
        assert meta["configuration"]["delta.constraints.status_known"]
        # NULL status rows passed; appends keep validating
        assert DeltaLogReader(spark, dest).read().count() == b.count()
        with pytest.raises(de.DeltaExportError, match="status_known"):
            de.export_delta_append(
                b.withColumn("o_orderstatus", F.when(F.col("o_orderkey") >= 0, F.lit("Z"))),
                dest,
            )

    def test_cdf_and_constraints_compose(self, spark, sf_dir, fresh):
        b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 200)
        dest = fresh("chk_cdf_")
        de.export_delta(
            b, dest, cdf=True, constraints={"pp": "o_totalprice > 0"}
        )
        de.export_delta_delete(spark, dest, "o_orderkey % 2 = 0")
        ch = DeltaLogReader(spark, dest).table_changes(1, 1)
        assert ch.where(F.col("_change_type") == "delete").count() > 0


def test_self_referential_merge_matches_materialized_source(spark, sf_dir, fresh):
    """A MERGE source read from the destination itself is evaluated by
    the concurrent insert and change-feed jobs; the table and the feed
    must equal those a materialized copy of the same source produces."""
    b = _base(spark, sf_dir).where(F.col("o_orderkey") <= 400)
    results = []
    for materialize in (False, True):
        dest = fresh()
        de.export_delta(b.repartition(4), dest, cdf=True)
        src = (
            DeltaLogReader(spark, dest)
            .read()
            .where(F.col("o_orderkey") % 3 == 0)
            .select(
                # even keys update in place, odd keys insert as new keys
                (
                    F.col("o_orderkey")
                    + F.when(F.col("o_orderkey") % 2 == 0, 0).otherwise(10_000)
                ).alias("o_orderkey"),
                F.concat(F.col("o_orderstatus"), F.lit("z")).alias("o_orderstatus"),
                "o_totalprice",
            )
        )
        if materialize:
            src = spark.createDataFrame(src.collect(), src.schema)
        de.export_delta_merge(spark, src, dest, keys=["o_orderkey"])
        r = DeltaLogReader(spark, dest)
        results.append(
            (
                sorted(tuple(x) for x in r.read().collect()),
                sorted(
                    tuple(x)
                    for x in r.table_changes(1).drop("_commit_timestamp").collect()
                ),
            )
        )
    assert results[0] == results[1]
    assert results[0][1]  # the merge published change rows
