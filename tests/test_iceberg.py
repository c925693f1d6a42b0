"""Iceberg interop: Avro OCF codec edge cases the declared queries can't
reach (foreign negative-count blocks, corrupt sync, unsupported codec),
and the reader's loud refusals (delete manifests, nested export schema,
append drift)."""

from __future__ import annotations

import io
import json
import os
import zlib

import pytest
from pyspark.sql import functions as F

from data_etl_pipeline_spark.plans.planassert import formatted_plan
from data_etl_pipeline_spark.sources.avro_ocf import (
    AvroError,
    MAGIC,
    read_ocf,
    write_datum,
    write_long,
    write_ocf,
)
from data_etl_pipeline_spark.sources.iceberg import (
    IcebergError,
    IcebergTable,
    append_iceberg,
    evolve_partition_spec_iceberg,
    export_iceberg,
)

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": ["null", "string"], "default": None},
        {"name": "m", "type": {"type": "map", "values": "long"}},
    ],
}
RECS = [
    {"a": -(2**40), "b": "x", "m": {"k": 1}},
    {"a": 7, "b": None, "m": {}},
]


def test_ocf_roundtrip_both_codecs(tmp_path):
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"t_{codec}.avro")
        write_ocf(p, RECS, SCHEMA, codec=codec)
        back, schema = read_ocf(p)
        assert back == RECS
        assert schema == SCHEMA


def test_ocf_reads_negative_count_array_blocks(tmp_path):
    """Real Avro writers may emit array/map blocks with NEGATIVE counts
    followed by a byte size (spec: enables skipping). Hand-craft one."""
    item_schema = {"type": "array", "items": "long"}
    body = io.BytesIO()
    # array [10, 20] as one negative-count block: count=-2, size, items, end
    inner = io.BytesIO()
    write_datum(inner, 10, "long")
    write_datum(inner, 20, "long")
    payload = inner.getvalue()
    write_long(body, -2)
    write_long(body, len(payload))
    body.write(payload)
    write_long(body, 0)
    buf = io.BytesIO()
    buf.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(item_schema).encode(),
        "avro.codec": b"null",
    }
    write_datum(buf, meta, {"type": "map", "values": "bytes"})
    sync = b"S" * 16
    buf.write(sync)
    blk = body.getvalue()
    write_long(buf, 1)
    write_long(buf, len(blk))
    buf.write(blk)
    buf.write(sync)
    p = str(tmp_path / "neg.avro")
    with open(p, "wb") as f:
        f.write(buf.getvalue())
    back, _ = read_ocf(p)
    assert back == [[10, 20]]


def test_ocf_sync_mismatch_raises(tmp_path):
    p = str(tmp_path / "t.avro")
    write_ocf(p, RECS, SCHEMA, codec="null")
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF  # corrupt the trailing sync marker
    with open(p, "wb") as f:
        f.write(raw)
    with pytest.raises(AvroError, match="sync"):
        read_ocf(p)


def test_ocf_foreign_codec_refuses(tmp_path):
    p = str(tmp_path / "t.avro")
    write_ocf(p, RECS, SCHEMA, codec="null")
    raw = open(p, "rb").read().replace(b"null", b"zstd", 1)
    p2 = str(tmp_path / "z.avro")
    with open(p2, "wb") as f:
        f.write(raw)
    with pytest.raises(AvroError, match="zstd"):
        read_ocf(p2)


@pytest.fixture(scope="module")
def ice_table(spark, tmp_path_factory):
    src = spark.range(0, 100).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v")
    d = str(tmp_path_factory.mktemp("ice_ut")) + "/t"
    export_iceberg(src.where("k < 60"), d, n_files=3, range_by="k")
    append_iceberg(src.where("k >= 60"), d, n_files=2, range_by="k")
    return d


def test_iceberg_prune_keeps_boundless_files(spark, ice_table):
    t = IcebergTable(spark, ice_table)
    files = t.data_files()
    assert len(files) == 5
    sel, total = t.plan_files("k", 0, 5)
    assert total == 5 and 1 <= len(sel) < 5
    # bound-less column: nothing prunable -> all files selected
    sel_all, _ = t.plan_files("no_such_col", 0, 5)
    assert len(sel_all) == 5


def test_iceberg_prune_keeps_entry_with_stripped_bounds(spark, ice_table):
    """Rewrite one manifest entry with lower/upper_bounds=None on disk:
    pruning on a REAL column must keep that file (never drop unknowable
    files), while the other files still prune."""
    from data_etl_pipeline_spark.sources.avro_ocf import read_ocf as _r
    from data_etl_pipeline_spark.sources.iceberg import MANIFEST_ENTRY_SCHEMA

    t = IcebergTable(spark, ice_table)
    snap = t._snapshot(None)
    manifests, _ = _r(snap["manifest-list"])
    # pick the manifest whose files do NOT cover k in [0, 5] (the second
    # snapshot: k >= 60) so stripping its first entry's bounds flips that
    # file from pruned to kept
    mpath = next(
        m["manifest_path"] for m in manifests if m["added_snapshot_id"] == 2
    )
    entries, _ = _r(mpath)
    saved = (entries[0]["data_file"]["lower_bounds"],
             entries[0]["data_file"]["upper_bounds"])
    victim = entries[0]["data_file"]["file_path"]
    sel_before, _ = t.plan_files("k", 0, 5)
    assert victim not in {f["path"] for f in sel_before}
    entries[0]["data_file"]["lower_bounds"] = None
    entries[0]["data_file"]["upper_bounds"] = None
    write_ocf(mpath, entries, MANIFEST_ENTRY_SCHEMA)
    try:
        sel, total = IcebergTable(spark, ice_table).plan_files("k", 0, 5)
        assert total == 5 and victim in {f["path"] for f in sel}
        # bounded files outside the range still prune
        assert len(sel) == len(sel_before) + 1
    finally:
        entries[0]["data_file"]["lower_bounds"] = saved[0]
        entries[0]["data_file"]["upper_bounds"] = saved[1]
        write_ocf(mpath, entries, MANIFEST_ENTRY_SCHEMA)


def test_iceberg_time_travel_counts(spark, ice_table):
    t = IcebergTable(spark, ice_table)
    assert t.read(snapshot_id=1).count() == 60
    assert t.read(snapshot_id=2).count() == 100
    with pytest.raises(IcebergError, match="not in table"):
        t.read(snapshot_id=99)


def test_iceberg_mislabeled_delete_manifest_refuses(spark, ice_table):
    """A manifest list flagging a DATA manifest as a delete manifest
    (content=1 over content=0 files) is malformed and must raise, not
    silently return undead rows."""
    from data_etl_pipeline_spark.sources.avro_ocf import read_ocf as _r
    from data_etl_pipeline_spark.sources.iceberg import MANIFEST_LIST_SCHEMA

    t = IcebergTable(spark, ice_table)
    snap = t._snapshot(None)
    lst = snap["manifest-list"]
    manifests, _ = _r(lst)
    manifests[0]["content"] = 1
    write_ocf(lst, manifests, MANIFEST_LIST_SCHEMA)
    try:
        with pytest.raises(IcebergError, match="malformed"):
            IcebergTable(spark, t.table_dir).data_files()
    finally:
        manifests[0]["content"] = 0
        write_ocf(lst, manifests, MANIFEST_LIST_SCHEMA)


def test_iceberg_nested_schema_roundtrip(spark, tmp_path):
    """Nested struct/list/map columns export with spec-correct unique
    field ids (pre-order fresh-id assignment) and replay byte-equal."""
    import json as _json

    df = spark.range(0, 20).selectExpr(
        "id AS k",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS s",
        "array(id, id * 2) AS arr",
        "map(CAST(id AS STRING), id) AS m",
    )
    d = str(tmp_path / "t")
    export_iceberg(df, d, n_files=2, range_by="k")
    t = IcebergTable(spark, d)
    back = t.read()
    assert back.count() == 20
    assert back.where("s.a = 7").select("s.b").first()[0] == "7"
    assert back.where("k = 3").select("arr").first()[0] == [3, 6]
    assert back.where("k = 5").select("m").first()[0] == {"5": 5}
    # ids unique across the whole tree, last-column-id = max id
    meta_path = os.path.join(d, "metadata", "v1.metadata.json")
    meta = _json.load(open(meta_path))
    schema = meta["schemas"][0]

    def collect_ids(node, out):
        if isinstance(node, dict):
            for key in ("id", "element-id", "key-id", "value-id"):
                if key in node:
                    out.append(node[key])
            for key in ("fields", "type", "element", "key", "value"):
                if key in node:
                    collect_ids(node[key], out)
        elif isinstance(node, list):
            for v in node:
                collect_ids(v, out)

    ids: list[int] = []
    collect_ids(schema["fields"], ids)
    assert len(ids) == len(set(ids)) == 9  # k, s, s.a, s.b, arr, elem, m, key, value
    assert meta["last-column-id"] == max(ids)
    # bounds on the top-level primitive still prune
    sel, total = t.plan_files("k", 0, 5)
    assert 0 < len(sel) < total
    # partitioning by a nested-typed column refuses loudly
    with pytest.raises(IcebergError, match="partitioning supports"):
        export_iceberg(df, str(tmp_path / "t2"), partition_by="s")


def test_iceberg_append_schema_drift_refuses(spark, ice_table):
    drifted = spark.range(3).selectExpr("id AS k", "CAST(id AS DOUBLE) AS other")
    with pytest.raises(IcebergError, match="schema mismatch"):
        append_iceberg(drifted, ice_table)


def test_iceberg_bounds_decode_types(spark, ice_table):
    t = IcebergTable(spark, ice_table)
    f = sorted(t.data_files(snapshot_id=1), key=lambda x: x["lower"]["k"])[0]
    assert f["lower"]["k"] == 0 and isinstance(f["lower"]["k"], int)
    assert isinstance(f["lower"]["v"], float)
    assert f["record_count"] > 0
    assert os.path.getsize(f["path"]) == f["file_size_in_bytes"]


def test_iceberg_foreign_layout_file_uris_and_no_hint(spark, tmp_path):
    """Real Iceberg writers record file:// URIs and often no
    version-hint (catalog-managed tables). Rewrite an exported table
    into that layout and require the reader to replay it unchanged."""
    import glob
    import json as _json

    from data_etl_pipeline_spark.sources.avro_ocf import read_ocf as _r
    from data_etl_pipeline_spark.sources.iceberg import MANIFEST_LIST_SCHEMA

    src = spark.range(0, 40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    d = str(tmp_path / "t")
    export_iceberg(src, d, n_files=2, range_by="k")

    meta_dir = os.path.join(d, "metadata")
    os.remove(os.path.join(meta_dir, "version-hint.text"))
    meta_path = glob.glob(os.path.join(meta_dir, "v*.metadata.json"))[0]
    meta = _json.load(open(meta_path))
    for s in meta["snapshots"]:
        s["manifest-list"] = "file://" + s["manifest-list"]
        manifests, _ = _r(s["manifest-list"][len("file://"):])
        for m in manifests:
            m["manifest_path"] = "file://" + m["manifest_path"]
        write_ocf(s["manifest-list"][len("file://"):], manifests, MANIFEST_LIST_SCHEMA)
    _json.dump(meta, open(meta_path, "w"))

    t = IcebergTable(spark, d)
    assert t.read().count() == 40
    sel, total = t.plan_files("k", 0, 10)
    assert 0 < len(sel) < total


def test_iceberg_remote_scheme_refuses(spark, tmp_path):
    import glob
    import json as _json

    src = spark.range(0, 5).selectExpr("id AS k")
    d = str(tmp_path / "t")
    export_iceberg(src, d)
    meta_dir = os.path.join(d, "metadata")
    meta_path = glob.glob(os.path.join(meta_dir, "v*.metadata.json"))[0]
    meta = _json.load(open(meta_path))
    meta["snapshots"][0]["manifest-list"] = "s3://bucket/snap.avro"
    _json.dump(meta, open(meta_path, "w"))
    with pytest.raises(IcebergError, match="remote path scheme"):
        IcebergTable(spark, d).data_files()


def test_iceberg_bounds_accept_plain_map_form():
    """_from_kv must accept both the spec's array<key_value> form and a
    permissive string-keyed map (defensive decode for foreign files)."""
    from data_etl_pipeline_spark.sources.iceberg import _from_kv

    assert _from_kv([{"key": 1, "value": b"\x01"}]) == {1: b"\x01"}
    assert _from_kv({"1": b"\x01", "2": b"\x02"}) == {1: b"\x01", 2: b"\x02"}
    assert _from_kv(None) == {}


def test_iceberg_date_column_bounds(spark, tmp_path):
    """DateType columns export with days-since-epoch bounds (pyarrow
    footer stats hand back datetime.date, not ints)."""
    import datetime

    src = spark.range(0, 30).selectExpr(
        "id AS k", "date_add(DATE '2024-01-01', CAST(id AS INT)) AS d"
    )
    dpath = str(tmp_path / "t")
    export_iceberg(src, dpath, n_files=3, range_by="k")
    t = IcebergTable(spark, dpath)
    files = t.data_files()
    assert all(isinstance(f["lower"]["d"], int) for f in files)
    base = (datetime.date(2024, 1, 1) - datetime.date(1970, 1, 1)).days
    assert min(f["lower"]["d"] for f in files) == base
    assert max(f["upper"]["d"] for f in files) == base + 29
    # pruning on the date bounds (days since epoch) works end-to-end
    sel, total = t.plan_files("d", base, base + 4)
    assert 0 < len(sel) < total
    assert t.read(files=sel).where("d <= DATE '2024-01-05'").count() == 5


def test_iceberg_decimal_bounds_roundtrip(spark, tmp_path):
    """decimal(5,2) and (15,2) are int-backed in Spark's parquet, (25,2)
    a fixed-length byte array: all three export, carry spec-encoded
    bounds (unscaled big-endian) and decode back to the exact values."""
    from decimal import Decimal

    src = spark.sql("SELECT * FROM VALUES (0, 1.25), (1, -3.5), (2, 0.07) AS t(k, v)").selectExpr(
        "k", "CAST(v AS DECIMAL(5,2)) AS d5", "CAST(v AS DECIMAL(15,2)) AS d15",
        "CAST(v AS DECIMAL(25,2)) AS d25",
    )
    d = str(tmp_path / "t")
    export_iceberg(src, d)
    t = IcebergTable(spark, d)
    (f,) = t.data_files()
    for c in ("d5", "d15", "d25"):
        assert (f["lower"][c], f["upper"][c]) == (Decimal("-3.50"), Decimal("1.25")), c
    assert sorted(t.read().collect()) == sorted(src.collect())
    sel, total = t.plan_files("d15", Decimal("2"), Decimal("3"))
    assert (len(sel), total) == (0, 1)


def test_iceberg_wide_decimal_bounds_are_exact(spark, tmp_path):
    """decimal(38,2) values of 36+ digits exceed Python's default
    28-digit decimal context: their bounds must encode and decode
    without rounding, or a min rounded up (max rounded down) would
    prune the file for ``x = min`` (``x = max``)."""
    from decimal import Decimal

    lo = Decimal("-123456789012345678901234567890123456.12")
    hi = Decimal("987654321098765432109876543210987654.94")
    src = spark.sql(
        f"SELECT * FROM VALUES (0, '{lo}'), (1, '{hi}'), (2, '0.07') AS t(k, v)"
    ).selectExpr("k", "CAST(v AS DECIMAL(38,2)) AS x")
    d = str(tmp_path / "t")
    export_iceberg(src, d)
    t = IcebergTable(spark, d)
    (f,) = t.data_files()
    assert (f["lower"]["x"], f["upper"]["x"]) == (lo, hi)
    for v in (lo, hi):
        assert t.plan_files("x", v, v) == ([f], 1), v
    above = Decimal("987654321098765432109876543210987654.95")
    assert t.plan_files("x", above, above) == ([], 1)


def test_iceberg_nan_double_exports_no_bounds(spark, tmp_path):
    # pyarrow reports max=NaN for a chunk holding NaN; a NaN upper bound
    # fails every comparison, so pruning would drop the file
    src = spark.sql("SELECT * FROM VALUES (0, CAST('NaN' AS DOUBLE)), (1, 2.0) AS t(k, x)")
    d = str(tmp_path / "t")
    export_iceberg(src, d)
    t = IcebergTable(spark, d)
    (f,) = t.data_files()
    assert "x" not in f["lower"] and "x" not in f["upper"]
    assert f["lower"]["k"] == 0
    assert t.plan_files("x", 1.0, 3.0)[0] == [f]


class TestIdentityPartitioning:
    """Identity-partitioned export: typed partition tuples in manifests
    (the r102 record is per-table), the spec inherited by appends,
    partition pruning, and the bounded-cardinality / null refusals."""

    @pytest.fixture(scope="class")
    def ptable(self, spark, tmp_path_factory):
        src = spark.range(0, 90).selectExpr(
            "id AS k",
            "CASE WHEN id % 3 = 0 THEN 'bronze' WHEN id % 3 = 1 THEN 'silver' "
            "ELSE 'gold' END AS tier",
        )
        d = str(tmp_path_factory.mktemp("ice_part")) + "/t"
        export_iceberg(src.where("k < 60"), d, partition_by="tier")
        append_iceberg(src.where("k >= 60"), d)
        return d

    def test_partition_tuples_in_manifests(self, spark, ptable):
        t = IcebergTable(spark, ptable)
        files = t.data_files()
        assert len(files) == 6  # 3 tiers x 2 snapshots
        assert {f["partition"]["tier"] for f in files} == {"bronze", "silver", "gold"}
        spec = t.meta["partition-specs"][0]["fields"]
        assert spec[0]["transform"] == "identity" and spec[0]["name"] == "tier"

    def test_roundtrip_and_partition_column_in_files(self, spark, ptable):
        t = IcebergTable(spark, ptable)
        back = t.read()
        assert back.count() == 90
        # Iceberg keeps the partition column IN the data files
        assert back.where("tier = 'gold'").count() == 30

    def test_partition_pruning_strict_subset(self, spark, ptable):
        t = IcebergTable(spark, ptable)
        sel, total = t.plan_files_by_partition("tier", {"gold"})
        assert total == 6 and len(sel) == 2
        assert t.read(files=sel).count() == 30
        # unknown partition key keeps everything (never drop unknowable)
        sel_all, _ = t.plan_files_by_partition("no_such", {"x"})
        assert len(sel_all) == 6

    def test_cardinality_cap_refuses(self, spark, tmp_path):
        wide = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS STRING) AS s")
        with pytest.raises(IcebergError, match="distinct values"):
            export_iceberg(wide, str(tmp_path / "t"), partition_by="s")

    def test_null_partition_value_refuses(self, spark, tmp_path):
        df = spark.range(0, 5).selectExpr(
            "id AS k", "CASE WHEN id = 3 THEN NULL ELSE 'a' END AS s"
        )
        with pytest.raises(IcebergError, match="NULL partition value"):
            export_iceberg(df, str(tmp_path / "t"), partition_by="s")

    def test_unpartitionable_type_refuses(self, spark, tmp_path):
        df = spark.range(0, 5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        with pytest.raises(IcebergError, match="identity partitioning supports"):
            export_iceberg(df, str(tmp_path / "t"), partition_by="v")


# ---------------------------------------------------------------------------
# round 12: position deletes, incremental tail, truncate transform,
# foreign-append metadata preservation, Avro truncated-input contract
# ---------------------------------------------------------------------------


def test_avro_truncated_primitive_raises():
    import struct as _s

    from data_etl_pipeline_spark.sources.avro_ocf import read_datum

    for schema, payload in (
        ("double", _s.pack("<f", 1.0)),  # 4 bytes where 8 needed
        ("float", b"\x00\x00"),
        ({"type": "fixed", "name": "f8", "size": 8}, b"\x01\x02"),
    ):
        with pytest.raises(AvroError, match="EOF"):
            read_datum(io.BytesIO(payload), schema)


def test_avro_missing_defaultless_record_field_raises():
    buf = io.BytesIO()
    with pytest.raises(AvroError, match="missing required field"):
        write_datum(buf, {"b": "x", "m": {}}, SCHEMA)  # 'a' has no default


class TestPositionDeletes:
    @pytest.fixture(scope="class")
    def dtable(self, spark, tmp_path_factory):
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        src = spark.range(0, 100).selectExpr("id AS k", "CAST(id * 2 AS DOUBLE) AS v")
        d = str(tmp_path_factory.mktemp("ice_del")) + "/t"
        export_iceberg(src.where("k < 60"), d, n_files=3, range_by="k")
        append_iceberg(src.where("k >= 60"), d, n_files=2, range_by="k")
        delete_rows_iceberg(spark, d, "k % 10 = 3")  # 10 rows across files
        return d

    def test_deleted_rows_masked(self, spark, dtable):
        t = IcebergTable(spark, dtable)
        back = t.read()
        assert back.count() == 90
        assert back.where("k % 10 = 3").count() == 0
        assert back.where("k = 4").count() == 1  # neighbors survive

    def test_time_travel_sees_undeleted(self, spark, dtable):
        t = IcebergTable(spark, dtable)
        # snapshots 1 and 2 predate the delete: full row sets
        assert t.read(snapshot_id=1).count() == 60
        assert t.read(snapshot_id=2).count() == 100
        assert t.read(snapshot_id=3).count() == 90

    def test_delete_files_listed(self, spark, dtable):
        t = IcebergTable(spark, dtable)
        assert t.delete_files(snapshot_id=2) == []
        dels = t.delete_files(snapshot_id=3)
        assert len(dels) == 1 and dels[0]["record_count"] == 10

    def test_append_after_delete_not_masked(self, spark, dtable):
        # appending rows whose keys collide with deleted keys must NOT
        # mask them: deletes reference exact (file, pos), not values
        src = spark.range(1000, 1003).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        )
        sid = append_iceberg(src, dtable)
        t = IcebergTable(spark, dtable)
        assert t.read(snapshot_id=sid).count() == 93

    def test_pruned_read_still_masks(self, spark, dtable):
        t = IcebergTable(spark, dtable)
        sel, total = t.plan_files("k", 0, 19)
        assert 0 < len(sel) < total
        got = t.read(files=sel).where("k BETWEEN 0 AND 19")
        assert got.count() == 18  # 3 and 13 masked

    def test_equality_delete_without_ids_refuses(self, spark, dtable):
        """content=2 with no equality_ids is malformed, not maskable."""
        from data_etl_pipeline_spark.sources.avro_ocf import read_ocf as _r
        from data_etl_pipeline_spark.sources.iceberg import (
            MANIFEST_ENTRY_SCHEMA,
            MANIFEST_LIST_SCHEMA,
        )

        t = IcebergTable(spark, dtable)
        snap = t._snapshot(3)
        manifests, _ = _r(snap["manifest-list"])
        mpath = next(m["manifest_path"] for m in manifests if m["content"] == 1)
        entries, _ = _r(mpath)
        entries[0]["data_file"]["content"] = 2
        write_ocf(mpath, entries, MANIFEST_ENTRY_SCHEMA)
        try:
            with pytest.raises(IcebergError, match="no equality_ids"):
                IcebergTable(spark, dtable).read(snapshot_id=3)
        finally:
            entries[0]["data_file"]["content"] = 1
            write_ocf(mpath, entries, MANIFEST_ENTRY_SCHEMA)

    def test_delete_on_partitioned_table(self, spark, tmp_path):
        """Deletes on a partitioned table ride a dedicated UNPARTITIONED
        spec for the delete manifest (global deletes, spec-legal)."""
        import json as _json

        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        src = spark.range(0, 30).selectExpr(
            "id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g"
        )
        d = str(tmp_path / "t")
        export_iceberg(src, d, partition_by="g")
        delete_rows_iceberg(spark, d, "k < 4")
        t = IcebergTable(spark, d)
        assert t.read().count() == 26
        assert t.read().where("k < 4").count() == 0
        # partition pruning still composes with delete masking
        sel, total = t.plan_files_by_partition("g", {"a"})
        assert len(sel) < total
        assert t.read(files=sel).where("g = 'a'").count() == 13
        # the delete manifest references the added unpartitioned spec
        meta = _json.load(
            open(os.path.join(d, "metadata", "v2.metadata.json"))
        )
        specs = {sp["spec-id"]: sp["fields"] for sp in meta["partition-specs"]}
        assert len(specs) == 2 and [] in specs.values()
        assert meta["default-spec-id"] == 0  # data spec unchanged

    def test_empty_delete_refuses(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        src = spark.range(0, 10).selectExpr("id AS k")
        d = str(tmp_path / "t")
        export_iceberg(src, d)
        with pytest.raises(IcebergError, match="matched no rows"):
            delete_rows_iceberg(spark, d, "k > 999")


class TestIncrementalTail:
    @pytest.fixture(scope="class")
    def ttable(self, spark, tmp_path_factory):
        src = spark.range(0, 90).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        d = str(tmp_path_factory.mktemp("ice_tail")) + "/t"
        export_iceberg(src.where("k < 30"), d, n_files=2, range_by="k")
        append_iceberg(src.where("k >= 30 AND k < 60"), d, n_files=2, range_by="k")
        append_iceberg(src.where("k >= 60"), d, n_files=3, range_by="k")
        return d

    def test_added_files_per_snapshot(self, spark, ttable):
        t = IcebergTable(spark, ttable)
        pairs = t.added_files(1)
        by_sid = {}
        for sid, f in pairs:
            by_sid.setdefault(sid, []).append(f)
        assert sorted(by_sid) == [2, 3]
        assert len(by_sid[2]) == 2 and len(by_sid[3]) == 3
        assert t.added_files(3) == []

    def test_read_tail_rows_and_tags(self, spark, ttable):
        t = IcebergTable(spark, ttable)
        tail = t.read_tail(1)
        assert tail.count() == 60
        got = {
            (r["_commit_snapshot"], r["n"])
            for r in tail.groupby("_commit_snapshot").count()
            .withColumnRenamed("count", "n").collect()
        }
        assert got == {(2, 30), (3, 30)}
        # rows carry the data columns untouched
        assert tail.where("k = 45").select("v").first()[0] == 45.0

    def test_tail_nothing_after_raises(self, spark, ttable):
        with pytest.raises(IcebergError, match="nothing to tail"):
            IcebergTable(spark, ttable).read_tail(3)

    def test_tail_refuses_delete_snapshot_in_range(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        src = spark.range(0, 20).selectExpr("id AS k")
        d = str(tmp_path / "t")
        export_iceberg(src.where("k < 10"), d)
        delete_rows_iceberg(spark, d, "k = 1")
        append_iceberg(src.where("k >= 10"), d)
        with pytest.raises(IcebergError, match="'delete' snapshot"):
            IcebergTable(spark, d).added_files(1)


class TestTruncateTransform:
    @pytest.fixture(scope="class")
    def trunc_table(self, spark, tmp_path_factory):
        src = spark.range(0, 100).selectExpr(
            "id AS k",
            "concat('grp', CAST(id % 4 AS STRING), '_tail', CAST(id AS STRING)) AS s",
        )
        d = str(tmp_path_factory.mktemp("ice_trunc")) + "/t"
        export_iceberg(src.where("k < 60"), d, partition_by="k", transform="truncate[20]")
        append_iceberg(src.where("k >= 60"), d)  # inherits truncate spec
        return d

    def test_int_truncate_tuples(self, spark, trunc_table):
        t = IcebergTable(spark, trunc_table)
        files = t.data_files()
        vals = sorted({f["partition"]["k_trunc"] for f in files})
        assert vals == [0, 20, 40, 60, 80]
        spec = t.meta["partition-specs"][0]["fields"][0]
        assert spec["transform"] == "truncate[20]" and spec["name"] == "k_trunc"

    def test_roundtrip(self, spark, trunc_table):
        assert IcebergTable(spark, trunc_table).read().count() == 100

    def test_source_range_pruning(self, spark, trunc_table):
        t = IcebergTable(spark, trunc_table)
        sel, total = t.plan_files_by_source_range("k", 25, 45)
        # buckets 20 and 40 intersect [25, 45]
        assert total == 5 and {f["partition"]["k_trunc"] for f in sel} == {20, 40}
        assert t.read(files=sel).where("k BETWEEN 25 AND 45").count() == 21
        # boundary: bucket 20 covers [20, 39]; lo=40 excludes it
        sel2, _ = t.plan_files_by_source_range("k", 40, 41)
        assert {f["partition"]["k_trunc"] for f in sel2} == {40}

    def test_string_truncate_and_pruning(self, spark, tmp_path):
        src = spark.range(0, 80).selectExpr(
            "id AS k",
            "concat('grp', CAST(id % 4 AS STRING), '_tail', CAST(id AS STRING)) AS s",
        )
        d = str(tmp_path / "t")
        export_iceberg(src, d, partition_by="s", transform="truncate[4]")
        t = IcebergTable(spark, d)
        vals = sorted({f["partition"]["s_trunc"] for f in t.data_files()})
        assert vals == ["grp0", "grp1", "grp2", "grp3"]
        sel, total = t.plan_files_by_source_range("s", "grp1", "grp2zzz")
        assert total == 4 and {f["partition"]["s_trunc"] for f in sel} == {"grp1", "grp2"}
        assert t.read(files=sel).count() == 40

    def test_unknown_transform_refuses(self, spark, tmp_path):
        for bad in ("void", "truncate[0]", "bucket[0]", "nonsense"):
            with pytest.raises(IcebergError, match="unsupported partition transform"):
                export_iceberg(
                    spark.range(3).selectExpr("id AS k"),
                    str(tmp_path / f"t_{bad}"),
                    partition_by="k",
                    transform=bad,
                )


def test_iceberg_append_preserves_foreign_metadata(spark, tmp_path):
    """Appending to a table whose current-schema-id != 0 and whose
    snapshot ids are sparse must PRESERVE prior schemas / ids and pick
    non-colliding snapshot ids + sequence numbers (round-12 advice)."""
    import glob as _g
    import json as _json

    src = spark.range(0, 20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    d = str(tmp_path / "t")
    export_iceberg(src.where("k < 10"), d)

    # rewrite as a foreign table: schema under id 7, snapshot id 41, seq 5
    meta_path = _g.glob(os.path.join(d, "metadata", "v*.metadata.json"))[0]
    meta = _json.load(open(meta_path))
    meta["schemas"][0]["schema-id"] = 7
    meta["current-schema-id"] = 7
    meta["snapshots"][0]["snapshot-id"] = 41
    meta["snapshots"][0]["sequence-number"] = 5
    meta["last-sequence-number"] = 5
    meta["current-snapshot-id"] = 41
    meta["snapshot-log"] = [
        {"snapshot-id": 41, "timestamp-ms": meta["snapshots"][0]["timestamp-ms"]}
    ]
    _json.dump(meta, open(meta_path, "w"))

    sid = append_iceberg(src.where("k >= 10"), d)
    assert sid == 42  # max(41) + 1, not metadata-file-version 2
    t = IcebergTable(spark, d)
    assert t.read().count() == 20
    assert t.read(snapshot_id=41).count() == 10
    assert t.meta["current-schema-id"] == 7
    assert [s.get("schema-id") for s in t.meta["schemas"]] == [7]
    new_snap = t._snapshot(42)
    assert new_snap["sequence-number"] == 6
    # the incremental tail works across the foreign boundary
    assert t.read_tail(41).count() == 10


# ---------------------------------------------------------------------------
# round 12, second tranche: murmur3/bucket + time transforms + expiry
# ---------------------------------------------------------------------------


def test_murmur3_spec_vectors():
    """The Iceberg spec's appendix-B bucket hash examples (public test
    vectors): hash(34 as long LE bytes) and hash('iceberg' utf-8)."""
    from data_etl_pipeline_spark.sources.iceberg import iceberg_bucket, murmur3_32

    assert murmur3_32((34).to_bytes(8, "little", signed=True)) == 2017239379
    assert murmur3_32(b"iceberg") == 1210000089
    # bucket = (hash & Int.MaxValue) % N
    assert iceberg_bucket(34, 16, "long") == (2017239379 & 0x7FFFFFFF) % 16
    assert iceberg_bucket("iceberg", 16, "string") == (1210000089 & 0x7FFFFFFF) % 16


class TestBucketTransform:
    @pytest.fixture(scope="class")
    def btable(self, spark, tmp_path_factory):
        src = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        d = str(tmp_path_factory.mktemp("ice_bucket")) + "/t"
        export_iceberg(src.where("k < 120"), d, partition_by="k", transform="bucket[8]")
        append_iceberg(src.where("k >= 120"), d)  # inherits the bucket spec
        return d

    def test_bucket_tuples_match_spec_hash(self, spark, btable):
        from data_etl_pipeline_spark.sources.iceberg import iceberg_bucket

        t = IcebergTable(spark, btable)
        files = t.data_files()
        assert {f["partition"]["k_bucket"] for f in files} <= set(range(8))
        # every file's rows actually hash into its declared bucket
        for f in files[:3]:
            rows = spark.read.parquet(f["path"]).collect()
            assert {iceberg_bucket(r["k"], 8, "long") for r in rows} == {
                f["partition"]["k_bucket"]
            }

    def test_roundtrip(self, spark, btable):
        assert IcebergTable(spark, btable).read().count() == 200

    def test_point_lookup_pruning(self, spark, btable):
        t = IcebergTable(spark, btable)
        sel, total = t.plan_files_by_source_values("k", {7, 42})
        assert len(sel) < total  # at most 2 buckets x 2 snapshots survive
        got = t.read(files=sel).where("k IN (7, 42)")
        assert got.count() == 2

    def test_range_pruning_refuses(self, spark, btable):
        with pytest.raises(IcebergError, match="not order-preserving"):
            IcebergTable(spark, btable).plan_files_by_source_range("k", 0, 10)


class TestTimeTransforms:
    @pytest.fixture(scope="class")
    def ytable(self, spark, tmp_path_factory):
        src = spark.range(0, 48).selectExpr(
            "id AS k",
            "add_months(DATE '1994-01-15', CAST(id AS INT)) AS d",  # 4 years
        )
        d = str(tmp_path_factory.mktemp("ice_year")) + "/t"
        export_iceberg(src, d, partition_by="d", transform="year")
        return d

    def test_year_tuples(self, spark, ytable):
        t = IcebergTable(spark, ytable)
        vals = sorted({f["partition"]["d_year"] for f in t.data_files()})
        assert vals == [24, 25, 26, 27]  # 1994..1997 - 1970
        assert t.read().count() == 48

    def test_year_range_pruning(self, spark, ytable):
        import datetime

        t = IcebergTable(spark, ytable)
        sel, total = t.plan_files_by_source_range(
            "d", datetime.date(1995, 3, 1), datetime.date(1996, 7, 1)
        )
        assert total == 4 and {f["partition"]["d_year"] for f in sel} == {25, 26}
        assert (
            t.read(files=sel)
            .where("d BETWEEN DATE '1995-03-01' AND DATE '1996-07-01'")
            .count()
            == 16
        )

    def test_month_transform(self, spark, tmp_path):
        import datetime

        src = spark.range(0, 10).selectExpr(
            "id AS k", "add_months(DATE '1970-01-10', CAST(id AS INT)) AS d"
        )
        d = str(tmp_path / "t")
        export_iceberg(src, d, partition_by="d", transform="month")
        t = IcebergTable(spark, d)
        assert sorted({f["partition"]["d_month"] for f in t.data_files()}) == list(range(10))
        sel, _ = t.plan_files_by_source_values("d", {datetime.date(1970, 4, 10)})
        assert len(sel) == 1 and t.read(files=sel).count() == 1

    def test_day_transform_on_timestamp(self, spark, tmp_path):
        src = spark.range(0, 5).selectExpr(
            "id AS k",
            "timestamp_ntz '2024-03-01 06:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0) AS ts",
        )
        d = str(tmp_path / "t")
        export_iceberg(src, d, partition_by="ts", transform="day")
        t = IcebergTable(spark, d)
        import datetime

        base = (datetime.date(2024, 3, 1) - datetime.date(1970, 1, 1)).days
        assert sorted({f["partition"]["ts_day"] for f in t.data_files()}) == [
            base + i for i in range(5)
        ]

    def test_time_transform_on_non_temporal_refuses(self, spark, tmp_path):
        with pytest.raises(IcebergError, match="year transform needs"):
            export_iceberg(
                spark.range(3).selectExpr("id AS k"),
                str(tmp_path / "t"),
                partition_by="k",
                transform="year",
            )


class TestExpireSnapshots:
    def _mk(self, spark, base):
        src = spark.range(0, 90).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        d = str(base / "t")
        export_iceberg(src.where("k < 30"), d, n_files=2, range_by="k")
        append_iceberg(src.where("k >= 30 AND k < 60"), d, n_files=2, range_by="k")
        append_iceberg(src.where("k >= 60"), d, n_files=2, range_by="k")
        return d

    def test_expire_keeps_current_reachable_files(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import expire_snapshots_iceberg

        d = self._mk(spark, tmp_path)
        before = IcebergTable(spark, d)
        files_before = {f["path"] for f in before.data_files()}
        res = expire_snapshots_iceberg(d, keep_last=1)
        assert res["expired_snapshots"] == [1, 2]
        # appends carry manifests by reference: every data file is still
        # reachable from snapshot 3, so NOTHING is deleted
        assert res["files_removed"] == 0
        t = IcebergTable(spark, d)
        assert {f["path"] for f in t.data_files()} == files_before
        assert t.read().count() == 90
        with pytest.raises(IcebergError, match="not in table"):
            t.read(snapshot_id=1)

    def test_expire_reclaims_compaction_orphans(self, spark, tmp_path):
        """After compact_iceberg (replace snapshot, no carried manifest
        references), expiry physically reclaims the old files."""
        from data_etl_pipeline_spark.sources.iceberg import (
            compact_iceberg,
            expire_snapshots_iceberg,
        )

        d = self._mk(spark, tmp_path)
        t = IcebergTable(spark, d)
        old_files = {f["path"] for f in t.data_files(snapshot_id=3)}
        sid = compact_iceberg(spark, d)
        assert sid == 4
        # pre-expiry: both old and new snapshots readable (time travel)
        t4 = IcebergTable(spark, d)
        assert t4.read(snapshot_id=3).count() == 90
        assert t4.read(snapshot_id=4).count() == 90
        assert len(t4.data_files(snapshot_id=4)) == 1
        # the tail refuses a range crossing the replace snapshot
        with pytest.raises(IcebergError, match="'replace' snapshot"):
            t4.added_files(2)

        res = expire_snapshots_iceberg(d, keep_last=1)
        assert res["expired_snapshots"] == [1, 2, 3]
        assert res["files_removed"] == len(old_files) == 6
        assert res["manifests_removed"] > 0
        t2 = IcebergTable(spark, d)
        assert t2.read().count() == 90
        assert all(not os.path.exists(p) for p in old_files)

    def test_compact_materializes_position_deletes(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import (
            compact_iceberg,
            delete_rows_iceberg,
            expire_snapshots_iceberg,
        )

        src = spark.range(0, 50).selectExpr("id AS k")
        d = str(tmp_path / "t")
        export_iceberg(src, d, n_files=2, range_by="k")
        delete_rows_iceberg(spark, d, "k % 5 = 0")
        sid = compact_iceberg(spark, d)
        t = IcebergTable(spark, d)
        assert t.read(snapshot_id=sid).count() == 40
        # compaction materialized the deletes: no delete files remain
        assert t.delete_files(sid) == []
        res = expire_snapshots_iceberg(d, keep_last=1)
        # 2 data files + 1 position-delete file reclaimed
        assert res["files_removed"] == 3
        assert IcebergTable(spark, d).read().where("k % 5 = 0").count() == 0

    def test_compact_partitioned_table(self, spark, tmp_path):
        """Partitioned compaction rewrites one file per live partition
        tuple, materializing deletes, and keeps the spec + pruning."""
        from data_etl_pipeline_spark.sources.iceberg import (
            compact_iceberg,
            delete_rows_iceberg,
            expire_snapshots_iceberg,
        )

        src = spark.range(0, 40).selectExpr(
            "id AS k", "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g"
        )
        d = str(tmp_path / "t")
        export_iceberg(src.where("k < 20"), d, partition_by="g")
        append_iceberg(src.where("k >= 20"), d)
        delete_rows_iceberg(spark, d, "k < 4")
        sid = compact_iceberg(spark, d)
        t = IcebergTable(spark, d)
        files = t.data_files(sid)
        assert len(files) == 2  # one per live tier
        assert {f["partition"]["g"] for f in files} == {"a", "b"}
        assert t.read(snapshot_id=sid).count() == 36
        assert t.delete_files(sid) == []
        sel, total = t.plan_files_by_partition("g", {"a"})
        assert (len(sel), total) == (1, 2)
        res = expire_snapshots_iceberg(d, keep_last=1)
        # 2 snapshots x 2 partition files + 1 delete file reclaimed
        assert res["files_removed"] == 5
        assert IcebergTable(spark, d).read().count() == 36

    def test_expire_refuses_zero_keep(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import expire_snapshots_iceberg

        d = self._mk(spark, tmp_path)
        with pytest.raises(IcebergError, match="keep_last"):
            expire_snapshots_iceberg(d, keep_last=0)

    def test_expire_noop_when_nothing_to_expire(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import expire_snapshots_iceberg

        d = self._mk(spark, tmp_path)
        res = expire_snapshots_iceberg(d, keep_last=5)
        assert res == {
            "expired_snapshots": [],
            "files_removed": 0,
            "manifests_removed": 0,
        }


class TestEqualityDeletes:
    @pytest.fixture(scope="class")
    def etable(self, spark, tmp_path_factory):
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        src = spark.range(0, 100).selectExpr("id AS k", "CAST(id * 3 AS DOUBLE) AS v")
        d = str(tmp_path_factory.mktemp("ice_eq")) + "/t"
        export_iceberg(src.where("k < 80"), d, n_files=3, range_by="k")
        delete_rows_iceberg(spark, d, "k % 10 = 4", equality_by=["k"])
        # re-append three previously-deleted keys AFTER the delete: the
        # spec's seq rule (data seq < delete seq) must let them survive
        append_iceberg(
            src.where("k IN (4, 14, 24)").selectExpr("k", "v * 10 AS v"), d
        )
        return d

    def test_equality_masking_and_upsert_survival(self, spark, etable):
        t = IcebergTable(spark, etable)
        back = t.read()
        # 80 - 8 deleted (4,14,...,74) + 3 re-appended = 75
        assert back.count() == 75
        # re-appended rows carry the NEW values (the old ones are masked)
        got = {r["k"]: r["v"] for r in back.where("k IN (4, 14, 24)").collect()}
        assert got == {4: 120.0, 14: 420.0, 24: 720.0}
        assert back.where("k = 34").count() == 0  # not re-appended: gone

    def test_time_travel_pre_delete(self, spark, etable):
        t = IcebergTable(spark, etable)
        assert t.read(snapshot_id=1).count() == 80

    def test_read_tags_sequence_numbers_from_a_local_relation(self, spark, etable):
        # the per-file sequence-number map is literal rows: no RDD scan, so
        # no Python worker runs when the merge-on-read executes
        plan = formatted_plan(IcebergTable(spark, etable).read(), "extended")
        assert "LocalRelation" in plan and "LocalTableScan" in plan, plan
        assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan

    def test_delete_files_carry_ids(self, spark, etable):
        t = IcebergTable(spark, etable)
        dels = t.delete_files()
        assert len(dels) == 1 and dels[0]["content"] == 2
        assert dels[0]["equality_ids"] == [1]  # field id of k
        assert dels[0]["record_count"] == 8

    def test_compact_materializes_equality_deletes(self, spark, etable):
        from data_etl_pipeline_spark.sources.iceberg import compact_iceberg

        import shutil

        d = etable + "_copy"
        shutil.copytree(etable, d)
        sid = compact_iceberg(spark, d)
        t = IcebergTable(spark, d)
        assert t.read(snapshot_id=sid).count() == 75
        assert t.delete_files(sid) == []

    def test_unknown_equality_column_refuses(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        src = spark.range(0, 10).selectExpr("id AS k")
        d = str(tmp_path / "t")
        export_iceberg(src, d)
        with pytest.raises(IcebergError, match="not in schema"):
            delete_rows_iceberg(spark, d, "k = 1", equality_by=["nope"])

    def test_null_keys_compare_equal(self, spark, tmp_path):
        """Spec: equality deletes match NULL keys null-safely."""
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        src = spark.range(0, 10).selectExpr(
            "id AS k", "CASE WHEN id >= 8 THEN NULL ELSE CAST(id AS STRING) END AS g"
        )
        d = str(tmp_path / "t")
        export_iceberg(src, d)
        delete_rows_iceberg(spark, d, "g IS NULL", equality_by=["g"])
        t = IcebergTable(spark, d)
        assert t.read().count() == 8
        assert t.read().where("g IS NULL").count() == 0


def test_hour_transform(spark, tmp_path):
    import datetime

    src = spark.range(0, 6).selectExpr(
        "id AS k",
        "timestamp_ntz '2024-03-01 00:30:00' + make_interval(0,0,0,0,CAST(id*2 AS INT),0,0) AS ts",
    )
    d = str(tmp_path / "t")
    export_iceberg(src, d, partition_by="ts", transform="hour")
    t = IcebergTable(spark, d)
    base = int(datetime.datetime(2024, 3, 1).timestamp() // 3600)  # UTC env
    vals = sorted({f["partition"]["ts_hour"] for f in t.data_files()})
    assert vals == [base + 2 * i for i in range(6)]
    # range pruning through the hour transform
    lo = datetime.datetime(2024, 3, 1, 3, 0)
    hi = datetime.datetime(2024, 3, 1, 7, 0)
    sel, total = t.plan_files_by_source_range("ts", lo, hi)
    assert total == 6 and {f["partition"]["ts_hour"] for f in sel} == {
        base + 4, base + 6
    }
    assert t.read(files=sel).count() == 2
    # hour on a DATE column refuses
    dsrc = spark.range(3).selectExpr("id AS k", "DATE '2024-01-01' AS dcol")
    with pytest.raises(IcebergError, match="hour transform needs"):
        export_iceberg(dsrc, str(tmp_path / "t2"), partition_by="dcol", transform="hour")


def test_bounds_field_ids_correct_after_nested_columns(spark, tmp_path):
    """A primitive column declared AFTER a nested column must record its
    bounds under its REAL field id (nested fields consume ids in
    between) — the round-12 positional-id regression: with 1..n ids, c2
    below would land under the struct member's id and c3 under c2's,
    silently corrupting pruning."""
    df = spark.range(0, 40).selectExpr(
        "named_struct('x', id) AS s",  # s=1, s.x=2
        "id AS c2",                    # real id 3
        "id * 10 AS c3",               # real id 4
    )
    d = str(tmp_path / "t")
    export_iceberg(df, d, n_files=2, range_by="c2")
    t = IcebergTable(spark, d)
    files = sorted(t.data_files(), key=lambda f: f["lower"]["c2"])
    # bounds decode under the right names with the right value scales
    assert files[0]["lower"]["c2"] == 0 and files[-1]["upper"]["c2"] == 39
    assert files[0]["lower"]["c3"] == 0 and files[-1]["upper"]["c3"] == 390
    # and pruning on the post-nested primitive selects correctly
    sel, total = t.plan_files("c3", 0, 50)
    assert 0 < len(sel) < total
    assert t.read(files=sel).where("c3 <= 50").count() == 6


# ---------------------------------------------------------------------------
# Schema evolution (round 12 wave 2): metadata-only commits, field-id
# column resolution across write schemas, time travel under the
# snapshot's own schema-id, deletes through the resolved view.
# ---------------------------------------------------------------------------
class TestSchemaEvolution:
    @pytest.fixture()
    def etable(self, spark, tmp_path):
        """Two snapshots straddling an evolution: snap1 written as
        (k, v:int, s), then v->val / +flag / -s, then snap written in
        the NEW shape — the reader must merge both by field id."""
        from data_etl_pipeline_spark.sources.iceberg import evolve_schema_iceberg

        d = str(tmp_path / "t")
        src = spark.range(0, 50).selectExpr(
            "id AS k", "CAST(id * 2 AS INT) AS v", "CONCAT('s', id) AS s"
        )
        export_iceberg(src.where("k < 20"), d, n_files=2, range_by="k")
        evolve_schema_iceberg(
            d, renames={"v": "val"}, adds=[("flag", "string")], drops=["s"]
        )
        batch2 = spark.range(20, 50).selectExpr(
            "id AS k",
            "CAST(id * 2 AS INT) AS val",
            "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS flag",
        )
        append_iceberg(batch2, d, n_files=2, range_by="k")
        return d

    def test_read_merges_write_schemas_by_field_id(self, spark, etable):
        out = IcebergTable(spark, etable).read()
        assert out.columns == ["k", "val", "flag"]
        r = out.agg(
            {"*": "count", "val": "sum", "flag": "count", "k": "max"}
        ).collect()[0]
        assert r["count(1)"] == 50
        assert r["sum(val)"] == sum(i * 2 for i in range(50))
        assert r["count(flag)"] == 30  # pre-evolution rows read NULL
        assert r["max(k)"] == 49

    def test_old_files_keep_physical_names(self, spark, etable):
        old = sorted(f["path"] for f in IcebergTable(spark, etable).data_files(snapshot_id=1))
        assert old and spark.read.parquet(old[0]).columns == ["k", "v", "s"]

    def test_new_files_embed_parquet_field_ids(self, spark, etable):
        import pyarrow.parquet as pq

        t = IcebergTable(spark, etable)
        old = {f["path"] for f in t.data_files(snapshot_id=1)}
        new = sorted(f["path"] for f in t.data_files(snapshot_id=2) if f["path"] not in old)
        sch = pq.ParquetFile(new[0]).schema_arrow
        ids = {f.name: f.metadata.get(b"PARQUET:field_id") for f in sch}
        # val keeps id 2 (rename preserves identity); flag got a fresh id
        assert ids == {"k": b"1", "val": b"2", "flag": b"4"}

    def test_bounds_prune_under_renamed_name(self, spark, etable):
        t = IcebergTable(spark, etable)
        sel, total = t.plan_files("val", 0, 10)
        assert 0 < len(sel) < total
        assert t.read(files=sel).where("val <= 10").count() == 6

    def test_time_travel_reads_old_shape(self, spark, etable):
        t = IcebergTable(spark, etable)
        old = t.read(snapshot_id=1)
        assert old.columns == ["k", "v", "s"]
        assert old.count() == 20

    def test_positional_delete_through_resolved_view(self, spark, etable):
        """The predicate names the CURRENT column; matching rows live in
        files written under the OLD name."""
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        delete_rows_iceberg(spark, etable, "val < 10 OR val >= 90")
        out = IcebergTable(spark, etable).read()
        assert out.count() == 40
        assert out.where("val < 10 OR val >= 90").count() == 0

    def test_equality_delete_keyed_by_renamed_column(self, spark, etable):
        from data_etl_pipeline_spark.sources.iceberg import delete_rows_iceberg

        delete_rows_iceberg(spark, etable, "k IN (3, 33)", equality_by=["val"])
        out = IcebergTable(spark, etable).read()
        assert out.where("k IN (3, 33)").count() == 0
        assert out.count() == 48

    def test_compact_materializes_current_shape(self, spark, etable):
        from data_etl_pipeline_spark.sources.iceberg import compact_iceberg

        compact_iceberg(spark, etable, n_files=1)
        t = IcebergTable(spark, etable)
        files = t.data_files()
        assert len(files) == 1
        out = t.read()
        assert out.columns == ["k", "val", "flag"]
        assert out.count() == 50

    def test_int_to_long_promotion(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import evolve_schema_iceberg

        d = str(tmp_path / "t")
        src = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS INT) AS v")
        export_iceberg(src, d)
        meta_path = os.path.join(d, "metadata", "v1.metadata.json")
        meta = json.load(open(meta_path))
        # promote v int->long by rewriting the current schema via evolve:
        # rename is identity; the promotion path is exercised by editing
        # the evolved schema's type (the public API evolves names/adds;
        # promotions arrive from foreign writers)
        evolve_schema_iceberg(d, adds=[("w", "long")])
        meta2_path = os.path.join(d, "metadata", "v2.metadata.json")
        meta2 = json.load(open(meta2_path))
        for f in meta2["schemas"][-1]["fields"]:
            if f["name"] == "v":
                f["type"] = "long"
        json.dump(meta2, open(meta2_path, "w"))
        out = IcebergTable(spark, d).read()
        assert dict(out.dtypes)["v"] == "bigint"
        assert out.agg({"v": "sum"}).collect()[0][0] == 45

    def test_illegal_type_change_refuses(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import evolve_schema_iceberg

        d = str(tmp_path / "t")
        src = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS INT) AS v")
        export_iceberg(src, d)
        evolve_schema_iceberg(d, adds=[("w", "long")])
        meta2_path = os.path.join(d, "metadata", "v2.metadata.json")
        meta2 = json.load(open(meta2_path))
        for f in meta2["schemas"][-1]["fields"]:
            if f["name"] == "v":
                f["type"] = "string"
        json.dump(meta2, open(meta2_path, "w"))
        with pytest.raises(IcebergError, match="only int->long and float->double"):
            IcebergTable(spark, d).read().collect()

    def test_evolution_refusals(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import evolve_schema_iceberg

        d = str(tmp_path / "t")
        src = spark.range(0, 10).selectExpr("id AS k", "id AS v", "'x' AS s")
        export_iceberg(src, d, partition_by="k")
        with pytest.raises(IcebergError, match="no changes"):
            evolve_schema_iceberg(d)
        with pytest.raises(IcebergError, match="unknown column"):
            evolve_schema_iceberg(d, drops=["nope"])
        with pytest.raises(IcebergError, match="partition-spec source"):
            evolve_schema_iceberg(d, drops=["k"])
        with pytest.raises(IcebergError, match="duplicate columns"):
            evolve_schema_iceberg(d, renames={"v": "s"})
        with pytest.raises(IcebergError, match="both renamed and dropped"):
            evolve_schema_iceberg(d, renames={"v": "w"}, drops=["v"])
        with pytest.raises(IcebergError, match="unsupported type"):
            evolve_schema_iceberg(d, adds=[("z", "uuid")])

    def test_tail_refuses_across_evolution(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import evolve_schema_iceberg

        d = str(tmp_path / "t")
        src = spark.range(0, 30).selectExpr("id AS k", "id AS v")
        s1 = export_iceberg(src.where("k < 10"), d)
        s2 = append_iceberg(
            src.where("k >= 10 AND k < 20"), d
        )  # still the old schema
        evolve_schema_iceberg(d, renames={"v": "val"})
        append_iceberg(
            spark.range(20, 30).selectExpr("id AS k", "id AS val"), d
        )
        t = IcebergTable(spark, d)
        # the range (s1, current] includes s2, written under the old
        # schema-id — re-anchoring is the caller's move
        with pytest.raises(IcebergError, match="crossing a schema"):
            t.read_tail(after_snapshot_id=s1)
        # a range entirely past the evolution reads fine, new names
        tail = t.read_tail(after_snapshot_id=s2)
        assert tail.count() == 10 and "val" in tail.columns


# ---------------------------------------------------------------------------
# Delta -> Iceberg zero-copy conversion (round 12 wave 2).
# ---------------------------------------------------------------------------
class TestDeltaToIcebergConversion:
    def test_zero_copy_references_live_files(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta
        from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
        from data_etl_pipeline_spark.sources.iceberg import convert_delta_to_iceberg

        dd = str(tmp_path / "delta")
        src = spark.range(0, 60).selectExpr("id AS k", "id * 3 AS v")
        export_delta(src.repartitionByRange(4, "k"), dd)
        ice = str(tmp_path / "ice")
        convert_delta_to_iceberg(spark, dd, ice)

        t = IcebergTable(spark, ice)
        got = {os.path.abspath(f["path"]) for f in t.data_files()}
        live = {
            os.path.abspath(os.path.join(dd, p))
            for p in DeltaLogReader(spark, dd).live_files()
        }
        assert got == live  # same bytes serve both tables
        out = t.read()
        assert out.count() == 60
        assert out.agg({"v": "sum"}).collect()[0][0] == sum(i * 3 for i in range(60))
        # footer bounds were harvested: range pruning works
        sel, total = t.plan_files("k", 0, 10)
        assert 0 < len(sel) < total

    def test_refuses_partitioned_dv_mapped_and_nonempty(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta
        from data_etl_pipeline_spark.sources.iceberg import convert_delta_to_iceberg

        src = spark.range(0, 10).selectExpr("id AS k", "id % 2 AS p")
        dd_part = str(tmp_path / "dp")
        export_delta(src, dd_part, partition_by=["p"])
        with pytest.raises(IcebergError, match="partitioned Delta"):
            convert_delta_to_iceberg(spark, dd_part, str(tmp_path / "i1"))

        dd = str(tmp_path / "d")
        export_delta(src, dd)
        ice = str(tmp_path / "i2")
        convert_delta_to_iceberg(spark, dd, ice)
        with pytest.raises(IcebergError, match="already holds"):
            convert_delta_to_iceberg(spark, dd, ice)

    def test_refuses_column_mapping(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import export_delta
        from data_etl_pipeline_spark.sources.iceberg import convert_delta_to_iceberg

        dd = str(tmp_path / "d")
        export_delta(spark.range(5).selectExpr("id AS k"), dd)
        log = os.path.join(dd, "_delta_log", "00000000000000000000.json")
        lines = open(log).read().splitlines()
        out = []
        for ln in lines:
            act = json.loads(ln)
            if "metaData" in act:
                act["metaData"].setdefault("configuration", {})[
                    "delta.columnMapping.mode"
                ] = "name"
            out.append(json.dumps(act))
        open(log, "w").write("\n".join(out) + "\n")
        with pytest.raises(IcebergError, match="column mapping"):
            convert_delta_to_iceberg(spark, dd, str(tmp_path / "i"))

    def test_expire_never_reclaims_the_delta_tables_files(self, spark, tmp_path):
        """The converted table references the Delta table's files by
        absolute path; once compaction leaves them unreferenced, expiry
        must still leave them to the Delta table that owns them."""
        from data_etl_pipeline_spark.sources.delta_export import export_delta
        from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
        from data_etl_pipeline_spark.sources.iceberg import (
            compact_iceberg,
            convert_delta_to_iceberg,
            expire_snapshots_iceberg,
        )

        dd = str(tmp_path / "delta")
        src = spark.range(0, 60).selectExpr("id AS k", "id * 3 AS v")
        export_delta(src.repartitionByRange(3, "k"), dd)
        delta_files = [
            os.path.join(dd, p) for p in DeltaLogReader(spark, dd).live_files()
        ]
        assert len(delta_files) == 3
        ice = str(tmp_path / "ice")
        convert_delta_to_iceberg(spark, dd, ice)
        sid = compact_iceberg(spark, ice)
        compacted = [f["path"] for f in IcebergTable(spark, ice).data_files(sid)]

        expire_snapshots_iceberg(ice, keep_last=1)
        assert all(os.path.exists(p) for p in delta_files)
        assert sorted(r["k"] for r in DeltaLogReader(spark, dd).read().collect()) == list(range(60))
        assert all(os.path.exists(p) for p in compacted)
        assert IcebergTable(spark, ice).read().count() == 60


class TestPartitionSpecEvolution:
    """evolve_partition_spec_iceberg: metadata-only re-layout; files keep
    their original spec's tuples and prune through their OWN spec."""

    @pytest.fixture(scope="class")
    def etable(self, spark, tmp_path_factory):
        import datetime

        rows = [
            (i, "AB"[i % 2], datetime.date(1994 + (i % 4), 3, 1 + i % 20))
            for i in range(80)
        ]
        src = spark.createDataFrame(rows, "k long, status string, d date")
        d = str(tmp_path_factory.mktemp("ice_specevo")) + "/t"
        export_iceberg(src.where("k < 40"), d, partition_by="status")
        sid = evolve_partition_spec_iceberg(d, "d", "year")
        assert sid == 1
        append_iceberg(src.where("k >= 40"), d)
        return d

    def test_appends_write_under_new_spec(self, spark, etable):
        t = IcebergTable(spark, etable)
        by_spec = {}
        for f in t.data_files():
            by_spec.setdefault(f["spec_id"], []).append(f)
        assert set(by_spec) == {0, 1}
        assert all("status" in f["partition"] for f in by_spec[0])
        assert all("d_year" in f["partition"] for f in by_spec[1])

    def test_full_read_crosses_specs(self, spark, etable):
        t = IcebergTable(spark, etable)
        assert t.read().count() == 80

    def test_point_prune_uses_per_file_spec(self, spark, etable):
        t = IcebergTable(spark, etable)
        sel, total = t.plan_files_by_source_values("status", {"A"})
        old = [f for f in sel if f["spec_id"] == 0]
        new = [f for f in sel if f["spec_id"] == 1]
        # old files prune to the A partition; new files are unknowable -> kept
        assert all(f["partition"]["status"] == "A" for f in old)
        assert len(new) == len([f for f in t.data_files() if f["spec_id"] == 1])
        assert len(sel) < total

    def test_range_prune_uses_per_file_spec(self, spark, etable):
        import datetime

        t = IcebergTable(spark, etable)
        lo, hi = datetime.date(1994, 1, 1), datetime.date(1995, 12, 31)
        sel, total = t.plan_files_by_source_range("d", lo, hi)
        old = [f for f in sel if f["spec_id"] == 0]
        new = [f for f in sel if f["spec_id"] == 1]
        assert len(old) == len([f for f in t.data_files() if f["spec_id"] == 0])
        assert all(f["partition"]["d_year"] in (24, 25) for f in new)
        assert len(sel) < total

    def test_pruned_scan_is_exact(self, spark, etable):
        import datetime

        t = IcebergTable(spark, etable)
        lo, hi = datetime.date(1994, 1, 1), datetime.date(1995, 12, 31)
        sel, _ = t.plan_files_by_source_range("d", lo, hi)
        got = (
            t.read(files=sel)
            .where((F.col("d") >= F.lit(lo)) & (F.col("d") <= F.lit(hi)))
            .count()
        )
        assert got == sum(1 for i in range(80) if 1994 + (i % 4) <= 1995)

    def test_unpartition_evolution(self, spark, etable):
        sid = evolve_partition_spec_iceberg(etable, None)
        try:
            append_iceberg(
                spark.createDataFrame(
                    [(1000, "Z", None)], "k long, status string, d date"
                ),
                etable,
            )
            t = IcebergTable(spark, etable)
            assert t.read().count() == 81
            flat = [f for f in t.data_files() if f["spec_id"] == sid]
            assert flat and all(f["partition"] == {} for f in flat)
            # pruning keeps the unpartitioned file on both axes
            sel, _ = t.plan_files_by_source_values("status", {"A"})
            assert any(f["spec_id"] == sid for f in sel)
        finally:
            # restore the year spec for sibling tests (spec reused, not dup'd)
            n_specs = len(
                IcebergTable(spark, etable).meta["partition-specs"]
            )
            back = evolve_partition_spec_iceberg(etable, "d", "year")
            assert back == 1  # reused existing spec id
            assert (
                len(IcebergTable(spark, etable).meta["partition-specs"])
                == n_specs
            )

    def test_no_change_refuses(self, spark, etable):
        with pytest.raises(IcebergError, match="no change"):
            evolve_partition_spec_iceberg(etable, "d", "year")

    def test_unknown_column_refuses(self, spark, etable):
        with pytest.raises(IcebergError, match="not in the current schema"):
            evolve_partition_spec_iceberg(etable, "nope")

    def test_time_travel_prunes_under_old_default(self, spark, etable):
        # snapshot 1 predates the evolution: all its files are spec 0
        t = IcebergTable(spark, etable)
        assert all(f["spec_id"] == 0 for f in t.data_files(snapshot_id=1))


class TestRefsAndWap:
    """Tags, branches, and write-audit-publish (tag_iceberg,
    append_iceberg(branch=...), fast_forward_iceberg)."""

    @pytest.fixture()
    def table(self, spark, tmp_path):
        d = str(tmp_path / "t")
        src = spark.range(0, 30).selectExpr("id AS k", "id * 2 AS v")
        export_iceberg(src.where("k < 10"), d)
        return d

    def test_wap_lifecycle(self, spark, table):
        from data_etl_pipeline_spark.sources.iceberg import (
            fast_forward_iceberg,
        )

        src = spark.range(0, 30).selectExpr("id AS k", "id * 2 AS v")
        # WRITE to a staging branch: main must not see it
        s2 = append_iceberg(src.where("k >= 10 AND k < 20"), table, branch="audit")
        t = IcebergTable(spark, table)
        assert t.read().count() == 10          # main unchanged
        assert t.read(ref="audit").count() == 20  # branch sees both
        assert t.read(ref="main").count() == 10
        # AUDIT passed -> PUBLISH: fast-forward main to the branch head
        assert fast_forward_iceberg(table, "audit") == s2
        t = IcebergTable(spark, table)
        assert t.read().count() == 20
        # a second publish with nothing staged refuses
        with pytest.raises(IcebergError, match="already at main"):
            fast_forward_iceberg(table, "audit")

    def test_branch_extends_across_commits(self, spark, table):
        src = spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v")
        append_iceberg(src.where("k >= 10 AND k < 20"), table, branch="b")
        append_iceberg(src.where("k >= 20 AND k < 30"), table, branch="b")
        t = IcebergTable(spark, table)
        assert t.read(ref="b").count() == 30
        assert t.read().count() == 10

    def test_diverged_branch_refuses_publish(self, spark, table):
        from data_etl_pipeline_spark.sources.iceberg import (
            fast_forward_iceberg,
        )

        src = spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v")
        append_iceberg(src.where("k >= 10 AND k < 20"), table, branch="b")
        append_iceberg(src.where("k >= 20 AND k < 30"), table)  # main moves
        with pytest.raises(IcebergError, match="not a fast-forward"):
            fast_forward_iceberg(table, "b")

    def test_tail_skips_unpublished_branch(self, spark, table):
        src = spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v")
        append_iceberg(src.where("k >= 10 AND k < 20"), table, branch="b")
        s3 = append_iceberg(src.where("k >= 20 AND k < 30"), table)
        t = IcebergTable(spark, table)
        pairs = t.added_files(1)
        assert {sid for sid, _ in pairs} == {s3}
        assert t.read_tail(1).count() == 10

    def test_tag_pins_through_expiry(self, spark, table):
        from data_etl_pipeline_spark.sources.iceberg import (
            expire_snapshots_iceberg,
            tag_iceberg,
        )

        src = spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v")
        tag_iceberg(table, "v1")  # pin snapshot 1
        append_iceberg(src.where("k >= 10 AND k < 20"), table)
        append_iceberg(src.where("k >= 20 AND k < 30"), table)
        res = expire_snapshots_iceberg(table, keep_last=1)
        # snapshot 2 expired; snapshot 1 survives via the tag
        assert res["expired_snapshots"] == [2]
        t = IcebergTable(spark, table)
        assert t.read(ref="v1").count() == 10
        assert t.read().count() == 30
        with pytest.raises(IcebergError, match="not in table"):
            t.read(snapshot_id=2)

    def test_tag_refusals(self, spark, table):
        from data_etl_pipeline_spark.sources.iceberg import (
            drop_ref_iceberg,
            tag_iceberg,
        )

        tag_iceberg(table, "v1")
        with pytest.raises(IcebergError, match="already exists"):
            tag_iceberg(table, "v1")
        with pytest.raises(IcebergError, match="main"):
            tag_iceberg(table, "main")
        with pytest.raises(IcebergError, match="cannot tag"):
            tag_iceberg(table, "v2", snapshot_id=99)
        with pytest.raises(IcebergError, match="immutable"):
            append_iceberg(
                IcebergTable(spark, table).read().limit(1), "" + table, branch="v1"
            )
        drop_ref_iceberg(table, "v1")
        with pytest.raises(IcebergError, match="does not exist"):
            drop_ref_iceberg(table, "v1")
        with pytest.raises(IcebergError, match="no ref"):
            IcebergTable(spark, table).read(ref="v1")


class TestIcebergToDelta:
    """convert_iceberg_to_delta: zero-copy reverse migration."""

    def test_roundtrip_references_live_files(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            convert_iceberg_to_delta,
        )
        from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

        ice = str(tmp_path / "ice")
        src = spark.range(0, 100).selectExpr("id AS k", "id * 1.5 AS v")
        export_iceberg(src.where("k < 60"), ice, n_files=3, range_by="k")
        append_iceberg(src.where("k >= 60"), ice, n_files=2, range_by="k")

        delta = str(tmp_path / "delta")
        res = convert_iceberg_to_delta(spark, ice, delta)
        assert res["n_files"] == 5
        # no parquet was copied into the delta dir
        assert not any(
            f.endswith(".parquet") for f in os.listdir(delta)
        )
        got = DeltaLogReader(spark, delta).read()
        assert got.count() == 100
        assert got.exceptAll(src).count() == 0

    def test_partitioned_table_converts(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            convert_iceberg_to_delta,
        )
        from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

        ice = str(tmp_path / "ice")
        src = spark.range(0, 50).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS s")
        export_iceberg(src, ice, partition_by="s")
        delta = str(tmp_path / "delta")
        convert_iceberg_to_delta(spark, ice, delta)
        got = DeltaLogReader(spark, delta).read()
        # the partition source column lives IN the files (Iceberg spec)
        assert got.columns == ["k", "s"]
        assert got.exceptAll(src).count() == 0

    def test_refuses_deletes_and_evolved_schemas(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            DeltaExportError,
            convert_iceberg_to_delta,
        )
        from data_etl_pipeline_spark.sources.iceberg import (
            compact_iceberg,
            delete_rows_iceberg,
            evolve_schema_iceberg,
        )
        from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

        ice = str(tmp_path / "ice")
        src = spark.range(0, 40).selectExpr("id AS k", "id * 2 AS v")
        export_iceberg(src, ice, n_files=2, range_by="k")
        delete_rows_iceberg(spark, ice, "k >= 30")
        with pytest.raises(DeltaExportError, match="delete files"):
            convert_iceberg_to_delta(spark, ice, str(tmp_path / "d1"))
        compact_iceberg(spark, ice)  # materializes the deletes
        evolve_schema_iceberg(ice, renames={"v": "w"})
        with pytest.raises(DeltaExportError, match="evolved schemas"):
            convert_iceberg_to_delta(spark, ice, str(tmp_path / "d2"))

    def test_refuses_existing_delta_log(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            DeltaExportError,
            convert_iceberg_to_delta,
        )

        ice = str(tmp_path / "ice")
        export_iceberg(spark.range(0, 5).selectExpr("id AS k"), ice)
        delta = str(tmp_path / "delta")
        os.makedirs(os.path.join(delta, "_delta_log"))
        with pytest.raises(DeltaExportError, match="already has"):
            convert_iceberg_to_delta(spark, ice, delta)

    def test_converted_table_refuses_appends(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.delta_export import (
            DeltaExportError,
            convert_iceberg_to_delta,
            export_delta_append,
        )

        ice = str(tmp_path / "ice")
        df = spark.range(0, 5).selectExpr("id AS k")
        export_iceberg(df, ice)
        delta = str(tmp_path / "delta")
        convert_iceberg_to_delta(spark, ice, delta)
        with pytest.raises(DeltaExportError):
            export_delta_append(df, delta)


class TestExactlyOnceSink:
    """append_iceberg_exactly_once: epoch-deduped idempotent appends."""

    def test_replayed_epoch_skipped(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import (
            append_iceberg_exactly_once,
        )

        d = str(tmp_path / "t")
        src = spark.range(0, 30).selectExpr("id AS k")
        export_iceberg(src.where("k < 10"), d)
        s = append_iceberg_exactly_once(src.where("k >= 10 AND k < 20"), d, "app", 1)
        assert s is not None
        # redelivery of epoch 1 must be a no-op
        assert append_iceberg_exactly_once(src.where("k >= 10 AND k < 20"), d, "app", 1) is None
        assert append_iceberg_exactly_once(src.where("k >= 20"), d, "app", 2) is not None
        assert append_iceberg_exactly_once(src.where("k >= 20"), d, "app", 2) is None
        assert IcebergTable(spark, d).read().count() == 30

    def test_apps_deduplicate_independently(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import (
            append_iceberg_exactly_once,
        )

        d = str(tmp_path / "t")
        src = spark.range(0, 30).selectExpr("id AS k")
        export_iceberg(src.where("k < 10"), d)
        assert append_iceberg_exactly_once(src.where("k >= 10 AND k < 20"), d, "a", 5) is not None
        # a different app's epoch counter is its own
        assert append_iceberg_exactly_once(src.where("k >= 20"), d, "b", 1) is not None
        assert IcebergTable(spark, d).read().count() == 30


class TestRewriteManifests:
    """rewrite_manifests_iceberg: metadata-level small-files compaction."""

    @pytest.fixture()
    def many_commits(self, spark, tmp_path):
        d = str(tmp_path / "t")
        src = spark.range(0, 50).selectExpr("id AS k", "id * 2 AS v")
        export_iceberg(src.where("k < 10"), d)
        for lo in (10, 20, 30, 40):
            append_iceberg(src.where(f"k >= {lo} AND k < {lo + 10}"), d)
        return d

    def test_merges_to_one_manifest_same_content(self, spark, many_commits):
        from data_etl_pipeline_spark.sources.iceberg import (
            rewrite_manifests_iceberg,
        )

        d = many_commits
        before = IcebergTable(spark, d).read()
        res = rewrite_manifests_iceberg(d)
        assert res["manifests_before"] == 5 and res["manifests_after"] == 1
        t = IcebergTable(spark, d)
        after = t.read()
        assert after.exceptAll(before).count() == 0
        assert after.count() == 50
        # a second rewrite is a no-op
        res2 = rewrite_manifests_iceberg(d)
        assert res2["snapshot_id"] is None

    def test_preserves_seqs_for_equality_deletes(self, spark, many_commits):
        from data_etl_pipeline_spark.sources.iceberg import (
            delete_rows_iceberg,
            rewrite_manifests_iceberg,
        )

        d = many_commits
        # delete keys, re-append them (upsert), THEN rewrite manifests:
        # the seq-aware masking must still see the re-appended rows
        delete_rows_iceberg(spark, d, "k < 5", equality_by=["k"])
        src = spark.range(0, 5).selectExpr("id AS k", "id * 100 AS v")
        append_iceberg(src, d)
        before = IcebergTable(spark, d).read()
        res = rewrite_manifests_iceberg(d)
        assert res["snapshot_id"] is not None
        after = IcebergTable(spark, d).read()
        assert after.exceptAll(before).count() == 0
        assert after.where("k < 5").agg(F.min("v")).collect()[0][0] == 0

    def test_tail_skips_rewrite_snapshot(self, spark, many_commits):
        from data_etl_pipeline_spark.sources.iceberg import (
            rewrite_manifests_iceberg,
        )

        d = many_commits
        rewrite_manifests_iceberg(d)
        src = spark.range(50, 60).selectExpr("id AS k", "id * 2 AS v")
        append_iceberg(src, d)
        t = IcebergTable(spark, d)
        # tail across the rewrite: only real appends surface
        tail = t.read_tail(1)
        assert tail.count() == 50  # snapshots 2..5 (40 rows) + the new 10
        assert tail.where("k >= 50").count() == 10

    def test_time_travel_to_pre_rewrite_unaffected(self, spark, many_commits):
        from data_etl_pipeline_spark.sources.iceberg import (
            rewrite_manifests_iceberg,
        )

        d = many_commits
        rewrite_manifests_iceberg(d)
        t = IcebergTable(spark, d)
        assert t.read(snapshot_id=2).count() == 20

    def test_partitioned_multi_spec_rewrite(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import (
            rewrite_manifests_iceberg,
        )

        d = str(tmp_path / "t")
        src = spark.range(0, 60).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS s")
        export_iceberg(src.where("k < 20"), d, partition_by="s")
        append_iceberg(src.where("k >= 20 AND k < 40"), d)
        evolve_partition_spec_iceberg(d, None)  # unpartition
        append_iceberg(src.where("k >= 40"), d)
        res = rewrite_manifests_iceberg(d)
        # one manifest per spec group
        assert res["manifests_before"] == 3 and res["manifests_after"] == 2
        t = IcebergTable(spark, d)
        assert t.read().count() == 60
        sel, total = t.plan_files_by_source_values("s", {"0"})
        assert 0 < len(sel) < total  # old-spec pruning still works


def test_metadata_tables(spark, tmp_path):
    """files_df / partitions_df: manifest-derived inspection tables."""
    d = str(tmp_path / "t")
    src = spark.range(0, 60).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS s")
    export_iceberg(src.where("k < 30"), d, partition_by="s")
    append_iceberg(src.where("k >= 30"), d)
    t = IcebergTable(spark, d)
    parts = {(r.spec_id, r.field, r.value): (r.n_rows, r.n_files)
             for r in t.partitions_df().collect()}
    # 3 partition values, 2 commits each -> 20 rows / 2 files per value
    assert parts == {(0, "s", str(v)): (20, 2) for v in range(3)}
    files = t.files_df().collect()
    assert len(files) == 6
    assert all(f.record_count == 10 and f.partition.startswith("s=") for f in files)
    # unpartitioned table rolls up under field ''
    d2 = str(tmp_path / "t2")
    export_iceberg(src, d2, n_files=2, range_by="k")
    p2 = IcebergTable(spark, d2).partitions_df().collect()
    assert len(p2) == 1 and p2[0].field == "" and p2[0].n_rows == 60 and p2[0].n_files == 2


def test_snapshot_as_of_timestamp(spark, tmp_path):
    """Timestamp time travel over the snapshot-log (main-only)."""
    d = str(tmp_path / "t")
    src = spark.range(0, 30).selectExpr("id AS k")
    export_iceberg(src.where("k < 10"), d)
    t1 = IcebergTable(spark, d)
    ts_after_1 = t1.meta["snapshot-log"][-1]["timestamp-ms"]
    import time as _time

    _time.sleep(0.01)
    append_iceberg(src.where("k >= 10 AND k < 20"), d)
    append_iceberg(src.where("k >= 20"), d, branch="staging")  # not in the log
    t = IcebergTable(spark, d)
    sid = t.snapshot_id_as_of(ts_after_1)
    assert sid == 1
    assert t.read(snapshot_id=sid).count() == 10
    # now() resolves to the latest PUBLISHED state (the branch is invisible)
    now_sid = t.snapshot_id_as_of(t.meta["snapshot-log"][-1]["timestamp-ms"])
    assert t.read(snapshot_id=now_sid).count() == 20
    with pytest.raises(IcebergError, match="no snapshot at or before"):
        t.snapshot_id_as_of(ts_after_1 - 10_000)


class TestRollback:
    """rollback_iceberg + ancestry-aware expiry (the recovery lifecycle)."""

    def test_rollback_then_fork(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import rollback_iceberg

        d = str(tmp_path / "t")
        src = spark.range(0, 40).selectExpr("id AS k")
        export_iceberg(src.where("k < 10"), d)                  # snap 1: good
        append_iceberg(src.where("k >= 10 AND k < 20"), d)      # snap 2: bad
        rollback_iceberg(d, 1)
        t = IcebergTable(spark, d)
        assert t.read().count() == 10
        assert t.read(snapshot_id=2).count() == 20  # still time-travelable
        s3 = append_iceberg(src.where("k >= 20 AND k < 30"), d)  # fork from 1
        t = IcebergTable(spark, d)
        assert t.read().count() == 20
        assert t.read().where("k >= 10 AND k < 20").count() == 0
        # the abandoned snapshot is not in the new tail
        assert {sid for sid, _ in t.added_files(1)} == {s3}

    def test_rollback_refusals(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import rollback_iceberg

        d = str(tmp_path / "t")
        src = spark.range(0, 30).selectExpr("id AS k")
        export_iceberg(src.where("k < 10"), d)
        append_iceberg(src.where("k >= 10 AND k < 20"), d, branch="b")
        with pytest.raises(IcebergError, match="nothing to roll back"):
            rollback_iceberg(d, 1)
        with pytest.raises(IcebergError, match="not an ancestor"):
            rollback_iceberg(d, 2)  # branch head, not main ancestry

    def test_expire_reclaims_abandoned_commit(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import (
            expire_snapshots_iceberg,
            rollback_iceberg,
        )

        d = str(tmp_path / "t")
        src = spark.range(0, 40).selectExpr("id AS k")
        export_iceberg(src.where("k < 10"), d)
        append_iceberg(src.where("k >= 10 AND k < 20"), d)  # snap 2: bad
        rollback_iceberg(d, 1)
        append_iceberg(src.where("k >= 20 AND k < 30"), d)  # snap 3: good
        res = expire_snapshots_iceberg(d, keep_last=2)
        # snap 2 left the main ancestry at rollback: reclaimed even
        # though it is among the newest by sequence number
        assert res["expired_snapshots"] == [2]
        assert res["files_removed"] >= 1
        t = IcebergTable(spark, d)
        assert t.read().count() == 20
        assert t.read(snapshot_id=1).count() == 10  # kept ancestor intact
        with pytest.raises(IcebergError, match="not in table"):
            t.read(snapshot_id=2)


# ---------------------------------------------------------------------------
# Declared read schemas: data and delete files are read under the schema
# the table metadata records, never under a Spark inference job.
# ---------------------------------------------------------------------------
def _unschemaed_parquet_reads(tree) -> list[int]:
    """Lines of ``<x>.read[...].parquet(...)`` calls with no ``.schema(``
    between ``read`` and ``parquet``."""
    import ast

    bad = []
    for n in ast.walk(tree):
        if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "parquet"):
            continue
        node, declared = n.func.value, False
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Call):
                declared |= isinstance(node.func, ast.Attribute) and node.func.attr == "schema"
                node = node.func
            elif node.attr == "read":
                if not declared:
                    bad.append(n.lineno)
                break
            else:
                node = node.value
    return bad


def test_table_formats_declare_their_parquet_read_schemas():
    # an undeclared read runs one schema-inference job per call
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "data_etl_pipeline_spark" / "sources"
    assert _unschemaed_parquet_reads(ast.parse("spark.read.parquet(p)")) == [1]
    assert _unschemaed_parquet_reads(ast.parse("spark.read.schema(s).parquet(p)")) == []
    stray = [
        f"{name}:{line}"
        for name in ("iceberg.py", "versioned.py")
        for line in _unschemaed_parquet_reads(ast.parse((pkg / name).read_text()))
    ]
    assert stray == []


def _iceberg_tables(spark, root) -> dict[str, str]:
    """One table of each shape, each with position and equality deletes
    where the format allows: nested types, an evolved schema, a table
    converted from Delta, and a partitioned table."""
    import datetime

    from data_etl_pipeline_spark.sources.delta_export import export_delta
    from data_etl_pipeline_spark.sources.iceberg import (
        convert_delta_to_iceberg,
        delete_rows_iceberg,
        evolve_schema_iceberg,
    )

    tables = {k: str(root / k) for k in ("nested", "evolved", "converted", "partitioned")}
    nested = spark.range(0, 20).selectExpr(
        "id AS k",
        "named_struct('a', id, 'b', named_struct('c', CAST(id AS DECIMAL(15,2)))) AS s",
        "array(named_struct('x', id)) AS arr",
        "map(CAST(id AS STRING), array(CAST(id AS FLOAT))) AS m",
        "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "CAST(TIMESTAMP '2024-01-01 00:00:00' AS TIMESTAMP_NTZ) AS ntz",
        "DATE '2024-01-01' AS d",
        "CAST(id AS DECIMAL(25,3)) AS dec",
        "id % 2 = 0 AS flag",
    )
    export_iceberg(nested, tables["nested"], n_files=2, range_by="k")

    src = spark.range(0, 50).selectExpr("id AS k", "CAST(id * 2 AS INT) AS v", "CONCAT('s', id) AS s")
    export_iceberg(src.where("k < 20"), tables["evolved"], n_files=2, range_by="k")
    evolve_schema_iceberg(tables["evolved"], renames={"v": "val"}, adds=[("flag", "string")], drops=["s"])
    append_iceberg(
        spark.range(20, 50).selectExpr("id AS k", "CAST(id * 2 AS INT) AS val", "'x' AS flag"),
        tables["evolved"],
    )

    export_delta(spark.range(0, 30).selectExpr("id AS k", "id * 3 AS v").repartitionByRange(3, "k"),
                 str(root / "delta"))
    convert_delta_to_iceberg(spark, str(root / "delta"), tables["converted"])

    rows = [(i, "AB"[i % 2], datetime.date(1994 + i % 4, 3, 1)) for i in range(40)]
    export_iceberg(spark.createDataFrame(rows, "k long, status string, d date"),
                   tables["partitioned"], partition_by="status")

    for name, d in tables.items():
        delete_rows_iceberg(spark, d, "k = 3")
        key = "val" if name == "evolved" else "k"
        delete_rows_iceberg(spark, d, "k IN (4, 7)", equality_by=[key])
    return tables


@pytest.fixture(scope="module")
def shaped_tables(spark, tmp_path_factory):
    return _iceberg_tables(spark, tmp_path_factory.mktemp("ice_shapes"))


@pytest.mark.parametrize("shape", ["nested", "evolved", "converted", "partitioned"])
def test_declared_schema_is_the_inferred_schema(spark, shaped_tables, shape):
    # names, types and nullability as Spark infers them from each file's
    # footer; field metadata (the top-level parquet.field.id a footer can
    # carry) is left out of the declared schema
    from pyspark.sql import types as T

    def bare(dt):
        if isinstance(dt, T.StructType):
            return T.StructType([T.StructField(f.name, bare(f.dataType), f.nullable) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(bare(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(bare(dt.keyType), bare(dt.valueType), dt.valueContainsNull)
        return dt

    t = IcebergTable(spark, shaped_tables[shape])
    data, deletes = t._manifest_entries()
    cur = t._current_schema()["fields"]
    assert data and {d["content"] for d in deletes} == {1, 2}
    for f in data + deletes:
        declared = IcebergTable._read_schema(f, cur)
        assert declared == bare(spark.read.parquet(f["path"]).schema), f["path"]
    assert t.read().count() == {"nested": 17, "evolved": 47, "converted": 27, "partitioned": 37}[shape]
