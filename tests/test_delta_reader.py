"""Delta log reader: protocol-correct replay of hand-written commits."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from data_etl_pipeline_spark.plans.planassert import formatted_plan
from data_etl_pipeline_spark.sources.delta_reader import (
    DeltaLogReader,
    DeltaProtocolError,
)
from data_etl_pipeline_spark.tables import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)


def _write_part(spark, tbl, name, rows):
    # one partition, so the write leaves exactly one part file to move
    df = local_frame(spark, rows, SCHEMA)
    tmp = os.path.join(tbl, "_tmp")
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), os.path.join(tbl, name))
    import shutil

    shutil.rmtree(tmp)


def _log(tbl, version, actions):
    os.makedirs(os.path.join(tbl, "_delta_log"), exist_ok=True)
    with open(os.path.join(tbl, "_delta_log", f"{version:020d}.json"), "w") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _meta(part_cols=()):
    return {
        "metaData": {
            "id": "test-table",
            "schemaString": SCHEMA.json() if not part_cols else _part_schema().json(),
            "partitionColumns": list(part_cols),
            "format": {"provider": "parquet"},
        }
    }


def _part_schema():
    return T.StructType(SCHEMA.fields + [T.StructField("day", T.StringType())])


def _add(path, pv=None):
    return {"add": {"path": path, "partitionValues": pv or {}, "size": 1, "dataChange": True}}


@pytest.fixture()
def delta_table(spark, tmp_path):
    tbl = str(tmp_path / "dl")
    os.makedirs(tbl)
    _write_part(spark, tbl, "f0.parquet", [(1, "a"), (2, "b")])
    _write_part(spark, tbl, "f1.parquet", [(3, "c")])
    _write_part(spark, tbl, "f2.parquet", [(3, "C2"), (4, "d")])
    _log(tbl, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), _add("f0.parquet"), _add("f1.parquet")])
    # v1: rewrite f1 -> f2 (an update commit)
    _log(tbl, 1, [{"remove": {"path": "f1.parquet", "dataChange": True}}, _add("f2.parquet")])
    return tbl


def test_snapshot_replay_and_time_travel(spark, delta_table):
    r = DeltaLogReader(spark, delta_table)
    assert r.versions() == [0, 1]
    v0 = {x.id: x.val for x in r.read(0).collect()}
    assert v0 == {1: "a", 2: "b", 3: "c"}
    latest = {x.id: x.val for x in r.read().collect()}
    assert latest == {1: "a", 2: "b", 3: "C2", 4: "d"}


def test_partition_values_reattach_as_columns(spark, tmp_path):
    tbl = str(tmp_path / "dlp")
    os.makedirs(tbl)
    _write_part(spark, tbl, "p0.parquet", [(1, "a")])
    _write_part(spark, tbl, "p1.parquet", [(2, "b")])
    _log(
        tbl,
        0,
        [
            _meta(part_cols=["day"]),
            _add("p0.parquet", {"day": "2024-01-01"}),
            _add("p1.parquet", {"day": "2024-01-02"}),
        ],
    )
    rows = {r.id: r.day for r in DeltaLogReader(spark, tbl).read().collect()}
    assert rows == {1: "2024-01-01", 2: "2024-01-02"}


def test_unsupported_protocol_features_fail_loudly(spark, tmp_path):
    tbl = str(tmp_path / "dldv")
    os.makedirs(tbl)
    _write_part(spark, tbl, "f.parquet", [(1, "a")])
    _log(
        tbl,
        0,
        [
            _meta(),
            {
                "add": {
                    "path": "f.parquet",
                    "partitionValues": {},
                    "dataChange": True,
                    "deletionVector": {"storageType": "z", "pathOrInlineDv": "x"},
                }
            },
        ],
    )
    with pytest.raises(DeltaProtocolError, match="deletion-vector storageType"):
        DeltaLogReader(spark, tbl).read()

    # malformed 'u' descriptor (too short to carry a Z85 UUID) -> refuse
    _log(
        tbl,
        1,
        [
            {
                "add": {
                    "path": "f.parquet",
                    "partitionValues": {},
                    "dataChange": True,
                    "deletionVector": {"storageType": "u", "pathOrInlineDv": "x"},
                }
            },
        ],
    )
    with pytest.raises(DeltaProtocolError, match="too short"):
        DeltaLogReader(spark, tbl).read()


def test_reader_protocol_v2_and_decodes_paths(spark, tmp_path):
    # minReaderVersion 2 with no actual column mapping reads fine now
    tbl = str(tmp_path / "dlv2")
    os.makedirs(tbl)
    _write_part(spark, tbl, "f.parquet", [(1, "a")])
    _log(tbl, 0, [{"protocol": {"minReaderVersion": 2}}, _meta(), _add("f.parquet")])
    assert [r.id for r in DeltaLogReader(spark, tbl).read().collect()] == [1]

    # unknown reader features still refuse
    tbl3 = str(tmp_path / "dlv3")
    os.makedirs(tbl3)
    _write_part(spark, tbl3, "f.parquet", [(1, "a")])
    _log(
        tbl3,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "readerFeatures": ["typeWidening", "v2Checkpoint"]}},
            _meta(),
            _add("f.parquet"),
        ],
    )
    with pytest.raises(DeltaProtocolError, match="minReaderVersion"):
        DeltaLogReader(spark, tbl3).read()

    # add.path is RFC 2396 percent-encoded: a file with a space must resolve
    tbl2 = str(tmp_path / "dlenc")
    os.makedirs(tbl2)
    _write_part(spark, tbl2, "part one.parquet", [(1, "a")])
    _log(tbl2, 0, [_meta(), _add("part%20one.parquet")])
    assert [r.id for r in DeltaLogReader(spark, tbl2).read().collect()] == [1]


def test_change_feed_hive_unescapes_remove_without_partition_values(spark, tmp_path):
    # a remove may omit partitionValues (the protocol allows it); the
    # reader then recovers them from the path, which is URI-encoded in the
    # log on top of the Hive escaping on disk: p='a:b' lives in p=a%3Ab/
    tbl = str(tmp_path / "dlhive")
    os.makedirs(os.path.join(tbl, "p=a%3Ab"))
    _write_part(spark, tbl, "p=a%3Ab/f0.parquet", [(1, "a"), (2, "b")])
    schema = T.StructType(SCHEMA.fields + [T.StructField("p", T.StringType())])
    meta = {
        "metaData": {
            "id": "test-table",
            "schemaString": schema.json(),
            "partitionColumns": ["p"],
            "format": {"provider": "parquet"},
        }
    }
    _log(tbl, 0, [meta, _add("p=a%253Ab/f0.parquet", {"p": "a:b"})])
    _log(tbl, 1, [{"remove": {"path": "p=a%253Ab/f0.parquet", "dataChange": True}}])
    rows = DeltaLogReader(spark, tbl).table_changes(1, 1).collect()
    assert sorted((r.id, r.p, r._change_type) for r in rows) == [
        (1, "a:b", "delete"),
        (2, "a:b", "delete"),
    ]


# ---------------------------------------------------------------------------
# Column mapping, mode 'name': data files and partitionValues carry
# PHYSICAL column names; logical names live only in the schemaString's
# field metadata. The shape every Delta table acquires after a column
# rename.
# ---------------------------------------------------------------------------
def _cm_meta(phys_id, phys_val, part_cols=(), phys_day=None):
    fields = [
        {
            "name": "id",
            "type": "long",
            "nullable": True,
            "metadata": {"delta.columnMapping.id": 1,
                         "delta.columnMapping.physicalName": phys_id},
        },
        {
            "name": "val",
            "type": "string",
            "nullable": True,
            "metadata": {"delta.columnMapping.id": 2,
                         "delta.columnMapping.physicalName": phys_val},
        },
    ]
    if phys_day:
        fields.append(
            {
                "name": "day",
                "type": "string",
                "nullable": True,
                "metadata": {"delta.columnMapping.id": 3,
                             "delta.columnMapping.physicalName": phys_day},
            }
        )
    return {
        "metaData": {
            "id": "cm-table",
            "schemaString": json.dumps({"type": "struct", "fields": fields}),
            "partitionColumns": list(part_cols),
            "format": {"provider": "parquet"},
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
        }
    }


class TestColumnMapping:
    def test_name_mode_renames_and_reads(self, spark, tmp_path):
        tbl = str(tmp_path / "dlcm")
        os.makedirs(tbl)
        # physical column names on disk
        df = local_frame(spark, [(1, "a"), (2, "b")], "`col-11` long, `col-22` string")
        tmp = os.path.join(tbl, "_tmp")
        df.write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(tbl, "f.parquet"))
        import shutil

        shutil.rmtree(tmp)
        _log(
            tbl,
            0,
            [
                {"protocol": {"minReaderVersion": 2}},
                _cm_meta("col-11", "col-22"),
                _add("f.parquet"),
            ],
        )
        got = {r.id: r.val for r in DeltaLogReader(spark, tbl).read().collect()}
        assert got == {1: "a", 2: "b"}

    def test_name_mode_partition_values_use_physical_keys(self, spark, tmp_path):
        tbl = str(tmp_path / "dlcmp")
        os.makedirs(tbl)
        df = local_frame(spark, [(1, "a")], "`col-11` long, `col-22` string")
        tmp = os.path.join(tbl, "_tmp")
        df.write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(tbl, "p.parquet"))
        import shutil

        shutil.rmtree(tmp)
        _log(
            tbl,
            0,
            [
                {"protocol": {"minReaderVersion": 2}},
                _cm_meta("col-11", "col-22", part_cols=["day"], phys_day="col-33"),
                _add("p.parquet", {"col-33": "2024-06-01"}),
            ],
        )
        rows = DeltaLogReader(spark, tbl).read().collect()
        assert rows[0]["day"] == "2024-06-01" and rows[0]["id"] == 1

    def test_id_mode_reads_by_field_id(self, spark, tmp_path):
        # file columns carry parquet field ids under PHYSICAL names that
        # share nothing with the logical names — only id-matching can
        # resolve them (name matching would return all-NULL columns)
        tbl = str(tmp_path / "dlcmid")
        os.makedirs(tbl)
        file_schema = T.StructType(
            [
                T.StructField("col-11", T.LongType(), True, {"parquet.field.id": 1}),
                T.StructField("col-22", T.StringType(), True, {"parquet.field.id": 2}),
            ]
        )
        df = local_frame(spark, [(1, "a"), (2, "b")], file_schema)
        tmp = os.path.join(tbl, "_tmp")
        df.write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(tbl, "f.parquet"))
        import shutil

        shutil.rmtree(tmp)
        meta = _cm_meta("col-11", "col-22")
        meta["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 2}}, meta, _add("f.parquet")])
        got = {r.id: r.val for r in DeltaLogReader(spark, tbl).read().collect()}
        assert got == {1: "a", 2: "b"}

    def test_id_mode_without_id_metadata_refuses(self, spark, tmp_path):
        tbl = str(tmp_path / "dlcmid2")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f.parquet", [(1, "a")])
        meta = _cm_meta("col-11", "col-22")
        # strip the columnMapping.id metadata the mode requires
        ss = json.loads(meta["metaData"]["schemaString"])
        for f in ss["fields"]:
            f["metadata"].pop("delta.columnMapping.id")
        meta["metaData"]["schemaString"] = json.dumps(ss)
        meta["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 2}}, meta, _add("f.parquet")])
        with pytest.raises(DeltaProtocolError, match="lacks physicalName/id"):
            DeltaLogReader(spark, tbl).read()

    def test_name_mode_missing_physical_name_refuses(self, spark, tmp_path):
        tbl = str(tmp_path / "dlcmmiss")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f.parquet", [(1, "a")])
        meta = _meta()  # plain schema, no physicalName metadata
        meta["metaData"]["configuration"] = {"delta.columnMapping.mode": "name"}
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 2}}, meta, _add("f.parquet")])
        with pytest.raises(DeltaProtocolError, match="physicalName"):
            DeltaLogReader(spark, tbl).read()


# ---------------------------------------------------------------------------
# Checkpoint replay: a log with >10 commits, a classic checkpoint parquet
# at v10, and the pre-checkpoint JSON commits deleted (vacuumed) for the
# versions the checkpoint covers — the shape every real Delta table grows
# into at the default 10-commit checkpoint interval.
# ---------------------------------------------------------------------------
def _write_checkpoint(spark, tbl, version, meta_action, add_paths):
    """Classic single-file checkpoint: one parquet of the same actions,
    columnar (protocol/metaData/add struct columns, one action per row)."""
    import shutil

    rows = [
        ({"minReaderVersion": 1}, None, None),
        (None, meta_action["metaData"], None),
    ] + [
        (None, None, {"path": p, "partitionValues": {}, "dataChange": True})
        for p in add_paths
    ]
    schema = T.StructType(
        [
            T.StructField(
                "protocol",
                T.StructType([T.StructField("minReaderVersion", T.IntegerType())]),
            ),
            T.StructField(
                "metaData",
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("schemaString", T.StringType()),
                        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
            T.StructField(
                "add",
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField(
                            "partitionValues", T.MapType(T.StringType(), T.StringType())
                        ),
                        T.StructField("dataChange", T.BooleanType()),
                    ]
                ),
            ),
        ]
    )
    df = local_frame(
        spark,
        [
            (
                p,
                {k: m[k] for k in ("id", "schemaString", "partitionColumns")} if m else None,
                a,
            )
            for p, m, a in rows
        ],
        schema,
    )
    tmp = os.path.join(tbl, "_cptmp")
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(
        os.path.join(tmp, part),
        os.path.join(tbl, "_delta_log", f"{version:020d}.checkpoint.parquet"),
    )
    shutil.rmtree(tmp)
    with open(os.path.join(tbl, "_delta_log", "_last_checkpoint"), "w") as fh:
        fh.write(json.dumps({"version": version, "size": len(rows)}))


@pytest.fixture()
def checkpointed_table(spark, tmp_path):
    tbl = str(tmp_path / "dlcp")
    os.makedirs(tbl)
    # v0..v11: each commit adds one single-row file f<v>.parquet
    for v in range(12):
        _write_part(spark, tbl, f"f{v}.parquet", [(v, f"v{v}")])
        actions = [_add(f"f{v}.parquet")]
        if v == 0:
            actions = [{"protocol": {"minReaderVersion": 1}}, _meta()] + actions
        _log(tbl, v, actions)
    # classic checkpoint at v10 covering f0..f10
    _write_checkpoint(
        spark, tbl, 10, _meta(), [f"f{v}.parquet" for v in range(11)]
    )
    return tbl


class TestCheckpointReplay:
    def test_head_read_uses_checkpoint_after_vacuum(self, spark, checkpointed_table):
        tbl = checkpointed_table
        # vacuum the JSON commits the checkpoint covers — real logs do
        for v in range(10):
            os.remove(os.path.join(tbl, "_delta_log", f"{v:020d}.json"))
        r = DeltaLogReader(spark, tbl)
        assert set(r.versions()) >= {10, 11}
        ids = sorted(x.id for x in r.read().collect())
        assert ids == list(range(12))  # checkpoint f0..f10 + JSON v11 add

    def test_time_travel_across_checkpoint_boundary(self, spark, checkpointed_table):
        r = DeltaLogReader(spark, checkpointed_table)
        # pre-checkpoint version still replayable from the surviving JSONs
        assert sorted(x.id for x in r.read(4).collect()) == [0, 1, 2, 3, 4]
        # at the checkpoint version both paths agree
        assert sorted(x.id for x in r.read(10).collect()) == list(range(11))

    def test_vacuumed_pre_checkpoint_version_fails_loudly(self, spark, checkpointed_table):
        tbl = checkpointed_table
        # a HOLE in the chain (v2 vacuumed, v4 still listed): replay to v4
        # would silently miss v2's actions -> loud refusal
        os.remove(os.path.join(tbl, "_delta_log", f"{2:020d}.json"))
        with pytest.raises(DeltaProtocolError, match="vacuumed"):
            DeltaLogReader(spark, tbl).read(4)
        # fully vacuumed below the checkpoint: the version is simply gone
        for v in range(10):
            p = os.path.join(tbl, "_delta_log", f"{v:020d}.json")
            if os.path.exists(p):
                os.remove(p)
        with pytest.raises(ValueError, match="no Delta version"):
            DeltaLogReader(spark, tbl).read(4)


# ---------------------------------------------------------------------------
# Inline deletion vectors: Z85 + RoaringBitmapArray decode against
# hand-derived spec bytes, then an end-to-end masked read.
# ---------------------------------------------------------------------------
from data_etl_pipeline_spark.sources.delta_reader import (  # noqa: E402
    decode_inline_dv,
    decode_rba,
    encode_inline_dv,
    encode_rba,
    z85_decode,
    z85_encode,
)


class TestDeletionVectorCodec:
    def test_z85_rfc_vector(self):
        # the ZeroMQ Z85 RFC's own test vector
        assert z85_encode(bytes.fromhex("864fd26fb559f75b")) == "HelloWorld"
        assert z85_decode("HelloWorld") == bytes.fromhex("864fd26fb559f75b")

    def test_roaring_bytes_hand_derived(self):
        # indexes {0, 9}: magic 1681511377 LE | count=1 | cookie 12346 LE |
        # size=1 | key=0,card-1=1 | offset=16 | values 0,9 — every field
        # below is written out from the public RoaringFormatSpec + Delta
        # PROTOCOL.md, independently of the encoder under test
        expected = bytes.fromhex(
            "d1d33964" "0100000000000000" "3a300000" "01000000"
            "0000" "0100" "10000000" "0000" "0900"
        )
        assert encode_rba([0, 9]) == expected
        assert decode_rba(expected) == [0, 9]

    def test_rba_roundtrip_multi_container_and_high_bits(self):
        idxs = [0, 9, 4096, 70000, (1 << 32) + 5]
        dv = encode_inline_dv(idxs)
        assert dv["storageType"] == "i"
        assert dv["cardinality"] == 5
        assert decode_inline_dv(dv["pathOrInlineDv"]) == sorted(idxs)

    def test_decoder_handles_run_and_bitmap_containers(self):
        # run container: hand-built cookie-12347 bitmap with one run [5,8]
        run = (
            (12347 | (0 << 16)).to_bytes(4, "little")  # size-1=0 in high bits
            + b"\x01"  # run flag bitset: container 0 is a run
            + (0).to_bytes(2, "little") + (3).to_bytes(2, "little")  # key, card-1
            # size<4 with runs -> no offset header
            + (1).to_bytes(2, "little")  # n_runs
            + (5).to_bytes(2, "little") + (3).to_bytes(2, "little")  # start,len
        )
        data = (1681511377).to_bytes(4, "little") + (1).to_bytes(8, "little") + run
        assert decode_rba(data) == [5, 6, 7, 8]
        # bitmap container: >4096 values in one 16-bit key space
        vals = list(range(0, 9000))
        import struct as _s
        words = bytearray(8192)
        for v in vals:
            words[v // 8] |= 1 << (v % 8)
        bm = (
            (12346).to_bytes(4, "little") + (1).to_bytes(4, "little")
            + (0).to_bytes(2, "little") + (9000 - 1).to_bytes(2, "little")
            + (16).to_bytes(4, "little") + bytes(words)
        )
        data2 = (1681511377).to_bytes(4, "little") + (1).to_bytes(8, "little") + bm
        assert decode_rba(data2) == vals


class TestDeletionVectorRead:
    def test_inline_dv_masks_rows(self, spark, tmp_path):
        tbl = str(tmp_path / "dldvi")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f0.parquet", [(i, f"v{i}") for i in range(6)])
        _write_part(spark, tbl, "f1.parquet", [(10 + i, f"w{i}") for i in range(4)])
        dv = encode_inline_dv([1, 3])  # mask rows 1 and 3 OF f0 ONLY
        _log(
            tbl,
            0,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "readerFeatures": ["deletionVectors"],
                    }
                },
                _meta(),
                _add("f0.parquet"),
                _add("f1.parquet"),
            ],
        )
        _log(
            tbl,
            1,
            [
                {"remove": {"path": "f0.parquet", "dataChange": True}},
                {
                    "add": {
                        "path": "f0.parquet",
                        "partitionValues": {},
                        "dataChange": True,
                        "deletionVector": dv,
                    }
                },
            ],
        )
        r = DeltaLogReader(spark, tbl)
        # v0: nothing masked
        assert sorted(x.id for x in r.read(0).collect()) == [0, 1, 2, 3, 4, 5, 10, 11, 12, 13]
        # v1: f0 rows at positions 1,3 dead; f1 untouched
        assert sorted(x.id for x in r.read().collect()) == [0, 2, 4, 5, 10, 11, 12, 13]

    def test_dv_cardinality_mismatch_fails_loudly(self, spark, tmp_path):
        tbl = str(tmp_path / "dldvm")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f0.parquet", [(1, "a"), (2, "b")])
        dv = encode_inline_dv([0])
        dv["cardinality"] = 7  # corrupt
        _log(
            tbl,
            0,
            [
                _meta(),
                {
                    "add": {
                        "path": "f0.parquet",
                        "partitionValues": {},
                        "dataChange": True,
                        "deletionVector": dv,
                    }
                },
            ],
        )
        with pytest.raises(DeltaProtocolError, match="cardinality"):
            DeltaLogReader(spark, tbl).read()

    def test_dv_on_percent_encoded_path(self, spark, tmp_path):
        # the silent-resurrection regression: a DV on a file whose
        # add.path needs percent-decoding (space) must still mask rows
        tbl = str(tmp_path / "dldvenc")
        os.makedirs(tbl)
        _write_part(spark, tbl, "part one.parquet", [(i, f"v{i}") for i in range(4)])
        _log(
            tbl,
            0,
            [
                _meta(),
                {
                    "add": {
                        "path": "part%20one.parquet",
                        "partitionValues": {},
                        "dataChange": True,
                        "deletionVector": encode_inline_dv([1, 3]),
                    }
                },
            ],
        )
        got = sorted(x.id for x in DeltaLogReader(spark, tbl).read().collect())
        assert got == [0, 2]


class TestLogCorruption:
    def test_truncated_checkpoint_fails_loudly(self, spark, tmp_path):
        # a 0-byte/garbage checkpoint parquet must raise, not silently
        # yield an empty snapshot
        tbl = str(tmp_path / "dlbadcp")
        os.makedirs(os.path.join(tbl, "_delta_log"))
        with open(
            os.path.join(tbl, "_delta_log", f"{0:020d}.checkpoint.parquet"), "wb"
        ) as fh:
            fh.write(b"not parquet at all")
        with pytest.raises(Exception):  # spark parquet footer error surfaces
            DeltaLogReader(spark, tbl).read()

    def test_garbage_json_line_fails_loudly(self, spark, tmp_path):
        tbl = str(tmp_path / "dlbadjson")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f.parquet", [(1, "a")])
        _log(tbl, 0, [_meta(), _add("f.parquet")])
        with open(os.path.join(tbl, "_delta_log", f"{1:020d}.json"), "w") as fh:
            fh.write('{"add": {"path": "f2.parquet"\n')  # truncated JSON
        import json as _json

        with pytest.raises(_json.JSONDecodeError):
            DeltaLogReader(spark, tbl).read()

    def test_checkpoint_with_remove_tombstones_ignores_them(self, spark, checkpointed_table):
        # vacuum tombstones in a checkpoint must not resurrect or delete
        # anything: state = add rows only. Reuse the fixture checkpoint and
        # verify the replayed file set matches the adds exactly.
        r = DeltaLogReader(spark, checkpointed_table)
        assert sorted(x.id for x in r.read(10).collect()) == list(range(11))


def test_multipart_checkpoint_reads_all_parts(spark, tmp_path):
    # classic MULTI-part checkpoint (%020d.checkpoint.%010d.%010d.parquet):
    # the snapshot is the union of all parts' add rows
    tbl = str(tmp_path / "dlmp")
    os.makedirs(tbl)
    for v in range(2):
        _write_part(spark, tbl, f"f{v}.parquet", [(v, f"v{v}")])
    os.makedirs(os.path.join(tbl, "_delta_log"), exist_ok=True)

    def cp_part(part_no, total, rows):
        import shutil

        schema = T.StructType(
            [
                T.StructField(
                    "protocol",
                    T.StructType([T.StructField("minReaderVersion", T.IntegerType())]),
                ),
                T.StructField(
                    "metaData",
                    T.StructType(
                        [
                            T.StructField("id", T.StringType()),
                            T.StructField("schemaString", T.StringType()),
                            T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                        ]
                    ),
                ),
                T.StructField(
                    "add",
                    T.StructType(
                        [
                            T.StructField("path", T.StringType()),
                            T.StructField(
                                "partitionValues", T.MapType(T.StringType(), T.StringType())
                            ),
                            T.StructField("dataChange", T.BooleanType()),
                        ]
                    ),
                ),
            ]
        )
        df = local_frame(spark, rows, schema)
        tmp = os.path.join(tbl, "_cptmp")
        df.write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(
            os.path.join(tmp, part),
            os.path.join(
                tbl,
                "_delta_log",
                f"{0:020d}.checkpoint.{part_no:010d}.{total:010d}.parquet",
            ),
        )
        shutil.rmtree(tmp)

    meta = _meta()["metaData"]
    cp_part(
        1,
        2,
        [
            ({"minReaderVersion": 1}, None, None),
            (None, (meta["id"], meta["schemaString"], []), None),
            (None, None, ("f0.parquet", {}, True)),
        ],
    )
    cp_part(2, 2, [(None, None, ("f1.parquet", {}, True))])
    r = DeltaLogReader(spark, tbl)
    assert sorted(x.id for x in r.read(0).collect()) == [0, 1]


# ---------------------------------------------------------------------------
# File-based deletion vectors (storageType 'u'/'p') + the combined
# single-branch DV plan.
# ---------------------------------------------------------------------------
from data_etl_pipeline_spark.sources.delta_reader import (  # noqa: E402
    dv_sidecar_path,
    read_dv_file_bytes,
    write_dv_file,
)


class TestFileBasedDeletionVectors:
    def test_sidecar_roundtrip_with_prefix(self, tmp_path):
        import uuid

        tbl = str(tmp_path / "dvtbl")
        os.makedirs(tbl)
        desc = write_dv_file(tbl, [1, 5, 70000], dv_uuid=uuid.UUID(int=7), prefix="ab")
        path = dv_sidecar_path(tbl, desc)
        assert path == os.path.join(tbl, "ab", f"deletion_vector_{uuid.UUID(int=7)}.bin")
        data = read_dv_file_bytes(path, desc["offset"], desc["sizeInBytes"])
        assert decode_rba(data) == [1, 5, 70000]

    def test_crc_corruption_fails_loudly(self, tmp_path):
        import uuid

        tbl = str(tmp_path / "dvcrc")
        os.makedirs(tbl)
        desc = write_dv_file(tbl, [3, 4], dv_uuid=uuid.UUID(int=9))
        path = dv_sidecar_path(tbl, desc)
        raw = bytearray(open(path, "rb").read())
        raw[-6] ^= 0xFF  # flip a bitmap byte; CRC now mismatches
        open(path, "wb").write(bytes(raw))
        with pytest.raises(DeltaProtocolError, match="CRC"):
            read_dv_file_bytes(path, desc["offset"], desc["sizeInBytes"])

    def test_missing_sidecar_fails_loudly(self, tmp_path):
        with pytest.raises(DeltaProtocolError, match="does not exist"):
            read_dv_file_bytes(str(tmp_path / "nope.bin"), 1, 4)

    def test_file_dv_masks_rows_end_to_end(self, spark, tmp_path):
        import uuid

        tbl = str(tmp_path / "dldvf")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f0.parquet", [(i, f"v{i}") for i in range(6)])
        desc = write_dv_file(tbl, [0, 2], dv_uuid=uuid.UUID(int=3), prefix="zz")
        _log(
            tbl,
            0,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "readerFeatures": ["deletionVectors"],
                    }
                },
                _meta(),
                {
                    "add": {
                        "path": "f0.parquet",
                        "partitionValues": {},
                        "dataChange": True,
                        "deletionVector": desc,
                    }
                },
            ],
        )
        assert sorted(x.id for x in DeltaLogReader(spark, tbl).read().collect()) == [
            1, 3, 4, 5,
        ]

    def test_many_dv_files_build_one_plan_branch(self, spark, tmp_path):
        # 22 DV-bearing files must NOT become 22 scan+anti-join+union
        # branches (driver-side planning blowup on foreign tables with
        # thousands of small DVs): ONE scan, ONE anti-join, ONE
        # partition-attach join
        tbl = str(tmp_path / "dldvmany")
        os.makedirs(tbl)
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "readerFeatures": ["deletionVectors"],
                }
            },
            _meta(),
        ]
        for i in range(22):
            _write_part(spark, tbl, f"f{i}.parquet", [(i * 10 + j, "x") for j in range(4)])
            actions.append(
                {
                    "add": {
                        "path": f"f{i}.parquet",
                        "partitionValues": {},
                        "dataChange": True,
                        "deletionVector": encode_inline_dv([0]),
                    }
                }
            )
        _log(tbl, 0, actions)
        df = DeltaLogReader(spark, tbl).read()
        assert df.count() == 22 * 3  # row 0 dead in every file
        plan = formatted_plan(df)
        # one parquet scan of the DV files, one anti-join — not 22
        # (formatted explain prints each node in the tree AND a detail
        # block, so count the per-operator detail lines)
        assert plan.count("Join type: LeftAnti") == 1
        assert plan.count("Scan parquet") <= 2

    def test_dv_files_across_partitions_reattach_literals(self, spark, tmp_path):
        import uuid

        tbl = str(tmp_path / "dldvpart")
        os.makedirs(tbl)
        df = spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA)
        for day in ("2024-01-01", "2024-01-02"):
            _write_part(spark, tbl, f"{day}.parquet", [(1, "a"), (2, "b")])
        d1 = write_dv_file(tbl, [0], dv_uuid=uuid.UUID(int=21))
        d2 = write_dv_file(tbl, [1], dv_uuid=uuid.UUID(int=22))
        _log(
            tbl,
            0,
            [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "readerFeatures": ["deletionVectors"],
                    }
                },
                _meta(part_cols=["day"]),
                {
                    "add": {
                        "path": "2024-01-01.parquet",
                        "partitionValues": {"day": "2024-01-01"},
                        "dataChange": True,
                        "deletionVector": d1,
                    }
                },
                {
                    "add": {
                        "path": "2024-01-02.parquet",
                        "partitionValues": {"day": "2024-01-02"},
                        "dataChange": True,
                        "deletionVector": d2,
                    }
                },
            ],
        )
        got = {(r.id, r.day) for r in DeltaLogReader(spark, tbl).read().collect()}
        assert got == {(2, "2024-01-01"), (1, "2024-01-02")}


class TestCheckpointCompleteness:
    def test_missing_multipart_part_fails_loudly(self, spark, tmp_path):
        tbl = str(tmp_path / "dlmiss")
        os.makedirs(os.path.join(tbl, "_delta_log"))
        # declare 3 parts, provide only 1 and 3
        for part_no in (1, 3):
            open(
                os.path.join(
                    tbl,
                    "_delta_log",
                    f"{0:020d}.checkpoint.{part_no:010d}.{3:010d}.parquet",
                ),
                "w",
            ).close()
        with pytest.raises(DeltaProtocolError, match="incomplete multi-part"):
            DeltaLogReader(spark, tbl).versions()

    def test_disagreeing_totals_fail_loudly(self, spark, tmp_path):
        tbl = str(tmp_path / "dltot")
        os.makedirs(os.path.join(tbl, "_delta_log"))
        for part_no, total in ((1, 2), (2, 3)):
            open(
                os.path.join(
                    tbl,
                    "_delta_log",
                    f"{0:020d}.checkpoint.{part_no:010d}.{total:010d}.parquet",
                ),
                "w",
            ).close()
        with pytest.raises(DeltaProtocolError, match="disagree on the total"):
            DeltaLogReader(spark, tbl).versions()

    def test_single_and_multi_mix_fails_loudly(self, spark, tmp_path):
        tbl = str(tmp_path / "dlmix")
        os.makedirs(os.path.join(tbl, "_delta_log"))
        open(
            os.path.join(tbl, "_delta_log", f"{0:020d}.checkpoint.parquet"), "w"
        ).close()
        open(
            os.path.join(
                tbl, "_delta_log", f"{0:020d}.checkpoint.{1:010d}.{1:010d}.parquet"
            ),
            "w",
        ).close()
        with pytest.raises(DeltaProtocolError, match="both a single-file and multi-part"):
            DeltaLogReader(spark, tbl).versions()


def test_id_mode_read_does_not_leak_field_id_conf(spark, tmp_path):
    # round-7 ADVICE fix: the fieldId scan conf must ride an isolated
    # child session — a mode-'id' read must not flip column resolution
    # for the caller's own later parquet scans
    import shutil

    before = spark.conf.get("spark.sql.parquet.fieldId.read.enabled", None)
    tbl = str(tmp_path / "dlcmleak")
    os.makedirs(tbl)
    file_schema = T.StructType(
        [
            T.StructField("col-11", T.LongType(), True, {"parquet.field.id": 1}),
            T.StructField("col-22", T.StringType(), True, {"parquet.field.id": 2}),
        ]
    )
    df = local_frame(spark, [(7, "z")], file_schema)
    tmp = os.path.join(tbl, "_tmp")
    df.write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(os.path.join(tmp, part), os.path.join(tbl, "f.parquet"))
    shutil.rmtree(tmp)
    meta = _cm_meta("col-11", "col-22")
    meta["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
    _log(tbl, 0, [{"protocol": {"minReaderVersion": 2}}, meta, _add("f.parquet")])
    got = DeltaLogReader(spark, tbl).read().collect()
    assert [(r.id, r.val) for r in got] == [(7, "z")]
    # caller's session conf is untouched (unset stays unset, value stays)
    assert spark.conf.get("spark.sql.parquet.fieldId.read.enabled", None) == before
    # the caller resolves field-id-tagged files BY NAME as before the read:
    # scanning f.parquet under its physical names must still work
    plain = (
        spark.read.schema("`col-11` long, `col-22` string")
        .parquet(os.path.join(tbl, "f.parquet"))
        .collect()
    )
    assert [(r["col-11"], r["col-22"]) for r in plain] == [(7, "z")]


class TestColumnPruning:
    """read(columns=...): only requested (+filter) columns reach the scan
    ReadSchema; output restricted to requested names in table order."""

    def test_projected_read_plain_table(self, spark, tmp_path):
        tbl = str(tmp_path / "prune1")
        os.makedirs(tbl)
        _write_part(
            spark, tbl, "f.parquet", [(1, "a"), (2, "b")]
        )
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), _add("f.parquet")])
        out = DeltaLogReader(spark, tbl).read(columns=["id"])
        assert out.columns == ["id"]
        assert sorted(r["id"] for r in out.collect()) == [1, 2]
        # the scan itself is pruned, not just the output
        plan = formatted_plan(out)
        import re

        rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert rs and "val" not in rs.group(1) and "id" in rs.group(1), plan

    def test_filter_column_scanned_but_dropped(self, spark, tmp_path):
        tbl = str(tmp_path / "prune2")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f.parquet", [(1, "a"), (2, "b")])
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), _add("f.parquet")])
        out = DeltaLogReader(spark, tbl).read(columns=["val"], filters=[("id", ">", 1)])
        assert out.columns == ["val"]
        assert [r["val"] for r in out.collect()] == ["b"]

    def test_unknown_column_refuses(self, spark, tmp_path):
        tbl = str(tmp_path / "prune3")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f.parquet", [(1, "a")])
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), _add("f.parquet")])
        with pytest.raises(ValueError, match="not in table schema"):
            DeltaLogReader(spark, tbl).read(columns=["nope"])

    def test_output_order_is_table_schema_order(self, spark, tmp_path):
        tbl = str(tmp_path / "prune4")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f.parquet", [(1, "a")])
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 1}}, _meta(), _add("f.parquet")])
        out = DeltaLogReader(spark, tbl).read(columns=["val", "id"])
        assert out.columns == ["id", "val"]  # table order, not argument order

    def test_pruned_read_with_deletion_vector(self, spark, tmp_path):
        tbl = str(tmp_path / "prunedv")
        os.makedirs(tbl)
        _write_part(spark, tbl, "f.parquet", [(1, "a"), (2, "b"), (3, "c")])
        add = _add("f.parquet")
        from data_etl_pipeline_spark.sources.delta_reader import encode_inline_dv

        add["add"]["deletionVector"] = encode_inline_dv([1])  # delete row idx 1
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 3,
                                    "readerFeatures": ["deletionVectors"]}},
                      _meta(), add])
        out = DeltaLogReader(spark, tbl).read(columns=["id"])
        assert out.columns == ["id"]
        assert sorted(r["id"] for r in out.collect()) == [1, 3]

    def test_pruned_read_name_mapping(self, spark, tmp_path):
        import shutil

        tbl = str(tmp_path / "prunecm")
        os.makedirs(tbl)
        df = local_frame(spark, [(1, "a"), (2, "b")], "`col-11` long, `col-22` string")
        tmp = os.path.join(tbl, "_tmp")
        df.write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(os.path.join(tmp, part), os.path.join(tbl, "f.parquet"))
        shutil.rmtree(tmp)
        _log(tbl, 0, [{"protocol": {"minReaderVersion": 2}},
                      _cm_meta("col-11", "col-22"), _add("f.parquet")])
        out = DeltaLogReader(spark, tbl).read(columns=["val"])
        assert out.columns == ["val"]
        assert sorted(r["val"] for r in out.collect()) == ["a", "b"]


# ---------------------------------------------------------------------------
# Generated-column partition-filter derivation
# ---------------------------------------------------------------------------
def test_generation_map_recognizes_monotone_shapes():
    import json as _json

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    def meta_for(expr, name="g"):
        fields = [
            {"name": "ts", "type": "timestamp", "nullable": True, "metadata": {}},
            {
                "name": name,
                "type": "date",
                "nullable": True,
                "metadata": {"delta.generationExpression": expr},
            },
        ]
        return {
            "schemaString": _json.dumps({"type": "struct", "fields": fields}),
            "partitionColumns": [name],
        }

    gm = DeltaLogReader._generation_map
    assert gm(meta_for("CAST(ts AS DATE)")) == {"g": ("ts", "day")}
    assert gm(meta_for("CAST(date_trunc('month', ts) AS DATE)")) == {
        "g": ("ts", "month")
    }
    assert gm(meta_for("cast(DATE_TRUNC('week',   ts) as date)")) == {
        "g": ("ts", "week")
    }
    assert gm(meta_for("year(ts)")) == {"g": ("ts", "year_int")}
    # unrecognized (non-monotone or unknown) shapes derive nothing
    assert gm(meta_for("month(ts)")) == {}
    assert gm(meta_for("ts + interval 1 day")) == {}
    # a generated NON-partition column derives nothing
    m = meta_for("CAST(ts AS DATE)")
    m["partitionColumns"] = []
    assert gm(m) == {}


def test_derive_partition_filters_ops_and_boundaries():
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    d = DeltaLogReader._derive_partition_filters
    gen = {"m": ("ts", "month")}
    # strict ops weaken to inclusive: 1996-03-15 < means month <= 1996-03
    assert d([("ts", "<", "1996-03-15")], gen) == [("m", "<=", "1996-03-01")]
    assert d([("ts", ">", "1996-03-15 23:00:00")], gen) == [("m", ">=", "1996-03-01")]
    assert d([("ts", "=", "1996-03-15")], gen) == [("m", "=", "1996-03-01")]
    # week truncation: Monday of the ISO week
    wk = {"w": ("ts", "week")}
    assert d([("ts", "=", "2024-01-07")], wk) == [("w", "=", "2024-01-01")]  # Sunday
    assert d([("ts", "=", "2024-01-08")], wk) == [("w", "=", "2024-01-08")]  # Monday
    # year_int derives an integer literal
    yr = {"y": ("ts", "year_int")}
    assert d([("ts", ">=", "1997-06-01")], yr) == [("y", ">=", 1997)]
    # filters on other columns and unparseable literals derive nothing
    assert d([("other", "=", "1996-03-15")], gen) == []
    assert d([("ts", "=", "not-a-date")], gen) == []
