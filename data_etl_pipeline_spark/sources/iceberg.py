"""Apache Iceberg table-format v2 interop: snapshot exporter + reader.

Iceberg is the second half of the lakehouse world next to the Delta
interop pair (``delta_export.py`` / ``delta_reader.py``); its on-disk
contract (https://iceberg.apache.org/spec/) is

    table/metadata/vN.metadata.json      table metadata + snapshot log
    table/metadata/snap-*.avro           manifest LIST (one per snapshot)
    table/metadata/*-m*.avro             manifest files (data-file entries)
    table/data/...                       parquet data files

All Avro framing goes through the from-spec pure-Python OCF codec in
``avro_ocf.py`` (no Avro runtime exists in this container). The exporter
publishes engine DataFrames as spec-correct v2 tables — field-id'd
schema, per-file column bounds in the manifests (serialized with
Iceberg's single-value binary forms), optional IDENTITY partitioning
(typed partition tuples in the manifest entries; the partition column
stays in the data files, as the spec requires — partitioning is
metadata, not Hive dirs), append snapshots that carry prior manifests
forward BY REFERENCE in the new manifest list — and the
reader plays the protocol back independently: version-hint ->
metadata.json -> current (or time-travelled) snapshot -> manifest list
-> manifests -> live data files, with min/max file pruning from the
manifest bounds, so a planner scans only the files whose stats box
intersects the predicate (the same skipping contract as the
VersionedTable manifest and Delta stats, expressed in Iceberg's format).

Scale: every metadata file is bounded by FILE COUNT, not row count — the
driver-side work is O(files); data bytes move only through the
distributed parquet scan of the selected files. Every data and delete
file is read under the schema the table metadata records for it
(``IcebergTable._read_schema``), so no read runs a schema-inference job.

Reference parity: the reference ships no lakehouse writer (its storage
is an operational document DB); this extends the engine's export surface
the way SURVEY.md §2.11 E63+ did for Delta.

Round 12 extends the protocol surface (each item the next gap a user
of a production Iceberg table hits, per the r11 verdict) — position
deletes, truncate/bucket/time transforms, snapshot-diff tailing,
equality deletes, nested schemas, compaction + snapshot expiry:

  * POSITION DELETE files (spec: delete manifests with ``content=1``
    carrying parquet files of ``(file_path, pos)``) — written by
    ``delete_rows_iceberg`` and masked by the reader with ONE combined
    anti-join on a canonical (decoded path, row position) key, the same
    shape as the Delta reader's deletion-vector masking
    (``delta_reader.py`` E68/E82); time travel to a pre-delete snapshot
    naturally sees the undeleted rows because deletes live in that
    snapshot's manifest list only.
  * TRUNCATE partition transform (``truncate[W]``: ints floor to
    multiples of W, strings keep the first W chars — the spec's
    definition) beside identity, with transform-aware partition pruning
    on the SOURCE column (``plan_files_by_source_range``).
  * SNAPSHOT-DIFF incremental tailing (``added_files``/``read_tail``):
    appended snapshots carry prior manifests by reference, so the
    manifests a snapshot ADDED are exactly its new files; the tail is
    read in ONE scan with a broadcast (path -> snapshot) tag join —
    the Delta E92 contract applied to the second format.

Refs (round 12 second wave): the spec's ``refs`` map carries immutable
TAGS (``tag_iceberg`` — pinned through snapshot expiry) and named
BRANCHES (``append_iceberg(branch=...)`` auto-forks from main; main
readers never see branch commits; snapshots record
``parent-snapshot-id``), closing into write-audit-publish via
``fast_forward_iceberg`` — an ancestry-checked, metadata-only pointer
move. The incremental tail walks the main ancestry only, so staged
branch files never leak into a tail read.

Exactly-once streaming sink (``append_iceberg_exactly_once``): commits
record (streaming-app-id, streaming-epoch) in their snapshot summary
and replayed micro-batches skip — the Delta transaction-identifier
contract on this format. Manifest rewrite
(``rewrite_manifests_iceberg``): the metadata small-files fix — merge
the current manifest list to one manifest per (content, spec, schema)
group, entries carried verbatim as EXISTING with explicit sequence
numbers; the tail and the streaming source skip the marker snapshot.
Inspection/recovery surface: ``files_df``/``partitions_df`` metadata
tables (manifest-only, zero data reads), ``snapshot_id_as_of``
timestamp travel over the snapshot-log (published state only), and
``rollback_iceberg`` — a metadata-only git-reset to a main-ancestry
ancestor, with expiry retention counted over the main ancestry so
abandoned commits are reclaimable immediately.

Partition SPEC evolution (round 12 second wave) commits a re-layout as
a metadata-only update (``evolve_partition_spec_iceberg``): a new spec
under a fresh spec-id, ``default-spec-id`` moves, existing files keep
their original spec's tuples, and the reader prunes every file through
its OWN spec (manifest-list ``partition_spec_id``) — files whose spec
does not cover the predicate column are kept, never guessed at.

Equality deletes (data-file ``content=2``, round 12 second tranche) are
read AND written too: the delete file holds distinct key tuples
(``equality_ids`` recording their field ids), and masking applies only
to data files whose sequence number is strictly below the delete's —
the spec rule that makes re-appending a deleted key an upsert.

Honest limits (loud, not silent):
  * an equality delete file without ``equality_ids`` is malformed and
    raises;
  * nested struct/list/map columns export with spec-correct unique
    field ids (round 12), but cannot be partition sources or equality
    keys, and carry no column bounds (footer stats for nested paths are
    skipped — pruning keeps such files);
  * partition transforms other than identity / truncate[W] / bucket[N]
    (from-spec murmur3_x86_32, seed 0) / year / month / day / hour
    refuse ('void' is not implemented), as do NULL partition values
    and unbounded-cardinality partition columns (capped at 64 distinct
    buckets per commit); bucket[N] refuses RANGE pruning (not
    order-preserving — point lookups prune via
    plan_files_by_source_values);
  * ``read_tail`` refuses non-append snapshots in the tailed range
    (delete/replace/overwrite snapshots are not representable as
    inserts — the same stance as the Delta tail's refusal, E92);
  * codecs other than null/deflate raise inside the Avro layer.
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import struct
import time
import uuid
from decimal import MAX_PREC, Context, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_etl_pipeline_spark.tables import local_frame

from data_etl_pipeline_spark.sources import commit
from data_etl_pipeline_spark.sources.avro_ocf import (
    read_ocf,
    read_ocf_full,
    write_ocf,
)
from data_etl_pipeline_spark.sources.footerprune import file_uri_path_col, footer_stats


class IcebergError(ValueError):
    pass


# ---------------------------------------------------------------------------
# schema: Spark <-> Iceberg (primitive fields, ids assigned 1..n)
# ---------------------------------------------------------------------------

_SPARK_TO_ICEBERG = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    # Spark's session-tz timestamp is Iceberg's timestamptz; the
    # zone-less NTZ type is Iceberg's plain timestamp
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}

# inverse: Iceberg primitive -> Spark type (declared read schemas,
# added-column null literals, int->long / float->double promotion casts)
_ICEBERG_TO_SPARK = {
    "long": T.LongType(),
    "int": T.IntegerType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamptz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
}
_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(\d+)\)$")

# what a position-delete file holds (spec: file_path, pos; the optional
# ``row`` column is never read)
_POS_DELETE_SCHEMA = T.StructType(
    [T.StructField("file_path", T.StringType()), T.StructField("pos", T.LongType())]
)

# the spec's allowed primitive type promotions (old -> new); anything
# else across a schema evolution refuses on read
_TYPE_PROMOTIONS = {("int", "long"), ("float", "double")}


def _iceberg_schema(df: DataFrame) -> dict:
    """Spark schema -> Iceberg schema JSON with UNIQUE field ids assigned
    pre-order (each field numbered when visited, nested types recursed
    immediately) — the same fresh-id discipline Iceberg's own
    SchemaParser applies. Nested structs, lists (element-id), and maps
    (key-id/value-id) all carry spec-correct ids (round 12; primitives
    only was the r11 refusal). ``_spark_type`` is its inverse."""
    counter = {"next": 1}

    def take() -> int:
        i = counter["next"]
        counter["next"] += 1
        return i

    def convert(dt) -> object:
        s = dt.simpleString()
        if s.startswith("decimal"):
            return s.replace(",", ", ")
        if s in _SPARK_TO_ICEBERG:
            return _SPARK_TO_ICEBERG[s]
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = take()
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": False,
                        "type": convert(f.dataType),
                    }
                )
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.ArrayType):
            eid = take()
            return {
                "type": "list",
                "element-id": eid,
                "element": convert(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            kid, vid = take(), take()
            return {
                "type": "map",
                "key-id": kid,
                "key": convert(dt.keyType),
                "value-id": vid,
                "value": convert(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        raise IcebergError(
            f"unsupported column type {s!r} for Iceberg export"
        )

    fields = []
    for f in df.schema.fields:
        fid = take()
        fields.append(
            {
                "id": fid,
                "name": f.name,
                "required": False,
                "type": convert(f.dataType),
            }
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _spark_type(ice_type) -> T.DataType:
    """Inverse of ``_iceberg_schema``'s converter: the Spark type a
    parquet read infers for a column of Iceberg type ``ice_type``, nested
    types included. Every level is nullable, as Spark reads files."""
    if isinstance(ice_type, str):
        m = _DECIMAL_RE.match(ice_type)
        if m:
            return T.DecimalType(int(m[1]), int(m[2]))
        if ice_type in _ICEBERG_TO_SPARK:
            return _ICEBERG_TO_SPARK[ice_type]
    elif ice_type.get("type") == "struct":
        return _spark_schema(ice_type["fields"])
    elif ice_type.get("type") == "list":
        return T.ArrayType(_spark_type(ice_type["element"]))
    elif ice_type.get("type") == "map":
        return T.MapType(_spark_type(ice_type["key"]), _spark_type(ice_type["value"]))
    raise IcebergError(f"unsupported Iceberg type {ice_type!r}")


def _spark_schema(fields: list[dict]) -> T.StructType:
    """Spark schema of an Iceberg field list (names as written)."""
    return T.StructType([T.StructField(f["name"], _spark_type(f["type"])) for f in fields])


def _max_field_id(node) -> int:
    """Highest field id anywhere in an Iceberg schema JSON tree (struct
    field ids, list element-ids, map key/value-ids)."""
    if isinstance(node, dict):
        own = [node[k] for k in ("id", "element-id", "key-id", "value-id") if k in node]
        kids = [
            _max_field_id(v)
            for k, v in node.items()
            if k in ("fields", "type", "element", "key", "value")
        ]
        return max(own + kids + [0])
    if isinstance(node, list):
        return max([_max_field_id(v) for v in node] + [0])
    return 0


# Iceberg single-value binary serialization (spec appendix D) for the
# bounds maps: little-endian fixed width numerics, UTF-8 strings.

# Decimal scaling must be exact: ``scaleb`` rounds to the context's
# precision (28 digits by default), and a decimal(38, s) bound rounded
# inward would prune a file that holds matching rows.
_EXACT = Context(prec=MAX_PREC)


def _encode_bound(value, ice_type: str) -> bytes | None:
    if value is None:
        return None
    if ice_type == "int" or ice_type == "date":
        return struct.pack("<i", int(value))
    if ice_type in ("long", "timestamp", "timestamptz"):
        return struct.pack("<q", int(value))
    if ice_type == "float":
        return struct.pack("<f", float(value))
    if ice_type == "double":
        return struct.pack("<d", float(value))
    if ice_type == "string":
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    m = _DECIMAL_RE.match(ice_type)
    if m:
        # unscaled value, two's-complement big-endian, fewest bytes
        n = int(Decimal(value).scaleb(int(m[2]), _EXACT))
        return n.to_bytes(((n if n >= 0 else ~n).bit_length() + 8) // 8, "big", signed=True)
    return None  # other types: bounds omitted, never wrong


def _decode_bound(raw: bytes | None, ice_type: str):
    if raw is None:
        return None
    if ice_type == "int" or ice_type == "date":
        return struct.unpack("<i", raw)[0]
    if ice_type in ("long", "timestamp", "timestamptz"):
        return struct.unpack("<q", raw)[0]
    if ice_type == "float":
        return struct.unpack("<f", raw)[0]
    if ice_type == "double":
        return struct.unpack("<d", raw)[0]
    if ice_type == "string":
        return raw.decode("utf-8", errors="replace")
    if ice_type == "boolean":
        return raw == b"\x01"
    m = _DECIMAL_RE.match(ice_type)
    if m:
        return Decimal(int.from_bytes(raw, "big", signed=True)).scaleb(-int(m[2]), _EXACT)
    return None


# ---------------------------------------------------------------------------
# Avro schemas for the two metadata file kinds (v2 required fields; the
# int-keyed maps use the array<key_value> form real writers emit, since
# Avro maps are string-keyed)
# ---------------------------------------------------------------------------


def _kv_array(name: str, key_id: int, value_id: int) -> dict:
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "bytes", "field-id": value_id},
            ],
        },
        "logicalType": "map",
    }


def _manifest_entry_schema(part_fields: list[tuple[str, str]]) -> dict:
    """Manifest-entry Avro schema; the ``partition`` record (field-id 102)
    carries one field per partition-spec field — empty for unpartitioned
    tables, typed identity values otherwise (real writers do the same:
    the r102 record's shape is per-table)."""
    partition_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": n, "type": ["null", t], "default": None, "field-id": 1000 + i}
            for i, (n, t) in enumerate(part_fields)
        ],
    }
    return {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": partition_record,
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    {
                        "name": "value_counts",
                        "type": ["null", _kv_array("k119_v120", 119, 120)],
                        "default": None,
                        "field-id": 109,
                    },
                    {
                        "name": "null_value_counts",
                        "type": ["null", _kv_array("k121_v122", 121, 122)],
                        "default": None,
                        "field-id": 110,
                    },
                    {
                        "name": "lower_bounds",
                        "type": ["null", _kv_array("k126_v127", 126, 127)],
                        "default": None,
                        "field-id": 125,
                    },
                    {
                        "name": "upper_bounds",
                        "type": ["null", _kv_array("k129_v130", 129, 130)],
                        "default": None,
                        "field-id": 128,
                    },
                    {
                        "name": "equality_ids",
                        "type": [
                            "null",
                            {"type": "array", "items": "int", "element-id": 136},
                        ],
                        "default": None,
                        "field-id": 135,
                    },
                ],
            },
        },
    ],
    }


MANIFEST_ENTRY_SCHEMA = _manifest_entry_schema([])

MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


# value counts for the bounds: int-keyed {field_id: bytes} <-> avro kv array


def _to_kv(d: dict[int, bytes] | None) -> list | None:
    if not d:
        return None
    return [{"key": k, "value": v} for k, v in sorted(d.items())]


def _from_kv(v) -> dict[int, bytes]:
    """Accept both the kv-array form we (and real writers) emit and a
    plain Avro map with stringified keys (permissive foreign decode)."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return {int(k): val for k, val in v.items()}
    return {e["key"]: e["value"] for e in v}


# ---------------------------------------------------------------------------
# per-file stats from parquet footers (driver-side, O(files))
# ---------------------------------------------------------------------------


def _file_stats(local_path: str, id_by_name: dict[str, int], ice_types: dict):
    """Per-file (rows, size, lower_bounds, upper_bounds) from the parquet
    footer (``footerprune.footer_stats``: bounds only when every row
    group has them). ``id_by_name`` maps TOP-LEVEL PRIMITIVE column names
    to their REAL schema field ids — positional 1..n stopped being
    correct the moment nested schemas landed (nested fields consume ids
    in between, so a primitive after a struct would otherwise record its
    bounds under another field's id and corrupt pruning)."""
    import datetime as dt

    def _us(v):  # pyarrow datetimes -> micros since epoch
        if isinstance(v, dt.datetime):
            epoch = dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            return int((v - epoch).total_seconds() * 1_000_000)
        return int(v)

    def _days(v):  # pyarrow dates -> days since epoch
        if isinstance(v, dt.date):
            return (v - dt.date(1970, 1, 1)).days
        return int(v)

    n_rows, cols = footer_stats(local_path)
    lowers: dict[int, bytes] = {}
    uppers: dict[int, bytes] = {}
    for name, fid in id_by_name.items():
        t = ice_types.get(name)
        mn, mx, _ = cols.get(name, (None, None, None))
        if not isinstance(t, str) or mn is None:
            continue
        if any(isinstance(v, float) and math.isnan(v) for v in (mn, mx)):
            continue  # the spec keeps NaN out of bounds
        if t in ("timestamp", "timestamptz"):
            mn, mx = _us(mn), _us(mx)
        elif t == "date":
            mn, mx = _days(mn), _days(mx)
        lo, hi = _encode_bound(mn, t), _encode_bound(mx, t)
        if lo is not None and hi is not None:
            lowers[fid] = lo
            uppers[fid] = hi
    return n_rows, os.path.getsize(local_path), lowers, uppers


# ---------------------------------------------------------------------------
# exporter
# ---------------------------------------------------------------------------



# partition value types the exporter supports for the VALUE-typed
# transforms (identity/truncate/bucket keep or hash the source primitive)
_PARTITIONABLE = {"int": "int", "long": "long", "string": "string"}
# source types the TIME transforms accept (partition value is always int)
_TIME_SOURCES = {"date", "timestamp", "timestamptz"}

_TRUNCATE_RE = re.compile(r"^truncate\[(\d+)\]$")
_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")


def _parse_transform(transform: str) -> tuple[str, int | None]:
    """'identity' -> ('identity', None); 'truncate[W]' -> ('truncate', W);
    'bucket[N]' -> ('bucket', N); 'year'/'month'/'day'/'hour' ->
    (kind, None). Anything else ('void', unknown) refuses loudly."""
    if transform in ("identity", "year", "month", "day", "hour"):
        return transform, None
    m = _TRUNCATE_RE.match(transform)
    if m and int(m.group(1)) > 0:
        return "truncate", int(m.group(1))
    m = _BUCKET_RE.match(transform)
    if m and int(m.group(1)) > 0:
        return "bucket", int(m.group(1))
    raise IcebergError(
        f"unsupported partition transform {transform!r} "
        "(identity, truncate[W], bucket[N], year, month, day, hour only)"
    )


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """MurmurHash3 x86 32-bit from the public reference algorithm —
    Iceberg's bucket transform hash (spec appendix B: seed 0, ints/longs
    hashed as 8-byte little-endian, strings as UTF-8 bytes). Spec test
    vectors covered in tests/test_iceberg.py (hash(34)=2017239379,
    hash("iceberg")=1210000089)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[n - n % 4 :]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def iceberg_bucket(value, n: int, ice_type: str) -> int:
    """The spec's bucket transform: (murmur3(bytes) & Int.MaxValue) % N,
    ints/longs promoted to 8-byte little-endian, strings UTF-8."""
    if ice_type in ("int", "long"):
        data = int(value).to_bytes(8, "little", signed=True)
    elif ice_type == "string":
        data = str(value).encode("utf-8")
    else:
        raise IcebergError(f"bucket transform unsupported on {ice_type!r}")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def _transform_expr(kind: str, w: int | None, col: str, ice_type: str):
    """The Spark expression computing a partition value from its source
    column, matching the Iceberg spec's transform definitions: int/long
    truncate floors to a multiple of W (``v - (((v % W) + W) % W)``, i.e.
    pmod); string truncate keeps the first W characters; year/month/day
    count from the 1970 epoch; bucket is the murmur3 hash mod N (a
    vectorized pandas UDF — Spark's built-in hash() is murmur3 with seed
    42, not the spec's seed 0, so the spec hash must run in Python; it
    prices as an export-time cost only, reads never re-hash)."""
    if kind == "identity":
        return F.col(col)
    if kind == "truncate":
        if ice_type == "string":
            return F.substring(F.col(col), 1, w)
        return (F.col(col) - F.pmod(F.col(col), F.lit(w))).cast(
            "int" if ice_type == "int" else "long"
        )
    if kind == "year":
        return (F.year(F.col(col)) - F.lit(1970)).cast("int")
    if kind == "month":
        return (
            (F.year(F.col(col)) - F.lit(1970)) * 12 + F.month(F.col(col)) - 1
        ).cast("int")
    if kind == "day":
        return F.datediff(F.to_date(F.col(col)), F.lit("1970-01-01")).cast("int")
    if kind == "hour":
        # epoch seconds via unix_timestamp (session tz is the engine's
        # pinned UTC, matching the spec's UTC hour boundaries)
        return F.floor(F.unix_timestamp(F.col(col)) / 3600).cast("int")
    if kind == "bucket":
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("int")
        def _bucket(s):
            import pandas as pd

            return pd.Series(
                [None if v is None else iceberg_bucket(v, w, ice_type) for v in s],
                dtype="Int32",
            )

        return _bucket(F.col(col))
    raise IcebergError(f"no expression for transform kind {kind!r}")


def _py_transform(kind: str, w: int | None, value, ice_type: str):
    """Driver-side transform of a single SOURCE value — what pruning
    needs to map predicate bounds/points into partition-value space."""
    import datetime as dt

    if kind == "identity":
        return value
    if kind == "truncate":
        if ice_type == "string":
            return str(value)[:w]
        return int(value) - (int(value) % w)
    if kind == "bucket":
        return iceberg_bucket(value, w, ice_type)
    if kind == "hour":
        if not isinstance(value, dt.datetime):
            raise IcebergError(
                f"hour-transform pruning needs a datetime bound, got {value!r}"
            )
        epoch = dt.datetime(1970, 1, 1, tzinfo=value.tzinfo)
        return int((value - epoch).total_seconds() // 3600)
    if isinstance(value, dt.datetime):
        value = value.date()
    if not isinstance(value, dt.date):
        raise IcebergError(
            f"time-transform pruning needs a date/datetime bound, got {value!r}"
        )
    if kind == "year":
        return value.year - 1970
    if kind == "month":
        return (value.year - 1970) * 12 + value.month - 1
    if kind == "day":
        return (value - dt.date(1970, 1, 1)).days
    raise IcebergError(f"no python transform for kind {kind!r}")


def _spec_field_name(kind: str, col: str) -> str:
    # the Iceberg Java writers' naming convention
    if kind == "identity":
        return col
    return f"{col}_{'trunc' if kind == 'truncate' else kind}"


def _partition_value_avro(kind: str, src_type: str) -> str:
    """Validate (transform kind, source type) and return the partition
    VALUE's avro type: identity/truncate keep the source primitive,
    bucket and the time transforms produce int."""
    if kind in ("year", "month", "day", "hour"):
        allowed = (
            _TIME_SOURCES - {"date"} if kind == "hour" else _TIME_SOURCES
        )
        if not isinstance(src_type, str) or src_type not in allowed:
            raise IcebergError(
                f"{kind} transform needs a {sorted(allowed)} column, "
                f"not {src_type!r}"
            )
        return "int"
    if not isinstance(src_type, str) or src_type not in _PARTITIONABLE:
        raise IcebergError(
            f"{kind} partitioning supports {sorted(_PARTITIONABLE)} "
            f"columns, not {src_type!r} (nested types cannot be partition "
            "sources)"
        )
    return "int" if kind == "bucket" else _PARTITIONABLE[src_type]

def _with_field_ids(df: DataFrame, schema: dict) -> DataFrame:
    """Stamp top-level columns with ``parquet.field.id`` metadata so the
    written parquet embeds the Iceberg field ids (the spec requires ids
    in data files; real readers resolve columns by id, and Spark's
    parquet writer emits them from StructField metadata by default).
    Nested ids stay manifest-level — the manifest's write-time schema is
    what this reader resolves against."""
    ids = {f["name"]: f["id"] for f in schema["fields"]}
    return df.select(
        *[
            F.col(c).alias(c, metadata={"parquet.field.id": ids[c]})
            if c in ids
            else F.col(c)
            for c in df.columns
        ]
    )


def _data_dir(table_dir: str, att: commit.Attempt) -> str:
    """Where an attempt's data files land: named by its token, so two
    writers at the same head never share a directory."""
    return os.path.join(table_dir, "data", att.token)


def export_iceberg(
    df: DataFrame,
    table_dir: str,
    n_files: int = 1,
    range_by: str | None = None,
    partition_by: str | None = None,
    transform: str = "identity",
) -> int:
    """Create a new Iceberg v2 table at ``table_dir`` holding ``df`` as
    snapshot 1. ``range_by`` range-partitions the write so data files
    carry DISJOINT bounds on that column (the stats-skipping layout);
    ``partition_by`` partitions the table instead — each data file holds
    exactly one partition value (``transform`` of the source column:
    ``identity`` or ``truncate[W]``), recorded as a typed tuple in the
    manifest (the partition column stays IN the data files, as the
    Iceberg spec requires — partitioning is metadata, not Hive dirs).
    Returns the snapshot id."""
    return _commit_snapshot(
        df, table_dir, n_files, range_by, partition_by, transform, first=True
    )


def append_iceberg(
    df: DataFrame,
    table_dir: str,
    n_files: int = 1,
    range_by: str | None = None,
    branch: str | None = None,
) -> int:
    """Append ``df`` as a new snapshot: prior manifests are carried
    forward by reference in the new manifest list; only the new files
    get a new manifest. A partitioned table's spec (including its
    transform) is inherited from the table metadata. ``branch`` targets
    a named branch ref instead of main (auto-created forking from the
    main head on first write — the staging half of write-audit-publish);
    main readers never see branch commits until ``fast_forward_iceberg``
    publishes them. Returns the new snapshot id."""
    return _commit_snapshot(
        df, table_dir, n_files, range_by, None, "identity", first=False,
        branch=branch,
    )


def append_iceberg_exactly_once(
    df: DataFrame,
    table_dir: str,
    app_id: str,
    epoch_id: int,
    n_files: int = 1,
    range_by: str | None = None,
) -> int | None:
    """Idempotent streaming-sink append — the Iceberg twin of the Delta
    exporter's transaction identifiers (ST2): each commit records
    ``(app-id, epoch)`` in its snapshot SUMMARY, and a replayed
    micro-batch (foreachBatch redelivery after a failure, epoch_id <=
    the highest committed epoch for this app) is SKIPPED instead of
    appended twice — at-least-once delivery composes to exactly-once
    table contents. Epochs must arrive in order per app (Structured
    Streaming's foreachBatch contract); a gap is fine, going backwards
    is the replay being absorbed. Returns the new snapshot id, or None
    when the epoch was already committed (the no-op replay).

    Scale: the dedup check reads snapshot summaries already in the
    loaded metadata — O(snapshots) driver-side, no data reads."""
    prev = _load_table_metadata(table_dir)
    committed = [
        int(s["summary"]["streaming-epoch"])
        for s in prev["snapshots"]
        if s.get("summary", {}).get("streaming-app-id") == app_id
        and "streaming-epoch" in s.get("summary", {})
    ]
    if committed and epoch_id <= max(committed):
        return None
    return _commit_snapshot(
        df, table_dir, n_files, range_by, None, "identity", first=False,
        extra_summary={
            "streaming-app-id": app_id,
            "streaming-epoch": str(epoch_id),
        },
    )


_MAX_PARTITIONS_PER_COMMIT = 64


class _CommitCtx:
    """Everything a commit needs that is derived from the PRIOR table
    state (or synthesized for a first export). Centralizing this is the
    fix for the foreign-append metadata bug: prior schemas, the current
    schema id, partition specs, and the sequence-number / snapshot-id
    counters are PRESERVED from the previous metadata instead of being
    re-derived from the metadata file version (which collides with
    foreign tables whose schema-id != 0 or whose snapshot ids are not
    1..n)."""

    def __init__(
        self,
        table_dir: str,
        df_for_schema: DataFrame | None,
        first: bool,
        branch: str | None = None,
    ):
        self.table_dir = table_dir
        self.meta_dir = os.path.join(table_dir, "metadata")
        self.branch = branch
        os.makedirs(self.meta_dir, exist_ok=True)
        if not first:
            self._load()
            return
        if branch is not None:
            raise IcebergError("a first export cannot target a branch")
        self.prev = None
        # exporting over an existing table replaces it as the next version
        self.version = (_head_version(self.meta_dir) or 0) + 1
        self.snapshot_id = 1
        self.seq = 1
        self.parent_id = None
        self.schema = _iceberg_schema(df_for_schema)
        self.schemas_out = [self.schema]
        self.current_schema_id = 0
        self.table_uuid = str(uuid.uuid4())
        self.prior_manifests: list[dict] = []
        self.snapshots: list[dict] = []
        self.partition_specs = [{"spec-id": 0, "fields": []}]
        self.default_spec_id = 0
        self.last_partition_id = 999

    def _load(self) -> None:
        prev = _load_table_metadata(self.table_dir)
        self.prev = prev
        self.version = prev["_version"] + 1
        self.schema = _schema_by_id(prev)
        self.current_schema_id = self.schema.get("schema-id", 0)
        # carry ALL prior schemas forward; v1 tables with a bare
        # ``schema`` get it wrapped under its own id
        self.schemas_out = prev.get("schemas") or [self.schema]
        self.table_uuid = prev["table-uuid"]
        # the commit's parent: the targeted branch's head (a branch
        # not yet in refs forks from the main head), else main
        parent_id = prev["current-snapshot-id"]
        if self.branch is not None:
            ref = (prev.get("refs") or {}).get(self.branch)
            if ref is not None:
                if ref.get("type") != "branch":
                    raise IcebergError(
                        f"ref {self.branch!r} is a {ref.get('type')!r}, not a "
                        "branch — tags are immutable"
                    )
                parent_id = ref["snapshot-id"]
        self.parent_id = parent_id
        cur = next(
            s
            for s in prev["snapshots"]
            if s["snapshot-id"] == parent_id
        )
        self.prior_manifests, _ = read_ocf(_local(cur["manifest-list"], self.table_dir))
        self.snapshots = prev["snapshots"]
        self.snapshot_id = max(s["snapshot-id"] for s in self.snapshots) + 1
        self.seq = (
            prev.get("last-sequence-number")
            or max(s.get("sequence-number", 0) for s in self.snapshots)
        ) + 1
        self.default_spec_id = prev.get("default-spec-id", 0)
        self.partition_specs = prev.get("partition-specs") or [
            {"spec-id": 0, "fields": prev.get("partition-spec", [])}
        ]
        self.last_partition_id = prev.get("last-partition-id", 999)

    def spec_fields(self) -> list[dict]:
        spec = next(
            sp for sp in self.partition_specs if sp["spec-id"] == self.default_spec_id
        )
        return spec["fields"]

    def manifest_meta(self) -> dict[str, bytes]:
        """Spec-required manifest header metadata: the WRITE-time table
        schema and its id (Iceberg spec: 'Manifests ... must store
        schema, schema-id, partition-spec ...'). This is what lets the
        reader resolve each data file's columns BY FIELD ID after a
        schema evolution — the file keeps its old column names; the
        manifest records which schema those names belong to."""
        return {
            "schema": json.dumps(self.schema).encode("utf-8"),
            "schema-id": str(self.current_schema_id).encode("utf-8"),
            "format-version": b"2",
        }

    def publish(self, att: commit.Attempt, manifests, operation: str,
                added_rows: int, extra_summary: dict | None = None,
                retry: bool = False) -> int:
        """Write the manifest list ``manifests()`` returns (it writes this
        attempt's manifests for the current snapshot id) and claim the
        next vN.metadata.json; returns the new snapshot id. With ``retry``
        (appends) a lost claim reloads the table and retries as the next
        snapshot, unless the winner changed the schema or partition spec."""
        list_path = att.own(os.path.join(self.meta_dir, f"snap-{att.token}.avro"))

        def render(_version: int) -> dict:
            write_ocf(list_path, manifests(), MANIFEST_LIST_SCHEMA)
            return self._metadata(list_path, operation, added_rows, extra_summary)

        def rebase(_lost: int) -> int:
            layout = (self.schema, self.spec_fields())
            self._load()
            if (self.schema, self.spec_fields()) != layout:
                raise commit.ConcurrentCommitError(
                    f"{self.table_dir}: a concurrent commit changed the schema "
                    "or partition spec this append was written under"
                )
            return self.version

        _commit_metadata(self.meta_dir, self.version, render, rebase if retry else None)
        return self.snapshot_id

    def _metadata(self, list_path: str, operation: str, added_rows: int,
                  extra_summary: dict | None) -> dict:
        now_ms = int(time.time() * 1000)
        summary = {"operation": operation, "added-records": str(added_rows)}
        summary.update(extra_summary or {})
        snapshots = self.snapshots + [
            {
                "snapshot-id": self.snapshot_id,
                "parent-snapshot-id": self.parent_id,
                "sequence-number": self.seq,
                "timestamp-ms": now_ms,
                "summary": summary,
                "manifest-list": list_path,
                "schema-id": self.current_schema_id,
            }
        ]
        last_col = (
            self.prev.get("last-column-id", _max_field_id(self.schema))
            if self.prev
            else _max_field_id(self.schema)
        )
        # refs: a branch commit moves ITS ref only (main stays — the
        # write-audit-publish contract); a main commit moves
        # current-snapshot-id and the implicit main branch ref together
        refs = dict((self.prev or {}).get("refs") or {})
        prev_log = list((self.prev or {}).get("snapshot-log") or [])
        if self.branch is None:
            current_id = self.snapshot_id
            refs["main"] = {"snapshot-id": current_id, "type": "branch"}
            log = prev_log + [
                {"snapshot-id": self.snapshot_id, "timestamp-ms": now_ms}
            ]
        else:
            current_id = self.prev["current-snapshot-id"]
            refs[self.branch] = {
                "snapshot-id": self.snapshot_id,
                "type": "branch",
            }
            log = prev_log  # the main timeline did not move
        return {
            "format-version": 2,
            "table-uuid": self.table_uuid,
            "location": self.table_dir,
            "last-sequence-number": self.seq,
            "last-updated-ms": now_ms,
            "last-column-id": last_col,
            "current-schema-id": self.current_schema_id,
            "schemas": self.schemas_out,
            "default-spec-id": self.default_spec_id,
            "partition-specs": self.partition_specs,
            "last-partition-id": self.last_partition_id,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "current-snapshot-id": current_id,
            "refs": refs,
            "snapshots": snapshots,
            "snapshot-log": log,
            "metadata-log": [],
        }


def _data_entry(path: str, part_tuple: dict, snapshot_id: int,
                id_by_name: dict[str, int], ice_types: dict) -> tuple[dict, int]:
    n_rows, size, lowers, uppers = _file_stats(path, id_by_name, ice_types)
    return {
        "status": 1,  # ADDED
        "snapshot_id": snapshot_id,
        "sequence_number": None,  # inherited from the manifest list
        "file_sequence_number": None,
        "data_file": {
            "content": 0,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": part_tuple,
            "record_count": n_rows,
            "file_size_in_bytes": size,
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": _to_kv(lowers),
            "upper_bounds": _to_kv(uppers),
        },
    }, n_rows


def _write_partitioned_files(
    att: commit.Attempt,
    df: DataFrame,
    table_dir: str,
    part_transforms: list[tuple[str, str, int | None, str]],
    ice_types: dict[str, str],
) -> list[tuple[str, dict]]:
    """One data file per partition VALUE — every file holds exactly one
    partition tuple, the invariant manifests encode. Partitioning is for
    bounded-cardinality layouts; the distinct collect is capped, refusing
    silently-unbounded specs.

    ONE distributed pass: the rows are tagged with the INDEX of their
    partition value (broadcast join against the collected value list —
    typed in-engine equality, never a string round-trip through dir
    names), shuffled by that index so each value lands wholly in one
    task, and written with ``partitionBy`` in a single job. The previous
    shape ran one filtered scan + write of the WHOLE frame per partition
    value — O(P) source scans, which at production scale multiplies the
    read bytes by the partition count (guide §1.2 step 1 / §2.4). Row
    sets per file are identical (same value ↔ file mapping), so per-file
    bounds and manifests are unchanged; only intra-file row order moves.
    """
    pname, src_col, w, kind = part_transforms[0]
    texpr = _transform_expr(kind, w, src_col, ice_types[src_col])
    values = [
        r[0]
        for r in df.select(texpr.alias("__p")).distinct().limit(
            _MAX_PARTITIONS_PER_COMMIT + 1
        ).collect()
    ]
    if len(values) > _MAX_PARTITIONS_PER_COMMIT:
        raise IcebergError(
            f"more than {_MAX_PARTITIONS_PER_COMMIT} distinct values of "
            f"{kind}({src_col!r}) in one commit — partitioning is for "
            "bounded-cardinality columns; widen the truncate width or "
            "bucket first"
        )
    if any(v is None for v in values):
        raise IcebergError(
            f"NULL partition value in {src_col!r}: null partition tuples "
            "are not supported"
        )
    if not values:
        raise IcebergError("partitioned data write produced no parquet files")
    values = sorted(values)
    # the tag columns are internal; a source schema that already uses the
    # names would be silently clobbered into the written files (r12
    # ADVICE) — refuse loudly
    clash = {"__p", "__pi"}.intersection(df.columns)
    if clash:
        raise IcebergError(
            f"source columns {sorted(clash)} collide with the partitioned "
            "writer's internal tag names; rename them before writing"
        )
    spark = df.sparkSession
    idx_df = local_frame(
        spark,
        [(v, i) for i, v in enumerate(values)],
        df.select(texpr.alias("__p")).withColumn("__pi", F.lit(0)).schema,
    )
    out_dir = _data_dir(table_dir, att)
    att.stage_into(
        df.withColumn("__p", texpr)
        .join(F.broadcast(idx_df), "__p")
        .select(*df.columns, "__pi")
        .repartition(F.col("__pi"))
        .write.partitionBy("__pi")
        .parquet,
        out_dir,
    )
    files_with_parts: list[tuple[str, dict]] = []
    for i, v in enumerate(values):
        part_files = sorted(
            glob.glob(os.path.join(out_dir, f"__pi={i}", "*.parquet"))
        )
        if not part_files:
            raise IcebergError(
                f"partitioned write lost partition value {v!r}"
            )
        for fp in part_files:
            files_with_parts.append((fp, {pname: v}))
    return files_with_parts


def _part_transforms_of(schema: dict, spec_fields: list[dict]):
    """[(partition field name, source column, width, kind)] + avro value
    types for the manifest's r102 partition record."""
    by_id = {f["id"]: f for f in schema["fields"]}
    part_avro: list[tuple[str, str]] = []
    part_transforms: list[tuple[str, str, int | None, str]] = []
    for sf in spec_fields:
        kind, w = _parse_transform(sf.get("transform", "identity"))
        src = by_id.get(sf["source-id"])
        if src is None:
            raise IcebergError(
                f"partition spec source-id {sf['source-id']} not in schema"
            )
        part_avro.append((sf["name"], _partition_value_avro(kind, src["type"])))
        part_transforms.append((sf["name"], src["name"], w, kind))
    return part_avro, part_transforms


def _commit_snapshot(
    df: DataFrame,
    table_dir: str,
    n_files: int,
    range_by: str | None,
    partition_by: str | None,
    transform: str,
    first: bool,
    branch: str | None = None,
    extra_summary: dict | None = None,
) -> int:
    ctx = _CommitCtx(table_dir, df, first, branch=branch)
    schema = ctx.schema
    if first and partition_by is not None:
        kind, _w = _parse_transform(transform)
        fld = next((f for f in schema["fields"] if f["name"] == partition_by), None)
        if fld is None:
            raise IcebergError(f"partition column {partition_by!r} not in schema")
        _partition_value_avro(kind, fld["type"])  # validates the pairing
        ctx.partition_specs = [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": _spec_field_name(kind, partition_by),
                        "transform": transform,
                        "source-id": fld["id"],
                        "field-id": 1000,
                    }
                ],
            }
        ]
        ctx.last_partition_id = 1000
    if not first:
        if [f["name"] for f in schema["fields"]] != df.columns:
            raise IcebergError(
                "append schema mismatch: table columns "
                f"{[f['name'] for f in schema['fields']]} vs batch {df.columns}"
            )

    df = _with_field_ids(df, schema)
    with commit.Attempt(table_dir) as att:
        entries, added_rows, part_avro = _write_data(att, ctx, df, n_files, range_by)

        def manifests() -> list[dict]:
            # rewritten per claim attempt: a retried append becomes the
            # next snapshot id over the winner's manifests
            for e in entries:
                e["snapshot_id"] = ctx.snapshot_id
            return [
                _write_manifest(att, ctx, "", entries, part_avro, 0, added_rows)
            ] + ctx.prior_manifests

        return ctx.publish(
            att, manifests, "append", added_rows, extra_summary, retry=not first
        )


def _write_data(att: commit.Attempt, ctx: _CommitCtx, df: DataFrame,
                n_files: int, range_by: str | None):
    """Write ``df`` as this attempt's data files under the table's default
    spec; returns (manifest entries, row count, avro partition types)."""
    ice_types = {f["name"]: f["type"] for f in ctx.schema["fields"]}
    part_avro, part_transforms = _part_transforms_of(ctx.schema, ctx.spec_fields())
    if part_transforms:
        files = _write_partitioned_files(att, df, ctx.table_dir, part_transforms, ice_types)
    else:
        shaped = (
            df.repartitionByRange(n_files, range_by)
            if range_by and n_files > 1
            else df.coalesce(1) if n_files == 1 else df.repartition(n_files)
        )
        files = [(p, {}) for p in att.stage_into(shaped.write.parquet, _data_dir(ctx.table_dir, att))]
        if not files:
            raise IcebergError("data write produced no parquet files")
    return (*_data_entries(ctx, files), part_avro)


def _data_entries(ctx: _CommitCtx, files_with_parts) -> tuple[list[dict], int]:
    """ADDED manifest entries (footer stats) for ``(path, partition)``
    pairs, and their total row count."""
    id_by_name = {f["name"]: f["id"] for f in ctx.schema["fields"]}
    ice_types = {f["name"]: f["type"] for f in ctx.schema["fields"]}
    pairs = [
        _data_entry(p, part, ctx.snapshot_id, id_by_name, ice_types)
        for p, part in files_with_parts
    ]
    return [e for e, _ in pairs], sum(n for _, n in pairs)


def _write_manifest(att: commit.Attempt, ctx: _CommitCtx, suffix: str,
                    entries: list[dict], part_avro, content: int, n_rows: int,
                    spec_id: int | None = None) -> dict:
    """Write this attempt's manifest ``m-<token><suffix>.avro`` under the
    table schema; returns its manifest-list entry."""
    path = att.own(os.path.join(ctx.meta_dir, f"m-{att.token}{suffix}.avro"))
    write_ocf(path, entries, _manifest_entry_schema(part_avro), extra_meta=ctx.manifest_meta())
    return {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": ctx.default_spec_id if spec_id is None else spec_id,
        "content": content,
        "sequence_number": ctx.seq,
        "min_sequence_number": ctx.seq,
        "added_snapshot_id": ctx.snapshot_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }


def delete_rows_iceberg(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    equality_by: list[str] | None = None,
) -> int:
    """Commit an Iceberg v2 DELETE snapshot — merge-on-read, data files
    never rewritten (the Delta deletion-vector write shape):

    * default (``equality_by=None``): a POSITION delete — rows of the
      current snapshot matching ``predicate`` are masked by a
      spec-sorted parquet file of ``(file_path, pos)`` rows (content=1);
    * ``equality_by=[cols]``: an EQUALITY delete — the DISTINCT
      ``equality_by`` tuples of matching rows are written as the delete
      file (content=2, ``equality_ids`` recording their field ids); the
      reader masks data files whose sequence number is STRICTLY BELOW
      the delete's, so rows re-appended later with the same key survive
      (the spec's upsert building block).

    Scale: one distributed pass over the table's data files; the
    (file -> recorded path) mapping joins through a broadcast bounded by
    file count; an equality delete's cardinality is the distinct key
    count, usually tiny. Returns the new snapshot id.

    Partitioned tables are supported too (round 12 close-out): the
    delete manifest is written under a dedicated UNPARTITIONED spec —
    global deletes, spec-legal, applied by path+pos / key regardless of
    which partition a row lives in. Predicates matching zero rows refuse
    (an empty delete commit is a sign of caller error, not a no-op to
    hide)."""
    ctx = _CommitCtx(table_dir, None, first=False)
    delete_spec_id = ctx.default_spec_id
    if ctx.spec_fields():
        # find-or-add an unpartitioned spec for the delete manifest
        empty = next(
            (sp for sp in ctx.partition_specs if not sp["fields"]), None
        )
        if empty is None:
            empty = {
                "spec-id": max(sp["spec-id"] for sp in ctx.partition_specs) + 1,
                "fields": [],
            }
            ctx.partition_specs = ctx.partition_specs + [empty]
        delete_spec_id = empty["spec-id"]
    table = IcebergTable(spark, table_dir)
    data = table.data_files()
    # canonical local path -> manifest-recorded path (bounded by file count)
    mapping = [
        (os.path.abspath(_local(f["path"], table_dir)), f["path"]) for f in data
    ]
    # the predicate speaks CURRENT column names; files written before a
    # schema evolution keep old physical names, so the scan resolves by
    # field id exactly like a read (carrying the path/row-index meta)
    base, _ = table._scan_resolved(data, with_meta=True)
    equality_ids = None
    if equality_by is None:
        map_df = F.broadcast(
            local_frame(spark, mapping, "__cf string, file_path string")
        )
        rows = (
            base.where(F.expr(predicate))
            .select(F.col("__cf"), F.col("__ri").alias("pos"))
            .join(map_df, "__cf")
            .select("file_path", "pos")
        )
        # the spec requires position deletes sorted by (file_path, pos)
        rows = rows.coalesce(1).sortWithinPartitions("file_path", "pos")
        content = 1
    else:
        id_by_name = {f["name"]: f["id"] for f in ctx.schema["fields"]}
        missing = [c for c in equality_by if c not in id_by_name]
        if missing:
            raise IcebergError(f"equality_by columns {missing} not in schema")
        equality_ids = [id_by_name[c] for c in equality_by]
        rows = (
            base.where(F.expr(predicate))
            .select(*equality_by)
            .distinct()
            .coalesce(1)
        )
        content = 2
    with commit.Attempt(table_dir) as att:
        dfiles = att.stage_into(rows.write.parquet, _data_dir(table_dir, att) + "-deletes")
        if not dfiles:
            raise IcebergError("delete write produced no parquet files")
        entries = []
        n_deleted = 0
        for p in dfiles:
            n_rows, size = footer_stats(p)[0], os.path.getsize(p)
            n_deleted += n_rows
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": ctx.snapshot_id,
                    "sequence_number": None,
                    "file_sequence_number": None,
                    "data_file": {
                        "content": content,  # 1=position deletes, 2=equality
                        "file_path": p,
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": n_rows,
                        "file_size_in_bytes": size,
                        "value_counts": None,
                        "null_value_counts": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": equality_ids,
                    },
                }
            )
        if n_deleted == 0:
            raise IcebergError(
                f"predicate {predicate!r} matched no rows — refusing an empty "
                "delete commit"
            )

        def manifests() -> list[dict]:
            m = _write_manifest(att, ctx, "-deletes", entries, [], 1, 0, spec_id=delete_spec_id)
            m["deleted_rows_count"] = n_deleted
            return [m] + ctx.prior_manifests

        return ctx.publish(att, manifests, "delete", 0, {"deleted-records": str(n_deleted)})


def compact_iceberg(spark: SparkSession, table_dir: str, n_files: int = 1) -> int:
    """Compaction (the OPTIMIZE twin of the versioned table's rewrite and
    Delta's OPTIMIZE): materialize the table's CURRENT logical content —
    position deletes applied — into ``n_files`` fresh data files and
    commit a REPLACE snapshot whose manifest list carries ONLY the new
    manifest (no carried references: that is what makes the old files
    reclaimable by ``expire_snapshots_iceberg``). Time travel to prior
    snapshots keeps working until they are expired; ``read_tail`` refuses
    ranges crossing the replace, as the spec's semantics require (a
    rewrite is not representable as inserts). Partitioned tables rewrite
    one file per live partition tuple through the same transform
    machinery the partitioned write path uses (``n_files`` applies to
    unpartitioned tables only)."""
    ctx = _CommitCtx(table_dir, None, first=False)
    content = _with_field_ids(
        IcebergTable(spark, table_dir).read(), ctx.schema  # deletes applied
    )
    with commit.Attempt(table_dir) as att:
        entries, total_rows, part_avro = _write_data(att, ctx, content, n_files, None)
        return ctx.publish(
            att,
            lambda: [_write_manifest(att, ctx, "", entries, part_avro, 0, total_rows)],
            "replace",
            total_rows,
        )


def rewrite_manifests_iceberg(table_dir: str) -> dict:
    """Manifest compaction — the METADATA-level small-files fix: every
    append adds one manifest to the list, so a table built from 10k
    micro-batch commits plans every read through 10k Avro files. This
    op merges the current snapshot's manifests into ONE manifest per
    (content, partition-spec, write-schema) group, carrying every live
    entry VERBATIM as EXISTING (status 0) with its original snapshot id
    and an EXPLICIT sequence number (the spec's rule for carried
    entries — nothing inherits from the new manifest list), so reads,
    time-travel masking, and equality-delete sequence checks are
    byte-for-byte unaffected. The commit is a ``replace`` snapshot with
    a ``manifests-rewritten`` summary marker that the incremental tail
    and the streaming source SKIP (it adds no rows), unlike a data
    compaction, which they refuse.

    Pure metadata: O(manifest entries) driver-side; no data files are
    read, moved, or rewritten. Old manifests stay referenced by older
    snapshots until ``expire_snapshots_iceberg`` reclaims them. Returns
    {"manifests_before", "manifests_after", "snapshot_id"} (snapshot_id
    None = already compact, no commit)."""
    ctx = _CommitCtx(table_dir, None, first=False)
    groups: dict[tuple, dict] = {}
    for m in ctx.prior_manifests:
        entries, _, mmeta = read_ocf_full(_local(m["manifest_path"], ctx.table_dir))
        key = (
            m.get("content", 0),
            m.get("partition_spec_id", 0),
            mmeta.get("schema"),
            mmeta.get("schema-id"),
        )
        g = groups.setdefault(key, {"entries": [], "rows": 0, "min_seq": None})
        mseq = m.get("sequence_number", 0)
        for e in entries:
            if e["status"] == 2:  # DELETED: drop tombstones while merging
                continue
            seq = e["sequence_number"] if e.get("sequence_number") is not None else mseq
            fseq = (
                e["file_sequence_number"]
                if e.get("file_sequence_number") is not None
                else mseq
            )
            g["entries"].append(
                {
                    **e,
                    "status": 0,  # EXISTING
                    "sequence_number": seq,
                    "file_sequence_number": fseq,
                }
            )
            g["rows"] += e["data_file"]["record_count"]
            g["min_seq"] = seq if g["min_seq"] is None else min(g["min_seq"], seq)
    before = len(ctx.prior_manifests)
    if before <= len(groups):
        return {"manifests_before": before, "manifests_after": before,
                "snapshot_id": None}

    with commit.Attempt(table_dir) as att:
        spec_by_id = {sp["spec-id"]: sp["fields"] for sp in ctx.partition_specs}
        list_entries = []
        for i, (key, g) in enumerate(sorted(groups.items(), key=lambda kv: str(kv[0]))):
            content, spec_id, raw_schema, raw_sid = key
            schema = (
                json.loads(raw_schema.decode("utf-8"))
                if raw_schema is not None
                else ctx.schema
            )
            spec_fields = spec_by_id.get(spec_id, [])
            part_avro, _ = _part_transforms_of(schema, spec_fields)
            mpath = att.own(os.path.join(ctx.meta_dir, f"m-{att.token}-rw{i}.avro"))
            extra = {"format-version": b"2"}
            if raw_schema is not None:
                extra["schema"] = raw_schema
            if raw_sid is not None:
                extra["schema-id"] = raw_sid
            write_ocf(mpath, g["entries"], _manifest_entry_schema(part_avro), extra_meta=extra)
            list_entries.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": spec_id,
                    "content": content,
                    "sequence_number": ctx.seq,
                    "min_sequence_number": g["min_seq"] if g["min_seq"] is not None else ctx.seq,
                    "added_snapshot_id": ctx.snapshot_id,
                    "added_files_count": 0,
                    "existing_files_count": len(g["entries"]),
                    "deleted_files_count": 0,
                    "added_rows_count": 0,
                    "existing_rows_count": g["rows"],
                    "deleted_rows_count": 0,
                }
            )
        sid = ctx.publish(
            att, lambda: list_entries, "replace", 0,
            {"manifests-rewritten": str(before)},
        )
    return {"manifests_before": before, "manifests_after": len(list_entries),
            "snapshot_id": sid}


def expire_snapshots_iceberg(table_dir: str, keep_last: int = 1) -> dict:
    """Snapshot expiry + orphan-file cleanup — the Iceberg lifecycle twin
    of the versioned table's VACUUM (and of Delta's retention cleanup):
    keep the newest ``keep_last`` snapshots, drop the rest from the
    snapshot log, then ``commit.reclaim`` every file under the table's
    root that no kept snapshot's manifest list, manifests or data/delete
    files name — a killed writer's files too, even when no snapshot
    expires. Files outside the root (a converted Delta table's) are never
    touched. Must not run concurrently with a writer.

    Scale: pure metadata work, O(manifests + files) driver-side; no data
    bytes are read. Returns {"expired_snapshots", "files_removed",
    "manifests_removed"} (manifest lists count as manifests).

    Refuses keep_last < 1 (expiring the current snapshot would orphan
    the table)."""
    if keep_last < 1:
        raise IcebergError("keep_last must be >= 1 (the current snapshot stays)")
    prev = _load_table_metadata(table_dir)
    snaps = sorted(prev["snapshots"], key=lambda s: s.get("sequence-number", 0))
    # snapshots pinned by a ref (tag or branch head) are never expired,
    # whatever their age — dropping the ref makes them expirable again
    ref_ids = {r["snapshot-id"] for r in (prev.get("refs") or {}).values()}
    # "newest keep_last" counts over the MAIN ANCESTRY: snapshots a
    # rollback abandoned (or branch commits whose ref was dropped) left
    # the time line and are expirable regardless of recency; snapshots
    # without parent tracking predate branches and are main-line
    by_id = {s["snapshot-id"]: s for s in prev["snapshots"]}
    ancestry: set[int] = set()
    walk = prev.get("current-snapshot-id")
    while walk is not None and walk in by_id and walk not in ancestry:
        ancestry.add(walk)
        walk = by_id[walk].get("parent-snapshot-id")
    main = [
        s for s in snaps
        if "parent-snapshot-id" not in s or s["snapshot-id"] in ancestry
    ]
    # a table of at most keep_last snapshots expires none
    newest = main[-keep_last:] if len(snaps) > keep_last else snaps
    kept_ids = {s["snapshot-id"] for s in newest} | ref_ids
    kept = [s for s in snaps if s["snapshot-id"] in kept_ids]
    kept_ids = {s["snapshot-id"] for s in kept}
    expired = [s for s in snaps if s["snapshot-id"] not in kept_ids]
    if expired and prev["current-snapshot-id"] not in kept_ids:
        raise IcebergError(
            "refusing to expire the current snapshot "
            f"({prev['current-snapshot-id']}) — it must be among the newest "
            f"{keep_last}"
        )
    # publish first: a lost claim then raises before a file is touched,
    # and a crash after it leaves orphans, never dangling references
    snapshot_log = [
        {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
        for s in kept
    ]
    if expired:
        _write_metadata_update(
            table_dir, prev, {"snapshots": kept, "snapshot-log": snapshot_log}
        )
    live: set[str] = set()
    for s in kept:
        lp = _local(s["manifest-list"], table_dir)
        live.add(lp)
        for m in read_ocf(lp)[0]:
            mp = _local(m["manifest_path"], table_dir)
            if mp not in live:  # carried manifests are shared across snapshots
                live.add(mp)
                live.update(
                    _local(e["data_file"]["file_path"], table_dir)
                    for e in read_ocf(mp)[0]
                )
    removed = commit.reclaim(
        table_dir, live, ("metadata/v*.metadata.json", "metadata/version-hint.text")
    )
    manifests = sum(1 for r in removed if r.startswith("metadata/"))
    return {
        "expired_snapshots": [s["snapshot-id"] for s in expired],
        "files_removed": len(removed) - manifests,
        "manifests_removed": manifests,
    }


_EVOLVE_PRIMITIVES = set(_ICEBERG_TO_SPARK)


def evolve_schema_iceberg(
    table_dir: str,
    renames: dict[str, str] | None = None,
    adds: list[tuple[str, str]] | None = None,
    drops: list[str] | None = None,
) -> int:
    """Commit a schema evolution as a METADATA-ONLY update (no snapshot,
    no data rewritten — the whole point of Iceberg's field-id design):

    * ``renames``: {old_name: new_name} — fields keep their ids and
      types; existing data files keep the OLD physical column name and
      resolve by id on read;
    * ``adds``: [(name, iceberg_primitive_type)] — new OPTIONAL fields
      with fresh ids above ``last-column-id``; rows in pre-existing
      files read as NULL;
    * ``drops``: [name] — the field leaves the current schema (its id is
      never reused); bounds recorded under it stop decoding, data files
      keep the bytes.

    The new schema is APPENDED to ``schemas`` under a fresh schema-id
    and ``current-schema-id`` moves — prior snapshots keep their
    write-time schema-id, so time travel reads old shapes verbatim.
    Top-level fields only; dropping/renaming a partition-spec source
    column refuses (specs reference source ids; a dropped source would
    orphan them). Returns the new schema id."""
    renames = dict(renames or {})
    adds = list(adds or [])
    drops = list(drops or [])
    if not (renames or adds or drops):
        raise IcebergError("schema evolution with no changes")
    prev = _load_table_metadata(table_dir)
    if prev.get("format-version") != 2:
        raise IcebergError(
            "schema evolution supports format-version 2 tables only "
            f"(got {prev.get('format-version')!r})"
        )
    cur = _schema_by_id(prev)
    by_name = {f["name"]: f for f in cur["fields"]}
    for old in list(renames) + drops:
        if old not in by_name:
            raise IcebergError(f"schema evolution references unknown column {old!r}")
        if not isinstance(by_name[old]["type"], str):
            raise IcebergError(
                f"column {old!r} is nested — nested schema evolution is not "
                "supported (top-level primitives only)"
            )
    overlap = set(renames) & set(drops)
    if overlap:
        raise IcebergError(f"columns both renamed and dropped: {sorted(overlap)}")
    spec_source_ids = {
        sf["source-id"]
        for sp in (prev.get("partition-specs") or [])
        for sf in sp.get("fields", [])
    }
    for old in drops:
        if by_name[old]["id"] in spec_source_ids:
            raise IcebergError(
                f"column {old!r} is a partition-spec source — drop refuses "
                "(the spec would reference an orphaned field id)"
            )
    next_id = prev.get("last-column-id", _max_field_id(cur)) + 1
    new_fields = [
        {**f, "name": renames.get(f["name"], f["name"])}
        for f in cur["fields"]
        if f["name"] not in set(drops)
    ]
    for name, ice_type in adds:
        if ice_type not in _EVOLVE_PRIMITIVES:
            raise IcebergError(
                f"added column {name!r} has unsupported type {ice_type!r} "
                f"(supported: {sorted(_EVOLVE_PRIMITIVES)})"
            )
        new_fields.append(
            {"id": next_id, "name": name, "required": False, "type": ice_type}
        )
        next_id += 1
    names = [f["name"] for f in new_fields]
    if len(names) != len(set(names)):
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise IcebergError(f"schema evolution produces duplicate columns {dupes}")
    if not new_fields:
        raise IcebergError("schema evolution drops every column")
    schemas_out = prev.get("schemas") or [
        {**cur, "schema-id": prev.get("current-schema-id", 0)}
    ]
    new_sid = max(sc.get("schema-id", 0) for sc in schemas_out) + 1
    new_schema = {"type": "struct", "schema-id": new_sid, "fields": new_fields}
    _write_metadata_update(
        table_dir,
        prev,
        {
            "schemas": schemas_out + [new_schema],
            "current-schema-id": new_sid,
            "last-column-id": max(prev.get("last-column-id", 0), next_id - 1),
        },
    )
    return new_sid


def _commit_metadata(meta_dir: str, version: int, render, rebase=None) -> int:
    """Claim ``vN.metadata.json`` (``render(N)`` gives its content)
    through the commit kernel, then point ``version-hint.text`` at the
    claimed version — the shared tail of every commit. A hint written
    late by a slower winner only lags: readers roll forward from it."""
    version = commit.publish(
        lambda v: os.path.join(meta_dir, f"v{v}.metadata.json"),
        version,
        lambda v: json.dumps(render(v)),
        rebase,
    )
    commit.replace_atomic(os.path.join(meta_dir, "version-hint.text"), str(version))
    return version


def _write_metadata_update(table_dir: str, prev: dict, updates: dict) -> None:
    """Commit a metadata-only change: copy the previous metadata, replace
    the top-level ``updates``, bump the version, refresh the hint. (The
    shared tail of every snapshot-less commit: expiry, schema/spec
    evolution, refs.) A concurrent commit makes it raise
    ConcurrentCommitError."""
    meta = {k: v for k, v in prev.items() if not k.startswith("_")}
    meta.update(updates)
    meta["last-updated-ms"] = int(time.time() * 1000)
    _commit_metadata(os.path.join(table_dir, "metadata"), prev["_version"] + 1, lambda _v: meta)


def _move_main(prev: dict, snapshot_id: int) -> dict:
    """Metadata updates that point main (the current snapshot and its
    branch ref) at ``snapshot_id`` and log the move."""
    return {
        "current-snapshot-id": snapshot_id,
        "refs": {
            **(prev.get("refs") or {}),
            "main": {"snapshot-id": snapshot_id, "type": "branch"},
        },
        "snapshot-log": list(prev.get("snapshot-log") or [])
        + [{"snapshot-id": snapshot_id, "timestamp-ms": int(time.time() * 1000)}],
    }


def tag_iceberg(table_dir: str, name: str, snapshot_id: int | None = None) -> int:
    """Create an immutable TAG ref pinning a snapshot (default: the
    current one) under a stable name — the spec's ``refs`` map. Tagged
    snapshots survive ``expire_snapshots_iceberg`` regardless of age;
    reads resolve the name through ``IcebergTable.ref_snapshot_id``.
    Metadata-only. Refuses name collisions and 'main' (owned by the
    current-snapshot pointer)."""
    prev = _load_table_metadata(table_dir)
    if name == "main":
        raise IcebergError("'main' is the implicit current branch — pick another name")
    if name in (prev.get("refs") or {}):
        raise IcebergError(f"ref {name!r} already exists")
    sid = snapshot_id if snapshot_id is not None else prev["current-snapshot-id"]
    if sid not in {s["snapshot-id"] for s in prev["snapshots"]}:
        raise IcebergError(f"snapshot {sid} not in table — cannot tag it")
    refs = {**(prev.get("refs") or {}), name: {"snapshot-id": sid, "type": "tag"}}
    _write_metadata_update(table_dir, prev, {"refs": refs})
    return sid


def drop_ref_iceberg(table_dir: str, name: str) -> None:
    """Remove a tag or branch ref (its snapshots become expirable like
    any other). Refuses 'main' and unknown names."""
    prev = _load_table_metadata(table_dir)
    if name == "main":
        raise IcebergError("cannot drop 'main'")
    if name not in (prev.get("refs") or {}):
        raise IcebergError(f"ref {name!r} does not exist")
    refs = {k: v for k, v in prev["refs"].items() if k != name}
    _write_metadata_update(table_dir, prev, {"refs": refs})


def fast_forward_iceberg(table_dir: str, branch: str) -> int:
    """PUBLISH a staged branch: fast-forward main to the branch head —
    the closing half of write-audit-publish. Requires main's current
    snapshot to be an ANCESTOR of the branch head (walking
    parent-snapshot-id), i.e. the branch strictly extends main; anything
    else is not a fast-forward and refuses (this writer has no merge
    commits). Metadata-only — the branch's snapshots were fully
    committed at append time; publishing moves a pointer. Returns the
    new current snapshot id."""
    prev = _load_table_metadata(table_dir)
    ref = (prev.get("refs") or {}).get(branch)
    if ref is None or ref.get("type") != "branch":
        raise IcebergError(f"no branch ref {branch!r} to fast-forward from")
    head = ref["snapshot-id"]
    cur = prev["current-snapshot-id"]
    by_id = {s["snapshot-id"]: s for s in prev["snapshots"]}
    walk = head
    while walk is not None and walk != cur:
        walk = by_id.get(walk, {}).get("parent-snapshot-id")
    if walk != cur:
        raise IcebergError(
            f"branch {branch!r} (head {head}) does not descend from the "
            f"current snapshot {cur} — not a fast-forward"
        )
    if head == cur:
        raise IcebergError(f"branch {branch!r} is already at main — nothing to publish")
    _write_metadata_update(table_dir, prev, _move_main(prev, head))
    return head


def rollback_iceberg(table_dir: str, snapshot_id: int) -> int:
    """Roll the table back to an earlier snapshot — the recovery op
    after a bad commit: ``current-snapshot-id`` moves to ``snapshot_id``
    (which must be a MAIN-ancestry ancestor of the current head; other
    ids — branch heads, already-abandoned commits — refuse), the main
    ref follows, and the rollback is logged. Metadata-only; nothing is
    deleted — the abandoned commits stay time-travelable until
    ``expire_snapshots_iceberg`` reclaims them (they leave the main
    ancestry, so ancestry-aware expiry treats them like unpublished
    branches). The next append forks from the rolled-back head, exactly
    like git reset. Returns the new current snapshot id."""
    prev = _load_table_metadata(table_dir)
    cur = prev["current-snapshot-id"]
    if snapshot_id == cur:
        raise IcebergError(f"already at snapshot {snapshot_id} — nothing to roll back")
    by_id = {s["snapshot-id"]: s for s in prev["snapshots"]}
    walk = cur
    while walk is not None and walk != snapshot_id:
        walk = by_id.get(walk, {}).get("parent-snapshot-id")
    if walk != snapshot_id:
        raise IcebergError(
            f"snapshot {snapshot_id} is not an ancestor of the current "
            f"snapshot {cur} — rollback follows the main time line only"
        )
    _write_metadata_update(table_dir, prev, _move_main(prev, snapshot_id))
    return snapshot_id


def evolve_partition_spec_iceberg(
    table_dir: str,
    partition_by: str | None,
    transform: str = "identity",
) -> int:
    """Commit a PARTITION SPEC evolution as a metadata-only update (no
    snapshot, no data moved — Iceberg partitioning is manifest metadata,
    so changing the spec never rewrites files): a new spec is appended
    under a fresh spec-id and ``default-spec-id`` moves. Existing files
    keep their ORIGINAL spec's partition tuples (each manifest-list
    entry records its ``partition_spec_id``); only future appends write
    under the new layout. ``partition_by=None`` evolves to the
    UNPARTITIONED spec (empty fields). The classic lifecycle this
    enables: start identity(status), later re-layout by year(ts) as the
    table grows — and the reader's source-column pruning stays correct
    across the boundary because it resolves each FILE's transform
    through that file's own spec (files whose spec does not cover the
    predicate column are kept, never guessed at).

    The new spec's partition field takes a fresh field-id above
    ``last-partition-id`` (ids are never reused across specs, per spec);
    an existing spec with identical fields is REUSED instead of
    duplicated. Returns the new default spec id."""
    prev = _load_table_metadata(table_dir)
    if prev.get("format-version") != 2:
        raise IcebergError(
            "partition spec evolution supports format-version 2 tables "
            f"only (got {prev.get('format-version')!r})"
        )
    cur = _schema_by_id(prev)
    specs = prev.get("partition-specs") or [
        {"spec-id": 0, "fields": prev.get("partition-spec", [])}
    ]
    last_pid = prev.get("last-partition-id", 999)
    if partition_by is None:
        new_fields: list[dict] = []
    else:
        fld = next(
            (f for f in cur["fields"] if f["name"] == partition_by), None
        )
        if fld is None:
            raise IcebergError(
                f"partition column {partition_by!r} not in the current schema"
            )
        kind, _w = _parse_transform(transform)
        _partition_value_avro(kind, fld["type"])  # validates the pairing
        new_fields = [
            {
                "name": _spec_field_name(kind, partition_by),
                "transform": transform,
                "source-id": fld["id"],
                "field-id": last_pid + 1,
            }
        ]

    def _key(fields):
        return [(f["transform"], f["source-id"]) for f in fields]

    default_sid = prev.get("default-spec-id", 0)
    cur_spec = next(sp for sp in specs if sp["spec-id"] == default_sid)
    if _key(cur_spec["fields"]) == _key(new_fields):
        raise IcebergError(
            "partition spec evolution with no change (the default spec "
            "already has this layout)"
        )
    reuse = next(
        (sp for sp in specs if _key(sp["fields"]) == _key(new_fields)), None
    )
    if reuse is not None:
        new_sid = reuse["spec-id"]
        specs_out = specs
    else:
        new_sid = max(sp["spec-id"] for sp in specs) + 1
        specs_out = specs + [{"spec-id": new_sid, "fields": new_fields}]
        last_pid = max([last_pid] + [f["field-id"] for f in new_fields])

    _write_metadata_update(
        table_dir,
        prev,
        {
            "partition-specs": specs_out,
            "default-spec-id": new_sid,
            "last-partition-id": last_pid,
        },
    )
    return new_sid


def convert_delta_to_iceberg(
    spark: SparkSession, delta_dir: str, iceberg_dir: str
) -> int:
    """ZERO-COPY Delta -> Iceberg migration: write Iceberg v2 metadata
    (schema with field ids, manifest with per-file footer bounds,
    manifest list, vN.metadata.json) that references the Delta table's
    CURRENT live parquet files BY ABSOLUTE PATH — no data byte is read
    into memory or rewritten; the driver-side cost is one footer read
    per file, O(files), exactly like an export's stats pass. Both
    formats store plain parquet, so the physical files serve both tables
    afterwards (the Delta log remains the Delta table's truth; the new
    Iceberg table owns only its own metadata directory). The referenced
    files lie outside the Iceberg table's root, so its expiry never
    reclaims them, even once compaction leaves them unreferenced; only
    the Delta table's own vacuum removes them.

    Honest refusals — conversions that would change data or lie:
    partitioned Delta tables (Hive-layout partition columns are NOT in
    the data files, so referencing them loses columns), deletion
    vectors (a DV'd file's live rows differ from its physical rows),
    column mapping (physical names diverge from logical), and a
    non-empty destination. Returns the Iceberg snapshot id."""
    from urllib.parse import unquote

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    if glob.glob(os.path.join(iceberg_dir, "metadata", "v*.metadata.json")):
        raise IcebergError(
            f"destination {iceberg_dir!r} already holds an Iceberg table"
        )
    meta, adds = DeltaLogReader(spark, delta_dir)._replay(None)
    conf = meta.get("configuration") or {}
    mode = conf.get("delta.columnMapping.mode", "none")
    if mode != "none":
        raise IcebergError(
            f"column mapping mode {mode!r}: physical parquet names diverge "
            "from the logical schema — zero-copy conversion refuses"
        )
    if meta.get("partitionColumns"):
        raise IcebergError(
            "partitioned Delta table: Hive-layout partition columns are not "
            "stored in the data files — zero-copy conversion would lose them"
        )
    if any(a.get("deletionVector") for a in adds):
        raise IcebergError(
            "table carries deletion vectors: physical rows differ from live "
            "rows — compact the Delta table first, then convert"
        )
    if not adds:
        raise IcebergError("Delta table has no live data files")

    spark_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    ctx = _CommitCtx(
        iceberg_dir, local_frame(spark, [], spark_schema), first=True
    )
    entries, total_rows = _data_entries(
        ctx,
        [
            (os.path.abspath(os.path.join(delta_dir, unquote(a["path"]))), {})
            for a in sorted(adds, key=lambda a: a["path"])
        ],
    )
    with commit.Attempt(iceberg_dir) as att:
        return ctx.publish(
            att,
            lambda: [_write_manifest(att, ctx, "", entries, [], 0, total_rows)],
            "append",
            total_rows,
        )


def _schema_by_id(meta: dict) -> dict:
    """Schema matched by current-schema-id (ids need not be dense or
    positional); format-version 1 tables carry a single ``schema``."""
    schemas = meta.get("schemas")
    if schemas:
        sid = meta.get("current-schema-id", 0)
        for sc in schemas:
            if sc.get("schema-id", 0) == sid:
                return sc
        raise IcebergError(
            f"current-schema-id {sid} not present in schemas "
            f"(have {[sc.get('schema-id') for sc in schemas]})"
        )
    if "schema" in meta:  # format-version 1
        return meta["schema"]
    raise IcebergError("table metadata carries no schema")


def _local(path: str, table_dir: str) -> str:
    """Resolve a metadata-referenced path to a local filesystem path.

    Real Iceberg writers record absolute URIs (``file:///...``,
    ``s3://bucket/...``); this engine's exporter records plain absolute
    paths. Accept both local forms, refuse remote schemes loudly
    (fetching object stores is out of scope for the local reader)."""
    if path.startswith("file:"):
        rest = path[len("file:"):]
        # accept file:///p and Hadoop's single-slash file:/p -> /p;
        # file://host/p (remote-host authority) is not supported
        if rest.startswith("///"):
            return rest[2:]
        if rest.startswith("/") and not rest.startswith("//"):
            return rest
        raise IcebergError(f"unsupported file URI form: {path!r}")
    scheme = path.split("://", 1)[0] if "://" in path else None
    if scheme:
        raise IcebergError(
            f"remote path scheme {scheme!r} is not supported by the local "
            f"reader (path {path!r}); copy the table locally first"
        )
    return path if os.path.isabs(path) else os.path.join(table_dir, path)


def _head_version(meta_dir: str) -> int | None:
    """The newest metadata version: the hint, rolled forward while
    ``v{N+1}.metadata.json`` exists (what a Hadoop-catalog reader does —
    the hint is written after the claim, so it can lag), or the highest
    ``vN`` on disk without a hint; None for no table."""
    hint = os.path.join(meta_dir, "version-hint.text")
    if not os.path.exists(hint):
        versions = [
            int(os.path.basename(p)[1:].split(".")[0])
            for p in glob.glob(os.path.join(meta_dir, "v*.metadata.json"))
        ]
        return max(versions) if versions else None
    with open(hint) as f:
        version = int(f.read().strip())
    while os.path.exists(os.path.join(meta_dir, f"v{version + 1}.metadata.json")):
        version += 1
    return version


def _load_table_metadata(table_dir: str) -> dict:
    meta_dir = os.path.join(table_dir, "metadata")
    version = _head_version(meta_dir)
    if version is None:
        raise IcebergError(f"no Iceberg metadata under {meta_dir}")
    path = os.path.join(meta_dir, f"v{version}.metadata.json")
    with open(path) as f:
        meta = json.load(f)
    if meta.get("format-version") not in (1, 2):
        raise IcebergError(
            f"unsupported Iceberg format-version {meta.get('format-version')!r}"
        )
    meta["_version"] = version
    return meta


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


class IcebergTable:
    """Independent protocol replay of an Iceberg v2 table directory."""

    def __init__(self, spark: SparkSession, table_dir: str):
        self.spark = spark
        self.table_dir = table_dir
        self.meta = _load_table_metadata(table_dir)

    def snapshots(self) -> DataFrame:
        rows = [
            (
                s["snapshot-id"],
                s.get("sequence-number", 0),
                s["timestamp-ms"],
                s.get("summary", {}).get("operation"),
            )
            for s in self.meta["snapshots"]
        ]
        return local_frame(
            self.spark, rows,
            "snapshot_id long, sequence_number long, timestamp_ms long, operation string",
        )

    def _current_schema(self) -> dict:
        return _schema_by_id(self.meta)

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Metadata table of a snapshot's live data files (the
        ``tbl.files`` inspection surface): one row per file with its
        spec id, sequence number, record count, size, and partition
        tuple rendered as ``k=v`` pairs. Driver-side O(files) from
        already-decoded manifests; no data reads."""
        rows = [
            (
                f["path"],
                int(f.get("spec_id", 0)),
                int(f.get("seq", 0)),
                int(f["record_count"]),
                int(f["file_size_in_bytes"]),
                ",".join(f"{k}={v}" for k, v in sorted((f["partition"] or {}).items())),
            )
            for f in self.data_files(snapshot_id)
        ]
        return local_frame(
            self.spark, rows,
            "file_path string, spec_id int, sequence_number long, "
            "record_count long, file_size_in_bytes long, partition string",
        )

    def partitions_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Metadata table of per-partition statistics (the
        ``tbl.partitions`` surface): one row per (spec id, partition
        field, value) with total rows and file count — exactly what a
        layout audit or a skew check reads before choosing a filter or
        a recluster. Unpartitioned files roll up under field ''. Values
        render as strings so one schema covers every transform's value
        type. O(files) driver-side metadata."""
        agg: dict[tuple, list[int]] = {}
        for f in self.data_files(snapshot_id):
            part = f["partition"] or {}
            items = sorted(part.items()) if part else [("", "")]
            for k, v in items:
                key = (int(f.get("spec_id", 0)), k, str(v))
                c = agg.setdefault(key, [0, 0])
                c[0] += f["record_count"]
                c[1] += 1
        rows = [
            (sid, field, value, int(n), int(nf))
            for (sid, field, value), (n, nf) in sorted(agg.items())
        ]
        return local_frame(
            self.spark, rows, "spec_id int, field string, value string, n_rows bigint, n_files int"
        )

    def snapshot_id_as_of(self, ts_ms: int) -> int:
        """Timestamp time travel: the snapshot that was CURRENT at
        ``ts_ms``, resolved from the snapshot-log (the spec's record of
        current-snapshot changes — branch commits never enter it, so
        as-of reads see only published state; a fast-forward re-logs
        the published head at publish time, as it should). Raises when
        ``ts_ms`` predates the table."""
        log = self.meta.get("snapshot-log") or []
        best = None
        for entry in log:
            if entry["timestamp-ms"] <= ts_ms:
                best = entry["snapshot-id"]
        if best is None:
            raise IcebergError(
                f"no snapshot at or before timestamp {ts_ms} (table created "
                f"later, or the snapshot-log is empty)"
            )
        return best

    def ref_snapshot_id(self, name: str) -> int:
        """Resolve a tag/branch ref name to its snapshot id ('main' is
        the current snapshot); pass the result anywhere a
        ``snapshot_id`` goes (read, plan_files, data_files...)."""
        if name == "main":
            return self.meta["current-snapshot-id"]
        ref = (self.meta.get("refs") or {}).get(name)
        if ref is None:
            raise IcebergError(
                f"no ref {name!r} (have {sorted(self.meta.get('refs') or {})})"
            )
        return ref["snapshot-id"]

    def _snapshot(self, snapshot_id: int | None) -> dict:
        sid = snapshot_id if snapshot_id is not None else self.meta["current-snapshot-id"]
        for s in self.meta["snapshots"]:
            if s["snapshot-id"] == sid:
                return s
        raise IcebergError(f"snapshot {sid} not in table (have "
                           f"{[s['snapshot-id'] for s in self.meta['snapshots']]})")

    def _decode_file(self, dfile: dict, by_id: dict) -> dict:
        if dfile.get("file_format", "PARQUET").upper() != "PARQUET":
            raise IcebergError(
                f"unsupported data file format {dfile.get('file_format')!r}"
            )
        lowers = _from_kv(dfile.get("lower_bounds"))
        uppers = _from_kv(dfile.get("upper_bounds"))
        return {
            "path": dfile["file_path"],
            "partition": dfile.get("partition") or {},
            "record_count": dfile["record_count"],
            "file_size_in_bytes": dfile["file_size_in_bytes"],
            "lower": {
                by_id[k][0]: _decode_bound(v, by_id[k][1])
                for k, v in lowers.items()
                if k in by_id
            },
            "upper": {
                by_id[k][0]: _decode_bound(v, by_id[k][1])
                for k, v in uppers.items()
                if k in by_id
            },
        }

    def _by_id(self) -> dict:
        return {
            f["id"]: (f["name"], f["type"]) for f in self._current_schema()["fields"]
        }

    def _manifest_entries(
        self, snapshot_id: int | None = None
    ) -> tuple[list[dict], list[dict]]:
        """(data_files, delete_files) of a snapshot, decoded. Each dict
        carries ``seq`` (the entry's data sequence number, inherited from
        its manifest-list entry when the manifest entry holds null — the
        spec's inheritance rule); delete dicts additionally carry
        ``content`` (1=position, 2=equality) and, for equality deletes,
        the ``equality_ids`` field-id list."""
        snap = self._snapshot(snapshot_id)
        manifests, _ = read_ocf(_local(snap["manifest-list"], self.table_dir))
        by_id = self._by_id()
        data: list[dict] = []
        deletes: list[dict] = []
        for m in manifests:
            mcontent = m.get("content", 0)
            if mcontent not in (0, 1):
                raise IcebergError(
                    f"unknown manifest content {mcontent!r} (0=data, 1=deletes)"
                )
            entries, _, mmeta = read_ocf_full(
                _local(m["manifest_path"], self.table_dir)
            )
            write_fields = None
            raw_schema = mmeta.get("schema")
            if raw_schema is not None:
                try:
                    write_fields = json.loads(raw_schema.decode("utf-8")).get(
                        "fields"
                    )
                except (ValueError, UnicodeDecodeError) as exc:
                    raise IcebergError(
                        f"manifest {m['manifest_path']!r} carries unparseable "
                        f"schema metadata: {exc}"
                    )
            if write_fields is not None:
                # bounds bytes encode the WRITE-time type (spec: stats
                # are serialized with the file's schema — an int bound
                # stays 4 bytes after an int->long promotion); keyed
                # under the CURRENT name so plan_files pruning sees them.
                # Dropped fields (id gone from the current schema) skip.
                m_by_id = {
                    f["id"]: (by_id[f["id"]][0], f["type"])
                    for f in write_fields
                    if f["id"] in by_id and isinstance(f["type"], str)
                }
            else:
                m_by_id = by_id
            for e in entries:
                if e["status"] == 2:  # DELETED
                    continue
                dfile = e["data_file"]
                fcontent = dfile.get("content", 0)
                decoded = self._decode_file(dfile, m_by_id)
                decoded["write_fields"] = write_fields
                decoded["spec_id"] = m.get("partition_spec_id", 0)
                decoded["seq"] = (
                    e.get("sequence_number")
                    if e.get("sequence_number") is not None
                    else m.get("sequence_number", 0)
                )
                if mcontent == 0:
                    if fcontent != 0:
                        raise IcebergError(
                            f"data manifest carries a content={fcontent} file "
                            "(malformed table)"
                        )
                    data.append(decoded)
                else:
                    if fcontent not in (1, 2):
                        raise IcebergError(
                            f"delete manifest carries a content={fcontent} file "
                            "(malformed table)"
                        )
                    decoded["content"] = fcontent
                    if fcontent == 2:
                        ids = dfile.get("equality_ids")
                        if not ids:
                            raise IcebergError(
                                "equality delete file carries no equality_ids"
                            )
                        decoded["equality_ids"] = list(ids)
                    deletes.append(decoded)
        return data, deletes

    def data_files(self, snapshot_id: int | None = None) -> list[dict]:
        """Live data files of a snapshot, with decoded per-column bounds."""
        return self._manifest_entries(snapshot_id)[0]

    def delete_files(self, snapshot_id: int | None = None) -> list[dict]:
        """Live delete files of a snapshot (position and equality)."""
        return self._manifest_entries(snapshot_id)[1]

    def plan_files(
        self, column: str, lo, hi, snapshot_id: int | None = None
    ) -> tuple[list[dict], int]:
        """Manifest-stats pruning: files whose [lower, upper] box on
        ``column`` intersects [lo, hi]. Files with no bounds for the
        column are kept (pruning must never drop unknowable files).
        Returns (selected_files, total_file_count)."""
        files = self.data_files(snapshot_id)
        selected = []
        for f in files:
            fl, fu = f["lower"].get(column), f["upper"].get(column)
            if fl is None or fu is None or (fu >= lo and fl <= hi):
                selected.append(f)
        return selected, len(files)

    def plan_files_by_partition(
        self, column: str, values, snapshot_id: int | None = None
    ) -> tuple[list[dict], int]:
        """Partition pruning: files whose manifest partition tuple has
        ``column`` in ``values``. Files without that partition key are
        KEPT (pruning never drops unknowable files). Returns
        (selected_files, total_file_count)."""
        values = set(values)
        files = self.data_files(snapshot_id)
        selected = [
            f
            for f in files
            if column not in f["partition"] or f["partition"][column] in values
        ]
        return selected, len(files)

    def _spec_transform_for(
        self, column: str, spec_id: int | None = None
    ) -> tuple[str, str, int | None, str] | None:
        """(partition field name, kind, width, source ice type) of the
        field transforming ``column`` in spec ``spec_id`` (default: the
        table's default spec), or None when that spec does not cover the
        column (including unknown historical spec ids — unknowable, so
        callers must keep such files)."""
        specs = self.meta.get("partition-specs") or [
            {"spec-id": 0, "fields": self.meta.get("partition-spec", [])}
        ]
        sid = self.meta.get("default-spec-id", 0) if spec_id is None else spec_id
        spec = next((sp for sp in specs if sp["spec-id"] == sid), None)
        if spec is None:
            return None
        src_by_id = {
            f["id"]: (f["name"], f["type"]) for f in self._current_schema()["fields"]
        }
        for sf in spec["fields"]:
            name, ice_type = src_by_id.get(sf["source-id"], (None, None))
            if name == column:
                kind, w = _parse_transform(sf.get("transform", "identity"))
                return sf["name"], kind, w, ice_type
        return None

    def _match_by_spec(self, column: str):
        """Memoized per-spec transform lookup for the pruners (a table
        that evolved its partition spec holds files under several specs;
        each file prunes through ITS OWN spec's transform)."""
        cache: dict[int, tuple | None] = {}

        def get(f: dict):
            sid = f.get("spec_id", 0)
            if sid not in cache:
                cache[sid] = self._spec_transform_for(column, sid)
            return cache[sid]

        return get

    def plan_files_by_source_range(
        self, column: str, lo, hi, snapshot_id: int | None = None
    ) -> tuple[list[dict], int]:
        """Transform-aware partition pruning on the SOURCE column: files
        whose partition value could hold rows in [lo, hi]. Every
        supported range transform (identity, truncate[W], year, month,
        day) is MONOTONE, so a bucket v intersects [lo, hi] iff
        t(lo) <= v <= t(hi) — one rule for all of them (for truncate
        this is equivalent to the [v, v+W-1] / prefix interval check
        because v is itself a transform image). Each file resolves the
        transform through its OWN spec (a spec evolution leaves files
        under the old layout; they prune by the old transform, and files
        whose spec does not cover the column are KEPT — pruning never
        drops unknowable files). bucket[N] in the DEFAULT spec refuses
        (not order-preserving; use ``plan_files_by_source_values``);
        bucket in a historical spec keeps its files instead of failing
        reads that postdate the evolution away from it."""
        match_of = self._match_by_spec(column)
        files = self.data_files(snapshot_id)
        default_match = self._spec_transform_for(column)
        if default_match is not None and default_match[1] == "bucket":
            raise IcebergError(
                "bucket[N] is not order-preserving — range predicates "
                "cannot prune it; use plan_files_by_source_values for "
                "point lookups"
            )
        selected = []
        for f in files:
            match = match_of(f)
            if match is None:
                selected.append(f)
                continue
            pname, kind, w, ice_type = match
            if kind == "bucket":
                selected.append(f)  # historical bucket spec: unknowable
                continue
            v = f["partition"].get(pname)
            tlo = _py_transform(kind, w, lo, ice_type)
            thi = _py_transform(kind, w, hi, ice_type)
            if v is None or tlo <= v <= thi:
                selected.append(f)
        return selected, len(files)

    def plan_files_by_source_values(
        self, column: str, values, snapshot_id: int | None = None
    ) -> tuple[list[dict], int]:
        """Point-predicate partition pruning on the SOURCE column: files
        whose partition value is the transform image of any of
        ``values`` — the pruning shape bucket[N] exists for (an IN-list
        of keys maps to at most len(values) of the N buckets). Works for
        every transform kind, resolving each file's transform through
        its own spec; unknowable files are kept."""
        match_of = self._match_by_spec(column)
        files = self.data_files(snapshot_id)
        selected = []
        for f in files:
            match = match_of(f)
            if match is None:
                selected.append(f)
                continue
            pname, kind, w, ice_type = match
            images = {_py_transform(kind, w, v, ice_type) for v in values}
            if f["partition"].get(pname) is None or f["partition"][pname] in images:
                selected.append(f)
        return selected, len(files)

    def added_files(self, after_snapshot_id: int) -> list[tuple[int, dict]]:
        """Snapshot-diff incremental tail: [(snapshot_id, data_file), ...]
        for every snapshot strictly AFTER ``after_snapshot_id`` in
        sequence order. Appends carry prior manifests forward BY
        REFERENCE, so the manifests a snapshot ADDED
        (``added_snapshot_id`` = that snapshot) hold exactly its new
        files — no per-snapshot set difference over the full file list.
        Non-append snapshots in the range refuse loudly (a delete/
        replace/overwrite is not representable as inserts; the Delta
        tail's E92 stance applied to the second format)."""
        base = self._snapshot(after_snapshot_id)  # validates the anchor
        base_seq = base.get("sequence-number", 0)
        by_id = self._by_id()
        # tail the MAIN ancestry only: snapshots on unpublished branch
        # refs are not part of the current table state (they join the
        # tail when a fast-forward publishes them). Ancestors are walked
        # by parent-snapshot-id; snapshots written before parent
        # tracking (no key at all) predate branch support and are
        # main-line by construction.
        snap_by_id = {s["snapshot-id"]: s for s in self.meta["snapshots"]}
        ancestry = set()
        walk = self.meta["current-snapshot-id"]
        while walk is not None and walk in snap_by_id and walk not in ancestry:
            ancestry.add(walk)
            walk = snap_by_id[walk].get("parent-snapshot-id")
        out: list[tuple[int, dict]] = []
        for s in sorted(
            self.meta["snapshots"], key=lambda s: s.get("sequence-number", 0)
        ):
            if s.get("sequence-number", 0) <= base_seq:
                continue
            if "parent-snapshot-id" in s and s["snapshot-id"] not in ancestry:
                continue  # unpublished branch snapshot
            op = s.get("summary", {}).get("operation", "append")
            if op == "replace" and "manifests-rewritten" in s.get("summary", {}):
                continue  # metadata-only manifest compaction: adds no rows
            if op != "append":
                raise IcebergError(
                    f"snapshot {s['snapshot-id']} is a {op!r} snapshot — "
                    "incremental tail reads cover append-only ranges "
                    "(deletes/replaces are not representable as inserts)"
                )
            cur_sid = self.meta.get("current-schema-id", 0)
            if s.get("schema-id", cur_sid) != cur_sid:
                raise IcebergError(
                    f"snapshot {s['snapshot-id']} was written under schema-id "
                    f"{s.get('schema-id')} but the table is now at "
                    f"{cur_sid} — tail reads refuse ranges crossing a schema "
                    "evolution (re-anchor after the evolution)"
                )
            manifests, _ = read_ocf(_local(s["manifest-list"], self.table_dir))
            for m in manifests:
                if m["added_snapshot_id"] != s["snapshot-id"]:
                    continue  # carried forward by reference: already tailed
                if m.get("content", 0) != 0:
                    raise IcebergError(
                        "append snapshot carries a delete manifest "
                        "(malformed table)"
                    )
                entries, _ = read_ocf(_local(m["manifest_path"], self.table_dir))
                for e in entries:
                    if e["status"] == 1 and e.get("snapshot_id") == s["snapshot-id"]:
                        out.append((s["snapshot-id"], self._decode_file(e["data_file"], by_id)))
        return out

    def read_tail(self, after_snapshot_id: int) -> DataFrame:
        """Read every row appended AFTER ``after_snapshot_id``, tagged
        with the committing snapshot in ``_commit_snapshot`` — ONE scan
        over the added files regardless of how many snapshots the range
        spans, tagged through a broadcast (canonical path -> snapshot)
        join bounded by file count."""
        pairs = self.added_files(after_snapshot_id)
        if not pairs:
            raise IcebergError(
                f"no snapshots after {after_snapshot_id} — nothing to tail"
            )
        paths = [_local(f["path"], self.table_dir) for _, f in pairs]
        tag = local_frame(
            self.spark,
            [(os.path.abspath(_local(f["path"], self.table_dir)), sid) for sid, f in pairs],
            "__cf string, _commit_snapshot long",
        )
        # the tailed range never crosses a schema evolution (added_files
        # enforces this), so every added file was written under the
        # current schema
        schema = _spark_schema(self._current_schema()["fields"])
        df = self.spark.read.schema(schema).parquet(*paths)
        cols = df.columns
        return (
            df.select(
                "*", file_uri_path_col(F.col("_metadata.file_path")).alias("__cf")
            )
            .join(F.broadcast(tag), "__cf")
            .select(*cols, "_commit_snapshot")
        )

    def _schema_for(self, snapshot_id: int | None) -> dict:
        """The schema a snapshot was written under (recorded as its
        ``schema-id``) — what time travel reads resolve against, so an
        old snapshot keeps its old shape; falls back to the current
        schema when the snapshot predates schema tracking."""
        snap = self._snapshot(snapshot_id)
        sid = snap.get("schema-id")
        if sid is None:
            return self._current_schema()
        for sc in self.meta.get("schemas") or []:
            if sc.get("schema-id", 0) == sid:
                return sc
        return self._current_schema()

    def _scan_resolved(
        self,
        chosen: list[dict],
        with_meta: bool,
        read_fields: list[dict] | None = None,
    ) -> tuple[DataFrame, list[str]]:
        """Scan data files GROUPED BY WRITE SCHEMA, resolving each
        group's columns by field id into the current schema — renamed
        fields re-alias, promoted types (int->long, float->double) cast,
        added fields read as typed NULLs. One scan branch per distinct
        write schema (normally 1, +1 per evolution that left files
        behind), unioned by name; within a branch the plan is a plain
        pruned parquet scan. ``with_meta`` adds the canonical-path /
        row-index columns the delete-masking joins key on. Returns
        (frame, output column names)."""
        cur_fields = (
            read_fields
            if read_fields is not None
            else self._current_schema()["fields"]
        )
        table_schemas = self.meta.get("schemas") or []
        evolved = len(table_schemas) > 1

        groups: dict[str | None, list[dict]] = {}
        for f in chosen:
            wf = f.get("write_fields")
            if wf is None and evolved:
                raise IcebergError(
                    f"data file {f['path']!r} comes from a manifest without "
                    "schema metadata but the table has multiple schemas — "
                    "its columns cannot be resolved by field id"
                )
            key = None if wf is None else json.dumps(wf, sort_keys=True)
            groups.setdefault(key, []).append(f)

        frames: list[DataFrame] = []
        out_names: list[str] | None = None
        for key in sorted(groups, key=lambda k: (k is not None, k or "")):
            grp = groups[key]
            sdf = self.spark.read.schema(self._read_schema(grp[0], cur_fields)).parquet(
                *[_local(f["path"], self.table_dir) for f in grp]
            )
            if key is None:
                sel = [F.col(c) for c in sdf.columns]
                names = list(sdf.columns)
            else:
                sel = self._resolve_columns(grp[0]["write_fields"], cur_fields)
                names = [fld["name"] for fld in cur_fields]
            if out_names is None:
                out_names = names
            if with_meta:
                sel = sel + [
                    file_uri_path_col(F.col("_metadata.file_path")).alias("__cf"),
                    F.col("_metadata.row_index").alias("__ri"),
                ]
            frames.append(sdf.select(*sel))
        df = frames[0]
        for extra in frames[1:]:
            df = df.unionByName(extra)
        return df, out_names

    @staticmethod
    def _read_schema(f: dict, cur_fields: list[dict]) -> T.StructType:
        """The schema a decoded data or delete file ``f`` was written
        with, from table metadata alone: what ``spark.read.parquet`` would
        infer from its footer, without the inference job. Data files
        carry their manifest's write schema (``cur_fields`` when it has
        none, the single-schema case); an equality delete holds its key
        columns in ``equality_ids`` order; a position delete holds
        (file_path, pos)."""
        if f.get("content") == 1:
            return _POS_DELETE_SCHEMA
        fields = f.get("write_fields") or cur_fields
        if f.get("content") == 2:
            by_id = {fld["id"]: fld for fld in fields}
            fields = [by_id[i] for i in f["equality_ids"] if i in by_id]
        return _spark_schema(fields)

    @staticmethod
    def _resolve_columns(write_fields: list[dict], cur_fields: list[dict]):
        """Field-id column resolution of ONE write schema into the
        current schema (the Iceberg read contract: names are labels,
        ids are identity)."""
        old_by_id = {f["id"]: f for f in write_fields}
        cols = []
        for fld in cur_fields:
            old = old_by_id.get(fld["id"])
            if old is None:
                sp = (
                    _ICEBERG_TO_SPARK.get(fld["type"])
                    if isinstance(fld["type"], str)
                    else None
                )
                if sp is None:
                    raise IcebergError(
                        f"added column {fld['name']!r} has type "
                        f"{fld['type']!r} — cannot synthesize NULLs for it "
                        "(primitive adds only)"
                    )
                cols.append(F.lit(None).cast(sp).alias(fld["name"]))
            elif old["type"] == fld["type"]:
                cols.append(F.col(old["name"]).alias(fld["name"]))
            elif (
                isinstance(old["type"], str)
                and isinstance(fld["type"], str)
                and (old["type"], fld["type"]) in _TYPE_PROMOTIONS
            ):
                cols.append(
                    F.col(old["name"])
                    .cast(_ICEBERG_TO_SPARK[fld["type"]])
                    .alias(fld["name"])
                )
            else:
                raise IcebergError(
                    f"field id {fld['id']} changed type {old['type']!r} -> "
                    f"{fld['type']!r}: only int->long and float->double "
                    "promote"
                )
        return cols

    def _delete_key_cols(self, dfile: dict, ids: tuple, by_id: dict):
        """Key columns of one equality-delete FILE, resolved by field id
        through ITS write schema and aliased to the read-schema names
        (the delete parquet keeps the names current when it was
        committed)."""
        wf = dfile.get("write_fields")
        if wf is None and len(self.meta.get("schemas") or []) > 1:
            raise IcebergError(
                f"equality delete file {dfile['path']!r} comes from a "
                "manifest without schema metadata but the table has "
                "multiple schemas — its key columns cannot be resolved"
            )
        cols = []
        for i in ids:
            cur_name = by_id[i][0]
            if wf:
                old = next((f for f in wf if f["id"] == i), None)
                if old is None:
                    raise IcebergError(
                        f"equality delete references field id {i} absent "
                        "from its manifest's write schema"
                    )
                cols.append(F.col(old["name"]).alias(cur_name))
            else:
                cols.append(F.col(cur_name))
        return cols

    def read(
        self,
        snapshot_id: int | None = None,
        files: list[dict] | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Scan a snapshot's (optionally pre-pruned) data files, masking
        deletes merge-on-read. ``ref`` reads a named tag/branch head
        (resolved through the refs map; mutually exclusive with
        ``snapshot_id``) under that snapshot's own write schema:

        * POSITION deletes: ONE combined anti-join on the canonical
          (decoded path, row position) key — the same single-plan-branch
          shape as the Delta reader's deletion-vector masking;
        * EQUALITY deletes: one anti-join per distinct equality-id set
          (normally one), null-safe on the key columns and restricted to
          data files whose sequence number is STRICTLY BELOW the
          delete's (the spec rule that lets re-appended keys survive) —
          the sequence number rides a broadcast path->seq tag, so the
          join stays hash-shaped with the inequality as a residual."""
        if ref is not None:
            if snapshot_id is not None:
                raise IcebergError("pass snapshot_id OR ref, not both")
            snapshot_id = self.ref_snapshot_id(ref)
        data, deletes = self._manifest_entries(snapshot_id)
        chosen = files if files is not None else data
        if not chosen:
            raise IcebergError("snapshot has no live data files")
        # a CURRENT read always takes the current schema (a metadata-only
        # evolution creates no snapshot, so the latest snapshot may still
        # carry the pre-evolution schema-id); explicit time travel reads
        # under the target snapshot's own write schema
        read_fields = (
            self._current_schema()["fields"]
            if snapshot_id is None
            else self._schema_for(snapshot_id)["fields"]
        )
        df, cols = self._scan_resolved(
            chosen, with_meta=bool(deletes), read_fields=read_fields
        )
        if not deletes:
            return df
        pos_dels = [d for d in deletes if d["content"] == 1]
        eq_dels = [d for d in deletes if d["content"] == 2]
        if pos_dels:
            dels = self.spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                *[_local(d["path"], self.table_dir) for d in pos_dels]
            ).select(
                file_uri_path_col(F.col("file_path")).alias("__cf"),
                F.col("pos").cast("long").alias("__ri"),
            )
            # the combined key set is bounded by total delete cardinality;
            # hint broadcast only while clearly small, AQE decides beyond
            if sum(d["record_count"] for d in pos_dels) <= 1_000_000:
                dels = F.broadcast(dels)
            df = df.join(dels, ["__cf", "__ri"], "left_anti")
        if eq_dels:
            # per-file data sequence numbers ride a broadcast tag join
            seq_map = F.broadcast(
                local_frame(
                    self.spark,
                    [
                        (os.path.abspath(_local(f["path"], self.table_dir)),
                         f.get("seq", 0))
                        for f in chosen
                    ],
                    "__cf string, __fseq long",
                )
            )
            df = df.join(seq_map, "__cf", "left")
            by_id = {f["id"]: (f["name"], f["type"]) for f in read_fields}
            groups: dict[tuple, list[dict]] = {}
            for d in eq_dels:
                groups.setdefault(tuple(sorted(d["equality_ids"])), []).append(d)
            for ids, dfiles_group in sorted(groups.items()):
                names = []
                for i in ids:
                    if i not in by_id:
                        raise IcebergError(
                            f"equality delete references unknown field id {i}"
                        )
                    names.append(by_id[i][0])
                per_file = [
                    self.spark.read.schema(self._read_schema(d, read_fields))
                    .parquet(_local(d["path"], self.table_dir))
                    .select(*self._delete_key_cols(d, ids, by_id))
                    .withColumn("__dseq", F.lit(d["seq"]).cast("long"))
                    for d in dfiles_group
                ]
                dels = per_file[0]
                for extra in per_file[1:]:
                    dels = dels.unionByName(extra)
                if sum(d["record_count"] for d in dfiles_group) <= 1_000_000:
                    dels = F.broadcast(dels)
                left, right = df.alias("d"), dels.alias("x")
                cond = F.col("d.__fseq") < F.col("x.__dseq")
                for c in names:
                    # spec: null values compare EQUAL in equality deletes
                    cond = F.col(f"d.{c}").eqNullSafe(F.col(f"x.{c}")) & cond
                df = left.join(right, cond, "left_anti")
        return df.select(*cols)
