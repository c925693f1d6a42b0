"""Avro Object Container File codec, from the public spec, in pure Python.

Iceberg's manifest lists and manifest files are Avro OCF
(https://iceberg.apache.org/spec/#manifests); this container has no Avro
runtime (no spark-avro jar, no fastavro/avro-python, installs disallowed),
so this module implements the subset of the Avro 1.11 specification
(https://avro.apache.org/docs/1.11.1/specification/) that metadata files
need, generically against the WRITER schema embedded in every OCF header:

  * binary encoding: zigzag-varint int/long, little-endian float/double,
    length-prefixed bytes/string, 1-byte boolean, zero-byte null;
  * complex types: record, enum, array, map, union, fixed (array/map
    block counts may be negative -> block-size prefix follows, per spec);
  * container framing: magic ``Obj\\x01``, file-metadata map carrying
    ``avro.schema`` / ``avro.codec``, 16-byte sync marker, blocks of
    (object count, byte size, payload, sync);
  * codecs: ``null`` and ``deflate`` (raw RFC-1951, zlib wbits=-15).

Decoding is schema-generic (records -> dicts), so files written by real
Iceberg writers decode with no schema knowledge on our side; encoding
takes an explicit schema. Logical types are passed through as their
underlying primitive (Iceberg's readers do the same for bounds blobs).

Deliberately out of scope: schema resolution between differing
reader/writer schemas (we always decode with the writer schema) and the
snappy/zstd codecs (absent from this container; a foreign file using
them raises with the codec named).
"""

from __future__ import annotations

import io
import json
import struct
import zlib

from data_etl_pipeline_spark.sources.commit import replace_atomic

MAGIC = b"Obj\x01"


class AvroError(ValueError):
    pass


# ---------------------------------------------------------------------------
# binary primitives
# ---------------------------------------------------------------------------


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def write_long(buf: io.BytesIO, n: int) -> None:
    z = _zigzag_encode(n)
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes((b | 0x80,)))
        else:
            buf.write(bytes((b,)))
            return


def read_long(buf: io.BytesIO) -> int:
    shift = 0
    acc = 0
    while True:
        raw = buf.read(1)
        if not raw:
            raise AvroError("EOF inside varint")
        b = raw[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _zigzag_decode(acc)
        shift += 7
        if shift > 70:
            raise AvroError("varint too long")


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    write_long(buf, len(b))
    buf.write(b)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = read_long(buf)
    if n < 0:
        raise AvroError(f"negative bytes length {n}")
    out = buf.read(n)
    if len(out) != n:
        raise AvroError("EOF inside bytes")
    return out


# ---------------------------------------------------------------------------
# schema-driven datum encode/decode
# ---------------------------------------------------------------------------


def _schema_type(schema) -> str:
    if isinstance(schema, str):
        return schema
    if isinstance(schema, list):
        return "union"
    return schema["type"]


def write_datum(buf: io.BytesIO, datum, schema) -> None:
    t = _schema_type(schema)
    if t == "null":
        if datum is not None:
            raise AvroError(f"non-null datum {datum!r} for null schema")
    elif t == "boolean":
        buf.write(b"\x01" if datum else b"\x00")
    elif t in ("int", "long"):
        write_long(buf, int(datum))
    elif t == "float":
        buf.write(struct.pack("<f", float(datum)))
    elif t == "double":
        buf.write(struct.pack("<d", float(datum)))
    elif t == "bytes":
        _write_bytes(buf, bytes(datum))
    elif t == "string":
        _write_bytes(buf, datum.encode("utf-8"))
    elif t == "fixed":
        if len(datum) != schema["size"]:
            raise AvroError("fixed size mismatch")
        buf.write(bytes(datum))
    elif t == "enum":
        write_long(buf, schema["symbols"].index(datum))
    elif t == "array":
        if datum:
            write_long(buf, len(datum))
            for item in datum:
                write_datum(buf, item, schema["items"])
        write_long(buf, 0)
    elif t == "map":
        if datum:
            write_long(buf, len(datum))
            for k, v in datum.items():
                _write_bytes(buf, k.encode("utf-8"))
                write_datum(buf, v, schema["values"])
        write_long(buf, 0)
    elif t == "union":
        idx = _pick_union_branch(datum, schema)
        write_long(buf, idx)
        write_datum(buf, datum, schema[idx])
    elif t == "record":
        for field in schema["fields"]:
            if field["name"] not in datum:
                if "default" in field:
                    write_datum(buf, field["default"], field["type"])
                else:
                    raise AvroError(
                        f"record datum missing required field {field['name']!r} "
                        f"(no default in schema {schema.get('name', '?')!r})"
                    )
            else:
                write_datum(buf, datum[field["name"]], field["type"])
    else:
        raise AvroError(f"unsupported schema type {t!r}")


def _pick_union_branch(datum, union: list) -> int:
    """Branch selection for the shapes metadata files use: null vs one
    concrete type (Iceberg's optional fields are all ``[null, X]``)."""
    for i, branch in enumerate(union):
        bt = _schema_type(branch)
        if datum is None and bt == "null":
            return i
        if datum is not None and bt != "null":
            return i
    raise AvroError(f"no union branch for {datum!r} in {union!r}")


def read_datum(buf: io.BytesIO, schema, named: dict | None = None):
    named = named if named is not None else {}
    _register_named(schema, named)
    t = _schema_type(schema)
    if isinstance(schema, str) and schema in named:
        schema = named[schema]
        t = _schema_type(schema)
    if t == "null":
        return None
    if t == "boolean":
        raw = buf.read(1)
        if not raw:
            raise AvroError("EOF reading boolean")
        return raw[0] == 1
    if t in ("int", "long"):
        return read_long(buf)
    if t == "float":
        raw = buf.read(4)
        if len(raw) != 4:
            raise AvroError("EOF reading float")
        return struct.unpack("<f", raw)[0]
    if t == "double":
        raw = buf.read(8)
        if len(raw) != 8:
            raise AvroError("EOF reading double")
        return struct.unpack("<d", raw)[0]
    if t == "bytes":
        return _read_bytes(buf)
    if t == "string":
        return _read_bytes(buf).decode("utf-8")
    if t == "fixed":
        raw = buf.read(schema["size"])
        if len(raw) != schema["size"]:
            raise AvroError("EOF reading fixed")
        return raw
    if t == "enum":
        return schema["symbols"][read_long(buf)]
    if t == "array":
        out = []
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(buf)  # block byte size: unused, we decode inline
            for _ in range(n):
                out.append(read_datum(buf, schema["items"], named))
    if t == "map":
        out = {}
        while True:
            n = read_long(buf)
            if n == 0:
                return out
            if n < 0:
                n = -n
                read_long(buf)
            for _ in range(n):
                k = _read_bytes(buf).decode("utf-8")
                out[k] = read_datum(buf, schema["values"], named)
    if t == "union":
        idx = read_long(buf)
        if not 0 <= idx < len(schema):
            raise AvroError(f"union branch {idx} out of range")
        return read_datum(buf, schema[idx], named)
    if t == "record":
        return {
            f["name"]: read_datum(buf, f["type"], named) for f in schema["fields"]
        }
    raise AvroError(f"unsupported schema type {t!r}")


def _register_named(schema, named: dict) -> None:
    """Named-type references ("r508"-style record reuse in real Iceberg
    manifests) resolve against previously-seen definitions."""
    if isinstance(schema, dict) and schema.get("type") in ("record", "enum", "fixed"):
        name = schema.get("name")
        if name and name not in named:
            named[name] = schema


# ---------------------------------------------------------------------------
# container file read/write
# ---------------------------------------------------------------------------

_META_SCHEMA = {"type": "map", "values": "bytes"}


def write_ocf(
    path: str,
    records: list,
    schema: dict,
    codec: str = "deflate",
    sync: bytes | None = None,
    extra_meta: dict[str, bytes] | None = None,
) -> None:
    """Write records as one OCF block (metadata files are single-block
    in practice; multi-block READING is supported below). ``extra_meta``
    adds application key-value pairs to the container header — Iceberg
    manifests are REQUIRED by the spec to carry ``schema``/``schema-id``
    there, which is what per-file schema resolution reads back."""
    if codec not in ("null", "deflate"):
        raise AvroError(f"unsupported write codec {codec!r}")
    for k in extra_meta or {}:
        if k.startswith("avro."):
            raise AvroError(f"extra_meta key {k!r} collides with the avro.* namespace")
    if sync is not None and len(sync) != 16:
        raise AvroError("sync marker must be 16 bytes")
    body = io.BytesIO()
    for rec in records:
        write_datum(body, rec, schema)
    payload = body.getvalue()
    # content-derived sync marker: re-exporting identical data yields
    # byte-identical files (the repo's reproducibility posture); distinct
    # content still gets a distinct marker, which is all the spec needs
    if sync is None:
        import hashlib

        sync = hashlib.md5(
            payload + json.dumps(schema, sort_keys=True).encode()
        ).digest()
    if codec == "deflate":
        comp = zlib.compressobj(9, zlib.DEFLATED, -15)
        payload = comp.compress(payload) + comp.flush()
    buf = io.BytesIO()
    buf.write(MAGIC)
    write_datum(
        buf,
        {
            "avro.schema": json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
            **(extra_meta or {}),
        },
        _META_SCHEMA,
    )
    buf.write(sync)
    if records:
        write_long(buf, len(records))
        write_long(buf, len(payload))
        buf.write(payload)
        buf.write(sync)
    replace_atomic(path, buf.getvalue())


def read_ocf(path: str) -> tuple[list, dict]:
    """Read every record of an OCF file; returns (records, writer_schema).
    Decodes generically per the embedded writer schema."""
    records, schema, _meta = read_ocf_full(path)
    return records, schema


def read_ocf_full(path: str) -> tuple[list, dict, dict[str, bytes]]:
    """Like :func:`read_ocf` but also returns the container's key-value
    metadata map (raw bytes values, ``avro.*`` keys included) — Iceberg
    manifest headers carry the writer-time ``schema``/``schema-id``
    there."""
    with open(path, "rb") as f:
        buf = io.BytesIO(f.read())
    if buf.read(4) != MAGIC:
        raise AvroError(f"{path}: not an Avro object container file")
    meta = read_datum(buf, _META_SCHEMA)
    schema = json.loads(meta["avro.schema"].decode("utf-8"))
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    if codec not in ("null", "deflate"):
        raise AvroError(f"{path}: unsupported codec {codec!r} (null/deflate only)")
    sync = buf.read(16)
    out = []
    while True:
        head = buf.read(1)
        if not head:
            return out, schema, meta
        buf.seek(-1, io.SEEK_CUR)
        n = read_long(buf)
        size = read_long(buf)
        payload = buf.read(size)
        if len(payload) != size:
            raise AvroError(f"{path}: truncated block")
        if codec == "deflate":
            payload = zlib.decompress(payload, -15)
        block = io.BytesIO(payload)
        named: dict = {}
        for _ in range(n):
            out.append(read_datum(block, schema, named))
        if buf.read(16) != sync:
            raise AvroError(f"{path}: sync marker mismatch (corrupt block)")
