"""The on-disk parquet layout, read in ONE place for every table format.

``footer_stats`` is the only reader of parquet footer statistics in the
engine: the versioned table's per-file stats
(``VersionedTable._write_files``), Delta export stats
(``delta_export._file_stats``), Iceberg manifest bounds
(``iceberg._file_stats``), the Iceberg delete-file row count, and the two
raw-directory consumers below all call it and keep only their own
encoding. The footer IS the metadata — but only when it is complete, so
the reader applies one rule:

    a top-level column keeps bounds (or a null count) only when EVERY
    row group reports them usable; otherwise that part is dropped.

Partial bounds are tighter than the file's true range, and every
consumer prunes on them, so one stats-less row group must drop the
file's bounds instead of being skipped. Two real writers produce such
row groups for a long string (over ~4 KiB):

* parquet-mr (Spark) writes no min/max for that row group at all;
* Arrow writes the min but an EMPTY max, which pyarrow reports as
  ``has_min_max=True, max=''``. A byte-array chunk with an empty max
  therefore counts as lacking bounds — always safe, since it can only
  keep a file that pruning would otherwise drop.

Two more gaps come from the encoding, not the value:

* a decimal of precision <= 18 is stored by Spark as INT32/INT64, and
  pyarrow cannot convert those bounds; the reader scales the raw
  integers by the column's scale instead;
* an INT96 timestamp (Spark's default ``outputTimestampType``) carries
  no statistics at all, so a writer that wants bounded timestamps writes
  them as INT64 micros (the versioned table does).

Bounds merge across row groups in Spark's order, where NaN sorts above
every number: pyarrow reports ``max=nan`` for a chunk holding a NaN, and
a plain ``<``/``>`` merge would keep a finite max (or a NaN min).

``plan_parquet_files`` prunes a RAW parquet directory (no Delta/Iceberg
manifest, no Hive partition dirs) at PLAN time from those bounds: Spark's
pushed filters use footer stats only inside files it already scheduled,
so every file would still become a task. ``agg_from_footers`` answers
COUNT/MIN/MAX from footers alone. Cost: one driver-side footer read per
file, O(files) and bounded by the listing.

The same layout knowledge covers file paths: ``file_uri_path`` and its
Column twin ``file_uri_path_col`` turn a ``file:`` URI (what
``_metadata.file_path`` yields) into the decoded filesystem path every
table format joins on, and ``hive_partition_values`` decodes the
``col=value`` directory segments of a data-file path.
"""

from __future__ import annotations

import glob
import math
import os
import re
from decimal import Decimal
from urllib.parse import unquote

_FILE_SCHEME = "^file:/*"
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def footer_stats(path: str) -> tuple[int, dict[str, tuple]]:
    """``(num_rows, {column: (min, max, null_count)})`` for every
    top-level primitive column of one parquet file, from its footer
    alone. ``min``/``max`` are None unless every row group reports
    usable bounds; ``null_count`` is None unless every row group reports
    one (see the module docstring). Values are pyarrow's logical-type
    conversions (str for UTF-8, bytes for binary, datetime, Decimal, ...);
    bounds merge across row groups in Spark's order, where NaN is the
    largest value."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    paths = [md.schema.column(i).path for i in range(md.num_columns)]
    top = {p: i for i, p in enumerate(paths) if "." not in p}
    lo: dict = {}
    hi: dict = {}
    nulls = dict.fromkeys(top, 0)
    no_bounds: set = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for name, ci in top.items():
            st = g.column(ci).statistics
            if st is None or not st.has_null_count:
                nulls[name] = None
            elif nulls[name] is not None:
                nulls[name] += st.null_count
            if name in no_bounds:
                continue
            bounds = _chunk_bounds(st, md.schema.column(ci))
            if bounds is None:
                no_bounds.add(name)
                lo.pop(name, None)
                hi.pop(name, None)
                continue
            if name not in lo or _spark_order(bounds[0]) < _spark_order(lo[name]):
                lo[name] = bounds[0]
            if name not in hi or _spark_order(bounds[1]) > _spark_order(hi[name]):
                hi[name] = bounds[1]
    return md.num_rows, {n: (lo.get(n), hi.get(n), nulls[n]) for n in top}


def _chunk_bounds(st, col) -> tuple | None:
    """(min, max) of one column chunk, or None when it has no usable
    bounds. pyarrow cannot convert the bounds of a decimal stored as
    INT32/INT64 (Spark's layout up to precision 18), so those are the
    raw unscaled integers, scaled here."""
    if st is None or not st.has_min_max:
        return None
    if col.logical_type.type == "DECIMAL" and col.physical_type in ("INT32", "INT64"):
        return tuple(Decimal(v).scaleb(-col.scale) for v in (st.min_raw, st.max_raw))
    if isinstance(st.max, (bytes, str)) and not st.max:
        return None
    return st.min, st.max


def _spark_order(v) -> tuple:
    """Sort key of a bound in Spark's order: NaN above every number, and
    every NaN equal to every other."""
    nan = isinstance(v, float) and math.isnan(v)
    return (nan, 0.0 if nan else v)


def file_uri_path(uri: str) -> str:
    """Decoded filesystem path of a ``file:`` URI (``file:/p``,
    ``file:///p``; percent-escapes decoded). The canonical file id every
    path join uses on the driver side."""
    return unquote(re.sub(_FILE_SCHEME, "/", uri))


def file_uri_path_col(col):
    """Column form of ``file_uri_path`` for ``_metadata.file_path``.
    ``url_decode`` is form decoding, so a literal ``+`` is protected
    first (it would otherwise become a space)."""
    from pyspark.sql import functions as F

    return F.url_decode(
        F.regexp_replace(F.regexp_replace(col, _FILE_SCHEME, "/"), r"\+", "%2B")
    )


def hive_partition_values(rel_path: str) -> dict[str, str | None]:
    """Partition values from the ``col=value`` directory segments of a
    '/'-separated data-file path: each value is Hive-unescaped, and
    ``__HIVE_DEFAULT_PARTITION__`` means NULL."""
    pv: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            pv[k] = None if v == _HIVE_NULL else unquote(v)
    return pv


def _parquet_files(data_dir: str) -> list[str]:
    files = sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {data_dir}")
    return files


def plan_parquet_files(
    data_dir: str, column: str, lo, hi
) -> tuple[list[str], int]:
    """Files under ``data_dir`` whose [min, max] on ``column`` intersects
    [lo, hi], from footer statistics alone. Files with no usable stats
    for the column are KEPT (pruning must never drop unknowable files).
    Returns (selected_paths, total_file_count)."""
    files = _parquet_files(data_dir)
    selected = []
    for path in files:
        mn, mx, _ = footer_stats(path)[1].get(column, (None, None, None))
        if mn is None or (
            _spark_order(mx) >= _spark_order(lo) and _spark_order(mn) <= _spark_order(hi)
        ):
            selected.append(path)
    return selected, len(files)


def agg_from_footers(data_dir: str, column: str) -> dict:
    """COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over a raw parquet
    directory computed from FOOTER METADATA ALONE — zero data pages are
    read (the same contract as Spark's
    ``spark.sql.parquet.aggregatePushdown`` for stats-only aggregates,
    done at plan level with no table format): row counts come from the
    row-group headers (always exact), null counts and min/max from the
    column statistics. Cost is one footer read per file, O(files).

    Exactness over silent wrongness: if any non-empty file lacks complete
    statistics for ``column`` (``footer_stats`` drops them when a single
    row group is stats-less or reports an empty string max), the whole
    call raises — a footer-only answer that might differ from the scan
    is never returned. COUNT(*) alone never needs column stats; callers
    wanting just the row count pass ``column=None``.

    Returns {"n_rows", "n_values", "min", "max", "n_files"}
    (``n_values``/``min``/``max`` are None when ``column`` is None).
    """
    files = _parquet_files(data_dir)
    n_rows = 0
    n_nulls = 0
    mn = mx = None
    for path in files:
        rows, cols = footer_stats(path)
        n_rows += rows
        if column is None:
            continue
        if column not in cols:
            raise ValueError(f"{path}: column {column!r} not in parquet schema")
        if rows == 0:
            continue
        f_mn, f_mx, f_nulls = cols[column]
        if f_mn is None or f_nulls is None:
            raise ValueError(
                f"{path}: some row group lacks full statistics for "
                f"{column!r} — footer-only aggregate would be a guess"
            )
        n_nulls += f_nulls
        mn = f_mn if mn is None or _spark_order(f_mn) < _spark_order(mn) else mn
        mx = f_mx if mx is None or _spark_order(f_mx) > _spark_order(mx) else mx
    if column is None:
        return {"n_rows": n_rows, "n_values": None, "min": None,
                "max": None, "n_files": len(files)}
    return {
        "n_rows": n_rows,
        "n_values": n_rows - n_nulls,
        "min": mn,
        "max": mx,
        "n_files": len(files),
    }
