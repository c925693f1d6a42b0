"""KMV (k-minimum-values) distinct-count sketch — the ORACLE-EXACT
approximate-distinct path.

Spark's built-in ``approx_count_distinct`` is HyperLogLog++ with an
engine-internal hash, so its estimates can only be compared against
Spark itself. KMV keeps the k smallest values of a uniform hash of the
keys; with ``md5`` as the hash both Spark and DuckDB compute the SAME
hex digests, so the sketch rows, the k-th order statistic, and the
estimate are bit-identical across engines — an approximate algorithm
that still passes a value-hash correctness gate. (Reference capability:
distinct counting over unbounded key sets; cf. SURVEY §2.11 E68's
sketch family.)

Estimator (Beyer et al., "On synopses for distinct-value estimation"):
with U_(k) the k-th smallest hash mapped into (0,1],

    |D| ~= (k-1) / U_(k),        or exactly |S| when |S| < k.

All arithmetic is INTEGER: the first 12 hex chars are a 48-bit value v,
and the estimate is ``(k-1) * 2^48 div v`` — no float anywhere, so
partial-aggregation order, AQE re-planning, or engine differences
cannot move the result by a bit.

Scale shape: the global sketch is ``distinct -> orderBy(hash) ->
limit(k)``, which Spark executes as TakeOrderedAndProject (per-partition
top-k, driver merge of k-row heaps — no global sort). The grouped
sketch is a per-group window top-k after a distinct: ONE exchange on the
group key. Sketches MERGE by union + re-take-k (the sketch is its own
state — persist it in a VersionedTable and ingest batches
incrementally without rescanning history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

_HEX_BITS = 48  # first 12 hex chars -> 48-bit integer, exact in a bigint


def _hash_col(col: str):
    return F.md5(F.col(col).cast("string"))


def _hex12_to_long(c):
    """First 12 hex chars as a bigint — conv() is exact at 48 bits."""
    return F.conv(F.substring(c, 1, 12), 16, 10).cast("bigint")


def _take_k_smallest(h: DataFrame, k: int, group_cols: list[str]) -> DataFrame:
    """k smallest distinct hashes (per group): TakeOrderedAndProject for
    the global form, one window exchange for the grouped form."""
    if not group_cols:
        return h.orderBy("hx").limit(k)
    w = W.partitionBy(*group_cols).orderBy("hx")
    return (
        h.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_sketch(
    df: DataFrame, col: str, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """The k smallest distinct md5 hashes of ``col`` (per group):
    rows ``(*group_cols, hx)``. THE mergeable sketch state."""
    if k < 2:
        raise ValueError("KMV needs k >= 2 (the estimator divides by k-1)")
    group_cols = list(group_cols or [])
    h = df.select(*group_cols, _hash_col(col).alias("hx")).distinct()
    return _take_k_smallest(h, k, group_cols)


def kmv_merge(
    a: DataFrame, b: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """Merge two sketches (or a sketch and a new batch's sketch): union,
    dedup, re-take the k smallest per group. Associative and idempotent —
    re-delivered batches cannot move the estimate."""
    group_cols = list(group_cols or [])
    u = a.select(*group_cols, "hx").unionByName(b.select(*group_cols, "hx")).distinct()
    return _take_k_smallest(u, k, group_cols)


def kmv_estimate(
    sketch: DataFrame, k: int, group_cols: list[str] | None = None
) -> DataFrame:
    """``(*group_cols, est_distinct bigint)`` from a sketch. Integer-only:
    saturated sketches estimate (k-1)*2^48 div v_kth; unsaturated ones
    ARE the exact distinct set, so the estimate is their size."""
    group_cols = list(group_cols or [])
    v = _hex12_to_long(F.col("hx"))
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(v).alias("__vk"),  # sketch rows are the k smallest -> max = kth
    )
    # INTEGER division (`div`): (k-1)*2^48 exceeds 2^53, so float `/`
    # would round the quotient; div keeps every bit, same as DuckDB's //
    num = (k - 1) * (1 << _HEX_BITS)
    est = F.when(F.col("__n") < k, F.col("__n").cast("bigint")).otherwise(
        F.expr(f"cast({num}L div greatest(__vk, 1L) as bigint)")
    )
    return agg.select(*group_cols, est.alias("est_distinct"))
