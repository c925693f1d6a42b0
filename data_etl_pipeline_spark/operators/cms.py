"""Count-min sketch — the ORACLE-EXACT approximate-frequency path,
sibling of the KMV distinct sketch (operators/kmv.py).

A CMS is ``d`` hash rows of ``w`` counters; a key's frequency estimate
is the MIN over its d counters — never an underestimate, over by at
most the collision mass (eps = e/w with probability 1 - e^-d). With md5
as the row hash both Spark and DuckDB compute identical positions, so
the sketch rows and every estimate are bit-identical across engines —
an approximate algorithm that still passes a value-hash gate.

Scale shape: the sketch build is ONE hash aggregate over a d-way
row-local fan-out (explode of d (row, position) pairs — no shuffle
before the groupBy); its state is at most d*w rows regardless of input
size, so it broadcasts everywhere and MERGES by counter-wise addition
(union + sum), making it the streaming/incremental frequency state the
reference's counters imply (SURVEY §2.11 sketch family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pos(col: str, i: int, w: int):
    """Row-i counter position of ``col``: first 12 md5 hex chars of
    'key#i' as a 48-bit int, mod w — exact in both engines."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws("#", F.col(col), F.lit(i))), 1, 12), 16, 10
        ).cast("bigint")
        % w
    )


def cms_sketch(df: DataFrame, col: str, d: int = 4, w: int = 512) -> DataFrame:
    """Build the sketch: rows ``(r, pos, c)`` — at most d*w of them."""
    fan = F.explode(
        F.array(*[F.struct(F.lit(i).alias("r"), _pos(col, i, w).alias("pos")) for i in range(d)])
    ).alias("rp")
    return (
        df.select(fan)
        .select("rp.r", "rp.pos")
        .groupBy("r", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Counter-wise addition — associative and commutative, so sketches
    of partitions/batches combine into the sketch of their union."""
    return (
        a.select("r", "pos", "c")
        .unionByName(b.select("r", "pos", "c"))
        .groupBy("r", "pos")
        .agg(F.sum("c").cast("bigint").alias("c"))
    )


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, col: str, d: int = 4, w: int = 512
) -> DataFrame:
    """``(*keys.columns, n_est)`` — min over the key's d counters. The
    sketch side is <= d*w rows and broadcasts; keys missing every counter
    (never inserted) estimate 0."""
    probes = keys.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("r"), _pos(col, i, w).alias("pos"))
                    for i in range(d)
                ]
            )
        ).alias("rp"),
    ).select("*", "rp.r", "rp.pos").drop("rp")
    hit = probes.join(F.broadcast(sketch), ["r", "pos"], "left").withColumn(
        "c", F.coalesce(F.col("c"), F.lit(0))
    )
    return hit.groupBy(*keys.columns).agg(F.min("c").cast("bigint").alias("n_est"))
