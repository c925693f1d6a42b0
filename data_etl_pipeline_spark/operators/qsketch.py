"""Mergeable quantile sketch with DETERMINISTIC integer binning.

Exact percentiles (plans/extensions.py ``price_percentiles``) need a full
pass over all history every time; at 100 TB an hourly p95 that rescans
the corpus is the bottleneck. The standard fix is a mergeable sketch kept
as TABLE STATE: each ingest batch folds into a bounded set of bucket
counts (one shuffle over the NEW rows only), the persisted sketch MERGEs
by adding counts, and any quantile reads off the cumulative histogram —
O(new data) per batch, O(sketch) per query, mergeable across partitions,
executors, and time. The same state-not-recompute pattern as the HLL
distinct-count state (plans/pipeline.py ``hll_incremental_distinct``).

The binning is a decimal analog of DDSketch's log buckets (Masson et al.,
VLDB 2019) chosen for CROSS-ENGINE BIT-DETERMINISM: a positive value in
cents falls into the bucket of its (digit count, leading two digits) —
pure integer/string arithmetic that Spark and any SQL oracle compute
identically, with no transcendental (ln/pow) calls whose last-ulp
differences could flip a boundary value into a different bucket.
Relative error is bounded by the bucket width over its low edge:
1/lead2 <= 1/10, i.e. <= 10% worst case, <= ~1% at the top of each
decade — the DDSketch trade-off with a decimal gamma. Bucket count is
bounded by 90 per decade (~9 decades for int64 cents => < 900 buckets,
whatever the data volume).

Zero and negative values: cents <= 0 all land in the dedicated bucket
(digits=0, lead2=0, lo=0, width=1) — quantiles over prices treat them as
the minimum. NULLs are excluded (SQL aggregate semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_etl_pipeline_spark.tables import local_frame

# (digits, lead2) -> [lo, lo+width) in cents. lo/width are built by
# STRING concatenation (leading pair + zeros), not pow(): a libm pow
# returning 10^n an ulp low would truncate to 99...9 under Spark's
# double->bigint cast while a rounding engine lands on 10^n — precisely
# the transcendental-boundary divergence this binning exists to exclude.
_BUCKET_EXPR = """
CASE WHEN _cents <= 0 THEN struct(0 AS digits, 0 AS lead2, CAST(0 AS BIGINT) AS lo, CAST(1 AS BIGINT) AS width)
     WHEN _cents < 10 THEN struct(1 AS digits, CAST(_cents AS INT) AS lead2, _cents AS lo, CAST(1 AS BIGINT) AS width)
     ELSE struct(
       length(CAST(_cents AS STRING)) AS digits,
       CAST(substring(CAST(_cents AS STRING), 1, 2) AS INT) AS lead2,
       CAST(concat(substring(CAST(_cents AS STRING), 1, 2),
                   repeat('0', length(CAST(_cents AS STRING)) - 2)) AS BIGINT) AS lo,
       CAST(concat('1', repeat('0', length(CAST(_cents AS STRING)) - 2)) AS BIGINT) AS width)
END
"""


def quantile_sketch(df: DataFrame, col: str) -> DataFrame:
    """One sketch row per occupied bucket: (digits, lead2, lo, width,
    cnt). A single map + groupBy over the batch — the only shuffle, keyed
    on < 900 distinct buckets, so the partial aggregation collapses
    map-side and the exchange moves a bounded row count regardless of
    batch size."""
    cents = F.expr(f"CAST(ROUND({col} * 100, 0) AS BIGINT)")
    b = (
        df.where(F.col(col).isNotNull())
        .select(cents.alias("_cents"))
        .select(F.expr(_BUCKET_EXPR).alias("b"))
        .select("b.digits", "b.lead2", "b.lo", "b.width")
    )
    return b.groupBy("digits", "lead2", "lo", "width").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def merge_sketches(*sketches: DataFrame) -> DataFrame:
    """Sketch merge = bucket-count addition (the mergeability law)."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("digits", "lead2", "lo", "width").agg(
        F.sum("cnt").alias("cnt")
    )


def quantiles_from_sketch(sketch: DataFrame, qs: list[float]) -> DataFrame:
    """(q, est) rows: for each q, the representative value (bucket
    midpoint, in the original units) of the first bucket whose cumulative
    count reaches ceil(q * total). Integer rank comparison — no float
    threshold can flip on an exact boundary."""
    from pyspark.sql import Window as W

    total = sketch.agg(F.sum("cnt").alias("total"))
    w = W.orderBy("lo", "digits", "lead2").rowsBetween(W.unboundedPreceding, 0)
    cum = sketch.withColumn("cum", F.sum("cnt").over(w)).crossJoin(
        F.broadcast(total)
    )
    # q is carried as an exact micro-quantile integer: a q whose 1e6
    # multiple is not integral (beyond p99.9999 precision) must error, not
    # silently snap to a neighboring percentile
    for q in qs:
        if abs(q * 1_000_000 - round(q * 1_000_000)) > 1e-6:
            raise ValueError(
                f"quantile {q!r} has more than 6 decimal places; it would "
                "silently snap to a different percentile"
            )
    qdf = local_frame(sketch.sparkSession, [(q,) for q in qs], "q double")
    # rank = ceil(q * total) in integer-safe form: smallest k with
    # 1e6*k >= q1e6*total (q validated to <= 6 decimals above)
    joined = cum.crossJoin(F.broadcast(qdf)).where(
        F.col("cum") * 1_000_000
        >= F.round(F.col("q") * 1_000_000).cast("bigint") * F.col("total")
    )
    est = F.round((F.col("lo") + (F.col("width") - 1) / 2.0) / 100.0, 6)
    return (
        joined.groupBy("q")
        .agg(F.min_by(est, F.col("lo")).alias("est"))
        .select("q", "est")
    )
