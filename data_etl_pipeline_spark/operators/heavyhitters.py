"""Exact heavy hitters in two passes with bounded memory (Misra-Gries).

At 100 TB the item domain (tokens, n-grams, URLs) is far too large to
hash-aggregate exactly in one shot — the groupBy state itself is the
scale problem. The classic fix is two passes:

  pass 1  per-partition Misra-Gries summaries with k counters each.
          MG guarantees any item with LOCAL count > N_p/(k+1) still owns
          a counter at partition end, so an item with GLOBAL count
          > N/(k+1) must survive in at least one partition (if it were
          below the bar everywhere, its global count would be at most
          sum_p N_p/(k+1) = N/(k+1)). The union of per-partition
          survivors is therefore a SUPERSET of every item with frequency
          >= support when k >= 1/support. At most k candidates per
          partition — driver/broadcast sized by construction.

  pass 2  exact re-count of candidates only: broadcast-semi-join the
          stream against the candidate set, one small groupBy, filter by
          the exact threshold ceil(support * N). Misra-Gries
          over/under-counts never reach the result — the sketch only
          nominates, the second scan decides.

State per task is one dict of <= 2k entries — independent of the item
domain size — and the heavy shuffle aggregates only candidate rows.
(Misra & Gries 1982; the summary-merge bound follows Agarwal et al.,
"Mergeable Summaries", PODS 2012.)
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_etl_pipeline_spark.tables import local_frame


def misra_gries_candidates(items: DataFrame, item_col: str, k: int) -> DataFrame:
    """Pass 1: per-partition Misra-Gries with ``k`` counters; returns the
    surviving items (superset of all items with global frequency
    > 1/(k+1)) plus one NULL-item row per partition whose ``_prows``
    carries the partition's non-null row count — letting the caller
    compute the exact total WITHOUT a second scan of the input.  NULL
    input values are not items and are excluded from counts and totals
    (the semi-join of pass 2 could never match them anyway)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n_rows = 0
        for pdf in batches:
            vals = pdf[item_col].dropna()  # NULL is not an item (documented)
            n_rows += len(vals)
            for item in vals:
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                else:
                    # decrement-all; drop zeros. Amortized O(1) per item
                    # via dict rebuild only when a decrement happens.
                    counters = {i: c - 1 for i, c in counters.items() if c > 1}
        # candidates ride with one NULL-item row carrying the partition's
        # row count, so the caller's total needs NO extra table scan
        yield pd.DataFrame(
            {item_col: list(counters.keys()) + [None], "_prows": [None] * len(counters) + [n_rows]}
        )

    from pyspark.sql import types as T

    narrow = items.select(item_col)
    out_schema = T.StructType(
        list(narrow.schema.fields) + [T.StructField("_prows", T.LongType())]
    )
    return narrow.mapInPandas(summarize, schema=out_schema)


def heavy_hitters(items: DataFrame, item_col: str, support: float) -> DataFrame:
    """Exact items with frequency >= ``support`` (count >= ceil(support*N))
    plus their exact counts and shares, via MG-nominate + exact re-count.

    Result columns: ``<item_col>``, ``cnt``, ``share`` (round 6).
    """
    if not 0.0 < support < 1.0:
        raise ValueError(f"support must be in (0, 1), got {support}")
    k = max(1, math.ceil(1.0 / support))
    summary = misra_gries_candidates(items, item_col, k)
    # Materialize BOTH the candidate set and the total in ONE driver job —
    # the summary is consumed by exactly this action (no cache needed; a
    # cached summary would be written and immediately orphaned), and
    # recreating the candidate frame from the collected rows keeps pass 2
    # from ever re-running the sketch. The driver result is bounded by
    # construction: <= k candidates per partition plus one total row —
    # the same bound that makes the broadcast legal.
    agg = summary.agg(
        F.sum("_prows").alias("total"),
        F.collect_set(F.col(item_col)).alias("cands"),  # NULL sentinels excluded
    ).first()
    total_val = int(agg["total"] or 0)
    spark = items.sparkSession
    candidates = local_frame(spark, [(c,) for c in agg["cands"]], items.select(item_col).schema)
    # exact threshold: cnt >= support * total decided in INTEGER
    # arithmetic — ceil() over a double product excludes exact-boundary
    # items when the product lands an ulp above the true value
    # (e.g. 0.0002 * 5e6 -> 1000.0000000000001 -> ceil 1001)
    from fractions import Fraction

    frac = Fraction(support).limit_denominator(10**9)
    if total_val == 0:
        # empty (or all-NULL) input: no item can meet any support level,
        # and cnt * den >= num * 0 would otherwise pass every candidate
        return (
            items.select(item_col)
            .where(F.lit(False))
            .select(item_col, F.lit(0).cast("bigint").alias("cnt"), F.lit(0.0).alias("share"))
        )
    out = (
        items.join(F.broadcast(candidates), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * F.lit(frac.denominator) >= F.lit(frac.numerator * total_val))
        .select(
            item_col,
            "cnt",
            F.round(F.col("cnt").cast("double") / F.lit(float(total_val)), 6).alias("share"),
        )
    )
    return out
