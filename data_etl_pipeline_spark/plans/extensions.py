"""Extension queries: multimodal feature extraction, LLM mapping
validation (J9), token-budget guards (F11), percentile/approx aggregates.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_etl_pipeline_spark.functions import psl
from data_etl_pipeline_spark.operators import multimodal
from data_etl_pipeline_spark.plans.registry import query
from data_etl_pipeline_spark.session import conf_scope, scratch_dir
from data_etl_pipeline_spark.sources.commit import write_single_parquet
from data_etl_pipeline_spark.tables import load, local_frame


def _status_totals(df: DataFrame) -> DataFrame:
    """Per-status order count and exact-decimal price total: what the
    table-format lifecycle queries return for the table they built (their
    oracle SQL runs the same GROUP BY over the rows it should hold)."""
    return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


def _orders_slicer(spark: SparkSession, sf_dir: str) -> Callable[[int, int], DataFrame]:
    """``sl(lo, hi)``: the orders (key, status, price) rows with
    ``lo <= o_orderkey < hi`` — the key-range commits a lifecycle query
    writes one after another."""
    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")

    def sl(lo: int, hi: int) -> DataFrame:
        return base.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi))

    return sl


_H60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
_H60_SPARK = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


# ---------------------------------------------------------------------------
# multimodal: binary payload -> narrow feature table via mapInPandas
# ---------------------------------------------------------------------------
@query(
    "multimodal_features",
    sql=f"""
    SELECT doc_id AS item_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
           CAST(strlen(text) AS INT) AS n_bytes,
           sha256(text) AS payload_sha256,
           CAST(({_H60.format(x="text")} % 2147483647) % 640 AS INT) AS fake_width,
           CAST(({_H60.format(x="text")} % 2147483647) % 480 AS INT) AS fake_height
    FROM documents
    """,
    doc="Binary multimodal payloads -> feature table via Arrow mapInPandas (decode stubbed).",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    payloads = multimodal.payloads_from_documents(load(spark, sf_dir, "documents"))
    return multimodal.extract_features(payloads)


@query(
    "multimodal_frame_sample",
    sql="""
    WITH p AS (SELECT doc_id AS item_id,
                      GREATEST(1, CAST(strlen(text) / 1024 AS INT)) AS n_frames
               FROM documents)
    SELECT item_id, CAST(f AS INT) AS frame_no
    FROM p, unnest(range(0, n_frames)) t(f)
    WHERE f % 10 = 0
    """,
    doc="Frame-sampling plumbing: payload -> sampled frame rows (decode seam stubbed).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    payloads = multimodal.payloads_from_documents(load(spark, sf_dir, "documents"))
    return multimodal.frame_sample_plan(payloads, every_n=10).select(
        "item_id", F.col("frame_no").cast("int").alias("frame_no")
    )


# ---------------------------------------------------------------------------
# J9: mapping re-join — validate LLM unknown->known mappings against the
# vocabulary and the observed unknown set; hallucinations dropped
# (map_known_to_unknown_service.py:158-210).
# ---------------------------------------------------------------------------
_VOCAB9 = ["spark", "query", "table", "row", "stream", "window"]
_V9_LIST = ",".join(f"'{v}'" for v in _VOCAB9)
_V9_ARRAY_SQL = "[" + _V9_LIST + "]"


@query(
    "mapping_validation",
    sql=f"""
    WITH words AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS unknown FROM documents),
    unmatched AS (SELECT unknown FROM words WHERE unknown NOT IN ({_V9_LIST})),
    -- the LLM's proposed mapping: deterministic stub; every 7th proposal
    -- hallucinates a target outside the vocabulary
    proposals AS (SELECT unknown,
                         CASE WHEN ({_H60.format(x="unknown")} % 7) = 0 THEN 'HALLUCINATED'
                              ELSE {_V9_ARRAY_SQL}[CAST({_H60.format(x="unknown")} % 6 AS INT) + 1]
                         END AS known
                  FROM unmatched),
    valid AS (SELECT p.unknown, p.known FROM proposals p WHERE p.known IN ({_V9_LIST}))
    SELECT known, COUNT(*) AS n_mapped,
           array_to_string(list_sort(list(unknown)), ',') AS unknowns
    FROM valid GROUP BY known
    """,
    doc="LLM mapping re-validation: hallucinated targets dropped, grouped inversion (SURVEY J9/A3).",
)
def mapping_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    vocab = local_frame(spark, [(v,) for v in _VOCAB9], "label string")
    words = docs.select(F.explode(F.split("text", " ")).alias("unknown")).distinct()
    unmatched = words.join(F.broadcast(vocab), words.unknown == vocab.label, "left_anti")
    h = _H60_SPARK.format(x="unknown")
    arr = "array(" + _V9_LIST + ")"
    proposals = unmatched.withColumn(
        "known",
        F.expr(f"IF(({h} % 7) = 0, 'HALLUCINATED', element_at({arr}, cast({h} % 6 as int) + 1))"),
    )
    valid = proposals.join(F.broadcast(vocab), proposals.known == vocab.label, "left_semi")
    return valid.groupBy("known").agg(
        F.count(F.lit(1)).alias("n_mapped"),
        F.array_join(F.array_sort(F.collect_list("unknown")), ",").alias("unknowns"),
    )


# ---------------------------------------------------------------------------
# F11: token-budget guard (prompt + context + completion <= max_context)
# ---------------------------------------------------------------------------
@query(
    "token_budget_guard",
    sql="""
    WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS ctx_tokens FROM documents)
    SELECT CASE WHEN 200 + ctx_tokens + 100 <= 300 THEN 'fits' ELSE 'over_budget' END AS status,
           COUNT(*) AS n_docs,
           CAST(SUM(ctx_tokens) AS BIGINT) AS total_ctx_tokens
    FROM t GROUP BY 1
    """,
    doc="Prompt+context+completion budget guard as a filter expression (SURVEY F11).",
)
def token_budget_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load(spark, sf_dir, "documents").select(F.size(F.split("text", " ")).alias("ctx_tokens"))
    return (
        t.withColumn("status", F.when(F.lit(200) + F.col("ctx_tokens") + F.lit(100) <= 300, "fits").otherwise("over_budget"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("ctx_tokens").alias("total_ctx_tokens"))
    )


# ---------------------------------------------------------------------------
# exact percentiles (scale path: percentile_approx — see rows-only query)
# ---------------------------------------------------------------------------
@query(
    "price_percentiles",
    sql="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5)  AS p50,
           quantile_cont(l_extendedprice, 0.95) AS p95
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles per group (both engines share the formula).",
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.25)").alias("p25"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.95)").alias("p95"),
        )
    )


@query(
    "approx_distinct_scales",
    # HLL/KLL sketch values differ across engines by design, so the oracle
    # checks the INVARIANT instead: exact values hash-compare bit-for-bit and
    # the sketch estimates must sit inside their documented error bounds
    # (emitted as booleans the oracle expects to be TRUE).
    sql="""
    SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT)  AS exact_parts,
           ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS exact_median_price,
           TRUE AS orders_within_10pct,
           TRUE AS parts_within_10pct,
           TRUE AS median_within_5pct
    FROM lineitem
    """,
    doc="approx_count_distinct / percentile_approx — the sketch path used instead "
    "of exact ops at 100 TB; oracle-checked via exact values + error-bound booleans.",
)
def approx_distinct_scales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.approx_count_distinct("l_orderkey").alias("a_orders"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.approx_count_distinct("l_partkey").alias("a_parts"),
        F.expr("percentile(l_extendedprice, 0.5D)").alias("exact_median"),
        F.expr("percentile_approx(l_extendedprice, 0.5D, 10000)").alias("a_median"),
    )
    def _within(a, e, tol):  # relative error bound as a boolean column
        return (F.abs(F.col(a) - F.col(e)) / F.col(e)) <= tol
    return agg.select(
        "exact_orders",
        "exact_parts",
        F.round(F.col("exact_median"), 2).alias("exact_median_price"),
        _within("a_orders", "exact_orders", 0.10).alias("orders_within_10pct"),
        _within("a_parts", "exact_parts", 0.10).alias("parts_within_10pct"),
        _within("a_median", "exact_median", 0.05).alias("median_within_5pct"),
    )


# ---------------------------------------------------------------------------
# F3: PSL-based registrable domain (eTLD+1). The test tables carry no URLs,
# so hosts are DERIVED deterministically from supplier names with a rotation
# of PSL-tricky suffixes (wildcard *.ck, exception www.ck, private
# github.io, multi-level k12.va.us, ...). Spark resolves them through the
# zero-shuffle fold in functions/psl.py; the oracle re-implements PSL
# matching independently in DuckDB SQL — a true differential test of two
# implementations over the same embedded rule snapshot.
# Reference: core/src/core/utils/url_util.py:9-14 (publicsuffix2).
# ---------------------------------------------------------------------------

_HOST_PREFIXES = ("", "www.", "a.b.")
_HOST_SUFFIXES = (
    "com", "org", "co.uk", "co.nz", "com.sg", "github.io", "blogspot.com",
    "ck", "fk", "k12.va.us", "s3.amazonaws.com", "io", "nom.br",
)


def _host_sql_duckdb() -> str:
    prefixes = ",".join(f"'{p}'" for p in _HOST_PREFIXES)
    suffixes = ",".join(f"'{s}'" for s in _HOST_SUFFIXES)
    return f"""
    SELECT concat(
             [{prefixes}][CAST(s_suppkey % {len(_HOST_PREFIXES)} AS INT) + 1],
             regexp_replace(lower(s_name), '[^a-z0-9]', '-', 'g'),
             '.',
             [{suffixes}][CAST(s_suppkey % {len(_HOST_SUFFIXES)} AS INT) + 1]
           ) AS host
    FROM supplier
    """


def _hosts_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    prefixes = ",".join(f"'{p}'" for p in _HOST_PREFIXES)
    suffixes = ",".join(f"'{s}'" for s in _HOST_SUFFIXES)
    return load(spark, sf_dir, "supplier").select(
        F.expr(
            f"concat(element_at(array({prefixes}), cast(s_suppkey % {len(_HOST_PREFIXES)} as int) + 1), "
            f"regexp_replace(lower(s_name), '[^a-z0-9]', '-'), '.', "
            f"element_at(array({suffixes}), cast(s_suppkey % {len(_HOST_SUFFIXES)} as int) + 1))"
        ).alias("host")
    )


@query(
    "supplier_host_etld1",
    sql=psl.duckdb_etld1_select(_host_sql_duckdb()),
    doc="PSL registrable-domain (eTLD+1) with wildcard/exception rules over "
    "derived hostnames; oracle is an independent DuckDB PSL implementation.",
)
def supplier_host_etld1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return psl.with_etld1(_hosts_spark(spark, sf_dir), "host")


# ---------------------------------------------------------------------------
# Table-format semantics (SURVEY §1.4: ST2 MERGE, S4 time travel) through
# the versioned parquet layer. The query materializes orders as version 0,
# MERGEs an update batch (status rewrite for o_orderkey % 7 == 0, inserts
# for % 13 == 0 under shifted keys), then aggregates BOTH versions via time
# travel. The oracle recomputes both states relationally — v0 from the raw
# table, v1 with the same CASE rewrite + UNION ALL inserts — so a wrong
# merge (lost row, double insert, missed update) or broken time travel
# changes counts/sums and fails the hash.
# ---------------------------------------------------------------------------
@query(
    "versioned_merge_time_travel",
    sql="""
    WITH v0 AS (
      SELECT o_orderstatus AS status, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1),
    v1rows AS (
      SELECT CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END AS status,
             o_totalprice
      FROM orders
      UNION ALL
      SELECT 'NEW' AS status, o_totalprice FROM orders WHERE o_orderkey % 13 = 0),
    v1 AS (
      SELECT status, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM v1rows GROUP BY 1)
    SELECT COALESCE(v0.status, v1.status) AS status,
           COALESCE(v0.n, 0) AS n_v0,
           COALESCE(v1.n, 0) AS n_v1,
           COALESCE(v0.total, 0.0) AS total_v0,
           COALESCE(v1.total, 0.0) AS total_v1
    FROM v0 FULL OUTER JOIN v1 ON v0.status = v1.status
    """,
    doc="MERGE upsert + time-travel read through the versioned table layer "
    "(Delta/Iceberg semantics over parquet snapshots); oracle recomputes both versions.",
)
def versioned_merge_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = VersionedTable(spark, scratch_dir(spark, "vtbl_"))
    t.write(base)
    updates = base.where(F.col("o_orderkey") % 7 == 0).withColumn("o_orderstatus", F.lit("X"))
    inserts = (
        base.where(F.col("o_orderkey") % 13 == 0)
        .select(
            (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
            F.lit("NEW").alias("o_orderstatus"),
            F.col("o_totalprice"),
        )
    )
    t.merge(updates.unionByName(inserts), keys=["o_orderkey"])

    def agg(df: DataFrame, n_col: str, t_col: str) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(t_col),
        )

    a0 = agg(t.read(version=0), "n_v0", "total_v0")
    a1 = agg(t.read(), "n_v1", "total_v1")
    return (
        a0.join(a1, on="status", how="full_outer")
        .select(
            "status",
            F.coalesce("n_v0", F.lit(0)).alias("n_v0"),
            F.coalesce("n_v1", F.lit(0)).alias("n_v1"),
            F.coalesce("total_v0", F.lit(0.0)).alias("total_v0"),
            F.coalesce("total_v1", F.lit(0.0)).alias("total_v1"),
        )
    )


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER through the versioned layer: rewrite an arbitrarily-laid-
# out table clustered on the Morton curve over (o_custkey, o_orderkey),
# then MERGE a key-sparse update batch — multi-dimensional file skipping
# with content correctness proven by the oracle (the layout itself is
# asserted in tests/test_versioned.py::test_optimize_zorder_skips_on_every_dimension).
# ---------------------------------------------------------------------------
@query(
    "versioned_zorder_merge",
    sql="""
    WITH cur AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 100 = 0
                  THEN CAST(o_totalprice + 1000.00 AS DECIMAL(15,2))
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey <= 4000)
    SELECT CAST(o_custkey % 10 AS BIGINT) AS cust_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM cur GROUP BY 1
    """,
    doc="OPTIMIZE ZORDER BY (o_custkey, o_orderkey) + MERGE through the "
    "versioned table: Morton-curve layout makes per-file stats tight on "
    "both dimensions so the key-sparse merge skips files; oracle replays "
    "the logical content (layout asserted separately in tests).",
)
def versioned_zorder_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 4000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    t = VersionedTable(spark, scratch_dir(spark, "ztbl_"))
    t.write(base.repartition(5))  # arbitrary hash layout, nothing skippable
    t.optimize_zorder(["o_custkey", "o_orderkey"], n_files=4)
    updates = (
        base.where(F.col("o_orderkey") % 100 == 0)
        .withColumn(
            "o_totalprice",
            (F.col("o_totalprice") + F.lit(1000.00)).cast("decimal(15,2)"),
        )
    )
    t.merge(updates, keys=["o_orderkey"])
    return (
        t.read()
        .groupBy(F.pmod(F.col("o_custkey"), F.lit(10)).cast("long").alias("cust_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Change-data-feed through the versioned layer (Delta CDF's snapshot-diff
# form): write orders as v0 clustered on the key, MERGE a key-bounded
# update+insert batch, DELETE a pruned key range, then read the net
# row-level changes v0 -> latest. Files outside the touched key ranges are
# carried by reference and never read by the feed — the oracle proves the
# feed is exactly the logical diff, so a carried file wrongly included (or
# a changed row missed) fails the hash.
# ---------------------------------------------------------------------------
@query(
    "versioned_change_feed",
    sql="""
    WITH v0 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= 8000),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 AND o_orderkey <= 3000
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM v0
      UNION ALL
      SELECT o_orderkey + 100000000, 'NEW', o_totalprice
      FROM v0 WHERE o_orderkey % 13 = 0),
    v2 AS (SELECT * FROM v1 WHERE o_orderkey NOT BETWEEN 1000 AND 1500),
    j AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
             a.o_orderkey AS ok_old, b.o_orderkey AS ok_new,
             a.o_orderstatus AS st_old, b.o_orderstatus AS st_new,
             a.o_totalprice AS tp_old, b.o_totalprice AS tp_new
      FROM v0 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
    SELECT k AS o_orderkey, st_new AS o_orderstatus, tp_new AS o_totalprice,
           'insert' AS change_type
    FROM j WHERE ok_old IS NULL
    UNION ALL
    SELECT k, st_old, tp_old, 'delete' FROM j WHERE ok_new IS NULL
    UNION ALL
    SELECT k, st_old, tp_old, 'update_preimage'
    FROM j WHERE ok_old IS NOT NULL AND ok_new IS NOT NULL
      AND (st_old <> st_new OR tp_old <> tp_new)
    UNION ALL
    SELECT k, st_new, tp_new, 'update_postimage'
    FROM j WHERE ok_old IS NOT NULL AND ok_new IS NOT NULL
      AND (st_old <> st_new OR tp_old <> tp_new)
    """,
    doc="Change-data-feed (Delta CDF snapshot-diff form) over the versioned "
    "table: MERGE + DELETE WHERE, then net row-level changes v0 -> latest "
    "reading only removed/added files; oracle recomputes the logical diff.",
)
def versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable, range_prune

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 8000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    t = VersionedTable(spark, scratch_dir(spark, "cdf_tbl_"))
    # clustered layout -> the key-bounded MERGE and pruned DELETE carry the
    # untouched key-range files, which the feed then never reads
    t.write(base, cluster_by=["o_orderkey"], n_files=8)
    updates = (
        base.where((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") <= 3000))
        .withColumn("o_orderstatus", F.lit("X"))
    )
    inserts = base.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        F.lit("NEW").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    t.merge(updates.unionByName(inserts), keys=["o_orderkey"])
    t.delete_where(
        F.col("o_orderkey").between(1000, 1500),
        prune=range_prune("o_orderkey", 1000, 1500),
    )
    return t.change_feed(keys=["o_orderkey"], from_version=0)


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance driven by the change feed: the
# per-status (count, total) aggregate is maintained by applying SIGNED
# deltas from change_feed(v0 -> latest) to the v0 aggregate — inserts and
# update-postimages add, deletes and update-preimages subtract — instead
# of re-aggregating the snapshot. At 100 TB the delta volume is the
# changed rows only (and change_feed reads only removed/added files), so
# view maintenance costs O(changes), not O(table). The query RETURNS the
# incrementally-maintained view; the oracle aggregates the final logical
# state directly, so any drift between delta math and truth fails the
# hash.
# ---------------------------------------------------------------------------
@query(
    "ivm_join_view",
    sql="""
    WITH a1 AS (SELECT c_custkey,
                       CASE WHEN c_custkey % 10 = 3 THEN 99 ELSE c_nationkey END AS nation
                FROM customer),
    b1 AS (SELECT o_custkey, o_totalprice FROM orders
           WHERE o_orderkey < 1800 AND o_orderkey % 11 <> 5)
    SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM a1 JOIN b1 ON c_custkey = o_custkey
    GROUP BY 1
    """,
    doc="Incremental maintenance of a JOIN view (revenue per nation over "
    "customer x orders) through changes to BOTH tables: "
    "delta(A x B) = dA x B0 + A1 x dB with sign algebra, so the big join "
    "never reruns — only change-sized joins against snapshots. The "
    "customer update relocates revenue between nations via its "
    "preimage(-1)/postimage(+1) pair; order inserts and deletes flow "
    "through dB. Oracle aggregates the final joined state directly, so "
    "any delta-algebra drift fails the hash.",
)
def ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.ivm import join_view_delta_versioned
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    a = VersionedTable(spark, scratch_dir(spark, "ivm_a_"))
    b = VersionedTable(spark, scratch_dir(spark, "ivm_b_"))
    a.write(cust)
    b.write(orders.where(F.col("o_orderkey") < 1500))

    dec = F.col("o_totalprice").cast("decimal(18,2)")
    mv0 = (
        a.read(version=0)
        .join(b.read(version=0), F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec).alias("total"))
    )
    # both tables change: a dimension UPDATE and fact INSERTs + DELETEs
    a.merge(
        cust.where(F.pmod("c_custkey", F.lit(10)) == 3).withColumn(
            "c_nationkey", F.lit(99).cast(dict(cust.dtypes)["c_nationkey"])
        ),
        keys=["c_custkey"],
    )
    b.merge(
        orders.where((F.col("o_orderkey") >= 1500) & (F.col("o_orderkey") < 1800)),
        keys=["o_orderkey"],
    )
    b.delete_where(F.pmod("o_orderkey", F.lit(11)) == 5)

    # versioned form: snapshots (B at OLD, A at NEW) and both feeds are
    # derived from the tables + version numbers, so the same-version
    # snapshot pairing that double-counts dA x dB cannot be expressed
    delta = join_view_delta_versioned(
        a,
        b,
        a_keys=["c_custkey"],
        b_keys=["o_orderkey"],
        on_a="c_custkey",
        on_b="o_custkey",
        a_from=0,
        b_from=0,
        b_cols=["o_custkey", "o_totalprice"],
    )
    dagg = delta.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.sum("_sign").alias("n"),
        F.sum(dec * F.col("_sign").cast("decimal(2,0)")).alias("total"),
    )
    return (
        mv0.unionByName(dagg)
        .groupBy("nation")
        .agg(F.sum("n").cast("long").alias("n"), F.sum("total").alias("total"))
        .where(F.col("n") > 0)
        .select("nation", "n", F.col("total").cast("double").alias("total"))
    )


@query(
    "cdc_materialized_view",
    sql="""
    WITH v0 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= 8000),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 0 AND o_orderkey <= 3000
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM v0
      UNION ALL
      SELECT o_orderkey + 100000000, 'NEW', o_totalprice
      FROM v0 WHERE o_orderkey % 13 = 0),
    v2 AS (SELECT * FROM v1 WHERE o_orderkey NOT BETWEEN 1000 AND 1500)
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM v2 GROUP BY o_orderstatus
    """,
    doc="Incremental materialized-view maintenance: v0 aggregate + signed "
    "change-feed deltas (O(changes), not O(table)); oracle aggregates the "
    "final state directly, so delta-math drift fails the hash.",
)
def cdc_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable, range_prune

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 8000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    t = VersionedTable(spark, scratch_dir(spark, "mv_tbl_"))
    t.write(base, cluster_by=["o_orderkey"], n_files=8)
    updates = (
        base.where((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") <= 3000))
        .withColumn("o_orderstatus", F.lit("X"))
    )
    inserts = base.where(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        F.lit("NEW").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    t.merge(updates.unionByName(inserts), keys=["o_orderkey"])
    t.delete_where(
        F.col("o_orderkey").between(1000, 1500),
        prune=range_prune("o_orderkey", 1000, 1500),
    )

    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    view0 = t.read(version=0).groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec).alias("total")
    )
    deltas = (
        t.change_feed(keys=["o_orderkey"], from_version=0)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.sum(sign).alias("n"),
            F.sum(dec * sign.cast("decimal(2,0)")).alias("total"),
        )
    )
    return (
        view0.unionByName(deltas)
        .groupBy("status")
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .where(F.col("n") > 0)
        .select("status", "n", F.col("total").cast("double").alias("total"))
    )


# ---------------------------------------------------------------------------
# F4/F12: email extraction over deterministic synthesized contact text
# (the corpus has no email column; both engines build the identical text
# from customer rows, so extraction + deny-list validation is fully
# hash-checked). The DNS-deliverability step stays the pluggable seam
# (functions/text.py::extract_emails_validated_col, tested with a fake
# resolver); the deny-list default compiles into codegen here.
# ---------------------------------------------------------------------------
@query(
    "customer_emails",
    sql=r"""
    WITH t AS (
      SELECT c_custkey,
             'Contact cust' || c_custkey || '@' ||
             CASE CAST(c_custkey % 3 AS INT)
                  WHEN 0 THEN 'mail.example.com'
                  WHEN 1 THEN 'logo.png'
                  ELSE 'shop.example.org' END ||
             ' or ADMIN' || c_custkey || '@Example.COM today' AS text
      FROM customer),
    x AS (
      SELECT c_custkey,
             list_sort(list_distinct(list_filter(
               regexp_extract_all(lower(text), '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'),
               e -> NOT list_extract(string_split(e, '.'), len(string_split(e, '.')))
                    IN ('png', 'jpg', 'jpeg', 'gif', 'svg', 'webp', 'css', 'js')))) AS emails
      FROM t)
    SELECT c_custkey, CAST(len(emails) AS INT) AS n_emails,
           array_to_string(emails, ',') AS emails_csv
    FROM x
    """,
    doc="Email extraction + TLD deny-list validation (SURVEY F4, F12 case "
    "normalization) over deterministic contact text; the DNS step is the "
    "documented injectable seam.",
)
def customer_emails(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.functions.text import extract_emails_col

    text = F.concat(
        F.lit("Contact cust"),
        F.col("c_custkey").cast("string"),
        F.lit("@"),
        F.when(F.col("c_custkey") % 3 == 0, "mail.example.com")
        .when(F.col("c_custkey") % 3 == 1, "logo.png")
        .otherwise("shop.example.org"),
        F.lit(" or ADMIN"),
        F.col("c_custkey").cast("string"),
        F.lit("@Example.COM today"),
    )
    return (
        load(spark, sf_dir, "customer")
        .select("c_custkey", text.alias("text"))
        .select("c_custkey", extract_emails_col("text").alias("emails"))
        .select(
            "c_custkey",
            F.size("emails").alias("n_emails"),
            F.array_join("emails", ",").alias("emails_csv"),
        )
    )


# ---------------------------------------------------------------------------
# F9: lat/lng bounds check + WKT point rendering. Coordinates are derived
# as integral-valued doubles (identical text rendering in both engines);
# every 5th supplier is pushed out of bounds to exercise the NULL path.
# ---------------------------------------------------------------------------
@query(
    "supplier_wkt_points",
    sql="""
    WITH c AS (
      SELECT s_suppkey,
             CAST(((s_suppkey * 7) % 181) - 90 AS DOUBLE)
               * (CASE WHEN s_suppkey % 5 = 0 THEN 3 ELSE 1 END) AS lat,
             CAST(((s_suppkey * 13) % 361) - 180 AS DOUBLE) AS lng
      FROM supplier)
    SELECT s_suppkey,
           CASE WHEN lat BETWEEN -90 AND 90 AND lng BETWEEN -180 AND 180
                THEN 'POINT(' || CAST(lng AS VARCHAR) || ' ' || CAST(lat AS VARCHAR) || ')'
           END AS wkt
    FROM c
    """,
    doc="Lat/lng bounds validation + WKT POINT rendering (SURVEY F9); "
    "out-of-bounds coordinates yield NULL, matching the reference's guard.",
)
def supplier_wkt_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.functions.text import wkt_point_col

    c = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (
            (((F.col("s_suppkey") * 7) % 181) - 90).cast("double")
            * F.when(F.col("s_suppkey") % 5 == 0, F.lit(3)).otherwise(F.lit(1))
        ).alias("lat"),
        ((((F.col("s_suppkey") * 13) % 361)) - 180).cast("double").alias("lng"),
    )
    return c.select("s_suppkey", wkt_point_col("lng", "lat").alias("wkt"))


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build from the change-data-feed: customer segments
# get a v1 MERGE rewrite (5th keys -> SEG-A) and a v2 DELETE (50th keys),
# and the dimension's validity intervals are assembled from the ACTUAL
# CDC events — v0 snapshot rows open intervals, update/insert postimages
# open replacement intervals, deletes close without reopening; one
# lead-over-version window per key turns the event log into
# [effective_from, effective_to) rows. The oracle recomputes the expected
# intervals relationally from the raw table, so a wrong change feed (lost
# update, phantom delete) shifts an interval and fails the hash. Scale
# shape: events are O(changes) on top of the v0 snapshot; the window
# partitions on the dimension key with a handful of rows per key.
# ---------------------------------------------------------------------------
@query(
    "versioned_scd2_dimension",
    sql="""
    WITH s0 AS (
        SELECT c_custkey, c_mktsegment AS segment, 0 AS v, 'set' AS kind FROM customer),
    chg1 AS (
        SELECT c_custkey, 'SEG-A' AS segment, 1 AS v, 'set' AS kind
        FROM customer WHERE c_custkey % 5 = 0 AND c_mktsegment <> 'SEG-A'),
    del2 AS (
        SELECT c_custkey, CAST(NULL AS VARCHAR) AS segment, 2 AS v, 'close' AS kind
        FROM customer WHERE c_custkey % 50 = 0),
    ev AS (
        SELECT * FROM s0 UNION ALL SELECT * FROM chg1 UNION ALL SELECT * FROM del2)
    SELECT c_custkey, segment,
           CAST(v AS INT) AS effective_from,
           CAST(COALESCE(LEAD(v) OVER w, 2147483647) AS INT) AS effective_to,
           LEAD(v) OVER w IS NULL AS is_current
    FROM ev
    WINDOW w AS (PARTITION BY c_custkey ORDER BY v)
    QUALIFY kind = 'set'
    """,
    doc="SCD Type-2 dimension assembled from the versioned table's change "
    "feed (MERGE rewrite + DELETE close); oracle recomputes the intervals "
    "relationally.",
)
def versioned_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = VersionedTable(spark, scratch_dir(spark, "scd2_"))
    t.write(base)
    t.merge(
        base.where(F.col("c_custkey") % 5 == 0).withColumn("c_mktsegment", F.lit("SEG-A")),
        keys=["c_custkey"],
    )
    t.delete_where(F.col("c_custkey") % 50 == 0)

    def feed(v_from: int, v_to: int) -> DataFrame:
        cf = t.change_feed(["c_custkey"], v_from, v_to)
        sets = cf.where(
            F.col("change_type").isin("insert", "update_postimage")
        ).select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.lit(v_to).alias("v"),
            F.lit("set").alias("kind"),
        )
        closes = cf.where(F.col("change_type") == "delete").select(
            "c_custkey",
            F.lit(None).cast("string").alias("segment"),
            F.lit(v_to).alias("v"),
            F.lit("close").alias("kind"),
        )
        return sets.unionByName(closes)

    s0 = t.read(version=0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).alias("v"),
        F.lit("set").alias("kind"),
    )
    events = s0.unionByName(feed(0, 1)).unionByName(feed(1, 2))
    w = W.partitionBy("c_custkey").orderBy("v")
    return (
        events.withColumn("effective_to", F.lead("v").over(w))
        .where(F.col("kind") == "set")
        .select(
            "c_custkey",
            "segment",
            F.col("v").cast("int").alias("effective_from"),
            # open intervals use an INT32_MAX sentinel, not NULL: a nullable
            # int column round-trips through pandas as float64, which the
            # driver's value hash sees as a type change (the '9999-12-31'
            # convention, integer form)
            F.coalesce(F.col("effective_to"), F.lit(2147483647))
            .cast("int")
            .alias("effective_to"),
            F.col("effective_to").isNull().alias("is_current"),
        )
    )


# ---------------------------------------------------------------------------
# Point MERGE through the Bloom-indexed table: orders clustered on the key
# with a per-file Bloom index (write(bloom_cols=...)), then a sparse
# point-update batch (every 97th key). The skip decision ANDs the Bloom
# bit-probe onto the range test, so files whose range overlaps the batch
# but which lack every key are carried by reference — the in-range-absent
# gap min/max stats cannot close (skip behavior itself is test-asserted in
# tests/test_versioned.py; this query proves end-to-end content
# correctness of the bloom-enabled path against a relational oracle).
# ---------------------------------------------------------------------------
@query(
    "versioned_bloom_point_merge",
    sql="""
    WITH v1rows AS (
        SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'P' ELSE o_orderstatus END AS status,
               o_totalprice
        FROM orders)
    SELECT status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM v1rows GROUP BY status
    """,
    doc="Sparse point MERGE through the Bloom-indexed versioned table; "
    "oracle recomputes the merged state relationally.",
)
def versioned_bloom_point_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = VersionedTable(spark, scratch_dir(spark, "vbloom_"))
    t.write(base, cluster_by=["o_orderkey"], n_files=8, bloom_cols=["o_orderkey"])
    updates = base.where(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderstatus", F.lit("P")
    )
    t.merge(updates, keys=["o_orderkey"])
    return _status_totals(t.read())


# ---------------------------------------------------------------------------
# DELETION VECTORS through the versioned layer (Delta/Iceberg v2 merge-on-
# read deletes): two DV deletes (one stats-pruned to a single file) mark
# row positions in sidecars without rewriting any data file, then a MERGE
# exercises the full interplay — carried files keep serving their DVs,
# rewritten files purge them, and an upsert whose key was DV-deleted
# re-inserts it (exact MERGE semantics). The oracle replays the logical
# sequence; the zero-rewrite mechanics are asserted in tests/test_versioned.py.
# ---------------------------------------------------------------------------
@query(
    "versioned_dv_delete",
    sql="""
    WITH v0 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= 8000),
    after_dv AS (
      SELECT * FROM v0
      WHERE NOT (o_orderkey % 97 = 0) AND o_orderkey NOT BETWEEN 500 AND 700),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice
      FROM v0 WHERE o_orderkey % 11 = 0 AND o_orderkey <= 2000),
    vf AS (
      SELECT * FROM after_dv
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      UNION ALL SELECT * FROM upd),
    a0 AS (SELECT o_orderstatus AS status, COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM v0 GROUP BY 1),
    af AS (SELECT o_orderstatus AS status, COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM vf GROUP BY 1)
    SELECT COALESCE(a0.status, af.status) AS status,
           COALESCE(a0.n, 0) AS n_v0,
           COALESCE(af.n, 0) AS n_now,
           COALESCE(a0.total, 0.0) AS total_v0,
           COALESCE(af.total, 0.0) AS total_now
    FROM a0 FULL OUTER JOIN af ON a0.status = af.status
    """,
    doc="Deletion-vector DELETEs (position sidecars, zero data-file "
    "rewrites) + stats-pruned DV delete + MERGE interplay through the "
    "versioned table; time travel reads the pre-delete snapshot.",
)
def versioned_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable, range_prune

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 8000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    t = VersionedTable(spark, scratch_dir(spark, "dvtbl_"))
    t.write(base, cluster_by=["o_orderkey"], n_files=4)
    t.delete_where_dv(F.pmod(F.col("o_orderkey"), F.lit(97)) == 0)
    t.delete_where_dv(
        F.col("o_orderkey").between(500, 700), prune=range_prune("o_orderkey", 500, 700)
    )
    upd = (
        base.where((F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") <= 2000))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    t.merge(upd, keys=["o_orderkey"])

    def agg(df: DataFrame, n_col: str, t_col: str) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(t_col),
        )

    a0 = agg(t.read(version=0), "n_v0", "total_v0")
    af = agg(t.read(), "n_now", "total_now")
    return a0.join(af, on="status", how="full_outer").select(
        "status",
        F.coalesce("n_v0", F.lit(0)).alias("n_v0"),
        F.coalesce("n_now", F.lit(0)).alias("n_now"),
        F.coalesce("total_v0", F.lit(0.0)).alias("total_v0"),
        F.coalesce("total_now", F.lit(0.0)).alias("total_now"),
    )


# ---------------------------------------------------------------------------
# Incremental distinct-count maintenance via MERGEABLE HLL sketch state
# (DataSketches): per-day sketches live in the versioned table; a late
# batch unions its sketches into the persisted ones (register-wise max —
# associative, order-free) instead of ever rescanning history, and the
# corpus-wide distinct is one union over the day rows. The 100 TB shape
# for "distinct users ever" style metrics: state is lgK=12 bytes per day,
# maintenance cost is one batch scan. Sketch estimates are
# implementation-specific, so (like approx_distinct_scales) the oracle
# checks exact values bit-for-bit plus the documented error bound as a
# boolean it expects TRUE.
# ---------------------------------------------------------------------------
@query(
    "hll_incremental_distinct",
    sql="""
    WITH ev AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id FROM events),
    per_day AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
                FROM ev GROUP BY day)
    SELECT day, exact_distinct, TRUE AS within_5pct FROM per_day
    UNION ALL
    SELECT CAST(NULL AS DATE) AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT), TRUE FROM ev
    """,
    doc="Per-day HLL sketches persisted in the versioned table; a late "
    "batch MERGEs by sketch UNION (no history rescan); per-day and "
    "corpus-total estimates must sit within the documented error bound "
    "of the exact counts the oracle computes.",
)
def hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    cutoff = F.lit("2024-01-15").cast("date")
    early, late = ev.where(F.col("day") < cutoff), ev.where(F.col("day") >= cutoff)

    t = VersionedTable(spark, scratch_dir(spark, "hll_state_"))
    t.write(early.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk")))
    batch = late.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    old = t.read().select("day", F.col("sk").alias("sk_old"))
    unioned = (
        old.join(batch.select("day", F.col("sk").alias("sk_new")), "day", "full_outer")
        .select(
            "day",
            F.when(F.col("sk_old").isNull(), F.col("sk_new"))
            .when(F.col("sk_new").isNull(), F.col("sk_old"))
            .otherwise(F.hll_union("sk_old", "sk_new"))
            .alias("sk"),
        )
    )
    t.merge(unioned, keys=["day"])

    state = t.read()
    per_day = state.select("day", F.hll_sketch_estimate("sk").alias("est"))
    total = state.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")).select(
        F.lit(None).cast("date").alias("day"), "est"
    )
    exact_day = ev.groupBy("day").agg(F.countDistinct("user_id").alias("exact_distinct"))
    exact_total = ev.agg(F.countDistinct("user_id").alias("exact_distinct")).select(
        F.lit(None).cast("date").alias("day"), "exact_distinct"
    )
    est = per_day.unionByName(total)
    exact = exact_day.unionByName(exact_total)
    j = est.join(exact, est.day.eqNullSafe(exact.day)).select(
        est.day.alias("day"),
        "exact_distinct",
        (
            F.abs(F.col("est") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
    )
    return j


# ---------------------------------------------------------------------------
# EXACT mergeable distinct via Spark 4's bitmap aggregates — the third
# point on the distinct-count design line next to the approximate HLL
# sketch above and the two-shuffle exact groupBy-distinct: per-32768-key
# bucket bitmaps are fixed-size (<=4 KB) partial states that OR-merge
# associatively, so disjoint batches (days, backfills, late data) each
# build bitmaps from ONE local scan and the union is register-wise —
# exactly HLL's maintenance shape but with zero error. Shuffle volume is
# O(groups x buckets-touched) bitmap rows, never O(input rows), and the
# merge level is a second map-side-combinable aggregate. The trade vs
# HLL: state grows with the KEY RANGE (one 4 KB bucket per 32768 ids
# seen per group) instead of lgK-bounded — right when ids are dense
# integers (user ids, order keys), wrong for 64-bit hash keys.
# ---------------------------------------------------------------------------
@query(
    "bitmap_distinct_customers",
    sql="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS distinct_customers
    FROM orders GROUP BY 1
    """,
    doc="Exact distinct ordering-customers per priority via bitmap "
    "aggregates: two disjoint halves of orders (early/late orderdate — "
    "an incremental-batch stand-in) each build per-(priority, 32768-key "
    "bucket) bitmaps with bitmap_construct_agg, the halves OR-merge via "
    "bitmap_or_agg (associative, order-free, no history rescan), and the "
    "answer is sum(bitmap_count). In-query assert: equals the direct "
    "one-pass countDistinct. Oracle: COUNT(DISTINCT).",
    round_added=10,
)
def bitmap_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderdate"
    )
    # mid-range cutoff: the fixture's orderdates span 1995..2001, so both
    # halves are guaranteed non-empty (asserted below — an empty half
    # would make the merge claim vacuous)
    cutoff = F.lit("1998-01-01").cast("date")
    early = orders.where(F.col("o_orderdate") < cutoff)
    late = orders.where(F.col("o_orderdate") >= cutoff)
    assert not early.isEmpty() and not late.isEmpty()

    def partial(half: DataFrame) -> DataFrame:
        return half.groupBy(
            "o_orderpriority",
            F.bitmap_bucket_number("o_custkey").alias("bucket"),
        ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("o_custkey")).alias("bm"))

    merged = (
        partial(early)
        .unionByName(partial(late))
        .groupBy("o_orderpriority", "bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
    )
    out = merged.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum(F.bitmap_count("bm")).alias("distinct_customers")
    )
    # the merged-bitmap counts must equal the direct single-pass distinct
    # (bounded: O(priorities) = 5 rows per side)
    direct = {
        r["priority"]: r["n"]
        for r in orders.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    via_bitmap = {r["priority"]: r["distinct_customers"] for r in out.collect()}
    assert via_bitmap == direct, (via_bitmap, direct)
    return out


# ---------------------------------------------------------------------------
# Data-quality profiling + declarative constraint validation (the Deequ /
# Great Expectations shape; operators/profile.py). One generic long-format
# pass profiles any column set in a single shuffle; constraints gate an
# ingest on the resulting stats. Doubles are profiled via exact-decimal
# columns only (double->string formatting differs across engines — noted
# in the operator docstring).
# ---------------------------------------------------------------------------
_PROFILE_CTE = """
    long AS (
      SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS value FROM orders
      UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
      UNION ALL SELECT 'status_nullable', NULLIF(o_orderstatus, 'O') FROM orders),
    pv AS (SELECT col_name, value, COUNT(*) AS n FROM long GROUP BY 1, 2),
    ranked AS (SELECT col_name, value, n,
                      ROW_NUMBER() OVER (PARTITION BY col_name
                          ORDER BY (value IS NULL) ASC, n DESC, value ASC) AS rn
               FROM pv),
    prof AS (
      SELECT col_name,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN value IS NULL THEN n ELSE 0 END) AS BIGINT) AS n_null,
             CAST(COUNT(CASE WHEN value IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct,
             MIN(value) AS min_value,
             MAX(value) AS max_value,
             MIN(CASE WHEN rn = 1 THEN value END) AS top_value,
             CAST(MAX(CASE WHEN rn = 1 AND value IS NOT NULL THEN n END) AS BIGINT) AS top_count
      FROM ranked GROUP BY col_name)
"""


def _profiled_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.profile import profile

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.expr("nullif(o_orderstatus, 'O')").alias("status_nullable"),
    )
    return profile(
        orders, ["o_orderkey", "o_orderstatus", "o_orderpriority", "status_nullable"]
    )


@query(
    "orders_profile",
    sql=f"WITH {_PROFILE_CTE} SELECT * FROM prof",
    doc="Deequ-style table profile (rows/nulls/distinct/min/max/top per "
    "column) computed in one long-format shuffle for any column set; "
    "deterministic top-value tie-break.",
)
def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _profiled_orders(spark, sf_dir)


@query(
    "orders_quality_checks",
    sql=f"""
    WITH {_PROFILE_CTE}
    SELECT col_name, 'unique' AS kind,
           n_distinct = n_rows - n_null AS passed
    FROM prof WHERE col_name = 'o_orderkey'
    UNION ALL
    SELECT col_name, 'not_null', n_null <= 0.9 * n_rows
    FROM prof WHERE col_name = 'status_nullable'
    UNION ALL
    SELECT col_name, 'min_distinct', n_distinct >= 3
    FROM prof WHERE col_name = 'o_orderstatus'
    """,
    doc="Declarative constraint validation over the profile (key "
    "uniqueness, null-rate bound, cardinality floor) — the ingest gate a "
    "pipeline asserts before promoting a batch.",
)
def orders_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.profile import check_constraints

    return check_constraints(
        _profiled_orders(spark, sf_dir),
        [
            {"column": "o_orderkey", "kind": "unique"},
            {"column": "status_nullable", "kind": "not_null", "max_null_rate": 0.9},
            {"column": "o_orderstatus", "kind": "min_distinct", "at_least": 3},
        ],
    )


# ---------------------------------------------------------------------------
# Delta Lake log INTEROP (sources/delta_reader.py): the query materializes
# a protocol-correct Delta table (parquet data files + hand-written
# _delta_log JSON commits — v0 full snapshot, v1 remove+add rewriting the
# low-key file), then reads BOTH versions back through the log reader and
# aggregates them. Proves a real lakehouse directory written by Delta
# tooling is readable (snapshots, time travel, schema from metaData)
# without the delta-spark package.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_read",
    sql="""
    WITH v0 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey <= 4000),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey <= 1000 THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM v0),
    a0 AS (SELECT o_orderstatus AS status, COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM v0 GROUP BY 1),
    a1 AS (SELECT o_orderstatus AS status, COUNT(*) AS n,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           FROM v1 GROUP BY 1)
    SELECT COALESCE(a0.status, a1.status) AS status,
           COALESCE(a0.n, 0) AS n_v0,
           COALESCE(a1.n, 0) AS n_v1,
           COALESCE(a0.total, 0.0) AS total_v0,
           COALESCE(a1.total, 0.0) AS total_v1
    FROM a0 FULL OUTER JOIN a1 ON a0.status = a1.status
    """,
    doc="Reads a protocol-correct Delta table (_delta_log JSON replay: "
    "metaData/add/remove, snapshots + time travel) without delta-spark; "
    "oracle recomputes both version states.",
)
def delta_interop_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 4000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    tbl = scratch_dir(spark, "delta_interop_")

    def write_file(df: DataFrame, name: str) -> None:
        write_single_parquet(df, os.path.join(tbl, name))

    low = base.where(F.col("o_orderkey") <= 1000)
    high = base.where(F.col("o_orderkey") > 1000)
    write_file(low, "part-low.parquet")
    write_file(high, "part-high.parquet")
    write_file(low.withColumn("o_orderstatus", F.lit("R")), "part-low-v1.parquet")

    os.makedirs(os.path.join(tbl, "_delta_log"))
    meta = {
        "metaData": {
            "id": "interop",
            "schemaString": base.schema.json(),
            "partitionColumns": [],
            "format": {"provider": "parquet"},
        }
    }

    def log(version: int, actions: list) -> None:
        with open(os.path.join(tbl, "_delta_log", f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    def add(p: str) -> dict:
        return {"add": {"path": p, "partitionValues": {}, "size": 1, "dataChange": True}}

    log(0, [{"protocol": {"minReaderVersion": 1}}, meta, add("part-low.parquet"), add("part-high.parquet")])
    log(1, [{"remove": {"path": "part-low.parquet", "dataChange": True}}, add("part-low-v1.parquet")])

    r = DeltaLogReader(spark, tbl)

    def agg(df: DataFrame, n_col: str, t_col: str) -> DataFrame:
        return df.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(t_col),
        )

    a0 = agg(r.read(version=0), "n_v0", "total_v0")
    a1 = agg(r.read(), "n_v1", "total_v1")
    return a0.join(a1, "status", "full_outer").select(
        "status",
        F.coalesce("n_v0", F.lit(0)).alias("n_v0"),
        F.coalesce("n_v1", F.lit(0)).alias("n_v1"),
        F.coalesce("total_v0", F.lit(0.0)).alias("total_v0"),
        F.coalesce("total_v1", F.lit(0.0)).alias("total_v1"),
    )


# ---------------------------------------------------------------------------
# Queryable metadata tables (Delta DESCRIBE HISTORY/DETAIL, Iceberg
# table.files): the commit log and file inventory as DataFrames, served
# from the manifest with zero data files opened. The query drives a
# deterministic lifecycle (write 4 clustered files -> DV delete ->
# compact to 1) and returns the history table; the oracle states the
# expected accounting from the raw data.
# ---------------------------------------------------------------------------
@query(
    "versioned_metadata_tables",
    sql="""
    WITH base AS (SELECT COUNT(*) AS n FROM orders WHERE o_orderkey <= 8000),
    dv AS (SELECT COUNT(*) AS d FROM orders
           WHERE o_orderkey <= 8000 AND o_orderkey % 97 = 0)
    SELECT 0 AS version, 'write' AS op, 4 AS n_files,
           CAST(n AS BIGINT) AS n_rows, 4 AS files_written, 0 AS files_carried
    FROM base
    UNION ALL
    SELECT 1, 'delete_dv', 4, CAST(n - d AS BIGINT), 0, 4 FROM base, dv
    UNION ALL
    SELECT 2, 'compact', 1, CAST(n - d AS BIGINT), 1, 0 FROM base, dv
    """,
    doc="Metadata tables: DESCRIBE HISTORY-style commit accounting across "
    "a write -> DV delete -> compact lifecycle, served from manifests "
    "with no data files opened; oracle states the expected accounting.",
)
def versioned_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 8000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    t = VersionedTable(spark, scratch_dir(spark, "metatbl_"))
    t.write(base, cluster_by=["o_orderkey"], n_files=4)
    t.delete_where_dv(F.pmod(F.col("o_orderkey"), F.lit(97)) == 0)
    t.compact(target_rows=1_000_000)
    return t.history_df()


# ---------------------------------------------------------------------------
# Delta interop, CHECKPOINTED log: 12 single-slice commits, a classic
# checkpoint parquet at v10, and the JSON commits it covers VACUUMED —
# the shape every real Delta table reaches at the default 10-commit
# checkpoint interval. The reader must reconstruct head (checkpoint +
# v11 JSON) and the checkpoint version itself with zero pre-checkpoint
# JSON available. Oracle recomputes both snapshots from raw orders.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_checkpoint_read",
    sql="""
    WITH head AS (SELECT * FROM orders WHERE o_orderkey < 4800),
    v10 AS (SELECT * FROM orders WHERE o_orderkey < 4400)
    SELECT
      (SELECT COUNT(*) FROM v10) AS n_v10,
      (SELECT COUNT(*) FROM head) AS n_head,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v10) AS total_v10,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM head) AS total_head
    """,
    doc="Replays a checkpointed, vacuumed Delta log (classic checkpoint "
    "parquet + post-checkpoint JSON commits) without delta-spark; "
    "cites reference behavior: lakehouse interop read path.",
)
def delta_interop_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from pyspark.sql import types as T

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 4800)
        .select("o_orderkey", "o_totalprice")
    )
    tbl = scratch_dir(spark, "delta_cp_")
    log_dir = os.path.join(tbl, "_delta_log")
    os.makedirs(log_dir)

    def write_file(df: DataFrame, name: str) -> None:
        write_single_parquet(df, os.path.join(tbl, name))

    meta = {
        "id": "interop-cp",
        "schemaString": base.schema.json(),
        "partitionColumns": [],
        "format": {"provider": "parquet"},
    }

    def log(version: int, actions: list) -> None:
        with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")

    # 12 commits, each adding one half-open 400-key slice [lo, hi)
    for v in range(12):
        lo, hi = v * 400, (v + 1) * 400
        write_file(
            base.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)),
            f"s{v}.parquet",
        )
        actions = [
            {"add": {"path": f"s{v}.parquet", "partitionValues": {}, "size": 1, "dataChange": True}}
        ]
        if v == 0:
            actions = [{"protocol": {"minReaderVersion": 1}}, {"metaData": meta}] + actions
        log(v, actions)

    # classic checkpoint at v10: one parquet of the same actions, columnar
    cp_schema = T.StructType(
        [
            T.StructField(
                "protocol", T.StructType([T.StructField("minReaderVersion", T.IntegerType())])
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
                        T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
                        T.StructField("dataChange", T.BooleanType()),
                    ]
                ),
            ),
        ]
    )
    cp_rows = [({"minReaderVersion": 1}, None, None), (None, (meta["id"], meta["schemaString"], []), None)] + [
        (None, None, (f"s{v}.parquet", {}, True)) for v in range(11)
    ]
    write_single_parquet(
        local_frame(spark, cp_rows, cp_schema),
        os.path.join(log_dir, f"{10:020d}.checkpoint.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        fh.write(_json.dumps({"version": 10, "size": len(cp_rows)}))
    # vacuum: delete every JSON the checkpoint covers — replay MUST come
    # from the checkpoint now
    for v in range(10):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))

    r = DeltaLogReader(spark, tbl)

    def tot(df: DataFrame, n_col: str, t_col: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(t_col),
        )

    return (
        tot(r.read(version=10), "n_v10", "total_v10")
        .crossJoin(tot(r.read(), "n_head", "total_head"))
        .select("n_v10", "n_head", "total_v10", "total_head")
    )


# ---------------------------------------------------------------------------
# Delta interop, INLINE DELETION VECTORS: v0 adds two files, v1 re-adds
# the low file with a deletion vector (Z85-encoded RoaringBitmapArray of
# row positions) masking its 50 lowest-key rows. Reading head must keep
# deleted rows dead without rewriting data; reading v0 must still see
# them. Oracle recomputes both states from raw orders by key rank.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_dv_read",
    sql="""
    WITH low AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
      FROM orders WHERE o_orderkey <= 2000),
    high AS (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_orderkey > 2000 AND o_orderkey <= 4000),
    v0 AS (SELECT o_orderkey, o_totalprice FROM low
           UNION ALL SELECT * FROM high),
    v1 AS (SELECT o_orderkey, o_totalprice FROM low WHERE pos >= 50
           UNION ALL SELECT * FROM high)
    SELECT
      (SELECT COUNT(*) FROM v0) AS n_v0,
      (SELECT COUNT(*) FROM v1) AS n_v1,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v0) AS total_v0,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v1) AS total_v1
    """,
    doc="Reads a Delta table whose head carries an inline deletion vector "
    "(storageType 'i', Z85 + RoaringBitmapArray row positions) — "
    "merge-on-read deletes honored without delta-spark.",
)
def delta_interop_dv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from data_etl_pipeline_spark.sources.delta_reader import (
        DeltaLogReader,
        encode_inline_dv,
    )

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tbl = scratch_dir(spark, "delta_dv_")
    os.makedirs(os.path.join(tbl, "_delta_log"))

    def write_file(df: DataFrame, name: str) -> None:
        write_single_parquet(df, os.path.join(tbl, name))

    # the DV masks row POSITIONS, so the low file's on-disk order must be
    # deterministic: single partition sorted by key — position == key rank
    low = (
        base.where(F.col("o_orderkey") <= 2000)
        .coalesce(1)
        .sortWithinPartitions("o_orderkey")
    )
    high = base.where((F.col("o_orderkey") > 2000) & (F.col("o_orderkey") <= 4000))
    write_file(low, "low.parquet")
    write_file(high, "high.parquet")

    def log(version: int, actions: list) -> None:
        with open(os.path.join(tbl, "_delta_log", f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")

    meta = {
        "metaData": {
            "id": "interop-dv",
            "schemaString": base.schema.json(),
            "partitionColumns": [],
            "format": {"provider": "parquet"},
        }
    }

    def add(p: str, dv: dict | None = None) -> dict:
        a = {"path": p, "partitionValues": {}, "size": 1, "dataChange": True}
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    log(
        0,
        [
            {"protocol": {"minReaderVersion": 3, "readerFeatures": ["deletionVectors"]}},
            meta,
            add("low.parquet"),
            add("high.parquet"),
        ],
    )
    log(
        1,
        [
            {"remove": {"path": "low.parquet", "dataChange": True}},
            add("low.parquet", dv=encode_inline_dv(list(range(50)))),
        ],
    )

    r = DeltaLogReader(spark, tbl)

    def tot(df: DataFrame, n_col: str, t_col: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(t_col),
        )

    return (
        tot(r.read(version=0), "n_v0", "total_v0")
        .crossJoin(tot(r.read(), "n_v1", "total_v1"))
        .select("n_v0", "n_v1", "total_v0", "total_v1")
    )


# ---------------------------------------------------------------------------
# Delta interop, FILE-BASED DELETION VECTORS: what real writers emit for
# any non-tiny delete — the log's deletionVector descriptor names a
# sidecar deletion_vector_<uuid>.bin (storageType 'u': Z85-encoded UUID,
# optional directory prefix) whose CRC-framed bytes hold the
# RoaringBitmapArray. TWO files carry DVs so the read exercises the
# combined single-branch plan (one scan of all DV files, one anti-join).
# Oracle recomputes the surviving rows from raw orders by key rank.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_dv_file_read",
    sql="""
    WITH a AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
      FROM orders WHERE o_orderkey <= 1000),
    b AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
      FROM orders WHERE o_orderkey > 1000 AND o_orderkey <= 2000),
    c AS (SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey > 2000 AND o_orderkey <= 3000),
    live AS (
      SELECT o_orderkey, o_totalprice FROM a WHERE pos % 3 <> 0
      UNION ALL
      SELECT o_orderkey, o_totalprice FROM b WHERE pos >= 40
      UNION ALL SELECT * FROM c)
    SELECT COUNT(*) AS n_live,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_live
    FROM live
    """,
    doc="Reads a Delta table whose head carries FILE-based deletion "
    "vectors (storageType 'u' sidecar .bin files, CRC-verified framing, "
    "one with a directory prefix) across two files — applied in one "
    "combined plan branch.",
)
def delta_interop_dv_file_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os
    import uuid as _uuid

    from data_etl_pipeline_spark.sources.delta_reader import (
        DeltaLogReader,
        write_dv_file,
    )

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    tbl = scratch_dir(spark, "delta_dvf_")
    os.makedirs(os.path.join(tbl, "_delta_log"))

    def sorted_slice(lo: int, hi: int) -> DataFrame:
        return (
            base.where((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
            .coalesce(1)
            .sortWithinPartitions("o_orderkey")
        )

    a = sorted_slice(-1, 1000)
    b = sorted_slice(1000, 2000)
    c = base.where((F.col("o_orderkey") > 2000) & (F.col("o_orderkey") <= 3000))
    write_single_parquet(a, os.path.join(tbl, "a.parquet"))
    write_single_parquet(b, os.path.join(tbl, "b.parquet"))
    write_single_parquet(c, os.path.join(tbl, "c.parquet"))
    n_a = a.count()
    # deterministic UUIDs keep the fixture reproducible run-to-run
    dv_a = write_dv_file(
        tbl, list(range(0, n_a, 3)), dv_uuid=_uuid.UUID(int=0xA), prefix="ab"
    )
    dv_b = write_dv_file(tbl, list(range(40)), dv_uuid=_uuid.UUID(int=0xB))

    def add(p: str, dv: dict | None = None) -> dict:
        x = {"path": p, "partitionValues": {}, "size": 1, "dataChange": True}
        if dv:
            x["deletionVector"] = dv
        return {"add": x}

    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in [
            {"protocol": {"minReaderVersion": 3, "readerFeatures": ["deletionVectors"]}},
            {
                "metaData": {
                    "id": "interop-dvf",
                    "schemaString": base.schema.json(),
                    "partitionColumns": [],
                    "format": {"provider": "parquet"},
                }
            },
            add("a.parquet", dv_a),
            add("b.parquet", dv_b),
            add("c.parquet"),
        ]:
            fh.write(_json.dumps(act) + "\n")

    return DeltaLogReader(spark, tbl).read().agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_live"),
    )


# ---------------------------------------------------------------------------
# Delta interop, TIMESTAMP_NTZ columns (readerFeature timestampNtz): the
# schemaString's timestamp_ntz type must map onto Spark's TimestampNTZType
# and the files' isAdjustedToUTC=false parquet timestamps — naive wall-
# clock values survive the roundtrip bit-for-bit (the same NTZ semantics
# DuckDB's naive TIMESTAMP has, so the oracle compares formatted strings
# with no zone conversion anywhere). Oracle recomputes from raw orders.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_timestamp_ntz_read",
    sql="""
    SELECT COUNT(*) AS n_rows,
           strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_ts,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM orders WHERE o_orderkey <= 2000
    """,
    doc="Reads a Delta table with a TIMESTAMP_NTZ column (readerFeature "
    "timestampNtz) without delta-spark; naive wall-clock values are "
    "preserved with no zone shift.",
)
def delta_interop_timestamp_ntz_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 2000)
        .select("o_orderkey", "o_orderdate")
    )
    assert dict(base.dtypes)["o_orderdate"] == "timestamp_ntz"
    tbl = scratch_dir(spark, "delta_ntz_")
    os.makedirs(os.path.join(tbl, "_delta_log"))
    write_single_parquet(base, os.path.join(tbl, "f.parquet"))
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "readerFeatures": ["timestampNtz"],
                }
            },
            {
                "metaData": {
                    "id": "interop-ntz",
                    "schemaString": base.schema.json(),
                    "partitionColumns": [],
                    "format": {"provider": "parquet"},
                }
            },
            {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1, "dataChange": True}},
        ]:
            fh.write(_json.dumps(act) + "\n")

    got = DeltaLogReader(spark, tbl).read()
    assert dict(got.dtypes)["o_orderdate"] == "timestamp_ntz"
    return got.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# Delta interop, COLUMN MAPPING MODE 'id': files written with parquet
# FIELD IDS under physical names that share nothing with the logical
# schema — only field-id matching can resolve them (name matching would
# return all-NULL columns and a silently-wrong result). Oracle recomputes
# from raw orders.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_column_mapping_id_read",
    sql="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM orders WHERE o_orderkey <= 3000
    """,
    doc="Reads a Delta table in column-mapping mode 'id' (parquet "
    "field-id matching via fieldId.read; physical parquet names are "
    "opaque) without delta-spark.",
)
def delta_interop_column_mapping_id_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") <= 3000)
        .select("o_orderkey", "o_totalprice")
    )
    tbl = scratch_dir(spark, "delta_cmid_")
    os.makedirs(os.path.join(tbl, "_delta_log"))
    # scoped: the field-id write conf must not leak into the caller's
    # session (same isolation rule the reader applies on its read side)
    with conf_scope(spark, {"spark.sql.parquet.fieldId.write.enabled": "true"}):
        phys = base.select(
            F.col("o_orderkey").alias("col-9f2a", metadata={"parquet.field.id": 1}),
            F.col("o_totalprice").alias("col-77b1", metadata={"parquet.field.id": 2}),
        )
        write_single_parquet(phys, os.path.join(tbl, "f.parquet"))
    schema_fields = [
        {
            "name": "o_orderkey",
            "type": base.schema["o_orderkey"].dataType.typeName(),
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "col-9f2a",
            },
        },
        {
            "name": "o_totalprice",
            "type": base.schema["o_totalprice"].dataType.typeName(),
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "col-77b1",
            },
        },
    ]
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in [
            {"protocol": {"minReaderVersion": 2}},
            {
                "metaData": {
                    "id": "interop-cmid",
                    "schemaString": _json.dumps(
                        {"type": "struct", "fields": schema_fields}
                    ),
                    "partitionColumns": [],
                    "format": {"provider": "parquet"},
                    "configuration": {"delta.columnMapping.mode": "id"},
                }
            },
            {"add": {"path": "f.parquet", "partitionValues": {}, "size": 1, "dataChange": True}},
        ]:
            fh.write(_json.dumps(act) + "\n")

    return DeltaLogReader(spark, tbl).read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )


# ---------------------------------------------------------------------------
# Delta interop, V2 (UUID-named) CHECKPOINT: the modern checkpoint layout
# delta-spark 3.x writes — a manifest %020d.checkpoint.<uuid>.parquet
# carrying protocol/metaData plus `sidecar` actions naming parquet files
# under _delta_log/_sidecars/ that hold the add actions (one add also
# rides inline in the manifest, which the spec allows). The JSON commits
# the checkpoint covers are vacuumed; a post-checkpoint JSON commit tops
# it. Oracle recomputes both snapshots from raw orders.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_v2_checkpoint_read",
    sql="""
    WITH v2 AS (SELECT * FROM orders WHERE o_orderkey < 1200),
    head AS (SELECT * FROM orders WHERE o_orderkey < 1600)
    SELECT
      (SELECT COUNT(*) FROM v2) AS n_v2,
      (SELECT COUNT(*) FROM head) AS n_head,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM v2) AS total_v2,
      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM head) AS total_head
    """,
    doc="Replays a V2 UUID-named checkpoint (manifest + _sidecars parquet "
    "files, readerFeature v2Checkpoint) with its covered JSON commits "
    "vacuumed, without delta-spark.",
)
def delta_interop_v2_checkpoint_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from pyspark.sql import types as T

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1600)
        .select("o_orderkey", "o_totalprice")
    )
    tbl = scratch_dir(spark, "delta_v2cp_")
    log_dir = os.path.join(tbl, "_delta_log")
    os.makedirs(os.path.join(log_dir, "_sidecars"))

    meta = {
        "id": "interop-v2cp",
        "schemaString": base.schema.json(),
        "partitionColumns": [],
        "format": {"provider": "parquet"},
    }

    def log(version: int, actions: list) -> None:
        with open(os.path.join(log_dir, f"{version:020d}.json"), "w") as fh:
            for a in actions:
                fh.write(_json.dumps(a) + "\n")

    # v0..v2: three 400-key slices; v3 adds a fourth after the checkpoint
    for v in range(4):
        lo, hi = v * 400, (v + 1) * 400
        write_single_parquet(
            base.where((F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)),
            os.path.join(tbl, f"s{v}.parquet"),
        )
        actions = [
            {"add": {"path": f"s{v}.parquet", "partitionValues": {}, "size": 1, "dataChange": True}}
        ]
        if v == 0:
            actions = [
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "readerFeatures": ["v2Checkpoint"],
                    }
                },
                {"metaData": meta},
            ] + actions
        log(v, actions)

    add_struct = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
            T.StructField("dataChange", T.BooleanType()),
        ]
    )

    def one_parquet(rows, schema, dest: str) -> None:
        write_single_parquet(local_frame(spark, rows, schema), dest)

    # sidecar with the s1/s2 adds; s0's add rides inline in the manifest
    one_parquet(
        [((f"s{v}.parquet", {}, True),) for v in (1, 2)],
        T.StructType([T.StructField("add", add_struct)]),
        os.path.join(log_dir, "_sidecars", "sc-1.parquet"),
    )
    manifest_schema = T.StructType(
        [
            T.StructField(
                "protocol",
                T.StructType(
                    [
                        T.StructField("minReaderVersion", T.IntegerType()),
                        T.StructField("readerFeatures", T.ArrayType(T.StringType())),
                    ]
                ),
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
            T.StructField("add", add_struct),
            T.StructField(
                "sidecar",
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("sizeInBytes", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    manifest_rows = [
        ((3, ["v2Checkpoint"]), None, None, None),
        (None, (meta["id"], meta["schemaString"], []), None, None),
        (None, None, ("s0.parquet", {}, True), None),
        (None, None, None, ("sc-1.parquet", 1)),
    ]
    one_parquet(
        manifest_rows,
        manifest_schema,
        os.path.join(
            log_dir,
            "00000000000000000002.checkpoint.7e100000-0000-4000-8000-000000000002.parquet",
        ),
    )
    # vacuum the JSON commits the checkpoint covers
    for v in range(3):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))

    r = DeltaLogReader(spark, tbl)

    def tot(df: DataFrame, n_col: str, t_col: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias(n_col),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(t_col),
        )

    return (
        tot(r.read(version=2), "n_v2", "total_v2")
        .crossJoin(tot(r.read(), "n_head", "total_head"))
        .select("n_v2", "n_head", "total_v2", "total_head")
    )


# ---------------------------------------------------------------------------
# Composed ingest gate (the Deequ-style pipeline shape): profile the
# incoming batch -> evaluate declarative constraints -> REFUSE the MERGE
# when any check fails, merge when clean — plus a table-level CHECK
# constraint validated inside the MERGE itself. The dirty batch (NULLed
# keys) must leave the table version untouched; the clean batch commits.
# Oracle recomputes every emitted counter from raw orders, including the
# refusal logic (a batch with no generated NULLs would have merged).
# ---------------------------------------------------------------------------
@query(
    "quality_gated_merge",
    sql="""
    WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                  FROM orders WHERE o_orderkey < 800),
    incoming AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey >= 800 AND o_orderkey < 1200),
    nulled AS (SELECT COUNT(*) AS n_null FROM incoming WHERE o_orderkey % 40 = 0),
    gate AS (SELECT CASE WHEN n_null > 0 THEN 1 ELSE 0 END AS dirty_failed FROM nulled)
    SELECT
      (SELECT dirty_failed FROM gate) AS dirty_failed_checks,
      (SELECT 1 - dirty_failed FROM gate) AS versions_after_dirty,
      0 AS clean_failed_checks,
      (SELECT 2 - dirty_failed FROM gate) AS versions_after_clean,
      (SELECT COUNT(*) FROM base) + (SELECT COUNT(*) FROM incoming) AS rows_final,
      CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM base)
         + (SELECT SUM(CAST(o_totalprice AS DECIMAL(18,2))) FROM incoming)
         AS DOUBLE) AS total_final
    """,
    doc="Profile -> declarative checks -> gated MERGE composition: a "
    "dirty batch is refused before any write (version unchanged), the "
    "clean batch merges under the table's CHECK constraint.",
)
def quality_gated_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.profile import check_constraints, profile
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.where(F.col("o_orderkey") < 800)
    t = VersionedTable(spark, scratch_dir(spark, "qgate_"))
    t.write(base)
    # table-level CHECK validated inside every subsequent commit
    t.add_check("o_totalprice >= 0")
    v0 = t.latest_version()

    def gate_and_merge(batch: DataFrame) -> int:
        """The pipeline gate: one profile pass, rule evaluation, merge
        only when every rule holds. The collect is one row PER RULE —
        bounded by the rule list, never by data."""
        prof = profile(batch, ["o_orderkey", "o_orderstatus"])
        res = check_constraints(
            prof,
            [
                {"column": "o_orderkey", "kind": "unique"},
                {"column": "o_orderkey", "kind": "not_null", "max_null_rate": 0.0},
                {"column": "o_orderstatus", "kind": "min_distinct", "at_least": 2},
            ],
        ).collect()
        n_failed = sum(0 if r["passed"] else 1 for r in res)
        if n_failed == 0:
            t.merge(batch, keys=["o_orderkey"])
        return n_failed

    incoming = orders.where(
        (F.col("o_orderkey") >= 800) & (F.col("o_orderkey") < 1200)
    )
    dirty = incoming.withColumn(
        "o_orderkey",
        F.when(F.pmod("o_orderkey", F.lit(40)) == 0, F.lit(None).cast("long")).otherwise(
            F.col("o_orderkey")
        ),
    )
    failed_dirty = gate_and_merge(dirty)
    v_after_dirty = t.latest_version() - v0
    failed_clean = gate_and_merge(incoming)
    v_after_clean = t.latest_version() - v0
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).alias("rows_final"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_final"),
        )
        .select(
            F.lit(failed_dirty).alias("dirty_failed_checks"),
            F.lit(v_after_dirty).cast("int").alias("versions_after_dirty"),
            F.lit(failed_clean).alias("clean_failed_checks"),
            F.lit(v_after_clean).cast("int").alias("versions_after_clean"),
            "rows_final",
            "total_final",
        )
    )


# ---------------------------------------------------------------------------
# Incremental quantile state (operators/qsketch.py): three ingest batches
# fold into a persisted, MERGE-maintained bucket-count sketch — O(new
# rows) per batch, O(sketch) per quantile read, never a rescan of
# history. Deterministic decimal binning (digit-count + leading-two-
# digits, pure integer math) means the oracle replays the identical
# sketch from the raw rows and the estimates hash-match exactly.
# ---------------------------------------------------------------------------
@query(
    "quantile_sketch_incremental",
    sql="""
    WITH cents AS (
      SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS c
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    b AS (
      -- lo/width via string concatenation, mirroring _BUCKET_EXPR's
      -- no-transcendental contract (pow() could land an ulp off 10^n)
      SELECT CASE WHEN c <= 0 THEN 0
                  WHEN c < 10 THEN c
                  ELSE CAST(substring(CAST(c AS VARCHAR), 1, 2)
                            || repeat('0', length(CAST(c AS VARCHAR)) - 2) AS BIGINT)
             END AS lo,
             CASE WHEN c <= 0 THEN 1
                  WHEN c < 10 THEN 1
                  ELSE CAST('1' || repeat('0', length(CAST(c AS VARCHAR)) - 2) AS BIGINT)
             END AS width
      FROM cents),
    sk AS (SELECT lo, width, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    cum AS (SELECT lo, width, SUM(cnt) OVER (ORDER BY lo) AS cum,
                   SUM(cnt) OVER () AS total
            FROM sk),
    qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.95), (0.99)) AS t(q))
    SELECT q, ROUND((lo + (width - 1) / 2.0) / 100.0, 6) AS est
    FROM (SELECT q, lo, width,
                 ROW_NUMBER() OVER (PARTITION BY q ORDER BY lo) AS rn
          FROM cum, qs
          WHERE cum * 100 >= CAST(ROUND(q * 100, 0) AS BIGINT) * total)
    WHERE rn = 1
    """,
    doc="Mergeable deterministic quantile sketch kept as MERGE-maintained "
    "table state across three ingest batches; p50/p95/p99 read off the "
    "persisted histogram. Oracle rebuilds the sketch from raw rows.",
)
def quantile_sketch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.qsketch import (
        merge_sketches,
        quantile_sketch,
        quantiles_from_sketch,
    )
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    t = VersionedTable(spark, scratch_dir(spark, "qsketch_"))
    for i in range(3):
        batch = li.where(F.pmod("l_orderkey", F.lit(3)) == i)
        sk = quantile_sketch(batch, "l_extendedprice")
        if t.latest_version() is None:
            t.write(sk)
        else:
            # state update = bucket-count addition over the PERSISTED
            # sketch (bounded rows), never a rescan of earlier batches
            t.merge(
                merge_sketches(t.read(), sk),
                keys=["digits", "lead2", "lo", "width"],
            )
    return quantiles_from_sketch(t.read(), [0.5, 0.95, 0.99])


# ---------------------------------------------------------------------------
# Lakehouse HANDOFF roundtrip: the engine's VersionedTable (after a
# merge-on-read DV delete) exports its live snapshot as a brand-new
# protocol-correct Delta table (sources/delta_export.py, partitioned
# layout, partition values in the log), which the independent log reader
# then replays. Deleted rows must stay dead through the export; the
# partition columns must reattach from the log, not the data files.
# ---------------------------------------------------------------------------
@query(
    "delta_export_roundtrip",
    sql="""
    WITH live AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE o_orderkey < 1500 AND o_orderkey % 7 <> 0)
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM live GROUP BY 1
    """,
    doc="VersionedTable snapshot (post DV-delete) -> Delta-format export "
    "(partitioned, single-commit log) -> independent log-reader replay; "
    "oracle recomputes the surviving rows from raw orders.",
)
def delta_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import export_delta
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    t = VersionedTable(spark, scratch_dir(spark, "exp_src_"))
    t.write(base)
    # merge-on-read delete: multiples of 7 die via a deletion-vector
    # sidecar, no data file rewritten
    t.delete_where_dv(F.pmod("o_orderkey", F.lit(7)) == 0)

    dest = scratch_dir(spark, "exp_dst_") + "/table"
    export_delta(t.read(), dest, partition_by=["o_orderstatus"])

    back = DeltaLogReader(spark, dest).read()
    return _status_totals(back)


# ---------------------------------------------------------------------------
# Incremental Delta export: three snapshot slices APPENDED as successive
# commits to one exported table, then a classic checkpoint written at the
# head and the covered JSON commits trimmed — the long-lived publication
# channel shape ("promote each engine snapshot to the lakehouse") where
# the log must not grow unboundedly. The read replays checkpoint-first,
# so a stale add surviving the trim or a checkpoint missing a file fails
# the hash. Oracle recomputes from raw orders.
# ---------------------------------------------------------------------------
@query(
    "delta_export_incremental",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1400
    GROUP BY 1
    """,
    doc="Export + two appended commits + classic checkpoint + log trim; "
    "an independent log replay (checkpoint-first) reproduces the full "
    "table. Also proves append refuses schema drift in-query.",
)
def delta_export_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        DeltaExportError,
        checkpoint_export,
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    sl = _orders_slicer(spark, sf_dir)

    dest = scratch_dir(spark, "exp_inc_") + "/table"
    export_delta(sl(0, 600), dest, partition_by=["o_orderstatus"])
    export_delta_append(sl(600, 1000), dest)
    export_delta_append(sl(1000, 1400), dest)
    # schema drift must refuse BEFORE any file lands
    try:
        export_delta_append(sl(0, 1).withColumn("extra", F.lit(1)), dest)
        raise AssertionError("drifted append must refuse")
    except DeltaExportError:
        pass
    checkpoint_export(spark, dest, trim=True)
    back = DeltaLogReader(spark, dest).read()
    return _status_totals(back)


@query(
    "delta_export_merge_upsert",
    sql="""
    WITH final AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice * 2
                  ELSE o_totalprice END AS price
      FROM orders WHERE o_orderkey < 1000 AND o_orderkey % 5 <> 2
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 1200
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY 1
    """,
    doc="Keyed copy-on-write MERGE into an exported Delta table — the "
    "continuous-promotion path: after a CoW delete, a second promotion "
    "replaces changed keys (price doubled where key%7=3) and inserts new "
    "ones ([1000,1200)) in ONE commit that rewrites only matched files. "
    "Deleted keys (key%5=2) stay gone — the merge walk-diff ignores "
    "removed-but-unvacuumed files, no resurrection (asserted in-query). "
    "Tail consumers see the net-change contract: the merge commit "
    "refuses a plain tail and skips WHOLESALE under skip_change_commits "
    "(asserted in-query); the oracle recomputes the final logical state "
    "from scratch.",
)
def delta_export_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_delete,
        export_delta_merge,
    )
    from data_etl_pipeline_spark.sources.delta_reader import (
        DeltaLogReader,
        DeltaProtocolError,
    )

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "exp_mrg_") + "/table"
    export_delta(base.where(k < 1000), dest, partition_by=["o_orderstatus"])
    export_delta_delete(spark, dest, "o_orderkey % 5 = 2")
    # second promotion: updates for surviving key%7=3 rows + new keys
    upd = (
        base.where((k < 1000) & (k % 7 == 3) & (k % 5 != 2))
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    src = upd.unionByName(base.where((k >= 1000) & (k < 1200)))
    res = export_delta_merge(spark, src, dest, keys=["o_orderkey"])
    assert res["version"] == 2 and res["removed_files"] > 0, res
    back = DeltaLogReader(spark, dest).read()
    # no resurrection: the CoW-deleted keys must still be absent
    assert back.where((k < 1000) & (k % 5 == 2)).count() == 0
    # net-change contract for tails: the merge commit refuses a plain
    # tail and is skipped WHOLESALE by a skipping one
    reader = DeltaLogReader(spark, dest)
    try:
        reader.tail(1)
        raise AssertionError("tailing across a MERGE commit must refuse")
    except DeltaProtocolError:
        pass
    assert reader.tail(1, skip_change_commits=True).count() == 0
    return _status_totals(back)


@query(
    "delta_export_cow_delete",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1000 AND o_orderkey % 5 <> 2
    GROUP BY 1
    """,
    doc="Copy-on-write DELETE on an exported Delta table: only files "
    "containing matches are rewritten (remove+add commit), untouched "
    "files stay; NULL-predicate rows are kept and a no-match delete "
    "commits nothing (asserted in-query). An independent log replay "
    "reproduces the filtered table.",
)
def delta_export_cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_delete,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    dest = scratch_dir(spark, "exp_cow_") + "/table"
    export_delta(
        base.where(F.col("o_orderkey") < 1000), dest, partition_by=["o_orderstatus"]
    )
    res = export_delta_delete(spark, dest, "o_orderkey % 5 = 2")
    assert res["version"] == 1 and res["removed_files"] > 0
    # matching nothing must commit nothing — the log head stays at 1
    noop = export_delta_delete(spark, dest, "o_orderkey = -1")
    assert noop["version"] is None and noop["removed_files"] == 0
    back = DeltaLogReader(spark, dest).read()
    return _status_totals(back)


@query(
    "delta_interop_tail_read",
    sql="""
    SELECT 1 AS commit_version, o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 1000 GROUP BY 2
    UNION ALL
    SELECT 2, o_orderstatus, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 1400 GROUP BY 2
    UNION ALL
    SELECT 4, o_orderstatus, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderkey >= 1400 AND o_orderkey < 1600 GROUP BY 2
    """,
    doc="Incremental TAIL of a foreign Delta log: rows added by commits "
    "(from_version, latest], tagged _commit_version, in ONE scan branch "
    "regardless of commit count (file->version via a canonical-path "
    "broadcast). Full change-commit lifecycle: a copy-on-write delete "
    "mid-log makes commit 3 a CHANGE commit — tailing refuses by default "
    "(emitting rewritten survivors as inserts would re-deliver rows), "
    "skip_change_commits skips it WHOLESALE while appends before AND "
    "after it surface under their own _commit_version (the Spark Delta "
    "streaming-source skipChangeCommits contract) — all proven in-query; "
    "the aggregate hashes exactly the append commits 1, 2 and 4.",
)
def delta_interop_tail_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
        export_delta_delete,
    )
    from data_etl_pipeline_spark.sources.delta_reader import (
        DeltaLogReader,
        DeltaProtocolError,
    )

    sl = _orders_slicer(spark, sf_dir)

    dest = scratch_dir(spark, "tail_") + "/table"
    export_delta(sl(0, 600), dest, partition_by=["o_orderstatus"])
    export_delta_append(sl(600, 1000), dest)
    export_delta_append(sl(1000, 1400), dest)
    reader = DeltaLogReader(spark, dest)
    # commit 3 becomes a non-append CHANGE commit — the refusal/skip
    # contract — and commit 4 appends AFTER it: a skipping tail must
    # drop 3 wholesale yet still surface 4 under its own version
    export_delta_delete(spark, dest, "o_orderkey % 7 = 3")
    export_delta_append(sl(1400, 1600), dest)
    try:
        reader.tail(0)
        raise AssertionError("tailing across a change commit must refuse")
    except DeltaProtocolError:
        pass
    inc = reader.tail(0, skip_change_commits=True)
    return inc.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@query(
    "delta_export_optimize_tail",
    sql="""
    SELECT 1 AS commit_version, o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey >= 400 AND o_orderkey < 800 GROUP BY 2
    UNION ALL
    SELECT 3, o_orderstatus, COUNT(*),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM orders WHERE o_orderkey >= 800 AND o_orderkey < 1200 GROUP BY 2
    """,
    doc="OPTIMIZE on an exported Delta table: per-partition compaction to "
    "one file via a dataChange:false remove+add commit. A tail across the "
    "OPTIMIZE emits NOTHING for it (no rows changed) and does NOT refuse "
    "— compaction is invisible to consumers, exactly Spark's Delta "
    "streaming-source behavior; appends before and after surface under "
    "their own _commit_version. File shrinkage and full-content "
    "equivalence asserted in-query.",
)
def delta_export_optimize_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
        export_delta_optimize,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    sl = _orders_slicer(spark, sf_dir)

    dest = scratch_dir(spark, "opt_tail_") + "/table"
    export_delta(sl(0, 400), dest, partition_by=["o_orderstatus"])
    export_delta_append(sl(400, 800), dest)
    res = export_delta_optimize(spark, dest)
    assert res["version"] == 2 and res["compacted_files"] > res["new_files"]
    # every action in the OPTIMIZE commit is dataChange:false
    commit = _os.path.join(dest, "_delta_log", f"{2:020d}.json")
    for line in open(commit):
        a = _json.loads(line)
        act = a.get("remove") or a.get("add")
        assert act is not None and act["dataChange"] is False
    export_delta_append(sl(800, 1200), dest)
    reader = DeltaLogReader(spark, dest)
    # the snapshot after compaction is row-identical to the logical table
    assert reader.read().count() == sl(0, 1200).count()
    inc = reader.tail(0)  # no refusal: dataChange:false removes are not changes
    return inc.groupBy(
        F.col("_commit_version").alias("commit_version"),
        F.col("o_orderstatus").alias("status"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@query(
    "delta_export_vacuum_lifecycle",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1200 AND o_orderkey % 6 <> 1
    GROUP BY 1
    """,
    doc="Full exported-table lifecycle under one oracle: export -> append "
    "-> CoW delete -> OPTIMIZE -> VACUUM keep_versions=1. The vacuum "
    "reclaims every rewritten-input file (on-disk parquet count equals "
    "the live set, asserted), time travel past the retention window "
    "fails loudly, and the head snapshot still hashes to the filtered "
    "source — storage reclaim can't change data.",
)
def delta_export_vacuum_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
        export_delta_delete,
        export_delta_optimize,
        export_delta_vacuum,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    sl = _orders_slicer(spark, sf_dir)

    dest = scratch_dir(spark, "vac_") + "/table"
    export_delta(sl(0, 600), dest, partition_by=["o_orderstatus"])
    export_delta_append(sl(600, 1200), dest)
    export_delta_delete(spark, dest, "o_orderkey % 6 = 1")
    export_delta_optimize(spark, dest)
    res = export_delta_vacuum(dest, keep_versions=1)
    assert res["removed_files"] > 0 and res["reclaimed_bytes"] > 0
    on_disk = sum(
        1
        for root, _d, fs in _os.walk(dest)
        if "_delta_log" not in root
        for f in fs
        if f.endswith(".parquet")
    )
    assert on_disk == res["live_files"]
    reader = DeltaLogReader(spark, dest)
    # versions before the retention window lost their files — loud failure
    try:
        reader.read(version=1).count()
        raise AssertionError("vacuumed time travel must fail")
    except Exception as exc:
        assert not isinstance(exc, AssertionError)
    return _status_totals(reader.read())


@query(
    "stream_foreign_delta_ingest",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1400
    GROUP BY 1
    """,
    doc="Exactly-once incremental ingest of a FOREIGN Delta table into an "
    "engine table: each tick tails the foreign log from the max consumed "
    "_commit_version already in the destination (the offset rides the "
    "data, crash-safe) and MERGEs keyed rows, so a redelivered tick "
    "replaces itself — proven in-query by replaying the final tick from "
    "a stale offset and checking the state is unchanged. Composes E92 "
    "tailing with the E75 consumed-version pattern.",
)
def stream_foreign_delta_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    sl = _orders_slicer(spark, sf_dir)

    src = scratch_dir(spark, "fingest_src_") + "/table"
    dst = VersionedTable(spark, scratch_dir(spark, "fingest_dst_"))
    export_delta(sl(0, 500), src)
    reader = DeltaLogReader(spark, src)

    def tick() -> None:
        latest = max(reader.versions())
        if dst.latest_version() is None:
            dst.write(
                reader.read(version=latest).withColumn(
                    "_v", F.lit(latest).cast("long")
                )
            )
            return
        last = dst.read().agg(F.max("_v")).first()[0]
        if latest == last:
            return
        inc = reader.tail(last).withColumnRenamed("_commit_version", "_v")
        dst.merge(inc, keys=["o_orderkey"])

    tick()  # initial snapshot at v0
    export_delta_append(sl(500, 900), src)
    export_delta_append(sl(900, 1200), src)
    tick()  # tails commits 1..2
    export_delta_append(sl(1200, 1400), src)
    tick()  # tails commit 3
    # redelivery: replay the final tick from the stale offset 2 — the
    # MERGE keyed on o_orderkey must replace the same rows, leaving the
    # logical state unchanged while still committing
    before = dst.latest_version()
    dst.merge(
        reader.tail(2).withColumnRenamed("_commit_version", "_v"),
        keys=["o_orderkey"],
    )
    if dst.latest_version() != before + 1:
        raise RuntimeError("replay did not commit; idempotence unproven")
    return _status_totals(dst.read())


@query(
    "delta_interop_stats_skipping",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey >= 600 AND o_orderkey < 900
    GROUP BY 1
    """,
    doc="Delta data skipping at the interop boundary: the exporter writes "
    "per-file footer stats (numRecords/min/max/nullCount) into each add "
    "action; a filtered read prunes files whose stats PROVE no match "
    "(here 5 range-clustered files -> 1, asserted in-query via "
    "live_files) and re-applies the predicate in the plan so correctness "
    "never rests on stats honesty. Partition-literal pruning rides the "
    "same path.",
)
def delta_interop_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    rows = _orders_slicer(spark, sf_dir)

    def sl(lo: int, hi: int) -> DataFrame:
        return rows(lo, hi).repartition(1)

    dest = scratch_dir(spark, "skip_") + "/table"
    export_delta(sl(0, 300), dest)
    for lo in range(300, 1500, 300):
        export_delta_append(sl(lo, lo + 300), dest)
    reader = DeltaLogReader(spark, dest)
    filters = [("o_orderkey", ">=", 600), ("o_orderkey", "<", 900)]
    n_all = len(reader.live_files())
    n_hit = len(reader.live_files(filters=filters))
    assert n_all == 5 and n_hit == 1, (n_all, n_hit)
    got = reader.read(filters=filters)
    return _status_totals(got)


@query(
    "delta_export_zorder_skipping",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 1500 AND o_orderkey < 300 AND o_totalprice < 30000
    GROUP BY 1
    """,
    doc="OPTIMIZE ZORDER BY on an exported table: files re-clustered on "
    "the Morton curve over (o_orderkey, o_totalprice) via approxQuantile "
    "rank-normalization + bit interleave (no global sort), committed as "
    "dataChange:false. Composes with E99 stats skipping: a randomly-"
    "laid-out export prunes nothing, the Z-ordered layout prunes on "
    "EITHER dimension and multiplies on both (16 files -> ~1, asserted "
    "in-query); logical content provably unchanged by the oracle.",
)
def delta_export_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_zorder,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .where(F.col("o_orderkey") < 1500)
    )
    dest = scratch_dir(spark, "zo_") + "/table"
    # round-robin layout: every file spans the full range of both
    # columns, so stats prune NOTHING before the rewrite
    export_delta(base.repartition(6), dest)
    reader = DeltaLogReader(spark, dest)
    fk = [("o_orderkey", "<", 300)]
    fp = [("o_totalprice", "<", 30000.0)]
    assert len(reader.live_files(filters=fk)) == 6  # unclustered: no skips
    export_delta_zorder(spark, dest, ["o_orderkey", "o_totalprice"], n_files=16)
    n_all = len(reader.live_files())
    nk = len(reader.live_files(filters=fk))
    np_ = len(reader.live_files(filters=fp))
    nb = len(reader.live_files(filters=fk + fp))
    assert n_all == 16 and nk < 16 and np_ < 16 and nb <= 4, (n_all, nk, np_, nb)
    got = reader.read(filters=fk + fp)
    return _status_totals(got)


@query(
    "delta_interop_timestamp_read",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 900
    GROUP BY 1
    """,
    doc="timestampAsOf time travel: commit timestamps are the log files' "
    "mtimes adjusted to strict monotonicity (Delta's clock-skew rule); a "
    "timestamp between commit 1 and commit 2 resolves to version 1, one "
    "before the earliest commit refuses. The returned aggregate is the "
    "version-1 snapshot.",
)
def delta_interop_timestamp_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    sl = _orders_slicer(spark, sf_dir)

    dest = scratch_dir(spark, "ts_read_") + "/table"
    export_delta(sl(0, 500), dest, partition_by=["o_orderstatus"])
    export_delta_append(sl(500, 900), dest)
    export_delta_append(sl(900, 1200), dest)
    t0 = 1_700_000_000
    for v, t in [(0, t0), (1, t0 + 1000), (2, t0 + 2000)]:
        p = _os.path.join(dest, "_delta_log", f"{v:020d}.json")
        _os.utime(p, (t, t))
    reader = DeltaLogReader(spark, dest)
    assert reader.version_at_timestamp(t0 * 1000) == 0
    assert reader.version_at_timestamp((t0 + 2500) * 1000) == 2
    try:
        reader.version_at_timestamp((t0 - 10) * 1000)
        raise AssertionError("pre-table timestamp must refuse")
    except ValueError:
        pass
    at_v1 = reader.read_as_of_timestamp((t0 + 1500) * 1000)
    return _status_totals(at_v1)


# ---------------------------------------------------------------------------
# IN-COMMIT TIMESTAMPS (PROTOCOL.md writer feature `inCommitTimestamp`):
# the authoritative commit time rides commitInfo as the FIRST action of
# every commit; file mtimes — which object-store copies and log
# transfers do NOT preserve — must be ignored for time travel. The
# fixture sabotages all three log mtimes to ONE identical past second;
# under mtime resolution every probe would land on version 2, so the
# per-version asserts fail loudly if the reader ever regresses to
# stat(). Protocol shape (minWriterVersion 7 + writerFeatures) and
# commitInfo-first framing are asserted off the raw JSON.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_ict_read",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 900
    GROUP BY 1
    """,
    doc="timestampAsOf over an In-Commit-Timestamps table: "
    "commitInfo.inCommitTimestamp (strictly monotonic, commitInfo first "
    "action, table-features protocol writer 7) overrides log mtimes — "
    "proven by sabotaging every mtime to one identical past second. The "
    "returned aggregate is the version-1 snapshot resolved via ICT.",
)
def delta_interop_ict_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    sl = _orders_slicer(spark, sf_dir)

    dest = scratch_dir(spark, "ict_read_") + "/table"
    export_delta(sl(0, 500), dest, ict=True)
    export_delta_append(sl(500, 900), dest)
    export_delta_append(sl(900, 1200), dest)

    icts: list[int] = []
    for v in range(3):
        p = _os.path.join(dest, "_delta_log", f"{v:020d}.json")
        with open(p) as fh:
            first = _json.loads(fh.readline())
        if v == 0:
            with open(p) as fh:
                proto = next(
                    _json.loads(ln)["protocol"]
                    for ln in fh
                    if ln.strip() and "protocol" in _json.loads(ln)
                )
            assert proto["minWriterVersion"] == 7, proto
            assert "inCommitTimestamp" in proto["writerFeatures"], proto
        assert "commitInfo" in first, f"v{v}: commitInfo must be FIRST"
        icts.append(int(first["commitInfo"]["inCommitTimestamp"]))
        _os.utime(p, (1_700_000_000, 1_700_000_000))  # sabotage: all equal
    assert icts[0] < icts[1] < icts[2], icts  # strict monotonicity

    reader = DeltaLogReader(spark, dest)
    assert reader.version_at_timestamp(icts[0]) == 0
    assert reader.version_at_timestamp(icts[1]) == 1
    assert reader.version_at_timestamp(icts[2] + 10_000) == 2
    try:
        reader.version_at_timestamp(icts[0] - 1)
        raise AssertionError("pre-table ICT timestamp must refuse")
    except ValueError:
        pass
    at_v1 = reader.read_as_of_timestamp(icts[1])
    return _status_totals(at_v1)


# ---------------------------------------------------------------------------
# GENERATED COLUMNS (PROTOCOL.md delta.generationExpression) driving
# PARTITION-FILTER DERIVATION — the optimization that makes the classic
# "partition by CAST(date_trunc('month', ts) AS DATE)" layout usable
# without callers ever naming the partition column: a predicate on the
# BASE timestamp derives the implied partition predicate (monotone
# generation, strict ops weakened to inclusive). To prove it is the
# DERIVATION pruning — not per-file stats, which a month layout would
# satisfy anyway — the fixture STRIPS every add's stats from the log,
# the shape foreign writers that omit stats produce. live_files counts
# assert real pruning; the filtered read's aggregate is the oracle gate.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_generated_partition_read",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderkey < 2000
    GROUP BY 1
    """,
    doc="Generated-column partition pruning: a month partition derived "
    "from the base timestamp (delta.generationExpression), partition "
    "filters DERIVED from base-column predicates with stats stripped "
    "from the log — pruning asserted on file counts, snapshot oracle-"
    "checked; appends recompute the generated column and refuse "
    "mismatched values.",
)
def delta_interop_generated_partition_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os as _os

    from data_etl_pipeline_spark.sources.delta_export import (
        DeltaExportError,
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    ).where("o_orderkey < 2000")
    gen_expr = "CAST(date_trunc('month', o_orderdate) AS DATE)"
    dest = scratch_dir(spark, "genpart_") + "/table"
    export_delta(
        base.where("o_orderkey < 1500"),
        dest,
        partition_by=["o_month"],
        generated={"o_month": gen_expr},
    )
    # append WITHOUT the generated column: the writer must recompute it;
    # then prove a WRONG value refuses (the protocol's enforcement rule)
    export_delta_append(base.where("o_orderkey >= 1500"), dest)
    bad = base.where("o_orderkey = 10").withColumn(
        "o_month", F.expr("DATE '1970-01-01'")
    )
    try:
        export_delta_append(bad, dest)
        raise AssertionError("mismatched generated value must refuse")
    except DeltaExportError:
        pass

    # strip every add's stats: pruning below can only come from DERIVED
    # partition filters (foreign writers routinely omit stats)
    log_dir = _os.path.join(dest, "_delta_log")
    for f in sorted(_os.listdir(log_dir)):
        if not f.endswith(".json"):
            continue
        p = _os.path.join(log_dir, f)
        out = []
        for line in open(p):
            if not line.strip():
                continue
            a = _json.loads(line)
            if "add" in a:
                a["add"].pop("stats", None)
            out.append(_json.dumps(a))
        with open(p, "w") as fh:
            fh.write("\n".join(out) + "\n")

    reader = DeltaLogReader(spark, dest)
    n_all = len(reader.live_files())
    flt = [("o_orderdate", ">=", "1996-01-01")]
    n_pruned = len(reader.live_files(filters=flt))
    assert n_pruned < n_all, (n_pruned, n_all)
    # equality on the base column prunes to (at most) one month's files
    n_eq = len(reader.live_files(filters=[("o_orderdate", "=", "1996-06-15")]))
    assert n_eq < n_pruned, (n_eq, n_pruned)
    got = reader.read(filters=flt).drop("o_month")
    return _status_totals(got)


# ---------------------------------------------------------------------------
# Delta interop, COLUMN MAPPING (mode 'name'): the fixture table stores
# PHYSICAL column names (col-1/col-2) in its parquet files and partition
# values — the on-disk shape any Delta table acquires after a column
# rename — while logical names live only in the schemaString metadata.
# The reader must rename on scan and key partition values physically.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_column_mapping_read",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1200
    GROUP BY 1
    """,
    doc="Reads a column-mapped (mode 'name') Delta table: physical "
    "column names in files and partitionValues, logical names from "
    "schema metadata — the post-rename table shape.",
)
def delta_interop_column_mapping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    tbl = scratch_dir(spark, "delta_cm_")
    os.makedirs(os.path.join(tbl, "_delta_log"))

    # data files carry the PHYSICAL names; 'o_orderstatus' is a partition
    # column so it stays out of the files entirely
    phys = {"o_orderkey": "col-1", "o_orderstatus": "col-2", "o_totalprice": "col-3"}
    statuses = [r["o_orderstatus"] for r in base.select("o_orderstatus").distinct().collect()]
    adds = []
    for i, st in enumerate(sorted(statuses)):
        part = (
            base.where(F.col("o_orderstatus") == st)
            .select(
                F.col("o_orderkey").alias("col-1"),
                F.col("o_totalprice").alias("col-3"),
            )
        )
        name = f"p{i}.parquet"
        write_single_parquet(part, os.path.join(tbl, name))
        adds.append(
            {"add": {"path": name, "partitionValues": {"col-2": st}, "size": 1,
                     "dataChange": True}}
        )

    fields = []
    for i, (logical, typ) in enumerate(
        [("o_orderkey", "long"), ("o_orderstatus", "string"), ("o_totalprice", "double")]
    ):
        fields.append(
            {"name": logical, "type": typ, "nullable": True,
             "metadata": {"delta.columnMapping.id": i + 1,
                          "delta.columnMapping.physicalName": phys[logical]}}
        )
    meta = {
        "metaData": {
            "id": "interop-cm",
            "schemaString": _json.dumps({"type": "struct", "fields": fields}),
            "partitionColumns": ["o_orderstatus"],
            "format": {"provider": "parquet"},
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
        }
    }
    with open(os.path.join(tbl, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for a in [{"protocol": {"minReaderVersion": 2}}, meta] + adds:
            fh.write(_json.dumps(a) + "\n")

    back = DeltaLogReader(spark, tbl).read()
    return _status_totals(back)


# ---------------------------------------------------------------------------
# Exactly-once TABLE-TO-TABLE incremental pipeline (the Delta "streaming
# from a table" shape): a consumer follows the source table's change feed
# across three commits (initial load, MERGE with updates+inserts, DV
# delete), folding per-range deltas into a downstream aggregate keyed by
# (_v = source version consumed, user) — so the consumed offset RIDES THE
# DATA in one atomic commit and a redelivered tick REPLACES its own rows
# instead of double-applying (proven in-query by replaying the final
# tick). O(changes) per tick, never a source rescan; the oracle
# aggregates the final source state directly.
# ---------------------------------------------------------------------------
@query(
    "stream_table_to_table_cdf",
    sql="""
    WITH base AS (
      SELECT event_id, user_id,
             CASE WHEN event_id < 100 THEN value + 10.0 ELSE value END AS value
      FROM events WHERE event_id < 300),
    extra AS (SELECT event_id, user_id, value FROM events
              WHERE event_id >= 300 AND event_id < 450),
    final AS (
      SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM extra)
      WHERE event_id % 7 <> 0)
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM final GROUP BY 1
    """,
    doc="Change-feed consumer maintaining a downstream aggregate across "
    "three source commits with the offset embedded in each destination "
    "commit (exactly-once; final tick replayed to prove idempotence).",
)
def stream_table_to_table_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = VersionedTable(spark, scratch_dir(spark, "cdf_src_"))
    dst = VersionedTable(spark, scratch_dir(spark, "cdf_dst_"))

    sign = (
        F.when(F.col("change_type").isin("insert", "update_postimage"), F.lit(1))
        .when(F.col("change_type").isin("delete", "update_preimage"), F.lit(-1))
    )

    def delta_of(changes: DataFrame, consumed_v: int) -> DataFrame:
        """The SINGLE delta formula both the live ticks and the replay
        use — sharing it is what makes the replay a real idempotence
        proof (a formula edited in one place cannot silently diverge)."""
        return (
            changes.groupBy("user_id")
            .agg(
                F.sum(sign).alias("dn"),
                F.sum(
                    sign.cast("decimal(18,6)") * F.col("value").cast("decimal(18,6)")
                ).alias("dval"),
            )
            .select(F.lit(consumed_v).cast("long").alias("_v"), "user_id", "dn", "dval")
        )

    def tick() -> None:
        """One consumer step: offset = MAX(_v) already in dst (rides the
        data — crash-safe), delta = CDF(last, cur) folded per user, one
        MERGE keyed (_v, user_id) so redelivery replaces itself."""
        cur = src.latest_version()
        if dst.latest_version() is None:
            last = None
        else:
            last = dst.read().agg(F.max("_v")).first()[0]
        if last is None:
            changes = src.read(0).withColumn("change_type", F.lit("insert"))
            cur = 0
        else:
            if cur == last:
                return
            changes = src.change_feed(["event_id"], last, cur)
        delta = delta_of(changes, cur)
        if dst.latest_version() is None:
            dst.write(delta)
        else:
            dst.merge(delta, keys=["_v", "user_id"])

    # commit 1: initial load
    src.write(ev.where(F.col("event_id") < 300))
    tick()
    # commit 2: MERGE = update (value+10 for id<100) + insert [300,450)
    updates = ev.where(F.col("event_id") < 100).withColumn(
        "value", F.col("value") + F.lit(10.0)
    ).unionByName(ev.where((F.col("event_id") >= 300) & (F.col("event_id") < 450)))
    src.merge(updates, keys=["event_id"])
    tick()
    # commit 3: merge-on-read delete
    src.delete_where_dv(F.pmod("event_id", F.lit(7)) == 0)
    tick()
    # redelivered tick: MUST be a no-op (same _v rows replace themselves)
    last_before = dst.latest_version()
    cur_v = src.latest_version()
    prev_offset = (
        dst.read().where(F.col("_v") < cur_v).agg(F.max("_v")).first()[0]
    )
    dst.merge(
        delta_of(src.change_feed(["event_id"], prev_offset, cur_v), cur_v),
        keys=["_v", "user_id"],
    )
    if dst.latest_version() != last_before + 1:
        # not an assert: the proof must hold under python -O too
        raise RuntimeError("replay did not commit; idempotence unproven")
    return (
        dst.read()
        .groupBy("user_id")
        .agg(
            F.sum("dn").cast("long").alias("n"),
            F.sum("dval").cast("double").alias("total"),
        )
        .where(F.col("n") > 0)  # ...but the state is unchanged (idempotent)
    )


# ---------------------------------------------------------------------------
# REAL multimodal header decode (operators/multimodal.py
# image_header_dims): dimensions parsed from PNG/GIF/BMP/JPEG header
# bytes — no codec — over a fixture whose geometry is a pure function of
# doc_id, so the oracle states the expected values without ever touching
# bytes. A parsing bug of even one field breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "image_header_dims",
    sql="""
    SELECT doc_id AS item_id,
           ['png', 'gif', 'bmp', 'jpeg'][(doc_id % 4) + 1] AS format,
           CAST(100 + doc_id % 500 AS INT) AS width,
           CAST(50 + doc_id % 300 AS INT) AS height
    FROM documents
    """,
    doc="Parses image dimensions from real container headers (PNG IHDR, "
    "GIF screen descriptor, BMP info header, JPEG SOFn) in one Arrow "
    "scan; fixture geometry is a closed-form function of doc_id.",
)
def image_header_dims_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.multimodal import (
        image_header_features,
        synth_image_payload,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    fmts = ["png", "gif", "bmp", "jpeg"]

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "item_id": ids,
                    "payload": [
                        synth_image_payload(
                            fmts[int(i) % 4], 100 + int(i) % 500, 50 + int(i) % 300
                        )
                        for i in ids
                    ],
                }
            )

    payloads = docs.mapInPandas(build, "item_id long, payload binary")
    return image_header_features(payloads)


@query(
    "audio_header_info",
    sql="""
    SELECT doc_id AS item_id,
           ['wav', 'flac'][(doc_id % 2) + 1] AS format,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST([8000, 16000, 22050, 44100, 48000][(doc_id % 5) + 1] AS INT) AS sample_rate,
           CAST([8, 16, 24, 32][(doc_id % 4) + 1] AS INT) AS bits_per_sample,
           CAST(1000 + doc_id % 9000 AS BIGINT) AS n_frames
    FROM documents
    """,
    doc="Audio container metadata without codecs (sibling of "
    "image_header_dims): WAV RIFF chunk walk (fmt + declared data size "
    "-> frame count) and FLAC STREAMINFO bit-unpacking (20-bit rate, "
    "3-bit channels, 5-bit depth, 36-bit total samples) in one Arrow "
    "scan; fixture parameters are a closed-form function of doc_id so "
    "the oracle never touches bytes. Only sample access stays behind "
    "the codec seam.",
)
def audio_header_info_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.multimodal import (
        audio_header_features,
        synth_audio_payload,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    rates = [8000, 16000, 22050, 44100, 48000]
    depths = [8, 16, 24, 32]

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "item_id": ids,
                    "payload": [
                        synth_audio_payload(
                            "wav" if int(i) % 2 == 0 else "flac",
                            1 + int(i) % 2,
                            rates[int(i) % 5],
                            depths[int(i) % 4],
                            1000 + int(i) % 9000,
                        )
                        for i in ids
                    ],
                }
            )

    payloads = docs.mapInPandas(build, "item_id long, payload binary")
    return audio_header_features(payloads)


# ---------------------------------------------------------------------------
# POINT-IN-TIME dimension join (the feature-store correctness pattern):
# each event must see the dimension attribute that was valid AT ITS OWN
# TIMESTAMP — joining the current snapshot instead silently leaks future
# state into training data. The dimension is an SCD2-interval table (3
# validity windows per user, derived deterministically so the oracle can
# restate them); the join is an equi-join on the user plus interval
# containment — per-user version counts are small by construction, so
# the fan-in is bounded and there is no range-join explosion.
# ---------------------------------------------------------------------------
@query(
    "events_pit_dimension_join",
    sql="""
    WITH span AS (
      SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY 1),
    dim AS (
      SELECT user_id, tier,
             t0 + INTERVAL (n * 240) HOUR AS valid_from,
             CASE WHEN n < 2 THEN t0 + INTERVAL ((n + 1) * 240) HOUR
                  ELSE TIMESTAMP '9999-12-31' END AS valid_to
      FROM span, (SELECT * FROM (VALUES (0, 'bronze'), (1, 'silver'), (2, 'gold')) AS t(n, tier))),
    joined AS (
      SELECT e.user_id, d.tier
      FROM events e JOIN dim d
        ON e.user_id = d.user_id
       AND e.ts >= d.valid_from AND e.ts < d.valid_to)
    SELECT user_id, tier, COUNT(*) AS n_events
    FROM joined GROUP BY 1, 2
    """,
    doc="SCD2 point-in-time join: events pick the dimension row valid at "
    "their own timestamp (no future-state leakage); per-user interval "
    "counts bound the join fan-in.",
)
def events_pit_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    span = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    tiers = local_frame(spark, [(0, "bronze"), (1, "silver"), (2, "gold")], "n int, tier string")
    dim = (
        span.crossJoin(F.broadcast(tiers))
        .select(
            "user_id",
            "tier",
            F.expr("t0 + make_interval(0, 0, 0, 0, n * 240, 0, 0)").alias("valid_from"),
            F.when(
                F.col("n") < 2,
                F.expr("t0 + make_interval(0, 0, 0, 0, (n + 1) * 240, 0, 0)"),
            )
            .otherwise(F.lit("9999-12-31").cast("timestamp"))
            .alias("valid_to"),
        )
    )
    # dim derives from ev (self-join lineage): disambiguate via aliases
    e = ev.alias("e")
    d = dim.select(
        F.col("user_id").alias("d_user_id"), "tier", "valid_from", "valid_to"
    ).alias("d")
    joined = e.join(
        d,
        (F.col("e.user_id") == F.col("d.d_user_id"))
        & (F.col("e.ts") >= F.col("d.valid_from"))
        & (F.col("e.ts") < F.col("d.valid_to")),
    )
    return joined.groupBy(F.col("e.user_id").alias("user_id"), "tier").agg(
        F.count(F.lit(1)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# Composed TABLE MAINTENANCE lifecycle under the oracle gate: write 8
# clustered files -> MERGE an update batch -> DV delete -> OPTIMIZE
# compaction (purges DVs, 1 file) -> VACUUM keep_versions=1 (drops every
# data file only old versions reference). The invariants the oracle
# states: logical content survives every maintenance op byte-for-byte
# (rows/total recomputed AFTER vacuum), the table ends at exactly one
# file, and vacuum reclaimed at least the 8 original files.
# ---------------------------------------------------------------------------
@query(
    "versioned_lifecycle_maintenance",
    sql="""
    WITH base AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0 THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1
                  ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS price
      FROM orders WHERE o_orderkey < 1400),
    live AS (SELECT * FROM base WHERE o_orderkey % 11 <> 0)
    SELECT
      (SELECT COUNT(*) FROM live) AS rows_final,
      (SELECT CAST(SUM(price) AS DOUBLE) FROM live) AS total_final,
      1 AS n_files_final,
      1 AS vacuumed_ge_8
    """,
    doc="OPTIMIZE + VACUUM lifecycle: content invariant through merge/DV "
    "delete/compaction/retention cleanup; ends at one file with the "
    "original files reclaimed.",
)
def versioned_lifecycle_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1400)
        .select("o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price"))
    )
    t = VersionedTable(spark, scratch_dir(spark, "lifecycle_"))
    t.write(base, cluster_by=["o_orderkey"], n_files=8)
    # update every 5th key (+1), MERGE rewrites only intersecting files
    t.merge(
        base.where(F.pmod("o_orderkey", F.lit(5)) == 0).withColumn(
            # +1 would silently widen decimal(18,2) -> (19,2); keep the
            # update batch at the table's exact type
            "price", (F.col("price") + 1).cast("decimal(18,2)")
        ),
        keys=["o_orderkey"],
    )
    # merge-on-read delete of every 11th key
    t.delete_where_dv(F.pmod("o_orderkey", F.lit(11)) == 0)
    # OPTIMIZE: everything packs into one file; DVs purge on rewrite
    t.compact(target_rows=10_000_000)
    removed = t.vacuum(keep_versions=1)
    n_files = t.files_df().count()
    return (
        t.read()
        .agg(
            F.count(F.lit(1)).alias("rows_final"),
            F.sum("price").cast("double").alias("total_final"),
        )
        .select(
            "rows_final",
            "total_final",
            F.lit(int(n_files)).cast("int").alias("n_files_final"),
            F.lit(1 if len(removed) >= 8 else 0).cast("int").alias("vacuumed_ge_8"),
        )
    )


# ---------------------------------------------------------------------------
# KMV distinct sketches — the ORACLE-EXACT approximate-distinct path.
# approx_count_distinct's HLL++ can only be checked against Spark itself
# (engine-internal hash); KMV over md5 makes the sketch rows, the k-th
# order statistic, and the integer estimator bit-identical in DuckDB, so
# an APPROXIMATE algorithm still passes the value-hash gate. The grouped
# form is one exchange; the global form is TakeOrderedAndProject; merge
# is union + re-take-k (associative, idempotent), persisted as table
# state for incremental ingest.
# ---------------------------------------------------------------------------
@query(
    "segment_distinct_kmv",
    sql="""
    WITH h AS (SELECT DISTINCT c_mktsegment AS segment,
                      md5(CAST(o_custkey AS VARCHAR)) AS hx
               FROM orders JOIN customer ON c_custkey = o_custkey),
    r AS (SELECT segment, hx,
                 ROW_NUMBER() OVER (PARTITION BY segment ORDER BY hx) AS rn,
                 COUNT(*) OVER (PARTITION BY segment) AS n
          FROM h),
    sk AS (SELECT segment, MAX(CASE WHEN rn = 128 THEN hx END) AS kth,
                  MAX(n) AS n
           FROM r WHERE rn <= 128 GROUP BY segment)
    SELECT segment,
           CASE WHEN n < 128 THEN n
                ELSE 35747322042253312 -- (128-1) * 2^48
                     // GREATEST((('0x' || substr(kth, 1, 12))::BIGINT), 1)
           END AS est_distinct,
           n >= 128 AS saturated
    FROM sk
    """,
    doc="Per-segment distinct-buyer estimate via a k=128 KMV sketch — "
    "approximate counting that is bit-identical across engines (md5 "
    "hashes, integer div estimator, no floats): the oracle replays the "
    "same sketch, so even the ESTIMATE hash-matches. Below saturation "
    "the sketch IS the distinct set (estimate exact by construction); "
    "the in-query guard asserts the saturated estimate lands within 50% "
    "of truth (stderr ~ 1/sqrt(128) ~ 8.8%).",
)
def segment_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators import kmv

    K = 128
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select(F.col("c_mktsegment").alias("segment"), "o_custkey")
    sk = kmv.kmv_sketch(joined, "o_custkey", k=K, group_cols=["segment"])
    est = kmv.kmv_estimate(sk, k=K, group_cols=["segment"])
    sizes = sk.groupBy("segment").agg(F.count(F.lit(1)).alias("__sz"))
    # error guard on the saturated estimates (driver-side, group count is
    # bounded by segment cardinality)
    exact = {
        r["segment"]: r["n"]
        for r in joined.groupBy("segment")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    for r in est.collect():
        e = exact[r["segment"]]
        assert abs(r["est_distinct"] - e) <= 0.5 * e, (r, e)
    return est.join(sizes, "segment").select(
        "segment", "est_distinct", (F.col("__sz") >= K).alias("saturated")
    )


@query(
    "kmv_sketch_incremental",
    sql="""
    WITH h AS (SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS hx FROM orders),
    r AS (SELECT hx, ROW_NUMBER() OVER (ORDER BY hx) AS rn,
                 COUNT(*) OVER () AS n
          FROM h),
    sk AS (SELECT MAX(CASE WHEN rn = 64 THEN hx END) AS kth, MAX(n) AS n
           FROM r WHERE rn <= 64)
    SELECT CASE WHEN n < 64 THEN n
                ELSE 17732923532771328 -- (64-1) * 2^48
                     // GREATEST((('0x' || substr(kth, 1, 12))::BIGINT), 1)
           END AS est_distinct,
           LEAST(n, 64) AS sketch_size
    FROM sk
    """,
    doc="KMV sketch as MERGE-maintained table state: batch 1's sketch is "
    "persisted to a VersionedTable, batch 2 merges in (union + re-take-k "
    "— associative and idempotent, so redelivery cannot move the "
    "estimate; proven in-query by re-merging batch 2), and the final "
    "estimate equals a from-scratch sketch over all rows (also asserted "
    "in-query). The oracle builds the from-scratch sketch directly. "
    "History is never rescanned: each batch hashes only its own rows.",
)
def kmv_sketch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators import kmv
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    K = 64
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    half = orders.agg(F.expr("percentile(o_orderkey, 0.5D)")).collect()[0][0]
    b1 = orders.where(F.col("o_orderkey") <= half)
    b2 = orders.where(F.col("o_orderkey") > half)

    state = VersionedTable(spark, scratch_dir(spark, "kmv_"))
    state.write(kmv.kmv_sketch(b1, "o_custkey", k=K))
    merged = kmv.kmv_merge(state.read(), kmv.kmv_sketch(b2, "o_custkey", k=K), k=K)
    state.write(merged)  # next version of the sketch state
    final = state.read()
    # idempotence: re-delivering batch 2 against the merged state is a
    # no-op (sketch rows are a set; re-take-k of a superset-free union)
    redelivered = kmv.kmv_merge(final, kmv.kmv_sketch(b2, "o_custkey", k=K), k=K)
    assert (
        redelivered.exceptAll(final).count() == 0
        and final.exceptAll(redelivered).count() == 0
    )
    # merge == from-scratch over the full key stream
    scratch = kmv.kmv_sketch(orders, "o_custkey", k=K)
    assert final.exceptAll(scratch).count() == 0
    est = kmv.kmv_estimate(final, k=K)
    return est.crossJoin(
        final.agg(F.count(F.lit(1)).cast("bigint").alias("sketch_size"))
    ).select("est_distinct", "sketch_size")


# ---------------------------------------------------------------------------
# CUSUM drift detection — the sequential-looking recurrence
# S_i = max(0, S_{i-1} + d_i) compiled to TWO running windows on ONE
# exchange via the max-drawdown identity S_i = P_i - min(0, min P_j)
# (operators/drift.py). Deviation is "value above 1.1x the type's own
# mean", scaled by 10n so no division ever happens: every intermediate
# is exact decimal and the alarm set hash-matches the oracle.
# ---------------------------------------------------------------------------
@query(
    "event_type_value_cusum",
    sql="""
    WITH base AS (SELECT event_type, ts, event_id,
                         CAST(value AS DECIMAL(10,2)) AS x
                  FROM events),
    st AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS t
           FROM base GROUP BY 1),
    d AS (SELECT b.event_type, b.ts, b.event_id,
                 b.x * (10 * st.n) - 11 * st.t AS dd, st.n, st.t
          FROM base b JOIN st USING (event_type)),
    p AS (SELECT *, SUM(dd) OVER w AS pp FROM d
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (SELECT *, pp - LEAST(MIN(pp) OVER w, 0) AS sc FROM p
          WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type,
           CAST(COALESCE(SUM(CASE WHEN sc >= 50 * t THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_alarms,
           COALESCE(MIN(CASE WHEN sc >= 50 * t THEN event_id END), -1)
               AS first_alarm_event_id,
           ROUND(CAST(MAX(sc) AS DOUBLE) / CAST(10 * MAX(n) AS DOUBLE), 6)
               AS max_score
    FROM s GROUP BY event_type
    """,
    doc="One-sided CUSUM drift monitor per event type (alarm when the "
    "cumulative excess over 1.1x the type mean reaches 5x the mean): the "
    "recurrence runs as two running windows on one exchange via the "
    "max-drawdown identity, never a per-key loop. Deviations are scaled "
    "by 10n to stay division-free exact decimals; the single unscaling "
    "division happens once per GROUP on identical doubles in both "
    "engines.",
)
def event_type_value_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.drift import cusum_scores

    base = load(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", F.col("value").cast("decimal(10,2)").alias("x")
    )
    st = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("t")
    )
    d = base.join(F.broadcast(st), "event_type").withColumn(
        "dd", F.col("x") * (10 * F.col("n")) - 11 * F.col("t")
    )
    s = cusum_scores(d, ["event_type"], ["ts", "event_id"], "dd", out_col="sc")
    alarm = F.col("sc") >= 50 * F.col("t")
    return s.groupBy("event_type").agg(
        F.coalesce(F.sum(alarm.cast("long")), F.lit(0)).alias("n_alarms"),
        F.coalesce(
            F.min(F.when(alarm, F.col("event_id"))), F.lit(-1)
        ).alias("first_alarm_event_id"),
        F.round(
            F.max("sc").cast("double") / (10 * F.max("n")).cast("double"), 6
        ).alias("max_score"),
    )


@query(
    "delta_interop_column_pruning",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1200 AND o_orderkey >= 300
    GROUP BY 1
    """,
    doc="Column-projected Delta interop read: read(columns=[status, "
    "price], filters=[orderkey range]) scans ONLY those three columns "
    "(ReadSchema asserted in-query to exclude the three untouched "
    "columns — at 100 TB a 3-of-6-column read moves half the bytes), "
    "drops the filter-only column from the output, and the aggregate "
    "over the pruned frame hash-matches a from-scratch recompute.",
)
def delta_interop_column_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import export_delta
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    dest = scratch_dir(spark, "exp_prune_") + "/table"
    export_delta(base.where(F.col("o_orderkey") < 1200), dest)
    back = DeltaLogReader(spark, dest).read(
        columns=["o_orderstatus", "o_totalprice"],
        filters=[("o_orderkey", ">=", 300)],
    )
    assert back.columns == ["o_orderstatus", "o_totalprice"]
    from data_etl_pipeline_spark.plans.planassert import read_schema

    scanned = read_schema(back)
    assert scanned, scanned
    for col in ("o_custkey", "o_orderdate", "o_orderpriority"):
        assert col not in scanned, scanned
    assert "o_totalprice" in scanned and "o_orderkey" in scanned, scanned
    return _status_totals(back)


@query(
    "delta_export_replace_where",
    sql="""
    WITH final AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey < 1000 AND o_orderstatus <> 'F'
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice * 2 FROM orders
      WHERE o_orderkey < 800 AND o_orderstatus = 'F'
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY 1
    """,
    doc="Atomic partition overwrite (replaceWhere restricted to "
    "partition equality): the 'F' partition of an exported table is "
    "re-published in one remove+add commit — removal is a log-level "
    "file-list filter (zero data read), other partitions untouched. "
    "Non-matching source rows refuse (asserted in-query); the oracle "
    "recomputes the post-replace state from scratch.",
)
def delta_export_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        DeltaExportError,
        export_delta,
        export_delta_replace_where,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "exp_rw_") + "/table"
    export_delta(base.where(k < 1000), dest, partition_by=["o_orderstatus"])
    repub = base.where((k < 800) & (F.col("o_orderstatus") == "F")).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    # rows outside the predicate must refuse before any commit happens
    try:
        export_delta_replace_where(
            spark, base.where(k < 10), dest, {"o_orderstatus": "F"}
        )
        raise AssertionError("non-matching source rows must refuse")
    except DeltaExportError:
        pass
    res = export_delta_replace_where(spark, repub, dest, {"o_orderstatus": "F"})
    assert res["version"] == 1 and res["removed_files"] > 0, res
    back = DeltaLogReader(spark, dest).read()
    return _status_totals(back)


@query(
    "delta_export_txn_idempotence",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1200 GROUP BY 1
    """,
    doc="Exactly-once streaming-sink contract for the exporter: appends "
    "carry a Delta txn action (appId + monotone version); re-delivered "
    "batches — immediate replay, late replay after further commits, "
    "both asserted in-query — skip without writing a byte, so the table "
    "holds each batch exactly once even under at-least-once delivery. "
    "A second appId keeps its own counter. The oracle recomputes the "
    "deduplicated final state.",
)
def delta_export_txn_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    sl = _orders_slicer(spark, sf_dir)

    dest = scratch_dir(spark, "exp_txn_") + "/table"
    export_delta(sl(0, 600), dest)
    app = "orders-ingest"
    assert export_delta_append(sl(600, 900), dest, app_id=app, txn_version=0)[
        "version"
    ] == 1
    # at-least-once delivery: the same micro-batch arrives again
    assert export_delta_append(sl(600, 900), dest, app_id=app, txn_version=0)[
        "skipped"
    ]
    assert export_delta_append(sl(900, 1200), dest, app_id=app, txn_version=1)[
        "version"
    ] == 2
    # LATE replay of an old batch after newer commits still skips
    assert export_delta_append(sl(600, 900), dest, app_id=app, txn_version=0)[
        "skipped"
    ]
    back = DeltaLogReader(spark, dest).read()
    return _status_totals(back)


# ---------------------------------------------------------------------------
# CHANGE DATA FEED lifecycle on an exported table: create (cdf=True) ->
# append -> keyed CoW MERGE -> CoW DELETE, then table_changes(0) replays
# every row-level change — derived inserts for the add-only commits,
# _change_data files (written by the exporter, PROTOCOL.md "Add CDC
# File") for the merge's update_preimage/update_postimage/insert and the
# delete's pre-images. The oracle recomputes the full feed from raw
# orders, so a wrong change type, version tag, pre/post price, or a
# cdc/derived mixup all break the hash.
# ---------------------------------------------------------------------------
@query(
    "delta_export_cdf_lifecycle",
    sql="""
    WITH ch AS (
        SELECT 0 AS _commit_version, 'insert' AS _change_type, o_totalprice AS p
        FROM orders WHERE o_orderkey <= 400
        UNION ALL
        SELECT 1, 'insert', o_totalprice
        FROM orders WHERE o_orderkey > 400 AND o_orderkey <= 800
        UNION ALL
        SELECT 2, 'update_preimage', o_totalprice
        FROM orders WHERE o_orderkey <= 800 AND o_orderkey % 7 = 0
        UNION ALL
        SELECT 2, 'update_postimage', o_totalprice * 2
        FROM orders WHERE o_orderkey <= 800 AND o_orderkey % 7 = 0
        UNION ALL
        SELECT 2, 'insert', o_totalprice FROM orders WHERE o_orderkey % 13 = 0
        UNION ALL
        -- unmatched merge-source rows insert AS SENT, i.e. with the
        -- source's doubled price
        SELECT 2, 'insert', o_totalprice * 2
        FROM orders WHERE o_orderkey > 800 AND o_orderkey <= 900 AND o_orderkey % 7 = 0
        UNION ALL
        SELECT 3, 'delete',
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END
        FROM orders WHERE o_orderkey BETWEEN 100 AND 200 AND o_orderkey <= 800
    )
    SELECT _commit_version, _change_type, COUNT(*) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM ch GROUP BY 1, 2
    """,
    doc="Change-data-feed lifecycle: export(cdf=True) -> append -> CoW "
    "merge -> CoW delete; table_changes(0) derives inserts from "
    "add-only commits and reads the exporter's _change_data files for "
    "the rewrites (update_preimage/update_postimage/insert, delete). "
    "One scan per change kind however many commits the range spans. "
    "Oracle rebuilds the exact feed from raw orders.",
)
def delta_export_cdf_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
        export_delta_delete,
        export_delta_merge,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "exp_cdf_") + "/table"
    export_delta(base.where(k <= 400), dest, cdf=True)
    export_delta_append(base.where((k > 400) & (k <= 800)), dest)
    upd = base.where((k % 7 == 0) & (k <= 900)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ins = base.where(k % 13 == 0).withColumn("o_orderkey", k + 100000)
    res = export_delta_merge(spark, upd.unionByName(ins), dest, keys=["o_orderkey"])
    assert res["cdc_files"] > 0, res
    export_delta_delete(spark, dest, "o_orderkey between 100 and 200")
    ch = DeltaLogReader(spark, dest).table_changes(0)
    return ch.groupBy("_commit_version", "_change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total"
        ),
    )


# ---------------------------------------------------------------------------
# Delta interop, FOREIGN change feed: a log this exporter did NOT write
# (metaData id 'interop-cdf', writer version 4) whose delete commit
# carries real cdc actions — table_changes must use the _change_data
# file ALONE for that commit (ignoring its remove+add pair) and still
# derive inserts for the plain append around it. Oracle recomputes the
# three-commit feed from raw orders by key.
# ---------------------------------------------------------------------------
@query(
    "delta_interop_cdf_read",
    sql="""
    WITH ch AS (
        SELECT 0 AS _commit_version, 'insert' AS _change_type,
               o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey <= 300
        UNION ALL
        SELECT 1, 'delete', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey <= 300 AND o_orderkey % 3 = 0
        UNION ALL
        SELECT 2, 'insert', o_orderkey, o_totalprice
        FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 500
    )
    SELECT _commit_version, _change_type, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM ch GROUP BY 1, 2
    """,
    doc="Reads the change feed of a FOREIGN Delta table whose rewrite "
    "commit carries cdc actions (protocol 'Add CDC File'): the cdc "
    "file is used alone for that commit — the remove+add pair "
    "contributes nothing — while the surrounding create/append commits "
    "derive inserts.",
)
def delta_interop_cdf_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import os

    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    tbl = scratch_dir(spark, "delta_cdf_foreign_")
    os.makedirs(os.path.join(tbl, "_delta_log"))
    a = base.where(k <= 300)
    write_single_parquet(a, os.path.join(tbl, "a.parquet"))
    write_single_parquet(a.where(k % 3 != 0), os.path.join(tbl, "a2.parquet"))
    os.makedirs(os.path.join(tbl, "_change_data"))
    write_single_parquet(
        a.where(k % 3 == 0).withColumn("_change_type", F.lit("delete")),
        os.path.join(tbl, "_change_data", "cdc-0.parquet"),
    )
    write_single_parquet(base.where((k > 300) & (k <= 500)), os.path.join(tbl, "b.parquet"))

    def log(v: int, actions: list[dict]) -> None:
        with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json"), "w") as fh:
            for act in actions:
                fh.write(_json.dumps(act) + "\n")

    def sz(rel: str) -> int:
        return os.path.getsize(os.path.join(tbl, rel))

    def add(p: str) -> dict:
        return {
            "add": {
                "path": p,
                "partitionValues": {},
                "size": sz(p),
                "dataChange": True,
            }
        }

    log(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {
                "metaData": {
                    "id": "interop-cdf",
                    "schemaString": base.schema.json(),
                    "partitionColumns": [],
                    "format": {"provider": "parquet"},
                    "configuration": {"delta.enableChangeDataFeed": "true"},
                }
            },
            add("a.parquet"),
        ],
    )
    log(
        1,
        [
            {"remove": {"path": "a.parquet", "dataChange": True}},
            add("a2.parquet"),
            {
                "cdc": {
                    "path": "_change_data/cdc-0.parquet",
                    "partitionValues": {},
                    "size": sz("_change_data/cdc-0.parquet"),
                    "dataChange": False,
                }
            },
        ],
    )
    log(2, [add("b.parquet")])

    ch = DeltaLogReader(spark, tbl).table_changes(0, 2)
    return ch.groupBy("_commit_version", "_change_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental materialized view over the INTEROP change feed: the
# E106/cdc_materialized_view delta algebra applied across the table
# boundary — view state computed from the v0 snapshot, then maintained
# with O(changes) arithmetic from table_changes(): insert and
# update_postimage rows count +1, delete and update_preimage rows -1.
# The big v0 aggregate never reruns. Oracle aggregates the FINAL state
# directly, so any sign error, missed change kind, or double-applied
# cdc/derived row breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "delta_cdf_materialized_view",
    bench_tier=2,
    sql="""
    WITH final AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 11 = 3 THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders
        WHERE o_orderkey <= 1200 AND o_orderkey % 6 <> 1
    )
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM final GROUP BY 1
    """,
    doc="Materialized view maintained from a REAL Delta change feed: "
    "view = agg(v0) + signed deltas of table_changes(1..) — insert/"
    "update_postimage +1, delete/update_preimage -1 — across the "
    "interop boundary (cdc files + derived inserts), never re-reading "
    "v0. Oracle aggregates the final table state directly.",
)
def delta_cdf_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_delete,
        export_delta_merge,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "exp_cdf_mv_") + "/table"
    export_delta(base.where(k <= 1200), dest, cdf=True)
    upd = base.where((k <= 1200) & (k % 11 == 3)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    export_delta_merge(spark, upd, dest, keys=["o_orderkey"])
    export_delta_delete(spark, dest, "o_orderkey % 6 = 1")

    r = DeltaLogReader(spark, dest)
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    view0 = (
        r.read(version=0)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(dec).alias("total"))
    )
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = (
        r.table_changes(1)
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.sum(sign).alias("n"),
            F.sum(dec * sign.cast("decimal(2,0)")).alias("total"),
        )
    )
    merged = view0.unionByName(deltas).groupBy("status").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("total").cast("double").alias("total"),
    )
    return merged.where(F.col("n") > 0)


# ---------------------------------------------------------------------------
# Exactly-once CDC mirror of a foreign Delta table: where E100's tail
# ingest can only consume appends, this consumer replays the CHANGE
# FEED, reduces each batch to its NET effect per key (latest commit
# wins; within a commit the postimage beats its preimage), and applies
# upserts via keyed MERGE + deletes via the keyed anti-join rewrite
# (VersionedTable.delete_keys) — so CoW deletes and merges on the
# source propagate, which no insert-only consumer can do. The consumed
# _commit_version offset rides the mirror's own rows (crash-safe);
# replaying the final batch from a stale offset leaves the state
# logically unchanged (upserts replace themselves, deletes of absent
# keys no-op) — asserted in-query.
# ---------------------------------------------------------------------------
@query(
    "stream_cdf_delta_mirror",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(CASE WHEN o_orderkey < 1000 AND o_orderkey % 9 = 0
                              THEN o_totalprice * 2 ELSE o_totalprice END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 1100 AND o_orderkey % 5 <> 3
    GROUP BY 1
    """,
    doc="Exactly-once CDC mirror of a foreign Delta table: per-tick "
    "net-effect reduction of table_changes (latest commit per key wins, "
    "postimage over preimage), keyed MERGE for upserts + delete_keys "
    "anti-join rewrite for deletes — CoW deletes/merges propagate where "
    "tail-based ingest must refuse; stale-offset replay proven "
    "unchanged in-query. Oracle computes the mirrored final state from "
    "raw orders.",
)
def stream_cdf_delta_mirror(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from data_etl_pipeline_spark.sources.delta_export import (
        export_delta,
        export_delta_append,
        export_delta_delete,
        export_delta_merge,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
    from data_etl_pipeline_spark.sources.versioned import VersionedTable

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    src = scratch_dir(spark, "cdcmirror_src_") + "/table"
    dst = VersionedTable(spark, scratch_dir(spark, "cdcmirror_dst_"))
    export_delta(base.where(k < 700), src, cdf=True)
    reader = DeltaLogReader(spark, src)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]

    def apply_batch(lo: int, hi: int) -> None:
        """Net-effect apply of source commits [lo, hi] onto the mirror."""
        ch = reader.table_changes(lo, hi)
        pref = F.when(F.col("_change_type") == "update_preimage", 0).otherwise(1)
        w = W.partitionBy("o_orderkey").orderBy(
            F.desc("_commit_version"), F.desc(pref)
        )
        net = (
            ch.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        ups = net.where(F.col("_change_type") != "delete").select(
            *cols, F.col("_commit_version").alias("_v")
        )
        dels = net.where(F.col("_change_type") == "delete").select("o_orderkey")
        # ONE emptiness probe for both branches (r13: the two take(1)s
        # each escalated through several scan jobs per tick)
        probe = net.agg(
            F.count(F.when(F.col("_change_type") != "delete", 1)).alias("u"),
            F.count(F.when(F.col("_change_type") == "delete", 1)).alias("d"),
        ).first()
        if probe["u"]:
            dst.merge(ups, keys=["o_orderkey"])
        if probe["d"]:
            dst.delete_keys(dels, keys=["o_orderkey"])

    def tick() -> None:
        latest = max(reader.versions())
        if dst.latest_version() is None:
            dst.write(
                reader.read(version=latest).withColumn(
                    "_v", F.lit(latest).cast("long")
                )
            )
            return
        last = dst.read().agg(F.max("_v")).first()[0]
        if latest > last:
            apply_batch(last + 1, latest)

    tick()  # snapshot at v0
    export_delta_append(base.where((k >= 700) & (k < 1000)), src)
    upd = base.where((k < 1000) & (k % 9 == 0)).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ins = base.where((k >= 1000) & (k < 1100))
    export_delta_merge(spark, upd.unionByName(ins), src, keys=["o_orderkey"])
    tick()  # consumes commits 1..2 (append + merge) in one net batch
    export_delta_delete(spark, src, "o_orderkey % 5 = 3")
    tick()  # consumes commit 3 (CoW delete)

    # redelivery: replay the final batch from the stale offset — the
    # mirror's logical state must not move
    def state():
        return {
            (r.o_orderkey, r.o_orderstatus, float(r.o_totalprice))
            for r in dst.read().select(*cols).collect()
        }

    before = state()
    apply_batch(3, 3)
    assert state() == before, "stale-offset replay changed the mirror"

    # the mirror must equal the source's final snapshot
    mirrored = dst.read().select(*cols)
    direct = reader.read().select(*cols)
    # symmetric-difference emptiness in ONE action (two exceptAll takes
    # would each escalate through several scan jobs)
    assert (
        mirrored.exceptAll(direct)
        .unionAll(direct.exceptAll(mirrored))
        .take(1)
        == []
    ), "mirror diverged from the source snapshot"
    return mirrored.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias(
            "total"
        ),
    )


# ---------------------------------------------------------------------------
# Video container metadata (ISO BMFF box walk, sibling of the image and
# WAV/FLAC header decoders): moov/mvhd timescale + duration (both mvhd
# versions) and the trak stream count, parsed codec-free in one Arrow
# scan; fixture parameters are a closed-form function of doc_id so the
# oracle never touches bytes. duration_s is one division rounded to 6
# decimals in both engines.
# ---------------------------------------------------------------------------
@query(
    "video_header_info",
    sql="""
    SELECT doc_id AS item_id,
           'mp4' AS format,
           CAST([600, 1000, 24000, 30000, 90000][(doc_id % 5) + 1] AS INT)
               AS timescale,
           CAST(1000 + (doc_id % 7) * 12345 AS BIGINT) AS duration,
           CAST(1 + doc_id % 3 AS INT) AS n_tracks,
           ROUND((1000 + (doc_id % 7) * 12345)
                 / CAST([600, 1000, 24000, 30000, 90000][(doc_id % 5) + 1]
                        AS DOUBLE), 6) AS duration_s
    FROM documents
    """,
    doc="MP4/ISO-BMFF header decode without codecs: box walk to "
    "moov/mvhd (32- and 64-bit time variants by doc parity) for "
    "timescale/duration plus trak counting, one Arrow-batched scan, "
    "NULLs never exceptions on malformed payloads (malformed-input "
    "tests in tests/test_multimodal.py).",
)
def video_header_info_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.multimodal import (
        synth_video_payload,
        video_header_features,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    scales = [600, 1000, 24000, 30000, 90000]

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "item_id": ids,
                    "payload": [
                        synth_video_payload(
                            scales[int(i) % 5],
                            1000 + (int(i) % 7) * 12345,
                            1 + int(i) % 3,
                            mvhd_version=int(i) % 2,
                        )
                        for i in ids
                    ],
                }
            )

    payloads = docs.mapInPandas(build, "item_id long, payload binary")
    out = video_header_features(payloads)
    return out.withColumn(
        "duration_s",
        F.round(F.col("duration") / F.col("timescale").cast("double"), 6),
    )


# ---------------------------------------------------------------------------
# Delta CHECK constraints at the lakehouse boundary (PROTOCOL.md
# delta.constraints.*, writer version 3): the export carries its quality
# contract in the table metadata, and every later append/merge validates
# INCOMING rows in one aggregation — TRUE-or-NULL passes (SQL CHECK
# semantics, proven with a NULL-status batch), any FALSE refuses before
# a byte lands. The violating-batch attempts are part of the query; the
# oracle aggregates the state only valid batches could have produced.
# ---------------------------------------------------------------------------
@query(
    "delta_export_check_constraints",
    sql="""
    WITH rows_ AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey <= 900
    )
    SELECT COALESCE(o_orderstatus, '?') AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM rows_ GROUP BY 1
    """,
    doc="CHECK constraints on exported Delta tables: constraint "
    "expressions ride the metaData configuration (writer version 3); "
    "appends/merges validate incoming rows in ONE aggregation and "
    "refuse wholesale on any FALSE row; NULL evaluations pass (SQL "
    "CHECK), proven with a null-status batch; violating append and "
    "merge attempts refuse in-query without moving the version.",
)
def delta_export_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        DeltaExportError,
        export_delta,
        export_delta_append,
        export_delta_merge,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None)).otherwise(
            F.col("o_orderstatus")
        ).alias("o_orderstatus"),
        "o_totalprice",
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "exp_chk_") + "/table"
    cons = {
        "price_positive": "o_totalprice > 0",
        "status_known": "o_orderstatus in ('O', 'F', 'P')",  # NULL passes
    }
    export_delta(base.where(k <= 600), dest, cdf=False, constraints=cons)
    export_delta_append(base.where((k > 600) & (k <= 900)), dest)

    # violating APPEND: negative prices must refuse without committing
    reader = DeltaLogReader(spark, dest)
    v_before = max(reader.versions())
    bad = base.where(k <= 50).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    try:
        export_delta_append(bad, dest)
        raise AssertionError("violating append must refuse")
    except DeltaExportError as e:
        assert "price_positive" in str(e)
    # violating MERGE: unknown status must refuse
    # a data-dependent when() keeps the column NULLABLE (a bare lit
    # constant-folds to non-nullable) so the batch fails the CONSTRAINT
    # check, not the schema check
    bad2 = base.where(k <= 50).withColumn(
        "o_orderstatus", F.when(k >= 0, F.lit("Z"))
    )
    try:
        export_delta_merge(spark, bad2, dest, keys=["o_orderkey"])
        raise AssertionError("violating merge must refuse")
    except DeltaExportError as e:
        assert "status_known" in str(e)
    assert max(reader.versions()) == v_before, "refused writes moved the log"

    return (
        reader.read()
        .groupBy(F.coalesce(F.col("o_orderstatus"), F.lit("?")).alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Custom Python Data Source (Spark 4 pyspark.sql.datasource API): the
# batch-results JSONL layout as a first-class format with one
# InputPartition per shard file and pushFilters() pruning whole files
# on shard predicates (sources/pysource.py). The fixture derives rows
# from orders with engine-portable hashing so the oracle recomputes the
# identical shard assignment in SQL; pushdown is asserted both at the
# planner surface (reader partitions shrink) and end-to-end through
# spark.sql.python.filterPushdown.enabled.
# ---------------------------------------------------------------------------
@query(
    "pysource_batch_results",
    sql="""
    WITH src AS (
        SELECT 'o-' || CAST(o_orderkey AS VARCHAR) AS custom_id,
               CASE WHEN o_orderkey % 7 = 0 THEN 'error' ELSE 'ok' END AS status,
               o_orderkey % 1000 AS n_tokens
        FROM orders WHERE o_orderkey < 800
    )
    SELECT (('0x' || substr(md5(custom_id), 1, 8))::BIGINT % 4) AS shard,
           status, COUNT(*) AS n,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM src GROUP BY 1, 2
    """,
    doc="Spark 4 Python Data Source: batch-results JSONL as a native "
    "format - per-shard-file InputPartitions (executor-local parsing), "
    "pushFilters() file skipping on shard predicates, registered via "
    "spark.dataSource.register. Oracle recomputes the md5 shard "
    "assignment in SQL.",
)
def pysource_batch_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.datasource import EqualTo

    from data_etl_pipeline_spark.sources import pysource

    rows = [
        (
            f"o-{r.o_orderkey}",
            "error" if r.o_orderkey % 7 == 0 else "ok",
            int(r.o_orderkey % 1000),
            f"resp-{r.o_orderkey}",
        )
        for r in load(spark, sf_dir, "orders")
        .where("o_orderkey < 800")
        .select("o_orderkey")
        .collect()  # bounded: < 800 ids by construction
    ]
    d = scratch_dir(spark, "pysrc_results_")
    pysource.write_result_fixture(rows, d, n_shards=4)

    # planner-surface proof: a pushed shard equality prunes to ONE file
    probe = pysource.BatchResultsReader({"path": d})
    leftover = list(probe.pushFilters([EqualTo(("shard",), 2)]))
    assert leftover == [] and [p.shard for p in probe.partitions()] == [2]

    pysource.register(spark)

    def fresh() -> DataFrame:
        # one relation per use: pushdown mutates the relation's reader at
        # planning time, so a filtered probe must not share its relation
        # with the full-scan aggregate
        return spark.read.format("batch_results").option("path", d).load()

    with conf_scope(spark, _PUSHDOWN):
        # end-to-end: the same pruning runs inside Spark's planner, and
        # the full read agrees with the fixture row count
        assert fresh().where("shard = 2").count() == sum(
            1
            for cid, *_ in rows
            if int(__import__("hashlib").md5(cid.encode()).hexdigest()[:8], 16) % 4
            == 2
        )
    return _batch_results_summary(spark, d)


# Spark 4.1 REFUSES to plan a Python source that implements pushFilters()
# unless this conf is on (it defaults to false and the caller's session
# may not set it: the repo factory does, a vanilla session does not).
# Every action on such a source runs inside conf_scope(spark, _PUSHDOWN).
_PUSHDOWN = {"spark.sql.python.filterPushdown.enabled": "true"}


def _batch_results_summary(spark: SparkSession, path: str) -> DataFrame:
    """Per-(shard, status) row and token counts of a ``batch_results``
    table, materialized inside the pushdown scope and returned as a local
    frame (bounded: 4 shards x 2 statuses)."""
    with conf_scope(spark, _PUSHDOWN):
        agg = (
            spark.read.format("batch_results").option("path", path).load()
            .groupBy("shard", "status")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            )
        )
        out = agg.collect()
    return local_frame(spark, out, agg.schema)


# ---------------------------------------------------------------------------
# Single-pass observed metrics (df.observe): data-quality counters ride
# the SAME job as the business aggregate — zero extra scans, which at
# 100 TB is the difference between "audited" and "audited at double
# cost". The in-query assert recomputes the counters with a second
# (test-only) pass and cross-checks the Observation values Spark
# collected as accumulator-style metrics during the one action.
# ---------------------------------------------------------------------------
@query(
    "observed_quality_metrics",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
    doc="df.observe() quality counters (row count, high-value count, "
    "null-key count) collected during the SAME action as the status "
    "rollup - no second scan; Observation values cross-checked in-query "
    "against an independent recomputation.",
)
def observed_quality_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    orders = load(spark, sf_dir, "orders")
    obs = Observation("order_quality")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("o_totalprice") > 100000).cast("long")).alias("n_high_value"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("n_null_cust"),
    )
    agg = observed.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total"),
    )
    local = agg.collect()  # ONE action: rollup computed, metrics observed
    m = obs.get
    want_rows = sum(r.n for r in local)
    want_high = orders.where("o_totalprice > 100000").count()  # audit-only pass
    assert m["n_rows"] == want_rows, (m, want_rows)
    assert m["n_high_value"] == want_high, (m, want_high)
    assert m["n_null_cust"] == 0, m
    return agg


# ---------------------------------------------------------------------------
# STREAMING over the custom Python data source (Spark 4
# SimpleDataSourceStreamReader): result files LAND over time and each
# micro-batch reads exactly the files new since the committed offset —
# the queue-poll shape (SURVEY S6) through the official source API
# instead of a file-source workaround. Files arrive in two waves with a
# processAllAvailable barrier between them, and the epoch layout must
# prove the second wave rode a LATER micro-batch (offset tracking, not
# one big read). Oracle recomputes the final table from orders.
# ---------------------------------------------------------------------------
@query(
    "stream_pysource_ingest",
    sql="""
    WITH src AS (
        SELECT 'o-' || CAST(o_orderkey AS VARCHAR) AS custom_id,
               CASE WHEN o_orderkey % 7 = 0 THEN 'error' ELSE 'ok' END AS status,
               o_orderkey % 1000 AS n_tokens
        FROM orders WHERE o_orderkey < 800
    )
    SELECT (('0x' || substr(md5(custom_id), 1, 8))::BIGINT % 4) AS shard,
           status, COUNT(*) AS n,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM src GROUP BY 1, 2
    """,
    doc="Streaming ingest through the Spark 4 Python data source's "
    "SimpleDataSourceStreamReader: per-micro-batch offsets over landed "
    "shard files (two arrival waves, later wave proven to ride a later "
    "epoch), foreachBatch parquet sink, final state oracle-checked "
    "against orders.",
)
def stream_pysource_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os
    import shutil

    from data_etl_pipeline_spark.sources import pysource

    rows = [
        (
            f"o-{r.o_orderkey}",
            "error" if r.o_orderkey % 7 == 0 else "ok",
            int(r.o_orderkey % 1000),
            f"resp-{r.o_orderkey}",
        )
        for r in load(spark, sf_dir, "orders")
        .where("o_orderkey < 800")
        .select("o_orderkey")
        .collect()  # bounded: < 800 ids by construction
    ]
    staging = scratch_dir(spark, "pysrc_staging_")
    pysource.write_result_fixture(rows, staging, n_shards=4)
    live = scratch_dir(spark, "pysrc_live_")
    sink = scratch_dir(spark, "pysrc_sink_")

    def land(shards):
        for s in shards:
            shutil.copy(
                _os.path.join(staging, f"part-{s}.jsonl"),
                _os.path.join(live, f"part-{s}.jsonl"),
            )

    pysource.register(spark)
    land([0, 1])
    stream = spark.readStream.format("batch_results").option("path", live).load()

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.take(1):
            batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    q = stream.writeStream.outputMode("append").foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
        land([2, 3])  # second wave: must ride a LATER micro-batch
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    epochs = sorted(r.epoch for r in got.select("epoch").distinct().collect())
    assert len(epochs) >= 2, f"second wave did not ride a later epoch: {epochs}"
    first_shards = {
        r.shard for r in got.where(F.col("epoch") == epochs[0]).select("shard").distinct().collect()
    }
    assert first_shards <= {0, 1}, first_shards
    return got.groupBy("shard", "status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# V2 checkpoint WRITER roundtrip (PROTOCOL.md "V2 Checkpoint Spec") —
# the writer-side twin of delta_interop_v2_checkpoint_read: protocol
# upgrade commit (readerFeatures [v2Checkpoint] — readers must be told
# before a V2 checkpoint may exist), UUID manifest with sidecar
# actions, adds range-split across _sidecars/ parquet files, log
# TRIMMED so the subsequent read can only come from the manifest. The
# layout exists for 100 TB state: sidecars load as a plain multi-file
# parquet scan and an incremental checkpointer rewrites only changed
# parts. Deterministic UUID (md5 of dest@version) => reproducible runs.
# ---------------------------------------------------------------------------
@query(
    "delta_export_v2_checkpoint_roundtrip",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1200
    GROUP BY 1
    """,
    doc="V2 UUID checkpoint writer: protocol-upgrade commit, JSON "
    "manifest + 2 parquet sidecars under _sidecars/, log trimmed - the "
    "snapshot read back through DeltaLogReader can only replay from the "
    "manifest; layout and sidecar split asserted in-query.",
)
def delta_export_v2_checkpoint_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from data_etl_pipeline_spark.sources.delta_export import (
        checkpoint_export_v2,
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "v2cp_write_") + "/table"
    export_delta(base.where(k < 500).repartition(3), dest)
    export_delta_append(base.where((k >= 500) & (k < 900)).repartition(2), dest)
    export_delta_append(base.where((k >= 900) & (k < 1200)).repartition(2), dest)
    cp_v = checkpoint_export_v2(spark, dest, n_sidecars=2, trim=True)
    assert cp_v == 3  # upgrade commit follows the three data commits

    log_dir = _os.path.join(dest, "_delta_log")
    names = sorted(_os.listdir(log_dir))
    # plain commit files are exactly %020d.json (25 chars); the manifest
    # also ends .json but carries the .checkpoint.<uuid> infix
    assert not any(
        len(n) == 25 and n.endswith(".json") and n[:20].isdigit() for n in names
    ), names
    manifest = [n for n in names if ".checkpoint." in n and n.endswith(".json")]
    assert len(manifest) == 1 and manifest[0].startswith(f"{cp_v:020d}."), names
    sidecars = sorted(_os.listdir(_os.path.join(log_dir, "_sidecars")))
    assert len(sidecars) == 2, sidecars

    reader = DeltaLogReader(spark, dest)
    assert len(reader.live_files()) == 7  # 3 + 2 + 2 files, all live
    got = reader.read()
    return _status_totals(got)


# ---------------------------------------------------------------------------
# INCREMENTAL V2 checkpoint: advancing the checkpoint after an append
# rewrites ONLY the changed sidecars — unchanged ones are carried into
# the new manifest by reference. At 100 TB a checkpoint is millions of
# add rows; re-serializing all of them per checkpoint is O(table),
# while this is O(changed ranges). Reuse is asserted file-for-file
# in-query (the new manifest names the OLD sidecar parquet files), and
# the reader replays from the new manifest with commits still present,
# proving the two checkpoints coexist and the newest wins.
# ---------------------------------------------------------------------------
@query(
    "delta_export_v2_checkpoint_incremental",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1200
    GROUP BY 1
    """,
    doc="Incremental V2 checkpointer: append after a 2-sidecar v2 "
    "checkpoint, advance the checkpoint, and the new manifest reuses "
    "BOTH old sidecar files by reference plus one fresh sidecar for the "
    "appended files (asserted name-for-name); snapshot read back "
    "through DeltaLogReader from the newest manifest, oracle-checked.",
    round_added=8,
)
def delta_export_v2_checkpoint_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from data_etl_pipeline_spark.sources.delta_export import (
        checkpoint_export_v2,
        checkpoint_export_v2_incremental,
        export_delta,
        export_delta_append,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "v2cp_incr_") + "/table"
    export_delta(base.where(k < 500).repartition(3), dest)
    export_delta_append(base.where((k >= 500) & (k < 900)).repartition(2), dest)
    cp1 = checkpoint_export_v2(spark, dest, n_sidecars=2)  # upgrade commit = v2
    assert cp1 == 2
    side_dir = _os.path.join(dest, "_delta_log", "_sidecars")
    old_sidecars = sorted(_os.listdir(side_dir))
    assert len(old_sidecars) == 2, old_sidecars

    # append AFTER the checkpoint (the untrimmed text log still replays)
    export_delta_append(base.where((k >= 900) & (k < 1200)).repartition(2), dest)

    inc = checkpoint_export_v2_incremental(spark, dest)
    assert inc["version"] == 3, inc
    # the at-scale contract: BOTH previous sidecars carried by reference,
    # exactly one fresh sidecar holding the appended files
    assert sorted(inc["reused"]) == old_sidecars, inc
    assert inc["rewritten"] == 1 and len(inc["sidecars"]) == 3, inc

    reader = DeltaLogReader(spark, dest)
    assert len(reader.live_files()) == 7  # 3 + 2 + 2, all live
    got = reader.read()
    return _status_totals(got)


# ---------------------------------------------------------------------------
# Delta SCHEMA EVOLUTION (add nullable column): a metaData-only commit
# appends the field (latest metaData wins at replay, PROTOCOL.md);
# pre-evolution data files lack the column and surface NULL because the
# scan schema comes from table metadata, not file footers — no rewrite
# of a single existing byte, which is why add-nullable is THE safe
# evolution at 100 TB. Appends after evolution must carry the new
# schema; the old schema refuses (asserted).
# ---------------------------------------------------------------------------
@query(
    "delta_export_schema_evolution",
    sql="""
    SELECT o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN o_orderkey >= 600 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(SUM(CASE WHEN o_orderkey >= 600
                         THEN CAST(o_orderkey % 5 AS BIGINT) END) AS BIGINT)
               AS flag_sum
    FROM orders WHERE o_orderkey < 1000
    GROUP BY 1
    """,
    doc="Add-nullable-column schema evolution via a metaData-only "
    "commit: pre-evolution files surface NULL (no data rewritten), "
    "post-evolution appends populate the column, old-schema appends "
    "refuse; merged snapshot oracle-checked.",
)
def delta_export_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.delta_export import (
        DeltaExportError,
        export_delta,
        export_delta_append,
        export_delta_evolve_add_column,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "evolve_") + "/table"
    export_delta(base.where(k < 600), dest)
    v = export_delta_evolve_add_column(spark, dest, "prio_flag", "bigint")
    assert v == 1
    # old-schema append must now refuse
    try:
        export_delta_append(base.where((k >= 600) & (k < 1000)), dest)
        raise AssertionError("old-schema append must refuse after evolution")
    except DeltaExportError:
        pass
    evolved = base.where((k >= 600) & (k < 1000)).withColumn(
        "prio_flag", (k % 5).cast("bigint")
    )
    export_delta_append(evolved, dest)
    got = DeltaLogReader(spark, dest).read()
    # pre-evolution rows surface NULL for the new column
    assert got.where((k < 600) & F.col("prio_flag").isNotNull()).take(1) == []
    return got.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("prio_flag").isNotNull().cast("int")).cast("bigint").alias(
            "n_flagged"
        ),
        F.sum("prio_flag").cast("bigint").alias("flag_sum"),
    )


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark — bounded-state streaming dedup, all
# three semantics in one deterministic run (streaming/windows.py):
# within-state duplicates DROP, retries below the watermark are LATE
# DATA (never reach dedup), and a re-sent key with a fresh stamp after
# state expiry RE-EMITS exactly once — the trade exact dedup refuses in
# exchange for unbounded state. Oracle = first arrivals of everything
# plus the provably-expired day-1 re-emissions.
# ---------------------------------------------------------------------------
@query(
    "stream_dedup_within_watermark",
    sql="""
    WITH d1 AS (
        SELECT floor(epoch(MAX(ts)))::BIGINT AS mx FROM events
        WHERE CAST(ts AS DATE) = DATE '2024-01-01'
    )
    SELECT event_type,
           CAST(COUNT(*)
                + COUNT(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-01'
                              AND floor(epoch(ts))::BIGINT
                                  < (SELECT mx FROM d1) - 3600
                             THEN 1 END) AS BIGINT) AS n
    FROM events GROUP BY 1
    """,
    doc="Bounded-state streaming dedup (dropDuplicatesWithinWatermark): "
    "three-batch fixture proving within-state drop, late-data filtering "
    "of original-stamp retries, and exactly-once re-emission of "
    "fresh-stamp retries after watermark expiry; state bounded by the "
    "watermark horizon.",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import (
        run_stream_dedup_within_watermark,
    )

    return run_stream_dedup_within_watermark(spark, sf_dir)


# ---------------------------------------------------------------------------
# PARTITIONED incremental V2 checkpoint: the Hive-partitioned twin of
# delta_export_v2_checkpoint_incremental. Every sidecar add row now
# carries NON-EMPTY partitionValues, which pyarrow round-trips as a
# list of (k, v) tuples rather than a dict — the shape the incremental
# checkpointer's add_key normalizes (sources/delta_export.py:1625).
# A partition-local CoW delete after the first checkpoint dirties only
# the sidecar(s) owning o_orderstatus=P files (sorted Hive paths
# cluster by directory), so the advance proves the full reuse/rewrite/
# fresh mix on a partitioned table: at 100 TB this is the everyday
# shape — checkpoint state is dominated by one hot partition's churn
# while every cold partition's sidecar is carried by reference.
# ---------------------------------------------------------------------------
@query(
    "delta_export_v2_checkpoint_partitioned",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 1200
      AND NOT (o_orderstatus = 'P' AND o_orderkey < 300)
    GROUP BY 1
    """,
    doc="Incremental V2 checkpoint over a Hive-partitioned table: "
    "sidecar add rows carry non-empty partitionValues (pyarrow MAP "
    "round-trip shape asserted), a partition-local CoW delete dirties "
    "only the P-owning sidecar, and the advance reuses the clean "
    "sidecar by reference while rewriting the dirty one; snapshot read "
    "back through DeltaLogReader with partition values re-attached, "
    "oracle-checked.",
    round_added=9,
)
def delta_export_v2_checkpoint_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    import pyarrow.parquet as pq

    from data_etl_pipeline_spark.sources.delta_export import (
        checkpoint_export_v2,
        checkpoint_export_v2_incremental,
        export_delta,
        export_delta_append,
        export_delta_delete,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    dest = scratch_dir(spark, "v2cp_part_") + "/table"
    export_delta(
        base.where(k < 500).repartition(2), dest, partition_by=["o_orderstatus"]
    )
    export_delta_append(base.where((k >= 500) & (k < 900)).repartition(2), dest)
    cp1 = checkpoint_export_v2(spark, dest, n_sidecars=2)
    assert cp1 == 2  # upgrade commit follows the two data commits
    side_dir = _os.path.join(dest, "_delta_log", "_sidecars")
    old_sidecars = sorted(_os.listdir(side_dir))
    assert len(old_sidecars) == 2, old_sidecars
    # the MAP column comes back from pyarrow as [(k, v)] tuples, NOT a
    # dict — assert the partitioned shape is actually present in EVERY
    # sidecar (incl. the P-owning one the incremental advance rewrites)
    # so the advance below exercises the normalization path
    for sc in old_sidecars:
        rows = pq.read_table(_os.path.join(side_dir, sc)).to_pylist()
        assert rows and all(
            dict(r["add"]["partitionValues"]).get("o_orderstatus") for r in rows
        ), (sc, rows[:2])

    # partition-local CoW delete AFTER the checkpoint: only files under
    # o_orderstatus=P/ can be rewritten, so the F/O-owning sidecar stays
    # byte-for-byte clean and must be carried by reference
    export_delta_delete(spark, dest, "o_orderstatus = 'P' AND o_orderkey < 300")
    export_delta_append(base.where((k >= 900) & (k < 1200)).repartition(2), dest)

    inc = checkpoint_export_v2_incremental(spark, dest)
    assert inc["version"] == 4, inc  # 0,1 data; 2 upgrade; 3 delete; 4 append
    assert inc["reused"], inc  # >=1 cold sidecar carried by reference
    assert inc["rewritten"] >= 1, inc  # the hot (P-owning) sidecar re-split

    reader = DeltaLogReader(spark, dest)
    got = reader.read()
    return _status_totals(got)


# ---------------------------------------------------------------------------
# Merkle-style table reconciliation: verify a 100 TB replica against its
# source WITHOUT comparing every row across the wire. Phase 1 reduces
# each side to one (count, bit_xor, bounded-sum) checksum row per hash
# bucket — a full scan but a 64-row shuffle per side — and only buckets
# whose checksums disagree are drilled in phase 2, where a keyed
# full-outer join over JUST those buckets classifies every divergence as
# changed / deleted / inserted. The fixture drifts the replica
# deterministically (md5-keyed priority rewrites, deletes, inserts) so
# both engines build identical sides; the in-query assert proves the
# checksum pass actually pruned (some buckets clean, some dirty). At
# scale the bucket id would be a stored column/partition key so the
# phase-2 rescan prunes at the file level; the checksum trio is
# order-independent (xor + count + sum of 30-bit residues), so partial
# aggregation needs no sort and the sum stays far from int64 overflow
# below ~2^33 rows per bucket.
# ---------------------------------------------------------------------------
_TDIFF_H = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"
_TDIFF_ROW = (
    "concat_ws('|', CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR), "
    "o_orderstatus, o_orderpriority)"
)


@query(
    "table_diff_bucket_checksums",
    bench_tier=2,
    sql=f"""
    WITH src AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
             {_TDIFF_H.format(x="CAST(o_orderkey AS VARCHAR)")} AS kh
      FROM orders WHERE o_orderkey < 3000),
    lrows AS (
      SELECT o_orderkey, kh % 64 AS bucket,
             {_TDIFF_H.format(x=_TDIFF_ROW)} AS rh
      FROM src),
    rsrc AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN kh % 97 = 0 THEN '9-DRIFT' ELSE o_orderpriority END
                 AS o_orderpriority
      FROM src WHERE kh % 131 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, '0-NEW'
      FROM src WHERE kh % 151 = 0),
    rrows AS (
      SELECT o_orderkey,
             {_TDIFF_H.format(x="CAST(o_orderkey AS VARCHAR)")} % 64 AS bucket,
             {_TDIFF_H.format(x=_TDIFF_ROW)} AS rh
      FROM rsrc),
    lsum AS (SELECT bucket, COUNT(*) AS n, bit_xor(rh) AS x,
                    SUM(rh % 1000000007) AS s
             FROM lrows GROUP BY 1),
    rsum AS (SELECT bucket, COUNT(*) AS n, bit_xor(rh) AS x,
                    SUM(rh % 1000000007) AS s
             FROM rrows GROUP BY 1),
    diffb AS (
      SELECT COALESCE(l.bucket, r.bucket) AS bucket
      FROM lsum l FULL JOIN rsum r ON l.bucket = r.bucket
      WHERE l.n IS DISTINCT FROM r.n OR l.x IS DISTINCT FROM r.x
         OR l.s IS DISTINCT FROM r.s)
    SELECT COALESCE(l.bucket, r.bucket) AS bucket,
           COALESCE(l.o_orderkey, r.o_orderkey) AS o_orderkey,
           CASE WHEN r.o_orderkey IS NULL THEN 'deleted'
                WHEN l.o_orderkey IS NULL THEN 'inserted'
                ELSE 'changed' END AS change
    FROM lrows l FULL JOIN rrows r ON l.o_orderkey = r.o_orderkey
    WHERE COALESCE(l.bucket, r.bucket) IN (SELECT bucket FROM diffb)
      AND (l.o_orderkey IS NULL OR r.o_orderkey IS NULL OR l.rh <> r.rh)
    """,
    doc="Two-phase Merkle-style table diff: per-bucket (count, bit_xor, "
    "bounded-sum) checksums locate divergent buckets in one 64-row "
    "shuffle per side, then a keyed full-outer join over ONLY those "
    "buckets classifies changed/deleted/inserted rows; checksum pruning "
    "asserted in-query (clean buckets exist and are skipped).",
    round_added=9,
)
def table_diff_bucket_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    kh = "cast(conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 15), 16, 10) as bigint)"
    row = (
        "concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING), "
        "o_orderstatus, o_orderpriority)"
    )
    rh = f"cast(conv(substr(md5({row}), 1, 15), 16, 10) as bigint)"

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderpriority",
            F.expr(kh).alias("kh"),
        )
    )
    left = src.select(
        "o_orderkey",
        (F.col("kh") % 64).alias("bucket"),
        F.expr(rh).alias("rh"),
    )
    # deterministic replica drift, identical in the oracle: priority
    # rewrites on kh%97, deletes on kh%131, inserts on kh%151
    drifted = src.where(F.col("kh") % 131 != 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.when(F.col("kh") % 97 == 0, F.lit("9-DRIFT"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
    )
    inserted = src.where(F.col("kh") % 151 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        F.lit("0-NEW").alias("o_orderpriority"),
    )
    right = (
        drifted.unionByName(inserted)
        .select(
            "o_orderkey",
            (F.expr(kh) % 64).alias("bucket"),
            F.expr(rh).alias("rh"),
        )
    )

    def checksums(df: DataFrame) -> DataFrame:
        return df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(rh)").alias("x"),
            F.sum(F.col("rh") % 1000000007).alias("s"),
        )

    lsum, rsum = checksums(left), checksums(right)
    diffb = (
        lsum.alias("l")
        .join(rsum.alias("r"), F.col("l.bucket") == F.col("r.bucket"), "full_outer")
        .where(
            ~F.col("l.n").eqNullSafe(F.col("r.n"))
            | ~F.col("l.x").eqNullSafe(F.col("r.x"))
            | ~F.col("l.s").eqNullSafe(F.col("r.s"))
        )
        .select(F.coalesce(F.col("l.bucket"), F.col("r.bucket")).alias("bucket"))
    )
    dirty = sorted(r["bucket"] for r in diffb.collect())  # bounded: <= 64 rows
    # the whole point: SOME buckets diverge, MOST verify clean and are
    # never drilled — phase 2 touches a strict subset of the key space
    assert 0 < len(dirty) < 64, dirty

    # SHUFFLE_HASH: a full-outer equi-join cannot broadcast, and sort-merge
    # pays two full sorts purely to stream the merge; the per-partition
    # drill sides here are bounded by the dirty-bucket subset, so building
    # a hash table per partition is strictly cheaper than sorting both
    # sides (guide §3.1 "often faster than sort-merge when one side is
    # moderately small per partition"). Plan: SortMergeJoin+2×Sort ->
    # ShuffledHashJoin, exchanges unchanged.
    l2 = left.where(F.col("bucket").isin(dirty)).hint("shuffle_hash").alias("l")
    r2 = right.where(F.col("bucket").isin(dirty)).alias("r")
    return (
        l2.join(r2, F.col("l.o_orderkey") == F.col("r.o_orderkey"), "full_outer")
        .where(
            F.col("l.o_orderkey").isNull()
            | F.col("r.o_orderkey").isNull()
            | (F.col("l.rh") != F.col("r.rh"))
        )
        .select(
            F.coalesce(F.col("l.bucket"), F.col("r.bucket")).alias("bucket"),
            F.coalesce(F.col("l.o_orderkey"), F.col("r.o_orderkey")).alias(
                "o_orderkey"
            ),
            F.when(F.col("r.o_orderkey").isNull(), F.lit("deleted"))
            .when(F.col("l.o_orderkey").isNull(), F.lit("inserted"))
            .otherwise(F.lit("changed"))
            .alias("change"),
        )
    )


# ---------------------------------------------------------------------------
# Iceberg interop (round 11): the second lakehouse format beside the
# Delta export/reader pair. All manifest traffic rides the from-spec
# pure-Python Avro OCF codec (sources/avro_ocf.py) because this
# container has no Avro runtime; sources/iceberg.py documents the
# protocol surface. Reference parity: extends the engine's publication
# surface (SURVEY §2.11 E63+ Delta family) to Iceberg v2.
# ---------------------------------------------------------------------------
@query(
    "iceberg_export_roundtrip",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1200
    GROUP BY 1
    """,
    doc="Engine snapshot -> Iceberg v2 table (metadata.json + Avro "
    "manifest list + Avro manifest + parquet data, via the from-spec "
    "OCF codec) -> independent protocol replay; two append snapshots, "
    "the second carrying the first's manifest forward by reference. "
    "Oracle recomputes from raw orders.",
    round_added=11,
)
def iceberg_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    dest = scratch_dir(spark, "ice_rt_") + "/table"
    export_iceberg(src.where(F.col("o_orderkey") < 700), dest, n_files=2, range_by="o_orderkey")
    append_iceberg(src.where(F.col("o_orderkey") >= 700), dest, n_files=2, range_by="o_orderkey")

    back = IcebergTable(spark, dest).read()
    return _status_totals(back)


@query(
    "iceberg_time_travel",
    sql="""
    SELECT 1 AS snapshot_id, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 600
    UNION ALL
    SELECT 2 AS snapshot_id, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1100
    """,
    doc="Iceberg snapshot time travel: read the table AS OF snapshot 1 "
    "and at the current snapshot 2 through the snapshot log + per-"
    "snapshot manifest lists; one result row per snapshot. Oracle "
    "recomputes both states from raw orders.",
    round_added=11,
)
def iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1100)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_tt_") + "/table"
    s1 = export_iceberg(src.where(F.col("o_orderkey") < 600), dest, n_files=2, range_by="o_orderkey")
    s2 = append_iceberg(src.where(F.col("o_orderkey") >= 600), dest, n_files=2, range_by="o_orderkey")

    t = IcebergTable(spark, dest)
    # the snapshot listing itself must agree with what we committed
    snaps = sorted(r["snapshot_id"] for r in t.snapshots().collect())
    assert snaps == [s1, s2], snaps

    def agg(df: DataFrame, sid: int) -> DataFrame:
        return df.groupBy(F.lit(sid).alias("snapshot_id")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )

    return agg(t.read(snapshot_id=s1), s1).unionByName(agg(t.read(snapshot_id=s2), s2))


@query(
    "iceberg_stats_skipping",
    sql="""
    SELECT l_returnflag AS flag, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_orderkey < 1300 AND l_orderkey BETWEEN 200 AND 450
    GROUP BY 1
    """,
    doc="Iceberg manifest-stats file pruning: the export range-partitions "
    "on l_orderkey so data files carry disjoint bounds; the planner "
    "selects only files whose stats box intersects the predicate "
    "(in-query assert: a strict subset) and the scan reads just those. "
    "Oracle filters raw lineitem.",
    round_added=11,
)
def iceberg_stats_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import IcebergTable, export_iceberg

    src = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 1300)
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
    )
    dest = scratch_dir(spark, "ice_skip_") + "/table"
    export_iceberg(src, dest, n_files=8, range_by="l_orderkey")

    t = IcebergTable(spark, dest)
    lo, hi = 200, 450
    selected, total = t.plan_files("l_orderkey", lo, hi)
    # the point of the layout: the bounds actually prune — a strict
    # subset of files is scanned, and at least one file survives
    assert 0 < len(selected) < total, (len(selected), total)

    return (
        t.read(files=selected)
        .where(F.col("l_orderkey").between(lo, hi))
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Iceberg interop, round 12: position deletes (merge-on-read, the Delta
# DV twin), snapshot-diff incremental tailing (the Delta E92 twin), and
# the truncate[W] partition transform with source-range pruning.
# ---------------------------------------------------------------------------
@query(
    "iceberg_positional_delete_read",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 1200
      AND NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
    GROUP BY 1
    """,
    doc="Iceberg v2 position deletes, merge-on-read: delete_rows_iceberg "
    "writes a (file_path, pos) delete parquet + delete manifest (content"
    "=1) without rewriting data files; the reader masks them with ONE "
    "combined anti-join on the canonical (decoded path, row position) "
    "key — the Delta deletion-vector shape (E68/E82) on the second "
    "format. In-query asserts: the delete file is listed, and time "
    "travel to the pre-delete snapshot still sees every row. Oracle "
    "recomputes from raw orders with the delete predicate negated.",
    round_added=12,
)
def iceberg_positional_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        delete_rows_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_del_") + "/table"
    s1 = export_iceberg(src, dest, n_files=4, range_by="o_orderkey")
    s2 = delete_rows_iceberg(
        spark, dest, "o_orderstatus = 'F' AND o_orderkey % 7 = 0"
    )

    t = IcebergTable(spark, dest)
    # the delete snapshot lists its position-delete file; the pre-delete
    # snapshot is untouched (deletes live in snapshot 2's manifest list)
    assert len(t.delete_files(s2)) == 1 and t.delete_files(s1) == []

    return _status_totals(t.read())


@query(
    "iceberg_incremental_tail",
    sql="""
    SELECT 2 AS commit_snapshot, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey >= 400 AND o_orderkey < 800
    UNION ALL
    SELECT 3 AS commit_snapshot, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey >= 800 AND o_orderkey < 1200
    """,
    doc="Iceberg snapshot-diff incremental tail: appends carry prior "
    "manifests by reference, so the manifests a snapshot ADDED are "
    "exactly its new files; read_tail scans them ONCE for the whole "
    "range (broadcast path->snapshot tag join), tagging each row with "
    "its committing snapshot — the Delta E92 incremental contract on "
    "the second format. Oracle recomputes both increments from raw "
    "orders.",
    round_added=12,
)
def iceberg_incremental_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_tail_") + "/table"
    s1 = export_iceberg(src.where(F.col("o_orderkey") < 400), dest, n_files=2, range_by="o_orderkey")
    append_iceberg(
        src.where((F.col("o_orderkey") >= 400) & (F.col("o_orderkey") < 800)),
        dest, n_files=2, range_by="o_orderkey",
    )
    append_iceberg(src.where(F.col("o_orderkey") >= 800), dest, n_files=3, range_by="o_orderkey")

    t = IcebergTable(spark, dest)
    # the diff covers exactly the two appended snapshots, never snap 1
    assert sorted({sid for sid, _ in t.added_files(s1)}) == [2, 3]

    return (
        t.read_tail(s1)
        .groupBy(F.col("_commit_snapshot").cast("int").alias("commit_snapshot"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@query(
    "iceberg_truncate_partitioning",
    sql="""
    SELECT p_brand AS brand, COUNT(*) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS retail
    FROM part
    WHERE p_brand BETWEEN 'Brand#2' AND 'Brand#4z'
    GROUP BY 1
    """,
    doc="Iceberg truncate[7] partition transform: each data file holds "
    "one truncated p_brand bucket (typed tuple in the manifest, spec "
    "field p_brand_trunc); plan_files_by_source_range prunes on the "
    "SOURCE column through the transform (a string bucket v can hold s "
    "iff s[:W]=v, so it intersects [lo,hi] iff lo[:W]<=v<=hi[:W]) — "
    "asserted a strict subset — and the scan reads only surviving "
    "buckets. Oracle filters raw part.",
    round_added=12,
)
def iceberg_truncate_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import IcebergTable, export_iceberg

    src = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_retailprice")
    dest = scratch_dir(spark, "ice_trunc_") + "/table"
    export_iceberg(src, dest, partition_by="p_brand", transform="truncate[7]")

    t = IcebergTable(spark, dest)
    lo, hi = "Brand#2", "Brand#4z"
    selected, total = t.plan_files_by_source_range("p_brand", lo, hi)
    # the transform actually prunes: only buckets Brand#2..Brand#4 scan
    assert 0 < len(selected) < total, (len(selected), total)
    assert {f["partition"]["p_brand_trunc"] for f in selected} == {
        "Brand#2", "Brand#3", "Brand#4",
    }

    return (
        t.read(files=selected)
        .where(F.col("p_brand").between(lo, hi))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("p_retailprice").cast("decimal(18,2)")).cast("double").alias("retail"),
        )
    )


@query(
    "iceberg_year_partitioning",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 3000
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    doc="Iceberg time-transform partitioning: year(o_orderdate) buckets "
    "(int years from 1970, the spec definition) recorded as typed "
    "partition tuples; range pruning maps the predicate bounds through "
    "the transform (monotone, so t(lo) <= v <= t(hi)) — asserted a "
    "strict subset — and only surviving year buckets scan. Oracle "
    "filters raw orders.",
    round_added=12,
)
def iceberg_year_partitioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from data_etl_pipeline_spark.sources.iceberg import IcebergTable, export_iceberg

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    dest = scratch_dir(spark, "ice_year_") + "/table"
    export_iceberg(src, dest, partition_by="o_orderdate", transform="year")

    t = IcebergTable(spark, dest)
    lo, hi = datetime.date(1996, 1, 1), datetime.date(1997, 12, 31)
    selected, total = t.plan_files_by_source_range("o_orderdate", lo, hi)
    assert 0 < len(selected) < total, (len(selected), total)
    assert {f["partition"]["o_orderdate_year"] for f in selected} == {26, 27}

    return _status_totals(
        t.read(files=selected)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
    )


@query(
    "iceberg_bucket_pruned_lookup",
    sql="""
    SELECT o_orderkey, o_orderstatus AS status,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
    FROM orders
    WHERE o_orderkey IN (1, 7, 33, 42, 58)
    """,
    doc="Iceberg bucket[8] partition transform with the from-spec "
    "murmur3_x86_32 (seed 0, longs as 8-byte little-endian; spec "
    "appendix-B vectors unit-tested): a point-lookup IN-list prunes to "
    "at most |keys| of the 8 buckets via plan_files_by_source_values "
    "(asserted strict subset); range pruning on a bucketed column "
    "refuses, as hashing is not order-preserving. Oracle filters raw "
    "orders.",
    round_added=12,
)
def iceberg_bucket_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import IcebergTable, export_iceberg

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_bucket_") + "/table"
    export_iceberg(src, dest, partition_by="o_orderkey", transform="bucket[8]")

    t = IcebergTable(spark, dest)
    keys = [1, 7, 33, 42, 58]
    selected, total = t.plan_files_by_source_values("o_orderkey", keys)
    assert 0 < len(selected) <= len(keys) < total, (len(selected), total)

    return (
        t.read(files=selected)
        .where(F.col("o_orderkey").isin(keys))
        .select(
            "o_orderkey",
            F.col("o_orderstatus").alias("status"),
            F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("price"),
        )
    )


@query(
    "iceberg_compact_expire",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 1200
      AND NOT (o_orderstatus = 'O' AND o_orderkey % 9 = 4)
    GROUP BY 1
    """,
    doc="Iceberg lifecycle maintenance (the OPTIMIZE+VACUUM twin of the "
    "versioned table's and Delta's): compact_iceberg materializes the "
    "position-deleted content into one fresh file under a REPLACE "
    "snapshot carrying no prior manifest references, then "
    "expire_snapshots_iceberg physically reclaims every file reachable "
    "only from expired snapshots (asserted: all 4 data files + the "
    "delete file removed, read content invariant). Oracle recomputes "
    "the surviving content from raw orders.",
    round_added=12,
)
def iceberg_compact_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        compact_iceberg,
        delete_rows_iceberg,
        expire_snapshots_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_gc_") + "/table"
    export_iceberg(src, dest, n_files=4, range_by="o_orderkey")
    delete_rows_iceberg(spark, dest, "o_orderstatus = 'O' AND o_orderkey % 9 = 4")
    old_files = [
        f["path"] for f in IcebergTable(spark, dest).data_files()
    ] + [f["path"] for f in IcebergTable(spark, dest).delete_files()]
    compact_iceberg(spark, dest)
    res = expire_snapshots_iceberg(dest, keep_last=1)
    # 4 data files + 1 position-delete file physically reclaimed
    assert res["files_removed"] == 5 and res["expired_snapshots"] == [1, 2]
    assert all(not _os.path.exists(p) for p in old_files)

    return _status_totals(IcebergTable(spark, dest).read())


@query(
    "iceberg_equality_delete_upsert",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 1200
      AND (o_orderkey % 11 <> 3 OR o_orderkey < 600)
    GROUP BY 1
    """,
    doc="Iceberg v2 EQUALITY deletes as the upsert building block: "
    "delete_rows_iceberg(equality_by=[o_orderkey]) writes the distinct "
    "deleted keys (content=2, equality_ids recorded); rows re-appended "
    "AFTER the delete carry the very same keys and survive ONLY because "
    "the reader applies the spec's sequence rule (mask data files with "
    "seq strictly below the delete's) — without it the re-insert would "
    "vanish and the oracle hash would fail. Null-safe key equality, "
    "seq tags via broadcast. Oracle recomputes the surviving set from "
    "raw orders.",
    round_added=12,
)
def iceberg_equality_delete_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        delete_rows_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1200)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_eq_") + "/table"
    export_iceberg(src, dest, n_files=4, range_by="o_orderkey")
    delete_rows_iceberg(spark, dest, "o_orderkey % 11 = 3", equality_by=["o_orderkey"])
    # the upsert: re-insert a subset of the deleted keys AFTER the delete
    append_iceberg(
        src.where((F.col("o_orderkey") % 11 == 3) & (F.col("o_orderkey") < 600)),
        dest,
    )

    t = IcebergTable(spark, dest)
    dels = t.delete_files()
    assert len(dels) == 1 and dels[0]["content"] == 2
    assert dels[0]["equality_ids"] == [1]  # o_orderkey's field id

    return _status_totals(t.read())


@query(
    "iceberg_nested_roundtrip",
    sql="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 1500
    GROUP BY 1, 2
    """,
    doc="Iceberg nested-schema export (closes the r11 primitives-only "
    "refusal): struct/list/map columns carry spec-correct UNIQUE field "
    "ids (pre-order fresh-id assignment; element-id / key-id / value-id "
    "for collections, last-column-id = max id) through metadata.json; "
    "the replay reads nested values back intact and the aggregation "
    "consumes struct members. Top-level primitive bounds still prune; "
    "nested columns refuse as partition sources. Oracle recomputes from "
    "raw orders.",
    round_added=12,
)
def iceberg_nested_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import IcebergTable, export_iceberg

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1500)
        .select(
            "o_orderkey",
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_orderpriority").alias("priority"),
            ).alias("meta"),
            F.array("o_totalprice").alias("prices"),
            F.create_map(F.lit("price"), F.col("o_totalprice")).alias("kv"),
        )
    )
    dest = scratch_dir(spark, "ice_nested_") + "/table"
    export_iceberg(src, dest, n_files=3, range_by="o_orderkey")

    t = IcebergTable(spark, dest)
    # field ids are unique across the nested tree (spec requirement)
    import json as _json
    import os as _os

    meta = _json.load(
        open(_os.path.join(dest, "metadata", "v1.metadata.json"))
    )

    def _ids(node, out):
        if isinstance(node, dict):
            out += [node[k] for k in ("id", "element-id", "key-id", "value-id") if k in node]
            for k in ("fields", "type", "element", "key", "value"):
                if k in node:
                    _ids(node[k], out)
        elif isinstance(node, list):
            for v in node:
                _ids(v, out)

    ids: list = []
    _ids(meta["schemas"][0]["fields"], ids)
    assert len(ids) == len(set(ids)) and meta["last-column-id"] == max(ids)

    back = t.read()
    return (
        back.groupBy(
            F.col("meta.status").alias("status"),
            F.col("meta.priority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.element_at(F.col("kv"), "price").cast("decimal(18,2)")
            ).cast("double").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Iceberg partition-spec evolution (round 12 second wave): the re-layout
# lifecycle every long-lived table hits — start identity(status), later
# re-partition by year(ts) as it grows — committed metadata-only (no file
# moves; partitioning is manifest metadata). Files keep their ORIGINAL
# spec's partition tuples; the reader prunes each file through its OWN
# spec, so a predicate on either layout's source column prunes the files
# that spec covers and keeps the rest (never guesses).
# ---------------------------------------------------------------------------
@query(
    "iceberg_spec_evolution",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 3000
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
    doc="Iceberg partition spec evolution: identity(o_orderstatus) table "
    "evolved metadata-only to year(o_orderdate), appended under the new "
    "spec; per-file-spec pruning asserted (date range prunes only "
    "new-spec files to years 26/27 and keeps all old-spec files; a "
    "status point-lookup prunes only old-spec files), then one "
    "cross-spec scan of the surviving files. Oracle filters raw orders.",
    round_added=12,
)
def iceberg_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        evolve_partition_spec_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    dest = scratch_dir(spark, "ice_specevo_") + "/table"
    # parity split so both halves are non-empty at every scale factor
    export_iceberg(
        src.where(F.col("o_orderkey") % 2 == 0), dest, partition_by="o_orderstatus"
    )
    evolve_partition_spec_iceberg(dest, "o_orderdate", "year")
    append_iceberg(src.where(F.col("o_orderkey") % 2 == 1), dest)

    t = IcebergTable(spark, dest)
    n_old = len([f for f in t.data_files() if f["spec_id"] == 0])
    n_new = len([f for f in t.data_files() if f["spec_id"] == 1])
    assert n_old > 0 and n_new > 0

    # point prune on the OLD layout's source: old files prune, new all kept
    sel_s, total = t.plan_files_by_source_values("o_orderstatus", {"F"})
    assert len([f for f in sel_s if f["spec_id"] == 1]) == n_new
    assert 0 < len([f for f in sel_s if f["spec_id"] == 0]) < n_old

    # range prune on the NEW layout's source: new files prune, old all kept
    lo, hi = datetime.date(1996, 1, 1), datetime.date(1997, 12, 31)
    sel_d, _ = t.plan_files_by_source_range("o_orderdate", lo, hi)
    assert len([f for f in sel_d if f["spec_id"] == 0]) == n_old
    assert all(
        f["partition"]["o_orderdate_year"] in (26, 27)
        for f in sel_d
        if f["spec_id"] == 1
    )
    assert 0 < len(sel_d) < total

    return _status_totals(
        t.read(files=sel_d)
        .where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
    )


# ---------------------------------------------------------------------------
# Iceberg write-audit-publish (round 12 second wave): stage an append on
# a named BRANCH ref (main readers cannot see it), audit the staged
# state by reading the branch, then PUBLISH by fast-forwarding main to
# the branch head — a metadata-only pointer move, because the branch's
# snapshots were fully committed at append time. Snapshot ancestry
# (parent-snapshot-id) guards the publish: a diverged branch refuses.
# Tags pin snapshots through expiry on the same refs map.
# ---------------------------------------------------------------------------
@query(
    "iceberg_wap_publish",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 3000
    GROUP BY 1
    """,
    doc="Write-audit-publish on Iceberg branch refs: stage half the rows "
    "on branch 'audit' (main provably unchanged, asserted), audit the "
    "branch read, fast-forward-publish, and aggregate the published "
    "table; the incremental tail is asserted to skip the branch while "
    "unpublished. Oracle aggregates raw orders.",
    round_added=12,
)
def iceberg_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        export_iceberg,
        fast_forward_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_wap_") + "/table"
    export_iceberg(src.where(F.col("o_orderkey") % 2 == 0), dest, n_files=2)
    n_main = IcebergTable(spark, dest).read().count()

    # STAGE: the append lands on the branch; main must not move
    append_iceberg(src.where(F.col("o_orderkey") % 2 == 1), dest, branch="audit")
    t = IcebergTable(spark, dest)
    assert t.read().count() == n_main
    assert t.added_files(1) == []  # the tail cannot see the staged commit

    # AUDIT: check the staged state on the branch before anyone reads it
    staged = t.read(ref="audit")
    assert staged.where(F.col("o_totalprice") < 0).count() == 0
    assert staged.count() > n_main

    # PUBLISH: metadata-only fast-forward of main to the audited head
    fast_forward_iceberg(dest, "audit")
    return _status_totals(IcebergTable(spark, dest).read())


# ---------------------------------------------------------------------------
# Iceberg -> Delta zero-copy conversion (round 12 second wave): the
# reverse of delta_to_iceberg_convert. Iceberg data files are
# self-contained (partition sources stay in the files), so the converter
# publishes a Delta log whose adds reference the SAME parquet files by
# absolute path — one footer read per file, no data bytes moved — and
# any Delta reader serves the table. Asserted in-query: no parquet under
# the Delta directory, and both formats read identical row counts.
# ---------------------------------------------------------------------------
@query(
    "iceberg_to_delta_convert",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 2000
    GROUP BY 1
    """,
    doc="Zero-copy Iceberg -> Delta migration: a Delta log referencing "
    "the Iceberg table's live parquet files by absolute path (footer "
    "stats ride the adds); both formats then serve the same bytes. "
    "No-copy and same-count asserted in-query; the aggregate reads "
    "through the independent Delta log reader. Oracle filters raw "
    "orders.",
    round_added=12,
)
def iceberg_to_delta_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import glob as _glob

    from data_etl_pipeline_spark.sources.delta_export import (
        convert_iceberg_to_delta,
    )
    from data_etl_pipeline_spark.sources.delta_reader import DeltaLogReader
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    base = scratch_dir(spark, "ice2delta_")
    ice, delta = base + "/iceberg", base + "/delta"
    export_iceberg(src.where(F.col("o_orderkey") % 2 == 0), ice, n_files=2,
                   range_by="o_orderkey")
    append_iceberg(src.where(F.col("o_orderkey") % 2 == 1), ice, n_files=2,
                   range_by="o_orderkey")

    res = convert_iceberg_to_delta(spark, ice, delta)
    assert res["n_files"] == 4
    # zero-copy: the Delta directory holds ONLY the log
    assert not _glob.glob(delta + "/**/*.parquet", recursive=True)

    reader = DeltaLogReader(spark, delta)
    got = reader.read()
    assert got.count() == IcebergTable(spark, ice).read().count()
    return _status_totals(got)


# ---------------------------------------------------------------------------
# STREAMING Iceberg tail (round 12 second wave): the snapshot-diff
# incremental read as a first-class Structured Streaming SOURCE
# (sources/iceberg_stream.py, full DataSourceStreamReader API): offsets
# are main-ancestry sequence numbers, partitions() lists each
# micro-batch's added files (driver metadata, O(files)), read() parses
# one file per executor task yielding Arrow batches, and every row
# carries _commit_snapshot. Two append waves with a barrier between
# them prove offset tracking; the final table is oracle-checked.
# ---------------------------------------------------------------------------
@query(
    "stream_iceberg_tail",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 2000
    GROUP BY 1
    """,
    doc="Structured Streaming over Iceberg appends through a custom "
    "Python streaming source: snapshot sequence-number offsets, one "
    "executor task per added file (Arrow batches), _commit_snapshot "
    "tagging; the second append wave is proven to ride a later "
    "micro-batch, and the drained sink is oracle-checked against raw "
    "orders.",
    round_added=12,
)
def stream_iceberg_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources import iceberg_stream
    from data_etl_pipeline_spark.sources.iceberg import (
        append_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    base = scratch_dir(spark, "ice_stream_")
    table, sink = base + "/table", base + "/sink"
    export_iceberg(
        src.where(F.col("o_orderkey") % 2 == 0), table, n_files=2,
        range_by="o_orderkey",
    )

    iceberg_stream.register(spark)
    stream = spark.readStream.format("iceberg_tail").option("path", table).load()

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.take(1):
            batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

    q = stream.writeStream.outputMode("append").foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
        append_iceberg(
            src.where(F.col("o_orderkey") % 2 == 1), table, n_files=2,
            range_by="o_orderkey",
        )  # second wave: must ride a LATER micro-batch
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.option("basePath", sink).parquet(f"{sink}/epoch=*")
    epochs = sorted(r.epoch for r in got.select("epoch").distinct().collect())
    assert len(epochs) >= 2, f"second wave did not ride a later epoch: {epochs}"
    first_snaps = {
        r._commit_snapshot
        for r in got.where(F.col("epoch") == epochs[0])
        .select("_commit_snapshot").distinct().collect()
    }
    assert first_snaps == {1}, first_snaps
    return _status_totals(got)


# ---------------------------------------------------------------------------
# Iceberg-to-Iceberg streaming replication with an exactly-once SINK
# (round 12 third wave): the iceberg_tail source feeds foreachBatch,
# and append_iceberg_exactly_once dedups per (app-id, epoch) recorded
# in the snapshot summary — at-least-once redelivery composes to
# exactly-once table contents (ST2's transaction-identifier contract on
# the second format). A batch is deliberately re-applied in-query and
# proven to be a no-op before the final aggregate.
# ---------------------------------------------------------------------------
@query(
    "stream_iceberg_replication",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 2000
    GROUP BY 1
    """,
    doc="Streaming replication Iceberg -> Iceberg: the tail source "
    "drives foreachBatch into an epoch-deduped exactly-once append "
    "sink; a replayed batch is asserted to commit nothing, and the "
    "replica's aggregate is oracle-checked against raw orders.",
    round_added=12,
)
def stream_iceberg_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from data_etl_pipeline_spark.sources import iceberg_stream
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        append_iceberg_exactly_once,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    base = scratch_dir(spark, "ice_repl_")
    upstream, replica = base + "/up", base + "/replica"
    export_iceberg(src.where(F.col("o_orderkey") % 2 == 0), upstream, n_files=2,
                   range_by="o_orderkey")

    state = {"last": None}

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.drop("_commit_snapshot")
        if not rows.take(1):
            return
        if not os.path.isdir(replica + "/metadata"):
            export_iceberg(rows, replica, n_files=2)
            state["last"] = (rows, epoch_id)
            return
        append_iceberg_exactly_once(rows, replica, "repl", epoch_id)
        state["last"] = (rows, epoch_id)

    iceberg_stream.register(spark)
    stream = spark.readStream.format("iceberg_tail").option("path", upstream).load()
    q = stream.writeStream.outputMode("append").foreachBatch(apply_batch).start()
    try:
        q.processAllAvailable()
        append_iceberg(src.where(F.col("o_orderkey") % 2 == 1), upstream,
                       n_files=2, range_by="o_orderkey")
        q.processAllAvailable()
    finally:
        q.stop()

    # deliberately REPLAY the last delivered batch: must commit nothing
    rows, epoch_id = state["last"]
    assert epoch_id > 0  # the second wave really rode a later epoch
    n_snaps_before = len(IcebergTable(spark, replica).meta["snapshots"])
    assert append_iceberg_exactly_once(rows, replica, "repl", epoch_id) is None
    assert len(IcebergTable(spark, replica).meta["snapshots"]) == n_snaps_before

    got = IcebergTable(spark, replica).read()
    assert got.count() == IcebergTable(spark, upstream).read().count()
    return _status_totals(got)


# ---------------------------------------------------------------------------
# Iceberg manifest rewrite (round 12 third wave): the metadata-level
# small-files fix — N micro-batch appends leave N manifests in the
# list; planning cost grows with commit count, not data. rewrite merges
# them to one manifest per (content, spec, write-schema) group,
# carrying entries verbatim as EXISTING with explicit sequence numbers
# (reads, time travel, and equality-delete seq checks byte-unaffected),
# under a replace snapshot the tail and stream SKIP.
# ---------------------------------------------------------------------------
@query(
    "iceberg_rewrite_manifests",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 2000
    GROUP BY 1
    """,
    doc="Manifest compaction: five append commits' manifests merged to "
    "one (5 -> 1 asserted), entries carried as EXISTING with explicit "
    "sequence numbers, zero data files touched; read equality before/"
    "after asserted in-query and a post-rewrite tail still sees only "
    "real appends. Oracle aggregates raw orders.",
    round_added=12,
)
def iceberg_rewrite_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        export_iceberg,
        rewrite_manifests_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_rwm_") + "/table"
    export_iceberg(src.where(F.col("o_orderkey") % 5 == 0), dest)
    for r in (1, 2, 3, 4):
        append_iceberg(src.where(F.col("o_orderkey") % 5 == r), dest)

    before = IcebergTable(spark, dest).read().count()
    res = rewrite_manifests_iceberg(dest)
    assert (res["manifests_before"], res["manifests_after"]) == (5, 1), res

    t = IcebergTable(spark, dest)
    got = t.read()
    assert got.count() == before
    # the rewrite snapshot is invisible to the incremental tail
    assert all(sid != res["snapshot_id"] for sid, _ in t.added_files(1))
    return _status_totals(got)


# ---------------------------------------------------------------------------
# Native Python data source WRITER (round 12 third wave): the missing
# third of the batch_results source trio (batch reader E-series, stream
# reader, and now df.write.format("batch_results")), through the
# official DataSourceWriter two-phase commit protocol — tasks stage
# files and return commit messages; the DRIVER publishes only after
# every task succeeded; any task failure aborts with the live table
# untouched. Shard derivation stays the reader's md5 contract, so
# filename pushdown keeps pruning writer-produced files.
# ---------------------------------------------------------------------------
@query(
    "pysource_writer_roundtrip",
    sql="""
    WITH src AS (
        SELECT 'o-' || CAST(o_orderkey AS VARCHAR) AS custom_id,
               CASE WHEN o_orderkey % 7 = 0 THEN 'error' ELSE 'ok' END AS status,
               o_orderkey % 1000 AS n_tokens
        FROM orders WHERE o_orderkey < 800
    )
    SELECT (('0x' || substr(md5(custom_id), 1, 8))::BIGINT % 4) AS shard,
           status, COUNT(*) AS n,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM src GROUP BY 1, 2
    """,
    doc="Two-phase-commit write through the native Python data source "
    "writer API (stage per task -> driver publish; staging asserted "
    "clean), read back through the same format with shard pushdown "
    "intact; final aggregate oracle-checked against orders.",
    round_added=12,
)
def pysource_writer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from data_etl_pipeline_spark.sources import pysource

    pysource.register(spark)
    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 800)
        .selectExpr(
            "'o-' || CAST(o_orderkey AS STRING) AS custom_id",
            "CASE WHEN o_orderkey % 7 = 0 THEN 'error' ELSE 'ok' END AS status",
            "o_orderkey % 1000 AS n_tokens",
            "'resp-' || CAST(o_orderkey AS STRING) AS body",
        )
    )
    d = scratch_dir(spark, "pysrc_writer_") + "/out"
    src.repartition(4).write.format("batch_results").option("path", d).mode(
        "append"
    ).save()
    assert not os.path.isdir(os.path.join(d, "_staging"))  # commit cleaned up

    return _batch_results_summary(spark, d)


# ---------------------------------------------------------------------------
# End-to-end NATIVE streaming pipeline (round 12 third wave): stream
# reader -> stream writer, both through the official Python data source
# API, no foreachBatch escape hatch. The sink's commit(messages,
# batchId) publishes staged task files under a _commits/ batch ledger;
# a replayed batchId discards its stage instead of double-publishing
# (exactly-once sink contents under at-least-once replay — the E223
# contract at the source-API layer). Files land in two waves; the sink
# is then batch-read through the same format and oracle-checked.
# ---------------------------------------------------------------------------
@query(
    "stream_pysource_pipeline",
    sql="""
    WITH src AS (
        SELECT 'o-' || CAST(o_orderkey AS VARCHAR) AS custom_id,
               CASE WHEN o_orderkey % 7 = 0 THEN 'error' ELSE 'ok' END AS status,
               o_orderkey % 1000 AS n_tokens
        FROM orders WHERE o_orderkey < 800
    )
    SELECT (('0x' || substr(md5(custom_id), 1, 8))::BIGINT % 4) AS shard,
           status, COUNT(*) AS n,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM src GROUP BY 1, 2
    """,
    doc="Streaming pipeline entirely on the native Python source API: "
    "SimpleDataSourceStreamReader source feeding a DataSourceStreamWriter "
    "sink (two-phase commit per micro-batch, _commits batch ledger, "
    "replayed batches discarded); two landing waves, ledger >= 2 "
    "batches asserted, sink re-read through the same format and "
    "oracle-checked against orders.",
    round_added=12,
)
def stream_pysource_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from data_etl_pipeline_spark.sources import pysource

    rows = [
        (
            f"o-{r.o_orderkey}",
            "error" if r.o_orderkey % 7 == 0 else "ok",
            int(r.o_orderkey % 1000),
            f"resp-{r.o_orderkey}",
        )
        for r in load(spark, sf_dir, "orders")
        .where("o_orderkey < 800")
        .select("o_orderkey")
        .collect()  # bounded: < 800 ids by construction
    ]
    staging = scratch_dir(spark, "pypipe_fixture_")
    pysource.write_result_fixture(rows, staging, n_shards=4)
    live = scratch_dir(spark, "pypipe_live_")
    sink = scratch_dir(spark, "pypipe_sink_") + "/out"
    ckpt = scratch_dir(spark, "pypipe_ckpt_")

    def land(shards):
        for s in shards:
            shutil.copy(
                os.path.join(staging, f"part-{s}.jsonl"),
                os.path.join(live, f"part-{s}.jsonl"),
            )

    pysource.register(spark)
    land([0, 1])
    q = (
        spark.readStream.format("batch_results").option("path", live).load()
        .writeStream.format("batch_results")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        land([2, 3])
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(os.listdir(os.path.join(sink, "_commits"))) >= 2

    return _batch_results_summary(spark, sink)


# ---------------------------------------------------------------------------
# Iceberg metadata tables (round 12 third wave): the tbl.files /
# tbl.partitions inspection surface — per-partition row and file
# statistics straight from manifests, O(files) driver-side, zero data
# reads. The fixture spans a SPEC EVOLUTION (identity(status) then
# year(date)), so the partitions table carries both layouts at once,
# keyed by spec id — the audit a re-layout decision reads. The oracle
# reconstructs every (spec, field, value, n_rows) row from raw orders;
# per-value file counts are 1-by-construction and asserted in-query.
# ---------------------------------------------------------------------------
@query(
    "iceberg_partitions_metadata",
    sql="""
    WITH src AS (SELECT * FROM orders WHERE o_orderkey < 2000)
    SELECT 0 AS spec_id, 'o_orderstatus' AS field, o_orderstatus AS value,
           COUNT(*) AS n_rows
    FROM src WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
    UNION ALL
    SELECT 1, 'o_orderdate_year',
           CAST(CAST(EXTRACT(year FROM o_orderdate) AS INT) - 1970 AS STRING),
           COUNT(*)
    FROM src WHERE o_orderkey % 2 = 1
    GROUP BY EXTRACT(year FROM o_orderdate)
    """,
    doc="Iceberg partitions metadata table across a spec evolution: "
    "per-(spec, field, value) row counts from manifests alone (zero "
    "data reads), both layouts reported side by side; per-value file "
    "counts and the files metadata table are asserted in-query. Oracle "
    "reconstructs the stats from raw orders.",
    round_added=12,
)
def iceberg_partitions_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        evolve_partition_spec_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    dest = scratch_dir(spark, "ice_meta_") + "/table"
    export_iceberg(
        src.where(F.col("o_orderkey") % 2 == 0), dest, partition_by="o_orderstatus"
    )
    evolve_partition_spec_iceberg(dest, "o_orderdate", "year")
    append_iceberg(src.where(F.col("o_orderkey") % 2 == 1), dest)

    t = IcebergTable(spark, dest)
    parts = t.partitions_df()
    # the partitioned write lays out one file per partition value per commit
    assert parts.where(F.col("n_files") != 1).count() == 0
    files = t.files_df()
    assert files.count() == parts.count()  # 1 file per tuple => equal counts
    assert files.where(F.col("record_count") <= 0).count() == 0
    return parts.select("spec_id", "field", "value", "n_rows")


# ---------------------------------------------------------------------------
# Iceberg timestamp time travel (round 12 third wave): AS OF a wall
# clock instant, resolved from the snapshot-log — the spec's record of
# CURRENT-snapshot changes, which branch commits never enter, so as-of
# reads see only published state (a fast-forward re-logs the published
# head at publish time). The fixture records the instant after commit 1
# from the table's own log, appends more (one wave on a branch), and
# proves the as-of read returns exactly the first commit.
# ---------------------------------------------------------------------------
@query(
    "iceberg_timestamp_travel",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 2000 AND o_orderkey % 2 = 0
    GROUP BY 1
    """,
    doc="Timestamp AS-OF reads over the snapshot-log: the instant after "
    "commit 1 resolves to snapshot 1 even after later main appends and "
    "an unpublished branch commit (asserted invisible to the log); the "
    "as-of aggregate is oracle-checked against the first wave of raw "
    "orders.",
    round_added=12,
)
def iceberg_timestamp_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergTable,
        append_iceberg,
        export_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_asof_") + "/table"
    export_iceberg(src.where(F.col("o_orderkey") % 2 == 0), dest, n_files=2)
    ts1 = IcebergTable(spark, dest).meta["snapshot-log"][-1]["timestamp-ms"]
    append_iceberg(src.where(F.col("o_orderkey") % 2 == 1), dest)
    append_iceberg(src.limit(5), dest, branch="staging")

    t = IcebergTable(spark, dest)
    sid = t.snapshot_id_as_of(ts1)
    assert sid == 1, sid
    # the branch commit never entered the log: as-of-now is main's head
    assert len(t.meta["snapshot-log"]) == 2
    return _status_totals(t.read(snapshot_id=sid))


# ---------------------------------------------------------------------------
# Iceberg rollback + ancestry-aware expiry (round 12 third wave): the
# bad-commit recovery lifecycle. rollback_iceberg moves the current
# pointer to a main-ancestry ancestor (metadata-only, git-reset shape);
# the next append FORKS from the rolled-back head, and expiry counts
# "newest keep_last" over the MAIN ANCESTRY, so the abandoned commit is
# reclaimed even though it is the newest by sequence number — while the
# kept ancestor stays byte-identical. All asserted in-query; the final
# table (good waves only) is oracle-checked.
# ---------------------------------------------------------------------------
@query(
    "iceberg_rollback_recovery",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 2000 AND o_orderkey % 3 IN (0, 2)
    GROUP BY 1
    """,
    doc="Bad-commit recovery: append a poisoned wave, roll back "
    "(metadata-only; the wave stays time-travelable), fork a corrected "
    "append from the rolled-back head, then expire — ancestry-aware "
    "retention reclaims the abandoned commit's files (asserted) while "
    "the kept ancestor still reads. Final table oracle-checked against "
    "the good waves of raw orders.",
    round_added=12,
)
def iceberg_rollback_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.iceberg import (
        IcebergError,
        IcebergTable,
        append_iceberg,
        expire_snapshots_iceberg,
        export_iceberg,
        rollback_iceberg,
    )

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 2000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    dest = scratch_dir(spark, "ice_rb_") + "/table"
    export_iceberg(src.where(F.col("o_orderkey") % 3 == 0), dest, n_files=2)
    # the BAD wave: prices corrupted upstream
    append_iceberg(
        src.where(F.col("o_orderkey") % 3 == 1)
        .withColumn("o_totalprice", F.lit(-1.0)),
        dest,
    )
    rollback_iceberg(dest, 1)
    append_iceberg(src.where(F.col("o_orderkey") % 3 == 2), dest)  # corrected

    res = expire_snapshots_iceberg(dest, keep_last=2)
    assert res["expired_snapshots"] == [2] and res["files_removed"] >= 1, res
    t = IcebergTable(spark, dest)
    assert t.read().where(F.col("o_totalprice") < 0).count() == 0
    assert t.read(snapshot_id=1).count() > 0  # kept ancestor intact
    try:
        t.read(snapshot_id=2)
        raise AssertionError("abandoned snapshot still readable")
    except IcebergError:
        pass
    return _status_totals(t.read())
