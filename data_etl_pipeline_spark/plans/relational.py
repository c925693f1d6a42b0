"""Relational operator coverage (SURVEY.md §2.1-2.8) over the TPC-H-ish
star schema.

Every query here reproduces a semantic the reference implements imperatively
(Mongo cursor scans, $in lookups, set differences, per-row folds) as a
declarative Spark plan that Catalyst can push down / broadcast / reorder.
Reference citations are on each function.

Scale notes (100 TB design):
  * dimension joins (region/nation/supplier/part) are explicit broadcasts —
    no shuffle of the fact side;
  * fact-fact joins (orders x lineitem) shuffle on the join key once; with
    both tables bucketed by orderkey in a real deployment they co-locate;
  * aggregations are expressed so Spark's partial (map-side) aggregation
    applies before the shuffle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_etl_pipeline_spark.plans.planassert import (
    executed_plan,
    formatted_plan,
    optimized_plan,
)
from data_etl_pipeline_spark.plans.registry import query
from data_etl_pipeline_spark.session import conf_scope, scratch_dir
from data_etl_pipeline_spark.tables import load, local_frame

# ---------------------------------------------------------------------------
# decimal-exact aggregation helpers (float determinism vs the DuckDB oracle)
# ---------------------------------------------------------------------------


def _dec(col, prec: int = 12, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})") if isinstance(col, str) else col.cast(f"decimal({prec},{scale})")


def _one():
    return F.expr("cast(1.0 as decimal(3,2))")


# ---------------------------------------------------------------------------
# Q1-style pricing summary — the flagship query.
# Reference semantics: stats counters / grouped rollups (SURVEY A5, A1);
# batch_file_station.py:71-92 keeps running count/sum/avg stats per group.
# ---------------------------------------------------------------------------
@query(
    "pricing_summary",
    sql="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1.0 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)      AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*)       AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: multi-agg rollup with decimal-exact sums (SURVEY A5).",
    bench_tier=1,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    price = _dec("l_extendedprice")
    disc = _dec("l_discount", 4, 2)
    tax = _dec("l_tax", 4, 2)
    qty = _dec("l_quantity")
    n = F.count(F.lit(1))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (_one() - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (_one() - disc) * (_one() + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / n).alias("avg_qty"),
            (F.sum(price).cast("double") / n).alias("avg_price"),
            (F.sum(disc).cast("double") / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# S1: filtered + sorted + limited scan.
# Reference: batch_request_orchestrator.py:98-178 (cursor w/ filter, sort
# created_at desc, limit n). Deterministic via unique-key tiebreak.
# ---------------------------------------------------------------------------
@query(
    "newest_open_orders",
    sql="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
    ORDER BY o_orderdate DESC, o_totalprice DESC, o_orderkey LIMIT 100
    """,
    doc="Filter + multi-key sort + limit scan (SURVEY S1/O1).",
)
def newest_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "O")
        .orderBy(F.desc("o_orderdate"), F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# S2/P8: projection-only scan with predicate — column pruning reaches parquet.
# Reference: find({}, {"mfg_etld1":1,"_id":0}) batch_request_orchestrator.py:137-141.
# ---------------------------------------------------------------------------
@query(
    "rich_customers_projection",
    sql="""
    SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_acctbal > 5000.0
    """,
    doc="Projection + predicate pushdown (SURVEY S2/P8).",
)
def rich_customers_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 5000.0)
        .select("c_custkey", "c_name", "c_mktsegment")
    )


# ---------------------------------------------------------------------------
# P2: token-size band filter (reference skips texts <50 or >125k tokens,
# new_extract_queue_bot.py:81-82) — same shape as a quantity band.
# ---------------------------------------------------------------------------
@query(
    "quantity_band_stats",
    sql="""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    WHERE l_quantity BETWEEN 5.0 AND 10.0
    GROUP BY l_returnflag
    """,
    doc="Band filter + grouped stats (SURVEY P2/A5).",
)
def quantity_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity").between(5.0, 10.0))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# J5 composite multi-hop equi-join (TPC-H Q5 shape).
# Reference joins deferred<->manufacturer on composite keys
# (deferred_manufacturer_service.py:27-36); here the full star join with
# explicit broadcasts of the dimension side.
# ---------------------------------------------------------------------------
@query(
    "revenue_by_nation",
    sql="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
    doc="Multi-hop composite equi-join star query (SURVEY J5) w/ broadcast dims.",
    bench_tier=1,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    lineitem = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2))).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# J4: semi join ("which already exist / are complete").
# Reference: set-difference existence checks, extract_concept_deferred_service.py:547-570.
# ---------------------------------------------------------------------------
@query(
    "customers_with_urgent_orders",
    sql="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    doc="Left-semi existence join (SURVEY J4).",
)
def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    urgent = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, customer.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# J3: anti join (avoid double-enqueue).
# Reference: $nin manufacturers-not-in-deferred, batch_request_orchestrator.py:137-144.
# ---------------------------------------------------------------------------
@query(
    "customers_without_orders",
    sql="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Left-anti join: the reference's core incremental-work discovery (SURVEY J3/X4).",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


# ---------------------------------------------------------------------------
# J6: prefix range scan (custom_id startswith semantics,
# gpt_batch_request_service.py:746-771). A startswith predicate prunes
# row groups via parquet min/max stats when data is sorted by the key.
# ---------------------------------------------------------------------------
@query(
    "part_prefix_agg",
    sql="""
    SELECT p_brand,
           COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM part
    WHERE p_name LIKE 'small%'
    GROUP BY p_brand
    """,
    doc="Prefix-range predicate + agg (SURVEY J6/X3).",
)
def part_prefix_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "part")
        .where(F.col("p_name").startswith("small"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum(_dec("p_retailprice")).cast("double").alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# J1/J2: batched point lookups ($in) as a broadcast equi-join.
# Reference: gpt_batch_request_service.py:87-152 (custom_id IN ids map).
# ---------------------------------------------------------------------------
@query(
    "order_key_lookup",
    sql="""
    SELECT o.o_orderkey, o.o_totalprice,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 997 = 0
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
    doc="Batched $in lookup as broadcast hash join (SURVEY J1/J2).",
)
def order_key_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 997 == 0)
    lineitem = load(spark, sf_dir, "lineitem")
    return (
        lineitem.join(F.broadcast(keys), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# J12: override/precedence join — ground truth beats LLM answer
# (new_extract_queue_bot.py:439-455): left join + coalesce.
# ---------------------------------------------------------------------------
@query(
    "segment_with_override",
    sql="""
    WITH corrections AS (
        SELECT c_custkey AS k, 'PLATINUM' AS seg_override
        FROM customer WHERE c_acctbal > 9000.0
    )
    SELECT COALESCE(seg_override, c_mktsegment) AS segment_final,
           COUNT(*) AS n_customers
    FROM customer LEFT JOIN corrections ON c_custkey = k
    GROUP BY COALESCE(seg_override, c_mktsegment)
    """,
    doc="Override-precedence join: coalesce(ground_truth, llm) (SURVEY J12).",
)
def segment_with_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    corrections = (
        customer.where(F.col("c_acctbal") > 9000.0)
        .select(F.col("c_custkey").alias("k"), F.lit("PLATINUM").alias("seg_override"))
    )
    return (
        customer.join(F.broadcast(corrections), customer.c_custkey == corrections.k, "left")
        .select(F.coalesce("seg_override", "c_mktsegment").alias("segment_final"))
        .groupBy("segment_final")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# A8: exact distinct. Reference uses Python sets / unique indexes
# (batch_file_station.py:193,213).
# ---------------------------------------------------------------------------
@query(
    "distinct_segment_nation",
    sql="""
    SELECT DISTINCT c_mktsegment, n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
    doc="Exact distinct over a join (SURVEY A8).",
)
def distinct_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_mktsegment", "n_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# T1/T2/T3: set algebra (union / except / intersect) on key sets.
# Reference: requested - found, chunk-set unions, llm ∩ mapping
# (extract_concept_deferred_service.py:557-559 etc.).
# ---------------------------------------------------------------------------
@query(
    "orderkey_set_ops",
    sql="""
    WITH f AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
         u AS (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT
      (SELECT COUNT(*) FROM (SELECT * FROM f UNION SELECT * FROM u)) AS n_union,
      (SELECT COUNT(*) FROM (SELECT * FROM f EXCEPT SELECT * FROM u)) AS n_except,
      (SELECT COUNT(*) FROM (SELECT * FROM f INTERSECT SELECT * FROM u)) AS n_intersect
    """,
    doc="Union / difference / intersection of key sets (SURVEY T1-T3).",
)
def orderkey_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select("o_orderkey").distinct()
    u = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey").distinct()
    n_union = f.union(u).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    n_except = f.subtract(u).agg(F.count(F.lit(1)).alias("n_except"))
    n_intersect = f.intersect(u).agg(F.count(F.lit(1)).alias("n_intersect"))
    return n_union.crossJoin(n_except).crossJoin(n_intersect)


# ---------------------------------------------------------------------------
# W2: top-k per group (first-chunk selection, binary_classifier_service.py:99-121
# takes the min-offset chunk; here row_number <= 3 per customer).
# ---------------------------------------------------------------------------
@query(
    "top3_orders_per_customer",
    sql="""
    SELECT o_custkey, o_orderkey, rn FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
    doc="Ranking window top-k per group (SURVEY W2/W3).",
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


# ---------------------------------------------------------------------------
# A4-analog: running accumulation (the JSONL writer's running caps,
# batch_jsonl_file_writer.py:96-181) as a frame-spec window sum.
# ---------------------------------------------------------------------------
@query(
    "running_value_per_user",
    sql="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
    FROM events
    WHERE user_id % 50 = 0
    """,
    doc="Running window sum with explicit frame (SURVEY A4/W-frames).",
)
def running_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        load(spark, sf_dir, "events")
        .where(F.col("user_id") % 50 == 0)
        .select(
            "event_id",
            "user_id",
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("running_value"),
        )
    )


# ---------------------------------------------------------------------------
# A1: set-union rollup (per-chunk result sets ⋃ to manufacturer —
# keyword_reconcile_node.py:75-117) — collect_set + sort + join to string so
# the hash comparison is order-stable.
# ---------------------------------------------------------------------------
@query(
    "nation_segment_rollup",
    sql="""
    SELECT n_name,
           array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           COUNT(DISTINCT c_mktsegment) AS n_segments
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="Set-union rollup to sorted membership list (SURVEY A1/T1).",
)
def nation_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_set("c_mktsegment")), ",").alias("segments"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


# ---------------------------------------------------------------------------
# A3: grouped map inversion (known → set of unknowns,
# extract_concept_service.py:278-309): group + collect_set of derived key.
# ---------------------------------------------------------------------------
@query(
    "event_type_user_buckets",
    sql="""
    SELECT event_type,
           array_to_string(list_sort(list(DISTINCT user_id % 10)), ',') AS user_buckets,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    doc="Grouped inversion: key → sorted set of derived values (SURVEY A3).",
)
def event_type_user_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_set(F.col("user_id") % 10)), lambda x: x.cast("string")),
                ",",
            ).alias("user_buckets"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# F2-lite: JSON extraction from the props column + grouped stats.
# Reference parses LLM JSON payloads (str_util.py + from_json); the repair
# state machine lives in functions/json_repair.py with unit tests.
# ---------------------------------------------------------------------------
@query(
    "event_props_json_stats",
    sql="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE) / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON field extraction + grouped aggregation (SURVEY F2/S10).",
)
def event_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        load(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            (F.sum("k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregation (streaming semantics run in batch; the
# streaming/ module runs the same plan via readStream+foreachBatch).
# ---------------------------------------------------------------------------
@query(
    "hourly_event_stats",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling time-window aggregation (SURVEY ST1 batch-equivalent).",
    bench_tier=1,
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").getField("start").alias("window_start"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sessionization: gap > 30 min starts a new session (lag + running sum).
# The reference's queue-driven processing has the same "burst" structure.
# ---------------------------------------------------------------------------
@query(
    "user_session_counts",
    sql="""
    WITH g AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) > 1800.0 OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
    FROM g GROUP BY user_id
    """,
    doc="Sessionization via lag + cumulative flag (guide: common OLAP pattern).",
)
def user_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    events = load(spark, sf_dir, "events")
    # timestampdiff works on both TIMESTAMP and TIMESTAMP_NTZ (a double cast
    # does not exist for NTZ); comparing in microseconds keeps the strict
    # ">" boundary identical to the oracle's epoch() fractional-seconds diff.
    flagged = events.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > F.lit(1_800_000_000)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q13 shape: filtered LEFT OUTER join + two-level aggregation (the
# order-count distribution). Covers the outer-join-with-join-side-filter
# semantics the reference expresses as a Mongo $lookup with a pipeline
# filter. Scale: orders filtered before the join, count per customer is a
# partial agg on the join key, the distribution agg is over |distinct
# counts| rows — negligible.
# ---------------------------------------------------------------------------
@query(
    "customer_order_distribution",
    sql="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) per_cust
    GROUP BY c_count
    """,
    doc="TPC-H Q13 shape: order-count-per-customer distribution via a "
    "filtered left outer join and a two-level aggregation.",
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# TPC-H Q21 shape: nested EXISTS + NOT EXISTS against the same fact table.
# "The supplier whose line was returned on a multi-supplier order where no
# OTHER supplier's line was returned" — the sole-blame pattern. Catalyst
# decorrelates both subqueries into a left-semi and a left-anti join on
# l_orderkey; all three scans are the same lineitem file, shuffled on the
# order key once each (bucketing co-locates them in a real deployment).
# ---------------------------------------------------------------------------
@query(
    "sole_returned_suppliers",
    sql="""
    SELECT l1.l_suppkey AS suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY l1.l_suppkey
    """,
    doc="TPC-H Q21 shape: semi + anti self-joins on the fact table (sole "
    "returned supplier per multi-supplier order).",
)
def sole_returned_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = lineitem.where(F.col("l_returnflag") == "R")
    l2 = lineitem.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lineitem.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    with_other = l1.join(
        l2, (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")), "left_semi"
    )
    sole = with_other.join(
        l3, (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")), "left_anti"
    )
    return sole.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count(F.lit(1)).alias("numwait")
    )


# ---------------------------------------------------------------------------
# W2 scale variant: the same top-3-per-customer through the BOUNDED-
# SHUFFLE operator (operators/topk.py) — each map task pre-reduces to its
# local top-3 per group before the exchange, so the shuffle carries at
# most k rows per group per task instead of the raw table (the map-side-
# combine of ranking). Identical result to the window form; the oracle is
# the same SQL.
# ---------------------------------------------------------------------------
@query(
    "top3_orders_per_customer_bounded",
    sql="""
    SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rank FROM (
        SELECT o_custkey, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) t
    WHERE rn <= 3
    """,
    doc="Top-k per group with bounded shuffle: map-side partial top-k "
    "pre-reduce, then one window over k rows per group per task.",
)
def top3_orders_per_customer_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.topk import grouped_topk

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return grouped_topk(
        orders, ["o_custkey"], "o_totalprice", k=3, tiebreak="o_orderkey"
    ).select("o_custkey", "o_orderkey", "rank")


# ---------------------------------------------------------------------------
# Market-basket affinity (support / confidence / lift) over order
# baskets — co-occurrence mining with the SAME inverted-index shape as
# the dedup pair miners: pairs come from per-basket sorted combinations
# (one groupBy + explode), never a basket self-join, so the fan-out is
# sum over baskets of C(|basket|, 2), bounded by basket size (<= 13
# here), and the corpus is scanned once. All three metrics are ratios of
# exact integer counts, divided once per output row.
# ---------------------------------------------------------------------------
@query(
    "part_affinity_lift",
    sql="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM b),
    c AS (SELECT l_partkey, COUNT(*) AS cnt FROM b GROUP BY 1),
    p AS (SELECT a.l_partkey AS pa, b2.l_partkey AS pb, COUNT(*) AS cab
          FROM b a JOIN b b2
            ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2)
    SELECT pa AS part_a, pb AS part_b, cab AS n_both,
           ROUND(CAST(cab AS DOUBLE) / n.n, 6) AS support,
           ROUND(CAST(cab AS DOUBLE) / ca.cnt, 6) AS confidence,
           ROUND((CAST(cab AS DOUBLE) * n.n) / (ca.cnt * cb.cnt), 6) AS lift
    FROM p
    CROSS JOIN n
    JOIN c ca ON ca.l_partkey = pa
    JOIN c cb ON cb.l_partkey = pb
    """,
    doc="Part-pair association rules over order baskets: n_both, support "
    "n_ab/N, confidence n_ab/n_a, lift n_ab*N/(n_a*n_b), pairs with "
    "n_both >= 2. Pair generation is per-basket sorted combinations "
    "(groupBy + explode, the dedup posting-combo pattern) — no basket "
    "self-join; the oracle writes the self-join form.",
)
def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = b.select("l_orderkey").distinct().count()  # bounded driver literal
    c = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    combos = (
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x, y))))"
    )
    pairs = (
        b.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .select(F.explode(F.expr(combos)).alias("pr"))
        .select(F.col("pr.x").alias("part_a"), F.col("pr.y").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 2)
    )
    ca = c.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("ca"))
    cb = c.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .select(
            "part_a", "part_b", "n_both",
            F.round(F.col("n_both").cast("double") / n, 6).alias("support"),
            F.round(F.col("n_both").cast("double") / F.col("ca"), 6).alias("confidence"),
            F.round(
                (F.col("n_both").cast("double") * n) / (F.col("ca") * F.col("cb")), 6
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling time-window features — the per-entity trailing aggregates a
# feature pipeline materializes before training (trailing 24h activity
# count / value sum, seconds since previous event). RANGE frame over
# INTEGER epoch seconds: peers at one second aggregate together, so tie
# order cannot split engines; the value sum is exact decimal. One
# exchange on the user key serves every feature.
# ---------------------------------------------------------------------------
@query(
    "user_rolling_features",
    sql="""
    WITH e AS (SELECT event_id, user_id, ts,
                      floor(epoch(ts))::BIGINT AS sec,
                      CAST(value AS DECIMAL(18,6)) AS v
               FROM events)
    SELECT event_id, user_id,
           COUNT(*) OVER w24 AS n_24h,
           CAST(SUM(v) OVER w24 AS DOUBLE) AS sum_value_24h,
           COALESCE(sec - LAG(sec) OVER (PARTITION BY user_id
                                         ORDER BY sec, event_id), -1) AS gap_s
    FROM e
    WINDOW w24 AS (PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing-24h activity features per user (count, exact-decimal "
    "value sum, gap to previous event in whole seconds, -1 for a "
    "user's first event — NULL-free so engines cannot diverge on null "
    "representation): RANGE frame "
    "over truncated epoch seconds — identical integers in both engines "
    "(Spark unix_timestamp truncates; the oracle floor()s) and peers "
    "aggregate together. One user-key exchange, three features.",
)
def user_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.unix_timestamp("ts").alias("sec"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w24 = (
        W.partitionBy("user_id").orderBy("sec").rangeBetween(-86400, 0)
    )
    wlag = W.partitionBy("user_id").orderBy("sec", "event_id")
    return e.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w24).alias("n_24h"),
        F.sum("v").over(w24).cast("double").alias("sum_value_24h"),
        F.coalesce(F.col("sec") - F.lag("sec").over(wlag), F.lit(-1)).alias(
            "gap_s"
        ),
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join reduction — the shuffle-avoidance technique for
# a selective-dim/huge-fact join at 100 TB: a bitmap built from the dim
# keys rides to every fact task as an 8 KB array literal and drops
# non-matching fact rows IN THE SCAN STAGE (whole-stage codegen, zero
# extra shuffle, no false negatives), so the join's exchange moves only
# the surviving fraction. The exact join still runs after the filter, so
# the OUTPUT is provably identical to the plain join — which is exactly
# what the oracle computes; an in-query assertion proves the bloom
# actually reduced the joined volume.
# ---------------------------------------------------------------------------
def _bloom_bits(keys: list[int], m_bits: int, k: int) -> list[int]:
    """Driver-side bitmap build: md5-derived positions, ``m_bits/64``
    longs. Bounded by the DIM key count (collect of dim keys only)."""
    import hashlib as _hl

    words = [0] * (m_bits // 64)
    for key in keys:
        for i in range(k):
            h = int(_hl.md5(f"{key}#{i}".encode()).hexdigest()[:12], 16) % m_bits
            words[h // 64] |= 1 << (h % 64)
    # as SIGNED 64-bit for Spark long literals
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


@query(
    "bloom_prejoin_revenue",
    sql="""
    SELECT n.n_name AS nation, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_mktsegment = 'BUILDING' AND c.c_acctbal > 7000
    GROUP BY 1
    """,
    doc="Selective dim -> huge fact join with a Bloom pre-filter: a "
    "65536-bit bitmap (3 md5 probes) built from the selective customer "
    "keys is inlined as an array literal and applied to orders in the "
    "scan stage — codegen bit tests, no shuffle, no false negatives — "
    "before the exact join. Output provably equals the plain join (the "
    "oracle runs it); the in-query assertion proves rows were actually "
    "dropped pre-join.",
)
def bloom_prejoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    M_BITS, K = 65536, 3
    cust = (
        load(spark, sf_dir, "customer")
        .where((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 7000))
        .select("c_custkey", "c_nationkey")
    )
    # the collect is bounded by the SELECTIVE DIM's key count — the fact
    # table is never collected, never scanned twice
    keys = [r.c_custkey for r in cust.select("c_custkey").distinct().collect()]
    bm = F.array(*[F.lit(w).cast("long") for w in _bloom_bits(keys, M_BITS, K)])

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    probe = None
    for i in range(K):
        h = (
            f"pmod(cast(conv(substring(md5(concat_ws('#', o_custkey, '{i}')), "
            f"1, 12), 16, 10) as bigint), {M_BITS})"
        )
        hit = F.expr(
            f"(shiftright(element_at(__bm, cast({h} div 64 as int) + 1), "
            f"cast({h} % 64 as int)) & 1) = 1"
        )
        probe = hit if probe is None else probe & hit
    filtered = orders.withColumn("__bm", bm).where(probe).drop("__bm")

    n_raw = orders.count()
    n_filtered = filtered.count()
    assert n_filtered < n_raw, (
        f"bloom pre-filter dropped nothing ({n_filtered}/{n_raw}); the "
        "reduction claim would be false"
    )

    nat = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        filtered.join(F.broadcast(cust), filtered["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# BUCKETED co-located join — the storage-level contract SCALE.md
# prescribes for the 100 TB fact-fact join (bucketBy(4096, orderkey)
# on both fact tables => join-time shuffle disappears forever). This
# query materializes both sides bucketed+sorted by the join key
# (repartitioned to one file per bucket so the sort elides too), forces
# a SortMergeJoin, and asserts the physical plan contains NO Exchange —
# then asserts the UNBUCKETED twin of the same join DOES shuffle, so
# the assert demonstrably measures bucketing and not plan luck. The
# oracle checks the join's values; the plan asserts check its cost.
# ---------------------------------------------------------------------------
@query(
    "bucketed_join_no_shuffle",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey < 3000
    GROUP BY 1
    """,
    doc="Hive-bucketed fact-fact join: both sides bucketBy(8, key) + "
    "sortBy, one file per bucket; SortMergeJoin planned with ZERO "
    "Exchange (plan-asserted), while the unbucketed twin's plan shuffles "
    "both sides (also asserted) - the storage contract that removes the "
    "join shuffle at 100 TB.",
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    tag = uuid.uuid4().hex[:10]
    base_dir = scratch_dir(spark, "bucketed_")
    o = (
        load(spark, sf_dir, "orders")
        .where("o_orderkey < 3000")
        .select("o_orderkey", "o_orderstatus")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .where("l_orderkey < 3000")
        .select("l_orderkey", "l_extendedprice")
    )

    def publish(df: DataFrame, key: str, name: str) -> DataFrame:
        # one write task per bucket (hash-aligned repartition) => one file
        # per bucket => Spark trusts the sort order and elides sorts too
        (
            df.repartition(8, key)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", f"{base_dir}/{name}")
            .mode("overwrite")
            .saveAsTable(f"{name}_{tag}")
        )
        return spark.table(f"{name}_{tag}")

    to, tl = publish(o, "o_orderkey", "b_orders"), publish(li, "l_orderkey", "b_lineitem")

    from data_etl_pipeline_spark.plans.planassert import formatted_plan as plan_of

    joined = tl.hint("merge").join(to, tl.l_orderkey == to.o_orderkey)
    bucketed_plan = plan_of(joined)
    assert "SortMergeJoin" in bucketed_plan, bucketed_plan
    assert "Exchange" not in bucketed_plan, bucketed_plan
    # the unbucketed twin of the SAME join must shuffle — proving the
    # assert above measures bucketing, not accidental plan shape
    plain = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    assert "Exchange" in plan_of(plain)
    out = joined.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
    # The analysed frame holds the resolved file relations, so the two
    # catalog entries can go; their files are external (under base_dir)
    # and stay until the session stops.
    for name in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE {name}_{tag}")
    return out


# ---------------------------------------------------------------------------
# Explicit GROUPING SETS with grouping_id — the general form behind
# ROLLUP/CUBE (both already covered): an ARBITRARY set of grouping
# combinations computed in ONE pass via Expand before the partial
# aggregate (subtotals never cost one scan per level), with
# grouping_id() disambiguating which combination produced each row —
# the marker every BI layer keys on, since NULL-as-subtotal is
# ambiguous when the column itself is nullable.
# ---------------------------------------------------------------------------
@query(
    "grouping_sets_priority_status",
    sql="""
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority), ())
    """,
    doc="Arbitrary GROUPING SETS (status / priority / both / grand "
    "total) in ONE Expand+aggregate pass, grouping_id disambiguating "
    "subtotal rows from genuine NULL groups.",
)
def grouping_sets_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spark.sql registers each keyword frame as a temp view only while it
    # analyses the text, so the session catalog is left as it was
    return spark.sql(
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               grouping_id(o_orderstatus, o_orderpriority) AS gid,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        """,
        orders=load(spark, sf_dir, "orders"),
    )


# ---------------------------------------------------------------------------
# AQE runtime join re-planning, demonstrated: a join whose build side
# is small ONLY AFTER a selective filter (statically sized near the
# full table, so the initial plan is a SortMergeJoin) gets re-planned
# to a BroadcastHashJoin from RUNTIME shuffle statistics — the exact
# mechanism that makes shuffle-partition counts and broadcast
# thresholds soft targets at 1000 executors. Asserted on the ADAPTIVE
# executed plan after the action; the static plan is asserted to have
# started as SMJ so the check cannot pass vacuously.
# ---------------------------------------------------------------------------
@query(
    "aqe_runtime_broadcast_join",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9900
    GROUP BY 1
    """,
    doc="AQE converts a statically-planned SortMergeJoin to a broadcast "
    "join from runtime shuffle sizes (selective dim filter); both the "
    "static SMJ start and the adaptive BHJ finish are asserted.",
)
def aqe_runtime_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9900)

    def agg() -> DataFrame:
        j = orders.join(cust, orders.o_custkey == cust.c_custkey)
        return j.groupBy(F.col("o_orderstatus").alias("status")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )

    # THE two knobs this query demonstrates (scoped by conf_scope): the
    # STATIC threshold off => the planner must pick SortMergeJoin (an
    # explicit `merge` hint would instead BIND AQE too — user hints are
    # honored through re-planning, so that formulation can never convert);
    # the ADAPTIVE threshold on => runtime shuffle sizes may re-plan to
    # broadcast once the filtered dim turns out tiny.
    with conf_scope(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "10m",
        },
    ):
        df = agg()
        static_plan = formatted_plan(df)
        assert "SortMergeJoin" in static_plan, static_plan
        rows = df.collect()  # run, so AQE finalizes the adaptive plan
        final_plan = executed_plan(df)
        assert "BroadcastHashJoin" in final_plan, final_plan[:2000]
    # The join ran exactly once (inside the conf scope, where the AQE
    # assertion is valid); hand back its materialized result — a
    # status-grouped frame of at most a few rows — rather than
    # re-building and re-executing the aggregate.
    return local_frame(spark, rows, df.schema)


def _runtime_contract(
    spark: SparkSession,
    build: Callable[[], DataFrame],
    confs: dict[str, str],
    control: dict[str, str],
    marker: str,
    plan_of: Callable[[DataFrame], str] = executed_plan,
) -> DataFrame:
    """A runtime optimization, asserted with a control run.

    Under ``confs``, ``build()`` runs (so AQE finalizes its adaptive plan)
    and ``plan_of`` its plan must carry ``marker``. With ``control``
    layered on top, the same build must NOT carry it and must return the
    same rows. That proves the assertion tests the optimizer's decision,
    not a string that always prints. The plan is only valid inside the
    conf scope, so the first run's rows come back as a local frame;
    every caller's result is a handful of grouped rows.
    """
    with conf_scope(spark, confs):
        df = build()
        rows = df.collect()
        plan = plan_of(df)
        assert marker in plan, plan[:2000]
        with conf_scope(spark, control):
            ctl = build()
            ctl_rows = ctl.collect()
            ctl_plan = plan_of(ctl)
        assert marker not in ctl_plan, ctl_plan[:2000]
        assert sorted(map(tuple, rows)) == sorted(map(tuple, ctl_rows))
    return local_frame(spark, rows, df.schema)


# ---------------------------------------------------------------------------
# AQE skew-join split, demonstrated: a fact-fact SortMergeJoin whose
# probe side funnels ~80% of its rows through ONE join key — the hot
# partition that, at 1000 executors, turns a 5-minute stage into the
# one straggler the whole job waits on. With skew handling on, AQE
# measures the finished shuffle, splits the oversized partition into
# advisory-sized slices, and duplicates the matching build rows per
# slice — runtime salting with no query rewrite. The executed plan is
# asserted to carry the skew marker, and a control run with skew
# handling OFF is asserted NOT to, so the check cannot pass vacuously.
# This is the third plan-asserted runtime contract (after the bucketed
# zero-shuffle join and the AQE runtime-broadcast conversion) that the
# 100 TB story leans on.
# ---------------------------------------------------------------------------
@query(
    "aqe_skew_join_split",
    sql="""
    WITH lk AS (
        SELECT CASE WHEN l_partkey % 10 < 8 THEN 0
                    ELSE l_partkey % 1000 END AS k,
               l_extendedprice
        FROM lineitem
    ),
    pk AS (SELECT p_partkey % 1000 AS k FROM part)
    SELECT CASE WHEN lk.k = 0 THEN 'hot' ELSE 'cold' END AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM lk JOIN pk ON lk.k = pk.k
    GROUP BY 1
    """,
    doc="Deliberately skewed fact-fact join (80% of probe rows on one "
    "key); AQE splits the hot shuffle partition into advisory-sized "
    "slices at runtime (skew=true asserted on the executed plan, and "
    "asserted ABSENT in a control run with skew handling off); oracle "
    "proves output equality.",
    round_added=8,
)
def aqe_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OptimizeSkewedJoin splits a hot reduce partition at MAP-TASK
    # boundaries, and only when the join inputs are Sort directly over
    # an ENSURE_REQUIREMENTS shuffle. Hence two shape constraints here:
    # the round-robin repartition gives the probe side multiple mappers
    # (the sf fixture is one parquet row group = one map task, an
    # unsplittable single chunk; a 100 TB scan has thousands of map
    # tasks naturally), and the build side stays a raw projection — an
    # aggregate between Sort and the shuffle stage defeats the rule's
    # pattern match.
    li = (
        load(spark, sf_dir, "lineitem")
        .select(
            F.when(F.col("l_partkey") % 10 < 8, F.lit(0))
            .otherwise(F.col("l_partkey") % 1000)
            .alias("k"),
            "l_extendedprice",
        )
        .repartition(16)
    )
    pk = load(spark, sf_dir, "part").select((F.col("p_partkey") % 1000).alias("k"))

    def agg() -> DataFrame:
        j = li.join(pk, "k")
        return j.groupBy(
            F.when(F.col("k") == 0, F.lit("hot")).otherwise(F.lit("cold")).alias("bucket")
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )

    # Scoped knobs: broadcast off on BOTH planners (the build side is
    # tiny — a broadcast join has no skew to split, so the demo must
    # stay a SortMergeJoin); skew thresholds lowered to test-data scale
    # (the defaults target 256 MB partitions).
    knobs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
    }
    # control: same join with skew handling off must NOT carry the marker
    return _runtime_contract(
        spark,
        agg,
        knobs,
        {"spark.sql.adaptive.skewJoin.enabled": "false"},
        "skew=true",
    )


# ---------------------------------------------------------------------------
# Dynamic partition pruning — the fourth plan-asserted runtime contract
# (after bucketed zero-shuffle E159, AQE broadcast conversion E168, AQE
# skew split E172). The dim side (top-5 revenue months) is DATA-DERIVED,
# so no static filter can prune the month-partitioned fact scan; DPP
# injects the dim's month set into the fact's PartitionFilters at
# runtime and the scan skips every other partition's files entirely. At
# 100 TB this is the difference between scanning 5/84 months and all of
# them whenever a fact joins a selective dim on the partition key.
# ---------------------------------------------------------------------------
@query(
    "dpp_partition_pruned_join",
    sql="""
    WITH fact AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS mon, o_totalprice
        FROM orders
    ),
    top_months AS (
        SELECT mon
        FROM fact
        GROUP BY mon
        ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC, mon
        LIMIT 5
    )
    SELECT f.mon, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(f.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM fact f JOIN top_months t ON f.mon = t.mon
    GROUP BY f.mon
    """,
    doc="Dynamic partition pruning, plan-asserted: orders staged as a "
    "month-partitioned parquet table, joined to a data-derived dim "
    "(top-5 revenue months, exact-decimal ranking with a mon "
    "tie-break) that no static filter can express; the executed fact "
    "scan must carry dynamicpruningexpression in PartitionFilters, the "
    "DPP-disabled control must not, and both produce identical rows.",
    round_added=9,
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("mon"), "o_totalprice"
    )
    fact_dir = scratch_dir(spark, "dpp_fact_")
    orders.write.mode("overwrite").partitionBy("mon").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # top-5 via rank-then-FILTER, not ORDER BY ... LIMIT: Spark's
    # PartitionPruning rule only injects the runtime subquery when the
    # dim side carries a likely-selective Filter predicate — a Limit
    # does not qualify. The global window is over O(months) rows.
    top_months = (
        orders.groupBy("mon")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
        .withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.col("rev").desc(), F.col("mon"))),
        )
        .where(F.col("rk") <= 5)
        .select("mon")
    )

    def agg() -> DataFrame:
        return (
            fact.join(top_months, "mon")
            .groupBy("mon")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
            )
        )

    # bounded: 5 months; control: DPP off must drop the runtime filter
    # but not change results
    knob = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    return _runtime_contract(
        spark,
        agg,
        {knob: "true"},
        {knob: "false"},
        "dynamicpruningexpression",
        plan_of=lambda df: executed_plan(df).lower(),
    )


# ---------------------------------------------------------------------------
# Exchange reuse — the fifth plan-asserted runtime contract (after
# bucketed zero-shuffle E159, AQE broadcast conversion E168, AQE skew
# split E172, DPP E181). When the same aggregate subtree feeds two
# consumers (the classic "compare every group against every other
# group" self-join), Catalyst computes the scan + shuffle + aggregate
# ONCE and wires the second consumer to a ReusedExchange node. At
# 100 TB that is the difference between one fact-table pass and two —
# free, but only if the two subtrees stay byte-identical, which is why
# the contract deserves an assertion: a refactor that perturbs one side
# (an extra projection, a different column order) silently doubles the
# scan. The control run with spark.sql.exchange.reuse=false proves the
# assertion tracks the optimizer's decision, not a constant string.
# ---------------------------------------------------------------------------
@query(
    "reused_exchange_self_join",
    sql="""
    WITH agg AS (
      SELECT o_orderpriority,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1)
    SELECT a.o_orderpriority AS low_prio, b.o_orderpriority AS high_prio,
           CAST(b.rev - a.rev AS DOUBLE) AS rev_gap
    FROM agg a JOIN agg b ON a.rev < b.rev
    """,
    doc="Self-joined aggregate (every priority paired with every "
    "higher-revenue priority): the scan+shuffle+aggregate subtree is "
    "computed once and the second consumer reads a ReusedExchange "
    "(asserted on the executed plan; asserted absent in a "
    "spark.sql.exchange.reuse=false control with identical rows) — one "
    "fact pass instead of two.",
    round_added=9,
)
def reused_exchange_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
    )

    def pairs() -> DataFrame:
        a, b = agg.alias("a"), agg.alias("b")
        # comparison on the exact DECIMAL — no float order sensitivity
        return a.join(b, F.col("a.rev") < F.col("b.rev")).select(
            F.col("a.o_orderpriority").alias("low_prio"),
            F.col("b.o_orderpriority").alias("high_prio"),
            (F.col("b.rev") - F.col("a.rev")).cast("double").alias("rev_gap"),
        )

    # bounded: O(priorities^2) = 10 rows
    knob = "spark.sql.exchange.reuse"
    return _runtime_contract(
        spark, pairs, {knob: "true"}, {knob: "false"}, "ReusedExchange"
    )


# ---------------------------------------------------------------------------
# Native UNPIVOT (wide -> long): the inverse of the pivot pattern in
# plans/etl.py. At 100 TB the unpivot is a zero-shuffle Expand pass —
# each input row fans out to |metrics| rows map-side — and the grouped
# aggregate that follows is the query's ONLY exchange, carrying
# (flag x metric) pre-reduced rows. The wrong plan here is a UNION ALL
# of per-metric scans (|metrics| passes over the fact table); unpivot
# reads the fact once.
# ---------------------------------------------------------------------------
@query(
    "lineitem_unpivot_metrics",
    sql="""
    SELECT l_returnflag, metric, COUNT(*) AS n,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (UNPIVOT (SELECT l_returnflag, l_quantity, l_extendedprice,
                          l_discount, l_tax FROM lineitem)
          ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME metric VALUE val)
    GROUP BY 1, 2
    """,
    doc="Wide->long reshape via NATIVE df.unpivot (Expand pass, one scan, "
    "zero shuffles until the grouped rollup) + per-(flag, metric) count "
    "and exact-decimal sum; oracle is DuckDB's UNPIVOT of the same "
    "projection. The single-scan property is asserted in-query.",
    round_added=10,
)
def lineitem_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    out = long.groupBy("l_returnflag", "metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(18,2)")).cast("double").alias("total"),
    )
    # one fact scan for all four metrics — the UNION-ALL anti-pattern
    # would show one FileScan per metric
    plan = formatted_plan(out, "simple")
    assert plan.count("FileScan parquet") == 1, plan
    return out


# ---------------------------------------------------------------------------
# TPC-H Q21 shape (suppliers who kept orders waiting): the reference
# relational suite's hardest correlated query — an EXISTS and a NOT
# EXISTS, both correlated on the same key with a <> on a second column.
# The Spark-first rewrite replaces both correlated probes with ONE
# per-order aggregate computed in a single pass: EXISTS(other supplier)
# == n_suppliers > 1, NOT EXISTS(other LATE supplier) == n_late == 1
# (l1 itself is late, so it is the one). At 100 TB the naive plan scans
# the fact table three times and shuffles it twice for the two probes;
# this form scans it once for the stats, once for the candidates, and
# both reuse the same orderkey partitioning. The fixture has no
# l_receiptdate/l_commitdate, so "late" := shipped > 60 days after the
# order date. Reference parity: SURVEY §2.3 J4 (existence joins),
# correlated-EXISTS leg.
# ---------------------------------------------------------------------------
@query(
    "q21_waiting_suppliers",
    sql="""
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late,
             o_orderstatus
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey)
    SELECT s_name, n_name, COUNT(*) AS numwait
    FROM supplier, l l1, nation
    WHERE s_suppkey = l1.l_suppkey
      AND l1.o_orderstatus = 'F' AND l1.late
      AND EXISTS (SELECT 1 FROM l l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
      AND s_nationkey = n_nationkey
    GROUP BY s_name, n_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape: doubly-correlated EXISTS / NOT EXISTS collapsed "
    "into one per-order aggregate (distinct suppliers, distinct LATE "
    "suppliers) — one fact pass instead of two correlated probes; "
    "supplier+nation dims broadcast; deterministic tie-break sort.",
    round_added=10,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderstatus")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    l = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias(
            "late"
        ),
        "o_orderstatus",
    )
    stats = l.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    dims = F.broadcast(
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(load(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    waiting = (
        l.where(F.col("late") & (F.col("o_orderstatus") == "F"))
        .join(
            stats.where((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .join(dims, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        waiting.groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Runtime Bloom-filter join injection — the SIXTH plan-asserted runtime
# contract (after bucketed zero-shuffle E159, AQE broadcast conversion
# E168, AQE skew split E172, DPP E181, exchange reuse E184), and the
# optimizer-owned twin of the hand-built bloom_prejoin_revenue above:
# when a shuffle join has a selective build side, Catalyst's
# InjectRuntimeFilters plants a bloom_filter_agg subquery on that side
# and a might_contain() predicate on the probe side's SCAN, so
# non-matching fact rows die before the exchange — on a 100 TB fact
# table that is the difference between shuffling the full table and
# shuffling the surviving fraction, with zero query rewrite. The filter
# lives in the OPTIMIZED LOGICAL plan (it is invisible in the physical
# explain once rewritten), which is what the assertion reads; the
# control run with the injection rule disabled must lose the filter and
# keep the rows, proving the assertion tracks the optimizer's decision.
# The 10 GB application-side threshold (always met by a real fact
# table) is lowered in a scoped conf so the sf-test files qualify —
# the MECHANISM is the contract being pinned.
# ---------------------------------------------------------------------------
@query(
    "runtime_bloom_filter_join",
    sql="""
    SELECT l.l_linestatus AS status, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS big_order_value
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    GROUP BY 1
    """,
    doc="Optimizer-injected runtime Bloom filter: a selective orders "
    "build side plants a might_contain() predicate on the lineitem scan "
    "(asserted in the optimized logical plan; asserted absent in a "
    "runtime.bloomFilter.enabled=false control with identical rows), so "
    "the fact exchange moves only probable matches. The manual twin is "
    "bloom_prejoin_revenue; this one is free and survives query "
    "rewrites.",
    round_added=10,
)
def runtime_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def agg() -> DataFrame:
        orders = (
            load(spark, sf_dir, "orders")
            .where(F.col("o_totalprice") > 400000)
            .select("o_orderkey")
        )
        li = load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linestatus", "l_extendedprice"
        )
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy(F.col("l_linestatus").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("big_order_value"),
            )
        )

    knobs = {
        # injection only targets shuffle joins; scoped off so the small
        # sf dims don't broadcast past the rule
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # default 10 GB probe-side floor — met trivially at 100 TB,
        # lowered so the test-scale files exercise the same rule
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    }
    # bounded: O(linestatus) = 2 rows
    return _runtime_contract(
        spark,
        agg,
        knobs,
        {"spark.sql.optimizer.runtime.bloomFilter.enabled": "false"},
        "might_contain",
        plan_of=optimized_plan,
    )


# ---------------------------------------------------------------------------
# Ordered string aggregation — Spark 4's listagg ... WITHIN GROUP (the
# SQL:2016 ordered-set aggregate; DuckDB spells it string_agg ... ORDER
# BY). The reporting shape every catalog/roster export needs: collapse a
# ranked group into ONE deterministic delimited string. Before listagg
# the idiom was sort_array(collect_list(struct(rk, name))) + transform +
# array_join — three nested expressions the optimizer cannot reason
# about; listagg is a single aggregate with partial (map-side) buffers.
# Determinism contract: the WITHIN GROUP order key (rk) is made unique
# per group by the row_number tie-break below, so both engines emit the
# identical string.
# ---------------------------------------------------------------------------
@query(
    "nation_top_customer_roster",
    sql="""
    WITH ranked AS (
        SELECT n_name, c_name,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_custkey) AS rk
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name AS nation,
           string_agg(c_name, ',' ORDER BY rk) AS top_customers,
           COUNT(*) AS n_top
    FROM ranked WHERE rk <= 3 GROUP BY n_name
    """,
    doc="Per-nation roster of the 3 highest-balance customers collapsed "
    "into one ordered CSV via listagg WITHIN GROUP (ORDER BY rk) — the "
    "ordered-set aggregate replacing the sort_array(collect_list(...)) "
    "idiom; rank ties broken by custkey so the string is deterministic "
    "in both engines. Map-side top-k pruning bounds the aggregate input "
    "at 3 rows per nation.",
    round_added=10,
)
def nation_top_customer_roster(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_nationkey", "c_name", "c_acctbal", "c_custkey")
    nat = F.broadcast(load(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    ranked = (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("c_nationkey").orderBy(
                    F.col("c_acctbal").desc(), F.col("c_custkey")
                )
            ),
        )
        .where(F.col("rk") <= 3)
    )
    return ranked.groupBy(F.col("n_name").alias("nation")).agg(
        F.expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY rk)").alias(
            "top_customers"
        ),
        F.count(F.lit(1)).alias("n_top"),
    )


# ---------------------------------------------------------------------------
# NOT IN null semantics (round 11): the ANSI trap the J3 anti-join
# (NOT EXISTS -> plain LeftAnti) deliberately sidesteps. `key NOT IN
# (subquery)` is three-valued: ONE NULL in the subquery makes the
# predicate UNKNOWN for every row and the result EMPTY. Catalyst plans
# this as a null-aware anti join (LeftAnti with the key-OR-isnull
# condition / NullAwareAntiJoin under BHJ) rather than the plain anti
# join NOT EXISTS gets — both variants run here side by side and the
# plan is asserted to contain the null-aware condition. Reference
# parity: the reference's Mongo $nin has the same three-valued hazard
# its query builders guard with $ne null (SURVEY J3 notes).
# ---------------------------------------------------------------------------
@query(
    "not_in_null_semantics",
    sql="""
    SELECT 'clean_subquery' AS variant, COUNT(*) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderkey < 900)
    UNION ALL
    SELECT 'null_poisoned' AS variant, COUNT(*) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (
        SELECT CASE WHEN o_orderkey % 250 = 0 THEN NULL ELSE o_custkey END
        FROM orders WHERE o_orderkey < 900)
    """,
    doc="ANSI NOT IN three-valued-logic: the same subquery with one NULL "
    "injected flips the anti-join result to empty; Spark's null-aware "
    "anti join and DuckDB agree on both variants (plan-asserted: the "
    "poisoned variant does NOT plan as a plain LeftAnti).",
    round_added=11,
)
def not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    tables = {
        "customer": load(spark, sf_dir, "customer"),
        "orders": load(spark, sf_dir, "orders"),
    }
    clean = spark.sql(
        """
        SELECT 'clean_subquery' AS variant, COUNT(*) AS n_customers
        FROM {customer}
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM {orders} WHERE o_orderkey < 900)
        """,
        **tables,
    )
    poisoned = spark.sql(
        """
        SELECT 'null_poisoned' AS variant, COUNT(*) AS n_customers
        FROM {customer}
        WHERE c_custkey NOT IN (
            SELECT CASE WHEN o_orderkey % 250 = 0 THEN NULL ELSE o_custkey END
            FROM {orders} WHERE o_orderkey < 900)
        """,
        **tables,
    )
    # the poisoned variant must carry the null-aware join condition —
    # a plain anti join here would silently return the clean answer
    plan = optimized_plan(poisoned)
    assert "isnull" in plan.lower() or "null_aware" in plan.lower(), plan
    return clean.unionByName(poisoned)


# ---------------------------------------------------------------------------
# Null-safe equi-join (round 11): `<=>` / IS NOT DISTINCT FROM treats
# NULL as a joinable value (NULL <=> NULL is TRUE) while `=` drops those
# rows — the join you need when the key is legitimately optional and
# "both unknown" should still pair. EqualNullSafe remains a HASHABLE
# join condition (asserted: no nested-loop/cartesian in the plan), so
# the shape scales like any equi-join.
# ---------------------------------------------------------------------------
@query(
    "null_safe_key_join",
    sql="""
    WITH c AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 13 = 0 THEN NULL ELSE c_nationkey END AS c_nk
        FROM customer
    ), s AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_nationkey END AS s_nk
        FROM supplier
    )
    SELECT COALESCE(CAST(c_nk AS VARCHAR), 'NULL-key') AS join_key,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(DISTINCT s_suppkey) AS n_suppliers
    FROM c JOIN s ON c_nk IS NOT DISTINCT FROM s_nk
    GROUP BY 1
    """,
    doc="Null-safe equi-join (eqNullSafe / IS NOT DISTINCT FROM): "
    "NULL-keyed rows on both sides pair up instead of vanishing; the "
    "condition stays hashable (plan-asserted: no nested-loop join).",
    round_added=11,
)
def null_safe_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_custkey") % 13 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("c_nk"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("s_nationkey"))
        .alias("s_nk"),
    )
    joined = c.join(s, c["c_nk"].eqNullSafe(s["s_nk"]))
    plan = executed_plan(joined)
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    return joined.groupBy(
        F.coalesce(F.col("c_nk").cast("string"), F.lit("NULL-key")).alias("join_key")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("c_custkey").alias("n_customers"),
        F.countDistinct("s_suppkey").alias("n_suppliers"),
    )
