"""Advanced relational shapes: as-of join, sessionization, grouping-set
rollups, conditional aggregation, percent-of-total, scalar-subquery max.

These extend SURVEY §2's inventory with the query shapes a 100 TB
training-data/analytics pipeline needs that the reference engine never
grew (its workload was point lookups + per-record folds). Each is a
declarative Catalyst plan with a DuckDB oracle; decimal-exact money math
follows the registry's float-determinism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_etl_pipeline_spark.operators.asof import asof_join
from data_etl_pipeline_spark.plans.registry import query
from data_etl_pipeline_spark.session import scratch_dir
from data_etl_pipeline_spark.tables import load


def _dec(col, prec: int = 12, scale: int = 2):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


def _one():
    return F.expr("cast(1.0 as decimal(3,2))")


# ---------------------------------------------------------------------------
# As-of join: each event -> the customer's latest order at or before ts.
# Union+window formulation (operators/asof.py): one shuffle, no range join.
# The oracle states the same semantics independently as a range join +
# row_number top-1, which DuckDB can afford at sf0.01.
# ---------------------------------------------------------------------------
@query(
    "events_asof_orders",
    sql="""
    SELECT event_id, user_id, ts, asof_orderkey, asof_orderdate FROM (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey  AS asof_orderkey,
               o.o_orderdate AS asof_orderdate,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) t WHERE rn = 1
    """,
    doc="As-of (point-in-time) join via single-shuffle union+window.",
    bench_tier=1,
)
def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.col("o_orderdate").alias("asof_orderdate"),
    )
    joined = asof_join(
        events.withColumnRenamed("user_id", "o_custkey"),
        orders,
        on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["asof_orderkey", "asof_orderdate"],
        tiebreak="asof_orderkey",
    )
    return joined.where(F.col("asof_orderkey").isNotNull()).select(
        "event_id", F.col("o_custkey").alias("user_id"), "ts", "asof_orderkey", "asof_orderdate"
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-based sessions with Spark's native session_window.
# The scalable path for user-activity splitting (map-side session merge,
# one shuffle per user key). Oracle: lag/cumulative-sum session ids —
# an independent formulation of the same gap semantics. A streamed
# variant with watermarking runs in streaming/windows.py.
# ---------------------------------------------------------------------------
_SESSIONS_SQL = """
    WITH g AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 6 HOUR
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, sid
    """


@query(
    "user_sessions_gap",
    sql=_SESSIONS_SQL,
    doc="Gap-based sessionization (session_window vs lag/cumsum oracle).",
    bench_tier=1,
)
def user_sessions_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id", F.session_window("ts", "6 hours").alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", 18, 6)).cast("double").alias("session_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
    )


@query(
    "stream_user_sessions",
    sql=_SESSIONS_SQL,
    doc="Streaming sessionization (session_window state store + watermark), "
    "oracle-checked against the same lag/cumsum SQL as the batch twin.",
)
def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import run_stream_user_sessions

    return run_stream_user_sessions(spark, sf_dir)


@query(
    "stream_dedup_first_seen",
    sql="""
    SELECT user_id, event_type, event_id, ts FROM (
        SELECT user_id, event_type, event_id, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events) t
    WHERE rn = 1
    """,
    doc="Custom stateful streaming dedup (applyInPandasWithState keyed "
    "seen-set); single-file source makes arrival order = ts order, so the "
    "batch row_number oracle states the same result.",
)
def stream_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.stateful import run_stream_dedup_first_seen

    return run_stream_dedup_first_seen(spark, sf_dir)


@query(
    "stream_user_profile_state",
    sql="""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
    doc="Arbitrary-stateful per-user profile (applyInPandasWithState: one "
    "state tuple per user accreting n_events / distinct-type set / last_ts "
    "across three ts-ordered micro-batches); every emitted field is "
    "monotone per user, so the max-per-user drain equals the final state "
    "and the batch COUNT/COUNT DISTINCT/MAX oracle checks it exactly.",
    round_added=10,
)
def stream_user_profile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.stateful import (
        run_stream_user_profile_apws,
    )

    return run_stream_user_profile_apws(spark, sf_dir)


# NOTE: the profile operator above runs on applyInPandasWithState, not
# on transformWithStateInPandas (Spark 4's typed-state successor API),
# whose Python worker needs the `protobuf` runtime; that variant was
# never a declared query and is not kept.


# ---------------------------------------------------------------------------
# ROLLUP grouping sets — subtotals + grand total in one pass (partial
# aggregation applies per grouping set; one shuffle). The reference has no
# grouping sets (SURVEY §2.4 note); an analytics surface needs them.
# ---------------------------------------------------------------------------
@query(
    "order_priority_rollup",
    sql="""
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP subtotals/grand total (grouping-sets aggregation).",
)
def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice", 18, 2)).cast("double").alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q12 shape: join + CASE conditional aggregation. One fact-fact
# shuffle join (orderkey) + one grouped agg; priorities fold map-side.
# ---------------------------------------------------------------------------
@query(
    "returnflag_priority_counts",
    sql="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate
    GROUP BY l_returnflag
    """,
    doc="Conditional aggregation over a fact-fact join (TPC-H Q12 shape).",
)
def returnflag_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue per customer, top 20. Star join
# (customer/nation broadcast onto the fact side), decimal-exact revenue so
# the top-k cut is deterministic across engines.
# ---------------------------------------------------------------------------
@query(
    "returned_items_revenue",
    sql="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="Top-k revenue star join (TPC-H Q10 shape); broadcast dims.",
    bench_tier=1,
)
def returned_items_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = _dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2))
    return (
        li.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            li.l_orderkey == orders.o_orderkey,
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape: percent-of-total (market share) — conditional share of a
# grouped decimal sum. Supplier-nation share of global revenue per year.
# ---------------------------------------------------------------------------
@query(
    "nation_market_share",
    sql="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN n_name = 'NATION_7'
                         THEN CAST(l_extendedprice AS DECIMAL(12,2))
                              * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                         ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS mkt_share
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY year(o_orderdate)
    """,
    doc="Percent-of-total conditional share (TPC-H Q8 shape).",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    vol = _dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2))
    natvol = F.when(F.col("n_name") == "NATION_7", vol).otherwise(
        F.lit(0).cast("decimal(12,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.sum(natvol).cast("double") / F.sum(vol).cast("double")).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Interval-range semantics two ways: the Spark plan is a RANGE-frame window
# (one shuffle on user_id, no join); the oracle states the same question as
# an explicit range self-join. Matching results prove the window frame is
# an exact rewrite of the range join — the rewrite that makes this shape
# viable at 100 TB (the join explodes quadratically per key; the frame is
# a single sorted pass per key).
# ---------------------------------------------------------------------------
@query(
    "events_followup_counts",
    sql="""
    SELECT a.event_id, COUNT(b.event_id) AS n_followups
    FROM events a LEFT JOIN events b
      ON b.user_id = a.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 7 DAY
    GROUP BY a.event_id
    """,
    doc="7-day follow-up counts: RANGE-frame window vs range-join oracle.",
)
def events_followup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    micros_7d = 7 * 86400 * 1_000_000
    w = (
        W.partitionBy("user_id")
        # unix_micros only accepts TIMESTAMP; the cast is a no-op for LTZ
        # reads and, under the UTC session timezone, instant-preserving for
        # TIMESTAMP_NTZ reads — so the micros range frame is NTZ-proof.
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(1, micros_7d)
    )
    return (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts")
        .withColumn("n_followups", F.count(F.lit(1)).over(w))
        .select("event_id", "n_followups")
    )


# ---------------------------------------------------------------------------
# TPC-H Q17 shape: correlated scalar subquery (per-part average) decorrelated
# into a grouped aggregate + broadcast-able join — the rewrite Catalyst
# would have to do for the SQL form, stated explicitly.
# ---------------------------------------------------------------------------
@query(
    "small_quantity_revenue",
    sql="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < (
          SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
    doc="Correlated scalar subquery decorrelated to agg+join (TPC-H Q17).",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    part = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#1").select("p_partkey")
    per_part = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == per_part.avg_partkey)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((F.sum(_dec("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly"))
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets — all four grouping combinations in one pass.
# ---------------------------------------------------------------------------
@query(
    "returnflag_status_cube",
    sql="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets over the fact table.",
)
def returnflag_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


# ---------------------------------------------------------------------------
# LAG analytics: days between consecutive orders per customer (deterministic
# lag ordering via the unique orderkey tiebreak).
# ---------------------------------------------------------------------------
@query(
    "customer_order_gaps",
    sql="""
    SELECT o_custkey, o_orderkey, gap_days FROM (
        SELECT o_custkey, o_orderkey,
               DATE_DIFF('day',
                         LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders) t
    WHERE gap_days IS NOT NULL
    """,
    doc="LAG inter-order gaps per customer.",
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("gap_days"),
        )
        .where(F.col("gap_days").isNotNull())
    )


# ---------------------------------------------------------------------------
# Analytic-function family over one partitioned pass: FIRST_VALUE, a
# 3-row moving average (decimal-exact), and PERCENT_RANK — all share the
# customer partition, so Catalyst evaluates them in a single Window node
# per sort order (one shuffle total).
# ---------------------------------------------------------------------------
@query(
    "order_price_analytics",
    sql="""
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / (COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS ma3_price,
           ROUND(PERCENT_RANK() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice, o_orderkey), 6) AS price_pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="FIRST_VALUE / moving-average frame / PERCENT_RANK in one pass.",
)
def order_price_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    w_date = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_ma = w_date.rowsBetween(-2, W.currentRow)
    w_price = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(w_date).alias("first_price"),
        (
            F.sum(_dec("o_totalprice", 18, 2)).over(w_ma).cast("double")
            / F.count(F.lit(1)).over(w_ma)
        ).alias("ma3_price"),
        F.round(F.percent_rank().over(w_price), 6).alias("price_pct_rank"),
    )


# ---------------------------------------------------------------------------
# NTILE bucketing within each nation (scale-correct: partitioned by the
# nation key, no global sort).
# ---------------------------------------------------------------------------
@query(
    "customer_acctbal_quartiles",
    sql="""
    SELECT c_custkey, c_nationkey,
           NTILE(4) OVER (PARTITION BY c_nationkey
                          ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
    doc="NTILE quartiles per nation partition.",
)
def customer_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", F.ntile(4).over(w).alias("quartile"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape: HAVING on an aggregate, then semi-join the qualifying
# keys back to the facts. The heavy groupBy runs ONCE; its (small) output
# broadcasts into the enrichment join.
# ---------------------------------------------------------------------------
@query(
    "large_order_customers",
    sql="""
    WITH big AS (
        SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > CAST(150 AS DECIMAL(12,2))
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """,
    doc="HAVING on aggregate + semi-join back to facts (TPC-H Q18 shape).",
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .where(F.col("qty_dec") > F.lit(150).cast("decimal(12,2)"))
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# TPC-H Q2 shape: correlated MIN per group decorrelated into a window
# min + equality filter (one shuffle on the part key; no re-join of the
# aggregate against its own input).
# ---------------------------------------------------------------------------
@query(
    "min_acctbal_supplier_per_part",
    sql="""
    SELECT l_partkey, s_suppkey, s_name, s_acctbal FROM (
        SELECT DISTINCT l_partkey, s_suppkey, s_name, s_acctbal,
               MIN(s_acctbal) OVER (PARTITION BY l_partkey) AS min_bal,
               MIN(s_suppkey) OVER (PARTITION BY l_partkey, s_acctbal) AS min_supp
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        WHERE l_partkey < 200
    ) t
    WHERE s_acctbal = min_bal AND s_suppkey = min_supp
    """,
    doc="Correlated MIN decorrelated to window min + filter (TPC-H Q2 shape); "
    "suppkey tiebreak keeps the pick deterministic.",
)
def min_acctbal_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") < 200).select(
        "l_partkey", "l_suppkey"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    pairs = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .select("l_partkey", "s_suppkey", "s_name", "s_acctbal")
        .distinct()
    )
    w_bal = W.partitionBy("l_partkey")
    w_tie = W.partitionBy("l_partkey", "s_acctbal")
    return (
        pairs.withColumn("min_bal", F.min("s_acctbal").over(w_bal))
        .withColumn("min_supp", F.min("s_suppkey").over(w_tie))
        .where((F.col("s_acctbal") == F.col("min_bal")) & (F.col("s_suppkey") == F.col("min_supp")))
        .select("l_partkey", "s_suppkey", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape: grouped value vs a global-scalar fraction (HAVING
# against a broadcast 1-row subquery).
# ---------------------------------------------------------------------------
@query(
    "important_nation_stock",
    sql="""
    WITH v AS (
        SELECT s_nationkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS val
        FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        GROUP BY s_nationkey
    )
    SELECT s_nationkey, CAST(val AS DOUBLE) AS nation_value
    FROM v
    WHERE CAST(val AS DOUBLE) > (SELECT CAST(SUM(val) AS DOUBLE) * 0.04 FROM v)
    """,
    doc="Group value vs global-scalar fraction (TPC-H Q11 shape).",
)
def important_nation_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    v = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("s_nationkey")
        .agg(F.sum(_dec("l_extendedprice", 18, 2)).alias("val"))
    )
    total = v.agg((F.sum("val").cast("double") * 0.04).alias("cutoff"))
    return (
        v.join(F.broadcast(total), F.col("val").cast("double") > F.col("cutoff"))
        .select("s_nationkey", F.col("val").cast("double").alias("nation_value"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q16 shape: grouped COUNT(DISTINCT) over a join with an exclusion
# anti-filter. Distinct-count shuffles on (group, value) first — Spark
# plans the two-phase distinct aggregation automatically.
# ---------------------------------------------------------------------------
@query(
    "brand_supplier_counts",
    sql="""
    SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 19)
    GROUP BY p_brand, p_size
    """,
    doc="Grouped distinct-count over join with exclusion filter (TPC-H Q16 shape).",
)
def brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        load(spark, sf_dir, "part")
        .where((F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 14, 19))
        .select("p_partkey", "p_brand", "p_size")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q22 shape: global scalar average + anti-join ("rich customers who
# never ordered"). The 1-row average broadcasts; the anti-join discovers
# the complement exactly like the reference's double-enqueue guard (J3).
# ---------------------------------------------------------------------------
@query(
    "idle_rich_customers",
    sql="""
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                       FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    doc="Scalar-average filter + NOT EXISTS anti-join (TPC-H Q22 shape).",
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg((F.sum(_dec("c_acctbal", 18, 2)).cast("double") / F.count(F.lit(1))).alias("avg_bal"))
    )
    return (
        cust.join(F.broadcast(avg_bal), cust.c_acctbal > avg_bal.avg_bal)
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(_dec("c_acctbal", 18, 2)).cast("double").alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# S12 as a declared query: round-trip through the CSV format (write the
# filtered orders slice as CSV, read it back with an explicit schema,
# aggregate) — the oracle aggregates the same slice from parquet, so a
# lossy CSV codec (timestamps, floats, quoting) would hash-mismatch.
# ---------------------------------------------------------------------------
@query(
    "csv_roundtrip_agg",
    sql="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    WHERE o_custkey % 10 = 0
    GROUP BY o_orderstatus
    """,
    doc="CSV source/sink round-trip (SURVEY S12): write slice as CSV, read "
    "back with schema, aggregate; lossy codecs would hash-mismatch.",
)
def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir(spark, "csv_rt_")
    sliced = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    # o_orderdate is TIMESTAMP_NTZ -> the NTZ-specific format option applies
    sliced.write.mode("overwrite").option("header", "true").option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss"
    ).csv(out)
    back = (
        spark.read.option("header", "true")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
        )
        .csv(out)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


def _roundtrip_agg(back: DataFrame) -> DataFrame:
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


_ROUNDTRIP_SQL = """
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    WHERE o_custkey % 10 = {rem}
    GROUP BY o_orderstatus
    """


# ---------------------------------------------------------------------------
# S12 widened across formats: the same slice->write->read->aggregate proof
# for ORC (typed columnar: timestamps/doubles round-trip natively) and
# JSON lines (text codec: the NTZ timestamp format must be pinned on both
# sides, like CSV). The oracle aggregates the un-round-tripped rows, so
# any codec loss hash-mismatches.
# ---------------------------------------------------------------------------
@query(
    "orc_roundtrip_agg",
    sql=_ROUNDTRIP_SQL.format(rem=1),
    doc="ORC source/sink round-trip (SURVEY S12 family): write slice as "
    "ORC, read back, aggregate; typed columnar codec round-trips natively.",
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir(spark, "orc_rt_")
    load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 1).write.mode(
        "overwrite"
    ).orc(out)
    return _roundtrip_agg(spark.read.orc(out))


@query(
    "json_roundtrip_agg",
    sql=_ROUNDTRIP_SQL.format(rem=2),
    doc="JSON-lines source/sink round-trip (SURVEY S12 family): write slice "
    "as JSONL, read back with explicit schema + pinned NTZ timestamp "
    "format, aggregate; a lossy text codec would hash-mismatch.",
)
def json_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir(spark, "json_rt_")
    sliced = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 2)
    sliced.write.mode("overwrite").option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss"
    ).json(out)
    back = (
        spark.read.option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
        )
        .json(out)
    )
    return _roundtrip_agg(back)


@query(
    "xml_roundtrip_agg",
    sql=_ROUNDTRIP_SQL.format(rem=3),
    doc="XML source/sink round-trip (SURVEY S12 family): Spark 4's "
    "built-in XML format — write slice as XML with a pinned rowTag and "
    "NTZ timestamp format, read back with explicit schema, aggregate; "
    "a lossy text codec (timestamps, float text form, escaping) would "
    "hash-mismatch.",
    round_added=9,
)
def xml_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = scratch_dir(spark, "xml_rt_")
    sliced = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 3)
    sliced.write.mode("overwrite").format("xml").option("rowTag", "order").option(
        "timestampNTZFormat", "yyyy-MM-dd HH:mm:ss"
    ).save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .option("timestampNTZFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
        )
        .load(out)
    )
    return _roundtrip_agg(back)


# ---------------------------------------------------------------------------
# TPC-H Q3 shape: shipping priority — fact-fact join filtered both sides,
# grouped revenue, deterministic top-10.
# ---------------------------------------------------------------------------
@query(
    "shipping_priority",
    sql="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
    doc="Shipping-priority top-10 (TPC-H Q3 shape).",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = _dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_semi")
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# TPC-H Q6 shape: the canonical pushdown probe — a single-row aggregate
# whose filters must ALL reach the parquet scan.
# ---------------------------------------------------------------------------
@query(
    "forecast_revenue_change",
    sql="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="Single-row filter aggregate; all predicates pushed to the scan (TPC-H Q6).",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(_dec("l_extendedprice") * _dec("l_discount", 4, 2)).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Iterative algorithm: transitive closure of a concept hierarchy (the
# reference's in-driver SKOS tree walk, distributed). The engine's
# fixpoint join loop (operators/hierarchy.py) is checked against DuckDB's
# WITH RECURSIVE on the same derived edges; Spark 4.1's NATIVE recursive
# CTE runs the same closure as concept_ancestor_closure_sql below.
# ---------------------------------------------------------------------------
@query(
    "concept_ancestor_closure",
    sql="""
    WITH RECURSIVE anc AS (
        SELECT p_partkey AS node, p_partkey // 2 AS ancestor, 1 AS depth
        FROM part WHERE p_partkey BETWEEN 2 AND 126
        UNION
        SELECT a.node, e.p_partkey // 2, a.depth + 1
        FROM anc a JOIN part e ON a.ancestor = e.p_partkey
        WHERE e.p_partkey BETWEEN 2 AND 126
    )
    SELECT node, ancestor, MIN(depth) AS depth
    FROM anc GROUP BY node, ancestor
    """,
    doc="Transitive closure via iterative fixpoint joins (the scale path "
    "for deep/unbounded graphs: flat lineage, empty-frontier stop) vs a "
    "WITH RECURSIVE oracle; the native recursive-CTE twin is "
    "concept_ancestor_closure_sql.",
)
def concept_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.hierarchy import transitive_closure

    edges = (
        load(spark, sf_dir, "part")
        .where(F.col("p_partkey").between(2, 126))
        .select(F.col("p_partkey").alias("child"), F.expr("p_partkey div 2").alias("parent"))
    )
    return transitive_closure(edges).select(
        "node", "ancestor", F.col("depth").cast("int").alias("depth")
    )


# ---------------------------------------------------------------------------
# Published-graph QA: the reference validates its RDF graph before serving
# it — URI syntax per subject, duplicate labels across the concept tree,
# and the tree walk itself dies on cycles
# (rdf_validation_service.py:37-79 + rdf_to_graph_util.build_concept_tree).
# This is that validation as ONE distributed audit over a (subject,
# predicate, object) triples table: a fixture graph derived from `part`
# with three injected defect classes — non-http subjects, colliding
# labels, and a subClassOf back-edge forming a cycle. Oracle recomputes
# all three with a recursive CTE.
# ---------------------------------------------------------------------------
@query(
    "triples_integrity_audit",
    sql="""
    WITH RECURSIVE nodes AS (
      SELECT p_partkey AS k,
             CASE WHEN p_partkey % 10 = 0 THEN 'concept:' || p_partkey
                  ELSE 'http://example.org/c/' || p_partkey END AS uri,
             lower(substring(p_name, 1, 8)) AS label
      FROM part WHERE p_partkey BETWEEN 2 AND 126),
    edges AS (
      SELECT c.uri AS child, p.uri AS parent
      FROM nodes c JOIN nodes p ON p.k = c.k // 2 WHERE c.k >= 4
      UNION ALL
      SELECT c.uri, p.uri FROM nodes c, nodes p WHERE c.k = 3 AND p.k = 12),
    anc AS (
      SELECT child AS node, parent AS ancestor FROM edges
      UNION
      SELECT a.node, e.parent FROM anc a JOIN edges e ON a.ancestor = e.child),
    cyc AS (SELECT DISTINCT node FROM anc WHERE node = ancestor),
    dup AS (SELECT label FROM nodes GROUP BY label HAVING COUNT(DISTINCT uri) > 1)
    SELECT 'invalid_uri' AS issue_type, uri AS subject
    FROM nodes WHERE NOT regexp_matches(uri, '^https?://[^/]+/.+')
    UNION ALL
    SELECT 'duplicate_label', n.uri FROM nodes n JOIN dup USING (label)
    UNION ALL
    SELECT 'cycle', node FROM cyc
    """,
    doc="RDF triples integrity audit (URI validity + duplicate labels + "
    "subClassOf cycle detection) — the reference's pre-publication graph "
    "validation as one distributed job over the triples table.",
)
def triples_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.hierarchy import detect_cycles

    base = (
        load(spark, sf_dir, "part")
        .where(F.col("p_partkey").between(2, 126))
        .select(
            F.col("p_partkey").alias("k"),
            F.when(
                F.pmod("p_partkey", F.lit(10)) == 0,
                F.concat(F.lit("concept:"), F.col("p_partkey").cast("string")),
            )
            .otherwise(
                F.concat(
                    F.lit("http://example.org/c/"), F.col("p_partkey").cast("string")
                )
            )
            .alias("uri"),
            F.lower(F.substring("p_name", 1, 8)).alias("label"),
        )
    )
    # materialize the graph AS TRIPLES — the audit below consumes only the
    # (subject, predicate, object) rows, exactly like the reference's
    # validator consumes a parsed graph
    parents = base.select(F.col("k").alias("pk"), F.col("uri").alias("puri"))
    label_t = base.select(
        F.col("uri").alias("subject"),
        F.lit("rdfs:label").alias("predicate"),
        F.col("label").alias("object"),
    )
    edge_t = (
        base.where(F.col("k") >= 4)
        .join(F.broadcast(parents), F.expr("k div 2") == F.col("pk"))
        .select(
            F.col("uri").alias("subject"),
            F.lit("rdfs:subClassOf").alias("predicate"),
            F.col("puri").alias("object"),
        )
    )
    back_edge = (
        base.where(F.col("k") == 3)
        .crossJoin(F.broadcast(parents.where(F.col("pk") == 12)))
        .select(
            F.col("uri").alias("subject"),
            F.lit("rdfs:subClassOf").alias("predicate"),
            F.col("puri").alias("object"),
        )
    )
    triples = label_t.unionByName(edge_t).unionByName(back_edge)
    labels = triples.where(F.col("predicate") == "rdfs:label").select(
        F.col("subject").alias("concept"), F.col("object").alias("label")
    )
    edges = triples.where(F.col("predicate") == "rdfs:subClassOf").select(
        F.col("subject").alias("child"), F.col("object").alias("parent")
    )
    invalid = (
        triples.select("subject")
        .distinct()
        .where(~F.col("subject").rlike("^https?://[^/]+/.+"))
        .select(F.lit("invalid_uri").alias("issue_type"), "subject")
    )
    dup_labels = (
        labels.groupBy("label")
        .agg(F.countDistinct("concept").alias("n"))
        .where(F.col("n") > 1)
        .select("label")
    )
    dups = labels.join(F.broadcast(dup_labels), "label").select(
        F.lit("duplicate_label").alias("issue_type"),
        F.col("concept").alias("subject"),
    )
    cycles = (
        detect_cycles(edges.select("child", "parent"))
        .select(F.col("node").alias("subject"))
        .distinct()
        .select(F.lit("cycle").alias("issue_type"), "subject")
    )
    return invalid.unionByName(dups).unionByName(cycles)


# ---------------------------------------------------------------------------
# TPC-H Q4 shape: EXISTS decorrelated to a left-semi join with a
# non-equi term (the lineitem shipped after the order was placed). The
# testdata carries no l_commitdate/l_receiptdate, so "late line" is
# l_shipdate > o_orderdate — same EXISTS-with-correlated-inequality
# shape, different predicate.
# ---------------------------------------------------------------------------
@query(
    "order_priority_exists",
    sql="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
    doc="Priority counts for orders with at least one late-shipped line "
    "(TPC-H Q4 shape: correlated EXISTS as a semi-join with an "
    "inequality term).",
)
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape: nation-pair trade volume — a 6-table join where the two
# nation dims enter TWICE (supplier side and customer side) under a
# symmetric pair predicate, grouped by the pair and the shipment year.
# Both nation joins broadcast (25 rows); the fact-side joins shuffle on
# their natural keys.
# ---------------------------------------------------------------------------
@query(
    "nation_pair_trade_volume",
    sql="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
       OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE')
    GROUP BY 1, 2, 3
    """,
    doc="Bilateral trade volume by year between two nations (TPC-H Q7 "
    "shape: the nation dim joins twice under a symmetric pair filter).",
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        # nation (25 rows) broadcasts explicitly; supplier/customer/part
        # SCALE with SF (1B supplier rows at the 100 TB point) so their
        # join strategy is left to AQE — broadcast under the threshold
        # locally, sort-merge at scale
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(
            ((F.col("supp_nation") == "FRANCE") & (F.col("cust_nation") == "GERMANY"))
            | ((F.col("supp_nation") == "GERMANY") & (F.col("cust_nation") == "FRANCE"))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2)))
            .cast("double")
            .alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q14 shape: conditional-share aggregate — promo revenue as a
# percentage of total, both sums accumulated EXACTLY in decimal and the
# ratio taken once in double (rounded to 6, the float contract).
# ---------------------------------------------------------------------------
@query(
    "promo_revenue_share",
    sql="""
    WITH j AS (
      SELECT p.p_type,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00')
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev
                                       ELSE CAST(0.0 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS promo_share_pct
    FROM j
    """,
    doc="Promo revenue share for one month (TPC-H Q14 shape: conditional "
    "decimal sums, one double division at the end).",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2))
    # part scales with SF: no explicit broadcast, AQE picks the strategy
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(
                F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(
                    F.lit("0.0").cast("decimal(12,2)")
                )
            ).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_share_pct")
    )


# ---------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive multi-attribute predicate across the
# part/lineitem join — the classic OR-of-ANDs that an engine must keep
# pushing down (partial pushdown of the shared conjuncts) instead of
# materializing the whole join. The testdata has no p_container, so the
# disjuncts pair brand/size bands with quantity bands.
# ---------------------------------------------------------------------------
@query(
    "disjunctive_band_revenue",
    sql="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="Revenue under an OR-of-ANDs brand/size/quantity predicate "
    "(TPC-H Q19 shape: disjunctive pushdown across a join).",
)
def disjunctive_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    # part scales with SF: no explicit broadcast, AQE picks the strategy
    j = li.join(part, li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.where(cond).agg(
        F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2)))
        .cast("double")
        .alias("revenue")
    )


# ---------------------------------------------------------------------------
# TPC-H Q15 shape: scalar-subquery max — supplier(s) with the maximum
# revenue. Spark: aggregate once, broadcast the 1-row max, equi-filter on
# the exact decimal (no double ties).
# ---------------------------------------------------------------------------
@query(
    "top_revenue_supplier",
    sql="""
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total = (SELECT MAX(total) FROM rev)
    ORDER BY s_suppkey
    """,
    doc="Scalar-subquery max (TPC-H Q15 shape); broadcast 1-row max.",
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice") * (_one() - _dec("l_discount", 4, 2))).alias("total"))
    )
    max_rev = rev.agg(F.max("total").alias("max_total"))
    return (
        rev.join(F.broadcast(max_rev), rev.total == max_rev.max_total)
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", F.col("total").cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Funnel analysis over the event stream: per-user first-touch cascade
# view -> click -> purchase, where each stage's first touch must be AT OR
# AFTER the previous stage's (not merely present). Three grouped mins +
# three equi-joins, ALL keyed on user_id — one partitioning serves every
# stage (Exchange reuse), so at 100 TB this is three map-side-combined
# aggs over progressively tiny intermediates, never a sort or window over
# the raw stream.
# ---------------------------------------------------------------------------
@query(
    "event_funnel_stages",
    sql="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts >= v.t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= c.t_click GROUP BY e.user_id),
    u AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id,
           CAST(CAST(v.t_view IS NOT NULL AS INT)
                + CAST(c.t_click IS NOT NULL AS INT)
                + CAST(p.t_purchase IS NOT NULL AS INT) AS INT) AS funnel_stage,
           v.t_view, c.t_click, p.t_purchase
    FROM u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
    doc="Per-user ordered funnel (view -> click -> purchase first-touch "
    "cascade): stage N's first touch must be at/after stage N-1's; one "
    "user_id partitioning reused across all aggs and joins.",
)
def event_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    stage = (
        F.when(F.col("t_view").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_click").isNotNull(), 1).otherwise(0)
        + F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0)
    ).cast("int")
    return (
        ev.select("user_id")
        .distinct()
        .join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", stage.alias("funnel_stage"), "t_view", "t_click", "t_purchase")
    )


# ---------------------------------------------------------------------------
# Interval (range-containment) join with NO equi-key: error events open
# 10-minute incident windows; count all traffic inside each window.
# Catalyst alone would plan `ts BETWEEN start AND end` as a broadcast
# nested loop (or a cartesian product once the window side outgrows the
# broadcast threshold); operators/intervals.py bucketizes the time axis so
# it becomes a shuffled equi-join on the bucket id + exact post-filter —
# both sides scale out, no O(n*m). Bucket width = the window length, so
# each window explodes to <= 2 bucket rows.
# ---------------------------------------------------------------------------
@query(
    "incident_window_event_counts",
    sql="""
    WITH w AS (
        SELECT event_id AS window_id, ts AS w_start,
               ts + INTERVAL 10 MINUTE AS w_end
        FROM events WHERE event_type = 'error' AND event_id % 8 = 0
    )
    SELECT w.window_id, w.w_start,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.window_id, w.w_start
    """,
    doc="Pure range-containment join (no equi-key) via time-bucketed "
    "equi-join: incident windows x the full event stream.",
)
def incident_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.intervals import interval_join

    ev = load(spark, sf_dir, "events")
    windows = (
        ev.where((F.col("event_type") == "error") & (F.col("event_id") % 8 == 0))
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
        )
    )
    points = ev.select(F.col("ts").alias("p_ts"), "user_id", "value")
    return (
        interval_join(points, windows, "p_ts", "w_start", "w_end", bucket_width_s=600)
        .groupBy("window_id", "w_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(_dec("value", 18, 2)).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + forward fill: densify each event type's hourly
# timeline (zero rows for silent hours) and carry the last observed
# hourly average forward. Spark has no generate_series relation — the
# axis is sequence()+explode over per-key (min, max) bounds, then a left
# join back and a last(ignorenulls) window. Scale shape: the dense axis
# is (keys x hours) — metadata-sized next to the raw stream (720 rows per
# key per month) — and the agg, axis join, and window all share one
# event_type partitioning. Avg follows the registry contract: exact
# decimal sum / count in double, rounded before the ffill in both engines.
# ---------------------------------------------------------------------------
@query(
    "event_type_hourly_gap_fill",
    sql="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS cnt,
               SUM(CAST(value AS DECIMAL(18,2))) AS sv
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    bounds AS (
        SELECT event_type, MIN(hr) AS h0, MAX(hr) AS h1 FROM hourly GROUP BY event_type
    ),
    axis AS (
        SELECT b.event_type, UNNEST(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hr
        FROM bounds b
    )
    SELECT a.event_type, a.hr,
           COALESCE(h.cnt, 0) AS n_events,
           ROUND(CAST(h.sv AS DOUBLE) / h.cnt, 6) AS hr_avg_value,
           LAST_VALUE(ROUND(CAST(h.sv AS DOUBLE) / h.cnt, 6) IGNORE NULLS)
               OVER (PARTITION BY a.event_type ORDER BY a.hr
                     ROWS UNBOUNDED PRECEDING) AS ffill_avg_value
    FROM axis a
    LEFT JOIN hourly h ON a.event_type = h.event_type AND a.hr = h.hr
    """,
    doc="Dense hourly timeline per event type (sequence+explode axis) with "
    "zero-filled counts and forward-filled hourly averages.",
)
def event_type_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr"), "value"
    )
    hourly = ev.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(_dec("value", 18, 2)).alias("sv")
    )
    axis = (
        hourly.groupBy("event_type")
        .agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
        .select(
            "event_type",
            F.explode(F.expr("sequence(h0, h1, INTERVAL 1 HOUR)")).alias("hr"),
        )
    )
    hr_avg = F.round(F.col("sv").cast("double") / F.col("cnt"), 6)
    filled = axis.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("n_events"),
        hr_avg.alias("hr_avg_value"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return filled.withColumn(
        "ffill_avg_value", F.last("hr_avg_value", ignorenulls=True).over(w)
    )


# ---------------------------------------------------------------------------
# Skew-proof distinct-set rollup: per-user event-type membership via the
# salted two-phase collector (operators/skew.py). The direct
# groupBy(key).collect_set funnels every row of a hot key through one
# reducer; salting on hash(value) bounds any task's input to ~1/16 of the
# hottest key while partial sets pre-dedup map-side. Result is provably
# identical (sets are order-normalized) — the oracle computes the direct
# rollup.
# ---------------------------------------------------------------------------
@query(
    "user_event_types_salted",
    sql="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    """,
    doc="Distinct-set rollup through the salted two-phase collector "
    "(bounded per-task input on hot keys); identical to the direct rollup.",
)
def user_event_types_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.skew import salted_set_rollup

    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    rolled = salted_set_rollup(ev, "user_id", "event_type", n_salt=16, out_col="types")
    return rolled.select(
        "user_id",
        F.array_join(F.col("types"), ",").alias("event_types"),
        F.size("types").cast("long").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# Distribution-rank window functions (percent_rank / cume_dist) — the two
# ranking shapes the catalog did not yet exercise: supplier account
# balances ranked within their nation. Both are one pass over the same
# per-nation partitioning every other supplier window shares; at 100 TB
# the partition key (nation) bounds each task's sort.
# ---------------------------------------------------------------------------
@query(
    "supplier_balance_distribution",
    sql="""
    SELECT s_nationkey, s_suppkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           CAST(NTILE(4) OVER w AS INT) AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
    doc="percent_rank / cume_dist / ntile over one per-nation partitioning "
    "(SURVEY 2.5 ranking breadth).",
)
def supplier_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("s_nationkey").orderBy(F.asc("s_acctbal"), F.asc("s_suppkey"))
    return load(spark, sf_dir, "supplier").select(
        "s_nationkey",
        "s_suppkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


# ---------------------------------------------------------------------------
# Stream-stream watermarked interval join — two live event streams (views
# and purchases) correlated per user within an event-time window. The one
# Structured Streaming join shape the surface did not yet exercise: both
# sides moving, StreamingSymmetricHashJoin buffering each in keyed state
# under watermarks (streaming/ss_join.py documents the eviction-safety
# argument that makes the exact batch oracle valid).
# ---------------------------------------------------------------------------
@query(
    "stream_stream_attribution",
    sql="""
    SELECT v.user_id,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.event_id) AS n_attributed_purchases
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 60 MINUTE
    GROUP BY v.user_id
    """,
    doc="Stream-stream inner join under watermarks: per-user view->purchase "
    "attribution within 60 minutes, both sides live micro-batched streams; "
    "oracle is the equivalent exact batch interval join.",
)
def stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.ss_join import run_stream_stream_attribution

    return run_stream_stream_attribution(spark, sf_dir)


# ---------------------------------------------------------------------------
# The LEFT OUTER stream-stream join — the semantically hard half of the
# two-moving-sides case: unmatched views must emit (with NULL purchase
# columns) exactly once, when the watermark passes their expiry and the
# state row is evicted unmatched. A far-future flush sentinel forms the
# last micro-batch so the final watermark advance actually evicts every
# buffered row (streaming/ss_join.py::append_flush_sentinel documents
# the under-count pitfall this closes). Oracle is the exact batch LEFT
# interval join — matched pair counts AND miss counts both hash-checked.
# ---------------------------------------------------------------------------
@query(
    "stream_stream_left_outer",
    sql="""
    WITH v AS (SELECT user_id, ts AS vts, event_id AS vid
               FROM events WHERE event_type = 'view'),
    p AS (SELECT user_id, ts AS pts, event_id AS pid
          FROM events WHERE event_type = 'purchase'),
    j AS (
        SELECT v.user_id, v.vid, p.pid
        FROM v LEFT JOIN p
          ON p.user_id = v.user_id
         AND p.pts >= v.vts AND p.pts <= v.vts + INTERVAL 60 MINUTE
    )
    SELECT user_id, COUNT(pid) AS n_pairs,
           CAST(SUM(CASE WHEN pid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched_views
    FROM j GROUP BY 1
    """,
    doc="Watermarked LEFT OUTER stream-stream join: view->purchase pairs "
    "plus NULL-emission of every unmatched view on state expiry, flushed "
    "by a sentinel final micro-batch; oracle is the exact batch left "
    "interval join.",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.ss_join import run_stream_stream_left_outer

    return run_stream_stream_left_outer(spark, sf_dir)


# ---------------------------------------------------------------------------
# Bounded as-of join (pandas merge_asof tolerance parity): same
# single-shuffle union+window plan, but a match farther back than 7 days
# reverts to "no order" — the staleness guard a feature pipeline applies
# so a year-old dimension row cannot silently label a fresh event.
# ---------------------------------------------------------------------------
@query(
    "events_asof_orders_bounded",
    sql="""
    SELECT event_id, user_id, ts, asof_orderkey FROM (
        SELECT e.event_id, e.user_id, e.ts,
               o.o_orderkey AS asof_orderkey,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON o.o_custkey = e.user_id
         AND o.o_orderdate <= e.ts
         AND CAST(o.o_orderdate AS TIMESTAMP) >= e.ts - INTERVAL 7 DAY
    ) t WHERE rn = 1
    """,
    doc="Tolerance-bounded as-of join (merge_asof tolerance): matches "
    "farther than 7 days revert to null; same one-shuffle plan, the "
    "bound is a post-filter.",
)
def events_asof_orders_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_ots"),
        F.col("o_orderkey").alias("asof_orderkey"),
    )
    joined = asof_join(
        events.withColumnRenamed("user_id", "o_custkey"),
        orders,
        on="o_custkey",
        left_ts="ts",
        right_ts="o_ots",
        payload_cols=["asof_orderkey"],
        tiebreak="asof_orderkey",
        tolerance_seconds=7 * 24 * 3600,
    )
    return joined.where(F.col("asof_orderkey").isNotNull()).select(
        "event_id", F.col("o_custkey").alias("user_id"), "ts", "asof_orderkey"
    )


# ---------------------------------------------------------------------------
# Nearest-direction as-of join (pandas merge_asof direction='nearest'):
# closest order by absolute time distance, ties to the backward candidate.
# Both running matches (backward + forward) share the single exchange on
# the join key — two in-partition sort orders, one shuffle.
# ---------------------------------------------------------------------------
@query(
    "events_asof_orders_nearest",
    sql="""
    WITH o AS (SELECT o_custkey, CAST(o_orderdate AS TIMESTAMP) AS o_ts, o_orderkey
               FROM orders),
    b AS (SELECT e.event_id, o.o_orderkey,
                 epoch(e.ts) - epoch(o.o_ts) AS gap,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_ts DESC, o.o_orderkey DESC) AS rn
          FROM events e JOIN o ON o.o_custkey = e.user_id AND o.o_ts <= e.ts),
    f AS (SELECT e.event_id, o.o_orderkey,
                 epoch(o.o_ts) - epoch(e.ts) AS gap,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id
                                    ORDER BY o.o_ts ASC, o.o_orderkey DESC) AS rn
          FROM events e JOIN o ON o.o_custkey = e.user_id AND o.o_ts >= e.ts),
    pick AS (SELECT e.event_id, e.user_id, e.ts,
                    CASE WHEN b.o_orderkey IS NOT NULL
                              AND (f.o_orderkey IS NULL OR b.gap <= f.gap)
                         THEN b.o_orderkey ELSE f.o_orderkey END AS asof_orderkey
             FROM events e
             LEFT JOIN (SELECT * FROM b WHERE rn = 1) b USING (event_id)
             LEFT JOIN (SELECT * FROM f WHERE rn = 1) f USING (event_id))
    SELECT event_id, user_id, ts, asof_orderkey
    FROM pick WHERE asof_orderkey IS NOT NULL
    """,
    doc="merge_asof direction='nearest' parity: each event takes its "
    "user's order CLOSEST in absolute time (ties to the backward "
    "candidate, then greatest orderkey); both running matches ride one "
    "exchange on the key — no range join, no second shuffle.",
)
def events_asof_orders_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("timestamp").alias("o_ots"),
        F.col("o_orderkey").alias("asof_orderkey"),
    )
    joined = asof_join(
        events.withColumnRenamed("user_id", "o_custkey"),
        orders,
        on="o_custkey",
        left_ts="ts",
        right_ts="o_ots",
        payload_cols=["asof_orderkey"],
        tiebreak="asof_orderkey",
        direction="nearest",
    )
    return joined.where(F.col("asof_orderkey").isNotNull()).select(
        "event_id", F.col("o_custkey").alias("user_id"), "ts", "asof_orderkey"
    )


# ---------------------------------------------------------------------------
# Privacy governance: k-anonymity audit + generalization ladder. Fine-
# grained QI tuples (nation x segment) violate k=5 almost everywhere on
# the small customer dim; one ladder step (nation -> region through the
# nation table as the mapping dim) collapses the QI space 5x and the
# re-audit passes broadly. Violations that survive the ladder are the
# exact suppression set.
# ---------------------------------------------------------------------------
@query(
    "kanonymity_generalization_audit",
    sql="""
    WITH gen AS (SELECT n_regionkey AS region, c_mktsegment AS segment
                 FROM customer JOIN nation ON n_nationkey = c_nationkey)
    SELECT region, segment, COUNT(*) AS group_size,
           COUNT(*) < 5 AS is_violation
    FROM gen GROUP BY 1, 2
    """,
    doc="k-anonymity audit (k=5) after one generalization ladder step: "
    "quasi-identifier (nation, segment) coarsened to (region, segment) "
    "through a broadcast mapping dim; the audit is one map-side-combined "
    "hash aggregation, and the ladder step provably shrinks the "
    "violation count (asserted in-query).",
)
def kanonymity_generalization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.privacy import (
        kanonymity_audit,
        kanonymity_generalize,
    )

    cust = load(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    before = kanonymity_audit(cust, ["c_nationkey", "c_mktsegment"], k=5)
    n_before = before.where("is_violation").count()
    mapping = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("value"), F.col("n_regionkey").alias("general")
    )
    gen = kanonymity_generalize(cust, "c_nationkey", mapping, out_col="region")
    after = kanonymity_audit(
        gen.select("region", "c_mktsegment"), ["region", "c_mktsegment"], k=5
    )
    n_after = after.where("is_violation").count()
    # generalization law: a violating post-ladder group would imply a
    # violating constituent pre-ladder group, so the violation count can
    # only shrink. Only the monotone bound is guaranteed — if no violating
    # group merges with anything in its region, n_after == n_before on
    # perfectly valid data (round-7 ADVICE fix: the old strict-decrease
    # assertion could raise during plan construction).
    assert n_after <= n_before, (n_before, n_after)
    return after.select(
        F.col("region"),
        F.col("c_mktsegment").alias("segment"),
        "group_size",
        "is_violation",
    )


# ---------------------------------------------------------------------------
# Grouped weighted median — the robust center a quality-weighted corpus
# mixture wants (plain medians ignore the weights; means chase outliers).
# RANGE-frame cumulative DECIMAL weights make the boundary tie-proof.
# ---------------------------------------------------------------------------
@query(
    "weighted_median_price",
    sql="""
    WITH c AS (SELECT l_returnflag,
                      l_extendedprice AS v,
                      SUM(CAST(l_quantity AS DECIMAL(28,10))) OVER (
                          PARTITION BY l_returnflag ORDER BY l_extendedprice) AS cum,
                      SUM(CAST(l_quantity AS DECIMAL(28,10))) OVER (
                          PARTITION BY l_returnflag) AS tot
               FROM lineitem)
    SELECT l_returnflag AS returnflag, MIN(v) AS weighted_median
    FROM c WHERE cum * 2 >= tot GROUP BY 1
    """,
    doc="Quantity-weighted median price per return flag: smallest price "
    "whose cumulative weight reaches half the group's total. The default "
    "RANGE window frame sums PEERS together, so equal prices cannot make "
    "the cumulative sum tie-order-dependent; weights accumulate as exact "
    "decimals.",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.profile import weighted_median

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    return weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity"
    ).select(F.col("l_returnflag").alias("returnflag"), "weighted_median")


# ---------------------------------------------------------------------------
# LOCF resampling — regularize each user's irregular event series onto a
# fixed 6-hour grid, each grid point carrying the last observation at or
# before it. The feature-pipeline step before any windowed model. The
# grid is key-local (sequence+explode over the key's own span — no
# calendar-dim cross join) and the fill IS the as-of join: one
# union+window shuffle total. Grid starts at the bucket CEILING of the
# first observation, so the output has no NULL holes by construction.
# ---------------------------------------------------------------------------
@query(
    "events_resample_locf",
    sql="""
    WITH s AS (SELECT user_id,
                      -- floor(epoch()) first: Spark's unix_timestamp
                      -- TRUNCATES fractional seconds, and ceil over the
                      -- raw fractional epoch would round a first
                      -- observation just past a boundary into the next
                      -- bucket (engine divergence)
                      MIN(CAST(ceil(floor(epoch(ts)) / 21600.0) AS BIGINT)) AS lo,
                      MAX(CAST(floor(floor(epoch(ts)) / 21600.0) AS BIGINT)) AS hi
               FROM events GROUP BY user_id),
    g AS (SELECT user_id,
                 TIMESTAMP '1970-01-01 00:00:00'
                     + (unnest(generate_series(lo, hi)) * 21600) * INTERVAL 1 SECOND
                     AS grid_ts
          FROM s WHERE lo <= hi),
    m AS (SELECT g.user_id, g.grid_ts, e.value AS locf_value,
                 ROW_NUMBER() OVER (PARTITION BY g.user_id, g.grid_ts
                                    ORDER BY e.ts DESC, e.event_id DESC) AS rn
          FROM g JOIN events e
            ON e.user_id = g.user_id AND e.ts <= g.grid_ts)
    SELECT user_id, grid_ts, locf_value FROM m WHERE rn = 1
    """,
    doc="Per-user LOCF resampling onto a 6h grid (pandas .resample().ffill() "
    "at cluster scale): grid generated key-locally via sequence+explode, "
    "fill via the single-shuffle union+window as-of join; grid starts at "
    "the bucket ceiling of the first observation so no grid point precedes "
    "all data (round-7 ADVICE fix). Ties at one timestamp resolve to the "
    "greatest event_id in both engines.",
)
def events_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.asof import resample_locf

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value", "event_id")
    out = resample_locf(
        ev, "user_id", "ts", "value", tiebreak="event_id", step_seconds=21600
    )
    return out.select("user_id", "grid_ts", F.col("value").alias("locf_value"))


# ---------------------------------------------------------------------------
# Winsorized robust statistics — clip each group's values at its own
# exact p05/p95 before averaging, the outlier-robust center a
# quality-score mixer wants (means chase outliers, plain medians ignore
# spread). Bounds are exact interpolated percentiles rounded to 6
# decimals in BOTH engines before clipping, so a value at the boundary
# clips identically; clipped values accumulate as exact decimals.
# ---------------------------------------------------------------------------
@query(
    "winsorized_price_stats",
    sql="""
    WITH b AS (SELECT l_returnflag,
                      ROUND(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
                      ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
               FROM lineitem GROUP BY 1),
    c AS (SELECT l.l_returnflag,
                 CAST(LEAST(GREATEST(l.l_extendedprice, b.p05), b.p95)
                      AS DECIMAL(18,6)) AS w,
                 b.p05, b.p95
          FROM lineitem l JOIN b USING (l_returnflag))
    SELECT l_returnflag AS returnflag, MIN(p05) AS p05, MIN(p95) AS p95,
           COUNT(*) AS n,
           ROUND(CAST(SUM(w) AS DOUBLE) / COUNT(*), 6) AS winsorized_mean
    FROM c GROUP BY 1
    """,
    doc="Per-group winsorization at exact p05/p95: bounds from one "
    "percentile aggregation broadcast back onto the fact rows, clipping "
    "via least/greatest in codegen, decimal accumulation of the clipped "
    "values. Bounds are rounded to 6 decimals in both engines before "
    "clipping so boundary rows cannot clip differently.",
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    b = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.05D)"), 6).alias("p05"),
        F.round(F.expr("percentile(l_extendedprice, 0.95D)"), 6).alias("p95"),
    )
    c = li.join(F.broadcast(b), "l_returnflag").withColumn(
        "w",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")), F.col("p95"))
        .cast("decimal(18,6)"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min("p05").alias("p05"),
        F.min("p95").alias("p95"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("w").cast("double") / F.count(F.lit(1)), 6).alias(
            "winsorized_mean"
        ),
    ).select(F.col("l_returnflag").alias("returnflag"), "p05", "p95", "n", "winsorized_mean")


# ---------------------------------------------------------------------------
# Hopping (sliding) windows — each event lands in window_len/slide
# overlapping windows. Spark's native window(ts, '1 hour', '15 minutes')
# does the 4x fan-out inside the Expand-free TimeWindow expression; the
# oracle makes the fan-out explicit (4 shifted tumbling buckets).
# ---------------------------------------------------------------------------
@query(
    "hopping_event_stats",
    sql="""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
               + ((floor(epoch(ts))::BIGINT // 900) - k.k) * 900 * INTERVAL 1 SECOND
               AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    GROUP BY 1, 2
    """,
    doc="Hopping-window aggregation (1h window, 15min slide): Spark's "
    "native sliding TimeWindow fans each event into its 4 covering "
    "windows; the oracle writes the same fan-out as 4 shifted tumbling "
    "buckets. The streaming twin is the same plan under readStream "
    "(SURVEY ST1 family).",
)
def hopping_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").getField("start").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Annotation QA: Cohen's kappa between two deterministic labelers (char-
# length buckets vs word-count buckets) per language — chance-corrected
# agreement, the metric a labeling pipeline reports before trusting
# auto-labels. All marginals are integer counts; the two divisions run
# on identical integers in both engines and round to 6 decimals.
# ---------------------------------------------------------------------------
@query(
    "annotator_agreement_kappa",
    sql="""
    WITH lab AS (
      SELECT lang,
             CASE WHEN n_chars >= 300 THEN 'long'
                  WHEN n_chars >= 150 THEN 'mid' ELSE 'short' END AS a,
             CASE WHEN len(string_split(text, ' ')) >= 50 THEN 'long'
                  WHEN len(string_split(text, ' ')) >= 25 THEN 'mid'
                  ELSE 'short' END AS b
      FROM documents),
    agg AS (
      SELECT lang, COUNT(*) AS n,
             SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
             SUM(CASE WHEN a = 'long' THEN 1 ELSE 0 END) AS al,
             SUM(CASE WHEN a = 'mid' THEN 1 ELSE 0 END) AS am,
             SUM(CASE WHEN a = 'short' THEN 1 ELSE 0 END) AS ash,
             SUM(CASE WHEN b = 'long' THEN 1 ELSE 0 END) AS bl,
             SUM(CASE WHEN b = 'mid' THEN 1 ELSE 0 END) AS bm,
             SUM(CASE WHEN b = 'short' THEN 1 ELSE 0 END) AS bs
      FROM lab GROUP BY lang)
    SELECT lang, n,
           ROUND(CAST(agree AS DOUBLE) / n, 6) AS po,
           ROUND(CAST(al * bl + am * bm + ash * bs AS DOUBLE) / (n * n), 6) AS pe,
           ROUND((CAST(agree AS DOUBLE) / n
                  - CAST(al * bl + am * bm + ash * bs AS DOUBLE) / (n * n))
                 / (1 - CAST(al * bl + am * bm + ash * bs AS DOUBLE) / (n * n)),
                 6) AS kappa
    FROM agg
    """,
    doc="Cohen's kappa per language between a char-length labeler and a "
    "word-count labeler: observed agreement po, chance agreement pe from "
    "the marginal products, kappa = (po-pe)/(1-pe). One hash aggregation "
    "carrying nine integer counters; divisions happen once per group on "
    "identical integers.",
)
def annotator_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    a = (
        F.when(F.col("n_chars") >= 300, "long")
        .when(F.col("n_chars") >= 150, "mid")
        .otherwise("short")
    )
    wc = F.size(F.split(F.col("text"), " "))
    b = F.when(wc >= 50, "long").when(wc >= 25, "mid").otherwise("short")
    lab = docs.select("lang", a.alias("a"), b.alias("b"))

    def cnt(c, v):
        return F.sum((F.col(c) == v).cast("long"))

    agg = lab.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("agree"),
        cnt("a", "long").alias("al"), cnt("a", "mid").alias("am"),
        cnt("a", "short").alias("ash"),
        cnt("b", "long").alias("bl"), cnt("b", "mid").alias("bm"),
        cnt("b", "short").alias("bs"),
    )
    po = F.col("agree").cast("double") / F.col("n")
    pe = (
        F.col("al") * F.col("bl") + F.col("am") * F.col("bm")
        + F.col("ash") * F.col("bs")
    ).cast("double") / (F.col("n") * F.col("n"))
    return agg.select(
        "lang", "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Robust outlier flagging: median/MAD z-scores per group (mean/stddev
# chase the very outliers they should flag; the MAD breaks down only at
# 50% contamination). Two percentile passes, each broadcast back; the
# 1.4826 normal-consistency constant and the 3-sigma cut are identical
# double literals in both engines.
# ---------------------------------------------------------------------------
@query(
    "mad_outlier_flags",
    sql="""
    WITH med AS (SELECT l_returnflag,
                        ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS med
                 FROM lineitem GROUP BY 1),
    dev AS (SELECT l.l_returnflag, l.l_extendedprice, m.med,
                   ABS(l.l_extendedprice - m.med) AS ad
            FROM lineitem l JOIN med m USING (l_returnflag)),
    mad AS (SELECT l_returnflag, ROUND(quantile_cont(ad, 0.5), 6) AS mad
            FROM dev GROUP BY 1)
    SELECT d.l_returnflag AS returnflag, MIN(d.med) AS med, MIN(x.mad) AS mad,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN d.ad > 3 * 1.4826 * x.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad x USING (l_returnflag)
    GROUP BY 1
    """,
    doc="Median/MAD robust z-score outlier counts per return flag: exact "
    "median, median absolute deviation (both rounded to 6 decimals "
    "before the cut so boundary rows decide identically), flag when "
    "|x - med| > 3 * 1.4826 * MAD. Two percentile aggregations, each "
    "broadcast back onto the fact — no sort of the fact table.",
)
def mad_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    med = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5D)"), 6).alias("med")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "ad", F.abs(F.col("l_extendedprice") - F.col("med"))
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(ad, 0.5D)"), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("ad") > 3 * 1.4826 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
        .select(F.col("l_returnflag").alias("returnflag"), "med", "mad", "n", "n_outliers")
    )


# ---------------------------------------------------------------------------
# Native recursive CTE (Spark 4.1): the SQL-surface twin of
# concept_ancestor_closure above. The iterative fixpoint loop stays the
# scale path for deep/unbounded graphs (per-iteration localCheckpoint
# keeps lineage flat and lets the driver stop on an empty frontier); the
# recursive CTE is the declarative form for bounded hierarchies — the
# optimizer unions the recursion levels internally, no driver loop at
# all. Same derived edge set, same WITH RECURSIVE oracle, so the two
# surfaces are proven equivalent against one another through DuckDB.
# ---------------------------------------------------------------------------
@query(
    "concept_ancestor_closure_sql",
    sql="""
    WITH RECURSIVE anc AS (
        SELECT p_partkey AS node, p_partkey // 2 AS ancestor, 1 AS depth
        FROM part WHERE p_partkey BETWEEN 2 AND 126
        UNION
        SELECT a.node, e.p_partkey // 2, a.depth + 1
        FROM anc a JOIN part e ON a.ancestor = e.p_partkey
        WHERE e.p_partkey BETWEEN 2 AND 126
    )
    SELECT node, ancestor, MIN(depth) AS depth
    FROM anc GROUP BY node, ancestor
    """,
    doc="Transitive closure via Spark 4.1's NATIVE recursive CTE (WITH "
    "RECURSIVE in spark.sql) over the same halving hierarchy as the "
    "iterative-fixpoint twin concept_ancestor_closure — each node has "
    "one parent, so UNION ALL recursion produces no duplicate paths and "
    "the MIN(depth) rollup matches the oracle's UNION form exactly.",
    round_added=10,
)
def concept_ancestor_closure_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spark.sql registers each keyword frame as a temp view only while it
    # analyses the text, so the session catalog is left as it was
    return spark.sql(
        """
        WITH RECURSIVE anc AS (
            SELECT p_partkey AS node, p_partkey DIV 2 AS ancestor, 1 AS depth
            FROM {part} WHERE p_partkey BETWEEN 2 AND 126
            UNION ALL
            SELECT a.node, e.p_partkey DIV 2, a.depth + 1
            FROM anc a JOIN {part} e ON a.ancestor = e.p_partkey
            WHERE e.p_partkey BETWEEN 2 AND 126
        )
        SELECT node, ancestor, CAST(MIN(depth) AS INT) AS depth
        FROM anc GROUP BY node, ancestor
        """,
        part=load(spark, sf_dir, "part"),
    )


# ---------------------------------------------------------------------------
# LATERAL correlated top-k (SQL surface): "for each dimension row, the
# top-k correlated fact rows". Catalyst DECORRELATES the lateral subquery
# into a WindowGroupLimit pipeline — a Partial WindowGroupLimit prunes
# each map task's input to k rows per key BEFORE the exchange (map-side
# top-k, same trick as operators/topk.py), then a Final pass + row_number
# filter after the shuffle, then a broadcast join back to the dim. At
# 100 TB the shuffle carries at most k rows per (key, map task), never
# the fact table. The plan contract is asserted in-query.
# ---------------------------------------------------------------------------
@query(
    "lateral_top_customers_per_nation",
    sql="""
    SELECT n_name, t.c_name, t.c_acctbal
    FROM nation, LATERAL (
        SELECT c_name, c_acctbal FROM customer
        WHERE c_nationkey = n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    """,
    doc="Per-nation top-2 customers by acctbal via a LATERAL correlated "
    "ORDER BY ... LIMIT subquery; Catalyst decorrelates it to Partial+"
    "Final WindowGroupLimit (map-side top-k pruning before the exchange, "
    "asserted in-query) + broadcast dim join — the fact table never "
    "shuffles more than k rows per key per task.",
    round_added=10,
)
def lateral_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.plans.planassert import formatted_plan

    out = spark.sql(
        """
        SELECT n_name, t.c_name, t.c_acctbal
        FROM {nation}, LATERAL (
            SELECT c_name, c_acctbal FROM {customer}
            WHERE c_nationkey = n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        """,
        nation=load(spark, sf_dir, "nation"),
        customer=load(spark, sf_dir, "customer"),
    )
    plan = formatted_plan(out, "simple")
    assert "WindowGroupLimit" in plan, plan
    return out


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4.0's |> operators) — the linear query-language
# surface: each stage consumes the previous stage's table and applies
# ONE operator (WHERE, JOIN, AGGREGATE ... GROUP BY, SELECT, ORDER BY),
# so a pipeline reads top-to-bottom in execution order instead of
# inside-out SQL nesting. It is pure syntax — the parser lowers the
# chain onto the SAME logical plan as the nested form, so every
# Catalyst optimization (pushdown, broadcast, partial aggregation)
# applies unchanged; the in-query cross-check collects the equivalent
# DataFrame-API plan and asserts row-identical output (bounded:
# O(segments) rows). For a user coming from an engine whose query
# language is a linear operator chain, this IS the familiar surface.
# ---------------------------------------------------------------------------
@query(
    "pipe_syntax_segment_revenue",
    sql="""
    SELECT c_mktsegment AS segment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate >= DATE '1997-01-01'
    GROUP BY 1
    """,
    doc="Per-segment revenue written in Spark 4 SQL pipe syntax (FROM "
    "|> WHERE |> JOIN |> AGGREGATE ... GROUP BY |> SELECT): a linear "
    "operator chain the parser lowers onto the same Catalyst plan as "
    "nested SQL — asserted by cross-checking row-identical output "
    "against the DataFrame-API formulation in-query. Oracle states the "
    "classic nested form.",
    round_added=10,
)
def pipe_syntax_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    df = spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderdate >= DATE '1997-01-01'
        |> JOIN {customer} ON o_custkey = c_custkey
        |> AGGREGATE COUNT(*) AS n_orders,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                         AS revenue
           GROUP BY c_mktsegment AS segment
        |> SELECT segment, n_orders, revenue
        """,
        orders=orders,
        customer=cust,
    )
    dataframe_form = (
        orders.where(F.col("o_orderdate") >= F.lit("1997-01-01").cast("date"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, dataframe_form.collect())
    )
    return df


# ---------------------------------------------------------------------------
# Event-time state eviction (round 11): the stateful profile above keeps
# state forever; this twin closes and EVICTS per-user episode state via
# GroupStateTimeout.EventTimeTimeout when the watermark passes
# last_ts + TTL, and an evicted user's next event re-opens cleanly.
# The two closure paths (timer + inline gap split) compose to exact
# per-user session semantics with gap = TTL, so the gaps-and-islands SQL
# oracle checks every episode; the timeout path firing and a user
# re-opening are asserted in-query. See streaming/stateful.py.
# ---------------------------------------------------------------------------
@query(
    "stream_profile_state_ttl",
    sql="""
    WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w >= INTERVAL 24 HOUR
                    THEN 1 ELSE 0 END AS new_e
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts, event_type,
               SUM(new_e) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS eid
        FROM g
    )
    SELECT user_id,
           MIN(ts) AS episode_start,
           MAX(ts) AS episode_end,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types
    FROM s GROUP BY user_id, eid
    """,
    doc="Watermark-driven state eviction: per-user episodes closed by "
    "EventTimeTimeout (state removed when the watermark passes "
    "last_ts + 24h) or an inline gap split (>= 24h, the session_window "
    "boundary rule); evicted users re-open "
    "cleanly (asserted, with the timeout path proven to fire). Oracle: "
    "24h gaps-and-islands.",
    round_added=11,
    bench_tier=3,
)
def stream_profile_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.stateful import run_stream_episodes_ttl

    return run_stream_episodes_ttl(spark, sf_dir, ttl_hours=24)


# ---------------------------------------------------------------------------
# Interval×interval OVERLAP join (round 11): the two-sided sibling of
# the bucketized point-in-interval join (operators/intervals.py). A pair
# of overlapping intervals shares every bucket of its intersection, so
# the operator claims each pair in exactly ONE bucket (the one holding
# greatest(starts)) instead of paying a distinct shuffle over the pair
# blow-up. Catalyst alone plans this shape as a nested-loop/cartesian.
# Fixture: two disjoint order slices become "flights" and "incidents",
# each [o_orderdate, +1..20 days); the oracle is DuckDB's exact range
# join over the same derived intervals.
# ---------------------------------------------------------------------------
@query(
    "interval_overlap_bin_join",
    sql="""
    WITH a AS (
        SELECT o_orderkey AS a_key, o_orderstatus AS a_status,
               o_orderdate AS a_start,
               o_orderdate + INTERVAL 1 DAY * (o_orderkey % 20 + 1) AS a_end
        FROM orders WHERE o_orderkey < 400
    ), b AS (
        SELECT o_orderkey AS b_key, o_orderstatus AS b_status,
               o_orderdate AS b_start,
               o_orderdate + INTERVAL 1 DAY * (o_orderkey % 20 + 1) AS b_end
        FROM orders WHERE o_orderkey >= 400 AND o_orderkey < 800
    )
    SELECT a_status, b_status, COUNT(*) AS n_pairs,
           CAST(SUM(date_diff('second', GREATEST(a_start, b_start),
                              LEAST(a_end, b_end))) AS BIGINT) AS overlap_seconds
    FROM a JOIN b ON a_start < b_end AND b_start < a_end
    GROUP BY 1, 2
    """,
    doc="Bucketized interval-overlap join: both sides explode to "
    "1-week time buckets, equi-join on the bucket, exact overlap "
    "post-filter, one-bucket-per-pair claim (greatest-starts) instead "
    "of a dedup shuffle. Oracle: DuckDB exact range join.",
    round_added=11,
)
def interval_overlap_bin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.operators.intervals import interval_overlap_join

    orders = load(spark, sf_dir, "orders")

    def slice_(lo: int, hi: int, p: str) -> DataFrame:
        return orders.where(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        ).select(
            F.col("o_orderkey").alias(f"{p}_key"),
            F.col("o_orderstatus").alias(f"{p}_status"),
            F.col("o_orderdate").alias(f"{p}_start"),
            F.expr(
                "timestampadd(DAY, CAST(o_orderkey % 20 + 1 AS INT), o_orderdate)"
            ).alias(f"{p}_end"),
        )

    pairs = interval_overlap_join(
        slice_(0, 400, "a"),
        slice_(400, 800, "b"),
        "a_start",
        "a_end",
        "b_start",
        "b_end",
        bucket_width_s=7 * 86400,
    )
    return pairs.groupBy("a_status", "b_status").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.expr(
                "timestampdiff(SECOND, greatest(a_start, b_start), least(a_end, b_end))"
            )
        ).cast("long").alias("overlap_seconds"),
    )
