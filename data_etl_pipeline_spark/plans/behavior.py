"""Behavioral / product-analytics query shapes over the events table.

The reference pipeline's event-log consumers (SURVEY §2.4/§2.5 window
family; reference capability: session- and sequence-shaped rollups of
the queue-driven event stream) stop at sessionization and funnels. This
module adds the four next shapes every product-analytics and
training-data-curation stack runs at warehouse scale:

- gaps-and-islands activity streaks (consecutive-day engagement),
- weekly cohort retention (first-seen week x week offset),
- first-order Markov transitions between event types,
- exponentially time-decayed per-user value (half-life weighting).

All four are pure DataFrame plans: the streak/cohort/transition shapes
are one or two key-local exchanges, and the decayed sum is a single
groupBy with a closed-form weight (no recursion, no UDF). Decimal
accumulation + round(6) keeps both engines bit-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from data_etl_pipeline_spark.plans.registry import query
from data_etl_pipeline_spark.tables import load


# ---------------------------------------------------------------------------
# Gaps-and-islands: consecutive-day activity streaks per user. The
# island key is date - row_number() days (equal for consecutive days),
# the textbook formulation both engines window-execute identically.
# Scale shape: distinct on (user, day) shrinks the event log to at most
# users x days rows; both windows and both groupBys hash on user_id, so
# after the distinct everything is one exchange on the user key.
# ---------------------------------------------------------------------------
@query(
    "user_activity_streaks",
    sql="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    isl AS (
        SELECT user_id, d,
               d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)::INT AS grp
        FROM d
    ),
    s AS (SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           COUNT(*) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM s GROUP BY user_id
    """,
    doc="Consecutive-day activity streaks per user (gaps-and-islands: "
    "island = day - row_number days). distinct (user, day) first bounds "
    "the window input at users x days; every later step re-uses the "
    "user-key exchange.",
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("d")
    isl = days.withColumn("grp", F.date_sub(F.col("d"), F.row_number().over(w)))
    streaks = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


# ---------------------------------------------------------------------------
# Weekly cohort retention: users grouped by first-active ISO week; each
# later active week contributes to (cohort_week, week_offset). Both
# engines truncate to Monday-start ISO weeks, and (user, week) is
# distinct before counting, so COUNT(*) IS the distinct-user count.
# ---------------------------------------------------------------------------
@query(
    "weekly_cohort_retention",
    sql="""
    WITH uw AS (SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS wk
                FROM events),
    c AS (SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY 1)
    SELECT c.cohort_week,
           CAST((uw.wk - c.cohort_week) // 7 AS INT) AS week_offset,
           COUNT(*) AS n_users
    FROM uw JOIN c USING (user_id)
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention matrix: cohort = first-active Monday "
    "week, offset = whole weeks since. distinct (user, week) then a "
    "per-user min re-joined on the same key — the join and both "
    "aggregations share the user-key exchange; output is cohorts x "
    "offsets, tiny at any scale.",
)
def weekly_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    uw = (
        load(spark, sf_dir, "events")
        .select("user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk"))
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# First-order Markov transitions between event types. The successor is
# lead() over (user, ts, event_id) — the event_id tiebreak keeps
# same-timestamp neighbors deterministic in both engines. Transition
# probability is a window sum over the (from, to) aggregate, which is
# at most |types|^2 rows.
# ---------------------------------------------------------------------------
@query(
    "event_transition_probs",
    sql="""
    WITH nxt AS (
        SELECT event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    t AS (SELECT from_type, to_type, COUNT(*) AS n
          FROM nxt WHERE to_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, n,
           ROUND(n / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
    FROM t
    """,
    doc="First-order Markov transition matrix of event types per user "
    "stream (lead over user/ts/event_id; event_id breaks timestamp "
    "ties). One user-key exchange for the lead, then an aggregate "
    "bounded by |event types|^2 rows.",
)
def event_transition_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = (
        load(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
    )
    t = nxt.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wt = W.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt).cast("double"), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Exponentially time-decayed per-user value with a 7-day half-life,
# anchored at the corpus max timestamp: weight = 0.5^(age_s/604800).
# Closed form — one scan, one groupBy, no recursion. The weight is an
# IEEE double both engines compute bit-identically (truncated epoch
# seconds in, pow out); each weighted term is cast to decimal(28,10)
# BEFORE summing so partial-aggregation order cannot move the sum.
# ---------------------------------------------------------------------------
@query(
    "time_decayed_user_value",
    sql="""
    WITH e AS (SELECT user_id, value, floor(epoch(ts))::BIGINT AS sec FROM events),
    m AS (SELECT MAX(sec) AS ref FROM e)
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(
               value * pow(0.5, (m.ref - sec) / 604800.0)
               AS DECIMAL(28,10))) AS DOUBLE), 6) AS decayed_value
    FROM e, m GROUP BY user_id
    """,
    doc="Half-life-decayed user value (7-day half-life, anchored at the "
    "global max event time): closed-form 0.5^(age/hl) weight, decimal "
    "accumulation of the weighted terms. One broadcast of the 1-row "
    "anchor, one user-key aggregate — the streaming-friendly alternative "
    "to recursive EWMA.",
)
def time_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_timestamp("ts").alias("sec")
    )
    ref = e.agg(F.max("sec").alias("ref"))
    term = (
        F.col("value")
        * F.pow(F.lit(0.5), (F.col("ref") - F.col("sec")) / F.lit(604800.0))
    ).cast("decimal(28,10)")
    return (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(term).cast("double"), 6).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# Walk-forward (temporal) cross-validation folds with an embargo day —
# the time-series counterpart of leakage_safe_split: each validation
# fold's training window ends one full day BEFORE the fold starts, so
# no same-day (or later) information leaks into training. Fold
# boundaries are calendar-derived from the global min date (one 1-row
# broadcast); assignment is a row-local case over an exploded fold list.
# ---------------------------------------------------------------------------
@query(
    "walk_forward_folds",
    sql="""
    WITH m AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
    e AS (SELECT user_id, (CAST(ts AS DATE) - m.d0) AS d FROM events, m),
    f AS (SELECT unnest([1, 2, 3]) AS fold),
    r AS (
        SELECT f.fold,
               CASE WHEN e.d // 7 = f.fold THEN 'val'
                    WHEN e.d <= f.fold * 7 - 2 THEN 'train' END AS role,
               e.user_id
        FROM e, f
    )
    SELECT fold, role, COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM r WHERE role IS NOT NULL GROUP BY 1, 2
    """,
    doc="Walk-forward temporal CV folds (7-day validation windows, "
    "1-day embargo before each): train strictly precedes validation in "
    "time per fold, the temporal-leakage guard a forecasting/feature "
    "pipeline needs; one broadcast anchor date, row-local fold fan-out, "
    "one aggregate.",
)
def walk_forward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("dt"))
    d0 = ev.agg(F.min("dt").alias("d0"))
    e = ev.crossJoin(F.broadcast(d0)).select(
        "user_id", F.datediff(F.col("dt"), F.col("d0")).alias("d")
    )
    r = e.select(
        "user_id",
        "d",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("fold"),
    ).select(
        "fold",
        "user_id",
        F.when(F.expr("d div 7") == F.col("fold"), F.lit("val"))
        .when(F.col("d") <= F.col("fold") * 7 - 2, F.lit("train"))
        .alias("role"),
    )
    return (
        r.where(F.col("role").isNotNull())
        .groupBy("fold", "role")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# DYNAMIC-GAP sessionization: Spark's session_window accepts a
# PER-EVENT gap expression — a purchase holds a session open for 2
# hours, a view for 30 minutes — which no fixed-gap formulation can
# express. Physical shape is identical to the fixed-gap sessions (one
# user-key exchange, map-side session merge). The oracle restates the
# semantics from first principles: each event owns the half-open
# interval [ts, ts+gap); overlapping intervals merge per user; a new
# session starts exactly when an event's start reaches the running max
# of previous interval ends (pure timestamp arithmetic, no floats).
# ---------------------------------------------------------------------------
@query(
    "dynamic_gap_sessions",
    sql="""
    WITH e AS (
        SELECT user_id, event_id, ts,
               ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 2 HOUR
                         ELSE INTERVAL 30 MINUTE END AS fin
        FROM events
    ),
    o AS (
        SELECT user_id, event_id, ts, fin,
               MAX(fin) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_end
        FROM e
    ),
    f AS (
        SELECT user_id,
               SUM(CASE WHEN prev_end IS NULL OR ts >= prev_end
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sid
        FROM o
    ),
    s AS (SELECT user_id, sid, COUNT(*) AS n FROM f GROUP BY 1, 2)
    SELECT user_id, COUNT(*) AS n_sessions,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(MAX(n) AS BIGINT) AS max_session_events
    FROM s GROUP BY 1
    """,
    doc="Per-event dynamic gap sessionization (purchase holds 2h, view "
    "30m) via session_window's gap EXPRESSION; one user-key exchange "
    "with map-side session merge; oracle merges half-open per-event "
    "intervals with a running-max island scan in pure timestamp "
    "arithmetic.",
)
def dynamic_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("2 hours")).otherwise(
        F.lit("30 minutes")
    )
    s = ev.groupBy("user_id", F.session_window("ts", gap).alias("sw")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").cast("bigint").alias("n_events"),
        F.max("n").cast("bigint").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# Polymorphic table function (UDTF over TABLE(...) PARTITION BY ... ORDER
# BY ...) — the SQL-standard PTF surface for ordered per-key streaming
# computation: the engine hash-partitions the input on the PARTITION BY
# key, sorts each partition by the ORDER BY clause, and feeds one UDTF
# INSTANCE per key the rows in order (terminate() fires at key
# boundaries). That is exactly the execution contract a user of a
# table-function-centric engine expects for sessionizers, gap detectors
# and order-sensitive state machines — one exchange + sort, state
# bounded to a single key's scan. The production tier for this shape
# stays Arrow-batched applyInPandas (per-batch vectorization); this
# query pins the first-class SQL surface and its partition/order
# semantics. tests/test_udtf_surface.py covers the scalar LATERAL form;
# this is the TABLE-argument form.
# ---------------------------------------------------------------------------
def _session_counter_udtf():
    """Built lazily: @udtf wraps the class in a non-picklable handle, so
    construction happens inside the query call, not at module import."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, n_sessions bigint")
    class SessionCounter:
        GAP_S = 90 * 60

        def __init__(self):
            self._user = None
            self._n = 0
            self._sessions = 0
            self._prev = None

        def eval(self, row):
            self._user = row["user_id"]
            self._n += 1
            ts = row["ts"]
            if self._prev is None or (ts - self._prev).total_seconds() > self.GAP_S:
                self._sessions += 1
            self._prev = ts

        def terminate(self):
            if self._user is not None:
                yield self._user, self._n, self._sessions

    return SessionCounter


@query(
    "udtf_partitioned_sessions",
    sql="""
    WITH g AS (
        SELECT user_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                      OR ts - LAG(ts) OVER w > INTERVAL 90 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(new_s) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
    doc="Per-user session counting through the SQL-standard polymorphic "
    "table function surface: a Python UDTF consuming TABLE(events) "
    "PARTITION BY user_id ORDER BY ts, event_id — one instance per key "
    "fed rows in order, terminate() at the key boundary; 90-minute gap "
    "opens a session. Oracle states the same machine as lag/cumsum "
    "window SQL. Ties ordered by event_id in both engines; equal-ts "
    "permutations leave the gap multiset invariant anyway.",
    round_added=10,
)
def udtf_partitioned_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.udtf.register("session_counter_udtf", _session_counter_udtf())
    # spark.sql registers each keyword frame as a temp view only while it
    # analyses the text, so the session catalog is left as it was
    return spark.sql(
        """
        SELECT user_id, n_events, n_sessions
        FROM session_counter_udtf(
            TABLE({events})
            PARTITION BY user_id ORDER BY (ts, event_id))
        """,
        events=load(spark, sf_dir, "events").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id"
        ),
    )
