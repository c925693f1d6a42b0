"""ETL-machinery queries: block dedup + boilerplate vote (W4/W5), the
deferred LLM extraction pass (ST2-ST5/X4), triples projection (U3/S13),
correction folds (A7), and remaining relational shapes (pivot, rollup,
min-by, deterministic sample).

Fixtures that the reference gets from scraping/Mongo are derived
deterministically from the driver's documents/customer tables inside the
query (both engines build them identically), so every operator stays
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_etl_pipeline_spark.etl import deferred, triples
from data_etl_pipeline_spark.operators import blocks, records
from data_etl_pipeline_spark.operators.chunker import chunk_even_chars
from data_etl_pipeline_spark.plans.registry import query
from data_etl_pipeline_spark.session import scratch_dir
from data_etl_pipeline_spark.tables import load, local_frame

_HEADER = "NAV HOME ABOUT\nMENU\nSEARCH"

_BLOCKS_CTE = """
base AS (SELECT source AS site, CAST(doc_id AS INT) AS block_no, doc_id, text,
                LAG(text) OVER (PARTITION BY source ORDER BY doc_id) AS prev_text
         FROM documents),
blocks AS (SELECT site, block_no,
                  'NAV HOME ABOUT' || chr(10) || 'MENU' || chr(10) || 'SEARCH' || chr(10) ||
                  CASE WHEN doc_id % 5 = 0 AND prev_text IS NOT NULL THEN prev_text ELSE text END AS body
           FROM base)
"""


# ---------------------------------------------------------------------------
# W4: first-occurrence-wins block dedup
# ---------------------------------------------------------------------------
@query(
    "blocks_dedup_first_wins",
    sql=f"""
    WITH {_BLOCKS_CTE}
    SELECT site, block_no, rn > 1 AS is_duplicate FROM (
        SELECT site, block_no,
               ROW_NUMBER() OVER (PARTITION BY site, sha256(body) ORDER BY block_no) AS rn
        FROM blocks) t
    """,
    doc="Block dedup, first occurrence keeps body (SURVEY W4; dedup_util.py:273-307).",
)
def blocks_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = blocks.assemble_blocks_from_documents(load(spark, sf_dir, "documents"), header=_HEADER)
    return blocks.dedup_blocks_first_wins(b).select("site", "block_no", "is_duplicate")


# ---------------------------------------------------------------------------
# W5: positional majority-vote boilerplate depth
# ---------------------------------------------------------------------------
@query(
    "blocks_header_depth",
    sql=f"""
    WITH {_BLOCKS_CTE},
    lines AS (SELECT site, block_no, CAST(i AS INT) AS pos,
                     string_split(body, chr(10))[i + 1] AS line
              FROM blocks, unnest(range(0, LEAST(20, len(string_split(body, chr(10)))))) AS t(i)),
    nb AS (SELECT site, COUNT(*) AS n_blocks FROM blocks GROUP BY site),
    lc AS (SELECT site, pos, line, COUNT(*) AS c FROM lines GROUP BY site, pos, line),
    ts AS (SELECT lc.site, pos, MAX(c) AS top_c FROM lc GROUP BY lc.site, pos),
    ag AS (SELECT ts.site, pos, (top_c >= CEIL(0.95 * n_blocks)) AS agrees
           FROM ts JOIN nb ON ts.site = nb.site),
    d AS (SELECT site,
                 MIN(CASE WHEN NOT agrees THEN pos END) AS first_break,
                 MAX(CASE WHEN agrees THEN pos + 1 END) AS max_agree
          FROM ag GROUP BY site)
    SELECT site,
           CAST(CASE WHEN COALESCE(first_break, max_agree, 0) >= 3
                     THEN COALESCE(first_break, max_agree, 0) ELSE 0 END AS INT) AS header_depth
    FROM d
    """,
    doc="Header/footer boilerplate vote per line position (SURVEY W5; dedup_util.py:153-221).",
)
def blocks_header_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = blocks.assemble_blocks_from_documents(load(spark, sf_dir, "documents"), header=_HEADER)
    return (
        blocks.header_footer_vote(b, agree_ratio=0.95, min_lines=3)
        .select("site", F.col("header_depth").cast("int").alias("header_depth"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Deferred LLM pass end-to-end (build -> stub-execute -> reconcile)
# ---------------------------------------------------------------------------
_H60 = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

_DEFERRED_SQL = f"""
    WITH d AS (SELECT doc_id, text,
                      GREATEST(1, CAST(CEIL((length(text) - 50) / 150.0) AS INT)) AS n
               FROM documents),
    chunks AS (SELECT doc_id, substr(text, CAST(i * 150 + 1 AS INT), 200) AS context
               FROM d, unnest(range(0, n)) AS t(i)),
    requests AS (SELECT CAST(doc_id AS VARCHAR) AS entity, f.field, context
                 FROM chunks, (VALUES ('products'), ('certificates'), ('process_caps')) f(field)),
    picked AS (SELECT entity, field,
                      [x for x in string_split(context, ' ')[1:12]
                       if ({_H60.format(x="x || field")} % 3) = 0] AS found
               FROM requests),
    items AS (SELECT entity, field, unnest(found) AS item FROM picked),
    universe AS (SELECT DISTINCT entity, field FROM requests)
    SELECT u.entity, u.field,
           COALESCE(string_agg(DISTINCT item, ',' ORDER BY item), '') AS results
    FROM universe u LEFT JOIN items i ON u.entity = i.entity AND u.field = i.field
    GROUP BY u.entity, u.field
    """


@query(
    "deferred_extraction_results",
    sql=_DEFERRED_SQL,
    doc="Full deferred-extraction pass: anti-join discovery, stub LLM, JSON repair, A1 rollup (SURVEY §3.3).",
    bench_tier=1,
)
def deferred_extraction_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = chunk_even_chars(load(spark, sf_dir, "documents"), size=200, overlap=50)
    out = deferred.run_extraction_pass(chunks)
    return out["results"].select(
        "entity", "field", F.array_join("results", ",").alias("results")
    )


# ---------------------------------------------------------------------------
# U3/S13: triples projection
# ---------------------------------------------------------------------------
@query(
    "customer_triples",
    sql="""
    WITH recs AS (SELECT c_name, c_mktsegment, n_name
                  FROM customer JOIN nation ON c_nationkey = n_nationkey),
    subj AS (SELECT 'urn:ex:' || regexp_replace(c_name, '[^A-Za-z0-9_.~-]', '_', 'g') AS subject,
                    c_name, c_mktsegment, n_name
             FROM recs)
    SELECT subject, 'name' AS predicate, c_name AS object, TRUE AS is_literal FROM subj
    UNION ALL
    SELECT subject, 'segment', c_mktsegment, TRUE FROM subj
    UNION ALL
    SELECT subject, 'nation', n_name, TRUE FROM subj
    """,
    doc="Record -> RDF triples fan-out (SURVEY U3/S13; ttl_generator_service.py:550-631).",
)
def customer_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = load(spark, sf_dir, "customer").join(
        F.broadcast(load(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return triples.project_triples(
        recs, "c_name", {"name": "c_name", "segment": "c_mktsegment", "nation": "n_name"}
    )


# ---------------------------------------------------------------------------
# A7: correction fold over ordered logs
# ---------------------------------------------------------------------------
@query(
    "segment_correction_fold",
    sql="""
    WITH gt AS (SELECT c_mktsegment AS entity,
                       list_sort(list(DISTINCT n_name)) AS base_results
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                WHERE c_acctbal > 8000.0
                GROUP BY c_mktsegment),
    f1 AS (SELECT entity,
                  list_distinct(list_concat(
                      list_filter(base_results, x -> NOT list_contains(['NATION_1', 'NATION_2'], x)),
                      ['ADDED_A'])) AS r1
           FROM gt),
    f2 AS (SELECT entity,
                  list_distinct(list_concat(
                      list_filter(r1, x -> NOT list_contains(['ADDED_A'], x)),
                      ['ADDED_B', 'NATION_1'])) AS r2
           FROM f1)
    SELECT entity, array_to_string(list_sort(r2), ',') AS final_results FROM f2
    """,
    doc="Event-sourced correction fold: base - removes + adds per ordered log (SURVEY A7).",
)
def segment_correction_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(load(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .where(F.col("c_acctbal") > 8000.0)
        .groupBy(F.col("c_mktsegment").alias("entity"))
        .agg(F.array_sort(F.collect_set("n_name")).alias("base_results"))
    )
    logs = (
        "array(named_struct('seq', 1, 'add', array('ADDED_A'), 'remove', array('NATION_1', 'NATION_2')), "
        "named_struct('seq', 2, 'add', array('ADDED_B', 'NATION_1'), 'remove', array('ADDED_A')))"
    )
    gt = base.withColumn("logs", F.expr(logs))
    folded = records.correction_fold(gt, mode="fold_all")
    return folded.select("entity", F.array_join("final_results", ",").alias("final_results"))


# ---------------------------------------------------------------------------
# A9: deterministic hash sample (the reference's $sample, made reproducible)
# ---------------------------------------------------------------------------
@query(
    "customer_hash_sample",
    sql=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE ({_H60.format(x="c_name")} % 20) = 0
    """,
    doc="Deterministic hash-based sample (SURVEY A9, reproducible across engines).",
)
def customer_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = "cast(conv(substr(md5(c_name), 1, 15), 16, 10) as bigint) % 20"
    return load(spark, sf_dir, "customer").where(F.expr(f"({h}) = 0")).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# pivot / rollup / min-by — remaining relational shapes
# ---------------------------------------------------------------------------
@query(
    "returnflag_pivot",
    sql="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS qty_f,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS qty_o
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Pivot as conditional aggregation (guide: pivot/unpivot pattern).",
)
def returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    dec = F.col("l_quantity").cast("decimal(12,2)")
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_linestatus") == "F", dec)).cast("double").alias("qty_f"),
            F.sum(F.when(F.col("l_linestatus") == "O", dec)).cast("double").alias("qty_o"),
        )
    )


@query(
    "order_status_rollup",
    sql="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="Hierarchical rollup with subtotal rows (grouping-sets coverage).",
)
def order_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
        )
    )


@query(
    "first_ship_per_flag",
    sql="""
    SELECT l_returnflag, l_orderkey AS first_orderkey, l_shipdate AS first_shipdate FROM (
        SELECT l_returnflag, l_orderkey, l_shipdate,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
        FROM lineitem) t
    WHERE rn = 1
    """,
    doc="Deterministic min-by (earliest shipment per flag, SURVEY O3).",
)
def first_ship_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.min(F.struct("l_shipdate", "l_orderkey", "l_linenumber"))
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(m.alias("m"))
        .select(
            "l_returnflag",
            F.col("m.l_orderkey").alias("first_orderkey"),
            F.col("m.l_shipdate").alias("first_shipdate"),
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming: the windowed agg computed by an actual stream
# ---------------------------------------------------------------------------
@query(
    "stream_hourly_event_counts",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="Tumbling-window counts via Structured Streaming (readStream + watermark + memory sink).",
)
def stream_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import run_stream_hourly_counts

    return run_stream_hourly_counts(spark, sf_dir)


@query(
    "stream_window_merge_counts",
    sql="""
    SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
    doc="UPDATE-mode windowed streaming MERGE: each micro-batch upserts "
    "only its CHANGED windows into the versioned table keyed on "
    "(window_start, event_type) — late events re-emit and replace their "
    "window row; converges to the batch answer under out-of-order "
    "multi-batch arrival (tested). The scale-correct alternative to "
    "complete-mode sinks that rewrite all state every batch.",
)
def stream_window_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import run_stream_update_merge_windows

    return run_stream_update_merge_windows(spark, sf_dir)


@query(
    "stream_dedup_event_counts",
    sql="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    doc="Streaming exact dedup: dropDuplicates state across micro-batches "
    "absorbs an at-least-once source's full-table redelivery + partial "
    "slice (SURVEY ST2's exactly-once effect); per-type counts equal the "
    "base table's distinct-id counts or the hash inflates ~2.3x.",
)
def stream_dedup_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import run_stream_dedup_counts

    return run_stream_dedup_counts(spark, sf_dir)


@query(
    "stream_dedup_rocksdb_state",
    sql="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    doc="stream_dedup_event_counts under the RocksDB state store "
    "provider (scoped to the stream; conf read at stream start): state "
    "spills to local disk instead of executor heap, the knob that keeps "
    "exact dedup alive when replay state outgrows memory. The in-query "
    "assert requires rocksdb* custom metrics on the executed dedup "
    "operator's progress, so a silent fallback to the HDFS-backed heap "
    "store fails loudly.",
    round_added=9,
)
def stream_dedup_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import (
        run_stream_dedup_counts_rocksdb,
    )

    return run_stream_dedup_counts_rocksdb(spark, sf_dir)


@query(
    "statestore_reader_audit",
    sql="""
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    doc="Streaming state opened OFFLINE as a batch table: after the "
    "three-batch dedup replay, spark.read.format('statestore') reads the "
    "checkpoint's key set and 'state-metadata' its operator layout "
    "(asserted: one dedupe operator spanning batches 0-2, state rows == "
    "distinct ids); the keys joined back to the static table reproduce "
    "the per-type distinct counts — the state-audit / backfill-debugging "
    "surface, no stream replay needed.",
    round_added=10,
)
def statestore_reader_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import (
        run_statestore_reader_audit,
    )

    return run_statestore_reader_audit(spark, sf_dir)


@query(
    "stream_deferred_extraction",
    sql=_DEFERRED_SQL,
    doc="The deferred pipeline under Structured Streaming: overlapping "
    "micro-batches (at-least-once re-delivery), per-batch anti-join "
    "discovery against the persisted state table, idempotent append "
    "(SURVEY ST1-ST3); reconciles to the same oracle as the batch pass.",
)
def stream_deferred_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.deferred_stream import run_stream_extraction

    return run_stream_extraction(spark, sf_dir)


# ---------------------------------------------------------------------------
# S9/S10/O4: JSONL exchange-file round trip. Requests built from orders are
# bin-packed into size-capped JSONL files (sources/jsonl.py applyInPandas
# packer), written partitioned by file_id, read back as JSON lines, and
# aggregated. The oracle aggregates the same request set straight from
# parquet — a lost, duplicated, or corrupted line anywhere in the
# pack -> write -> read cycle breaks the hash. (File ids depend on the
# partition layout, so the output aggregates over request payloads only.)
# ---------------------------------------------------------------------------
@query(
    "jsonl_roundtrip_agg",
    sql="""
    SELECT o_orderstatus AS context,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_ids,
           CAST(SUM((o_orderkey % 97) + 10) AS BIGINT) AS total_tokens
    FROM orders
    WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
    doc="JSONL bin-packing sink + result source round trip (SURVEY S9/S10; "
    "caps enforced by the packer, exactness proven in pytest) — the oracle "
    "recomputes the aggregate from the un-round-tripped rows.",
)
def jsonl_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources import jsonl

    requests = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 5 == 0)
        .select(
            F.col("o_orderkey").cast("string").alias("custom_id"),
            ((F.col("o_orderkey") % 97) + 10).cast("long").alias("num_tokens"),
            F.col("o_orderstatus").alias("context"),
        )
    )
    out = scratch_dir(spark, "jsonl_rt_")
    jsonl.write_request_files(requests, out, max_requests=64, max_tokens=4000)
    back = spark.read.schema("custom_id string, body struct<context string>").json(
        f"{out}/file_id=*"
    )
    toks = requests.select("custom_id", "num_tokens")
    return (
        back.select("custom_id", F.col("body.context").alias("context"))
        .join(toks, "custom_id")
        .groupBy("context")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.countDistinct("custom_id").alias("n_ids"),
            F.sum("num_tokens").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# ST6: resource-aware batch scheduling. plan_tick is DRIVER-side control
# flow by design (the reference's key-bundle loop is a coordinator, not a
# dataflow operator; SURVEY maps it so) — the tick's pending list is a
# bounded batch (one tick of work), so the collect is bounded too. The
# oracle replays the same greedy state machine as a recursive CTE, so the
# quota/cooldown arithmetic is hash-checked, not just unit-tested.
# ---------------------------------------------------------------------------
_SCHED_QUOTAS = [("k1", 500), ("k2", 300), ("k3", 200)]


@query(
    "batch_schedule_plan",
    sql=f"""
    WITH RECURSIVE pending AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS work_id,
             (o_orderkey % 97) + 10 AS tok,
             ROW_NUMBER() OVER (ORDER BY (o_orderkey % 97) + 10, o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey <= 4000),
    step AS (
      SELECT rn, work_id, tok, 1 AS k, tok AS spent
      FROM pending WHERE rn = 1
      UNION ALL
      SELECT p.rn, p.work_id, p.tok,
             CASE WHEN s.spent >= (CASE s.k WHEN 1 THEN 500 WHEN 2 THEN 300 WHEN 3 THEN 200 ELSE 0 END)
                       OR s.spent + p.tok > (CASE s.k WHEN 1 THEN 500 WHEN 2 THEN 300 WHEN 3 THEN 200 ELSE 0 END)
                  THEN s.k + 1 ELSE s.k END AS k,
             CASE WHEN s.spent >= (CASE s.k WHEN 1 THEN 500 WHEN 2 THEN 300 WHEN 3 THEN 200 ELSE 0 END)
                       OR s.spent + p.tok > (CASE s.k WHEN 1 THEN 500 WHEN 2 THEN 300 WHEN 3 THEN 200 ELSE 0 END)
                  THEN p.tok ELSE s.spent + p.tok END AS spent
      FROM step s JOIN pending p ON p.rn = s.rn + 1 WHERE s.k <= 3)
    SELECT 'k' || k AS key_id, work_id FROM step WHERE k <= 3
    """,
    doc="Resource-aware scheduling tick (SURVEY ST6): token-quota greedy "
    "assignment of smallest-first pending work to key bundles; the oracle "
    "replays the identical state machine as a recursive CTE.",
)
def batch_schedule_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.etl.scheduler import KeyBundle, plan_tick

    pending_df = (
        load(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") <= 4000))
        .select(
            F.col("o_orderkey").cast("string").alias("work_id"),
            ((F.col("o_orderkey") % 97) + 10).cast("long").alias("tok"),
            F.col("o_orderkey").alias("_ord"),
        )
        .orderBy("tok", "_ord")
    )
    # one tick's pending batch: bounded by construction, so the collect is a
    # coordinator-sized list, not a data-scale materialization
    pending = [(r["work_id"], int(r["tok"])) for r in pending_df.collect()]
    bundles = [KeyBundle(key_id=k, token_quota=q) for k, q in _SCHED_QUOTAS]
    plan = plan_tick(bundles, pending, now=0.0)
    rows = [(k, wid) for k, wids in plan.items() for wid in wids]
    return local_frame(spark, rows, "key_id string, work_id string")


# ---------------------------------------------------------------------------
# ST7/S4: versioned reprocessing trigger — entities whose current content
# version differs from the last processed version (or were never processed)
# need re-extraction. Both engines build the same current/processed pair
# from orders, so the anti-join is fully hash-checked.
# ---------------------------------------------------------------------------
@query(
    "version_drift_entities",
    sql="""
    WITH current AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS entity, o_orderkey % 5 AS version_id
      FROM orders),
    processed AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS entity,
             CASE WHEN o_orderkey % 7 = 0 THEN (o_orderkey % 5) + 1
                  ELSE o_orderkey % 5 END AS version_id
      FROM orders WHERE o_orderkey % 3 <> 0)
    SELECT c.entity, c.version_id FROM current c
    ANTI JOIN processed p ON c.entity = p.entity AND c.version_id = p.version_id
    """,
    doc="Version-drift detection (SURVEY ST7/S4): anti-join of current "
    "content versions against last-processed versions.",
)
def version_drift_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.etl.scheduler import detect_version_drift

    orders = load(spark, sf_dir, "orders")
    current = orders.select(
        F.col("o_orderkey").cast("string").alias("entity"),
        (F.col("o_orderkey") % 5).alias("version_id"),
    )
    processed = orders.where(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").cast("string").alias("entity"),
        F.when(F.col("o_orderkey") % 7 == 0, (F.col("o_orderkey") % 5) + 1)
        .otherwise(F.col("o_orderkey") % 5)
        .alias("version_id"),
    )
    return detect_version_drift(current, processed)


# ---------------------------------------------------------------------------
# J11/S7: stream-static enrichment through the foreachBatch idempotent
# keyed sink. The streaming query joins each micro-batch against the
# static customer dim, writes per-epoch partial counts to a keyed parquet
# sink (at-least-once upsert contract), and the final answer re-aggregates
# the partials — the oracle states the same question as a plain join.
# ---------------------------------------------------------------------------
@query(
    "stream_enriched_counts",
    sql="""
    SELECT c_mktsegment, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
    doc="Stream-static enrichment + foreachBatch idempotent keyed sink "
    "(SURVEY J11/S7/ST2): per-epoch partial counts re-aggregated; oracle "
    "is the equivalent static join.",
)
def stream_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import run_stream_enriched_counts

    return run_stream_enriched_counts(spark, sf_dir)


@query(
    "stream_merge_versioned_counts",
    sql="""
    SELECT c_mktsegment, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
    doc="Streaming MERGE INTO the versioned table keyed on (epoch, "
    "segment, type): micro-batch partial counts land as idempotent "
    "upserts through the optimistic commit log — one queryable table "
    "with time travel over ingestion history; oracle is the equivalent "
    "static join (SURVEY S7/ST2 + the lakehouse seam).",
)
def stream_merge_versioned_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import run_stream_merge_versioned

    return run_stream_merge_versioned(spark, sf_dir)


# ---------------------------------------------------------------------------
# ST6 cooldown arithmetic across ticks: tick 1 plans as usual; every key
# that shipped a batch completes at t=100 (k2's fails), and tick 2 at
# t=800 may only use keys whose cooldown has expired (success 600 s ->
# k1/k3 back at 700; failure 1800 s -> k2 out until 1900). The oracle
# replays both greedy passes as recursive CTEs over the same pending
# order, with tick 2 restricted to the surviving keys.
# ---------------------------------------------------------------------------
_B1 = "(CASE s.k WHEN 1 THEN 500 WHEN 2 THEN 300 WHEN 3 THEN 200 ELSE 0 END)"
_B2 = "(CASE s.k WHEN 1 THEN 500 WHEN 2 THEN 200 ELSE 0 END)"  # k1, k3 in key order


@query(
    "batch_schedule_two_ticks",
    sql=f"""
    WITH RECURSIVE pending AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS work_id,
             (o_orderkey % 97) + 10 AS tok,
             ROW_NUMBER() OVER (ORDER BY (o_orderkey % 97) + 10, o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 11 = 0 AND o_orderkey <= 4000),
    t1 AS (
      SELECT rn, work_id, tok, 1 AS k, tok AS spent
      FROM pending WHERE rn = 1
      UNION ALL
      -- k saturates at 4 (= unassigned) so every leftover item still flows
      -- through the recursion and lands in tick 2's pending list
      SELECT p.rn, p.work_id, p.tok,
             CASE WHEN s.k >= 4 THEN 4
                  WHEN s.spent >= {_B1} OR s.spent + p.tok > {_B1} THEN s.k + 1
                  ELSE s.k END,
             CASE WHEN s.k >= 4 THEN 0
                  WHEN s.spent >= {_B1} OR s.spent + p.tok > {_B1} THEN p.tok
                  ELSE s.spent + p.tok END
      FROM t1 s JOIN pending p ON p.rn = s.rn + 1),
    rest AS (
      SELECT work_id, tok, ROW_NUMBER() OVER (ORDER BY rn) AS rn
      FROM t1 WHERE k > 3),
    t2 AS (
      SELECT rn, work_id, tok, 1 AS k, tok AS spent
      FROM rest WHERE rn = 1
      UNION ALL
      SELECT p.rn, p.work_id, p.tok,
             CASE WHEN s.spent >= {_B2} OR s.spent + p.tok > {_B2} THEN s.k + 1 ELSE s.k END,
             CASE WHEN s.spent >= {_B2} OR s.spent + p.tok > {_B2} THEN p.tok ELSE s.spent + p.tok END
      FROM t2 s JOIN rest p ON p.rn = s.rn + 1 WHERE s.k <= 2)
    SELECT 1 AS tick, 'k' || k AS key_id, work_id FROM t1 WHERE k <= 3
    UNION ALL
    SELECT 2 AS tick, CASE k WHEN 1 THEN 'k1' ELSE 'k3' END AS key_id, work_id
    FROM t2 WHERE k <= 2
    """,
    doc="Two scheduler ticks with success/failure cooldowns between them "
    "(SURVEY ST6): k2's failed batch sits out tick 2; oracle replays both "
    "greedy passes as recursive CTEs.",
)
def batch_schedule_two_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.etl.scheduler import KeyBundle, complete_batch, plan_tick

    pending_df = (
        load(spark, sf_dir, "orders")
        .where((F.col("o_orderkey") % 11 == 0) & (F.col("o_orderkey") <= 4000))
        .select(
            F.col("o_orderkey").cast("string").alias("work_id"),
            ((F.col("o_orderkey") % 97) + 10).cast("long").alias("tok"),
            F.col("o_orderkey").alias("_ord"),
        )
        .orderBy("tok", "_ord")
    )
    pending = [(r["work_id"], int(r["tok"])) for r in pending_df.collect()]
    bundles = {k: KeyBundle(key_id=k, token_quota=q) for k, q in _SCHED_QUOTAS}
    plan1 = plan_tick(list(bundles.values()), pending, now=0.0)
    rows = [(1, k, wid) for k, wids in sorted(plan1.items()) for wid in wids]

    # every key that shipped completes at t=100; k2's batch fails
    for k in plan1:
        bundles[k] = dataclasses_replace_in_flight(bundles[k], f"batch-{k}")
        bundles[k] = complete_batch(bundles[k], now=100.0, success=(k != "k2"))
    assigned = {wid for wids in plan1.values() for wid in wids}
    remaining = [(wid, tok) for wid, tok in pending if wid not in assigned]
    plan2 = plan_tick(list(bundles.values()), remaining, now=800.0)
    rows += [(2, k, wid) for k, wids in sorted(plan2.items()) for wid in wids]
    return local_frame(spark, rows, "tick int, key_id string, work_id string")


def dataclasses_replace_in_flight(bundle, batch_id):
    import dataclasses

    return dataclasses.replace(bundle, in_flight_batch=batch_id)


# ---------------------------------------------------------------------------
# ST5 + P4/P5: the unpair/retry path of the deferred state machine. All
# requests ship in deterministic batches; a deterministic subset of
# custom_ids never comes back; unpair_missing nulls their batch_id so the
# next discovery pass retries exactly those. The oracle recomputes the
# per-field ledger (shipped / responded / unpaired-for-retry / pending)
# from the same md5 partitions.
# ---------------------------------------------------------------------------
@query(
    "deferred_retry_state",
    sql="""
    WITH d AS (SELECT doc_id, text,
                      GREATEST(1, CAST(CEIL((length(text) - 50) / 150.0) AS INT)) AS n
               FROM documents),
    chunks AS (
      SELECT doc_id,
             CAST(i * 150 AS VARCHAR) || ':' ||
             CAST(LEAST(i * 150 + 200, length(text)) AS VARCHAR) AS chunk_bounds
      FROM d, unnest(range(0, n)) AS t(i)),
    req AS (
      SELECT CAST(doc_id AS VARCHAR) || '>' || f || '>llm_search>chunk>' || chunk_bounds AS custom_id,
             f AS field
      FROM chunks, unnest(['products', 'certificates', 'process_caps']) AS u(f)),
    h AS (SELECT custom_id, field,
                 (('0x' || substr(md5(custom_id), 1, 15))::BIGINT % 4) AS resp_slot
          FROM req)
    SELECT field,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(SUM(CASE WHEN resp_slot <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_responded,
           CAST(SUM(CASE WHEN resp_slot = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unpaired,
           CAST(SUM(CASE WHEN resp_slot = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
    FROM h GROUP BY field
    """,
    doc="Deferred-pipeline unpair/retry ledger (SURVEY ST5, P4/P5 "
    "completion/pending predicates): missing result ids are unpaired for "
    "retry; per-field counts hash-checked.",
)
def deferred_retry_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.etl.deferred import build_requests, harvest, llm_stub_responses, unpair_missing
    from data_etl_pipeline_spark.operators.chunker import chunk_even_chars

    chunks = chunk_even_chars(load(spark, sf_dir, "documents"), size=200, overlap=50)
    requests = build_requests(chunks)
    h = F.expr("cast(conv(substr(md5(custom_id), 1, 15), 16, 10) as bigint)")
    state = requests.select(
        "custom_id", "entity", "field",
        F.concat(F.lit("b"), (h % 5).cast("string")).alias("batch_id"),
        F.lit(None).cast("string").alias("response"),
    )
    responses = llm_stub_responses(requests.where((h % 4) != 0))
    unpaired = unpair_missing(state, responses)
    harvested = harvest(unpaired, responses)
    return harvested.groupBy("field").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum(F.when(F.col("response").isNotNull(), 1).otherwise(0)).alias("n_responded"),
        F.sum(F.when(F.col("batch_id").isNull(), 1).otherwise(0)).alias("n_unpaired"),
        F.sum(F.when(F.col("response").isNull(), 1).otherwise(0)).alias("n_pending"),
    )


# ---------------------------------------------------------------------------
# S11: byte-exact JSONL splitter. A coordinator-side utility by design
# (the reference splits exchange-file blobs before upload); the query
# builds a bounded JSONL blob from an orders slice, splits it at line
# boundaries under a byte cap, and reports per-chunk stats. The oracle
# replays the greedy line packing as a recursive CTE over the same byte
# costs — any off-by-one in the newline backscan breaks the hash.
# ---------------------------------------------------------------------------
@query(
    "jsonl_split_chunks",
    sql="""
    WITH RECURSIVE lines AS (
      SELECT CAST(o_orderkey AS VARCHAR) || ',' || o_orderstatus AS line,
             o_orderkey,
             length(CAST(o_orderkey AS VARCHAR)) + 3 AS cost,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 17 = 0
      QUALIFY rn <= 512),
    s AS (
      SELECT rn, o_orderkey, cost, 1 AS chunk, cost AS filled
      FROM lines WHERE rn = 1
      UNION ALL
      SELECT l.rn, l.o_orderkey, l.cost,
             CASE WHEN s.filled + l.cost > 4096 THEN s.chunk + 1 ELSE s.chunk END,
             CASE WHEN s.filled + l.cost > 4096 THEN l.cost ELSE s.filled + l.cost END
      FROM s JOIN lines l ON l.rn = s.rn + 1)
    SELECT CAST(chunk AS INT) AS chunk_no,
           CAST(SUM(cost) AS BIGINT) AS n_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           MIN(o_orderkey) AS first_id,
           MAX(o_orderkey) AS last_id
    FROM s GROUP BY chunk
    """,
    doc="Byte-exact JSONL splitter (SURVEY S11): line-boundary cuts under "
    "a 4096-byte cap; recursive-CTE oracle replays the greedy packing. "
    "Precondition (held by construction here): every line fits the cap — "
    "an over-cap line is cut mid-line by the splitter, which the oracle "
    "deliberately does not model (pinned in test_etl_machinery).",
)
def jsonl_split_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.jsonl import split_bytes_on_lines

    # .limit(512) bounds the driver-side collect BY CONSTRUCTION at any sf
    # (the operator is a coordinator utility like the reference's pre-upload
    # splitter; the oracle mirrors the bound with QUALIFY rn <= 512)
    rows = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 17 == 0)
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
        .limit(512)
        .collect()
    )
    # bounded exchange-file blob (coordinator-side utility, like the
    # reference's pre-upload splitter) — every line newline-terminated
    data = "".join(f"{r['o_orderkey']},{r['o_orderstatus']}\n" for r in rows).encode()
    chunks = split_bytes_on_lines(data, max_chunk=4096)
    out = []
    for i, ch in enumerate(chunks, start=1):
        ls = ch.decode().rstrip("\n").split("\n")
        ids = [int(line.split(",")[0]) for line in ls]
        out.append((i, len(ch), len(ls), min(ids), max(ids)))
    return local_frame(
        spark, out, "chunk_no int, n_bytes long, n_lines long, first_id long, last_id long"
    )


@query(
    "stream_hopping_event_counts",
    sql="""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
               + ((floor(epoch(ts))::BIGINT // 900) - k.k) * 900 * INTERVAL 1 SECOND
               AS window_start,
           event_type,
           COUNT(*) AS n
    FROM events
    CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
    GROUP BY 1, 2
    """,
    doc="Hopping-window counts (1h window / 15min slide) via Structured "
    "Streaming: the sliding TimeWindow's 4x fan-out runs inside the "
    "watermark-bounded streaming aggregation; the drained stream equals "
    "the batch twin hopping_event_stats (ST1 family).",
)
def stream_hopping_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.streaming.windows import run_stream_hopping_counts

    return run_stream_hopping_counts(spark, sf_dir)


# ---------------------------------------------------------------------------
# Raw-parquet footer skipping (round 11): file-level min/max pruning
# with NO table format in the loop — the footer is the metadata
# (sources/footerprune.py). The fixture range-partitions an orders
# slice into 6 files so footers carry disjoint o_orderkey bounds; the
# planner schedules only the files intersecting the predicate (in-query
# assert: a strict subset) and Spark's row-group pushdown still applies
# inside them. Completes the skipping ladder: footer (raw dir) ->
# VersionedTable manifest -> Delta stats -> Iceberg manifests.
# ---------------------------------------------------------------------------
@query(
    "parquet_footer_skipping",
    sql="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderkey < 1400 AND o_orderkey BETWEEN 300 AND 650
    GROUP BY 1
    """,
    doc="Plan-time file pruning over a raw parquet directory from footer "
    "min/max stats (no Delta/Iceberg/manifest); range-clustered layout, "
    "strict-subset scheduling asserted in-query. Oracle filters raw "
    "orders.",
    round_added=11,
)
def parquet_footer_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.footerprune import plan_parquet_files

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1400)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    data_dir = scratch_dir(spark, "footer_skip_")
    src.repartitionByRange(6, "o_orderkey").write.mode("overwrite").parquet(data_dir)

    lo, hi = 300, 650
    selected, total = plan_parquet_files(data_dir, "o_orderkey", lo, hi)
    # the range-clustered layout must actually prune, and never to zero
    assert 0 < len(selected) < total, (len(selected), total)

    return (
        spark.read.parquet(*selected)
        .where(F.col("o_orderkey").between(lo, hi))
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# Footer-ONLY aggregates (round 12): COUNT/MIN/MAX answered from parquet
# footer metadata with zero data pages read — the plan-level twin of
# Spark's parquet aggregate pushdown (which still schedules a task per
# file; this is O(files) footer reads on the driver and nothing else).
# Exactness is structural: row counts come from row-group headers, and
# agg_from_footers RAISES if any row group lacks full column statistics
# rather than return a guess. The in-query assert re-derives the same
# three numbers from a distributed scan and compares — the footer path
# and the scan path must agree bit-for-bit before anything is returned.
# ---------------------------------------------------------------------------
@query(
    "parquet_footer_agg",
    sql="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_values,
           CAST(MIN(o_custkey) AS BIGINT) AS min_key,
           CAST(MAX(o_custkey) AS BIGINT) AS max_key
    FROM orders WHERE o_orderkey < 1400
    """,
    doc="Stats-only aggregate (COUNT/COUNT(col)/MIN/MAX) computed purely "
    "from parquet footers, O(files) with zero data pages read; refuses "
    "if any row group lacks statistics. Scan-equality asserted in-query.",
    round_added=12,
)
def parquet_footer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_etl_pipeline_spark.sources.footerprune import agg_from_footers

    src = (
        load(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 1400)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )
    data_dir = scratch_dir(spark, "footer_agg_")
    src.repartitionByRange(6, "o_orderkey").write.mode("overwrite").parquet(data_dir)

    stats = agg_from_footers(data_dir, "o_custkey")
    scan = (
        spark.read.parquet(data_dir)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_custkey").alias("n_values"),
            F.min("o_custkey").alias("min_key"),
            F.max("o_custkey").alias("max_key"),
        )
        .collect()[0]
    )
    assert (stats["n_rows"], stats["n_values"], stats["min"], stats["max"]) == (
        scan["n_rows"], scan["n_values"], scan["min_key"], scan["max_key"],
    ), (stats, scan)

    return local_frame(
        spark,
        [(stats["n_rows"], stats["n_values"], int(stats["min"]), int(stats["max"]))],
        "n_rows bigint, n_values bigint, min_key bigint, max_key bigint",
    )
