"""Physical-plan assertions: the scale properties the engine is designed
around must be visible in explain output — filters pushed to the parquet
scan, dimension joins broadcast, codegen covering the hot expressions, and
no accidental cartesian products."""

from __future__ import annotations

from py4j.protocol import Py4JJavaError

from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
from data_etl_pipeline_spark.plans.planassert import (
    executed_plan,
    formatted_plan,
    optimized_plan,
)
from data_etl_pipeline_spark.session import conf_scope
from data_etl_pipeline_spark.tables import load

_ensure_loaded()


def _plan(spark, sf_dir, name) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return formatted_plan(df)


def test_projection_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "rich_customers_projection")
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,5000.0)" in plan
    # column pruning: only the 4 referenced columns read, not the whole table
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double,c_mktsegment:string>" in plan


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "CartesianProduct" not in plan


def test_anti_and_semi_joins_planned(spark, sf_dir):
    assert "LeftAnti" in _plan(spark, sf_dir, "customers_without_orders")
    assert "LeftSemi" in _plan(spark, sf_dir, "customers_with_urgent_orders")


def test_prefix_filter_pushed(spark, sf_dir):
    plan = _plan(spark, sf_dir, "part_prefix_agg")
    assert "StringStartsWith(p_name,small)" in plan


def test_aggregates_are_partial(spark, sf_dir):
    # partial (map-side) aggregation before the exchange: two HashAggregate
    # nodes around one Exchange
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_whole_stage_codegen_active(spark, sf_dir):
    # codegen markers only appear in the FINAL adaptive plan, so execute first
    df = QUERIES["pricing_summary"].fn(spark, sf_dir)
    df.collect()
    final = executed_plan(df)
    # '*(n)' prefixes mark WholeStageCodegen stages in the executed plan
    assert "*(1)" in final and "*(2)" in final


def _items(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _input_records(store, stage_ids):
    for s in stage_ids:
        try:
            yield store.lastStageAttempt(s).inputRecords()
        except Py4JJavaError:  # the stage was never submitted
            continue


def test_dedup_single_scan(spark, sf_dir):
    # the inverted-index jaccard reads and shingles the corpus exactly
    # once: one stage reads all documents, and the posting self-join's
    # second side reuses the first side's exchange. Checked at execution:
    # AQE applies exchange reuse only as it plans the stages, so the
    # pre-execution plan lists a scan under each join side.
    n_docs = load(spark, sf_dir, "documents").count()
    sc = spark.sparkContext._jsc.sc()
    store = sc.statusStore()
    sc.listenerBus().waitUntilEmpty()
    before = {j.jobId() for j in _items(store.jobsList(None))}
    df = QUERIES["doc_ngram_jaccard_pairs"].fn(spark, sf_dir)
    df.collect()
    sc.listenerBus().waitUntilEmpty()
    stages = {
        s
        for j in _items(store.jobsList(None))
        if j.jobId() not in before
        for s in _items(j.stageIds())
    }
    assert [r for r in _input_records(store, stages) if r] == [n_docs]
    final = executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "ReusedExchange" in final.split("ShuffledHashJoin", 1)[1]


def test_ann_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ann_topk_bruteforce")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    # union+window as-of: no join operator at all, exactly one exchange
    # for the window partitioning (plus AQE read nodes), no range join
    # that would plan as BroadcastNestedLoop/Cartesian
    plan = _plan(spark, sf_dir, "events_asof_orders")
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct", "BroadcastHashJoin"):
        assert bad not in plan
    assert "Window" in plan
    assert plan.count("Exchange (") == 1 and "hashpartitioning" in plan


def test_followup_counts_plan_is_window_not_join(spark, sf_dir):
    # the RANGE-frame rewrite of the 7-day range join: one shuffle, no join
    plan = _plan(spark, sf_dir, "events_followup_counts")
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_q10_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "returned_items_revenue")
    assert plan.count("BroadcastHashJoin") >= 2  # customer, nation
    assert "CartesianProduct" not in plan


def test_q6_predicates_all_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "forecast_revenue_change")
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan
    # only the needed columns are read
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp" in plan


def test_rollup_cube_partial_aggregation(spark, sf_dir):
    for name in ("order_priority_rollup", "returnflag_status_cube"):
        plan = _plan(spark, sf_dir, name)
        assert "Expand" in plan  # grouping-sets expansion
        assert plan.count("HashAggregate") >= 2  # partial + final


def test_ivf_assignment_has_no_window(spark, sf_dir):
    # cell assignment is a per-row argmin over the broadcast centroid array;
    # the only Window allowed is the final per-query top-k rerank
    import re

    plan = _plan(spark, sf_dir, "ann_topk_ivf")
    # exact Window nodes, not WindowGroupLimit pushdown helpers
    assert len(re.findall(r"\(\d+\) Window\b", plan)) <= 1
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_etld1_plan_is_shuffle_free(spark, sf_dir):
    # PSL matching is literal-array folds in codegen: no Exchange, no join
    plan = _plan(spark, sf_dir, "supplier_host_etld1")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_corpus_curation_single_scan_no_join(spark, sf_dir):
    # quality gate + dedup + budget compose into one plan: one parquet scan,
    # zero joins (quality columns are appended in place, not joined back)
    import re

    plan = _plan(spark, sf_dir, "corpus_curation")
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_lsh_candidates_are_equi_join_not_cross(spark, sf_dir):
    # multiprobe LSH: candidate generation must be a broadcast EQUI-join on
    # (table_id, code) — the probe expansion happens on the tiny query side
    # only, so no cartesian/nested-loop join over the corpus ever appears
    plan = _plan(spark, sf_dir, "ann_topk_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_sequence_packing_groups_by_source_and_shard(spark, sf_dir):
    # the de-skew guarantee in the plan: the packing exchange partitions on
    # BOTH source and shard, so one giant source fans out across executors
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert "FlatMapGroupsInPandas" in plan
    import re

    m = re.search(r"hashpartitioning\(source[^)]*shard", plan)
    assert m, "packing exchange must partition on (source, shard)"


def test_interval_join_is_equi_join_not_nested_loop(spark, sf_dir):
    plan = _plan(spark, sf_dir, "incident_window_event_counts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the range predicate rides an equi-join on the bucket id
    assert "HashJoin" in plan


def test_lm_model_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "doc_lm_nll")
    assert plan.count("BroadcastHashJoin") >= 2  # bigram + context models
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_on_partitioned_sink(spark, tmp_path):
    """A partitioned-parquet fact joined to a selectively-filtered dim must
    plan a DPP subquery filter: only matching partitions are scanned. This
    is the 100 TB pattern for date-partitioned lakes — verify the engine's
    session config leaves Catalyst free to inject it."""
    from data_etl_pipeline_spark.tables import load

    fact_dir = str(tmp_path / "orders_by_priority")
    load(spark, "/root/testdata/sf0.001", "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("3-MEDIUM", 3)], "o_orderpriority string, rank int"
    ).where("rank = 1")
    joined = fact.join(dim, "o_orderpriority").groupBy("o_orderpriority").count()
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Spark's runtime Bloom-filter join injection (the row-group-pruning
    runtime filter that matters on fact-fact joins at scale): a selective
    build side plants a might_contain() filter on the probe side's scan.
    The application-side threshold defaults to 10 GB — always met by a
    100 TB fact table, lowered here so the sf-test files qualify; the
    mechanism itself is what this pins."""
    from pyspark.sql import functions as F

    from data_etl_pipeline_spark.tables import load

    knobs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    with conf_scope(spark, knobs):
        orders = (
            load(spark, sf_dir, "orders")
            .where(F.col("o_totalprice") > 500000)
            .select("o_orderkey")
        )
        lineitem = load(spark, sf_dir, "lineitem")
        j = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        plan = optimized_plan(j)
        assert "might_contain" in plan
