"""Focused pins for the round-12 optimization internals.

Each test locks the behavior an optimization changed: the one-checkpoint
connected-components round still converges in O(log diameter) on a deep
chain; the single-pass Iceberg partitioned write keeps the one-file-per-
partition-VALUE invariant with values scattered across input partitions;
local_frame really is one partition; the repetition gate's sorted-run
top-frequency handles ties and short docs exactly; the table-diff drill
join actually plans ShuffledHashJoin (the strategy the A/B measured).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F


class TestMinLabelClustersOneCheckpoint:
    def test_deep_chain_converges_to_component_min(self, spark):
        # 64-node chain: diameter 63. Hop + (stale) pointer jump must
        # converge well inside the default 20-round cap — label distance
        # to the min roughly doubles per round even with the jump reading
        # labels one round stale.
        from data_etl_pipeline_spark.operators.dedup import min_label_clusters

        n = 64
        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long"
        )
        out = min_label_clusters(nodes, edges).collect()
        assert {r["doc_id"] for r in out} == set(range(n))
        assert {r["cluster"] for r in out} == {0}

    def test_two_components_and_singleton(self, spark):
        from data_etl_pipeline_spark.operators.dedup import min_label_clusters

        nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "src long, dst long"
        )
        got = {r["doc_id"]: r["cluster"] for r in min_label_clusters(nodes, edges).collect()}
        assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


class TestIcebergPartitionedWriteSinglePass:
    def test_one_file_per_value_with_scattered_input(self, spark, tmp_path):
        # values interleaved across MANY input partitions must still land
        # as exactly one data file per partition value, each file holding
        # only its value's rows (the invariant manifests encode)
        from data_etl_pipeline_spark.sources.iceberg import IcebergTable, export_iceberg

        df = (
            spark.range(0, 120, 1, 8)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 5).cast("int").alias("bucketed"),
            )
        )
        dest = str(tmp_path / "tbl")
        export_iceberg(df, dest, partition_by="bucketed", transform="identity")
        part_dirs = sorted(
            {os.path.dirname(f["path"]) for f in IcebergTable(spark, dest).data_files()}
        )
        assert len(part_dirs) == 5, part_dirs
        for d in part_dirs:
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
            vals = {
                r["bucketed"]
                for r in spark.read.parquet(os.path.join(d, files[0])).collect()
            }
            assert len(vals) == 1, (d, vals)
        back = IcebergTable(spark, dest).read()
        assert back.count() == 120
        assert back.agg(F.sum("k")).first()[0] == sum(range(120))


class TestLocalFrame:
    def test_single_partition_and_rows(self, spark):
        from data_etl_pipeline_spark.tables import local_frame

        rows = [(i, f"v{i}") for i in range(5)]
        df = local_frame(spark, rows, "k int, v string")
        assert df.rdd.getNumPartitions() == 1
        assert sorted(map(tuple, df.collect())) == rows

    def test_empty_rows(self, spark):
        from data_etl_pipeline_spark.tables import local_frame

        df = local_frame(spark, [], "k int")
        assert df.count() == 0


class TestRepetitionStatsSortedRun:
    @pytest.mark.parametrize(
        "text,top_word,n_words",
        [
            ("a b a c a", 3, 5),          # clear winner
            ("x y x y", 2, 4),            # tie -> max run is still 2
            ("solo", 1, 1),               # single word, shorter than n-gram
            ("t t t", 3, 3),              # doc length == n exactly
        ],
    )
    def test_top_word_counts(self, spark, text, top_word, n_words):
        from data_etl_pipeline_spark.operators.textstats import repetition_stats

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        row = repetition_stats(df).collect()[0]
        assert row["n_words"] == n_words
        assert row["top_word_ratio"] == round(top_word / n_words, 6)

    def test_trigram_ratio_null_below_n(self, spark):
        from data_etl_pipeline_spark.operators.textstats import repetition_stats

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        row = repetition_stats(df).collect()[0]
        assert row["top_trigram_ratio"] is None

    def test_repeated_trigram_dominates(self, spark):
        from data_etl_pipeline_spark.operators.textstats import repetition_stats

        # "p q p q p q" -> trigrams [p q p, q p q, p q p, q p q]: top = 2 of 4
        df = spark.createDataFrame([(1, "p q p q p q")], "doc_id long, text string")
        row = repetition_stats(df).collect()[0]
        assert row["top_trigram_ratio"] == round(2 / 4, 6)


class TestTableDiffDrillJoinStrategy:
    def test_drill_join_is_shuffled_hash(self, spark, sf_dir):
        from data_etl_pipeline_spark.plans.registry import QUERIES, _ensure_loaded
        from data_etl_pipeline_spark.plans.planassert import formatted_plan

        _ensure_loaded()
        if not os.path.isdir(sf_dir):
            pytest.skip(f"fixture dir {sf_dir} absent on this machine")
        df = QUERIES["table_diff_bucket_checksums"].fn(spark, sf_dir)
        plan = formatted_plan(df)
        assert "ShuffledHashJoin FullOuter" in plan, plan[:2000]
        assert "SortMergeJoin" not in plan, plan[:2000]
