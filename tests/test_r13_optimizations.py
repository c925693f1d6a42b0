"""Focused pins for the round-13 optimization internals.

Each test locks the behavior an optimization changed. The simhash pin is
the r12-ADVICE fix: the per-bit-outer vote fold re-evaluated its
transform(...md5...) child once per output bit (CollapseProject inlines a
single-use projection back into the fold, so a `__wh` column could not
pin it); the word-outer fold must keep exactly ONE md5 in the optimized
plan, outside any per-bit lambda.
"""

from __future__ import annotations

from pyspark.sql import functions as F


class TestSimhashWordOuterFold:
    def test_md5_evaluates_once_per_row_in_optimized_plan(self, spark):
        from data_etl_pipeline_spark.operators.dedup import simhash

        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta")], "doc_id long, text string"
        )
        plan = simhash(df)._jdf.queryExecution().optimizedPlan().toString()
        # exactly one md5 call site, and it is the direct argument of the
        # word-outer aggregate — not nested inside a per-bit lambda
        assert plan.count("md5") == 1, plan
        assert "aggregate(transform(array_distinct" in plan.replace("\n", ""), plan

    def test_values_match_per_bit_reference(self, spark):
        # independent per-bit reference: vote for bit j = sum over distinct
        # word hashes of +-1 on bit j; bit set iff vote > 0
        import hashlib

        from data_etl_pipeline_spark.operators.dedup import simhash

        texts = [
            (1, "a b c d e f"),
            (2, "x"),
            (3, "repeat repeat repeat distinct"),
            (4, ""),
        ]
        got = {
            r["doc_id"]: r["simhash"]
            for r in simhash(
                spark.createDataFrame(texts, "doc_id long, text string")
            ).collect()
        }
        for doc_id, text in texts:
            words = list(dict.fromkeys(text.split(" ")))
            hs = [
                int(hashlib.md5(w.encode()).hexdigest()[:15], 16) for w in words
            ]
            want = 0
            for j in range(60):
                vote = sum(1 if (h >> j) & 1 else -1 for h in hs)
                if vote > 0:
                    want |= 1 << j
            assert got[doc_id] == want, (doc_id, got[doc_id], want)


class TestIcebergPartitionedWriteGuards:
    def test_reserved_tag_column_names_refuse(self, spark, tmp_path):
        from data_etl_pipeline_spark.sources.iceberg import IcebergError, export_iceberg

        df = spark.createDataFrame([(1, "a", 0)], "k long, v string, __pi int")
        import pytest as _pytest

        with _pytest.raises(IcebergError, match="internal tag names"):
            export_iceberg(df, str(tmp_path / "t"), partition_by="k")

    def test_existing_snapshot_dir_refuses_overwrite(self, spark, tmp_path):
        # every commit attempt's files are written by the commit kernel's
        # stage step, which owns the directory Spark writes into
        import os

        from data_etl_pipeline_spark.sources.commit import Attempt

        df = spark.createDataFrame([(1, "a")], "k long, v string")
        tbl = str(tmp_path / "t2")
        att = Attempt(tbl)
        os.makedirs(os.path.join(tbl, f"_attempt-{att.token}", "0"))
        import pytest as _pytest

        with _pytest.raises(FileExistsError, match="already exists"):
            att.stage(df.write.parquet)
