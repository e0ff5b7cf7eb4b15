"""Parallelism spread for one-split scan inputs
(operators/skew.ensure_min_parallelism)."""

from __future__ import annotations


class TestEnsureMinParallelism:
    """ensure_min_parallelism: spreads one-split inputs, no-ops on
    already-parallel plans (the 100 TB case — thousands of scan splits
    must never gain a shuffle)."""

    def test_spreads_single_partition_input(self, spark):
        from pdf_ai_mapper_spark.operators.skew import ensure_min_parallelism
        df = spark.range(1000).coalesce(1)
        out = ensure_min_parallelism(df, min_parts=8)
        assert out.rdd.getNumPartitions() == 8
        assert sorted(r.id for r in out.collect()) == list(range(1000))

    def test_noop_when_already_parallel(self, spark):
        from pdf_ai_mapper_spark.operators.skew import ensure_min_parallelism
        df = spark.range(1000).repartition(8)
        out = ensure_min_parallelism(df, min_parts=4)
        assert out is df            # identical plan object — no shuffle added

    def test_single_row_group_parquet_scan_fires(self, spark, testdata):
        # the motivating case: sf parquet files are ONE row group, so
        # the scan is one task regardless of maxPartitionBytes
        from pdf_ai_mapper_spark.operators.skew import ensure_min_parallelism
        docs = spark.read.parquet(str(testdata / 'sf0.001/documents.parquet'))
        assert docs.rdd.getNumPartitions() == 1
        out = ensure_min_parallelism(docs)
        assert (out.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)
