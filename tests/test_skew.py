"""Parallelism spread for one-split scan inputs
(operators/dedup._ensure_min_parallelism, the size-gated spread before
MinHash signing)."""

from __future__ import annotations

from pdf_ai_mapper_spark.operators.dedup import (_SPREAD_MIN_BYTES_PER_PART,
                                                 _ensure_min_parallelism)


class TestEnsureMinParallelism:
    """Spreads a one-split input to defaultParallelism partitions when
    its estimated size clears the per-partition byte gate; no-ops on
    already-parallel plans (the 100 TB case — thousands of scan splits
    must never gain a shuffle) and on inputs under the gate."""

    def test_spreads_single_partition_input(self, spark):
        target = spark.sparkContext.defaultParallelism
        n = 2 * _SPREAD_MIN_BYTES_PER_PART * target // 8  # 8 B per id
        df = spark.range(n).coalesce(1)
        out = _ensure_min_parallelism(df)
        assert out.rdd.getNumPartitions() == target
        assert out.count() == n
        assert out.agg({'id': 'sum'}).first()[0] == n * (n - 1) // 2

    def test_noop_when_already_parallel(self, spark):
        target = spark.sparkContext.defaultParallelism
        df = spark.range(10 ** 6).repartition(target)
        assert _ensure_min_parallelism(df) is df  # no shuffle added

    def test_noop_under_the_size_gate(self, spark, testdata):
        # sf0.001 documents: 65 KB, one split, under the gate at local[4]
        docs = spark.read.parquet(str(testdata / 'sf0.001/documents.parquet'))
        assert docs.rdd.getNumPartitions() == 1
        assert _ensure_min_parallelism(docs) is docs

    def test_single_row_group_parquet_scan_fires(self, spark, testdata):
        # the motivating case: sf parquet files are ONE row group, so
        # the scan is one task regardless of maxPartitionBytes
        docs = spark.read.parquet(str(testdata / 'sf0.1/documents.parquet'))
        assert docs.rdd.getNumPartitions() == 1
        out = _ensure_min_parallelism(docs)
        assert (out.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)
