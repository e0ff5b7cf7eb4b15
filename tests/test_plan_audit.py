"""Physical-plan regression guards (PLANS.md claims, pinned).

Each test asserts a load-bearing property of an executed plan that a
careless refactor could silently regress: a broadcast that must not
become a shuffle, a pipeline that must keep payloads out of every
exchange. String checks are against Spark 4.1.2's executedPlan
formatting (pinned in this sandbox).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def sf(testdata):
    return str(testdata / 'sf0.001')


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_transform_no_payload_in_exchange(spark):
    """pipeline.transform: the only shuffle is the narrow content-hash
    aggregate — html payload and extracted/preprocessed text must
    never appear in any Exchange's output columns."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
    from pdf_ai_mapper_spark.pipeline import transform
    df = transform(web_pages_df(spark, 50, num_partitions=2), 'plan-audit')
    plan = _plan(df)
    for line in plan.splitlines():
        if 'Exchange' in line:
            assert 'html' not in line
            assert 'extracted_text' not in line
            assert 'preprocessed_text' not in line


def test_extraction_single_arrow_eval_python(spark):
    """extract+preprocess must stay FUSED: exactly one ArrowEvalPython
    node (two chained pandas UDFs double Python workers per task)."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
    from pdf_ai_mapper_spark.operators.extraction import extracted
    plan = _plan(extracted(web_pages_df(spark, 50, num_partitions=2)))
    assert plan.count('ArrowEvalPython') == 1


def test_scan_prunes_columns_for_narrow_query(spark, sf):
    """Column pruning reaches the parquet scan: a two-column projection
    must not read the text payload."""
    df = (spark.read.parquet(f'{sf}/documents.parquet')
          .groupBy('lang').agg(F.count('*').alias('n')))
    qe = df._jdf.queryExecution().toString()
    assert 'ReadSchema' in qe
    read_schema = [ln for ln in qe.splitlines() if 'ReadSchema' in ln][-1]
    assert 'text' not in read_schema


def test_filter_pushdown_reaches_scan(spark, sf):
    df = (spark.read.parquet(f'{sf}/events.parquet')
          .filter(F.col('user_id') == 7).select('event_id'))
    qe = df._jdf.queryExecution().toString()
    assert 'PushedFilters: [' in qe
    pushed = [ln for ln in qe.splitlines() if 'PushedFilters' in ln][-1]
    assert 'user_id' in pushed


def test_release_contract_no_persist_leaks(spark, sf):
    """Every catalog query that persists internally (LSH signatures,
    connected-component labels) must leave ZERO persisted RDDs behind
    — a leak per call accumulates MEMORY_AND_DISK tables across a bench
    loop or a long driver session."""
    # NOT covered: q_minhash_incremental — its operator
    # localCheckpoint()s, and checkpointed RDDs stay registered until
    # the JVM ContextCleaner GCs the unreferenced handles (bounded per call,
    # self-cleaning; a hard unpersist would break the lineage
    # truncation they exist for).
    import __spark_entry__ as e
    cat = e.queries()

    def _ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    # the suite shares one session: earlier tests may have left
    # checkpoint-class RDDs behind (GC-cleaned) — assert no GROWTH
    # beyond the baseline, not absolute zero
    baseline = _ids()
    for name in ('q_cluster_keep_best', 'q_minhash_near_dups'):
        cat[name](spark, sf).collect()
        new = _ids() - baseline
        assert not new, (name, new)


def test_cluster_spark_conf_contract():
    """cluster_spark_conf (round 7, from the drift A/B straggler
    finding): the real-cluster conf must enable speculation and
    decommissioning and must NOT be baked into get_spark's local-mode
    defaults (speculation double-runs tasks inside one JVM)."""
    import inspect
    from pdf_ai_mapper_spark.session import cluster_spark_conf, get_spark
    conf = cluster_spark_conf()
    assert conf['spark.speculation'] == 'true'
    assert conf['spark.decommission.enabled'] == 'true'
    assert all(isinstance(v, str) for v in conf.values())  # builder-safe
    src = inspect.getsource(get_spark)
    assert 'speculation' not in src


def test_run_pipeline_builder_carries_cluster_conf():
    """The spark-submit entry's session builder carries every
    ``cluster_spark_conf`` item, leaves the master to spark-submit, and
    keeps Spark's parallel table listing (``get_spark`` raises the
    listing threshold for local tables only). Building it starts no
    JVM."""
    import importlib.util
    from pathlib import Path
    from pdf_ai_mapper_spark.session import cluster_spark_conf
    path = Path(__file__).resolve().parents[1] / 'scripts' / 'run_pipeline.py'
    spec = importlib.util.spec_from_file_location('run_pipeline', path)
    run_pipeline = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_pipeline)
    options = run_pipeline.session_builder()._options
    assert cluster_spark_conf().items() <= options.items()
    assert 'spark.master' not in options
    assert not any('parallelPartitionDiscovery' in k for k in options)
