"""Shared test fixtures: one session-scoped SparkSession (local[4] for
test latency; perfbench uses local[nproc])."""

from __future__ import annotations

import pytest


@pytest.fixture(scope='session')
def spark():
    from pdf_ai_mapper_spark.config import EngineConfig
    from pdf_ai_mapper_spark.session import get_spark

    cfg = EngineConfig(shuffle_partitions=8)
    s = get_spark(app_name='pdf-ai-mapper-spark-tests', master='local[4]', cfg=cfg)
    yield s
    s.stop()


@pytest.fixture(scope='session')
def testdata():
    """``__spark_entry__.TESTDATA_ROOT``, the root of the sf test tables.
    A test that reads them skips on a host without them."""
    from __spark_entry__ import TESTDATA_ROOT
    if not TESTDATA_ROOT.is_dir():
        pytest.skip(f'test data not present at {TESTDATA_ROOT}')
    return TESTDATA_ROOT


@pytest.fixture()
def no_broadcast(spark):
    """``spark.sql.autoBroadcastJoinThreshold`` = -1 for one test,
    restored after: ``run_extraction(bloom_prefilter=True)`` then never
    broadcasts the committed hashes and takes the Bloom rung."""
    old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        yield
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)


@pytest.fixture()
def spy_bloom(monkeypatch):
    """``spy_bloom(name)`` wraps ``operators.bloom.<name>`` for one test
    and returns the list it appends each call's kwargs to."""
    from pdf_ai_mapper_spark.operators import bloom

    def spy(name):
        calls, real = [], getattr(bloom, name)

        def wrapper(*a, **kw):
            calls.append(kw)
            return real(*a, **kw)
        monkeypatch.setattr(bloom, name, wrapper)
        return calls
    return spy


def pytest_configure(config):
    config.addinivalue_line(
        'markers', 'slow: long-running end-to-end tests (spark-submit etc.)')
