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


def pytest_configure(config):
    config.addinivalue_line(
        'markers', 'slow: long-running end-to-end tests (spark-submit etc.)')
