"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship extraction pipeline on web pages
synthesized (deterministically, executor-side) from the sf0.001
documents table. ``queries``/``oracle_sql`` expose the operator catalog
of SURVEY.md §2 plus the training-data-pipeline operators; the driver
compares each against DuckDB at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# root of the sf test tables (TESTDATA.md); the tests derive theirs
TESTDATA_ROOT = Path('/root/testdata')
SF0001 = str(TESTDATA_ROOT / 'sf0.001')


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (doctype sniff → HTML
    boilerplate strip → preprocess → md5 → dedup rank) over web pages
    built from sf0.001 documents; per-url byte-identity surfaced as a
    column."""
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    from pdf_ai_mapper_spark.queries import q_extraction_pipeline
    return q_extraction_pipeline(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_ai_mapper_spark.queries import catalog
    return catalog()


def oracle_sql() -> dict[str, str]:
    from pdf_ai_mapper_spark.queries import ORACLES
    return dict(ORACLES)
