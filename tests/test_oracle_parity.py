"""Driver-harness simulation: run every ``__spark_entry__.queries()``
entry and compare against its ``oracle_sql()`` DuckDB result —
row count, column names, and order-insensitive value multiset —
at sf0.001 (the real driver gate runs sf0.01)."""

from __future__ import annotations

import datetime
import math
import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as entry_mod

SF_DIR = os.environ.get('ORACLE_SF_DIR', entry_mod.SF0001)
TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


@pytest.fixture(scope='module')
def sf_dir():
    """``SF_DIR``; the tests that read it skip on a host without it."""
    if not os.path.isdir(SF_DIR):
        pytest.skip(f'test data not present at {SF_DIR}')
    return SF_DIR


@pytest.fixture(scope='module')
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


def _norm(v):
    import decimal
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return 'nan'
        return round(v, 5)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm(r[i]) for i in order) for r in rows]
    # None-safe multiset ordering (grouping sets emit NULL keys)
    return sorted(normed, key=repr)


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_every_oracle_key_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize('name', sorted(ORACLES))
def test_query_matches_duckdb_oracle(spark, duck, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    scols = sdf.columns

    res = duck.execute(ORACLES[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f'{name}: column names differ'
    assert len(srows) == len(drows), f'{name}: row counts differ'
    sm = _rows_to_multiset(scols, [tuple(r) for r in srows])
    dm = _rows_to_multiset(dcols, drows)
    assert sm == dm, f'{name}: values differ\nspark[0:3]={sm[:3]}\nduck[0:3]={dm[:3]}'


@pytest.mark.parametrize('name', sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark, testdata):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 500  # sf0.001 documents count
    assert all(r['byte_identical'] for r in rows)
    assert not any(r['is_error'] for r in rows)
