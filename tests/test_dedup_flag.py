"""The commit-time ``is_duplicate`` flag is the engine's only first-seen
dedup: search and ``MapperAPI.cleanup_duplicates`` read it, so on every
engine write it must equal ``dedup_exact``'s survivor set."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_ai_mapper_spark import checkpoint as cp
from pdf_ai_mapper_spark.api import MapperAPI
from pdf_ai_mapper_spark.config import EngineConfig
from pdf_ai_mapper_spark.fixtures.webpages import WEB_PAGES_SCHEMA, page_row
from pdf_ai_mapper_spark.operators.dedup import dedup_exact
from pdf_ai_mapper_spark.operators.search import search
from pdf_ai_mapper_spark.pipeline import run_extraction, transform

CFG = EngineConfig(shuffle_partitions=8, output_buckets=8)
COLS = ['url', 'warc_ts', 'html', 'text', 'lang']


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix='pam_test_flag_')
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _pages(spark, ids, extra=()):
    rows = [page_row(i) for i in ids] + list(extra)
    return spark.createDataFrame(pd.DataFrame(rows, columns=COLS),
                                 WEB_PAGES_SCHEMA)


def _null_payload(url):
    return {'url': url, 'warc_ts': dt.datetime(2024, 1, 1), 'html': None,
            'text': None, 'lang': 'en'}


def _null_ts_copy(url, i):
    """A copy of page ``i``'s payload with a NULL warc_ts — it sorts
    first, so it is the first-seen row of that content hash."""
    return {**page_row(i), 'url': url, 'warc_ts': None}


def _assert_flag_exact(spark, outdir):
    """urls stored as first-seen (plus NULL-hash rows) == the survivors
    of the rank-1 window over the same table. Returns the flag count."""
    table = cp.read_output(spark, outdir)
    kept = sorted(r['url'] for r in table.filter(
        ~F.col('is_duplicate') | F.col('content_hash').isNull())
        .select('url').collect())
    want = sorted(r['url'] for r in dedup_exact(table).select('url').collect())
    assert kept == want
    assert table.filter(F.col('content_hash').isNull()
                        & F.col('is_duplicate')).count() == 0
    return table.filter('is_duplicate').count()


def test_flag_exact_after_batch_compact_and_cleanup(spark, outdir):
    pages = _pages(spark, range(48), [_null_payload('null-payload'),
                                      _null_ts_copy('null-ts', 6)])
    run_extraction(spark, pages, outdir, CFG)
    flagged = _assert_flag_exact(spark, outdir)
    assert flagged > 0
    # the NULL-ts copy is first-seen; page 6 and its html_dup (10) are not
    got = {r['url']: r['is_duplicate'] for r in
           cp.read_output(spark, outdir).collect()}
    assert got['null-ts'] is False and got['null-payload'] is False
    assert got[page_row(6)['url']] is True and got[page_row(10)['url']] is True

    cp.compact_output(spark, outdir)
    assert _assert_flag_exact(spark, outdir) == flagged

    survivors = sorted(r['url'] for r in
                       dedup_exact(cp.read_output(spark, outdir)).collect())
    res = MapperAPI(spark, outdir, CFG).cleanup_duplicates()
    assert res['message'] == f'Removed {flagged} duplicate documents'
    assert _assert_flag_exact(spark, outdir) == 0
    assert sorted(r['url'] for r in
                  cp.read_output(spark, outdir).collect()) == survivors


def test_flag_exact_after_partial_resume(spark, outdir):
    """The committed-bucket skip applies after the first-seen join, so a
    resume flags the copies whose first sighting sits in a committed
    bucket exactly as a clean run does."""
    pages = _pages(spark, range(72), [_null_payload('null-payload'),
                                      _null_ts_copy('null-ts', 6)])
    run_extraction(spark, pages, outdir, CFG)
    clean = _assert_flag_exact(spark, outdir)
    kept = (spark.read.parquet(cp.checkpoint_path(outdir))
            .filter(F.col('bucket') < 4).toPandas())
    shutil.rmtree(cp.checkpoint_path(outdir))
    spark.createDataFrame(kept).write.parquet(cp.checkpoint_path(outdir))

    s = run_extraction(spark, pages, outdir, CFG)
    assert s['resumed_skipped_buckets'] == 4
    assert _assert_flag_exact(spark, outdir) == clean


@pytest.mark.parametrize('strategy', ['broadcast', 'bloom', 'plain'])
def test_flag_exact_across_incremental_batches(spark, outdir, strategy,
                                               request, spy_bloom):
    """Copies within a batch are flagged by that batch's commit; copies
    of committed content never land (the anti-join), so no content
    hash spans two runs. NULL payloads pass the anti-join every time.
    Holds for each anti-join ``run_extraction`` can pick: the broadcast
    of a small hash set, the Bloom split (broadcast off) and the plain
    join (no prefilter)."""
    if strategy == 'bloom':
        request.getfixturevalue('no_broadcast')
    builds = spy_bloom('build_bloom')
    prefilter = strategy != 'plain'
    run_extraction(spark, _pages(spark, range(36),
                                 [_null_payload('null-payload-1')]),
                   outdir, CFG, dedup_against_output=True,
                   bloom_prefilter=prefilter)
    first = _assert_flag_exact(spark, outdir)
    assert first > 0
    batch2 = _pages(spark, range(30, 72),
                    [_null_payload('null-payload-2'),
                     _null_ts_copy('null-ts-across', 6),   # committed
                     _null_ts_copy('null-ts-within', 42)])  # new here
    run_extraction(spark, batch2, outdir, CFG, dedup_against_output=True,
                   bloom_prefilter=prefilter)
    assert len(builds) == (1 if strategy == 'bloom' else 0)
    assert _assert_flag_exact(spark, outdir) > first
    urls = {r['url'] for r in cp.read_output(spark, outdir).collect()}
    assert {'null-payload-1', 'null-payload-2', 'null-ts-within'} <= urls
    assert 'null-ts-across' not in urls


def test_flag_exact_after_repeated_upload(spark, outdir):
    api = MapperAPI(spark, outdir, CFG)
    payload = bytes(page_row(0)['html'])
    api.upload(payload, 'a.html')
    api.upload(payload, 'b.html')
    assert _assert_flag_exact(spark, outdir) == 0
    assert cp.read_output(spark, outdir).count() == 1


def test_search_plan_has_no_dedup_window(spark, outdir):
    """search() filters on the stored flag: no Window and no exchange
    on content_hash under the corpus scan."""
    run_extraction(spark, _pages(spark, range(24)), outdir, CFG)
    for q in ('ancient empire battle', 'δικαιοσύνη'):  # native, UDF path
        res = search(cp.read_output(spark, outdir), q, k=5)
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert 'Window' not in plan
        assert 'hashpartitioning(content_hash' not in plan
        assert 'is_duplicate' in plan


def test_repeated_record_keeps_both_copies(spark):
    """The one edge where the flag and the window differ: a record that
    repeats with the same (url, warc_ts, payload) has no later copy, so
    both copies store is_duplicate = false and search ranks both; the
    rank-1 window would keep one of them at random."""
    df = transform(_pages(spark, [0, 0, 1, 4]), run_id='t', cfg=CFG)
    flags = sorted((r['url'], r['is_duplicate']) for r in df.collect())
    u0, u1, u4 = (page_row(i)['url'] for i in (0, 1, 4))
    assert flags == sorted([(u0, False), (u0, False), (u1, False),
                            (u4, True)])
    hits = [r['url'] for r in search(df, 'philosophy virtue', k=10).collect()]
    assert hits.count(u0) == 2 and u4 not in hits
    assert dedup_exact(df).filter(F.col('url') == u0).count() == 1
