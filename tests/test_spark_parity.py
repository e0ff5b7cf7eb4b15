"""The north-rule invariant on Spark: per-url byte-identical extracted
text, determinism across parallelism, preprocess parity vs the vendored
reference transcription."""

from __future__ import annotations

import reference_extractor as ref
from pdf_ai_mapper_spark.config import EngineConfig
from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df, web_pages_pandas
from pdf_ai_mapper_spark.pipeline import transform

CFG = EngineConfig(shuffle_partitions=8, output_buckets=8)

N = 240


def _result(spark, partitions):
    pages = web_pages_df(spark, N, num_partitions=partitions)
    return transform(pages, run_id='t', cfg=CFG)


def test_extraction_byte_identical_per_url(spark):
    res = _result(spark, 4).select('url', 'extracted_text', 'text').collect()
    assert len(res) == N
    bad = [r['url'] for r in res if r['extracted_text'] != r['text']]
    assert bad == []


def test_preprocess_matches_vendored_reference_on_spark(spark):
    rows = (_result(spark, 4)
            .select('extracted_text', 'preprocessed_text').collect())
    for r in rows:
        assert r['preprocessed_text'] == ref.preprocess_text(r['extracted_text'])


def test_determinism_across_parallelism(spark):
    """Same input at 2 vs 8 partitions → identical output rows
    (SURVEY.md §5.2 item 5: guards per-partition nondeterminism)."""
    cols = ['url', 'doctype', 'content_hash', 'extracted_text',
            'preprocessed_text', 'is_error', 'is_duplicate']
    a = {r['url']: r for r in _result(spark, 2).select(*cols).collect()}
    b = {r['url']: r for r in _result(spark, 8).select(*cols).collect()}
    assert a.keys() == b.keys()
    for url in a:
        assert a[url] == b[url], url


def test_content_hash_is_md5_hex(spark):
    import hashlib
    pdf = web_pages_pandas(24)
    got = {r['url']: r['content_hash']
           for r in _result(spark, 2).select('url', 'content_hash').collect()
           if r['url'] in set(pdf['url'])}
    for _, row in pdf.iterrows():
        assert got[row['url']] == hashlib.md5(row['html']).hexdigest()


def test_duplicate_rows_flagged_first_seen(spark):
    res = _result(spark, 4).select('url', 'content_hash', 'warc_ts',
                                   'is_duplicate').collect()
    by_hash: dict[str, list] = {}
    for r in res:
        by_hash.setdefault(r['content_hash'], []).append(r)
    for rows in by_hash.values():
        rows.sort(key=lambda r: (r['warc_ts'], r['url']))
        assert rows[0]['is_duplicate'] is False
        for later in rows[1:]:
            assert later['is_duplicate'] is True


def test_no_error_rows_on_clean_fixture(spark):
    assert _result(spark, 4).filter('is_error').count() == 0
