"""MapperAPI facade: reference HTTP-endpoint semantics over the engine
(reference app/api/*.py; response shapes app/models/schemas.py)."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pdf_ai_mapper_spark.api import MapperAPI
from pdf_ai_mapper_spark.config import EngineConfig
from pdf_ai_mapper_spark.fixtures.webpages import page_row

CFG = EngineConfig(shuffle_partitions=4, output_buckets=8)


@pytest.fixture()
def api(spark):
    d = tempfile.mkdtemp(prefix='pam_api_')
    yield MapperAPI(spark, d, CFG)
    shutil.rmtree(d, ignore_errors=True)


def test_health(api):
    assert api.health() == {'status': 'healthy'}


def test_upload_validation(api):
    with pytest.raises(ValueError, match='No file provided'):
        api.upload(b'x', '')
    with pytest.raises(ValueError, match='Only PDF and image files'):
        api.upload(b'x', 'notes.txt')


def test_upload_status_search_recategorize_cleanup(api):
    # upload a handful of html pages (fixture payloads carry ground
    # truth; the fixture bakes deliberate byte-dups, which the ingest
    # anti-join deduplicates — expect one row per DISTINCT payload)
    ids, payloads = [], []
    for i in range(8):
        payloads.append(bytes(page_row(i)['html']))
        r = api.upload(payloads[-1], f'page{i}.html')
        assert r['status'] == 'success' and r['categories'] == ['Processing']
        ids.append(r['document_id'])
    assert len(set(ids)) == 8
    n_unique = len(set(payloads))

    st = api.status()
    assert st['document_count'] == n_unique
    assert all(d['status'] == 'processing' for d in st['documents'])

    # duplicate upload: content anti-join keeps the table unchanged
    api.upload(payloads[0], 'dup-of-page0.html')
    assert api.status()['document_count'] == n_unique

    # categorize -> statuses flip to processed, dimension exists
    rc = api.recategorize()
    assert rc['status'] == 'success' and f'{n_unique} documents' in rc['message']
    assert rc['structured_categories']
    st2 = api.status()
    assert all(d['status'] == 'processed' for d in st2['documents'])
    assert all(d['categories'] != ['Processing'] for d in st2['documents'])

    cats = api.categories()
    assert cats['structured_categories']
    first = cats['structured_categories'][0]
    assert set(first) >= {'id', 'type', 'keywords', 'display_name', 'created_at'}

    # search: reference-shaped results + available_filters
    res = api.search('ancient empire battle', k=5)
    assert set(res) == {'results', 'available_filters'}
    assert res['results'], 'fixture pages must match the query'
    item = res['results'][0]
    assert set(item) >= {'document_id', 'filename', 'categories', 'score',
                         'snippet'}
    assert item['score'] > 0 and item['snippet']
    af = res['available_filters']
    assert set(af) == {'category_types', 'keywords'}

    # structured filter path resolves display names
    types = af['category_types']
    res2 = api.search('ancient empire battle', category_types=types[:1], k=5)
    assert isinstance(res2['results'], list)

    # cleanup: no byte-dups remain after the anti-join ingest
    cd = api.cleanup_duplicates()
    assert cd['document_count'] == n_unique and 'Removed 0' in cd['message']


def test_search_structured_filter_matching_no_category_is_unfiltered(api):
    """``category_types`` / ``keywords`` that resolve to no display name
    leave the search unfiltered (reference search.py:31-42 passes an
    empty category list on): the same hits as no filter at all."""
    for i in range(4):
        api.upload(bytes(page_row(i)['html']), f'page{i}.html')
    api.recategorize()  # 4 docs: the cold-start categories, no LDA fit
    assert api.categories()['structured_categories']
    want = api.search('notes history', k=5)
    assert want['results']
    assert api.search('notes history', category_types=['NoSuchType'],
                      k=5) == want
    assert api.search('notes history', keywords=['nosuchkeyword'],
                      k=5) == want


def test_recategorize_with_clusters_clamps_k(api):
    """POST /recategorize-with-clusters/ clamps ``clusters`` to [2, 20]
    (reference categories.py:85) before the KMeans fit, which rejects
    k < 2."""
    for i in range(4):
        api.upload(bytes(page_row(i)['html']), f'page{i}.html')
    rc = api.recategorize(clusters=1)
    assert rc['status'] == 'success'
    assert 1 <= len(rc['structured_categories']) <= 2


def test_status_pagination_bounds_driver_payload(api):
    """status() must not collect the whole corpus: limit/offset page in
    url order while document_count stays the total (VERDICT r2 #5)."""
    payloads = set()
    for i in range(6):
        p = bytes(page_row(i)['html'])
        if p in payloads:
            continue
        payloads.add(p)
        api.upload(p, f'page{i}.html')
    n = len(payloads)

    full = api.status()
    assert full['document_count'] == n and len(full['documents']) == n

    page1 = api.status(limit=2)
    assert page1['document_count'] == n and len(page1['documents']) == 2
    page2 = api.status(limit=2, offset=2)
    assert len(page2['documents']) == 2
    ids1 = [d['id'] for d in page1['documents']]
    ids2 = [d['id'] for d in page2['documents']]
    assert ids1 + ids2 == [d['id'] for d in full['documents'][:4]]
    assert not set(ids1) & set(ids2)


def test_categories_default_when_empty(api):
    cats = api.categories()
    assert cats['structured_categories'][0]['display_name'] == 'Uncategorized'


def test_status_truncated_flag(api):
    payloads = set()
    for i in range(4):
        p = bytes(page_row(i)['html'])
        if p in payloads:
            continue
        payloads.add(p)
        api.upload(p, f'page{i}.html')
    n = len(payloads)
    assert api.status()['truncated'] is False            # full listing
    assert api.status(limit=None)['truncated'] is False  # unbounded
    part = api.status(limit=2)
    assert part['truncated'] is True and part['document_count'] == n


def test_error_row_status_before_and_after_categorize(api):
    """An upload that fails extraction is stored as an error row, and
    ``status`` serves it by the categories rule alone (reference
    status.py:41-42): 'processing' while its categories are the
    ['Processing'] placeholder, 'processed' once categorize has run.
    There is no separate 'error' status."""
    from pdf_ai_mapper_spark import checkpoint as cp
    for i in range(3):
        api.upload(bytes(page_row(i)['html']), f'page{i}.html')
    api.upload(b'%PDF-1.4 \x00\xff not a pdf', 'broken.pdf')
    rows = cp.read_output(api.spark, api.base_path).collect()
    assert [r['is_error'] for r in rows
            if r['url'].endswith('/broken.pdf')] == [True]

    def broken():
        return [d for d in api.status()['documents']
                if d['filename'] == 'broken.pdf']

    [before] = broken()
    assert before['status'] == 'processing'
    assert before['categories'] == ['Processing']
    api.recategorize()
    [after] = broken()
    assert after['status'] == 'processed'
    assert after['categories'] != ['Processing']
