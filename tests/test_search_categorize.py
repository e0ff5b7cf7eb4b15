"""Search path vs reference semantics; categorization shape/stability."""

from __future__ import annotations

import dataclasses

import pytest

import reference_extractor as ref
from pdf_ai_mapper_spark.config import EngineConfig
from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
from pdf_ai_mapper_spark.kernels.query import preprocess_query
from pdf_ai_mapper_spark.operators.categorize import (determine_topic_type,
                                                      fit_kmeans_categories,
                                                      fit_lda_categories,
                                                      topic_name,
                                                      with_simple_categories)
from pdf_ai_mapper_spark.operators.search import search
from pdf_ai_mapper_spark.pipeline import transform

CFG = EngineConfig(shuffle_partitions=8)


@pytest.fixture(scope='module')
def corpus(spark):
    df = transform(web_pages_df(spark, 120, num_partitions=4), run_id='t', cfg=CFG)
    df = df.select('url', 'warc_ts', 'content_hash', 'is_duplicate',
                   'extracted_text', 'preprocessed_text').cache()
    df.count()
    return df


def test_search_matches_reference_scores_and_snippets(spark, corpus):
    query = 'ancient empire battles'
    res = search(corpus, query, k=10).collect()
    assert 0 < len(res) <= 10

    # driver-side reference computation over the deduped corpus
    tokens = preprocess_query(query)
    rows = corpus.collect()
    seen, ref_docs = set(), []
    for r in sorted(rows, key=lambda r: (r['warc_ts'], r['url'])):
        if r['content_hash'] in seen:
            continue
        seen.add(r['content_hash'])
        ref_docs.append(r)
    scored = [(ref.calculate_relevance(tokens, d['extracted_text']), d)
              for d in ref_docs]
    scored = [(s, d) for s, d in scored if s > 0]
    scored.sort(key=lambda sd: (-sd[0], sd[1]['url']))
    want = [(d['url'], s) for s, d in scored[:10]]
    got = [(r['url'], r['score']) for r in res]
    assert got == want
    for r in res:
        doc = next(d for s, d in scored if d['url'] == r['url'])
        assert r['snippet'] == ref.generate_snippet(tokens, doc['extracted_text'])


def test_search_scores_descending_and_bounded(spark, corpus):
    res = search(corpus, 'philosophy virtue', k=10).collect()
    scores = [r['score'] for r in res]
    assert scores == sorted(scores, reverse=True)
    assert len(res) <= 10


def test_simple_categories_cold_start(spark, corpus):
    small = corpus.limit(4)  # <5 docs → simple category path
    cats = with_simple_categories(small).select('categories').collect()
    for r in cats:
        assert len(r['categories']) == 1
        assert (r['categories'][0].startswith('Topic: ')
                or r['categories'][0] == 'Uncategorized')


def test_simple_categories_match_reference_kernel(spark, corpus):
    rows = (with_simple_categories(corpus.limit(30))
            .select('preprocessed_text', 'categories').collect())
    for r in rows:
        assert list(r['categories']) == ref.simple_category(r['preprocessed_text'])


def test_lda_categories_shape_and_stability(spark, corpus):
    cfg = dataclasses.replace(CFG, lda_max_iter=10)
    out = fit_lda_categories(corpus, cfg=cfg)
    rows = out.select('url', 'categories').collect()
    assert len(rows) == corpus.count()
    for r in rows:
        assert 1 <= len(r['categories']) <= 3
    # rerun → identical assignment (seeded, fixed parallelism)
    again = {r['url']: list(r['categories'])
             for r in fit_lda_categories(corpus, cfg=cfg)
             .select('url', 'categories').collect()}
    for r in rows:
        assert again[r['url']] == list(r['categories'])


def test_kmeans_categories(spark, corpus):
    out = fit_kmeans_categories(corpus, k=4)
    rows = out.select('categories').collect()
    names = {r['categories'][0] for r in rows}
    assert 1 < len(names) <= 4


def test_topic_type_table_semantics():
    # reference category_manager.py:266-296
    assert determine_topic_type(['theorem', 'proof', 'geometry']) == 'Science'
    assert determine_topic_type(['painting', 'gallery']) == 'Art'
    assert determine_topic_type(['zzz', 'qqq']) == 'Document'
    # substring containment, as in the reference ('kant' in 'kantian')
    assert determine_topic_type(['kantian']) == 'Philosophy'


def test_topic_name_filters_and_format():
    name = topic_name(['the', 'ab', '42', 'theorem', 'proof', 'euclid',
                       'geometry', 'axiom'], 0)
    assert name.startswith('Science: ')
    assert 'the,' not in name and ' ab' not in name
    assert topic_name([], 3) == 'Topic 4'


def test_category_dimension_and_structured_filter(spark, corpus):
    from pdf_ai_mapper_spark.operators.categorize import category_dimension
    from pdf_ai_mapper_spark.operators.search import (category_filter,
                                                      resolve_structured)

    names = ['Science: theorem, proof, euclid',
             'History: empire, battle',
             'Document']
    dim = category_dimension(spark, names)
    rows = {r['id']: r for r in dim.collect()}
    assert rows['cat-000']['type'] == 'Science'
    assert list(rows['cat-000']['keywords']) == ['theorem', 'proof', 'euclid']
    assert rows['cat-002']['keywords'] == []
    assert rows['cat-001']['display_name'] == 'History: empire, battle'

    import pandas as pd
    docs = spark.createDataFrame(pd.DataFrame({
        'url': ['u1', 'u2', 'u3'],
        'categories': [['Science: theorem, proof, euclid'],
                       ['History: empire, battle'],
                       ['Document']],
    }))
    dim_rows = dim.collect()

    def structured(category_types=None, keywords=None):
        return category_filter(
            docs, resolve_structured(dim_rows, category_types, keywords))

    by_type = structured(category_types=['Science'])
    assert [r['url'] for r in by_type.collect()] == ['u1']
    by_kw = structured(keywords=['battle'])
    assert [r['url'] for r in by_kw.collect()] == ['u2']
    both = structured(category_types=['Document'], keywords=['proof'])
    assert sorted(r['url'] for r in both.collect()) == ['u1', 'u3']
    assert structured() is docs                                # no filter
    # a filter that names no category filters nothing (MapperAPI.search)
    assert structured(keywords=['nomatch']) is docs


def test_resolve_structured_is_type_or_keyword_union():
    from pdf_ai_mapper_spark.operators.search import resolve_structured
    dim = [{'type': 'Science', 'keywords': ['theorem', 'proof'],
            'display_name': 'Science: theorem, proof'},
           {'type': 'History', 'keywords': ['empire'],
            'display_name': 'History: empire'},
           {'type': 'Science', 'keywords': ['cell'],
            'display_name': 'Science: cell'},
           {'type': 'Document', 'keywords': None, 'display_name': 'Document'}]
    assert resolve_structured(dim) == []
    assert resolve_structured(dim, ['Science']) == ['Science: cell',
                                                   'Science: theorem, proof']
    assert resolve_structured(dim, keywords=['empire', 'zzz']) == [
        'History: empire']
    assert resolve_structured(dim, ['Document'], ['proof']) == [
        'Document', 'Science: theorem, proof']
    assert resolve_structured(dim, ['Art'], ['zzz']) == []


def test_search_category_filter_needs_categories_column(spark, corpus):
    """A category filter on a frame without a categories column is an
    error, not a silently dropped filter."""
    from pyspark.errors import AnalysisException
    with pytest.raises(AnalysisException):
        search(corpus, 'philosophy virtue', categories=['History']).collect()
