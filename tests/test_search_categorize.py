"""Search path vs reference semantics; categorization shape/stability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

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
    out = fit_lda_categories(corpus, cfg=CFG, max_iter=10)
    rows = out.select('url', 'categories').collect()
    assert len(rows) == corpus.count()
    for r in rows:
        assert 1 <= len(r['categories']) <= 3
    # rerun → identical assignment (seeded, fixed parallelism)
    again = {r['url']: list(r['categories'])
             for r in fit_lda_categories(corpus, cfg=CFG, max_iter=10)
             .select('url', 'categories').collect()}
    for r in rows:
        assert again[r['url']] == list(r['categories'])


def test_kmeans_categories(spark, corpus):
    out = fit_kmeans_categories(corpus, k=4, cfg=CFG)
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
    from pdf_ai_mapper_spark.operators.search import structured_category_filter

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
    by_type = structured_category_filter(docs, dim, category_types=['Science'])
    assert [r['url'] for r in by_type.collect()] == ['u1']
    by_kw = structured_category_filter(docs, dim, keywords=['battle'])
    assert [r['url'] for r in by_kw.collect()] == ['u2']
    both = structured_category_filter(docs, dim,
                                      category_types=['Document'],
                                      keywords=['proof'])
    assert sorted(r['url'] for r in both.collect()) == ['u1', 'u3']
    assert structured_category_filter(docs, dim) is docs       # no filter
    assert structured_category_filter(docs, dim,
                                      keywords=['nomatch']).count() == 0


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


def test_model_persistence_roundtrip(spark, corpus, tmp_path):
    from pdf_ai_mapper_spark.operators.categorize import (fit_lda_categories,
                                                          load_models,
                                                          save_models)
    models = {}
    out1 = fit_lda_categories(corpus, cfg=CFG, max_iter=5, models_out=models)
    assert 'vectorizer' in models and 'lda' in models
    save_models(str(tmp_path), cv_model=models['vectorizer'],
                lda_model=models['lda'])
    loaded = load_models(str(tmp_path))
    assert loaded['vectorizer'].vocabulary == models['vectorizer'].vocabulary
    # loaded model reproduces the same topic distributions
    from pdf_ai_mapper_spark.operators.categorize import with_tokens
    feats = loaded['vectorizer'].transform(with_tokens(corpus.limit(10)))
    a = models['lda'].transform(feats).select('topicDistribution').collect()
    b = loaded['lda'].transform(feats).select('topicDistribution').collect()
    for ra, rb in zip(a, b):
        assert ra[0].toArray().round(8).tolist() == rb[0].toArray().round(8).tolist()


def test_with_topic_type_matches_python_twin(spark):
    """The native A6 column form must agree with the reference-faithful
    Python twin (determine_topic_type) on randomized token lists —
    including tie-breaks (first type in dict order wins) and the
    all-zero 'Document' fallback."""
    import random
    from pdf_ai_mapper_spark.kernels.stopwords import TOPIC_KEYWORDS
    from pdf_ai_mapper_spark.operators.categorize import (
        determine_topic_type, with_topic_type)

    rng = random.Random(42)
    all_kws = [kw for kws in TOPIC_KEYWORDS.values() for kw in kws]
    filler = ['lorem', 'ipsum', 'dolor', 'sit', 'amet', 'xyzzy']
    rows = []
    for i in range(200):
        n = rng.randint(0, 12)
        toks = [rng.choice(all_kws if rng.random() < 0.5 else filler)
                for _ in range(n)]
        if rng.random() < 0.3 and toks:  # keyword-as-substring cases
            toks[0] = 'pre' + toks[0] + 'post'
        rows.append((i, ' '.join(toks)))
    df = spark.createDataFrame(rows, 'id long, text string')
    got = {r['id']: r['topic_type']
           for r in with_topic_type(df, 'text').collect()}
    for i, text in rows:
        want = determine_topic_type(text.split(' ')) if text else \
            determine_topic_type([''])
        assert got[i] == want, (i, text, got[i], want)
