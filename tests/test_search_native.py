"""Native (codegen) relevance + snippet columns (VERDICT r3 #7).

Contract: for ascii [a-z0-9]+ tokens the native columns are
value-identical to the Python kernels (kernels/relevance.py) on ANY
text — including unicode whitespace, case-mapping oddities, and
short/empty/None documents — and the search() plan contains zero
ArrowEvalPython nodes.
"""

from __future__ import annotations

import re

from pdf_ai_mapper_spark.kernels.relevance import (
    generate_snippet, relevance_score)
from pdf_ai_mapper_spark.operators.search import (
    _PY_WS_CLASS, _native_ok, native_relevance_col, native_snippet_col,
    search)

TEXTS = [
    'spark engines and spark plugs spark joy',
    'no relevant words here at all',
    'spark',
    '',
    None,
    'spark ' * 100,                               # long, many windows
    'x' * 250 + ' spark ' + 'y' * 250,            # match mid-document
    'leading nbsp spark line-sep spark\x1cfile-sep',
    'Tail match far away ' + 'z' * 400 + ' spark',
    'SPARK Spark sPaRk',                          # case folding
    'İstanbul spark ẞtraße spark',                # expanding lowercase
    'a\tb\nc\x0b\x0c\r spark \x1d\x1e\x1f\x85 spark',
    'exactly two hundred chars doc ' + 'w' * 164 + ' spark',
    'spark--dashed spark_underscore',
]


def test_py_ws_class_is_exhaustive():
    """_PY_WS_CLASS must equal Python's re \\s set exactly."""
    klass = re.compile(_PY_WS_CLASS)
    for i in range(0x11000):
        c = chr(i)
        assert bool(klass.match(c)) == bool(re.match(r'\s', c)), hex(i)


def _cmp(spark, tokens):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], 'id long, text string')
    got = (df.select('id',
                     native_relevance_col(tokens, 'text').alias('score'),
                     native_snippet_col(tokens, 'text').alias('snippet'))
           .collect())
    for r in got:
        t = TEXTS[r['id']] or ''
        assert r['score'] == relevance_score(tokens, t), (tokens, r['id'])
        assert r['snippet'] == generate_snippet(tokens, t), (tokens, r['id'])


def test_native_matches_kernel_single_token(spark):
    _cmp(spark, ['spark'])


def test_native_matches_kernel_multi_token_phrase_bonus(spark):
    _cmp(spark, ['spark', 'plugs'])
    _cmp(spark, ['spark', 'engines', 'joy'])


def test_native_matches_kernel_substring_token(spark):
    # token that overlaps itself in text: count is non-overlapping
    df = spark.createDataFrame([(0, 'aaaa aa a')], 'id long, text string')
    r = df.select(native_relevance_col(['aa'], 'text').alias('s')).collect()[0]
    assert r['s'] == relevance_score(['aa'], 'aaaa aa a') == 3


def test_native_ok_gate():
    assert _native_ok(['spark', 'plug42'])
    assert not _native_ok(['naïve'])
    assert not _native_ok(['has space'])
    assert not _native_ok(['UPPER'])


def test_search_plan_has_zero_arrow_eval_python(spark):
    df = spark.createDataFrame(
        [(f'u{i}', t) for i, t in enumerate(TEXTS) if t]
        , 'url string, extracted_text string')
    plan = search(df, 'spark', k=5)._jdf.queryExecution().executedPlan().toString()
    assert 'ArrowEvalPython' not in plan
    assert 'TakeOrderedAndProject' in plan
    # multi-token ascii query: still fully native
    plan2 = search(df, 'spark plugs', k=5)._jdf.queryExecution().executedPlan().toString()
    assert 'ArrowEvalPython' not in plan2


def test_udf_search_scores_once_and_snips_only_top_k(spark):
    """Non-ascii tokens take the UDF path: one relevance evaluation,
    a TakeOrderedAndProject top-k, and the snippet UDF over its k rows
    only — no filter copy of the relevance UDF, no range-partitioned
    sort."""
    df = spark.createDataFrame(
        [(f'u{i}', t) for i, t in enumerate(TEXTS + ['δίκη spark δίκη']) if t],
        'url string, extracted_text string')
    res = search(df, 'δίκη', k=5)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count('ArrowEvalPython') == 2
    top = plan.index('TakeOrderedAndProject')
    assert plan.index('snip(') < top < plan.index('rel(')
    assert [r['url'] for r in res.collect()] == [f'u{len(TEXTS)}']


def test_search_native_results_equal_udf_results(spark):
    """Byte-equal end-to-end: force the UDF path by monkeypatching the
    gate, compare against the native path."""
    import pdf_ai_mapper_spark.operators.search as S
    df = spark.createDataFrame(
        [(f'u{i:02d}', t) for i, t in enumerate(TEXTS) if t is not None],
        'url string, extracted_text string')
    native_rows = [tuple(r) for r in search(df, 'spark joy', k=10).collect()]
    orig = S._native_ok
    try:
        S._native_ok = lambda toks: False
        udf_rows = [tuple(r) for r in search(df, 'spark joy', k=10).collect()]
    finally:
        S._native_ok = orig
    assert native_rows == udf_rows and len(native_rows) > 0
