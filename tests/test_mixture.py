"""Corpus-statistics operators in textstats: CCNet-style perplexity
bucketing (ppl_buckets), the Han-script language-ID pre-check
(with_lang_id) and dominant-script routing (with_script_id).

Each operator's value semantics are also DuckDB-oracled end-to-end by
q_ppl_buckets / q_lang_id / q_script_id; these tests pin the
properties the oracle can't see (mode agreement, pure-Python reference
equivalence, contract edges, plan shape).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_ai_mapper_spark.operators.textstats import ppl_buckets


def _scored(spark, n=90):
    # three langs, deterministic scores with deliberate ties
    rows = [(i, ['en', 'de', 'fr'][i % 3], float(-(i % 7)) / 2.0)
            for i in range(n)]
    return spark.createDataFrame(rows, 'doc_id long, lang string, score double')


class TestPplBuckets:
    def test_exact_tier_populations_and_order(self, spark):
        df = _scored(spark)
        out = ppl_buckets(df, 'doc_id', 'score', 'lang').collect()
        by_lang = {}
        for r in out:
            by_lang.setdefault(r['lang'], []).append(r)
        assert set(by_lang) == {'en', 'de', 'fr'}
        for lang, rows in by_lang.items():
            sizes = {'head': 0, 'middle': 0, 'tail': 0}
            for r in rows:
                sizes[r['ppl_bucket']] += 1
            # 30 rows per lang -> exact thirds
            assert sizes == {'head': 10, 'middle': 10, 'tail': 10}
            # every head score >= every middle score >= every tail score
            lo = {b: min(r['score'] for r in rows if r['ppl_bucket'] == b)
                  for b in sizes}
            hi = {b: max(r['score'] for r in rows if r['ppl_bucket'] == b)
                  for b in sizes}
            assert lo['head'] >= hi['middle'] >= hi['tail']
            assert lo['middle'] >= hi['tail']

    def test_exact_matches_python_reference(self, spark):
        df = _scored(spark, n=50)  # 50 % 3 != 0: uneven tiers
        out = {r['doc_id']: r['ppl_bucket']
               for r in ppl_buckets(df, 'doc_id', 'score', 'lang').collect()}
        rows = df.collect()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r['lang'], []).append(r)
        for rs in by_lang.values():
            rs.sort(key=lambda r: (-r['score'], r['doc_id']))
            n = len(rs)
            base, rem = divmod(n, 3)
            sizes = [base + (1 if i < rem else 0) for i in range(3)]
            labels = (['head'] * sizes[0] + ['middle'] * sizes[1]
                      + ['tail'] * sizes[2])
            for r, lab in zip(rs, labels):
                assert out[r['doc_id']] == lab, (r, lab)

    def test_cutoff_mode_agrees_away_from_boundaries(self, spark):
        # distinct scores, one lang: cutoff boundaries are exact
        # percentiles of a clean grid, so every non-boundary row agrees
        df = spark.createDataFrame(
            [(i, 'en', float(i)) for i in range(30)],
            'doc_id long, lang string, score double')
        exact = {r['doc_id']: r['ppl_bucket'] for r in
                 ppl_buckets(df, 'doc_id', 'score', 'lang').collect()}
        cut = {r['doc_id']: r['ppl_bucket'] for r in
               ppl_buckets(df, 'doc_id', 'score', 'lang',
                           mode='cutoff').collect()}
        disagree = [i for i in exact if exact[i] != cut[i]]
        # at most the two boundary rows may differ between the modes
        assert len(disagree) <= 2, disagree

    def test_no_group_col(self, spark):
        df = _scored(spark, n=30)
        out = ppl_buckets(df, 'doc_id', 'score').collect()
        sizes = {}
        for r in out:
            sizes[r['ppl_bucket']] = sizes.get(r['ppl_bucket'], 0) + 1
        assert sizes == {'head': 10, 'middle': 10, 'tail': 10}

    def test_bad_mode_raises(self, spark):
        with pytest.raises(ValueError, match='mode'):
            ppl_buckets(_scored(spark), 'doc_id', 'score', 'lang',
                        mode='approx')

    def test_payload_never_rides_the_sort(self, spark):
        # the ntile window must run over the narrow projection: no
        # text/payload column may appear in the window exchange
        df = _scored(spark).withColumn('payload', F.repeat(F.lit('x'), 100))
        plan = (ppl_buckets(df, 'doc_id', 'score', 'lang')
                ._jdf.queryExecution().executedPlan().toString())
        window_section = plan[plan.index('Window'):]
        sort_above_window = window_section[:window_section.index('Scan')]
        assert 'payload' not in sort_above_window


class TestLangIdHanScript:
    """Round-5 fix: Latin marker words can never classify CJK text, so
    with_lang_id previously sent every Chinese document to 'und'. The
    Han-script pre-check (≥20% CJK-unified-ideograph code points) now
    routes it to 'zh'; the q_lang_id DuckDB oracle repeats the same
    integer*5 comparison."""

    def test_han_text_classified_zh(self, spark):
        from pdf_ai_mapper_spark.operators.textstats import with_lang_id
        rows = [
            (1, '这是一个完全中文的文档 内容很多'),           # pure Han
            (2, 'the spark join is fast and the scan is good'),  # en
            (3, 'abc 中文 def'),                                 # 2/10 = 20%
            (4, 'abcdefgh 中 x'),                                # 1/11 < 20%
            (5, '!!!! ????'),                                    # none
        ]
        df = spark.createDataFrame(rows, 'doc_id long, text string')
        out = {r['doc_id']: r['lang_pred']
               for r in with_lang_id(df).collect()}
        assert out[1] == 'zh'
        assert out[2] == 'en'
        assert out[3] == 'zh'   # exactly at the 20% boundary (>=)
        assert out[4] == 'und'  # below threshold, no markers
        assert out[5] == 'und'

    def test_zh_wins_over_markers_when_mixed(self, spark):
        from pdf_ai_mapper_spark.operators.textstats import with_lang_id
        # markers present AND >=20% Han: script evidence outranks the
        # handful of function words a quote or UI chrome drags in
        df = spark.createDataFrame(
            [(1, 'the and of 中文文本内容就在这里还有更多')],
            'doc_id long, text string')
        assert with_lang_id(df).collect()[0]['lang_pred'] == 'zh'


class TestScriptId:
    """with_script_id (round 7): dominant-Unicode-script routing. The
    q_script_id oracle re-derives the counts in DuckDB; these tests
    pin the per-row contract edges the grouped oracle view blurs."""

    def _classify(self, spark, rows):
        from pdf_ai_mapper_spark.operators.textstats import with_script_id
        df = spark.createDataFrame(rows, 'sid long, text string')
        return {r['sid']: r['script'] for r in with_script_id(df).collect()}

    def test_each_planted_sample_label(self, spark):
        from pdf_ai_mapper_spark.queries import _SCRIPT_SAMPLES
        out = self._classify(spark, _SCRIPT_SAMPLES)
        expected = {1: 'latn', 2: 'cyrl', 3: 'arab', 4: 'deva',
                    5: 'kore', 6: 'jpan', 7: 'grek', 8: 'hebr',
                    9: 'thai', 10: 'hani', 11: 'und', 12: 'mixed',
                    13: 'jpan', 14: 'latn'}
        assert out == expected

    def test_jpan_threshold_and_majority_edges(self, spark):
        out = self._classify(spark, [
            # kana exactly at the 5% boundary: 1 kana, 19 han ->
            # 1*20 >= 20 holds -> jpan
            (1, '漢' * 19 + 'の'),
            # below it: 1 kana, 20 han -> 20 < 21 -> majority -> hani
            (2, '漢' * 20 + 'の'),
            # exact majority boundary: 3 latn vs 3 cyrl, 2*3 >= 6 ->
            # not mixed; latn earlier in pinned order wins the tie
            (3, 'abc где'),
            # empty string -> und
            (4, ''),
        ])
        assert out == {1: 'jpan', 2: 'hani', 3: 'latn', 4: 'und'}

    def test_pure_codegen_no_python(self, spark):
        from pdf_ai_mapper_spark.operators.textstats import with_script_id
        df = spark.createDataFrame([(1, 'abc')], 'sid long, text string')
        plan = with_script_id(df)._jdf.queryExecution().executedPlan().toString()
        assert 'ArrowEvalPython' not in plan
        assert 'BatchEvalPython' not in plan
