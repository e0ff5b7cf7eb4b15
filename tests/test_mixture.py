"""Corpus-composition operators added late in round 5: CCNet-style
perplexity bucketing (textstats.ppl_buckets) and token-budget mixture
allocation (curate.token_budget_fill).

Each operator's value semantics are also DuckDB-oracled end-to-end by
q_ppl_buckets / q_token_budget_mix; these tests pin the properties the
oracle can't see (mode agreement, pure-Python reference equivalence,
plan shape).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_ai_mapper_spark.operators.curate import token_budget_fill
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


class TestTokenBudgetFill:
    def _docs(self, spark):
        rows = [(i, ['en', 'de'][i % 2], 10 + (i * 7) % 50,
                 float((i * 13) % 11)) for i in range(60)]
        return spark.createDataFrame(
            rows, 'doc_id long, lang string, n_tok long, prio double')

    def test_matches_python_greedy_reference(self, spark):
        df = self._docs(spark)
        budgets = {'en': 300, 'de': 150}
        kept = sorted(r['doc_id'] for r in token_budget_fill(
            df, 'lang', budgets, 'n_tok',
            [('prio', 'desc'), ('doc_id', 'asc')]).collect())
        expect = []
        rows = df.collect()
        for lang, budget in budgets.items():
            cum = 0
            for r in sorted((r for r in rows if r['lang'] == lang),
                            key=lambda r: (-r['prio'], r['doc_id'])):
                if cum < budget:
                    expect.append(r['doc_id'])
                cum += r['n_tok']
        assert kept == sorted(expect)

    def test_unlisted_group_dropped(self, spark):
        df = self._docs(spark)
        kept = token_budget_fill(df, 'lang', {'en': 10 ** 9}, 'n_tok',
                                 [('doc_id', 'asc')]).collect()
        assert kept and all(r['lang'] == 'en' for r in kept)
        # a big-enough budget keeps the whole group
        assert len(kept) == 30

    def test_overshoot_at_most_one_doc_per_group(self, spark):
        df = self._docs(spark)
        budgets = {'en': 137, 'de': 61}
        kept = token_budget_fill(df, 'lang', budgets, 'n_tok',
                                 [('prio', 'desc'), ('doc_id', 'asc')])
        tot = {r['lang']: (r['s'], r['mx']) for r in
               kept.groupBy('lang')
               .agg(F.sum('n_tok').alias('s'), F.max('n_tok').alias('mx'))
               .collect()}
        for lang, budget in budgets.items():
            s, mx = tot[lang]
            assert s - mx < budget <= s + mx  # straddler-bounded

    def test_empty_budgets_raise(self, spark):
        with pytest.raises(ValueError, match='budgets'):
            token_budget_fill(self._docs(spark), 'lang', {}, 'n_tok',
                              [('doc_id', 'asc')])


class TestBudgetsFromMixture:
    def _corpus(self, spark, en=1000, de=1000, fr=1000):
        rows = ([('en', en)] + [('de', de)] + [('fr', fr)])
        return spark.createDataFrame(rows, 'lang string, n_tok long')

    def test_proportional_when_abundant(self, spark):
        from pdf_ai_mapper_spark.operators.curate import budgets_from_mixture
        b = budgets_from_mixture(self._corpus(spark), 'lang', 'n_tok',
                                 {'en': 0.7, 'de': 0.2, 'fr': 0.1}, 1000)
        assert b == {'en': 700, 'de': 200, 'fr': 100}

    def test_capped_group_shortfall_reflows(self, spark):
        from pdf_ai_mapper_spark.operators.curate import budgets_from_mixture
        # en wants 1400 of 2000 but only has 1000: the 400 shortfall
        # re-flows 2:1 between de and fr
        b = budgets_from_mixture(self._corpus(spark, en=1000), 'lang',
                                 'n_tok',
                                 {'en': 0.7, 'de': 0.2, 'fr': 0.1}, 2000)
        assert b['en'] == 1000
        assert b['de'] == 666 and b['fr'] == 333  # floors of 2:1 split

    def test_unlisted_and_absent_groups(self, spark):
        from pdf_ai_mapper_spark.operators.curate import budgets_from_mixture
        # zh in the corpus but not the mixture: ignored; es in the
        # mixture but absent from the corpus: no budget entry
        df = spark.createDataFrame([('en', 500), ('zh', 900)],
                                   'lang string, n_tok long')
        b = budgets_from_mixture(df, 'lang', 'n_tok',
                                 {'en': 0.5, 'es': 0.5}, 600)
        assert b == {'en': 500}

    def test_composes_with_fill(self, spark):
        from pdf_ai_mapper_spark.operators.curate import (
            budgets_from_mixture, token_budget_fill)
        rows = [(i, ['en', 'de'][i % 2], 10) for i in range(100)]
        df = spark.createDataFrame(rows,
                                   'doc_id long, lang string, n_tok long')
        b = budgets_from_mixture(df, 'lang', 'n_tok',
                                 {'en': 0.8, 'de': 0.2}, 500)
        assert b == {'en': 400, 'de': 100}
        kept = token_budget_fill(df, 'lang', b, 'n_tok',
                                 [('doc_id', 'asc')])
        got = {r['lang']: r['n'] for r in
               kept.groupBy('lang').agg(F.count('*').alias('n')).collect()}
        assert got == {'en': 40, 'de': 10}


class TestEpochUpsample:
    def _df(self, spark, n=60):
        rows = [(i, ['books', 'crawl'][i % 2]) for i in range(n)]
        return spark.createDataFrame(rows, 'doc_id long, src string')

    def test_whole_factors_exact(self, spark):
        from pdf_ai_mapper_spark.operators.curate import epoch_upsample
        out = epoch_upsample(self._df(spark), 'src',
                             {'books': 2.0, 'crawl': 1.0})
        got = {r['src']: r['n'] for r in
               out.groupBy('src').agg(F.count('*').alias('n')).collect()}
        assert got == {'books': 60, 'crawl': 30}
        # epochs are 0..n-1 per doc
        eps = (out.filter(F.col('src') == 'books')
               .groupBy('doc_id')
               .agg(F.sort_array(F.collect_list('epoch')).alias('e'))
               .collect())
        assert all(r['e'] == [0, 1] for r in eps)

    def test_fractional_matches_md5_coin(self, spark):
        from fractions import Fraction
        import hashlib
        from pdf_ai_mapper_spark.operators.curate import epoch_upsample
        df = self._df(spark, 200)
        out = epoch_upsample(df, 'src', {'books': 1.5, 'crawl': 0.25},
                             seed='s1')
        got = {(r['doc_id'], r['epoch'])
               for r in out.select('doc_id', 'epoch').collect()}
        thr = {g: format(int((Fraction(f) - int(Fraction(f))) * 16**32),
                         '032x')
               for g, f in (('books', Fraction(3, 2)),
                            ('crawl', Fraction(1, 4)))}
        expect = set()
        for i in range(200):
            g = ['books', 'crawl'][i % 2]
            h = hashlib.md5(f'{i}|s1'.encode()).hexdigest()
            n = int(Fraction(3, 2) if g == 'books' else 0)
            n += 1 if h < thr[g] else 0
            for e in range(n):
                expect.add((i, e))
        assert got == expect
        # the fractional coin actually fires sometimes and not always
        books = sum(1 for d, e in got if d % 2 == 0 and e == 1)
        assert 0 < books < 100

    def test_unlisted_group_dropped_and_zero_factor(self, spark):
        from pdf_ai_mapper_spark.operators.curate import epoch_upsample
        out = epoch_upsample(self._df(spark), 'src', {'books': 0.0})
        assert out.count() == 0

    def test_seed_changes_fractional_selection(self, spark):
        from pdf_ai_mapper_spark.operators.curate import epoch_upsample
        df = self._df(spark, 400)
        a = {r['doc_id'] for r in
             epoch_upsample(df, 'src', {'crawl': 0.5}, seed='a')
             .select('doc_id').collect()}
        b = {r['doc_id'] for r in
             epoch_upsample(df, 'src', {'crawl': 0.5}, seed='b')
             .select('doc_id').collect()}
        assert a != b

    def test_negative_and_empty_factors_raise(self, spark):
        import pytest
        from pdf_ai_mapper_spark.operators.curate import epoch_upsample
        with pytest.raises(ValueError):
            epoch_upsample(self._df(spark), 'src', {'books': -1.0})
        with pytest.raises(ValueError):
            epoch_upsample(self._df(spark), 'src', {})


def test_cascade_report_funnel_semantics(spark):
    """First-fail routing, NULL-fails pinned, funnel arithmetic."""
    import pytest
    from pyspark.sql import functions as F
    from pdf_ai_mapper_spark.operators.curate import cascade_report
    rows = [(0, 10, 1.0), (1, 10, 0.2),   # fails b
            (2, 2, 1.0),                   # fails a
            (3, 2, 0.1),                   # fails a (first fail wins)
            (4, None, 1.0),                # NULL -> fails a
            (5, 10, 0.9)]
    df = spark.createDataFrame(rows, 'id long, x int, y double')
    rep = cascade_report(df, [('a', F.col('x') >= 5),
                              ('b', F.col('y') > 0.5)])
    got = {r['stage']: (r['n_in'], r['n_fail'], r['n_pass'],
                        r['pass_rate']) for r in rep.collect()}
    assert got['a'] == (6, 3, 3, 0.5)
    assert got['b'] == (3, 1, 2, round(2 / 3, 6))
    with pytest.raises(ValueError):
        cascade_report(df, [])


class TestTemperatureWeights:
    """temperature_weights (round 7): corpus-derived w_g ∝ n_g^alpha as
    INTEGER weights; the q_temperature_mix oracle replays the alpha=0.5
    path end-to-end. These pin the alpha semantics and composition."""

    def _df(self, spark):
        rows = [(i, 'g' + str(i % 3), (i % 3 + 1) * 100) for i in range(30)]
        return spark.createDataFrame(rows, 'doc_id long, g string, toks long')

    def test_isqrt_weights_and_alpha_direction(self, spark):
        import math
        from pdf_ai_mapper_spark.operators.curate import temperature_weights
        df = self._df(spark)
        sums = {'g0': 10 * 100, 'g1': 10 * 200, 'g2': 10 * 300}
        w = temperature_weights(df, 'g', 'toks', alpha=0.5)
        assert w == {g: math.isqrt(n) for g, n in sums.items()}
        # alpha=1 proportional; alpha=0.5 compresses the ratio toward 1
        w1 = temperature_weights(df, 'g', 'toks', alpha=1.0)
        assert w1 == sums
        assert w['g2'] / w['g0'] < w1['g2'] / w1['g0']

    def test_zero_and_null_groups_dropped(self, spark):
        from pdf_ai_mapper_spark.operators.curate import temperature_weights
        df = spark.createDataFrame(
            [(1, 'a', 100), (2, 'b', 0), (3, 'c', None)],
            'doc_id long, g string, toks long')
        assert temperature_weights(df, 'g', 'toks') == {'a': 10}

    def test_composes_with_budgets(self, spark):
        from pdf_ai_mapper_spark.operators.curate import (
            budgets_from_mixture, temperature_weights)
        df = self._df(spark)
        w = temperature_weights(df, 'g', 'toks', alpha=0.5)
        b = budgets_from_mixture(df, 'g', 'toks', w, 600)
        wsum = sum(w.values())
        # clamp-free single round: exact floor shares
        assert b == {g: 600 * wg // wsum for g, wg in w.items()}
