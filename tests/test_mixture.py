"""Script-aware textstats operators: the Han-script language-ID
pre-check (with_lang_id) and dominant-script routing (with_script_id).

Each operator's value semantics are also DuckDB-oracled end-to-end by
q_lang_id / q_script_id; these tests pin the properties the oracle
can't see (per-row contract edges, plan shape).
"""

from __future__ import annotations


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
