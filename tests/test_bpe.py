"""Exact BPE token counting (kernels/bpe.py): hand-derived goldens,
hypothesis parity against the independent GPT-2-loop transcription
(tests/reference_bpe.py), and the Spark operator."""

from __future__ import annotations

import sys
from pathlib import Path

from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql.functions import lit as F_lit  # noqa: E402
from reference_bpe import reference_bpe, reference_count  # noqa: E402

from pdf_ai_mapper_spark.kernels.bpe import (  # noqa: E402
    BPE_MERGES, MERGE_ID_BASE, bpe_encode_ids, bpe_token_count,
    encode_word, make_ranks, make_vocab, symbol_id)

RANKS = make_ranks()
VOCAB = make_vocab()


def test_hand_derived_goldens():
    """Derived by hand from the pinned table, NOT by running either
    implementation: e.g. 'the' = t+h (rank 0) → th+e (rank 1) → 1
    symbol; 'query': (e,r) rank 3 wins before (q,u) rank 13, so
    q,u,er,y → qu,er,y → 3 symbols."""
    assert encode_word('the') == ('the',)
    assert encode_word('key') == ('key',)
    assert encode_word('query') == ('qu', 'er', 'y')
    assert encode_word('a') == ('a',)
    assert encode_word('agg') == ('a', 'gg')
    assert encode_word('scan') == ('scan',)       # s+c → sc+an chain
    assert encode_word('xyz') == ('x', 'y', 'z')  # no merges apply
    assert bpe_token_count('the query key') == 1 + 3 + 1
    assert bpe_token_count('') == 0
    assert bpe_token_count('   ') == 0


def test_ranks_are_unique_and_total():
    """'lowest rank' must be a total order — duplicate pairs in the
    table would silently shadow later ranks."""
    assert len(RANKS) == len(BPE_MERGES)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet='abcdefghijklmnopqrstuvwxyz', min_size=1,
               max_size=16))
def test_word_parity_with_reference_transcription(w):
    assert encode_word(w) == reference_bpe(w, RANKS)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.text(alphabet='abcdehilmnorstuw', min_size=1,
                        max_size=10), max_size=8))
def test_text_parity_with_reference_transcription(words):
    text = ' '.join(words)
    assert bpe_token_count(text) == reference_count(text, RANKS)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet='abcdefghijklmnopqrstuvwxyz', min_size=1,
               max_size=16))
def test_count_bounds(w):
    n = len(encode_word(w))
    assert 1 <= n <= len(w)
    # merges only concatenate: symbols re-join to the original word
    assert ''.join(encode_word(w)) == w


def test_learn_merges_hand_derived():
    """Derived by hand: {'aaab':2, 'ab':3} → (a,b) count 5 first;
    round 2 ties (a,a)=2 vs (a,ab)=2 → lexicographically smallest
    (a,a); round 3 merges (aa,ab); then no pairs remain."""
    from pdf_ai_mapper_spark.kernels.bpe import learn_merges
    got = learn_merges({'aaab': 2, 'ab': 3}, 10)
    assert got == (('a', 'b'), ('a', 'a'), ('aa', 'ab'))
    # num_merges truncates
    assert learn_merges({'aaab': 2, 'ab': 3}, 1) == (('a', 'b'),)
    # a once-seen pair is never merged (early stop)
    assert learn_merges({'xy': 1}, 5) == ()
    # empty-safe
    assert learn_merges({}, 5) == ()
    assert learn_merges({'': 7}, 5) == ()


def test_learn_merges_feed_encoder_roundtrip():
    """Learned tables drop into make_ranks/encode_word: frequent words
    collapse to fewer symbols, and re-joining symbols reproduces the
    word (merges only concatenate)."""
    from pdf_ai_mapper_spark.kernels.bpe import learn_merges
    corpus = {'stream': 50, 'streaming': 30, 'stream1': 5, 'xyz': 1}
    merges = learn_merges(corpus, 20)
    ranks = make_ranks(merges)
    assert len(encode_word('stream', ranks)) == 1   # fully merged
    for w in corpus:
        if w:
            assert ''.join(encode_word(w, ranks)) == w


def test_learn_bpe_merges_spark_matches_kernel_and_partitioning(spark):
    from pdf_ai_mapper_spark.kernels.bpe import learn_merges
    from pdf_ai_mapper_spark.operators.textstats import learn_bpe_merges
    texts = ['the query stream', 'the the stream', 'query the stream',
             'stream stream', '']
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               'doc_id long, text string')
    counts: dict = {}
    for t in texts:
        for w in t.lower().split():
            counts[w] = counts.get(w, 0) + 1
    exp = learn_merges(counts, 8)
    assert learn_bpe_merges(df, num_merges=8) == exp
    assert learn_bpe_merges(df.repartition(7), num_merges=8) == exp


def test_encode_ids_hand_goldens():
    """Vocab rule derived by hand: single char → code point; merge →
    MERGE_ID_BASE + rank ('th' rank 0, 'the' rank 1, 'er' rank 3,
    'qu' rank 13)."""
    assert bpe_encode_ids('the') == [MERGE_ID_BASE + 1]
    assert bpe_encode_ids('query') == [MERGE_ID_BASE + 13,
                                       MERGE_ID_BASE + 3, ord('y')]
    assert bpe_encode_ids('xyz') == [ord('x'), ord('y'), ord('z')]
    assert bpe_encode_ids('') == []
    assert bpe_encode_ids('   ') == []
    # non-latin (the zh fixtures): any character encodes, no <unk>
    assert bpe_encode_ids('中文') == [ord('中'), ord('文')]


def test_vocab_merge_ids_never_collide_with_code_points():
    assert MERGE_ID_BASE == 0x110000      # just past the Unicode range
    assert all(v >= MERGE_ID_BASE for v in VOCAB.values())
    # every multi-char symbol the loop can emit has an id
    for a, b in BPE_MERGES:
        assert (a + b) in VOCAB


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet='abcdefghijklmnopqrstuvwxyz', min_size=1,
               max_size=16))
def test_ids_parity_with_reference_transcription(w):
    """The id sequence equals the reference transcription's symbols
    mapped under the same public vocab rule, and its length IS the
    token count."""
    ref = [ord(s) if len(s) == 1 else VOCAB[s]
           for s in reference_bpe(w, RANKS)]
    got = bpe_encode_ids(w)
    assert got == ref
    assert len(got) == bpe_token_count(w)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet='abcdehilmnorstuw', min_size=1,
                        max_size=10), max_size=8))
def test_ids_length_equals_count_on_texts(words):
    text = ' '.join(words)
    assert len(bpe_encode_ids(text)) == bpe_token_count(text)


def test_symbol_id_is_total_for_merge_outputs():
    for a, b in BPE_MERGES:
        assert symbol_id(a + b) >= MERGE_ID_BASE


def test_spark_input_ids_matches_kernel(spark):
    from pdf_ai_mapper_spark.operators.textstats import (
        with_exact_token_counts, with_input_ids)
    rows = [(0, 'the query key'), (1, 'scan scan scan'),
            (2, 'xyz unmapped words'), (3, ''), (4, None)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r['input_ids']
           for r in with_input_ids(df).collect()}
    assert got[0] == bpe_encode_ids('the query key')
    assert got[3] == []
    assert got[4] is None
    # invariant: size(input_ids) == bpe_tokens, row for row
    both = with_input_ids(with_exact_token_counts(df)).collect()
    for r in both:
        if r['text'] is not None:
            assert len(r['input_ids']) == r['bpe_tokens']


def test_spark_operator_matches_kernel(spark):
    from pdf_ai_mapper_spark.operators.textstats import (
        with_exact_token_counts)
    rows = [(0, 'the query key'), (1, 'scan scan scan'),
            (2, 'xyz unmapped words'), (3, ''), (4, None)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r['bpe_tokens']
           for r in with_exact_token_counts(df).collect()}
    assert got[0] == bpe_token_count('the query key')
    assert got[1] == 3
    assert got[2] == bpe_token_count('xyz unmapped words')
    assert got[3] == 0
    assert got[4] is None


def test_spark_plan_single_arrow_stage(spark):
    from pdf_ai_mapper_spark.operators.textstats import (
        with_exact_token_counts)
    df = spark.range(5).withColumn('text', F_lit('the query'))
    plan = (with_exact_token_counts(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count('ArrowEvalPython') == 1
    assert 'Exchange' not in plan

