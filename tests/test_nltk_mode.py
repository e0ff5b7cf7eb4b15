"""NLTK-present preprocessing mode (VERDICT r3 #2).

Reference text_preprocessor.py:22-27,122-129: when NLTK data exists,
the stopword set becomes nltk's english list (+ the same additional
words) and tokenization becomes word_tokenize.  On T4-cleaned text
(alphabet [\\w\\s-]) word_tokenize reduces provably to the Treebank
DOUBLE_DASHES rule + whitespace split — every other published Treebank
rule matches only characters T4 already removed, and punkt cannot
split sentences without terminal punctuation.

Golden outputs below are hand-derived by applying the reference's
documented rules step by step (NOT recorded from an NLTK install; NLTK
is absent in this sandbox).  The one un-reproduced piece is the
averaged-perceptron POS tagger (a trained model, not a spec): this
mode keeps the all-'NN' default, so tokens a perceptron would tag
outside NN*/JJ*/VB* are retained — see the delta notes in
kernels/preprocess.py.
"""

from __future__ import annotations

import pytest

from pdf_ai_mapper_spark.config import EngineConfig
from pdf_ai_mapper_spark.kernels.preprocess import (
    nltk_tokenize, preprocess_text, preprocess_text_nltk)
from pdf_ai_mapper_spark.kernels.stopwords import (
    ADDITIONAL_STOPWORDS, NLTK_ENGLISH_STOPWORDS, NLTK_STOP_WORDS)


def test_nltk_english_list_shape():
    # published list: 179 entries, all lowercase, apostrophes only
    assert len(NLTK_ENGLISH_STOPWORDS) == 179
    assert all(w == w.lower() for w in NLTK_ENGLISH_STOPWORDS)
    # spot-check words in the NLTK list but NOT in the basic fallback
    for w in ('about', 'very', 'too', 'just', 'now', 'not', 'don',
              'won', 'too', 'same', 'most'):
        assert w in NLTK_ENGLISH_STOPWORDS
    assert NLTK_STOP_WORDS == NLTK_ENGLISH_STOPWORDS | ADDITIONAL_STOPWORDS


def test_double_dash_tokenization():
    # Treebank DOUBLE_DASHES: '--' becomes its own token
    assert nltk_tokenize('systems--despite failures') == \
        ['systems', '--', 'despite', 'failures']
    # triple dash: sub is left-to-right, '---' -> ' -- -'
    assert nltk_tokenize('a---b') == ['a', '--', '-b']
    assert nltk_tokenize('') == []
    assert nltk_tokenize('plain words here') == ['plain', 'words', 'here']


GOLDENS = [
    # (raw input, expected nltk-mode output) — hand-derived
    ('The well-known systems--despite failures--remain viable options.',
     # clean: 'the well-known systems--despite failures--remain viable options'
     # tokens: the|well-known|systems|--|despite|failures|--|remain|viable|options
     # drop: 'the' (nltk stop), '--' (len<3), 'remain' (additional stop)
     'well-known systems despite failures viable options'),
    ("Don't just watch very closely now.",
     # clean: 'don t just watch very closely now'
     # 'don' (nltk stop), 't'/'just'/'very'/'now' (nltk stops; t len<3),
     # 'watch' (additional stop) -> only 'closely' survives
     'closely'),
    ('Error: File too large',
     'Error: File too large'),          # T1 passthrough, byte-identical
    ('alpha beta gamma alpha beta gamma delta',
     # no stopwords; bigrams 'alpha beta','beta gamma' twice each,
     # trigram 'alpha beta gamma' twice; Counter first-insertion order
     'alpha beta gamma alpha beta gamma delta '
     'alpha beta beta gamma alpha beta gamma'),
]


@pytest.mark.parametrize('raw,want', GOLDENS)
def test_nltk_mode_goldens(raw, want):
    assert preprocess_text_nltk(raw) == want


def test_unknown_preprocess_mode_raises(spark):
    """A typo'd preprocess_mode must fail loudly, not silently fall
    back to the deterministic kernel (ADVICE r4)."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
    from pdf_ai_mapper_spark.operators.extraction import extracted

    with pytest.raises(ValueError, match='preprocess_mode'):
        extracted(web_pages_df(spark, 2), preprocess_mode='ntlk')  # the classic typo


def test_mode_divergence_contraction():
    # det: clean -> 'don t stop believing'; 'don' kept (not a
    # basic/additional stop), 'stop' + 'believing' dropped (additional)
    # nltk: 'don' is an NLTK stopword -> everything dropped
    det = preprocess_text("don't stop believing")
    nlt = preprocess_text_nltk("don't stop believing")
    assert det == 'don'
    assert nlt == ''


def test_mode_divergence_nltk_only_stopwords():
    raw = 'very unusual telescope'
    # 'very' is an NLTK stopword but not a basic/additional one
    assert preprocess_text(raw) == 'very unusual telescope'
    assert preprocess_text_nltk(raw) == 'unusual telescope'


def test_modes_agree_when_no_divergent_tokens():
    # no dashes, no contraction residue, no nltk-only stopwords
    raw = 'The quantum theory of measurement explains decoherence'
    assert preprocess_text(raw) == preprocess_text_nltk(raw)


def test_pipeline_mode_plumbs_through(spark, tmp_path):
    """run_extraction with cfg.preprocess_mode='nltk' must produce
    preprocessed_text == preprocess_text_nltk(extracted_text) per row."""
    from pdf_ai_mapper_spark import checkpoint as cp
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
    from pdf_ai_mapper_spark.pipeline import run_extraction

    cfg = EngineConfig(shuffle_partitions=4, output_buckets=4,
                       preprocess_mode='nltk')
    out = str(tmp_path / 'out_nltk')
    run_extraction(spark, web_pages_df(spark, 40, num_partitions=2),
                   out, cfg)
    rows = (cp.read_output(spark, out)
            .select('extracted_text', 'preprocessed_text').collect())
    assert len(rows) == 40
    diverged = 0
    for r in rows:
        assert r['preprocessed_text'] == preprocess_text_nltk(
            r['extracted_text'])
        if r['preprocessed_text'] != preprocess_text(r['extracted_text']):
            diverged += 1
    assert diverged > 0  # the fixture corpus exercises the divergence
