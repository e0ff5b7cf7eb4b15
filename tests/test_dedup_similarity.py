"""Exact and MinHash dedup, shingling, and the remaining textstats
operators (PII redaction, Gopher repetition, source gate, chunking,
hash split, NFC) on Spark, checked against driver-side brute force or
hand goldens on small corpora."""

from __future__ import annotations

import itertools
import re

import pytest
from pyspark.sql import functions as F

from pdf_ai_mapper_spark.operators.dedup import (dedup_exact,
                                                 minhash_lsh_pairs, release,
                                                 with_shingles)


def _corpus(spark):
    rows = [
        (0, 'the quick brown fox jumps over the lazy dog near the river bank'),
        (1, 'the quick brown fox jumps over the lazy dog near the river bend'),  # near-dup of 0
        (2, 'completely different text about spark dataframes and shuffles'),
        (3, 'the quick brown fox jumps over the lazy dog near the river bank'),  # exact dup of 0
        (4, 'spark dataframes and shuffles are completely different topics'),    # shares words w/ 2
        (5, 'unrelated short doc'),
    ]
    return spark.createDataFrame(rows, 'id long, body string')


def test_exact_dedup_first_seen(spark):
    df = (_corpus(spark)
          .withColumn('content_hash', F.md5(F.encode('body', 'UTF-8')))
          .withColumn('warc_ts', F.to_timestamp(F.lit('2025-01-01')))
          .withColumn('url', F.concat(F.lit('u'), F.col('id'))))
    kept = sorted(r['id'] for r in dedup_exact(df).select('id').collect())
    assert kept == [0, 1, 2, 4, 5]  # 3 dropped (same hash as 0, later url)


def _py_shingles(text, k=3):
    """Driver-side mirror of ``with_shingles``: lower-case, split on
    runs of the six characters Java's regex whitespace class matches
    (empty edge tokens kept, as Spark's ``split`` keeps them),
    distinct k-grams; no shingles below k tokens."""
    toks = re.split(r'[ \t\n\x0b\f\r]+', text.lower())
    return {' '.join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_shingles_match_python(spark):
    df = with_shingles(_corpus(spark), 'body', k=3)
    for r in df.collect():
        body = _corpus(spark).filter(F.col('id') == r['id']).collect()[0]['body']
        assert set(r['shingles']) == _py_shingles(body)


def test_minhash_lsh_finds_near_and_exact_dups(spark):
    pairs = {(r['id_a'], r['id_b'])
             for r in minhash_lsh_pairs(_corpus(spark), 'id', 'body',
                                        num_hashes=64, bands=16,
                                        jaccard_threshold=0.4).collect()}
    assert (0, 3) in pairs          # exact dup: jaccard_est = 1.0
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup pair found
    assert (0, 5) not in pairs and (2, 5) not in pairs


@pytest.fixture()
def sf001_docs(testdata):
    return str(testdata / 'sf0.01' / 'documents.parquet')


def test_minhash_precision_recall_vs_exact_jaccard_sf001(spark, sf001_docs):
    """Pair-set quality of MinHash LSH against exact 3-shingle Jaccard
    over every document pair, computed on the driver (deterministic
    data + algorithm → pinned bounds): every reported pair has
    J ≥ 0.5, and every pair with J ≥ 0.8 is reported."""
    d = spark.read.parquet(sf001_docs)
    shingles = {r['doc_id']: _py_shingles(r['text'])
                for r in d.select('doc_id', 'text').collect()}
    assert shingles == {r['doc_id']: set(r['shingles']) for r in
                        with_shingles(d, 'text', k=3).collect()}

    def exact(threshold):
        out = set()
        for a, b in itertools.combinations(sorted(shingles), 2):
            sa, sb = shingles[a], shingles[b]
            if sa and sb:
                n = len(sa & sb)
                if n / (len(sa) + len(sb) - n) >= threshold:
                    out.add((a, b))
        return out

    exact_lo, exact_hi = exact(0.5), exact(0.8)
    assert exact_hi
    res = minhash_lsh_pairs(d, 'doc_id', 'text', num_hashes=64, bands=16,
                            jaccard_threshold=0.8)
    mh = {(r['id_a'], r['id_b']) for r in res.collect()}
    release(res)
    assert mh <= exact_lo        # precision 1.0
    assert exact_hi <= mh        # recall 1.0


def test_release_unpersists_signature_cache(spark):
    df = minhash_lsh_pairs(_corpus(spark), 'id', 'body',
                           num_hashes=64, bands=16, jaccard_threshold=0.4)
    df.collect()
    assert df._persisted_deps[0].storageLevel.useMemory
    release(df)
    assert not df._persisted_deps[0].storageLevel.useMemory


def test_pii_redaction_kinds_and_order(spark):
    from pdf_ai_mapper_spark.operators.textstats import with_redacted
    rows = [
        (0, 'mail me at a.b+c@test.org or visit https://x.io/a?b=c now'),
        (1, 'call +1 (555) 123-4567 today'),
        (2, 'https://u:p@host.com/x has an email-shaped userinfo'),
        (3, 'clean text with no pii at all'),
    ]
    df = spark.createDataFrame(rows, 'id long, text string')
    got = {r['id']: r for r in with_redacted(df, 'text').collect()}
    assert got[0]['n_emails'] == 1 and got[0]['n_urls'] == 1
    assert '<EMAIL>' in got[0]['redacted_text'] and '<URL>' in got[0]['redacted_text']
    assert got[1]['n_phones'] == 1 and '<PHONE>' in got[1]['redacted_text']
    # URL redaction runs FIRST, so the email-shaped userinfo inside the
    # URL is consumed by <URL> and not double-counted as an email
    assert got[2]['n_urls'] == 1 and got[2]['n_emails'] == 0
    assert got[3]['redacted_text'] == rows[3][1]


def test_repetition_stats_values(spark):
    from pdf_ai_mapper_spark.operators.textstats import repetition_stats
    df = spark.createDataFrame(
        [(0, 'spam spam spam spam eggs'), (1, 'all words are different here')],
        'doc_id long, text string')
    got = {r['doc_id']: r for r in repetition_stats(df).collect()}
    assert abs(got[0]['top_word_frac'] - 0.8) < 1e-9
    assert abs(got[0]['distinct_word_ratio'] - 0.4) < 1e-9
    assert got[1]['top_word_frac'] == 0.2 and got[1]['distinct_word_ratio'] == 1.0


def test_gopher_repetition_hand_goldens(spark):
    from pdf_ai_mapper_spark.operators.textstats import gopher_repetition
    docs = [
        # 5 lines (2 dup pairs), 3 paras (1 dup pair)
        (1, 'the cat\nthe cat\nother line\n\npara two here\n\npara two here'),
        (2, ''),                              # everything zero
        (3, 'unique words only here today'),  # no repetition at all
    ]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r for r in gopher_repetition(df).collect()}
    # lines: ['the cat' x2, 'other line', 'para two here' x2]
    assert abs(got[1]['dup_line_frac'] - 0.4) < 1e-9      # (5-3)/5
    assert abs(got[1]['dup_line_char_frac'] - 0.4) < 1e-9  # (7+13)/50
    assert abs(got[1]['dup_para_frac'] - 1 / 3) < 1e-6    # (3-2)/3
    assert abs(got[1]['dup_para_char_frac'] - 0.25) < 1e-9  # 13/52
    assert tuple(got[2])[1:] == (0.0,) * 7
    assert got[3]['dup_line_frac'] == 0.0
    assert got[3]['dup_para_frac'] == 0.0


def test_gopher_repetition_matches_python_reference_randomized(spark):
    import random
    from collections import Counter
    from pdf_ai_mapper_spark.operators.textstats import gopher_repetition
    rng = random.Random(13)
    vocab = ['Alpha', 'beta', 'GAMMA', 'delta', 'eps']

    def mk_doc():
        lines = [' '.join(rng.choice(vocab)
                          for _ in range(rng.randint(1, 4)))
                 for _ in range(rng.randint(0, 8))]
        paras = []
        i = 0
        while i < len(lines):
            j = i + rng.randint(1, 3)
            paras.append('\n'.join(lines[i:j]))
            i = j
        return '\n\n'.join(paras)

    docs = [(i, mk_doc()) for i in range(30)]

    def ref(text):
        words = [w for w in text.lower().split() if w]
        chars = sum(len(w) for w in words)
        out = []
        for seq in ([x for x in text.split('\n') if x],
                    [x for x in text.split('\n\n') if x]):
            c = Counter(seq)
            tot = sum(c.values())
            out.append(round((tot - len(c)) / tot, 6) if tot else 0.0)
            cw = sum(n * len(k) for k, n in c.items())
            ex = sum((n - 1) * len(k) for k, n in c.items() if n >= 2)
            out.append(round(ex / max(cw, 1), 6))
        for k in (2, 3, 4):
            grams = Counter(' '.join(words[i:i + k])
                            for i in range(max(0, len(words) - k + 1)))
            if grams:
                c, w = max(((n, len(g) - (k - 1))
                            for g, n in grams.items()))
                out.append(round(c * w / max(chars, 1), 6))
            else:
                out.append(0.0)
        return tuple(out)

    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: tuple(r)[1:]
           for r in gopher_repetition(df.repartition(4)).collect()}
    for i, t in docs:
        assert got[i] == ref(t), (i, t)



def test_source_quality_gate_filters_groups(spark):
    from pdf_ai_mapper_spark.operators.textstats import source_quality_gate
    rows = ([(i, 'srcgood', 'purely alphabetic words only here') for i in range(5)]
            + [(i + 10, 'srcbad', '1234 5678 90 12 34 56 78 90') for i in range(5)])
    df = spark.createDataFrame(rows, 'doc_id long, source string, text string')
    kept = source_quality_gate(df, 'source', 'text', min_avg_alpha=0.6)
    assert {r['source'] for r in kept.select('source').distinct().collect()} == {'srcgood'}
    assert kept.count() == 5


def test_with_chunks_overlap_semantics(spark):
    from pdf_ai_mapper_spark.operators.textstats import with_chunks
    text = ' '.join(f't{i}' for i in range(10))
    df = spark.createDataFrame([(0, text), (1, ''), (2, 'one two')],
                               'doc_id long, text string')
    got = with_chunks(df, 'doc_id', 'text', chunk_tokens=4, overlap=1)
    rows = {(r['doc_id'], r['chunk_idx']): r for r in got.collect()}
    # stride 3: windows [0..3], [3..6], [6..9], [9]
    assert rows[(0, 0)]['chunk_text'] == 't0 t1 t2 t3'
    assert rows[(0, 1)]['chunk_text'] == 't3 t4 t5 t6'
    assert rows[(0, 2)]['chunk_text'] == 't6 t7 t8 t9'
    assert rows[(0, 3)]['chunk_text'] == 't9' and rows[(0, 3)]['n_tokens'] == 1
    assert not any(d == 1 for d, _ in rows)         # empty doc → no chunks
    assert rows[(2, 0)]['chunk_text'] == 'one two'  # short doc → one chunk
    import pytest
    with pytest.raises(ValueError):
        with_chunks(df, 'doc_id', 'text', chunk_tokens=4, overlap=4)


def test_hash_split_fractions_and_stability(spark):
    from pdf_ai_mapper_spark.operators.textstats import hash_split
    df = spark.range(20_000).select(
        F.concat(F.lit('k'), F.col('id').cast('string')).alias('key'))
    out = hash_split(df, 'key')
    counts = {r['split']: r['n'] for r in
              out.groupBy('split').agg(F.count('*').alias('n')).collect()}
    assert abs(counts['train'] / 20_000 - 0.8) < 0.02
    assert abs(counts['val'] / 20_000 - 0.1) < 0.01
    assert abs(counts['test'] / 20_000 - 0.1) < 0.01
    # stable under repartition: identical assignment
    a = {r['key']: r['split'] for r in out.collect()}
    b = {r['key']: r['split'] for r in
         hash_split(df.repartition(16), 'key').collect()}
    assert a == b


def test_hash_split_unnormalized_weights(spark):
    from pdf_ai_mapper_spark.operators.textstats import hash_split
    df = spark.range(10_000).select(F.col('id').cast('string').alias('k'))
    counts = {r['split']: r['n'] for r in
              hash_split(df, 'k', weights={'a': 3, 'b': 1})
              .groupBy('split').agg(F.count('*').alias('n')).collect()}
    assert abs(counts['a'] / 10_000 - 0.75) < 0.02
    assert abs(counts['b'] / 10_000 - 0.25) < 0.02


def test_with_nfc_semantics(spark):
    """NFC recomposes decomposed sequences; ASCII rides the fast path
    untouched; None stays None; result is idempotent."""
    import unicodedata
    from pdf_ai_mapper_spark.operators.textstats import with_nfc
    dec = 'café'                       # e + combining acute
    comp = unicodedata.normalize('NFC', dec)  # 'café', one code point
    rows = [(0, dec), (1, 'plain ascii'), (2, None), (3, comp)]
    df = spark.createDataFrame(rows, 'doc_id long, text string')
    got = {r['doc_id']: r['nfc_text'] for r in with_nfc(df).collect()}
    assert got[0] == comp and len(got[0]) == len(dec) - 1
    assert got[1] == 'plain ascii'
    assert got[2] is None
    assert got[3] == comp
    # idempotent: normalizing the normalized column changes nothing
    again = with_nfc(with_nfc(df).select('doc_id',
                                         F.col('nfc_text').alias('text')))
    assert {r['doc_id']: r['nfc_text'] for r in again.collect()} == got


