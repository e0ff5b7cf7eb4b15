"""Dedup family and text-statistics operators on Spark, checked
against driver-side brute force on small corpora."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from pdf_ai_mapper_spark.operators.dedup import (dedup_exact,
                                                 minhash_lsh_pairs,
                                                 ngram_jaccard_pairs,
                                                 simhash_near_pairs,
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
    toks = text.lower().split()
    return {' '.join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def test_shingles_match_python(spark):
    df = with_shingles(_corpus(spark), 'body', k=3)
    for r in df.collect():
        body = _corpus(spark).filter(F.col('id') == r['id']).collect()[0]['body']
        assert set(r['shingles']) == _py_shingles(body)


def test_ngram_jaccard_matches_brute_force(spark):
    got = {(r['id_a'], r['id_b']): r['jaccard']
           for r in ngram_jaccard_pairs(_corpus(spark), 'id', 'body',
                                        k=3, threshold=0.3).collect()}
    rows = {r['id']: r['body'] for r in _corpus(spark).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(rows), 2):
        sa, sb = _py_shingles(rows[a]), _py_shingles(rows[b])
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.3:
            want[(a, b)] = j
    assert got.keys() == want.keys()
    for k_ in got:
        assert abs(got[k_] - want[k_]) < 1e-9


def test_minhash_lsh_finds_near_and_exact_dups(spark):
    pairs = {(r['id_a'], r['id_b'])
             for r in minhash_lsh_pairs(_corpus(spark), 'id', 'body',
                                        num_hashes=64, bands=16,
                                        jaccard_threshold=0.4).collect()}
    assert (0, 3) in pairs          # exact dup: jaccard_est = 1.0
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup pair found
    assert (0, 5) not in pairs and (2, 5) not in pairs


def test_simhash_exact_dup_distance_zero(spark):
    pairs = {(r['id_a'], r['id_b']): r['hamming']
             for r in simhash_near_pairs(_corpus(spark), 'id', 'body',
                                         max_hamming=10).collect()}
    assert pairs.get((0, 3)) == 0   # identical text → identical simhash


@pytest.fixture()
def sf001_docs(testdata):
    return str(testdata / 'sf0.01' / 'documents.parquet')


def test_ngram_jaccard_df_cap_invariance_sf001(spark, sf001_docs):
    """The df-capped blocking (max_shingle_df=256) finds exactly the
    same above-threshold pairs as unbounded blocking on the sf0.01
    corpus — the cap only prunes join keys, never the arithmetic."""
    d = spark.read.parquet(sf001_docs)
    capped = {(r['id_a'], r['id_b']): r['jaccard'] for r in
              ngram_jaccard_pairs(d, 'doc_id', 'text', k=3, threshold=0.5,
                                  max_shingle_df=256).collect()}
    uncapped = {(r['id_a'], r['id_b']): r['jaccard'] for r in
                ngram_jaccard_pairs(d, 'doc_id', 'text', k=3, threshold=0.5,
                                    max_shingle_df=10**9).collect()}
    assert capped == uncapped and len(capped) > 0


def test_minhash_simhash_precision_vs_exact_jaccard_sf001(spark, sf001_docs):
    """Pair-set quality of the LSH sketches against the exact n-gram
    Jaccard ground truth (deterministic data + algorithms → pinned
    bounds). SimHash approximates token-multiset cosine, not shingle
    Jaccard, so its bounds are looser by design."""
    d = spark.read.parquet(sf001_docs)
    exact = {(r['id_a'], r['id_b']) for r in
             ngram_jaccard_pairs(d, 'doc_id', 'text', k=3,
                                 threshold=0.5).collect()}
    exact_hi = {(r['id_a'], r['id_b']) for r in
                ngram_jaccard_pairs(d, 'doc_id', 'text', k=3,
                                    threshold=0.8).collect()}
    mh = {(r['id_a'], r['id_b']) for r in
          minhash_lsh_pairs(d, 'doc_id', 'text', num_hashes=64, bands=16,
                            jaccard_threshold=0.8).collect()}
    assert len(mh & exact) / len(mh) == 1.0       # minhash precision
    assert len(mh & exact_hi) / len(exact_hi) == 1.0  # minhash recall

    sh = {(r['id_a'], r['id_b']) for r in
          simhash_near_pairs(d, 'doc_id', 'text', max_hamming=3).collect()}
    assert len(sh & exact) / len(sh) >= 0.8       # simhash precision
    assert len(sh & exact_hi) / len(exact_hi) >= 0.6  # simhash recall


def test_release_unpersists_signature_cache(spark):
    from pdf_ai_mapper_spark.operators.dedup import release
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


def test_stupid_backoff_all_three_branches(spark):
    """External LM so every branch is live: seen trigram (c3/c12),
    bigram backoff (0.4 * c23/c(w2)), and the double-backoff Lidstone
    floor for unseen words — replicated in python over the same
    counts."""
    import math
    from collections import Counter
    from pdf_ai_mapper_spark.operators.textstats import (
        stupid_backoff_score)
    lm_texts = ['the cat sat on the mat', 'the cat ran', 'a dog sat']
    docs = [(1, 'the cat sat'),          # seen trigram
            (2, 'dog sat on'),           # bigram path then trigram? mixed
            (3, 'zzz the cat'),          # unseen word -> floor branch
            (4, 'xy')]                   # <3 tokens -> absent
    lm = spark.createDataFrame([(t,) for t in lm_texts], 'text string')
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r for r in stupid_backoff_score(
        df, 'doc_id', 'text', lm_df=lm).collect()}

    toks = [t.split() for t in lm_texts]
    tri = Counter(tuple(ts[i:i + 3]) for ts in toks
                  for i in range(len(ts) - 2))
    big = Counter(tuple(ts[i:i + 2]) for ts in toks
                  for i in range(len(ts) - 1))
    uni = Counter(w for ts in toks for w in ts)
    N, V = sum(uni.values()), len(uni)

    def s(w1, w2, w3):
        if tri[(w1, w2, w3)]:
            return tri[(w1, w2, w3)] / big[(w1, w2)]
        if big[(w2, w3)]:
            return 0.4 * big[(w2, w3)] / uni[w2]
        return 0.4 * 0.4 * ((uni.get(w3, 0) + 0.5) / (N + 0.5 * V))

    for i, text in docs:
        ws = text.split()
        if len(ws) < 3:
            assert i not in got
            continue
        terms = [math.log(s(*ws[j:j + 3])) for j in range(len(ws) - 2)]
        assert got[i]['n_trigrams'] == len(terms)
        assert abs(got[i]['sb_logscore']
                   - round(sum(terms) / len(terms), 6)) < 2e-6, i


def test_gopher_dup_ngrams_semantics(spark):
    from pdf_ai_mapper_spark.operators.textstats import gopher_dup_ngrams
    rep = ' '.join(['a b c d e'] * 3)          # every 5-gram duplicated
    docs = [(1, rep), (2, 'all tokens here are different ones now'),
            (3, '')]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r for r in gopher_dup_ngrams(df, ns=(5,)).collect()}
    assert got[1]['dup_5gram_char_frac'] == 1.0   # full coverage
    assert got[2]['dup_5gram_char_frac'] == 0.0
    assert got[3]['dup_5gram_char_frac'] == 0.0


def test_gopher_dup_ngrams_matches_python_reference(spark):
    import random
    from collections import Counter
    from pdf_ai_mapper_spark.operators.textstats import gopher_dup_ngrams
    rng = random.Random(19)
    vocab = ['aa', 'bb', 'cc', 'dd']
    docs = [(i, ' '.join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 30))))
            for i in range(30)]

    def ref(text, ns):
        ws = [w for w in text.lower().split() if w]
        chars = sum(len(w) for w in ws)
        out = []
        for n in ns:
            grams = Counter(tuple(ws[i:i + n])
                            for i in range(max(0, len(ws) - n + 1)))
            cov = set()
            for i in range(max(0, len(ws) - n + 1)):
                if grams[tuple(ws[i:i + n])] >= 2:
                    cov.update(range(i, i + n))
            out.append(round(sum(len(ws[p]) for p in cov)
                             / max(chars, 1), 6))
        return tuple(out)

    ns = (3, 5, 7)
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: tuple(r)[1:]
           for r in gopher_dup_ngrams(df.repartition(4), ns=ns).collect()}
    for i, t in docs:
        assert got[i] == ref(t, ns), (i, t)


def test_window_hash_128_matches_64_on_fixtures(spark):
    """VERDICT r6 #2: at 100 TB the 64-bit window space collides
    (birthday ~4x10^9 distinct windows), so the substring family takes
    hash_bits=128 — a struct of two independently-salted xxhash64
    longs, still a 16-byte shuffle key. On collision-free fixtures the
    two widths must produce IDENTICAL results for every op."""
    import random
    from pdf_ai_mapper_spark.operators.dedup import (
        remove_duplicated_substrings, substring_duplication_stats)
    from pdf_ai_mapper_spark.operators.textstats import gopher_dup_ngrams

    rng = random.Random(23)
    vocab = [f'w{i}' for i in range(12)]
    boiler = ' '.join(vocab[:9])                 # shared 9-token span
    docs = [(i, (' '.join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
                 + (f' {boiler}' if i % 3 == 0 else '')).strip())
            for i in range(40)]
    df = spark.createDataFrame(docs, 'doc_id long, text string')

    def rows(out):
        return sorted(tuple(r) for r in out.collect())

    for op in (lambda bits: substring_duplication_stats(df, k=4,
                                                        hash_bits=bits),
               lambda bits: remove_duplicated_substrings(df, k=4,
                                                         hash_bits=bits),
               lambda bits: remove_duplicated_substrings(df, k=4,
                                                         keep='first',
                                                         hash_bits=bits),
               lambda bits: gopher_dup_ngrams(df, ns=(4, 6),
                                              hash_bits=bits)):
        assert rows(op(64)) == rows(op(128))

    import pytest
    from pdf_ai_mapper_spark.operators.dedup import _window_hash
    with pytest.raises(ValueError):
        _window_hash(96)


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


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    from pdf_ai_mapper_spark.operators.dedup import line_dedup
    docs = [
        (1, 'cookie banner\nunique first line\ncookie banner\nfooter text'),
        (2, 'another doc body\nfooter text\ncookie banner'),
        (3, 'cookie banner\nfooter text'),          # all boilerplate
        (4, 'completely unique\ncontent here'),
    ]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r for r in line_dedup(df).collect()}
    # 'cookie banner' in docs 1,2,3; 'footer text' in 1,2,3 -> removed
    assert got[1]['cleaned_text'] == 'unique first line'
    assert got[1]['n_kept'] == 1 and got[1]['n_removed'] == 3
    assert got[2]['cleaned_text'] == 'another doc body'
    assert got[3]['cleaned_text'] == '' and got[3]['n_kept'] == 0
    assert got[4]['cleaned_text'] == 'completely unique\ncontent here'
    assert got[4]['n_removed'] == 0


def test_line_dedup_within_doc_repeats_not_cross_doc(spark):
    """A line repeated inside ONE doc but nowhere else counts df=1 and
    survives (CCNet removes cross-document duplicates; within-doc
    repetition is the repetition_stats signal)."""
    from pdf_ai_mapper_spark.operators.dedup import line_dedup
    df = spark.createDataFrame(
        [(1, 'same line\nsame line\nother'), (2, 'nothing shared')],
        'doc_id long, text string')
    got = {r['doc_id']: r for r in line_dedup(df).collect()}
    assert got[1]['cleaned_text'] == 'same line\nsame line\nother'
    assert got[1]['n_removed'] == 0


def test_line_dedup_preserves_order(spark):
    from pdf_ai_mapper_spark.operators.dedup import line_dedup
    n = 30
    text1 = '\n'.join(['dup'] + [f'line{i}' for i in range(n)] + ['dup'])
    df = spark.createDataFrame(
        [(1, text1), (2, 'dup')], 'doc_id long, text string')
    got = {r['doc_id']: r for r in
           line_dedup(df.repartition(4)).collect()}
    assert got[1]['cleaned_text'] == '\n'.join(f'line{i}' for i in range(n))


def test_substring_removal_drops_cross_doc_spans(spark):
    from pdf_ai_mapper_spark.operators.dedup import (
        remove_duplicated_substrings)
    shared = 'alpha beta gamma delta'
    docs = [
        (1, 'one two three ' + shared + ' x y z'),
        (2, 'start middle ' + shared + ' end bits'),
        (3, 'totally unrelated text here'),
        (4, 'shorty'),                         # n < k: no windows
    ]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r
           for r in remove_duplicated_substrings(df, k=4).collect()}
    # only the exact shared 4-token window duplicates across docs;
    # overlapping windows mix in different neighbors and stay unique
    assert got[1]['cleaned_text'] == 'one two three x y z'
    assert got[1]['n_kept'] == 6 and got[1]['n_removed'] == 4
    assert got[2]['cleaned_text'] == 'start middle end bits'
    assert got[3]['cleaned_text'] == 'totally unrelated text here'
    assert got[3]['n_removed'] == 0
    assert got[4]['cleaned_text'] == 'shorty'


def test_substring_removal_full_copy_vanishes_everywhere(spark):
    """Lee et al. semantics at this operator's policy: ALL copies of
    a duplicated span are dropped (both docs), a fully-covered doc
    comes back as '' rather than disappearing."""
    from pdf_ai_mapper_spark.operators.dedup import (
        remove_duplicated_substrings)
    df = spark.createDataFrame(
        [(1, 'a b c d e f'), (2, 'a b c d e f'), (3, 'q r s t u v')],
        'doc_id long, text string')
    got = {r['doc_id']: r
           for r in remove_duplicated_substrings(df, k=4).collect()}
    assert got[1]['cleaned_text'] == '' and got[1]['n_kept'] == 0
    assert got[2]['cleaned_text'] == '' and got[2]['n_removed'] == 6
    assert got[3]['cleaned_text'] == 'q r s t u v'


def test_substring_removal_within_doc_repeat_survives(spark):
    """min_df counts DISTINCT documents: a window repeated inside ONE
    doc but nowhere else survives (within-doc repetition is the
    repetition_stats/substring_duplication signal, not this op's)."""
    from pdf_ai_mapper_spark.operators.dedup import (
        remove_duplicated_substrings)
    rep = 'p q r s p q r s p q r s'
    df = spark.createDataFrame(
        [(1, rep), (2, 'nothing shared with one')],
        'doc_id long, text string')
    got = {r['doc_id']: r
           for r in remove_duplicated_substrings(df, k=4).collect()}
    assert got[1]['cleaned_text'] == rep
    assert got[1]['n_removed'] == 0


def test_substring_removal_keep_first_policy(spark):
    """Lee et al.'s paper policy: the globally FIRST occurrence of
    each duplicated window — min (doc_id, position) — survives; later
    copies are dropped."""
    import pytest
    from pdf_ai_mapper_spark.operators.dedup import (
        remove_duplicated_substrings)
    shared = 'alpha beta gamma delta'
    df = spark.createDataFrame(
        [(1, 'one two three ' + shared + ' x y z'),
         (2, 'start middle ' + shared + ' end bits'),
         (3, 'untouched text lives here')],
        'doc_id long, text string')
    got = {r['doc_id']: r
           for r in remove_duplicated_substrings(
               df, k=4, keep='first').collect()}
    # doc 1 holds the first occurrence -> keeps everything
    assert got[1]['cleaned_text'] == 'one two three ' + shared + ' x y z'
    assert got[1]['n_removed'] == 0
    # doc 2's copy is dropped
    assert got[2]['cleaned_text'] == 'start middle end bits'
    assert got[3]['n_removed'] == 0
    with pytest.raises(ValueError):
        remove_duplicated_substrings(df, keep='last')


def test_substring_removal_keep_first_randomized(spark):
    import random
    from pdf_ai_mapper_spark.operators.dedup import (
        remove_duplicated_substrings)
    rng = random.Random(23)
    vocab = [f'w{i}' for i in range(10)]
    k = 3
    docs = [(i, ' '.join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 22))))
            for i in range(30)]
    toks = {i: t.split() for i, t in docs}
    occ: dict = {}
    for i, ts in sorted(toks.items()):
        for s in range(max(0, len(ts) - k + 1)):
            occ.setdefault(' '.join(ts[s:s + k]), []).append((i, s))
    dup = {w for w, os_ in occ.items()
           if len({d for d, _ in os_}) >= 2}
    exp = {}
    for i, ts in toks.items():
        cov = set()
        for s in range(max(0, len(ts) - k + 1)):
            w = ' '.join(ts[s:s + k])
            if w in dup and min(occ[w]) != (i, s):
                cov.update(range(s, s + k))
        kept = [t for p, t in enumerate(ts) if p not in cov]
        exp[i] = (len(kept), len(ts) - len(kept), ' '.join(kept))
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: (r['n_kept'], r['n_removed'], r['cleaned_text'])
           for r in remove_duplicated_substrings(
               df.repartition(5), k=k, keep='first').collect()}
    for i, t in docs:
        if t == '':
            assert got[i] == (1, 0, '')
        else:
            assert got[i] == exp[i], (i, t)


def test_substring_removal_matches_python_reference_randomized(spark):
    import random
    from pdf_ai_mapper_spark.operators.dedup import (
        remove_duplicated_substrings)
    rng = random.Random(7)
    vocab = [f'w{i}' for i in range(12)]
    k = 3
    docs = [(i, ' '.join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 25))))
            for i in range(40)]

    # python reference over window STRINGS
    toks = {i: t.split() for i, t in docs}
    wins: dict = {}
    for i, ts in toks.items():
        for s in range(max(0, len(ts) - k + 1)):
            wins.setdefault(' '.join(ts[s:s + k]), set()).add(i)
    dup = {w for w, ds in wins.items() if len(ds) >= 2}
    exp = {}
    for i, ts in toks.items():
        cov = set()
        for s in range(max(0, len(ts) - k + 1)):
            if ' '.join(ts[s:s + k]) in dup:
                cov.update(range(s, s + k))
        kept = [t for p, t in enumerate(ts) if p not in cov]
        exp[i] = (len(kept), len(ts) - len(kept), ' '.join(kept))

    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: (r['n_kept'], r['n_removed'], r['cleaned_text'])
           for r in remove_duplicated_substrings(
               df.repartition(5), k=k).collect()}
    # empty texts: split('') -> [''] on the Spark side, one token kept
    for i, t in docs:
        if t == '':
            assert got[i] == (1, 0, '')
        else:
            assert got[i] == exp[i], i


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


def test_line_dedup_matches_python_reference_randomized(spark):
    """Seeded random corpora vs a pure-python reference of the same
    spec (df = distinct docs containing the line; >= min_df removed;
    order preserved)."""
    import random

    from pdf_ai_mapper_spark.operators.dedup import line_dedup

    def py_line_dedup(docs, min_df=2):
        from collections import defaultdict
        dfreq = defaultdict(set)
        for i, t in docs:
            for ln in t.split('\n'):
                dfreq[ln].add(i)
        hot = {ln for ln, s in dfreq.items() if len(s) >= min_df}
        out = {}
        for i, t in docs:
            lines = t.split('\n')
            kept = [ln for ln in lines if ln not in hot]
            out[i] = (len(kept), len(lines) - len(kept), '\n'.join(kept))
        return out

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        vocab = [f'line {w}' for w in 'abcdefgh']   # small: forces dups
        docs = [(i, '\n'.join(rng.choice(vocab)
                              for _ in range(rng.randint(1, 6))))
                for i in range(rng.randint(5, 15))]
        want = py_line_dedup(docs)
        df = spark.createDataFrame(docs, 'doc_id long, text string')
        got = {r['doc_id']: (r['n_kept'], r['n_removed'], r['cleaned_text'])
               for r in line_dedup(df.repartition(3)).collect()}
        assert got == want, seed


def test_substring_duplication_known_values(spark):
    from pdf_ai_mapper_spark.operators.dedup import (
        substring_duplication_stats)
    # doc 1: 10 tokens with its 4-token prefix repeated at the end;
    # doc 2: contains doc 1's prefix; doc 3: all unique; doc 4: short
    docs = [
        (1, 'a b c d e f a b c d'),
        (2, 'x y a b c d z w q r'),
        (3, 'u1 u2 u3 u4 u5 u6 u7'),
        (4, 'too short'),
    ]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r for r in
           substring_duplication_stats(df, k=4).collect()}
    # doc1 windows (7): abcd bcde cdef defa efab fabc abcd
    #   -> 'a b c d' occurs 2x in doc1 + 1x in doc2 -> dup
    assert got[1]['n_windows'] == 7 and got[1]['n_dup_windows'] == 2
    # doc2 windows (7): xy ab / y a b c / a b c d / b c d z / ...
    assert got[2]['n_windows'] == 7 and got[2]['n_dup_windows'] == 1
    assert got[3]['n_windows'] == 4 and got[3]['n_dup_windows'] == 0
    assert got[4]['n_windows'] == 0 and got[4]['dup_frac'] == 0.0


def test_substring_duplication_detects_copied_span(spark):
    from pdf_ai_mapper_spark.operators.dedup import (
        substring_duplication_stats)
    span = ' '.join(f's{i}' for i in range(20))
    docs = [(1, f'intro words here {span} outro'),
            (2, f'other page {span} different tail'),
            (3, 'independent content entirely ' * 5)]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r['dup_frac'] for r in
           substring_duplication_stats(df, k=8).collect()}
    assert got[1] > 0.5 and got[2] > 0.5   # the copied span dominates
    assert got[3] > 0.5                     # self-repetition counts too
    solo = spark.createDataFrame([(9, 'plain unique words ' + ' '.join(
        f'w{i}' for i in range(30)))], 'doc_id long, text string')
    assert {r['doc_id']: r['dup_frac'] for r in
            substring_duplication_stats(solo, k=8).collect()}[9] == 0.0


def test_line_dedup_metachar_separator_is_literal(spark):
    """sep is a LITERAL string, not a Java regex (ADVICE r4): F.split
    must be fed the \\Q-quoted form so a '.' separator splits on dots,
    not on every character."""
    from pdf_ai_mapper_spark.operators.dedup import line_dedup
    docs = [
        (1, 'boiler.unique one.boiler'),
        (2, 'boiler.unique two'),
        (3, 'solo text here'),
    ]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    got = {r['doc_id']: r for r in
           line_dedup(df, min_df=2, sep='.').collect()}
    assert got[1]['cleaned_text'] == 'unique one'
    assert got[1]['n_kept'] == 1 and got[1]['n_removed'] == 2
    assert got[2]['cleaned_text'] == 'unique two'
    assert got[3]['cleaned_text'] == 'solo text here'


def _para(words):
    return ' '.join(words)


def test_paragraph_rollup_flags_cross_doc_only(spark):
    """A paragraph shared across two docs marks BOTH docs; a paragraph
    repeated inside ONE doc does not (cross-doc semantics — in-doc
    repetition is substring_duplication's signal)."""
    from pdf_ai_mapper_spark.operators.dedup import (
        paragraph_neardup_rollup, release)
    shared = _para([f'alpha{i}' for i in range(12)])
    selfrep = _para([f'beta{i}' for i in range(12)])
    docs = [
        (1, shared + '\n\n' + _para(['solo1'] * 8)),
        (2, shared + '\n\n' + _para(['solo2'] * 8)),
        (3, selfrep + '\n\n' + selfrep),            # in-doc repeat only
        (4, _para([f'gamma{i}' for i in range(12)])),
        (5, 'short'),                                # under min_tokens
    ]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    out = paragraph_neardup_rollup(df, jaccard_threshold=0.8)
    got = {r['doc_id']: r for r in out.collect()}
    release(out)
    assert got[1]['n_paras'] == 2 and got[1]['n_dup_paras'] == 1
    assert got[2]['n_paras'] == 2 and got[2]['n_dup_paras'] == 1
    assert got[1]['dup_para_frac'] == 0.5
    assert got[3]['n_dup_paras'] == 0      # same-doc pair excluded
    assert got[3]['n_paras'] == 2
    assert got[4]['n_dup_paras'] == 0
    assert got[5]['n_paras'] == 0 and got[5]['dup_para_frac'] == 0.0


def test_paragraph_key_roundtrip(spark):
    from pdf_ai_mapper_spark.operators.dedup import (
        PARA_SHIFT, para_doc, para_idx, para_key)
    df = spark.createDataFrame(
        [(d, i) for d in (0, 1, 7, 12345, (1 << 42))
         for i in (0, 1, 99, (1 << PARA_SHIFT) - 1)],
        'doc long, idx long')
    out = df.select(
        'doc', 'idx',
        para_doc(para_key(F.col('doc'), F.col('idx'))).alias('d2'),
        para_idx(para_key(F.col('doc'), F.col('idx'))).alias('i2'))
    assert out.filter((F.col('doc') != F.col('d2'))
                      | (F.col('idx') != F.col('i2'))).count() == 0


def test_paragraph_pairs_precision_recall_vs_exact(spark):
    """Mirror of the doc-level P/R pin: paragraph LSH pairs vs EXACT
    paragraph n-gram Jaccard over the same exploded paragraphs."""
    import random

    from pdf_ai_mapper_spark.operators.dedup import (
        explode_paragraphs, ngram_jaccard_pairs, para_key,
        paragraph_neardup_pairs, release)
    rng = random.Random(11)
    vocab = [f'w{i}' for i in range(60)]
    base = [rng.choice(vocab) for _ in range(20)]
    docs = []
    for d in range(30):
        paras = []
        for p in range(3):
            if d % 6 == 0 and p == 0:
                paras.append(' '.join(base))           # exact copy: J=1
            elif d % 3 == 0 and p == 0:
                # near-copy (1 token changed): J≈0.7 — prober for the
                # precision side, below the 0.8 recall anchor
                mut = list(base)
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
                paras.append(' '.join(mut))
            else:
                paras.append(' '.join(rng.choice(vocab)
                                      for _ in range(20)))
        docs.append((d, '\n\n'.join(paras)))
    df = spark.createDataFrame(docs, 'doc_id long, text string')

    paras = explode_paragraphs(df)
    ptext = paras.withColumnRenamed('para', 'text')

    def pset(q):
        s = {(r['id_a'], r['id_b']) for r in q.collect()}
        release(q)
        return s

    # same anchors as the doc-level pin (q_neardup_pr): precision vs
    # the J>=0.5 exact set, recall vs the J>=0.8 exact set
    exact_lo = pset(ngram_jaccard_pairs(ptext, 'pid', 'text',
                                        k=3, threshold=0.5))
    exact_hi = pset(ngram_jaccard_pairs(ptext, 'pid', 'text',
                                        k=3, threshold=0.8))
    got_pairs = paragraph_neardup_pairs(df, jaccard_threshold=0.8)
    rows = got_pairs.collect()
    release(got_pairs)
    got = set()
    shift = 1 << 20
    for r in rows:
        got.add((r['doc_a'] * shift + r['para_a'],
                 r['doc_b'] * shift + r['para_b']))
    assert got, 'LSH found no paragraph pairs'
    assert exact_hi, 'fixture planted no J>=0.8 pairs'
    prec = len(got & exact_lo) / len(got)
    assert prec >= 0.9, (prec, len(got))
    rec = len(got & exact_hi) / len(exact_hi)
    assert rec >= 0.8, rec


def test_bigram_lm_score_matches_python_reference(spark):
    """Self-scored bigram LM vs a pure-python transcription of the
    Lidstone formula; single-token docs absent; whitespace runs
    collapse identically."""
    import math
    from collections import Counter

    from pdf_ai_mapper_spark.operators.textstats import bigram_lm_score

    docs = [(1, 'the cat sat on the mat'), (2, 'the cat sat'),
            (3, 'colorless green ideas sleep furiously'),
            (4, 'single'), (5, '  the   mat  ')]
    df = spark.createDataFrame(docs, 'doc_id long, text string')
    out = {r['doc_id']: r for r in
           bigram_lm_score(df, 'doc_id', 'text').collect()}

    toks = {i: t.lower().split() for i, t in docs}
    bg: Counter = Counter()
    vocab = set()
    for t in toks.values():
        vocab.update(t)
        for a, b in zip(t, t[1:]):
            bg[(a, b)] += 1
    ctx: Counter = Counter()
    for (a, _), c in bg.items():
        ctx[a] += c
    v, alpha = len(vocab), 0.5

    assert 4 not in out          # no bigrams -> absent
    for i, t in toks.items():
        if len(t) < 2:
            continue
        ref = [math.log((bg[(a, b)] + alpha) / (ctx[a] + alpha * v))
               for a, b in zip(t, t[1:])]
        assert out[i]['n_bigrams'] == len(ref)
        assert out[i]['bigram_logprob'] == round(sum(ref) / len(ref), 6)


def test_bigram_lm_external_lm_unseen_bigrams(spark):
    """CCNet shape: LM fit on a clean corpus, applied to other text.
    Unseen bigram + unseen context costs ln(alpha / (alpha * V)) =
    ln(1/V) through the same smoothing arithmetic (no backoff branch)."""
    import math

    from pdf_ai_mapper_spark.operators.textstats import bigram_lm_score

    lm = spark.createDataFrame(
        [(1, 'the cat sat on the mat'), (2, 'the cat sat')],
        'doc_id long, text string')
    target = spark.createDataFrame(
        [(9, 'colorless green ideas sleep furiously')],
        'doc_id long, text string')
    row = bigram_lm_score(target, 'doc_id', 'text', lm_df=lm).collect()[0]
    v = len({'the', 'cat', 'sat', 'on', 'mat'})   # distinct LM tokens
    assert row['n_bigrams'] == 4
    assert row['bigram_logprob'] == round(math.log(1.0 / v), 6)


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


class TestLineDedupWithinDoc:
    """line_dedup_within_doc (round 7): keep-first per non-empty line
    WITHIN each doc, empties always kept; zero-shuffle in-row HOF. The
    q_line_dedup_within oracle proves in-row ≡ exploded-window; these
    pin row-level edges and the no-Exchange plan."""

    def test_keep_first_and_empties(self, spark):
        from pdf_ai_mapper_spark.operators.dedup import line_dedup_within_doc
        df = spark.createDataFrame(
            [(1, 'a\nb\na\n\nb\n\nc'), (2, 'x'), (3, '')],
            'doc_id long, text string')
        got = {r['doc_id']: r for r in
               line_dedup_within_doc(df).collect()}
        assert got[1]['cleaned_text'] == 'a\nb\n\n\nc'
        assert (got[1]['n_kept'], got[1]['n_removed']) == (5, 2)
        assert got[2]['cleaned_text'] == 'x'
        # ''.split -> [''] = one empty line, kept
        assert (got[3]['n_kept'], got[3]['n_removed']) == (1, 0)

    def test_custom_separator_with_metachar(self, spark):
        from pdf_ai_mapper_spark.operators.dedup import line_dedup_within_doc
        df = spark.createDataFrame([(1, 'a|b|a|b')],
                                   'doc_id long, text string')
        r = line_dedup_within_doc(df, sep='|').collect()[0]
        assert r['cleaned_text'] == 'a|b'

    def test_zero_shuffle_plan(self, spark):
        from pdf_ai_mapper_spark.operators.dedup import line_dedup_within_doc
        df = spark.createDataFrame([(1, 'a\nb')], 'doc_id long, text string')
        plan = (line_dedup_within_doc(df)
                ._jdf.queryExecution().executedPlan().toString())
        assert 'Exchange' not in plan
        assert 'ArrowEvalPython' not in plan
