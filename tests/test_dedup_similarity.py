"""Exact and MinHash dedup and shingling on Spark, checked against
driver-side brute force on small corpora."""

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
