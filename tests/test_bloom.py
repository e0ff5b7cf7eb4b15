"""Bloom pre-split for incremental ingest (operators/bloom.py).

Correctness contract: the Bloom filter moves bytes, never answers —
the final ingested set must be byte-identical with and without the
prefilter; ``definite_new`` must have zero false negatives; the false
positive rate must be near the design point.
"""

import pytest
from pyspark.sql import functions as F

from pdf_ai_mapper_spark.operators.bloom import (
    _MAX_BITMAP_BYTES, bloom_params, bloom_split, build_bloom,
    might_contain_col)


@pytest.fixture(scope='module')
def keys_df(spark):
    return spark.range(0, 10_000).select(
        F.concat(F.lit('key-'), F.col('id')).alias('k'))


def test_no_false_negatives(spark, keys_df):
    bitmap = build_bloom(keys_df, 'k')
    flagged = might_contain_col(keys_df, 'k', bitmap)
    assert flagged.filter(~F.col('__bloom_maybe')).count() == 0


def test_false_positive_rate_near_design(spark, keys_df):
    bitmap = build_bloom(keys_df, 'k')
    others = spark.range(0, 20_000).select(
        F.concat(F.lit('other-'), F.col('id')).alias('k'))
    fp = (might_contain_col(others, 'k', bitmap)
          .filter(F.col('__bloom_maybe')).count())
    # 10k keys × 10 bits/key → next power of two = 131072 bits
    # (13.1 bits/key effective): design fpp ≲ 1%, assert ≤ 3%
    assert fp / 20_000 <= 0.03


def test_split_partitions_the_input(spark, keys_df):
    bitmap = build_bloom(keys_df, 'k')
    mixed = spark.range(5_000, 15_000).select(
        F.concat(F.lit('key-'), F.col('id')).alias('k'))  # half members
    fresh, maybe = bloom_split(mixed, 'k', bitmap)
    n_fresh, n_maybe = fresh.count(), maybe.count()
    assert n_fresh + n_maybe == 10_000
    # every true member (key-5000..key-9999) must land in `maybe`
    members = maybe.filter(F.regexp_extract('k', r'key-(\d+)', 1)
                           .cast('long') < 10_000).count()
    assert members == 5_000
    # fresh side contains only non-members (no false negatives)
    assert fresh.filter(F.regexp_extract('k', r'key-(\d+)', 1)
                        .cast('long') < 10_000).count() == 0


def test_bitmap_deterministic(spark, keys_df):
    assert build_bloom(keys_df, 'k') == build_bloom(
        keys_df.repartition(7), 'k')


def test_params_cap():
    with pytest.raises(ValueError):
        bloom_params(_MAX_BITMAP_BYTES)  # 8 B/bit × 10 bits/key >> cap


def _ingest_two_batches(spark, out, bloom_prefilter):
    """Commit batch A, then batch B (50% overlap) in incremental mode;
    returns the committed (url, content_hash, extracted_text) set."""
    from pdf_ai_mapper_spark import checkpoint as cp
    from pdf_ai_mapper_spark.config import EngineConfig
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_pandas
    from pdf_ai_mapper_spark.pipeline import run_extraction

    cfg = EngineConfig(shuffle_partitions=8, output_buckets=8)
    for start in (0, 60):
        stats = run_extraction(
            spark, spark.createDataFrame(web_pages_pandas(120, start=start)),
            out, cfg, dedup_against_output=True,
            bloom_prefilter=bloom_prefilter)
    assert stats['rows_out'] < 120  # the overlap was pruned
    return {tuple(r) for r in cp.read_output(spark, out)
            .select('url', 'content_hash', 'extracted_text').collect()}


def test_incremental_ingest_identical_with_bloom(spark, tmp_path, spy_bloom,
                                                 no_broadcast):
    """E2E: bloom-prefiltered incremental ingest produces the exact
    same committed rows as the plain anti-join path. Broadcast is off,
    so the second batch (the one with a committed table to join)
    builds the Bloom, once, sized from the run's hash count."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_pandas
    plain = _ingest_two_batches(spark, str(tmp_path / 'plain'), False)
    builds = spy_bloom('build_bloom')
    bloomed = _ingest_two_batches(spark, str(tmp_path / 'bloom'), True)
    batch_a_hashes = (spark.createDataFrame(web_pages_pandas(120))
                      .select(F.md5('html')).distinct().count())
    assert [kw.get('expected_keys') for kw in builds] == [batch_a_hashes]
    assert bloomed == plain
    assert len(plain) > 120


def test_over_cap_bloom_falls_back_to_plain_join(spark, tmp_path, spy_bloom,
                                                 monkeypatch, no_broadcast):
    """A hash set too large both to broadcast and for the bitmap cap
    takes the plain join: build_bloom raises, nothing is split, and the
    committed rows equal the plain path's."""
    from pdf_ai_mapper_spark.operators import bloom
    plain = _ingest_two_batches(spark, str(tmp_path / 'plain'), False)
    monkeypatch.setattr(bloom, '_MAX_BITMAP_BYTES', 1)
    builds, splits = spy_bloom('build_bloom'), spy_bloom('bloom_split')
    assert _ingest_two_batches(spark, str(tmp_path / 'cap'), True) == plain
    assert len(builds) == 1 and splits == []


def test_over_cap_collect_falls_back_to_counted_bloom(spark, tmp_path,
                                                     spy_bloom, monkeypatch):
    """A broadcast threshold of 2 hashes (2 × 64 B) below the committed
    distinct set: the capped collect returns its cap + 1 = 3 hashes and
    overflows, so the hashes are counted and the Bloom is built once,
    sized from that count. The committed rows equal the plain join's."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_pandas
    plain = _ingest_two_batches(spark, str(tmp_path / 'plain'), False)
    frame = type(spark.range(1))  # the session's DataFrame class
    collected, real = [], frame.toArrow

    def spy_to_arrow(self):
        table = real(self)
        collected.append(table.num_rows)
        return table
    monkeypatch.setattr(frame, 'toArrow', spy_to_arrow)
    builds = spy_bloom('build_bloom')
    old = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', str(2 * 64))
    try:
        overflow = _ingest_two_batches(spark, str(tmp_path / 'over'), True)
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', old)
    batch_a_hashes = (spark.createDataFrame(web_pages_pandas(120))
                      .select(F.md5('html')).distinct().count())
    assert collected == [3]
    assert [kw.get('expected_keys') for kw in builds] == [batch_a_hashes]
    assert overflow == plain


def test_broadcast_handle_rides_and_releases(spark, keys_df):
    from pdf_ai_mapper_spark.operators.bloom import release_blooms
    bitmap = build_bloom(keys_df, 'k')
    fresh, maybe = bloom_split(keys_df, 'k', bitmap)
    assert fresh._bloom_broadcasts is maybe._bloom_broadcasts
    # the tagged frame both branches filter is persisted, so the source
    # and the Bloom UDF run once per row across several actions
    [tagged] = fresh._bloom_persisted
    assert maybe._bloom_persisted == [tagged]
    assert tagged.storageLevel.useMemory
    fresh.count(), maybe.count()
    release_blooms(fresh)  # must not raise; executor copies dropped
    assert not tagged.storageLevel.useMemory
