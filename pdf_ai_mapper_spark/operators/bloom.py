"""Bloom-filter pre-split for incremental-ingest dedup.

At 100-TB scale the incremental anti-join (new batch vs the committed
corpus, ``pipeline.run_extraction(dedup_against_output=True)``) has a
painful shape: every NEW row — payload included — must shuffle on its
content hash to meet the committed hash set, even though in a healthy
crawl the overwhelming majority of rows are brand new. Spark's runtime
bloom-filter injection (``spark.sql.optimizer.runtime.bloomFilter.*``)
does not apply to LEFT ANTI joins (a bloom can only prune rows that
cannot MATCH — for an anti-join those are exactly the rows you keep),
so we build the split explicitly:

    bloom = build_bloom(committed.select(hash), expected_keys=n)
    definite_new, maybe_dup = bloom_split(batch, hash, bloom)
    result = definite_new UNION (maybe_dup ANTI JOIN committed)

A Bloom "no" is exact → ``definite_new`` rows bypass the join and never
shuffle. A Bloom "maybe" (true dups + ~fpp false positives) still goes
through the exact anti-join, so the final result is byte-identical to
the plain anti-join — the filter moves bytes, never answers. Shuffle
volume drops from 100% of the batch to (dup_rate + fpp).

When the pipeline uses it: ``run_extraction(bloom_prefilter=True)``
counts the n distinct committed hashes once. While n × 64 B fits the
session's ``spark.sql.autoBroadcastJoinThreshold`` it broadcasts the
hash set instead — a broadcast anti-join shuffles no batch row at all
and starts no Python worker — so a Bloom is built only for a hash set
too large to broadcast, sized from that count, and only while its
bitmap fits the cap below (else the plain join).

Construction: standard k-hash Bloom (Bloom 1970, CACM 13(7)) over the
64-bit xxhash of the key column. Bit positions come from the vendored
splitmix64 finalizer (``_splitmix64`` below) applied to hash XOR
per-probe seed, masked to a power-of-two bit count — deterministic
across driver and executors, no RNG. Partial bitmaps (one per
partition, after a shuffle-free coalesce bounds the count at 64) are
OR-reduced with ``treeReduce`` so no single task pulls more than
~8 bitmaps — ~512 MiB per reduce task at the 64 MiB cap, regardless of
how many splits the committed corpus scanned as.

Sizing: m_bits = next power of two ≥ n·bits_per_key (10 bits per
key → fpp ≈ 1%), k = 7. The bitmap must fit in a broadcast (cap
64 MiB ≈ 53M keys at 10 bits); above the cap ``build_bloom`` raises —
callers fall back to the plain anti-join, or shard the corpus and
build one bloom per shard. The reference has no incremental mode at
all (it re-reads its whole JSON index per upload,
app/core/document_storage.py:59-74); this operator exists for the
100-TB deployment the north rule targets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from typing import Iterator, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SM64_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM64_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM64_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vendored splitmix64 finalizer (Steele et al., OOPSLA 2014 —
    public domain), vectorized over uint64. Deterministic everywhere;
    uint64 arithmetic wraps, which is the intended mod-2^64 math."""
    with np.errstate(over='ignore'):
        z = x + _SM64_GAMMA
        z = (z ^ (z >> np.uint64(30))) * _SM64_M1
        z = (z ^ (z >> np.uint64(27))) * _SM64_M2
        return z ^ (z >> np.uint64(31))


_BITS_PER_KEY = 10
_NUM_PROBES = 7  # ≈ 0.69 · bits_per_key, optimal for 10 bits/key
_MAX_BITMAP_BYTES = 64 << 20

# fixed probe seeds (any distinct constants work; these are the first
# _NUM_PROBES outputs of splitmix64(1..k) for documentation's sake)
_PROBE_SEEDS = _splitmix64(np.arange(1, _NUM_PROBES + 1, dtype=np.uint64))


def _positions(h: np.ndarray, m_bits: int) -> np.ndarray:
    """(n,) uint64 hashes → (k, n) bit positions in [0, m_bits)."""
    mask = np.uint64(m_bits - 1)
    return np.stack([_splitmix64(h ^ seed) & mask for seed in _PROBE_SEEDS])


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, (pos >> 3).astype(np.int64),
                     np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)))


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(k, n) positions → (n,) bool: all k bits set."""
    byte = bitmap[(pos >> 3).astype(np.int64)]
    bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
    return ((byte & bit) != 0).all(axis=0)


def bloom_params(expected_keys: int) -> int:
    """Bitmap size in bits: next power of two ≥ n·_BITS_PER_KEY (the
    power-of-two constraint turns the mod into a mask)."""
    m = 1 << max(10, int(expected_keys * _BITS_PER_KEY - 1).bit_length())
    if m // 8 > _MAX_BITMAP_BYTES:
        raise ValueError(
            f"bloom bitmap {m // 8} B exceeds the {_MAX_BITMAP_BYTES} B "
            f"broadcast cap ({expected_keys} keys); fall back to the "
            f"plain anti-join or shard the committed corpus")
    return m


def build_bloom(df: DataFrame, key_col: str,
                expected_keys: int | None = None) -> bytes:
    """Build a Bloom bitmap over ``key_col`` (any hashable SQL type;
    hashed JVM-side with xxhash64 so only 8 B/row leaves the scan).

    Returns the bitmap as bytes. The bitmap itself is one Spark job,
    plus one per shuffle stage AQE materialises in ``df``'s plan (a
    ``distinct`` adds one); leaving ``expected_keys`` to be counted
    here adds the count's jobs too — three for a ``distinct`` under
    AQE — so pass a count the caller already has."""
    if expected_keys is None:
        expected_keys = df.count()
    m_bits = bloom_params(max(1, expected_keys))
    m_bytes = m_bits // 8

    hashes = df.select(F.xxhash64(key_col).alias('__h'))

    def part_bitmap(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bitmap = np.zeros(m_bytes, dtype=np.uint8)
        for pdf in batches:
            h = pdf['__h'].to_numpy().astype(np.int64).view(np.uint64)
            _set_bits(bitmap, _positions(h, m_bits))
        yield pd.DataFrame({'bitmap': [bitmap.tobytes()]})

    # bound the number of full-size partials (coalesce is shuffle-free),
    # then tree-reduce so no task pulls more than ~branching bitmaps —
    # a flat repartition(1) OR-reduce would funnel P × m_bytes into ONE
    # reducer (64 GiB at P=1000 and the cap)
    partials = (hashes.coalesce(64)
                .mapInPandas(part_bitmap, schema='bitmap binary'))
    acc = (partials.rdd
           .map(lambda row: np.frombuffer(row['bitmap'], dtype=np.uint8))
           .treeReduce(lambda a, b: np.bitwise_or(a, b), depth=2))
    return acc.tobytes()


def might_contain_col(df: DataFrame, key_col: str, bitmap: bytes) -> DataFrame:
    """Append the boolean column ``__bloom_maybe``: Bloom membership
    of ``key_col``.
    The bitmap ships ONCE per executor via an explicit broadcast (not
    per-task closure capture). The broadcast handle rides on the result
    as ``_bloom_broadcasts`` — call :func:`release_blooms` once the
    result is materialized, or up to ``len(bitmap)`` bytes stay pinned
    on every executor for the session lifetime."""
    m_bits = len(bitmap) * 8
    bc = df.sparkSession.sparkContext.broadcast(bitmap)

    @F.pandas_udf('boolean')
    def maybe(h: pd.Series) -> pd.Series:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        hv = h.to_numpy().astype(np.int64).view(np.uint64)
        return pd.Series(_test_bits(bm, _positions(hv, m_bits)))

    out = df.withColumn('__bloom_maybe', maybe(F.xxhash64(key_col)))
    out._bloom_broadcasts = [bc]
    return out


def release_blooms(df: DataFrame) -> None:
    """Unpersist the bitmap broadcasts behind a ``might_contain_col`` /
    ``bloom_split`` result, and the tagged frame ``bloom_split``
    persisted (mirrors ``dedup.release``)."""
    for tagged in getattr(df, '_bloom_persisted', ()):
        tagged.unpersist()
    for bc in getattr(df, '_bloom_broadcasts', ()):
        bc.unpersist()


def bloom_split(df: DataFrame, key_col: str,
                bitmap: bytes) -> Tuple[DataFrame, DataFrame]:
    """(definite_new, maybe_present) split of ``df`` by Bloom
    membership of ``key_col``. ``definite_new`` is exact (no false
    negatives by construction); ``maybe_present`` needs the exact
    join. Both sides keep the original schema and carry the handles
    for :func:`release_blooms`.

    The two branches are filters over ONE tagged plan, persisted here:
    a consumer that unions them back and runs several actions would
    otherwise re-evaluate the source and the Bloom UDF per branch per
    action. Split only the small side (the incremental batch) — the
    committed corpus must never be cached or shuffled."""
    tagged = might_contain_col(df, key_col, bitmap).persist()
    fresh = tagged.filter(~F.col('__bloom_maybe')).drop('__bloom_maybe')
    maybe = tagged.filter(F.col('__bloom_maybe')).drop('__bloom_maybe')
    for side in (fresh, maybe):
        side._bloom_broadcasts = tagged._bloom_broadcasts
        side._bloom_persisted = [tagged]
    return fresh, maybe
