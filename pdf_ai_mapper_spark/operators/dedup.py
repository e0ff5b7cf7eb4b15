"""Deduplication operators: exact first-seen dedup and the near-dup
chain.

Exact dedup re-expresses the reference's first-seen-wins semantics
(``filter_manager.py:70-97`` at search; ``document_storage.py:105-138``
destructive) as a rank-1 window — a single hash shuffle on
``content_hash`` instead of the reference's O(n²) scan.  Rows with a
NULL hash are always kept (reference :80-82).  ``dedup_exact`` is the
operator for arbitrary frames; engine-written tables carry the same
fact as the ``is_duplicate`` flag settled at commit time
(``pipeline.transform``), which search and cleanup read instead.

Near-dup clustering is one chain: ``minhash_lsh_pairs`` (MinHash
signatures, banded LSH, verified by estimated Jaccard) →
``connected_components`` (pairs to clusters) →
``keep_best_per_cluster`` (one survivor per cluster).
``minhash_index_update`` is the incremental form of the first step,
against a persistent band index.  Shingling and banding are native
Catalyst expressions; the only Python is the vectorized signature
UDF.  The LSH band join is the only shuffle whose keys are
content-derived; band buckets bound the candidate-pair blowup.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------- exact dedup

def dedup_exact(df: DataFrame,
                hash_col: str = 'content_hash',
                order_cols: tuple[str, ...] = ('warc_ts', 'url')) -> DataFrame:
    """Survivor set (D2/D3): the first-seen row per hash in
    ``order_cols`` order (rank 1 of a row_number window); NULL hashes
    exempt (reference filter_manager.py:80-82)."""
    w = Window.partitionBy(hash_col).orderBy(*[F.col(c).asc() for c in order_cols])
    return (df.withColumn('dup_rank', F.row_number().over(w))
            .filter(F.col(hash_col).isNull() | (F.col('dup_rank') == 1))
            .drop('dup_rank'))


def release(df: DataFrame) -> None:
    """Unpersist the cached tables backing a DataFrame returned by
    ``minhash_lsh_pairs`` or ``connected_components``. Call once the
    result has been materialized (collect/write) — repeated calls in a
    long-lived session (bench loops, repeated queries) otherwise
    accumulate MEMORY_AND_DISK tables."""
    for dep in getattr(df, '_persisted_deps', ()):
        dep.unpersist()


# --------------------------------------------------------------- shingling

def with_shingles(df: DataFrame, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per row, via native higher-order
    functions (no UDF): k shifted slices of the token array zipped into
    shingle strings — O(n) per row with exactly k split() evaluations.

    Why this shape: expressions referenced inside HOF lambdas are NOT
    common-subexpression-eliminated on the interpreted path, so a
    per-offset formulation (element_at/slice inside transform) re-ran
    split() for every element — observed as jstack-verified O(n²)
    StringSplit.eval dominating a 20k-doc signature job."""
    toks = F.split(F.lower(F.col(text_col)), r'\s+')
    n = F.size(toks)
    m = n - F.lit(k - 1)  # shingle count when n >= k
    parts = [F.slice(toks, j + 1, F.greatest(m, F.lit(0))) for j in range(k)]
    sh = parts[0]
    for p in parts[1:]:
        sh = F.zip_with(sh, p, lambda a, b: F.concat(a, F.lit(' '), b))
    return df.withColumn(
        'shingles',
        F.when(n >= k, F.array_distinct(sh)).otherwise(F.array()),
    )


# --------------------------------------------------------------- MinHash LSH

_MERSENNE31 = (1 << 31) - 1


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic Carter-Wegman (a, b) pairs from a fixed LCG —
    no RNG state, identical on every executor."""
    params = []
    x = 0x9E3779B1  # golden-ratio seed
    for _ in range(num_hashes):
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
        a = (x % (_MERSENNE31 - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
        b = x % _MERSENNE31
        params.append((a, b))
    return params


# A partition fed under ~32 KiB of source bytes cannot amortize the
# spread's repartition round trip (measured at sf0.1: unconditional
# spreads cost 0.2-0.7 s there while per-split work is milliseconds);
# any real corpus clears this by orders of magnitude.
_SPREAD_MIN_BYTES_PER_PART = 32 * 1024


def _ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Spread a one-split scan input to ``defaultParallelism``
    partitions before per-row-heavy map work; NO-OP when the plan
    already has that many partitions, or when the plan's estimated
    size would give each target partition under
    ``_SPREAD_MIN_BYTES_PER_PART`` source bytes.

    A parquet file with one row group scans as ONE task regardless of
    ``spark.sql.files.maxPartitionBytes`` (byte-range splits assign row
    groups whole), so every pre-shuffle map stage over it serializes
    onto one core. A 100 TB table scans as thousands of splits, so the
    guard never fires there and never adds a shuffle. Plain round-robin
    ``repartition(n)`` (sort-based, deterministic under task retries)
    — no key, so no pmod-rehash occupancy loss.

    Apply to SCAN-STAGE inputs only: the partition probe reads the
    pre-execution plan (``df.rdd.getNumPartitions()``), which for a
    mid-plan DataFrame reports the pre-AQE shuffle partition count."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if target <= 1 or df.rdd.getNumPartitions() >= target:
        return df
    try:
        est = int(df._jdf.queryExecution().optimizedPlan()
                  .stats().sizeInBytes())
    except Exception:
        est = None   # unknown size: be conservative, spread
    if est is not None and est < _SPREAD_MIN_BYTES_PER_PART * target:
        return df
    return df.repartition(target)


# word k-gram size of the shingles a MinHash signature is taken over
_SHINGLE_K = 3


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64) -> DataFrame:
    """(id, sig: array<bigint>) — num_hashes min-hash values per doc,
    over the doc's ``_SHINGLE_K``-word shingles.

    Entirely map-side — NO shuffle: shingles and their base hashes are
    per-row arrays, and each of the num_hashes signature slots is an
    ``array_min`` over an affine permutation ``(a_i·h + b_i) mod
    (2³¹−1)`` of the base hashes (Carter-Wegman universal hashing, as
    in the classic MinHash literature). One xxhash64 per shingle —
    64× cheaper than hashing the string per permutation — and
    overflow-safe under Spark 4's default ANSI arithmetic (h reduced
    mod 2³¹−1 first, so a·h < 2⁶²). The earlier explode + 64-way
    groupBy formulation shuffled |docs|·|shingles| rows; this one
    shuffles nothing.

    Spread via _ensure_min_parallelism since round 8: the r7 "not worth
    it" call was tuned at sf0.1 (17 MB scan, ~2.8 s of work); at sf1.0
    the single-row-group documents scan serialized ~11 s of shingle +
    signature work onto one core while every downstream stage blocked
    on the cache lock (measured: q_minhash 14.9 s → 4.3 s from the
    spread alone). The row-empty gate is the CHEAP equivalent predicate
    ``n_tokens >= _SHINGLE_K`` (one split) instead of
    ``size(shingles) > 0``: filter pushdown sinks the predicate below
    the spread exchange into the scan, and the expensive form
    re-evaluates the whole shingle expression there, serially (the
    ngram round-8 lesson)."""
    n_toks = F.size(F.split(F.lower(F.col(text_col)), r'\s+'))
    base_in = _ensure_min_parallelism(
        df.select(id_col, text_col).filter(n_toks >= F.lit(_SHINGLE_K)))
    shingled = with_shingles(base_in, text_col, _SHINGLE_K)
    base = F.transform(F.col('shingles'),
                       lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE31)))
    shingled = shingled.withColumn('__h', base)
    # the 64 affine-min reductions as one vectorized numpy batch op
    # (Arrow-transferred array<long> in/out) — the interpreted HOF
    # evaluation of 64 transform+array_min passes is measurably slower
    return shingled.select(
        id_col, _numpy_sig_udf(num_hashes)(F.col('__h')).alias('sig'))


def _numpy_sig_udf(num_hashes: int):
    """Pandas UDF factory: per-row base-hash array → signature via one
    (num_hashes × n_shingles) numpy broadcast + min along axis 1.
    Overflow-safe: a, h < 2³¹ → a·h < 2⁶² fits int64."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    params = _affine_params(num_hashes)

    @pandas_udf(ArrayType(LongType()))
    def sig_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np
        A = np.array([a for a, _ in params], dtype=np.int64)[:, None]
        B = np.array([b for _, b in params], dtype=np.int64)[:, None]
        for hs in batches:
            out = []
            for h in hs:
                arr = np.asarray(h, dtype=np.int64)[None, :]
                out.append(((A * arr + B) % _MERSENNE31).min(axis=1))
            yield pd.Series(out)

    return sig_udf


# band buckets above this size expand as a star (minhash_lsh_pairs);
# the incremental index joins at most this many stored members of a
# bucket to each new doc (minhash_index_update)
_MAX_BUCKET_SIZE = 64


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, bands: int = 16,
                      jaccard_threshold: float = 0.5) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by estimated
    Jaccard = fraction of agreeing minhashes. Returns (id_a, id_b,
    jaccard_est) with id_a < id_b.

    Skew guard: a band bucket with B members yields B² join rows —
    template-heavy corpora produce buckets of thousands (measured:
    2500-doc buckets on the synthetic fixture → a quadratic join that
    never finishes). Buckets larger than ``_MAX_BUCKET_SIZE`` are
    expanded as a STAR instead: every member pairs with the bucket's
    minimum id only. That keeps dup-cluster discovery (connected
    components through the hub) while bounding work linearly in bucket
    size — the standard production dedup trick. No silent truncation:
    star-expanded pairs still verify against the full signature."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes)
    # sig feeds three branches (band table + both verify joins); without
    # persistence the whole shingle+permutation computation runs 3×
    # (measured: it dominated the job). At cluster scale this is the
    # "materialize the signature table once" step — swap the persist
    # for a parquet/Iceberg write of `sig` on 100 TB corpora.
    from pyspark.storagelevel import StorageLevel
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)

    # NARROW blocking table: (id, band, band_key) only — the 64-long
    # signature arrays must not ride through the window/join shuffles
    # (they multiplied shuffle bytes ~25× and halved scaling); they are
    # re-attached per-id to the (few) surviving candidate pairs below.
    band = sig.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias('band'),
        'sig',
    ).select(
        id_col, 'band',
        F.xxhash64(
            F.col('band'),
            F.concat_ws(',', F.transform(
                F.slice('sig', F.col('band') * rows + 1, rows),
                lambda v: v.cast('string')))).alias('band_key'),
    )
    w = Window.partitionBy('band', 'band_key')
    band = (band
            .withColumn('__bsz', F.count('*').over(w))
            .withColumn('__hub', F.min(id_col).over(w)))
    small = band.filter(F.col('__bsz') <= _MAX_BUCKET_SIZE)
    big = band.filter(F.col('__bsz') > _MAX_BUCKET_SIZE)

    a = small.select(F.col(id_col).alias('id_a'), 'band', 'band_key')
    b = small.select(F.col(id_col).alias('id_b'), 'band', 'band_key')
    dense = (a.join(b, on=['band', 'band_key'])
             .filter(F.col('id_a') < F.col('id_b'))
             .select('id_a', 'id_b'))

    # star expansion for oversized buckets: (hub, member) pairs only
    star = (big.filter(F.col(id_col) != F.col('__hub'))
            .select(F.col('__hub').alias('id_a'), F.col(id_col).alias('id_b')))

    pairs = dense.unionByName(star).dropDuplicates(['id_a', 'id_b'])
    sig_a = sig.select(F.col(id_col).alias('id_a'), F.col('sig').alias('sig_a'))
    sig_b = sig.select(F.col(id_col).alias('id_b'), F.col('sig').alias('sig_b'))
    pairs = pairs.join(sig_a, 'id_a').join(sig_b, 'id_b')
    agree = F.size(F.filter(
        F.zip_with('sig_a', 'sig_b', lambda x, y: x == y),
        lambda m: m,
    ))
    result = (pairs
              .withColumn('jaccard_est', agree / F.lit(float(num_hashes)))
              .filter(F.col('jaccard_est') >= jaccard_threshold)
              .select('id_a', 'id_b', 'jaccard_est'))
    result._persisted_deps = [sig]  # for release() once materialized
    return result


# -------------------------------------------- near-dup cluster resolution

def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Resolve near-dup PAIRS (id_a, id_b — the ``minhash_lsh_pairs``
    columns) into duplicate CLUSTERS: (node, component) where
    ``component`` is the minimum node id reachable through the pair
    graph — the canonical survivor every production dedup keeps while
    dropping the rest of its cluster (the reference deletes one
    duplicate at a time, app/api/management.py; at corpus scale the
    transitive closure is what you actually delete against).

    Iterative min-label propagation: each round every node takes the
    minimum of its neighbors' labels over the self-loop-augmented edge
    table — the standard MapReduce/Pregel formulation (Kiveris et al.
    2014 survey this family; label propagation is their HASH-MIN
    baseline). The self-loops make the round ONE join + ONE aggregate
    that references the previous labels exactly once, so the logical
    plan grows linearly in rounds (the naive own-vs-neighbor
    formulation references labels twice per round — exponential plan
    growth that OOMs the driver in plan stringification long before
    execution is a problem), and ``localCheckpoint`` every 10 rounds
    truncates it outright. Converges in O(diameter) rounds; near-dup
    graphs are hub-shaped (bucket star expansion bounds eccentricity),
    so the loop is short in practice — the ``max_iter`` guard raises
    rather than silently returning a partial closure. Per round: one
    shuffle of the narrow (node, label) table on node id (the
    persisted edge table reuses its partitioning) and one count()
    action for convergence.

    Only nodes that appear in ``pairs`` are returned (singletons are
    their own component trivially)."""
    src = pairs.select(F.col('id_a').alias('node'), F.col('id_b').alias('peer'))
    # persist the symmetric edge table FIRST and derive everything else
    # from the cache: without it, labels (via nodes via edges) and both
    # union branches of sym each re-evaluate `pairs` — three runs of a
    # potentially expensive pair-generating job before the loop starts
    edges = (src.unionByName(src.select(F.col('peer').alias('node'),
                                        F.col('node').alias('peer')))
             .distinct()
             .persist())
    edges.count()  # materialize: `pairs` evaluates exactly once
    nodes = edges.select('node').distinct()
    sym = (edges.unionByName(nodes.withColumn('peer', F.col('node')))
           .persist())  # symmetric + self-loops: min over N(v) ∪ {v}

    labels = nodes.withColumn('component', F.col('node')).persist()
    labels.count()

    for it in range(max_iter):
        new_labels = (sym.alias('e')
                      .join(labels.alias('l'),
                            F.col('e.peer') == F.col('l.node'))
                      .groupBy(F.col('e.node').alias('node'))
                      .agg(F.min(F.col('l.component')).alias('component')))
        if (it + 1) % 10 == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        new_labels = new_labels.persist()
        changed = (new_labels.alias('n')
                   .join(labels.alias('o'), on='node')
                   .filter(F.col('n.component') != F.col('o.component'))
                   .count())
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        edges.unpersist()
        sym.unpersist()
        labels.unpersist()
        raise RuntimeError(
            f'connected_components did not converge in {max_iter} rounds')

    edges.unpersist()
    sym.unpersist()
    labels._persisted_deps = [labels]  # for release() once materialized
    return labels


def keep_best_per_cluster(docs: DataFrame, components: DataFrame,
                          id_col: str = 'doc_id',
                          order_by: tuple[str, ...] = ('n_chars',)
                          ) -> DataFrame:
    """Act on resolved near-dup clusters: keep exactly ONE document per
    cluster — the best by ``order_by`` (descending, exact-integer
    columns recommended), ties broken by ascending ``id_col`` — and
    every unclustered document untouched. The policy production
    pipelines actually want is usually not min-id (the
    connected_components label) but best-quality/longest; this
    separates the graph resolution from the keep policy.

    Scale shape: the ranking window runs over a NARROW projection —
    (id, component, order keys only), i.e. the clustered subset, which
    at corpus scale is a small fraction of the table (duplicate
    clusters, not the corpus). Document payloads never ride the window
    exchange; the final step is one left-anti join of docs against the
    loser id set (ids only). Returns docs' full schema unchanged."""
    comp = components.select(F.col('node').alias(id_col), 'component')
    w = Window.partitionBy('component').orderBy(
        *[F.desc(c) for c in order_by], F.asc(id_col))
    losers = (comp.join(docs.select(id_col, *order_by), on=id_col)
              .withColumn('__rk', F.row_number().over(w))
              .filter(F.col('__rk') > 1)
              .select(id_col))
    return docs.join(losers, on=id_col, how='left_anti')


# ---------------------------------------------- incremental MinHash index

# the index's signature length, LSH bands and verify threshold (the
# threshold is stricter than minhash_lsh_pairs' default 0.5)
_INDEX_NUM_HASHES = 64
_INDEX_BANDS = 16
_INDEX_JACCARD_THRESHOLD = 0.8


def minhash_index_update(spark, new_df: DataFrame, index_path: str,
                         id_col: str, text_col: str,
                         batch_id: str) -> DataFrame:
    """Incremental near-dup detection against a PERSISTENT signature
    index — the production shape at corpus scale, where re-running
    ``minhash_lsh_pairs`` over 10^12 committed docs per new crawl batch
    is a non-starter. The new batch alone is signed (map-side only);
    its band keys semi-select the touched buckets of the stored band
    table, candidates verify against stored signatures, and the
    batch's own band rows are appended — so per-batch cost scales with
    the BATCH (plus touched-bucket fan-out), not the corpus.

    Index layout: parquet at ``index_path``, one row per (id, band)
    with columns (id, band, band_key, sig), written under
    ``batch_id=<batch_id>/`` so a crashed-and-retried batch OVERWRITES
    its own subdir instead of duplicating rows (same idempotence
    contract as the pipeline's per-batch sink). At 100 TB the table
    would be Iceberg, bucketed by (band, band_key) so the candidate
    join co-locates with the index layout.

    Skew guard: only buckets the new batch TOUCHES are read; within a
    touched bucket the stored members joined to each new doc are
    capped at ``_MAX_BUCKET_SIZE`` lowest ids (deterministic) — a
    template bucket with 10^6 members cannot explode a batch join.
    Returns (id_a, id_b, jaccard_est) pairs where at least one side is
    new; on an uncapped-bucket corpus this equals the full-recompute
    pair set restricted to pairs touching the batch (pinned by
    tests/test_minhash_index.py)."""
    rows = _INDEX_NUM_HASHES // _INDEX_BANDS
    sig = minhash_signatures(new_df, id_col, text_col, _INDEX_NUM_HASHES)
    from pyspark.storagelevel import StorageLevel
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)

    band_rows = sig.select(
        F.col(id_col).alias('id'),
        F.explode(F.sequence(F.lit(0), F.lit(_INDEX_BANDS - 1)))
        .alias('band'),
        'sig',
    ).select(
        'id', 'band', 'sig',
        F.xxhash64(
            F.col('band'),
            F.concat_ws(',', F.transform(
                F.slice('sig', F.col('band') * rows + 1, rows),
                lambda v: v.cast('string')))).alias('band_key'),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    from pyspark.errors import AnalysisException

    from .. import checkpoint as _cp
    try:
        stored = spark.read.parquet(index_path)
        stored = stored.filter(F.col('batch_id') != batch_id)  # retry safety
    except AnalysisException as e:
        # missing path OR an existing-but-empty dir (UNABLE_TO_INFER_
        # SCHEMA) both mean "no index yet"; anything else must surface
        if not (_cp.is_missing_path_error(e)
                or 'UNABLE_TO_INFER_SCHEMA' in str(e)):
            raise
        stored = None  # first batch — empty index

    new_keys = band_rows.select('band', 'band_key').distinct()
    sides = [band_rows.select('id', 'band', 'band_key')]
    if stored is not None:
        touched = (stored.join(new_keys, on=['band', 'band_key'],
                               how='left_semi'))
        w = Window.partitionBy('band', 'band_key').orderBy('id')
        touched = (touched
                   .withColumn('__rn', F.row_number().over(w))
                   .filter(F.col('__rn') <= _MAX_BUCKET_SIZE)
                   .select('id', 'band', 'band_key'))
        sides.append(touched)
    all_rows = sides[0] if len(sides) == 1 else sides[0].unionByName(sides[1])

    a = band_rows.select(F.col('id').alias('id_a'), 'band', 'band_key')
    b = all_rows.select(F.col('id').alias('id_b'), 'band', 'band_key')
    cand = (a.join(b, on=['band', 'band_key'])
            .filter(F.col('id_a') != F.col('id_b'))
            .select(F.least('id_a', 'id_b').alias('id_a'),
                    F.greatest('id_a', 'id_b').alias('id_b'))
            .dropDuplicates(['id_a', 'id_b']))

    # signature lookup: new-batch sigs from this run, stored sigs from
    # the index (one row per (id, band) — collapse to one per id)
    new_sigs = sig.select(F.col(id_col).alias('id'), 'sig')
    if stored is not None:
        # max_by(batch_id): when the same id was indexed in multiple
        # batches with different text (re-crawl), deterministically keep
        # the LATEST batch's signature — F.first() here varied run to
        # run (ADVICE r3). Contract: batch_ids sort increasing in time.
        old_sigs = (stored.groupBy('id')
                    .agg(F.max_by('sig', 'batch_id').alias('sig')))
        lookup = new_sigs.unionByName(old_sigs).dropDuplicates(['id'])
    else:
        lookup = new_sigs
    sig_a = lookup.select(F.col('id').alias('id_a'), F.col('sig').alias('sig_a'))
    sig_b = lookup.select(F.col('id').alias('id_b'), F.col('sig').alias('sig_b'))
    agree = F.size(F.filter(
        F.zip_with('sig_a', 'sig_b', lambda x, y: x == y), lambda m: m))
    result = (cand.join(sig_a, 'id_a').join(sig_b, 'id_b')
              .withColumn('jaccard_est',
                          agree / F.lit(float(_INDEX_NUM_HASHES)))
              .filter(F.col('jaccard_est') >= _INDEX_JACCARD_THRESHOLD)
              .select('id_a', 'id_b', 'jaccard_est'))
    result = result.localCheckpoint()  # materialize BEFORE the append below

    # hive-style subdir: batch_id comes back as the inferred partition
    # column on read, so the files themselves must NOT carry it
    (band_rows.write.mode('overwrite')
     .parquet(f'{index_path}/batch_id={batch_id}'))
    sig.unpersist()
    band_rows.unpersist()
    return result
