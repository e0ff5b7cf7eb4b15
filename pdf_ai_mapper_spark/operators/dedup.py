"""Deduplication operators (D1-D4 + the training-data-pipeline family).

Exact dedup re-expresses the reference's first-seen-wins semantics
(``filter_manager.py:70-97`` at search; ``document_storage.py:105-138``
destructive) as a rank-1 window — a single hash shuffle on
``content_hash`` instead of the reference's O(n²) scan.  Rows with a
NULL hash are always kept (reference :80-82).  ``dedup_exact`` is the
operator for arbitrary frames; engine-written tables carry the same
fact as the ``is_duplicate`` flag settled at commit time
(``pipeline.transform``), which search and cleanup read instead.

Near-dup family (MinHash+LSH, SimHash, n-gram Jaccard) is built
entirely from native Catalyst expressions — explode / xxhash64 /
groupBy / bit ops — no Python UDFs, so every stage is whole-stage
codegen'd and map-side-combined.  At 100 TB the LSH band join is the
only shuffle whose keys are content-derived; band buckets bound the
candidate-pair blowup.
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
    """Unpersist the cached signature tables backing a pairs DataFrame
    returned by ``minhash_lsh_pairs`` / ``simhash_near_pairs``. Call
    once the result has been materialized (collect/write) — repeated
    calls in a long-lived session (bench loops, repeated queries)
    otherwise accumulate MEMORY_AND_DISK tables."""
    for dep in getattr(df, '_persisted_deps', ()):
        dep.unpersist()


# --------------------------------------------------------------- shingling

def with_shingles(df: DataFrame, text_col: str, k: int = 3,
                  out_col: str = 'shingles') -> DataFrame:
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
        out_col,
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


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, k: int = 3) -> DataFrame:
    """(id, sig: array<bigint>) — num_hashes min-hash values per doc.

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

    Spread via ensure_min_parallelism since round 8: the r7 "not worth
    it" call was tuned at sf0.1 (17 MB scan, ~2.8 s of work); at sf1.0
    the single-row-group documents scan serialized ~11 s of shingle +
    signature work onto one core while every downstream stage blocked
    on the cache lock (measured: q_minhash 14.9 s → 4.3 s from the
    spread alone). The row-empty gate is the CHEAP equivalent predicate
    ``n_tokens >= k`` (one split) instead of ``size(shingles) > 0``:
    filter pushdown sinks the predicate below the spread exchange into
    the scan, and the expensive form re-evaluates the whole shingle
    expression there, serially (the ngram round-8 lesson)."""
    from .skew import SPREAD_MIN_BYTES_PER_PART, ensure_min_parallelism
    n_toks = F.size(F.split(F.lower(F.col(text_col)), r'\s+'))
    base_in = ensure_min_parallelism(
        df.select(id_col, text_col).filter(n_toks >= F.lit(k)),
        min_bytes_per_part=SPREAD_MIN_BYTES_PER_PART)
    shingled = with_shingles(base_in, text_col, k)
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


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 64, bands: int = 16, k: int = 3,
                      jaccard_threshold: float = 0.5,
                      max_bucket_size: int = 64) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified by estimated
    Jaccard = fraction of agreeing minhashes. Returns (id_a, id_b,
    jaccard_est) with id_a < id_b.

    Skew guard: a band bucket with B members yields B² join rows —
    template-heavy corpora produce buckets of thousands (measured:
    2500-doc buckets on the synthetic fixture → a quadratic join that
    never finishes). Buckets larger than ``max_bucket_size`` are
    expanded as a STAR instead: every member pairs with the bucket's
    minimum id only. That keeps dup-cluster discovery (connected
    components through the hub) while bounding work linearly in bucket
    size — the standard production dedup trick. No silent truncation:
    star-expanded pairs still verify against the full signature."""
    rows = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k)
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
    small = band.filter(F.col('__bsz') <= max_bucket_size)
    big = band.filter(F.col('__bsz') > max_bucket_size)

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


# --------------------------------------------------------------- SimHash

def with_simhash(df: DataFrame, id_col: str, text_col: str,
                 bits: int = 64) -> DataFrame:
    """64-bit SimHash per doc from token hashes (Charikar, STOC 2002).

    Token hashes are a per-row array (native xxhash64 transform — no
    explode, no shuffle), and the 64 signed bit-sums + sign-pack run as
    one vectorized numpy batch op."""
    # spread + cheap pushable row-empty gate (rlike '\S' ⟺ at least
    # one non-empty token under the same Java \s class the split
    # uses): same round-8 rationale as minhash_signatures — the
    # expensive size(filter(split..)) > 0 form would be pushed below
    # the spread exchange and re-tokenize the corpus serially in the
    # single-row-group scan stage.
    from .skew import SPREAD_MIN_BYTES_PER_PART, ensure_min_parallelism
    df = ensure_min_parallelism(
        df.filter(F.col(text_col).rlike(r'\S')),
        min_bytes_per_part=SPREAD_MIN_BYTES_PER_PART)
    toks = F.filter(F.split(F.lower(F.col(text_col)), r'\s+'),
                    lambda t: F.length(t) > 0)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return (df.select(id_col, hashes.alias('__h'))
            .select(id_col, _numpy_simhash_udf(bits)(F.col('__h')).alias('simhash')))


def _numpy_simhash_udf(bits: int):
    """Pandas UDF factory: per-row token-hash array → packed simhash.
    Bit b of each uint64 hash contributes ±1; sum ≥ 0 sets bit b."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def sim_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np
        shifts = np.arange(bits, dtype=np.uint64)
        for hs in batches:
            out = []
            for h in hs:
                arr = np.asarray(h, dtype=np.int64).astype(np.uint64)
                bitsm = ((arr[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
                sums = (bitsm * 2 - 1).sum(axis=0)
                packed = np.bitwise_or.reduce(
                    (sums >= 0).astype(np.uint64) << shifts)
                # two's-complement view back into Spark's signed long
                out.append(np.array([packed], dtype=np.uint64)
                           .view(np.int64)[0])
            yield pd.Series(out, dtype='int64')

    return sim_udf


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3,
                       max_bucket_size: int = 64) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, blocked on 16-bit
    chunks (pigeonhole: distance ≤3 → at least one of 4 chunks equal),
    so the join is equi-key, not a cross product. Oversized blocks get
    the same star expansion as minhash_lsh_pairs (see there) to bound
    the quadratic blowup on template-heavy corpora."""
    from pyspark.storagelevel import StorageLevel
    # consumed by the chunk table AND the hub join — persist, or the
    # 64-way signed-bit aggregation runs twice (cf. minhash_lsh_pairs).
    # with_simhash spreads its input since round 8 (the r7 "spread not
    # worth it" reading was tuned at sf0.1; at sf1.0 the one-row-group
    # scan serialized the token-hash + packing work onto one core).
    sh = with_simhash(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    chunks = sh.select(
        id_col, 'simhash',
        F.explode(F.array(*[
            F.struct(F.lit(c).alias('chunk'),
                     F.shiftrightunsigned('simhash', 16 * c)
                      .bitwiseAND(F.lit(0xFFFF)).alias('key'))
            for c in range(4)
        ])).alias('blk'),
    ).select(id_col, 'simhash', F.col('blk.chunk').alias('chunk'),
             F.col('blk.key').alias('key'))
    w = Window.partitionBy('chunk', 'key')
    chunks = (chunks
              .withColumn('__bsz', F.count('*').over(w))
              .withColumn('__hub', F.min(id_col).over(w)))
    small = chunks.filter(F.col('__bsz') <= max_bucket_size)
    big = chunks.filter(F.col('__bsz') > max_bucket_size)

    a = small.select(F.col(id_col).alias('id_a'), F.col('simhash').alias('sh_a'),
                     'chunk', 'key')
    b = small.select(F.col(id_col).alias('id_b'), F.col('simhash').alias('sh_b'),
                     'chunk', 'key')
    dense = (a.join(b, on=['chunk', 'key'])
             .filter(F.col('id_a') < F.col('id_b'))
             .select('id_a', 'sh_a', 'id_b', 'sh_b'))
    hub_sh = sh.select(F.col(id_col).alias('__hub'), F.col('simhash').alias('sh_a'))
    star = (big.filter(F.col(id_col) != F.col('__hub'))
            .select('__hub', F.col(id_col).alias('id_b'), F.col('simhash').alias('sh_b'))
            .join(hub_sh, on='__hub')
            .select(F.col('__hub').alias('id_a'), 'sh_a', 'id_b', 'sh_b'))
    result = (dense.unionByName(star)
              .dropDuplicates(['id_a', 'id_b'])
              .withColumn('hamming', F.bit_count(F.col('sh_a').bitwiseXOR(F.col('sh_b'))))
              .filter(F.col('hamming') <= max_hamming)
              .select('id_a', 'id_b', 'hamming'))
    result._persisted_deps = [sh]  # for release() once materialized
    return result


# --------------------------------------------------------------- Jaccard

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, threshold: float = 0.5,
                        max_shingle_df: int = 256) -> DataFrame:
    """Exact n-gram Jaccard similarity, blocked through RARE shingles:
    candidate pairs must share at least one shingle whose corpus
    document frequency is ≤ ``max_shingle_df``; the Jaccard value
    itself is exact over the FULL shingle sets (native array_intersect
    on the re-attached per-doc arrays).

    The df cap is the scale guard: without it a corpus-common shingle
    (boilerplate, templates) produces df² self-join rows. Capping only
    the BLOCKING side keeps the similarity exact — a pair above a
    meaningful threshold shares many shingles, so losing the common
    ones as join keys doesn't lose the pair (a pair is missed only if
    ALL its shared shingles exceed the cap). This contract is mirrored
    exactly by the DuckDB oracle in queries.py (q_ngram_jaccard_exact).

    Plan shape (round 8 reshape; measured at sf1.0/50k docs: 64.9 s →
    the pinned co-partitioned form below — the old shape spent 40 s of
    it in a 10-TASK self-join stage because AQE coalesced the 15 MB
    post-shuffle input of a join that EXPLODES to ~1 GB of pair rows):
    0. shingles hash to xxhash64 longs IN-ROW before anything shuffles
       (the substring/decontamination contract: equal absent 64-bit
       collisions; 8-byte keys sort/compare/aggregate far cheaper than
       multi-word strings);
    1. ONE explicit ``repartition(P, sh)`` + a count window attaches
       per-posting document frequency — replacing the old
       groupBy(sh) + two ex⋈rare/ex⋈common shuffle joins with a single
       postings shuffle whose explicit partition count AQE cannot
       coalesce (the guide-§2.5 pathology: size-based coalescing ahead
       of an exploding join); the persisted (id, sh, df) relation is
       hash-partitioned AND sorted by sh, so the rare self-join below
       needs NO exchange and NO sort on either side;
    2. |∩ ∩ rare| per pair from the rare-postings self-join as a
       NARROW count aggregation — only (id_a, id_b, n_rare) longs
       shuffle;
    3. a LOSSLESS upper-bound prune on counts alone:
       |∩| ≤ n_rare + min(common_a, common_b), so
       J ≤ ub/(n_a+n_b−ub) — pairs that cannot reach the threshold
       are dropped before any array is attached;
    4. ONLY prune survivors (few — the small persisted ``cand`` table)
       get a common-only hash array built and attached for the exact
       correction |∩| = n_rare + |common_a ∩ common_b|: the
       ``collect_list`` aggregation is semi-joined down to survivor
       ids FIRST (VERDICT r2 #4 — the earlier shape built an array for
       every doc in the corpus; linear, but corpus-wide array state
       for rows that are never read)."""
    from pyspark.storagelevel import StorageLevel
    from .skew import ensure_min_parallelism
    # spread a one-split scan BEFORE the per-row shingle work (and the
    # cache write below) — no-op on any real multi-split input
    base = ensure_min_parallelism(df.select(id_col, text_col))
    # scale-adaptive partition count for the postings shuffle: follows
    # the (spread) scan parallelism, never a local-mode constant
    p_parts = max(df.sparkSession.sparkContext.defaultParallelism,
                  base.rdd.getNumPartitions())
    # flat postings of HASHED shingles: xxhash64 in-row (no shingle
    # string ever rides an exchange), one explicit repartition by key
    # (pinned count — see docstring), document frequency via a count
    # window on the established partitioning (zero extra shuffle), and
    # the whole (id, sh, df) long-triple relation persisted once for
    # every branch below. Flat longs, not arrays: caching an array
    # column pays the columnar builder ~5× the compute cost (r7).
    # explode_OUTER + post-generate isNotNull, NOT a plain explode: the
    # optimizer infers `size(shingles) > 0` from an inner explode and
    # pushes it below the spread exchange into the scan — where it
    # RE-EVALUATES the whole shingle expression serially on the
    # unspread scan tasks (measured at sf1.0: a 15 s one-core stage).
    # The isNotNull filter references the generated column, so it
    # cannot sink below the Generate.
    exw = (with_shingles(base, text_col, k)
           .select(id_col, F.explode_outer('shingles').alias('__s'))
           .filter(F.col('__s').isNotNull())
           .select(id_col, F.xxhash64('__s').alias('sh'))
           .repartition(p_parts, 'sh')
           .withColumn('__df', F.count('*').over(Window.partitionBy('sh')))
           .persist(StorageLevel.MEMORY_AND_DISK))

    rare_ex = exw.filter(F.col('__df') <= max_shingle_df)
    a = rare_ex.select(F.col(id_col).alias('id_a'), 'sh')
    b = rare_ex.select(F.col(id_col).alias('id_b'), 'sh')
    pairs_raw = a.join(b, on='sh').filter(F.col('id_a') < F.col('id_b'))
    # pack the pair key into ONE long when ids provably fit 31 bits
    # (cheap min/max probe on the pruned id column — text is never
    # read): the candidate-pair shuffle is the operator's largest
    # (measured ~1 GB at sf1.0/50k docs), and a single-long key both
    # halves the row and cheapens the hash aggregate. Exact unpack via
    # shiftright/bitwiseAND (never long division — round-5 rule);
    # falls back to the two-column groupBy for wider/non-integral ids.
    id_type = dict(df.dtypes).get(id_col)
    packable = False
    if id_type in ('int', 'bigint', 'smallint', 'tinyint'):
        b_row = df.agg(F.min(id_col).alias('lo'),
                       F.max(id_col).alias('hi')).collect()[0]
        packable = (b_row['lo'] is not None and int(b_row['lo']) >= 0
                    and int(b_row['hi']) < (1 << 31))
    if packable:
        pk = F.shiftleft(F.col('id_a').cast('long'), 31) \
            .bitwiseOR(F.col('id_b').cast('long'))
        inter_rare = (pairs_raw.select(pk.alias('__pk'))
                      .groupBy('__pk')
                      .agg(F.count('*').alias('__n_rare'))
                      .select(F.shiftright('__pk', 31)
                              .cast(id_type).alias('id_a'),
                              F.col('__pk')
                              .bitwiseAND(F.lit((1 << 31) - 1))
                              .cast(id_type).alias('id_b'),
                              '__n_rare'))
    else:
        inter_rare = (pairs_raw
                      .groupBy('id_a', 'id_b')
                      .agg(F.count('*').alias('__n_rare')))

    # narrow COUNTS-ONLY per-doc stats in ONE aggregate (two longs per
    # doc — linear and cheap corpus-wide); NO arrays are built here
    stats = (exw.groupBy(id_col)
             .agg(F.count('*').alias('__n_sh'),
                  F.sum((F.col('__df') > max_shingle_df).cast('long'))
                  .alias('__n_common')))

    sa = stats.select(F.col(id_col).alias('id_a'),
                      F.col('__n_sh').alias('__n_a'),
                      F.col('__n_common').alias('__c_a'))
    sb = stats.select(F.col(id_col).alias('id_b'),
                      F.col('__n_sh').alias('__n_b'),
                      F.col('__n_common').alias('__c_b'))

    # counts-only prune first (no arrays anywhere in the wide join)
    cand = (inter_rare.join(sa, 'id_a').join(sb, 'id_b'))
    ub = F.col('__n_rare') + F.least('__c_a', '__c_b')
    cand = (cand
            .filter(ub / (F.col('__n_a') + F.col('__n_b') - ub) >= threshold)
            # survivors are FEW (sf0.1: 1.13M candidates → ~256) and
            # consumed twice (survivor-id set + the array join) —
            # persist, or the rare-postings self-join runs twice
            .persist(StorageLevel.MEMORY_AND_DISK))

    # exact correction: common-shingle arrays are built ONLY for
    # survivor docs — semi-join BEFORE the collect_list, so the array
    # aggregation reads a survivor-sized input, not the corpus
    surv_ids = (cand.select(F.col('id_a').alias(id_col))
                .unionByName(cand.select(F.col('id_b').alias(id_col)))
                .distinct())
    surv_common = (exw.filter(F.col('__df') > max_shingle_df)
                   .join(surv_ids, on=id_col, how='left_semi')
                   .groupBy(id_col)
                   .agg(F.collect_list('sh').alias('__common_sh')))
    empty = F.array().cast('array<bigint>')
    ca = surv_common.select(F.col(id_col).alias('id_a'),
                            F.col('__common_sh').alias('__com_a'))
    cb = surv_common.select(F.col(id_col).alias('id_b'),
                            F.col('__common_sh').alias('__com_b'))
    withc = (cand.join(ca, 'id_a', 'left').join(cb, 'id_b', 'left')
             .withColumn('__com_a', F.coalesce('__com_a', empty))
             .withColumn('__com_b', F.coalesce('__com_b', empty)))
    n_inter = (F.col('__n_rare')
               + F.size(F.array_intersect('__com_a', '__com_b')))
    result = (withc
              .withColumn('jaccard',
                          n_inter / (F.col('__n_a') + F.col('__n_b') - n_inter))
              .filter(F.col('jaccard') >= threshold)
              .select('id_a', 'id_b', 'jaccard'))
    result._persisted_deps = [exw, cand]  # for release() once materialized
    return result


# -------------------------------------------- near-dup cluster resolution

def connected_components(pairs: DataFrame, id_a: str = 'id_a',
                         id_b: str = 'id_b',
                         max_iter: int = 50) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: (node, component)
    where ``component`` is the minimum node id reachable through the
    pair graph — the canonical survivor every production dedup keeps
    while dropping the rest of its cluster (the reference deletes one
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
    src = pairs.select(F.col(id_a).alias('node'), F.col(id_b).alias('peer'))
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

def minhash_index_update(spark, new_df: DataFrame, index_path: str,
                         id_col: str, text_col: str, batch_id: str,
                         num_hashes: int = 64, bands: int = 16, k: int = 3,
                         jaccard_threshold: float = 0.8,
                         max_bucket_size: int = 64) -> DataFrame:
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
    capped at ``max_bucket_size`` lowest ids (deterministic) — a
    template bucket with 10^6 members cannot explode a batch join.
    Returns (id_a, id_b, jaccard_est) pairs where at least one side is
    new; on an uncapped-bucket corpus this equals the full-recompute
    pair set restricted to pairs touching the batch (pinned by
    tests/test_minhash_index.py)."""
    rows = num_hashes // bands
    sig = minhash_signatures(new_df, id_col, text_col, num_hashes, k)
    from pyspark.storagelevel import StorageLevel
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)

    band_rows = sig.select(
        F.col(id_col).alias('id'),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias('band'),
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
                   .filter(F.col('__rn') <= max_bucket_size)
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
              .withColumn('jaccard_est', agree / F.lit(float(num_hashes)))
              .filter(F.col('jaccard_est') >= jaccard_threshold)
              .select('id_a', 'id_b', 'jaccard_est'))
    result = result.localCheckpoint()  # materialize BEFORE the append below

    # hive-style subdir: batch_id comes back as the inferred partition
    # column on read, so the files themselves must NOT carry it
    (band_rows.write.mode('overwrite')
     .parquet(f'{index_path}/batch_id={batch_id}'))
    sig.unpersist()
    band_rows.unpersist()
    return result


def line_dedup_within_doc(df: DataFrame, id_col: str = 'doc_id',
                          text_col: str = 'text',
                          sep: str = '\n') -> DataFrame:
    """WITHIN-document exact line dedup — the in-doc sibling of the
    cross-document ``line_dedup``: keep the FIRST occurrence of every
    non-empty line inside each document, drop later repeats (in-page
    nav chrome, repeated headers in concatenated page dumps), preserve
    order. Empty lines are ALWAYS kept — they carry paragraph
    structure, and collapsing them would merge unrelated paragraphs.

    Scale shape: ZERO shuffle — the whole operator is one in-row
    column expression (split → indexed HOF filter → array_join), so it
    runs at scan speed inside the projection, composable before any
    shuffle-bearing stage. Cost note: the first-occurrence check is
    O(L²) string compares per doc (array_position over the line
    prefix, per line); for web-page line counts (10²–10³) this is
    noise. For pathological million-line documents use the exploded
    (id, line) window formulation instead (one narrow shuffle), which
    is exactly what the SQL oracle runs — the parity check doubles as
    the equivalence proof between the two formulations.

    Returns (id_col, n_kept, n_removed, cleaned_text)."""
    sep_rx = '\\Q' + sep.replace('\\E', '\\E\\\\E\\Q') + '\\E'
    # materialize the array once: HOF lambda bodies are re-evaluated
    # per element with NO subexpression elimination (CLAUDE.md r4) —
    # referencing an unmaterialized split would re-split per line
    base = df.select(F.col(id_col),
                     F.split(F.col(text_col), sep_rx).alias('__lines'))
    lines = F.col('__lines')
    kept = F.filter(
        lines,
        lambda x, i: (x == '') | (
            F.array_position(F.slice(lines, F.lit(1), i), x) == 0))
    return (base
            .withColumn('__kept', kept)
            .select(id_col,
                    F.size('__kept').cast('long').alias('n_kept'),
                    (F.size('__lines') - F.size('__kept')).cast('long')
                    .alias('n_removed'),
                    F.array_join('__kept', sep).alias('cleaned_text')))


def line_dedup(df: DataFrame, id_col: str = 'doc_id',
               text_col: str = 'text', min_df: int = 2,
               sep: str = '\n') -> DataFrame:
    """Cross-document exact line dedup — the CCNet / RefinedWeb
    boilerplate-removal step: drop every line occurring in >= ``min_df``
    DISTINCT documents (navigation chrome, cookie banners, repeated
    footers), preserving the surviving lines' order.

    Scale shape: the heavy original texts never shuffle — only the
    narrow exploded (id, pos, line) rows do.  Line document-frequency
    is an exact two-level count-distinct aggregate; the hot
    (boilerplate) line set joins back as a LEFT ANTI on the line
    value; the rebuild is ONE per-doc aggregate with an in-array sort
    (collect_list of (pos, line) structs → array_sort → join), so
    order restoration costs no extra shuffle.  Documents whose lines
    are all boilerplate come back with cleaned_text='' rather than
    disappearing.

    Returns (id_col, n_kept, n_removed, cleaned_text).
    """
    # F.split takes a Java REGEX while array_join re-joins with the
    # LITERAL string — quote the separator (\Q...\E, with embedded \E
    # handled) so a metachar sep ('.', '|') splits on its literal bytes
    sep_rx = '\\Q' + sep.replace('\\E', '\\E\\\\E\\Q') + '\\E'
    lines = F.split(F.col(text_col), sep_rx)
    # posexplode_outer + isNotNull: the inferred non-empty filter
    # would re-split every document at the scan (round 8)
    ex = (df.select(F.col(id_col).alias('__id'),
                    F.posexplode_outer(lines).alias('__pos', '__line'))
          .filter(F.col('__line').isNotNull()))
    hot = (ex.groupBy('__line')
           .agg(F.count_distinct('__id').alias('__df'))
           .filter(F.col('__df') >= min_df)
           .select('__line'))
    kept = ex.join(hot, on='__line', how='left_anti')
    rebuilt = (kept.groupBy('__id')
               .agg(F.count('*').cast('long').alias('n_kept'),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct('__pos', '__line'))),
                            lambda s: s['__line']),
                        sep).alias('cleaned_text')))
    totals = df.select(F.col(id_col).alias('__id'),
                       F.size(lines).cast('long').alias('__n_total'))
    return (totals.join(rebuilt, on='__id', how='left')
            .select(F.col('__id').alias(id_col),
                    F.coalesce(F.col('n_kept'), F.lit(0)).alias('n_kept'),
                    (F.col('__n_total')
                     - F.coalesce(F.col('n_kept'), F.lit(0))
                     ).alias('n_removed'),
                    F.coalesce(F.col('cleaned_text'),
                               F.lit('')).alias('cleaned_text')))


def _window_hash(hash_bits: int):
    """In-row window-content hash for the substring/n-gram family.

    64: one xxhash64 long — fine to the birthday bound (~50% collision
    odds near 4x10^9 DISTINCT windows; a k=8 sweep over 10^12 tokens is
    ~10^12 keys, far past it). 128: a struct of TWO xxhash64s over
    (window) and (window, salt) — independent 64-bit halves, so the
    bound moves to ~2^64 distinct windows while the shuffle key stays
    two longs (16 bytes), no strings ever ride an exchange. Struct keys
    group/join natively in Catalyst."""
    if hash_bits == 64:
        return lambda w: F.xxhash64(w)
    if hash_bits == 128:
        # second half re-keys the input with a constant salt column —
        # xxhash64's seed is fixed in SQL, so vary the INPUT instead
        return lambda w: F.struct(
            F.xxhash64(w).alias('h1'),
            F.xxhash64(w, F.lit(-640531527)).alias('h2'))
    raise ValueError(f'hash_bits must be 64 or 128, got {hash_bits!r}')


def substring_duplication_stats(df: DataFrame, id_col: str = 'doc_id',
                                text_col: str = 'text',
                                k: int = 8,
                                hash_bits: int = 64) -> DataFrame:
    """Exact substring-level duplication measure (round 4) — the
    signal behind suffix-array training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"),
    re-expressed at fixed granularity: for every position of a
    k-token sliding window, is that exact window duplicated anywhere
    else in the corpus (another doc, or another position of the same
    doc)?  Returns per-doc (n_windows, n_dup_windows, dup_frac) —
    docs with high dup_frac are boilerplate-heavy or near-copies and
    get down-weighted or cropped in training mixes.

    A true suffix array finds variable-length duplicated spans; the
    fixed-k window is the standard distributed approximation (any
    duplicated span of >= k tokens shows up as a run of duplicated
    windows, and dup_frac upper-bounds span coverage).  Scale shape:
    POSITIONAL shingles explode to narrow (id, window-hash) rows —
    the window string itself never leaves the row (xxhash64 before
    the shuffle); one count aggregate over the hash, one semi-join
    shape back onto the positional rows, one per-doc aggregate.
    Collision risk of the 64-bit hash at corpus scale is the standard
    birthday bound (~1e-9 at 10^5 distinct windows); past ~10^9
    distinct windows pass ``hash_bits=128`` — the key becomes a struct
    of two independent xxhash64 longs (see ``_window_hash``), still
    16 shuffle bytes, results identical on collision-free inputs
    (parametrized test pins 64 == 128 on fixtures).
    """
    from .skew import ensure_min_parallelism
    df = ensure_min_parallelism(df)  # one-split scans serialize the
    # per-row window hashing onto one core; no-op on real inputs
    hfun = _window_hash(hash_bits)
    toks = F.split(F.lower(F.col(text_col)), r'\s+')
    n = F.size(toks)
    m = n - F.lit(k - 1)
    parts = [F.slice(toks, j + 1, F.greatest(m, F.lit(0)))
             for j in range(k)]
    sh = parts[0]
    for p in parts[1:]:
        sh = F.zip_with(sh, p, lambda a, b: F.concat(a, F.lit(' '), b))
    # positional (not distinct) windows: repetition inside a doc IS
    # duplication here, unlike with_shingles' distinct sets
    ex = (df.select(F.col(id_col).alias('__id'),
                    F.when(n >= k, sh).otherwise(F.array()).alias('__w'))
          .select('__id', F.explode_outer(
              F.transform(F.col('__w'), hfun)).alias('__h')))
    freq = (ex.filter(F.col('__h').isNotNull())
            .groupBy('__h').agg(F.count('*').alias('__c')))
    joined = (ex.join(freq, on='__h', how='left')
              .groupBy('__id')
              .agg(F.sum(F.when(F.col('__h').isNotNull(), 1).otherwise(0))
                   .cast('long').alias('n_windows'),
                   F.sum(F.when(F.col('__c') >= 2, 1).otherwise(0))
                   .cast('long').alias('n_dup_windows')))
    return (joined.select(
        F.col('__id').alias(id_col), 'n_windows', 'n_dup_windows',
        F.round(F.col('n_dup_windows')
                / F.greatest(F.col('n_windows'), F.lit(1)), 6)
        .alias('dup_frac')))


def remove_duplicated_substrings(df: DataFrame, id_col: str = 'doc_id',
                                 text_col: str = 'text', k: int = 8,
                                 min_df: int = 2,
                                 keep: str = 'none',
                                 hash_bits: int = 64) -> DataFrame:
    """Exact substring-span REMOVAL (round 6) — the act behind the
    ``substring_duplication_stats`` signal (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    reference scope: training-data curation): every token covered by a
    k-token window whose exact content occurs in >= ``min_df`` DISTINCT
    documents is dropped from ALL of them, and each document's text is
    rebuilt order-preserving from the surviving tokens (a duplicated
    span of >= k tokens is covered end-to-end by a run of duplicated
    windows, so whole cross-document boilerplate spans vanish while
    unique prose stays).

    Scale shape (the ``line_dedup`` rebuild pattern at token
    granularity): window CONTENT never shuffles — windows hash to
    xxhash64 in-row and only narrow (id, pos, hash) rows move; the
    duplicated-hash set is one count-distinct aggregate; coverage
    expands duplicated window starts to (id, token-pos) longs
    (<= k x duplicated windows); the rebuild is one anti-join plus one
    per-doc aggregate with an in-array sort. 64-bit collision bound as
    in ``substring_duplication_stats``; past ~10^9 distinct windows
    pass ``hash_bits=128`` (struct of two xxhash64 longs, still a
    16-byte shuffle key — see ``_window_hash``). A collision here is
    worse than in the stats op (it DELETES innocent tokens), so the
    128-bit form is the right default at true corpus scale.

    ``keep`` pins the policy for the duplicated copies:
    - ``'none'`` (default): every occurrence of a duplicated window is
      dropped from every document (the boilerplate-scrub reading);
    - ``'first'``: the globally FIRST occurrence of each duplicated
      window value — min (doc id, position) — survives, all later
      occurrences are dropped (Lee et al.'s paper policy: keep one
      copy of each duplicated span). A token survives unless some
      NON-first duplicated occurrence covers it.

    Returns (id_col, n_kept, n_removed, cleaned_text); fully-covered
    documents come back with cleaned_text='' rather than disappearing.
    """
    if keep not in ('none', 'first'):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    hfun = _window_hash(hash_bits)
    from pyspark.storagelevel import StorageLevel
    from .skew import ensure_min_parallelism
    # spread BEFORE the persist below: a one-split scan would build the
    # cached token/window arrays on a single core (no-op on real inputs)
    df = ensure_min_parallelism(df)

    toks = F.split(F.trim(F.col(text_col)), r'\s+')
    n = F.size(toks)
    m = n - F.lit(k - 1)
    parts = [F.slice(toks, j + 1, F.greatest(m, F.lit(0)))
             for j in range(k)]
    sh = parts[0]
    for p in parts[1:]:
        sh = F.zip_with(sh, p, lambda a, b: F.concat(a, F.lit(' '), b))

    # persisted: three branches (windows, tokens, totals) read this —
    # without the persist each one re-scans the corpus and re-builds
    # the split + k-way zip_with arrays (measured: the dominant cost
    # of the sf0.1 bench section). Callers release() the result.
    # Round 8: the cached column is the HASHED window array — window
    # STRINGS are ~k× the text bytes and the r7 lesson prices the
    # columnar cache builder at ~5× the compute per byte, while the
    # long array is small AND pre-paid (the old shape re-ran the hash
    # transform on every read of `wins`, i.e. twice).
    base = df.select(F.col(id_col).alias('__id'), toks.alias('__toks'),
                     F.when(n >= k, F.transform(sh, hfun))
                     .otherwise(F.array().cast('array<bigint>')
                                if hash_bits == 64 else
                                F.array().cast(
                                    'array<struct<h1:bigint,h2:bigint>>'))
                     .alias('__wh')
                     ).persist(StorageLevel.MEMORY_AND_DISK)
    # one narrow exploded relation per role; the shared array column is
    # materialized in `base` (lambda-bearing exprs are excluded from
    # subexpression elimination — CLAUDE.md round-4 trap)
    wins = base.select('__id', F.posexplode('__wh').alias('__start', '__h'))
    dup = (wins.groupBy('__h')
           .agg(F.count_distinct('__id').alias('__df'),
                F.min(F.struct('__id', '__start')).alias('__first'))
           .filter(F.col('__df') >= min_df)
           .select('__h', '__first'))
    dup_occ = wins.join(dup, on='__h', how='inner')
    if keep == 'first':
        # the globally first occurrence of each window value survives
        dup_occ = dup_occ.filter(
            (F.col('__id') != F.col('__first.__id'))
            | (F.col('__start') != F.col('__first.__start')))
    covered = (dup_occ
               .select('__id', F.explode(F.sequence(
                   F.col('__start'),
                   F.col('__start') + F.lit(k - 1))).alias('__pos'))
               .distinct())
    ex_tok = base.select('__id',
                         F.posexplode('__toks').alias('__pos', '__tok'))
    kept = ex_tok.join(covered, on=['__id', '__pos'], how='left_anti')
    rebuilt = (kept.groupBy('__id')
               .agg(F.count('*').cast('long').alias('n_kept'),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct('__pos', '__tok'))),
                            lambda s: s['__tok']),
                        ' ').alias('cleaned_text')))
    totals = base.select('__id', F.size('__toks').cast('long')
                         .alias('__n_total'))
    out = (totals.join(rebuilt, on='__id', how='left')
           .select(F.col('__id').alias(id_col),
                   F.coalesce(F.col('n_kept'), F.lit(0)).alias('n_kept'),
                   (F.col('__n_total')
                    - F.coalesce(F.col('n_kept'), F.lit(0))
                    ).alias('n_removed'),
                   F.coalesce(F.col('cleaned_text'),
                              F.lit('')).alias('cleaned_text')))
    out._persisted_deps = [base]
    return out


# ------------------------------------------- paragraph-level fuzzy dedup

# Composite paragraph key: doc_id·2^20 + para_idx — invertible, narrow
# (one BIGINT through every LSH shuffle), ordered (a doc's paragraphs
# sort together). Caps: 2^20 paragraphs/doc, 2^43 docs; raise the
# shift for stranger corpora.
PARA_SHIFT = 20


def para_key(doc_id_col, idx_col):
    return (doc_id_col * F.lit(1 << PARA_SHIFT) + idx_col).cast('long')


def para_doc(key_col):
    # bit ops, not floor(x / 2^20): long/long division goes through
    # DOUBLE and loses exactness above 2^53
    return F.shiftright(key_col, PARA_SHIFT).cast('long')


def para_idx(key_col):
    return key_col.bitwiseAND(F.lit((1 << PARA_SHIFT) - 1)).cast('long')


def explode_paragraphs(df: DataFrame, id_col: str = 'doc_id',
                       text_col: str = 'text', sep: str = '\n\n',
                       min_tokens: int = 5) -> DataFrame:
    """(pid, para) — one row per paragraph worth deduplicating.
    Paragraphs under ``min_tokens`` whitespace tokens are dropped
    (RefinedWeb's guard: short chrome lines belong to LINE dedup;
    fuzzy-matching them floods the corpus with trivial pairs). The
    separator is \\Q-quoted (literal, not regex — same contract as
    line_dedup)."""
    sep_rx = '\\Q' + sep.replace('\\E', '\\E\\\\E\\Q') + '\\E'
    return (df.select(
        F.col(id_col).alias('__doc'),
        F.posexplode_outer(F.split(F.col(text_col), sep_rx))
        .alias('__idx', 'para'))
        .filter(F.col('para').isNotNull())
        .filter(F.size(F.split(F.trim('para'), r'\s+')) >= min_tokens)
        .select(para_key(F.col('__doc'), F.col('__idx')).alias('pid'),
                'para'))


def paragraph_neardup_pairs(df: DataFrame, id_col: str = 'doc_id',
                            text_col: str = 'text', sep: str = '\n\n',
                            num_hashes: int = 64, bands: int = 16,
                            k: int = 3, jaccard_threshold: float = 0.8,
                            min_tokens: int = 5,
                            max_bucket_size: int = 64) -> DataFrame:
    """RefinedWeb-style paragraph-level FUZZY dedup (round 5 — the
    companion to exact line_dedup: RefinedWeb runs line-exact AND
    paragraph-fuzzy): explode paragraphs under composite keys and
    reuse minhash_lsh_pairs verbatim — banded LSH, hot-bucket star
    cap, signature verify — at paragraph granularity. Returns
    (doc_a, para_a, doc_b, para_b, jaccard_est, cross_doc) with
    (doc_a, para_a) < (doc_b, para_b); ``cross_doc`` distinguishes
    template reuse across documents from in-document repetition.

    Scale shape: identical to the doc-level operator — paragraphs
    multiply the row count but SHRINK per-row text, so signature work
    is the same total bytes; only narrow (pid, band, key) rows
    shuffle. release() the result as usual (persisted signatures)."""
    paras = explode_paragraphs(df, id_col, text_col, sep, min_tokens)
    pairs = minhash_lsh_pairs(paras, 'pid', 'para',
                              num_hashes=num_hashes, bands=bands, k=k,
                              jaccard_threshold=jaccard_threshold,
                              max_bucket_size=max_bucket_size)
    out = pairs.select(
        para_doc(F.col('id_a')).alias('doc_a'),
        para_idx(F.col('id_a')).alias('para_a'),
        para_doc(F.col('id_b')).alias('doc_b'),
        para_idx(F.col('id_b')).alias('para_b'),
        'jaccard_est',
        (para_doc(F.col('id_a')) != para_doc(F.col('id_b')))
        .alias('cross_doc'))
    out._persisted_deps = getattr(pairs, '_persisted_deps', [])
    return out


def paragraph_neardup_rollup(df: DataFrame, id_col: str = 'doc_id',
                             text_col: str = 'text', sep: str = '\n\n',
                             min_tokens: int = 5,
                             **lsh_kwargs) -> DataFrame:
    """Doc-level roll-up of paragraph fuzzy dedup: per document,
    (n_paras, n_dup_paras, dup_para_frac) where a paragraph counts as
    dup iff it near-matches a paragraph of ANOTHER document
    (cross-doc only — in-doc repetition is substring_duplication's
    signal). Docs whose paragraphs all fall under min_tokens roll up
    as (0, 0, 0.0). The heavy text never shuffles: the roll-up joins
    narrow (pid) sets."""
    paras = explode_paragraphs(df, id_col, text_col, sep, min_tokens)
    pairs = paragraph_neardup_pairs(df, id_col, text_col, sep,
                                    min_tokens=min_tokens, **lsh_kwargs)
    cross = pairs.filter('cross_doc')
    dup_pids = (cross.select(para_key(F.col('doc_a'),
                                      F.col('para_a')).alias('pid'))
                .unionByName(
                    cross.select(para_key(F.col('doc_b'),
                                          F.col('para_b')).alias('pid')))
                .distinct())
    per_doc = (paras.select('pid')
               .join(dup_pids.withColumn('__dup', F.lit(1)),
                     on='pid', how='left')
               .groupBy(para_doc(F.col('pid')).alias(id_col))
               .agg(F.count('*').cast('long').alias('n_paras'),
                    F.sum(F.coalesce(F.col('__dup'), F.lit(0)))
                    .cast('long').alias('n_dup_paras')))
    out = (df.select(F.col(id_col)).distinct()
           .join(per_doc, on=id_col, how='left')
           .select(id_col,
                   F.coalesce('n_paras', F.lit(0)).alias('n_paras'),
                   F.coalesce('n_dup_paras', F.lit(0)).alias('n_dup_paras'))
           .withColumn('dup_para_frac',
                       F.round(F.col('n_dup_paras')
                               / F.greatest(F.col('n_paras'), F.lit(1)), 6)))
    out._persisted_deps = getattr(pairs, '_persisted_deps', [])
    return out
