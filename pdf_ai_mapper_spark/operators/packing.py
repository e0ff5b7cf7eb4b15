"""Sequence packing — the training-export stage: concatenate document
token streams in a deterministic order and chop the stream into
fixed-length context windows (the GPT-style "concat and chop" packing
every pretraining run performs before batching).

The core primitive is a GLOBAL prefix sum over a 100 TB table, and
the naive formulation — ``sum().over(Window.orderBy(id))`` with no
partitionBy — plans as ``Exchange SinglePartition``: the entire
corpus funnels through ONE task (plan-asserted in
tests/test_packing.py as the anti-pattern). The scalable form is the
classic two-phase distributed scan:

1. ``repartitionByRange(order_col)`` — partitions hold contiguous,
   ordered key ranges (partition id increases with the key);
2. within-partition running sums via a window PARTITIONED BY the
   physical partition id — embarrassingly parallel;
3. per-partition totals collapse to P driver-scale rows; their
   exclusive running total (computed on the driver) broadcasts back
   and joins on partition id.

Exactness does not depend on WHERE the range boundaries fall — any
ordered partitioning yields the same global offsets — but the
boundaries must be THE SAME in the partials job and the main job, so
the repartitioned table is persisted across the two (range
partitioning samples its split points; a recompute could resample).
Callers release() the result after materializing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_global_offset(df: DataFrame, order_col: str, value_col: str,
                       out_col: str = 'offset',
                       partitions: int | None = None) -> DataFrame:
    """Exclusive global running total of ``value_col`` in ``order_col``
    order (the first row's offset is 0). One range shuffle + one
    driver-scale collect of P partial sums; no single-partition stage.

    Contract: ``order_col`` must be unique (it defines the stream
    order) and ``value_col`` non-negative."""
    from pyspark.storagelevel import StorageLevel

    ranged = df.repartitionByRange(
        *( [partitions] if partitions else [] ), F.col(order_col))
    ranged = ranged.withColumn('__pid', F.spark_partition_id())
    # persisted: the partials job and the main job MUST see identical
    # range boundaries (repartitionByRange samples split points)
    ranged = ranged.persist(StorageLevel.MEMORY_AND_DISK)

    partials = (ranged.groupBy('__pid')
                .agg(F.sum(value_col).alias('__psum'))
                .collect())
    running = 0
    rows = []
    for r in sorted(partials, key=lambda r: r['__pid']):
        rows.append((int(r['__pid']), int(running)))
        running += int(r['__psum'] or 0)
    spark = df.sparkSession
    offsets = F.broadcast(spark.createDataFrame(
        rows or [(0, 0)], '__pid int, __base long'))

    w = (Window.partitionBy('__pid').orderBy(order_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = (ranged
           .withColumn('__run', F.sum(value_col).over(w))
           .join(offsets, on='__pid')
           .withColumn(out_col,
                       (F.col('__base') + F.col('__run')
                        - F.col(value_col)).cast('long'))
           .drop('__pid', '__run', '__base'))
    out._persisted_deps = [ranged]
    return out


def pack_sequences(df: DataFrame, id_col: str, tokens_col: str,
                   seq_len: int, order_col: str | None = None) -> DataFrame:
    """Assign every document its position in the packed token stream:
    adds ``offset`` (exclusive prefix sum of ``tokens_col`` in
    ``order_col`` order), ``first_seq`` / ``last_seq`` (the context
    windows the document's tokens land in, [offset, offset+tokens)),
    and ``n_seqs_spanned`` (0 for empty documents). A document with
    ``last_seq > first_seq`` crosses a context boundary and gets
    truncated attention there — the packing-quality signal training
    pipelines track. Total sequence count for the corpus is
    ``ceil(total_tokens / seq_len)``."""
    if seq_len <= 0:
        raise ValueError(f'seq_len must be positive, got {seq_len}')
    order_col = order_col or id_col
    out = with_global_offset(df, order_col, tokens_col)
    t = F.col(tokens_col)
    # integer DIV, not floor(a / b): long/long `/` goes through DOUBLE,
    # which loses exactness once global offsets pass 2^53
    first = F.expr(f'offset DIV {seq_len}').cast('long')
    last = F.expr(f'(offset + `{tokens_col}` - 1) DIV {seq_len}') \
        .cast('long')
    res = (out
           .withColumn('first_seq', F.when(t > 0, first))
           .withColumn('last_seq', F.when(t > 0, last))
           .withColumn('n_seqs_spanned',
                       F.when(t > 0, last - first + 1)
                       .otherwise(F.lit(0)).cast('long')))
    res._persisted_deps = getattr(out, '_persisted_deps', [])
    return res


def pack_input_ids(df: DataFrame, id_col: str, ids_col: str,
                   seq_len: int, order_col: str | None = None,
                   sep_id: int | None = None) -> DataFrame:
    """Materialized concat-and-chop (round 6 — VERDICT r5 #4): where
    ``pack_sequences`` assigns each document its window SPAN, this
    emits the windows themselves — one row per context window with the
    actual ``input_ids`` array a training loader consumes (tokens from
    consecutive documents concatenated in ``order_col`` order and
    chopped at ``seq_len``; the final window may be shorter).
    Feed it ``textstats.with_input_ids`` output for tokenizer-exact
    streams.

    Scale shape: global offsets via ``with_global_offset`` (two-phase
    scan, no SinglePartition); each document then SLICES its own ids
    in-row into per-window pieces (array arithmetic, no Python) and
    only those (seq, piece) rows — bounded by seq_len ids each —
    ride the one hash shuffle on the window id, which is uniform by
    construction. Window reassembly is an in-array sort by the piece's
    global offset (unique per doc), the ``line_dedup`` rebuild trick.

    ``sep_id``: when set, a document separator token (GPT-2's
    <|endoftext|> shape) is appended to EVERY document's ids before
    the chop — including empty documents, which then contribute a
    bare separator (the pinned convention: the separator marks a
    document boundary, not content). Offsets and window cuts count
    the separators.

    Returns (seq, n_docs, n_ids, input_ids), seq = 0..ceil(total/L)-1.
    """
    if seq_len <= 0:
        raise ValueError(f'seq_len must be positive, got {seq_len}')
    order_col = order_col or id_col
    if sep_id is not None:
        df = df.withColumn(
            ids_col, F.concat(F.col(ids_col),
                              F.array(F.lit(int(sep_id)).cast('long'))))
    base = df.withColumn('__n', F.size(F.col(ids_col)).cast('long'))
    out = with_global_offset(base, order_col, '__n')
    L = F.lit(seq_len)
    o = F.col('offset')
    n = F.col('__n')
    first = F.expr(f'offset DIV {seq_len}')
    last = F.expr(f'(offset + __n - 1) DIV {seq_len}')
    # per-window piece of this doc's ids: global window s covers
    # [s*L, (s+1)*L); local slice = [max(0, s*L-o), min(n, (s+1)*L-o))
    pieces = F.when(n > 0, F.transform(
        F.sequence(first, last),
        lambda s: F.struct(
            s.cast('long').alias('seq'),
            o.alias('__off'),
            F.slice(F.col(ids_col),
                    (F.greatest(s * L - o, F.lit(0)) + 1).cast('int'),
                    (F.least((s + 1) * L - o, n)
                     - F.greatest(s * L - o, F.lit(0))).cast('int')
                    ).alias('ids')))).otherwise(F.array())
    # explode_outer + isNotNull: the inferred non-empty filter would
    # re-run the window-slice transform over the cached ids (round 8)
    ex = (out.select(F.explode_outer(pieces).alias('p'))
          .filter(F.col('p').isNotNull()).select('p.*'))
    packed = (ex.groupBy('seq')
              .agg(F.count('*').cast('long').alias('n_docs'),
                   F.flatten(F.transform(
                       F.array_sort(F.collect_list(
                           F.struct('__off', 'ids'))),
                       lambda s: s['ids'])).alias('input_ids')))
    res = packed.withColumn('n_ids', F.size('input_ids').cast('long')) \
        .select('seq', 'n_docs', 'n_ids', 'input_ids')
    res._persisted_deps = getattr(out, '_persisted_deps', [])
    return res


def shuffle_shards(df: DataFrame, id_col: str, tokens_col: str,
                   tokens_per_shard: int, seed: str = '',
                   epoch_col: str | None = None) -> DataFrame:
    """Deterministic seeded global shuffle + token-balanced shard
    assignment (late round 5) — the export stage between curation and
    the training loader: documents are laid out in a pseudo-random
    but fully reproducible order, then cut into shards of
    ``tokens_per_shard`` tokens so every loader worker streams the
    same amount of work regardless of document-length skew (equal-DOC
    shards are the classic mistake — one shard of books is 100× the
    tokens of one shard of tweets).

    Order contract: the shuffle key is md5(id[·'|'·epoch]·'|'·seed) ·
    id — engine-portable (any md5), collision-proof (the raw id is
    appended), and seed-switchable per training run without touching
    the data.  With ``epoch_col`` set (one row per repeated copy of a
    document, numbered by epoch), a document's copies hash APART,
    interleaving repeats across the whole stream instead of clumping
    them back-to-back.

    Adds: ``shard`` (the shard the document STARTS in — documents are
    never split across shards here; a straddler belongs to the shard
    where it begins, overshooting by at most one document like every
    greedy cut), ``shard_offset`` (its token offset within that
    shard).  Global stream offset rides through as ``offset``.

    Scale shape: inherits ``with_global_offset``'s two-phase scan —
    ONE range shuffle on the hash key (which is uniform, so ranges are
    balanced by construction — no skew handling needed), a
    driver-scale partials collect, zero single-partition stages.  The
    shard cut is pure arithmetic on the offset; nothing else moves."""
    if tokens_per_shard <= 0:
        raise ValueError(
            f'tokens_per_shard must be positive, got {tokens_per_shard}')
    key_parts = [F.col(id_col).cast('string')]
    if epoch_col is not None:
        key_parts.append(F.col(epoch_col).cast('string'))
    key_parts.append(F.lit(seed))
    h = F.md5(F.concat_ws('|', *key_parts))
    keyed = df.withColumn(
        '__shuf_key', F.concat(h, F.col(id_col).cast('string'),
                               *( [F.col(epoch_col).cast('string')]
                                  if epoch_col is not None else [] )))
    out = with_global_offset(keyed, '__shuf_key', tokens_col)
    res = (out
           # integer DIV (see pack_sequences): exact past 2^53 offsets
           .withColumn('shard', F.expr(f'offset DIV {tokens_per_shard}')
                       .cast('long'))
           .withColumn('shard_offset',
                       (F.col('offset')
                        % F.lit(tokens_per_shard)).cast('long'))
           .drop('__shuf_key'))
    res._persisted_deps = getattr(out, '_persisted_deps', [])
    return res


def write_shards(spark, df: DataFrame, out_dir: str,
                 id_col: str, tokens_col: str,
                 shard_col: str = 'shard',
                 epoch_col: str | None = None,
                 batch_id: str | None = None) -> DataFrame:
    """Materialize a ``shuffle_shards`` layout as the training-loader
    directory tree (late round 5): one parquet partition per shard
    (``shard=N/`` via partitionBy — each loader worker opens exactly
    its shard's files) plus a ``_manifest`` parquet written LAST, so a
    reader that finds the manifest knows the data job completed — no
    manifest, no export (the write-then-publish protocol
    checkpoint.py's intent markers use for the extraction sink).

    The manifest is recomputed FROM THE WRITTEN FILES, not from the
    input plan — it attests what is actually on disk, so a partially
    written or torn export can never produce a matching manifest.
    Per shard: ``n_docs``, ``n_tokens``, and ``ids_md5`` — md5 over
    the comma-joined lexicographically-sorted id[·'|'·epoch] strings,
    an order-independent content checksum any engine reproduces
    (``verify_shards`` re-derives it on read).

    Scale shape: the data write repartitions ON the shard column so
    each task writes whole shards (file size = tokens_per_shard, the
    knob the caller already sized for the loader); the manifest job
    scans only (shard, id[, epoch], tokens) columns — payloads stay in
    the data files. collect_list per shard is bounded by
    tokens_per_shard / min-doc-tokens ids (~100k id strings for
    100M-token shards — MBs, fine); at extreme shard sizes swap the
    md5-of-sorted-ids for a streaming xor checksum.

    Returns the manifest DataFrame (read back from disk)."""
    import os
    data = os.path.join(out_dir, 'shards')
    (df.repartition(F.col(shard_col))
     .write.mode('error').partitionBy(shard_col).parquet(data))

    cols = [shard_col, id_col, tokens_col] + (
        [epoch_col] if epoch_col else [])
    on_disk = spark.read.parquet(data).select(*cols)
    key = F.col(id_col).cast('string') if not epoch_col else \
        F.concat_ws('|', F.col(id_col).cast('string'),
                    F.col(epoch_col).cast('string'))
    manifest = (on_disk
                .groupBy(F.col(shard_col).cast('long').alias('shard'))
                .agg(F.count('*').cast('long').alias('n_docs'),
                     F.sum(tokens_col).cast('long').alias('n_tokens'),
                     F.md5(F.concat_ws(',', F.array_sort(
                         F.collect_list(key)))).alias('ids_md5')))
    if batch_id is not None:
        # streaming path: the batch id rides IN the manifest commit so
        # restarts can tell "committed, marker lost" from "never ran"
        # (ADVICE r5 #2) — the manifest is the idempotence record.
        manifest = manifest.withColumn('batch_id', F.lit(batch_id))
    mpath = os.path.join(out_dir, '_manifest')
    manifest.coalesce(1).write.mode('error').parquet(mpath)
    return spark.read.parquet(mpath)


def verify_shards(spark, out_dir: str, id_col: str, tokens_col: str,
                  epoch_col: str | None = None) -> bool:
    """Re-derive the per-shard manifest from the shard files and
    compare with the stored ``_manifest`` — the loader-side integrity
    check (returns False on any missing/extra/corrupt shard). Narrow
    columns only; same cost shape as the manifest job."""
    import os
    data = os.path.join(out_dir, 'shards')
    mpath = os.path.join(out_dir, '_manifest')
    # the streaming path adds a batch_id provenance column; integrity
    # is defined over the canonical four columns
    stored = spark.read.parquet(mpath).select('shard', 'n_docs',
                                              'n_tokens', 'ids_md5')
    cols = ['shard', id_col, tokens_col] + ([epoch_col] if epoch_col else [])
    on_disk = spark.read.parquet(data).select(*cols)
    key = F.col(id_col).cast('string') if not epoch_col else \
        F.concat_ws('|', F.col(id_col).cast('string'),
                    F.col(epoch_col).cast('string'))
    derived = (on_disk
               .groupBy(F.col('shard').cast('long').alias('shard'))
               .agg(F.count('*').cast('long').alias('n_docs'),
                    F.sum(tokens_col).cast('long').alias('n_tokens'),
                    F.md5(F.concat_ws(',', F.array_sort(
                        F.collect_list(key)))).alias('ids_md5')))
    diff = (stored.exceptAll(derived).limit(1).count()
            + derived.exceptAll(stored).limit(1).count())
    return diff == 0


def append_shards(spark, df: DataFrame, out_dir: str,
                  id_col: str, tokens_col: str,
                  tokens_per_shard: int, seed: str = '',
                  epoch_col: str | None = None,
                  batch_id: str | None = None) -> DataFrame:
    """Incremental shard append (late round 5) — the crawl-cadence
    form of ``write_shards``: a NEW batch joins an EXISTING export
    without touching a byte of it.  Training reproducibility forbids
    rewriting shards a run may already have consumed, so the contract
    is append-only: existing shard files and manifest rows stay
    byte-identical, and the new batch starts at the NEXT shard
    boundary (each batch's tail shard stays part-full — the price of
    immutability; a loader reads true shard sizes from the manifest).
    Within itself the batch is seeded-shuffled with the exact
    ``shuffle_shards`` key construction, its stream offset by the
    boundary, so shard numbering continues monotonically and no shard
    ever spans two batches — ``verify_shards`` keeps its
    one-manifest-row-per-shard contract on the combined tree.

    Mirrors ``dedup.minhash_index_update``'s batch economics: per-call
    cost scales with the BATCH — one range shuffle over batch rows, a
    driver-scale manifest read, and a manifest recompute that scans
    ONLY the new shard partitions (partition-pruned on the shard
    directory column).  The stored corpus is never read.

    Returns the full combined manifest (stored rows + new rows)."""
    import os
    mpath = os.path.join(out_dir, '_manifest')
    stored = spark.read.parquet(mpath)
    # Next boundary from OCCUPANCY (max shard id), not from
    # sum(n_tokens): every batch's tail shard is part-full, so from the
    # third batch on a token-sum boundary lands INSIDE an occupied
    # shard — new files would append into it, the manifest recompute
    # would double-count the earlier batch's rows and emit a duplicate
    # manifest row, and verify_shards would fail (ADVICE r5 #1).
    max_shard = stored.agg(F.max('shard')).collect()[0][0]
    first_new = int(max_shard) + 1 if max_shard is not None else 0
    base = first_new * tokens_per_shard

    data = os.path.join(out_dir, 'shards')
    # Torn-retry purge (ADVICE r6 medium): shard dirs AT OR ABOVE
    # first_new are provable orphans — the manifest attests nothing
    # above max_shard, so they can only be the data half of a previous
    # append that crashed before its manifest commit.  Without this, a
    # retry (direct re-call, or stream_export_shards' foreachBatch
    # replay in the data-written/manifest-lost window) recomputes the
    # same first_new, mode('append')s duplicate files into the same
    # shard=N dirs, and then attests the DOUBLED disk — silent
    # duplication that verify_shards would bless.  Deleting the
    # orphans first makes the whole data write idempotent; the
    # manifest commit stays the single atomic publish point.  (Local
    # FS here; on a real cluster this is the same listing+delete via
    # the Hadoop FileSystem API, or a staging-dir rename — see
    # checkpoint.upsert_output for that pattern.)
    import shutil
    if os.path.isdir(data):
        for name in os.listdir(data):
            if not name.startswith('shard='):
                continue
            try:
                num = int(name.split('=', 1)[1])
            except ValueError:
                continue
            if num >= first_new:
                shutil.rmtree(os.path.join(data, name),
                              ignore_errors=True)

    sharded = shuffle_shards(df, id_col, tokens_col, tokens_per_shard,
                             seed=seed, epoch_col=epoch_col)
    shifted = (sharded
               .withColumn('offset', F.col('offset') + F.lit(base))
               .withColumn('shard',
                           F.expr(f'offset DIV {tokens_per_shard}')
                           .cast('long'))
               .withColumn('shard_offset',
                           (F.col('offset') % F.lit(tokens_per_shard))
                           .cast('long')))

    (shifted.repartition(F.col('shard'))
     .write.mode('append').partitionBy('shard').parquet(data))
    for dep in getattr(sharded, '_persisted_deps', ()):
        dep.unpersist()

    # manifest from the WRITTEN files (write_shards' attestation
    # contract), but pruned to the new shards only — batch-sized scan
    cols = ['shard', id_col, tokens_col] + ([epoch_col] if epoch_col
                                            else [])
    new_disk = (spark.read.parquet(data)
                .filter(F.col('shard') >= first_new).select(*cols))
    key = F.col(id_col).cast('string') if not epoch_col else \
        F.concat_ws('|', F.col(id_col).cast('string'),
                    F.col(epoch_col).cast('string'))
    batch_manifest = (new_disk
                      .groupBy(F.col('shard').cast('long').alias('shard'))
                      .agg(F.count('*').cast('long').alias('n_docs'),
                           F.sum(tokens_col).cast('long')
                           .alias('n_tokens'),
                           F.md5(F.concat_ws(',', F.array_sort(
                               F.collect_list(key)))).alias('ids_md5')))
    if batch_id is not None:
        # streaming idempotence record (see write_shards): committed
        # batches are recognizable from the manifest alone
        batch_manifest = batch_manifest.withColumn('batch_id',
                                                   F.lit(batch_id))
    batch_manifest.coalesce(1).write.mode('append').parquet(mpath)
    return spark.read.parquet(mpath)


def diff_manifests(spark, old_dir: str, new_dir: str) -> DataFrame:
    """Export versioning diff (round 6) — what changed between two
    shard exports, from their attested manifests alone: per shard,
    status ``unchanged`` (same n_docs/n_tokens/ids_md5), ``changed``
    (same shard id, different content), ``added`` or ``removed``.
    The question every training run asks before switching to a newer
    export — and the audit for the append-only contract: a correct
    ``append_shards`` history diffs as unchanged + added, NEVER
    changed or removed.

    Driver-scale by construction: manifests are one row per shard (the
    data files are never read), and the diff is one full-outer join on
    the shard id."""
    cols = ['shard', 'n_docs', 'n_tokens', 'ids_md5']
    o = spark.read.parquet(f'{old_dir}/_manifest').select(
        *[F.col(c).alias(f'o_{c}') for c in cols])
    n = spark.read.parquet(f'{new_dir}/_manifest').select(
        *[F.col(c).alias(f'n_{c}') for c in cols])
    j = o.join(n, o['o_shard'] == n['n_shard'], 'full_outer')
    status = (F.when(F.col('o_shard').isNull(), F.lit('added'))
              .when(F.col('n_shard').isNull(), F.lit('removed'))
              .when((F.col('o_ids_md5') == F.col('n_ids_md5'))
                    & (F.col('o_n_docs') == F.col('n_n_docs'))
                    & (F.col('o_n_tokens') == F.col('n_n_tokens')),
                    F.lit('unchanged'))
              .otherwise(F.lit('changed')))
    return j.select(
        F.coalesce(F.col('n_shard'), F.col('o_shard')).cast('long')
        .alias('shard'),
        status.alias('status'),
        F.coalesce(F.col('n_n_docs'), F.col('o_n_docs')).cast('long')
        .alias('n_docs'),
        F.coalesce(F.col('n_n_tokens'), F.col('o_n_tokens'))
        .cast('long').alias('n_tokens'))


def export_jsonl(spark, df: DataFrame, out_dir: str, id_col: str,
                 n_files: int, compression: str = 'gzip') -> DataFrame:
    """JSONL export (late round 5) — the loader-interchange sink:
    one JSON object per line (field order = the DataFrame's column
    order, so files are byte-deterministic given a layout), laid out
    range-clustered on ``id_col`` across ``n_files`` files, each file
    internally sorted. Same write-then-publish protocol as
    ``write_shards``: a ``_manifest`` parquet — per file the line
    count plus an order-INDEPENDENT md5 over the sorted id strings —
    is recomputed from the files actually on disk and written LAST.

    Scale shape: ONE range shuffle on the id (the same two-phase
    boundaries trade-off as with_global_offset does not arise — no
    cross-file arithmetic here), and to_json is a codegen expression.
    The manifest job extracts only the id per line
    (get_json_object) — it still re-reads the text files, so at
    100 TB either keep a parquet twin of the export for attestation
    or accept one extra pass over the sink (the cost is explicit, not
    silent).

    Returns the manifest (read back from disk)."""
    import os
    if n_files <= 0:
        raise ValueError(f'n_files must be positive, got {n_files}')
    data = os.path.join(out_dir, 'data')
    line = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    (df.repartitionByRange(n_files, F.col(id_col))
     .sortWithinPartitions(id_col)
     .select(line.alias('value'))
     .write.mode('error').option('compression', compression).text(data))

    on_disk = (spark.read.text(data)
               .select(F.input_file_name().alias('file'),
                       F.get_json_object('value', f'$.{id_col}')
                       .alias('id')))
    manifest = (on_disk.groupBy('file')
                .agg(F.count('*').cast('long').alias('n_lines'),
                     F.md5(F.concat_ws(',', F.array_sort(
                         F.collect_list('id')))).alias('ids_md5')))
    mpath = os.path.join(out_dir, '_manifest')
    manifest.coalesce(1).write.mode('error').parquet(mpath)
    return spark.read.parquet(mpath)


def verify_jsonl(spark, out_dir: str, id_col: str) -> bool:
    """Loader-side integrity check for an ``export_jsonl`` tree:
    re-derive the per-file manifest from the data files and compare
    with the stored one (False on any torn/missing/extra file)."""
    import os
    stored = spark.read.parquet(os.path.join(out_dir, '_manifest'))
    derived = (spark.read.text(os.path.join(out_dir, 'data'))
               .select(F.input_file_name().alias('file'),
                       F.get_json_object('value', f'$.{id_col}')
                       .alias('id'))
               .groupBy('file')
               .agg(F.count('*').cast('long').alias('n_lines'),
                    F.md5(F.concat_ws(',', F.array_sort(
                        F.collect_list('id')))).alias('ids_md5')))
    diff = (stored.exceptAll(derived).limit(1).count()
            + derived.exceptAll(stored).limit(1).count())
    return diff == 0
