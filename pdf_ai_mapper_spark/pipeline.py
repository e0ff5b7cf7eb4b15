"""End-to-end extraction pipeline with checkpoint/resume (SURVEY.md §3.1).

Stages (one batch job — the Spark re-expression of the reference's
upload→extract→preprocess→dedup loop):

    scan input → bucket = checkpoint.bucket_of(url, B)
               → fused extract+preprocess UDF → md5 → is_duplicate
                 (first-seen per content hash over the WHOLE input)
                 (no payload repartition — scan split sizing already
                  distributes work; see operators/extraction.extracted)
               → drop already-committed buckets (resume): the filter
                 applies to transform's output, so is_duplicate is
                 exact, and Catalyst pushes it below the extraction
                 UDF — committed buckets are never extracted; only
                 md5 over their payload feeds the first-seen aggregate
               → write parquet partitioned by bucket
                 (dynamic partition overwrite → atomic per-bucket
                  commits, crash-safe resume)
               → append per-bucket lineage counters to _checkpoints

Lineage counters: a native pre-pass counts ``rows_in`` per bucket.
``transform`` keeps every row, so each bucket's ``rows_out`` is that
same count; the write job observes only the error rows per touched
bucket and one total, and a total that differs from the pre-pass
fails the run before any counter is recorded.

Incremental batches (``dedup_against_output``) first drop every row
whose md5 is already committed: a left-anti join on the distinct
committed content hashes. With ``bloom_prefilter`` a capped collect
of those hashes picks the join, with cap = threshold // 64 B
(threshold = spark.sql.autoBroadcastJoinThreshold):

    cap ≥ 0 and a collect of at most cap + 1 distinct hashes returns
    ≤ cap of them
        → broadcast anti-join against that driver-local set (a
          LocalRelation): the batch never shuffles, and the pre-pass
          and the write scan no committed file
    otherwise (the collect overflowed, or the threshold is -1 and no
    collect is tried) the hashes are counted (n):
      Bloom bitmap for n keys ≤ its cap (operators/bloom.py)
        → Bloom pre-split: definite-new rows bypass the join, only
          the maybe-committed slice takes it
      otherwise
        → the plain join

Past cap distinct hashes (524,288 at the default 32 MiB threshold) a
batch pays one distinct pass more than a count alone would: the
overflowing collect. Without the flag the plain join runs uncounted,
planned from Spark's size estimate of the hash side. Every rung
commits the same rows.

Cited reference behavior: anti-join dedup replaces
``document_storage.py:86-103``; batched commit replaces the
pending-save flag ``document_storage.py:59-74``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as cp
from .config import DEFAULT_CONFIG, EngineConfig
from .operators.extraction import extracted

OUTPUT_COLUMNS = ['url', 'warc_ts', 'lang', 'doctype', 'content_hash',
                  'extracted_text', 'preprocessed_text', 'is_error',
                  'error_code', 'is_duplicate', 'run_id', 'processed_at',
                  'bucket']

# bytes one committed hash takes in a broadcast hash table: a 32-char
# md5 hex key in an UnsafeRow, plus its slot
_HASH_ROW_BYTES = 64


def transform(input_df: DataFrame, run_id: str,
              cfg: EngineConfig = DEFAULT_CONFIG) -> DataFrame:
    """The pure (no-IO) pipeline body: input web_pages → output rows."""
    out = input_df.withColumn('bucket', cp.bucket_of('url', cfg.output_buckets))
    out = extracted(out, preprocess_mode=cfg.preprocess_mode)
    # first-seen duplicate flag WITHOUT shuffling the heavy text rows:
    # a narrow (hash, ts, url) aggregation finds each hash's first
    # sighting, joined back on content_hash — AQE broadcasts the agg
    # side when it fits (then the whole pipeline is ONE parallel map
    # stage), and degrades to a shuffle-hash join at billions of
    # hashes. A window here would shuffle every extracted/preprocessed
    # text through the exchange and AQE-coalesce the reduce side down
    # to a few partitions (measured: a ~7 s serial floor at 80k rows).
    firsts = (out.groupBy('content_hash')
              .agg(F.min(F.struct('warc_ts', 'url')).alias('__first')))
    out = (out.join(firsts, on='content_hash', how='left')
           .withColumn('is_duplicate',
                       F.when(F.col('content_hash').isNull(), F.lit(False))
                       .otherwise(F.struct('warc_ts', 'url') != F.col('__first')))
           .drop('__first'))
    out = out.withColumn('run_id', F.lit(run_id))
    if 'text' in input_df.columns:  # fixture ground truth rides along in tests
        return out.select(*OUTPUT_COLUMNS, 'text')
    return out.select(*OUTPUT_COLUMNS)


def run_extraction(spark: SparkSession, input_df: DataFrame, output_path: str,
                   cfg: EngineConfig = DEFAULT_CONFIG,
                   run_id: str | None = None,
                   dedup_against_output: bool = False,
                   bloom_prefilter: bool = False) -> dict:
    """Execute (or resume) an extraction run. Returns run stats.

    ``bloom_prefilter`` (incremental mode only): size the content
    anti-join from the distinct committed hashes, so the batch
    shuffles as little as the hash set allows. A capped collect
    fetches at most cap + 1 of them (cap = the session's broadcast
    threshold // 64 B); when it holds at most cap, the batch meets
    that driver-local set in a broadcast anti-join (no shuffle), and
    the committed table is scanned once per batch. Otherwise one
    count sizes a Bloom pre-split (operators/bloom.py), where only the
    (dup_rate + fpp) slice of the batch shuffles, or, when the bitmap
    would exceed its cap, the plain join. Past cap hashes the
    overflowing collect is one distinct pass more than the count
    alone. Every choice commits the same rows as the plain anti-join,
    which runs uncounted when the flag is off.

    A resume (the default mode) skips every committed bucket, whatever
    the input: ``resumed_skipped_rows`` counts the input rows that hash
    into those buckets and are not written.

    Raises RuntimeError after the write when it saw a different row
    count than the pre-pass (the input or the committed table changed
    between the two jobs). No counters are recorded then, so the
    usual recovery heals the run: resume mode redoes the uncounted
    buckets, and append mode reconciles the pending intent from the
    data at the next run's start."""
    run_id = run_id or cp.new_run_id()
    bucket = cp.bucket_of('url', cfg.output_buckets)

    # roll a crashed rewrite forward before anything reads or writes
    # data/ (its promotion would otherwise move aside a bucket the
    # write below appends to), then heal any prior run that crashed
    # between its data append and its checkpoint append (exactly-once
    # counters; see cp.reconcile_intents)
    cp.recover_output(output_path)
    cp.reconcile_intents(spark, output_path)

    # two mutually exclusive recovery mechanisms:
    # - same-input resume (default): skip buckets already committed —
    #   correct only when the input is identical to the crashed run's;
    # - incremental batches (dedup_against_output): every bucket may
    #   receive NEW rows, so the bucket skip must not apply; the
    #   content anti-join below is what makes retries idempotent, and
    #   the committed-bucket scan is skipped (it skips nothing there).
    done = (set() if dedup_against_output
            else cp.committed_buckets(spark, output_path))
    skip = bucket.isin(sorted(done)) if done else F.lit(False)
    todo_df = input_df

    committed = (cp.read_output_or_none(spark, output_path)
                 if dedup_against_output else None)
    fresh = None  # the bloom's definite-new side, when a bloom was built
    entries: list[dict] = []
    # the bloom split persists the tagged batch and pins its bitmap on
    # every executor: release both whichever action fails (ADVICE r3)
    try:
        if committed is not None:
            # the raw input has no content_hash yet — derive it for the
            # anti-join only (md5 is cheap; the payload stays local)
            hashes = (committed.select(F.col('content_hash').alias('__h'))
                      .distinct())
            todo_df = todo_df.withColumn('__h', F.md5(F.col('html')))
            if bloom_prefilter:
                # autoBroadcastJoinThreshold in bytes; -1 never broadcasts
                threshold = (spark._jsparkSession.sessionState().conf()
                             .autoBroadcastJoinThreshold())
                cap = threshold // _HASH_ROW_BYTES  # -1 at a threshold of -1
                local = hashes.limit(cap + 1).toArrow() if cap >= 0 else None
                if local is not None and local.num_rows <= cap:
                    # the whole set, on the driver: the pre-pass and the
                    # write join a LocalRelation and rescan no committed
                    # file. Explicit broadcast: a planned sort-merge join
                    # would shuffle the batch before AQE could switch it
                    hashes = F.broadcast(spark.createDataFrame(local))
                else:
                    n = hashes.count()  # over cap: size the Bloom
                    from .operators import bloom
                    try:
                        bitmap = bloom.build_bloom(hashes, '__h',
                                                   expected_keys=n)
                    except ValueError:
                        bitmap = None  # over the bitmap cap → plain join
                    if bitmap is not None:
                        fresh, todo_df = bloom.bloom_split(todo_df, '__h',
                                                           bitmap)
            todo_df = todo_df.join(hashes, on='__h', how='left_anti')
            if fresh is not None:
                todo_df = fresh.unionByName(todo_df)
            todo_df = todo_df.drop('__h')

        # cheap native pass for per-bucket input counters (url column
        # only — the parquet scan prunes the payload); it counts the
        # committed buckets too, so the rows a resume drops are reported
        counts = {r['bucket']: r['n'] for r in
                  todo_df.select(bucket.alias('bucket'))
                  .groupBy('bucket').agg(F.count('*').alias('n')).collect()}
        rows_in = {b: n for b, n in counts.items() if b not in done}
        skipped_rows = sum(n for b, n in counts.items() if b in done)
        if rows_in:
            # skip AFTER transform: its first-seen aggregate must see
            # every input row, or a resume stores later copies whose
            # first sighting sits in a committed bucket as first-seen
            result = transform(todo_df, run_id, cfg).filter(~skip)
            # transform keeps every row, so rows_out = rows_in per
            # bucket; the write job observes only what it alone knows —
            # the error rows per touched bucket — plus one total that
            # proves the 1:1 claim (touched + 1 aggregates, evaluated
            # map-side on the write itself: no post-write re-scan)
            from pyspark.sql import Observation
            obs = Observation(f'lineage-{run_id}')
            result = result.observe(
                obs, F.count(F.lit(1)).alias('rows'),
                *[F.count_if((F.col('bucket') == b) & F.col('is_error'))
                  .alias(f'err_{b}') for b in sorted(rows_in)])
            # write mode per use case:
            # - resume of the SAME input (default): dynamic partition
            #   overwrite — a bucket is either committed or fully
            #   rewritten, crash-safe;
            # - incremental batches (dedup_against_output): append — new
            #   rows join existing buckets, and the content anti-join
            #   above makes a crashed run self-healing (already-written
            #   rows are dropped from the retry, so the append never
            #   duplicates). The intent marker written just before the
            #   append closes the remaining counter gap: a crash after
            #   the data commits but before the checkpoint append is
            #   reconciled at the next run's start.
            writer = result.write.partitionBy('bucket')
            if dedup_against_output:
                cp.write_intent(output_path, run_id)
                writer = writer.mode('append')
            else:
                writer = (writer.option('partitionOverwriteMode', 'dynamic')
                          .mode('overwrite'))
            writer.parquet(cp.data_path(output_path))

            vals = obs.get  # blocks until the write job reports its metrics
            if vals['rows'] != sum(rows_in.values()):
                raise RuntimeError(
                    f'run {run_id}: the write saw {vals["rows"]} rows but '
                    f'the pre-pass counted {sum(rows_in.values())}; the '
                    f'input or the committed table changed between them')
            entries = [{'run_id': run_id, 'bucket': int(b),
                        'rows_in': int(n), 'rows_out': int(n),
                        'error_rows': int(vals[f'err_{b}'])}
                       for b, n in sorted(rows_in.items())]
            cp.append_checkpoints(spark, output_path, entries)
            if dedup_against_output:
                cp.clear_intent(output_path, run_id)
    finally:
        if fresh is not None:
            bloom.release_blooms(fresh)

    return {
        'run_id': run_id,
        'buckets': len(entries),
        'rows_in': sum(e['rows_in'] for e in entries),
        'rows_out': sum(e['rows_out'] for e in entries),
        'error_rows': sum(e['error_rows'] for e in entries),
        'resumed_skipped_buckets': len(done),
        'resumed_skipped_rows': skipped_rows,
    }
