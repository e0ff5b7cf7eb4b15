"""End-to-end extraction pipeline with checkpoint/resume (SURVEY.md §3.1).

Stages (one batch job — the Spark re-expression of the reference's
upload→extract→preprocess→dedup loop):

    scan input → bucket = pmod(xxhash64(url), B)
               → drop already-committed buckets (resume)
               → fused extract+preprocess UDF → md5 → dedup rank
                 (no payload repartition — scan split sizing already
                  distributes work; see operators/extraction.extracted)
               → write parquet partitioned by bucket
                 (dynamic partition overwrite → atomic per-bucket
                  commits, crash-safe resume)
               → append per-bucket lineage counters to _checkpoints

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


def transform(input_df: DataFrame, run_id: str,
              cfg: EngineConfig = DEFAULT_CONFIG,
              partitions: int | None = None) -> DataFrame:
    """The pure (no-IO) pipeline body: input web_pages → output rows."""
    out = input_df.withColumn(
        'bucket', F.pmod(F.xxhash64('url'), F.lit(cfg.output_buckets)).cast('int'))
    out = extracted(out, payload_col='html', partitions=partitions,
                    preprocess_mode=cfg.preprocess_mode)
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


def with_status(df: DataFrame) -> DataFrame:
    """J4 status projection (reference app/api/status.py:36-42): derive
    per-document status without any join — the output table is
    denormalized. 'error' when extraction failed, 'processing' when
    categories are absent/empty, else 'processed'."""
    has_cats = ('categories' in df.columns)
    cats_ok = (F.size('categories') > 0) if has_cats else F.lit(False)
    return df.withColumn(
        'status',
        F.when(F.col('is_error'), F.lit('error'))
        .when(~cats_ok, F.lit('processing'))
        .otherwise(F.lit('processed')))


def run_extraction(spark: SparkSession, input_df: DataFrame, output_path: str,
                   cfg: EngineConfig = DEFAULT_CONFIG,
                   run_id: str | None = None,
                   dedup_against_output: bool = False,
                   bloom_prefilter: bool = False) -> dict:
    """Execute (or resume) an extraction run. Returns run stats.

    ``bloom_prefilter`` (incremental mode only): pre-split the batch
    with a Bloom filter over the committed hash set so definite-new
    rows bypass the anti-join shuffle entirely — only the (dup_rate +
    fpp) slice of the batch shuffles. Result is byte-identical to the
    plain anti-join (operators/bloom.py); on an over-cap corpus the
    bloom build raises and we fall back to the plain join."""
    run_id = run_id or cp.new_run_id()
    bucket = F.pmod(F.xxhash64('url'), F.lit(cfg.output_buckets)).cast('int')

    # heal any prior run that crashed between its data append and its
    # checkpoint append (exactly-once counters; see cp.reconcile_intents)
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
    todo_df = input_df
    if done:
        todo_df = todo_df.filter(~bucket.isin(sorted(done)))

    cleanup_dfs: list = []  # bloom-path caches/broadcasts, released on exit
    cleanup_bcs: list = []

    def _release_bloom_state() -> None:
        for d in cleanup_dfs:
            d.unpersist()
        for b in cleanup_bcs:
            b.unpersist()

    # everything from the bloom split through the final action runs
    # under try/finally: any failing action (counters collect, observe,
    # the write itself) would otherwise leak the persisted tagged batch
    # and keep the bloom bitmap pinned on every executor for the
    # session lifetime (ADVICE r3)
    try:
        if dedup_against_output:
            from pyspark.errors import AnalysisException
            try:
                committed = cp.read_output(spark, output_path)
            except AnalysisException as e:
                if not cp.is_missing_path_error(e):
                    raise  # corrupt/permission-broken output must surface
                committed = None  # first run — nothing committed yet
            if committed is not None:
                # the raw input has no content_hash yet — derive it for the
                # anti-join only (md5 is cheap; the payload stays local)
                hashes = (committed.select('content_hash').distinct()
                          .withColumnRenamed('content_hash', '__h'))
                todo_df = todo_df.withColumn('__h', F.md5(F.col('html')))
                if bloom_prefilter:
                    from .operators.bloom import build_bloom, might_contain_col
                    try:
                        bitmap = build_bloom(hashes, '__h')
                    except ValueError:
                        bitmap = None  # over the broadcast cap → plain join
                    if bitmap is not None:
                        # persist the tagged BATCH once (the small, bounded
                        # side; the committed corpus stays uncached and
                        # unshuffled): both union branches and both
                        # downstream actions (counters + write) would
                        # otherwise re-scan the input and re-run md5 + the
                        # bloom UDF per branch per action
                        tagged = might_contain_col(todo_df, '__h',
                                                   bitmap).persist()
                        fresh = (tagged.filter(~F.col('__bloom_maybe'))
                                 .drop('__bloom_maybe'))
                        maybe = (tagged.filter(F.col('__bloom_maybe'))
                                 .drop('__bloom_maybe'))
                        cleanup_dfs = [tagged]
                        cleanup_bcs = tagged._bloom_broadcasts
                        todo_df = fresh.unionByName(
                            maybe.join(hashes, on='__h', how='left_anti'))
                    else:
                        todo_df = todo_df.join(hashes, on='__h',
                                               how='left_anti')
                else:
                    todo_df = todo_df.join(hashes, on='__h', how='left_anti')
                todo_df = todo_df.drop('__h')

        # cheap native pass for per-bucket input counters (url column
        # only — the parquet scan prunes the payload)
        rows_in = {r['bucket']: r['n'] for r in
                   todo_df.select(bucket.alias('bucket'))
                   .groupBy('bucket').agg(F.count('*').alias('n')).collect()}
        if not rows_in:
            return {'run_id': run_id, 'buckets': 0, 'rows_in': 0,
                    'rows_out': 0, 'error_rows': 0,
                    'resumed_skipped_buckets': len(done)}

        result = transform(todo_df, run_id, cfg)

        # lineage counters ride ON the write job via df.observe() — the
        # earlier post-write re-scan read the whole output table back
        # (run_id is not a partition key, so at 100 TB that is a full
        # footer scan). Per-bucket conditional sums are bounded by
        # cfg.output_buckets, evaluated map-side at zero extra passes.
        from pyspark.sql import Observation
        obs = Observation(f'lineage-{run_id}')
        buckets_todo = sorted(rows_in)
        metrics = []
        for b in buckets_todo:
            metrics.append(F.sum(F.when(F.col('bucket') == b, 1).otherwise(0))
                           .cast('long').alias(f'out_{b}'))
            metrics.append(
                F.sum(F.when((F.col('bucket') == b) & F.col('is_error'), 1)
                      .otherwise(0)).cast('long').alias(f'err_{b}'))
        result = result.observe(obs, metrics[0], *metrics[1:])
        # write mode per use case:
        # - resume of the SAME input (default): dynamic partition
        #   overwrite — a bucket is either committed or fully rewritten,
        #   crash-safe;
        # - incremental batches (dedup_against_output): append — new rows
        #   join existing buckets, and the content anti-join above makes a
        #   crashed run self-healing (already-written rows are dropped
        #   from the retry, so the append never duplicates). The intent
        #   marker written just before the append closes the remaining
        #   counter gap: a crash after the data commits but before the
        #   checkpoint append is reconciled at the next run's start.
        if dedup_against_output:
            cp.write_intent(output_path, run_id, rows_in)
        writer = result.write.partitionBy('bucket')
        if dedup_against_output:
            writer = writer.mode('append')
        else:
            writer = (writer.option('partitionOverwriteMode', 'dynamic')
                      .mode('overwrite'))
        writer.parquet(cp.data_path(output_path))

        vals = obs.get  # blocks until the write job reports its metrics
    finally:
        _release_bloom_state()
    entries = [{'run_id': run_id, 'bucket': int(b),
                'rows_in': int(rows_in.get(b, 0)),
                'rows_out': int(vals[f'out_{b}']),
                'error_rows': int(vals[f'err_{b}'])}
               for b in buckets_todo if int(vals[f'out_{b}']) > 0]
    cp.append_checkpoints(spark, output_path, entries)
    if dedup_against_output:
        cp.clear_intent(output_path, run_id)

    return {
        'run_id': run_id,
        'buckets': len(entries),
        'rows_in': sum(e['rows_in'] for e in entries),
        'rows_out': sum(e['rows_out'] for e in entries),
        'error_rows': sum(e['error_rows'] for e in entries),
        'resumed_skipped_buckets': len(done),
    }
