"""Checkpoint / lineage table: resumable, idempotent extraction runs
and crash-safe rewrites of the output table.

The reference batches JSON index writes behind a pending-save flag
(``document_storage.py:59-74``); at cluster scale that becomes
snapshot-style commits with per-bucket lineage (SURVEY.md §4.3).
Output is laid out in ``output_buckets`` url-hash buckets
(``bucket_of(url, B)``; the parquet layout here is Iceberg-shaped),
and three commit mechanisms keep it consistent under a crash at any
step, each a local-fs stand-in for an Iceberg snapshot commit:

- resume: a run writes its buckets with dynamic partition overwrite
  (atomic per bucket directory) and records, per committed bucket,
  run id, rows in/out, error-row count and commit timestamp in the
  ``_checkpoints`` parquet. A resumed run processes only the
  remaining buckets — re-running a finished job writes 0 rows
  (idempotence test in tests/test_pipeline.py).
- append: an append-mode run publishes ``_intents/<run_id>.json``
  before its data append and clears it after its checkpoint append;
  ``reconcile_intents`` rebuilds the counters of a run that crashed
  in between.
- rewrite: ``MapperAPI.cleanup_duplicates``, ``compact_output`` and
  ``upsert_output`` replace the rows of the buckets they touch
  through ``_rewrite_buckets`` (sibling tmp, published intent,
  per-bucket promotion); ``recover_output`` rolls a published intent
  forward, or discards an unpublished tmp, before every read and
  write.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = ('run_id string, bucket int, rows_in long, rows_out long, '
                     'error_rows long, committed_at timestamp')
_CHECKPOINT_COLUMNS = [f.split()[0] for f in CHECKPOINT_SCHEMA.split(', ')]


def checkpoint_path(output_path: str) -> str:
    return os.path.join(output_path, '_checkpoints')


def data_path(output_path: str) -> str:
    return os.path.join(output_path, 'data')


def bucket_of(key, n_buckets: int) -> Column:
    """The layout's bucket of ``key`` (a column or column name):
    ``pmod(xxhash64(key), n_buckets)`` as int."""
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast('int')


def is_missing_path_error(e: Exception) -> bool:
    """True only for the missing-input-path analysis error — a corrupt
    or permission-broken table must surface, not silently disable
    resume (which would reprocess every bucket)."""
    cond = None
    for attr in ('getCondition', 'getErrorClass'):
        get = getattr(e, attr, None)
        if callable(get):
            try:
                cond = get()
            except Exception:
                cond = None
            break
    s = str(e)
    return (cond == 'PATH_NOT_FOUND' or 'PATH_NOT_FOUND' in s
            or 'Path does not exist' in s)


def _absent(path: str) -> bool:
    """True when ``path`` is on the local filesystem and does not
    exist. A path with any other scheme is left to Spark."""
    from urllib.parse import urlparse
    url = urlparse(path)
    if url.scheme not in ('', 'file'):
        return False
    return not os.path.exists(url.path if url.scheme else path)


def read_or_none(read, *args, path: str) -> DataFrame | None:
    """``read(*args)``, or None when the table does not exist yet (a
    first run). When ``path``, the table's directory, is a local path
    that does not exist, ``read`` is not called: Spark is never asked
    (and logs no PATH_NOT_FOUND trace). For a non-local path, or one
    removed after that check, the missing-path error maps to None.
    Every other error re-raises."""
    from pyspark.errors import AnalysisException
    if _absent(path):
        return None
    try:
        return read(*args)
    except AnalysisException as e:
        if is_missing_path_error(e):
            return None
        raise


def committed_buckets(spark: SparkSession, output_path: str) -> set[int]:
    path = checkpoint_path(output_path)
    cps = read_or_none(spark.read.parquet, path, path=path)
    if cps is None:  # first run: no checkpoint table yet
        return set()
    return {r['bucket'] for r in cps.select('bucket').distinct().collect()}


def append_checkpoints(spark: SparkSession, output_path: str,
                       entries: list[dict]) -> None:
    """Append one ``CHECKPOINT_SCHEMA`` row per entry as ONE parquet
    file, every row stamped with the same driver-side ``committed_at``.
    The rows go from pandas to the JVM as Arrow, so no Python worker
    starts and no per-call timestamp literal enters generated code."""
    if not entries:
        return
    import datetime as dt
    import pandas as pd
    now = dt.datetime.now(dt.timezone.utc)
    rows = pd.DataFrame([{**e, 'committed_at': now} for e in entries],
                        columns=_CHECKPOINT_COLUMNS)
    (spark.createDataFrame(rows, CHECKPOINT_SCHEMA).coalesce(1)
     .write.mode('append').parquet(checkpoint_path(output_path)))


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


# -- exactly-once lineage counters for append-mode (incremental) runs --
#
# Append-mode writes commit rows in the parquet job; the lineage
# counters land in a SECOND write (append_checkpoints).  A crash in
# between leaves rows committed but uncounted — and because the
# content anti-join makes retries drop already-written rows, the
# counters would stay wrong forever.  The fix is a tiny intent marker:
#
#   write _intents/<run_id>.json  (holds only the run_id)
#   → parquet append job commits
#   → append_checkpoints
#   → remove the marker
#
# ``reconcile_intents`` (called at the start of every run) finds
# orphaned markers and rebuilds the missing checkpoint entries by
# scanning ONLY the crashed run's rows (run_id + bucket + is_error —
# three narrow columns, column-pruned); rows_in = rows_out, as
# ``transform`` keeps every row.  Older markers that also carry a
# per-bucket rows_in map stay readable; the map is ignored.  Normal
# startup cost is one listdir.  On a real cluster this marker is a row
# in a run-state table next to the Iceberg snapshot log.

def intents_path(output_path: str) -> str:
    return os.path.join(output_path, '_intents')


def _publish_json(path: str, obj: dict) -> None:
    """Write ``obj`` to ``path`` so that a reader sees all of it or
    nothing: write a sibling, then rename (atomic)."""
    tmp = path + '.tmp'
    with open(tmp, 'w') as f:
        json.dump(obj, f)
    os.rename(tmp, path)


def write_intent(output_path: str, run_id: str) -> None:
    d = intents_path(output_path)
    os.makedirs(d, exist_ok=True)
    _publish_json(os.path.join(d, f'{run_id}.json'), {'run_id': run_id})


def clear_intent(output_path: str, run_id: str) -> None:
    try:
        os.remove(os.path.join(intents_path(output_path), f'{run_id}.json'))
    except FileNotFoundError:
        pass


def pending_intents(output_path: str) -> list[dict]:
    d = intents_path(output_path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in sorted(os.listdir(d)):
        if not name.endswith('.json'):
            continue
        with open(os.path.join(d, name)) as f:
            out.append(json.load(f))
    return out


def reconcile_intents(spark: SparkSession, output_path: str) -> int:
    """Rebuild lineage entries for runs that crashed between the data
    append and the checkpoint append.  Returns the number of runs
    reconciled.  Idempotent: a marker whose entries already exist (the
    crash hit between append_checkpoints and clear_intent) is simply
    cleared."""
    intents = pending_intents(output_path)
    if not intents:
        return 0

    def _run_ids(path: str) -> set[str]:
        df = read_or_none(spark.read.parquet, path, path=path)
        if df is None:
            return set()
        return {r['run_id'] for r in df.select('run_id').distinct().collect()}

    counted = _run_ids(checkpoint_path(output_path))
    written = _run_ids(data_path(output_path))
    fixed = 0
    for intent in intents:
        rid = intent['run_id']
        if rid in written and rid not in counted:
            stats = (spark.read.parquet(data_path(output_path))
                     .filter(F.col('run_id') == rid)
                     .groupBy('bucket')
                     .agg(F.count('*').alias('out'),
                          F.sum(F.col('is_error').cast('long')).alias('err'))
                     .collect())
            append_checkpoints(spark, output_path, [
                {'run_id': rid, 'bucket': int(r['bucket']),
                 'rows_in': int(r['out']), 'rows_out': int(r['out']),
                 'error_rows': int(r['err'])}
                for r in stats])
            fixed += 1
        clear_intent(output_path, rid)
    return fixed


def recover_output(output_path: str) -> None:
    """Finish or discard a table rewrite (``_rewrite_buckets``) that a
    crash interrupted. With a published intent the rewrite had been
    written in full, so the per-bucket promotion rolls FORWARD;
    without one the crash hit before the publish, the stored table is
    untouched, and the stray tmp and old directories are discarded.
    Readers and writers call it first: a bucket a writer wrote before
    the roll-forward would be moved aside by it."""
    data = data_path(output_path)
    tmp, old, intent = _rewrite_paths(data)
    if os.path.exists(intent):
        with open(intent) as f:
            published = json.load(f)
        _promote_rewrite(data, published['buckets'], published['emptied'])
    else:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)


def read_output(spark: SparkSession, output_path: str) -> DataFrame:
    recover_output(output_path)
    return spark.read.parquet(data_path(output_path))


def read_output_or_none(spark: SparkSession,
                        output_path: str) -> DataFrame | None:
    """``read_output``, or None while the table has no ``data`` yet."""
    return read_or_none(read_output, spark, output_path,
                        path=data_path(output_path))


# -- the table's one rewrite: cleanup, compaction and upsert --
#
# A rewrite replaces the rows of some buckets and keeps every other
# bucket's files.  It writes the new rows to a sibling tmp, partitioned
# by bucket; publishes an intent that lists the affected buckets
# (atomic rename); then promotes bucket by bucket: the old bucket
# directory moves aside and the tmp's moves in.  A bucket the rewrite
# empties has no tmp directory, so the intent names it apart and its
# promotion only moves it aside.  On a real cluster the whole step is
# one Iceberg snapshot commit.

def _rewrite_paths(data: str) -> tuple[str, str, str]:
    return (data + '.rewrite_tmp', data + '.rewrite_old',
            data + '.rewrite_intent.json')


def _rewrite_buckets(data: str, rows: DataFrame, buckets: list[int],
                     expect_rows: int | None = None) -> None:
    """Replace the rows of ``buckets`` in the table at ``data`` with
    ``rows``, which hold only those buckets (none at all empties a
    bucket). With ``expect_rows``, the written tmp is read back and
    its row count checked before anything is published; on a mismatch
    the tmp is dropped and the table is left untouched."""
    tmp, _old, intent = _rewrite_paths(data)
    rows.write.partitionBy('bucket').mode('error').parquet(tmp)
    if expect_rows is not None:
        n = rows.sparkSession.read.parquet(tmp).count()
        if n != expect_rows:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                f'rewrite row-count mismatch: {expect_rows} -> {n}; '
                f'original data left untouched')
    # an emptied bucket has no directory in the tmp, and with every
    # row dropped the tmp itself may be missing
    written = set(os.listdir(tmp)) if os.path.isdir(tmp) else set()
    emptied = [n for n in buckets if f'bucket={n}' not in written]
    # from here on a crash rolls forward; before here the stored
    # table is untouched
    _publish_json(intent, {'buckets': buckets, 'emptied': emptied})
    _promote_rewrite(data, buckets, emptied)


def _promote_rewrite(data: str, buckets: list[int],
                     emptied: list[int]) -> None:
    """Per-bucket promotion, idempotent so that recovery can resume it.
    A bucket's directory moves aside while its replacement still waits
    in the tmp, or when the rewrite emptied it; then the replacement
    moves in. Per bucket the only reachable states are not started,
    moved aside and done, and os.rename is atomic, so none is
    ambiguous: an emptied bucket is done only once it is gone."""
    tmp, old, intent = _rewrite_paths(data)
    for n in buckets:
        name = f'bucket={n}'
        t, d = os.path.join(tmp, name), os.path.join(data, name)
        if os.path.exists(d) and (n in emptied or os.path.exists(t)):
            os.makedirs(old, exist_ok=True)
            os.rename(d, os.path.join(old, name))
        if os.path.exists(t):
            os.rename(t, d)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    os.remove(intent)


def compact_output(spark: SparkSession, output_path: str) -> dict:
    """Small-file compaction for the bucketed batch layout.

    Every append-mode run (incremental batches via
    ``run_extraction(dedup_against_output=True)``) adds ≥1 file per
    touched bucket, so file count grows linearly with runs — at
    cluster scale each read then pays one open()+footer parse per tiny
    file. Rewrites each bucket into one file (repartition on bucket)
    through ``_rewrite_buckets``, which checks the rewrite's row count
    before it publishes. The lineage table is untouched: compaction
    moves bytes, not rows, so resume semantics and counters stay
    valid. On a real cluster this is Iceberg's rewrite-data-files
    snapshot commit."""
    data = data_path(output_path)
    df = read_output(spark, output_path)
    files_before = len(df.inputFiles())
    n_rows = df.count()
    buckets = [r['bucket'] for r in df.select('bucket').distinct().collect()]
    parts = df.repartition(max(1, len(buckets)), F.col('bucket'))
    _rewrite_buckets(data, parts, buckets, expect_rows=n_rows)
    files_after = len(spark.read.parquet(data).inputFiles())
    return {'rows': int(n_rows), 'files_before': int(files_before),
            'files_after': int(files_after)}


def upsert_output(spark: SparkSession, output_path: str,
                  batch: DataFrame, key_col: str = 'url',
                  order_col: str = 'crawl_ts',
                  n_buckets: int = 64) -> dict:
    """Recrawl upsert — MERGE INTO for the bucketed layout (the
    Iceberg MERGE stand-in, reference persistence document_storage.py:
    50-74): keep-latest per key between the stored table and a new
    batch. Rows with a matched key are replaced when the batch row's
    ``order_col`` is >= the stored one (a re-crawl at the same
    timestamp refreshes — ties go to the BATCH); unmatched batch keys
    insert; stored rows the batch never mentions are untouched BYTES —
    only the buckets containing batch keys are read and rewritten
    (per-bucket directory promotion, see crash safety below).

    Contract: ``batch`` carries the stored schema minus ``bucket``
    (computed here with the layout's own hash), is key-unique, and
    ``order_col`` is non-null. ``n_buckets`` must equal the layout's
    bucket count — a different value scatters keys into the wrong
    directories. On an engine table, ``is_duplicate`` is stored as the
    batch gives it, never recomputed here; search and
    ``MapperAPI.cleanup_duplicates`` trust that value as the
    first-seen-per-content-hash flag, so the caller must keep it true.

    Scale shape: the affected-bucket set collects driver-side
    (≤ n_buckets ints); the stored scan is partition-pruned to those
    directories (bucket is the partition column — Spark never lists
    the others); the merge is ONE groupBy(key) max_by over the
    affected slice + batch — payloads shuffle once, bounded by the
    slice, never the whole table. At 1000 buckets a batch touching 1%
    of keys rewrites ~63% of buckets (birthday bound) — size
    n_buckets so a typical batch's bucket fan-out stays well under
    the table, or bucket by host for crawl-locality.

    Crash safety (ADVICE r5 #3): the merged plan READS the same bucket
    directories it replaces, and V1 dynamic partition overwrite deletes
    matched dirs during commit — an in-place overwrite can lose the
    affected buckets on a mid-commit failure with no recovery path.
    So the merge goes through ``_rewrite_buckets``, the table's one
    rewrite, as cleanup and compaction do: a SIBLING tmp dir first,
    then an atomically published intent (the affected-bucket list),
    then per-bucket renames that ``recover_output`` rolls forward
    after any crash."""
    from pyspark.sql import Observation

    b = batch.withColumn('bucket', bucket_of(key_col, n_buckets))
    affected = sorted(r['bucket']
                      for r in b.select('bucket').distinct().collect())
    if not affected:
        return {'buckets_rewritten': 0, 'rows_written': 0}

    stored = (read_output(spark, output_path)
              .filter(F.col('bucket').isin(affected))
              .withColumn('__src', F.lit(0)))
    cols = [c for c in stored.columns if c != '__src']
    bb = b.select(*cols).withColumn('__src', F.lit(1))
    pick = F.max_by(
        F.struct(*[F.col(c) for c in cols]),
        F.struct(F.col(order_col), F.col('__src'))).alias('__row')
    obs = Observation()
    merged = (stored.unionByName(bb)
              .groupBy(key_col).agg(pick).select('__row.*')
              .observe(obs, F.count(F.lit(1)).alias('n')))
    _rewrite_buckets(data_path(output_path), merged, affected)
    return {'buckets_rewritten': len(affected),
            'rows_written': int(obs.get['n'])}
