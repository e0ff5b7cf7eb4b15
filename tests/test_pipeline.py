"""Checkpoint/resume semantics of run_extraction (SURVEY.md §4.3)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_ai_mapper_spark import checkpoint as cp
from pdf_ai_mapper_spark.config import EngineConfig
from pdf_ai_mapper_spark.fixtures.webpages import web_pages_df
from pdf_ai_mapper_spark.pipeline import run_extraction

CFG = EngineConfig(shuffle_partitions=8, output_buckets=8)


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix='pam_test_out_')
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_run_then_resume_is_idempotent(spark, outdir):
    pages = web_pages_df(spark, 120, num_partitions=4)
    s1 = run_extraction(spark, pages, outdir, CFG)
    assert s1['rows_in'] == 120 and s1['rows_out'] == 120
    assert s1['buckets'] == CFG.output_buckets

    n1 = cp.read_output(spark, outdir).count()
    s2 = run_extraction(spark, pages, outdir, CFG)
    assert s2['rows_out'] == 0 and s2['buckets'] == 0
    assert s2['resumed_skipped_buckets'] == CFG.output_buckets
    assert s2['resumed_skipped_rows'] == 120
    assert cp.read_output(spark, outdir).count() == n1


def test_partial_run_resumes_remaining_buckets(spark, outdir):
    """Simulate a crash after some buckets committed: drop half the
    checkpoint entries, rerun, and expect exactly the missing buckets
    to be (re)processed with no duplicated output rows — and the
    resumed table to equal a clean run's (is_duplicate included)."""
    pages = web_pages_df(spark, 120, num_partitions=4)
    run_extraction(spark, pages, outdir, CFG)
    clean = cp.read_output(spark, outdir).drop('run_id', 'processed_at')
    clean = sorted(clean.collect())

    # forge a partial checkpoint table: keep only buckets < 4
    cps = spark.read.parquet(cp.checkpoint_path(outdir))
    kept = cps.filter(F.col('bucket') < 4)
    kept_pd = kept.toPandas()
    shutil.rmtree(cp.checkpoint_path(outdir))
    spark.createDataFrame(kept_pd).write.parquet(cp.checkpoint_path(outdir))

    s = run_extraction(spark, pages, outdir, CFG)
    assert s['resumed_skipped_buckets'] == 4
    assert s['buckets'] == CFG.output_buckets - 4
    b = cp.bucket_of('url', CFG.output_buckets)
    assert s['resumed_skipped_rows'] == pages.filter(b < 4).count()
    assert s['rows_in'] == 120 - s['resumed_skipped_rows']

    out = cp.read_output(spark, outdir)
    assert out.count() == 120                        # no dup rows
    assert out.select('url').distinct().count() == 120
    assert sorted(out.drop('run_id', 'processed_at').collect()) == clean


def test_lineage_counters_sum_to_input(spark, outdir):
    pages = web_pages_df(spark, 90, num_partitions=4)
    run_extraction(spark, pages, outdir, CFG)
    cps = spark.read.parquet(cp.checkpoint_path(outdir))
    agg = cps.agg(F.sum('rows_in').alias('i'), F.sum('rows_out').alias('o'),
                  F.sum('error_rows').alias('e')).collect()[0]
    assert agg['i'] == 90 and agg['o'] == 90 and agg['e'] == 0


def test_dedup_against_output_anti_join(spark, outdir):
    """J1 at the pipeline level (incremental mode): a second batch whose
    rows' content_hash is already committed gets anti-joined away; only
    genuinely new rows append, and retries are idempotent."""
    run_extraction(spark, web_pages_df(spark, 60, num_partitions=4),
                   outdir, CFG, dedup_against_output=True)
    n1 = cp.read_output(spark, outdir).count()
    assert n1 == 60

    # second batch: rows 0-59 repeated + rows 60-89 new
    s = run_extraction(spark, web_pages_df(spark, 90, num_partitions=4),
                       outdir, CFG, dedup_against_output=True)
    out = cp.read_output(spark, outdir)
    assert s['rows_in'] == 30          # only the 30 genuinely new rows
    assert s['resumed_skipped_buckets'] == 0  # incremental mode skips none
    assert out.count() == 90
    assert out.groupBy('url').count().filter('count > 1').count() == 0

    # retry of the same batch (simulated crash-recovery) → no-op
    s2 = run_extraction(spark, web_pages_df(spark, 90, num_partitions=4),
                        outdir, CFG, dedup_against_output=True)
    assert s2['rows_in'] == 0
    assert cp.read_output(spark, outdir).count() == 90


def _plans(spark):
    """The physical plan of every SQL execution the session's status
    store holds, oldest first (the tests set ``spark.sql.ui.explainMode``
    to simple)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [execs.apply(i).physicalPlanDescription()
            for i in range(execs.size())]


def _last_write_plan(spark, path):
    """(depth, node) lines of the final physical plan of the last SQL
    execution that wrote ``path``."""
    plan = [p for p in _plans(spark)
            if f'InsertIntoHadoopFsRelationCommand file:{path},' in p][-1]
    final = plan.split('== Initial Plan ==')[0].splitlines()[3:]
    return [(len(line) - len(line.lstrip(' :+-')), line.lstrip(' :+-'))
            for line in final if line.strip()]


def _subtree(nodes, i):
    """Index range of node ``i``'s subtree (itself excluded)."""
    end = i + 1
    while end < len(nodes) and nodes[end][0] > nodes[i][0]:
        end += 1
    return range(i + 1, end)


def test_small_committed_set_broadcasts_the_anti_join(spark, outdir,
                                                      monkeypatch):
    """With ``bloom_prefilter`` and a committed hash set that fits the
    broadcast threshold, the batch meets the hashes in a broadcast
    anti-join: no Bloom is built and the batch never shuffles on the
    join key. The hashes are collected once: of the batch's SQL
    executions exactly one scans the committed table, and the join's
    build side is that driver-local set. The committed rows equal the
    plain join's."""
    import re
    from pdf_ai_mapper_spark.operators import bloom

    def no_bloom(*a, **kw):
        raise AssertionError('build_bloom called on a broadcastable set')

    monkeypatch.setattr(bloom, 'build_bloom', no_bloom)
    plain_dir = outdir + '_plain'
    tables = {}
    old = spark.conf.get('spark.sql.ui.explainMode')
    try:
        spark.conf.set('spark.sql.ui.explainMode', 'simple')
        for out, prefilter in ((plain_dir, False), (outdir, True)):
            for n in (60, 90):  # rows 0-59 committed, then 30 new
                before = len(_plans(spark))
                run_extraction(spark, web_pages_df(spark, n, num_partitions=4),
                               out, CFG, dedup_against_output=True,
                               bloom_prefilter=prefilter)
            batch = _plans(spark)[before:]  # the second batch's
            tables[prefilter] = sorted(
                cp.read_output(spark, out).drop('run_id', 'processed_at')
                .collect())
        nodes = _last_write_plan(spark, cp.data_path(outdir))
    finally:
        spark.conf.set('spark.sql.ui.explainMode', old)
        shutil.rmtree(plain_dir, ignore_errors=True)
    assert len(tables[True]) == 90 and tables[True] == tables[False]
    scans = [p for p in batch
             if f'InMemoryFileIndex(1 paths)[file:{cp.data_path(outdir)}]'
             in p]
    assert len(scans) == 1, '\n\n'.join(scans)

    joins = [i for i, (_, node) in enumerate(nodes) if re.search(
        r'BroadcastHashJoin \[__h#\d+\], \[__h#\d+\], LeftAnti, BuildRight',
        node)]
    assert joins, '\n'.join(node for _, node in nodes)
    build_side = set()
    for i in joins:
        children = [j for j in _subtree(nodes, i)
                    if nodes[j][0] == nodes[i][0] + 3]
        streamed, build = children
        # the batch scan side reaches the join with no exchange at all
        assert not any('Exchange' in nodes[j][1]
                       for j in range(streamed, build))
        build_side.update(_subtree(nodes, build))
    # the build side is the collected set (a reused exchange of it at
    # the second join), not a scan of the table
    build_nodes = [nodes[j][1] for j in sorted(build_side)]
    assert any(node.startswith('LocalTableScan [__h#')
               for node in build_nodes)
    assert not any('FileScan' in node for node in build_nodes), build_nodes
    assert not any('hashpartitioning(__h' in node for _, node in nodes)


def test_bucketed_table_is_listed_on_the_driver(spark, outdir):
    """Reading a 64-bucket table lists its bucket directories in the
    driver: the read starts no job with more than one task (Spark's
    parallel listing would start one task per directory), and counting
    it starts no job with as many tasks as there are buckets."""
    (spark.range(640).withColumn('bucket', (F.col('id') % 64).cast('int'))
     .coalesce(1).write.partitionBy('bucket').parquet(cp.data_path(outdir)))
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def tasks_per_job(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty('spark.jobGroup.id', None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return [sum(tracker.getStageInfo(s).numTasks
                    for s in tracker.getJobInfo(j).stageIds)
                for j in tracker.getJobIdsForGroup(group)]

    assert max(tasks_per_job('listing-read',
                             lambda: cp.read_output(spark, outdir))) == 1
    assert max(tasks_per_job(
        'listing-count',
        lambda: cp.read_output(spark, outdir).count())) < 64


def test_missing_table_reads_none_without_calling_spark(spark, outdir,
                                                      monkeypatch):
    """A local table directory that does not exist reads as None before
    the reader is called; a table that exists but is corrupt still
    raises."""
    import os

    def must_not_read(*a):
        raise AssertionError('reader called for a missing directory')

    missing = os.path.join(outdir, 'missing')
    assert cp.read_or_none(must_not_read, missing, path=missing) is None
    assert cp.read_or_none(must_not_read, 'file:' + missing,
                           path='file:' + missing) is None
    with monkeypatch.context() as m:
        m.setattr(cp, 'read_output', must_not_read)
        assert cp.read_output_or_none(spark, missing) is None
    assert cp.committed_buckets(spark, missing) == set()

    os.makedirs(missing)
    with open(os.path.join(missing, 'part-0.parquet'), 'wb') as f:
        f.write(b'this is not parquet')
    with pytest.raises(Exception, match='[Pp]arquet|Job aborted'):
        cp.read_or_none(spark.read.parquet, missing, path=missing).count()


def test_each_checkpoint_append_writes_one_file(spark, outdir, monkeypatch):
    """Every append_checkpoints call — after a run's write and from
    reconcile_intents — adds exactly one parquet file in
    CHECKPOINT_SCHEMA, with one non-null committed_at per call."""
    import os

    def files():
        return {f for f in os.listdir(cp.checkpoint_path(outdir))
                if f.endswith('.parquet')}

    run_extraction(spark, web_pages_df(spark, 60, num_partitions=4),
                   outdir, CFG, dedup_against_output=True)
    assert len(files()) == 1

    def dying_append(*a, **kw):
        raise RuntimeError('injected crash before checkpoint append')

    monkeypatch.setattr('pdf_ai_mapper_spark.pipeline.cp.append_checkpoints',
                        dying_append)
    with pytest.raises(RuntimeError, match='injected crash'):
        run_extraction(spark, web_pages_df(spark, 90, num_partitions=4),
                       outdir, CFG, dedup_against_output=True,
                       run_id='crashedrun02')
    monkeypatch.undo()
    assert len(files()) == 1
    assert cp.reconcile_intents(spark, outdir) == 1
    assert len(files()) == 2

    cps = spark.read.parquet(cp.checkpoint_path(outdir))
    assert cps.schema == spark.createDataFrame([], cp.CHECKPOINT_SCHEMA).schema
    per_run = cps.groupBy('run_id').agg(
        F.count('*').alias('rows'),
        F.count('committed_at').alias('stamped'),
        F.countDistinct('committed_at').alias('stamps')).collect()
    assert len(per_run) == 2
    for r in per_run:
        assert r['rows'] > 1 and r['stamped'] == r['rows'] and r['stamps'] == 1


def test_corrupt_checkpoint_table_surfaces(spark, outdir):
    """A broken _checkpoints table must raise, not silently disable
    resume (checkpoint.committed_buckets narrows its catch to the
    missing-path error only)."""
    import os
    import pytest

    os.makedirs(cp.checkpoint_path(outdir), exist_ok=True)
    with open(os.path.join(cp.checkpoint_path(outdir), 'part-0.parquet'), 'wb') as f:
        f.write(b'this is not parquet')
    # corrupt footers raise a SparkException (not the missing-path
    # AnalysisException) — committed_buckets must let it propagate
    with pytest.raises(Exception, match='[Pp]arquet|Job aborted'):
        cp.committed_buckets(spark, outdir)


def test_compact_output_preserves_rows_and_reduces_files(spark, outdir):
    """Three incremental append runs fragment the buckets; compaction
    rewrites to ~1 file per bucket with identical rows, and resume
    semantics survive (lineage table untouched)."""
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_pandas
    for start in (0, 100, 200):
        batch = spark.createDataFrame(web_pages_pandas(40, start=start))
        run_extraction(spark, batch, outdir, CFG, dedup_against_output=True)

    before = cp.read_output(spark, outdir)
    rows_before = sorted(r['url'] for r in before.select('url').collect())
    files_before = len(before.inputFiles())

    stats = cp.compact_output(spark, outdir)
    assert stats['rows'] == len(rows_before) == 120
    assert stats['files_after'] < files_before
    assert stats['files_after'] <= CFG.output_buckets

    after = cp.read_output(spark, outdir)
    assert sorted(r['url'] for r in after.select('url').collect()) == rows_before
    # retry of already-ingested batch is still a no-op after compaction
    batch = spark.createDataFrame(web_pages_pandas(40, start=0))
    s = run_extraction(spark, batch, outdir, CFG, dedup_against_output=True)
    assert s['rows_in'] == 0
    assert cp.read_output(spark, outdir).count() == 120


def _crash_after_intent(monkeypatch, rewrite):
    """Run ``rewrite`` (a compaction or a cleanup) up to its published
    intent: the promotion never runs."""
    monkeypatch.setattr(cp, '_promote_rewrite', lambda *a, **k: None)
    try:
        return rewrite()
    finally:
        monkeypatch.undo()


def _crash_mid_promotion(monkeypatch, spark, outdir):
    """A compaction that crashed inside its promotion: the intent is
    published, and the first bucket has moved aside without its
    replacement moving in."""
    import os
    _crash_after_intent(monkeypatch, lambda: cp.compact_output(spark, outdir))
    data = cp.data_path(outdir)
    tmp, old, intent = cp._rewrite_paths(data)
    assert os.path.exists(intent)
    first = sorted(d for d in os.listdir(tmp) if d.startswith('bucket='))[0]
    os.makedirs(old)
    os.rename(os.path.join(data, first), os.path.join(old, first))
    return first


def test_rewrite_survives_stale_dirs_and_crashed_promotion(
        spark, outdir, monkeypatch):
    """Crash-safety of the table rewrite, through compaction: the tmp
    and old directories a rewrite left when it crashed before its
    intent must not break the next compaction, and a crash inside the
    promotion (a bucket moved aside, its replacement still in the tmp)
    must be rolled forward by readers."""
    import os
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_pandas
    batch = spark.createDataFrame(web_pages_pandas(30, start=0))
    run_extraction(spark, batch, outdir, CFG, dedup_against_output=True)
    data = cp.data_path(outdir)
    tmp, old, intent = cp._rewrite_paths(data)
    n = cp.read_output(spark, outdir).count()

    # 1. stale tmp and old dirs from a rewrite that crashed before its
    # intent
    os.makedirs(os.path.join(tmp, 'bucket=0', 'junk'))
    os.makedirs(os.path.join(old, 'bucket=0', 'junk'))
    stats = cp.compact_output(spark, outdir)
    assert stats['rows'] == n
    assert not os.path.exists(tmp) and not os.path.exists(old)

    # 2. crash between a bucket's two renames
    moved = _crash_mid_promotion(monkeypatch, spark, outdir)
    assert not os.path.exists(os.path.join(data, moved))
    assert cp.read_output(spark, outdir).count() == n  # recovered
    assert os.path.exists(os.path.join(data, moved))
    assert not any(map(os.path.exists, (tmp, old, intent)))


def test_writers_roll_a_crashed_rewrite_forward_before_writing(
        spark, outdir, monkeypatch):
    """A compaction that crashed inside its promotion leaves a committed
    bucket moved out of data/. A resume run must roll the rewrite
    forward before it writes: a bucket left out of data/ is still
    counted in _checkpoints, so no later resume would redo it.
    Compaction after the same crash must recover, not fail."""
    import os
    cfg = EngineConfig(shuffle_partitions=8, output_buckets=64)
    first = web_pages_df(spark, 8, num_partitions=2)
    run_extraction(spark, first, outdir, cfg)
    stray = cp._rewrite_paths(cp.data_path(outdir))
    _crash_mid_promotion(monkeypatch, spark, outdir)

    pages = web_pages_df(spark, 60, num_partitions=4)  # a superset
    s = run_extraction(spark, pages, outdir, cfg)
    b = cp.bucket_of('url', cfg.output_buckets).alias('b')
    first_urls = {r['url'] for r in first.select('url').collect()}
    done = {r['b'] for r in first.select(b).collect()}
    # resume skips committed buckets whatever the input, so the rows
    # of the superset that hash into run 1's buckets stay unwritten,
    # and the stats report how many
    rows = pages.select('url', b).collect()
    want = first_urls | {r['url'] for r in rows if r['b'] not in done}
    assert s['resumed_skipped_rows'] == sum(r['b'] in done for r in rows)
    got = {r['url'] for r in cp.read_output(spark, outdir).collect()}
    assert got == want  # run 1's urls included
    assert not any(map(os.path.exists, stray))
    counted = (spark.read.parquet(cp.checkpoint_path(outdir))
               .agg(F.sum('rows_out')).collect()[0][0])
    assert counted == len(got)

    _crash_mid_promotion(monkeypatch, spark, outdir)
    assert cp.compact_output(spark, outdir)['rows'] == len(want)
    assert not any(map(os.path.exists, stray))


def test_crash_between_data_and_checkpoint_append_reconciles(
        spark, outdir, monkeypatch):
    """Exactly-once counters for the incremental path (VERDICT r3 #6):
    kill the run between the parquet append and append_checkpoints,
    then verify the next run's startup reconcile rebuilds the missing
    lineage entries from the intent marker + the committed rows."""
    run_extraction(spark, web_pages_df(spark, 60, num_partitions=4),
                   outdir, CFG, dedup_against_output=True)

    # crash injection: the data append succeeds, the checkpoint append
    # dies (matches a driver kill in the gap)
    real_append = cp.append_checkpoints

    def dying_append(*a, **kw):
        raise RuntimeError('injected crash before checkpoint append')

    monkeypatch.setattr('pdf_ai_mapper_spark.pipeline.cp.append_checkpoints',
                        dying_append)
    with pytest.raises(RuntimeError, match='injected crash'):
        run_extraction(spark, web_pages_df(spark, 90, num_partitions=4),
                       outdir, CFG, dedup_against_output=True,
                       run_id='crashedrun01')
    monkeypatch.setattr('pdf_ai_mapper_spark.pipeline.cp.append_checkpoints',
                        real_append)

    # rows committed, counters missing, marker pending
    assert cp.read_output(spark, outdir).count() == 90
    cps = spark.read.parquet(cp.checkpoint_path(outdir))
    assert cps.filter(F.col('run_id') == 'crashedrun01').count() == 0
    assert [i['run_id'] for i in cp.pending_intents(outdir)] == ['crashedrun01']

    # next run (empty batch) triggers reconcile at startup
    s = run_extraction(spark, web_pages_df(spark, 90, num_partitions=4),
                       outdir, CFG, dedup_against_output=True)
    assert s['rows_in'] == 0
    assert cp.pending_intents(outdir) == []
    cps = spark.read.parquet(cp.checkpoint_path(outdir))
    crashed = cps.filter(F.col('run_id') == 'crashedrun01')
    agg = crashed.agg(F.sum('rows_in').alias('i'),
                      F.sum('rows_out').alias('o')).collect()[0]
    assert agg['i'] == 30 and agg['o'] == 30   # the 30 new rows, exact
    # global invariant restored: counters sum to committed rows
    total = cps.agg(F.sum('rows_out').alias('o')).collect()[0]['o']
    assert total == 90


def test_intent_marker_cleared_on_clean_run(spark, outdir):
    run_extraction(spark, web_pages_df(spark, 30, num_partitions=2),
                   outdir, CFG, dedup_against_output=True)
    assert cp.pending_intents(outdir) == []


def test_reconcile_idempotent_when_entries_exist(spark, outdir):
    """Crash AFTER append_checkpoints but before clear_intent: the
    marker is stale; reconcile must clear it without duplicating
    entries."""
    run_extraction(spark, web_pages_df(spark, 30, num_partitions=2),
                   outdir, CFG, dedup_against_output=True, run_id='rid0')
    cp.write_intent(outdir, 'rid0')   # stale marker
    assert cp.reconcile_intents(spark, outdir) == 0
    assert cp.pending_intents(outdir) == []
    cps = spark.read.parquet(cp.checkpoint_path(outdir))
    assert cps.agg(F.sum('rows_out').alias('o')).collect()[0]['o'] == 30


def _with_error_payloads(spark, n=60):
    """Fixture pages plus rows whose extraction fails: an empty payload
    and a truncated PDF."""
    import pandas as pd
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_pandas
    pages = web_pages_pandas(n)
    bad = pd.DataFrame({'url': ['http://err.example/empty',
                                'http://err.example/truncated.pdf'],
                        'warc_ts': pages['warc_ts'].iloc[:2].values,
                        'html': [b'', b'%PDF-1.4\n1 0 obj <<'],
                        'text': ['', ''], 'lang': ['en', 'en']})
    return spark.createDataFrame(pd.concat([pages, bad], ignore_index=True))


def test_error_rows_counted_per_bucket(spark, outdir):
    """Each bucket's error_rows equals its is_error rows in the output,
    and rows_in equals rows_out."""
    s = run_extraction(spark, _with_error_payloads(spark), outdir, CFG)
    out = cp.read_output(spark, outdir)
    want = {r['bucket']: (r['n'], r['e']) for r in out.groupBy('bucket').agg(
        F.count('*').alias('n'),
        F.sum(F.col('is_error').cast('long')).alias('e')).collect()}
    got = {r['bucket']: (r['rows_in'], r['rows_out'], r['error_rows'])
           for r in spark.read.parquet(cp.checkpoint_path(outdir)).collect()}
    assert got == {b: (n, n, e) for b, (n, e) in want.items()}
    assert s['error_rows'] == sum(e for _, e in want.values()) >= 2


@pytest.mark.parametrize('append', [False, True])
def test_write_row_drift_raises_and_recovers(spark, outdir, monkeypatch,
                                             append):
    """A write that sees fewer rows than the pre-pass counted fails the
    run before any counter is recorded; the next run's recovery (bucket
    redo in resume mode, intent reconcile in append mode) leaves
    counters that match the table."""
    from pdf_ai_mapper_spark import pipeline
    pages = web_pages_df(spark, 60, num_partitions=4)
    lost = pages.select('url').first()['url']
    real = pipeline.transform
    monkeypatch.setattr(pipeline, 'transform', lambda df, *a, **kw: real(
        df, *a, **kw).filter(F.col('url') != lost))
    with pytest.raises(RuntimeError, match='the write saw 59 rows'):
        run_extraction(spark, pages, outdir, CFG, run_id='driftrun01',
                       dedup_against_output=append)
    monkeypatch.undo()
    assert cp.read_or_none(spark.read.parquet, cp.checkpoint_path(outdir),
                           path=cp.checkpoint_path(outdir)) is None
    assert [i['run_id'] for i in cp.pending_intents(outdir)] == (
        ['driftrun01'] if append else [])

    run_extraction(spark, pages, outdir, CFG, dedup_against_output=append)
    assert cp.pending_intents(outdir) == []
    out = cp.read_output(spark, outdir)
    if not append:  # in append mode the lost row's content may be a dup
        assert out.count() == 60
    table = {(r['run_id'], r['bucket']): r['n'] for r in
             out.groupBy('run_id', 'bucket').count()
             .withColumnRenamed('count', 'n').collect()}
    cps = spark.read.parquet(cp.checkpoint_path(outdir)).collect()
    assert {(r['run_id'], r['bucket']): r['rows_out'] for r in cps} == table
    assert all(r['rows_in'] == r['rows_out'] for r in cps)


def test_reconcile_reads_legacy_intent_with_rows_in_map(
        spark, outdir, monkeypatch):
    """Markers written before the intent held only the run_id carry a
    per-bucket rows_in map; reconcile still reads them and counts the
    committed rows."""
    import json
    import os

    def dying_append(*a, **kw):
        raise RuntimeError('injected crash before checkpoint append')

    monkeypatch.setattr('pdf_ai_mapper_spark.pipeline.cp.append_checkpoints',
                        dying_append)
    with pytest.raises(RuntimeError, match='injected crash'):
        run_extraction(spark, web_pages_df(spark, 30, num_partitions=2),
                       outdir, CFG, dedup_against_output=True,
                       run_id='legacyrun1')
    monkeypatch.undo()
    with open(os.path.join(cp.intents_path(outdir), 'legacyrun1.json'),
              'w') as f:
        json.dump({'run_id': 'legacyrun1', 'rows_in': {'0': 999}}, f)
    assert cp.reconcile_intents(spark, outdir) == 1
    assert cp.pending_intents(outdir) == []
    agg = spark.read.parquet(cp.checkpoint_path(outdir)).agg(
        F.sum('rows_in').alias('i'), F.sum('rows_out').alias('o')).collect()[0]
    assert agg['i'] == agg['o'] == 30


def _write_store(spark, outdir, rows, n_buckets=8):
    df = (spark.createDataFrame(rows, 'url string, crawl_ts long, body string')
          .withColumn('bucket', cp.bucket_of('url', n_buckets)))
    df.write.partitionBy('bucket').parquet(cp.data_path(outdir))
    return df


def _listing(outdir):
    import os
    data = cp.data_path(outdir)
    out = {}
    for d in os.listdir(data):
        if d.startswith('bucket='):
            p = os.path.join(data, d)
            out[d] = sorted((f, os.path.getsize(os.path.join(p, f)),
                             os.path.getmtime(os.path.join(p, f)))
                            for f in os.listdir(p) if f.endswith('.parquet'))
    return out


def test_upsert_keep_latest_semantics(spark, outdir):
    rows = [(f'u{i}', 100, f'old{i}') for i in range(40)]
    _write_store(spark, outdir, rows)
    batch = spark.createDataFrame(
        [('u0', 200, 'newer'),        # newer ts -> replaces
         ('u1', 50, 'stale'),         # older ts -> stored survives
         ('u2', 100, 'tie-batch'),    # tie -> batch wins (refresh)
         ('brand-new', 150, 'insert')],
        'url string, crawl_ts long, body string')
    stats = cp.upsert_output(spark, outdir, batch, key_col='url',
                             order_col='crawl_ts', n_buckets=8)
    got = {r['url']: (r['crawl_ts'], r['body'])
           for r in cp.read_output(spark, outdir).collect()}
    assert len(got) == 41
    assert got['u0'] == (200, 'newer')
    assert got['u1'] == (100, 'old1')
    assert got['u2'] == (100, 'tie-batch')
    assert got['brand-new'] == (150, 'insert')
    assert got['u5'] == (100, 'old5')
    assert stats['buckets_rewritten'] >= 1
    assert stats['rows_written'] >= 4


def test_upsert_rewrites_only_affected_buckets(spark, outdir):
    rows = [(f'u{i}', 100, f'old{i}') for i in range(60)]
    _write_store(spark, outdir, rows)
    before = _listing(outdir)
    batch = spark.createDataFrame([('u0', 200, 'newer')],
                                  'url string, crawl_ts long, body string')
    stats = cp.upsert_output(spark, outdir, batch, key_col='url',
                             order_col='crawl_ts', n_buckets=8)
    assert stats['buckets_rewritten'] == 1
    after = _listing(outdir)
    hot = 'bucket=%d' % (spark.createDataFrame([('u0',)], 'url string')
                         .select(cp.bucket_of('url', 8).alias('b'))
                         .collect()[0]['b'])
    assert set(before) == set(after)
    for d in before:
        if d == hot:
            assert before[d] != after[d]      # rewritten
        else:
            assert before[d] == after[d]      # untouched bytes


def test_upsert_crash_before_intent_leaves_store_untouched(spark, outdir):
    """ADVICE r5 #3: the r5 in-place dynamic overwrite could LOSE
    affected buckets on a mid-commit failure. Now the merge writes to
    a sibling tmp; a crash before the intent publishes must leave the
    stored table byte-identical and the stray tmp discarded on read."""
    import os
    _write_store(spark, outdir, [(f'u{i}', 100, f'old{i}')
                                 for i in range(40)])
    before = _listing(outdir)
    tmp, _old, _intent = cp._rewrite_paths(cp.data_path(outdir))
    os.makedirs(os.path.join(tmp, 'bucket=0'))
    with open(os.path.join(tmp, 'bucket=0', 'part-junk.parquet'), 'w') as f:
        f.write('torn')
    got = cp.read_output(spark, outdir)
    assert got.count() == 40
    assert not os.path.exists(tmp)           # stray tmp discarded
    assert _listing(outdir) == before        # untouched bytes


def test_upsert_crash_after_intent_rolls_forward(spark, outdir, monkeypatch):
    """Crash between the intent publish and promotion: the merge write
    completed, so recovery must roll FORWARD — readers see the merged
    table, never a missing bucket."""
    import os
    _write_store(spark, outdir, [(f'u{i}', 100, f'old{i}')
                                 for i in range(40)])
    batch = spark.createDataFrame(
        [('u0', 200, 'newer'), ('brand-new', 150, 'insert')],
        'url string, crawl_ts long, body string')
    # simulate the crash: merge write + intent land, promotion never runs
    monkeypatch.setattr(cp, '_promote_rewrite', lambda *a, **k: None)
    cp.upsert_output(spark, outdir, batch, key_col='url',
                     order_col='crawl_ts', n_buckets=8)
    monkeypatch.undo()
    _tmp, _old, intent = cp._rewrite_paths(cp.data_path(outdir))
    assert os.path.exists(intent)
    got = {r['url']: (r['crawl_ts'], r['body'])
           for r in cp.read_output(spark, outdir).collect()}
    assert len(got) == 41
    assert got['u0'] == (200, 'newer')
    assert got['brand-new'] == (150, 'insert')
    assert got['u5'] == (100, 'old5')
    assert not os.path.exists(intent)        # recovery cleaned up
    # promotion is idempotent: a second recovery pass is a no-op
    cp.recover_output(outdir)
    assert cp.read_output(spark, outdir).count() == 41


def test_upsert_empty_batch_is_noop(spark, outdir):
    _write_store(spark, outdir, [('u0', 100, 'x')])
    before = _listing(outdir)
    empty = spark.createDataFrame([], 'url string, crawl_ts long, body string')
    stats = cp.upsert_output(spark, outdir, empty, key_col='url',
                             order_col='crawl_ts', n_buckets=8)
    assert stats == {'buckets_rewritten': 0, 'rows_written': 0}
    assert _listing(outdir) == before


# -- cleanup through the shared rewrite --
#
# 48 fixture pages at 64 buckets: the commit flags copies in 8
# buckets, and in 3 of them every row is a copy, so cleanup empties
# them (a bucket is by url, not by content hash).

CLEANUP_CFG = EngineConfig(shuffle_partitions=8, output_buckets=64)


def _cleanup_store(spark, outdir):
    """Commit the 48 pages; return the bucket dirs that hold a flagged
    row, those where every row is flagged, and the urls cleanup
    keeps."""
    run_extraction(spark, web_pages_df(spark, 48, num_partitions=2),
                   outdir, CLEANUP_CFG)
    table = cp.read_output(spark, outdir)
    per = (table.groupBy('bucket')
           .agg(F.count('*').alias('n'),
                F.count_if('is_duplicate').alias('dups'))
           .filter('dups > 0').collect())
    hit = {f'bucket={r["bucket"]}' for r in per}
    emptied = {f'bucket={r["bucket"]}' for r in per if r['dups'] == r['n']}
    assert emptied, 'the fixture must hold a bucket of copies only'
    kept = sorted(r['url'] for r in
                  table.filter(~F.col('is_duplicate')).collect())
    return hit, emptied, kept


def test_cleanup_rewrites_only_the_flagged_buckets(spark, outdir):
    import os
    from pdf_ai_mapper_spark.api import MapperAPI
    hit, emptied, kept = _cleanup_store(spark, outdir)
    before = _listing(outdir)
    res = MapperAPI(spark, outdir, CLEANUP_CFG).cleanup_duplicates()
    assert res == {'status': 'success',
                   'message': f'Removed {48 - len(kept)} duplicate documents',
                   'document_count': len(kept)}
    after = _listing(outdir)
    assert set(after) == set(before) - emptied
    for d in after:
        if d in hit:
            assert before[d] != after[d]      # rewritten
        else:
            assert before[d] == after[d]      # untouched bytes
    assert sorted(r['url'] for r in
                  cp.read_output(spark, outdir).collect()) == kept
    assert not any(map(os.path.exists,
                       cp._rewrite_paths(cp.data_path(outdir))))


def test_cleanup_crash_before_intent_leaves_table_untouched(
        spark, outdir, monkeypatch):
    import os
    from pdf_ai_mapper_spark.api import MapperAPI
    _cleanup_store(spark, outdir)
    before = _listing(outdir)
    tmp, _old, intent = cp._rewrite_paths(cp.data_path(outdir))

    def crash(*a, **k):
        raise RuntimeError('injected crash before the intent')

    monkeypatch.setattr(cp, '_publish_json', crash)
    with pytest.raises(RuntimeError, match='injected crash'):
        MapperAPI(spark, outdir, CLEANUP_CFG).cleanup_duplicates()
    monkeypatch.undo()
    assert os.path.isdir(tmp) and not os.path.exists(intent)
    assert _listing(outdir) == before        # untouched bytes
    assert cp.read_output(spark, outdir).count() == 48
    assert not os.path.exists(tmp)           # stray tmp discarded


def test_cleanup_crash_after_intent_rolls_forward_emptied_buckets(
        spark, outdir, monkeypatch):
    """Recovery must not take an emptied bucket, which has nothing in
    the tmp, for promoted: readers see the cleaned table with the
    emptied buckets gone, and a second recovery changes nothing."""
    import os
    from pdf_ai_mapper_spark.api import MapperAPI
    _hit, emptied, kept = _cleanup_store(spark, outdir)
    api = MapperAPI(spark, outdir, CLEANUP_CFG)
    _crash_after_intent(monkeypatch, api.cleanup_duplicates)
    data = cp.data_path(outdir)
    _tmp, _old, intent = cp._rewrite_paths(data)
    assert os.path.exists(intent)
    assert all(os.path.exists(os.path.join(data, d)) for d in emptied)

    assert sorted(r['url'] for r in
                  cp.read_output(spark, outdir).collect()) == kept
    assert not any(os.path.exists(os.path.join(data, d)) for d in emptied)
    assert not any(map(os.path.exists, cp._rewrite_paths(data)))
    after = _listing(outdir)
    cp.recover_output(outdir)
    assert _listing(outdir) == after


def test_run_after_a_crashed_cleanup_rolls_forward_before_writing(
        spark, outdir, monkeypatch):
    """An append run after a cleanup that crashed past its intent must
    finish the cleanup first: rows it appended to a bucket the cleanup
    rewrites would be moved aside by a later roll-forward."""
    from pdf_ai_mapper_spark.api import MapperAPI
    from pdf_ai_mapper_spark.fixtures.webpages import web_pages_pandas
    hit, _emptied, kept = _cleanup_store(spark, outdir)
    api = MapperAPI(spark, outdir, CLEANUP_CFG)
    _crash_after_intent(monkeypatch, api.cleanup_duplicates)

    batch = spark.createDataFrame(web_pages_pandas(48, start=48))
    s = run_extraction(spark, batch, outdir, CLEANUP_CFG,
                       dedup_against_output=True, run_id='afterclean1')
    table = cp.read_output(spark, outdir)
    assert table.count() == len(kept) + s['rows_out']
    hit_buckets = [int(d.split('=')[1]) for d in hit]
    assert table.filter((F.col('run_id') == 'afterclean1')
                        & F.col('bucket').isin(hit_buckets)).count() > 0
    assert table.filter(F.col('run_id') != 'afterclean1').filter(
        F.col('is_duplicate')).count() == 0
