"""Sequence packing / distributed prefix sum (operators/packing)."""

from __future__ import annotations

import random

from pyspark.sql import Window
from pyspark.sql import functions as F

from pdf_ai_mapper_spark.operators.dedup import release
from pdf_ai_mapper_spark.operators.packing import (pack_sequences,
                                                   with_global_offset)


def _rand_df(spark, n=500, parts=7):
    rng = random.Random(3)
    rows = [(i, rng.randint(0, 40)) for i in range(n)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, 'doc_id long, toks long').repartition(parts)


def test_global_offset_matches_single_partition_cumsum(spark):
    df = _rand_df(spark)
    got = with_global_offset(df, 'doc_id', 'toks', partitions=5)
    rows = {r['doc_id']: r['offset'] for r in got.collect()}
    release(got)
    data = sorted((r['doc_id'], r['toks']) for r in df.collect())
    run = 0
    for i, t in data:
        assert rows[i] == run, (i, rows[i], run)
        run += t


def test_global_offset_no_single_partition_exchange(spark):
    """The whole point: the naive global-window cumsum funnels the
    corpus through Exchange SinglePartition; the two-phase scan must
    not."""
    df = _rand_df(spark)
    naive = df.withColumn('off', F.sum('toks').over(
        Window.orderBy('doc_id')
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    naive_plan = naive._jdf.queryExecution().executedPlan().toString()
    assert 'SinglePartition' in naive_plan    # the anti-pattern exists

    got = with_global_offset(df, 'doc_id', 'toks', partitions=5)
    got.collect()
    plan = got._jdf.queryExecution().executedPlan().toString()
    release(got)
    assert 'SinglePartition' not in plan
    assert 'BroadcastHashJoin' in plan        # offsets join broadcasts


def test_pack_sequences_boundary_semantics(spark):
    rows = [(0, 100), (1, 412), (2, 0), (3, 600), (4, 1)]
    df = spark.createDataFrame(rows, 'doc_id long, toks long')
    packed = pack_sequences(df, 'doc_id', 'toks', seq_len=512)
    got = {r['doc_id']: r for r in packed.collect()}
    release(packed)
    # stream: doc0 [0,100) seq0; doc1 [100,512) seq0 exactly to the
    # boundary; doc2 empty; doc3 [512,1112) seqs 1-2; doc4 [1112,1113)
    assert (got[0]['offset'], got[0]['first_seq'], got[0]['last_seq']) == (0, 0, 0)
    assert (got[1]['offset'], got[1]['first_seq'], got[1]['last_seq']) == (100, 0, 0)
    assert got[2]['n_seqs_spanned'] == 0 and got[2]['first_seq'] is None
    assert (got[3]['offset'], got[3]['first_seq'], got[3]['last_seq']) == (512, 1, 2)
    assert got[3]['n_seqs_spanned'] == 2
    assert (got[4]['offset'], got[4]['first_seq']) == (1112, 2)


def test_pack_sequences_rejects_bad_seq_len(spark):
    import pytest
    df = spark.createDataFrame([(0, 1)], 'doc_id long, toks long')
    with pytest.raises(ValueError):
        pack_sequences(df, 'doc_id', 'toks', seq_len=0)


def _expected_stream(rows, seed, tps, with_epoch=False):
    """Driver-side replication of shuffle_shards' contract:
    order by md5(id[|epoch]|seed)·id[·epoch], exclusive cumsum."""
    import hashlib
    keyed = []
    for r in rows:
        parts = [str(r[0])] + ([str(r[2])] if with_epoch else []) + [seed]
        h = hashlib.md5('|'.join(parts).encode()).hexdigest()
        key = h + str(r[0]) + (str(r[2]) if with_epoch else '')
        keyed.append((key, r))
    keyed.sort()
    out, run = {}, 0
    for _, r in keyed:
        k = (r[0], r[2]) if with_epoch else r[0]
        out[k] = (run, run // tps, run % tps)
        run += r[1]
    return out


def test_shuffle_shards_matches_md5_order(spark):
    from pdf_ai_mapper_spark.operators.packing import shuffle_shards
    rng = random.Random(11)
    rows = [(i, rng.randint(0, 300)) for i in range(400)]
    df = spark.createDataFrame(rows, 'doc_id long, toks long').repartition(9)
    got = shuffle_shards(df, 'doc_id', 'toks', tokens_per_shard=1000,
                         seed='run1')
    res = {r['doc_id']: (r['offset'], r['shard'], r['shard_offset'])
           for r in got.collect()}
    release(got)
    assert res == _expected_stream(rows, 'run1', 1000)
    # the order is actually shuffled, not id order
    by_offset = sorted(res, key=lambda d: res[d][0])
    assert by_offset != sorted(res)
    # shards are token-balanced: every doc starts in shard offset//tps,
    # so max shard == floor(total/tps) when some doc starts past the cut
    total = sum(t for _, t in rows)
    assert max(s for _, s, _ in res.values()) <= total // 1000


def test_shuffle_shards_seed_switches_order(spark):
    from pdf_ai_mapper_spark.operators.packing import shuffle_shards
    rows = [(i, 10) for i in range(200)]
    df = spark.createDataFrame(rows, 'doc_id long, toks long')
    a = shuffle_shards(df, 'doc_id', 'toks', 500, seed='a')
    b = shuffle_shards(df, 'doc_id', 'toks', 500, seed='b')
    oa = {r['doc_id']: r['offset'] for r in a.collect()}
    ob = {r['doc_id']: r['offset'] for r in b.collect()}
    release(a)
    release(b)
    assert oa != ob                       # different stream order...
    assert sorted(oa.values()) == sorted(ob.values())  # ...same stream


def test_shuffle_shards_epoch_copies_interleave(spark):
    from pdf_ai_mapper_spark.operators.packing import shuffle_shards
    rng = random.Random(7)
    rows = [(i, rng.randint(1, 50), e) for i in range(150) for e in (0, 1)]
    df = spark.createDataFrame(rows, 'doc_id long, toks long, epoch int')
    got = shuffle_shards(df, 'doc_id', 'toks', 800, seed='s',
                         epoch_col='epoch')
    res = {(r['doc_id'], r['epoch']):
           (r['offset'], r['shard'], r['shard_offset'])
           for r in got.collect()}
    release(got)
    assert res == _expected_stream(rows, 's', 800, with_epoch=True)
    # copies hash APART: epoch-0 and epoch-1 of the same doc are
    # almost never adjacent in the stream
    order = [k for k, _ in sorted(res.items(), key=lambda kv: kv[1][0])]
    adjacent = sum(1 for x, y in zip(order, order[1:]) if x[0] == y[0])
    assert adjacent < 15


def test_shuffle_shards_rejects_bad_shard_size(spark):
    import pytest
    from pdf_ai_mapper_spark.operators.packing import shuffle_shards
    df = spark.createDataFrame([(0, 1)], 'doc_id long, toks long')
    with pytest.raises(ValueError):
        shuffle_shards(df, 'doc_id', 'toks', 0)


class TestWriteShards:
    def _sharded(self, spark, tmpdir_holder, n=300, tps=1500):
        from pdf_ai_mapper_spark.operators.packing import (shuffle_shards,
                                                           write_shards)
        rng = random.Random(23)
        rows = [(i, rng.randint(1, 60)) for i in range(n)]
        df = spark.createDataFrame(rows, 'doc_id long, toks long')
        sharded = shuffle_shards(df, 'doc_id', 'toks', tps, seed='ws')
        manifest = write_shards(spark, sharded, tmpdir_holder,
                                'doc_id', 'toks')
        release(sharded)
        return rows, manifest

    def test_roundtrip_manifest_and_verify(self, spark):
        import hashlib
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import verify_shards
        out = tempfile.mkdtemp(prefix='pam_shards_')
        shutil.rmtree(out)
        try:
            rows, manifest = self._sharded(spark, out)
            # python replication: same stream, same cut, same checksum
            exp = _expected_stream(rows, 'ws', 1500)
            per = {}
            for doc, t in rows:
                s = exp[doc][1]
                per.setdefault(s, []).append((str(doc), t))
            expect = {}
            for s, docs in per.items():
                ids = sorted(d for d, _ in docs)
                expect[s] = (len(docs), sum(t for _, t in docs),
                             hashlib.md5(','.join(ids).encode()).hexdigest())
            got = {r['shard']: (r['n_docs'], r['n_tokens'], r['ids_md5'])
                   for r in manifest.collect()}
            assert got == expect
            # layout: one shard=N dir per shard
            import os
            dirs = {d for d in os.listdir(f'{out}/shards')
                    if d.startswith('shard=')}
            assert dirs == {f'shard={s}' for s in expect}
            assert verify_shards(spark, out, 'doc_id', 'toks')
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_verify_detects_missing_shard(self, spark):
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import verify_shards
        out = tempfile.mkdtemp(prefix='pam_shards_')
        shutil.rmtree(out)
        try:
            self._sharded(spark, out)
            victim = sorted(
                d for d in __import__('os').listdir(f'{out}/shards')
                if d.startswith('shard='))[1]
            shutil.rmtree(f'{out}/shards/{victim}')
            assert not verify_shards(spark, out, 'doc_id', 'toks')
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_existing_dir_refused(self, spark):
        import shutil
        import tempfile
        import pytest
        out = tempfile.mkdtemp(prefix='pam_shards_')
        shutil.rmtree(out)
        try:
            self._sharded(spark, out)
            with pytest.raises(Exception):
                self._sharded(spark, out)   # mode='error' second write
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_epoch_checksum_distinguishes_copies(self, spark):
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import (shuffle_shards,
                                                           write_shards)
        rows = [(i, 10, e) for i in range(40) for e in (0, 1)]
        df = spark.createDataFrame(rows, 'doc_id long, toks long, epoch int')
        out = tempfile.mkdtemp(prefix='pam_shards_')
        shutil.rmtree(out)
        try:
            sharded = shuffle_shards(df, 'doc_id', 'toks', 200, seed='e',
                                     epoch_col='epoch')
            manifest = write_shards(spark, sharded, out, 'doc_id', 'toks',
                                    epoch_col='epoch')
            release(sharded)
            total = manifest.agg(F.sum('n_docs')).collect()[0][0]
            assert total == 80      # both copies of every doc exported
        finally:
            shutil.rmtree(out, ignore_errors=True)


class TestPackInputIds:
    def _expected(self, docs, L):
        """Python replication: concat ids in doc order, chop at L."""
        stream = []
        spans = {}
        for i, ids in sorted(docs):
            spans[i] = (len(stream), len(ids))
            stream.extend(ids)
        seqs = {}
        for p, v in enumerate(stream):
            seqs.setdefault(p // L, []).append(v)
        ndocs = {}
        for i, (o, n) in spans.items():
            for s in range(o // L, (o + n - 1) // L + 1) if n else []:
                ndocs[s] = ndocs.get(s, 0) + 1
        return seqs, ndocs

    def test_concat_and_chop_semantics(self, spark):
        from pdf_ai_mapper_spark.operators.packing import pack_input_ids
        docs = [(0, list(range(10, 15))),        # 5 ids
                (1, [100]),                      # 1 id
                (2, []),                         # empty: no pieces
                (3, list(range(200, 212)))]      # 12 ids
        df = spark.createDataFrame(docs, 'doc_id long, input_ids array<long>')
        out = pack_input_ids(df.repartition(3), 'doc_id', 'input_ids',
                             seq_len=4)
        got = {r['seq']: (r['n_docs'], r['n_ids'], r['input_ids'])
               for r in out.collect()}
        release(out)
        seqs, ndocs = self._expected(docs, 4)
        assert set(got) == set(seqs)
        for s, ids in seqs.items():
            assert got[s][2] == ids, s
            assert got[s][1] == len(ids)
            assert got[s][0] == ndocs[s]
        # window 1 stitches three docs: tail of doc0, doc1, head of doc3
        assert got[1] == (3, 4, [14, 100, 200, 201])

    def test_randomized_matches_python_reference(self, spark):
        import random
        from pdf_ai_mapper_spark.operators.packing import pack_input_ids
        rng = random.Random(11)
        docs = [(i, [rng.randint(0, 9999)
                     for _ in range(rng.randint(0, 40))])
                for i in range(60)]
        df = spark.createDataFrame(docs, 'doc_id long, input_ids array<long>')
        out = pack_input_ids(df.repartition(7), 'doc_id', 'input_ids',
                             seq_len=16)
        got = {r['seq']: r['input_ids'] for r in out.collect()}
        release(out)
        seqs, _ = self._expected(docs, 16)
        assert got == seqs
        # every window is exactly seq_len except possibly the last
        last = max(seqs)
        for s, ids in got.items():
            assert len(ids) == (16 if s != last else len(seqs[last]))

    def test_separator_token_between_docs(self, spark):
        from pdf_ai_mapper_spark.operators.packing import pack_input_ids
        docs = [(0, [10, 11]), (1, []), (2, [20, 21, 22])]
        df = spark.createDataFrame(docs, 'doc_id long, input_ids array<long>')
        out = pack_input_ids(df, 'doc_id', 'input_ids', seq_len=4,
                             sep_id=99)
        got = {r['seq']: r['input_ids'] for r in out.collect()}
        release(out)
        # stream: 10 11 99 | 99 | 20 21 22 99  (empty doc -> bare sep)
        assert got == {0: [10, 11, 99, 99], 1: [20, 21, 22, 99]}

    def test_no_single_partition_stage(self, spark):
        from pdf_ai_mapper_spark.operators.packing import pack_input_ids
        df = spark.range(300).select(
            F.col('id').alias('doc_id'),
            F.sequence(F.lit(1), (F.col('id') % 9 + 1).cast('int'))
            .cast('array<long>').alias('input_ids'))
        out = pack_input_ids(df, 'doc_id', 'input_ids', seq_len=8)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        release(out)
        assert 'SinglePartition' not in plan

    def test_bad_seq_len_rejected(self, spark):
        import pytest
        from pdf_ai_mapper_spark.operators.packing import pack_input_ids
        df = spark.createDataFrame([(0, [1, 2])],
                                   'doc_id long, input_ids array<long>')
        with pytest.raises(ValueError):
            pack_input_ids(df, 'doc_id', 'input_ids', 0)


class TestAppendShards:
    def _write_batch1(self, spark, out, tps=1000):
        from pdf_ai_mapper_spark.operators.packing import (shuffle_shards,
                                                           write_shards)
        rows = [(i, 37) for i in range(100)]
        df = spark.createDataFrame(rows, 'doc_id long, toks long')
        sharded = shuffle_shards(df, 'doc_id', 'toks', tps, seed='b1')
        write_shards(spark, sharded, out, 'doc_id', 'toks')
        release(sharded)
        return rows

    def test_append_is_boundary_aligned_and_immutable(self, spark):
        import os
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import (append_shards,
                                                           verify_shards)
        out = tempfile.mkdtemp(prefix='pam_append_')
        shutil.rmtree(out)
        try:
            rows1 = self._write_batch1(spark, out)          # 3700 tokens
            m1 = {r['shard']: tuple(r)
                  for r in spark.read.parquet(f'{out}/_manifest').collect()}
            files1 = {}
            for d in os.listdir(f'{out}/shards'):
                if d.startswith('shard='):
                    p = f'{out}/shards/{d}'
                    files1[d] = sorted((f, os.path.getsize(f'{p}/{f}'))
                                       for f in os.listdir(p)
                                       if f.endswith('.parquet'))

            rows2 = [(1000 + i, 29) for i in range(80)]     # new batch
            df2 = spark.createDataFrame(rows2, 'doc_id long, toks long')
            combined = append_shards(spark, df2, out, 'doc_id', 'toks',
                                     1000, seed='b2')
            got = {r['shard']: tuple(r) for r in combined.collect()}

            # stored rows byte-identical, no shard shared
            for s, row in m1.items():
                assert got[s] == row
            new_shards = set(got) - set(m1)
            # 3700 tokens -> next boundary 4000 -> first new shard 4
            assert min(new_shards) == 4
            # batch-1 data files untouched
            for d, listing in files1.items():
                p = f'{out}/shards/{d}'
                assert sorted((f, os.path.getsize(f'{p}/{f}'))
                              for f in os.listdir(p)
                              if f.endswith('.parquet')) == listing
            # combined tree passes the loader-side check
            assert verify_shards(spark, out, 'doc_id', 'toks')
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_multi_batch_part_full_tails_never_share_a_shard(self, spark):
        """ADVICE r5 #1 repro shape: with two consecutive part-full
        batches, a token-SUM boundary ceils back into an occupied
        shard (sum 300+400=700 < shard 1's end 2000 at tps=1000), so
        batch 3 appended INTO batch 2's shard, the manifest recompute
        double-counted and emitted a duplicate row, and verify_shards
        failed. The boundary must come from occupancy (max shard + 1)."""
        import shutil
        import tempfile
        from collections import Counter
        from pdf_ai_mapper_spark.operators.packing import (append_shards,
                                                           shuffle_shards,
                                                           verify_shards,
                                                           write_shards)
        out = tempfile.mkdtemp(prefix='pam_append_')
        shutil.rmtree(out)
        try:
            b1 = spark.createDataFrame([(i, 30) for i in range(10)],
                                       'doc_id long, toks long')
            sharded = shuffle_shards(b1, 'doc_id', 'toks', 1000, seed='b1')
            write_shards(spark, sharded, out, 'doc_id', 'toks')
            release(sharded)                                # 300 tokens
            b2 = spark.createDataFrame([(100 + i, 40) for i in range(10)],
                                       'doc_id long, toks long')
            append_shards(spark, b2, out, 'doc_id', 'toks', 1000,
                          seed='b2')                        # 400 tokens
            b3 = spark.createDataFrame([(200 + i, 20) for i in range(10)],
                                       'doc_id long, toks long')
            man = append_shards(spark, b3, out, 'doc_id', 'toks', 1000,
                                seed='b3')                  # 200 tokens
            rows = man.collect()
            shards = [r['shard'] for r in rows]
            assert Counter(shards) == {0: 1, 1: 1, 2: 1}   # no duplicates
            toks = {r['shard']: r['n_tokens'] for r in rows}
            assert toks == {0: 300, 1: 400, 2: 200}        # no double count
            assert verify_shards(spark, out, 'doc_id', 'toks')
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_torn_append_retry_does_not_duplicate(self, spark):
        """ADVICE r6 medium repro: a crash between the shard-data write
        and the manifest commit leaves orphan shard dirs >= first_new.
        A retry recomputes the same first_new and, without the purge,
        mode('append')s duplicate files into the same dirs — then
        attests the DOUBLED disk, so every doc in the batch is silently
        duplicated and verify_shards PASSES on the corrupt tree. The
        purge deletes the provable orphans (the manifest attests
        nothing above max_shard) before writing, making the data write
        idempotent."""
        import os
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import (append_shards,
                                                           verify_shards)
        out = tempfile.mkdtemp(prefix='pam_append_')
        shutil.rmtree(out)
        try:
            self._write_batch1(spark, out)                  # 3700 tokens
            mdir = f'{out}/_manifest'
            manifest_files1 = set(os.listdir(mdir))

            rows2 = [(1000 + i, 29) for i in range(80)]
            df2 = spark.createDataFrame(rows2, 'doc_id long, toks long')
            # full append, then roll the manifest back to batch 1 only:
            # exactly the on-disk state of a crash after the data write
            # but before the manifest commit
            append_shards(spark, df2, out, 'doc_id', 'toks', 1000,
                          seed='b2')
            for name in set(os.listdir(mdir)) - manifest_files1:
                os.remove(os.path.join(mdir, name))
            orphans = [d for d in os.listdir(f'{out}/shards')
                       if d.startswith('shard=')
                       and int(d.split('=')[1]) >= 4]
            assert orphans                                  # torn state real

            # the retry
            man = append_shards(spark, df2, out, 'doc_id', 'toks', 1000,
                                seed='b2')
            got = {r['shard']: (r['n_docs'], r['n_tokens'])
                   for r in man.collect()}
            # batch 2: 80 docs x 29 = 2320 tokens -> shards 4,5,6(320)
            assert sum(n for s, (n, _) in got.items() if s >= 4) == 80
            assert sum(t for s, (_, t) in got.items() if s >= 4) == 2320
            disk = spark.read.parquet(f'{out}/shards')
            assert disk.count() == 180                      # 100 + 80, once
            assert (disk.select('doc_id').distinct().count() == 180)
            assert verify_shards(spark, out, 'doc_id', 'toks')
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_append_offsets_continue_from_boundary(self, spark):
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import append_shards
        out = tempfile.mkdtemp(prefix='pam_append_')
        shutil.rmtree(out)
        try:
            self._write_batch1(spark, out)                  # 3700 tokens
            rows2 = [(1000 + i, 13) for i in range(50)]
            df2 = spark.createDataFrame(rows2, 'doc_id long, toks long')
            append_shards(spark, df2, out, 'doc_id', 'toks', 1000,
                          seed='b2')
            disk = (spark.read.parquet(f'{out}/shards')
                    .filter(F.col('doc_id') >= 1000)
                    .select('doc_id', 'offset', 'shard', 'shard_offset')
                    .collect())
            got = {r['doc_id']: (r['offset'], r['shard'],
                                 r['shard_offset']) for r in disk}
            # python replication: batch-2 internal stream + 4000 shift
            exp = _expected_stream(rows2, 'b2', 1000)
            expect = {d: (o + 4000, (o + 4000) // 1000, o % 1000)
                      for d, (o, _, _) in exp.items()}
            assert got == expect
        finally:
            shutil.rmtree(out, ignore_errors=True)


class TestDiffManifests:
    def test_all_four_statuses(self, spark):
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import diff_manifests
        old_rows = [(0, 10, 100, 'aaa'), (1, 20, 200, 'bbb'),
                    (2, 5, 50, 'ccc')]
        new_rows = [(0, 10, 100, 'aaa'),          # unchanged
                    (1, 21, 210, 'ddd'),          # changed
                    (3, 7, 70, 'eee')]            # added; shard 2 removed
        schema = 'shard long, n_docs long, n_tokens long, ids_md5 string'
        a = tempfile.mkdtemp(prefix='pam_diff_a_')
        b = tempfile.mkdtemp(prefix='pam_diff_b_')
        try:
            spark.createDataFrame(old_rows, schema) \
                .write.mode('overwrite').parquet(f'{a}/_manifest')
            spark.createDataFrame(new_rows, schema) \
                .write.mode('overwrite').parquet(f'{b}/_manifest')
            got = {r['shard']: (r['status'], r['n_docs'], r['n_tokens'])
                   for r in diff_manifests(spark, a, b).collect()}
            assert got[0] == ('unchanged', 10, 100)
            assert got[1] == ('changed', 21, 210)    # new side's counts
            assert got[2] == ('removed', 5, 50)      # old side's counts
            assert got[3] == ('added', 7, 70)
        finally:
            shutil.rmtree(a, ignore_errors=True)
            shutil.rmtree(b, ignore_errors=True)


class TestExportJsonl:
    def _df(self, spark, n=120):
        return spark.createDataFrame(
            [(i, f'doc {i} text', i % 7) for i in range(n)],
            'doc_id long, text string, grp long')

    def test_roundtrip_and_manifest(self, spark):
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import (export_jsonl,
                                                           verify_jsonl)
        out = tempfile.mkdtemp(prefix='pam_jsonl_')
        shutil.rmtree(out)
        try:
            df = self._df(spark)
            man = export_jsonl(spark, df, out, 'doc_id', n_files=4)
            assert man.agg(F.sum('n_lines')).collect()[0][0] == 120
            back = spark.read.json(f'{out}/data')
            got = sorted((r['doc_id'], r['text'], r['grp'])
                         for r in back.collect())
            exp = sorted((r['doc_id'], r['text'], r['grp'])
                         for r in df.collect())
            assert got == exp
            assert verify_jsonl(spark, out, 'doc_id')
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_field_order_follows_columns_and_files_sorted(self, spark):
        import gzip
        import json
        import os
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import export_jsonl
        out = tempfile.mkdtemp(prefix='pam_jsonl_')
        shutil.rmtree(out)
        try:
            export_jsonl(spark, self._df(spark), out, 'doc_id', 3)
            data = f'{out}/data'
            fs = [f for f in os.listdir(data) if f.endswith('.gz')]
            assert fs        # gzip compression actually applied
            with gzip.open(os.path.join(data, fs[0]), 'rt') as fh:
                lines = [json.loads(li) for li in fh if li.strip()]
            if lines:
                assert list(lines[0].keys()) == ['doc_id', 'text', 'grp']
                ids = [li['doc_id'] for li in lines]
                assert ids == sorted(ids)     # within-file ordering
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_verify_detects_tampering(self, spark):
        import os
        import shutil
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import (export_jsonl,
                                                           verify_jsonl)
        out = tempfile.mkdtemp(prefix='pam_jsonl_')
        shutil.rmtree(out)
        try:
            export_jsonl(spark, self._df(spark), out, 'doc_id', 3)
            data = f'{out}/data'
            victim = next(f for f in sorted(os.listdir(data))
                          if f.endswith('.gz'))
            os.remove(os.path.join(data, victim))
            assert not verify_jsonl(spark, out, 'doc_id')
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def test_bad_n_files_rejected(self, spark):
        import pytest
        import tempfile
        from pdf_ai_mapper_spark.operators.packing import export_jsonl
        with pytest.raises(ValueError):
            export_jsonl(spark, self._df(spark, 5),
                         tempfile.mkdtemp(), 'doc_id', 0)
