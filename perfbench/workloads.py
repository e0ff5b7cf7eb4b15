"""The workloads. Each is a closed loop with one caller: the next
operation starts when the previous one has returned, as for a batch
driver or an API client that waits for each reply.

A workload builds its inputs in ``__init__`` (before the Spark session
exists, untimed), its starting state in ``setup`` (timed as part of
``setup_s``), runs one operation per ``op`` call inside the measured
window, and checks every operation's output in ``check`` after the
window. ``layers`` adds the traced run's per-layer numbers that need
extra work outside the window.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

import checks
import gen
from pdf_ai_mapper_spark import checkpoint as cp
from pdf_ai_mapper_spark import pipeline
from pdf_ai_mapper_spark.api import MapperAPI
from pdf_ai_mapper_spark.fixtures.webpages import TOPIC_BANKS, doctype_of
from pdf_ai_mapper_spark.kernels import extract as kx
from pdf_ai_mapper_spark.kernels.preprocess import preprocess_text
from pdf_ai_mapper_spark.kernels.query import preprocess_query
from pdf_ai_mapper_spark.kernels.relevance import relevance_score
from pdf_ai_mapper_spark.operators import bloom, dedup
from pdf_ai_mapper_spark.operators.extraction import extracted
from pdf_ai_mapper_spark.operators.search import search as search_op

# non-ASCII words the fixture injects into html paragraphs; a query of
# them keeps non-ASCII tokens, which sends search to the pandas-UDF path
NON_ASCII_WORDS = ['δικαιοσύνη', 'привет', 'мир', '哲学', '歴史', 'مرحبا']
KERNEL_SAMPLE = 48  # rows per doctype timed in the kernel micro-runs
NEARDUP_DOCS = 240  # crawl rows whose text the traced run clusters


class Workload:
    name = ''
    docs_per_op = 0

    def __init__(self, ctx):
        self.ctx = ctx
        # one list of failure messages per checked operation
        self.results: list[list[str]] = []

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def cfg(self):
        return self.ctx.cfg

    def setup(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> float:
        """Run operation ``i``; return its seconds."""
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    def kernel_rows(self) -> list[tuple[int, dict]]:
        """(row index, page row) pairs the kernel micro-runs time."""
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        return {}

    def kernel_layers(self, query: str) -> dict[str, float]:
        """Median single-call microseconds of each extraction kernel
        (per doctype), of preprocess_text and of relevance_score, on
        this workload's own rows, in this process."""
        groups: dict[str, list[bytes]] = {'html': [], 'pdf': [],
                                          'scanned_pdf': [], 'image': []}
        texts = []
        for i, row in self.kernel_rows():
            kind = doctype_of(i)
            if kind == 'html_dup':
                kind = 'html'
            elif kind == 'pdf' and (i // 6) % 2 == 1:
                kind = 'scanned_pdf'
            groups[kind].append(row['html'])
            texts.append(row['text'])
        fns = {'html': kx.extract_html, 'pdf': kx.extract_pdf,
               'scanned_pdf': kx.extract_pdf, 'image': kx.extract_image}
        out = {}
        for kind, payloads in groups.items():
            out[f'kernels.extract_{kind}_us'] = _median_us(
                fns[kind], [(p,) for p in payloads[:KERNEL_SAMPLE]])
        sample = texts[:4 * KERNEL_SAMPLE]
        out['kernels.preprocess_text_us'] = _median_us(
            preprocess_text, [(t,) for t in sample])
        tokens = preprocess_query(query)
        out['kernels.relevance_score_us'] = _median_us(
            relevance_score, [(tokens, t) for t in sample])
        return out


def _median_us(fn, calls: list[tuple]) -> float:
    if not calls:
        return 0.0
    times = []
    for args in calls:
        t = time.perf_counter()
        fn(*args)
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1e6


def _noop(df) -> None:
    df.write.format('noop').mode('overwrite').save()


def _dir_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.endswith('.parquet')]


def ascii_query(r) -> str:
    bank = TOPIC_BANKS[r.randrange(len(TOPIC_BANKS))]
    return ' '.join(r.sample(bank, 2))


def non_ascii_query(r) -> str:
    return r.choice(NON_ASCII_WORDS)


# ------------------------------------------------------------ crawl_extract

class CrawlExtract(Workload):
    """One ``run_extraction`` of a fresh web_pages table into an empty
    output per operation: kernels, the Arrow UDF, the dedup join, the
    64-bucket write and the checkpoint."""
    name = 'crawl_extract'
    ROWS = 1200
    WARM_ROWS = 24
    docs_per_op = ROWS

    def __init__(self, ctx):
        super().__init__(ctx)
        self.start = gen.window_start(ctx.seed, 0)
        self.rows = gen.pages(self.start, self.ROWS)
        self.warm_rows = gen.pages(gen.window_start(ctx.seed, 1),
                                   self.WARM_ROWS)
        gen.write_pages(ctx.path('in'), self.rows, files=ctx.cores)
        gen.write_pages(ctx.path('warm_in'), self.warm_rows, files=ctx.cores)
        # (output path, input rows) per run_extraction
        self.outputs: list[tuple[str, list[dict]]] = []
        self.query = ascii_query(gen.rng(ctx.seed, 'kernel-query'))

    def setup(self) -> None:
        # a small warm-up crawl pays the session's first-use costs
        # (Python worker start, code generation) inside setup_s, so the
        # operation measures the steady-state cost a large job sees
        self.input = self.spark.read.parquet(self.ctx.path('in'))
        warm_out = self.ctx.path('warm_out')
        pipeline.run_extraction(
            self.spark, self.spark.read.parquet(self.ctx.path('warm_in')),
            warm_out, self.cfg)
        self.outputs.append((warm_out, self.warm_rows))

    def op(self, i: int) -> float:
        out = self.ctx.path(f'out{i}')
        t = time.perf_counter()
        pipeline.run_extraction(self.spark, self.input, out, self.cfg)
        dt = time.perf_counter() - t
        self.outputs.append((out, self.rows))
        return dt

    def check(self) -> None:
        for out, rows in self.outputs:
            got = [(r['url'], r['extracted_text'], r['is_duplicate'])
                   for r in cp.read_output(self.spark, out)
                   .select('url', 'extracted_text', 'is_duplicate').collect()]
            rows_out = (self.spark.read.parquet(cp.checkpoint_path(out))
                        .agg(F.sum('rows_out')).first()[0]) or 0
            self.results.append(checks.check_crawl(
                got, {r['url']: r['text'] for r in rows},
                checks.expected_duplicates([r['html'] for r in rows]),
                int(rows_out)))

    def kernel_rows(self):
        return list(enumerate(self.rows, self.start))

    def layers(self) -> dict[str, float]:
        tr = self.ctx.tracer
        with tr.span('extraction.extracted'):
            _noop(extracted(self.input))
        with tr.span('pipeline.transform'):
            _noop(pipeline.transform(self.input, 'trace', self.cfg))
        last = self.outputs[-1][0]
        out_bytes = sum(os.path.getsize(f)
                        for f in _dir_files(cp.data_path(last)))
        in_bytes = sum(os.path.getsize(f)
                       for f in _dir_files(self.ctx.path('in')))
        return {
            'extraction.docs_per_s':
                self.ROWS / tr.durations('extraction.extracted')[0],
            'pipeline.transform_docs_per_s':
                self.ROWS / tr.durations('pipeline.transform')[0],
            'checkpoint.data_files': len(_dir_files(cp.data_path(last))),
            'checkpoint.bytes_per_input_byte': out_bytes / in_bytes,
            **self.kernel_layers(self.query),
            **self.neardup_layers(last),
        }

    def neardup_layers(self, out: str) -> dict[str, float]:
        """Near-duplicate clustering over the extracted text of the
        crawl's output: two passes (the first pays first-use costs), the
        second's steps reported. Both passes are checked."""
        import tracing
        tr = self.ctx.tracer
        path = self.ctx.path('neardup_texts')
        (cp.read_output(self.spark, out)
         .select(F.regexp_extract('url', r'/p/(\d+)$', 1).cast('long')
                 .alias('doc_id'),
                 F.col('extracted_text').alias('text'))
         .filter(F.col('doc_id') < self.start + NEARDUP_DOCS)
         .withColumn('n_chars', F.length('text'))
         .write.parquet(path))
        texts = self.spark.read.parquet(path)
        planted = gen.planted_dups(self.start, NEARDUP_DOCS)
        first = None
        for n in range(2):
            self.spark.sparkContext.setJobGroup(f'neardup{n}', 'near-dup pass')
            n_pairs, labels, kept = cluster(tr, texts, n)
            first = n_pairs if first is None else first
            self.results.append(checks.check_neardup(
                labels, planted, NEARDUP_DOCS, kept, n_pairs, first))
        with tr.span('dedup.minhash_signatures'):
            _noop(dedup.minhash_signatures(texts, 'doc_id', 'text'))
        steps = {name: tr.durations(f'dedup.{name}')[-1] for name in
                 ('minhash_signatures', 'minhash_lsh_pairs',
                  'connected_components', 'keep_best_per_cluster')}
        shuffle = tracing.stage_metrics(self.spark, 'neardup1', 1,
                                        sum(steps.values()), self.ctx.cores)
        return {
            **{f'dedup.{k}_s': v for k, v in steps.items()},
            'dedup.docs_per_s': NEARDUP_DOCS / sum(
                steps[k] for k in ('minhash_lsh_pairs',
                                   'connected_components',
                                   'keep_best_per_cluster')),
            'dedup.pairs': n_pairs,
            'dedup.components': len(set(labels.values())),
            'dedup.kept_docs': kept,
            **{f'dedup.{k[6:]}': shuffle[k] for k in (
                'spark.stages', 'spark.tasks', 'spark.shuffle_write_mb',
                'spark.max_task_skew')},
        }


def cluster(tr, texts, n: int) -> tuple[int, dict[int, int], int]:
    """One near-dup pass, each step forced by an action and timed in
    its own span: (pairs, {node: component}, documents kept)."""
    with tr.span('dedup.minhash_lsh_pairs', attempt=n):
        raw = dedup.minhash_lsh_pairs(texts, 'doc_id', 'text')
        # cut the lineage, as connected_components plans every round
        # on top of it (kept, the plan grows with each round)
        pairs = raw.localCheckpoint(eager=True)
        n_pairs = pairs.count()
    dedup.release(raw)
    with tr.span('dedup.connected_components', attempt=n):
        comps = dedup.connected_components(pairs)
    with tr.span('dedup.keep_best_per_cluster', attempt=n):
        kept = dedup.keep_best_per_cluster(texts, comps).count()
    labels = {r['node']: r['component'] for r in comps.collect()}
    dedup.release(comps)
    return n_pairs, labels, kept


# ----------------------------------------------------------- recrawl_append

class RecrawlAppend(Workload):
    """Per operation, one re-crawl batch appended onto the committed
    table with content dedup and the bloom pre-filter, then the
    ``status`` read-back an API client issues after it."""
    name = 'recrawl_append'
    BASE_ROWS = 60
    NEW_PER_BATCH = 20
    RECRAWL_PER_BATCH = 20
    docs_per_op = NEW_PER_BATCH + RECRAWL_PER_BATCH

    def __init__(self, ctx):
        super().__init__(ctx)
        self.base_start = gen.window_start(ctx.seed, 0)
        self.base = gen.pages(self.base_start, self.BASE_ROWS)
        gen.write_pages(ctx.path('base_in'), self.base, files=ctx.cores)
        self.new_start = gen.window_start(ctx.seed, 1)
        self.recrawl_rng = gen.rng(ctx.seed, 'recrawl')
        self.query_rng = gen.rng(ctx.seed, 'queries')
        self.out = ctx.path('table')
        # per operation: batch rows, status response
        self.cycles: list[tuple[list[dict], dict]] = []
        self.bitmaps: list[bytes] = []

    def setup(self) -> None:
        pipeline.run_extraction(
            self.spark, self.spark.read.parquet(self.ctx.path('base_in')),
            self.out, self.cfg, dedup_against_output=True,
            bloom_prefilter=True)
        self.api = MapperAPI(self.spark, self.out, self.cfg)

    def batch(self, i: int) -> list[dict]:
        base_idx = range(self.base_start, self.base_start + self.BASE_ROWS)
        src = self.recrawl_rng.sample(base_idx, self.RECRAWL_PER_BATCH)
        return gen.batch_rows(self.new_start + i * self.NEW_PER_BATCH,
                              self.NEW_PER_BATCH, src, f'b{i}')

    def op(self, i: int) -> float:
        rows = self.batch(i)
        path = self.ctx.path(f'batch{i}')
        gen.write_pages(path, rows, files=self.ctx.cores)
        df = self.spark.read.parquet(path)
        t = time.perf_counter()
        pipeline.run_extraction(self.spark, df, self.out, self.cfg,
                                dedup_against_output=True,
                                bloom_prefilter=True)
        status = self.api.status()
        dt = time.perf_counter() - t
        self.cycles.append((rows, status))
        return dt

    def replay(self):
        """Yield (rows, expected documents, rows whose content was
        committed before) for the base and then each batch: the table a
        correct engine holds after each. An exact copy inside one batch
        is written too, as the anti-join only sees committed rows."""
        committed: set[str] = set()
        docs: list[dict] = []
        for rows in [self.base] + [c[0] for c in self.cycles]:
            before = set(committed)
            hashes = [checks.md5_hex(r['html']) for r in rows]
            dups = sum(1 for h in hashes if h in before)
            for r, h in zip(rows, hashes):
                if h not in before:
                    docs.append({'url': r['url'], 'warc_ts': r['warc_ts'],
                                 'content_hash': h, 'categories': None,
                                 'extracted_text': r['text']})
                    committed.add(h)
            yield rows, list(docs), dups

    def check(self) -> None:
        states = list(self.replay())
        for n, ((_, status), (_, docs, _)) in enumerate(
                zip(self.cycles, states[1:])):
            pending = (cp.pending_intents(self.out)
                       if n == len(self.cycles) - 1 else [])
            self.results.append(checks.check_recrawl(
                status['document_count'], len(docs), pending))

    def kernel_rows(self):
        return list(enumerate(self.base, self.base_start))

    def layers(self) -> dict[str, float]:
        """Besides the bloom and storage figures, the read path a user
        queries on the final table: ``MapperAPI.search`` and the search
        operator alone on an ASCII query (native path) and the operator
        on a non-ASCII one (pandas-UDF path). Each is called once
        untimed first, so first-use costs stay out; every answer is
        checked against the reference."""
        tr = self.ctx.tracer
        docs = list(self.replay())[-1][1]
        k = self.cfg.max_results
        q_native = ascii_query(self.query_rng)
        q_udf = non_ascii_query(self.query_rng)

        def operator(q):
            rows = search_op(cp.read_output(self.spark, self.out), q,
                             k=k, cfg=self.cfg).collect()
            return {'results': [{'document_id': r['url'], 'score': r['score']}
                                for r in rows]}

        timed = {}
        for key, q, call in (('api.search_ms', q_native, self.api.search),
                             ('search.op_ms', q_native, operator),
                             ('search.udf_op_ms', q_udf, operator)):
            call(q)
            with tr.span(key):
                answer = call(q)
            timed[key] = tr.durations(key)[-1] * 1e3
            self.results.append(checks.check_search(
                answer, checks.reference_search(docs, q, k)))
        out = {**timed, 'api.overhead_ms':
               timed['api.search_ms'] - timed['search.op_ms']}
        out.update(self.bloom_layers())
        out['checkpoint.data_files'] = len(_dir_files(cp.data_path(self.out)))
        in_bytes = sum(os.path.getsize(f) for d in
                       ['base_in'] + [f'batch{i}'
                                      for i in range(len(self.cycles))]
                       for f in _dir_files(self.ctx.path(d)))
        out['checkpoint.bytes_per_input_byte'] = sum(
            os.path.getsize(f)
            for f in _dir_files(cp.data_path(self.out))) / in_bytes
        out.update(self.kernel_layers(q_native))
        return out

    def bloom_layers(self) -> dict[str, float]:
        """Share of each batch the bloom filter passes to the exact
        anti-join (base = batch rows), and the share of those that
        really were committed, from the bitmaps each operation built."""
        maybe_fracs, useful = [], []
        states = list(self.replay())[1:]
        for bitmap, (rows, _, dups) in zip(self.bitmaps, states):
            df = self.spark.createDataFrame(
                [(checks.md5_hex(r['html']),) for r in rows], '__h string')
            tagged = bloom.might_contain_col(df, '__h', bitmap)
            maybe = tagged.filter(F.col('__bloom_maybe')).count()
            bloom.release_blooms(tagged)
            maybe_fracs.append(maybe / len(rows))
            useful.append(dups / maybe if maybe else 0.0)
        if not maybe_fracs:
            return {'bloom.maybe_frac': 0.0, 'bloom.useful_ratio': 0.0}
        return {'bloom.maybe_frac': statistics.fmean(maybe_fracs),
                'bloom.useful_ratio': statistics.fmean(useful)}


WORKLOADS = {w.name: w for w in (CrawlExtract, RecrawlAppend)}
