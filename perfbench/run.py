#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload crawl_extract --seed 1 \\
        --seconds 10 --trace 0

Inputs are generated from ``--seed``; the engine runs in-process on a
Spark session at ``local[<cores>]``. Operations repeat for ``--seconds``
seconds (at least one), then every output is checked. The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (names and units from BENCHMARK.json). The
exit code is 1 when any output check fails.

Everything the run writes stays under ``.perfbench/`` in the checkout;
the traced run leaves its spans in ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# end-to-end figures printed but not bounded (see README.md)
UNBOUNDED_UNITS = {'peak_rss_mb': 'MB', 'docs_per_s': 'docs/s',
                   'op_p50_s': 's', 'op_samples': 'count',
                   'failed_frac': 'ratio'}
CHECKPOINT_FNS = ('reconcile_intents', 'committed_buckets', 'read_output',
                  'append_checkpoints', 'write_intent', 'clear_intent')


class Ctx:
    """What a workload needs from the run: the session, the engine
    config, its seed, a private work directory and the tracer."""

    def __init__(self, seed: int, cores: int, work: Path, tracer):
        self.seed = seed
        self.cores = cores
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.cfg = None

    def path(self, name: str) -> str:
        return str(self.work / name)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('--workload', required=True)
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(cores: int, work: Path, traced: bool):
    """The session a user of the engine starts, plus settings that keep
    scratch files inside ``work`` and, for the traced run only, the UI
    whose REST API serves the stage metrics."""
    from pdf_ai_mapper_spark.config import EngineConfig
    from pdf_ai_mapper_spark.session import get_spark
    cfg = EngineConfig(shuffle_partitions=4 * cores)
    conf = {
        'spark.ui.showConsoleProgress': 'false',
        'spark.local.dir': str(work / 'local'),
        'spark.driver.extraJavaOptions':
            f'-Djava.io.tmpdir={work / "tmp"} -XX:-UsePerfData',
    }
    if traced:
        conf.update({'spark.ui.enabled': 'true', 'spark.ui.port': '0'})
    spark = get_spark(master=f'local[{cores}]', cfg=cfg, extra_conf=conf)
    spark.sparkContext.setLogLevel('ERROR')
    spark.range(1).count()
    return spark, cfg


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and every process
    still running below this one, waiting for each to end."""
    from pyspark import SparkContext
    from tracing import descendants, stop_processes
    gateway = SparkContext._gateway
    proc = getattr(gateway, 'proc', None)
    pids = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    stop_processes(pids + descendants(os.getpid()))


def instrument(tracer, w) -> None:
    """Wrap the public functions the operations reach, as module and
    class attributes, so each call records a span."""
    from pdf_ai_mapper_spark import checkpoint, pipeline
    from pdf_ai_mapper_spark.api import MapperAPI
    from pdf_ai_mapper_spark.operators import bloom
    tracer.wrap(pipeline, 'run_extraction')
    for fn in CHECKPOINT_FNS:
        tracer.wrap(checkpoint, fn)
    tracer.wrap(bloom, 'build_bloom',
                on_result=getattr(w, 'bitmaps', []).append)
    tracer.wrap(MapperAPI, 'search', name='api.search')
    tracer.wrap(MapperAPI, 'status', name='api.status')


def layer_metrics(tracer, w, session_s: float, spark_stats: dict) -> dict:
    m = {'session.get_spark_s': session_s}
    m['pipeline.run_extraction_s'] = tracer.per_op(
        'pipeline.run_extraction')[0]
    m['pipeline.run_extraction_self_s'] = tracer.per_op(
        'pipeline.run_extraction', self_only=True)[0]
    for fn in CHECKPOINT_FNS:
        secs, calls = tracer.per_op(f'checkpoint.{fn}')
        m[f'checkpoint.{fn}_s'] = secs
        m[f'checkpoint.{fn}.calls'] = calls
    m['bloom.build_bloom_s'] = tracer.per_op('bloom.build_bloom')[0]
    m['api.status_ms'] = tracer.per_op('api.status')[0] * 1e3
    m.update(spark_stats)
    m.update(w.layers())
    return m


def run(args) -> tuple[dict, dict, int, int]:
    """(end-to-end metrics, per-layer metrics or {}, attempted, failed)."""
    import tracing
    from stats import median, tail
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f'unknown workload {args.workload!r}; '
                         f'choose from {sorted(WORKLOADS)}')
    cores = len(os.sched_getaffinity(0))
    work = ROOT / '.perfbench' / f'{args.workload}-{os.getpid()}'
    for d in ('local', 'tmp'):
        (work / d).mkdir(parents=True)
    # Spark's scratch dirs and the Python workers' temp files
    os.environ['SPARK_LOCAL_DIRS'] = str(work / 'local')
    os.environ['TMPDIR'] = str(work / 'tmp')
    traced = bool(args.trace)
    tracer = tracing.Tracer() if traced else tracing.NullTracer()
    ctx = Ctx(args.seed, cores, work, tracer)
    w = WORKLOADS[args.workload](ctx)  # inputs, written before timing
    spark = None
    try:
        t0 = time.perf_counter()
        spark, ctx.cfg = start_spark(cores, work, traced)
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        w.setup()
        setup_s = time.perf_counter() - t0

        if traced:
            instrument(tracer, w)
            spark.sparkContext.setJobGroup('window', 'measured operations')
        times: list[float] = []
        cpu0 = tracing.tree_cpu_s()
        start = time.perf_counter()
        try:
            while True:
                with tracer.span('op'):
                    times.append(w.op(len(times)))
                if time.perf_counter() - start >= args.seconds:
                    break
        except Exception:  # the run must still check, report and stop
            traceback.print_exc()
            w.results.append(['operation raised; see stderr'])
        cpu_s = tracing.tree_cpu_s() - cpu0
        rss = tracing.peak_rss_mb()
        spark_stats = {}
        if traced:
            tracer.restore()
            spark_stats = tracing.stage_metrics(
                spark, 'window', len(times), sum(times), cores)
            spark.sparkContext.setJobGroup('after', 'checks and layers')
        try:
            w.check()
        except Exception:
            traceback.print_exc()
            w.results.append(['output check raised; see stderr'])

        e2e = {'setup_s': setup_s, 'peak_rss_mb': rss}
        if times:
            docs = w.docs_per_op * len(times)
            e2e['cpu_ms_per_doc'] = cpu_s * 1e3 / docs
            e2e['docs_per_s'] = docs / sum(times)
            e2e['op_p50_s'] = median(times)
            # the tail is the highest percentile with ten samples beyond
            # it; a run needs eleven operations before it has one
            top = tail(times)
            if top:
                e2e[f'op_p{top[0]:g}_s'] = top[1]
        e2e['op_samples'] = len(times)
        layers = {}
        if traced and times:
            layers = layer_metrics(tracer, w, session_s, spark_stats)
            spans = ROOT / '.perfbench' / 'spans'
            spans.mkdir(parents=True, exist_ok=True)
            tracer.write(
                str(spans / f'{args.workload}-seed{args.seed}.jsonl'))
        print(f'{args.workload}: {len(times)} operations, op seconds '
              f'{[round(t, 3) for t in times]}', file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    attempted = len(w.results)
    failed = sum(1 for errs in w.results if errs)
    for errs in w.results:
        for e in errs:
            print(f'check failed: {e}', file=sys.stderr)
    return e2e, layers, attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine and these modules, for this process and Spark's Python
    # workers (which unpickle functions defined here by reference)
    sys.path[:0] = [str(ROOT), str(HERE)]
    inherited = [p for p in [os.environ.get('PYTHONPATH')] if p]
    os.environ['PYTHONPATH'] = os.pathsep.join([str(ROOT), str(HERE)]
                                               + inherited)
    spec = json.loads((ROOT / 'BENCHMARK.json').read_text())

    e2e, layers, attempted, failed = run(args)
    e2e['failed_frac'] = failed / max(1, attempted)
    # every figure by name with its unit; the bounded ones are also in
    # the result line. The traced run's feed perfbench/overhead.py
    units = {m['name']: m['unit'] for m in spec['end_to_end']}
    for name, value in e2e.items():
        unit = units.get(name) or UNBOUNDED_UNITS.get(
            name, 's' if name.startswith('op_p') else '')
        print(f'end_to_end {name} {value:.6g} {unit}'.rstrip())
    wanted = spec['per_layer'] if args.trace else spec['end_to_end']
    values = layers if args.trace else e2e
    missing = [m['name'] for m in wanted if m['name'] not in values]
    metrics = {m['name']: {'value': float(values.get(m['name'], 0.0)),
                           'unit': m['unit']} for m in wanted}
    ok = failed == 0 and attempted > 0 and not (missing and not args.trace)
    print(json.dumps({'correct': ok, 'attempted': max(1, attempted),
                      'failed': failed if attempted else 1,
                      'metrics': metrics}))
    return 0 if ok else 1


if __name__ == '__main__':
    sys.exit(main())
