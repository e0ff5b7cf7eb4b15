"""Instruments of the traced run: a span tracer, module-attribute
wrappers, the Spark status REST collector and process memory.

Spans are recorded only from outside the engine: ``Tracer.wrap``
replaces a public function with a timing wrapper on its module, so
every caller that looks the function up through the module sees it
(``pipeline`` calls ``cp.read_output`` and friends that way). Spans stay
in memory with their parent ids until ``Tracer.write``.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import signal
import statistics
import time
import urllib.request
from contextlib import contextmanager, nullcontext

from stats import self_time


class NullTracer:
    """Tracing off: spans cost one call and record nothing."""

    def span(self, name: str, **attrs):
        return nullcontext(attrs)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append({'id': sid, 'parent': parent, 'name': name,
                               'start': start, 'end': end, **attrs})

    def wrap(self, owner, attr: str, name: str | None = None,
             on_result=None) -> None:
        """Replace ``owner.attr`` (a module or class attribute) with a
        wrapper recording one span per call, named ``name`` or
        ``<owner leaf name>.<attr>``. ``on_result`` sees each return
        value."""
        fn = getattr(owner, attr)
        name = name or f"{owner.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        return [s['end'] - s['start'] for s in self.spans if s['name'] == name]

    def per_op(self, name: str, self_only: bool = False,
               root: str = 'op') -> tuple[float, float]:
        """(seconds, calls) of layer ``name`` per ``root`` span that
        called it at least once; (0, 0) when none did. With
        ``self_only`` the seconds exclude the layer's child spans."""
        by_id = {s['id']: s for s in self.spans}
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s['parent'] is not None:
                kids.setdefault(s['parent'], []).append((s['start'], s['end']))

        def root_of(s):
            while s['parent'] is not None:
                s = by_id[s['parent']]
            return s

        secs: dict[int, float] = {}
        calls: dict[int, int] = {}
        for s in self.spans:
            r = root_of(s)
            if s['name'] != name or r['name'] != root or r is s:
                continue
            dur = (self_time((s['start'], s['end']), kids.get(s['id'], []))
                   if self_only else s['end'] - s['start'])
            secs[r['id']] = secs.get(r['id'], 0.0) + dur
            calls[r['id']] = calls.get(r['id'], 0) + 1
        if not secs:
            return 0.0, 0.0
        return (statistics.fmean(secs.values()),
                statistics.fmean(calls.values()))

    def write(self, path: str) -> None:
        with open(path, 'w') as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + '\n')


# ------------------------------------------------ Spark status REST API

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_metrics(spark, group: str, n_ops: int, wall_s: float,
                  cores: int) -> dict[str, float]:
    """Task metrics of every job run under job group ``group``, read
    from the driver's status REST API (the UI must be enabled). Counts,
    times and bytes are per operation; ``max_task_skew`` is the
    run-time-weighted mean over stages with at least two tasks of
    (longest task / median task); ``cpu_busy_frac`` is executor CPU
    time over ``wall_s`` x ``cores``."""
    sc = spark.sparkContext
    base = f'{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}'
    # the status store is fed asynchronously by the listener bus
    for _ in range(100):
        jobs = [j for j in _get(f'{base}/jobs') if j.get('jobGroup') == group]
        if all(j['status'] != 'RUNNING' for j in jobs):
            break
        time.sleep(0.1)
    wanted = {sid for j in jobs for sid in j['stageIds']}
    stages = [s for s in _get(f'{base}/stages?status=complete')
              if s['stageId'] in wanted]
    tot = dict.fromkeys(('tasks', 'run_ms', 'cpu_ns', 'gc_ms', 'fetch_ms',
                         'in_b', 'shw_b', 'spill_b', 'sched_ms'), 0)
    skew_num = skew_den = 0.0
    for s in stages:
        tot['tasks'] += s['numTasks']
        tot['run_ms'] += s['executorRunTime']
        tot['cpu_ns'] += s['executorCpuTime']
        tot['gc_ms'] += s['jvmGcTime']
        tot['fetch_ms'] += s.get('shuffleFetchWaitTime', 0)
        tot['in_b'] += s['inputBytes']
        tot['shw_b'] += s['shuffleWriteBytes']
        tot['spill_b'] += s['memoryBytesSpilled'] + s['diskBytesSpilled']
        tasks = _get(f"{base}/stages/{s['stageId']}/{s['attemptId']}"
                     f"/taskList?length=100000")
        tot['sched_ms'] += sum(t.get('schedulerDelay', 0) for t in tasks)
        durs = [t['duration'] for t in tasks if t.get('duration') is not None]
        if len(durs) >= 2 and statistics.median(durs) > 0:
            skew_num += (s['executorRunTime'] * max(durs)
                         / statistics.median(durs))
            skew_den += s['executorRunTime']
    ops = max(1, n_ops)
    mb = 1024 * 1024
    return {
        'spark.jobs': len(jobs) / ops,
        'spark.stages': len(stages) / ops,
        'spark.tasks': tot['tasks'] / ops,
        'spark.executor_run_s': tot['run_ms'] / 1e3 / ops,
        'spark.executor_cpu_s': tot['cpu_ns'] / 1e9 / ops,
        'spark.jvm_gc_s': tot['gc_ms'] / 1e3 / ops,
        'spark.scheduler_delay_s': tot['sched_ms'] / 1e3 / ops,
        'spark.shuffle_fetch_wait_s': tot['fetch_ms'] / 1e3 / ops,
        'spark.input_mb': tot['in_b'] / mb / ops,
        'spark.shuffle_write_mb': tot['shw_b'] / mb / ops,
        'spark.spill_mb': tot['spill_b'] / mb / ops,
        'spark.max_task_skew': skew_num / skew_den if skew_den else 0.0,
        'spark.cpu_busy_frac': (tot['cpu_ns'] / 1e9 / (wall_s * cores)
                                if wall_s > 0 else 0.0),
    }


# ------------------------------------------------ processes and memory

def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM and its Python
    workers, for the benchmark process)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir('/proc'):
        if not d.isdigit():
            continue
        try:
            with open(f'/proc/{d}/stat') as f:
                ppid = int(f.read().rsplit(')', 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f'/proc/{pid}/status') as f:
            for line in f:
                if line.startswith('VmHWM:'):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) of this process, the JVM
    and the Python workers alive now."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me] + descendants(me)) / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by this process, the JVM and the Python workers alive now. Time
    the host takes the CPU away (steal) is not in it."""
    tick = os.sysconf('SC_CLK_TCK')
    me = os.getpid()
    total = 0
    for p in [me] + descendants(me):
        try:
            with open(f'/proc/{p}/stat') as f:
                fields = f.read().rsplit(')', 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / tick


def _alive(pid: int) -> bool:
    try:
        with open(f'/proc/{pid}/stat') as f:
            return f.read().rsplit(')', 1)[1].split()[0] != 'Z'
    except OSError:
        return False


def stop_processes(pids: list[int], timeout_s: float = 20.0) -> None:
    """SIGTERM ``pids``, wait for them to exit, SIGKILL stragglers."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        live = [p for p in pids if _alive(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + timeout_s
        while live and time.monotonic() < deadline:
            for p in live:
                try:
                    os.waitpid(p, os.WNOHANG)
                except ChildProcessError:
                    pass
            live = [p for p in live if _alive(p)]
            if live:
                time.sleep(0.1)
        if not live:
            return
