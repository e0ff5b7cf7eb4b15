"""Tests of the benchmark's own pieces; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import re
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import checks  # noqa: E402
import gen  # noqa: E402
from stats import self_time, tail  # noqa: E402
from tracing import Tracer  # noqa: E402

SPEC = json.loads((HERE.parent / 'BENCHMARK.json').read_text())


# ------------------------------------------------------------ generator

def test_generator_is_deterministic_per_seed(tmp_path):
    for name in ('a', 'b'):
        gen.write_pages(str(tmp_path / name),
                        gen.pages(gen.window_start(7, 0), 30), files=3)
    a = pq.read_table(tmp_path / 'a').to_pylist()
    b = pq.read_table(tmp_path / 'b').to_pylist()
    assert a == b and len(a) == 30
    assert gen.window_start(7, 0) != gen.window_start(8, 0)
    r1, r2 = gen.rng(7, 'recrawl'), gen.rng(7, 'recrawl')
    assert r1.sample(range(100), 5) == r2.sample(range(100), 5)


def test_windows_never_overlap_and_keep_the_doctype_mix():
    starts = sorted(gen.window_start(seed, slot)
                    for seed in range(3) for slot in range(gen.SLOTS_PER_SEED))
    assert all(b - a >= gen.SLOT_ROWS for a, b in zip(starts, starts[1:]))
    assert all(s % gen.ROW_PERIOD == 0 for s in starts)


def test_written_timestamps_read_back_unchanged(tmp_path):
    rows = gen.pages(gen.window_start(1, 0), 4)
    gen.write_pages(str(tmp_path / 't'), rows, files=1)
    got = pq.read_table(tmp_path / 't').column('warc_ts').to_pylist()
    assert [g.replace(tzinfo=None) for g in got] == [r['warc_ts'] for r in rows]
    assert all(g.utcoffset() == dt.timedelta(0) for g in got)


def test_recrawl_copies_the_payload_under_a_new_url():
    src = gen.window_start(2, 0)
    copy = gen.recrawl_row(src, 'x')
    orig = gen.pages(src, 1)[0]
    assert copy['html'] == orig['html'] and copy['url'] != orig['url']
    assert copy['warc_ts'] > orig['warc_ts']


def test_planted_pairs_are_byte_copies():
    start = gen.window_start(3, 0)
    pairs = gen.planted_dups(start, 48)
    rows = dict(enumerate(gen.pages(start, 48), start))
    assert len(pairs) == 8
    assert all(rows[a]['html'] == rows[b]['html'] for a, b in pairs)


# --------------------------------------------------------------- checks

def _crawl_case():
    rows = gen.pages(gen.window_start(4, 0), 24)
    expected = {r['url']: r['text'] for r in rows}
    dups = checks.expected_duplicates([r['html'] for r in rows])
    seen, out = set(), []
    for r in rows:
        h = checks.md5_hex(r['html'])
        out.append((r['url'], r['text'], h in seen))
        seen.add(h)
    return out, expected, dups


def test_crawl_check_passes_a_correct_output():
    out, expected, dups = _crawl_case()
    assert dups == 4
    assert checks.check_crawl(out, expected, dups, len(out)) == []


def test_crawl_check_catches_one_flipped_byte():
    out, expected, dups = _crawl_case()
    url, text, dup = out[5]
    flipped = text[:10] + chr(ord(text[10]) ^ 1) + text[11:]
    out[5] = (url, flipped, dup)
    errs = checks.check_crawl(out, expected, dups, len(out))
    assert errs and 'extracted_text' in errs[0]


def test_crawl_check_catches_lost_rows_and_counters():
    out, expected, dups = _crawl_case()
    assert checks.check_crawl(out[:-1], expected, dups, len(out))
    assert checks.check_crawl(out, expected, dups, len(out) - 1)


def _docs():
    rows = gen.pages(gen.window_start(5, 0), 36)
    return [{'url': r['url'], 'warc_ts': r['warc_ts'],
             'content_hash': checks.md5_hex(r['html']),
             'extracted_text': r['text'], 'categories': None} for r in rows]


def test_search_check_catches_a_wrong_score():
    docs = _docs()
    ref = checks.reference_search(docs, 'ethics moral', 10)
    assert ref, 'query must match some fixture documents'
    good = {'results': [{'document_id': u, 'score': s} for u, s in ref]}
    assert checks.check_search(good, ref) == []
    bad = {'results': [dict(r) for r in good['results']]}
    bad['results'][-1]['score'] += 1
    assert checks.check_search(bad, ref)


def test_reference_search_keeps_the_first_sighting_of_a_payload():
    docs = _docs()
    copy = dict(docs[0], url=docs[0]['url'] + '?recrawl=1',
                warc_ts=docs[0]['warc_ts'] + dt.timedelta(days=1))
    words = docs[0]['extracted_text'].split()[:2]
    ref = checks.reference_search(docs + [copy], ' '.join(words), 50)
    urls = [u for u, _ in ref]
    assert docs[0]['url'] in urls and copy['url'] not in urls


def test_neardup_check_catches_a_split_planted_pair():
    planted = [(1, 5), (7, 11)]
    labels = {1: 1, 5: 1, 7: 7, 11: 7}
    assert checks.check_neardup(labels, planted, 20, 18, 4, 4) == []
    split = {**labels, 11: 11}
    assert checks.check_neardup(split, planted, 20, 17, 4, 4)
    assert checks.check_neardup(labels, planted, 20, 18, 5, 4)


# ----------------------------------------------------------------- stats

@pytest.mark.parametrize('n,pct,rank', [(11, 9.0, 1), (20, 50.0, 10),
                                        (100, 90.0, 90), (1000, 99.0, 990)])
def test_tail_takes_the_highest_percentile_with_ten_samples_beyond(n, pct, rank):
    values = list(range(1, n + 1))
    got = tail(values)
    assert got == (pct, float(rank))
    assert sum(1 for v in values if v > got[1]) == 10


def test_tail_needs_eleven_samples():
    assert tail(list(range(10))) is None


def test_self_time_subtracts_children_once():
    assert self_time((0.0, 10.0), []) == 10.0
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == 6.0
    # children are clipped to the parent's interval
    assert self_time((0.0, 10.0), [(-5.0, 2.0), (9.0, 15.0)]) == 7.0


def test_tracer_reports_self_time_per_operation(monkeypatch):
    clock = iter([0.0, 1.0, 2.0, 5.0, 6.0, 9.0, 9.0, 10.0])
    monkeypatch.setattr('tracing.time.perf_counter', lambda: next(clock))
    tr = Tracer()
    with tr.span('op'):                       # 0 .. 10
        with tr.span('pipeline.run'):          # 1 .. 9
            with tr.span('checkpoint.a'):      # 2 .. 5
                pass
            with tr.span('checkpoint.a'):      # 6 .. 9
                pass
    assert tr.per_op('pipeline.run') == (8.0, 1.0)
    assert tr.per_op('pipeline.run', self_only=True) == (2.0, 1.0)
    assert tr.per_op('checkpoint.a') == (6.0, 2.0)
    assert tr.per_op('missing') == (0.0, 0.0)


def test_wrap_records_calls_through_the_module_attribute():
    import types
    mod = types.ModuleType('pkg.layer')
    mod.f = lambda x: x + 1
    tr = Tracer()
    seen = []
    tr.wrap(mod, 'f', on_result=seen.append)
    with tr.span('op'):
        assert mod.f(1) == 2
    tr.restore()
    assert mod.f(1) == 2 and seen == [2]
    assert [s['name'] for s in tr.spans] == ['layer.f', 'op']


# ------------------------------------------------------- BENCHMARK.json

_NAME = re.compile(r'^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$')
_UNIT = re.compile(r'^[A-Za-z0-9_/%.-]{1,16}$')


def test_benchmark_json_follows_its_format():
    assert set(SPEC) == {'command', 'paths', 'run_seconds', 'workloads',
                         'end_to_end', 'per_layer'}
    assert 1 <= SPEC['run_seconds'] <= 60
    names = [w['name'] for w in SPEC['workloads']]
    names += [m['name'] for m in SPEC['end_to_end'] + SPEC['per_layer']]
    assert len(names) == len(set(names))
    assert all(_NAME.match(n) for n in names)
    for w in SPEC['workloads']:
        assert set(w) == {'name', 'why'} and len(w['why']) <= 200
    for m in SPEC['end_to_end']:
        assert set(m) == {'name', 'unit', 'better', 'bound'}
        assert 0 < m['bound'] <= 0.25
    for m in SPEC['per_layer']:
        assert set(m) == {'name', 'unit', 'better'}
    for m in SPEC['end_to_end'] + SPEC['per_layer']:
        assert _UNIT.match(m['unit']) and m['better'] in ('higher', 'lower')
    setup = [m for m in SPEC['end_to_end'] if m['name'] == 'setup_s']
    assert setup and setup[0]['unit'] == 's' and setup[0]['better'] == 'lower'
    assert setup[0]['bound'] == max(m['bound'] for m in SPEC['end_to_end'])


def test_benchmark_json_names_the_workloads_run_py_has():
    from workloads import WORKLOADS
    assert [w['name'] for w in SPEC['workloads']] == list(WORKLOADS)
