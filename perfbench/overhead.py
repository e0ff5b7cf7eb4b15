#!/usr/bin/env python3
"""Tracing overhead: run one workload at one seed untraced and traced,
``--pairs`` times with the order alternating, and print the median of
each end-to-end figure on both sides and traced minus untraced. On a
shared machine one pair is dominated by the host's noise; use five or
more.

    python3 perfbench/overhead.py --workload crawl_extract --seed 1 --pairs 5

Both runs print each end-to-end figure on a line
``end_to_end <name> <value> <unit>``; the traced run measures them with
the span wrappers installed and the Spark UI on.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def end_to_end(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / 'run.py'), '--workload', workload,
           '--seed', str(seed), '--seconds', str(seconds),
           '--trace', str(trace)]
    out = subprocess.run(cmd, cwd=HERE.parent, capture_output=True,
                         text=True, check=False)
    if out.returncode != 0:
        raise SystemExit(f'{" ".join(cmd)} failed:\n{out.stderr[-3000:]}')
    figures = {}
    for line in out.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 3 and parts[0] == 'end_to_end':
            figures[parts[1]] = float(parts[2])
    if not figures:
        raise SystemExit(f'{" ".join(cmd)} printed no end_to_end lines')
    return figures


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('--workload', required=True)
    p.add_argument('--seed', type=int, default=1)
    p.add_argument('--seconds', type=float, default=None,
                   help='default: run_seconds from BENCHMARK.json')
    p.add_argument('--pairs', type=int, default=1)
    args = p.parse_args()
    spec = json.loads((HERE.parent / 'BENCHMARK.json').read_text())
    seconds = args.seconds or spec['run_seconds']
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for n in range(args.pairs):
        for trace in ((0, 1) if n % 2 == 0 else (1, 0)):
            runs[trace].append(
                end_to_end(args.workload, args.seed, seconds, trace))
    plain, traced = ({k: statistics.median(r[k] for r in runs[t])
                      for k in runs[t][0] if all(k in r for r in runs[t])}
                     for t in (0, 1))
    print(f'{"figure":<16}{"untraced":>12}{"traced":>12}{"overhead":>12}')
    for name in plain:
        if name not in traced:
            continue
        a, b = plain[name], traced[name]
        share = f'{(b - a) / a:+.1%}' if a else 'n/a'
        print(f'{name:<16}{a:>12.3f}{b:>12.3f}{share:>12}')
    return 0


if __name__ == '__main__':
    sys.exit(main())
