"""Steadiness check: two sets of runs per workload, each end-to-end
metric's spread set against its bound.

    python3 kgbench/steady.py [--seed 1] [--runs 10] [--sets 2]
                              [--workload W ...]

Run from the repository root.  Set k uses seeds ``seed + i`` for
i < runs, so every set sees the same inputs.  For each workload and
metric it prints the spread of each set (the distance between the
first and third quartile as a share of the median, from
``statistics.quantiles(values, n=4)``) and the drift of the second
set's median against the first, both against the metric's bound
from BENCHMARK.json, and the failed/attempted share of each set.
It exits 1 when a spread, a drift or a failed share breaks the
rule; ``setup_s`` is held to its bound like every other metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec, workload: str, seed: int) -> dict:
    cmd = spec['command'] + ['--workload', workload, '--seed', str(seed),
                             '--seconds', str(spec['run_seconds']),
                             '--trace', '0']
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        raise RuntimeError('%s seed %d exited %d:\n%s' % (
            workload, seed, proc.returncode, proc.stderr[-3000:]))
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(values) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main(argv=None) -> int:
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--runs', type=int, default=10)
    ap.add_argument('--sets', type=int, default=2)
    ap.add_argument('--workload', action='append',
                    help='repeat to pick several (default: all)')
    args = ap.parse_args(argv)
    workloads = args.workload or [w['name'] for w in spec['workloads']]
    ok = True
    for wl in workloads:
        sets = []
        for k in range(args.sets):
            results = []
            for i in range(args.runs):
                r = run_once(spec, wl, args.seed + i)
                results.append(r)
                print('%s set %d seed %d: %s' % (
                    wl, k, args.seed + i, json.dumps(r)), flush=True)
            sets.append(results)
        shares = {sum(r['failed'] for r in s) / sum(r['attempted']
                                                    for r in s)
                  for s in sets}
        all_correct = all(r['correct'] for s in sets for r in s)
        print('%s: failed share per set %s, all correct %s'
              % (wl, sorted(shares), all_correct))
        ok &= len(shares) == 1 and all_correct
        for m in spec['end_to_end']:
            name, bound = m['name'], m['bound']
            meds, line = [], []
            for s in sets:
                vals = [r['metrics'][name]['value'] for r in s]
                meds.append(statistics.median(vals))
                sp = spread(vals)
                line.append('spread %.3f' % sp)
                if sp > bound:
                    ok = False
                    line[-1] += ' OVER'
            for med in meds[1:]:
                worse = ((med - meds[0]) / meds[0]
                         if m['better'] == 'lower'
                         else (meds[0] - med) / meds[0])
                line.append('drift %+.3f' % worse)
                if worse > bound:
                    ok = False
                    line[-1] += ' OVER'
            print('  %-16s median %-10.4g bound %.2f  %s' % (
                name, meds[0], bound, ', '.join(line)))
    return 0 if ok else 1


if __name__ == '__main__':
    sys.exit(main())
