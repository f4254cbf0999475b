#!/usr/bin/env python3
"""Steadiness check: runs one workload N times on this commit, each run with
its own seed, and prints for every end-to-end metric its median, quartiles,
quartile spread and max/min spread beside the metric's bound.

    python3 perfbench/steady.py <workload> [--runs 10] [--seed0 1]

The quartile spread is (q3 - q1) / median with the quartiles
`statistics.quantiles(values, n=4)` gives; a metric is steady when that
spread stays within a third of its bound. The share of failed operations
must be identical in every run. The summary is also written to
.bench_build/perfbench/steady-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

import common


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument('workload')
    ap.add_argument('--runs', type=int, default=10)
    ap.add_argument('--seed0', type=int, default=1)
    a = ap.parse_args()
    spec = common.load_json(os.path.join(common.ROOT, 'BENCHMARK.json'))
    runs = []
    for i in range(a.runs):
        seed = a.seed0 + i
        r = subprocess.run([sys.executable, os.path.join(common.HERE, 'run.py'), '--workload',
                            a.workload, '--seed', str(seed), '--seconds',
                            str(spec['run_seconds']), '--trace', '0'],
                           cwd=common.ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            sys.exit(f'run with seed {seed} failed:\n{r.stderr[-2000:]}')
        with open(os.path.join(common.WORK, f'steady-{a.workload}-{seed}.out'), 'w') as fh:
            fh.write(r.stdout)
        last = json.loads(r.stdout.strip().splitlines()[-1])
        runs.append(last)
        vals = ' '.join(f"{k}={v['value']:.4g}" for k, v in last['metrics'].items())
        print(f'seed {seed}: attempted={last["attempted"]} failed={last["failed"]} {vals}',
              flush=True)

    shares = {r['failed'] / r['attempted'] for r in runs}
    summary = {'workload': a.workload, 'runs': len(runs), 'failed_shares': sorted(shares),
               'metrics': {}}
    print(f'\n{a.workload}: {len(runs)} runs, failed share(s) {sorted(shares)}')
    print(f'{"metric":16} {"median":>10} {"q1":>10} {"q3":>10} {"iqr/med":>8} '
          f'{"max/min":>8} {"bound":>6}  steady')
    for m in spec['end_to_end']:
        xs = [r['metrics'][m['name']]['value'] for r in runs]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        iqr = (q3 - q1) / med
        spread = max(xs) / min(xs)
        ok = iqr <= m['bound'] / 3
        summary['metrics'][m['name']] = {'median': med, 'q1': q1, 'q3': q3, 'iqr_over_median': iqr,
                                         'max_over_min': spread, 'bound': m['bound'],
                                         'values': xs, 'steady': ok}
        print(f'{m["name"]:16} {med:10.4g} {q1:10.4g} {q3:10.4g} {iqr:8.3f} {spread:8.3f} '
              f'{m["bound"]:6.2f}  {"yes" if ok else "NO"}')
    with open(os.path.join(common.WORK, f'steady-{a.workload}.json'), 'w') as fh:
        json.dump(summary, fh, indent=1)


if __name__ == '__main__':
    main()
