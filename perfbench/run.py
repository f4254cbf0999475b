#!/usr/bin/env python3
"""One benchmark run: one workload, one seed, one JVM at local[4].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source on first use, runs the
workload, checks its outputs (gate workloads against the stored DuckDB
oracle results, stream_window against the generator's own tally), prints
one context line per item, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. Untraced runs report the
end-to-end metrics; traced runs report the per-layer metrics and write
their spans to .bench_build/perfbench/<workload>/spans.json.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import time

import common

GATE_WORKLOADS = ['gates_ops', 'gates_graph', 'gates_corpus']
WORKLOADS = GATE_WORKLOADS + ['stream_window']
# Streaming figures with no batch counterpart: reported in every run's
# context line and, in traced runs, as per-layer metrics.
STREAM_FIGURES = ['drain_eps', 'sustained_eps', 'latency_p50_ms', 'latency_p99_ms',
                  'latency_samples']
# A run of a BENCHMARK.json workload must end within this many seconds of
# starting (the build excluded); the manual-only gate workloads take longer.
RUN_LIMIT_S = 170
MANUAL_LIMIT_S = 900
# Cold gate set-ups made in JVMs of their own before the run's JVM, whose
# own set-up is cold too; setup_s is the median of them all.
EXTRA_COLD_SETUPS = 1


def bench_spec():
    return common.load_json(os.path.join(common.ROOT, 'BENCHMARK.json'))


def run_jvm(java, args, work, out_json, deadline):
    """Runs one benchmark JVM in `work` and returns the JSON file it wrote;
    kills it and fails the run when it is still running at `deadline`."""
    with open(os.path.join(work, 'jvm.log'), 'w') as out:
        p = subprocess.Popen(java + ['perfbench.Main'] + args, cwd=common.ROOT,
                             stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f'run exceeded its time limit (see {work}/jvm.log)')
    if rc != 0:
        raise SystemExit(f'benchmark JVM exited with {rc} (see {work}/jvm.log)')
    return common.load_json(os.path.join(work, out_json))


def median(xs):
    return statistics.median(xs) if xs else float('nan')


def gate_metrics(rec, work):
    """Checks every gate's output against the stored oracle fingerprint and
    turns the per-gate times into metrics. A gate that threw or whose output
    differs from the oracle fails all its executions and is left out of the
    times."""
    import duckdb
    oracle = common.load_json(common.ORACLE)
    con = duckdb.connect()
    con.sql('SET threads = 4')
    per_gate = rec['executions_per_gate']
    attempted = failed = 0
    lines, ok_medians = [], []
    for g in rec['gates']:
        name = g['name']
        attempted += per_gate
        why = g['error']
        if not why:
            want = oracle.get(name)
            if want is None:
                why = 'no stored oracle result'
            else:
                try:
                    got = common.fingerprint(con, f"SELECT * FROM '{work}/gates/{name}/*.parquet'")
                except duckdb.Error as e:
                    got, why = None, f'output unreadable: {e}'
                diff = [k for k in ('rows', 'columns', 'dtypes', 'hash_sum', 'hash_xor')
                        if got and got[k] != want[k]]
                if diff:
                    why = 'differs from oracle in ' + ','.join(diff)
        reps = g['reps']
        if why:
            failed += per_gate
            lines.append({'gate': name, 'failed': why[:160]})
            continue
        m = median(reps)
        ok_medians.append(m)
        line = {'gate': name, 'median_s': round(m, 4), 'reps': len(reps),
                'check_s': round(rec['check'][name], 4)}
        if len(reps) > 1:
            line['spread'] = round(max(reps) / min(reps), 2)
        lines.append(line)
    metrics = {'result_s': sum(ok_medians), 'live_heap_mb': rec['live_heap_mb']}
    # Cheapest first, so the costly gates sit nearest the summary line.
    lines.sort(key=lambda x: x.get('median_s', float('inf')))
    context = {k: rec[k] for k in ('calibration_q_input_s', 'rounds', 'check_pass_s',
                                   'timed_rounds_s')}
    context['gates_ok'] = len(ok_medians)
    correct = failed == 0 and len(ok_medians) == len(rec['gates']) > 0
    return correct, attempted, failed, metrics, lines, context


def stream_metrics(rec):
    """Operations are the tallied windows and the timed drains; a window
    that is missing, duplicated, wrong or untallied fails, and so does a
    drain that timed out (it enters result_s as its whole wait)."""
    metrics = {'result_s': median(rec['drain_s']), 'live_heap_mb': rec['live_heap_mb']}
    lines = [{'rung_eps': r['rate'], 'seconds': r['seconds'], 'sustained': r['sustained'],
              'backlog_max': r['backlog_max'], 'lag_s': round(r['lag_s'], 3),
              'late_max_ms': round(r['late_max_ms'], 1)} for r in rec['rungs']]
    context = {k: rec[k] for k in ('drain_s', 'drain_events', 'drain_eps', 'sustained_eps',
                                   'latency_rate', 'latency_samples', 'latency_p50_ms',
                                   'latency_p99_ms', 'windows', 'windows_failed',
                                   'drains_failed')}
    attempted = rec['windows'] + rec['drains']
    failed = rec['windows_failed'] + rec['drains_failed']
    correct = failed == 0 and rec['windows'] > 0 and rec['latency_samples'] > 0
    return correct, attempted, failed, metrics, lines, context


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    ap.add_argument('--workload', required=True, choices=WORKLOADS)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = bench_spec()
    java = common.build()
    t0 = time.time()
    listed = a.workload in [w['name'] for w in spec['workloads']]
    deadline = t0 + (RUN_LIMIT_S if listed else MANUAL_LIMIT_S) - 15
    work = os.path.join(common.WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cold = []
    if a.workload in GATE_WORKLOADS:
        for i in range(EXTRA_COLD_SETUPS):
            sub = os.path.join(work, f'setup-{i}')
            os.makedirs(sub)
            cold.append(run_jvm(java, ['setup', a.workload, str(a.seed), common.DATA, sub],
                                sub, 'setup.json', deadline)['setup_s'])
    rec = run_jvm(java, ['run', a.workload, str(a.seed), str(a.seconds), str(a.trace), common.DATA,
                         work], work, 'record.json', deadline)
    rec['setup_s'] = cold + rec['setup_s']

    if a.workload in GATE_WORKLOADS:
        correct, attempted, failed, metrics, lines, context = gate_metrics(rec, work)
    else:
        correct, attempted, failed, metrics, lines, context = stream_metrics(rec)
    metrics['setup_s'] = median(rec['setup_s'])
    metrics['peak_rss_mb'] = rec['peak_rss_mb']
    # Traced runs print per-layer metrics; the context line keeps the
    # end-to-end figures, whose traced/untraced ratio is the tracing overhead.
    context.update(metrics)

    if a.trace:
        units = {m['name']: m['unit'] for m in spec['per_layer']}
        layers = dict(rec['layers'])
        if a.workload == 'stream_window':
            layers.update({f'stream.{k}': rec[k] for k in STREAM_FIGURES})
        values = {k: layers.get(k, 0.0) for k in units}
    else:
        units = {m['name']: m['unit'] for m in spec['end_to_end']}
        values = {k: metrics[k] for k in units}

    host = dict(rec['host'], setup_s=rec['setup_s'], run_s=round(time.time() - t0, 1))
    print(json.dumps({'workload': a.workload, 'seed': a.seed, 'trace': a.trace, 'host': host}))
    for line in lines:
        print(json.dumps(line))
    print(json.dumps(context))
    print(json.dumps({'correct': bool(correct), 'attempted': int(attempted), 'failed': int(failed),
                      'metrics': {k: {'value': values[k], 'unit': units[k]} for k in units}}))


if __name__ == '__main__':
    main()
