#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload train_data --seed 1 --seconds 10 --trace 0

It builds graft and the harness from source (perfbench/build.py), generates
the workload's inputs from the seed (perfbench/gen.py), runs the workload in
fresh JVMs at local[nproc], each with its own temp directory, checks every
output against the DuckDB oracles, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import check_stream  # noqa: E402
import gen  # noqa: E402

# Per workload: the queries a batch pass submits, one at a time, and the
# nominal wall time of one warm pass on 4 cores, from which the number of
# timed passes is set (see passes()).
WORKLOADS = {
    'train_data': dict(kind='batch', pass_s=4.0, queries=[
        'doc_dedup_minhash', 'doc_topic_cluster', 'emb_knn_ivf_indexed', 'emb_kmeans']),
    'stream_ingest': dict(kind='stream', pass_s=6.0),
}

E2E_UNITS = {'setup_s': 's', 'pass_s': 's', 'query_p50_s': 's', 'rows_per_s': '1/s',
             'retained_mb': 'MB'}
LAYER_UNITS = {
    'entry.build_s': 's', 'entry.build_jobs': 'count',
    'plan.analysis_ms': 'ms', 'plan.optimization_ms': 'ms', 'plan.planning_ms': 'ms',
    'plan.exchanges': 'count', 'plan.native_exprs': 'count', 'plan.hof_exprs': 'count',
    'codegen.compile_ms': 'ms', 'codegen.classes': 'count',
    'sched.jobs': 'count', 'sched.stages': 'count', 'sched.tasks': 'count',
    'sched.driver_gap_s': 's',
    'exec.run_s': 's', 'exec.cpu_s': 's', 'exec.gc_s': 's', 'exec.busy_cores': 'cores',
    'shuffle.write_mb': 'MB', 'shuffle.read_mb': 'MB', 'shuffle.fetch_wait_s': 's',
    'spill.mb': 'MB', 'mat.storage_peak_mb': 'MB',
    'scan.read_mb': 'MB', 'scan.rows': 'count',
    'write.mb': 'MB', 'write.files': 'count', 'lake.call_s': 's',
    'stream.triggers': 'count', 'stream.add_batch_ms': 'ms', 'stream.planning_ms': 'ms',
    'stream.wal_ms': 'ms', 'stream.state_rows': 'count', 'stream.state_mb': 'MB',
    'stream.dropped_late': 'count',
    'trace.overhead_s': 's',
}
# JVMs per run ("forks"). Each sets up cold and then runs its share of the
# timed passes; the metrics are medians over the samples of all forks.
FORKS = 2
# graft's default driver heap (build.sbt: SPARK_DRIVER_MEM, else 32g),
# sized on demand as in graft's own runs.
HEAP = '32g'
JVM_OPENS = ['java.base/' + p for p in (
    'java.lang', 'java.lang.invoke', 'java.lang.reflect', 'java.io', 'java.net', 'java.nio',
    'java.util', 'java.util.concurrent', 'java.util.concurrent.atomic', 'sun.nio.ch',
    'sun.nio.cs', 'sun.security.action', 'sun.util.calendar')]
JVM_TIMEOUT_S = 150
# A timing sample during which the hypervisor took more than this share of
# the machine's CPU time ("steal") is set aside when at least half of its
# step's samples are below it (see typical()). On the shared 4-core VM the
# benchmark was built on, quiet seconds showed under 1% steal and busy
# episodes, tens of seconds long, 4-16%.
STEAL_MAX = 0.02


def steal_s():
    """CPU seconds the hypervisor has taken from this machine's CPUs, or
    None where the kernel does not report it."""
    try:
        with open('/proc/stat') as f:
            return int(f.readline().split()[8]) / os.sysconf('SC_CLK_TCK')
    except (OSError, IndexError, ValueError):
        return None


def passes(workload, seconds):
    """Timed passes per fork: the run's seconds at the workload's nominal
    pass time, split over the forks; at least one. The count depends only
    on the arguments, so every run of a workload does the same work."""
    return max(1, round(seconds / FORKS / WORKLOADS[workload]['pass_s']))


def typical(samples):
    """Median time of (seconds, steal share) samples, over those below
    STEAL_MAX when they are at least half, else over all of them."""
    quiet = [t for t, share in samples if share < STEAL_MAX]
    return statistics.median(quiet if 2 * len(quiet) >= len(samples) else [t for t, _ in samples])


def run_jvm(classes, args, work):
    """Runs the harness in a fresh JVM whose temp and Spark local dirs,
    and outputs, live in `work`; returns its result.json."""
    tmp, local, out = work / 'tmp', work / 'local', work / 'out'
    for d in (tmp, local, out):
        d.mkdir(parents=True)
    cmd = ['java', *[x for p in JVM_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')],
           f'-Xmx{HEAP}',
           '-XX:ReservedCodeCacheSize=1g', '-XX:-UsePerfData',
           f'-Djava.io.tmpdir={tmp}', f'-Dspark.local.dir={local}',
           '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC',
           '-cp', build.classpath(classes), 'graftbench.GraftBench', *args, '--out', str(out)]
    with open(work / 'jvm.log', 'w') as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = 'timeout'
    res = out / 'result.json'
    if code != 0 or not res.exists():
        sys.stderr.write((work / 'jvm.log').read_text()[-6000:])
        raise SystemExit(f'run: harness JVM ended with {code}')
    return json.loads(res.read_text())


def check_batch(out_dir, data_dir, work):
    """Compares each dumped output with its DuckDB oracle through
    tools/check.py; returns (checked, wrong)."""
    oracle = json.loads((out_dir / 'oracle_sql.json').read_text())
    r = subprocess.run([sys.executable, str(ROOT / 'tools' / 'check.py'), str(out_dir),
                        str(data_dir)], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, cwd=work)
    lines = r.stdout.splitlines()
    ok = sum(1 for ln in lines if ln.startswith('OK '))
    bad = [ln for ln in lines if ln.startswith('FAIL ')]
    if ok + len(bad) != len(oracle):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit('run: tools/check.py did not report every query')
    for ln in bad:
        sys.stderr.write(ln + '\n')
    return len(oracle), len(bad)


def main():
    ap = argparse.ArgumentParser(description='graft benchmark')
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, default=0, choices=(0, 1))
    ap.add_argument('--size', default='full', choices=sorted(gen.SIZES))
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    classes = build.build()
    runs = build.build_dir() / 'runs'
    work = runs / f'{a.workload}-{a.seed}-{a.trace}-{os.getpid()}'
    work.mkdir(parents=True)
    try:
        data = work / 'data'
        inputs = gen.generate(a.workload, a.seed, data, a.size)
        # a traced run prints no setup_s, so one fork does
        forks = 1 if a.trace else FORKS
        args = ['--kind', wl['kind'], '--data', str(data), '--trace', str(a.trace),
                '--passes', str(passes(a.workload, a.seconds))]
        if wl['kind'] == 'batch':
            args += ['--queries', ','.join(wl['queries'])]
        t0, st0 = time.time(), steal_s()
        res = []
        for i in range(forks):
            jvm = work / f'jvm{i}'
            res.append(run_jvm(classes, args, jvm))
            if i < forks - 1:
                shutil.rmtree(jvm)
        jvm_s, st1 = time.time() - t0, steal_s()
        out, dump = jvm / 'out', jvm / 'out' / 'dump'
        if wl['kind'] == 'batch':
            checked, wrong = check_batch(dump, gen.oracle_dir(data, work / 'oracle'), work)
        else:
            checked, wrong = check_stream.check(data / 'backlog', dump / 'stream')
        med = statistics.median
        # per step (query, or trigger position): its typical time over all forks
        samples = {k: [x for r in res for x in r['step_s'][k]] for k in res[0]['step_s']}
        steps = {k: typical(xs) for k, xs in samples.items()}
        e2e = {'setup_s': med(r['setup_s'] for r in res),
               'query_p50_s': med(steps.values()),
               'retained_mb': med(r['context']['retained_mb'] for r in res)}
        if wl['kind'] == 'batch':
            # a typical pass: each query at its median, so a stall on the
            # host moves one sample, not a whole pass
            e2e['pass_s'] = sum(steps.values())
        else:
            e2e['pass_s'] = typical([x for r in res for x in r['pass_s']])
        e2e['rows_per_s'] = inputs['rows'] / e2e['pass_s']
        attempted, failed = sum(r['attempted'] for r in res), sum(r['failed'] for r in res)
        ctx = dict(res[-1]['context'], workload=a.workload, seed=a.seed, size=a.size,
                   forks=forks, setup_runs_s=[r['setup_s'] for r in res],
                   pass_samples=sum(len(r['pass_s']) for r in res),
                   step_samples=sum(len(xs) for xs in samples.values()),
                   step_samples_quiet=sum(1 for xs in samples.values() for _, sh in xs
                                          if sh < STEAL_MAX),
                   step_median_s=steps,
                   peak_rss_runs_mb=[r['context']['peak_rss_mb'] for r in res],
                   retained_runs_mb=[r['context']['retained_mb'] for r in res],
                   pools_runs_mb=[r['context']['pools_mb'] for r in res],
                   inputs=inputs, jvm_s=round(jvm_s, 3),
                   steal_s=None if st0 is None else round(st1 - st0, 2),
                   checked=checked, wrong=wrong,
                   fail_frac=failed / attempted, wrong_frac=wrong / max(checked, 1))
        if a.trace:
            trace_dir = build.build_dir() / 'traces'
            trace_dir.mkdir(exist_ok=True)
            shutil.copy(out / 'trace.json', trace_dir / f'{a.workload}.json')
            ctx['trace_file'] = os.path.relpath(trace_dir / f'{a.workload}.json', ROOT)
            metrics = {k: {'value': res[-1]['per_layer'].get(k, 0.0), 'unit': u}
                       for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {'value': e2e[k], 'unit': u} for k, u in E2E_UNITS.items()}
        print(json.dumps({'context': ctx}))
        print(json.dumps({'correct': wrong == 0 and checked > 0, 'attempted': attempted,
                          'failed': failed, 'metrics': metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == '__main__':
    main()
