#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent and a change.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --seeds A-B

For each seed in A..B (one pair per seed) it runs
`python3 perfbench/run.py --workload W --seed N --seconds S` once in each
checkout, from that checkout's root, alternating which side goes first so
that a drift of the host does not always land on the same side. S is
BENCHMARK.json's `run_seconds`, the same on both sides. It only calls the
benchmark; nothing under perfbench/ is read or changed apart from running it.

It prints, for every end-to-end metric that BENCHMARK.json registers, each
side's median [q1, q3] over the pairs and how many pairs each side won, and
two verdicts:
  bound  the change's median is worse than the parent's by at most the
         metric's BENCHMARK.json `bound` (a fraction of the parent median);
         unresolved when the parent's IQR is wider than the bound, unless
         every change run beats every parent run;
  claim  the change wins at least 9 of 10 pairs, its median beats the
         parent's by more than the parent's quartile spread (IQR), every
         change run is correct, and the change fails no more operations in
         total than the parent.
`--out FILE` also writes every run's result line, one JSON object per line.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time


def seeds(spec):
    a, _, b = spec.partition('-')
    return list(range(int(a), int(b or a) + 1))


def run(checkout, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, 'perfbench/run.py', '--workload', workload,
                        '--seed', str(seed), '--seconds', str(seconds)],
                       cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f'bench_pairs: run failed in {checkout} (seed {seed})')
    res = json.loads(lines[-1])
    res['wall_s'] = round(time.time() - t0, 1)
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method='inclusive')
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    ap.add_argument('parent')
    ap.add_argument('change')
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seeds', required=True, help='A-B, inclusive')
    ap.add_argument('--out', help='write every result line here (JSON lines)')
    a = ap.parse_args()
    dirs = {'parent': pathlib.Path(a.parent).resolve(),
            'change': pathlib.Path(a.change).resolve()}
    bench = json.loads((dirs['change'] / 'BENCHMARK.json').read_text())
    metrics = {m['name']: m for m in bench['end_to_end']}

    out = open(a.out, 'w') if a.out else None
    pairs = []
    for i, seed in enumerate(seeds(a.seeds)):
        order = ['parent', 'change'] if i % 2 == 0 else ['change', 'parent']
        pair = {}
        for side in order:
            pair[side] = run(dirs[side], a.workload, seed, bench['run_seconds'])
            if out:
                out.write(json.dumps(dict(pair[side], side=side, seed=seed)) + '\n')
                out.flush()
        pairs.append(pair)
        m = {s: pair[s]['metrics'] for s in pair}
        print(f'seed {seed} ({order[0]} first): ' + '  '.join(
            f'{k} {m["parent"][k]["value"]:.3f}->{m["change"][k]["value"]:.3f}'
            for k in metrics if k in m['parent']) +
            '  correct ' + '/'.join(str(pair[s]['correct']) for s in ('parent', 'change')) +
            '  failed ' + '/'.join(str(pair[s]['failed']) for s in ('parent', 'change')),
            flush=True)

    report(a.workload, a.seeds, pairs, metrics)


def report(workload, seed_spec, pairs, metrics):
    """Print the per-metric medians, wins, bound and claim verdicts."""
    n = len(pairs)
    correct = {s: sum(bool(p[s]['correct']) for p in pairs) for s in ('parent', 'change')}
    failed = {s: sum(p[s]['failed'] for p in pairs) for s in ('parent', 'change')}
    clean = correct['change'] == n and failed['change'] <= failed['parent']
    print(f'\n{workload}, {n} pairs, seeds {seed_spec}')
    print(f'correct: parent {correct["parent"]}/{n}, change {correct["change"]}/{n}; '
          f'failed: parent {failed["parent"]}, change {failed["change"]}')
    for k, m in metrics.items():
        if k not in pairs[0]['parent']['metrics']:
            continue
        v = {s: [p[s]['metrics'][k]['value'] for p in pairs] for s in ('parent', 'change')}
        sign = 1 if m['better'] == 'lower' else -1
        wins = sum(1 for p, c in zip(v['parent'], v['change']) if sign * (p - c) > 0)
        losses = sum(1 for p, c in zip(v['parent'], v['change']) if sign * (c - p) > 0)
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(v['parent']), quartiles(v['change'])
        gain = sign * (pmed - cmed)
        worse = -gain / abs(pmed) if pmed else 0.0
        delta = statistics.median(c - p for p, c in zip(v['parent'], v['change']))
        claim = clean and wins >= 0.9 * n and gain > pq3 - pq1
        spread = (pq3 - pq1) / abs(pmed) if pmed else 0.0
        all_better = max(sign * c for c in v['change']) < min(sign * p for p in v['parent'])
        bound = ('MET' if all_better else 'unresolved') if spread > m['bound'] else \
            'MET' if worse <= m['bound'] else 'NOT MET'
        print(f'{k:12s} ({m["better"]} is better)  parent {pmed:.3f} [{pq1:.3f}, {pq3:.3f}]'
              f'  change {cmed:.3f} [{cq1:.3f}, {cq3:.3f}]'
              f'  wins change {wins}/{n}, parent {losses}/{n}'
              f'  median pair delta {delta:+.3f} ({100 * (cmed - pmed) / pmed:+.1f}% of medians)')
        print(f'{"":12s} bound (change median worse by {100 * worse:+.1f}% <= '
              f'{100 * m["bound"]:.0f}%, parent IQR {100 * spread:.1f}%): {bound}')
        print(f'{"":12s} claim rule (change wins >= 9/10, median gain {gain:+.3f}'
              f' > parent IQR {pq3 - pq1:.3f}, all change runs correct, failed'
              f' {failed["change"]} <= {failed["parent"]}): {"MET" if claim else "not met"}')


if __name__ == '__main__':
    main()
