#!/usr/bin/env python3
"""Batch twin of the stream_ingest workload: recomputes from the backlog
files what the two streams must have written, and compares.

Model of a file-source micro-batch stream that reads one file per trigger
(`maxFilesPerTrigger` 1): batch b is the b-th file in name order. The watermark of batch
b is the largest event time seen in batches before it (in whole
milliseconds) minus the stream's delay. Stateful operators drop as late
the rows at or behind the watermark of the batch before (Spark's
watermark for late events), and evict state behind the current one after
the batch's input. The dedup stream writes the first copy of each
event_id; the rollup stream emits a (user_id, 5-minute window) once the
final watermark, after the closing no-data batch, reaches the window's
end.

    python3 perfbench/check_stream.py BACKLOG_DIR STREAM_OUT_DIR
"""
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DEDUP_DELAY_US = 3600 * 10**6       # StreamDedup(..., "1 hour")
ROLLUP_DELAY_US = 600 * 10**6       # StreamRollup.fixedWindow(..., "10 minutes")
WINDOW_US = 300 * 10**6             # "5m"
COLS = ['event_id', 'ts', 'user_id', 'event_type', 'value', 'props']


def batches(backlog):
    for p in sorted(Path(backlog).glob('part-*.parquet')):
        b = pq.read_table(p).to_pandas()
        b['ts'] = b['ts'].astype('datetime64[us]').astype(np.int64)
        yield b


def on_time(backlog, delay_us):
    """Rows that are not late under the watermark, and the final watermark."""
    kept, wm, wm_late, max_ms = [], -2**62, -2**62, None
    for b in batches(backlog):
        kept.append(b[b['ts'] > wm_late])
        m = int(b['ts'].max()) // 1000
        max_ms = m if max_ms is None else max(max_ms, m)
        wm_late, wm = wm, max_ms * 1000 - delay_us
    return pd.concat(kept, ignore_index=True), wm


def read_dir(d):
    files = [p for p in Path(d).rglob('*.parquet') if '_spark_metadata' not in p.parts]
    return pd.concat([pq.read_table(p).to_pandas() for p in files], ignore_index=True)


def check(backlog, out):
    """Returns (outputs checked, outputs wrong)."""
    wrong = 0
    rows, _ = on_time(backlog, DEDUP_DELAY_US)
    exp = rows.drop_duplicates('event_id')[COLS].sort_values('event_id').reset_index(drop=True)
    got = read_dir(Path(out) / 'lake')[COLS].sort_values('event_id').reset_index(drop=True)
    if len(exp) != len(got) or not exp.astype(str).equals(got.astype(str)):
        sys.stderr.write(f'check_stream: lake rows exp={len(exp)} got={len(got)}\n')
        wrong += 1

    rows, wm = on_time(backlog, ROLLUP_DELAY_US)
    rows['ts_begin'] = rows['ts'] // WINDOW_US * WINDOW_US
    exp = (rows.groupby(['user_id', 'ts_begin'])
           .agg(n=('value', 'size'), sum_value=('value', 'sum'), max_value=('value', 'max'))
           .reset_index())
    exp = exp[exp['ts_begin'] + WINDOW_US <= wm].sort_values(['user_id', 'ts_begin'])
    got = read_dir(Path(out) / 'rollup').sort_values(['user_id', 'ts_begin'])
    ok = (len(exp) == len(got)
          and (exp['user_id'].values == got['user_id'].values).all()
          and (exp['ts_begin'].values == got['ts_begin'].values).all()
          and (exp['n'].values == got['n'].values).all()
          and np.allclose(exp['sum_value'].values, got['sum_value'].values, rtol=1e-9)
          and (exp['max_value'].values == got['max_value'].values).all())
    if not ok:
        sys.stderr.write(f'check_stream: rollup windows exp={len(exp)} got={len(got)}\n')
        wrong += 1
    return 2, wrong


if __name__ == '__main__':
    n, bad = check(sys.argv[1], sys.argv[2])
    print(f'{n - bad} passed, {bad} failed')
    sys.exit(1 if bad else 0)
