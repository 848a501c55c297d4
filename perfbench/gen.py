#!/usr/bin/env python3
"""Seeded input generator for graft's benchmark.

Every table is drawn from the seed and from perfbench/sfstats.json, the
measured statistics of the sf-dir test tables that the registered queries
and their DuckDB oracles are written against (see perfbench/sfstats.py).
The same seed gives the same files. Kept from the test tables: schemas, key
cardinalities, the document vocabulary with its word frequencies, document
lengths, the near- and exact-duplicate rates, the language mix, unit-norm
embeddings whose directions do not depend on the label, the event-type mix,
the value distribution (by its percentiles), events per user, and events
inside the January 2024 window the queries hard-code. Row counts are set
per workload in SIZES.

    python3 perfbench/gen.py --workload train_data --seed 7 --out DIR [--size tiny]

Tables written per workload:
  train_data      documents.parquet + embeddings.parquet
  stream_ingest   backlog/ (ordered event files for a file-source stream)
"""
import argparse
import json
import os
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import sfstats

PROFILE = sfstats.load()
DOCS, EMBS, EVENTS = PROFILE['documents'], PROFILE['embeddings'], PROFILE['events']
EVENTS_PER_USER = EVENTS['rows'] / EVENTS['users']
DAY_US = 86400 * 10**6

# Row counts per workload and size. "full" is what the benchmark measures;
# "tiny" is for the benchmark's own smoke tests.
SIZES = {
    'full': {
        'train_data': dict(docs=1000, embeddings=1000),
        'stream_ingest': dict(events=6000, files=2),
    },
    'tiny': {
        'train_data': dict(docs=300, embeddings=300),
        'stream_ingest': dict(events=2400, files=2),
    },
}


def _choice(rng, dist, n):
    keys = list(dist)
    p = np.array([dist[k] for k in keys], dtype=np.float64)
    return np.array(keys)[rng.choice(len(keys), n, p=p / p.sum())]


def events_table(rng, n, days=None):
    """Events sorted by time with event_id in time order, as in the test
    tables, over the test tables' window or its first `days` days; users
    keep the test tables' events per user."""
    users = max(1, round(n / EVENTS_PER_USER))
    t1 = EVENTS['ts_max_us'] if days is None else EVENTS['ts_min_us'] + days * DAY_US
    ts = np.sort(rng.integers(EVENTS['ts_min_us'], t1 + 1, n))
    q = np.array(EVENTS['value_quantiles'])
    value = np.round(np.interp(rng.random(n) * 100, np.arange(101), q), 2)
    return pa.table({
        'event_id': pa.array(np.arange(n, dtype=np.int64)),
        'ts': pa.array(ts, pa.timestamp('us')),
        'user_id': pa.array(rng.integers(0, users, n).astype(np.int64)),
        'event_type': pa.array(_choice(rng, EVENTS['event_type'], n)),
        'value': pa.array(value),
        'props': pa.array([f'{{"k": {k}}}' for k in rng.integers(0, EVENTS['props_k_max'] + 1, n)]),
    })


def documents_table(rng, n):
    """Documents of words drawn from the test tables' vocabulary. A share
    of them are another document's text plus the token "dup" (near
    duplicates) and a smaller share are exact copies, at the test tables'
    rates; the copied document is any other one."""
    words = _choice(rng, DOCS['vocab'], n * DOCS['length_max'])
    lengths = rng.integers(DOCS['length_min'], DOCS['length_max'] + 1, n)
    texts = [' '.join(words[i * DOCS['length_max']:i * DOCS['length_max'] + k])
             for i, k in enumerate(lengths)]
    kind = rng.random(n)
    near = kind < DOCS['near_dup_frac']
    exact = (kind >= DOCS['near_dup_frac']) & (kind < DOCS['near_dup_frac'] + DOCS['exact_dup_frac'])
    originals = np.flatnonzero(~(near | exact))
    for i in np.flatnonzero(near | exact):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + (' dup' if near[i] else '')
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table({
        'doc_id': pa.array(doc_id),
        'text': pa.array(texts),
        'lang': pa.array(_choice(rng, DOCS['lang'], n)),
        'source': pa.array([f'src{k}' for k in doc_id % DOCS['sources']]),
        'n_chars': pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n):
    """Unit-norm vectors with directions independent of the label, and
    labels in the test tables' proportions."""
    v = rng.standard_normal((n, EMBS['dim'])).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        'vec_id': pa.array(np.arange(n, dtype=np.int64)),
        'embedding': pa.array(list(v), pa.list_(pa.float32())),
        'label': pa.array(_choice(rng, EMBS['labels'], n).astype(np.int32)),
    })


def backlog(rng, out, n, files):
    """Stream backlog: one file per day from the start of the window, in
    name and modification-time order, as a daily export would deliver them.
    Inside a file rows are shuffled, and about 2% are re-deliveries of a row
    from the same or the previous file (same event_id and ts)."""
    ev = events_table(rng, n, days=files).to_pandas()
    slabs = [ev.iloc[i * n // files:(i + 1) * n // files] for i in range(files)]
    d = out / 'backlog'
    d.mkdir(parents=True)
    schema = events_table(rng, 1).schema
    prev, total = None, 0
    t0 = 1_700_000_000
    for i, part in enumerate(slabs):
        pool = part if prev is None else pd.concat([part, prev])
        dups = pool.sample(n=max(1, len(part) // 50), random_state=int(rng.integers(2**31)))
        both = pd.concat([part, dups]).sample(frac=1.0, random_state=int(rng.integers(2**31)))
        f = d / f'part-{i:04d}.parquet'
        pq.write_table(pa.Table.from_pandas(both, preserve_index=False).cast(schema), f)
        total += len(both)
        os.utime(f, (t0 + 10 * i, t0 + 10 * i))
        prev = part
    return total


# Schemas of the test tables no workload reads. tools/check.py opens a
# view on every table, so the oracle directory carries empty copies.
_I64, _I32, _F64, _STR, _TS = pa.int64(), pa.int32(), pa.float64(), pa.string(), pa.timestamp('us')
EMPTY_TABLES = {
    'region': [('r_regionkey', _I32), ('r_name', _STR)],
    'nation': [('n_nationkey', _I32), ('n_name', _STR), ('n_regionkey', _I32)],
    'customer': [('c_custkey', _I64), ('c_name', _STR), ('c_nationkey', _I32),
                 ('c_acctbal', _F64), ('c_mktsegment', _STR)],
    'supplier': [('s_suppkey', _I64), ('s_name', _STR), ('s_nationkey', _I32), ('s_acctbal', _F64)],
    'part': [('p_partkey', _I64), ('p_name', _STR), ('p_brand', _STR), ('p_type', _STR),
             ('p_size', _I32), ('p_retailprice', _F64)],
    'orders': [('o_orderkey', _I64), ('o_custkey', _I64), ('o_orderstatus', _STR),
               ('o_totalprice', _F64), ('o_orderdate', _TS), ('o_orderpriority', _STR)],
    'lineitem': [('l_orderkey', _I64), ('l_partkey', _I64), ('l_suppkey', _I64),
                 ('l_linenumber', _I32), ('l_quantity', _F64), ('l_extendedprice', _F64),
                 ('l_discount', _F64), ('l_tax', _F64), ('l_returnflag', _STR),
                 ('l_linestatus', _STR), ('l_shipdate', _TS)],
    'events': events_table(np.random.default_rng(0), 0).schema,
    'documents': documents_table(np.random.default_rng(0), 0).schema,
    'embeddings': embeddings_table(np.random.default_rng(0), 0).schema,
}


def oracle_dir(data, dest):
    """A directory the DuckDB oracles can read: one file per table, with
    the tables the workload does not read present but empty."""
    data, dest = Path(data), Path(dest)
    dest.mkdir(parents=True, exist_ok=True)
    for name, schema in EMPTY_TABLES.items():
        src, dst = data / f'{name}.parquet', dest / f'{name}.parquet'
        if src.is_file():
            os.link(src, dst)
        else:
            pq.write_table(pa.schema(schema).empty_table(), dst)
    return dest


def generate(workload, seed, out, size='full'):
    """Writes the workload's tables under `out`; returns
    {'rows': input rows one pass reads, 'files': ..., 'bytes': ...}."""
    cfg = SIZES[size][workload]
    rng = np.random.default_rng([seed, sorted(SIZES['full']).index(workload)])
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    rows = 0
    if workload == 'train_data':
        pq.write_table(documents_table(rng, cfg['docs']), out / 'documents.parquet')
        pq.write_table(embeddings_table(rng, cfg['embeddings']), out / 'embeddings.parquet')
        rows = cfg['docs'] + cfg['embeddings']
    elif workload == 'stream_ingest':
        rows = backlog(rng, out, cfg['events'], cfg['files'])
    else:
        raise SystemExit(f'gen: unknown workload {workload}')
    files = [p for p in out.rglob('*.parquet') if p.is_file()]
    return {'rows': rows, 'files': len(files), 'bytes': sum(p.stat().st_size for p in files)}


if __name__ == '__main__':
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--workload', required=True)
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--out', required=True)
    ap.add_argument('--size', default='full', choices=sorted(SIZES))
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out, a.size)))
