#!/usr/bin/env python3
"""Measured statistics of graft's test tables, which perfbench/gen.py draws
the benchmark's inputs from.

The benchmark may not read outside its checkout, so it cannot transform the
sf-dir test tables themselves. Instead this script measures, once, the
statistics the registered queries depend on and writes them to
perfbench/sfstats.json, which is kept in the repository:

    python3 perfbench/sfstats.py SF_DIR                  # rewrite sfstats.json
    python3 perfbench/sfstats.py SF_DIR --compare DIR    # both side by side

SF_DIR is an sf-dir of the test tables (documents, embeddings and events
parquet files), e.g. the sf0.1 one. The same `stats` function measures
generated inputs, and the self-tests compare the two.
"""
import argparse
import collections
import json
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
PROFILE = HERE / 'sfstats.json'


def _frac(counter, total):
    return {str(k): round(v / total, 5) for k, v in sorted(counter.items())}


def documents_stats(path):
    d = pq.read_table(path).to_pandas()
    words = d['text'].str.split()
    vocab = collections.Counter(w for ws in words for w in ws if w != 'dup')
    near = d['text'].str.endswith(' dup')
    base = set(d.loc[~near, 'text'])
    lengths = words[~near].map(len)
    return {
        'rows': len(d),
        'vocab': _frac(vocab, sum(vocab.values())),
        'length_min': int(lengths.min()), 'length_max': int(lengths.max()),
        'length_mean': round(float(lengths.mean()), 3),
        # near duplicates: another document's text plus the token "dup"
        'near_dup_frac': round(float(near.mean()), 5),
        'near_dup_base_found': round(float(d.loc[near, 'text'].str[:-4].isin(base).mean()), 3),
        'exact_dup_frac': round(float(d['text'].duplicated().mean()), 5),
        'lang': _frac(collections.Counter(d['lang']), len(d)),
        'sources': int(d['source'].nunique()),
        'source_is_doc_id_mod': bool((d['source'] == 'src' + (d['doc_id'] % d['source'].nunique())
                                      .astype(str)).all()),
        'n_chars_is_len': bool((d['n_chars'] == d['text'].str.len()).all()),
    }


def embeddings_stats(path):
    e = pq.read_table(path).to_pandas()
    v = np.stack(e['embedding'].values).astype(np.float64)
    labels = e['label'].values
    cent = [np.linalg.norm(v[labels == k].mean(0)) * np.sqrt((labels == k).sum())
            for k in np.unique(labels)]
    return {
        'rows': len(e), 'dim': int(v.shape[1]),
        'norm_mean': round(float(np.linalg.norm(v, axis=1).mean()), 5),
        'coord_std': round(float(v.std()), 5),
        'mean_norm': round(float(np.linalg.norm(v.mean(0))), 4),
        # per-label centroid norm times sqrt(label size): about 1 for
        # directions drawn independently of the label, larger for clusters
        'label_centroid_z': round(float(np.mean(cent)), 3),
        'labels': _frac(collections.Counter(map(int, labels)), len(e)),
    }


def events_stats(path):
    ev = pq.read_table(path).to_pandas()
    ts = ev['ts'].astype('datetime64[us]').astype(np.int64)
    return {
        'rows': len(ev), 'users': int(ev['user_id'].nunique()),
        'user_max': int(ev['user_id'].max()),
        'event_type': _frac(collections.Counter(ev['event_type']), len(ev)),
        'value_quantiles': [round(float(q), 4) for q in np.percentile(ev['value'], np.arange(101))],
        'props_k_max': int(ev['props'].str.extract(r'(\d+)')[0].astype(int).max()),
        'ts_min_us': int(ts.min()), 'ts_max_us': int(ts.max()),
        'event_id_in_time_order': bool((np.diff(ev.sort_values('ts')['event_id'].values) > 0).all()),
    }


STATS = {'documents': documents_stats, 'embeddings': embeddings_stats, 'events': events_stats}


def stats(directory):
    """Statistics of every profiled table present in `directory`."""
    out = {}
    for name, f in STATS.items():
        p = Path(directory) / f'{name}.parquet'
        if p.is_file():
            out[name] = f(p)
    return out


def load():
    return json.loads(PROFILE.read_text())


if __name__ == '__main__':
    ap = argparse.ArgumentParser(description='measure the test tables gen.py follows')
    ap.add_argument('sf_dir')
    ap.add_argument('--compare', help='a directory of generated tables to set beside them')
    a = ap.parse_args()
    ref = stats(a.sf_dir)
    if a.compare:
        got = stats(a.compare)
        for table, s in got.items():
            for k, v in s.items():
                if not isinstance(v, (dict, list)):
                    print(f'{table:10s} {k:24s} {ref[table][k]!s:>14} {v!s:>14}')
    else:
        PROFILE.write_text(json.dumps(ref, indent=1) + '\n')
        print(PROFILE)
