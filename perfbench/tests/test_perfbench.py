"""Self-tests of graft's benchmark. They run the real command on tiny inputs.

    python3 -m unittest discover -s perfbench/tests -v      # from the repository root

A full pass builds graft once and then takes a few minutes.
"""
import hashlib
import json
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import gen  # noqa: E402
import run  # noqa: E402
import sfstats  # noqa: E402

SPEC = json.loads((ROOT / 'BENCHMARK.json').read_text())


def bench(workload, seed, trace):
    r = subprocess.run([sys.executable, str(BENCH / 'run.py'), '--workload', workload,
                        '--seed', str(seed), '--seconds', '1', '--trace', str(trace),
                        '--size', 'tiny'], cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f'{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}')
    return json.loads(r.stdout.strip().splitlines()[-1])


class SpecTest(unittest.TestCase):
    def test_registered_names_match_the_command(self):
        self.assertEqual({w['name'] for w in SPEC['workloads']}, set(run.WORKLOADS))
        self.assertEqual({m['name']: m['unit'] for m in SPEC['end_to_end']}, run.E2E_UNITS)
        self.assertEqual({m['name']: m['unit'] for m in SPEC['per_layer']}, run.LAYER_UNITS)


class TypicalTest(unittest.TestCase):
    """Samples taken under hypervisor steal are set aside while at least
    half of the samples remain."""

    def test_typical(self):
        hi = run.STEAL_MAX * 2
        self.assertEqual(run.typical([(1.0, 0.0), (2.0, 0.0), (10.0, hi)]), 1.5)
        self.assertEqual(run.typical([(1.0, 0.0), (2.0, hi), (3.0, hi)]), 2.0)
        self.assertEqual(run.typical([(4.0, hi)]), 4.0)


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d, 'tiny')
            h = hashlib.sha256()
            for p in sorted(Path(d).rglob('*.parquet')):
                h.update(str(p.relative_to(d)).encode())
                h.update(gen.pq.read_table(p).to_pandas().to_csv().encode())
            return h.hexdigest()

    def test_same_seed_same_inputs(self):
        for w in run.WORKLOADS:
            self.assertEqual(self.digest(w, 5), self.digest(w, 5), w)
            self.assertNotEqual(self.digest(w, 5), self.digest(w, 6), w)

    def test_inputs_keep_the_test_tables_statistics(self):
        """Generated tables measure like the sf-dir tables in sfstats.json."""
        ref = sfstats.load()
        with tempfile.TemporaryDirectory() as d:
            gen.generate('train_data', 5, d)
            got = sfstats.stats(d)
            ev = gen.events_table(gen.np.random.default_rng(5), 20000).to_pandas()
        docs, embs = got['documents'], got['embeddings']
        for k in ('length_min', 'length_max', 'sources', 'source_is_doc_id_mod', 'n_chars_is_len'):
            self.assertEqual(docs[k], ref['documents'][k], k)
        self.assertEqual(set(docs['vocab']), set(ref['documents']['vocab']))
        self.assertAlmostEqual(docs['length_mean'], ref['documents']['length_mean'], delta=3)
        self.assertAlmostEqual(docs['near_dup_frac'], ref['documents']['near_dup_frac'], delta=0.02)
        for k, v in ref['documents']['lang'].items():
            self.assertAlmostEqual(docs['lang'][k], v, delta=0.04, msg=k)
        for k in ('dim', 'norm_mean', 'coord_std'):
            self.assertAlmostEqual(embs[k], ref['embeddings'][k], places=3, msg=k)
        self.assertAlmostEqual(embs['label_centroid_z'], ref['embeddings']['label_centroid_z'],
                               delta=0.3)
        self.assertEqual(set(embs['labels']), set(ref['embeddings']['labels']))
        q = ref['events']['value_quantiles']
        self.assertAlmostEqual(ev['value'].median(), q[50], delta=0.1 * q[50])
        self.assertEqual(set(ev['event_type']), set(ref['events']['event_type']))


class SmokeTest(unittest.TestCase):
    """Every workload prints every metric by name, with its unit."""

    def check(self, out, registered):
        self.assertTrue(out['correct'])
        self.assertEqual(out['failed'], 0)
        self.assertGreaterEqual(out['attempted'], 1)
        want = {m['name']: m['unit'] for m in registered}
        self.assertEqual({k: v['unit'] for k, v in out['metrics'].items()}, want)
        for k, v in out['metrics'].items():
            self.assertIsInstance(v['value'], (int, float), k)

    def test_every_workload(self):
        for w in run.WORKLOADS:
            with self.subTest(workload=w, trace=0):
                out = bench(w, 3, 0)
                self.check(out, SPEC['end_to_end'])
                for k, v in out['metrics'].items():
                    self.assertGreater(v['value'], 0, k)
            with self.subTest(workload=w, trace=1):
                self.check(bench(w, 3, 1), SPEC['per_layer'])


class RepeatTest(unittest.TestCase):
    """Plan-shape and scheduler counts repeat exactly for one seed."""
    COUNTS = ('sched.jobs', 'plan.exchanges', 'plan.native_exprs', 'plan.hof_exprs')

    def test_counts_repeat(self):
        for w, kind in ((w, d['kind']) for w, d in run.WORKLOADS.items()):
            if kind != 'batch':
                continue
            with self.subTest(workload=w):
                a, b = bench(w, 11, 1), bench(w, 11, 1)
                for k in self.COUNTS:
                    self.assertEqual(a['metrics'][k]['value'], b['metrics'][k]['value'], k)


if __name__ == '__main__':
    unittest.main()
