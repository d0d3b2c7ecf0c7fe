"""Tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests

The smoke test builds the program and runs every workload at a few seconds;
it takes several minutes and is skipped unless PERFBENCH_SMOKE=1.
"""
import json
import os
import subprocess
import sys
import unittest
from collections import Counter
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import corpus  # noqa: E402
import fixture  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

SMALL = corpus.Spec(docs=3000, vocab=2000, categories=8, malformed=7, unadmitted=5)


class CorpusTest(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        a, b = corpus.generate(11, SMALL), corpus.generate(11, SMALL)
        self.assertEqual(a.lines, b.lines)
        self.assertNotEqual(a.lines, corpus.generate(12, SMALL).lines)

    def test_malformed_and_unadmitted_counts_are_known(self):
        c = corpus.generate(3, SMALL)
        self.assertEqual(len(c.lines), SMALL.docs + SMALL.unadmitted + SMALL.malformed)
        parsed = []
        for line, rec in zip(c.lines, c.records):
            try:
                obj = json.loads(line)
                ok = isinstance(obj, dict)
            except json.JSONDecodeError:
                ok = False
            self.assertEqual(ok, rec is not None, line)
            if ok:
                parsed.append(obj)
        self.assertEqual(len(c.lines) - len(parsed), SMALL.malformed)
        admitted = [o for o in parsed if o.get("reviewText") and o.get("category")]
        self.assertEqual(len(admitted), SMALL.docs)
        for o, rec in zip(parsed, [r for r in c.records if r is not None]):
            self.assertEqual((o.get("reviewText"), o.get("category")), rec)

    def test_vocabulary_categories_and_skew(self):
        spec = corpus.Spec(docs=20000, vocab=3000, categories=10)
        c = corpus.generate(5, spec)
        vocab = corpus.vocabulary(spec.vocab)
        self.assertEqual(len(set(vocab.tolist())), spec.vocab)
        self.assertTrue(all(w.isalpha() and w.islower() and len(w) > 1 for w in vocab))
        self.assertFalse(set(vocab.tolist()) & set(corpus.STOPWORDS))
        used = np.unique(c.term_ids)
        self.assertLessEqual(used.max(), spec.vocab - 1)
        self.assertGreater(len(used), 0.9 * spec.vocab)
        # Zipf: the most frequent term is far more common than the median one.
        freq = np.sort(np.bincount(c.term_ids, minlength=spec.vocab))[::-1]
        self.assertGreater(freq[0], 50 * max(1, freq[spec.vocab // 2]))
        # Category shares follow 1/rank^skew.
        share = Counter(c.categories)
        self.assertEqual(len(share), spec.categories)
        w = 1 / np.arange(1, spec.categories + 1) ** spec.category_skew
        want = w / w.sum() * spec.docs
        got = np.array([share[corpus.CATEGORIES[i]] for i in range(spec.categories)])
        self.assertTrue(np.all(np.abs(got - want) < 5 * np.sqrt(want)), (got, want))
        # Category-skewed terms: every category has a term that is at least
        # five times more frequent inside it than outside it.
        cat_of_doc = np.array([corpus.CATEGORIES.index(x) for x in c.categories])
        tok_cat = cat_of_doc[c.doc_of_token]
        for k in range(spec.categories):
            inside = np.bincount(c.term_ids[tok_cat == k], minlength=spec.vocab)
            outside = np.bincount(c.term_ids[tok_cat != k], minlength=spec.vocab)
            lift = (inside / inside.sum()) / ((outside + 1) / outside.sum())
            self.assertGreater(lift[inside >= 20].max(), 5.0, corpus.CATEGORIES[k])

    def test_fixture_is_seeded(self):
        a, b = fixture.tables(4), fixture.tables(4)
        self.assertEqual(sorted(a), sorted(fixture.tables(5)))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["documents"].equals(fixture.tables(5)["documents"]))
        self.assertEqual(a["lineitem"].num_rows, 6000)


class MetricsTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail(list(range(19)), 90))
        # 20 samples: only p50 would have ten beyond, and p50 is no tail.
        self.assertIsNone(metrics.tail(list(range(20)), 90))
        # 40 samples: p75 is rank 30, ten beyond it.
        self.assertEqual(metrics.tail(list(range(1, 41)), 90), (75, 30))
        self.assertIsNone(metrics.tail(list(range(1, 40)), 90))
        # 100 samples: p90 is rank 90, ten beyond it.
        self.assertEqual(metrics.tail(list(range(1, 101)), 90), (90, 90))
        self.assertEqual(metrics.tail(list(range(1, 101)), 99), (90, 90))
        # 1000 samples: p99 has ten beyond, when asked for.
        self.assertEqual(metrics.tail(list(range(1, 1001)), 99), (99, 990))
        self.assertEqual(metrics.tail(list(range(1, 1001)), 90), (90, 900))

    def test_prefix_self_times_add_up_to_last_wall(self):
        walls = [1.0, 2.5, 2.75, 4.0]
        self.assertEqual(metrics.prefix_self_times(walls), [1.0, 1.5, 0.25, 1.25])
        self.assertAlmostEqual(sum(metrics.prefix_self_times(walls)), walls[-1])


class BenchmarkFileTest(unittest.TestCase):
    def test_declared_metrics_are_the_reported_ones(self):
        spec = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.LAYER_UNITS)


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1", "set PERFBENCH_SMOKE=1")
class SmokeTest(unittest.TestCase):
    """A short run of each workload, traced and not, passes its output check."""

    def run_bench(self, workload, trace):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", "3", "--seconds", "2", "--trace", str(trace)],
                           capture_output=True, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_workloads(self):
        for workload in run.WORKLOADS:
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    out = self.run_bench(workload, trace)
                    self.assertTrue(out["correct"], out)
                    self.assertEqual(out["failed"], 0)
                    self.assertGreaterEqual(out["attempted"], 1)
                    want = run.LAYER_UNITS if trace else run.END_TO_END
                    self.assertEqual(set(out["metrics"]), set(want))


if __name__ == "__main__":
    unittest.main()
