"""Tests of the benchmark's own arithmetic and generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import hashlib
import math
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


class TailPercentileTest(unittest.TestCase):

    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail_percentile([]))
        self.assertIsNone(stats.tail_percentile(list(range(10))))

    def test_known_sample_counts(self):
        # (n, percentile, value) for samples 1..n
        for n, p, v in [(11, 9, 1), (20, 50, 10), (100, 90, 90), (1000, 99, 990)]:
            self.assertEqual(stats.tail_percentile(range(1, n + 1)), (p, v), n)

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(11, 400):
            xs = [float(x) for x in range(n)]
            p, v = stats.tail_percentile(reversed(xs))
            self.assertGreaterEqual(sum(x > v for x in xs), 10, n)
            if p < 100:
                # one percentile higher leaves fewer than ten beyond
                rank = math.ceil((p + 1) * n / 100)
                self.assertLess(n - rank, 10, n)


COUNTERS = ("jobs", "stages", "single_task_stages", "tasks", "cpu_s",
            "shuffle_write_bytes", "spill_bytes")


def span(i, name, parent, start, end, **counters):
    s = {"id": i, "name": name, "parent": parent, "iter": 0,
         "start_s": start, "end_s": end, "attrs": {}}
    s.update({k: 0 for k in COUNTERS})
    s.update(counters)
    return s


class SelfTimeTest(unittest.TestCase):

    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time(span(0, "a", -1, 1.0, 3.0), []), 2.0)

    def test_disjoint_overlapping_and_overhanging_children(self):
        parent = span(0, "it", -1, 0.0, 10.0)
        kids = [span(1, "a", 0, 1.0, 3.0),
                span(2, "b", 0, 2.0, 4.0),     # overlaps a: union 1..4
                span(3, "c", 0, 6.0, 7.0),
                span(4, "d", 0, 9.0, 12.0)]    # only 9..10 lies inside
        self.assertAlmostEqual(stats.self_time(parent, kids), 10.0 - 3.0 - 1.0 - 1.0)

    def test_nested_child_counts_once(self):
        parent = span(0, "it", -1, 0.0, 5.0)
        kids = [span(1, "a", 0, 0.0, 4.0), span(2, "b", 0, 1.0, 2.0)]
        self.assertAlmostEqual(stats.self_time(parent, kids), 1.0)


class TraceOverheadTest(unittest.TestCase):

    def test_neighbours_cancel_a_linear_trend(self):
        # plain iterations fall 1 s per step; traced ones cost 10% more
        walls = [10.0, 9.0 * 1.1, 8.0, 7.0 * 1.1, 6.0]
        self.assertAlmostEqual(stats.trace_overhead(walls), 0.1)

    def test_no_traced_iteration(self):
        self.assertEqual(stats.trace_overhead([3.0]), 0.0)


class LayerMetricsTest(unittest.TestCase):

    def test_subtree_counters_phases_and_absent_layers(self):
        spans = [
            span(0, "iteration", -1, 0.0, 4.0),
            span(1, "F", 0, 0.0, 3.0, jobs=1),
            span(2, "construct", 1, 0.0, 1.0, jobs=2, cpu_s=4.0),
            span(3, "plan", 1, 1.0, 1.5),
            span(4, "exec", 1, 1.5, 3.0, jobs=3, single_task_stages=1,
                 shuffle_write_bytes=2_000_000),
            {**span(-1, "unattributed", -1, 0.0, 0.0), "jobs": 7},
        ]
        m = stats.layer_metrics(spans, {
            "F": ["construct_s", "plan_s", "exec_s", "jobs", "single_task_stages",
                  "shuffle_write_mb", "cpu_util"],
            "Missing": ["wall_s"]}, cores=2)
        self.assertAlmostEqual(m["F.construct_s"], 1.0)
        self.assertAlmostEqual(m["F.plan_s"], 0.5)
        self.assertAlmostEqual(m["F.exec_s"], 1.5)
        self.assertEqual(m["F.jobs"], 6)
        self.assertEqual(m["F.single_task_stages"], 1)
        self.assertAlmostEqual(m["F.shuffle_write_mb"], 2.0)
        self.assertAlmostEqual(m["F.cpu_util"], 4.0 / (3.0 * 2))
        self.assertEqual(m["Missing.wall_s"], 0.0)

    def test_median_over_instances(self):
        spans = [span(0, "G", -1, 0.0, 1.0), span(1, "G", -1, 2.0, 5.0),
                 span(2, "G", -1, 6.0, 8.0)]
        self.assertAlmostEqual(stats.layer_metrics(spans, {"G": ["wall_s"]}, 1)["G.wall_s"], 2.0)


def tree_digest(root):
    """Content digest of every file under ``root``, by relative path."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, workload, seed, name):
        d = os.path.join(self.tmp, name)
        gen.generate(workload, seed, d)
        return tree_digest(d), gen.input_sizes(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            a, size_a = self.digest(w, 11, f"{w}-a")
            b, size_b = self.digest(w, 11, f"{w}-b")
            c, _ = self.digest(w, 12, f"{w}-c")
            self.assertEqual(a, b, w)
            self.assertEqual(size_a, size_b, w)
            self.assertNotEqual(a, c, w)

    def test_snapshots_differ_and_corpus_has_near_duplicates(self):
        import pyarrow.parquet as pq
        d = os.path.join(self.tmp, "s")
        snaps = gen.gen_sync(3, d)
        keys = [set(pq.read_table(f"{s}/orders.parquet")["o_orderkey"].to_pylist())
                for s in snaps[:2]]
        self.assertNotEqual(keys[0], keys[1])
        docs = pq.read_table(f"{gen.gen_curate(3, os.path.join(self.tmp, 'c'))}"
                             "/documents.parquet")["text"].to_pylist()
        dups = sum(t.endswith(" dup") for t in docs)
        self.assertEqual(dups, round(gen.CURATE_DUP_SHARE * len(docs)))

    def test_curate_seeds_rename_words_of_one_corpus(self):
        import pyarrow.parquet as pq
        texts = [pq.read_table(f"{gen.gen_curate(s, os.path.join(self.tmp, str(s)))}"
                               "/documents.parquet")["text"].to_pylist() for s in (5, 6)]
        self.assertNotEqual(texts[0], texts[1])
        rename = {}
        for a, b in zip(*texts):
            ta, tb = a.split(" "), b.split(" ")
            self.assertEqual(len(ta), len(tb))
            for x, y in zip(ta, tb):
                self.assertEqual(rename.setdefault(x, y), y)
        self.assertEqual(len(set(rename.values())), len(rename))  # a bijection
        for w in gen.STOPWORDS + ["dup"]:
            self.assertEqual(rename[w], w)


if __name__ == "__main__":
    unittest.main()
