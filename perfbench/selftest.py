"""Self-tests of the benchmark (`python3 perfbench/run.py --selftest`):

- the arithmetic: percentiles, tail choice, failed_frac, cand_per_hit,
  span attribution, gap and skew on hand-made traces;
- seed determinism of the corpus generator: the same seed gives the same
  checksum, another seed a different one;
- the listener's counts on a Spark plan of known shape (through the
  client's `graft.perfbench.SelfTest`);
- the q154 funnel against its DuckDB SQL on a seeded corpus (too slow to
  run on every benchmark run; see run.py's SLOW_ORACLES).

Exit code 0 when every test passes.
"""
import json
import os
import shutil
import subprocess
import tempfile
import unittest

import metrics as M

JAVA_CMD = None
BUILD_DIR = None


class Arithmetic(unittest.TestCase):
    def test_percentile(self):
        xs = list(range(1, 11))
        self.assertEqual(M.percentile(xs, 50), 5.5)
        self.assertEqual(M.percentile(xs, 0), 1)
        self.assertEqual(M.percentile(xs, 100), 10)
        self.assertAlmostEqual(M.percentile(xs, 90), 9.1)
        self.assertEqual(M.percentile([3.0], 90), 3.0)

    def test_gmean(self):
        self.assertAlmostEqual(M.gmean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(M.gmean([0.5, 0.5, 8.0]), 2 ** (1 / 3))

    def test_tail_keeps_ten_beyond(self):
        self.assertEqual(M.tail_percentile(100, 90), 90)
        self.assertEqual(M.tail_percentile(99, 90), 80)
        self.assertEqual(M.tail_percentile(1000, 99), 99)
        self.assertEqual(M.tail_percentile(50, 80), 80)
        self.assertEqual(M.tail_percentile(45, 80), 75)
        self.assertEqual(M.tail_percentile(14, 90), 85)
        self.assertEqual(M.tail_percentile(2, 80), 80)

    def test_failed_frac(self):
        self.assertEqual(M.failed_frac(40, 0), 0.0)
        self.assertEqual(M.failed_frac(40, 3), 0.075)
        self.assertEqual(M.failed_frac(0, 0), 1.0)

    def test_cand_per_hit(self):
        self.assertEqual(M.cand_per_hit([120.0, 80.0], [20.0, 20.0]), 5.0)
        self.assertEqual(M.cand_per_hit([], []), 0.0)

    def trace(self):
        # span 0 [0, 1000] ms holds span 1 [100, 600]; job 7 (stages 1, 2)
        # runs from span 1, job 8 (stage 3) from span 0
        return {"spans": [[0, -1, "call", 0.0, 1000.0], [1, 0, "call.plan", 100.0, 600.0]],
                "jobs": [[7, 1, [1, 2]], [8, 0, [3]]],
                "tasks": [[1, 100, 300, 50, 0, 0, 0], [1, 200, 400, 50, 0, 0, 0],
                          [2, 400, 500, 0, 100, 0, 0], [3, 700, 710, 0, 0, 0, 2_000_000]]}

    def test_attribution_and_gap(self):
        ix = M.SpanIndex(self.trace())
        self.assertEqual(ix.jobs(0), 2)
        self.assertEqual(ix.jobs(1), 1)
        self.assertEqual(len(ix.tasks(0)), 4)
        self.assertEqual(len(ix.tasks(1)), 3)
        # span 1: tasks cover [100, 500] of [100, 600] -> 0.1 s idle
        self.assertAlmostEqual(ix.gap_s(1), 0.1)
        # span 0: busy [100, 500] and [700, 710] of [0, 1000]
        self.assertAlmostEqual(ix.gap_s(0), 0.59)

    def test_skew_and_layer(self):
        ix = M.SpanIndex(self.trace())
        # heaviest stage of span 0 is stage 1: tasks of 200 and 200 ms
        self.assertEqual(ix.skew(0), 1.0)
        lay = M.layer(ix, "call", cores=2)
        self.assertEqual(lay["jobs"], 2)
        self.assertAlmostEqual(lay["task_s"], 0.51)
        self.assertAlmostEqual(lay["core_util"], 0.51 / 2.0)
        self.assertAlmostEqual(lay["shuffle_mb"], 100 / 1e6)
        self.assertAlmostEqual(lay["written_mb"], 2.0)


class Client(unittest.TestCase):
    """Runs the JVM half once and asserts on its output."""
    result = None
    work = None

    @classmethod
    def setUpClass(cls):
        cls.work = tempfile.mkdtemp(dir=BUILD_DIR)
        out = os.path.join(cls.work, "selftest.json")
        subprocess.run(JAVA_CMD + [f"-Djava.io.tmpdir={cls.work}", "graft.perfbench.SelfTest",
                                   cls.work, out], check=True, timeout=170,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        cls.result = json.load(open(out))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_listener_counts_known_plan(self):
        tr = self.result["trace"]
        ix = M.SpanIndex(tr)
        outer, inner = ix.named("outer")[0][0], ix.named("inner")[0][0]
        self.assertEqual(len(tr["jobs"]), 2)
        self.assertEqual(ix.jobs(inner), 1)
        self.assertEqual(ix.jobs(outer), 2)
        # inner: 3 map tasks + 2 reduce tasks over one shuffle
        t_in = ix.tasks(inner)
        self.assertEqual(len(t_in), 5)
        self.assertEqual(len({t[0] for t in t_in}), 2)
        self.assertGreater(sum(t[3] for t in t_in), 0)
        self.assertEqual(sum(t[3] for t in t_in), sum(t[4] for t in t_in))
        self.assertEqual(len(ix.tasks(outer)), 9)

    def test_funnel_matches_duckdb(self):
        import duckdb
        con = duckdb.connect()
        docs = os.path.join(self.work, "gen-a", "documents.parquet", "*.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
        want = [list(r) for r in con.execute(self.result["funnel_sql"]).fetchall()]
        self.assertEqual(self.result["funnel"], want)

    def test_corpus_seed_determinism(self):
        g = self.result["gen"]
        self.assertEqual(g["a"], g["b"])
        self.assertNotEqual(g["a"]["documents"], g["c"]["documents"])
        self.assertNotEqual(g["a"]["embeddings"], g["c"]["embeddings"])


def main(java_cmd, build_dir):
    global JAVA_CMD, BUILD_DIR
    JAVA_CMD, BUILD_DIR = java_cmd, build_dir
    suite = unittest.defaultTestLoader.loadTestsFromModule(__import__(__name__))
    ok = unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful()
    return 0 if ok else 1
