"""Self-test of the benchmark.

    python3 -m unittest discover -s perfbench/tests -v   # from the repo root

1. Two traced runs on one seed give identical deterministic counters (jobs,
   stages, tasks, plan-shape counts, classifier calls, lists files, bytes
   written).
2. A different seed changes the generated inputs but no oracle-checked
   result: every check still passes.

Each run uses the `run_seconds` of BENCHMARK.json, as the benchmark's own
runs do.  Each workload runs three times (two traced, one untraced), about
seven minutes in all.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    RUN_SECONDS = json.load(f)["run_seconds"]

import gen  # noqa: E402
import metrics  # noqa: E402

DETERMINISTIC = [
    "spark.jobs", "spark.stages", "spark.tasks", "plan.exchanges",
    "plan.sort_aggregates", "plan.sort_merge_joins", "plan.reused_exchanges",
    "text.q_ngram_jaccard.jobs", "label.classifier_calls", "sim.lists_files",
    "sim.bytes_written_per_vec", "label.cache_bytes_written",
]


def run(workload, seed, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        raise AssertionError(f"run.py failed ({r.returncode}): {r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def tree(d):
    """Relative path -> bytes of every file under `d`."""
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


class GeneratedInputs(unittest.TestCase):

    def test_seed_decides_the_inputs(self):
        build_dir = os.path.join(ROOT, ".bench_build")
        os.makedirs(build_dir, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=build_dir) as d:
            trees = []
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                out = os.path.join(d, name)
                gen.corpus(out, 0.001, seed)
                gen.ingest_rounds(os.path.join(out, "ingest"), out, seed,
                                  rounds=2, slice_rows=10, new_vecs=5,
                                  queries=2)
                trees.append(tree(out))
        a, b, c = trees
        self.assertEqual(a, b)
        for t in ("lineitem", "orders", "documents", "embeddings", "ingest"):
            self.assertTrue(any(k.startswith(t) and a[k] != c.get(k) for k in a),
                            f"{t} did not change with the seed")


class Workloads(unittest.TestCase):

    def check_workload(self, workload):
        first = run(workload, 3, 1)
        second = run(workload, 3, 1)
        for summary in (first, second):
            self.assertTrue(summary["correct"], summary)
            self.assertEqual(summary["failed"], 0)
        self.assertEqual(first["attempted"], second["attempted"])
        names = {n for n, _ in metrics.PER_LAYER}
        for name in DETERMINISTIC:
            self.assertIn(name, names)
            self.assertEqual(first["metrics"][name], second["metrics"][name], name)
        other = run(workload, 4, 0)
        self.assertTrue(other["correct"], other)
        self.assertEqual(other["failed"], 0)

    def test_batch(self):
        self.check_workload("batch")

    def test_ingest_rw(self):
        self.check_workload("ingest_rw")


if __name__ == "__main__":
    unittest.main()
