"""Generator determinism and a short smoke run of each workload.

    python3 -m unittest discover -s perfbench/tests          # all
    PERFBENCH_SKIP_SMOKE=1 python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):

    def make(self, seed, tmp, tag):
        base = os.path.join(tmp, f"{tag}_base")
        gen.write_base(base, seed)
        drops = os.path.join(tmp, f"{tag}_drops")
        os.makedirs(drops)
        gen.write_titles_drop(os.path.join(drops, "t.csv"), seed, 2000, 0)
        return digest(base), digest(drops)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            a = self.make(7, tmp, "a")
            b = self.make(7, tmp, "b")
            c = self.make(8, tmp, "c")
        self.assertEqual(a, b)
        for x, y in zip(a, c):
            self.assertNotEqual(x, y)


class ContractTest(unittest.TestCase):

    def test_metric_units_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        import run
        with open(path) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.UNITS_E2E)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.UNITS_TRACE)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "smoke runs skipped")
class SmokeTest(unittest.TestCase):

    def run_workload(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", workload, "--seed", "11", "--seconds", "1",
             "--trace", trace],
            capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        last = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertTrue(last["correct"], workload)
        self.assertEqual(last["failed"], 0)
        self.assertGreaterEqual(last["attempted"], 1)
        for m in last["metrics"].values():
            self.assertIsInstance(m["value"], (int, float))
        with open(os.path.join(HERE, ".work", workload, "out",
                               "record.json")) as f:
            return json.load(f)

    def test_each_workload_runs_and_checks(self):
        import run
        for workload in run.WORKLOADS:
            for trace in ("0", "1"):
                self.run_workload(workload, trace)

    def test_stream_jobs_count_toward_their_op(self):
        # a stream's micro-batch jobs carry the stream's run id as job
        # group; the tracer must still attribute them to the op
        rec = self.run_workload("lakehouse_dml", "1")
        q358 = [r for r in rec["op_records"]
                if r["traced"] and r["op"] == "q358_stream_rlo_sink"]
        self.assertTrue(q358)
        for r in q358:
            self.assertGreater(r["triggers"], 0)
            self.assertGreater(r["stream_jobs"], 0)
            self.assertGreaterEqual(r["spark_jobs"], r["stream_jobs"])


if __name__ == "__main__":
    unittest.main()
