"""Smoke tests of the benchmark at scale factor 0.001.

    python3 -m unittest discover -s perfbench/tests -v

Each test runs perfbench/run.py end to end (the first one builds), so the
suite takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402


def bench(workload, trace, cwd=ROOT, script=HERE / "run.py"):
    return subprocess.run([sys.executable, str(script), "--workload", workload, "--seed", "3",
                           "--seconds", "1", "--trace", str(trace), "--smoke"],
                          cwd=cwd, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=900)


def record(workload, trace):
    tag = f"{workload}-s3-t{trace}-smoke"
    return json.loads((run.BUILD / "records" / f"{tag}.json").read_text())


class Smoke(unittest.TestCase):
    def check_printed(self, r, names):
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        last = json.loads(lines[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"], r.stdout)
        self.assertGreaterEqual(last["attempted"], 1)
        for name, unit in names:
            self.assertIn(name, last["metrics"])
            self.assertEqual(last["metrics"][name]["unit"], unit)
            self.assertTrue(any(l.startswith(f"{name} = ") and l.endswith(f" {unit}") for l in lines),
                            f"{name} not printed with its unit")
        return last

    def test_every_metric_printed_with_unit(self):
        for workload in sorted(run.WORKLOADS):
            with self.subTest(workload=workload, trace=0):
                last = self.check_printed(bench(workload, 0), run.END_TO_END)
                for name, _ in run.END_TO_END:
                    self.assertGreater(last["metrics"][name]["value"], 0, name)
            with self.subTest(workload=workload, trace=1):
                self.check_printed(bench(workload, 1), run.PER_LAYER)
                spans = run.BUILD / "records" / f"{workload}-s3-t1-smoke.spans.jsonl"
                self.assertTrue(spans.exists() and spans.stat().st_size > 0)
                rec = record(workload, 1)
                for key in ("nproc", "master", "load_start", "load_end", "calib_single_thread_s"):
                    self.assertIn(key, rec["host"])
                self.assertTrue(all(v == "PASS" for v in rec["oracle"].values()), rec["oracle"])

    def test_streaming_entry_sees_triggers(self):
        """The streaming entries run in newSession() siblings; only listeners
        registered through the static confs see their triggers."""
        r = bench("board_stream", 1)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        traced = [o for o in record("board_stream", 1)["ops"]
                  if o["traced"] and o["entry"] in run.SMOKE_STREAM_ENTRIES]
        self.assertTrue(traced)
        for o in traced:
            self.assertGreater(o["layers"]["streaming.triggers"], 0, o)

    def test_refuses_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(HERE, Path(d) / HERE.name,
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            r = bench("export_wide", 0, cwd=d, script=Path(d) / HERE.name / "run.py")
            self.assertNotEqual(r.returncode, 0)
            self.assertFalse(r.stdout.strip().endswith("}"), r.stdout)
            self.assertFalse(os.path.exists(Path(d) / ".bench_build"))


if __name__ == "__main__":
    unittest.main()
