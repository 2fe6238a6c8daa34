"""The benchmark's own tests.

    python3 -m unittest perfbench/test_perfbench.py

- the same seed gives byte-identical generated inputs, another seed
  different ones;
- a planted wrong result is caught: failed > 0, "correct": false and a
  non-zero exit;
- an untraced run registers no listener and records no span; a traced
  one does both;
- without the engine sources beside it, the benchmark exits non-zero
  and prints no result.

The run tests build the engine on first use and take a few minutes.
"""
import hashlib
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen_tables  # noqa: E402
import run  # noqa: E402


def digest(d: Path) -> dict:
    return {str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(d.rglob("*")) if p.is_file()}


def bench(*args):
    p = subprocess.run([sys.executable, str(HERE / "run.py"), *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None)


class SeededInputs(unittest.TestCase):
    def test_text_tables_repeat_per_seed(self):
        with tempfile.TemporaryDirectory(dir=HERE / ".run") as t:
            t = Path(t)
            gen_tables.gen_text(t / "a", 7)
            gen_tables.gen_text(t / "b", 7)
            gen_tables.gen_text(t / "c", 8)
            self.assertEqual(digest(t / "a"), digest(t / "b"))
            self.assertNotEqual(digest(t / "a"), digest(t / "c"))

    def test_zarr_store_repeats_per_seed(self):
        launch = run.build()
        with tempfile.TemporaryDirectory(dir=HERE / ".run") as t:
            t = Path(t)
            for name, seed in (("a", 7), ("b", 7), ("c", 8)):
                rc = run.run_jvm(run.java_cmd(launch, "gen-zarr", "--data", str(t / name),
                                              "--seed", str(seed), "--time-chunks", "2", tmp=t),
                                 t / "gen.log", 120)
                self.assertEqual(rc, 0)
                (t / name / "era5.json").unlink()  # holds the generation time
            self.assertEqual(digest(t / "a"), digest(t / "b"))
            self.assertNotEqual(digest(t / "a"), digest(t / "c"))


class Runs(unittest.TestCase):
    def test_planted_wrong_result_fails_the_run(self):
        for w in ("zarr_reduce", "rechunk_write", "text_dedup"):
            with self.subTest(workload=w):
                rc, res = bench("--workload", w, "--seed", "5", "--seconds", "1", "--trace", "0",
                                "--plant-wrong", "1")
                self.assertNotEqual(rc, 0)
                self.assertFalse(res["correct"])
                self.assertGreater(res["failed"], 0)

    def test_untraced_run_has_no_listener_and_no_spans(self):
        rc, res = bench("--workload", "zarr_reduce", "--seed", "5", "--seconds", "1", "--trace", "0")
        self.assertEqual(rc, 0)
        self.assertTrue(res["correct"])
        rec = json.loads((run.RUN / "record_zarr_reduce_untraced.json").read_text())
        self.assertEqual(rec["listeners_registered"], 0)
        self.assertEqual(rec["spans_recorded"], 0)
        self.assertNotIn("per_layer", rec)

    def test_traced_run_records_spans(self):
        rc, res = bench("--workload", "zarr_reduce", "--seed", "5", "--seconds", "1", "--trace", "1")
        self.assertEqual(rc, 0)
        rec = json.loads((run.RUN / "record_zarr_reduce_traced.json").read_text())
        self.assertEqual(rec["listeners_registered"], 2)
        self.assertGreater(rec["spans_recorded"], 0)
        names = [m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]]
        self.assertEqual(sorted(res["metrics"]), sorted(names))

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory(dir=HERE / ".run") as t:
            t = Path(t)
            shutil.copy(ROOT / "BENCHMARK.json", t)
            shutil.copytree(HERE, t / "perfbench", ignore=shutil.ignore_patterns(".run", "target"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "zarr_reduce",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=t, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
