#!/usr/bin/env python3
"""Benchmark of the xarray-beam-on-Spark engine in the enclosing checkout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the benchmark JVM package from source (once per
source state), generates the workload's inputs from the seed (outside
every timing), runs warm reps and then timed reps for S seconds in one
JVM on local[nproc], checks every rep's output, and prints the metrics.
The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end
metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.

Workloads: zarr_reduce, rechunk_write, text_dedup (see README.md).
Everything the run writes goes under perfbench/.run/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN = HERE / ".run"
WORKLOADS = ("zarr_reduce", "rechunk_write", "text_dedup")
# ERA5-like store size per workload, in pancakes of 31 time steps
TIME_CHUNKS = {"zarr_reduce": 53, "rechunk_write": 16}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def engine_sources():
    return [ROOT / "build.sbt", ROOT / "project" / "build.properties"] + \
        sorted((ROOT / "src" / "main").rglob("*"))


def bench_sources():
    return [HERE / "build.sbt", HERE / "project" / "build.properties"] + \
        sorted((HERE / "src").rglob("*"))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """sbt builds the engine (as a source dependency) and this package,
    then writes the classpath and the engine's JVM options. Skipped when
    neither source tree changed since the last build."""
    stamp = RUN / "build.stamp"
    launch = HERE / "target" / "launch.txt"
    fp = fingerprint(engine_sources() + bench_sources())
    if stamp.exists() and launch.exists() and stamp.read_text() == fp:
        return launch
    RUN.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g").strip()
    t0 = time.time()
    with open(RUN / "build.log", "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not launch.exists():
        sys.stderr.write((RUN / "build.log").read_text()[-4000:])
        raise SystemExit(f"build failed (sbt exit {rc}); log in {RUN / 'build.log'}")
    stamp.write_text(fp)
    log(f"built in {time.time() - t0:.1f} s")
    return launch


def java_cmd(launch, *args, tmp):
    lines = launch.read_text().splitlines()
    return ["java", *lines[1:], f"-Djava.io.tmpdir={tmp}", "-cp", lines[0], "perfbench.Main", *args]


def run_jvm(cmd, logfile, timeout):
    """Runs one JVM to completion (killed at the timeout) and returns its
    exit code; its output goes to `logfile`."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return -9


def generate(workload, seed, launch):
    """The workload's inputs for `seed`, generated once and reused while
    the seed stays the same (the previous seed's inputs are removed)."""
    data = RUN / "data" / f"{workload}-{seed}"
    done = data / "done.json"
    if done.exists():
        return data, json.loads(done.read_text())
    for old in (RUN / "data").glob(f"{workload}-*"):
        shutil.rmtree(old)
    data.mkdir(parents=True)
    t0 = time.time()
    if workload in TIME_CHUNKS:
        rc = run_jvm(java_cmd(launch, "gen-zarr", "--data", str(data), "--seed", str(seed),
                              "--time-chunks", str(TIME_CHUNKS[workload]), tmp=RUN / "tmp"),
                     RUN / "gen.log", JVM_TIMEOUT_S)
        if rc != 0:
            raise SystemExit(f"input generation failed; log in {RUN / 'gen.log'}")
        info = json.loads((data / "era5.json").read_text())
    else:
        sys.path.insert(0, str(HERE))
        import gen_tables
        info = gen_tables.gen_text(data / "text", seed)
        sql = RUN / "oracle_sql.json"
        rc = run_jvm(java_cmd(launch, "oracle-sql", "--out", str(sql), tmp=RUN / "tmp"),
                     RUN / "gen.log", JVM_TIMEOUT_S)
        if rc != 0:
            raise SystemExit(f"oracle SQL export failed; log in {RUN / 'gen.log'}")
        t1 = time.time()
        answers = gen_tables.oracle(data / "text", sql)
        (data / "text" / "oracle.json").write_text(json.dumps(answers))
        info["oracle_s"] = time.time() - t1
        info["oracle_rows"] = {g: len(a["rows"]) for g, a in answers.items()}
    info["gen_s"] = time.time() - t0
    done.write_text(json.dumps(info))
    # the store was just written: flush it now, or its writeback competes
    # with the timed reps
    os.sync()
    return data, info


def git_stamp():
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=30)
        if sha.returncode != 0:
            return "unknown", "unknown"
        dirty = subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                               text=True, timeout=30).stdout.strip() != ""
        return sha.stdout.strip(), str(dirty).lower()
    except (OSError, subprocess.SubprocessError):
        return "unknown", "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0,
                    help="corrupt one compared value of the first timed rep (tests the checks)")
    a = ap.parse_args()

    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft")
               if not p.exists()]
    if missing:
        raise SystemExit(f"engine sources not found: {', '.join(map(str, missing))}")

    launch = build()
    data, info = generate(a.workload, a.seed, launch)
    log(f"inputs: {json.dumps(info)}")

    work = RUN / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "record.json"
    sha, dirty = git_stamp()
    cmd = java_cmd(launch, "run", "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--data", str(data), "--work", str(work), "--out", str(out),
                   "--plant-wrong", str(a.plant_wrong), "--git-sha", sha, "--git-dirty", dirty,
                   tmp=work / "tmp")
    t0 = time.time()
    rc = run_jvm(cmd, RUN / "jvm.log", JVM_TIMEOUT_S)
    log(f"benchmark JVM exited {rc} after {time.time() - t0:.1f} s")
    if not out.exists():
        sys.stderr.write((RUN / "jvm.log").read_text()[-4000:])
        raise SystemExit(f"benchmark JVM exited {rc} without a record; log in {RUN / 'jvm.log'}")
    rec = json.loads(out.read_text())
    rec["inputs"] = info
    (RUN / f"record_{a.workload}_{'traced' if a.trace else 'untraced'}.json").write_text(
        json.dumps(rec, indent=1))

    metrics = rec["per_layer"] if a.trace else rec["metrics"]
    declared = ROOT / "BENCHMARK.json"
    if declared.exists():
        want = {m["name"] for m in json.loads(declared.read_text())
                ["per_layer" if a.trace else "end_to_end"]}
        if want != set(metrics):
            raise SystemExit(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(want)}")
    print(f"workload {a.workload}  seed {a.seed}  traced {bool(a.trace)}  "
          f"stamp {json.dumps(rec['stamp'])}")
    for name, m in metrics.items():
        src = f"  ({m['source']})" if "source" in m else ""
        print(f"  {name:34s} {m['value']:>16.6g} {m['unit']}{src}")
    print(f"  {'error_rate':34s} {rec['error_rate']:>16.6g} ratio "
          f"({rec['failed']} of {rec['attempted']} operations)")
    for e in rec["errors"]:
        print(f"  FAILED {e}")
    if a.trace:
        for row in rec["cost_model"]:
            flag = "BELOW FLOOR" if row["below_floor"] else "ok"
            print(f"  cost model {row['layer']}: {row['measured']:.4g} vs reference "
                  f"{row['reference']:.4g} {row['unit']}: {flag}")
    correct = rc == 0 and rec["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                                  for k, m in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
