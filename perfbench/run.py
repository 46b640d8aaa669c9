#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The script compiles the engine plus the
benchmark driver into `.bench_build/` (once per source change), generates the
workload's inputs from the seed, runs the driver in one JVM with
`local[<nproc>]` for a fixed number of warm-up and measured passes (the
measured ones must fit in `--seconds`), checks every result, deletes the
run's directory and prints two JSON lines: the full record (environment
echo, samples, checks) and, last, the summary
`{"correct", "attempted", "failed", "metrics"}`.  With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` the per-layer ones.  See
perfbench/README.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.dataset as ds

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Generated corpus scale: sf 0.01 = 60k lineitem rows, 500 documents, 500
# vectors.  See README.md for why the benchmark does not run at sf 0.1.
SCALE = 0.01
WORKLOADS = ("batch", "ingest_rw")
# (warm-up, measured) passes per workload; fixed, so the measured work does
# not depend on the program's speed.  batch's second pass still carries
# first-call JIT cost, so it is warm-up too.  `--seconds` is the ceiling the
# measured passes must fit in.
PASSES = {"batch": (2, 3), "ingest_rw": (1, 3)}
# ingest_rw arrivals per round: rows in the labeled slice, vectors, queries
INGEST = {"slice_rows": 400, "new_vecs": 100, "queries": 2}
HARD_LIMIT_S = 170
JVM_HEAP = "3g"


def dir_bytes(path):
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.ensure_built(root, HERE, out)

    run_dir = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(work)
    harness = {}
    t = time.monotonic()
    try:
        gen.corpus(inputs, SCALE, args.seed)
        warmup, measured = PASSES[args.workload]
        manifest = None
        if args.workload == "ingest_rw":
            manifest = gen.ingest_rounds(
                os.path.join(inputs, "ingest"), inputs, args.seed,
                rounds=warmup + measured, **INGEST)
        harness["generate_s"] = time.monotonic() - t
        record_path = os.path.join(run_dir, "record.json")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={tmp}",
               *build.JVM_OPENS, "-cp", build.classpath(classes),
               "graft.perfbench.PerfBench", args.workload, inputs, work,
               str(warmup), str(measured), str(args.seconds), str(args.trace),
               record_path]
        log_path = os.path.join(out, "last_jvm.log")
        t = time.monotonic()
        remaining = HARD_LIMIT_S - (t - t_start)
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    env=env)
            try:
                rc = proc.wait(timeout=max(remaining, 1))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"benchmark JVM exceeded {HARD_LIMIT_S} s; see {log_path}")
        if rc != 0 or not os.path.exists(record_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"benchmark JVM failed with exit code {rc}")
        harness["jvm_s"] = time.monotonic() - t
        with open(record_path) as f:
            rec = json.load(f)
        if manifest:
            ex = rec["extra"]
            ex["manifest"] = manifest[:len(ex["rounds"])]
            ex["label_cache_rows"] = ds.dataset(ex["label_cache_dir"]).count_rows()
        t = time.monotonic()
        failures = list(rec["failures"])
        failures += checks.check(args.workload, rec, inputs)
        harness["check_s"] = time.monotonic() - t
        # what the run left behind in its own temp and spill dirs
        rec["storage_tmp_bytes_left"] = dir_bytes(tmp) + dir_bytes(
            os.path.join(work, "spark-local"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    harness["total_s"] = time.monotonic() - t_start
    rec["harness"] = harness
    rec["seed"] = args.seed
    rec["env"]["git_sha"] = build.git_sha(root)
    rec["env"]["source_digest"] = build.source_digest(root, HERE)
    rec["failures"] = failures
    summary = metrics.summarize(args.workload, rec, trace=bool(args.trace))
    attempted = int(rec["attempted"])
    failed = min(len(failures), attempted)
    records = os.path.join(out, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump(rec, f)
    del rec["spans"]  # large; kept in the file above
    print(json.dumps({"record": rec}, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": summary}))


if __name__ == "__main__":
    main()
