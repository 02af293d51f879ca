#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload chain_live|batch_board \
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Run from the repository root. It compiles the sources (perfbench/build.py,
skipped when unchanged), generates the seeded input tables
(perfbench/gen.py), runs the harness JVM (perfbench/scala) and checks its
answers in DuckDB (perfbench/oracle.py). The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones. Everything it writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("chain_live", "batch_board")
# one table scale for every workload; the board's cold pass sets it
SF = {"full": 0.01, "tiny": 0.001}
DEADLINE_S = 170
JVM_HEAP = "3g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, argv, work, budget_s):
    log_path = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData", *build.ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.bench.Harness", *argv]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness JVM failed: {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=tuple(SF))
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build.build(root, build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        gen.generate(data, SF[a.scale], a.seed)
        out = os.path.join(work, "result.json")
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--data", data, "--work", work, "--out", out,
                     "--scale", a.scale, "--cores", str(cores())],
                work, DEADLINE_S - (time.monotonic() - t_start))
        res = json.load(open(out))
        extra_fails = []
        if "board_out" in res:
            extra_fails += oracle.check_board(res["board_out"], data)
        if "serve_answers" in res:
            extra_fails += oracle.check_serve(res["serve_warehouse"],
                                              res["serve_answers"])
        for n in res["notes"]:
            print("note:", n)
        for f in res["failures"] + extra_fails:
            print("FAIL:", f)
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(out + ".spans.jsonl",
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [m for m in want if m not in res["metrics"]]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    failed = res["failed"] + len(extra_fails)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {m: res["metrics"][m] for m in want}}))


if __name__ == "__main__":
    main()
