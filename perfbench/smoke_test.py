#!/usr/bin/env python3
"""The benchmark's own smoke test. Run from the repository root:

    python3 perfbench/smoke_test.py

For every workload it makes one short end-to-end run, which must pass
its checks and print exactly the end-to-end metrics BENCHMARK.json
declares, and one traced run with one job's output deliberately
corrupted, which must print exactly the declared per-layer metrics and
report that job as wrong (exit status 1, "correct": false). Takes a
few minutes: each run starts Spark.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the job whose output each workload's corrupted run damages, and so
# which check must catch it: the DuckDB oracle (mr_wordcount) and the
# streamed == batch comparison (stream_cc)
CORRUPT = {"single_pass": "mr_wordcount", "iterative": "stream_cc"}


def run(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--seed", "1",
                        "--seconds", "0", *args], cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


def expect(cond, what, stderr=""):
    if not cond:
        sys.exit(f"FAIL: {what}\n{stderr[-3000:]}")
    print(f"ok: {what}", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {kind: {m["name"]: m["unit"] for m in bench[kind]}
                for kind in ("end_to_end", "per_layer")}
    for w in (x["name"] for x in bench["workloads"]):
        rc, res, err = run("--workload", w, "--trace", "0")
        expect(rc == 0 and res and res["correct"] and res["failed"] == 0,
               f"{w}: end-to-end run passes its checks", err)
        got = {k: m["unit"] for k, m in res["metrics"].items()}
        expect(got == declared["end_to_end"], f"{w}: every end-to-end metric, with its unit", err)
        expect(all(m["value"] > 0 for m in res["metrics"].values()),
               f"{w}: no end-to-end metric is 0", err)

        job = CORRUPT[w]
        rc, res, err = run("--workload", w, "--trace", "1", "--corrupt", job)
        expect(rc == 1 and res and not res["correct"] and res["failed"] > 0,
               f"{w}: corrupted {job} output fails the run", err)
        expect(f"wrong output {job}:" in err, f"{w}: the failure names {job}", err)
        got = {k: m["unit"] for k, m in res["metrics"].items()}
        expect(got == declared["per_layer"], f"{w}: every per-layer metric, with its unit", err)
    print("smoke test passed")


if __name__ == "__main__":
    main()
