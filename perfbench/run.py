#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script builds graft and the
benchmark from source (once per source state, under .bench_build/),
generates the workload's inputs from the seed, runs the workload on a
GraftSession.local() session in one JVM, checks every job's output,
and prints the metrics: one line per metric, by name and unit, on
stderr, and as the last line of stdout one JSON object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones.

Exit status: 0 when every output check passed, 1 when one failed (the
JSON line is still printed), 2 when the run could not be made (no
result is printed).

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("single_pass", "iterative")

# name -> unit; README.md defines each metric
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "heap_live_mb": "MB",
}
_JOBS = ("mr_wordcount", "mr_inverted_index", "mr_typed_wordcount", "mr_typed_indexer",
         "dedup_cdc", "sim_ann_ivfpq", "sim_bruteforce_topk", "stream_cc")
_LOOPS = ("q_label_prop",)
PER_LAYER = {
    "setup.session_s": "s", "setup.load_s": "s", "setup.train_s": "s", "setup.warm_s": "s",
    "scan.bytes": "bytes", "scan.rows": "rows", "scan.tasks": "tasks",
    "mr.shuffle_records_per_token": "records/token",
    **{f"job.{j}.s": "s" for j in _JOBS},
    **{f"job.{j}.{m}": u for j in _LOOPS
       for m, u in (("call_s", "s"), ("force_s", "s"), ("spark_jobs", "jobs"))},
    "checkpoint.leaked_rdds": "rdds",
    "stream.batches": "batches", "stream.jobs_per_batch": "jobs/batch",
    "stream.batch_ms_p50": "ms", "stream.batch_ms_p90": "ms", "stream.batch_samples": "count",
    "stream.add_batch_ms_p50": "ms", "stream.planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms", "stream.commit_ms_p50": "ms", "stream.state_bytes": "bytes",
    "stream.rows_per_s": "1/s",
    "ann.recall_at_10": "frac",
    "spark.jobs": "jobs", "spark.stages": "stages", "spark.tasks": "tasks",
    "spark.tasks_per_stage_p50": "tasks/stage", "spark.single_task_stage_frac": "frac",
    "spark.core_busy_frac": "frac", "spark.driver_gap_s": "s", "spark.sched_delay_s": "s",
    "spark.gc_s": "s", "spark.task_cpu_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
    "spill.bytes": "bytes",
    "host.calibration_s": "s", "host.calibration_end_s": "s",
    "trace.overhead_frac": "frac", "trace.spans": "spans",
}

BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170        # the whole run, build excluded
JVM_HEAP = "2g"             # fixed size: a growing heap made heap_live_mb bimodal

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class RunError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a source change rebuilds."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_proc(cmd, cwd, env, timeout, logfile):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it. Returns the exit code."""
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RunError(f"{cmd[0]} exceeded {timeout:.0f} s; log: {logfile}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise RunError(f"{need} not found next to perfbench/: run from a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    log("building graft and the benchmark (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.perf_counter()
    logfile = os.path.join(WORK, "build.log")
    # no sbt server socket and no JVM perf-data file outside the checkout
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                   "-J-XX:-UsePerfData", "writeClasspath"], HERE, env, BUILD_TIMEOUT_S, logfile)
    written = os.path.join(HERE, "target", "runtime-classpath.txt")
    if rc != 0 or not os.path.exists(written):
        raise RunError(f"build failed (rc={rc}):\n{tail(logfile)}")
    with open(written) as fh:
        cp = fh.read().strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.perf_counter() - t0:.1f} s")
    return cp


def run_jvm(cp, args, run_dir, in_dir, out_dir, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--in", in_dir, "--out", out_dir,
            "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.corrupt:
        cmd += ["--corrupt", args.corrupt]
    env = dict(os.environ)
    # local[nproc]: the cores this process may run on
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    logfile = os.path.join(run_dir, "jvm.log")
    rc = run_proc(cmd, run_dir, env, max(10.0, deadline - time.monotonic()), logfile)
    result = os.path.join(out_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        raise RunError(f"benchmark JVM failed (rc={rc}):\n{tail(logfile)}")
    with open(result) as fh:
        return json.load(fh)


def oracle_failures(groups):
    """Run tools/check_oracle.py's comparison, unchanged, over each
    group of written outputs; return {job: message} for mismatches."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    failed = {}
    for g in groups:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            check_oracle.main(g["dir"], g["sfdir"])
        seen = set()
        for line in buf.getvalue().splitlines():
            verdict, _, rest = line.partition(" ")
            name, _, detail = rest.partition(":")
            if name in g["jobs"]:
                seen.add(name)
                log(f"oracle {line[:300]}")
                if verdict not in ("PASS", "WARN"):
                    failed[g["jobs"][name]] = f"DuckDB oracle {name}: {verdict}{detail[:300]}"
        for name, job in g["jobs"].items():
            if name not in seen:
                failed.setdefault(job, f"DuckDB oracle {name}: no verdict")
    return failed


def main(argv=None):
    # turn SIGTERM into SystemExit, so run_proc's cleanup stops the
    # child process group before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--corrupt", default=None,
                    help="drop one row of this job's output before it is checked")
    args = ap.parse_args(argv)

    try:
        cp = build()
        deadline = time.monotonic() + RUN_DEADLINE_S
        run_dir = os.path.join(WORK, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
        os.makedirs(out_dir)
        manifest = gen.generate(args.workload, args.seed, in_dir)
        log(f"inputs for seed {args.seed} generated in {manifest['generate_s']:.2f} s: " +
            ", ".join(f"{t} {m['rows']} rows / {m['bytes']} B / {m['files']} files / "
                      f"{m['row_groups']} row groups" for t, m in sorted(manifest["tables"].items())))
        res = run_jvm(cp, args, run_dir, in_dir, out_dir, deadline)
        # a job is wrong if it left no output or its output failed a check
        wrong = {j: "no output" for j in res["missing_outputs"]}
        check_metrics = {}
        if not wrong:
            wrong, check_metrics = checks.run(args.workload, res["outputs"], res["params"],
                                              manifest["facts"])
        wrong.update(res["check_failures"])
        wrong.update(oracle_failures(res["oracle_groups"]))
    except RunError as e:
        log(f"error: {e}")
        return 2

    # every call of a wrong job failed; otherwise the calls that threw
    calls = res["calls_per_job"]
    failed = sum(calls.get(j, 0) for j in wrong) + \
        sum(n for j, n in res["threw_per_job"].items() if j not in wrong)
    attempted = res["attempted"]
    for e in res["errors"]:
        log(f"failure {e}")
    for j, m in sorted(wrong.items()):
        log(f"wrong output {j}: {m}")

    if args.trace:
        values = dict(res["per_layer"], **{"ann.recall_at_10": check_metrics.get("ann.recall_at_10", 0.0)})
        units = PER_LAYER
    else:
        values, units = res["end_to_end"], END_TO_END
    # a job's layer metrics read 0 on the workload that does not run it
    values = {k: values.get(k, 0.0 if k.startswith("job.") else None) for k in units}
    missing = [k for k, v in values.items() if v is None]
    if missing:
        log(f"error: the benchmark JVM reported no {missing}")
        return 2
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        log(f"metric {k} = {m['value']} {m['unit']}")
    log(f"failed_frac = {failed}/{attempted}; passes = {res['passes']} "
        f"({res['traced_passes']} traced); cores = {res['cores']}")
    correct = failed == 0 and not wrong
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
