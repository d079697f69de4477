#!/usr/bin/env python3
"""The repo benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload catalog-small --seed 1 \
        --seconds 16 --trace 0

Run it from the root of a checkout. It builds the engine from source
(`perfbench/build.py`, skipped when unchanged), prepares the inputs under
`perfbench/.work`, runs one JVM for the workload, checks the outputs, and
prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Everything else (build log, Spark output, host-contention stamps, the
names of failing ops) goes to stderr. A run during which other processes
used the host's cores is flagged there as contended; it still reports its
metrics. Metric names and units come from `BENCHMARK.json`;
`perfbench/README.md` defines every metric and lists the run settings.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

import build as builder  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_DIR = os.path.join(WORK, "run")
# spans of traced runs and the raw result of the latest run, kept for reading
TRACE_DIR = os.path.join(WORK, "traces")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
# A fixed heap below the host's memory; the JVM's other settings are
# constants of graft.perfbench.PerfBench.
XMX = "3g"
JVM_TIMEOUT_S = 170
# A traced op's spans must cover its wall time to within this share.
SPAN_GAP_TOLERANCE = 0.05

# Spark 4 on JDK 17 needs these outside spark-submit; the list matches
# org.apache.spark.launcher.JavaModuleOptions.
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java(cp, args, cwd, timeout):
    """Runs the benchmark's JVM; its stdout and stderr go to our stderr.
    On timeout the JVM is killed and waited for."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{XMX}", f"-Xms{XMX}",
            "-XX:-UsePerfData"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(cwd, 'derby')}",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.PerfBench"] + args)
    r = subprocess.run(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=timeout)
    return r.returncode


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def root_entries():
    return set(os.listdir(ROOT))


def main():
    spec = benchmark_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        log("another benchmark run holds this checkout's work dir")
        return 2
    before = root_entries()

    try:
        cp = builder.build()
    except (builder.BuildError, OSError, subprocess.TimeoutExpired) as e:
        log(f"cannot build: {e}")
        return 2

    shutil.rmtree(RUN_DIR, ignore_errors=True)
    os.makedirs(RUN_DIR)
    out = os.path.join(RUN_DIR, "result.json")
    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", FIXTURE, "--work", RUN_DIR, "--out", out]
    if a.trace:
        os.makedirs(TRACE_DIR, exist_ok=True)
        args += ["--spans", os.path.join(
            TRACE_DIR, f"{a.workload}-seed{a.seed}.jsonl")]
    t0 = time.time()
    try:
        rc = java(cp, args, RUN_DIR, JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"the run exceeded {JVM_TIMEOUT_S} s and was killed")
        return 3
    if rc != 0 or not os.path.exists(out):
        log(f"the benchmark JVM exited {rc} without a result")
        return 3
    with open(out) as fh:
        res = json.load(fh)
    jvm_s = time.time() - t0
    os.makedirs(TRACE_DIR, exist_ok=True)
    shutil.copy(out, os.path.join(TRACE_DIR, f"last-{a.workload}.json"))
    # Output checks: the JVM's own (store vs model, dump failures) plus,
    # for catalog workloads, each query's rows against its DuckDB oracle.
    # A wrong output fails every op of that name.
    problems = list(res["check_failures"])
    wrong = set()
    if res["queries"]:
        verdict = oracle.compare(FIXTURE, os.path.join(RUN_DIR, "out"),
                                 res["queries"])
        wrong = {q for q, v in verdict.items() if v}
        problems += [f"{q}: {verdict[q]}" for q in sorted(wrong)]
    elif problems:
        wrong = set(res["op_counts"])
    failed_names = sorted(set(res["op_failures"]) | wrong)
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] +
                 sum(n for q, n in res["op_counts"].items() if q in wrong))
    for name, err in res["op_failures"].items():
        log(f"op failed: {name}: {err}")
    if a.trace and res["layers"]["trace.span_gap_frac"] > SPAN_GAP_TOLERANCE:
        problems.append(
            "spans leave {:.1%} of the traced ops' wall time uncovered, "
            "more than {:.0%}".format(res["layers"]["trace.span_gap_frac"],
                                      SPAN_GAP_TOLERANCE))
    for p in problems:
        log(f"wrong output: {p}")

    shutil.rmtree(RUN_DIR, ignore_errors=True)

    # Hygiene: nothing outside the work dir, no tables left behind.
    stray = sorted(root_entries() - before)
    if stray:
        log(f"hygiene: the run left {stray} in the checkout root")
    if res["tables_left"]:
        log(f"hygiene: {res['tables_left']} tables left in the catalog")

    if res["contended"]:
        log("HOST CONTENTION: other processes used the host's cores during "
            "this run; its timings are flagged (see the stamps)")
    log(f"stamps: foreign_cores={res['foreign_cores']:.3f} "
        f"other_cores={res['other_cores']:.3f} "
        f"setup_other_cores={res['setup_other_cores']} "
        f"loadavg_1m_before={res['loadavg_1m_before']:.2f} "
        f"cores={res['cores']} ops={attempted} "
        f"window_s={res['window_s']:.2f} jvm_s={jvm_s:.1f}")
    if failed_names:
        log(f"failing ops: {', '.join(failed_names)}")

    if a.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = res["layers"]
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "setup_s": res["setup_s"],
            "op_p50_s": res["op_p50_s"],
            "op_tail_s": res["op_tail_s"],
            "ops_per_s": res["ops_per_s"],
            "ok_rate": 1.0 - failed / attempted,
            "peak_rss_mb": res["peak_rss_mb"],
            "bytes_written_per_row":
                res["bytes_written"] / max(1, res["rows_basis"]),
        }
    missing = sorted(set(units) - set(values))
    if missing:
        log(f"the run did not produce {missing}")
        return 3
    print(json.dumps({
        "correct": not problems and not res["op_failures"],
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
