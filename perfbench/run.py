#!/usr/bin/env python3
"""Benchmark entry point. See perfbench/README.md.

  python3 perfbench/run.py --workload wc-latency|table-dml \
      --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (perfbench/build.py), runs
the workload in one JVM at local[<cpus>], and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. Timed runs
(--trace 0) report the end-to-end metrics; traced runs (--trace 1) report the
per-layer metrics. Exits non-zero when an output check fails.
"""
import argparse
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = build.WORKLOADS
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RUN_BUDGET_S = 170  # the whole run after the build, JVM included


def check_result(res):
    """Shape of the result object; returns a list of problems."""
    bad = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        bad.append("result keys %s" % sorted(res))
        return bad
    if not isinstance(res["correct"], bool):
        bad.append("correct is not a bool")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or isinstance(res[k], bool) or res[k] < 0:
            bad.append("%s is not a whole number" % k)
    if isinstance(res["attempted"], int) and res["attempted"] < 1:
        bad.append("attempted < 1")
    for name, m in res["metrics"].items():
        if not NAME_RE.match(name):
            bad.append("metric name %r" % name)
        if set(m) != {"value", "unit"} or not UNIT_RE.match(str(m.get("unit", ""))):
            bad.append("metric %s shape/unit %r" % (name, m))
            continue
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            bad.append("metric %s value %r" % (name, v))
    return bad


def manifest_metrics(root, trace):
    """{name: unit} of the metrics BENCHMARK.json asks of a run in this mode:
    per-layer for a traced run, end-to-end for a timed one."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_names(res, wanted):
    """Every metric of the manifest, in its unit, and no other; returns a
    list of problems."""
    got = {n: m.get("unit") for n, m in res["metrics"].items()}
    bad = ["missing metric %s" % n for n in sorted(set(wanted) - set(got))]
    bad += ["metric %s is not in BENCHMARK.json" % n for n in sorted(set(got) - set(wanted))]
    bad += ["metric %s unit %r, BENCHMARK.json says %r" % (n, got[n], wanted[n])
            for n in sorted(set(got) & set(wanted)) if got[n] != wanted[n]]
    return bad


def run_jvm(cp, work, args, timeout):
    """Run perfbench.Main; return (exit code, parsed result or None, details)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = build.java_cmd(cp, work) + args
    log_path = os.path.join(work, "jvm-%d.log" % len(os.listdir(work)))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write("perfbench: JVM timed out after %.0f s\n" % timeout)
            return 124, None, []
        except BaseException:  # interrupted or terminated: take the JVM down too
            proc.kill()
            proc.wait()
            raise
    result, details = None, []
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("PERFBENCH_DETAIL "):
            details.append(line[len("PERFBENCH_DETAIL "):])
    if proc.returncode != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
    return proc.returncode, result, details


def main(argv):
    # SIGTERM unwinds like an interrupt, so no child process outlives the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    wanted = manifest_metrics(root, a.trace)
    cp, build_s = build.build(root)
    if build_s:
        sys.stderr.write("perfbench: built in %.1f s\n" % build_s)
    t0 = time.time()
    work = os.path.join(root, ".perfbench_work", "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace_dir = os.path.join(root, ".perfbench_work", "trace")
    os.makedirs(trace_dir, exist_ok=True)
    n = build.cpus()
    common = ["--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--trace-dir", trace_dir]
    try:
        rc, res, details = run_jvm(cp, work, common + ["--cores", str(n)],
                                   RUN_BUDGET_S - (time.time() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for d in details:
        print(d)
    if res is None:
        sys.stderr.write("perfbench: no result (exit %d)\n" % rc)
        return rc or 1
    problems = check_result(res) or check_names(res, wanted)
    if problems:
        sys.stderr.write("perfbench: malformed result: %s\n" % "; ".join(problems))
        return 1
    print(json.dumps(res))
    return 0 if res["correct"] and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
