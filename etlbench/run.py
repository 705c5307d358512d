#!/usr/bin/env python3
"""Benchmark entry point.

    python3 etlbench/run.py --workload olap_mix|lakehouse_rw \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark's main program with sbt (into the sbt target directories and
`.bench_build/`); later runs reuse the build until a source file changes.
Each run generates the workload's inputs from the seed, runs them in one
JVM, checks every output, prints a table of metrics and, as the last line,
one JSON object:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics of a traced window (and the workload's full per-layer
breakdown on the line before). The exit code is 0 only when every output
check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import checks, gen, metrics  # noqa: E402

WORKLOADS = ("olap_mix", "lakehouse_rw")
OLAP_SF = 0.01        # scale factor of the generated olap_mix tables
JVM_TIMEOUT_S = 150
JAVA_OPTS = [
    "-Xmx4g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Fingerprint of every file the build reads, so a changed source
    triggers a rebuild."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main", "etlbench/build.sbt", "etlbench/project", "etlbench/src/main"):
        p = os.path.join(root, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(r, f) for r, ds, fs in os.walk(p) for f in fs if "target" not in r.split(os.sep))
        for f in paths:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the engine and the benchmark's main program; return the classpath."""
    stamp, cp_file = source_stamp(root), os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    print("etlbench: building the engine and the benchmark (sbt)", file=sys.stderr)
    res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "export etlbench/Runtime/fullClasspath"],
                         cwd=HERE, capture_output=True, text=True, timeout=840)
    lines = [x for x in res.stdout.splitlines() if x.strip()]
    if res.returncode != 0 or not lines or "[" in lines[-1]:
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-2000:])
        fail("build failed", 3)
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cpus():
    return len(os.sched_getaffinity(0))


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "etlbench.Main"] + args
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("the program timed out" if code is None else f"the program exited with {code}", 4)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.path.dirname(HERE)
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and os.path.isdir(os.path.join(root, "src", "main"))):
        fail("the engine's sources (build.sbt, src/main) are not beside the benchmark; run from a full checkout")
    build_dir = os.path.join(root, ".bench_build")
    cp = build(root, build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, out = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "out")
    try:
        t = time.time()
        digest = gen.write_inputs(a.workload, a.seed, inputs, OLAP_SF, os.path.join(run_dir, "inputs_again"))
        shutil.rmtree(os.path.join(run_dir, "inputs_again"))
        print(f"seed {a.seed}: {a.workload} inputs {gen.input_bytes(inputs)} bytes, sha256 {digest[:16]}, "
              f"generated twice identically in {time.time() - t:.1f} s")
        n = cpus()
        run_jvm(cp, ["--workload", a.workload, "--inputs", inputs, "--out", out, "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--cpus", str(n)], run_dir)
        result = report(a, root, inputs, out, n)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def report(a, root, inputs, out, n):
    rd = checks.read_jsonl
    ops, passes, setup = rd(f"{out}/ops.jsonl"), rd(f"{out}/passes.jsonl"), rd(f"{out}/setup.jsonl")[0]
    summary = json.load(open(f"{out}/summary.json"))
    extra = {}
    if a.workload == "olap_mix":
        attempted, failed, notes, verified = checks.check_olap(root, inputs, out, ops)
        print("verified row counts: " + ", ".join(f"{k}={v}" for k, v in sorted(verified.items())))
    else:
        attempted, failed, notes, last = checks.check_lake(a.seed, out, ops, summary["lake_versions"])
        sizes = summary["lake_bytes"]
        extra["lake.bytes_per_user_byte"] = sum(sizes.values()) / checks.live_json_bytes(a.seed, last)
        extra["lake.versions"] = last
        extra |= {f"lake.{k}_bytes": v for k, v in sizes.items()}
        print("lake bytes on disk: " + ", ".join(f"{k}={v}" for k, v in sizes.items()) + f"; versions {last}")
    for line in notes[:20]:
        print(f"CHECK FAILED {line}")
    print(f"{a.workload}: closed loop, 1 client, local[{n}]; {attempted} operations, {failed} failed, "
          f"failed_ratio {failed / attempted:.6g}")
    if a.trace:
        m = metrics.per_layer(setup, passes, ops, rd(f"{out}/spans.jsonl"), rd(f"{out}/jobs.jsonl"),
                              rd(f"{out}/plans.jsonl"), summary)
        print("breakdown " + json.dumps(metrics.breakdown(ops, rd(f"{out}/spans.jsonl"), rd(f"{out}/jobs.jsonl"),
                                                           rd(f"{out}/plans.jsonl")) | {"extra": extra}))
        shown = m
    else:
        m, ungated = metrics.end_to_end(setup, passes, ops, summary)
        shown = m | ungated
    for k, v in shown.items():
        pct = f" (p{v[3]:.1f})" if len(v) > 3 else ""
        print(f"  {k:28s} {fmt(v[0]):>14s} {v[1]:6s} n={v[2]}{pct}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in m.items()}}


if __name__ == "__main__":
    main()
