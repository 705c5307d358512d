#!/usr/bin/env python3
"""Record the benchmark's baseline: sets of runs over several seeds, a
traced run per workload, and a summary table.

    python3 etlbench/baseline.py run --set A --seeds 101-110 [--workloads ...]
    python3 etlbench/baseline.py trace --seed 7
    python3 etlbench/baseline.py summary

Results go to etlbench/baseline/: `runs.jsonl` (one line per run: set,
workload, seed, exit code and the run's result object), `trace_<workload>.txt`
(the traced run's output) and `summary.md` (per set, workload and metric:
median, quartiles, spread and sample count, plus the host).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import gen  # noqa: E402

OUT = os.path.join(HERE, "baseline")
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def bench(workload, seed, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    return res.returncode, res.stdout


def seeds(spec):
    lo, hi = spec.split("-")
    return range(int(lo), int(hi) + 1)


def run(a):
    os.makedirs(OUT, exist_ok=True)
    for w in a.workloads:
        for s in seeds(a.seeds):
            code, out = bench(w, s, 0)
            result = json.loads(out.strip().splitlines()[-1])
            line = {"set": a.set, "workload": w, "seed": s, "exit": code, "result": result}
            with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
                f.write(json.dumps(line) + "\n")
            print(w, s, code, {k: round(v["value"], 4) for k, v in result["metrics"].items()}, flush=True)


def trace(a):
    os.makedirs(OUT, exist_ok=True)
    for w in a.workloads:
        code, out = bench(w, a.seed, 1)
        with open(os.path.join(OUT, f"trace_{w}.txt"), "w") as f:
            f.write(f"$ python3 etlbench/run.py --workload {w} --seed {a.seed} "
                    f"--seconds {BENCH['run_seconds']} --trace 1   # exit {code}\n{out}")
        print(w, code, flush=True)


def host():
    mem = next(line.split()[1] for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
    return f"{len(os.sched_getaffinity(0))} CPUs, {int(mem) / 2 ** 20:.1f} GiB memory"


def summary(a):
    runs = [json.loads(line) for line in open(os.path.join(OUT, "runs.jsonl"))]
    names = [m["name"] for m in BENCH["end_to_end"]]
    bounds = {m["name"]: m["bound"] for m in BENCH["end_to_end"]}
    lines = ["# Baseline", "", f"Host: {host()}. `run_seconds` = {BENCH['run_seconds']}.", "",
             "Spread is the distance between the first and third quartile over the median "
             "(`statistics.quantiles(values, n=4)`). `n` is the number of runs (one seed each). "
             "Within a run, `setup_s` is its one set-up, timed from process start, and `cold_*` is one pass; "
             "`pass_*` are medians over the timed passes, whose count per run is below.", "",
             "| set | workload | metric | median | q1 | q3 | spread | bound | n | failed runs |",
             "| --- | --- | --- | --- | --- | --- | --- | --- | --- | --- |"]
    medians = {}
    for s in sorted({r["set"] for r in runs}):
        for w in WORKLOADS:
            rs = [r for r in runs if r["set"] == s and r["workload"] == w]
            if not rs:
                continue
            bad = sum(1 for r in rs if r["exit"] != 0 or not r["result"]["correct"])
            for m in names:
                v = [r["result"]["metrics"][m]["value"] for r in rs]
                q1, med, q3 = statistics.quantiles(v, n=4)
                medians[(s, w, m)] = statistics.median(v)
                lines.append(f"| {s} | {w} | {m} | {statistics.median(v):.4g} | {q1:.4g} | {q3:.4g} | "
                             f"{(q3 - q1) / statistics.median(v):.3f} | {bounds[m]} | {len(v)} | {bad} |")
    per_pass = {"olap_mix": len(gen.OLAP_PASS), "lakehouse_rw": sum(gen.LAKE_ROUND.values())}
    untimed = {"olap_mix": 2, "lakehouse_rw": 1}
    lines += ["", "Timed passes per run (operations attempted over operations per pass, "
              "less the cold pass and, on olap_mix, the verify pass):", ""]
    for s in sorted({r["set"] for r in runs}):
        for w in WORKLOADS:
            n = sorted(r["result"]["attempted"] // per_pass[w] - untimed[w]
                       for r in runs if r["set"] == s and r["workload"] == w)
            if n:
                lines.append(f"- set {s}, {w}: {', '.join(map(str, n))}")
    sets = sorted({r["set"] for r in runs})
    if len(sets) == 2:
        lines += ["", f"Second set's median over the first's ({sets[1]} / {sets[0]}):", "",
                  "| workload | metric | ratio | bound |", "| --- | --- | --- | --- |"]
        for w in WORKLOADS:
            for m in names:
                if (sets[0], w, m) in medians and (sets[1], w, m) in medians:
                    lines.append(f"| {w} | {m} | {medians[(sets[1], w, m)] / medians[(sets[0], w, m)]:.3f} | "
                                 f"{bounds[m]} |")
    with open(os.path.join(OUT, "summary.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", required=True, help="inclusive range, e.g. 101-110")
    r.add_argument("--workloads", nargs="+", default=WORKLOADS)
    t = sub.add_parser("trace")
    t.add_argument("--seed", type=int, default=7)
    t.add_argument("--workloads", nargs="+", default=WORKLOADS)
    sub.add_parser("summary")
    a = ap.parse_args()
    {"run": run, "trace": trace, "summary": summary}[a.cmd](a)


if __name__ == "__main__":
    main()
