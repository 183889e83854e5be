#!/usr/bin/env python3
"""Checks on the benchmark itself. Run from the repository root.

    python3 perfbench/check.py spread WORKLOAD --seeds 1 2 3 ...
        One untraced run per seed; prints each end-to-end metric's median
        and its spread (quartile distance over median), next to a third
        of the metric's bound from BENCHMARK.json.

    python3 perfbench/check.py repeat WORKLOAD --seed N [--cycles C]
        Count-repeat and tracing overhead: two traced runs of C cycles
        with the same seed must give identical Spark job, stage and task
        counts and sources file counts per span name; any counter that
        differs is listed. An untraced run of the same seed and cycles
        gives the tracing overhead (traced ops_per_s against untraced).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPEAT_KEYS = ("n", "exec.jobs", "exec.stages", "exec.tasks")


def run(workload, seed, trace, seconds=None, cycles=None, trace_out=None):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds or bench["run_seconds"]),
           "--trace", str(trace)]
    if cycles:
        cmd += ["--cycles", str(cycles)]
    if trace_out:
        cmd += ["--trace-out", trace_out]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: run failed (exit {p.returncode})\n{p.stdout}")
    return json.loads(lines[-1]), lines


def spread(a):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    for seed in a.seeds:
        res, _ = run(a.workload, seed, 0)
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}"
                                          for k, v in res["metrics"].items()), flush=True)
    all_ok = True
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        sp = (q3 - q1) / med if med else 0.0
        limit = bounds.get(name, 0) / 3
        ok = name == "setup_s" or sp < limit
        all_ok &= ok
        print(f"{name:22s} median={med:.4g} spread={sp:.3f} third_of_bound={limit:.3f}"
              f" {'ok' if ok else 'TOO WIDE'}")
    sys.exit(0 if all_ok else 1)


def repeat(a):
    tmp = tempfile.mkdtemp(prefix="perfbench-repeat-", dir=os.path.join(ROOT, ".bench_build"))
    by_name = []
    traced_ops = []
    for i in range(2):
        out = os.path.join(tmp, f"trace-{i}.json")
        res, _ = run(a.workload, a.seed, 1, cycles=a.cycles, trace_out=out)
        traced_ops.append(res["metrics"]["trace.ops_per_s"]["value"])
        with open(out) as f:
            by_name.append(json.load(f)["by_name"])
    diffs = []
    for span in sorted(set(by_name[0]) | set(by_name[1])):
        x, y = by_name[0].get(span, {}), by_name[1].get(span, {})
        for k in sorted(set(x) | set(y)):
            if (k in REPEAT_KEYS or k.startswith("sources.")) and x.get(k) != y.get(k):
                diffs.append(f"{span} {k}: {x.get(k)} vs {y.get(k)}")
    untraced, _ = run(a.workload, a.seed, 0, cycles=a.cycles)
    base = untraced["metrics"]["ops_per_s"]["value"]
    print(f"{a.workload} seed {a.seed}, {a.cycles} cycle(s): {len(by_name[0])} span names")
    print("counts repeat exactly" if not diffs else "counts that differ:\n  " + "\n  ".join(diffs))
    for i, t in enumerate(traced_ops):
        print(f"traced run {i}: ops_per_s {t:.4g}, untraced {base:.4g}, "
              f"overhead {(base / t - 1) * 100:+.1f}%")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("workload")
    s.add_argument("--seeds", type=int, nargs="+", required=True)
    r = sub.add_parser("repeat")
    r.add_argument("workload")
    r.add_argument("--seed", type=int, required=True)
    r.add_argument("--cycles", type=int, default=1)
    a = ap.parse_args()
    spread(a) if a.cmd == "spread" else repeat(a)


if __name__ == "__main__":
    main()
