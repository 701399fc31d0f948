#!/usr/bin/env python3
"""Compares two sets of benchmark runs, a parent and a change.

    python3 perfbench/compare.py PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py --run PARENT_DIR CHANGE_DIR \
        [--workloads hh_batch,serve] [--seeds 1-10] [--seconds 20]

`--workloads` and `--seconds` default to BENCHMARK.json's workloads and
run_seconds.

A set of runs is a `results.jsonl` as perfbench/run.py appends it under
`.bench_runs/` of the checkout it ran in. `--run` first makes the runs:
for each seed and workload it runs both checkouts, alternating which
goes first, then compares their `.bench_runs/results.jsonl`.

For every pairing of end-to-end metric and workload it prints each
side's median and quartiles and a verdict:

  gain        the change wins at least 9/10 of the pairs (same workload
              and seed; ties count for neither side) and the medians
              differ by more than the parent's inter-quartile spread
  worse       the change's median is worse than the parent's by more
              than the metric's bound in BENCHMARK.json
  unresolved  either side's spread (IQR / median) is wider than the
              bound, and not every change run beats every parent run
  same        none of the above

Traced runs (--trace 1) are compared the same way on their `traced.*`
copies of the end-to-end metrics, and each side's tracing overhead is
printed: traced median against untraced median, per workload.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def spec():
    return {m["name"]: m for m in benchmark()["end_to_end"]}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def values(runs, workload, metric, traced):
    """{seed: value} of one metric on one workload."""
    out = {}
    for r in runs:
        if r["workload"] != workload or bool(r["trace"]) != traced:
            continue
        v = r["layers"].get(f"traced.{metric}") if traced else r["e2e"].get(metric)
        if v is not None:
            out[r["seed"]] = v
    return out


def verdict(a, b, better, bound):
    """(verdict, wins, pairs) for parent values `a` and change values `b`,
    both {seed: value}."""
    sign = 1 if better == "higher" else -1
    seeds = sorted(set(a) & set(b))
    wins = sum(1 for s in seeds if sign * (b[s] - a[s]) > 0)
    qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
    ma, mb = qa[1], qb[1]
    spread_a = (qa[2] - qa[0]) / abs(ma) if ma else float("inf")
    spread_b = (qb[2] - qb[0]) / abs(mb) if mb else float("inf")
    all_better = min(sign * x for x in b.values()) > max(sign * x for x in a.values())
    worse_by = sign * (ma - mb) / abs(ma) if ma else 0.0
    if seeds and wins >= 0.9 * len(seeds) and sign * (mb - ma) > qa[2] - qa[0]:
        v = "gain"
    elif worse_by > bound:
        v = "worse"
    elif max(spread_a, spread_b) > bound and not all_better:
        v = "unresolved"
    else:
        v = "same"
    return v, wins, len(seeds)


def report(parent, change):
    metrics = spec()
    workloads = sorted({r["workload"] for r in parent} & {r["workload"] for r in change})
    fmt = "{:<11} {:<17} {:>28} {:>28} {:>8} {:>6}  {}"
    print(fmt.format("workload", "metric", "parent median [q1, q3]",
                     "change median [q1, q3]", "delta", "wins", "verdict"))
    bad = False
    for traced in (False, True):
        for w in workloads:
            for name, m in metrics.items():
                a = values(parent, w, name, traced)
                b = values(change, w, name, traced)
                if not a or not b:
                    continue
                v, wins, pairs = verdict(a, b, m["better"], m["bound"])
                bad |= v in ("worse", "unresolved") and not traced
                qa, qb = quartiles(list(a.values())), quartiles(list(b.values()))
                cell = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
                print(fmt.format(w, ("traced." if traced else "") + name, cell(qa),
                                 cell(qb), f"{(qb[1] - qa[1]) / qa[1]:+.1%}",
                                 f"{wins}/{pairs}", v))
    print()
    for label, runs in (("parent", parent), ("change", change)):
        for w in workloads:
            parts = []
            for name in metrics:
                u = values(runs, w, name, False)
                t = values(runs, w, name, True)
                if u and t:
                    mu, mt = statistics.median(u.values()), statistics.median(t.values())
                    parts.append(f"{name} {(mt - mu) / mu:+.1%}")
            if parts:
                print(f"tracing overhead, {label}, {w}: " + ", ".join(parts))
    return bad


def seed_list(s):
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_pairs(parent_dir, change_dir, workloads, seeds, seconds):
    for i, seed in enumerate(seeds):
        for w in workloads:
            order = (parent_dir, change_dir) if i % 2 == 0 else (change_dir, parent_dir)
            for d in order:
                r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                    "--seed", str(seed), "--seconds", str(seconds),
                                    "--trace", "0"], cwd=d, capture_output=True, text=True)
                last = r.stdout.strip().splitlines()[-1:] or ["(no output)"]
                print(f"{d} {w} seed={seed} rc={r.returncode} {last[0][:160]}",
                      file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--run", action="store_true",
                    help="the arguments are checkouts to run first")
    bench = benchmark()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()
    if a.run:
        run_pairs(a.parent, a.change, a.workloads.split(","), seed_list(a.seeds),
                  a.seconds)
        a.parent = os.path.join(a.parent, ".bench_runs", "results.jsonl")
        a.change = os.path.join(a.change, ".bench_runs", "results.jsonl")
    sys.exit(1 if report(load(a.parent), load(a.change)) else 0)


if __name__ == "__main__":
    main()
