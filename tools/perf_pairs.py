#!/usr/bin/env python3
"""Alternating perfbench pairs of a parent and a change checkout, judged by
the paired rule of the choosing-metrics guide (section 8).

Usage:
  python3 tools/perf_pairs.py <parent checkout> <change checkout> \
      --workload route_batch --seeds 31 32 33 34 35 36 37 38 39 40 \
      [--seconds 5] [--trace 0] [--out pairs.json]

Each seed is one pair: both checkouts run `perfbench/run.py` with the same
workload, seed, run length and trace flag, each in its own fresh JVM. The
side that runs first alternates from pair to pair (the parent first on
even-numbered pairs). Every run's `failed` count is printed as it finishes.

For every metric the runs report, it prints each side's median and
quartiles, how many pairs the change won (ties count for neither side;
"better" comes from the change checkout's BENCHMARK.json) and a verdict:

  gain      the change won at least 9 of every 10 pairs AND the medians
            differ, in the better direction, by more than the parent's
            interquartile range AND the change failed no more operations
            in total than the parent;
  worse     the change's median is worse than the parent's by more than
            the metric's end-to-end bound (end-to-end metrics only);
  no claim  anything else.

The exit code is 0; the verdicts are the output. `--out` also writes every
run's metrics as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its result line (a dict)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        tail = (r.stderr or r.stdout).strip().splitlines()[-5:]
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "error": " | ".join(tail)}
    return json.loads(lines[-1])


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def metric_specs(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    specs = {}
    for m in bench.get("end_to_end", []):
        specs[m["name"]] = (m["better"], m.get("bound"))
    for m in bench.get("per_layer", []):
        specs[m["name"]] = (m["better"], None)
    return specs


def judge(parent, change, better, bound, parent_failed=0, change_failed=0):
    """(wins, verdict) of one metric over paired runs; a gain is void when
    the change failed more operations in total than the parent."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    if (wins * 10 >= 9 * len(parent) and sign * (cmed - pmed) > (pq3 - pq1)
            and change_failed <= parent_failed):
        return wins, "gain"
    if bound is not None and pmed and sign * (cmed - pmed) / abs(pmed) < -bound:
        return wins, "worse"
    return wins, "no claim"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(a.seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(sides[side], a.workload, seed, a.seconds, a.trace)
            runs[side].append(res)
            err = f" error: {res['error']}" if "error" in res else ""
            print(f"pair {i + 1} seed {seed} {side}: failed {res['failed']} "
                  f"of {res['attempted']}{err}", flush=True)
    failed = {side: sum(r["failed"] for r in rs) for side, rs in runs.items()}
    specs = metric_specs(sides["change"])
    names = sorted(set().union(*(r["metrics"].keys() for s in runs.values() for r in s)))
    print(f"\n== {a.workload}, {len(a.seeds)} pairs, seeds {a.seeds}, "
          f"seconds {a.seconds}, trace {a.trace}")
    print(f"{'metric':42s} {'parent median [q1, q3]':>34s} "
          f"{'change median [q1, q3]':>34s} {'wins':>6s}  verdict")
    for name in names:
        both = [(p["metrics"].get(name), c["metrics"].get(name))
                for p, c in zip(runs["parent"], runs["change"])]
        both = [(p["value"], c["value"]) for p, c in both if p and c]
        if not both:
            continue
        parent = [p for p, _ in both]
        change = [c for _, c in both]
        better, bound = specs.get(name, ("lower", None))
        wins, verdict = judge(parent, change, better, bound,
                              failed["parent"], failed["change"])
        pq1, pmed, pq3 = quartiles(parent)
        cq1, cmed, cq3 = quartiles(change)
        print(f"{name:42s} {pmed:12.6g} [{pq1:9.5g}, {pq3:9.5g}] "
              f"{cmed:12.6g} [{cq1:9.5g}, {cq3:9.5g}] {wins:3d}/{len(both):<2d}  {verdict}")
    for side, rs in runs.items():
        attempted = sum(r["attempted"] for r in rs)
        print(f"{side}: failed {failed[side]} of {attempted} attempted "
              f"(per run: {[r['failed'] for r in rs]})")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
                       "trace": a.trace, "runs": runs}, f)


if __name__ == "__main__":
    main()
