#!/usr/bin/env python3
"""Per-query bench regression tripwire.

Usage: python3 tools/bench_diff.py <prev_bench.json> <new_bench.json>
       [--ratio 1.5] [--floor 0.3]

Compares the per-query maps of two Bench runs (the FULL bench_out.json
lines, not the short headline subset) and fails (exit 1) if any query
regressed by more than --ratio AND by more than --floor seconds absolute —
the floor keeps sub-second jitter from tripping the wire. New and removed
queries are reported informationally, and so are the two pass totals
(`pass1_total`, `pass2_total`) of each file that has them, so a change that
only moves the second pass shows too.

Round-5 lesson: only totals were compared round-over-round, so a 6.7x
regression on sparse_cosine_pairs shipped unnoticed inside a total that
"looked fine" because new queries dominated the delta. Accepted regressions
need a SCALE.md note; unexplained ones fail the round's local close-out.
"""
import json
import sys

PASS_TOTALS = ("pass1_total", "pass2_total")


def load(path):
    with open(path) as f:
        d = json.load(f)
    q = d.get("queries", d)
    passes = {k: d[k] for k in PASS_TOTALS if isinstance(d.get(k), (int, float))}
    return {k: float(v) for k, v in q.items() if isinstance(v, (int, float))}, passes


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    opts = {a.split("=")[0].lstrip("-"): float(a.split("=")[1])
            for a in argv if a.startswith("--") and "=" in a}
    ratio = opts.get("ratio", 1.5)
    floor = opts.get("floor", 0.3)
    (prev, prev_passes), (new, new_passes) = load(args[0]), load(args[1])

    added = sorted(set(new) - set(prev))
    removed = sorted(set(prev) - set(new))
    for n in added:
        print(f"NEW      {n:40s} {new[n]:8.2f} s")
    for n in removed:
        print(f"REMOVED  {n:40s} (was {prev[n]:.2f} s)")

    regressions, improved = [], []
    for name in sorted(set(prev) & set(new)):
        p, c = prev[name], new[name]
        if c > p * ratio and c - p > floor:
            regressions.append((c - p, name, p, c))
        elif p > c * ratio and p - c > floor:
            improved.append((p - c, name, p, c))
    for d, n, p, c in sorted(improved, reverse=True):
        print(f"FASTER   {n:40s} {p:8.2f} -> {c:8.2f} s")
    for d, n, p, c in sorted(regressions, reverse=True):
        print(f"REGRESS  {n:40s} {p:8.2f} -> {c:8.2f} s ({c / p:.1f}x)")

    tp, tc = sum(prev.values()), sum(new.values())
    print(f"\ntotal: {tp:.1f} -> {tc:.1f} s over {len(prev)} -> {len(new)} queries")
    # streaming/batch split: the stream_* rows carry fixed trigger/state
    # constants (see BASELINE.md) — a 2x-style gate against a batch-only
    # baseline must read the batch split, so report both separately
    sp = sum(v for k, v in prev.items() if k.startswith("stream_"))
    sc = sum(v for k, v in new.items() if k.startswith("stream_"))
    print(f"  streaming: {sp:.1f} -> {sc:.1f} s | batch: {tp - sp:.1f} -> {tc - sc:.1f} s")
    for k in PASS_TOTALS:
        if k in prev_passes or k in new_passes:
            p, c = (f"{x[k]:.1f}" if k in x else "-" for x in (prev_passes, new_passes))
            print(f"  {k}: {p} -> {c} s")
    if regressions:
        print(f"{len(regressions)} regression(s) beyond {ratio}x + {floor}s "
              "— add a SCALE.md note or fix before round close-out")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
