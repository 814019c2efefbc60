#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload, with a verdict per metric.

    python3 tools/perf_pairs.py --parent DIR --change DIR --workload W --seeds 11-20
    python3 tools/perf_pairs.py --self-test

Each seed runs `python3 perfbench/run.py --workload W --seed s --seconds 14 --trace 0`
once in each checkout, one after the other, and the side that goes first flips
on every seed. Nothing in either checkout is modified beyond what run.py itself
writes under `.bench_build/`.

For every end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles, the pairs the change won (ties count for neither side) and a verdict:

  gain        the change won at least 9/10 of the pairs and its median is better
              by more than the distance between the parent's quartiles;
  regression  the change's median is worse than the parent's by more than the
              metric's `bound` (a fraction of the parent's median);
  unresolved  neither, and the parent's quartile spread is wider than the bound,
              unless every change run reads better than every parent run;
  unchanged   otherwise.

The verdict follows section 8 of the `choosing-metrics` guide.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) of `xs`, inclusive method (needs at least one value)."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(parent, change, better, bound):
    """Verdict for one metric over paired runs: `parent[i]` and `change[i]`
    come from the same seed. `better` is "lower" or "higher"; `bound` is the
    allowed relative worsening of the median. Returns (verdict, wins)."""
    assert len(parent) == len(change) and parent, "need paired runs"
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    gap = sign * (pmed - cmed)  # > 0: the change is better
    if wins >= math.ceil(0.9 * len(parent)) and gap > pq3 - pq1:
        return "gain", wins
    if -gap > bound * abs(pmed):
        return "regression", wins
    every_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if pq3 - pq1 > bound * abs(pmed) and not every_better:
        return "unresolved", wins
    return "unchanged", wins


def self_test():
    # 10/10 wins, gap 0.78 s against a parent IQR of 0.62 s
    parent = [2.64, 2.43, 3.05, 2.50, 2.70, 2.60, 3.10, 2.45, 2.90, 2.66]
    change = [1.86, 1.71, 2.05, 1.80, 1.90, 1.75, 2.10, 1.72, 2.00, 1.88]
    assert verdict(parent, change, "lower", 0.25) == ("gain", 10)
    # the same runs read the other way: 0/10 wins, median 42% worse
    assert verdict(change, parent, "lower", 0.25) == ("regression", 0)
    # 8/10 wins is not a gain, even with a wide gap
    mixed = change[:8] + [3.5, 3.6]
    assert verdict(parent, mixed, "lower", 0.25) == ("unchanged", 8)
    # a gap inside the parent's own spread is not a gain
    noisy = [2.0, 3.0, 2.2, 2.8, 2.4, 2.6, 2.1, 2.9, 2.5, 2.5]
    shifted = [x - 0.05 for x in noisy]
    assert verdict(noisy, shifted, "lower", 0.25) == ("unchanged", 10)
    # spread wider than the bound and no clean separation: unresolved
    wide = [1.0, 2.0, 3.0, 1.5, 2.5, 1.2, 2.8, 1.8, 2.2, 2.0]
    assert verdict(wide, [x * 1.05 for x in wide], "lower", 0.25)[0] == "unresolved"
    # higher-is-better metrics flip the sign
    assert verdict([1.0] * 10, [2.0] * 10, "higher", 0.25) == ("gain", 10)
    assert verdict([2.0] * 10, [1.0] * 10, "higher", 0.25) == ("regression", 0)
    # ties count for neither side
    assert verdict([1.0] * 10, [1.0] * 10, "lower", 0.25) == ("unchanged", 0)
    print("self-test passed")


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its result dict (the last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="11-20", help="e.g. 11-20 or 1,3,5-7")
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--out", help="write every run's result here as JSON")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
        return
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are required")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    runs = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(getattr(a, side), a.workload, seed, a.seconds)
            r["seed"] = seed
            runs[side].append(r)
            vals = " ".join(f"{m['name']}={r['metrics'][m['name']]['value']:.3f}"
                            for m in metrics if m["name"] in r["metrics"])
            print(f"seed {seed} {side:6s} failed={r['failed']} {vals}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)

    print(f"\n{a.workload}: {len(runs['parent'])} pairs")
    print(f"{'metric':10s} {'parent median (q1-q3)':>26s} {'change median (q1-q3)':>26s}"
          f" {'ratio':>6s} {'wins':>5s}  verdict")
    for m in metrics:
        name = m["name"]
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        v, wins = verdict(p, c, m["better"], m["bound"])
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(p), quartiles(c)
        print(f"{name:10s} {pm:10.3f} ({pq1:.3f}-{pq3:.3f}) {cm:10.3f} ({cq1:.3f}-{cq3:.3f})"
              f" {cm / pm:6.3f} {wins:2d}/{len(p):<2d}  {v}")
    for side in ("parent", "change"):
        print(f"{side} failed: {[r['failed'] for r in runs[side]]}")


if __name__ == "__main__":
    main()
