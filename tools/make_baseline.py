#!/usr/bin/env python3
"""Refresh BENCH_BASELINE.json: per-query best (cold, warm) over every
committed bench artifact (BENCH_r*.json + out/bench.json if present).

The minimum over rounds is the rolling baseline Bench.scala reports
`baseline_ratio` against: ambient load only ever inflates a timing, so
the best a query has ever recorded is the closest committed estimate of
its own cost. Artifacts with truncated/partial JSON contribute whatever queries
they still parse (r8's stdout tail was log-truncated).

Usage: python3 tools/make_baseline.py [repo_root]
"""
import glob
import json
import os
import sys


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    # Committed BENCH_r*.json hold only a 2000-char stdout tail (the
    # driver's capture), so full per-query history lives in (a) the
    # Bench-written out/bench.json of the current session and (b) the
    # PREVIOUS BENCH_BASELINE.json — folding the old baseline back in
    # makes the minimum genuinely rolling across rounds.
    paths = sorted(glob.glob(os.path.join(root, "BENCH_r*.json")))
    for extra in (os.path.join(root, "out", "bench.json"),
                  os.path.join(root, "BENCH_BASELINE.json")):
        if os.path.exists(extra):
            paths.append(extra)
    best = {}  # name -> [cold, warm]
    used = []
    for p in paths:
        try:
            with open(p) as f:
                art = json.load(f)
        except (json.JSONDecodeError, OSError):
            continue  # truncated artifact: skip (salvage not worth it)
        cold = art.get("queries") or {}
        warm = art.get("queries_warm") or {}
        if os.path.basename(p) == "BENCH_BASELINE.json":
            cold = {n: v.get("cold") for n, v in art.get("queries", {}).items()}
            warm = {n: v.get("warm") for n, v in art.get("queries", {}).items()}
        if not cold:
            continue
        used.append(os.path.basename(p))
        for name, c in cold.items():
            w = warm.get(name)
            cur = best.setdefault(name, [float("inf"), float("inf")])
            if isinstance(c, (int, float)) and c > 0:
                cur[0] = min(cur[0], float(c))
            if isinstance(w, (int, float)) and w > 0:
                cur[1] = min(cur[1], float(w))
    out = {
        "note": "per-query best (cold, warm) seconds over committed "
                "artifacts; Bench.scala reports each cold time's ratio to "
                "this as baseline_ratio",
        "sources": used,
        "queries": {
            n: {"cold": round(c, 4), "warm": round(w, 4)}
            for n, (c, w) in sorted(best.items())
            if c != float("inf") and w != float("inf")
        },
    }
    dst = os.path.join(root, "BENCH_BASELINE.json")
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {dst}: {len(out['queries'])} queries from {len(used)} artifacts")


if __name__ == "__main__":
    main()
