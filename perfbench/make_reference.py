#!/usr/bin/env python3
"""Refreshes the benchmark's committed references.

    python3 perfbench/make_reference.py [--oracle]

Builds as `run.py` does, then writes
  - `inputs.json`: the sha256 of every input table in `perfbench/data/`;
  - `reference.tsv`: the output digest of every workload query, from one
    run per workload;
  - with `--oracle`, `oracle.json`: each query's output compared with its
    DuckDB oracle (`SparkEntry.oracleSql`) on the same inputs, canonicalised
    as `tools/check_local.py` does.
Run it only when the inputs or the intended query results change.
"""
import argparse
import json
import os
import shutil
import sys

import run as bench


def harness(cp, args, tag):
    rc, _ = bench.launch(cp, args, tag, 900)
    if rc != 0:
        sys.exit(f"harness {args[0]} failed (exit {rc}); see .bench_build/logs/{tag}.log")


def oracle_status(out_dir):
    sys.path.insert(0, os.path.join(bench.ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_local import canon
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    con = duckdb.connect()
    for t in bench.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{bench.DATA}/{t}.parquet')")
    status = {}
    for q in sorted(d for d in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, d))):
        if q not in sql:
            status[q] = "no oracle"
            continue
        mine = canon(pd.read_parquet(os.path.join(out_dir, q)))
        try:
            theirs = canon(con.execute(sql[q]).fetchdf())
        except Exception as e:  # an oracle that cannot run is recorded, not fatal
            status[q] = f"oracle error: {str(e).splitlines()[0][:160]}"
            continue
        if list(mine.columns) != list(theirs.columns):
            status[q] = f"columns differ: {list(mine.columns)} vs {list(theirs.columns)}"
        elif len(mine) != len(theirs):
            status[q] = f"mismatch: {len(mine)} rows vs oracle {len(theirs)}"
        elif not mine.equals(theirs):
            bad = ((mine != theirs) & ~(mine.isna() & theirs.isna())).any(axis=1)
            status[q] = f"mismatch: {int(bad.sum())} of {len(mine)} rows differ"
        else:
            status[q] = f"match ({len(mine)} rows)"
        print(f"{q}: {status[q]}", file=sys.stderr)
    return status


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--oracle", action="store_true")
    a = ap.parse_args()
    os.makedirs(bench.WORK, exist_ok=True)
    cp = bench.build()
    with open(os.path.join(bench.HERE, "inputs.json"), "w") as f:
        json.dump(bench.input_digests(), f, indent=1, sort_keys=True)
        f.write("\n")

    lines = ["# query\trows\tsum of row hashes (perfbench.Digest)"]
    with open(os.path.join(bench.ROOT, "BENCHMARK.json")) as f:
        workloads = [w["name"] for w in json.load(f)["workloads"]]
    for w in workloads:
        ref = os.path.join(bench.WORK, f"reference-{w}.tsv")
        harness(cp, ["run", "--workload", w, "--seed", "1", "--seconds", "1",
                     "--data", bench.DATA, "--reference", ref, "--record-reference", ref],
                f"reference-{w}")
        with open(ref) as f:
            lines += [l.rstrip("\n") for l in f if l.strip()]
    with open(os.path.join(bench.HERE, "reference.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")

    if a.oracle:
        out = os.path.join(bench.WORK, "oracle-out")
        shutil.rmtree(out, ignore_errors=True)
        harness(cp, ["outputs", "--dir", out, "--data", bench.DATA], "outputs")
        with open(os.path.join(bench.HERE, "oracle.json"), "w") as f:
            json.dump(oracle_status(out), f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
