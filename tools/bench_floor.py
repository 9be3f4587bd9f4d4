#!/usr/bin/env python3
"""Min-across-runs bench floor — the round gate procedure (BASELINE.md).

Per-query min WITHIN one run (the bench's min-of-2) still carries
+-0.3s/query of box noise, the same magnitude as the per-query ratchet
it polices (round-14 verdict, finding #3). The floor across the
round's archived full runs is the stable statistic: shared-tenancy
spikes almost never hit the same query in every run.

Usage:
    python3 tools/bench_floor.py bench_runs/bench-A.json bench-B.json ...

Prints the per-query floor total, each run's value/sentinel_median,
and the per-query floor map (worst 15 shown); exits non-zero if the
runs disagree on the query set (comparing unlike rounds).
"""
import json
import statistics
import sys


def main(paths):
    runs = []
    for p in paths:
        with open(p) as f:
            runs.append((p, json.load(f)))
    if not runs:
        print("usage: bench_floor.py <bench.json> ...", file=sys.stderr)
        return 2
    keys = set(runs[0][1]["queries"])
    for p, r in runs[1:]:
        if set(r["queries"]) != keys:
            print(f"query-set mismatch in {p} "
                  f"(+{sorted(set(r['queries']) - keys)[:3]} "
                  f"-{sorted(keys - set(r['queries']))[:3]})",
                  file=sys.stderr)
            return 1
    for p, r in runs:
        med = r.get("sentinel_median") or statistics.median(
            float(x) for x in r["sentinel"])
        vf = r.get("value_full")
        full = f" value_full={float(vf):.1f}" if vf is not None else ""
        print(f"run {p}: value={r['value']:.1f}{full} "
              f"sentinel_median={med:.3f}")
    floor = {k: min(r["queries"][k] for _, r in runs) for k in keys}
    total = sum(floor.values())
    # build-inclusive floor: per-query min of FIRST samples across runs
    # (r15 verdict ask #2 — a total that a Shared.materialized build can
    # never silently leave). Older artifacts lack "runs"; skip then.
    if all("runs" in r for _, r in runs):
        floor_full = {k: min(r["runs"][k][0] for _, r in runs)
                      for k in keys}
        full_str = f" floor_full={sum(floor_full.values()):.2f}"
    else:
        full_str = ""
    print(f"floor_total={total:.2f}{full_str} over {len(keys)} queries "
          f"across {len(runs)} runs")
    # queries whose steady sample reads their OWN memoized output — the
    # floor measures a ~50-row parquet read there, not the operator
    # (r15 verdict, what's-wrong #2); read their cost from floor_full.
    # A memo is a query's own output when it carries the query's name
    # (s01_cosine_topk) or its model name, the query name minus its
    # qNN_ prefix (q01_fact_txn <-> fact_txn) — whichever query's first
    # sample paid the build (q26 builds q27's volatility_factor).
    memos = {t for _, r in runs
             for tables in (r.get("materialized") or {}).values()
             for t in tables}
    memo_out = {q for q in keys if {q, q.split("_", 1)[-1]} & memos}
    worst = sorted(floor.items(), key=lambda kv: -kv[1])[:15]
    for k, v in worst:
        mark = "  [memo-output: not an operator cost]" if k in memo_out else ""
        print(f"  {k:36s} {v:.3f}{mark}")
    if memo_out:
        print(f"memo-output queries (steady sample reads own cached "
              f"result): {', '.join(sorted(memo_out))}")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BrokenPipeError:  # piped into head — not an error
        sys.exit(0)
