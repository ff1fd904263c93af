#!/usr/bin/env python
"""Interleaved same-host A/B between two committed trees: alternate an
A run and a B run per pair on a quiet host, so host drift hits both
sides alike.

Usage:
  python tools/ab_bench.py <treeA> <treeB> <pairs> <out.json>
  python tools/ab_bench.py --perfbench WORKLOAD <treeA> <treeB> <seeds> <out.json>

Default mode runs each tree's bench.py, compares SHARED-query
subtotals and reports per-query min-deltas; runs use the same
$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS contract as the driver.

``--perfbench`` runs each tree's
``perfbench/run.py --workload WORKLOAD --seed i --seconds 1 --trace 0``
for seeds 1..<seeds>, alternating which tree runs first, and writes
both sides' result records plus the per-metric medians of
``perfbench/compare.py``.
"""

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.compare import compare  # noqa: E402


def run_bench(tree: str) -> dict:
    p = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=tree,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = [
        ln for ln in p.stdout.splitlines() if ln.startswith("{")
    ][-1]
    return json.loads(line)


def run_perfbench(tree: str, workload: str, seed: int) -> dict:
    """One untraced perfbench run of ``tree``; returns the record it
    wrote under ``<tree>/.perfbench/out/``."""
    subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=tree,
        check=True,
        timeout=3600,
    )
    out = os.path.join(tree, ".perfbench", "out", f"{workload}-seed{seed}-trace0.json")
    with open(out) as fh:
        return json.load(fh)


def bench_ab(tree_a: str, tree_b: str, pairs: int) -> dict:
    runs_a, runs_b = [], []
    for i in range(pairs):
        print(f"pair {i + 1}/{pairs}: A", file=sys.stderr, flush=True)
        runs_a.append(run_bench(tree_a))
        print(f"pair {i + 1}/{pairs}: B", file=sys.stderr, flush=True)
        runs_b.append(run_bench(tree_b))
    shared = sorted(
        set(runs_a[0]["queries"]) & set(runs_b[0]["queries"])
    )
    sub_a = [
        round(sum(r["queries"][q] for q in shared), 3) for r in runs_a
    ]
    sub_b = [
        round(sum(r["queries"][q] for q in shared), 3) for r in runs_b
    ]
    per_query = {}
    for q in shared:
        a_min = min(r["queries"][q] for r in runs_a)
        b_min = min(r["queries"][q] for r in runs_b)
        per_query[q] = {
            "a_min": round(a_min, 3),
            "b_min": round(b_min, 3),
            "ratio_min": round(b_min / a_min, 3) if a_min else None,
        }
    return {
        "metric": "bench_ab_interleaved",
        "tree_a": tree_a,
        "tree_b": tree_b,
        "pairs": pairs,
        "shared_queries": len(shared),
        "a_shared_subtotals": sub_a,
        "b_shared_subtotals": sub_b,
        "interleaved_ratio_min": round(min(sub_b) / min(sub_a), 3),
        "per_query_min": per_query,
    }


def perfbench_ab(workload: str, tree_a: str, tree_b: str, seeds: int) -> dict:
    recs = {"A": [], "B": []}
    trees = {"A": tree_a, "B": tree_b}
    for seed in range(1, seeds + 1):
        # the side that runs first alternates, so neither always runs
        # on the warmer host
        for side in ("A", "B") if seed % 2 else ("B", "A"):
            print(f"seed {seed}/{seeds}: {side}", file=sys.stderr, flush=True)
            recs[side].append(run_perfbench(trees[side], workload, seed))
    recs_a, recs_b = recs["A"], recs["B"]
    medians = {
        name: {"a": a, "b": b, "ratio": round(b / a, 3) if a else None}
        for name, a, b in compare(recs_a, recs_b)
    }
    return {
        "metric": "perfbench_ab_interleaved",
        "workload": workload,
        "tree_a": tree_a,
        "tree_b": tree_b,
        "seeds": seeds,
        "medians": medians,
        "a_records": recs_a,
        "b_records": recs_b,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="A/B perfbench/run.py on WORKLOAD instead of bench.py")
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("pairs", type=int, help="A,B pairs (perfbench: seeds 1..N)")
    ap.add_argument("out")
    args = ap.parse_args()
    if args.perfbench:
        out = perfbench_ab(args.perfbench, args.tree_a, args.tree_b, args.pairs)
        summary = {k: v["ratio"] for k, v in out["medians"].items()}
    else:
        out = bench_ab(args.tree_a, args.tree_b, args.pairs)
        summary = {"ratio_min": out["interleaved_ratio_min"]}
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
