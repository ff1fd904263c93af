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
for seeds ``--first-seed``..``--first-seed``+<seeds>-1 (start past the
seeds a change was tuned on to test a claim on fresh ones),
alternating which tree runs first, and writes both sides' result
records plus the per-metric medians of ``perfbench/compare.py``. For
each end-to-end metric of ``BENCHMARK.json`` it prints both sides'
quartiles, how many pairs B won, and B's median gain against A's
interquartile range — a claimed gain must win nearly every pair and
gain more than that range. Per-op medians follow.
"""

import argparse
import json
import os
import statistics
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


def perfbench_ab(
    workload: str, tree_a: str, tree_b: str, seeds: int, first_seed: int = 1
) -> dict:
    recs = {"A": [], "B": []}
    trees = {"A": tree_a, "B": tree_b}
    for i, seed in enumerate(range(first_seed, first_seed + seeds)):
        # the side that runs first alternates, so neither always runs
        # on the warmer host
        for side in ("B", "A") if i % 2 else ("A", "B"):
            print(f"seed {seed} ({i + 1}/{seeds}): {side}", file=sys.stderr, flush=True)
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
        "seeds": list(range(first_seed, first_seed + seeds)),
        "medians": medians,
        "acceptance": acceptance(recs_a, recs_b),
        "op_medians": op_medians(recs_a, recs_b),
        "a_records": recs_a,
        "b_records": recs_b,
    }


def _quartiles(vals: list[float]) -> list[float]:
    if len(vals) < 2:
        return [vals[0]] * 3
    return statistics.quantiles(vals, n=4, method="inclusive")


def acceptance(recs_a: list[dict], recs_b: list[dict]) -> dict:
    """Per end-to-end metric of ``BENCHMARK.json``: each side's
    quartiles, the pairs B won, and B's median gain
    (positive = better) against A's interquartile range."""
    bench = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
    )
    with open(bench) as fh:
        metrics = json.load(fh)["end_to_end"]
    out = {}
    for m in metrics:
        name, sign = m["name"], (1 if m["better"] == "lower" else -1)
        if name not in recs_a[0]["metrics"]:
            continue
        a = [r["metrics"][name]["value"] for r in recs_a]
        b = [r["metrics"][name]["value"] for r in recs_b]
        qa, qb = _quartiles(a), _quartiles(b)
        gain = sign * (qa[1] - qb[1])
        out[name] = {
            "a_quartiles": qa,
            "b_quartiles": qb,
            "b_wins": sum(sign * (x - y) > 0 for x, y in zip(a, b)),
            "pairs": len(a),
            "median_gain": gain,
            "a_iqr": qa[2] - qa[0],
            "gain_beats_iqr": gain > qa[2] - qa[0],
        }
    return out


def op_medians(recs_a: list[dict], recs_b: list[dict]) -> dict:
    """Median latency of each op name over every record of a side."""
    def by_name(recs):
        ops: dict[str, list[float]] = {}
        for r in recs:
            for _rnd, _kind, name, secs, _ok in r["ops"]:
                ops.setdefault(name, []).append(secs)
        return {k: statistics.median(v) for k, v in ops.items()}

    a, b = by_name(recs_a), by_name(recs_b)
    return {k: {"a": a.get(k), "b": b.get(k)} for k in sorted(set(a) | set(b))}


def print_perfbench(out: dict) -> None:
    print(f"{'metric':14s} {'A q1/q2/q3':>26s} {'B q1/q2/q3':>26s} "
          f"{'B wins':>7s} {'gain':>10s} {'A IQR':>10s}")
    for name, r in out["acceptance"].items():
        qa = "/".join(f"{v:.4g}" for v in r["a_quartiles"])
        qb = "/".join(f"{v:.4g}" for v in r["b_quartiles"])
        print(f"{name:14s} {qa:>26s} {qb:>26s} {r['b_wins']:>3d}/{r['pairs']:<3d} "
              f"{r['median_gain']:10.4g} {r['a_iqr']:10.4g}"
              f"{'  > IQR' if r['gain_beats_iqr'] else ''}")
    print(f"{'op':24s} {'A median s':>11s} {'B median s':>11s}")
    for name, r in out["op_medians"].items():
        cells = [f"{v:11.4f}" if v is not None else f"{'-':>11s}" for v in (r["a"], r["b"])]
        print(f"{name:24s} {cells[0]} {cells[1]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--perfbench", metavar="WORKLOAD",
                    help="A/B perfbench/run.py on WORKLOAD instead of bench.py")
    ap.add_argument("--first-seed", type=int, default=1,
                    help="perfbench: the first seed of the run (default 1)")
    ap.add_argument("tree_a")
    ap.add_argument("tree_b")
    ap.add_argument("pairs", type=int, help="A,B pairs (perfbench: that many seeds)")
    ap.add_argument("out")
    args = ap.parse_args()
    if args.perfbench:
        out = perfbench_ab(
            args.perfbench, args.tree_a, args.tree_b, args.pairs, args.first_seed
        )
        print_perfbench(out)
        summary = {k: v["ratio"] for k, v in out["medians"].items()}
    else:
        out = bench_ab(args.tree_a, args.tree_b, args.pairs)
        summary = {"ratio_min": out["interleaved_ratio_min"]}
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
