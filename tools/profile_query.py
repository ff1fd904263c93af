#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

Usage:
    python tools/profile_query.py [--explain-dir plans/r13 --suffix before]
        [--runs 3] [--noop] q145_delta_merge_agg q106_curation_pipeline ...

For each named query: builds the same session as bench.py, warms up
once with ``bench.warmup``, then times N runs with the bench's
``count()`` action (so numbers are comparable to BENCH_*) and, with
``--noop``, N runs with the noop sink (guide §1.4 — forces every
column, isolates computation from the count's column pruning). With ``--explain-dir`` the query's
``explain("formatted")`` output is written to
``<dir>/<name>_<suffix>.txt`` (the judge-facing plan record).

Plan-shape summary (Exchange count, join strategies, Python eval nodes,
PushedFilters) is printed per query so regressions are visible without
reading the full plan.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import warmup  # noqa: E402
from incubator_gobblin_spark.plans import queries as Q  # noqa: E402
from incubator_gobblin_spark.session import get_spark  # noqa: E402


def plan_summary(plan: str) -> str:
    counts = {}
    for pat, label in [
        (r"\bExchange\b", "Exchange"),
        (r"\bBroadcastExchange\b", "BroadcastExchange"),
        (r"\bSortMergeJoin\b", "SortMergeJoin"),
        (r"\bBroadcastHashJoin\b", "BroadcastHashJoin"),
        (r"\bShuffledHashJoin\b", "ShuffledHashJoin"),
        (r"\bBroadcastNestedLoopJoin\b", "BNLJoin"),
        (r"\bCartesianProduct\b", "CartesianProduct"),
        (r"\bBatchEvalPython\b", "BatchEvalPython"),
        (r"\bArrowEvalPython\b", "ArrowEvalPython"),
        (r"\bMapInPandas\b", "MapInPandas"),
        (r"\bPythonMapInArrow\b", "MapInArrow"),
        (r"\bFlatMapGroupsInPandas\b", "FlatMapGroupsInPandas"),
        (r"\bWholeStageCodegen\b", "WSCodegen"),
        (r"Scan parquet", "ParquetScan"),
        (r"\bUnion\b", "Union"),
        (r"\bWindow\b", "Window"),
        (r"\bSort\b", "Sort"),
    ]:
        n = len(re.findall(pat, plan))
        if n:
            counts[label] = n
    return ", ".join(f"{k}={v}" for k, v in counts.items())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="profile-query",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )

    warmup(spark, args.sf_dir)

    registry = Q.queries()
    for name in args.names:
        fn = registry[name]
        spark.sparkContext.setJobDescription(name)
        times = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).count()
            times.append(time.perf_counter() - t0)
        line = f"{name}: count " + " ".join(f"{t:.3f}" for t in times)
        if args.noop:
            ntimes = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                fn(spark, args.sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                ntimes.append(time.perf_counter() - t0)
            line += " | noop " + " ".join(f"{t:.3f}" for t in ntimes)
        df = fn(spark, args.sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        line += " | " + plan_summary(plan)
        print(line, flush=True)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            out = os.path.join(
                args.explain_dir, f"{name}_{args.suffix}.txt"
            )
            with open(out, "w") as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
