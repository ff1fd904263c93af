"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The run generates its inputs
from ``--seed``, starts Spark on ``local[<cores>]``, sets up its
fixtures, runs one untimed warm-up round, then drives the workload
closed loop (one client; the next op starts when the previous one
returns) for whole rounds until ``--seconds`` have passed, checks every
output, and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` rounds alternate untraced and traced and the metrics are
the per-layer ones, including the tracing overhead. Lines before the
last give the same figures with units, tail percentiles, the core
count and the seed. Each run also writes its result and (traced) its
spans under ``.perfbench/out/``. Everything the run writes stays inside
the checkout; its work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Per-layer metrics a traced run reports, on every workload; a layer a
# workload does not exercise reads 0. Times and counts are per traced
# round. BENCHMARK.json lists the same names.
SPANS = {  # metric -> span name
    "plans.build_s": "plans.build",
    "sources.build_s": "sources.build",
    "sources.metadata_s": "sources.metadata",
    "functions.build_s": "functions.build",
    "operators.build_s": "operators.build",
    "pipeline.run_s": "pipeline.run",
    "jobs.ingest_kafka_batch_s": "jobs.ingest_kafka_batch",
    "jobs.purge_lake_s": "jobs.purge_lake",
    "jobs.replicate_s": "jobs.replicate",
    "jobs.maintain_s": "jobs.maintain",
    "sinks.write_staging_s": "sinks.write_staging",
    "sinks.publish_s": "sinks.publish",
    "sinks.read_committed_s": "sinks.read_committed",
    "sinks.merge_s": "sinks.merge",
    "sinks.delete_s": "sinks.delete",
    "sinks.upsert_s": "sinks.upsert",
    "sinks.compact_s": "sinks.compact",
    "sinks.vacuum_s": "sinks.vacuum",
    "commit.publish_s": "commit.publish",
}
SELF_TIMED = ("pipeline.run_s", "jobs.ingest_kafka_batch_s", "jobs.purge_lake_s",
              "jobs.replicate_s", "jobs.maintain_s")
NAMED_QUERIES = ("q99", "q31", "q118")
PER_LAYER = (
    [(m, "s") for m in SPANS]
    + [(m.replace("_s", "_self_s"), "s") for m in SELF_TIMED]
    + [("plans.py4j_calls", "count")]
    + [(f"plans.build_s.{q}", "s") for q in NAMED_QUERIES]
    + [(f"plans.py4j_calls.{q}", "count") for q in NAMED_QUERIES]
    + [("sinks.read_committed_growth", "ratio"), ("sinks.files_written", "count"),
       ("sinks.bytes_written", "bytes"), ("sinks.write_amp", "ratio"),
       ("sinks.live_files", "count"), ("commit.publishes", "count"),
       ("commit.conflicts", "count"), ("session.start_s", "s"),
       ("session.warmup_s", "s"), ("session.exec_s", "s"), ("session.tasks", "count"),
       ("session.stages", "count"), ("session.executor_run_s", "s"),
       ("session.busy_ratio", "ratio"), ("session.shuffle_write_bytes", "bytes"),
       ("session.input_bytes", "bytes"), ("session.spill_bytes", "bytes"),
       ("trace.overhead", "ratio")]
)


def workload_class(name: str):
    if name == "query_mix":
        from query_mix import QueryMix
        return QueryMix
    from ingest_lifecycle import IngestLifecycle
    return IngestLifecycle


def per_layer(bench, wl) -> dict[str, tuple[float, str]]:
    tr = bench.tracer
    traced = [r for r in bench.rounds if r.traced]
    plain = [r for r in bench.rounds if not r.traced]
    n = len(traced)
    totals = tr.totals()
    got: dict[str, float] = {}
    for metric, span in SPANS.items():
        incl, own = totals.get(span, (0.0, 0.0))
        got[metric] = incl / n
        if metric in SELF_TIMED:
            got[metric.replace("_s", "_self_s")] = own / n
    got["plans.py4j_calls"] = sum(s.py4j for s in tr.spans if s.name == "plans.build") / n
    got["sinks.files_written"] = sum(r.files_written for r in traced) / n
    got["sinks.bytes_written"] = sum(r.bytes_written for r in traced) / n
    got["commit.publishes"] = tr.links / n
    got["commit.conflicts"] = tr.link_conflicts / n
    got["session.start_s"] = bench.phases["session.start_s"]
    got["session.warmup_s"] = bench.phases["session.warmup_s"]
    got.update(bench.stage_metrics())
    got.update(wl.layer_metrics())
    got["trace.overhead"] = (sum(r.wall for r in traced) / n) / (
        sum(r.wall for r in plain) / len(plain))
    return {name: (got.get(name, 0.0), unit) for name, unit in PER_LAYER}


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import incubator_gobblin_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    from harness import Bench

    base = os.path.join(ROOT, ".perfbench")
    for stale in glob.glob(os.path.join(base, "work-*")):  # from killed runs
        shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(base, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file the program, Spark and its workers make stays here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    wl = workload_class(args.workload)(bench)
    try:
        bench.start_session()
        for owner, attr, name in wl.wraps():
            bench.tracer.wrap(owner, attr, name)
        if args.trace:
            bench.tracer.count_py4j()
            bench.tracer.count_links()
        wl.setup()
        t0 = time.perf_counter()
        wl.warm()  # one untimed round: class loading, codegen and JIT
        bench.phases["session.warmup_s"] = time.perf_counter() - t0
        bench.measure(wl.round, wl.reset)
        if not bench.failures:
            wl.check()
        if args.trace:
            missing = bench.tracer.uncovered()
            if missing:
                bench.fail(f"wrapped functions never called while tracing: {missing}")
            if not bench.tracer.nesting_ok():
                bench.fail("spans do not nest")
        if bench.failures:
            for f in bench.failures:
                print(f"perfbench: FAILED {f}", file=sys.stderr)
        e2e, notes = bench.end_to_end()
        metrics = per_layer(bench, wl) if args.trace else e2e
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            bench.tracer.restore()
            bench.stop_session()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    attempted = len(bench.ops())
    failed = bench.failed_ops()
    result = {
        "correct": not bench.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        bench.tracer.dump(os.path.join(out_dir, stem + ".spans.jsonl"))
    record = {
        **result, "workload": args.workload, "seed": args.seed, "cpus": bench.cpus,
        "seconds": args.seconds, "trace": args.trace, "rounds": len(bench.rounds),
        "phases": bench.phases, "notes": notes,
        "ops": [[o.round, o.kind, o.name, o.secs, o.ok] for o in bench.ops()],
        "failed_ops_ratio": failed / max(1, attempted),
    }
    with open(os.path.join(out_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(f"perfbench {args.workload} seed={args.seed} cpus={bench.cpus} "
          f"rounds={len(bench.rounds)} failed_ops_ratio={failed}/{attempted}")
    for k, (v, u) in metrics.items():
        print(f"  {k:36s} {v:14.6g} {u:6s} {notes.get(k, '')}")
    print(json.dumps(result))
    return 0


def _terminate(signum, frame):
    # unwind through run()'s finally, which stops the JVM and its workers
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "ingest_lifecycle"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
