"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [workload ...]

For each workload, runs one untraced and one traced run at the minimum
window and checks that: the last output line is the result object with
exactly the contracted keys; the run is correct with no failed op; it
prints every metric BENCHMARK.json names, with its unit, and every
end-to-end value is positive; the result record carries the core
count and the seed; the traced run's spans nest. Then checks that in a
directory holding only the benchmark, a run fails without a result.
Takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 5


def run(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    errors = []
    rc, lines = run(ROOT, workload, trace)
    if rc != 0 or not lines:
        return [f"{workload} trace={trace}: exit {rc}"]
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"correct={result['correct']} failed={result['failed']}")
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in wanted}:
        errors.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            continue
        if v["unit"] != m["unit"]:
            errors.append(f"{m['name']}: unit {v['unit']} != {m['unit']}")
        if not trace and not v["value"] > 0:
            errors.append(f"{m['name']}: value {v['value']} is not positive")
    stem = os.path.join(ROOT, ".perfbench", "out", f"{workload}-seed{SEED}-trace{trace}")
    with open(stem + ".json") as fh:
        record = json.load(fh)
    if record.get("cpus", 0) < 1 or record.get("seed") != SEED:
        errors.append("result record lacks cpus or seed")
    if trace:
        with open(stem + ".spans.jsonl") as fh:
            spans = [json.loads(line) for line in fh]
        if not spans:
            errors.append("no spans recorded")
        for s in spans:
            if s["parent"] is not None:
                p = spans[s["parent"]]
                if s["start"] < p["start"] or s["end"] > p["end"]:
                    errors.append(f"span {s['id']} {s['name']} escapes its parent")
                    break
    return [f"{workload} trace={trace}: {e}" for e in errors]


def check_bare_directory() -> list[str]:
    """Without the program next to it, the benchmark must fail fast and
    print no result."""
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, lines = run(bare, "query_mix", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any(line.startswith("{") for line in lines):
        return [f"bare directory: exit {rc}, printed {lines[-1:]}"]
    return []


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    errors = check_bare_directory()
    for workload in workloads:
        for trace in (0, 1):
            errors += check_run(spec, workload, trace)
    for e in errors:
        print(f"FAIL {e}")
    print("smoke: ok" if not errors else f"smoke: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
