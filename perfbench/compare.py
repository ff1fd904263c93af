"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each file is a result record that ``run.py`` writes under
``.perfbench/out/``. Records of one side must share workload and trace
mode. The comparison is refused when the two sides ran on different
core counts: timings from different core counts are not comparable.
For each metric the medians of both sides are printed with their ratio.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def key(rec: dict) -> tuple:
    return rec["workload"], rec["trace"], rec["cpus"]


def compare(base: list[dict], new: list[dict]) -> list[tuple[str, float, float]]:
    """Per-metric medians of both sides; raises ValueError when the
    records do not describe the same workload on the same core count."""
    keys = {key(r) for r in base} | {key(r) for r in new}
    if len({k[2] for k in keys}) > 1:
        raise ValueError(f"refusing to compare results from different core counts: "
                         f"{sorted({k[2] for k in keys})}")
    if len(keys) > 1:
        raise ValueError(f"records mix workloads or trace modes: {sorted(keys)}")
    rows = []
    for name in base[0]["metrics"]:
        b = statistics.median(r["metrics"][name]["value"] for r in base)
        n = statistics.median(r["metrics"][name]["value"] for r in new)
        rows.append((name, b, n))
    return rows


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    try:
        rows = compare(load(argv[:cut]), load(argv[cut + 1:]))
    except ValueError as e:
        print(f"compare: {e}", file=sys.stderr)
        return 1
    for name, b, n in rows:
        ratio = n / b if b else float("nan")
        print(f"{name:36s} {b:14.6g} {n:14.6g} {ratio:8.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
