"""BPE trainer bench: auto-degraded vs batched-distributed vs the
sequential reference — jobs-per-merge AND wall-time at equal merges.

Prints ONE JSON line. Three trainers over the same 500-doc sample:

- ``auto``: the production default — the distinct-word table fits the
  driver, so bpe_train collects it once and runs the reference loop in
  plain Python (2 Spark jobs total). This is the small-corpus path; it
  exists precisely because the round machinery below is an
  AMORTIZATION, and tiny inputs have nothing to amortize.
- ``batched_distributed``: the scale path, forced via
  ``driver_local_max_words=0`` — one job per ROUND (top-m collect +
  folded merges), measured at 64 merges. Its jobs-per-merge is the
  100 TB-relevant metric: each round is a corpus pass.
- ``sequential_reference``: one argmax collect + one cached frame PER
  MERGE, measured at 8 merges — at 64 it OOMs a default-heap driver
  (64 chained cached frames), which is the scale-killer the batched
  trainer removes.

Honest wall-time framing: on THIS tiny sample the distributed batched
trainer's wall-time per merge is WORSE than the sequential loop's —
per-round fixed costs dominate 500 docs — which is why ``auto`` is the
default: it is both the fastest here AND byte-identical. The batched
path wins when the pair table no longer fits a driver.

Merge-list equality across all three is asserted here and pinned by
tests/test_corpus.py.

Usage: python tools/bench_bpe.py  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.functions import corpus as C
from incubator_gobblin_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SAMPLE_DOCS = 500
MERGES = 64
SEQUENTIAL_MERGES = 8


def main() -> None:
    spark = get_spark(
        app_name="bench-bpe",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
        extra_conf={"spark.driver.memory": "8g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .limit(SAMPLE_DOCS)
        .cache()
    )
    docs.count()

    def measure(group, fn):
        sc.setJobGroup(group, group)
        t0 = time.time()
        out = fn()
        sec = time.time() - t0
        sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(group)), sec

    auto, auto_jobs, auto_sec = measure(
        "bpe-auto", lambda: C.bpe_train(docs, "text", MERGES)
    )
    bat, bat_jobs, bat_sec = measure(
        "bpe-batched",
        lambda: C.bpe_train(docs, "text", MERGES, driver_local_max_words=0),
    )
    seq, seq_jobs, seq_sec = measure(
        "bpe-sequential",
        lambda: C.bpe_train_sequential(docs, "text", SEQUENTIAL_MERGES),
    )
    assert auto == bat, "auto/local vs distributed merge lists diverged"
    assert bat[: len(seq)] == seq, "merge lists diverged — batching bug"
    bat_jpm = bat_jobs / len(bat)
    seq_jpm = seq_jobs / len(seq)
    print(
        json.dumps(
            {
                "metric": "bpe_jobs_per_merge_ratio",
                "value": round(seq_jpm / bat_jpm, 2),
                "unit": "x_fewer_jobs",
                "sf": SF_DIR,
                "sample_docs": SAMPLE_DOCS,
                "auto": {
                    "merges": len(auto),
                    "jobs": auto_jobs,
                    "sec": round(auto_sec, 2),
                    "note": (
                        "production default: word table fits the driver "
                        "-> collected once, reference loop in Python; "
                        "fastest at this scale AND byte-identical"
                    ),
                },
                "batched_distributed": {
                    "merges": len(bat),
                    "jobs": bat_jobs,
                    "jobs_per_merge": round(bat_jpm, 3),
                    "sec": round(bat_sec, 1),
                    "note": (
                        "forced scale path; wall-time/merge is WORSE "
                        "than sequential on 500 docs (per-round fixed "
                        "costs dominate) — its win is jobs-per-merge, "
                        "which is what matters when each round is a "
                        "corpus pass"
                    ),
                },
                "sequential_reference": {
                    "merges": len(seq),
                    "jobs": seq_jobs,
                    "jobs_per_merge": round(seq_jpm, 3),
                    "sec": round(seq_sec, 1),
                    "note": (
                        "measured at 8 merges; at 64 it OOMs a "
                        "default-heap driver (64 chained cached frames)"
                    ),
                },
                "walltime_equal_merges": {
                    "merges": MERGES,
                    "auto_sec": round(auto_sec, 2),
                    "sequential_sec_extrapolated": round(
                        seq_sec * MERGES / max(len(seq), 1), 1
                    ),
                    "auto_beats_sequential": bool(
                        auto_sec < seq_sec * MERGES / max(len(seq), 1)
                    ),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
