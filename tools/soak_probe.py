"""10x scale probe: wall-clock ratios sf0.01 -> sf0.1 for the queries
this round added or restructured. A ratio well above ~10x flags a
super-linear shape (candidate-pair explosion, driver-side loop);
~<=10x means the plan's cost tracks the data. Prints ONE JSON line.

Usage: python tools/soak_probe.py [qname ...]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.plans import queries as Q  # noqa: E402
from incubator_gobblin_spark.session import get_spark  # noqa: E402

DEFAULT = [
    "q128_iceberg_posdelete_agg",
    "q129_rest_http_ingest_agg",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="soak-probe", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = Q.queries()
    out = {}
    for name in names:
        t = {}
        for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
            qs[name](spark, sf).collect()  # warm caches/JIT once
            t0 = time.time()
            qs[name](spark, sf).collect()
            t[sf.rsplit("/", 1)[-1]] = round(time.time() - t0, 3)
        out[name] = {
            **t,
            "ratio_10x_data": round(t["sf0.1"] / max(t["sf0.01"], 1e-9), 2),
        }
    print(json.dumps({"metric": "soak_probe_10x", "queries": out}))


if __name__ == "__main__":
    main()
