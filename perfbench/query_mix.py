"""``query_mix``: headline queries plus the copy-on-write MERGE write.

One op builds one registered query and runs ``count()`` on it; its
latency is build plus count, and the build is the plan layer's span.
Each round is a seeded permutation of the query list plus
``MERGES`` runs of ``FileSink.merge_into`` on a manifest lake of
``orders``, reset to its base snapshot before every round. Lake
fixtures the queries read are written during set-up, by the code
under test, into this run's own work directory.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import duckdb
import pandas as pd

import gen
from harness import dir_bytes

# A subset of bench.py's HEADLINE list sized to the run budget: three
# plan-build-heavy queries the roadmap targets, and a majority of cheap
# scan, join, window, text and manifest-lake queries, so the median
# read sits among similar samples and the heavy builds set the tail.
QUERIES = [
    "q01_pricing_summary",        # scan + 8-agg hash aggregation
    "q05_purge_anti_join",        # broadcast left-anti purge
    "q13_running_total",          # running window frame
    "q18_union",                  # set op
    "q21_explode_tokens",         # 1:N explode + agg
    "q88_manifest_snapshot_agg",  # manifest-lake pruned read
    "q109_duplicated_spans",      # exact-substring dedup
    "q31_minhash_candidates",     # minhash LSH fuzzy dedup
    "q99_pq_topk",                # PQ ADC scan, heaviest py4j build
    "q118_cms_heavy_hitters",     # count-min sketch
]
FIXTURED = ["q88_manifest_snapshot_agg"]  # queries that read a lake fixture
# queries whose plan build is also reported on its own
NAMED = ["q99_pq_topk", "q31_minhash_candidates", "q118_cms_heavy_hitters"]
MERGES = 2
SF = 0.01


def _short(q: str) -> str:
    return q.split("_", 1)[0]


class QueryMix:
    name = "query_mix"

    def __init__(self, bench):
        self.b = bench
        self.sf_dir = os.path.join(bench.work, "sf")
        self.lake = os.path.join(bench.work, "merge_lake")
        self.counts: dict[str, set[int]] = {q: set() for q in QUERIES}

    def wraps(self):
        from incubator_gobblin_spark import session
        from incubator_gobblin_spark.functions import (
            dedup_fuzzy, similarity, sketches, text,
        )
        from incubator_gobblin_spark.operators import joins
        from incubator_gobblin_spark.sinks.files import FileSink

        return [
            (session, "load_table", "sources.build"),
            (dedup_fuzzy, "minhash_candidate_pairs", "functions.build"),
            (similarity, "pq_topk", "functions.build"),
            (sketches, "cms_heavy_hitters", "functions.build"),
            (text, "tokens", "functions.build"),
            (joins, "purge_anti_join", "operators.build"),
            (FileSink, "read_committed", "sinks.read_committed"),
            (FileSink, "merge_into", "sinks.merge"),
        ]

    # ---- set-up ------------------------------------------------------------
    def setup(self) -> None:
        b = self.b
        t0 = time.perf_counter()
        gen.write(self.sf_dir, b.seed, SF)
        b.phases["inputs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        from incubator_gobblin_spark.plans import queries as Q

        # lake fixtures go to this run's work dir, never a shared cache, so
        # the lakes the queries read were written by the code under test
        cache_root = os.path.join(b.work, "lake-cache")
        keyed = Q._cache_dir
        Q._cache_dir = lambda kind, sf, table: os.path.join(
            cache_root, os.path.relpath(keyed(kind, sf, table), "/")
        )
        self.registry = Q.queries()
        self.oracles = Q.oracle_sql()
        for q in FIXTURED:  # building writes the query's lake fixture
            self.registry[q](b.spark, self.sf_dir)
        self._setup_merge_lake()
        b.watch(self.lake)
        b.phases["fixtures_s"] = time.perf_counter() - t0

    def _setup_merge_lake(self) -> None:
        from pyspark.sql import functions as F

        from incubator_gobblin_spark.session import load_table
        from incubator_gobblin_spark.sinks.files import FileSink

        spark = self.b.spark
        self.sink = FileSink(
            path=self.lake, commit_mode="manifest",
            cluster_by=["o_orderkey"], max_records_per_file=2_500,
        )
        orders = load_table(spark, self.sf_dir, "orders")
        self.sink.write_staging(orders, "base")
        self.sink.publish("base")
        self.base = self.lake + ".base"
        shutil.copytree(self.lake, self.base)
        n_orders = orders.count()
        self.cut = n_orders // 20  # keys below the cut are updated
        self.src = orders.filter(F.col("o_orderkey") < self.cut).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1.0
        )
        self.merge_rows = self.src.count()
        path = os.path.join(self.b.work, "live_orders.parquet")
        self.expected().to_parquet(path, index=False)
        self.live_bytes = os.path.getsize(path)

    def warm(self) -> None:
        self.round(-1)
        self.reset(-1)

    # ---- rounds ------------------------------------------------------------
    def reset(self, i: int) -> None:
        shutil.rmtree(self.lake)
        shutil.copytree(self.base, self.lake)

    def round(self, i: int) -> None:
        b = self.b
        ops = QUERIES + [f"merge{k}" for k in range(MERGES)]
        random.Random(b.seed * 1_000_003 + i).shuffle(ops)
        for name in ops:
            if name.startswith("merge"):
                with b.op("write", "merge_into") as o:
                    self.sink.merge_into(
                        b.spark, self.src, on=["o_orderkey"], run_id=f"r{i}{name}"
                    )
                o.rows = self.merge_rows
                continue
            fn = self.registry[name]
            with b.op("read", name) as o:
                with b.tracer.span("plans.build"):
                    df = fn(b.spark, self.sf_dir)
                n = df.count()
            o.rows = n
            self.counts[name].add(n)
        b.set_storage_amp(dir_bytes(self.lake) / self.live_bytes)

    def expected(self) -> pd.DataFrame:
        con = duckdb.connect()
        df = con.sql(
            f"SELECT * REPLACE (CASE WHEN o_orderkey < {self.cut} "
            "THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice) "
            f"FROM '{self.sf_dir}/orders.parquet'"
        ).df()
        con.close()
        return df

    # ---- checks ------------------------------------------------------------
    def check(self) -> None:
        """Every recorded count equals DuckDB's count of the oracle SQL; the
        merged lake equals the DuckDB replay. A traced run also compares
        every query's full result values."""
        b = self.b
        con = duckdb.connect()
        for t in gen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        for q in QUERIES:
            want = con.sql(f"SELECT count(*) FROM ({self.oracles[q]})").fetchone()[0]
            if self.counts[q] - {want}:
                self._fail_ops(q, f"{q}: counts {sorted(self.counts[q])} != oracle {want}")
            if b.trace:
                ok, why = compare(self.registry[q](b.spark, self.sf_dir), con, self.oracles[q])
                if not ok:
                    self._fail_ops(q, f"{q}: values differ from oracle: {why}")
        con.close()
        got = self.sink.read_committed(b.spark).toPandas()
        ok, why = same_rows(got, self.expected())
        if not ok:
            self._fail_ops("merge_into", f"merge lake differs from replay: {why}")

    def _fail_ops(self, name: str, why: str) -> None:
        for o in self.b.ops():
            if o.name == name:
                o.ok = False
        self.b.fail(why)

    # ---- per-layer -----------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        builds = [s for s in self.b.tracer.spans if s.name == "plans.build"]
        out = {}
        for q in NAMED:
            mine = [s for s in builds if s.op and s.op.endswith("." + q)]
            calls = {s.py4j for s in mine}
            if len(calls) > 1:
                self.b.fail(f"{q}: py4j calls per build differ across builds: {calls}")
            out[f"plans.build_s.{_short(q)}"] = statistics.median(s.end - s.start for s in mine)
            out[f"plans.py4j_calls.{_short(q)}"] = max(calls)
        row_bytes = self.live_bytes / len(self.expected())
        out["sinks.write_amp"] = (
            sum(r.bytes_written for r in self.b.rounds if r.traced)
            / sum(r.traced for r in self.b.rounds)
            / (MERGES * self.merge_rows * row_bytes)
        )
        out["sinks.live_files"] = len(self.sink.read_committed(self.b.spark).inputFiles())
        return out


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif str(out[c].dtype).startswith("datetime64"):
            out[c] = out[c].astype("datetime64[us]")
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def same_rows(actual: pd.DataFrame, expected: pd.DataFrame) -> tuple[bool, str]:
    a, e = normalize(actual), normalize(expected)
    if list(a.columns) != list(e.columns):
        return False, f"columns {list(a.columns)} != {list(e.columns)}"
    if len(a) != len(e):
        return False, f"{len(a)} rows != {len(e)}"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=True)
    except AssertionError as err:
        return False, str(err)[:500]
    return True, "ok"


def compare(spark_df, con, sql: str) -> tuple[bool, str]:
    """Full-value comparison of a Spark result with DuckDB's, the same
    normalisation the repository's oracle tests use."""
    actual, expected = spark_df.toPandas(), con.sql(sql).df()
    for c in set(actual.columns) & set(expected.columns):
        kinds = {actual[c].dtype.kind, expected[c].dtype.kind}
        if kinds in ({"i", "f"}, {"u", "f"}):
            return False, f"dtype kind differs on {c!r}"
    return same_rows(actual, expected)
