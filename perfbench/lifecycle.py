"""Lifecycle stage: CDC merge, GDPR purge, replication and maintenance.

Set-up writes ``events`` as a change-data-feed-enabled Delta table and
replicates it to Iceberg. A round starts from that pair and runs
``CYCLES`` cycles of ``merge_delta_rows`` (seeded updates and inserts),
``purge_lake`` (seeded user ids) and ``replicate_delta_to_iceberg``,
then ``maintain_lake_table`` on both tables. The purge and the
replication are each followed by a read of the table they wrote
(``read_delta`` / ``read_iceberg``), so cost a writer shifts onto
readers shows. Every read's count must equal
the DuckDB replay of the seeded merge and purge log, and the final
Delta and Iceberg states must equal the replay row for row.
"""

from __future__ import annotations

import os
import shutil
import time

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import dir_bytes
from query_mix import same_rows

CYCLES = 1
SF = 0.01
MERGE_UPDATES = 200
MERGE_INSERTS = 100
PURGED_USERS = 2
KEY = "event_id"


class Lifecycle:
    """The lifecycle stage of the ``ingest_lifecycle`` workload."""

    def __init__(self, bench):
        self.b = bench
        w = bench.work
        self.delta = os.path.join(w, "delta")
        self.ice = os.path.join(w, "iceberg")
        self.expected_counts: list[int] = []  # replay count after each cycle

    def wraps(self):
        from incubator_gobblin_spark.jobs import lake_maintenance, purge, replicate
        from incubator_gobblin_spark.sinks import (
            delta_delete, delta_maintenance, iceberg_export, iceberg_maintenance,
        )
        from incubator_gobblin_spark.sources import (
            delta_cdf, delta_import, iceberg_import,
        )

        return [
            (delta_import, "read_delta", "sources.build"),
            (iceberg_import, "read_iceberg", "sources.build"),
            (delta_cdf, "read_delta_changes", "sources.build"),
            (iceberg_import, "current_metadata", "sources.metadata"),
            (iceberg_import, "snapshot_files", "sources.metadata"),
            (delta_import, "assemble_snapshot", "sources.metadata"),
            (purge, "purge_lake", "jobs.purge_lake"),
            (replicate, "replicate_delta_to_iceberg", "jobs.replicate"),
            (lake_maintenance, "maintain_lake_table", "jobs.maintain"),
            (delta_maintenance, "merge_delta_rows", "sinks.merge"),
            (delta_delete, "delete_delta_rows", "sinks.delete"),
            (iceberg_maintenance, "upsert_iceberg_rows", "sinks.upsert"),
            (delta_maintenance, "compact_delta_files", "sinks.compact"),
            (iceberg_maintenance, "rewrite_iceberg_data_files", "sinks.compact"),
            (delta_maintenance, "vacuum_delta", "sinks.vacuum"),
            (iceberg_export, "expire_iceberg_snapshots", "sinks.vacuum"),
            (iceberg_maintenance, "remove_iceberg_orphan_files", "sinks.vacuum"),
        ]

    # ---- set-up ------------------------------------------------------------
    def setup(self) -> None:
        b = self.b
        t0 = time.perf_counter()
        self.events = gen.tables(b.seed, SF, only=("events",))["events"]
        self.log = [self._cycle_inputs(c) for c in range(CYCLES)]
        self._replay()
        b.phases["lifecycle.inputs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        from incubator_gobblin_spark.jobs.replicate import replicate_delta_to_iceberg
        from incubator_gobblin_spark.sinks.delta_maintenance import write_delta_table

        spark = b.spark
        df = spark.createDataFrame(self.events.to_pandas(), self._schema())
        write_delta_table(
            spark, df, self.delta,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        replicate_delta_to_iceberg(spark, self.delta, self.ice, on=KEY)
        for d in (self.delta, self.ice):
            shutil.copytree(d, d + ".base")
        b.phases["lifecycle.fixtures_s"] = time.perf_counter() - t0

    def warm(self) -> None:
        self.round(-1)
        self.reset(-1)

    def _schema(self):
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType, TimestampType,
        )

        return StructType([
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ])

    def _cycle_inputs(self, c: int) -> tuple[pa.Table, list[int]]:
        """Seeded merge source (updates of live keys plus new keys) and the
        user ids purged in cycle ``c``."""
        rng = np.random.default_rng([self.b.seed, 7, c])
        ev = self.events
        n = ev.num_rows
        upd = ev.take(np.sort(rng.choice(n, MERGE_UPDATES, replace=False)))
        upd = upd.set_column(
            upd.schema.get_field_index("value"), "value",
            pa.array(np.round(rng.uniform(0.01, 500, MERGE_UPDATES), 2)),
        )
        new = ev.take(rng.choice(n, MERGE_INSERTS, replace=False))
        new = new.set_column(
            0, KEY, pa.array(n * (c + 1) + np.arange(MERGE_INSERTS), pa.int64())
        )
        users = sorted(int(u) for u in rng.choice(
            np.unique(ev["user_id"].to_numpy()), PURGED_USERS, replace=False
        ))
        return pa.concat_tables([upd, new]), users

    def _replay(self) -> None:
        """DuckDB replay of the merge and purge log: the count after every
        cycle, and the final state."""
        con = duckdb.connect()
        con.register("events_src", self.events)
        con.sql("CREATE TABLE t AS SELECT * FROM events_src")
        for src, users in self.log:
            con.register("src", src)
            con.sql(f"DELETE FROM t WHERE {KEY} IN (SELECT {KEY} FROM src)")
            con.sql("INSERT INTO t SELECT * FROM src")
            con.sql(f"DELETE FROM t WHERE user_id IN ({','.join(map(str, users))})")
            con.unregister("src")
            self.expected_counts.append(con.sql("SELECT count(*) FROM t").fetchone()[0])
        self.final = con.sql("SELECT * FROM t").arrow()
        con.close()
        path = os.path.join(self.b.work, "live_events.parquet")
        pq.write_table(self.final, path)
        self.live_bytes = os.path.getsize(path)

    # ---- rounds ------------------------------------------------------------
    def reset(self, i: int) -> None:
        for d in (self.delta, self.ice):
            shutil.rmtree(d)
            shutil.copytree(d + ".base", d)

    def round(self, i: int) -> None:
        from incubator_gobblin_spark.jobs.lake_maintenance import maintain_lake_table
        from incubator_gobblin_spark.jobs.purge import purge_lake
        from incubator_gobblin_spark.jobs.replicate import replicate_delta_to_iceberg
        from incubator_gobblin_spark.sinks.delta_maintenance import merge_delta_rows
        from incubator_gobblin_spark.sources.delta_import import read_delta
        from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

        b = self.b
        spark = b.spark
        for c, (src, users) in enumerate(self.log):
            source = spark.createDataFrame(src.to_pandas(), self._schema())
            ids = spark.createDataFrame([(u,) for u in users], "user_id long")
            with b.op("write", "merge") as o:
                r = merge_delta_rows(spark, self.delta, source, on=KEY)
            o.rows = r["rows_updated"] + r["rows_inserted"]
            with b.op("write", "purge") as o:
                o.rows = purge_lake(spark, self.delta, ids, on="user_id").rows_purged
            self._read(read_delta, self.delta, "read_delta", self.expected_counts[c])
            with b.op("write", "replicate") as o:
                r = replicate_delta_to_iceberg(spark, self.delta, self.ice, on=KEY)
            o.rows = r["rows_upserted"] + r["keys_deleted"]
            self._read(read_iceberg, self.ice, "read_iceberg", self.expected_counts[c])
        for name, path in (("maintain_delta", self.delta), ("maintain_iceberg", self.ice)):
            with b.op("write", name):
                maintain_lake_table(
                    spark, path, retention_hours=0, allow_short_retention=True
                )

    def _read(self, reader, path: str, name: str, want: int) -> None:
        """Read-after-write on the table just written; the count must
        equal the replay's."""
        with self.b.op("read", name) as o:
            o.rows = reader(self.b.spark, path).count()
        if o.rows != want:
            o.ok = False
            self.b.fail(f"{name} of {path} has {o.rows} rows, replay has {want}")

    # ---- checks ------------------------------------------------------------
    def check(self) -> None:
        """The final Delta and Iceberg states equal the DuckDB replay."""
        from incubator_gobblin_spark.sources.delta_import import read_delta
        from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

        want = self.final.to_pandas()
        for name, df in (
            ("read_delta", read_delta(self.b.spark, self.delta)),
            ("read_iceberg", read_iceberg(self.b.spark, self.ice)),
        ):
            ok, why = same_rows(df.toPandas(), want)
            if not ok:
                for o in [o for o in self.b.ops() if o.name == name][-1:]:
                    o.ok = False
                self.b.fail(f"final {name} differs from the replay: {why}")

    # ---- per-layer -----------------------------------------------------------
    def live_files(self) -> int:
        from incubator_gobblin_spark.sources.delta_import import read_delta
        from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

        spark = self.b.spark
        return len(read_delta(spark, self.delta).inputFiles()) + len(
            read_iceberg(spark, self.ice).inputFiles()
        )

    def disk_bytes(self) -> int:
        return dir_bytes(self.delta) + dir_bytes(self.ice)

    def live_total(self) -> int:
        """Bytes of live user data in both tables."""
        return 2 * self.live_bytes

    def user_bytes(self) -> float:
        """Bytes of user data one round changes, in both tables."""
        changed = sum(len(src) for src, _ in self.log)
        return 2 * self.live_bytes * changed / self.final.num_rows
