"""``ingest``: seeded increments of ``events`` into a manifest lake.

Set-up splits the events table into ``INCREMENTS`` seeded increments.
Half of them are produced up front to the file-backed mock Kafka
broker, the other half are written as landing parquet files. A round
ingests every increment in order into a fresh date-partitioned
manifest-mode ``FileSink``: a Kafka increment through
``jobs.kafka_ingest.ingest_kafka_batch``, with ``metadata=`` capping
"latest" at that increment; a landing increment through
``pipeline.Pipeline.run`` (converters + a quality policy). After each
publish a freshness read counts the committed snapshot, which must
equal the rows ingested so far.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
from harness import dir_bytes
from query_mix import same_rows

INCREMENTS = 2
PARTITIONS = 2
TOPIC = "events"
SF = 0.01
COLUMNS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


class Ingest:
    """The ingest stage of the ``ingest_lifecycle`` workload."""

    def __init__(self, bench):
        self.b = bench
        w = bench.work
        self.broker = os.path.join(w, "broker")
        self.landing = os.path.join(w, "landing")
        self.lake = os.path.join(w, "lake")
        self.state = os.path.join(w, "state")
        self.fresh: list[tuple[int, float]] = []  # (commit index, secs)

    def wraps(self):
        from incubator_gobblin_spark import pipeline
        from incubator_gobblin_spark.jobs import kafka_ingest
        from incubator_gobblin_spark.operators import converters, quality
        from incubator_gobblin_spark.sinks.files import FileSink
        from incubator_gobblin_spark.sources import files, kafka_batch

        return [
            (kafka_batch, "read_kafka_batch", "sources.build"),
            (files, "read_parquet", "sources.build"),
            (converters, "cast_columns", "operators.build"),
            (quality, "check_rows", "operators.build"),
            (pipeline.Pipeline, "run", "pipeline.run"),
            (kafka_ingest, "ingest_kafka_batch", "jobs.ingest_kafka_batch"),
            (FileSink, "write_staging", "sinks.write_staging"),
            (FileSink, "publish", "sinks.publish"),
            (FileSink, "read_committed", "sinks.read_committed"),
        ]

    # ---- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from incubator_gobblin_spark.sources import mock_kafka as MK

        b = self.b
        t0 = time.perf_counter()
        events = gen.tables(b.seed, SF, only=("events",))["events"]
        self.events = events
        n = events.num_rows
        rng = np.random.default_rng(b.seed + 17)
        # seeded cut points, each increment 50-150% of an even share
        weights = rng.uniform(0.5, 1.5, INCREMENTS)
        cuts = np.concatenate([[0], np.cumsum(weights / weights.sum() * n)]).astype(int)
        cuts[-1] = n
        kinds = ["kafka", "landing"] * (INCREMENTS // 2)
        random.Random(b.seed).shuffle(kinds)
        MK.create_topic(self.broker, TOPIC, PARTITIONS)
        os.makedirs(self.landing)
        self.plan = []  # (kind, rows, kafka latest offsets or landing path)
        for i, kind in enumerate(kinds):
            part = events.slice(cuts[i], cuts[i + 1] - cuts[i])
            if kind == "kafka":
                latest = self._produce(part)
                self.plan.append((kind, part.num_rows, latest))
            else:
                path = os.path.join(self.landing, f"inc{i:03d}.parquet")
                pq.write_table(part, path)
                self.plan.append((kind, part.num_rows, path))
        live = os.path.join(b.work, "live_events.parquet")
        pq.write_table(events, live)
        self.live_bytes = os.path.getsize(live)
        b.phases["ingest.inputs_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        MK.register(b.spark)
        b.phases["ingest.fixtures_s"] = time.perf_counter() - t0

    def warm(self) -> None:
        self.round(-1)
        self.reset(-1)

    def _produce(self, part: pa.Table) -> dict[int, int]:
        from incubator_gobblin_spark.sources import mock_kafka as MK

        # timestamps travel as epoch microseconds
        ts = part.schema.get_field_index("ts")
        rows = part.set_column(ts, "ts", part["ts"].cast(pa.int64())).to_pylist()
        by_part: dict[int, list] = {p: [] for p in range(PARTITIONS)}
        for r in rows:
            by_part[r["user_id"] % PARTITIONS].append(
                (str(r["user_id"]).encode(), json.dumps(r).encode(), r["ts"] // 1000)
            )
        for p, recs in by_part.items():
            if recs:
                MK.append_records(self.broker, TOPIC, p, recs)
        return MK.earliest_latest(self.broker, TOPIC)[1]

    # ---- rounds ------------------------------------------------------------
    def reset(self, i: int) -> None:
        for d in (self.lake, self.state):
            shutil.rmtree(d, ignore_errors=True)

    def _sink(self):
        from incubator_gobblin_spark.sinks.files import FileSink

        return FileSink(path=self.lake, commit_mode="manifest", partition_by=["date"])

    def round(self, i: int) -> None:
        from pyspark.sql import functions as F

        from incubator_gobblin_spark.jobs.kafka_ingest import ingest_kafka_batch
        from incubator_gobblin_spark.operators import converters as C
        from incubator_gobblin_spark.operators.quality import PolicyType, RowPolicy
        from incubator_gobblin_spark.pipeline import Pipeline
        from incubator_gobblin_spark.sources.files import read_parquet
        from incubator_gobblin_spark.state import StateStore

        b = self.b
        spark = b.spark
        sink = self._sink()
        store = StateStore(self.state)
        earliest = {p: 0 for p in range(PARTITIONS)}

        def with_date(df):
            return df.withColumn("date", F.date_format("ts", "yyyy-MM-dd"))

        def from_kafka(df):
            return with_date(
                df.select("value.*")
                .withColumn("ts", F.timestamp_micros("ts"))
                .select(*COLUMNS)
            )

        total = 0
        for k, (kind, rows, arg) in enumerate(self.plan):
            if kind == "kafka":
                with b.op("write", "kafka_ingest") as o:
                    ingest_kafka_batch(
                        spark, TOPIC, sink, store,
                        reader_format="mockkafka",
                        reader_options={"path": self.broker},
                        metadata=(earliest, arg),
                        value_schema=self.value_schema(),
                        transform=from_kafka,
                    )
            else:
                with b.op("write", "pipeline_run") as o:
                    (
                        Pipeline(spark, "landing")
                        .source(lambda s, p=arg: read_parquet(s, p))
                        .convert(C.cast_columns({"user_id": "bigint"}), with_date)
                        .quality(RowPolicy("value_positive", F.col("value") > 0,
                                           PolicyType.FAIL))
                        .sink(sink)
                        .run(run_id=f"landing-{k}")
                    )
            o.rows = rows
            total += rows
            with b.op("read", "fresh_read") as o:
                n = sink.read_committed(spark).count()
            o.rows = n
            if n != total:
                o.ok = False
                b.fail(f"round {i} commit {k}: fresh read {n} rows, ingested {total}")
            if b.measuring:
                self.fresh.append((k, o.secs))

    def value_schema(self):
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )

        return StructType([
            StructField("event_id", LongType()),
            StructField("ts", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ])

    # ---- checks ------------------------------------------------------------
    def check(self) -> None:
        """The lake left by the last round equals the generated input."""
        got = self._sink().read_committed(self.b.spark).toPandas()
        got = got[COLUMNS]
        ok, why = same_rows(got, self.events.to_pandas())
        if not ok:
            for o in [o for o in self.b.ops() if o.name == "fresh_read"][-1:]:
                o.ok = False
            self.b.fail(f"final lake differs from the generated input: {why}")

    # ---- per-layer -----------------------------------------------------------
    def read_growth(self) -> float:
        """Mean freshness-read latency over the last half of a round's
        commits divided by that over the first half."""
        half = INCREMENTS // 2
        first = [s for k, s in self.fresh if k < half]
        last = [s for k, s in self.fresh if k >= INCREMENTS - half]
        return (sum(last) / len(last)) / (sum(first) / len(first))

    def live_files(self) -> int:
        return len(self._sink().read_committed(self.b.spark).inputFiles())

    def disk_bytes(self) -> int:
        return dir_bytes(self.lake)

    def user_bytes(self) -> float:
        """Bytes of user data one round writes: the whole input."""
        return self.live_bytes

