"""Batch Kafka → lake ingestion with exactly-once delivery.

The reference's canonical loop — KafkaSource plans offset ranges from
the previous run's committed watermark (gobblin-modules/
gobblin-kafka-common/.../kafka/KafkaSource.java:190), KafkaExtractor
pulls [start, end) per partition (KafkaExtractor.java:59), the writer/
publisher stages and atomically publishes, and the state store persists
the new watermark for the next run (MultiLongWatermark.java:37,
FsStateStore.java:65) — composed as ONE engine function.

Exactly-once mechanics (no transactions needed):
- The run id derives DETERMINISTICALLY from the planned ranges. A crash
  after publish but before the watermark commit replays with the same
  committed watermark, plans the identical ranges, derives the same
  run id — and the manifest commit makes that same-run republish a
  no-op instead of a double-append. Two racing schedulers collapse into the
  same run the same way.
- The watermark advances only AFTER a successful publish, and advances
  monotonically per partition (a zombie predecessor can never move an
  offset backwards).
- Manifest commit mode is REQUIRED: rename-mode appends are not
  idempotent under same-run replay.

Scale: planning is per-partition metadata (O(partitions) driver work);
the read itself is one input partition per offset range — Spark's scan
parallelism IS the WorkUnit list.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from incubator_gobblin_spark.sources.kafka_batch import (
    OffsetResetPolicy,
    PartitionRange,
    next_committed,
    plan_offsets,
    read_kafka_batch,
)


def run_id_for_ranges(topic: str, ranges: list[PartitionRange]) -> str:
    """Deterministic run id: identical planned ranges → identical id,
    the idempotency token that makes replay-after-crash converge."""
    payload = json.dumps(
        sorted((r.partition, r.start, r.end) for r in ranges)
    )
    digest = hashlib.sha1(payload.encode()).hexdigest()[:12]
    return f"kafka-{topic}-{digest}"


def ingest_kafka_batch(
    spark: SparkSession,
    topic: str,
    sink,
    store,
    *,
    table: str | None = None,
    bootstrap_servers: str = "",
    reader_format: str = "kafka",
    reader_options: dict[str, str] | None = None,
    metadata: tuple[dict[int, int], dict[int, int]] | None = None,
    reset: OffsetResetPolicy = OffsetResetPolicy.FAIL,
    value_schema=None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> dict[str, Any]:
    """One incremental ingestion run. Returns a summary dict with the
    run id, planned record count, and whether anything was published.

    ``store`` is a StateStore/DbStateStore; ``sink`` a FileSink in
    manifest commit mode. ``metadata`` supplies broker
    (earliest, latest) offsets; when omitted and the format is
    ``mockkafka``, they come from the file-backed broker itself (a real
    deployment passes offsets fetched from its admin client)."""
    if getattr(sink, "commit_mode", None) != "manifest":
        raise ValueError(
            "exactly-once Kafka ingestion requires a manifest-mode sink "
            "(rename-mode appends are not idempotent under replay)"
        )
    table = table or f"kafka:{topic}"
    st = store.get(table)
    raw = st.extra.get("offsets") or {}
    committed = {int(k): int(v) for k, v in raw.items()} or None

    if metadata is not None:
        earliest, latest = metadata
    elif reader_format == "mockkafka":
        from incubator_gobblin_spark.sources import mock_kafka as MK

        earliest, latest = MK.earliest_latest(
            (reader_options or {})["path"], topic
        )
    else:
        raise ValueError(
            "pass metadata=(earliest, latest) for non-mock brokers"
        )

    ranges = plan_offsets(earliest, latest, committed, topic, reset)
    planned = sum(r.end - r.start for r in ranges)
    if planned == 0:
        return {"run_id": None, "records_planned": 0, "published": False}

    rid = run_id_for_ranges(topic, ranges)
    df = read_kafka_batch(
        spark,
        bootstrap_servers,
        ranges,
        value_schema=value_schema,
        reader_format=reader_format,
        reader_options=reader_options,
    )
    if transform is not None:
        df = transform(df)
    sink.write_staging(df, rid)
    sink.publish(rid)

    # watermark commit strictly after publish; per-partition monotonic
    # merge so neither a zombie predecessor nor a stale replay can move
    # an offset backwards
    st2 = store.get(table)
    prev = {
        int(k): int(v) for k, v in (st2.extra.get("offsets") or {}).items()
    }
    nxt = next_committed(ranges)
    merged = {
        p: max(nxt.get(p, 0), prev.get(p, 0)) for p in set(prev) | set(nxt)
    }
    st2.extra["offsets"] = {str(p): v for p, v in sorted(merged.items())}
    st2.last_run_id = rid
    st2.high_watermark = sum(merged.values())
    store.commit(table, st2)
    return {"run_id": rid, "records_planned": planned, "published": True}


def ingest_kafka_upsert_iceberg(
    spark: SparkSession,
    topic: str,
    table_path: str,
    *,
    on,
    value_schema=None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    bootstrap_servers: str = "",
    reader_format: str = "mockkafka",
    reader_options: dict[str, str] | None = None,
    metadata: tuple[dict[int, int], dict[int, int]] | None = None,
    reset: OffsetResetPolicy = OffsetResetPolicy.FAIL,
) -> dict[str, Any]:
    """One exactly-once Kafka → Iceberg CDC-UPSERT run — the
    Flink-upsert-sink loop as a batch job: plan offset ranges from the
    CONSUMED WATERMARK STORED IN THE ICEBERG TABLE ITSELF
    (``kafka.offsets.<topic>`` in the table properties), bounded-read
    the batch, shape it with ``transform`` (must yield the table's
    declared schema), and commit ONE snapshot that both applies the
    upsert (equality-delete + same-sequence append,
    :func:`~incubator_gobblin_spark.sinks.iceberg_maintenance.upsert_iceberg_rows`)
    AND advances the watermark — the offsets ride the same
    put-if-absent metadata publish as the data, so a crash anywhere
    replans the identical ranges from the last committed state.

    Exactly-once mechanics: the table is the state store (the
    reference keeps the Kafka watermark in FsStateStore and publishes
    separately, tolerating same-run replay; storing it IN the table
    metadata makes data+watermark one atomic commit — the
    Flink-Iceberg connector shape). Replay is additionally idempotent
    BY KEY: re-applying a batch equality-deletes its own prior
    versions, so even an operator-forced reprocess converges. A batch
    whose planned ranges are nonempty but whose rows are all
    filtered/empty still advances the watermark through a
    properties-only metadata version.

    Returns ``{"version", "records_planned", "rows_upserted",
    "published"}``.
    """
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        set_iceberg_table_properties,
        upsert_iceberg_rows,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
    )

    prop_key = f"kafka.offsets.{topic}"
    meta = current_metadata(table_path)
    raw = (meta.get("properties") or {}).get(prop_key)
    committed = (
        {int(k): int(v) for k, v in json.loads(raw).items()} if raw else None
    )

    if metadata is not None:
        earliest, latest = metadata
    elif reader_format == "mockkafka":
        from incubator_gobblin_spark.sources import mock_kafka as MK

        earliest, latest = MK.earliest_latest(
            (reader_options or {})["path"], topic
        )
    else:
        raise ValueError(
            "pass metadata=(earliest, latest) for non-mock brokers"
        )

    ranges = plan_offsets(earliest, latest, committed, topic, reset)
    planned = sum(r.end - r.start for r in ranges)
    if planned == 0:
        return {
            "version": None,
            "records_planned": 0,
            "rows_upserted": 0,
            "published": False,
        }
    planned_next = next_committed(ranges)

    def offsets_prop(current_props: dict) -> dict:
        # Monotonic per-partition merge against the REFRESHED stored
        # watermark: a concurrent same-topic run may have advanced it
        # through a properties-only commit (empty batch), which does
        # not move current-snapshot-id and so does not abort this
        # commit — a blind overwrite would regress the watermark and
        # make the next run replay already-ingested ranges (it would
        # converge only because replay is idempotent by key, but it
        # is wasted work and a duplicate-window for non-key sinks).
        stored_raw = (current_props or {}).get(prop_key)
        stored = (
            {int(k): int(v) for k, v in json.loads(stored_raw).items()}
            if stored_raw
            else {}
        )
        merged = {
            p: max(planned_next.get(p, 0), stored.get(p, 0))
            for p in set(stored) | set(planned_next)
        }
        return {
            prop_key: json.dumps({str(p): v for p, v in sorted(merged.items())})
        }

    df = read_kafka_batch(
        spark,
        bootstrap_servers,
        ranges,
        value_schema=value_schema,
        reader_format=reader_format,
        reader_options=reader_options,
    )
    if transform is not None:
        df = transform(df)

    res = upsert_iceberg_rows(
        spark, table_path, df, on=on, table_properties=offsets_prop
    )
    if res["rows_inserted"] == 0 and res["delete_files"] == 0:
        # planned records all filtered away: the upsert no-op'd, so
        # advance the watermark through a properties-only version —
        # otherwise the next run replans the same ranges forever
        v = set_iceberg_table_properties(table_path, offsets_prop)["version"]
        return {
            "version": v,
            "records_planned": planned,
            "rows_upserted": 0,
            "published": True,
        }
    return {
        "version": res["version"],
        "records_planned": planned,
        "rows_upserted": res["rows_inserted"],
        "published": True,
    }
