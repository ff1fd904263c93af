"""Row-level DELETE on an Iceberg table via position-delete files.

``delete_iceberg_rows`` is the engine-facing, predicate-driven DELETE —
the Iceberg twin of :func:`~incubator_gobblin_spark.sinks.delta_delete.
delete_delta_rows`. It scans the table's CURRENT snapshot (existing
position/equality deletes applied, so the predicate only ever sees live
rows), turns every matched row into a (``file_path``, ``pos``)
coordinate, writes spec §Position Delete Files parquet (sorted by
file_path then pos, carrying the spec's reserved field ids 2147483546/
2147483545), and commits one ``content=1`` delete manifest under a new
``operation=delete`` snapshot — data files are never rewritten.

This differs from ``sinks.iceberg_export.append_position_deletes``
(the foreign-fixture author): that function takes PRE-COMPUTED
coordinates and does no conflict detection; this one takes a predicate
over logical columns, computes coordinates distributed, and refuses to
commit positions computed against a snapshot that has since changed
(:class:`IcebergConcurrentModificationError` — the optimistic-
concurrency shape of iceberg-core's ``SnapshotProducer.commit``).

Reference parity: the reference's row-level delete is a per-partition
Hive ``INSERT OVERWRITE`` rewrite (gobblin-data-management
``.../purger/HivePurgerQueryTemplate.java:82-89``) driven by the
compaction/retention jobs; a metadata-plus-tombstone delete is the
lake-native equivalent this engine offers on its Iceberg interop
surface (``jobs/purge.py`` routes GDPR purges here).

Scale shape: the predicate runs inside the one snapshot scan
``read_iceberg`` already plans (filter pushdown and metadata pruning
via ``filters`` apply), only the MATCHED coordinates shuffle — one
exchange hash-keyed on file path so each data file's tombstones land
in one delete file, sorted within the partition as the spec requires —
and executors write the delete parquet directly. The driver touches
only per-delete-file metadata (footer row counts for the manifest
entries) and the commit JSONs: never O(deleted rows).
"""

from __future__ import annotations

import json
import os
import time as _time
import uuid

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.sinks.iceberg_export import (
    _MANIFEST_LIST_AVRO,
    IcebergConcurrentModificationError,
    _decode_manifest_list,
    _manifest_entry_avro,
    _metadata_versions,
    _partition_struct_avro,
    _publish_metadata,
    _unpartitioned_spec,
)
from incubator_gobblin_spark.sources.iceberg_import import (
    current_schema,
    load_metadata,
    next_snapshot_id,
    norm_file_ref,
    read_iceberg,
    snapshot_files,
)

#: spec §Position Delete Files — reserved field ids of the two columns
_FILE_PATH_FIELD_ID = 2147483546
_POS_FIELD_ID = 2147483545


def delete_iceberg_rows(
    spark: SparkSession,
    path: str,
    condition=None,
    *,
    ids=None,
    on=None,
    union_threshold: int = 16,
    filters: list[tuple] | None = None,
) -> dict:
    """DELETE FROM the Iceberg table at ``path`` WHERE ``condition`` —
    committed as position-delete files (spec §Position Delete Files),
    not data-file rewrites. ``condition`` is a Column or SQL string
    over the table's logical column names (identity partition columns
    included — they're restored before the filter). ``filters`` is an
    optional ``[(col, op, value), ...]`` list for metadata-level file
    pruning; every filter MUST be implied by ``condition`` (rows the
    prune skips are rows the predicate must not match).

    Returns ``{"version", "snapshot_id", "rows_deleted",
    "delete_files"}``; a zero-match delete commits nothing. Successive
    deletes compose: the scan applies existing tombstones first, so a
    second DELETE only writes coordinates for still-live rows, and the
    new snapshot's manifest list carries all prior delete manifests by
    reference.

    Purge form: pass ``ids`` (a DataFrame of keys) + ``on`` (the key
    column names) INSTEAD of ``condition`` — matching rows are found by
    a broadcast left-semi join (the GDPR-purge shape,
    ``jobs.purge.purge_lake``). Exactly one of ``condition`` / ``ids``
    must be given.

    Concurrency: the metadata publish is put-if-absent
    (``iceberg_export._publish_metadata``). Losing the race re-checks —
    if the current snapshot moved, the delete raises
    :class:`IcebergConcurrentModificationError` instead of committing
    coordinates computed against a stale snapshot; a metadata-only
    bump (same current snapshot) re-bases and retries.
    """
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf

    if (condition is None) == (ids is None):
        raise ValueError(
            "delete_iceberg_rows: pass exactly one of condition / ids"
        )
    if ids is not None and not on:
        raise ValueError("delete_iceberg_rows: ids requires on=<key cols>")
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    versions = _metadata_versions(meta_dir)
    if not versions:
        raise FileNotFoundError(f"no Iceberg metadata under {meta_dir}")
    current_v = versions[-1]
    prev = load_metadata(meta_dir, current_v)
    fv = int(prev.get("format-version", 1))
    if fv < 2:  # load_metadata already refused anything newer than v2
        raise ValueError(
            "delete_iceberg_rows: row-level deletes require format-"
            f"version 2, table is v{fv} — rewrite-based delete only"
        )
    base_snap_id = prev.get("current-snapshot-id")
    if base_snap_id in (None, -1) or not prev.get("snapshots"):
        return {
            "version": current_v,
            "snapshot_id": base_snap_id,
            "rows_deleted": 0,
            "delete_files": 0,
        }

    # ---- scan the current snapshot with coordinates, filter, map the
    # decoded scan path back to the manifest's EXACT file_path string
    # (spec: a position delete's file_path must equal the data entry's;
    # ours are file:// URIs but foreign manifests may carry file:/ or
    # plain paths — emit whatever the manifest says, per file) ----
    live_files, _ = snapshot_files(prev, location, collect_deletes=True)
    path_map = [
        (norm_file_ref(f["path"], location), f["file_path"])
        for f in live_files
    ]

    df = read_iceberg(
        spark,
        location,
        union_threshold=union_threshold,
        filters=filters,
        _coords=True,
    )
    if ids is not None:
        on_cols = [on] if isinstance(on, str) else list(on)
        filtered = df.join(F.broadcast(ids), on=on_cols, how="left_semi")
    else:
        cond = (
            condition if isinstance(condition, Column) else F.expr(condition)
        )
        filtered = df.filter(cond)
    map_df = spark.createDataFrame(
        path_map, "_map_key string, _manifest_path string"
    )
    matched = (
        filtered
        .select("_norm_path", F.col("_row_index").cast("long").alias("pos"))
        .join(
            F.broadcast(map_df),
            F.col("_norm_path") == F.col("_map_key"),
            "inner",
        )
        .select(F.col("_manifest_path").alias("file_path"), "pos")
    )

    # ---- distributed delete-file write: one exchange keyed on file
    # path (a data file's tombstones must be contiguous and sorted —
    # spec: "sorted by file_path then pos"), reserved field ids on ----
    del_dir = os.path.join(
        location, "_deletes", f"del-{uuid.uuid4().hex[:12]}"
    )
    from incubator_gobblin_spark.session import rebalance_for_write

    (
        # rebalance (not a fixed-N repartition): a small DELETE's
        # coordinates coalesce to one advisory-size file instead of
        # one shard per shuffle partition, while a huge one still
        # splits — file_path clustering + the (file_path, pos) sort
        # the spec recommends are preserved
        rebalance_for_write(matched, ["file_path"])
        .sortWithinPartitions("file_path", "pos")
        .select(
            F.col("file_path").alias(
                "file_path",
                metadata={"parquet.field.id": _FILE_PATH_FIELD_ID},
            ),
            F.col("pos").alias(
                "pos", metadata={"parquet.field.id": _POS_FIELD_ID}
            ),
        )
        .write.mode("overwrite")
        .parquet(del_dir)
    )

    import pyarrow.parquet as pq

    delete_parts: list[tuple[str, int, int]] = []  # (path, rows, bytes)
    for fn in sorted(os.listdir(del_dir)):
        if not fn.endswith(".parquet"):
            continue
        fp = os.path.join(del_dir, fn)
        n = pq.read_metadata(fp).num_rows
        if n == 0:
            os.remove(fp)
            continue
        delete_parts.append((fp, n, os.path.getsize(fp)))
    rows_deleted = sum(n for _, n, _ in delete_parts)
    if not delete_parts:
        # zero matches: nothing to commit; drop the empty write dir
        import shutil

        shutil.rmtree(del_dir, ignore_errors=True)
        return {
            "version": current_v,
            "snapshot_id": base_snap_id,
            "rows_deleted": 0,
            "delete_files": 0,
        }

    # ---- commit loop: author manifest + manifest list + metadata
    # against the CURRENT base, publish put-if-absent, re-base on a
    # metadata-only race, refuse on a snapshot change ----
    for _ in range(8):
        versions = _metadata_versions(meta_dir)
        if versions[-1] != current_v:
            now = load_metadata(meta_dir, versions[-1])
            if now.get("current-snapshot-id") != base_snap_id:
                raise IcebergConcurrentModificationError(
                    f"delete_iceberg_rows: {location} advanced from "
                    f"snapshot {base_snap_id} to "
                    f"{now.get('current-snapshot-id')} while this "
                    "DELETE was computing — re-run it"
                )
            prev, current_v = now, versions[-1]

        snapshots = list(prev["snapshots"])
        cur = next(
            s for s in snapshots if s["snapshot-id"] == base_snap_id
        )
        schema = current_schema(prev)
        # This delete is snapshot-global (the matched rows span
        # partitions), so per the spec it must be written under an
        # UNPARTITIONED spec with an empty partition struct: under a
        # partitioned spec the partition tuple is a scope VALUE, and
        # an all-null tuple would scope the tombstones to "the null
        # partition" for conformant readers (Spark/Trino/PyIceberg),
        # silently un-deleting every real partition's rows.
        unpart_id, all_specs = _unpartitioned_spec(prev)
        sid = seq = next_snapshot_id(prev)
        ts = int(_time.time() * 1000)

        part_struct = _partition_struct_avro([], {})
        entry_schema = _manifest_entry_avro(part_struct)
        entries = [
            {
                "status": 1,  # ADDED
                "snapshot_id": sid,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,  # POSITION_DELETES
                    "file_path": "file://" + fp,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": n,
                    "file_size_in_bytes": size,
                    "value_counts": None,
                    "null_value_counts": None,
                    "lower_bounds": None,
                    "upper_bounds": None,
                },
            }
            for fp, n, size in delete_parts
        ]
        mdata = encode_ocf(
            entry_schema,
            entries,
            codec="null",
            extra_meta={
                "schema": json.dumps(schema).encode(),
                "partition-spec": b"[]",
                "partition-spec-id": str(unpart_id).encode(),
                "format-version": b"2",
                "content": b"deletes",
            },
        )
        mpath = os.path.join(meta_dir, f"del-{sid}-m0.avro")
        with open(mpath, "wb") as fh:
            fh.write(mdata)

        list_rows = [
            dict(r) for r in _decode_manifest_list(cur, location)
        ] + [
            {
                "manifest_path": "file://" + mpath,
                "manifest_length": len(mdata),
                "partition_spec_id": unpart_id,
                "content": 1,  # DELETES
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": sid,
                "added_files_count": len(delete_parts),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": rows_deleted,
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
            }
        ]
        snap_path = os.path.join(
            meta_dir,
            f"snap-{sid}-1-"
            f"{uuid.uuid5(uuid.NAMESPACE_URL, delete_parts[0][0])}.avro",
        )
        with open(snap_path, "wb") as fh:
            fh.write(
                encode_ocf(
                    _MANIFEST_LIST_AVRO,
                    list_rows,
                    codec="null",
                    extra_meta={"format-version": b"2"},
                )
            )

        # operation=delete; data-file state fingerprint UNCHANGED so a
        # later export_iceberg no-ops instead of wiping the tombstones
        snapshot = {
            "snapshot-id": sid,
            "sequence-number": seq,
            "timestamp-ms": ts,
            "summary": {
                "operation": "delete",
                "deleted-records": str(rows_deleted),
                "engine.state-fingerprint": cur["summary"].get(
                    "engine.state-fingerprint", ""
                ),
            },
            "manifest-list": "file://" + snap_path,
            "schema-id": schema.get("schema-id", 0),
            "parent-snapshot-id": base_snap_id,
        }
        metadata = dict(prev)
        # the delete manifest references the unpartitioned spec — the
        # committed metadata must declare it
        metadata["partition-specs"] = all_specs
        metadata["last-sequence-number"] = seq
        metadata["last-updated-ms"] = ts
        metadata["current-snapshot-id"] = sid
        metadata["snapshots"] = snapshots + [snapshot]
        metadata["snapshot-log"] = list(
            prev.get("snapshot-log", [])
        ) + [{"timestamp-ms": ts, "snapshot-id": sid}]

        version = current_v + 1
        if not _publish_metadata(meta_dir, metadata, version):
            os.remove(mpath)
            os.remove(snap_path)
            continue
        return {
            "version": version,
            "snapshot_id": sid,
            "rows_deleted": rows_deleted,
            "delete_files": len(delete_parts),
        }
    raise IcebergConcurrentModificationError(
        f"delete_iceberg_rows: lost the commit race 8 times under "
        f"{meta_dir}"
    )
