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

import os
import uuid

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.commit import _remove, stage_parquet
from incubator_gobblin_spark.sinks.iceberg_export import (
    IcebergConcurrentModificationError,
    _added,
    _commit_snapshot,
    _data_file,
    _decode_manifest_list,
    _metadata_versions,
    _rebase_or_conflict,
    _unpartitioned_spec,
    _write_manifest,
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
    bump (same current snapshot) re-bases and retries. A delete that
    gives up removes the delete files it staged.
    """
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
    # spec: "sorted by file_path then pos"), reserved field ids on;
    # only the parquet parts reach the committed del-* dir ----
    from incubator_gobblin_spark.session import rebalance_for_write

    coords = (
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
    )
    del_dir = os.path.join(
        location, "_deletes", f"del-{uuid.uuid4().hex[:12]}"
    )
    data_files = [  # one POSITION_DELETES file per non-empty part
        _data_file(fp, md.num_rows, size, content=1)
        for fp, _, md, size in stage_parquet(
            coords, location, del_dir, "pos-del"
        )
    ]
    rows_deleted = sum(d["record_count"] for d in data_files)
    if not data_files:  # zero matches: nothing to commit
        return {
            "version": current_v,
            "snapshot_id": base_snap_id,
            "rows_deleted": 0,
            "delete_files": 0,
        }

    # ---- commit loop: author the delete manifest against the CURRENT
    # base, re-base on a metadata-only race, refuse on a snapshot
    # change. The delete is snapshot-global (the matched rows span
    # partitions), so per the spec it must be written under an
    # UNPARTITIONED spec with an empty partition struct: under a
    # partitioned spec the partition tuple is a scope VALUE, and an
    # all-null tuple would scope the tombstones to "the null
    # partition" for conformant readers (Spark/Trino/PyIceberg),
    # silently un-deleting every real partition's rows. ----
    cur = next(s for s in prev["snapshots"] if s["snapshot-id"] == base_snap_id)
    for _ in range(8):
        current_v = _metadata_versions(meta_dir)[-1]
        prev = _rebase_or_conflict(
            "delete_iceberg_rows", meta_dir, current_v, prev, [del_dir]
        )
        sid = seq = next_snapshot_id(prev)
        unpart = _unpartitioned_spec(prev)
        mpath, row = _write_manifest(
            meta_dir,
            _added(sid, seq, data_files),
            unpart,
            current_schema(prev),
            sid,
            seq,
        )
        # operation=delete; data-file state fingerprint UNCHANGED so a
        # later export_iceberg no-ops instead of wiping the tombstones
        if _commit_snapshot(
            meta_dir,
            current_v + 1,
            prev,
            rows=_decode_manifest_list(cur, location) + [row],
            written=[mpath],
            sid=sid,
            seq=seq,
            parent=base_snap_id,
            summary={
                "operation": "delete",
                "deleted-records": str(rows_deleted),
                "engine.state-fingerprint": cur["summary"].get(
                    "engine.state-fingerprint", ""
                ),
            },
            partition_specs=[unpart],
        ):
            return {
                "version": current_v + 1,
                "snapshot_id": sid,
                "rows_deleted": rows_deleted,
                "delete_files": len(data_files),
            }
    _remove([del_dir])
    raise IcebergConcurrentModificationError(
        f"delete_iceberg_rows: lost the commit race 8 times under "
        f"{meta_dir}"
    )
