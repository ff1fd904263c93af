"""Iceberg table maintenance: standalone writer + data-file rewrite.

Two engine-facing operations on a STANDALONE Iceberg table (one whose
``metadata/`` chain is the source of truth — not a manifest-lake
export, where the lake manifest owns file lifetime and a rewrite here
would silently diverge the two views; those refuse and point at the
lake's own compaction):

- :func:`write_iceberg_table` — author a v2 Iceberg table directly
  from a DataFrame (identity and hidden/transform partitioning), the
  standalone sibling of the manifest lake's ``export_iceberg``
  projection and the Iceberg twin of
  :func:`~incubator_gobblin_spark.sinks.delta_maintenance.write_delta_table`.
- :func:`rewrite_iceberg_data_files` — the RewriteDataFiles /
  compaction maintenance op (iceberg-core
  ``actions/rewrite/RewriteDataFilesAction``): rewrite every data
  file targeted by position/equality deletes with the tombstones
  APPLIED, drop the absorbed delete manifests from the new snapshot,
  and optionally bin-pack small files — the missing third of the
  Iceberg delete lifecycle (read r8/r9, predicate DELETE write r10,
  absorb here). ``expire_iceberg_snapshots`` (iceberg_export) then
  prunes the superseded metadata chain.

Reference parity: the reference's compaction rewrites whole
partitions through MR jobs (gobblin-compaction
``.../mapreduce/MRCompactor.java``); absorbing merge-on-read deletes
into rewritten files is the lake-native equivalent of its
delta-merge + INSERT OVERWRITE shape.

Scale shape: the rewrite is ONE Spark job — the same snapshot scan
``read_iceberg`` already plans (deletes applied there, JVM-side),
an inner broadcast join against the metadata-scale affected-file
map, one exchange keyed on (group, bin) sized toward
``target_file_bytes``, and a partitioned write. The driver touches
per-file metadata (footer row counts for manifest entries) and the
commit JSONs — never rows. Equality deletes select affected files
CONSERVATIVELY (every in-scope-or-not data file sequenced before the
delete): scope narrowing is a read-side optimization; rewriting an
out-of-scope file through the scope-aware scan preserves its rows
bit-for-bit, so the conservative set costs I/O, never correctness.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time as _time
import uuid as _uuid
from collections.abc import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.sinks.iceberg_export import (
    _MANIFEST_LIST_AVRO,
    _INITIAL_PARTITION_FIELD_ID,
    IcebergConcurrentModificationError,
    _decode_manifest,
    _decode_manifest_list,
    _iceberg_schema,
    _manifest_entry_avro,
    _metadata_versions,
    _name_mapping,
    _partition_struct_avro,
    _publish_metadata,
    _publish_or_conflict,
    _transform_result_type,
    _unpartitioned_spec,
)
from incubator_gobblin_spark.sources.iceberg_import import (
    current_schema,
    load_metadata,
    next_snapshot_id,
    norm_file_ref,
)


def _refuse_manifest_lake(path: str, op: str) -> None:
    if os.path.isdir(os.path.join(path, "_manifests")):
        raise ValueError(
            f"{op}: {path} is a manifest-commit lake (its Iceberg "
            "metadata is an EXPORT projection; rewriting data files "
            "here would diverge the two views and a later export would "
            "compose wrongly) — compact through the lake "
            "(FileSink.compact_runs) and re-export instead"
        )


def _latest(meta_dir: str) -> tuple[int, dict]:
    """The newest metadata version under ``meta_dir`` and its
    metadata — the base every writer here builds on."""
    versions = _metadata_versions(meta_dir)
    if not versions:
        raise FileNotFoundError(f"no Iceberg metadata under {meta_dir}")
    return versions[-1], load_metadata(meta_dir, versions[-1])


def _move_parts(staging: str, dest_dir: str, tag: str) -> list[str]:
    os.makedirs(dest_dir, exist_ok=True)
    out = []
    for i, fn in enumerate(sorted(os.listdir(staging))):
        if not fn.endswith(".parquet"):
            continue
        dst = os.path.join(
            dest_dir, f"{tag}-{_uuid.uuid4().hex[:12]}-{i:05d}.parquet"
        )
        shutil.move(os.path.join(staging, fn), dst)
        out.append(dst)
    return out


def _stage_iceberg_data(
    df: DataFrame,
    location: str,
    part_cols: list[str],
    coalesce_output: bool = True,
) -> list[dict]:
    """Write ``df`` through a staging dir and move the part files
    under ``data/`` (hive dirs for partitioned tables — ``partitionBy``
    drops the partition columns from the data files, the spec's
    hidden-partition file layout). Returns ``{path, partition
    (string-valued dict), rows, size}`` per file. Shared by the
    standalone writer and the upsert. ``coalesce_output`` right-sizes
    output files via an AQE rebalance (session.rebalance_for_write) —
    False keeps the frame's own partitioning."""
    os.makedirs(os.path.join(location, "data"), exist_ok=True)
    staging = os.path.join(location, f".staging-{_uuid.uuid4().hex[:12]}")
    files: list[dict] = []
    try:
        from incubator_gobblin_spark.session import rebalance_for_write

        if coalesce_output:
            df = rebalance_for_write(df, part_cols)
        w = df.write.mode("overwrite")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(staging)
        import pyarrow.parquet as pq

        if part_cols:
            for dirpath, _dirs, fns in os.walk(staging):
                parts = [f for f in fns if f.endswith(".parquet")]
                if not parts:
                    continue
                rel_dir = os.path.relpath(dirpath, staging)
                pvals: dict = {}
                for seg in rel_dir.replace(os.sep, "/").split("/"):
                    k, _, v = seg.partition("=")
                    pvals[k] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                    )
                moved = _move_parts(
                    dirpath,
                    os.path.join(location, "data", rel_dir),
                    "part-w",
                )
                for fp in moved:
                    md = pq.read_metadata(fp)
                    files.append(
                        {
                            "path": fp,
                            "partition": pvals,
                            "rows": int(md.num_rows),
                            "size": os.path.getsize(fp),
                        }
                    )
        else:
            for fp in _move_parts(
                staging, os.path.join(location, "data"), "part-w"
            ):
                md = pq.read_metadata(fp)
                files.append(
                    {
                        "path": fp,
                        "partition": {},
                        "rows": int(md.num_rows),
                        "size": os.path.getsize(fp),
                    }
                )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return files


def write_iceberg_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | tuple[str, ...] = (),
    transform_spec: list[dict] | None = None,
    coalesce_output: bool = True,
) -> str:
    """Author a v2 Iceberg table at ``path`` directly from ``df`` —
    data parquet under ``data/`` plus a self-contained
    ``metadata/v1.metadata.json`` chain (schema inferred from the
    written footers, one ADDED manifest, manifest list,
    ``schema.name-mapping.default`` so foreign readers id-resolve our
    id-less parquet). Create-only: refuses if metadata already exists
    (append is the exporter's/upsert's job).

    ``partition_by`` columns become identity partition fields
    (written hive-style, dropped from the data files — the layout
    ``read_iceberg`` and the export share). ``transform_spec`` marks
    a subset of them as HIDDEN-partition derivations, same contract
    as ``export_iceberg``: ``{"name", "transform", "source"}`` where
    ``name`` is a ``partition_by`` column the CALLER derived with
    ``iceberg_transforms.transform_expr`` — the spec field is written
    under the transform with its result type and the derived name
    stays out of the table schema.

    Returns the ``metadata/`` dir.
    """
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf

    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    if os.path.isdir(meta_dir) and _metadata_versions(meta_dir):
        raise FileExistsError(
            f"write_iceberg_table: Iceberg metadata already exists at "
            f"{meta_dir} — this writer is create-only"
        )
    part_cols = list(partition_by)
    missing = [c for c in part_cols if c not in df.columns]
    if missing:
        raise ValueError(
            f"write_iceberg_table: partition_by {missing} not in df"
        )
    transforms_by_name = {}
    for t in transform_spec or []:
        if t["name"] not in part_cols:
            raise ValueError(
                f"write_iceberg_table: transform_spec names "
                f"{t['name']!r} which is not in partition_by"
            )
        transforms_by_name[t["name"]] = t
    identity_cols = [c for c in part_cols if c not in transforms_by_name]

    files = _stage_iceberg_data(
        df, location, part_cols, coalesce_output=coalesce_output
    )
    if not files:
        raise ValueError("write_iceberg_table: df wrote no rows")

    schema, last_column_id, part_types = _iceberg_schema(
        files[0]["path"], identity_cols, [f["partition"] for f in files]
    )
    # _iceberg_schema can only INFER identity partition types from the
    # hive-dir path strings (the export path's only evidence) — but
    # this writer HOLDS df.schema: a string column with numeric-looking
    # values ("00123") must not silently become long (leading zeros
    # lost forever, later upserts type-mismatched). Override with the
    # declared types; refuse types the manifest partition encoding
    # doesn't carry.
    spark_to_iceberg = {
        "bigint": "long",
        "int": "int",
        "smallint": "int",
        "tinyint": "int",
        "string": "string",
    }
    df_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for c in identity_cols:
        it = spark_to_iceberg.get(df_types[c])
        if it is None:
            raise ValueError(
                "write_iceberg_table: unsupported identity partition "
                f"column type {df_types[c]!r} for {c!r} — supported: "
                f"{sorted(spark_to_iceberg)}"
            )
        part_types[c] = it
        for f in schema["fields"]:
            if f["name"] == c:
                f["type"] = it
    field_id = {f["name"]: f["id"] for f in schema["fields"]}
    field_type = {f["name"]: f["type"] for f in schema["fields"]}
    for name, t in transforms_by_name.items():
        src = t["source"]
        if src not in field_id:
            raise ValueError(
                f"write_iceberg_table: transform source {src!r} is not "
                "a column of the written data files"
            )
        part_types[name] = _transform_result_type(
            t["transform"], field_type[src]
        )
    spec = {
        "spec-id": 0,
        "fields": [
            {
                "name": c,
                "transform": transforms_by_name.get(c, {}).get(
                    "transform", "identity"
                ),
                "source-id": field_id[
                    transforms_by_name.get(c, {}).get("source", c)
                ],
                "field-id": _INITIAL_PARTITION_FIELD_ID + i,
            }
            for i, c in enumerate(part_cols)
        ],
    }
    sid, seq = 1, 1
    ts = int(_time.time() * 1000)
    part_struct = _partition_struct_avro(part_cols, part_types)
    entry_schema = _manifest_entry_avro(part_struct)

    def _typed(v, t):
        if v is None:
            return None
        return int(v) if t in ("int", "long") else v

    entries = [
        {
            "status": 1,  # ADDED
            "snapshot_id": sid,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": "file://" + f["path"],
                "file_format": "PARQUET",
                "partition": {
                    c: _typed(f["partition"].get(c), part_types[c])
                    for c in part_cols
                },
                "record_count": f["rows"],
                "file_size_in_bytes": f["size"],
                "value_counts": None,
                "null_value_counts": None,
                "lower_bounds": None,
                "upper_bounds": None,
            },
        }
        for f in files
    ]
    os.makedirs(meta_dir, exist_ok=True)
    commit_uuid = str(_uuid.uuid4())
    mdata = encode_ocf(
        entry_schema,
        entries,
        codec="null",
        extra_meta={
            "schema": json.dumps(schema).encode(),
            "partition-spec": json.dumps(spec["fields"]).encode(),
            "partition-spec-id": b"0",
            "format-version": b"2",
            "content": b"data",
        },
    )
    mpath = os.path.join(meta_dir, f"{commit_uuid}-m0.avro")
    with open(mpath, "wb") as fh:
        fh.write(mdata)
    list_rows = [
        {
            "manifest_path": "file://" + mpath,
            "manifest_length": len(mdata),
            "partition_spec_id": 0,
            "content": 0,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": sid,
            "added_files_count": len(files),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": sum(f["rows"] for f in files),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
    ]
    snap_path = os.path.join(meta_dir, f"snap-{sid}-1-{commit_uuid}.avro")
    with open(snap_path, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                list_rows,
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    metadata = {
        "format-version": 2,
        "table-uuid": str(_uuid.uuid5(_uuid.NAMESPACE_URL, location)),
        "location": location,
        "last-sequence-number": seq,
        "last-updated-ms": ts,
        "last-column-id": last_column_id,
        "current-schema-id": 0,
        "schemas": [schema],
        "default-spec-id": 0,
        "partition-specs": [spec],
        "last-partition-id": _INITIAL_PARTITION_FIELD_ID
        - 1
        + len(part_cols),
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            "schema.name-mapping.default": json.dumps(
                _name_mapping(schema)
            ),
        },
        "current-snapshot-id": sid,
        "snapshots": [
            {
                "snapshot-id": sid,
                "sequence-number": seq,
                "timestamp-ms": ts,
                "summary": {
                    "operation": "append",
                    "added-data-files": str(len(files)),
                    "added-records": str(sum(f["rows"] for f in files)),
                },
                "manifest-list": "file://" + snap_path,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [{"timestamp-ms": ts, "snapshot-id": sid}],
        "metadata-log": [],
    }
    if not _publish_metadata(meta_dir, metadata, 1):
        raise FileExistsError(
            f"write_iceberg_table: v1 metadata appeared concurrently "
            f"under {meta_dir}"
        )
    return meta_dir


def rewrite_iceberg_data_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    union_threshold: int = 16,
) -> dict:
    """Compact the Iceberg table at ``path``: rewrite every data file
    targeted by position/equality deletes with the tombstones APPLIED
    (the new files hold exactly the surviving rows), mark the
    originals DELETED, DROP the absorbed delete manifests, and commit
    one ``operation=replace`` snapshot — iceberg-core's
    RewriteDataFiles maintenance action. Pass ``small_file_bytes`` to
    also bin-pack partitions holding 2+ data files smaller than it
    (sized toward ``target_file_bytes``).

    Affected-file selection: position deletes target exactly the
    files they reference; equality deletes conservatively target
    every data file sequenced strictly before them (scope narrowing
    is a read-side optimization — rewriting an out-of-scope file
    through the scope-aware scan preserves its rows, so conservatism
    costs I/O, never correctness). Rewritten files are written under
    the CURRENT schema's logical names WITH parquet field ids, so
    they stay rename-safe for every spec-conformant reader; files
    keep their original partition tuple and spec (a rewrite never
    moves rows across partitions).

    Returns ``{"version", "snapshot_id", "files_rewritten",
    "files_written", "delete_manifests_dropped", "rows_written"}``;
    a table with no deletes (and no bin-pack work) commits nothing.
    Raises :class:`IcebergConcurrentModificationError` if the
    current snapshot moves between scan and commit.
    """
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sources.iceberg_import import (
        _schema_with_field_ids,
        read_iceberg,
        snapshot_files,
    )

    _refuse_manifest_lake(path, "rewrite_iceberg_data_files")
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    current_v, prev = _latest(meta_dir)
    fv = int(prev.get("format-version", 1))
    if fv != 2:
        raise ValueError(
            f"rewrite_iceberg_data_files: format-version {fv} — only v2 "
            "tables carry row-level deletes to absorb"
        )
    base_snap_id = prev.get("current-snapshot-id")
    noop = {
        "version": current_v,
        "snapshot_id": base_snap_id,
        "files_rewritten": 0,
        "files_written": 0,
        "delete_manifests_dropped": 0,
        "rows_written": 0,
    }
    if base_snap_id in (None, -1) or not prev.get("snapshots"):
        return noop

    live_files, dels = snapshot_files(
        prev, location, collect_deletes=True
    )
    if not live_files:
        return noop

    # ---- affected set ----
    affected: set[str] = set()
    pos_del_paths = [
        norm_file_ref(d["path"], location) for d in dels if d["content"] == 1
    ]
    if pos_del_paths:
        # the delete parquets' file_path column names the targets;
        # distinct data-file count is metadata-scale
        hit = (
            spark.read.parquet(*pos_del_paths)
            .select("file_path")
            .distinct()
            .collect()
        )
        affected.update(norm_file_ref(r.file_path, location) for r in hit)
    eq_max_seq = max(
        (d["seq"] for d in dels if d["content"] == 2), default=None
    )
    by_abs: dict[str, dict] = {
        norm_file_ref(f["path"], location): f for f in live_files
    }
    if eq_max_seq is not None:
        affected.update(
            p for p, f in by_abs.items() if f["seq"] < eq_max_seq
        )
    affected &= set(by_abs)  # dangling pos-delete targets: ignore

    # ---- bin-pack selection (optional) ----
    if small_file_bytes:
        by_group: dict[str, list[str]] = {}
        for p, f in by_abs.items():
            if p in affected:
                continue
            try:
                if os.path.getsize(p) >= small_file_bytes:
                    continue
            except OSError:
                continue
            gk = json.dumps(
                {"s": f["spec_id"], "p": {k: str(v) for k, v in f["partition"].items()}},
                sort_keys=True,
            )
            by_group.setdefault(gk, []).append(p)
        for gk, members in by_group.items():
            if len(members) >= 2:
                affected.update(members)

    if not affected:
        # covers the no-deletes + no-binpack case too: affected only
        # gains members from delete targets or small-file groups
        return noop

    # ---- group affected files by (spec_id, partition tuple) ----
    gids: dict[tuple, int] = {}
    group_of: dict[str, int] = {}
    group_info: list[dict] = []  # gid -> {spec_id, partition, bytes}
    for p in sorted(affected):
        f = by_abs[p]
        key = (
            f["spec_id"],
            json.dumps(
                {k: str(v) for k, v in sorted(f["partition"].items())},
                sort_keys=True,
            ),
        )
        if key not in gids:
            gids[key] = len(group_info)
            group_info.append(
                {
                    "spec_id": f["spec_id"],
                    "partition": dict(f["partition"]),
                    "bytes": 0,
                }
            )
        gid = gids[key]
        group_of[p] = gid
        try:
            group_info[gid]["bytes"] += os.path.getsize(p)
        except OSError:
            pass
    for g in group_info:
        g["bins"] = max(1, math.ceil(g["bytes"] / target_file_bytes))

    # ---- one job: scan (deletes applied) -> affected rows -> write ----
    schema_json = current_schema(prev)
    # refuse unsupported partition value types UP FRONT (the upsert
    # writer's guard): failing later inside the commit loop would
    # orphan the already-moved rewrite files under data/
    _fname = {f["id"]: f["name"] for f in schema_json["fields"]}
    _ftype = {f["name"]: f["type"] for f in schema_json["fields"]}
    for sp in prev.get("partition-specs", []):
        for pf in sp["fields"]:
            try:
                t = _transform_result_type(
                    pf["transform"],
                    _ftype.get(_fname.get(pf["source-id"])),
                )
            except ValueError as e:
                raise ValueError(
                    f"rewrite_iceberg_data_files: {e}"
                ) from e
            if t not in (
                "long", "string", "int", "double", "float", "boolean"
            ):
                raise ValueError(
                    "rewrite_iceberg_data_files: partition field "
                    f"{pf.get('name')!r} of spec {sp['spec-id']} has "
                    f"unsupported value type {t!r} — the manifest "
                    "partition encoding carries "
                    "long/int/string/double/float/boolean only"
                )
    id_schema = _schema_with_field_ids(schema_json)
    df = read_iceberg(
        spark, location, union_threshold=union_threshold, _coords=True
    )
    map_df = spark.createDataFrame(
        [(p, g, group_info[g]["bins"]) for p, g in group_of.items()],
        "_map_key string, _gid int, _bins int",
    )
    matched = df.join(
        F.broadcast(map_df),
        F.col("_norm_path") == F.col("_map_key"),
        "inner",
    ).withColumn(
        "_bin",
        F.pmod(F.xxhash64(F.col("_norm_path"), F.col("_row_index")), F.col("_bins")).cast("int"),
    )
    total_bins = sum(g["bins"] for g in group_info)
    # tag every column (nested fields via cast to the id-carrying
    # type — .to() keeps schema metadata but the parquet writer drops
    # it; cast+alias provably lands PARQUET:field_id in the footer)
    # so the new files stay rename-safe for id-resolving readers;
    # _gid drives the partitioned write and never reaches the data
    out = matched.repartition(max(1, total_bins), "_gid", "_bin").select(
        *[
            F.col(f.name)
            .cast(f.dataType)
            .alias(f.name, metadata=dict(f.metadata))
            for f in id_schema.fields
        ],
        "_gid",
    )
    staging = os.path.join(location, f".rewrite-{_uuid.uuid4().hex[:12]}")
    new_files: list[dict] = []  # {path, gid, rows, size}
    new_paths: list[str] = []
    try:
        out.write.partitionBy("_gid").mode("overwrite").parquet(staging)
        import pyarrow.parquet as pq

        for fn in sorted(os.listdir(staging)):
            if not fn.startswith("_gid="):
                continue
            gid = int(fn.split("=", 1)[1])
            moved = _move_parts(
                os.path.join(staging, fn),
                os.path.join(location, "data"),
                "rewrite",
            )
            for fp in moved:
                n = pq.read_metadata(fp).num_rows
                if n == 0:
                    os.remove(fp)
                    continue
                new_paths.append(fp)
                new_files.append(
                    {
                        "path": fp,
                        "gid": gid,
                        "rows": int(n),
                        "size": os.path.getsize(fp),
                    }
                )
    except BaseException:
        for fp in new_paths:
            try:
                os.remove(fp)
            except OSError:
                pass
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    def _cleanup():
        for fp in new_paths:
            try:
                os.remove(fp)
            except OSError:
                pass

    fname_by_id = {f["id"]: f["name"] for f in schema_json["fields"]}
    ftype_by_name = {f["name"]: f["type"] for f in schema_json["fields"]}
    specs_by_id = {
        sp["spec-id"]: sp for sp in prev.get("partition-specs", [])
    }

    def _spec_struct(spec_id: int):
        sp = specs_by_id[spec_id]
        pcols = [
            pf.get("name") or fname_by_id[pf["source-id"]]
            for pf in sp["fields"]
        ]
        ptypes = {
            (pf.get("name") or fname_by_id[pf["source-id"]]): (
                _transform_result_type(
                    pf["transform"],
                    ftype_by_name.get(fname_by_id.get(pf["source-id"])),
                )
            )
            for pf in sp["fields"]
        }
        # the spec's ACTUAL partition field ids — an evolved/foreign
        # spec's ids need not be consecutive from 1000, and an
        # id-resolving reader of the rewritten manifests would miss
        # the partition values under positionally assigned ids
        fids = {
            (pf.get("name") or fname_by_id[pf["source-id"]]): pf[
                "field-id"
            ]
            for pf in sp["fields"]
            if pf.get("field-id") is not None
        }
        return sp, pcols, ptypes, fids

    # ---- commit loop ----
    for _ in range(8):
        versions = _metadata_versions(meta_dir)
        if versions[-1] != current_v:
            now = load_metadata(meta_dir, versions[-1])
            if now.get("current-snapshot-id") != base_snap_id:
                _cleanup()
                raise IcebergConcurrentModificationError(
                    f"rewrite_iceberg_data_files: {location} advanced "
                    f"from snapshot {base_snap_id} while this rewrite "
                    "was computing — re-run it"
                )
            prev, current_v = now, versions[-1]

        snapshots = list(prev["snapshots"])
        cur = next(
            s for s in snapshots if s["snapshot-id"] == base_snap_id
        )
        sid = seq = next_snapshot_id(prev)
        ts = int(_time.time() * 1000)
        commit_uuid = str(
            _uuid.uuid5(_uuid.NAMESPACE_URL, f"{location}#rewrite#{sid}")
        )
        m_idx = 0
        written: list[str] = []

        def _write_manifest(rows, spec_id: int) -> tuple[str, int]:
            nonlocal m_idx
            sp, pcols, ptypes, fids = _spec_struct(spec_id)
            data = encode_ocf(
                _manifest_entry_avro(
                    _partition_struct_avro(pcols, ptypes, fids)
                ),
                rows,
                codec="null",
                extra_meta={
                    "schema": json.dumps(schema_json).encode(),
                    "partition-spec": json.dumps(sp["fields"]).encode(),
                    "partition-spec-id": str(spec_id).encode(),
                    "format-version": b"2",
                    "content": b"data",
                },
            )
            mp = os.path.join(meta_dir, f"{commit_uuid}-m{m_idx}.avro")
            m_idx += 1
            with open(mp, "wb") as fh:
                fh.write(data)
            written.append(mp)
            return mp, len(data)

        list_rows: list[dict] = []
        dropped_deletes = 0
        files_rewritten = 0
        for row in _decode_manifest_list(cur, location):
            if row.get("content", 0) != 0:
                dropped_deletes += 1  # absorbed: drop from the chain
                continue
            entries = _decode_manifest(row, location)
            live = [e for e in entries if e["status"] != 2]
            hit, survivors = [], []
            for e in live:
                (
                    hit
                    if norm_file_ref(e["data_file"]["file_path"], location)
                    in affected
                    else survivors
                ).append(e)
            if not hit:
                if live:
                    list_rows.append(dict(row))  # carry by reference
                continue
            files_rewritten += len(hit)
            mf_seq = int(row.get("sequence_number") or 0)

            def _seq(e):
                s = e.get("sequence_number")
                return mf_seq if s is None else int(s)

            rewritten = [
                {
                    "status": 0,  # EXISTING, original lineage kept
                    "snapshot_id": e.get("snapshot_id"),
                    "sequence_number": _seq(e),
                    "file_sequence_number": e.get(
                        "file_sequence_number", _seq(e)
                    ),
                    "data_file": e["data_file"],
                }
                for e in survivors
            ] + [
                {
                    "status": 2,  # DELETED by this snapshot
                    "snapshot_id": sid,
                    "sequence_number": _seq(e),
                    "file_sequence_number": e.get(
                        "file_sequence_number", _seq(e)
                    ),
                    "data_file": e["data_file"],
                }
                for e in hit
            ]
            spec_id = int(row.get("partition_spec_id") or 0)
            mp, mlen = _write_manifest(rewritten, spec_id)
            list_rows.append(
                {
                    "manifest_path": "file://" + mp,
                    "manifest_length": mlen,
                    "partition_spec_id": spec_id,
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": row.get(
                        "min_sequence_number", 0
                    ),
                    "added_snapshot_id": sid,
                    "added_files_count": 0,
                    "existing_files_count": len(survivors),
                    "deleted_files_count": len(hit),
                    "added_rows_count": 0,
                    "existing_rows_count": sum(
                        e["data_file"]["record_count"] for e in survivors
                    ),
                    "deleted_rows_count": sum(
                        e["data_file"]["record_count"] for e in hit
                    ),
                }
            )

        # new ADDED manifests, one per spec id among rewritten groups
        new_by_spec: dict[int, list[dict]] = {}
        for nf in new_files:
            g = group_info[nf["gid"]]
            new_by_spec.setdefault(g["spec_id"], []).append(nf)
        for spec_id, nfs in sorted(new_by_spec.items()):
            sp, pcols, ptypes, _fids = _spec_struct(spec_id)
            entries = [
                {
                    "status": 1,  # ADDED
                    "snapshot_id": sid,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": "file://" + nf["path"],
                        "file_format": "PARQUET",
                        "partition": {
                            c: group_info[nf["gid"]]["partition"].get(c)
                            for c in pcols
                        },
                        "record_count": nf["rows"],
                        "file_size_in_bytes": nf["size"],
                        "value_counts": None,
                        "null_value_counts": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                    },
                }
                for nf in nfs
            ]
            mp, mlen = _write_manifest(entries, spec_id)
            list_rows.append(
                {
                    "manifest_path": "file://" + mp,
                    "manifest_length": mlen,
                    "partition_spec_id": spec_id,
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": sid,
                    "added_files_count": len(nfs),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": sum(nf["rows"] for nf in nfs),
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )

        snap_path = os.path.join(
            meta_dir, f"snap-{sid}-1-{commit_uuid}.avro"
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
        written.append(snap_path)

        snapshot = {
            "snapshot-id": sid,
            "sequence-number": seq,
            "timestamp-ms": ts,
            "summary": {
                "operation": "replace",
                "rewritten-data-files": str(files_rewritten),
                "added-data-files": str(len(new_files)),
                "removed-delete-manifests": str(dropped_deletes),
                # data-file state is REWRITTEN; carry the fingerprint
                # forward so a fingerprint-gated exporter still no-ops
                # on an unchanged source state
                "engine.state-fingerprint": cur["summary"].get(
                    "engine.state-fingerprint", ""
                ),
            },
            "manifest-list": "file://" + snap_path,
            "schema-id": schema_json.get("schema-id", 0),
            "parent-snapshot-id": base_snap_id,
        }
        metadata = dict(prev)
        metadata["last-sequence-number"] = seq
        metadata["last-updated-ms"] = ts
        metadata["current-snapshot-id"] = sid
        metadata["snapshots"] = snapshots + [snapshot]
        metadata["snapshot-log"] = list(
            prev.get("snapshot-log", [])
        ) + [{"timestamp-ms": ts, "snapshot-id": sid}]

        if _publish_metadata(meta_dir, metadata, current_v + 1):
            return {
                "version": current_v + 1,
                "snapshot_id": sid,
                "files_rewritten": files_rewritten,
                "files_written": len(new_files),
                "delete_manifests_dropped": dropped_deletes,
                "rows_written": sum(nf["rows"] for nf in new_files),
            }
        for orphan in written:
            try:
                os.remove(orphan)
            except OSError:
                pass
    _cleanup()
    raise IcebergConcurrentModificationError(
        f"rewrite_iceberg_data_files: lost the commit race 8 times "
        f"under {meta_dir}"
    )


def upsert_iceberg_rows(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    *,
    on,
    table_properties: dict | Callable[[dict], dict] | None = None,
    extra_delete_keys: DataFrame | None = None,
) -> dict:
    """UPSERT ``df`` into the Iceberg table at ``path`` on key columns
    ``on`` — the CDC / Flink-upsert-sink shape (spec §Equality Delete
    Files): ONE snapshot carries (a) an EQUALITY-delete manifest whose
    files hold the distinct source keys (killing every OLDER row equal
    on them — equality deletes apply to data sequenced strictly
    before them) and (b) a data manifest ADDing the new rows at the
    same sequence number, so the appended rows themselves survive.
    No data file is read or rewritten — the merge cost is O(new rows)
    regardless of table size; ``rewrite_iceberg_data_files`` absorbs
    the accumulated deletes later, exactly like a Flink+Iceberg
    pipeline's maintenance job.

    ``df`` must match the table's declared schema exactly; callers
    de-duplicate keys upstream (duplicate source keys all insert).
    Identity-partitioned and unpartitioned tables only — the delete
    files are written GLOBAL (all-null partition scope, which every
    spec reader must honor), and new data files partition by the
    identity sources; transform-partitioned upserts refuse loudly.

    Returns ``{"version", "snapshot_id", "rows_inserted",
    "keys_deleted", "data_files", "delete_files"}``. Raises
    :class:`IcebergConcurrentModificationError` if the current
    snapshot moves between staging and commit.
    """
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf

    _refuse_manifest_lake(path, "upsert_iceberg_rows")
    on_cols = [on] if isinstance(on, str) else list(on)
    if not on_cols:
        raise ValueError("upsert_iceberg_rows: on=<key cols> required")
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    current_v, prev = _latest(meta_dir)
    if int(prev.get("format-version", 1)) != 2:
        raise ValueError(
            "upsert_iceberg_rows: equality deletes require format-"
            "version 2"
        )
    base_snap_id = prev.get("current-snapshot-id")
    if base_snap_id in (None, -1) or not prev.get("snapshots"):
        raise FileNotFoundError(
            "upsert_iceberg_rows: table has no current snapshot — "
            "create it with write_iceberg_table first"
        )
    schema_json = current_schema(prev)
    spec = next(
        s
        for s in prev["partition-specs"]
        if s["spec-id"] == prev["default-spec-id"]
    )
    by_name = {f["name"]: f for f in schema_json["fields"]}
    fname = {f["id"]: f["name"] for f in schema_json["fields"]}
    ftype = {f["name"]: f["type"] for f in schema_json["fields"]}
    bad = [pf for pf in spec["fields"] if pf["transform"] != "identity"]
    if bad:
        raise ValueError(
            "upsert_iceberg_rows: table is transform-partitioned "
            f"({[pf['transform'] for pf in bad]}) — only identity "
            "partitioning is supported; use delete+append explicitly"
        )
    part_cols = [
        pf.get("name") or fname[pf["source-id"]] for pf in spec["fields"]
    ]
    part_types = {c: ftype[c] for c in part_cols}
    unsup = [c for c in part_cols if part_types[c] not in ("int", "long", "string")]
    if unsup:
        raise ValueError(
            f"upsert_iceberg_rows: partition column types {unsup} not "
            "supported by the hive-dir staging writer"
        )
    declared = [f["name"] for f in schema_json["fields"]]
    if sorted(df.columns) != sorted(declared):
        raise ValueError(
            f"upsert_iceberg_rows: df columns {sorted(df.columns)} != "
            f"table schema {sorted(declared)}"
        )
    from incubator_gobblin_spark.sources.iceberg_import import _spark_type

    ours = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    theirs = {
        f["name"]: _spark_type(f["type"]).simpleString()
        for f in schema_json["fields"]
    }
    # exact match or one of the spec's lossless type PROMOTIONS
    # (int->long, float->double — the widenings readers must accept,
    # and what the schema author applies when inferring from footers)
    _promotable = {("int", "bigint"), ("float", "double")}

    def _ok(c):
        return ours[c] == theirs[c] or (ours[c], theirs[c]) in _promotable

    bad_t = {c: (ours[c], theirs[c]) for c in ours if not _ok(c)}
    if bad_t:
        raise ValueError(
            "upsert_iceberg_rows: df column types differ from the "
            f"table schema: {bad_t} — cast explicitly"
        )
    missing = [c for c in on_cols if c not in by_name]
    if missing:
        raise ValueError(f"upsert_iceberg_rows: key columns {missing} not in schema")
    equality_ids = [by_name[c]["id"] for c in on_cols]

    # ---- stage new data files (hive layout: partition cols dropped
    # from the files, exactly the standalone writer's shape) ----
    data_files = _stage_iceberg_data(
        df.select(*declared), location, part_cols
    )
    new_paths = [f["path"] for f in data_files]

    # ---- stage equality-delete parquet(s): the DISTINCT source keys,
    # written distributed (a CDC batch's key set can be large) ----
    del_root = os.path.join(location, "_deletes")
    os.makedirs(del_root, exist_ok=True)
    del_staging = os.path.join(
        location, f".upsert-del-{_uuid.uuid4().hex[:12]}"
    )
    delete_parts: list[dict] = []
    try:
        keys = df.select(*on_cols)
        if extra_delete_keys is not None:
            # pure DELETIONS riding the same atomic commit — the CDC
            # apply shape (a replication batch's net outcome per key
            # is upsert OR delete; both sides become equality-delete
            # keys, only the upserts also append rows)
            missing_k = [
                c for c in on_cols if c not in extra_delete_keys.columns
            ]
            if missing_k:
                raise ValueError(
                    "upsert_iceberg_rows: extra_delete_keys lacks key "
                    f"columns {missing_k}"
                )
            keys = keys.unionByName(extra_delete_keys.select(*on_cols))
        from incubator_gobblin_spark.session import rebalance_for_write

        rebalance_for_write(keys.distinct()).write.mode(
            "overwrite"
        ).parquet(del_staging)
        import pyarrow.parquet as pq

        for fp in _move_parts(del_staging, del_root, "eq-upsert"):
            n = pq.read_metadata(fp).num_rows
            if n == 0:
                os.remove(fp)
                continue
            new_paths.append(fp)
            delete_parts.append(
                {"path": fp, "rows": int(n), "size": os.path.getsize(fp)}
            )
    finally:
        shutil.rmtree(del_staging, ignore_errors=True)

    def _cleanup():
        for fp in new_paths:
            try:
                os.remove(fp)
            except OSError:
                pass

    if not data_files and not delete_parts:
        return {
            "version": current_v,
            "snapshot_id": base_snap_id,
            "rows_inserted": 0,
            "keys_deleted": 0,
            "data_files": 0,
            "delete_files": 0,
        }

    def _typed(v, t):
        if v is None:
            return None
        return int(v) if t in ("int", "long") else v

    # ---- commit loop ----
    for _ in range(8):
        versions = _metadata_versions(meta_dir)
        if versions[-1] != current_v:
            now = load_metadata(meta_dir, versions[-1])
            if now.get("current-snapshot-id") != base_snap_id:
                _cleanup()
                raise IcebergConcurrentModificationError(
                    f"upsert_iceberg_rows: {location} advanced from "
                    f"snapshot {base_snap_id} while this upsert was "
                    "staging — re-run it (upsert ordering matters)"
                )
            prev, current_v = now, versions[-1]

        snapshots = list(prev["snapshots"])
        cur = next(
            s for s in snapshots if s["snapshot-id"] == base_snap_id
        )
        sid = seq = next_snapshot_id(prev)
        ts = int(_time.time() * 1000)
        commit_uuid = str(
            _uuid.uuid5(_uuid.NAMESPACE_URL, f"{location}#upsert#{sid}")
        )
        part_struct = _partition_struct_avro(part_cols, part_types)
        entry_schema = _manifest_entry_avro(part_struct)
        manifest_meta = {
            "schema": json.dumps(schema_json).encode(),
            "partition-spec": json.dumps(spec["fields"]).encode(),
            "partition-spec-id": str(spec["spec-id"]).encode(),
            "format-version": b"2",
        }
        written: list[str] = []
        list_rows = [
            dict(r) for r in _decode_manifest_list(cur, location)
        ]

        # (a) the equality-delete manifest — GLOBAL scope. Per the
        # spec only a delete file written under an UNPARTITIONED spec
        # applies globally; under the table's partitioned spec an
        # all-null tuple would mean "the null partition" to conformant
        # readers (Spark/Trino/PyIceberg) and silently resurrect every
        # superseded row version. So the delete manifest is written
        # under the table's unpartitioned spec (added to
        # partition-specs if absent), with an EMPTY partition struct;
        # it applies to data sequenced strictly before `seq`.
        unpart_id, all_specs = _unpartitioned_spec(prev)
        if delete_parts:
            entries = [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 2,  # EQUALITY_DELETES
                        "file_path": "file://" + p["path"],
                        "file_format": "PARQUET",
                        "partition": {},
                        "record_count": p["rows"],
                        "file_size_in_bytes": p["size"],
                        "value_counts": None,
                        "null_value_counts": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": equality_ids,
                    },
                }
                for p in delete_parts
            ]
            mdata = encode_ocf(
                _manifest_entry_avro(_partition_struct_avro([], {})),
                entries,
                codec="null",
                extra_meta={
                    **manifest_meta,
                    "partition-spec": b"[]",
                    "partition-spec-id": str(unpart_id).encode(),
                    "content": b"deletes",
                },
            )
            mp = os.path.join(meta_dir, f"{commit_uuid}-m0.avro")
            with open(mp, "wb") as fh:
                fh.write(mdata)
            written.append(mp)
            list_rows.append(
                {
                    "manifest_path": "file://" + mp,
                    "manifest_length": len(mdata),
                    "partition_spec_id": unpart_id,
                    "content": 1,  # DELETES
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": sid,
                    "added_files_count": len(delete_parts),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": sum(
                        p["rows"] for p in delete_parts
                    ),
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )

        # (b) the data manifest — the new rows, same sequence number,
        # so the equality deletes (strictly-before rule) spare them
        if data_files:
            entries = [
                {
                    "status": 1,
                    "snapshot_id": sid,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": "file://" + f["path"],
                        "file_format": "PARQUET",
                        "partition": {
                            c: _typed(
                                f["partition"].get(c), part_types[c]
                            )
                            for c in part_cols
                        },
                        "record_count": f["rows"],
                        "file_size_in_bytes": f["size"],
                        "value_counts": None,
                        "null_value_counts": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                    },
                }
                for f in data_files
            ]
            mdata = encode_ocf(
                entry_schema,
                entries,
                codec="null",
                extra_meta={**manifest_meta, "content": b"data"},
            )
            mp = os.path.join(meta_dir, f"{commit_uuid}-m1.avro")
            with open(mp, "wb") as fh:
                fh.write(mdata)
            written.append(mp)
            list_rows.append(
                {
                    "manifest_path": "file://" + mp,
                    "manifest_length": len(mdata),
                    "partition_spec_id": spec["spec-id"],
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_snapshot_id": sid,
                    "added_files_count": len(data_files),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": sum(f["rows"] for f in data_files),
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )

        snap_path = os.path.join(
            meta_dir, f"snap-{sid}-1-{commit_uuid}.avro"
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
        written.append(snap_path)
        snapshot = {
            "snapshot-id": sid,
            "sequence-number": seq,
            "timestamp-ms": ts,
            "summary": {
                "operation": "overwrite",
                "added-data-files": str(len(data_files)),
                "added-delete-files": str(len(delete_parts)),
                "added-records": str(
                    sum(f["rows"] for f in data_files)
                ),
            },
            "manifest-list": "file://" + snap_path,
            "schema-id": schema_json.get("schema-id", 0),
            "parent-snapshot-id": base_snap_id,
        }
        metadata = dict(prev)
        if delete_parts:
            # the delete manifest references the unpartitioned spec —
            # the committed metadata must declare it
            metadata["partition-specs"] = all_specs
        metadata["last-sequence-number"] = seq
        metadata["last-updated-ms"] = ts
        metadata["current-snapshot-id"] = sid
        metadata["snapshots"] = snapshots + [snapshot]
        metadata["snapshot-log"] = list(
            prev.get("snapshot-log", [])
        ) + [{"timestamp-ms": ts, "snapshot-id": sid}]
        if table_properties:
            # ATOMIC with the data commit — the exactly-once hook for
            # ingestion watermarks (jobs.kafka_ingest stores consumed
            # offsets here; properties survive snapshot expiry, unlike
            # snapshot summaries). A callable is re-evaluated against
            # the REFRESHED prev properties on every commit attempt so
            # a monotonic watermark can merge with — instead of blindly
            # overwriting — a racer's properties-only advance (which
            # does not move current-snapshot-id and therefore does not
            # abort this commit).
            props = (
                table_properties(dict(prev.get("properties") or {}))
                if callable(table_properties)
                else table_properties
            )
            metadata["properties"] = {
                **(prev.get("properties") or {}),
                **{str(k): str(v) for k, v in props.items()},
            }

        if _publish_metadata(meta_dir, metadata, current_v + 1):
            return {
                "version": current_v + 1,
                "snapshot_id": sid,
                "rows_inserted": sum(f["rows"] for f in data_files),
                "keys_deleted": sum(p["rows"] for p in delete_parts),
                "data_files": len(data_files),
                "delete_files": len(delete_parts),
            }
        for orphan in written:
            try:
                os.remove(orphan)
            except OSError:
                pass
    _cleanup()
    raise IcebergConcurrentModificationError(
        f"upsert_iceberg_rows: lost the commit race 8 times under "
        f"{meta_dir}"
    )


def remove_iceberg_orphan_files(
    path: str,
    *,
    retention_hours: float = 168.0,
    dry_run: bool = False,
    allow_short_retention: bool = False,
) -> dict:
    """Physically delete files under the table's ``data/`` and
    ``_deletes/`` trees that no snapshot in the CURRENT metadata
    references and that are older than ``retention_hours`` —
    iceberg-core's RemoveOrphanFiles action, the Iceberg twin of
    :func:`~incubator_gobblin_spark.sinks.delta_maintenance.vacuum_delta`.
    Run ``expire_iceberg_snapshots`` first: a data file is freed only
    once every snapshot referencing it has been expired (rewritten
    originals, absorbed delete files, crashed-writer staging parts).

    ``metadata/`` is never touched (that chain is
    ``expire_iceberg_snapshots``'s job). Retention below 168h needs
    ``allow_short_retention=True`` — a reader planning against an
    older metadata version may still be reading the files. Driver-side
    listing only; ``dry_run=True`` returns the candidates.

    Returns ``{"files_deleted", "bytes_deleted", "candidates"}``.
    """
    from incubator_gobblin_spark.sources.iceberg_import import snapshot_files

    _refuse_manifest_lake(path, "remove_iceberg_orphan_files")
    if retention_hours < 168.0 and not allow_short_retention:
        raise ValueError(
            f"remove_iceberg_orphan_files: retention_hours="
            f"{retention_hours} is below the 168h safety floor — pass "
            "allow_short_retention=True to override"
        )
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    _, prev = _latest(meta_dir)

    referenced: set[str] = set()
    for snap in prev.get("snapshots", []):
        files, dels = snapshot_files(
            prev, location, snapshot_id=snap["snapshot-id"],
            collect_deletes=True,
        )
        referenced.update(
            norm_file_ref(f["path"], location) for f in files + dels
        )
        # DELETED entries keep their data_file rows in rewritten
        # manifests; snapshot_files drops them, but they are still
        # referenced by OLDER snapshots enumerated above — expired
        # history is the only thing that frees a file.

    cutoff = _time.time() - retention_hours * 3600.0
    candidates: list[str] = []
    bytes_deleted = 0
    for sub in ("data", "_deletes"):
        root = os.path.join(location, sub)
        if not os.path.isdir(root):
            continue
        for dirpath, _dirs, files in os.walk(root):
            for fn in files:
                if fn.startswith("."):
                    # hadoop .crc sidecars are owned by their base
                    # file: orphaned exactly when it is; anything
                    # else dot-prefixed is in-flight staging — skip
                    if not fn.endswith(".crc"):
                        continue
                    base = os.path.abspath(
                        os.path.join(dirpath, fn[1:-4])
                    )
                    if base in referenced:
                        continue
                fp = os.path.abspath(os.path.join(dirpath, fn))
                if fp in referenced:
                    continue
                try:
                    if os.path.getmtime(fp) >= cutoff:
                        continue
                    size = os.path.getsize(fp)
                except OSError:
                    continue
                candidates.append(fp)
                bytes_deleted += size
    if dry_run:
        return {
            "files_deleted": 0,
            "bytes_deleted": 0,
            "candidates": sorted(candidates),
        }
    for fp in candidates:
        try:
            os.remove(fp)
        except OSError:
            pass
    for sub in ("data", "_deletes"):
        root = os.path.join(location, sub)
        if not os.path.isdir(root):
            continue
        for dirpath, dirs, files in os.walk(root, topdown=False):
            if dirpath != root and not dirs and not files:
                try:
                    os.rmdir(dirpath)
                except OSError:
                    pass
    return {
        "files_deleted": len(candidates),
        "bytes_deleted": bytes_deleted,
        "candidates": [],
    }


def rollback_iceberg_table(path: str, snapshot_id: int) -> dict:
    """Roll the Iceberg table at ``path`` back to ``snapshot_id`` —
    iceberg-core ``ManageSnapshots.rollbackTo``: a METADATA-ONLY new
    version whose ``current-snapshot-id`` points at the historical
    snapshot (which must still be in the metadata's snapshot list —
    expired history is not rollbackable). No snapshot is created and
    none is deleted; readers of the table see the old state, time
    travel still reaches the abandoned newer snapshots, and
    ``expire_iceberg_snapshots`` refuses to expire the (now-current)
    target out from under readers.

    Put-if-absent publish; a concurrent commit raises
    :class:`IcebergConcurrentModificationError`. Returns
    ``{"version", "snapshot_id"}``.
    """
    _refuse_manifest_lake(path, "rollback_iceberg_table")
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    current_v, prev = _latest(meta_dir)
    if not any(
        s["snapshot-id"] == snapshot_id for s in prev.get("snapshots", [])
    ):
        raise ValueError(
            f"rollback_iceberg_table: snapshot {snapshot_id} is not in "
            "the table's history "
            f"({[s['snapshot-id'] for s in prev.get('snapshots', [])]})"
        )
    if prev.get("current-snapshot-id") == snapshot_id:
        return {"version": current_v, "snapshot_id": snapshot_id}
    ts = int(_time.time() * 1000)
    metadata = dict(prev)
    metadata["current-snapshot-id"] = snapshot_id
    metadata["last-updated-ms"] = ts
    metadata["snapshot-log"] = list(prev.get("snapshot-log", [])) + [
        {"timestamp-ms": ts, "snapshot-id": snapshot_id}
    ]
    version = _publish_or_conflict(
        "rollback_iceberg_table", meta_dir, metadata, current_v
    )
    return {"version": version, "snapshot_id": snapshot_id}


def set_iceberg_ref(
    path: str,
    name: str,
    snapshot_id: int | None = None,
    *,
    ref_type: str = "tag",
) -> dict:
    """Create or move a named ref — spec §refs / iceberg-core
    ``ManageSnapshots.createTag``/``createBranch``: a METADATA-ONLY
    version whose ``refs[name]`` points at ``snapshot_id`` (default:
    the current snapshot). Tagged/branched snapshots become retention
    ROOTS: ``expire_iceberg_snapshots`` keeps them no matter how old,
    so a tag is the durable audit/WAP pin the raw snapshot id is not.
    ``read_iceberg(spark, path, snapshot_id="<name>")`` resolves the
    name. Returns ``{"version", "name", "snapshot_id"}``.
    """
    if ref_type not in ("tag", "branch"):
        raise ValueError(f"set_iceberg_ref: ref_type {ref_type!r}")
    _refuse_manifest_lake(path, "set_iceberg_ref")
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    current_v, prev = _latest(meta_dir)
    sid = (
        prev.get("current-snapshot-id")
        if snapshot_id is None
        else snapshot_id
    )
    if not any(
        s["snapshot-id"] == sid for s in prev.get("snapshots", [])
    ):
        raise ValueError(
            f"set_iceberg_ref: snapshot {sid} is not in the table's "
            "history"
        )
    metadata = dict(prev)
    refs = dict(prev.get("refs") or {})
    refs[name] = {"snapshot-id": int(sid), "type": ref_type}
    metadata["refs"] = refs
    metadata["last-updated-ms"] = int(_time.time() * 1000)
    version = _publish_or_conflict(
        "set_iceberg_ref", meta_dir, metadata, current_v
    )
    return {"version": version, "name": name, "snapshot_id": int(sid)}


def drop_iceberg_ref(path: str, name: str) -> dict:
    """Remove a named ref (``ManageSnapshots.removeTag/removeBranch``);
    the snapshot it pinned becomes expirable again. Metadata-only,
    put-if-absent. Returns ``{"version", "name"}``."""
    _refuse_manifest_lake(path, "drop_iceberg_ref")
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    current_v, prev = _latest(meta_dir)
    refs = dict(prev.get("refs") or {})
    if name not in refs:
        raise ValueError(
            f"drop_iceberg_ref: no ref named {name!r} "
            f"(have {sorted(refs)})"
        )
    del refs[name]
    metadata = dict(prev)
    metadata["refs"] = refs
    metadata["last-updated-ms"] = int(_time.time() * 1000)
    version = _publish_or_conflict(
        "drop_iceberg_ref", meta_dir, metadata, current_v
    )
    return {"version": version, "name": name}


def set_iceberg_table_properties(
    path: str, props: dict | Callable[[dict], dict]
) -> dict:
    """Merge ``props`` into the table's properties map through a
    METADATA-ONLY put-if-absent version (iceberg-core
    ``UpdateProperties``). Used by ingestion jobs to advance a
    consumption watermark when a batch carried zero rows (a data
    commit advances it atomically via ``upsert_iceberg_rows``'s
    ``table_properties``). A callable receives the CURRENT properties
    and returns the entries to merge — the monotonic-watermark hook
    (max with a racer's value instead of blind overwrite). Returns
    ``{"version"}``."""
    _refuse_manifest_lake(path, "set_iceberg_table_properties")
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    current_v, prev = _latest(meta_dir)
    metadata = dict(prev)
    resolved = (
        props(dict(prev.get("properties") or {})) if callable(props) else props
    )
    metadata["properties"] = {
        **(prev.get("properties") or {}),
        **{str(k): str(v) for k, v in resolved.items()},
    }
    metadata["last-updated-ms"] = int(_time.time() * 1000)
    version = _publish_or_conflict(
        "set_iceberg_table_properties", meta_dir, metadata, current_v
    )
    return {"version": version}
