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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.commit import _move_parts, _remove, stage_parquet
from incubator_gobblin_spark.sinks.iceberg_export import (
    _AVRO_OF,
    IcebergConcurrentModificationError,
    _added,
    _authored_spec,
    _commit_snapshot,
    _data_file,
    _decode_manifest,
    _decode_manifest_list,
    _iceberg_schema,
    _metadata_versions,
    _partition_types,
    _publish_or_conflict,
    _rebase_or_conflict,
    _rewrite_entries,
    _table_fields,
    _typed_partition,
    _unpartitioned_spec,
    _write_manifest,
)
from incubator_gobblin_spark.sources.files import scan_files
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


def _stage_iceberg_data(
    df: DataFrame,
    location: str,
    part_cols: list[str],
    coalesce_output: bool = True,
) -> list[dict]:
    """The Iceberg data-file writer of write_iceberg_table and
    upsert_iceberg_rows: stage ``df`` under ``data/`` through
    :func:`~incubator_gobblin_spark.commit.stage_parquet` (hive dirs for
    partitioned tables — ``partitionBy`` drops the partition columns
    from the data files, the spec's hidden-partition file layout).
    Returns ``{path, partition (string-valued dict), rows, size}`` per
    file; an empty write keeps its one empty file, whose footer still
    carries the schema. ``coalesce_output`` right-sizes output files
    via an AQE rebalance (session.rebalance_for_write) — False keeps
    the frame's own partitioning."""
    from incubator_gobblin_spark.session import rebalance_for_write

    if coalesce_output:
        df = rebalance_for_write(df, part_cols)
    return [
        {"path": fp, "partition": pvals, "rows": md.num_rows, "size": size}
        for fp, pvals, md, size in stage_parquet(
            df,
            location,
            os.path.join(location, "data"),
            "part-w",
            part_cols,
            keep_empty=True,
        )
    ]


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
    data_paths = [f["path"] for f in files]
    try:
        schema, last_column_id, _ = _iceberg_schema(
            files[0]["path"], identity_cols, [f["partition"] for f in files]
        )
        # _iceberg_schema can only INFER identity partition types from
        # the hive-dir path strings (the export path's only evidence) —
        # but this writer HOLDS df.schema: a string column with
        # numeric-looking values ("00123") must not silently become long
        # (leading zeros lost forever, later upserts type-mismatched).
        # Override with the declared types; refuse types the manifest
        # partition encoding doesn't carry.
        spark_to_iceberg = {
            "bigint": "long",
            "int": "int",
            "smallint": "int",
            "tinyint": "int",
            "string": "string",
        }
        df_types = {
            f.name: f.dataType.simpleString() for f in df.schema.fields
        }
        for f in schema["fields"]:
            if f["name"] in identity_cols:
                f["type"] = spark_to_iceberg.get(df_types[f["name"]])
                if f["type"] is None:
                    raise ValueError(
                        "write_iceberg_table: unsupported identity "
                        f"partition column type {df_types[f['name']]!r} "
                        f"for {f['name']!r} — supported: "
                        f"{sorted(spark_to_iceberg)}"
                    )
        spec = _authored_spec(
            "write_iceberg_table", schema, part_cols, transforms_by_name
        )
        part_types = _partition_types(spec, schema)
        sid = seq = 1
        os.makedirs(meta_dir, exist_ok=True)
        mpath, row = _write_manifest(
            meta_dir,
            _added(
                sid,
                seq,
                [
                    _data_file(
                        f["path"],
                        f["rows"],
                        f["size"],
                        partition=_typed_partition(
                            f["partition"], part_types
                        ),
                    )
                    for f in files
                ],
            ),
            spec,
            schema,
            sid,
            seq,
        )
    except BaseException:
        _remove(data_paths)  # a refused table keeps no staged data file
        raise
    if not _commit_snapshot(
        meta_dir,
        1,
        {},
        rows=[row],
        written=[mpath, *data_paths],
        sid=sid,
        seq=seq,
        parent=None,
        summary={
            "operation": "append",
            "added-data-files": str(len(files)),
            "added-records": str(sum(f["rows"] for f in files)),
        },
        **_table_fields(location, schema, last_column_id, spec),
    ):
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
            scan_files(spark, pos_del_paths)
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
    for sp in prev.get("partition-specs", []):
        for name, t in _partition_types(sp, schema_json).items():
            if t not in _AVRO_OF:
                raise ValueError(
                    "rewrite_iceberg_data_files: partition field "
                    f"{name!r} of spec {sp['spec-id']} has "
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
        # the _gid dirs only group the new files; all land in data/
        out.write.partitionBy("_gid").mode("overwrite").parquet(staging)
        import pyarrow.parquet as pq

        for fn in sorted(os.listdir(staging)):
            if not fn.startswith("_gid="):
                continue
            gid = int(fn.split("=", 1)[1])
            for _, fp in _move_parts(
                os.path.join(staging, fn),
                os.path.join(location, "data"),
                "rewrite",
            ):
                new_paths.append(fp)
                n = pq.read_metadata(fp).num_rows
                if n == 0:
                    os.remove(fp)
                    continue
                new_files.append(
                    {
                        "path": fp,
                        "gid": gid,
                        "rows": n,
                        "size": os.path.getsize(fp),
                    }
                )
    except BaseException:
        _remove(new_paths)
        raise
    finally:
        shutil.rmtree(staging, ignore_errors=True)

    # ---- commit loop ----
    for _ in range(8):
        current_v = _metadata_versions(meta_dir)[-1]
        prev = _rebase_or_conflict(
            "rewrite_iceberg_data_files", meta_dir, current_v, prev, new_paths
        )
        cur = next(
            s for s in prev["snapshots"] if s["snapshot-id"] == base_snap_id
        )
        specs = {sp["spec-id"]: sp for sp in prev["partition-specs"]}
        sid = seq = next_snapshot_id(prev)
        written: list[str] = []
        list_rows: list[dict] = []

        def _manifest(entries: list[dict], spec_id: int) -> None:
            mp, row = _write_manifest(
                meta_dir, entries, specs[spec_id], schema_json, sid, seq
            )
            written.append(mp)
            list_rows.append(row)

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
                    list_rows.append(row)  # carry by reference
                continue
            files_rewritten += len(hit)
            _manifest(
                _rewrite_entries(row, survivors, hit, sid),
                int(row.get("partition_spec_id") or 0),
            )

        # new ADDED manifests, one per spec id among rewritten groups
        new_by_spec: dict[int, list[dict]] = {}
        for nf in new_files:
            g = group_info[nf["gid"]]
            new_by_spec.setdefault(g["spec_id"], []).append(nf)
        for spec_id, nfs in sorted(new_by_spec.items()):
            pcols = _partition_types(specs[spec_id], schema_json)
            added = [
                _data_file(
                    nf["path"],
                    nf["rows"],
                    nf["size"],
                    partition={
                        c: group_info[nf["gid"]]["partition"].get(c)
                        for c in pcols
                    },
                )
                for nf in nfs
            ]
            _manifest(_added(sid, seq, added), spec_id)

        if _commit_snapshot(
            meta_dir,
            current_v + 1,
            prev,
            rows=list_rows,
            written=written,
            sid=sid,
            seq=seq,
            parent=base_snap_id,
            summary={
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
        ):
            return {
                "version": current_v + 1,
                "snapshot_id": sid,
                "files_rewritten": files_rewritten,
                "files_written": len(new_files),
                "delete_manifests_dropped": dropped_deletes,
                "rows_written": sum(nf["rows"] for nf in new_files),
            }
    _remove(new_paths)
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
    bad = [pf for pf in spec["fields"] if pf["transform"] != "identity"]
    if bad:
        raise ValueError(
            "upsert_iceberg_rows: table is transform-partitioned "
            f"({[pf['transform'] for pf in bad]}) — only identity "
            "partitioning is supported; use delete+append explicitly"
        )
    part_types = _partition_types(spec, schema_json)
    part_cols = list(part_types)
    unsup = [c for c, t in part_types.items() if t not in ("int", "long", "string")]
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

    keys = df.select(*on_cols)
    if extra_delete_keys is not None:
        # pure DELETIONS riding the same atomic commit — the CDC apply
        # shape (a replication batch's net outcome per key is upsert OR
        # delete; both sides become equality-delete keys, only the
        # upserts also append rows)
        missing_k = [c for c in on_cols if c not in extra_delete_keys.columns]
        if missing_k:
            raise ValueError(
                "upsert_iceberg_rows: extra_delete_keys lacks key "
                f"columns {missing_k}"
            )
        keys = keys.unionByName(extra_delete_keys.select(*on_cols))

    # ---- stage new data files (hive layout: partition cols dropped
    # from the files, exactly the standalone writer's shape) ----
    data_files = _stage_iceberg_data(
        df.select(*declared), location, part_cols
    )
    new_paths = [f["path"] for f in data_files]

    # ---- stage equality-delete parquet(s): the DISTINCT source keys,
    # written distributed (a CDC batch's key set can be large) ----
    from incubator_gobblin_spark.session import rebalance_for_write

    try:
        staged = stage_parquet(
            rebalance_for_write(keys.distinct()),
            location,
            os.path.join(location, "_deletes"),
            "eq-upsert",
        )
    except BaseException:
        _remove(new_paths)
        raise
    new_paths += [fp for fp, *_ in staged]
    deletes = [  # EQUALITY_DELETES data files
        _data_file(fp, md.num_rows, size, content=2, equality_ids=equality_ids)
        for fp, _, md, size in staged
    ]

    if not data_files and not deletes:
        return {
            "version": current_v,
            "snapshot_id": base_snap_id,
            "rows_inserted": 0,
            "keys_deleted": 0,
            "data_files": 0,
            "delete_files": 0,
        }
    added = [
        _data_file(
            f["path"],
            f["rows"],
            f["size"],
            partition=_typed_partition(f["partition"], part_types),
        )
        for f in data_files
    ]
    rows_inserted = sum(f["rows"] for f in data_files)

    # ---- commit loop ----
    for _ in range(8):
        current_v = _metadata_versions(meta_dir)[-1]
        prev = _rebase_or_conflict(
            "upsert_iceberg_rows", meta_dir, current_v, prev, new_paths
        )
        cur = next(
            s for s in prev["snapshots"] if s["snapshot-id"] == base_snap_id
        )
        sid = seq = next_snapshot_id(prev)
        written: list[str] = []
        list_rows = _decode_manifest_list(cur, location)
        # (a) the equality-delete manifest — GLOBAL scope. Per the
        # spec only a delete file written under an UNPARTITIONED spec
        # applies globally; under the table's partitioned spec an
        # all-null tuple would mean "the null partition" to conformant
        # readers (Spark/Trino/PyIceberg) and silently resurrect every
        # superseded row version. So the delete manifest is written
        # under the table's unpartitioned spec (added to
        # partition-specs if absent), with an EMPTY partition struct;
        # it applies to data sequenced strictly before `seq`.
        # (b) the data manifest — the new rows, same sequence number,
        # so the equality deletes (strictly-before rule) spare them
        unpart = _unpartitioned_spec(prev)
        for files, manifest_spec in ((deletes, unpart), (added, spec)):
            if files:
                mp, row = _write_manifest(
                    meta_dir,
                    _added(sid, seq, files),
                    manifest_spec,
                    schema_json,
                    sid,
                    seq,
                )
                written.append(mp)
                list_rows.append(row)
        table = {}
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
            table["properties"] = {
                **(prev.get("properties") or {}),
                **{str(k): str(v) for k, v in props.items()},
            }
        if _commit_snapshot(
            meta_dir,
            current_v + 1,
            prev,
            rows=list_rows,
            written=written,
            sid=sid,
            seq=seq,
            parent=base_snap_id,
            summary={
                "operation": "overwrite",
                "added-data-files": str(len(data_files)),
                "added-delete-files": str(len(deletes)),
                "added-records": str(rows_inserted),
            },
            # the delete manifest references the unpartitioned spec —
            # the committed metadata must declare it
            partition_specs=[unpart] if deletes else [],
            **table,
        ):
            return {
                "version": current_v + 1,
                "snapshot_id": sid,
                "rows_inserted": rows_inserted,
                "keys_deleted": sum(d["record_count"] for d in deletes),
                "data_files": len(data_files),
                "delete_files": len(deletes),
            }
    _remove(new_paths)
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
