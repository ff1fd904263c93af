"""Delta table maintenance: standalone writer, OPTIMIZE, VACUUM.

Three engine-facing operations on a plain Delta table (one whose
``_delta_log`` is the source of truth — NOT a manifest-lake export,
where the manifest owns file lifetime and ``FileSink.compact_runs`` /
``FileSink.vacuum`` are the maintenance surface):

- :func:`write_delta_table` — author a Delta table directly from a
  DataFrame (create / append / overwrite), the minimal standalone
  write path next to the manifest lake's ``export_delta_log``
  projection. Files carry footer-derived per-file statistics so
  foreign readers (and this engine's ``prune_adds``) can file-skip.
- :func:`compact_delta_files` — the OPTIMIZE maintenance op
  (delta-spark ``OptimizeTableCommand``): bin-pack small files and
  ABSORB deletion vectors into clean rewrites, committed with
  ``dataChange=false`` so streams and CDF readers skip it. This is
  the missing third of the DV lifecycle — r9/r10 added the DV read
  and the DV DELETE write; compaction is what makes a
  delete-heavy table's scan cost converge back to O(live rows).
- :func:`vacuum_delta` — the VACUUM maintenance op: physically
  delete files no longer referenced by the CURRENT snapshot and
  older than the retention window (tombstoned data files, superseded
  deletion-vector bitmaps, crashed-writer orphans). Mirrors
  delta-spark's retention-check guard: short retention needs an
  explicit opt-in, because a concurrent reader of an old snapshot
  may still be reading the files.

Reference parity: the reference's compaction is an MR job per
partition/topic (gobblin-compaction
``.../mapreduce/MRCompactor.java``; selection policy in
``CompactionSuiteBase``) and its retention cleaner deletes dataset
versions past a policy window (gobblin-data-management
``.../retention/dataset/CleanableDatasetBase.java``). These are the
same two lifecycle ops re-expressed on the Delta protocol surface.

Scale shape: compaction runs ONE Spark job per rewritable partition
group (the reference's per-partition MR job shape) — each job is a
scan of just that group's selected files, a deletion-vector anti-join
(decoded executor-side), and a ``coalesce`` to the target file count;
the driver holds per-file metadata only, never rows. Vacuum is a
driver-side listing (file lifetime is metadata-scale — the same
listing cost every Delta vacuum implementation pays) with no Spark
job at all.
"""

from __future__ import annotations

import json
import math
import os
import time as _time
import uuid as _uuid
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from incubator_gobblin_spark.commit import _remove, put_if_absent, stage_parquet
from incubator_gobblin_spark.sinks.delta_delete import (
    DeltaConcurrentModificationError,
)
from incubator_gobblin_spark.sinks.delta_export import (
    _expire_delta_log_dir,
    _write_delta_checkpoint,
)
from incubator_gobblin_spark.sources.delta_import import (
    _commit_actions,
    _groups_of,
    _log_versions,
    _replay_state,
    add_file_path,
    anti_join_dvs,
    check_reader_protocol,
    column_layout,
    column_mapping_mode,
)
from incubator_gobblin_spark.sources.files import scan_files

#: writer features a value-preserving file rewrite cannot violate.
#: rowTracking is NOT here: rewriting moves rows across files, and a
#: conformant writer must then assign fresh baseRowIds — this engine
#: does not, so it refuses.
_COMPACT_SAFE_WRITER_FEATURES = {
    "appendOnly",  # OPTIMIZE changes no data: dataChange=false is legal
    "invariants",  # values unchanged, so invariants still hold
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
    "changeDataFeed",  # dataChange=false commits need no _change_data
    "columnMapping",
    "deletionVectors",
    "timestampNtz",
    "v2Checkpoint",
    "domainMetadata",
    "icebergCompatV1",
    "icebergCompatV2",
}


def _refuse_manifest_lake(path: str, op: str) -> None:
    if os.path.isdir(os.path.join(path, "_manifests")):
        raise ValueError(
            f"{op}: {path} is a manifest-commit lake (its _delta_log is "
            "an EXPORT projection; the next export_delta_log would diff "
            "against the manifest and undo this operation, resurrecting "
            "deleted rows) — use FileSink.compact_runs / FileSink.vacuum "
            "on the lake instead"
        )


def _footer_stats(md, skip_cols: set[str]) -> str:
    """add.stats JSON from one parquet footer's metadata (as
    :func:`~incubator_gobblin_spark.commit.stage_parquet` returns it) —
    numRecords always; min/max/nullCount for top-level leaf columns
    whose row-group statistics exist. Parquet writers may TRUNCATE
    binary stats, but truncation keeps them valid (loose) bounds —
    exactly what Delta stats are — so they are safe to export for
    skipping."""
    import datetime as _dt
    import decimal as _decimal

    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    null_unknown: set = set()  # a group without null_count poisons it

    def _json_safe(v):
        if isinstance(v, (bytes, _decimal.Decimal)):
            # binary doesn't serialize; a float()-rounded decimal could
            # TIGHTEN the bound — both drop instead
            return None
        if isinstance(v, _dt.datetime):
            # engine stats convention: 'T'-separated ISO, no zone
            # (matches _delta_file_stats' normalization)
            return v.isoformat()
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
            return None
        return v

    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name or name in skip_cols:
                continue  # nested leaves / partition cols: skip
            st = col.statistics
            if st is None:
                null_unknown.add(name)
                mins[name] = maxs[name] = None
                continue
            if st.null_count is None:
                # partial accumulation would UNDERCOUNT — drop instead
                null_unknown.add(name)
            else:
                nulls[name] = nulls.get(name, 0) + int(st.null_count)
            if not st.has_min_max:
                # one group without bounds poisons the column's bounds
                mins[name] = maxs[name] = None
                continue
            try:
                lo, hi = _json_safe(st.min), _json_safe(st.max)
            except Exception:
                # pyarrow can't extract stats for some physical types
                # (e.g. fixed-len decimals) — drop the bounds
                mins[name] = maxs[name] = None
                continue
            if lo is None or hi is None:
                mins[name] = maxs[name] = None
                continue
            if name not in mins or (mins[name] is not None and lo < mins[name]):
                mins[name] = lo
            if name not in maxs or (maxs[name] is not None and hi > maxs[name]):
                maxs[name] = hi

    out: dict = {"numRecords": int(md.num_rows)}
    mins = {k: v for k, v in mins.items() if v is not None}
    maxs = {k: v for k, v in maxs.items() if v is not None}
    if mins:
        out["minValues"] = mins
        out["maxValues"] = maxs
    nulls = {k: v for k, v in nulls.items() if k not in null_unknown}
    if nulls:
        out["nullCount"] = nulls
    return json.dumps(out)


def _staged_action(path: str, fp: str, partition: dict, size: int, **fields) -> dict:
    """The body of an ``add`` or ``cdc`` action for file ``fp`` staged
    under the table at ``path``."""
    rel = os.path.relpath(fp, path).replace(os.sep, "/")
    return {"path": quote(rel), "partitionValues": partition, "size": size, **fields}


def _remove_action(add: dict, ts: int, data_change: bool) -> dict:
    """The ``remove`` action retiring the live ``add``; a superseded
    deletion vector rides along so :func:`vacuum_delta` can clean the
    bitmap."""
    rm = {
        "path": add["path"],
        "deletionTimestamp": ts,
        "dataChange": data_change,
        "extendedFileMetadata": True,
        "partitionValues": add.get("partitionValues") or {},
        "size": add.get("size"),
    }
    if add.get("deletionVector"):
        rm["deletionVector"] = add["deletionVector"]
    return {"remove": rm}


def _publish_commit(
    log_dir: str,
    actions: list[dict],
    expect_version: int,
    pinned: tuple,
    *,
    staged: list[str],
    race_ok=None,
    op: str = "commit",
) -> int:
    """Publish ``actions`` as the next Delta log version through
    :func:`~incubator_gobblin_spark.commit.put_if_absent`; the one Delta
    commit publisher behind the DML and maintenance writers.

    ``pinned`` is the ``(live, meta, proto)`` replayed at
    ``expect_version``, the state the actions were computed from. Once
    the log has moved past it, the re-replayed state must pass
    ``race_ok`` (default: equal ``pinned`` — any change to the files,
    metadata or protocol invalidates the computed actions). A failed
    check, or losing the put 8 times, removes exactly ``staged`` (the
    absolute paths of the files this commit would have referenced) and
    raises :class:`DeltaConcurrentModificationError`."""
    data = "\n".join(json.dumps(a) for a in actions) + "\n"
    for _ in range(8):
        versions = _log_versions(log_dir)
        current = versions[-1] if versions else -1
        if current != expect_version:
            state = _replay_state(log_dir, None)
            if not (race_ok(state) if race_ok else state == pinned):
                _remove(staged)
                raise DeltaConcurrentModificationError(
                    f"{op}: {os.path.dirname(log_dir)} advanced from "
                    f"version {expect_version} to {current} with state, "
                    "metadata, or protocol changes while this operation "
                    "was computing — re-run it"
                )
        version = current + 1
        if put_if_absent(os.path.join(log_dir, f"{version:020d}.json"), data):
            return version
    _remove(staged)
    raise DeltaConcurrentModificationError(
        f"{op}: lost the commit race 8 times under {log_dir}"
    )


def _stage_adds(
    df: DataFrame,
    path: str,
    part_cols: list[str],
    ts: int,
    coalesce_output: bool = True,
) -> tuple[list[dict], int]:
    """The Delta data-file writer of write_delta_table and
    merge_delta_rows: stage ``df`` into the table tree (hive dirs for
    partitioned tables) through
    :func:`~incubator_gobblin_spark.commit.stage_parquet` and return the
    ``add`` actions with footer-derived stats plus the row total. An
    empty write keeps its one empty file. ``coalesce_output`` right-
    sizes output files via an AQE rebalance (session.rebalance_for_write)
    — pass False to keep the frame's own partitioning (layout-
    controlled writes, small-file test fixtures)."""
    from incubator_gobblin_spark.session import rebalance_for_write

    if coalesce_output:
        df = rebalance_for_write(df, part_cols)
    files = stage_parquet(df, path, path, "part-w", part_cols, keep_empty=True)
    adds = [
        _staged_action(
            path, fp, pvals, size,
            modificationTime=ts,
            dataChange=True,
            stats=_footer_stats(md, set(part_cols)),
        )
        for fp, pvals, md, size in files
    ]
    return adds, sum(md.num_rows for _, _, md, _ in files)


def cdf_enabled(meta: dict) -> bool:
    """True when the table records its change data feed
    (``delta.enableChangeDataFeed=true`` — PROTOCOL.md §Add CDC File:
    row-level change writers must then author ``_change_data`` files)."""
    conf = (meta or {}).get("configuration") or {}
    return str(conf.get("delta.enableChangeDataFeed", "")).lower() == "true"


def stage_cdc_files(
    changes: DataFrame, path: str, part_cols: list[str], ts: int
) -> list[dict]:
    """Write ``changes`` (table columns + ``_change_type``) as change
    data files under ``<table>/_change_data/`` and return the ``cdc``
    actions (PROTOCOL.md §Add CDC File: path + partitionValues + size,
    ``dataChange=false`` always — CDF rows never count as table data).
    Partitioned tables keep the hive layout inside ``_change_data``,
    with partition columns restored from ``partitionValues`` exactly
    like data files; ``_change_type`` rides IN the file. Empty files
    are dropped."""
    from incubator_gobblin_spark.session import rebalance_for_write

    return [
        _staged_action(path, fp, pvals, size, dataChange=False)
        for fp, pvals, _, size in stage_parquet(
            rebalance_for_write(changes, part_cols),
            path,
            os.path.join(path, "_change_data"),
            "part-cdc",
            part_cols,
        )
    ]


def write_delta_table(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | tuple[str, ...] = (),
    mode: str = "error",
    configuration: dict | None = None,
    coalesce_output: bool = True,
) -> dict:
    """Write ``df`` as a plain Delta table at ``path`` — the standalone
    write path (delta-io PROTOCOL.md): data parquet + ``_delta_log``
    JSON commits, protocol (1,2), footer-derived per-file stats
    (numRecords/minValues/maxValues/nullCount) so readers file-skip.
    ``coalesce_output=False`` keeps the frame's own partitioning
    instead of the default AQE-rebalanced file sizing.

    ``mode``: ``error`` (create, refuse if a table exists), ``append``
    (add files to an existing table — schema must match exactly),
    ``overwrite`` (remove every live file, add the new ones). Appends
    to tables with column mapping, row tracking, active constraints,
    or unknown writer features refuse loudly rather than author files
    those features obligate this writer to handle differently.

    Returns ``{"version", "files_written", "rows"}``.
    """
    if mode not in ("error", "append", "overwrite"):
        raise ValueError(f"write_delta_table: unknown mode {mode!r}")
    if configuration and mode != "error":
        raise ValueError(
            "write_delta_table: configuration is set at CREATE only "
            "(mode='error'); table properties of an existing table "
            "are not changed by appends/overwrites"
        )
    part_cols = list(partition_by)
    missing = [c for c in part_cols if c not in df.columns]
    if missing:
        raise ValueError(f"write_delta_table: partition_by {missing} not in df")
    log_dir = os.path.join(path, "_delta_log")
    exists = bool(
        os.path.isdir(log_dir) and _log_versions(log_dir)
    )
    if exists and mode == "error":
        raise FileExistsError(
            f"write_delta_table: Delta table already exists at {path} "
            "(mode='error'); use mode='append' or 'overwrite'"
        )

    prev_live: dict = {}
    prev_meta = prev_proto = None
    expect_version = -1
    if exists:
        # pin-then-replay (the delete writer's discipline): a racer's
        # commit between a latest-replay and the version listing would
        # pass the publish race check with stale state
        expect_version = _log_versions(log_dir)[-1]
        prev_live, prev_meta, prev_proto = _replay_state(
            log_dir, expect_version
        )
        _check_append_writable(prev_proto, prev_meta, mode)
        declared = json.loads(prev_meta["schemaString"])
        ours = json.loads(df.schema.json())
        if _schema_fields(declared) != _schema_fields(ours):
            raise ValueError(
                "write_delta_table: df schema does not match the "
                "table's declared schema — evolve the table explicitly"
            )
        if list(prev_meta.get("partitionColumns") or []) != part_cols:
            raise ValueError(
                "write_delta_table: partition_by "
                f"{part_cols} != table's {prev_meta.get('partitionColumns')}"
            )

    ts = int(_time.time() * 1000)
    adds, rows_total = _stage_adds(
        df, path, part_cols, ts, coalesce_output=coalesce_output
    )

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "WRITE",
                "operationParameters": {"mode": mode.upper()},
                "engineInfo": "incubator-gobblin-spark write_delta_table",
            }
        }
    ]
    if not exists:
        os.makedirs(log_dir, exist_ok=True)
        conf = {str(k): str(v) for k, v in (configuration or {}).items()}
        # CDF is a legacy writer-version-4 feature: declaring the
        # property without the protocol would let old writers mutate
        # the table with no _change_data authorship
        wv = 4 if cdf_enabled({"configuration": conf}) else 2
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": wv}}
        )
        actions.append(
            {
                "metaData": {
                    "id": str(_uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": part_cols,
                    "configuration": conf,
                    "createdTime": ts,
                }
            }
        )
    if mode == "overwrite" and exists:
        actions.extend(
            _remove_action(a, ts, True) for _, a in sorted(prev_live.items())
        )
    actions.extend({"add": a} for a in adds)

    version = _publish_commit(
        log_dir,
        actions,
        expect_version,
        (prev_live, prev_meta, prev_proto),
        staged=[add_file_path(path, a["path"]) for a in adds],
        # concurrent appends compose while metadata/protocol (the gates
        # this write passed) are unchanged; a create or an overwrite
        # raced by anything aborts
        race_ok=lambda state: (
            exists and mode == "append" and state[1:] == (prev_meta, prev_proto)
        ),
        op="write_delta_table",
    )
    return {"version": version, "files_written": len(adds), "rows": rows_total}


def _schema_fields(schema_json: dict) -> list[tuple]:
    return [
        (f["name"], json.dumps(f["type"], sort_keys=True))
        for f in schema_json.get("fields", [])
    ]


def _check_append_writable(proto: dict, meta: dict, mode: str) -> None:
    conf = (meta or {}).get("configuration") or {}

    def _on(key: str) -> bool:
        return str(conf.get(key, "")).lower() == "true"

    if mode == "overwrite":
        if _on("delta.appendOnly"):
            raise ValueError(
                "write_delta_table: delta.appendOnly=true forbids overwrite"
            )
        # changeDataFeed tables: an overwrite needs no cdc actions —
        # a commit that only removes whole files and adds whole files
        # is exactly the derivable shape (removes=deletes,
        # adds=inserts; PROTOCOL.md §Add CDC File), and
        # read_delta_changes derives it
    mode_cm = column_mapping_mode(meta)
    if mode_cm != "none":
        raise ValueError(
            "write_delta_table: table uses column mapping "
            f"(mode={mode_cm}) — new files need physical names/ids this "
            "writer does not author; refusing"
        )
    if any(k.startswith("delta.constraints.") for k in conf):
        raise ValueError(
            "write_delta_table: table declares CHECK constraints this "
            "writer does not evaluate — refusing"
        )
    mwv = int((proto or {}).get("minWriterVersion", 2))
    if mwv > 7:
        raise ValueError(
            f"write_delta_table: minWriterVersion={mwv} is newer than "
            "this writer understands"
        )
    if mwv == 7:
        feats = set(proto.get("writerFeatures") or [])
        unknown = feats - (_COMPACT_SAFE_WRITER_FEATURES - {"rowTracking"})
        if "rowTracking" in feats:
            raise ValueError(
                "write_delta_table: table enables rowTracking — new "
                "files need fresh baseRowIds this writer does not assign"
            )
        if unknown:
            raise ValueError(
                "write_delta_table: table requires writer features "
                f"{sorted(unknown)} this engine does not implement"
            )
    # invariants embedded in schema metadata (writer v2 feature)
    schema_json = json.loads((meta or {}).get("schemaString", "{}"))
    for f in schema_json.get("fields", []):
        if (f.get("metadata") or {}).get("delta.invariants"):
            raise ValueError(
                "write_delta_table: table declares column invariants "
                "this writer does not evaluate — refusing"
            )


def compact_delta_files(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    absorb_dvs: bool = True,
    union_threshold: int = 16,
) -> dict:
    """OPTIMIZE the Delta table at ``path``: within each partition,
    rewrite (a) every file carrying a deletion vector — the surviving
    rows come out as clean files and the bitmap is dropped — and (b)
    groups of 2+ files smaller than ``small_file_bytes`` (default
    ``target_file_bytes // 2``), bin-packed toward
    ``target_file_bytes``. Committed in ONE version with
    ``dataChange=false`` (delta-spark's OPTIMIZE shape: streams and
    CDF readers skip it; ``skipChangeCommits`` consumers keep
    working). Superseded deletion-vector descriptors ride the
    ``remove`` actions so :func:`vacuum_delta` can clean the bitmaps.

    Values are preserved bit-for-bit per column — column-mapped
    tables rewrite in PHYSICAL name space (mode=name) or carry
    ``parquet.field.id`` into the new footers (mode=id), so foreign
    readers resolve the compacted files exactly like the originals.

    Returns ``{"version", "files_compacted", "files_written",
    "dvs_absorbed", "rows_rewritten", "groups_rewritten"}``; a table
    with nothing to do commits nothing.
    """
    _refuse_manifest_lake(path, "compact_delta_files")
    log_dir = os.path.join(path, "_delta_log")
    # pin-then-replay: see write_delta_table
    current_v = _log_versions(log_dir)[-1]
    live, meta, proto = _replay_state(log_dir, current_v)
    check_reader_protocol(proto, meta, live, allow_column_mapping=True)
    _check_compactable(proto, meta)
    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2

    layout = column_layout(meta)
    data_fields = [
        f for f in layout.read_schema(spark).fields
        if f.name not in layout.part_cols
    ]
    data_schema = StructType(data_fields)

    # ---- selection: per partition tuple, DV'd files + small files ----
    groups: dict[tuple, list[tuple[str, dict]]] = {}
    for rel, a in live.items():
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(k) for k in layout.pv_keys)
        groups.setdefault(key, []).append((rel, a))

    plan: list[tuple[tuple, list[tuple[str, dict]]]] = []
    for key, members in groups.items():
        sel = [
            (rel, a)
            for rel, a in members
            if (absorb_dvs and a.get("deletionVector"))
            or int(a.get("size") or 0) < small_file_bytes
        ]
        has_dv = any(a.get("deletionVector") for _, a in sel)
        if (has_dv and sel) or len(sel) >= 2:
            plan.append((key, sorted(sel)))
    if not plan:
        return {
            "version": current_v,
            "files_compacted": 0,
            "files_written": 0,
            "dvs_absorbed": 0,
            "rows_rewritten": 0,
            "groups_rewritten": 0,
        }

    new_adds: list[dict] = []
    removes: list[dict] = []
    rows_rewritten = 0
    dvs_absorbed = 0
    staged: list[str] = []
    ts = int(_time.time() * 1000)

    # id-mode rewrites alias to physical names, keeping the field-id
    # metadata so Spark writes parquet field ids into the new footers
    if layout.mode == "id":
        out_cols = [
            F.col(f.name).alias(
                layout.phys_of[f.name], metadata=dict(f.metadata)
            )
            for f in data_fields
        ]
    else:
        out_cols = [F.col(f.name) for f in data_fields]

    try:
        for key, sel in plan:
            files = [add_file_path(path, rel) for rel, _ in sel]
            scan = scan_files(spark, files, schema=data_schema)
            df = anti_join_dvs(
                spark,
                scan.select(
                    "*",
                    F.col("_metadata.file_path").alias("_file_path"),
                    F.col("_metadata.row_index").alias("_row_index"),
                ),
                path,
                [a for _, a in sel],
            )
            live_bytes = sum(int(a.get("size") or 0) for _, a in sel)
            n_out = max(1, math.ceil(live_bytes / target_file_bytes))
            pvals = sel[0][1].get("partitionValues") or {}
            for fp, _, md, size in stage_parquet(
                df.select(*out_cols).coalesce(n_out),
                path,
                os.path.dirname(add_file_path(path, sel[0][0])),
                "part-c",
            ):
                staged.append(fp)
                rows_rewritten += md.num_rows
                # full footer stats, as delta-spark's OPTIMIZE
                # recomputes them — numRecords-only adds would
                # permanently degrade file skipping on every
                # compacted table
                new_adds.append(
                    _staged_action(
                        path, fp, pvals, size,
                        modificationTime=ts,
                        dataChange=False,
                        stats=_footer_stats(md, set(pvals)),
                    )
                )
            dvs_absorbed += sum(1 for _, a in sel if a.get("deletionVector"))
            removes.extend(_remove_action(a, ts, False) for _, a in sel)
    except BaseException:
        # one job per group: a later group's failure must not orphan
        # the files earlier groups already staged
        _remove(staged)
        raise

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "targetSize": str(target_file_bytes)
                },
                "engineInfo": "incubator-gobblin-spark compact",
            }
        }
    ]
    actions.extend(removes)
    actions.extend({"add": a} for a in new_adds)
    version = _publish_commit(
        log_dir,
        actions,
        current_v,
        (live, meta, proto),
        staged=staged,
        op="compact_delta_files",
    )
    return {
        "version": version,
        "files_compacted": len(removes),
        "files_written": len(new_adds),
        "dvs_absorbed": dvs_absorbed,
        "rows_rewritten": rows_rewritten,
        "groups_rewritten": len(plan),
    }


def merge_delta_rows(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    *,
    on,
    union_threshold: int = 16,
    txn: tuple[str, int] | None = None,
) -> dict:
    """MERGE (upsert) ``source`` into the Delta table at ``path`` on
    key columns ``on`` — the merge-on-read shape: every table row
    whose key appears in ``source`` is deletion-vector-deleted and
    every ``source`` row is appended, in ONE commit
    (``operation=MERGE``, PROTOCOL.md §Deletion Vectors) — the
    WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT * semantics
    of delta-spark's MergeIntoCommand, with bitmaps instead of
    copy-on-write file rewrites. ``source`` must match the table's
    declared schema exactly; callers de-duplicate keys upstream (two
    source rows with one key both insert — CDC feeds dedupe per
    checkpoint, the reference's compaction delta-merge argmax shape).

    Refuses manifest-commit lakes (new files would desync the
    manifest projection), column-mapped tables (new files need
    physical names/ids this writer does not author), and the same
    writer-feature obligations the DELETE and append gates enforce.

    Returns ``{"version", "rows_updated", "rows_inserted",
    "dv_files", "files_removed", "files_added"}``.

    Scale shape: one filtered scan + broadcast left-semi on the
    distinct source keys, one exchange of matched coordinates,
    executor-side bitmap writes, one partitioned staging write for
    the inserts — the driver holds per-file descriptors only.
    """
    from incubator_gobblin_spark.sinks.delta_delete import (
        _check_delete_writable,
        _written_dvs,
        build_dv_descriptors,
        _dv_commit_actions,
    )
    from incubator_gobblin_spark.sources.delta_import import (
        assemble_snapshot,
        decoded_file_path,
    )

    _refuse_manifest_lake(path, "merge_delta_rows")
    on_cols = [on] if isinstance(on, str) else list(on)
    if not on_cols:
        raise ValueError("merge_delta_rows: on=<key cols> required")
    log_dir = os.path.join(path, "_delta_log")
    # pin-then-replay: see write_delta_table
    current_v = _log_versions(log_dir)[-1]
    live, meta, proto = _replay_state(log_dir, current_v)
    check_reader_protocol(proto, meta, live, allow_column_mapping=True)
    _check_delete_writable(proto, meta)  # the DV half's obligations
    _check_append_writable(proto, meta, "append")  # the insert half's

    declared = json.loads(meta["schemaString"])
    if _schema_fields(declared) != _schema_fields(
        json.loads(source.schema.json())
    ):
        raise ValueError(
            "merge_delta_rows: source schema does not match the "
            "table's declared schema"
        )
    missing = [c for c in on_cols if c not in source.columns]
    if missing:
        raise ValueError(f"merge_delta_rows: key columns {missing} not in source")
    part_cols = list(meta.get("partitionColumns") or [])
    schema = StructType.fromJson(declared)

    # ---- matched coordinates (rows already DV-deleted re-match
    # harmlessly: the bitmap union is idempotent) ----
    desc_rows: list = []
    staged: list[str] = []
    cached = None
    try:
        if live:
            scan = assemble_snapshot(
                spark, _groups_of(path, live.values(), part_cols), schema,
                part_cols, union_threshold, with_positions=True,
            )
            keys = source.select(*on_cols).distinct()
            matched_rows = scan.join(
                F.broadcast(keys), on=on_cols, how="left_semi"
            )
            if cdf_enabled(meta):
                # the matched set feeds BOTH the bitmap build and the cdc
                # preimages below — cache it once instead of running the
                # full table scan + key join twice
                matched_rows = cached = matched_rows.persist()
            matched = matched_rows.select(
                decoded_file_path("_file_path").alias("_path"),
                F.col("_row_index").alias("_pos"),
            )
            desc_rows = build_dv_descriptors(spark, matched, path, live)
            staged += _written_dvs(path, desc_rows)

        ts = int(_time.time() * 1000)
        adds_new, rows_inserted = _stage_adds(source, path, part_cols, ts)
        staged += [add_file_path(path, a["path"]) for a in adds_new]

        cdc: list[dict] = []
        if cdf_enabled(meta):
            # PROTOCOL.md §Add CDC File: a MERGE that DV-deletes re-adds
            # the same paths, so its changes are NOT derivable from
            # add/remove — author the full change set as _change_data:
            # matched old rows (minus positions already dead under a
            # standing DV) as update_preimage, their replacements as
            # update_postimage, unmatched source rows as insert.
            logical_cols = [f.name for f in schema.fields]
            if live:
                pre = anti_join_dvs(
                    spark, matched_rows, path, live.values()
                ).select(*logical_cols)
                matched_keys = pre.select(*on_cols).distinct()
                changes = (
                    pre.withColumn("_change_type", F.lit("update_preimage"))
                    .unionByName(
                        source.join(
                            F.broadcast(matched_keys), on=on_cols,
                            how="left_semi",
                        ).withColumn(
                            "_change_type", F.lit("update_postimage")
                        )
                    )
                    .unionByName(
                        source.join(
                            F.broadcast(matched_keys), on=on_cols,
                            how="left_anti",
                        ).withColumn("_change_type", F.lit("insert"))
                    )
                )
            else:
                changes = source.withColumn("_change_type", F.lit("insert"))
            cdc = stage_cdc_files(changes, path, part_cols, ts)
            staged += [add_file_path(path, c["path"]) for c in cdc]

        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "MERGE",
                    "operationParameters": {
                        "matchedPredicates": json.dumps(
                            [{"actionType": "delete"}]
                        ),
                        "notMatchedPredicates": json.dumps(
                            [{"actionType": "insert"}]
                        ),
                    },
                    "engineInfo": "incubator-gobblin-spark merge",
                }
            }
        ]
        if txn is not None:
            # PROTOCOL.md §Transaction Identifiers: the idempotent-writer
            # stamp — a streaming MERGE marks each commit with (appId,
            # epoch) so a replayed epoch is detected and skipped
            # (StreamPipeline.to_delta_merge); rides the same atomic
            # commit as the data
            actions.append(
                {
                    "txn": {
                        "appId": str(txn[0]),
                        "version": int(txn[1]),
                        "lastUpdated": ts,
                    }
                }
            )
        actions.extend({"cdc": c} for c in cdc)
        dv_actions, rows_updated, dv_files, files_removed = _dv_commit_actions(
            path, live, proto, desc_rows, ts
        )
        actions.extend(dv_actions)
        actions.extend({"add": a} for a in adds_new)
    except BaseException:
        # no commit references the staged files yet
        _remove(staged)
        raise
    finally:
        if cached is not None:
            cached.unpersist()
    version = _publish_commit(
        log_dir,
        actions,
        current_v,
        (live, meta, proto),
        staged=staged,
        op="merge_delta_rows",
    )
    return {
        "version": version,
        "rows_updated": rows_updated,
        "rows_inserted": rows_inserted,
        "dv_files": dv_files,
        "files_removed": files_removed,
        "files_added": len(adds_new),
    }


def _check_compactable(proto: dict, meta: dict) -> None:
    mwv = int((proto or {}).get("minWriterVersion", 2))
    if mwv > 7:
        raise ValueError(
            f"compact_delta_files: minWriterVersion={mwv} is newer than "
            "this writer understands — refusing"
        )
    if mwv == 7:
        feats = set(proto.get("writerFeatures") or [])
        if "rowTracking" in feats:
            raise ValueError(
                "compact_delta_files: table enables rowTracking — a "
                "rewrite must assign fresh baseRowIds, which this "
                "engine does not; refusing"
            )
        unknown = feats - _COMPACT_SAFE_WRITER_FEATURES
        if unknown:
            raise ValueError(
                "compact_delta_files: table requires writer features "
                f"{sorted(unknown)} this engine does not implement — "
                "refusing"
            )


def vacuum_delta(
    path: str,
    *,
    retention_hours: float = 168.0,
    dry_run: bool = False,
    allow_short_retention: bool = False,
) -> dict:
    """VACUUM the Delta table at ``path``: physically delete every
    file under the table root that is (a) NOT referenced by the
    CURRENT snapshot — neither as a live data file nor as a live
    deletion-vector bitmap — and (b) older than ``retention_hours``:
    tombstoned files age by their remove action's
    ``deletionTimestamp`` (delta-spark's rule — an OPTIMIZE/MERGE/
    RESTORE tombstone written seconds ago protects a weeks-old file
    for the full window), untracked orphans by file mtime. Covers
    tombstoned data files, superseded DV bitmaps, and crashed-writer
    orphans. ``_delta_log`` is never touched (log
    retention is ``expire_delta_log``'s job); directories whose name
    starts with ``_`` or ``.`` are skipped unless they are partition
    dirs (contain ``=``) — delta-spark's exact listing rule.

    Retention below 168h requires ``allow_short_retention=True``
    (delta-spark's ``retentionDurationCheck``): a reader of an older
    snapshot may still be reading the files.

    Driver-side listing only — no Spark session needed; pass
    ``dry_run=True`` to get the candidate list without deleting.

    Returns ``{"files_deleted", "bytes_deleted", "candidates"}``
    (candidates only under dry_run).
    """
    _refuse_manifest_lake(path, "vacuum_delta")
    if retention_hours < 168.0 and not allow_short_retention:
        raise ValueError(
            f"vacuum_delta: retention_hours={retention_hours} is below "
            "the 168h safety floor — readers of recent snapshots may "
            "still reference these files; pass "
            "allow_short_retention=True to override"
        )
    log_dir = os.path.join(path, "_delta_log")
    live, meta, proto, removes = _replay_state(
        log_dir, None, collect_removes=True
    )
    check_reader_protocol(proto, meta, live, allow_column_mapping=True)

    from incubator_gobblin_spark.formats.deletion_vectors import (
        dv_file_path,
    )

    referenced: set[str] = set()
    for rel, a in live.items():
        referenced.add(os.path.abspath(add_file_path(path, rel)))
        if a.get("deletionVector"):
            dvp = dv_file_path(os.path.abspath(path), a["deletionVector"])
            if dvp:
                referenced.add(os.path.abspath(dvp))

    cutoff = _time.time() - retention_hours * 3600.0
    # A standing remove tombstone guards its file by deletionTimestamp,
    # NOT file mtime (delta-spark's VACUUM rule): a data file written
    # weeks ago but tombstoned seconds ago — by OPTIMIZE, MERGE,
    # overwrite, or RESTORE — must survive the full retention window
    # for concurrent readers and time travel. mtime only decides for
    # files the log never tracked (crashed-writer orphans).
    cutoff_ms = cutoff * 1000.0
    for rel, r in removes.items():
        ts = r.get("deletionTimestamp")
        if ts is None or float(ts) < cutoff_ms:
            continue
        referenced.add(os.path.abspath(add_file_path(path, rel)))
        if r.get("deletionVector"):
            dvp = dv_file_path(os.path.abspath(path), r["deletionVector"])
            if dvp:
                referenced.add(os.path.abspath(dvp))
    candidates: list[str] = []
    bytes_deleted = 0
    root = os.path.abspath(path)
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [
            d
            for d in dirs
            if "=" in d or not (d.startswith("_") or d.startswith("."))
        ]
        for fn in files:
            if fn.startswith("."):
                continue  # tmp files of in-flight writers
            fp = os.path.join(dirpath, fn)
            if os.path.abspath(fp) in referenced:
                continue
            try:
                if os.path.getmtime(fp) >= cutoff:
                    continue
                size = os.path.getsize(fp)
            except OSError:
                continue
            candidates.append(fp)
            bytes_deleted += size
    # _change_data (PROTOCOL.md §Add CDC File): cdc files referenced by
    # any commit STILL IN THE LOG serve CDF reads of those versions —
    # protected regardless of age. Unreferenced ones (aborted writers,
    # or files of commits expire_delta_log already pruned) age out by
    # mtime like other orphans. The main walk skips _-prefixed dirs,
    # so this is the only pass that sees them.
    cd_root = os.path.join(root, "_change_data")
    if os.path.isdir(cd_root):
        referenced_cdc = {
            os.path.abspath(add_file_path(root, act["cdc"]["path"]))
            for v in _log_versions(log_dir)
            for act in _commit_actions(log_dir, v)
            if "cdc" in act
        }
        for dirpath, _dirs, files in os.walk(cd_root):
            for fn in files:
                if fn.startswith("."):
                    continue
                fp = os.path.join(dirpath, fn)
                if os.path.abspath(fp) in referenced_cdc:
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
    # prune now-empty partition dirs (never the root or _delta_log)
    for dirpath, dirs, files in os.walk(root, topdown=False):
        if dirpath == root or "_delta_log" in dirpath:
            continue
        if not dirs and not files:
            try:
                os.rmdir(dirpath)
            except OSError:
                pass
    return {
        "files_deleted": len(candidates),
        "bytes_deleted": bytes_deleted,
        "candidates": [],
    }


def checkpoint_delta_table(path: str, *, part_size: int | None = None) -> dict:
    """Write a Delta checkpoint parquet + ``_last_checkpoint`` for the
    table's CURRENT version — the standalone sibling of the exporter's
    ``checkpoint_interval`` option, so a long-lived table written and
    mutated through this engine (write/DELETE/MERGE/OPTIMIZE) replays
    O(tail) instead of O(history). The checkpoint carries the full
    live state INCLUDING deletion-vector descriptors and the
    table-features protocol lists (a checkpoint that dropped either
    would resurrect deleted rows / strip writer obligations for any
    reader trusting ``_last_checkpoint``), plus the un-expired remove
    tombstones for vacuum-safety visibility.

    Returns ``{"version", "adds", "removes"}``. Pair with
    :func:`expire_delta_log` to bound the JSON chain.
    """
    from incubator_gobblin_spark.sources.delta_import import (
        last_txn_actions,
    )

    log_dir = os.path.join(path, "_delta_log")
    # pin-then-replay: a commit landing between a latest-replay and
    # the version listing would label the checkpoint with a version
    # whose actions it does NOT contain — readers replaying
    # checkpoint+tail would silently lose that commit forever
    version = _log_versions(log_dir)[-1]
    live, meta, proto, tombs = _replay_state(
        log_dir, version, collect_removes=True
    )
    check_reader_protocol(proto, meta, live, allow_column_mapping=True)
    standing = sorted(
        (r for p, r in tombs.items() if p not in live),
        key=lambda r: r["path"],
    )
    # txn/SetTransaction actions must survive (PROTOCOL.md: the
    # checkpoint is a complete replay source) — dropping them would
    # reset idempotent streaming writers' epoch watermarks and
    # double-apply replayed epochs after expire_delta_log
    txns = [
        t for _, t in sorted(last_txn_actions(log_dir, version).items())
    ]
    _write_delta_checkpoint(
        log_dir,
        version,
        [live[p] for p in sorted(live)],
        meta,
        proto,
        removes=standing,
        part_size=part_size,
        txns=txns,
    )
    return {"version": version, "adds": len(live), "removes": len(standing)}


def expire_delta_log(path: str) -> int:
    """Delta log retention for a standalone table: delete commit JSONs
    and checkpoints strictly older than the newest checkpoint (readers
    trusting ``_last_checkpoint`` replay checkpoint + tail). Returns
    the number of files removed; no-op until
    :func:`checkpoint_delta_table` has written a checkpoint."""
    return _expire_delta_log_dir(os.path.join(path, "_delta_log"))


def restore_delta_table(
    spark: SparkSession, path: str, version: int
) -> dict:
    """RESTORE the Delta table at ``path`` TO VERSION ``version`` —
    delta-spark's ``RestoreTableCommand``: one commit whose
    adds/removes turn the CURRENT live state back into the historical
    version's (files the old version had and the current lacks come
    back — deletion-vector descriptors included; files only the
    current has are removed; a file present in both but re-added with
    a different descriptor is swapped). The history is preserved —
    restore APPENDS a version; nothing is deleted (a later
    :func:`vacuum_delta` frees what nothing references). Metadata is
    restored too when the schema/configuration changed since.
    The protocol is never downgraded.

    Refuses manifest lakes and versions pruned by
    :func:`expire_delta_log` (the replay raises). Returns
    ``{"version", "files_added", "files_removed"}``.
    """
    from incubator_gobblin_spark.sinks.delta_delete import (
        _check_delete_writable,
    )

    _refuse_manifest_lake(path, "restore_delta_table")
    log_dir = os.path.join(path, "_delta_log")
    # pin-then-replay: see write_delta_table
    current_v = _log_versions(log_dir)[-1]
    live_old, meta_old, proto_old = _replay_state(log_dir, version)
    live_now, meta_now, proto_now = _replay_state(log_dir, current_v)
    # restoring resurrects/deletes rows: the same obligations a DELETE
    # carries (appendOnly forbids it, CDF needs _change_data, ...)
    _check_delete_writable(proto_now, meta_now)
    if version == current_v:
        return {
            "version": current_v,
            "files_added": 0,
            "files_removed": 0,
        }

    ts = int(_time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "RESTORE",
                "operationParameters": {"version": str(version)},
                "engineInfo": "incubator-gobblin-spark restore",
            }
        }
    ]
    if meta_old != meta_now and meta_old is not None:
        actions.append({"metaData": meta_old})
    file_actions: list[dict] = []
    removed = added = 0
    for rel in sorted(set(live_now) | set(live_old)):
        now_a = live_now.get(rel)
        old_a = live_old.get(rel)
        if now_a == old_a:
            continue
        if now_a is not None:
            file_actions.append(_remove_action(now_a, ts, True))
            removed += 1
        if old_a is not None:
            # the historical file may have been vacuumed after its
            # tombstone aged out — restoring a dangling add would
            # fabricate an unreadable table
            fp = add_file_path(path, rel)
            if not os.path.exists(fp):
                raise FileNotFoundError(
                    f"restore_delta_table: {rel} of version {version} "
                    "was physically removed (vacuum) — that version is "
                    "no longer restorable"
                )
            # the add's DV bitmap is a separate physical file vacuum
            # may also have reclaimed — committing without it would
            # leave HEAD referencing a missing vector and break reads
            dv = old_a.get("deletionVector")
            if dv and dv.get("storageType") in ("u", "p"):
                from incubator_gobblin_spark.formats.deletion_vectors import (
                    dv_file_path,
                )

                dvp = dv_file_path(os.path.abspath(path), dv)
                if dvp and not os.path.exists(dvp):
                    raise FileNotFoundError(
                        f"restore_delta_table: deletion vector of {rel} "
                        f"at version {version} was physically removed "
                        "(vacuum) — that version is no longer restorable"
                    )
            file_actions.append({"add": {**old_a, "dataChange": True}})
            added += 1
    cdc: list[dict] = []
    if cdf_enabled(meta_now):
        # PROTOCOL.md §Add CDC File: restore authors same-path
        # remove+re-add and DV-carrying adds — a commit shape CDF
        # readers cannot derive changes from. The row-level change set
        # is the exact multiset diff between the current and target
        # states, staged as _change_data (delta-spark's
        # RestoreTableCommand does the same) once every file the
        # restore re-adds is known to exist.
        from incubator_gobblin_spark.sources.delta_import import read_delta

        if column_mapping_mode(meta_now) in ("name", "id"):
            raise ValueError(
                "restore_delta_table: restoring a CDF-enabled table "
                "under column mapping is not supported (the change "
                "files would need physical-name authorship) — disable "
                "delta.enableChangeDataFeed for the restore or use a "
                "keyed merge instead"
            )
        cur_df = read_delta(spark, path, version=current_v)
        old_df = read_delta(spark, path, version=version)
        changes = (
            cur_df.exceptAll(old_df)
            .withColumn("_change_type", F.lit("delete"))
            .unionByName(
                old_df.exceptAll(cur_df).withColumn(
                    "_change_type", F.lit("insert")
                )
            )
        )
        cdc = stage_cdc_files(
            changes,
            path,
            list((meta_now or {}).get("partitionColumns") or []),
            ts,
        )
    actions.extend({"cdc": c} for c in cdc)
    actions.extend(file_actions)
    new_v = _publish_commit(
        log_dir,
        actions,
        current_v,
        (live_now, meta_now, proto_now),
        staged=[add_file_path(path, c["path"]) for c in cdc],
        op="restore_delta_table",
    )
    return {
        "version": new_v,
        "files_added": added,
        "files_removed": removed,
    }
