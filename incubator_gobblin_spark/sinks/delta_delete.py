"""Row-level DELETE on a Delta table via deletion vectors (no rewrite).

``delete_delta_rows`` commits the delta-io PROTOCOL.md §Deletion
Vectors shape: every data file with matching rows is *kept* and
re-``add``-ed with a deletion-vector descriptor marking the deleted row
indexes (the old ``add`` is ``remove``-d in the same commit), so a
DELETE touches O(matched rows) of bitmap bytes instead of rewriting
O(file) of data. A file whose every row dies is removed outright. The
engine's own :func:`~incubator_gobblin_spark.sources.delta_import.read_delta`
reads the result back (it decodes and anti-joins DVs), as would
delta-spark / delta-rs.

This is the write half of the DV surface — the read half landed with
``formats/deletion_vectors.py``. Reference parity: the reference's
row-level deletes rewrite whole files through the compaction/retention
jobs (gobblin-data-management
``.../retention/dataset/CleanableDatasetBase.java``,
``gobblin-compaction/.../mapreduce/MRCompactor.java``); a
metadata-plus-bitmap delete is the lake-native equivalent this engine
offers on its Delta interop surface.

Scale shape: the predicate runs inside one parquet scan (filter
pushdown applies), only the MATCHED (file, row_index) coordinates
shuffle (one exchange keyed on file path), each touched file's bitmap
is built and written by an executor task (``applyInPandas`` — the
driver never holds O(deleted rows)), and the driver collects one
descriptor row per touched file before publishing a single put-if-absent
commit JSON through ``delta_maintenance._publish_commit``, the one Delta
commit publisher; its change data files are staged through
``commit.stage_parquet``, the one staged-file writer.
"""

from __future__ import annotations

import json
import os
import time as _time

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.commit import _remove
from incubator_gobblin_spark.sources.delta_import import (
    _groups_of,
    _log_versions,
    _replay_state,
    add_file_path,
    anti_join_dvs,
    assemble_snapshot,
    check_reader_protocol,
    column_layout,
    column_mapping_mode,
    decoded_file_path,
)


class DeltaConcurrentModificationError(RuntimeError):
    """The table changed between the snapshot this DELETE scanned and
    its commit attempt — re-run against the new state (the delete was
    NOT applied)."""


#: writer features whose obligations a delete-only DV commit cannot
#: violate (deletes add no rows, change no values, keep row positions).
#: Features that DO obligate a deleting writer are gated on their
#: enabling table property below; anything not listed refuses loudly —
#: PROTOCOL.md's writer contract is "implement every writerFeature or
#: don't write".
_DELETE_SAFE_WRITER_FEATURES = {
    "appendOnly",  # gated on delta.appendOnly below
    "invariants",
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
    "changeDataFeed",  # gated on delta.enableChangeDataFeed below
    "columnMapping",
    "deletionVectors",
    "timestampNtz",
    "v2Checkpoint",
    "domainMetadata",
    # row ids survive a DV delete untouched: the re-add copies the old
    # add action verbatim (baseRowId and all) and row positions within
    # the file never move
    "rowTracking",
    "icebergCompatV1",  # gated on delta.enableIcebergCompatV1 below
    "icebergCompatV2",  # gated on delta.enableIcebergCompatV2 below
}

#: legacy protocol versions imply feature sets; an upgrade to the
#: table-features form (3, 7) must carry them forward explicitly
#: (PROTOCOL.md §Table Features — upgraded tables list every feature
#: the old version numbers enabled implicitly)
_LEGACY_WRITER_FEATURES = {
    2: ["appendOnly", "invariants"],
    3: ["checkConstraints"],
    4: ["changeDataFeed", "generatedColumns"],
    5: ["columnMapping"],
    6: ["identityColumns"],
}
_LEGACY_READER_FEATURES = {2: ["columnMapping"]}


def _check_delete_writable(proto: dict, meta: dict) -> None:
    """Refuse tables a DV delete commit would corrupt or whose declared
    writer obligations this engine does not honor."""
    conf = (meta or {}).get("configuration") or {}

    def _on(key: str) -> bool:
        return str(conf.get(key, "")).lower() == "true"

    if _on("delta.appendOnly"):
        raise ValueError(
            "delete_delta_rows: table sets delta.appendOnly=true — "
            "deletes are forbidden on this table"
        )
    if _on("delta.enableChangeDataFeed") and (
        column_mapping_mode(meta) != "none"
    ):
        raise ValueError(
            "delete_delta_rows: changeDataFeed + column mapping — "
            "_change_data files would need physical names/ids this "
            "writer does not author; refusing to break CDF readers"
        )
    for v in ("V1", "V2"):
        if _on(f"delta.enableIcebergCompat{v}"):
            raise ValueError(
                f"delete_delta_rows: delta.enableIcebergCompat{v}=true "
                "forbids deletion vectors — refusing"
            )
    mwv = int((proto or {}).get("minWriterVersion", 2))
    if mwv > 7:
        raise ValueError(
            f"delete_delta_rows: protocol minWriterVersion={mwv} is "
            "newer than this writer understands — refusing to write"
        )
    if mwv == 7:
        unknown = set(proto.get("writerFeatures") or []) - (
            _DELETE_SAFE_WRITER_FEATURES
        )
        if unknown:
            raise ValueError(
                "delete_delta_rows: table requires writer features "
                f"{sorted(unknown)} this engine does not implement — "
                "refusing to write a commit that may violate them"
            )


def _upgraded_protocol(proto: dict) -> dict | None:
    """The protocol action a DV-introducing commit must carry, or None
    when the table already declares deletionVectors both sides."""
    mrv = int((proto or {}).get("minReaderVersion", 1))
    mwv = int((proto or {}).get("minWriterVersion", 2))
    rfeats = set(proto.get("readerFeatures") or [])
    wfeats = set(proto.get("writerFeatures") or [])
    if mrv >= 3 and mwv >= 7 and "deletionVectors" in rfeats & wfeats:
        return None
    # carry the legacy-implied features into the table-features form —
    # ONLY when upgrading FROM a legacy version (PROTOCOL.md: at
    # version 7/3 the feature lists are already EXPLICIT; force-adding
    # every legacy feature to an explicit list would obligate readers
    # and writers to features the table never declared)
    if mwv < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if mwv >= v:
                wfeats.update(feats)
    if mrv < 3:
        for v, feats in _LEGACY_READER_FEATURES.items():
            if mrv >= v:
                rfeats.update(feats)
    rfeats.add("deletionVectors")
    wfeats.add("deletionVectors")
    return {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": sorted(rfeats),
        "writerFeatures": sorted(wfeats),
    }


def _stats_num_records(add: dict) -> int | None:
    """Physical row count from add.stats when the writer recorded it;
    None defers to a footer read executor-side (touched files only —
    a foreign table without stats must not cost the driver O(#files)
    footer reads for a one-file delete)."""
    stats = add.get("stats")
    if stats:
        try:
            n = json.loads(stats).get("numRecords")
            if n is not None:
                return int(n)
        except (ValueError, TypeError):
            pass
    return None


def _loosened_stats(add: dict) -> str | None:
    """add.stats with ``tightBounds: false`` — after a DV the min/max
    still bound the SURVIVING rows (loosely), numRecords stays the
    physical count (PROTOCOL.md §Per-file Statistics with DVs)."""
    stats = add.get("stats")
    if not stats:
        return None
    try:
        d = json.loads(stats)
    except (ValueError, TypeError):
        return stats
    d["tightBounds"] = False
    return json.dumps(d)


def _stage_cdf_deletes(
    spark,
    path: str,
    filtered,
    live: dict,
    meta: dict,
    layout,
    ts: int,
) -> list[dict]:
    """PROTOCOL.md §Add CDC File: a DV delete's commit mixes a remove
    and a re-add of the SAME path, which is NOT derivable from
    add/remove actions — CDF writers must author the deleted rows as
    _change_data files. The change set is the matched rows MINUS
    positions already dead under a standing DV (they were reported
    deleted by the commit that killed them; emitting them again would
    double-count). Returns the staged ``cdc`` action bodies."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        stage_cdc_files,
    )

    changes = anti_join_dvs(spark, filtered, path, live.values())
    changes = changes.select(*layout.logical_schema.fieldNames()).withColumn(
        "_change_type", F.lit("delete")
    )
    return stage_cdc_files(
        changes, path, list(meta.get("partitionColumns") or []), ts
    )


def _written_dvs(path: str, desc_rows) -> list[str]:
    """The deletion-vector files :func:`build_dv_descriptors` wrote for
    ``desc_rows``: staged files an aborted or no-op commit reclaims (or
    every lost race on a contended table leaves bitmaps for vacuum)."""
    from incubator_gobblin_spark.formats.deletion_vectors import dv_file_path

    out = []
    for r in desc_rows:
        fp = r._dv and dv_file_path(os.path.abspath(path), json.loads(r._dv))
        if fp:
            out.append(fp)
    return out


def build_dv_descriptors(spark, matched, path: str, live: dict) -> list:
    """Executor-side bitmap build shared by DELETE and MERGE: per
    touched file, union the newly matched positions with the file's
    existing DV (replace-descriptor semantics) and write the vector —
    unless the union covers every physical row, in which case no
    vector is written and the file is flagged for outright removal.
    ``matched`` is a DataFrame of (``_path`` decoded-abs string,
    ``_pos`` long); returns collected rows of (``_path``, ``_dv`` JSON
    or None, ``_card``). One exchange keyed on file path; the driver
    receives one descriptor row per touched file, never positions."""
    table_root = os.path.abspath(path)
    file_info = {
        os.path.abspath(add_file_path(path, rel)): (
            json.dumps(a["deletionVector"]) if a.get("deletionVector") else None,
            _stats_num_records(a),
        )
        for rel, a in live.items()
    }
    from incubator_gobblin_spark.sources.mock_kafka import _ship_package

    _ship_package(spark)
    # explicit broadcast: the per-file map is metadata-scale but a
    # closure pickle re-ships it with EVERY task — broadcast ships it
    # once per executor
    info_bc = spark.sparkContext.broadcast(file_info)

    def _build(pdf):
        import json as _json

        import pandas as _pd

        from incubator_gobblin_spark.formats.deletion_vectors import (
            read_dv_positions,
            write_dv_file,
        )

        fp = pdf["_path"].iloc[0]
        old_dv, nrec = info_bc.value[fp]
        if nrec is None:  # no stats: one footer read, touched files only
            import pyarrow.parquet as _pq

            nrec = _pq.read_metadata(fp).num_rows
        positions = set(int(p) for p in pdf["_pos"])
        if old_dv is not None:
            positions.update(read_dv_positions(table_root, _json.loads(old_dv)))
        if len(positions) >= nrec:
            return _pd.DataFrame(
                {"_path": [fp], "_dv": [None], "_card": [nrec]}
            )
        dv = write_dv_file(table_root, sorted(positions), storage="u")
        return _pd.DataFrame(
            {"_path": [fp], "_dv": [_json.dumps(dv)], "_card": [len(positions)]}
        )

    return (
        matched.groupBy("_path")
        .applyInPandas(_build, "_path string, _dv string, _card long")
        .collect()
    )


def _dv_commit_actions(
    path: str, live: dict, proto: dict, desc_rows, ts: int
) -> tuple[list[dict], int, int, int]:
    """The actions committing :func:`build_dv_descriptors`' rows, shared
    by DELETE and MERGE: the protocol upgrade deletion vectors need,
    then per touched file a ``remove`` of its live add and, unless every
    row is now dead, a re-add carrying the new vector with loosened
    stats. Returns ``(actions, rows newly deleted, files re-added with
    a vector, files removed outright)``."""
    from incubator_gobblin_spark.sinks.delta_maintenance import _remove_action

    if not desc_rows:
        return [], 0, 0, 0
    upgrade = _upgraded_protocol(proto)
    actions = [] if upgrade is None else [{"protocol": upgrade}]
    rel_of = {os.path.abspath(add_file_path(path, rel)): rel for rel in live}
    rows = dv_files = files_removed = 0
    for r in sorted(desc_rows, key=lambda x: x._path):
        old = live[rel_of[r._path]]
        old_card = int(
            (old.get("deletionVector") or {}).get("cardinality") or 0
        )
        rows += int(r._card) - old_card
        actions.append(_remove_action(old, ts, True))
        if r._dv is None:
            files_removed += 1
            continue
        add = {**old, "deletionVector": json.loads(r._dv), "dataChange": True}
        loosened = _loosened_stats(old)
        if loosened is not None:
            add["stats"] = loosened
        actions.append({"add": add})
        dv_files += 1
    return actions, rows, dv_files, files_removed


def delete_delta_rows(
    spark: SparkSession,
    path: str,
    condition=None,
    *,
    ids=None,
    on=None,
    union_threshold: int = 16,
    txn: tuple[str, int] | None = None,
) -> dict:
    """DELETE FROM the Delta table at ``path`` WHERE ``condition`` —
    committed as deletion vectors (PROTOCOL.md §Deletion Vectors), not
    file rewrites. ``condition`` is a Column or SQL string over the
    table's LOGICAL column names (column-mapped tables included, both
    modes; partition columns usable — they're restored before the
    filter).

    Returns ``{"version", "rows_deleted", "dv_files",
    "files_removed"}``; a zero-match delete commits nothing. Deleting
    from a file that already carries a DV unions the positions into a
    fresh vector (the protocol's replace-descriptor semantics); a file
    whose every physical row is now deleted is removed outright, no
    vector written.

    Purge form: pass ``ids`` (a DataFrame of keys) + ``on`` (the key
    column names) INSTEAD of ``condition`` — matching rows are found by
    a broadcast left-semi join (the GDPR-purge shape,
    ``jobs.purge.purge_lake``; reference
    HivePurgerQueryTemplate.java:82-89 is the same MAPJOIN with a
    whole-partition rewrite where this commits bitmaps). Exactly one
    of ``condition`` / ``ids`` must be given.

    Concurrency: the commit publishes put-if-absent
    (:func:`~incubator_gobblin_spark.commit.put_if_absent`). Losing the
    race re-replays — if the live state changed at all, the delete
    raises :class:`DeltaConcurrentModificationError` instead of
    committing positions computed against a stale snapshot.
    """
    if (condition is None) == (ids is None):
        raise ValueError(
            "delete_delta_rows: pass exactly one of condition / ids"
        )
    if ids is not None and not on:
        raise ValueError("delete_delta_rows: ids requires on=<key cols>")
    log_dir = os.path.join(path, "_delta_log")
    # pin the version FIRST, then replay exactly it: listing after the
    # replay would let a racer's commit land in between — versions[-1]
    # would equal current_v while the scanned state is stale, and the
    # commit-loop's re-replay guard would never fire (the Iceberg
    # writers' pin-then-load discipline)
    current_v = _log_versions(log_dir)[-1]
    live, meta, proto = _replay_state(log_dir, current_v)
    check_reader_protocol(proto, meta, live, allow_column_mapping=True)
    _check_delete_writable(proto, meta)
    if not live:
        return {
            "version": current_v,
            "rows_deleted": 0,
            "dv_files": 0,
            "files_removed": 0,
        }

    layout = column_layout(meta)
    df = assemble_snapshot(
        spark, _groups_of(path, live.values(), layout.pv_keys),
        layout.read_schema(spark), layout.part_cols, union_threshold,
        with_positions=True,
    )
    logical = layout.to_logical(df, "_file_path", "_row_index")
    if ids is not None:
        on_cols = [on] if isinstance(on, str) else list(on)
        filtered = logical.join(F.broadcast(ids), on=on_cols, how="left_semi")
    else:
        cond = (
            condition if isinstance(condition, Column) else F.expr(condition)
        )
        filtered = logical.filter(cond)
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        _publish_commit,
        cdf_enabled,
    )

    cdf_on = cdf_enabled(meta)
    if cdf_on:
        # the matched set is consumed TWICE on CDF tables (bitmap
        # build + cdc staging) — cache it once instead of re-running
        # the full scan + predicate per consumer
        filtered = filtered.persist()
    matched = (
        filtered
        .select(
            decoded_file_path("_file_path").alias("_path"),
            F.col("_row_index").alias("_pos"),
        )
    )

    staged: list[str] = []
    try:
        desc_rows = build_dv_descriptors(spark, matched, path, live)
        staged += _written_dvs(path, desc_rows)
        if not desc_rows:
            return {
                "version": current_v,
                "rows_deleted": 0,
                "dv_files": 0,
                "files_removed": 0,
            }

        ts = int(_time.time() * 1000)
        cdc = _stage_cdf_deletes(
            spark, path, filtered, live, meta, layout, ts
        ) if cdf_on else []
        staged += [add_file_path(path, c["path"]) for c in cdc]
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": ts,
                    "operation": "DELETE",
                    "engineInfo": "incubator-gobblin-spark dv delete",
                }
            }
        ]
        if txn is not None:
            # PROTOCOL.md §Transaction Identifiers — the idempotent-writer
            # stamp (replication/streaming epochs); rides the same commit
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
        dv_actions, rows_deleted, dv_files, files_removed = (
            _dv_commit_actions(path, live, proto, desc_rows, ts)
        )
        actions.extend(dv_actions)
    except BaseException:
        # no commit references the staged files yet
        _remove(staged)
        raise
    finally:
        if cdf_on:
            filtered.unpersist()
    if rows_deleted == 0 and files_removed == 0:
        # every matched position was ALREADY dead (a replayed window's
        # keyed delete, the jobs.replicate crash-recovery path): the
        # new bitmaps equal the standing ones, so committing would add
        # a pure no-op version — skip it, like delta-spark's
        # zero-affected-rows DELETE. The staged files are orphans;
        # reclaim them now.
        _remove(staged)
        return {
            "version": current_v,
            "rows_deleted": 0,
            "dv_files": 0,
            "files_removed": 0,
        }
    # a racer got in: ALL of (live files, metadata, protocol) must be
    # unchanged, not just the file state. A metadata-only racer can
    # change obligations this DELETE already validated against (enable
    # appendOnly/CDF, add a writer feature we don't implement), and
    # committing our protocol action computed from the OLD protocol
    # would silently drop the racer's upgraded feature list.
    version = _publish_commit(
        log_dir,
        actions,
        current_v,
        (live, meta, proto),
        staged=staged,
        op="delete_delta_rows",
    )
    return {
        "version": version,
        "rows_deleted": rows_deleted,
        "dv_files": dv_files,
        "files_removed": files_removed,
    }
