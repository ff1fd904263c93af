"""Delta Lake transaction-log export of a manifest lake.

The twin of :mod:`incubator_gobblin_spark.sinks.iceberg_export`:
``FileSink.export_delta_log`` and ``FileSink.expire_delta_log``
delegate here, and the standalone Delta writers in
:mod:`incubator_gobblin_spark.sinks.delta_maintenance` share the
checkpoint writer and the log retention.
"""

from __future__ import annotations

import json
import os
import time as _time
import uuid as _uuid
from urllib.parse import quote, unquote

from incubator_gobblin_spark.commit import put_if_absent
from incubator_gobblin_spark.sources.delta_import import (
    _log_versions,
    _replay_state,
    add_file_path,
    last_txn_actions,
)


def export_delta_log(
    sink,
    as_of_run: str | None = None,
    checkpoint_interval: int | None = None,
    checkpoint_part_size: int | None = None,
) -> str:
    """Export the committed snapshot as a Delta Lake transaction
    log (``_delta_log/``), the other publicly documented interop
    surface next to ``FileSink.export_symlink_manifest``: the Delta log
    is plain JSON-lines (delta-io PROTOCOL.md), so any Delta reader
    (Spark+delta jars, delta-rs, DuckDB's delta extension) pointed
    at the lake root sees EXACTLY the committed files — with
    partition values, sizes, and schema — no knowledge of this
    engine's manifest JSON required.

    Each call appends ONE Delta version: version 0 carries
    protocol + metaData + an ``add`` per live file; later exports
    diff against the replayed log and emit only ``remove``/``add``
    actions (a no-change export writes nothing). Re-exporting after
    every commit keeps the Delta view current; the export is a
    READ-ONLY projection of the manifest — this engine never reads
    the Delta log back.

    Offline caveat (stated for honesty): no Delta reader exists in
    this environment, so conformance is pinned structurally
    (replay-equals-snapshot, spec-required fields, partition
    encoding) rather than by a foreign engine end-to-end."""
    if sink.fmt != "parquet":
        raise ValueError("export_delta_log requires a parquet lake")
    manifest = sink.current_manifest(as_of_run)
    if manifest is None:
        raise FileNotFoundError(f"no committed manifest under {sink.path}")
    entries = manifest["entries"]

    log_dir = os.path.join(sink.path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)

    adds: dict[str, dict] = {}
    # timestamp-typed columns from one committed footer: the
    # normalization set for _delta_file_stats (typed, not guessed)
    ts_cols: set[str] = set()
    if entries:
        try:
            import pyarrow.parquet as _pq

            sch = _pq.read_schema(
                os.path.join(sink.path, entries[0]["file"])
            )
            import pyarrow as _pa

            ts_cols = {
                n
                for n in sch.names
                if _pa.types.is_timestamp(sch.field(n).type)
            }
        except Exception:
            ts_cols = set()
    for e in sorted(entries, key=lambda x: x["file"]):
        rel = e["file"].replace(os.sep, "/")
        fp = os.path.join(sink.path, e["file"])
        pvals: dict[str, str] = {}
        if e.get("partition"):
            for seg in e["partition"].replace(os.sep, "/").split("/"):
                k, _, v = seg.partition("=")
                pvals[k] = unquote(v)
        add = {
            "path": quote(rel),
            "partitionValues": pvals,
            "size": os.path.getsize(fp),
            "modificationTime": int(os.path.getmtime(fp) * 1000),
            "dataChange": True,
        }
        # Per-file statistics (PROTOCOL.md "Per-file Statistics"):
        # numRecords + min/maxValues from the stats the manifest
        # captured at publish — this is what lets a foreign Delta
        # reader FILE-SKIP on the exported table. Best-effort: an
        # entry without stats just exports without the field.
        stats = _delta_file_stats(e, ts_cols)
        if stats is not None:
            add["stats"] = stats
        adds[quote(rel)] = add

    # Exporter serialization: concurrent committers each trigger an
    # export after their own commit, outside any lock — so two
    # exporters can both replay to the same `version`, and NNN.json is published put-if-absent
    # (commit.put_if_absent). A loser re-replays — now seeing the
    # winner's commit — and recomputes its diff at the next
    # version, so no commit is ever silently shadowed by a
    # stale-replay diff.
    for _ in range(64):
        prev_versions = _log_versions(log_dir)
        live: dict[str, dict] = {}
        prev_tombs: dict[str, dict] = {}
        prev_meta: dict | None = None
        prev_proto: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        if prev_versions:
            # the shared replay starts from the newest checkpoint
            # when one exists, so per-commit export cost is O(tail)
            # on checkpointed lakes, not O(history)
            live, prev_meta, p, prev_tombs = _replay_state(
                log_dir, None, collect_removes=True
            )
            if p:
                prev_proto = p
        # next version = newest + 1, NOT len(): after expire_delta_
        # log prunes pre-checkpoint commits the list is no longer
        # dense from 0, and len() would collide with a live version
        # and spin the put-if-absent loop to exhaustion
        version = (prev_versions[-1] + 1) if prev_versions else 0

        removed = sorted(p for p in live if p not in adds)
        added = sorted(p for p in adds if p not in live)
        if version > 0 and not removed and not added:
            return log_dir  # snapshot unchanged: no empty commit

        ts = int(_time.time() * 1000)
        actions: list[dict] = [
            {"commitInfo": {"timestamp": ts, "operation": "WRITE",
                            "engineInfo": "incubator-gobblin-spark manifest export"}}
        ]
        if version == 0:
            actions.append(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            )
            sample = next(iter(adds.values()), None)
            schema = (
                _delta_schema_string(
                    add_file_path(sink.path, sample["path"]),
                    partition_cols=list(sink.partition_by),
                    partition_values=[
                        a["partitionValues"] for a in adds.values()
                    ],
                )
                if sample
                else json.dumps({"type": "struct", "fields": []})
            )
            actions.append(
                {
                    "metaData": {
                        # deterministic table id: re-exports of the same
                        # lake identify as the same Delta table
                        "id": str(
                            _uuid.uuid5(
                                _uuid.NAMESPACE_URL, os.path.abspath(sink.path)
                            )
                        ),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema,
                        "partitionColumns": list(sink.partition_by),
                        "configuration": {},
                        "createdTime": ts,
                    }
                }
            )
        for p in removed:
            actions.append(
                {"remove": {"path": p, "deletionTimestamp": ts,
                            "dataChange": True}}
            )
        for p in added:
            actions.append({"add": adds[p]})

        if not put_if_absent(
            os.path.join(log_dir, f"{version:020d}.json"),
            "\n".join(json.dumps(a) for a in actions) + "\n",
        ):
            continue  # lost the race: re-replay, diff at next version

        # Opt-in checkpointing: every `checkpoint_interval` versions,
        # compact the full live state into NNN.checkpoint.parquet +
        # _last_checkpoint so log replay is O(tail), not O(history).
        # Off by default: the JSON chain stays complete from version 0
        # either way, and a reader that trusts _last_checkpoint then
        # needs this checkpoint schema too — opting in is a statement
        # that your readers (read_delta here, or a real Delta engine)
        # consume checkpoints.
        if (
            checkpoint_interval
            and version > 0
            and version % checkpoint_interval == 0
        ):
            # prev_meta/prev_proto came out of the same replay that
            # produced `live`; version 0's metaData is in `actions`.
            # Tombstones = the replayed ones still standing (a path
            # re-added now clears its tombstone) + this version's
            # removes — PROTOCOL.md expects checkpoints to carry
            # un-expired remove tombstones so a reader trusting
            # _last_checkpoint keeps vacuum-safety metadata. Expiry
            # is the vacuum's concern; the export carries them all.
            meta = prev_meta or next(
                (a["metaData"] for a in actions if "metaData" in a), None
            )
            tombs = {
                p: r for p, r in prev_tombs.items() if p not in adds
            }
            for p in removed:
                tombs[p] = {
                    "path": p,
                    "deletionTimestamp": ts,
                    "dataChange": True,
                }
            _write_delta_checkpoint(
                log_dir,
                version,
                list(adds.values()),
                meta,
                prev_proto,
                removes=sorted(tombs.values(), key=lambda r: r["path"]),
                part_size=checkpoint_part_size,
                txns=[
                    t
                    for _, t in sorted(
                        last_txn_actions(log_dir, version).items()
                    )
                ],
            )
        return log_dir
    raise RuntimeError(
        f"export_delta_log: lost the commit-file race 64 times under "
        f"{log_dir} — a runaway concurrent exporter is appending "
        f"versions faster than this one can replay"
    )


def _delta_schema_string(
    parquet_file: str,
    partition_cols: list[str] | None = None,
    partition_values: list[dict] | None = None,
) -> str:
    """Spark-StructType-JSON schema string for a Delta ``metaData``
    action, derived from one committed parquet file's footer (no Spark
    session needed at export time). Covers the scalar/array/struct
    types this lake writes; an unmapped physical type raises loudly
    rather than emitting a schema a Delta reader would misparse.

    Hive-partitioned data files don't store the partition columns, so
    those are appended from the manifest's partition values with the
    only type evidence the path encoding keeps: all-integer values
    export as ``long``, anything else as ``string`` (the same
    inference Spark's own partition discovery applies before casting)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def spark_type(t: pa.DataType):
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_int8(t):
            return "byte"
        if pa.types.is_int16(t):
            return "short"
        if pa.types.is_int32(t):
            return "integer"
        if pa.types.is_int64(t):
            return "long"
        if pa.types.is_float32(t):
            return "float"
        if pa.types.is_float64(t):
            return "double"
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            return "string"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        if pa.types.is_date(t):
            return "date"
        if pa.types.is_timestamp(t):
            return "timestamp"
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return {
                "type": "array",
                "elementType": spark_type(t.value_type),
                "containsNull": True,
            }
        if pa.types.is_struct(t):
            return {
                "type": "struct",
                "fields": [
                    {
                        "name": t.field(i).name,
                        "type": spark_type(t.field(i).type),
                        "nullable": True,
                        "metadata": {},
                    }
                    for i in range(t.num_fields)
                ],
            }
        raise ValueError(f"export_delta_log: unmapped parquet type {t}")

    schema = pq.ParquetFile(parquet_file).schema_arrow
    fields = [
        {
            "name": f.name,
            "type": spark_type(f.type),
            "nullable": True,
            "metadata": {},
        }
        for f in schema
    ]
    present = {f["name"] for f in fields}
    for c in partition_cols or []:
        if c in present:
            continue
        vals = [
            pv.get(c) for pv in (partition_values or []) if pv.get(c) is not None
        ]
        all_int = bool(vals) and all(
            v.lstrip("-").isdigit() for v in vals
        )
        fields.append(
            {
                "name": c,
                "type": "long" if all_int else "string",
                "nullable": True,
                "metadata": {},
            }
        )
    return json.dumps({"type": "struct", "fields": fields})


def _expire_delta_log_dir(log_dir: str) -> int:
    """Shared body of Delta log retention (see
    ``FileSink.expire_delta_log``): delete commit JSONs and checkpoints
    strictly older than the newest checkpoint. Standalone tables call
    this through ``delta_maintenance.expire_delta_log``."""
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(lc_path):
        return 0
    with open(lc_path) as fh:
        cp_v = int(json.load(fh)["version"])
    removed = 0
    for f in os.listdir(log_dir):
        if ".tmp-" in f:
            continue  # a concurrent exporter's in-flight write
        v: int | None = None
        if f.endswith(".json") and f[:-5].isdigit():
            v = int(f[:-5])
            if v >= cp_v:
                continue
        elif ".checkpoint" in f and f.split(".")[0].isdigit():
            v = int(f.split(".")[0])
            if v >= cp_v:
                continue
        if v is None:
            continue
        try:
            os.remove(os.path.join(log_dir, f))
            removed += 1
        except OSError:
            pass
    return removed


def _delta_file_stats(entry: dict, ts_cols: set[str]) -> str | None:
    """One manifest entry's Delta ``add.stats`` JSON string
    (PROTOCOL.md Per-file Statistics: numRecords, minValues,
    maxValues). Values of TIMESTAMP-typed columns (``ts_cols``, from
    the table schema — never guessed from the value's shape, which
    would corrupt string columns that merely look like timestamps and
    desynchronize exported bounds from space-form filter literals) are
    re-separated with 'T' (the manifest stores ISO with a space; Delta
    readers parse the 'T' form). Returns None when the entry carries no
    row count — stats are an optimization, never a requirement."""
    rows = entry.get("rows")
    if rows is None:
        return None
    out: dict = {"numRecords": int(rows)}
    stats = entry.get("stats") or {}
    if stats:

        def _norm(c, v):
            if c in ts_cols and isinstance(v, str):
                return v.replace(" ", "T", 1)
            return v

        out["minValues"] = {c: _norm(c, v[0]) for c, v in stats.items()}
        out["maxValues"] = {c: _norm(c, v[1]) for c, v in stats.items()}
    nulls = entry.get("nulls") or {}
    if nulls:
        out["nullCount"] = {c: int(n) for c, n in nulls.items()}
    return json.dumps(out)


def _write_delta_checkpoint(
    log_dir: str,
    version: int,
    adds: list[dict],
    meta: dict | None,
    proto: dict,
    removes: list[dict] | None = None,
    part_size: int | None = None,
    txns: list[dict] | None = None,
) -> None:
    """Write a Delta checkpoint parquet (one row per action: protocol,
    metaData, every live add, every un-expired remove tombstone, every
    appId's latest txn/SetTransaction — dropping those would reset
    idempotent streaming writers' epoch watermarks) + the
    ``_last_checkpoint`` pointer — pyarrow-direct, no Spark session at
    export time. Schema follows the checkpoint-files section of
    delta-io PROTOCOL.md (nullable action structs; partitionValues/
    options/configuration as string maps). Tombstones matter to foreign
    engines that trust ``_last_checkpoint``: without them a reader
    loses vacuum-safety visibility even though live-state replay stays
    correct."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    smap = pa.map_(pa.string(), pa.string())
    # deletion vectors MUST survive a checkpoint (PROTOCOL.md: the
    # checkpoint is a complete replay source) — a schema without the
    # descriptor would silently resurrect deleted rows for any reader
    # trusting _last_checkpoint
    dv_t = pa.struct(
        [
            ("storageType", pa.string()),
            ("pathOrInlineDv", pa.string()),
            ("offset", pa.int32()),
            ("sizeInBytes", pa.int32()),
            ("cardinality", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", smap),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", dv_t),
        ]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", pa.struct([("provider", pa.string()), ("options", smap)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", smap),
            ("createdTime", pa.int64()),
        ]
    )
    # table-features form (3,7) carries feature LISTS; dropping them
    # in a checkpoint would strip obligations (deletionVectors,
    # columnMapping...) from checkpoint-trusting replays
    proto_t = pa.struct(
        [
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]
    )

    removes = removes or []
    txns = txns or []
    txn_t = pa.struct(
        [
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]
    )
    remove_t = pa.struct(
        [
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
            ("deletionVector", dv_t),
        ]
    )
    rows_proto = [proto] + [None] * (
        1 + len(adds) + len(removes) + len(txns)
    )
    meta_row = (
        {
            "id": meta.get("id") if meta else None,
            "format": (meta or {}).get("format", {"provider": "parquet", "options": {}}),
            "schemaString": (meta or {}).get("schemaString"),
            "partitionColumns": (meta or {}).get("partitionColumns", []),
            "configuration": list(((meta or {}).get("configuration") or {}).items()),
            "createdTime": (meta or {}).get("createdTime"),
        }
        if meta
        else None
    )
    if meta_row and meta_row["format"]:
        meta_row["format"] = {
            "provider": meta_row["format"].get("provider"),
            "options": list((meta_row["format"].get("options") or {}).items()),
        }
    rows_meta = [None, meta_row] + [None] * (
        len(adds) + len(removes) + len(txns)
    )
    def _dv_row(action: dict):
        dv = action.get("deletionVector")
        if not dv:
            return None
        return {
            "storageType": dv.get("storageType"),
            "pathOrInlineDv": dv.get("pathOrInlineDv"),
            "offset": dv.get("offset"),
            "sizeInBytes": dv.get("sizeInBytes"),
            "cardinality": dv.get("cardinality"),
        }

    rows_add = [None, None] + [
        {
            "path": a["path"],
            "partitionValues": list((a.get("partitionValues") or {}).items()),
            "size": a.get("size"),
            "modificationTime": a.get("modificationTime"),
            "dataChange": bool(a.get("dataChange", True)),
            "stats": a.get("stats"),
            "deletionVector": _dv_row(a),
        }
        for a in adds
    ] + [None] * (len(removes) + len(txns))
    rows_remove = [None] * (2 + len(adds)) + [
        {
            "path": r["path"],
            "deletionTimestamp": r.get("deletionTimestamp"),
            "dataChange": bool(r.get("dataChange", True)),
            "deletionVector": _dv_row(r),
        }
        for r in removes
    ] + [None] * len(txns)
    rows_txn = [None] * (2 + len(adds) + len(removes)) + [
        {
            "appId": t["appId"],
            "version": t.get("version"),
            "lastUpdated": t.get("lastUpdated"),
        }
        for t in txns
    ]
    total = len(rows_proto)

    def _write_part(path: str, sl: slice) -> None:
        table = pa.table(
            {
                "protocol": pa.array(rows_proto[sl], type=proto_t),
                "metaData": pa.array(rows_meta[sl], type=meta_t),
                "add": pa.array(rows_add[sl], type=add_t),
                "remove": pa.array(rows_remove[sl], type=remove_t),
                "txn": pa.array(rows_txn[sl], type=txn_t),
            }
        )
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(table, tmp)
        os.replace(tmp, path)

    parts_n = None
    if part_size and total > part_size:
        # multi-part checkpoint (PROTOCOL.md {v}.checkpoint.{i}.{n}
        # .parquet, 1-indexed): at 100 TB a live set of millions of
        # adds in ONE parquet serializes the write and the read —
        # parts let both sides parallelize; the reader
        # (_checkpoint_files) already consumes this form
        parts_n = (total + part_size - 1) // part_size
        for i in range(parts_n):
            _write_part(
                os.path.join(
                    log_dir,
                    f"{version:020d}.checkpoint."
                    f"{i + 1:010d}.{parts_n:010d}.parquet",
                ),
                slice(i * part_size, (i + 1) * part_size),
            )
    else:
        _write_part(
            os.path.join(log_dir, f"{version:020d}.checkpoint.parquet"),
            slice(None),
        )
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    # never REGRESS the pointer: a slow exporter finishing an older
    # checkpoint after a newer one landed (or after expire_delta_log
    # deleted its pre-checkpoint files) must not point readers at a
    # checkpoint that may no longer exist
    try:
        with open(lc_path) as fh:
            if int(json.load(fh).get("version", -1)) >= version:
                return
    except (OSError, ValueError):
        pass
    lc_tmp = os.path.join(log_dir, f"_last_checkpoint.tmp-{os.getpid()}")
    with open(lc_tmp, "w") as fh:
        lc: dict = {"version": version, "size": total}
        if parts_n:
            lc["parts"] = parts_n
        json.dump(lc, fh)
    os.replace(lc_tmp, lc_path)
