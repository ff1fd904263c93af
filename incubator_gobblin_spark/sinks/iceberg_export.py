"""Export the committed manifest-lake snapshot as Apache Iceberg table
metadata — the third interop surface next to ``export_delta_log`` and
``export_symlink_manifest``, closing the reference's Iceberg metadata
path (gobblin-iceberg ``.../writer/GobblinMCEWriter.java:81``, which
emits Iceberg metadata change events for committed Gobblin datasets).

The Iceberg table spec is public (iceberg.apache.org/spec/): a table is
a ``metadata/`` directory holding

- ``vN.metadata.json`` — format-version 2 table metadata: schema with
  stable field ids, identity partition spec, the snapshot list, and the
  current snapshot pointer;
- ``version-hint.text`` — the filesystem-catalog pointer to the latest
  metadata version (HadoopCatalog/StaticTable layout);
- one Avro *manifest list* per snapshot (``snap-<id>-...avro``) whose
  rows describe manifest files;
- Avro *manifest files* whose rows describe the live data files
  (status, path, format, partition values, record count, size).

Both Avro layers are written with the in-repo OCF codec
(``formats/avro_ocf.py``) carrying the spec's field-id annotations and
required header metadata ("schema", "partition-spec", "format-version",
"content"), so an Iceberg reader (pyiceberg StaticTable, Spark+Iceberg,
Trino) pointed at the lake root sees exactly the committed files.

Export semantics mirror ``export_delta_log``: each call appends ONE
snapshot reflecting the current committed manifest; a no-change export
writes nothing (detected via a state fingerprint in the snapshot
summary); metadata versions are published put-if-absent
(:func:`_publish_metadata`) so concurrent exporters — legal, because
the lake's commit CAS allows concurrent committers — serialize by
losing the race and re-reading.
The FIRST snapshot is self-contained (one manifest, all live files
ADDED, operation "overwrite"); subsequent exports append INCREMENTALLY
(the Delta exporter's diff economics): previous manifests carry by
reference in the new manifest list, one new manifest holds only the
added files, and manifests containing removed files are rewritten with
those entries DELETED (survivors EXISTING, lineage kept). Per-export
metadata WRITES are O(added + entries of touched manifests) and the
diff READ is O(live entries) — all driver-side metadata, no data read,
no Spark job; ``mode="full"`` forces a self-contained snapshot to
compact the manifest chain.

Offline caveat (stated for honesty): no Iceberg engine exists in this
environment, so conformance is pinned structurally — replay-equals-
snapshot round trips through ``sources.iceberg_import.read_iceberg``,
spec-required fields asserted, plus a hand-authored spec-example parse
test — rather than by a foreign engine end-to-end.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from incubator_gobblin_spark.commit import _remove, put_if_absent
from incubator_gobblin_spark.sources.iceberg_import import (
    _decode_manifest,
    _decode_manifest_list,
    _local_path,
    _metadata_versions,
    current_schema,
    load_metadata,
    next_snapshot_id,
    norm_file_ref,
)

_INITIAL_PARTITION_FIELD_ID = 1000  # iceberg spec: partition field ids start here


class IcebergConcurrentModificationError(RuntimeError):
    """Another writer published the metadata version this operation
    was about to publish, and the operation cannot re-base onto it
    (its coordinates or staged manifests were computed against the
    old snapshot) — nothing was committed; re-run."""


def _publish_metadata(meta_dir: str, metadata: dict, version: int) -> bool:
    """Publish ``vN.metadata.json`` put-if-absent
    (:func:`~incubator_gobblin_spark.commit.put_if_absent`) and point
    ``version-hint.text`` at it; False on a lost race. The one Iceberg
    metadata publisher: every writer commits through it."""
    if not put_if_absent(
        os.path.join(meta_dir, f"v{version}.metadata.json"),
        json.dumps(metadata, indent=1),
    ):
        return False
    # version-hint is a HINT (HadoopCatalog semantics): last writer
    # wins, and a stale hint only costs readers a re-list
    hint_tmp = os.path.join(meta_dir, f".hint.tmp-{os.getpid()}")
    with open(hint_tmp, "w") as fh:
        fh.write(str(version))
    os.replace(hint_tmp, os.path.join(meta_dir, "version-hint.text"))
    return True


def _lost_race(
    op: str, meta_dir: str, base_version: int
) -> IcebergConcurrentModificationError:
    """The error of a no-retry writer that lost ``base_version + 1``."""
    return IcebergConcurrentModificationError(
        f"{op}: {os.path.dirname(meta_dir)} advanced past "
        f"v{base_version} — re-run against the new state"
    )


def _publish_or_conflict(
    op: str, meta_dir: str, metadata: dict, base_version: int
) -> int:
    """Publish ``metadata`` as ``base_version + 1`` with no retry, for
    writers that computed it from that version alone: any racer
    invalidates it, so a lost race raises
    :class:`IcebergConcurrentModificationError`. Returns the version."""
    version = base_version + 1
    if not _publish_metadata(meta_dir, metadata, version):
        raise _lost_race(op, meta_dir, base_version)
    return version


def _iceberg_type(t, next_id) -> object:
    """pyarrow type -> Iceberg schema type (JSON shape). ``next_id`` is
    a callable allocating nested field ids. Unmapped physical types
    raise loudly rather than emitting metadata a reader would
    misparse."""
    import pyarrow as pa

    if pa.types.is_boolean(t):
        return "boolean"
    if (
        pa.types.is_int8(t)
        or pa.types.is_int16(t)
        or pa.types.is_int32(t)
    ):
        return "int"
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
        # our lake writes UTC-session Spark timestamps -> with zone
        return "timestamptz" if t.tz else "timestamp"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision}, {t.scale})"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        eid = next_id()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(t.value_type, next_id),
            "element-required": False,
        }
    if pa.types.is_struct(t):
        fields = []
        for i in range(t.num_fields):
            f = t.field(i)
            fid = next_id()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": False,
                    "type": _iceberg_type(f.type, next_id),
                }
            )
        return {"type": "struct", "fields": fields}
    if pa.types.is_map(t):
        kid, vid = next_id(), next_id()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(t.key_type, next_id),
            "value-id": vid,
            "value": _iceberg_type(t.item_type, next_id),
            "value-required": False,
        }
    raise ValueError(f"export_iceberg: unmapped parquet type {t!r}")


def _iceberg_schema(
    parquet_file: str,
    partition_cols: list[str],
    partition_values: list[dict],
) -> tuple[dict, int, dict[str, str]]:
    """Iceberg schema JSON from one committed parquet footer + the
    manifest's partition evidence (Hive-partitioned data files don't
    store partition columns; all-integer path values export as ``long``,
    anything else as ``string`` — the same inference Spark's partition
    discovery applies). Returns (schema, last_column_id,
    partition col -> iceberg type)."""
    import pyarrow.parquet as pq

    counter = {"id": 0}

    def next_id() -> int:
        counter["id"] += 1
        return counter["id"]

    fields = []
    arrow = pq.read_schema(parquet_file)
    for name in arrow.names:
        fid = next_id()
        fields.append(
            {
                "id": fid,
                "name": name,
                "required": False,
                "type": _iceberg_type(arrow.field(name).type, next_id),
            }
        )
    part_types: dict[str, str] = {}
    for c in partition_cols:
        vals = [pv.get(c) for pv in partition_values]

        def _is_int(v) -> bool:
            # plain ASCII digits only (optional sign) — Python's
            # int() also accepts underscore/whitespace forms
            # ("2024_01" -> 202401) that Spark's partition discovery
            # (the behavioral reference) treats as strings; exporting
            # them as long would fabricate values
            s = str(v)
            if s.startswith("-"):
                s = s[1:]
            return s.isascii() and s.isdigit()

        t = (
            "long"
            if vals and all(v is None or _is_int(v) for v in vals)
            and any(v is not None for v in vals)
            else "string"
        )
        part_types[c] = t
        fields.append(
            {"id": next_id(), "name": c, "required": False, "type": t}
        )
    schema = {"type": "struct", "schema-id": 0, "fields": fields}
    return schema, counter["id"], part_types


def _name_mapping(schema: dict) -> list:
    """The spec's name-mapping (iceberg spec §Name Mapping
    Serialization) for this schema: JSON entries mapping column NAMES
    to field IDS, recursively (list elements as ["element"], map
    entries as ["key"]/["value"]). This engine's data files are plain
    Spark parquet WITHOUT embedded field ids, and spec-conformant
    readers resolve columns by id — without
    ``schema.name-mapping.default`` they would fall back to
    position-assigned ids, which MISALIGN on partitioned tables
    (partition columns sit in the schema but not in the files). The
    property makes our exports exactly readable by iceberg-java /
    pyiceberg / Trino."""

    def field_entry(f: dict) -> dict:
        entry = {"field-id": f["id"], "names": [f["name"]]}
        nested = type_fields(f["type"])
        if nested:
            entry["fields"] = nested
        return entry

    def type_fields(t) -> list | None:
        if isinstance(t, dict):
            if t["type"] == "struct":
                return [field_entry(f) for f in t["fields"]]
            if t["type"] == "list":
                e = {"field-id": t["element-id"], "names": ["element"]}
                nested = type_fields(t["element"])
                if nested:
                    e["fields"] = nested
                return [e]
            if t["type"] == "map":
                k = {"field-id": t["key-id"], "names": ["key"]}
                v = {"field-id": t["value-id"], "names": ["value"]}
                nested = type_fields(t["value"])
                if nested:
                    v["fields"] = nested
                return [k, v]
        return None

    return [field_entry(f) for f in schema["fields"]]


def _transform_result_type(transform: str, source_type: str | None) -> str:
    """The Iceberg type a partition transform produces (spec
    §Partition Transforms): bucket and the time transforms yield int,
    identity/truncate keep the source type."""
    if transform.startswith("bucket[") or transform in (
        "year", "years", "month", "months", "day", "days", "hour", "hours"
    ):
        return "int"
    return source_type or "string"


def _partition_types(spec: dict, schema: dict) -> dict[str, str]:
    """Partition field name -> the Iceberg type its transform yields,
    in ``spec`` order — the one derivation of a manifest's
    data_file.partition struct from a spec and its table schema. A
    field's name defaults to its source column's (v1 specs may omit
    it)."""
    fname = {f["id"]: f["name"] for f in schema["fields"]}
    ftype = {f["name"]: f["type"] for f in schema["fields"]}
    return {
        pf.get("name") or fname[pf["source-id"]]: _transform_result_type(
            pf["transform"], ftype.get(fname.get(pf["source-id"]))
        )
        for pf in spec["fields"]
    }


def _unpartitioned_spec(metadata: dict) -> dict:
    """The table's UNPARTITIONED spec (``{"fields": []}``), or a fresh
    one under the next spec id when it has none (pass it to
    :func:`_commit_snapshot` so the metadata declares it).

    Per the Iceberg spec (Scan Planning), a delete file applies
    globally ONLY when written under an unpartitioned spec; under a
    partitioned spec its partition tuple is a scope VALUE, so an
    all-null tuple means "the null partition" to conformant readers
    (Spark/Trino/PyIceberg) — which would silently skip the deletes
    for every real partition. Global delete manifests must therefore
    be written under the spec this returns.
    """
    specs = metadata.get("partition-specs", [])
    for s in specs:
        if not s.get("fields"):
            return s
    new_id = max((int(s["spec-id"]) for s in specs), default=-1) + 1
    return {"spec-id": new_id, "fields": []}


def _manifest_entry_avro(partition_struct: dict) -> dict:
    """Avro schema for manifest-file rows (spec: manifest_entry, v2)."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {
                "name": "snapshot_id",
                "type": ["null", "long"],
                "default": None,
                "field-id": 1,
            },
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int", "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "type": partition_struct,
                            "field-id": 102,
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {
                            "name": "file_size_in_bytes",
                            "type": "long",
                            "field-id": 104,
                        },
                        {
                            "name": "value_counts",
                            "field-id": 109,
                            "default": None,
                            "type": ["null", _counts_map_avro("k119_v120", 119, 120)],
                        },
                        {
                            "name": "null_value_counts",
                            "field-id": 110,
                            "default": None,
                            "type": ["null", _counts_map_avro("k121_v122", 121, 122)],
                        },
                        {
                            "name": "lower_bounds",
                            "field-id": 125,
                            "default": None,
                            "type": ["null", _bounds_map_avro("k126_v127", 126, 127)],
                        },
                        {
                            "name": "upper_bounds",
                            "field-id": 128,
                            "default": None,
                            "type": ["null", _bounds_map_avro("k129_v130", 129, 130)],
                        },
                        {
                            # spec field 135 (elements 136): the schema
                            # field ids an EQUALITY delete file keys on
                            "name": "equality_ids",
                            "field-id": 135,
                            "default": None,
                            "type": [
                                "null",
                                {
                                    "type": "array",
                                    "items": "int",
                                    "element-id": 136,
                                },
                            ],
                        },
                    ],
                },
            },
        ],
    }


def _bounds_map_avro(name: str, key_id: int, value_id: int) -> dict:
    """Iceberg's non-string-key map encoding in Avro manifests: an
    array of key/value records with ``logicalType: map`` (spec Appendix
    A) — Avro maps proper only allow string keys, bounds key on the
    column's FIELD ID."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "bytes", "field-id": value_id},
            ],
        },
    }


def _counts_map_avro(name: str, key_id: int, value_id: int) -> dict:
    """Field-id keyed long-valued map (value_counts/null_value_counts
    shape) in the array-of-kv-records encoding."""
    return {
        "type": "array",
        "logicalType": "map",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                {"name": "key", "type": "int", "field-id": key_id},
                {"name": "value", "type": "long", "field-id": value_id},
            ],
        },
    }


def _encode_bound(value, iceberg_type: str) -> bytes | None:
    """Single-value binary serialization (spec Appendix D): the bytes a
    foreign engine compares row-group bounds against. None for types or
    values this exporter does not serialize — a missing bound only
    costs the reader a scan, never correctness."""
    import struct as _struct
    from datetime import date as _date
    from datetime import datetime as _datetime
    from datetime import timezone as _timezone

    try:
        if iceberg_type == "long":
            return _struct.pack("<q", int(value))
        if iceberg_type == "int":
            return _struct.pack("<i", int(value))
        if iceberg_type == "double":
            return _struct.pack("<d", float(value))
        if iceberg_type == "float":
            return _struct.pack("<f", float(value))
        if iceberg_type == "string":
            return str(value).encode("utf-8")
        if iceberg_type in ("timestamp", "timestamptz"):
            if isinstance(value, str):
                value = _datetime.fromisoformat(value.replace("T", " "))
            if isinstance(value, _datetime):
                if value.tzinfo is None:
                    value = value.replace(tzinfo=_timezone.utc)
                return _struct.pack("<q", int(value.timestamp() * 1_000_000))
            return None
        if iceberg_type == "date":
            if isinstance(value, str):
                value = _date.fromisoformat(value[:10])
            if isinstance(value, _date):
                return _struct.pack("<i", (value - _date(1970, 1, 1)).days)
            return None
        if iceberg_type == "boolean":
            return b"\x01" if value else b"\x00"
    except (ValueError, TypeError, OverflowError):
        return None
    return None


_MANIFEST_LIST_AVRO = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _typed_partition(values: dict, part_types: dict[str, str]) -> dict:
    """A data file's partition tuple from its hive-dir string values,
    typed per partition field (``part_types``); absent values are
    null."""
    out = {}
    for c, t in part_types.items():
        v = values.get(c)
        if v is not None:
            v = int(v) if t in ("long", "int") else str(v)
        out[c] = v
    return out


#: Iceberg type -> Avro type of the partition values a manifest carries
_AVRO_OF = {
    t: t for t in ("long", "string", "int", "double", "float", "boolean")
}


def _data_file(path: str, rows: int, size: int, **fields) -> dict:
    """A manifest ``data_file`` for the local parquet at ``path``: DATA
    with an empty partition tuple unless ``fields`` says otherwise.
    Optional fields left out encode as null."""
    return {
        "content": 0,
        # file:// URI per the Iceberg spec (foreign engines resolve
        # URIs, not bare POSIX paths)
        "file_path": "file://" + path,
        "file_format": "PARQUET",
        "partition": {},
        "record_count": rows,
        "file_size_in_bytes": size,
        **fields,
    }


def _added(sid: int, seq: int, data_files: list[dict]) -> list[dict]:
    """Manifest entries ADDING ``data_files`` in snapshot ``sid`` at
    sequence number ``seq``."""
    return [
        {
            "status": 1,
            "snapshot_id": sid,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": d,
        }
        for d in data_files
    ]


def _rewrite_entries(row: dict, keep: list, drop: list, sid: int) -> list:
    """The entries of manifest-list ``row``'s manifest as snapshot
    ``sid`` rewrites it: ``keep`` stay EXISTING with their lineage,
    ``drop`` become DELETED by ``sid``. A null entry sequence number
    resolves to the manifest's (spec §Sequence Numbers) so the rewrite
    does not re-inherit the new manifest's."""
    mf_seq = int(row.get("sequence_number") or 0)

    def entry(e: dict, status: int, snapshot_id) -> dict:
        seq = e.get("sequence_number")
        seq = mf_seq if seq is None else int(seq)
        return {
            "status": status,
            "snapshot_id": snapshot_id,
            "sequence_number": seq,
            "file_sequence_number": e.get("file_sequence_number", seq),
            "data_file": e["data_file"],
        }

    return [entry(e, 0, e.get("snapshot_id")) for e in keep] + [
        entry(e, 2, sid) for e in drop
    ]


def _write_manifest(
    meta_dir: str, entries: list[dict], spec: dict, schema: dict,
    sid: int, seq: int,
) -> tuple[str, dict]:
    """Write ``entries`` as one manifest of snapshot ``sid`` (sequence
    number ``seq``) under partition ``spec``; return its path and its
    manifest-list row. Every Iceberg manifest is written here:

    - the name is a fresh uuid4, never derived from the snapshot id, so
      a concurrent writer on the same base can neither overwrite this
      file nor remove it when it loses;
    - the partition struct derives from ``spec`` + ``schema``
      (:func:`_partition_types`) and carries the spec's own field ids
      (an evolved or foreign spec's need not run from 1000);
    - the row's ``content`` and every count derive from the entries:
      files and ``record_count`` sums per status (ADDED 1, EXISTING 0,
      DELETED 2), ``min_sequence_number`` the least over live entries
      (``seq`` when none is live).
    """
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf

    struct = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": name,
                "type": ["null", _AVRO_OF[t]],
                "default": None,
                "field-id": pf.get("field-id", _INITIAL_PARTITION_FIELD_ID + i),
            }
            for i, ((name, t), pf) in enumerate(
                zip(_partition_types(spec, schema).items(), spec["fields"])
            )
        ],
    }
    content = 1 if any(e["data_file"]["content"] for e in entries) else 0
    data = encode_ocf(
        _manifest_entry_avro(struct),
        entries,
        codec="null",
        extra_meta={
            "schema": json.dumps(schema).encode(),
            "partition-spec": json.dumps(spec["fields"]).encode(),
            "partition-spec-id": str(spec["spec-id"]).encode(),
            "format-version": b"2",
            "content": b"deletes" if content else b"data",
        },
    )
    path = os.path.join(meta_dir, f"{uuid.uuid4()}-m0.avro")
    with open(path, "wb") as fh:
        fh.write(data)
    row = {
        "manifest_path": "file://" + path,
        "manifest_length": len(data),
        "partition_spec_id": spec["spec-id"],
        "content": content,  # 1 = DELETES
        "sequence_number": seq,
        "min_sequence_number": min(
            (
                seq if e["sequence_number"] is None else e["sequence_number"]
                for e in entries
                if e["status"] != 2
            ),
            default=seq,
        ),
        "added_snapshot_id": sid,
    }
    for status, kind in ((1, "added"), (0, "existing"), (2, "deleted")):
        record_counts = [
            e["data_file"]["record_count"] for e in entries if e["status"] == status
        ]
        row[f"{kind}_files_count"] = len(record_counts)
        row[f"{kind}_rows_count"] = sum(record_counts)
    return path, row


def _commit_snapshot(
    meta_dir: str,
    version: int,
    base: dict,
    *,
    rows: list[dict],
    written: list[str],
    sid: int,
    seq: int,
    parent: int | None,
    summary: dict,
    **table,
) -> bool:
    """Commit snapshot ``sid`` (sequence number ``seq``, child of
    ``parent``) whose manifest list holds ``rows``, as metadata
    ``version`` built on ``base``. The one Iceberg snapshot producer:

    - the manifest list gets a fresh uuid4 name (see
      :func:`_write_manifest`);
    - the metadata is ``base`` (``{}`` for a new table) carried whole,
      plus ``table``'s overrides (keyword names with ``_`` for the
      spec's ``-``), plus the snapshot, its log entry and the new
      current snapshot/sequence number. ``partition_specs`` MERGE into
      the base's by spec id, so a carried manifest's spec stays
      declared;
    - it publishes through :func:`_publish_metadata`. On a lost race it
      removes exactly ``written`` and the list it wrote and returns
      False; nothing it removes can be another writer's.
    """
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf

    ts = int(time.time() * 1000)
    list_path = os.path.join(meta_dir, f"snap-{sid}-1-{uuid.uuid4()}.avro")
    with open(list_path, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                rows,
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    metadata = dict(base)
    metadata.update((k.replace("_", "-"), v) for k, v in table.items())
    specs = {s["spec-id"]: s for s in base.get("partition-specs", [])}
    specs.update((s["spec-id"], s) for s in table.get("partition_specs", []))
    snapshot = {
        "snapshot-id": sid,
        "sequence-number": seq,
        "timestamp-ms": ts,
        "summary": summary,
        "manifest-list": "file://" + list_path,
        "schema-id": metadata.get("current-schema-id", 0),
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    metadata.update(
        {
            "partition-specs": list(specs.values()),
            "last-sequence-number": seq,
            "last-updated-ms": ts,
            "current-snapshot-id": sid,
            "snapshots": list(base.get("snapshots", [])) + [snapshot],
            "snapshot-log": list(base.get("snapshot-log", []))
            + [{"timestamp-ms": ts, "snapshot-id": sid}],
        }
    )
    if _publish_metadata(meta_dir, metadata, version):
        return True
    _remove(written + [list_path])
    return False


def _rebase_or_conflict(
    op: str, meta_dir: str, version: int, base: dict, staged: list[str]
) -> dict:
    """The re-base rule of the retrying writers (delete, rewrite,
    upsert), whose staged files were computed against ``base``'s
    current snapshot. ``version`` is the head the caller just listed
    (through its own module's ``_metadata_versions``). Returns the head
    metadata to build the next attempt on while its current snapshot
    is still ``base``'s (a metadata-only bump); otherwise removes
    ``staged`` and raises :class:`IcebergConcurrentModificationError`."""
    head = load_metadata(meta_dir, version)
    was, now = base.get("current-snapshot-id"), head.get("current-snapshot-id")
    if now != was:
        _remove(staged)
        raise IcebergConcurrentModificationError(
            f"{op}: {os.path.dirname(meta_dir)} advanced from snapshot "
            f"{was} to {now} while it was staging — re-run it"
        )
    return head


def _authored_spec(op: str, schema: dict, part_cols: list, transforms: dict) -> dict:
    """Spec 0 of a table this engine authors: an identity field per
    ``part_cols`` entry, except the ``transforms`` entries
    (``{"name", "transform", "source"}`` by name), whose derived column
    is metadata only while their source column stays in ``schema``."""
    by_name = {f["name"]: f for f in schema["fields"]}
    fields = []
    for i, c in enumerate(part_cols):
        t = transforms.get(c, {"transform": "identity", "source": c})
        src = by_name.get(t["source"])
        if src is None or not isinstance(src["type"], str):
            raise ValueError(
                f"{op}: partition source {t['source']!r} of field {c!r} "
                "is not a top-level column of the written data files"
            )
        fields.append(
            {
                "name": c,
                "transform": t["transform"],
                "source-id": src["id"],
                "field-id": _INITIAL_PARTITION_FIELD_ID + i,
            }
        )
    return {"spec-id": 0, "fields": fields}


def _table_fields(
    location: str, schema: dict, last_column_id: int, spec: dict
) -> dict:
    """The table-level metadata of a table this engine authors from its
    data files (``export_iceberg``, ``write_iceberg_table``), as
    :func:`_commit_snapshot` keywords."""
    return {
        "format_version": 2,
        "table_uuid": str(uuid.uuid5(uuid.NAMESPACE_URL, location)),
        "location": location,
        "last_column_id": last_column_id,
        "current_schema_id": 0,
        "schemas": [schema],
        "default_spec_id": 0,
        "partition_specs": [spec],
        "last_partition_id": _INITIAL_PARTITION_FIELD_ID
        - 1
        + len(spec["fields"]),
        "default_sort_order_id": 0,
        "sort_orders": [{"order-id": 0, "fields": []}],
        "properties": {
            "write.format.default": "parquet",
            # our data files carry no embedded field ids; this is the
            # spec's mechanism for id resolution by name (see
            # _name_mapping — without it foreign readers position-
            # assign ids and misalign on partitioned tables)
            "schema.name-mapping.default": json.dumps(_name_mapping(schema)),
        },
        "metadata_log": [],
    }


def export_iceberg(
    sink,
    as_of_run: str | None = None,
    mode: str = "auto",
    transform_spec: list[dict] | None = None,
) -> str:
    """Append one Iceberg snapshot reflecting ``sink``'s committed
    manifest (see module docstring). Returns the ``metadata/`` dir.

    ``mode`` controls the snapshot's manifest shape:

    - ``"auto"`` (default): the first export writes a full snapshot
      (one manifest, all live files ADDED); subsequent exports are
      INCREMENTAL — previous manifests are carried by reference in the
      new manifest list, a new manifest holds only files added since
      the last export, and manifests containing removed files are
      rewritten with those entries marked DELETED (survivors EXISTING,
      original sequence numbers kept). Metadata WRITES per call are
      O(added + entries of touched manifests) — history and write
      amplification stop growing by a full re-add per export; the
      metadata READ (diffing the lake manifest against the previous
      snapshot's decoded manifests) stays O(live entries), the same
      floor the lake-side entry materialization already sets.
    - ``"full"``: force a self-contained snapshot (all live files
      re-added in one fresh manifest) — metadata compaction: the next
      incremental chain restarts from it. Also the automatic fallback
      when the current partition-type inference disagrees with the
      previous export's schema (mixed partition types across carried
      manifests would make typed restore ambiguous).

    ``transform_spec`` declares HIDDEN partitioning (spec §Partition
    Transforms): entries ``{"name", "transform", "source"}`` where
    ``name`` is one of ``sink.partition_by``'s physical directory keys
    — the caller derives that column with
    ``functions.iceberg_transforms.transform_expr`` before
    ``write_staging`` (Spark's ``partitionBy`` then drops the derived
    column from the data files while keeping the SOURCE column, which
    is exactly the spec's hidden-partition file layout) — ``transform``
    is ``bucket[N]``/``truncate[W]``/``year``/``month``/``day``/
    ``hour``, and ``source`` is the schema column it derives from. The
    export writes the spec field under the transform with the
    transform's result type, keeps the source column in the table
    schema, and leaves the derived name OUT of it (it is metadata, not
    data). ``partition_by`` entries not named in ``transform_spec``
    stay identity-partitioned as before. Foreign scoped deletes and
    this engine's own transform pruning (``prune_files``) then work
    against the authored spec.
    """
    from urllib.parse import unquote

    if sink.fmt != "parquet":
        raise ValueError("export_iceberg requires a parquet lake")
    manifest = sink.current_manifest(as_of_run)
    if manifest is None:
        raise FileNotFoundError(f"no committed manifest under {sink.path}")
    entries = manifest["entries"]

    location = os.path.abspath(sink.path)
    meta_dir = os.path.join(location, "metadata")
    os.makedirs(meta_dir, exist_ok=True)
    part_cols = list(sink.partition_by)
    transforms_by_name: dict[str, dict] = {}
    for t in transform_spec or []:
        if t["name"] not in part_cols:
            raise ValueError(
                f"export_iceberg: transform_spec names {t['name']!r} "
                "which is not a physical partition key of this sink — "
                "derive the column with iceberg_transforms."
                "transform_expr and include it in partition_by"
            )
        if t["transform"] == "identity":
            raise ValueError(
                "export_iceberg: identity entries are implicit — list "
                "only transform-derived partition fields"
            )
        transforms_by_name[t["name"]] = t
    identity_cols = [c for c in part_cols if c not in transforms_by_name]

    files: list[dict] = []
    for e in sorted(entries, key=lambda x: x["file"]):
        fp = os.path.join(location, e["file"])
        pvals: dict[str, str] = {}
        if e.get("partition"):
            for seg in e["partition"].replace(os.sep, "/").split("/"):
                k, _, v = seg.partition("=")
                pvals[k] = unquote(v)
        rows = e.get("rows")
        if rows is None:
            import pyarrow.parquet as pq

            rows = pq.ParquetFile(fp).metadata.num_rows
        files.append(
            {
                "path": fp,
                "partition": pvals,
                "rows": int(rows),
                "size": os.path.getsize(fp),
                "stats": e.get("stats") or {},
                "nulls": e.get("nulls") or {},
            }
        )

    import hashlib

    fingerprint = hashlib.sha256(
        json.dumps(
            [(f["path"], f["size"]) for f in files], sort_keys=True
        ).encode()
    ).hexdigest()

    if files:
        schema, last_column_id, _ = _iceberg_schema(
            files[0]["path"], identity_cols, [f["partition"] for f in files]
        )
    else:
        # empty committed manifest (e.g. after a full purge): no footer
        # to infer from, but the spec fields and partition struct still
        # need typed columns — default each partition column to string
        # so an empty snapshot exports instead of raising KeyError
        schema = {
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": i + 1, "name": c, "required": False, "type": "string"}
                for i, c in enumerate(identity_cols)
            ],
        }
        last_column_id = len(identity_cols)
    spec = _authored_spec("export_iceberg", schema, part_cols, transforms_by_name)
    part_types = _partition_types(spec, schema)
    table = _table_fields(location, schema, last_column_id, spec)
    col_info = {f["name"]: (f["id"], f["type"]) for f in schema["fields"]}

    def _bounds(f: dict) -> tuple[list | None, list | None]:
        """lower/upper bounds as field-id keyed k/v lists from the
        manifest's per-file column stats — the metadata a foreign
        Iceberg reader file-skips on. Best-effort per column."""
        lo_out, hi_out = [], []
        for c, pair in sorted((f.get("stats") or {}).items()):
            info = col_info.get(c)
            if info is None or not isinstance(info[1], str):
                continue  # nested/unknown column: skip
            fid, typ = info
            lo = _encode_bound(pair[0], typ)
            hi = _encode_bound(pair[1], typ)
            if lo is None or hi is None:
                continue
            lo_out.append({"key": fid, "value": lo})
            hi_out.append({"key": fid, "value": hi})
        return (lo_out or None, hi_out or None)

    def _value_counts(f: dict) -> list | None:
        # top-level scalar fields carry exactly one value (possibly
        # null) per row, so value_counts = record_count for each —
        # with null_value_counts this lets readers prove all-null
        out = [
            {"key": fid, "value": int(f["rows"])}
            for name, (fid, typ) in sorted(col_info.items())
            if isinstance(typ, str)
        ]
        return out or None

    def _null_counts(f: dict) -> list | None:
        out = [
            {"key": col_info[c][0], "value": int(n)}
            for c, n in sorted((f.get("nulls") or {}).items())
            if c in col_info
        ]
        return out or None

    def _export_file(f: dict) -> dict:
        lo, hi = _bounds(f)
        return _data_file(
            f["path"],
            f["rows"],
            f["size"],
            partition=_typed_partition(f["partition"], part_types),
            value_counts=_value_counts(f),
            null_value_counts=_null_counts(f),
            lower_bounds=lo,
            upper_bounds=hi,
        )

    # Optimistic loop, the export_delta_log discipline: each attempt
    # reads the latest metadata version, skips if the state fingerprint
    # already matches, and publishes vN+1 (_commit_snapshot); a lost
    # race re-reads and retries at the next version.
    for _attempt in range(64):
        versions = _metadata_versions(meta_dir)
        prev = load_metadata(meta_dir, versions[-1]) if versions else {}
        snapshots = prev.get("snapshots", [])
        if snapshots and snapshots[-1]["summary"].get(
            "engine.state-fingerprint"
        ) == fingerprint:
            # snapshot unchanged: no empty commit — but an explicit
            # mode="full" is a compaction request, honored unless the
            # chain is already one self-contained manifest
            if mode != "full" or (
                len(_decode_manifest_list(snapshots[-1], location)) == 1
                and snapshots[-1]["summary"].get("operation") == "overwrite"
            ):
                return meta_dir

        version = (versions[-1] if versions else 0) + 1
        # deterministic, monotonic snapshot id (len(snapshots)+1 would
        # regress after expire_iceberg_snapshots prunes the history)
        sid = seq = next_snapshot_id(prev)

        # --- manifests (full: one manifest, all live files ADDED;
        # incremental: carry prev manifests, add/rewrite the diff) ---
        incremental = mode != "full" and bool(snapshots)
        if incremental:
            # partition-type gate: inference drift (long <-> string)
            # across carried manifests would make typed restore
            # ambiguous — fall back to a full self-contained snapshot
            prev_schema = next(
                (
                    s
                    for s in prev.get("schemas", [])
                    if s["schema-id"] == prev.get("current-schema-id", 0)
                ),
                None,
            )
            prev_types = {
                f["name"]: f["type"]
                for f in (prev_schema or {}).get("fields", [])
            }
            if any(
                prev_types.get(c) != part_types[c] for c in identity_cols
            ):
                incremental = False
            # transform fields are not schema columns; their result
            # types are deterministic from the spec — a spec change
            # (fields/transforms/sources) forces a full snapshot
            prev_spec = next(
                (
                    sp
                    for sp in prev.get("partition-specs", [])
                    if sp["spec-id"] == prev.get("default-spec-id", 0)
                ),
                None,
            )
            if (prev_spec or {}).get("fields") != spec["fields"]:
                incremental = False
            # data-schema gate: if the committed files' column set /
            # order / types changed since the previous export,
            # _iceberg_schema reassigns field ids while CARRIED
            # manifests keep value_counts/null_counts/bounds keyed by
            # the old ids — foreign readers would file-skip
            # non-conservatively. Any drift in (id, name, type)
            # forces a full self-contained snapshot, like the
            # partition-type gate above.
            if (
                prev_schema is None
                or prev_schema.get("fields", []) != schema["fields"]
            ):
                incremental = False

        # A full (non-incremental) export rebuilds the manifest list
        # from engine state alone; only the incremental branch carries
        # foreign delete manifests (content!=0) by reference. If the
        # previous snapshot carries any — e.g. a foreign engine's
        # position/equality deletes — a full rebuild would silently
        # DROP them and resurrect the deleted rows for foreign readers
        # of the new snapshot. Loud-fail instead, matching the
        # equality-delete refusal discipline elsewhere.
        if not incremental and snapshots:
            n_foreign = sum(
                1
                for row in _decode_manifest_list(snapshots[-1], location)
                if row.get("content", 0) != 0
            )
            if n_foreign:
                raise ValueError(
                    "export_iceberg: a full re-export would drop "
                    f"{n_foreign} foreign delete manifest(s) carried by "
                    "the previous snapshot, resurrecting their deleted "
                    "rows for foreign readers — refusing. Export "
                    "incrementally, or rewrite/compact the foreign "
                    "deletes in the foreign engine first."
                )

        written: list[str] = []  # this attempt's manifests
        list_rows: list[dict] = []

        def _manifest(entries: list[dict]) -> None:
            path, row = _write_manifest(meta_dir, entries, spec, schema, sid, seq)
            written.append(path)
            list_rows.append(row)

        removed_count = 0
        added = files
        if incremental:
            cur_by_path = {f["path"]: f for f in files}

            def _unchanged(p: str, e: dict) -> bool:
                # same path AND same size: a path rewritten in place
                # (not a lake operation, but cheap to defend) must not
                # carry stale record counts — treat as remove + add
                f = cur_by_path.get(p)
                return (
                    f is not None
                    and f["size"] == e["data_file"]["file_size_in_bytes"]
                )

            seen_prev: set[str] = set()
            for row in _decode_manifest_list(snapshots[-1], location):
                if row.get("content", 0) != 0:
                    # delete manifest (content=1, e.g. a foreign
                    # engine's position deletes appended to this
                    # table): carry by reference — dropping it would
                    # silently resurrect the deleted rows for foreign
                    # readers; tombstones for files this commit
                    # removes become no-ops
                    list_rows.append(row)
                    continue
                live = [
                    e
                    for e in _decode_manifest(row, location)
                    if e["status"] != 2
                ]
                if not live:
                    continue  # fully-deleted manifest: drop from the chain
                by_path = [
                    (_local_path(e["data_file"]["file_path"]), e)
                    for e in live
                ]
                seen_prev.update(p for p, e in by_path if _unchanged(p, e))
                gone = [e for p, e in by_path if not _unchanged(p, e)]
                if not gone:
                    list_rows.append(row)  # carry by reference
                    continue
                # rewrite: survivors EXISTING (original lineage kept),
                # removed DELETED by THIS snapshot
                removed_count += len(gone)
                survivors = [e for p, e in by_path if _unchanged(p, e)]
                _manifest(_rewrite_entries(row, survivors, gone, sid))
            added = [f for f in files if f["path"] not in seen_prev]

        if added or not list_rows:
            _manifest(_added(sid, seq, [_export_file(f) for f in added]))

        if not incremental:
            op = "overwrite"  # self-contained re-add of the world
        elif removed_count == 0:
            op = "append"
        elif not added:
            op = "delete"
        else:
            op = "overwrite"
        if _commit_snapshot(
            meta_dir,
            version,
            prev,
            rows=list_rows,
            written=written,
            sid=sid,
            seq=seq,
            parent=snapshots[-1]["snapshot-id"] if snapshots else None,
            summary={"operation": op, "engine.state-fingerprint": fingerprint},
            **table,
        ):
            return meta_dir
        # lost the race: this attempt's Avro files are gone; re-read
        # and retry at the next version
    raise RuntimeError(
        f"export_iceberg: lost the metadata-version race 64 times under "
        f"{meta_dir} — a runaway concurrent exporter is appending "
        f"versions faster than this one can re-read"
    )


def _delete_base(meta_dir: str) -> tuple[int, dict]:
    """The latest metadata version and its metadata — what a no-retry
    delete appender builds on."""
    versions = _metadata_versions(meta_dir)
    if not versions:
        raise FileNotFoundError(f"no Iceberg metadata under {meta_dir}")
    return versions[-1], load_metadata(meta_dir, versions[-1])


def _commit_delete_file(
    op: str,
    meta_dir: str,
    base_version: int,
    prev: dict,
    rows,
    spec: dict,
    **fields,
) -> None:
    """Stage the pyarrow table ``rows`` as one delete parquet under
    ``_deletes/`` and commit it as ``base_version + 1``: a delete
    manifest under partition ``spec`` holding its ``data_file``
    (``fields`` give ``content`` and any partition tuple or
    ``equality_ids``), a manifest list carrying the current snapshot's
    manifests by reference plus it, and an operation=delete snapshot.
    The data-file state fingerprint is UNCHANGED, so a later
    export_iceberg no-ops instead of wiping the tombstones. No retry:
    a lost race removes the staged files and raises
    :class:`IcebergConcurrentModificationError`."""
    import pyarrow.parquet as pq

    location = os.path.dirname(meta_dir)
    kind = "pos" if fields["content"] == 1 else "eq"
    os.makedirs(os.path.join(location, "_deletes"), exist_ok=True)
    dpath = os.path.join(
        location, "_deletes", f"{kind}-delete-{uuid.uuid4().hex}.parquet"
    )
    pq.write_table(rows, dpath)
    sid = seq = next_snapshot_id(prev)
    cur = next(
        s
        for s in prev["snapshots"]
        if s["snapshot-id"] == prev["current-snapshot-id"]
    )
    mpath, row = _write_manifest(
        meta_dir,
        _added(
            sid,
            seq,
            [_data_file(dpath, rows.num_rows, os.path.getsize(dpath), **fields)],
        ),
        spec,
        current_schema(prev),
        sid,
        seq,
    )
    if not _commit_snapshot(
        meta_dir,
        base_version + 1,
        prev,
        rows=_decode_manifest_list(cur, location) + [row],
        written=[mpath, dpath],
        sid=sid,
        seq=seq,
        parent=cur["snapshot-id"],
        summary={
            "operation": "delete",
            "engine.state-fingerprint": cur["summary"].get(
                "engine.state-fingerprint", ""
            ),
        },
        partition_specs=[spec],
    ):
        raise _lost_race(op, meta_dir, base_version)


def append_position_deletes(
    table_path: str, deletes: list[tuple[str, int]]
) -> str:
    """Append a v2 POSITION-delete snapshot to an exported Iceberg
    table, exactly the way a foreign engine (Spark+Iceberg, Flink CDC,
    Trino) row-level-deletes from it: one position-delete parquet of
    (``file_path``, ``pos``) per the spec's §Position Delete Files, a
    ``content=1`` delete manifest, and a new metadata version whose
    snapshot carries the previous manifests by reference plus the
    delete manifest.

    This engine's OWN lake deletes stay copy-on-write (publish /
    merge_into) — this writer exists so ``read_iceberg``'s delete
    application and the interop tests can prove conformance against a
    hand-authored spec-example table (reference analogue:
    gobblin-iceberg's IcebergMetadataWriterTest building tables by
    hand). ``deletes`` holds (data-file path, 0-based row position);
    plain local paths are normalized to the manifest's file:// form.
    Returns the metadata dir."""
    import pyarrow as pa

    location = os.path.abspath(table_path)
    meta_dir = os.path.join(location, "metadata")
    base_version, prev = _delete_base(meta_dir)

    def _to_file_uri(p) -> str:
        # accept plain paths, file:/x, file://x, file:///x (Spark's
        # _metadata.file_path uses the single-slash form) — emit the
        # manifest's canonical file://<abs> form. Spark URIs are
        # percent-encoded while manifest data-file paths are raw;
        # decode, or a path with a space/'%' would never string-match
        # the data entry for a foreign reader (unquote leaves '+'
        # alone — a '+' in a URI path segment is a literal plus)
        s = str(p)
        if s.startswith("file:"):
            from urllib.parse import unquote

            s = unquote("/" + s.split(":", 1)[1].lstrip("/"))
        return "file://" + os.path.abspath(s)

    rows = sorted((_to_file_uri(p), int(pos)) for p, pos in deletes)
    # position deletes here are GLOBAL (no partition scope parameter):
    # per the spec they must ride an UNPARTITIONED spec — under the
    # table's partitioned spec an all-null tuple means "the null
    # partition" to conformant readers (Spark/Trino/PyIceberg), which
    # would skip the deletes for every real partition. This also
    # sidesteps transform-partitioned struct derivation entirely.
    _commit_delete_file(
        "append_position_deletes",
        meta_dir,
        base_version,
        prev,
        pa.table(
            {
                "file_path": pa.array([r[0] for r in rows], pa.string()),
                "pos": pa.array([r[1] for r in rows], pa.int64()),
            }
        ),
        _unpartitioned_spec(prev),
        content=1,  # POSITION_DELETES
    )
    return meta_dir


def append_equality_deletes(
    table_path: str,
    rows: list[dict],
    equality_cols: list[str],
    partition_scope: dict | None = None,
) -> str:
    """Append a v2 EQUALITY-delete snapshot the way a foreign CDC
    writer (Flink upsert sink, Trino MERGE) would: a parquet file of
    the ``equality_cols`` values, a content=2 delete manifest whose
    entry carries the columns' schema field ids as ``equality_ids``
    (spec §Equality Delete Files, field 135), and a new metadata
    version. Every ``rows`` dict maps equality column -> value; a
    row deletes ALL data rows equal on those columns whose data
    sequence number is strictly less than this snapshot's. See
    :func:`append_position_deletes` for the position variant and the
    why-this-exists note. ``partition_scope`` (partition FIELD name ->
    value; for non-identity fields the TRANSFORMED value, e.g. the
    bucket number) writes the delete file's manifest partition struct,
    scoping it to ONE partition the way a partitioned-spec foreign
    writer would — rows in other partitions must survive."""
    import pyarrow as pa

    location = os.path.abspath(table_path)
    meta_dir = os.path.join(location, "metadata")
    base_version, prev = _delete_base(meta_dir)
    schema = current_schema(prev)
    by_name = {f["name"]: f for f in schema["fields"]}
    missing = [c for c in equality_cols if c not in by_name]
    if missing:
        raise ValueError(f"equality columns not in schema: {missing}")
    # SCOPED deletes ride the table's partitioned spec: the manifest's
    # partition struct is keyed by partition FIELD name and typed by
    # the TRANSFORM's result (spec §Partition Transforms). A GLOBAL
    # delete (partition_scope=None) must instead ride an UNPARTITIONED
    # spec: an all-null tuple under the partitioned spec means "the
    # null partition" to conformant readers, which would skip the
    # delete for every real partition.
    if partition_scope is None:
        spec = _unpartitioned_spec(prev)
    else:
        spec = next(
            s
            for s in prev["partition-specs"]
            if s["spec-id"] == prev["default-spec-id"]
        )
    _PA_OF = {
        "long": pa.int64(),
        "int": pa.int32(),
        "double": pa.float64(),
        "float": pa.float32(),
        "string": pa.string(),
        "boolean": pa.bool_(),
    }
    arrays = {}
    for c in equality_cols:
        t = by_name[c]["type"]
        pat = _PA_OF.get(t) if isinstance(t, str) else None
        vals = [r.get(c) for r in rows]
        arrays[c] = pa.array(vals, pat) if pat else pa.array(vals)
    _commit_delete_file(
        "append_equality_deletes",
        meta_dir,
        base_version,
        prev,
        pa.table(arrays),
        spec,
        content=2,  # EQUALITY_DELETES
        partition={
            c: (partition_scope or {}).get(c)
            for c in _partition_types(spec, schema)
        },
        equality_ids=[by_name[c]["id"] for c in equality_cols],
    )
    return meta_dir


def append_equality_deletes_stub(table_path: str) -> str:
    """Author a MALFORMED equality delete: a content=2 entry with NO
    equality_ids — used only to prove read_iceberg fails loudly on a
    delete it cannot apply rather than resurrecting rows. The real
    writer is :func:`append_equality_deletes`."""
    import pyarrow as pa

    meta_dir = os.path.join(os.path.abspath(table_path), "metadata")
    base_version, prev = _delete_base(meta_dir)
    _commit_delete_file(
        "append_equality_deletes_stub",
        meta_dir,
        base_version,
        prev,
        pa.table({"pos": pa.array([], pa.int64())}),
        _unpartitioned_spec(prev),
        content=2,
    )
    return meta_dir


def expire_iceberg_snapshots(
    sink_or_path, keep_last: int = 1
) -> str:
    """Prune Iceberg snapshot history — the ExpireSnapshots maintenance
    op (iceberg-core ``RemoveSnapshots``): keep the newest ``keep_last``
    snapshots, publish a metadata version without the expired ones, and
    unlink manifest-list/manifest Avro files referenced ONLY by expired
    snapshots. Without this, the incremental exporter's history grows
    one snapshot + one manifest per export forever.

    Scope boundary, stated plainly: DATA files are never touched — the
    manifest lake's own ``vacuum`` owns data-file lifetime (an expired
    Iceberg snapshot's files may still be live lake state or covered by
    lake time travel). This prunes the METADATA chain only.

    Published with the exporter's put-if-absent discipline
    (:func:`_publish_metadata` on vN+1); a lost race re-reads and
    retries, so expiration composes with concurrent exports."""
    path = sink_or_path if isinstance(sink_or_path, str) else sink_or_path.path
    location = os.path.abspath(path)
    meta_dir = os.path.join(location, "metadata")
    if keep_last < 1:
        raise ValueError("expire_iceberg_snapshots: keep_last must be >= 1")

    def _referenced(snaps: list[dict]) -> set[str]:
        out: set[str] = set()
        for s in snaps:
            ml = norm_file_ref(s["manifest-list"], location)
            out.add(ml)
            if os.path.exists(ml):
                out.update(
                    norm_file_ref(row["manifest_path"], location)
                    for row in _decode_manifest_list(s, location)
                )
        return out

    for _ in range(64):
        versions = _metadata_versions(meta_dir)
        if not versions:
            raise FileNotFoundError(f"no Iceberg metadata under {meta_dir}")
        prev = load_metadata(meta_dir, versions[-1])
        snapshots = list(prev.get("snapshots", []))
        if len(snapshots) <= keep_last:
            return meta_dir  # nothing to expire
        # refs are retention ROOTS (iceberg-core RemoveSnapshots):
        # a snapshot a branch/tag points at survives expiry no matter
        # how old — expiring it would break the ref for every reader
        ref_ids = {
            int(r["snapshot-id"])
            for r in (prev.get("refs") or {}).values()
            if r.get("snapshot-id") is not None
        }
        tail_ids = {s["snapshot-id"] for s in snapshots[-keep_last:]}
        kept = [
            s
            for s in snapshots
            if s["snapshot-id"] in tail_ids or s["snapshot-id"] in ref_ids
        ]
        kept_ids = {s["snapshot-id"] for s in kept}
        expired = [s for s in snapshots if s["snapshot-id"] not in kept_ids]
        if not expired:
            return meta_dir  # every old snapshot is ref-pinned
        # this exporter always points current at the newest snapshot,
        # but a foreign or rolled-back table may not — REFUSE rather
        # than expire the snapshot readers are on (iceberg-core
        # RemoveSnapshots never removes the current snapshot)
        if prev.get("current-snapshot-id") not in kept_ids:
            raise ValueError(
                "expire_iceberg_snapshots: keep_last="
                f"{keep_last} would expire the CURRENT snapshot "
                f"{prev.get('current-snapshot-id')} (a rollback points "
                "current at an older snapshot); raise keep_last"
            )

        metadata = dict(prev)
        # any kept snapshot whose parent expired loses the pointer
        # (ref-pinned islands included, not just the oldest)
        metadata["snapshots"] = [
            (
                {k: v for k, v in s.items() if k != "parent-snapshot-id"}
                if s.get("parent-snapshot-id") not in kept_ids
                else s
            )
            for s in kept
        ]
        metadata["snapshot-log"] = [
            e
            for e in prev.get("snapshot-log", [])
            if e.get("snapshot-id") in kept_ids
        ]
        metadata["last-updated-ms"] = int(time.time() * 1000)

        if not _publish_metadata(meta_dir, metadata, versions[-1] + 1):
            continue  # lost to a concurrent export: re-read, retry

        # physical cleanup AFTER the publish: files referenced only by
        # expired snapshots (set difference, so a manifest carried into
        # a kept snapshot's list survives)
        drop = _referenced(expired) - _referenced(kept)
        for p in drop:
            try:
                os.remove(p)
            except OSError:
                pass
        # old metadata versions still reference dropped files; Iceberg
        # keeps them (metadata-log) — readers use the newest version
        return meta_dir
    raise RuntimeError(
        f"expire_iceberg_snapshots: lost the metadata-version race 64 "
        f"times under {meta_dir}"
    )
