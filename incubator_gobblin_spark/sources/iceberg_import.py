"""Read an Apache Iceberg table snapshot (no Iceberg jars needed).

The import half of the Iceberg interop surface; the export half is
``sinks.iceberg_export.export_iceberg``. An Iceberg table's metadata
layer is publicly documented (iceberg.apache.org/spec/): versioned
``vN.metadata.json`` files (latest advertised by ``version-hint.text``
in the filesystem-catalog layout), each pointing at per-snapshot Avro
manifest lists whose rows point at Avro manifest files whose rows carry
the live data files with their identity-partition values. Replaying it
needs a JSON parser and an Avro OCF decoder (both in-repo), so an
Iceberg table written by any engine with identity partitioning is
readable here without iceberg-spark on the classpath.

Reference parity: gobblin-iceberg's GobblinMCEWriter
(``.../writer/GobblinMCEWriter.java:81``) emits Iceberg metadata for
committed datasets; this reader + ``export_iceberg`` close the loop in
both directions.

Scale shape: the replay is O(manifest rows) driver-side metadata — the
same discipline as ``read_delta`` — and the data read lists only the
snapshot's live files. Partition restore shares
``delta_import.assemble_snapshot``: typed-literal unions under the
threshold, one scan + broadcast suffix-key join past it.

Offline caveat (stated plainly): no foreign Iceberg writer exists in
this environment, so round-trip tests pin this reader against this
engine's own spec-conformant export plus a hand-authored spec-example
table, not against iceberg-spark output.
"""

from __future__ import annotations

import json
import os
from functools import reduce
from operator import and_
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructField, StructType

from incubator_gobblin_spark.functions.iceberg_transforms import (
    check_transform,
    epoch_norm,
    transform_expr,
)
from incubator_gobblin_spark.functions.sql_text import ident
from incubator_gobblin_spark.sources import delta_import
from incubator_gobblin_spark.sources.delta_import import (
    assemble_snapshot,
    decoded_file_path,
    decoded_file_path_sql,
    materialize_small,
)
from incubator_gobblin_spark.sources.files import scan_files


def _spark_type(t) -> T.DataType:
    """Iceberg schema type (JSON shape) -> Spark type."""
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "struct":
            return StructType(
                [
                    StructField(
                        f["name"], _spark_type(f["type"]), not f.get("required")
                    )
                    for f in t["fields"]
                ]
            )
        if kind == "list":
            return T.ArrayType(
                _spark_type(t["element"]), not t.get("element-required")
            )
        if kind == "map":
            return T.MapType(
                _spark_type(t["key"]),
                _spark_type(t["value"]),
                not t.get("value-required"),
            )
        raise ValueError(f"read_iceberg: unmapped complex type {t!r}")
    if t.startswith("decimal"):
        p, s = t[len("decimal(") : -1].split(",")
        return T.DecimalType(int(p), int(s))
    if t.startswith("fixed"):
        return T.BinaryType()
    prim = {
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
        "date": T.DateType(),
        "timestamp": T.TimestampNTZType(),
        "timestamptz": T.TimestampType(),
        "uuid": T.StringType(),
        "time": T.LongType(),
    }
    if t not in prim:
        raise ValueError(f"read_iceberg: unmapped type {t!r}")
    return prim[t]


def _schema_with_field_ids(schema_json: dict) -> StructType:
    """The Spark read schema for files that carry parquet field ids:
    logical (current-schema) names with ``parquet.field.id`` metadata
    from the Iceberg schema's field ids, recursively through struct
    fields — Spark's native field-id matching then resolves columns
    the way the Iceberg spec REQUIRES (by id, never by name), so a
    column renamed after the file was written still reads its values
    instead of nulls."""

    def _typ(t):
        if isinstance(t, dict) and t.get("type") == "struct":
            return StructType([_fld(f) for f in t["fields"]])
        if isinstance(t, dict) and t.get("type") == "list":
            return T.ArrayType(
                _typ(t["element"]), not t.get("element-required")
            )
        if isinstance(t, dict) and t.get("type") == "map":
            return T.MapType(
                _typ(t["key"]), _typ(t["value"]), not t.get("value-required")
            )
        return _spark_type(t)

    def _fld(f):
        return StructField(
            f["name"],
            _typ(f["type"]),
            not f.get("required"),
            metadata={"parquet.field.id": int(f["id"])},
        )

    return StructType([_fld(f) for f in schema_json["fields"]])


#: Footer-sniff memo: absolute data-file path -> (has_field_ids,
#: top-level column-name frozenset). Iceberg data files are IMMUTABLE
#: once committed (writers never modify a path in place; new content =
#: new uuid-named file), so a path's footer facts never change and the
#: O(files) sequential driver-side pyarrow reads need only be paid once
#: per file per process — not once per read of every consuming query.
#: This memoizes file METADATA, not query results: every query still
#: computes from the parquet inputs.
_FOOTER_MEMO: dict[str, tuple[bool, frozenset]] = {}


def _footer_facts(fp: str) -> tuple[bool, frozenset]:
    key = os.path.abspath(fp)
    hit = _FOOTER_MEMO.get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    try:
        sch = pq.read_schema(fp)
        facts = (
            any(
                (f.metadata or {}).get(b"PARQUET:field_id") is not None
                for f in sch
            ),
            frozenset(sch.names),
        )
    except Exception:
        facts = (False, frozenset())
    _FOOTER_MEMO[key] = facts
    return facts


def _footer_facts_bulk(paths: list[str]) -> None:
    """Warm `_FOOTER_MEMO` for many files at once: memo hits cost
    nothing, misses are sniffed CONCURRENTLY through a bounded thread
    pool (pyarrow ``read_schema`` releases the GIL during file I/O and
    footer decode) instead of the former one-by-one sequential driver
    loop. At O(10^5) files the first-read metadata walk was the
    residual driver-side scale-killer on the Iceberg read path (guide
    §5 driver discipline); the pool bounds memory while overlapping
    the per-file open/seek latency."""
    seen: set[str] = set()
    missing: list[str] = []
    for fp in paths:
        key = os.path.abspath(fp)
        if key not in _FOOTER_MEMO and key not in seen:
            seen.add(key)
            missing.append(fp)
    if len(missing) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(missing))) as pool:
            # _footer_facts fills the memo; dict writes are atomic
            # under the GIL and the value for a path is deterministic,
            # so a racing duplicate sniff is harmless
            list(pool.map(_footer_facts, missing))


def _split_groups_by_field_ids(
    groups: dict[tuple, list[str]],
) -> tuple[dict[tuple, list[str]], dict[tuple, list[str]]]:
    """Split grouped live files into (with-field-ids, without): files
    written by conformant Iceberg writers carry parquet field ids and
    MUST be resolved by id (rename-safe); files without (this engine's
    own exports — plain Spark parquet) resolve by name, the spec's
    identity name-mapping. Footer sniff is driver-side pyarrow
    ``read_schema`` — O(files) metadata reads, with one asymmetric
    shortcut: when the first 8 files ALL carry ids, the rest are
    classified id-carrying without sniffing, because that
    misclassification direction fails LOUDLY at scan (a plain file
    read under a field-id schema errors — ``ignoreMissing`` stays
    off). The reverse direction is SILENT (an id-carrying file read
    by name returns nulls for renamed columns), so a plain sample
    never short-circuits: every remaining footer is sniffed —
    concurrently via ``_footer_facts_bulk`` and through
    ``_footer_facts``' per-path memo, so the driver-side reads are
    paid once per file per PROCESS and overlap their I/O latency,
    not one sequential read per file per consuming read (the
    changelog walk re-touches the same files at every snapshot;
    before the memo a 4-snapshot changelog re-sniffed each file up
    to 8x)."""

    def _has_ids(fp: str) -> bool:
        return _footer_facts(fp)[0]

    all_files = [f for fs in groups.values() for f in fs]
    sample = all_files[:8]
    _footer_facts_bulk(sample)
    flags = {f: _has_ids(f) for f in sample}
    rest = all_files[len(sample):]
    if rest:
        if flags and all(flags.values()):
            # homogeneous WITH ids — the loud direction: a plain file
            # misclassified here errors at scan rather than nulling
            flags.update({f: True for f in rest})
        else:
            # any id-less file in the sample: sniff everything — a
            # later id-carrying file classified by name would read
            # renamed columns as null SILENTLY (concurrently via the
            # bulk warm; the memo then serves every re-touch)
            _footer_facts_bulk(rest)
            flags.update({f: _has_ids(f) for f in rest})
    with_ids: dict[tuple, list[str]] = {}
    plain: dict[tuple, list[str]] = {}
    for k, fs in groups.items():
        for f in fs:
            (with_ids if flags[f] else plain).setdefault(k, []).append(f)
    return with_ids, plain


def norm_file_ref(p: str, root: str) -> str:
    """Normalize a manifest- or delete-file-carried file reference to
    a decoded ABSOLUTE local path — the single rule for path
    COMPARISONS between manifest entries and position-delete
    ``file_path`` values. Accepts ``file://`` URIs (the exporter's
    spec form), single-slash ``file:`` URIs (Spark's
    ``_metadata.file_path`` form), and plain (possibly relative)
    paths; only URI forms are percent-decoded — a plain path may
    legitimately contain a literal ``%``, and decoding just one side
    of a comparison would silently mismatch."""
    from urllib.parse import unquote, urlparse

    p = str(p)
    if p.startswith("file://"):
        p = unquote(urlparse(p).path)
    elif p.startswith("file:"):
        p = unquote(p[len("file:"):])
    if not os.path.isabs(p):
        p = os.path.join(root, p)
    return os.path.abspath(p)


def _local_path(p: str) -> str:
    """Resolve a metadata-carried location to a local filesystem path.
    The exporter emits ``file://`` URIs per the Iceberg spec; Hadoop
    ``Path.toString()`` emits the single-slash ``file:/...`` form;
    older exports and foreign writers may carry plain paths — accept
    all three."""
    if p.startswith("file://"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(p).path)
    if p.startswith("file:"):
        from urllib.parse import unquote

        return unquote(p[len("file:"):])
    return p


def _metadata_versions(meta_dir: str) -> list[int]:
    """The published ``vN.metadata.json`` versions under ``meta_dir``,
    ascending."""
    out = []
    for f in os.listdir(meta_dir):
        if f.startswith("v") and f.endswith(".metadata.json"):
            stem = f[1 : -len(".metadata.json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def load_metadata(meta_dir: str, version: int) -> dict:
    """Load ``vN.metadata.json`` — the one place an Iceberg reader or
    writer opens table metadata. The caller picks ``version``: readers
    through :func:`current_metadata`, writers from
    :func:`_metadata_versions` (called through their own module
    binding, their commit-race seam). The load:

    - parses the JSON;
    - gates the format version (the Delta reader-protocol discipline,
      ``delta_import._check_reader_protocol``): this engine implements
      the v1/v2 spec, and a v3 table (deletion vectors as Puffin blobs,
      row lineage) parsed as v2 would at best crash mid-scan and at
      worst silently resurrect deleted rows — or, for a writer,
      publish v2 metadata over it;
    - normalizes format-v1 singular fields (:func:`_normalize_v1`)."""
    with open(os.path.join(meta_dir, f"v{version}.metadata.json")) as fh:
        meta = json.load(fh)
    fv = int(meta.get("format-version", 1))
    if fv > 2:
        raise ValueError(
            f"Iceberg table at {os.path.dirname(meta_dir)} is "
            f"format-version {fv}; this engine implements format v1/v2 "
            "only — v3 content (deletion vectors, row lineage) cannot be "
            "honored and would risk silently wrong rows"
        )
    return _normalize_v1(meta)


def current_metadata(path: str) -> dict:
    """The table's latest metadata, loaded by :func:`load_metadata`.
    The hint in ``version-hint.text`` (HadoopCatalog layout) is only a
    STARTING point: the exporter writes it last-writer-wins AFTER the
    put-if-absent publish, so a slow exporter of an older version can
    overwrite a newer hint. Like ``HadoopTableOperations.findVersion``
    (iceberg-core ``hadoop/HadoopTableOperations.java``), take the
    highest version actually present — max(hint probe, dir listing) —
    never the hinted version directly."""
    meta_dir = os.path.join(path, "metadata")
    best = max(_metadata_versions(meta_dir), default=0)
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        try:
            with open(hint) as fh:
                v = int(fh.read().strip())
        except ValueError:
            v = 0
        # probe forward from the hint: catches versions published
        # between the listing above and now (the findVersion behavior)
        v = max(v, best)
        while os.path.exists(
            os.path.join(meta_dir, f"v{v + 1}.metadata.json")
        ):
            v += 1
        best = max(best, v)
    if best <= 0 or not os.path.exists(
        os.path.join(meta_dir, f"v{best}.metadata.json")
    ):
        raise FileNotFoundError(f"no Iceberg metadata under {meta_dir}")
    return load_metadata(meta_dir, best)


def current_schema(metadata: dict) -> dict:
    """The metadata's current schema (``current-schema-id``)."""
    return next(
        s
        for s in metadata["schemas"]
        if s["schema-id"] == metadata["current-schema-id"]
    )


def next_snapshot_id(metadata: dict) -> int:
    """Id of the next snapshot committed on ``metadata`` — also its
    sequence number. Monotonic against BOTH the live snapshot ids and
    the last sequence number, so neither regresses after
    ``expire_iceberg_snapshots`` prunes the history."""
    return 1 + max(
        max((s["snapshot-id"] for s in metadata.get("snapshots", [])), default=0),
        int(metadata.get("last-sequence-number", 0)),
    )


def _normalize_v1(meta: dict) -> dict:
    """Fill the v2 plural forms from format-v1 singular fields
    (spec §Table Metadata: ``schemas``/``current-schema-id`` and
    ``partition-specs``/``default-spec-id`` are v2-required but
    OPTIONAL in v1, where ``schema`` and ``partition-spec`` are the
    source of truth). Every consumer indexes the plural forms — an
    older foreign v1 table would otherwise die with a bare KeyError."""
    if "schemas" not in meta and "schema" in meta:
        sch = dict(meta["schema"])
        sch.setdefault("schema-id", 0)
        meta["schemas"] = [sch]
    if "current-schema-id" not in meta and meta.get("schemas"):
        meta["current-schema-id"] = meta["schemas"][-1].get("schema-id", 0)
    if "partition-specs" not in meta and "partition-spec" in meta:
        meta["partition-specs"] = [
            {"spec-id": 0, "fields": meta["partition-spec"]}
        ]
    if "default-spec-id" not in meta and meta.get("partition-specs"):
        meta["default-spec-id"] = meta["partition-specs"][0].get(
            "spec-id", 0
        )
    return meta


#: Decoded-manifest memo: (path, mtime_ns, size) -> rows. Iceberg
#: manifest / manifest-list files are immutable once committed
#: (uuid-named; a new commit writes NEW files), and the pure-Python
#: OCF decode is the single largest driver-side cost of a metadata
#: walk — a changelog scan re-decodes the same manifests as each
#: snapshot, as its successor's parent, and again inside every parent
#: read_iceberg. The stat pair guards against an in-place rewrite
#: (non-conformant, but cheap to defend). Callers MAY mutate returned
#: rows (iceberg_export's delete appender does), so every hit returns
#: a deep copy — still ~10x cheaper than re-decoding the binary.
_AVRO_MEMO: dict[tuple, list[dict]] = {}
_AVRO_MEMO_MAX = 256


def _decode_avro_rows(path: str) -> list[dict]:
    import copy

    from incubator_gobblin_spark.formats.avro_ocf import decode_ocf

    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    rows = _AVRO_MEMO.get(key)
    if rows is None:
        with open(path, "rb") as fh:
            _, rows = decode_ocf(fh.read())
        if len(_AVRO_MEMO) >= _AVRO_MEMO_MAX:
            _AVRO_MEMO.pop(next(iter(_AVRO_MEMO)))
        _AVRO_MEMO[key] = rows
    return copy.deepcopy(rows)


def _decode_manifest_list(snap: dict, location: str) -> list[dict]:
    """A snapshot's manifest-list rows."""
    return _decode_avro_rows(norm_file_ref(snap["manifest-list"], location))


def _decode_manifest(row: dict, location: str) -> list[dict]:
    """The entries of the manifest a manifest-list ``row`` names."""
    return _decode_avro_rows(norm_file_ref(row["manifest_path"], location))


def snapshot_files(
    metadata: dict,
    table_path: str,
    snapshot_id: int | None = None,
    *,
    collect_deletes: bool = False,
) -> list[dict] | tuple[list[dict], list[str]]:
    """Live data files of a snapshot (default: current): replay the
    manifest list, then every manifest, keeping entries whose status is
    not DELETED (2). Returns dicts of (path, the manifest's raw
    ``file_path`` string, partition values dict).

    v2 row-level deletes (spec §Delete Formats): delete manifests
    (manifest-list ``content`` = 1) are decoded too. With
    ``collect_deletes`` the second element lists delete files as dicts
    ``{path, content, seq, equality_ids}`` — POSITION deletes
    (``content`` = 1) and EQUALITY deletes (``content`` = 2), which
    read_iceberg applies; data file dicts carry their data sequence
    number (``seq``, manifest-list inherited when the entry's is
    null) because equality deletes only apply to data sequenced
    STRICTLY BEFORE them. Unknown delete content raises, and without
    ``collect_deletes`` any delete file raises — silently ignoring a
    foreign writer's deletes would resurrect deleted rows."""
    sid = (
        metadata.get("current-snapshot-id")
        if snapshot_id is None
        else snapshot_id
    )
    snap = next(
        (s for s in metadata.get("snapshots", []) if s["snapshot-id"] == sid),
        None,
    )
    if snap is None:
        raise FileNotFoundError(
            f"Iceberg snapshot {sid} not present "
            f"(have {[s['snapshot-id'] for s in metadata.get('snapshots', [])]})"
        )
    out: list[dict] = []
    deletes: list[dict] = []
    for mf in _decode_manifest_list(snap, table_path):
        is_delete_manifest = mf.get("content", 0) != 0
        mf_seq = int(mf.get("sequence_number") or 0)
        for entry in _decode_manifest(mf, table_path):
            if entry["status"] == 2:  # DELETED
                continue
            df_ = entry["data_file"]
            if df_.get("file_format", "PARQUET").upper() != "PARQUET":
                raise ValueError(
                    f"read_iceberg: non-parquet data file {df_['file_path']}"
                )
            # v2 sequence inheritance: a null entry sequence number
            # inherits the manifest-list row's (spec §Sequence Numbers)
            seq = entry.get("sequence_number")
            seq = mf_seq if seq is None else int(seq)
            content = df_.get("content", 1 if is_delete_manifest else 0)
            if is_delete_manifest or content != 0:
                if content not in (1, 2):
                    raise ValueError(
                        "read_iceberg: unknown delete-file content "
                        f"{content} in {df_['file_path']}"
                    )
                if content == 2 and not df_.get("equality_ids"):
                    raise ValueError(
                        "read_iceberg: equality delete file "
                        f"{df_['file_path']} carries no equality_ids — "
                        "cannot apply, refusing to ignore it"
                    )
                deletes.append(
                    {
                        "path": _local_path(df_["file_path"]),
                        "content": content,
                        "seq": seq,
                        "equality_ids": list(df_.get("equality_ids") or []),
                        # manifests carry record counts — the broadcast
                        # size guard reads them with zero extra I/O
                        "record_count": int(df_.get("record_count") or 0),
                        # a delete file written under a partitioned
                        # spec applies ONLY within its partition (spec
                        # §Scan Planning); all-null = global. The
                        # manifest-list row's spec id resolves the
                        # scope fields' transforms
                        "partition": dict(df_.get("partition") or {}),
                        "spec_id": int(mf.get("partition_spec_id") or 0),
                    }
                )
                continue
            out.append(
                {
                    "path": _local_path(df_["file_path"]),
                    # the manifest's exact string: a position delete's
                    # file_path must equal it (spec §Position Delete
                    # Files), and readers may match by string
                    "file_path": df_["file_path"],
                    "partition": df_.get("partition") or {},
                    "spec_id": int(mf.get("partition_spec_id") or 0),
                    "seq": seq,
                    "lower_bounds": {
                        kv["key"]: kv["value"]
                        for kv in (df_.get("lower_bounds") or [])
                    },
                    "upper_bounds": {
                        kv["key"]: kv["value"]
                        for kv in (df_.get("upper_bounds") or [])
                    },
                }
            )
    if collect_deletes:
        return out, deletes
    if deletes:
        raise ValueError(
            f"snapshot carries {len(deletes)} row-level delete "
            "file(s); call with collect_deletes=True (read_iceberg does) "
            "so they are applied instead of silently ignored"
        )
    return out


def _decode_bound(raw: bytes, iceberg_type: str):
    """Appendix-D single-value deserialization for the comparable
    subset; None when the type is not handled (no pruning, never a
    wrong one)."""
    import struct as _struct

    try:
        if iceberg_type == "long":
            return _struct.unpack("<q", raw)[0]
        if iceberg_type == "int":
            return _struct.unpack("<i", raw)[0]
        if iceberg_type == "double":
            return _struct.unpack("<d", raw)[0]
        if iceberg_type == "float":
            return _struct.unpack("<f", raw)[0]
        if iceberg_type == "string":
            return raw.decode("utf-8")
    except Exception:
        return None
    return None


def _coerce_typed_partition(pv, val):
    """Cross-type coercion of a typed manifest partition value to the
    filter literal's type, CONSERVATIVELY: only int-family widening
    and exact numeric-string parses; None = could not coerce safely
    (caller keeps the file)."""
    try:
        if isinstance(val, bool) or isinstance(pv, bool):
            return None  # bool vs anything else: never coerce
        if isinstance(val, int) and isinstance(pv, int):
            return pv
        if isinstance(val, (int, float)) and isinstance(pv, (int, float)):
            # Exact conversions only: int(10.5) would silently truncate a
            # float/double partition value toward zero, so an int filter
            # literal `('p','>',10)` against partition value 10.5 would
            # evaluate 10 > 10 = False and prune a file whose rows match —
            # a wrong answer, not a skipped read. Compare in float space
            # (lossless for the int range these columns hold) and keep the
            # value only when the round-trip is exact; otherwise None and
            # the caller keeps the file.
            coerced = type(val)(pv)
            if coerced == pv:
                return coerced
            if isinstance(val, int) and isinstance(pv, float):
                # Widen the comparison instead of narrowing pv: the caller
                # compares pv-vs-val directly, and Python's int/float
                # comparison is exact, so returning pv unchanged is safe.
                return pv
            return None
        if isinstance(val, str) and isinstance(pv, str):
            return pv
    except (TypeError, ValueError):
        pass
    return None


def prune_files(
    files: list[dict],
    filters: list[tuple],
    schema_fields: list[dict],
    part_cols: list[str],
    specs_by_id: dict[int, dict] | None = None,
) -> list[dict]:
    """Metadata-level file skipping for an imported table — the reason
    the export carries bounds at all. ``filters`` is a list of
    ``(column, op, value)`` with op in =, <, <=, >, >= combined with
    AND; a file survives unless its partition value (exact) or its
    column bounds (conservative) PROVE no row can match. Unknown
    columns, missing bounds, or unhandled types keep the file — pruning
    may only ever cost a read it skipped.

    HIDDEN partitioning prunes too (spec §Partition Transforms — the
    point of Iceberg's design: filters on the SOURCE column prune
    transform partitions): with ``specs_by_id``, an equality filter on
    a bucket/truncate source compares the transformed literal
    (functions.iceberg_transforms.transform_py) against the file's
    partition value, and range filters prune on the order-preserving
    transforms (truncate, year/month/day/hour — not bucket).

    Scale: O(files) driver-side metadata, zero data I/O — at foreign-
    table scale this is the difference between handing Spark a million-
    path listing and the dozen files a point query touches. On a
    1000-bucket foreign table a point lookup reads 1/1000th of the
    files instead of all of them."""
    from incubator_gobblin_spark.functions.iceberg_transforms import (
        ORDER_PRESERVING,
        epoch_norm,
        transform_py,
    )

    by_name = {f["name"]: f for f in schema_fields}
    id2name = {f["id"]: f["name"] for f in schema_fields}

    def transform_may_match(f: dict, col: str, op: str, val) -> bool:
        """False only when some transform-partition value PROVES no
        row of ``f`` can match ``col op val``."""
        spec = (specs_by_id or {}).get(f.get("spec_id", 0))
        if not spec:
            return True
        for pf in spec.get("fields", []):
            if id2name.get(pf["source-id"]) != col:
                continue
            tf = pf["transform"]
            if tf == "identity":
                continue  # identity handled by the part_cols path
            pv = f["partition"].get(pf.get("name") or col)
            if pv is None:
                continue
            fld = by_name.get(col)
            if fld is None or not isinstance(fld["type"], str):
                continue
            try:
                tv = transform_py(tf, val, fld["type"])
            except (ValueError, TypeError):
                continue
            if tv is None:
                continue
            # Avro logical decoding yields date/datetime partition
            # values while transform_py yields epoch ints; compare in
            # epoch space, and if the types STILL disagree keep the
            # file — "pruning may only ever cost a read it skipped"
            pv = epoch_norm(pv)
            if not (
                type(pv) is type(tv)
                or (
                    isinstance(pv, (int, float))
                    and not isinstance(pv, bool)
                    and isinstance(tv, (int, float))
                    and not isinstance(tv, bool)
                )
            ):
                continue
            try:
                if op == "=":
                    if pv != tv:
                        return False
                elif ORDER_PRESERVING.match(tf):
                    # order-preserving: rows satisfying the range have
                    # partition values on the same side of tv
                    # (inclusive — the transform is many-to-one)
                    if op in ("<", "<=") and pv > tv:
                        return False
                    if op in (">", ">=") and pv < tv:
                        return False
            except TypeError:
                continue
        return True

    def may_match(f: dict, col: str, op: str, val) -> bool:
        if not transform_may_match(f, col, op, val):
            return False
        if col in part_cols:
            pv = f["partition"].get(col)
            if pv is None:
                return True  # null partition: only = can exclude, keep
            if type(pv) is not type(val):
                # Iceberg manifests carry TYPED values; coercing across
                # types (str(True) != 'true', bool('false') is True) is
                # non-conservative — compare only same-typed values,
                # keep the file otherwise (pruning may only ever cost
                # a read it skipped)
                coerced = _coerce_typed_partition(pv, val)
                if coerced is None:
                    return True
                pv = coerced
            return {
                "=": pv == val,
                "<": pv < val,
                "<=": pv <= val,
                ">": pv > val,
                ">=": pv >= val,
            }.get(op, True)
        fld = by_name.get(col)
        if fld is None or not isinstance(fld["type"], str):
            return True
        lo_raw = f.get("lower_bounds", {}).get(fld["id"])
        hi_raw = f.get("upper_bounds", {}).get(fld["id"])
        if lo_raw is None or hi_raw is None:
            return True
        lo = _decode_bound(lo_raw, fld["type"])
        hi = _decode_bound(hi_raw, fld["type"])
        if lo is None or hi is None:
            return True
        try:
            return {
                "=": lo <= val <= hi,
                "<": lo < val,
                "<=": lo <= val,
                ">": hi > val,
                ">=": hi >= val,
            }.get(op, True)
        except TypeError:
            return True  # incomparable literal: keep

    out = files
    for col, op, val in filters:
        out = [f for f in out if may_match(f, col, op, val)]
    return out


def _parsed_name_mapping(metadata: dict) -> list | None:
    """The table's ``schema.name-mapping.default`` property parsed to
    its mapping list, or None when absent/unparseable (absent mapping
    = identity name resolution, the pre-mapping behavior)."""
    raw = (metadata.get("properties") or {}).get(
        "schema.name-mapping.default"
    )
    if not raw:
        return None
    try:
        nm = json.loads(raw)
    except ValueError:
        return None
    return nm if isinstance(nm, list) else None


def _assemble_plain_with_mapping(
    spark: SparkSession,
    plain: dict[tuple, list[str]],
    schema_json: dict,
    schema: StructType,
    part_cols: list[str],
    union_threshold: int,
    with_positions: bool,
    name_mapping: list | None,
) -> list[DataFrame]:
    """Resolve ID-LESS data files through the table's
    ``schema.name-mapping.default`` (spec §Column Projection rule 2 /
    §Name Mapping Serialization): a foreign file written before a
    column rename stores the OLD name, carries no parquet field ids,
    and would null-fill under current-name resolution — the mapping
    lists every name a field id was ever written under, so the reader
    picks, per file, the first mapped name the footer actually has and
    aliases it back to the current schema name. Files are classed by
    their top-level footer name set (driver-side pyarrow metadata —
    the same footers `_split_groups_by_field_ids` just sniffed) so one
    physical-schema scan serves each class. Top level only, the same
    caveat as the streaming reader's id resolution; a well-formed
    mapping keeps names unique across fields (spec requirement), which
    is what makes first-present-name resolution exact."""
    names_of_id = {
        e.get("field-id"): list(e.get("names") or [])
        for e in (name_mapping or [])
        if isinstance(e, dict)
    }
    fid_of = {f["name"]: f["id"] for f in schema_json["fields"]}
    # Identity shortcut: when every mapped name IS the current schema
    # name (this engine's own exports, un-renamed foreign tables),
    # name resolution cannot differ from the declared schema — keep
    # the single-scan plan and skip the footer class-split entirely
    # (an evolved table's heterogeneous footers would otherwise split
    # one scan into several union arms for no resolution gain).
    identity = all(
        set(names_of_id.get(f["id"], [])) <= {f["name"]}
        for f in schema_json["fields"]
    )
    if not name_mapping or identity:
        return [
            assemble_snapshot(
                spark, plain, schema, part_cols, union_threshold,
                with_positions,
            )
        ]
    classes: dict[frozenset, dict[tuple, list[str]]] = {}
    for key, files in plain.items():
        for fp in files:
            fnames = _footer_facts(fp)[1]
            classes.setdefault(fnames, {}).setdefault(key, []).append(fp)
    parts: list[DataFrame] = []
    for fnames, grp in classes.items():
        rename: dict[str, str] = {}  # current name -> stored name
        for f in schema.fields:
            if f.name in part_cols:
                continue  # restored from metadata, never read from files
            cands = names_of_id.get(fid_of.get(f.name), [])
            phys = next((c for c in cands if c in fnames), None)
            if phys is not None and phys != f.name:
                rename[f.name] = phys
        if not rename:
            parts.append(
                assemble_snapshot(
                    spark, grp, schema, part_cols, union_threshold,
                    with_positions,
                )
            )
            continue
        phys_schema = StructType(
            [
                StructField(
                    rename.get(f.name, f.name), f.dataType, f.nullable
                )
                for f in schema.fields
            ]
        )
        df = assemble_snapshot(
            spark, grp, phys_schema, part_cols, union_threshold,
            with_positions,
        )
        sel = [
            F.col(rename.get(f.name, f.name)).alias(f.name)
            for f in schema.fields
        ]
        if with_positions:
            sel += [F.col("_file_path"), F.col("_row_index")]
        parts.append(df.select(*sel))
    return parts


def _assemble_iceberg(
    spark: SparkSession,
    groups: dict[tuple, list[str]],
    schema_json: dict,
    schema: StructType,
    part_cols: list[str],
    union_threshold: int,
    with_positions: bool = False,
    name_mapping: list | None = None,
) -> DataFrame:
    """assemble_snapshot with the spec's column-resolution rule: files
    carrying parquet field ids resolve by ID (Spark field-id matching —
    survives column renames), files without resolve by name-mapping
    when the table carries ``schema.name-mapping.default``
    (:func:`_assemble_plain_with_mapping`) and by identity name
    otherwise (this engine's own exports); the classes read separately
    and union."""
    with_ids, plain = _split_groups_by_field_ids(groups)
    parts: list[DataFrame] = []
    if plain:
        parts.extend(
            _assemble_plain_with_mapping(
                spark, plain, schema_json, schema, part_cols,
                union_threshold, with_positions, name_mapping,
            )
        )
    if with_ids:
        from incubator_gobblin_spark.session import ensure_field_id_read

        ensure_field_id_read(spark)
        parts.append(
            assemble_snapshot(
                spark,
                with_ids,
                _schema_with_field_ids(schema_json),
                part_cols,
                union_threshold,
                with_positions,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def assemble_file_set(
    spark: SparkSession,
    metadata: dict,
    path: str,
    files: list[dict],
    schema_json: dict,
    schema: StructType,
    union_threshold: int,
    with_positions: bool = False,
) -> DataFrame:
    """Assemble an EXPLICIT data-file list of one Iceberg table under
    the given schema — read_iceberg's per-FILE-spec identity-partition
    restore (a file written before partition evolution physically
    STORES the column the current spec derives, and a spec may name
    its identity field differently from the source column) plus
    field-id / name-mapping column resolution. No deletes applied:
    callers own delete semantics (read_iceberg itself; the changelog's
    shared parent scan)."""
    field_name = {f["id"]: f["name"] for f in schema_json["fields"]}
    specs_by_id_all = {
        s["spec-id"]: s for s in metadata.get("partition-specs", [])
    }
    default_spec_id = metadata["default-spec-id"]
    default_spec = specs_by_id_all[default_spec_id]
    ident_cache: dict[int, list[tuple[str, str]]] = {}

    def _ident(spec_id: int) -> list[tuple[str, str]]:
        """(partition-field-name, source-column-name) identity pairs
        of one spec."""
        if spec_id not in ident_cache:
            sp2 = specs_by_id_all.get(spec_id) or default_spec
            ident_cache[spec_id] = [
                (
                    f2.get("name") or field_name[f2["source-id"]],
                    field_name[f2["source-id"]],
                )
                for f2 in sp2["fields"]
                if f2["transform"] == "identity"
                and f2["source-id"] in field_name
            ]
        return ident_cache[spec_id]

    per_spec: dict[int, dict[tuple, list[str]]] = {}
    for f in files:
        f_sid = f.get("spec_id", default_spec_id)
        idf = _ident(f_sid)
        pv = f["partition"]
        # assemble_snapshot casts from strings (the Hive-path evidence
        # Delta carries); Iceberg manifests carry typed values, so
        # stringify — the cast back through the declared type is exact
        # for identity transforms over long/string/date partitions
        key = tuple(
            None if pv.get(p) is None else str(pv[p]) for p, _ in idf
        )
        fp = f["path"]
        if not os.path.isabs(fp):
            fp = os.path.join(path, fp)
        per_spec.setdefault(f_sid, {}).setdefault(key, []).append(fp)

    parts = []
    for f_sid in sorted(per_spec):
        parts.append(
            _assemble_iceberg(
                spark,
                per_spec[f_sid],
                schema_json,
                schema,
                [src for _, src in _ident(f_sid)],
                union_threshold,
                with_positions=with_positions,
                name_mapping=_parsed_name_mapping(metadata),
            )
        )
    out = parts[0]
    for p2 in parts[1:]:
        out = out.unionByName(p2)
    return out


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    union_threshold: int = 16,
    filters: list[tuple] | None = None,
    _coords: bool = False,
) -> DataFrame:
    """Read an Iceberg table's committed snapshot (optionally a
    historical ``snapshot_id`` — Iceberg time travel) as a DataFrame.

    Identity-partition values are restored from each data file's
    ``partition`` struct, cast to the types declared by the table
    schema, and the result carries the declared column set in schema
    order. Hidden-partitioning transforms (bucket/truncate/day...) are
    ACCEPTED and simply not restored: per the spec their SOURCE columns
    are stored in the data files (only identity-partition columns may
    be omitted, the migrated-Hive case), so the scan reads them
    directly — the derived partition values are just not usable for
    metadata pruning here, costing at most a skipped skip.

    v2 row-level deletes written by a foreign engine (position and
    equality, partition-scoped or global) are applied per delete group
    through :func:`plan_delete_group`, which states the rules.

    ``_coords=True`` (internal — sinks.iceberg_delete) additionally
    returns the scan coordinates ``_norm_path`` (decoded absolute data
    file path) and ``_row_index`` per surviving row, so a row-level
    DELETE can turn matched rows into spec position-delete
    coordinates without a second scan.

    Scale shape: the data side stays a single whole-stage-codegen scan
    with no extra shuffle; each delete group is scanned once and joined
    as a bounded broadcast."""
    metadata = current_metadata(path)
    # a STRING snapshot_id is a ref (spec §refs: branch/tag names map
    # to snapshot ids) — resolve it, loudly refusing unknown names
    if isinstance(snapshot_id, str):
        ref = (metadata.get("refs") or {}).get(snapshot_id)
        if ref is None or ref.get("snapshot-id") is None:
            raise FileNotFoundError(
                f"read_iceberg: no ref named {snapshot_id!r} "
                f"(have {sorted((metadata.get('refs') or {}))})"
            )
        snapshot_id = int(ref["snapshot-id"])
    # time travel reads under the SNAPSHOT's schema (spec: a snapshot
    # records its schema-id; reading an old snapshot with a newer
    # schema would surface columns that did not exist then). Falls
    # back to the current schema when the snapshot predates schema-id
    # tracking or the id is no longer in the schemas list.
    schema_id = metadata["current-schema-id"]
    if snapshot_id is not None:
        snap = next(
            (
                s
                for s in metadata.get("snapshots", [])
                if s["snapshot-id"] == snapshot_id
            ),
            None,
        )
        if snap is not None and snap.get("schema-id") is not None:
            schema_id = snap["schema-id"]
    schema_json = next(
        (s for s in metadata["schemas"] if s["schema-id"] == schema_id),
        None,
    ) or current_schema(metadata)
    schema, part_cols = table_layout(metadata, schema_json)
    files, delete_files = snapshot_files(
        metadata, path, snapshot_id, collect_deletes=True
    )
    if filters:
        # metadata-level file skipping on partition values + exported
        # column bounds + HIDDEN-partition transforms (see prune_files)
        # — conservative, then the same filters MUST still be applied
        # row-level by the caller
        files = prune_files(
            files,
            filters,
            schema_json["fields"],
            part_cols,
            specs_by_id={
                s["spec-id"]: s
                for s in metadata.get("partition-specs", [])
            },
        )
    if not files:
        empty = spark.createDataFrame([], schema)
        if _coords:
            empty = empty.withColumn(
                "_norm_path", F.lit(None).cast("string")
            ).withColumn("_row_index", F.lit(None).cast("long"))
        return empty
    # per-FILE-spec grouping + identity restore + id/name resolution
    # live in assemble_file_set (shared with the changelog's one-pass
    # parent recovery)
    coords = _coords or bool(delete_files)
    df = assemble_file_set(
        spark, metadata, path, files, schema_json, schema, union_threshold, coords
    )
    if not coords:
        return df
    df = df.withColumn("_norm_path", decoded_file_path("_file_path"))
    # Both kinds read the row's data sequence from one broadcast
    # file->seq map, joined only when some gate can bind (the manifests
    # carry every seq, so vacuity is a driver-side check) — keeping the
    # common one-delete-snapshot read at one anti-join per group
    data_seqs = [int(f.get("seq") or 0) for f in files]
    plans = [
        plan_delete_group(spark, metadata, schema_json, path, g, f"_{i}", data_seqs)
        for i, g in enumerate(group_deletes(delete_files))
    ]
    if any(p.needs_seq for p in plans):
        df = with_data_seq(spark, df, path, files)
    for p in plans:
        df = df.join(p.build_side(), p.cond, "left_anti")
    keep = [f.name for f in schema.fields]
    if _coords:
        keep += ["_norm_path", "_row_index"]
    return df.select(*keep)


def with_data_seq(
    spark: SparkSession, df: DataFrame, path: str, files: list[dict]
) -> DataFrame:
    """``df`` (carrying ``_norm_path``) plus each row's DATA sequence
    number ``_data_seq``, from one broadcast file->seq map of
    ``files`` keyed on the decoded absolute path (no shuffle; the map
    is O(files) driver-side metadata)."""
    seq_map = spark.createDataFrame(
        [(norm_file_ref(f["path"], path), int(f.get("seq") or 0)) for f in files],
        "_seq_path string, _data_seq long",
    )
    return df.join(F.broadcast(seq_map), F.expr("_norm_path = _seq_path"), "left")


def table_layout(metadata: dict, schema_json: dict) -> tuple[StructType, list[str]]:
    """The Spark schema of ``schema_json`` and the default spec's
    IDENTITY partition columns — the ones a scan restores from
    manifest partition values (hidden-partitioning transforms keep
    their source columns inside the data files)."""
    schema = StructType(
        [
            StructField(f["name"], _spark_type(f["type"]), not f.get("required"))
            for f in schema_json["fields"]
        ]
    )
    name = {f["id"]: f["name"] for f in schema_json["fields"]}
    spec = next(
        s
        for s in metadata["partition-specs"]
        if s["spec-id"] == metadata["default-spec-id"]
    )
    return schema, [
        name[f["source-id"]] for f in spec["fields"] if f["transform"] == "identity"
    ]


def group_deletes(dels: list[dict], signature=None) -> list[list[dict]]:
    """Delete files grouped for :func:`plan_delete_group`: by content,
    equality ids and (for equality deletes) spec id — scope transforms
    must be uniform within a group, and a table evolved across specs
    may carry same-named fields with different transforms. A caller
    may add a ``signature(d)`` to the key (the changelog's snapshot
    membership). Groups come out in key order, files in input order."""
    groups: dict[tuple, list[dict]] = {}
    for d in dels:
        eq = d["content"] == 2
        key = (
            d["content"],
            tuple(sorted(d["equality_ids"])),
            int(d.get("spec_id", 0)) if eq else 0,
            signature(d) if signature else (),
        )
        groups.setdefault(key, []).append(d)
    return [groups[k] for k in sorted(groups)]


def resolve_delete_scope(
    metadata: dict, schema_json: dict, d: dict, sc: str
) -> tuple[str, str, str]:
    """``(source column, transform, Iceberg type)`` of equality delete
    ``d``'s scope on partition field ``sc``, resolved through the
    DELETE FILE's own spec (spec §Scan Planning); a field its spec does
    not name resolves only as an identity column of the current spec.
    ValueError refuses the read: applying the delete globally would
    over-delete. Pure Python — the stream reader calls it where no
    Spark session exists."""
    fields = {f["id"]: f for f in schema_json["fields"]}
    spec = next(
        (
            s
            for s in metadata.get("partition-specs", [])
            if s["spec-id"] == d.get("spec_id", 0)
        ),
        {"fields": []},
    )
    pf = next(
        (
            f
            for f in spec["fields"]
            if (f.get("name") or fields.get(f["source-id"], {}).get("name")) == sc
        ),
        None,
    )
    refuse = f"equality delete {d['path']} is scoped to partition field {sc!r}"
    guard = "refusing to apply the delete globally (it would over-delete)"
    if pf is None:
        if sc in table_layout(metadata, schema_json)[1]:
            src = next(f for f in schema_json["fields"] if f["name"] == sc)
            return sc, "identity", src["type"]
        raise ValueError(
            f"{refuse} not present in its spec {d.get('spec_id')} — {guard}"
        )
    src = fields.get(pf["source-id"])
    if src is None or not isinstance(src["type"], str):
        raise ValueError(
            f"{refuse}, whose source column is nested or unresolvable — {guard}"
        )
    try:
        check_transform(pf["transform"], src["type"])
    except ValueError as e:
        raise ValueError(
            f"{refuse} ({pf['transform']} over {src['type']}) this engine "
            f"cannot evaluate ({e}) — {guard}"
        ) from e
    return src["name"], pf["transform"], src["type"]


def scope_literal(transform: str, value):
    """A delete file's scope value in the form its row side compares
    with: identity values raw (both sides compare as strings),
    transform results in epoch space — Avro decodes day/timestamp
    partition values to date/datetime, the transforms yield epoch ints
    (``iceberg_transforms.epoch_norm``)."""
    return value if transform == "identity" else epoch_norm(value)


class DeleteGroup(NamedTuple):
    """One delete group planned by :func:`plan_delete_group`."""

    frame: DataFrame  # materialized tombstones, columns suffixed
    cond: Column  # match against the row columns
    rows: int  # manifest record count
    marker: str  # column non-null after an outer join iff the row matched
    needs_seq: bool  # ``cond`` reads ``_data_seq``

    def build_side(self, frame: DataFrame | None = None) -> DataFrame:
        """``frame`` (default: the group's) as a join's build side,
        broadcast while the manifest row count is at most
        ``delta_import.TOMBSTONE_BROADCAST_MAX_ROWS`` and shuffle-joined
        past it: identical result, bounded memory."""
        frame = self.frame if frame is None else frame
        if self.rows <= delta_import.TOMBSTONE_BROADCAST_MAX_ROWS:
            return F.broadcast(frame)
        return frame


def plan_delete_group(
    spark: SparkSession,
    metadata: dict,
    schema_json: dict,
    path: str,
    dels: list[dict],
    sfx: str,
    data_seqs: list[int],
) -> DeleteGroup:
    """Plan one group of v2 row-level delete files (one
    :func:`group_deletes` group) against rows of data sequenced
    ``data_seqs`` — the one place Iceberg delete application is
    derived, the twin of ``delta_import.anti_join_dvs``. Its rules:

    - POSITION deletes (spec §Position Delete Files — parquet of
      ``file_path``, ``pos``) match the row's ``_norm_path`` (the
      DECODED absolute scan path: the scan's ``_metadata.file_path``
      is a percent-encoded URI, delete-file paths are not) and
      ``_row_index``, for data sequenced <= the delete file.
    - EQUALITY deletes (spec §Equality Delete Files — parquet of the
      ``equality_ids`` columns) match the row's data columns with
      null-safe equality (SQL ``IS NOT DISTINCT FROM``: a null delete
      value kills a null row value), for data sequenced STRICTLY
      before the delete file — what lets a re-inserted key survive.
    - A partition-scoped equality delete applies only within its
      partition (spec §Scan Planning; a null component is global for
      that field). Each scope field resolves through the delete file's
      OWN spec (:func:`resolve_delete_scope`, which refuses what it
      cannot resolve); identity scopes compare as strings, transform
      scopes (bucket/truncate/year/month/day/hour) evaluate the
      transform over the source column (``transform_expr``) against
      the epoch-normalized literal (:func:`scope_literal`).
    - The sequence gate is added only when it can bind (some data
      sequence can fail it); ``needs_seq`` then tells the caller to
      give the rows a ``_data_seq`` column.
    - The group's files are read with one scan per distinct (sequence,
      scope tuple), not one per file — a commit stages its keys across
      N shuffle partitions, N files sharing seq and scope — unioned
      and materialized once (``materialize_small``, no exchange under
      it), so a pushdown through a scan union does not re-read them
      per arm. ``build_side`` broadcasts them within the cap.

    Frame columns carry ``sfx``, so several groups join one frame."""
    eq = dels[0]["content"] == 2
    names = {f["id"]: f["name"] for f in schema_json["fields"]}
    keys = [names[i] for i in sorted(dels[0]["equality_ids"])]
    scope_cols = sorted(
        {k for d in dels for k, v in d["partition"].items() if v is not None}
        if eq
        else ()
    )
    scopes = [
        resolve_delete_scope(metadata, schema_json, dels[0], sc) for sc in scope_cols
    ]
    subs: dict[tuple, tuple[list, list[dict]]] = {}
    for d in dels:
        sv = [
            scope_literal(tf, d["partition"].get(sc))
            for sc, (_, tf, _) in zip(scope_cols, scopes)
        ]
        subs.setdefault((int(d["seq"]), repr(sv)), (sv, []))[1].append(d)
    # SQL text: one py4j round-trip per select and per condition
    frame = None
    for (seq, _), (sv, ds) in sorted(subs.items()):
        if eq:
            sel = [f"{ident(c)} AS {ident(f'_k{sfx}_{c}')}" for c in keys]
        else:
            sel = [
                f"{decoded_file_path_sql('file_path')} AS _dp{sfx}",
                f"CAST(pos AS BIGINT) AS _dpos{sfx}",
            ]
        one = scan_files(
            spark, [norm_file_ref(d["path"], path) for d in ds]
        ).selectExpr(*sel, f"CAST({seq} AS BIGINT) AS _dseq{sfx}")
        for sc, v in zip(scope_cols, sv):
            one = one.withColumn(f"_s{sfx}_{sc}", F.lit(v))
        frame = one if frame is None else frame.unionByName(one)
    transformed = []
    if eq:
        conds = [f"{ident(c)} <=> {ident(f'_k{sfx}_{c}')}" for c in keys]
        for sc, (src, tf, ice_t) in zip(scope_cols, scopes):
            rhs = ident(f"_s{sfx}_{sc}")
            if tf == "identity":
                conds.append(
                    f"({rhs} IS NULL OR "
                    f"CAST({ident(src)} AS STRING) = CAST({rhs} AS STRING))"
                )
            else:
                transformed.append(
                    F.col(rhs).isNull()
                    | (transform_expr(tf, F.col(ident(src)), ice_t) == F.col(rhs))
                )
    else:
        conds = [f"_norm_path = _dp{sfx}", f"_row_index = _dpos{sfx}"]
    # the gate binds when some data sequence is > (position) or >=
    # (equality) the group's oldest delete sequence
    needs_seq = max(data_seqs, default=0) > min(int(d["seq"]) for d in dels) - eq
    if needs_seq:
        conds.append(f"_data_seq {'<' if eq else '<='} _dseq{sfx}")
    return DeleteGroup(
        materialize_small(frame),
        reduce(and_, [F.expr(" AND ".join(conds)), *transformed]),
        sum(int(d.get("record_count") or 0) for d in dels),
        # never null in the frame, so null after an outer join iff
        # the row matched nothing (key columns may be legitimately null)
        f"_dseq{sfx}",
        needs_seq,
    )


def read_iceberg_incremental(
    spark: SparkSession,
    path: str,
    after_snapshot_id: int,
    until_snapshot_id: int | None = None,
    union_threshold: int = 16,
) -> DataFrame:
    """Rows APPENDED strictly after ``after_snapshot_id`` up to and
    including ``until_snapshot_id`` (default: current) — Iceberg's
    incremental append scan (iceberg-core IncrementalAppendScan;
    Spark's ``option("start-snapshot-id", ...)``), the consumption
    pattern of a downstream job tailing a foreign table without
    re-reading the world.

    Semantics mirror the upstream scan exactly: every snapshot in the
    range must be ``operation=append`` — a delete/overwrite/replace in
    the range raises, because its row-level effects cannot be
    expressed as a pure append stream (the same error Iceberg throws).
    Emitted files are each range snapshot's ADDED manifest entries
    (status=1 stamped with that snapshot's id) — O(range manifests)
    driver-side metadata, and the data read scans only the delta
    files; partition restore shares assemble_snapshot."""
    metadata = current_metadata(path)
    snaps = metadata.get("snapshots", [])
    by_id = {s["snapshot-id"]: s for s in snaps}
    if after_snapshot_id not in by_id:
        raise FileNotFoundError(
            f"snapshot {after_snapshot_id} not present "
            f"(have {[s['snapshot-id'] for s in snaps]})"
        )
    until = (
        metadata["current-snapshot-id"]
        if until_snapshot_id is None
        else until_snapshot_id
    )
    if until not in by_id:
        raise FileNotFoundError(f"snapshot {until} not present")
    schema_json = current_schema(metadata)
    schema, _ = table_layout(metadata, schema_json)
    # snapshot order: the metadata list is append-ordered; the range is
    # (after, until] by position
    order = [s["snapshot-id"] for s in snaps]
    lo, hi = order.index(after_snapshot_id), order.index(until)
    if hi < lo:
        raise ValueError(
            f"until_snapshot_id {until} precedes after_snapshot_id "
            f"{after_snapshot_id}"
        )
    added: list[dict] = []
    for sid in order[lo + 1 : hi + 1]:
        snap = by_id[sid]
        op = snap.get("summary", {}).get("operation", "append")
        if op != "append":
            raise ValueError(
                f"read_iceberg_incremental: snapshot {sid} is "
                f"operation={op!r} — the range is not append-only; "
                "re-read the full snapshot instead (the "
                "IncrementalAppendScan restriction)"
            )
        for mf in _decode_manifest_list(snap, path):
            if mf.get("content", 0) != 0:
                continue  # delete manifests guarded by the op check
            if int(mf.get("added_snapshot_id") or -1) != sid:
                continue  # carried by reference: not this snapshot's adds
            for entry in _decode_manifest(mf, path):
                if entry["status"] != 1:  # ADDED only
                    continue
                if (
                    entry.get("snapshot_id") is not None
                    and int(entry["snapshot_id"]) != sid
                ):
                    continue
                df_ = entry["data_file"]
                added.append(
                    {
                        "path": norm_file_ref(df_["file_path"], path),
                        "partition": df_.get("partition") or {},
                        "spec_id": int(mf.get("partition_spec_id") or 0),
                    }
                )
    if not added:
        return spark.createDataFrame([], schema)
    # per-FILE-spec identity restore and id/name resolution: the
    # read_iceberg rule (a file written before partition evolution
    # stores the column the current spec derives)
    return assemble_file_set(
        spark, metadata, path, added, schema_json, schema, union_threshold
    )
