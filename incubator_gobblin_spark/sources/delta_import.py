"""Read an external Delta Lake table snapshot (no Delta jars needed).

The Delta transaction log is publicly documented JSON-lines
(delta-io PROTOCOL.md): versioned ``_delta_log/NNN.json`` files of
add/remove/metaData actions, optionally compacted into parquet
checkpoint files referenced by ``_last_checkpoint``. Replaying it needs
nothing but a JSON parser — and checkpoints are parquet, which Spark
reads natively — so a Delta table written by any engine is readable
here without delta-spark on the classpath: replay the log driver-side
(pure metadata), read exactly the live data files, and re-inject the
partition values the files don't carry.

This is the import half of the interop surface; the export half is
``FileSink.export_delta_log`` (and the ``delta_log=True`` publisher
flag). Offline caveat, stated plainly: no foreign Delta writer exists
in this environment, so the round-trip tests pin this reader against
this engine's own spec-conformant export plus hand-written
spec-example logs, not against delta-spark output.

Reference parity: the reference reads external tables through
HiveSource / the copy-source family (gobblin-data-management
``.../copy/hive/HiveDataset.java:84``) — registered locations, no
table-format log awareness. A log-replaying reader is part of this
engine's lake surface instead.

Scale shape: the replay is O(log actions) driver-side JSON — the same
discipline as the manifest lake's own commit-chain walk — and the data
read lists only live files (never a directory scan, so vacuumed or
uncommitted files are invisible). Checkpoint parquet, when present,
bounds the JSON tail to the versions after it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from incubator_gobblin_spark.functions.sql_text import ident, string
from incubator_gobblin_spark.sources.files import scan_files

#: Broadcasting row-level tombstones is only safe while the tombstone
#: set is metadata-scale. Past this many deleted rows (summed from the
#: descriptors' ``cardinality`` / the delete manifests' record counts —
#: no extra job), the anti-join falls back to a shuffle join keyed on
#: the same (path, pos) columns: identical result, bounded executor
#: memory. A pathological table (billions of deleted rows, never
#: vacuumed) must not OOM the broadcast. Binds every Delta DV anti-join
#: (:func:`anti_join_dvs` — the snapshot read, DELETE/MERGE CDF
#: staging, OPTIMIZE, the CDF read) and the Iceberg position-delete
#: joins.
TOMBSTONE_BROADCAST_MAX_ROWS = 4_000_000


def materialize_small(df):
    """Compute a metadata-scale frame ONCE and serve every downstream
    reference from the materialized partitions.

    Catalyst's ``PushdownLeftSemiAntiJoin`` pushes a semi/anti join
    below a Union, copying the BUILD side into every arm — for the
    lake readers that means the tombstone/delete-key subtree (DV
    decode ``mapInPandas``, delete-file parquet scans) re-executes
    once per partition-group arm. ``localCheckpoint`` truncates the
    lineage to the computed blocks, so the copies degenerate to reads
    of the same small RDD and AQE's exchange reuse collapses the
    broadcasts. LAZY on purpose: an eager checkpoint would run one
    extra Spark job per delete group at plan-construction time (a
    measurable fixed cost on small reads), while the lazy form
    computes inside the first consuming job and every later reference
    shares the same RDD blocks. So no exchange (``repartition``,
    ``distinct``, a shuffle join) may sit under it: under AQE even the
    lazy checkpoint executes the plan's shuffle stages while the plan
    is being built, one Spark job per exchange before the caller asked
    for any result. Only ever called on frames already
    bounded by ``TOMBSTONE_BROADCAST_MAX_ROWS``-scale gates, so the
    blocks are metadata-scale by construction."""
    return df.localCheckpoint(eager=False)


def decoded_file_path_sql(name: str) -> str:
    """SQL text normalizing the URI-form path column ``name``
    (``_metadata.file_path``, a manifest-carried location) to a bare
    decoded absolute path.

    Spark's ``_metadata.file_path`` is a percent-encoded ``file:`` URI
    while the replayed log/manifest paths are decoded absolute paths —
    comparing them raw silently matches NOTHING for any file or
    partition-directory name containing an encodable char (space, '+',
    '%'), resurrecting deleted rows. Decode first. Java's URLDecoder
    maps '+' to space, but '+' in a URI path segment is a literal plus —
    protect it first (same trick as assemble_snapshot's suffix key; a
    literal '%2B' or other VALID '%xx' sequence in a RAW unencoded
    path is the one remaining ambiguity, pathological). A raw path
    whose '%' forms an INVALID escape ('100%done') must not kill the
    read — try_url_decode falls back to the raw value."""
    c = ident(name)
    return (
        f"regexp_replace(coalesce(try_url_decode(replace({c}, '+', '%2B')), "
        f"{c}), '^file:/+', '/')"
    )


def decoded_file_path(name: str):
    """:func:`decoded_file_path_sql` as a Column."""
    return F.expr(decoded_file_path_sql(name))


def add_file_path(table_path: str, raw: str) -> str:
    """Local filesystem path of an add/remove/cdc action's ``path`` —
    the one action-path rule: every Delta reader and writer resolves
    action paths here (wrap in ``os.path.abspath`` for set/dict keys).
    PROTOCOL.md: the common form is a RELATIVE percent-encoded path
    under the table root, but ABSOLUTE paths and absolute ``file:``
    URIs are legal too — joining those under the root would fabricate
    a bogus path (a live file listed as a vacuum candidate, a DELETE
    scanning a path that does not exist)."""
    s = str(raw)
    if s.startswith("file://"):
        from urllib.parse import urlparse

        return unquote(urlparse(s).path)
    if s.startswith("file:"):
        return unquote(s[len("file:"):])
    p = unquote(s)
    return p if os.path.isabs(p) else os.path.join(table_path, p)


def _log_versions(log_dir: str) -> list[int]:
    out = []
    for f in os.listdir(log_dir):
        stem, _, ext = f.partition(".")
        if ext == "json" and stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _commit_actions(log_dir: str, v: int) -> list[dict]:
    """The actions of commit file ``v`` (one JSON object per line)."""
    with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _checkpoint_files(log_dir: str, cp_v: int, parts: int | None) -> list[str]:
    """Checkpoint file(s) for version ``cp_v`` — the classic single-file
    form, the multi-part form ({v}.checkpoint.{i}.{n}.parquet, ``parts``
    advertised in ``_last_checkpoint``), or a V2 UUID-named checkpoint
    ({v}.checkpoint.{uuid}.parquet/.json — PROTOCOL.md §V2 Checkpoint
    Table Feature; racing writers may leave several, any one is
    complete, take the lexicographically first)."""
    if parts:
        return [
            os.path.join(
                log_dir, f"{cp_v:020d}.checkpoint.{i:010d}.{parts:010d}.parquet"
            )
            for i in range(1, parts + 1)
        ]
    classic = os.path.join(log_dir, f"{cp_v:020d}.checkpoint.parquet")
    if os.path.exists(classic):
        return [classic]
    prefix = f"{cp_v:020d}.checkpoint."

    def _uuid_named(f: str) -> bool:
        stem = f[len(prefix):]
        for ext in (".parquet", ".json"):
            if stem.endswith(ext):
                stem = stem[: -len(ext)]
                break
        else:
            return False
        # exclude the multi-part numeric form: its middle segments are
        # all digits ({i}.{n}); a UUID segment is not
        segs = [s for s in stem.split(".") if s]
        return bool(segs) and not all(s.isdigit() for s in segs)

    v2 = sorted(
        f for f in os.listdir(log_dir) if f.startswith(prefix) and _uuid_named(f)
    )
    if v2:
        return [os.path.join(log_dir, v2[0])]
    return [classic]  # let the open() raise with the classic name


def _pa_to_plain(v):
    """pyarrow .to_pylist() values -> plain JSON-shaped python (map
    columns arrive as lists of (key, value) tuples)."""
    if isinstance(v, list) and v and isinstance(v[0], tuple) and len(v[0]) == 2:
        return {k: x for k, x in v}
    if isinstance(v, list) and v == []:
        return v
    if isinstance(v, dict):
        return {k: _pa_to_plain(x) for k, x in v.items() if x is not None}
    return v


def _checkpoint_actions(log_dir: str, cp_v: int, parts: int | None):
    """Yield the action dicts of a checkpoint — pyarrow-direct, so the
    replay needs no Spark session (usable from DataSource.schema and
    from the exporter). V2 checkpoints (PROTOCOL.md §V2 Checkpoint
    Table Feature) are handled transparently: UUID-named .parquet or
    .json top files, ``sidecar`` actions followed into
    ``_delta_log/_sidecars/`` (the add/remove actions live there),
    ``checkpointMetadata`` rows skipped."""

    def _file_actions(f: str):
        if f.endswith(".json"):
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)
            return
        import pyarrow.parquet as pq

        table = pq.read_table(f)
        cols = {
            name: table.column(name).to_pylist()
            for name in table.column_names
        }
        for i in range(table.num_rows):
            for kind in (
                "protocol", "metaData", "add", "remove", "txn", "sidecar",
            ):
                if kind in cols and cols[kind][i] is not None:
                    yield {kind: _pa_to_plain(cols[kind][i])}

    for f in _checkpoint_files(log_dir, cp_v, parts):
        for act in _file_actions(f):
            if "sidecar" in act:
                sp = act["sidecar"]["path"]
                if not os.path.isabs(sp):
                    sp = os.path.join(log_dir, "_sidecars", sp)
                yield from _file_actions(sp)
            elif "checkpointMetadata" in act:
                continue
            else:
                yield act


def _replay_state(
    log_dir: str, version: int | None, *, collect_removes: bool = False
):
    """Replay the log up to ``version`` (inclusive; default latest).
    Returns (live adds by path, metaData, protocol) — or, with
    ``collect_removes``, a 4-tuple whose last element is the remove
    tombstones by path still standing at the target version (a later
    re-add of the same path clears its tombstone; PROTOCOL.md
    checkpoint state carries these so readers keep vacuum-safety
    metadata). Starts from the newest checkpoint at or below the target
    version when one is advertised by ``_last_checkpoint`` (single- or
    multi-part), so the JSON replay is O(tail). Pure driver-side
    metadata: JSON + pyarrow, no Spark session required."""
    versions = _log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no Delta commits under {log_dir}")
    target = versions[-1] if version is None else version
    if target not in versions:
        # a target whose commit JSON was expired is still replayable
        # when a checkpoint fully defines it AND every version after
        # the checkpoint up to the target survives as JSON (in
        # practice: target == checkpoint version, the state base the
        # CDF reader needs after external log cleanup)
        lc_path = os.path.join(log_dir, "_last_checkpoint")
        covered = False
        if os.path.exists(lc_path):
            with open(lc_path) as fh:
                cp_v = int(json.load(fh)["version"])
            have = set(versions)
            covered = cp_v <= target and all(
                x in have for x in range(cp_v + 1, target + 1)
            )
        if not covered:
            raise FileNotFoundError(
                f"Delta version {target} not present "
                f"(have {versions[0]}..{versions[-1]})"
            )

    live: dict[str, dict] = {}
    removes: dict[str, dict] = {}
    meta: dict = {}
    proto: dict = {}
    start = 0
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc_path):
        with open(lc_path) as fh:
            lc = json.load(fh)
        cp_v = int(lc["version"])
        if cp_v <= target:
            for act in _checkpoint_actions(log_dir, cp_v, lc.get("parts")):
                if "add" in act:
                    live[act["add"]["path"]] = act["add"]
                elif "remove" in act:
                    removes[act["remove"]["path"]] = act["remove"]
                elif "metaData" in act:
                    meta = act["metaData"]
                elif "protocol" in act:
                    proto = act["protocol"]
            start = cp_v + 1

    # contiguity guard: every version in [start, target] must exist as
    # JSON, or the replay would SILENTLY return a partial state (log
    # cleanup expired versions below the latest checkpoint; time
    # travel to a target the checkpoint doesn't cover)
    have = set(versions)
    missing = [v for v in range(start, target + 1) if v not in have]
    if missing:
        raise FileNotFoundError(
            f"Delta versions {missing[:5]}{'...' if len(missing) > 5 else ''} "
            f"needed to replay version {target} were expired from "
            f"{log_dir} and no checkpoint covers them — that version "
            "is no longer reconstructible"
        )

    for v in versions:
        if v < start or v > target:
            continue
        for act in _commit_actions(log_dir, v):
            if "add" in act:
                live[act["add"]["path"]] = act["add"]
                removes.pop(act["add"]["path"], None)
            elif "remove" in act:
                live.pop(act["remove"]["path"], None)
                removes[act["remove"]["path"]] = act["remove"]
            elif "metaData" in act:
                meta = act["metaData"]
            elif "protocol" in act:
                proto = act["protocol"]
    if not meta:
        raise ValueError(f"Delta log under {log_dir} carries no metaData action")
    if collect_removes:
        return live, meta, proto, removes
    return live, meta, proto


def last_txn_actions(log_dir: str, version: int | None = None) -> dict:
    """Latest ``txn`` (SetTransaction, PROTOCOL.md §Transaction
    Identifiers) action per appId as of ``version`` (default latest) —
    the protocol's idempotent-writer mechanism: a streaming writer
    stamps each commit with (appId, epoch) and skips epochs at or
    below the stored version on replay. Replays the newest covering
    checkpoint + the JSON tail, exactly like ``_replay_state``."""
    versions = _log_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no Delta commits under {log_dir}")
    target = versions[-1] if version is None else version
    txns: dict[str, dict] = {}
    start = 0
    lc_path = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(lc_path):
        with open(lc_path) as fh:
            lc = json.load(fh)
        cp_v = int(lc["version"])
        if cp_v <= target:
            for act in _checkpoint_actions(log_dir, cp_v, lc.get("parts")):
                if "txn" in act:
                    txns[act["txn"]["appId"]] = act["txn"]
            start = cp_v + 1
    for v in versions:
        if v < start or v > target:
            continue
        for act in _commit_actions(log_dir, v):
            if "txn" in act:
                txns[act["txn"]["appId"]] = act["txn"]
    return txns


def prune_adds(
    live: dict, filters: list[tuple], part_cols: list[str]
) -> dict:
    """Metadata-level file skipping over replayed add actions — the
    read-side of the exporter's ``add.stats``: partitionValues prune
    exactly, per-file minValues/maxValues prune conservatively
    (``(col, op, val)`` with op in =, <, <=, >, >=, AND-combined).
    Files without stats, unknown columns, or incomparable literals
    survive — pruning may only cost a read it skipped. O(adds)
    driver-side, zero data I/O.

    Timestamp literals: exported stats store TIMESTAMP columns
    'T'-separated (_delta_file_stats re-separates the manifest's
    space-form ISO), while the engine's filter convention is the
    space form. Lexicographically ' ' < 'T', so a same-day
    space-form literal would otherwise compare below every
    'T'-form bound and prune non-conservatively. When the two
    sides of a comparison carry ISO-datetime shapes with MIXED
    separators, both are normalized to the 'T' form first — only
    then, so genuine string columns are never rewritten."""
    import json as _json
    import re as _re

    _iso = _re.compile(r"\d{4}-\d{2}-\d{2}[ T]\d{2}:")

    def _ts_align(x, y):
        """Return (x, y) with ISO separators unified iff both look
        like ISO datetimes and their separators differ."""
        if (
            isinstance(x, str)
            and isinstance(y, str)
            and _iso.match(x)
            and _iso.match(y)
            and x[10] != y[10]
        ):
            return x.replace(" ", "T", 1), y.replace(" ", "T", 1)
        return x, y

    def may_match(a: dict, col: str, op: str, raw_val) -> bool:
        def cmp_raw(op, lo, hi, val):
            lo, val_l = _ts_align(lo, val)
            hi, val_h = _ts_align(hi, val)
            return {
                "=": lambda: lo <= val_l and val_h <= hi,
                "<": lambda: lo < val_l,
                "<=": lambda: lo <= val_l,
                ">": lambda: hi > val_h,
                ">=": lambda: hi >= val_h,
            }[op]()

        val = raw_val
        if op not in ("=", "<", "<=", ">", ">="):
            return True
        cmp = lambda lo, hi: cmp_raw(op, lo, hi, val)  # noqa: E731
        if col in part_cols:
            pv = (a.get("partitionValues") or {}).get(col)
            if pv is None:
                return True
            pv = _coerce_partition_str(pv, val)
            if pv is None:
                return True  # un-coercible: keep the file (conservative)
            return cmp(pv, pv)
        st = a.get("stats")
        if not st:
            return True
        try:
            st = _json.loads(st) if isinstance(st, str) else st
            lo = st["minValues"][col]
            hi = st["maxValues"][col]
            return cmp(lo, hi)
        except (KeyError, TypeError, ValueError):
            return True

    out = live
    for col, op, val in filters:
        out = {p: a for p, a in out.items() if may_match(a, col, op, val)}
    return out


# ---------------------------------------------------------------------------
# column mapping (PROTOCOL.md §Column Mapping)
# ---------------------------------------------------------------------------


def _coerce_partition_str(pv: str, val):
    """Coerce a Hive-string partition value to the FILTER literal's
    type — conservatively: None means "could not coerce, don't prune".
    Naive ``type(val)(pv)`` is non-conservative for booleans
    (``bool('false') is True``) and would silently drop matching
    files."""
    try:
        if isinstance(val, bool):
            s = str(pv).lower()
            if s in ("true", "false"):
                return s == "true"
            return None
        return type(val)(pv)
    except (TypeError, ValueError):
        return None


def _cm_phys(f: dict) -> str:
    """A Delta schema field's physical parquet name (mode=name)."""
    return (
        (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
        or f["name"]
    )


def _cm_id(f: dict) -> int | None:
    v = (f.get("metadata") or {}).get("delta.columnMapping.id")
    return None if v is None else int(v)


def _physicalize_type(t):
    """Delta schema type JSON -> the same JSON with every struct field
    (at every nesting level) renamed to its physical name — the READ
    schema for columnMapping.mode=name, where parquet files store
    physical names throughout."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return {
                "type": "struct",
                "fields": [
                    {
                        "name": _cm_phys(f),
                        "type": _physicalize_type(f["type"]),
                        "nullable": f.get("nullable", True),
                        "metadata": {},
                    }
                    for f in t["fields"]
                ],
            }
        if k == "array":
            return {**t, "elementType": _physicalize_type(t["elementType"])}
        if k == "map":
            return {
                **t,
                "keyType": _physicalize_type(t["keyType"]),
                "valueType": _physicalize_type(t["valueType"]),
            }
    return t


def _fieldid_type(t):
    """Delta schema type JSON -> the same JSON keeping LOGICAL names
    but tagging every struct field with Spark's ``parquet.field.id``
    metadata from ``delta.columnMapping.id`` — the READ schema for
    columnMapping.mode=id, resolved by Spark's native parquet field-id
    matching (``spark.sql.parquet.fieldId.read.enabled``; the files
    carry ids per the protocol's writer requirements). A field without
    an id refuses: matching it by name would silently misread."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            out = []
            for f in t["fields"]:
                fid = _cm_id(f)
                if fid is None:
                    raise ValueError(
                        "read_delta: delta.columnMapping.mode=id but "
                        f"field {f['name']!r} carries no "
                        "delta.columnMapping.id — refusing to match by "
                        "name"
                    )
                out.append(
                    {
                        "name": f["name"],
                        "type": _fieldid_type(f["type"]),
                        "nullable": f.get("nullable", True),
                        "metadata": {"parquet.field.id": fid},
                    }
                )
            return {"type": "struct", "fields": out}
        if k == "array":
            return {**t, "elementType": _fieldid_type(t["elementType"])}
        if k == "map":
            return {
                **t,
                "keyType": _fieldid_type(t["keyType"]),
                "valueType": _fieldid_type(t["valueType"]),
            }
    return t


def _mapped_below(t) -> bool:
    """True if any struct field at or below ``t`` is physically
    renamed (drives the identity shortcut in _logical_expr)."""
    if isinstance(t, dict):
        k = t.get("type")
        if k == "struct":
            return any(
                _cm_phys(f) != f["name"] or _mapped_below(f["type"])
                for f in t["fields"]
            )
        if k == "array":
            return _mapped_below(t["elementType"])
        if k == "map":
            return _mapped_below(t["keyType"]) or _mapped_below(
                t["valueType"]
            )
    return False


def _logical_expr(col, t):
    """Rename a physically-named Column (mode=name read output) back to
    its logical shape, recursing through struct/array/map. A null
    struct stays null — F.struct alone would fabricate a non-null
    struct of nulls."""
    if not _mapped_below(t):
        return col
    k = t.get("type")
    if k == "struct":
        members = [
            _logical_expr(col.getField(_cm_phys(f)), f["type"]).alias(
                f["name"]
            )
            for f in t["fields"]
        ]
        return F.when(col.isNotNull(), F.struct(*members))
    if k == "array":
        return F.transform(
            col, lambda x: _logical_expr(x, t["elementType"])
        )
    if k == "map":
        m = col
        if _mapped_below(t["keyType"]):
            m = F.transform_keys(
                m, lambda kk, vv: _logical_expr(kk, t["keyType"])
            )
        if _mapped_below(t["valueType"]):
            m = F.transform_values(
                m, lambda kk, vv: _logical_expr(vv, t["valueType"])
            )
        return m
    return col


def column_mapping_mode(meta: dict | None) -> str:
    """The table's ``delta.columnMapping.mode`` (``"none"`` when unset)
    — the one place the mode is read, by the layout and the refusals."""
    return ((meta or {}).get("configuration") or {}).get(
        "delta.columnMapping.mode", "none"
    )


@dataclass(frozen=True)
class ColumnLayout:
    """How a Delta scan resolves the table's columns under column
    mapping (PROTOCOL.md §Column Mapping), decided once per table by
    :func:`column_layout`. Parquet files, stats and ``partitionValues``
    are keyed by PHYSICAL name in both mapped modes.

    - ``schema_json`` / ``logical_schema``: the declared schema;
    - ``part_cols``: the partition column names in the scan output
      (physical for ``name``, logical otherwise);
    - ``pv_keys``: the matching ``partitionValues`` keys;
    - ``phys_of``: top-level logical -> physical name (identity when
      mapping is off);
    - ``nested_types``: logical top-level column -> type JSON for
      columns whose nested members are physically renamed (the
      values the stream source reshapes per row)."""

    mode: str
    schema_json: dict
    logical_schema: StructType
    part_cols: list[str]
    pv_keys: list[str]
    phys_of: dict[str, str]
    nested_types: dict[str, dict]

    def read_schema(self, spark: SparkSession) -> StructType:
        """The scan schema: physical names throughout for ``name``;
        logical names tagged with ``parquet.field.id`` for ``id``,
        resolved by Spark's native field-id matching, switched on
        here; the logical schema otherwise."""
        if self.mode == "name":
            return StructType.fromJson(_physicalize_type(self.schema_json))
        if self.mode == "id":
            from incubator_gobblin_spark.session import ensure_field_id_read

            ensure_field_id_read(spark)
            return StructType.fromJson(_fieldid_type(self.schema_json))
        return self.logical_schema

    def to_logical(self, df: DataFrame, *keep: str) -> DataFrame:
        """Rename a ``name``-mode scan back to logical names (recursing
        into nested members), passing the ``keep`` columns through;
        ``df`` itself when nothing is renamed."""
        if self.mode != "name" or not _mapped_below(self.schema_json):
            return df
        return df.select(
            *[
                _logical_expr(F.col(_cm_phys(f)), f["type"]).alias(f["name"])
                for f in self.schema_json["fields"]
            ],
            *keep,
        )


def column_layout(meta: dict) -> ColumnLayout:
    """The :class:`ColumnLayout` of the table whose ``metaData`` action
    is ``meta`` — the one place a Delta reader decides column mapping."""
    mode = column_mapping_mode(meta)
    schema_json = json.loads(meta["schemaString"])
    fields = schema_json.get("fields", [])
    logical_part_cols = list(meta.get("partitionColumns") or [])
    mapped = mode in ("name", "id")
    phys_of = {f["name"]: _cm_phys(f) if mapped else f["name"] for f in fields}
    pv_keys = [phys_of[c] for c in logical_part_cols]
    return ColumnLayout(
        mode=mode,
        schema_json=schema_json,
        logical_schema=StructType.fromJson(schema_json),
        part_cols=pv_keys if mode == "name" else logical_part_cols,
        pv_keys=pv_keys,
        phys_of=phys_of,
        nested_types={
            f["name"]: f["type"]
            for f in fields
            if mapped and _mapped_below(f.get("type"))
        },
    )


#: reader features this engine actually honors. Anything else in a
#: v3 protocol's readerFeatures MUST make the read refuse — that is
#: the Delta protocol's own contract (PROTOCOL.md Reader Requirements):
#: a reader that ignores an unknown feature returns WRONG data (e.g.
#: columnMapping -> null columns). deletionVectors is supported: the
#: batch reader decodes the roaring bitmaps and anti-joins the marked
#: rows (formats/deletion_vectors.py); the STREAM source still refuses
#: DV adds — a DV commit is a rewrite, not an append. v2Checkpoint is
#: transport-level (UUID-named checkpoint + sidecars — _checkpoint_
#: actions follows them), supported everywhere.
_SUPPORTED_READER_FEATURES = {"timestampNtz", "deletionVectors", "v2Checkpoint"}


def check_reader_protocol(
    proto: dict,
    meta: dict,
    live: dict,
    *,
    allow_dv: bool = True,
    allow_column_mapping: bool = False,
) -> None:
    """Refuse tables this reader would silently misread — the loud-fail
    discipline of the Iceberg equality-delete gate, applied to Delta's
    protocol action (PROTOCOL.md: readers MUST check minReaderVersion /
    readerFeatures before using the log).

    - ``minReaderVersion`` > 3 (or 3 with an unsupported feature):
      refuse by name;
    - column mapping: modes ``name`` and ``id`` are readable with
      ``allow_column_mapping=True``. Every Delta reader resolves them
      through :func:`column_layout` (physical names recursively for
      ``name``, Spark's native parquet field-id matching for ``id``);
      the STREAM source takes the layout's top-level physical names
      and reshapes NESTED values per row batch
      (delta_stream._logicalize_value). A reader ignoring the mapping
      entirely would return all-null logical columns, the misread
      this gate exists to prevent;
    - with ``allow_dv=False`` (the stream source, where a DV commit is
      a rewrite, never an append): any live ``add`` carrying a
      ``deletionVector`` — rows marked deleted would be resurrected.
      The batch reader applies DVs instead (read_delta)."""
    mrv = int((proto or {}).get("minReaderVersion", 1))
    if mrv > 3:
        raise ValueError(
            f"read_delta: protocol minReaderVersion={mrv} is newer than "
            "this reader understands — refusing to misread the table"
        )
    if mrv >= 3:
        feats = set(proto.get("readerFeatures") or [])
        supported = set(_SUPPORTED_READER_FEATURES)
        if allow_column_mapping:
            supported.add("columnMapping")
        unsupported = feats - supported
        if unsupported:
            raise ValueError(
                "read_delta: table requires reader features "
                f"{sorted(unsupported)} this engine does not implement — "
                "refusing to silently drop their semantics"
            )
    mode = column_mapping_mode(meta)
    if mode not in ("none", "") and not (
        allow_column_mapping and mode in ("name", "id")
    ):
        raise ValueError(
            f"delta.columnMapping.mode={mode!r} renames physical parquet "
            "columns — unsupported here, refusing to read all-null "
            "logical columns"
        )
    if not allow_dv:
        for a in (live or {}).values():
            if a.get("deletionVector"):
                raise ValueError(
                    f"deltastream: add {a.get('path')!r} carries a "
                    "deletion vector — a DV commit is a rewrite, not "
                    "an append; refusing to stream resurrected rows"
                )


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    union_threshold: int = 16,
    filters: list[tuple] | None = None,
) -> DataFrame:
    """Read a Delta table's committed snapshot (optionally a historical
    ``version`` — Delta time travel) as a DataFrame.

    Column mapping (PROTOCOL.md §Column Mapping) is supported in both
    modes, nested fields included, resolved by :func:`column_layout`.
    Mode ``name``: the scan and partition restore run on the PHYSICAL
    names from ``delta.columnMapping.physicalName`` (applied
    recursively through struct/array/map) and the result renames back
    to logical names. Mode ``id``: the read schema keeps logical names
    and tags every field with ``parquet.field.id`` from
    ``delta.columnMapping.id``, letting Spark's native parquet field-id
    matching (``spark.sql.parquet.fieldId.read.enabled``) resolve the
    physical columns — no rename pass needed. Deletion vectors are
    decoded and anti-joined (PROTOCOL.md §Deletion Vectors).

    Partition columns are restored from each file's ``partitionValues``
    (Delta data files don't store them), cast to the types declared by
    the log's ``schemaString``, and the result carries the table's full
    declared column set in schema order. An empty snapshot returns an
    empty frame with the declared schema.

    Scale shape: up to ``union_threshold`` distinct partition values,
    each group is one read with its values injected as typed literals
    (the plan stays a flat union). Past that, a thousand-partition
    table would otherwise compile a thousand-way union — so the read
    becomes ONE scan of all live files plus a broadcast join keyed on
    the shortest ``input_file_name()`` path suffix that uniquely
    identifies every live file (basename alone collides across Hive
    partition dirs — one Spark task writes the same part name into
    many dirs — so the key adaptively widens to ``<dir>/<name>``
    etc.). A log whose paths defeat unique suffixing falls back to the
    union plan, trading plan size for correctness."""
    log_dir = os.path.join(path, "_delta_log")
    live, meta, proto = _replay_state(log_dir, version)
    check_reader_protocol(proto, meta, live, allow_column_mapping=True)
    layout = column_layout(meta)
    schema = layout.read_schema(spark)

    if filters:
        # conservative metadata-level skipping (see prune_adds);
        # callers still apply the same filters row-level — filter
        # columns arrive as LOGICAL names, stats/partitionValues are
        # keyed physical, so the partition-column list passed down must
        # be the PHYSICAL key list (pv_keys) or id-mode partition
        # pruning silently degrades to the stats path
        live = prune_adds(
            live,
            [(layout.phys_of.get(c, c), op, v) for c, op, v in filters],
            layout.pv_keys,
        )
    if not live:
        return spark.createDataFrame([], layout.logical_schema)

    has_dv = any(a.get("deletionVector") for a in live.values())
    df = assemble_snapshot(
        spark, _groups_of(path, live.values(), layout.pv_keys), schema,
        layout.part_cols, union_threshold, with_positions=has_dv,
    )
    if has_dv:
        df = anti_join_dvs(spark, df, path, live.values()).select(
            *[f.name for f in schema.fields]
        )
    return layout.to_logical(df)


def _groups_of(path: str, adds, pv_keys: list[str]) -> dict[tuple, list[str]]:
    """Group action dicts' local file paths by their partition values
    (one tuple entry per ``pv_keys`` name, None for null) — the
    ``groups`` shape :func:`assemble_snapshot` takes."""
    groups: dict[tuple, list[str]] = {}
    for a in adds:
        pv = a.get("partitionValues") or {}
        key = tuple(pv.get(k) for k in pv_keys)
        groups.setdefault(key, []).append(add_file_path(path, a["path"]))
    return groups


def anti_join_dvs(spark: SparkSession, df: DataFrame, path: str, adds) -> DataFrame:
    """Drop the rows dead under deletion vectors (PROTOCOL.md §Deletion
    Vectors) — the one Delta DV anti-join.

    ``df`` carries the scan coordinates ``_file_path`` (Spark's
    ``_metadata.file_path`` URI) and ``_row_index``; ``adds`` is any
    iterable of action dicts of the table at ``path``, and only those
    carrying a ``deletionVector`` count. Returns exactly ``df``'s
    columns — ``df`` itself when no action carries a vector.

    Each bitmap decodes EXECUTOR-side, one task per vector up to 64
    (the driver never holds O(deleted rows)), ONCE: the tombstones are
    materialized (:func:`materialize_small`) so a semi/anti pushdown
    below a partition union does not re-run the decode per arm. They
    are broadcast while the summed descriptor ``cardinality`` is at
    most ``TOMBSTONE_BROADCAST_MAX_ROWS``, shuffle-joined past it."""
    dvs = [a for a in adds if a.get("deletionVector")]
    if not dvs:
        return df
    from incubator_gobblin_spark.sources.mock_kafka import _ship_package

    _ship_package(spark)
    table_root = os.path.abspath(path)
    # built already split into its decode tasks: a repartition here
    # would be an exchange under materialize_small
    rows = [
        (os.path.abspath(add_file_path(path, a["path"])), json.dumps(a["deletionVector"]))
        for a in dvs
    ]
    desc_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, min(len(dvs), 64)),
        "_del_path string, _dv string",
    )

    def expand(batches):
        import json as _json

        import pandas as pd

        from incubator_gobblin_spark.formats.deletion_vectors import (
            read_dv_positions,
        )

        for pdf in batches:
            for p, dv in zip(pdf["_del_path"], pdf["_dv"]):
                poss = read_dv_positions(table_root, _json.loads(dv))
                if poss:
                    yield pd.DataFrame(
                        {"_del_path": p, "_del_pos": pd.Series(poss, dtype="int64")}
                    )

    tombs = materialize_small(
        desc_df.mapInPandas(expand, "_del_path string, _del_pos long")
    )
    cardinality = sum(int(a["deletionVector"].get("cardinality") or 0) for a in dvs)
    if cardinality <= TOMBSTONE_BROADCAST_MAX_ROWS:
        tombs = F.broadcast(tombs)
    # the scan's _metadata.file_path is a percent-encoded URI while
    # _del_path is a decoded abspath — decode before comparing, or a
    # path with a space/'+'/'%' silently resurrects its deleted rows
    return df.withColumn(
        "_dv_norm_path", decoded_file_path("_file_path")
    ).join(
        tombs,
        (F.col("_dv_norm_path") == F.col("_del_path"))
        & (F.col("_row_index") == F.col("_del_pos")),
        "left_anti",
    ).select(*df.columns)


def assemble_snapshot(
    spark: SparkSession,
    groups: dict[tuple, list[str]],
    schema: StructType,
    part_cols: list[str],
    union_threshold: int = 16,
    with_positions: bool = False,
) -> DataFrame:
    """Assemble a table-format snapshot read from grouped live files:
    ``groups`` maps a tuple of partition-value strings (one per
    ``part_cols`` entry, None for null) to that group's absolute data
    file paths. Shared by the Delta and Iceberg importers — both
    formats strip partition columns from data files and carry the
    values in metadata, so the restore mechanics (typed literals per
    group under the union threshold, single scan + broadcast
    suffix-key join past it) are identical.

    ``with_positions`` appends ``_file_path`` / ``_row_index`` columns
    from Spark's hidden ``_metadata`` struct — the per-file row
    coordinates Iceberg v2 position deletes address; they stay inside
    the scan (no shuffle, no Python)."""
    data_schema = StructType(
        [f for f in schema.fields if f.name not in part_cols]
    )
    types = {f.name: f.dataType for f in schema.fields}
    ordered = [f.name for f in schema.fields]
    if with_positions:
        ordered = ordered + ["_file_path", "_row_index"]

    def _with_pos(df: DataFrame) -> DataFrame:
        if not with_positions:
            return df
        return df.withColumn(
            "_file_path", F.col("_metadata.file_path")
        ).withColumn("_row_index", F.col("_metadata.row_index"))

    def _suffix(p: str, n: int) -> str | None:
        comps = p.replace(os.sep, "/").split("/")
        return "/".join(comps[-n:]) if len(comps) >= n else None

    suffix_n = None
    if part_cols and len(groups) > union_threshold:
        flat = [(key, f) for key, fs in groups.items() for f in fs]
        for n in range(1, len(part_cols) + 2):
            keys = [_suffix(f, n) for _, f in flat]
            if None not in keys and len(set(keys)) == len(keys):
                suffix_n = n
                break
    if suffix_n is not None:
        all_files = sorted(f for fs in groups.values() for f in fs)
        mapping = [(_suffix(f, suffix_n), *key) for key, f in flat]
        map_df = spark.createDataFrame(
            mapping, ", ".join(["_file string"] + [f"{c} string" for c in part_cols])
        ).select(
            "_file",
            *[F.col(c).cast(types[c]).alias(c) for c in part_cols],
        )
        # java URLDecoder turns a literal '+' into a space — protect it
        # first so paths like g=a+b keep their rows (a literal '%2B' in
        # a RAW path is the one remaining ambiguity, pathological)
        file_key = F.expr(
            "url_decode(replace(concat_ws('/', slice(split(input_file_name(), '/'), "
            f"-{suffix_n}, {suffix_n})), '+', '%2B'))"
        )
        df = (
            _with_pos(scan_files(spark, all_files, schema=data_schema))
            .withColumn("_file", file_key)
            .join(F.broadcast(map_df), "_file")
        )
        return df.select(*ordered)

    out: DataFrame | None = None
    pos = (
        ["_metadata.file_path AS _file_path", "_metadata.row_index AS _row_index"]
        if with_positions
        else []
    )
    # null partition values are legal adds ("partitionValues": {"c": null});
    # sort with a None-safe key so the plan order stays deterministic
    for key, files in sorted(
        groups.items(), key=lambda kv: tuple((v is None, v or "") for v in kv[0])
    ):
        vals = dict(zip(part_cols, key))
        # SQL text: the group's typed partition literals and positions
        # in one py4j round-trip
        df = scan_files(spark, sorted(files), schema=data_schema).selectExpr(
            *[
                f"CAST({'NULL' if vals[c] is None else string(vals[c])} "
                f"AS {types[c].simpleString()}) AS {ident(c)}"
                if c in vals
                else ident(c)
                for c in types
            ],
            *pos,
        )
        out = df if out is None else out.unionAll(df)
    return out
