"""Streaming source over an external Apache Iceberg table's snapshots.

``spark.readStream.format("icebergstream").option("path", table_root)``
tails the table by SNAPSHOT: each micro-batch delivers the rows of the
data files ADDED by the snapshots that landed since the last
checkpointed offset — the streaming face of
``sources.iceberg_import.read_iceberg_incremental`` (iceberg-core
IncrementalAppendScan; iceberg-spark's own streaming read), and the
Iceberg sibling of ``sources.delta_stream``. The offset is the
consumed snapshot's SEQUENCE NUMBER (monotonic per the v2 spec, so it
survives ``expire_iceberg_snapshots`` history pruning, which a
list-position offset would not).

Contract (mirrors both delta_stream and the upstream scan): the
stream is append-only — a snapshot whose summary operation is not
``append`` fails the batch loudly (delete/overwrite/replace cannot be
expressed as an append stream), EXCEPT the first surviving snapshot
served to a fresh earliest-stream, which IS the initial table state
(operation ``overwrite`` is how this exporter self-contains snapshot
1 and how ``mode="full"`` compaction restarts a chain). ``option(
"skipchangecommits", "true")`` (delta-spark's name; iceberg-spark
spells it ``streaming-skip-overwrite-snapshots``) instead SKIPS
non-append snapshots entirely — zero duplicates, safe when the
rewrite preserves row content (this engine's ``mode="full"``
compaction), silently LOSSY for rewrites that change rows. Row-level
delete manifests refuse in served snapshots, and a checkpointed
offset that predates the surviving chain (expiry dropped unconsumed
snapshots) fails loudly rather than silently skipping rows.

``option("readchangefeed", "true")`` switches the stream to CHANGELOG
mode — the streaming face of ``sources.iceberg_changelog``: each
micro-batch carries the net row-level CHANGES of the snapshots that
landed since the checkpointed offset, tagged ``_change_type``
(``insert``/``delete``) + ``_change_ordinal`` (the snapshot's 0-based
position within the batch, the ordering column CDC sinks collapse on)
+ ``_commit_snapshot_id``. Deletes are RECOVERED from the parent
snapshot per data file, executor-side with pyarrow (no Spark session
inside a Python DataSource — the lakecdf precedent): removed data
files contribute their parent-live rows, new position-delete files
their (file, pos) hits, new equality-delete files their key matches
(partition scopes resolved by ``iceberg_import.resolve_delete_scope``,
transforms evaluated per row with ``transform_py``, as
``plan_delete_group`` states the rules). ``replace`` snapshots
(compaction) are invisible, exactly like iceberg-core's
IncrementalChangelogScan. A fresh earliest-stream on an
expiry-truncated head serves the survivor's EFFECTIVE state (its own
delete files applied) as the initial batch — the same rule as the
batch changelog and the append stream.

Scale shape: snapshot replay is driver-side metadata (the range
manifests only); every added data file is one executor-side pyarrow
partition; identity partition values restore from the manifest's
typed partition struct. Changelog delete recovery reads each parent
data file once per delete-carrying snapshot, tombstone files once per
touched split — O(touched files), never O(table).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from incubator_gobblin_spark.sources.iceberg_changelog import check_interval
from incubator_gobblin_spark.sources.iceberg_import import (
    _decode_manifest,
    _decode_manifest_list,
    _parsed_name_mapping,
    current_metadata,
    current_schema,
    norm_file_ref,
    resolve_delete_scope,
    scope_literal,
    snapshot_files,
    table_layout,
)


class _AddedFile(InputPartition):
    def __init__(self, path: str, partition_values: dict, spec_id: int = 0):
        self.path = path
        self.partition_values = partition_values
        self.spec_id = spec_id


class _ChangeSplit(InputPartition):
    """One changelog split: an added data file streaming raw rows as
    ``insert`` (no masks), or a parent data file whose rows are
    recovered against tombstones. ``emit`` is the change type produced;
    ``standing_*`` are the tombstones already dead at the parent (or,
    for effective-state inserts, at the served snapshot); ``new_*``
    are the snapshot's new tombstones whose hits BECOME the deletes.
    ``new_eq``/``standing_eq`` entries are ``(path, key_cols,
    [(source_col, transform, iceberg_type, scope_literal), ...])``."""

    def __init__(
        self,
        path: str,
        partition_values: dict,
        ordinal: int,
        snapshot_id: int,
        emit: str,
        removed: bool = False,
        new_pos: list | None = None,
        new_eq: list | None = None,
        standing_pos: list | None = None,
        standing_eq: list | None = None,
        spec_id: int = 0,
    ):
        self.path = path
        self.partition_values = partition_values
        self.ordinal = ordinal
        self.snapshot_id = snapshot_id
        self.emit = emit
        self.removed = removed
        self.new_pos = new_pos or []
        self.new_eq = new_eq or []
        self.standing_pos = standing_pos or []
        self.standing_eq = standing_eq or []
        self.spec_id = spec_id


def _field_id_map(path: str) -> dict[str, int]:
    """Top-level logical column name -> Iceberg field id (the spec's
    resolution key: data files written before a rename carry the OLD
    parquet name, so the stream reader matches by embedded field id
    when the file has ids, by name otherwise)."""
    schema_json = current_schema(current_metadata(path))
    return {f["name"]: int(f["id"]) for f in schema_json["fields"]}


def _table_schema(path: str):
    md = current_metadata(path)
    schema_json = current_schema(md)
    schema, part_cols = table_layout(md, schema_json)
    ftype = {f["name"]: f["type"] for f in schema_json["fields"]}
    return schema, part_cols, ftype


_CHANGE_COLS = ("_change_type", "_change_ordinal", "_commit_snapshot_id")


class IcebergStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema, part_cols, part_types):
        self.root = options["path"]
        self.start_opt = options.get("startingposition", "earliest").lower()
        self.skip_change_commits = (
            options.get("skipchangecommits", "false") == "true"
        )
        # changelog mode (the batch read_iceberg_changelog semantics
        # as a stream): micro-batches carry change rows, deletes
        # recovered executor-side — see the module docstring
        self.read_change_feed = (
            options.get("readchangefeed", "false") == "true"
        )
        self.fields = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if f.name not in _CHANGE_COLS
        ]
        self.part_cols = part_cols
        self.part_types = part_types
        # logical name -> Iceberg field id, resolved driver-side and
        # shipped with the (picklable) reader: executor tasks match
        # parquet columns by embedded field id when the file carries
        # ids — a column renamed after the file was written still
        # streams its values instead of nulls (top level; nested
        # members stream under the file's names, same caveat as the
        # delta stream)
        try:
            self.field_ids = _field_id_map(self.root)
        except Exception:
            self.field_ids = {}
        # spec-id -> [(partition-field-name, source-column)] identity
        # pairs, resolved driver-side and shipped with the reader: a
        # file's partition tuple is keyed by its OWN spec's FIELD names
        # and restores the SOURCE column — after partition evolution, a
        # pre-evolution file whose spec does not derive a column falls
        # back to the column physically stored in its parquet (the
        # batch readers' per-file-spec _ident rule, iceberg_import.py).
        try:
            md = current_metadata(self.root)
            sj = current_schema(md)
            fname = {f["id"]: f["name"] for f in sj["fields"]}
            self.ident_by_spec = {
                sp["spec-id"]: [
                    (
                        f.get("name") or fname[f["source-id"]],
                        fname[f["source-id"]],
                    )
                    for f in sp["fields"]
                    if f["transform"] == "identity"
                    and f["source-id"] in fname
                ]
                for sp in md.get("partition-specs", [])
            }
        except Exception:
            # metadata unavailable (e.g. empty root at planning time):
            # fall back to treating the default-spec identity columns
            # as every file's — pre-fix behavior, exercised only when
            # the table has no metadata to read anyway
            self.ident_by_spec = {}
        # current column name -> candidate STORED names, from
        # schema.name-mapping.default (spec §Column Projection rule 2):
        # an id-less foreign file written before a rename stores the
        # old name; the batch reader resolves it through the mapping
        # (_assemble_plain_with_mapping) and the stream mirrors that
        # in _columns' name fallback.
        self.nm_names: dict[str, list[str]] = {}
        try:
            md = current_metadata(self.root)
            nm = _parsed_name_mapping(md) or []
            sj = current_schema(md)
            cur_of_id = {int(f["id"]): f["name"] for f in sj["fields"]}
            for e in nm:
                if not isinstance(e, dict):
                    continue
                cur = cur_of_id.get(e.get("field-id"))
                if cur and e.get("names"):
                    self.nm_names[cur] = list(e["names"])
        except Exception:
            self.nm_names = {}

    def _snaps(self) -> list[dict]:
        try:
            snaps = list(current_metadata(self.root).get("snapshots", []))
        except FileNotFoundError:
            return []
        return sorted(snaps, key=self._seq_of)

    @staticmethod
    def _seq_of(snap: dict) -> int:
        # sequence-number is spec-required in v2; fall back to the
        # (also monotonic in this exporter) snapshot id defensively
        return int(snap.get("sequence-number", snap["snapshot-id"]))

    def initialOffset(self) -> dict:
        if self.start_opt == "latest":
            return self.latestOffset()
        return {"seq": 0}

    def latestOffset(self) -> dict:
        snaps = self._snaps()
        return {"seq": self._seq_of(snaps[-1]) if snaps else 0}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["seq"]), int(end["seq"])
        snaps = self._snaps()
        in_range = [s for s in snaps if lo < self._seq_of(s) <= hi]
        # truncation guard (the delta_stream discipline): a previously
        # CHECKPOINTED offset that predates the surviving chain means
        # expire_iceberg_snapshots dropped unconsumed snapshots —
        # their rows are only reachable through a full re-read
        if lo > 0 and in_range and self._seq_of(snaps[0]) > lo + 1:
            raise ValueError(
                f"icebergstream: snapshots ({lo}, "
                f"{self._seq_of(snaps[0])}) were expired; the stream's "
                "checkpointed offset predates the surviving history — "
                "restart from a fresh checkpoint"
            )
        if self.read_change_feed:
            return self._changelog_partitions(lo, in_range)

        def _op(s: dict) -> str:
            return s.get("summary", {}).get("operation", "append")

        parts: list[_AddedFile] = []

        def _emit(snap: dict, full_state: bool) -> None:
            """Append one snapshot's files: its ADDED entries, or —
            for the fresh stream's initial batch — its entire live
            state (carried manifests included)."""
            sid = snap["snapshot-id"]
            for mf in _decode_manifest_list(snap, self.root):
                if mf.get("content", 0) != 0:
                    if self.skip_change_commits and not full_state:
                        # the delete manifest belongs to a skipped
                        # change snapshot and is carried by reference —
                        # ignored like the snapshot itself (lossy for
                        # genuine row deletes, per the option's
                        # documented contract)
                        continue
                    raise ValueError(
                        "icebergstream: snapshot carries row-level "
                        "delete manifests — deletes cannot stream as "
                        "appends; use read_iceberg for the batch view"
                    )
                if (
                    not full_state
                    and int(mf.get("added_snapshot_id") or -1) != sid
                ):
                    continue  # carried by reference: already streamed
                for entry in _decode_manifest(mf, self.root):
                    if full_state:
                        if entry["status"] == 2:  # DELETED
                            continue
                    else:
                        if entry["status"] != 1:  # ADDED only
                            continue
                        if (
                            entry.get("snapshot_id") is not None
                            and int(entry["snapshot_id"]) != sid
                        ):
                            continue
                    df_ = entry["data_file"]
                    parts.append(
                        _AddedFile(
                            norm_file_ref(df_["file_path"], self.root),
                            dict(df_.get("partition") or {}),
                            int(mf.get("partition_spec_id") or 0),
                        )
                    )

        if lo == 0 and in_range:
            # fresh earliest-stream: batch 0 is the LAST full-state
            # snapshot in range (the chain start, a full-mode
            # compaction, or the first snapshot surviving expiry) as
            # the initial table state, then every append after it —
            # the delta_stream checkpoint-snapshot discipline
            non_append = [s for s in in_range if _op(s) != "append"]
            init_snap = non_append[-1] if non_append else in_range[0]
            _emit(init_snap, full_state=True)
            for snap in in_range[in_range.index(init_snap) + 1 :]:
                _emit(snap, full_state=False)  # appends by construction
        else:
            for snap in in_range:
                if _op(snap) != "append":
                    if self.skip_change_commits:
                        # skip the rewrite snapshot ENTIRELY — its
                        # files' rows were already streamed if the
                        # rewrite preserved content (mode="full"
                        # compaction); later appends carry its
                        # manifests by reference, which _emit's
                        # added_snapshot_id filter ignores
                        continue
                    raise ValueError(
                        f"icebergstream: snapshot {snap['snapshot-id']} "
                        f"is operation={_op(snap)!r} — not an append; "
                        "set skipChangeCommits to skip rewrite "
                        "snapshots whose rows were already served, or "
                        "restart the stream from a fresh checkpoint "
                        "after the rewrite"
                    )
                _emit(snap, full_state=False)
        return parts or [_AddedFile("", {})]

    def _changelog_partitions(self, lo: int, in_range: list[dict]):
        """Changelog micro-batch planning (driver-side manifest
        metadata only): per snapshot in range by sequence number,
        added data files become raw ``insert`` splits and every parent
        data file touched by removals / new delete files becomes one
        recovery split (the batch read_iceberg_changelog semantics,
        shipped as per-file pyarrow work instead of union plans)."""
        if not in_range:
            return [_ChangeSplit("", {}, 0, 0, "insert")]
        metadata = current_metadata(self.root)
        schema_json = current_schema(metadata)
        check_interval(
            metadata,
            in_range,
            "icebergstream changelog",
            "this micro-batch",
            "restart the stream from a fresh checkpoint after the "
            "change, or consume the pre-change history with the batch "
            "read_iceberg_changelog first",
            "restart from a fresh checkpoint",
        )
        field_name = {f["id"]: f["name"] for f in schema_json["fields"]}

        def _op(s: dict) -> str:
            return (s.get("summary") or {}).get("operation", "append")

        def _eq_entry(d: dict) -> tuple:
            scopes = []
            for sc, v in sorted(d["partition"].items()):
                if v is not None:  # null scope component = global
                    src, tf, ice_t = resolve_delete_scope(
                        metadata, schema_json, d, sc
                    )
                    scopes.append((src, tf, ice_t, scope_literal(tf, v)))
            return (
                norm_file_ref(d["path"], self.root),
                [field_name[i] for i in d["equality_ids"]],
                scopes,
            )

        parts: list[_ChangeSplit] = []
        # previous iteration's (snapshot-id, files, deletes): each
        # snapshot's manifests decode once per batch, not twice
        prev_state: tuple | None = None
        for ordinal, snap in enumerate(in_range):
            sid = snap["snapshot-id"]
            parent_id = snap.get("parent-snapshot-id")
            files_s, dels_s = snapshot_files(
                metadata, self.root, sid, collect_deletes=True
            )
            cached_parent = prev_state
            prev_state = (sid, files_s, dels_s)
            if _op(snap) == "replace" and parent_id is not None:
                # RewriteDataFiles / compaction: files move, rows
                # don't. A parent-LESS replace is the expiry-truncated
                # HEAD — skipping it would drop the table's entire
                # base state; that case reaches the initial-state
                # branch below. The replace's file set stays cached:
                # it IS the next snapshot's parent state.
                continue
            if parent_id is None:
                if lo > 0:
                    raise ValueError(
                        f"icebergstream changelog: snapshot {sid} has "
                        f"no retained parent but the stream is mid-"
                        f"history (offset {lo}) — expiry truncated "
                        "the chain; restart from a fresh checkpoint"
                    )
                # fresh stream's initial batch: the snapshot's
                # EFFECTIVE state (its own delete files applied) as
                # inserts — the expiry-truncated-head rule shared with
                # the batch changelog and deltastream
                st_pos = [
                    norm_file_ref(d["path"], self.root)
                    for d in dels_s
                    if d["content"] == 1
                ]
                eq_s = [
                    (_eq_entry(d), d["seq"])
                    for d in dels_s
                    if d["content"] == 2
                ]
                for f in files_s:
                    parts.append(
                        _ChangeSplit(
                            norm_file_ref(f["path"], self.root),
                            dict(f.get("partition") or {}),
                            ordinal,
                            sid,
                            "insert",
                            standing_pos=st_pos,
                            standing_eq=[
                                e for e, seq in eq_s if seq > f["seq"]
                            ],
                            spec_id=f.get("spec_id", 0),
                        )
                    )
                continue
            if cached_parent is not None and cached_parent[0] == parent_id:
                files_p, dels_p = cached_parent[1], cached_parent[2]
            else:
                files_p, dels_p = snapshot_files(
                    metadata, self.root, parent_id, collect_deletes=True
                )
            paths_p = {f["path"] for f in files_p}
            paths_s = {f["path"] for f in files_s}
            del_paths_p = {d["path"] for d in dels_p}
            new_dels = [d for d in dels_s if d["path"] not in del_paths_p]
            new_pos = [
                norm_file_ref(d["path"], self.root)
                for d in new_dels
                if d["content"] == 1
            ]
            # inserts: data files this snapshot added. Position deletes
            # MAY target files added in the SAME snapshot (spec: pos
            # deletes apply at seq <=, unlike equality's strictly-
            # before — the Flink same-checkpoint dedupe shape): the
            # split's standing_pos mask excludes those never-live rows.
            for f in files_s:
                if f["path"] not in paths_p:
                    parts.append(
                        _ChangeSplit(
                            norm_file_ref(f["path"], self.root),
                            dict(f.get("partition") or {}),
                            ordinal,
                            sid,
                            "insert",
                            standing_pos=new_pos,
                            spec_id=f.get("spec_id", 0),
                        )
                    )
            removed_paths = paths_p - paths_s
            if not removed_paths and not new_dels:
                continue
            new_eq = [_eq_entry(d) for d in new_dels if d["content"] == 2]
            st_pos = [
                norm_file_ref(d["path"], self.root)
                for d in dels_p
                if d["content"] == 1
            ]
            eq_p = [
                (_eq_entry(d), d["seq"])
                for d in dels_p
                if d["content"] == 2
            ]
            # deletes: recover from every parent data file that could
            # be hit — removed files entirely, others against the new
            # tombstones (a split with zero hits emits zero rows)
            for f in files_p:
                was_removed = f["path"] in removed_paths
                if not was_removed and not new_pos and not new_eq:
                    continue
                parts.append(
                    _ChangeSplit(
                        norm_file_ref(f["path"], self.root),
                        dict(f.get("partition") or {}),
                        ordinal,
                        sid,
                        "delete",
                        removed=was_removed,
                        new_pos=new_pos,
                        new_eq=new_eq,
                        standing_pos=st_pos,
                        standing_eq=[
                            e for e, seq in eq_p if seq > f["seq"]
                        ],
                        spec_id=f.get("spec_id", 0),
                    )
                )
        return parts or [_ChangeSplit("", {}, 0, 0, "insert")]

    def _cast_part(self, ddl_type: str, v):
        if v is None:
            return None
        if ddl_type in ("bigint", "int", "smallint", "tinyint"):
            return int(v)
        if ddl_type in ("double", "float"):
            return float(v)
        if ddl_type == "string":
            return str(v)
        if ddl_type == "date":
            import datetime

            return (
                v
                if isinstance(v, datetime.date)
                else datetime.date.fromisoformat(str(v))
            )
        raise ValueError(
            f"icebergstream: unsupported partition column type {ddl_type}"
        )

    def _columns(
        self, table, partition_values: dict, spec_id: int = 0
    ) -> dict[str, list]:
        """Declared-schema column values of one data file (pyarrow
        Table): parquet columns resolve by embedded field id when the
        file carries ids (rename-safe, spec §Schema Evolution), by
        name otherwise; identity partition columns restore from the
        manifest's typed partition struct THROUGH THE FILE'S OWN SPEC
        (``spec_id``) — a pre-evolution file whose spec does not
        derive a column reads it from the parquet instead of
        null-filling it, and a spec naming its identity field
        differently from the source column restores by the FIELD
        name the partition tuple is keyed with."""
        n = table.num_rows
        if self.ident_by_spec:
            ident = self.ident_by_spec.get(spec_id, [])
        else:  # metadata was unreadable at plan time: default-spec view
            ident = [(c, c) for c in self.part_cols]
        # source-column -> partition-FIELD name of this file's spec
        part_field_of = {src: pf for pf, src in ident}
        # field-id index of THIS file's columns (empty when the file
        # carries no ids — this engine's own exports match by name)
        by_id: dict[int, str] = {}
        for f in table.schema:
            m = (f.metadata or {}).get(b"PARQUET:field_id")
            if m is not None:
                try:
                    by_id[int(m)] = f.name
                except ValueError:
                    pass
        cols = {}
        for name, ddl in self.fields:
            fid = self.field_ids.get(name)
            # Spec: id-carrying files resolve by id ONLY — after a
            # rename-then-re-add (old "a" -> "b", new "a" added), a
            # name fallback would misread the OLD column's values into
            # the new column. A missing id in an id-carrying file
            # yields null; name matching applies only to id-less files
            # (identity name-mapping).
            if by_id and fid is not None:
                src = by_id.get(fid)
            else:
                # id-less file: name-mapping resolution first (the
                # file may store a pre-rename name), identity name
                # otherwise
                src = next(
                    (
                        c
                        for c in self.nm_names.get(name, [])
                        if c in table.column_names
                    ),
                    name,
                )
            if name in part_field_of:
                cols[name] = [
                    self._cast_part(
                        ddl, partition_values.get(part_field_of[name])
                    )
                ] * n
            elif src is not None and src in table.column_names:
                cols[name] = table.column(src).to_pylist()
            else:
                cols[name] = [None] * n
        return cols

    def read(self, part):
        if isinstance(part, _ChangeSplit):
            yield from self._read_change(part)
            return
        if not part.path:
            return
        import pyarrow.parquet as pq

        table = pq.read_table(part.path)
        cols = self._columns(
            table, part.partition_values, getattr(part, "spec_id", 0)
        )
        for i in range(table.num_rows):
            yield tuple(cols[name][i] for name, _ in self.fields)

    def _read_change(self, part: _ChangeSplit):
        """Recover one data file's change rows against its tombstones
        (pure pyarrow — no Spark session inside a Python DataSource).
        ``emit="insert"`` without masks streams the file raw (an added
        file); with standing tombstones it streams the file's ALIVE
        rows (effective-state initial batch). ``emit="delete"``
        streams the rows alive at the parent that the snapshot's new
        tombstones (or whole-file removal) kill."""
        if not part.path:
            return
        import pyarrow.parquet as pq

        from incubator_gobblin_spark.functions.iceberg_transforms import (
            transform_py,
        )

        table = pq.read_table(part.path)
        n = table.num_rows
        cols = self._columns(
            table, part.partition_values, getattr(part, "spec_id", 0)
        )
        # both sides of the coordinate comparison go through the ONE
        # shared normalization rule (file://, file:, plain, relative)
        me = norm_file_ref(part.path, self.root)

        def _pos_hits(paths: list[str]) -> set[int]:
            hits: set[int] = set()
            for p in paths:
                t = pq.read_table(p, columns=["file_path", "pos"])
                fps = t.column("file_path").to_pylist()
                poss = t.column("pos").to_pylist()
                for fp, pos in zip(fps, poss):
                    if norm_file_ref(fp, self.root) == me:
                        hits.add(int(pos))
            return hits

        def _eq_hits(entries: list) -> set[int]:
            hits: set[int] = set()
            for p, key_cols, scopes in entries:
                t = pq.read_table(p, columns=list(key_cols))
                keys = set(
                    zip(*[t.column(c).to_pylist() for c in key_cols])
                )
                if not keys:
                    continue
                row_keys = [cols.get(c, [None] * n) for c in key_cols]
                scope_vals = [
                    (cols.get(src, [None] * n), tf, ice_t,
                     str(lit) if tf == "identity" else lit)
                    for src, tf, ice_t, lit in scopes
                ]
                for i in range(n):
                    if tuple(rk[i] for rk in row_keys) not in keys:
                        continue
                    # every scope component must match (a null row
                    # value never matches a scope)
                    if all(
                        vals[i] is not None
                        and (
                            str(vals[i])
                            if tf == "identity"
                            else transform_py(tf, vals[i], ice_t)
                        )
                        == want
                        for vals, tf, ice_t, want in scope_vals
                    ):
                        hits.add(i)
            return hits

        dead = _pos_hits(part.standing_pos) | _eq_hits(part.standing_eq)
        if part.emit == "insert":
            emit_rows = [i for i in range(n) if i not in dead]
        elif part.removed:
            emit_rows = [i for i in range(n) if i not in dead]
        else:
            killed = _pos_hits(part.new_pos) | _eq_hits(part.new_eq)
            emit_rows = sorted(killed - dead)
        for i in emit_rows:
            yield tuple(cols[name][i] for name, _ in self.fields) + (
                part.emit,
                part.ordinal,
                part.snapshot_id,
            )

    def commit(self, end: dict) -> None:
        pass


class IcebergStreamDataSource(DataSource):
    """``spark.readStream.format("icebergstream").option("path", root)``."""

    def __init__(self, options):
        super().__init__(options)
        self.options = {k.lower(): v for k, v in options.items()}

    @classmethod
    def name(cls):
        return "icebergstream"

    def schema(self):
        schema, _, _ = _table_schema(self.options["path"])
        if self.options.get("readchangefeed", "false") == "true":
            from pyspark.sql.types import (
                IntegerType,
                LongType,
                StringType,
                StructField,
                StructType,
            )

            return StructType(
                list(schema.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_change_ordinal", IntegerType()),
                    StructField("_commit_snapshot_id", LongType()),
                ]
            )
        return schema

    def streamReader(self, schema):
        _, part_cols, part_types = _table_schema(self.options["path"])
        return IcebergStreamReader(
            self.options, schema, part_cols, part_types
        )


def register(spark) -> None:
    from incubator_gobblin_spark.sources.mock_kafka import _ship_package

    _ship_package(spark)
    spark.dataSource.register(IcebergStreamDataSource)
