"""Streaming source over an external Delta Lake table's transaction log.

``spark.readStream.format("deltastream").option("path", table_root)``
tails the Delta log by VERSION: each micro-batch delivers the rows of
the data files ADDED by the versions that landed since the last
checkpointed offset. The offset is the consumed version number —
checkpointed by Structured Streaming, so a restarted query resumes
exactly after the last committed batch.

Contract (mirrors delta-spark's streaming source): the stream is
append-only by default — a version carrying ``remove`` actions fails
the batch loudly. ``option("ignoredeletes", "true")`` tolerates
delete-only versions (their removes are skipped); ``option(
"ignorechanges", "true")`` additionally tolerates rewrites, streaming
the rewritten files' rows as fresh inserts (duplicates downstream, the
same caveat Delta documents); ``option("skipchangecommits", "true")``
(delta-spark's ``skipChangeCommits``) instead skips every non-append
version ENTIRELY — zero duplicates, safe when rewrites preserve row
content (this engine's own ``mode="full"`` compactions, OPTIMIZE),
silently LOSSY for rewrites that change rows, exactly as delta-spark
documents. It takes precedence over the ignore* options and also lets
the stream open on tables whose live state carries deletion vectors
(the DV commits are change commits — skipped). Use the manifest
lake's ``lakecdf`` source for exact row-level change semantics — this
source exists so an EXTERNAL Delta table (any writer) can feed the
engine's streaming pipelines without Delta jars.

Column mapping: mapped tables stream in both modes, nested fields
included (physical parquet names and physical partitionValues keys
resolve through ``delta.columnMapping.physicalName``; struct/array/map
values are reshaped member-by-member to their logical names
executor-side; logical columns out).

Scale shape: version replay is driver-side JSON-lines metadata (the
log tail only — files already consumed are never re-listed); every
added data file is one executor-side pyarrow partition. Partition
columns are restored from each add's ``partitionValues`` (Hive-encoded
strings, cast per the table schema — long/integer/double/string, the
types partition paths can carry).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from incubator_gobblin_spark.sources.delta_import import (
    _cm_phys,
    _commit_actions,
    _log_versions,
    add_file_path,
)


def _open_table(path: str, allow_dv: bool):
    """Replay the log once and gate it: the table's
    :class:`~incubator_gobblin_spark.sources.delta_import.ColumnLayout`
    and its LOGICAL partition column names."""
    from incubator_gobblin_spark.sources.delta_import import (
        _replay_state,
        check_reader_protocol,
        column_layout,
    )

    log_dir = os.path.join(path, "_delta_log")
    live, meta, proto = _replay_state(log_dir, None)
    # allow_dv=False: a DV commit rewrites a file's row set in place —
    # the stream cannot express that as appends, so it must refuse
    # (real delta-spark streaming errors on DV tables the same way).
    # skipChangeCommits flips it to True: DV commits are change
    # commits, skipped wholesale by the reader.
    check_reader_protocol(
        proto, meta, live, allow_dv=allow_dv, allow_column_mapping=True
    )
    return column_layout(meta), list(meta.get("partitionColumns") or [])


def table_schema(path: str, *, allow_dv: bool = False):
    """The table's declared (LOGICAL) schema as a StructType, with its
    partition column names. Shares the batch reader's log replay
    (delta_import._replay_state — pyarrow-direct, no Spark session),
    so a table whose metaData lives only in a parquet checkpoint
    (delta-spark cleans up old JSON versions) still resolves.

    Column mapping: mapped tables stream in both modes, nested fields
    included — the reader takes parquet columns and partitionValues by
    the layout's physical names (conforming writers store physical
    names in both modes) and reshapes nested values to their logical
    member names per row batch (:func:`_logicalize_value`)."""
    layout, part_cols = _open_table(path, allow_dv)
    return layout.logical_schema, part_cols


def _logicalize_value(v, t):
    """Reshape one pyarrow ``to_pylist`` value from PHYSICAL member
    names (what column-mapped parquet files store at every nesting
    level) to the LOGICAL shape the stream's declared schema promises:
    struct dicts re-key member-by-member, arrays map elementwise, maps
    convert to dicts with both sides reshaped. Pure data walk — runs
    executor-side per row batch, ships with the package zip."""
    if v is None or not isinstance(t, dict):
        return v
    k = t.get("type")
    if k == "struct":
        return {
            f["name"]: _logicalize_value(v.get(_cm_phys(f)), f["type"])
            for f in t["fields"]
        }
    if k == "array":
        return [_logicalize_value(x, t["elementType"]) for x in v]
    if k == "map":
        items = v.items() if isinstance(v, dict) else v
        return {
            _logicalize_value(mk, t["keyType"]): _logicalize_value(
                mv, t["valueType"]
            )
            for mk, mv in items
        }
    return v


class _AddedFile(InputPartition):
    def __init__(self, path: str, partition_values: dict):
        self.path = path
        self.partition_values = partition_values


class _ChangeFile(InputPartition):
    """One CDF input split: a cdc / added / removed parquet whose rows
    become change rows (``change_type`` None = cdc file, the type
    rides IN the file; ``dv`` = standing deletion-vector descriptor
    JSON to subtract from a removed file's rows)."""

    def __init__(
        self,
        path: str,
        partition_values: dict,
        change_type: str | None,
        version: int,
        ts: int,
        dv: str | None = None,
    ):
        self.path = path
        self.partition_values = partition_values
        self.change_type = change_type
        self.version = version
        self.ts = ts
        self.dv = dv


class DeltaStreamReader(DataSourceStreamReader):
    def __init__(
        self, options, schema, part_cols: list[str], phys_of=None,
        nested_types=None,
    ):
        self.root = options["path"]
        self.log_dir = os.path.join(self.root, "_delta_log")
        self.start_opt = options.get("startingposition", "earliest").lower()
        self.ignore_deletes = options.get("ignoredeletes", "false") == "true"
        self.ignore_changes = options.get("ignorechanges", "false") == "true"
        self.skip_change_commits = (
            options.get("skipchangecommits", "false") == "true"
        )
        # CDF mode (delta-spark's readChangeFeed): micro-batches carry
        # CHANGE rows (+_change_type/_commit_version/_commit_timestamp)
        # planned by sources.delta_cdf.plan_changes — updates and
        # deletes stream exactly, no ignore*/skip* lossiness
        self.read_change_feed = (
            options.get("readchangefeed", "false") == "true"
        )
        self.fields = [(f.name, f.dataType.simpleString()) for f in schema.fields]
        self.part_cols = part_cols
        # logical -> physical column name (column mapping); parquet
        # columns and partitionValues are keyed physical on mapped
        # tables
        self.phys_of = dict(phys_of or {})
        # logical column -> type JSON for columns whose NESTED members
        # are physically renamed: read() reshapes those values with
        # _logicalize_value (plain dicts, picklable with the reader)
        self.nested_types = dict(nested_types or {})

    def initialOffset(self) -> dict:
        if self.start_opt == "latest":
            return self.latestOffset()
        return {"version": -1}

    def latestOffset(self) -> dict:
        if not os.path.isdir(self.log_dir):
            return {"version": -1}
        vs = _log_versions(self.log_dir)
        return {"version": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if self.read_change_feed:
            return self._cdf_partitions(lo, hi)
        vs = _log_versions(self.log_dir) if os.path.isdir(self.log_dir) else []
        if lo == -1 and hi >= 0 and vs and vs[0] > 0:
            # Fresh earliest-stream on a log-expired table: versions
            # [0, vs[0]) were deleted by expire_delta_log, so version
            # replay cannot start at the beginning. Real delta-spark
            # serves the table snapshot as the initial batch instead —
            # do the same: the checkpoint-backed live-file state as of
            # ``hi`` becomes batch 0 (removes already applied), and
            # later batches tail the surviving log from there. The
            # truncation guard below stays for previously-CHECKPOINTED
            # offsets, where skipping versions would lose rows.
            from incubator_gobblin_spark.sources.delta_import import (
                _replay_state,
            )

            live, _, _ = _replay_state(self.log_dir, hi)
            for a in live.values():
                if a.get("deletionVector"):
                    raise ValueError(
                        "deltastream: snapshot file "
                        f"{a.get('path')!r} carries a deletion vector "
                        "— use the batch reader (read_delta applies "
                        "DVs); the stream would resurrect deleted rows"
                    )
            return [
                _AddedFile(
                    add_file_path(self.root, p),
                    a.get("partitionValues") or {},
                )
                for p, a in sorted(live.items())
            ] or [_AddedFile("", {})]
        # Log-truncation guard (what real delta-spark raises as
        # VersionNotFoundException): expire_delta_log deletes
        # pre-checkpoint commit JSONs, and a stream whose CHECKPOINTED
        # offset predates the surviving chain would otherwise SILENTLY
        # skip those versions' rows — fail loudly instead; the stream
        # must reprocess from a fresh checkpoint or a supported offset.
        if vs and lo + 1 < vs[0] and any(lo < v <= hi for v in vs):
            raise ValueError(
                f"deltastream: versions ({lo}, {vs[0]}) were removed by "
                "log retention; the stream's checkpointed offset "
                "predates the surviving Delta log — restart from a "
                "fresh checkpoint"
            )
        parts: list[_AddedFile] = []
        for v in vs:
            if v <= lo or v > hi:
                continue
            acts = _commit_actions(self.log_dir, v)
            removes = [a for a in acts if "remove" in a]
            adds = [a for a in acts if "add" in a]
            if self.skip_change_commits and (
                removes
                or any(a["add"].get("deletionVector") for a in adds)
            ):
                # delta-spark skipChangeCommits: the whole non-append
                # version is skipped — its adds are NOT served (their
                # rows were already streamed if the rewrite preserved
                # content, e.g. this engine's mode="full" compaction)
                continue
            if removes and not self.ignore_changes:
                if not (self.ignore_deletes and not adds):
                    raise ValueError(
                        f"deltastream: version {v} is not append-only "
                        "(remove actions present). Set ignoreDeletes for "
                        "delete-only commits or ignoreChanges to stream "
                        "rewrites as inserts (duplicates downstream)."
                    )
            for a in adds:
                if a["add"].get("deletionVector"):
                    raise ValueError(
                        f"deltastream: add {a['add'].get('path')!r} "
                        "carries a deletion vector — DV row-level "
                        "deletes are not implemented; refusing to "
                        "stream resurrected rows"
                    )
                parts.append(
                    _AddedFile(
                        add_file_path(self.root, a["add"]["path"]),
                        a["add"].get("partitionValues") or {},
                    )
                )
        return parts or [_AddedFile("", {})]

    def _cdf_partitions(self, lo: int, hi: int):
        """CDF micro-batch planning: one _ChangeFile per cdc / added /
        removed parquet of versions (lo, hi], via the same driver-side
        planner the batch CDF reader uses (same refusals: interval not
        recorded, expired commits, non-derivable rewrites)."""
        if hi <= lo:
            return [_ChangeFile("", {}, "insert", -1, 0)]
        from incubator_gobblin_spark.sources.delta_cdf import plan_changes

        # no version bound here: the stream emits one InputPartition
        # per changed file (no per-version union plan), so a deep
        # catch-up backlog is linear in FILES, not in plan arms — the
        # batch reader's MAX_VERSIONS_PER_CALL guard doesn't apply
        plan, _meta = plan_changes(
            self.root, lo + 1, hi, max_versions=1 << 62
        )
        parts: list[_ChangeFile] = []
        for v, ts, kind, payload in plan:
            if kind == "cdc":
                for c in payload:
                    parts.append(
                        _ChangeFile(
                            add_file_path(self.root, c["path"]),
                            c.get("partitionValues") or {},
                            None,
                            v,
                            ts,
                        )
                    )
            elif kind == "insert":
                for a in payload:
                    parts.append(
                        _ChangeFile(
                            add_file_path(self.root, a["path"]),
                            a.get("partitionValues") or {},
                            "insert",
                            v,
                            ts,
                        )
                    )
            else:
                for r, dv in payload:
                    parts.append(
                        _ChangeFile(
                            add_file_path(self.root, r["path"]),
                            r.get("partitionValues") or {},
                            "delete",
                            v,
                            ts,
                            dv=json.dumps(dv) if dv else None,
                        )
                    )
        return parts or [_ChangeFile("", {}, "insert", -1, 0)]

    def _cast_part(self, ddl_type: str, v):
        if v is None:
            return None
        if ddl_type in ("bigint", "int", "smallint", "tinyint"):
            return int(v)
        if ddl_type in ("double", "float"):
            return float(v)
        if ddl_type == "string":
            return v
        if ddl_type == "boolean":
            return v.lower() == "true"
        if ddl_type == "date":
            import datetime

            return datetime.date.fromisoformat(v)
        if ddl_type.startswith("timestamp"):
            import datetime

            return datetime.datetime.fromisoformat(v)
        if ddl_type.startswith("decimal"):
            from decimal import Decimal

            return Decimal(v)
        raise ValueError(
            f"deltastream: unsupported partition column type {ddl_type}"
        )

    def _rows(self, table, partition_values: dict, extras: dict | None = None):
        """Yield ``table``'s rows in the declared field order: partition
        columns from ``partition_values``, data columns by physical name
        (nested members reshaped to logical names), ``extras`` (name ->
        values) as given, and null for a column the file lacks."""
        n = table.num_rows
        cols = dict(extras or {})
        for name, ddl in self.fields:
            if name in cols:
                continue
            src = self.phys_of.get(name, name)
            if name in self.part_cols:
                cols[name] = [
                    self._cast_part(ddl, partition_values.get(src))
                ] * n
            elif src in table.column_names:
                vals = table.column(src).to_pylist()
                tj = self.nested_types.get(name)
                if tj is not None:
                    vals = [_logicalize_value(x, tj) for x in vals]
                cols[name] = vals
            else:
                cols[name] = [None] * n
        for i in range(n):
            yield tuple(cols[name][i] for name, _ in self.fields)

    def read(self, part):
        if isinstance(part, _ChangeFile):
            yield from self._read_change(part)
            return
        if not part.path:
            return
        import pyarrow.parquet as pq

        yield from self._rows(pq.read_table(part.path), part.partition_values)

    def _read_change(self, part: _ChangeFile):
        if not part.path:
            return
        import pyarrow.parquet as pq

        table = pq.read_table(part.path)
        if part.dv:
            # a removed file's delete rows = its rows MINUS positions
            # already dead under the standing vector (file row order
            # IS the DV position space)
            from incubator_gobblin_spark.formats.deletion_vectors import (
                read_dv_positions,
            )

            dead = set(read_dv_positions(self.root, json.loads(part.dv)))
            if dead:
                table = table.take(
                    [i for i in range(table.num_rows) if i not in dead]
                )
        n = table.num_rows
        yield from self._rows(table, part.partition_values, {
            "_change_type": (
                table.column("_change_type").to_pylist()
                if part.change_type is None  # cdc file: the type rides in it
                else [part.change_type] * n
            ),
            "_commit_version": [part.version] * n,
            "_commit_timestamp": [part.ts] * n,
        })

    def commit(self, end: dict) -> None:
        pass


class DeltaStreamDataSource(DataSource):
    """``spark.readStream.format("deltastream").option("path", root)``."""

    def __init__(self, options):
        super().__init__(options)
        self.options = {k.lower(): v for k, v in options.items()}

    @classmethod
    def name(cls):
        return "deltastream"

    def _allow_dv(self) -> bool:
        # skipChangeCommits never serves DV'd files; CDF mode reads
        # change rows, not the snapshot, so live DVs are fine too
        return (
            self.options.get("skipchangecommits", "false") == "true"
            or self.options.get("readchangefeed", "false") == "true"
        )

    def schema(self):
        schema, _ = table_schema(self.options["path"], allow_dv=self._allow_dv())
        if self.options.get("readchangefeed", "false") == "true":
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                StructType,
            )

            return StructType(
                list(schema.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                    StructField("_commit_timestamp", LongType()),
                ]
            )
        return schema

    def streamReader(self, schema):
        layout, part_cols = _open_table(
            self.options["path"], self._allow_dv()
        )
        return DeltaStreamReader(
            self.options,
            schema,
            part_cols,
            phys_of=layout.phys_of,
            nested_types=layout.nested_types,
        )


def register(spark) -> None:
    from incubator_gobblin_spark.sources.mock_kafka import _ship_package

    _ship_package(spark)
    spark.dataSource.register(DeltaStreamDataSource)
