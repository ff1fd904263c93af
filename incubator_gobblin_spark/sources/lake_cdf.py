"""Streaming change-data-feed source over the manifest lake.

``spark.readStream.format("lakecdf").option("path", lake_root)`` tails
the lake's commit log: each micro-batch delivers the row-level changes
of the commits that landed since the last checkpointed offset, tagged
with ``_change_type`` in {insert, delete} and ``_commit_ordinal`` (the
commit's 0-based position in the batch's chain, oldest first — the
ordering column CDC consumers need to collapse a multi-commit batch to
its net outcome per key; without it an insert in one commit and a
delete of the same key in a later commit of the SAME batch would be
unorderable). ``_commit_ordinal`` postdates the source's first
release: a query RESTARTED from an old checkpoint whose file sink
carries the pre-ordinal schema sets ``emitCommitOrdinal=false`` to
keep that schema (the CDC sinks require the ordinal and will refuse
such a feed — legacy consumers restart fresh to adopt it). The offset
is the consumed run id — checkpointed by Structured Streaming, so a restarted query
resumes exactly after the last committed batch (the same
no-reprocess contract as every streaming source in the engine; batch
consumers use ``FileSink.read_incremental`` instead).

Reference parity: this is the streaming half of the reference's
incremental-consumption story (QueryBasedSource watermarks lifted onto
the lake commit log), shaped like Delta's CDF streaming reads.

Change-row sourcing per commit, best first:
- a ``_data/<rid>/_changes/`` sidecar (written by merges on a
  ``cdf_materialize=True`` sink) — EXACT rows, already tagged;
- otherwise the commit's manifest file diff vs its parent: added files
  stream as inserts, removed files as deletes. For append commits this
  is exact; for a merge WITHOUT materialization it includes
  rewritten-but-identical survivor rows as delete+insert pairs (the
  per-file form cannot cancel them without a join) — enable
  ``cdf_materialize`` on merge-heavy lakes.

Scale shape: offsets and commit-chain walks are pure manifest-JSON
metadata on the driver; each changed file is one input partition read
executor-side with pyarrow. Carried (untouched) files never appear in
any batch.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from incubator_gobblin_spark.sources.manifest_import import (
    load_entries,
    load_run,
    read_head,
)

# ---------------------------------------------------------------- manifests


def _chain(root: str, from_rid: str | None, to_rid: str) -> list[dict]:
    """Commits strictly after ``from_rid`` up to ``to_rid``, oldest
    first. ``from_rid=None`` walks to the beginning of history."""
    out: list[dict] = []
    rid: str | None = to_rid
    while rid is not None and rid != from_rid:
        m = load_run(root, rid)
        m["entries"] = load_entries(root, m)
        out.append(m)
        rid = m.get("parent")
    if rid != from_rid and from_rid is not None:
        raise ValueError(
            f"run {from_rid!r} is not an ancestor of {to_rid!r} — "
            "the lake history diverged or was vacuumed; re-baseline"
        )
    return list(reversed(out))


def _commit_actions(
    root: str, m: dict, parent_m: dict | None = None
) -> list[tuple[str, str | None]]:
    """(file_path, change_type) per changed file of one commit;
    change_type None means the file is a tagged _changes sidecar.
    ``parent_m`` short-circuits the parent manifest load when the
    caller already holds it (the chain walk does — each commit's
    parent IS the preceding chain element)."""
    rid = m["run_id"]
    cdir = os.path.join(root, "_data", rid, "_changes")
    if os.path.isdir(cdir):
        return [
            (os.path.join(cdir, f), None)
            for f in sorted(os.listdir(cdir))
            if f.endswith(".parquet") or f.startswith("part-")
        ]
    parent = m.get("parent")
    parent_files: set[str] = set()
    if parent is not None:
        if parent_m is not None and parent_m.get("run_id") == parent:
            parent_files = {e["file"] for e in parent_m["entries"]}
        else:
            parent_files = {
                e["file"] for e in load_entries(root, load_run(root, parent))
            }
    cur_files = {e["file"] for e in m["entries"]}
    actions = [
        (os.path.join(root, f), "insert")
        for f in sorted(cur_files - parent_files)
    ]
    actions += [
        (os.path.join(root, f), "delete")
        for f in sorted(parent_files - cur_files)
    ]
    return actions


# ---------------------------------------------------------------- schema

_ARROW_TO_DDL = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "bool": "boolean",
    "string": "string",
    "large_string": "string",
    "binary": "binary",
    "large_binary": "binary",
    "date32[day]": "date",
}


def _arrow_ddl(t) -> str:
    import pyarrow as pa

    s = str(t)
    if s in _ARROW_TO_DDL:
        return _ARROW_TO_DDL[s]
    if s.startswith("timestamp"):
        return "timestamp"
    if s.startswith("decimal"):
        return s.replace("decimal128", "decimal").replace("decimal64", "decimal")
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"array<{_arrow_ddl(t.value_type)}>"
    raise ValueError(f"lakecdf: unsupported column type {s}")


def snapshot_ddl(root: str, include_ordinal: bool = True) -> str:
    """DDL of the current snapshot's schema + _change_type +
    _commit_ordinal, from one parquet footer (driver-side metadata
    read).

    COMPATIBILITY: ``_commit_ordinal`` was added to the source schema
    after the first release of this source. A streaming query
    restarted from an existing checkpoint against a file sink written
    with the OLD schema would fail (or mix schemas in the sink) —
    such in-flight consumers set ``emitCommitOrdinal=false``
    (``include_ordinal=False`` here) to keep the pre-ordinal schema,
    or restart with a fresh checkpoint and sink to pick the ordinal
    up. Fresh queries leave the default on: the CDC sinks
    (streaming/flow.py) REQUIRE an ordering column to collapse
    multi-commit batches."""
    import pyarrow.parquet as pq

    m = read_head(root).manifest
    if m is None:
        raise FileNotFoundError(f"no committed manifest under {root}")
    # with schema evolution the NEWEST run's files carry the widest
    # schema; entries are ordered carried-first, so scan from the end
    for e in reversed(load_entries(root, m)):
        f = os.path.join(root, e["file"])
        if os.path.exists(f):
            schema = pq.ParquetFile(f).schema_arrow
            cols = [
                f"`{name}` {_arrow_ddl(schema.field(name).type)}"
                for name in schema.names
            ]
            extra = ["`_change_type` string"]
            if include_ordinal:
                extra.append("`_commit_ordinal` bigint")
            return ", ".join(cols + extra)
    raise FileNotFoundError(f"no readable data file under {root}")


# ---------------------------------------------------------------- source


class _FileChange(InputPartition):
    def __init__(self, path: str, change_type: str | None, ordinal: int = 0):
        self.path = path
        self.change_type = change_type
        self.ordinal = ordinal


class LakeCdfStreamReader(DataSourceStreamReader):
    def __init__(self, options, field_names: list[str]):
        self.root = options["path"]
        self.start_opt = options.get("startingposition", "earliest").lower()
        # data columns + _change_type (+ _commit_ordinal unless the
        # legacy-checkpoint escape hatch emitCommitOrdinal=false)
        self.fields = field_names
        self.emit_ordinal = "_commit_ordinal" in field_names

    def initialOffset(self) -> dict:
        if self.start_opt == "latest":
            return self.latestOffset()
        return {"run": ""}

    def latestOffset(self) -> dict:
        m = read_head(self.root).manifest
        return {"run": m["run_id"] if m else ""}

    def partitions(self, start: dict, end: dict):
        from_rid = start.get("run") or None
        to_rid = end.get("run") or None
        if to_rid is None or from_rid == to_rid:
            # Spark requires >=1 partition; an empty file list is the
            # no-op batch
            return [_FileChange("", None)]
        chain = _chain(self.root, from_rid, to_rid)
        parts = [
            _FileChange(path, ct, ordinal)
            for ordinal, m in enumerate(chain)
            for path, ct in _commit_actions(
                self.root, m, chain[ordinal - 1] if ordinal else None
            )
        ]
        return parts or [_FileChange("", None)]

    def read(self, part: _FileChange):
        if not part.path:
            return
        import pyarrow.parquet as pq

        table = pq.read_table(part.path)
        cols = {}
        data_fields = self.fields[: -2 if self.emit_ordinal else -1]
        for name in data_fields:
            if name in table.column_names:
                cols[name] = table.column(name).to_pylist()
            else:  # schema evolution: older file lacks the column
                cols[name] = [None] * table.num_rows
        if part.change_type is None:
            ct = table.column("_change_type").to_pylist()
        else:
            ct = [part.change_type] * table.num_rows
        ordinal = getattr(part, "ordinal", 0)
        if self.emit_ordinal:
            for i in range(table.num_rows):
                yield tuple(cols[name][i] for name in data_fields) + (
                    ct[i],
                    ordinal,
                )
        else:  # legacy pre-ordinal schema (emitCommitOrdinal=false)
            for i in range(table.num_rows):
                yield tuple(cols[name][i] for name in data_fields) + (
                    ct[i],
                )

    def commit(self, end: dict) -> None:
        pass


class LakeCdfDataSource(DataSource):
    """``spark.readStream.format("lakecdf").option("path", root)``."""

    def __init__(self, options):
        super().__init__(options)
        self.options = {k.lower(): v for k, v in options.items()}

    @classmethod
    def name(cls):
        return "lakecdf"

    def schema(self):
        return snapshot_ddl(
            self.options["path"],
            include_ordinal=(
                self.options.get("emitcommitordinal", "true") != "false"
            ),
        )

    def streamReader(self, schema):
        return LakeCdfStreamReader(self.options, list(schema.fieldNames()))


def register(spark) -> None:
    from incubator_gobblin_spark.sources.mock_kafka import _ship_package

    _ship_package(spark)
    spark.dataSource.register(LakeCdfDataSource)
