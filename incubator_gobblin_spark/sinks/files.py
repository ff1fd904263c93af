"""File sinks with staged atomic publish.

Reference semantics being reproduced:
- DataWriter writes to a *staging* path; DataPublisher atomically renames
  staging -> final AFTER task-level quality policies pass
  (gobblin-core .../publisher/BaseDataPublisher.java:97, publishData:332,
  movePath:496; FsDataWriter staging dirs). Spark's own file committer
  makes individual task output atomic, but not the
  quality-gate-then-publish step — so the engine writes to
  ``<final>/_staging/<run_id>``, evaluates task policies, then renames.
- PartitionedDataWriter / TimeBasedWriterPartitioner demux records into
  per-partition outputs (gobblin-core .../writer/PartitionedDataWriter.java:77,
  partitioner/TimeBasedWriterPartitioner.java:59) -> ``partitionBy`` on a
  derived time-pattern column.
- Extract.TableType {SNAPSHOT_ONLY, SNAPSHOT_APPEND, APPEND_ONLY}
  (gobblin-api .../source/workunit/Extract.java:53-57) -> write modes
  overwrite / append / dynamic partition overwrite.
- RowLevelErrFileWriter's error file -> the quality error stream written
  next to the output under ``_errors/``.
- ``commit_mode="manifest"`` is the object-store-safe publish: data
  files move once into an immutable run dir, and the commit is one
  put-if-absent log entry naming the run's manifest
  (``_manifests/log/<seq>``, :func:`~incubator_gobblin_spark.commit.put_if_absent`,
  the primitive every lake writer commits through), followed by a
  ``_CURRENT`` hint rewrite. The layout and head resolution are in
  :mod:`incubator_gobblin_spark.sources.manifest_import`.

Scale notes: ``max_records_per_file`` bounds output file sizes (the
write-side small/large-file discipline the reference solves with
compaction); partition columns must be low-cardinality (time buckets,
not ids). The rename-based publish is O(#partition-dirs) driver-side
metadata ops, parallelized with a thread pool like the reference's
ParallelRunner (gobblin-utility .../util/ParallelRunner.java:82).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from incubator_gobblin_spark.commit import put_if_absent
from incubator_gobblin_spark.formats.avro_ocf import resolve_format
from incubator_gobblin_spark.sources.manifest_import import (
    HINT,
    LOG_DIR,
    Head,
    history,
    is_committed,
    load_entries,
    load_group,
    load_run,
    log_entry,
    log_seqs,
    manifest_rel,
    read_head,
)


class TableType(Enum):
    SNAPSHOT_ONLY = "snapshot_only"    # full overwrite each run
    SNAPSHOT_APPEND = "snapshot_append"  # overwrite only touched partitions
    APPEND_ONLY = "append_only"        # append


class ManifestConflictError(RuntimeError):
    """Another committer put the commit-log entry this commit raced for:
    a commit landed between this commit's snapshot read and its log put.
    The commit was NOT applied and no state was lost — re-read the
    current snapshot, recompute, and retry (the same contract as a
    CAS/optimistic-lock failure in the DB state store)."""


@dataclass
class FileSink:
    """Declarative file sink; ``write`` stages, ``publish`` commits."""

    path: str
    fmt: str = "parquet"
    table_type: TableType = TableType.APPEND_ONLY
    partition_by: list[str] = field(default_factory=list)
    max_records_per_file: int | None = None
    options: dict[str, str] = field(default_factory=dict)
    # "rename" = atomic dir renames (POSIX/HDFS); "manifest" = data
    # files stay put, commit is ONE put-if-absent commit-log entry
    # (then a ``_CURRENT`` hint rewrite) — the object-store-safe mode
    # (S3/GCS renames are copy+delete, not atomic; a conditional
    # small-object PUT is).
    commit_mode: str = "rename"
    # Stats clustering: range-partition + sort rows by these columns
    # before writing, so each output file covers a NARROW, mostly
    # disjoint value range. File-level min/max stats (captured into the
    # manifest) then prune hard on those columns — unsorted writes give
    # every file ~the full value range and stats prune nothing. The
    # cheap half of Z-ordering: perfect for one dominant filter column
    # (an id, a timestamp), no curve math.
    cluster_by: list[str] = field(default_factory=list)
    # Bloom-filter file skipping: per-file blooms over these columns
    # (int/string equality keys), computed by a DISTRIBUTED job at
    # write time and packed into the manifest entry. Min/max stats
    # cannot prune point lookups on hash-distributed keys (every file
    # spans ~the full range); a bloom prunes them near-perfectly. Size
    # ``bloom_bits`` to ~10x the expected DISTINCT keys per file —
    # an undersized bloom saturates and stops pruning, never lies.
    bloom_cols: list[str] = field(default_factory=list)
    bloom_bits: int = 8192
    # Z-order clustering: interleave the bits of 2+ NUMERIC columns
    # into one sort key, so every file covers a narrow range in EVERY
    # listed column — the multi-dimensional half of what cluster_by
    # does for one. Lexicographic (a, b) range-partitioning prunes b
    # only within one a-value; the Z-curve prunes both at ~sqrt rates.
    # Pruning itself needs no new machinery: the existing per-file
    # min/max stats tighten on all listed columns.
    zorder_by: list[str] = field(default_factory=list)
    # Schema evolution (copy-on-write column ADD): with True, a merge
    # whose source carries NEW columns widens the table — only the new
    # run's files store the column; readers null-fill it for older
    # runs' files (the Delta/Iceberg add-column semantics, no rewrite).
    # Source columns ABSENT from the target read back as null for the
    # merged rows (destructive upsert — partial-update CDC is not what
    # MERGE does; pre-join the old row if you need to preserve fields).
    # Default False: unknown source columns are dropped, reads demand
    # identical run schemas — evolution stays a deliberate choice.
    schema_evolution: bool = False
    # Materialized change-data-feed: each merge commit also writes its
    # EXACT row-level changes (delete rows = replaced/deleted matches,
    # insert rows = upserts) into ``_data/<rid>/_changes/`` — the
    # Delta-CDF design. Costs one extra write over just the touched
    # rows; buys consumers (read_changes fast path, the ``lakecdf``
    # streaming source) change rows with NO diff computation and no
    # rewritten-survivor noise.
    cdf_materialize: bool = False
    # External interop: with True, every manifest commit (publish /
    # merge / compact) also refreshes ``_symlink_format_manifest/`` —
    # the Hive SymlinkTextInputFormat layout external engines
    # (Trino/Athena/Presto, or any file-list reader) consume. See
    # :meth:`export_symlink_manifest`. Costs one tiny text write per
    # commit.
    symlink_manifest: bool = False
    # With True, every manifest commit also appends the snapshot delta
    # to ``_delta_log/`` (the Delta Lake transaction-log projection —
    # see :meth:`export_delta_log`), so Delta readers track the lake
    # commit-for-commit. One small JSON write per commit; set
    # ``delta_log_checkpoint_interval`` to also compact the live state
    # into a parquet checkpoint every N versions, keeping each export's
    # log replay O(tail) on long-lived lakes.
    delta_log: bool = False
    delta_log_checkpoint_interval: int | None = None
    # With True, every manifest commit also appends an Iceberg snapshot
    # under ``metadata/`` (format-version 2 table metadata + Avro
    # manifest list/manifests — see :meth:`export_iceberg`), the
    # GobblinMCEWriter analogue. Driver-side metadata only.
    iceberg_metadata: bool = False

    def staging_dir(self, run_id: str) -> str:
        return os.path.join(self.path, "_staging", run_id)

    def write_staging(self, df: DataFrame, run_id: str) -> str:
        """Write to the staging dir (always overwrite: a retried run with
        the same run_id must not double its data — the reference's
        staging-cleanup-on-retry, FsDataWriter)."""
        staging = self.staging_dir(run_id)
        if self.zorder_by:
            df = self._zorder(df)
        elif self.cluster_by:
            # repartitionByRange gives files DISJOINT ranges across
            # tasks (a plain local sort would leave every task holding
            # the full range); the within-partition sort tightens each
            # file's min/max further under maxRecordsPerFile splits.
            df = df.repartitionByRange(*self.cluster_by).sortWithinPartitions(
                *self.cluster_by
            )
        writer = df.write.mode("overwrite").format(resolve_format(self.fmt))
        part_by = self._layout()
        if part_by:
            writer = writer.partitionBy(*part_by)
        if self.max_records_per_file:
            writer = writer.option("maxRecordsPerFile", self.max_records_per_file)
        for k, v in self.options.items():
            writer = writer.option(k, v)
        writer.save(staging)
        if self.bloom_cols and self.commit_mode == "manifest":
            # only manifest publish folds the sidecar into entries; in
            # rename mode the extra full-scan aggregation would build a
            # sidecar that publish simply deletes with the staging dir
            self._write_bloom_sidecar(df.sparkSession, staging)
        return staging

    def _zorder(self, df: DataFrame) -> DataFrame:
        """Range-partition + sort by the Morton (Z-curve) value of
        ``zorder_by``: each column is linearly bucketed into 16 bits
        between its observed min/max (one 1-row aggregate), the bits
        interleave into one long, and the existing cluster_by machinery
        (repartitionByRange + sortWithinPartitions) lays files along
        the curve. The interleave is a write-time-only codegen'd
        bit expression; readers never see the key.

        Linear bucketing is the simple curve — heavily skewed columns
        cluster less evenly than rank-based bucketing would, but
        pruning correctness never depends on it (stats are exact per
        file)."""
        cols = self.zorder_by
        if len(cols) < 2:
            raise ValueError("zorder_by needs >= 2 columns (use cluster_by for 1)")
        for c in cols:
            if not isinstance(df.schema[c].dataType, NumericType):
                raise ValueError(f"zorder_by column {c!r} must be numeric")
        bounds = df.agg(
            *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
        ).collect()[0]
        n = len(cols)
        # per-column bits shrink so every interleaved position i*n+ci
        # stays BELOW bit 63: position 63 is the long's sign bit (the
        # top curve bit would sort inverted) and positions >= 64 wrap
        # under Spark's shiftleft (count taken mod 64), silently adding
        # into unrelated low bits and corrupting the curve
        bits = min(16, 63 // n)
        parts = []
        for ci, c in enumerate(cols):
            lo, hi = bounds[f"lo_{c}"], bounds[f"hi_{c}"]
            if lo is None or hi is None or hi <= lo:
                bucket = F.lit(0).cast("long")
            else:
                span = hi - lo
                bucket = F.least(
                    F.lit((1 << bits) - 1),
                    F.greatest(
                        F.lit(0),
                        (
                            (F.col(c).cast("double") - F.lit(lo))
                            / F.lit(span)
                            * F.lit(float((1 << bits) - 1))
                        ).cast("long"),
                    ),
                )
            parts.append(
                (bucket, ci)
            )
        # interleave: bit i of column ci lands at position i*n + ci
        zval = F.lit(0).cast("long")
        for bucket, ci in parts:
            for i in range(bits):
                zval = zval + F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)), i * n + ci
                )
        return (
            df.withColumn("_zval", zval)
            .repartitionByRange("_zval")
            .sortWithinPartitions("_zval")
            .drop("_zval")
        )

    def _write_bloom_sidecar(self, spark, staging: str) -> None:
        """Build per-file blooms for ``bloom_cols`` over the staged
        output and store them in a ``_blooms.json`` sidecar that
        publish folds into the manifest entries.

        Scale shape: one distributed aggregation per bloom column —
        4 md5-derived bit positions per row, OR-combined per (file,
        64-bit word) with map-side partial bit_or, so the collect is
        at most files x bits/64 longs, independent of row count. The
        hash is md5 of the value's canonical string on BOTH sides
        (Spark builds, the driver probes with hashlib), so no
        engine-specific hash needs reimplementing."""
        import base64

        from incubator_gobblin_spark.formats.avro_ocf import resolve_format as _rf

        src = spark.read.format(_rf(self.fmt)).load(staging)
        # word-align the filter size: positions reach bits-1 but the
        # packed buffer holds whole 64-bit words — a non-multiple-of-64
        # bloom_bits would leave probes past the buffer (data-dependent
        # IndexError at read time)
        bits = ((int(self.bloom_bits) + 63) // 64) * 64
        files: dict[str, dict[str, dict[int, int]]] = {}
        for c in self.bloom_cols:
            if c not in src.columns:
                continue
            h = F.md5(F.col(c).cast("string"))
            pos = F.array(
                *[
                    F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("long")
                    % F.lit(bits)
                    for j in range(4)
                ]
            )
            rows = (
                src.select(F.input_file_name().alias("_f"), F.explode(pos).alias("_p"))
                .filter(F.col("_p").isNotNull())
                .select(
                    "_f",
                    (F.col("_p") / 64).cast("long").alias("_w"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))"
                    ).alias("_m"),
                )
                .groupBy("_f", "_w")
                .agg(F.bit_or("_m").alias("_v"))
                .collect()
            )
            for r in rows:
                rel = _uri_to_rel(r._f, staging)
                files.setdefault(rel, {}).setdefault(c, {})[int(r._w)] = int(r._v)
        packed = {
            rel: {
                c: base64.b64encode(_bloom_pack(words, bits)).decode()
                for c, words in cols.items()
            }
            for rel, cols in files.items()
        }
        with open(os.path.join(staging, "_blooms.json"), "w") as fh:
            json.dump({"bits": bits, "files": packed}, fh)

    def publish(self, run_id: str) -> list[str]:
        """Commit staged output (BaseDataPublisher.movePath:496
        semantics). ``commit_mode="rename"`` renames staging dirs into
        the final layout (atomic per path on POSIX/HDFS);
        ``commit_mode="manifest"`` leaves data files in immutable
        run dirs and commits one put-if-absent log entry naming the
        run's manifest — see :meth:`_publish_manifest`. Returns
        published paths (``[]`` when the run was already committed)."""
        if self.commit_mode == "manifest":
            # manifest mode tolerates a missing staging dir on retry
            # (the data move already happened before the crash)
            return self._publish_manifest(run_id)
        staging = self.staging_dir(run_id)
        if not os.path.isdir(staging):
            raise FileNotFoundError(f"staging dir missing: {staging}")
        published: list[str] = []

        if self.table_type == TableType.SNAPSHOT_ONLY:
            # replace the entire dataset (keep _staging of other runs)
            for entry in os.listdir(self.path):
                if entry != "_staging" and entry != "_errors":
                    _rm(os.path.join(self.path, entry))

        def _move(rel: str) -> str:
            src = os.path.join(staging, rel)
            dst = os.path.join(self.path, rel)
            if self.table_type == TableType.SNAPSHOT_APPEND and os.path.isdir(dst):
                _rm(dst)  # dynamic partition overwrite: replace touched dirs
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst) and os.path.isdir(dst):
                # append into existing partition dir: move files in
                for f_ in os.listdir(src):
                    # skip committer metadata (_SUCCESS) and hidden
                    # checksum files (.*.crc): renaming a .crc strips its
                    # hidden prefix and turns it into a bogus data file
                    if f_.startswith(("_", ".")):
                        continue
                    os.replace(
                        os.path.join(src, f_),
                        os.path.join(dst, f"{run_id}-{f_}"),
                    )
            else:
                os.replace(src, dst)
            return dst

        entries = [
            e
            for e in _leaf_outputs(staging, len(self.partition_by))
            if not os.path.basename(e).startswith("_")
        ]
        rels = [os.path.relpath(e, staging) for e in entries]
        # ParallelRunner-style fan-out for many partition dirs
        with ThreadPoolExecutor(max_workers=16) as pool:
            published = list(pool.map(_move, rels))
        _rm(staging)
        _prune_empty(os.path.join(self.path, "_staging"))
        return published

    # -- manifest commit (object-store-safe publish) ----------------------

    def _layout(self, head: Head | None = None) -> list[str]:
        """The partition columns a new run is laid out and recorded
        with. On a manifest lake with a head they are the head
        manifest's: a run laid out otherwise would commit a manifest
        whose ``partition_by`` drops those columns from every read. A
        sink whose own non-empty ``partition_by`` differs raises."""
        if self.commit_mode != "manifest":
            return self.partition_by
        head = head if head is not None else self._read_pointer()
        if head.manifest is None:
            return self.partition_by
        lake = head.manifest.get("partition_by") or []
        if self.partition_by and self.partition_by != lake:
            raise ValueError(
                f"FileSink partition_by {self.partition_by} differs from "
                f"the lake's {lake} at {self.path}"
            )
        return lake

    def _read_pointer(self) -> Head:
        """The committed head a commit composes against (see
        :mod:`~incubator_gobblin_spark.sources.manifest_import`).
        Committers capture it at snapshot-read time and pass it to
        :meth:`_publish_manifest` as ``expected_ptr``."""
        return read_head(self.path)

    def _commit(self, manifest: dict, head: Head) -> None:
        """THE commit of every manifest-lake write: ``manifest`` becomes
        the snapshot after ``head``, or nothing changes.

        The manifest is written to ``_manifests/<run_id>.json`` and
        fsynced. The commit point is one
        :func:`~incubator_gobblin_spark.commit.put_if_absent` of
        ``_manifests/log/<head.seq + 1>`` naming it: every committer
        that composed against ``head`` races for that one name, and a
        loser raises :class:`ManifestConflictError` with the winner
        intact (on an object store, the same contract is a conditional
        PUT). The ``_CURRENT`` hint is rewritten afterwards; a crash
        before it leaves readers one log entry to follow.

        A manifest file may be overwritten only while no log entry
        names it (a lost race, or a crash before the put), so callers
        never commit a run id that is already in the history."""
        seq = manifest["seq"] = head.seq + 1
        mrel = manifest_rel(manifest["run_id"])
        os.makedirs(os.path.join(self.path, LOG_DIR), exist_ok=True)
        mpath = os.path.join(self.path, mrel)
        tmp = f"{mpath}.tmp-{os.getpid()}-{uuid.uuid4().hex[:12]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, mpath)
        if not put_if_absent(log_entry(self.path, seq), mrel):
            raise ManifestConflictError(
                f"commit {seq} of {self.path} was taken by another "
                f"committer while {manifest['run_id']!r} composed against "
                f"commit {head.seq} — recompute against the current "
                "snapshot and retry"
            )
        self._write_hint(mrel)
        if self.symlink_manifest:
            # refresh the external-engine view of the NEW snapshot; the
            # export reads only the committed head, and a concurrent
            # re-export is idempotent
            self.export_symlink_manifest()
        if self.delta_log:
            # same discipline: a no-change re-export appends nothing
            self.export_delta_log(
                checkpoint_interval=self.delta_log_checkpoint_interval
            )
        if self.iceberg_metadata:
            # same discipline again (fingerprint-gated no-change skip)
            self.export_iceberg()

    def _write_hint(self, mrel: str) -> None:
        """Point the ``_CURRENT`` hint at a committed manifest. Last
        writer wins; a stale hint costs readers a log-entry read."""
        hint = os.path.join(self.path, HINT)
        tmp = f"{hint}.tmp-{os.getpid()}-{uuid.uuid4().hex[:12]}"
        with open(tmp, "w") as fh:
            fh.write(mrel)
        os.replace(tmp, hint)

    def current_manifest(
        self, run_id: str | None = None, materialize: bool = True
    ) -> dict | None:
        """Resolve the committed snapshot (readers start here). With
        ``run_id``, resolve that historical snapshot instead — every
        commit's manifest is immutable under ``_manifests/``, so any
        previously committed state stays readable (time travel) until
        its data runs are vacuumed.

        Manifests are a LIST of per-partition entry groups (see
        :meth:`_publish_manifest`); ``materialize=True`` (the default,
        and the public contract) loads every group so the returned
        dict carries the flat ``entries`` list. Internal group-pruning
        readers pass ``materialize=False`` to avoid touching groups a
        partition predicate already excluded."""
        if run_id is None:
            m = read_head(self.path).manifest
        else:
            m = load_run(self.path, run_id)
        if m is not None and materialize:
            m["entries"] = load_entries(self.path, m)
        return m

    def _load_group(self, group: dict) -> list[dict]:
        return load_group(self.path, group)

    def manifest_history(self) -> list[str]:
        """Committed run ids, newest first (see
        :func:`~incubator_gobblin_spark.sources.manifest_import.history`)."""
        return history(self.path)

    def _publish_manifest(
        self,
        run_id: str,
        removed_files: set[str] | None = None,
        candidate_groups: set[str] | None = None,
        expected_ptr: Head | None = None,
    ) -> list[str]:
        """Manifest commit: data files move ONCE into an immutable
        ``_data/<run_id>/`` dir (never rewritten, so the non-atomicity
        of the move is invisible — nothing reads uncommitted run dirs),
        a manifest lists every live data file of the NEW snapshot, and
        :meth:`_commit` makes it the head with one put-if-absent log
        entry. It composes against ``expected_ptr``, the head a caller
        read its snapshot from (default: the head now), and a commit
        that landed since makes it raise :class:`ManifestConflictError`.
        A crash anywhere before the put leaves the previous snapshot
        fully readable; re-running publish with the same run_id
        converges. A run id already committed (:func:`is_committed`) is
        committed: publishing it again drops its staging and returns
        ``[]``, before ``_data/<run_id>`` is touched.

        Snapshot composition per TableType (same semantics as renames):
        - SNAPSHOT_ONLY: manifest = this run's files only;
        - APPEND_ONLY: parent manifest files + this run's;
        - SNAPSHOT_APPEND: parent files whose leaf partition is NOT
          touched by this run + this run's files.

        The manifest holds GROUP references — one immutable
        per-partition entry file under ``_manifests/groups/`` — not
        inline entries. Untouched partitions re-reference the parent's
        group files verbatim, so a commit writes O(touched partitions)
        bytes while the live set may span millions of files (the
        Iceberg manifest-list shape). Group rows carry partition values
        + unioned column stats, letting readers prune partitions
        without fetching their group files.
        """
        if is_committed(self.path, run_id):
            self.abort(run_id)
            return []
        head = expected_ptr if expected_ptr is not None else self._read_pointer()
        parent = head.manifest
        part_by = self._layout(head)

        staging = self.staging_dir(run_id)
        data_dir = os.path.join(self.path, "_data", run_id)
        if os.path.isdir(staging):
            os.makedirs(os.path.dirname(data_dir), exist_ok=True)
            _rm(data_dir)  # same-run retry: immutable run dir, rebuild
            os.replace(staging, data_dir)
        elif not os.path.isdir(data_dir):
            raise FileNotFoundError(f"no staging or data dir for run {run_id}")

        depth = len(part_by)
        blooms = None
        bloom_sidecar = os.path.join(data_dir, "_blooms.json")
        if os.path.exists(bloom_sidecar):
            with open(bloom_sidecar) as fh:
                blooms = json.load(fh)
        new_entries: list[dict] = []
        for leaf in _leaf_outputs(data_dir, depth):
            rel_part = os.path.relpath(leaf, data_dir) if depth else ""
            leaf_dir = leaf if os.path.isdir(leaf) else None
            files = (
                sorted(os.listdir(leaf_dir)) if leaf_dir else [os.path.basename(leaf)]
            )
            base = leaf_dir or os.path.dirname(leaf)
            for f_ in files:
                if f_.startswith(("_", ".")):
                    continue
                fpath = os.path.join(base, f_)
                entry = {
                    "file": os.path.relpath(fpath, self.path),
                    "partition": rel_part if rel_part != "." else "",
                }
                # per-file column stats at WRITE time (parquet footers are
                # local here; at read time they'd be one object-store GET
                # per file) -> manifest-level file skipping, Iceberg-style
                if self.fmt == "parquet":
                    entry.update(_file_stats(fpath))
                if blooms:
                    b = blooms["files"].get(os.path.relpath(fpath, data_dir))
                    if b:
                        entry["bloom"] = {"bits": blooms["bits"], "cols": b}
                new_entries.append(entry)

        # A run whose manifest was vacuumed out of the history can still
        # be live in an append snapshot; its retry rebuilt the run dir
        # above, so drop the groups of the previous attempt.
        parent_groups = (
            [g for g in parent["groups"] if g.get("run") != run_id] if parent else []
        )

        # merge/CDC commit: drop the entries this run rewrote (their
        # surviving rows were copied into the new run — copy-on-write).
        # Only groups actually holding a removed file are rewritten; the
        # rest re-reference the parent's group files verbatim, keeping
        # the commit O(touched groups). Each rewritten group is salted
        # with its source group's file name: an append lake legitimately
        # holds MANY groups for the same partition value (one per run),
        # and unsalted carried names would collide and silently drop
        # entries.
        if removed_files and parent is not None:
            # O(touched groups), not O(live groups): only groups the
            # merge's stats pruning marked as candidates can hold a
            # removed file — every other group passes through WITHOUT a
            # metadata read (candidate_groups=None keeps the exhaustive
            # scan for callers that can't prove a candidate set).
            pruned: list[dict] = []
            for g in parent_groups:
                if candidate_groups is not None and g["file"] not in candidate_groups:
                    pruned.append(g)
                    continue
                ents = self._load_group(g)
                survivors = [e for e in ents if e["file"] not in removed_files]
                if len(survivors) == len(ents):
                    pruned.append(g)
                elif survivors:
                    pruned.extend(
                        self._write_groups(
                            survivors,
                            run_id,
                            run_tag=None,
                            salt=os.path.basename(g["file"]),
                        )
                    )
            parent_groups = pruned

        new_groups = self._write_groups(new_entries, run_id, run_tag=run_id)
        if removed_files is not None:
            # merge composition: parent minus rewritten files, plus the
            # merged run — independent of table_type
            groups = parent_groups + new_groups
        elif self.table_type == TableType.SNAPSHOT_ONLY or parent is None:
            groups = new_groups
        elif self.table_type == TableType.APPEND_ONLY:
            groups = parent_groups + new_groups
        else:  # SNAPSHOT_APPEND: replace touched leaf partitions
            touched = {g["partition"] for g in new_groups}
            groups = [
                g for g in parent_groups if g["partition"] not in touched
            ] + new_groups

        self._commit(
            {
                "run_id": run_id,
                "format_version": 2,
                "table_type": self.table_type.value,
                "fmt": self.fmt,
                "partition_by": part_by,
                "parent": parent["run_id"] if parent else None,
                "groups": groups,
            },
            head,
        )
        # THIS run's published files (the full live set is reachable via
        # current_manifest(); re-reading every carried group here would
        # put an O(live files) read back on the commit path)
        return [os.path.join(self.path, e["file"]) for e in new_entries]

    def _write_groups(
        self,
        entries: list[dict],
        run_id: str,
        run_tag: str | None,
        salt: str = "",
    ) -> list[dict]:
        """Write one immutable group file per leaf partition under
        ``_manifests/groups/`` and return the list rows referencing
        them. Each row carries the partition value plus the UNION of its
        files' column stats (a column appears only if every file in the
        group recorded it), so readers prune whole groups — partitions
        first, then stat ranges — before fetching a single group file.
        Deterministic names (<run>-<sha1(partition)>) make same-run
        retries overwrite rather than accumulate."""
        import hashlib

        by_part: dict[str, list[dict]] = {}
        for e in entries:
            by_part.setdefault(e.get("partition", ""), []).append(e)
        gdir = os.path.join(self.path, "_manifests", "groups")
        os.makedirs(gdir, exist_ok=True)
        out: list[dict] = []
        for part, part_entries in sorted(by_part.items()):
            sha = hashlib.sha1(f"{part}|{salt}".encode()).hexdigest()[:12]
            tag = run_tag if run_tag is not None else f"carried-{run_id}"
            grel = os.path.join("_manifests", "groups", f"{tag}-{sha}.json")
            gtmp = os.path.join(self.path, grel + ".tmp")
            with open(gtmp, "w") as fh:
                json.dump({"entries": part_entries}, fh)
            os.replace(gtmp, os.path.join(self.path, grel))
            group: dict = {
                "file": grel,
                "partition": part,
                "run": run_tag,
                "n": len(part_entries),
                "rows": sum(e.get("rows", 0) for e in part_entries),
            }
            stats = _union_stats([e.get("stats") or {} for e in part_entries])
            if stats:
                group["stats"] = stats
            out.append(group)
        return out

    def read_committed(
        self,
        spark,
        as_of_run: str | None = None,
        filters: list[tuple] | None = None,
    ) -> DataFrame:
        """Read the committed snapshot through the manifest — the only
        correct read path in manifest mode (directory listings see
        uncommitted run dirs; the manifest never does). ``as_of_run``
        reads a historical committed snapshot (time travel) — data runs
        are immutable, so old manifests resolve to exactly the files
        that snapshot published.

        ``filters`` — simple predicates ``(col, op, value)`` with op in
        {=, <, <=, >, >=} — prune FILES against the per-file min/max
        stats the manifest captured at publish (and partition values for
        partition columns) BEFORE Spark ever lists them: at object-store
        scale the win is skipping the GETs entirely, not just row
        groups. The same predicates are then applied as real Spark
        filters, so results are exact whether or not a file could be
        pruned (stats are an optimization, never semantics).

        The frame scans the manifest's file list as committed: its
        partition columns are the manifest's ``partition_by`` (a sink
        constructed without them still reads them back), and building
        it starts no Spark job (see :meth:`_read_entries`)."""
        manifest = self.current_manifest(as_of_run, materialize=False)
        if manifest is None:
            raise FileNotFoundError(f"no committed manifest under {self.path}")
        part_by = manifest.get("partition_by") or []
        groups = manifest["groups"]
        if filters:
            # group rows carry partition value + unioned stats in the
            # SAME shape as file entries, so the predicate prunes
            # whole partitions before a single group file is fetched
            # — at object-store scale the commit log read is
            # O(groups matching), not O(live files)
            groups = [g for g in groups if _entry_matches(g, filters, part_by)]
        entries = [e for g in groups for e in self._load_group(g)]
        if filters:
            entries = [e for e in entries if _entry_matches(e, filters, part_by)]
        if not entries:
            # schema for the empty result comes from ONE representative
            # entry — never a recursive full read (which at object-store
            # scale would make a fully-pruned point query COST more than
            # an unpruned one, and on a genuinely empty snapshot would
            # recurse forever)
            sample = next(
                (e for g in manifest["groups"] for e in self._load_group(g)), None
            )
            if sample is None:
                # a merge can legitimately delete every row: the committed
                # snapshot holds zero files and therefore no schema
                raise FileNotFoundError(
                    f"snapshot under {self.path} is empty (zero data files) — "
                    "no schema available to build a typed empty frame"
                )
            empty = self._read_entries(spark, [sample], manifest).limit(0)
            return _apply_filters(empty, filters)
        return _apply_filters(self._read_entries(spark, entries, manifest), filters)

    def _read_entries(
        self, spark, entries: list[dict], manifest: dict
    ) -> DataFrame:
        """Scan exactly these entries of ``manifest``, through
        :func:`~incubator_gobblin_spark.sources.files.scan_files`: the
        schema comes from one footer and the files are statted on the
        driver, so building the frame starts no Spark job. Format and
        partition columns are the manifest's, not this sink's
        constructor arguments. Partition columns resolve against a
        per-run basePath (the run-id path segment is not a key=value
        dir); one scan per live run dir, unioned by name. Live-run
        count is bounded — compaction rewrites old runs into one.

        The one exception: an unpartitioned ``schema_evolution`` lake
        keeps ``mergeSchema`` inference, so its read starts a Spark
        job."""
        from incubator_gobblin_spark.formats.avro_ocf import resolve_format as _rf
        from incubator_gobblin_spark.sources.files import scan_files

        fmt = manifest.get("fmt", self.fmt)
        files = [os.path.join(self.path, e["file"]) for e in entries]
        if not manifest.get("partition_by"):
            if self.schema_evolution and fmt == "parquet":
                # footer-merge so an evolved (widened) run's new column
                # survives schema inference; absent files null-fill
                return (
                    spark.read.format(_rf(fmt))
                    .option("mergeSchema", "true")
                    .load(files)
                )
            return scan_files(spark, files, fmt)
        by_run: dict[str, list[str]] = {}
        data_root = os.path.join(self.path, "_data")
        for f_ in files:
            rid = os.path.relpath(f_, data_root).split(os.sep, 1)[0]
            by_run.setdefault(rid, []).append(f_)
        parts = [
            scan_files(spark, fs, fmt, base_path=os.path.join(data_root, rid))
            for rid, fs in sorted(by_run.items())
        ]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=self.schema_evolution)
        return df

    def pruned_file_count(
        self, filters: list[tuple], as_of_run: str | None = None
    ) -> tuple[int, int]:
        """(files kept, files total) for a predicate set — the file-
        skipping accounting an operator dashboard (or a test) reads.
        Group-pruned groups contribute their counted size without their
        group file ever being read."""
        manifest = self.current_manifest(as_of_run, materialize=False)
        if manifest is None:
            raise FileNotFoundError(f"no committed manifest under {self.path}")
        part_by = manifest.get("partition_by") or []
        total = sum(g["n"] for g in manifest["groups"])
        kept_n = 0
        for g in manifest["groups"]:
            if not _entry_matches(g, filters, part_by):
                continue
            kept_n += sum(
                1
                for e in self._load_group(g)
                if _entry_matches(e, filters, part_by)
            )
        return kept_n, total

    def rollback_to(self, target_run_id: str, run_id: str | None = None) -> str:
        """Restore a previous committed snapshot as a NEW commit — the
        compliance-restore / Delta-RESTORE shape (gobblin-compliance's
        restore job recovers a dataset version retained by the
        retention policy; here the retained versions ARE the manifest
        history). The new manifest re-references the target snapshot's
        group files verbatim — no data copied or rewritten (runs are
        immutable) — and commits through the same put-if-absent log
        entry as any write (:meth:`_commit`), so concurrent committers
        conflict instead of being silently erased. History stays
        LINEAR: the rollback's parent is the commit being rolled back,
        so the bad commits remain time-travelable until vacuum reclaims
        them, and the restore window is exactly vacuum retention (a
        vacuumed target raises with the missing files named). A
        ``run_id`` already in the history is a committed rollback:
        repeating it is a no-op."""
        head = self._read_pointer()
        if head.manifest is None:
            raise FileNotFoundError(f"nothing committed under {self.path}")
        rid = run_id or f"rollback-{new_run_id()}"
        if is_committed(self.path, rid):
            return rid
        target = self.current_manifest(target_run_id)
        missing = [
            e["file"]
            for e in target["entries"]
            if not os.path.exists(os.path.join(self.path, e["file"]))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {target_run_id}: {len(missing)} data "
                f"file(s) already vacuumed (e.g. {missing[0]}) — restores "
                "reach back at most vacuum retention"
            )
        self._commit(
            {
                "run_id": rid,
                "format_version": 2,
                "table_type": target.get("table_type", self.table_type.value),
                "fmt": target.get("fmt", self.fmt),
                "partition_by": target.get("partition_by", self.partition_by),
                "parent": head.manifest["run_id"],
                "groups": target["groups"],
            },
            head,
        )
        return rid

    def export_symlink_manifest(
        self, as_of_run: str | None = None, out_dir: str | None = None
    ) -> str:
        """Export the committed snapshot as a SymlinkTextInputFormat
        manifest — the publicly documented lake-interop convention
        (Hive's SymlinkTextInputFormat contract; Delta Lake's
        ``GENERATE symlink_format_manifest`` emits the same layout for
        Presto/Trino/Athena): plain-text file(s) listing the absolute
        data-file paths of the snapshot, under
        ``<lake>/_symlink_format_manifest/``. Any engine that can read
        a file list — Trino/Athena via the input format, or anything
        scriptable (DuckDB ``read_parquet([list])``) — then sees
        EXACTLY the committed files: never an uncommitted run dir,
        never a dead (merged-away) file, no knowledge of this engine's
        manifest JSON required.

        Partitioned lakes write one manifest per partition directory
        (``.../<k=v>/manifest`` — the Hive convention, so external
        partition registration maps 1:1). The export is a SNAPSHOT of
        ``as_of_run`` (default current); re-export after each commit.
        Returns the manifest root directory."""
        manifest = self.current_manifest(as_of_run)
        if manifest is None:
            raise FileNotFoundError(f"no committed manifest under {self.path}")
        entries = manifest["entries"]
        root = out_dir or os.path.join(self.path, "_symlink_format_manifest")
        by_part: dict[str, list[str]] = {}
        for e in entries:
            by_part.setdefault(e.get("partition") or "", []).append(
                os.path.abspath(os.path.join(self.path, e["file"]))
            )
        # Refresh IN PLACE with per-file atomic replaces, then prune
        # stale entries — never a whole-directory rmtree+rename swap: a
        # directory swap races concurrent exporters (every committer
        # re-exports after its own commit) into ENOTEMPTY
        # failures AFTER the data commit succeeded, and leaves external
        # readers a window with NO manifest at all. With per-file
        # replaces the root always exists and every manifest file a
        # reader opens is complete. Exporters SERIALIZE on a lock:
        # without it, exporter A's prune could
        # delete a partition manifest a concurrent exporter B just
        # wrote for a NEWER snapshot. Stale ``.manifest.tmp-*`` files
        # from crashed exporters are swept here too — under the lock no
        # live exporter's tmp can be in flight.
        import contextlib

        os.makedirs(root, exist_ok=True)
        # sibling lock file: the export root stays exactly the layout
        # external engines expect (no dot-files inside)
        lock_path = f"{root}.exportlock"
        with open(lock_path, "w") as lock_fh:
            with contextlib.suppress(ImportError):
                import fcntl

                fcntl.flock(lock_fh, fcntl.LOCK_EX)
            try:
                wanted: set[str] = set()
                items = sorted(by_part.items()) or [("", [])]
                for part, files in items:
                    d = os.path.join(root, part) if part else root
                    os.makedirs(d, exist_ok=True)
                    tmp_f = os.path.join(d, f".manifest.tmp-{os.getpid()}")
                    with open(tmp_f, "w") as fh:
                        fh.write(
                            "\n".join(sorted(files)) + ("\n" if files else "")
                        )
                    os.replace(tmp_f, os.path.join(d, "manifest"))
                    wanted.add(
                        os.path.relpath(os.path.join(d, "manifest"), root)
                    )
                for dirpath, _dirnames, filenames in os.walk(
                    root, topdown=False
                ):
                    for f_ in filenames:
                        full = os.path.join(dirpath, f_)
                        rel = os.path.relpath(full, root)
                        stale_manifest = f_ == "manifest" and rel not in wanted
                        crashed_tmp = f_.startswith(".manifest.tmp-")
                        if stale_manifest or crashed_tmp:
                            with contextlib.suppress(OSError):
                                os.remove(full)
                    if dirpath != root and not os.listdir(dirpath):
                        with contextlib.suppress(OSError):
                            os.rmdir(dirpath)
            finally:
                with contextlib.suppress(ImportError):
                    import fcntl

                    fcntl.flock(lock_fh, fcntl.LOCK_UN)
        return root

    def export_iceberg(
        self,
        as_of_run: str | None = None,
        mode: str = "auto",
        transform_spec: list[dict] | None = None,
    ) -> str:
        """Export the committed snapshot as Apache Iceberg table
        metadata (``metadata/`` with vN.metadata.json + Avro manifest
        list/manifests) — the GobblinMCEWriter analogue
        (gobblin-iceberg ``.../writer/GobblinMCEWriter.java:81``).
        ``mode="auto"`` appends incrementally after the first export;
        ``mode="full"`` forces a self-contained snapshot (metadata
        compaction). See
        :mod:`incubator_gobblin_spark.sinks.iceberg_export`."""
        from incubator_gobblin_spark.sinks.iceberg_export import (
            export_iceberg,
        )

        return export_iceberg(
            self, as_of_run, mode=mode, transform_spec=transform_spec
        )

    def export_delta_log(
        self,
        as_of_run: str | None = None,
        checkpoint_interval: int | None = None,
        checkpoint_part_size: int | None = None,
    ) -> str:
        """Export the committed snapshot as a Delta Lake transaction
        log (``_delta_log/``), one Delta version per call that changes
        the snapshot; ``checkpoint_interval`` also writes a parquet
        checkpoint every N versions. See
        :mod:`incubator_gobblin_spark.sinks.delta_export`."""
        from incubator_gobblin_spark.sinks.delta_export import export_delta_log

        return export_delta_log(
            self, as_of_run, checkpoint_interval, checkpoint_part_size
        )

    def expire_delta_log(self) -> int:
        """Delta log retention (the delta.logRetentionDuration cleanup,
        PROTOCOL.md checkpoint semantics): delete commit JSONs and
        checkpoints STRICTLY OLDER than the newest checkpoint — a
        reader trusting ``_last_checkpoint`` replays checkpoint + tail
        and never touches them. The checkpoint's own commit JSON is
        kept so the version list is never empty. Time travel to pruned
        versions raises the standard version-not-present error; that is
        the retention trade every Delta deployment makes. Returns the
        number of files removed. No-op (0) until a checkpoint exists —
        the full JSON chain is the only replay source before that."""
        from incubator_gobblin_spark.sinks.delta_export import _expire_delta_log_dir

        return _expire_delta_log_dir(os.path.join(self.path, "_delta_log"))

    def read_changes(
        self, spark, from_run: str, to_run: str | None = None
    ) -> DataFrame:
        """Change-data-feed between two committed snapshots: the
        row-level inserts and deletes that turn ``from_run``'s snapshot
        into ``to_run``'s (default: the current one), tagged with a
        ``_change_type`` column in {insert, delete}. An update surfaces
        as its delete+insert pair — the copy-on-write lake stores no
        row lineage, exactly like change-data-feed readers over
        rewrite-based table formats. Downstream incremental consumers
        (index maintenance, replication, cache invalidation) read the
        delta instead of re-scanning the snapshot.

        Scale shape: the manifest diff is pure driver-side metadata —
        files present in both snapshots are carried by reference across
        commits (append runs untouched by a merge, compaction aside),
        so they are never listed, read, or shuffled. Only the files
        the interval actually rewrote are scanned, and the
        ``exceptAll`` that cancels rewritten-but-identical survivor
        rows shuffles just those files' rows. A merge that touched 3
        files of a million-file lake costs a 6-file read, independent
        of table size. (``compact_runs`` rewrites every file by design;
        a CDF across a compaction boundary degrades to a full diff —
        consume changes before compacting, as with any rewrite-based
        CDF.)"""
        old_m = self.current_manifest(from_run)
        new_m = (
            self.current_manifest(to_run)
            if to_run is not None
            else self.current_manifest()
        )
        if new_m is None:
            raise FileNotFoundError(f"no committed manifest under {self.path}")
        # fast path: a single materialized commit serves its exact
        # change rows with ZERO diff computation (and none of the
        # rewritten-survivor reads the exceptAll path pays)
        if new_m.get("parent") == from_run:
            cpath = os.path.join(self.path, "_data", new_m["run_id"], "_changes")
            if os.path.isdir(cpath):
                return spark.read.parquet(cpath)
        old_files = {e["file"] for e in old_m["entries"]}
        new_files = {e["file"] for e in new_m["entries"]}
        added = [e for e in new_m["entries"] if e["file"] not in old_files]
        removed = [e for e in old_m["entries"] if e["file"] not in new_files]
        ct = "_change_type"
        if not added and not removed:
            return (
                self.read_committed(spark, as_of_run=from_run)
                .limit(0)
                .withColumn(ct, F.lit("").cast("string"))
            )
        added_df = self._read_entries(spark, added, new_m) if added else None
        removed_df = self._read_entries(spark, removed, old_m) if removed else None
        if added_df is not None and removed_df is not None:
            if self.schema_evolution and set(added_df.columns) != set(
                removed_df.columns
            ):
                # an evolved interval: null-fill each side to the union
                # schema so the diff compares rows the way readers see
                # them (old rows have null in the added column)
                for c, t in added_df.dtypes:
                    if c not in removed_df.columns:
                        removed_df = removed_df.withColumn(
                            c, F.lit(None).cast(t)
                        )
                for c, t in removed_df.dtypes:
                    if c not in added_df.columns:
                        added_df = added_df.withColumn(c, F.lit(None).cast(t))
            removed_df = removed_df.select(added_df.columns)
            inserts = added_df.exceptAll(removed_df)
            deletes = removed_df.exceptAll(added_df)
            return inserts.withColumn(ct, F.lit("insert")).unionByName(
                deletes.withColumn(ct, F.lit("delete"))
            )
        if added_df is not None:
            return added_df.withColumn(ct, F.lit("insert"))
        return removed_df.withColumn(ct, F.lit("delete"))

    def read_incremental(self, spark, state_store, table: str):
        """Watermark-driven incremental consumption of the lake — the
        reference's QueryBasedSource low/high-watermark loop
        (gobblin-core .../extractor/extract/QueryBasedSource.java) with
        the COMMIT as the watermark: the state store remembers the last
        consumed run id, this returns the row-level changes since it
        (via :meth:`read_changes`), and the caller advances the
        watermark AFTER its downstream publish succeeds. Returns
        ``(changes_df, commit)`` — calling ``commit()`` records the
        consumed-through run; crashing before it replays the SAME delta
        next time (at-least-once here, exactly-once end-to-end when the
        downstream write is idempotent, the same contract as every
        watermark source in the engine).

        First call (no watermark) returns the full snapshot as inserts.
        A watermark whose manifest was vacuumed raises — the consumer
        must re-baseline, silently diffing against a wrong base would
        fabricate deltas."""
        cur = self.current_manifest(materialize=False)
        if cur is None:
            raise FileNotFoundError(f"no committed manifest under {self.path}")
        to_run = cur["run_id"]
        st = state_store.get(table)
        from_run = st.high_watermark

        def commit() -> None:
            new_st = state_store.get(table)
            new_st.high_watermark = to_run
            new_st.last_run_id = to_run
            state_store.commit(table, new_st)

        if from_run is None:
            df = self.read_committed(spark).withColumn(
                "_change_type", F.lit("insert")
            )
            return df, commit
        if from_run == to_run:
            empty = (
                self.read_committed(spark)
                .limit(0)
                .withColumn("_change_type", F.lit("").cast("string"))
            )
            return empty, commit
        if not is_committed(self.path, from_run):
            raise ValueError(
                f"consumed-through run {from_run!r} is no longer in the "
                "manifest history (vacuumed?) — re-baseline the consumer"
            )
        return self.read_changes(spark, from_run, to_run), commit

    def merge_into(
        self,
        spark,
        source: DataFrame,
        on: list[str],
        run_id: str | None = None,
        op_col: str | None = None,
        delete_value: str = "delete",
        max_conflict_retries: int = 0,
        matched: str = "replace",
    ) -> str:
        """Copy-on-write MERGE (the CDC-apply the reference runs as a
        compaction delta-merge job, gobblin-compaction
        .../mapreduce/MRCompactor + delta dedup — here as a first-class
        lake commit): source rows matching a target row on ``on``
        REPLACE it, unmatched source rows INSERT, and (with ``op_col``)
        rows whose op equals ``delete_value`` DELETE their match.
        Source must be key-unique on ``on`` (pre-compact CDC streams
        with ``dedup.dedup_argmax`` first).

        ``matched="ignore"`` flips the matched clause to WHEN MATCHED
        THEN DO NOTHING: the first writer of a key wins and later
        arrivals of the same key are dropped — insert-if-absent, the
        MERGE mode incremental exact-dedup ingestion needs (a document
        whose fingerprint is already in the lake must NOT replace the
        kept copy). No target file is ever rewritten in this mode: the
        commit is a pure append of the genuinely-new keys, so it costs
        one candidate-files key scan plus an append — target rows never
        move. Incompatible with ``op_col`` (ignoring matches and
        deleting them contradict).

        Scale shape: only files that can contain a matching key are
        touched. Candidates are pruned driver-side against manifest
        min/max stats with the source's key range (no data read), then
        the exact touched set is found by a key semi-join over just the
        candidate files; every untouched file — and its manifest group —
        is carried into the new snapshot by reference. The commit writes
        one new run (survivor rows + upserts) and O(touched groups)
        metadata; a crash before the commit-log put leaves the parent
        snapshot current (same guarantee as every manifest commit, see
        :meth:`_commit`). A commit that lands after the merge read its
        snapshot takes the log entry this merge needs, which raises
        :class:`ManifestConflictError` (after ``max_conflict_retries``
        full recomputes).
        """
        if self.commit_mode != "manifest":
            raise ValueError("merge_into requires commit_mode='manifest'")
        if matched not in ("replace", "ignore"):
            raise ValueError(f"matched must be 'replace' or 'ignore', got {matched!r}")
        if matched == "ignore" and op_col is not None:
            raise ValueError(
                "matched='ignore' cannot combine with op_col deletes: "
                "ignoring a match and deleting it contradict"
            )
        rid = run_id or new_run_id()
        on = list(on)
        # Crashed-AFTER-commit retry: if this rid already put its log
        # entry, the merge is fully applied — replaying it must be an
        # idempotent NO-OP. Recomputing against the current snapshot
        # (which now contains rid itself) would mark only the files
        # holding source keys as touched and then republish rid from
        # that partial staging, deleting every untouched file of the
        # committed run (data loss). Crashed-BEFORE-commit retries fall
        # through: the head is still the parent, so the merge
        # recomputes against the same snapshot and converges.
        if is_committed(self.path, rid):
            self.abort(rid)  # drop any stale partial staging
            return rid
        upserts = source
        if op_col is not None:
            # null-safe: a NULL/absent op means upsert (CDC streams that
            # only stamp deletes); a bare != would evaluate to NULL and
            # silently DROP the row while its key still anti-joins the
            # target row away
            upserts = source.filter(
                (F.col(op_col) != delete_value) | F.col(op_col).isNull()
            ).drop(op_col)
        # The merge evaluates the source lineage several times
        # (emptiness probe, key bounds, touched-file semi-join, the
        # staged write — plus the CDF sidecar, plus every conflict
        # retry): persist the parent frame once so an expensive
        # upstream plan (a multi-join CDC extraction) is computed once,
        # not 4-6x (upserts is a cheap filter over it in op_col mode,
        # and IS it otherwise). Only manage a cache THIS call created —
        # unpersisting a caller-persisted frame would silently drop the
        # caller's cache out from under its own later reuse.
        lvl = source.storageLevel
        caller_cached = lvl.useMemory or lvl.useDisk
        if not caller_cached:
            source.persist()
        try:
            # Optimistic-concurrency loop: a ManifestConflictError from
            # the commit-log put means another commit landed during
            # our read-plan-write window. The merge result depends on
            # the snapshot it read, so the ONLY correct response is a
            # full recompute against the new snapshot — which this loop
            # does, bounded by max_conflict_retries (0 = surface the
            # conflict to the caller, the job-scheduler-owns-retries
            # posture).
            for attempt in range(max_conflict_retries + 1):
                try:
                    return self._merge_attempt(
                        spark, source, upserts, on, rid, matched=matched
                    )
                except ManifestConflictError:
                    if attempt == max_conflict_retries:
                        raise
            raise AssertionError("unreachable")
        finally:
            if not caller_cached:
                source.unpersist()

    def _bloom_refine_candidates(
        self, entries: list[dict], src_keys: DataFrame, on: list[str]
    ) -> list[dict]:
        """Drop candidate files whose bloom provably contains NONE of
        the source's key values — the point-lookup refinement range
        stats cannot give on hash-distributed keys (every file spans
        ~the whole range, so min/max keeps everything). Bounded: the
        key set is collected only when small (<=2000 distinct values);
        larger CDC batches skip refinement and fall back to the
        range-pruned superset. A file without a bloom is always kept —
        pruning is an optimization, never semantics."""
        import base64

        cap = 2000
        refinable = [
            c
            for c in on
            if any(c in (e.get("bloom") or {}).get("cols", {}) for e in entries)
        ]
        if not refinable:
            return entries
        pos_by_col: dict[str, dict[int, list[list[int]]]] = {}
        bits_seen = {e["bloom"]["bits"] for e in entries if e.get("bloom")}
        for c in refinable:
            vals = [r[0] for r in src_keys.select(c).distinct().limit(cap + 1).collect()]
            if len(vals) > cap or any(
                v is None or isinstance(v, bool) or not isinstance(v, (int, str))
                for v in vals
            ):
                continue
            pos_by_col[c] = {
                b: [_bloom_probe_positions(v, b) for v in vals] for b in bits_seen
            }
        if not pos_by_col:
            return entries
        kept = []
        for e in entries:
            b = e.get("bloom")
            keep = True
            if b:
                for c, by_bits in pos_by_col.items():
                    enc = b.get("cols", {}).get(c)
                    if enc is None:
                        continue
                    data = base64.b64decode(enc)
                    if not any(
                        all((data[p // 8] >> (p % 8)) & 1 for p in pos)
                        for pos in by_bits[b["bits"]]
                    ):
                        keep = False
                        break
            if keep:
                kept.append(e)
        return kept

    def _merge_attempt(
        self,
        spark,
        source: DataFrame,
        upserts: DataFrame,
        on: list[str],
        rid: str,
        matched: str = "replace",
    ) -> str:
        if source.isEmpty():
            # an empty CDC batch is a semantic no-op: without this guard
            # the empty key bounds would match EVERY candidate group
            # (O(live) metadata reads) and commit an empty run
            return rid
        ptr0 = self._read_pointer()
        manifest = ptr0.manifest
        if manifest is None:  # first commit: plain publish of upserts
            self.write_staging(upserts, rid)
            self._publish_manifest(rid, expected_ptr=ptr0)
            return rid

        src_keys = source.select(*on).distinct()
        # driver-side stats pruning: [min, max] per key column (a 1-row
        # collect) — a SUPERSET of files that can match; correctness
        # never depends on it
        bounds = src_keys.agg(
            *[F.min(k).alias(f"lo_{k}") for k in on],
            *[F.max(k).alias(f"hi_{k}") for k in on],
        ).collect()[0]
        filters = []
        for k in on:
            lo, hi = bounds[f"lo_{k}"], bounds[f"hi_{k}"]
            if lo is not None and hi is not None:
                filters.extend([(k, ">=", lo), (k, "<=", hi)])
        part_by = manifest.get("partition_by") or []
        cand_groups: set[str] = set()
        cand_entries = []
        for g in manifest["groups"]:
            if not _entry_matches(g, filters, part_by):
                continue
            cand_groups.add(g["file"])
            cand_entries.extend(
                e for e in self._load_group(g) if _entry_matches(e, filters, part_by)
            )
        cand_entries = self._bloom_refine_candidates(cand_entries, src_keys, on)

        if matched == "ignore":
            # insert-if-absent: drop source rows whose key exists in any
            # candidate file; target files are never rewritten, so the
            # commit is a pure append (removed_files empty) and existing
            # rows keep their files, stats, and blooms untouched
            inserts = upserts
            if cand_entries:
                existing = self._read_entries(spark, cand_entries, manifest).select(*on)
                inserts = upserts.join(existing, on=on, how="left_anti")
            target_cols = self._target_columns(spark, manifest)
            if not (self.schema_evolution or not target_cols):
                inserts = inserts.select(*target_cols)
            if inserts.isEmpty():
                return rid  # every key already present: semantic no-op
            self.write_staging(inserts, rid)
            if self.cdf_materialize:
                inserts.withColumn(
                    "_change_type", F.lit("insert")
                ).write.mode("overwrite").parquet(
                    os.path.join(self.staging_dir(rid), "_changes")
                )
            self._publish_manifest(
                rid,
                removed_files=set(),
                candidate_groups=set(),
                expected_ptr=ptr0,
            )
            return rid

        touched: set[str] = set()
        if cand_entries:
            tagged = self._read_entries(spark, cand_entries, manifest).withColumn(
                "__file", F.input_file_name()
            )
            # exact membership check over candidates only; the collect
            # is bounded by file COUNT (metadata scale, like the
            # manifest itself), never row count
            hits = (
                tagged.join(src_keys, on=on, how="left_semi")
                .select("__file")
                .distinct()
                .collect()
            )
            touched = {_uri_to_rel(r["__file"], self.path) for r in hits}
            # every touched URI must map back onto a known candidate
            # entry; a silent mismatch (symlinked/relative roots) would
            # keep old rows AND append upserts = duplicate keys
            known = {e["file"] for e in cand_entries}
            unmapped = touched - known
            if unmapped:
                raise RuntimeError(
                    "merge_into: input_file_name() URIs did not resolve "
                    f"to manifest entries: {sorted(unmapped)[:3]} — sink "
                    "path must be a real absolute path"
                )

        touched_entries = [e for e in cand_entries if e["file"] in touched]
        deletes_df = None
        if touched_entries:
            tdf = self._read_entries(spark, touched_entries, manifest)
            kept = tdf.join(src_keys, on=on, how="left_anti")
            if self.cdf_materialize:
                deletes_df = tdf.join(src_keys, on=on, how="left_semi")
            if self.schema_evolution:
                # column ADD: survivors null-fill the source's new
                # columns; only this run's files store them (readers
                # null-fill the carried runs — no rewrite)
                new_data = kept.unionByName(upserts, allowMissingColumns=True)
            else:
                new_data = kept.unionByName(upserts.select(*tdf.columns))
        else:
            # no file holds a matching key (pure inserts): still project
            # the source onto the TARGET schema — CDC sources routinely
            # carry extra columns (sequence numbers, op metadata), and
            # an unprojected insert would silently widen the table and
            # break the cross-run unionByName read
            target_cols = self._target_columns(spark, manifest)
            if self.schema_evolution or not target_cols:
                new_data = upserts  # widened reads null-fill either side
            else:
                new_data = upserts.select(*target_cols)
        self.write_staging(new_data, rid)
        if self.cdf_materialize:
            # exact row-level changes of THIS commit, written as a
            # "_"-prefixed sidecar dataset inside the staged run (it
            # moves with the run at publish and is invisible to data
            # readers/publish units): deletes = the matched old rows,
            # inserts = the upserts. No diff job ever recomputes this.
            ct = F.lit("delete")
            ins = new_data.join(src_keys, on=on, how="left_semi").withColumn(
                "_change_type", F.lit("insert")
            )
            changes = ins
            if deletes_df is not None:
                dels = deletes_df.withColumn("_change_type", ct)
                changes = ins.unionByName(
                    dels, allowMissingColumns=self.schema_evolution
                )
            changes.write.mode("overwrite").parquet(
                os.path.join(self.staging_dir(rid), "_changes")
            )
        self._publish_manifest(
            rid,
            removed_files=touched,
            candidate_groups=cand_groups,
            expected_ptr=ptr0,
        )
        return rid

    def _target_columns(self, spark, manifest: dict) -> list[str] | None:
        """Column names of the live table, from ONE live file's footer
        (metadata read, no data). None for an empty table."""
        for g in manifest["groups"]:
            ents = self._load_group(g)
            if ents:
                return self._read_entries(spark, ents[:1], manifest).columns
        return None

    def compact_runs(self, spark, run_id: str | None = None) -> str:
        """Rewrite the CURRENT snapshot as one fresh run and commit a
        manifest that references only it — the manifest-lake form of the
        compaction job (small files from many append runs collapse; read
        fan-out returns to one basePath). Old snapshots stay readable
        (their manifests and run dirs are untouched) until ``vacuum``.

        The rewrite reads layout-preserving (partition values must
        survive byte-for-byte — see sources.read_layout_preserving) and
        the commit is the normal put-if-absent log entry after the head
        the rewrite read (the merge path's discipline): a commit landing
        between the snapshot read and the publish takes that entry and
        makes compaction fail with ManifestConflictError
        instead of silently erasing that commit's rows with a rewrite
        of the older snapshot. A crash mid-compaction leaves the
        previous snapshot current."""
        import dataclasses

        rid = run_id or new_run_id()
        ptr0 = self._read_pointer()
        conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(conf, "true")
        spark.conf.set(conf, "false")
        try:
            df = self.read_committed(spark)
        finally:
            spark.conf.set(conf, prev)
        self.write_staging(df, rid)
        if self.cdf_materialize:
            # compaction rewrites every FILE but changes zero ROWS: an
            # empty _changes sidecar records exactly that, so the CDF
            # fast path and the lakecdf stream see a no-op instead of a
            # whole-table delete+insert storm from the file diff
            df.limit(0).withColumn(
                "_change_type", F.lit("").cast("string")
            ).write.mode("overwrite").parquet(
                os.path.join(self.staging_dir(rid), "_changes")
            )
        snap = dataclasses.replace(self, table_type=TableType.SNAPSHOT_ONLY)
        snap._publish_manifest(rid, expected_ptr=ptr0)
        return rid

    def vacuum(self, keep_last: int = 2, grace_seconds: int = 3600) -> dict:
        """Delete data runs and manifests no longer referenced by the
        newest ``keep_last`` committed snapshots. This is the ONLY
        destructive operation in manifest mode — everything else only
        adds immutable files — so retention of time travel is exactly
        ``keep_last`` snapshots deep. Commit-log entries below the
        oldest kept snapshot go too, after the ``_CURRENT`` hint is
        pointed at the head, so head resolution never needs them.
        Returns counts of what was removed.

        ``grace_seconds`` protects IN-FLIGHT committers (the Delta
        VACUUM retention-window idea): a run dir younger than the grace
        window may belong to a concurrent publish that has moved its
        staging into ``_data/`` but not yet put its log entry —
        deleting it would yank data out from under a commit about to
        succeed. Unreferenced-but-young runs (and their manifests) are
        skipped and collected by a later vacuum."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the current snapshot)")
        now = time.time()

        def _young(p: str) -> bool:
            try:
                return now - os.path.getmtime(p) < grace_seconds
            except OSError:
                return True  # vanished/unstattable: leave it alone
        history = self.manifest_history()
        keep_ids = set(history[:keep_last])
        kept = [self.current_manifest(rid) for rid in keep_ids]
        live_runs: set[str] = set()
        live_groups: set[str] = set()
        data_root = os.path.join(self.path, "_data")
        for m in kept:
            for g in m["groups"]:
                live_groups.add(os.path.basename(g["file"]))
            for e in m["entries"]:
                rel = os.path.relpath(
                    os.path.join(self.path, e["file"]), data_root
                )
                live_runs.add(rel.split(os.sep, 1)[0])
        removed_runs = 0
        if os.path.isdir(data_root):
            for rid in sorted(os.listdir(data_root)):
                p = os.path.join(data_root, rid)
                if rid not in live_runs and not _young(p):
                    _rm(p)
                    removed_runs += 1
        if kept:
            self._write_hint(manifest_rel(history[0]))
            oldest = min(m.get("seq", 0) for m in kept)
            for seq in log_seqs(self.path):
                if seq < oldest:
                    _rm(log_entry(self.path, seq))
        removed_manifests = 0
        mdir = os.path.join(self.path, "_manifests")
        if os.path.isdir(mdir):
            for mf in sorted(os.listdir(mdir)):
                if mf in ("groups", "log") or mf.startswith("."):
                    continue
                rid = mf[: -len(".json")] if mf.endswith(".json") else mf
                p = os.path.join(mdir, mf)
                if rid not in keep_ids and not _young(p):
                    _rm(p)
                    removed_manifests += 1
        removed_groups = 0
        gdir = os.path.join(mdir, "groups")
        if os.path.isdir(gdir):
            for gf in sorted(os.listdir(gdir)):
                p = os.path.join(gdir, gf)
                if gf not in live_groups and not _young(p):
                    _rm(p)
                    removed_groups += 1
        return {
            "runs_deleted": removed_runs,
            "manifests_deleted": removed_manifests,
            "groups_deleted": removed_groups,
        }

    def abort(self, run_id: str) -> None:
        """Drop staging output (failed task policies — data never
        published, the reference's cleanup-on-commit-failure)."""
        _rm(self.staging_dir(run_id))

    def write_errors(self, errors: DataFrame, run_id: str) -> str | None:
        """ERR_FILE side output (RowLevelErrFileWriter analogue): failing
        rows land under ``<path>/_errors/<run_id>`` without gating the
        main publish."""
        if errors is None:
            return None
        err_path = os.path.join(self.path, "_errors", run_id)
        errors.write.mode("overwrite").format(resolve_format(self.fmt)).save(err_path)
        return err_path


def _uri_to_rel(uri: str, root: str) -> str:
    """Map ``input_file_name()``'s URI back to a manifest-relative path
    (``file:/a/b%20c`` -> ``<rel under root>``). Both sides are realpath-
    normalized: a relative or symlinked sink path (/tmp -> /private/tmp)
    would otherwise never match manifest entries, silently emptying the
    touched set."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    path = unquote(p.path) if p.scheme else unquote(uri)
    return os.path.relpath(os.path.realpath(path), os.path.realpath(root))


def _union_stats(per_file: list[dict]) -> dict:
    """Group-level [min, max] per column = union of the member files'
    ranges. A column qualifies only if EVERY file recorded it — if one
    file has no range for the column, a group-level range would
    understate that file's data and wrongly prune the whole group."""
    if not per_file:
        return {}
    cols = set(per_file[0])
    for st in per_file[1:]:
        cols &= set(st)
    out = {}
    for c in cols:
        los = [st[c][0] for st in per_file]
        his = [st[c][1] for st in per_file]
        try:
            out[c] = [min(los), max(his)]
        except TypeError:  # mixed incomparable types: skip, never guess
            continue
    return out


def _file_stats(fpath: str) -> dict:
    """Per-file row count + min/max per scalar column from the parquet
    footer (no data read). Values are JSON-serializable: numbers and
    strings as-is, timestamps/dates as ISO strings (ISO ordering ==
    chronological ordering, so string comparison prunes correctly);
    columns with other types or absent stats are simply skipped — a
    missing stat can only cost a read, never correctness."""
    try:
        import datetime

        import pyarrow.parquet as pq

        md = pq.ParquetFile(fpath).metadata
        mins: dict = {}
        maxs: dict = {}
        nulls: dict = {}
        null_poisoned: set = set()
        # a column's file-level range is trustworthy only if EVERY row
        # group that may hold non-null values contributed min/max; a
        # group with values but no stats (stats disabled, or strings
        # past the writer's statistics-size cap) would understate the
        # range and make _entry_matches wrongly prune a matching file
        poisoned: set = set()
        for rg_i in range(md.num_row_groups):
            rg = md.row_group(rg_i)
            for c_i in range(rg.num_columns):
                col = rg.column(c_i)
                name = col.path_in_schema
                if "." in name:  # nested: skip
                    continue
                st = col.statistics
                # null counts are a separate (weaker) channel: a column
                # qualifies only if EVERY row group reports one
                if st is not None and st.has_null_count:
                    nulls[name] = nulls.get(name, 0) + int(st.null_count)
                else:
                    null_poisoned.add(name)
                if st is None or not st.has_min_max:
                    provably_all_null = (
                        st is not None
                        and st.has_null_count
                        and st.null_count == rg.num_rows
                    )
                    if rg.num_rows > 0 and not provably_all_null:
                        poisoned.add(name)
                    continue
                lo, hi = st.min, st.max
                if isinstance(lo, datetime.datetime):
                    lo, hi = lo.isoformat(sep=" "), hi.isoformat(sep=" ")
                elif isinstance(lo, datetime.date):
                    # date.isoformat() takes no sep argument — the old
                    # shared branch raised TypeError here and the
                    # best-effort except silently dropped the WHOLE
                    # file's stats for any date-bearing table
                    lo, hi = lo.isoformat(), hi.isoformat()
                if isinstance(lo, bytes):
                    try:
                        lo, hi = lo.decode(), hi.decode()
                    except UnicodeDecodeError:
                        poisoned.add(name)
                        continue
                if not isinstance(lo, (int, float, str, bool)):
                    poisoned.add(name)
                    continue
                mins[name] = lo if name not in mins else min(mins[name], lo)
                maxs[name] = hi if name not in maxs else max(maxs[name], hi)
        out = {
            "rows": md.num_rows,
            "stats": {c: [mins[c], maxs[c]] for c in mins if c not in poisoned},
        }
        nn = {c: n for c, n in nulls.items() if c not in null_poisoned}
        if nn:
            out["nulls"] = nn
        return out
    except Exception:  # stats are best-effort; absence never breaks reads
        return {}


def _bloom_pack(words: dict[int, int], bits: int) -> bytes:
    """Pack sparse 64-bit OR-words into a bits/8-byte little-endian
    array: word w's bit i is absolute position w*64+i, i.e. byte
    w*8 + i//8, bit i%8 — matching _bloom_maybe_contains' probe."""
    buf = bytearray(bits // 8)
    for w, word in words.items():
        word &= 0xFFFFFFFFFFFFFFFF  # JVM longs are signed
        buf[w * 8 : w * 8 + 8] = word.to_bytes(8, "little")
    return bytes(buf)


def _bloom_probe_positions(val, bits: int) -> list[int]:
    """The 4 bit positions of a value: md5 of its canonical string
    (str(int) == Spark's CAST(x AS STRING); strings verbatim), split
    into four 32-bit slices mod bits — the exact expression
    _write_bloom_sidecar builds JVM-side."""
    import hashlib

    h = hashlib.md5(str(val).encode()).hexdigest()
    return [int(h[8 * j : 8 * j + 8], 16) % bits for j in range(4)]


def _bloom_maybe_contains(bits: int, b64: str, val) -> bool:
    import base64

    data = base64.b64decode(b64)
    for pos in _bloom_probe_positions(val, bits):
        if not (data[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


_OPS = {
    "=": lambda lo, hi, v: lo <= v <= hi,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
}


def _entry_matches(entry: dict, filters: list[tuple], partition_by: list[str]) -> bool:
    """Can this file possibly contain a row satisfying ALL predicates?
    Unknown/incomparable -> True (never prune on doubt)."""
    part_vals: dict[str, str] = {}
    for seg in (entry.get("partition") or "").split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            part_vals[k] = v
    stats = entry.get("stats") or {}
    for col, op, val in filters:
        if op not in _OPS:
            continue
        if col in part_vals:
            # partition value: a point range [pv, pv]. Compare in the
            # FILTER value's domain (numeric if numeric — "08" == 8 must
            # not prune); non-equality ops only when numeric (dir-name
            # lexicographic order is not Spark's typed order).
            pv_raw = part_vals[col]
            if isinstance(val, (int, float)) and not isinstance(val, bool):
                try:
                    pv = float(pv_raw)
                except ValueError:
                    continue
                if not _OPS[op](pv, pv, float(val)):
                    return False
            elif isinstance(val, str) and op == "=":
                if pv_raw != val:
                    return False
            continue
        bloom = entry.get("bloom")
        if (
            op == "="
            and bloom
            and col in bloom.get("cols", {})
            and isinstance(val, (int, str))
            and not isinstance(val, bool)
        ):
            if not _bloom_maybe_contains(bloom["bits"], bloom["cols"][col], val):
                return False
        if col not in stats:
            continue
        lo, hi = stats[col]
        if lo is None or hi is None:
            continue
        num_stat = isinstance(lo, (int, float)) and not isinstance(lo, bool)
        num_val = isinstance(val, (int, float)) and not isinstance(val, bool)
        if num_stat != num_val:
            continue  # incomparable types: keep the file
        try:
            if not _OPS[op](lo, hi, val):
                return False
        except TypeError:
            continue
    return True


def _apply_filters(df: DataFrame, filters: list[tuple] | None) -> DataFrame:
    """Predicates as real Spark filters (pruning is optimization-only)."""
    if not filters:
        return df
    spark_ops = {
        "=": lambda c, v: c == v,
        "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
        ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
    }
    for col, op, val in filters:
        df = df.filter(spark_ops[op](F.col(col), F.lit(val)))
    return df


def _leaf_outputs(root: str, depth: int) -> list[str]:
    """Publish units of a staged write. For a partitioned write the unit
    is a LEAF partition dir — exactly ``depth == len(partition_by)``
    levels below the staging root — never an intermediate level: moving
    or replacing at an intermediate level (e.g. ``year=`` when the
    layout is year/month/day) would silently delete sibling partitions
    that this run never touched. For an unpartitioned write (depth 0)
    the units are the data files at the top level."""
    if depth == 0:
        # "_"-prefixed entries are committer metadata (_SUCCESS) or
        # sidecar datasets (_changes) — never publish units
        return [
            os.path.join(root, e)
            for e in os.listdir(root)
            if not e.startswith(("_", "."))
        ]
    dirs = [root]
    for _ in range(depth):
        nxt = []
        for d in dirs:
            for e in os.listdir(d):
                p = os.path.join(d, e)
                if not e.startswith("_") and os.path.isdir(p):
                    nxt.append(p)
        dirs = nxt
    return dirs


def _rm(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.unlink(path)


def _prune_empty(path: str) -> None:
    try:
        if os.path.isdir(path) and not os.listdir(path):
            os.rmdir(path)
    except OSError:  # pragma: no cover
        pass


def new_run_id() -> str:
    return f"{int(time.time())}-{uuid.uuid4().hex[:8]}"


def schema_partition_column(
    df: DataFrame, out: str = "schema_name", name: str | None = None
) -> tuple[str, Column]:
    """SchemaBasedWriterPartitioner (gobblin-core
    .../writer/partitioner/SchemaBasedWriterPartitioner.java:31):
    partition output by the record schema's identity, so heterogeneous
    streams demux into per-schema directories. A DataFrame has ONE
    schema, so the value is a plan literal: ``name`` if given (the avro
    record name case) else a stable 8-hex fingerprint of the schema
    shape — two writers with the same schema land in the same dir,
    any shape change lands in a new one."""
    import hashlib

    value = name or hashlib.sha256(
        df.schema.simpleString().encode()
    ).hexdigest()[:8]
    return out, F.lit(value)


def time_partition_tree(
    ts_col: str | Column, granularity: str = "day"
) -> list[tuple[str, Column]]:
    """Multi-level time partition columns (year/month/day[/hour]) giving
    the reference's yyyy/MM/dd[/HH] directory tree as hive-style
    partition levels — partition-prunable by Catalyst."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    levels = [
        ("year", F.date_format(c, "yyyy")),
        ("month", F.date_format(c, "MM")),
        ("day", F.date_format(c, "dd")),
    ]
    if granularity == "hour":
        levels.append(("hour", F.date_format(c, "HH")))
    return levels


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    fmt: str = "parquet",
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table: the co-located-join strategy.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT any exchange — each task zips bucket i with bucket i. At
    100 TB the fact<->fact shuffle is the dominant cost of repeated
    joins; paying one bucketed write amortizes it across every
    downstream join/aggregation on that key (the reference has no
    analogue — its MR dedup re-shuffles per job). ``sort_cols``
    additionally makes each bucket sort-merge-ready without a sort step.
    """
    writer = df.write.format(resolve_format(fmt)).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.mode(mode).saveAsTable(table)


def orc_tuned_options(
    df: DataFrame,
    sample_rows: int = 1024,
    stripe_mb: int = 64,
    compression: str = "zlib",
) -> dict[str, str]:
    """Self-tuning ORC writer options (GobblinBaseOrcWriter semantics,
    gobblin-modules/gobblin-orc/.../writer/GobblinBaseOrcWriter.java:53:
    the reference observes average record size and re-sizes its
    VectorizedRowBatch so a batch never overshoots memory).

    Spark's ORC writer batches internally, so the tunable surface is the
    stripe geometry: estimate the average encoded row width from a
    bounded sample (``limit(sample_rows)`` — never a full scan), then
    size ``orc.stripe.size`` and the memory-check cadence
    (``orc.rows.between.memory.checks``) so one stripe holds roughly
    ``stripe_mb`` of rows and the writer checks memory ~16x per stripe.
    Wide rows => fewer rows per check (bounded memory); narrow rows =>
    sparse checks (less overhead). Pass the result as
    ``FileSink(options=...)``."""
    sample = df.limit(sample_rows).select(
        F.avg(F.length(F.to_json(F.struct(*df.columns)))).alias("w")
    ).collect()
    avg_width = int(sample[0]["w"] or 256)  # empty input: sane default
    stripe_bytes = stripe_mb * 1024 * 1024
    rows_per_stripe = max(1024, stripe_bytes // max(1, avg_width))
    return {
        "orc.stripe.size": str(stripe_bytes),
        "orc.compress": compression.upper(),
        "orc.rows.between.memory.checks": str(max(1, rows_per_stripe // 16)),
    }
