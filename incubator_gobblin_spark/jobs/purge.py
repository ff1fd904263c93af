"""GDPR purge job: broadcast anti-join + partition-preserving rewrite.

Reference: gobblin-compliance's HivePurgerQueryTemplate
(.../purger/HivePurgerQueryTemplate.java:82-89) rewrites each Hive
partition as ``SELECT a.* FROM part a LEFT JOIN /*+MAPJOIN(b)*/ ids b ON
key WHERE b.key IS NULL`` — i.e. per-partition broadcast anti-join, then
swaps the partition in.

Spark-first: one job over all affected partitions — the anti-join is
broadcast (fact side never shuffles), the rewrite preserves the
partition layout, and publish is the staged atomic rename
(SNAPSHOT_APPEND = dynamic partition overwrite: only partitions
containing purged rows are rewritten). At 100 TB the win over the
reference is doing every partition in one scan instead of one Hive
query per partition.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.formats.avro_ocf import resolve_format

from incubator_gobblin_spark.operators.joins import purge_anti_join
from incubator_gobblin_spark.sinks.files import FileSink, TableType, new_run_id
from incubator_gobblin_spark.sources.files import read_layout_preserving
from incubator_gobblin_spark.sources.iceberg_import import _metadata_versions


@dataclass
class PurgeResult:
    run_id: str
    rows_before: int
    rows_after: int
    rows_purged: int
    published_paths: list[str]


def purge(
    spark: SparkSession,
    data_path: str,
    ids: DataFrame,
    on: Sequence[str] | str,
    partition_by: Sequence[str] = (),
    fmt: str = "parquet",
    only_affected_partitions: bool = True,
) -> PurgeResult:
    """Remove all rows whose key appears in ``ids``; rewrite in place.

    ``only_affected_partitions``: restrict the rewrite to partitions that
    actually contain purgeable rows (semi-join on the partition values —
    a partition-pruning pre-pass), so an id set touching 1% of
    partitions rewrites 1% of the data.
    """
    # layout-preserving read: the rewrite must reproduce partition
    # values byte-for-byte (day=08 inferred as int 8 would publish a
    # duplicate day=8 dir next to the original)
    df = read_layout_preserving(spark, data_path, fmt)
    on_cols = [on] if isinstance(on, str) else list(on)

    if only_affected_partitions and partition_by:
        affected = (
            df.join(F.broadcast(ids), on=on_cols, how="left_semi")
            .select(*partition_by)
            .distinct()
        )
        df = df.join(F.broadcast(affected), on=list(partition_by), how="left_semi")

    rows_before = df.count()
    kept = purge_anti_join(df, ids, on=on_cols)

    sink = FileSink(
        path=data_path,
        fmt=fmt,
        table_type=TableType.SNAPSHOT_APPEND if partition_by else TableType.SNAPSHOT_ONLY,
        partition_by=list(partition_by),
    )
    run_id = new_run_id()
    sink.write_staging(kept, run_id)
    rows_after = spark.read.format(resolve_format(fmt)).load(sink.staging_dir(run_id)).count()
    published = sink.publish(run_id)
    return PurgeResult(
        run_id=run_id,
        rows_before=rows_before,
        rows_after=rows_after,
        rows_purged=rows_before - rows_after,
        published_paths=published,
    )


@dataclass
class PurgeLakeResult:
    table_format: str  # "delta" | "iceberg"
    version: int
    rows_purged: int
    delete_files: int
    files_removed: int


def purge_lake(
    spark: SparkSession,
    table_path: str,
    ids: DataFrame,
    on: Sequence[str] | str,
) -> PurgeLakeResult:
    """GDPR purge on a LAKE table — committed as row-level delete
    metadata (Delta deletion vectors / Iceberg position-delete files),
    never a data-file rewrite.

    The reference purges per Hive partition with INSERT OVERWRITE
    (gobblin-compliance HivePurgerQueryTemplate.java:82-89 — a
    MAPJOIN anti-join that rewrites the whole partition to drop a few
    rows); on a lake table this engine commits tombstones instead:
    the same broadcast-id matching, but the write is O(matched rows)
    of bitmap/coordinate bytes and one metadata commit, not O(touched
    partitions) of data. At 100 TB, purging one user's rows costs
    kilobytes of metadata instead of re-writing terabytes.

    Detects the table format from the path: a ``_delta_log`` dir means
    Delta (``sinks.delta_delete.delete_delta_rows``), a ``metadata``
    dir with ``v*.metadata.json`` means Iceberg
    (``sinks.iceberg_delete.delete_iceberg_rows``). Plain
    (non-lake-exported) datasets keep using :func:`purge` — the
    partition-preserving rewrite. ``verify_purge_lake`` re-reads the
    committed table through the lake read path for the separate
    compliance-validation pass.
    """
    import os

    on_cols = [on] if isinstance(on, str) else list(on)
    if os.path.isdir(os.path.join(table_path, "_delta_log")):
        from incubator_gobblin_spark.sinks.delta_delete import (
            delete_delta_rows,
        )

        r = delete_delta_rows(spark, table_path, ids=ids, on=on_cols)
        return PurgeLakeResult(
            table_format="delta",
            version=r["version"],
            rows_purged=r["rows_deleted"],
            delete_files=r["dv_files"],
            files_removed=r["files_removed"],
        )
    meta_dir = os.path.join(table_path, "metadata")
    if os.path.isdir(meta_dir) and _metadata_versions(meta_dir):
        from incubator_gobblin_spark.sinks.iceberg_delete import (
            delete_iceberg_rows,
        )

        r = delete_iceberg_rows(spark, table_path, ids=ids, on=on_cols)
        return PurgeLakeResult(
            table_format="iceberg",
            version=r["version"],
            rows_purged=r["rows_deleted"],
            delete_files=r["delete_files"],
            files_removed=0,
        )
    raise ValueError(
        f"purge_lake: {table_path} carries neither a Delta log nor "
        "Iceberg metadata — use purge() for plain datasets"
    )


def verify_purge_lake(
    spark: SparkSession,
    table_path: str,
    ids: DataFrame,
    on: Sequence[str] | str,
) -> int:
    """Compliance validation for :func:`purge_lake` — re-read the LAKE
    table (tombstones applied) and count rows still matching the id
    set; must be 0. Separate from the purge itself, like
    gobblin-compliance's validation job."""
    import os

    key = [on] if isinstance(on, str) else list(on)
    if os.path.isdir(os.path.join(table_path, "_delta_log")):
        from incubator_gobblin_spark.sources.delta_import import read_delta

        df = read_delta(spark, table_path)
    else:
        from incubator_gobblin_spark.sources.iceberg_import import (
            read_iceberg,
        )

        df = read_iceberg(spark, table_path)
    return df.join(F.broadcast(ids), on=key, how="left_semi").count()


def verify_purge(
    spark: SparkSession,
    data_path: str,
    ids: DataFrame,
    on: Sequence[str] | str,
    fmt: str = "parquet",
) -> int:
    """Post-purge validation pass — the compliance-validation job shape
    (gobblin-compliance runs validation SEPARATELY from the purger, so
    the check never trusts the purging job's own bookkeeping): re-scan
    the published dataset and count rows still matching the purge-id
    set. MUST return 0 after a successful purge; a nonzero count names
    surviving keys for the audit trail.

    Scale shape: one broadcast semi-join over the dataset — the id set
    is the small side by definition, the fact side never shuffles."""
    df = spark.read.format(resolve_format(fmt)).load(data_path)
    key = [on] if isinstance(on, str) else list(on)
    return df.join(F.broadcast(ids), on=key, how="left_semi").count()
