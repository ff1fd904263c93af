"""Hive/catalog materialization: CTAS flatten + table/partition registration.

Reference surface:
- HiveAvroORCQueryGenerator emits the DDL + ``INSERT OVERWRITE TABLE ...
  SELECT <flattened projection>`` that converts nested Avro lake data to
  flat ORC Hive tables
  (gobblin-data-management/.../conversion/hive/query/HiveAvroORCQueryGenerator.java).
- HiveRegister / HiveRegistrationPublisher register published paths as
  tables/partitions (gobblin-hive-registration/.../hive/HiveRegister.java:61,
  createTableIfNotExists:181;
  gobblin-core/.../publisher/HiveRegistrationPublisher.java).

Spark-first: the conversion is ``CREATE TABLE ... USING <fmt> AS
SELECT`` against the session catalog — Catalyst plans the flattening
projection, the write is the ordinary distributed file write; no
generated HiveQL strings to escape. Registration of already-published
paths is the catalog API (external table + MSCK REPAIR), same split
as the reference: data movement vs metadata-only registration.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from incubator_gobblin_spark.formats.avro_ocf import resolve_format

from incubator_gobblin_spark.operators.converters import flatten_all


def materialize(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    fmt: str = "orc",
    partition_by: Sequence[str] = (),
    flatten: bool = True,
    overwrite: bool = True,
) -> None:
    """CTAS the DataFrame into a catalog-managed table, flattening nested
    structs first (ORC-for-Hive consumers in the reference's era were
    flat-schema; flatten_all is the AvroFlattener analogue).

    Partitioned output uses ``partitionBy`` so the catalog records the
    partition columns — downstream readers get partition pruning."""
    out = flatten_all(df) if flatten else df
    writer = out.write.format(resolve_format(fmt))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.mode("overwrite" if overwrite else "errorifexists").saveAsTable(table)


@dataclass
class ConversionResult:
    """Audit trail of the conversion (the QueryBasedHivePublishEntity
    analogue — HiveAvroORCQueryGenerator.serializePublishCommands:1124):
    every DDL/DML the flow executed, in order."""

    table: str
    staging_table: str | None  # None = first run, direct CTAS
    statements: list[str]
    rows: int


def convert_to_orc(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    orc_compress: str = "ZLIB",
    flatten: bool = True,
    run_id: str | None = None,
) -> ConversionResult:
    """The Avro→ORC materialization flow
    (HiveAvroORCQueryGenerator.java): nested lake data → flat ORC Hive
    table, published atomically through a staging table.

    Mirrors the reference's statement sequence:
    1. staging CTAS stored as ORC with compression table property
       (generateCreateTableDDL:124 — here Catalyst plans the flatten
       projection instead of generated HiveQL column mappings,
       generateAvroToHiveColumnMapping:382);
    2. destination schema evolution — new staging columns are ADDed to
       the existing destination so old consumers keep working
       (generateEvolutionDDL:876);
    3. publish = INSERT OVERWRITE by NAME with dynamic partition
       overwrite — only partitions present in this run are swapped,
       untouched partitions survive (generateDropPartitionsDDL:962 +
       partition re-create:319); the FIRST run is a plain CTAS into the
       destination (the table appears only after the distributed write
       commits — same atomicity, no swap needed);
    4. drop staging (generateDropTableDDL:371).

    Scale: the only data movement is the one distributed ORC write; the
    publish is a per-partition metadata swap planned by the
    dynamic-overwrite committer."""
    import uuid as _uuid

    run_id = run_id or _uuid.uuid4().hex[:8]
    staging = f"{table}_staging_{run_id}"
    stmts: list[str] = []

    out = flatten_all(source) if flatten else source

    def _write(target: str) -> None:
        writer = out.write.format("orc").option("compression", orc_compress.lower())
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.saveAsTable(target)

    if not spark.catalog.tableExists(table):
        _write(table)
        stmts.append(f"CREATE TABLE {table} USING ORC AS SELECT ... [distributed write]")
        return ConversionResult(table, None, stmts, spark.table(table).count())

    _write(staging)
    stmts.append(f"CREATE TABLE {staging} USING ORC AS SELECT ... [distributed write]")
    rows = spark.table(staging).count()

    # schema evolution: add staging-only columns to the destination
    dest_cols = {f.name.lower() for f in spark.table(table).schema.fields}
    new_fields = [
        f for f in spark.table(staging).schema.fields if f.name.lower() not in dest_cols
    ]
    if new_fields:
        cols_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in new_fields
        )
        evo = f"ALTER TABLE {table} ADD COLUMNS ({cols_ddl})"
        spark.sql(evo)
        stmts.append(evo)

    # publish: partition swap for partitioned tables (only partitions in
    # this run are replaced), full overwrite otherwise. insertInto is
    # POSITIONAL — project the staging rows into destination column
    # order, null-filling destination columns this run didn't produce.
    staging_cols = {f.name.lower() for f in spark.table(staging).schema.fields}
    sel = [
        F.col(f.name) if f.name.lower() in staging_cols
        else F.lit(None).cast(f.dataType).alias(f.name)
        for f in spark.table(table).schema.fields
    ]
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        spark.table(staging).select(*sel).write.mode("overwrite").insertInto(table)
        stmts.append(
            f"INSERT OVERWRITE TABLE {table} "
            f"{'PARTITION (dynamic) ' if partition_by else ''}SELECT ... FROM {staging}"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    drop = f"DROP TABLE {staging}"
    spark.sql(drop)
    stmts.append(drop)
    return ConversionResult(table, staging, stmts, rows)


def register_external_table(
    spark: SparkSession,
    table: str,
    path: str,
    fmt: str = "parquet",
) -> None:
    """Register an already-published path as an external table
    (HiveRegister.createTableIfNotExists:181 — metadata only, no scan)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} USING {fmt} LOCATION '{path}'"
    )


def repair_partitions(spark: SparkSession, table: str) -> None:
    """MSCK REPAIR: discover hive-layout partition directories under the
    table location (bulk HiveRegistrationPublisher for backfills)."""
    spark.sql(f"MSCK REPAIR TABLE {table}")


def hive_source_partitions(
    spark: SparkSession,
    table: str,
    partition_col: str,
    lookback_days: int,
    as_of: "str | None" = None,
) -> tuple[list[str], DataFrame]:
    """HiveSource WorkUnit planning (gobblin-data-management
    .../conversion/hive/source/HiveSource.java:106, lookback :110,:425):
    of a catalog table's partitions, select only those newer than the
    lookback window and return (selected partition values, a DataFrame
    pruned to exactly those partitions).

    The reference walks the metastore and creates one WorkUnit per
    partition whose create time is inside ``lookbackDays``; here the
    partition VALUE is the time source (the reference's
    partition-name-datetime mode) and the pruned DataFrame carries a
    catalog partition filter, so the scan plans only the selected
    partitions (partition pruning — no data outside the window is
    listed, let alone read). ``as_of`` (ISO date, default today) exists
    for deterministic tests."""
    rows = spark.sql(f"SHOW PARTITIONS {table}").collect()
    values: list[str] = []
    for r in rows:
        for piece in r[0].split("/"):
            k, _, v = piece.partition("=")
            if k == partition_col:
                values.append(v)
    as_of_expr = (
        F.to_date(F.lit(as_of)) if as_of is not None else F.current_date()
    )
    cutoff_df = spark.range(1).select(
        F.date_sub(as_of_expr, lookback_days).cast("string").alias("c")
    )
    cutoff = cutoff_df.collect()[0]["c"]
    selected = sorted(v for v in values if v >= cutoff)
    pruned = spark.table(table).filter(
        F.col(partition_col).cast("string").isin(selected)
        if selected
        else F.lit(False)
    )
    return selected, pruned
