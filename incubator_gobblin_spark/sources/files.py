"""File-based sources.

Reference surface: FileBasedSource/FileBasedExtractor list files and
iterate records (gobblin-core .../source/extractor/filebased/
FileBasedSource.java:58, FileBasedExtractor.java:52); format variants
(TextFileBasedSource.java:34, CsvFileDownloader, GZIPFileDownloader,
SimpleJsonExtractor); DatePartitionedAvroFileExtractor scans date-layout
directories between date watermarks
(.../source/extractor/DatePartitionedAvroFileExtractor.java:28).

Spark-first: file listing, split planning, codec handling, and schema
conversion are all Spark built-ins; WorkUnits are Spark's own input
splits. What the engine adds is (a) nanosecond-timestamp tolerance for
parquet written by pandas/arrow, (b) date-partition-layout pruning
helpers that turn a watermark interval into partition-path filters,
(c) reads of a known file list (a single file, or the files a lake's
manifest, Delta log or Iceberg metadata committed) that start no Spark
job while the DataFrame is built: the parquet schema is converted from
one footer on the driver instead of by a schema-inference job, and the
listed files are statted on the driver instead of by Spark's parallel
listing job (:func:`scan_files`).
"""

from __future__ import annotations

import json
import os
import threading

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"
_VARIANT_CONF = "spark.sql.parquet.ignoreVariantAnnotation"
_LISTING_CONF = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# serializes scan_files' listing-threshold window: two overlapping
# windows would restore each other's raised value as the session's
_LISTING_LOCK = threading.Lock()

# Fan-out is pointless for dimension-sized tables: the repartition
# shuffle stage would cost more than single-task processing saves.
_FAN_OUT_MIN_ROWS = 1000

# Fan out only WIDE rows (document text, embedding vectors — payloads
# whose downstream per-row compute dwarfs one extra shuffle). Narrow
# rows are relational columns feeding codegen'd aggs/joins: there the
# scan is already the cheap part and a full-table round-robin shuffle
# costs more than single-task scanning saves, at every scale.
_FAN_OUT_MIN_ROW_BYTES = 128


def _parquet_footer(path: str):
    """(nanos-timestamp columns, total rows, total row groups, avg row
    bytes) from parquet footers only — no data read, driver-side,
    O(files)."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        dataset = ds.dataset(path, format="parquet")
        ns_cols = [
            f.name
            for f in dataset.schema
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
        ]
        rows = 0
        row_groups = 0
        total_bytes = 0
        for frag in dataset.get_fragments():
            md = frag.metadata
            rows += md.num_rows
            row_groups += md.num_row_groups
            total_bytes += sum(
                md.row_group(i).total_byte_size for i in range(md.num_row_groups)
            )
        avg_row_bytes = (total_bytes / rows) if rows else 0.0
        return ns_cols, rows, row_groups, avg_row_bytes
    except Exception:  # pragma: no cover - pyarrow always present in-container
        return [], None, None, None


def _footer_schema(spark: SparkSession, file: str) -> StructType | None:
    """The schema Spark's parquet inference gives ``file``, read from
    its footer on the driver: the same ``readSchemaFromFooter`` and
    ``ParquetToSparkSchemaConverter`` inference runs, minus the Spark
    job it launches to run them. Call inside the caller's conf window:
    the converter reads the session conf as inference does. Inference
    leaves three settings at their defaults: case sensitivity and field
    ids only act when converting against a read schema, and a session
    that ignores variant annotations goes back to inference. None when
    the footer cannot be read this way."""
    if spark.conf.get(_VARIANT_CONF, "false").lower() == "true":
        return None
    # one py4j round-trip per class: an attribute walk down the package
    # path would send one per segment
    def cls(name: str):
        return getattr(spark._jvm, name)

    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    try:
        state = spark._jsparkSession.sessionState()
        jpath = cls("org.apache.hadoop.fs.Path")(file)
        meta = cls(parquet + "ParquetFooterReader").readFooter(
            cls("org.apache.parquet.hadoop.util.HadoopInputFile").fromPath(
                jpath, state.newHadoopConf()
            ),
            cls(
                "org.apache.parquet.format.converter.ParquetMetadataConverter"
            ).SKIP_ROW_GROUPS,
        )
        schema = cls(parquet + "ParquetFileFormat").readSchemaFromFooter(
            cls("org.apache.parquet.hadoop.Footer")(jpath, meta),
            cls(parquet + "ParquetToSparkSchemaConverter")(state.conf()),
        )
        return StructType.fromJson(json.loads(schema.json()))
    except Py4JError:
        return None


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Redistribute a under-parallel scan across the configured
    parallelism (one round-robin shuffle).

    Parquet scans can't split below row-group granularity, so a
    single-row-group file pins every downstream map-side computation
    (hashing, minhash signatures, text stats) to ONE task no matter how
    many cores exist. At warehouse scale (100 TB = thousands of
    row groups) the caller's guard makes this a no-op — the scan already
    feeds every core; the shuffle only ever pays for itself on
    scan-starved inputs. Filters/pruning still push through: Catalyst
    moves predicates below Repartition, so the shuffle carries
    filtered, pruned rows only.
    """
    if min_partitions is None:
        min_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    return df.repartition(min_partitions)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` tolerant of TIMESTAMP(NANOS) columns: those
    are read as long (legacy conf) and converted to microsecond
    timestamps in the plan (floor division — exact when the writer's
    sub-microsecond digits are zero, which holds for ms/us-sourced
    data round-tripped through arrow ns).

    Scans whose row-group count can't feed the configured parallelism
    are fanned out (see :func:`fan_out`); dimension-sized tables are
    left alone so broadcast-join sides stay shuffle-free.

    A single local file's schema comes from its footer, read on the
    driver (:func:`_footer_schema`), not from Spark's inference, which
    launches a Spark job per call only to read that same footer. Any
    other input (a directory, a URI, a list) falls back to
    ``spark.read.parquet``'s own inference. Both give the same schema
    and rows; nothing is cached, every call reads its footer.
    """
    ns_cols, rows, row_groups, avg_row_bytes = _parquet_footer(path)
    # TIMESTAMP without isAdjustedToUTC must surface as TIMESTAMP (ltz),
    # not TIMESTAMP_NTZ: the engine's lake semantics (and the DuckDB
    # oracle) are timezone-free instants under a UTC session, where the
    # two are value-identical. Steering the SCAN's inference (instead of
    # casting after the read) keeps filters on those columns pushable
    # into the parquet reader — a post-scan cast wraps the column and
    # silently turns every watermark/date predicate into a full scan.
    prev_ntz = spark.conf.get(_NTZ_CONF, "true")
    spark.conf.set(_NTZ_CONF, "false")
    try:
        if ns_cols:
            prev = spark.conf.get(_NANOS_CONF, "false")
            spark.conf.set(_NANOS_CONF, "true")
        try:
            single = isinstance(path, str) and os.path.isfile(path)
            schema = _footer_schema(spark, path) if single else None
            reader = spark.read if schema is None else spark.read.schema(schema)
            df = reader.parquet(path)
        finally:
            if ns_cols:
                spark.conf.set(_NANOS_CONF, prev)
    finally:
        spark.conf.set(_NTZ_CONF, prev_ntz)
    if ns_cols:
        dtypes = dict(df.dtypes)
        for c in ns_cols:
            # Only columns the legacy conf actually surfaced as raw int64
            # need the conversion: Spark 4 reads ITS OWN nanos files
            # natively as timestamp (the conf applies to the legacy
            # nanos encoding the external generator produces), and
            # 'timestamp div 1000' would fail analysis.
            if dtypes.get(c) != "bigint":
                continue
            # integer `div` (not `/`): float division of an int64
            # nanosecond value loses low bits above 2^53.
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    # Safety net for ntz that scan steering can't reach (nested struct
    # fields); top-level columns are already ltz via _NTZ_CONF above.
    for c, t in df.dtypes:
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if (
        rows is not None
        and rows >= _FAN_OUT_MIN_ROWS
        and row_groups is not None
        and row_groups < target
        and avg_row_bytes is not None
        and avg_row_bytes >= _FAN_OUT_MIN_ROW_BYTES
    ):
        df = fan_out(df, target)
    return df


def scan_files(
    spark: SparkSession,
    files: list[str],
    fmt: str = "parquet",
    schema: StructType | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """Scan exactly ``files``, a file list a lake already committed
    (manifest entries, Delta adds, Iceberg data or delete files), and
    start no Spark job while the DataFrame is built.

    Without ``schema``, a parquet scan takes the schema of ``files[0]``
    from its footer (:func:`_footer_schema`, what inference reads when
    no schema merge is asked for); any other format, or a footer that
    cannot be read that way, keeps Spark's inference. Partition columns
    still come from the paths under ``base_path``, as with inference.

    Spark lists more than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
    input paths with a listing job. These paths are files, not
    directories, so the threshold is raised to ``len(files)`` for the
    ``load`` alone and they are statted on the driver; every other read
    of the session keeps Spark's listing."""
    from incubator_gobblin_spark.formats.avro_ocf import resolve_format

    if schema is None and fmt == "parquet":
        schema = _footer_schema(spark, files[0])
    reader = spark.read.format(resolve_format(fmt))
    if schema is not None:
        reader = reader.schema(schema)
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    with _LISTING_LOCK:
        prev = spark.conf.get(_LISTING_CONF)
        if len(files) <= int(prev):
            return reader.load(files)
        spark.conf.set(_LISTING_CONF, str(len(files)))
        try:
            return reader.load(files)
        finally:
            spark.conf.set(_LISTING_CONF, prev)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Newline-delimited text (TextFileBasedSource.java:34). Gzip et al.
    are transparent to Spark's file readers."""
    return spark.read.text(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan (CsvFileDownloader / CsvToJsonConverter surface). Explicit
    schema preferred; inference is a full extra pass at scale."""
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines scan (SimpleJsonExtractor)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_hadoop_input_format(
    spark: SparkSession,
    path: str,
    input_format: str = "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
    key_class: str = "org.apache.hadoop.io.LongWritable",
    value_class: str = "org.apache.hadoop.io.Text",
) -> DataFrame:
    """HadoopFileInputSource/HadoopTextInputSource (gobblin-core
    .../extractor/hadoop/HadoopFileInputSource.java:74): wrap an
    arbitrary Hadoop InputFormat. The escape hatch for formats Spark
    has no reader for — ``newAPIHadoopFile`` plans one partition per
    input split, exactly the reference's one-WorkUnit-per-split.

    Default TextInputFormat yields (byte offset, line). Prefer
    ``spark.read.*`` built-ins whenever one exists — they're columnar
    and pushdown-capable; this path is row-RDD + one conversion."""
    rdd = spark.sparkContext.newAPIHadoopFile(
        path, input_format, key_class, value_class
    )
    return spark.createDataFrame(rdd, "key long, value string")


def read_date_partitioned(
    spark: SparkSession,
    root: str,
    fmt: str = "parquet",
    partition_pattern: str = "yyyy/MM/dd",
    low=None,
    high=None,
    partition_col: str = "_partition_date",
) -> DataFrame:
    """Scan a ``root/yyyy/MM/dd`` date-layout directory tree between date
    watermarks (DatePartitionedAvroFileExtractor semantics: low-exclusive,
    high-inclusive like every watermark interval).

    The partition date is derived from ``input_file_name`` and filtered —
    with hive-style layouts prefer real partition columns (then Catalyst
    partition-prunes); for bare date layouts this still avoids reading
    row data of skipped files thanks to file-level filter pushdown on the
    derived column being evaluated before row decode.
    """
    from incubator_gobblin_spark.formats.avro_ocf import resolve_format

    depth = partition_pattern.count("/") + 1
    df = (
        spark.read.format(resolve_format(fmt))
        .option("recursiveFileLookup", "true")
        .load(root)
    )
    segs = F.slice(F.split(F.input_file_name(), "/"), -1 - depth, depth)
    date_str = F.array_join(segs, "/")
    spark_fmt = partition_pattern
    df = df.withColumn(
        partition_col, F.to_date(F.unix_timestamp(date_str, spark_fmt).cast("timestamp"))
    )
    if low is not None:
        df = df.filter(F.col(partition_col) > F.lit(low))
    if high is not None:
        df = df.filter(F.col(partition_col) <= F.lit(high))
    return df


def read_layout_preserving(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a hive-partitioned dataset for a read-modify-WRITE job
    (purge, compaction, retention rewrite) with partition-column type
    inference OFF, so partition values survive the round trip
    byte-for-byte. With inference on, ``day=08`` comes back as int 8
    and rewrites as ``day=8`` — a NEW directory alongside the old one,
    silently duplicating every rewritten partition. Analytics reads
    keep inference (typed partition predicates prune better); only the
    rewrite path needs byte-fidelity."""
    from incubator_gobblin_spark.formats.avro_ocf import resolve_format

    conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
    prev = spark.conf.get(conf, "true")
    spark.conf.set(conf, "false")
    try:
        return spark.read.format(resolve_format(fmt)).load(path)
    finally:
        spark.conf.set(conf, prev)
