"""Driver plan-build cost: generated expressions rendered as SQL text
(exact double literals), table schemas read from the parquet footer
instead of a schema-inference Spark job, and the py4j budget of the
heaviest generated builds."""

import contextlib
import itertools
import math
import os
import struct
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.functions import sql_text  # noqa: E402
from incubator_gobblin_spark.plans import queries as Q  # noqa: E402
from incubator_gobblin_spark.session import load_table, table_path  # noqa: E402
from incubator_gobblin_spark.sources import files  # noqa: E402


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


# ---- exact double literals --------------------------------------------------

DOUBLES = [
    0.0,
    -0.0,
    5e-324,  # smallest subnormal
    2.225073858507201e-308,  # largest subnormal
    2.2250738585072014e-308,  # smallest normal
    1e308,
    1.7976931348623157e308,
    -1.7976931348623157e308,
    0.1 + 0.2,  # 17 significant digits
    1 / 3,
    -2 / 3,
    123456789.12345679,
    1e-05,
    1e16,
    2.0,
]


def test_double_literal_round_trips_bit_exact(spark):
    cols = [F.expr(sql_text.double(x)).alias(f"c{i}") for i, x in enumerate(DOUBLES)]
    df = spark.range(1).select(*cols)
    assert {t for _, t in df.dtypes} == {"double"}  # never DECIMAL
    row = df.collect()[0]
    assert [_bits(v) for v in row] == [_bits(x) for x in DOUBLES]


def test_double_array_round_trips_bit_exact(spark):
    df = spark.range(1).select(sql_text.double_array_col(DOUBLES).alias("a"))
    assert df.dtypes == [("a", "array<double>")]
    assert [_bits(v) for v in df.collect()[0].a] == [_bits(x) for x in DOUBLES]
    # a bare decimal point is a DECIMAL in Spark SQL: the suffix matters
    assert spark.range(1).select(F.expr("0.5").alias("d")).dtypes[0][1].startswith(
        "decimal"
    )


def test_double_literal_non_finite_values_are_explicit(spark):
    specials = [math.nan, math.inf, -math.inf]
    rendered = [sql_text.double(x) for x in specials]
    assert all("CAST(" in r for r in rendered)  # no literal syntax exists
    row = spark.range(1).select(
        *[F.expr(r).alias(f"c{i}") for i, r in enumerate(rendered)]
    ).collect()[0]
    assert math.isnan(row.c0)
    assert (row.c1, row.c2) == (math.inf, -math.inf)


# ---- footer schema ----------------------------------------------------------

@contextlib.contextmanager
def _job_group(spark, name):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _inferred(monkeypatch, spark, path):
    """read_parquet with the footer schema switched off: Spark's own
    schema inference inside the same conf window."""
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema", lambda spark, file: None)
        return files.read_parquet(spark, path)


def _assert_footer_parity(monkeypatch, spark, path, plain=True):
    with _job_group(spark, "footer-schema") as jobs:
        df = files.read_parquet(spark, path)
        assert jobs() == []  # no schema-inference job
    ref = _inferred(monkeypatch, spark, path)
    assert df.schema == ref.schema
    assert df.orderBy("id").collect() == ref.orderBy("id").collect()
    if plain:  # no timestamp steering involved: also plain spark.read
        bare = spark.read.parquet(path)
        assert df.schema == bare.schema
        assert df.orderBy("id").collect() == bare.orderBy("id").collect()


def test_footer_schema_required_columns(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "required.parquet")
    schema = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        pa.field("name", pa.string(), nullable=False),
        pa.field("score", pa.float64()),
        pa.field("flag", pa.bool_(), nullable=False),
        pa.field("small", pa.int32(), nullable=False),
    ])
    pq.write_table(pa.table({
        "id": [1, 2, 3], "name": ["a", "b", "c"], "score": [0.5, None, 2.0],
        "flag": [True, False, True], "small": [7, 8, 9],
    }, schema=schema), path)
    _assert_footer_parity(monkeypatch, spark, path)


def test_footer_schema_timestamps(spark, tmp_path, monkeypatch):
    import datetime as dt

    path = str(tmp_path / "ts.parquet")
    ts = [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), dt.datetime(1999, 12, 31), None]
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "naive_us": pa.array(ts, pa.timestamp("us")),
        "naive_ns": pa.array(ts, pa.timestamp("ns")),
        "utc_ms": pa.array(ts, pa.timestamp("ms", tz="UTC")),
        "day": pa.array([dt.date(2024, 1, 1), None, dt.date(1970, 1, 2)], pa.date32()),
    }), path)
    _assert_footer_parity(monkeypatch, spark, path, plain=False)
    assert dict(files.read_parquet(spark, path).dtypes)["naive_ns"] == "timestamp"


def test_footer_schema_nested_and_decimal(spark, tmp_path, monkeypatch):
    from decimal import Decimal

    path = str(tmp_path / "nested.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2], pa.int64()),
        "amount": pa.array([Decimal("1.25"), Decimal("-3.50")], pa.decimal128(12, 2)),
        "big": pa.array([Decimal("1" * 30), None], pa.decimal128(38, 0)),
        "tags": pa.array([["x", "y"], []], pa.list_(pa.string())),
        "point": pa.array(
            [{"x": 1.0, "y": [1, 2]}, None],
            pa.struct([("x", pa.float64()), ("y", pa.list_(pa.int32()))]),
        ),
        "attrs": pa.array(
            [[("k", 1)], [("a", 2), ("b", 3)]], pa.map_(pa.string(), pa.int64())
        ),
    }), path)
    _assert_footer_parity(monkeypatch, spark, path)


def _spark_written(spark, path, partitions):
    spark.range(0, 40, 1, partitions).selectExpr(
        "id",
        "CAST(id AS DECIMAL(10, 3)) AS amount",
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS s",
        "map('k', id) AS m",
        "array(id, id + 1) AS xs",
        "CAST(id AS TIMESTAMP) AS ts",
    ).write.parquet(path)
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def test_footer_schema_spark_written_file(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "spark_one")
    (data,) = _spark_written(spark, d, 1)
    path = os.path.join(d, data)
    meta = pq.read_metadata(path).metadata
    # the exact Spark schema Spark's writer keeps in the footer
    assert b"org.apache.spark.sql.parquet.row.metadata" in meta
    _assert_footer_parity(monkeypatch, spark, path)


def test_directories_keep_inference(spark, tmp_path, monkeypatch):
    flat = str(tmp_path / "spark_dir")
    assert len(_spark_written(spark, flat, 4)) > 1
    hive = str(tmp_path / "hive")
    spark.range(10).selectExpr("id", "id % 2 AS part").write.partitionBy(
        "part"
    ).parquet(hive)
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), str(mixed / "a.parquet"))
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int64()), "extra": ["x"]}),
        str(mixed / "b.parquet"),
    )
    for path in (flat, hive, str(mixed)):
        with _job_group(spark, "inference") as jobs:
            df = files.read_parquet(spark, path)
            assert jobs() != []  # Spark's own schema inference ran
        ref = _inferred(monkeypatch, spark, path)
        assert df.schema == ref.schema
        assert df.orderBy("id").collect() == ref.orderBy("id").collect()


# ---- plan-build budget ------------------------------------------------------

# the changelog builds over q151's cached 4-snapshot fixture: 705 and
# 709 commands measured at sf0.001 alone, 708 and 712 inside the full
# suite. The budgets stay below the 741 and 745 that sending one
# command per scanned path costs.
BUDGET_Q151 = 725
BUDGET_Q152 = 729


@pytest.mark.parametrize(
    "name,budget",
    [
        ("q99_pq_topk", 250),
        ("q31_minhash_candidates", 1000),
        ("q151_iceberg_changelog_agg", BUDGET_Q151),
        ("q152_iceberg_changelog_updates_agg", BUDGET_Q152),
    ],
)
def test_generated_build_py4j_budget(spark, sf_dir, name, budget):
    from perfbench.tracing import Tracer  # counts as the benchmark does

    build = Q.queries()[name]
    build(spark, sf_dir)  # warm: driver-side codebook cache
    tracer = Tracer(enabled=True)
    tracer.count_py4j()
    try:
        build(spark, sf_dir)
    finally:
        tracer.restore()
    assert tracer.py4j_commands <= budget


def test_scan_files_py4j_count_is_constant_in_files(spark, tmp_path):
    """``scan_files`` hands its path list to the JVM in one command: the
    count of a build does not grow with the number of files (past the
    listing threshold it adds the two conf sets of its window)."""
    from perfbench.tracing import Tracer

    root = str(tmp_path / "many")
    spark.range(0, 400, 1, 40).write.parquet(root)
    paths = sorted(
        os.path.join(root, f) for f in os.listdir(root) if f.endswith(".parquet")
    )
    assert len(paths) == 40

    def commands(n):
        tracer = Tracer(enabled=True)
        tracer.count_py4j()
        try:
            df = files.scan_files(spark, paths[:n])
        finally:
            tracer.restore()
        assert df.count() == n * 10
        return tracer.py4j_commands

    assert commands(1) == commands(32)
    assert commands(33) == commands(40) == commands(1) + 2


def test_load_table_starts_no_spark_job(spark, sf_dir):
    assert os.path.isfile(table_path(sf_dir, "orders"))
    with _job_group(spark, "load-table") as jobs:
        df = load_table(spark, sf_dir, "orders")
        assert jobs() == []
    assert "o_orderkey" in df.columns


# ---- committed file lists ---------------------------------------------------


_SCANS = itertools.count()


def _no_job_parity(monkeypatch, spark, build, key):
    """``build()`` starts no Spark job, and its schema and rows equal
    the same build with the footer schema switched off (Spark's
    inference)."""
    with _job_group(spark, f"committed-scan-{next(_SCANS)}") as jobs:
        df = build()
        assert jobs() == []
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema", lambda spark, file: None)
        ref = build()
    assert df.schema == ref.schema
    assert df.orderBy(key).collect() == ref.orderBy(key).collect()
    return df


def _manifest_lake(spark, root, **kw):
    from incubator_gobblin_spark.sinks.files import FileSink

    sink = FileSink(path=root, commit_mode="manifest", **kw)
    # run1 writes more files than Spark's parallel-listing threshold (32)
    run1 = spark.range(0, 400, 1, 40).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS v", "concat('k', id % 2) AS p"
    )
    run2 = spark.range(400, 420, 1, 2).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS v", "concat('k', id % 2) AS p"
    )
    for rid, df in (("run1", run1), ("run2", run2)):
        sink.write_staging(df, rid)
        sink.publish(rid)
    return sink, run1.unionByName(run2)


@pytest.mark.parametrize("partition_by", [["p"], []])
def test_read_committed_starts_no_spark_job(spark, tmp_path, monkeypatch, partition_by):
    sink, data = _manifest_lake(
        spark, str(tmp_path / "lake"), partition_by=partition_by
    )
    run1 = [e for e in sink.current_manifest()["entries"] if "/run1/" in e["file"]]
    assert len(run1) > 32
    df = _no_job_parity(monkeypatch, spark, lambda: sink.read_committed(spark), "id")
    assert df.select(*data.columns).orderBy("id").collect() == data.orderBy("id").collect()


def test_merge_into_snapshot_reads_start_no_spark_job(spark, tmp_path, monkeypatch):
    import shutil

    from incubator_gobblin_spark.sinks.files import FileSink

    sink, _ = _manifest_lake(spark, str(tmp_path / "lake"), partition_by=["p"])
    shutil.copytree(sink.path, str(tmp_path / "ref"))
    ref_sink = FileSink(
        path=str(tmp_path / "ref"), commit_mode="manifest", partition_by=["p"]
    )
    source = spark.range(390, 410).selectExpr(
        "id", "CAST(-id AS DOUBLE) AS v", "concat('k', id % 2) AS p"
    )
    read_entries = FileSink._read_entries
    builds = []

    def counted(self, spark, entries, manifest):
        with _job_group(spark, f"merge-read-{len(builds)}") as jobs:
            df = read_entries(self, spark, entries, manifest)
            builds.append(jobs())
        return df

    with monkeypatch.context() as m:
        m.setattr(FileSink, "_read_entries", counted)
        sink.merge_into(spark, source, on=["id"], run_id="m1")
    assert builds and all(b == [] for b in builds)
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema", lambda spark, file: None)
        ref_sink.merge_into(spark, source, on=["id"], run_id="m1")
    got, ref = sink.read_committed(spark), ref_sink.read_committed(spark)
    assert got.schema == ref.schema
    assert got.orderBy("id").collect() == ref.orderBy("id").collect()
    assert got.filter("id BETWEEN 390 AND 409").agg(F.sum("v")).first()[0] == -sum(range(390, 410))


def test_read_delta_with_deletion_vectors_starts_no_spark_job(
    spark, tmp_path, monkeypatch
):
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sources.delta_import import read_delta

    sink, data = _manifest_lake(spark, str(tmp_path / "lake"), partition_by=["p"])
    sink.export_delta_log()
    res = delete_delta_rows(spark, sink.path, "id % 7 = 3")
    assert res["dv_files"] >= 1
    df = _no_job_parity(monkeypatch, spark, lambda: read_delta(spark, sink.path), "id")
    want = data.filter("id % 7 != 3")
    assert df.select(*data.columns).orderBy("id").collect() == want.orderBy("id").collect()


_PY_NODES = ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas")


@pytest.mark.parametrize("within_cap", [True, False])
def test_read_delta_decodes_vectors_by_cap(spark, tmp_path, monkeypatch, within_cap):
    """Within ``TOMBSTONE_BROADCAST_MAX_ROWS`` the vectors decode on the
    driver: the build starts no job and the executed plan scans a local
    relation with no Python node. Past the cap (0 here) they decode in
    an executor ``mapInPandas``; both give the same rows."""
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sources import delta_import

    sink, data = _manifest_lake(spark, str(tmp_path / "lake"), partition_by=["p"])
    sink.export_delta_log()
    assert delete_delta_rows(spark, sink.path, "id % 7 = 3")["dv_files"] >= 1
    if not within_cap:
        monkeypatch.setattr(delta_import, "TOMBSTONE_BROADCAST_MAX_ROWS", 0)
    decoded = []
    materialize = delta_import.materialize_small

    def recorded(df):
        decoded.append(df._jdf.queryExecution().executedPlan().toString())
        return materialize(df)

    monkeypatch.setattr(delta_import, "materialize_small", recorded)
    with _job_group(spark, f"dv-cap-{within_cap}") as jobs:
        df = delta_import.read_delta(spark, sink.path)
        assert jobs() == []
    counted = df.groupBy().count()
    assert counted.first()[0] == data.filter("id % 7 != 3").count()
    plan = counted._jdf.queryExecution().executedPlan().toString()
    if within_cap:
        assert decoded == []
        assert "LocalTableScan" in plan and "Generate" in plan, plan
        for node in _PY_NODES:
            assert node not in plan, plan
    else:
        assert len(decoded) == 1 and "MapInPandas" in decoded[0], decoded
        assert "Scan ExistingRDD" in plan and "LocalTableScan" not in plan, plan
    want = data.filter("id % 7 != 3")
    assert df.select(*data.columns).orderBy("id").collect() == want.orderBy("id").collect()


@pytest.mark.parametrize("reader", ["read_iceberg", "read_iceberg_changelog"])
def test_read_iceberg_with_deletes_starts_no_spark_job(
    spark, tmp_path, monkeypatch, reader
):
    from incubator_gobblin_spark.sinks.iceberg_delete import delete_iceberg_rows
    from incubator_gobblin_spark.sinks.iceberg_export import append_equality_deletes
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    sink, data = _manifest_lake(spark, str(tmp_path / "lake"), partition_by=["p"])
    sink.export_iceberg()
    assert delete_iceberg_rows(spark, sink.path, "id % 7 = 3")["delete_files"] >= 1
    append_equality_deletes(sink.path, [{"id": 5}, {"id": 401}], ["id"])
    dead = "id % 7 = 3 OR id IN (5, 401)"
    if reader == "read_iceberg":
        build, key, want = lambda: read_iceberg(spark, sink.path), "id", data.filter(f"NOT ({dead})")
    else:
        # from the first snapshot: every row inserted, then each delete
        # commit's kills
        build = lambda: read_iceberg_changelog(spark, sink.path, None)  # noqa: E731
        key = ["id", "_change_ordinal"]
        want = data.unionByName(data.filter(dead))
    df = _no_job_parity(monkeypatch, spark, build, key)
    assert df.select(*data.columns).orderBy(*data.columns).collect() == (
        want.orderBy(*data.columns).collect()
    )


def test_non_parquet_and_evolving_lakes_keep_inference(spark, tmp_path, monkeypatch):
    """An ORC lake's schema comes from Spark's inference (the footer
    converter is parquet-only); an unpartitioned ``schema_evolution``
    lake keeps ``mergeSchema`` inference, the one lake read that still
    starts a Spark job."""
    from incubator_gobblin_spark.sinks.files import FileSink

    def no_footer(spark, file):
        raise AssertionError("parquet footer read for a non-parquet lake")

    sink, data = _manifest_lake(
        spark, str(tmp_path / "orc"), partition_by=["p"], fmt="orc"
    )
    with monkeypatch.context() as m:
        m.setattr(files, "_footer_schema", no_footer)
        df = sink.read_committed(spark)
    assert df.schema == spark.read.orc(
        os.path.join(sink.path, "_data", "run1")
    ).schema
    assert df.select(*data.columns).orderBy("id").collect() == data.orderBy("id").collect()

    evolving = FileSink(
        path=str(tmp_path / "evolving"), commit_mode="manifest", schema_evolution=True
    )
    evolving.write_staging(spark.range(5).selectExpr("id"), "run1")
    evolving.publish("run1")
    with _job_group(spark, "merge-schema") as jobs:
        evolving.read_committed(spark)
        assert jobs() != []
