"""icebergstream readchangefeed mode: the batch
read_iceberg_changelog semantics as a Structured Streaming source —
per-snapshot inserts + parent-state delete recovery executor-side
(pyarrow, no Spark session inside the DataSource), replace snapshots
invisible, offsets = snapshot sequence numbers. Closes the last CDC
asymmetry: continuous Iceberg→Delta replication as ONE streaming
query (r11 VERDICT ask 2)."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.functions.iceberg_transforms import (  # noqa: E402
    bucket_py,
)
from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.iceberg_delete import (  # noqa: E402
    delete_iceberg_rows,
)
from incubator_gobblin_spark.sinks.iceberg_maintenance import (  # noqa: E402
    rewrite_iceberg_data_files,
    upsert_iceberg_rows,
    write_iceberg_table,
)
from incubator_gobblin_spark.sources.iceberg_stream import (  # noqa: E402
    register,
)
from incubator_gobblin_spark.streaming.flow import StreamPipeline  # noqa: E402

COLS = ["doc_id", "lang", "n_chars"]
CHANGE_COLS = [*COLS, "_change_type", "_change_ordinal",
               "_commit_snapshot_id"]


def _drain(spark, root, out, ckpt):
    q = (
        spark.readStream.format("icebergstream")
        .option("path", root)
        .option("readchangefeed", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _mutate(spark, docs, root):
    """s1: pos-delete commit; s2: CDC upsert (eq del + append);
    s3: replace (compaction — must be invisible)."""
    delete_iceberg_rows(spark, root, "doc_id % 5 = 2")
    after = docs.filter("doc_id % 5 <> 2")
    updates = after.filter("doc_id % 7 = 0").withColumn(
        "n_chars", F.col("n_chars") + 1000
    )
    inserts = docs.filter("doc_id < 4").withColumn(
        "doc_id", F.col("doc_id") + 900000
    )
    upsert_iceberg_rows(spark, root, updates.unionByName(inserts),
                        on="doc_id")
    rewrite_iceberg_data_files(spark, root)


def test_changelog_stream_matches_batch_changelog(spark, sf_dir, tmp_path):
    """The stream's full-history output is row-identical to the batch
    read_iceberg_changelog across the delete / upsert / compaction
    snapshot shapes — the two faces of one semantics."""
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    root = str(tmp_path / "cls")
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    _mutate(spark, docs, root)

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, root, out, ckpt)
    got = sorted(
        map(tuple, spark.read.parquet(out).select(*CHANGE_COLS).collect())
    )
    want = sorted(
        map(
            tuple,
            read_iceberg_changelog(spark, root, None)
            .select(*CHANGE_COLS)
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0


def test_changelog_stream_incremental_and_restart(spark, sf_dir, tmp_path):
    """A drained restart delivers nothing; new snapshots deliver ONLY
    their changes (checkpointed sequence offset, no reprocess)."""
    root = str(tmp_path / "inc")
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    write_iceberg_table(spark, docs, root)

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, root, out, ckpt)
    n0 = spark.read.parquet(out).count()
    assert n0 == docs.count()  # initial batch = base inserts

    _drain(spark, root, out, ckpt)  # drained: nothing new
    assert spark.read.parquet(out).count() == n0

    # one upsert commit: exactly its delete+insert pairs arrive
    before = {
        tuple(r)
        for r in spark.read.parquet(out)
        .select(*COLS, "_change_type")
        .collect()
    }
    ups = docs.filter("doc_id % 10 = 4").withColumn(
        "n_chars", F.col("n_chars") + 7
    )
    upsert_iceberg_rows(spark, root, ups, on="doc_id")
    _drain(spark, root, out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == n0 + 2 * ups.count()
    new = {
        tuple(r)
        for r in got.select(*COLS, "_change_type").collect()
    } - before
    want = {(*t, "delete") for t in map(
        tuple, docs.filter("doc_id % 10 = 4").collect()
    )} | {(*t, "insert") for t in map(tuple, ups.collect())}
    assert new == want


def test_changelog_stream_to_delta_merge_one_query(spark, sf_dir, tmp_path):
    """Continuous Iceberg→Delta replication as ONE streaming query:
    source_iceberg(read_change_feed=True) → to_delta_merge(
    change_feed=True). Bootstrap batch, CDC window with updates AND
    deletes, compaction invisible, and the crash-replay proof: a wiped
    checkpoint re-delivers consumed epochs whose txn stamp makes the
    apply a no-op — zero duplicates, no new table version."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        read_delta,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    src = str(tmp_path / "src_ice")
    dst = str(tmp_path / "dst_delta")
    ckpt = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    write_iceberg_table(spark, docs, src)
    write_delta_table(spark, docs.limit(0), dst)  # empty destination

    def run_once():
        q = (
            StreamPipeline(spark, "ice-to-delta")
            .source_iceberg(src, read_change_feed=True)
            .to_delta_merge(
                dst, on=["doc_id"], checkpoint=ckpt, change_feed=True,
                app_id="ice-repl", once=True,
            )
        )
        q.awaitTermination(180)

    def _rows(df):
        return sorted(map(tuple, df.select(*COLS).collect()))

    run_once()
    assert _rows(read_delta(spark, dst)) == _rows(docs)

    # src moves: delete + upsert + compaction, all in one window
    _mutate(spark, docs, src)
    run_once()
    assert _rows(read_delta(spark, dst)) == _rows(read_iceberg(spark, src))

    # drained re-run: no new dst version
    log_dir = os.path.join(dst, "_delta_log")
    v = _log_versions(log_dir)[-1]
    run_once()
    assert _log_versions(log_dir)[-1] == v

    # crash-replay: wipe the checkpoint — every epoch replays, the txn
    # stamp (version >= epoch) makes each apply a no-op
    import shutil

    shutil.rmtree(ckpt)
    run_once()
    assert _log_versions(log_dir)[-1] == v
    assert _rows(read_delta(spark, dst)) == _rows(read_iceberg(spark, src))


def test_changelog_stream_effective_state_after_expiry(
    spark, sf_dir, tmp_path
):
    """A fresh stream on an expiry-truncated head (survivor carries
    delete files, parent pointer cleared) serves the EFFECTIVE state as
    the initial insert batch — raw file reads would resurrect the rows
    the survivor's own tombstones kill."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    root = str(tmp_path / "exp")
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    write_iceberg_table(spark, docs, root)
    delete_iceberg_rows(spark, root, "doc_id % 3 = 1")
    expire_iceberg_snapshots(root, keep_last=1)

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, root, out, ckpt)
    got = spark.read.parquet(out)
    assert got.select("_change_type").distinct().collect()[0][0] == "insert"
    assert sorted(map(tuple, got.select(*COLS).collect())) == sorted(
        map(tuple, read_iceberg(spark, root).collect())
    )


def test_changelog_stream_scoped_eq_delete(spark, sf_dir, tmp_path):
    """A foreign writer's PARTITION-SCOPED equality delete (identity
    transform, the q137 shape) kills exactly the in-scope keys in the
    stream — never the same keys in other partitions. (The mid-stream
    expiry guard is pinned separately below.)"""
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    root = str(tmp_path / "scoped")
    sink = FileSink(
        path=root,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        partition_by=["lang"],
    )
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    sink.write_staging(docs, "base")
    sink.publish("base")
    sink.export_iceberg()  # s0

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, root, out, ckpt)  # consume the base

    first_lang = docs.agg(F.min("lang")).collect()[0][0]
    keys = sorted(
        int(r.doc_id)
        for r in docs.filter("doc_id % 10 = 0").select("doc_id").collect()
    )
    append_equality_deletes(
        root,
        [{"doc_id": k} for k in keys],
        ["doc_id"],
        partition_scope={"lang": first_lang},
    )  # s1
    _drain(spark, root, out, ckpt)
    got = spark.read.parquet(out).filter("_change_type = 'delete'")
    expect = docs.filter(
        (F.col("doc_id") % 10 == 0) & (F.col("lang") == first_lang)
    )
    assert expect.count() > 0
    assert sorted(map(tuple, got.select(*COLS).collect())) == sorted(
        map(tuple, expect.collect())
    )


def test_changelog_stream_to_iceberg_upsert_one_query(
    spark, sf_dir, tmp_path
):
    """Iceberg→Iceberg continuous replication as ONE streaming query
    (changelog stream → to_iceberg_upsert(change_feed=True)) —
    completes the streaming CDC matrix. Exactly-once via the epoch
    watermark riding the destination's atomic metadata commit; the
    wiped-checkpoint replay is a no-op."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    src = str(tmp_path / "src_ice")
    dst = str(tmp_path / "dst_ice")
    ckpt = str(tmp_path / "ckpt")
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    write_iceberg_table(spark, docs, src)
    write_iceberg_table(spark, docs.limit(0), dst)  # empty destination

    def run_once():
        q = (
            StreamPipeline(spark, "ice-to-ice")
            .source_iceberg(src, read_change_feed=True)
            .to_iceberg_upsert(
                dst, on=["doc_id"], checkpoint=ckpt, change_feed=True,
                app_id="ice-ice-repl", once=True,
            )
        )
        q.awaitTermination(180)

    def _rows(df):
        return sorted(map(tuple, df.select(*COLS).collect()))

    run_once()
    assert _rows(read_iceberg(spark, dst)) == _rows(docs)

    _mutate(spark, docs, src)  # delete + upsert + compaction
    run_once()
    assert _rows(read_iceberg(spark, dst)) == _rows(read_iceberg(spark, src))

    # wiped-checkpoint replay: the stored epoch watermark no-ops every
    # replayed epoch — no new destination snapshot
    import shutil

    snap = current_metadata(dst)["current-snapshot-id"]
    shutil.rmtree(ckpt)
    run_once()
    assert current_metadata(dst)["current-snapshot-id"] == snap
    assert _rows(read_iceberg(spark, dst)) == _rows(read_iceberg(spark, src))


def test_changelog_replace_survivor_serves_effective_state(
    spark, sf_dir, tmp_path
):
    """An expiry-truncated head whose survivor is a REPLACE snapshot
    (expire right after compaction — a routine maintenance sequence)
    must serve the survivor's effective state as the initial batch in
    BOTH changelog faces. Regression: the replace-skip used to precede
    the parent-None branch, silently dropping the table's entire base
    state while the offset still advanced."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    root = str(tmp_path / "repl_head")
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    write_iceberg_table(spark, docs, root)
    delete_iceberg_rows(spark, root, "doc_id % 4 = 2")
    rewrite_iceberg_data_files(spark, root)  # replace absorbs deletes
    expire_iceberg_snapshots(root, keep_last=1)
    meta = current_metadata(root)
    assert len(meta["snapshots"]) == 1
    surv = meta["snapshots"][0]
    assert (surv.get("summary") or {}).get("operation") == "replace"
    assert surv.get("parent-snapshot-id") is None

    want = sorted(map(tuple, read_iceberg(spark, root).collect()))
    assert want  # non-empty live state

    # batch face
    ch = read_iceberg_changelog(spark, root, None)
    assert ch.select("_change_type").distinct().collect()[0][0] == "insert"
    assert sorted(map(tuple, ch.select(*COLS).collect())) == want

    # stream face
    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain(spark, root, out, ckpt)
    got = spark.read.parquet(out)
    assert got.select("_change_type").distinct().collect()[0][0] == "insert"
    assert sorted(map(tuple, got.select(*COLS).collect())) == want


def test_replicate_window_caps_validate(spark, sf_dir, tmp_path):
    """Non-positive chunk caps refuse loudly: a negative
    max_versions_per_window used to spin the delta->iceberg chunk loop
    forever (start_v decreasing), and a negative snapshot cap made the
    iceberg->delta run report the backlog consumed while applying
    nothing."""
    from incubator_gobblin_spark.jobs.replicate import (
        replicate_delta_to_iceberg,
        replicate_iceberg_to_delta,
    )

    with pytest.raises(ValueError, match="must be positive"):
        replicate_iceberg_to_delta(
            spark, str(tmp_path / "a"), str(tmp_path / "b"),
            on="doc_id", max_snapshots_per_window=-1,
        )
    with pytest.raises(ValueError, match="must be positive"):
        replicate_delta_to_iceberg(
            spark, str(tmp_path / "c"), str(tmp_path / "d"),
            on="doc_id", max_versions_per_window=0,
        )


def _transform_scoped_table(spark, sf_dir, root, spec_field):
    """An unpartitioned documents table (s0) whose default spec is
    then rewritten to ``spec_field`` over ``doc_id``, the way a foreign
    writer with hidden partitioning declares it (the data files keep
    every source column)."""
    import json

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import _metadata_versions
    from incubator_gobblin_spark.sources.iceberg_import import current_metadata

    sink = FileSink(
        path=root, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    sink.write_staging(docs, "base")
    sink.publish("base")
    sink.export_iceberg()  # s0
    key_id = next(
        f["id"] for f in current_metadata(root)["schemas"][0]["fields"]
        if f["name"] == "doc_id"
    )
    meta_dir = os.path.join(root, "metadata")
    mpath = os.path.join(
        meta_dir, f"v{_metadata_versions(meta_dir)[-1]}.metadata.json"
    )
    with open(mpath) as fh:
        mjson = json.load(fh)
    mjson["partition-specs"][0]["fields"] = [
        {**spec_field, "source-id": key_id, "field-id": 1000}
    ]
    with open(mpath, "w") as fh:
        json.dump(mjson, fh)
    return docs, mpath


@pytest.mark.parametrize(
    "transform,scope_of",
    [
        ("truncate[100]", lambda k: k - k % 100),
        ("bucket[16]", lambda k: bucket_py(k, 16, "long")),
    ],
    ids=["truncate", "bucket"],
)
def test_changelog_stream_transform_scoped_eq_delete_matches_batch(
    spark, sf_dir, tmp_path, transform, scope_of
):
    """A TRANSFORM-scoped equality delete (the q139 shape) streams the
    same change rows as the batch changelog: the stream resolves the
    scope through the shared resolver and evaluates the transform per
    row in Python, killing only the keys inside the scope."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    root = str(tmp_path / "tscope")
    docs, _ = _transform_scoped_table(
        spark, sf_dir, root, {"name": "doc_part", "transform": transform}
    )
    keys = sorted(
        int(r.doc_id)
        for r in docs.filter("doc_id % 10 = 0").select("doc_id").collect()
    )
    scope = scope_of(keys[len(keys) // 2])
    append_equality_deletes(
        root,
        [{"doc_id": k} for k in keys],
        ["doc_id"],
        partition_scope={"doc_part": scope},
    )  # s1

    batch = read_iceberg_changelog(spark, root, None)
    want = {k for k in keys if scope_of(k) == scope}
    assert 0 < len(want) < len(keys)
    assert {
        r.doc_id for r in batch.filter("_change_type = 'delete'").collect()
    } == want

    register(spark)
    out = str(tmp_path / "out")
    _drain(spark, root, out, str(tmp_path / "ckpt"))
    got = spark.read.parquet(out).select(*CHANGE_COLS)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, batch.select(*CHANGE_COLS).collect())
    )


@pytest.mark.parametrize("case", ["unknown_transform", "field_not_in_spec"])
def test_changelog_stream_refuses_unresolvable_scope(
    spark, sf_dir, tmp_path, case
):
    """An equality delete whose scope cannot be resolved — a transform
    this engine cannot evaluate, or a field its own spec does not name
    — refuses in the stream exactly as in the batch reader: applying
    it globally would over-delete."""
    import json

    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg
    from incubator_gobblin_spark.sources.iceberg_stream import (
        IcebergStreamReader,
        _table_schema,
    )

    root = str(tmp_path / "badscope")
    transform = "zorder[2]" if case == "unknown_transform" else "truncate[100]"
    _, mpath = _transform_scoped_table(
        spark, sf_dir, root, {"name": "doc_part", "transform": transform}
    )
    append_equality_deletes(
        root, [{"doc_id": 0}], ["doc_id"], partition_scope={"doc_part": 7}
    )  # s1
    if case == "field_not_in_spec":
        # the delete file's spec (id 0) stops naming its scope field
        from incubator_gobblin_spark.sinks.iceberg_export import (
            _metadata_versions,
        )

        meta_dir = os.path.dirname(mpath)
        mpath = os.path.join(
            meta_dir, f"v{_metadata_versions(meta_dir)[-1]}.metadata.json"
        )
        with open(mpath) as fh:
            mjson = json.load(fh)
        mjson["partition-specs"][0]["fields"][0]["name"] = "renamed"
        with open(mpath, "w") as fh:
            json.dump(mjson, fh)

    with pytest.raises(ValueError, match="over-delete"):
        read_iceberg(spark, root).collect()
    schema, part_cols, part_types = _table_schema(root)
    reader = IcebergStreamReader(
        {"path": root, "readchangefeed": "true"}, schema, part_cols, part_types
    )
    with pytest.raises(ValueError, match="over-delete"):
        reader.partitions({"seq": 0}, reader.latestOffset())


def test_changelog_stream_mid_stream_expired_parent_refuses(
    spark, sf_dir, tmp_path
):
    """A checkpointed changelog stream whose next unconsumed snapshot
    lost its parent to expiry (keep_last kept the snapshot but cleared
    its parent pointer) refuses with restart guidance instead of
    fabricating an initial-state batch mid-history — which would
    re-insert the whole table into the consumer."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sources.iceberg_stream import (
        IcebergStreamReader,
        _table_schema,
    )

    root = str(tmp_path / "midexp")
    docs = load_table(spark, sf_dir, "documents").select(*COLS).limit(50)
    write_iceberg_table(spark, docs, root)  # s0 (seq 1)
    upsert_iceberg_rows(
        spark, root,
        docs.limit(5).withColumn("n_chars", F.col("n_chars") + 1),
        on="doc_id",
    )  # s1 (seq 2)
    upsert_iceberg_rows(
        spark, root,
        docs.limit(3).withColumn("n_chars", F.col("n_chars") + 2),
        on="doc_id",
    )  # s2 (seq 3)
    # keep s1+s2; s1's parent pointer is cleared by the engine expire
    expire_iceberg_snapshots(root, keep_last=2)

    schema, part_cols, part_types = _table_schema(root)
    reader = IcebergStreamReader(
        {"path": root, "readchangefeed": "true"},
        schema, part_cols, part_types,
    )
    # consumed through seq 1 (the expired s0): next snapshot s1 has no
    # retained parent -> refuse
    with pytest.raises(ValueError, match="fresh checkpoint"):
        reader.partitions({"seq": 1}, reader.latestOffset())
    # a FRESH stream on the same table is fine (initial-state rule)
    parts = reader.partitions({"seq": 0}, reader.latestOffset())
    assert len(parts) > 0
