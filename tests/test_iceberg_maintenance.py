"""Iceberg maintenance: write_iceberg_table / rewrite_iceberg_data_files.

Pins the RewriteDataFiles compaction shape: position/equality deletes
are ABSORBED into rewritten data files (surviving rows only), absorbed
delete manifests drop out of the new snapshot, originals are marked
DELETED with lineage kept, and the reader sees identical rows before
and after. Reference parity: gobblin-compaction MRCompactor +
iceberg-core actions/rewrite/RewriteDataFilesAction.
"""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.iceberg_delete import (  # noqa: E402
    delete_iceberg_rows,
)
from incubator_gobblin_spark.sinks.iceberg_maintenance import (  # noqa: E402
    rewrite_iceberg_data_files,
    write_iceberg_table,
)
from incubator_gobblin_spark.sources.iceberg_import import (  # noqa: E402
    current_metadata,
    read_iceberg,
    snapshot_files,
)


def _same_rows(got, expect):
    # identity partition columns ride LAST in the authored schema (the
    # export convention) — align by NAME before the positional compare
    expect = expect.select(*got.columns)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def _deletes(root):
    meta = current_metadata(root)
    _, dels = snapshot_files(meta, root, collect_deletes=True)
    return dels


# ----------------------------------------------------------------- writer


def test_write_iceberg_table_roundtrip(spark, sf_dir, tmp_path):
    root = str(tmp_path / "w1")
    nat = load_table(spark, sf_dir, "nation")
    meta_dir = write_iceberg_table(spark, nat, root)
    assert os.path.exists(os.path.join(meta_dir, "v1.metadata.json"))
    _same_rows(read_iceberg(spark, root), nat)
    meta = current_metadata(root)
    assert meta["format-version"] == 2
    assert "schema.name-mapping.default" in meta["properties"]
    with pytest.raises(FileExistsError):
        write_iceberg_table(spark, nat, root)


def test_write_iceberg_table_identity_partitioned(spark, sf_dir, tmp_path):
    root = str(tmp_path / "w2")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    _same_rows(read_iceberg(spark, root), docs)
    meta = current_metadata(root)
    spec = meta["partition-specs"][0]
    assert [f["transform"] for f in spec["fields"]] == ["identity"]
    files = snapshot_files(meta, root)
    assert all(f["partition"].get("lang") for f in files)
    # identity-partitioned data files drop the partition column
    # (hive layout); the read restores it from the manifest
    import pyarrow.parquet as pq

    assert "lang" not in pq.read_schema(files[0]["path"]).names


def test_write_iceberg_table_refusal_keeps_no_data_file(spark, tmp_path):
    """A table refused after its data was staged (here: an identity
    partition type the manifest encoding does not carry) leaves no
    parquet behind under data/."""
    import datetime

    root = str(tmp_path / "refused")
    df = spark.createDataFrame(
        [(1, datetime.date(2024, 1, 1))], "k long, d date"
    )
    with pytest.raises(
        ValueError, match="unsupported identity partition column type"
    ):
        write_iceberg_table(spark, df, root, partition_by=["d"])
    assert not [
        f
        for _, _, fs in os.walk(os.path.join(root, "data"))
        for f in fs
        if f.endswith(".parquet")
    ]


def test_write_iceberg_table_hidden_partitioning(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.functions.iceberg_transforms import (
        transform_expr,
    )

    root = str(tmp_path / "w3")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    derived = docs.withColumn(
        "doc_id_trunc", transform_expr("truncate[100]", F.col("doc_id"), "long")
    )
    write_iceberg_table(
        spark,
        derived,
        root,
        partition_by=["doc_id_trunc"],
        transform_spec=[
            {
                "name": "doc_id_trunc",
                "transform": "truncate[100]",
                "source": "doc_id",
            }
        ],
    )
    got = read_iceberg(spark, root)
    # the derived partition field is METADATA, not a table column
    assert sorted(got.columns) == ["doc_id", "lang", "n_chars"]
    _same_rows(got, docs)
    spec = current_metadata(root)["partition-specs"][0]
    assert spec["fields"][0]["transform"] == "truncate[100]"
    # transform pruning works against the authored spec
    pruned = read_iceberg(
        spark, root, filters=[("doc_id", "=", 101)]
    ).filter("doc_id = 101")
    _same_rows(pruned, docs.filter("doc_id = 101"))


# ---------------------------------------------------------------- rewrite


def test_rewrite_absorbs_position_deletes(spark, sf_dir, tmp_path):
    root = str(tmp_path / "r1")
    cust = load_table(spark, sf_dir, "customer").repartition(4)
    write_iceberg_table(spark, cust, root, coalesce_output=False)
    delete_iceberg_rows(spark, root, "c_custkey % 3 = 0")
    expect = cust.filter(~(F.col("c_custkey") % 3 == 0))
    assert _deletes(root)

    res = rewrite_iceberg_data_files(spark, root)
    assert res["files_rewritten"] == 4
    assert res["delete_manifests_dropped"] == 1
    assert res["rows_written"] == expect.count()
    # tombstones are gone from the NEW snapshot...
    assert not _deletes(root)
    # ...and the reader sees exactly the surviving rows
    _same_rows(read_iceberg(spark, root), expect)

    # rewritten footers carry parquet field ids (rename-safe)
    import pyarrow.parquet as pq

    meta = current_metadata(root)
    files = snapshot_files(meta, root)
    new = [f for f in files if "rewrite-" in f["path"]]
    assert new
    sch = pq.read_schema(new[0]["path"])
    assert sch.field(0).metadata and b"PARQUET:field_id" in sch.field(
        0
    ).metadata

    # the PREVIOUS snapshot still time-travels with its tombstones
    snaps = meta["snapshots"]
    assert len(snaps) == 3  # append, delete, replace
    assert snaps[-1]["summary"]["operation"] == "replace"
    old = read_iceberg(spark, root, snapshot_id=snaps[1]["snapshot-id"])
    _same_rows(old, expect)

    # second rewrite: nothing to absorb, no new snapshot
    v = res["version"]
    res2 = rewrite_iceberg_data_files(spark, root)
    assert res2["files_rewritten"] == 0 and res2["version"] == v


def test_rewrite_absorbs_equality_deletes_partitioned(
    spark, sf_dir, tmp_path
):
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    root = str(tmp_path / "r2")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    keys = [int(r.doc_id) for r in docs.filter("doc_id % 10 = 0").collect()]
    append_equality_deletes(
        root, [{"doc_id": k} for k in sorted(keys)], ["doc_id"]
    )
    expect = docs.filter("doc_id % 10 <> 0")
    _same_rows(read_iceberg(spark, root), expect)

    res = rewrite_iceberg_data_files(spark, root)
    # equality deletes conservatively rewrite every lower-sequenced file
    assert res["files_rewritten"] >= 1
    assert res["delete_manifests_dropped"] == 1
    assert not _deletes(root)
    _same_rows(read_iceberg(spark, root), expect)
    # partition tuples survive the rewrite (grouped per partition)
    meta = current_metadata(root)
    files = snapshot_files(meta, root)
    assert all(f["partition"].get("lang") for f in files)
    by_lang = {}
    for f in files:
        by_lang.setdefault(f["partition"]["lang"], 0)
        by_lang[f["partition"]["lang"]] += 1
    got_langs = {
        r.lang for r in read_iceberg(spark, root).select("lang").distinct().collect()
    }
    assert set(by_lang) == got_langs


def test_rewrite_bin_packs_small_files(spark, sf_dir, tmp_path):
    root = str(tmp_path / "r3")
    ords = load_table(spark, sf_dir, "orders").repartition(8)
    write_iceberg_table(spark, ords, root, coalesce_output=False)
    meta = current_metadata(root)
    assert len(snapshot_files(meta, root)) == 8

    res = rewrite_iceberg_data_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    assert res["files_rewritten"] == 8 and res["files_written"] < 8
    _same_rows(read_iceberg(spark, root), ords)


def test_rewrite_then_second_delete_composes(spark, sf_dir, tmp_path):
    """DELETE -> rewrite -> DELETE -> rewrite: sequence numbers stay
    monotonic and each step's reader state is exact."""
    root = str(tmp_path / "r4")
    nat = load_table(spark, sf_dir, "nation")
    write_iceberg_table(spark, nat, root)
    delete_iceberg_rows(spark, root, "n_nationkey % 5 = 2")
    rewrite_iceberg_data_files(spark, root)
    e1 = nat.filter(~(F.col("n_nationkey") % 5 == 2))
    _same_rows(read_iceberg(spark, root), e1)

    delete_iceberg_rows(spark, root, "n_nationkey % 5 = 3")
    e2 = e1.filter(~(F.col("n_nationkey") % 5 == 3))
    _same_rows(read_iceberg(spark, root), e2)
    rewrite_iceberg_data_files(spark, root)
    assert not _deletes(root)
    _same_rows(read_iceberg(spark, root), e2)


def test_rewrite_refuses_manifest_lake(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.sinks.files import FileSink, TableType

    root = str(tmp_path / "r5")
    sink = FileSink(
        path=root, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    nat = load_table(spark, sf_dir, "nation")
    sink.write_staging(nat, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    with pytest.raises(ValueError, match="manifest"):
        rewrite_iceberg_data_files(spark, root)


def test_rewrite_conflict_refuses(spark, sf_dir, tmp_path):
    """A snapshot that lands between scan and commit aborts the
    rewrite (its coordinates may be stale) without publishing."""
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        IcebergConcurrentModificationError,
    )
    from incubator_gobblin_spark.sinks import iceberg_maintenance as im

    root = str(tmp_path / "r6")
    nat = load_table(spark, sf_dir, "nation")
    write_iceberg_table(spark, nat, root)
    delete_iceberg_rows(spark, root, "n_nationkey % 2 = 0")

    real = im._metadata_versions
    calls = {"n": 0}

    def racy(meta_dir):
        calls["n"] += 1
        if calls["n"] == 2:  # the commit-loop re-check
            delete_iceberg_rows(spark, root, "n_nationkey = 1")
        return real(meta_dir)

    im._metadata_versions = racy
    try:
        with pytest.raises(IcebergConcurrentModificationError):
            rewrite_iceberg_data_files(spark, root)
    finally:
        im._metadata_versions = real
    # nothing was published by the aborted rewrite: the racer's delete
    # is the current state and reads exactly
    expect = nat.filter(
        ~((F.col("n_nationkey") % 2 == 0) | (F.col("n_nationkey") == 1))
    )
    _same_rows(read_iceberg(spark, root), expect)


# --------------------------------------------------------------- upsert


def test_upsert_iceberg_roundtrip_partitioned(spark, sf_dir, tmp_path):
    """CDC upsert: one snapshot carries the equality-delete manifest
    (killing older rows on the keys) AND the new data manifest at the
    same sequence number (so the new rows survive the strictly-before
    rule); the reader sees exactly the upserted state, and a later
    rewrite absorbs the accumulated deletes."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
    )

    root = str(tmp_path / "u1")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_iceberg_table(spark, docs, root, partition_by=["lang"])

    updates = docs.filter("doc_id % 7 = 0").withColumn(
        "n_chars", F.col("n_chars") + 100000
    )
    inserts = docs.filter("doc_id < 5").withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    source = updates.unionByName(inserts)
    res = upsert_iceberg_rows(spark, root, source, on="doc_id")
    assert res["rows_inserted"] == source.count()
    assert res["keys_deleted"] == source.select("doc_id").distinct().count()
    assert res["delete_files"] >= 1 and res["data_files"] >= 1

    expect = docs.filter("doc_id % 7 <> 0").unionByName(source)
    _same_rows(read_iceberg(spark, root), expect)
    # the snapshot genuinely carries equality deletes (merge-on-read)
    dels = _deletes(root)
    assert dels and all(d["content"] == 2 for d in dels)

    # a second upsert touching FIRST-upsert rows: newer wins (the new
    # delete's sequence number exceeds the first insert's)
    source2 = inserts.withColumn("n_chars", F.lit(7))
    upsert_iceberg_rows(spark, root, source2, on="doc_id")
    expect2 = docs.filter("doc_id % 7 <> 0").unionByName(updates).unionByName(
        source2
    )
    _same_rows(read_iceberg(spark, root), expect2)

    # maintenance absorbs the accumulated deletes; rows unchanged
    rewrite_iceberg_data_files(spark, root)
    assert not _deletes(root)
    _same_rows(read_iceberg(spark, root), expect2)


def test_upsert_refusals(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.functions.iceberg_transforms import (
        transform_expr,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    # transform-partitioned tables refuse (global eq-deletes + hive
    # staging can't express the hidden layout)
    root = str(tmp_path / "u2")
    derived = docs.withColumn(
        "b", transform_expr("truncate[100]", F.col("doc_id"), "long")
    )
    write_iceberg_table(
        spark,
        derived,
        root,
        partition_by=["b"],
        transform_spec=[
            {"name": "b", "transform": "truncate[100]", "source": "doc_id"}
        ],
    )
    with pytest.raises(ValueError, match="transform"):
        upsert_iceberg_rows(spark, root, docs, on="doc_id")

    # schema mismatch refuses
    root2 = str(tmp_path / "u3")
    write_iceberg_table(spark, docs, root2)
    with pytest.raises(ValueError, match="columns"):
        upsert_iceberg_rows(spark, root2, docs.drop("lang"), on="doc_id")


# --------------------------------------------------------- orphan removal


def test_remove_orphan_files_after_expire(spark, sf_dir, tmp_path):
    """The full physical lifecycle: delete -> rewrite -> expire
    snapshots -> remove orphans. Only files referenced by NO remaining
    snapshot die; the reader is unchanged throughout."""
    import time

    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        remove_iceberg_orphan_files,
    )

    root = str(tmp_path / "o1")
    cust = load_table(spark, sf_dir, "customer").repartition(3)
    write_iceberg_table(spark, cust, root, coalesce_output=False)
    delete_iceberg_rows(spark, root, "c_custkey % 3 = 0")
    rewrite_iceberg_data_files(spark, root)
    expect = cust.filter(~(F.col("c_custkey") % 3 == 0))
    _same_rows(read_iceberg(spark, root), expect)

    def _walk(sub):
        out = set()
        for dp, _dd, fns in os.walk(os.path.join(root, sub)):
            out.update(os.path.join(dp, f) for f in fns)
        return out

    before = _walk("data") | _walk("_deletes")
    # age everything so retention is not the variable under test
    old = time.time() - 10 * 3600
    for fp in before:
        os.utime(fp, (old, old))

    # retention guard
    with pytest.raises(ValueError, match="168"):
        remove_iceberg_orphan_files(root, retention_hours=0)

    # history still references the originals: no PARQUET is orphaned
    # yet (writer marker files like _SUCCESS are genuine orphans)
    dr0 = remove_iceberg_orphan_files(
        root, retention_hours=1, allow_short_retention=True, dry_run=True
    )
    assert not [c for c in dr0["candidates"] if c.endswith(".parquet")]
    remove_iceberg_orphan_files(
        root, retention_hours=1, allow_short_retention=True
    )
    _same_rows(read_iceberg(spark, root), expect)
    before = _walk("data") | _walk("_deletes")

    # expire history down to the rewritten snapshot, then the
    # originals and the absorbed delete parquet become orphans
    expire_iceberg_snapshots(root, keep_last=1)
    dr = remove_iceberg_orphan_files(
        root, retention_hours=1, allow_short_retention=True, dry_run=True
    )
    assert len(dr["candidates"]) >= 4  # 3 originals + >=1 delete file
    res = remove_iceberg_orphan_files(
        root, retention_hours=1, allow_short_retention=True
    )
    assert res["files_deleted"] == len(dr["candidates"])
    after = _walk("data") | _walk("_deletes")
    assert after < before
    # every surviving file is exactly the live set
    meta = current_metadata(root)
    live = {os.path.abspath(f["path"]) for f in snapshot_files(meta, root)}
    assert {os.path.abspath(p) for p in after} == live
    _same_rows(read_iceberg(spark, root), expect)


def test_remove_orphan_retention_spares_recent(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        remove_iceberg_orphan_files,
    )

    root = str(tmp_path / "o2")
    nat = load_table(spark, sf_dir, "nation")
    write_iceberg_table(spark, nat, root)
    delete_iceberg_rows(spark, root, "n_nationkey % 2 = 0")
    rewrite_iceberg_data_files(spark, root)
    expire_iceberg_snapshots(root, keep_last=1)
    # files were JUST written: a 1h window spares them all even
    # though they are genuinely orphaned
    res = remove_iceberg_orphan_files(
        root, retention_hours=1, allow_short_retention=True
    )
    assert res["files_deleted"] == 0


def test_upsert_refuses_type_mismatch(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
    )

    root = str(tmp_path / "u4")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_iceberg_table(spark, docs, root)
    widened = docs.withColumn("n_chars", F.col("n_chars").cast("double"))
    with pytest.raises(ValueError, match="types"):
        upsert_iceberg_rows(spark, root, widened, on="doc_id")


def test_rollback_iceberg_table(spark, sf_dir, tmp_path):
    """rollbackTo: metadata-only current-pointer move; the abandoned
    snapshot stays time-travelable, expire refuses to strand current."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        rollback_iceberg_table,
    )

    root = str(tmp_path / "rb1")
    nat = load_table(spark, sf_dir, "nation")
    write_iceberg_table(spark, nat, root)
    meta = current_metadata(root)
    base_sid = meta["current-snapshot-id"]
    delete_iceberg_rows(spark, root, "n_nationkey % 2 = 0")
    assert read_iceberg(spark, root).count() < nat.count()

    res = rollback_iceberg_table(root, base_sid)
    assert res["snapshot_id"] == base_sid
    _same_rows(read_iceberg(spark, root), nat)
    # the abandoned delete snapshot is still reachable by time travel
    meta = current_metadata(root)
    newer = [
        s["snapshot-id"]
        for s in meta["snapshots"]
        if s["snapshot-id"] != base_sid
    ]
    old = read_iceberg(spark, root, snapshot_id=newer[0])
    assert old.count() < nat.count()

    # unknown snapshot refuses; expire refuses to strand current
    with pytest.raises(ValueError, match="not in"):
        rollback_iceberg_table(root, 999999)
    with pytest.raises(ValueError, match="CURRENT"):
        expire_iceberg_snapshots(root, keep_last=1)

    # rollback to current: no new version
    v = res["version"]
    assert rollback_iceberg_table(root, base_sid)["version"] == v


# ------------------------------------------------------------------ refs


def test_refs_tag_read_and_expiry_root(spark, sf_dir, tmp_path):
    """spec §refs: a tag resolves in read_iceberg, pins its snapshot
    through expiry (retention root), and dropping it makes the
    snapshot expirable again."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        drop_iceberg_ref,
        set_iceberg_ref,
    )

    root = str(tmp_path / "refs1")
    nat = load_table(spark, sf_dir, "nation")
    write_iceberg_table(spark, nat, root)
    res = set_iceberg_ref(root, "audit-2026Q3")  # tag the pre-delete state
    base_sid = res["snapshot_id"]

    delete_iceberg_rows(spark, root, "n_nationkey % 2 = 0")
    delete_iceberg_rows(spark, root, "n_nationkey = 1")
    expect_now = nat.filter(
        ~((F.col("n_nationkey") % 2 == 0) | (F.col("n_nationkey") == 1))
    )

    # the tag reads the historical state by NAME
    _same_rows(read_iceberg(spark, root, snapshot_id="audit-2026Q3"), nat)
    with pytest.raises(FileNotFoundError, match="no ref"):
        read_iceberg(spark, root, snapshot_id="nope")

    # expiry keeps the ref-pinned snapshot even though keep_last=1
    expire_iceberg_snapshots(root, keep_last=1)
    meta = current_metadata(root)
    ids = {s["snapshot-id"] for s in meta["snapshots"]}
    assert base_sid in ids and len(ids) == 2
    _same_rows(read_iceberg(spark, root, snapshot_id="audit-2026Q3"), nat)
    _same_rows(read_iceberg(spark, root), expect_now)

    # drop the tag: the snapshot becomes expirable, files free up
    drop_iceberg_ref(root, "audit-2026Q3")
    expire_iceberg_snapshots(root, keep_last=1)
    meta = current_metadata(root)
    assert len(meta["snapshots"]) == 1
    with pytest.raises(FileNotFoundError, match="no ref"):
        read_iceberg(spark, root, snapshot_id="audit-2026Q3")
    _same_rows(read_iceberg(spark, root), expect_now)

    # unknown snapshot refuses; unknown drop refuses
    with pytest.raises(ValueError, match="not in"):
        set_iceberg_ref(root, "x", 424242)
    with pytest.raises(ValueError, match="no ref"):
        drop_iceberg_ref(root, "x")


def test_upsert_delete_manifest_uses_unpartitioned_spec(
    spark, sf_dir, tmp_path
):
    """Global equality deletes on a PARTITIONED table must be written
    under an UNPARTITIONED spec with an empty partition struct — per
    the spec (Scan Planning) only those apply globally; an all-null
    tuple under the partitioned spec would scope the deletes to "the
    null partition" for conformant foreign readers (Spark/Trino/
    PyIceberg), silently resurrecting every superseded row version."""
    from incubator_gobblin_spark.formats.avro_ocf import (
        decode_ocf,
        read_meta,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
    )

    root = str(tmp_path / "uspec")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    source = docs.filter("doc_id % 7 = 0").withColumn(
        "n_chars", F.col("n_chars") + 1
    )
    upsert_iceberg_rows(spark, root, source, on="doc_id")

    meta = current_metadata(root)
    default_spec = next(
        s
        for s in meta["partition-specs"]
        if s["spec-id"] == meta["default-spec-id"]
    )
    assert default_spec["fields"], "table must stay identity-partitioned"
    unpart = [s for s in meta["partition-specs"] if not s["fields"]]
    assert len(unpart) == 1, "metadata must declare the unpartitioned spec"
    unpart_id = unpart[0]["spec-id"]
    assert unpart_id != meta["default-spec-id"]

    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(snap["manifest-list"].replace("file://", ""), "rb") as fh:
        _, list_rows = decode_ocf(fh.read())
    del_rows = [r for r in list_rows if r["content"] == 1]
    assert del_rows, "the upsert must commit a delete manifest"
    for r in del_rows:
        assert r["partition_spec_id"] == unpart_id
        with open(r["manifest_path"].replace("file://", ""), "rb") as fh:
            raw = fh.read()
        hdr = read_meta(raw)
        _, entries = decode_ocf(raw)
        assert hdr.get("partition-spec-id") == b"%d" % unpart_id
        assert hdr.get("partition-spec") == b"[]"
        for e in entries:
            assert dict(e["data_file"]["partition"] or {}) == {}
    # data manifests stay on the partitioned default spec
    for r in list_rows:
        if r["content"] == 0:
            assert r["partition_spec_id"] == meta["default-spec-id"]
    # and the engine's own reader still applies the deletes globally
    expect = docs.filter("doc_id % 7 <> 0").unionByName(source)
    _same_rows(read_iceberg(spark, root), expect)

    # a second upsert reuses the declared spec — no duplicate entry
    upsert_iceberg_rows(
        spark,
        root,
        source.withColumn("n_chars", F.lit(7)),
        on="doc_id",
    )
    meta2 = current_metadata(root)
    assert (
        len([s for s in meta2["partition-specs"] if not s["fields"]]) == 1
    )
