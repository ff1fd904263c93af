"""Delta maintenance: write_delta_table / compact_delta_files / vacuum_delta.

Pins the OPTIMIZE + VACUUM lifecycle: deletes commit bitmaps
(test_delta_delete), compaction absorbs the bitmaps into clean
rewrites with dataChange=false, vacuum physically removes the
superseded files — with the reader seeing identical rows at every
step. Reference parity: gobblin-compaction MRCompactor (per-partition
rewrite jobs) + gobblin-data-management retention cleaners.
"""

import json
import os
import sys
import time

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.delta_delete import (  # noqa: E402
    delete_delta_rows,
)
from incubator_gobblin_spark.sinks.delta_maintenance import (  # noqa: E402
    compact_delta_files,
    vacuum_delta,
    write_delta_table,
)
from incubator_gobblin_spark.sources import delta_import  # noqa: E402
from incubator_gobblin_spark.sources.delta_import import (  # noqa: E402
    _log_versions,
    _replay_state,
    read_delta,
)


def _live(root):
    return _replay_state(os.path.join(root, "_delta_log"), None)


def _last_commit_actions(root):
    log_dir = os.path.join(root, "_delta_log")
    v = _log_versions(log_dir)[-1]
    with open(os.path.join(log_dir, f"{v:020d}.json")) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _same_rows(got, expect):
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


# ---------------------------------------------------------------- writer


def test_write_delta_table_roundtrip_with_stats(spark, sf_dir, tmp_path):
    root = str(tmp_path / "w1")
    nat = load_table(spark, sf_dir, "nation")
    res = write_delta_table(spark, nat, root)
    assert res["version"] == 0 and res["rows"] == nat.count()
    _same_rows(read_delta(spark, root), nat)
    live, meta, proto = _live(root)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    # footer-derived stats enable file skipping
    for a in live.values():
        st = json.loads(a["stats"])
        assert st["numRecords"] > 0
        assert "n_nationkey" in st["minValues"]
        assert st["maxValues"]["n_nationkey"] >= st["minValues"]["n_nationkey"]

    # mode=error refuses a second create
    with pytest.raises(FileExistsError):
        write_delta_table(spark, nat, root)


def test_write_delta_table_partitioned_append_overwrite(
    spark, sf_dir, tmp_path
):
    root = str(tmp_path / "w2")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(
        spark, nat, root, partition_by=["n_regionkey"]
    )
    _same_rows(read_delta(spark, root), nat)
    live, meta, _ = _live(root)
    assert meta["partitionColumns"] == ["n_regionkey"]
    # data files live under hive dirs and carry partitionValues
    from urllib.parse import unquote

    assert all("n_regionkey=" in unquote(rel) for rel in live)
    assert all(
        a["partitionValues"].get("n_regionkey") is not None
        for a in live.values()
    )

    extra = nat.withColumn("n_nationkey", F.col("n_nationkey") + 1000)
    res = write_delta_table(
        spark, extra, root, partition_by=["n_regionkey"], mode="append"
    )
    assert res["version"] == 1
    _same_rows(read_delta(spark, root), nat.unionByName(extra))

    res = write_delta_table(
        spark, nat, root, partition_by=["n_regionkey"], mode="overwrite"
    )
    assert res["version"] == 2
    _same_rows(read_delta(spark, root), nat)

    # append with a different schema refuses
    with pytest.raises(ValueError, match="schema"):
        write_delta_table(
            spark,
            nat.drop("n_name"),
            root,
            partition_by=["n_regionkey"],
            mode="append",
        )
    # append with different partitioning refuses
    with pytest.raises(ValueError, match="partition"):
        write_delta_table(spark, nat, root, mode="append")


def test_write_delta_table_null_partition_values(spark, tmp_path):
    root = str(tmp_path / "w3")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b c")], "k long, g string"
    )
    write_delta_table(spark, df, root, partition_by=["g"])
    _same_rows(read_delta(spark, root), df)
    live, _, _ = _live(root)
    pvs = {a["partitionValues"]["g"] for a in live.values()}
    assert None in pvs and "b c" in pvs


# ---------------------------------------------------------- compaction


@pytest.mark.parametrize(
    "cap",
    [delta_import.TOMBSTONE_BROADCAST_MAX_ROWS, 0],
    ids=["broadcast", "shuffle"],
)
def test_compact_absorbs_deletion_vectors(
    spark, sf_dir, tmp_path, monkeypatch, cap
):
    # cap=0: every DV anti-join (compaction's included) takes the
    # shuffle-join fallback; rows and commit shape must not change
    monkeypatch.setattr(delta_import, "TOMBSTONE_BROADCAST_MAX_ROWS", cap)
    root = str(tmp_path / "c1")
    cust = load_table(spark, sf_dir, "customer").repartition(4)
    write_delta_table(spark, cust, root, coalesce_output=False)
    delete_delta_rows(spark, root, "c_custkey % 3 = 0")
    expect = cust.filter(~(F.col("c_custkey") % 3 == 0))
    live_before, _, _ = _live(root)
    assert any(a.get("deletionVector") for a in live_before.values())

    res = compact_delta_files(
        spark, root, target_file_bytes=1 << 30,
        small_file_bytes=1 << 30,
    )
    assert res["dvs_absorbed"] >= 1
    assert res["rows_rewritten"] == expect.count()
    _same_rows(read_delta(spark, root), expect)

    live, _, _ = _live(root)
    assert not any(a.get("deletionVector") for a in live.values())
    # OPTIMIZE is dataChange=false throughout — streams skip it
    acts = _last_commit_actions(root)
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    )
    assert all(
        not a["remove"]["dataChange"] for a in acts if "remove" in a
    )
    assert any(
        a["commitInfo"]["operation"] == "OPTIMIZE"
        for a in acts
        if "commitInfo" in a
    )
    # superseded DV descriptors ride the removes for vacuum
    assert any(
        a["remove"].get("deletionVector") for a in acts if "remove" in a
    )


def test_compact_bin_packs_small_files(spark, sf_dir, tmp_path):
    root = str(tmp_path / "c2")
    ords = load_table(spark, sf_dir, "orders").repartition(8)
    write_delta_table(spark, ords, root, coalesce_output=False)
    live_before, _, _ = _live(root)
    assert len(live_before) == 8

    res = compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    assert res["files_compacted"] == 8
    assert res["files_written"] < 8
    _same_rows(read_delta(spark, root), ords)

    # second compact: nothing to do, no new version
    v = _log_versions(os.path.join(root, "_delta_log"))[-1]
    res2 = compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    assert res2["files_compacted"] == 0
    assert _log_versions(os.path.join(root, "_delta_log"))[-1] == v


def test_compact_partitioned_rewrites_only_dvd_group(
    spark, sf_dir, tmp_path
):
    root = str(tmp_path / "c3")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, partition_by=["n_regionkey"])
    # delete rows only in region 2; each partition already has ONE file
    delete_delta_rows(spark, root, "n_regionkey = 2 AND n_nationkey % 2 = 0")
    expect = nat.filter(
        ~((F.col("n_regionkey") == 2) & (F.col("n_nationkey") % 2 == 0))
    )
    res = compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=0
    )
    # only the DV'd partition rewrote (small_file_bytes=0 disables
    # bin-pack selection)
    assert res["groups_rewritten"] == 1
    assert res["dvs_absorbed"] == 1
    _same_rows(read_delta(spark, root), expect)
    live, _, _ = _live(root)
    assert not any(a.get("deletionVector") for a in live.values())
    # rewritten file landed in its partition dir with correct pv
    new = [a for a in live.values() if "part-c-" in a["path"]]
    assert new and all(
        a["partitionValues"]["n_regionkey"] == "2" for a in new
    )


def test_compact_column_mapped_name_mode(spark, tmp_path):
    """mode=name compaction rewrites in PHYSICAL name space: the new
    footers carry the physical column names, so mapped readers (ours
    and foreign) resolve them exactly like the originals."""
    root = str(tmp_path / "c4")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    physical = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], "`col-a` long, `col-c` long"
    )
    for tag in ("f1", "f2"):
        out_dir = os.path.join(root, "data", "w")
        physical.coalesce(1).write.mode("overwrite").parquet(out_dir)
        part = next(
            f
            for f in os.listdir(out_dir)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        os.rename(
            os.path.join(out_dir, part),
            os.path.join(root, "data", f"{tag}.parquet"),
        )
    fields = [
        {
            "name": "doc_id",
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "col-a",
            },
        },
        {
            "name": "n",
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "col-c",
            },
        },
    ]
    acts = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "t",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "name"},
                "createdTime": 0,
            }
        },
    ] + [
        {
            "add": {
                "path": f"data/{tag}.parquet",
                "partitionValues": {},
                "size": os.path.getsize(
                    os.path.join(root, "data", f"{tag}.parquet")
                ),
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        for tag in ("f1", "f2")
    ]
    with open(
        os.path.join(root, "_delta_log", f"{0:020d}.json"), "w"
    ) as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")

    delete_delta_rows(spark, root, "doc_id >= 30")
    res = compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    assert res["dvs_absorbed"] == 2
    got = read_delta(spark, root)
    assert got.columns == ["doc_id", "n"]
    assert got.count() == 60  # 2 files x 40 rows - 2 x 10 deleted
    assert got.filter("doc_id >= 30").count() == 0
    # new footers are in PHYSICAL name space
    import pyarrow.parquet as pq

    live, _, _ = _live(root)
    new_rel = next(rel for rel in live if "part-c-" in rel)
    names = pq.read_schema(os.path.join(root, new_rel)).names
    assert names == ["col-a", "col-c"]


def test_compact_refuses_manifest_lake_and_rowtracking(
    spark, sf_dir, tmp_path
):
    from tests.test_delta_delete import _export

    root = str(tmp_path / "c5")
    nat = load_table(spark, sf_dir, "nation")
    _export(spark, nat, root)
    with pytest.raises(ValueError, match="manifest"):
        compact_delta_files(spark, root)
    with pytest.raises(ValueError, match="manifest"):
        vacuum_delta(root, retention_hours=0, allow_short_retention=True)

    # rowTracking tables refuse: a rewrite must assign fresh baseRowIds
    root2 = str(tmp_path / "c6")
    write_delta_table(spark, nat, root2)
    log = os.path.join(root2, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                        "writerFeatures": [
                            "deletionVectors",
                            "rowTracking",
                        ],
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(ValueError, match="rowTracking"):
        compact_delta_files(spark, root2)


# -------------------------------------------------------------- vacuum


def test_vacuum_cleans_tombstoned_files_and_dvs(spark, sf_dir, tmp_path):
    root = str(tmp_path / "v1")
    cust = load_table(spark, sf_dir, "customer").repartition(3)
    write_delta_table(spark, cust, root, coalesce_output=False)
    delete_delta_rows(spark, root, "c_custkey % 4 = 1")
    expect = cust.filter(~(F.col("c_custkey") % 4 == 1))
    compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )

    def _data_files():
        return {
            fn
            for fn in os.listdir(root)
            if fn.endswith(".parquet") or fn.endswith(".bin")
        }

    before = _data_files()
    assert any(fn.startswith("deletion_vector_") for fn in before)

    # retention guard: short retention needs the explicit opt-in
    with pytest.raises(ValueError, match="168"):
        vacuum_delta(root, retention_hours=0)

    # dry run lists but deletes nothing
    dr = vacuum_delta(
        root, retention_hours=0, allow_short_retention=True, dry_run=True
    )
    assert dr["files_deleted"] == 0 and len(dr["candidates"]) >= 4
    assert _data_files() == before

    res = vacuum_delta(
        root, retention_hours=0, allow_short_retention=True
    )
    assert res["files_deleted"] == len(dr["candidates"])
    after = _data_files()
    # every DV bitmap and every tombstoned original is gone...
    assert not any(fn.startswith("deletion_vector_") for fn in after)
    live, _, _ = _live(root)
    assert after == {os.path.basename(a) for a in live}
    # ...and the reader still sees exactly the surviving rows
    _same_rows(read_delta(spark, root), expect)


def test_vacuum_retention_spares_recent_files(spark, sf_dir, tmp_path):
    root = str(tmp_path / "v2")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root)
    delete_delta_rows(spark, root, "n_nationkey = 0")
    compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    # files were just written: a 1h retention window spares them all
    res = vacuum_delta(
        root, retention_hours=1, allow_short_retention=True
    )
    assert res["files_deleted"] == 0

    # age ONE tombstoned file's MTIME past the cutoff: it must still
    # survive — its remove tombstone is seconds old, and retention ages
    # by deletionTimestamp (delta-spark's rule), protecting a weeks-old
    # file that OPTIMIZE/MERGE/RESTORE tombstoned moments ago
    live, _, _ = _live(root)
    tomb = next(
        fn
        for fn in os.listdir(root)
        if fn.endswith(".parquet")
        and fn not in {os.path.basename(a) for a in live}
    )
    old = time.time() - 7200
    os.utime(os.path.join(root, tomb), (old, old))
    res = vacuum_delta(
        root, retention_hours=1, allow_short_retention=True
    )
    assert res["files_deleted"] == 0
    assert os.path.exists(os.path.join(root, tomb))

    # once the TOMBSTONE itself ages past the window, the file goes
    log_dir = os.path.join(root, "_delta_log")
    for fn in os.listdir(log_dir):
        if not fn.endswith(".json"):
            continue
        fp = os.path.join(log_dir, fn)
        lines = []
        with open(fp) as fh:
            for line in fh:
                if not line.strip():
                    continue
                act = json.loads(line)
                if (
                    "remove" in act
                    and os.path.basename(act["remove"]["path"]) == tomb
                ):
                    act["remove"]["deletionTimestamp"] = int(old * 1000)
                lines.append(json.dumps(act))
        with open(fp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
    res = vacuum_delta(
        root, retention_hours=1, allow_short_retention=True
    )
    assert res["files_deleted"] == 1
    assert not os.path.exists(os.path.join(root, tomb))


# --------------------------------------------------------------- merge


def test_merge_upsert_roundtrip(spark, sf_dir, tmp_path):
    """MERGE = matched rows DV-deleted + all source rows appended in
    ONE commit: updates change values, inserts appear, untouched rows
    survive, and the data files of the matched rows are NOT rewritten."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        merge_delta_rows,
    )

    root = str(tmp_path / "m1")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, partition_by=["n_regionkey"])

    updates = (
        nat.filter("n_nationkey % 4 = 1")
        .withColumn("n_name", F.concat(F.lit("UPD_"), F.col("n_name")))
    )
    inserts = nat.filter("n_nationkey < 3").withColumn(
        "n_nationkey", F.col("n_nationkey") + 900
    )
    source = updates.unionByName(inserts)
    res = merge_delta_rows(spark, root, source, on="n_nationkey")
    assert res["rows_updated"] == updates.count()
    assert res["rows_inserted"] == source.count()
    assert res["dv_files"] >= 1 and res["files_added"] >= 1

    expect = nat.filter("n_nationkey % 4 <> 1").unionByName(source)
    got = read_delta(spark, root)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0

    acts = _last_commit_actions(root)
    assert any(
        a["commitInfo"]["operation"] == "MERGE"
        for a in acts
        if "commitInfo" in a
    )
    # merge is ONE version: v0 create, v1 merge
    assert _log_versions(os.path.join(root, "_delta_log"))[-1] == 1

    # second merge touching rows the FIRST merge inserted: the new
    # files' rows die by DV, the newer versions win
    source2 = inserts.withColumn("n_name", F.lit("FINAL"))
    merge_delta_rows(spark, root, source2, on="n_nationkey")
    got = read_delta(spark, root)
    assert got.filter("n_nationkey >= 900").count() == inserts.count()
    assert (
        got.filter("n_nationkey >= 900")
        .filter("n_name <> 'FINAL'")
        .count()
        == 0
    )

    # compaction then vacuums the merge's bitmaps away, rows unchanged
    before = got.count()
    compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    vacuum_delta(root, retention_hours=0, allow_short_retention=True)
    assert read_delta(spark, root).count() == before


def test_merge_pure_insert_and_refusals(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        merge_delta_rows,
    )

    root = str(tmp_path / "m2")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root)

    # no key overlap: a pure insert — no DVs, no removes
    inserts = nat.limit(2).withColumn(
        "n_nationkey", F.col("n_nationkey") + 5000
    )
    res = merge_delta_rows(spark, root, inserts, on="n_nationkey")
    assert res["rows_updated"] == 0 and res["dv_files"] == 0
    assert read_delta(spark, root).count() == nat.count() + 2

    with pytest.raises(ValueError, match="schema"):
        merge_delta_rows(
            spark, root, nat.drop("n_name"), on="n_nationkey"
        )

    from tests.test_delta_delete import _export

    lake = str(tmp_path / "m3")
    _export(spark, nat, lake)
    with pytest.raises(ValueError, match="manifest"):
        merge_delta_rows(spark, lake, nat, on="n_nationkey")


def test_write_delta_table_decimal_and_timestamp_stats(spark, tmp_path):
    """Columns whose footer bounds don't serialize to Delta-stats JSON
    (decimal) DROP their min/max instead of crashing or emitting a
    float-rounded (possibly TIGHTENED, hence wrong) bound; timestamps
    export in the engine's 'T'-separated ISO convention."""
    root = str(tmp_path / "w4")
    df = spark.sql(
        "SELECT id AS k, CAST(id AS DECIMAL(10,2)) AS d, "
        "timestamp'2021-03-04 05:06:07.123456' + make_interval(0,0,0,0,0,0,id) AS ts "
        "FROM range(5)"
    ).coalesce(1)
    write_delta_table(spark, df, root)
    got = read_delta(spark, root)
    assert got.count() == 5
    live, _, _ = _live(root)
    st = json.loads(next(iter(live.values()))["stats"])
    assert st["numRecords"] == 5
    assert "d" not in st.get("minValues", {})  # decimal bounds dropped
    assert st["minValues"]["ts"].startswith("2021-03-04T05:06:07")
    assert st["nullCount"]["k"] == 0


def test_compact_column_mapped_id_mode(spark, tmp_path):
    """mode=id compaction: the rewritten footers must carry
    parquet field ids (readers resolve by id, names are free), under
    the PHYSICAL column names, and a logically-renamed column still
    reads its values after the rewrite."""
    root = str(tmp_path / "cid")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    physical = spark.createDataFrame(
        [(i, i * 10) for i in range(40)], "x long, y long"
    ).select(
        F.col("x").alias("p1", metadata={"parquet.field.id": 1}),
        F.col("y").alias("p2", metadata={"parquet.field.id": 2}),
    )
    for tag in ("f1", "f2"):
        out_dir = os.path.join(root, "data", "w")
        physical.coalesce(1).write.mode("overwrite").parquet(out_dir)
        part = next(
            f
            for f in os.listdir(out_dir)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        os.rename(
            os.path.join(out_dir, part),
            os.path.join(root, "data", f"{tag}.parquet"),
        )
    fields = [
        {
            "name": "doc_id",
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "p1",
            },
        },
        {
            "name": "n",
            "type": "long",
            "nullable": True,
            "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "p2",
            },
        },
    ]
    acts = [
        {
            "protocol": {
                "minReaderVersion": 2,
                "minWriterVersion": 5,
            }
        },
        {
            "metaData": {
                "id": "t",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
                "createdTime": 0,
            }
        },
    ] + [
        {
            "add": {
                "path": f"data/{tag}.parquet",
                "partitionValues": {},
                "size": os.path.getsize(
                    os.path.join(root, "data", f"{tag}.parquet")
                ),
                "modificationTime": 0,
                "dataChange": True,
            }
        }
        for tag in ("f1", "f2")
    ]
    with open(
        os.path.join(root, "_delta_log", f"{0:020d}.json"), "w"
    ) as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")

    delete_delta_rows(spark, root, "doc_id >= 30")
    res = compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    assert res["dvs_absorbed"] == 2
    got = read_delta(spark, root)
    assert got.columns == ["doc_id", "n"]
    assert got.count() == 60
    assert got.agg(F.sum("n")).collect()[0][0] == 2 * sum(
        i * 10 for i in range(30)
    )
    # rewritten footers: PHYSICAL names + parquet field ids
    import pyarrow.parquet as pq

    live, _, _ = _live(root)
    new_rel = next(rel for rel in live if "part-c-" in rel)
    sch = pq.read_schema(os.path.join(root, new_rel))
    assert sch.names == ["p1", "p2"]
    assert sch.field(0).metadata[b"PARQUET:field_id"] == b"1"


def test_checkpoint_preserves_dvs_and_protocol_features(
    spark, sf_dir, tmp_path
):
    """A checkpoint is a COMPLETE replay source: after expire drops the
    JSON history, the checkpoint-trusting replay must still carry the
    deletion-vector descriptors and the (3,7) feature lists — a schema
    without either silently resurrects deleted rows / strips writer
    obligations."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        checkpoint_delta_table,
        expire_delta_log,
    )

    root = str(tmp_path / "cp1")
    cust = load_table(spark, sf_dir, "customer").repartition(3)
    write_delta_table(spark, cust, root, coalesce_output=False)
    delete_delta_rows(spark, root, "c_custkey % 5 = 2")
    expect = cust.filter(~(F.col("c_custkey") % 5 == 2))

    res = checkpoint_delta_table(root)
    assert res["version"] == 1 and res["adds"] == 3
    # expire prunes the pre-checkpoint JSON; replay now STARTS at the
    # checkpoint
    removed = expire_delta_log(root)
    assert removed == 1  # version 0's JSON
    log = os.path.join(root, "_delta_log")
    assert not os.path.exists(os.path.join(log, f"{0:020d}.json"))

    live, meta, proto = _live(root)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    assert "deletionVectors" in proto["writerFeatures"]
    dv_adds = [a for a in live.values() if a.get("deletionVector")]
    assert len(dv_adds) == 3
    got = read_delta(spark, root)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0

    # the lifecycle keeps composing on top of the checkpointed state:
    # a second delete unions into the replayed DVs
    delete_delta_rows(spark, root, "c_custkey % 5 = 3")
    expect2 = expect.filter(~(F.col("c_custkey") % 5 == 3))
    assert read_delta(spark, root).count() == expect2.count()

    # time travel to the pruned version raises the standard error
    with pytest.raises(Exception, match="0"):
        read_delta(spark, root, version=0)


def test_restore_delta_table(spark, sf_dir, tmp_path):
    """RESTORE TO VERSION: resurrects the historical live set (DV
    descriptors included), appends history instead of erasing it, and
    refuses when vacuum physically removed a needed file."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        restore_delta_table,
    )

    root = str(tmp_path / "rs1")
    cust = load_table(spark, sf_dir, "customer").repartition(2)
    write_delta_table(spark, cust, root, coalesce_output=False)  # v0
    delete_delta_rows(spark, root, "c_custkey % 3 = 0")  # v1 (DVs)
    compact_delta_files(                           # v2 (absorbs)
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    after_delete = cust.filter(~(F.col("c_custkey") % 3 == 0))

    # back to v0: everything returns
    res = restore_delta_table(spark, root, 0)
    assert res["version"] == 3 and res["files_added"] == 2
    got = read_delta(spark, root)
    assert got.count() == cust.count()
    assert got.exceptAll(cust).count() == 0

    # back to v1: the DV'd state returns, descriptors intact
    restore_delta_table(spark, root, 1)
    live, _, _ = _live(root)
    assert any(a.get("deletionVector") for a in live.values())
    got = read_delta(spark, root)
    assert got.count() == after_delete.count()

    # no-op restore to the current version
    v = _log_versions(os.path.join(root, "_delta_log"))[-1]
    assert restore_delta_table(spark, root, v)["files_added"] == 0

    # vacuumed-away versions are not restorable — refuse loudly
    restore_delta_table(spark, root, 2)  # compacted state current
    vacuum_delta(root, retention_hours=0, allow_short_retention=True)
    with pytest.raises(FileNotFoundError, match="no longer restorable"):
        restore_delta_table(spark, root, 0)


def test_restore_refuses_when_dv_bitmap_vacuumed(spark, sf_dir, tmp_path):
    """A historical add's deletion-vector BITMAP is a separate physical
    file vacuum may reclaim once compaction supersedes it — restoring
    that version must refuse (committing would leave HEAD referencing
    a missing vector and break every read), exactly like a vacuumed
    data file."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        restore_delta_table,
    )

    root = str(tmp_path / "rdv")
    cust = load_table(spark, sf_dir, "customer").repartition(2)
    write_delta_table(spark, cust, root, coalesce_output=False)  # v0
    delete_delta_rows(spark, root, "c_custkey % 3 = 0")   # v1 (DVs)
    compact_delta_files(                                  # v2 absorbs
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    # simulate vacuum reclaiming the superseded bitmaps
    dvs = [
        fn for fn in os.listdir(root) if fn.startswith("deletion_vector_")
    ]
    assert dvs
    for fn in dvs:
        os.remove(os.path.join(root, fn))
    with pytest.raises(FileNotFoundError, match="deletion vector"):
        restore_delta_table(spark, root, 1)
    # the failed restore committed NOTHING — the table still reads
    live, _, _ = _live(root)
    assert not any(a.get("deletionVector") for a in live.values())
    assert (
        read_delta(spark, root).count()
        == cust.filter(~(F.col("c_custkey") % 3 == 0)).count()
    )


def test_compact_rewrites_full_footer_stats(spark, sf_dir, tmp_path):
    """OPTIMIZE must RECOMPUTE full per-file stats (delta-spark does):
    numRecords-only adds would permanently degrade min/max file
    skipping on every compacted table."""
    root = str(tmp_path / "cstats")
    cust = load_table(spark, sf_dir, "customer").repartition(3)
    write_delta_table(spark, cust, root, coalesce_output=False)
    delete_delta_rows(spark, root, "c_custkey % 4 = 1")
    compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    live, _, _ = _live(root)
    assert live
    for a in live.values():
        st = json.loads(a["stats"])
        assert st["numRecords"] > 0
        assert "c_custkey" in st["minValues"]
        assert "c_custkey" in st["maxValues"]
        assert st["minValues"]["c_custkey"] <= st["maxValues"]["c_custkey"]
        assert st["nullCount"]["c_custkey"] == 0
