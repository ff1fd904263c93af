"""Delta change data feed: read_delta_changes + the writers' cdc
authorship (PROTOCOL.md §Add CDC File / §Change Data Files).

Pins: engine-written CDF tables (create with
delta.enableChangeDataFeed, MERGE emits update_preimage/
update_postimage/insert, DELETE emits delete rows net of standing
DVs); a HAND-AUTHORED foreign-style CDF table (raw JSON commits +
_change_data parquet written with no engine code) reads back exactly;
derivation for cdc-less commits (append=insert, remove=delete,
overwrite=both); OPTIMIZE invisibility; the delta-spark-style refusals
(interval not recorded, non-derivable rewrites); and vacuum's
referenced-cdc protection.
"""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.delta_delete import (  # noqa: E402
    delete_delta_rows,
)
from incubator_gobblin_spark.sinks.delta_maintenance import (  # noqa: E402
    compact_delta_files,
    merge_delta_rows,
    vacuum_delta,
    write_delta_table,
)
from incubator_gobblin_spark.sources.delta_cdf import (  # noqa: E402
    read_delta_changes,
)
from incubator_gobblin_spark.sources import delta_import  # noqa: E402
from incubator_gobblin_spark.sources.delta_import import (  # noqa: E402
    read_delta,
)

CDF_CONF = {"delta.enableChangeDataFeed": "true"}


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_engine_cdf_merge_delete_roundtrip(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cdf1")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    write_delta_table(
        spark, docs, root, partition_by=["lang"], configuration=CDF_CONF
    )  # v0: plain adds (insert, derived — no cdc actions needed)

    updates = docs.filter("doc_id % 9 = 0").withColumn(
        "n_chars", F.col("n_chars") + 5
    )
    inserts = docs.filter("doc_id < 3").withColumn(
        "doc_id", F.col("doc_id") + 500000
    )
    merge_delta_rows(
        spark, root, updates.unionByName(inserts), on="doc_id"
    )  # v1: cdc-authored MERGE
    delete_delta_rows(spark, root, "doc_id % 10 = 4")  # v2: cdc DELETE

    cols = ["doc_id", "lang", "n_chars", "_change_type"]
    ch = read_delta_changes(spark, root, 0)
    # v0: every base row an insert
    v0 = ch.filter("_commit_version = 0")
    assert _rows(v0, cols) == _rows(
        docs.withColumn("_change_type", F.lit("insert")), cols
    )
    # v1: preimages = old matched rows, postimages = updates,
    # inserts = the new keys
    v1 = ch.filter("_commit_version = 1")
    assert _rows(v1.filter("_change_type = 'update_preimage'"), cols[:3]) \
        == _rows(docs.filter("doc_id % 9 = 0"), cols[:3])
    assert _rows(v1.filter("_change_type = 'update_postimage'"), cols[:3]) \
        == _rows(updates, cols[:3])
    assert _rows(v1.filter("_change_type = 'insert'"), cols[:3]) == _rows(
        inserts, cols[:3]
    )
    # v2: deletes = the rows live at v1 matching the predicate
    after_v1 = docs.filter("doc_id % 9 <> 0").unionByName(
        updates
    ).unionByName(inserts)
    v2 = ch.filter("_commit_version = 2")
    assert _rows(v2, cols) == _rows(
        after_v1.filter("doc_id % 10 = 4").withColumn(
            "_change_type", F.lit("delete")
        ),
        cols,
    )
    # replication proof: the last change per key decides survival —
    # applying the feed rebuilds the table exactly
    final = read_delta(spark, root)
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("_commit_version").desc(),
        # within one version an update's postimage supersedes its
        # preimage
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(0).desc(),
    )
    last = (
        ch.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .filter("_change_type IN ('insert', 'update_postimage')")
        .select(*cols[:3])
    )
    assert _rows(last, cols[:3]) == _rows(final, cols[:3])


# cap=0: the DV anti-join decodes the standing vectors on executors and
# shuffle-joins them instead of decoding them on the driver and
# broadcasting them; the change set must not change
CAPS = pytest.mark.parametrize(
    "cap",
    [delta_import.TOMBSTONE_BROADCAST_MAX_ROWS, 0],
    ids=["broadcast", "shuffle"],
)


@CAPS
def test_cdf_delete_skips_already_dv_dead_rows(spark, sf_dir, tmp_path, monkeypatch, cap):
    """The second DELETE's change set must exclude rows the first
    DELETE already killed — re-reporting them would double-count in
    any downstream replication."""
    monkeypatch.setattr(delta_import, "TOMBSTONE_BROADCAST_MAX_ROWS", cap)
    root = str(tmp_path / "cdf2")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF, coalesce_output=False)
    delete_delta_rows(spark, root, "n_nationkey % 2 = 0")  # v1
    # overlapping predicate: %4=0 rows are already dead
    delete_delta_rows(spark, root, "n_nationkey % 4 = 0 OR n_nationkey = 7")

    ch = read_delta_changes(spark, root, 2, 2)
    got = sorted(r.n_nationkey for r in ch.collect())
    assert got == [7]
    assert ch.select("_change_type").distinct().collect()[0][0] == "delete"


@CAPS
def test_cdf_merge_preimage_skips_dv_dead_rows(spark, sf_dir, tmp_path, monkeypatch, cap):
    """A MERGE over standing deletion vectors reports as preimages only
    the matched rows still live; a source key whose row a DELETE
    already killed is an insert."""
    monkeypatch.setattr(delta_import, "TOMBSTONE_BROADCAST_MAX_ROWS", cap)
    root = str(tmp_path / "cdf_merge_dv")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF, coalesce_output=False)
    delete_delta_rows(spark, root, "n_nationkey % 2 = 0")  # v1
    source = nat.filter("n_nationkey BETWEEN 1 AND 6").withColumn(
        "n_regionkey", F.col("n_regionkey") + 10
    )
    merge_delta_rows(spark, root, source, on="n_nationkey")  # v2

    v2 = read_delta_changes(spark, root, 2, 2)
    kinds = {}
    for r in v2.collect():
        kinds.setdefault(r._change_type, []).append(r.n_nationkey)
    assert {k: sorted(v) for k, v in kinds.items()} == {
        "update_preimage": [1, 3, 5],
        "update_postimage": [1, 3, 5],
        "insert": [2, 4, 6],
    }
    assert _rows(read_delta(spark, root), nat.columns) == _rows(
        nat.filter("n_nationkey % 2 = 1 AND n_nationkey > 6").unionByName(source),
        nat.columns,
    )


def test_cdf_overwrite_and_append_derive(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cdf3")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF)  # v0
    extra = nat.withColumn("n_nationkey", F.col("n_nationkey") + 100)
    write_delta_table(spark, extra, root, mode="append")  # v1
    write_delta_table(spark, nat, root, mode="overwrite")  # v2

    cols = ["n_nationkey", "_change_type"]
    ch = read_delta_changes(spark, root, 1)
    v1 = ch.filter("_commit_version = 1")
    assert _rows(v1, cols) == _rows(
        extra.withColumn("_change_type", F.lit("insert")), cols
    )
    v2 = ch.filter("_commit_version = 2")
    # overwrite: every pre-overwrite row deleted, every new row inserted
    assert _rows(v2.filter("_change_type = 'delete'"), ["n_nationkey"]) \
        == _rows(nat.unionByName(extra), ["n_nationkey"])
    assert _rows(v2.filter("_change_type = 'insert'"), ["n_nationkey"]) \
        == _rows(nat, ["n_nationkey"])


def test_cdf_optimize_is_invisible(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cdf4")
    nat = load_table(spark, sf_dir, "nation").repartition(4)
    write_delta_table(spark, nat, root, configuration=CDF_CONF, coalesce_output=False)
    delete_delta_rows(spark, root, "n_nationkey = 3")  # v1
    compact_delta_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )  # v2: dataChange=false
    ch = read_delta_changes(spark, root, 2, 2)
    assert ch.count() == 0
    # the empty frame still carries the CDF schema
    assert "_change_type" in ch.columns and "_commit_version" in ch.columns


def test_cdf_refusals(spark, sf_dir, tmp_path):
    nat = load_table(spark, sf_dir, "nation")
    # (a) interval not recorded: plain table without the property
    root = str(tmp_path / "plain")
    write_delta_table(spark, nat, root)
    with pytest.raises(ValueError, match="not recorded|enableChangeDataFeed"):
        read_delta_changes(spark, root, 0)
    # (b) non-derivable rewrite: a cdc-less DV commit, hand-authored
    # the way a non-conformant writer would
    root2 = str(tmp_path / "rewrite")
    write_delta_table(spark, nat, root2, configuration=CDF_CONF)
    delete_delta_rows(spark, root2, "n_nationkey = 1")  # writes cdc
    log = os.path.join(root2, "_delta_log", f"{1:020d}.json")
    acts = [json.loads(line) for line in open(log) if line.strip()]
    acts = [a for a in acts if "cdc" not in a]  # strip the cdc actions
    with open(log, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")
    with pytest.raises(ValueError, match="not derivable|not recorded"):
        read_delta_changes(spark, root2, 0)


def test_hand_authored_foreign_cdf_table(spark, tmp_path):
    """A CDF table written with NO engine code — raw parquet via
    pandas/pyarrow + hand-built JSON commits, the way a foreign writer
    (delta-spark) lays it out — reads back change-for-change."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "foreign")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "_change_data"))

    def _commit(v, actions):
        with open(
            os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
        ) as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    def _parquet(rel, pdf):
        fp = os.path.join(root, rel)
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), fp)
        return os.path.getsize(fp)

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    # v0: create + two inserts (derived — no cdc)
    s0 = _parquet("part-0.parquet", pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    _commit(0, [
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
        {"metaData": {
            "id": "t-1", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {"delta.enableChangeDataFeed": "true"},
            "createdTime": 1000,
        }},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": s0, "modificationTime": 1000, "dataChange": True}},
    ])
    # v1: an UPDATE described ONLY by cdc (the file swap rides
    # add/remove which CDF must ignore)
    s1 = _parquet("part-1.parquet", pd.DataFrame({"k": [1, 2], "v": ["A", "b"]}))
    c1 = _parquet(
        "_change_data/cdc-1.parquet",
        pd.DataFrame({
            "k": [1, 1], "v": ["a", "A"],
            "_change_type": ["update_preimage", "update_postimage"],
        }),
    )
    _commit(1, [
        {"commitInfo": {"timestamp": 2000, "operation": "UPDATE"}},
        {"cdc": {"path": "_change_data/cdc-1.parquet",
                 "partitionValues": {}, "size": c1, "dataChange": False}},
        {"remove": {"path": "part-0.parquet", "deletionTimestamp": 2000,
                    "dataChange": True, "partitionValues": {}, "size": s0}},
        {"add": {"path": "part-1.parquet", "partitionValues": {},
                 "size": s1, "modificationTime": 2000, "dataChange": True}},
    ])
    # v2: a DELETE of k=2 described by cdc + file swap
    s2 = _parquet("part-2.parquet", pd.DataFrame({"k": [1], "v": ["A"]}))
    c2 = _parquet(
        "_change_data/cdc-2.parquet",
        pd.DataFrame({"k": [2], "v": ["b"], "_change_type": ["delete"]}),
    )
    _commit(2, [
        {"commitInfo": {"timestamp": 3000, "operation": "DELETE"}},
        {"cdc": {"path": "_change_data/cdc-2.parquet",
                 "partitionValues": {}, "size": c2, "dataChange": False}},
        {"remove": {"path": "part-1.parquet", "deletionTimestamp": 3000,
                    "dataChange": True, "partitionValues": {}, "size": s1}},
        {"add": {"path": "part-2.parquet", "partitionValues": {},
                 "size": s2, "modificationTime": 3000, "dataChange": True}},
    ])

    ch = read_delta_changes(spark, root, 0)
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version, r._commit_timestamp)
        for r in ch.collect()
    )
    assert got == sorted(
        [
            (1, "a", "insert", 0, 1000),
            (1, "a", "update_preimage", 1, 2000),
            (1, "A", "update_postimage", 1, 2000),
            (2, "b", "insert", 0, 1000),
            (2, "b", "delete", 2, 3000),
        ]
    )
    # windowed read: only the update
    ch1 = read_delta_changes(spark, root, 1, 1)
    assert ch1.count() == 2
    # and the snapshot reader agrees with the applied feed
    assert sorted(map(tuple, read_delta(spark, root).collect())) == [
        (1, "A")
    ]


def test_vacuum_protects_referenced_cdc_files(spark, sf_dir, tmp_path):
    root = str(tmp_path / "cdfv")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF, coalesce_output=False)
    delete_delta_rows(spark, root, "n_nationkey % 3 = 0")
    cd = os.path.join(root, "_change_data")
    cdc_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(cd)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert cdc_files
    # age everything; referenced cdc files must survive vacuum
    import time

    old = time.time() - 7200
    for fp in cdc_files:
        os.utime(fp, (old, old))
    orphan = os.path.join(cd, "cdc-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"x")
    os.utime(orphan, (old, old))
    vacuum_delta(root, retention_hours=1, allow_short_retention=True)
    assert all(os.path.exists(fp) for fp in cdc_files)
    assert not os.path.exists(orphan)
    # the feed still reads after vacuum
    assert read_delta_changes(spark, root, 1, 1).count() > 0


def test_deltastream_readchangefeed_mode(spark, sf_dir, tmp_path):
    """``deltastream`` with readChangeFeed=true: micro-batches carry
    change rows (updates AND deletes — no ignore*/skip* lossiness), a
    restarted query resumes from the checkpointed version and delivers
    only the NEW changes."""
    from incubator_gobblin_spark.sources import delta_stream

    delta_stream.register(spark)
    root = str(tmp_path / "cdfstream")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_delta_table(spark, nat, root, configuration=CDF_CONF)  # v0
    upd = nat.filter("n_nationkey < 3").withColumn(
        "n_name", F.lit("X")
    )
    merge_delta_rows(spark, root, upd, on="n_nationkey")  # v1

    def run_once():
        q = (
            spark.readStream.format("deltastream")
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

    run_once()
    got = spark.read.parquet(out)
    assert got.filter("_commit_version = 0").count() == nat.count()
    assert (
        got.filter(
            "_commit_version = 1 AND _change_type = 'update_postimage'"
        ).count()
        == 3
    )
    n_first = got.count()

    # new commits: a delete; the restarted stream delivers ONLY it
    delete_delta_rows(spark, root, "n_nationkey = 10")  # v2
    run_once()
    got2 = spark.read.parquet(out)
    assert got2.count() == n_first + 1
    new = got2.filter("_commit_version = 2").collect()
    assert len(new) == 1
    assert new[0]["_change_type"] == "delete"
    assert new[0]["n_nationkey"] == 10


def test_hand_authored_column_mapped_cdf_table(spark, tmp_path):
    """CDF over a columnMapping mode=name table (the Databricks
    default once mapping is enabled): data files, cdc files, and
    partitionValues are keyed by PHYSICAL column names; the feed
    renames back to logical names — _change_type itself is never
    mapped."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "mapped")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "_change_data"))

    def _commit(v, actions):
        with open(
            os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
        ) as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    def _parquet(rel, pdf):
        fp = os.path.join(root, rel)
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), fp)
        return os.path.getsize(fp)

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "col-aaa",
            }},
            {"name": "v", "type": "string", "nullable": True, "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "col-bbb",
            }},
        ],
    }
    proto = {
        "minReaderVersion": 2,
        "minWriterVersion": 7,
        "readerFeatures": ["columnMapping"],
        "writerFeatures": ["columnMapping", "changeDataFeed"],
    }
    s0 = _parquet(
        "part-0.parquet",
        pd.DataFrame({"col-aaa": [1, 2], "col-bbb": ["a", "b"]}),
    )
    _commit(0, [
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
        {"protocol": proto},
        {"metaData": {
            "id": "t-m", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {
                "delta.enableChangeDataFeed": "true",
                "delta.columnMapping.mode": "name",
            },
            "createdTime": 1000,
        }},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": s0, "modificationTime": 1000, "dataChange": True}},
    ])
    # v1: cdc-described update — PHYSICAL names in the cdc file
    s1 = _parquet(
        "part-1.parquet",
        pd.DataFrame({"col-aaa": [1, 2], "col-bbb": ["A", "b"]}),
    )
    c1 = _parquet(
        "_change_data/cdc-1.parquet",
        pd.DataFrame({
            "col-aaa": [1, 1], "col-bbb": ["a", "A"],
            "_change_type": ["update_preimage", "update_postimage"],
        }),
    )
    _commit(1, [
        {"commitInfo": {"timestamp": 2000, "operation": "UPDATE"}},
        {"cdc": {"path": "_change_data/cdc-1.parquet",
                 "partitionValues": {}, "size": c1, "dataChange": False}},
        {"remove": {"path": "part-0.parquet", "deletionTimestamp": 2000,
                    "dataChange": True, "partitionValues": {}, "size": s0}},
        {"add": {"path": "part-1.parquet", "partitionValues": {},
                 "size": s1, "modificationTime": 2000, "dataChange": True}},
    ])
    # v2: remove-only commit — the DERIVED delete reads the physical
    # file and renames back
    _commit(2, [
        {"commitInfo": {"timestamp": 3000, "operation": "DELETE"}},
        {"remove": {"path": "part-1.parquet", "deletionTimestamp": 3000,
                    "dataChange": True, "partitionValues": {}, "size": s1}},
    ])

    ch = read_delta_changes(spark, root, 0)
    assert [f for f in ch.columns[:2]] == ["k", "v"]
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version) for r in ch.collect()
    )
    assert got == sorted([
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (1, "a", "update_preimage", 1),
        (1, "A", "update_postimage", 1),
        (1, "A", "delete", 2),
        (2, "b", "delete", 2),
    ])

def test_hand_authored_id_mapped_cdf_table(spark, tmp_path):
    """CDF over a columnMapping mode=id table: data AND cdc parquet
    carry parquet field ids with physical on-disk names; the reader
    resolves table columns by FIELD ID (rename-safe) while the
    unmapped _change_type column resolves by name alongside them
    (r11 VERDICT ask 7 — the mode=name test cloned to id mode)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "idmapped")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "_change_data"))

    def _commit(v, actions):
        with open(
            os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
        ) as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    def _ids_parquet(rel, cols, with_ct=None):
        """Write parquet whose table columns carry PARQUET:field_id
        and PHYSICAL names — the id-mode writer's on-disk shape."""
        fields = [
            pa.field("col-aaa", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("col-bbb", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
        ]
        arrays = [
            pa.array(cols[0], pa.int64()),
            pa.array(cols[1], pa.string()),
        ]
        if with_ct is not None:
            fields.append(pa.field("_change_type", pa.string()))
            arrays.append(pa.array(with_ct, pa.string()))
        fp = os.path.join(root, rel)
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        pq.write_table(pa.table(dict(zip(
            [f.name for f in fields], arrays
        )), schema=pa.schema(fields)), fp)
        return os.path.getsize(fp)

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {
                "delta.columnMapping.id": 1,
                "delta.columnMapping.physicalName": "col-aaa",
            }},
            {"name": "v", "type": "string", "nullable": True, "metadata": {
                "delta.columnMapping.id": 2,
                "delta.columnMapping.physicalName": "col-bbb",
            }},
        ],
    }
    proto = {
        "minReaderVersion": 2,
        "minWriterVersion": 7,
        "readerFeatures": ["columnMapping"],
        "writerFeatures": ["columnMapping", "changeDataFeed"],
    }
    s0 = _ids_parquet("part-0.parquet", ([1, 2], ["a", "b"]))
    _commit(0, [
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
        {"protocol": proto},
        {"metaData": {
            "id": "t-id", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema), "partitionColumns": [],
            "configuration": {
                "delta.enableChangeDataFeed": "true",
                "delta.columnMapping.mode": "id",
            },
            "createdTime": 1000,
        }},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": s0, "modificationTime": 1000, "dataChange": True}},
    ])
    # v1: cdc-described update — field ids in the cdc file, unmapped
    # _change_type riding alongside
    s1 = _ids_parquet("part-1.parquet", ([1, 2], ["A", "b"]))
    c1 = _ids_parquet(
        "_change_data/cdc-1.parquet",
        ([1, 1], ["a", "A"]),
        with_ct=["update_preimage", "update_postimage"],
    )
    _commit(1, [
        {"commitInfo": {"timestamp": 2000, "operation": "UPDATE"}},
        {"cdc": {"path": "_change_data/cdc-1.parquet",
                 "partitionValues": {}, "size": c1, "dataChange": False}},
        {"remove": {"path": "part-0.parquet", "deletionTimestamp": 2000,
                    "dataChange": True, "partitionValues": {}, "size": s0}},
        {"add": {"path": "part-1.parquet", "partitionValues": {},
                 "size": s1, "modificationTime": 2000, "dataChange": True}},
    ])
    # v2: remove-only commit — the DERIVED delete resolves by field id
    _commit(2, [
        {"commitInfo": {"timestamp": 3000, "operation": "DELETE"}},
        {"remove": {"path": "part-1.parquet", "deletionTimestamp": 3000,
                    "dataChange": True, "partitionValues": {}, "size": s1}},
    ])

    ch = read_delta_changes(spark, root, 0)
    assert [f for f in ch.columns[:2]] == ["k", "v"]
    got = sorted(
        (r.k, r.v, r._change_type, r._commit_version) for r in ch.collect()
    )
    assert got == sorted([
        (1, "a", "insert", 0),
        (2, "b", "insert", 0),
        (1, "a", "update_preimage", 1),
        (1, "A", "update_postimage", 1),
        (1, "A", "delete", 2),
        (2, "b", "delete", 2),
    ])


def test_cdf_refuses_mid_interval_schema_change(spark, sf_dir, tmp_path):
    """A schema change inside the requested interval refuses (the
    delta-spark CDC rule) — silently reading older change files under
    the new schema would null-fill instead of erroring."""
    root = str(tmp_path / "schemachange")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF, coalesce_output=False)
    delete_delta_rows(spark, root, "n_nationkey = 5")  # v1
    # simulate a foreign writer evolving the schema at v2
    log = os.path.join(root, "_delta_log", f"{2:020d}.json")
    meta = {
        "id": "t-evolved",
        "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps({
            "type": "struct",
            "fields": [
                {"name": "n_nationkey", "type": "long",
                 "nullable": True, "metadata": {}},
                {"name": "brand_new", "type": "string",
                 "nullable": True, "metadata": {}},
            ],
        }),
        "partitionColumns": [],
        "configuration": {"delta.enableChangeDataFeed": "true"},
        "createdTime": 99,
    }
    with open(log, "w") as fh:
        fh.write(json.dumps({"metaData": meta}) + "\n")
    with pytest.raises(ValueError, match="schema changed"):
        read_delta_changes(spark, root, 0)
    # split at the change: the pre-change half still reads
    assert read_delta_changes(spark, root, 0, 1).count() > 0


def test_chunked_cdf_matches_unbounded_and_resumes(spark, sf_dir, tmp_path):
    """read_delta_changes_chunked over a backlog deeper than the chunk
    size: concatenated chunks equal one unbounded call, and restarting
    from a committed chunk watermark (+1) yields exactly the
    un-applied suffix."""
    from incubator_gobblin_spark.sources.delta_cdf import (
        read_delta_changes_chunked,
    )

    root = str(tmp_path / "cdfchunks")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).limit(60)
    write_delta_table(spark, docs, root, configuration=CDF_CONF)  # v0
    delete_delta_rows(spark, root, "doc_id % 9 = 1")  # v1
    for bump in range(1, 5):  # v2..v5
        merge_delta_rows(
            spark, root,
            docs.limit(4).withColumn("n_chars", F.col("n_chars") + bump),
            on="doc_id",
        )
    cols = ["doc_id", "lang", "n_chars", "_change_type", "_commit_version"]
    want = _rows(read_delta_changes(spark, root, 0, max_versions=64), cols)

    chunks = list(read_delta_changes_chunked(spark, root, 0,
                                             chunk_versions=2))
    assert [i["ending_version"] for i, _ in chunks] == [1, 3, 5]
    got = sorted(t for _, df in chunks for t in _rows(df, cols))
    assert got == want

    # crash-resume: chunk 1 applied (watermark 1) -> restart at 2
    resumed = list(read_delta_changes_chunked(spark, root, 2,
                                              chunk_versions=2))
    assert [i["ending_version"] for i, _ in resumed] == [3, 5]
    tail_want = sorted(
        t for _, df in chunks[1:] for t in _rows(df, cols)
    )
    assert sorted(
        t for _, df in resumed for t in _rows(df, cols)
    ) == tail_want

    # up-to-date watermark yields nothing
    assert list(read_delta_changes_chunked(spark, root, 6)) == []
