"""delete_delta_rows — protocol-true Delta DELETE via deletion vectors.

Pins the PROTOCOL.md §Deletion Vectors writer shape: touched files are
remove+re-add-ed with a DV descriptor (data untouched), fully-dead
files are removed outright, repeat deletes union positions into a fresh
vector, the protocol upgrades to table-features form exactly once with
legacy-implied features carried forward, and tables whose declared
writer obligations a DV delete cannot honor refuse loudly.
"""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.delta_delete import (  # noqa: E402
    DeltaConcurrentModificationError,
    delete_delta_rows,
)
from incubator_gobblin_spark.sinks.files import FileSink, TableType  # noqa: E402
from incubator_gobblin_spark.sources.delta_import import (  # noqa: E402
    _log_versions,
    _replay_state,
    read_delta,
)


def _export(spark, df, root, **sink_kw):
    sink = FileSink(
        path=root,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        **sink_kw,
    )
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_delta_log()
    return sink


def _live(root):
    live, meta, proto = _replay_state(
        os.path.join(root, "_delta_log"), None
    )
    return live, meta, proto


def test_dv_delete_roundtrip_and_protocol_upgrade(spark, sf_dir, tmp_path):
    """Basic DELETE: rows vanish from read_delta, data files stay on
    disk untouched, the legacy (1,2) protocol upgrades to (3,7) with
    its implied features carried forward, and stats loosen to
    tightBounds=false while keeping the PHYSICAL numRecords."""
    root = str(tmp_path / "dvdel")
    nat = load_table(spark, sf_dir, "nation")
    _export(spark, nat, root)
    before_files = {
        f for f in os.listdir(os.path.join(root, "_data", "r0"))
    }

    res = delete_delta_rows(spark, root, "n_nationkey % 5 = 2")
    expect = nat.filter(~(F.col("n_nationkey") % 5 == 2))
    got = read_delta(spark, root)
    assert got.count() == expect.count()
    assert (
        got.exceptAll(expect).count() == 0
        and expect.exceptAll(got).count() == 0
    )
    assert res["rows_deleted"] == nat.count() - expect.count()
    assert res["files_removed"] == 0 and res["dv_files"] >= 1

    # data files untouched (delete wrote only DV bitmaps + one JSON)
    assert before_files == set(os.listdir(os.path.join(root, "_data", "r0")))
    live, meta, proto = _live(root)
    assert proto["minReaderVersion"] == 3
    assert proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]
    # legacy minWriterVersion=2 implied appendOnly+invariants — the
    # upgrade must list them (PROTOCOL.md §Table Features)
    assert {"appendOnly", "invariants", "deletionVectors"} <= set(
        proto["writerFeatures"]
    )
    dv_adds = [a for a in live.values() if a.get("deletionVector")]
    assert dv_adds
    for a in dv_adds:
        st = json.loads(a["stats"])
        assert st["tightBounds"] is False
        # numRecords stays the PHYSICAL count (spec: DV does not change
        # file statistics)
        assert st["numRecords"] > 0


def test_dv_delete_union_on_repeat_and_remove_carries_old_dv(
    spark, sf_dir, tmp_path
):
    """A second DELETE on an already-DV'd file unions positions into a
    replacement vector; its commit carries the superseded descriptor on
    the remove (vacuum cleans the old bitmap file) and emits NO second
    protocol action."""
    root = str(tmp_path / "dvdel2")
    nat = load_table(spark, sf_dir, "nation")
    _export(spark, nat, root)
    delete_delta_rows(spark, root, "n_nationkey % 5 = 2")
    res2 = delete_delta_rows(spark, root, "n_nationkey % 5 = 4")

    expect = nat.filter(
        ~(F.col("n_nationkey") % 5 == 2) & ~(F.col("n_nationkey") % 5 == 4)
    )
    got = read_delta(spark, root)
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0
    # the second commit: no protocol action, removes carry the old DV
    log_dir = os.path.join(root, "_delta_log")
    v2 = _log_versions(log_dir)[-1]
    with open(os.path.join(log_dir, f"{v2:020d}.json")) as fh:
        acts = [json.loads(line) for line in fh if line.strip()]
    assert not any("protocol" in a for a in acts)
    removes = [a["remove"] for a in acts if "remove" in a]
    assert removes and all(r.get("deletionVector") for r in removes)
    # descriptor cardinality equals the union, not just the new batch
    live, _, _ = _live(root)
    card = sum(
        int(a["deletionVector"]["cardinality"])
        for a in live.values()
        if a.get("deletionVector")
    )
    assert card == nat.count() - expect.count()
    assert res2["rows_deleted"] == nat.filter(
        (F.col("n_nationkey") % 5 == 4)
    ).count()


def test_dv_delete_full_file_removes_outright(spark, tmp_path):
    """A predicate covering EVERY row of a file removes the file (no
    re-add, no vector written); other files keep theirs."""
    root = str(tmp_path / "dvfull")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.col("id") < 50).cast("string").alias("half"),
    )
    _export(spark, df, root, partition_by=["half"])
    live0, _, _ = _live(root)
    res = delete_delta_rows(spark, root, "half = 'true'")
    assert res["files_removed"] >= 1 and res["dv_files"] == 0
    assert res["rows_deleted"] == 50
    live, _, _ = _live(root)
    assert len(live) == len(live0) - res["files_removed"]
    assert not any(a.get("deletionVector") for a in live.values())
    got = read_delta(spark, root)
    assert got.count() == 50
    assert got.filter(F.col("half") == "true").count() == 0
    # no orphan bitmap was written for the fully-dead file
    assert not [
        f for f in os.listdir(root) if f.startswith("deletion_vector_")
    ]


def test_dv_delete_zero_match_commits_nothing(spark, sf_dir, tmp_path):
    root = str(tmp_path / "dvzero")
    _export(spark, load_table(spark, sf_dir, "region"), root)
    v0 = _log_versions(os.path.join(root, "_delta_log"))[-1]
    res = delete_delta_rows(spark, root, "r_regionkey > 1000000")
    assert res["rows_deleted"] == 0
    assert _log_versions(os.path.join(root, "_delta_log"))[-1] == v0


def test_dv_delete_refusals(spark, sf_dir, tmp_path):
    """appendOnly tables, CDF+column-mapped tables, icebergCompat
    tables and unknown writerFeatures all refuse BEFORE touching the
    log. (Plain CDF tables no longer refuse: the DELETE authors
    _change_data files — tests/test_delta_cdf.py pins that.)"""
    from tests.test_manifest_commit import _append_delta_commit

    root = str(tmp_path / "dvref")
    _export(spark, load_table(spark, sf_dir, "region"), root)
    live, meta, _ = _live(root)

    def _with_conf(conf):
        m = dict(meta)
        m["configuration"] = conf
        _append_delta_commit(root, [{"metaData": m}])

    _with_conf({"delta.appendOnly": "true"})
    with pytest.raises(ValueError, match="appendOnly"):
        delete_delta_rows(spark, root, "r_regionkey = 0")
    _with_conf(
        {
            "delta.enableChangeDataFeed": "true",
            "delta.columnMapping.mode": "name",
        }
    )
    with pytest.raises(ValueError, match="changeDataFeed|column mapping"):
        delete_delta_rows(spark, root, "r_regionkey = 0")
    _with_conf({"delta.enableIcebergCompatV2": "true"})
    with pytest.raises(ValueError, match="IcebergCompat"):
        delete_delta_rows(spark, root, "r_regionkey = 0")
    _with_conf({})
    _append_delta_commit(
        root,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": [],
                       "writerFeatures": ["variantType-preview"]}}],
    )
    with pytest.raises(ValueError, match="variantType-preview"):
        delete_delta_rows(spark, root, "r_regionkey = 0")
    # nothing above committed a version of its own
    log_dir = os.path.join(root, "_delta_log")
    with open(
        os.path.join(log_dir, f"{_log_versions(log_dir)[-1]:020d}.json")
    ) as fh:
        assert "protocol" in fh.read()


def test_dv_delete_encodable_partition_chars(spark, tmp_path):
    """Partition values with spaces and '+' produce percent-encoded
    file paths; the matched-coordinate join and the descriptor keying
    must survive them (the ADVICE decoded-path discipline)."""
    root = str(tmp_path / "dv space+dir")
    df = spark.createDataFrame(
        [(i, "a b" if i % 2 == 0 else "c+d") for i in range(40)],
        "k long, g string",
    )
    _export(spark, df, root, partition_by=["g"])
    res = delete_delta_rows(spark, root, "k % 4 = 1")  # only g='c+d' rows
    assert res["rows_deleted"] == 10
    got = read_delta(spark, root)
    assert got.count() == 30
    assert got.filter((F.col("k") % 4 == 1)).count() == 0
    assert got.filter(F.col("g") == "a b").count() == 20


@pytest.mark.parametrize("mode", ["name", "id"])
def test_dv_delete_column_mapped_table(spark, tmp_path, mode):
    """DELETE by LOGICAL column name on a column-mapped table: the
    predicate resolves through physicalName metadata (mode=name) or
    parquet field ids (mode=id), and the re-added file keeps its
    physical partitionValues keys."""
    root = str(tmp_path / "dvcolmap")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    physical = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "a long, c long"
    ).select(
        F.col("a").alias("col-a", metadata={"parquet.field.id": 1}),
        F.col("c").alias("col-c", metadata={"parquet.field.id": 2}),
    )
    out_dir = os.path.join(root, "data", "w")
    physical.coalesce(1).write.parquet(out_dir)
    part = next(
        f for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    fp = os.path.join(root, "data", "f1.parquet")
    os.rename(os.path.join(out_dir, part), fp)
    fields = [
        {"name": "doc_id", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-a"}},
        {"name": "n", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-c"}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "t", "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": mode},
                "createdTime": 0,
            }},
            {"add": {"path": "data/f1.parquet", "partitionValues": {},
                     "size": os.path.getsize(fp), "modificationTime": 0,
                     "dataChange": True}},
        ]:
            fh.write(json.dumps(act) + "\n")

    res = delete_delta_rows(spark, root, "doc_id >= 15")
    assert res["rows_deleted"] == 5
    got = read_delta(spark, root)
    assert got.columns == ["doc_id", "n"]
    assert got.count() == 15
    assert got.agg(F.max("doc_id")).collect()[0][0] == 14
    # legacy reader v2 implied columnMapping — upgrade carries it
    _, _, proto = _live(root)
    assert "columnMapping" in proto["readerFeatures"]
    assert "deletionVectors" in proto["readerFeatures"]


def test_dv_delete_conflict_raises_not_corrupts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Losing the commit race to a writer that CHANGED the live state
    raises DeltaConcurrentModificationError (positions were computed
    against a stale snapshot); the delete commit is NOT written."""
    import incubator_gobblin_spark.sinks.delta_delete as dd

    root = str(tmp_path / "dvrace")
    nat = load_table(spark, sf_dir, "nation")
    _export(spark, nat, root)
    log_dir = os.path.join(root, "_delta_log")
    real_link = os.link
    fired = {}

    def racing_link(src, dst):
        if not fired.get("x") and dst.startswith(log_dir):
            fired["x"] = True
            # a racer wins this version with a state-changing commit
            with open(dst, "w") as fh:
                fh.write(json.dumps(
                    {"remove": {"path": next(iter(_live(root)[0])),
                                "deletionTimestamp": 0,
                                "dataChange": True}}) + "\n")
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(dd.os, "link", racing_link)
    with pytest.raises(DeltaConcurrentModificationError, match="advanced"):
        delete_delta_rows(spark, root, "n_nationkey % 5 = 2")
    # the racer's commit is the log head; no delete commit follows it
    head = _log_versions(log_dir)[-1]
    with open(os.path.join(log_dir, f"{head:020d}.json")) as fh:
        assert "DELETE" not in fh.read()


def test_dv_delete_metadata_only_racer_raises(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE-wave r10: a racer that changes ONLY metadata/protocol
    (same live file set) must also abort the DELETE — its commit may
    add obligations this DELETE validated against the OLD state
    (appendOnly, CDF, new writer features), and our protocol action
    computed from the old protocol would clobber the racer's feature
    list."""
    import incubator_gobblin_spark.sinks.delta_delete as dd

    root = str(tmp_path / "dvmetarace")
    nat = load_table(spark, sf_dir, "nation")
    _export(spark, nat, root)
    log_dir = os.path.join(root, "_delta_log")
    real_link = os.link
    fired = {}

    def racing_link(src, dst):
        if not fired.get("x") and dst.startswith(log_dir):
            fired["x"] = True
            _, meta, _ = _replay_state(log_dir, None)
            meta = dict(meta)
            meta["configuration"] = dict(
                meta.get("configuration") or {},
                **{"delta.appendOnly": "true"},
            )
            with open(dst, "w") as fh:
                fh.write(json.dumps({"metaData": meta}) + "\n")
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(dd.os, "link", racing_link)
    with pytest.raises(DeltaConcurrentModificationError, match="advanced"):
        delete_delta_rows(spark, root, "n_nationkey % 5 = 1")
    # the racer's metadata commit is the head; no DELETE followed it
    head = _log_versions(log_dir)[-1]
    with open(os.path.join(log_dir, f"{head:020d}.json")) as fh:
        assert "DELETE" not in fh.read()
