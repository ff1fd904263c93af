"""Adversarial pass over the r11 CDC surfaces (r11 VERDICT ask 5):

- delta_cdf's cdc-less derivation when the removed file carries a
  STANDING deletion vector (a foreign writer's pure whole-file delete
  on a DV'd table) — the derived deletes must be the live rows only;
- the no-op-DV-commit skip's interaction with CDF sidecars — a
  replayed keyed delete that skips the commit must also reclaim its
  staged _change_data files, leaving no orphans and no phantom CDF
  rows;
- iceberg changelog parent recovery under MIXED position+equality
  delete files in ONE snapshot (the Flink-CDC commit shape), rows hit
  by both deduped — batch and stream faces agree;
- replicate's net-outcome collapse for delete-then-reinsert of the
  same key inside one window (the key must survive with the new row).
"""

import json
import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.session import load_table  # noqa: E402

# adversarial CDC replay constructions: correctness net, not per-commit gating — the slow
# marker keeps the default run inside the driver verify budget
# (run with -m slow; must stay green before every round)
import pytest

pytestmark = pytest.mark.slow

CDF_CONF = {"delta.enableChangeDataFeed": "true"}


@pytest.mark.parametrize("cap", [None, 0], ids=["broadcast", "shuffle"])
def test_cdf_derives_remove_of_dv_carrying_file(spark, sf_dir, tmp_path, monkeypatch, cap):
    """A cdc-less commit that REMOVES a file carrying a standing DV
    (foreign whole-file delete): the derived CDF deletes must be the
    file's LIVE rows — emitting the DV-dead positions too would
    resurrect already-reported deletes downstream. cap=0 decodes the
    vector on executors and shuffle-joins it; the rows must not change."""
    from incubator_gobblin_spark.sources import delta_import

    if cap is not None:
        monkeypatch.setattr(delta_import, "TOMBSTONE_BROADCAST_MAX_ROWS", cap)
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_cdf import read_delta_changes
    from incubator_gobblin_spark.sources.delta_import import _log_versions

    root = str(tmp_path / "dvrm")
    nat = load_table(spark, sf_dir, "nation").coalesce(1)
    write_delta_table(spark, nat, root, configuration=CDF_CONF)  # v0
    delete_delta_rows(spark, root, "n_nationkey % 3 = 0")  # v1: DV
    log_dir = os.path.join(root, "_delta_log")
    assert _log_versions(log_dir)[-1] == 1

    # hand-author v2: remove the (single) live file, dataChange=true,
    # NO cdc actions, NO re-add — a conformant pure delete commit
    acts = [
        json.loads(line)
        for line in open(os.path.join(log_dir, f"{1:020d}.json"))
        if line.strip()
    ]
    add = next(a["add"] for a in acts if "add" in a)
    assert add.get("deletionVector"), "fixture must carry a DV"
    v2 = [
        {"commitInfo": {"timestamp": 1, "operation": "DELETE"}},
        {
            "remove": {
                "path": add["path"],
                "deletionTimestamp": 1,
                "dataChange": True,
                "partitionValues": add.get("partitionValues") or {},
                "deletionVector": add["deletionVector"],
            }
        },
    ]
    with open(os.path.join(log_dir, f"{2:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in v2) + "\n")

    ch = read_delta_changes(spark, root, 2, 2)
    assert ch.select("_change_type").distinct().collect()[0][0] == "delete"
    got = sorted(r.n_nationkey for r in ch.collect())
    want = sorted(
        r.n_nationkey for r in nat.filter("n_nationkey % 3 <> 0").collect()
    )
    assert got == want  # live rows only — never the DV-dead ones


def test_noop_replayed_delete_reclaims_cdc_sidecars(
    spark, sf_dir, tmp_path
):
    """A replayed keyed DELETE whose every matched position is already
    dead skips the commit (no new version) AND reclaims its staged
    _change_data files — orphan cdc parquet would survive vacuum
    forever, and a phantom commit would double-report the deletes."""
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_cdf import read_delta_changes
    from incubator_gobblin_spark.sources.delta_import import _log_versions

    root = str(tmp_path / "noop")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF)  # v0
    ids = nat.filter("n_nationkey % 4 = 1").select("n_nationkey")
    delete_delta_rows(spark, root, ids=ids, on=["n_nationkey"])  # v1
    log_dir = os.path.join(root, "_delta_log")
    assert _log_versions(log_dir)[-1] == 1

    def _cdc_files():
        cdir = os.path.join(root, "_change_data")
        if not os.path.isdir(cdir):
            return set()
        return {
            os.path.join(dp, f)
            for dp, _, fs in os.walk(cdir)
            for f in fs
        }

    before = _cdc_files()
    assert before, "the first keyed delete must stage cdc files"

    # the replay: identical keys, all already dead
    res = delete_delta_rows(spark, root, ids=ids, on=["n_nationkey"])
    assert res["rows_deleted"] == 0
    assert _log_versions(log_dir)[-1] == 1  # no new version
    assert _cdc_files() == before  # no orphan sidecars left behind
    # CDF over the whole history reports the delete exactly once
    ch = read_delta_changes(spark, root, 0)
    dels = ch.filter("_change_type = 'delete'")
    assert sorted(r.n_nationkey for r in dels.collect()) == sorted(
        r.n_nationkey for r in ids.collect()
    )


def _merge_pos_and_eq_into_one_snapshot(root: str) -> None:
    """Rewrite the table at ``root`` (s0=data, s1=pos deletes, s2=eq
    deletes) into (s0, s2') where s2' carries BOTH delete manifests in
    one snapshot — the Flink-CDC commit shape (same-checkpoint
    position + equality deletes)."""
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _MANIFEST_LIST_AVRO,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        _decode_avro_rows,
        _local_path,
        current_metadata,
    )

    meta_dir = os.path.join(root, "metadata")
    meta = current_metadata(root)
    snaps = sorted(meta["snapshots"], key=lambda s: s["sequence-number"])
    s0, s1, s2 = snaps

    def _mlist_rows(snap):
        p = _local_path(snap["manifest-list"])
        if not os.path.isabs(p):
            p = os.path.join(root, p)
        return _decode_avro_rows(p)

    rows2 = _mlist_rows(s2)
    pos_rows = [r for r in _mlist_rows(s1) if r.get("content") == 1]
    assert pos_rows, "s1 must carry a delete manifest"
    merged = rows2 + [
        r
        for r in pos_rows
        if r["manifest_path"]
        not in {x["manifest_path"] for x in rows2}
    ]
    mpath = os.path.join(meta_dir, "snap-merged-mixed.avro")
    with open(mpath, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                merged,
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    s2m = dict(s2)
    s2m["manifest-list"] = mpath
    s2m["parent-snapshot-id"] = s0["snapshot-id"]
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    raw = json.load(open(os.path.join(meta_dir, f"v{v}.metadata.json")))
    raw["snapshots"] = [
        s for s in raw["snapshots"]
        if s["snapshot-id"] in (s0["snapshot-id"], s2["snapshot-id"])
    ]
    for s in raw["snapshots"]:
        if s["snapshot-id"] == s2["snapshot-id"]:
            s["manifest-list"] = mpath
            s["parent-snapshot-id"] = s0["snapshot-id"]
    with open(os.path.join(meta_dir, f"v{v + 1}.metadata.json"), "w") as fh:
        json.dump(raw, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(v + 1))


def test_changelog_mixed_pos_and_eq_deletes_one_snapshot(
    spark, sf_dir, tmp_path
):
    """ONE snapshot carrying BOTH a position-delete file and an
    equality-delete file (the Flink-CDC checkpoint shape), with
    overlapping hits: the changelog must emit each killed row exactly
    ONCE (coordinate dedupe across tombstone kinds), batch and stream
    agreeing with the snapshot reader's survivor set."""
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
        append_position_deletes,
    )
    from incubator_gobblin_spark.sources import iceberg_stream
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    root = str(tmp_path / "mixed")
    sink = FileSink(
        path=root, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .coalesce(1)
    )
    sink.write_staging(docs, "base")
    sink.publish("base")
    sink.export_iceberg()  # s0

    meta = current_metadata(root)
    files = snapshot_files(meta, root, meta["current-snapshot-id"])
    assert len(files) == 1
    data_path = files[0]["path"]
    # positions are file row order = the written DataFrame order
    rows = docs.collect()
    pos_kill = [i for i, r in enumerate(rows) if r.doc_id % 6 == 1][:20]
    pos_ids = {rows[i].doc_id for i in pos_kill}
    eq_ids = {r.doc_id for r in rows if r.doc_id % 9 == 1}
    overlap = pos_ids & eq_ids
    assert overlap, "fixture needs rows hit by BOTH tombstone kinds"

    append_position_deletes(root, [(data_path, i) for i in pos_kill])  # s1
    append_equality_deletes(
        root, [{"doc_id": int(k)} for k in sorted(eq_ids)], ["doc_id"]
    )  # s2
    _merge_pos_and_eq_into_one_snapshot(root)  # (s0, s2'|mixed)

    killed = pos_ids | eq_ids
    survivors = [tuple(r) for r in rows if r.doc_id not in killed]
    assert sorted(
        map(tuple, read_iceberg(spark, root).collect())
    ) == sorted(survivors)

    meta = current_metadata(root)
    s0_id = next(
        s["snapshot-id"]
        for s in meta["snapshots"]
        if s.get("parent-snapshot-id") is None
    )
    ch = read_iceberg_changelog(spark, root, s0_id)
    assert (
        ch.select("_change_type").distinct().collect()[0][0] == "delete"
    )
    got = sorted(r.doc_id for r in ch.collect())
    assert got == sorted(killed), "each killed row exactly once"

    # the STREAM face agrees
    iceberg_stream.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
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
    sdels = spark.read.parquet(out).filter("_change_type = 'delete'")
    assert sorted(r.doc_id for r in sdels.collect()) == sorted(killed)


def test_replicate_delete_then_reinsert_same_key_one_window(
    spark, sf_dir, tmp_path
):
    """Delete-then-reinsert of one key inside a single replication
    window: the net outcome is the REINSERTED row (never a deletion,
    never the old row) — both job directions."""
    from incubator_gobblin_spark.jobs.replicate import (
        replicate_delta_to_iceberg,
        replicate_iceberg_to_delta,
    )
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        merge_delta_rows,
        write_delta_table,
    )
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.delta_import import read_delta
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    reborn = docs.filter("doc_id = 0").withColumn(
        "n_chars", F.col("n_chars") * 0 - 77
    )

    # Delta -> Iceberg
    src_d = str(tmp_path / "src_d")
    dst_i = str(tmp_path / "dst_i")
    write_delta_table(spark, docs, src_d, configuration=CDF_CONF)
    replicate_delta_to_iceberg(spark, src_d, dst_i, on="doc_id")
    delete_delta_rows(spark, src_d, "doc_id = 0")      # v1
    merge_delta_rows(spark, src_d, reborn, on="doc_id")  # v2
    replicate_delta_to_iceberg(spark, src_d, dst_i, on="doc_id")
    got = read_iceberg(spark, dst_i).filter("doc_id = 0").collect()
    assert len(got) == 1 and got[0].n_chars == -77
    assert sorted(map(tuple, read_iceberg(spark, dst_i).collect())) == \
        sorted(map(tuple, read_delta(spark, src_d).collect()))

    # Iceberg -> Delta
    src_i = str(tmp_path / "src_i")
    dst_d = str(tmp_path / "dst_d")
    write_iceberg_table(spark, docs, src_i)
    replicate_iceberg_to_delta(spark, src_i, dst_d, on="doc_id")
    delete_iceberg_rows(spark, src_i, "doc_id = 0")       # s1
    upsert_iceberg_rows(spark, src_i, reborn, on="doc_id")  # s2
    replicate_iceberg_to_delta(spark, src_i, dst_d, on="doc_id")
    got = read_delta(spark, dst_d).filter("doc_id = 0").collect()
    assert len(got) == 1 and got[0].n_chars == -77
    assert sorted(map(tuple, read_delta(spark, dst_d).collect())) == \
        sorted(map(tuple, read_iceberg(spark, src_i).collect()))


def test_changelog_same_snapshot_pos_deletes_on_added_files(
    spark, sf_dir, tmp_path
):
    """Position deletes MAY target data files added in the SAME
    snapshot (spec: pos deletes apply at seq <=, unlike equality's
    strictly-before — Flink's same-checkpoint dedupe shape). The
    changelog must NOT surface those never-live rows as inserts, in
    batch or stream (iceberg-core attaches the snapshot's deletes to
    AddedRowsScanTask)."""
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )
    from incubator_gobblin_spark.sources import iceberg_stream
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    root = str(tmp_path / "samesnap")
    sink = FileSink(
        path=root, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .coalesce(1)
    )
    base = docs.filter("doc_id % 2 = 0")
    extra = docs.filter("doc_id % 2 = 1")
    sink.write_staging(base, "base")
    sink.publish("base")
    sink.export_iceberg()  # s0
    sink.write_staging(extra.coalesce(1), "extra")
    sink.publish("extra")
    sink.export_iceberg()  # s1: adds the extra file
    meta = current_metadata(root)
    s0_id, s1_id = (s["snapshot-id"] for s in sorted(
        meta["snapshots"], key=lambda s: s["sequence-number"]
    ))
    files_s1 = snapshot_files(meta, root, s1_id)
    files_s0 = {f["path"] for f in snapshot_files(meta, root, s0_id)}
    added = next(f["path"] for f in files_s1 if f["path"] not in files_s0)
    rows = extra.collect()
    dead_pos = [i for i, r in enumerate(rows) if r.doc_id % 10 == 1][:15]
    dead_ids = {rows[i].doc_id for i in dead_pos}
    assert dead_ids
    append_position_deletes(root, [(added, i) for i in dead_pos])  # s2

    # fold s2 into s1: one snapshot that ADDS the file AND pos-deletes
    # rows of it (s2's manifest list already carries everything)
    import json

    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    raw = json.load(open(os.path.join(meta_dir, f"v{v}.metadata.json")))
    s2 = next(s for s in raw["snapshots"] if s["sequence-number"] == 3)
    s2["parent-snapshot-id"] = s0_id
    raw["snapshots"] = [
        s for s in raw["snapshots"]
        if s["sequence-number"] in (1, 3)
    ]
    json.dump(raw, open(os.path.join(meta_dir, f"v{v + 1}.metadata.json"), "w"))
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write(str(v + 1))

    live_extra = [tuple(r) for r in rows if r.doc_id not in dead_ids]
    # the snapshot reader agrees the dead rows never lived
    assert sorted(map(tuple, read_iceberg(spark, root).collect())) == \
        sorted([tuple(r) for r in base.collect()] + live_extra)

    ch = read_iceberg_changelog(spark, root, s0_id)
    ins = ch.filter("_change_type = 'insert'")
    assert sorted(map(tuple, ins.select("doc_id", "lang", "n_chars")
                      .collect())) == sorted(live_extra)
    assert ch.filter("_change_type = 'delete'").count() == 0

    # the stream face agrees
    iceberg_stream.register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
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
    got = spark.read.parquet(out)
    s_ins = got.filter(
        f"_change_type = 'insert' AND _commit_snapshot_id = {s2['snapshot-id']}"
    )
    assert sorted(
        map(tuple, s_ins.select("doc_id", "lang", "n_chars").collect())
    ) == sorted(live_extra)


def test_replicate_refuses_v1_iceberg_source(spark, sf_dir, tmp_path):
    """A format-v1 Iceberg source (snapshots without sequence-number)
    refuses loudly — the consumed-sequence watermark would default to
    0 forever and silently stop replicating."""
    import json

    from incubator_gobblin_spark.jobs.replicate import (
        replicate_iceberg_to_delta,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )

    src = str(tmp_path / "v1src")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).limit(20)
    write_iceberg_table(spark, docs, src)
    meta_dir = os.path.join(src, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    for s in raw["snapshots"]:
        s.pop("sequence-number", None)
    json.dump(raw, open(mp, "w"))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="format v1"):
        replicate_iceberg_to_delta(
            spark, src, str(tmp_path / "dst"), on="doc_id"
        )


def test_cdf_derived_delete_restores_partition_values_from_state(
    spark, tmp_path
):
    """A cdc-less remove WITHOUT partitionValues (extendedFileMetadata
    =false is legal per PROTOCOL.md) on a partitioned CDF table: the
    derived delete rows must restore the partition column from the
    standing add in the replayed state — not null-fill it."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.sources.delta_cdf import read_delta_changes

    root = str(tmp_path / "nopv")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "p=1"))
    fp = os.path.join(root, "p=1", "part-0.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"k": [1, 2]}), preserve_index=False
        ),
        fp,
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "p", "type": "string", "nullable": True,
             "metadata": {}},
        ],
    }

    def _commit(v, actions):
        with open(
            os.path.join(root, "_delta_log", f"{v:020d}.json"), "w"
        ) as fh:
            fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    _commit(0, [
        {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "t-pv", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["p"],
            "configuration": {"delta.enableChangeDataFeed": "true"},
            "createdTime": 1000,
        }},
        {"add": {"path": "p=1/part-0.parquet",
                 "partitionValues": {"p": "1"},
                 "size": os.path.getsize(fp), "modificationTime": 1000,
                 "dataChange": True}},
    ])
    # v1: remove with NO partitionValues (extendedFileMetadata=false)
    _commit(1, [
        {"commitInfo": {"timestamp": 2000, "operation": "DELETE"}},
        {"remove": {"path": "p=1/part-0.parquet",
                    "deletionTimestamp": 2000, "dataChange": True}},
    ])

    ch = read_delta_changes(spark, root, 1, 1)
    got = sorted((r.k, r.p, r._change_type) for r in ch.collect())
    assert got == [(1, "1", "delete"), (2, "1", "delete")]


def test_cdf_refuses_unsupported_reader_feature_at_v0(spark, tmp_path):
    """read_delta_changes must run the reader-protocol gate for
    start=0 intervals (and mid-interval protocol upgrades) — a table
    requiring a reader feature this engine doesn't implement refuses
    instead of misreading."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.sources.delta_cdf import read_delta_changes

    root = str(tmp_path / "feat")
    os.makedirs(os.path.join(root, "_delta_log"))
    fp = os.path.join(root, "part-0.parquet")
    pq.write_table(
        pa.Table.from_pandas(pd.DataFrame({"k": [1]}), preserve_index=False),
        fp,
    )
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}},
    ]}
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in [
            {"commitInfo": {"timestamp": 1000, "operation": "WRITE"}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["typeWidening"],
                          "writerFeatures": ["typeWidening"]}},
            {"metaData": {
                "id": "t-f", "format": {"provider": "parquet",
                                        "options": {}},
                "schemaString": json.dumps(schema), "partitionColumns": [],
                "configuration": {"delta.enableChangeDataFeed": "true"},
                "createdTime": 1000,
            }},
            {"add": {"path": "part-0.parquet", "partitionValues": {},
                     "size": os.path.getsize(fp),
                     "modificationTime": 1000, "dataChange": True}},
        ]) + "\n")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="typeWidening"):
        read_delta_changes(spark, root, 0)


def test_cdf_state_base_from_checkpoint_after_log_cleanup(
    spark, sf_dir, tmp_path
):
    """External log cleanup that leaves a checkpoint but removes its
    commit JSON: a CDF read starting right after the checkpoint must
    replay the state base FROM the checkpoint instead of refusing."""
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        checkpoint_delta_table,
        merge_delta_rows,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_cdf import read_delta_changes

    root = str(tmp_path / "cpbase")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).limit(40)
    write_delta_table(spark, docs, root, configuration=CDF_CONF)  # v0
    merge_delta_rows(
        spark, root,
        docs.limit(4).withColumn("n_chars", F.col("n_chars") + 1),
        on="doc_id",
    )  # v1
    checkpoint_delta_table(root)  # checkpoint at v1
    delete_delta_rows(spark, root, "doc_id % 7 = 3")  # v2
    # external cleaner removes v0 AND v1 JSONs (v1 covered by the
    # checkpoint)
    log_dir = os.path.join(root, "_delta_log")
    for v in (0, 1):
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))

    ch = read_delta_changes(spark, root, 2, 2)
    assert ch.select("_change_type").distinct().collect()[0][0] == "delete"
    assert sorted(r.doc_id for r in ch.collect()) == sorted(
        r.doc_id for r in docs.filter("doc_id % 7 = 3").collect()
    )


def test_iceberg_changelog_refuses_mid_interval_column_set_change(
    spark, sf_dir, tmp_path
):
    """A column ADDED inside the changelog interval refuses with split
    guidance (the delta_cdf rule) — the parent recovery would
    otherwise fail opaquely or serve rows under the wrong column
    set."""
    import json

    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    root = str(tmp_path / "schmid")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).limit(30)
    write_iceberg_table(spark, docs, root)  # s0
    upsert_iceberg_rows(
        spark, root,
        docs.limit(3).withColumn("n_chars", F.col("n_chars") + 1),
        on="doc_id",
    )  # s1
    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    old = raw["schemas"][0]
    new_schema = {
        "type": "struct",
        "schema-id": old["schema-id"] + 1,
        "fields": old["fields"] + [
            {"id": 99, "name": "added_later", "required": False,
             "type": "string"},
        ],
    }
    raw["schemas"].append(new_schema)
    raw["current-schema-id"] = new_schema["schema-id"]
    raw["last-column-id"] = 99
    # s1 committed under the NEW schema; s0 stays on the old one
    snaps = sorted(raw["snapshots"], key=lambda s: s["sequence-number"])
    snaps[0]["schema-id"] = old["schema-id"]
    snaps[1]["schema-id"] = new_schema["schema-id"]
    json.dump(raw, open(mp, "w"))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema changed"):
        read_iceberg_changelog(spark, root, None)


def test_dv_upgrade_keeps_explicit_feature_lists(spark, sf_dir, tmp_path):
    """A table already on the table-features protocol (3/7) has
    EXPLICIT feature lists: the DV delete's protocol upgrade must add
    deletionVectors ONLY — force-adding every legacy-implied feature
    (appendOnly, checkConstraints, invariants...) would obligate
    readers/writers to features the table never declared."""
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import _replay_state

    root = str(tmp_path / "feat37")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root)
    log_dir = os.path.join(root, "_delta_log")
    # rewrite v0's protocol to explicit 3/7 with a minimal feature set
    p0 = os.path.join(log_dir, f"{0:020d}.json")
    acts = [json.loads(l) for l in open(p0) if l.strip()]
    for a in acts:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["columnMapping"],
                "writerFeatures": ["columnMapping"],
            }
    with open(p0, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")

    delete_delta_rows(spark, root, "n_nationkey = 3")
    _, _, proto = _replay_state(log_dir, None)
    assert sorted(proto["writerFeatures"]) == [
        "columnMapping", "deletionVectors",
    ]
    assert sorted(proto["readerFeatures"]) == [
        "columnMapping", "deletionVectors",
    ]


def test_write_iceberg_table_keeps_string_partition_type(
    spark, tmp_path
):
    """A STRING partition column whose values look numeric ('00123')
    must stay a string with its leading zeros — path-string inference
    would silently declare it long and corrupt the restored values."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    root = str(tmp_path / "zipcodes")
    df = spark.createDataFrame(
        [(1, "00123"), (2, "00456"), (3, "789")],
        "k long, zip string",
    )
    write_iceberg_table(spark, df, root, partition_by=["zip"])
    meta = current_metadata(root)
    zf = next(
        f for f in meta["schemas"][0]["fields"] if f["name"] == "zip"
    )
    assert zf["type"] == "string"
    got = sorted(map(tuple, read_iceberg(spark, root).collect()))
    assert got == [(1, "00123"), (2, "00456"), (3, "789")]
    # and the CDC upsert accepts the same frame (no type mismatch)
    upsert_iceberg_rows(
        spark, root,
        spark.createDataFrame([(1, "00123")], "k long, zip string"),
        on="k",
    )
    assert read_iceberg(spark, root).count() == 3


def test_rewrite_manifest_carries_spec_partition_field_ids(
    spark, sf_dir, tmp_path
):
    """Rewritten manifests must declare the spec's ACTUAL partition
    field ids — an evolved/foreign spec's ids need not start at 1000,
    and id-resolving readers would miss the partition values under
    positionally assigned ids."""
    import json
    import re

    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        rewrite_iceberg_data_files,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    root = str(tmp_path / "specid")
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .limit(40)
        .repartition(4)  # several files per partition: bin-pack work
    )
    write_iceberg_table(
        spark, docs, root, partition_by=["lang"], coalesce_output=False
    )
    # simulate an evolved spec: the (single) partition field id is 1001
    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    raw["partition-specs"][0]["fields"][0]["field-id"] = 1001
    raw["last-partition-id"] = 1001
    json.dump(raw, open(mp, "w"))

    before = sorted(map(tuple, read_iceberg(spark, root).collect()))
    res = rewrite_iceberg_data_files(
        spark, root, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    assert res.get("files_rewritten", 0) > 0, f"rewrite no-oped: {res}"
    after = sorted(map(tuple, read_iceberg(spark, root).collect()))
    assert after == before

    # the NEW manifest's avro partition struct declares field-id 1001
    meta = current_metadata(root)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        _decode_avro_rows,
        _local_path,
    )

    mlist = _local_path(cur["manifest-list"])
    if not os.path.isabs(mlist):
        mlist = os.path.join(root, mlist)
    new_manifests = [
        _local_path(r["manifest_path"])
        for r in _decode_avro_rows(mlist)
        if "rewrite" in r["manifest_path"]
        or str(cur["snapshot-id"]) in str(r.get("added_snapshot_id"))
    ]
    assert new_manifests
    found = False
    for m in new_manifests:
        if not os.path.isabs(m):
            m = os.path.join(root, m)
        head = open(m, "rb").read(8192)
        ids = re.findall(rb'"field-id":\s*(\d+)', head)
        if b"1001" in ids:
            found = True
        assert b"1000" not in ids, "positional id leaked into manifest"
    assert found


def test_rewrite_refuses_unsupported_partition_type_before_staging(
    spark, sf_dir, tmp_path
):
    """An identity partition whose value type the manifest encoding
    cannot carry (date) refuses UP FRONT — failing later inside the
    commit loop would orphan already-moved rewrite files."""
    import json

    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        rewrite_iceberg_data_files,
        write_iceberg_table,
    )

    root = str(tmp_path / "datetype")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).limit(30)
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    delete_iceberg_rows(spark, root, "doc_id % 3 = 0")  # give it work
    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    for f in raw["schemas"][0]["fields"]:
        if f["name"] == "lang":
            f["type"] = "date"
    json.dump(raw, open(mp, "w"))

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unsupported value type"):
        rewrite_iceberg_data_files(spark, root)
    # nothing staged, nothing orphaned
    assert not [d for d in os.listdir(root) if d.startswith(".rewrite-")]
    data_dir = os.path.join(root, "data")
    assert not [
        f
        for f in os.listdir(data_dir)
        if "rewrite" in f and f.endswith(".parquet")
    ]


def test_aborted_delete_reclaims_staged_dv_bitmaps(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A DELETE that loses the commit race to a state-changing racer
    must reclaim its staged deletion-vector bitmaps AND cdc sidecars —
    otherwise every lost race on a contended table permanently
    accumulates unreferenced files."""
    import incubator_gobblin_spark.sinks.delta_delete as DD
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        write_delta_table,
    )

    root = str(tmp_path / "race")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF)

    def _all_files():
        out = set()
        for dp, _, fs in os.walk(root):
            for f in fs:
                out.add(os.path.join(dp, f))
        return out

    real_build = DD.build_dv_descriptors
    fired = {"done": False}

    def racing_build(*a, **kw):
        rows = real_build(*a, **kw)
        if not fired["done"]:
            fired["done"] = True
            # the racer lands AFTER this delete scanned its state:
            # a genuine append that changes the live file set
            write_delta_table(
                spark,
                nat.limit(2).withColumn(
                    "n_nationkey", F.col("n_nationkey") + 500
                ),
                root,
                mode="append",
            )
        return rows

    monkeypatch.setattr(DD, "build_dv_descriptors", racing_build)
    before = _all_files()
    import pytest as _pytest

    with _pytest.raises(DD.DeltaConcurrentModificationError):
        DD.delete_delta_rows(spark, root, "n_nationkey % 2 = 0")
    after = _all_files()
    leaked = {
        f
        for f in after - before
        if "deletion_vector" in f or "_change_data" in f
    }
    assert not leaked, f"aborted delete leaked staged files: {leaked}"


def test_restore_authors_cdc_on_cdf_tables(spark, sf_dir, tmp_path):
    """RESTORE on a CDF-enabled table previously authored same-path
    remove+re-add and DV-carrying adds with NO cdc actions — a commit
    the engine's own CDF reader rejects as non-derivable. Restore now
    stages the exact row-level diff as _change_data: the feed reads
    clean across the restore and its net replay reconstructs the
    restored state."""
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        restore_delta_table,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_cdf import read_delta_changes
    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "restorecdf")
    nat = load_table(spark, sf_dir, "nation")
    write_delta_table(spark, nat, root, configuration=CDF_CONF)  # v0
    delete_delta_rows(spark, root, "n_nationkey % 3 = 1")  # v1
    res = restore_delta_table(spark, root, 0)  # v2
    assert res["version"] == 2

    ch = read_delta_changes(spark, root, 0)  # must not refuse
    v2 = ch.filter("_commit_version = 2")
    # the restore's change set = the deleted rows coming back
    assert v2.select("_change_type").distinct().collect()[0][0] == "insert"
    assert sorted(r.n_nationkey for r in v2.collect()) == sorted(
        r.n_nationkey for r in nat.filter("n_nationkey % 3 = 1").collect()
    )
    # net replay across the whole feed == the restored table
    from pyspark.sql.window import Window

    w = Window.partitionBy("n_nationkey").orderBy(
        F.col("_commit_version").desc(),
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), 1
        ).otherwise(0).desc(),
    )
    survivors = (
        ch.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .filter("_change_type IN ('insert', 'update_postimage')")
    )
    cols = nat.columns
    assert sorted(map(tuple, survivors.select(*cols).collect())) == sorted(
        map(tuple, read_delta(spark, root).collect())
    )


def test_global_delete_appenders_use_unpartitioned_spec(
    spark, sf_dir, tmp_path
):
    """GLOBAL position/equality deletes on a PARTITIONED table must
    ride an unpartitioned spec: under the partitioned spec their
    all-null tuple means 'the null partition' to conformant readers
    (Spark/Trino/PyIceberg), silently skipping the deletes everywhere
    real — the r10 high-severity fix, applied to the foreign-writer
    fixtures too."""
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
        append_position_deletes,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    root = str(tmp_path / "globspec")
    sink = FileSink(
        path=root,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        partition_by=["lang"],
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    sink.write_staging(docs, "base")
    sink.publish("base")
    sink.export_iceberg()  # s0 (partitioned spec 0)

    meta = current_metadata(root)
    files = snapshot_files(meta, root, meta["current-snapshot-id"])
    target = files[0]["path"]
    append_position_deletes(root, [(target, 0), (target, 1)])  # s1
    keys = sorted(
        int(r.doc_id)
        for r in docs.filter("doc_id % 10 = 7").select("doc_id").collect()
    )
    append_equality_deletes(
        root, [{"doc_id": k} for k in keys], ["doc_id"]
    )  # s2: GLOBAL

    meta = current_metadata(root)
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    _, dels = snapshot_files(
        meta, root, meta["current-snapshot-id"], collect_deletes=True
    )
    assert dels
    for d in dels:
        sp = specs[d["spec_id"]]
        assert sp["fields"] == [], (
            f"global delete file {d['path']} rides partitioned spec "
            f"{d['spec_id']} — conformant readers would scope it to "
            "the null partition"
        )
        assert not (d.get("partition") or {}), d
    # and the engine read still applies them
    live = read_iceberg(spark, root)
    assert live.filter(F.col("doc_id") % 10 == 7).count() == 0
    assert live.count() < docs.count()
