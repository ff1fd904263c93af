"""delete_iceberg_rows — predicate-driven Iceberg DELETE via position
delete files (spec §Position Delete Files, §Scan Planning).

Pins the writer shape: matched live rows become sorted (file_path, pos)
parquet with the spec's reserved field ids, committed as a content=1
delete manifest under an operation=delete snapshot that carries every
prior manifest by reference; successive deletes compose against the
already-tombstoned state; zero matches commit nothing; a lost commit
race against a state-changing writer raises instead of committing
stale coordinates; and a genuinely foreign reader (DuckDB, joining on
the spec's coordinates — no engine import code) reconstructs the same
surviving rows.
"""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.files import FileSink, TableType  # noqa: E402
from incubator_gobblin_spark.sinks.iceberg_delete import (  # noqa: E402
    IcebergConcurrentModificationError,
    delete_iceberg_rows,
)
from incubator_gobblin_spark.sinks.iceberg_maintenance import (  # noqa: E402
    write_iceberg_table,
)
from incubator_gobblin_spark.sources.iceberg_import import (  # noqa: E402
    current_metadata,
    norm_file_ref,
    read_iceberg,
    snapshot_files,
)

COLS = ["doc_id", "lang", "source", "n_chars"]


def _export(spark, df, root, **sink_kw):
    sink = FileSink(
        path=root,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        **sink_kw,
    )
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    return sink


def _rows(df, cols=COLS):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_iceberg_delete_two_rounds_compose(spark, sf_dir, tmp_path):
    """Two successive predicate deletes on a partitioned table: the
    second scans with the first's tombstones applied (no double-counted
    coordinates), both delete manifests ride the final manifest list,
    and the read-back equals the double-predicate filter value-for-
    value."""
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "d2")
    _export(spark, docs, root, partition_by=["lang"])

    m7 = docs.filter("doc_id % 7 = 3").count()
    r1 = delete_iceberg_rows(spark, root, "doc_id % 7 = 3")
    assert r1["rows_deleted"] == m7 and r1["delete_files"] >= 1

    m11 = docs.filter("doc_id % 11 = 5 AND doc_id % 7 != 3").count()
    r2 = delete_iceberg_rows(spark, root, "doc_id % 11 = 5")
    assert r2["rows_deleted"] == m11  # already-dead rows not re-deleted
    assert r2["version"] == r1["version"] + 1

    got = read_iceberg(spark, root)
    exp = docs.filter("doc_id % 7 != 3 AND doc_id % 11 != 5")
    assert _rows(got) == _rows(exp)

    meta = current_metadata(root)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    assert snap["summary"]["operation"] == "delete"
    assert snap["summary"]["deleted-records"] == str(m11)
    # a Column condition works the same as the SQL string form
    r3 = delete_iceberg_rows(spark, root, F.col("lang") == "de")
    got = read_iceberg(spark, root)
    exp = exp.filter("lang != 'de'")
    assert _rows(got) == _rows(exp)
    assert r3["rows_deleted"] > 0


def test_iceberg_delete_files_carry_spec_shape(spark, sf_dir, tmp_path):
    """The delete parquet itself is spec-exact: reserved field ids
    2147483546/2147483545, rows sorted by (file_path, pos), file_path
    strings equal to the manifest's data-file paths; the manifest entry
    is content=1 and its list row content=1 with the new sequence."""
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.formats.avro_ocf import (
        decode_ocf,
        read_meta,
    )

    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "shape")
    _export(spark, docs, root)
    delete_iceberg_rows(spark, root, "doc_id % 5 = 2")

    meta = current_metadata(root)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(snap["manifest-list"].replace("file://", ""), "rb") as fh:
        _, list_rows = decode_ocf(fh.read())
    del_lists = [r for r in list_rows if r["content"] == 1]
    assert len(del_lists) == 1
    assert del_lists[0]["sequence_number"] == snap["sequence-number"]
    with open(
        del_lists[0]["manifest_path"].replace("file://", ""), "rb"
    ) as fh:
        _, entries = decode_ocf(fh.read())
    assert entries and all(
        e["data_file"]["content"] == 1 and e["status"] == 1
        for e in entries
    )
    data_paths = {
        e["data_file"]["file_path"]
        for r in list_rows
        if r["content"] == 0
        for e in decode_ocf(
            open(r["manifest_path"].replace("file://", ""), "rb").read()
        )[1]
        if e["data_file"]["content"] == 0
    }
    for e in entries:
        dfp = e["data_file"]["file_path"].replace("file://", "")
        sch = pq.read_schema(dfp)
        fids = {
            f.name: (f.metadata or {}).get(b"PARQUET:field_id")
            for f in sch
        }
        assert fids["file_path"] == b"2147483546"
        assert fids["pos"] == b"2147483545"
        tbl = pq.read_table(dfp)
        rows = list(
            zip(
                tbl.column("file_path").to_pylist(),
                tbl.column("pos").to_pylist(),
            )
        )
        assert rows == sorted(rows)
        assert e["data_file"]["record_count"] == len(rows)
        # coordinates point at real manifest data-file paths, verbatim
        assert set(p for p, _ in rows) <= data_paths


def test_iceberg_delete_keeps_manifest_file_path_form(
    spark, sf_dir, tmp_path
):
    """A manifest whose data-file paths use Hadoop's single-slash
    ``file:/abs`` form: the position deletes must carry those strings
    verbatim, not a re-derived ``file:///abs`` — a reader matching by
    string (iceberg-java) would otherwise resurrect the rows."""
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.formats.avro_ocf import (
        decode_ocf,
        encode_ocf,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        snapshot_files,
    )

    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "hadoop_uri")
    _export(spark, docs, root)
    meta = current_metadata(root)
    snap = meta["snapshots"][-1]
    with open(snap["manifest-list"].replace("file://", ""), "rb") as fh:
        _, list_rows = decode_ocf(fh.read())
    manifest_paths = set()
    for r in list_rows:
        mpath = r["manifest_path"].replace("file://", "")
        with open(mpath, "rb") as fh:
            schema, entries = decode_ocf(fh.read())
        for e in entries:
            fp = e["data_file"]["file_path"]
            assert fp.startswith("file:///")
            e["data_file"]["file_path"] = "file:" + fp[len("file://"):]
            manifest_paths.add(e["data_file"]["file_path"])
        with open(mpath, "wb") as fh:
            fh.write(encode_ocf(schema, entries, codec="null"))

    r = delete_iceberg_rows(spark, root, "doc_id % 5 = 2")
    assert r["rows_deleted"] == docs.filter("doc_id % 5 = 2").count()
    _, dels = snapshot_files(
        current_metadata(root), root, collect_deletes=True
    )
    written = {
        p
        for d in dels
        for p in pq.read_table(d["path"]).column("file_path").to_pylist()
    }
    assert written and written <= manifest_paths
    assert _rows(read_iceberg(spark, root)) == _rows(
        docs.filter("doc_id % 5 != 2")
    )


def test_iceberg_delete_foreign_duckdb_reconstruction(
    spark, sf_dir, tmp_path
):
    """A genuinely foreign reader applies our delete files with NO
    engine import code: DuckDB reads the data parquet with
    file_row_number and anti-joins the delete parquet on the spec's
    (file_path, pos) coordinates — the surviving rows must equal both
    read_iceberg's view and the predicate's complement."""
    import duckdb

    from incubator_gobblin_spark.formats.avro_ocf import (
        decode_ocf,
        read_meta,
    )

    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "foreign")
    _export(spark, docs, root)  # unpartitioned: files carry all columns
    delete_iceberg_rows(spark, root, "doc_id % 3 = 1")

    meta = current_metadata(root)
    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(snap["manifest-list"].replace("file://", ""), "rb") as fh:
        _, list_rows = decode_ocf(fh.read())
    data_files, del_files = [], []
    for r in list_rows:
        with open(r["manifest_path"].replace("file://", ""), "rb") as fh:
            _, entries = decode_ocf(fh.read())
        for e in entries:
            if e["status"] == 2:  # DELETED entry
                continue
            p = e["data_file"]["file_path"].replace("file://", "")
            (del_files if e["data_file"]["content"] else data_files).append(
                p
            )
    assert data_files and del_files
    con = duckdb.connect()
    got = con.execute(
        """
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM read_parquet($data, filename=true, file_row_number=true) d
        ANTI JOIN read_parquet($dels) t
          ON t.file_path = 'file://' || d.filename
         AND t.pos = d.file_row_number
        ORDER BY d.doc_id
        """,
        {"data": data_files, "dels": del_files},
    ).fetchall()
    exp = docs.filter("doc_id % 3 != 1")
    assert sorted(map(tuple, got)) == _rows(exp)
    assert _rows(read_iceberg(spark, root)) == _rows(exp)


def test_iceberg_delete_zero_match_commits_nothing(
    spark, sf_dir, tmp_path
):
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "zero")
    _export(spark, docs, root)
    v0 = current_metadata(root)["current-snapshot-id"]
    r = delete_iceberg_rows(spark, root, "doc_id < 0")
    assert r["rows_deleted"] == 0 and r["delete_files"] == 0
    assert current_metadata(root)["current-snapshot-id"] == v0
    # and nothing lingers in _deletes from the empty write
    del_root = os.path.join(root, "_deletes")
    assert not os.path.isdir(del_root) or not any(
        f.endswith(".parquet")
        for d in os.listdir(del_root)
        for f in os.listdir(os.path.join(del_root, d))
    )


def test_iceberg_delete_commits_only_referenced_files(spark, sf_dir, tmp_path):
    """Every committed ``_deletes/del-*`` dir of a standalone table
    holds exactly the parquet files the delete manifest references:
    no ``_SUCCESS`` marker and no ``.crc`` sidecar."""
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "standalone")
    write_iceberg_table(spark, docs, root)
    r = delete_iceberg_rows(spark, root, "doc_id % 3 = 0")
    assert r["delete_files"] >= 1
    _, dels = snapshot_files(current_metadata(root), root, collect_deletes=True)
    del_root = os.path.join(root, "_deletes")
    on_disk = {
        os.path.join(dp, f) for dp, _, fs in os.walk(del_root) for f in fs
    }
    assert on_disk == {norm_file_ref(d["path"], root) for d in dels}


def test_iceberg_delete_prune_filters_stay_correct(
    spark, sf_dir, tmp_path
):
    """``filters`` prunes files at metadata level but must not change
    the delete's semantics when implied by the condition."""
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "prune")
    _export(spark, docs, root, partition_by=["lang"])
    r = delete_iceberg_rows(
        spark,
        root,
        "lang = 'en' AND doc_id % 2 = 0",
        filters=[("lang", "=", "en")],
    )
    exp = docs.filter("NOT (lang = 'en' AND doc_id % 2 = 0)")
    assert r["rows_deleted"] == docs.count() - exp.count()
    assert _rows(read_iceberg(spark, root)) == _rows(exp)


def test_iceberg_delete_v1_table_refuses(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "v1")
    _export(spark, docs, root)
    meta_dir = os.path.join(root, "metadata")
    with open(os.path.join(meta_dir, "v1.metadata.json")) as fh:
        meta = json.load(fh)
    meta["format-version"] = 1
    with open(os.path.join(meta_dir, "v2.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("2")
    with pytest.raises(ValueError, match="format-version 2"):
        delete_iceberg_rows(spark, root, "doc_id = 1")


def test_iceberg_delete_conflict_raises_not_corrupts(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Losing the metadata CAS to a writer that MOVED the current
    snapshot raises IcebergConcurrentModificationError (positions were
    computed against a stale snapshot); no delete commit is written.
    A metadata-only racer (same current snapshot) re-bases and the
    delete still lands."""
    import incubator_gobblin_spark.sinks.iceberg_delete as idel

    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "race")
    _export(spark, docs, root)
    meta_dir = os.path.join(root, "metadata")
    real_link = os.link
    fired = {}

    def racing_link(src, dst):
        if not fired.get("x") and dst.endswith(".metadata.json"):
            fired["x"] = True
            # racer wins this version with a NEW snapshot (simulate an
            # append: bump current-snapshot-id)
            with open(
                os.path.join(meta_dir, "v1.metadata.json")
            ) as fh:
                m = json.load(fh)
            m["current-snapshot-id"] = 999_999
            m["snapshots"] = m["snapshots"] + [
                dict(
                    m["snapshots"][-1],
                    **{"snapshot-id": 999_999, "sequence-number": 99},
                )
            ]
            with open(dst, "w") as fh:
                json.dump(m, fh)
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(idel.os, "link", racing_link)
    with pytest.raises(
        IcebergConcurrentModificationError, match="advanced"
    ):
        delete_iceberg_rows(spark, root, "doc_id % 5 = 0")
    monkeypatch.undo()
    # head is the racer's metadata; no delete snapshot followed it
    head = current_metadata(root)
    assert head["current-snapshot-id"] == 999_999
    assert all(
        s["summary"].get("operation") != "delete"
        for s in head["snapshots"]
    )
    # the raise removed the delete files the DELETE staged
    assert not [
        f for _, _, fs in os.walk(os.path.join(root, "_deletes")) for f in fs
    ]

    # benign race: a metadata-only bump (same current snapshot) must
    # NOT abort — the delete re-bases and commits on the next version
    root2 = str(tmp_path / "race2")
    _export(spark, docs, root2)
    meta_dir2 = os.path.join(root2, "metadata")
    fired2 = {}

    def benign_link(src, dst):
        if not fired2.get("x") and dst.endswith(".metadata.json"):
            fired2["x"] = True
            with open(
                os.path.join(meta_dir2, "v1.metadata.json")
            ) as fh:
                m = json.load(fh)
            m["properties"] = dict(
                m.get("properties") or {}, **{"comment": "racer"}
            )
            with open(dst, "w") as fh:
                json.dump(m, fh)
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr(idel.os, "link", benign_link)
    r = delete_iceberg_rows(spark, root2, "doc_id % 5 = 0")
    assert r["rows_deleted"] > 0 and r["version"] == 3
    exp = docs.filter("doc_id % 5 != 0")
    assert _rows(read_iceberg(spark, root2)) == _rows(exp)


def test_iceberg_delete_manifest_uses_unpartitioned_spec(
    spark, sf_dir, tmp_path
):
    """Position-delete manifests of a predicate DELETE on a PARTITIONED
    table are written under an UNPARTITIONED spec (empty partition
    struct) — the tombstones span partitions, and per the spec only an
    unpartitioned delete file applies globally; an all-null tuple under
    the partitioned spec would scope them to "the null partition" for
    conformant foreign readers."""
    from incubator_gobblin_spark.formats.avro_ocf import (
        decode_ocf,
        read_meta,
    )

    docs = load_table(spark, sf_dir, "documents").select(*COLS)
    root = str(tmp_path / "unpart")
    _export(spark, docs, root, partition_by=["lang"])
    delete_iceberg_rows(spark, root, "doc_id % 5 = 2")

    meta = current_metadata(root)
    assert next(
        s
        for s in meta["partition-specs"]
        if s["spec-id"] == meta["default-spec-id"]
    )["fields"], "table must stay identity-partitioned"
    unpart = [s for s in meta["partition-specs"] if not s["fields"]]
    assert len(unpart) == 1
    unpart_id = unpart[0]["spec-id"]

    snap = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(snap["manifest-list"].replace("file://", ""), "rb") as fh:
        _, list_rows = decode_ocf(fh.read())
    del_rows = [r for r in list_rows if r["content"] == 1]
    assert del_rows
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
    for r in list_rows:
        if r["content"] == 0:
            assert r["partition_spec_id"] == meta["default-spec-id"]
    # deletes still apply across every partition through our reader
    got = _rows(read_iceberg(spark, root))
    expect = _rows(docs.filter("doc_id % 5 <> 2"))
    assert got == expect
