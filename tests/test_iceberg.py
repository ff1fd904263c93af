"""Iceberg metadata export/import: structural spec conformance + round
trips (no Iceberg engine offline — the export_delta_log discipline:
replay-equals-snapshot, spec-required fields, hand-authored example)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_gobblin_spark.formats.avro_ocf import decode_ocf
from incubator_gobblin_spark.session import load_table
from incubator_gobblin_spark.sinks.files import FileSink, TableType
from incubator_gobblin_spark.sources.iceberg_import import (
    _local_path,
    current_metadata,
    read_iceberg,
    snapshot_files,
)


def _sink(path, **kw):
    return FileSink(path=str(path), commit_mode="manifest", **kw)


def _avro_rows(path):
    from incubator_gobblin_spark.formats.avro_ocf import read_meta

    with open(path, "rb") as fh:
        data = fh.read()
    _, rows = decode_ocf(data)
    return read_meta(data), rows


def test_iceberg_export_round_trip_unpartitioned(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "t1")
    sink = _sink(root)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    meta_dir = sink.export_iceberg()

    assert os.path.exists(os.path.join(meta_dir, "version-hint.text"))
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_iceberg_metadata_spec_required_fields(spark, sf_dir, tmp_path):
    """v2 table metadata, manifest list, and manifest rows carry the
    spec's required fields with the spec's field-ids."""
    df = load_table(spark, sf_dir, "nation")
    root = str(tmp_path / "t2")
    sink = _sink(root)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    meta_dir = sink.export_iceberg()

    md = current_metadata(root)
    for key in (
        "format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "current-schema-id", "schemas",
        "default-spec-id", "partition-specs", "current-snapshot-id",
        "snapshots", "last-partition-id", "sort-orders",
        "default-sort-order-id",
    ):
        assert key in md, key
    assert md["format-version"] == 2
    schema = md["schemas"][0]
    assert schema["type"] == "struct"
    ids = [f["id"] for f in schema["fields"]]
    assert ids == sorted(set(ids))  # unique, assigned
    assert md["last-column-id"] >= max(ids)

    snap = md["snapshots"][-1]
    assert snap["snapshot-id"] == md["current-snapshot-id"]
    assert snap["summary"]["operation"] in (
        "append", "overwrite", "replace", "delete"
    )
    header, mlist = _avro_rows(_local_path(snap["manifest-list"]))
    # header carries the writer schema with the spec's field-ids
    hschema = json.loads(header["avro.schema"])
    fid = {f["name"]: f.get("field-id") for f in hschema["fields"]}
    assert fid["manifest_path"] == 500 and fid["manifest_length"] == 501
    assert fid["added_snapshot_id"] == 503 and fid["sequence_number"] == 515
    mf = mlist[0]
    assert mf["content"] == 0 and mf["partition_spec_id"] == 0
    assert mf["added_files_count"] == len(
        sink.current_manifest()["entries"]
    )

    mheader, entries = _avro_rows(_local_path(mf["manifest_path"]))
    # manifest header metadata: spec-required keys
    for key in ("schema", "partition-spec", "partition-spec-id",
                "format-version", "content"):
        assert key in mheader, key
    assert mheader["format-version"] == b"2"
    assert mheader["content"] == b"data"
    eschema = json.loads(mheader["avro.schema"])
    efid = {f["name"]: f.get("field-id") for f in eschema["fields"]}
    assert efid["status"] == 0 and efid["data_file"] == 2
    for e in entries:
        assert e["status"] == 1
        d = e["data_file"]
        assert d["content"] == 0 and d["file_format"] == "PARQUET"
        assert d["record_count"] > 0
        assert d["file_size_in_bytes"] == os.path.getsize(
            _local_path(d["file_path"])
        )


def test_iceberg_partitioned_round_trip_and_time_travel(
    spark, sf_dir, tmp_path
):
    """lang-partitioned lake: identity partition values restore typed;
    snapshot 1 stays readable after a second commit (time travel), and
    the iceberg_metadata publisher flag exports per commit."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = str(tmp_path / "t3")
    sink = _sink(
        root,
        partition_by=["lang"],
        table_type=TableType.APPEND_ONLY,
        iceberg_metadata=True,
    )
    first = docs.filter(F.col("doc_id") < 300)
    sink.write_staging(first, "r1")
    sink.publish("r1")
    sink.write_staging(docs.filter(F.col("doc_id") >= 300), "r2")
    sink.publish("r2")

    got = read_iceberg(spark, root).select(*docs.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, docs.collect())
    )
    tt = read_iceberg(spark, root, snapshot_id=1).select(*docs.columns)
    assert sorted(map(tuple, tt.collect())) == sorted(
        map(tuple, first.collect())
    )
    md = current_metadata(root)
    assert [s["snapshot-id"] for s in md["snapshots"]] == [1, 2]
    assert md["snapshots"][1]["parent-snapshot-id"] == 1
    # partition spec: identity transform on lang with spec field ids
    spec = md["partition-specs"][0]
    assert spec["fields"][0]["transform"] == "identity"
    assert spec["fields"][0]["field-id"] == 1000
    src_id = spec["fields"][0]["source-id"]
    assert (
        next(f for f in md["schemas"][0]["fields"] if f["id"] == src_id)[
            "name"
        ]
        == "lang"
    )


def test_iceberg_many_partitions_suffix_join_path(spark, sf_dir, tmp_path):
    """>union_threshold distinct partition values exercise the single
    scan + broadcast suffix-key join (shared assemble_snapshot path)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).withColumn("b", F.concat(F.lit("p"), (F.col("doc_id") % 23)))
    root = str(tmp_path / "t4")
    sink = _sink(root, partition_by=["b"])
    sink.write_staging(docs, "r1")
    sink.publish("r1")
    sink.export_iceberg()
    got = read_iceberg(spark, root, union_threshold=4).select(*docs.columns)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_iceberg_no_change_export_writes_nothing(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "t5")
    sink = _sink(root)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    meta_dir = sink.export_iceberg()
    before = sorted(os.listdir(meta_dir))
    sink.export_iceberg()
    assert sorted(os.listdir(meta_dir)) == before


def test_iceberg_export_metadata_version_race(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Put-if-absent vN.metadata.json: a competing exporter landing the
    same version between read and publish forces a re-read; the winner
    is never overwritten."""
    from incubator_gobblin_spark.sinks import iceberg_export as IE

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "t6")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r1")
    sink.publish("r1")
    sink.export_iceberg()
    sink.write_staging(df.filter(F.col("r_regionkey") >= 3), "r2")
    sink.publish("r2")

    real = IE._metadata_versions
    state = {"done": False}

    def racing(meta_dir):
        out = real(meta_dir)
        if not state["done"]:
            state["done"] = True
            # competitor wins v(latest+1) with a DIFFERENT fingerprint
            # (else our exporter would skip as no-change)
            with open(
                os.path.join(meta_dir, f"v{out[-1]}.metadata.json")
            ) as fh:
                prev = json.load(fh)
            prev["snapshots"][-1]["summary"][
                "engine.state-fingerprint"
            ] = "competitor"
            prev["competitor"] = True
            with open(
                os.path.join(meta_dir, f"v{out[-1] + 1}.metadata.json"), "w"
            ) as fh:
                json.dump(prev, fh)
        return out

    monkeypatch.setattr(IE, "_metadata_versions", racing)
    sink.export_iceberg()
    monkeypatch.undo()

    meta_dir = os.path.join(root, "metadata")
    versions = real(meta_dir)
    assert versions == [1, 2, 3]
    v2 = json.load(open(os.path.join(meta_dir, "v2.metadata.json")))
    assert v2.get("competitor") is True  # winner never overwritten
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, sink.read_committed(spark).collect())
    )


def test_iceberg_hand_authored_spec_example_parses(spark, tmp_path):
    """A minimal spec-example table authored BY HAND (not by the
    exporter): one parquet data file, metadata JSON + manifest list +
    manifest written field-by-field from the public spec — the reader
    must consume it. Pins reader independence from exporter quirks."""
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _MANIFEST_LIST_AVRO,
        _manifest_entry_avro,
    )

    root = str(tmp_path / "hand")
    os.makedirs(os.path.join(root, "data"))
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)
    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id long, name string"
    )
    df.toPandas().to_parquet(os.path.join(root, "data", "f1.parquet"))
    data_file = os.path.join(root, "data", "f1.parquet")

    entry_schema = _manifest_entry_avro(
        {"type": "record", "name": "r102", "fields": []}
    )
    manifest = os.path.join(meta_dir, "hand-m0.avro")
    with open(manifest, "wb") as fh:
        fh.write(
            encode_ocf(
                entry_schema,
                [
                    {
                        "status": 1,
                        "snapshot_id": 99,
                        "sequence_number": 1,
                        "file_sequence_number": 1,
                        "data_file": {
                            "content": 0,
                            "file_path": data_file,
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": 2,
                            "file_size_in_bytes": os.path.getsize(data_file),
                        },
                    }
                ],
                codec="null",
                extra_meta={
                    "schema": b"{}",
                    "partition-spec": b"[]",
                    "partition-spec-id": b"0",
                    "format-version": b"2",
                    "content": b"data",
                },
            )
        )
    mlist = os.path.join(meta_dir, "snap-99-1-hand.avro")
    with open(mlist, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                [
                    {
                        "manifest_path": manifest,
                        "manifest_length": os.path.getsize(manifest),
                        "partition_spec_id": 0,
                        "content": 0,
                        "sequence_number": 1,
                        "min_sequence_number": 1,
                        "added_snapshot_id": 99,
                        "added_files_count": 1,
                        "existing_files_count": 0,
                        "deleted_files_count": 0,
                        "added_rows_count": 2,
                        "existing_rows_count": 0,
                        "deleted_rows_count": 0,
                    }
                ],
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000000",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"},
                    {
                        "id": 2,
                        "name": "name",
                        "required": False,
                        "type": "string",
                    },
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 99,
        "snapshots": [
            {
                "snapshot-id": 99,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "summary": {"operation": "append"},
                "manifest-list": mlist,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(metadata, fh)
    # no version-hint on purpose: discovery must fall back to listing
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == [(1, "alpha"), (2, "beta")]
    md = current_metadata(root)
    assert [f["path"] for f in snapshot_files(md, root)] == [data_file]


def test_iceberg_paths_are_file_uris(spark, sf_dir, tmp_path):
    """The spec prescribes URIs: data file_path, manifest_path, and the
    snapshot's manifest-list must all be file:// URIs so foreign engines
    can resolve them — and the importer must still round-trip them."""
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "uri")
    sink = _sink(root)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    meta_dir = sink.export_iceberg()

    meta = current_metadata(root)
    snap = meta["snapshots"][-1]
    assert snap["manifest-list"].startswith("file:///")
    _, mf_rows = _avro_rows(snap["manifest-list"][len("file://"):])
    assert mf_rows and all(
        r["manifest_path"].startswith("file:///") for r in mf_rows
    )
    _, entries = _avro_rows(mf_rows[0]["manifest_path"][len("file://"):])
    assert entries and all(
        e["data_file"]["file_path"].startswith("file:///") for e in entries
    )
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_iceberg_stale_version_hint_ignored(spark, sf_dir, tmp_path):
    """version-hint.text is written last-writer-wins AFTER the metadata
    CAS, so a slow exporter can regress it; current_metadata must probe
    past the hint (HadoopTableOperations.findVersion) and serve the
    HIGHEST version, never the hinted one."""
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "hint")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 2), "r1")
    sink.publish("r1")
    sink.export_iceberg()
    sink.write_staging(df.filter(F.col("r_regionkey") >= 2), "r2")
    sink.publish("r2")
    meta_dir = sink.export_iceberg()

    # regress the hint to v1 (the lost-writer overwrite)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as fh:
        fh.write("1")
    meta = current_metadata(root)
    assert len(meta["snapshots"]) == 2  # served v2, not the hinted v1
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_iceberg_empty_partitioned_manifest_exports(spark, tmp_path):
    """A committed EMPTY manifest on a partitioned lake (e.g. after a
    full purge) must export an empty snapshot — partition columns
    default to string — not raise KeyError building the spec."""
    root = str(tmp_path / "empty")
    sink = _sink(root, partition_by=["source"])
    empty = spark.createDataFrame(
        [], "doc_id long, source string, n_chars long"
    )
    sink.write_staging(empty, "r1")
    sink.publish("r1")
    meta_dir = sink.export_iceberg()

    meta = current_metadata(root)
    spec = meta["partition-specs"][0]
    assert [f["name"] for f in spec["fields"]] == ["source"]
    assert snapshot_files(meta, root) == []
    got = read_iceberg(spark, root)
    assert got.count() == 0
    assert "source" in got.columns


def test_iceberg_lost_race_leaves_no_orphan_avro(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every Avro file under metadata/ must be referenced by some
    metadata version after a lost put-if-absent race — the loser's
    attempt files are unlinked (or reused by the retry), never orphaned."""
    from incubator_gobblin_spark.sinks import iceberg_export as IE

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "orphan")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r1")
    sink.publish("r1")
    sink.export_iceberg()
    sink.write_staging(df.filter(F.col("r_regionkey") >= 3), "r2")
    sink.publish("r2")

    real = IE._metadata_versions
    state = {"done": False}

    def racing(meta_dir):
        out = real(meta_dir)
        if not state["done"]:
            state["done"] = True
            with open(
                os.path.join(meta_dir, f"v{out[-1]}.metadata.json")
            ) as fh:
                prev = json.load(fh)
            prev["snapshots"][-1]["summary"][
                "engine.state-fingerprint"
            ] = "competitor"
            with open(
                os.path.join(meta_dir, f"v{out[-1] + 1}.metadata.json"), "w"
            ) as fh:
                json.dump(prev, fh)
        return out

    monkeypatch.setattr(IE, "_metadata_versions", racing)
    meta_dir = sink.export_iceberg()
    monkeypatch.undo()

    referenced = set()
    for f in os.listdir(meta_dir):
        if f.startswith("v") and f.endswith(".metadata.json"):
            with open(os.path.join(meta_dir, f)) as fh:
                m = json.load(fh)
            for s in m.get("snapshots", []):
                ml = s["manifest-list"]
                ml = ml[len("file://"):] if ml.startswith("file://") else ml
                referenced.add(os.path.basename(ml))
                if os.path.exists(ml):
                    _, rows = _avro_rows(ml)
                    for r in rows:
                        mp = r["manifest_path"]
                        mp = (
                            mp[len("file://"):]
                            if mp.startswith("file://")
                            else mp
                        )
                        referenced.add(os.path.basename(mp))
    on_disk = {f for f in os.listdir(meta_dir) if f.endswith(".avro")}
    assert on_disk <= referenced, on_disk - referenced


def test_iceberg_same_state_race_keeps_winner_files(
    spark, sf_dir, tmp_path, monkeypatch
):
    """When the race winner published the SAME (sid, fingerprint) state,
    the loser's attempt files still carry fresh names, never the
    winner's: the loser removes only its own files (the winner's
    snapshot stays intact) and skips as no-change on retry."""
    from incubator_gobblin_spark.sinks import iceberg_export as IE

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "same")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r1")
    sink.publish("r1")

    real = IE._metadata_versions
    state = {"done": False}

    def racing(meta_dir):
        out = real(meta_dir)
        if not state["done"]:
            state["done"] = True
            # competitor = a parallel exporter of the SAME lake state:
            # run the real export to land v1 while our caller is
            # mid-attempt believing v1 is free
            monkeypatch.setattr(IE, "_metadata_versions", real)
            sink.export_iceberg()
            monkeypatch.setattr(IE, "_metadata_versions", racing)
        return out

    monkeypatch.setattr(IE, "_metadata_versions", racing)
    meta_dir = sink.export_iceberg()
    monkeypatch.undo()

    versions = real(meta_dir)
    assert versions == [1]  # retry hit the no-change skip
    meta = current_metadata(root)
    ml = meta["snapshots"][-1]["manifest-list"]
    ml = ml[len("file://"):] if ml.startswith("file://") else ml
    assert os.path.exists(ml)  # winner's files intact
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def _snap_manifest_rows(meta, location):
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _decode_manifest_list,
    )

    return _decode_manifest_list(meta["snapshots"][-1], location)


def test_iceberg_incremental_append_carries_manifests(spark, sf_dir, tmp_path):
    """Multi-commit export history: snapshot N's manifest list carries
    N manifests (prev by reference + one new with only the added
    files), operations are append, and every snapshot round-trips."""
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "inc")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    prev_manifest_paths = []
    for i in range(3):
        sink.write_staging(df.filter(F.col("r_regionkey") % 3 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_iceberg()
        meta = current_metadata(root)
        rows = _snap_manifest_rows(meta, root)
        assert len(rows) == i + 1  # one manifest appended per export
        if i > 0:
            assert meta["snapshots"][-1]["summary"]["operation"] == "append"
            # previous manifests carried BY REFERENCE (same paths)
            assert [r["manifest_path"] for r in rows[:-1]] == prev_manifest_paths
            # the new manifest holds ONLY the delta
            new = rows[-1]
            assert new["added_files_count"] > 0
            assert new["existing_files_count"] == 0
        prev_manifest_paths = [r["manifest_path"] for r in rows]
        got = read_iceberg(spark, root)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, sink.read_committed(spark).collect())
        )


def test_iceberg_incremental_delete_rewrites_touched_manifest(
    spark, sf_dir, tmp_path
):
    """Removing files rewrites ONLY the manifests that contained them
    (removed entries DELETED, survivors EXISTING with original
    lineage); untouched manifests still carry by reference; the reader
    sees exactly the committed survivors."""
    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "incdel")
    # snapshot-replace + partitioned so the purge removes a subset
    sink = _sink(
        root, partition_by=["n_regionkey"],
        table_type=TableType.SNAPSHOT_ONLY,
    )
    sink.write_staging(df, "r1")
    sink.publish("r1")
    sink.export_iceberg()
    # second commit replaces the table WITHOUT region 0 (a purge)
    survivors = df.filter(F.col("n_regionkey") != 0)
    sink.write_staging(survivors, "r2")
    sink.publish("r2")
    sink.export_iceberg()

    meta = current_metadata(root)
    snap = meta["snapshots"][-1]
    assert snap["summary"]["operation"] in ("delete", "overwrite")
    rows = _snap_manifest_rows(meta, root)
    deleted = sum(r["deleted_files_count"] for r in rows)
    assert deleted > 0
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, survivors.collect())
    )
    # time travel: the FIRST snapshot still reads the full table
    first = meta["snapshots"][0]["snapshot-id"]
    old = read_iceberg(spark, root, snapshot_id=first)
    assert old.count() == df.count()


def test_iceberg_full_mode_compacts_manifest_chain(spark, sf_dir, tmp_path):
    """mode='full' restarts the chain: one self-contained manifest, all
    live files re-added, and the next incremental builds on it."""
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "compact")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(2):
        sink.write_staging(df.filter(F.col("r_regionkey") % 2 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_iceberg()
    meta = current_metadata(root)
    assert len(_snap_manifest_rows(meta, root)) == 2
    sink.export_iceberg(mode="full")
    meta = current_metadata(root)
    rows = _snap_manifest_rows(meta, root)
    assert len(rows) == 1  # compacted
    assert meta["snapshots"][-1]["summary"]["operation"] == "overwrite"
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))


def test_iceberg_incremental_schema_drift_forces_full(spark, sf_dir, tmp_path):
    """Data-schema drift between exports (column added) must force a
    FULL snapshot: carried manifests keep value/null counts and bounds
    keyed by the PREVIOUS schema's field ids, so after _iceberg_schema
    reassigns ids a carried manifest would let foreign readers
    file-skip non-conservatively. Same gate shape as the
    partition-type gate."""
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "incdrift")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(2):
        sink.write_staging(df.filter(F.col("r_regionkey") % 2 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_iceberg()
    assert len(_snap_manifest_rows(current_metadata(root), root)) == 2

    # third commit adds a column; named to sort FIRST so the footer
    # the exporter infers the schema from is the new-schema file ->
    # the inferred (id, name, type) list shifts
    sink.write_staging(
        df.limit(2).withColumn("extra", F.lit(7).cast("long")), "a2"
    )
    sink.publish("a2")
    sink.export_iceberg()
    meta = current_metadata(root)
    rows = _snap_manifest_rows(meta, root)
    assert len(rows) == 1  # full self-contained snapshot, chain restarted
    assert meta["snapshots"][-1]["summary"]["operation"] == "overwrite"
    got = read_iceberg(spark, root)
    assert got.count() == sink.read_committed(spark).count()
    # and a further same-schema export goes back to incremental append
    sink.write_staging(
        df.limit(1).withColumn("extra", F.lit(8).cast("long")), "a3"
    )
    sink.publish("a3")
    sink.export_iceberg()
    meta = current_metadata(root)
    assert len(_snap_manifest_rows(meta, root)) == 2
    assert meta["snapshots"][-1]["summary"]["operation"] == "append"


def test_iceberg_incremental_in_place_rewrite_not_carried_stale(
    spark, sf_dir, tmp_path
):
    """A data file rewritten IN PLACE (same path, different size — not
    a lake operation, but defended) must be re-added with fresh
    metadata, never carried with stale sizes."""
    import pyarrow.parquet as pq

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "inplace")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    sink.export_iceberg()

    # out-of-band in-place rewrite of one committed file: the size
    # changes, the path does not
    target = os.path.join(root, sink.current_manifest()["entries"][0]["file"])
    tbl = pq.read_table(target)
    pq.write_table(tbl.slice(0, max(1, tbl.num_rows - 1)), target)
    new_size = os.path.getsize(target)

    sink.export_iceberg()  # fingerprint differs (size) -> new snapshot
    meta = current_metadata(root)
    assert meta["snapshots"][-1]["summary"]["operation"] == "overwrite"

    from incubator_gobblin_spark.sinks.iceberg_export import (
        _decode_manifest,
        _decode_manifest_list,
    )

    sizes = {}
    for row in _decode_manifest_list(meta["snapshots"][-1], root):
        for e in _decode_manifest(row, root):
            if e["status"] == 2:
                continue
            sizes[_local_path(e["data_file"]["file_path"])] = e[
                "data_file"
            ]["file_size_in_bytes"]
    assert sizes[target] == new_size
    # every live entry's size is on-disk truth, none stale
    for p_, sz in sizes.items():
        assert os.path.getsize(p_) == sz


def test_iceberg_export_carries_column_bounds(spark, sf_dir, tmp_path):
    """data_file lower_bounds/upper_bounds (spec field-ids 125/128,
    Appendix-D single-value serialization, field-id keyed): decode the
    manifest and check the bytes round-trip to the parquet footer's
    truth for a long column and a string column — the metadata a
    foreign Iceberg reader file-skips on."""
    import struct

    from incubator_gobblin_spark.sinks.iceberg_export import (
        _decode_manifest,
        _decode_manifest_list,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "bounds")
    sink = _sink(root)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    sink.export_iceberg()

    meta = current_metadata(root)
    fields = {f["name"]: f for f in meta["schemas"][0]["fields"]}
    fid = {n: f["id"] for n, f in fields.items()}
    unpack_fmt = {"long": "<q", "int": "<i"}[fields["n_nationkey"]["type"]]
    rows = [
        e
        for r in _decode_manifest_list(meta["snapshots"][-1], root)
        for e in _decode_manifest(r, root)
        if e["status"] != 2
    ]
    assert rows
    import pyarrow.parquet as pq

    for e in rows:
        d = e["data_file"]
        lo = {kv["key"]: kv["value"] for kv in (d["lower_bounds"] or [])}
        hi = {kv["key"]: kv["value"] for kv in (d["upper_bounds"] or [])}
        assert lo and hi
        nvc = {kv["key"]: kv["value"] for kv in (d["null_value_counts"] or [])}
        assert nvc.get(fid["n_nationkey"]) == 0  # footer-true null counts
        vc = {kv["key"]: kv["value"] for kv in (d["value_counts"] or [])}
        assert vc.get(fid["n_nationkey"]) == d["record_count"]
        tbl = pq.read_table(_local_path(d["file_path"]))
        keys = tbl.column("n_nationkey").to_pylist()
        names = tbl.column("n_name").to_pylist()
        assert struct.unpack(unpack_fmt, lo[fid["n_nationkey"]])[0] == min(keys)
        assert struct.unpack(unpack_fmt, hi[fid["n_nationkey"]])[0] == max(keys)
        assert lo[fid["n_name"]].decode() == min(names)
        assert hi[fid["n_name"]].decode() == max(names)


def test_iceberg_filters_prune_files_and_stay_correct(spark, sf_dir, tmp_path):
    """Metadata-level file skipping on an imported table: a partition
    equality and a bounds range each provably reduce the file list, and
    reading with filters + the row-level filter equals the unpruned
    read with the same filter (pruning is conservative, never lossy)."""
    from incubator_gobblin_spark.sources.iceberg_import import (
        prune_files,
        snapshot_files,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = str(tmp_path / "prune")
    sink = _sink(root, partition_by=["source"])
    sink.write_staging(docs, "r1")
    sink.publish("r1")
    sink.export_iceberg()

    meta = current_metadata(root)
    fields = meta["schemas"][0]["fields"]
    all_files = snapshot_files(meta, root)
    assert len(all_files) > 1

    one_source = docs.select("source").first()["source"]
    part_pruned = prune_files(
        all_files, [("source", "=", one_source)], fields, ["source"]
    )
    assert 0 < len(part_pruned) < len(all_files)

    # bounds pruning on doc_id: a range above the global max keeps 0
    empty = prune_files(
        all_files, [("doc_id", ">", 10**12)], fields, ["source"]
    )
    assert empty == []
    lo_cut = docs.agg(F.expr("percentile(doc_id, 0.9)")).first()[0]
    range_pruned = prune_files(
        all_files, [("doc_id", ">", int(lo_cut))], fields, ["source"]
    )
    assert len(range_pruned) <= len(all_files)

    # correctness: pruned read + row filter == full read + row filter
    flt = [("source", "=", one_source), ("doc_id", ">", int(lo_cut))]
    pruned_df = read_iceberg(spark, root, filters=flt).filter(
        (F.col("source") == one_source) & (F.col("doc_id") > int(lo_cut))
    )
    full_df = read_iceberg(spark, root).filter(
        (F.col("source") == one_source) & (F.col("doc_id") > int(lo_cut))
    )
    assert sorted(map(tuple, pruned_df.collect())) == sorted(
        map(tuple, full_df.collect())
    )


def test_iceberg_expire_snapshots_prunes_history_and_orphans(
    spark, sf_dir, tmp_path
):
    """ExpireSnapshots parity: keep_last=1 leaves one snapshot, the
    current state still round-trips, time travel to an expired snapshot
    raises, and Avro files referenced only by expired snapshots are
    unlinked while carried manifests survive."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "expire")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(3):
        sink.write_staging(df.filter(F.col("r_regionkey") % 3 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_iceberg()
    meta_dir = os.path.join(root, "metadata")
    avro_before = {f for f in os.listdir(meta_dir) if f.endswith(".avro")}

    expire_iceberg_snapshots(sink, keep_last=1)
    meta = current_metadata(root)
    assert len(meta["snapshots"]) == 1
    assert "parent-snapshot-id" not in meta["snapshots"][0]
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    with pytest.raises(FileNotFoundError):
        read_iceberg(spark, root, snapshot_id=1)

    avro_after = {f for f in os.listdir(meta_dir) if f.endswith(".avro")}
    assert avro_after < avro_before  # expired-only files unlinked
    # everything the kept snapshot references still exists (carried
    # manifests from snapshot 1/2 survive the cleanup)
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _decode_manifest_list,
    )

    for row in _decode_manifest_list(meta["snapshots"][-1], root):
        assert os.path.exists(_local_path(row["manifest_path"]))

    # idempotent / nothing-to-expire fast path
    expire_iceberg_snapshots(sink, keep_last=1)
    assert len(current_metadata(root)["snapshots"]) == 1
    # and a subsequent export keeps working on the pruned chain
    sink.write_staging(df.limit(1).withColumn("r_regionkey",
                                              F.col("r_regionkey") + 100), "r9")
    sink.publish("r9")
    sink.export_iceberg()
    after = current_metadata(root)
    assert len(after["snapshots"]) == 2
    # ids and sequence numbers stay monotonic across the pruned history
    ids = [s["snapshot-id"] for s in after["snapshots"]]
    assert ids == sorted(ids) and ids[-1] > ids[0]
    assert after["last-sequence-number"] >= ids[-1] - 1


# ---------------------------------------------------------------------------
# v2 row-level deletes (spec §Delete Formats) — read-side application
# ---------------------------------------------------------------------------


def _coords(spark, files, predicate):
    df = (
        spark.read.parquet(*files)
        .withColumn("_fp", F.col("_metadata.file_path"))
        .withColumn("_pos", F.col("_metadata.row_index"))
    )
    return [
        (r._fp, r._pos) for r in df.filter(predicate).select("_fp", "_pos").collect()
    ]


def test_iceberg_position_deletes_are_applied(spark, sf_dir, tmp_path):
    """A foreign engine position-deletes rows from our exported table;
    read_iceberg must return exactly the survivors — per the spec, a
    (file_path, pos) tombstone removes that row and nothing else."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "posdel")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("n_nationkey") < 12), "r0")
    sink.publish("r0")
    sink.write_staging(df.filter(F.col("n_nationkey") >= 12), "r1")
    sink.publish("r1")
    sink.export_iceberg()

    meta = current_metadata(root)
    files, dels = snapshot_files(meta, root, collect_deletes=True)
    assert dels == []
    coords = _coords(
        spark, [f["path"] for f in files], F.col("n_nationkey") % 3 == 0
    )
    assert coords  # something to delete
    append_position_deletes(root, coords)

    got = read_iceberg(spark, root)
    want = df.filter(F.col("n_nationkey") % 3 != 0)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # time travel to the pre-delete snapshot still reads everything
    first_sid = current_metadata(root)["snapshots"][0]["snapshot-id"]
    assert read_iceberg(spark, root, snapshot_id=first_sid).count() == df.count()
    # a second delete snapshot stacks
    files2, dels2 = snapshot_files(
        current_metadata(root), root, collect_deletes=True
    )
    assert len(dels2) == 1
    more = _coords(
        spark, [f["path"] for f in files2], F.col("n_nationkey") == 1
    )
    append_position_deletes(root, more)
    got2 = read_iceberg(spark, root)
    want2 = want.filter(F.col("n_nationkey") != 1)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )


def test_iceberg_position_deletes_on_partitioned_table(spark, sf_dir, tmp_path):
    """Deletes apply under partition restore too (the suffix-join /
    literal-group assembly carries _metadata through)."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "posdelpart")
    sink = _sink(
        root, partition_by=["n_regionkey"], table_type=TableType.APPEND_ONLY
    )
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    meta = current_metadata(root)
    files, _ = snapshot_files(meta, root, collect_deletes=True)
    # partition columns are NOT in the data files; address rows by the
    # data columns present
    coords = _coords(
        spark, [f["path"] for f in files], F.col("n_nationkey") >= 20
    )
    append_position_deletes(root, coords)
    got = read_iceberg(spark, root)
    want = df.filter(F.col("n_nationkey") < 20)
    assert sorted(map(tuple, got.select(*df.columns).collect())) == sorted(
        map(tuple, want.collect())
    )


def test_iceberg_export_after_foreign_delete_carries_tombstones(
    spark, sf_dir, tmp_path
):
    """An incremental export AFTER a foreign delete snapshot must carry
    the delete manifest by reference (dropping it would resurrect the
    deleted rows for foreign readers). On a partitioned lake the delete
    manifest rides a second, unpartitioned spec, which the export's
    metadata must keep declaring."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )

    df = load_table(spark, sf_dir, "region").withColumn(
        "p", F.col("r_regionkey") % 2
    )
    for partition_by in ([], ["p"]):
        root = str(tmp_path / f"posdelinc{len(partition_by)}")
        sink = _sink(
            root, table_type=TableType.APPEND_ONLY, partition_by=partition_by
        )
        sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r0")
        sink.publish("r0")
        sink.export_iceberg()
        files, _ = snapshot_files(
            current_metadata(root), root, collect_deletes=True
        )
        coords = _coords(
            spark, [f["path"] for f in files], F.col("r_regionkey") == 0
        )
        append_position_deletes(root, coords)
        # new data lands; incremental export
        sink.write_staging(df.filter(F.col("r_regionkey") >= 3), "r1")
        sink.publish("r1")
        sink.export_iceberg()
        got = read_iceberg(spark, root)
        want = df.filter(F.col("r_regionkey") != 0)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )
        meta = current_metadata(root)
        declared = {s["spec-id"] for s in meta["partition-specs"]}
        used = {
            r["partition_spec_id"] for r in _snap_manifest_rows(meta, root)
        }
        assert used <= declared, (used, declared)


def test_iceberg_equality_deletes_applied(spark, sf_dir, tmp_path):
    """EQUALITY deletes (content=2, spec §Equality Delete Files) from a
    foreign CDC writer: rows equal on the equality_ids columns with a
    data sequence number BEFORE the delete's disappear; data appended
    AFTER the delete with the same key survives (the spec's
    sequence-ordering rule — exactly how a Flink upsert re-inserts a
    deleted key)."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "eqdel")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    append_equality_deletes(
        root,
        [{"n_nationkey": 0}, {"n_nationkey": 7}, {"n_nationkey": 999}],
        ["n_nationkey"],
    )
    got = read_iceberg(spark, root)
    want = df.filter(~F.col("n_nationkey").isin(0, 7))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # re-insert one deleted key AFTER the delete: newer data survives
    sink.write_staging(
        df.filter(F.col("n_nationkey") == 7), "r1"
    )
    sink.publish("r1")
    sink.export_iceberg()
    got2 = read_iceberg(spark, root)
    want2 = df.filter(F.col("n_nationkey") != 0)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )
    # multi-column equality keys group into one anti-join
    append_equality_deletes(
        root,
        [{"n_nationkey": 7, "n_regionkey": 3}],
        ["n_nationkey", "n_regionkey"],
    )
    got3 = read_iceberg(spark, root)
    want3 = want2.filter(
        ~((F.col("n_nationkey") == 7) & (F.col("n_regionkey") == 3))
    )
    assert sorted(map(tuple, got3.collect())) == sorted(
        map(tuple, want3.collect())
    )
    # time travel to the first snapshot still reads everything
    first = current_metadata(root)["snapshots"][0]["snapshot-id"]
    assert read_iceberg(spark, root, snapshot_id=first).count() == df.count()


def test_iceberg_malformed_equality_delete_fails_loudly(
    spark, sf_dir, tmp_path
):
    """A content=2 delete with NO equality_ids cannot be applied —
    reading must RAISE, never silently resurrect the deleted rows."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes_stub,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "eqdel-bad")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    append_equality_deletes_stub(root)
    with pytest.raises(ValueError, match="equality_ids"):
        read_iceberg(spark, root)


def test_iceberg_snapshot_files_refuses_silent_delete_ignore(
    spark, sf_dir, tmp_path
):
    """snapshot_files WITHOUT collect_deletes must raise when the
    snapshot carries position deletes — callers that predate delete
    support would otherwise resurrect deleted rows silently."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "posdelguard")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    files, _ = snapshot_files(
        current_metadata(root), root, collect_deletes=True
    )
    coords = _coords(
        spark, [f["path"] for f in files], F.col("r_regionkey") == 0
    )
    append_position_deletes(root, coords)
    with pytest.raises(ValueError, match="row-level delete"):
        snapshot_files(current_metadata(root), root)


def test_iceberg_incremental_append_scan(spark, sf_dir, tmp_path):
    """read_iceberg_incremental: (after, until] emits exactly the range
    snapshots' ADDED rows; a non-append snapshot in range raises; an
    empty range reads empty; carried manifests are never re-emitted."""
    from incubator_gobblin_spark.sources.iceberg_import import (
        read_iceberg_incremental,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "inc-scan")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(3):
        sink.write_staging(df.filter(F.col("n_nationkey") % 3 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_iceberg()
    snaps = [s["snapshot-id"] for s in current_metadata(root)["snapshots"]]
    assert len(snaps) == 3

    # after snapshot 1: commits 2 and 3 only
    got = read_iceberg_incremental(spark, root, after_snapshot_id=snaps[0])
    want = df.filter(F.col("n_nationkey") % 3 != 0)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # bounded range (snap1, snap2]
    got2 = read_iceberg_incremental(
        spark, root, after_snapshot_id=snaps[0], until_snapshot_id=snaps[1]
    )
    want2 = df.filter(F.col("n_nationkey") % 3 == 1)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )
    # empty range
    assert (
        read_iceberg_incremental(
            spark, root,
            after_snapshot_id=snaps[2], until_snapshot_id=snaps[2],
        ).count()
        == 0
    )
    # a delete snapshot in range raises (IncrementalAppendScan rule)
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )

    files, _ = snapshot_files(
        current_metadata(root), root, collect_deletes=True
    )
    coords = _coords(
        spark, [f["path"] for f in files], F.col("n_nationkey") == 1
    )
    append_position_deletes(root, coords)
    with pytest.raises(ValueError, match="append-only"):
        read_iceberg_incremental(spark, root, after_snapshot_id=snaps[0])
    # but a range that stops BEFORE the delete still reads
    got3 = read_iceberg_incremental(
        spark, root, after_snapshot_id=snaps[0], until_snapshot_id=snaps[2]
    )
    assert got3.count() == want.count()


def test_iceberg_incremental_scan_argument_guards(spark, sf_dir, tmp_path):
    """until preceding after raises; unknown snapshot ids raise."""
    from incubator_gobblin_spark.sources.iceberg_import import (
        read_iceberg_incremental,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "inc-guards")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(2):
        sink.write_staging(df.filter(F.col("r_regionkey") % 2 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_iceberg()
    snaps = [s["snapshot-id"] for s in current_metadata(root)["snapshots"]]
    with pytest.raises(ValueError, match="precedes"):
        read_iceberg_incremental(
            spark, root, after_snapshot_id=snaps[1], until_snapshot_id=snaps[0]
        )
    with pytest.raises(FileNotFoundError):
        read_iceberg_incremental(spark, root, after_snapshot_id=999999)
    with pytest.raises(FileNotFoundError):
        read_iceberg_incremental(
            spark, root, after_snapshot_id=snaps[0], until_snapshot_id=999999
        )


def test_iceberg_deletes_on_encoded_paths_and_shuffle_fallback(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A table root containing a space and a '+' percent-encodes in
    the scan's _metadata.file_path while manifest/delete-file paths
    stay raw — both delete kinds must key on the DECODED path or the
    tombstones silently miss (position deletes resurrect rows;
    equality deletes lose their _data_seq gate and never apply —
    ADVICE r8). Also proves the broadcast size guard's shuffle-join
    fallback is value-identical."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
        append_position_deletes,
    )
    from incubator_gobblin_spark.sources import delta_import

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "ice space+dir" / "t")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    files, _ = snapshot_files(
        current_metadata(root), root, collect_deletes=True
    )
    coords = _coords(
        spark, [f["path"] for f in files], F.col("n_nationkey") % 4 == 0
    )
    assert coords
    append_position_deletes(root, coords)
    append_equality_deletes(root, [{"n_nationkey": 1}], ["n_nationkey"])
    want = sorted(
        map(
            tuple,
            df.filter(
                (F.col("n_nationkey") % 4 != 0) & (F.col("n_nationkey") != 1)
            ).collect(),
        )
    )
    assert sorted(map(tuple, read_iceberg(spark, root).collect())) == want
    # the delete parquet's file_path values must be the manifest's raw
    # (decoded) form so foreign readers string-match them
    import pyarrow.parquet as pq

    dfiles = [
        os.path.join(root, "_deletes", f)
        for f in os.listdir(os.path.join(root, "_deletes"))
        if f.startswith("pos-delete")
    ]
    for d in dfiles:
        for p in pq.read_table(d).column("file_path").to_pylist():
            assert "%" not in p, p
    # forced-tiny threshold -> shuffle-join fallback; same rows
    monkeypatch.setattr(delta_import, "TOMBSTONE_BROADCAST_MAX_ROWS", 0)
    assert sorted(map(tuple, read_iceberg(spark, root).collect())) == want


def test_iceberg_full_export_refuses_to_drop_foreign_deletes(
    spark, sf_dir, tmp_path
):
    """A full (non-incremental) export rebuilds the manifest list from
    engine state and cannot express a foreign engine's delete
    manifests — it must refuse rather than silently resurrect the
    deleted rows for foreign readers; the incremental path (which
    carries them by reference) keeps working."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "fullrefuse")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r0")
    sink.publish("r0")
    sink.export_iceberg()
    files, _ = snapshot_files(
        current_metadata(root), root, collect_deletes=True
    )
    coords = _coords(
        spark, [f["path"] for f in files], F.col("r_regionkey") == 0
    )
    append_position_deletes(root, coords)
    sink.write_staging(df.filter(F.col("r_regionkey") >= 3), "r1")
    sink.publish("r1")
    with pytest.raises(ValueError, match="foreign delete"):
        sink.export_iceberg(mode="full")
    # incremental export still carries the tombstones by reference
    sink.export_iceberg()
    got = read_iceberg(spark, root)
    want = df.filter(F.col("r_regionkey") != 0)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_iceberg_position_delete_sequence_gating(spark, tmp_path):
    """Spec §Scan Planning: a position delete applies only to data
    files whose data sequence number is <= the delete file's. A
    tombstone OLDER than the data file (the path-readded-after-removal
    case) must NOT delete the newer row; an equal-or-newer one must.
    Hand-authored (data entry seq=5; stale delete seq=3, live delete
    seq=6) because no writer here produces the stale shape."""
    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _MANIFEST_LIST_AVRO,
        _manifest_entry_avro,
    )

    root = str(tmp_path / "seqgate")
    os.makedirs(os.path.join(root, "data"))
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], "id long, name string"
    ).toPandas().to_parquet(os.path.join(root, "data", "f1.parquet"))
    data_file = os.path.join(root, "data", "f1.parquet")

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _pos_delete_file(name, positions):
        p = os.path.join(root, "data", name)
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array(
                        ["file://" + data_file] * len(positions), pa.string()
                    ),
                    "pos": pa.array(positions, pa.int64()),
                }
            ),
            p,
        )
        return p

    stale_del = _pos_delete_file("stale-del.parquet", [0])  # seq 3 < data 5
    live_del = _pos_delete_file("live-del.parquet", [1])  # seq 6 >= data 5

    entry_schema = _manifest_entry_avro(
        {"type": "record", "name": "r102", "fields": []}
    )

    def _manifest(name, entry, content_meta):
        p = os.path.join(meta_dir, name)
        with open(p, "wb") as fh:
            fh.write(
                encode_ocf(
                    entry_schema,
                    [entry],
                    codec="null",
                    extra_meta={
                        "schema": b"{}",
                        "partition-spec": b"[]",
                        "partition-spec-id": b"0",
                        "format-version": b"2",
                        "content": content_meta,
                    },
                )
            )
        return p

    data_manifest = _manifest(
        "gate-m0.avro",
        {
            "status": 1,
            "snapshot_id": 99,
            "sequence_number": 5,
            "file_sequence_number": 5,
            "data_file": {
                "content": 0,
                "file_path": data_file,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 3,
                "file_size_in_bytes": os.path.getsize(data_file),
            },
        },
        b"data",
    )

    def _del_manifest(name, path, seq):
        return _manifest(
            name,
            {
                "status": 1,
                "snapshot_id": 99,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": 1,
                    "file_size_in_bytes": os.path.getsize(path),
                },
            },
            b"deletes",
        )

    stale_manifest = _del_manifest("gate-m1.avro", stale_del, 3)
    live_manifest = _del_manifest("gate-m2.avro", live_del, 6)

    def _list_row(mp, content, seq):
        return {
            "manifest_path": mp,
            "manifest_length": os.path.getsize(mp),
            "partition_spec_id": 0,
            "content": content,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_snapshot_id": 99,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_rows_count": 3,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    mlist = os.path.join(meta_dir, "snap-99-1-gate.avro")
    with open(mlist, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                [
                    _list_row(data_manifest, 0, 5),
                    _list_row(stale_manifest, 1, 3),
                    _list_row(live_manifest, 1, 6),
                ],
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": root,
        "last-sequence-number": 6,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"},
                    {
                        "id": 2,
                        "name": "name",
                        "required": False,
                        "type": "string",
                    },
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 99,
        "snapshots": [
            {
                "snapshot-id": 99,
                "sequence-number": 6,
                "timestamp-ms": 0,
                "summary": {"operation": "overwrite"},
                "manifest-list": mlist,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(metadata, fh)

    got = sorted(map(tuple, read_iceberg(spark, root).collect()))
    # row 0 survives the STALE delete (data seq 5 > delete seq 3);
    # row 1 falls to the live delete (5 <= 6); row 2 untouched
    assert got == [(1, "alpha"), (3, "gamma")]


def test_iceberg_renamed_column_resolves_by_field_id(spark, tmp_path):
    """Iceberg resolves columns by FIELD ID, never by name (spec
    §Schema Evolution): after a rename, data files still carry the OLD
    parquet column name — a name-based read silently returns nulls.
    Hand-authored mixed table: file A written by a conformant foreign
    writer (field ids, pre-rename name), file B by this engine's own
    exporter (no ids, current name). Both must read their values under
    the CURRENT schema name."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _MANIFEST_LIST_AVRO,
        _manifest_entry_avro,
    )

    root = str(tmp_path / "rename")
    os.makedirs(os.path.join(root, "data"))
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)
    # file A: foreign writer — field ids, column still named old_name
    fa = os.path.join(root, "data", "fa.parquet")
    pq.write_table(
        pa.table(
            {"k": pa.array([1, 2], pa.int64()),
             "old_name": pa.array(["a", "b"], pa.string())},
            schema=pa.schema(
                [
                    pa.field("k", pa.int64(),
                             metadata={b"PARQUET:field_id": b"1"}),
                    pa.field("old_name", pa.string(),
                             metadata={b"PARQUET:field_id": b"2"}),
                ]
            ),
        ),
        fa,
    )
    # file B: this engine's exporter — no ids, current (renamed) name
    fb = os.path.join(root, "data", "fb.parquet")
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "new_name": pa.array(["c"], pa.string())}),
        fb,
    )

    entry_schema = _manifest_entry_avro(
        {"type": "record", "name": "r102", "fields": []}
    )
    manifest = os.path.join(meta_dir, "ren-m0.avro")
    with open(manifest, "wb") as fh:
        fh.write(
            encode_ocf(
                entry_schema,
                [
                    {
                        "status": 1,
                        "snapshot_id": 7,
                        "sequence_number": 1,
                        "file_sequence_number": 1,
                        "data_file": {
                            "content": 0,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": rc,
                            "file_size_in_bytes": os.path.getsize(fp),
                        },
                    }
                    for fp, rc in ((fa, 2), (fb, 1))
                ],
                codec="null",
                extra_meta={
                    "schema": b"{}",
                    "partition-spec": b"[]",
                    "partition-spec-id": b"0",
                    "format-version": b"2",
                    "content": b"data",
                },
            )
        )
    mlist = os.path.join(meta_dir, "snap-7-1-ren.avro")
    with open(mlist, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                [
                    {
                        "manifest_path": manifest,
                        "manifest_length": os.path.getsize(manifest),
                        "partition_spec_id": 0,
                        "content": 0,
                        "sequence_number": 1,
                        "min_sequence_number": 1,
                        "added_snapshot_id": 7,
                        "added_files_count": 2,
                        "existing_files_count": 0,
                        "deleted_files_count": 0,
                        "added_rows_count": 3,
                        "existing_rows_count": 0,
                        "deleted_rows_count": 0,
                    }
                ],
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000002",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False,
                     "type": "long"},
                    # renamed: the files' old_name column, field id 2
                    {"id": 2, "name": "new_name", "required": False,
                     "type": "string"},
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 7,
        "snapshots": [
            {
                "snapshot-id": 7,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "summary": {"operation": "append"},
                "manifest-list": mlist,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(metadata, fh)

    got = sorted(map(tuple, read_iceberg(spark, root).collect()))
    # id-based resolution reads file A's values under the NEW name;
    # name-based fallback reads file B's
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_iceberg_export_writes_name_mapping(spark, sf_dir, tmp_path):
    """Exports must carry schema.name-mapping.default (spec §Name
    Mapping Serialization): our data files embed no parquet field ids,
    and foreign readers resolving by id would otherwise position-assign
    them — misaligned on partitioned tables where partition columns sit
    in the schema but not in the files. Every schema field must map,
    ids must match the schema's."""
    import json as _json

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "nmap")
    sink = _sink(
        root, partition_by=["n_regionkey"], table_type=TableType.APPEND_ONLY
    )
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    meta = current_metadata(root)
    raw = meta["properties"]["schema.name-mapping.default"]
    mapping = _json.loads(raw)
    schema = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    by_name = {e["names"][0]: e["field-id"] for e in mapping}
    for f in schema["fields"]:
        assert by_name[f["name"]] == f["id"], f["name"]
    # the partition column is mapped too (present in schema, absent
    # from the data files — exactly the misalignment case)
    assert "n_regionkey" in by_name


def test_iceberg_type_promotion_reads_widened(spark, tmp_path):
    """Iceberg type promotion (spec §Schema Evolution: int->long,
    float->double): files written under the NARROW type still read
    under the promoted schema — pins the Spark parquet upcast this
    reader relies on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _MANIFEST_LIST_AVRO,
        _manifest_entry_avro,
    )

    root = str(tmp_path / "promo")
    os.makedirs(os.path.join(root, "data"))
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)
    fp = os.path.join(root, "data", "f1.parquet")
    pq.write_table(
        pa.table(
            {"k": pa.array([1, 2], pa.int32()),
             "x": pa.array([1.5, 2.5], pa.float32())}
        ),
        fp,
    )
    entry_schema = _manifest_entry_avro(
        {"type": "record", "name": "r102", "fields": []}
    )
    manifest = os.path.join(meta_dir, "promo-m0.avro")
    with open(manifest, "wb") as fh:
        fh.write(
            encode_ocf(
                entry_schema,
                [{"status": 1, "snapshot_id": 5, "sequence_number": 1,
                  "file_sequence_number": 1,
                  "data_file": {"content": 0, "file_path": fp,
                                "file_format": "PARQUET", "partition": {},
                                "record_count": 2,
                                "file_size_in_bytes": os.path.getsize(fp)}}],
                codec="null",
                extra_meta={"schema": b"{}", "partition-spec": b"[]",
                            "partition-spec-id": b"0",
                            "format-version": b"2", "content": b"data"},
            )
        )
    mlist = os.path.join(meta_dir, "snap-5-1-promo.avro")
    with open(mlist, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                [{"manifest_path": manifest,
                  "manifest_length": os.path.getsize(manifest),
                  "partition_spec_id": 0, "content": 0,
                  "sequence_number": 1, "min_sequence_number": 1,
                  "added_snapshot_id": 5, "added_files_count": 1,
                  "existing_files_count": 0, "deleted_files_count": 0,
                  "added_rows_count": 2, "existing_rows_count": 0,
                  "deleted_rows_count": 0}],
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000003",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": [
                # promoted AFTER the file was written
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "x", "required": False, "type": "double"},
            ]}
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 5,
        "snapshots": [
            {"snapshot-id": 5, "sequence-number": 1, "timestamp-ms": 0,
             "summary": {"operation": "append"}, "manifest-list": mlist,
             "schema-id": 0}
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(metadata, fh)
    got = sorted(map(tuple, read_iceberg(spark, root).collect()))
    assert got == [(1, 1.5), (2, 2.5)]
    types = dict(read_iceberg(spark, root).dtypes)
    assert types == {"k": "bigint", "x": "double"}


def test_iceberg_time_travel_uses_snapshot_schema(spark, tmp_path):
    """A snapshot records its schema-id; time travel must read under
    THAT schema (spec §Snapshots) — a column added later must not
    appear when reading the older snapshot, while the current read
    null-fills it for pre-evolution files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _MANIFEST_LIST_AVRO,
        _manifest_entry_avro,
    )

    root = str(tmp_path / "ttschema")
    os.makedirs(os.path.join(root, "data"))
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)
    f1 = os.path.join(root, "data", "f1.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), f1)
    f2 = os.path.join(root, "data", "f2.parquet")
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()),
                  "x": pa.array(["c"], pa.string())}),
        f2,
    )
    entry_schema = _manifest_entry_avro(
        {"type": "record", "name": "r102", "fields": []}
    )

    def _manifest(name, fp, rc, sid, seq):
        p = os.path.join(meta_dir, name)
        with open(p, "wb") as fh:
            fh.write(
                encode_ocf(
                    entry_schema,
                    [{"status": 1, "snapshot_id": sid,
                      "sequence_number": seq, "file_sequence_number": seq,
                      "data_file": {"content": 0, "file_path": fp,
                                    "file_format": "PARQUET",
                                    "partition": {}, "record_count": rc,
                                    "file_size_in_bytes":
                                        os.path.getsize(fp)}}],
                    codec="null",
                    extra_meta={"schema": b"{}", "partition-spec": b"[]",
                                "partition-spec-id": b"0",
                                "format-version": b"2", "content": b"data"},
                )
            )
        return p

    m1 = _manifest("tt-m0.avro", f1, 2, 11, 1)
    m2 = _manifest("tt-m1.avro", f2, 1, 12, 2)

    def _lrow(mp, seq, sid):
        return {"manifest_path": mp,
                "manifest_length": os.path.getsize(mp),
                "partition_spec_id": 0, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": sid, "added_files_count": 1,
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": 2, "existing_rows_count": 0,
                "deleted_rows_count": 0}

    ml1 = os.path.join(meta_dir, "snap-11-1-tt.avro")
    with open(ml1, "wb") as fh:
        fh.write(encode_ocf(_MANIFEST_LIST_AVRO, [_lrow(m1, 1, 11)],
                            codec="null",
                            extra_meta={"format-version": b"2"}))
    ml2 = os.path.join(meta_dir, "snap-12-1-tt.avro")
    with open(ml2, "wb") as fh:
        fh.write(encode_ocf(_MANIFEST_LIST_AVRO,
                            [_lrow(m1, 1, 11), _lrow(m2, 2, 12)],
                            codec="null",
                            extra_meta={"format-version": b"2"}))
    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000004",
        "location": root,
        "last-sequence-number": 2,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 1,
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"}]},
            {"type": "struct", "schema-id": 1, "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "x", "required": False,
                 "type": "string"}]},
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 12,
        "snapshots": [
            {"snapshot-id": 11, "sequence-number": 1, "timestamp-ms": 0,
             "summary": {"operation": "append"}, "manifest-list": ml1,
             "schema-id": 0},
            {"snapshot-id": 12, "sequence-number": 2, "timestamp-ms": 1,
             "summary": {"operation": "append"}, "manifest-list": ml2,
             "schema-id": 1},
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(metadata, fh)

    cur = read_iceberg(spark, root)
    assert cur.columns == ["k", "x"]
    assert sorted(map(tuple, cur.collect())) == [
        (1, None), (2, None), (3, "c")
    ]
    old = read_iceberg(spark, root, snapshot_id=11)
    assert old.columns == ["k"]  # the later column must NOT appear
    assert sorted(map(tuple, old.collect())) == [(1,), (2,)]


def test_iceberg_equality_delete_partition_scope(spark, sf_dir, tmp_path):
    """A delete file written under a partitioned spec applies ONLY
    within its partition (spec §Scan Planning): an equality delete
    scoped to n_regionkey=2 must leave matching keys in other
    partitions alive; a global (all-null scope) delete still applies
    everywhere."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "eqscope")
    sink = _sink(
        root, partition_by=["n_regionkey"], table_type=TableType.APPEND_ONLY
    )
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    # pick a key INSIDE the scope partition and one OUTSIDE it, from
    # the data itself, so the scope provably deletes one and spares
    # the other
    r_of = {r.n_nationkey: r.n_regionkey for r in df.collect()}
    k_in = min(r_of)
    scope_region = int(r_of[k_in])
    k_out = next(
        k for k in sorted(r_of) if int(r_of[k]) != scope_region
    )
    append_equality_deletes(
        root,
        [{"n_nationkey": int(k_in)}, {"n_nationkey": int(k_out)}],
        ["n_nationkey"],
        partition_scope={"n_regionkey": scope_region},
    )
    got = read_iceberg(spark, root)
    want = df.filter(F.col("n_nationkey") != k_in)  # k_out survives
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.filter(F.col("n_nationkey") == k_out).count() == 1
    # a global delete stacked on top applies across partitions
    append_equality_deletes(
        root, [{"n_nationkey": int(k_out)}], ["n_nationkey"]
    )
    got2 = read_iceberg(spark, root)
    want2 = want.filter(F.col("n_nationkey") != k_out)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, want2.collect())
    )


def _retarget_spec(root, fields):
    """Rewrite the table's default partition spec the way a foreign
    writer with hidden partitioning would declare it (the data files
    keep all source columns — only the spec JSON changes)."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )

    meta_dir = os.path.join(root, "metadata")
    v = _metadata_versions(meta_dir)[-1]
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    meta["partition-specs"][0]["fields"] = fields
    with open(os.path.join(meta_dir, f"v{v}.metadata.json"), "w") as fh:
        json.dump(meta, fh)


def test_iceberg_equality_delete_bucket_scope(spark, sf_dir, tmp_path):
    """An equality delete scoped to a BUCKET partition (spec §Scan
    Planning over a bucket[N] hidden-partition spec — the Flink CDC
    upsert shape) applies only to rows whose bucket(key) equals the
    scope value: the reader evaluates the spec's Murmur3 bucket
    transform JVM-side instead of refusing or over-deleting."""
    from incubator_gobblin_spark.functions.iceberg_transforms import (
        bucket_py,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "eqbucket")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    meta = current_metadata(root)
    key_id = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "n_nationkey"
    )
    _retarget_spec(root, [{
        "name": "key_bucket", "transform": "bucket[4]",
        "source-id": key_id, "field-id": 1000,
    }])
    # two keys landing in DIFFERENT buckets; delete both, scoped to
    # k_in's bucket only — k_out must survive
    keys = sorted(r.n_nationkey for r in df.collect())
    k_in = keys[0]
    b_in = bucket_py(k_in, 4, "long")
    k_out = next(k for k in keys if bucket_py(k, 4, "long") != b_in)
    append_equality_deletes(
        root,
        [{"n_nationkey": int(k_in)}, {"n_nationkey": int(k_out)}],
        ["n_nationkey"],
        partition_scope={"key_bucket": b_in},
    )
    got = read_iceberg(spark, root)
    want = df.filter(F.col("n_nationkey") != k_in)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.filter(F.col("n_nationkey") == k_out).count() == 1


def test_iceberg_equality_delete_truncate_scope(spark, sf_dir, tmp_path):
    """Same shape over truncate[10]: the delete applies only inside
    the scope's truncation bucket."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    root = str(tmp_path / "eqtrunc")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    meta = current_metadata(root)
    key_id = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "n_nationkey"
    )
    _retarget_spec(root, [{
        "name": "key_trunc", "transform": "truncate[10]",
        "source-id": key_id, "field-id": 1000,
    }])
    keys = sorted(r.n_nationkey for r in df.collect())
    k_in = keys[0]          # truncation bucket 0
    k_out = next(k for k in keys if k // 10 != k_in // 10)
    append_equality_deletes(
        root,
        [{"n_nationkey": int(k_in)}, {"n_nationkey": int(k_out)}],
        ["n_nationkey"],
        partition_scope={"key_trunc": int(k_in // 10) * 10},
    )
    got = read_iceberg(spark, root)
    want = df.filter(F.col("n_nationkey") != k_in)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.filter(F.col("n_nationkey") == k_out).count() == 1


def test_iceberg_equality_delete_unknown_transform_scope_refuses(
    spark, sf_dir, tmp_path
):
    """A scope on a transform this engine cannot evaluate still
    REFUSES (applying globally would over-delete) — the loud-fail
    discipline is unchanged, only its perimeter moved."""
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "eqweird")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    meta = current_metadata(root)
    key_id = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "r_regionkey"
    )
    _retarget_spec(root, [{
        "name": "key_z", "transform": "zorder[2]",
        "source-id": key_id, "field-id": 1000,
    }])
    append_equality_deletes(
        root, [{"r_regionkey": 0}], ["r_regionkey"],
        partition_scope={"key_z": 7},
    )
    with pytest.raises(ValueError, match="over-delete"):
        read_iceberg(spark, root).collect()


def test_iceberg_mixed_writers_plain_sample_sniffs_all_footers(
    spark, tmp_path
):
    """VERDICT r9 wrong #1: the footer sniff sampled 8 files and, when
    the sample was homogeneous id-LESS, classified every later file the
    same way — a mixed-writer table whose first files are engine-written
    then read later foreign id-carrying files BY NAME, so a renamed
    column came back null SILENTLY. The shortcut is now asymmetric
    (only a homogeneous WITH-ids sample short-circuits — the direction
    that fails loudly); with 10 id-less files listed first, the two
    trailing id-carrying files must still resolve by field id."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _MANIFEST_LIST_AVRO,
        _manifest_entry_avro,
    )

    root = str(tmp_path / "mixed")
    os.makedirs(os.path.join(root, "data"))
    meta_dir = os.path.join(root, "metadata")
    os.makedirs(meta_dir)

    entries = []
    # 10 engine-written files FIRST: no field ids, current name
    for i in range(10):
        fp = os.path.join(root, "data", f"plain{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array([i * 10], pa.int64()),
                    "new_name": pa.array([f"p{i}"], pa.string()),
                }
            ),
            fp,
        )
        entries.append((fp, 1))
    # then 2 foreign files: field ids, pre-rename column name
    foreign_schema = pa.schema(
        [
            pa.field("k", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
            pa.field(
                "old_name",
                pa.string(),
                metadata={b"PARQUET:field_id": b"2"},
            ),
        ]
    )
    for i, (ks, vs) in enumerate([([901], ["fa"]), ([902], ["fb"])]):
        fp = os.path.join(root, "data", f"foreign{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "old_name": pa.array(vs, pa.string()),
                },
                schema=foreign_schema,
            ),
            fp,
        )
        entries.append((fp, 1))

    entry_schema = _manifest_entry_avro(
        {"type": "record", "name": "r102", "fields": []}
    )
    manifest = os.path.join(meta_dir, "mix-m0.avro")
    with open(manifest, "wb") as fh:
        fh.write(
            encode_ocf(
                entry_schema,
                [
                    {
                        "status": 1,
                        "snapshot_id": 7,
                        "sequence_number": 1,
                        "file_sequence_number": 1,
                        "data_file": {
                            "content": 0,
                            "file_path": fp,
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": rc,
                            "file_size_in_bytes": os.path.getsize(fp),
                        },
                    }
                    for fp, rc in entries
                ],
                codec="null",
                extra_meta={
                    "schema": b"{}",
                    "partition-spec": b"[]",
                    "partition-spec-id": b"0",
                    "format-version": b"2",
                    "content": b"data",
                },
            )
        )
    mlist = os.path.join(meta_dir, "snap-7-1-mix.avro")
    with open(mlist, "wb") as fh:
        fh.write(
            encode_ocf(
                _MANIFEST_LIST_AVRO,
                [
                    {
                        "manifest_path": manifest,
                        "manifest_length": os.path.getsize(manifest),
                        "partition_spec_id": 0,
                        "content": 0,
                        "sequence_number": 1,
                        "min_sequence_number": 1,
                        "added_snapshot_id": 7,
                        "added_files_count": len(entries),
                        "existing_files_count": 0,
                        "deleted_files_count": 0,
                        "added_rows_count": len(entries),
                        "existing_rows_count": 0,
                        "deleted_rows_count": 0,
                    }
                ],
                codec="null",
                extra_meta={"format-version": b"2"},
            )
        )
    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-00000000000a",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "new_name", "required": False,
                     "type": "string"},
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": 7,
        "snapshots": [
            {
                "snapshot-id": 7,
                "sequence-number": 1,
                "timestamp-ms": 0,
                "summary": {"operation": "append"},
                "manifest-list": mlist,
                "schema-id": 0,
            }
        ],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, "v1.metadata.json"), "w") as fh:
        json.dump(metadata, fh)

    got = sorted(map(tuple, read_iceberg(spark, root).collect()))
    expected = sorted(
        [(i * 10, f"p{i}") for i in range(10)] + [(901, "fa"), (902, "fb")]
    )
    # before the fix the foreign rows read (901, None)/(902, None)
    assert got == expected


def _hidden_sink(spark, df, root, derived, transform, source, ice_type):
    """Export ``df`` hidden-partitioned: derive the transform column,
    write it as the physical partition key (partitionBy drops it from
    the data files, keeping the SOURCE column — the spec's layout),
    export under the transform spec."""
    from incubator_gobblin_spark.functions.iceberg_transforms import (
        transform_expr,
    )

    sink = _sink(
        root,
        partition_by=[derived],
        table_type=TableType.APPEND_ONLY,
    )
    staged = df.withColumn(
        derived, transform_expr(transform, F.col(source), ice_type)
    )
    sink.write_staging(staged, "r0")
    sink.publish("r0")
    sink.export_iceberg(
        transform_spec=[
            {"name": derived, "transform": transform, "source": source}
        ]
    )
    return sink


def test_iceberg_export_transform_spec_roundtrip_and_prune(
    spark, sf_dir, tmp_path
):
    """VERDICT r9 missing #3: the writer can author a transform-
    partitioned table. truncate[100] over doc_id: the spec field
    carries the transform + result type + the SOURCE column's field
    id, the derived column stays OUT of the schema (hidden), data
    files keep doc_id, the round trip is value-exact, and a point
    filter on the source column prunes to the one transform bucket via
    the authored spec."""
    from incubator_gobblin_spark.functions.iceberg_transforms import (
        transform_py,
    )
    from incubator_gobblin_spark.sources.iceberg_import import prune_files

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = str(tmp_path / "trunc")
    _hidden_sink(
        spark, docs, root, "doc_id_trunc", "truncate[100]", "doc_id",
        "long",
    )
    meta = current_metadata(root)
    schema_cols = [f["name"] for f in meta["schemas"][0]["fields"]]
    assert "doc_id_trunc" not in schema_cols and "doc_id" in schema_cols
    spec = meta["partition-specs"][0]["fields"]
    doc_fid = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "doc_id"
    )
    assert spec == [
        {
            "name": "doc_id_trunc",
            "transform": "truncate[100]",
            "source-id": doc_fid,
            "field-id": 1000,
        }
    ]
    got = read_iceberg(spark, root).select(
        "doc_id", "lang", "source", "n_chars"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, docs.collect())
    )
    # manifest partition values are the TRANSFORMED ints
    files = snapshot_files(meta, root)
    for f in files:
        pv = f["partition"]["doc_id_trunc"]
        assert isinstance(pv, int) and pv % 100 == 0
    # point filter on the SOURCE column prunes via the authored spec
    key = int(docs.select("doc_id").first()[0])
    kept = prune_files(
        files,
        [("doc_id", "=", key)],
        meta["schemas"][0]["fields"],
        [],
        specs_by_id={sp["spec-id"]: sp for sp in meta["partition-specs"]},
    )
    assert len(kept) < len(files)
    assert all(
        f["partition"]["doc_id_trunc"]
        == transform_py("truncate[100]", key, "long")
        for f in kept
    )
    flt = read_iceberg(spark, root, filters=[("doc_id", "=", key)]).filter(
        F.col("doc_id") == key
    )
    assert flt.count() == docs.filter(F.col("doc_id") == key).count()


def test_iceberg_export_bucket_spec_and_scoped_delete(
    spark, sf_dir, tmp_path
):
    """bucket[8] hidden partitioning on an ENGINE-authored table, then
    a foreign-style equality delete SCOPED to one bucket: only keys in
    that bucket die (spec §Scan Planning on our own authored spec —
    the q137 read machinery against the q141-era write path)."""
    from incubator_gobblin_spark.functions.iceberg_transforms import (
        bucket_py,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = str(tmp_path / "bucket")
    _hidden_sink(
        spark, docs, root, "doc_id_bucket", "bucket[8]", "doc_id", "long"
    )
    meta = current_metadata(root)
    files = snapshot_files(meta, root)
    # every file's partition value matches the spec hash of its rows
    got = read_iceberg(spark, root)
    for r in got.select("doc_id").limit(50).collect():
        assert bucket_py(int(r.doc_id), 8, "long") in range(8)

    # scoped delete: kill doc_id%10==1 keys ONLY in bucket 3
    keys = [
        int(r.doc_id)
        for r in docs.filter("doc_id % 10 = 1").select("doc_id").collect()
    ]
    append_equality_deletes(
        root,
        [{"doc_id": k} for k in sorted(keys)],
        ["doc_id"],
        partition_scope={"doc_id_bucket": 3},
    )
    survivors = read_iceberg(spark, root).select("doc_id").collect()
    surv = {int(r.doc_id) for r in survivors}
    for k in keys:
        if bucket_py(k, 8, "long") == 3:
            assert k not in surv  # in-scope: deleted
        else:
            assert k in surv  # out of scope: must survive
    n_in_scope = sum(1 for k in keys if bucket_py(k, 8, "long") == 3)
    assert len(surv) == docs.count() - n_in_scope


def test_iceberg_export_day_spec_datetime_prune(spark, sf_dir, tmp_path):
    """day() hidden partitioning over a timestamp source: partition
    values are epoch-day ints, and a datetime point filter prunes via
    the epoch-normalized comparison (the ADVICE r9 high fix, now on an
    engine-authored table)."""
    import datetime as dt

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    root = str(tmp_path / "day")
    _hidden_sink(
        spark, events, root, "ts_day", "day", "ts", "timestamp"
    )
    meta = current_metadata(root)
    files = snapshot_files(meta, root)
    assert all(
        isinstance(f["partition"]["ts_day"], int) for f in files
    )
    got = read_iceberg(spark, root).select("event_id", "user_id", "ts")
    assert got.count() == events.count()
    some_ts = events.select("ts").first()[0]
    flt = read_iceberg(
        spark, root, filters=[("ts", "=", some_ts)]
    ).filter(F.col("ts") == some_ts)
    assert flt.count() == events.filter(F.col("ts") == some_ts).count()


def test_iceberg_export_transform_spec_incremental_and_guards(
    spark, sf_dir, tmp_path
):
    """A second publish+export under the SAME transform spec stays
    incremental (prev manifests carried by reference); changing the
    spec forces a full snapshot; bad transform_spec entries refuse."""
    import pytest as _pytest

    from incubator_gobblin_spark.functions.iceberg_transforms import (
        transform_expr,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    half1 = docs.filter("doc_id % 2 = 0")
    half2 = docs.filter("doc_id % 2 = 1")
    root = str(tmp_path / "incr")
    sink = _sink(
        root, partition_by=["doc_id_trunc"], table_type=TableType.APPEND_ONLY
    )
    tspec = [
        {"name": "doc_id_trunc", "transform": "truncate[200]",
         "source": "doc_id"}
    ]

    def _stage(df, run):
        sink.write_staging(
            df.withColumn(
                "doc_id_trunc",
                transform_expr("truncate[200]", F.col("doc_id"), "long"),
            ),
            run,
        )
        sink.publish(run)

    _stage(half1, "r0")
    sink.export_iceberg(transform_spec=tspec)
    _stage(half2, "r1")
    sink.export_iceberg(transform_spec=tspec)
    meta = current_metadata(root)
    snaps = meta["snapshots"]
    assert len(snaps) == 2
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _decode_manifest_list,
    )

    rows = _decode_manifest_list(snaps[-1], os.path.abspath(root))
    assert len(rows) == 2  # incremental: first manifest carried
    got = read_iceberg(spark, root).select(
        "doc_id", "lang", "source", "n_chars"
    )
    assert got.count() == docs.count()

    with _pytest.raises(ValueError, match="not a physical partition"):
        sink.export_iceberg(
            transform_spec=[
                {"name": "nope", "transform": "day", "source": "doc_id"}
            ],
            mode="full",
        )
    with _pytest.raises(ValueError, match="identity entries"):
        sink.export_iceberg(
            transform_spec=[
                {
                    "name": "doc_id_trunc",
                    "transform": "identity",
                    "source": "doc_id",
                }
            ],
            mode="full",
        )


def test_iceberg_delete_on_transform_partitioned_table(
    spark, sf_dir, tmp_path
):
    """delete_iceberg_rows on a transform-partitioned table: the
    delete manifest's partition struct uses the spec's field name and
    result type (values null — deletes are snapshot-global), and the
    read-back equals the predicate complement."""
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = str(tmp_path / "deltr")
    _hidden_sink(
        spark, docs, root, "doc_id_trunc", "truncate[100]", "doc_id",
        "long",
    )
    r = delete_iceberg_rows(spark, root, "n_chars % 4 = 1")
    exp = docs.filter("n_chars % 4 != 1")
    assert r["rows_deleted"] == docs.count() - exp.count()
    got = read_iceberg(spark, root).select(
        "doc_id", "lang", "source", "n_chars"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, exp.collect())
    )


def test_iceberg_eqdelete_scope_across_evolved_specs(
    spark, sf_dir, tmp_path
):
    """ADVICE-wave r10 on the (equality_ids, spec_id) grouping: a
    table whose partition spec EVOLVED carries two equality deletes
    with the SAME equality ids and the SAME scope field NAME but
    DIFFERENT transforms (spec 0: truncate[100], spec 1: bucket[8]).
    Each delete's scope must resolve through ITS OWN spec — merging
    the groups (or attributing both to spec 0, the bug just fixed in
    the fixture authors) would evaluate one delete's scope value under
    the other's transform and over/under-delete."""
    import json as _json

    from incubator_gobblin_spark.functions.iceberg_transforms import (
        bucket_py,
        transform_py,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
        append_equality_deletes,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = str(tmp_path / "specs2")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(docs, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    meta_dir = os.path.join(root, "metadata")

    def _edit(fn):
        v = _metadata_versions(meta_dir)[-1]
        mp = os.path.join(meta_dir, f"v{v}.metadata.json")
        with open(mp) as fh:
            m = _json.load(fh)
        fn(m)
        with open(mp, "w") as fh:
            _json.dump(m, fh)

    key_id = None

    def _install_specs(m):
        nonlocal key_id
        key_id = next(
            f["id"]
            for f in m["schemas"][0]["fields"]
            if f["name"] == "doc_id"
        )
        m["partition-specs"] = [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "scope_f", "transform": "truncate[100]",
                     "source-id": key_id, "field-id": 1000}
                ],
            },
            {
                "spec-id": 1,
                "fields": [
                    {"name": "scope_f", "transform": "bucket[8]",
                     "source-id": key_id, "field-id": 1000}
                ],
            },
        ]
        m["default-spec-id"] = 0

    _edit(_install_specs)
    keys1 = sorted(
        int(r.doc_id)
        for r in docs.filter("doc_id % 10 = 0").select("doc_id").collect()
    )
    append_equality_deletes(
        root,
        [{"doc_id": k} for k in keys1],
        ["doc_id"],
        partition_scope={"scope_f": 300},  # trunc100(doc_id) == 300
    )

    def _flip_default(m):
        m["default-spec-id"] = 1

    _edit(_flip_default)
    keys2 = sorted(
        int(r.doc_id)
        for r in docs.filter("doc_id % 10 = 7").select("doc_id").collect()
    )
    append_equality_deletes(
        root,
        [{"doc_id": k} for k in keys2],
        ["doc_id"],
        partition_scope={"scope_f": 3},  # bucket8(doc_id) == 3
    )

    surv = {
        int(r.doc_id)
        for r in read_iceberg(spark, root).select("doc_id").collect()
    }
    all_keys = {int(r.doc_id) for r in docs.select("doc_id").collect()}
    expected_dead = {
        k
        for k in keys1
        if transform_py("truncate[100]", k, "long") == 300
    } | {k for k in keys2 if bucket_py(k, 8, "long") == 3}
    assert surv == all_keys - expected_dead
    assert expected_dead  # the fixture actually exercises both scopes
    # and each scope killed something the OTHER transform would not
    assert any(
        transform_py("truncate[100]", k, "long") != 300
        for k in keys2
        if bucket_py(k, 8, "long") == 3
    )
