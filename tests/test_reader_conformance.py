"""Reader-core conformance regressions (full-file review of
delta_import / iceberg_import): spec-evolution partition restore,
conservative partition pruning, partial-log replay guards, and the
foreign path forms (single-slash file: URIs, absolute add paths,
format-v1 metadata)."""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.session import load_table  # noqa: E402

COLS = ["doc_id", "lang", "n_chars"]


def test_iceberg_spec_evolution_keeps_stored_partition_column(
    spark, sf_dir, tmp_path
):
    """A table that STARTS unpartitioned and later evolves to
    identity(lang): the pre-evolution data files physically store
    lang, and their partition tuples lack the field. Restoring from
    the DEFAULT spec would silently null lang for every old row — the
    reader must restore per FILE spec instead."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    root = str(tmp_path / "specevo")
    docs = load_table(spark, sf_dir, "documents").select(*COLS).limit(40)
    write_iceberg_table(spark, docs, root)  # spec 0: unpartitioned
    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    lang_id = next(
        f["id"] for f in raw["schemas"][0]["fields"] if f["name"] == "lang"
    )
    raw["partition-specs"].append({
        "spec-id": 1,
        "fields": [{
            "name": "lang", "transform": "identity",
            "source-id": lang_id, "field-id": 1000,
        }],
    })
    raw["default-spec-id"] = 1
    raw["last-partition-id"] = 1000
    json.dump(raw, open(mp, "w"))

    got = read_iceberg(spark, root)
    assert got.filter(F.col("lang").isNull()).count() == 0
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_delta_boolean_partition_prune_is_conservative(spark, tmp_path):
    """prune_adds on a boolean partition: bool('false') is True in
    Python, so naive coercion pruned every flag=false file — matching
    rows silently vanished."""
    from incubator_gobblin_spark.sources.delta_import import prune_adds

    live = {
        "flag=true/a.parquet": {"partitionValues": {"flag": "true"}},
        "flag=false/b.parquet": {"partitionValues": {"flag": "false"}},
    }
    kept = prune_adds(live, [("flag", "=", False)], ["flag"])
    assert "flag=false/b.parquet" in kept
    assert "flag=true/a.parquet" not in kept
    kept = prune_adds(live, [("flag", "=", True)], ["flag"])
    assert "flag=true/a.parquet" in kept
    assert "flag=false/b.parquet" not in kept


def test_iceberg_typed_partition_prune_is_conservative(spark):
    """prune_files carries TYPED partition values; cross-type coercion
    (str(True) != 'true') must keep the file rather than wrongly
    pruning it."""
    from incubator_gobblin_spark.sources.iceberg_import import prune_files

    fields = [
        {"id": 1, "name": "flag", "required": False, "type": "boolean"},
    ]
    files = [
        {"path": "a.parquet", "partition": {"flag": True}, "spec_id": 0,
         "seq": 1, "lower_bounds": {}, "upper_bounds": {}},
        {"path": "b.parquet", "partition": {"flag": False}, "spec_id": 0,
         "seq": 1, "lower_bounds": {}, "upper_bounds": {}},
    ]
    # same-typed literal: prunes exactly
    kept = prune_files(files, [("flag", "=", True)], fields, ["flag"])
    assert [f["path"] for f in kept] == ["a.parquet"]
    # cross-typed string literal: conservative — keep both
    kept = prune_files(files, [("flag", "=", "true")], fields, ["flag"])
    assert len(kept) == 2


def test_iceberg_float_partition_int_literal_no_truncation(spark):
    """A float/double partition value compared against an INT filter
    literal must not be truncated toward zero: int(10.5)=10 made
    ('p','>',10) evaluate 10>10=False and prune a file whose rows
    (p=10.5) match — silent missing rows. The coercion now widens the
    comparison instead of narrowing the partition value."""
    from incubator_gobblin_spark.sources.iceberg_import import (
        _coerce_typed_partition,
        prune_files,
    )

    fields = [
        {"id": 1, "name": "p", "required": False, "type": "double"},
    ]
    files = [
        {"path": "hi.parquet", "partition": {"p": 10.5}, "spec_id": 0,
         "seq": 1, "lower_bounds": {}, "upper_bounds": {}},
        {"path": "lo.parquet", "partition": {"p": 9.5}, "spec_id": 0,
         "seq": 1, "lower_bounds": {}, "upper_bounds": {}},
    ]
    kept = prune_files(files, [("p", ">", 10)], fields, ["p"])
    assert [f["path"] for f in kept] == ["hi.parquet"]
    kept = prune_files(files, [("p", "<", 10)], fields, ["p"])
    assert [f["path"] for f in kept] == ["lo.parquet"]
    # exact conversions still coerce; lossy int->float keeps the file
    assert _coerce_typed_partition(10.0, 10) == 10
    assert _coerce_typed_partition(10.5, 10) == 10.5
    assert _coerce_typed_partition(2**60 + 1, 0.5) is None


def test_delta_time_travel_below_checkpoint_refuses_after_cleanup(
    spark, sf_dir, tmp_path
):
    """Time travel to a version whose prefix was expired (checkpoint
    exists but only covers a LATER version) must refuse loudly — the
    replay would otherwise silently return a partial table."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        checkpoint_delta_table,
        merge_delta_rows,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "partial")
    docs = load_table(spark, sf_dir, "documents").select(*COLS).limit(30)
    write_delta_table(spark, docs, root)  # v0
    for i in range(3):  # v1..v3
        merge_delta_rows(
            spark, root,
            docs.limit(2).withColumn("n_chars", F.col("n_chars") + i),
            on="doc_id",
        )
    checkpoint_delta_table(root)  # checkpoint at v3
    log_dir = os.path.join(root, "_delta_log")
    os.remove(os.path.join(log_dir, f"{0:020d}.json"))  # external cleanup

    # latest still reads (checkpoint covers it)
    assert read_delta(spark, root).count() == docs.count()
    # v2 does NOT: v0 is gone and the checkpoint is later
    with pytest.raises(FileNotFoundError, match="no longer reconstructible"):
        read_delta(spark, root, version=2)


def test_iceberg_v1_metadata_normalizes(spark, sf_dir, tmp_path):
    """Format-v1 metadata carries singular 'schema'/'partition-spec'
    (the plural forms are v2): the reader must normalize instead of
    dying with KeyError('current-schema-id')."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    root = str(tmp_path / "v1meta")
    docs = load_table(spark, sf_dir, "documents").select(*COLS).limit(20)
    write_iceberg_table(spark, docs, root)
    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    # rewrite to the v1 singular shape
    raw["format-version"] = 1
    sch = raw.pop("schemas")[0]
    sch.pop("schema-id", None)
    raw["schema"] = sch
    raw.pop("current-schema-id", None)
    raw["partition-spec"] = raw.pop("partition-specs")[0]["fields"]
    raw.pop("default-spec-id", None)
    json.dump(raw, open(mp, "w"))

    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, docs.collect())
    )


def test_iceberg_single_slash_file_uri_locations(spark, sf_dir, tmp_path):
    """Hadoop Path.toString() emits single-slash 'file:/...' locations
    in metadata — the reader must resolve them (it only handled the
    double-slash form)."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    root = str(tmp_path / "slash1")
    docs = load_table(spark, sf_dir, "documents").select(*COLS).limit(20)
    write_iceberg_table(spark, docs, root)
    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    for s in raw["snapshots"]:
        ml = s["manifest-list"]
        if ml.startswith("file://"):
            s["manifest-list"] = "file:" + ml[len("file:"):].lstrip("/")
            s["manifest-list"] = "file:/" + ml[len("file://"):].lstrip("/")
    json.dump(raw, open(mp, "w"))
    meta = current_metadata(root)
    assert meta["snapshots"][0]["manifest-list"].startswith("file:/")
    assert not meta["snapshots"][0]["manifest-list"].startswith("file://")

    got = read_iceberg(spark, root)
    assert got.count() == docs.count()


def test_delta_absolute_add_path(spark, tmp_path):
    """PROTOCOL.md allows ABSOLUTE add paths (and file: URIs); joining
    them under the table root fabricated a bogus path. Two layouts: the
    data file outside the root, and inside it — where the writers
    (vacuum, DV delete) must resolve the same live file."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import vacuum_delta
    from incubator_gobblin_spark.sources.delta_import import read_delta

    def _table(root, data_dir):
        os.makedirs(os.path.join(root, "_delta_log"))
        os.makedirs(data_dir, exist_ok=True)
        fp = os.path.join(data_dir, "part-0.parquet")
        pq.write_table(
            pa.Table.from_pandas(pd.DataFrame({"k": [1, 2]}),
                                 preserve_index=False),
            fp,
        )
        schema = {"type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
        ]}
        log0 = os.path.join(root, "_delta_log", f"{0:020d}.json")
        with open(log0, "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in [
                {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                {"metaData": {
                    "id": "t-a", "format": {"provider": "parquet",
                                            "options": {}},
                    "schemaString": json.dumps(schema),
                    "partitionColumns": [],
                    "configuration": {}, "createdTime": 1,
                }},
                {"add": {"path": "file://" + fp, "partitionValues": {},
                         "size": os.path.getsize(fp), "modificationTime": 1,
                         "dataChange": True}},
            ]) + "\n")

    root = str(tmp_path / "abspath")
    _table(root, str(tmp_path / "elsewhere"))
    got = read_delta(spark, root)
    assert sorted(r.k for r in got.collect()) == [1, 2]

    inside = str(tmp_path / "inside")
    _table(inside, inside)
    assert vacuum_delta(
        inside, retention_hours=0, allow_short_retention=True, dry_run=True
    )["candidates"] == []
    delete_delta_rows(spark, inside, "k = 1")
    assert sorted(r.k for r in read_delta(spark, inside).collect()) == [2]


def test_iceberg_format_version_3_refused_at_every_load(
    spark, sf_dir, tmp_path
):
    """A hand-authored v3 table (spec ratified upstream: deletion
    vectors as Puffin blobs, row lineage) must be refused loudly at
    metadata load — parsing it as v2 could silently resurrect deleted
    rows. Mirrors the Delta reader-protocol gate."""
    import json

    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    root = str(tmp_path / "v3")
    docs = load_table(spark, sf_dir, "documents").select(*COLS).limit(10)
    write_iceberg_table(spark, docs, root)
    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    raw["format-version"] = 3
    json.dump(raw, open(mp, "w"))

    with pytest.raises(ValueError, match="format-version 3"):
        current_metadata(root)
    with pytest.raises(ValueError, match="format-version 3"):
        read_iceberg(spark, root)
    with pytest.raises(ValueError, match="format-version 3"):
        read_iceberg_changelog(spark, root, None)
    # replication refuses before touching the destination
    from incubator_gobblin_spark.jobs.replicate import (
        replicate_iceberg_to_delta,
    )

    with pytest.raises(ValueError, match="format-version 3"):
        replicate_iceberg_to_delta(
            spark, root, str(tmp_path / "dst"), on="doc_id"
        )
    # the streaming source refuses at plan time (schema resolution
    # goes through the same gated metadata load)
    from incubator_gobblin_spark.sources.iceberg_stream import register

    register(spark)
    with pytest.raises(Exception, match="format-version 3"):
        spark.readStream.format("icebergstream").option(
            "path", root
        ).load()
    # every writer loads through the same gate: refused before it
    # publishes anything
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        drop_iceberg_ref,
        remove_iceberg_orphan_files,
        rollback_iceberg_table,
        set_iceberg_ref,
        set_iceberg_table_properties,
    )

    listing = sorted(os.listdir(meta_dir))
    for write in (
        lambda: rollback_iceberg_table(root, raw["current-snapshot-id"]),
        lambda: set_iceberg_ref(root, "audit"),
        lambda: drop_iceberg_ref(root, "audit"),
        lambda: set_iceberg_table_properties(root, {"k": "v"}),
        lambda: expire_iceberg_snapshots(root),
        lambda: remove_iceberg_orphan_files(root, dry_run=True),
        lambda: delete_iceberg_rows(spark, root, "doc_id = 1"),
    ):
        with pytest.raises(ValueError, match="format-version 3"):
            write()
    assert sorted(os.listdir(meta_dir)) == listing


def _foreign_rename_lang_to_language(root):
    """Simulate a FOREIGN catalog rename on an id-less table: the
    current schema calls the column ``language`` (same field id), the
    name-mapping records the old stored name — data files keep
    storing ``lang`` with no parquet field ids (spec §Column
    Projection rule 2: resolve through
    ``schema.name-mapping.default``)."""
    import json

    meta_dir = os.path.join(root, "metadata")
    v = max(
        int(f[1:].split(".")[0])
        for f in os.listdir(meta_dir)
        if f.endswith(".metadata.json")
    )
    mp = os.path.join(meta_dir, f"v{v}.metadata.json")
    raw = json.load(open(mp))
    for sch in raw["schemas"]:
        for f in sch["fields"]:
            if f["name"] == "lang":
                f["name"] = "language"
                lang_id = f["id"]
    nm = json.loads(raw["properties"]["schema.name-mapping.default"])
    for e in nm:
        if e.get("field-id") == lang_id:
            e["names"] = ["lang", "language"]
    raw["properties"]["schema.name-mapping.default"] = json.dumps(nm)
    json.dump(raw, open(mp, "w"))


def test_iceberg_name_mapping_resolves_idless_files_after_rename(
    spark, sf_dir, tmp_path
):
    """An id-less data file written before a rename stores the OLD
    column name; current-name resolution silently null-fills it. The
    reader must resolve through schema.name-mapping.default — batch,
    changelog, and stream faces."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    root = str(tmp_path / "nmap")
    docs = load_table(spark, sf_dir, "documents").select(*COLS).limit(30)
    write_iceberg_table(spark, docs, root)
    _foreign_rename_lang_to_language(root)
    want = sorted(map(tuple, docs.collect()))

    got = read_iceberg(spark, root)
    assert got.columns == ["doc_id", "language", "n_chars"]
    assert got.filter(F.col("language").isNull()).count() == 0
    assert sorted(map(tuple, got.collect())) == want

    ch = read_iceberg_changelog(spark, root, None)
    assert ch.filter(F.col("language").isNull()).count() == 0
    assert sorted(
        map(tuple, ch.select("doc_id", "language", "n_chars").collect())
    ) == want

    from incubator_gobblin_spark.sources.iceberg_stream import register

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("icebergstream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sgot = spark.read.parquet(out)
    assert sgot.filter(F.col("language").isNull()).count() == 0
    assert sorted(
        map(tuple, sgot.select("doc_id", "language", "n_chars").collect())
    ) == want
