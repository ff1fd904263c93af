"""Lake commit publish (``commit.put_if_absent``): a failed publish
propagates and leaves no ``*.tmp-*`` file, no new version and the old
``version-hint.text``; an Iceberg writer with no retry loop turns a
lost race into a loud conflict error and drops the files it staged,
and a writer that loses to a racer committing the same snapshot id
leaves the winner's files intact. The staged-file writer
(``commit.stage_parquet``) leaves only the moved parquet parts, with
their decoded partitions, and nothing at all when it fails; a Delta
MERGE or DELETE that fails before its publish removes what it staged."""

import errno
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.commit import (  # noqa: E402
    put_if_absent,
    stage_parquet,
)
from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows  # noqa: E402
from incubator_gobblin_spark.sinks.files import FileSink, TableType  # noqa: E402
from incubator_gobblin_spark.sinks import iceberg_export as IE  # noqa: E402
from incubator_gobblin_spark.sinks.iceberg_delete import (  # noqa: E402
    IcebergConcurrentModificationError,
    delete_iceberg_rows,
)
from incubator_gobblin_spark.sinks.iceberg_export import (  # noqa: E402
    append_equality_deletes,
    append_position_deletes,
    expire_iceberg_snapshots,
)
from incubator_gobblin_spark.sinks.iceberg_maintenance import (  # noqa: E402
    upsert_iceberg_rows,
    write_iceberg_table,
)
from incubator_gobblin_spark.sources.iceberg_import import (  # noqa: E402
    _decode_manifest,
    _decode_manifest_list,
    current_metadata,
    norm_file_ref,
    read_iceberg,
    snapshot_files,
)


def _lake(spark, sf_dir, root, export, rounds=1):
    nat = load_table(spark, sf_dir, "nation")
    sink = FileSink(
        path=root, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    for i in range(rounds):
        sink.write_staging(nat.filter(nat.n_regionkey % rounds == i), f"r{i}")
        sink.publish(f"r{i}")
        getattr(sink, export)()


def _listing(d):
    return sorted(os.listdir(d))


def test_put_if_absent_publishes_once(tmp_path):
    path = str(tmp_path / "00000000000000000000.json")
    assert put_if_absent(path, "first\n")
    assert not put_if_absent(path, "second\n")  # lost race: no overwrite
    with open(path) as fh:
        assert fh.read() == "first\n"
    assert _listing(tmp_path) == ["00000000000000000000.json"]


def _files(root):
    return {os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs}


@pytest.mark.parametrize("part_cols", [(), ("p",)], ids=["flat", "hive"])
def test_stage_parquet_moves_parts_with_partitions(spark, tmp_path, part_cols):
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "x:y")], "k long, p string"
    ).coalesce(1)
    dest = os.path.join(root, "data")
    out = stage_parquet(df, root, dest, "part-t", part_cols)
    partition_of = {}
    for fp, partition, md, size in out:
        assert os.path.basename(fp).startswith("part-t-")
        assert md.num_rows == pq.read_metadata(fp).num_rows
        assert size == os.path.getsize(fp)
        for k in pq.read_table(fp).column("k").to_pylist():
            partition_of[k] = partition
    expect = {1: {"p": "a"}, 2: {"p": None}, 3: {"p": "x:y"}}
    assert partition_of == (expect if part_cols else {k: {} for k in expect})
    # no staging dir, no _SUCCESS, no .crc: only the returned files
    assert _files(root) == {fp for fp, *_ in out}


@pytest.mark.parametrize("keep_empty", [False, True])
def test_stage_parquet_zero_row_parts(spark, tmp_path, keep_empty):
    root = str(tmp_path / "t")
    dest = os.path.join(root, "data")
    empty = spark.createDataFrame([], "k long")
    out = stage_parquet(empty, root, dest, "part-t", keep_empty=keep_empty)
    assert [md.num_rows for _, _, md, _ in out] == ([0] if keep_empty else [])
    assert _files(root) == {fp for fp, *_ in out}
    assert os.path.isdir(dest) == keep_empty  # made only for a file


def test_stage_parquet_failure_after_first_move_leaves_nothing(
    spark, tmp_path, monkeypatch
):
    import pyarrow.parquet as pq

    root = str(tmp_path / "t")
    dest = os.path.join(root, "data")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, p string")
    real_read = pq.read_metadata
    moved_before = []

    def read_until_moved(fp, *a, **kw):
        moved_before.extend(_files(dest))
        if moved_before:
            raise OSError("injected footer read failure")
        return real_read(fp, *a, **kw)

    monkeypatch.setattr(pq, "read_metadata", read_until_moved)
    with pytest.raises(OSError, match="injected"):
        stage_parquet(df.coalesce(1), root, dest, "part-t", ("p",))
    monkeypatch.undo()
    assert len(moved_before) == 1  # the first partition's part had moved
    # no moved file, no .staging-* dir, no empty dest dir
    assert os.listdir(root) == []


def _inject(monkeypatch, fault, is_payload):
    """Make the next publish fail: the link raises EIO, or json refuses
    the commit payload (and nothing else). Returns the expected error."""
    if fault == "link_eio":

        def broken_link(src, dst):
            raise OSError(errno.EIO, "injected I/O error", dst)

        monkeypatch.setattr(os, "link", broken_link)
        return OSError
    for name in ("dump", "dumps"):  # a writer may use either

        def refuse(obj, *a, _real=getattr(json, name), **kw):
            if is_payload(obj):
                raise TypeError("injected: payload is not JSON serializable")
            return _real(obj, *a, **kw)

        monkeypatch.setattr(json, name, refuse)
    return TypeError


@pytest.mark.parametrize("fault", ["link_eio", "unserializable"])
def test_delta_delete_failed_publish_leaves_nothing(
    spark, sf_dir, tmp_path, monkeypatch, fault
):
    root = str(tmp_path / "delta")
    _lake(spark, sf_dir, root, "export_delta_log")
    log_dir = os.path.join(root, "_delta_log")
    before = _listing(log_dir)

    err = _inject(
        monkeypatch, fault, lambda o: isinstance(o, dict) and "commitInfo" in o
    )
    with pytest.raises(err, match="injected"):
        delete_delta_rows(spark, root, "n_nationkey % 5 = 2")
    monkeypatch.undo()

    assert _listing(log_dir) == before  # no temp file, no new NNN.json


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, fs in os.walk(root)
        for f in fs
    )


@pytest.mark.parametrize("op", ["merge", "delete"])
def test_delta_dml_failure_before_publish_leaves_nothing(
    spark, tmp_path, monkeypatch, op
):
    """A MERGE or DELETE that raises after it staged files (here: while
    staging its change data files) removes every file it staged — the
    deletion vector bitmaps and the MERGE's new data files — so the
    table tree is exactly what it was before the call, and unpersists
    every frame it cached."""
    from incubator_gobblin_spark.sinks import delta_maintenance as DM

    root = str(tmp_path / "cdf")
    df = spark.createDataFrame([(i, i * 10) for i in range(20)], "k long, v long")
    DM.write_delta_table(
        spark, df.coalesce(1), root,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    before = _tree(root)

    def broken_stage(*a, **kw):
        raise OSError("injected: change data staging failed")

    monkeypatch.setattr(DM, "stage_cdc_files", broken_stage)
    spark.catalog.clearCache()
    with pytest.raises(OSError, match="injected"):
        if op == "merge":
            src = spark.createDataFrame([(3, 0), (99, 0)], "k long, v long")
            DM.merge_delta_rows(spark, root, src, on="k")
        else:
            delete_delta_rows(spark, root, "k < 5")
    monkeypatch.undo()

    assert _tree(root) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("fault", ["link_eio", "unserializable"])
def test_iceberg_expire_failed_publish_leaves_nothing(
    spark, sf_dir, tmp_path, monkeypatch, fault
):
    root = str(tmp_path / "iceberg")
    _lake(spark, sf_dir, root, "export_iceberg", rounds=2)
    meta_dir = os.path.join(root, "metadata")
    before = _listing(meta_dir)
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        hint = fh.read()

    err = _inject(
        monkeypatch,
        fault,
        lambda o: isinstance(o, dict) and "snapshots" in o and "format-version" in o,
    )
    with pytest.raises(err, match="injected"):
        expire_iceberg_snapshots(root, keep_last=1)
    monkeypatch.undo()

    # no temp file, no new vN.metadata.json, no Avro file unlinked
    assert _listing(meta_dir) == before
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        assert fh.read() == hint
    assert len(current_metadata(root)["snapshots"]) == 2


def _append_position(root):
    data_file = snapshot_files(current_metadata(root), root)[0]["path"]
    append_position_deletes(root, [(data_file, 0)])


def _append_equality(root):
    append_equality_deletes(root, [{"n_nationkey": 0}], ["n_nationkey"])


@pytest.mark.parametrize(
    "append", [_append_position, _append_equality], ids=["position", "equality"]
)
def test_no_retry_delete_writers_lose_race_loudly(
    spark, sf_dir, tmp_path, monkeypatch, append
):
    """A writer that wins the next metadata version first turns the
    append into IcebergConcurrentModificationError, not a raw
    FileExistsError, and the loser's manifest, manifest list and
    delete file are gone."""
    root = str(tmp_path / "race")
    _lake(spark, sf_dir, root, "export_iceberg")
    meta_dir = os.path.join(root, "metadata")
    deletes_dir = os.path.join(root, "_deletes")
    head = current_metadata(root)
    real_link = os.link
    fired = {}

    def racing_link(src, dst):
        if not fired and dst.endswith(".metadata.json"):
            fired["dst"] = os.path.basename(dst)
            with open(dst, "w") as fh:  # the racer's metadata-only bump
                json.dump(dict(head, **{"last-updated-ms": 1}), fh)
            raise FileExistsError(dst)
        return real_link(src, dst)

    before = _listing(meta_dir)
    monkeypatch.setattr(os, "link", racing_link)
    with pytest.raises(IcebergConcurrentModificationError, match="advanced"):
        append(root)
    monkeypatch.undo()

    # only the racer's version is new: no temp file, no staged Avro
    assert _listing(meta_dir) == sorted(before + [fired["dst"]])
    assert not os.path.isdir(deletes_dir) or not os.listdir(deletes_dir)


def _upsert(k):
    def run(spark, root):
        new = spark.createDataFrame([(k, f"new{k}")], "k long, v string")
        upsert_iceberg_rows(spark, root, new, on="k")

    return run


def _delete_where(cond):
    return lambda spark, root: delete_iceberg_rows(spark, root, cond)


def _delete_pos(pos):
    def run(spark, root):
        data_file = snapshot_files(current_metadata(root), root)[0]["path"]
        append_position_deletes(root, [(data_file, pos)])

    return run


@pytest.mark.parametrize(
    "loser, winner, expect, when",
    [
        (
            _upsert(2),
            _upsert(1),
            lambda ks: {(k, "new1" if k == 1 else "base") for k in ks},
            "publish",
        ),
        (
            _delete_where("k = 3"),
            _delete_pos(0),
            lambda ks: {(k, "base") for k in ks[1:]},
            "publish",
        ),
        (
            _delete_pos(7),
            _delete_pos(0),
            lambda ks: {(k, "base") for k in ks[1:]},
            "base",
        ),
    ],
    ids=["upsert-upsert", "delete-position", "position-position"],
)
def test_racer_with_same_snapshot_id_keeps_winner_intact(
    spark, tmp_path, monkeypatch, loser, winner, expect, when
):
    """A real writer wins the next version on the same base, so it
    commits the snapshot id the loser computed too. It runs between
    the loser's staging and its publish, or, for the position
    appender, between its base read and its staging. The loser
    raises, every file the head metadata references exists, the
    table reads the winner's rows, and no file the loser staged
    remains."""
    root = str(tmp_path / "race")
    base = spark.createDataFrame(
        [(k, "base") for k in range(10)], "k long, v string"
    )
    write_iceberg_table(spark, base.coalesce(1), root, coalesce_output=False)
    data_file = snapshot_files(current_metadata(root), root)[0]["path"]
    import pyarrow.parquet as pq

    ks = pq.read_table(data_file).column("k").to_pylist()  # row positions
    fired = []

    def run_winner():
        fired.append(True)
        monkeypatch.undo()
        winner(spark, root)

    if when == "publish":
        real_link = os.link

        def racing_link(src, dst):
            if not fired and dst.endswith(".metadata.json"):
                run_winner()
            return real_link(src, dst)

        monkeypatch.setattr(os, "link", racing_link)
    else:
        real_versions = IE._metadata_versions

        def racing_versions(meta_dir):
            out = real_versions(meta_dir)
            if not fired:
                run_winner()
            return out

        monkeypatch.setattr(IE, "_metadata_versions", racing_versions)

    with pytest.raises(IcebergConcurrentModificationError):
        loser(spark, root)
    monkeypatch.undo()
    assert fired

    head = current_metadata(root)
    referenced = set()
    for snap in head["snapshots"]:
        paths = [norm_file_ref(snap["manifest-list"], root)]
        assert os.path.exists(paths[0]), paths[0]
        for row in _decode_manifest_list(snap, root):
            paths.append(norm_file_ref(row["manifest_path"], root))
            assert os.path.exists(paths[-1]), paths[-1]
            for e in _decode_manifest(row, root):
                paths.append(norm_file_ref(e["data_file"]["file_path"], root))
                assert os.path.exists(paths[-1]), paths[-1]
        referenced.update(paths)
    got = {tuple(r) for r in read_iceberg(spark, root).collect()}
    assert got == expect(ks)
    on_disk = {
        os.path.join(d, f)
        for d, _, files in os.walk(root)
        for f in files
        if not f.endswith(".metadata.json") and f != "version-hint.text"
    }
    assert on_disk <= referenced, on_disk - referenced
