"""Lake commit publish (``commit.put_if_absent``): a failed publish
propagates and leaves no ``*.tmp-*`` file, no new version and the old
``version-hint.text``; an Iceberg writer with no retry loop turns a
lost race into a loud conflict error and drops the files it staged."""

import errno
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from incubator_gobblin_spark.commit import put_if_absent  # noqa: E402
from incubator_gobblin_spark.session import load_table  # noqa: E402
from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows  # noqa: E402
from incubator_gobblin_spark.sinks.files import FileSink, TableType  # noqa: E402
from incubator_gobblin_spark.sinks.iceberg_delete import (  # noqa: E402
    IcebergConcurrentModificationError,
)
from incubator_gobblin_spark.sinks.iceberg_export import (  # noqa: E402
    append_equality_deletes,
    append_position_deletes,
    expire_iceberg_snapshots,
)
from incubator_gobblin_spark.sources.iceberg_import import (  # noqa: E402
    current_metadata,
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
