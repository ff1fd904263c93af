"""Manifest-commit publish: the object-store-safe publish mode.

Rename-based publish (BaseDataPublisher.movePath:496) is atomic per
path only on POSIX/HDFS; on S3/GCS a rename is copy+delete. Manifest
mode keeps data files in immutable run dirs and commits with ONE
put-if-absent commit-log entry; a crash anywhere before the put leaves
the previous snapshot intact and readable."""

import os

import pytest
from pyspark.sql import functions as F

from incubator_gobblin_spark.session import load_table
from incubator_gobblin_spark.sinks.files import FileSink, TableType


def _sink(path, **kw):
    return FileSink(path=str(path), commit_mode="manifest", **kw)


def test_append_only_accumulates_runs(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "t")
    sink.write_staging(df, "run1")
    sink.publish("run1")
    assert sink.read_committed(spark).count() == 5

    sink.write_staging(df, "run2")
    sink.publish("run2")
    assert sink.read_committed(spark).count() == 10
    m = sink.current_manifest()
    assert m["run_id"] == "run2" and m["parent"] == "run1"


def test_snapshot_only_replaces(spark, sf_dir, tmp_path):
    sink = _sink(tmp_path / "t", table_type=TableType.SNAPSHOT_ONLY)
    sink.write_staging(load_table(spark, sf_dir, "region"), "run1")
    sink.publish("run1")
    sink.write_staging(load_table(spark, sf_dir, "nation"), "run2")
    sink.publish("run2")
    got = sink.read_committed(spark)
    assert got.count() == 25  # nation only, region snapshot replaced
    assert "n_nationkey" in got.columns


def test_snapshot_append_partition_swap(spark, sf_dir, tmp_path):
    """Only leaf partitions touched by a run are replaced; siblings
    survive — the multi-level-partition publish contract, manifest
    edition."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    days = [r.day for r in ev.select("day").distinct().orderBy("day").limit(3).collect()]
    sink = _sink(
        tmp_path / "t", table_type=TableType.SNAPSHOT_APPEND, partition_by=["day"]
    )
    first = ev.filter(F.col("day").isin(days[:2]))
    sink.write_staging(first, "run1")
    sink.publish("run1")
    assert sink.read_committed(spark).count() == first.count()

    # run2 rewrites day[1] (halved) and adds day[2]; day[0] untouched
    rewrite = ev.filter(F.col("day") == days[1]).limit(5)
    add = ev.filter(F.col("day") == days[2])
    sink.write_staging(rewrite.unionByName(add), "run2")
    sink.publish("run2")
    got = sink.read_committed(spark)
    d0 = ev.filter(F.col("day") == days[0]).count()
    assert got.filter(F.col("day") == days[0]).count() == d0
    assert got.filter(F.col("day") == days[1]).count() == 5
    assert got.filter(F.col("day") == days[2]).count() == add.count()


def test_crash_before_pointer_swap_preserves_snapshot(spark, sf_dir, tmp_path, monkeypatch):
    """Crash after data move + manifest write but BEFORE the commit-log
    put: readers still see run1; retrying the publish converges."""
    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "t")
    sink.write_staging(df, "run1")
    sink.publish("run1")

    sink.write_staging(df, "run2")
    real_link = os.link

    def _crashing_link(src, dst):
        if os.path.join("_manifests", "log") in dst:
            raise OSError("simulated crash during commit")
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", _crashing_link)
    with pytest.raises(OSError, match="simulated crash"):
        sink.publish("run2")
    monkeypatch.undo()

    # old snapshot intact, new data invisible
    assert sink.current_manifest()["run_id"] == "run1"
    assert sink.read_committed(spark).count() == 5

    # retry with the same run_id converges (data dir already moved)
    sink.publish("run2")
    assert sink.current_manifest()["run_id"] == "run2"
    assert sink.read_committed(spark).count() == 10


def test_uncommitted_run_dirs_invisible_to_readers(spark, sf_dir, tmp_path):
    """Directory listings would see staged/aborted runs; the manifest
    never does."""
    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "t")
    sink.write_staging(df, "good")
    sink.publish("good")
    # stage another run and abandon it (no publish)
    sink.write_staging(df, "abandoned")
    assert sink.read_committed(spark).count() == 5
    files = {e["file"] for e in sink.current_manifest()["entries"]}
    assert all("/good/" in f or f.startswith("_data/good") for f in files)


def test_time_travel_reads_historical_snapshot(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.session import load_table
    from incubator_gobblin_spark.sinks.files import FileSink, TableType, new_run_id

    sink = FileSink(
        path=str(tmp_path / "tt"),
        table_type=TableType.APPEND_ONLY,
        commit_mode="manifest",
    )
    nation = load_table(spark, sf_dir, "nation")
    r1, r2 = new_run_id(), new_run_id()
    sink.write_staging(nation.limit(5), r1)
    sink.publish(r1)
    sink.write_staging(nation.limit(9), r2)
    sink.publish(r2)

    assert sink.manifest_history() == [r2, r1]
    assert sink.read_committed(spark).count() == 14
    # time travel: the first snapshot is still exactly 5 rows
    assert sink.read_committed(spark, as_of_run=r1).count() == 5
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        sink.read_committed(spark, as_of_run="nonexistent-run")


def test_file_skipping_prunes_by_stats_and_stays_exact(spark, sf_dir, tmp_path):
    """Two runs with disjoint key ranges: a range predicate must prune
    the non-matching run's files at the manifest level AND return
    exactly the rows a full-scan filter would."""
    ev = load_table(spark, sf_dir, "events")
    lo = ev.filter(F.col("event_id") < 500).coalesce(1)
    hi = ev.filter(F.col("event_id") >= 500).coalesce(1)
    sink = _sink(tmp_path / "t")
    sink.write_staging(lo, "run_lo")
    sink.publish("run_lo")
    sink.write_staging(hi, "run_hi")
    sink.publish("run_hi")

    m = sink.current_manifest()
    assert all("stats" in e and "event_id" in e["stats"] for e in m["entries"])

    filters = [("event_id", ">=", 700)]
    kept, total = sink.pruned_file_count(filters)
    assert kept < total  # run_lo's file skipped without being opened
    got = sink.read_committed(spark, filters=filters)
    expected = ev.filter(F.col("event_id") >= 700)
    assert got.count() == expected.count()
    # equality on a string column prunes too, exactly
    one = sink.read_committed(spark, filters=[("event_type", "=", "click")])
    assert one.count() == ev.filter(F.col("event_type") == "click").count()


def test_compact_runs_collapses_read_fanout(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "t")
    for i in range(3):
        sink.write_staging(region, f"run{i}")
        sink.publish(f"run{i}")
    assert sink.read_committed(spark).count() == 15

    cid = sink.compact_runs(spark)
    m = sink.current_manifest()
    assert m["run_id"] == cid
    runs = {e["file"].split("/")[1] for e in m["entries"]}
    assert runs == {cid}  # one run referenced after compaction
    assert sink.read_committed(spark).count() == 15
    # pre-compaction snapshot still time-travels
    assert sink.read_committed(spark, as_of_run="run1").count() == 10


def test_vacuum_drops_unreferenced_runs_only(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "t")
    for i in range(3):
        sink.write_staging(region, f"run{i}")
        sink.publish(f"run{i}")
    cid = sink.compact_runs(spark)

    res = sink.vacuum(keep_last=1, grace_seconds=0)
    assert res["runs_deleted"] == 3  # run0/1/2 data dirs gone
    assert res["manifests_deleted"] == 3
    assert os.listdir(os.path.join(str(tmp_path / "t"), "_data")) == [cid]
    # current snapshot unaffected; vacuumed history unreadable
    assert sink.read_committed(spark).count() == 15
    assert sink.manifest_history() == [cid]
    with pytest.raises(FileNotFoundError):
        sink.read_committed(spark, as_of_run="run1")


def test_compact_runs_partitioned_preserves_layout(spark, sf_dir, tmp_path):
    """Compacting a day-partitioned manifest lake must reproduce
    partition VALUES byte-for-byte (day=08 stays day=08) so later
    SNAPSHOT_APPEND runs keep matching the same partition keys."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "dd")
    )
    sink = _sink(
        tmp_path / "t", table_type=TableType.SNAPSHOT_APPEND, partition_by=["day"]
    )
    d1 = ev.filter(F.col("day") == "08")
    d2 = ev.filter(F.col("day") == "09")
    sink.write_staging(d1, "r1")
    sink.publish("r1")
    sink.write_staging(d2, "r2")
    sink.publish("r2")
    total = d1.count() + d2.count()

    cid = sink.compact_runs(spark)
    m = sink.current_manifest()
    assert {e["partition"] for e in m["entries"]} == {"day=08", "day=09"}
    got = sink.read_committed(spark)
    assert got.count() == total

    # a post-compaction rewrite of day=08 still swaps ONE partition
    sink.write_staging(d1.limit(3), "r3")
    sink.publish("r3")
    got = sink.read_committed(spark)
    assert got.filter(F.col("day") == "08").count() == 3
    assert got.filter(F.col("day") == "09").count() == d2.count()


def test_republish_same_run_is_idempotent(spark, sf_dir, tmp_path):
    """A retried publish of an ALREADY-COMMITTED run (crash after the
    pointer swap, before the caller's checkpoint) must not double its
    files or corrupt the parent chain — the exactly-once contract
    streaming epochs rely on."""
    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "t")
    sink.write_staging(region, "run1")
    sink.publish("run1")
    sink.write_staging(region, "run2")
    sink.publish("run2")
    assert sink.read_committed(spark).count() == 10

    # retry run2 wholesale (staging rebuilt, publish re-executed)
    sink.write_staging(region, "run2")
    sink.publish("run2")
    assert sink.read_committed(spark).count() == 10  # not 15
    assert sink.manifest_history() == ["run2", "run1"]


def test_streaming_to_manifest_exactly_once(spark, sf_dir, tmp_path):
    """Micro-batches commit through the SAME manifest the batch side
    uses: batch readers/time-travel/pruning compose with streaming
    output, and a re-run of the stream from the same checkpoint adds
    nothing."""
    import shutil

    from incubator_gobblin_spark.streaming.flow import StreamPipeline

    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    lake = str(tmp_path / "lake")
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    events.coalesce(1).write.mode("overwrite").parquet(src_dir)
    n = events.count()

    sink = FileSink(path=lake, table_type=TableType.APPEND_ONLY, commit_mode="manifest")
    pipe = StreamPipeline(spark, "s").source_files(
        src_dir, fmt="parquet", schema=events.schema
    )
    q = pipe.to_manifest(sink, checkpoint=ckpt, once=True)
    q.awaitTermination(120)
    assert sink.read_committed(spark).count() == n
    first_history = sink.manifest_history()

    # restart from the same checkpoint: no new data -> no new commits
    q2 = StreamPipeline(spark, "s").source_files(
        src_dir, fmt="parquet", schema=events.schema
    ).to_manifest(sink, checkpoint=ckpt, once=True)
    q2.awaitTermination(120)
    assert sink.read_committed(spark).count() == n
    assert sink.manifest_history() == first_history


def test_cluster_by_makes_stats_prune_hard(spark, sf_dir, tmp_path):
    """Stats clustering is what makes file skipping bite: the same data
    written unsorted prunes (almost) nothing for a point/range filter,
    written cluster_by'd prunes most files."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "value")

    plain = _sink(tmp_path / "plain", max_records_per_file=200)
    # deterministic scramble: without it the source's incidental
    # event_id order would cluster the "unsorted" control too
    plain.write_staging(ev.repartition(1).sortWithinPartitions("value"), "r")
    plain.publish("r")

    clustered = FileSink(
        path=str(tmp_path / "clust"),
        commit_mode="manifest",
        cluster_by=["event_id"],
        max_records_per_file=200,
    )
    clustered.write_staging(ev.repartition(1), "r")
    clustered.publish("r")

    filters = [("event_id", ">=", 900)]
    kept_p, total_p = plain.pruned_file_count(filters)
    kept_c, total_c = clustered.pruned_file_count(filters)
    assert total_c > 1  # range partitioning actually produced multiple files
    assert kept_c < kept_p or (kept_p == total_p and kept_c <= total_c // 2)
    assert kept_c <= max(1, total_c // 4)  # most files skipped
    # exactness unchanged
    got = clustered.read_committed(spark, filters=filters)
    assert got.count() == ev.filter(F.col("event_id") >= 900).count()


def test_file_stats_poisons_columns_with_partial_row_group_stats(monkeypatch):
    """A row group holding non-null values but exposing no min/max
    (stats disabled, or strings past the writer's statistics-size cap)
    must drop the column from the file's recorded range entirely —
    merging only the stats-bearing groups understates the range and
    makes _entry_matches wrongly prune a file that contains matches."""
    from incubator_gobblin_spark.sinks import files as files_mod

    class St:
        def __init__(self, has_mm, mn=None, mx=None, null_count=None):
            self.has_min_max = has_mm
            self.min, self.max = mn, mx
            self.has_null_count = null_count is not None
            self.null_count = null_count

    class Col:
        def __init__(self, name, st):
            self.path_in_schema, self.statistics = name, st

    class RG:
        def __init__(self, nrows, cols):
            self.num_rows, self._c = nrows, cols
            self.num_columns = len(cols)

        def column(self, i):
            return self._c[i]

    class MD:
        def __init__(self, rgs):
            self._r = rgs
            self.num_row_groups = len(rgs)
            self.num_rows = sum(r.num_rows for r in rgs)

        def row_group(self, i):
            return self._r[i]

    md = MD(
        [
            RG(10, [Col("k", St(True, 1, 5)), Col("v", St(True, "a", "c")),
                    Col("n", St(True, 7, 9))]),
            # v: values present, NO stats -> poisoned;
            # n: provably all-null -> safe to keep rg1's range
            RG(10, [Col("k", St(True, 3, 8)), Col("v", None),
                    Col("n", St(False, null_count=10))]),
        ]
    )

    class PF:
        def __init__(self, path):
            self.metadata = md

    import pyarrow.parquet as pq

    monkeypatch.setattr(pq, "ParquetFile", PF)
    got = files_mod._file_stats("/nonexistent.parquet")
    assert got["rows"] == 20
    assert got["stats"]["k"] == [1, 8]  # merged across both groups
    assert "v" not in got["stats"]  # partial stats -> no range recorded
    assert got["stats"]["n"] == [7, 9]  # all-null group contributes nothing


def _tree_bytes(root):
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root)
        for f in fs
    )


@pytest.mark.slow  # soak/sweep: run with -m slow, not in the default budget
def test_manifest_scale_soak_commit_cost_is_touched_partitions(
    spark, tmp_path
):
    """100x-scale rehearsal for the manifest lake: ~10k live files over
    many append runs and partitions, then one commit touching a SINGLE
    partition. The commit must write O(touched partitions) metadata —
    one new group file plus the manifest list — never a rewrite of the
    whole live-file inventory (the v1 flat-manifest failure mode at
    100 TB: a multi-GB JSON read+write per commit). Then compaction +
    vacuum bound the group/run count and reads stay exact throughout."""
    sink = FileSink(
        path=str(tmp_path / "lake"),
        commit_mode="manifest",
        partition_by=["p"],
        table_type=TableType.APPEND_ONLY,
        max_records_per_file=1,
    )
    n_runs, n_parts, rows_per_part = 20, 10, 50
    df = spark.range(n_parts * rows_per_part).select(
        (F.col("id") % n_parts).cast("string").alias("p"),
        F.col("id").alias("v"),
    )
    for i in range(n_runs):
        sink.write_staging(df.withColumn("v", F.col("v") + i * 100000), f"run{i:03d}")
        sink.publish(f"run{i:03d}")

    m = sink.current_manifest(materialize=False)
    total_files = sum(g["n"] for g in m["groups"])
    assert total_files == n_runs * n_parts * rows_per_part  # 10_000 live files

    # ---- the measured property: one-partition commit is O(1) metadata
    gdir = tmp_path / "lake" / "_manifests" / "groups"
    before = set(os.listdir(gdir))
    one = spark.createDataFrame([("3", 999999)], "p string, v long")
    sink.write_staging(one, "touch_one")
    sink.publish("touch_one")
    new_group_files = set(os.listdir(gdir)) - before
    assert len(new_group_files) == 1  # exactly the touched partition
    commit_bytes = sum(
        os.path.getsize(gdir / f) for f in new_group_files
    ) + os.path.getsize(
        tmp_path / "lake" / "_manifests" / "touch_one.json"
    )
    inventory_bytes = _tree_bytes(gdir)
    assert commit_bytes < inventory_bytes / 50  # list+1 group << inventory

    # group-pruned reads: a one-partition predicate must not fetch other
    # partitions' group files, and stays exact
    kept, total = sink.pruned_file_count([("p", "=", "3")])
    assert total == total_files + 1
    assert kept == n_runs * rows_per_part + 1
    got = sink.read_committed(spark, filters=[("p", "=", "3")])
    assert got.count() == n_runs * rows_per_part + 1

    # ---- compaction collapses 10k files; vacuum reclaims; reads exact
    expected_total = df.count() * n_runs + 1
    assert sink.read_committed(spark).count() == expected_total
    rid = sink.compact_runs(spark)
    assert sink.read_committed(spark).count() == expected_total
    stats = sink.vacuum(keep_last=1, grace_seconds=0)
    assert stats["runs_deleted"] >= n_runs  # old append runs reclaimed
    assert stats["groups_deleted"] > 0
    live_groups = sink.current_manifest(materialize=False)["groups"]
    assert len(live_groups) == n_parts  # one compacted group per partition
    assert sink.read_committed(spark).count() == expected_total
    # time travel to the kept snapshot still resolves
    assert sink.manifest_history() == [rid]
    # per-partition read after compaction remains exact
    assert (
        sink.read_committed(spark, filters=[("p", "=", "3")]).count()
        == n_runs * rows_per_part + 1
    )


def test_merge_into_upsert_insert_delete(spark, sf_dir, tmp_path):
    """Copy-on-write MERGE: matched keys replaced, new keys inserted,
    op='delete' keys dropped — and every file that cannot contain a
    source key is carried into the new snapshot by reference, never
    rewritten."""
    orders = load_table(spark, sf_dir, "orders")
    sink = _sink(
        tmp_path / "lake",
        cluster_by=["o_orderkey"],
        max_records_per_file=200,
    )
    sink.write_staging(orders, "base")
    sink.publish("base")
    n0 = orders.count()
    before_files = {e["file"] for e in sink.current_manifest()["entries"]}
    assert len(before_files) > 3  # multiple files so carry-by-reference shows

    keys = [r.o_orderkey for r in orders.orderBy("o_orderkey").limit(12).collect()]
    upd_keys, del_keys = keys[:5], keys[5:10]
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    src = (
        orders.filter(F.col("o_orderkey").isin(upd_keys))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
        .withColumn("op", F.lit("upsert"))
        .unionByName(
            orders.filter(F.col("o_orderkey").isin(del_keys)).withColumn(
                "op", F.lit("delete")
            )
        )
        .unionByName(
            orders.filter(F.col("o_orderkey").isin(keys[10:12]))
            .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
            .withColumn("op", F.lit("upsert"))
        )
    )
    sink.merge_into(spark, src, on=["o_orderkey"], run_id="m1", op_col="op")

    got = sink.read_committed(spark)
    assert got.count() == n0 - len(del_keys) + 2
    assert got.filter(F.col("o_orderkey").isin(del_keys)).count() == 0
    assert got.filter(F.col("o_orderkey") > 10_000_000).count() == 2
    base_prices = {
        r.o_orderkey: r.o_totalprice
        for r in orders.filter(F.col("o_orderkey").isin(upd_keys)).collect()
    }
    for r in got.filter(F.col("o_orderkey").isin(upd_keys)).collect():
        assert abs(r.o_totalprice - (base_prices[r.o_orderkey] + 1000.0)) < 1e-6

    # copy-on-write accounting: the clustered layout localizes the 12
    # source keys to a few files; everything else is carried verbatim
    after_files = {e["file"] for e in sink.current_manifest()["entries"]}
    carried = before_files & after_files
    rewritten = before_files - after_files
    assert carried, "untouched files must be referenced, not rewritten"
    assert len(rewritten) < len(before_files)
    # time travel: the pre-merge snapshot is untouched
    old = sink.read_committed(spark, as_of_run="base")
    assert old.count() == n0
    assert old.filter(F.col("o_orderkey").isin(del_keys)).count() == len(del_keys)


def test_merge_into_keeps_the_lake_partition_layout(spark, tmp_path):
    """A run's partition layout comes from the lake's head manifest,
    not from the sink's constructor: a merge through a sink built
    without ``partition_by`` on a lake partitioned by ``p`` still lays
    its run out by ``p`` and records it, so ``read_committed`` keeps
    ``p`` for every run. A sink whose own layout differs refuses."""
    def rows(lo, hi, sign):
        return spark.range(lo, hi).selectExpr(
            "id", f"CAST({sign} * id AS DOUBLE) AS v", "concat('k', id % 2) AS p"
        )

    lake = _sink(tmp_path / "lake", partition_by=["p"])
    lake.write_staging(rows(0, 20, 1), "base")
    lake.publish("base")
    plain = _sink(tmp_path / "lake")
    plain.merge_into(spark, rows(15, 25, -1), on=["id"], run_id="m1")
    assert plain.current_manifest()["partition_by"] == ["p"]
    got = {tuple(r) for r in plain.read_committed(spark).select("id", "v", "p").collect()}
    assert got == {tuple(r) for r in rows(0, 15, 1).union(rows(15, 25, -1)).collect()}
    with pytest.raises(ValueError, match=r"\['v'\].*\['p'\]"):
        _sink(tmp_path / "lake", partition_by=["v"]).write_staging(rows(0, 1, 1), "m2")


def test_merge_into_partitioned_touches_one_partition(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    days = [r.day for r in ev.select("day").distinct().orderBy("day").limit(2).collect()]
    sink = _sink(tmp_path / "lake", partition_by=["day"])
    sink.write_staging(ev.filter(F.col("day").isin(days)), "base")
    sink.publish("base")

    one_day = ev.filter(F.col("day") == days[0]).limit(5)
    src = one_day.withColumn("value", F.col("value") * 0 + 42.0)
    sink.merge_into(spark, src, on=["event_id"], run_id="m1")

    got = sink.read_committed(spark)
    assert got.filter(F.col("value") == 42.0).count() >= 5
    # the untouched day's groups are referenced verbatim from the parent
    day1_groups_before = {
        g["file"]
        for g in sink.current_manifest("base", materialize=False)["groups"]
        if f"day={days[1]}" in g["partition"]
    }
    day1_groups_after = {
        g["file"]
        for g in sink.current_manifest(materialize=False)["groups"]
        if f"day={days[1]}" in g["partition"]
    }
    assert day1_groups_before == day1_groups_after


def test_merge_into_same_run_retry_idempotent(spark, sf_dir, tmp_path):
    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "lake")
    sink.write_staging(region, "base")
    sink.publish("base")
    src = region.limit(2).withColumn("r_name", F.lit("MERGED"))
    sink.merge_into(spark, src, on=["r_regionkey"], run_id="m1")
    first = sorted(
        (r.r_regionkey, r.r_name) for r in sink.read_committed(spark).collect()
    )
    # crashed-after-commit retry replays the same merge run id
    sink.merge_into(spark, src, on=["r_regionkey"], run_id="m1")
    second = sorted(
        (r.r_regionkey, r.r_name) for r in sink.read_committed(spark).collect()
    )
    assert first == second
    assert sum(1 for _, name in second if name == "MERGED") == 2
    assert len(second) == region.count()


def test_merge_into_multifile_run_retry_keeps_untouched_files(
    spark, sf_dir, tmp_path
):
    """The round-3 data-loss scenario: a committed merge run spanning
    MULTIPLE files, replayed with the same run_id. The retry must be an
    idempotent no-op — recomputing it against the current snapshot would
    mark only the key-holding files of run m1 as touched and republish
    m1 from that partial staging, deleting every untouched m1 file."""
    orders = load_table(spark, sf_dir, "orders")
    sink = _sink(
        tmp_path / "lake", cluster_by=["o_orderkey"], max_records_per_file=200
    )
    sink.write_staging(orders, "base")
    sink.publish("base")
    n0 = orders.count()

    # merge that rewrites MANY files (wide key range) -> _data/m1 is
    # multi-file; a replay's source keys localize to a subset of them
    keys = [
        r.o_orderkey
        for r in orders.orderBy("o_orderkey").limit(3).collect()
    ]
    src = orders.filter(F.col("o_orderkey").isin(keys)).withColumn(
        "o_orderpriority", F.lit("RETRYCHECK")
    )
    sink.merge_into(spark, src, on=["o_orderkey"], run_id="m1")
    m1_files = {
        e["file"]
        for e in sink.current_manifest()["entries"]
        if e["file"].startswith("_data/m1/")
    }
    total_after_first = sink.read_committed(spark).count()
    assert total_after_first == n0

    # crashed-after-commit replay of the SAME rid
    sink.merge_into(spark, src, on=["o_orderkey"], run_id="m1")
    assert sink.read_committed(spark).count() == n0
    m1_files_after = {
        e["file"]
        for e in sink.current_manifest()["entries"]
        if e["file"].startswith("_data/m1/")
    }
    assert m1_files == m1_files_after  # run dir untouched, bit for bit
    got = sink.read_committed(spark)
    assert got.filter(F.col("o_orderpriority") == "RETRYCHECK").count() == len(
        keys
    )


def test_merge_into_crash_before_commit_replay_converges(
    spark, sf_dir, tmp_path
):
    """Crash BETWEEN staging write and pointer swap: the parent snapshot
    stays current, and replaying the merge recomputes against that same
    parent and commits exactly once."""
    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "lake")
    sink.write_staging(region, "base")
    sink.publish("base")

    src = region.limit(2).withColumn("r_name", F.lit("MERGED"))
    # simulate the crash: stage the merge output but never publish
    upserts_keys = [r.r_regionkey for r in src.select("r_regionkey").collect()]
    kept = region.filter(~F.col("r_regionkey").isin(upserts_keys))
    sink.write_staging(kept.unionByName(src), "m1")
    # parent snapshot still current and intact
    assert sink.current_manifest()["run_id"] == "base"
    assert sink.read_committed(spark).count() == 5

    sink.merge_into(spark, src, on=["r_regionkey"], run_id="m1")
    got = sorted(
        (r.r_regionkey, r.r_name) for r in sink.read_committed(spark).collect()
    )
    assert len(got) == 5
    assert sum(1 for _, name in got if name == "MERGED") == 2
    assert sink.manifest_history() == ["m1", "base"]


def test_merge_into_null_op_means_upsert(spark, sf_dir, tmp_path):
    """A NULL op column means upsert, not delete: a bare != comparison
    evaluates to NULL and would silently drop the row from upserts while
    its key still anti-joins the matched target row away."""
    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "lake")
    sink.write_staging(region, "base")
    sink.publish("base")

    src = (
        region.limit(2)
        .withColumn("r_name", F.lit("NULLOP"))
        .withColumn("op", F.lit(None).cast("string"))
        .unionByName(
            region.orderBy(F.col("r_regionkey").desc())
            .limit(1)
            .withColumn("op", F.lit("delete"))
        )
    )
    sink.merge_into(spark, src, on=["r_regionkey"], run_id="m1", op_col="op")
    got = sink.read_committed(spark)
    assert got.count() == 4  # 5 - 1 deleted; null-op rows upserted
    assert got.filter(F.col("r_name") == "NULLOP").count() == 2


def test_concurrent_commit_conflict_detected(spark, sf_dir, tmp_path):
    """Two committers composing against the same parent: the first swap
    wins, the second gets a retryable ManifestConflictError instead of
    silently erasing the winner (lost update)."""
    from incubator_gobblin_spark.sinks.files import ManifestConflictError

    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "t")
    sink.write_staging(region, "base")
    sink.publish("base")

    # both stage before either commits
    sink.write_staging(region.limit(2), "c1")
    sink.write_staging(region.limit(3), "c2")
    ptr0 = sink._read_pointer()
    sink._publish_manifest("c1", expected_ptr=ptr0)
    with pytest.raises(ManifestConflictError):
        sink._publish_manifest("c2", expected_ptr=ptr0)
    # winner's commit intact; loser absent; retry with a fresh read works
    assert sink.read_committed(spark).count() == 5 + 2
    assert sink.manifest_history() == ["c1", "base"]
    sink.write_staging(region.limit(3), "c2")
    sink._publish_manifest("c2")  # recomposed against current pointer
    assert sink.read_committed(spark).count() == 5 + 2 + 3
    assert sink.manifest_history() == ["c2", "c1", "base"]


def test_lost_log_put_raises_conflict_and_leaves_no_temp(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A racer commits on the same base while this commit is between its
    manifest write and its commit-log put: the racer's log entry for the
    seq appears first, this put loses, the commit raises
    ManifestConflictError, the racer stays the head, and no ``*.tmp-*``
    file is left behind."""
    from incubator_gobblin_spark.sinks.files import ManifestConflictError
    from incubator_gobblin_spark.sources.manifest_import import log_entry

    region = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "t")
    sink = _sink(root)
    sink.write_staging(region, "base")
    sink.publish("base")
    racer = _sink(root)
    racer.write_staging(region.limit(1), "racer")
    sink.write_staging(region.limit(2), "loser")
    real_link = os.link
    raced = []

    def racing_link(src, dst):
        if dst == log_entry(root, 2) and not raced:
            raced.append(dst)
            racer.publish("racer")  # takes log entry 2 first
        return real_link(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    with pytest.raises(ManifestConflictError):
        sink.publish("loser")
    monkeypatch.undo()

    assert raced
    assert sink.manifest_history() == ["racer", "base"]
    assert sink.read_committed(spark).count() == 5 + 1
    leftovers = [
        f for _, _, fs in os.walk(root) for f in fs if ".tmp-" in f
    ]
    assert leftovers == []
    # the loser's manifest is named by no log entry: its retry commits
    sink.publish("loser")
    assert sink.manifest_history() == ["loser", "racer", "base"]
    assert sink.read_committed(spark).count() == 5 + 1 + 2


def _crash_hint(monkeypatch):
    def crash(self, mrel):
        raise OSError("simulated crash before the hint write")

    monkeypatch.setattr(FileSink, "_write_hint", crash)


def test_crash_between_log_put_and_hint_keeps_commit(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A crash after the commit-log put but before the ``_CURRENT`` hint
    write loses nothing: current_manifest(), the next commit's base and
    the lakecdf stream's latestOffset all follow the log past the stale
    hint, and retrying the publish is a no-op."""
    from incubator_gobblin_spark.sources.lake_cdf import LakeCdfStreamReader

    region = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "t")
    sink = _sink(root)
    sink.write_staging(region, "run1")
    sink.publish("run1")
    sink.write_staging(region, "run2")
    _crash_hint(monkeypatch)
    with pytest.raises(OSError, match="simulated crash"):
        sink.publish("run2")
    monkeypatch.undo()

    with open(os.path.join(root, "_CURRENT")) as fh:
        assert fh.read() == os.path.join("_manifests", "run1.json")
    assert sink.current_manifest()["run_id"] == "run2"
    assert sink.read_committed(spark).count() == 10
    reader = LakeCdfStreamReader({"path": root}, ["r_regionkey", "_change_type"])
    assert reader.latestOffset() == {"run": "run2"}
    assert sink.publish("run2") == []  # committed: the retry is a no-op
    sink.write_staging(region, "run3")
    sink.publish("run3")
    assert sink.manifest_history() == ["run3", "run2", "run1"]
    assert sink.read_committed(spark).count() == 15


def test_vacuum_after_hint_crash_keeps_head(
    spark, sf_dir, tmp_path, monkeypatch
):
    """vacuum expires commit-log entries below the oldest kept snapshot
    (and only those) without losing the head, even when the last
    commit's hint write crashed: current_manifest(), manifest_history()
    and one more commit all still resolve it."""
    from incubator_gobblin_spark.sources.manifest_import import log_seqs

    region = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "t")
    sink = _sink(root)
    for rid in ("run1", "run2"):
        sink.write_staging(region, rid)
        sink.publish(rid)
    sink.write_staging(region, "run3")
    _crash_hint(monkeypatch)
    with pytest.raises(OSError, match="simulated crash"):
        sink.publish("run3")
    monkeypatch.undo()

    res = sink.vacuum(keep_last=1, grace_seconds=0)
    assert res["manifests_deleted"] == 2
    assert log_seqs(root) == [3]
    assert sink.current_manifest()["run_id"] == "run3"
    assert sink.manifest_history() == ["run3"]
    sink.write_staging(region, "run4")
    sink.publish("run4")
    assert sink.manifest_history() == ["run4", "run3"]
    assert sink.read_committed(spark).count() == 20


def test_lake_without_commit_log_reads_and_commits(spark, sf_dir, tmp_path):
    """A lake written before the commit log existed (the ``_CURRENT``
    pointer and manifests without a ``seq``) stays readable at seq 0 and
    takes its next commit at log entry 1."""
    import json
    import shutil

    from incubator_gobblin_spark.sources.manifest_import import log_seqs

    region = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "t")
    sink = _sink(root)
    for rid in ("run1", "run2"):
        sink.write_staging(region, rid)
        sink.publish(rid)
    shutil.rmtree(os.path.join(root, "_manifests", "log"))
    for rid in ("run1", "run2"):
        mpath = os.path.join(root, "_manifests", f"{rid}.json")
        with open(mpath) as fh:
            m = json.load(fh)
        del m["seq"]
        with open(mpath, "w") as fh:
            json.dump(m, fh)

    assert sink.current_manifest()["run_id"] == "run2"
    assert sink.read_committed(spark).count() == 10
    sink.write_staging(region, "run3")
    sink.publish("run3")
    assert log_seqs(root) == [1]
    assert sink.current_manifest()["seq"] == 1
    assert sink.manifest_history() == ["run3", "run2", "run1"]
    assert sink.read_committed(spark).count() == 15


def test_merge_commit_reads_only_candidate_groups(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The merge commit path must stay O(touched groups): partitions the
    stats pruning excluded pass through the manifest rebuild WITHOUT a
    group-file read. Buckets are contiguous event_id ranges so the
    per-group key stats are DISJOINT — a 3-key source localizes to one
    bucket, and every other bucket's group must never be loaded."""
    ev = load_table(spark, sf_dir, "events")
    hi = ev.agg(F.max("event_id")).collect()[0][0]
    ev = ev.withColumn(
        "bucket", F.least(F.lit(3), (F.col("event_id") * 4 / (hi + 1)).cast("int"))
    )
    sink = _sink(tmp_path / "lake", partition_by=["bucket"])
    sink.write_staging(ev, "base")
    sink.publish("base")

    src = (
        ev.orderBy("event_id").limit(3).withColumn("value", F.lit(99.0))
    )
    reads: list[str] = []
    orig = FileSink._load_group

    def counting_load(self, group):
        reads.append(group.get("partition", ""))
        return orig(self, group)

    monkeypatch.setattr(FileSink, "_load_group", counting_load)
    sink.merge_into(spark, src, on=["event_id"], run_id="m1")
    monkeypatch.undo()
    # planning AND commit may only ever read bucket-0 groups; the old
    # commit path read EVERY live group (O(all groups) metadata)
    off_bucket = [p for p in reads if p != "bucket=0"]
    assert not off_bucket, f"non-candidate groups read: {off_bucket}"
    assert sink.read_committed(spark).filter(F.col("value") == 99.0).count() == 3


def test_merge_into_conflict_retry_recomputes(spark, sf_dir, tmp_path, monkeypatch):
    """A concurrent append lands between the merge's snapshot read and
    its pointer swap: with max_conflict_retries=0 the merge surfaces
    ManifestConflictError and loses nothing; with a retry budget it
    recomputes against the NEW snapshot, so both the merge and the
    concurrent commit survive."""
    from incubator_gobblin_spark.sinks.files import ManifestConflictError

    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "lake")
    sink.write_staging(region, "base")
    sink.publish("base")
    other = _sink(tmp_path / "lake")
    src = region.limit(2).withColumn("r_name", F.lit("MERGED"))
    extra = region.limit(1).withColumn(
        "r_regionkey", F.col("r_regionkey") + 100
    )

    orig_ws = FileSink.write_staging
    state = {"inject": True}

    def interfering_ws(self, df, rid):
        out = orig_ws(self, df, rid)
        if state["inject"] and rid.startswith("m"):
            state["inject"] = False
            orig_ws(other, extra, "conc")
            other._publish_manifest("conc")
        return out

    monkeypatch.setattr(FileSink, "write_staging", interfering_ws)
    with pytest.raises(ManifestConflictError):
        sink.merge_into(spark, src, on=["r_regionkey"], run_id="m0")
    # nothing lost: the concurrent commit is current, merge not applied
    assert sink.read_committed(spark).count() == 6
    assert sink.manifest_history()[0] == "conc"

    state["inject"] = True
    other2 = _sink(tmp_path / "lake")
    extra2 = region.limit(1).withColumn(
        "r_regionkey", F.col("r_regionkey") + 200
    )

    def interfering_ws2(self, df, rid):
        out = orig_ws(self, df, rid)
        if state["inject"] and rid.startswith("m"):
            state["inject"] = False
            orig_ws(other2, extra2, "conc2")
            other2._publish_manifest("conc2")
        return out

    monkeypatch.setattr(FileSink, "write_staging", interfering_ws2)
    sink.merge_into(
        spark, src, on=["r_regionkey"], run_id="m1", max_conflict_retries=1
    )
    got = sink.read_committed(spark)
    assert got.count() == 7  # 5 base + conc + conc2; merge replaced 2
    assert got.filter(F.col("r_name") == "MERGED").count() == 2
    assert sink.manifest_history()[0] == "m1"
    assert "conc2" in sink.manifest_history()


def test_merge_into_randomized_model_check(spark, sf_dir, tmp_path):
    """Model-based check of the MERGE contract: a seeded sequence of
    mixed CDC batches (updates, inserts, deletes, null ops) applies to
    BOTH the manifest lake and an in-memory dict model; after every
    commit the committed snapshot must equal the model exactly. Multi-
    file layout (cluster_by + maxRecordsPerFile) keeps the touched-set
    pruning honest."""
    import random

    rng = random.Random(42)
    rows = [(i, float(i) * 10.0) for i in range(400)]
    df = spark.createDataFrame(rows, "k BIGINT, v DOUBLE")
    sink = _sink(
        tmp_path / "lake", cluster_by=["k"], max_records_per_file=50
    )
    sink.write_staging(df, "base")
    sink.publish("base")
    model = dict(rows)

    next_key = 400
    for round_no in range(4):
        batch = []
        # updates on existing keys
        for k in rng.sample(sorted(model), 25):
            batch.append((k, rng.random() * 1000.0, "upsert"))
        # brand-new inserts (some with NULL op = upsert)
        for _ in range(10):
            batch.append(
                (next_key, float(next_key), rng.choice(["upsert", None]))
            )
            next_key += 1
        # deletes (only existing keys; deleting absent keys is also
        # legal — exercise one per round)
        for k in rng.sample(sorted(model), 8):
            batch.append((k, 0.0, "delete"))
        batch.append((10_000 + round_no, 0.0, "delete"))  # absent key

        # apply to the model (last-wins within a batch is NOT allowed:
        # merge requires key-unique sources, so dedupe first)
        seen = {}
        for k, v, op in batch:
            seen[k] = (v, op)
        src = spark.createDataFrame(
            [(k, v, op) for k, (v, op) in seen.items()],
            "k BIGINT, v DOUBLE, op STRING",
        )
        for k, (v, op) in seen.items():
            if op == "delete":
                model.pop(k, None)
            else:
                model[k] = v
        sink.merge_into(
            spark, src, on=["k"], run_id=f"m{round_no}", op_col="op"
        )
        got = {
            r.k: r.v for r in sink.read_committed(spark).collect()
        }
        assert len(got) == len(model), (
            f"round {round_no}: {len(got)} rows vs model {len(model)}"
        )
        diffs = {
            k
            for k in set(got) | set(model)
            if abs(got.get(k, -1) - model.get(k, -1)) > 1e-9
        }
        assert not diffs, f"round {round_no}: mismatched keys {sorted(diffs)[:5]}"


def test_lake_lifecycle_merge_compact_vacuum(spark, sf_dir, tmp_path):
    """Full lake lifecycle in one flow: append base -> CDC merge ->
    compaction -> vacuum. After each step the visible snapshot is
    value-correct; after vacuum only the compacted run's files remain on
    disk and pre-compaction history is gone (exactly keep_last deep)."""
    nation = load_table(spark, sf_dir, "nation")
    sink = _sink(tmp_path / "lake", cluster_by=["n_nationkey"])
    sink.write_staging(nation, "base")
    sink.publish("base")

    src = (
        nation.filter(F.col("n_nationkey") < 3)
        .withColumn("n_name", F.lit("MERGED"))
        .withColumn("op", F.lit("upsert"))
        .unionByName(
            nation.filter(F.col("n_nationkey") == 24).withColumn(
                "op", F.lit("delete")
            )
        )
    )
    sink.merge_into(spark, src, on=["n_nationkey"], run_id="m1", op_col="op")
    assert sink.read_committed(spark).count() == 24
    cid = sink.compact_runs(spark)
    got = sink.read_committed(spark)
    assert got.count() == 24
    assert got.filter(F.col("n_name") == "MERGED").count() == 3
    assert got.filter(F.col("n_nationkey") == 24).count() == 0

    stats = sink.vacuum(keep_last=1, grace_seconds=0)
    assert stats["runs_deleted"] >= 1
    data_runs = sorted(os.listdir(os.path.join(str(tmp_path / "lake"), "_data")))
    assert data_runs == [cid]
    after = sink.read_committed(spark)
    assert after.count() == 24
    assert after.filter(F.col("n_name") == "MERGED").count() == 3
    assert sink.manifest_history() == [cid]


def test_merge_into_threaded_contention_all_applied(spark, sf_dir, tmp_path):
    """Four writers merging DISJOINT key ranges into one lake
    concurrently, each with a conflict-retry budget: the put-if-absent
    commit-log entry must serialize them so every merge lands (no lost
    update) and every row carries exactly one writer's stamp."""
    import threading

    df = spark.createDataFrame(
        [(i, "base") for i in range(200)], "k BIGINT, tag STRING"
    )
    sink = _sink(tmp_path / "lake")
    sink.write_staging(df, "base")
    sink.publish("base")

    errs: list[Exception] = []

    def worker(w: int):
        try:
            src = spark.createDataFrame(
                [(i, f"w{w}") for i in range(w * 50, (w + 1) * 50)],
                "k BIGINT, tag STRING",
            )
            FileSink(path=str(tmp_path / "lake"), commit_mode="manifest").merge_into(
                spark, src, on=["k"], run_id=f"merge-w{w}",
                max_conflict_retries=16,
            )
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = sink.read_committed(spark)
    assert got.count() == 200
    tags = {r.tag for r in got.select("tag").distinct().collect()}
    assert tags == {"w0", "w1", "w2", "w3"}
    # every writer's commit is in the final history chain
    hist = set(sink.manifest_history())
    assert {f"merge-w{w}" for w in range(4)} <= hist


def test_merge_into_pure_insert_projects_to_target_schema(
    spark, sf_dir, tmp_path
):
    """A merge whose keys match NO live file (pure insert) must still
    project the source onto the target schema — CDC sources carry
    sequence/metadata columns that would otherwise silently widen the
    table and break the cross-run union read."""
    sink = _sink(tmp_path / "lake")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k BIGINT, v DOUBLE"
    )
    sink.write_staging(base, "base")
    sink.publish("base")

    src = spark.createDataFrame(
        [(100, 1.0, 7), (101, 2.0, 8)], "k BIGINT, v DOUBLE, seq BIGINT"
    )
    sink.merge_into(spark, src, on=["k"], run_id="m1")
    got = sink.read_committed(spark)
    assert sorted(got.columns) == ["k", "v"]
    assert got.count() == 7


def test_lake_random_walk_model_check(spark, sf_dir, tmp_path):
    """Model-based random walk over the WHOLE lake lifecycle: a seeded
    sequence of appends, CDC merges, compactions, and vacuums applies
    to both the lake and an in-memory model; after every step the
    committed snapshot equals the model exactly, and recorded model
    history stays time-travelable until vacuumed."""
    import random

    rng = random.Random(7)
    sink = _sink(tmp_path / "lake", cluster_by=["k"], max_records_per_file=40)
    model: dict[int, float] = {}
    history: list[tuple[str, dict[int, float]]] = []
    next_key = 0

    def fresh_rows(n):
        nonlocal next_key
        rows = [(next_key + i, rng.random() * 100) for i in range(n)]
        next_key += n
        return rows

    # base append so every op has something to chew on
    rows = fresh_rows(120)
    df = spark.createDataFrame(rows, "k BIGINT, v DOUBLE")
    sink.write_staging(df, "base")
    sink.publish("base")
    model.update(dict(rows))
    history.append(("base", dict(model)))

    for step in range(10):
        op = rng.choice(["append", "merge", "merge", "compact", "vacuum"])
        rid = f"s{step}"
        if op == "append":
            rows = fresh_rows(rng.randint(10, 60))
            sink.write_staging(
                spark.createDataFrame(rows, "k BIGINT, v DOUBLE"), rid
            )
            sink.publish(rid)
            model.update(dict(rows))
            history.append((rid, dict(model)))
        elif op == "merge":
            ups = {
                k: rng.random() * 1000
                for k in rng.sample(sorted(model), min(15, len(model)))
            }
            ins = dict(fresh_rows(5))
            dels = rng.sample(sorted(set(model) - set(ups)), 4)
            batch = (
                [(k, v, "upsert") for k, v in ups.items()]
                + [(k, v, None) for k, v in ins.items()]
                + [(k, 0.0, "delete") for k in dels]
            )
            src = spark.createDataFrame(batch, "k BIGINT, v DOUBLE, op STRING")
            sink.merge_into(spark, src, on=["k"], run_id=rid, op_col="op")
            model.update(ups)
            model.update(ins)
            for k in dels:
                model.pop(k)
            history.append((rid, dict(model)))
        elif op == "compact":
            cid = sink.compact_runs(spark, run_id=rid)
            history.append((cid, dict(model)))
        else:
            sink.vacuum(keep_last=2, grace_seconds=0)
            kept = set(sink.manifest_history())
            history[:] = [(r, m) for r, m in history if r in kept]

        got = {r.k: r.v for r in sink.read_committed(spark).collect()}
        assert got.keys() == model.keys(), f"step {step} {op}: key set drift"
        assert all(abs(got[k] - model[k]) < 1e-9 for k in model), (
            f"step {step} {op}: value drift"
        )
        # a recorded historical snapshot still reads exactly
        if len(history) > 1:
            rid_h, snap = history[rng.randrange(len(history))]
            old = {
                r.k: r.v
                for r in sink.read_committed(spark, as_of_run=rid_h).collect()
            }
            assert old.keys() == snap.keys(), f"time travel drift at {rid_h}"


def test_merge_into_empty_source_is_noop(spark, sf_dir, tmp_path, monkeypatch):
    """An empty CDC batch must not commit anything — and must not read
    a single manifest group (the empty key bounds would otherwise match
    every candidate)."""
    region = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "lake")
    sink.write_staging(region, "base")
    sink.publish("base")

    reads = []
    orig = FileSink._load_group
    monkeypatch.setattr(
        FileSink,
        "_load_group",
        lambda self, g: (reads.append(g["file"]), orig(self, g))[1],
    )
    empty = region.limit(0).withColumn("op", F.lit("upsert"))
    rid = sink.merge_into(spark, empty, on=["r_regionkey"], run_id="m1", op_col="op")
    monkeypatch.undo()
    assert rid == "m1"
    assert sink.manifest_history() == ["base"]  # nothing committed
    assert reads == []  # no group metadata touched
    assert sink.read_committed(spark).count() == 5


def test_read_changes_update_delete_insert_pairs(spark, tmp_path):
    """CDF between two commits: an update surfaces as its delete+insert
    pair, a delete as one delete row, an insert as one insert row —
    and rewritten-but-identical survivor rows cancel entirely."""
    sink = _sink(tmp_path / "lake", table_type=TableType.APPEND_ONLY)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k INT, v STRING"
    )
    sink.write_staging(base.repartition(3), "r1")
    sink.publish("r1")
    cdc = spark.createDataFrame(
        [(3, "v3-new", None), (99, "v99", None), (5, None, "delete")],
        "k INT, v STRING, op STRING",
    )
    sink.merge_into(spark, cdc, on=["k"], run_id="m1", op_col="op")

    ch = {
        (r.k, r.v, r._change_type)
        for r in sink.read_changes(spark, "r1").collect()
    }
    assert ch == {
        (3, "v3", "delete"),
        (3, "v3-new", "insert"),
        (5, "v5", "delete"),
        (99, "v99", "insert"),
    }


def test_read_changes_same_snapshot_is_empty(spark, tmp_path):
    sink = _sink(tmp_path / "lake", table_type=TableType.APPEND_ONLY)
    df = spark.createDataFrame([(1, "a")], "k INT, v STRING")
    sink.write_staging(df, "r1")
    sink.publish("r1")
    out = sink.read_changes(spark, "r1", "r1")
    assert out.count() == 0
    assert "_change_type" in out.columns


def test_read_changes_append_interval_is_pure_inserts(spark, tmp_path):
    """An append-only interval diffs to exactly the appended rows, and
    the carried base files are never read: the manifest diff excludes
    them driver-side (the O(changed files) contract)."""
    sink = _sink(tmp_path / "lake", table_type=TableType.APPEND_ONLY)
    sink.write_staging(
        spark.createDataFrame([(i, "base") for i in range(50)], "k INT, v STRING"),
        "r1",
    )
    sink.publish("r1")
    sink.write_staging(
        spark.createDataFrame([(100 + i, "new") for i in range(5)], "k INT, v STRING"),
        "r2",
    )
    sink.publish("r2")
    ch = sink.read_changes(spark, "r1")
    rows = ch.collect()
    assert len(rows) == 5
    assert all(r._change_type == "insert" and r.v == "new" for r in rows)
    # file-level accounting: the diff's scan lists ONLY r2's files
    scanned = ch.inputFiles()
    assert scanned and all("_data/r2" in f for f in scanned)


def test_read_changes_across_merge_reads_only_rewritten_files(
    spark, sf_dir, tmp_path
):
    """A narrow merge into a multi-file lake: the CDF scans the
    rewritten files plus the merge run — carried files stay out of the
    plan entirely."""
    orders = load_table(spark, sf_dir, "orders")
    sink = _sink(
        tmp_path / "lake", cluster_by=["o_orderkey"], max_records_per_file=200
    )
    sink.write_staging(orders, "base")
    sink.publish("base")
    before = {e["file"] for e in sink.current_manifest()["entries"]}
    keys = [r.o_orderkey for r in orders.orderBy("o_orderkey").limit(3).collect()]
    src = (
        orders.filter(F.col("o_orderkey").isin(keys))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("op", F.lit("upsert"))
    )
    sink.merge_into(spark, src, on=["o_orderkey"], run_id="m1", op_col="op")
    after = {e["file"] for e in sink.current_manifest()["entries"]}
    carried = before & after
    assert carried, "clustered narrow merge must carry most files"

    ch = sink.read_changes(spark, "base")
    got = {
        (r.o_orderkey, r._change_type)
        for r in ch.select("o_orderkey", "_change_type").collect()
    }
    assert got == {(k, "insert") for k in keys} | {(k, "delete") for k in keys}
    scanned = ch.inputFiles()
    for f in carried:
        assert not any(f in s for s in scanned), (
            f"carried file {f} must not be scanned by CDF"
        )


def test_bloom_point_lookup_prunes_hash_distributed_keys(spark, tmp_path):
    """Random (hash-distributed) keys give every file ~the full min/max
    range — stats prune nothing — but the per-file bloom prunes a point
    lookup to the one file holding the key, and an absent key to zero
    files. Results stay exact either way."""
    import random

    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        bloom_cols=["k"],
        bloom_bits=8192,
        max_records_per_file=100,
    )
    keys = random.Random(3).sample(range(10**9), 800)
    df = spark.createDataFrame([(k, f"v{k}") for k in keys], "k LONG, v STRING")
    sink.write_staging(df.repartition(8), "r1")
    sink.publish("r1")
    ents = sink.current_manifest()["entries"]
    assert len(ents) >= 8 and all("bloom" in e for e in ents)

    target = keys[42]
    kept, total = sink.pruned_file_count([("k", "=", target)])
    assert kept <= 2, f"bloom should prune a point lookup, kept {kept}/{total}"
    rows = sink.read_committed(spark, filters=[("k", "=", target)]).collect()
    assert len(rows) == 1 and rows[0].v == f"v{target}"
    # absent key (not in any file): everything prunes w.h.p.
    kept2, _ = sink.pruned_file_count([("k", "=", 123456789012)])
    assert kept2 <= 2


def test_bloom_never_false_negative(spark, tmp_path):
    """EVERY stored key must be found through the bloom-pruned read —
    a bloom can only over-approximate."""
    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        bloom_cols=["k", "name"],
        bloom_bits=4096,
        max_records_per_file=50,
    )
    rows = [(i * 7919 % 1000003, f"n{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "k LONG, name STRING")
    sink.write_staging(df.repartition(6), "r1")
    sink.publish("r1")
    for k, name in rows[::29]:
        got = sink.read_committed(spark, filters=[("k", "=", k)]).collect()
        assert any(r.name == name for r in got), f"key {k} lost by bloom pruning"
        got2 = sink.read_committed(spark, filters=[("name", "=", name)]).collect()
        assert any(r.k == k for r in got2), f"string key {name} lost"


def test_bloom_saturated_filter_never_lies(spark, tmp_path):
    """An undersized bloom (64 bits for 500 keys) saturates: pruning
    degrades to nothing, correctness is untouched."""
    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        bloom_cols=["k"],
        bloom_bits=64,
    )
    df = spark.createDataFrame([(i,) for i in range(500)], "k LONG")
    sink.write_staging(df, "r1")
    sink.publish("r1")
    got = sink.read_committed(spark, filters=[("k", "=", 123)]).collect()
    assert [r.k for r in got] == [123]


def test_bloom_refines_merge_candidates(spark, tmp_path):
    """_bloom_refine_candidates: keeps files whose bloom may hold a
    source key, keeps bloom-less files unconditionally, and skips
    refinement entirely when the key set exceeds the collect cap."""
    import random

    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        bloom_cols=["k"],
        bloom_bits=8192,
        max_records_per_file=100,
    )
    keys = random.Random(9).sample(range(10**9), 600)
    df = spark.createDataFrame([(k, "x") for k in keys], "k LONG, v STRING")
    sink.write_staging(df.repartition(6), "r1")
    sink.publish("r1")
    entries = sink.current_manifest()["entries"]

    src = spark.createDataFrame([(keys[0],), (keys[1],)], "k LONG")
    refined = sink._bloom_refine_candidates(entries, src, ["k"])
    assert 1 <= len(refined) <= 3  # only files that may hold the 2 keys
    # a bloom-less entry survives refinement
    bare = {"file": "x", "partition": ""}
    refined2 = sink._bloom_refine_candidates(entries + [bare], src, ["k"])
    assert bare in refined2
    # over-cap key sets skip refinement (superset returned unchanged)
    big = spark.range(0, 3000).select(F.col("id").alias("k"))
    assert sink._bloom_refine_candidates(entries, big, ["k"]) == entries


def test_bloom_survives_merge_rewrite(spark, tmp_path):
    """The merge's rewritten run regenerates blooms (staging goes
    through write_staging), so pruning keeps working after CDC."""
    import random

    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        bloom_cols=["k"],
        bloom_bits=8192,
        max_records_per_file=100,
    )
    keys = random.Random(5).sample(range(10**9), 400)
    df = spark.createDataFrame([(k, "base") for k in keys], "k LONG, v STRING")
    sink.write_staging(df.repartition(4), "r1")
    sink.publish("r1")
    cdc = spark.createDataFrame(
        [(keys[7], "upd", None)], "k LONG, v STRING, op STRING"
    )
    sink.merge_into(spark, cdc, on=["k"], run_id="m1", op_col="op")
    ents = sink.current_manifest()["entries"]
    assert all("bloom" in e for e in ents)
    rows = sink.read_committed(spark, filters=[("k", "=", keys[7])]).collect()
    assert len(rows) == 1 and rows[0].v == "upd"
    kept, total = sink.pruned_file_count([("k", "=", keys[7])])
    assert kept <= 2


def test_read_incremental_watermark_loop(spark, tmp_path):
    """The lake as an incremental SOURCE: first read = full snapshot as
    inserts; after commit, only the delta since the consumed run; crash
    before commit replays the same delta; consumed-up-to-date reads
    empty; a vacuumed watermark raises instead of fabricating deltas."""
    from incubator_gobblin_spark.state import StateStore

    sink = _sink(tmp_path / "lake", table_type=TableType.APPEND_ONLY)
    store = StateStore(str(tmp_path / "state"))
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k INT, v STRING"
    )
    sink.write_staging(base, "r1")
    sink.publish("r1")

    df, commit = sink.read_incremental(spark, store, "t")
    rows = df.collect()
    assert len(rows) == 6 and all(r._change_type == "insert" for r in rows)
    commit()

    # consumed up to date: empty delta
    df2, commit2 = sink.read_incremental(spark, store, "t")
    assert df2.count() == 0
    commit2()

    cdc = spark.createDataFrame(
        [(2, "v2-new", None), (9, "v9", None), (4, None, "delete")],
        "k INT, v STRING, op STRING",
    )
    sink.merge_into(spark, cdc, on=["k"], run_id="m1", op_col="op")

    # crash-before-commit: the delta replays identically
    for _ in range(2):
        d, c = sink.read_incremental(spark, store, "t")
        got = {(r.k, r.v, r._change_type) for r in d.collect()}
        assert got == {
            (2, "v2", "delete"),
            (2, "v2-new", "insert"),
            (4, "v4", "delete"),
            (9, "v9", "insert"),
        }
    c()
    d3, _ = sink.read_incremental(spark, store, "t")
    assert d3.count() == 0

    # vacuumed watermark must raise, not diff against a wrong base
    st = store.get("t")
    st.high_watermark = "gone-run"
    store.commit("t", st)
    with pytest.raises(ValueError, match="re-baseline"):
        sink.read_incremental(spark, store, "t")


def test_zorder_prunes_every_listed_dimension(spark, tmp_path):
    """Z-ordered files cover narrow ranges in EVERY listed column:
    a y-only predicate prunes files (lexicographic (x, y) clustering
    cannot prune y at all), x-only still prunes, and results stay
    exact. Also: zorder_by rejects <2 columns and non-numeric ones."""
    import random

    rng = random.Random(1)
    rows = [(rng.randint(0, 9999), rng.randint(0, 9999), i) for i in range(20000)]
    df = spark.createDataFrame(rows, "x LONG, y LONG, payload LONG")

    def build(**kw):
        sink = _sink(
            tmp_path / kw_name(kw),
            table_type=TableType.APPEND_ONLY,
            max_records_per_file=1500,
            **kw,
        )
        sink.write_staging(df, "r1")
        sink.publish("r1")
        return sink

    def kw_name(kw):
        return "-".join(sorted(kw))

    z = build(zorder_by=["x", "y"])
    lex = build(cluster_by=["x", "y"])
    total = len(z.current_manifest()["entries"])

    y_pred = [("y", ">=", 5000), ("y", "<", 5300)]
    zy, _ = z.pruned_file_count(y_pred)
    ly, _ = lex.pruned_file_count(y_pred)
    assert zy < total, "z-order must prune a y-only predicate"
    assert zy < ly, "z-order must beat lexicographic on the minor column"
    x_pred = [("x", ">=", 5000), ("x", "<", 5300)]
    zx, _ = z.pruned_file_count(x_pred)
    assert zx < total, "z-order must still prune the major column"

    both = x_pred + y_pred
    got = z.read_committed(spark, filters=both).count()
    exp = df.filter(
        (F.col("x") >= 5000) & (F.col("x") < 5300)
        & (F.col("y") >= 5000) & (F.col("y") < 5300)
    ).count()
    assert got == exp

    with pytest.raises(ValueError, match=">= 2 columns"):
        _sink(tmp_path / "bad1", zorder_by=["x"]).write_staging(df, "r")
    s2 = spark.createDataFrame([(1, "a")], "x LONG, s STRING")
    with pytest.raises(ValueError, match="must be numeric"):
        _sink(tmp_path / "bad2", zorder_by=["x", "s"]).write_staging(s2, "r")


def test_merge_schema_evolution_adds_column(spark, tmp_path):
    """schema_evolution=True: a merge whose source carries a NEW column
    widens the table copy-on-write — old runs' rows read back null in
    the new column, survivors and upserts carry it, and the CDF across
    the evolved interval null-fills consistently. Default sinks still
    DROP unknown source columns (evolution is a deliberate choice)."""
    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        schema_evolution=True,
    )
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "k INT, v STRING"
    )
    sink.write_staging(base.repartition(2), "r1")
    sink.publish("r1")
    cdc = spark.createDataFrame(
        [(2, "v2-new", "eu", None), (9, "v9", "us", None)],
        "k INT, v STRING, region STRING, op STRING",
    )
    sink.merge_into(spark, cdc, on=["k"], run_id="m1", op_col="op")

    snap = sink.read_committed(spark)
    assert "region" in snap.columns
    rows = {r.k: (r.v, r.region) for r in snap.collect()}
    assert rows[2] == ("v2-new", "eu") and rows[9] == ("v9", "us")
    assert rows[0] == ("v0", None)  # untouched old rows null-fill
    assert len(rows) == 7

    ch = {(r.k, r.region, r._change_type)
          for r in sink.read_changes(spark, "r1").collect()}
    assert (2, "eu", "insert") in ch and (2, None, "delete") in ch
    assert (9, "us", "insert") in ch

    # default sink: the unknown column is dropped, not evolved
    strict = _sink(tmp_path / "lake2", table_type=TableType.APPEND_ONLY)
    strict.write_staging(base, "r1")
    strict.publish("r1")
    strict.merge_into(spark, cdc, on=["k"], run_id="m1", op_col="op")
    got = strict.read_committed(spark)
    assert "region" not in got.columns
    assert got.count() == 7


def test_cdf_materialize_serves_read_changes_without_diff(spark, tmp_path):
    """cdf_materialize=True: a single-commit interval is served from
    the _changes sidecar (scanned files prove it) with rows identical
    to the diff path, and the sidecar never leaks into the snapshot."""
    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        cdf_materialize=True,
    )
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(8)], "k INT, v STRING"
    )
    sink.write_staging(base.repartition(2), "r1")
    sink.publish("r1")
    cdc = spark.createDataFrame(
        [(3, "v3-new", None), (77, "v77", None), (5, None, "delete")],
        "k INT, v STRING, op STRING",
    )
    sink.merge_into(spark, cdc, on=["k"], run_id="m1", op_col="op")

    ch = sink.read_changes(spark, "r1")
    assert all("_changes" in f for f in ch.inputFiles())
    got = {(r.k, r.v, r._change_type) for r in ch.collect()}
    assert got == {
        (3, "v3", "delete"),
        (3, "v3-new", "insert"),
        (5, "v5", "delete"),
        (77, "v77", "insert"),
    }
    # snapshot readers never see the sidecar
    snap = sink.read_committed(spark)
    assert not any("_changes" in f for f in snap.inputFiles())
    assert snap.count() == 8
    # multi-commit intervals still work (diff path composes)
    cdc2 = spark.createDataFrame([(0, "z", None)], "k INT, v STRING, op STRING")
    sink.merge_into(spark, cdc2, on=["k"], run_id="m2", op_col="op")
    multi = {
        (r.k, r.v, r._change_type)
        for r in sink.read_changes(spark, "r1").collect()
    }
    assert multi == got | {(0, "v0", "delete"), (0, "z", "insert")}


def test_compaction_is_cdf_noop_when_materialized(spark, tmp_path):
    """Compaction rewrites every file but changes no rows: with
    cdf_materialize the empty _changes sidecar makes read_changes
    across the compaction return ZERO rows (without it, the file diff
    degrades to the documented full delete+insert storm)."""
    sink = _sink(
        tmp_path / "lake",
        table_type=TableType.APPEND_ONLY,
        cdf_materialize=True,
    )
    for i in range(3):
        sink.write_staging(
            spark.createDataFrame([(i, f"v{i}")], "k INT, v STRING"), f"r{i}"
        )
        sink.publish(f"r{i}")
    cid = sink.compact_runs(spark)
    ch = sink.read_changes(spark, "r2")
    assert ch.count() == 0
    assert "_change_type" in ch.columns
    assert sink.read_committed(spark).count() == 3
    assert sink.current_manifest()["run_id"] == cid


def test_merge_into_matched_ignore_insert_if_absent(spark, tmp_path):
    """matched='ignore' is WHEN MATCHED THEN DO NOTHING: the first
    writer of a key wins, later same-key rows are dropped, new keys
    append — and NO target file is ever rewritten (pure append
    commit)."""
    sink = _sink(tmp_path / "lake")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(5)], "k BIGINT, payload STRING"
    )
    sink.write_staging(base, "base")
    sink.publish("base")
    before_files = {e["file"] for e in sink.current_manifest()["entries"]}

    src = spark.createDataFrame(
        [(3, "CLOBBER"), (9, "new")], "k BIGINT, payload STRING"
    )
    rid = sink.merge_into(spark, src, on=["k"], run_id="m1", matched="ignore")
    assert rid == "m1"
    got = {r.k: r.payload for r in sink.read_committed(spark).collect()}
    assert got[3] == "v3"  # existing key untouched, not clobbered
    assert got[9] == "new" and len(got) == 6
    after = {e["file"] for e in sink.current_manifest()["entries"]}
    # every base file carried by reference; exactly the insert appended
    assert before_files <= after
    new_files = after - before_files
    assert all(f.startswith(os.path.join("_data", "m1")) for f in new_files)

    # replay of the committed rid: idempotent no-op
    assert sink.merge_into(spark, src, on=["k"], run_id="m1", matched="ignore") == "m1"
    assert {r.k: r.payload for r in sink.read_committed(spark).collect()} == got

    # all-duplicate batch: semantic no-op, no new commit
    history_before = list(sink.manifest_history())
    sink.merge_into(spark, src, on=["k"], run_id="m2", matched="ignore")
    assert list(sink.manifest_history()) == history_before


def test_merge_into_matched_ignore_validation(spark, tmp_path):
    sink = _sink(tmp_path / "lake")
    df = spark.createDataFrame([(1, "a", "upsert")], "k BIGINT, v STRING, op STRING")
    with pytest.raises(ValueError, match="op_col"):
        sink.merge_into(spark, df, on=["k"], op_col="op", matched="ignore")
    with pytest.raises(ValueError, match="matched"):
        sink.merge_into(spark, df.drop("op"), on=["k"], matched="bogus")


def test_merge_into_matched_ignore_incremental_dedup(spark, tmp_path):
    """The incremental exact-dedup ingestion pattern: batches keyed by
    content fingerprint merge with matched='ignore'; across any batch
    arrival order the lake keeps the FIRST copy of each fingerprint and
    equals the batch dedup of the full corpus."""
    from incubator_gobblin_spark.functions import text

    sink = _sink(tmp_path / "lake")
    b1 = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")],
        "doc_id BIGINT, text STRING",
    )
    b2 = spark.createDataFrame(
        [(3, "Hello   World"), (4, "something else")],  # 3 dups 2 (normalized)
        "doc_id BIGINT, text STRING",
    )
    for i, b in enumerate((b1, b2)):
        keyed = b.withColumn("fp", text.fingerprint("text"))
        sink.merge_into(spark, keyed, on=["fp"], run_id=f"b{i}", matched="ignore")
    got = {r.doc_id for r in sink.read_committed(spark).collect()}
    assert got == {1, 2, 4}  # doc 3's fingerprint matched doc 2: ignored


def test_symlink_manifest_export_external_read(spark, sf_dir, tmp_path):
    """export_symlink_manifest makes the lake readable by engines that
    know nothing about the manifest JSON: DuckDB (the 'external
    engine') reads exactly the listed files and reproduces the
    committed snapshot — dead files from a MERGE rewrite excluded,
    uncommitted staging invisible."""
    import duckdb

    from incubator_gobblin_spark.session import load_table

    lake = str(tmp_path / "lake")
    sink = FileSink(path=lake, commit_mode="manifest")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    sink.write_staging(orders, "base")
    sink.publish("base")
    # a merge rewrites some files (dead files now exist under _data)
    lo = orders.agg(F.min("o_orderkey")).collect()[0][0]
    src = orders.filter(F.col("o_orderkey") < lo + 100).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    )
    sink.merge_into(spark, src, on=["o_orderkey"], run_id="m1")
    # an uncommitted staging run must stay invisible
    sink.write_staging(orders.limit(5), "never_published")

    root = sink.export_symlink_manifest()
    files = [
        line
        for line in open(os.path.join(root, "manifest")).read().splitlines()
        if line
    ]
    assert files and all(os.path.isabs(f) for f in files)
    ext = duckdb.sql(
        "SELECT count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s "
        f"FROM read_parquet({files!r})"
    ).fetchone()
    snap = (
        sink.read_committed(spark)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("s"),
        )
        .collect()[0]
    )
    assert ext[0] == snap["n"] and ext[1] == snap["s"]

    # time travel: exporting the pre-merge snapshot lists the base files
    root0 = sink.export_symlink_manifest(
        as_of_run="base", out_dir=str(tmp_path / "sym0")
    )
    files0 = [
        line
        for line in open(os.path.join(root0, "manifest")).read().splitlines()
        if line
    ]
    n0 = duckdb.sql(f"SELECT count(*) FROM read_parquet({files0!r})").fetchone()[0]
    assert n0 == orders.count()


def test_symlink_manifest_export_partitioned(spark, sf_dir, tmp_path):
    """Partitioned lakes export one manifest per k=v directory (the
    Hive SymlinkTextInputFormat registration shape)."""
    import duckdb

    from incubator_gobblin_spark.session import load_table

    lake = str(tmp_path / "lake")
    sink = FileSink(
        path=lake, commit_mode="manifest", partition_by=["r_regionkey"]
    )
    region = load_table(spark, sf_dir, "region")
    sink.write_staging(region, "base")
    sink.publish("base")
    root = sink.export_symlink_manifest()
    parts = sorted(os.listdir(root))
    assert parts == [f"r_regionkey={k}" for k in range(5)]
    f0 = open(os.path.join(root, "r_regionkey=0", "manifest")).read().split()
    got = duckdb.sql(f"SELECT count(*) FROM read_parquet({f0!r})").fetchone()[0]
    assert got == 1


def test_symlink_manifest_auto_refresh(spark, sf_dir, tmp_path):
    """symlink_manifest=True keeps the external view fresh across
    commits: after a merge, the exported file list equals the NEW
    snapshot's files (dead files dropped, new run's files added)."""
    import duckdb

    from incubator_gobblin_spark.session import load_table

    lake = str(tmp_path / "lake")
    sink = FileSink(path=lake, commit_mode="manifest", symlink_manifest=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    sink.write_staging(orders, "base")
    sink.publish("base")
    root = os.path.join(lake, "_symlink_format_manifest")
    assert os.path.exists(os.path.join(root, "manifest"))
    lo = orders.agg(F.min("o_orderkey")).collect()[0][0]
    src = orders.filter(F.col("o_orderkey") < lo + 50).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    )
    sink.merge_into(spark, src, on=["o_orderkey"], run_id="m1")
    files = [
        line
        for line in open(os.path.join(root, "manifest")).read().splitlines()
        if line
    ]
    ext_sum = duckdb.sql(
        "SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
        f"FROM read_parquet({files!r})"
    ).fetchone()[0]
    snap_sum = (
        sink.read_committed(spark)
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("s")
        )
        .collect()[0]["s"]
    )
    assert ext_sum == snap_sum


def test_rollback_restores_snapshot_linearly(spark, sf_dir, tmp_path):
    """rollback_to restores a prior snapshot as a NEW commit: the data
    matches the target version exactly, history stays linear (the bad
    commit remains time-travelable), and a vacuumed target refuses
    with the missing files named."""
    import pytest as _pytest

    from incubator_gobblin_spark.session import load_table

    lake = str(tmp_path / "lake")
    sink = FileSink(path=lake, commit_mode="manifest")
    region = load_table(spark, sf_dir, "region")
    sink.write_staging(region, "v1")
    sink.publish("v1")
    # a destructive merge (the "bad purge" to roll back)
    bad = region.limit(3).withColumn("r_name", F.lit("CORRUPTED"))
    sink.merge_into(spark, bad, on=["r_regionkey"], run_id="bad")
    assert (
        sink.read_committed(spark).filter(F.col("r_name") == "CORRUPTED").count()
        == 3
    )

    rid = sink.rollback_to("v1")
    snap = sink.read_committed(spark)
    assert snap.filter(F.col("r_name") == "CORRUPTED").count() == 0
    assert snap.count() == 5
    # linear history: rollback -> bad -> v1
    hist = sink.manifest_history()
    assert hist[0] == rid and hist[1] == "bad" and hist[2] == "v1"
    # the bad commit is still time-travelable
    assert (
        sink.read_committed(spark, as_of_run="bad")
        .filter(F.col("r_name") == "CORRUPTED")
        .count()
        == 3
    )

    # after vacuuming down to the current snapshot, restoring a
    # reclaimed version fails loudly
    sink.merge_into(
        spark,
        region.limit(1).withColumn("r_name", F.lit("X")),
        on=["r_regionkey"],
        run_id="newer",
    )
    sink.vacuum(keep_last=1, grace_seconds=0)
    with _pytest.raises(FileNotFoundError):
        sink.rollback_to("bad")


def test_purge_then_verify_and_restore(spark, sf_dir, tmp_path):
    """The compliance loop end-to-end: purge -> independent validation
    (0 survivors) -> accidental over-purge restored via rollback on a
    manifest lake."""
    from incubator_gobblin_spark.jobs import purge as P
    from incubator_gobblin_spark.session import load_table

    data = str(tmp_path / "ds")
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.parquet(data)
    ids = spark.createDataFrame([(1,), (7,), (13,)], "c_custkey long")
    res = P.purge(spark, data, ids, on="c_custkey")
    assert res.rows_purged == 3
    assert P.verify_purge(spark, data, ids, on="c_custkey") == 0
    # a key that was never purged still matches (the validator is not
    # a tautology)
    other = spark.createDataFrame([(2,)], "c_custkey long")
    assert P.verify_purge(spark, data, other, on="c_custkey") == 1


# ---------------------------------------------------------------------------
# Delta-log export (structural conformance; no Delta reader offline)
# ---------------------------------------------------------------------------


def _replay_delta(log_dir):
    import json

    live, meta, proto = {}, None, None
    for f in sorted(os.listdir(log_dir)):
        if not f.endswith(".json"):
            continue
        for line in open(os.path.join(log_dir, f)):
            act = json.loads(line)
            if "add" in act:
                live[act["add"]["path"]] = act["add"]
            elif "remove" in act:
                live.pop(act["remove"]["path"], None)
            elif "metaData" in act:
                meta = act["metaData"]
            elif "protocol" in act:
                proto = act["protocol"]
    return live, meta, proto


def test_delta_export_snapshot_replays_to_committed_files(spark, sf_dir, tmp_path):
    """Version 0: protocol + metaData + adds; replaying the log yields
    exactly the committed file set with true on-disk sizes, and the
    schemaString parses as a Spark StructType that matches the data."""
    import json
    from urllib.parse import unquote

    from pyspark.sql.types import StructType

    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "dl")
    sink.write_staging(df, "r1")
    sink.publish("r1")
    log_dir = sink.export_delta_log()
    live, meta, proto = _replay_delta(log_dir)
    committed = {e["file"] for e in sink.current_manifest()["entries"]}
    assert {unquote(p) for p in live} == committed
    for p, add in live.items():
        fp = os.path.join(str(tmp_path / "dl"), unquote(p))
        assert add["size"] == os.path.getsize(fp)
        assert add["dataChange"] is True and add["partitionValues"] == {}
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    schema = StructType.fromJson(json.loads(meta["schemaString"]))
    assert set(schema.fieldNames()) == set(df.columns)
    assert meta["format"] == {"provider": "parquet", "options": {}}


def test_delta_export_incremental_versions(spark, sf_dir, tmp_path):
    """A second commit exports as version 1 with only the delta
    actions; an unchanged re-export writes NOTHING; replay tracks the
    manifest across a MERGE's file rewrites (removes + adds)."""
    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "dl2")
    sink.write_staging(df, "r1")
    sink.publish("r1")
    sink.export_delta_log()
    n0 = len(os.listdir(os.path.join(str(tmp_path / "dl2"), "_delta_log")))
    sink.export_delta_log()  # no change -> no new version
    log_dir = os.path.join(str(tmp_path / "dl2"), "_delta_log")
    assert len(os.listdir(log_dir)) == n0

    upd = df.withColumn("r_comment", F.lit("changed"))
    sink.merge_into(spark, upd, on=["r_regionkey"], run_id="m1")
    sink.export_delta_log()
    files = sorted(f for f in os.listdir(log_dir) if f.endswith(".json"))
    assert files == ["00000000000000000000.json", "00000000000000000001.json"]
    import json
    from urllib.parse import unquote

    v1 = [json.loads(l) for l in open(os.path.join(log_dir, files[1]))]
    assert any("remove" in a for a in v1) and any("add" in a for a in v1)
    assert not any("protocol" in a or "metaData" in a for a in v1)
    live, _, _ = _replay_delta(log_dir)
    committed = {e["file"] for e in sink.current_manifest()["entries"]}
    assert {unquote(p) for p in live} == committed


def test_delta_export_partition_values(spark, sf_dir, tmp_path):
    """Partitioned lakes carry Hive-decoded partitionValues on every
    add, and metaData declares the partition columns."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    sink = _sink(tmp_path / "dl3", partition_by=["lang"])
    sink.write_staging(docs, "r1")
    sink.publish("r1")
    log_dir = sink.export_delta_log()
    live, meta, _ = _replay_delta(log_dir)
    assert meta["partitionColumns"] == ["lang"]
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    seen = {add["partitionValues"]["lang"] for add in live.values()}
    assert seen == langs


def test_delta_log_flag_tracks_every_commit(spark, sf_dir, tmp_path):
    """delta_log=True: publish and merge each leave a Delta version
    whose replay equals the live snapshot, with no manual export."""
    from urllib.parse import unquote

    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "dl4", delta_log=True)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    log_dir = os.path.join(str(tmp_path / "dl4"), "_delta_log")
    assert len([f for f in os.listdir(log_dir) if f.endswith(".json")]) == 1
    sink.merge_into(
        spark, df.withColumn("r_comment", F.lit("x")), on=["r_regionkey"],
        run_id="m1",
    )
    assert len([f for f in os.listdir(log_dir) if f.endswith(".json")]) == 2
    live, _, _ = _replay_delta(log_dir)
    committed = {e["file"] for e in sink.current_manifest()["entries"]}
    assert {unquote(p) for p in live} == committed


def test_read_delta_roundtrip_and_time_travel(spark, sf_dir, tmp_path):
    """read_delta replays the exported log: latest snapshot equals the
    lake's committed rows, version=0 time-travels to the pre-merge
    state, partitioned tables restore typed partition columns."""
    from incubator_gobblin_spark.sources.delta_import import read_delta

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dl5")
    sink = _sink(root, delta_log=True)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    sink.merge_into(
        spark, df.withColumn("r_comment", F.lit("v2")), on=["r_regionkey"],
        run_id="m1",
    )

    latest = read_delta(spark, root)
    assert sorted(map(tuple, latest.collect())) == sorted(
        map(tuple, sink.read_committed(spark).collect())
    )
    v0 = read_delta(spark, root, version=0)
    assert sorted(map(tuple, v0.collect())) == sorted(map(tuple, df.collect()))

    # partitioned: lang comes back as a typed column from partitionValues
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    proot = str(tmp_path / "dl6")
    psink = _sink(proot, partition_by=["lang"], delta_log=True)
    psink.write_staging(docs, "r1")
    psink.publish("r1")
    got = read_delta(spark, proot)
    assert set(got.columns) == {"doc_id", "lang", "n_chars"}
    assert sorted(map(tuple, got.select("doc_id", "lang").collect())) == sorted(
        map(tuple, docs.select("doc_id", "lang").collect())
    )


def test_read_delta_handwritten_spec_example(spark, tmp_path):
    """A hand-written log following the PROTOCOL.md worked example (not
    produced by this engine's exporter) reads correctly — including a
    remove action and URL-encoded paths."""
    import json

    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = tmp_path / "ext_delta"
    (root / "_delta_log").mkdir(parents=True)
    spark.createDataFrame([(1, "a b"), (2, "y")], "id long, v string").coalesce(
        1
    ).write.parquet(str(root / "part 1"))
    spark.createDataFrame([(3, "z")], "id long, v string").coalesce(1).write.parquet(
        str(root / "part2")
    )
    def one_parquet(d):
        return [f for f in os.listdir(d) if f.endswith(".parquet")][0]

    f1 = f"part%201/{one_parquet(root / 'part 1')}"
    f2 = f"part2/{one_parquet(root / 'part2')}"
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "v", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    v0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t-1", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema), "partitionColumns": [],
                      "configuration": {}}},
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": f2, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ]
    v1 = [
        {"remove": {"path": f2, "deletionTimestamp": 1, "dataChange": True}},
    ]
    for i, acts in enumerate((v0, v1)):
        with open(root / "_delta_log" / f"{i:020d}.json", "w") as fh:
            fh.write("\n".join(json.dumps(a) for a in acts) + "\n")

    assert sorted(map(tuple, read_delta(spark, str(root)).collect())) == [
        (1, "a b"), (2, "y")
    ]
    assert sorted(
        map(tuple, read_delta(spark, str(root), version=0).collect())
    ) == [(1, "a b"), (2, "y"), (3, "z")]


def test_delta_checkpoint_write_and_replay(spark, sf_dir, tmp_path):
    """Opt-in checkpointing: at the interval the exporter compacts the
    live state into NNN.checkpoint.parquet + _last_checkpoint, and
    read_delta resolves THROUGH the checkpoint (start = tail replay)
    to the same snapshot as pure-JSON replay."""
    import json

    from incubator_gobblin_spark.sources.delta_import import read_delta

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dlcp")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    log_dir = os.path.join(root, "_delta_log")
    for i, lo in enumerate((0, 2, 4)):
        part = df.filter(
            (F.col("r_regionkey") >= lo) & (F.col("r_regionkey") < lo + 2)
        )
        sink.write_staging(part, f"r{i}")
        sink.publish(f"r{i}")
        sink.export_delta_log(checkpoint_interval=2)
    assert os.path.exists(os.path.join(log_dir, "_last_checkpoint"))
    lc = json.load(open(os.path.join(log_dir, "_last_checkpoint")))
    assert lc["version"] == 2
    assert os.path.exists(
        os.path.join(log_dir, "00000000000000000002.checkpoint.parquet")
    )

    got = read_delta(spark, root)
    want = sink.read_committed(spark)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # a fourth commit lands as JSON tail past the checkpoint
    sink.write_staging(df.filter(F.col("r_regionkey") >= 6), "r3")
    sink.publish("r3")
    sink.export_delta_log(checkpoint_interval=2)
    got2 = read_delta(spark, root)
    assert sorted(map(tuple, got2.collect())) == sorted(
        map(tuple, sink.read_committed(spark).collect())
    )


def test_delta_export_tracks_rollback_and_compaction(spark, sf_dir, tmp_path):
    """The Delta view follows EVERY commit kind: a rollback_to restore
    exports as removes of the rolled-back files (replay = restored
    snapshot), and a compact_runs full rewrite exports as a
    remove-all/add-all version — replay still equals the live manifest."""
    from urllib.parse import unquote

    from incubator_gobblin_spark.sources.delta_import import read_delta

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dlrb")
    sink = _sink(root, table_type=TableType.APPEND_ONLY, delta_log=True)
    sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r1")
    sink.publish("r1")
    sink.write_staging(df.filter(F.col("r_regionkey") >= 3), "r2")
    sink.publish("r2")
    log_dir = os.path.join(root, "_delta_log")

    sink.rollback_to("r1")
    sink.export_delta_log()
    live, _, _ = _replay_delta(log_dir)
    committed = {e["file"] for e in sink.current_manifest()["entries"]}
    assert {unquote(p) for p in live} == committed
    got = read_delta(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, df.filter(F.col("r_regionkey") < 3).collect())
    )

    rid = sink.compact_runs(spark)
    sink.export_delta_log()
    live2, _, _ = _replay_delta(log_dir)
    committed2 = {e["file"] for e in sink.current_manifest()["entries"]}
    assert {unquote(p) for p in live2} == committed2
    assert all(f"_data/{rid}/" in unquote(p) for p in live2)
    assert sorted(map(tuple, read_delta(spark, root).collect())) == sorted(
        map(tuple, df.filter(F.col("r_regionkey") < 3).collect())
    )


def test_read_delta_many_partitions_single_scan_path(spark, tmp_path):
    """Past the union threshold the read becomes one scan + broadcast
    filename join; both plans return identical rows with typed
    partition columns."""
    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "dlmany")
    sink = _sink(root, partition_by=["g"], delta_log=True)
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 20).alias("g")
    )
    sink.write_staging(df, "r1")
    sink.publish("r1")

    fast = read_delta(spark, root)  # 20 groups > default threshold 16
    slow = read_delta(spark, root, union_threshold=1000)  # forced union plan
    a = sorted(map(tuple, fast.select("k", "g").collect()))
    b = sorted(map(tuple, slow.select("k", "g").collect()))
    assert a == b == [(i, i % 20) for i in range(200)]
    assert dict(fast.dtypes)["g"] == "bigint"  # typed partition restore
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "Union" not in plan


# ---------------------------------------------------------------------------
# Review-finding regressions (Delta surface)
# ---------------------------------------------------------------------------


def test_read_delta_null_partition_values(spark, tmp_path):
    """Adds with null partitionValues are legal; the union path must
    sort its group keys None-safely and inject a NULL partition col."""
    import json

    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = tmp_path / "dlnull"
    (root / "_delta_log").mkdir(parents=True)
    spark.createDataFrame([(1,)], "k long").coalesce(1).write.parquet(
        str(root / "a")
    )
    spark.createDataFrame([(2,)], "k long").coalesce(1).write.parquet(
        str(root / "b")
    )

    def pf(d):
        return [f for f in os.listdir(root / d) if f.endswith(".parquet")][0]

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True, "metadata": {}},
            {"name": "g", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
    acts = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": ["g"], "configuration": {}}},
        {"add": {"path": f"a/{pf('a')}", "partitionValues": {"g": "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": f"b/{pf('b')}", "partitionValues": {"g": None},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in acts) + "\n")
    got = sorted(
        map(tuple, read_delta(spark, str(root)).select("k", "g").collect())
    )
    assert got == [(1, "x"), (2, None)]


def test_read_delta_plus_in_partition_value_fast_path(spark, sf_dir, tmp_path):
    """A literal '+' in a partition value must survive the single-scan
    path's filename join (java URLDecoder would eat it as a space)."""
    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "dlplus")
    sink = _sink(root, partition_by=["g"], delta_log=True)
    df = spark.createDataFrame(
        [(1, "a+b"), (2, "c d"), (3, "plain")], "k long, g string"
    )
    sink.write_staging(df, "r1")
    sink.publish("r1")
    got = read_delta(spark, root, union_threshold=0)  # force the fast path
    assert sorted(map(tuple, got.select("k", "g").collect())) == [
        (1, "a+b"), (2, "c d"), (3, "plain")
    ]


def test_read_delta_multipart_checkpoint_and_schema_from_checkpoint(
    spark, sf_dir, tmp_path
):
    """PROTOCOL.md multi-part checkpoints resolve (parts field in
    _last_checkpoint), and a log whose JSON tail lost its metaData
    (delta-spark log cleanup) still yields the schema from the
    checkpoint — both for read_delta and the streaming table_schema."""
    import json

    from incubator_gobblin_spark.sources.delta_import import read_delta
    from incubator_gobblin_spark.sources.delta_stream import table_schema

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dlmp")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r1")
    sink.publish("r1")
    sink.export_delta_log()
    sink.write_staging(df.filter(F.col("r_regionkey") >= 3), "r2")
    sink.publish("r2")
    sink.export_delta_log(checkpoint_interval=1)  # checkpoint at v1
    log_dir = os.path.join(root, "_delta_log")

    # split the single-part checkpoint into two PROTOCOL-named parts
    import pyarrow.parquet as pq

    cp = os.path.join(log_dir, f"{1:020d}.checkpoint.parquet")
    t = pq.read_table(cp)
    os.remove(cp)
    pq.write_table(
        t.slice(0, 3),
        os.path.join(log_dir, f"{1:020d}.checkpoint.{1:010d}.{2:010d}.parquet"),
    )
    pq.write_table(
        t.slice(3),
        os.path.join(log_dir, f"{1:020d}.checkpoint.{2:010d}.{2:010d}.parquet"),
    )
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": t.num_rows, "parts": 2}, fh)
    # simulate delta-spark log cleanup: the pre-checkpoint JSON (which
    # held protocol+metaData) is gone
    os.remove(os.path.join(log_dir, f"{0:020d}.json"))

    got = read_delta(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    schema, parts = table_schema(root)
    assert set(schema.fieldNames()) == set(df.columns) and parts == []


def test_q123_repairs_missing_export_without_republish(spark):
    """The q123 cache guard must repair a missing _delta_log by
    re-exporting, never by re-publishing (which would double the
    table)."""
    import shutil

    from incubator_gobblin_spark.plans import queries as Q

    sf_dir = "/root/testdata/sf0.001"
    first = Q._REGISTRY["q123_delta_roundtrip_agg"][0](spark, sf_dir).toPandas()
    cache = Q._cache_dir("deltalake", sf_dir, "documents")
    shutil.rmtree(os.path.join(cache, "_delta_log"))
    second = Q._REGISTRY["q123_delta_roundtrip_agg"][0](spark, sf_dir).toPandas()
    a = first.sort_values("lang").reset_index(drop=True)
    b = second.sort_values("lang").reset_index(drop=True)
    assert a.equals(b)


# ---------------------------------------------------------------------------
# Lake-core review-finding regressions
# ---------------------------------------------------------------------------


def test_compact_runs_cas_rejects_concurrent_commit(spark, sf_dir, tmp_path, monkeypatch):
    """A commit landing between compaction's snapshot read and its
    publish must fail the compaction with ManifestConflictError — never
    be silently erased by the rewrite of the older snapshot."""
    from incubator_gobblin_spark.sinks.files import ManifestConflictError

    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "ccas", table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r1")
    sink.publish("r1")

    other = _sink(tmp_path / "ccas", table_type=TableType.APPEND_ONLY)
    orig = FileSink.write_staging
    hijacked = {"done": False}

    def hijack(self, d, rid):
        out = orig(self, d, rid)
        if not hijacked["done"] and rid.startswith("compact"):
            hijacked["done"] = True
            # a concurrent append commits while compaction is staging
            orig(other, df.filter(F.col("r_regionkey") >= 3), "r2")
            other.publish("r2")
        return out

    monkeypatch.setattr(FileSink, "write_staging", hijack)
    with pytest.raises(ManifestConflictError):
        sink.compact_runs(spark, run_id="compact-x")
    # the concurrent commit's rows are alive and well
    assert sink.read_committed(spark).count() == df.count()


def test_vacuum_grace_window_protects_inflight_runs(spark, sf_dir, tmp_path):
    """An unreferenced-but-YOUNG run dir (a concurrent publish that
    moved staging but hasn't swapped the pointer yet) survives vacuum;
    grace_seconds=0 restores the old eager behavior."""
    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "vgrace")
    sink.write_staging(df, "r1")
    sink.publish("r1")
    inflight = os.path.join(str(tmp_path / "vgrace"), "_data", "inflight-run")
    os.makedirs(inflight)
    open(os.path.join(inflight, "part-0.parquet"), "w").close()

    stats = sink.vacuum(keep_last=1)  # default grace: young dir survives
    assert stats["runs_deleted"] == 0
    assert os.path.isdir(inflight)
    stats = sink.vacuum(keep_last=1, grace_seconds=0)
    assert not os.path.isdir(inflight)


def test_read_committed_empty_snapshot_raises_cleanly(spark, tmp_path):
    """A snapshot with ZERO data files (a publish whose run produced no
    part files — possible when an engine writes nothing for an empty
    frame) reads as a clean FileNotFoundError, never a RecursionError.
    A delete-all merge whose files are empty-but-present still reads as
    a typed empty frame."""
    sink = _sink(tmp_path / "empty")
    os.makedirs(sink.staging_dir("r0"))  # zero part files staged
    sink.publish("r0")
    with pytest.raises(FileNotFoundError, match="empty"):
        sink.read_committed(spark)

    sink2 = _sink(tmp_path / "empty2")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    sink2.write_staging(df, "r1")
    sink2.publish("r1")
    dels = df.withColumn("op", F.lit("delete"))
    sink2.merge_into(spark, dels, on=["k"], run_id="m1", op_col="op")
    out = sink2.read_committed(spark)
    assert out.count() == 0
    assert set(out.columns) == {"k", "v"}


def test_zorder_many_columns_stays_in_long_range(spark, tmp_path):
    """5 z-order columns shrink per-column bits so no interleaved bit
    reaches the sign bit or wraps past 63 — rows round-trip exactly and
    pruning on a minor column still prunes."""
    sink = _sink(
        tmp_path / "z5",
        zorder_by=["a", "b", "c", "d", "e"],
        max_records_per_file=50,
    )
    df = spark.range(400).select(
        *[
            ((F.col("id") * (i + 3)) % 97).alias(c)
            for i, c in enumerate(["a", "b", "c", "d", "e"])
        ]
    )
    sink.write_staging(df, "r1")
    sink.publish("r1")
    got = sink.read_committed(spark)
    assert got.count() == 400
    kept, total = sink.pruned_file_count([("e", ">=", 90)])
    assert kept < total  # the minor column still prunes under 12-bit buckets


def test_bloom_bits_word_aligned(spark, tmp_path):
    """A bloom_bits that isn't a multiple of 64 must not produce
    out-of-buffer probes: the filter is built word-aligned and point
    reads stay exact."""
    sink = _sink(tmp_path / "bb", bloom_cols=["k"], bloom_bits=1230)
    df = spark.range(500).select(F.col("id").alias("k"))
    sink.write_staging(df, "r1")
    sink.publish("r1")
    for probe in (0, 123, 499, 10**9):
        got = sink.read_committed(spark, filters=[("k", "=", probe)]).collect()
        assert {r["k"] for r in got} == ({probe} if probe < 500 else set())


def test_symlink_export_sweeps_crashed_tmp_files(spark, sf_dir, tmp_path):
    """A crashed exporter's .manifest.tmp-* leftovers are swept by the
    next export instead of accumulating forever."""
    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "sym", symlink_manifest=True)
    sink.write_staging(df, "r1")
    sink.publish("r1")
    root = os.path.join(str(tmp_path / "sym"), "_symlink_format_manifest")
    stale = os.path.join(root, ".manifest.tmp-99999")
    open(stale, "w").close()
    sink.export_symlink_manifest()
    assert not os.path.exists(stale)
    assert os.path.exists(os.path.join(root, "manifest"))


def test_pruned_file_count_empty_lake_raises(tmp_path):
    sink = _sink(tmp_path / "nofiles")
    with pytest.raises(FileNotFoundError):
        sink.pruned_file_count([("k", "=", 1)])


def test_rename_mode_skips_bloom_sidecar(spark, tmp_path):
    """bloom_cols with commit_mode='rename' must not pay the sidecar
    aggregation: rename publish can never use it."""
    from incubator_gobblin_spark.sinks.files import FileSink

    sink = FileSink(
        path=str(tmp_path / "ren"), commit_mode="rename", bloom_cols=["k"]
    )
    df = spark.range(10).select(F.col("id").alias("k"))
    staging = sink.write_staging(df, "r1")
    assert not os.path.exists(os.path.join(staging, "_blooms.json"))


def test_delta_export_commit_file_race_recomputes_at_next_version(
    spark, sf_dir, tmp_path, monkeypatch
):
    """PROTOCOL.md put-if-absent: when a competing exporter lands the
    same version number between our replay and our publish, the link
    fails with EEXIST and the exporter re-replays — now seeing the
    winner's commit — and lands its diff at the NEXT version. Neither
    commit is shadowed."""
    import json

    from incubator_gobblin_spark.sources import delta_import as DI
    from incubator_gobblin_spark.sources.delta_import import read_delta

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dlrace")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 3), "r1")
    sink.publish("r1")
    log_dir = sink.export_delta_log()  # v0

    sink.write_staging(df.filter(F.col("r_regionkey") >= 3), "r2")
    sink.publish("r2")

    real_log_versions = DI._log_versions
    injected = {"done": False}

    def racing_log_versions(d):
        out = real_log_versions(d)
        if not injected["done"]:
            injected["done"] = True
            # a competing exporter wins version len(out) right after
            # our replay listed the log
            v = os.path.join(d, f"{len(out):020d}.json")
            with open(v, "w") as fh:
                fh.write(json.dumps({"commitInfo": {
                    "timestamp": 0, "operation": "WRITE",
                    "engineInfo": "competing exporter"}}) + "\n")
        return out

    monkeypatch.setattr(DI, "_log_versions", racing_log_versions)
    sink.export_delta_log()
    monkeypatch.undo()

    versions = real_log_versions(log_dir)
    assert versions == [0, 1, 2]  # v1 = the competitor, v2 = our retry
    competitor = open(os.path.join(log_dir, f"{1:020d}.json")).read()
    assert "competing exporter" in competitor  # winner never overwritten
    got = read_delta(spark, root)
    want = sink.read_committed(spark)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_delta_checkpoint_carries_remove_tombstones(spark, sf_dir, tmp_path):
    """A checkpoint must carry the un-expired remove tombstones from
    the replayed state (PROTOCOL.md checkpoint-files): a foreign engine
    that trusts _last_checkpoint keeps vacuum-safety visibility. A
    later re-add of the same path clears its tombstone."""
    import json

    import pyarrow.parquet as pq

    from incubator_gobblin_spark.sources.delta_import import read_delta

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dltomb")
    sink = _sink(root, table_type=TableType.SNAPSHOT_ONLY)
    sink.write_staging(df.filter(F.col("r_regionkey") < 2), "r1")
    sink.publish("r1")
    sink.export_delta_log()  # v0: adds only
    v0_adds = set(_replay_delta(os.path.join(root, "_delta_log"))[0])

    sink.write_staging(df.filter(F.col("r_regionkey") >= 2), "r2")
    sink.publish("r2")  # snapshot replace: r1's files become removes
    log_dir = sink.export_delta_log(checkpoint_interval=1)  # checkpoint @ v1

    cp = os.path.join(log_dir, "00000000000000000001.checkpoint.parquet")
    assert os.path.exists(cp)
    table = pq.read_table(cp)
    assert "remove" in table.column_names
    removes = [r for r in table.column("remove").to_pylist() if r is not None]
    assert {r["path"] for r in removes} == v0_adds
    assert all(
        r["deletionTimestamp"] is not None and r["dataChange"] is True
        for r in removes
    )
    adds = [a for a in table.column("add").to_pylist() if a is not None]
    lc = json.load(open(os.path.join(log_dir, "_last_checkpoint")))
    assert lc["size"] == len(adds) + len(removes) + 2

    # replay THROUGH the checkpoint still equals the committed snapshot
    got = read_delta(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, sink.read_committed(spark).collect())
    )

    # a third snapshot re-adding v0's rows clears their tombstones in
    # the next checkpoint (state carries no stale remove for a live add)
    sink.write_staging(df, "r3")
    sink.publish("r3")
    sink.export_delta_log(checkpoint_interval=1)  # checkpoint @ v2
    cp2 = os.path.join(log_dir, "00000000000000000002.checkpoint.parquet")
    t2 = pq.read_table(cp2)
    live2 = {
        a["path"] for a in t2.column("add").to_pylist() if a is not None
    }
    tombs2 = {
        r["path"] for r in t2.column("remove").to_pylist() if r is not None
    }
    assert not (live2 & tombs2)


def test_merge_into_respects_caller_persisted_source(spark, sf_dir, tmp_path):
    """merge_into only manages a cache it created: a caller-persisted
    source frame stays persisted after the merge (the caller owns its
    own reuse), while an unpersisted source is left unpersisted."""
    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "mcache")
    sink.write_staging(df, "base")
    sink.publish("base")

    src = df.limit(2).withColumn("r_comment", F.lit("caller-cached"))
    src.persist()
    try:
        sink.merge_into(spark, src, on=["r_regionkey"], run_id="m1")
        assert src.storageLevel.useMemory  # caller's cache untouched
    finally:
        src.unpersist()

    src2 = df.limit(1).withColumn("r_comment", F.lit("engine-managed"))
    sink.merge_into(spark, src2, on=["r_regionkey"], run_id="m2")
    assert not (src2.storageLevel.useMemory or src2.storageLevel.useDisk)


def test_delta_export_carries_per_file_stats(spark, sf_dir, tmp_path):
    """add.stats (PROTOCOL.md Per-file Statistics): numRecords equals
    the file's true row count and minValues/maxValues match the parquet
    footer truth — the metadata a foreign Delta reader file-skips on.
    Timestamp stats use the 'T' separator form."""
    import json
    from urllib.parse import unquote

    import pyarrow.parquet as pq

    docs = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    root = str(tmp_path / "dlstats")
    sink = _sink(root)
    sink.write_staging(docs, "r1")
    sink.publish("r1")
    log_dir = sink.export_delta_log(checkpoint_interval=None)
    live, _, _ = _replay_delta(log_dir)
    assert live
    for p, add in live.items():
        st = json.loads(add["stats"])
        fp = os.path.join(root, unquote(p))
        md = pq.ParquetFile(fp).metadata
        assert st["numRecords"] == md.num_rows
        assert st["minValues"]["event_id"] <= st["maxValues"]["event_id"]
        # nullCount from the footer truth (IS NULL pruning metadata)
        assert st["nullCount"]["event_id"] == 0
        # timestamp stats must be 'T'-separated ISO (parseable by
        # foreign readers), never the space form the manifest stores
        if "ts" in st["minValues"]:
            assert "T" in st["minValues"]["ts"]
            assert " " not in st["minValues"]["ts"].split(".")[0]


def test_delta_checkpoint_carries_stats_column(spark, sf_dir, tmp_path):
    """The checkpoint parquet's add struct includes the stats string, so
    a reader trusting _last_checkpoint keeps file-skipping metadata."""
    import json

    import pyarrow.parquet as pq

    df = load_table(spark, sf_dir, "region")
    sink = _sink(tmp_path / "dlcp", table_type=TableType.APPEND_ONLY)
    for i in range(3):
        sink.write_staging(df.filter(F.col("r_regionkey") % 3 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_delta_log(checkpoint_interval=2)
    cp = [f for f in os.listdir(os.path.join(str(tmp_path / "dlcp"), "_delta_log"))
          if f.endswith(".checkpoint.parquet")]
    assert cp
    tbl = pq.read_table(
        os.path.join(str(tmp_path / "dlcp"), "_delta_log", cp[0])
    )
    adds = [a for a in tbl.column("add").to_pylist() if a is not None]
    assert adds and all(
        a["stats"] and json.loads(a["stats"])["numRecords"] > 0 for a in adds
    )


def test_read_delta_filters_prune_files_and_stay_correct(
    spark, sf_dir, tmp_path
):
    """Metadata-level file skipping over the exported Delta log:
    partition equality and a stats range provably shrink the live set;
    pruned read + row filter equals unpruned read + row filter."""
    from incubator_gobblin_spark.sources.delta_import import (
        _replay_state,
        prune_adds,
        read_delta,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = str(tmp_path / "dprune")
    sink = _sink(root, partition_by=["source"])
    sink.write_staging(docs, "r1")
    sink.publish("r1")
    log_dir = sink.export_delta_log()

    live, meta, _ = _replay_state(log_dir, None)
    assert len(live) > 1
    one_source = docs.select("source").first()["source"]
    part_pruned = prune_adds(live, [("source", "=", one_source)], ["source"])
    assert 0 < len(part_pruned) < len(live)
    assert prune_adds(live, [("doc_id", ">", 10**12)], ["source"]) == {}

    cut = int(docs.agg(F.expr("percentile(doc_id, 0.9)")).first()[0])
    flt = [("source", "=", one_source), ("doc_id", ">", cut)]
    pruned_df = read_delta(spark, root, filters=flt).filter(
        (F.col("source") == one_source) & (F.col("doc_id") > cut)
    )
    full_df = read_delta(spark, root).filter(
        (F.col("source") == one_source) & (F.col("doc_id") > cut)
    )
    assert sorted(map(tuple, pruned_df.collect())) == sorted(
        map(tuple, full_df.collect())
    )


def test_delta_log_expiration_and_post_cleanup_exports(spark, sf_dir, tmp_path):
    """expire_delta_log deletes pre-checkpoint commits/checkpoints;
    replay from _last_checkpoint + tail still equals the committed
    state; time travel to pruned versions raises; and a FURTHER export
    allocates newest+1 (a sparse version list must not collide the
    put-if-absent loop)."""
    import pytest as _pytest

    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        read_delta,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dexp")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(4):
        sink.write_staging(df.filter(F.col("r_regionkey") % 4 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_delta_log(checkpoint_interval=2)
    log_dir = os.path.join(root, "_delta_log")
    # checkpoints exist at v2 (and _last_checkpoint points at the newest)
    before = sorted(_log_versions(log_dir))
    assert before == [0, 1, 2, 3]

    n = sink.expire_delta_log()
    assert n > 0
    after = sorted(_log_versions(log_dir))
    assert after[0] == 2  # pre-checkpoint commits gone, checkpoint kept
    got = read_delta(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, sink.read_committed(spark).collect())
    )
    with _pytest.raises(FileNotFoundError, match="not present"):
        read_delta(spark, root, version=0)

    # export after expiration: version allocates newest+1, no collision
    sink.write_staging(
        df.limit(1).withColumn("r_regionkey", F.col("r_regionkey") + 50), "r9"
    )
    sink.publish("r9")
    sink.export_delta_log()
    assert sorted(_log_versions(log_dir))[-1] == 4
    got2 = read_delta(spark, root)
    assert got2.count() == sink.read_committed(spark).count()

    # no checkpoint -> no-op
    root2 = str(tmp_path / "dexp2")
    s2 = _sink(root2)
    s2.write_staging(df, "r1")
    s2.publish("r1")
    s2.export_delta_log()
    assert s2.expire_delta_log() == 0


def test_delta_stream_truncated_log_semantics(spark, sf_dir, tmp_path):
    """After expire_delta_log: a stream whose CHECKPOINTED offset
    predates the surviving chain must RAISE (delta-spark's
    version-not-found behavior), never silently skip the pruned
    versions' rows — but a brand-new earliest stream (offset -1) is
    served the checkpoint snapshot as its first batch, exactly how
    real delta-spark starts a fresh stream from the current snapshot
    on a retained table."""
    import pytest as _pytest

    from incubator_gobblin_spark.sources.delta_stream import (
        DeltaStreamReader,
        table_schema,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "dstrunc")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(4):
        sink.write_staging(df.filter(F.col("r_regionkey") % 4 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_delta_log(checkpoint_interval=2)
    assert sink.expire_delta_log() > 0

    schema, part_cols = table_schema(root)
    reader = DeltaStreamReader({"path": root}, schema, part_cols)
    # checkpointed offset 0 predates the surviving chain -> raise
    with _pytest.raises(ValueError, match="log retention"):
        reader.partitions({"version": 0}, {"version": 3})
    # fresh earliest stream -> the checkpoint snapshot IS batch 0:
    # all live files, rows complete across every expired version
    parts = reader.partitions({"version": -1}, {"version": 3})
    assert parts and all(p.path and os.path.exists(p.path) for p in parts)
    rows = sum(1 for p in parts for _ in reader.read(p))
    assert rows == df.count()
    # an offset inside the surviving chain still streams the tail
    parts = reader.partitions({"version": 2}, {"version": 3})
    assert parts and parts[0].path


def test_iceberg_expire_refuses_to_drop_current_snapshot(
    spark, sf_dir, tmp_path
):
    """A rolled-back table (current-snapshot-id older than the newest)
    must make expiration REFUSE, never expire the snapshot readers are
    on (iceberg-core RemoveSnapshots contract)."""
    import pytest as _pytest

    import json

    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
        expire_iceberg_snapshots,
    )

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "icb-roll")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(2):
        sink.write_staging(df.filter(F.col("r_regionkey") % 2 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_iceberg()
    meta_dir = os.path.join(root, "metadata")
    v = _metadata_versions(meta_dir)[-1]
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    meta["current-snapshot-id"] = meta["snapshots"][0]["snapshot-id"]
    with open(os.path.join(meta_dir, f"v{v + 1}.metadata.json"), "w") as fh:
        json.dump(meta, fh)  # simulate a foreign rollback
    with _pytest.raises(ValueError, match="CURRENT snapshot"):
        expire_iceberg_snapshots(sink, keep_last=1)


def test_delta_last_checkpoint_never_regresses(spark, sf_dir, tmp_path):
    """A slow exporter finishing an OLDER checkpoint after a newer one
    landed must not point _last_checkpoint backwards (after expiration
    the older checkpoint file may not even exist anymore)."""
    import json as _json

    from incubator_gobblin_spark.sinks.delta_export import _write_delta_checkpoint

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "lcreg")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    for i in range(4):
        sink.write_staging(df.filter(F.col("r_regionkey") % 4 == i), f"r{i}")
        sink.publish(f"r{i}")
        sink.export_delta_log(checkpoint_interval=2)
    log_dir = os.path.join(root, "_delta_log")
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        newest = int(_json.load(fh)["version"])
    # the straggler: re-write an older checkpoint version
    _write_delta_checkpoint(log_dir, newest - 2, [], None,
                            {"minReaderVersion": 1, "minWriterVersion": 2})
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        assert int(_json.load(fh)["version"]) == newest  # not regressed


def test_delta_multipart_checkpoint_roundtrip(spark, sf_dir, tmp_path):
    """checkpoint_part_size splits the checkpoint into the spec's
    {v}.checkpoint.{i}.{n}.parquet form; _last_checkpoint advertises
    parts and the replay (which already consumed that form) equals the
    committed state."""
    import json as _json

    from incubator_gobblin_spark.sources.delta_import import read_delta

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    root = str(tmp_path / "mpcp")
    sink = _sink(root, partition_by=["source"],
                 table_type=TableType.APPEND_ONLY)
    sink.write_staging(docs.filter(F.col("doc_id") % 2 == 0), "r0")
    sink.publish("r0")
    sink.export_delta_log()
    sink.write_staging(docs.filter(F.col("doc_id") % 2 == 1), "r1")
    sink.publish("r1")
    sink.export_delta_log(checkpoint_interval=1, checkpoint_part_size=3)

    log_dir = os.path.join(root, "_delta_log")
    with open(os.path.join(log_dir, "_last_checkpoint")) as fh:
        lc = _json.load(fh)
    assert lc.get("parts", 0) >= 2
    part_files = [
        f for f in os.listdir(log_dir)
        if ".checkpoint." in f and f.endswith(".parquet")
    ]
    assert len(part_files) == lc["parts"]
    got = read_delta(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, sink.read_committed(spark).collect())
    )


# ---------------------------------------------------------------------------
# Delta reader-protocol gate (PROTOCOL.md Reader Requirements) and
# Iceberg hidden-partitioning acceptance
# ---------------------------------------------------------------------------


def _append_delta_commit(root, actions):
    """Append one commit JSON the way a foreign writer would."""
    import json

    from incubator_gobblin_spark.sources.delta_import import _log_versions

    log_dir = os.path.join(root, "_delta_log")
    v = _log_versions(log_dir)[-1] + 1
    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
        for act in actions:
            fh.write(json.dumps(act) + "\n")


def _delta_table(spark, sf_dir, tmp_path, name):
    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / name)
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_delta_log()
    return root, df


def test_read_delta_refuses_unsupported_reader_features(
    spark, sf_dir, tmp_path
):
    """A v3 protocol listing a feature this reader does not implement
    (variantType — a shredded physical encoding) must REFUSE the
    read — ignoring it risks misreading the log. A v3 protocol listing
    only supported features (timestampNtz, deletionVectors,
    v2Checkpoint) still reads."""
    import pytest as _pytest

    from incubator_gobblin_spark.sources.delta_import import read_delta

    root, df = _delta_table(spark, sf_dir, tmp_path, "dproto")
    _append_delta_commit(
        root,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["variantType"],
                       "writerFeatures": ["variantType"]}}],
    )
    with _pytest.raises(ValueError, match="variantType"):
        read_delta(spark, root)
    # time travel BEFORE the upgrade still reads (protocol then was v1)
    assert read_delta(spark, root, version=0).count() == df.count()

    root2, df2 = _delta_table(spark, sf_dir, tmp_path, "dproto-ok")
    _append_delta_commit(
        root2,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["timestampNtz"],
                       "writerFeatures": ["timestampNtz"]}}],
    )
    assert read_delta(spark, root2).count() == df2.count()


def test_column_mapping_stream_nested_resolves_and_id_needs_ids(
    spark, sf_dir, tmp_path
):
    """Column mapping guards: the STREAM source resolves both
    top-level AND nested mappings (nested struct values reshape to
    logical member names — _logicalize_value); the batch reader takes
    mode=name, and mode=id only when every field carries a
    delta.columnMapping.id (matching by name would misread)."""
    import json

    import pytest as _pytest

    from incubator_gobblin_spark.sources.delta_import import read_delta
    from incubator_gobblin_spark.sources.delta_stream import (
        _logicalize_value,
        table_schema,
    )

    root, df = _delta_table(spark, sf_dir, tmp_path, "dcolmap")
    meta = {
        "id": "t", "format": {"provider": "parquet", "options": {}},
        "schemaString": json.dumps(
            {"type": "struct", "fields": [
                {"name": "r_regionkey", "type": "long",
                 "nullable": True, "metadata": {}}]}
        ),
        "partitionColumns": [], "configuration":
            {"delta.columnMapping.mode": "name"}, "createdTime": 0,
    }
    _append_delta_commit(root, [{"metaData": meta}])
    # stream: top-level mapping resolves (identity physical names here)
    schema, _ = table_schema(root)
    assert schema.fieldNames() == ["r_regionkey"]
    # stream: NESTED mapping resolves too — the declared schema stays
    # logical and the value walk re-keys physical member names
    nested_type = {"type": "struct", "fields": [
        {"name": "inner", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-in"}},
        {"name": "tags", "nullable": True, "metadata": {},
         "type": {"type": "array", "containsNull": True,
                  "elementType": {"type": "struct", "fields": [
                      {"name": "t", "type": "string", "nullable": True,
                       "metadata": {
                           "delta.columnMapping.physicalName": "col-t"
                       }}]}}}]}
    meta_nested = dict(meta)
    meta_nested["schemaString"] = json.dumps(
        {"type": "struct", "fields": [
            {"name": "s", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-s"},
             "type": nested_type}]}
    )
    _append_delta_commit(root, [{"metaData": meta_nested}])
    schema2, _ = table_schema(root)
    assert schema2.fieldNames() == ["s"]
    assert schema2["s"].dataType["inner"].dataType.simpleString() == "bigint"
    # the value walk: physical keys in, logical keys out; null stays null
    assert _logicalize_value(
        {"col-in": 7, "tags": [{"col-t": "x"}, None]}, nested_type
    ) == {"inner": 7, "tags": [{"t": "x"}, None]}
    assert _logicalize_value(None, nested_type) is None
    _append_delta_commit(root, [{"metaData": meta}])  # restore
    # batch: mode=name with identity physical names reads fine
    assert read_delta(spark, root).count() == df.count()
    # mode=id WITHOUT per-field ids refuses loudly (never name-match)
    meta_id = dict(meta)
    meta_id["configuration"] = {"delta.columnMapping.mode": "id"}
    _append_delta_commit(root, [{"metaData": meta_id}])
    with _pytest.raises(ValueError, match="delta.columnMapping.id"):
        read_delta(spark, root)


def test_deltastream_column_mapped_table_streams_logical(spark, tmp_path):
    """A top-level column-mapped Delta table STREAMS: physical
    col-<uuid> parquet names and physical partitionValues keys come
    back as logical typed columns — the delta-spark behavior for the
    Databricks-era table default."""
    import json

    from incubator_gobblin_spark.sources.delta_stream import register

    root = str(tmp_path / "colmap-stream")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    physical = spark.createDataFrame(
        [(1, "en", 10), (2, "de", 20), (3, "en", 30)],
        "`col-a` long, `col-b` string, `col-c` long",
    )
    out_dir = os.path.join(root, "data", "w")
    physical.select("col-a", "col-c").coalesce(1).write.parquet(out_dir)
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
        {"name": "lang", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-b"}},
        {"name": "n", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "col-c"}},
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": ["lang"],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0,
        }},
        {"add": {"path": "data/f1.parquet",
                 "partitionValues": {"col-b": "en"},
                 "size": os.path.getsize(fp), "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in actions:
            fh.write(json.dumps(act) + "\n")

    register(spark)
    out = str(tmp_path / "cm-out")
    cp = str(tmp_path / "cm-cp")
    q = (
        spark.readStream.format("deltastream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["doc_id", "lang", "n"]
    assert sorted(map(tuple, got.select("doc_id", "lang", "n").collect())) == [
        (1, "en", 10),
        (2, "en", 20),
        (3, "en", 30),
    ]


def test_deltastream_nested_column_mapped_table_streams_logical(
    spark, tmp_path
):
    """A NESTED column-mapped table STREAMS: struct values whose
    parquet members carry physical col-<uuid> names come back reshaped
    to the logical member names (the batch reader's _logical_expr
    semantics, done as an executor-side value walk)."""
    import json

    from incubator_gobblin_spark.sources.delta_stream import register

    root = str(tmp_path / "colmap-nested-stream")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    physical = spark.createDataFrame(
        [(1, (10, "a")), (2, (20, "b")), (3, None)],
        "`col-k` long, `col-s` struct<`col-in`: long, `col-t`: string>",
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
        {"name": "k", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "col-k"}},
        {"name": "s", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "col-s"},
         "type": {"type": "struct", "fields": [
             {"name": "inner", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 3,
                           "delta.columnMapping.physicalName": "col-in"}},
             {"name": "tag", "type": "string", "nullable": True,
              "metadata": {"delta.columnMapping.id": 4,
                           "delta.columnMapping.physicalName": "col-t"}},
         ]}},
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0,
        }},
        {"add": {"path": "data/f1.parquet", "partitionValues": {},
                 "size": os.path.getsize(fp), "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in actions:
            fh.write(json.dumps(act) + "\n")

    register(spark)
    out = str(tmp_path / "cmn-out")
    cp = str(tmp_path / "cmn-cp")
    q = (
        spark.readStream.format("deltastream")
        .option("path", root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(got.columns) == ["k", "s"]
    rows = {r.k: r.s for r in got.collect()}
    assert rows[1].inner == 10 and rows[1].tag == "a"
    assert rows[2].inner == 20 and rows[2].tag == "b"
    assert rows[3] is None  # null struct stays null, not struct-of-nulls


def test_deltastream_reader_opens_with_one_log_replay(tmp_path, monkeypatch):
    """Opening a deltastream reader replays the Delta log ONCE, and its
    physical names, partition columns and nested mapped types all come
    from that replay's column layout."""
    import json

    from incubator_gobblin_spark.sources import delta_import
    from incubator_gobblin_spark.sources.delta_stream import (
        DeltaStreamDataSource,
    )

    root = str(tmp_path / "colmap-open")
    os.makedirs(os.path.join(root, "_delta_log"))
    inner = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-x"}}]}
    fields = [
        {"name": "s", "type": inner, "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-s"}},
        {"name": "p", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-p"}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "t", "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(
                    {"type": "struct", "fields": fields}),
                "partitionColumns": ["p"],
                "configuration": {"delta.columnMapping.mode": "name"},
                "createdTime": 0,
            }},
        ]:
            fh.write(json.dumps(act) + "\n")

    source = DeltaStreamDataSource({"path": root})
    schema = source.schema()
    calls = []
    real = delta_import._replay_state

    def counting(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(delta_import, "_replay_state", counting)
    reader = source.streamReader(schema)
    assert len(calls) == 1
    assert reader.phys_of == {"s": "col-s", "p": "col-p"}
    assert reader.part_cols == ["p"]
    assert reader.nested_types == {"s": inner}


def test_read_delta_column_mapping_name_mode(spark, sf_dir, tmp_path):
    """A foreign column-mapped table (mode=name — the Databricks-era
    default): parquet files and partitionValues carry PHYSICAL
    col-<uuid> names; read_delta must resolve through
    delta.columnMapping.physicalName and return LOGICAL columns,
    partition restore and metadata pruning included."""
    import json

    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "colmap-real")
    os.makedirs(os.path.join(root, "_delta_log"))
    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    # write the data the way a mapped writer would: physical names,
    # hive-partitioned on the PHYSICAL partition column name
    phys = {"n_nationkey": "col-aaa1", "n_name": "col-bbb2",
            "n_regionkey": "col-ccc3"}
    physical = df.select(
        *[F.col(c).alias(p) for c, p in phys.items()]
    )
    data_dir = os.path.join(root, "data")
    physical.write.partitionBy("col-ccc3").parquet(data_dir)
    fields = [
        {"name": c, "type": "long" if c != "n_name" else "string",
         "nullable": True,
         "metadata": {"delta.columnMapping.id": i + 1,
                      "delta.columnMapping.physicalName": phys[c]}}
        for i, c in enumerate(("n_nationkey", "n_name", "n_regionkey"))
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": ["n_regionkey"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
            "createdTime": 0,
        }},
    ]
    for dirpath, _, names in os.walk(data_dir):
        for n in names:
            if not n.endswith(".parquet"):
                continue
            fp = os.path.join(dirpath, n)
            rel = os.path.relpath(fp, root)
            rk = dirpath.split("col-ccc3=")[-1]
            actions.append({"add": {
                "path": rel.replace(os.sep, "/"),
                "partitionValues": {"col-ccc3": rk},
                "size": os.path.getsize(fp), "modificationTime": 0,
                "dataChange": True,
            }})
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in actions:
            fh.write(json.dumps(act) + "\n")

    got = read_delta(spark, root)
    assert sorted(got.columns) == sorted(df.columns)  # LOGICAL names
    assert sorted(map(tuple, got.select(*df.columns).collect())) == sorted(
        map(tuple, df.collect())
    )
    # filters arrive logical; pruning maps them to physical stats keys
    got_f = read_delta(spark, root, filters=[("n_regionkey", "=", 2)])
    assert got_f.filter(F.col("n_regionkey") == 2).count() == df.filter(
        F.col("n_regionkey") == 2
    ).count()


def test_read_delta_column_mapping_nested_name_mode(spark, tmp_path):
    """Nested column mapping (mode=name): physical names recurse into
    struct members, array elements, and map values; read_delta must
    rebuild the logical shape exactly — with a NULL struct staying
    null (a naive F.struct rename would fabricate a struct of
    nulls)."""
    import json

    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "colmap-nested")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    # the physical file, written the way a mapped writer would lay it
    # out: renamed struct members at every level
    physical = spark.createDataFrame(
        [
            (1, (10, "a"), [(1,), (2,)], {"k": (5,)}),
            (2, None, [], {}),
        ],
        "id long, `col-top` struct<`col-in`: long, `col-nm`: string>, "
        "`col-arr` array<struct<`col-e`: long>>, "
        "`col-map` map<string, struct<`col-v`: long>>",
    )
    out_dir = os.path.join(root, "data", "w")
    physical.coalesce(1).write.parquet(out_dir)
    part = next(
        f for f in os.listdir(out_dir)
        if f.endswith(".parquet") and not f.startswith("_")
    )
    fp = os.path.join(root, "data", "f1.parquet")
    os.rename(os.path.join(out_dir, part), fp)
    struct_t = {
        "type": "struct",
        "fields": [
            {"name": "inner", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-in"}},
            {"name": "nm", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-nm"}},
        ],
    }
    elem_t = {
        "type": "struct",
        "fields": [
            {"name": "e", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-e"}},
        ],
    }
    val_t = {
        "type": "struct",
        "fields": [
            {"name": "v", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-v"}},
        ],
    }
    fields = [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "s", "type": struct_t, "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-top"}},
        {"name": "arr", "type": {"type": "array", "elementType": elem_t,
                                 "containsNull": True},
         "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-arr"}},
        {"name": "m", "type": {"type": "map", "keyType": "string",
                               "valueType": val_t,
                               "valueContainsNull": True},
         "nullable": True,
         "metadata": {"delta.columnMapping.physicalName": "col-map"}},
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 0,
        }},
        {"add": {"path": "data/f1.parquet", "partitionValues": {},
                 "size": os.path.getsize(fp), "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in actions:
            fh.write(json.dumps(act) + "\n")

    got = read_delta(spark, root)
    assert got.columns == ["id", "s", "arr", "m"]
    rows = {r.id: r for r in got.collect()}
    assert rows[1].s.inner == 10 and rows[1].s.nm == "a"
    assert [x.e for x in rows[1].arr] == [1, 2]
    assert rows[1].m["k"].v == 5
    assert rows[2].s is None  # null struct stays null
    assert rows[2].arr == [] and rows[2].m == {}


def test_read_delta_column_mapping_id_mode(spark, sf_dir, tmp_path):
    """mode=id (PROTOCOL.md §Column Mapping): physical columns are
    matched by parquet FIELD ID, never by name — physical names here
    are deliberately unrelated AND reordered, so a name-based match
    would misread or null every column. Resolved through Spark's
    native field-id matching (parquet.field.id read schema metadata),
    nested struct members included."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "colmap-id")
    os.makedirs(os.path.join(root, "_delta_log"))
    os.makedirs(os.path.join(root, "data"))
    df = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    pdf = df.toPandas()
    # physical file: scrambled names, swapped column ORDER, field ids,
    # plus a nested struct whose member also resolves by id
    schema = pa.schema(
        [
            pa.field("p2", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
            pa.field("p3", pa.int64(),
                     metadata={b"PARQUET:field_id": b"3"}),
            pa.field("p1", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field(
                "p4",
                pa.struct(
                    [pa.field("p5", pa.int64(),
                              metadata={b"PARQUET:field_id": b"5"})]
                ),
                metadata={b"PARQUET:field_id": b"4"},
            ),
        ]
    )
    table = pa.table(
        {
            "p2": pdf["n_name"],
            "p3": pdf["n_regionkey"].astype("int64"),
            "p1": pdf["n_nationkey"].astype("int64"),
            "p4": [{"p5": int(v) * 10} for v in pdf["n_nationkey"]],
        },
        schema=schema,
    )
    fp = os.path.join(root, "data", "f1.parquet")
    pq.write_table(table, fp)
    fields = [
        {"name": "n_nationkey", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 1,
                      "delta.columnMapping.physicalName": "p1"}},
        {"name": "n_name", "type": "string", "nullable": True,
         "metadata": {"delta.columnMapping.id": 2,
                      "delta.columnMapping.physicalName": "p2"}},
        {"name": "n_regionkey", "type": "long", "nullable": True,
         "metadata": {"delta.columnMapping.id": 3,
                      "delta.columnMapping.physicalName": "p3"}},
        {"name": "s", "nullable": True,
         "metadata": {"delta.columnMapping.id": 4,
                      "delta.columnMapping.physicalName": "p4"},
         "type": {"type": "struct", "fields": [
             {"name": "tenx", "type": "long", "nullable": True,
              "metadata": {"delta.columnMapping.id": 5,
                           "delta.columnMapping.physicalName": "p5"}}]}},
    ]
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "t", "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "5"},
            "createdTime": 0,
        }},
        {"add": {"path": "data/f1.parquet", "partitionValues": {},
                 "size": os.path.getsize(fp), "modificationTime": 0,
                 "dataChange": True}},
    ]
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as fh:
        for act in actions:
            fh.write(json.dumps(act) + "\n")

    got = read_delta(spark, root)
    assert got.columns == ["n_nationkey", "n_name", "n_regionkey", "s"]
    want = sorted(
        (int(k), n, int(r), (int(k) * 10,))
        for k, n, r in zip(
            pdf["n_nationkey"], pdf["n_name"], pdf["n_regionkey"]
        )
    )
    assert sorted(map(tuple, got.collect())) == want


def test_delta_stream_refuses_dv_tables(spark, sf_dir, tmp_path):
    """Deletion vectors: the BATCH reader applies them (separate test);
    the STREAM must refuse — a DV commit is a rewrite, not an append."""
    import pytest as _pytest

    from incubator_gobblin_spark.sources.delta_stream import table_schema

    root2, _ = _delta_table(spark, sf_dir, tmp_path, "ddv-stream")
    _attach_dv(spark, root2, lambda pdf: pdf["r_regionkey"] % 2 == 0)
    with _pytest.raises(ValueError, match="deletion vector"):
        table_schema(root2)
    # skipChangeCommits lets the stream OPEN on a DV table — the DV
    # commits are change commits and get skipped by the reader
    schema, _ = table_schema(root2, allow_dv=True)
    assert schema.fieldNames()


def _attach_dv(spark, root, pred, storage="u"):
    """Foreign-writer simulation: replace each live add with one
    carrying a deletionVector marking the rows matching ``pred``
    (a pandas boolean function)."""
    import json

    from incubator_gobblin_spark.formats.deletion_vectors import (
        write_dv_file,
    )
    from incubator_gobblin_spark.sources.delta_import import _replay_state

    live, _, _ = _replay_state(os.path.join(root, "_delta_log"), None)
    _append_delta_commit(
        root,
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors"],
                       "writerFeatures": ["deletionVectors"]}}],
    )
    actions = []
    import pandas as pd
    import pyarrow.parquet as pq
    from urllib.parse import unquote

    for p, a in sorted(live.items()):
        fp = os.path.join(root, unquote(p))
        pdf = pq.read_table(fp).to_pandas()
        mask = pred(pdf)
        positions = [int(i) for i, m in enumerate(mask) if m]
        if not positions:
            continue
        dv = write_dv_file(root, positions, storage=storage)
        new_add = dict(a)
        new_add["deletionVector"] = dv
        actions.append({"remove": {"path": p, "dataChange": True,
                                   "deletionTimestamp": 0}})
        actions.append({"add": new_add})
    _append_delta_commit(root, actions)


def test_read_delta_applies_deletion_vectors(spark, sf_dir, tmp_path):
    """A foreign writer's DV commit (roaring bitmap per file, u/i/p
    storage) row-level-deletes without rewriting data files; read_delta
    must return exactly the survivors, for every storage form, and
    time travel to the pre-DV version still reads everything."""
    from incubator_gobblin_spark.sources.delta_import import read_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    for storage in ("u", "i", "p"):
        root = str(tmp_path / f"dv-{storage}")
        sink = _sink(
            root,
            table_type=TableType.APPEND_ONLY,
            cluster_by=["o_orderkey"],
            max_records_per_file=400,  # several files -> several DVs
        )
        sink.write_staging(orders, "r0")
        sink.publish("r0")
        sink.export_delta_log()
        _attach_dv(
            spark, root, lambda pdf: pdf["o_orderkey"] % 3 == 0,
            storage=storage,
        )
        got = read_delta(spark, root)
        want = orders.filter(F.col("o_orderkey") % 3 != 0)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), storage
        # pre-DV time travel reads the full table
        assert read_delta(spark, root, version=0).count() == orders.count()


def test_deletion_vector_codec_round_trips_and_guards():
    """Roaring64 array/bitset/cross-2^32 round trips; run-container
    and 12347-cookie READ path; CRC corruption and cardinality
    mismatch fail loudly; z85 is the ZeroMQ alphabet."""
    import struct

    import pytest as _pytest

    from incubator_gobblin_spark.formats import deletion_vectors as DV

    vals = sorted(
        set(range(0, 9000, 3))
        | set(range(100000, 106000))  # bitset container (>4096)
        | {2**32 + 7, 2**32 + 2**16 + 1}  # second 32-bit bitmap
    )
    data = DV.serialize_roaring64(vals)
    assert DV.deserialize_roaring64(data) == vals

    # hand-built run-container bitmap (the 12347 cookie delta writers
    # may emit) decodes
    body = struct.pack("<i", DV.MAGIC) + struct.pack("<q", 1)
    rb = (
        struct.pack("<I", DV._COOKIE_RUN | ((1 - 1) << 16))
        + bytes([0b1])
        + struct.pack("<HH", 0, 9)
        + struct.pack("<H", 2)
        + struct.pack("<HH", 5, 3)
        + struct.pack("<HH", 100, 5)
    )
    assert DV.deserialize_roaring64(body + rb) == list(range(5, 9)) + list(
        range(100, 106)
    )

    assert DV.z85_decode(DV.z85_encode(bytes(range(16)))) == bytes(range(16))
    with _pytest.raises(ValueError):
        DV.z85_encode(b"abc")  # alignment

    import tempfile

    root = tempfile.mkdtemp()
    for st in ("u", "i", "p"):
        d = DV.write_dv_file(root, vals, storage=st)
        assert d["cardinality"] == len(vals)
        assert DV.read_dv_positions(root, d) == vals, st
    # CRC corruption on the on-disk form fails loudly
    d = DV.write_dv_file(root, [1, 2, 3], storage="u")
    from incubator_gobblin_spark.formats.deletion_vectors import z85_decode
    import uuid

    u = uuid.UUID(bytes=z85_decode(d["pathOrInlineDv"]))
    p = os.path.join(root, f"deletion_vector_{u}.bin")
    blob = bytearray(open(p, "rb").read())
    blob[-6] ^= 0xFF  # flip a bitmap byte, CRC now mismatches
    open(p, "wb").write(bytes(blob))
    with _pytest.raises(ValueError, match="CRC"):
        DV.read_dv_positions(root, d)
    # cardinality mismatch fails loudly
    d2 = DV.write_dv_file(root, [1, 2, 3], storage="i")
    d2["cardinality"] = 99
    with _pytest.raises(ValueError, match="cardinality"):
        DV.read_dv_positions(root, d2)


def test_read_iceberg_accepts_hidden_partitioning(spark, sf_dir, tmp_path):
    """A foreign spec with a non-identity transform (bucket) must READ:
    the source columns live in the data files; only the derived
    partition values are unusable for pruning. (Previously raised.)"""
    import json

    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    df = load_table(spark, sf_dir, "region")
    root = str(tmp_path / "icb-bucket")
    sink = _sink(root, table_type=TableType.APPEND_ONLY)
    sink.write_staging(df, "r0")
    sink.publish("r0")
    sink.export_iceberg()
    meta_dir = os.path.join(root, "metadata")
    v = _metadata_versions(meta_dir)[-1]
    with open(os.path.join(meta_dir, f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    key_id = next(
        f["id"]
        for f in meta["schemas"][0]["fields"]
        if f["name"] == "r_regionkey"
    )
    meta["partition-specs"][0]["fields"] = [
        {"name": "rk_bucket", "transform": "bucket[4]",
         "source-id": key_id, "field-id": 1000}
    ]
    with open(os.path.join(meta_dir, f"v{v + 1}.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    got = read_iceberg(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_read_delta_refuses_future_reader_version(spark, sf_dir, tmp_path):
    """minReaderVersion beyond anything this reader knows refuses by
    version number (the PROTOCOL.md forward-compat rule)."""
    import pytest as _pytest

    from incubator_gobblin_spark.sinks.delta_maintenance import (
        checkpoint_delta_table,
        vacuum_delta,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import read_delta

    future = {"protocol": {"minReaderVersion": 4, "minWriterVersion": 9}}
    root, df = _delta_table(spark, sf_dir, tmp_path, "dfuture")
    _append_delta_commit(root, [future])
    with _pytest.raises(ValueError, match="minReaderVersion=4"):
        read_delta(spark, root)
    # the maintenance ops replay the same log: they must refuse before
    # deleting files or writing a checkpoint every later reader trusts
    # (a standalone table — vacuum refuses manifest lakes outright)
    root = str(tmp_path / "dfuture_standalone")
    write_delta_table(spark, df, root)
    _append_delta_commit(root, [future])
    log_dir = os.path.join(root, "_delta_log")
    before = sorted(os.listdir(log_dir))
    for op in (
        lambda: vacuum_delta(
            root, retention_hours=0, allow_short_retention=True
        ),
        lambda: checkpoint_delta_table(root),
    ):
        with _pytest.raises(ValueError, match="minReaderVersion=4"):
            op()
        assert sorted(os.listdir(log_dir)) == before


def _write_v2_checkpoint(log_dir, version, actions, sidecar=True):
    """Author a V2 UUID-named checkpoint the way a feature-enabled
    foreign writer would (PROTOCOL.md §V2 Checkpoint Table Feature):
    protocol/metaData + checkpointMetadata in the top file; add/remove
    actions inline or in a _sidecars/ parquet referenced by a sidecar
    action. Updates _last_checkpoint."""
    import json
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _scrub(v):
        # pyarrow cannot write EMPTY structs to parquet; drop empty
        # dicts (the reader tolerates a missing partitionValues)
        if isinstance(v, dict):
            out = {k: _scrub(x) for k, x in v.items()
                   if not (isinstance(x, dict) and not x)}
            return out
        return v

    def _rows_to_table(rows):
        # one struct column per action kind, null elsewhere (the
        # checkpoint parquet shape)
        rows = [_scrub(r) for r in rows]
        kinds = sorted({k for r in rows for k in r})
        data = {
            k: [r.get(k) for r in rows] for k in kinds
        }
        return pa.Table.from_pydict(
            {k: pa.array(v) for k, v in data.items()}
        )

    top_rows = [
        {"checkpointMetadata": {"version": version}},
        *[a for a in actions if "protocol" in a or "metaData" in a],
    ]
    data_rows = [a for a in actions if "add" in a or "remove" in a]
    if sidecar:
        sc_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(sc_dir, exist_ok=True)
        sc_name = f"{uuid.uuid4()}.parquet"
        pq.write_table(_rows_to_table(data_rows), os.path.join(sc_dir, sc_name))
        top_rows.append(
            {"sidecar": {"path": sc_name, "sizeInBytes": 1,
                         "modificationTime": 0}}
        )
    else:
        top_rows.extend(data_rows)
    cp_name = f"{version:020d}.checkpoint.{uuid.uuid4()}.parquet"
    pq.write_table(_rows_to_table(top_rows), os.path.join(log_dir, cp_name))
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(actions)}, fh)


@pytest.mark.parametrize("sidecar", [True, False])
def test_read_delta_v2_checkpoint(spark, sf_dir, tmp_path, sidecar):
    """A foreign writer's V2 checkpoint (UUID-named, sidecar or inline
    actions) replaces the pre-checkpoint JSON commits; read_delta and
    the stream's schema resolution must replay state from it."""
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        _replay_state,
        read_delta,
    )
    from incubator_gobblin_spark.sources.delta_stream import table_schema

    root, df = _delta_table(
        spark, sf_dir, tmp_path, f"dv2cp-{int(sidecar)}"
    )
    log_dir = os.path.join(root, "_delta_log")
    live, meta, proto = _replay_state(log_dir, None)
    v = _log_versions(log_dir)[-1]
    proto = proto or {"minReaderVersion": 1, "minWriterVersion": 2}
    proto = {
        "minReaderVersion": 3, "minWriterVersion": 7,
        "readerFeatures": ["v2Checkpoint"],
        "writerFeatures": ["v2Checkpoint"],
    }
    actions = [{"protocol": proto}, {"metaData": meta}] + [
        {"add": a} for a in live.values()
    ]
    _write_v2_checkpoint(log_dir, v, actions, sidecar=sidecar)
    # drop the JSON commits the checkpoint covers: state must come
    # from the v2 checkpoint alone (plus an empty tail commit so the
    # log still advertises version v+1)
    for ver in _log_versions(log_dir):
        os.remove(os.path.join(log_dir, f"{ver:020d}.json"))
    with open(os.path.join(log_dir, f"{v + 1:020d}.json"), "w") as fh:
        fh.write("")
    got = read_delta(spark, root)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, df.collect())
    )
    schema, part_cols = table_schema(root)
    assert sorted(f.name for f in schema.fields) == sorted(df.columns)


def test_read_delta_dv_on_encoded_paths_and_shuffle_fallback(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A table root containing a space and a '+' percent-encodes in the
    scan's _metadata.file_path while the replayed log paths stay raw —
    the DV anti-join must key on the DECODED path or every tombstone
    silently misses and the deleted rows resurrect (ADVICE r8). Also
    proves the broadcast size guard: with a forced-zero threshold the
    shuffle-join fallback returns the identical survivor set."""
    from incubator_gobblin_spark.sources import delta_import
    from incubator_gobblin_spark.sources.delta_import import read_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    root = str(tmp_path / "dv space+dir" / "t")
    sink = _sink(
        root, table_type=TableType.APPEND_ONLY, max_records_per_file=600
    )
    sink.write_staging(orders, "r0")
    sink.publish("r0")
    sink.export_delta_log()
    _attach_dv(spark, root, lambda pdf: pdf["o_orderkey"] % 5 == 0)
    want = sorted(
        map(tuple, orders.filter(F.col("o_orderkey") % 5 != 0).collect())
    )
    assert want  # deletions actually happened
    assert sorted(map(tuple, read_delta(spark, root).collect())) == want
    # forced-tiny threshold -> no broadcast hint; same rows
    monkeypatch.setattr(delta_import, "TOMBSTONE_BROADCAST_MAX_ROWS", 0)
    assert sorted(map(tuple, read_delta(spark, root).collect())) == want


def test_logicalize_value_map_and_missing_member_edges():
    """ADVICE-wave r10 on _logicalize_value: map values arrive from
    pyarrow as dicts OR lists of (k, v) tuples — both reshape; a
    member ADDED to the schema after a file was written is absent from
    the physical dict and must surface as null (not KeyError); map
    values that are themselves mapped structs re-key recursively."""
    from incubator_gobblin_spark.sources.delta_stream import (
        _logicalize_value,
    )

    inner = {
        "type": "struct",
        "fields": [
            {"name": "a", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-a"}},
            # added after the file was written: no physical value
            {"name": "late", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "col-l"}},
        ],
    }
    map_t = {
        "type": "map",
        "keyType": "string",
        "valueType": inner,
        "valueContainsNull": True,
    }
    # dict form
    assert _logicalize_value({"k1": {"col-a": 5}}, map_t) == {
        "k1": {"a": 5, "late": None}
    }
    # pyarrow list-of-tuples form
    assert _logicalize_value([("k2", {"col-a": 6})], map_t) == {
        "k2": {"a": 6, "late": None}
    }
    # null map value inside the map
    assert _logicalize_value({"k3": None}, map_t) == {"k3": None}
    # array of maps nests
    arr_t = {"type": "array", "elementType": map_t, "containsNull": True}
    assert _logicalize_value([{"k": {"col-a": 1}}, None], arr_t) == [
        {"k": {"a": 1, "late": None}},
        None,
    ]


def test_read_committed_takes_partition_columns_from_manifest(spark, tmp_path):
    """A sink constructed without ``partition_by`` reads a partitioned
    lake's partition column back: the read follows the committed
    manifest's ``partition_by``, not the constructor's."""
    root = str(tmp_path / "t")
    df = spark.range(12).selectExpr("id", "concat('k', id % 3) AS p")
    writer = _sink(root, partition_by=["p"])
    writer.write_staging(df, "run1")
    writer.publish("run1")
    got = _sink(root).read_committed(spark)
    assert sorted(got.columns) == ["id", "p"]
    assert sorted(map(tuple, got.select("id", "p").collect())) == sorted(
        map(tuple, df.collect())
    )
    assert got.collect() == writer.read_committed(spark).collect()


def test_is_committed_agrees_with_manifest_history(tmp_path):
    """``is_committed`` answers from the run's manifest and its log entry
    and agrees with the ``manifest_history`` walk for a committed run,
    a manifest that lost its put, vacuumed runs (with and without the
    grace window keeping their manifests) and a lake without a log."""
    import json
    import shutil

    from incubator_gobblin_spark.sinks.files import ManifestConflictError
    from incubator_gobblin_spark.sources.manifest_import import is_committed

    ids = ["run1", "run2", "run3", "loser", "never"]

    def commit(sink, rid, head=None):
        head = head or sink._read_pointer()
        parent = head.manifest["run_id"] if head.manifest else None
        sink._commit(
            {"run_id": rid, "format_version": 2, "parent": parent, "groups": []},
            head,
        )

    def agree(sink):
        hist = sink.manifest_history()
        got = {r: is_committed(sink.path, r) for r in ids}
        assert got == {r: r in hist for r in ids}
        return got

    def lake(name):
        sink = _sink(tmp_path / name)
        commit(sink, "run1")
        commit(sink, "run2")
        stale = sink._read_pointer()
        commit(sink, "run3")
        with pytest.raises(ManifestConflictError):
            commit(sink, "loser", stale)  # log/3 already names run3
        return sink

    sink = lake("committed")
    got = agree(sink)
    assert [r for r in ids if got[r]] == ["run1", "run2", "run3"]

    sink = lake("vacuumed")
    sink.vacuum(keep_last=1, grace_seconds=0)
    assert [r for r in ids if agree(sink)[r]] == ["run3"]

    sink = lake("grace")  # log entries expire, young manifests stay
    sink.vacuum(keep_last=1, grace_seconds=3600)
    assert not os.path.exists(os.path.join(sink.path, "_manifests", "log", f"{1:020d}.json"))
    assert [r for r in ids if agree(sink)[r]] == ["run1", "run2", "run3"]

    sink = lake("no-log")
    shutil.rmtree(os.path.join(sink.path, "_manifests", "log"))
    for rid in ("run1", "run2", "run3", "loser"):
        mpath = os.path.join(sink.path, "_manifests", f"{rid}.json")
        with open(mpath) as fh:
            m = json.load(fh)
        del m["seq"]
        with open(mpath, "w") as fh:
            json.dump(m, fh)
    assert [r for r in ids if agree(sink)[r]] == ["run1", "run2", "run3"]
