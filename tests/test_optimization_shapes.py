"""Plan/layout shapes pinned by the round-13 optimization pass.

Each test pins one structural property the optimization introduced, so
a refactor cannot silently reintroduce the waste:

- tombstone/delete-key frames execute ONCE (Catalyst's semi/anti
  pushdown through Union used to copy the DV-decode / delete-file
  subtree into every partition-group arm);
- the changelog's parent-row recovery is one pass (outer-join markers),
  not a union of per-branch semi-joins over repeated parent scans;
- update pairing is window flags over one pass, not
  intersect-then-join (which re-evaluated the whole changelog 3x);
- CDC writers stage advisory-size files, not one shard per shuffle
  partition (a small upsert used to write 32 equality-delete files and
  the reader paid one scan arm per file).
"""

import glob
import os

from pyspark.sql import functions as F

from incubator_gobblin_spark.session import load_table


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def test_read_delta_dv_decode_not_in_query_plan(spark, sf_dir, tmp_path):
    """The DV bitmap decode must run once at read construction (on the
    driver within the broadcast cap), never as a per-union-arm
    MapInPandas inside the query plan."""
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import read_delta

    root = str(tmp_path / "dvplan")
    write_delta_table(spark, _docs(spark, sf_dir), root, partition_by=["lang"])
    delete_delta_rows(spark, root, "doc_id % 3 = 0")
    plan = _formatted(read_delta(spark, root))
    assert "MapInPandas" not in plan, (
        "DV decode re-entered the query plan (pushdown duplication): "
        "decode once, at construction"
    )
    # the anti-join itself must still be there, broadcast-built
    assert "LeftAnti" in plan


def test_upsert_stages_one_delete_file_for_small_batch(
    spark, sf_dir, tmp_path
):
    """A small CDC upsert must not stage one equality-delete shard per
    shuffle partition — the rebalanced write coalesces to one."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )

    root = str(tmp_path / "upone")
    docs = _docs(spark, sf_dir)
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    updates = docs.filter("doc_id % 5 = 0").withColumn(
        "n_chars", F.col("n_chars") + 7
    )
    res = upsert_iceberg_rows(spark, root, updates, on="doc_id")
    assert res["delete_files"] == 1, res
    staged = glob.glob(os.path.join(root, "_deletes", "*.parquet"))
    assert len(staged) == 1, staged


def test_rebalanced_write_one_file_per_small_partition(
    spark, sf_dir, tmp_path
):
    """A small partitioned write produces one file per partition value
    even when the frame arrives with many shuffle partitions."""
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        write_delta_table,
    )

    root = str(tmp_path / "onefile")
    write_delta_table(
        spark,
        _docs(spark, sf_dir).repartition(8),
        root,
        partition_by=["lang"],
    )
    for d in glob.glob(os.path.join(root, "lang=*")):
        parts = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(parts) == 1, (d, parts)


def test_changelog_parent_recovery_is_single_pass(spark, sf_dir, tmp_path):
    """Delete recovery joins markers onto ONE parent scan (LeftOuter),
    never a union of per-branch semi-joins re-scanning the parent."""
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    root = str(tmp_path / "chsingle")
    docs = _docs(spark, sf_dir)
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    delete_iceberg_rows(spark, root, "doc_id % 5 = 2")
    upserts = docs.filter("doc_id % 7 = 0").withColumn(
        "n_chars", F.col("n_chars") + 1
    )
    upsert_iceberg_rows(spark, root, upserts, on="doc_id")
    plan = _formatted(read_iceberg_changelog(spark, root, None))
    assert "LeftSemi" not in plan, (
        "parent recovery regressed to per-branch semi-joins"
    )


def test_changelog_parent_scan_is_shared_across_snapshots(
    spark, sf_dir, tmp_path
):
    """The whole interval's parent-state recovery reads the table ONCE:
    one scan over the union of parent-snapshot file sets, per-snapshot
    liveness/kill sets as broadcast-marker predicates, ordinals emitted
    through one explode. The per-snapshot formulation re-read the
    parent table once per changed snapshot — O(snapshots) full passes.

    Unpartitioned 3-snapshot fixture (base + pos-delete + CDC upsert),
    one data file per commit under the rebalanced writers, so the plan
    holds exactly 5 parquet scans: s0 inserts, s2 inserts, the SHARED
    parent union scan, and the two delete-file frames. The old shape
    scanned the parent at s1 and again at s2 (plus its re-applied
    delete file) = 7+."""
    import re

    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    root = str(tmp_path / "chshared")
    docs = _docs(spark, sf_dir)
    write_iceberg_table(spark, docs, root)
    delete_iceberg_rows(spark, root, "doc_id % 5 = 2")
    upserts = docs.filter("doc_id % 7 = 0").withColumn(
        "n_chars", F.col("n_chars") + 1
    )
    upsert_iceberg_rows(spark, root, upserts, on="doc_id")
    df = read_iceberg_changelog(spark, root, None)
    plan = _formatted(df)
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 5, (
        f"{n_scans} parquet scans for a 3-snapshot changelog over a "
        "1-file-per-commit table — the parent scan is no longer shared "
        "across snapshots (expected: s0 inserts + s2 inserts + ONE "
        "parent union scan + 2 delete frames = 5)"
    )
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, (
        "per-snapshot ordinals must emit through ONE explode, not "
        "per-snapshot union arms over repeated recovery subtrees"
    )


def test_changelog_update_pairing_is_window_flags(spark, sf_dir, tmp_path):
    """identifier_fields pairing = window flags over one pass; the
    intersect-then-join formulation tripled the changelog subtree."""
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    root = str(tmp_path / "chwin")
    docs = _docs(spark, sf_dir)
    write_iceberg_table(spark, docs, root, partition_by=["lang"])
    upserts = docs.filter("doc_id % 9 = 0").withColumn(
        "n_chars", F.col("n_chars") + 2
    )
    upsert_iceberg_rows(spark, root, upserts, on="doc_id")
    df = read_iceberg_changelog(
        spark, root, None, identifier_fields=["doc_id"]
    )
    plan = _formatted(df)
    assert "Window" in plan
    # window pairing adds no join beyond the recovery joins; the old
    # shape's extra key join carried an Intersect-fed aggregate
    assert "Intersect" not in plan
    # semantics spot-check: upserted keys render as update pairs
    kinds = {
        r["_change_type"]
        for r in df.select("_change_type").distinct().collect()
    }
    assert "update_preimage" in kinds and "update_postimage" in kinds


def test_funnel_is_one_scan_no_joins(spark, sf_dir):
    """The funnel computes every step from ONE pass over the events
    table: per-user (ts, type) arrays + sequential array mins. The old
    per-step filter+join chain re-executed the whole prefix once per
    count branch — O(steps^2) scans of the events table."""
    import re

    from incubator_gobblin_spark.functions import events as events_fn

    ev = load_table(spark, sf_dir, "events")
    plan = _formatted(
        events_fn.funnel(
            ev, ["view", "click", "purchase"], within_seconds=259200
        )
    )
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, (
        "funnel re-scans the events table; the one-pass shape computes "
        "all steps from one collect_list aggregation"
    )
    assert "Join" not in plan


def test_cohort_retention_is_one_scan_no_join(spark, sf_dir):
    """Cohort retention derives the cohort day from a window min over
    the deduped (user, day) pairs — one scan of the events table, no
    join-back of the full event set."""
    import re

    from incubator_gobblin_spark.functions import events as events_fn

    ev = load_table(spark, sf_dir, "events")
    plan = _formatted(events_fn.cohort_retention(ev, bucket_days=1))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan
    assert "Window" in plan
