"""Commit-sequence replay (CommitSequence.java:66), metrics emission
surface (gobblin-metrics), and the small r2 operator additions:
HadoopFileInputSource, SchemaBasedWriterPartitioner, REST entry
converter, ORC FileSink, ANN broadcast guards."""

import json
import os

import pytest
from pyspark.sql import functions as F

from incubator_gobblin_spark.commit import (
    CommitSequence,
    CommitSequenceStore,
    replay_unfinished,
)
from incubator_gobblin_spark.metrics import FileMetricsReporter, MetricsContext
from incubator_gobblin_spark.pipeline import Pipeline
from incubator_gobblin_spark.session import load_table
from incubator_gobblin_spark.sinks.files import (
    FileSink,
    new_run_id,
    schema_partition_column,
)


# ------------------------------------------------------ commit sequences


def test_commit_sequence_executes_and_clears(tmp_path):
    store = CommitSequenceStore(str(tmp_path / "seqs"))
    (tmp_path / "stage").mkdir()
    (tmp_path / "stage" / "f1").write_text("a")
    seq = (
        CommitSequence("pub1", store)
        .add("mkdir", path=str(tmp_path / "final"))
        .add("rename", src=str(tmp_path / "stage" / "f1"), dst=str(tmp_path / "final" / "f1"))
        .add("write_file", path=str(tmp_path / "final" / "_SUCCESS"), content="ok")
    )
    seq.execute()
    assert (tmp_path / "final" / "f1").read_text() == "a"
    assert (tmp_path / "final" / "_SUCCESS").exists()
    assert store.unfinished() == []


def test_commit_sequence_crash_then_replay(tmp_path, monkeypatch):
    """Crash between step 1 and 2 of a two-rename publish: plain retry
    would see half-published state; replay finishes exactly-once."""
    store = CommitSequenceStore(str(tmp_path / "seqs"))
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "f1").write_text("one")
    (stage / "f2").write_text("two")
    final = tmp_path / "final"

    seq = (
        CommitSequence("pub2", store)
        .add("rename", src=str(stage / "f1"), dst=str(final / "f1"))
        .add("rename", src=str(stage / "f2"), dst=str(final / "f2"))
    )

    real_execute = type(seq.steps[0]).execute
    calls = {"n": 0}

    def _crashing(self):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated crash mid-publish")
        return real_execute(self)

    monkeypatch.setattr(type(seq.steps[0]), "execute", _crashing)
    with pytest.raises(OSError, match="mid-publish"):
        seq.execute()
    monkeypatch.undo()

    # half-published: f1 moved, f2 not; sequence survives in the store
    assert (final / "f1").exists() and not (final / "f2").exists()
    assert store.unfinished() == ["pub2"]

    replayed = replay_unfinished(store)
    assert replayed == ["pub2"]
    assert (final / "f2").read_text() == "two"
    assert store.unfinished() == []
    # idempotent: replaying again is a no-op
    assert replay_unfinished(CommitSequenceStore(str(tmp_path / "seqs"))) == []


def test_commit_step_rename_idempotent(tmp_path):
    """A step that already ran (src gone, dst present) succeeds on
    replay — the idempotence the reference requires of CommitSteps."""
    from incubator_gobblin_spark.commit import CommitStep

    src, dst = tmp_path / "a", tmp_path / "b"
    src.write_text("x")
    step = CommitStep("rename", {"src": str(src), "dst": str(dst)})
    step.execute()
    step.execute()  # replay: src missing, dst exists -> success
    assert dst.read_text() == "x"
    with pytest.raises(FileNotFoundError):
        CommitStep("rename", {"src": str(tmp_path / "no"), "dst": str(tmp_path / "nope")}).execute()


# ------------------------------------------------------------- metrics


def test_metrics_context_and_reporter(tmp_path):
    rep = FileMetricsReporter(str(tmp_path / "m" / "events.jsonl"))
    ctx = MetricsContext("ingest", tags={"table": "lineitem"})
    ctx.counter("records", 100)
    ctx.counter("records", 50)
    ctx.gauge("lag_sec", 3.5)
    with ctx.timer("publish"):
        pass
    rep.emit_context(ctx)
    events = rep.read()
    assert len(events) == 1
    e = events[0]
    assert e["counters"]["records"] == 150
    assert e["tags"]["table"] == "lineitem"
    assert "publish" in e["timers"] and "ts" in e


def test_pipeline_emits_run_metrics(spark, sf_dir, tmp_path):
    rep = FileMetricsReporter(str(tmp_path / "events.jsonl"))
    out = str(tmp_path / "out")
    (
        Pipeline(spark, "metrics_test")
        .source(lambda s: load_table(s, sf_dir, "region"))
        .sink(FileSink(path=out))
        .metrics(rep)
        .run()
    )
    events = rep.read()
    assert len(events) == 1
    e = events[0]
    assert e["event"] == "pipeline_run" and e["status"] == "committed"
    assert e["rows_written"] == 5 and e["duration_sec"] > 0


def test_pipeline_emits_failure_metrics(spark, sf_dir, tmp_path):
    from incubator_gobblin_spark.operators.quality import (
        PolicyType,
        RowCountPolicy,
        TaskPolicyError,
    )

    rep = FileMetricsReporter(str(tmp_path / "events.jsonl"))
    p = (
        Pipeline(spark, "metrics_fail")
        .source(lambda s: load_table(s, sf_dir, "region"))
        .sink(FileSink(path=str(tmp_path / "out")))
        .task_policy(RowCountPolicy(expected=9999, type=PolicyType.FAIL))
        .metrics(rep)
    )
    with pytest.raises(TaskPolicyError):
        p.run()
    e = rep.read()[0]
    assert e["status"] == "failed" and "TaskPolicyError" in e["error"]


# ------------------------------------------- small operator additions


def test_hadoop_input_format_text(spark, tmp_path):
    p = tmp_path / "in.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    from incubator_gobblin_spark.sources.files import read_hadoop_input_format

    df = read_hadoop_input_format(spark, str(p))
    rows = df.orderBy("key").collect()
    assert [r.value for r in rows] == ["alpha", "beta", "gamma"]
    assert rows[0].key == 0  # byte offsets as keys


def test_schema_based_partitioner(spark, sf_dir, tmp_path):
    df = load_table(spark, sf_dir, "region")
    name, col = schema_partition_column(df)
    out = str(tmp_path / "by_schema")
    sink = FileSink(path=out, partition_by=[name])
    run = new_run_id()
    sink.write_staging(df.withColumn(name, col), run)
    sink.publish(run)
    dirs = [d for d in os.listdir(out) if d.startswith(f"{name}=")]
    assert len(dirs) == 1
    # same schema -> same partition value; different schema -> different
    name2, col2 = schema_partition_column(df.withColumn("extra", F.lit(1)))
    assert col2._jc.toString() != col._jc.toString()
    # explicit record name wins (the avro-schema-name case)
    _, named = schema_partition_column(df, name="region_v1")
    assert "region_v1" in named._jc.toString()


def test_to_rest_entry_template(spark, sf_dir):
    from incubator_gobblin_spark.operators.converters import to_rest_entry

    df = load_table(spark, sf_dir, "nation").limit(3)
    out = to_rest_entry(
        "nations/{n_nationkey}/region/{n_regionkey}", json_fields=["n_name"]
    )(df)
    r = out.orderBy("n_nationkey").first()
    assert r.resource == f"nations/{r.n_nationkey}/region/{r.n_regionkey}"
    assert json.loads(r.json) == {"n_name": r.n_name}


def test_orc_file_sink_roundtrip(spark, sf_dir, tmp_path):
    """ORC writer path (GobblinBaseOrcWriter.java:53): Spark's ORC
    writer self-manages batch memory; the engine contract is format +
    compression + bounded file sizes."""
    df = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orc")
    sink = FileSink(
        path=out, fmt="orc", max_records_per_file=500,
        options={"compression": "zlib"},
    )
    run = new_run_id()
    sink.write_staging(df, run)
    sink.publish(run)
    files = [f for f in os.listdir(out) if f.endswith(".orc")]
    assert len(files) >= 3  # 1500 rows / 500 per file
    back = spark.read.orc(out)
    assert back.count() == df.count()
    assert sorted(back.collect()) == sorted(df.collect())


def test_ann_broadcast_guard(spark, sf_dir):
    from incubator_gobblin_spark.functions import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="broadcast side exceeds"):
        S.cosine_topk(emb, emb, max_broadcast_rows=10)
    with pytest.raises(ValueError, match="cosine_near_dup_pairs"):
        S.cosine_pairs(emb, 0.9, max_broadcast_rows=10)
    # under the cap everything still works
    q = emb.filter(F.col("vec_id") < 3)
    assert S.cosine_topk(emb, q, k=2, max_broadcast_rows=10).count() == 6


def test_console_and_aggregating_reporters(spark, sf_dir, tmp_path):
    """A pipeline run fans out to console + file + aggregating
    reporters via CompositeMetricsReporter; the aggregator flattens
    events to dotted Graphite-style keys with (sum, last) rollups."""
    import io

    from incubator_gobblin_spark.metrics import (
        AggregatingMetricsReporter,
        CompositeMetricsReporter,
        ConsoleMetricsReporter,
    )

    buf = io.StringIO()
    agg = AggregatingMetricsReporter()
    filerep = FileMetricsReporter(str(tmp_path / "events.jsonl"))
    rep = CompositeMetricsReporter(ConsoleMetricsReporter(buf), filerep, agg)
    out = str(tmp_path / "out")
    (
        Pipeline(spark, "composite_metrics")
        .source(lambda s: load_table(s, sf_dir, "region"))
        .sink(FileSink(path=out))
        .metrics(rep)
        .run()
    )
    # console: one rendered line with key=value pairs
    line = buf.getvalue()
    assert "[metrics]" in line and "rows_written=5" in line
    # file: the same event as JSON
    assert filerep.read()[0]["rows_written"] == 5
    # aggregator: dotted rollup with totals
    assert agg.events == 1
    assert agg.totals()["rows_written"] == 5
    assert agg.last()["duration_sec"] > 0

    # a second run accumulates
    (
        Pipeline(spark, "composite_metrics_2")
        .source(lambda s: load_table(s, sf_dir, "region"))
        .sink(FileSink(path=str(tmp_path / "out2")))
        .metrics(rep)
        .run()
    )
    assert agg.events == 2 and agg.totals()["rows_written"] == 10


def test_merge_job_emits_metrics(spark, sf_dir, tmp_path):
    """run_merge_job emits a merge_run event (run id, duration, status)
    through the spec-configured metrics file."""
    from incubator_gobblin_spark.jobs.spec import run_merge_job

    lake = str(tmp_path / "lake")
    base = load_table(spark, sf_dir, "region")
    sink = FileSink(path=lake, commit_mode="manifest")
    sink.write_staging(base, "base")
    sink.publish("base")
    src_dir = str(tmp_path / "cdc")
    base.limit(2).withColumn(
        "r_comment", F.lit("updated")
    ).write.parquet(src_dir)
    metrics_file = str(tmp_path / "merge_events.jsonl")
    rid = run_merge_job(
        spark,
        {
            "merge.target.dir": lake,
            "merge.source.dir": src_dir,
            "merge.keys": "r_regionkey",
            "merge.run.id": "m1",
            "merge.metrics.file": metrics_file,
        },
    )
    events = FileMetricsReporter(metrics_file).read()
    assert len(events) == 1
    e = events[0]
    assert e["event"] == "merge_run" and e["status"] == "committed"
    assert e["run_id"] == rid and e["duration_sec"] > 0
    assert e["keys"] == "r_regionkey"


def test_bench_artifact_preserves_unknown_keys(tmp_path):
    """bench.py's local-artifact rewrite must keep keys it doesn't own
    (builder annotations like run_history_note) so a driver re-run
    stops erasing them."""
    import json

    from bench import merge_local_artifact

    existing = {
        "metric": "old",
        "value": 1.0,
        "run_history_note": "nine same-code runs spanned ...",
        "shared_subtotal_quietest": 24.26,
    }
    out = {"metric": "bench", "value": 2.0, "queries": {"q1": 0.5}}
    merged = merge_local_artifact(existing, out)
    assert merged["run_history_note"] == existing["run_history_note"]
    assert merged["shared_subtotal_quietest"] == 24.26
    assert merged["value"] == 2.0 and merged["metric"] == "bench"
    # round-trips through the file unchanged
    p = tmp_path / "BENCH_local_r99.json"
    p.write_text(json.dumps(merged))
    again = merge_local_artifact(json.loads(p.read_text()), out)
    assert again == merged


def test_bench_delta_only_at_the_same_core_count():
    """bench.py's round-over-round delta compares like with like: a
    previous artifact from another core count, or one that does not
    record its core count, gives no delta but a recorded reason, and
    a rewrite drops the stale delta of an earlier run."""
    from bench import delta_vs_prev, merge_local_artifact

    out = {"value": 3.0, "queries": {"q1": 1.0, "q2": 2.0}, "cpus": 8}
    prev = {"value": 2.0, "queries": {"q1": 0.5, "q2": 1.5}, "cpus": 8}
    d = delta_vs_prev(out, prev, "BENCH_r14_c8.json")
    assert d["delta_vs"] == "BENCH_r14_c8.json" and "delta_skipped" not in d
    assert d["delta_total"] == 1.0 and d["delta_queries"] == {"q1": 0.5, "q2": 0.5}
    assert d["shared_ratio_vs_prev"] == 1.5
    no_cpus = {k: v for k, v in prev.items() if k != "cpus"}
    for other, why in (({**prev, "cpus": 32}, "ran on 32 cpus"),
                       (no_cpus, "records no cpus")):
        skipped = delta_vs_prev(out, other, "BENCH_r14.json")
        assert skipped == {
            "delta_skipped": f"BENCH_r14.json {why}, this run on 8"
        }
    merged = merge_local_artifact({**out, **d, "note": "kept"}, {**out, **skipped})
    assert "shared_ratio_vs_prev" not in merged and "delta_vs" not in merged
    assert merged["note"] == "kept" and "delta_skipped" in merged
