"""Physical-plan discipline: the properties that matter at 100 TB.

These tests read ``explain`` output rather than results: a query can be
correct and still carry a plan that dies at scale (full-scan instead of
pushdown, shuffle instead of broadcast, Python in the row path). Each
assertion pins one scale property of the engine's plans.
"""

from pyspark.sql import functions as F

from incubator_gobblin_spark.operators import joins
from incubator_gobblin_spark.plans import queries as Q
from incubator_gobblin_spark.session import load_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """Watermark predicates must land in PushedFilters of the scan, not
    evaluate post-shuffle — at 100 TB the difference is reading row
    groups vs skipping them on statistics."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select("l_orderkey", "l_shipdate")
    plan = _formatted(li)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must read a 2-column schema."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _formatted(li)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_star_join_broadcasts_every_dimension(spark, sf_dir):
    """q03's star join: dimensions broadcast, only the fact-side orders
    join shuffles."""
    plan = _plan(Q.queries()["q03_revenue_by_nation"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1


def test_purge_is_broadcast_anti_join(spark, sf_dir):
    plan = _plan(Q.queries()["q05_purge_anti_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


# The ONLY queries allowed to evaluate Python, each with the reason it
# cannot be JVM-side in this container. Anything else in this set is a
# regression.
PYTHON_BY_NECESSITY = {
    # binary avro decode: AvroDataToCatalyst exists only in the external
    # spark-avro package; the engine's envelope decode is an
    # Arrow-batched pandas UDF over the pure-Python codec by design
    "q58_envelope_decode_agg",
    # SRP-LSH signatures are a dense matrix product: the Arrow/BLAS
    # matmul (similarity._srp_band_keys) is a zero-shuffle projection
    # and measured 3.3x faster end-to-end than the best JVM DataFrame
    # formulation (posexplode + num_bits codegen'd sum-aggregates,
    # which also shuffles n*dim rows through a map-side combine)
    "q34_ann_lsh_topk",
    "q52_embedding_neardup_lsh",
    # the coverage-invariant queries drive the SAME SRP machinery
    "q68_srplsh_covers_identical",
    "q69_lsh_topk_self_retrieval",
    # the SRP prefilter for semantic decontamination and its audit
    # drive the same banding matmul (similarity._srp_band_keys)
    "q125_semantic_decontam_lsh",
    "q126_semantic_prefilter_audit",
}

# Multimodal plumbing is DEFINED as an Arrow mapInPandas stage (binary
# codecs are Python-library territory); its query is exempt with a
# different expected node than the pandas-UDF projections above.
MAP_IN_PANDAS_BY_DESIGN = {
    "q78_multimodal_binary_stats",
    # encode→decode_bmp roundtrip: both stages are the engine's Arrow
    # mapInPandas multimodal contract (binary codecs are Python-library
    # territory by definition)
    "q95_multimodal_decode_roundtrip",
    # REST extraction: the paged HTTP fetch loop is connector I/O, not
    # row transformation — Python by definition (requests against an
    # endpoint), Arrow-batched by contract; everything after from_json
    # is plain Catalyst
    "q107_rest_ingest_agg",
    # same contract over the REAL wire (urllib against the in-process
    # HTTP server) — the transport changed, not the plan
    "q129_rest_http_ingest_agg",
}

# Deletion-vector decode is a binary roaring-bitmap codec (Python-
# library territory, like the multimodal codecs). It builds the
# TOMBSTONE side only — the data row path stays whole-stage codegen +
# broadcast anti-join. Within TOMBSTONE_BROADCAST_MAX_ROWS (every
# fixture here) the bitmaps decode on the driver while the read is
# built, into a local relation of one row per vector that the plan
# explodes and broadcasts (delta_import.anti_join_dvs): the query plan
# shows a LocalTableScan and NO Python node at all. Past the cap the
# decode is an executor mapInPandas, materialized once; both shapes are
# pinned by tests/test_plan_build.py::test_read_delta_decodes_vectors_by_cap.
DV_DECODE_MATERIALIZED = {
    "q131_delta_dv_agg",
    # same tombstone-decode contract reading back the engine's OWN
    # delete_delta_rows commits (the DELETE fixture also builds its
    # bitmaps in an Arrow applyInPandas stage — executor-side by
    # design, the driver never holds O(deleted rows))
    "q138_delta_dv_delete_agg",
    # same contract reading back merge_delta_rows' MERGE commit: the
    # matched rows live on as DV tombstones until compaction absorbs
    # them (q142 pins the absorbed/clean-plan end state)
    "q145_delta_merge_agg",
    # cross-format replication's Delta DESTINATION carries the keyed
    # DV-DELETE's tombstones — the read-back is the same q131 decode
    # contract (tombstone side only; data rows stay codegen)
    "q153_replicate_iceberg_to_delta_agg",
}

_PY_NODES = ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas")


def test_no_python_in_any_query_row_path(spark, sf_dir):
    """No registered query may fall back to Python in the row path —
    EvalPython, MapInPandas, or grouped-pandas nodes — except the
    explicitly documented exemption sets."""
    exempt = PYTHON_BY_NECESSITY | MAP_IN_PANDAS_BY_DESIGN | DV_DECODE_MATERIALIZED
    for name, fn in Q.queries().items():
        if name in exempt:
            continue
        plan = _plan(fn(spark, sf_dir))
        for node in _PY_NODES:
            assert node not in plan, f"{name} executes Python ({node})"


def test_python_by_necessity_is_arrow_batched(spark, sf_dir):
    """The exempted queries must at least use Arrow-vectorized Python
    (ArrowEvalPython / MapInPandas), never row-at-a-time
    BatchEvalPython."""
    for name in PYTHON_BY_NECESSITY:
        plan = _plan(Q.queries()[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} is row-at-a-time Python"
        assert "ArrowEvalPython" in plan, f"{name} should be Arrow-batched"
    for name in MAP_IN_PANDAS_BY_DESIGN:
        plan = _plan(Q.queries()[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} is row-at-a-time Python"
        assert "MapInPandas" in plan, f"{name} should be an Arrow mapInPandas stage"
    for name in DV_DECODE_MATERIALIZED:
        # the decode happened on the driver at construction: the query
        # plan must show NO Python node (the anti-join reads a local
        # relation)
        plan = _plan(Q.queries()[name](spark, sf_dir))
        for node in _PY_NODES:
            assert node not in plan, f"{name} re-entered Python ({node})"
        assert "LocalTableScan" in plan, (
            f"{name} should anti-join a driver-decoded tombstone relation"
        )


def test_aggregation_uses_whole_stage_codegen(spark, sf_dir):
    df = Q.queries()["q01_pricing_summary"](spark, sf_dir)
    # collect() (not count(): that builds a different plan) so THIS
    # query execution finalizes under AQE and codegen spans materialize
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes are whole-stage-codegen span markers
    assert "*(1)" in plan
    # partial (map-side) aggregation must precede the shuffle: the
    # exchange carries group states, not raw rows
    assert "partial_sum" in plan and "Exchange hashpartitioning" in plan


def test_asof_join_has_no_range_explosion(spark, sf_dir):
    """The as-of join must be the union+window plan: no nested-loop /
    cartesian candidate generation anywhere."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    out = joins.asof_join(
        events, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderdate"],
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_ivf_topk_candidate_join_is_equi_join(spark, sf_dir):
    """IVF search must reach candidates through an equi-join on the
    probed cluster id (the partition-prunable shape) — never a
    cross/nested-loop of queries x corpus."""
    plan = _plan(Q.queries()["q67_ivf_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_fan_out_skips_dimension_and_narrow_tables(spark, sf_dir):
    """Fan-out pays for itself only on scan-starved WIDE rows (text /
    vector payloads with heavy downstream per-row compute). Tiny
    dimensions must not shuffle (they are broadcast sides), and narrow
    relational facts must not either — their downstream work is
    codegen'd aggs/joins where the round-robin shuffle costs more than
    single-task scanning saves. Wide corpus tables DO fan out."""
    nation = load_table(spark, sf_dir, "nation")
    assert "Exchange" not in _plan(nation)
    li = load_table(spark, sf_dir, "lineitem")
    assert "Exchange" not in _plan(li)  # narrow rows: no fan-out shuffle
    # sf0.1: documents is above the row floor AND wide -> fans out
    # (plan-only assertion; nothing executes against the bigger SF)
    docs = load_table(spark, "/root/testdata/sf0.1", "documents")
    assert "Exchange" in _plan(docs)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Same-bucketed tables must join with ZERO shuffle: no Exchange
    node anywhere in the join plan (the co-location contract)."""
    from incubator_gobblin_spark.sinks.files import write_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    write_bucketed(li, "li_bkt", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(orders, "ord_bkt", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    # disable auto-broadcast: at test scale the planner would broadcast
    # the small side and never consult bucketing; at 100 TB neither side
    # broadcasts and the bucket layout is exactly what prevents the
    # fact<->fact shuffle this test pins down
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_bkt").join(spark.table("ord_bkt"), "l_orderkey")
        joined.collect()
        plan = _plan(joined)
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        n = joined.count()
        assert n == load_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_decontamination_broadcasts_benchmark_side(spark, sf_dir):
    """Decontamination's gram join must broadcast the benchmark side
    even when the stats say nothing (an eval set is small by
    definition, and the 100 TB training side must not shuffle before
    its per-doc count): the hint is structural, not size-inferred."""
    from incubator_gobblin_spark.functions import corpus

    docs = load_table(spark, sf_dir, "documents")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = corpus.decontaminate(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
        )
        plan = _plan(res)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bm25_query_terms_fold_into_scan_filter(spark, sf_dir):
    """BM25's term filter must run BEFORE the (doc, term) aggregation:
    the exploded postings of non-query terms die in the projection, so
    the only full-width shuffle carries matching terms only."""
    from incubator_gobblin_spark.functions import corpus

    docs = load_table(spark, sf_dir, "documents")
    res = corpus.bm25_scores(docs, ["spark", "hash"], "doc_id", "text")
    plan = _plan(res)
    assert "array_contains" in plan or "ARRAY_CONTAINS" in plan.upper()
    assert "EvalPython" not in plan


def test_quality_classifier_is_shuffle_free_projection(spark, sf_dir):
    """q92 must stay a pure projection: classifier scoring at 100 TB
    runs at scan speed — zero exchanges, zero Python."""
    plan = _plan(Q.queries()["q92_quality_classifier"](spark, sf_dir))
    assert "Exchange" not in plan
    for node in _PY_NODES:
        assert node not in plan


def test_semantic_dedup_single_shuffle(spark, sf_dir):
    """q93's only exchange is the per-cluster representative window;
    centroid assignment must stay a literal projection (no join, no
    second shuffle, no Python)."""
    plan = _plan(Q.queries()["q93_semantic_dedup"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # hash partition + AQE read, one shuffle
    assert "Join" not in plan
    for node in _PY_NODES:
        assert node not in plan


def test_pq_topk_is_shuffle_free_takeordered(spark, sf_dir):
    """q99: PQ codes + the ADC lookup are plan literals, so the whole
    scan is a projection and the global top-k is TakeOrderedAndProject
    — zero Exchange at any scale."""
    plan = _plan(Q.queries()["q99_pq_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_dsir_model_join_is_broadcast(spark, sf_dir):
    """q96: the 256-bucket model must re-join tokens by BROADCAST —
    the token stream (the 100 TB side) never shuffles for the join;
    only the bounded bucket aggregations and the final doc groupBy
    exchange."""
    plan = _plan(Q.queries()["q96_dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_duplicated_spans_linear_shuffles_only(spark, sf_dir):
    """q109: exact-substring dedup must stay linear — the span-count
    annotation is a window over the span key (one exchange), coverage
    aggregates per doc, totals join; NO cartesian/nested-loop anywhere
    and no Python in the row path."""
    plan = _plan(Q.queries()["q109_duplicated_spans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_linear_probe_fit_is_single_aggregation(spark, sf_dir):
    """q112: training is ONE hash aggregation over the corpus scan —
    map-side partials collapse to a single-row exchange; the Cramer
    solve is driver model state, so the distributed plan of the
    RESULT is a 1-row local scan (no join, no residual shuffle)."""
    df = Q.queries()["q112_linear_probe_fit"](spark, sf_dir)
    plan = _plan(df)
    # the returned frame is the solved model: pure local data
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan
    assert "Exchange" not in plan


def test_shuffle_shards_is_one_exchange(spark, sf_dir):
    """q113: deterministic shuffle+shard is ONE hash exchange on the
    shard key (the per-shard rank window) — the md5 key is a pure
    projection, so nothing else moves."""
    plan = _plan(Q.queries()["q113_shuffle_shards"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_trim_contaminated_broadcasts_benchmark_spans(spark, sf_dir):
    """q115: the benchmark window set must BROADCAST — the training
    side never shuffles to discover contamination (the q70 posture);
    the only exchanges are the doc-id rebuild and totals join."""
    plan = _plan(Q.queries()["q115_trim_contaminated"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_semantic_decontaminate_broadcasts_bench_single_exchange(spark, sf_dir):
    """q116: the benchmark embedding side must BROADCAST and the
    per-vector max must collapse map-side — exactly ONE regular
    exchange (the corpus-keyed final aggregation), never a shuffle of
    corpus x bench pair rows."""
    plan = _plan(Q.queries()["q116_semantic_decontaminate"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    import re

    regular_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(regular_exchanges) == 1, plan
    assert "BatchEvalPython" not in plan


def test_cms_sketch_probe_join_is_broadcast(spark, sf_dir):
    """q118: point estimates must come from broadcasting the bounded
    depth*width sketch, never from shuffling the item frame against
    it; the top-k must be TakeOrdered (no global sort)."""
    plan = _plan(Q.queries()["q118_cms_heavy_hitters"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_bpe_pair_counts_bounded_key_aggregation(spark, sf_dir):
    """q121: the pair-count pass aggregates on the bounded symbol-pair
    key space with map-side partials and finishes with TakeOrdered —
    no sort shuffle, no Python, no expansion joins."""
    plan = _plan(Q.queries()["q121_bpe_pair_counts"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_prefilter_decontam_shuffle_budget(spark, sf_dir):
    """q125's plan budget: the SRP banding is a pure Arrow projection,
    the bench band keys and bench vectors BROADCAST, and at most three
    key shuffles exist (candidate dedup, per-candidate max, the final
    corpus-grain fill join) — a fourth exchange means the banding or
    the bench side started shuffling corpus-scale data."""
    plan = _plan(Q.queries()["q125_semantic_decontam_lsh"](spark, sf_dir))
    shuffles = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
    )
    assert shuffles <= 3, f"{shuffles} shuffle exchanges (budget 3)"
    assert "BroadcastExchange" in plan  # bench side never shuffles
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_lake_delete_reads_are_broadcast_antijoins(spark, sf_dir):
    """q128 (Iceberg position deletes) and q131 (Delta deletion
    vectors): the tombstone side must BROADCAST into a left-anti join —
    a shuffled anti-join would move the corpus for a metadata-scale
    delete set — and the aggregate keeps exactly one key shuffle."""
    for name in ("q128_iceberg_posdelete_agg", "q131_delta_dv_agg"):
        plan = _plan(Q.queries()[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, name
        shuffles = sum(
            1
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line
            or "Exchange rangepartitioning" in line
        )
        assert shuffles <= 1, f"{name}: {shuffles} shuffles (budget 1)"


def test_incremental_scan_is_plain_scan_plus_agg(spark, sf_dir):
    """q130: the incremental append scan reads ONLY delta files — the
    plan is a parquet scan + partial/final aggregate, one exchange, no
    joins, no Python."""
    plan = _plan(Q.queries()["q130_iceberg_incremental_scan"](spark, sf_dir))
    assert "Join" not in plan
    for node in _PY_NODES:
        assert node not in plan
    shuffles = sum(
        1 for line in plan.splitlines() if "Exchange hashpartitioning" in line
    )
    assert shuffles <= 1


def test_time_travel_reads_are_plain_scan_plus_agg(spark, sf_dir):
    """q134/q135: a historical read BEFORE the delete commits must not
    pay for them — no anti-join, no Python, one key shuffle for the
    aggregate; tombstone application is a property of the version
    read, not of the table."""
    for name in (
        "q134_delta_time_travel_agg",
        "q135_iceberg_time_travel_agg",
    ):
        plan = _plan(Q.queries()[name](spark, sf_dir))
        assert "LeftAnti" not in plan, name
        for node in _PY_NODES:
            assert node not in plan, name
        shuffles = sum(
            1
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line
            or "Exchange rangepartitioning" in line
        )
        assert shuffles <= 1, f"{name}: {shuffles} shuffles (budget 1)"


def test_column_mapped_read_resolves_in_scan(spark, sf_dir):
    """q133 (mode=id): field-id resolution happens INSIDE the parquet
    scan — no rename projection pass, no Python, no join beyond the
    typed-literal partition restore, one key shuffle for the
    aggregate."""
    plan = _plan(Q.queries()["q133_delta_column_mapping_agg"](spark, sf_dir))
    for node in _PY_NODES:
        assert node not in plan
    shuffles = sum(
        1
        for line in plan.splitlines()
        if "Exchange hashpartitioning" in line
        or "Exchange rangepartitioning" in line
    )
    assert shuffles <= 1, f"{shuffles} shuffles (budget 1)"
