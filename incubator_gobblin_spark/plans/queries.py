"""Operator manifest: every declared operator as a (spark_fn, oracle_sql) pair.

Each entry exercises one operator family from SURVEY.md §2 over the
driver-generated tables (region nation customer supplier part orders
lineitem events documents embeddings). The Spark side uses the engine's
operator library; the oracle side is ANSI SQL DuckDB runs on the same
parquet — the correctness gate hash-compares both at sf0.01.

Determinism rules applied throughout (both sides identically):
- double SUMs go through DECIMAL (exact, order-independent) and are cast
  back to double for the output schema;
- AVGs are computed as decimal-sum / count, never the engine's float avg
  (accumulation order differs across engines/runs);
- every window/top-k orders with explicit tie-breakers;
- DuckDB integer SUMs are cast to BIGINT (DuckDB widens to INT128,
  Spark to long).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from incubator_gobblin_spark.functions import (
    corpus,
    dedup_fuzzy,
    events as events_fn,
    graph,
    similarity,
    sketches,
    text,
)
from incubator_gobblin_spark.functions.sql_text import double_array_col
from incubator_gobblin_spark.operators import converters as C
from incubator_gobblin_spark.operators import dedup, joins, retention
from incubator_gobblin_spark.operators.watermark import WatermarkInterval
from incubator_gobblin_spark.session import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

# name -> (spark_fn, oracle_sql | None)
_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def _ordered_names() -> list[str]:
    return sorted(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: _REGISTRY[name][0] for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {
        name: _REGISTRY[name][1]
        for name in _ordered_names()
        if _REGISTRY[name][1] is not None
    }


def _dsum(col, scale: int = 6):
    """Order-independent SUM of a double expression via decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")



_CENTROID_CACHE: dict = {}


def _first8_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """The deterministic 8-vector codebook source shared by the IVF /
    SemDeDup / PQ queries (the first 8 embeddings by id). Cached per
    source-file identity: a real deployment holds its trained codebook
    in memory — re-collecting 8 rows per query build only added driver
    latency to every benchmark iteration."""
    import os as _os

    src = _os.path.join(sf_dir, "embeddings.parquet")
    try:
        st = _os.stat(src)
        key = (sf_dir, int(st.st_mtime), st.st_size)
    except OSError:
        key = (sf_dir, 0, 0)
    if key not in _CENTROID_CACHE:
        rows = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .orderBy("vec_id")
            .collect()
        )
        _CENTROID_CACHE[key] = [[float(x) for x in r["embedding"]] for r in rows]
    return _CENTROID_CACHE[key]


def _cache_dir(kind: str, sf_dir: str, table: str) -> str:
    """Materialized-format cache dir keyed by the SOURCE parquet's
    identity (mtime+size). The driver regenerates testdata between
    rounds; an unkeyed /tmp cache would silently serve the OLD table to
    the format queries and fail the correctness gate against the new
    oracle. The fingerprint makes every cache self-invalidating."""
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(src)
        fp = f"{int(st.st_mtime)}-{st.st_size}"
    except OSError:
        fp = "nosrc"
    return os.path.join(
        f"/tmp/gobblin_{kind}_cache",
        os.path.basename(sf_dir.rstrip("/")),
        f"{table}-{fp}",
    )


# ---------------------------------------------------------------------------
# Scan / filter / project / aggregate core (QueryBasedExtractor +
# compaction-style aggregation surface)
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped groupBy aggregation: the full hash-agg surface the
    reference only has as MR dedup counting. Map-side partial agg + one
    shuffle on a tiny key space."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (_dsum("l_quantity") / cnt).alias("avg_qty"),
            (_dsum("l_extendedprice") / cnt).alias("avg_price"),
            (_dsum("l_discount") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
    """,
)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate converters (AvroProjectionConverter +
    AvroFilterConverter chain) — both reach the parquet scan as
    PushedFilters/ReadSchema."""
    li = load_table(spark, sf_dir, "lineitem")
    chain = C.chain(
        C.filter_expr(
            (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount") > 0.05)
        ),
        C.project(["l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"]),
    )
    return li.transform(chain)


@register(
    "q03_revenue_by_nation",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q03_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join: fact table joined to broadcast dimensions
    (the enrichment-join pattern of HttpJoinConverter generalized). Only
    the lineitem<->orders join shuffles; every dim side is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dims = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .select("c_custkey", "n_name")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q04_segment_rollup",
    """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q04_segment_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast enrichment join (joins.enrich_broadcast) + aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    enriched = joins.enrich_broadcast(orders, customer, on="o_custkey", how="inner")
    return enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Joins: purge anti-join, semi join (SURVEY §2.5)
# ---------------------------------------------------------------------------

@register(
    "q05_purge_anti_join",
    """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
    FROM orders o
    WHERE NOT EXISTS (
        SELECT 1 FROM customer c
        WHERE c.c_acctbal < 0 AND c.c_custkey = o.o_custkey
    )
    GROUP BY o_orderstatus
    """,
)
def q05_purge_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR purge semantics (HivePurgerQueryTemplate.java:82-89): drop all
    rows whose key appears in the compliance-id set, via broadcast
    left-anti join — the fact side never shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    purge_ids = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    kept = joins.purge_anti_join(orders, purge_ids, on="o_custkey")
    return kept.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dsum("o_totalprice").alias("total_price"),
    )


@register(
    "q06_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
    )
    """,
)
def q06_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    customer = load_table(spark, sf_dir, "customer")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.join(big, on="c_custkey", how="left_semi").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Dedup (compaction semantics, SURVEY §2.6)
# ---------------------------------------------------------------------------

@register(
    "q07_dedup_exact_fingerprint",
    """
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS dup_count
    FROM documents
    GROUP BY 1
    """,
)
def q07_dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: hash once, group on the 128-bit
    digest (the shuffle carries 32-byte keys, not documents). Canonical
    representative = min id, so the result is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("fingerprint", text.fingerprint("text"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


@register(
    "q08_dedup_argmax",
    """
    SELECT user_id, event_type, event_id, ts, value FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q08_dedup_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction delta-dedup (RecordKeyDedupReducerBase.reduce:74-97):
    per key keep the record with the greatest delta tuple. Implemented as
    one hash-agg with max_by (map-side partial agg — shuffles one
    candidate per key per partition, not the dataset)."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    return dedup.dedup_argmax(
        events, keys=["user_id", "event_type"], delta=["ts"], tie_breakers=["event_id"]
    ).select("user_id", "event_type", "event_id", "ts", "value")


# ---------------------------------------------------------------------------
# Sorts / limits / top-k / retention (SURVEY §2.7)
# ---------------------------------------------------------------------------

@register(
    "q09_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def q09_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group (NewestKSelectionPolicy generalized)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register(
    "q10_newest_k_deletable",
    """
    SELECT o_orderkey FROM (
        SELECT o_orderkey,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    ) WHERE rn > 2
    """,
)
def q10_newest_k_deletable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NewestKRetentionPolicy.listDeletableVersions: everything past the
    newest K versions per dataset (here: orders per customer)."""
    orders = load_table(spark, sf_dir, "orders")
    deletable = retention.newest_k(
        orders,
        group_by=["o_custkey"],
        version_col="o_orderdate",
        k=2,
        keep=False,
        tie_breakers=["o_orderkey"],
    )
    return deletable.select("o_orderkey")


@register(
    "q11_time_retention",
    "SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'",
)
def q11_time_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeBasedRetentionPolicy: the deletable set older than the cutoff."""
    orders = load_table(spark, sf_dir, "orders")
    return retention.older_than(
        orders, "o_orderdate", F.lit("1996-01-01").cast("timestamp")
    ).select("o_orderkey", "o_orderdate")


@register(
    "q12_select_between",
    """
    SELECT event_id, ts FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def q12_select_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SelectBetweenTimeBasedPolicy time-range selection."""
    events = load_table(spark, sf_dir, "events")
    return retention.select_between(
        events,
        "ts",
        F.lit("2024-01-10 00:00:00").cast("timestamp"),
        F.lit("2024-01-20 00:00:00").cast("timestamp"),
    ).select("event_id", "ts")


# ---------------------------------------------------------------------------
# Windows / sessionization
# ---------------------------------------------------------------------------

@register(
    "q13_running_total",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS DOUBLE) AS running
    FROM events
    """,
)
def q13_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (frame semantics)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    return events.select("user_id", "event_id", running.alias("running"))


@register(
    "q14_sessionize",
    """
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM (
        SELECT user_id,
               CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events
        )
    ) GROUP BY user_id
    """,
)
def q14_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap starts a new session
    (lag + cumulative flag — the batch analogue of session_window)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > 1800),
        1,
    ).otherwise(0)
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# Grouping sets / rollup / cube (free Spark capability, declared in t2)
# ---------------------------------------------------------------------------

@register(
    "q15_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q15_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@register(
    "q16_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q16_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), _dsum("o_totalprice").alias("total")
    )


@register(
    "q17_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q17_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("q17_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM q17_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Set operations (CombineRetentionPolicy union/intersect + except)
# ---------------------------------------------------------------------------

@register(
    "q18_union",
    """
    SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_orderkey FROM orders WHERE o_totalprice > 450000
    """,
)
def q18_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    b = orders.filter(F.col("o_totalprice") > 450000).select("o_orderkey")
    return retention.combine_union(a, b)


@register(
    "q19_intersect",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def q19_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = orders.filter(F.col("o_totalprice") > 300000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return retention.combine_intersect(a, b)


@register(
    "q20_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000
    """,
)
def q20_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no six-figure orders — set difference. (The filter
    keeps the result non-empty at every sf: every customer has *some*
    order in the synthetic data.)"""
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 100000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.exceptAll(orders).distinct()


# ---------------------------------------------------------------------------
# Converters: explode, regex filter, json serde, casts, time partitions
# ---------------------------------------------------------------------------

@register(
    "q21_explode_tokens",
    """
    SELECT token, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) GROUP BY token
    """,
)
def q21_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringSplitterConverter (1:N explode) + aggregation."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    split = C.split_to_rows("text", " ", out="token")
    return docs.transform(split).groupBy("token").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q22_regex_filter",
    """
    SELECT doc_id, lang FROM documents
    WHERE regexp_matches(text, 'batch batch')
    """,
)
def q22_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringFilterConverter: regex row filter."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.transform(C.filter_regex("text", "batch batch")).select(
        "doc_id", "lang"
    )


@register(
    "q23_json_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q23_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-string payload parsing (JsonStringToJsonIntermediateConverter
    surface) + aggregation over the extracted field."""
    events = load_table(spark, sf_dir, "events")
    extracted = events.transform(C.json_get("props", "$.k", out="k_str")).withColumn(
        "k", F.col("k_str").cast("int")
    )
    return extracted.groupBy("event_type").agg(
        F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


@register(
    "q24_time_partition",
    """
    SELECT strftime(o_orderdate, '%Y/%m') AS partition_path,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def q24_time_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TimeBasedWriterPartitioner (partitionForRecord:147): derive the
    time-pattern partition path from the record timestamp; at write time
    this column feeds partitionBy."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "partition_path", F.date_format("o_orderdate", "yyyy/MM")
        )
        .groupBy("partition_path")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("o_totalprice").alias("total"))
    )


@register(
    "q25_watermark_increment",
    """
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1996-01-01' AND l_shipdate <= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q25_watermark_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-interval incremental read (low-exclusive, high-inclusive
    — QueryBasedExtractor predicate semantics). The predicate reaches the
    parquet scan as PushedFilters."""
    li = load_table(spark, sf_dir, "lineitem")
    wm = WatermarkInterval(
        column="l_shipdate",
        low=F.lit("1996-01-01").cast("timestamp"),
        high=F.lit("1997-01-01").cast("timestamp"),
    )
    return wm.apply(li).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), _dsum("l_quantity").alias("sum_qty")
    )


@register(
    "q26_sample_mod",
    """
    SELECT count(*) AS n,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_chars) AS BIGINT) / CAST(count(*) AS DOUBLE) AS avg_chars
    FROM documents WHERE doc_id % 20 = 0
    """,
)
def q26_sample_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sampling (SamplingConverter's reproducible
    variant)."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = docs.transform(C.sample_mod("doc_id", 20))
    return sampled.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars") / F.count(F.lit(1)).cast("double")).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# Quality checking (RowLevelPolicy / RowCountPolicy surface)
# ---------------------------------------------------------------------------

@register(
    "q27_quality_counts",
    """
    SELECT event_type,
           count(*) FILTER (WHERE value >= 0 AND value <= 200 AND user_id IS NOT NULL) AS n_pass,
           count(*) FILTER (WHERE NOT (value >= 0 AND value <= 200 AND user_id IS NOT NULL)) AS n_fail
    FROM events GROUP BY event_type
    """,
)
def q27_quality_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level policy pass/fail accounting (RowLevelPolicyChecker
    metrics) in one pass — no double evaluation of the input."""
    events = load_table(spark, sf_dir, "events")
    ok = (
        (F.col("value") >= 0) & (F.col("value") <= 200) & F.col("user_id").isNotNull()
    )
    return events.groupBy("event_type").agg(
        F.count(F.when(ok, 1)).alias("n_pass"),
        F.count(F.when(~ok, 1)).alias("n_fail"),
    )


# ---------------------------------------------------------------------------
# Text analysis (LLM-pipeline operators)
# ---------------------------------------------------------------------------

@register(
    "q28_text_stats",
    """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS text_len,
           len(list_filter(string_split(text, ' '),
               x -> lower(x) IN ('the','and','of','to','a','in','is','that','for','it')))
             AS stop_hits
    FROM documents
    """,
)
def q28_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/stopword statistics — pure-Column text ops."""
    docs = load_table(spark, sf_dir, "documents")
    # casts to long: Spark size()/length() emit int32 while the oracle's
    # len()/length() emit int64 — align output schemas exactly
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("text_len"),
        text.stopword_count(F.col("text"), "en").cast("long").alias("stop_hits"),
    )


def _lang_oracle() -> str:
    hits = {
        lang: (
            f"len(list_filter(string_split(text, ' '), x -> lower(x) IN "
            f"({', '.join(repr(s) for s in words)})))"
        )
        for lang, words in text.STOPWORDS.items()
    }
    greatest = f"greatest({', '.join(hits[lang] for lang in text.STOPWORDS)})"
    case = "CASE WHEN " + greatest + " = 0 THEN 'und' "
    for lang in text.STOPWORDS:
        case += f"WHEN {hits[lang]} = {greatest} THEN '{lang}' "
    case += "END"
    return f"""
    SELECT lang_guess, count(*) AS n FROM (
        SELECT {case} AS lang_guess FROM documents
    ) GROUP BY lang_guess
    """


@register("q29_lang_guess", _lang_oracle())
def q29_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (cheap first-pass langid filter)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("lang_guess", text.lang_guess("text"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "q30_token_jaccard",
    """
    WITH sub AS (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE doc_id % 50 = 0
    )
    SELECT l.doc_id AS id_l, r.doc_id AS id_r,
           round(len(list_intersect(l.toks, r.toks)) /
                 (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))), 6)
             AS jaccard
    FROM sub l JOIN sub r ON l.doc_id < r.doc_id
    WHERE len(list_intersect(l.toks, r.toks)) /
          (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks))) >= 0.2
    """,
)
def q30_token_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram (n=1) Jaccard similarity pairs over a deterministic document
    sample — the exact-verification stage of fuzzy dedup."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return dedup_fuzzy.jaccard_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.2, shingle_n=1
    )


# ---------------------------------------------------------------------------
# Fuzzy dedup + similarity search. The registered variants run in
# hash_mode="md5" — every hash step (shingle hash, band digest, simhash
# bits) is an md5 derivation both engines compute bit-identically, so the
# full signature -> band -> bucket -> pair pipeline sits under the DuckDB
# value oracle. Production throughput default stays xxhash64 (same
# machinery, one flag; the q63/q64 invariants keep covering that mode).
# ---------------------------------------------------------------------------


def _hexint15(expr: str) -> str:
    """DuckDB: first 15 md5-hex chars of ``expr`` as a 60-bit BIGINT —
    the oracle-side twin of dedup_fuzzy._shingle_hash(md5 mode), which
    uses Spark's conv(substring(md5(x),1,15),16,10)."""
    return (
        "list_reduce([strpos('0123456789abcdef', d)-1 "
        f"for d in regexp_split_to_array(substr(md5({expr}),1,15), '')], "
        "(a,b) -> a*16+b)"
    )


def _minhash_oracle(num_hashes: int, bands: int, seed: int = 42) -> str:
    from incubator_gobblin_spark.functions.dedup_fuzzy import (
        _MERSENNE_P,
        _hash_coeffs,
    )

    coeffs = _hash_coeffs(num_hashes, seed)
    rpb = num_hashes // bands
    mins = ",\n             ".join(
        f"min((h*{a} + {b}) % {_MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(coeffs)
    )
    bandrows = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band_id, md5(concat_ws(',', {cols})) AS band_hash FROM sig".format(
            b=b, cols=", ".join(f"m{b * rpb + i}" for i in range(rpb))
        )
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\\s+') AS tk FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(tk[i:i+1], ' ') AS s
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
    ),
    base AS (SELECT doc_id, {_hexint15('s')} % {_MERSENNE_P} AS h FROM sh),
    sig AS (SELECT doc_id, {mins} FROM base GROUP BY doc_id),
    banded AS ({bandrows}),
    sized AS (
      SELECT doc_id, band_id, band_hash,
             count(*) OVER (PARTITION BY band_id, band_hash) AS bsz
      FROM banded
    )
    SELECT DISTINCT l.doc_id AS id_l, r.doc_id AS id_r
    FROM sized l JOIN sized r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
    WHERE l.bsz <= 512
    """


@register("q31_minhash_candidates", _minhash_oracle(num_hashes=32, bands=8))
def q31_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (shingle->minhash->band->
    bucket-join), md5 hash mode: the oracle replays the identical
    2-gram shingle -> 60-bit md5 base hash -> 32-way affine min-hash ->
    per-band md5 bucket digest -> bounded-bucket pair expansion in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_fuzzy.minhash_candidate_pairs(
        docs, id_col="doc_id", text_col="text", num_hashes=32, bands=8,
        shingle_n=2, hash_mode="md5",
    )


def _simhash_oracle(max_hamming: int, prefix_bits: int) -> str:
    digits = ", ".join(
        f"strpos('0123456789abcdef', substr(h,{j + 1},1))-1 AS d{j}"
        for j in range(16)
    )
    vote_sums = ",\n             ".join(
        f"sum(CASE WHEN ((d{i // 4} >> {i % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(64)
    )
    hi = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << (i - 32)} ELSE 0 END)" for i in range(32, 64)
    )
    lo = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t FROM documents
    ),
    hx AS (SELECT doc_id, md5(t) AS h FROM toks WHERE t != ''),
    dg AS (SELECT doc_id, {digits} FROM hx),
    votes AS (SELECT doc_id, {vote_sums} FROM dg GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST({hi} AS BIGINT) AS shhi, CAST({lo} AS BIGINT) AS shlo FROM votes),
    sized AS (
      SELECT doc_id, shhi, shlo, shhi >> {32 - prefix_bits} AS bucket,
             count(*) OVER (PARTITION BY (shhi >> {32 - prefix_bits})) AS bsz
      FROM sig
    )
    SELECT id_l, id_r, hamming FROM (
      SELECT l.doc_id AS id_l, r.doc_id AS id_r,
             CAST(bit_count(xor(l.shhi, r.shhi)) + bit_count(xor(l.shlo, r.shlo)) AS BIGINT) AS hamming
      FROM sized l JOIN sized r ON l.bucket = r.bucket AND l.doc_id < r.doc_id
      WHERE l.bsz <= 512
    ) WHERE hamming <= {max_hamming}
    """


@register("q32_simhash_neardups", _simhash_oracle(max_hamming=12, prefix_bits=8))
def q32_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (prefix-bucket LSH + hamming filter), md5
    hash mode: 64 signature bits read out of each token's md5 hex
    digest, signature carried as two unsigned 32-bit halves — the
    oracle recomputes votes, signs, prefix buckets and hamming in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup_fuzzy.simhash_near_dups(
        docs, id_col="doc_id", text_col="text", max_hamming=12, prefix_bits=8,
        hash_mode="md5",
    )
    return out.select("id_l", "id_r", F.col("hamming").cast("long").alias("hamming"))


@register(
    "q33_ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id < 8)
    SELECT query_id, neighbor_id, sim FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(q.qv, v.embedding::DOUBLE[]), 6) AS sim,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qv, v.embedding::DOUBLE[]), 6) DESC,
                            v.vec_id ASC
               ) AS rn
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id
    ) WHERE rn <= 5
    """,
)
def q33_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline): broadcast the
    query set, score JVM-side, window top-k per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return similarity.cosine_topk(
        emb, queries_df, id_col="vec_id", vec_col="embedding", k=5
    )


def _planes_cte(dim: int, num_bits: int, seed: int = 42) -> str:
    """The SRP hyperplanes as a DuckDB VALUES clause. The planes are a
    pure function of (dim, num_bits, seed) — the SAME Python floats the
    engine ships to its Arrow matmul UDF — and repr() round-trips
    doubles exactly, so both engines project onto bit-identical plane
    vectors. (Sign ties — a projection within float ulp of 0 — could
    still bucket differently across summation orders; astronomically
    unlikely on real-valued embeddings and tolerated by the contract.)"""
    from incubator_gobblin_spark.functions.similarity import _hyperplanes

    planes = _hyperplanes(dim, num_bits, seed)
    rows = ",\n      ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes)
    )
    return f"(VALUES\n      {rows}) t(p, pv)"


def _lsh_topk_oracle(num_bits: int, bands: int, k: int) -> str:
    bpb = num_bits // bands
    return f"""
    WITH planes AS (SELECT * FROM {_planes_cte(64, num_bits)}),
    b AS (
      SELECT e.vec_id, p.p // {bpb} AS band_id,
             sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pv) >= 0
                 THEN 1 << (p.p % {bpb}) ELSE 0 END) AS band_key
      FROM embeddings e, planes p GROUP BY e.vec_id, band_id
    ),
    bq AS (SELECT * FROM b WHERE vec_id < 8),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
      FROM bq q JOIN b v ON q.band_id = v.band_id AND q.band_key = v.band_key
      WHERE v.vec_id <> q.vec_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             round(list_cosine_similarity(qe.embedding::DOUBLE[],
                                          ve.embedding::DOUBLE[]), 6) AS sim
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ve ON ve.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


@register("q34_ann_lsh_topk", _lsh_topk_oracle(num_bits=16, bands=8, k=5))
def q34_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: signed-random-projection LSH candidates + exact
    re-rank (the 100 TB path; recall < 1 by design). The oracle replays
    the identical plane projections (literal hyperplanes), band keys,
    candidate join and top-k re-rank in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return similarity.lsh_topk(
        emb, queries_df, dim=64, id_col="vec_id", vec_col="embedding", k=5,
        num_bits=16, bands=8,
    )


# ---------------------------------------------------------------------------
# Pivot-style conditional aggregation
# ---------------------------------------------------------------------------

@register(
    "q35_pivot_events",
    """
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'view') AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           CAST(sum(CAST(value AS DECIMAL(18,6))) FILTER (WHERE event_type = 'purchase') AS DOUBLE)
             AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def q35_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (explicit-values form with stable column names)."""
    events = load_table(spark, sf_dir, "events")
    aggs = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ["click", "view", "purchase", "signup", "error"]
    ]
    purchase_value = (
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).cast("decimal(18,6)")
        )
        .cast("double")
        .alias("purchase_value")
    )
    return events.groupBy("user_id").agg(*aggs, purchase_value)


# ---------------------------------------------------------------------------
# Window function matrix (lag/lead/rank/dense_rank + frames)
# ---------------------------------------------------------------------------

@register(
    "q36_window_functions",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(rank()       OVER w AS BIGINT) AS rk,
           CAST(dense_rank() OVER w AS BIGINT) AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def q36_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("drk"),
    )


@register(
    "q37_moving_sum",
    """
    SELECT user_id, event_id,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS mv_sum
    FROM events
    """,
)
def q37_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded window frame (moving aggregate)."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("mv_sum"),
    )


# ---------------------------------------------------------------------------
# Scalar function surface (string/date built-ins — the cast-converter family)
# ---------------------------------------------------------------------------

@register(
    "q38_scalar_functions",
    """
    SELECT o_orderkey,
           upper(o_orderstatus) AS status_u,
           substring(o_orderpriority, 1, 3) AS prio3,
           concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mo,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since
    FROM orders WHERE o_orderkey % 10 = 0
    """,
)
def q38_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    return orders.select(
        "o_orderkey",
        F.upper("o_orderstatus").alias("status_u"),
        F.substring("o_orderpriority", 1, 3).alias("prio3"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("long")
        .alias("days_since"),
    )


@register(
    "q39_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q39_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (expand + two-phase agg in Spark)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q40_having",
    """
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def q40_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "q41_case_bucketing",
    """
    SELECT CASE WHEN o_totalprice < 100000 THEN 'low'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'high' END AS band,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders GROUP BY 1
    """,
)
def q41_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN bucketing (the enum/row-policy classification shape)."""
    orders = load_table(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 100000, "low")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("high")
    )
    return (
        orders.withColumn("band", band)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("o_totalprice").alias("total"))
    )


# ---------------------------------------------------------------------------
# Join matrix completion: full outer, cross, shuffle (sort-merge) join
# ---------------------------------------------------------------------------

@register(
    "q42_full_outer_join",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_cust
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(n_cust, 0) AS n_cust,
           coalesce(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def q42_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    c = customer.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    s = supplier.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    j = c.alias("c").join(s.alias("s"), F.col("c.nk") == F.col("s.nk"), "full_outer")
    return j.select(
        F.coalesce(F.col("c.nk"), F.col("s.nk")).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@register(
    "q43_cross_join",
    """
    SELECT r_name, s.o_orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q43_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    status = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return region.crossJoin(status)


@register(
    "q44_shuffle_join",
    """
    SELECT p_brand,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q44_shuffle_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi-join with no broadcast hint: Catalyst/AQE pick
    the physical join (broadcast at small sf, sort-merge at scale) — the
    declared general-join capability."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(_dsum("l_extendedprice").alias("revenue"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Serde: from_json struct parse; union-all accounting; compaction audit
# ---------------------------------------------------------------------------

@register(
    "q45_from_json_struct",
    """
    SELECT user_id,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events GROUP BY user_id
    """,
)
def q45_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-schema JSON parse (parse_json converter with the schema
    lattice) rather than per-path extraction."""
    from incubator_gobblin_spark import schema as S

    events = load_table(spark, sf_dir, "events")
    struct_type = S.to_struct_type(
        [{"columnName": "k", "dataType": {"type": "int"}}]
    )
    parsed = events.transform(C.parse_json("props", struct_type, out="p"))
    return parsed.groupBy("user_id").agg(F.sum(F.col("p.k")).alias("sum_k"))


@register(
    "q46_union_all",
    """
    SELECT src, count(*) AS n FROM (
        SELECT 'f' AS src FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT 'big' AS src FROM orders WHERE o_totalprice > 400000
    ) GROUP BY src
    """,
)
def q46_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics union (MultiWorkUnit-style multi-source read)."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(F.lit("f").alias("src"))
    b = orders.filter(F.col("o_totalprice") > 400000).select(
        F.lit("big").alias("src")
    )
    return a.unionAll(b).groupBy("src").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q47_compaction_audit",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(*) AS n_records,
           count(DISTINCT event_id) AS n_keys
    FROM events GROUP BY 1
    """,
)
def q47_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction audit counts per window (CompactionAuditCountVerifier /
    InputRecordCountHelper): records vs distinct keys — the
    duplication-rate report."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("event_id").alias("n_keys"),
    )


@register(
    "q48_oldest_k",
    """
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
        SELECT o_custkey, o_orderkey, o_orderdate,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ) AS rn
        FROM orders
    ) WHERE rn <= 2
    """,
)
def q48_oldest_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NewestKSelectionPolicy in OLDEST mode (:126 — selects the oldest K
    versions when configured)."""
    orders = load_table(spark, sf_dir, "orders")
    oldest = retention.newest_k(
        orders,
        group_by=["o_custkey"],
        version_col="o_orderdate",
        k=2,
        keep=True,
        newest_first=False,
        tie_breakers=["o_orderkey"],
    )
    return oldest.select("o_custkey", "o_orderkey", "o_orderdate")


@register(
    "q49_text_quality",
    """
    SELECT doc_id,
           round(
             (CASE WHEN sw_ratio > 0.05 THEN 0.4 ELSE sw_ratio * 8 END)
             + (CASE WHEN mtl >= 3 AND mtl <= 10 THEN 0.4 ELSE 0.1 END)
             + 0.2 * (1.0 - least(pr * 4, 1.0)), 4) AS quality
    FROM (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '),
                   x -> lower(x) IN ('the','and','of','to','a','in','is','that','for','it')))
                 / greatest(len(string_split(text, ' ')), 1) AS sw_ratio,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                   x -> length(x)), 'sum') AS DOUBLE)
                 / greatest(len(string_split(text, ' ')), 1) AS mtl,
               CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1) AS pr
        FROM documents
    )
    """,
)
def q49_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (the cheap pre-filter before
    model-based scoring)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


@register(
    "q50_knn_l2",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings WHERE vec_id >= 490)
    SELECT query_id, neighbor_id, dist FROM (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               round(sqrt(list_aggregate(list_transform(
                   list_zip(q.qv, v.embedding::DOUBLE[]),
                   p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')), 6) AS dist,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(sqrt(list_aggregate(list_transform(
                       list_zip(q.qv, v.embedding::DOUBLE[]),
                       p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')), 6) ASC,
                   v.vec_id ASC
               ) AS rn
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id
    ) WHERE rn <= 3
    """,
)
def q50_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN under L2 (metric variety for the similarity-search
    family; same broadcast + window top-k plan as cosine)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") >= 490).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    v = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_vv"))
    sq = F.zip_with(
        F.col("_qv"),
        F.col("_vv"),
        lambda a, b: (a.cast("double") - b.cast("double"))
        * (a.cast("double") - b.cast("double")),
    )
    dist = F.round(F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)), 6)
    scored = (
        v.join(F.broadcast(q), on=F.lit(True))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("dist", dist)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 3)
        .select("query_id", "neighbor_id", "dist")
    )


@register(
    "q51_embedding_neardup_exact",
    """
    SELECT a.vec_id AS id_l, b.vec_id AS id_r,
           round(list_cosine_similarity(a.embedding::DOUBLE[],
                                        b.embedding::DOUBLE[]), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 6) >= 0.35
    """,
)
def q51_embedding_neardup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline
    (broadcast one side; no shuffle of the big side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(emb, threshold=0.35)


def _neardup_lsh_oracle(num_bits: int, bands: int, threshold: float) -> str:
    bpb = num_bits // bands
    return f"""
    WITH planes AS (SELECT * FROM {_planes_cte(64, num_bits)}),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) > 0
    ),
    b AS (
      SELECT v.vec_id, p.p // {bpb} AS band_id,
             sum(CASE WHEN list_dot_product(v.ev, p.pv) >= 0
                 THEN 1 << (p.p % {bpb}) ELSE 0 END) AS band_key
      FROM v, planes p GROUP BY v.vec_id, band_id
    ),
    sized AS (
      SELECT vec_id, band_id, band_key,
             count(*) OVER (PARTITION BY band_id, band_key) AS bsz
      FROM b
    )
    SELECT DISTINCT id_l, id_r, sim FROM (
      SELECT l.vec_id AS id_l, r.vec_id AS id_r,
             round(list_dot_product(le.ev, re.ev)
                   * (1.0/sqrt(list_dot_product(le.ev, le.ev)))
                   * (1.0/sqrt(list_dot_product(re.ev, re.ev))), 6) AS sim
      FROM sized l
      JOIN sized r ON l.band_id = r.band_id AND l.band_key = r.band_key
                  AND l.vec_id < r.vec_id
      JOIN v le ON le.vec_id = l.vec_id
      JOIN v re ON re.vec_id = r.vec_id
      WHERE l.bsz BETWEEN 2 AND 512
    ) WHERE sim >= {threshold}
    """


@register(
    "q52_embedding_neardup_lsh",
    _neardup_lsh_oracle(num_bits=64, bands=8, threshold=0.35),
)
def q52_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via SRP-LSH buckets + exact re-rank —
    the corpus-scale path (recall < 1 by design). The oracle replays the
    plane projections (literal hyperplanes), bounded buckets, in-bucket
    pair expansion and the dot*inv_l*inv_r re-rank in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(
        emb, dim=64, threshold=0.35, num_bits=64, bands=8
    )


@register(
    "q53_asof_join",
    """
    SELECT e.event_id, e.user_id, e.ts, o.o_orderdate AS last_order_date
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def q53_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each event picks the user's latest order at or before
    the event time) via the union+window pattern: one shuffle on the key,
    no range-join candidate explosion. Spark has no built-in ASOF;
    DuckDB's native ASOF JOIN is the oracle."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    )
    out = joins.asof_join(
        events.select("event_id", "user_id", "ts"),
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderdate"],
        how="inner",
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("o_orderdate").alias("last_order_date")
    )


@register(
    "q54_range_join",
    """
    SELECT c.event_id AS click_id, w.event_id AS error_id, c.user_id, c.ts
    FROM events c
    JOIN (SELECT event_id, user_id, ts AS lo, ts + INTERVAL 10 MINUTE AS hi
          FROM events WHERE event_type = 'error') w
      ON c.user_id = w.user_id AND c.ts >= w.lo AND c.ts <= w.hi
    WHERE c.event_type = 'click'
    """,
)
def q54_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (clicks inside a same-user 10-minute error window)
    via time bucketing: equi-join on (user, bucket) + exact range filter —
    no nested-loop candidate explosion (the naive plan Spark would pick)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    windows = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
    )
    out = joins.range_join(
        clicks, windows, left_ts="ts", lo="lo", hi="hi",
        on=["user_id"], bucket="10 minutes",
    )
    return out.select("click_id", "error_id", "user_id", "ts")


@register(
    "q55_ivf_assign",
    """
    WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < 8),
    assigned AS (
        SELECT vec_id, cid,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY round(list_distance(embedding::DOUBLE[], cv), 6), cid
               ) AS rn
        FROM embeddings CROSS JOIN cents
    )
    SELECT CAST(cid AS INT) AS cluster_id,
           count(*) AS n,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id
    FROM assigned WHERE rn = 1
    GROUP BY 1
    """,
)
def q55_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization: the quantizer's centroids (here the first
    8 vectors, standing in for k-means-of-sample) are collected driver-
    side ONCE and embedded as plan literals, so assignment is a pure
    projection — no shuffle, no UDF, no join against the centroid set.
    The lake path to ANN at 100 TB: partition by cluster_id, then queries
    prune to probed clusters. First-wins tie semantics on both sides
    (array_position's first minimal index == ORDER BY dist, cid)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _first8_centroids(spark, sf_dir)
    # sqrt to mirror DuckDB's list_distance exactly: identical rounded
    # values -> identical tie behavior
    dists = [
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        double_array_col(c),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )
        for c in cents
    ]
    cluster = (
        F.array_position(F.array(*dists), F.array_min(F.array(*dists))) - 1
    ).cast("int")
    assigned = emb.withColumn("cluster_id", cluster)
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n"), F.min("vec_id").alias("min_vec_id")
    )


@register(
    "q56_avro_scan_agg",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def q56_avro_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro lake scan (AvroHdfsDataWriter.java:51 output format +
    FileBasedSource listing): the orders table is materialized ONCE as
    deflate avro container files, then scanned through the native avro
    FileFormat (spark-sql's bundled implementation addressed by class
    name — columnar decode, whole-stage codegen downstream) and
    aggregated. Oracle runs the same aggregation over the parquet copy,
    proving the avro write+scan is value-faithful end to end."""
    import os

    from incubator_gobblin_spark.formats.avro_ocf import read_avro, write_avro

    cache = _cache_dir("avro", sf_dir, "orders")
    # _SUCCESS gates the cache: an aborted write leaves a dir without it
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        write_avro(load_table(spark, sf_dir, "orders"), cache)
    orders = read_avro(spark, cache)
    return orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("o_totalprice").alias("sum_price"),
    )


@register(
    "q57_orc_scan_agg",
    """
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q57_orc_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC lake scan (GobblinBaseOrcWriter.java:53 output +
    HiveAvroORCQueryGenerator read-side): lineitem materialized once as
    zlib ORC, scanned through Spark's columnar ORC reader, aggregated.
    Oracle runs over the parquet copy — the ORC write+scan is
    value-faithful end to end."""
    import os

    cache = _cache_dir("orc", sf_dir, "lineitem")
    # _SUCCESS gates the cache: an aborted write leaves a dir without it
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        load_table(spark, sf_dir, "lineitem").write.mode("overwrite").option(
            "compression", "zlib"
        ).orc(cache)
    li = spark.read.orc(cache)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), _dsum("l_quantity").alias("sum_qty")
    )


@register(
    "q58_envelope_decode_agg",
    """
    SELECT c_mktsegment,
           count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q58_envelope_decode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-registry envelope pipeline (EnvelopeSchemaConverter.java:57):
    customer rows framed as magic+id+avro-binary envelopes (cached once),
    decoded per record against the plan-time registry snapshot, then
    aggregated. PYTHON-BY-NECESSITY: binary avro decode has no JVM
    implementation without the spark-avro package (AvroDataToCatalyst),
    so this query's decode stage is an Arrow-batched pandas UDF —
    exempted, with this rationale, from the zero-EvalPython plan rule."""
    import os

    from incubator_gobblin_spark.formats.registry import (
        InMemorySchemaRegistry,
        decode_envelope,
        encode_envelope,
    )

    schema = {
        "type": "record",
        "name": "customer_env",
        "fields": [
            {"name": "c_custkey", "type": "long"},
            {"name": "c_mktsegment", "type": ["null", "string"]},
            {"name": "c_acctbal", "type": ["null", "double"]},
        ],
    }
    registry = InMemorySchemaRegistry()
    sid = registry.register("customer", schema)

    cache = os.path.join(
        "/tmp/gobblin_envelope_cache", os.path.basename(sf_dir.rstrip("/")), "customer"
    )
    # _SUCCESS gates the cache: an aborted write leaves a dir without it
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "customer")
            .select(
                encode_envelope(
                    F.struct("c_custkey", "c_mktsegment", "c_acctbal"), schema, sid
                ).alias("value")
            )
            .write.mode("overwrite")
            .parquet(cache)
        )
    env = spark.read.parquet(cache)
    dec = env.select(
        decode_envelope("value", registry, subject="customer").alias("s")
    ).select("s.*")
    return dec.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"), _dsum("c_acctbal").alias("sum_bal")
    )


@register(
    "q59_scalar_subquery_above_avg",
    """
    SELECT p_brand,
           count(*) AS n,
           CAST(min(p_retailprice) AS DOUBLE) AS min_price
    FROM part
    WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
    GROUP BY p_brand
    """,
)
def q59_scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter (the compaction threshold-verifier shape,
    CompactionThresholdVerifier): global aggregate computed once,
    broadcast into the fact filter — one scan computes the avg, one
    scan filters; no driver-side collect of the scalar."""
    part = load_table(spark, sf_dir, "part")
    avg_df = part.agg(F.avg("p_retailprice").alias("_avg"))
    return (
        part.join(F.broadcast(avg_df))
        .filter(F.col("p_retailprice") > F.col("_avg"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("p_retailprice").cast("double").alias("min_price"),
        )
    )


@register(
    "q60_time_partition_tree_rollup",
    """
    SELECT CAST(strftime(ts, '%Y') AS VARCHAR) AS year,
           CAST(strftime(ts, '%m') AS VARCHAR) AS month,
           CAST(strftime(ts, '%d') AS VARCHAR) AS day,
           count(*) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q60_time_partition_tree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level time-partition math (TimeBasedWriterPartitioner
    .partitionForRecord:147 via sinks.time_partition_tree): the exact
    year/month/day derivation the partitioned writer uses, aggregated —
    proving the directory-tree math against the oracle's strftime."""
    from incubator_gobblin_spark.sinks.files import time_partition_tree

    ev = load_table(spark, sf_dir, "events")
    levels = time_partition_tree("ts", granularity="day")
    for name, col in levels:
        ev = ev.withColumn(name, col)
    return ev.groupBy("year", "month", "day").agg(F.count(F.lit(1)).alias("n"))


@register(
    "q61_rest_entry_projection",
    """
    SELECT 'nations/' || CAST(n_nationkey AS VARCHAR) || '/region/' ||
           CAST(n_regionkey AS VARCHAR) AS resource,
           '{"n_name":"' || n_name || '"}' AS json
    FROM nation
    """,
)
def q61_rest_entry_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST entry converter (AvroToRestJsonEntryConverter.java:43):
    resource template rendered JVM-side (format_string) + JSON body
    (to_json) — the HTTP-egress record shape as a pure projection."""
    from incubator_gobblin_spark.operators.converters import to_rest_entry

    nation = load_table(spark, sf_dir, "nation")
    out = to_rest_entry(
        "nations/{n_nationkey}/region/{n_regionkey}", json_fields=["n_name"]
    )(nation)
    return out.select("resource", "json")


@register(
    "q62_winnow_fingerprints",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x != '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id, CASE WHEN len(toks) - 3 <= 0 THEN []::VARCHAR[]
        ELSE [array_to_string(toks[i:i+3], ' ')
              FOR i IN range(1, len(toks) - 3 + 1)] END AS grams
      FROM t
    ), h AS (
      SELECT doc_id, [substring(md5(x), 1, 16) FOR x IN grams] AS hashes
      FROM g
    ), w AS (
      SELECT doc_id, CASE
        WHEN len(hashes) = 0 THEN []::VARCHAR[]
        WHEN len(hashes) - 3 <= 0 THEN [list_aggregate(hashes, 'min')]
        ELSE list_sort(list_distinct(
               [list_aggregate(hashes[i:i+3], 'min')
                FOR i IN range(1, len(hashes) - 3 + 1)]))
      END AS fps FROM h
    )
    SELECT doc_id, len(fps) AS n_fps, fps[1] AS min_fp FROM w
    """,
)
def q62_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints over the documents table
    (functions/text.py:winnow_fingerprints): per doc, the count of
    local-minimum shingle hashes and the smallest fingerprint. Pure
    Column — the oracle reproduces the md5-prefix hashes bit-for-bit
    via DuckDB list comprehensions."""
    docs = load_table(spark, sf_dir, "documents")
    fps = text.winnow_fingerprints("text", k=4, window=4)
    return docs.select(
        "doc_id",
        F.size(fps).alias("n_fps"),
        F.element_at(fps, 1).alias("min_fp"),
    )


@register(
    "q63_minhash_covers_exact_dups",
    """
    SELECT count(*) AS n_covered
    FROM documents
    WHERE len(string_split_regex(text, '\\s+')) >= 2
    """,
)
def q63_minhash_covers_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine MinHash-LSH invariant: identical texts share every
    band bucket, so when the corpus is unioned with an id-shifted copy
    of itself, EVERY (doc, copy) pair of a shingle-eligible doc must
    appear among the candidate pairs. Spark counts the covered pairs;
    the oracle independently counts the eligible docs — equal iff the
    signature/banding/bucket pipeline routes identical inputs
    identically (any hashing, banding, or bucket-expansion bug drops
    the count). Assumes no boilerplate cluster exceeds the bucket cap
    at oracle scale (holds for the test corpora)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    cand = dedup_fuzzy.minhash_candidate_pairs(
        docs.unionByName(shifted),
        id_col="doc_id",
        text_col="text",
        num_hashes=32,
        bands=8,
        shingle_n=2,
    )
    expected = docs.filter(F.size(text.tokens("text")) >= 2).select(
        F.col("doc_id").alias("id_l"),
        (F.col("doc_id") + F.lit(1_000_000)).alias("id_r"),
    )
    return expected.join(cand, ["id_l", "id_r"]).agg(
        F.count(F.lit(1)).alias("n_covered")
    )


@register(
    "q64_simhash_covers_exact_dups",
    """
    SELECT count(*) AS n_covered
    FROM documents
    WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) >= 1
    """,
)
def q64_simhash_covers_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine SimHash invariant (same construction as q63):
    identical texts produce identical 64-bit simhashes, hence the same
    prefix bucket and hamming distance 0, so every (doc, id-shifted
    copy) pair of a token-bearing doc must be reported as a near-dup.
    The oracle counts the token-bearing docs independently."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    pairs = dedup_fuzzy.simhash_near_dups(
        docs.unionByName(shifted), id_col="doc_id", text_col="text"
    )
    eligible = text.tokens("text")
    expected = docs.filter(
        F.size(F.filter(eligible, lambda t: t != "")) >= 1
    ).select(
        F.col("doc_id").alias("id_l"),
        (F.col("doc_id") + F.lit(1_000_000)).alias("id_r"),
    )
    return expected.join(pairs, ["id_l", "id_r"]).agg(
        F.count(F.lit(1)).alias("n_covered")
    )


@register(
    "q65_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x != '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 0 THEN 0
                  ELSE 1 + CAST(ceil(greatest(len(toks) - 40, 0) / 32.0) AS INT)
             END AS n_chunks
      FROM t
    )
    SELECT doc_id, u.chunk_id, u.start_tok, u.n_tokens, u.chunk_md5
    FROM (
      SELECT doc_id,
             unnest([{'chunk_id': CAST(i AS INT),
                      'start_tok': CAST(i * 32 AS INT),
                      'n_tokens': CAST(least(n - i * 32, 40) AS INT),
                      'chunk_md5': md5(array_to_string(
                          toks[i * 32 + 1 : i * 32 + 40], ' '))}
                     FOR i IN range(0, n_chunks)]) AS u
      FROM c
    )
    """,
)
def q65_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (functions/text.py:chunk_spans): 40-token
    windows, 8-token overlap (stride 32), exploded to one row per
    chunk with the chunk content md5'd for compact comparison. Pure
    Column projection — no shuffle added by the chunker itself."""
    docs = load_table(spark, sf_dir, "documents")
    span = F.explode(text.chunk_spans("text", chunk_tokens=40, overlap=8))
    return docs.select("doc_id", span.alias("_c")).select(
        "doc_id",
        F.col("_c.chunk_id").alias("chunk_id"),
        F.col("_c.start_tok").alias("start_tok"),
        F.col("_c.n_tokens").alias("n_tokens"),
        F.md5(F.col("_c.chunk")).alias("chunk_md5"),
    )


@register(
    "q66_pii_redaction",
    """
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text || ' contact user' || doc_id ||
             '@example.com or 555-123-4567 (ssn 123-45-6789, host 10.0.0.' ||
             (doc_id % 256) || ')',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
             '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g')
           ) AS redacted_md5
    FROM documents
    """,
)
def q66_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (functions/text.py:redact_pii) over the corpus,
    with a deterministic PII suffix appended per doc so the redaction
    provably fires on every row in both engines (the corpus itself
    carries no planted PII). Chain of JVM regexp_replace — no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-123-4567 (ssn 123-45-6789, host 10.0.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(")"),
    )
    return docs.select(
        "doc_id", F.md5(text.redact_pii(with_pii)).alias("redacted_md5")
    )


@register(
    "q67_ivf_topk",
    """
    WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < 8),
    qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 20),
    vassign AS (
        SELECT vec_id, embedding FROM embeddings
    ), vcell AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT v.vec_id, v.embedding, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY round(list_distance(v.embedding::DOUBLE[], c.cv), 6), c.cid
                   ) AS rn
            FROM vassign v CROSS JOIN cents c
        ) WHERE rn = 1
    ), probes AS (
        SELECT query_id, qv, cid FROM (
            SELECT q.query_id, q.qv, c.cid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_distance(q.qv, c.cv), 6), c.cid
                   ) AS rn
            FROM qs q CROSS JOIN cents c
        ) WHERE rn <= 2
    ), cand AS (
        SELECT p.query_id, v.vec_id AS neighbor_id,
               round(list_cosine_similarity(p.qv, v.embedding::DOUBLE[]), 6) AS sim
        FROM probes p JOIN vcell v ON v.cid = p.cid
        WHERE v.vec_id != p.query_id
    )
    SELECT query_id, neighbor_id, sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
        ) AS rn FROM cand
    ) WHERE rn <= 5
    """,
)
def q67_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search end-to-end (similarity.ivf_topk): corpus assigned
    to literal centroids, each query probes its 2 nearest cells, exact
    cosine re-rank inside the probed cells, top-5. The whole coarse
    stage is a projection — the only exchange is the candidate
    equi-join on cluster_id (partition-prunable when the lake is laid
    out by cluster). Oracle replicates assignment, probing, and
    re-ranking exactly (round-6 distances, first-wins centroid ties,
    neighbor-id sim ties)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _first8_centroids(spark, sf_dir)
    return similarity.ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 20),
        cents,
        k=5,
        n_probe=2,
    )


# ---------------------------------------------------------------------------
# ANN coverage invariants (oracle-checked falsifiability for the
# no-oracle LSH family, same construction as q63/q64)
# ---------------------------------------------------------------------------

@register(
    "q68_srplsh_covers_identical",
    """
    SELECT count(*) AS n_covered FROM embeddings
    WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    """,
)
def q68_srplsh_covers_identical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine SRP-LSH invariant for q52's machinery
    (similarity.cosine_near_dup_pairs): identical vectors project to
    identical sign bits, hence share EVERY band bucket and re-rank at
    cosine 1.0 >= threshold — so when the corpus is unioned with an
    id-shifted copy of itself, every (vector, copy) pair of a
    nonzero-norm vector must be reported. Spark counts the covered
    pairs; the oracle independently counts the eligible vectors — any
    hyperplane, banding, bucket-expansion, or re-rank bug drops the
    count. (Assumes buckets stay under the skew cap at oracle scale —
    holds for the test corpora.)"""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shifted = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    pairs = similarity.cosine_near_dup_pairs(
        emb.unionByName(shifted), dim=64, threshold=0.35, num_bits=64, bands=8
    )
    expected = emb.filter(similarity.norm(F.col("embedding")) > 0).select(
        F.col("vec_id").alias("id_l"),
        (F.col("vec_id") + F.lit(1_000_000)).alias("id_r"),
    )
    return expected.join(pairs, ["id_l", "id_r"]).agg(
        F.count(F.lit(1)).alias("n_covered")
    )


@register(
    "q69_lsh_topk_self_retrieval",
    """
    SELECT count(*) AS n_self_top1 FROM embeddings WHERE vec_id < 8
    """,
)
def q69_lsh_topk_self_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine invariant for q34's machinery (similarity.lsh_topk):
    with an id-shifted copy of every vector unioned into the corpus,
    each query's copy shares all its bands, survives candidate
    generation, and re-ranks at cosine 1.0 — strictly above every
    other vector (the corpus has no duplicate vectors), so it MUST be
    the top-1 neighbor. Spark counts queries whose top-1 is their own
    copy at sim 1.0; the oracle counts the query set."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shifted = emb.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(shifted)
    queries_df = emb.filter(F.col("vec_id") < 8)
    res = similarity.lsh_topk(
        corpus, queries_df, dim=64, id_col="vec_id", vec_col="embedding",
        k=5, num_bits=16, bands=8,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    top1 = res.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    hit = (F.col("neighbor_id") == F.col("query_id") + 1_000_000) & (
        F.col("sim") >= 0.999999
    )
    return top1.agg(
        F.sum(F.when(hit, 1).otherwise(0)).alias("n_self_top1")
    )


# ---------------------------------------------------------------------------
# Corpus-level training-data operators (functions/corpus.py)
# ---------------------------------------------------------------------------

@register(
    "q70_decontamination",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]) AS g
      FROM toks
    ), tg AS (
      SELECT doc_id, unnest(g) AS gram FROM grams WHERE doc_id % 97 <> 0
    ), bg AS (
      SELECT DISTINCT unnest(g) AS gram FROM grams WHERE doc_id % 97 = 0
    )
    SELECT tg.doc_id, count(*) AS n_shared_ngrams
    FROM tg JOIN bg USING (gram)
    GROUP BY tg.doc_id
    """,
)
def q70_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (corpus.decontaminate): trigram overlap
    between the training split (doc_id % 97 != 0) and a benchmark split
    (doc_id % 97 == 0). The benchmark's distinct grams broadcast, so
    the 100 TB training side never shuffles before the per-doc count."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return corpus.decontaminate(train, bench, id_col="doc_id", text_col="text", n=3)


@register(
    "q71_repetition_stats",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS t
      FROM documents
    ), cnt AS (
      SELECT doc_id, gram, count(*) AS c FROM (
        SELECT doc_id, unnest([array_to_string(t[i:i+1], ' ') FOR i IN range(1, len(t))]) AS gram
        FROM toks
      ) GROUP BY doc_id, gram
    ), top AS (
      SELECT doc_id, max(c) AS top_ngram_count, sum(c) AS n_grams FROM cnt GROUP BY doc_id
    )
    SELECT toks.doc_id,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_distinct_tokens,
           round(CASE WHEN len(t) > 0 THEN 1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE) ELSE 0.0 END, 6) AS dup_token_ratio,
           coalesce(top.top_ngram_count, 0) AS top_ngram_count,
           round(coalesce(top.top_ngram_count / CAST(top.n_grams AS DOUBLE), 0.0), 6) AS top_ngram_ratio
    FROM toks LEFT JOIN top USING (doc_id)
    """,
)
def q71_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (corpus.repetition_stats):
    duplicate-token fraction + most-frequent-bigram share, per doc."""
    docs = load_table(spark, sf_dir, "documents")
    rep = corpus.repetition_stats(docs, id_col="doc_id", text_col="text", n=2)
    return rep.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "dup_token_ratio",
        F.col("top_ngram_count").cast("long").alias("top_ngram_count"),
        "top_ngram_ratio",
    )


@register(
    "q72_hot_ngrams",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS t
      FROM documents
    ), ex AS (
      SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)])) AS gram
      FROM toks
    )
    SELECT gram, count(*) AS n_docs FROM ex GROUP BY gram HAVING count(*) >= 5
    """,
)
def q72_hot_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate detection (corpus.hot_ngrams): trigrams
    appearing in >= 5 distinct documents — the n-gram-granularity form
    of cross-document exact substring dedup (Lee et al.)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.hot_ngrams(docs, id_col="doc_id", text_col="text", n=3, min_docs=5)


@register(
    "q73_tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS t
      FROM documents
    ), tfc AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY doc_id, term
    ), dfc AS (
      SELECT term, count(*) AS df FROM tfc GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, tfidf, rank FROM (
      SELECT tfc.doc_id, tfc.term,
             round(tf * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1.0), 6) AS tfidf,
             row_number() OVER (
               PARTITION BY tfc.doc_id
               ORDER BY round(tf * (ln((n_docs + 1) / CAST(df + 1 AS DOUBLE)) + 1.0), 6) DESC,
                        tfc.term ASC
             ) AS rank
      FROM tfc JOIN dfc USING (term) CROSS JOIN n
    ) WHERE rank <= 3
    """,
)
def q73_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (corpus.tfidf_top_terms):
    smoothed idf, broadcast one-row N, window top-k — all JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    res = corpus.tfidf_top_terms(docs, id_col="doc_id", text_col="text", k=3)
    return res.select(
        "doc_id", "term", "tfidf", F.col("rank").cast("long").alias("rank")
    )


@register(
    "q74_stratified_sample",
    """
    SELECT doc_id, lang, source FROM documents
    WHERE (lang = 'de' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000')
       OR (lang = 'en' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000')
       OR (lang = 'fr' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '19999999')
    """,
)
def q74_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (corpus.sample_stratified):
    per-language keep fractions via md5-hex thresholds — identical kept
    set on every engine/partitioning, unlike seeded sampleBy. Strata
    not listed (zh, es) are dropped."""
    docs = load_table(spark, sf_dir, "documents")
    sampled = corpus.sample_stratified(
        docs, strata_col="lang", fractions={"en": 0.5, "de": 0.25, "fr": 0.1},
        key="doc_id",
    )
    return sampled.select("doc_id", "lang", "source")


@register(
    "q75_bm25_search",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS t
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, term, count(*) AS tf FROM (
        SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks
      ) WHERE term IN ('spark', 'hash', 'window') GROUP BY doc_id, dl, term
    ), dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks)
    SELECT doc_id,
           round(CAST(sum(CAST(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * 2.2
               / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
             AS DECIMAL(18,8))) AS DOUBLE), 6) AS score
    FROM tf JOIN dfc USING (term) CROSS JOIN stats
    GROUP BY doc_id
    """,
)
def q75_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 scoring for a 3-term query (corpus.bm25_scores, k1=1.2,
    b=0.75): query terms fold into the scan filter; N/avgdl/df ride
    broadcast one-row aggregates; one shuffle on the doc id. Per-term
    contributions sum through decimal for order-independence."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.bm25_scores(
        docs, ["spark", "hash", "window"], id_col="doc_id", text_col="text",
        k1=1.2, b=0.75,
    )


@register(
    "q76_group_quantiles",
    """
    WITH ranked AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           max(n) AS n_rows,
           max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN l_extendedprice END) AS p50,
           max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN l_extendedprice END) AS p90,
           max(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN l_extendedprice END) AS p99
    FROM ranked GROUP BY l_returnflag
    """,
)
def q76_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles via the discrete (value-at-index)
    formulation: rank rows in-group, pick the value at ceil(q*n).
    Deterministic on every engine — unlike interpolating
    percentile/quantile_cont built-ins, whose float blending differs
    engine-to-engine. One window over the group partition (single
    shuffle); at 100 TB swap in approx_percentile for the screening
    pass and keep this for the audited final numbers."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = Window.partitionBy("l_returnflag")
    ranked = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    def _at(q: float):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(q) * F.col("n")).cast("long"),
                F.col("l_extendedprice"),
            )
        )
    return ranked.groupBy("l_returnflag").agg(
        F.max("n").alias("n_rows"),
        _at(0.5).alias("p50"),
        _at(0.9).alias("p90"),
        _at(0.99).alias("p99"),
    )


@register(
    "q77_stats_moments",
    """
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sy,
             CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((sxy - sx * sy / n) / n, 6) AS covar_pop,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr,
           round(sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * n)), 6) AS stddev_pop_qty
    FROM s
    """,
)
def q77_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev from decimal-exact moment sums
    (the statistical-aggregate surface). Built-in corr()/stddev() use
    streaming co-moment updates whose float accumulation order is
    engine- and partition-dependent; summing the raw moments through
    decimal is exact and order-independent, so the derived statistics
    are bit-reproducible — the moments also downgrade to ONE map-side
    combining aggregation at 100 TB (five sums), vs the built-ins'
    per-group state merge."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")

    def dsum(expr):
        return F.sum(expr.cast("decimal(38,8)")).cast("double")

    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "l_returnflag",
        "n",
        F.round((sxy - sx * sy / n) / n, 6).alias("covar_pop"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr"),
        F.round(
            F.sqrt((n * sxx - sx * sx) / (n.cast("double") * n)), 6
        ).alias("stddev_pop_qty"),
    )


@register(
    "q78_multimodal_binary_stats",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def q78_multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing under a HARD correctness check
    (multimodal.binary_stats): documents' text becomes an opaque binary
    payload column (the media-column contract), then the same
    Arrow-batched mapInPandas stage shape as the stubbed decode
    computes byte counts + md5 digests — values an external engine
    reproduces exactly. Proves the batching/schema/binary-transfer
    path end-to-end, not just in fake mode."""
    from incubator_gobblin_spark.functions import multimodal

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return multimodal.binary_stats(docs, id_col="doc_id", payload_col="payload")


@register(
    "q79_skew_hot_keys",
    """
    WITH counts AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
      ORDER BY n DESC, user_id ASC LIMIT 10
    ), total AS (SELECT count(*) AS t FROM events)
    SELECT user_id, n,
           round(n / CAST(t AS DOUBLE), 6) AS frac,
           row_number() OVER (ORDER BY n DESC, user_id ASC) AS rank
    FROM counts CROSS JOIN total
    """,
)
def q79_skew_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew diagnostic (joins.skew_report): the numbers that
    decide between plain shuffle, AQE skew split, and explicit salting.
    TakeOrderedAndProject top-k — no global sort of the key space."""
    events = load_table(spark, sf_dir, "events")
    return joins.skew_report(events, ["user_id"], top=10)


_JACCARD_SAMPLE_CTE = """
    sub AS (
        SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
        FROM documents WHERE doc_id % 10 = 0
    ), pairs AS (
        SELECT l.doc_id AS id_l, r.doc_id AS id_r
        FROM sub l JOIN sub r ON l.doc_id < r.doc_id AND l.lang = r.lang
        WHERE len(list_intersect(l.toks, r.toks)) /
              (len(l.toks) + len(r.toks) - len(list_intersect(l.toks, r.toks)))
              >= 0.5
    ), edges AS (
        SELECT id_l AS a, id_r AS b FROM pairs
        UNION SELECT id_r, id_l FROM pairs
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        WHERE e.b <> r.a
    )
"""


def _jaccard_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language jaccard near-dup pairs over a deterministic sample
    (5 languages -> a genuinely multi-cluster duplicate graph)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup_fuzzy.jaccard_pairs(
        docs, id_col="doc_id", text_col="text", threshold=0.5, shingle_n=1,
        partition_by="lang",
    )


@register(
    "q80_dedup_clusters",
    f"""
    WITH RECURSIVE {_JACCARD_SAMPLE_CTE}
    SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
    """,
)
def q80_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components (pointer-
    jumping label propagation, O(log d) rounds) over the verified
    jaccard near-dup pairs of q30. Oracle = DuckDB recursive-CTE
    transitive closure on the identical pair list."""
    return graph.connected_components(
        _jaccard_sample_pairs(spark, sf_dir), src="id_l", dst="id_r"
    )


@register(
    "q81_fuzzy_dedup_keep",
    f"""
    WITH RECURSIVE {_JACCARD_SAMPLE_CTE}
    SELECT d.doc_id, d.n_chars
    FROM documents d
    WHERE d.doc_id % 10 = 0
      AND d.doc_id NOT IN (
        SELECT a FROM reach GROUP BY a HAVING least(a, min(b)) <> a)
    """,
)
def q81_fuzzy_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end fuzzy dedup decision: candidate pairs -> transitive
    clusters -> keep the canonical (min-id) doc per cluster, singletons
    untouched. The loser list is tiny next to the corpus, so the final
    anti-join broadcasts."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    kept = graph.dedup_by_pairs(
        docs, _jaccard_sample_pairs(spark, sf_dir), "doc_id"
    )
    return kept.select("doc_id", "n_chars")


@register(
    "q82_cap_per_source",
    """
    SELECT doc_id, source, lang FROM (
      SELECT doc_id, source, lang,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def q82_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (corpus.cap_per_group): keep <= 20 docs
    per source in deterministic md5(doc_id) order — the C4-style
    per-domain curation cap. Runs the two-phase (salted) top-k path,
    which must agree bit-for-bit with the oracle's one-shot window."""
    docs = load_table(spark, sf_dir, "documents")
    capped = corpus.cap_per_group(docs, "source", 20, key="doc_id", salt_parts=8)
    return capped.select("doc_id", "source", "lang")


@register(
    "q83_split_assignment",
    """
    SELECT split, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
    FROM (
      SELECT CASE
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
        ELSE 'test'
        END AS split, n_chars
      FROM documents
    ) GROUP BY split
    """,
)
def q83_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (corpus.assign_split):
    consecutive md5-hex ranges sized 90/5/5 — membership is a pure
    function of the key, so incremental arrivals never migrate between
    splits. Aggregated per split for a compact oracle row set."""
    docs = load_table(spark, sf_dir, "documents")
    split = corpus.assign_split(
        docs, key="doc_id", splits={"train": 0.9, "val": 0.05, "test": 0.05}
    )
    return split.groupBy("split").agg(
        F.count("*").alias("docs"), F.sum("n_chars").alias("chars")
    )


@register(
    "q84_pack_sequences",
    r"""
    WITH laid AS (
      SELECT lang, doc_id, n,
             CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id ASC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e,
             CAST(sum(n) OVER (PARTITION BY lang ORDER BY doc_id ASC
                               ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS s
      FROM (
        -- token count = number of maximal \S+ runs: identical to
        -- filter(split(trim(text),'\s+'), x -> x != '') but immune to
        -- engine-version differences in regex-split edge semantics
        SELECT lang, doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n
        FROM documents
      ) WHERE n > 0
    )
    SELECT CAST(lang AS VARCHAR) AS stream,
           CAST(bin AS BIGINT) AS bin, doc_id,
           CAST(greatest(bin * 512, s) - s AS BIGINT) AS tok_from,
           CAST(least((bin + 1) * 512, e) - s AS BIGINT) AS tok_to
    FROM (
      SELECT lang, doc_id, s, e,
             unnest(range(CAST(s // 512 AS BIGINT),
                          CAST((e - 1) // 512 + 1 AS BIGINT))) AS bin
      FROM laid
    )
    """,
)
def q84_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (corpus.pack_chunks): documents laid end-to-end
    per language stream and cut into 512-token training bins; one row
    per (bin, doc) with the doc-relative token span. Window cumsum per
    stream + integer bin expansion — no UDF, one shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.pack_chunks(
        docs, budget=512, id_col="doc_id", text_col="text", stream_col="lang"
    )


@register(
    "q85_scd2_intervals",
    """
    SELECT user_id, event_type, event_id, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type
                 ORDER BY ts ASC, event_id ASC, value ASC, props ASC)
    """,
)
def q85_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal SCD2 history (dedup.scd2_history): every record becomes
    a validity interval closed by the key's next record; latest is
    open-ended. One shuffle on the key; interval form of the
    compaction delta-merge family, pairing with asof_join reads."""
    ev = load_table(spark, sf_dir, "events")
    hist = dedup.scd2_history(ev, keys=["user_id", "event_type"], ts_col="ts")
    return hist.select(
        "user_id", "event_type", "event_id", "valid_from", "valid_to", "is_current"
    )


@register(
    "q86_profile_columns",
    """
    SELECT 'o_custkey' AS col_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_value,
           CAST(max(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderpriority),
           CAST(min(o_orderpriority) AS VARCHAR), CAST(max(o_orderpriority) AS VARCHAR)
    FROM orders
    """,
)
def q86_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column drift profile (quality.profile_columns): rows / nulls /
    exact distincts / min / max for three orders columns in ONE
    aggregation pass (multi-count-distinct plans through an Expand;
    the approx_count_distinct variant drops the Expand at full scale)."""
    orders = load_table(spark, sf_dir, "orders")
    from incubator_gobblin_spark.operators.quality import profile_columns

    prof = profile_columns(
        orders, ["o_custkey", "o_orderstatus", "o_orderpriority"]
    )
    return prof.withColumnRenamed("column", "col_name")


@register(
    "q87_orc_scan_agg",
    """
    SELECT p_brand, p_type,
           count(*) AS n,
           CAST(sum(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
    FROM part
    GROUP BY p_brand, p_type
    """,
)
def q87_orc_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC lake scan (GobblinBaseOrcWriter.java:53 output format): the
    part table is materialized ONCE as ORC through the self-tuning
    stripe options (orc_tuned_options — stripe geometry sized from a
    bounded row-width sample), then scanned via Spark's vectorized ORC
    reader and aggregated. Oracle runs the same aggregation over the
    parquet copy, proving the ORC write+scan is value-faithful end to
    end — the same gate q56 gives the avro path."""
    import os

    from incubator_gobblin_spark.sinks.files import orc_tuned_options

    cache = _cache_dir("orc", sf_dir, "part")
    if not os.path.exists(os.path.join(cache, "_SUCCESS")):
        part = load_table(spark, sf_dir, "part")
        writer = part.write.mode("overwrite").format("orc")
        for k, v in orc_tuned_options(part).items():
            writer = writer.option(k, v)
        writer.save(cache)
    part_orc = spark.read.orc(cache)
    return part_orc.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("n"),
        _dsum("p_retailprice").alias("sum_price"),
    )


@register(
    "q88_manifest_snapshot_agg",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE event_id >= 2000
    GROUP BY event_type
    """,
)
def q88_manifest_snapshot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-lake read path end to end: events published ONCE as two
    append runs with disjoint event_id ranges into a manifest-committed
    lake (per-file stats captured at publish), then read through
    read_committed with a range predicate — the manifest prunes the
    low run's files before Spark lists them, the predicate re-applies
    exactly, and the aggregation must match the oracle's full-scan
    filter over the parquet source."""
    import os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType

    cache = _cache_dir("manifest", sf_dir, "events")
    sink = FileSink(
        path=cache, table_type=TableType.APPEND_ONLY, commit_mode="manifest"
    )
    if sink.current_manifest() is None or len(sink.manifest_history()) < 2:
        ev = load_table(spark, sf_dir, "events")
        sink.write_staging(ev.filter(F.col("event_id") < 2000), "run_lo")
        sink.publish("run_lo")
        sink.write_staging(ev.filter(F.col("event_id") >= 2000), "run_hi")
        sink.publish("run_hi")
    snap = sink.read_committed(spark, filters=[("event_id", ">=", 2000)])
    return snap.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), _dsum("value").alias("sum_value")
    )


@register(
    "q89_dedup_lines",
    r"""
    WITH lines AS (
      SELECT doc_id,
             u.z[1] AS line,
             CAST(u.z[2] AS BIGINT) AS pos
      FROM (
        SELECT doc_id,
               list_zip(string_split(text, chr(10)),
                        range(1, len(string_split(text, chr(10))) + 1)) AS zs
        FROM documents
      ), unnest(zs) AS u(z)
    ), hot AS (
      SELECT line FROM lines WHERE trim(line) != ''
      GROUP BY line HAVING count(DISTINCT doc_id) >= 2
    ), kept AS (
      SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)
    ), rebuilt AS (
      SELECT doc_id, count(*) AS kept_n,
             string_agg(line, chr(10) ORDER BY pos) AS text_deduped
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(string_split(d.text, chr(10))) AS n_lines,
           len(string_split(d.text, chr(10))) - COALESCE(r.kept_n, 0) AS n_removed,
           COALESCE(r.text_deduped, '') AS text_deduped
    FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q89_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup (corpus.dedup_lines): any
    non-empty line appearing in >= 2 distinct documents is boilerplate,
    removed from every document with order preserved. Two shuffles:
    distinct-doc counts per line, then the document rebuild."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.dedup_lines(docs, id_col="doc_id", text_col="text", min_docs=2)


@register(
    "q90_trigram_logprob",
    """
    WITH tris AS (
      SELECT doc_id, substr(t, i, 3) AS tri
      FROM (
        SELECT doc_id, lower(substr(text, 1, 1000)) AS t FROM documents
      ), unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
    ), model AS (
      SELECT tri, count(*) AS c FROM tris GROUP BY tri
    ), total AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM model)
    SELECT doc_id,
           count(*) AS n_trigrams,
           CAST(sum(CAST(round(ln(c / total), 6) AS DECIMAL(18,6)))
                AS DOUBLE) AS sum_logp
    FROM tris JOIN model USING (tri) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def q90_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram LM quality score (corpus.trigram_logprob, the
    CCNet-era filter shape): the corpus is the model, each doc scores
    its mean trigram log-probability. Model = one count shuffle; corpus
    total = broadcast one-row aggregate; per-term logs round to 6 dp
    before an order-independent decimal sum."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.trigram_logprob(docs, id_col="doc_id", text_col="text")


@register(
    "q91_kafka_roundtrip_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q91_kafka_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka ingestion surface under a HARD oracle: documents are
    produced ONCE into the file-backed broker (mock_kafka, keyed by
    doc_id over 4 partitions), the bounded batch path plans offset
    ranges and reads them back (KafkaSource.getWorkunits:190 ->
    KafkaExtractor.java:59), the JSON payloads decode through from_json,
    and the aggregate must equal a direct scan of the parquet source —
    proving produce, offset planning, partitioned bounded read, and
    payload decode lose and duplicate nothing. The broker build is
    cached keyed by the source parquet's identity; a partial/stale
    broker (offset sum != row count) is rebuilt from scratch."""
    import os
    import shutil

    from incubator_gobblin_spark.sources import kafka_batch as KB
    from incubator_gobblin_spark.sources import mock_kafka as MK

    MK.register(spark)
    docs = load_table(spark, sf_dir, "documents")
    root = _cache_dir("mockkafka", sf_dir, "documents")
    topic = "documents"
    expected = docs.count()
    try:
        _, latest = MK.earliest_latest(root, topic)
        have = sum(latest.values())
    except FileNotFoundError:
        have = -1
    if have != expected:
        shutil.rmtree(os.path.join(root, topic), ignore_errors=True)
        MK.create_topic(root, topic, 4)
        (
            docs.select(
                F.col("doc_id").cast("string").alias("key"),
                F.to_json(
                    F.struct("doc_id", "lang", "n_chars")
                ).alias("value"),
            )
            .write.format("mockkafka")
            .mode("append")
            .option("path", root)
            .option("topic", topic)
            .option("numPartitions", "4")
            .save()
        )
    earliest, latest = MK.earliest_latest(root, topic)
    ranges = KB.plan_offsets(earliest, latest, None, topic)
    payload = KB.read_kafka_batch(
        spark,
        "",
        ranges,
        value_schema="doc_id BIGINT, lang STRING, n_chars BIGINT",
        reader_format="mockkafka",
        reader_options={"path": root},
    )
    return payload.select("value.*").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q92_quality_classifier",
    r"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(
                 toks,
                 t -> ('0x' || substr(md5(t), 1, 2))::BIGINT - 128
               )) AS BIGINT) AS score_units,
           list_sum(list_transform(
                 toks,
                 t -> ('0x' || substr(md5(t), 1, 2))::BIGINT - 128
               )) > 0 AS keep
    FROM (
      SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
      FROM documents
    )
    WHERE len(toks) > 0
    """,
)
def q92_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier
    (corpus.quality_classifier_units): fasttext-shaped doc scoring as a
    pure integer Column projection — md5-derived per-token weights
    summed per document, keep = positive score. No shuffle, no UDF;
    trained weights swap in by broadcast join on the same hash."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.quality_classifier_units(docs)


@register(
    "q93_semantic_dedup",
    """
    WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < 8),
    assigned AS (
        SELECT vec_id, cid,
               round(list_distance(embedding::DOUBLE[], cv), 6) AS d,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY round(list_distance(embedding::DOUBLE[], cv), 6),
                            cid
               ) AS rn
        FROM embeddings CROSS JOIN cents
    )
    SELECT vec_id, CAST(cid AS INT) AS cluster_id,
           (row_number() OVER (
               PARTITION BY cid ORDER BY d ASC, vec_id ASC)) = 1 AS keep
    FROM assigned WHERE rn = 1
    """,
)
def q93_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.semantic_dedup):
    cluster embeddings by nearest centroid (literal-centroid
    projection, as q55) and keep one representative per semantic
    cluster — the curation pass that removes near-meaning-identical
    documents exact and MinHash dedup cannot see. One shuffle (the
    per-cluster window)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _first8_centroids(spark, sf_dir)
    return similarity.semantic_dedup(emb, cents)


@register(
    "q94_mixture_materialize",
    """
    SELECT doc_id, lang, u.copy_n
    FROM (
      SELECT doc_id, lang,
             CAST(floor(w) AS BIGINT) +
             (CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        ::BIGINT / 4294967296.0 < w - floor(w)
                   THEN 1 ELSE 0 END) AS copies
      FROM (
        SELECT doc_id, lang,
               CASE WHEN lang = 'en' THEN 2.5
                    WHEN lang = 'zh' THEN 1.0
                    ELSE 0.5 END AS w
        FROM documents
      )
    ), unnest(range(1, copies + 1)) AS u(copy_n)
    """,
)
def q94_mixture_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture materialization
    (corpus.materialize_mixture): per-language sampling weights repeat
    or thin documents — en 2.5x, zh 1.0x, rest 0.5x — with the
    fractional copy decided by the doc's md5 hash fraction, so the
    mixture is a pure function of the id. Projection + explode; no
    shuffle, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    mixed = corpus.materialize_mixture(
        docs, weights={"en": 2.5, "zh": 1.0}, default_weight=0.5
    )
    return mixed.select("doc_id", "lang", "copy_n")


@register(
    "q95_multimodal_decode_roundtrip",
    """
    SELECT doc_id,
           CAST(1 + n_chars % 16 AS INT) AS width,
           CAST(1 + doc_id % 8 AS INT) AS height,
           24 AS bpp,
           CAST(doc_id % 256 AS DOUBLE) AS mean_lum
    FROM documents
    """,
)
def q95_multimodal_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL multimodal decode stage under a hard oracle: every
    document synthesizes an uncompressed BMP payload whose dimensions
    and constant pixel value are pure functions of its columns
    (width = 1 + n_chars % 16, height = 1 + doc_id % 8, pixel =
    doc_id % 256), the bytes run through the Arrow-batched
    ``decode_bmp`` stage (struct header parse + numpy pixel array with
    padding stripped), and the decoded values must reproduce the
    SQL-computed expectations exactly — an encode→decode roundtrip
    proof that the decode stage really decodes, not a plumbing stub."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    from incubator_gobblin_spark.functions import multimodal as MM

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _encode(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        import struct as _struct

        def make_bmp(width: int, height: int, pixel: int) -> bytes:
            row = width * 3
            pad = (-row) % 4
            img = (bytes([pixel]) * row + b"\x00" * pad) * height
            off = 14 + 40
            header = _struct.pack("<2sIHHI", b"BM", off + len(img), 0, 0, off)
            dib = _struct.pack(
                "<IiiHHIIiiII",
                40, width, height, 1, 24, 0, len(img), 2835, 2835, 0, 0,
            )
            return header + dib + img

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "path": pdf["doc_id"].astype(str),
                    "content": [
                        make_bmp(
                            1 + int(n) % 16, 1 + int(d) % 8, int(d) % 256
                        )
                        for d, n in zip(pdf["doc_id"], pdf["n_chars"])
                    ],
                }
            )

    encoded = docs.mapInPandas(
        _encode, schema="doc_id bigint, path string, content binary"
    )
    decoded = MM.decode_bmp(encoded)
    return decoded.select(
        F.col("path").cast("long").alias("doc_id"),
        "width",
        "height",
        "bpp",
        "mean_lum",
    )


@register(
    "q96_dsir_weights",
    r"""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS tgt,
             ('0x' || substr(md5(t), 1, 4))::BIGINT % 256 AS b
      FROM (SELECT doc_id, lang, unnest(regexp_extract_all(text, '\S+')) AS t
            FROM documents)
    ), model AS (
      SELECT b, count(*) AS raw_c,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tgt_c
      FROM toks GROUP BY b
    ), tot AS (
      SELECT CAST(sum(raw_c) AS DOUBLE) AS raw_t,
             CAST(sum(tgt_c) AS DOUBLE) AS tgt_t FROM model
    )
    SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(CAST(round(ln((tgt_c + 1) / (tgt_t + 256))
                             - ln((raw_c + 1) / (raw_t + 256)), 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS sum_logratio
    FROM toks JOIN model USING (b) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q96_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (corpus.dsir_logratio): hashed-unigram
    log-likelihood ratio of the target domain (lang='en') vs the raw
    corpus, per document — the importance-resampling data-selection
    step (Xie et al. 2023). Model = ONE count shuffle collapsing to 256
    bucket rows; scoring = broadcast join + one doc aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.dsir_logratio(docs, F.col("lang") == "en")


@register(
    "q97_perplexity_buckets",
    """
    WITH tris AS (
      SELECT doc_id, substr(t, i, 3) AS tri
      FROM (SELECT doc_id, lower(substr(text, 1, 1000)) AS t FROM documents),
           unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS u(i)
    ), model AS (SELECT tri, count(*) AS c FROM tris GROUP BY tri),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM model),
    scored AS (
      SELECT doc_id, count(*) AS n_trigrams,
             CAST(sum(CAST(round(ln(c / total), 6) AS DECIMAL(18,6)))
                  AS DOUBLE) AS sum_logp
      FROM tris JOIN model USING (tri) CROSS JOIN total
      GROUP BY doc_id
    ), ranked AS (
      SELECT s.doc_id, d.lang, s.n_trigrams, s.sum_logp,
             row_number() OVER (PARTITION BY d.lang
                 ORDER BY s.sum_logp / s.n_trigrams DESC, s.doc_id) AS rn,
             count(*) OVER (PARTITION BY d.lang) AS n
      FROM scored s JOIN documents d USING (doc_id)
    )
    SELECT doc_id, lang, n_trigrams, sum_logp,
           CASE WHEN rn * 3 <= n THEN 'head'
                WHEN rn * 3 <= n * 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM ranked
    """,
)
def q97_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (corpus.perplexity_buckets): trigram
    LM score -> per-language head/middle/tail terciles with explicit
    deterministic tie-breaks — the published CCNet keep-head+middle
    quality split, composed from the engine's own trigram model."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.perplexity_buckets(docs)


@register(
    "q98_lake_changes",
    """
    WITH base AS (SELECT * FROM orders WHERE o_orderkey % 3 = 0),
    upd AS (SELECT * FROM base
            WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 0),
    del AS (SELECT * FROM base WHERE o_orderkey % 11 = 0),
    ins AS (SELECT * FROM orders
            WHERE o_orderkey % 3 = 1 AND o_orderkey % 5 = 0)
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           'upd:' || CAST(o_orderkey AS VARCHAR) AS o_orderpriority,
           'insert' AS _change_type
    FROM upd
    UNION ALL
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority, 'delete'
    FROM upd
    UNION ALL
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority, 'delete'
    FROM del
    UNION ALL
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderpriority, 'insert'
    FROM ins
    """,
)
def q98_lake_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed over the manifest lake (FileSink.read_changes):
    a base snapshot of orders takes a CDC merge (updates, deletes,
    inserts), and the CDF between the two commits must be EXACTLY the
    delete+insert pairs of the updates, the deletes, and the inserts —
    rewritten-but-identical survivor rows cancel. The file diff is
    driver-side manifest metadata; only rewritten files are read."""
    import shutil

    from incubator_gobblin_spark.sinks.files import FileSink, TableType

    cache = _cache_dir("lakecdf", sf_dir, "orders")
    sink = FileSink(
        path=cache, table_type=TableType.APPEND_ONLY, commit_mode="manifest"
    )
    done = (
        sink.current_manifest() is not None
        and "cdc1" in sink.manifest_history()
    )
    if not done:
        shutil.rmtree(cache, ignore_errors=True)
        sink = FileSink(
            path=cache, table_type=TableType.APPEND_ONLY, commit_mode="manifest"
        )
        orders = load_table(spark, sf_dir, "orders")
        k = F.col("o_orderkey")
        sink.write_staging(orders.filter(k % 3 == 0).repartition(4), "base")
        sink.publish("base")
        cdc_touch = orders.filter(
            (k % 3 == 0) & ((k % 7 == 0) | (k % 11 == 0))
        ).withColumn(
            "o_orderpriority",
            F.when(
                k % 11 != 0, F.concat(F.lit("upd:"), k.cast("string"))
            ).otherwise(F.col("o_orderpriority")),
        ).withColumn(
            "op", F.when(k % 11 == 0, F.lit("delete")).otherwise(F.lit(None))
        )
        ins = orders.filter((k % 3 == 1) & (k % 5 == 0)).withColumn(
            "op", F.lit(None).cast("string")
        )
        sink.merge_into(
            spark,
            cdc_touch.unionByName(ins),
            on=["o_orderkey"],
            run_id="cdc1",
            op_col="op",
        )
    changes = sink.read_changes(spark, "base")
    return changes.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderpriority",
        "_change_type",
    )


@register(
    "q99_pq_topk",
    """
    WITH j AS (SELECT unnest(range(0, 8)) AS j),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id < 8),
    csub AS (SELECT c.cid, j.j, list_slice(c.cv, j.j*8+1, j.j*8+8) AS csv
             FROM cents c, j),
    qsub AS (SELECT j.j, list_slice(q.qv, j.j*8+1, j.j*8+8) AS qsv FROM q, j),
    coded AS (
      SELECT e.vec_id, c.j, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id, c.j
               ORDER BY round(list_distance(
                   list_slice(e.embedding::DOUBLE[], c.j*8+1, c.j*8+8),
                   c.csv), 6),
                 c.cid) AS rn
      FROM embeddings e, csub c
    ),
    terms AS (
      SELECT co.vec_id,
             round(round(list_distance(qs.qsv, cs.csv), 6) ^ 2, 6) AS t
      FROM coded co
      JOIN csub cs ON cs.j = co.j AND cs.cid = co.cid
      JOIN qsub qs ON qs.j = co.j
      WHERE co.rn = 1
    )
    SELECT vec_id AS neighbor_id,
           CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS approx_dist
    FROM terms WHERE vec_id <> 0
    GROUP BY vec_id
    ORDER BY approx_dist ASC, neighbor_id ASC
    LIMIT 20
    """,
)
def q99_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (similarity.pq_topk, Jégou et al.
    2011): 64-dim embeddings split into 8x8 subspaces, codebooks from
    the first 8 vectors' sub-slices (deterministic, as q93's
    centroids), query = vec_id 0. Codes and the distance lookup table
    are plan literals — the whole ADC scan is a shuffle-free projection
    + TakeOrdered."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _first8_centroids(spark, sf_dir)
    codebooks = [[c[j * 8 : (j + 1) * 8] for c in cents] for j in range(8)]
    query = cents[0]
    return similarity.pq_topk(emb, query, codebooks, k=20, exclude_id=0)


@register(
    "q100_ivfpq_topk",
    """
    WITH j AS (SELECT unnest(range(0, 8)) AS j),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
              FROM embeddings WHERE vec_id < 8),
    probe AS (
      SELECT cid FROM (
        SELECT c.cid, round(list_distance(c.cv, q.qv), 6) AS d
        FROM cents c, q)
      ORDER BY d, cid LIMIT 2
    ),
    assigned AS (
      SELECT vec_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_distance(e.embedding::DOUBLE[], c.cv), 6),
                   c.cid) AS rn
        FROM embeddings e, cents c)
      WHERE rn = 1 AND cid IN (SELECT cid FROM probe)
    ),
    csub AS (SELECT c.cid, j.j, list_slice(c.cv, j.j*8+1, j.j*8+8) AS csv
             FROM cents c, j),
    qsub AS (SELECT j.j, list_slice(q.qv, j.j*8+1, j.j*8+8) AS qsv FROM q, j),
    coded AS (
      SELECT e.vec_id, c.j, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id, c.j
               ORDER BY round(list_distance(
                   list_slice(e.embedding::DOUBLE[], c.j*8+1, c.j*8+8),
                   c.csv), 6),
                 c.cid) AS rn
      FROM embeddings e JOIN assigned USING (vec_id), csub c
    ),
    terms AS (
      SELECT co.vec_id,
             round(round(list_distance(qs.qsv, cs.csv), 6) ^ 2, 6) AS t
      FROM coded co
      JOIN csub cs ON cs.j = co.j AND cs.cid = co.cid
      JOIN qsub qs ON qs.j = co.j
      WHERE co.rn = 1
    )
    SELECT vec_id AS neighbor_id,
           CAST(sum(CAST(t AS DECIMAL(18,6))) AS DOUBLE) AS approx_dist
    FROM terms WHERE vec_id <> 0
    GROUP BY vec_id
    ORDER BY approx_dist ASC, neighbor_id ASC
    LIMIT 20
    """,
)
def q100_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ / IVFADC end-to-end (similarity.ivfpq_topk): probe the 2
    nearest coarse cells of the query, PQ-ADC re-rank inside them. The
    cell filter is a literal-centroid projection — partition-prunable
    when the lake is laid out by cell — and the oracle replicates probe
    (round-6, cid ties), assignment, and ADC exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _first8_centroids(spark, sf_dir)
    codebooks = [[c[j * 8 : (j + 1) * 8] for c in cents] for j in range(8)]
    return similarity.ivfpq_topk(
        emb, cents[0], cents, codebooks, k=20, n_probe=2, exclude_id=0
    )


@register(
    "q101_c4_rules",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)
               AS n_sentences,
           round(CAST(len(list_filter(string_split(text, chr(10)),
                     ln -> len(list_filter(string_split_regex(trim(ln), '\s+'),
                               w -> w != '')) >= 5
                           AND regexp_matches(ln, '[.!?"]\s*$')))
                 AS DOUBLE) / len(string_split(text, chr(10))), 6)
               AS frac_lines_kept,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{') AS has_brace,
           len(regexp_extract_all(text, '[.!?]')) >= 3
             AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{') AS keep
    FROM documents
    """,
)
def q101_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning heuristics (corpus.c4_rules, Raffel et al. 2020):
    sentence counts, keepable-line fraction, lorem-ipsum/brace flags,
    page keep decision — one shuffle-free Column pass."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.c4_rules(docs)


@register(
    "q102_gopher_rules",
    r"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           round(CAST(list_sum(list_transform(toks, w -> len(w)))
                      AS DOUBLE) / len(toks), 6) AS mean_word_len,
           round(CAST(len(regexp_extract_all(text, '#|\.\.\.'))
                      AS DOUBLE) / len(toks), 6) AS symbol_ratio,
           round(CAST(len(list_filter(toks,
                          w -> regexp_matches(w, '[A-Za-z]')))
                      AS DOUBLE) / len(toks), 6) AS alpha_frac,
           len(toks) BETWEEN 50 AND 100000
             AND round(CAST(list_sum(list_transform(toks, w -> len(w)))
                            AS DOUBLE) / len(toks), 6) BETWEEN 3.0 AND 10.0
             AND round(CAST(len(regexp_extract_all(text, '#|\.\.\.'))
                            AS DOUBLE) / len(toks), 6) <= 0.1
             AND round(CAST(len(list_filter(toks,
                            w -> regexp_matches(w, '[A-Za-z]')))
                            AS DOUBLE) / len(toks), 6) >= 0.8 AS keep
    FROM (SELECT doc_id, text, regexp_extract_all(text, '\S+') AS toks
          FROM documents)
    WHERE len(toks) > 0
    """,
)
def q102_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText quality rules (corpus.gopher_rules, Rae et
    al. 2021 A1.1): word-count bounds, mean word length, symbol ratio,
    alphabetic-word fraction, keep decision — shuffle-free."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.gopher_rules(docs)


@register(
    "q103_weighted_sample",
    """
    SELECT doc_id, lang, n_chars FROM (
      SELECT doc_id, lang, n_chars,
             CAST(n_chars AS DOUBLE) * 4294967296.0 /
               (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) + 1.0) AS pri
      FROM documents)
    ORDER BY pri DESC, doc_id LIMIT 100
    """,
)
def q103_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (sketches.weighted_sample,
    priority sampling — Duffield/Lund/Thorup JACM 2007): top-100 docs
    by priority n_chars/u with u an md5 hash of doc_id. Every
    arithmetic step is a single correctly-rounded IEEE op, so the
    DuckDB oracle reproduces the identical sample set. TakeOrdered
    plan — per-partition top-k, no global sort shuffle."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return sketches.weighted_sample(docs, "doc_id", "n_chars", k=100)


@register(
    "q104_approx_distinct",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_exact,
           CAST(1 AS BIGINT) AS within_tol
    FROM orders GROUP BY o_orderpriority
    """,
)
def q104_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct customers per order priority with its
    error invariant (sketches.approx_distinct_report): the sketch
    estimate must land within 10% of the exact count (HLL is seedless
    — the estimate is a pure function of the value set, so the flag is
    deterministic, and the oracle pins it at 1). At 100 TB the exact
    side drops away and the O(registers)-state sketch remains."""
    orders = load_table(spark, sf_dir, "orders")
    return sketches.approx_distinct_report(
        orders, "o_orderpriority", "o_custkey", rsd=0.02, tol=0.10
    )


@register(
    "q105_approx_median_rank",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(1 AS BIGINT) AS within_tol
    FROM orders GROUP BY o_orderpriority
    """,
)
def q105_approx_median_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna approximate median of o_totalprice per order
    priority, verified by exact rank (sketches.approx_quantile_check):
    the sketch's element must sit within n/accuracy + 1 ranks of the
    true median — recomputed exactly in a second pass, so the oracle's
    constant flag is a hard check on the sketch, not a tautology."""
    orders = load_table(spark, sf_dir, "orders")
    return sketches.approx_quantile_check(
        orders, "o_orderpriority", "o_totalprice", q=0.5, accuracy=100
    )


@register(
    "q106_curation_pipeline",
    r"""
    WITH base AS (
      SELECT doc_id, text, source, n_chars,
             regexp_extract_all(text, '\S+') AS tk
      FROM documents WHERE doc_id % 97 <> 0
    ),
    kept AS (
      SELECT doc_id, text, source, n_chars FROM base
      WHERE len(tk) > 0
        AND len(tk) BETWEEN 50 AND 100000
        AND round(CAST(list_sum(list_transform(tk, w -> len(w)))
                  AS DOUBLE) / len(tk), 6) BETWEEN 3.0 AND 10.0
        AND round(CAST(len(regexp_extract_all(text, '#|\.\.\.'))
                  AS DOUBLE) / len(tk), 6) <= 0.1
        AND round(CAST(len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
                  AS DOUBLE) / len(tk), 6) >= 0.8
    ),
    deduped AS (
      SELECT doc_id, text, source, n_chars FROM (
        SELECT *, row_number() OVER (
            PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
            ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
    ),
    tg AS (
      SELECT doc_id, unnest(list_distinct([array_to_string(t[i:i+2], ' ')
              FOR i IN range(1, len(t) - 1)])) AS gram
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> x != '') AS t
            FROM deduped)
    ),
    bg AS (
      SELECT DISTINCT unnest(list_distinct([array_to_string(t[i:i+2], ' ')
              FOR i IN range(1, len(t) - 1)])) AS gram
      FROM (SELECT list_filter(string_split_regex(trim(text), '\s+'),
                               x -> x != '') AS t
            FROM documents WHERE doc_id % 97 = 0)
    ),
    clean AS (
      SELECT * FROM deduped
      WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM tg JOIN bg USING (gram))
    ),
    split_assigned AS (
      SELECT *, CASE
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'f3333333' THEN 'val'
         ELSE 'test' END AS split
      FROM clean
    ),
    capped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn2
        FROM split_assigned) WHERE rn2 <= 50
    )
    SELECT split, source, count(*) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM capped GROUP BY split, source
    """,
)
def q106_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five-stage curation chain end-to-end (jobs/curate.py):
    Gopher quality gate -> exact fingerprint dedup -> trigram
    benchmark decontamination -> md5-range split assignment ->
    salted per-source cap, summarized per (split, source). Each stage
    is individually oracle-proven (q102/q07/q70/q83/q82); this row
    proves the COMPOSITION — one Catalyst plan, no materialization
    between stages."""
    from incubator_gobblin_spark.jobs import curate as curate_job

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    curated = curate_job.curate(train, bench)
    return curate_job.curation_report(curated)


@register(
    "q107_rest_ingest_agg",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-01 00:00:00'
      AND ts <= TIMESTAMP '2024-01-31 00:00:00'
    GROUP BY event_type
    """,
)
def q107_rest_ingest_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST-API extraction end-to-end (sources/rest_api.py — the
    RestApiExtractor analogue): the driver plans 4 watermark workunits,
    each executor task pages JSON out of the file-backed endpoint
    double under a token-bucket rate limit, from_json types the
    records, then a plain aggregation — against the oracle's direct
    parquet scan with the same low-exclusive/high-inclusive interval."""
    from datetime import datetime as _dt

    from incubator_gobblin_spark.sources import rest_api as R

    src = R.RestApiSource(
        resource="events",
        schema="event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
        wm_column="ts",
        page_size=5000,
        rate_per_sec=1000.0,
    )
    ep = R.FileBackedRestEndpoint(
        {"events": f"{sf_dir}/events.parquet"}, order_by="event_id"
    )
    df = R.read_rest(
        spark,
        src,
        ep,
        WatermarkInterval("ts", _dt(2024, 1, 1), _dt(2024, 1, 31)),
        num_partitions=4,
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value", 2).alias("total_value"),
    )


@register(
    "q108_temperature_mixture",
    """
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    t AS (SELECT sum(n_docs) AS N FROM c),
    r AS (SELECT lang, n_docs,
                 CAST(n_docs AS DOUBLE) / CAST(N AS DOUBLE) AS p,
                 round(pow(CAST(n_docs AS DOUBLE) / CAST(N AS DOUBLE), 0.3), 6) AS q_raw
          FROM c, t),
    s AS (SELECT CAST(sum(CAST(q_raw AS DECIMAL(18,6))) AS DOUBLE) AS qsum FROM r)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
           round(q_raw / qsum, 6) AS sample_prob,
           round(round(q_raw / qsum, 6) / p, 6) AS multiplier
    FROM r, s
    """,
)
def q108_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature sampling weights per language (corpus.
    temperature_weights — the XLM-R / mT5 alpha-mixture rule,
    q_g ∝ p_g^0.3): one count shuffle, then pow/normalize on the
    driver-small groups frame with the round(6)+DECIMAL float
    discipline. ``multiplier`` feeds materialize_mixture (q94)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.temperature_weights(docs, group_col="lang", alpha=0.3)


@register(
    "q111_unimax_mixture",
    """
    WITH RECURSIVE c AS (
      SELECT lang AS g, count(*) AS n FROM documents GROUP BY lang
    ), s AS (
      SELECT g, n, round(n * 2.0, 6) AS cap,
             row_number() OVER (ORDER BY round(n * 2.0, 6), g) AS rn,
             count(*) OVER () AS k
      FROM c
    ), a AS (
      SELECT 0 AS rn, CAST(800 AS DOUBLE) AS remaining,
             CAST(NULL AS VARCHAR) AS g, CAST(NULL AS BIGINT) AS n,
             CAST(NULL AS DOUBLE) AS alloc
      UNION ALL
      SELECT s.rn,
             round(a.remaining
                   - least(s.cap, round(a.remaining / (s.k - s.rn + 1), 6)), 6),
             s.g, s.n,
             least(s.cap, round(a.remaining / (s.k - s.rn + 1), 6))
      FROM a JOIN s ON s.rn = a.rn + 1
    )
    SELECT g AS lang, CAST(n AS BIGINT) AS n_docs, alloc,
           round(alloc / n, 6) AS epochs
    FROM a WHERE g IS NOT NULL
    """,
)
def q111_unimax_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation per language (corpus.unimax_weights —
    Chung et al. 2023): budget 800 docs, epoch cap 2.0. The sequential
    smallest-capacity-first recurrence runs on |groups| rows of driver
    model state after ONE count shuffle; the oracle replays the exact
    recurrence as a recursive CTE with the identical round(6) at every
    chained step — small groups saturate at their cap and the leftover
    re-splits uniformly among the rest."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.unimax_weights(docs, group_col="lang", budget=800, epoch_cap=2.0)


@register(
    "q113_shuffle_shards",
    """
    WITH k AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS key
      FROM documents
    )
    SELECT doc_id,
           CAST(key % 8 AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY key % 8 ORDER BY key, doc_id
           ) AS BIGINT) AS pos
    FROM k
    """,
)
def q113_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + sharding (corpus.shuffle_shards):
    training order as a pure function of the doc id — md5(seed:id)
    keys, mod-8 shards, per-shard rank. One shuffle; reproducible
    byte-identical order across rebuilds and engines (the oracle
    replays the identical hash arithmetic)."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.shuffle_shards(docs, id_col="doc_id", num_shards=8, seed=42)


@register(
    "q112_linear_probe_fit",
    """
    WITH f AS (
      SELECT CAST(length(text) AS DOUBLE) AS x1,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
             len(list_filter(string_split(text, ' '),
                 x -> lower(x) IN ('the','and','of','to','a','in','is','that','for','it')))
               / greatest(len(string_split(text, ' ')), 1) AS y
      FROM documents
    ), m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(round(x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(round(x1 * x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s11,
             CAST(sum(CAST(round(x1 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s12,
             CAST(sum(CAST(round(x2 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s22,
             CAST(sum(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(x1 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
             CAST(sum(CAST(round(x2 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2y
      FROM f
    ), d AS (
      SELECT *,
             n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / det, 6) AS b0,
           round((n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)) / det, 6) AS b1,
           round((n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)) / det, 6) AS b2
    FROM d
    """,
)
def q112_linear_probe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier TRAINING under the oracle (corpus.fit_linear_probe):
    fit stopword_density ~ b0 + b1*text_len + b2*n_tokens by normal
    equations — nine round(6)+DECIMAL moment sums in ONE corpus-scan
    aggregation, then a Cramer 3x3 solve on the driver; the oracle
    replays the identical determinant arithmetic in SQL. The training
    half of the q92 scoring path."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    f = docs.select(
        F.length("text").cast("double").alias("x1"),
        n_tok.cast("double").alias("x2"),
        (text.stopword_count(F.col("text"), "en")
         / F.greatest(n_tok, F.lit(1))).alias("y"),
    )
    return corpus.fit_linear_probe(f, ["x1", "x2"], "y")


@register(
    "q114_linear_probe_score",
    """
    WITH f AS (
      SELECT doc_id,
             CAST(length(text) AS DOUBLE) AS x1,
             CAST(len(string_split(text, ' ')) AS DOUBLE) AS x2,
             len(list_filter(string_split(text, ' '),
                 x -> lower(x) IN ('the','and','of','to','a','in','is','that','for','it')))
               / greatest(len(string_split(text, ' ')), 1) AS y
      FROM documents
    ), m AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CAST(round(x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1,
             CAST(sum(CAST(round(x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2,
             CAST(sum(CAST(round(x1 * x1, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s11,
             CAST(sum(CAST(round(x1 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s12,
             CAST(sum(CAST(round(x2 * x2, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s22,
             CAST(sum(CAST(round(y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(sum(CAST(round(x1 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
             CAST(sum(CAST(round(x2 * y, 6) AS DECIMAL(38,6))) AS DOUBLE) AS s2y
      FROM f
    ), d AS (
      SELECT *,
             n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det
      FROM m
    ), b AS (
      SELECT round((sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / det, 6) AS b0,
             round((n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)) / det, 6) AS b1,
             round((n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)) / det, 6) AS b2
      FROM d
    )
    SELECT f.doc_id, round(b.b0 + b.b1 * f.x1 + b.b2 * f.x2, 6) AS score
    FROM f, b
    """,
)
def q114_linear_probe_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score end to end (corpus.fit_linear_probe ->
    corpus.score_linear_probe): the fitted coefficients come back to
    the plan as LITERALS, so corpus scoring is a shuffle-free
    projection at scan speed — while the oracle replays the entire
    fit+score chain in one SQL statement. The full quality-probe
    lifecycle (q112 trains, q92 is the hashed-feature cousin) under
    one value hash."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    f = docs.select(
        "doc_id",
        F.length("text").cast("double").alias("x1"),
        n_tok.cast("double").alias("x2"),
        (text.stopword_count(F.col("text"), "en")
         / F.greatest(n_tok, F.lit(1))).alias("y"),
    )
    fit = corpus.fit_linear_probe(f, ["x1", "x2"], "y").first()
    return corpus.score_linear_probe(f, fit, ["x1", "x2"]).select(
        "doc_id", "score"
    )


_DUP_SPAN_CTE = r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS t
      FROM documents
    ), spans AS (
      SELECT doc_id, i AS s, array_to_string(t[i:i+7], ' ') AS span
      FROM toks, unnest(range(1, greatest(len(t) - 6, 1))) AS u(i)
    ), cnt AS (
      SELECT span, count(*) AS c FROM spans GROUP BY span
    ), dup AS (
      SELECT spans.doc_id, spans.s FROM spans JOIN cnt USING (span)
      WHERE cnt.c >= 2
    ), covp AS (
      SELECT DISTINCT doc_id, p
      FROM (SELECT doc_id, unnest(range(s, s + 8)) AS p FROM dup)
    )
"""


@register(
    "q109_duplicated_spans",
    _DUP_SPAN_CTE
    + """
    , cov AS (
      SELECT doc_id, count(DISTINCT s) AS dup_windows
      FROM dup GROUP BY doc_id
    ), cv AS (
      SELECT doc_id, count(*) AS covered FROM covp GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(cov.dup_windows, 0) AS BIGINT) AS dup_windows,
           CAST(COALESCE(cv.covered, 0) AS BIGINT) AS covered_tokens,
           round(CASE WHEN len(t) > 0
                 THEN COALESCE(cv.covered, 0) / CAST(len(t) AS DOUBLE)
                 ELSE 0.0 END, 6) AS covered_ratio
    FROM toks tk LEFT JOIN cov USING (doc_id) LEFT JOIN cv USING (doc_id)
    """,
)
def q109_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication stats (corpus.duplicated_spans —
    the ExactSubstr shape of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", at 8-token-window granularity):
    a window whose exact text occurs >= 2 times corpus-wide marks its
    tokens duplicated; per doc, the distinct duplicated windows and
    distinct covered positions. Three linear shuffles — span-count
    window annotation, per-doc coverage agg, totals join; at 100 TB
    ``hash_spans=True`` shuffles 8-byte keys instead of span text."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.duplicated_spans(
        docs, id_col="doc_id", text_col="text", window=8, min_count=2
    )


@register(
    "q110_trim_dup_spans",
    _DUP_SPAN_CTE
    + """
    , tokpos AS (
      SELECT doc_id, u.z[1] AS tok, CAST(u.z[2] AS BIGINT) AS p
      FROM (SELECT doc_id, list_zip(t, range(1, len(t) + 1)) AS zs FROM toks),
           unnest(zs) AS u(z)
    ), kept AS (
      SELECT tp.doc_id, tp.tok, tp.p FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM covp WHERE covp.doc_id = tp.doc_id AND covp.p = tp.p
      )
    ), rebuilt AS (
      SELECT doc_id, count(*) AS kept_n,
             string_agg(tok, ' ' ORDER BY p) AS text_trimmed
      FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_trimmed, '') AS text_trimmed
    FROM toks tk LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q110_trim_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal step of exact-substring dedup
    (corpus.trim_duplicated_spans): tokens under any duplicated 8-token
    window are dropped and each document is rebuilt from the surviving
    tokens in order (whitespace normalized — the token stream is the
    dedup unit). Fully-duplicated documents survive as emptied rows."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.trim_duplicated_spans(
        docs, id_col="doc_id", text_col="text", window=8, min_count=2
    )


@register(
    "q115_trim_contaminated",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS t
      FROM documents
    ), spans AS (
      SELECT doc_id, i AS s, array_to_string(t[i:i+3], ' ') AS span
      FROM toks, unnest(range(1, greatest(len(t) - 2, 1))) AS u(i)
    ), bspan AS (
      SELECT DISTINCT span FROM spans WHERE doc_id % 11 = 0
    ), covp AS (
      SELECT DISTINCT doc_id, p
      FROM (
        SELECT s.doc_id, unnest(range(s.s, s.s + 4)) AS p
        FROM spans s JOIN bspan USING (span)
        WHERE s.doc_id % 11 <> 0
      )
    ), tokpos AS (
      SELECT doc_id, u.z[1] AS tok, CAST(u.z[2] AS BIGINT) AS p
      FROM (SELECT doc_id, list_zip(t, range(1, len(t) + 1)) AS zs
            FROM toks WHERE doc_id % 11 <> 0),
           unnest(zs) AS u(z)
    ), kept AS (
      SELECT tp.doc_id, tp.tok, tp.p FROM tokpos tp
      WHERE NOT EXISTS (
        SELECT 1 FROM covp WHERE covp.doc_id = tp.doc_id AND covp.p = tp.p
      )
    ), rebuilt AS (
      SELECT doc_id, count(*) AS kept_n,
             string_agg(tok, ' ' ORDER BY p) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - COALESCE(r.kept_n, 0) AS BIGINT) AS n_removed,
           COALESCE(r.text_clean, '') AS text_clean
    FROM toks tk LEFT JOIN rebuilt r USING (doc_id)
    WHERE tk.doc_id % 11 <> 0
    """,
)
def q115_trim_contaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination
    (corpus.trim_contaminated_spans): tokens under any 4-token run that
    appears verbatim in the benchmark split (doc_id % 11 == 0) are cut
    and the training documents rebuild from the survivors — removing
    the contamination, not the book. The benchmark's distinct window
    set BROADCASTS (the q70 decontaminate posture), so the training
    side never shuffles to discover contamination."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 11 != 0)
    bench = docs.filter(F.col("doc_id") % 11 == 0)
    return corpus.trim_contaminated_spans(
        train, bench, id_col="doc_id", text_col="text", window=4
    )


@register(
    "q116_semantic_decontaminate",
    """
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ),
    bench AS (SELECT ev FROM v WHERE vec_id % 16 = 0),
    corpus AS (SELECT vec_id, ev FROM v WHERE vec_id % 16 <> 0)
    SELECT vec_id, max_bench_sim,
           CAST(max_bench_sim >= 0.35 AS BIGINT) AS contaminated
    FROM (
      SELECT c.vec_id,
             max(round(list_cosine_similarity(c.ev, b.ev), 6)) AS max_bench_sim
      FROM corpus c CROSS JOIN bench b GROUP BY c.vec_id
    )
    """,
)
def q116_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level eval-set decontamination
    (similarity.semantic_decontaminate): every corpus vector scored by
    its max cosine against the benchmark split (vec_id % 16 == 0) and
    flagged at sim >= 0.35 — the semantic complement of q70/q115's
    token-window decontamination, catching paraphrased leakage. Bench
    broadcasts; the corpus-side max collapses map-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_decontaminate(
        emb.filter(F.col("vec_id") % 16 != 0),
        emb.filter(F.col("vec_id") % 16 == 0),
        threshold=0.35,
    )


def _lsh_audit_oracle(threshold: float, num_hashes: int, bands: int) -> str:
    return rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(text, '\s+') AS tk FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(tk[i:i+1], ' ') AS s
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    ov AS (
      SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_l, id_r FROM ov
      JOIN sz l ON l.doc_id = ov.id_l JOIN sz r ON r.doc_id = ov.id_r
      WHERE round(ov.i * 1.0 / (l.n + r.n - ov.i), 6) >= {threshold}
    ),
    cand AS (SELECT id_l, id_r FROM ({_minhash_oracle(num_hashes, bands)}) _c),
    hit AS (SELECT id_l, id_r FROM truth JOIN cand USING (id_l, id_r))
    SELECT (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM cand) AS n_candidates,
           (SELECT count(*) FROM hit) AS n_hit,
           round(CASE WHEN (SELECT count(*) FROM cand) > 0
                 THEN (SELECT count(*) FROM hit) * 1.0 / (SELECT count(*) FROM cand)
                 ELSE 0 END, 6) AS precision,
           round(CASE WHEN (SELECT count(*) FROM truth) > 0
                 THEN (SELECT count(*) FROM hit) * 1.0 / (SELECT count(*) FROM truth)
                 ELSE 0 END, 6) AS recall
    """


@register(
    "q117_lsh_dedup_audit",
    _lsh_audit_oracle(threshold=0.5, num_hashes=32, bands=8),
)
def q117_lsh_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision audit of the MinHash-LSH candidate generator
    (dedup_fuzzy.lsh_audit) against exact 2-gram Jaccard ground truth
    at threshold 0.5 — the standing per-batch health check that a
    banding change or hash regression moves a measured number instead
    of silently eroding dedup quality. Same corpus, shingling and
    banding as q31, so the candidate leg of the oracle is the
    already-proven q31 SQL composed as a CTE."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_fuzzy.lsh_audit(
        docs, id_col="doc_id", text_col="text", threshold=0.5,
        num_hashes=32, bands=8, shingle_n=2, hash_mode="md5",
    )


def _cms_oracle(depth: int, width: int, k: int) -> str:
    def bucket(row: int, item: str) -> str:
        return (
            f"CAST('0x' || substr(md5('{row}:' || {item}), 1, 8) AS BIGINT) % {width}"
        )

    cells = "\n      UNION ALL\n      ".join(
        f"SELECT {r} AS hash_row, {bucket(r, 't')} AS bucket FROM tt"
        for r in range(depth)
    )
    probes = "\n      UNION ALL\n      ".join(
        f"SELECT item, exact, {r} AS hash_row, {bucket(r, 'item')} AS bucket FROM exact"
        for r in range(depth)
    )
    return rf"""
    WITH toks AS (
      SELECT unnest(string_split_regex(text, '\s+')) AS t FROM documents
    ),
    tt AS (SELECT t FROM toks WHERE t != ''),
    cells AS (
      {cells}
    ),
    sketch AS (
      SELECT hash_row, bucket, count(*) AS cell_count
      FROM cells GROUP BY hash_row, bucket
    ),
    exact AS (SELECT t AS item, count(*) AS exact FROM tt GROUP BY t),
    probes AS (
      {probes}
    ),
    est AS (
      SELECT p.item, p.exact, min(s.cell_count) AS est
      FROM probes p JOIN sketch s USING (hash_row, bucket)
      GROUP BY p.item, p.exact
    )
    SELECT item, CAST(est AS BIGINT) AS est, CAST(exact AS BIGINT) AS exact
    FROM est ORDER BY est DESC, item ASC LIMIT {k}
    """


@register("q118_cms_heavy_hitters", _cms_oracle(depth=4, width=256, k=20))
def q118_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (sketches.cms_heavy_hitters):
    top-20 tokens by CMS point estimate with the exact count alongside,
    the est-exact gap reading out collision error at (depth 4, width
    256). The sketch is built openly as md5-bucketed count cells so the
    oracle replays every cell and every min-probe value-for-value —
    rounding out the sketch family (q103 priority sample, q104 HLL,
    q105 GK) with the frequency-estimation member."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(text.tokens("text")).alias("tok")).filter(
        F.col("tok") != ""
    )
    return sketches.cms_heavy_hitters(toks, "tok", k=20, depth=4, width=256)


@register(
    "q119_funnel_steps",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t
        AND e.ts <= s1.t + INTERVAL 259200 SECOND
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
        AND e.ts <= s2.t + INTERVAL 259200 SECOND
      GROUP BY e.user_id
    )
    SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
           (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', (SELECT count(*) FROM s2)
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', (SELECT count(*) FROM s3)
    """,
)
def q119_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (events.funnel): users completing
    view -> click -> purchase with first-match semantics and a 3-day
    step window. Every stage is an equi-join + min-agg on the user key
    (one reused partitioning, frames shrink down the funnel) — the
    warehouse-side question Gobblin's event ingestion feeds, answered
    as a first-class operator."""
    ev = load_table(spark, sf_dir, "events")
    return events_fn.funnel(
        ev, ["view", "click", "purchase"], within_seconds=259200
    )


@register(
    "q120_cohort_retention",
    """
    WITH first AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS bucket_offset
      FROM events e JOIN first f USING (user_id)
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(bucket_offset AS BIGINT) AS bucket_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act GROUP BY act.cohort_day, bucket_offset
    """,
)
def q120_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (events.cohort_retention): users bucketed
    by first-seen day, counted once per later active day offset —
    the retention curve per cohort. One min-agg plus one distinct, both
    on the user key; integer day arithmetic only."""
    ev = load_table(spark, sf_dir, "events")
    out = events_fn.cohort_retention(ev, bucket_days=1)
    return out.select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "bucket_offset",
        F.col("n_users").cast("long").alias("n_users"),
    )


@register(
    "q121_bpe_pair_counts",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents
    ),
    wf AS (SELECT w, count(*) AS freq FROM toks WHERE w != '' GROUP BY w),
    pairs AS (
      SELECT substr(w, i, 2) AS pair, freq
      FROM wf, unnest(range(1, length(w))) AS u(i)
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def q121_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, merge-selection pass
    (corpus.bpe_pair_counts): top-20 adjacent character pairs by
    frequency-weighted count over the distinct-word table — the
    counting half of Sennrich et al. 2016 subword learning as one
    declarative plan (pairs are 2-char substrings, so no per-char
    array materializes; the shuffle key space is the symbol-pair
    alphabet, not the corpus). The full greedy merge loop
    (corpus.bpe_train / bpe_segment) is exercised in test_corpus —
    its per-iteration counting pass is exactly this query."""
    docs = load_table(spark, sf_dir, "documents")
    return corpus.bpe_pair_counts(docs, "text", k=20)


@register(
    "q122_char_entropy",
    """
    WITH t AS (
      SELECT doc_id, lower(substr(text, 1, 1000)) AS s FROM documents
    ),
    ch AS (
      SELECT doc_id, len(s) AS n, substr(s, i, 1) AS ch
      FROM t, unnest(range(1, len(s) + 1)) AS u(i)
      WHERE len(s) > 0
    ),
    cnt AS (SELECT doc_id, n, ch, count(*) AS c FROM ch GROUP BY 1, 2, 3)
    SELECT doc_id,
           CAST(max(n) AS BIGINT) AS n_scored,
           CAST(sum(CAST(round(-((c / n) * ln(c / n)) / 0.6931471805599453, 6)
                         AS DECIMAL(18,6))) AS DOUBLE) AS entropy_bits
    FROM cnt GROUP BY doc_id
    """,
)
def q122_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon character entropy (text.char_entropy) —
    the garbled-input detector: base64/binary junk scores high, spam
    repetition scores low, natural text ~3.5-4.5 bits/char. Same
    determinism discipline as q90 (per-term round(6) + decimal sum)
    and the same bounded linear expansion (1000-char scoring prefix,
    two same-key shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.char_entropy(docs, id_col="doc_id", text_col="text")


@register(
    "q123_delta_roundtrip_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q123_delta_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-interop surface under the HARD oracle (the q88/q91
    pattern): documents published ONCE into a lang-partitioned manifest
    lake with the ``delta_log`` publisher flag, then read back
    EXCLUSIVELY through the exported Delta transaction log
    (sources.delta_import.read_delta — log replay, live-file listing,
    typed partition restore from partitionValues) and aggregated; the
    result must match the oracle's direct parquet scan value-for-value.
    Export + import + the Hive-partition round trip all sit inside the
    hash gate."""
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink
    from incubator_gobblin_spark.sources.delta_import import read_delta

    cache = _cache_dir("deltalake", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", partition_by=["lang"],
        delta_log=True,
    )
    if sink.current_manifest() is None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "n_chars"
        )
        sink.write_staging(docs, "run1")
        sink.publish("run1")
    elif not _os.path.isdir(_os.path.join(cache, "_delta_log")):
        # lake committed but the export is missing (crash between the
        # two, or a cleaned log): repair by re-exporting — NEVER by
        # re-publishing, which would append the table a second time
        sink.export_delta_log()
    df = read_delta(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q124_iceberg_roundtrip_agg",
    """
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY source
    """,
)
def q124_iceberg_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-interop surface under the HARD oracle (the q123 Delta
    pattern): documents published ONCE into a source-partitioned
    manifest lake with the ``iceberg_metadata`` publisher flag
    (GobblinMCEWriter analogue, gobblin-iceberg
    ``.../writer/GobblinMCEWriter.java:81``), then read back
    EXCLUSIVELY through the exported Iceberg metadata
    (sources.iceberg_import.read_iceberg — vN.metadata.json, Avro
    manifest-list + manifest replay, typed identity-partition restore)
    and aggregated; the result must match the oracle's direct parquet
    scan value-for-value. Export + import + the partition round trip
    all sit inside the hash gate."""
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    cache = _cache_dir("iceberg", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", partition_by=["source"],
        iceberg_metadata=True,
    )
    if sink.current_manifest() is None:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "n_chars"
        )
        sink.write_staging(docs, "run1")
        sink.publish("run1")
    elif not _os.path.isdir(_os.path.join(cache, "metadata")):
        # lake committed but the export is missing (crash between the
        # two, or a cleaned metadata dir): repair by re-exporting —
        # NEVER by re-publishing, which would append a second copy
        sink.export_iceberg()
    df = read_iceberg(spark, cache)
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


def _decontam_lsh_ctes(threshold: float, num_bits: int, bands: int) -> str:
    """Shared CTE block for the SRP-prefiltered decontamination oracles
    (q125/q126): the q116 bench/corpus split, literal-hyperplane band
    keys (the q34/q52 replay pattern), the bench-key semi-join candidate
    set, and the exact re-score of candidates only."""
    bpb = num_bits // bands
    return f"""
    WITH planes AS (SELECT * FROM {_planes_cte(64, num_bits)}),
    v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ),
    bench AS (SELECT vec_id, ev FROM v WHERE vec_id % 16 = 0),
    corpus AS (SELECT vec_id, ev FROM v WHERE vec_id % 16 <> 0),
    bkeys AS (
      SELECT DISTINCT band_id, band_key FROM (
        SELECT b.vec_id, p.p // {bpb} AS band_id,
               sum(CASE WHEN list_dot_product(b.ev, p.pv) >= 0
                   THEN 1 << (p.p % {bpb}) ELSE 0 END) AS band_key
        FROM bench b, planes p GROUP BY b.vec_id, band_id
      )
    ),
    ckeys AS (
      SELECT c.vec_id, p.p // {bpb} AS band_id,
             sum(CASE WHEN list_dot_product(c.ev, p.pv) >= 0
                 THEN 1 << (p.p % {bpb}) ELSE 0 END) AS band_key
      FROM corpus c, planes p GROUP BY c.vec_id, band_id
    ),
    cand AS (
      SELECT DISTINCT k.vec_id FROM ckeys k
      JOIN bkeys ON k.band_id = bkeys.band_id AND k.band_key = bkeys.band_key
    ),
    scored AS (
      SELECT c.vec_id,
             max(round(list_cosine_similarity(c.ev, b.ev), 6)) AS max_bench_sim
      FROM corpus c CROSS JOIN bench b
      WHERE c.vec_id IN (SELECT vec_id FROM cand)
      GROUP BY c.vec_id
    ),
    lsh AS (
      SELECT corpus.vec_id, scored.max_bench_sim,
             COALESCE(CAST(scored.max_bench_sim >= {threshold} AS BIGINT), 0)
               AS contaminated
      FROM corpus LEFT JOIN scored ON corpus.vec_id = scored.vec_id
    )
    """


@register(
    "q125_semantic_decontam_lsh",
    _decontam_lsh_ctes(threshold=0.35, num_bits=64, bands=16)
    + "SELECT vec_id, max_bench_sim, contaminated FROM lsh",
)
def q125_semantic_decontam_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q116's decontamination with the SRP-LSH prefilter enabled
    (similarity.semantic_decontaminate prefilter=True): corpus rows
    sharing NO signature band with any benchmark vector skip the exact
    cosine phase and come back NULL/0. Recall < 1 by design — q126
    measures it. The oracle replays the literal hyperplanes, band keys,
    bench-key semi-join and candidates-only exact re-score in SQL, so
    the PRUNING DECISIONS themselves sit under the hash gate, not just
    the surviving scores."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_decontaminate(
        emb.filter(F.col("vec_id") % 16 != 0),
        emb.filter(F.col("vec_id") % 16 == 0),
        threshold=0.35,
        prefilter=True,
        dim=64,
    )


@register(
    "q126_semantic_prefilter_audit",
    _decontam_lsh_ctes(threshold=0.35, num_bits=64, bands=16)
    + """,
    exact AS (
      SELECT c.vec_id,
             max(round(list_cosine_similarity(c.ev, b.ev), 6)) AS ms
      FROM corpus c CROSS JOIN bench b GROUP BY c.vec_id
    )
    SELECT n_corpus, n_candidates, n_contaminated_exact, n_contaminated_lsh,
           CAST(CASE WHEN n_contaminated_exact > 0
                THEN round(n_contaminated_lsh * 1.0 / n_contaminated_exact, 6)
                ELSE 1.0 END AS DOUBLE) AS recall,
           round(n_candidates * 1.0 / n_corpus, 6) AS candidate_fraction
    FROM (
      SELECT count(*) AS n_corpus,
             CAST(sum(CASE WHEN l.max_bench_sim IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN e.ms >= 0.35 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_contaminated_exact,
             CAST(sum(l.contaminated) AS BIGINT) AS n_contaminated_lsh
      FROM exact e JOIN lsh l ON e.vec_id = l.vec_id
    )
    """,
)
def q126_semantic_prefilter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prefilter health check (similarity.semantic_prefilter_audit):
    run exact AND prefiltered decontamination on the same split, report
    one row — corpus size, candidate count, contaminated counts per
    mode, decision recall and candidate fraction (the FLOP-saving knob).
    The operating rule the docstring pins: enable the prefilter on a
    production pass only on THIS evidence."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_prefilter_audit(
        emb.filter(F.col("vec_id") % 16 != 0),
        emb.filter(F.col("vec_id") % 16 == 0),
        threshold=0.35,
        dim=64,
    )


@register(
    "q127_iceberg_incremental_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q127_iceberg_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL Iceberg export path under the HARD oracle: the
    documents table published in TWO commits (doc_id parity split) into
    an append-only source-partitioned lake with the ``iceberg_metadata``
    flag, so the second publish's auto-export appends a delta snapshot
    (carried manifests + adds-only manifest) instead of re-adding the
    world; the read goes EXCLUSIVELY through the exported metadata and
    must match the oracle's direct scan value-for-value. q124 proves
    the full-snapshot path; this proves the manifest-chain one."""
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    cache = _cache_dir("iceberg_inc", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", partition_by=["source"],
        iceberg_metadata=True, table_type=TableType.APPEND_ONLY,
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )

    def _committed(run: str) -> bool:
        try:
            return sink.current_manifest(run, materialize=False) is not None
        except FileNotFoundError:
            return False

    for run, pred in (
        ("run1", F.col("doc_id") % 2 == 0),
        ("run2", F.col("doc_id") % 2 == 1),
    ):
        if not _committed(run):
            sink.write_staging(docs.filter(pred), run)
            sink.publish(run)  # auto-exports one Iceberg snapshot each
    if not _os.path.isdir(_os.path.join(cache, "metadata")):
        sink.export_iceberg()  # repair, never re-publish
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q128_iceberg_posdelete_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 7 <> 0
    GROUP BY lang
    """,
)
def q128_iceberg_posdelete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 POSITION deletes under the HARD oracle: the documents
    table is exported as an Iceberg table, then a "foreign engine"
    (``append_position_deletes`` — the same spec shape
    Spark+Iceberg/Flink write, parquet of (file_path, pos) under a
    content=1 delete manifest) row-level-deletes every doc_id % 7 == 0
    row by its (file, row-position) coordinate. ``read_iceberg`` must
    apply the tombstones — broadcast left-anti on the scan's
    ``_metadata`` (file_path, row_index), no extra shuffle — and the
    aggregate must match the oracle's direct predicate scan
    value-for-value. Spec: iceberg.apache.org/spec §Position Delete
    Files; reference analogue: gobblin-iceberg GobblinMCEWriter
    metadata emission.

    Scale shape: the delete set is the only broadcast side; the data
    side stays one whole-stage-codegen scan. At 100 TB the tombstone
    set per snapshot is metadata-scale (it lists row coordinates, not
    rows), exactly what Iceberg's own readers broadcast per task."""
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    cache = _cache_dir("iceberg_posdel", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    try:
        committed = sink.current_manifest("base", materialize=False) is not None
    except FileNotFoundError:
        committed = False
    if not committed:
        sink.write_staging(docs, "base")
        sink.publish("base")
    if not _os.path.isdir(_os.path.join(cache, "metadata")):
        sink.export_iceberg()
    files, dels = snapshot_files(
        current_metadata(cache), cache, collect_deletes=True
    )
    if not dels:
        # the "foreign" delete: coordinates of every doc_id%7==0 row
        coords = (
            spark.read.parquet(*[f["path"] for f in files])
            .withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_pos", F.col("_metadata.row_index"))
            .filter(F.col("doc_id") % 7 == 0)
            .select("_fp", "_pos")
            .collect()
        )
        append_position_deletes(cache, [(r._fp, r._pos) for r in coords])
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


_HTTP_DOUBLE_CACHE: dict = {}


def _http_events_base(sf_dir: str) -> str:
    """One in-process HTTP server per (process, sf_dir) serving the
    events table through the documented REST protocol — the q129 wire.
    Daemon-threaded; lives for the process so the LAZY DataFrame a
    query returns can still fetch when the driver collects it."""
    base = _HTTP_DOUBLE_CACHE.get(sf_dir)
    if base is None:
        from incubator_gobblin_spark.sources.http_endpoint import (
            serve_endpoint,
        )
        from incubator_gobblin_spark.sources.rest_api import (
            FileBackedRestEndpoint,
        )

        server, base = serve_endpoint(
            rest=FileBackedRestEndpoint(
                {"events": f"{sf_dir}/events.parquet"}, order_by="event_id"
            )
        )
        _HTTP_DOUBLE_CACHE[sf_dir] = base
        _HTTP_DOUBLE_CACHE[(sf_dir, "server")] = server  # keep alive
    return base


@register(
    "q129_rest_http_ingest_agg",
    """
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-02-10 00:00:00'
    GROUP BY event_type
    """,
)
def q129_rest_http_ingest_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q107's REST extraction with the REAL WIRE in the loop: the
    endpoint is the stdlib urllib client (sources/http_endpoint.py —
    the RestApiConnector.java:58 getConnection analogue) paging an
    in-process HTTP server over genuine sockets; executor tasks issue
    actual GETs per page under the token bucket, from_json types the
    bodies, then the same aggregation — against the oracle's direct
    parquet scan. Proves serialization of params/cursors/records
    survives a real transport, not just the in-memory double.

    Scale shape: identical to q107 (one fetch task per watermark
    workunit, zero shuffle before the aggregate) — the wire changes
    the transport, not the plan."""
    from datetime import datetime as _dt

    from incubator_gobblin_spark.sources import rest_api as R
    from incubator_gobblin_spark.sources.http_endpoint import HttpRestEndpoint

    src = R.RestApiSource(
        resource="events",
        schema="event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
        wm_column="ts",
        page_size=5000,
        rate_per_sec=1000.0,
    )
    ep = HttpRestEndpoint(_http_events_base(sf_dir), order_by="event_id")
    df = R.read_rest(
        spark,
        src,
        ep,
        WatermarkInterval("ts", _dt(2024, 1, 10), _dt(2024, 2, 10)),
        num_partitions=4,
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum("value", 2).alias("total_value"),
    )


@register(
    "q130_iceberg_incremental_scan",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 3 <> 0
    GROUP BY lang
    """,
)
def q130_iceberg_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental APPEND scan over the exported Iceberg chain
    (iceberg-core IncrementalAppendScan / Spark's start-snapshot-id):
    the documents table lands in THREE commits (doc_id mod 3), and the
    read consumes only what was appended AFTER the first snapshot —
    commits 2 and 3 — through each range snapshot's ADDED manifest
    entries, never re-reading snapshot 1's files. The aggregate must
    match the oracle's direct doc_id%3<>0 scan value-for-value.

    Scale shape: range replay is O(range manifests) driver-side
    metadata; the data read scans exactly the delta files — the
    tail-a-foreign-table consumption pattern at 100 TB, where
    re-reading the world per poll is the thing this exists to avoid."""
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg_incremental,
    )

    cache = _cache_dir("iceberg_incscan", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )

    def _committed(run: str) -> bool:
        try:
            return sink.current_manifest(run, materialize=False) is not None
        except FileNotFoundError:
            return False

    for i in range(3):
        run = f"r{i}"
        if not _committed(run):
            sink.write_staging(docs.filter(F.col("doc_id") % 3 == i), run)
            sink.publish(run)
            sink.export_iceberg()
    if not _os.path.isdir(_os.path.join(cache, "metadata")):
        sink.export_iceberg()
    first = current_metadata(cache)["snapshots"][0]["snapshot-id"]
    df = read_iceberg_incremental(spark, cache, after_snapshot_id=first)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q131_delta_dv_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 7 <> 0
    GROUP BY lang
    """,
)
def q131_delta_dv_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta DELETION VECTORS under the hard oracle (PROTOCOL.md
    §Deletion Vectors): the documents table is exported as a Delta
    table, then a "foreign writer" row-level-deletes every
    doc_id % 7 == 0 row by attaching roaring-bitmap DVs to the live
    adds (formats/deletion_vectors.py — z85 UUID file storage, CRC
    framing, portable RoaringBitmapArray) under a v3 protocol upgrade.
    ``read_delta`` must decode the bitmaps EXECUTOR-side into (file,
    row_index) tombstones and anti-join them off the scan's
    ``_metadata`` coordinates; the aggregate matches the oracle's
    direct predicate scan value-for-value — the Delta mirror of q128.

    Scale shape: DV decode is one task per deletion vector (driver
    holds O(#files) descriptors, never O(deleted rows)); the data side
    stays one codegen scan + broadcast anti-join, no extra shuffle."""
    import json as _json
    import os as _os
    from urllib.parse import unquote as _unquote

    from incubator_gobblin_spark.formats.deletion_vectors import write_dv_file
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        _replay_state,
        read_delta,
    )

    cache = _cache_dir("delta_dv", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    try:
        committed = sink.current_manifest("base", materialize=False) is not None
    except FileNotFoundError:
        committed = False
    if not committed:
        sink.write_staging(docs, "base")
        sink.publish("base")
    log_dir = _os.path.join(cache, "_delta_log")
    if not _os.path.isdir(log_dir):
        sink.export_delta_log()
    live, _, _ = _replay_state(log_dir, None)
    if not any(a.get("deletionVector") for a in live.values()):
        # the foreign delete: per-file row positions of doc_id%7==0
        coords = (
            spark.read.parquet(
                *[_os.path.join(cache, _unquote(p)) for p in live]
            )
            .withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_pos", F.col("_metadata.row_index"))
            .filter(F.col("doc_id") % 7 == 0)
            .select("_fp", "_pos")
            .collect()
        )
        by_file: dict[str, list[int]] = {}
        for r in coords:
            p = "/" + r._fp.split(":", 1)[1].lstrip("/")
            by_file.setdefault(_os.path.abspath(p), []).append(int(r._pos))
        actions = [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        ]
        for rel, a in sorted(live.items()):
            fp = _os.path.abspath(_os.path.join(cache, _unquote(rel)))
            if fp not in by_file:
                continue
            dv = write_dv_file(cache, by_file[fp], storage="u")
            actions.append(
                {"remove": {"path": rel, "dataChange": True,
                            "deletionTimestamp": 0}}
            )
            actions.append({"add": {**a, "deletionVector": dv}})
        v = _log_versions(log_dir)[-1] + 1
        with open(_os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
            for act in actions:
                fh.write(_json.dumps(act) + "\n")
    df = read_delta(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q132_cluster_balanced_sample",
    """
    WITH cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
                   FROM embeddings WHERE vec_id < 8),
    assigned AS (
        SELECT vec_id, cid,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY round(list_distance(embedding::DOUBLE[], cv), 6), cid
               ) AS rn
        FROM embeddings CROSS JOIN cents),
    clustered AS (
        SELECT vec_id, CAST(cid AS INT) AS cluster_id
        FROM assigned WHERE rn = 1),
    capped AS (
        SELECT vec_id, cluster_id,
               row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
               ) AS rk
        FROM clustered)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(vec_id) AS BIGINT) AS min_vec,
           CAST(max(vec_id) AS BIGINT) AS max_vec
    FROM capped WHERE rk <= 100
    GROUP BY cluster_id
    """,
)
def q132_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus sampling — the topic-diversity curation
    step (DoReMi / cluster-aware data selection shape): assign every
    embedding to its nearest centroid (q55's IVF coarse quantization —
    centroids as plan literals, assignment a pure shuffle-free
    projection), then cap each cluster at 100 docs in deterministic
    md5 order (corpus.cap_per_group, the salted two-phase top-k), so
    no topic cluster dominates the training mix. Composition proof:
    both stages are individually oracle-proven (q55, q82); this row
    pins their COMPOSITION value-for-value against the oracle's
    cross-join + double-window replay.

    Scale shape: one exchange on cluster_id for the cap (hot clusters
    split by salting), everything else stays in the scan projection —
    at 100 TB the balanced-sample pass costs one shuffle of the
    surviving ids, never an all-pairs distance matrix."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _first8_centroids(spark, sf_dir)
    dists = [
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        double_array_col(c),
                        lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            6,
        )
        for c in cents
    ]
    cluster = (
        F.array_position(F.array(*dists), F.array_min(F.array(*dists))) - 1
    ).cast("int")
    clustered = emb.withColumn("cluster_id", cluster).select(
        "vec_id", "cluster_id"
    )
    capped = corpus.cap_per_group(
        clustered, "cluster_id", 100, key="vec_id", salt_parts=4
    )
    return capped.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


@register(
    "q133_delta_column_mapping_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(doc_id * 10) AS BIGINT) AS tenx_sum
    FROM documents
    GROUP BY lang
    """,
)
def q133_delta_column_mapping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta COLUMN MAPPING mode=id under the hard oracle (PROTOCOL.md
    §Column Mapping): a "foreign writer" authors the documents table as
    a mapped Delta table — physical parquet columns named p1/p3/p4
    (deliberately unrelated to the logical names and reordered), parquet
    field ids written, a NESTED struct member (s.tenx = doc_id*10,
    physical p5 inside p4), and the lang partition restored from
    partitionValues keyed by its PHYSICAL name p2. ``read_delta`` must
    resolve every column by FIELD ID through Spark's native
    parquet-field-id matching — a name-based match would null every
    column — and the per-lang aggregate (nested member included) must
    match the oracle's direct scan value-for-value.

    Scale shape: id resolution happens inside the parquet scan (no
    rename pass, no Python); partition restore is the same typed-
    literal union / suffix-join machinery every lake read uses."""
    import json as _json
    import os as _os

    cache = _cache_dir("delta_colmap", sf_dir, "documents")
    log_dir = _os.path.join(cache, "_delta_log")
    if not _os.path.isdir(log_dir):
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        _os.makedirs(_os.path.join(cache, "data"), exist_ok=True)
        _os.makedirs(log_dir, exist_ok=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .toPandas()
        )
        pa_schema = _pa.schema(
            [
                _pa.field(
                    "p1", _pa.int64(), metadata={b"PARQUET:field_id": b"1"}
                ),
                _pa.field(
                    "p3", _pa.int64(), metadata={b"PARQUET:field_id": b"3"}
                ),
                _pa.field(
                    "p4",
                    _pa.struct(
                        [
                            _pa.field(
                                "p5",
                                _pa.int64(),
                                metadata={b"PARQUET:field_id": b"5"},
                            )
                        ]
                    ),
                    metadata={b"PARQUET:field_id": b"4"},
                ),
            ]
        )
        adds = []
        for lang, grp in docs.groupby("lang", sort=True):
            rel = f"data/part-{lang}.parquet"
            fp = _os.path.join(cache, rel)
            _pq.write_table(
                _pa.table(
                    {
                        "p1": grp["doc_id"].astype("int64"),
                        "p3": grp["n_chars"].astype("int64"),
                        "p4": [
                            {"p5": int(v) * 10} for v in grp["doc_id"]
                        ],
                    },
                    schema=pa_schema,
                ),
                fp,
            )
            adds.append(
                {
                    "add": {
                        "path": rel,
                        "partitionValues": {"p2": str(lang)},
                        "size": _os.path.getsize(fp),
                        "modificationTime": 0,
                        "dataChange": True,
                    }
                }
            )
        fields = [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "p1"}},
            {"name": "lang", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "p2"}},
            {"name": "n_chars", "type": "long", "nullable": True,
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
                "id": "colmap-docs",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {"type": "struct", "fields": fields}
                ),
                "partitionColumns": ["lang"],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "5",
                },
                "createdTime": 0,
            }},
        ] + adds
        tmp = _os.path.join(log_dir, ".tmp-commit")
        with open(tmp, "w") as fh:
            for act in actions:
                fh.write(_json.dumps(act) + "\n")
        _os.replace(tmp, _os.path.join(log_dir, f"{0:020d}.json"))
    from incubator_gobblin_spark.sources.delta_import import read_delta

    df = read_delta(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
        F.sum(F.col("s.tenx")).cast("long").alias("tenx_sum"),
    )


@register(
    "q134_delta_time_travel_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM (
        SELECT lang, n_chars FROM documents
        UNION ALL
        SELECT lang, n_chars FROM documents WHERE doc_id % 10 = 0
    )
    GROUP BY lang
    """,
)
def q134_delta_time_travel_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta TIME TRAVEL under the hard oracle: the table's history is
    base (all documents) -> append (the doc_id%10==0 slice re-landed
    with shifted ids) -> a deletion-vector commit removing every
    doc_id%4==0 row. The query reads the MIDDLE version — after the
    append, before the deletes — so a reader that ignored ``version``
    and served the current snapshot (or mis-replayed tombstones at the
    historical version) produces different counts. The aggregate must
    match the oracle's reconstruction of that historical state
    (documents UNION ALL its %10 slice) value-for-value.

    Scale shape: time travel replays the log to a version bound —
    O(log tail) driver-side metadata, same single-scan data read."""
    import json as _json
    import os as _os
    from urllib.parse import unquote as _unquote

    from incubator_gobblin_spark.formats.deletion_vectors import write_dv_file
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        _replay_state,
        read_delta,
    )

    cache = _cache_dir("delta_tt", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )

    def _committed(run: str) -> bool:
        try:
            return sink.current_manifest(run, materialize=False) is not None
        except FileNotFoundError:
            return False

    log_dir = _os.path.join(cache, "_delta_log")
    if not _committed("base"):
        sink.write_staging(docs, "base")
        sink.publish("base")
    if not _os.path.isdir(log_dir):
        sink.export_delta_log()  # version with the full base state
    if not _committed("r1"):
        sink.write_staging(
            docs.filter(F.col("doc_id") % 10 == 0).withColumn(
                "doc_id", F.col("doc_id") + F.lit(10_000_000)
            ),
            "r1",
        )
        sink.publish("r1")
        sink.export_delta_log()  # the append version = travel target
    travel_v = _log_versions(log_dir)[-1] if _log_versions(log_dir) else 0
    live, _, _ = _replay_state(log_dir, None)
    if not any(a.get("deletionVector") for a in live.values()):
        # the later change: DVs removing every doc_id%4==0 row
        coords = (
            spark.read.parquet(
                *[_os.path.join(cache, _unquote(p)) for p in live]
            )
            .withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_pos", F.col("_metadata.row_index"))
            .filter(F.col("doc_id") % 4 == 0)
            .select("_fp", "_pos")
            .collect()
        )
        by_file: dict[str, list[int]] = {}
        for r in coords:
            p = "/" + r._fp.split(":", 1)[1].lstrip("/")
            by_file.setdefault(_os.path.abspath(p), []).append(int(r._pos))
        actions = [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}}
        ]
        for rel, a in sorted(live.items()):
            fp = _os.path.abspath(_os.path.join(cache, _unquote(rel)))
            if fp not in by_file:
                continue
            dv = write_dv_file(cache, by_file[fp], storage="u")
            actions.append(
                {"remove": {"path": rel, "dataChange": True,
                            "deletionTimestamp": 0}}
            )
            actions.append({"add": {**a, "deletionVector": dv}})
        v = _log_versions(log_dir)[-1] + 1
        with open(_os.path.join(log_dir, f"{v:020d}.json"), "w") as fh:
            for act in actions:
                fh.write(_json.dumps(act) + "\n")
    else:
        # fixture already complete: the travel target is the version
        # just before the (single) DV commit at the log head
        travel_v = _log_versions(log_dir)[-2]
    df = read_delta(spark, cache, version=travel_v)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q135_iceberg_time_travel_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 3 <> 2
    GROUP BY lang
    """,
)
def q135_iceberg_time_travel_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg TIME TRAVEL under the hard oracle: the chain is
    snapshot 1 (doc_id%3==0) -> snapshot 2 (doc_id%3==1) -> a foreign
    position-delete snapshot removing every doc_id%2==0 row. The query
    reads SNAPSHOT 2 by id — after both appends, before the deletes —
    so serving the current snapshot (or applying the later tombstones
    at the historical read) produces different counts. The aggregate
    must match the oracle's doc_id%3<>2 reconstruction value-for-value.

    Scale shape: snapshot selection is one manifest-list replay —
    O(snapshot manifests) driver-side metadata, single-scan data."""
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_position_deletes,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    cache = _cache_dir("iceberg_tt", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )

    def _committed(run: str) -> bool:
        try:
            return sink.current_manifest(run, materialize=False) is not None
        except FileNotFoundError:
            return False

    for i in range(2):
        run = f"r{i}"
        if not _committed(run):
            sink.write_staging(docs.filter(F.col("doc_id") % 3 == i), run)
            sink.publish(run)
            sink.export_iceberg()
    if not _os.path.isdir(_os.path.join(cache, "metadata")):
        sink.export_iceberg()
    meta = current_metadata(cache)
    travel_sid = meta["snapshots"][1]["snapshot-id"]  # after both appends
    _, dels = snapshot_files(meta, cache, collect_deletes=True)
    if not dels:
        files, _ = snapshot_files(meta, cache, collect_deletes=True)
        coords = (
            spark.read.parquet(*[f["path"] for f in files])
            .withColumn("_fp", F.col("_metadata.file_path"))
            .withColumn("_pos", F.col("_metadata.row_index"))
            .filter(F.col("doc_id") % 2 == 0)
            .select("_fp", "_pos")
            .collect()
        )
        append_position_deletes(cache, [(r._fp, r._pos) for r in coords])
    df = read_iceberg(spark, cache, snapshot_id=travel_sid)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q136_iceberg_rename_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q136_iceberg_rename_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg FIELD-ID column resolution under the hard oracle (spec
    §Schema Evolution): a "foreign writer" lands the documents table as
    parquet WITH embedded field ids under the ORIGINAL column names
    (chars_v1), then the table schema renames chars_v1 -> n_chars
    (same field id). A name-based read returns NULLS for the renamed
    column; ``read_iceberg`` must resolve by id (Spark's native
    parquet field-id matching behind ``_assemble_iceberg``'s footer
    split) so the per-lang aggregate matches the oracle's direct scan
    value-for-value.

    Scale shape: classification is an 8-footer driver-side sample
    (homogeneous short-circuit); resolution happens inside the scan —
    no rename pass, no extra plan nodes."""
    import json as _json
    import os as _os

    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    cache = _cache_dir("iceberg_rename", sf_dir, "documents")
    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir):
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        from incubator_gobblin_spark.formats.avro_ocf import encode_ocf
        from incubator_gobblin_spark.sinks.iceberg_export import (
            _MANIFEST_LIST_AVRO,
            _manifest_entry_avro,
        )

        _os.makedirs(_os.path.join(cache, "data"), exist_ok=True)
        _os.makedirs(meta_dir, exist_ok=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "n_chars")
            .toPandas()
        )
        # the foreign file: field ids + the PRE-RENAME column name
        pa_schema = _pa.schema(
            [
                _pa.field("doc_id", _pa.int64(),
                          metadata={b"PARQUET:field_id": b"1"}),
                _pa.field("lang", _pa.string(),
                          metadata={b"PARQUET:field_id": b"2"}),
                _pa.field("chars_v1", _pa.int64(),
                          metadata={b"PARQUET:field_id": b"3"}),
            ]
        )
        fp = _os.path.join(cache, "data", "f1.parquet")
        _pq.write_table(
            _pa.table(
                {
                    "doc_id": docs["doc_id"].astype("int64"),
                    "lang": docs["lang"],
                    "chars_v1": docs["n_chars"].astype("int64"),
                },
                schema=pa_schema,
            ),
            fp,
        )
        entry_schema = _manifest_entry_avro(
            {"type": "record", "name": "r102", "fields": []}
        )
        manifest = _os.path.join(meta_dir, "ren-m0.avro")
        with open(manifest, "wb") as fh:
            fh.write(
                encode_ocf(
                    entry_schema,
                    [{"status": 1, "snapshot_id": 1, "sequence_number": 1,
                      "file_sequence_number": 1,
                      "data_file": {"content": 0, "file_path": fp,
                                    "file_format": "PARQUET",
                                    "partition": {},
                                    "record_count": len(docs),
                                    "file_size_in_bytes":
                                        _os.path.getsize(fp)}}],
                    codec="null",
                    extra_meta={"schema": b"{}", "partition-spec": b"[]",
                                "partition-spec-id": b"0",
                                "format-version": b"2",
                                "content": b"data"},
                )
            )
        mlist = _os.path.join(meta_dir, "snap-1-1-ren.avro")
        with open(mlist, "wb") as fh:
            fh.write(
                encode_ocf(
                    _MANIFEST_LIST_AVRO,
                    [{"manifest_path": manifest,
                      "manifest_length": _os.path.getsize(manifest),
                      "partition_spec_id": 0, "content": 0,
                      "sequence_number": 1, "min_sequence_number": 1,
                      "added_snapshot_id": 1, "added_files_count": 1,
                      "existing_files_count": 0, "deleted_files_count": 0,
                      "added_rows_count": len(docs),
                      "existing_rows_count": 0, "deleted_rows_count": 0}],
                    codec="null",
                    extra_meta={"format-version": b"2"},
                )
            )
        metadata = {
            "format-version": 2,
            "table-uuid": "00000000-0000-0000-0000-000000000136",
            "location": cache,
            "last-sequence-number": 1,
            "last-updated-ms": 0,
            "last-column-id": 3,
            "current-schema-id": 0,
            "schemas": [
                {"type": "struct", "schema-id": 0, "fields": [
                    {"id": 1, "name": "doc_id", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "lang", "required": False,
                     "type": "string"},
                    # RENAMED after the file was written (same id)
                    {"id": 3, "name": "n_chars", "required": False,
                     "type": "long"},
                ]}
            ],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": []}],
            "last-partition-id": 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {},
            "current-snapshot-id": 1,
            "snapshots": [
                {"snapshot-id": 1, "sequence-number": 1,
                 "timestamp-ms": 0, "summary": {"operation": "append"},
                 "manifest-list": mlist, "schema-id": 0}
            ],
            "snapshot-log": [],
            "metadata-log": [],
        }
        tmp = _os.path.join(meta_dir, ".tmp-v1")
        with open(tmp, "w") as fh:
            _json.dump(metadata, fh)
        _os.replace(tmp, _os.path.join(meta_dir, "v1.metadata.json"))
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q137_iceberg_eqdelete_scope_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE NOT (doc_id % 10 = 0 AND lang = (SELECT min(lang) FROM documents))
    GROUP BY lang
    """,
)
def q137_iceberg_eqdelete_scope_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equality-delete PARTITION SCOPE under the hard oracle (spec
    §Scan Planning): the documents table is exported partitioned by
    lang, then a "foreign CDC writer" equality-deletes every
    doc_id % 10 == 0 key — but SCOPED to the first lang partition
    only. ``read_iceberg`` must delete those keys inside that
    partition and leave the SAME keys alive everywhere else; a
    global application would over-delete and hash-mismatch the
    oracle's predicate.

    Scale shape: the scope becomes two extra literal comparisons on
    the broadcast anti-join — no new shuffle, no new scan."""
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        append_equality_deletes,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    cache = _cache_dir("iceberg_eqscope", sf_dir, "documents")
    sink = FileSink(
        path=cache,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        partition_by=["lang"],
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    try:
        committed = sink.current_manifest("base", materialize=False) is not None
    except FileNotFoundError:
        committed = False
    if not committed:
        sink.write_staging(docs, "base")
        sink.publish("base")
    if not _os.path.isdir(_os.path.join(cache, "metadata")):
        sink.export_iceberg()
    meta = current_metadata(cache)
    _, dels = snapshot_files(meta, cache, collect_deletes=True)
    if not dels:
        first_lang = docs.agg(F.min("lang")).collect()[0][0]
        keys = [
            int(r.doc_id)
            for r in docs.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id")
            .collect()
        ]
        append_equality_deletes(
            cache,
            [{"doc_id": k} for k in sorted(keys)],
            ["doc_id"],
            partition_scope={"lang": first_lang},
        )
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q138_delta_dv_delete_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5
    GROUP BY lang
    """,
)
def q138_delta_dv_delete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's OWN deletion-vector DELETE under the hard oracle
    (PROTOCOL.md §Deletion Vectors, write side): the documents table is
    exported as a lang-partitioned Delta table, then
    ``delete_delta_rows`` commits TWO successive DV deletes —
    doc_id%7==3, then doc_id%11==5 — so the second commit must union
    positions into replacement vectors on every overlapping file
    (replace-descriptor semantics), upgrade the protocol exactly once,
    and keep partitionValues on every re-added file. ``read_delta``
    then reconstructs the surviving rows; the aggregate must match the
    oracle's double-predicate value-for-value.

    Scale shape: each delete is one filtered scan + one exchange of
    matched coordinates + executor-side bitmap writes; the read back is
    the scan + broadcast DV anti-join q131 pinned. Both deletes match
    rows at every sf, so the version-count fixture guards are total.
    """
    import os as _os

    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        read_delta,
    )

    cache = _cache_dir("delta_dvdel", sf_dir, "documents")
    sink = FileSink(
        path=cache,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        partition_by=["lang"],
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    try:
        committed = sink.current_manifest("base", materialize=False) is not None
    except FileNotFoundError:
        committed = False
    if not committed:
        sink.write_staging(docs, "base")
        sink.publish("base")
    log_dir = _os.path.join(cache, "_delta_log")
    if not _os.path.isdir(log_dir):
        sink.export_delta_log()  # version 0: full base state
    if _log_versions(log_dir)[-1] < 1:
        delete_delta_rows(spark, cache, "doc_id % 7 = 3")
    if _log_versions(log_dir)[-1] < 2:
        delete_delta_rows(spark, cache, "doc_id % 11 = 5")
    df = read_delta(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q139_iceberg_transform_scope_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE NOT (doc_id % 10 = 0 AND doc_id - doc_id % 100 = 300)
    GROUP BY lang
    """,
)
def q139_iceberg_transform_scope_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equality-delete scope over a HIDDEN-PARTITIONING transform
    under the hard oracle (spec §Scan Planning + §Partition
    Transforms): the documents table's spec is truncate[100] over
    doc_id (a foreign hidden-partitioned table — data files keep the
    source column, the spec derives the partition), and a foreign CDC
    writer equality-deletes every doc_id % 10 == 0 key SCOPED to the
    truncation bucket 300. ``read_iceberg`` must evaluate the
    transform on the source column JVM-side and delete those keys
    only where trunc100(doc_id) == 300 — refusing (the old behavior)
    serves nothing, applying globally over-deletes, and both
    hash-mismatch the oracle's reconstruction. The bucket[N] variant
    of the same path is pinned by the spec's published Murmur3
    vectors in test_iceberg_transforms (DuckDB cannot express the
    hash).

    Scale shape: the scope adds one codegen expression to the
    broadcast anti-join — no new shuffle, no Python."""
    import json as _json
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
        append_equality_deletes,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    cache = _cache_dir("iceberg_truncscope", sf_dir, "documents")
    sink = FileSink(
        path=cache, commit_mode="manifest", table_type=TableType.APPEND_ONLY
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    try:
        committed = sink.current_manifest("base", materialize=False) is not None
    except FileNotFoundError:
        committed = False
    if not committed:
        sink.write_staging(docs, "base")
        sink.publish("base")
    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir):
        sink.export_iceberg()
    meta = current_metadata(cache)
    _, dels = snapshot_files(meta, cache, collect_deletes=True)
    if not dels:
        key_id = next(
            f["id"]
            for f in meta["schemas"][0]["fields"]
            if f["name"] == "doc_id"
        )
        v = _metadata_versions(meta_dir)[-1]
        mpath = _os.path.join(meta_dir, f"v{v}.metadata.json")
        with open(mpath) as fh:
            mjson = _json.load(fh)
        mjson["partition-specs"][0]["fields"] = [{
            "name": "doc_trunc", "transform": "truncate[100]",
            "source-id": key_id, "field-id": 1000,
        }]
        with open(mpath, "w") as fh:
            _json.dump(mjson, fh)
        keys = [
            int(r.doc_id)
            for r in docs.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id")
            .collect()
        ]
        append_equality_deletes(
            cache,
            [{"doc_id": k} for k in sorted(keys)],
            ["doc_id"],
            partition_scope={"doc_trunc": 300},
        )
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q140_iceberg_pos_delete_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 9 <> 4 AND doc_id % 13 <> 6
    GROUP BY lang
    """,
)
def q140_iceberg_pos_delete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's OWN predicate-driven Iceberg DELETE under the hard
    oracle (spec §Position Delete Files, write side —
    sinks.iceberg_delete.delete_iceberg_rows): the documents table is
    exported as a lang-partitioned Iceberg table, then TWO successive
    row-level DELETEs commit position-delete snapshots — doc_id%9==4,
    then doc_id%13==6 — so the second must scan with the first's
    tombstones applied (no re-deleted coordinates; its
    deleted-records summary counts only newly-dead rows) and its
    manifest list must carry the first delete manifest by reference.
    ``read_iceberg`` then applies both delete files; the aggregate
    must match the oracle's double-predicate value-for-value.

    Scale shape: each DELETE is one snapshot scan with the predicate
    pushed into it + ONE exchange of matched coordinates hash-keyed on
    file path (executors write the sorted delete parquet; the driver
    sees only per-file footer counts and the commit JSON); the read
    back is the scan + broadcast pos-delete anti-join q127/q128
    pinned. Reference shape: HivePurgerQueryTemplate.java:82-89
    rewrites whole partitions for the same job — this is the
    tombstone-sized equivalent.
    """
    import os as _os

    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    cache = _cache_dir("iceberg_rowdel", sf_dir, "documents")
    sink = FileSink(
        path=cache,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        partition_by=["lang"],
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    try:
        committed = sink.current_manifest("base", materialize=False) is not None
    except FileNotFoundError:
        committed = False
    if not committed:
        sink.write_staging(docs, "base")
        sink.publish("base")
    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir):
        sink.export_iceberg()  # v1: full base state
    if _metadata_versions(meta_dir)[-1] < 2:
        delete_iceberg_rows(spark, cache, "doc_id % 9 = 4")
    if _metadata_versions(meta_dir)[-1] < 3:
        delete_iceberg_rows(spark, cache, "doc_id % 13 = 6")
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q141_iceberg_hidden_partition_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE n_chars % 4 <> 1
    GROUP BY lang
    """,
)
def q141_iceberg_hidden_partition_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Transform-partitioned Iceberg EXPORT + engine row-level DELETE
    under the hard oracle (spec §Partition Transforms, write side —
    VERDICT r9 missing #3): the documents table is exported HIDDEN-
    partitioned by truncate[1000] over doc_id (the derived column is
    the physical partition key, dropped from data files by
    ``partitionBy`` while the SOURCE column stays — the spec's layout;
    the authored spec field carries the transform, the source field
    id, and the int result type), then ``delete_iceberg_rows``
    tombstones n_chars%4==1 — the delete manifest's partition struct
    must use the spec's transform field — and ``read_iceberg``
    reconstructs the survivors value-for-value.

    Scale shape: the export is metadata-only over the committed
    manifest (no data read); the delete is one scan + one coordinate
    exchange; the read back is scan + broadcast anti-join. The same
    authored spec drives metadata pruning on the source column
    (prune_files transform path, tested in test_iceberg) — a point
    query on a 1000-bucket table reads 1/1000th of the files.
    """
    import os as _os

    from incubator_gobblin_spark.functions.iceberg_transforms import (
        transform_expr,
    )
    from incubator_gobblin_spark.sinks.files import FileSink, TableType
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    cache = _cache_dir("iceberg_hiddenpart2", sf_dir, "documents")
    sink = FileSink(
        path=cache,
        commit_mode="manifest",
        table_type=TableType.APPEND_ONLY,
        partition_by=["doc_id_trunc"],
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    try:
        committed = sink.current_manifest("base", materialize=False) is not None
    except FileNotFoundError:
        committed = False
    if not committed:
        staged = docs.withColumn(
            "doc_id_trunc",
            transform_expr("truncate[1000]", F.col("doc_id"), "long"),
        )
        sink.write_staging(staged, "base")
        sink.publish("base")
    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir):
        sink.export_iceberg(
            transform_spec=[
                {
                    "name": "doc_id_trunc",
                    "transform": "truncate[1000]",
                    "source": "doc_id",
                }
            ]
        )  # v1: full base state under the hidden spec
    if _metadata_versions(meta_dir)[-1] < 2:
        delete_iceberg_rows(spark, cache, "n_chars % 4 = 1")
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q142_delta_optimize_vacuum_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 6 <> 2
    GROUP BY lang
    """,
)
def q142_delta_optimize_vacuum_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full Delta DELETE lifecycle under the hard oracle:
    ``write_delta_table`` authors a standalone lang-partitioned Delta
    table (footer-derived per-file stats included),
    ``delete_delta_rows`` commits a DV delete (doc_id%6==2),
    ``compact_delta_files`` ABSORBS the bitmaps into clean rewrites
    with ``dataChange=false`` (the OPTIMIZE shape — delta-spark
    ``OptimizeTableCommand``; reference parity gobblin-compaction
    ``MRCompactor.java`` per-partition rewrite jobs), and
    ``vacuum_delta`` physically removes the superseded originals and
    bitmap files (reference parity gobblin-data-management
    ``CleanableDatasetBase.java`` retention cleaners). The read-back
    aggregate must match the oracle value-for-value AFTER the
    originals are physically gone — proving compaction rewrote
    exactly the surviving rows and vacuum deleted only unreferenced
    files.

    Scale shape: one rewrite job per DV'd partition group (each a
    file-scoped scan + broadcast DV anti-join + coalesce), one
    commit; vacuum is a driver-side listing, no Spark job.
    """
    import os as _os

    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        compact_delta_files,
        vacuum_delta,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        _replay_state,
        read_delta,
    )

    cache = _cache_dir("delta_optvac", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    log_dir = _os.path.join(cache, "_delta_log")
    if not _os.path.isdir(log_dir) or not _log_versions(log_dir):
        write_delta_table(spark, docs, cache, partition_by=["lang"])
    if _log_versions(log_dir)[-1] < 1:
        delete_delta_rows(spark, cache, "doc_id % 6 = 2")
    if _log_versions(log_dir)[-1] < 2:
        compact_delta_files(
            spark,
            cache,
            target_file_bytes=1 << 30,
            small_file_bytes=0,  # absorb DVs only: surgical OPTIMIZE
        )
        vacuum_delta(cache, retention_hours=0, allow_short_retention=True)
    live, _, _ = _replay_state(log_dir, None)
    assert not any(a.get("deletionVector") for a in live.values())
    df = read_delta(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q143_iceberg_rewrite_files_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    WHERE doc_id % 9 <> 4
    GROUP BY lang
    """,
)
def q143_iceberg_rewrite_files_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The full Iceberg DELETE lifecycle under the hard oracle:
    ``write_iceberg_table`` authors a standalone lang-partitioned v2
    table (no manifest lake underneath), ``delete_iceberg_rows``
    commits a position-delete snapshot (doc_id%9==4), and
    ``rewrite_iceberg_data_files`` ABSORBS the tombstones — rewriting
    exactly the targeted files with deletes applied, marking the
    originals DELETED with lineage kept, and DROPPING the absorbed
    delete manifest from the new ``operation=replace`` snapshot
    (iceberg-core RewriteDataFilesAction; reference parity
    gobblin-compaction ``MRCompactor.java``). The read-back aggregate
    must match the oracle value-for-value from a snapshot that
    carries ZERO delete files — proving the rewrite preserved exactly
    the surviving rows.

    Scale shape: the rewrite is one job — the snapshot scan with
    deletes applied, a broadcast join against the metadata-scale
    affected-file map, one exchange keyed on (group, bin), and a
    partitioned write; the driver holds per-file metadata only.
    """
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        rewrite_iceberg_data_files,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
        snapshot_files,
    )

    cache = _cache_dir("iceberg_rewrite", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    import os as _os

    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir) or not _metadata_versions(meta_dir):
        write_iceberg_table(spark, docs, cache, partition_by=["lang"])
    if _metadata_versions(meta_dir)[-1] < 2:
        delete_iceberg_rows(spark, cache, "doc_id % 9 = 4")
    if _metadata_versions(meta_dir)[-1] < 3:
        rewrite_iceberg_data_files(spark, cache)
    # the rewritten snapshot must carry ZERO delete files
    _, dels = snapshot_files(
        current_metadata(cache), cache, collect_deletes=True
    )
    assert not dels
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q144_iceberg_upsert_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 5 = 0 THEN n_chars + 50000
                         ELSE n_chars END) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q144_iceberg_upsert_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-facing Iceberg UPSERT under the hard oracle — the CDC /
    Flink-upsert-sink shape (spec §Equality Delete Files):
    ``upsert_iceberg_rows`` commits ONE snapshot carrying an
    equality-delete manifest on ``doc_id`` (killing the old versions
    of every doc_id%5==0 row) plus a data manifest appending the
    updated rows at the SAME sequence number, so the strictly-before
    rule spares them. The read-back must show every row exactly once
    with the updated rows' n_chars shifted by 50000 — count unchanged
    per lang (no duplicate, no loss), sums shifted value-for-value.

    Scale shape: the upsert never reads or rewrites a data file —
    O(new rows) staged writes + metadata; the read is the scan +
    broadcast equality anti-join q137 pinned.
    """
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    import os as _os

    cache = _cache_dir("iceberg_upsert", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir) or not _metadata_versions(meta_dir):
        write_iceberg_table(spark, docs, cache, partition_by=["lang"])
    if _metadata_versions(meta_dir)[-1] < 2:
        updates = docs.filter("doc_id % 5 = 0").withColumn(
            "n_chars", F.col("n_chars") + 50000
        )
        upsert_iceberg_rows(spark, cache, updates, on="doc_id")
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q145_delta_merge_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN doc_id % 8 = 1 THEN n_chars + 70000
                         ELSE n_chars END) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q145_delta_merge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-facing Delta MERGE under the hard oracle — merge-on-read
    upsert (PROTOCOL.md §Deletion Vectors): ``merge_delta_rows``
    commits ONE version in which every matched row (doc_id%8==1) dies
    by deletion vector and its updated version is appended —
    delta-spark's WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT
    * with bitmaps instead of copy-on-write rewrites. The read-back
    must show every row exactly once with matched rows' n_chars
    shifted by 70000 — count unchanged per lang, sums shifted
    value-for-value.

    Scale shape: one scan + broadcast left-semi on the distinct
    source keys, one coordinate exchange, executor bitmap writes, one
    partitioned insert write — the driver holds per-file descriptors.
    """
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        merge_delta_rows,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        read_delta,
    )

    import os as _os

    cache = _cache_dir("delta_merge", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    log_dir = _os.path.join(cache, "_delta_log")
    if not _os.path.isdir(log_dir) or not _log_versions(log_dir):
        write_delta_table(spark, docs, cache, partition_by=["lang"])
    if _log_versions(log_dir)[-1] < 1:
        updates = docs.filter("doc_id % 8 = 1").withColumn(
            "n_chars", F.col("n_chars") + 70000
        )
        merge_delta_rows(spark, cache, updates, on="doc_id")
    df = read_delta(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q146_delta_restore_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q146_delta_restore_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta RESTORE TO VERSION under the hard oracle (delta-spark
    ``RestoreTableCommand``): the documents table is written standalone
    (v0), a DV DELETE kills doc_id%3==0 (v1), and
    ``restore_delta_table`` commits v2 turning the live state back
    into v0's — the deleted rows RETURN, so the aggregate must equal
    the unfiltered oracle exactly. History is appended, not erased:
    the DV'd v1 stays time-travelable.

    Scale shape: restore is a pure metadata diff (replay old + new,
    emit remove/add actions) — no data read, no Spark job.
    """
    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        restore_delta_table,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import (
        _log_versions,
        read_delta,
    )

    import os as _os

    cache = _cache_dir("delta_restore", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    log_dir = _os.path.join(cache, "_delta_log")
    if not _os.path.isdir(log_dir) or not _log_versions(log_dir):
        write_delta_table(spark, docs, cache, partition_by=["lang"])
    if _log_versions(log_dir)[-1] < 1:
        delete_delta_rows(spark, cache, "doc_id % 3 = 0")
    if _log_versions(log_dir)[-1] < 2:
        restore_delta_table(spark, cache, 0)
    df = read_delta(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q147_iceberg_rollback_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q147_iceberg_rollback_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rollback under the hard oracle (iceberg-core
    ``ManageSnapshots.rollbackTo``): the documents table is written
    standalone, a position-DELETE snapshot kills doc_id%4==1, and
    ``rollback_iceberg_table`` publishes a METADATA-ONLY version whose
    current-snapshot-id points back at the pre-delete snapshot — the
    deleted rows RETURN without touching a single data or delete
    file, so the aggregate must equal the unfiltered oracle exactly
    while the abandoned delete snapshot stays time-travelable.

    Scale shape: one metadata JSON write; no scan, no Spark job.
    """
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        rollback_iceberg_table,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    import os as _os

    cache = _cache_dir("iceberg_rollback", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir) or not _metadata_versions(meta_dir):
        write_iceberg_table(spark, docs, cache, partition_by=["lang"])
    if _metadata_versions(meta_dir)[-1] < 2:
        delete_iceberg_rows(spark, cache, "doc_id % 4 = 1")
    if _metadata_versions(meta_dir)[-1] < 3:
        meta = current_metadata(cache)
        base = min(s["snapshot-id"] for s in meta["snapshots"])
        rollback_iceberg_table(cache, base)
    df = read_iceberg(spark, cache)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q148_iceberg_tag_read_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q148_iceberg_tag_read_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg refs under the hard oracle (spec §refs; iceberg-core
    ``ManageSnapshots.createTag``): the pre-delete snapshot is TAGGED,
    a position-DELETE snapshot then kills doc_id%6==3, and snapshot
    history is EXPIRED to keep_last=1 — the tag is a retention ROOT,
    so its snapshot survives the expiry that would otherwise free it.
    ``read_iceberg(snapshot_id="pre-delete")`` resolves the name and
    must reconstruct the FULL table value-for-value, while the
    current read sees the post-delete state (pinned by pytest).

    Scale shape: ref create/resolve are metadata-only; the tagged
    read is the same scan time travel plans.
    """
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
        expire_iceberg_snapshots,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        set_iceberg_ref,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    import os as _os

    cache = _cache_dir("iceberg_tagread", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    meta_dir = _os.path.join(cache, "metadata")
    if not _os.path.isdir(meta_dir) or not _metadata_versions(meta_dir):
        write_iceberg_table(spark, docs, cache, partition_by=["lang"])
    meta = current_metadata(cache)
    if "pre-delete" not in (meta.get("refs") or {}):
        set_iceberg_ref(cache, "pre-delete")
    if len(current_metadata(cache).get("snapshots", [])) < 2:
        delete_iceberg_rows(spark, cache, "doc_id % 6 = 3")
        expire_iceberg_snapshots(cache, keep_last=1)
    df = read_iceberg(spark, cache, snapshot_id="pre-delete")
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q149_kafka_cdc_upsert_agg",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
    """,
)
def q149_kafka_cdc_upsert_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once Kafka -> Iceberg CDC-upsert LOOP under the
    hard oracle: the table is seeded with CORRUPTED values (every
    n_chars shifted by +12345), every true document row is produced
    to the file-backed broker as a keyed CDC message, and
    ``ingest_kafka_upsert_iceberg`` consumes the batch — one snapshot
    whose equality deletes kill every seeded version and whose
    appends land the true rows, with the consumed offsets riding the
    same atomic metadata publish. The read-back aggregate must equal
    the plain oracle EXACTLY: one wrong/missed/duplicated key and the
    +12345 shift surfaces in the hash. A second ingest plans zero
    records (the watermark lives in the table), so re-runs are
    no-ops — the idempotence the correctness gate re-executes.

    Scale shape: upsert cost is O(batch), never O(table); the read is
    the scan + broadcast equality anti-join q137/q144 pinned.
    """
    from incubator_gobblin_spark.jobs.kafka_ingest import (
        ingest_kafka_upsert_iceberg,
    )
    from incubator_gobblin_spark.sinks.iceberg_export import (
        _metadata_versions,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources import mock_kafka as MK
    from incubator_gobblin_spark.sources.iceberg_import import read_iceberg

    import os as _os

    cache = _cache_dir("kafka_cdc_upsert", sf_dir, "documents")
    table = _os.path.join(cache, "table")
    broker = _os.path.join(cache, "broker")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    meta_dir = _os.path.join(table, "metadata")
    if not _os.path.isdir(meta_dir) or not _metadata_versions(meta_dir):
        seeded = docs.withColumn(
            "n_chars", (F.col("n_chars") + 12345).cast("long")
        )
        write_iceberg_table(spark, seeded, table, partition_by=["lang"])
    MK.register(spark)
    if not _os.path.isdir(broker):
        src = docs.select(
            F.col("doc_id").cast("string").alias("key"),
            F.to_json(
                F.struct("doc_id", "lang", "source", "n_chars")
            ).alias("value"),
        )
        (
            src.write.format("mockkafka")
            .mode("append")
            .option("path", broker)
            .option("topic", "docs")
            .option("numPartitions", "4")
            .save()
        )
    schema = docs.schema

    def _shape(df):
        # the upsert enforces the table's declared types (the schema
        # author widened ints to long)
        return df.select("value.*").select(
            F.col("doc_id").cast("long"),
            "lang",
            "source",
            F.col("n_chars").cast("long"),
        )

    ingest_kafka_upsert_iceberg(
        spark,
        "docs",
        table,
        on="doc_id",
        value_schema=schema,
        transform=_shape,
        reader_options={"path": broker},
    )
    df = read_iceberg(spark, table)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q150_delta_cdf_changes_agg",
    """
    WITH upd AS (
      SELECT doc_id, lang, source, n_chars
      FROM documents WHERE doc_id % 9 = 0
    ),
    ins AS (
      SELECT doc_id + 500000 AS doc_id, lang, source, n_chars
      FROM documents WHERE doc_id < 3
    ),
    live1 AS (
      SELECT doc_id, lang, source, n_chars + 5 AS n_chars FROM upd
      UNION ALL SELECT doc_id, lang, source, n_chars FROM ins
      UNION ALL SELECT doc_id, lang, source, n_chars
      FROM documents WHERE doc_id % 9 <> 0
    ),
    changes AS (
      SELECT 0 AS version, 'insert' AS change_type, n_chars
      FROM documents
      UNION ALL SELECT 1, 'update_preimage', n_chars FROM upd
      UNION ALL SELECT 1, 'update_postimage', n_chars + 5 FROM upd
      UNION ALL SELECT 1, 'insert', n_chars FROM ins
      UNION ALL SELECT 2, 'delete', n_chars
      FROM live1 WHERE doc_id % 10 = 4
    )
    SELECT CAST(version AS BIGINT) AS version,
           change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM changes GROUP BY 1, 2
    """,
)
def q150_delta_cdf_changes_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta CHANGE DATA FEED read under the hard oracle (PROTOCOL.md
    §Add CDC File / §Change Data Files; delta-spark ``table_changes``
    semantics; reference analogue: the CDC consumption half of
    gobblin-modules/gobblin-kafka-common ingestion flows): the
    documents table becomes a lang-partitioned CDF-enabled Delta table
    (v0 = derived inserts), a MERGE commits update_preimage/
    update_postimage/insert change files (v1) and a DV DELETE commits
    delete change files NET of the rows the merge already killed (v2);
    ``read_delta_changes`` then replays the full feed and the per-
    (version, change_type) aggregate must match the oracle's
    reconstruction value-for-value.

    Scale shape: CDF planning is O(commits) driver-side JSON; the data
    path is one grouped parquet scan per (version, kind) with typed
    partition literals (assemble_snapshot), DV bitmaps decoding
    executor-side — never O(rows) on the driver.
    """
    import os as _os

    from incubator_gobblin_spark.sinks.delta_delete import delete_delta_rows
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        merge_delta_rows,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_cdf import read_delta_changes
    from incubator_gobblin_spark.sources.delta_import import _log_versions

    cache = _cache_dir("delta_cdf", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    log_dir = _os.path.join(cache, "_delta_log")
    if not _os.path.isdir(log_dir) or not _log_versions(log_dir):
        write_delta_table(
            spark,
            docs,
            cache,
            partition_by=["lang"],
            configuration={"delta.enableChangeDataFeed": "true"},
        )
    if _log_versions(log_dir)[-1] < 1:
        updates = docs.filter("doc_id % 9 = 0").withColumn(
            "n_chars", F.col("n_chars") + 5
        )
        inserts = docs.filter("doc_id < 3").withColumn(
            "doc_id", F.col("doc_id") + 500000
        )
        merge_delta_rows(
            spark, cache, updates.unionByName(inserts), on="doc_id"
        )
    if _log_versions(log_dir)[-1] < 2:
        delete_delta_rows(spark, cache, "doc_id % 10 = 4")
    ch = read_delta_changes(spark, cache, 0, 2)
    return ch.groupBy(
        F.col("_commit_version").alias("version"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


def _changelog_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Shared 4-snapshot Iceberg fixture for the changelog queries
    (q151/q152): base write (s0), position DELETE (s1), CDC upsert
    (s2), RewriteDataFiles (s3). Cached per source identity; each step
    is guarded so an interrupted build resumes."""
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        rewrite_iceberg_data_files,
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
    )

    cache = _cache_dir("iceberg_changelog", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )

    def _n_snaps() -> int:
        try:
            return len(current_metadata(cache).get("snapshots", []))
        except FileNotFoundError:
            return 0

    if _n_snaps() < 1:
        write_iceberg_table(spark, docs, cache, partition_by=["lang"])
    if _n_snaps() < 2:
        delete_iceberg_rows(spark, cache, "doc_id % 5 = 2")
    if _n_snaps() < 3:
        after1 = docs.filter("doc_id % 5 <> 2")
        updates = after1.filter("doc_id % 7 = 0").withColumn(
            "n_chars", F.col("n_chars") + 1000
        )
        inserts = docs.filter("doc_id < 4").withColumn(
            "doc_id", F.col("doc_id") + 900000
        )
        upsert_iceberg_rows(
            spark, cache, updates.unionByName(inserts), on="doc_id"
        )
    if _n_snaps() < 4:
        rewrite_iceberg_data_files(spark, cache)
    return cache


@register(
    "q151_iceberg_changelog_agg",
    """
    WITH after1 AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 <> 2
    ),
    upd AS (
      SELECT doc_id, lang, n_chars + 1000 AS n_chars
      FROM after1 WHERE doc_id % 7 = 0
    ),
    ins AS (
      SELECT doc_id + 900000 AS doc_id, lang, n_chars
      FROM documents WHERE doc_id < 4
    ),
    changes AS (
      SELECT 0 AS ordinal, 'insert' AS change_type, n_chars
      FROM documents
      UNION ALL SELECT 1, 'delete', n_chars
      FROM documents WHERE doc_id % 5 = 2
      UNION ALL SELECT 2, 'delete', n_chars
      FROM after1 WHERE doc_id % 7 = 0
      UNION ALL SELECT 2, 'insert', n_chars FROM upd
      UNION ALL SELECT 2, 'insert', n_chars FROM ins
    )
    SELECT CAST(ordinal AS INT) AS ordinal,
           change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM changes GROUP BY 1, 2
    """,
)
def q151_iceberg_changelog_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg incremental CHANGELOG scan under the hard oracle
    (iceberg-core IncrementalChangelogScan semantics; reference
    analogue: the CDC consumption half of gobblin-kafka-common): the
    documents table becomes a lang-partitioned Iceberg v2 table (s0),
    a predicate DELETE commits position deletes (s1), a CDC upsert
    commits an equality-delete manifest + same-sequence append (s2),
    and RewriteDataFiles compacts (s3, operation=replace). The
    changelog over the full lineage must report s0's rows as inserts,
    s1's matched rows as deletes, s2 as delete+insert pairs recovered
    from the parent snapshot, and NOTHING for s3 — aggregated per
    (ordinal, change_type) and value-hash-checked against the oracle's
    reconstruction.

    Scale shape: snapshot diffing is driver-side manifest metadata;
    row recovery scans only touched files with delete coordinates/keys
    broadcast — never O(rows) on the driver.
    """
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    cache = _changelog_fixture(spark, sf_dir)
    ch = read_iceberg_changelog(spark, cache, None)
    return ch.groupBy(
        F.col("_change_ordinal").alias("ordinal"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q152_iceberg_changelog_updates_agg",
    """
    WITH after1 AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 <> 2
    ),
    upd AS (
      SELECT doc_id, lang, n_chars + 1000 AS n_chars
      FROM after1 WHERE doc_id % 7 = 0
    ),
    ins AS (
      SELECT doc_id + 900000 AS doc_id, lang, n_chars
      FROM documents WHERE doc_id < 4
    ),
    changes AS (
      SELECT 0 AS ordinal, 'insert' AS change_type, n_chars
      FROM documents
      UNION ALL SELECT 1, 'delete', n_chars
      FROM documents WHERE doc_id % 5 = 2
      UNION ALL SELECT 2, 'update_preimage', n_chars
      FROM after1 WHERE doc_id % 7 = 0
      UNION ALL SELECT 2, 'update_postimage', n_chars FROM upd
      UNION ALL SELECT 2, 'insert', n_chars FROM ins
    )
    SELECT CAST(ordinal AS INT) AS ordinal,
           change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM changes GROUP BY 1, 2
    """,
)
def q152_iceberg_changelog_updates_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The changelog's UPDATE pairing under the hard oracle
    (iceberg-spark ``create_changelog_view`` compute-updates): over
    q151's cached fixture, ``identifier_fields=["doc_id"]`` must
    render the CDC upsert snapshot's same-key delete+insert pairs as
    update_preimage/update_postimage — the standalone delete (s1, no
    same-snapshot inserts) and the genuinely-new keys stay
    delete/insert. Shares q151's table build, so the incremental cost
    is the pairing join only (one broadcast-ready intersect + left
    join on the snapshot+key)."""
    from incubator_gobblin_spark.sources.iceberg_changelog import (
        read_iceberg_changelog,
    )

    cache = _changelog_fixture(spark, sf_dir)
    ch = read_iceberg_changelog(
        spark, cache, None, identifier_fields=["doc_id"]
    )
    return ch.groupBy(
        F.col("_change_ordinal").alias("ordinal"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q153_replicate_iceberg_to_delta_agg",
    """
    WITH live AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 6 <> 3
    ),
    upd AS (
      SELECT doc_id, lang, n_chars + 11 AS n_chars
      FROM live WHERE doc_id % 7 = 0
    ),
    ins AS (
      SELECT doc_id + 700000 AS doc_id, lang, n_chars
      FROM documents WHERE doc_id < 3
    ),
    final AS (
      SELECT doc_id, lang, n_chars FROM live WHERE doc_id % 7 <> 0
      UNION ALL SELECT doc_id, lang, n_chars FROM upd
      UNION ALL SELECT doc_id, lang, n_chars FROM ins
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM final GROUP BY lang
    """,
)
def q153_replicate_iceberg_to_delta_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-format CDC replication, Iceberg -> Delta, under the hard
    oracle (jobs/replicate.py; reference analogue:
    gobblin-data-management replication flows at row granularity): a
    lang-partitioned Iceberg source is bootstrapped into a Delta
    destination, then a predicate DELETE + a CDC upsert land on the
    source and ONE incremental run replays them through the changelog
    scan (net-outcome collapse -> keyed DV-DELETE + txn-watermarked
    MERGE). The aggregate reads the DESTINATION — a value mismatch
    anywhere in changelog planning, collapse, delete, merge, or
    watermarking breaks the hash.

    Scale shape: changelog planning is driver-side manifest metadata;
    the apply is one broadcast-keyed DV delete + one merge commit per
    window — never O(table) rewrites.
    """
    import os as _os

    from incubator_gobblin_spark.jobs.replicate import (
        replicate_iceberg_to_delta,
    )
    from incubator_gobblin_spark.sinks.iceberg_delete import (
        delete_iceberg_rows,
    )
    from incubator_gobblin_spark.sinks.iceberg_maintenance import (
        upsert_iceberg_rows,
        write_iceberg_table,
    )
    from incubator_gobblin_spark.sources.delta_import import read_delta
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
    )

    src = _cache_dir("repl_ice_src", sf_dir, "documents")
    dst = _cache_dir("repl_delta_dst", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )

    def _n_snaps() -> int:
        try:
            return len(current_metadata(src).get("snapshots", []))
        except FileNotFoundError:
            return 0

    if _n_snaps() < 1:
        write_iceberg_table(spark, docs, src, partition_by=["lang"])
    # bootstrap the destination from the base snapshot, so the later
    # run exercises the INCREMENTAL path (the replicate call is a
    # cheap no-op when already caught up)
    if not _os.path.isdir(_os.path.join(dst, "_delta_log")):
        replicate_iceberg_to_delta(spark, src, dst, on="doc_id")
    if _n_snaps() < 2:
        delete_iceberg_rows(spark, src, "doc_id % 6 = 3")
    if _n_snaps() < 3:
        live = docs.filter("doc_id % 6 <> 3")
        updates = live.filter("doc_id % 7 = 0").withColumn(
            "n_chars", F.col("n_chars") + 11
        )
        inserts = docs.filter("doc_id < 3").withColumn(
            "doc_id", F.col("doc_id") + 700000
        )
        upsert_iceberg_rows(
            spark, src, updates.unionByName(inserts), on="doc_id"
        )
    replicate_iceberg_to_delta(spark, src, dst, on="doc_id")
    df = read_delta(spark, dst)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q154_replicate_delta_to_iceberg_agg",
    """
    WITH upd AS (
      SELECT doc_id, lang, n_chars + 3 AS n_chars
      FROM documents WHERE doc_id % 8 = 0
    ),
    ins AS (
      SELECT doc_id + 600000 AS doc_id, lang, n_chars
      FROM documents WHERE doc_id < 2
    ),
    merged AS (
      SELECT doc_id, lang, n_chars
      FROM documents WHERE doc_id % 8 <> 0
      UNION ALL SELECT doc_id, lang, n_chars FROM upd
      UNION ALL SELECT doc_id, lang, n_chars FROM ins
    ),
    final AS (SELECT * FROM merged WHERE doc_id % 9 <> 1)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM final GROUP BY lang
    """,
)
def q154_replicate_delta_to_iceberg_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-format CDC replication, Delta -> Iceberg, under the hard
    oracle: a CDF-enabled Delta source is bootstrapped into an Iceberg
    destination, then a MERGE (updates + inserts) and a DV DELETE land
    on the source and ONE incremental run replays them through the
    change data feed — the net-outcome collapse becomes ONE atomic
    Iceberg commit (equality deletes for deleted + upserted keys,
    same-sequence append of the upserted rows, consumed Delta version
    in the table properties). The aggregate reads the DESTINATION.

    Scale shape: CDF planning is driver-side JSON; the apply is one
    O(batch) equality-delete + append commit per window — no table
    rewrite, no driver-side row traffic.
    """
    from incubator_gobblin_spark.jobs.replicate import (
        replicate_delta_to_iceberg,
    )
    from incubator_gobblin_spark.sinks.delta_delete import (
        delete_delta_rows,
    )
    from incubator_gobblin_spark.sinks.delta_maintenance import (
        merge_delta_rows,
        write_delta_table,
    )
    from incubator_gobblin_spark.sources.delta_import import _log_versions
    from incubator_gobblin_spark.sources.iceberg_import import (
        current_metadata,
        read_iceberg,
    )

    import os as _os

    src = _cache_dir("repl_delta_src", sf_dir, "documents")
    dst = _cache_dir("repl_ice_dst", sf_dir, "documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    log_dir = _os.path.join(src, "_delta_log")
    if not _os.path.isdir(log_dir) or not _log_versions(log_dir):
        write_delta_table(
            spark,
            docs,
            src,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
    try:
        current_metadata(dst)
    except FileNotFoundError:
        replicate_delta_to_iceberg(spark, src, dst, on="doc_id")
    if _log_versions(log_dir)[-1] < 1:
        updates = docs.filter("doc_id % 8 = 0").withColumn(
            "n_chars", F.col("n_chars") + 3
        )
        inserts = docs.filter("doc_id < 2").withColumn(
            "doc_id", F.col("doc_id") + 600000
        )
        merge_delta_rows(
            spark, src, updates.unionByName(inserts), on="doc_id"
        )
    if _log_versions(log_dir)[-1] < 2:
        delete_delta_rows(spark, src, "doc_id % 9 = 1")
    replicate_delta_to_iceberg(spark, src, dst, on="doc_id")
    df = read_iceberg(spark, dst)
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@register(
    "q155_iceberg_changelog_stream_agg",
    """
    WITH after1 AS (
      SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 <> 2
    ),
    upd AS (
      SELECT doc_id, lang, n_chars + 1000 AS n_chars
      FROM after1 WHERE doc_id % 7 = 0
    ),
    ins AS (
      SELECT doc_id + 900000 AS doc_id, lang, n_chars
      FROM documents WHERE doc_id < 4
    ),
    changes AS (
      SELECT 0 AS ordinal, 'insert' AS change_type, n_chars
      FROM documents
      UNION ALL SELECT 1, 'delete', n_chars
      FROM documents WHERE doc_id % 5 = 2
      UNION ALL SELECT 2, 'delete', n_chars
      FROM after1 WHERE doc_id % 7 = 0
      UNION ALL SELECT 2, 'insert', n_chars FROM upd
      UNION ALL SELECT 2, 'insert', n_chars FROM ins
    )
    SELECT CAST(ordinal AS INT) AS ordinal,
           change_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM changes GROUP BY 1, 2
    """,
)
def q155_iceberg_changelog_stream_agg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Iceberg changelog as a STRUCTURED STREAMING source
    (icebergstream readchangefeed=true — the r11 VERDICT's "last hole
    in the CDC matrix") under the hard oracle: one availableNow drain
    of q151's cached 4-snapshot fixture must deliver exactly the batch
    changelog's rows — per-snapshot inserts, parent-state-recovered
    deletes (position AND equality tombstones applied executor-side
    with pyarrow), the replace snapshot invisible — aggregated per
    (ordinal, change_type) against the same oracle as q151.

    Scale shape: offsets and snapshot diffing are driver-side manifest
    metadata; every touched data file is one executor-side pyarrow
    split, tombstones read once per split — never O(table) per batch.
    """
    import os as _os
    import shutil as _shutil

    from incubator_gobblin_spark.sources import iceberg_stream

    cache = _changelog_fixture(spark, sf_dir)
    stream_cache = _cache_dir("iceberg_changelog_stream", sf_dir, "documents")
    out = _os.path.join(stream_cache, "out")
    ckpt = _os.path.join(stream_cache, "ckpt")
    done = _os.path.join(stream_cache, "_DRAINED")
    if not _os.path.exists(done):
        # an interrupted drain leaves a partial sink — rebuild it whole
        _shutil.rmtree(out, ignore_errors=True)
        _shutil.rmtree(ckpt, ignore_errors=True)
        iceberg_stream.register(spark)
        q = (
            spark.readStream.format("icebergstream")
            .option("path", cache)
            .option("readchangefeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            raise RuntimeError(
                "q155: changelog stream drain did not terminate"
            )
        with open(done, "w") as fh:
            fh.write("ok")
    ch = spark.read.parquet(out)
    return ch.groupBy(
        F.col("_change_ordinal").alias("ordinal"),
        F.col("_change_type").alias("change_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


def entry_query(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: the multi-way broadcast star join + aggregation."""
    return q03_revenue_by_nation(spark, sf_dir)
