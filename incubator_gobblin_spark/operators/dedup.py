"""Deduplication operators (the reference's compaction-dedup semantics).

Reference: gobblin-compaction .../mapreduce/RecordKeyDedupReducerBase.java:35
(reduce at :74-97) — group records by a key schema and keep exactly one per
key: if a delta comparator is configured, the argmax over the delta fields
(ties keep the first encountered); otherwise any single record.
AvroKeyDedupReducer.java:39 + AvroValueDeltaSchemaComparator (:74-90) define
the delta comparator as a lexicographic compare over the delta fields.
Key selection (MRCompactorAvroKeyDedupJobRunner.java:83-90,:165-175):
fields doc-annotated ``primarykey``, else all fields.

Spark-first design: both variants are single-shuffle hash aggregations —
no MR sort phase, no secondary sort. ``max_by(struct(*), struct(deltas))``
gives map-side partial aggregation (partial max per mapper), so the
shuffle carries one candidate row per key per partition — at 100 TB this
is the difference between shuffling the dataset and shuffling ~|keys|
rows. The window+row_number formulation (what a naive port would write)
is also provided for comparison in tests, but ``dedup_argmax`` is the
scale path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType
from pyspark.sql.window import Window


def dedup_exact(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Keep one arbitrary record per key (no delta comparator configured).

    ``keys=None`` -> all columns (the reference's default when no
    primarykey-annotated fields exist,
    MRCompactorAvroKeyDedupJobRunner.java:126).
    """
    if keys is None:
        return df.dropDuplicates()
    return df.dropDuplicates(list(keys))


def dedup_argmax(
    df: DataFrame,
    keys: Sequence[str],
    delta: Sequence[str],
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """Keep, per key, the record with the lexicographically greatest delta
    tuple (RecordKeyDedupReducerBase.reduce:74-97). ``tie_breakers`` pins a
    deterministic winner when delta fields tie (the reference keeps the
    first record the reducer iterator happens to yield; a distributed
    engine must pin ties explicitly to be reproducible).

    Single hash-agg: ``max_by(struct(<all cols>), struct(delta...,
    tie...))`` — partial-aggregates map-side, one shuffle on ``keys``.
    """
    ordering = F.struct(*[F.col(c) for c in [*delta, *tie_breakers]])
    payload = F.struct(*[F.col(c) for c in df.columns])
    winner = F.max_by(payload, ordering).alias("_winner")
    out = df.groupBy(*[F.col(k) for k in keys]).agg(winner)
    return out.select("_winner.*")


def dedup_argmax_window(
    df: DataFrame,
    keys: Sequence[str],
    delta: Sequence[str],
    tie_breakers: Sequence[str] = (),
) -> DataFrame:
    """Window/row_number formulation of :func:`dedup_argmax` (same result).

    Kept because (a) it is the natural oracle-SQL shape and (b) when the
    full row ordering matters beyond the delta fields it generalizes
    better. Costs a shuffle + per-partition sort vs the hash-agg's
    partial-aggregate; prefer ``dedup_argmax`` in pipelines.

    Tie-breakers order DESC like the delta fields so both formulations
    pick the identical row (greatest tie-breaker wins).
    """
    order = [F.col(c).desc() for c in [*delta, *tie_breakers]]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current: str = "is_current",
    tiebreakers: Sequence[str] | None = None,
) -> DataFrame:
    """Temporal (SCD type-2) history: each record of a key becomes a
    validity interval [valid_from, valid_to) closed by the next record's
    timestamp; the latest record per key is open-ended (valid_to NULL,
    is_current true).

    This is the interval form of the compaction delta-merge family
    (gobblin-compaction .../mapreduce/RecordKeyDedupReducerBase.java:35):
    where dedup_argmax keeps only the winning record, scd2_history keeps
    every version queryable by time — the lake-side "as of" table that
    pairs with joins.asof_join on the read side.

    Scale: one shuffle on the key columns; lead() is computed inside the
    same window partition with no second exchange. Ties on ``ts_col``
    are broken by ``tiebreakers`` when given; the default orders by the
    remaining ORDERABLE columns only — a map-typed payload column would
    make orderBy raise, and sorting wide payloads is wasted work when
    the caller knows a narrow discriminator (pass e.g. ["op_seq"])."""
    from pyspark.sql.window import Window

    if tiebreakers is None:
        unorderable = (MapType,)
        tiebreakers = [
            f.name
            for f in df.schema.fields
            if f.name not in keys
            and f.name != ts_col
            and not isinstance(f.dataType, unorderable)
        ]
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreakers]
    w = Window.partitionBy(*keys).orderBy(*order)
    nxt = F.lead(F.col(ts_col)).over(w)
    return (
        df.withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, nxt)
        .withColumn(current, nxt.isNull())
    )
