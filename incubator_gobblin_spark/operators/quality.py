"""Row- and task-level quality checking.

Reference:
- RowLevelPolicy (gobblin-api .../qualitychecker/row/RowLevelPolicy.java:33;
  types FAIL | ERR_FILE | OPTIONAL at :37-46; executePolicy:68) — a
  per-record boolean check; failing records are dropped, and ERR_FILE
  policies additionally append failures to an error file
  (gobblin-core .../qualitychecker/row/RowLevelPolicyChecker.java,
  RowLevelErrFileWriter.java).
- TaskLevelPolicy (gobblin-api .../qualitychecker/task/TaskLevelPolicy.java:24,
  FAIL | OPTIONAL at :28-37) — post-run assertions; concrete:
  RowCountPolicy / RowCountRangePolicy (gobblin-core
  .../policies/count/RowCountPolicy.java:28).

Spark-first design: a row policy is a Column predicate, so the pass
stream is one ``filter`` (fused into the scan by codegen). The ERR_FILE
side output is the only part that costs anything: rather than evaluating
the plan twice, ``check_rows`` tags each row with the failing policy
names in one pass; callers either drop the tag column (FAIL semantics) or
split on it. Task policies use ``df.observe`` metrics so the counts ride
the main action instead of a second ``count()`` job — at 100 TB a
recount is a full extra scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class PolicyType(Enum):
    # RowLevelPolicy.Type / TaskLevelPolicy.Type (RowLevelPolicy.java:37-46)
    FAIL = "FAIL"          # drop failing rows (task: abort publish)
    ERR_FILE = "ERR_FILE"  # drop + route failures to an error output
    OPTIONAL = "OPTIONAL"  # record metrics only, keep rows


@dataclass
class RowPolicy:
    name: str
    predicate: Column  # True = record passes
    type: PolicyType = PolicyType.FAIL


@dataclass
class QualityResult:
    passed: DataFrame
    errors: DataFrame | None  # rows failing any ERR_FILE policy, tagged
    observation: Observation | None = None


def check_rows(df: DataFrame, policies: list[RowPolicy]) -> QualityResult:
    """Apply row-level policies in one pass.

    Returns the pass stream and (if any ERR_FILE policy exists) an error
    stream tagged with ``_failed_policies: array<string>`` — the analogue
    of RowLevelErrFileWriter's error file, to be written by the caller's
    sink. OPTIONAL policies never drop rows.
    """
    dropping = [p for p in policies if p.type in (PolicyType.FAIL, PolicyType.ERR_FILE)]
    err_policies = [p for p in policies if p.type == PolicyType.ERR_FILE]

    pass_cond = F.lit(True)
    for p in dropping:
        pass_cond = pass_cond & p.predicate

    passed = df.filter(pass_cond)

    errors = None
    if err_policies:
        tags = F.array_compact(
            F.array(
                *[
                    F.when(~p.predicate, F.lit(p.name)).otherwise(F.lit(None))
                    for p in dropping
                ]
            )
        )
        errors = df.filter(~pass_cond).withColumn("_failed_policies", tags)
    return QualityResult(passed=passed, errors=errors)


@dataclass
class RowCountPolicy:
    """Task-level count assertion (RowCountPolicy.java:28 /
    RowCountRangePolicy.java): written == expected, or within a ratio."""

    expected: int
    deviation: float = 0.0  # 0.0 -> exact match
    type: PolicyType = PolicyType.FAIL
    name: str = "row_count"

    def check(self, actual: int) -> bool:
        if self.deviation <= 0:
            return actual == self.expected
        lo = self.expected * (1 - self.deviation)
        hi = self.expected * (1 + self.deviation)
        return lo <= actual <= hi


@dataclass
class TaskPolicyError(Exception):
    failures: list[str] = field(default_factory=list)

    def __str__(self) -> str:  # pragma: no cover
        return f"task-level policy failures: {self.failures}"


def profile_columns(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = True,
) -> DataFrame:
    """Column-level data profile: one output row per column with row
    count, null count, distinct count, and min/max rendered as strings
    (so heterogeneous columns stack in one result).

    The audit-side companion of the row/task quality policies (the
    reference checks counts per run — RowCountPolicy,
    gobblin-core/.../policies/count/RowCountPolicy.java:28 — but has no
    whole-column drift profile; lake users bolt this on downstream).

    Scale: ALL columns profile in ONE aggregation pass over the scan.
    With ``exact_distinct`` Spark plans the multi-count-distinct via an
    Expand (rows x profiled-columns before the partial agg) — exact and
    oracle-comparable, worth it for scheduled audits; pass
    ``exact_distinct=False`` to use HLL approx_count_distinct instead
    (no Expand, ~2% error) for interactive profiling at full scale."""
    cols = cols or df.columns
    distinct = (
        (lambda c: F.count_distinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            distinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(f"{c}__rows").alias("n_rows"),
                        F.col(f"{c}__nulls").alias("n_nulls"),
                        F.col(f"{c}__distinct").alias("n_distinct"),
                        F.col(f"{c}__min").alias("min_value"),
                        F.col(f"{c}__max").alias("max_value"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.*")
