"""Data-quality constraint checks — the dbt `schema.yml` test surface.

The reference gates every silver/gold build on 24 declarative data tests
(dbt/dbt-project/models/schema.yml:10-105: not_null, unique,
relationships, dbt_expectations.expect_column_values_to_be_between;
run via `dbt test` before `dbt run`, dags/1_logistics-airbyte-dbt.py:37).
This module is that surface as engine checks: each check compiles to ONE
declarative DataFrame count (Catalyst pushes the predicates into the
scan), returns a violation count, and `run_checks` aggregates a suite
into a report; `gate` turns a suite's failures into `DataQualityError`
(the model runner and the streaming upsert both stop on it).

Scale notes: every check is a filter/agg over the table — no collects of
row data; `unique` is a groupBy on the key (one shuffle); `relationships`
is a left-anti join (broadcast when the parent is a dim). A 100 TB gate
runs them all in one pass per table at most.
"""

from __future__ import annotations

from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class CheckResult:
    name: str
    table: str
    passed: bool
    violations: int


class DataQualityError(Exception):
    """A constraint suite failed; carries the failed CheckResults."""

    def __init__(self, model: str, failed: Sequence[CheckResult]):
        self.failed = list(failed)
        detail = "; ".join(
            f"{r.name}[{r.table}]={r.violations} violations" for r in self.failed
        )
        super().__init__(f"model {model!r} failed data-quality checks: {detail}")


def gate(label: str, checks, df: DataFrame) -> None:
    """Run ``checks(df)`` (None passes) and raise ``DataQualityError`` on
    any failed CheckResult — the write path's one quality gate."""
    failed = [r for r in checks(df) if not r.passed] if checks else []
    if failed:
        raise DataQualityError(label, failed)


def not_null(df: DataFrame, cols: Sequence[str]) -> int:
    """Rows where any of ``cols`` is NULL (dbt `not_null`)."""
    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    return df.filter(pred).count()


def unique(df: DataFrame, cols: Sequence[str]) -> int:
    """Number of key values appearing more than once (dbt `unique`)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .count()
    )


def relationships(
    child: DataFrame, col: str, parent: DataFrame, parent_col: str
) -> int:
    """Referential integrity: child keys with no parent row (dbt
    `relationships`). NULL child keys are not violations (dbt semantics:
    pair with not_null when they must exist)."""
    orphans = child.filter(F.col(col).isNotNull()).join(
        parent.select(F.col(parent_col).alias(col)).distinct(),
        col,
        "left_anti",
    )
    return orphans.count()


def between(
    df: DataFrame,
    col: str,
    min_value=None,
    max_value=None,
    strict: bool = False,
) -> int:
    """Range check (dbt_expectations.expect_column_values_to_be_between;
    schema.yml:51-54 uses strict bounds on stock levels). NULLs are not
    violations."""
    c = F.col(col)
    pred = F.lit(False)
    if min_value is not None:
        pred = pred | (c <= min_value if strict else c < min_value)
    if max_value is not None:
        pred = pred | (c >= max_value if strict else c > max_value)
    return df.filter(c.isNotNull() & pred).count()


def accepted_values(df: DataFrame, col: str, values: Sequence) -> int:
    """Domain check (dbt `accepted_values`)."""
    return df.filter(
        F.col(col).isNotNull() & ~F.col(col).isin(list(values))
    ).count()


def run_checks(
    checks: Sequence[tuple[str, str, "callable"]],
) -> list[CheckResult]:
    """Run a suite of (check_name, table_name, thunk → violation count);
    returns per-check results in input order. Callers gate the pipeline on
    ``all(r.passed for r in results)`` — the engine's `dbt test >> dbt
    run` ordering.

    The thunks run concurrently on ``min(len(checks), defaultParallelism)``
    threads, each wrapped by its own ``inheritable_thread_target`` call
    (see the threading note in ``plans.runner``)."""
    if not checks:
        return []
    spark = SparkSession.builder.getOrCreate()
    threads = min(len(checks), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=threads) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(thunk)) for _, _, thunk in checks]
        counts = [int(f.result()) for f in futures]
    return [
        CheckResult(name=name, table=table, passed=violations == 0, violations=violations)
        for (name, table, _), violations in zip(checks, counts)
    ]
