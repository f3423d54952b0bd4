"""Data-quality expectations: declarative constraint checks over a table.

The validation pass a production pipeline runs before publishing data
(Deequ / dbt-test style): each rule compiles to ONE aggregate expression,
so an arbitrary rule set over a 100 TB table costs a single map-side-
combinable aggregation pass — never one job per rule. Referential rules
(foreign keys) are the exception: each adds one anti-join, with the parent
side reduced to distinct keys first (broadcastable for dimension tables).

The reference has no relational validation tier (its invariants live in
integration asserts, integration_test/connector_test.go:24-648); this is
part of the engine's training-data/warehouse completion of that surface.

Output contract: ``(rule string, violations long)`` — one row per rule,
0 = the expectation holds.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


@dataclass(frozen=True)
class Rule:
    """One named expectation. ``violation`` is a boolean Column that is
    true for a row violating the rule (row-local rules), or None for
    whole-table rules handled specially (unique)."""

    name: str
    violation: Column | None = None
    unique_col: str | None = None


def not_null(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNull())


def positive(col: str) -> Rule:
    return Rule(f"{col}_positive", F.col(col) <= 0)


def in_domain(col: str, values: list) -> Rule:
    return Rule(f"{col}_in_domain", ~F.col(col).isin(values))


def matches(col: str, regex: str) -> Rule:
    return Rule(f"{col}_matches", ~F.col(col).rlike(regex))


def unique(col: str) -> Rule:
    """COUNT(col) - COUNT(DISTINCT col): the number of surplus duplicate
    rows. Exact (not approx) — it participates in the same single
    aggregation pass as the row-local rules."""
    return Rule(f"{col}_unique", unique_col=col)


def check(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate all non-referential rules in ONE aggregation pass and
    unpivot to the ``(rule, violations)`` contract."""
    aggs = []
    for r in rules:
        if r.unique_col is not None:
            aggs.append(
                (
                    F.count(F.col(r.unique_col))
                    - F.count_distinct(F.col(r.unique_col))
                )
                .cast("long")
                .alias(r.name)
            )
        else:
            aggs.append(
                F.sum(F.when(r.violation, 1).otherwise(0))
                .cast("long")
                .alias(r.name)
            )
    wide = df.agg(*aggs)
    stack = ", ".join(f"'{r.name}', {r.name}" for r in rules)
    return wide.selectExpr(
        f"stack({len(rules)}, {stack}) as (rule, violations)"
    )


def foreign_key(
    child: DataFrame, col: str, parent: DataFrame, pk: str, name: str | None = None
) -> DataFrame:
    """Orphan count: child rows whose ``col`` has no match in ``parent.pk``.
    Anti-join against the distinct parent keys (broadcast when the parent
    is a dimension); NULL child keys are not orphans (SQL FK semantics)."""
    keys = parent.select(F.col(pk).alias(col)).distinct()
    orphans = (
        child.filter(F.col(col).isNotNull())
        .join(keys, col, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("violations"))
    )
    return orphans.select(
        F.lit(name or f"{col}_fk").alias("rule"), "violations"
    )
