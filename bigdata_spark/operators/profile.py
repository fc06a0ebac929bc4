"""Data profiling + expectation checks — the data-quality surface a
warehouse pipeline runs before/after every load (dbt tests, Great
Expectations, Deequ).

``profile_columns``: one full-table pass (a single aggregate job —
Catalyst plans the multi-countDistinct via one Expand, so the table is
scanned once) producing per-column null/distinct/min/max stats in long
format.

``check_expectations``: declarative constraint list → one violation
count per rule. Each rule is its own aggregate over a filtered scan
(the predicates push down), and referential checks are left-anti
joins — the broadcast-able side is the primary-key table when the
dimension is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _qcol(name: str):
    """Column reference robust to dots/quotes/spaces in the name
    (backtick-quoted, embedded backticks doubled)."""
    return F.col("`" + name.replace("`", "``") + "`")


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format profile: (column, n_rows, n_nulls, n_distinct,
    min_value, max_value) with min/max rendered as strings so every
    column type fits one schema. Distinct counts are EXACT, not
    sketched."""
    # Internal aliases are positional (_c{i}_*), never derived from the
    # user's column names, and the long-format rows are built with typed
    # Column expressions (F.stack) — a name containing quotes, spaces,
    # or dots profiles correctly instead of breaking an F.expr string.
    aggs = [F.count("*").alias("_n")]
    for i, c in enumerate(cols):
        aggs += [
            F.sum(_qcol(c).isNull().cast("long")).alias(f"_c{i}_nulls"),
            F.countDistinct(_qcol(c)).alias(f"_c{i}_distinct"),
            F.min(_qcol(c)).cast("string").alias(f"_c{i}_min"),
            F.max(_qcol(c)).cast("string").alias(f"_c{i}_max"),
        ]
    wide = df.agg(*aggs)
    parts: list = [F.lit(len(cols))]
    for i, c in enumerate(cols):
        parts += [
            F.lit(c),
            F.col(f"_c{i}_nulls"),
            F.col(f"_c{i}_distinct"),
            F.col(f"_c{i}_min"),
            F.col(f"_c{i}_max"),
        ]
    return wide.select(
        F.col("_n").alias("n_rows"),
        F.stack(*parts).alias(
            "column_name", "n_nulls", "n_distinct", "min_value", "max_value"
        ),
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value"
    )


def check_expectations(checks: dict[str, DataFrame]) -> DataFrame:
    """Union a dict of named violation DataFrames (each a 1-row count)
    into the (check_name, n_violations, passed) report."""
    out = None
    for name, c in sorted(checks.items()):
        row = c.select(
            F.lit(name).alias("check_name"),
            F.col("n_violations").cast("long"),
            (F.col("n_violations") == 0).alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def expect_unique(df: DataFrame, col: str) -> DataFrame:
    """Violations = duplicate-key row surplus (count − distinct)."""
    return df.agg(
        (F.count(col) - F.countDistinct(col)).alias("n_violations")
    )


def expect_not_null(df: DataFrame, col: str) -> DataFrame:
    return df.agg(F.sum(F.col(col).isNull().cast("long")).alias("n_violations"))


def expect_in_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    bad = ~F.col(col).between(lo, hi)
    return df.agg(
        F.sum(F.coalesce(bad, F.lit(False)).cast("long")).alias("n_violations")
    )


def expect_in_set(df: DataFrame, col: str, allowed: list) -> DataFrame:
    bad = ~F.col(col).isin(allowed)
    return df.agg(
        F.sum(F.coalesce(bad, F.lit(False)).cast("long")).alias("n_violations")
    )


def expect_references(fact: DataFrame, fk: str, dim: DataFrame, pk: str) -> DataFrame:
    """Orphaned-foreign-key rows via left-anti join on the key table."""
    return fact.join(
        dim.select(F.col(pk).alias(fk)).distinct(), fk, "left_anti"
    ).agg(F.count("*").alias("n_violations"))
