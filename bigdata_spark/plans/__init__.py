"""Named query plans with DuckDB oracles.

Each submodule exposes ``QUERIES: dict[str, tuple[callable, str | None]]``
mapping query name → (spark_fn, oracle_sql). ``spark_fn(spark, sf_dir)``
returns a DataFrame; ``oracle_sql`` is equivalent ANSI SQL for DuckDB
(None → rows-only check for non-SQL-expressible ops).

Cross-engine float discipline (why results hash-match exactly):
- Sums of 2-decimal doubles are aggregated as DECIMAL (exact, order-
  independent) then cast to DOUBLE — bit-identical in both engines.
- Ratios are derived from those exact values with the same IEEE ops in
  the same order.
- Counts/squares use exact integer/decimal arithmetic.
- Rankings use deterministic tie-breaks on unique keys.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def all_queries() -> dict[str, tuple[QueryFn, str | None]]:
    from . import classifierq, relational, tpch_ext, tpch_full

    out: dict[str, tuple[QueryFn, str | None]] = {}
    for mod in (relational, tpch_ext, tpch_full, classifierq):
        overlap = set(out) & set(mod.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(mod.QUERIES)
    return out
