"""Regression tests for the round-4 ADVICE findings: upsert-sink
order-col validation + batch-wins tiebreak."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_upsert_order_cols_must_survive_projection(spark, tmp_path):
    from bigdata_spark.streaming.upsert_sink import (
        VersionedParquetTable,
        keyed_upsert_batch,
    )

    table = VersionedParquetTable(spark, str(tmp_path / "t"))
    batch = spark.createDataFrame(
        [(1, 10, "x")], "k long, seq long, v string"
    )
    with pytest.raises(ValueError, match="order_cols"):
        # 'seq' is not kept in key_cols+value_cols -> next batch would
        # AnalysisException; must fail fast instead.
        keyed_upsert_batch(table, batch, ["k"], ["seq"], ["v"])


def test_upsert_equal_order_ties_resolve_batch_wins(spark, tmp_path):
    from bigdata_spark.streaming.upsert_sink import (
        VersionedParquetTable,
        keyed_upsert_batch,
    )

    table = VersionedParquetTable(spark, str(tmp_path / "t"))
    b1 = spark.createDataFrame([(1, 5, "old")], "k long, seq long, v string")
    keyed_upsert_batch(table, b1, ["k"], [F.col("seq").desc()], ["seq", "v"])
    # same key, same seq -> deterministic last-writer-wins: batch row
    b2 = spark.createDataFrame([(1, 5, "new")], "k long, seq long, v string")
    keyed_upsert_batch(table, b2, ["k"], [F.col("seq").desc()], ["seq", "v"])
    rows = table.read().collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"
