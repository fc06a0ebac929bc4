"""Unit tests for the round-4 session additions: versioned deletes."""

from __future__ import annotations

import pyspark.sql.functions as F


# --- versioned delete + CDC ----------------------------------------------

def test_versioned_delete_and_changes(spark, tmp_path):
    from bigdata_spark.streaming.upsert_sink import (
        VersionedParquetTable,
        versioned_changes,
        versioned_delete_where,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"), keep_versions=4)
    df0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    v0 = t.publish(df0)
    t.publish(spark.createDataFrame([(1, "a"), (2, "B"), (3, "c"), (4, "d")],
                                    "k long, v string"))
    v2 = versioned_delete_where(t, F.col("k") == 3)
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 4]
    # the deleted version's predecessor is intact (immutability)
    assert sorted(r["k"] for r in t.read_version(v0).collect()) == [1, 2, 3]
    cdc = {r["k"]: r["_change_type"]
           for r in versioned_changes(t, v0, v2, ["k"]).collect()}
    assert cdc == {2: "update", 3: "delete", 4: "insert"}


def test_versioned_delete_null_predicate_retains(spark, tmp_path):
    from bigdata_spark.streaming.upsert_sink import (
        VersionedParquetTable,
        versioned_delete_where,
    )

    t = VersionedParquetTable(spark, str(tmp_path / "tbl"), keep_versions=2)
    t.publish(spark.createDataFrame(
        [(1, "x"), (2, None)], "k long, v string"
    ))
    versioned_delete_where(t, F.col("v") == "x")
    # row 2's predicate is NULL → retained, SQL DELETE semantics
    assert [r["k"] for r in t.read().collect()] == [2]
