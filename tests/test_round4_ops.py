"""Unit tests for the round-4 session additions: versioned deletes,
data-quality expectations and column profiles."""

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


# --- data-quality expectations -------------------------------------------

def test_expectations_count_violations(spark):
    from bigdata_spark.operators.profile import (
        check_expectations,
        expect_in_range,
        expect_in_set,
        expect_not_null,
        expect_references,
        expect_unique,
    )

    t = spark.createDataFrame(
        [(1, 5.0, "ok"), (1, -2.0, "ok"), (2, None, "bad"), (3, 150.0, None)],
        "k long, v double, s string",
    )
    dim = spark.createDataFrame([(1,), (3,)], "pk long")
    out = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in check_expectations(
            {
                "unique_k": expect_unique(t, "k"),         # k=1 twice → 1
                "v_not_null": expect_not_null(t, "v"),     # one null → 1
                "v_range": expect_in_range(t, "v", 0.0, 100.0),  # -2, 150 → 2
                "s_set": expect_in_set(t, "s", ["ok"]),    # 'bad' → 1 (null not counted)
                "k_refs": expect_references(t, "k", dim, "pk"),  # k=2 orphan → 1
            }
        ).collect()
    }
    assert out["unique_k"] == (1, False)
    assert out["v_not_null"] == (1, False)
    assert out["v_range"] == (2, False)
    assert out["s_set"] == (1, False)
    assert out["k_refs"] == (1, False)


def test_profile_columns_nulls_and_distinct(spark):
    from bigdata_spark.operators.profile import profile_columns

    t = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "k long, s string"
    )
    out = {r["column_name"]: r for r in profile_columns(t, ["k", "s"]).collect()}
    assert out["k"]["n_rows"] == 3 and out["k"]["n_nulls"] == 0
    assert out["k"]["n_distinct"] == 2
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert out["k"]["min_value"] == "1" and out["k"]["max_value"] == "2"
