"""Row-level semantics of operators/merge.merge_into."""

from __future__ import annotations

from pyspark.sql import functions as F


def _tables(spark):
    target = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "k long, v double, tag string",
    )
    source = spark.createDataFrame(
        [(2, 200.0, "B", False), (3, 300.0, "C", True), (4, 400.0, "D", False)],
        "k long, v double, tag string, is_delete boolean",
    )
    return target, source


def test_merge_all_action_classes(spark):
    from bigdata_spark.operators.merge import merge_into

    target, source = _tables(spark)
    got = {
        r["k"]: r
        for r in merge_into(
            target,
            source,
            ["k"],
            delete_when=F.col("s.is_delete"),
            action_col="action",
        ).collect()
    }
    assert set(got) == {1, 2, 4}  # 3 deleted
    assert got[1]["action"] == "carry" and got[1]["v"] == 10.0
    assert got[2]["action"] == "update" and got[2]["v"] == 200.0 and got[2]["tag"] == "B"
    assert got[4]["action"] == "insert" and got[4]["v"] == 400.0


def test_merge_update_set_and_no_insert(spark):
    from bigdata_spark.operators.merge import merge_into

    target, source = _tables(spark)
    got = {
        r["k"]: r
        for r in merge_into(
            target,
            source,
            ["k"],
            update_set={"v": F.col("t.v") + F.col("s.v")},
            insert=False,
        ).collect()
    }
    assert set(got) == {1, 2, 3}  # no tombstones -> 3 updates, no inserts
    assert got[2]["v"] == 220.0  # custom update expression
    assert got[2]["tag"] == "b"  # tag not in update_set -> target value kept
    assert got[3]["v"] == 330.0
    assert got[1]["v"] == 10.0


def test_merge_null_key_rows_match_and_update(spark):
    """A NULL merge key is a legal null-safe match: the source update
    must apply (not silently degrade to 'carry') and a source-only
    NULL-key row must insert."""
    from bigdata_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(None, 10.0, "a"), (2, 20.0, "b")], "k long, v double, tag string"
    )
    source = spark.createDataFrame(
        [(None, 100.0, "A"), (5, 500.0, "E")], "k long, v double, tag string"
    )
    got = {
        r["k"]: r
        for r in merge_into(target, source, ["k"], action_col="action").collect()
    }
    assert got[None]["action"] == "update" and got[None]["v"] == 100.0
    assert got[2]["action"] == "carry" and got[2]["v"] == 20.0
    assert got[5]["action"] == "insert" and got[5]["v"] == 500.0


def test_merge_null_key_delete_applies(spark):
    from bigdata_spark.operators.merge import merge_into

    target = spark.createDataFrame([(None, 1.0), (7, 2.0)], "k long, v double")
    source = spark.createDataFrame(
        [(None, 0.0, True)], "k long, v double, is_delete boolean"
    )
    out = merge_into(
        target, source, ["k"], delete_when=F.col("s.is_delete")
    ).collect()
    assert [r["k"] for r in out] == [7]
