"""Tests for operators/ranking.grouped_range_rank — the two-pass
range-partitioned per-group row_number (no group sorted in one task)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_grouped_range_rank_matches_grouped_row_number(spark):
    """grouped_range_rank must reproduce row_number() OVER
    (PARTITION BY g ORDER BY ...) exactly, including group counts."""
    from bigdata_spark.operators.ranking import grouped_range_rank

    df = spark.range(0, 600).select(
        (F.col("id") % 4).alias("g"),
        (F.col("id") * 37 % 211).alias("v"),
        F.col("id").alias("tie"),
    )
    got = {
        (r["g"], r["v"], r["tie"]): (r["rn"], r["n"])
        for r in grouped_range_rank(
            df, ["g"], ["v", "tie"], "rn", count_col="n", num_partitions=7
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("v", "tie")
    wc = Window.partitionBy("g")
    want = {
        (r["g"], r["v"], r["tie"]): (r["rn"], r["n"])
        for r in df.select(
            "g",
            "v",
            "tie",
            F.row_number().over(w).cast("long").alias("rn"),
            F.count("*").over(wc).alias("n"),
        ).collect()
    }
    assert got == want


def test_grouped_range_rank_keeps_null_group(spark):
    """A null group key is one group, as in row_number() OVER
    (PARTITION BY g): its rows are ranked, not dropped by the offset
    join."""
    from bigdata_spark.operators.ranking import grouped_range_rank

    df = spark.range(0, 300).select(
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 3).alias("g"),
        F.col("id").alias("tie"),
    )
    out = grouped_range_rank(df, ["g"], ["tie"], "rn", count_col="n", num_partitions=4)
    assert out.columns == ["g", "tie", "rn", "n"]
    nulls = sorted((r["rn"], r["n"]) for r in out.filter(F.col("g").isNull()).collect())
    assert nulls == [(i, 60) for i in range(1, 61)]
    assert out.count() == 300


def test_grouped_range_rank_multi_group_cols_and_empty(spark):
    from bigdata_spark.operators.ranking import grouped_range_rank

    df = spark.range(0, 200).select(
        (F.col("id") % 3).alias("g1"),
        (F.col("id") % 2).alias("g2"),
        F.col("id").alias("tie"),
    )
    rows = grouped_range_rank(
        df, ["g1", "g2"], ["tie"], "rn", num_partitions=5
    ).collect()
    per_group = {}
    for r in rows:
        per_group.setdefault((r["g1"], r["g2"]), []).append(r["rn"])
    for ranks in per_group.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    empty = spark.range(0).select(F.col("id").alias("g"), F.col("id").alias("t"))
    assert grouped_range_rank(empty, ["g"], ["t"]).count() == 0


def test_grouped_range_rank_property_random_shapes(spark):
    """Hypothesis-driven: random (n, #groups, skew) shapes — per-group
    ranks must be a dense 1..group_size permutation ordered by the key."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bigdata_spark.operators.ranking import grouped_range_rank

    @settings(max_examples=6, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=300),
        ng=st.integers(min_value=1, max_value=9),
        mod=st.integers(min_value=1, max_value=40),
    )
    def check(n, ng, mod):
        df = spark.range(0, n).select(
            (F.col("id") % ng).alias("g"),
            (F.col("id") * 7 % mod).alias("v"),
            F.col("id").alias("tie"),
        )
        rows = grouped_range_rank(
            df, ["g"], ["v", "tie"], "rn", num_partitions=4
        ).collect()
        per_group = {}
        for r in rows:
            per_group.setdefault(r["g"], []).append((r["v"], r["tie"], r["rn"]))
        for vals in per_group.values():
            by_key = sorted(vals, key=lambda t: (t[0], t[1]))
            assert [t[2] for t in by_key] == list(range(1, len(vals) + 1))

    check()


