"""Tests for operators/ranking.range_rank — the two-pass
range-partitioned global row_number (no single-partition exchange)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdata_spark.operators.ranking import range_rank


def test_range_rank_matches_global_row_number(spark):
    df = (
        spark.range(0, 500)
        .select(
            (F.col("id") * 37 % 211).alias("k"),
            F.col("id").alias("tie"),
        )
    )
    got = {
        (r["k"], r["tie"]): r["r"]
        for r in range_rank(df, ["k", "tie"], num_partitions=7).collect()
    }
    want = {
        (r["k"], r["tie"]): r["r"]
        for r in df.withColumn(
            "r", F.row_number().over(Window.orderBy("k", "tie"))
        ).collect()
    }
    assert got == want


def test_range_rank_is_dense_and_total(spark):
    df = spark.range(1, 301).select((F.col("id") % 13).alias("k"), "id")
    ranks = [
        r["r"] for r in range_rank(df, ["k", "id"], num_partitions=5).collect()
    ]
    assert sorted(ranks) == list(range(1, 301))


def test_range_rank_plan_has_no_single_partition_exchange(spark):
    """The defining property: the rank never funnels the input through
    one task. The pre-checkpoint plan must contain a range exchange and
    must NOT contain Exchange SinglePartition."""
    df = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("tie")
    )
    parts = df.repartitionByRange(6, "k", "tie")
    w_local = Window.partitionBy("_pid").orderBy("k", "tie")
    staged = parts.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_lr", F.row_number().over(w_local)
    )
    plan = staged._sc._jvm.PythonSQLUtils.explainString(
        staged._jdf.queryExecution(), "formatted"
    )
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_range_rank_empty_input(spark):
    df = spark.range(0).select(F.col("id").alias("k"))
    assert range_rank(df, ["k"]).count() == 0

def test_range_ntile_matches_spark_ntile(spark):
    """range_ntile must be bit-identical to NTILE over a
    single-partition window on a total key, across n % k residues
    (n < k, n divisible, n with remainder)."""
    from bigdata_spark.operators.ranking import range_ntile

    for n, k in [(500, 10), (499, 7), (3, 5), (16, 4), (101, 100)]:
        df = spark.range(0, n).select(
            (F.col("id") * 37 % 211).alias("v"), F.col("id").alias("tie")
        )
        got = {
            (r["v"], r["tie"]): r["bucket"]
            for r in range_ntile(
                df, ["v", "tie"], k, num_partitions=5
            ).collect()
        }
        want = {
            (r["v"], r["tie"]): r["bucket"]
            for r in df.withColumn(
                "bucket", F.ntile(k).over(Window.orderBy("v", "tie"))
            ).collect()
        }
        assert got == want, f"ntile mismatch at n={n} k={k}"


def test_range_ntile_empty_input(spark):
    from bigdata_spark.operators.ranking import range_ntile

    df = spark.range(0).select(F.col("id").alias("k"))
    assert range_ntile(df, ["k"], 10).count() == 0


def test_range_cumsum_matches_global_window(spark):
    from bigdata_spark.operators.ranking import range_cumsum

    df = spark.range(0, 400).select(
        (F.col("id") * 53 % 149).alias("v"),
        F.col("id").alias("tie"),
        ((F.col("id") % 19) - 7).alias("x"),
    )
    got = {
        (r["v"], r["tie"]): r["cum"]
        for r in range_cumsum(
            df, ["v", "tie"], "x", num_partitions=6
        ).collect()
    }
    w = Window.orderBy("v", "tie").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        (r["v"], r["tie"]): r["cum"]
        for r in df.withColumn("cum", F.sum("x").over(w)).collect()
    }
    assert got == want


def test_range_ntile_property_random_shapes(spark):
    """Hypothesis-driven: for random (n, k, value-skew) shapes the
    bucket SIZES must match ANSI NTILE exactly — first n%k buckets get
    ceil(n/k), the rest floor(n/k) — and bucket assignment must be
    monotone in the order key."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bigdata_spark.operators.ranking import range_ntile

    @settings(max_examples=8, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=400),
        k=st.integers(min_value=1, max_value=17),
        mod=st.integers(min_value=1, max_value=50),
    )
    def check(n, k, mod):
        df = spark.range(0, n).select(
            (F.col("id") * 7 % mod).alias("v"), F.col("id").alias("tie")
        )
        rows = range_ntile(df, ["v", "tie"], k, num_partitions=4).collect()
        sizes = Counter(r["bucket"] for r in rows)
        q, rem = divmod(n, k)
        want = {
            b: (q + 1 if b <= rem else q)
            for b in range(1, min(n, k) + 1)
            if (q + 1 if b <= rem else q) > 0
        }
        assert dict(sizes) == want, (n, k, dict(sizes))
        # monotone: sorting by the order key never decreases the bucket
        ordered = sorted(rows, key=lambda r: (r["v"], r["tie"]))
        buckets = [r["bucket"] for r in ordered]
        assert buckets == sorted(buckets)

    check()

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


def test_grouped_order_statistics_matches_sorted_selection(spark):
    """grouped_order_statistics must pick exactly the value a full
    per-group sort would, for every rank in range, across bucket
    widths that split and don't split the domain."""
    import random

    from bigdata_spark.operators.quantiles import grouped_order_statistics

    rnd = random.Random(7)
    data = [
        (g, rnd.randrange(0, 500))
        for g in range(3)
        for _ in range(rnd.randrange(1, 120))
    ]
    df = spark.createDataFrame(data, "g int, v int")
    hist = df.groupBy("g", "v").agg(F.count("*").alias("c"))
    by_group = {}
    for g, v in data:
        by_group.setdefault(g, []).append(v)
    targets_rows, want = [], {}
    for g, vs in by_group.items():
        vs.sort()
        n = len(vs)
        for i, rank in enumerate(
            sorted({1, n, (n + 1) // 2, max(1, n // 4)})
        ):
            tid = f"t{i}"
            targets_rows.append((g, tid, rank))
            want[(g, tid)] = (rank, vs[rank - 1])
    targets = spark.createDataFrame(
        targets_rows, "g int, tgt_id string, tgt_rank long"
    )
    for width in (1000.0, 50.0, 7.0):
        got = {
            (r["g"], r["tgt_id"]): (r["tgt_rank"], r["v"])
            for r in grouped_order_statistics(
                hist,
                ["g"],
                "v",
                "c",
                targets,
                F.floor(F.col("v") / F.lit(width)).cast("bigint"),
            ).collect()
        }
        assert got == want, f"order-statistic mismatch at width={width}"


def test_grouped_range_lead_matches_window_lead(spark):
    """grouped_range_lead must reproduce lead() OVER (PARTITION BY g
    ORDER BY ...) exactly, including NULL at each group's last row,
    across partition counts that do and don't split groups."""
    from bigdata_spark.operators.ranking import grouped_range_lead

    df = spark.range(0, 400).select(
        (F.col("id") % 4).alias("g"),
        (F.col("id") * 53 % 149).alias("v"),
        F.col("id").alias("tie"),
    )
    w = Window.partitionBy("g").orderBy("v", "tie")
    want = {
        (r["g"], r["v"], r["tie"]): r["nxt"]
        for r in df.withColumn("nxt", F.lead("v").over(w)).collect()
    }
    for np in (3, 8, 64):
        got = {
            (r["g"], r["v"], r["tie"]): r["nxt"]
            for r in grouped_range_lead(
                df, ["g"], ["v", "tie"], "v", "nxt", num_partitions=np
            ).collect()
        }
        assert got == want, f"lead mismatch at num_partitions={np}"
