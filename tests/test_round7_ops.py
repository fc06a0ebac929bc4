"""Round-7 operator additions: native recursive CTE."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_recursive_cte_walks_full_ternary_tree(spark):
    from bigdata_spark.plans.scaleq import s33_recursive_cte
    from bigdata_spark.sources.catalog import load_table

    n_sup = load_table(spark, SF, "supplier").count()
    rows = {r["depth"]: r for r in s33_recursive_cte(spark, SF).collect()}
    assert rows[0]["n_nodes"] == 1 and rows[0]["min_key"] == 0
    # complete 3-ary tree level sizes until the key space runs out
    remaining = n_sup - 1
    d = 1
    while remaining > 0:
        expect = min(3**d, remaining)
        assert rows[d]["n_nodes"] == expect
        remaining -= expect
        d += 1
    assert sum(r["n_nodes"] for r in rows.values()) == n_sup


def test_pipe_syntax_matches_standard_form(spark):
    from bigdata_spark.plans.scaleq import sql_pipe_syntax
    from bigdata_spark.sources.catalog import load_table

    got = sorted(tuple(r) for r in sql_pipe_syntax(spark, SF).collect())
    l = load_table(spark, SF, "lineitem")
    ref = sorted(
        tuple(r)
        for r in l.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        )
        .collect()
    )
    assert got == ref
