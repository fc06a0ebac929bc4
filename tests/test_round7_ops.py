"""Round-7 operator additions: native recursive CTE, lateral top-N."""

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


def test_lateral_topn_matches_window_formulation(spark):
    from bigdata_spark.plans.extended import j8_lateral_topn
    from bigdata_spark.sources.catalog import load_table

    got = sorted(
        (r["c_custkey"], r["o_orderkey"]) for r in j8_lateral_topn(spark, SF).collect()
    )
    from pyspark.sql import Window

    o = load_table(spark, SF, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    ref = sorted(
        (r["o_custkey"], r["o_orderkey"])
        for r in o.filter(F.col("o_custkey") < 20)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    )
    assert got == ref


def test_hll_merge_registers_identical(spark):
    from bigdata_spark.plans.extended import approx_hll_merge

    r = approx_hll_merge(spark, SF).collect()[0]
    assert r["n_register_diffs"] == 0  # per-day OR-merge == direct build
    assert r["n_days"] >= 2  # the merge actually merged something
    assert r["exact_nd"] > 0 and r["s_total"] > 0
    if r["exact_nd"] >= 500:
        assert abs(r["hll_est"] / r["exact_nd"] - 1.0) < 0.20


def test_embedding_drift_ranked_and_bounded(spark):
    from bigdata_spark.plans.qualityq import _DRIFT_TOPK, dq_embedding_drift

    rows = dq_embedding_drift(spark, SF).collect()
    assert len(rows) == _DRIFT_TOPK
    nums = [r["drift_num"] for r in rows]
    assert nums == sorted(nums, reverse=True)
    for r in rows:
        assert 0 <= r["dim"] < 64
        # synthetic embeddings live in a bounded range; parity cohorts
        # of the same distribution drift a little, not wildly
        assert abs(r["mean_cur"] - r["mean_ref"]) < 1.0


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


def test_kmv_distinct_small_set_is_exact_and_bounded(spark):
    # at sf0.001 every sketch holds fewer than k distinct users, so the
    # KMV small-set rule must return the exact count (err == 0); the
    # merged row must exist and obey the same rule
    from bigdata_spark.plans.extended import _KMV_K, approx_kmv_distinct
    from bigdata_spark.sources.catalog import load_table

    rows = {r["scope"]: r for r in approx_kmv_distinct(spark, SF).collect()}
    assert "__all__" in rows
    n_users = (
        load_table(spark, SF, "events").select("user_id").distinct().count()
    )
    assert rows["__all__"]["n_true"] == n_users
    for r in rows.values():
        assert r["err"] == r["kmv_est"] - r["n_true"]
        if r["n_true"] < _KMV_K:  # small-set rule: sketch not full
            assert r["err"] == 0


def test_kmv_estimator_within_3_sigma_when_full(spark):
    # exercise the FULL-sketch path (sf0.001 groups never fill): run
    # the same hash + bottom-k + estimator over 1000 synthetic keys;
    # KMV relative std error is 1/sqrt(k-2), so 3 sigma ~= 38% at k=64
    from bigdata_spark.plans.extended import (
        _KMV_K,
        _KMV_NUM,
        _KMV_SEED,
        _bloom_hash_spark,
    )

    assert _KMV_NUM == (_KMV_K - 1) * (1 << 53)
    true_n = 1000
    kth = (
        spark.range(true_n)
        .selectExpr(f"({_bloom_hash_spark('id', _KMV_SEED)}) div 128 AS h53")
        .orderBy("h53")
        .limit(_KMV_K)
        .agg(F.max("h53").alias("kth"))
        .first()["kth"]
    )
    est = _KMV_NUM // kth
    assert abs(est - true_n) / true_n <= 3 / (_KMV_K - 2) ** 0.5


def test_fairness_ratios_invariants(spark):
    from bigdata_spark.plans.qualityq import dq_fairness_ratios

    rows = dq_fairness_ratios(spark, SF).collect()
    assert len(rows) == 5  # one per market segment
    assert max(r["di_ppm"] for r in rows) == 1_000_000  # max-sel group
    for r in rows:
        for c in ("base_rate_ppm", "sel_rate_ppm", "tpr_ppm", "fpr_ppm"):
            assert 0 <= r[c] <= 1_000_000
        assert r["di_ppm"] <= 1_000_000
        assert r["passes_80pct_rule"] == int(r["di_ppm"] >= 800_000)
