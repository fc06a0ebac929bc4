"""Invariant tests for the round-5 additions (ER linkage, CMS, GBT,
logreg).

The cross-engine value check lives in the oracle gate; these assert
the mathematical invariants a hash match alone would not explain."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


# --- entity resolution -----------------------------------------------------


def test_er_unchanged_records_link_perfectly(spark):
    from bigdata_spark.plans.erq import er_blocked_linkage

    rows = {r["edit_type"]: r for r in er_blocked_linkage(spark, SF).collect()}
    assert set(rows) == {0, 1, 2, 3}
    clean = rows[3]
    # untouched names must match themselves exactly
    assert clean["n_correct"] == clean["n_records"]
    assert clean["recall"] == 1.0
    # corrupted types can miss, but blocking must find SOME candidates
    for t in (0, 1, 2):
        assert rows[t]["n_with_candidates"] > 0
        assert 0 <= rows[t]["n_correct"] <= rows[t]["n_matched"]


def test_trunc_div_matches_engines():
    from bigdata_spark.plans.mlq import _trunc_div

    # C-style semantics (Spark `div`, DuckDB `//`), not Python floor
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # Python -7 // 2 == -4
    assert _trunc_div(7, -2) == -3
    assert _trunc_div(-7, -2) == 3


# --- sketches ----------------------------------------------------------------


def test_cms_never_underestimates(spark):
    from bigdata_spark.plans.extended import approx_cms_topk

    rows = approx_cms_topk(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["overestimate"] >= 0  # structural CMS guarantee
        assert r["cms_est"] >= r["true_cnt"]


# --- boosting / logreg -------------------------------------------------------


def test_gbt_sse_monotone_decreasing(spark):
    from bigdata_spark.plans.mlq import ml_gbt_stumps

    rows = sorted(ml_gbt_stumps(spark, SF).collect(), key=lambda r: r["round"])
    assert [r["round"] for r in rows] == [1, 2, 3]
    sses = [r["sse_micro2"] for r in rows]
    # squared loss cannot increase when adding a best-split stump whose
    # leaves are (quantized) residual means; allow the 1-micro-unit
    # truncation slack per row
    n = rows[0]["n"]
    for a, b in zip(sses, sses[1:]):
        assert b <= a + n
    for r in rows:
        assert 0 <= r["thr_bin"] < 15
        assert 1 <= r["feat"] <= 4


def test_logreg_beats_majority_class(spark):
    from bigdata_spark.plans.mlq import ml_logreg_gd
    from bigdata_spark.sources.catalog import load_table

    row = ml_logreg_gd(spark, SF).first()
    e = load_table(spark, SF, "embeddings")
    n = e.count()
    pos = e.filter("label >= 5").count()
    majority = max(pos, n - pos) / n
    # 3 GD steps on weak features won't be great, but accuracy is a
    # valid probability and the weights moved off the origin
    assert 0.0 <= row["train_acc"] <= 1.0
    assert any(abs(row[f"w{j}"]) > 0 for j in range(5))
    assert row["train_acc"] >= majority - 0.25
