"""Round-8 operator additions: the centrality census — invariant checks
that the DuckDB value oracle cannot express (cross-entry identities,
bounds)."""

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
