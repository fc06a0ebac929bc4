"""Round-8 second-wave invariants: cross-entry identities the value
oracle can't express (motif consistency, patch arithmetic, bounds)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_rectangles_consistency(spark):
    from bigdata_spark.plans.graphq import graph_rectangles

    row = graph_rectangles(spark, SF).collect()[0]
    assert 0 <= row["n_rectangles"]
    # each rectangle needs two distinct wedges on one endpoint pair
    assert 2 * row["n_rectangles"] <= row["n_wedges"] * (row["n_wedges"] - 1)


def test_patch_census_arithmetic(spark):
    from bigdata_spark.plans.multimodalq import mm_patch_census, _PATCH

    for r in mm_patch_census(spark, SF).collect():
        assert r["np_x"] == -(-r["w"] // _PATCH)
        assert r["np_y"] == -(-r["h"] // _PATCH)
        assert r["seq_len"] == r["np_x"] * r["np_y"] + 1
        assert r["pad_pixels"] >= 0


def test_reciprocity_in_unit_interval(spark):
    from bigdata_spark.plans.graphq import graph_reciprocity

    row = graph_reciprocity(spark, SF).collect()[0]
    assert 0 <= row["n_reciprocal"] <= row["n_edges"]
    assert 0 <= row["reciprocity_ppm"] <= 1_000_000
