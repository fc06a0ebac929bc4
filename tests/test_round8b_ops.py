"""Round-8 second-wave invariants: cross-entry identities the value
oracle can't express (patch arithmetic)."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_patch_census_arithmetic(spark):
    from bigdata_spark.plans.multimodalq import mm_patch_census, _PATCH

    for r in mm_patch_census(spark, SF).collect():
        assert r["np_x"] == -(-r["w"] // _PATCH)
        assert r["np_y"] == -(-r["h"] // _PATCH)
        assert r["seq_len"] == r["np_x"] * r["np_y"] + 1
        assert r["pad_pixels"] >= 0
