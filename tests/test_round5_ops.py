"""Invariant tests for the round-5 additions (ER linkage).

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
