"""Invariants of the relational plans (plans/relational.py) that the
value oracle alone does not spell out."""

from __future__ import annotations


def test_null_safe_join_null_bucket(spark):
    """The NULL bucket must pair every null-key customer with every
    null-key supplier (what plain `=` would silently drop)."""
    from bigdata_spark.plans.relational import j6_null_safe_join
    from bigdata_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    nc = load_table(spark, sf, "customer").filter("c_nationkey = 0").count()
    ns = load_table(spark, sf, "supplier").filter("s_nationkey = 0").count()
    rows = {r["nationkey"]: r for r in j6_null_safe_join(spark, sf).collect()}
    if nc * ns:
        assert rows[None]["n_pairs"] == nc * ns
        assert rows[None]["is_null_bucket"] is True
    else:
        assert None not in rows
