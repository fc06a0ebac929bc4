"""Sampling/split operator tests (SURVEY §2.2)."""

from __future__ import annotations

from bigdata_spark.operators.sampling import (
    anti_join_complement,
    bernoulli_sample,
    group_topk_random_sample,
    random_split,
    stratified_sample,
    stratified_split,
)


def _wide(spark, n=300):
    rows = [(i % 3 + 1, float(i), float(i * 2)) for i in range(n)]
    return spark.createDataFrame(rows, "label int, _c1 double, _c2 double")


def test_bernoulli_sample_seeded_reproducible(spark):
    df = _wide(spark)
    a = bernoulli_sample(df, 0.5, seed=7).count()
    b = bernoulli_sample(df, 0.5, seed=7).count()
    assert a == b
    assert 0.3 * 300 < a < 0.7 * 300


def test_random_split_partition(spark):
    df = _wide(spark)
    train, test = random_split(df, 0.8, seed=1)
    assert train.count() + test.count() == 300
    assert train.columns == df.columns  # _rand dropped


def test_stratified_split_partition_and_balance(spark):
    df = _wide(spark, 600)
    train, test = stratified_split(df, "label", 0.8, seed=42)
    assert train.count() + test.count() == 600
    # per-class train fraction near 0.8
    per = {r["label"]: r["count"] for r in train.groupBy("label").count().collect()}
    for label, cnt in per.items():
        assert 0.6 < cnt / 200 < 0.95, (label, cnt)


def test_anti_join_complement_reference_parity(spark):
    df = _wide(spark, 50)
    taken = df.limit(20)
    rest = anti_join_complement(df, taken)
    assert rest.count() == 30


def test_stratified_sample_seeded(spark):
    df = _wide(spark, 600)
    s1 = stratified_sample(df, "label", 0.25, seed=9).count()
    s2 = stratified_sample(df, "label", 0.25, seed=9).count()
    assert s1 == s2


def test_group_topk_random_sample_bounds(spark):
    df = _wide(spark, 300)
    out = group_topk_random_sample(df, ["label"], k=5, seed=3)
    counts = {r["label"]: r["count"] for r in out.groupBy("label").count().collect()}
    assert all(c == 5 for c in counts.values())
    # deterministic order column variant
    out2 = group_topk_random_sample(df, ["label"], k=2, order_col="_c1")
    vals = sorted(r["_c1"] for r in out2.collect())
    assert vals == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]


def test_split_and_repartition_layout_invariant(spark):
    """Content-hash determinism: the split membership and stratified
    partition assignment must not depend on the input's physical
    layout (partition count) — the property that makes seeded ML fits
    reproducible across sessions, AQE replans, and task retries."""
    from bigdata_spark.operators.preprocess import balanced_stratified_repartition

    base = _wide(spark, 400)
    for nparts in (1, 7):
        df = base.repartition(nparts)
        train, test = stratified_split(df, "label", 0.8, seed=42)
        got = sorted(tuple(r) for r in train.collect())
        parted = balanced_stratified_repartition(df, "label", 4, seed=42, keep_partition_col=True)
        pids = sorted(tuple(r) for r in parted.collect())
        if nparts == 1:
            want_train, want_pids = got, pids
        else:
            assert got == want_train
            assert pids == want_pids


def test_group_topk_layout_invariant(spark):
    base = _wide(spark, 200)
    draws = []
    for nparts in (1, 5):
        got = group_topk_random_sample(base.repartition(nparts), ["label"], 3, seed=7)
        draws.append(sorted(tuple(r) for r in got.collect()))
    assert draws[0] == draws[1]
    assert len(draws[0]) == 9
