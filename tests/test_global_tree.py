"""Global proximity tree: the fitted model depends only on (data,
params, seed) — not on the layout, nor on whether levels grow as Spark
jobs or in driver memory —, a distributed fit costs one Spark job per
level and a local one two, the reference's ``max_depth=None`` grows the
full tree, and malformed feature rows fail loudly with a count."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from bigdata_spark.ml import global_tree
from bigdata_spark.ml.global_tree import GlobalProximityTree
from bigdata_spark.ml.proximity import ProximityTree
from bigdata_spark.ml.tree_core import LEAF, SPLIT, spark_xxhash64


def _series(n: int, d: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Three overlapping phase-shifted classes, rounded to two decimals
    so that duplicate rows and exact distance ties occur."""
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 3, n)
    t = np.linspace(0, 2 * np.pi, d)
    X = np.sin(t[None, :] + 0.6 * y[:, None]) + 0.6 * rng.randn(n, d)
    X[1::7] = X[::7][: len(X[1::7])]  # duplicated series
    return X.round(2), y


def _frame(spark, X, y, partitions: int, shuffled: bool = False):
    rows = [(int(l), [float(v) for v in x]) for l, x in zip(y, X)]
    if shuffled:
        random.Random(1).shuffle(rows)
    df = spark.createDataFrame(rows, "label int, features array<double>")
    df = df.repartition(partitions).persist()
    df.count()
    return df


# every level a Spark job; the default, which holds these small sets on
# the driver from depth 0
BUDGETS = {"distributed": 0, "local": global_tree._LOCAL_BYTES}


@pytest.mark.parametrize(
    "params,n,d",
    [
        (dict(n_splitters=3, max_depth=4, min_samples_split=2), 120, 16),
        (dict(n_splitters=2, max_depth=3, metric="dtw", dtw_window=2), 40, 10),
    ],
    ids=["euclidean", "dtw"],
)
def test_fit_independent_of_layout_one_job_per_level(spark, monkeypatch, params, n, d):
    sc = spark.sparkContext
    X, y = _series(n, d, seed=5)
    states = []
    for partitions, shuffled in ((1, False), (2, False), (4, False), (4, True)):
        df = _frame(spark, X, y, partitions, shuffled)
        for name, budget in BUDGETS.items():
            monkeypatch.setattr(global_tree, "_LOCAL_BYTES", budget)
            group = f"global-tree-fit-{params.get('metric')}-{partitions}-{shuffled}-{name}"
            sc.setJobGroup(group, group)
            try:
                tree = GlobalProximityTree(seed=3, **params).fit(df)
            finally:
                sc.setJobGroup("", "")
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            # one job per level plus the bootstrap, or the bootstrap and
            # the job that returns the rows; a single input partition
            # also pays the one shuffle that spreads the rows over two
            bound = tree.depth + 1 if name == "distributed" else 2
            assert jobs <= bound + (partitions == 1), (name, partitions, jobs, tree.depth)
            assert tree.fit_stats_ == {
                "rows": n,
                "jobs": jobs,
                "local_from_depth": None if name == "distributed" else 0,
                "held_rows": 0 if name == "distributed" else n,
                "local_bytes": budget,
            }
            states.append(tree.to_state())
        df.unpersist()
    assert tree.depth >= 3
    assert all(s == states[0] for s in states[1:])


def test_max_depth_none_grows_until_no_node_splits(spark, monkeypatch):
    X, y = _series(60, 12, seed=8)
    df = _frame(spark, X, y, 2)
    full = GlobalProximityTree(n_splitters=2, max_depth=None, min_samples_split=2, seed=4).fit(df)
    deep = GlobalProximityTree(n_splitters=2, max_depth=10_000, min_samples_split=2, seed=4).fit(df)
    assert full.to_state()["nodes"] == deep.to_state()["nodes"]
    assert full.majority_class == deep.majority_class
    # the same tree from every level as a Spark job, and from a fit that
    # holds the live rows only once a third of them are left
    for budget in (0, 60 * 12 * 8 // 3):
        monkeypatch.setattr(global_tree, "_LOCAL_BYTES", budget)
        other = GlobalProximityTree(n_splitters=2, max_depth=None, min_samples_split=2, seed=4).fit(df)
        assert other.to_state() == full.to_state()
        assert (other.fit_stats_["local_from_depth"] is None) == (budget == 0)
        assert budget == 0 or other.fit_stats_["local_from_depth"] > 0
    # every node is a leaf or a split with children: none is left open
    assert full.depth > 4 and set(full.tree.state.tolist()) == {LEAF, SPLIT}
    assert (full.tree.counts > 0).all()
    pred = [r["prediction"] for r in full.predict(df).collect()]
    assert len(pred) == len(y)
    df.unpersist()

    local = ProximityTree(n_splitters=2, max_depth=None, seed=4).fit(X, y)
    local_deep = ProximityTree(n_splitters=2, max_depth=10_000, seed=4).fit(X, y)
    assert local.to_state()["nodes"] == local_deep.to_state()["nodes"]
    assert (local.predict(X) == local_deep.predict(X)).all()


@pytest.mark.parametrize(
    "bad_row",
    [[0.5] * 11, None, [0.5] * 5 + [None] + [0.5] * 6],
    ids=["short", "null", "null-element"],
)
def test_malformed_feature_row_fails_with_count(spark, bad_row):
    X, y = _series(199, 12, seed=2)
    rows = [(int(l), [float(v) for v in x]) for l, x in zip(y, X)] + [(1, bad_row)]
    df = spark.createDataFrame(rows, "label int, features array<double>")
    with pytest.raises(ValueError, match=r"^1 of 200 training rows"):
        GlobalProximityTree(n_splitters=2, max_depth=3).fit(df)


# the literals around lit()'s switch from int to long, and a drawn one
SEEDS = [-(2**31) - 1, -1, 0, 2**31 - 1, 2**31, 2**40]
element = st.one_of(
    st.sampled_from([0.0, -0.0, math.nan, math.inf, -math.inf, 1.5]), st.floats(width=64)
)


def _sql_double(v: float) -> str:
    if math.isnan(v):
        return "double('NaN')"
    return f"double('{'-' if v < 0 else ''}Infinity')" if math.isinf(v) else f"double('{v!r}')"


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.integers(min_value=0, max_value=5).flatmap(
        lambda d: st.lists(st.lists(element, min_size=d, max_size=d), min_size=1, max_size=6)
    ),
)
def test_numpy_xxhash64_matches_spark(spark, seed, rows):
    """The local phase's row rank is Spark's ``xxhash64(lit(s),
    features)`` bit for bit, over arrays built in Spark SQL: -0.0, NaN,
    ±Infinity and empty arrays included, int and long literals alike."""
    values = ", ".join(
        f"({i}, cast(array({', '.join(map(_sql_double, r))}) as array<double>))" for i, r in enumerate(rows)
    )
    df = spark.sql(f"select * from values {values} as t(id, features)")
    seeds = SEEDS + [seed]
    got = df.select("id", *(F.xxhash64(F.lit(s), "features") for s in seeds)).orderBy("id").collect()
    X = np.array(rows, dtype=np.float64).reshape(len(rows), len(rows[0]))
    for j, s in enumerate(seeds):
        assert [r[j + 1] for r in got] == spark_xxhash64(s, X).tolist(), s
