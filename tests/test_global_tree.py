"""Global proximity tree: the fitted model depends only on (data,
params, seed), a fit costs one Spark job per level, the reference's
``max_depth=None`` grows the full tree, and malformed feature rows fail
loudly with a count."""

from __future__ import annotations

import random

import numpy as np
import pytest

from bigdata_spark.ml.global_tree import GlobalProximityTree
from bigdata_spark.ml.proximity import ProximityTree


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


@pytest.mark.parametrize(
    "params,n,d",
    [
        (dict(n_splitters=3, max_depth=4, min_samples_split=2), 120, 16),
        (dict(n_splitters=2, max_depth=3, metric="dtw", dtw_window=2), 40, 10),
    ],
    ids=["euclidean", "dtw"],
)
def test_fit_independent_of_layout_one_job_per_level(spark, params, n, d):
    sc = spark.sparkContext
    X, y = _series(n, d, seed=5)
    states = []
    for partitions, shuffled in ((1, False), (2, False), (4, False), (4, True)):
        df = _frame(spark, X, y, partitions, shuffled)
        group = f"global-tree-fit-{params.get('metric')}-{partitions}-{shuffled}"
        sc.setJobGroup(group, group)
        try:
            tree = GlobalProximityTree(seed=3, **params).fit(df)
        finally:
            sc.setJobGroup("", "")
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        # one job per level plus the bootstrap; a single input partition
        # also pays the one shuffle that spreads the rows over two
        assert jobs <= tree.depth + 1 + (partitions == 1), (partitions, jobs, tree.depth)
        states.append(tree.to_state())
        df.unpersist()
    assert tree.depth >= 3
    assert all(s == states[0] for s in states[1:])


def test_max_depth_none_grows_until_no_node_splits(spark):
    X, y = _series(60, 12, seed=8)
    df = _frame(spark, X, y, 2)
    full = GlobalProximityTree(n_splitters=2, max_depth=None, min_samples_split=2, seed=4).fit(df)
    deep = GlobalProximityTree(n_splitters=2, max_depth=10_000, min_samples_split=2, seed=4).fit(df)
    assert full.nodes == deep.nodes and full.majority_class == deep.majority_class
    assert full.depth > 4 and all(n.is_leaf or n.children for n in full.nodes.values())
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
