"""The proximity-tree core behind the global tree, the local tree and the
forest: fit and predict route every row the same way, predict checks
the row width, fit rejects an empty training set, and models saved by
earlier versions still load."""

from __future__ import annotations

import json
import math
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from bigdata_spark.ml.dtw import dtw_distance
from bigdata_spark.ml.global_tree import GlobalProximityTree
from bigdata_spark.ml.local_forest import LocalProximityForest
from bigdata_spark.ml.proximity import ProximityTree

DATA = Path(__file__).resolve().parent / "data"


def _frame(spark, X, y):
    rows = [(i, int(l), [float(v) for v in x]) for i, (l, x) in enumerate(zip(y, X))]
    return spark.createDataFrame(rows, "id int, label int, features array<double>")


def _predictions(df) -> list:
    return [r["prediction"] for r in df.orderBy("id").collect()]


# ---------------------------------------------------------------- references


def _distance(x, e, metric: str, window) -> float:
    """Spark's euclidean fold (squares added one by one, then sqrt), or
    the DTW reference."""
    if metric == "dtw":
        return dtw_distance(x, e, window=window)
    acc = 0.0
    for a, b in zip(x, e):
        acc += (a - b) * (a - b)
    return math.sqrt(acc)


def _walk(nodes: dict, x, metric: str, window):
    """One row down the persisted per-node JSON. NaN ranks above every
    number; the first index wins a tie."""
    node = nodes["0"]
    while not node["is_leaf"]:
        dists = [_distance(x, e, metric, window) for e in node["exemplars"]]
        rank = [(math.isnan(d), 0.0 if math.isnan(d) else d) for d in dists]
        node = nodes[str(node["children"][str(rank.index(min(rank)))])]
    return node["prediction"]


def _forest_walk(forest, x):
    classes = sorted({int(c) for t in forest.trees for c in t.classes_})
    votes = [0.0] * len(classes)
    for t, w in zip(forest.trees, forest.weights):
        votes[classes.index(_walk(t.to_state()["nodes"], x, t.metric, t.dtw_window))] += w
    return classes[votes.index(max(votes))]  # ties to the smallest class


def _leaves_hold_their_majority(flat, X, y, metric, window) -> None:
    """Every leaf the training rows reach predicts the majority label of
    those rows, ties to the smallest label."""
    reached = flat.route(X, metric, window)
    for leaf in np.unique(reached):
        labels, counts = np.unique(y[reached == leaf], return_counts=True)
        assert flat.prediction[leaf] == labels[np.argmax(counts)], leaf


# ---------------------------------------------------------------- properties

# few distinct values make duplicate rows and exact distance ties common;
# NaN elements exercise the "NaN ranks above every number" rule
tie_prone = st.sampled_from([0.0, 1.0, -1.0, 2.0, 0.5, float("nan")])


@st.composite
def tie_sets(draw):
    d = draw(st.integers(min_value=2, max_value=4))
    distinct = draw(st.lists(st.lists(tie_prone, min_size=d, max_size=d), min_size=2, max_size=6))
    picks = draw(st.lists(st.integers(0, len(distinct) - 1), min_size=12, max_size=30))
    labels = draw(st.lists(st.integers(0, 2), min_size=len(picks), max_size=len(picks)))
    return np.array([distinct[i] for i in picks], dtype=np.float64), np.array(labels)


@pytest.mark.parametrize("metric,window", [("euclidean", None), ("dtw", 1)], ids=["euclidean", "dtw"])
@settings(max_examples=5, deadline=None)
@given(case=tie_sets())
def test_fit_and_predict_route_alike(spark, metric, window, case):
    X, y = case
    df = _frame(spark, X, y).persist()
    kernel = dict(metric=metric, dtw_window=window)
    tree = GlobalProximityTree(n_splitters=2, max_depth=3, min_samples_split=2, seed=1, **kernel).fit(df)
    forest = LocalProximityForest(num_partitions=2, n_splitters=2, max_depth=3, seed=1, **kernel).fit(df)
    local = ProximityTree(n_splitters=2, max_depth=None, seed=1, **kernel).fit(X, y)

    # (a) the leaves of the global and the local tree
    _leaves_hold_their_majority(tree.tree, X, y, metric, window)
    _leaves_hold_their_majority(local.tree, X, y, metric, window)

    # (c) Spark predict equals a per-row walk of the persisted nodes
    nodes = tree.to_state()["nodes"]
    want = [_walk(nodes, x, metric, window) for x in X]
    assert _predictions(tree.predict(df)) == [tree.majority_class if p is None else p for p in want]
    assert _predictions(forest.predict(df)) == [_forest_walk(forest, x) for x in X]
    df.unpersist()


# ---------------------------------------------------------------- row width


def test_predict_rejects_a_row_of_another_width(spark):
    rng = np.random.RandomState(0)
    y = np.repeat([0, 1, 2], 10)
    X = y[:, None] + 0.3 * rng.randn(30, 6)
    wrong = r"fitted on features of length 6, found length 1"

    local = ProximityTree(n_splitters=2, seed=1).fit(X, y)
    with pytest.raises(ValueError, match=wrong):
        local.predict([[5.0]])

    df = _frame(spark, X, y)
    bad = spark.createDataFrame([(0, 0, [5.0])], "id int, label int, features array<double>")
    tree = GlobalProximityTree(n_splitters=2, max_depth=3, seed=1).fit(df)
    forest = LocalProximityForest(num_partitions=2, n_splitters=2, max_depth=3, seed=1).fit(df)
    for model in (tree, forest):
        with pytest.raises(Exception, match=wrong):
            model.predict(bad).collect()

    # a null features row gets the majority class from the global tree
    # and fails the forest's predict with a count
    null = spark.createDataFrame([(0, 0, None)], "id int, label int, features array<double>")
    assert _predictions(tree.predict(null)) == [tree.majority_class]
    with pytest.raises(Exception, match=r"1 of 1 rows have null features"):
        forest.predict(null).collect()

    # a null value (Arrow hands it to pandas as NaN) fails both predicts
    # with a count, as it fails both fits
    for row in ([1.0, None, 2.0, 3.0, 4.0, 5.0], [None] * 6):
        holed = spark.createDataFrame([(0, 0, row)], "id int, label int, features array<double>")
        for model in (tree, forest):
            with pytest.raises(Exception, match=r"1 of 1 rows have a null feature value"):
                model.predict(holed).collect()


@pytest.mark.parametrize(
    "model",
    [
        GlobalProximityTree(n_splitters=2, max_depth=3, seed=1),
        LocalProximityForest(num_partitions=2, n_splitters=2, max_depth=3, seed=1),
    ],
    ids=["global", "forest"],
)
def test_fit_rejects_an_empty_training_set(spark, model):
    empty = spark.createDataFrame([], "id int, label int, features array<double>")
    with pytest.raises(ValueError, match=r"^the training set has no rows$"):
        model.fit(empty)


# ---------------------------------------------------------------- old models


def test_models_saved_by_an_earlier_version_still_load(spark):
    """``tests/data`` holds a global tree and a DTW forest saved before
    the models shared one tree core (the forest file has no metric),
    and their predictions on a fixed input."""
    with open(DATA / "saved_models_predictions.json") as f:
        saved = json.load(f)
    df = _frame(spark, saved["features"], [0] * len(saved["features"]))
    tree = GlobalProximityTree.load(str(DATA / "saved_global_tree.json"))
    forest = LocalProximityForest.load(str(DATA / "saved_forest.json"))
    assert _predictions(tree.predict(df)) == saved["global_tree"]
    assert _predictions(forest.predict(df)) == saved["forest"]
    assert {t.metric for t in forest.trees} == {"dtw"}
