"""ML-layer tests: proximity tree/forest on separable clusters
(FIXTURES.md §4; reference code/src/test.py:58-122), DTW kernels,
evaluation metrics."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bigdata_spark.ml.dtw import dtw_distance, dtw_pairwise_udf, dtw_upper_bound
from bigdata_spark.ml.evaluation import balanced_accuracy, classification_metrics, confusion_matrix
from bigdata_spark.ml.global_tree import GlobalProximityTree
from bigdata_spark.ml.local_forest import LocalProximityForest
from bigdata_spark.ml.proximity import ProximityTree


def _clusters2d(spark, train=True, seed=0):
    # FIXTURES §4: 15 train rows per class around (0,0), (5,5), (10,10) ± 0.6
    rng = np.random.default_rng(seed)
    rows = []
    centers = {1: (0.0, 0.0), 2: (5.0, 5.0), 3: (10.0, 10.0)}
    if train:
        for label, (cx, cy) in centers.items():
            for _ in range(15):
                rows.append((label, [cx + rng.uniform(-0.6, 0.6), cy + rng.uniform(-0.6, 0.6)]))
    else:
        for label, (cx, cy) in centers.items():
            for _ in range(4):
                rows.append((label, [cx + rng.uniform(-0.6, 0.6), cy + rng.uniform(-0.6, 0.6)]))
    return spark.createDataFrame(rows, "label int, features array<double>")


def test_numpy_proximity_tree():
    rng = np.random.default_rng(1)
    X = np.vstack([rng.normal(c, 0.3, (20, 2)) for c in (0.0, 5.0, 10.0)])
    y = np.repeat([1, 2, 3], 20)
    tree = ProximityTree(n_splitters=3, seed=7).fit(X, y)
    assert (tree.predict(X) == y).mean() == 1.0
    # round-trip through portable state
    clone = ProximityTree.from_state(tree.to_state())
    assert (clone.predict(X) == y).mean() == 1.0


def test_local_forest_end_to_end(spark, tmp_path):
    train, test = _clusters2d(spark, True), _clusters2d(spark, False, seed=9)
    for metric, window in (("euclidean", None), ("dtw", 3)):
        forest = LocalProximityForest(
            num_partitions=3, n_splitters=3, seed=5, metric=metric, dtw_window=window
        ).fit(train)
        assert len(forest.trees) == 3
        preds = forest.predict(test)
        acc = preds.filter(F.col("label") == F.col("prediction")).count() / preds.count()
        assert acc == 1.0  # well-separated clusters
        # JSON persistence round-trip (S5/S6), the distance kernel included
        p = str(tmp_path / f"forest-{metric}.json")
        forest.save(p)
        reloaded = LocalProximityForest.load(p)
        assert (reloaded.metric, reloaded.dtw_window) == (metric, window)
        assert [t.to_state() for t in reloaded.trees] == [t.to_state() for t in forest.trees]
        preds2 = reloaded.predict(test)
        assert preds2.filter(F.col("label") == F.col("prediction")).count() == preds.count()
    # the paper's max_depth=None grows until no node splits: the same
    # trees as an unreachable bound, and it survives save/load
    unbounded = LocalProximityForest(num_partitions=3, n_splitters=3, seed=5, max_depth=None).fit(train)
    deep = LocalProximityForest(num_partitions=3, n_splitters=3, seed=5, max_depth=10_000).fit(train)
    assert [t.to_state() for t in unbounded.trees] == [t.to_state() | {"max_depth": None} for t in deep.trees]
    p = str(tmp_path / "forest-unbounded.json")
    unbounded.save(p)
    reloaded = LocalProximityForest.load(p)
    assert reloaded.max_depth is None
    assert [t.to_state() for t in reloaded.trees] == [t.to_state() for t in unbounded.trees]
    # an unknown metric, or a fit that cannot split, fails on the driver, before any job
    for model, kwargs, message in (
        (LocalProximityForest, {"metric": "manhattan"}, r"^metric must be 'euclidean' or 'dtw', got 'manhattan'$"),
        (LocalProximityForest, {"n_splitters": 0}, r"^n_splitters must be >= 1, got 0$"),
        (LocalProximityForest, {"num_partitions": 0}, r"^num_partitions must be >= 1, got 0$"),
        (GlobalProximityTree, {"n_splitters": 0}, r"^n_splitters must be >= 1, got 0$"),
        (ProximityTree, {"n_splitters": 0}, r"^n_splitters must be >= 1, got 0$"),
    ):
        with pytest.raises(ValueError, match=message):
            model(**kwargs)


@pytest.mark.parametrize(
    "bad_row, n_bad",
    [([0.5], 1), ([0.5, None], 1), (None, 2)],
    ids=["ragged", "null-element", "null-label"],
)
def test_local_forest_malformed_rows_fail_with_count(spark, bad_row, n_bad):
    """A ragged row or a null element fails the fit with the count of
    bad rows (Arrow would turn the null element into NaN, and
    ``np.stack`` would fail on the ragged row, without naming either);
    so do null labels, which the stratified placement used to drop."""
    train = _clusters2d(spark, True)
    extra = [(1, bad_row)] if bad_row is not None else [(None, [0.5, 0.5]), (None, [1.5, 1.5])]
    df = train.union(spark.createDataFrame(extra, "label int, features array<double>"))
    with pytest.raises(ValueError, match=rf"^{n_bad} of {45 + n_bad} training rows .* other than 2$"):
        LocalProximityForest(num_partitions=3, n_splitters=3, seed=5).fit(df)


def test_local_forest_fit_ignores_input_layout(spark):
    """The forest depends only on (data, params, seed): neither the
    input's partition count nor its row order may change a tree or its
    weight, plain or with ``use_weighting``'s holdout draw."""
    rng = np.random.default_rng(17)
    centers = rng.normal(0.0, 2.0, (3, 8))
    rows = [
        (int(c) + 1, (centers[c] + rng.normal(0.0, 1.0, 8)).tolist())
        for c in np.repeat([0, 1, 2], 100)
    ]
    shuffled = [rows[i] for i in rng.permutation(len(rows))]
    for use_weighting in (False, True):
        fits = []
        for order in (rows, shuffled):
            df = spark.createDataFrame(order, "label int, features array<double>")
            for n_in in (1, 3, 7):
                forest = LocalProximityForest(
                    num_partitions=3, n_splitters=3, use_weighting=use_weighting, seed=5
                ).fit(df.repartition(n_in))
                fits.append(([t.to_state() for t in forest.trees], forest.weights))
        assert len(fits[0][0]) == 3
        assert all(fit == fits[0] for fit in fits[1:])


def test_global_tree_end_to_end(spark, tmp_path):
    train, test = _clusters2d(spark, True), _clusters2d(spark, False, seed=11)
    tree = GlobalProximityTree(n_splitters=3, max_depth=6, seed=3).fit(train)
    assert tree.depth >= 2
    preds = tree.predict(test)
    acc = preds.filter(F.col("label") == F.col("prediction")).count() / preds.count()
    assert acc == 1.0
    p = str(tmp_path / "tree.json")
    tree.save(p)
    reloaded = GlobalProximityTree.load(p)
    preds2 = reloaded.predict(test)
    assert preds2.filter(F.col("label") == F.col("prediction")).count() == preds.count()


def test_dtw_kernels(spark):
    a = [0.0, 1.0, 2.0, 3.0]
    b = [0.0, 1.0, 2.0, 3.0]
    assert dtw_distance(a, b) == 0.0
    shifted = [1.0, 2.0, 3.0, 3.0]
    # DTW warps the shift away; euclidean bound cannot
    assert dtw_distance(a, shifted) <= dtw_upper_bound(a, shifted)
    # banded variant still exact for identical series
    assert dtw_distance(a, b, window=1) == 0.0
    df = spark.createDataFrame([(a, shifted)], "a array<double>, b array<double>")
    got = df.select(dtw_pairwise_udf()(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert got == pytest.approx(dtw_distance(a, shifted))


def test_fast_dtw_error_bound(spark):
    import numpy as np

    from bigdata_spark.ml.dtw import fast_dtw, fast_dtw_pairwise_udf

    rng = np.random.RandomState(3)
    for _ in range(10):
        a, b = np.cumsum(rng.randn(64)), np.cumsum(rng.randn(64))
        exact = dtw_distance(a, b)
        approx = fast_dtw(a, b, radius=2)
        # restricted path ⇒ approx ≥ exact, and the coarsening keeps it close
        assert approx >= exact - 1e-9
        assert approx <= exact * 1.5 + 1e-9
    # identical series: zero under any radius
    assert fast_dtw(np.arange(50.0), np.arange(50.0)) == 0.0
    # unequal lengths supported
    assert fast_dtw(np.arange(33.0), np.arange(50.0)) >= dtw_distance(
        np.arange(33.0), np.arange(50.0)
    ) - 1e-9
    a, b = np.cumsum(rng.randn(32)).tolist(), np.cumsum(rng.randn(32)).tolist()
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(fast_dtw_pairwise_udf(radius=2)(F.col("a"), F.col("b")).alias("d")).first()["d"]
    assert got == pytest.approx(fast_dtw(a, b, radius=2))


def test_dtw_split_trees_deterministic(spark):
    """DTW-kernel proximity trees (local + global) train and predict
    deterministically for a fixed seed — reference parity with its
    multi-measure distance layer (distance_measures.py:16-88)."""
    import numpy as np

    from bigdata_spark.ml.global_tree import GlobalProximityTree
    from bigdata_spark.ml.proximity import ProximityTree

    rng = np.random.RandomState(11)
    # two phase-shifted waveform classes — DTW separates, euclid struggles
    rows = []
    for i in range(40):
        shift = rng.randint(0, 3)
        base = np.sin(np.linspace(0, 4 * np.pi, 32) + shift * 0.2)
        if i % 2:
            rows.append((1, (base + rng.randn(32) * 0.05).tolist()))
        else:
            rows.append((0, (-base + rng.randn(32) * 0.05).tolist()))
    X = np.array([r[1] for r in rows])
    y = np.array([r[0] for r in rows])

    t1 = ProximityTree(n_splitters=2, max_depth=5, seed=7, metric="dtw", dtw_window=4).fit(X, y)
    t2 = ProximityTree(n_splitters=2, max_depth=5, seed=7, metric="dtw", dtw_window=4).fit(X, y)
    assert (t1.predict(X) == t2.predict(X)).all()
    assert (t1.predict(X) == y).mean() >= 0.9  # separable by design
    # state roundtrip preserves the kernel
    rt = ProximityTree.from_state(t1.to_state())
    assert rt.metric == "dtw" and rt.dtw_window == 4
    assert (rt.predict(X) == t1.predict(X)).all()

    df = spark.createDataFrame(rows, "label int, features array<double>")
    g1 = GlobalProximityTree(
        n_splitters=2, max_depth=4, min_samples_split=4, seed=7,
        metric="dtw", dtw_window=4,
    ).fit(df)
    g2 = GlobalProximityTree(
        n_splitters=2, max_depth=4, min_samples_split=4, seed=7,
        metric="dtw", dtw_window=4,
    ).fit(df)
    p1 = [tuple(r) for r in g1.predict(df).select("label", "prediction").orderBy("label", "prediction").collect()]
    p2 = [tuple(r) for r in g2.predict(df).select("label", "prediction").orderBy("label", "prediction").collect()]
    assert p1 == p2
    acc = sum(1 for l, p in p1 if l == p) / len(p1)
    assert acc >= 0.85


def test_evaluation_metrics(spark):
    # FIXTURES §7: known confusion layout incl. a zero-TP class
    rows = [(1, 1)] * 4 + [(1, 2)] + [(2, 2)] * 3 + [(3, 1)] * 2  # class 3: 0 TP
    preds = spark.createDataFrame(rows, "label int, prediction int")
    m = classification_metrics(preds)
    assert m["accuracy"] == pytest.approx(7 / 10)
    ba = balanced_accuracy(preds)
    assert ba == pytest.approx((4 / 5 + 3 / 3 + 0.0) / 3)
    cm = {(r["label"], r["prediction"]): r["n"] for r in confusion_matrix(preds).collect()}
    assert cm[(1, 1)] == 4 and cm[(3, 1)] == 2 and (3, 3) not in cm


def test_metrics_counts_engine_matches_mllib(spark):
    import random

    from bigdata_spark.ml.evaluation import classification_metrics

    rng = random.Random(11)
    rows = [(rng.randint(0, 4), rng.randint(0, 4)) for _ in range(500)]
    rows += [(7, 2)] * 5  # a class that is never predicted
    df = spark.createDataFrame(rows, "label int, prediction int")
    fast = classification_metrics(df, engine="counts")
    ref = classification_metrics(df, engine="mllib")
    for k in ("accuracy", "weightedPrecision", "weightedRecall", "f1"):
        assert abs(fast[k] - ref[k]) < 1e-12, k
