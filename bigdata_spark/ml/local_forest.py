"""Local (per-partition) proximity forest (SURVEY §3.3; reference
local_model_manager.py).

Spark-first redesign of the reference's RDD hop (U5,
``df.rdd.mapPartitions`` at local_model_manager.py:195): training runs
as ``groupBy(_partition_id).applyInPandas`` — same semantics (one tree
per balanced stratified partition), but it stays in the DataFrame API,
gets Arrow batching, and the returned model state is a JSON string
column instead of opaque pickles (engine-portable persistence,
SURVEY §7 hard-point 3).

Scale: training shuffles each row once (the partition groupBy);
prediction broadcasts the (small) forest once as ``FlatTree`` arrays and
routes each Arrow batch through every tree in one pandas UDF pass — no
shuffle, same as the reference's predict path.
"""

from __future__ import annotations

import json
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..operators.preprocess import balanced_stratified_repartition
from ..worker import stat_checked_zipimport
from .proximity import ProximityTree
from .tree_core import check_metric, feature_matrix, training_width

# constructor arguments, in the order ``save`` writes them
_PARAMS = ("num_partitions", "n_splitters", "max_depth", "use_weighting", "seed", "metric", "dtw_window")


class LocalProximityForest:
    """One proximity tree per partition, majority-vote ensemble with
    optional OOB-accuracy weighting (reference local_model_manager.py:
    133-146,178-188). A null label, null features or a null element
    fails the fit with a count; NaN values are accepted and follow
    ``ProximityTree``'s rule: a series whose distances to a node's
    exemplars are all NaN, such as an all-NaN series, goes to the node's
    first exemplar, in fit and predict alike."""

    def __init__(
        self,
        num_partitions: int = 4,
        n_splitters: int = 5,
        max_depth: int | None = 20,
        use_weighting: bool = False,
        seed: int = 42,
        metric: str = "euclidean",
        dtw_window: int | None = None,
    ) -> None:
        check_metric(metric)
        if num_partitions < 1:
            raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
        if n_splitters < 1:
            raise ValueError(f"n_splitters must be >= 1, got {n_splitters}")
        self.num_partitions = num_partitions
        self.n_splitters = n_splitters
        self.max_depth = max_depth
        self.use_weighting = use_weighting
        self.seed = seed
        self.metric = metric
        self.dtw_window = dtw_window
        self.trees: list[ProximityTree] = []
        self.weights: list[float] = []

    # -- train -------------------------------------------------------------

    def fit(self, df: DataFrame, label_col: str = "label", features_col: str = "features") -> "LocalProximityForest":
        """df: (label int, features array<double>). Assigns balanced
        stratified partitions (W1+O3) then trains one tree per partition
        via applyInPandas. An empty ``df`` raises ``ValueError``.
        ``fit_stats_`` then reports the training rows."""
        # _row_key: content hash carried into the pandas group so each
        # partition's rows can be sorted deterministically before
        # training — applyInPandas delivers rows in shuffle-fetch order,
        # which varies run to run and would otherwise change the tree.
        keyed = df.select(label_col, features_col).withColumn(
            "_row_key", F.xxhash64(F.lit(self.seed), label_col, features_col)
        )
        # _bad: a null label, null features or a null element (Arrow
        # would hand the element to pandas as NaN). Added after the
        # placement, which hashes every column of `keyed`; the projection
        # keeps the placement's partitioning, so it costs no job.
        parted = balanced_stratified_repartition(
            keyed, label_col, self.num_partitions, seed=self.seed, keep_partition_col=True
        ).withColumn(
            "_bad",
            F.col(label_col).isNull()
            | F.col(features_col).isNull()
            | F.exists(features_col, lambda x: x.isNull()),
        )

        params = dict(
            n_splitters=self.n_splitters, max_depth=self.max_depth,
            metric=self.metric, dtw_window=self.dtw_window,
        )
        seed, use_weighting = self.seed, self.use_weighting

        def train_partition(key, pdf):
            stat_checked_zipimport()
            pid = int(key[0])
            # row counts by features length (-1: unusable) go back to the
            # driver; a partition with unusable or ragged rows trains nothing
            widths = Counter(-1 if bad else len(f) for f, bad in zip(pdf[features_col], pdf["_bad"]))
            out = {"partition_id": pid, "tree_json": None, "oob_score": None, "widths": json.dumps(list(widths.items()))}
            if len(widths) > 1 or -1 in widths:
                return pd.DataFrame([out])
            pdf = pdf.sort_values("_row_key", kind="mergesort")
            X = np.stack(pdf[features_col].to_numpy())
            y = pdf[label_col].to_numpy().astype(np.int64)
            oob = 1.0
            if use_weighting and len(y) >= 10:
                # 80/20 holdout for the ensemble weight (reference
                # local_model_manager.py:178-188)
                ix = np.random.default_rng(seed + pid).permutation(len(y))
                tr, va = np.split(ix, [int(len(y) * 0.8)])
                t = ProximityTree(seed=seed + pid, **params).fit(X[tr], y[tr])
                oob = float((t.predict(X[va]) == y[va]).mean()) if len(va) else 1.0
            tree = ProximityTree(seed=seed + pid, **params).fit(X, y)
            return pd.DataFrame([out | {"tree_json": json.dumps(tree.to_state()), "oob_score": oob}])

        rows = (
            parted.groupBy("_partition_id")
            .applyInPandas(train_partition, "partition_id int, tree_json string, oob_score double, widths string")
            .collect()
        )
        # one features length across all partitions, else a count of the bad rows
        widths: Counter = Counter()
        for r in rows:
            widths.update(dict(json.loads(r["widths"])))
        training_width(widths)
        self.fit_stats_ = {"rows": sum(widths.values())}
        rows.sort(key=lambda r: r["partition_id"])
        self.trees = [ProximityTree.from_state(json.loads(r["tree_json"])) for r in rows]
        self.weights = [r["oob_score"] if self.use_weighting else 1.0 for r in rows]
        return self

    # -- predict -----------------------------------------------------------

    def predict(self, df: DataFrame, features_col: str = "features") -> DataFrame:
        """Append a ``prediction`` column via broadcast forest + one
        Arrow-batched pandas UDF pass (reference prediction_manager.py:
        84-98 shape); ties break to the smallest class id. A null
        features row or a row with a null value fails the job with a
        ``ValueError`` that counts such rows in its batch."""
        spark = df.sparkSession
        trees = [(t.tree, t.metric, t.dtw_window) for t in self.trees]
        width = next((tree.width for tree, _, _ in trees if tree.width is not None), None)
        classes = np.array(sorted({int(c) for t in self.trees for c in t.classes_}))
        bc = spark.sparkContext.broadcast((trees, list(self.weights), classes))

        @F.pandas_udf(IntegerType())
        def forest_predict(features: pd.Series, null_value: pd.Series) -> pd.Series:
            stat_checked_zipimport()
            trees_, weights_, classes_ = bc.value
            X = feature_matrix(features, width, null_value)
            votes = np.zeros((len(X), len(classes_)))
            for (tree, metric, window), w in zip(trees_, weights_):
                pred = tree.prediction[tree.route(X, metric, window)]
                votes[np.arange(len(X)), np.searchsorted(classes_, pred)] += w
            return pd.Series(classes_[np.argmax(votes, axis=1)], dtype="int32")

        return df.withColumn(
            "prediction", forest_predict(F.col(features_col), F.exists(features_col, lambda x: x.isNull()))
        )

    # -- persistence (S5/S6: JSON model sink/source) -----------------------

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            state = {k: getattr(self, k) for k in _PARAMS}
            json.dump({**state, "weights": self.weights, "trees": [t.to_state() for t in self.trees]}, f)

    @classmethod
    def load(cls, path: str) -> "LocalProximityForest":
        with open(path) as f:
            state = json.load(f)
        # a forest saved without metric and dtw_window is euclidean
        m = cls(**{k: state[k] for k in _PARAMS if k in state})
        m.weights = state["weights"]
        m.trees = [ProximityTree.from_state(s) for s in state["trees"]]
        return m
