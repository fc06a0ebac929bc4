"""Single-machine proximity tree in numpy — the per-partition learner
for the local forest (SURVEY §3.3; reference uses aeon's ProximityTree,
local_model_manager.py:176-186; aeon is not in this container so the
algorithm is implemented directly).

A proximity tree splits each node by choosing one exemplar per class
and routing every sample to its nearest exemplar under a configurable
distance kernel (euclidean, or banded DTW — reference
distance_measures.py:16-52); the best of ``n_splitters`` random
candidate splits (by weighted Gini) wins. The tree grows depth first
into a ``FlatTree`` and uses the kernel, Gini and traversal of ``tree_core``.
"""

from __future__ import annotations

import numpy as np

from .tree_core import FlatTree, check_metric, feature_matrix, nearest_exemplar, weighted_gini

# constructor arguments, in the order the state lists them
_PARAMS = ("n_splitters", "max_depth", "min_samples_split", "seed", "metric", "dtw_window")


class ProximityTree:
    """Distance-based decision tree over fixed-length series/vectors.
    Feature values may be NaN: NaN ranks above every distance, so a
    series whose distances to a node's exemplars are all NaN, such as an
    all-NaN series, goes to the node's first exemplar, in fit and
    predict alike."""

    def __init__(
        self,
        n_splitters: int = 5,
        max_depth: int | None = 20,
        min_samples_split: int = 2,
        seed: int = 42,
        metric: str = "euclidean",
        dtw_window: int | None = None,
    ) -> None:
        check_metric(metric)
        if n_splitters < 1:
            raise ValueError(f"n_splitters must be >= 1, got {n_splitters}")
        self.n_splitters = n_splitters
        self.max_depth = max_depth  # None: grow until no node splits
        self.min_samples_split = min_samples_split
        self.seed = seed
        self.metric = metric
        self.dtw_window = dtw_window
        self.tree: FlatTree | None = None
        self.classes_: np.ndarray | None = None

    # -- fit ---------------------------------------------------------------

    def fit(self, X: np.ndarray, y: np.ndarray) -> "ProximityTree":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.int64)
        self.classes_ = np.unique(y)
        leaves, splits = {}, {}  # see FlatTree
        n_nodes = self._grow(0, 1, X, y, 0, np.random.default_rng(self.seed), leaves, splits)
        self.tree = FlatTree(n_nodes, leaves, splits)
        return self

    def _grow(self, nid: int, next_id: int, X, y, depth: int, rng, leaves: dict, splits: dict) -> int:
        """Grow node ``nid`` from the rows (X, y), numbering its subtree
        from ``next_id`` in depth-first order; returns the next free id."""
        labels, counts = np.unique(y, return_counts=True)
        majority = int(labels[np.argmax(counts)])  # ties to the smallest label
        if (
            (self.max_depth is not None and depth >= self.max_depth)
            or len(y) < self.min_samples_split
            or len(labels) == 1
        ):
            leaves[nid] = majority
            return next_id

        k = len(labels)
        label_ix = np.searchsorted(labels, y)
        one_block = np.zeros((len(X), 1), dtype=np.int64)
        best = None  # (gini, exemplars, assign)
        for _ in range(self.n_splitters):
            exemplars = X[[rng.choice(np.flatnonzero(y == lbl)) for lbl in labels]]
            assign = nearest_exemplar(
                X, exemplars[None], np.array([k]), one_block, self.metric, self.dtw_window
            )[:, 0]
            gini = weighted_gini(np.bincount(assign * k + label_ix, minlength=k * k).reshape(k, k))
            if best is None or gini < best[0]:
                best = (gini, exemplars, assign)

        _, exemplars, assign = best
        # a degenerate winner (all rows one way) → leaf; it competed on its Gini
        if len(np.unique(assign)) < 2:
            leaves[nid] = majority
            return next_id
        children = []
        for i, lbl in enumerate(labels):
            mask = assign == i
            child, next_id = next_id, next_id + 1
            children.append(child)
            if mask.any():
                next_id = self._grow(child, next_id, X[mask], y[mask], depth + 1, rng, leaves, splits)
            else:
                leaves[child] = int(lbl)
        splits[nid] = (labels, exemplars, children)
        return next_id

    # -- predict -----------------------------------------------------------

    def predict(self, X) -> np.ndarray:
        X = feature_matrix(X, self.tree.width)
        return self.tree.prediction[self.tree.route(X, self.metric, self.dtw_window)].astype(np.int64)

    # -- (de)serialization: engine-portable dict state (SURVEY §7 hard-point 3)

    def to_state(self) -> dict:
        return {
            **{k: getattr(self, k) for k in _PARAMS},
            "classes": self.classes_.tolist() if self.classes_ is not None else None,
            "nodes": self.tree.to_nodes(),
        }

    @classmethod
    def from_state(cls, state: dict) -> "ProximityTree":
        t = cls(**{k: state[k] for k in _PARAMS if k in state})
        t.classes_ = None if state["classes"] is None else np.asarray(state["classes"])
        t.tree = FlatTree.from_nodes(state["nodes"])
        return t
