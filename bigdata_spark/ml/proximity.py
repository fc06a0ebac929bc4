"""Single-machine proximity tree in numpy — the per-partition learner
for the local forest (SURVEY §3.3; reference uses aeon's ProximityTree,
local_model_manager.py:176-186; aeon is not in this container so the
algorithm is implemented directly).

A proximity tree splits each node by choosing one exemplar per class
and routing every sample to its nearest exemplar under a configurable
distance kernel (euclidean, or banded DTW — reference
distance_measures.py:16-52); the best of ``n_splitters`` random
candidate splits (by weighted Gini) wins.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass
class _Node:
    node_id: int
    is_leaf: bool = False
    prediction: int | None = None
    exemplar_labels: list[int] = field(default_factory=list)
    exemplars: np.ndarray | None = None  # (k, d)
    children: dict[int, int] = field(default_factory=dict)  # branch ix -> node_id


def _weighted_gini(branches: list[np.ndarray]) -> float:
    total = sum(len(b) for b in branches)
    if total == 0:
        return 1.0
    out = 0.0
    for b in branches:
        if len(b) == 0:
            continue
        _, counts = np.unique(b, return_counts=True)
        p = counts / len(b)
        out += (len(b) / total) * (1.0 - float(np.sum(p * p)))
    return out


class ProximityTree:
    """Distance-based decision tree over fixed-length series/vectors."""

    def __init__(
        self,
        n_splitters: int = 5,
        max_depth: int | None = 20,
        min_samples_split: int = 2,
        seed: int = 42,
        metric: str = "euclidean",
        dtw_window: int | None = None,
    ) -> None:
        if metric not in ("euclidean", "dtw"):
            raise ValueError(f"metric must be 'euclidean' or 'dtw', got {metric!r}")
        self.n_splitters = n_splitters
        self.max_depth = max_depth  # None: grow until no node splits
        self.min_samples_split = min_samples_split
        self.seed = seed
        self.metric = metric
        self.dtw_window = dtw_window
        self.nodes: dict[int, _Node] = {}
        self.classes_: np.ndarray | None = None

    def _pairwise(self, X: np.ndarray, exemplars: np.ndarray) -> np.ndarray:
        """(n, k) distance matrix under the configured kernel. Euclidean
        stays a vectorized squared-distance; DTW (banded) is the
        reference's other split measure (distance_measures.py:16-52)."""
        if self.metric == "euclidean":
            return ((X[:, None, :] - exemplars[None, :, :]) ** 2).sum(axis=2)
        from .dtw import dtw_distance

        return np.asarray(
            [[dtw_distance(x, e, window=self.dtw_window) for e in exemplars] for x in X]
        )

    # -- fit ---------------------------------------------------------------

    def fit(self, X: np.ndarray, y: np.ndarray) -> "ProximityTree":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.int64)
        self.classes_ = np.unique(y)
        rng = np.random.default_rng(self.seed)
        self.nodes = {}
        self._next_id = 1
        self._grow(0, X, y, depth=0, rng=rng)
        return self

    def _majority(self, y: np.ndarray) -> int:
        vals, counts = np.unique(y, return_counts=True)
        return int(vals[np.argmax(counts)])

    def _grow(self, node_id: int, X: np.ndarray, y: np.ndarray, depth: int, rng) -> None:
        node = _Node(node_id)
        self.nodes[node_id] = node
        if (
            (self.max_depth is not None and depth >= self.max_depth)
            or len(y) < self.min_samples_split
            or len(np.unique(y)) == 1
        ):
            node.is_leaf = True
            node.prediction = self._majority(y)
            return

        best = None  # (gini, labels, exemplars, assign)
        labels = np.unique(y)
        for _ in range(self.n_splitters):
            ex_rows = [rng.choice(np.flatnonzero(y == lbl)) for lbl in labels]
            exemplars = X[ex_rows]  # (k, d)
            # nearest-exemplar assignment under the configured kernel
            d2 = self._pairwise(X, exemplars)
            assign = np.argmin(d2, axis=1)
            gini = _weighted_gini([y[assign == i] for i in range(len(labels))])
            if best is None or gini < best[0]:
                best = (gini, labels, exemplars, assign)

        gini, labels, exemplars, assign = best
        # degenerate split (all rows to one branch) → leaf
        if len(np.unique(assign)) < 2:
            node.is_leaf = True
            node.prediction = self._majority(y)
            return

        node.exemplar_labels = [int(l) for l in labels]
        node.exemplars = exemplars
        for i in range(len(labels)):
            mask = assign == i
            child_id = self._next_id
            self._next_id += 1
            node.children[i] = child_id
            if mask.sum() == 0:
                leaf = _Node(child_id, is_leaf=True, prediction=int(labels[i]))
                self.nodes[child_id] = leaf
            else:
                self._grow(child_id, X[mask], y[mask], depth + 1, rng)

    # -- predict -----------------------------------------------------------

    def predict(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        out = np.empty(len(X), dtype=np.int64)
        for i, x in enumerate(X):
            node = self.nodes[0]
            # the tree is finite and acyclic: every walk ends at a leaf
            while not node.is_leaf:
                d2 = self._pairwise(x[None, :], node.exemplars)[0]
                node = self.nodes[node.children[int(np.argmin(d2))]]
            out[i] = node.prediction if node.prediction is not None else -1
        return out

    # -- (de)serialization: engine-portable dict state (SURVEY §7 hard-point 3)

    def to_state(self) -> dict:
        return {
            "n_splitters": self.n_splitters,
            "max_depth": self.max_depth,
            "min_samples_split": self.min_samples_split,
            "seed": self.seed,
            "metric": self.metric,
            "dtw_window": self.dtw_window,
            "classes": self.classes_.tolist() if self.classes_ is not None else None,
            "nodes": {
                str(nid): {
                    "is_leaf": n.is_leaf,
                    "prediction": n.prediction,
                    "exemplar_labels": n.exemplar_labels,
                    "exemplars": None if n.exemplars is None else n.exemplars.tolist(),
                    "children": {str(k): v for k, v in n.children.items()},
                }
                for nid, n in self.nodes.items()
            },
        }

    @classmethod
    def from_state(cls, state: dict) -> "ProximityTree":
        t = cls(
            n_splitters=state["n_splitters"],
            max_depth=state["max_depth"],
            min_samples_split=state["min_samples_split"],
            seed=state["seed"],
            metric=state.get("metric", "euclidean"),
            dtw_window=state.get("dtw_window"),
        )
        t.classes_ = None if state["classes"] is None else np.asarray(state["classes"])
        t.nodes = {}
        for nid, nd in state["nodes"].items():
            t.nodes[int(nid)] = _Node(
                node_id=int(nid),
                is_leaf=nd["is_leaf"],
                prediction=nd["prediction"],
                exemplar_labels=nd["exemplar_labels"],
                exemplars=None if nd["exemplars"] is None else np.asarray(nd["exemplars"]),
                children={int(k): v for k, v in nd["children"].items()},
            )
        return t
