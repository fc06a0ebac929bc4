"""The proximity-tree core shared by the global tree, the local tree and
the local forest (Lucas et al., Proximity Forest, DMKD 2019): route each
series to its nearest exemplar, pick the split by weighted Gini.

  - ``nearest_exemplar``, the one numpy distance kernel;
  - ``FlatTree``, one tree as arrays, converted to and from the
    per-node JSON the models persist;
  - ``FlatTree.route``, the one traversal: it moves a whole batch of
    rows from the root (or from given nodes), all rows of a depth at
    once;
  - ``weighted_gini``, the one split score;
  - ``spark_xxhash64``, Spark's ``xxhash64`` of a literal and a double
    array in numpy, the global fit's row rank on the driver.
"""

from __future__ import annotations

import numpy as np

# node states
LEAF, SPLIT, OPEN = 0, 1, 2
# elements of the euclidean kernel's (rows, cand, K, d) temporary per
# step: 256 rows against one block of 5 exemplars of 140
_CHUNK_ELEMS = 256 * 5 * 140


def check_metric(metric: str) -> None:
    """Raise ``ValueError`` unless ``nearest_exemplar`` computes ``metric``."""
    if metric not in ("euclidean", "dtw"):
        raise ValueError(f"metric must be 'euclidean' or 'dtw', got {metric!r}")


def nearest_exemplar(
    X: np.ndarray, blocks: np.ndarray, counts: np.ndarray, slots: np.ndarray,
    metric: str = "euclidean", window: int | None = None,
) -> np.ndarray:
    """0-based nearest-exemplar index of every row of ``X`` (m, d) in
    each of its exemplar blocks: ``slots`` (m, c) picks blocks of
    ``blocks`` (b, K, d), of which the first ``counts[slot]`` rows are
    exemplars and the rest padding that never wins.

    Euclidean follows ``nearest_exemplar_index`` bit for bit: squares
    summed dimension by dimension in index order (Spark's ``aggregate``
    fold), then ``sqrt``. DTW uses ``dtw_distance``. Under both, NaN
    ranks above every number, ties go to the lowest index, and a row
    whose distances are all NaN goes to the first exemplar."""
    m, c = slots.shape
    out = np.zeros((m, c), dtype=np.int64)
    if blocks.shape[1] == 0 or X.shape[1] == 0:
        return out  # every distance is equal: the first exemplar
    valid = np.arange(blocks.shape[1]) < counts[slots][..., None]
    step = max(1, _CHUNK_ELEMS // (c * blocks.shape[1] * X.shape[1]))
    for lo in range(0, m, step):
        x, s = X[lo : lo + step], slots[lo : lo + step]
        if metric == "dtw":
            from .dtw import dtw_distance

            dist = np.full(s.shape + blocks.shape[1:2], np.nan)
            for r, j, e in zip(*np.nonzero(valid[lo : lo + step])):
                dist[r, j, e] = dtw_distance(x[r], blocks[s[r, j], e], window=window)
        else:
            # one (rows, cand, K, d) buffer: difference, square, running sum
            d = blocks[s]
            np.subtract(x[:, None, None, :], d, out=d)
            np.multiply(d, d, out=d)
            dist = np.sqrt(np.cumsum(d, axis=-1, out=d)[..., -1])
            dist[~valid[lo : lo + step]] = np.nan
        best = np.where(np.isnan(dist), np.inf, dist).min(axis=-1, keepdims=True)
        # no hit (every distance NaN) → argmax of all-False → 0
        out[lo : lo + step] = np.argmax(dist == best, axis=-1)
    return out


def padded_blocks(exemplar_sets: list, width: int) -> tuple[np.ndarray, np.ndarray]:
    """The exemplar sets as NaN-padded (sets, K, width) blocks, and the
    number of exemplars in each."""
    counts = np.array([len(e) for e in exemplar_sets], dtype=np.int64)
    blocks = np.full((len(exemplar_sets), counts.max(initial=0), width), np.nan)
    for i, e in enumerate(exemplar_sets):
        blocks[i, : len(e)] = e
    return blocks, counts


def weighted_gini(counts: np.ndarray) -> float:
    """Weighted Gini impurity of a split from its (branch × label) row
    counts. Branches and labels are summed in index order, so equal
    tables score equal bit for bit. Empty branches are skipped."""
    n = counts.sum(axis=1)
    keep = n > 0
    p = counts[keep] / n[keep, None]
    # pow(p, 2) as Python's ``**`` squares; ``p * p`` can differ in the last bit
    impurity = 1.0 - np.cumsum(np.float_power(p, 2), axis=1)[:, -1]
    return float(np.cumsum(n[keep] / n.sum() * impurity)[-1])


# XXH64's primes; uint64 arithmetic wraps like Java's long
_P1, _P2, _P3, _P4, _P5 = (
    np.uint64(p)
    for p in (
        0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
    )
)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _hash_long(x: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h ^= _rotl(x * _P2, 31) * _P1
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _hash_int(x: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(4)
    h ^= (x & np.uint64(0xFFFFFFFF)) * _P1
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def spark_xxhash64(lit: int, X: np.ndarray) -> np.ndarray:
    """Spark's ``xxhash64(lit(lit), features)`` of every row of ``X`` (m,
    d), bit for bit (Spark's ``XXH64``, seed 42): the literal is hashed
    as an int when it fits 32 bits and as a long otherwise, as ``lit``
    types it; then each element, in order, as the long bits of the
    double, with -0.0 read as 0.0 and every NaN as the canonical NaN.
    Null elements, which Spark skips, cannot occur in a matrix."""
    lit_bits = np.full(len(X), lit & 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)
    h = np.full(len(X), 42, dtype=np.uint64)
    h = _hash_int(lit_bits, h) if -(2**31) <= lit < 2**31 else _hash_long(lit_bits, h)
    for col in X.T:
        col = np.where(np.isnan(col), np.nan, col + 0.0)  # + 0.0: -0.0 → 0.0
        h = _hash_long(col.view(np.uint64), h)
    return h.view(np.int64)


def training_width(widths: dict[int, int], dim: int = -1) -> int:
    """The features length of a training set from its row counts by
    length (-1: a null label, null features or a null element): ``dim``
    when given, else the most common length. Raises ``ValueError`` if
    there are no rows, and, with the count, if any row is unusable or of
    another length."""
    total = sum(widths.values())
    if not total:
        raise ValueError("the training set has no rows")
    expect = dim if dim >= 0 else max((w for w in widths if w >= 0), key=widths.get, default=-1)
    bad = total - (widths.get(expect, 0) if expect >= 0 else 0)
    if bad:
        raise ValueError(
            f"{bad} of {total} training rows have a null label, null features, a null "
            f"feature value, or a features length other than {expect}"
        )
    return expect


def feature_matrix(rows, width: int | None, null_values=None) -> np.ndarray:
    """``rows`` as one (m, width) float matrix. A null row, a row with a
    null value or a row of another length raises ``ValueError`` (the
    first two with their count). ``null_values`` flags, per row, a null
    value: Arrow hands one to pandas as NaN, so the Spark predicts
    compute the flag in the projection that feeds their UDF. A tree
    without splits (``width`` None) reads no feature."""
    if width is None:
        return np.empty((len(rows), 0))
    nulls = sum(r is None for r in rows)
    if nulls:
        raise ValueError(f"{nulls} of {len(rows)} rows have null features")
    bad = 0 if null_values is None else int(np.count_nonzero(np.asarray(null_values, dtype=bool)))
    if bad:
        raise ValueError(f"{bad} of {len(rows)} rows have a null feature value")
    lengths = {len(r) for r in rows}
    if lengths - {width}:
        raise ValueError(
            f"the tree was fitted on features of length {width}, "
            f"found length {min(lengths - {width})}"
        )
    return np.asarray(list(rows), dtype=np.float64).reshape(len(rows), width)


class FlatTree:
    """A proximity tree as arrays. Node ``i`` has a ``state`` (LEAF,
    SPLIT, or OPEN while the global fit grows it) and, as a leaf, a
    ``prediction`` (NaN: none). Split node ``i`` owns block ``s =
    slot[i]``: ``counts[s]`` exemplars in ``blocks[s]`` (NaN-padded),
    their labels in ``labels[s]`` and the child reached through each in
    ``children[s]``.

    Built from ``leaves`` (node → prediction) and ``splits`` (node →
    (exemplar labels, exemplars, children)); any other node is OPEN."""

    def __init__(self, n_nodes: int, leaves: dict, splits: dict) -> None:
        ids = sorted(splits)
        self.width = len(splits[ids[0]][1][0]) if ids else None
        self.state = np.full(n_nodes, OPEN, dtype=np.int8)
        self.prediction = np.full(n_nodes, np.nan)
        self.slot = np.full(n_nodes, -1, dtype=np.int64)
        self.blocks, self.counts = padded_blocks([splits[i][1] for i in ids], self.width or 0)
        self.labels = np.zeros(self.blocks.shape[:2], dtype=np.int64)
        self.children = np.zeros(self.blocks.shape[:2], dtype=np.int64)
        for s, nid in enumerate(ids):
            labels, _, children = splits[nid]
            self.state[nid], self.slot[nid] = SPLIT, s
            self.labels[s, : len(labels)] = labels
            self.children[s, : len(children)] = children
        for nid, p in leaves.items():
            self.state[nid] = LEAF
            self.prediction[nid] = np.nan if p is None else p

    def __len__(self) -> int:
        return len(self.state)

    def route(
        self, X: np.ndarray, metric: str = "euclidean", window: int | None = None, start: np.ndarray | None = None
    ) -> np.ndarray:
        """The node every row of ``X`` reaches through the split nodes
        from the root, or from its node in ``start``: a leaf, or an OPEN
        node during the global fit. All rows at one depth move
        together."""
        cur = np.zeros(len(X), dtype=np.int64) if start is None else start.copy()
        while True:
            mv = np.flatnonzero(self.state[cur] == SPLIT)
            if not len(mv):
                return cur
            s = self.slot[cur[mv]]
            b = nearest_exemplar(X[mv], self.blocks, self.counts, s[:, None], metric, window)
            cur[mv] = self.children[s, b[:, 0]]

    def depth(self) -> int:
        """Number of levels from the root to the deepest node."""
        level, depth = np.zeros(1, dtype=np.int64), 0
        while len(level):
            depth += 1
            s = self.slot[level[self.state[level] == SPLIT]]
            level = self.children[s][np.arange(self.children.shape[1]) < self.counts[s][:, None]]
        return depth

    def to_nodes(self, leaf_exemplars=None) -> dict:
        """The per-node JSON: ``{id: {is_leaf, prediction,
        exemplar_labels, exemplars, children}}``. Non-split nodes carry
        ``leaf_exemplars`` as their exemplars."""
        nodes = {}
        for nid, (state, p, s) in enumerate(zip(self.state, self.prediction.tolist(), self.slot)):
            k = self.counts[s] if state == SPLIT else 0
            nodes[str(nid)] = {
                "is_leaf": bool(state == LEAF),
                "prediction": None if np.isnan(p) else int(p),
                "exemplar_labels": self.labels[s, :k].tolist() if k else [],
                "exemplars": self.blocks[s, :k].tolist() if k else leaf_exemplars,
                "children": {str(b): c for b, c in enumerate(self.children[s, :k].tolist())} if k else {},
            }
        return nodes

    @classmethod
    def from_nodes(cls, nodes: dict) -> "FlatTree":
        """The tree of a ``to_nodes`` JSON, from either model."""
        leaves, splits = {}, {}
        for key, n in nodes.items():
            if n["is_leaf"]:
                leaves[int(key)] = n["prediction"]
            else:
                children = [n["children"][str(b)] for b in range(len(n["children"]))]
                exemplars = np.asarray(n["exemplars"], dtype=np.float64)
                splits[int(key)] = (n["exemplar_labels"], exemplars, children)
        return cls(max(map(int, nodes)) + 1, leaves, splits)
