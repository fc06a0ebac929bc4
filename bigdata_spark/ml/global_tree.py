"""Global proximity tree as a level-wise Spark pass (SURVEY §3.2;
reference global_model_manager.py:168-402).

The reference's BFS level loop costs O(k·open_nodes) Spark actions per
level (one weighted-Gini job per candidate split — the reason its
global training takes 1,900-5,300 s). This implementation grows the
same tree with ONE Spark job per level, in the shape of Spark ML's
level-wise ``RandomForest.findBestSplits``:

  - the training frame (label, features) is persisted once; each job
    projects it as (label, features, xxhash64(seed + depth + 1,
    features)) and runs ``_level_kernel`` over it with ``mapInArrow``;
  - the tree grown so far (a ``FlatTree``, rebuilt each level from the
    decided leaves and splits) and every open node's candidate exemplar
    blocks travel as one broadcast;
  - each partition routes its rows from the root (``FlatTree.route``),
    drops rows that reach a leaf, scores every candidate of every open
    node (``nearest_exemplar``) and returns mergeable partials: per
    (node, cand, branch, label) group the row count and the
    ``exemplar_pool_k`` rows of smallest hash, each pooled series
    shipped once by row id;
  - the driver merges the partials (counts summed, the k smallest
    hashes kept in order — exactly a ``row_number()`` window's ranks),
    picks each node's split by ``weighted_gini`` over its (branch ×
    label) counts, leafs children from the winning branch counts, and
    draws the next level's candidates from the winning branches' pools.

The bootstrap (root label counts and exemplar pool) is the same job run
as a level with one empty root candidate, ranked by
xxhash64(seed, features). The ranking hashes row CONTENT, so the
fitted tree does not depend on partitioning or row order. A fit of
depth d costs at most d + 1 Spark jobs and no shuffle (plus one shuffle
job when an under-partitioned input is first spread out).

Prediction broadcasts the same ``FlatTree`` and routes each Arrow batch
of rows through it in one pandas UDF pass (U3 parity; reference
:405-483).
"""

from __future__ import annotations

import json
import random

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import IntegerType

from ..worker import stat_checked_zipimport
from .tree_core import (
    OPEN, FlatTree, feature_matrix, nearest_exemplar, padded_blocks, training_width, weighted_gini
)

# constructor arguments, in the order the state lists them
_PARAMS = (
    "n_splitters", "max_depth", "min_samples_split", "exemplar_pool_k", "seed", "metric", "dtw_window"
)
# Partial rows a level job returns, by kind: ENTRY, one pool entry of a
# (node, cand, branch, label) group — its hash h, its series' row id,
# and on the group's first entry the group's row count n; SERIES, the
# features of one pooled row; WIDTH, n input rows of features length
# `width` (-1: null label, null features or a null element).
_ENTRY, _SERIES, _WIDTH = 0, 1, 2
_PARTIAL_ARROW = pa.schema(
    [
        ("kind", pa.int8()), ("node", pa.int32()), ("cand", pa.int32()),
        ("branch", pa.int32()), ("label", pa.int32()), ("n", pa.int64()),
        ("h", pa.int64()), ("row", pa.int64()), ("width", pa.int32()),
        ("features", pa.list_(pa.float64())),
    ]
)
_PARTIAL_SCHEMA = from_arrow_schema(_PARTIAL_ARROW)


def _partial_batch(kind: int, num_rows: int, **cols) -> pa.RecordBatch:
    cols["kind"] = pa.array(np.full(num_rows, kind, dtype=np.int8))
    columns = [cols.get(f.name, pa.nulls(num_rows, f.type)) for f in _PARTIAL_ARROW]
    return pa.record_batch(columns, schema=_PARTIAL_ARROW)


def _reduce_entries(e: dict[str, np.ndarray], k: int) -> dict[str, np.ndarray]:
    """Merge pool entries: per (node, cand, branch, label) group, sum the
    counts ``n`` onto the first entry and keep the ``k`` smallest hashes
    in ascending order. Associative, so partitions and the driver apply
    it to any split of the rows."""
    order = np.lexsort((e["h"], e["label"], e["branch"], e["cand"], e["node"]))
    e = {key: v[order] for key, v in e.items()}
    keys = np.stack([e["node"], e["cand"], e["branch"], e["label"]])
    new = np.ones(len(order), dtype=bool)
    new[1:] = (keys[:, 1:] != keys[:, :-1]).any(axis=0)
    starts = np.flatnonzero(new)
    group = np.cumsum(new) - 1
    rank = np.arange(len(order)) - starts[group]
    n = np.zeros(len(order), dtype=np.int64)
    n[starts] = np.add.reduceat(e["n"], starts) if len(starts) else []
    e["n"] = n
    keep = rank < k
    return {key: v[keep] for key, v in e.items()}


def _count_tables(entries: dict[str, np.ndarray], open_ids: np.ndarray, n_cand: int, labels: np.ndarray):
    """Row counts by (open node, cand, branch, label), the open nodes
    and labels indexed by their place in the sorted ``open_ids`` and
    ``labels``."""
    head = entries["n"] > 0
    tables = np.zeros((len(open_ids), n_cand, max(len(labels), 1), len(labels)), dtype=np.int64)
    ix = (
        np.searchsorted(open_ids, entries["node"][head]),
        entries["cand"][head],
        entries["branch"][head],
        np.searchsorted(labels, entries["label"][head]),
    )
    np.add.at(tables, ix, entries["n"][head])
    return tables


def _branch_pools(entries: dict[str, np.ndarray], row_ix: dict[int, int], winners: dict[int, int]):
    """(node, branch) → label → pooled series indexes in ascending hash
    order, for each node's winning candidate only."""
    pools: dict[tuple[int, int], dict[int, list[int]]] = {}
    cols = (entries[c].tolist() for c in ("node", "cand", "branch", "label", "row"))
    for nid, cand, branch, lbl, row in zip(*cols):
        if winners.get(nid) == cand:
            pools.setdefault((nid, branch), {}).setdefault(lbl, []).append(row_ix[row])
    return pools


def _level_kernel(bc, k: int, metric: str, window: int | None):
    """mapInArrow body of one level job (see the module docstring)."""

    def run(batches):
        stat_checked_zipimport()
        from pyspark import TaskContext

        t = bc.value
        tree, dim, n_cand = t["tree"], t["dim"], t["n_cand"]
        base = TaskContext.get().partitionId() << 32
        offset = 0
        widths: dict[int, int] = {}
        parts, kept_rows, kept_feats = [], [], []
        for batch in batches:
            label, feats, h = batch.column(0), batch.column(1), batch.column(2)
            rows = base + offset + np.arange(batch.num_rows, dtype=np.int64)
            offset += batch.num_rows
            # null label, null features or a null element: unusable
            width = feats.value_lengths().fill_null(-1).to_numpy(zero_copy_only=False)
            bad = label.is_null().to_numpy(zero_copy_only=False) | (width < 0)
            flat = feats.flatten()
            if flat.null_count:
                is_null = flat.is_null().to_numpy(zero_copy_only=False)
                nulls = np.concatenate([[0], np.cumsum(is_null)])
                ends = np.cumsum(np.maximum(width, 0))
                bad |= (nulls[ends] - nulls[ends - np.maximum(width, 0)]) > 0
            width = np.where(bad, -1, width)
            for w, cnt in zip(*np.unique(width, return_counts=True)):
                widths[int(w)] = widths.get(int(w), 0) + int(cnt)
            ok = ~bad if dim < 0 else width == dim
            if not ok.all():
                feats = feats.filter(pa.array(ok))
            good = {w for w in widths if w >= 0}
            if len(good) != 1 or not ok.any():
                continue  # ragged: only the width counts go back
            X = feats.flatten().to_numpy(zero_copy_only=False).reshape(int(ok.sum()), good.pop())
            y = label.to_numpy(zero_copy_only=False)[ok].astype(np.int64)
            hh = h.to_numpy(zero_copy_only=False)[ok]
            rows = rows[ok]

            cur = tree.route(X, metric, window)
            live = np.flatnonzero(tree.state[cur] == OPEN)
            if not len(live):
                continue
            slots = np.searchsorted(t["open"], cur[live])[:, None] * n_cand + np.arange(n_cand)
            branch = nearest_exemplar(X[live], *t["cand"], slots, metric, window)
            e = _reduce_entries(
                {
                    "node": np.repeat(cur[live], n_cand),
                    "cand": np.tile(np.arange(n_cand), len(live)),
                    "branch": branch.ravel(),
                    "label": np.repeat(y[live], n_cand),
                    "n": np.ones(branch.size, dtype=np.int64),
                    "h": np.repeat(hh[live], n_cand),
                    "row": np.repeat(rows[live], n_cand),
                },
                k,
            )
            parts.append(e)
            pooled = np.isin(rows, e["row"])
            kept_rows.append(rows[pooled])
            kept_feats.append(X[pooled])

        yield _partial_batch(
            _WIDTH,
            len(widths),
            n=pa.array(list(widths.values()), pa.int64()),
            width=pa.array(list(widths), pa.int32()),
        )
        if len({w for w in widths if w >= 0}) != 1 or not parts:
            return
        e = _reduce_entries({key: np.concatenate([p[key] for p in parts]) for key in parts[0]}, k)
        yield _partial_batch(
            _ENTRY,
            len(e["n"]),
            **{c: pa.array(e[c].astype(np.int32)) for c in ("node", "cand", "branch", "label")},
            **{c: pa.array(e[c].astype(np.int64)) for c in ("n", "h", "row")},
        )
        # each pooled series once, however many groups pool it
        rows, feats = np.concatenate(kept_rows), np.concatenate(kept_feats)
        ship = np.isin(rows, e["row"])
        rows, feats = rows[ship], feats[ship]
        offsets = np.arange(len(rows) + 1, dtype=np.int32) * feats.shape[1]
        yield _partial_batch(
            _SERIES,
            len(rows),
            row=pa.array(rows),
            features=pa.ListArray.from_arrays(pa.array(offsets), pa.array(feats.ravel())),
        )

    return run


def _spread(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned frame across the executors: a small
    table often arrives as 1-2 scan partitions, and the per-row distance
    work of a fit level or of predict would run serially. No-op at scale
    (inputs already have >= parallelism partitions); content-hash
    ranking keeps the fitted tree independent of the layout either way."""
    spread = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    return df.repartition(spread) if df.rdd.getNumPartitions() < spread else df


class GlobalProximityTree:
    def __init__(
        self,
        n_splitters: int = 5,
        max_depth: int | None = 15,
        min_samples_split: int = 4,
        exemplar_pool_k: int = 3,
        seed: int = 42,
        metric: str = "euclidean",
        dtw_window: int | None = None,
    ) -> None:
        if metric not in ("euclidean", "dtw"):
            raise ValueError(f"metric must be 'euclidean' or 'dtw', got {metric!r}")
        if exemplar_pool_k < 1:
            raise ValueError(f"exemplar_pool_k must be >= 1, got {exemplar_pool_k}")
        self.n_splitters = n_splitters
        self.max_depth = max_depth  # None: grow until no node splits
        self.min_samples_split = min_samples_split
        self.exemplar_pool_k = exemplar_pool_k
        self.seed = seed
        self.metric = metric
        self.dtw_window = dtw_window
        self.tree: FlatTree | None = None
        self.majority_class: int | None = None

    # ------------------------------------------------------------------ fit

    def _level(self, frame: DataFrame, depth: int, tree: FlatTree, candidates: dict, dim: int):
        """One level job: ship the tree and the open nodes' candidates;
        return the merged pool entries (with group counts), the pooled
        series, their index by row id, and the features length. Raises
        ValueError, with the count, on unusable training rows."""
        open_ids = np.array(sorted(candidates))
        n_cand = len(candidates[open_ids[0]])
        cand = padded_blocks([ex for nid in open_ids for _labels, ex in candidates[nid]], max(dim, 0))
        bc = frame.sparkSession.sparkContext.broadcast(
            {"tree": tree, "open": open_ids, "dim": dim, "n_cand": n_cand, "cand": cand}
        )
        try:
            kernel = _level_kernel(bc, self.exemplar_pool_k, self.metric, self.dtw_window)
            rank = F.xxhash64(F.lit(self.seed + depth + 1), "features")
            level = frame.select("label", "features", rank).mapInArrow(kernel, _PARTIAL_SCHEMA)
            tbl = level.toArrow()
        finally:
            bc.destroy()
        kind = tbl.column("kind").to_numpy()

        widths: dict[int, int] = {}
        wt = tbl.filter(kind == _WIDTH)
        for w, n in zip(wt.column("width").to_pylist(), wt.column("n").to_pylist()):
            widths[w] = widths.get(w, 0) + n
        expect = training_width(widths, dim)

        et = tbl.filter(kind == _ENTRY)
        cols = ("node", "cand", "branch", "label", "n", "h", "row")
        entries = _reduce_entries({c: et.column(c).to_numpy() for c in cols}, self.exemplar_pool_k)
        st = tbl.filter(kind == _SERIES)
        feats = st.column("features").combine_chunks()
        series = feats.flatten().to_numpy().reshape(len(feats), max(expect, 0))
        row_ix = dict(zip(st.column("row").to_pylist(), range(len(feats))))
        return entries, series, row_ix, expect

    def fit(self, df: DataFrame, label_col: str = "label", features_col: str = "features") -> "GlobalProximityTree":
        rng = random.Random(self.seed)
        frame = _spread(
            df.select(
                F.col(label_col).cast("int").alias("label"),
                F.col(features_col).cast("array<double>").alias("features"),
            )
        )
        # Persisted once: a lazy local checkpoint fills its blocks during
        # the bootstrap job. A fresh persist() would cost one more job,
        # because adaptive execution materializes a new cache in a job
        # of its own before the first query that reads it.
        frame = frame.localCheckpoint(eager=False)
        try:
            self._grow(frame, rng)
        finally:
            frame._jdf.logicalPlan().rdd().unpersist(False)
        return self

    def _grow(self, frame: DataFrame, rng: random.Random) -> None:
        leaves: dict[int, int | None] = {}  # leaf node → prediction
        splits: dict[int, tuple] = {}  # split node → (labels, exemplars, children)

        # bootstrap: a level with one empty root candidate (branch 0)
        entries, series, row_ix, dim = self._level(frame, -1, FlatTree(1, {}, {}), {0: [([], [])]}, -1)
        labels = np.unique(entries["label"][entries["n"] > 0])
        # per-node label counts over `labels`: the root from the
        # bootstrap, every later node from its parent's winning branch
        # counts — so leaf decisions never need their own Spark job
        stats = {0: _count_tables(entries, np.array([0]), 1, labels)[0, 0, 0]}
        pool = {0: _branch_pools(entries, row_ix, {0: 0}).get((0, 0), {})}
        self.majority_class = int(labels[np.argmax(stats[0])]) if len(labels) else None

        def leaf(nid: int) -> None:  # majority; ties to the smallest label
            leaves[nid] = int(labels[np.argmax(stats[nid])]) if stats[nid].sum() else self.majority_class

        # root leaf check (reference :248-253); later levels run these
        # at child creation from the winning branch counts
        open_nodes = [0] if stats[0].sum() >= self.min_samples_split and len(labels) > 1 else []
        if not open_nodes:
            leaf(0)

        depth, next_id = 0, 1
        while open_nodes and (self.max_depth is None or depth < self.max_depth):
            # candidate splits: per node, n_splitters random exemplar
            # sets drawn from the (winning-branch) pool of the previous
            # level — iteration order is ascending node id, so the rng
            # draw sequence is deterministic
            candidates: dict[int, list[tuple[list[int], np.ndarray]]] = {}
            for nid in open_nodes:
                node_pool = pool.get(nid, {})
                pool_labels = sorted(node_pool)
                if len(pool_labels) < 2:
                    leaf(nid)
                    continue
                candidates[nid] = [
                    (pool_labels, series[[rng.choice(node_pool[lbl]) for lbl in pool_labels]])
                    for _ in range(self.n_splitters)
                ]
            if not candidates:
                break

            tree = FlatTree(next_id, leaves, splits)  # the tree so far, for routing
            entries, series, row_ix, _ = self._level(frame, depth, tree, candidates, dim)

            # branch counts per (node, cand): the Gini input, and the
            # would-be children's label counts
            open_ids = np.array(sorted(candidates))
            tables = _count_tables(entries, open_ids, self.n_splitters, labels)
            # a degenerate split (everything one way) scores 1.0; ties go
            # to the lowest cand id
            ginis = np.array(
                [
                    [weighted_gini(t) if (t.sum(axis=1) > 0).sum() > 1 else 1.0 for t in node_tables]
                    for node_tables in tables
                ]
            )
            winners = dict(zip(open_ids.tolist(), np.argmin(ginis, axis=1).tolist()))
            cand_pool = _branch_pools(entries, row_ix, winners)

            # materialize winners; each child's label counts are the
            # winning candidate's branch counts, so leaf checks happen now
            new_open: list[int] = []
            next_pool: dict[int, dict[int, list[int]]] = {}
            for i, (nid, cand) in enumerate(winners.items()):
                if ginis[i, cand] >= 1.0:
                    leaf(nid)
                    continue
                pool_labels, exemplars = candidates[nid][cand]
                children = list(range(next_id, next_id + len(pool_labels)))
                splits[nid] = (pool_labels, exemplars, children)
                for b_ix, child in enumerate(children):
                    stats[child] = tables[i, cand, b_ix]
                    if stats[child].sum() < self.min_samples_split or (stats[child] > 0).sum() <= 1:
                        leaf(child)
                    else:
                        new_open.append(child)
                        # the winning candidate's branch pool IS the
                        # child's exemplar pool next level
                        next_pool[child] = cand_pool.get((nid, b_ix), {})
                next_id += len(children)
            pool = next_pool
            open_nodes = new_open
            depth += 1

        # dangling-node sweep (reference :384-398): anything still open →
        # leaf, from the counts kept at creation time — no job
        for nid in open_nodes:
            leaf(nid)
        self.tree = FlatTree(next_id, leaves, splits)

    # -------------------------------------------------------------- predict

    def predict(self, df: DataFrame, features_col: str = "features") -> DataFrame:
        """Broadcast-tree pandas UDF traversal (reference :405-483):
        single distributed pass, no shuffle. A null features row gets
        the majority class via coalesce (reference :475); a row of
        another length than the fitted one fails the job with a
        ``ValueError``."""
        bc = df.sparkSession.sparkContext.broadcast(self.tree)
        metric, window = self.metric, self.dtw_window

        @F.pandas_udf(IntegerType())
        def traverse(features: pd.Series) -> pd.Series:
            stat_checked_zipimport()
            tree = bc.value
            ok = features.notna().to_numpy()
            out = np.full(len(features), np.nan)
            X = feature_matrix(features[ok], tree.width)
            out[ok] = tree.prediction[tree.route(X, metric, window)]
            return pd.Series(out).astype("Int32")

        return _spread(df).withColumn(
            "prediction",
            F.coalesce(
                traverse(F.col(features_col).cast("array<double>")), F.lit(self.majority_class)
            ).cast("int"),
        )

    # ---------------------------------------------------------- persistence

    def to_state(self) -> dict:
        return {
            "majority_class": self.majority_class,
            "params": {k: getattr(self, k) for k in _PARAMS},
            "nodes": self.tree.to_nodes([]),
        }

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.to_state(), f)

    @classmethod
    def load(cls, path: str) -> "GlobalProximityTree":
        with open(path) as f:
            state = json.load(f)
        t = cls(**state["params"])
        t.majority_class = state["majority_class"]
        t.tree = FlatTree.from_nodes(state["nodes"])
        return t

    @property
    def depth(self) -> int:
        return self.tree.depth() if self.tree is not None else 0
