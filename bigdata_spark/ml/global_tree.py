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
  - the tree grown so far and every open node's candidate splits
    travel as one broadcast of flat numpy arrays (NaN-padded exemplar
    blocks, their valid counts, the child table);
  - each partition routes its rows from the root through the decided
    splits, drops rows that reach a leaf, scores every candidate of
    every open node (``nearest_exemplar``) and returns mergeable
    partials: per (node, cand, branch, label) group the row count and
    the ``exemplar_pool_k`` rows of smallest hash, each pooled series
    shipped once by row id;
  - the driver merges the partials (counts summed, the k smallest
    hashes kept in order — exactly a ``row_number()`` window's ranks),
    picks each node's split by weighted Gini, leafs children from the
    winning branch counts, and draws the next level's candidates from
    the winning branches' pools.

The bootstrap (root label counts and exemplar pool) is the same job run
as a level with one empty root candidate, ranked by
xxhash64(seed, features). The ranking hashes row CONTENT, so the
fitted tree does not depend on partitioning or row order. A fit of
depth d costs at most d + 1 Spark jobs and no shuffle (plus one shuffle
job when an under-partitioned input is first spread out).

Prediction broadcasts the plain-dict tree and traverses it in one
Arrow-batched pandas UDF pass (U3 parity; reference :405-483).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

# node states in the kernel's routing table
_LEAF, _SPLIT, _OPEN = 0, 1, 2
# Partial rows a level job returns, by kind: ENTRY, one pool entry of a
# (node, cand, branch, label) group — its hash h, its series' row id,
# and on the group's first entry the group's row count n; SERIES, the
# features of one pooled row; WIDTH, n input rows of features length
# `width` (-1: null label, null features or a null element).
_ENTRY, _SERIES, _WIDTH = 0, 1, 2
_PARTIAL_SCHEMA = (
    "kind byte, node int, cand int, branch int, label int, "
    "n long, h long, row long, width int, features array<double>"
)
_PARTIAL_ARROW = pa.schema(
    [
        ("kind", pa.int8()), ("node", pa.int32()), ("cand", pa.int32()),
        ("branch", pa.int32()), ("label", pa.int32()), ("n", pa.int64()),
        ("h", pa.int64()), ("row", pa.int64()), ("width", pa.int32()),
        ("features", pa.list_(pa.float64())),
    ]
)


def _partial_batch(kind: int, num_rows: int, **cols) -> pa.RecordBatch:
    cols["kind"] = pa.array(np.full(num_rows, kind, dtype=np.int8))
    columns = [cols.get(f.name, pa.nulls(num_rows, f.type)) for f in _PARTIAL_ARROW]
    return pa.record_batch(columns, schema=_PARTIAL_ARROW)


@dataclass
class TreeNode:
    """Driver-side tree IR (reference global_model_manager.py:55-57)."""

    node_id: int
    parent_id: int | None = None
    is_leaf: bool = False
    prediction: int | None = None
    exemplar_labels: list[int] = field(default_factory=list)
    exemplars: list[list[float]] = field(default_factory=list)
    children: dict[int, int] = field(default_factory=dict)  # branch ix → child node_id


def nearest_exemplar(
    X: np.ndarray,
    blocks: np.ndarray,
    counts: np.ndarray,
    slots: np.ndarray,
    metric: str = "euclidean",
    window: int | None = None,
) -> np.ndarray:
    """0-based nearest-exemplar index of every row of ``X`` (m, d) in
    each of its exemplar blocks: ``slots`` (m, c) picks blocks of
    ``blocks`` (b, K, d), of which the first ``counts[slot]`` rows are
    exemplars and the rest padding that never wins.

    Euclidean follows ``nearest_exemplar_index`` bit for bit: squares
    summed dimension by dimension in index order (Spark's ``aggregate``
    fold), then ``sqrt``; NaN ranks above every number, ties go to the
    lowest index, and an all-NaN row goes to the first exemplar. DTW
    takes ``np.argmin`` over ``dtw_distance`` (first NaN wins)."""
    m, c = slots.shape
    if blocks.shape[1] == 0:
        return np.zeros((m, c), dtype=np.int64)
    if metric == "dtw":
        from .dtw import dtw_distance

        out = np.empty((m, c), dtype=np.int64)
        for r in range(m):
            for j in range(c):
                exemplars = blocks[slots[r, j], : counts[slots[r, j]]]
                dists = [dtw_distance(X[r], e, window=window) for e in exemplars]
                out[r, j] = int(np.argmin(dists))
        return out
    per_dim = np.ascontiguousarray(blocks.transpose(2, 0, 1))  # (d, b, K)
    xt = np.ascontiguousarray(X.T)
    acc = np.zeros((m, c, blocks.shape[1]))
    for i in range(X.shape[1]):
        diff = xt[i][:, None, None] - per_dim[i][slots]
        acc += diff * diff
    dist = np.sqrt(acc)
    dist[np.arange(blocks.shape[1]) >= counts[slots][..., None]] = np.nan
    best = np.where(np.isnan(dist), np.inf, dist).min(axis=-1, keepdims=True)
    # no hit (every distance NaN) → argmax of all-False → 0
    return np.argmax(dist == best, axis=-1)


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


def _branch_counts(entries: dict[str, np.ndarray]) -> dict[tuple[int, int], dict]:
    """(node, cand) → branch → label → row count."""
    agg: dict[tuple[int, int], dict[int, dict[int, int]]] = {}
    head = entries["n"] > 0
    cols = (entries[c][head].tolist() for c in ("node", "cand", "branch", "label", "n"))
    for nid, cand, branch, lbl, n in zip(*cols):
        agg.setdefault((nid, cand), {}).setdefault(branch, {})[lbl] = n
    return agg


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
        from pyspark import TaskContext

        t = bc.value
        state, slot, dim = t["state"], t["slot"], t["dim"]
        n_cand = t["n_cand"]
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

            # route from the root through the decided splits, all nodes
            # of a depth at once
            cur = np.zeros(len(X), dtype=np.int64)
            while True:
                mv = np.flatnonzero(state[cur] == _SPLIT)
                if not len(mv):
                    break
                s = slot[cur[mv]]
                b = nearest_exemplar(
                    X[mv], t["split_blocks"], t["split_counts"], s[:, None], metric, window
                )
                cur[mv] = t["children"][s, b[:, 0]]
            live = np.flatnonzero(state[cur] == _OPEN)
            if not len(live):
                continue
            slots = slot[cur[live]][:, None] * n_cand + np.arange(n_cand)
            branch = nearest_exemplar(
                X[live], t["cand_blocks"], t["cand_counts"], slots, metric, window
            )
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
        self.nodes: dict[int, TreeNode] = {}
        self.majority_class: int | None = None

    # ------------------------------------------------------------------ fit

    def _level(
        self,
        frame: DataFrame,
        depth: int,
        blocks: dict[int, np.ndarray],
        candidates: dict,
        dim: int,
    ):
        """One level job: ship the tree and the open nodes' candidates;
        return the merged pool entries (with group counts), the pooled
        series, their index by row id, and the features length. Raises
        ValueError, with the count, on unusable training rows."""
        n_nodes = max(self.nodes) + 1
        state = np.full(n_nodes, _LEAF, dtype=np.int8)
        slot = np.full(n_nodes, -1, dtype=np.int64)
        width = max([len(b) for b in blocks.values()] + [1])
        split_blocks = np.full((len(blocks), width, max(dim, 0)), np.nan)
        split_counts = np.zeros(len(blocks), dtype=np.int64)
        children = np.zeros((len(blocks), width), dtype=np.int64)
        for i, nid in enumerate(blocks):
            state[nid], slot[nid] = _SPLIT, i
            b = blocks[nid]
            split_blocks[i, : len(b)] = b
            split_counts[i] = len(b)
            children[i, : len(b)] = [self.nodes[nid].children[j] for j in range(len(b))]
        open_ids = sorted(candidates)
        n_cand = len(candidates[open_ids[0]])
        cwidth = max(len(ex) for cands in candidates.values() for _, ex in cands)
        cand_blocks = np.full((len(open_ids) * n_cand, cwidth, max(dim, 0)), np.nan)
        cand_counts = np.zeros(len(open_ids) * n_cand, dtype=np.int64)
        for i, nid in enumerate(open_ids):
            state[nid], slot[nid] = _OPEN, i
            for c, (_labels, ex) in enumerate(candidates[nid]):
                cand_blocks[i * n_cand + c, : len(ex)] = ex
                cand_counts[i * n_cand + c] = len(ex)
        sc = frame.sparkSession.sparkContext
        bc = sc.broadcast(
            {
                "state": state, "slot": slot, "dim": dim, "n_cand": n_cand,
                "split_blocks": split_blocks, "split_counts": split_counts, "children": children,
                "cand_blocks": cand_blocks, "cand_counts": cand_counts,
            }
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
        total = sum(widths.values())
        expect = dim if dim >= 0 else max((w for w in widths if w >= 0), key=widths.get, default=-1)
        bad = total - (widths.get(expect, 0) if expect >= 0 else 0)
        if bad:
            raise ValueError(
                f"{bad} of {total} training rows have a null label, null features, a null "
                f"feature value, or a features length other than {expect}"
            )

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
        frame = df.select(
            F.col(label_col).cast("int").alias("label"),
            F.col(features_col).cast("array<double>").alias("features"),
        )
        # Spread an under-partitioned frame across the executors: a small
        # training table often arrives as 1-2 scan partitions and every
        # level's distance compute (the real per-row cost) would run
        # serially. No-op at scale (inputs already have >= parallelism
        # partitions); content-hash ranking keeps the fitted tree
        # independent of the physical layout either way.
        spread = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
        if frame.rdd.getNumPartitions() < spread:
            frame = frame.repartition(spread)
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
        self.majority_class = None
        self.nodes = {0: TreeNode(0)}
        # exemplar blocks of the nodes split so far, for routing
        blocks: dict[int, np.ndarray] = {}

        # bootstrap: a level with one empty root candidate (branch 0)
        entries, series, row_ix, dim = self._level(frame, -1, blocks, {0: [([], [])]}, -1)
        s0 = _branch_counts(entries).get((0, 0), {}).get(0, {})
        # per-node label counts: the root from the bootstrap, every later
        # node from its parent's winning branch counts — so leaf
        # decisions never need their own Spark job
        stats: dict[int, dict[int, int]] = {0: s0}
        pool = {0: _branch_pools(entries, row_ix, {0: 0}).get((0, 0), {})}
        if s0:
            self.majority_class = int(max(sorted(s0), key=lambda k: s0[k]))
        # root leaf check (reference :248-253); later levels run these
        # at child creation from the winning branch counts
        open_nodes = [0] if sum(s0.values()) >= self.min_samples_split and len(s0) > 1 else []
        if not open_nodes:
            self._make_leaf(0, s0)

        depth = 0
        next_id = 1
        while open_nodes and (self.max_depth is None or depth < self.max_depth):
            # candidate splits: per node, n_splitters random exemplar
            # sets drawn from the (winning-branch) pool of the previous
            # level — iteration order is ascending node id, so the rng
            # draw sequence is deterministic
            candidates: dict[int, list[tuple[list[int], np.ndarray]]] = {}
            for nid in open_nodes:
                node_pool = pool.get(nid, {})
                labels = sorted(node_pool)
                if len(labels) < 2:
                    self._make_leaf(nid, stats[nid])
                    continue
                candidates[nid] = [
                    (labels, series[[rng.choice(node_pool[lbl]) for lbl in labels]])
                    for _ in range(self.n_splitters)
                ]
            if not candidates:
                break

            entries, series, row_ix, _ = self._level(frame, depth, blocks, candidates, dim)

            # branch counts per (node, cand): the Gini input, and the
            # would-be children's label stats
            agg = _branch_counts(entries)
            # sorted(): Gini tie-breaks (strict <, so the lowest cand id
            # wins a tie) and child-id allocation are deterministic
            best: dict[int, tuple[float, int]] = {}
            for (nid, cand), branches in sorted(agg.items()):
                # the float Gini accumulation is NOT associative — iterate
                # branches and labels in sorted order
                total = sum(sum(b.values()) for b in branches.values())
                if len(branches) < 2:
                    gini = 1.0  # degenerate: routes everything one way
                else:
                    gini = 0.0
                    for branch in sorted(branches):
                        bcounts = branches[branch]
                        bt = sum(bcounts.values())
                        p2 = sum((bcounts[lbl] / bt) ** 2 for lbl in sorted(bcounts))
                        gini += (bt / total) * (1.0 - p2)
                if nid not in best or gini < best[nid][0]:
                    best[nid] = (gini, cand)

            winners = {nid: cand for nid, (_g, cand) in best.items()}
            cand_pool = _branch_pools(entries, row_ix, winners)

            # materialize winners; each child's label counts are the
            # winning candidate's branch counts, so leaf checks happen now
            new_open: list[int] = []
            next_pool: dict[int, dict[int, list[int]]] = {}
            for nid, (gini, cand) in sorted(best.items()):
                labels, exemplars = candidates[nid][cand]
                if gini >= 1.0:
                    self._make_leaf(nid, stats[nid])
                    continue
                node = self.nodes[nid]
                node.exemplar_labels = labels
                node.exemplars = exemplars.tolist()
                blocks[nid] = exemplars
                branches = agg[(nid, cand)]
                for b_ix in range(len(labels)):
                    self.nodes[next_id] = TreeNode(next_id, parent_id=nid)
                    node.children[b_ix] = next_id
                    cstats = dict(branches.get(b_ix, {}))
                    stats[next_id] = cstats
                    if sum(cstats.values()) < self.min_samples_split or len(cstats) <= 1:
                        self._make_leaf(next_id, cstats)
                    else:
                        new_open.append(next_id)
                        # the winning candidate's branch pool IS the
                        # child's exemplar pool next level
                        next_pool[next_id] = cand_pool.get((nid, b_ix), {})
                    next_id += 1
            pool = next_pool
            open_nodes = new_open
            depth += 1

        # dangling-node sweep (reference :384-398): anything still open →
        # leaf, from the stats accumulated at creation time — no job
        for nid in open_nodes:
            self._make_leaf(nid, stats[nid])

    def _make_leaf(self, nid: int, node_stats: dict[int, int]) -> None:
        node = self.nodes[nid]
        node.is_leaf = True
        if node_stats:
            # majority; ties to smallest label (deterministic)
            node.prediction = max(sorted(node_stats), key=lambda k: node_stats[k])
        else:
            node.prediction = self.majority_class

    # -------------------------------------------------------------- predict

    def predict(self, df: DataFrame, features_col: str = "features") -> DataFrame:
        """Broadcast-tree pandas UDF traversal (reference :405-483):
        single distributed pass, no shuffle; null-safe fallback to the
        majority class via coalesce (reference :475)."""
        spark = df.sparkSession
        state = self.to_state()
        bc = spark.sparkContext.broadcast(state)
        majority = self.majority_class
        # same under-partitioning guard as fit(): one scan partition
        # would serialize the whole Arrow-batched traversal
        spread = max(2, spark.sparkContext.defaultParallelism // 2)
        if df.rdd.getNumPartitions() < spread:
            df = df.repartition(spread)

        @F.pandas_udf(IntegerType())
        def traverse(features: pd.Series) -> pd.Series:
            from bigdata_spark.ml.dtw import dtw_distance

            state = bc.value
            nodes = state["nodes"]
            metric = state["params"].get("metric", "euclidean")
            window = state["params"].get("dtw_window")
            out = []
            for ts in features:
                x = np.asarray(ts, dtype=np.float64)
                node = nodes["0"]
                # the tree is finite and acyclic: every walk ends at a leaf
                while not node["is_leaf"]:
                    ex = np.asarray(node["exemplars"], dtype=np.float64)
                    if metric == "euclidean":
                        ix = int(np.argmin(((ex - x) ** 2).sum(axis=1)))
                    else:
                        ix = int(
                            np.argmin([dtw_distance(x, e, window=window) for e in ex])
                        )
                    node = nodes[str(node["children"][str(ix)])]
                out.append(node["prediction"])
            return pd.Series(out, dtype="Int32")

        return df.withColumn(
            "prediction",
            F.coalesce(
                traverse(F.col(features_col).cast("array<double>")), F.lit(majority)
            ).cast("int"),
        )

    # ---------------------------------------------------------- persistence

    def to_state(self) -> dict:
        return {
            "majority_class": self.majority_class,
            "params": {
                "n_splitters": self.n_splitters,
                "max_depth": self.max_depth,
                "min_samples_split": self.min_samples_split,
                "exemplar_pool_k": self.exemplar_pool_k,
                "seed": self.seed,
                "metric": self.metric,
                "dtw_window": self.dtw_window,
            },
            "nodes": {
                str(nid): {
                    "is_leaf": n.is_leaf,
                    "prediction": n.prediction,
                    "exemplar_labels": n.exemplar_labels,
                    "exemplars": n.exemplars,
                    "children": {str(k): v for k, v in n.children.items()},
                }
                for nid, n in self.nodes.items()
            },
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
        for nid, nd in state["nodes"].items():
            t.nodes[int(nid)] = TreeNode(
                node_id=int(nid),
                is_leaf=nd["is_leaf"],
                prediction=nd["prediction"],
                exemplar_labels=nd["exemplar_labels"],
                exemplars=nd["exemplars"],
                children={int(k): v for k, v in nd["children"].items()},
            )
        return t

    @property
    def depth(self) -> int:
        def node_depth(nid: int) -> int:
            n = self.nodes[nid]
            if not n.children:
                return 1
            return 1 + max(node_depth(c) for c in n.children.values())

        return node_depth(0) if self.nodes else 0
