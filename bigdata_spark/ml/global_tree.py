"""Global proximity tree as a level-wise Spark pass that finishes in
driver memory (SURVEY §3.2; reference global_model_manager.py:168-402).

The reference's BFS level loop costs O(k·open_nodes) Spark actions per
level (one weighted-Gini job per candidate split — the reason its
global training takes 1,900-5,300 s). This implementation grows the
same tree in two phases.

Distributed phase: ONE Spark job per level, in the shape of Spark ML's
level-wise ``RandomForest.findBestSplits``:

  - the training frame (label, features) is persisted once; each job
    projects it as (label, features, xxhash64(seed + depth + 1,
    features)) and runs ``_level_kernel`` over it with ``mapInArrow``;
  - the tree grown so far (a ``FlatTree``, rebuilt each level from the
    decided leaves and splits) and every open node's candidate exemplar
    blocks travel as one broadcast;
  - each partition runs ``level_partials`` on its rows: route them from
    the root (``FlatTree.route``), drop rows that reach a leaf, score
    every candidate of every open node (``nearest_exemplar``), and
    return mergeable partials: per (node, cand, branch, label) group the
    row count and the ``exemplar_pool_k`` rows of smallest hash, each
    pooled series shipped once by row id;
  - the driver merges the partials (counts summed, the k smallest
    hashes kept in order — exactly a ``row_number()`` window's ranks),
    picks each node's split by ``weighted_gini`` over its (branch ×
    label) counts, leafs children from the winning branch counts, and
    draws the next level's candidates from the winning branches' pools.

Local phase: before each level the driver knows the live rows exactly —
the sum of the open nodes' label counts. Once live rows × width × 8 B
fit ``_LOCAL_BYTES``, that level's job returns the live rows themselves
(label, features, and the open node each reached), and the driver grows
every remaining level from them: ``FlatTree.route`` moves each held row
on from its node, ``level_partials`` scores the held rows ranked by
``spark_xxhash64(seed + depth + 1, features)``, bit for bit the Spark
column, and rows that reach a leaf are dropped. The decide step is the
same code and cannot tell which phase made its partials, so the tree is
byte-identical either way. This is PLANET's rule (Panda et al., VLDB
2009): build a node in memory once its rows fit one machine.

The bootstrap (root label counts and exemplar pool) is the same job run
as a level with one empty root candidate, ranked by
xxhash64(seed, features). The ranking hashes row CONTENT, so the
fitted tree does not depend on partitioning or row order. A fit of
depth d costs at most d + 1 Spark jobs while it stays distributed; one
that goes local at depth L costs L + 2 (the bootstrap, L level jobs and
the job that returns the rows), however deep it grows. No fit shuffles,
except for one shuffle job when an under-partitioned input is first
spread out.

Why 8 MiB, ~7,500 series of 140 doubles: the budget bounds what the
driver holds, not its speed. The held rows, one copy of them per local
level and the kernel's per-step temporaries (see ``nearest_exemplar``)
stay a few tens of MB, small beside any driver heap and far under
``spark.driver.maxResultSize``; the 2,000-row benchmark pass grows its
driver's peak RSS by ~3 %. The paper's ECG5000 (5,000 × 140) still fits
whole, while a set too large for one machine keeps its wide top levels,
where the row work is, in parallel Spark jobs. On 4 vCPUs in local
mode, where the jobs share the driver's cores, a larger budget is
faster still (a 20,000-row unbounded fit: 8.4 s at 8 MiB, 4.8 s when
held from the root); on a cluster the jobs' parallelism is real. The
rule is the same for both metrics; DTW's scalar kernel makes a DTW fit
slow beyond test sizes in either phase.

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
    OPEN,
    FlatTree,
    check_metric,
    feature_matrix,
    nearest_exemplar,
    padded_blocks,
    spark_xxhash64,
    training_width,
    weighted_gini,
)

# the fit goes local once its live rows × width × 8 B fit this (see the
# module docstring for the value)
_LOCAL_BYTES = 8 << 20
# constructor arguments, in the order the state lists them
_PARAMS = (
    "n_splitters", "max_depth", "min_samples_split", "exemplar_pool_k", "seed", "metric", "dtw_window"
)
# Partial rows a level job returns, by kind: ENTRY, one pool entry of a
# (node, cand, branch, label) group — its hash h, its series' row id,
# and on the group's first entry the group's row count n; SERIES, the
# features of one pooled row (of one live row, with its label and
# node, in a hold job); WIDTH, n input rows of features length `width` (-1: null
# label, null features or a null element).
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


def _branch_pools(entries: dict[str, np.ndarray], winners: dict[int, int]):
    """(node, branch) → label → pooled series indexes (``entries["row"]``)
    in ascending hash order, for each node's winning candidate only."""
    pools: dict[tuple[int, int], dict[int, list[int]]] = {}
    cols = (entries[c].tolist() for c in ("node", "cand", "branch", "label", "row"))
    for nid, cand, branch, lbl, row in zip(*cols):
        if winners.get(nid) == cand:
            pools.setdefault((nid, branch), {}).setdefault(lbl, []).append(row)
    return pools


def _level_spec(tree: FlatTree, candidates: dict, dim: int) -> dict:
    """What a level needs besides the rows: the tree so far, the open
    nodes, the width, and every open node's candidate exemplar blocks.
    ``hold`` is set for the job that returns the live rows instead of
    partials."""
    open_ids = np.array(sorted(candidates))
    cand = padded_blocks([ex for nid in open_ids for _labels, ex in candidates[nid]], max(dim, 0))
    return {
        "tree": tree, "open": open_ids, "dim": dim, "n_cand": len(candidates[open_ids[0]]),
        "cand": cand, "hold": False,
    }


def level_partials(X, y, h, rows, cur, level: dict, k: int, metric: str, window: int | None):
    """Score one level over the rows ``X`` with labels ``y``, rank hashes
    ``h``, ids ``rows`` and the node ``cur`` each reached by
    ``FlatTree.route``: drop rows at a leaf, and score every candidate
    of every open node. Returns the merged pool entries (see
    ``_reduce_entries``) and the indexes of the rows still live. The
    Spark kernel runs it on each Arrow batch, the local phase on the
    held rows."""
    n_cand = level["n_cand"]
    live = np.flatnonzero(level["tree"].state[cur] == OPEN)
    slots = np.searchsorted(level["open"], cur[live])[:, None] * n_cand + np.arange(n_cand)
    branch = nearest_exemplar(X[live], *level["cand"], slots, metric, window)
    entries = _reduce_entries(
        {
            "node": np.repeat(cur[live], n_cand),
            "cand": np.tile(np.arange(n_cand), len(live)),
            "branch": branch.ravel(),
            "label": np.repeat(y[live], n_cand),
            "n": np.ones(branch.size, dtype=np.int64),
            "h": np.repeat(h[live], n_cand),
            "row": np.repeat(rows[live], n_cand),
        },
        k,
    )
    return entries, live


def _level_kernel(bc, k: int, metric: str, window: int | None):
    """mapInArrow body of one level job (see the module docstring)."""

    def run(batches):
        stat_checked_zipimport()
        from pyspark import TaskContext

        level = bc.value
        dim, hold = level["dim"], level["hold"]
        base = TaskContext.get().partitionId() << 32
        offset = 0
        widths: dict[int, int] = {}
        parts, kept = [], []  # kept: (row ids, nodes, labels, features) to ship
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
            rows = rows[ok]

            cur = level["tree"].route(X, metric, window)
            if hold:  # ship every live row
                keep = level["tree"].state[cur] == OPEN
            else:
                hh = h.to_numpy(zero_copy_only=False)[ok]
                e, _ = level_partials(X, y, hh, rows, cur, level, k, metric, window)
                parts.append(e)
                keep = np.isin(rows, e["row"])
            kept.append((rows[keep], cur[keep], y[keep], X[keep]))

        yield _partial_batch(
            _WIDTH,
            len(widths),
            n=pa.array(list(widths.values()), pa.int64()),
            width=pa.array(list(widths), pa.int32()),
        )
        if len({w for w in widths if w >= 0}) != 1 or not kept:
            return
        rows, nodes, labels, feats = (np.concatenate(a) for a in zip(*kept))
        cols = {"node": pa.array(nodes.astype(np.int32)), "label": pa.array(labels.astype(np.int32))}
        if not hold:
            e = _reduce_entries({key: np.concatenate([p[key] for p in parts]) for key in parts[0]}, k)
            yield _partial_batch(
                _ENTRY,
                len(e["n"]),
                **{c: pa.array(e[c].astype(np.int32)) for c in ("node", "cand", "branch", "label")},
                **{c: pa.array(e[c].astype(np.int64)) for c in ("n", "h", "row")},
            )
            # each pooled series once, however many groups pool it
            ship = np.isin(rows, e["row"])
            rows, feats, cols = rows[ship], feats[ship], {}
        offsets = np.arange(len(rows) + 1, dtype=np.int32) * feats.shape[1]
        yield _partial_batch(
            _SERIES,
            len(rows),
            row=pa.array(rows),
            **cols,
            features=pa.ListArray.from_arrays(pa.array(offsets), pa.array(feats.ravel())),
        )

    return run


def _matrix(series: pa.Table, dim: int) -> np.ndarray:
    feats = series.column("features").combine_chunks()
    return feats.flatten().to_numpy().reshape(len(feats), max(dim, 0))


def _group_jobs(sc) -> set[int]:
    """Ids of the Spark jobs run so far in the caller's job group."""
    return set(sc.statusTracker().getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id")))


def _spread(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned frame across the executors: a small
    table often arrives as 1-2 scan partitions, and the per-row distance
    work of a fit level or of predict would run serially. No-op at scale
    (inputs already have >= parallelism partitions); content-hash
    ranking keeps the fitted tree independent of the layout either way."""
    spread = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    return df.repartition(spread) if df.rdd.getNumPartitions() < spread else df


class GlobalProximityTree:
    """One proximity tree over a whole Spark frame (see the module
    docstring). Feature values may be NaN: NaN ranks above every
    distance, so a series whose distances to a node's exemplars are all
    NaN, such as an all-NaN series, goes to the node's first exemplar,
    in fit and predict alike."""

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
        check_metric(metric)
        if n_splitters < 1:
            raise ValueError(f"n_splitters must be >= 1, got {n_splitters}")
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

    def _job(self, frame: DataFrame, depth: int, level: dict) -> tuple[pa.Table, pa.Table, int]:
        """One level job: ship ``level`` (see ``_level_spec``) and return
        the pool entries (none for a hold job), the shipped series, and
        the features length. Raises ValueError, with the count, on
        unusable training rows."""
        bc = frame.sparkSession.sparkContext.broadcast(level)
        try:
            kernel = _level_kernel(bc, self.exemplar_pool_k, self.metric, self.dtw_window)
            rank = F.xxhash64(F.lit(self.seed + depth + 1), "features")
            tbl = frame.select("label", "features", rank).mapInArrow(kernel, _PARTIAL_SCHEMA).toArrow()
        finally:
            bc.destroy()
        kind = tbl.column("kind").to_numpy()

        widths: dict[int, int] = {}
        wt = tbl.filter(kind == _WIDTH)
        for w, n in zip(wt.column("width").to_pylist(), wt.column("n").to_pylist()):
            widths[w] = widths.get(w, 0) + n
        dim = training_width(widths, level["dim"])
        # every level job reads every training row
        self.fit_stats_["rows"] = sum(widths.values())

        return tbl.filter(kind == _ENTRY), tbl.filter(kind == _SERIES), dim

    def _level(self, frame: DataFrame, depth: int, level: dict):
        """A distributed level: the merged pool entries, with ``row``
        indexing the returned pooled series, and the features length."""
        et, st, dim = self._job(frame, depth, level)
        st = st.sort_by("row")
        cols = ("node", "cand", "branch", "label", "n", "h", "row")
        entries = _reduce_entries({c: et.column(c).to_numpy() for c in cols}, self.exemplar_pool_k)
        entries["row"] = np.searchsorted(st.column("row").to_numpy(), entries["row"])
        return entries, _matrix(st, dim), dim

    def _hold(self, frame: DataFrame, depth: int, level: dict) -> tuple[np.ndarray, ...]:
        """The hold job: the live rows of ``level``, as features, labels
        and the open node each reached."""
        _, st, dim = self._job(frame, depth, dict(level, hold=True))
        return _matrix(st, dim), *(st.column(c).to_numpy().astype(np.int64) for c in ("label", "node"))

    def fit(self, df: DataFrame, label_col: str = "label", features_col: str = "features") -> "GlobalProximityTree":
        """Fit on ``df``'s label and features columns. Every row must
        have a label and a features array of one length without nulls;
        otherwise the fit raises ``ValueError`` with the count. An empty
        ``df`` raises ``ValueError`` too.

        ``fit_stats_`` then reports the training rows, the Spark jobs
        the fit ran (in the caller's job group), the depth at which it
        went local (None: never), the rows it held on the driver, and
        ``_LOCAL_BYTES``."""
        sc = df.sparkSession.sparkContext
        before = _group_jobs(sc)
        self.fit_stats_ = {
            "rows": 0, "jobs": 0, "local_from_depth": None, "held_rows": 0, "local_bytes": _LOCAL_BYTES
        }
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
            self.fit_stats_["jobs"] = len(_group_jobs(sc) - before)
        return self

    def _grow(self, frame: DataFrame, rng: random.Random) -> None:
        leaves: dict[int, int | None] = {}  # leaf node → prediction
        splits: dict[int, tuple] = {}  # split node → (labels, exemplars, children)

        # bootstrap: a level with one empty root candidate (branch 0)
        entries, series, dim = self._level(frame, -1, _level_spec(FlatTree(1, {}, {}), {0: [([], [])]}, -1))
        labels = np.unique(entries["label"][entries["n"] > 0])
        # per-node label counts over `labels`: the root from the
        # bootstrap, every later node from its parent's winning branch
        # counts — so leaf decisions never need their own Spark job
        stats = {0: _count_tables(entries, np.array([0]), 1, labels)[0, 0, 0]}
        pool = {0: _branch_pools(entries, {0: 0}).get((0, 0), {})}
        self.majority_class = int(labels[np.argmax(stats[0])]) if len(labels) else None

        def leaf(nid: int) -> None:  # majority; ties to the smallest label
            leaves[nid] = int(labels[np.argmax(stats[nid])]) if stats[nid].sum() else self.majority_class

        # root leaf check (reference :248-253); later levels run these
        # at child creation from the winning branch counts
        open_nodes = [0] if stats[0].sum() >= self.min_samples_split and len(labels) > 1 else []
        if not open_nodes:
            leaf(0)

        depth, next_id = 0, 1
        held = None  # the live rows (features, labels, nodes) once the fit is local
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

            level = _level_spec(FlatTree(next_id, leaves, splits), candidates, dim)
            # the open nodes' label counts add up to the live rows exactly
            live_rows = sum(int(stats[nid].sum()) for nid in candidates)
            if held is None and live_rows * dim * 8 <= _LOCAL_BYTES:
                held = self._hold(frame, depth, level)
                self.fit_stats_.update(local_from_depth=depth, held_rows=len(held[1]))
            if held is None:
                entries, series, _ = self._level(frame, depth, level)
            else:
                X, y, cur = held
                cur = level["tree"].route(X, self.metric, self.dtw_window, start=cur)
                h = spark_xxhash64(self.seed + depth + 1, X)
                entries, live = level_partials(
                    X, y, h, np.arange(len(X)), cur, level, self.exemplar_pool_k, self.metric, self.dtw_window
                )
                series, held = X, (X[live], y[live], cur[live])

            # branch counts per (node, cand): the Gini input, and the
            # would-be children's label counts
            open_ids = level["open"]
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
            cand_pool = _branch_pools(entries, winners)

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
        the majority class via coalesce (reference :475); a row with a
        null value, or of another length than the fitted one, fails the
        job with a ``ValueError`` (the former with its batch's count)."""
        bc = df.sparkSession.sparkContext.broadcast(self.tree)
        metric, window = self.metric, self.dtw_window

        @F.pandas_udf(IntegerType())
        def traverse(features: pd.Series, null_value: pd.Series) -> pd.Series:
            stat_checked_zipimport()
            tree = bc.value
            ok = features.notna().to_numpy()
            out = np.full(len(features), np.nan)
            X = feature_matrix(features[ok], tree.width, null_value[ok])
            out[ok] = tree.prediction[tree.route(X, metric, window)]
            return pd.Series(out).astype("Int32")

        feats = F.col(features_col).cast("array<double>")
        return _spread(df).withColumn(
            "prediction",
            F.coalesce(
                traverse(feats, F.exists(feats, lambda x: x.isNull())), F.lit(self.majority_class)
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
