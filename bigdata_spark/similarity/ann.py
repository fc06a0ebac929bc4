"""Similarity helpers over embedding columns (array<float/double>).

- ``_hyperplane``: the engine-independent random-hyperplane recipe
  that the LSH near-duplicate plans in ``plans/dedupq.py`` inline in
  both Spark and DuckDB.
- ``coarse_assign``: an IVF coarse quantizer (bounded driver-side
  k-means++/Lloyd, then one native nearest-centroid pass over the
  corpus); SemDeDup (``dedup/semantic.py``) clusters with it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _as_double_array(col_name: str) -> F.Column:
    return F.col(col_name).cast("array<double>")


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from the portable
    hash recipe (engine-independent, no RNG state)."""
    import hashlib

    vals = []
    for i in range(dim):
        h = hashlib.md5(f"{seed}|{i}".encode()).hexdigest()
        # map first 8 hex chars to [-1, 1)
        vals.append(int(h[:8], 16) / float(1 << 31) - 1.0)
    return vals


def _lloyd_numpy(X, k: int, seed: int, max_iter: int):
    """Seeded k-means++ init + Lloyd iterations in numpy on the driver.

    The IVF coarse quantizer trains on a BOUNDED sample (a few thousand
    vectors, ~1 MB) no matter how big the corpus is, so driver-side
    training is scale-safe — and it replaces ~30 MLlib scheduler
    round-trips with one deterministic loop.

    Memory discipline: no (n, k, d) tensors. The k-means++ init keeps a
    running min-distance array updated only against the newest center
    (O(k·n·d) total), and Lloyd assignment uses the ‖x‖²+‖c‖²−2x·c
    expansion so the largest temporary is the (n, k) distance matrix."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = X.shape[0]
    centers = [X[rng.randint(n)]]
    d2 = ((X - centers[0]) ** 2).sum(1)
    for _ in range(1, k):
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        c = X[rng.choice(n, p=probs)]
        centers.append(c)
        d2 = np.minimum(d2, ((X - c) ** 2).sum(1))
    C = np.asarray(centers)
    x2 = (X**2).sum(1)[:, None]
    for _ in range(max_iter):
        dist = x2 + (C**2).sum(1)[None, :] - 2.0 * (X @ C.T)
        assign = dist.argmin(1)
        newC = np.stack(
            [X[assign == j].mean(0) if (assign == j).any() else C[j] for j in range(k)]
        )
        if np.allclose(newC, C):
            break
        C = newC
    return C


def train_coarse_centroids(
    c: DataFrame,
    n_lists: int,
    seed: int,
    max_iter: int,
) -> list[list[float]]:
    """Seeded coarse-quantizer centroids from a BOUNDED sample of the
    ``c_vec`` column (standard IVF practice: ~64 vectors per list is
    enough for a coarse quantizer, so driver memory stays constant at
    any corpus size). Driver-side k-means++/Lloyd for the common case
    (one Spark job); MLlib KMeans above the 64k sample cap."""
    n_lists = int(n_lists)
    train_cap = max(n_lists * 64, 2048)
    if train_cap <= 65536:
        import numpy as np

        X = np.asarray(
            [r["c_vec"] for r in c.select("c_vec").limit(train_cap).collect()],
            dtype="float64",
        )
        return [[float(x) for x in cc] for cc in _lloyd_numpy(X, n_lists, seed, max_iter)]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = c.select(array_to_vector(F.col("c_vec")).alias("features"))
    sample = train.limit(train_cap).coalesce(4)
    km = KMeans(k=n_lists, seed=seed, maxIter=max_iter).fit(sample)
    return [[float(x) for x in cc] for cc in km.clusterCenters()]


def coarse_assign(
    corpus: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> tuple[DataFrame, list[list[float]]]:
    """(assignments, centroids): every corpus vector labeled with its
    nearest-centroid ``list_id`` — the inverted lists. The centroid
    table travels as a broadcast-joined 1-row DF (constant-size plan);
    the assignment is the only full-corpus pass."""
    from ..functions.distances import nearest_exemplar_index
    from ..operators.parallelism import ensure_parallelism

    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double_array(vec_col).alias("c_vec")
    )
    centroids = train_coarse_centroids(c, n_lists, seed, max_iter)
    cents = spark.createDataFrame([(centroids,)], "cents array<array<double>>")
    # the assignment is a NARROW map of n_lists interpreted distance
    # folds per row — inherited from however few partitions the parquet
    # scan produced (2 at sf1 → 2 of 32 cores busy, 27 s; spread → 3 s).
    # CPU-heavy narrow maps must be repartitioned by hand; neither the
    # scan splitter nor AQE sees compute cost, only bytes.
    lists = (
        ensure_parallelism(c)
        .crossJoin(F.broadcast(cents))
        .withColumn("list_id", nearest_exemplar_index(F.col("c_vec"), F.col("cents")))
    )
    return lists, centroids
