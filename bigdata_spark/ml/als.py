"""Alternating least squares matrix factorization, Spark-grouped,
fully distributed, and bit-deterministic.

The classic recommender factorization R ≈ P·Qᵀ at the 100 TB shape:
each half-step solves ONE k×k normal-equation system PER ENTITY (user
or item), with the opposite side's factor table JOINED onto the
ratings (AQE broadcasts it while it fits; at extreme entity counts it
degrades gracefully to a shuffle join — no driver round-trip either
way) — so the distributed work is an ``applyInPandas`` over the
joined ratings grouped by that entity, each group reduced to a k×k
system (k=4 here). The factor tables that move between steps are
(n_entities × k) DataFrames — they NEVER visit the driver: no
``collect`` anywhere in this module, so the interaction matrix and
the entity tables can both be cluster-resident at any scale.

Determinism (what lets the output be pinned as a per-SF value
oracle): item factors initialize from a closed-form integer formula
evaluated natively per row, each group's normal equations accumulate
in sorted-key order with fixed-order numpy loops, the k×k solve is
pure-Python Gaussian elimination with partial pivoting — no BLAS
anywhere — and the training-RMSE squared error is quantized per row
to integer micro-units (floor(x·1e6+0.5) BIGINT) so the distributed
sum is order-free exact.

Reference parity: the reference has no recommender, but its
broadcast-model-apply surface (SURVEY.md §2 U4/J4) is the same
pattern ALS alternates; this extends it to iterative factorization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_K = 4  # factor rank
_BUCKETS = 64  # applyInPandas group-count bound (see _solve_side)
_LAMBDA = 0.1  # ridge regularizer

_FCOLS = [f"f{i}" for i in range(_K)]


def init_item_factors(ratings: DataFrame, item_col: str) -> DataFrame:
    """Deterministic closed-form init — (((item·31 + f·17) mod 7) − 3)
    / 10 + 0.5 — evaluated NATIVELY over the distinct item ids, so the
    init never touches the driver. Integer arithmetic is exact in both
    engines and the final /10.0 + 0.5 is one correctly-rounded IEEE op
    each, so the values are bit-identical to the Python formula this
    replaced."""
    items = ratings.select(item_col).distinct()
    return items.select(
        item_col,
        *[
            (((F.col(item_col) * 31 + F.lit(f * 17)) % 7 - 3) / F.lit(10.0) + F.lit(0.5)).alias(
                _FCOLS[f]
            )
            for f in range(_K)
        ],
    )


def _solve(A: list[list[float]], b: list[float]) -> list[float]:
    """Pure-Python Gaussian elimination with partial pivoting on a k×k
    system — deterministic IEEE, no BLAS."""
    k = len(b)
    M = [row[:] + [b[i]] for i, row in enumerate(A)]
    for c in range(k):
        piv = max(range(c, k), key=lambda r: abs(M[r][c]))
        M[c], M[piv] = M[piv], M[c]
        for r in range(c + 1, k):
            f = M[r][c] / M[c][c]
            for j in range(c, k + 1):
                M[r][j] -= f * M[c][j]
    x = [0.0] * k
    for r in range(k - 1, -1, -1):
        s = M[r][k] - sum(M[r][j] * x[j] for j in range(r + 1, k))
        x[r] = s / M[r][r]
    return x


def _solve_side(
    ratings: DataFrame,
    group_col: str,
    other_col: str,
    other_factors: DataFrame,
) -> DataFrame:
    """One ALS half-step: for each ``group_col`` entity, solve
    (Σ q qᵀ + λ·n·I) p = Σ r·q over its ratings, with the opposite
    side's factors joined in (broadcast by AQE while small). Returns
    the new factor table as a DataFrame (group_col, f0..f{k-1}) —
    cluster-resident, never collected."""
    import pandas as pd

    joined = ratings.select(group_col, other_col, "rating").join(
        other_factors, other_col
    )

    # Grouping discipline, learned the hard way:
    # - NOT mapInPandas + per-batch groupby: a partition larger than
    #   one Arrow batch splits a group across calls and silently
    #   solves it on partial data.
    # - NOT applyInPandas keyed on the raw entity either: each
    #   applyInPandas group costs a fixed ~10 ms Arrow round-trip, so
    #   1e3+ entities pay seconds of pure overhead (and 1e9 entities
    #   at 100 TB would be absurd).
    # Instead key on a BUCKET of the entity (id % _BUCKETS): every row
    # of an entity still lands in exactly one call (the bucket is a
    # function of the id), and each call solves its bucket's entities
    # via an in-pandas groupby — bounded task count, whole groups.
    def solve_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # One bucket-wide sort + numpy boundary slicing instead of a
        # pandas groupby/sort_values/frame-allocation per entity: the
        # per-group row order (other_col ascending, unique within a
        # group) and the per-group einsum/solve arithmetic are
        # UNCHANGED, so every factor stays bit-identical — only the
        # per-group pandas bookkeeping (~0.5 ms × n_entities per
        # half-step) is gone.
        pdf = pdf.sort_values([group_col, other_col])
        gids = pdf[group_col].to_numpy()
        Qall = pdf[_FCOLS].to_numpy(dtype=np.float64)
        rall = pdf["rating"].to_numpy(dtype=np.float64)
        uniq, starts = np.unique(gids, return_index=True)
        bounds = list(starts) + [len(gids)]
        out = []
        for gi, gid in enumerate(uniq):
            s, e = bounds[gi], bounds[gi + 1]
            Q = Qall[s:e]
            r = rall[s:e]
            # einsum with optimize=False runs numpy's sequential C
            # loop — fixed summation order, no BLAS: bit-deterministic
            A = np.einsum("gi,gj->ij", Q, Q, optimize=False)
            b = np.einsum("g,gi->i", r, Q, optimize=False)
            n = e - s
            Al = A.tolist()
            for i in range(_K):
                Al[i][i] += _LAMBDA * n
            p = _solve(Al, b.tolist())
            out.append((int(gid), *p))
        return pd.DataFrame(out, columns=[group_col] + _FCOLS)

    fcols = ", ".join(f"{c} double" for c in _FCOLS)
    return (
        joined.withColumn("_bucket", F.col(group_col) % _BUCKETS)
        .groupBy("_bucket")
        .applyInPandas(solve_bucket, f"{group_col} long, {fcols}")
    )


def als_train(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    n_iter: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Run ``n_iter`` full ALS alternations (solve users, then items)
    from the deterministic native item init. ``ratings`` needs columns
    (user_col, item_col, rating). Returns the factor tables as
    DataFrames ``(p, q)`` with schema (entity, f0..f{k-1}) — each is
    ``localCheckpoint``-materialized (factor tables are n_entities×k,
    tiny relative to the ratings) so the iterative lineage never
    re-executes and nothing outlives the call un-released."""
    q = init_item_factors(ratings, item_col)
    p: DataFrame | None = None
    for _ in range(n_iter):
        # localCheckpoint truncates the lineage after each half-step:
        # without it, step t re-runs every prior Arrow stage
        # (exponential re-execution), and the final factor tables would
        # drag four nested Python stages into every downstream join.
        # Lazy: each half-step RDD still computes exactly once (the
        # checkpoint persists it), but all half-steps pipeline into the
        # caller's first action instead of paying one eager
        # scheduler round-trip per half-step. The physical plan (and
        # any caller conf such as shuffle partitions) is baked in here
        # at RDD-creation time, not at the deferred action.
        p = _solve_side(ratings, user_col, item_col, q).localCheckpoint(eager=False)
        q = _solve_side(ratings, item_col, user_col, p).localCheckpoint(eager=False)
    return p, q


def als_squared_error(
    ratings: DataFrame, p: DataFrame, q: DataFrame, user_col: str, item_col: str
) -> DataFrame:
    """Distributed training squared error: join the factor tables back
    onto the ratings (AQE broadcasts while small), form the residual
    with a fixed-order dot product, and quantize each row's squared
    error to integer micro-units so the sum is order-free exact — the
    same floor(x·1e6+0.5) BIGINT trick ml_logreg_gd uses. Returns a
    one-row DataFrame (se_micro BIGINT, n BIGINT); RMSE =
    sqrt((se_micro/1e6)/n). No driver round-trip: at 100 TB the
    ratings never leave the cluster."""
    pj = p.select(user_col, *[F.col(c).alias(f"p{c}") for c in _FCOLS])
    qj = q.select(item_col, *[F.col(c).alias(f"q{c}") for c in _FCOLS])
    # left-assoc sum matches Python's sum() accumulation order
    pred = (
        F.col("pf0") * F.col("qf0")
        + F.col("pf1") * F.col("qf1")
        + F.col("pf2") * F.col("qf2")
        + F.col("pf3") * F.col("qf3")
    )
    err = F.col("rating") - pred
    return (
        ratings.select(user_col, item_col, "rating")
        .join(pj, user_col)
        .join(qj, item_col)
        .select(F.floor(err * err * 1e6 + F.lit(0.5)).cast("long").alias("se_q"))
        .agg(F.sum("se_q").alias("se_micro"), F.count(F.lit(1)).alias("n"))
    )


def als_rmse(
    ratings: DataFrame, p: DataFrame, q: DataFrame, user_col: str, item_col: str
) -> float:
    """Scalar convenience wrapper over ``als_squared_error`` — the only
    collect is the one-row aggregate."""
    row = als_squared_error(ratings, p, q, user_col, item_col).first()
    return ((row["se_micro"] / 1e6) / row["n"]) ** 0.5
