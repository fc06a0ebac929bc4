"""Distributed PCA: one exact integer Gram pass + a deterministic
driver-side Jacobi eigensolve.

Scale shape (the whole point): the data-proportional work is a single
Arrow-batched ``mapInPandas`` pass that reduces each batch to the
d(d+1)/2 + d + 1 sufficient statistics of the covariance (int64
``einsum`` — exact, since features are quantized to integer 1e-3
units), followed by one tiny shuffle of (pos, partial) cells. The
driver then solves a d×d problem (d=64 → a 64×64 eigensolve) — O(d³)
driver work INDEPENDENT of corpus size, the same sufficient-statistic
pattern as an exact ridge fit and the classic 100 TB PCA recipe. No
LAPACK: the eigensolve is a cyclic Jacobi sweep in plain IEEE doubles
(elementwise numpy ops only, no BLAS reductions), so given the exact
integer Gram its output is bit-reproducible across runs and platforms,
and its values can be pinned as a per-SF golden oracle.

Reference parity: the reference has no PCA, but its ML surface
(SURVEY.md §2 U/A rows) motivates the embedding-analytics extension
set; PCA is the standard companion to the linear probe.

Quantization note: with scale=1e3 and |x|≲3, per-cell products are
~1e7; int64 holds exact sums to ~1e18, i.e. ~1e11 rows. Beyond that,
shrink ``scale`` or widen to Python-int accumulation driver-side.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_pass(df: DataFrame, dim: int, scale: int = 1000) -> tuple[int, list, list]:
    """One distributed pass over ``df.embedding`` (array<float>, length
    ``dim``) → exact integer sufficient statistics:
    (n, s[j] = Σ x_j, G[j][k] = Σ x_j·x_k for j ≤ k), with
    x = round(embedding · scale) as int64.

    Implementation: mapInPandas emits (pos, val) partial cells per
    Arrow batch — pos 0 is n, 1..d are s, d+1.. are the upper-triangle
    Gram cells in row-major order — then one groupBy(pos).sum shuffles
    only ~d²/2 cells per batch regardless of row count.
    """
    import numpy as np
    import pandas as pd

    d = dim
    n_cells = 1 + d + d * (d + 1) // 2

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        iu = np.triu_indices(d)
        for pdf in it:
            if not len(pdf):
                continue
            X = np.rint(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * scale
            ).astype(np.int64)
            g = X.T @ X  # int64 exact
            vals = np.concatenate(
                ([np.int64(len(pdf))], X.sum(axis=0, dtype=np.int64), g[iu])
            )
            yield pd.DataFrame(
                {"pos": np.arange(n_cells, dtype=np.int64), "val": vals}
            )

    cells = (
        df.select("embedding")
        .mapInPandas(batches, "pos long, val long")
        .groupBy("pos")
        .agg(F.sum("val").alias("val"))
        .collect()
    )
    flat = [0] * n_cells
    for r in cells:
        flat[r["pos"]] = int(r["val"])
    n = flat[0]
    s = flat[1 : d + 1]
    G = [[0] * d for _ in range(d)]
    i = d + 1
    for j in range(d):
        for k in range(j, d):
            G[j][k] = G[k][j] = flat[i]
            i += 1
    return n, s, G


def covariance_from_gram(n: int, s: list, G: list) -> "object":
    """Sample covariance (n−1 denominator) as float64 from the exact
    integer statistics: C = (n·G − s·sᵀ) / (n·(n−1)). Each cell is one
    exact-integer subtraction followed by one IEEE division —
    deterministic everywhere."""
    import numpy as np

    d = len(s)
    C = np.empty((d, d), dtype=np.float64)
    denom = float(n * (n - 1))
    for j in range(d):
        for k in range(d):
            C[j, k] = float(n * G[j][k] - s[j] * s[k]) / denom
    return C


def jacobi_eigh(C, max_sweeps: int = 60, tol: float = 1e-13):
    """Cyclic Jacobi eigensolve for a symmetric matrix, elementwise
    numpy only (no BLAS): deterministic, bit-reproducible. Returns
    (eigvals asc-ordered ndarray, eigvecs columns ndarray)."""
    import numpy as np

    a = np.array(C, dtype=np.float64, copy=True)
    d = a.shape[0]
    V = np.eye(d)
    norm = math.sqrt(float(np.sum(np.abs(np.diag(a)) ** 2))) or 1.0
    for _ in range(max_sweeps):
        # cancellation can drive the difference a hair below zero once
        # the off-diagonal mass is ~eps — clamp before the sqrt
        off = math.sqrt(max(0.0, float(np.sum(a**2) - np.sum(np.diag(a) ** 2))))
        if off <= tol * norm:
            break
        thresh = off / (d * d)
        for p in range(d - 1):
            for q in range(p + 1, d):
                apq = a[p, q]
                if abs(apq) <= thresh:
                    continue
                theta = (a[q, q] - a[p, p]) / (2.0 * apq)
                t = math.copysign(1.0, theta) / (
                    abs(theta) + math.sqrt(theta * theta + 1.0)
                )
                c = 1.0 / math.sqrt(t * t + 1.0)
                s_ = t * c
                rp, rq = a[p, :].copy(), a[q, :].copy()
                a[p, :] = c * rp - s_ * rq
                a[q, :] = s_ * rp + c * rq
                cp, cq = a[:, p].copy(), a[:, q].copy()
                a[:, p] = c * cp - s_ * cq
                a[:, q] = s_ * cp + c * cq
                vp, vq = V[:, p].copy(), V[:, q].copy()
                V[:, p] = c * vp - s_ * vq
                V[:, q] = s_ * vp + c * vq
    evals = np.diag(a).copy()
    order = np.argsort(evals, kind="stable")
    return evals[order], V[:, order]


def pca_components(
    df: DataFrame, dim: int, top_k: int = 5, scale: int = 1000
) -> list[dict]:
    """Top-k principal components of the embedding column. Returns
    [{component, eigenvalue, var_ratio, top_dim, top_loading_abs}],
    eigenvalues in squared quantized (1e-3) units, components ordered
    by descending eigenvalue (dim-index tiebreak)."""
    n, s, G = gram_pass(df, dim, scale)
    C = covariance_from_gram(n, s, G)
    evals, evecs = jacobi_eigh(C)
    trace = float(sum(C[j][j] for j in range(dim)))
    idx = sorted(range(dim), key=lambda i: (-evals[i], i))[:top_k]
    out = []
    for rank, i in enumerate(idx, start=1):
        loadings = evecs[:, i]
        top_dim = max(range(dim), key=lambda j: (abs(loadings[j]), -j))
        out.append(
            {
                "component": rank,
                "eigenvalue": round(float(evals[i]), 6),
                "var_ratio": round(float(evals[i]) / trace, 9),
                "top_dim": top_dim + 1,
                "top_loading_abs": round(abs(float(loadings[top_dim])), 6),
            }
        )
    return out
