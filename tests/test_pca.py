"""Distributed PCA (ml/pca.py): exact Gram pass, Jacobi vs LAPACK,
and determinism."""

from __future__ import annotations

import numpy as np
import pytest


def _toy_df(spark, n=200, d=8, seed=7):
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(n, d))
    base[:, 0] += 3 * base[:, 1]  # give the spectrum a dominant direction
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), base


def test_gram_pass_exact(spark):
    from bigdata_spark.ml.pca import gram_pass

    df, base = _toy_df(spark)
    n, s, G = gram_pass(df, dim=8, scale=1000)
    X = np.rint(np.stack(df.toPandas()["embedding"].to_numpy()).astype(np.float64) * 1000).astype(np.int64)
    assert n == 200
    assert s == [int(v) for v in X.sum(axis=0)]
    ref = X.T @ X
    for j in range(8):
        for k in range(8):
            assert G[j][k] == int(ref[j, k])


def test_jacobi_matches_lapack(spark):
    from bigdata_spark.ml.pca import covariance_from_gram, gram_pass, jacobi_eigh

    df, _ = _toy_df(spark)
    n, s, G = gram_pass(df, dim=8, scale=1000)
    C = covariance_from_gram(n, s, G)
    ev, V = jacobi_eigh(C)
    ref = np.linalg.eigvalsh(np.array(C))
    tol = 1e-9 * float(np.max(np.abs(ref)))  # relative: eigvals are ~1e7 in 1e-3 units
    assert np.max(np.abs(np.sort(ev) - np.sort(ref))) < tol
    # eigenvectors diagonalize: V^T C V ≈ diag(ev)
    D = V.T @ np.array(C) @ V
    assert np.max(np.abs(D - np.diag(ev))) < 10 * tol


def test_pca_components_deterministic(spark):
    from bigdata_spark.ml.pca import pca_components

    df, _ = _toy_df(spark)
    a = pca_components(df, dim=8, top_k=3)
    b = pca_components(df, dim=8, top_k=3)
    assert a == b
    assert a[0]["component"] == 1
    # the planted dominant direction explains the most variance
    assert a[0]["var_ratio"] > a[1]["var_ratio"] >= a[2]["var_ratio"]
    assert a[0]["top_dim"] in (1, 2)  # dims 0/1 carry the planted factor
    assert abs(sum(r["var_ratio"] for r in a) - 1.0) < 1.0  # ratios are fractions


def test_jacobi_degenerate_diagonal():
    from bigdata_spark.ml.pca import jacobi_eigh

    # already-diagonal input: zero off-mass must not crash the norm clamp
    C = np.diag([3.0, 1.0, 2.0])
    ev, V = jacobi_eigh(C)
    assert list(ev) == [1.0, 2.0, 3.0]
    assert np.allclose(V @ V.T, np.eye(3))
