"""Property-based check of the native Catalyst distance kernels against
numpy ground truth (hypothesis-generated vectors).

The reference computes these distances in Python per row
(global_model_manager.py:60-85, distance_measures.py:16-88); our
engine's zip_with/aggregate expressions must agree with numpy to float
tolerance on arbitrary inputs, including negatives, zeros, and
magnitude extremes."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from bigdata_spark.functions.distances import (
    cosine_similarity,
    euclidean_distance,
    manhattan_distance,
    nearest_exemplar_index,
)
from bigdata_spark.ml.global_tree import nearest_exemplar

finite = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=32
)
same_len_pair = st.integers(min_value=1, max_value=16).flatmap(
    lambda n: st.tuples(
        st.lists(finite, min_size=n, max_size=n),
        st.lists(finite, min_size=n, max_size=n),
    )
)


@settings(max_examples=12, deadline=None)
@given(same_len_pair)
def test_kernels_match_numpy(spark, pair):
    a, b = pair
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        euclidean_distance("a", "b").alias("euc"),
        manhattan_distance("a", "b").alias("man"),
        cosine_similarity("a", "b").alias("cos"),
    ).first()
    na, nb = np.asarray(a), np.asarray(b)
    assert math.isclose(row["euc"], float(np.sqrt(((na - nb) ** 2).sum())), rel_tol=1e-9, abs_tol=1e-9)
    assert math.isclose(row["man"], float(np.abs(na - nb).sum()), rel_tol=1e-9, abs_tol=1e-9)
    den = float(np.linalg.norm(na) * np.linalg.norm(nb))
    want_cos = float(na @ nb) / den if den != 0.0 else 0.0
    assert math.isclose(row["cos"], want_cos, rel_tol=1e-9, abs_tol=1e-9)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.lists(finite, min_size=4, max_size=4), min_size=2, max_size=5),
    st.lists(finite, min_size=4, max_size=4),
)
def test_nearest_exemplar_matches_argmin(spark, exemplars, ts):
    df = spark.createDataFrame(
        [(ts, exemplars)], "ts array<double>, ex array<array<double>>"
    )
    got = df.select(nearest_exemplar_index("ts", "ex").alias("ix")).first()["ix"]
    t = np.asarray(ts)
    dists = [float(np.sqrt(((np.asarray(e) - t) ** 2).sum())) for e in exemplars]
    # ties break to the first minimum — same as numpy argmin
    assert got == int(np.argmin(dists))


# few distinct values make exact distance ties common; NaN elements
# exercise Spark's "NaN ranks above every number" argmin rule
tie_prone = st.sampled_from([0.0, 1.0, -1.0, 2.0, 0.5, float("nan")])


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=4).flatmap(
        lambda d: st.tuples(
            st.lists(st.lists(tie_prone, min_size=d, max_size=d), min_size=1, max_size=3),
            st.lists(st.integers(min_value=0, max_value=2), min_size=1, max_size=5),
            st.lists(st.lists(tie_prone, min_size=d, max_size=d), min_size=1, max_size=6),
        )
    )
)
def test_level_kernel_nearest_matches_spark(spark, case):
    """The global tree's numpy kernel picks the same exemplar as the
    Spark expression on every row, duplicate exemplars and NaN padding
    included."""
    distinct, picks, rows = case
    exemplars = [distinct[i % len(distinct)] for i in picks]  # duplicates
    df = spark.createDataFrame(
        [(i, r, exemplars) for i, r in enumerate(rows)],
        "id int, ts array<double>, ex array<array<double>>",
    )
    got = [ix for _, ix in sorted(df.select("id", nearest_exemplar_index("ts", "ex")).collect())]
    # one block padded with two NaN rows beyond its valid count
    block = np.vstack([np.asarray(exemplars, dtype=np.float64), np.full((2, len(rows[0])), np.nan)])
    want = nearest_exemplar(
        np.asarray(rows, dtype=np.float64),
        block[None],
        np.array([len(exemplars)]),
        np.zeros((len(rows), 1), dtype=np.int64),
    )[:, 0]
    assert got == want.tolist()


@pytest.mark.parametrize(
    "a,b",
    [
        ([0.0, 0.0], [0.0, 0.0]),  # zero norm → cosine defined as 0
        ([1.0], [1.0]),
        ([1e-300, 1e-300], [1e-300, 1e-300]),  # denormal-range norms
    ],
)
def test_kernel_edge_cases(spark, a, b):
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    row = df.select(
        euclidean_distance("a", "b").alias("euc"),
        cosine_similarity("a", "b").alias("cos"),
    ).first()
    assert row["euc"] == 0.0
    assert math.isfinite(row["cos"])
