"""Distance kernels as native Catalyst array expressions (SURVEY §2.8
U6/U9/U10 re-expressed Spark-first).

The reference computes euclidean/manhattan/cosine in Python per row
(reference code/src/global_model_manager.py:60-85,
code/src/distance_measures.py:16-88). Here they are
``zip_with``/``aggregate`` column expressions: JVM-side, no Python
worker round-trip. They are NOT compiled by whole-stage codegen: in
Spark 4.1.2 ``ArrayTransform``, ``ArrayAggregate`` and ``ZipWith`` are
``CodegenFallback`` expressions, evaluated by the interpreter row by
row. DTW (inherently iterative) lives in ml/dtw.py as a pandas UDF.

All functions take Column-or-name and return a Column, composing with
any DataFrame expression.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Σ aᵢ·bᵢ — fold over the element-wise product, left to right."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x * x))


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    """√Σ(aᵢ−bᵢ)² (reference global_model_manager.py:60-85, natively)."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def manhattan_distance(a: Column | str, b: Column | str) -> Column:
    """Σ|aᵢ−bᵢ| (reference distance_measures.py:54-70, natively)."""
    return F.aggregate(
        F.zip_with(_c(a), _c(b), lambda x, y: F.abs(x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """a·b / (‖a‖‖b‖); 0.0 when either norm is zero."""
    num = dot_product(a, b)
    den = l2_norm(a) * l2_norm(b)
    return F.when(den != 0.0, num / den).otherwise(F.lit(0.0))


def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """1 − cosine_similarity (reference distance_measures.py:72-88)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def nearest_exemplar_index(ts: Column | str, exemplars: Column | str) -> Column:
    """Argmin over an array of exemplar arrays by euclidean distance —
    the reference's nearest-exemplar branch rule (U1,
    global_model_manager.py:274-280) as one native expression.

    Returns the 0-based index of the closest exemplar. Ties break to the
    first (lowest index), matching numpy argmin.
    """
    dists = F.transform(_c(exemplars), lambda e: euclidean_distance(_c(ts), e))
    return (F.array_position(dists, F.array_min(dists)) - F.lit(1)).cast("int")
