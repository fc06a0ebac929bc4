"""Dynamic Time Warping kernels (SURVEY §2.8 U7/U8).

The reference wraps ``dtaidistance``/``fastdtw`` (distance_measures.py:
16-52); neither ships in this container, so the kernels are implemented
directly in numpy — exact O(n·m) DP, a Sakoe-Chiba banded variant (the
standard "fast enough" path), and the Euclidean upper bound that
``dtw.distance(..., only_ub=True)`` returns.

Spark surface: Arrow-batched pandas UDFs (the 10-100× path vs.
row-at-a-time Python); DTW is inherently iterative so it cannot be a
native Catalyst expression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def dtw_distance(a: np.ndarray, b: np.ndarray, window: int | None = None) -> float:
    """Exact DTW distance (euclidean point cost, full DP), optional
    Sakoe-Chiba band of half-width ``window``."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    n, m = len(a), len(b)
    if n == 0 or m == 0:
        return float("inf")
    w = max(window, abs(n - m)) if window is not None else max(n, m)
    prev = np.full(m + 1, np.inf)
    prev[0] = 0.0
    for i in range(1, n + 1):
        cur = np.full(m + 1, np.inf)
        lo, hi = max(1, i - w), min(m, i + w)
        for j in range(lo, hi + 1):
            cost = (a[i - 1] - b[j - 1]) ** 2
            cur[j] = cost + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return float(np.sqrt(prev[m]))


def dtw_upper_bound(a: np.ndarray, b: np.ndarray) -> float:
    """Euclidean upper bound on DTW (reference's ``only_ub=True`` path,
    distance_measures.py:35-52): valid when len(a) == len(b)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    d = a - b
    return float(np.sqrt(np.dot(d, d)))


def _dtw_path(a: np.ndarray, b: np.ndarray, cells: set | None):
    """DP with backpointers over either the full matrix (cells=None) or
    a sparse cell set; returns (cumulative squared cost, warp path)."""
    n, m = len(a), len(b)
    if cells is None:
        cells = {(i, j) for i in range(n) for j in range(m)}
    D: dict[tuple[int, int], float] = {}
    back: dict[tuple[int, int], tuple[int, int] | None] = {}
    for i, j in sorted(cells):
        cost = (a[i] - b[j]) ** 2
        best, prev = np.inf, None
        for pi, pj in ((i - 1, j), (i, j - 1), (i - 1, j - 1)):
            if (pi, pj) in D and D[(pi, pj)] < best:
                best, prev = D[(pi, pj)], (pi, pj)
        if i == 0 and j == 0:
            best, prev = 0.0, None
        if best == np.inf:
            continue  # unreachable cell
        D[(i, j)] = cost + best
        back[(i, j)] = prev
    path, cur = [], (n - 1, m - 1)
    while cur is not None:
        path.append(cur)
        cur = back[cur]
    path.reverse()
    return D[(n - 1, m - 1)], path


def _half(x: np.ndarray) -> np.ndarray:
    k = len(x) // 2 * 2
    return (x[:k:2] + x[1:k:2]) / 2.0


def _expand_window(path, n: int, m: int, radius: int) -> set:
    """Project a coarse warp path to the finer resolution and dilate by
    ``radius`` (the FastDTW neighborhood). A diagonal staircase from the
    last projected cell to the corner (and from (0,0) to the first)
    keeps the window connected even for odd lengths / degenerate
    projections, so the DP never hits an unreachable terminal."""
    cells = set()
    for i, j in path:
        for di in range(-radius, radius + 2):
            for dj in range(-radius, radius + 2):
                fi, fj = 2 * i + di, 2 * j + dj
                if 0 <= fi < n and 0 <= fj < m:
                    cells.add((fi, fj))

    def staircase(a, b):
        (i0, j0), (i1, j1) = a, b
        i, j = i0, j0
        while (i, j) != (i1, j1):
            cells.add((i, j))
            if i < i1:
                i += 1
            if j < j1:
                j += 1
        cells.add((i1, j1))

    if path:
        staircase((0, 0), (min(2 * path[0][0], n - 1), min(2 * path[0][1], m - 1)))
        staircase((min(2 * path[-1][0], n - 1), min(2 * path[-1][1], m - 1)), (n - 1, m - 1))
    else:
        staircase((0, 0), (n - 1, m - 1))
    return cells


def fast_dtw(a: np.ndarray, b: np.ndarray, radius: int = 1) -> float:
    """Approximate DTW by recursive coarsening (Salvador & Chan,
    "FastDTW: Toward Accurate DTW in Linear Time" — the reference's
    fastdtw import, distance_measures.py:12). O(n·radius) cells per
    level instead of O(n²). The restricted path can only be ≥ the
    optimal one, so fast_dtw(a, b) >= dtw_distance(a, b)."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if len(a) == 0 or len(b) == 0:
        return float("inf")
    sq, _ = _fast_dtw_rec(a, b, radius)
    return float(np.sqrt(sq))


def _fast_dtw_rec(a: np.ndarray, b: np.ndarray, radius: int):
    min_size = radius + 2
    if len(a) <= min_size or len(b) <= min_size:
        return _dtw_path(a, b, None)
    _, coarse_path = _fast_dtw_rec(_half(a), _half(b), radius)
    window = _expand_window(coarse_path, len(a), len(b), radius)
    try:
        return _dtw_path(a, b, window)
    except KeyError:
        # Disconnected window (should not happen with the staircase, but
        # never fall back to the O(n·m) dict DP): banded numpy DTW gives
        # a valid ≥-exact cost, and a diagonal skeleton keeps the parent
        # level's window sane.
        n, m = len(a), len(b)
        d = dtw_distance(a, b, window=radius + abs(n - m) + 2)
        diag = [(min(i, n - 1), min(i, m - 1)) for i in range(max(n, m))]
        return d * d, diag


def fast_dtw_pairwise_udf(radius: int = 1):
    """pandas UDF over two array columns → approximate (FastDTW)
    distance per row."""

    @F.pandas_udf(DoubleType())
    def _fdtw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [fast_dtw(np.asarray(x), np.asarray(y), radius=radius) for x, y in zip(a, b)]
        )

    return _fdtw


def dtw_distance_udf(exemplar: list[float], window: int | None = None):
    """Column function: DTW distance of an array column to a fixed
    exemplar, as an Arrow-batched pandas UDF."""
    ex = np.asarray(exemplar, dtype=np.float64)

    @F.pandas_udf(DoubleType())
    def _dtw(series: pd.Series) -> pd.Series:
        return series.apply(lambda ts: dtw_distance(np.asarray(ts), ex, window=window))

    return _dtw


def dtw_pairwise_udf(window: int | None = None):
    """pandas UDF over two array columns → DTW distance per row."""

    @F.pandas_udf(DoubleType())
    def _dtw(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [dtw_distance(np.asarray(x), np.asarray(y), window=window) for x, y in zip(a, b)]
        )

    return _dtw
