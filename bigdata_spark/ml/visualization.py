"""Plot sink (SURVEY §2.1 S8; reference code/src/visualization.py:6-81 —
confusion-matrix heatmap + per-class metric bars).

The data preparation (dense confusion grid, per-class metric table) is
real Spark→driver code and unit-tested. Rendering uses matplotlib when
installed; otherwise it falls back to the in-repo pure-stdlib raster
backend (ml/png.py), which writes a PNG whatever the path's extension,
so the sink produces an actual image in every deployment."""

from __future__ import annotations

from pyspark.sql import DataFrame

try:  # pragma: no cover - environment-dependent
    import matplotlib

    matplotlib.use("Agg")
    import matplotlib.pyplot as plt

    HAVE_MPL = True
except ImportError:  # pragma: no cover
    HAVE_MPL = False


def confusion_grid(
    preds: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> tuple[list[int], list[list[int]]]:
    """Dense (classes, matrix) from the scalable counts table — the
    collect is bounded by classes², never by rows."""
    from .evaluation import confusion_matrix

    rows = confusion_matrix(preds, label_col, pred_col).collect()
    classes = sorted({r["label"] for r in rows} | {r["prediction"] for r in rows})
    ix = {c: i for i, c in enumerate(classes)}
    grid = [[0] * len(classes) for _ in classes]
    for r in rows:
        grid[ix[r["label"]]][ix[r["prediction"]]] = r["n"]
    return classes, grid


def plot_confusion_heatmap(
    preds: DataFrame,
    out_path: str,
    label_col: str = "label",
    pred_col: str = "prediction",
) -> str:
    """Confusion-matrix heatmap → PNG (reference visualization.py:6-39)."""
    classes, grid = confusion_grid(preds, label_col, pred_col)
    if not HAVE_MPL:
        return _native_heatmap(classes, grid, out_path)
    fig, ax = plt.subplots(figsize=(6, 5))
    im = ax.imshow(grid, cmap="viridis")
    ax.set_xticks(range(len(classes)), labels=[str(c) for c in classes])
    ax.set_yticks(range(len(classes)), labels=[str(c) for c in classes])
    ax.set_xlabel("prediction")
    ax.set_ylabel("label")
    fig.colorbar(im)
    fig.tight_layout()
    fig.savefig(out_path)
    plt.close(fig)
    return out_path


_CELL = 24  # heatmap cell edge, px
_BAR_COLORS = {"precision": (31, 119, 180), "recall": (255, 127, 14), "f1": (44, 160, 44)}


def _native_heatmap(classes: list, grid: list[list[int]], out_path: str) -> str:
    """Stdlib raster fallback: viridis-mapped cells, 1px gridlines, and
    a vertical colorbar strip on the right."""
    from .png import Canvas, viridis

    n = len(classes)
    vmax = max((v for row in grid for v in row), default=0) or 1
    bar_w, gap = 10, 6
    cv = Canvas(n * _CELL + 1 + gap + bar_w, n * _CELL + 1, bg=(255, 255, 255))
    for i in range(n):  # label rows
        for j in range(n):  # prediction cols
            cv.rect(
                j * _CELL + 1, i * _CELL + 1, _CELL - 1, _CELL - 1,
                viridis(grid[i][j] / vmax),
            )
    h = n * _CELL + 1
    for y in range(h):  # colorbar: vmax at top
        cv.rect(n * _CELL + 1 + gap, y, bar_w, 1, viridis(1.0 - y / max(1, h - 1)))
    return cv.save(out_path)


def _native_bars(table: list[dict], out_path: str) -> str:
    """Stdlib raster fallback: grouped P/R/F1 bars per class on a
    [0, 1] y-axis with a 1px baseline."""
    from .png import Canvas

    bar_w, gap, group_gap, height, margin = 8, 2, 12, 120, 4
    group_w = 3 * bar_w + 2 * gap
    w = margin * 2 + len(table) * group_w + max(0, len(table) - 1) * group_gap
    cv = Canvas(w, height + margin * 2, bg=(255, 255, 255))
    for gi, t in enumerate(table):
        x = margin + gi * (group_w + group_gap)
        for mi, metric in enumerate(("precision", "recall", "f1")):
            bh = round(min(1.0, max(0.0, t[metric])) * height)
            cv.rect(
                x + mi * (bar_w + gap), margin + height - bh, bar_w, bh,
                _BAR_COLORS[metric],
            )
    cv.rect(0, margin + height, w, 1, (0, 0, 0))
    return cv.save(out_path)


def per_class_metric_table(
    preds: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> list[dict]:
    """Per-class precision/recall/F1 rows (reference
    visualization.py:41-81 feeds these to a bar chart) — computed from
    the counts table, one Spark job."""
    classes, grid = confusion_grid(preds, label_col, pred_col)
    out = []
    n = len(classes)
    for i, cls in enumerate(classes):
        tp = grid[i][i]
        actual = sum(grid[i][j] for j in range(n))
        predicted = sum(grid[j][i] for j in range(n))
        p = tp / predicted if predicted else 0.0
        r = tp / actual if actual else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        out.append(
            {"class": cls, "precision": p, "recall": r, "f1": f1, "support": actual}
        )
    return out


def plot_per_class_bars(
    preds: DataFrame,
    out_path: str,
    label_col: str = "label",
    pred_col: str = "prediction",
) -> str:
    """Per-class P/R/F1 grouped bars → PNG (reference :41-81)."""
    table = per_class_metric_table(preds, label_col, pred_col)
    if not HAVE_MPL:
        return _native_bars(table, out_path)
    fig, ax = plt.subplots(figsize=(8, 4))
    xs = range(len(table))
    w = 0.27
    for off, metric in ((-w, "precision"), (0.0, "recall"), (w, "f1")):
        ax.bar([x + off for x in xs], [t[metric] for t in table], width=w, label=metric)
    ax.set_xticks(list(xs), labels=[str(t["class"]) for t in table])
    ax.set_ylim(0, 1)
    ax.legend()
    fig.tight_layout()
    fig.savefig(out_path)
    plt.close(fig)
    return out_path
