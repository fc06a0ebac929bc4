"""Evaluation layer (SURVEY §2.5 A10-A13; reference evaluation.py).

Metrics over a predictions DataFrame (label, prediction):
- accuracy / weighted precision / recall / F1 via MLlib's
  MulticlassClassificationEvaluator (A10),
- balanced accuracy as the reference's DataFrame DAG: per-class actual
  counts ⟕ TP counts, fillna, conditional recall, mean (A11,
  evaluation.py:119-151),
- confusion matrix as a groupBy count pivot (A12) — no RDD hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _confusion_counts(
    preds: DataFrame, label_col: str, pred_col: str
) -> dict[tuple[float, float], int]:
    """(label, prediction) -> n in ONE partial-aggregated job. The
    counts table is classes², so collecting it is always bounded."""
    rows = (
        preds.groupBy(
            F.col(label_col).cast("double").alias("l"),
            F.col(pred_col).cast("double").alias("p"),
        )
        .agg(F.count("*").alias("n"))
        .collect()
    )
    return {(r["l"], r["p"]): int(r["n"]) for r in rows}


def metrics_from_counts(counts: dict[tuple[float, float], int]) -> dict[str, float]:
    """The four MLlib multiclass metrics as exact functions of the
    confusion counts (MulticlassMetrics formulas: weights are true-label
    frequencies; 0/0 precision/recall/f1 defined as 0). Iteration is
    over sorted classes, so results don't inherit collect order."""
    total = sum(counts.values())
    if total == 0:
        return {"accuracy": 0.0, "weightedPrecision": 0.0, "weightedRecall": 0.0, "f1": 0.0}
    classes = sorted({l for l, _ in counts} | {p for _, p in counts})
    label_tot = {c: sum(n for (l, _), n in counts.items() if l == c) for c in classes}
    pred_tot = {c: sum(n for (_, p), n in counts.items() if p == c) for c in classes}
    tp = {c: counts.get((c, c), 0) for c in classes}
    accuracy = sum(tp.values()) / total
    wp = wr = wf = 0.0
    for c in classes:
        w = label_tot[c] / total
        prec = tp[c] / pred_tot[c] if pred_tot[c] else 0.0
        rec = tp[c] / label_tot[c] if label_tot[c] else 0.0
        f1 = 2 * prec * rec / (prec + rec) if (prec + rec) else 0.0
        wp += w * prec
        wr += w * rec
        wf += w * f1
    return {"accuracy": accuracy, "weightedPrecision": wp, "weightedRecall": wr, "f1": wf}


def classification_metrics(
    preds: DataFrame,
    label_col: str = "label",
    pred_col: str = "prediction",
    engine: str = "counts",
) -> dict[str, float]:
    """A10 — the MLlib multiclass metric set (reference
    evaluation.py:102-117). Default engine computes all four from ONE
    confusion-counts job (the evaluator path runs four separate MLlib
    actions — measured 4-5× the wall time for identical numbers);
    ``engine="mllib"`` keeps the evaluator passes for parity testing."""
    if engine == "counts":
        return metrics_from_counts(_confusion_counts(preds, label_col, pred_col))

    from pyspark.ml.evaluation import MulticlassClassificationEvaluator

    typed = preds.select(
        F.col(label_col).cast("double").alias("label"),
        F.col(pred_col).cast("double").alias("prediction"),
    ).persist()
    # persist before the evaluator loop: each evaluate() is its own
    # action, and without the cache all four re-run the full upstream
    # DAG (predict UDF included)
    try:
        out = {}
        for metric in ("accuracy", "weightedPrecision", "weightedRecall", "f1"):
            ev = MulticlassClassificationEvaluator(
                labelCol="label", predictionCol="prediction", metricName=metric
            )
            out[metric] = float(ev.evaluate(typed))
        return out
    finally:
        typed.unpersist()


def balanced_accuracy(
    preds: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> float:
    """A11 — mean per-class recall (reference evaluation.py:119-151):
    actual counts ⟕ TP counts on label, fillna(0), when-guarded ratio."""
    actual = preds.groupBy(label_col).agg(F.count("*").alias("actual_total"))
    tp = (
        preds.filter(F.col(label_col) == F.col(pred_col))
        .groupBy(label_col)
        .agg(F.count("*").alias("tp"))
    )
    per_class = (
        actual.join(tp, label_col, "left_outer")
        .fillna(0, subset=["tp"])
        .select(
            F.when(
                F.col("actual_total") > 0, F.col("tp") / F.col("actual_total")
            )
            .otherwise(0.0)
            .alias("recall")
        )
    )
    return float(per_class.agg(F.avg("recall")).first()[0])


def confusion_matrix(
    preds: DataFrame, label_col: str = "label", pred_col: str = "prediction"
) -> DataFrame:
    """A12 — (label, prediction, n) counts; pivot driver-side if a
    dense matrix is wanted (counts table scales, dense matrix doesn't)."""
    return (
        preds.groupBy(F.col(label_col).alias("label"), F.col(pred_col).alias("prediction"))
        .agg(F.count("*").alias("n"))
    )


def balanced_accuracy_from_counts(
    counts: dict[tuple[float, float], int]
) -> float:
    """A11 from the confusion counts: mean per-class recall over the
    classes that actually occur (identical math to the DataFrame DAG,
    iterated in sorted class order)."""
    classes = sorted({l for l, _ in counts})
    if not classes:
        return 0.0
    recalls = []
    for c in classes:
        tot = sum(n for (l, _), n in counts.items() if l == c)
        recalls.append(counts.get((c, c), 0) / tot if tot else 0.0)
    return sum(recalls) / len(recalls)

