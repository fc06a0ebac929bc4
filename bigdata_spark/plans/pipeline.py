"""End-to-end experiment pipeline (reference controller_loop.py §3.1):
ingest → stats/split → preprocess → train → predict → evaluate →
report, with train → evaluate looped over partition counts for
speedup analysis.

Spark-first differences from the reference:
- stratified split is one content-hash pass
  (``sampling.content_uniform``), not an all-columns anti-join,
- local training is applyInPandas, not an RDD hop,
- the partition sweep ingests and splits once, not once per count,
- the report is the same nested shape (performance/timing/complexity →
  JSON sink, S7 parity with evaluation.py:313-347).

A model's pass runs the fit's jobs + 2: the fit, then one
score-and-tabulate pass (predict feeding the confusion table, two jobs
under adaptive execution). On the ECG benchmark that is 4 jobs for the
global tree and 11 for the forest. Nothing is cached and nothing is
counted apart: ``rows.train`` is the count the fit makes of its
training rows (``fit_stats_["rows"]``), ``rows.test`` the sum of the
confusion counts. The split is a content-hash filter over the caller's
frame, recomputed by each job that reads it; a caller whose frame is
costly to compute caches it.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession

from ..ml.evaluation import (
    _confusion_counts,
    balanced_accuracy_from_counts,
    metrics_from_counts,
)
from ..ml.global_tree import GlobalProximityTree
from ..ml.local_forest import LocalProximityForest
from ..operators.preprocess import drop_all_null_rows
from ..operators.sampling import stratified_split


def _memory_snapshot(spark: SparkSession) -> dict:
    """Point-in-time memory reading (reference evaluation.py:313-347
    samples psutil around each stage; same shape here without the
    dependency): the Python driver's peak RSS from stdlib ``resource``
    plus the JVM's own view of every executor's block-manager storage
    memory — on local[*] that is one entry; on a 1000-executor cluster
    the same call returns all of them, so the report stays meaningful
    at scale."""
    import resource

    ru = resource.getrusage(resource.RUSAGE_SELF)
    snap: dict = {
        # ru_maxrss is KiB on Linux — peak, monotone over the process
        "driver_peak_rss_mb": round(ru.ru_maxrss / 1024.0, 1),
    }
    try:
        status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
        it = status.iterator()
        max_mb = free_mb = 0.0
        n = 0
        while it.hasNext():
            kv = it.next()
            max_mb += kv._2()._1() / 2**20
            free_mb += kv._2()._2() / 2**20
            n += 1
        snap["n_executors"] = n
        snap["executor_storage_max_mb"] = round(max_mb, 1)
        snap["executor_storage_used_mb"] = round(max_mb - free_mb, 1)
    except Exception:  # py4j surface may shift across Spark versions
        snap["n_executors"] = 0
    return snap


def _run(
    df: DataFrame,
    model: str,
    partition_counts: list[int],
    n_splitters: int = 3,
    max_depth: int | None = 10,
    train_fraction: float = 0.8,
    seed: int = 42,
    label_col: str = "label",
    features_col: str = "features",
) -> list[dict]:
    """Ingest and split ``df`` once, then train, predict and evaluate
    ``model`` (``"global"`` or ``"local"``) once per partition count;
    returns one report per count. Every report carries the one split's
    rows and ingest/split times. Bad arguments raise ``ValueError``
    before any Spark work.

    Each count runs the fit's jobs + 2 and caches nothing. The timing
    keys: ``ingestion_time`` and ``split_time`` time building the lazy
    cleaned frame and split (no job), ``training_time`` the fit,
    ``prediction_time`` the fused predict-and-tabulate job, and
    ``evaluation_time`` the metrics computed on the driver from the
    confusion counts."""
    if model not in ("global", "local"):
        raise ValueError(f"model must be 'global' or 'local', got {model!r}")
    if not partition_counts:
        raise ValueError("partition_counts is empty")
    if len(set(partition_counts)) != len(partition_counts):
        raise ValueError(f"partition_counts has a repeated count: {partition_counts}")
    if min(partition_counts) < 1:
        raise ValueError(f"partition_counts must all be >= 1, got {partition_counts}")
    # NaN fails this test too; 0 or 1 would leave one side of the split empty
    if not 0.0 < train_fraction < 1.0:
        raise ValueError(f"train_fraction must be in (0, 1), got {train_fraction!r}")
    spark = df.sparkSession
    mem_start = _memory_snapshot(spark)
    split_timings: dict[str, float] = {}

    t0 = time.time()
    df = drop_all_null_rows(df)
    split_timings["ingestion_time"] = time.time() - t0

    t0 = time.time()
    train, test = stratified_split(df, label_col, train_fraction, seed=seed)
    split_timings["split_time"] = time.time() - t0

    reports = []
    for i, num_partitions in enumerate(partition_counts):
        if i:  # the first count's pass started before the ingest
            mem_start = _memory_snapshot(spark)
        timings = dict(split_timings)
        t0 = time.time()
        complexity: dict[str, float] = {}
        if model == "local":
            m = LocalProximityForest(
                num_partitions=num_partitions, n_splitters=n_splitters,
                max_depth=max_depth, seed=seed,
            ).fit(train, label_col, features_col)
            complexity["n_trees"] = len(m.trees)
        else:
            m = GlobalProximityTree(
                n_splitters=n_splitters, max_depth=max_depth, seed=seed
            ).fit(train, label_col, features_col)
            complexity["depth"] = m.depth
            complexity["n_nodes"] = len(m.tree)
        timings["training_time"] = time.time() - t0
        mem_after_train = _memory_snapshot(spark)

        t0 = time.time()
        # one pass scores the test side and tabulates (label, prediction);
        # the predictions are never cached or counted apart
        counts = _confusion_counts(m.predict(test, features_col), label_col, "prediction")
        timings["prediction_time"] = time.time() - t0

        t0 = time.time()
        performance = metrics_from_counts(counts)
        performance["balanced_accuracy"] = balanced_accuracy_from_counts(counts)
        timings["evaluation_time"] = time.time() - t0

        # the fit counts its training rows, the confusion table the test
        # rows; the split is an exact complement (a never-null content
        # hash puts each row on one side), so they add up to the total
        n_train, n_test = m.fit_stats_["rows"], sum(counts.values())
        reports.append({
            "model": model,
            "num_partitions": num_partitions,
            "rows": {"total": n_train + n_test, "train": n_train, "test": n_test},
            "performance": {k: round(v, 6) for k, v in performance.items()},
            "timing": {k: round(v, 3) for k, v in timings.items()},
            "complexity": complexity,
            "fit": m.fit_stats_,
            # reference evaluation.py:313-347 parity: memory sampled at the
            # stage boundaries that matter (start, post-train, end)
            "memory": {
                "start": mem_start,
                "after_training": mem_after_train,
                "end": _memory_snapshot(spark),
            },
        })
    return reports


def run_pipeline(
    df: DataFrame,
    model: str = "local",
    num_partitions: int = 4,
    n_splitters: int = 3,
    max_depth: int | None = 10,
    train_fraction: float = 0.8,
    seed: int = 42,
    label_col: str = "label",
    features_col: str = "features",
) -> dict:
    """One experiment iteration; returns the report dict."""
    return _run(
        df, model, [num_partitions], n_splitters, max_depth,
        train_fraction, seed, label_col, features_col,
    )[0]


def run_partition_sweep(
    df: DataFrame,
    partition_counts: list[int],
    model: str = "local",
    report_path: str | None = None,
    **kwargs,
) -> dict:
    """Reference controller loop (controller_loop.py:135-158): sweep
    partition counts, accumulate one report per iteration, compute
    speedup vs. the first iteration, optionally JSON-sink (S7). The
    ingest and split run once; only training onwards repeats per count.
    ``kwargs`` are ``run_pipeline``'s model and split parameters."""
    reports = {
        str(n): rep for n, rep in zip(partition_counts, _run(df, model, partition_counts, **kwargs))
    }
    base = reports[str(partition_counts[0])]["timing"]["training_time"]
    for n in partition_counts:
        t = reports[str(n)]["timing"]["training_time"]
        reports[str(n)]["speedup"] = round(base / t, 3) if t > 0 else None
    if report_path:
        with open(report_path, "w") as f:
            json.dump(reports, f, indent=2)
    return reports
