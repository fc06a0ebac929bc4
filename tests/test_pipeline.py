"""End-to-end pipeline + partition-sweep tests (reference §3.1)."""

from __future__ import annotations

import json

import numpy as np
import pytest

from bigdata_spark.operators.preprocess import drop_all_null_rows
from bigdata_spark.operators.sampling import stratified_split
from bigdata_spark.plans import pipeline
from bigdata_spark.plans.pipeline import run_partition_sweep, run_pipeline


def _clusters(spark, n_per=40):
    rng = np.random.default_rng(3)
    rows = []
    for label, c in [(1, 0.0), (2, 6.0), (3, 12.0)]:
        for _ in range(n_per):
            rows.append((label, [c + rng.uniform(-0.5, 0.5), c + rng.uniform(-0.5, 0.5)]))
    return spark.createDataFrame(rows, "label int, features array<double>")


def test_run_pipeline_local(spark):
    rep = run_pipeline(_clusters(spark), model="local", num_partitions=3)
    assert rep["rows"]["train"] + rep["rows"]["test"] == rep["rows"]["total"] == 120
    assert rep["performance"]["accuracy"] > 0.9
    assert rep["complexity"]["n_trees"] == 3
    assert rep["fit"] == {"rows": rep["rows"]["train"]}
    assert all(t >= 0 for t in rep["timing"].values())


def test_run_pipeline_rows_total_is_train_plus_test(spark):
    """``rows.total`` counts the rows left after dropping all-null rows,
    duplicates included, as the two sides of the split: for both models
    ``rows.train`` (the fit's count) and ``rows.test`` (the confusion
    table's sum) equal counts of the split's sides made here."""
    df = _clusters(spark, n_per=20)
    df = df.union(df.limit(5)).union(spark.createDataFrame([(None, None)], df.schema))
    train, test = stratified_split(drop_all_null_rows(df), "label", 0.8, seed=42)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 65
    reports = {model: run_pipeline(df, model=model, max_depth=4) for model in ("global", "local")}
    for rep in reports.values():
        assert rep["rows"] == {"total": 65, "train": n_train, "test": n_test}
        assert rep["fit"]["rows"] == n_train
    # the global fit's own record: this small set is held from the root
    fit = reports["global"]["fit"]
    assert fit["local_from_depth"] == 0
    assert fit["held_rows"] == n_train
    assert 2 <= fit["jobs"] <= 3


@pytest.mark.parametrize("model,jobs", [("global", 4), ("local", 11)])
def test_run_pipeline_jobs_per_pass(spark, model, jobs):
    """A pass runs the fit's jobs and one score-and-tabulate pass of
    two jobs: the split, the predictions and the row counts cost none.
    The input is cached first, as the benchmark caches its frame."""
    sc = spark.sparkContext
    df = _clusters(spark).persist()
    df.count()
    group = f"pipeline-pass-{model}"
    sc.setJobGroup(group, group)
    try:
        rep = run_pipeline(df, model=model, num_partitions=3)
    finally:
        sc.setJobGroup("", "")
        df.unpersist()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
    if model == "global":
        assert rep["fit"]["jobs"] + 2 == jobs


def test_partition_sweep_report(spark, tmp_path, monkeypatch):
    split, splits = pipeline.stratified_split, []

    def counted_split(*args, **kwargs):
        splits.append(args)
        return split(*args, **kwargs)

    monkeypatch.setattr(pipeline, "stratified_split", counted_split)
    p = str(tmp_path / "report.json")
    reports = run_partition_sweep(
        _clusters(spark), [2, 4], model="local", report_path=p
    )
    assert set(reports) == {"2", "4"}
    assert reports["2"]["speedup"] == 1.0
    # the sweep splits once and every count trains on that split
    assert len(splits) == 1
    assert reports["2"]["rows"] == reports["4"]["rows"]
    assert reports["4"]["complexity"]["n_trees"] == 4
    on_disk = json.load(open(p))
    assert on_disk["4"]["performance"]["accuracy"] > 0.9


def test_bad_arguments_and_a_failed_fit_leave_nothing_cached(spark):
    """An unknown model, an empty, repeated or non-positive count list
    or a train fraction outside (0, 1) fails before any Spark work; a
    fit that fails (a ragged row) leaves nothing cached."""
    df = _clusters(spark, n_per=10)
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    with pytest.raises(ValueError, match=r"model must be 'global' or 'local', got 'forest'"):
        run_pipeline(df, model="forest")
    with pytest.raises(ValueError, match=r"partition_counts is empty"):
        run_partition_sweep(df, [])
    with pytest.raises(ValueError, match=r"partition_counts has a repeated count: \[2, 2\]"):
        run_partition_sweep(df, [2, 2])
    with pytest.raises(ValueError, match=r"partition_counts must all be >= 1, got \[0\]"):
        run_partition_sweep(df, [0])
    for fraction in (0.0, 1.0, 1.5, float("nan")):
        with pytest.raises(ValueError, match=r"train_fraction must be in \(0, 1\)"):
            run_pipeline(df, train_fraction=fraction)
    assert cache.isEmpty()

    ragged = df.union(spark.createDataFrame([(1, [0.0, 0.0, 0.0])], df.schema))
    for model in ("global", "local"):
        with pytest.raises(ValueError, match=r"1 of \d+ training rows"):
            run_pipeline(ragged, model=model, train_fraction=0.99)
        assert cache.isEmpty()
