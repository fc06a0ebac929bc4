"""Preprocessing operator tests (FIXTURES.md §2, §3, §8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_spark.operators.preprocess import (
    balanced_stratified_repartition,
    drop_all_null_rows,
    min_max_normalize,
    min_max_stats,
)


def test_drop_all_null_rows(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (None, None, None), (None, 5.0, None)],
        "_c0 double, _c1 double, _c2 double",
    )
    out = drop_all_null_rows(df).collect()
    assert len(out) == 2  # only the all-null row dropped


def test_min_max_normalize_goldens(spark):
    # FIXTURES §3: 10/20/30 and 100/200/300 → 0.0, 0.5, 1.0; constant → 0.0
    df = spark.createDataFrame(
        [(1, 10.0, 100.0, 7.0), (2, 20.0, 200.0, 7.0), (3, 30.0, 300.0, 7.0)],
        "label int, feature1 double, feature2 double, feature3 double",
    )
    cols = ["feature1", "feature2", "feature3"]
    out = min_max_normalize(df, cols).orderBy("label").collect()
    for i, expected in enumerate([0.0, 0.5, 1.0]):
        assert out[i]["feature1"] == pytest.approx(expected, abs=1e-6)
        assert out[i]["feature2"] == pytest.approx(expected, abs=1e-6)
        assert out[i]["feature3"] == 0.0  # max == min branch


def test_min_max_stats_single_pass(spark):
    df = spark.createDataFrame([(1.0, -5.0), (3.0, 2.0)], "a double, b double")
    stats = min_max_stats(df, ["a", "b"])
    assert stats == {"a": (1.0, 3.0), "b": (-5.0, 2.0)}


def test_balanced_stratified_repartition(spark):
    # FIXTURES §8: skewed classes 4/11/3 across 3 partitions → per-class
    # partition counts differ by ≤1; exactly 3 partitions.
    rows = [(1,)] * 4 + [(2,)] * 11 + [(3,)] * 3
    df = spark.createDataFrame(rows, "label int")
    out = balanced_stratified_repartition(df, "label", 3, keep_partition_col=True)
    assert out.rdd.getNumPartitions() == 3
    counts = (
        out.groupBy("label", "_partition_id").count().collect()
    )
    per_class: dict[int, list[int]] = {}
    for r in counts:
        per_class.setdefault(r["label"], []).append(r["count"])
    for label, cnts in per_class.items():
        assert max(cnts) - min(cnts) <= 1, (label, cnts)
    # every row lands in a real spark partition matching its id
    spread = out.withColumn("actual", F.spark_partition_id()).select("_partition_id", "actual").distinct()
    assert spread.groupBy("_partition_id").count().agg(F.max("count")).first()[0] == 1
