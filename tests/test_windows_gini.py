"""Similarity search tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_spark.similarity.ann import brute_force_topk


def test_brute_force_topk_exact(spark):
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = brute_force_topk(df.filter(F.col("vec_id") == 0), df, k=2).collect()
    assert [r["corpus_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]
