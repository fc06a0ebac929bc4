"""Round-7 second-batch operators: manifest pruning."""

from __future__ import annotations


def test_manifest_stats_pruning_api(spark, tmp_path):
    """collect_file_stats harvests footer min/max; read_snapshot_pruned
    skips non-intersecting files, keeps stat-less files (safe), and
    never changes the row-level answer."""
    import os

    from bigdata_spark.sources.manifest import (
        collect_file_stats,
        commit_snapshot,
        list_data_files,
        read_snapshot_pruned,
    )
    from pyspark.sql import functions as F

    base = os.path.join(str(tmp_path), "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    (
        df.withColumn("_b", (F.col("k") / 250).cast("int"))
        .repartition("_b")
        .write.partitionBy("_b")
        .parquet(base)
    )
    files = list_data_files(base)
    assert len(files) == 4
    stats = collect_file_stats(spark, files, ["k"])
    for f in files:
        lo, hi = stats[f]["cols"]["k"]
        assert 0 <= lo <= hi <= 999 and hi - lo <= 249
        assert stats[f]["rows"] == 250
    commit_snapshot(base, 1, files, stats=stats)

    out, n_total, n_read = read_snapshot_pruned(spark, base, 1, "k", hi=100)
    assert (n_total, n_read) == (4, 1)
    assert out.filter("k <= 100").count() == 101

    # interval predicate touches two buckets
    _out2, _, n_read2 = read_snapshot_pruned(spark, base, 1, "k", lo=200, hi=300)
    assert n_read2 == 2

    # a column with NO recorded stats never prunes
    _out3, _, n_read3 = read_snapshot_pruned(spark, base, 1, "v", hi=-1)
    assert n_read3 == 4


def test_manifest_pruning_all_files_pruned(spark, tmp_path):
    import os

    from bigdata_spark.sources.manifest import (
        collect_file_stats,
        commit_snapshot,
        list_data_files,
        read_snapshot_pruned,
    )
    from pyspark.sql import functions as F

    base = os.path.join(str(tmp_path), "t")
    spark.range(0, 100).select(F.col("id").alias("k")).repartition(2).write.parquet(base)
    files = list_data_files(base)
    commit_snapshot(base, 1, files, stats=collect_file_stats(spark, files, ["k"]))
    out, n_total, n_read = read_snapshot_pruned(spark, base, 1, "k", lo=5000)
    assert (n_total, n_read) == (2, 0)
    assert out.count() == 0 and "k" in out.columns
