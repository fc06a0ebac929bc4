"""Custom stateful streaming: the per-key dedup state must carry
across micro-batches (maxFilesPerTrigger=1 forces multiple batches)."""

from __future__ import annotations


def test_stream_dedup_first_seen_across_batches(spark, tmp_path):
    from bigdata_spark.streaming.stateful import stream_dedup

    src = str(tmp_path / "dedup_src")
    # keys k0..k4; k0/k1 recur in batch 2 (cross-batch dups), k2 has an
    # in-batch dup, k5 first appears in batch 2, and k7's SMALLER id
    # arrives in the later batch (pins min-id, order-independent keeper)
    b1 = [(0, "k0"), (1, "k1"), (2, "k2"), (3, "k2"), (4, "k3"), (5, "k4"), (20, "k7")]
    b2 = [(6, "k0"), (7, "k0"), (8, "k1"), (9, "k5"), (10, "k7")]
    schema = "doc_id long, content_key string"
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(src + "/p1")
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(src + "/p2")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/p*")
    )
    out = stream_dedup(stream, "content_key", "doc_id")
    q = (
        out.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    rows = spark.sql(
        "SELECT key, kept_id, dups_dropped FROM stream_dedup a "
        "WHERE dups_dropped = (SELECT MAX(dups_dropped) FROM stream_dedup b WHERE b.key = a.key)"
    ).collect()
    final = {r["key"]: (r["kept_id"], r["dups_dropped"]) for r in rows}
    # kept id = min id across the whole history (order-independent);
    # drops count every non-kept copy
    assert final == {
        "k0": (0, 2),
        "k1": (1, 1),
        "k2": (2, 1),
        "k3": (4, 0),
        "k4": (5, 0),
        "k5": (9, 0),
        "k7": (10, 1),
    }
