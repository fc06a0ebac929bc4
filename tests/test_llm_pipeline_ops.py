"""Round-4 LLM-pipeline operators: keep-one dedup filtering."""

from __future__ import annotations


def test_keep_one_drops_only_duplicates(spark, tmp_path):
    # miniature corpus parquet so the registry query runs end-to-end
    import os

    rows = [(i, f"text {i % 3}", "en", "srcA", 6) for i in range(9)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    from bigdata_spark.plans.dedupq import dedup_keep_one

    out = {r["source"]: r for r in dedup_keep_one(spark, str(tmp_path)).collect()}
    a = out["srcA"]
    # 9 docs + 1 dup-wave copy (doc_id 0) = 10; 3 distinct texts survive
    assert a["n_docs"] == 10 and a["n_survivors"] == 3 and a["n_dropped"] == 7
