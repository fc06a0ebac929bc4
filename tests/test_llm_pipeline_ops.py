"""Round-4 LLM-pipeline operators: word n-grams / decontamination,
repetition quality filters, PII redaction, keep-one dedup filtering,
built-in streaming dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_spark.text.analysis import (
    redact_pii,
    repetition_features,
    word_ngrams,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat"),
        (1, "a b a b a b a b"),          # maximally repetitive bigrams
        (2, "all distinct words here now"),
        (3, "tiny"),                      # < n tokens
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_ngrams_basic(docs):
    got = {
        r["doc_id"]: sorted(r["g"])
        for r in docs.select("doc_id", word_ngrams("text", 4).alias("g")).collect()
    }
    assert got[0] == sorted(["the cat sat on", "cat sat on the", "sat on the mat"])
    assert got[3] == []  # shorter than n -> empty, never a descending sequence
    assert got[4] == []
    # distinctness: "a b a b" appears once however many times it occurs
    assert got[1] == sorted(["a b a b", "b a b a"])


def test_repetition_features(docs):
    r = repetition_features("text")
    out = {
        row["doc_id"]: row
        for row in docs.select(
            "doc_id",
            r["dup_token_frac"].alias("dup"),
            r["top_bigram_frac"].alias("top"),
        ).collect()
    }
    assert out[2]["dup"] == 0.0  # all tokens distinct
    # "a b a b a b a b": 8 tokens, 2 distinct -> 6/8 duplicated
    assert out[1]["dup"] == pytest.approx(0.75)
    # 7 bigrams, "a b" x4 -> 4/7
    assert out[1]["top"] == pytest.approx(4 / 7)
    assert out[4]["dup"] == 0.0 and out[4]["top"] == 0.0  # empty text


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [(0, "mail bob.smith@corp.example or dial 555-123-4567 twice 555-000-1111")],
        "id long, text string",
    )
    r = redact_pii("text")
    row = df.select(
        r["redacted"].alias("red"), r["n_emails"].alias("ne"), r["n_phones"].alias("np")
    ).first()
    assert row["ne"] == 1 and row["np"] == 2
    assert "<EMAIL>" in row["red"] and row["red"].count("<PHONE>") == 2
    assert "555-123-4567" not in row["red"] and "bob.smith" not in row["red"]


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
