"""bigdata_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
time-series/relational pipeline (KRudd-E/BigData, surveyed in SURVEY.md)
as an idiomatic Spark DataFrame/SQL engine, extended with the
large-scale training-data-pipeline operators (dedup, text analysis,
multimodal plumbing) that a 100 TB corpus needs.

Layout:
    session     — SparkSession factory with scale-tuned defaults
    worker      — keeps PySpark's Python worker from re-reading its zip
    sources     — schema'd scans (parquet/csv/tsv), catalog of testdata
    operators   — sampling/splits, preprocessing, partitioning
    functions   — native array/distance/text column expressions
    plans       — composed relational queries (TPC-H-ish analytics)
    streaming   — cross-batch stream dedup, keyed-upsert parquet sink
    ml          — proximity tree/forest, prediction, evaluation
    text        — tokens, quality features, language-ID, fingerprints
    dedup       — exact, minhash-LSH, simhash, n-gram jaccard near-dup
    similarity  — hyperplane recipe and IVF coarse quantizer for dedup
    multimodal  — binary payload columns, PPM/WAV/PNG/JPEG/MP4 codecs
"""

__version__ = "0.1.0"
