"""bigdata_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of the reference
time-series/relational pipeline (KRudd-E/BigData, surveyed in SURVEY.md)
as an idiomatic Spark DataFrame/SQL engine: the distance-based
proximity-tree classifier, its pipeline, and the relational plans
around it.

Layout:
    session     — SparkSession factory with scale-tuned defaults
    worker      — keeps PySpark's Python worker from re-reading its zip
    sources     — catalog of testdata, table formats (avro, manifest)
    operators   — sampling/splits, preprocessing, partitioning, ranking
    functions   — native array distance column expressions
    plans       — composed relational queries (TPC-H-ish analytics)
    streaming   — keyed-upsert parquet sink
    ml          — proximity tree/forest, prediction, evaluation
    multimodal  — PPM/WAV/PNG/JPEG codecs (no plan calls them)
"""

__version__ = "0.1.0"
