"""The paper's query checks: the distance-based classifier end to end.

Eight queries over the ``embeddings`` table, which doubles as the
fixed-length-series table (64-d vectors, 10 classes):

- ``ml_global_tree``, ``ml_local_forest`` and ``ml_model_roundtrip``
  fit the global proximity tree and the local forest (SURVEY
  §3.2/§3.3) and reload a saved forest (S5/S6);
- ``ml_pipeline_report`` runs the experiment pipeline to its report
  (S7);
- ``ml_dtw_distances`` and ``ml_dtw_invariants`` pin the DTW kernels
  and their bounds (U7/U8);
- ``nearest_exemplar`` and ``dist_kernels`` pin the branch rule (U1)
  and the native distance kernels (U6/U9/U10).

The fits and distances are non-SQL-expressible but fully seeded and
layout-independent (content-hash splits, sorted driver collects), so
their exact outputs are pinned as literal-value DuckDB oracles
(golden_sql.py / tools/pin_golden.py) and hash-checked like any
relational query. The distance kernels get explicit element-math SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.distances import (
    cosine_similarity,
    euclidean_distance,
    manhattan_distance,
    nearest_exemplar_index,
)
from ..ml.dtw import dtw_pairwise_udf
from ..ml.evaluation import classification_metrics
from ..ml.global_tree import GlobalProximityTree
from ..ml.local_forest import LocalProximityForest
from ..operators.preprocess import drop_all_null_rows
from ..operators.sampling import stratified_split
from ..sources.catalog import load_table
from .golden_sql import keyed_values_oracle


def _series_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        F.col("label").cast("int").alias("label"),
        F.col("embedding").cast("array<double>").alias("features"),
    )


def ml_local_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition forest: stratified 80/20 split, train 4 trees via
    applyInPandas, broadcast-predict, report metrics (reference
    pipeline §3.3 end-to-end, Spark-idiomatic)."""
    df = _series_df(spark, sf_dir)
    train, test = stratified_split(df, "label", 0.8, seed=42)
    forest = LocalProximityForest(num_partitions=4, n_splitters=3, max_depth=10, seed=42).fit(train)
    from ..ml.evaluation import (
        _confusion_counts,
        balanced_accuracy_from_counts,
        metrics_from_counts,
    )

    # ONE action over preds: every metric derives from the counts table
    preds = forest.predict(test)
    counts = _confusion_counts(preds, "label", "prediction")
    m = metrics_from_counts(counts)
    ba = balanced_accuracy_from_counts(counts)
    return spark.createDataFrame(
        [
            (
                len(forest.trees),
                round(m["accuracy"], 6),
                round(m["f1"], 6),
                round(ba, 6),
            )
        ],
        "n_trees long, accuracy double, f1 double, balanced_accuracy double",
    )


def ml_global_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native global proximity tree (§3.2, batched-candidate
    variant): train, predict, report depth + metrics."""
    df = _series_df(spark, sf_dir)
    train, test = stratified_split(df, "label", 0.8, seed=42)
    tree = GlobalProximityTree(n_splitters=3, max_depth=6, min_samples_split=8, seed=42).fit(train)
    preds = tree.predict(test).persist()
    m = classification_metrics(preds)
    preds.unpersist()
    return spark.createDataFrame(
        [(tree.depth, len(tree.tree), round(m["accuracy"], 6))],
        "depth long, n_nodes long, accuracy double",
    )


def ml_dtw_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (full DP), banded, approximate (FastDTW coarsening — the
    reference's fastdtw path, distance_measures.py:12) and the euclidean
    upper bound for a small pair slice — U7/U8 surface through
    Arrow-batched pandas UDFs. ``approx_ge_exact`` pins the FastDTW
    error-bound invariant per pair: a restricted warp path can only
    cost ≥ the optimal one."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 6)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("id_a"),
        F.col("b.vec_id").alias("id_b"),
        F.col("a.v").alias("va"),
        F.col("b.v").alias("vb"),
    )
    from ..functions.distances import euclidean_distance
    from ..ml.dtw import fast_dtw_pairwise_udf

    exact = dtw_pairwise_udf(window=None)(F.col("va"), F.col("vb"))
    approx = fast_dtw_pairwise_udf(radius=2)(F.col("va"), F.col("vb"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(dtw_pairwise_udf(window=8)(F.col("va"), F.col("vb")), 6).alias("dtw_banded"),
        F.round(exact, 6).alias("dtw_exact"),
        F.round(approx, 6).alias("dtw_fast"),
        (F.round(approx, 9) >= F.round(exact, 9)).alias("approx_ge_exact"),
        F.round(euclidean_distance("va", "vb"), 6).alias("euclid_ub"),
    )


def ml_dtw_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-pinned DTW bound properties over the pair slice: the
    euclidean upper bound dominates exact DTW (U8 semantics), and any
    path-restricted variant (Sakoe-Chiba band, FastDTW window) can only
    cost >= the exact optimum."""
    d = ml_dtw_distances(spark, sf_dir)
    row = d.agg(
        F.min(F.col("euclid_ub") >= F.col("dtw_exact") - 1e-6).alias("ub_ok"),
        F.min(F.col("dtw_banded") >= F.col("dtw_exact") - 1e-6).alias("banded_ok"),
        F.min("approx_ge_exact").alias("approx_ok"),
        F.count("*").alias("n"),
    ).first()
    return spark.createDataFrame(
        [
            (
                bool(row["ub_ok"]),
                bool(row["banded_ok"]),
                bool(row["approx_ok"]),
                bool(row["n"] > 0),
            )
        ],
        "euclid_dominates boolean, banded_ge_exact boolean, "
        "fastdtw_ge_exact boolean, nonempty boolean",
    )


ML_DTW_INV_SQL = (
    "SELECT TRUE AS euclid_dominates, TRUE AS banded_ge_exact, "
    "TRUE AS fastdtw_ge_exact, TRUE AS nonempty"
)


def ml_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 model sink+source: fit, JSON-save, load, and verify the
    reloaded model predicts identically (reference pickle sink
    global_model_manager.py:508-552, re-expressed as engine-portable
    JSON state). Oracle pins the invariants."""
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="bigdata_spark_models_")
    try:
        df = _series_df(spark, sf_dir)
        train, test = stratified_split(df, "label", 0.8, seed=42)
        forest = LocalProximityForest(
            num_partitions=2, n_splitters=2, max_depth=6, seed=42
        ).fit(train)
        path = f"{scratch}/forest.json"
        forest.save(path)
        reloaded = LocalProximityForest.load(path)
        # persist both prediction tables: each exceptAll side references
        # both, so unpersisted they'd re-run the applyInPandas forest
        # predict per diff (up to 4 predict passes); with the cache +
        # one unioned count it is exactly 2, and the boolean
        # (both symmetric differences empty) is unchanged
        p1 = forest.predict(test).select("prediction").persist()
        p2 = reloaded.predict(test).select("prediction").persist()
        same = p1.exceptAll(p2).unionAll(p2.exceptAll(p1)).count() == 0
        p1.unpersist()
        p2.unpersist()
        return spark.createDataFrame(
            [(bool(len(reloaded.trees) == len(forest.trees)), bool(same))],
            "trees_preserved boolean, predictions_identical boolean",
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


ML_ROUNDTRIP_SQL = "SELECT TRUE AS trees_preserved, TRUE AS predictions_identical"


def ml_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 report sink / §3.1 experiment pipeline end-to-end: ingest →
    split → train → predict → evaluate → report dict (shape parity with
    reference evaluation.py:313-347). Oracle pins the report
    invariants: all sections present, metrics in [0,1], rows conserved
    (the report's total equals a count of the cleaned input)."""
    from .pipeline import run_pipeline

    df = _series_df(spark, sf_dir)
    rep = run_pipeline(df, model="local", num_partitions=2, n_splitters=2, max_depth=6)
    perf = rep["performance"]
    metrics_bounded = all(0.0 <= v <= 1.0 for v in perf.values())
    sections = all(
        k in rep for k in ("performance", "timing", "complexity", "rows", "memory")
    )
    # counted apart from the pipeline, which takes its rows from the
    # fit and the confusion table
    rows_conserved = rep["rows"]["total"] == drop_all_null_rows(df).count()
    mem = rep.get("memory", {})
    memory_tracked = all(
        snap.get("driver_peak_rss_mb", 0) > 0 and snap.get("n_executors", 0) >= 1
        for snap in (mem.get("start", {}), mem.get("after_training", {}), mem.get("end", {}))
    )
    return spark.createDataFrame(
        [(bool(sections), bool(metrics_bounded), bool(rows_conserved), bool(memory_tracked))],
        "report_complete boolean, metrics_bounded boolean, rows_conserved boolean, "
        "memory_tracked boolean",
    )


ML_REPORT_SQL = (
    "SELECT TRUE AS report_complete, TRUE AS metrics_bounded, "
    "TRUE AS rows_conserved, TRUE AS memory_tracked"
)


# Pinned-literal oracles: these fits/distances are
# seeded AND layout-independent (content-hash splits, sorted collects),
# so their exact outputs are data — regenerate with tools/pin_golden.py
# whenever the recipe changes.
ML_FOREST_SQL = keyed_values_oracle(
    "ml_local_forest",
    [("n_trees", "bigint"), ("accuracy", "double"), ("f1", "double"),
     ("balanced_accuracy", "double")],
)
ML_TREE_SQL = keyed_values_oracle(
    "ml_global_tree",
    [("depth", "bigint"), ("n_nodes", "bigint"), ("accuracy", "double")],
)
ML_DTW_SQL = keyed_values_oracle(
    "ml_dtw_distances",
    [("id_a", "bigint"), ("id_b", "bigint"), ("dtw_banded", "double"),
     ("dtw_exact", "double"), ("dtw_fast", "double"),
     ("approx_ge_exact", "boolean"), ("euclid_ub", "double")],
)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# DuckDB fragments: element-wise ops over FLOAT[] cast to DOUBLE, with
# the exact same operation order as functions/distances.py.

def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in generate_series(1, len({a}))])"
    )


def _duck_l2(a: str) -> str:
    return f"sqrt({_duck_dot(a, a)})"


def _duck_cos(a: str, b: str) -> str:
    return f"({_duck_dot(a, b)} / ({_duck_l2(a)} * {_duck_l2(b)}))"


def _duck_euclid(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum([(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"* (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"for i in generate_series(1, len({a}))]))"
    )


def _duck_manhattan(a: str, b: str) -> str:
    return (
        f"list_sum([abs(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)) "
        f"for i in generate_series(1, len({a}))])"
    )


# --- distance kernels (U6/U9/U10 natively) --------------------------------

def dist_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise euclid/manhattan/cosine over a small id slice — pins the
    native zip_with/aggregate kernels against explicit element math."""
    e = _vecs(spark, sf_dir).filter(F.col("vec_id") < 10)
    v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(euclidean_distance(F.col("a.v"), F.col("b.v")), 9).alias("euclid"),
            F.round(manhattan_distance(F.col("a.v"), F.col("b.v")), 9).alias("manhattan"),
            F.round(cosine_similarity(F.col("a.v"), F.col("b.v")), 9).alias("cosine"),
        )
    )


DIST_KERNELS_SQL = f"""
WITH v AS (SELECT vec_id, embedding AS v FROM embeddings WHERE vec_id < 10)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND({_duck_euclid('a.v', 'b.v')}, 9) AS euclid,
  ROUND({_duck_manhattan('a.v', 'b.v')}, 9) AS manhattan,
  ROUND({_duck_cos('a.v', 'b.v')}, 9) AS cosine
FROM v a JOIN v b ON a.vec_id < b.vec_id
"""


# --- nearest exemplar (U1 natively) ---------------------------------------

def nearest_exemplar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route every vector to its nearest of 3 exemplars (vec_id 0,1,2)
    by euclidean distance — the reference's branch rule (U1) as one
    native expression; exemplars ride along as a broadcast join."""
    e = _vecs(spark, sf_dir)
    # collect_list order is not deterministic under shuffle — sort the
    # (vec_id, vec) structs post-collect to pin exemplar order 0,1,2.
    ex = (
        e.filter(F.col("vec_id") < 3)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "v"))), lambda s: s["v"]
            ).alias("exemplars")
        )
    )
    v = e.filter(F.col("vec_id") >= 3).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return v.crossJoin(F.broadcast(ex)).select(
        "vec_id",
        nearest_exemplar_index(F.col("v"), F.col("exemplars")).cast("long").alias("branch"),
    )


NEAREST_EXEMPLAR_SQL = f"""
WITH ex AS (
  SELECT
    (SELECT embedding FROM embeddings WHERE vec_id = 0) AS e0,
    (SELECT embedding FROM embeddings WHERE vec_id = 1) AS e1,
    (SELECT embedding FROM embeddings WHERE vec_id = 2) AS e2
), d AS (
  SELECT vec_id,
    {_duck_euclid('embedding', 'e0')} AS d0,
    {_duck_euclid('embedding', 'e1')} AS d1,
    {_duck_euclid('embedding', 'e2')} AS d2
  FROM embeddings CROSS JOIN ex
  WHERE vec_id >= 3
)
SELECT vec_id,
  CAST(CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
            WHEN d1 <= d2 THEN 1
            ELSE 2 END AS BIGINT) AS branch
FROM d
"""


QUERIES = {
    "ml_local_forest": (ml_local_forest, ML_FOREST_SQL),
    "ml_global_tree": (ml_global_tree, ML_TREE_SQL),
    "ml_dtw_distances": (ml_dtw_distances, ML_DTW_SQL),
    "ml_dtw_invariants": (ml_dtw_invariants, ML_DTW_INV_SQL),
    "ml_model_roundtrip": (ml_model_roundtrip, ML_ROUNDTRIP_SQL),
    "ml_pipeline_report": (ml_pipeline_report, ML_REPORT_SQL),
    "dist_kernels": (dist_kernels, DIST_KERNELS_SQL),
    "nearest_exemplar": (nearest_exemplar, NEAREST_EXEMPLAR_SQL),
}
