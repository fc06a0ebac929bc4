"""ML-layer queries beyond the paper's classifier checks (those live
in ``classifierq``): fixed-point and closed-form learners, model
evaluation and calibration reports, and the plot sink.

The non-SQL-expressible ones (iterative fits) are fully seeded AND
layout-independent (content-hash splits, sorted driver collects), so
their exact outputs are pinned as literal-value DuckDB oracles
(golden_sql.py / tools/pin_golden.py) and hash-checked like any
relational query.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ranking import grouped_range_rank
from ..sources.catalog import load_table
from .golden_sql import keyed_values_oracle


def ml_plot_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 plot sink end-to-end (reference visualization.py:6-81):
    render the confusion heatmap and per-class metric bars to real PNG
    files — via the stdlib raster backend when matplotlib is absent —
    and pin the artifact invariants. The prediction frame is a cheap
    deterministic rule over orders (same shape as a13), not a trained
    model, so this stays in the gate's fast block."""
    import os
    import shutil
    import tempfile

    from ..ml.visualization import plot_confusion_heatmap, plot_per_class_bars

    o = load_table(spark, sf_dir, "orders")
    preds = o.select(
        F.when(F.col("o_orderstatus") == "F", 0)
        .when(F.col("o_orderstatus") == "O", 1)
        .otherwise(2)
        .alias("label"),
        F.when(F.col("o_totalprice") < 100000, 0)
        .when(F.col("o_totalprice") < 300000, 1)
        .otherwise(2)
        .alias("prediction"),
    )
    scratch = tempfile.mkdtemp(prefix="bigdata_spark_plots_")
    try:
        hm = plot_confusion_heatmap(preds, os.path.join(scratch, "cm.png"))
        bars = plot_per_class_bars(preds, os.path.join(scratch, "bars.png"))
        hm_pdf = plot_confusion_heatmap(preds, os.path.join(scratch, "cm.pdf"))
        sig = b"\x89PNG\r\n\x1a\n"
        with open(hm, "rb") as f:
            hm_ok = f.read(8) == sig and os.path.getsize(hm) > 100
        with open(bars, "rb") as f:
            bars_ok = f.read(8) == sig and os.path.getsize(bars) > 100
        with open(hm_pdf, "rb") as f:
            pdf_ok = f.read(5) == b"%PDF-" and os.path.getsize(hm_pdf) > 100
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return spark.createDataFrame(
        [(bool(hm_ok), bool(bars_ok), bool(pdf_ok))],
        "heatmap_png_valid boolean, bars_png_valid boolean, heatmap_pdf_valid boolean",
    )


ML_PLOT_SQL = (
    "SELECT TRUE AS heatmap_png_valid, TRUE AS bars_png_valid, "
    "TRUE AS heatmap_pdf_valid"
)


# ---------------------------------------------------------------------------
# ml_naive_bayes — counts-based classifier, fully SQL-expressible
# ---------------------------------------------------------------------------

# Shared integer binning (identical text both engines; round() keeps the
# 2-decimal doubles away from floor's ulp cliffs)
# (floor, not bare CAST: DuckDB's double->int cast ROUNDS where
# Spark's truncates — floor agrees everywhere and values are integral)
_NB_QB = "CAST(least(4, greatest(0, CAST(floor((l_quantity - 1) / 10) AS INT))) AS INT)"
_NB_DB = "CAST(floor(CAST(round(l_discount * 100) AS INT) / 2) AS INT)"
_NB_TB = "CAST(floor(CAST(round(l_tax * 100) AS INT) / 2) AS INT)"


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Naive Bayes: train on even orderkeys, score odd.

    Training is pure counting — class priors and per-feature
    likelihood tables from three groupBys (map-side combined, output
    O(classes × feature cardinality)). Scoring never touches test ROWS
    individually: test data collapses to its distinct feature tuples
    (~150 here, bounded by the bin grid at any scale) weighted by
    count, each tuple crosses the 3 classes and joins the broadcast
    likelihood tables, and the Laplace-smoothed posterior multiplies
    in a fixed order so the scores — and thus the argmax — are
    bit-identical in the SQL oracle. Accuracy reports per class +
    total."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.expr(_NB_QB).alias("qb"),
        F.expr(_NB_DB).alias("db"),
        F.expr(_NB_TB).alias("tb"),
    )
    train = l.filter(F.col("l_orderkey") % 2 == 0)
    test = l.filter(F.col("l_orderkey") % 2 == 1)

    priors = train.groupBy(F.col("l_returnflag").alias("cls")).agg(
        F.count("*").alias("c_cls")
    )
    # ONE job for all four training scalars (was 4 sequential full-scan
    # actions: count + three distinct().count()s — the
    # dq_referential_integrity fusion shape, guide §1.2/§2.6)
    tstats = train.agg(
        F.count("*").alias("n"),
        F.countDistinct("qb").alias("v_qb"),
        F.countDistinct("db").alias("v_db"),
        F.countDistinct("tb").alias("v_tb"),
    ).first()
    n_train = int(tstats["n"])
    card = {f: int(tstats[f"v_{f}"]) for f in ("qb", "db", "tb")}
    likel = {}
    for f in ("qb", "db", "tb"):
        likel[f] = train.groupBy(
            F.col("l_returnflag").alias("cls"), F.col(f).alias(f"{f}_v")
        ).agg(F.count("*").alias(f"c_{f}"))

    tuples = test.groupBy("qb", "db", "tb", F.col("l_returnflag").alias("truth")).agg(
        F.count("*").alias("w")
    )
    scored = tuples.crossJoin(F.broadcast(priors))
    for f in ("qb", "db", "tb"):
        scored = scored.join(
            F.broadcast(likel[f]),
            (scored.cls == likel[f].cls) & (F.col(f) == F.col(f"{f}_v")),
            "left",
        ).drop(likel[f].cls).drop(f"{f}_v")
    score_expr = (
        f"(CAST(c_cls AS DOUBLE) / {n_train})"
        f" * ((COALESCE(c_qb, 0) + 1.0) / (c_cls + {card['qb']}))"
        f" * ((COALESCE(c_db, 0) + 1.0) / (c_cls + {card['db']}))"
        f" * ((COALESCE(c_tb, 0) + 1.0) / (c_cls + {card['tb']}))"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qb", "db", "tb", "truth").orderBy(
        F.desc("score"), F.asc("cls")
    )
    pred = (
        scored.withColumn("score", F.expr(score_expr))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("truth", F.col("cls").alias("pred"), "w")
    )
    return (
        pred.rollup("truth")
        .agg(
            F.sum("w").alias("n_test"),
            F.coalesce(
                F.sum(F.when(F.col("pred") == F.col("truth"), F.col("w"))), F.lit(0)
            ).alias("n_correct"),
        )
        .select(
            F.coalesce(F.col("truth"), F.lit("ALL")).alias("label"),
            "n_test",
            "n_correct",
            F.expr("CAST(n_correct AS DOUBLE) / n_test").alias("accuracy"),
        )
        .orderBy("label")
    )


def _nb_sql() -> str:
    feats = {"qb": _NB_QB, "db": _NB_DB, "tb": _NB_TB}
    fsel = ", ".join(f"{e} AS {k}" for k, e in feats.items())
    lik = "\n".join(
        f"lik_{f} AS (SELECT l_returnflag AS cls, {f} AS {f}_v, COUNT(*) AS c_{f}"
        f" FROM train GROUP BY 1, 2),"
        for f in feats
    )
    cards = ", ".join(
        f"(SELECT COUNT(DISTINCT {f}) FROM train) AS v_{f}" for f in feats
    )
    joins = "\n".join(
        f"  LEFT JOIN lik_{f} ON lik_{f}.cls = p.cls AND lik_{f}.{f}_v = t.{f}"
        for f in feats
    )
    score = (
        "(CAST(p.c_cls AS DOUBLE) / (SELECT COUNT(*) FROM train))"
        " * ((COALESCE(c_qb, 0) + 1.0) / (p.c_cls + c.v_qb))"
        " * ((COALESCE(c_db, 0) + 1.0) / (p.c_cls + c.v_db))"
        " * ((COALESCE(c_tb, 0) + 1.0) / (p.c_cls + c.v_tb))"
    )
    return f"""
WITH base AS (
  SELECT l_orderkey, l_returnflag, {fsel} FROM lineitem
),
train AS (SELECT * FROM base WHERE l_orderkey % 2 = 0),
test AS (SELECT * FROM base WHERE l_orderkey % 2 = 1),
priors AS (SELECT l_returnflag AS cls, COUNT(*) AS c_cls FROM train GROUP BY 1),
{lik}
cardv AS (SELECT {cards}),
tuples AS (
  SELECT qb, db, tb, l_returnflag AS truth, COUNT(*) AS w
  FROM test GROUP BY 1, 2, 3, 4
),
scored AS (
  SELECT t.qb, t.db, t.tb, t.truth, t.w, p.cls,
         {score} AS score
  FROM tuples t CROSS JOIN priors p CROSS JOIN cardv c
{joins}
),
pred AS (
  SELECT truth, cls AS pred, w FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qb, db, tb, truth
                                 ORDER BY score DESC, cls ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT COALESCE(truth, 'ALL') AS label,
       CAST(SUM(w) AS BIGINT) AS n_test,
       CAST(COALESCE(SUM(CASE WHEN pred = truth THEN w END), 0) AS BIGINT) AS n_correct,
       CAST(COALESCE(SUM(CASE WHEN pred = truth THEN w END), 0) AS DOUBLE)
       / CAST(SUM(w) AS BIGINT) AS accuracy
FROM pred GROUP BY ROLLUP(truth)
ORDER BY label
"""


ML_NB_SQL = _nb_sql()


# ---------------------------------------------------------------------------
# ml_kmeans_fixed — integer fixed-point Lloyd iterations, oracle-exact
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 3
_KM_SCALE = 1_000_000  # float32 coords -> exact integer micro-units


def ml_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means with INTEGER fixed-point arithmetic, which
    makes an iterative float algorithm oracle-exact: coordinates
    scale to exact integer micro-units, distances are exact BIGINT
    sums of squares, and each Lloyd step's centroid is the
    element-wise integer mean (floor division). Every quantity is
    therefore engine-independent, so 3 full iterations unroll into
    chained CTEs in DuckDB and hash-match bit-for-bit — a correctness
    standard float k-means cannot meet.

    Scale shape per iteration: assignment = corpus × k broadcast
    centroids (narrow, argmin in one pass); update = posexplode to
    (cluster, dim) cells and one map-side-combined sum — k·dim result
    rows; the driver only ever sees the k×dim centroid table (the
    bounded-collect rule, same as the IVF quantizer)."""
    e = load_table(spark, sf_dir, "embeddings")
    iv = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT))"
        ).alias("v"),
    ).persist()  # one Lloyd pass per iteration re-reads the corpus
    try:
        cents = [
            (int(r["vec_id"]), list(r["v"]))
            for r in iv.filter(F.col("vec_id") < _KM_K).collect()
        ]
        cents = [(i, v) for i, (_, v) in enumerate(sorted(cents))]

        def dist_to(cv: list[int]) -> str:
            # exact squared distance to a LITERAL centroid: k narrow
            # expressions per row replace the old corpus × k crossJoin
            # + per-vec_id row_number window (one full shuffle + sort
            # of 8× the corpus per iteration, now zero shuffles)
            arr = "array(" + ",".join(f"{x}L" for x in cv) + ")"
            return (
                f"aggregate(zip_with(v, {arr}, (x, y) -> (x - y) * (x - y)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )

        rows = None
        for _ in range(_KM_ITERS):
            # argmin(d, cid) == the old ROW_NUMBER() OVER (ORDER BY d,
            # cid) = 1 tie-break, evaluated as a map-side struct min
            choice = F.array_min(
                F.array(
                    *[
                        F.struct(
                            F.expr(dist_to(cv)).alias("d"),
                            F.lit(cid).alias("cid"),
                        )
                        for cid, cv in cents
                    ]
                )
            )
            assigned = iv.withColumn("c", choice).select(
                F.col("c.cid").alias("cid"), F.col("c.d").alias("d"), "v"
            )
            cells = (
                assigned.select("cid", "d", F.posexplode("v").alias("dim", "x"))
                .groupBy("cid", "dim")
                .agg(
                    F.sum("x").alias("sx"),
                    F.count("*").alias("n"),
                    F.sum("d").alias("sd"),
                )
                # integer mean truncates toward zero in BOTH engines
                # (Spark `div` == DuckDB `//`: -7 div 2 = -3 in each)
                .select(
                    "cid",
                    "dim",
                    F.expr("CAST(sx div n AS BIGINT)").alias("m"),
                    "n",
                    "sd",
                )
            )
            # per-cid member count and inertia are constant across dims
            # (every member contributes one row per dim), so the SAME
            # collect that updates the centroids also carries the
            # final-iteration stats — the old dedicated stats pass over
            # a re-computed last assignment is gone
            rows = cells.groupBy("cid").agg(
                F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"),
                F.min("n").alias("n_members"),
                F.min("sd").alias("inertia"),
            ).collect()
            new_cents = {
                int(r["cid"]): [int(s["m"]) for s in r["dm"]] for r in rows
            }
            # empty clusters keep their previous centroid
            cents = [
                (cid, new_cents.get(cid, cv)) for cid, cv in cents
            ]
    finally:
        iv.unpersist()
    stat_map = {
        int(r["cid"]): (int(r["n_members"]), int(r["inertia"])) for r in rows
    }
    out = [
        (cid, *stat_map.get(cid, (0, 0)), sum(v)) for cid, v in sorted(cents)
    ]
    return spark.createDataFrame(
        out, "cid int, n_members long, inertia long, centroid_mass long"
    ).orderBy("cid")


def _kmeans_sql() -> str:
    dist = (
        "list_sum([(a.v[i] - c.cv[i]) * (a.v[i] - c.cv[i])"
        " for i in generate_series(1, len(a.v))])"
    )
    steps = [
        f"""iv AS (
  SELECT vec_id,
         [CAST(round(CAST(x AS DOUBLE) * {_KM_SCALE}) AS BIGINT) for x in embedding] AS v
  FROM embeddings
),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS cv
  FROM iv WHERE vec_id < {_KM_K}
)"""
    ]
    for it in range(_KM_ITERS):
        steps.append(
            f"""a{it + 1} AS (
  SELECT vec_id, v, cid, d FROM (
    SELECT a.vec_id, a.v, c.cid, {dist} AS d,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM iv a CROSS JOIN c{it} c
  ) WHERE rn = 1
)"""
        )
        steps.append(
                f"""c{it + 1} AS (
  SELECT p.cid,
         COALESCE(m.cv, p.cv) AS cv
  FROM c{it} p LEFT JOIN (
    SELECT cid, list(m ORDER BY dim) AS cv FROM (
      SELECT cid, dim, CAST(SUM(x) // COUNT(*) AS BIGINT) AS m
      FROM (
        SELECT cid, i AS dim, v[i] AS x
        FROM a{it + 1}, unnest(range(1, len(v) + 1)) AS r(i)
      ) GROUP BY cid, dim
    ) GROUP BY cid
  ) m ON m.cid = p.cid
)"""
            )
    chain = ",\n".join(steps)
    return f"""
WITH {chain}
SELECT c.cid,
       COALESCE(s.n_members, 0) AS n_members,
       COALESCE(s.inertia, 0) AS inertia,
       CAST(list_sum(c.cv) AS BIGINT) AS centroid_mass
FROM c{_KM_ITERS} c
LEFT JOIN (
  SELECT cid, COUNT(*) AS n_members, CAST(SUM(d) AS BIGINT) AS inertia
  FROM a{_KM_ITERS} GROUP BY cid
) s ON s.cid = c.cid
ORDER BY c.cid
"""


ML_KMEANS_SQL = _kmeans_sql()


# ---------------------------------------------------------------------------
# ml_perceptron_fixed — batch perceptron, integer fixed-point, unrolled oracle
# ---------------------------------------------------------------------------

_PC_DIMS = 16
_PC_EPOCHS = 5
_PC_SCALE = 10_000          # feature unit: 1e-4
_PC_SCALE2 = _PC_SCALE * _PC_SCALE  # bias unit matches w·x


def _pc_margin(w: list[int], b: int, spark_side: bool) -> str:
    """y * (w·x + b) with the weights inlined as exact integer
    literals. Spark needs the L suffix so 32-bit-overflowing literals
    stay BIGINT; DuckDB infers."""
    suf = "L" if spark_side else ""
    dot = " + ".join(
        f"CAST({w[i]}{suf} AS BIGINT) * x{i + 1}" for i in range(_PC_DIMS)
    )
    return f"y * ({dot} + CAST({b}{suf} AS BIGINT))"


def ml_perceptron_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BATCH perceptron (5 epochs) in integer fixed-point.

    The online perceptron is order-dependent and so unreproducible on a
    shuffled cluster; the batch variant updates once per epoch with the
    SUM of y·x over currently-misclassified rows — a pure aggregate,
    order-free, and integer-exact here because features quantize to
    1e-4 units (BIGINT) and the bias lives in matching squared units.
    Each epoch is ONE map-side-combinable aggregation (17 sums, no
    shuffle of rows, no window); the driver holds only the 16-weight
    vector — kmeans's bounded-collect discipline. The DuckDB oracle
    unrolls all 5 epochs as chained CTEs over the same integers and
    must hash-match bit-for-bit.

    Label: y = +1 for even ``label``, −1 otherwise (embeddings table).
    """
    e = load_table(spark, sf_dir, "embeddings")
    cols = [
        F.expr(
            f"CAST(round(CAST(element_at(embedding, {i + 1}) AS DOUBLE)"
            f" * {_PC_SCALE}) AS BIGINT)"
        ).alias(f"x{i + 1}")
        for i in range(_PC_DIMS)
    ]
    data = e.select(
        F.expr("CASE WHEN label % 2 = 0 THEN 1 ELSE -1 END")
        .cast("long")
        .alias("y"),
        *cols,
    )
    w = [0] * _PC_DIMS
    b = 0
    for _ in range(_PC_EPOCHS):
        mis = data.filter(F.expr(_pc_margin(w, b, True) + " <= 0"))
        upd = mis.agg(
            *[
                F.sum(F.col("y") * F.col(f"x{i + 1}")).alias(f"u{i + 1}")
                for i in range(_PC_DIMS)
            ],
            (F.sum("y") * _PC_SCALE2).alias("ub"),
        ).collect()[0]
        w = [w[i] + int(upd[f"u{i + 1}"] or 0) for i in range(_PC_DIMS)]
        b = b + int(upd["ub"] or 0)
    # one aggregate instead of two full-pass actions: the misclassified
    # count rides the row count as a conditional sum (same values)
    final_row = data.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.expr(f"IF({_pc_margin(w, b, True)} <= 0, 1, 0)")
        ).alias("mis"),
    ).first()
    n, final_mis = int(final_row["n"]), int(final_row["mis"] or 0)
    return spark.createDataFrame(
        [(n, final_mis, sum(w), b)],
        "n_rows long, n_misclassified long, weight_mass long, bias long",
    )


def _perceptron_sql() -> str:
    feat = ",\n         ".join(
        f"CAST(round(CAST(embedding[{i + 1}] AS DOUBLE) * {_PC_SCALE}) AS BIGINT)"
        f" AS x{i + 1}"
        for i in range(_PC_DIMS)
    )
    w_syms = [f"q.w{i + 1} * d.x{i + 1}" for i in range(_PC_DIMS)]
    margin = "d.y * (" + " + ".join(w_syms) + " + q.b)"
    e0 = ", ".join(f"CAST(0 AS BIGINT) AS w{i + 1}" for i in range(_PC_DIMS))
    epochs = []
    for t in range(1, _PC_EPOCHS + 1):
        upd_cols = ", ".join(
            f"CAST(SUM(d.y * d.x{i + 1}) AS BIGINT) AS u{i + 1}"
            for i in range(_PC_DIMS)
        )
        new_w = ", ".join(
            f"p.w{i + 1} + COALESCE(u.u{i + 1}, 0) AS w{i + 1}"
            for i in range(_PC_DIMS)
        )
        epochs.append(
            f"""e{t} AS (
  SELECT {new_w}, p.b + COALESCE(u.ub, 0) AS b
  FROM e{t - 1} p CROSS JOIN (
    SELECT {upd_cols}, CAST(SUM(d.y) * {_PC_SCALE2} AS BIGINT) AS ub
    FROM data d CROSS JOIN e{t - 1} q
    WHERE {margin} <= 0
  ) u
)"""
        )
    chain = ",\n".join(epochs)
    wmass = " + ".join(f"w{i + 1}" for i in range(_PC_DIMS))
    last = f"e{_PC_EPOCHS}"
    return f"""
WITH data AS (
  SELECT CAST(CASE WHEN label % 2 = 0 THEN 1 ELSE -1 END AS BIGINT) AS y,
         {feat}
  FROM embeddings
),
e0 AS (SELECT {e0}, CAST(0 AS BIGINT) AS b),
{chain}
SELECT (SELECT COUNT(*) FROM data) AS n_rows,
       (SELECT COUNT(*) FROM data d CROSS JOIN {last} q WHERE {margin} <= 0)
         AS n_misclassified,
       (SELECT CAST({wmass} AS BIGINT) FROM {last}) AS weight_mass,
       (SELECT b FROM {last}) AS bias
"""


ML_PERCEPTRON_SQL = _perceptron_sql()


# ---------------------------------------------------------------------------
# ml_feature_hash — hashing-trick featurization (signed 64-bucket BoW)
# ---------------------------------------------------------------------------

_FH_BUCKETS = 64


def ml_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al.): vocabulary-free bag-of-
    words featurization — token t lands in bucket md5(t) % 64 with
    sign from an independent hash bit, so the featurizer needs NO
    fitted vocabulary, no driver state, and never re-trains as the
    corpus grows (the property that matters at 100 TB: featurization
    is a pure projection). Output: the corpus-level signed/absolute
    mass per bucket — the marginal distribution a downstream linear
    model would see — all exact integers via the portable hash."""
    from ..operators.parallelism import ensure_parallelism
    from ..text.analysis import tokens

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = d.select(F.explode(tokens("text")).alias("w"))
    h = (
        "CAST(conv(substring(md5(concat('fh|', w)), 1, 15), 16, 10)"
        f" AS BIGINT) % {_FH_BUCKETS}"
    )
    sign = (
        "CASE WHEN CAST(conv(substring(md5(concat('fs|', w)), 1, 15), 16, 10)"
        " AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
    )
    return (
        tok.select(
            F.expr(h).alias("bucket"), F.expr(sign).cast("long").alias("sign")
        )
        .groupBy("bucket")
        .agg(
            F.sum("sign").alias("signed_mass"),
            F.count("*").alias("abs_mass"),
        )
        .orderBy("bucket")
    )


ML_FEATURE_HASH_SQL = f"""
WITH tok AS (
  SELECT u.w
  FROM (SELECT CASE WHEN trim(lower(text)) = '' THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(trim(lower(text)), '\\s+') END AS t
        FROM documents), unnest(t) AS u(w)
)
SELECT ('0x' || substr(md5('fh|' || w), 1, 15))::BIGINT % {_FH_BUCKETS} AS bucket,
       CAST(SUM(CASE WHEN ('0x' || substr(md5('fs|' || w), 1, 15))::BIGINT % 2 = 0
                THEN 1 ELSE -1 END) AS BIGINT) AS signed_mass,
       COUNT(*) AS abs_mass
FROM tok
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# ml_linear_probe — exact closed-form ridge "linear probe" on embeddings
# ---------------------------------------------------------------------------

_LP_DIMS = 16
_LP_SCALE = 1_000
_LP_LAMBDA = 1_000_000  # ridge, in squared quantized-feature units


def ml_linear_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-era evaluation workhorse: a RIDGE linear probe fit on
    frozen embeddings, closed-form and EXACT. Features quantize to
    integers (1e-3 units, 16 dims + bias), so the normal-equation
    Gram X'X and moment X'y are exact BIGINT aggregates — ONE
    map-side-combined pass shuffling 170 cells regardless of corpus
    size (a 17 × 17 Gram matrix of exact sums). The driver solves
    (X'X + lambda·I) w = X'y in exact RATIONALS (Fractions — no float
    linear algebra, no conditioning questions), and prediction is the
    sign of an exact integer dot product evaluated with Python
    bignums in an Arrow-batched UDF. Every number is therefore
    layout- and engine-independent; the oracle pins the per-SF
    results. Label: y = +1 for even ``label``."""
    from fractions import Fraction

    from pyspark.sql.functions import pandas_udf

    e = load_table(spark, sf_dir, "embeddings")
    feats = [
        F.expr(
            f"CAST(round(CAST(element_at(embedding, {j + 1}) AS DOUBLE)"
            f" * {_LP_SCALE}) AS BIGINT)"
        ).alias(f"x{j + 1}")
        for j in range(_LP_DIMS)
    ]
    data = e.select(
        F.expr("CASE WHEN label % 2 = 0 THEN 1 ELSE -1 END").cast("long").alias("y"),
        *feats,
    )
    d = _LP_DIMS + 1  # bias first
    cols = ["1"] + [f"x{j + 1}" for j in range(_LP_DIMS)]
    aggs = []
    for j in range(d):
        for k in range(j, d):
            aggs.append(
                F.sum(F.expr(f"CAST({cols[j]} AS BIGINT) * {cols[k]}")).alias(
                    f"g_{j}_{k}"
                )
            )
        aggs.append(F.sum(F.expr(f"y * {cols[j]}")).alias(f"t_{j}"))
    row = data.agg(*aggs).first()

    A = [[Fraction(0)] * d for _ in range(d)]
    b = [Fraction(0)] * d
    for j in range(d):
        for k in range(j, d):
            A[j][k] = A[k][j] = Fraction(int(row[f"g_{j}_{k}"]))
        A[j][j] += _LP_LAMBDA
        b[j] = Fraction(int(row[f"t_{j}"]))
    # exact Gaussian elimination with partial (magnitude) pivoting
    for c in range(d):
        piv = max(range(c, d), key=lambda r: abs(A[r][c]))
        A[c], A[piv] = A[piv], A[c]
        b[c], b[piv] = b[piv], b[c]
        for r in range(c + 1, d):
            f = A[r][c] / A[c][c]
            for k in range(c, d):
                A[r][k] -= f * A[c][k]
            b[r] -= f * b[c]
    w = [Fraction(0)] * d
    for r in range(d - 1, -1, -1):
        acc = b[r] - sum(A[r][k] * w[k] for k in range(r + 1, d))
        w[r] = acc / A[r][r]
    # common positive denominator -> integer weights, exact sign tests
    from math import lcm

    den = lcm(*(f.denominator for f in w))
    nums = [int(f * den) for f in w]

    @pandas_udf("long")
    def probe_sign(xs: pd.Series) -> pd.Series:
        out = []
        for vals in xs:
            score = nums[0]  # bias (x0 == 1)
            for nj, xv in zip(nums[1:], vals):
                score += nj * int(xv)
            out.append(1 if score > 0 else -1)
        return pd.Series(out, dtype="int64")

    scored = data.withColumn(
        "pred",
        probe_sign(F.array(*[F.col(f"x{j + 1}") for j in range(_LP_DIMS)])),
    )
    agg = scored.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("pred") == F.col("y")).cast("long")).alias("n_correct"),
    ).first()
    n, correct = int(agg["n_rows"]), int(agg["n_correct"])
    return spark.createDataFrame(
        [
            (
                n,
                correct,
                round(correct / n, 6),
                sum(1 for v in nums[1:] if v > 0),
            )
        ],
        "n_rows long, n_correct long, accuracy double, n_pos_weights long",
    )


ML_LINEAR_PROBE_SQL = keyed_values_oracle(
    "ml_linear_probe",
    [
        ("n_rows", "bigint"),
        ("n_correct", "bigint"),
        ("accuracy", "double"),
        ("n_pos_weights", "bigint"),
    ],
)


def ml_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the 64-dim embedding column (ml/pca.py):
    ONE Arrow-batched pass reduces the corpus to exact int64
    sufficient statistics (quantized 1e-3 units; d + d(d+1)/2 + 1
    cells shuffled, independent of row count), the driver builds the
    sample covariance from exact integers and runs a BLAS-free cyclic
    Jacobi eigensolve — bit-reproducible, hence the per-SF pinned
    value oracle. Emits the top-5 components: eigenvalue (squared
    1e-3 units), variance-explained ratio, and the dominant loading
    dim (sign-invariant). The 100 TB shape: data-linear map work,
    O(d²) shuffle, O(d³) driver solve."""
    from ..ml.pca import pca_components

    e = load_table(spark, sf_dir, "embeddings")
    rows = pca_components(e, dim=64, top_k=5)
    return spark.createDataFrame(
        [
            (
                r["component"],
                r["eigenvalue"],
                r["var_ratio"],
                r["top_dim"],
                r["top_loading_abs"],
            )
            for r in rows
        ],
        "component long, eigenvalue double, var_ratio double,"
        " top_dim long, top_loading_abs double",
    )


_CV_FOLDS = 5
_CV_H = (
    "CAST(conv(substring(md5(concat('fold|', CAST(vec_id AS STRING))), 1, 15),"
    " 16, 10) AS BIGINT)"
)
_CV_H_DUCK = "('0x' || substr(md5('fold|' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT"


def ml_cv_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation of a nearest-class-centroid classifier
    over the embeddings — fully SQL-expressible, so the oracle is a
    TRUE DuckDB value check, not a pin. Folds come from the portable
    md5 hash of vec_id; every fold's model is the LEAVE-ONE-FOLD-OUT
    class centroid, derived algebraically from per-(label,fold) sums
    (total − fold) rather than retraining 5 times — one long-format
    aggregation serves all 5 folds. Exactness: features quantize to
    1e-3 integers, centroids stay as exact rational (s, n) pairs, and
    the squared distance comparison uses Σ(x·n − s)² as an exact
    BIGINT before ONE double division — identical IEEE in both
    engines (int64 headroom to ~1e5 vectors; re-scale beyond).
    Scale shape: explode to (row × dim), two bounded aggs, and a
    (rows×dim) ⋈ (labels) broadcast-ish join — everything linear in
    the corpus, models bounded by labels×folds×dim."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.col("label").cast("long").alias("truth"),
        (F.expr(_CV_H) % _CV_FOLDS).alias("fold"),
        F.posexplode(
            F.expr(
                "transform(embedding, v ->"
                " CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))"
            )
        ).alias("pos", "xi"),
    )
    lf = q.groupBy(
        F.col("truth").alias("cl"), "fold", F.col("pos").alias("p")
    ).agg(F.sum("xi").alias("s_lf"), F.count(F.lit(1)).alias("n_lf"))
    tot = lf.groupBy("cl", "p").agg(
        F.sum("s_lf").alias("s_l"), F.sum("n_lf").alias("n_l")
    )
    folds = spark.range(_CV_FOLDS).select(F.col("id").alias("fold"))
    lofo = (
        tot.crossJoin(F.broadcast(folds))
        .join(lf, ["cl", "fold", "p"], "left")
        .fillna(0, subset=["s_lf", "n_lf"])
        .select(
            "cl",
            "fold",
            "p",
            (F.col("s_l") - F.col("s_lf")).alias("s"),
            (F.col("n_l") - F.col("n_lf")).alias("n"),
        )
        .filter(F.col("n") > 0)
    )
    scored = (
        q.join(lofo, (q.fold == lofo.fold) & (q.pos == lofo.p))
        .groupBy("vec_id", "truth", q.fold, "cl", "n")
        .agg(
            F.sum(
                (F.col("xi") * F.col("n") - F.col("s"))
                * (F.col("xi") * F.col("n") - F.col("s"))
            ).alias("a2")
        )
        .select(
            "vec_id",
            "truth",
            "fold",
            "cl",
            (F.col("a2").cast("double") / (F.col("n") * F.col("n"))).alias("dist"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy("dist", "cl")
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "truth", "fold", F.col("cl").alias("pred"))
    )
    return (
        pred.rollup("fold")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(F.when(F.col("pred") == F.col("truth"), 1).otherwise(0)).alias(
                "n_correct"
            ),
        )
        .select(
            F.coalesce("fold", F.lit(-1)).alias("fold"),
            "n_test",
            "n_correct",
            (F.col("n_correct").cast("double") / F.col("n_test")).alias("accuracy"),
        )
        .orderBy("fold")
    )


ML_CV_SQL = f"""
WITH q AS (
  SELECT vec_id, CAST(label AS BIGINT) AS truth,
         {_CV_H_DUCK} % {_CV_FOLDS} AS fold,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS xi
  FROM embeddings
),
lf AS (
  SELECT truth AS cl, fold, pos AS p,
         CAST(SUM(xi) AS BIGINT) AS s_lf, CAST(COUNT(*) AS BIGINT) AS n_lf
  FROM q GROUP BY 1, 2, 3
),
tot AS (
  SELECT cl, p, CAST(SUM(s_lf) AS BIGINT) AS s_l,
         CAST(SUM(n_lf) AS BIGINT) AS n_l
  FROM lf GROUP BY 1, 2
),
lofo AS (
  SELECT tot.cl, f.fold, tot.p,
         s_l - COALESCE(s_lf, 0) AS s, n_l - COALESCE(n_lf, 0) AS n
  FROM tot
  CROSS JOIN (SELECT unnest(generate_series(0, {_CV_FOLDS - 1})) AS fold) f
  LEFT JOIN lf ON lf.cl = tot.cl AND lf.fold = f.fold AND lf.p = tot.p
  WHERE s_l - COALESCE(s_lf, 0) IS NOT NULL
    AND n_l - COALESCE(n_lf, 0) > 0
),
scored AS (
  SELECT q.vec_id, q.truth, q.fold, lofo.cl, lofo.n,
         CAST(SUM((q.xi * lofo.n - lofo.s) * (q.xi * lofo.n - lofo.s))
              AS BIGINT) AS a2
  FROM q JOIN lofo ON q.fold = lofo.fold AND q.pos = lofo.p
  GROUP BY 1, 2, 3, 4, 5
),
pred AS (
  SELECT vec_id, truth, fold, cl AS pred
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY vec_id
      ORDER BY CAST(a2 AS DOUBLE) / (n * n), cl) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT COALESCE(fold, -1) AS fold,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       CAST(SUM(CASE WHEN pred = truth THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS accuracy
FROM pred
GROUP BY ROLLUP(fold)
ORDER BY fold
"""


def ml_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the leakage-safe categorical
    feature for gradient models: each order's priority is encoded as
    the mean total price of all OTHER orders sharing that priority,
    enc = (S_cat − v) / (n_cat − 1). The category statistics are one
    tiny broadcast-joined aggregate (5 rows), so at 100 TB the fact
    table never shuffles — the encode is a map-side join + arithmetic.
    Exactness: S_cat accumulates as DECIMAL(18,2) (order-independent),
    the numerator subtraction stays decimal, and ONE double division
    finishes — verbatim expression text in both engines. Output: the
    10 lowest order keys with their category stats and encoding."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
    )
    stats = o.groupBy(F.col("o_orderpriority").alias("cat")).agg(
        F.sum("v").alias("s_cat"), F.count(F.lit(1)).alias("n_cat")
    )
    return (
        o.join(F.broadcast(stats), o.o_orderpriority == stats.cat)
        .filter(F.col("o_orderkey") < 10)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "n_cat",
            F.col("s_cat").cast("double").alias("cat_sum"),
            (
                (F.col("s_cat") - F.col("v")).cast("double")
                / (F.col("n_cat") - 1)
            ).alias("loo_enc"),
        )
        .orderBy("o_orderkey")
    )


ML_TARGET_ENC_SQL = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS v
  FROM orders
),
stats AS (
  SELECT o_orderpriority AS cat, SUM(v) AS s_cat,
         CAST(COUNT(*) AS BIGINT) AS n_cat
  FROM o GROUP BY 1
)
SELECT o_orderkey, o_orderpriority, n_cat,
       CAST(s_cat AS DOUBLE) AS cat_sum,
       CAST(s_cat - v AS DOUBLE) / (n_cat - 1) AS loo_enc
FROM o JOIN stats ON o_orderpriority = cat
WHERE o_orderkey < 10
ORDER BY o_orderkey
"""


def ml_als_factorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS matrix factorization (ml/als.py) over the implicit ratings
    matrix events build: user × item (= the JSON ``props.k`` id),
    rating = exact-decimal mean event value. Two full alternations,
    rank 4: each half-step is an ``applyInPandas`` solve of one 4×4
    normal-equation system per entity with the opposite factor table
    JOINED in — the canonical distributed-ALS shape (ratings-parallel
    work, entity×k factor DataFrames moving between steps, never
    through the driver). All arithmetic is BLAS-free and
    sorted-order deterministic, so the output pins as a per-SF value
    oracle. Emits the top recommended UNSEEN item for the 8 lowest
    user ids plus a summary row (user_id=-1) carrying the training
    RMSE. Every stage is cluster-side at 100 TB shape: RMSE is a
    factor-join + order-free quantized-error aggregate, "unseen" is a
    left-anti join against the sampled users' histories, and top-1 is
    a per-user window — no ratings-sized collect anywhere."""
    from ..ml.als import als_squared_error, als_train

    e = load_table(spark, sf_dir, "events")
    ratings = (
        e.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("long").alias("item_id"),
            F.col("value").cast("decimal(18,3)").alias("v"),
        )
        .filter(F.col("item_id").isNotNull())
        .groupBy("user_id", "item_id")
        .agg((F.sum("v").cast("double") / F.count(F.lit(1))).alias("rating"))
    )
    # the bounded ratings table (users × items) feeds the mu aggregate,
    # 4 half-steps and the RMSE pass — persist the RATINGS (so the mu
    # aggregate is the one job that scans the raw event log; persisting
    # ``centered`` instead re-scanned events a second time under the
    # first half-step) and derive ``centered`` as a map over the cache
    ratings = ratings.persist()
    # center on the exact-decimal global mean (the usual bias term):
    # factors then model residuals and unseen-item scores stay on the
    # rating scale instead of extrapolating past it; the one-row agg
    # first() is the only driver value in the whole query
    mu_row = ratings.agg(
        (F.sum(F.col("rating").cast("decimal(28,10)")).cast("double") / F.count(F.lit(1))).alias("mu")
    ).first()
    mu = float(mu_row["mu"])
    centered = ratings.withColumn("rating", F.col("rating") - F.lit(mu))
    # each half-step is a tiny-shuffle Python-UDF stage: 32 shuffle
    # partitions means 32 worker spin-ups per stage for a bounded
    # (users × items) table — 8 partitions cuts the fixed overhead
    # without changing any value (solves are per-group)
    part_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(part_key)
    spark.conf.set(part_key, "8")
    try:
        p, q = als_train(centered, n_iter=2)  # localCheckpointed factor DFs
        # distributed RMSE: join factors back, quantize per-row squared
        # error to BIGINT micro-units (order-free exact sum)
        summary = als_squared_error(centered, p, q, "user_id", "item_id").select(
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(-1).cast("long").alias("rec_item"),
            F.round(F.sqrt((F.col("se_micro") / 1e6) / F.col("n")), 6).alias("score"),
        )
        # recommend for the 8 lowest user ids: candidates = users × all
        # items, minus the seen pairs (left-anti against ONLY those
        # users' histories — bounded however large the full log is),
        # top-1 per user by (score desc, item asc) window
        users8 = p.orderBy("user_id").limit(8)
        seen8 = centered.join(users8.select("user_id"), "user_id").select(
            "user_id", "item_id"
        )
        pu = users8.select("user_id", *[F.col(f"f{i}").alias(f"pf{i}") for i in range(4)])
        qi = q.select("item_id", *[F.col(f"f{i}").alias(f"qf{i}") for i in range(4)])
        score = F.lit(mu) + (
            F.col("pf0") * F.col("qf0")
            + F.col("pf1") * F.col("qf1")
            + F.col("pf2") * F.col("qf2")
            + F.col("pf3") * F.col("qf3")
        )
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
        recs = (
            pu.crossJoin(qi)
            .join(seen8, ["user_id", "item_id"], "left_anti")
            .withColumn("score", score)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "user_id",
                F.col("item_id").alias("rec_item"),
                F.round("score", 6).alias("score"),
            )
        )
        out = summary.unionAll(recs).orderBy("user_id")
    finally:
        spark.conf.set(part_key, prev_parts)
        # the training (the expensive part) is frozen inside the
        # localCheckpointed factor tables; the returned plan re-derives
        # only the small ratings aggregate, so releasing the cache here
        # costs one extra events scan and leaves nothing pinned behind
        ratings.unpersist()
    return out


ML_ALS_SQL = keyed_values_oracle(
    "ml_als_factorize",
    [
        ("user_id", "bigint"),
        ("rec_item", "bigint"),
        ("score", "double"),
    ],
)


ML_PCA_SQL = keyed_values_oracle(
    "ml_pca_embeddings",
    [
        ("component", "bigint"),
        ("eigenvalue", "double"),
        ("var_ratio", "double"),
        ("top_dim", "bigint"),
        ("top_loading_abs", "double"),
    ],
)


# ---------------------------------------------------------------------------
# ml_isotonic_calibration — monotone calibration fit (PAVA over buckets)
# ---------------------------------------------------------------------------

_ISO_BUCKET_W = 5000  # o_totalprice quantization → ≤100 buckets


def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration of P(status = 'F')
    against the order-price axis — the classic probability-calibration
    fit (Platt's rival) that MLlib's IsotonicRegression answers with
    float PAVA. Here the 100 TB pass is ONE map-side-combinable
    groupBy to ≤100 price buckets; PAVA runs on the driver over those
    BOUNDED cells with exact integer rationals (pool means compared by
    cross-multiplication — ml/isotonic.py), so the fitted step
    function is deterministic to the bit and the per-SF pinned oracle
    is legitimate. fitted_ppm carries the pooled mean exactly
    ((1e6·num) div den); fitted_rate is the one IEEE division.
    """
    from ..ml.isotonic import pava_rational

    o = load_table(spark, sf_dir, "orders")
    g = (
        o.select(
            F.expr(
                f"CAST(FLOOR(o_totalprice / CAST({_ISO_BUCKET_W} AS DOUBLE))"
                " AS BIGINT)"
            ).alias("bucket"),
            (F.col("o_orderstatus") == "F").cast("long").alias("y"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("y").alias("sum_y"))
    )
    # bounded collect: ≤ (price domain / bucket width) ≈ 100 cells
    cells = sorted((r["bucket"], r["n"], r["sum_y"]) for r in g.collect())
    fit = pava_rational(cells)
    fit_rows = [
        (int(b), (1_000_000 * num) // den, num / den)
        for (b, _n, _sy), (_b2, num, den) in zip(cells, fit)
    ]
    fit_df = spark.createDataFrame(
        fit_rows, "bucket long, fitted_ppm long, fitted_rate double"
    )
    # join the fitted step function back onto the LIVE aggregate so the
    # returned plan carries the data-sized pass (auditable) and the
    # broadcast-literal fit — the shape the model would ship with
    return (
        g.join(F.broadcast(fit_df), "bucket")
        .select("bucket", "n", "sum_y", "fitted_ppm", "fitted_rate")
        .orderBy("bucket")
    )


ML_ISOTONIC_SQL = keyed_values_oracle(
    "ml_isotonic_calibration",
    [
        ("bucket", "bigint"),
        ("n", "bigint"),
        ("sum_y", "bigint"),
        ("fitted_ppm", "bigint"),
        ("fitted_rate", "double"),
    ],
)


# ---------------------------------------------------------------------------
# ml_roc_auc — ROC curve points + exact trapezoid AUC in ppm integers
# ---------------------------------------------------------------------------

_ROC_BUCKET_W = 25_000  # score quantization: o_totalprice in 25k-wide bands

# tpr/fpr are single IEEE divisions over exact cumulative integers
_ROC_TPR = "CAST(cum_tp AS DOUBLE) / CAST(pos AS DOUBLE)"
_ROC_FPR = "CAST(cum_fp AS DOUBLE) / CAST(neg AS DOUBLE)"


def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve + AUC for a scorer, computed EXACTLY from grouped
    integers — the classifier-evaluation staple, engine-hash-exact:
    scores (order totals) quantize to ~20 descending bands; cumulative
    TP/FP at each band give the ROC points; the trapezoid AUC numerator
    Σ Δfp·(tp_i + tp_{i−1}) accumulates as BIGINTs and divides once by
    2·P·N into ppm. Label = order status 'F'. (The Mann-Whitney U twin,
    stat_mannwhitney, checks the same quantity from the rank side.)

    Scale: one map-side-combinable groupBy to ~20 band cells; every
    window below runs on those cells. 100 TB of scored rows → one scan."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    g = (
        o.select(
            F.expr(
                f"CAST(FLOOR(o_totalprice / CAST({_ROC_BUCKET_W} AS DOUBLE))"
                " AS BIGINT)"
            ).alias("band"),
            F.expr("IF(o_orderstatus = 'F', 1, 0)").alias("y"),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.sum("y").alias("tp"))
    )
    w_cum = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = g.select(
        "band",
        F.sum("tp").over(w_cum).alias("cum_tp"),
        (F.sum("n").over(w_cum) - F.sum("tp").over(w_cum)).alias("cum_fp"),
        F.sum("tp").over(wall).alias("pos"),
        (F.sum("n").over(wall) - F.sum("tp").over(wall)).alias("neg"),
    )
    w_lag = Window.orderBy(F.desc("band"))
    stepped = cum.select(
        "band",
        "cum_tp",
        "cum_fp",
        "pos",
        "neg",
        F.coalesce(F.lag("cum_tp").over(w_lag), F.lit(0)).alias("prev_tp"),
        F.coalesce(F.lag("cum_fp").over(w_lag), F.lit(0)).alias("prev_fp"),
    ).withColumn(
        "step_num",
        F.expr("(cum_fp - prev_fp) * (cum_tp + prev_tp)"),
    )
    return stepped.select(
        "band",
        "cum_tp",
        "cum_fp",
        F.expr(_ROC_TPR).alias("tpr"),
        F.expr(_ROC_FPR).alias("fpr"),
        # the ppm scaling rides on DECIMAL so 1e6·Σstep never outgrows
        # BIGINT (Σstep = 2·AUC·P·N ~ 1e14 at sf10; ×1e6 would wrap a
        # long) — the quotient itself is ≤ 1e6 and lands back in BIGINT
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * sum(step_num) over ())"
            " div (CAST(2 AS DECIMAL(19,0)) * pos * neg)"
        ).alias("auc_ppm"),
    ).orderBy(F.desc("band"))


ML_ROC_SQL = f"""
WITH g AS (
  SELECT CAST(FLOOR(o_totalprice / CAST({_ROC_BUCKET_W} AS DOUBLE)) AS BIGINT)
           AS band,
         COUNT(*) AS n,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS tp
  FROM orders GROUP BY 1
), cum AS (
  SELECT band,
         SUM(tp) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
         SUM(n) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - SUM(tp) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_fp,
         SUM(tp) OVER () AS pos,
         SUM(n) OVER () - SUM(tp) OVER () AS neg
  FROM g
), stepped AS (
  SELECT *,
         (cum_fp - COALESCE(LAG(cum_fp) OVER (ORDER BY band DESC), 0))
         * (cum_tp + COALESCE(LAG(cum_tp) OVER (ORDER BY band DESC), 0))
           AS step_num
  FROM cum
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(cum_tp AS BIGINT) AS cum_tp,
       CAST(cum_fp AS BIGINT) AS cum_fp,
       {_ROC_TPR} AS tpr,
       {_ROC_FPR} AS fpr,
       CAST((1000000 * CAST(SUM(step_num) OVER () AS HUGEINT))
            // (2 * CAST(pos AS HUGEINT) * CAST(neg AS HUGEINT)) AS BIGINT)
         AS auc_ppm
FROM stepped
ORDER BY band DESC
"""


# ---------------------------------------------------------------------------
# ml_pr_auc — precision-recall curve + step-interpolated AUC, exact
# ---------------------------------------------------------------------------


def ml_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve + AUC-PR — the imbalanced-class companion
    to ml_roc_auc (same scorer, same 25k score bands, label = status
    'F'): at each descending score band, precision = TP/(TP+FP) and
    recall = TP/P from cumulative EXACT integers; the step-interpolated
    AUC accumulates per-band micro-unit contributions
    ΔTP·TP·1e6 div (TP+FP) on DECIMAL (never outgrows BIGINT) and
    divides once by P into ppm — both engines replay the identical
    integer fold, so the hash matches bit-for-bit.

    Scale: one map-side-combinable groupBy to ~20 band cells; all
    windows run on the cells. 100 TB of scored rows → one scan."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    g = (
        o.select(
            F.expr(
                f"CAST(FLOOR(o_totalprice / CAST({_ROC_BUCKET_W} AS DOUBLE))"
                " AS BIGINT)"
            ).alias("band"),
            F.expr("IF(o_orderstatus = 'F', 1, 0)").alias("y"),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.sum("y").alias("tp"))
    )
    w_cum = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    w_lag = Window.orderBy(F.desc("band"))
    cum = g.select(
        "band",
        F.sum("tp").over(w_cum).alias("cum_tp"),
        (F.sum("n").over(w_cum) - F.sum("tp").over(w_cum)).alias("cum_fp"),
        F.sum("tp").over(wall).alias("pos"),
    )
    stepped = cum.withColumn(
        "prev_tp", F.coalesce(F.lag("cum_tp").over(w_lag), F.lit(0))
    ).withColumn(
        "contrib_micro",
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0)) * (cum_tp - prev_tp) * cum_tp)"
            " div (cum_tp + cum_fp)"
        ),
    )
    return stepped.select(
        "band",
        "cum_tp",
        "cum_fp",
        F.expr("CAST(cum_tp AS DOUBLE) / (cum_tp + cum_fp)").alias("precision"),
        F.expr("CAST(cum_tp AS DOUBLE) / pos").alias("recall"),
        F.expr(
            "CAST(sum(contrib_micro) over () div CAST(pos AS DECIMAL(19,0))"
            " AS BIGINT)"
        ).alias("pr_auc_ppm"),
    ).orderBy(F.desc("band"))


ML_PR_AUC_SQL = f"""
WITH g AS (
  SELECT CAST(FLOOR(o_totalprice / CAST({_ROC_BUCKET_W} AS DOUBLE)) AS BIGINT)
           AS band,
         COUNT(*) AS n,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS tp
  FROM orders GROUP BY 1
), cum AS (
  SELECT band,
         SUM(tp) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
         SUM(n) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - SUM(tp) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_fp,
         SUM(tp) OVER () AS pos
  FROM g
), stepped AS (
  SELECT *,
         (CAST(1000000 AS HUGEINT)
          * (cum_tp - COALESCE(LAG(cum_tp) OVER (ORDER BY band DESC), 0))
          * cum_tp) // (cum_tp + cum_fp) AS contrib_micro
  FROM cum
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(cum_tp AS BIGINT) AS cum_tp,
       CAST(cum_fp AS BIGINT) AS cum_fp,
       CAST(cum_tp AS DOUBLE) / (cum_tp + cum_fp) AS precision,
       CAST(cum_tp AS DOUBLE) / pos AS recall,
       CAST(SUM(contrib_micro) OVER () // CAST(pos AS HUGEINT) AS BIGINT)
         AS pr_auc_ppm
FROM stepped
ORDER BY band DESC
"""


# ---------------------------------------------------------------------------
# ml_gain_lift_deciles — cumulative gains / lift chart, exact ranks
# ---------------------------------------------------------------------------


def ml_gain_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains + lift by score decile — the campaign-targeting
    chart (top 10% of scores captures X% of positives at Y× lift).
    Decile assignment reproduces NTILE over (score DESC, key) EXACTLY
    but scale-shaped: the global rank decomposes into the cents-value
    histogram's cumulative base (how many rows score strictly higher)
    plus a row_number WITHIN the same-cents group (partitioned by the
    VALUE, never one global partition) — floor(10·(rank−1)/N) is then
    NTILE's balanced-bucket formula for N divisible by 10 and
    tie-broken total orders, and recall/lift fold from exact integers
    into ppm.

    Scale: one histogram groupBy, one per-cents-value window, one
    10-row rollup. No global sort, no single-partition window."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)"
            " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("cents"),
        F.expr("IF(o_orderstatus = 'F', 1, 0)").alias("y"),
    )
    hist = o.groupBy("cents").agg(F.count("*").alias("cnt"))
    w_above = Window.orderBy(F.desc("cents")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = hist.select(
        "cents",
        F.coalesce(F.sum("cnt").over(w_above), F.lit(0)).alias("n_above"),
    )
    w_in = Window.partitionBy("cents").orderBy("o_orderkey")
    ranked = (
        o.join(base, "cents")
        .select(
            "y",
            (F.col("n_above") + F.row_number().over(w_in)).alias("rk"),
        )
    )
    wall = Window.partitionBy()
    deciles = (
        ranked.crossJoin(
            F.broadcast(ranked.agg(F.count("*").alias("n_tot")))
        )
        .select("y", F.expr("(10 * (rk - 1)) div n_tot").alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("n"), F.sum("y").alias("pos"))
    )
    w_cumd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = deciles.select(
        "decile",
        "n",
        "pos",
        F.sum("n").over(w_cumd).alias("cum_n"),
        F.sum("pos").over(w_cumd).alias("cum_pos"),
        F.sum("n").over(wall).alias("n_tot"),
        F.sum("pos").over(wall).alias("pos_tot"),
    )
    return cum.select(
        "decile",
        "n",
        "pos",
        F.expr("(1000000 * cum_pos) div pos_tot").alias("gain_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_pos * n_tot)"
            " div (CAST(cum_n AS DECIMAL(19,0)) * pos_tot) AS BIGINT)"
        ).alias("lift_ppm"),
    ).orderBy("decile")


ML_GAIN_LIFT_SQL = """
WITH src AS (
  SELECT o_orderkey,
         CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders
), hist AS (
  SELECT cents, COUNT(*) AS cnt FROM src GROUP BY 1
), base AS (
  SELECT cents,
         COALESCE(SUM(cnt) OVER (ORDER BY cents DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_above
  FROM hist
), ranked AS (
  SELECT s.y,
         b.n_above
         + ROW_NUMBER() OVER (PARTITION BY s.cents ORDER BY s.o_orderkey)
           AS rk
  FROM src s JOIN base b ON s.cents = b.cents
), deciles AS (
  SELECT (10 * (rk - 1)) // (SELECT COUNT(*) FROM src) AS decile,
         COUNT(*) AS n, SUM(y) AS pos
  FROM ranked GROUP BY 1
), cum AS (
  SELECT decile, n, pos,
         SUM(n) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         SUM(pos) OVER (ORDER BY decile
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
         SUM(n) OVER () AS n_tot, SUM(pos) OVER () AS pos_tot
  FROM deciles
)
SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n,
       CAST(pos AS BIGINT) AS pos,
       CAST((1000000 * cum_pos) // pos_tot AS BIGINT) AS gain_ppm,
       CAST((CAST(1000000 AS HUGEINT) * cum_pos * n_tot)
            // (CAST(cum_n AS HUGEINT) * pos_tot) AS BIGINT) AS lift_ppm
FROM cum ORDER BY decile
"""


# ---------------------------------------------------------------------------
# ml_ks_separation — Kolmogorov-Smirnov score separation, exact ppm
# ---------------------------------------------------------------------------


def ml_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS separation of a scorer — max |TPR − FPR| over thresholds, the
    credit-scoring discrimination staple (and the ROC-space distance of
    the best single threshold). Uses the same 25k score bands as
    ml_roc_auc; the KS numerator |cum_tp·neg − cum_fp·pos| stays an
    exact BIGINT per band, the argmax band resolves with a smallest-
    band tiebreak, and ONE division lands ks (double) + ks_ppm (exact).

    Scale: one map-side-combinable groupBy to ~20 band cells; the
    sweep runs on the cells."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    g = (
        o.select(
            F.expr(
                f"CAST(FLOOR(o_totalprice / CAST({_ROC_BUCKET_W} AS DOUBLE))"
                " AS BIGINT)"
            ).alias("band"),
            F.expr("IF(o_orderstatus = 'F', 1, 0)").alias("y"),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.sum("y").alias("tp"))
    )
    w_cum = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    cum = g.select(
        "band",
        F.sum("tp").over(w_cum).alias("cum_tp"),
        (F.sum("n").over(w_cum) - F.sum("tp").over(w_cum)).alias("cum_fp"),
        F.sum("tp").over(wall).alias("pos"),
        (F.sum("n").over(wall) - F.sum("tp").over(wall)).alias("neg"),
    ).withColumn(
        "ks_num", F.expr("ABS(cum_tp * neg - cum_fp * pos)")
    )
    return (
        cum.orderBy(F.desc("ks_num"), "band")
        .limit(1)
        .select(
            F.col("band").alias("ks_band"),
            "cum_tp",
            "cum_fp",
            "pos",
            "neg",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * ks_num)"
                " div (CAST(pos AS DECIMAL(19,0)) * neg) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


ML_KS_SEP_SQL = f"""
WITH g AS (
  SELECT CAST(FLOOR(o_totalprice / CAST({_ROC_BUCKET_W} AS DOUBLE)) AS BIGINT)
           AS band,
         COUNT(*) AS n,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS tp
  FROM orders GROUP BY 1
), cum AS (
  SELECT band,
         SUM(tp) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tp,
         SUM(n) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - SUM(tp) OVER (ORDER BY band DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_fp,
         SUM(tp) OVER () AS pos,
         SUM(n) OVER () - SUM(tp) OVER () AS neg
  FROM g
), k AS (
  SELECT *, ABS(cum_tp * neg - cum_fp * pos) AS ks_num FROM cum
)
SELECT CAST(band AS BIGINT) AS ks_band,
       CAST(cum_tp AS BIGINT) AS cum_tp, CAST(cum_fp AS BIGINT) AS cum_fp,
       CAST(pos AS BIGINT) AS pos, CAST(neg AS BIGINT) AS neg,
       CAST((CAST(1000000 AS HUGEINT) * ks_num)
            // (CAST(pos AS HUGEINT) * neg) AS BIGINT) AS ks_ppm
FROM k ORDER BY ks_num DESC, band LIMIT 1
"""


# ---------------------------------------------------------------------------
# ml_brier_score — probability-forecast calibration error, exact ppm
# ---------------------------------------------------------------------------


def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of a min-max-normalized probability forecast —
    mean squared error between p and the binary outcome, THE proper
    scoring rule for calibration monitoring. p quantizes to ppm via
    the shared FLOOR((x−min)/(max−min)·1e6) text (subtraction exact,
    division/multiplication correctly rounded IEEE — identical in both
    engines), so every squared error is an exact BIGINT and the sum
    rides DECIMAL; one double division lands the score. Also reports
    the base rate and mean forecast in exact ppm (calibration-in-the-
    large: their gap is the forecast bias).

    Scale: one scalar min/max agg broadcast back (crossJoin, no window
    over rows), one map-side-combinable pass. 100 TB → two scans."""
    o = load_table(spark, sf_dir, "orders")
    mm = o.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    scored = o.crossJoin(F.broadcast(mm)).select(
        F.expr(
            "CAST(FLOOR((o_totalprice - mn) / (mx - mn)"
            " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
        ).alias("p_ppm"),
        F.expr("IF(o_orderstatus = 'F', 1, 0)").alias("y"),
    )
    agg = scored.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("pos"),
        F.sum("p_ppm").alias("sum_p"),
        F.sum(
            F.expr(
                "CAST(p_ppm - y * 1000000 AS DECIMAL(19,0))"
                " * (p_ppm - y * 1000000)"
            )
        ).cast("decimal(38,0)").alias("se_sum"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.expr("CAST((1000000 * pos) div n AS BIGINT)").alias("base_rate_ppm"),
        F.expr("CAST(sum_p div n AS BIGINT)").alias("mean_forecast_ppm"),
        F.expr(
            "CAST(se_sum AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(1000000 AS DOUBLE)"
            " * CAST(1000000 AS DOUBLE))"
        ).alias("brier"),
    )


ML_BRIER_SQL = """
WITH mm AS (
  SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
), scored AS (
  SELECT CAST(FLOOR((o_totalprice - mn) / (mx - mn)
              * CAST(1000000 AS DOUBLE)) AS BIGINT) AS p_ppm,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders, mm
), agg AS (
  SELECT COUNT(*) AS n, SUM(y) AS pos, SUM(p_ppm) AS sum_p,
         SUM(CAST(p_ppm - y * 1000000 AS HUGEINT)
             * (p_ppm - y * 1000000)) AS se_sum
  FROM scored
)
SELECT CAST(n AS BIGINT) AS n,
       CAST((1000000 * pos) // n AS BIGINT) AS base_rate_ppm,
       CAST(sum_p // n AS BIGINT) AS mean_forecast_ppm,
       CAST(se_sum AS DOUBLE)
       / (CAST(n AS DOUBLE) * CAST(1000000 AS DOUBLE)
          * CAST(1000000 AS DOUBLE)) AS brier
FROM agg
"""


# ---------------------------------------------------------------------------
# ml_conformal_interval — split-conformal regression intervals, exact
# ---------------------------------------------------------------------------

_CF_ALPHA_NUM, _CF_ALPHA_DEN = 1, 10  # alpha = 0.1 -> 90% target coverage


def ml_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals — distribution-free
    uncertainty with a finite-sample coverage GUARANTEE — for a
    per-returnflag linear model (price ~ quantity), end to end exact.

    The portable hash splits rows into train/calibration/test
    (engine-reproducible, leakage-free by construction); the fit is
    the exact-decimal normal-equation solve (one closed-form
    expression both engines evaluate alike); q-hat is the ceil((1-alpha)(n+1))-th smallest
    absolute calibration residual, selected by rank under a total
    order (residual, orderkey, linenumber) — the w6 selection pattern,
    partitioned per group so no global sort exists; and coverage is an
    integer count ratio. Split-conformal theory then guarantees
    E[coverage] >= 90% regardless of the model being misspecified —
    which the test asserts empirically."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("decimal(18,2)").alias("x"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )
    arm = (
        "CAST(conv(substring(md5(concat('cf|', CAST(l_orderkey AS STRING),"
        " '#', CAST(l_linenumber AS STRING))), 1, 15), 16, 10) AS BIGINT) % 4"
    )
    # The md5 arm-split and the residual expression feed THREE
    # consumers (fit, calibration rank, test coverage); unchecked, the
    # optimizer evaluates the 600k-row md5+conv subtree once per branch
    # (measured 3× = ~55% of this query's wall). Lazy checkpoints pin
    # each to ONE evaluation; both tables are slim projections of
    # lineitem, so the materialization is linear and cluster-resident.
    # SCALE CONTRACT (r12, measured): l + scored checkpoint to
    # ~310 B/lineitem row — 187 MB at sf0.1, 1.87 GB at sf1, linear.
    # MEMORY_AND_DISK (spills; bound is cluster disk), not
    # fault-tolerant (a lost executor re-fails the query) — the
    # accepted trade against re-running the md5 arm-split per branch
    # (~55% wall); blocks are reclaimed when the frame's reference is
    # GC'd (the bench forces that between queries).
    l = l.withColumn("arm", F.expr(arm)).localCheckpoint(eager=False)
    fit = (
        l.filter(F.col("arm") >= 2)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_train"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.expr("x * x")).cast("double").alias("sxx"),
            F.sum(F.expr("x * y")).cast("double").alias("sxy"),
        )
        .select(
            "l_returnflag",
            "n_train",
            F.expr(
                "(n_train * sxy - sx * sy) / (n_train * sxx - sx * sx)"
            ).alias("slope"),
            F.expr(
                "(sy - ((n_train * sxy - sx * sy) / (n_train * sxx - sx * sx)) * sx)"
                " / n_train"
            ).alias("intercept"),
        )
    )
    scored = (
        l.join(F.broadcast(fit), "l_returnflag")
        .withColumn(
            "r",
            F.expr(
                "abs(CAST(y AS DOUBLE) - (slope * CAST(x AS DOUBLE) + intercept))"
            ),
        )
        .localCheckpoint(eager=False)
    )
    # the calibration split grows with the data and the flag key has 3
    # values: a per-flag rank window would sort a third of it in ONE
    # task — grouped_range_rank keeps the sort range-partitioned
    cal = scored.filter(F.col("arm") == 0).select(
        "l_returnflag", "r", "l_orderkey", "l_linenumber"
    )
    qhat = (
        grouped_range_rank(
            cal,
            ["l_returnflag"],
            ["r", "l_orderkey", "l_linenumber"],
            "rn",
            count_col="n_cal",
        )
        .filter(
            F.expr(
                f"rn = (({_CF_ALPHA_DEN - _CF_ALPHA_NUM} * (n_cal + 1)"
                f" + {_CF_ALPHA_DEN - 1}) div {_CF_ALPHA_DEN})"
            )
        )
        .select("l_returnflag", F.col("r").alias("qhat"), "n_cal")
    )
    test = scored.filter(F.col("arm") == 1)
    cov = (
        test.join(F.broadcast(qhat), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(F.expr("CASE WHEN r <= qhat THEN 1 ELSE 0 END")).alias("n_covered"),
        )
    )
    return (
        fit.join(qhat, "l_returnflag")
        .join(cov, "l_returnflag")
        .select(
            "l_returnflag",
            "n_train",
            "n_cal",
            "n_test",
            F.round("qhat", 6).alias("qhat"),
            "n_covered",
            F.expr("CAST(n_covered AS DOUBLE) / n_test").alias("coverage"),
        )
        .orderBy("l_returnflag")
    )


ML_CONFORMAL_SQL = f"""
WITH l AS (
  SELECT l_returnflag, l_orderkey, l_linenumber,
         CAST(l_quantity AS DECIMAL(18,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y,
         ('0x' || substr(md5('cf|' || CAST(l_orderkey AS VARCHAR) || '#'
            || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 4 AS arm
  FROM lineitem
),
fit AS (
  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_train,
         (COUNT(*) * CAST(SUM(x * y) AS DOUBLE) - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
           / (COUNT(*) * CAST(SUM(x * x) AS DOUBLE) - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
           AS slope_raw,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(x * y) AS DOUBLE) AS sxy
  FROM l WHERE arm >= 2 GROUP BY l_returnflag
),
fit2 AS (
  SELECT l_returnflag, n_train,
         (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) AS slope,
         (sy - ((n_train * sxy - sx * sy) / (n_train * sxx - sx * sx)) * sx)
           / n_train AS intercept
  FROM fit
),
scored AS (
  SELECT l.*, f.n_train, f.slope, f.intercept,
         abs(CAST(y AS DOUBLE) - (f.slope * CAST(x AS DOUBLE) + f.intercept)) AS r
  FROM l JOIN fit2 f USING (l_returnflag)
),
qhat AS (
  SELECT l_returnflag, r AS qhat, n_cal FROM (
    SELECT l_returnflag, r,
           ROW_NUMBER() OVER (PARTITION BY l_returnflag
                              ORDER BY r, l_orderkey, l_linenumber) AS rn,
           COUNT(*) OVER (PARTITION BY l_returnflag) AS n_cal
    FROM scored WHERE arm = 0
  ) WHERE rn = (({_CF_ALPHA_DEN - _CF_ALPHA_NUM} * (n_cal + 1)
                 + {_CF_ALPHA_DEN - 1}) // {_CF_ALPHA_DEN})
),
cov AS (
  SELECT s.l_returnflag, COUNT(*) AS n_test,
         CAST(SUM(CASE WHEN s.r <= q.qhat THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
  FROM scored s JOIN qhat q USING (l_returnflag)
  WHERE s.arm = 1
  GROUP BY s.l_returnflag
)
SELECT f.l_returnflag, f.n_train, CAST(q.n_cal AS BIGINT) AS n_cal,
       c.n_test, ROUND(q.qhat, 6) AS qhat, c.n_covered,
       CAST(c.n_covered AS DOUBLE) / c.n_test AS coverage
FROM fit2 f
JOIN qhat q USING (l_returnflag)
JOIN cov c USING (l_returnflag)
ORDER BY f.l_returnflag
"""


# ---------------------------------------------------------------------------
# ml_logreg_gd — full-batch logistic regression, quantized gradients
# ---------------------------------------------------------------------------

_LR_ITERS = 3
_LR_RATE = 5.0
_LR_DIMS = 4
_LR_Q = 1_000_000_000  # gradient quantizer (nano-units)


def _lr_feats_spark() -> list:
    return [
        F.expr(f"CAST(element_at(embedding, {j + 1}) AS DOUBLE)").alias(f"x{j + 1}")
        for j in range(_LR_DIMS)
    ]


def _lr_z(w: list[float]) -> str:
    """Fixed-order affine score — identical literal text both engines."""
    terms = [f"{w[0]!r}"] + [f"{w[j + 1]!r} * x{j + 1}" for j in range(_LR_DIMS)]
    return "(" + " + ".join(terms) + ")"


def _lr_train(spark: SparkSession, sf_dir: str):
    """The shared GD loop: k rounds of one quantized-gradient aggregate
    each; returns (labelled feature frame, weights, n)."""
    e = load_table(spark, sf_dir, "embeddings")
    data = e.select(
        "vec_id",
        F.expr("CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END").alias("y"),
        *_lr_feats_spark(),
    )
    w = [0.0] * (_LR_DIMS + 1)
    n = None
    for _ in range(_LR_ITERS):
        p = f"(1.0 / (1.0 + exp(-{_lr_z(w)})))"
        aggs = [F.count("*").alias("n")]
        xs = ["1.0"] + [f"x{j + 1}" for j in range(_LR_DIMS)]
        for j, xj in enumerate(xs):
            aggs.append(
                F.sum(
                    F.expr(
                        f"CAST(floor(({p} - y) * {xj} * {_LR_Q} + 0.5) AS BIGINT)"
                    )
                ).alias(f"g{j}")
            )
        row = data.agg(*aggs).first()
        n = row["n"]
        w = [
            w[j]
            - _LR_RATE
            * (float(row[f"g{j}"]) / (float(n) * float(_LR_Q)))
            for j in range(_LR_DIMS + 1)
        ]
    return data, w, n


def ml_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch gradient-descent logistic regression with QUANTIZED
    gradients (y = 1 iff label ≥ 5, 4 embedding dims + bias).

    Each iteration is ONE map-side-combinable aggregation: every row
    contributes floor((σ(w·x) − y)·x_j·1e9 + 0.5) per weight, so the
    shuffled state is d+1 BIGINT cells and the sum is exact in any
    order — gradient quantization (the QSGD trick used to cut
    all-reduce traffic in distributed training) is here what also
    makes the result bit-stable across engines. The driver applies
    the O(d) update between rounds (bounded driver state, like
    ml_linear_probe); weights are plain IEEE doubles reproduced
    identically by the DuckDB oracle's CTE chain. Complements
    ml_linear_probe (closed-form ridge): this is the ITERATIVE
    optimizer shape — k rounds × one aggregate, never a per-row
    driver loop.
    """
    data, w, n = _lr_train(spark, sf_dir)
    acc = data.agg(
        F.sum(
            F.expr(
                f"CASE WHEN (CASE WHEN {_lr_z(w)} >= 0.0 THEN 1.0 ELSE 0.0 END) = y"
                " THEN 1 ELSE 0 END"
            )
        ).alias("n_right")
    ).first()
    out = [
        (
            int(n),
            _LR_ITERS,
            *w,
            int(acc["n_right"]) / int(n),
        )
    ]
    return spark.createDataFrame(
        out,
        "n bigint, iters int, "
        + ", ".join(f"w{j} double" for j in range(_LR_DIMS + 1))
        + ", train_acc double",
    )


def _lr_zexpr(wcols: list[str]) -> str:
    terms = [wcols[0]] + [f"{wcols[j + 1]} * x{j + 1}" for j in range(_LR_DIMS)]
    return "(" + " + ".join(terms) + ")"


def _lr_ctes() -> list[str]:
    """The shared DuckDB CTE chain replaying the GD rounds."""
    feats = ", ".join(
        f"CAST(embedding[{j + 1}] AS DOUBLE) AS x{j + 1}" for j in range(_LR_DIMS)
    )
    xs = ["1.0"] + [f"x{j + 1}" for j in range(_LR_DIMS)]
    zexpr = _lr_zexpr

    ctes = [
        "d AS (SELECT vec_id, CASE WHEN label >= 5 THEN 1.0 ELSE 0.0 END AS y, "
        f"{feats} FROM embeddings)",
        "w0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(_LR_DIMS + 1))
        + ")",
    ]
    for it in range(_LR_ITERS):
        wcols = [f"w{j}" for j in range(_LR_DIMS + 1)]
        p = f"(1.0 / (1.0 + exp(-{zexpr(wcols)})))"
        gsums = ", ".join(
            f"SUM(CAST(floor(({p} - y) * {xj} * {_LR_Q} + 0.5) AS BIGINT)) AS g{j}"
            for j, xj in enumerate(xs)
        )
        ctes.append(
            f"g{it + 1} AS (SELECT COUNT(*) AS n, {gsums} FROM d CROSS JOIN w{it})"
        )
        upd = ", ".join(
            f"w{it}.w{j} - {_LR_RATE!r} * (CAST(g{it + 1}.g{j} AS DOUBLE)"
            f" / (CAST(g{it + 1}.n AS DOUBLE) * CAST({_LR_Q} AS DOUBLE))) AS w{j}"
            for j in range(_LR_DIMS + 1)
        )
        ctes.append(
            f"w{it + 1} AS (SELECT g{it + 1}.n AS n, {upd}"
            f" FROM w{it} CROSS JOIN g{it + 1})"
        )
    return ctes


def _lr_sql() -> str:
    ctes = _lr_ctes()
    wf = f"w{_LR_ITERS}"
    wcols = [f"w{j}" for j in range(_LR_DIMS + 1)]
    acc = (
        f"SUM(CASE WHEN (CASE WHEN {_lr_zexpr(wcols)} >= 0.0 THEN 1.0 ELSE 0.0 END) = y"
        " THEN 1 ELSE 0 END)"
    )
    final_w = ", ".join(f"w{j}" for j in range(_LR_DIMS + 1))
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST({wf}.n AS BIGINT) AS n,
       CAST({_LR_ITERS} AS INT) AS iters,
       {final_w},
       CAST(({acc}) AS DOUBLE) / {wf}.n AS train_acc
FROM d CROSS JOIN {wf}
GROUP BY {wf}.n, {', '.join('w' + str(j) for j in range(_LR_DIMS + 1))}
"""
    )


ML_LOGREG_SQL = _lr_sql()


# ---------------------------------------------------------------------------
# ml_calibration_bins — reliability report for the logreg scores
# ---------------------------------------------------------------------------


def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) report of the trained logreg: score
    every row, split into SCORE-QUANTILE deciles (ntile over the
    quantized probability — equal-mass bins, the form used when scores
    cluster), and compare mean predicted probability against observed
    positive rate per bin — the table behind every calibration curve /
    ECE metric.

    Per-row probabilities quantize to micro-units so bin sums are
    exact BIGINTs and the ntile order (p_micro, vec_id) is total in
    both engines. The score table GROWS with the data, so the
    equal-mass cut is operators/ranking.range_ntile (range-partitioned
    two-pass rank + integer bucket arithmetic — bit-identical to ANSI
    NTILE, no single-partition exchange).
    """
    from ..operators.ranking import range_ntile

    data, w, n = _lr_train(spark, sf_dir)
    p = f"(1.0 / (1.0 + exp(-{_lr_z(w)})))"
    binned = range_ntile(
        data.select(
            "vec_id",
            F.expr(
                f"CAST(floor({p} * {_LR_Q} + 0.5) AS BIGINT)"
            ).alias("p_micro"),
            F.col("y").cast("long").alias("pos"),
        ),
        ["p_micro", "vec_id"],
        10,
        "bin",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("p_micro").alias("sum_p_micro"),
            F.sum("pos").alias("n_pos"),
        )
        .select(
            "bin",
            "n_rows",
            F.expr(
                f"CAST(sum_p_micro AS DOUBLE) / n_rows / CAST({_LR_Q} AS DOUBLE)"
            ).alias("mean_predicted"),
            F.expr("CAST(n_pos AS DOUBLE) / n_rows").alias("observed_rate"),
            F.expr(
                "CAST(n_pos AS DOUBLE) / n_rows"
                f" - CAST(sum_p_micro AS DOUBLE) / n_rows / CAST({_LR_Q} AS DOUBLE)"
            ).alias("calibration_gap"),
        )
        .orderBy("bin")
    )


def _calib_sql() -> str:
    ctes = _lr_ctes()
    wf = f"w{_LR_ITERS}"
    wcols = [f"w{j}" for j in range(_LR_DIMS + 1)]
    p = f"(1.0 / (1.0 + exp(-{_lr_zexpr(wcols)})))"
    ctes.append(
        f"""scoredc AS (
  SELECT vec_id,
         CAST(floor({p} * {_LR_Q} + 0.5) AS BIGINT) AS p_micro,
         CAST(y AS BIGINT) AS pos
  FROM d CROSS JOIN {wf}
)"""
    )
    ctes.append(
        "calib AS (SELECT *, NTILE(10) OVER (ORDER BY p_micro, vec_id)"
        " AS bin FROM scoredc)"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(bin AS INT) AS bin,
       COUNT(*) AS n_rows,
       CAST(SUM(p_micro) AS DOUBLE) / COUNT(*) / CAST({_LR_Q} AS DOUBLE)
         AS mean_predicted,
       CAST(SUM(pos) AS DOUBLE) / COUNT(*) AS observed_rate,
       CAST(SUM(pos) AS DOUBLE) / COUNT(*)
         - CAST(SUM(p_micro) AS DOUBLE) / COUNT(*) / CAST({_LR_Q} AS DOUBLE)
         AS calibration_gap
FROM calib GROUP BY bin ORDER BY bin
"""
    )


ML_CALIB_SQL = _calib_sql()


# ---------------------------------------------------------------------------
# ml_gbt_stumps — histogram gradient boosting, integer-exact end to end
# ---------------------------------------------------------------------------

_GBT_ROUNDS = 3
_GBT_BINS = 16
_GBT_DIMS = 4
_GBT_Q = 1_000_000  # residual micro-units


def _gbt_bin(j: int, engine: str) -> str:
    """Fixed-width 16-bin histogram of dim j over [-0.4, 0.4] — floor of
    an identical double expression, so bins match across engines (only
    the array accessor differs: element_at is 1-based in Spark, [] is
    1-based in DuckDB but 0-based in Spark SQL)."""
    x = (
        f"CAST(element_at(embedding, {j}) AS DOUBLE)"
        if engine == "spark"
        else f"CAST(embedding[{j}] AS DOUBLE)"
    )
    return (
        f"CAST(least(greatest(floor(({x} + 0.4) / 0.05), 0.0), 15.0) AS INT)"
    )


def _trunc_div(a: int, b: int) -> int:
    """C-style integer division (truncate toward zero) — matches Spark
    `div` and DuckDB `//`, unlike Python's floor `//`."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def ml_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted depth-1 trees (squared loss on ``label`` from 4
    embedding dims), the LightGBM histogram recipe made engine-exact.

    Everything after the one-time binning is INTEGER: labels quantize
    to micro-units, each boosting round is ONE map-side-combinable
    aggregation producing the 4×16 (n, Σresidual) histogram — the
    shuffled state per round is 128 BIGINT cells no matter the corpus
    size, which is precisely why histogram GBT is the standard at
    scale (XGBoost/LightGBM hist mode). The driver scans the 64-cell
    histogram for the best split (prefix sums + an IEEE score both
    engines compute bit-identically from the exact sums), quantizes
    the two leaf values with truncating division, and folds the stump
    into the residual EXPRESSION for the next round — so Spark never
    materializes per-row state and the DuckDB oracle replays the same
    three rounds as a CTE chain. Residuals, leaves, and per-round SSE
    are exact BIGINTs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    data = e.select(
        (F.col("label").cast("long") * _GBT_Q).alias("y"),
        *[
            F.expr(_gbt_bin(j + 1, "spark")).alias(f"b{j + 1}")
            for j in range(_GBT_DIMS)
        ],
    )
    f0_row = data.agg(
        F.count("*").alias("n"), F.sum("y").alias("s")
    ).first()
    n_all = int(f0_row["n"])
    f0 = _trunc_div(int(f0_row["s"]), n_all)
    r_expr = f"(y - {f0})"

    rows = []
    for t in range(1, _GBT_ROUNDS + 1):
        hist = (
            data.select(
                F.expr(r_expr).alias("r"),
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(j + 1).alias("j"),
                                F.col(f"b{j + 1}").alias("bin"),
                            )
                            for j in range(_GBT_DIMS)
                        ]
                    )
                ).alias("fb"),
            )
            .groupBy("fb.j", "fb.bin")
            .agg(F.count("*").alias("n"), F.sum("r").alias("s"))
            .collect()
        )
        cells = {(int(r["j"]), int(r["bin"])): (int(r["n"]), int(r["s"])) for r in hist}
        # every feature's cells sum to the same total residual mass
        s_all = sum(s for (j, _), (_, s) in cells.items() if j == 1)
        best = None  # (score, j, b, nl, sl)
        for j in range(1, _GBT_DIMS + 1):
            nl = sl = 0
            for b in range(_GBT_BINS - 1):
                if (j, b) in cells:
                    nl += cells[(j, b)][0]
                    sl += cells[(j, b)][1]
                nr, sr = n_all - nl, s_all - sl
                if nl == 0 or nr == 0:
                    continue
                score = (
                    float(sl) * float(sl) / float(nl)
                    + float(sr) * float(sr) / float(nr)
                )
                key = (-score, j, b)
                if best is None or key < best[0]:
                    best = (key, j, b, nl, sl)
        _, j, b, nl, sl = best
        nr, sr = n_all - nl, s_all - sl
        ll, lr = _trunc_div(sl, nl), _trunc_div(sr, nr)
        r_expr = (
            f"({r_expr} - (CASE WHEN b{j} <= {b} THEN {ll} ELSE {lr} END))"
        )
        sse = int(
            data.select(F.expr(r_expr).alias("r"))
            .agg(F.sum(F.expr("r * r")).alias("sse"))
            .first()["sse"]
        )
        rows.append((t, j, b, ll, lr, sse, n_all))
    return spark.createDataFrame(
        rows,
        "round int, feat int, thr_bin int, leaf_l_micro bigint,"
        " leaf_r_micro bigint, sse_micro2 bigint, n bigint",
    )


def _gbt_sql() -> str:
    bins = ", ".join(
        f"{_gbt_bin(j + 1, 'duckdb')} AS b{j + 1}" for j in range(_GBT_DIMS)
    )
    arms = " UNION ALL ".join(
        f"SELECT {j + 1} AS j, b{j + 1} AS bin, r FROM r{{t}}"
        for j in range(_GBT_DIMS)
    )
    bin_of_j = (
        "CASE bt.j "
        + " ".join(f"WHEN {j + 1} THEN r.b{j + 1}" for j in range(_GBT_DIMS))
        + " END"
    )
    ctes = [
        f"base AS (SELECT CAST(label AS BIGINT) * {_GBT_Q} AS y, {bins} FROM embeddings)",
        "f0 AS (SELECT SUM(y) // COUNT(*) AS f0 FROM base)",
        "r0 AS (SELECT base.*, y - f0.f0 AS r FROM base CROSS JOIN f0)",
    ]
    unions = []
    for t in range(1, _GBT_ROUNDS + 1):
        prev = t - 1
        ctes.append(
            f"h{t} AS (SELECT j, bin, COUNT(*) AS n, SUM(r) AS s FROM"
            f" ({arms.format(t=prev)}) GROUP BY j, bin)"
        )
        ctes.append(
            f"tot{t} AS (SELECT COUNT(*) AS n_all, SUM(r) AS s_all FROM r{prev})"
        )
        ctes.append(
            f"""cand{t} AS (
  SELECT j, bin AS b,
         SUM(n) OVER (PARTITION BY j ORDER BY bin) AS nl,
         SUM(s) OVER (PARTITION BY j ORDER BY bin) AS sl
  FROM h{t} WHERE bin < {_GBT_BINS - 1}
)"""
        )
        ctes.append(
            f"""best{t} AS (
  SELECT j, b, nl, sl, n_all - nl AS nr, s_all - sl AS sr,
         CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
           + CAST(s_all - sl AS DOUBLE) * CAST(s_all - sl AS DOUBLE)
             / CAST(n_all - nl AS DOUBLE) AS score
  FROM cand{t} CROSS JOIN tot{t}
  WHERE nl > 0 AND n_all - nl > 0
  ORDER BY score DESC, j ASC, b ASC LIMIT 1
)"""
        )
        ctes.append(
            f"leaf{t} AS (SELECT j, b, sl // nl AS ll, sr // nr AS lr"
            f" FROM best{t})"
        )
        ctes.append(
            f"r{t} AS (SELECT r.* REPLACE (r.r - (CASE WHEN ({bin_of_j.replace('bt.', f'leaf{t}.').replace('r.b', 'r.b')}) <= leaf{t}.b"
            f" THEN leaf{t}.ll ELSE leaf{t}.lr END) AS r)"
            f" FROM r{prev} r CROSS JOIN leaf{t})"
        )
        ctes.append(
            f"sse{t} AS (SELECT SUM(r * r) AS sse FROM r{t})"
        )
        unions.append(
            f"SELECT {t} AS round, l.j AS feat, l.b AS thr_bin,"
            f" l.ll AS leaf_l_micro, l.lr AS leaf_r_micro,"
            f" s.sse AS sse_micro2, t.n_all AS n"
            f" FROM leaf{t} l CROSS JOIN sse{t} s CROSS JOIN tot{t} t"
        )
    body = " UNION ALL ".join(unions)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(round AS INT) AS round, CAST(feat AS INT) AS feat,
       CAST(thr_bin AS INT) AS thr_bin,
       CAST(leaf_l_micro AS BIGINT) AS leaf_l_micro,
       CAST(leaf_r_micro AS BIGINT) AS leaf_r_micro,
       CAST(sse_micro2 AS BIGINT) AS sse_micro2,
       CAST(n AS BIGINT) AS n
FROM ({body}) ORDER BY round
"""
    )


ML_GBT_SQL = _gbt_sql()


# ---------------------------------------------------------------------------
# ml_woe_iv — weight-of-evidence / information value per feature bucket
# ---------------------------------------------------------------------------

# Shared closed-forms (exact BIGINT cell counts in, the same IEEE ln
# out; round(6) is the repo's libm convention).
_WOE = "ln((CAST(n_good AS DOUBLE) * b) / (CAST(n_bad AS DOUBLE) * g))"
_IV_C = (
    "(CAST(n_good AS DOUBLE) / g - CAST(n_bad AS DOUBLE) / b)"
    f" * {_WOE}"
)


def ml_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence / Information Value of o_orderpriority
    against the binary target o_orderstatus = 'F' — the credit-scoring
    feature screen (IV < 0.02 = useless, > 0.3 = strong) every scorecard
    pipeline runs before binning features into a model.

    One map-side-combinable aggregation collapses the fact table to
    ≤5 bucket rows of exact (n_good, n_bad) BIGINTs; totals ride a
    window over those 5 rows, WoE/IV-contribution are the same IEEE
    ln expression in both engines (round 6). Nothing downstream of
    the first aggregation is input-sized."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    cells = (
        o.select(
            F.col("o_orderpriority").alias("bucket"),
            (F.col("o_orderstatus") == "F").cast("long").alias("bad"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(1 - F.col("bad")).alias("n_good"),
            F.sum("bad").alias("n_bad"),
        )
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = cells.select(
        "bucket",
        "n_good",
        "n_bad",
        F.sum("n_good").over(w_all).alias("g"),
        F.sum("n_bad").over(w_all).alias("b"),
    )
    return tot.select(
        "bucket",
        F.col("n_good").cast("long").alias("n_good"),
        F.col("n_bad").cast("long").alias("n_bad"),
        F.round(F.expr(_WOE), 6).alias("woe"),
        F.round(F.expr(_IV_C), 6).alias("iv_contrib"),
    ).orderBy("bucket")


ML_WOE_SQL = f"""
WITH cells AS (
  SELECT o_orderpriority AS bucket,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS n_good,
         SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_bad
  FROM orders GROUP BY 1
), tot AS (
  SELECT bucket, n_good, n_bad,
         SUM(n_good) OVER () AS g, SUM(n_bad) OVER () AS b
  FROM cells
)
SELECT bucket, CAST(n_good AS BIGINT) AS n_good,
       CAST(n_bad AS BIGINT) AS n_bad,
       ROUND({_WOE}, 6) AS woe,
       ROUND({_IV_C}, 6) AS iv_contrib
FROM tot
ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# ml_mutual_info — mutual information between two categorical columns
# ---------------------------------------------------------------------------

_MI_TERM = (
    "CAST(FLOOR((CAST(c_xy AS DOUBLE) / n)"
    " * ln(CAST(n AS DOUBLE) * c_xy / (CAST(c_x AS DOUBLE) * c_y))"
    " * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)
_H_TERM = (
    "CAST(FLOOR((CAST({c} AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / {c})"
    " * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) between o_orderpriority and
    o_orderstatus, with both marginal entropies and the normalized
    MI = I/sqrt(H(X)·H(Y)) — the model-free dependence screen feature
    stores rank candidate features with (chi² tells you IF dependent,
    MI tells you HOW MUCH in nats).

    Each of the ≤15 cell contributions p·ln(n·c_xy/(c_x·c_y)) is
    quantized to an exact nano-nat integer (FLOOR(x·10⁹+0.5) of the
    same IEEE expression both engines), so sums are order-free and
    hash-exact; marginal entropies use the same per-value trick. One
    fact-table aggregation to the 15-cell contingency table; marginals
    derive from it by rollup — nothing else touches the input."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    cells = (
        o.groupBy(
            F.col("o_orderpriority").alias("x"),
            F.col("o_orderstatus").alias("y"),
        )
        .agg(F.count("*").alias("c_xy"))
        .localCheckpoint()  # ≤15 rows, reused by three rollups
    )
    w_x = Window.partitionBy("x")
    w_y = Window.partitionBy("y")
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = cells.select(
        "c_xy",
        F.sum("c_xy").over(w_x).alias("c_x"),
        F.sum("c_xy").over(w_y).alias("c_y"),
        F.sum("c_xy").over(w_all).alias("n"),
    )
    mi = t.agg(
        F.max("n").alias("n"),
        F.sum(F.expr(_MI_TERM)).alias("mi_nano"),
    )
    hx = (
        cells.groupBy("x")
        .agg(F.sum("c_xy").alias("c"))
        .crossJoin(F.broadcast(cells.agg(F.sum("c_xy").alias("n"))))
        .agg(F.sum(F.expr(_H_TERM.format(c="c"))).alias("hx_nano"))
    )
    hy = (
        cells.groupBy("y")
        .agg(F.sum("c_xy").alias("c"))
        .crossJoin(F.broadcast(cells.agg(F.sum("c_xy").alias("n"))))
        .agg(F.sum(F.expr(_H_TERM.format(c="c"))).alias("hy_nano"))
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("mi_nano").cast("long").alias("mi_nano"),
            F.col("hx_nano").cast("long").alias("hx_nano"),
            F.col("hy_nano").cast("long").alias("hy_nano"),
            F.round(
                F.expr(
                    "CAST(mi_nano AS DOUBLE)"
                    " / sqrt(CAST(hx_nano AS DOUBLE) * hy_nano)"
                ),
                6,
            ).alias("nmi"),
        )
    )


ML_MI_SQL = f"""
WITH cells AS (
  SELECT o_orderpriority AS x, o_orderstatus AS y, COUNT(*) AS c_xy
  FROM orders GROUP BY 1, 2
), t AS (
  SELECT c_xy,
         SUM(c_xy) OVER (PARTITION BY x) AS c_x,
         SUM(c_xy) OVER (PARTITION BY y) AS c_y,
         SUM(c_xy) OVER () AS n
  FROM cells
), mi AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n,
         CAST(SUM({_MI_TERM}) AS BIGINT) AS mi_nano
  FROM t
), hx AS (
  SELECT CAST(SUM({_H_TERM.format(c="c")}) AS BIGINT) AS hx_nano
  FROM (SELECT x, SUM(c_xy) AS c FROM cells GROUP BY 1),
       (SELECT SUM(c_xy) AS n FROM cells)
), hy AS (
  SELECT CAST(SUM({_H_TERM.format(c="c")}) AS BIGINT) AS hy_nano
  FROM (SELECT y, SUM(c_xy) AS c FROM cells GROUP BY 1),
       (SELECT SUM(c_xy) AS n FROM cells)
)
SELECT n, mi_nano, hx_nano, hy_nano,
       ROUND(CAST(mi_nano AS DOUBLE)
             / sqrt(CAST(hx_nano AS DOUBLE) * hy_nano), 6) AS nmi
FROM mi, hx, hy
"""


# ---------------------------------------------------------------------------
# ml_learning_curve — sample-efficiency curve for the price~quantity probe
# ---------------------------------------------------------------------------

_LC_H = (
    "CAST(conv(substring(md5(concat('lc|', CAST(l_orderkey AS STRING), '|',"
    " CAST(l_linenumber AS STRING))), 1, 15), 16, 10) AS BIGINT)"
)
_LC_H_DUCK = (
    "('0x' || substr(md5('lc|' || CAST(l_orderkey AS VARCHAR) || '|'"
    " || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT"
)
_LC_SLOPE = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
_LC_R2 = (
    "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
    " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
)


def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the extendedprice ~ quantity probe: the same
    closed-form OLS fitted on deterministic 25/50/75/100% subsets
    (portable-hash buckets, so any engine reproduces the exact rows)
    — the sample-efficiency read ("has the model converged or do we
    need more data?") every training pipeline plots before scaling a
    run.

    One pass over the fact table: each row lands in hash bucket 0-3
    and a tiny 4-row fraction table joins on bucket < f (broadcast),
    so the four nested subsets aggregate in a single shuffle. All
    sufficient statistics are exact (quantities are small BIGINTs,
    cents exact; products as DECIMAL(38,0)); slope and R² are the
    shared IEEE closed form."""
    l = load_table(spark, sf_dir, "lineitem")
    rows = l.select(
        F.expr(f"{_LC_H} % 4").alias("bucket"),
        F.col("l_quantity").cast("long").alias("x"),
        F.expr(
            "CAST(FLOOR(l_extendedprice * CAST(100 AS DOUBLE)"
            " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
        ).alias("y"),
    )
    fracs = spark.range(1, 5).select(F.col("id").cast("long").alias("f"))
    # aggregate the fact table ONCE at bucket grain (4 map-side-combined
    # groups), THEN expand to the nested fractions: the old shape
    # nested-loop-joined every fact row against the 4 fraction rows
    # (~2.5× row multiplication before the aggregate). All sufficient
    # statistics are exact integers/decimals, so re-summing per-bucket
    # subtotals is bit-identical to summing rows directly.
    per_bucket = rows.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
    )
    suff = (
        per_bucket.join(F.broadcast(fracs), F.col("bucket") < F.col("f"))
        .groupBy("f")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sx").alias("sx"),
            F.sum("sy").alias("sy"),
            F.sum("sxx").alias("sxx"),
            F.sum("sxy").alias("sxy"),
            F.sum("syy").alias("syy"),
        )
    )
    casted = suff.selectExpr(
        "f",
        "CAST(n AS DOUBLE) AS n",
        "CAST(sx AS DOUBLE) AS sx",
        "CAST(sy AS DOUBLE) AS sy",
        "CAST(sxx AS DOUBLE) AS sxx",
        "CAST(sxy AS DOUBLE) AS sxy",
        "CAST(syy AS DOUBLE) AS syy",
        "n AS n_rows",
    )
    return casted.select(
        (F.col("f") * 25).cast("long").alias("frac_pct"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(F.expr(_LC_SLOPE), 6).alias("slope_cents_per_qty"),
        F.round(F.expr(_LC_R2), 6).alias("r2"),
    ).orderBy("frac_pct")


ML_LEARNING_CURVE_SQL = f"""
WITH rows_h AS (
  SELECT {_LC_H_DUCK} % 4 AS bucket,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice * CAST(100 AS DOUBLE)
              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y
  FROM lineitem
), suff AS (
  SELECT f, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM rows_h JOIN (SELECT unnest(generate_series(1, 4)) AS f) fr
    ON bucket < f
  GROUP BY f
), casted AS (
  SELECT f, n AS n_rows,
         CAST(n AS DOUBLE) AS n, CAST(sx AS DOUBLE) AS sx,
         CAST(sy AS DOUBLE) AS sy, CAST(sxx AS DOUBLE) AS sxx,
         CAST(sxy AS DOUBLE) AS sxy, CAST(syy AS DOUBLE) AS syy
  FROM suff
)
SELECT CAST(f * 25 AS BIGINT) AS frac_pct,
       CAST(n_rows AS BIGINT) AS n_rows,
       ROUND({_LC_SLOPE}, 6) AS slope_cents_per_qty,
       ROUND({_LC_R2}, 6) AS r2
FROM casted
ORDER BY frac_pct
"""


QUERIES = {
    "ml_learning_curve": (ml_learning_curve, ML_LEARNING_CURVE_SQL),
    "ml_woe_iv": (ml_woe_iv, ML_WOE_SQL),
    "ml_mutual_info": (ml_mutual_info, ML_MI_SQL),
    "ml_logreg_gd": (ml_logreg_gd, ML_LOGREG_SQL),
    "ml_gbt_stumps": (ml_gbt_stumps, ML_GBT_SQL),
    "ml_calibration_bins": (ml_calibration_bins, ML_CALIB_SQL),
    "ml_kmeans_fixed": (ml_kmeans_fixed, ML_KMEANS_SQL),
    "ml_perceptron_fixed": (ml_perceptron_fixed, ML_PERCEPTRON_SQL),
    "ml_feature_hash": (ml_feature_hash, ML_FEATURE_HASH_SQL),
    "ml_linear_probe": (ml_linear_probe, ML_LINEAR_PROBE_SQL),
    "ml_pca_embeddings": (ml_pca_embeddings, ML_PCA_SQL),
    "ml_als_factorize": (ml_als_factorize, ML_ALS_SQL),
    "ml_isotonic_calibration": (ml_isotonic_calibration, ML_ISOTONIC_SQL),
    "ml_roc_auc": (ml_roc_auc, ML_ROC_SQL),
    "ml_pr_auc": (ml_pr_auc, ML_PR_AUC_SQL),
    "ml_gain_lift_deciles": (ml_gain_lift_deciles, ML_GAIN_LIFT_SQL),
    "ml_ks_separation": (ml_ks_separation, ML_KS_SEP_SQL),
    "ml_brier_score": (ml_brier_score, ML_BRIER_SQL),
    "ml_cv_kfold": (ml_cv_kfold, ML_CV_SQL),
    "ml_target_encode": (ml_target_encode, ML_TARGET_ENC_SQL),
    "ml_conformal_interval": (ml_conformal_interval, ML_CONFORMAL_SQL),
    "ml_naive_bayes": (ml_naive_bayes, ML_NB_SQL),
    "ml_plot_sink": (ml_plot_sink, ML_PLOT_SQL),
}
