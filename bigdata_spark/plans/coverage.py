"""Coverage queries closing the SURVEY §2 inventory gaps that had no
named ``queries()`` entry yet: F1/F5 null handling, F6/F8 array pack +
casts, F7 synthetic-id invariants, A6 global scalar agg, A8
collect_list, A13 per-class precision/recall/F1, O2/O3 repartition
invariants, and S2/S3 TSV + in-memory source round-trip.

Scale notes: every query here is either a single-shuffle aggregate, a
broadcast-dim join, or a structural-invariant probe whose data volume
is bounded by construction (booleans / per-group counts), so each
survives a 1000× scale-up without plan change.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table


def _dec2(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


# --- F1 + F5: null creation → dropna / fillna / coalesce repair -------------

def f1_null_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's null handling (dropna how='all' —
    preprocessing.py:24-26; fillna/coalesce — evaluation.py:130,
    global_model_manager.py:475). Testdata has no nulls, so nulls are
    minted deterministically with nullif, then repaired both ways."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") < 50, None).otherwise(F.col("value")).alias("v_hi"),
        F.when(F.col("event_type") == "click", None)
        .otherwise(F.col("event_type"))
        .alias("et_nonclick"),
    )
    # drop rows where BOTH minted columns are null (how='all' over the subset)
    kept = e.dropna(how="all", subset=["v_hi", "et_nonclick"])
    return kept.select(
        "event_id",
        F.coalesce("v_hi", F.lit(-1.0)).alias("v_filled"),
        F.coalesce("et_nonclick", F.lit("none")).alias("et_filled"),
    )


F1_NULL_SQL = """
WITH minted AS (
  SELECT event_id,
         CASE WHEN value < 50 THEN NULL ELSE value END AS v_hi,
         CASE WHEN event_type = 'click' THEN NULL ELSE event_type END AS et_nonclick
  FROM events
)
SELECT event_id,
       COALESCE(v_hi, -1.0) AS v_filled,
       COALESCE(et_nonclick, 'none') AS et_filled
FROM minted
WHERE v_hi IS NOT NULL OR et_nonclick IS NOT NULL
"""


# --- F6 + F8: array pack, rename, drop, cast tour ---------------------------

def f6_array_pack_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-pack numeric columns (reference
    global_model_manager.py:156), rename, drop, and the cast
    coercions of SURVEY §1.2 — double→decimal→double, long→int→string,
    timestamp→date string."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    # The packed array stays an array op in the plan, but the *output*
    # column is a comma-joined decimal string: the driver's pandas
    # canonicalizer can't hash list cells, and decimal formatting is
    # engine-identical where float repr is not.
    packed = l.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(
            F.transform(
                F.array(
                    F.col("l_quantity").cast("double"),
                    F.col("l_extendedprice").cast("double"),
                    F.col("l_discount").cast("double"),
                ),
                lambda x: x.cast("decimal(18,2)").cast("string"),
            ),
            ",",
        ).alias("features"),
        F.col("l_quantity").cast("decimal(18,2)").cast("double").alias("qty_roundtrip"),
        F.col("l_orderkey").cast("int").cast("string").alias("key_str"),
        F.date_format(F.col("l_shipdate"), "yyyy-MM-dd").alias("ship_day"),
    ).withColumnRenamed("l_linenumber", "line_no")
    return packed.drop("l_shipdate")


F6_ARRAY_SQL = """
SELECT l_orderkey,
       l_linenumber AS line_no,
       array_to_string(
         list_transform(
           [CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE), CAST(l_discount AS DOUBLE)],
           x -> CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)),
         ',') AS features,
       CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty_roundtrip,
       CAST(CAST(l_orderkey AS INTEGER) AS VARCHAR) AS key_str,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_day
FROM lineitem WHERE l_orderkey <= 1000
"""


# --- F7: synthetic ids — structural invariants ------------------------------

def f7_id_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monotonically_increasing_id (reference
    global_model_manager.py:132-136): values are engine-specific, so
    the oracle pins the *invariants* — one distinct id per row, ids
    non-negative, LongType."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "row_id", F.monotonically_increasing_id()
    )
    row = c.agg(
        F.count("*").alias("n"),
        F.countDistinct("row_id").alias("n_ids"),
        F.min("row_id").alias("min_id"),
    ).first()
    return spark.createDataFrame(
        [(bool(row["n"] == row["n_ids"]), bool(row["min_id"] >= 0))],
        "ids_unique boolean, ids_nonnegative boolean",
    )


F7_ID_SQL = "SELECT TRUE AS ids_unique, TRUE AS ids_nonnegative"


# --- A6: global scalar aggregate --------------------------------------------

def a6_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table scalar accuracy-style avg (reference test.py:119-122)
    — exact DECIMAL sum / count so the double is engine-identical."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.agg(
        (F.sum(_dec2("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
        F.count("*").alias("n_rows"),
    )


A6_SQL = """
SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS n_rows
FROM lineitem
"""


# --- A8: grouped collect_list (deterministic via sort_array) ----------------

def a8_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exemplar-pooling shape (reference main.ipynb cell 7:
    collect_list of time_series per group). collect_list order is
    partition-dependent, so the result is sort_array'd — deterministic
    and oracle-comparable. Bounded per group by construction (≤7
    linenumbers per order)."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    # collect_list + sort_array stay in the plan; the output columns are
    # comma-joined strings because the driver's canonicalizer can't hash
    # list cells. Sort numerically first, then stringify.
    return l.groupBy("l_orderkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("l_linenumber")).cast("array<string>"), ","
        ).alias("line_numbers"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(_dec2("l_quantity"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("quantities"),
    )


A8_SQL = """
SELECT l_orderkey,
       array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
       array_to_string(
         list_transform(list_sort(list(CAST(l_quantity AS DECIMAL(18,2)))),
                        x -> CAST(x AS VARCHAR)),
         ',') AS quantities
FROM lineitem WHERE l_orderkey <= 500
GROUP BY l_orderkey
"""


# --- A13: per-class precision / recall / F1 ---------------------------------

_PRED13 = (
    "CASE WHEN o_totalprice < 100000 THEN 'F' "
    "WHEN o_totalprice < 300000 THEN 'O' ELSE 'P' END"
)


def a13_per_class_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 (reference evaluation.py:556-620,
    MulticlassMetrics) as pure DataFrame aggs over the deterministic
    synthetic classifier: one grouped count per (label, prediction),
    then class-level ratios — single shuffle, exact int arithmetic."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("label"), F.expr(_PRED13).alias("prediction")
    )
    cm = o.groupBy("label", "prediction").agg(F.count("*").alias("n"))
    actual = cm.groupBy("label").agg(F.sum("n").alias("actual_total"))
    pred = cm.groupBy("prediction").agg(F.sum("n").alias("pred_total"))
    tp = cm.filter(F.col("label") == F.col("prediction")).select(
        "label", F.col("n").alias("tp")
    )
    base = (
        actual.join(pred, actual.label == pred.prediction, "full_outer")
        .select(
            F.coalesce("label", "prediction").alias("cls"),
            F.coalesce("actual_total", F.lit(0)).alias("actual_total"),
            F.coalesce("pred_total", F.lit(0)).alias("pred_total"),
        )
        .join(tp.withColumnRenamed("label", "cls"), "cls", "left_outer")
        .fillna(0, subset=["tp"])
    )
    precision = F.when(
        F.col("pred_total") > 0, F.col("tp").cast("double") / F.col("pred_total")
    ).otherwise(F.lit(0.0))
    recall = F.when(
        F.col("actual_total") > 0, F.col("tp").cast("double") / F.col("actual_total")
    ).otherwise(F.lit(0.0))
    return base.select(
        "cls",
        F.round(precision, 9).alias("precision"),
        F.round(recall, 9).alias("recall"),
        F.round(
            F.when(
                precision + recall > 0, 2 * precision * recall / (precision + recall)
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("f1"),
    )


A13_SQL = f"""
WITH preds AS (SELECT o_orderstatus AS label, {_PRED13} AS prediction FROM orders),
cm AS (SELECT label, prediction, COUNT(*) AS n FROM preds GROUP BY 1, 2),
actual AS (SELECT label, SUM(n) AS actual_total FROM cm GROUP BY 1),
pred AS (SELECT prediction, SUM(n) AS pred_total FROM cm GROUP BY 1),
tp AS (SELECT label AS cls, n AS tp FROM cm WHERE label = prediction),
base AS (
  SELECT COALESCE(actual.label, pred.prediction) AS cls,
         COALESCE(actual_total, 0) AS actual_total,
         COALESCE(pred_total, 0) AS pred_total,
         COALESCE(tp, 0) AS tp
  FROM actual FULL OUTER JOIN pred ON actual.label = pred.prediction
  LEFT JOIN tp ON COALESCE(actual.label, pred.prediction) = tp.cls
),
ratios AS (
  SELECT cls,
    CASE WHEN pred_total > 0 THEN CAST(tp AS DOUBLE) / pred_total ELSE 0.0 END AS p,
    CASE WHEN actual_total > 0 THEN CAST(tp AS DOUBLE) / actual_total ELSE 0.0 END AS r
  FROM base
)
SELECT cls, ROUND(p, 9) AS precision, ROUND(r, 9) AS recall,
       ROUND(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END, 9) AS f1
FROM ratios
"""


# --- W5: analytic window suite ----------------------------------------------

def w5_analytic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / percent_rank / cume_dist over parts
    by brand — the analytic-frame surface the reference lacks (SURVEY
    §2.6 'frames come free'). Deterministic ordering via unique
    p_partkey tie-break — which also means NO ties, so rank =
    dense_rank = row_number and percent_rank/cume_dist/ntile are pure
    integer arithmetic on (rank, group count). The rank itself is
    grouped_range_rank: a window partitioned by the 25-value brand
    sorts part/25 rows per task at any scale; the range-partitioned
    two-pass rank keeps parallelism at #partitions (DESC price via
    exact double negation)."""
    from ..operators.ranking import grouped_range_rank, ntile_from_rank

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    ranked = grouped_range_rank(
        p.withColumn("_negprice", -F.col("p_retailprice")),
        ["p_brand"],
        ["_negprice", "p_partkey"],
        "_rn",
        count_col="_n",
    )
    return ranked.select(
        "p_partkey",
        "p_brand",
        F.col("_rn").cast("int").alias("rnk"),
        F.col("_rn").cast("int").alias("drnk"),
        ntile_from_rank("_rn", "_n", 4).cast("int").alias("quartile"),
        F.round(
            F.expr(
                "IF(_n = 1, CAST(0 AS DOUBLE),"
                " CAST(_rn - 1 AS DOUBLE) / CAST(_n - 1 AS DOUBLE))"
            ),
            9,
        ).alias("pct_rank"),
        F.round(
            F.expr("CAST(_rn AS DOUBLE) / CAST(_n AS DOUBLE)"), 9
        ).alias("cume"),
    )


W5_SQL = """
SELECT p_partkey, p_brand,
  RANK() OVER w AS rnk,
  DENSE_RANK() OVER w AS drnk,
  NTILE(4) OVER w AS quartile,
  ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
  ROUND(CUME_DIST() OVER w, 9) AS cume
FROM part
WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
"""


# --- O2/O3: repartition invariants ------------------------------------------

def o2_repartition_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin repartition(n) (reference preprocessing.py:50-55)
    and hash repartition(n, col) (preprocessing.py:57-86). Physical
    placement is engine-specific, so the oracle pins the invariants:
    exact partition count, no row loss, and — for the hash path —
    every key confined to one partition."""
    n_parts = 8
    c = load_table(spark, sf_dir, "customer")
    total = c.count()

    rr = c.repartition(n_parts)
    rr_stats = rr.groupBy(F.spark_partition_id().alias("pid")).count()
    rr_row = rr_stats.agg(
        F.countDistinct("pid").alias("n_parts"), F.sum("count").alias("n_rows")
    ).first()

    hashed = c.repartition(n_parts, F.col("c_nationkey")).withColumn(
        "pid", F.spark_partition_id()
    )
    spread = (
        hashed.groupBy("c_nationkey")
        .agg(F.countDistinct("pid").alias("spread"))
        .agg(F.max("spread").alias("max_spread"))
        .first()
    )
    return spark.createDataFrame(
        [
            (
                bool(rr_row["n_parts"] == n_parts),
                bool(rr_row["n_rows"] == total),
                bool(spread["max_spread"] == 1),
            )
        ],
        "roundrobin_exact_parts boolean, no_row_loss boolean, hash_key_colocated boolean",
    )


O2_SQL = (
    "SELECT TRUE AS roundrobin_exact_parts, TRUE AS no_row_loss, "
    "TRUE AS hash_key_colocated"
)


# --- S2/S3: in-memory source → TSV sink → TSV scan round-trip ---------------

def s2_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 in-memory source (reference test.py:90-91) written through a
    TSV sink and re-read with an explicit schema (reference S2 —
    ECG5000 .tsv alternative, data_ingestion.py:45-59 schema'd CSV
    scan with sep override). The oracle pins the round-trip
    invariants; scratch is a per-run tempdir, removed afterwards."""
    import tempfile

    scratch_root = tempfile.mkdtemp(prefix="bigdata_spark_tsv_")
    scratch = os.path.join(scratch_root, "tsv_roundtrip")

    src = load_table(spark, sf_dir, "nation")
    rows = [(int(r["n_nationkey"]), str(r["n_name"]), int(r["n_regionkey"])) for r in src.collect()]
    mem = spark.createDataFrame(rows, "n_nationkey long, n_name string, n_regionkey long")
    mem.repartition(1).write.mode("overwrite").options(sep="\t", header=True).csv(scratch)

    back = spark.read.options(sep="\t", header=True).schema(
        "n_nationkey long, n_name string, n_regionkey long"
    ).csv(scratch)
    # one exceptAll direction suffices: with |back| == |mem| verified
    # below, back \ mem = ∅ (multiset) implies mem \ back = ∅ too
    counts = back.unionAll(
        back.exceptAll(mem).select(
            F.lit(None).cast("long"),
            F.lit(None).cast("string"),
            F.lit(None).cast("long"),
        )
    ).agg(
        F.count("*").alias("total"), F.count("n_nationkey").alias("n_back")
    ).first()
    n_back = counts["n_back"]
    diff = counts["total"] - n_back
    n_src = len(rows)
    shutil.rmtree(scratch_root, ignore_errors=True)
    return spark.createDataFrame(
        [(bool(n_back == n_src), bool(diff == 0))],
        "rowcount_preserved boolean, values_roundtrip boolean",
    )


S2_SQL = "SELECT TRUE AS rowcount_preserved, TRUE AS values_roundtrip"


# --- P6: partition-local sample via mapPartitionsWithIndex ------------------

def p6_partition_local_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition k-row sample through the RDD mapPartitionsWithIndex
    hop (reference global.ipynb cells 10,14 — the one imperative
    per-partition pattern in the reference). Placement is
    engine-specific, so the oracle pins the invariants: ≤ k rows per
    partition, ≤ n_parts partitions emitted."""
    import itertools

    n_parts, k = 8, 3
    c = load_table(spark, sf_dir, "customer").repartition(n_parts, F.col("c_nationkey"))

    def sample_part(ix: int, it):
        for r in itertools.islice(it, k):
            yield (ix, r["c_custkey"])

    samp = spark.createDataFrame(
        c.rdd.mapPartitionsWithIndex(sample_part), "pid int, c_custkey long"
    )
    row = (
        samp.groupBy("pid")
        .count()
        .agg(F.max("count").alias("max_per_pid"), F.count("*").alias("n_pids"))
        .first()
    )
    return spark.createDataFrame(
        [(bool(row["max_per_pid"] <= k), bool(row["n_pids"] <= n_parts))],
        "at_most_k_per_partition boolean, bounded_partitions boolean",
    )


P6_SQL = "SELECT TRUE AS at_most_k_per_partition, TRUE AS bounded_partitions"




# --- W6: exact per-group median by rank selection ---------------------------

def w6_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median via order-statistic selection (the
    sketch-free companion to approx_sketches): the lower median is the
    smallest quantity whose per-group cumulative count reaches
    (n+1)/2 — identical to ranking each group on (quantity, orderkey,
    linenumber) and picking row (n+1)/2, since only the VALUE at that
    rank is emitted and ties share a value.

    Scale shape: the fact table collapses once to the (flag, quantity)
    histogram — quantity is a ~50-value DOMAIN-bounded column, so the
    histogram is ≤ flags×50 rows at any SF — and the cumulative-count
    selection windows over that bounded table only. No task ever sorts
    an SF-grown window partition (the old per-flag rank capped sort
    parallelism at 3 tasks: sf1 soak 6.0× for 10× data)."""
    from pyspark.sql import Window

    l = load_table(spark, sf_dir, "lineitem")
    hist = l.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("c")
    )
    # bounded grain: quantity value-domain (≤50 distinct per flag)
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wc = Window.partitionBy("l_returnflag")
    sel = hist.select(
        "l_returnflag",
        "l_quantity",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(wc).alias("n"),
    )
    return (
        sel.filter(F.expr("cum >= (n + 1) div 2"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_quantity").alias("median_qty"),
            F.min("n").alias("group_n"),
        )
    )


W6_MEDIAN_SQL = """
WITH ranked AS (
  SELECT l_returnflag, l_quantity,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag, l_quantity AS median_qty, n AS group_n
FROM ranked WHERE rn = (n + 1) // 2
"""


def wh_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic warehouse scoring
    workload: per customer, Recency (latest order date), Frequency
    (order count), Monetary (exact decimal spend) each quintile-ranked
    by NTILE over a deterministic total order (metric, then custkey),
    concatenated into a 3-digit segment. One groupBy to customer grain
    (map-side combined); the customer table GROWS with the data, so
    each quintile cut is operators/ranking.range_ntile over a slim
    (metric, custkey) projection — bit-identical to ANSI NTILE with no
    single-partition exchange — joined back by custkey (AQE-planned
    shuffle joins at customer grain); one rollup to segments."""
    from ..operators.ranking import range_ntile

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("freq"),
        F.sum(_dec2("o_totalprice")).alias("spend_dec"),
    ).localCheckpoint()  # four consumers below — scan orders once
    r_b = range_ntile(
        cust.select("o_custkey", "last_order"),
        ["last_order", "o_custkey"], 5, "r",
    ).select("o_custkey", "r")
    f_b = range_ntile(
        cust.select("o_custkey", "freq"), ["freq", "o_custkey"], 5, "f"
    ).select("o_custkey", "f")
    m_b = range_ntile(
        cust.select("o_custkey", "spend_dec"),
        ["spend_dec", "o_custkey"], 5, "m",
    ).select("o_custkey", "m")
    scored = (
        cust.select("o_custkey", "spend_dec")
        .join(r_b, "o_custkey")
        .join(f_b, "o_custkey")
        .join(m_b, "o_custkey")
    )
    return (
        scored.groupBy(
            F.concat(
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ).alias("segment")
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("spend_dec").cast("double").alias("segment_spend"),
        )
        .orderBy("segment")
    )


WH_RFM_SQL = """
WITH cust AS (
  SELECT o_custkey,
         MAX(o_orderdate) AS last_order,
         COUNT(*) AS freq,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
  FROM orders GROUP BY o_custkey
),
scored AS (
  SELECT o_custkey, spend_dec,
         NTILE(5) OVER (ORDER BY last_order, o_custkey) AS r,
         NTILE(5) OVER (ORDER BY freq, o_custkey) AS f,
         NTILE(5) OVER (ORDER BY spend_dec, o_custkey) AS m
  FROM cust
)
SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR) AS segment,
       COUNT(*) AS n_customers,
       CAST(SUM(spend_dec) AS DOUBLE) AS segment_spend
FROM scored GROUP BY 1 ORDER BY 1
"""


def o7_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (min price, max size). Distinct (price, size) points sort by
    (price asc, size desc); a point survives iff its size strictly
    exceeds the running max size of every cheaper-or-tied predecessor
    — the classic sort-filter skyline. Skyline is distributive
    (skyline of local skylines = global skyline), so at 100 TB each
    partition pre-filters locally before the small global pass; the
    distinct-pair table here is already catalog-sized. Reports each
    frontier point with how many parts sit on it."""
    p = load_table(spark, sf_dir, "part")
    pts = p.groupBy("p_retailprice", "p_size").agg(F.count("*").alias("n_parts"))
    w = (
        Window.orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("run_max", F.max("p_size").over(w))
        .filter(F.col("run_max").isNull() | (F.col("p_size") > F.col("run_max")))
        .select("p_retailprice", "p_size", "n_parts")
        .orderBy("p_retailprice", "p_size")
    )


O7_SKYLINE_SQL = """
WITH pts AS (
  SELECT p_retailprice, p_size, COUNT(*) AS n_parts
  FROM part GROUP BY 1, 2
),
m AS (
  SELECT *,
         MAX(p_size) OVER (ORDER BY p_retailprice ASC, p_size DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_max
  FROM pts
)
SELECT p_retailprice, p_size, n_parts
FROM m WHERE run_max IS NULL OR p_size > run_max
ORDER BY p_retailprice, p_size
"""


def f12_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-bucket feature discretization (the QuantileDiscretizer
    workload, EXACT): per return-flag group, the quartile boundaries
    are the values at ranks ceil(q·n) — order statistics of the price,
    selected by operators/quantiles.grouped_order_statistics (the
    two-pass bucketed-histogram shape: histogram grain is the cents
    DOMAIN, the coarse rollup locates each boundary's $1000 bucket,
    the exact value selects within that one bucket). Then every row
    bins against its group's broadcast boundaries and the bins roll
    up. Sketch-free and deterministic in any engine; no task ever
    sorts an SF-grown window partition (the old per-flag rank capped
    sort parallelism at 3 tasks: sf1 soak 3.7× for 10× data); at
    100 TB the boundary table is O(groups) rows."""
    from ..operators.quantiles import grouped_order_statistics

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    hist = (
        l.groupBy("l_returnflag", "l_extendedprice")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()  # coarse + fine pass read the same histogram
    )
    n_df = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    targets = None
    for tgt_id, rank_expr in (
        ("q1", "(n + 3) div 4"),
        ("q2", "(n + 1) div 2"),
        ("q3", "(3 * n + 3) div 4"),
    ):
        t = n_df.select(
            "l_returnflag",
            F.lit(tgt_id).alias("tgt_id"),
            F.expr(rank_expr).alias("tgt_rank"),
        )
        targets = t if targets is None else targets.unionByName(t)
    vals = grouped_order_statistics(
        hist,
        ["l_returnflag"],
        "l_extendedprice",
        "c",
        targets,
        F.floor(F.col("l_extendedprice") / F.lit(1000.0)).cast("bigint"),
    )
    bnd = vals.groupBy("l_returnflag").agg(
        F.min(
            F.when(F.col("tgt_id") == "q1", F.col("l_extendedprice"))
        ).alias("q1"),
        F.min(
            F.when(F.col("tgt_id") == "q2", F.col("l_extendedprice"))
        ).alias("q2"),
        F.min(
            F.when(F.col("tgt_id") == "q3", F.col("l_extendedprice"))
        ).alias("q3"),
    )
    binned = l.join(F.broadcast(bnd), "l_returnflag").withColumn(
        "bin",
        F.when(F.col("l_extendedprice") <= F.col("q1"), F.lit(1))
        .when(F.col("l_extendedprice") <= F.col("q2"), F.lit(2))
        .when(F.col("l_extendedprice") <= F.col("q3"), F.lit(3))
        .otherwise(F.lit(4)),
    )
    return (
        binned.groupBy("l_returnflag", "bin")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("price_sum"),
            F.min("q1").alias("q1"),
            F.min("q2").alias("q2"),
            F.min("q3").alias("q3"),
        )
        .orderBy("l_returnflag", "bin")
    )


def f13_locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF (last-observation-carried-forward) null imputation per
    event series — the standard time-series gap repair.

    Nulls are injected deterministically (event_id % 7 == 0, ~14% of
    rows) so the query is self-contained; the fill is
    `last(value, ignorenulls)` over an UNBOUNDED-PRECEDING row frame
    per user ordered by (ts, event_id) — one shuffle on user_id, one
    sort, no self-joins. Leading nulls (no prior observation) stay
    null, and the imputed flag + residual null count make the repair
    auditable. Per-row output is the point: downstream training reads
    the repaired column."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.when(F.col("event_id") % 7 != 0, F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.last("v", ignorenulls=True).over(w).alias("value_filled"),
        (F.col("v").isNull() & F.last("v", ignorenulls=True).over(w).isNotNull())
        .cast("long")
        .alias("imputed"),
    ).orderBy("event_id")


F13_LOCF_SQL = """
SELECT event_id, user_id,
       LAST_VALUE(v IGNORE NULLS) OVER w AS value_filled,
       CAST(CASE WHEN v IS NULL
                  AND LAST_VALUE(v IGNORE NULLS) OVER w IS NOT NULL
            THEN 1 ELSE 0 END AS BIGINT) AS imputed
FROM (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 7 <> 0 THEN value END AS v
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def f14_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive string semantics via Spark 4 collations.

    Mixed-case text is synthesized deterministically (even part keys
    lowercase their p_type), then compared under the default binary
    collation vs ``UNICODE_CI`` — distinct counts, a CI literal match,
    and a CI grouping cardinality. Collation travels in the column
    TYPE, so every downstream comparison/aggregation/join inherits it
    with zero per-row function calls — unlike the lower()-everywhere
    idiom, which burns a string copy per comparison at 100 TB (the
    oracle uses exactly that idiom, proving equivalence on ASCII
    data)."""
    p = load_table(spark, sf_dir, "part").select(
        F.when(
            F.col("p_partkey") % 2 == 0, F.lower(F.col("p_type"))
        )
        .otherwise(F.col("p_type"))
        .alias("name_mc")
    )
    ci = F.collate(F.col("name_mc"), "UNICODE_CI")
    return p.agg(
        F.countDistinct("name_mc").alias("n_distinct_binary"),
        F.countDistinct(ci).alias("n_distinct_ci"),
        F.count(F.when(ci == F.lit("promo anodized tin"), 1)).alias(
            "n_ci_literal_match"
        ),
    )


F14_COLLATION_SQL = """
WITH p AS (
  SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_type) ELSE p_type END
           AS name_mc
  FROM part
)
SELECT COUNT(DISTINCT name_mc) AS n_distinct_binary,
       COUNT(DISTINCT lower(name_mc)) AS n_distinct_ci,
       CAST(SUM(CASE WHEN lower(name_mc) = 'promo anodized tin' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ci_literal_match
FROM p
"""


def o8_range_partition_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-correct TOTAL ordering: ``repartitionByRange`` (sampled
    range boundaries) + ``sortWithinPartitions`` — the distributed
    sort that writes globally-ordered output WITHOUT funneling data
    through one task the way a bare orderBy-collect would.

    The query then PROVES the total order with two checks computed on
    the sorted result itself: (a) zero within-partition inversions
    (lag comparison under the same (pid; key) order) and (b) range
    partitions tile — every partition's max key ≤ the next partition's
    min key. The sort key ends in the unique (orderkey, linenumber)
    so the order is total and engine-independent; the oracle pins the
    invariants. This is exactly how a 100 TB sorted parquet export
    (e.g. for downstream merge joins or Z-order-free clustering)
    should be produced."""
    l = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        "l_orderkey",
        "l_linenumber",
    )
    parts = (
        l.repartitionByRange(8, "price", "l_orderkey", "l_linenumber")
        .sortWithinPartitions("price", "l_orderkey", "l_linenumber")
        .select(
            F.spark_partition_id().alias("pid"),
            F.struct("price", "l_orderkey", "l_linenumber").alias("k"),
        )
    )
    w = Window.partitionBy("pid").orderBy("k")
    inversions = (
        parts.withColumn("prev", F.lag("k").over(w))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(
                F.when(F.col("prev") > F.col("k"), 1).otherwise(0)
            ).alias("n_inversions"),
        )
    )
    bounds = parts.groupBy("pid").agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
    wb = Window.orderBy("pid")
    tiling = (
        bounds.withColumn("prev_hi", F.lag("hi").over(wb))
        .agg(
            F.count("*").alias("n_parts"),
            F.sum(
                F.when(F.col("prev_hi") > F.col("lo"), 1).otherwise(0)
            ).alias("n_overlaps"),
        )
    )
    return inversions.crossJoin(tiling).select(
        "n_rows",
        F.col("n_parts").cast("long").alias("n_parts"),
        (F.col("n_inversions") == 0).alias("within_sorted_ok"),
        (F.col("n_overlaps") == 0).alias("partitions_tile_ok"),
    )


O8_RANGE_SORT_SQL = """
SELECT COUNT(*) AS n_rows,
       CAST(8 AS BIGINT) AS n_parts,
       true AS within_sorted_ok,
       true AS partitions_tile_ok
FROM lineitem
"""


def w9_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``percentile_cont`` semantics (linear interpolation between
    the two bracketing order statistics) per return flag, for q =
    .25/.5/.75 — the continuous companion to f12's discrete quantile
    boundaries, engine-exact by construction.

    The fractional position (n−1)·q is carried in integer QUARTERS
    (pos = (n−1)·k, lo = pos div 4 + 1, frac = (pos mod 4)/4 ∈ {0,
    .25, .5, .75}), so the only float step is one shared-text
    interpolation over exact decimal-derived doubles — never an
    engine's own percentile implementation, whose tie-breaking and
    rounding differ.

    Scale shape: the six bracketing order statistics (lo/hi × 3
    quantiles per flag) come from operators/quantiles.
    grouped_order_statistics — the fact table collapses once to the
    (flag, price) histogram (grain = the CENTS DOMAIN, ≤ ~1e7 distinct,
    not the row count), a ~110-bucket/$1000 coarse rollup locates each
    target's bucket, and the exact value selects within that one
    bucket (≤ 1e5 distinct cents). The old per-flag rank sorted a
    third of lineitem in ONE task (sf1 soak 7.2× for 10× data)."""
    from ..operators.quantiles import grouped_order_statistics

    l = load_table(spark, sf_dir, "lineitem")
    hist = (
        l.select(
            "l_returnflag",
            F.col("l_extendedprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("v"),
        )
        .groupBy("l_returnflag", "v")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()  # coarse + fine pass read the same histogram
    )
    n_df = hist.groupBy("l_returnflag").agg(F.sum("c").alias("n"))
    ks = n_df.select(
        "l_returnflag",
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    )
    lo_t = ks.select(
        "l_returnflag",
        F.concat(F.lit("lo"), F.col("k")).alias("tgt_id"),
        F.expr("((n - 1) * k) div 4 + 1").alias("tgt_rank"),
    )
    hi_t = ks.select(
        "l_returnflag",
        F.concat(F.lit("hi"), F.col("k")).alias("tgt_id"),
        F.expr("least(((n - 1) * k) div 4 + 2, n)").alias("tgt_rank"),
    )
    vals = grouped_order_statistics(
        hist,
        ["l_returnflag"],
        "v",
        "c",
        lo_t.unionByName(hi_t),
        F.floor(F.col("v") / F.lit(1000.0)).cast("bigint"),
    )
    aggs = []
    for k in (1, 2, 3):
        aggs += [
            F.min(F.when(F.col("tgt_id") == f"lo{k}", F.col("v"))).alias(
                f"lo{k}"
            ),
            F.min(F.when(F.col("tgt_id") == f"hi{k}", F.col("v"))).alias(
                f"hi{k}"
            ),
        ]
    agg = vals.groupBy("l_returnflag").agg(*aggs).join(
        F.broadcast(n_df), "l_returnflag"
    )
    outs = [F.col("l_returnflag")]
    for k, name in ((1, "p25"), (2, "p50"), (3, "p75")):
        outs.append(
            F.expr(
                f"lo{k} + (CAST(((n - 1) * {k}) % 4 AS DOUBLE)"
                f" / CAST(4 AS DOUBLE)) * (hi{k} - lo{k})"
            ).alias(name)
        )
    return agg.select(*outs).orderBy("l_returnflag")


def _w9_sql() -> str:
    cells = []
    for k in (1, 2, 3):
        lo = f"((n - 1) * {k}) // 4 + 1"
        cells.append(
            f"MIN(CASE WHEN rn = {lo} THEN v END) AS lo{k},\n"
            f"         MIN(CASE WHEN rn = LEAST({lo} + 1, n) THEN v END) AS hi{k},\n"
            f"         MIN(((n - 1) * {k}) % 4) AS rem{k}"
        )
    outs = ",\n       ".join(
        f"lo{k} + (CAST(rem{k} AS DOUBLE) / CAST(4 AS DOUBLE)) * (hi{k} - lo{k}) AS {name}"
        for k, name in ((1, "p25"), (2, "p50"), (3, "p75"))
    )
    return f"""
WITH ranked AS (
  SELECT l_returnflag,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
),
agg AS (
  SELECT l_returnflag,
         {','.join(cells)}
  FROM ranked GROUP BY l_returnflag
)
SELECT l_returnflag,
       {outs}
FROM agg
ORDER BY l_returnflag
"""


W9_PCONT_SQL = _w9_sql()


F12_QBINS_SQL = """
WITH ranked AS (
  SELECT l_returnflag, l_extendedprice,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
),
bnd AS (
  SELECT l_returnflag,
         MIN(CASE WHEN rn = (n + 3) // 4 THEN l_extendedprice END) AS q1,
         MIN(CASE WHEN rn = (n + 1) // 2 THEN l_extendedprice END) AS q2,
         MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN l_extendedprice END) AS q3
  FROM ranked GROUP BY l_returnflag
),
binned AS (
  SELECT l.l_returnflag, l.l_extendedprice, b.q1, b.q2, b.q3,
         CASE WHEN l.l_extendedprice <= b.q1 THEN 1
              WHEN l.l_extendedprice <= b.q2 THEN 2
              WHEN l.l_extendedprice <= b.q3 THEN 3
              ELSE 4 END AS bin
  FROM lineitem l JOIN bnd b USING (l_returnflag)
)
SELECT l_returnflag, bin, COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
       MIN(q1) AS q1, MIN(q2) AS q2, MIN(q3) AS q3
FROM binned GROUP BY 1, 2 ORDER BY 1, 2
"""


def f15_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions — transform / filter / aggregate
    (fold) / reverse+zip_with — the Catalyst lambda surface that keeps
    array work JVM-side where a row-at-a-time UDF would be the slow
    path. Per order (keys < 200 for a bounded fixture), the sorted
    line-quantity array folds to: item count, Σx² (via ``aggregate``),
    count over 25 (via ``filter``), doubled sum (via ``transform``),
    and the dot product with its own reversal (via ``zip_with``) — all
    exact BIGINTs, mirrored by DuckDB's list lambdas.

    Scale: one groupBy builds the arrays (orders are line-bounded, so
    arrays are small by construction); every lambda is whole-stage
    codegen, zero Python."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 200
    )
    arrs = (
        l.select("l_orderkey", F.col("l_quantity").cast("long").alias("q"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("q")).alias("qs"))
    )
    return arrs.select(
        "l_orderkey",
        F.expr("size(qs)").cast("long").alias("n_items"),
        F.expr("aggregate(qs, 0L, (acc, x) -> acc + x * x)").alias("sum_sq"),
        F.expr("CAST(size(filter(qs, x -> x > 25)) AS BIGINT)").alias(
            "n_over_25"
        ),
        F.expr("aggregate(transform(qs, x -> 2 * x), 0L, (acc, x) -> acc + x)")
        .alias("doubled_sum"),
        F.expr(
            "aggregate(zip_with(qs, reverse(qs), (x, y) -> x * y),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("dot_reversed"),
    ).orderBy("l_orderkey")


F15_HOF_SQL = """
WITH arrs AS (
  SELECT l_orderkey, list(CAST(l_quantity AS BIGINT) ORDER BY l_quantity) AS qs
  FROM lineitem WHERE l_orderkey < 200 GROUP BY 1
)
SELECT l_orderkey,
       CAST(len(qs) AS BIGINT) AS n_items,
       CAST(list_sum(list_transform(qs, x -> x * x)) AS BIGINT) AS sum_sq,
       CAST(len(list_filter(qs, x -> x > 25)) AS BIGINT) AS n_over_25,
       CAST(list_sum(list_transform(qs, x -> 2 * x)) AS BIGINT)
         AS doubled_sum,
       CAST(list_sum(list_transform(range(1, len(qs) + 1),
            i -> qs[i] * qs[len(qs) - i + 1])) AS BIGINT) AS dot_reversed
FROM arrs
ORDER BY l_orderkey
"""


# ---------------------------------------------------------------------------
# wh_abc_analysis — ABC inventory classification by revenue share
# ---------------------------------------------------------------------------


def wh_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC analysis of parts by lineitem revenue: parts rank by revenue
    descending (exact cents; ties by partkey), class A covers the first
    80% of cumulative revenue, B to 95%, C the tail — the 80/15/5
    inventory-control classification every supply-chain dashboard
    leads with.

    The class boundary is an exact integer comparison (cum·100 vs
    total·{{80,95}} in DECIMAL(38,0)/HUGEINT — BIGINT cents ×100 would
    wrap around sf~4000; no float on the decision path). Scale: one
    map-side-combinable rollup to part grain; the PART table grows
    with the data, so the cumulative revenue is
    operators/ranking.range_cumsum (the two-pass range-partitioned
    running sum — revenue DESC rides as an exact integer negation) and
    the grand total is a one-row aggregate broadcast back — no
    single-partition exchange anywhere. Output is the 3-class
    census."""
    from ..operators.ranking import range_cumsum

    l = load_table(spark, sf_dir, "lineitem")
    per_part = l.groupBy("l_partkey").agg(
        F.sum(
            F.expr(
                "CAST(FLOOR(l_extendedprice * CAST(100 AS DOUBLE)"
                " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            )
        ).alias("cents")
    )
    cum_df = range_cumsum(
        per_part.withColumn("neg_cents", -F.col("cents")),
        ["neg_cents", "l_partkey"],
        "cents",
        "cum",
    )
    # grand total off the checkpointed cumsum pass — the lineitem scan
    # and part-grain rollup run exactly once
    tot_df = cum_df.agg(F.sum("cents").alias("tot"))
    classed = cum_df.crossJoin(F.broadcast(tot_df)).select(
        "cents",
        # cum·100 passes BIGINT around sf~4000 (and DuckDB would promote
        # to HUGEINT while Spark wraps — a silent cross-engine divergence):
        # carry the decision comparison in exact DECIMAL(38,0)
        F.expr(
            "CASE WHEN CAST(cum AS DECIMAL(38,0)) * 100"
            " <= CAST(tot AS DECIMAL(38,0)) * 80 THEN 'A'"
            " WHEN CAST(cum AS DECIMAL(38,0)) * 100"
            " <= CAST(tot AS DECIMAL(38,0)) * 95 THEN 'B' ELSE 'C' END"
        ).alias("abc"),
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("abc")
    )


WH_ABC_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(FLOOR(l_extendedprice * CAST(100 AS DOUBLE)
              + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1
), classed AS (
  SELECT cents,
         CASE WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS HUGEINT) * 100
                <= CAST(SUM(cents) OVER () AS HUGEINT) * 80 THEN 'A'
              WHEN CAST(SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS HUGEINT) * 100
                <= CAST(SUM(cents) OVER () AS HUGEINT) * 95 THEN 'B'
              ELSE 'C' END AS abc
  FROM per_part
)
SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents
FROM classed
GROUP BY abc
ORDER BY abc
"""


QUERIES = {
    "wh_abc_analysis": (wh_abc_analysis, WH_ABC_SQL),
    "f15_higher_order_funcs": (f15_higher_order_funcs, F15_HOF_SQL),
    "f1_null_repair": (f1_null_repair, F1_NULL_SQL),
    "f6_array_pack_casts": (f6_array_pack_casts, F6_ARRAY_SQL),
    "f7_id_invariants": (f7_id_invariants, F7_ID_SQL),
    "a6_scalar_avg": (a6_scalar_avg, A6_SQL),
    "a8_collect_list": (a8_collect_list, A8_SQL),
    "a13_per_class_prf": (a13_per_class_prf, A13_SQL),
    "w5_analytic_suite": (w5_analytic_suite, W5_SQL),
    "w6_exact_median": (w6_exact_median, W6_MEDIAN_SQL),
    "f12_quantile_bins": (f12_quantile_bins, F12_QBINS_SQL),
    "f13_locf_impute": (f13_locf_impute, F13_LOCF_SQL),
    "f14_collation_ci": (f14_collation_ci, F14_COLLATION_SQL),
    "o8_range_partition_sort": (o8_range_partition_sort, O8_RANGE_SORT_SQL),
    "w9_percentile_cont": (w9_percentile_cont, W9_PCONT_SQL),
    "o7_skyline_pareto": (o7_skyline_pareto, O7_SKYLINE_SQL),
    "wh_rfm_segments": (wh_rfm_segments, WH_RFM_SQL),
    "o2_repartition_invariants": (o2_repartition_invariants, O2_SQL),
    "s2_tsv_roundtrip": (s2_tsv_roundtrip, S2_SQL),
    "p6_partition_local_sample": (p6_partition_local_sample, P6_SQL),
}
