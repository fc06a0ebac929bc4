"""Relational operator queries (SURVEY §2.1-2.7) over the TPC-H-ish
testdata, each with a DuckDB oracle.

Scale notes inline per query; the common rules:
- filters/projections sit directly on the scan (Catalyst pushes them
  into the parquet reader — verify with .explain → PushedFilters),
- small dims (region/nation/supplier) are broadcast explicitly,
- aggregates are exact DECIMAL where cross-engine equality matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.preprocess import min_max_normalize, min_max_stats
from ..sources.catalog import load_table


def _dec2(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


# --- S1: scan + projection + pushed filter -------------------------------

def s1_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned, filter-pushed scan: the parquet reader should show
    PushedFilters for l_discount and ReadSchema of only 4 columns."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.filter(F.col("l_discount") >= 0.08).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount"
    )


S1_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem WHERE l_discount >= 0.08
"""


# --- TPC-H Q1: pricing summary (A2/A4/A6 multi-agg) ----------------------

def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shuffle grouped multi-aggregate with map-side partials; all
    sums exact DECIMAL → cast DOUBLE."""
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(18,6)")
    return (
        l.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec2("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec2("l_quantity")).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(_dec2("l_extendedprice")).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(_dec2("l_discount")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


TPCH_Q1_SQL = """
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# --- TPC-H Q3: shipping priority (3-way join + top-k) --------------------

def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem; the two fact-side joins shuffle on
    their keys, AQE picks broadcast for the filtered customer side.
    Deterministic top-10 via (revenue desc, o_orderdate, l_orderkey)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-01-01"))
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


TPCH_Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


# --- TPC-H Q5: local supplier volume (6-way join) ------------------------

def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join with explicit broadcasts of the BOUNDED dims
    (region/nation; supplier joins by stats/AQE — it grows with SF)
    (region→nation→supplier) — at 100 TB these stay tiny while orders/
    lineitem shuffle only on join keys."""
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    l = load_table(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


TPCH_Q5_SQL = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


# --- TPC-H Q6: forecast revenue change (pushed-filter scan + scalar agg) --

def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,6)")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


TPCH_Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24
"""


# --- J1: left-anti join (set difference) ---------------------------------

def j1_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order in 1995 (reference utilities.py:74
    pattern, keyed — the scale-correct form of the all-columns anti)."""
    c = load_table(spark, sf_dir, "customer")
    o95 = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-01-01")))
    )
    return c.join(o95, c.c_custkey == o95.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


J1_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey
    AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
)
"""


# --- J3: left-outer join + null repair (reference evaluation.py:123-130) --

def j3_left_outer_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left_outer")
        .select("c_custkey", F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n_orders"))
    )


J3_SQL = """
SELECT c_custkey, CAST(COALESCE(cnt, 0) AS BIGINT) AS n_orders
FROM customer
LEFT OUTER JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey) t
  ON c_custkey = o_custkey
"""


# --- A1: one-pass multi-column min/max (reference utilities.py:78-95) -----

def a1_multi_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    exprs = []
    for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
        exprs.append(F.min(c).alias(f"min_{c}"))
        exprs.append(F.max(c).alias(f"max_{c}"))
    return l.agg(*exprs)


A1_SQL = """
SELECT
  MIN(l_quantity) AS min_l_quantity, MAX(l_quantity) AS max_l_quantity,
  MIN(l_extendedprice) AS min_l_extendedprice, MAX(l_extendedprice) AS max_l_extendedprice,
  MIN(l_discount) AS min_l_discount, MAX(l_discount) AS max_l_discount,
  MIN(l_tax) AS min_l_tax, MAX(l_tax) AS max_l_tax
FROM lineitem
"""


# --- A2: group counts ----------------------------------------------------

def a2_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


A2_SQL = "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem GROUP BY 1, 2"


# --- A3: argmax (majority class; reference global_model_manager.py:182) ---

def a3_top1_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("o_orderpriority"))
        .limit(1)
    )


A3_SQL = """
SELECT o_orderpriority, COUNT(*) AS n FROM orders
GROUP BY 1 ORDER BY n DESC, o_orderpriority LIMIT 1
"""


# --- A4: grouped sum ------------------------------------------------------

def a4_grouped_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty")
    )


A4_SQL = """
SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY 1
"""


# --- A5: weighted-Gini pipeline (reference global_model_manager.py:286-295)

def a5_weighted_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-branch Gini over orders: branch = o_orderpriority, label =
    o_orderstatus. Σcnt² is exact DECIMAL(38,0) so the result is
    order-independent and engine-identical; overflow-safe to ~1e19
    rows per branch."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(F.count("*").alias("cnt"))
    cnt_dec = F.col("cnt").cast("decimal(19,0)")
    per_branch = counts.groupBy("o_orderpriority").agg(
        F.sum("cnt").alias("branch_total"),
        F.sum(cnt_dec * cnt_dec).alias("sum_sq"),
    )
    gini = 1 - F.col("sum_sq").cast("double") / F.col("branch_total").cast("double") / F.col(
        "branch_total"
    ).cast("double")
    return per_branch.select(
        F.col("o_orderpriority").alias("branch"),
        F.col("branch_total").cast("long").alias("branch_total"),
        F.round(gini, 9).alias("gini"),
    )


A5_SQL = """
WITH counts AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2
), per_branch AS (
  SELECT o_orderpriority,
         SUM(cnt) AS branch_total,
         SUM(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))) AS sum_sq
  FROM counts GROUP BY 1
)
SELECT o_orderpriority AS branch,
       CAST(branch_total AS BIGINT) AS branch_total,
       ROUND(1 - CAST(sum_sq AS DOUBLE) / CAST(branch_total AS DOUBLE) / CAST(branch_total AS DOUBLE), 9) AS gini
FROM per_branch
"""


# --- A7: distinct ---------------------------------------------------------

def a7_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


A7_SQL = "SELECT DISTINCT c_mktsegment FROM customer"


# --- A11: balanced accuracy (reference evaluation.py:119-151) -------------

_PRED = (
    "CASE WHEN o_totalprice < 100000 THEN 'F' "
    "WHEN o_totalprice < 300000 THEN 'O' ELSE 'P' END"
)


def a11_balanced_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class recall then unweighted mean — the reference's balanced
    accuracy (A2+J3+F4 composition), on a deterministic synthetic
    classifier over orders. Exact int ratios → identical doubles."""
    o = load_table(spark, sf_dir, "orders").withColumn("prediction", F.expr(_PRED))
    per_class = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("actual_total"),
        F.sum(F.when(F.col("o_orderstatus") == F.col("prediction"), 1).otherwise(0)).alias("tp"),
    )
    recall = F.when(
        F.col("actual_total") > 0, F.col("tp").cast("double") / F.col("actual_total").cast("double")
    ).otherwise(F.lit(0.0))
    return per_class.select(recall.alias("recall")).agg(
        F.round(F.avg("recall"), 9).alias("balanced_accuracy")
    )


A11_SQL = f"""
WITH preds AS (SELECT o_orderstatus, {_PRED} AS prediction FROM orders),
per_class AS (
  SELECT o_orderstatus, COUNT(*) AS actual_total,
         SUM(CASE WHEN o_orderstatus = prediction THEN 1 ELSE 0 END) AS tp
  FROM preds GROUP BY 1
)
SELECT ROUND(AVG(CASE WHEN actual_total > 0
  THEN CAST(tp AS DOUBLE) / CAST(actual_total AS DOUBLE) ELSE 0.0 END), 9) AS balanced_accuracy
FROM per_class
"""


# --- A12: confusion matrix (reference evaluation.py:513-553) --------------

def a12_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").withColumn("prediction", F.expr(_PRED))
    return (
        o.groupBy(F.col("o_orderstatus").alias("label"), "prediction")
        .agg(F.count("*").alias("n"))
    )


A12_SQL = f"""
SELECT o_orderstatus AS label, {_PRED} AS prediction, COUNT(*) AS n
FROM orders GROUP BY 1, 2
"""


# --- W1: ranked stratified partition assignment (reference preprocessing.py:73-76)

def w1_ranked_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number per label (deterministic order for the oracle) →
    modulo partition id → per-(label, pid) counts. The production
    operator (operators/preprocess.py) uses seeded content-hash order;
    here the order key is the unique (l_orderkey, l_linenumber) so
    DuckDB agrees. The per-label rank is grouped_range_rank — a window
    partitioned by the 3-value return flag would sort a third of
    lineitem in ONE task at any scale; the range-partitioned two-pass
    rank keeps parallelism at #partitions."""
    from ..operators.ranking import grouped_range_rank

    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber"
    )
    ranked = grouped_range_rank(
        l, ["l_returnflag"], ["l_orderkey", "l_linenumber"], "rn"
    )
    return (
        ranked.withColumn("pid", ((F.col("rn") - 1) % 8).cast("long"))
        .groupBy("l_returnflag", "pid")
        .agg(F.count("*").alias("n"))
    )


W1_SQL = """
SELECT l_returnflag, CAST((rn - 1) % 8 AS BIGINT) AS pid, COUNT(*) AS n
FROM (
  SELECT l_returnflag,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber) AS rn
  FROM lineitem
)
GROUP BY 1, 2
"""


# --- W2: per-group top-k (reference global_model_manager.py:225-233) ------

def w2_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))
    )


W2_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders
)
WHERE rank <= 3
"""


# --- W3: lag/lead analytics (extended surface, SURVEY §2.6 note) ----------

def w3_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    )


W3_SQL = """
SELECT event_id,
       value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events
"""


# --- W4: moving average with a row frame ----------------------------------

def w4_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-row moving average; numerator is an exact DECIMAL window sum so
    sliding-accumulator float drift can't diverge the engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return e.select(
        "event_id",
        (
            F.sum(_dec2("value")).over(w).cast("double")
            / F.count("*").over(w)
        ).alias("mavg"),
    )


W4_SQL = """
SELECT event_id,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
    / COUNT(*) OVER w AS mavg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# --- O1: order-by + limit -------------------------------------------------

def o1_orderby_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .select("c_custkey", "c_name", "c_acctbal")
        .limit(5)
    )


O1_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal DESC, c_custkey LIMIT 5
"""


# --- O4: set difference (EXCEPT) ------------------------------------------

def o4_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)


O4_SQL = "SELECT c_custkey AS custkey FROM customer EXCEPT SELECT o_custkey FROM orders"


# --- F2: min-max normalization (reference preprocessing.py:29-48) ---------

def f2_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase: one-pass stats collect, literals folded into the
    projection (constant-folded by Catalyst). Same IEEE arithmetic as
    the oracle's windowed form → identical doubles."""
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    stats = min_max_stats(l, ["l_quantity", "l_extendedprice"])
    out = min_max_normalize(l, ["l_quantity", "l_extendedprice"], stats)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("q_norm"),
        F.col("l_extendedprice").alias("price_norm"),
    )


F2_SQL = """
SELECT l_orderkey, l_linenumber,
  (l_quantity - mn_q) / (mx_q - mn_q) AS q_norm,
  (l_extendedprice - mn_p) / (mx_p - mn_p) AS price_norm
FROM lineitem
CROSS JOIN (
  SELECT MIN(l_quantity) AS mn_q, MAX(l_quantity) AS mx_q,
         MIN(l_extendedprice) AS mn_p, MAX(l_extendedprice) AS mx_p
  FROM lineitem
)
"""


# --- F4: conditional bucketing (F.when; reference evaluation.py:134-137) --

def f4_conditional_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))


F4_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS bucket,
       COUNT(*) AS n
FROM orders GROUP BY 1
"""


# --- JSON: semi-structured props extraction (extended surface) ------------

def json_props_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(F.sum(k).alias("sum_k"), F.count("*").alias("n"))


JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(*) AS n
FROM events GROUP BY 1
"""


def evt_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VariantType path for semi-structured data: parse the
    JSON once into a variant (binary-encoded, predicate-friendly — the
    open-format answer to string re-parsing per field access), then
    extract typed fields. Same rollup as json_props_sum, so the two
    prove the legacy get_json_object path and the variant path agree
    with each other AND with the oracle."""
    e = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_missing"),
        )
    )


EVT_VARIANT_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       COUNT(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 END) AS n_missing
FROM events GROUP BY 1
"""


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt (the inverse of pivot): the per-returnflag wide
    aggregate row becomes long (flag, metric, value) — the shape
    metric stores and plotting layers want. Native Expand node, one
    pass, no Python."""
    l = load_table(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(_dec2("l_extendedprice")).cast("double").alias("sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "n_rows"],
        variableColumnName="metric",
        valueColumnName="value",
    )


UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(COUNT(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
UNION ALL SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM wide
"""


# --- date/string scalar functions (extended surface) ----------------------

def date_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(_dec2("o_totalprice")).cast("double").alias("total"),
    )


DATE_STRING_SQL = """
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
       CAST(QUARTER(o_orderdate) AS BIGINT) AS qtr,
       SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY 1, 2, 3
"""


# --- J6: null-safe equi-join (<=> / IS NOT DISTINCT FROM) -----------------

def j6_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: customers ⋈ suppliers on nationkey where
    key 0 is mapped to NULL on both sides (the dirty-dimension case —
    unknown keys that must still pair with each other, not vanish the
    way plain `=` drops them).

    ``eqNullSafe`` keeps the join a hash equi-join (NULL hashes as a
    value — no fallback to nested-loop), so the plan is the same
    broadcast join a clean key would get; the NULL bucket is one more
    key. Output: per joined key, pair count and the null-key flag."""
    c = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(0)).alias("ck")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey"), F.lit(0)).alias("sk")
    )
    return (
        c.join(s, c.ck.eqNullSafe(s.sk))
        .groupBy("ck")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            F.col("ck").alias("nationkey"),
            F.col("ck").isNull().alias("is_null_bucket"),
            "n_pairs",
        )
        .orderBy(F.col("nationkey").asc_nulls_first())
    )


J6_NULLSAFE_SQL = """
WITH c AS (SELECT NULLIF(c_nationkey, 0) AS ck FROM customer),
s AS (SELECT NULLIF(s_nationkey, 0) AS sk FROM supplier)
SELECT ck AS nationkey, ck IS NULL AS is_null_bucket, COUNT(*) AS n_pairs
FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
GROUP BY ck
ORDER BY nationkey ASC NULLS FIRST
"""


QUERIES = {
    "s1_scan_project": (s1_scan_project, S1_SQL),
    "tpch_q1": (tpch_q1, TPCH_Q1_SQL),
    "tpch_q3": (tpch_q3, TPCH_Q3_SQL),
    "tpch_q5": (tpch_q5, TPCH_Q5_SQL),
    "tpch_q6": (tpch_q6, TPCH_Q6_SQL),
    "j1_anti_join": (j1_anti_join, J1_SQL),
    "j6_null_safe_join": (j6_null_safe_join, J6_NULLSAFE_SQL),
    "j3_left_outer_fillna": (j3_left_outer_fillna, J3_SQL),
    "a1_multi_minmax": (a1_multi_minmax, A1_SQL),
    "a2_group_count": (a2_group_count, A2_SQL),
    "a3_top1_argmax": (a3_top1_argmax, A3_SQL),
    "a4_grouped_sum": (a4_grouped_sum, A4_SQL),
    "a5_weighted_gini": (a5_weighted_gini, A5_SQL),
    "a7_distinct": (a7_distinct, A7_SQL),
    "a11_balanced_accuracy": (a11_balanced_accuracy, A11_SQL),
    "a12_confusion_matrix": (a12_confusion_matrix, A12_SQL),
    "w1_ranked_partition": (w1_ranked_partition, W1_SQL),
    "w2_group_topk": (w2_group_topk, W2_SQL),
    "w3_lag_delta": (w3_lag_delta, W3_SQL),
    "w4_moving_avg": (w4_moving_avg, W4_SQL),
    "o1_orderby_limit": (o1_orderby_limit, O1_SQL),
    "o4_set_difference": (o4_set_difference, O4_SQL),
    "f2_minmax_normalize": (f2_minmax_normalize, F2_SQL),
    "f4_conditional_bucket": (f4_conditional_bucket, F4_SQL),
    "json_props_sum": (json_props_sum, JSON_SQL),
    "evt_variant_props": (evt_variant_props, EVT_VARIANT_SQL),
    "unpivot_metrics": (unpivot_metrics, UNPIVOT_SQL),
    "date_string_funcs": (date_string_funcs, DATE_STRING_SQL),
}
