"""Sampling & split queries (SURVEY §2.2) with structural-invariant
oracles: sampling is engine-RNG-specific, so the oracle checks the
invariants (partition of the input, per-class bounds), not the draw.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import bernoulli_sample, stratified_sample, stratified_split
from ..sources.catalog import load_table


def p4_split_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified 80/20 split invariants: train+test is a partition of
    the input (n_train + n_test == n_total, overlap impossible by
    construction — complementary rand predicates)."""
    l = load_table(spark, sf_dir, "lineitem")
    train, test = stratified_split(l, "l_returnflag", 0.8, seed=42)
    n_total = l.count()
    n_train = train.count()
    n_test = test.count()
    return spark.createDataFrame(
        [(n_total, n_train + n_test, 0)],
        "n_total long, n_train_plus_test long, n_overlap long",
    )


P4_SQL = """
SELECT COUNT(*) AS n_total, COUNT(*) AS n_train_plus_test, CAST(0 AS BIGINT) AS n_overlap
FROM lineitem
"""


def p1_sample_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample: the draw is Spark-specific, but the rate
    must land near the target (±5 σ). Returns within_bounds for the
    oracle to pin TRUE."""
    l = load_table(spark, sf_dir, "lineitem")
    n = l.count()
    k = bernoulli_sample(l, 0.1, seed=42).count()
    # 5-sigma binomial bound
    import math

    sigma = math.sqrt(n * 0.1 * 0.9)
    ok = abs(k - n * 0.1) <= 5 * sigma
    return spark.createDataFrame([(bool(ok),)], "within_bounds boolean")


P1_SQL = "SELECT TRUE AS within_bounds"


def p2_stratified_sample_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-class sample (reference utilities.py:52-72): every
    class rate within 5 σ of the 20% target."""
    o = load_table(spark, sf_dir, "orders")
    totals = {r[0]: r[1] for r in o.groupBy("o_orderstatus").count().collect()}
    sampled = stratified_sample(o, "o_orderstatus", 0.2, seed=42)
    got = {r[0]: r[1] for r in sampled.groupBy("o_orderstatus").count().collect()}
    import math

    ok = all(
        abs(got.get(cls, 0) - n * 0.2) <= 5 * math.sqrt(n * 0.2 * 0.8)
        for cls, n in totals.items()
    )
    return spark.createDataFrame([(bool(ok),)], "all_classes_within_bounds boolean")


P2_SQL = "SELECT TRUE AS all_classes_within_bounds"


def p7_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size systematic sampling (exact).

    Classic survey-sampling design: lay items on a line scaled by
    weight (retail price in integer cents), drop k equally spaced
    ticks, keep the item under each tick — heavy items are chosen with
    probability proportional to weight, items with w ≥ W/k are chosen
    with certainty. Everything is BIGINT arithmetic, so the draw is
    deterministic and identical in any engine (no RNG, unlike P1/P2).

    Scale shape: the cumulative weight uses a two-phase prefix sum:
    per-range-bucket partial sums (a
    tiny aggregate), an exclusive prefix over the bucket totals (a
    window over O(n/bucket_size) rows), then a bucket-local window.
    No global ordering over the fact rows anywhere.
    """
    from pyspark.sql import Window

    k = 200
    bucket_size = 1000
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("w"),
        F.expr(f"p_partkey div {bucket_size}").alias("bucket"),
    )
    totals = p.groupBy("bucket").agg(F.sum("w").alias("bw"))
    # exclusive prefix over bucket totals: single-partition window is
    # fine — totals has n_rows / bucket_size rows by construction
    tw = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "bucket", F.coalesce(F.sum("bw").over(tw), F.lit(0)).alias("off")
    )
    wtot = totals.agg(F.sum("bw").alias("wtot"))
    wloc = Window.partitionBy("bucket").orderBy("p_partkey")
    c = (
        p.join(F.broadcast(offs), "bucket")
        .crossJoin(F.broadcast(wtot))
        .withColumn("cum", F.col("off") + F.sum("w").over(wloc))
    )
    return (
        c.filter(F.expr(f"(cum * {k}) div wtot > ((cum - w) * {k}) div wtot"))
        .select(
            "p_partkey",
            F.col("w").alias("weight_cents"),
            F.expr(f"(cum * {k}) div wtot").cast("long").alias("tick"),
        )
        .orderBy("p_partkey")
    )


P7_SQL = """
WITH w AS (
  SELECT p_partkey,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
  FROM part
),
c AS (
  SELECT p_partkey, w,
         SUM(w) OVER (ORDER BY p_partkey ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER () AS wtot
  FROM w
)
SELECT p_partkey, w AS weight_cents,
       CAST((cum * 200) // wtot AS BIGINT) AS tick
FROM c
WHERE (cum * 200) // wtot > ((cum - w) * 200) // wtot
ORDER BY p_partkey
"""


# --- P8: bottom-k consistent sample (hash-priority reservoir) -------------

_P8_K = 100


def p8_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k consistent sampling: each order's priority is its
    portable md5 hash; the sample is the k smallest priorities. Unlike
    seeded `rand()` sampling this draw is (a) reproducible in ANY
    engine, (b) consistent across runs and table growth (an order
    keeps its priority forever — the classic bottom-k/min-hash sketch
    property that lets two independently-sampled tables be joined on
    their common sample), and (c) value-oracle-checkable — the
    registry's only fully value-checked random sample.

    Scale: priorities are a projection; the k-smallest cut is a
    TakeOrdered (per-partition top-k then a k-sized driver merge, no
    global sort shuffle). Output: the sample's exact aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.expr(
            "CAST(conv(substring(md5(concat('p8|', CAST(o_orderkey AS STRING)))"
            ", 1, 15), 16, 10) AS BIGINT)"
        ).alias("priority"),
    )
    sample = o.orderBy("priority").limit(_P8_K)
    return sample.agg(
        F.count("*").alias("k"),
        F.min("priority").alias("min_priority"),
        F.max("priority").alias("max_priority"),
        F.sum("v").cast("double").alias("sample_value_sum"),
        F.sum("o_orderkey").alias("key_checksum"),
    )


P8_SQL = f"""
WITH pri AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS v,
         ('0x' || substr(md5('p8|' || CAST(o_orderkey AS VARCHAR)), 1, 15))::BIGINT
           AS priority
  FROM orders
),
sample AS (SELECT * FROM pri ORDER BY priority LIMIT {_P8_K})
SELECT COUNT(*) AS k,
       CAST(MIN(priority) AS BIGINT) AS min_priority,
       CAST(MAX(priority) AS BIGINT) AS max_priority,
       CAST(SUM(v) AS DOUBLE) AS sample_value_sum,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM sample
"""


# ---------------------------------------------------------------------------
# p9_neyman_allocation — optimal stratified sample-size design
# ---------------------------------------------------------------------------

_ALLOC_N = 1000  # total sample budget to apportion

# population stddev from exact cent sums — ONE shared IEEE expression
# (sqrt is correctly-rounded everywhere)
_ALLOC_SD = (
    "SQRT(CAST(c2 AS DOUBLE) / CAST(nh AS DOUBLE)"
    " - (CAST(c1 AS DOUBLE) / CAST(nh AS DOUBLE))"
    " * (CAST(c1 AS DOUBLE) / CAST(nh AS DOUBLE)))"
)
# Neyman weight N_h·S_h quantized to a BIGINT so the apportionment
# below is pure integer arithmetic (order-free, engine-portable)
_ALLOC_W = (
    f"CAST(FLOOR(CAST(nh AS DOUBLE) * {_ALLOC_SD}"
    " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
)


def p9_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sample allocation — the survey-design
    step that decides HOW MANY rows to draw per stratum before any
    stratified_sample runs: n_h ∝ N_h·S_h minimizes the variance of
    the stratified mean for a fixed budget.

    Per-priority counts and cent-exact Σq, Σq² reduce in one
    map-side-combinable pass; S_h is one shared closed-form double;
    the N_h·S_h weight is quantized to BIGINT so the 1000-row budget
    is apportioned with the exact largest-remainder (Hamilton) method
    — base = (n·w) div W, then the leftover seats go to the largest
    integer remainders (priority name breaks ties) — so the allocation
    sums to the budget EXACTLY and every step is portable integer
    arithmetic. Proportional allocation is emitted alongside for the
    design-effect comparison.

    Scale: the stratum statistics are the only data-sized pass; the
    apportionment windows run over #strata rows. 100 TB → one scan +
    a strata-sized exchange; the same cent sums merge incrementally.
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    q = F.expr(
        "CAST(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)"
        " + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DECIMAL(18,0))"
    )
    g = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("nh"),
        F.sum(q).alias("c1"),
        F.sum(q * q).alias("c2"),
    )
    wgt = g.selectExpr(
        "o_orderpriority",
        "nh",
        f"{_ALLOC_SD} AS sd_cents",
        f"{_ALLOC_W} AS w",
    )
    wall = Window.partitionBy()
    base = wgt.select(
        "o_orderpriority",
        "nh",
        "sd_cents",
        "w",
        F.sum("nh").over(wall).alias("n_total"),
        F.sum("w").over(wall).alias("w_total"),
    ).selectExpr(
        "*",
        f"({_ALLOC_N} * w) div w_total AS base_h",
        f"{_ALLOC_N} * w - (({_ALLOC_N} * w) div w_total) * w_total AS rem_h",
        f"({_ALLOC_N} * nh) div n_total AS alloc_proportional",
    )
    w_rank = Window.orderBy(F.desc("rem_h"), F.asc("o_orderpriority"))
    ranked = base.select(
        "*",
        F.row_number().over(w_rank).alias("rk"),
        (F.lit(_ALLOC_N) - F.sum("base_h").over(wall)).alias("leftover"),
    )
    return ranked.selectExpr(
        "o_orderpriority",
        "nh AS n_rows",
        "sd_cents",
        "w AS neyman_weight",
        "CAST(base_h + IF(rk <= leftover, 1, 0) AS BIGINT) AS alloc_neyman",
        "CAST(alloc_proportional AS BIGINT) AS alloc_proportional",
    ).orderBy("o_orderpriority")


P9_SQL = f"""
WITH g AS (
  SELECT o_orderpriority, COUNT(*) AS nh,
         SUM(qc) AS c1, SUM(qc * qc) AS c2
  FROM (
    SELECT o_orderpriority,
           CAST(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS DECIMAL(18,0)) AS qc
    FROM orders
  ) GROUP BY 1
), wgt AS (
  SELECT o_orderpriority, nh, {_ALLOC_SD} AS sd_cents, {_ALLOC_W} AS w
  FROM g
), base AS (
  SELECT *, SUM(nh) OVER () AS n_total, SUM(w) OVER () AS w_total
  FROM wgt
), app AS (
  SELECT *,
         ({_ALLOC_N} * w) // w_total AS base_h,
         {_ALLOC_N} * w - (({_ALLOC_N} * w) // w_total) * w_total AS rem_h,
         ({_ALLOC_N} * nh) // n_total AS alloc_proportional
  FROM base
), ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY rem_h DESC, o_orderpriority) AS rk,
         {_ALLOC_N} - SUM(base_h) OVER () AS leftover
  FROM app
)
SELECT o_orderpriority, nh AS n_rows, sd_cents, w AS neyman_weight,
       CAST(base_h + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_neyman,
       CAST(alloc_proportional AS BIGINT) AS alloc_proportional
FROM ranked
ORDER BY o_orderpriority
"""


QUERIES = {
    "p4_split_invariants": (p4_split_invariants, P4_SQL),
    "p9_neyman_allocation": (p9_neyman_allocation, P9_SQL),
    "p1_sample_bounds": (p1_sample_bounds, P1_SQL),
    "p2_stratified_sample_bounds": (p2_stratified_sample_bounds, P2_SQL),
    "p7_pps_systematic": (p7_pps_systematic, P7_SQL),
    "p8_bottomk_sample": (p8_bottomk_sample, P8_SQL),
}
