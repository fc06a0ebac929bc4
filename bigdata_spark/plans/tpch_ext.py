"""TPC-H Q2, Q8, Q11, Q15, Q16, Q17, Q19 and Q20 over the TPC-H-ish
testdata.

The driver schema has no ``partsupp`` table, so Q2/Q11/Q16/Q20 run
over a partsupp DERIVED deterministically with the spec's own
structure (see ``_derived_partsupp``). The optimizer features each
query exercises (correlated scalar subqueries, OR-of-ANDs predicate
pushdown, having-on-max, NOT-IN exclusion) are those of the spec.

Scale notes: every dim side (region/nation/supplier/part + derived
per-part aggregates) is broadcast explicitly; fact-side joins shuffle
on their keys; all money sums are exact DECIMAL → DOUBLE at the edge
(cross-engine float discipline, plans/__init__)."""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table


def _dec2(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


def _vol() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")


# --- Q8: national market share -------------------------------------------

def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share of NATION_3-supplied volume within AMERICA-customer
    ECONOMY-part order volume, by order year. 7-way star join: facts
    shuffle, every dim broadcast; the share is a ratio of two exact
    DECIMAL sums taken in DOUBLE."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") <= F.to_timestamp(F.lit("1997-12-31")))
    )
    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), "n_regionkey"
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    zero = F.lit(0).cast("decimal(18,6)")
    df = (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.c_nkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == n2.s_nkey)
    )
    return (
        df.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", _vol()).otherwise(zero))
            .cast("double")
            .alias("nation_vol"),
            F.sum(_vol()).cast("double").alias("total_vol"),
        )
        .select(
            "o_year", (F.col("nation_vol") / F.col("total_vol")).alias("mkt_share")
        )
    )


TPCH_Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
  AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
GROUP BY 1
"""


# --- Q15: top supplier(s) by quarterly revenue ----------------------------

def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue view over one quarter, then the having-on-global-max
    shape. The max folds as a ONE-ROW aggregate broadcast back onto the
    per-supplier rollup — supplier cardinality grows with scale factor,
    so even the aggregated table must never funnel through a
    single-partition window."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = l.groupBy("l_suppkey").agg(
        F.sum(_vol()).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    top = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("_mx")
    )
    return top.join(s, top.l_suppkey == s.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


TPCH_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


# --- Q17: small-quantity-order revenue (correlated scalar subquery) -------

def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated 0.2·avg(quantity) subquery decorrelates into a
    per-part aggregate joined back to the fact — the per-part avg table
    is part-cardinality, broadcast. avg is the exact DECIMAL sum over
    DOUBLE count, same op order in the oracle."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    avg_q = l.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.sum(_dec2("l_quantity")).cast("double") / F.count("*")).alias("avg_q")
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(avg_q, l.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_q"))
        .agg(
            (F.sum(_dec2("l_extendedprice")).cast("double") / 7.0).alias("avg_yearly")
        )
    )


TPCH_Q17_SQL = """
WITH avg_part AS (
  SELECT l_partkey AS ap_key,
    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_q
  FROM lineitem GROUP BY 1
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_part ON l_partkey = ap_key
WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_q
"""


# --- Q19: OR-of-ANDs discounted revenue -----------------------------------

def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three AND-blocks OR-ed together across both join sides — the
    predicate-pushdown stress: the part-side conjuncts prune the
    broadcast build, the lineitem conjuncts must reach the scan."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 20)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.sum(_vol()).cast("double").alias("revenue"))
    )


TPCH_Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 40 AND l_quantity BETWEEN 20 AND 50)
"""


# --- Q2/Q11/Q16/Q20 over a DERIVED partsupp ------------------------------
#
# The driver corpus has no partsupp table. Here partsupp is DERIVED
# deterministically with the TPC-H spec's own structure (dbgen: 4
# suppliers per part, ps_suppkey = (p + i·(S/4 + p div S)) mod S,
# 0-based keys) and md5-portable ps_availqty / ps_supplycost, so the
# UNADAPTED query shapes — correlated min over partsupp, stock-value
# scalar subquery, NOT-IN supplier exclusion, availqty-vs-shipped
# correlated threshold — run against the same relation in both
# engines. At toy supplier counts the spec stride can collide (S=10 →
# step ≡ 0 mod S for some parts); the DISTINCT keeps (partkey, suppkey)
# a key, exactly like the real table. ps_supplycost is carried as
# integer CENTS so every aggregate is exact BIGINT math; division by
# 100 happens once, in DOUBLE, at the output edge (cross-engine float
# discipline). Scale shape: partsupp = part × explode(sequence(0,3)) —
# narrow, no shuffle to build; one distinct on (pk, sk); the supplier
# count S is a driver scalar (dim-table count, bounded).
# shuffle to build; one distinct on (pk, sk); the supplier count S is
# a driver scalar (dim-table count, bounded).


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    s_count = load_table(spark, sf_dir, "supplier").count()
    step = max(1, s_count // 4)
    p = load_table(spark, sf_dir, "part").select("p_partkey")
    ps = (
        p.select(
            F.col("p_partkey").alias("ps_partkey"),
            F.explode(F.expr("sequence(0, 3)")).alias("i"),
        )
        .select(
            "ps_partkey",
            F.expr(
                f"(ps_partkey + i * ({step} + ps_partkey div {s_count}))"
                f" % {s_count}"
            ).alias("ps_suppkey"),
        )
        .distinct()
    )
    h = (
        "CAST(conv(substring(md5(concat('{tag}|', CAST(ps_partkey AS STRING),"
        " '|', CAST(ps_suppkey AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return ps.select(
        "ps_partkey",
        "ps_suppkey",
        (F.expr(h.format(tag="psq")) % 9999 + 1).alias("ps_availqty"),
        (F.expr(h.format(tag="psc")) % 99900 + 100).alias("ps_cost_cents"),
    )


_PS_SQL = """
ps AS (
  WITH sc AS (SELECT COUNT(*) AS s FROM supplier),
  raw AS (
    SELECT DISTINCT p_partkey AS ps_partkey,
           (p_partkey + i * (GREATEST(1, s // 4) + p_partkey // s)) % s
             AS ps_suppkey
    FROM part, sc, generate_series(0, 3) AS t(i)
  )
  SELECT ps_partkey, ps_suppkey,
    ('0x' || substr(md5('psq|' || CAST(ps_partkey AS VARCHAR) || '|'
      || CAST(ps_suppkey AS VARCHAR)), 1, 15))::BIGINT % 9999 + 1
      AS ps_availqty,
    ('0x' || substr(md5('psc|' || CAST(ps_partkey AS VARCHAR) || '|'
      || CAST(ps_suppkey AS VARCHAR)), 1, 15))::BIGINT % 99900 + 100
      AS ps_cost_cents
  FROM raw
)
"""


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q2 over the derived partsupp: minimum-cost EUROPE supplier
    per qualifying part — the correlated MIN subquery decorrelated
    into a per-part min joined back on equality. partsupp shuffles
    once; every dim (supplier/nation/region/part) broadcasts."""
    ps = _derived_partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 4) & (F.col("p_type") == "SMALL")
    )
    eu = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    best = eu.groupBy(F.col("ps_partkey").alias("bp_key")).agg(
        F.min("ps_cost_cents").alias("min_cents")
    )
    return (
        eu.join(p, eu.ps_partkey == p.p_partkey)
        .join(best, eu.ps_partkey == F.col("bp_key"))
        .filter(F.col("ps_cost_cents") == F.col("min_cents"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey",
            (F.col("ps_cost_cents").cast("double") / 100.0).alias("supply_cost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


TPCH_Q2_SQL = f"""
WITH {_PS_SQL.strip()},
eu AS (
  SELECT ps.*, s_acctbal, s_name, n_name
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
best AS (
  SELECT ps_partkey AS bp_key, MIN(ps_cost_cents) AS min_cents
  FROM eu GROUP BY 1
)
SELECT s_acctbal, s_name, n_name, p_partkey,
       CAST(ps_cost_cents AS DOUBLE) / 100.0 AS supply_cost
FROM eu
JOIN part ON ps_partkey = p_partkey
JOIN best ON ps_partkey = bp_key
WHERE p_size = 4 AND p_type = 'SMALL' AND ps_cost_cents = min_cents
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q11: stock value = ps_supplycost · ps_availqty of NATION_7
    suppliers, per part, above 0.001 of the national total (the scalar
    subquery is a 1-row broadcast crossJoin). All sums are exact
    BIGINT cent-units; the ratio compare happens in DOUBLE with
    identical op order in both engines."""
    ps = _derived_partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    base = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            (F.col("ps_cost_cents") * F.col("ps_availqty")).alias("v_cents"),
        )
    )
    per_part = base.groupBy("ps_partkey").agg(F.sum("v_cents").alias("value_cents"))
    total = base.agg(F.sum("v_cents").alias("total_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_cents").cast("double")
            > F.col("total_cents").cast("double") * 0.001
        )
        .select(
            "ps_partkey",
            (F.col("value_cents").cast("double") / 100.0).alias("value"),
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


TPCH_Q11_SQL = f"""
WITH {_PS_SQL.strip()},
base AS (
  SELECT ps_partkey, ps_cost_cents * ps_availqty AS v_cents
  FROM ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
),
per_part AS (
  SELECT ps_partkey, CAST(SUM(v_cents) AS BIGINT) AS value_cents
  FROM base GROUP BY 1
),
tot AS (SELECT CAST(SUM(v_cents) AS BIGINT) AS total_cents FROM base)
SELECT ps_partkey, CAST(value_cents AS DOUBLE) / 100.0 AS value
FROM per_part CROSS JOIN tot
WHERE CAST(value_cents AS DOUBLE) > CAST(total_cents AS DOUBLE) * 0.001
ORDER BY value DESC, ps_partkey
"""


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q16: distinct partsupp suppliers per (brand, type, size)
    for non-excluded parts, minus the 'complaints' supplier set. The
    corpus has no s_comment, so the excluded set is a deterministic
    md5 bucket of s_name (≈1/7 of suppliers) — the NOT IN compiles to
    the same broadcast anti-join the spec's predicate does."""
    ps = _derived_partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(
            F.expr(
                "CAST(conv(substring(md5(concat('cmpl|', s_name)), 1, 15),"
                " 16, 10) AS BIGINT) % 7 = 0"
            )
        )
        .select(F.col("s_suppkey").alias("bad_key"))
    )
    return (
        ps.join(p, ps.ps_partkey == p.p_partkey)
        .join(bad, ps.ps_suppkey == F.col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


TPCH_Q16_SQL = f"""
WITH {_PS_SQL.strip()}
SELECT p_brand, p_type, p_size,
       COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier
    WHERE ('0x' || substr(md5('cmpl|' || s_name), 1, 15))::BIGINT % 7 = 0
  )
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q20: NATION_5 suppliers holding excess stock — partsupp
    rows for 'small%' parts where ps_availqty exceeds half the 1997
    shipped quantity of that (part, supplier). The correlated inner
    subquery decorrelates into a (partkey, suppkey) aggregate joined
    to partsupp; the outer supplier probe is a left-semi join, exactly
    the spec's nested-IN chain."""
    ps = _derived_partsupp(spark, sf_dir)
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    shipped = l.groupBy(
        F.col("l_partkey").alias("sq_part"), F.col("l_suppkey").alias("sq_supp")
    ).agg(F.sum(_dec2("l_quantity")).alias("qty"))
    qualifying = (
        ps.join(p, ps.ps_partkey == p.p_partkey)
        .join(
            shipped,
            (ps.ps_partkey == F.col("sq_part")) & (ps.ps_suppkey == F.col("sq_supp")),
        )
        .filter(
            F.col("ps_availqty").cast("double")
            > F.col("qty").cast("double") * 0.5
        )
        .select("ps_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(qualifying, s.s_suppkey == qualifying.ps_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


TPCH_Q20_SQL = f"""
WITH {_PS_SQL.strip()},
shipped AS (
  SELECT l_partkey AS sq_part, l_suppkey AS sq_supp,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
)
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_5'
  AND s_suppkey IN (
    SELECT ps_suppkey
    FROM ps
    JOIN part ON ps_partkey = p_partkey
    JOIN shipped ON ps_partkey = sq_part AND ps_suppkey = sq_supp
    WHERE p_name LIKE 'small%'
      AND CAST(ps_availqty AS DOUBLE) > CAST(qty AS DOUBLE) * 0.5
  )
ORDER BY s_name
"""


QUERIES = {
    "tpch_q2": (tpch_q2, TPCH_Q2_SQL),
    "tpch_q8": (tpch_q8, TPCH_Q8_SQL),
    "tpch_q11": (tpch_q11, TPCH_Q11_SQL),
    "tpch_q15": (tpch_q15, TPCH_Q15_SQL),
    "tpch_q16": (tpch_q16, TPCH_Q16_SQL),
    "tpch_q17": (tpch_q17, TPCH_Q17_SQL),
    "tpch_q19": (tpch_q19, TPCH_Q19_SQL),
    "tpch_q20": (tpch_q20, TPCH_Q20_SQL),
}
