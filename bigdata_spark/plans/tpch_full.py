"""TPC-H Q4/Q9/Q12/Q13/Q21/Q22 over derived columns, plus Q7/Q10/Q14/Q18.

The driver corpus lacks the columns six of these queries predicate on
(``l_commitdate``/``l_receiptdate``/``l_shipmode``, ``o_comment``,
``c_phone``). Here the missing columns are DERIVED deterministically —
the same trick ``plans/tpch_ext.py`` uses for partsupp — so the spec
shapes (EXISTS over late lineitems, the Q21 exists/not-exists chain,
Q13's comment anti-pattern, Q22's phone-prefix cohort) run against
identical relations in both engines. Q7/Q10/Q14/Q18 need no derived
column. The derivations:

- ``l_receiptdate`` = l_shipdate + 1..30 days, ``l_commitdate`` =
  l_shipdate - 30..+30 days, ``l_shipmode`` = one of the 7 spec modes —
  all keyed on an md5-portable hash of (l_orderkey, l_linenumber), the
  registry's standard cross-engine randomness
  (conv(substring(md5(..)))) ↔ ('0x' || substr(md5(..)))::BIGINT).
  dbgen derives commitdate from o_orderdate ± a window; deriving from
  l_shipdate keeps the relation join-free while preserving each
  predicate's mixed truth value (commit< receipt holds ~73%,
  shipdate<commitdate ~49%).
- ``o_comment`` = one of 16 hash-picked phrases, two of which match
  Q13's '%special%requests%' anti-pattern and one of which contains
  both words in the NON-matching order ('requests … special') — the
  pattern-order trap the spec's LIKE is sensitive to.
- ``c_phone`` country code = c_nationkey + 10, which is dbgen's OWN
  rule (TPC-H spec 4.2.2.9), then hash-picked local digits.

Money math follows the package's cross-engine float discipline: Q9's
profit is computed entirely in integer 1e-4-dollar units
(cents × (100 - discount_bps)) summed as BIGINT, divided by 10⁴ once in
DOUBLE at the output edge. Reference parity: the reference's engine
runs the full TPC-H suite natively (see SURVEY.md §2).

Scale shape: every derived column is a narrow projection computed
inside the scan stage (no shuffle, no UDF — whole-stage codegen md5),
so at 100 TB the derivations are free relative to the joins they feed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .tpch_ext import _dec2, _derived_partsupp, _PS_SQL

_MODES = ("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")

# Q22's seven phone prefixes ⇔ nationkeys {4,21,13,19,20,8,7} under the
# spec's cc = nationkey + 10 rule.
_Q22_CODES = ("14", "31", "23", "29", "30", "18", "17")


def _spark_h(tag: str, *key_cols: str) -> str:
    parts = ", '|', ".join(f"CAST({c} AS STRING)" for c in key_cols)
    return (
        f"CAST(conv(substring(md5(concat('{tag}|', {parts})), 1, 15), 16, 10)"
        " AS BIGINT)"
    )


def _duck_h(tag: str, *key_cols: str) -> str:
    parts = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in key_cols)
    return f"('0x' || substr(md5('{tag}|' || {parts}), 1, 15))::BIGINT"


def _lineitem_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem + derived l_commitdate / l_receiptdate / l_shipmode."""
    h = lambda tag: _spark_h(tag, "l_orderkey", "l_linenumber")  # noqa: E731
    mode_arr = ", ".join(f"'{m}'" for m in _MODES)
    return (
        load_table(spark, sf_dir, "lineitem")
        .withColumn(
            "l_receiptdate",
            F.expr(f"timestampadd(DAY, CAST(1 + {h('rcv')} % 30 AS INT), l_shipdate)"),
        )
        .withColumn(
            "l_commitdate",
            F.expr(f"timestampadd(DAY, CAST({h('cmt')} % 61 - 30 AS INT), l_shipdate)"),
        )
        .withColumn(
            "l_shipmode",
            F.expr(
                f"element_at(array({mode_arr}), CAST({h('smd')} % 7 AS INT) + 1)"
            ),
        )
    )


_LI_EXT_SQL = f"""
li AS (
  SELECT *,
    l_shipdate + (1 + {_duck_h('rcv', 'l_orderkey', 'l_linenumber')} % 30)
      * INTERVAL 1 DAY AS l_receiptdate,
    l_shipdate + ({_duck_h('cmt', 'l_orderkey', 'l_linenumber')} % 61 - 30)
      * INTERVAL 1 DAY AS l_commitdate,
    (['REG AIR','AIR','RAIL','SHIP','TRUCK','MAIL','FOB'])
      [({_duck_h('smd', 'l_orderkey', 'l_linenumber')} % 7) + 1] AS l_shipmode
  FROM lineitem
)
"""


def _orders_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders + derived o_comment (2/16 phrases match Q13's pattern)."""
    h = _spark_h("ocm", "o_orderkey")
    return load_table(spark, sf_dir, "orders").withColumn(
        "o_comment",
        F.expr(
            f"""CASE {h} % 16
            WHEN 0 THEN 'dogged special packages wake quickly among requests'
            WHEN 1 THEN 'special pending requests detect furiously'
            WHEN 2 THEN 'ironic requests above the special deposits'
            ELSE concat('carefully final deposits haggle slyly ', {h} % 16)
            END"""
        ),
    )


_ORD_EXT_SQL = f"""
ord AS (
  SELECT *,
    CASE {_duck_h('ocm', 'o_orderkey')} % 16
    WHEN 0 THEN 'dogged special packages wake quickly among requests'
    WHEN 1 THEN 'special pending requests detect furiously'
    WHEN 2 THEN 'ironic requests above the special deposits'
    ELSE 'carefully final deposits haggle slyly '
         || CAST({_duck_h('ocm', 'o_orderkey')} % 16 AS VARCHAR)
    END AS o_comment
  FROM orders
)
"""


def _customer_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer + derived c_phone; country code = nationkey + 10 (spec
    4.2.2.9), local digits hash-picked."""
    h = lambda tag: _spark_h(tag, "c_custkey")  # noqa: E731
    return load_table(spark, sf_dir, "customer").withColumn(
        "c_phone",
        F.expr(
            "concat(CAST(c_nationkey + 10 AS STRING), '-',"
            f" lpad(CAST({h('ph1')} % 1000 AS STRING), 3, '0'), '-',"
            f" lpad(CAST({h('ph2')} % 1000 AS STRING), 3, '0'), '-',"
            f" lpad(CAST({h('ph3')} % 10000 AS STRING), 4, '0'))"
        ),
    )


_CUST_EXT_SQL = f"""
cust AS (
  SELECT *,
    CAST(c_nationkey + 10 AS VARCHAR) || '-'
    || lpad(CAST({_duck_h('ph1', 'c_custkey')} % 1000 AS VARCHAR), 3, '0') || '-'
    || lpad(CAST({_duck_h('ph2', 'c_custkey')} % 1000 AS VARCHAR), 3, '0') || '-'
    || lpad(CAST({_duck_h('ph3', 'c_custkey')} % 10000 AS VARCHAR), 4, '0')
      AS c_phone
  FROM customer
)
"""


# --- Q4: order priority checking ------------------------------------------


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q4: orders placed in 1996Q3 with at least one late lineitem
    (l_commitdate < l_receiptdate), counted by priority. The EXISTS is
    a left-semi join — lineitem shuffles on l_orderkey once; the
    priority rollup is a 5-group agg. At 100 TB the semi join is the
    only exchange and AQE can flip it to broadcast when the quarter of
    orders fits."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-07-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    late = _lineitem_ext(spark, sf_dir).filter(
        F.col("l_commitdate") < F.col("l_receiptdate")
    )
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


TPCH_Q4_SQL = f"""
WITH {_LI_EXT_SQL.strip()}
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM li
    WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# --- Q9: product type profit measure --------------------------------------


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q9 over the derived partsupp: profit by supplier nation and
    order year for parts named '%bolt%'. Profit is computed in exact
    integer 1e-4-dollar units (price-cents × (100 - discount-bps) minus
    supplycost-cents × qty × 100), summed as BIGINT, converted to
    DOUBLE once — bit-identical across engines. Plan: lineitem joins
    partsupp on (partkey, suppkey) after a broadcast part filter;
    supplier/nation broadcast; orders join carries only the year."""
    ps = _derived_partsupp(spark, sf_dir)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("bolt"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem")
    amount = (
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
        * (100 - F.expr("CAST(round(l_discount * 100) AS BIGINT)"))
        - F.col("ps_cost_cents")
        * F.expr("CAST(round(l_quantity) AS BIGINT)")
        * F.lit(100)
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .join(
            ps,
            (l.l_partkey == ps.ps_partkey) & (l.l_suppkey == ps.ps_suppkey),
        )
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount_e4"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("amount_e4").cast("double") / 10000.0).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


TPCH_Q9_SQL = f"""
WITH {_PS_SQL.strip()}
SELECT nation, o_year,
       CAST(CAST(SUM(amount_e4) AS BIGINT) AS DOUBLE) / 10000.0 AS sum_profit
FROM (
  SELECT n_name AS nation,
         EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))
           - ps_cost_cents * CAST(round(l_quantity) AS BIGINT) * 100
           AS amount_e4
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN ps ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  WHERE p_name LIKE '%bolt%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# --- Q12: shipping modes and order priority -------------------------------


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q12: for MAIL/SHIP lineitems received in 1996 that were
    committed late but shipped early (l_shipdate < l_commitdate <
    l_receiptdate), count high- vs low-priority orders per mode. All
    integer counts; one join shuffle, one 2-group agg."""
    l = _lineitem_ext(spark, sf_dir).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_receiptdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


TPCH_Q12_SQL = f"""
WITH {_LI_EXT_SQL.strip()}
SELECT l_shipmode,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN li ON o_orderkey = l_orderkey
WHERE l_shipmode IN ('MAIL', 'SHIP')
  AND l_commitdate < l_receiptdate
  AND l_shipdate < l_commitdate
  AND l_receiptdate >= TIMESTAMP '1996-01-01'
  AND l_receiptdate < TIMESTAMP '1997-01-01'
GROUP BY l_shipmode
ORDER BY l_shipmode
"""


# --- Q13: customer distribution -------------------------------------------


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q13: distribution of customers by order count, excluding
    orders whose comment matches '%special%requests%' — the LIKE rides
    the derived o_comment, including the phrase with the two words in
    the non-matching order. Left-outer join keeps zero-order
    customers; two shuffles (join + per-customer count), then a tiny
    distribution agg."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = _orders_ext(spark, sf_dir).filter(
        ~F.col("o_comment").like("%special%requests%")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q13_SQL = f"""
WITH {_ORD_EXT_SQL.strip()}
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN ord
    ON c_custkey = o_custkey AND o_comment NOT LIKE '%special%requests%'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q21: suppliers who kept orders waiting -------------------------------


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q21: NATION_3 suppliers who were the SOLE late supplier on
    a multi-supplier finalized order. The oracle keeps the spec's
    exists/not-exists chain verbatim; the Spark plan decorrelates both
    into one per-order aggregate (distinct suppliers, distinct LATE
    suppliers) — l1 qualifies iff the order has ≥2 suppliers and
    exactly 1 late one (which must be l1's, since l1 is late). One
    lineitem shuffle for the census, one for the probe join; supplier
    and nation broadcast."""
    # li feeds two plan branches (census + probe); unchecked, each
    # re-evaluates the derived-date hash columns over the full fact
    # table. The lazy checkpoint pins the slim 3-column projection to
    # one evaluation shared by both sides.
    # SCALE CONTRACT (r12, measured): the checkpointed projection is
    # ~92 B/lineitem row — 55 MB at sf0.1, 552 MB at sf1, linear.
    # localCheckpoint stores MEMORY_AND_DISK on executors (spills, so
    # the bound is cluster disk, not heap), is NOT fault-tolerant (one
    # lost executor re-fails the query — an availability trade against
    # re-evaluating the derived-date md5 columns twice, which measured
    # ~2× this query's scan CPU), and is reclaimed when the frame's
    # reference is GC'd (the bench forces that between queries).
    li = _lineitem_ext(spark, sf_dir).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_receiptdate") > F.col("l_commitdate")).alias("late"),
    ).localCheckpoint(eager=False)
    census = li.groupBy(F.col("l_orderkey").alias("g_okey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        li.filter(F.col("late"))
        .join(census, F.col("l_orderkey") == F.col("g_okey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


TPCH_Q21_SQL = f"""
WITH {_LI_EXT_SQL.strip()}
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN li l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_receiptdate > l1.l_commitdate
  AND EXISTS (
    SELECT 1 FROM li l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM li l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_receiptdate > l3.l_commitdate
  )
  AND n_name = 'NATION_3'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# --- Q22: global sales opportunity ----------------------------------------


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Q22: above-average-balance customers in seven phone-prefix
    cohorts who never placed an order. The average is
    CAST(SUM(DECIMAL) AS DOUBLE)/COUNT — one exact sum, one IEEE
    division, identical in both engines. NOTE: the driver corpus
    assigns orders to (almost) every custkey, so at sf ≤ 0.01 the
    NOT-EXISTS leaves the result EMPTY (both engines agree on empty);
    the first genuinely order-less customers appear at sf0.1 — unlike
    dbgen, which leaves a third of custkeys order-less by
    construction. Plan: customer anti-join orders, broadcast scalar
    threshold."""
    cohort = _customer_ext(spark, sf_dir).filter(
        F.substring("c_phone", 1, 2).isin(*_Q22_CODES)
    )
    avg_bal = cohort.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cohort.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, cohort.c_custkey == o.o_custkey, "left_anti")
        .select(F.substring("c_phone", 1, 2).alias("cntrycode"), "c_acctbal")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


TPCH_Q22_SQL = f"""
WITH {_CUST_EXT_SQL.strip()}
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT substr(c_phone, 1, 2) AS cntrycode, c_acctbal
  FROM cust
  WHERE substr(c_phone, 1, 2) IN ('14','31','23','29','30','18','17')
    AND c_acctbal > (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
      FROM cust
      WHERE c_acctbal > 0.00
        AND substr(c_phone, 1, 2) IN ('14','31','23','29','30','18','17')
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey
    )
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


# --- TPC-H Q7: volume shipping between two nations --------------------------

def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-national shipping volume: lineitem ⋈ supplier ⋈ nation (supp
    side) and ⋈ orders ⋈ customer ⋈ nation (cust side), grouped by
    nation pair × ship year. Both nation joins broadcast; the only
    fact-scale shuffles are the orderkey join and the final group."""
    n1, n2 = "NATION_1", "NATION_2"
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    supp_n = nat.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    cust_n = nat.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    joined = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(supp_n), F.col("s_nationkey") == F.col("s_nkey"))
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cust_n), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(volume).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate) AS l_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) AS volume
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# --- TPC-H Q10: returned-item reporting (reference join shapes J2/J3 at
# star-schema scale; SURVEY §2.4) --------------------------------------------

def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem(returnflag='R') ⋈ nation, top 20 by
    revenue. nation is broadcast (25 rows at any sf); the fact-side
    joins shuffle on their keys and AQE broadcasts the filtered
    customer side when it fits."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


TPCH_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --- TPC-H Q14: promo revenue ratio (broadcast dim join + conditional
# aggregate F4 over a fact scan) ---------------------------------------------

def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ part (part joins by stats/AQE — broadcast while the
    dim fits, shuffle beyond); conditional revenue ratio.
    The testdata's p_type domain has no 'PROMO%', so 'ECONOMY' plays
    the promo class — same shape, same plan."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    )
    p = load_table(spark, sf_dir, "part")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    joined = l.join(p, l.l_partkey == p.p_partkey)
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "ECONOMY", revenue).otherwise(F.lit(0).cast("decimal(18,6)"))).cast("double")
            / F.sum(revenue).cast("double")
        ).alias("promo_revenue_pct")
    )


TPCH_Q14_SQL = """
SELECT 100.0
  * CAST(SUM(CASE WHEN p_type = 'ECONOMY'
            THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
  AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01'
"""


# --- TPC-H Q18: large-volume orders (agg → self-semi-join on agg result) ----

def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total quantity exceeds a threshold: grouped-HAVING
    subquery joined back to orders/customer. One shuffle for the
    quantity agg (map-side partials), then key-joins; the HAVING
    filter shrinks the build side so AQE broadcasts it."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(_dec2("l_quantity")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 180)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


TPCH_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(sum_qty_dec AS DOUBLE) AS sum_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_dec
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 180
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


QUERIES = {
    "tpch_q4": (tpch_q4, TPCH_Q4_SQL),
    "tpch_q7": (tpch_q7, TPCH_Q7_SQL),
    "tpch_q9": (tpch_q9, TPCH_Q9_SQL),
    "tpch_q10": (tpch_q10, TPCH_Q10_SQL),
    "tpch_q12": (tpch_q12, TPCH_Q12_SQL),
    "tpch_q13": (tpch_q13, TPCH_Q13_SQL),
    "tpch_q14": (tpch_q14, TPCH_Q14_SQL),
    "tpch_q18": (tpch_q18, TPCH_Q18_SQL),
    "tpch_q21": (tpch_q21, TPCH_Q21_SQL),
    "tpch_q22": (tpch_q22, TPCH_Q22_SQL),
}
