"""Extended relational surface beyond the reference (SURVEY §2.5/§2.7
"not present" lists — free in Spark, covered here so a reference user
gains them when switching): set ops, rollup/cube grouping sets,
distinct aggregates, approx sketches, pivots, semi joins, exists
subqueries, range join, as-of join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table


def _dec2(c: str) -> F.Column:
    return F.col(c).cast("decimal(18,2)")


# --- union / intersect ----------------------------------------------------

def set_union_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + INTERSECT over key projections, with counts."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    u = c.unionAll(s).agg(F.count("*").alias("n")).select(F.lit("union_all").alias("op"), "n")
    i = (
        c.distinct()
        .intersect(s.distinct())
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect").alias("op"), "n")
    )
    return u.unionAll(i)


SET_UNION_SQL = """
SELECT 'union_all' AS op, COUNT(*) AS n FROM (
  SELECT c_nationkey AS k FROM customer UNION ALL SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect' AS op, COUNT(*) AS n FROM (
  SELECT DISTINCT c_nationkey AS k FROM customer
  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
"""


def o6_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset EXCEPT ALL / INTERSECT ALL (bag semantics with
    duplicate counts — the set-op variants set_union_intersect does NOT
    cover). Spark compiles these to count-tracking aggregates +
    generate; the oracle uses DuckDB's native EXCEPT ALL/INTERSECT
    ALL."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    ea = (
        c.exceptAll(s)
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "n")
    )
    ia = (
        c.intersectAll(s)
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "n")
    )
    return ea.unionAll(ia)


O6_MULTISET_SQL = """
SELECT 'except_all' AS op, COUNT(*) AS n FROM (
  SELECT c_nationkey AS k FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect_all' AS op, COUNT(*) AS n FROM (
  SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier)
"""


def j5_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join + key coalesce — the reconciliation shape (two
    ledgers, rows on either side). Per-nation customer/supplier counts
    joined full-outer; unmatched sides surface as zero via coalesce."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 3 == 0)  # make some nations supplier-less
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, c.ck == s.sk, "full_outer")
        .select(
            F.coalesce("ck", "sk").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


J5_FULL_OUTER_SQL = """
WITH c AS (SELECT c_nationkey AS ck, COUNT(*) AS n_cust FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS sk, COUNT(*) AS n_supp FROM supplier
      WHERE s_suppkey % 3 = 0 GROUP BY 1)
SELECT COALESCE(ck, sk) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON ck = sk
"""


def a15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of o_totalprice via ``width_bucket`` — the
    profiling companion to dq_profile (value DISTRIBUTION, not just
    min/max). Bucket boundaries are fixed literals so the bucketing is
    engine-exact; one partial-aggregated groupBy."""
    o = load_table(spark, sf_dir, "orders")
    b = F.expr("width_bucket(o_totalprice, 0.0, 500000.0, 20)")
    return (
        o.groupBy(b.alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# DuckDB has no width_bucket; the explicit arithmetic is identical —
# bucket width 500000/20 = 25000 is exact in binary, so both engines
# compute the same division and floor
A15_HISTOGRAM_SQL = """
SELECT CASE WHEN o_totalprice < 0.0 THEN 0
            WHEN o_totalprice >= 500000.0 THEN 21
            ELSE CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) + 1 END AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY 1
"""


def a16_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with ``grouping_id()`` — the general form
    rollup/cube specialize (SURVEY §2.7 already covers those; this adds
    arbitrary set lists + the set-identity function). Three sets:
    (status, priority), (status), () — note (priority) alone is
    deliberately absent, which no rollup/cube can express."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("a16_orders")
    try:
        return spark.sql(
            """
            SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                   COALESCE(o_orderpriority, 'ALL') AS priority,
                   CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
            FROM a16_orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
            """
        ).localCheckpoint()
    finally:
        spark.catalog.dropTempView("a16_orders")


A16_GROUPING_SETS_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# --- rollup (grouping sets) -----------------------------------------------

def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(returnflag, linestatus) with exact decimal sums; NULL
    grouping-set markers normalized to 'ALL' for engine-neutral rows."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(_dec2("l_extendedprice")).cast("double").alias("revenue"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n",
        )
    )


ROLLUP_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


# --- cube -----------------------------------------------------------------

def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
        )
    )


CUBE_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       COUNT(*) AS n
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


# --- distinct aggregate ----------------------------------------------------

def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n"),
    )


DISTINCT_AGG_SQL = """
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n
FROM lineitem GROUP BY 1
"""


# --- approximate sketches (HLL / quantiles) — bounds-checked ---------------

def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) and approx median vs exact values:
    sketches are engine-specific, so the query emits within-tolerance
    booleans the oracle pins TRUE (same pattern as sampling checks)."""
    l = load_table(spark, sf_dir, "lineitem")
    # Two separate single-pass aggregates instead of one mixed agg:
    # distinct aggs + percentiles in a single .agg() force an Expand
    # (input ×4) feeding an interpreted sort-based aggregate — ~80 s at
    # sf0.01 and quadratically worse at scale. Split, each stays a
    # partial-agg hash plan; the 1-row results cross-join for free.
    counts = l.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    # EXACT percentile is a single sort buffer holding every value — a
    # non-starter at corpus scale. Validate the sketch against exact on
    # a deterministic 10% hash slice instead: the sketch-vs-exact
    # comparison stays honest (same rows on both sides) and the exact
    # side's memory/sort cost is bounded at any table size.
    sliced = l.filter(F.crc32(F.col("l_orderkey").cast("string")) % 10 == 0)
    medians = sliced.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median"),
    )
    row = counts.crossJoin(medians).first()
    hll_ok = abs(row["approx_orders"] - row["exact_orders"]) <= 0.1 * row["exact_orders"]
    med_ok = abs(row["approx_median"] - row["exact_median"]) <= 0.05 * row["exact_median"]
    return spark.createDataFrame(
        [(bool(hll_ok), bool(med_ok))], "hll_within_10pct boolean, median_within_5pct boolean"
    )


APPROX_SQL = "SELECT TRUE AS hll_within_10pct, TRUE AS median_within_5pct"


def approx_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via DataFrame.freqItems (single-pass Karp-style
    frequent-items sketch). The sketch guarantees a SUPERSET of every
    item with frequency ≥ support; the query pins that guarantee — all
    truly-frequent event types are found — plus a bounded false-positive
    count, as oracle-checked booleans."""
    support = 0.15
    e = load_table(spark, sf_dir, "events").select("event_type")
    found = set(e.freqItems(["event_type"], support=support).first()[0])
    counts = e.groupBy("event_type").count().collect()
    total = sum(r["count"] for r in counts) or 1  # empty table → no frequent items
    truly_frequent = {r["event_type"] for r in counts if r["count"] / total >= support}
    all_found = truly_frequent <= found
    # sketch size (and thus FP count) is bounded by ~1/support items
    fp_bounded = len(found) <= int(1 / support) + 1
    return spark.createDataFrame(
        [(bool(all_found), bool(fp_bounded), bool(len(truly_frequent) > 0))],
        "all_frequent_found boolean, false_positives_bounded boolean, nonempty boolean",
    )


HEAVY_HITTERS_SQL = (
    "SELECT TRUE AS all_frequent_found, TRUE AS false_positives_bounded, "
    "TRUE AS nonempty"
)


# --- pivot -----------------------------------------------------------------

def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


PIVOT_SQL = """
SELECT o_orderpriority,
  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_f,
  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_o,
  CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_p
FROM orders GROUP BY 1
"""


# --- left-semi join --------------------------------------------------------

def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having at least one urgent order — left-semi (the dual
    of the reference's left-anti J1)."""
    c = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


SEMI_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


# --- scalar subquery / correlated exists -----------------------------------

def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average total price (scalar subquery →
    computed once, broadcast as a literal-like join)."""
    o = load_table(spark, sf_dir, "orders")
    avg_price = o.agg(F.avg(_dec2("o_totalprice")).cast("double").alias("a"))
    return (
        o.crossJoin(F.broadcast(avg_price))
        .filter(F.col("o_totalprice") > F.col("a"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )


ABOVE_AVG_SQL = """
SELECT o_orderstatus, COUNT(*) AS n FROM orders
WHERE o_totalprice > (SELECT CAST(AVG(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) FROM orders)
GROUP BY 1
"""


# --- range join (interval containment) -------------------------------------

def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join of orders into literal price bands — the range-join
    shape (broadcast the tiny band table so the fact side never
    shuffles; at 100 TB this is the only sane plan for interval joins)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("band_0_100k", 0.0, 100000.0), ("band_100k_300k", 100000.0, 300000.0),
         ("band_300k_up", 300000.0, 1e12)],
        "band string, lo double, hi double",
    )
    return (
        o.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n"), F.sum(_dec2("o_totalprice")).cast("double").alias("total"))
    )


RANGE_JOIN_SQL = """
WITH bands(band, lo, hi) AS (VALUES
  ('band_0_100k', 0.0, 100000.0), ('band_100k_300k', 100000.0, 300000.0),
  ('band_300k_up', 300000.0, 1e12))
SELECT band, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY 1
"""


# --- as-of join (nearest-preceding event) ----------------------------------

def asof_join_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each user's first 3 events, the latest preceding
    event of type 'signup' for that user — expressed as a windowed
    last_value over a union (the scalable as-of pattern: one shuffle on
    the key, no per-row subquery). Returns per-user match counts."""
    e = load_table(spark, sf_dir, "events")
    probes = e.filter(F.col("event_type") != "signup").select("user_id", "ts", "event_id")
    anchors = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("anchor_ts")
    )
    tagged = probes.select(
        "user_id", "ts", F.lit(None).cast("timestamp").alias("anchor_ts"), "event_id"
    ).unionByName(
        anchors.select(
            "user_id", F.col("anchor_ts").alias("ts"), F.col("anchor_ts"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    # tie-break: anchors sort before probes at an identical timestamp so
    # a same-instant signup is visible to the probe (both engines agree)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("event_id").isNotNull().cast("int"), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    asof = (
        tagged.withColumn("last_anchor", F.last("anchor_ts", ignorenulls=True).over(w))
        .filter(F.col("event_id").isNotNull())
    )
    return asof.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count("last_anchor").alias("n_with_prior_signup"),
    )


ASOF_SQL = """
WITH tagged AS (
  SELECT user_id, ts, CAST(NULL AS TIMESTAMP) AS anchor_ts, event_id
  FROM events WHERE event_type != 'signup'
  UNION ALL
  SELECT user_id, ts, ts AS anchor_ts, CAST(NULL AS BIGINT) AS event_id
  FROM events WHERE event_type = 'signup'
), asof_m AS (
  SELECT user_id, event_id,
         LAST_VALUE(anchor_ts IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts, CAST(event_id IS NOT NULL AS INT), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_anchor
  FROM tagged
)
SELECT user_id, COUNT(*) AS n_events, COUNT(last_anchor) AS n_with_prior_signup
FROM asof_m WHERE event_id IS NOT NULL
GROUP BY user_id
"""


def hof_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column —
    transform / filter / aggregate / array_max stay inside codegen
    (the same native-expression discipline as the distance kernels,
    functions/distances.py). The left-to-right fold order matches
    DuckDB's list lambdas, so sums hash-match after rounding."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sum_sq = F.aggregate(
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    return e.select(
        "vec_id",
        F.round(sum_sq, 9).alias("sum_sq"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(v), 9).alias("vmax"),
        F.exists(v, lambda x: x > 0.45).alias("has_big"),
    )


HOF_SQL = """
WITH e AS (
  -- float32 → double FIRST, as the Spark side casts the whole array:
  -- squaring/summing in float32 drifts in the last ulps
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT vec_id,
       ROUND(list_sum(list_transform(v, x -> x * x)), 9) AS sum_sq,
       CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_pos,
       ROUND(list_max(v), 9) AS vmax,
       len(list_filter(v, x -> x > 0.45)) > 0 AS has_big
FROM e
"""


def regexp_text_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar surface over documents: extract-all counts, first
    match, global replace — all JVM-side (no Python), the log/text
    wrangling primitives a curation pipeline leans on."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"qu[a-z]+"), 0)).alias("n_qu"),
        F.regexp_extract("text", r"qu[a-z]+", 0).alias("first_qu"),
        F.length(F.regexp_replace("text", r"\btable\b", "T")).alias("replaced_len"),
    )


REGEXP_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, 'qu[a-z]+')) AS INT) AS n_qu,
       regexp_extract(text, 'qu[a-z]+') AS first_qu,
       CAST(length(regexp_replace(text, '\btable\b', 'T', 'g')) AS INT) AS replaced_len
FROM documents
"""


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling semantics pinned cross-engine: NULL forms its own
    GROUP BY bucket, count(col) skips nulls while count(*) keeps them,
    and the null-safe equality join (eqNullSafe / IS NOT DISTINCT
    FROM) matches NULL keys where a plain equi-join drops them."""
    o = load_table(spark, sf_dir, "orders").select(
        F.nullif("o_orderpriority", F.lit("3-MEDIUM")).alias("prio")
    )
    dim = spark.createDataFrame(
        [("1-URGENT", "urgent"), (None, "was-medium")], "k string, tag string"
    )
    joined = o.join(F.broadcast(dim), o.prio.eqNullSafe(dim.k), "inner")
    return (
        joined.groupBy("tag")
        .agg(
            F.count("*").alias("n_all"),
            F.count("prio").alias("n_nonnull"),
        )
    )


NULL_SEMANTICS_SQL = """
WITH o AS (SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS prio FROM orders),
dim(k, tag) AS (VALUES ('1-URGENT', 'urgent'), (NULL, 'was-medium'))
SELECT tag, COUNT(*) AS n_all, COUNT(prio) AS n_nonnull
FROM o JOIN dim ON prio IS NOT DISTINCT FROM k
GROUP BY tag
"""


def f10_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` API surface — the lowest-overhead Python batch
    hook (raw Arrow RecordBatches, no pandas conversion; the level
    below mapInPandas in the UDF hierarchy the repo already covers:
    pandas_udf → applyInPandas → mapInPandas → mapInArrow → UDTF →
    DataSource). Computes per-vector L1 norm and dimension with
    pyarrow.compute kernels; row-wise deterministic, so the oracle
    replays it exactly. For a pure arithmetic map like this the NATIVE
    path (functions/distances.py aggregate expressions) is still the
    recommended one — this entry pins the API works, like
    a14_udaf_mode does for UDAFs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..sources.catalog import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def batches(it):
        for rb in it:
            tbl = pa.table(rb)
            absd = pc.cast(tbl["embedding"], pa.list_(pa.float64())).combine_chunks()
            sizes = pc.list_value_length(tbl["embedding"]).cast(pa.int64())
            # strict LEFT fold per row (Python sum): numpy's blocked/
            # pairwise reductions reorder float adds, which would break
            # the bit-exact match with DuckDB's left-fold list_sum
            sums = [
                round(sum(abs(v) for v in row), 9) if row is not None else None
                for row in absd.to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                [
                    tbl["vec_id"].combine_chunks(),
                    pa.array(sums, type=pa.float64()),
                    sizes.combine_chunks(),
                ],
                ["vec_id", "l1_norm", "dim"],
            )

    return e.mapInArrow(batches, "vec_id long, l1_norm double, dim long")


F10_ARROW_SQL = """
SELECT vec_id,
       ROUND(list_sum([abs(CAST(x AS DOUBLE)) for x in embedding]), 9) AS l1_norm,
       CAST(len(embedding) AS BIGINT) AS dim
FROM embeddings
"""


def f11_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas`` API surface — the two-sided Arrow
    hook (``groupBy().cogroup().applyInPandas``), the one rung of the
    Python batch ladder f10_map_in_arrow's docstring lists that had no
    registry entry. Funnel reconciliation per user: align each user's
    view stream against their purchase stream and count views that
    happened strictly before the first purchase (first = min ts,
    event_id tiebreak). Both groups arrive as pandas frames in ONE
    call per key — the pattern for per-entity reconciliation logic too
    twisty for a join (here it IS SQL-expressible, which is what makes
    the value oracle possible; the entry pins the API, like
    a14_udaf_mode does for UDAFs). All outputs are integers — no float
    drift across engines. One co-shuffle on a BUCKET key (user_id %
    32), per-user logic vectorized inside each bucket frame: cogroup
    pays one Arrow roundtrip per key, so keying on raw user_id cost
    8.4 s for 1500 one-user calls where 32 bucketed calls do the same
    work in ~1 s — at 100 TB key cardinality bounds the task count
    while per-entity state stays columnar."""
    import pandas as pd

    from ..sources.catalog import load_table

    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )

    def reconcile(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # One call per BUCKET of users, vectorized per-user inside.
        nv = (
            left.groupby("user_id").size()
            if len(left)
            else pd.Series(dtype="int64")
        )
        if len(right):
            np_ = right.groupby("user_id").size()
            firsts = (
                right.sort_values(["ts", "event_id"])
                .groupby("user_id")
                .first()  # first purchase per user in (ts, event_id) order
            )
        else:
            np_ = pd.Series(dtype="int64")
            firsts = pd.DataFrame(columns=["ts", "event_id"])
        if len(left) and len(firsts):
            lj = left.merge(
                firsts["ts"].rename("fp_ts"),
                left_on="user_id",
                right_index=True,
                how="inner",
            )
            before = (lj["ts"] < lj["fp_ts"]).groupby(lj["user_id"]).sum()
        else:
            before = pd.Series(dtype="int64")
        users = sorted(
            set(left["user_id"].tolist()) | set(right["user_id"].tolist())
        )
        out = pd.DataFrame({"user_id": users})
        out["n_views"] = out["user_id"].map(nv).fillna(0)
        out["n_purchases"] = out["user_id"].map(np_).fillna(0)
        out["n_views_before_first_purchase"] = (
            out["user_id"].map(before).fillna(0)
        )
        out["first_purchase_event_id"] = (
            out["user_id"].map(firsts["event_id"])
            if len(firsts)
            else pd.Series([None] * len(users))
        )
        return out.astype(
            {
                "user_id": "int64",
                "n_views": "int64",
                "n_purchases": "int64",
                "n_views_before_first_purchase": "int64",
                "first_purchase_event_id": "Int64",
            }
        )

    # Cogroup on a BUCKET of users, not the raw user_id: cogroup pays
    # one Arrow roundtrip + pandas call PER KEY, so 1500 single-user
    # groups cost ~8.4 s where 32 bucket groups with the same per-user
    # logic vectorized inside cost ~1 s. Same trade at 100 TB: key
    # cardinality bounds task count; per-entity work stays columnar.
    vb = views.withColumn("bucket", F.col("user_id") % 32)
    pb = purchases.withColumn("bucket", F.col("user_id") % 32)
    return (
        vb.groupBy("bucket")
        .cogroup(pb.groupBy("bucket"))
        .applyInPandas(
            reconcile,
            "user_id long, n_views long, n_purchases long, "
            "n_views_before_first_purchase long, first_purchase_event_id long",
        )
    )


F11_COGROUP_SQL = """
WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
fp AS (
  SELECT user_id, ts AS fp_ts, event_id AS fp_id
  FROM (SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk
        FROM p) t
  WHERE rk = 1
),
users AS (SELECT user_id FROM v UNION SELECT user_id FROM p)
SELECT u.user_id,
       (SELECT COUNT(*) FROM v WHERE v.user_id = u.user_id) AS n_views,
       (SELECT COUNT(*) FROM p WHERE p.user_id = u.user_id) AS n_purchases,
       COALESCE((SELECT COUNT(*) FROM v, fp
                 WHERE v.user_id = u.user_id AND fp.user_id = u.user_id
                   AND v.ts < fp.fp_ts), 0) AS n_views_before_first_purchase,
       (SELECT fp_id FROM fp WHERE fp.user_id = u.user_id)
         AS first_purchase_event_id
FROM users u
"""


# ---------------------------------------------------------------------------
# approx_bloom_semijoin — runtime Bloom-filter join pruning, oracle-exact
# ---------------------------------------------------------------------------

_BLOOM_BITS = 16384
_BLOOM_WORD = 32  # 32-bit words keep every mask positive in BIGINT
_BLOOM_SEEDS = (1, 2, 3)
_BLOOM_FPR = "(CAST(n_pass AS DOUBLE) - n_match) / (CAST(n_fact AS DOUBLE) - n_match)"


def _bloom_hash_spark(expr: str, seed: int) -> str:
    """Spark-SQL text of functions.hashing.portable_hash64 — the same
    md5-derived 60-bit hash the DuckDB oracle recomputes, so the
    Bloom bitmap (and therefore every pruning count) is engine-exact."""
    return (
        f"CAST(conv(substring(md5(concat('{seed}|', CAST({expr} AS STRING)))"
        f", 1, 15), 16, 10) AS BIGINT)"
    )


def approx_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join with a Bloom-filter runtime prefilter — the pattern
    behind Spark's own runtime row-level filtering: hash the build
    side's keys into a tiny bitmap, broadcast it as a CONSTANT into
    the probe side's scan, and only the survivors reach the real join.

    At 100 TB the payoff is shuffle volume: the 2 KB bitmap rides into
    every probe task as a literal (no join, no shuffle) and discards
    non-matching rows at the scan, where a plain semi-join would ship
    them all to the join. False positives are then removed by the
    exact semi-join (planned by stats/AQE — the build side is a
    filtered fact subset that grows with SF), so the final aggregate
    is exact; no
    false negatives is a structural Bloom guarantee. The bitmap uses
    the portable md5 hash, so the DuckDB oracle rebuilds the identical
    filter and even the false-positive count matches bit-for-bit."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-01-01")))
        )
        .select("o_orderkey")
    )
    # ONE scan of the dim side: all three seed positions per key ride
    # out of a single explode (the old unionAll of one arm per seed
    # scanned the filtered orders three times)
    pos = o.select(
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"{_bloom_hash_spark('o_orderkey', s)} % {_BLOOM_BITS}"
                    )
                    for s in _BLOOM_SEEDS
                ]
            )
        ).alias("p")
    )
    words = (
        pos.distinct()
        .select(
            F.expr(f"p div {_BLOOM_WORD}").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD} AS INT))"
            ).alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("mask"))
        .collect()
    )  # bounded: <= 512 words
    bitmap = [0] * (_BLOOM_BITS // _BLOOM_WORD)
    for r in words:
        bitmap[int(r["w"])] = int(r["mask"])

    tests = []
    for s in _BLOOM_SEEDS:
        p = f"({_bloom_hash_spark('l_orderkey', s)} % {_BLOOM_BITS})"
        tests.append(
            f"(element_at(bits, CAST({p} div {_BLOOM_WORD} AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST({p} % {_BLOOM_WORD} AS INT))) != 0"
        )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .withColumn("bits", F.lit(bitmap))
        .withColumn("pass", F.expr(" AND ".join(tests)))
    )
    # ONE pass over the fact side: o_orderkey is unique (orders PK), so
    # a LEFT join marks matches without changing row count and every
    # census folds into a single aggregate. The old shape evaluated the
    # 3-hash probe expression over lineitem TWICE (once under the
    # survivors semi-join, once under the stats aggregate). No broadcast
    # hint: the filtered orders grow with SF, so stats/AQE choose the
    # join strategy.
    matched = F.col("pass") & F.col("o_orderkey").isNotNull()
    stats = l.join(o, l.l_orderkey == o.o_orderkey, "left").agg(
        F.count("*").alias("n_fact"),
        F.sum(F.col("pass").cast("long")).alias("n_pass"),
        F.sum(matched.cast("long")).alias("n_match"),
        F.sum(
            F.when(matched, F.col("l_quantity").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("qty_matched"),
    )
    return stats.select(
        "n_fact",
        "n_pass",
        "n_match",
        (F.col("n_pass") - F.col("n_match")).alias("n_false_pos"),
        F.expr(_BLOOM_FPR).alias("fp_rate"),
        "qty_matched",
    )


def _bloom_sql() -> str:
    from .dedupq import _duck_hash

    pos_arms = "\nUNION ALL\n".join(
        f"SELECT ({_duck_hash('o_orderkey', str(s))}) % {_BLOOM_BITS} AS p FROM dim"
        for s in _BLOOM_SEEDS
    )
    probes = []
    for i, s in enumerate(_BLOOM_SEEDS, 1):
        p = f"({_duck_hash('l_orderkey', str(s))}) % {_BLOOM_BITS}"
        probes.append(f"{p} // {_BLOOM_WORD} AS wd{i}, CAST({p} % {_BLOOM_WORD} AS INT) AS bt{i}")
    joins = "\n  ".join(
        f"LEFT JOIN words w{i} ON w{i}.w = f.wd{i}" for i in range(1, 4)
    )
    pass_expr = " AND ".join(
        f"(COALESCE(w{i}.mask, 0) & (CAST(1 AS BIGINT) << f.bt{i})) <> 0"
        for i in range(1, 4)
    )
    return f"""
WITH dim AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1996-01-01'
),
pos AS (SELECT DISTINCT p FROM ({pos_arms})),
words AS (
  SELECT p // {_BLOOM_WORD} AS w,
         BIT_OR(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_WORD} AS INT)) AS mask
  FROM pos GROUP BY 1
),
fact AS (
  SELECT l_orderkey, l_quantity,
         {', '.join(probes)}
  FROM lineitem
),
tested AS (
  SELECT f.l_orderkey, f.l_quantity, ({pass_expr}) AS pass
  FROM fact f
  {joins}
),
matched AS (
  SELECT t.l_quantity FROM tested t
  WHERE t.pass AND EXISTS (SELECT 1 FROM dim d WHERE d.o_orderkey = t.l_orderkey)
),
s AS (
  SELECT (SELECT COUNT(*) FROM tested) AS n_fact,
         (SELECT CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) FROM tested) AS n_pass,
         (SELECT COUNT(*) FROM matched) AS n_match,
         (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) FROM matched) AS qty_matched
)
SELECT n_fact, n_pass, n_match,
       CAST(n_pass - n_match AS BIGINT) AS n_false_pos,
       {_BLOOM_FPR} AS fp_rate,
       qty_matched
FROM s
"""


APPROX_BLOOM_SQL = _bloom_sql()


# ---------------------------------------------------------------------------
# approx_cms_topk — count-min sketch, evaluated against exact counts
# ---------------------------------------------------------------------------

_CMS_W = 512
_CMS_SEEDS = (11, 12, 13)


def approx_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of per-user event frequencies, audited row by
    row against the exact counts for the true top-10 users.

    The sketch is d×w = 3×512 integer cells built as ONE
    map-side-combinable aggregation (each executor folds its partition
    into a partial grid; the shuffle merges ≤1536 cells per task —
    this mergeability is the whole point of CMS at 100 TB, where exact
    per-key counts would shuffle every distinct key). Estimates use
    the classic min-over-rows read; `overestimate = est − true` is
    structurally ≥ 0, and because the bucket hash is the portable md5
    the DuckDB oracle rebuilds the *identical* grid, so even the
    collision noise matches bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sketch = None
    for s in _CMS_SEEDS:
        part = ev.select(
            F.lit(s).alias("seed"),
            F.expr(
                f"{_bloom_hash_spark('user_id', s)} % {_CMS_W}"
            ).alias("bucket"),
        )
        sketch = part if sketch is None else sketch.unionAll(part)
    sketch = sketch.groupBy("seed", "bucket").agg(F.count("*").alias("cell"))

    exact = ev.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
    top = exact.orderBy(F.desc("true_cnt"), F.asc("user_id")).limit(10)

    probes = top.select(
        "user_id",
        "true_cnt",
        F.explode(
            F.array(*[F.lit(s) for s in _CMS_SEEDS])
        ).alias("seed"),
    )
    # the bucket depends on the exploded seed column — a CASE over the
    # 3 compile-time seeds keeps the hash expression a literal per arm
    bucket_case = "CASE " + " ".join(
        f"WHEN seed = {s} THEN ({_bloom_hash_spark('user_id', s)} % {_CMS_W})"
        for s in _CMS_SEEDS
    ) + " END"
    probes = probes.withColumn("bucket", F.expr(bucket_case))

    est = (
        probes.join(F.broadcast(sketch), ["seed", "bucket"], "left")
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "user_id",
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).alias("overestimate"),
    ).orderBy(F.desc("true_cnt"), F.asc("user_id"))


def _cms_sql() -> str:
    from .dedupq import _duck_hash

    arms = "\nUNION ALL\n".join(
        f"SELECT {s} AS seed, ({_duck_hash('user_id', str(s))}) % {_CMS_W}"
        f" AS bucket FROM events"
        for s in _CMS_SEEDS
    )
    bucket_case = "CASE " + " ".join(
        f"WHEN seed = {s} THEN ({_duck_hash('p.user_id', str(s))}) % {_CMS_W}"
        for s in _CMS_SEEDS
    ) + " END"
    return f"""
WITH sketch AS (
  SELECT seed, bucket, COUNT(*) AS cell FROM ({arms}) GROUP BY 1, 2
), exact AS (
  SELECT user_id, COUNT(*) AS true_cnt FROM events GROUP BY 1
), top AS (
  SELECT * FROM exact ORDER BY true_cnt DESC, user_id ASC LIMIT 10
), probes AS (
  SELECT p.user_id, p.true_cnt, s.seed, {bucket_case} AS bucket
  FROM top p CROSS JOIN (VALUES (11), (12), (13)) AS s(seed)
), est AS (
  SELECT pr.user_id, pr.true_cnt, MIN(sk.cell) AS cms_est
  FROM probes pr LEFT JOIN sketch sk
    ON sk.seed = pr.seed AND sk.bucket = pr.bucket
  GROUP BY 1, 2
)
SELECT user_id, true_cnt, cms_est, cms_est - true_cnt AS overestimate
FROM est ORDER BY true_cnt DESC, user_id ASC
"""


APPROX_CMS_SQL = _cms_sql()


# ---------------------------------------------------------------------------
# approx_hll_portable — explicit-register HyperLogLog, engine-exact
# ---------------------------------------------------------------------------

_HLL_P = 8  # 2^8 = 256 registers
_HLL_M = 1 << _HLL_P
_HLL_SEED = 7
# w carries the 52 hash bits above the bucket; 2^52-scaled harmonic sum
# stays exact in BIGINT (≤ m·2^53 < 2^62)
_HLL_WBITS = 52
# alpha_m · m² · 2^(wbits+1), folded to ONE double literal in Python and
# embedded via repr in BOTH engines — no DECIMAL-literal parsing trap,
# no cross-engine expression-order risk (memory: bare fractional
# literals parse as DECIMAL in both engines)
_HLL_CONST = (0.7213 / (1.0 + 1.079 / _HLL_M)) * _HLL_M * _HLL_M * float(
    1 << (_HLL_WBITS + 1)
)


def approx_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user cardinality via an EXPLICIT
    HyperLogLog register file — the storable, mergeable sketch
    (approx_sketches covers the opaque built-in HLL++; this one builds
    the registers themselves, the thing a 100 TB pipeline persists per
    partition and ORs together at read time).

    Construction is two map-side-combinable aggregations: the portable
    md5 hash splits into an 8-bit bucket and 52 rank bits; ``rho`` =
    leading-zero count + 1 comes from ``length(bin(w))`` (identical
    minimal-width semantics in Spark and DuckDB); registers are
    ``max(rho)`` per (key, bucket); the harmonic sum Σ2^-rho is scaled
    by 2^53 into an exact BIGINT (empty registers contribute 2^53
    each), so every value — including the float estimate, one shared
    literal constant divided by the exact integer sum — is
    bit-identical in the DuckDB oracle. No small-range linear-counting
    correction: it needs ln(), whose libm rounding is not a
    cross-engine contract; the raw estimate plus the empty-register
    count keeps the oracle exact and the correction derivable."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    h = _bloom_hash_spark("user_id", _HLL_SEED)
    hashed = ev.select(
        "event_type",
        F.expr(f"({h}) % {_HLL_M}").alias("bucket"),
        F.expr(f"({h}) div {_HLL_M}").alias("w"),
    )
    regs = hashed.groupBy("event_type", "bucket").agg(
        F.expr(
            f"MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1} "
            f"ELSE {_HLL_WBITS + 1} - length(bin(w)) END)"
        ).alias("rho")
    )
    per = regs.groupBy("event_type").agg(
        F.count("*").alias("n_regs"),
        F.expr(f"SUM(shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - rho))").alias(
            "s_present"
        ),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_nd")
    )
    empty_unit = 1 << (_HLL_WBITS + 1)
    out = (
        per.join(exact, "event_type")
        .select(
            "event_type",
            "exact_nd",
            (F.lit(_HLL_M) - F.col("n_regs")).cast("long").alias("n_empty_regs"),
            (
                F.col("s_present")
                + (F.lit(_HLL_M) - F.col("n_regs")) * F.lit(empty_unit)
            ).alias("s_total"),
        )
        .withColumn(
            "hll_est",
            F.expr(f"CAST('{_HLL_CONST!r}' AS DOUBLE) / CAST(s_total AS DOUBLE)"),
        )
        .withColumn(
            "rel_err",
            (F.col("hll_est") - F.col("exact_nd").cast("double"))
            / F.col("exact_nd").cast("double"),
        )
        .orderBy("event_type")
    )
    return out


def _hll_sql() -> str:
    from .dedupq import _duck_hash

    h = _duck_hash("user_id", str(_HLL_SEED))
    empty_unit = 1 << (_HLL_WBITS + 1)
    return f"""
WITH hashed AS (
  SELECT event_type, ({h}) % {_HLL_M} AS bucket, ({h}) // {_HLL_M} AS w
  FROM events
), regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN w = 0 THEN {_HLL_WBITS + 1}
             ELSE {_HLL_WBITS + 1} - length(bin(w)) END) AS rho
  FROM hashed GROUP BY 1, 2
), per AS (
  SELECT event_type, COUNT(*) AS n_regs,
         SUM(1::BIGINT << ({_HLL_WBITS + 1} - rho)) AS s_present
  FROM regs GROUP BY 1
), exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_nd FROM events GROUP BY 1
), joined AS (
  SELECT p.event_type, exact_nd,
         CAST({_HLL_M} - n_regs AS BIGINT) AS n_empty_regs,
         CAST(s_present + ({_HLL_M} - n_regs) * {empty_unit} AS BIGINT) AS s_total
  FROM per p JOIN exact e ON p.event_type = e.event_type
)
SELECT event_type, exact_nd, n_empty_regs, s_total,
       CAST('{_HLL_CONST!r}' AS DOUBLE) / CAST(s_total AS DOUBLE) AS hll_est,
       (CAST('{_HLL_CONST!r}' AS DOUBLE) / CAST(s_total AS DOUBLE)
        - CAST(exact_nd AS DOUBLE)) / CAST(exact_nd AS DOUBLE) AS rel_err
FROM joined ORDER BY event_type
"""


APPROX_HLL_SQL = _hll_sql()


# ---------------------------------------------------------------------------
# j8_lateral_topn — correlated LATERAL subquery join, one SQL text, two engines
# ---------------------------------------------------------------------------

# Shared verbatim between Spark (native LATERAL, Spark 3.4+/4.x) and
# the DuckDB oracle: top-2 orders per sampled customer expressed as a
# correlated per-row subquery with ORDER BY + LIMIT — the SQL-standard
# spelling of per-group top-N. Spark's optimizer decorrelates this
# into the same window/group-limit plan w2_group_topk builds by hand,
# so the entry proves the SURFACE, not a new physical strategy.
J8_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey,
       CAST(t.o_totalprice AS DOUBLE) AS o_totalprice
FROM customer c
CROSS JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_custkey < 20
ORDER BY c.c_custkey, o_totalprice DESC, t.o_orderkey
"""


def j8_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (top-2 orders per customer): the one
    per-group-top-N spelling the DataFrame API can't express directly.
    The SAME SQL text runs on both engines, so the oracle parity is
    literal. At scale Spark decorrelates the lateral into a windowed
    group-limit over one shuffle on the join key — identical shape to
    the hand-built w2_group_topk — rather than executing a per-row
    subquery, which is the property that makes LATERAL safe at 100 TB."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(J8_LATERAL_SQL)


def approx_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL worth storing: register files built
    per PARTITION (here: per event-time day) OR-merge into exactly the
    register file a single pass over the whole corpus builds — max is
    associative, so sketch(day₁) ∪ … ∪ sketch(dayₙ) ≡ sketch(corpus).
    This entry builds both sides and PROVES the equality bucket by
    bucket (diff count pinned 0), then reports the shared estimate —
    the 100 TB pattern where each ingest batch persists its registers
    and readers merge instead of rescanning. Same portable-hash
    registers as approx_hll_portable, so the DuckDB oracle rebuilds
    both sides bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    h = _bloom_hash_spark("user_id", _HLL_SEED)
    rho = (
        f"CASE WHEN (({h}) div {_HLL_M}) = 0 THEN {_HLL_WBITS + 1} "
        f"ELSE {_HLL_WBITS + 1} - length(bin(({h}) div {_HLL_M})) END"
    )
    hashed = ev.select(
        "day",
        F.expr(f"({h}) % {_HLL_M}").alias("bucket"),
        F.expr(rho).alias("rho"),
    )
    per_day = hashed.groupBy("day", "bucket").agg(F.max("rho").alias("rho"))
    merged = per_day.groupBy("bucket").agg(F.max("rho").alias("rho_m"))
    direct = hashed.groupBy("bucket").agg(F.max("rho").alias("rho_d"))
    cmp = merged.join(direct, "bucket", "full_outer").select(
        F.when(
            F.col("rho_m").eqNullSafe(F.col("rho_d")), F.lit(0)
        ).otherwise(F.lit(1)).alias("diff")
    )
    empty_unit = 1 << (_HLL_WBITS + 1)
    summary = direct.agg(
        F.count("*").alias("n_regs"),
        F.expr(
            f"SUM(shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - rho_d))"
        ).alias("s_present"),
    ).select(
        (F.col("s_present") + (F.lit(_HLL_M) - F.col("n_regs")) * F.lit(empty_unit)).alias(
            "s_total"
        )
    )
    n_days = ev.agg(F.countDistinct("day").alias("n_days"))
    diffs = cmp.agg(F.sum("diff").cast("long").alias("n_register_diffs"))
    exact = ev.agg(F.countDistinct("user_id").alias("exact_nd"))
    return (
        n_days.crossJoin(diffs)
        .crossJoin(summary)
        .crossJoin(exact)
        .select(
            "n_days",
            "n_register_diffs",
            "s_total",
            "exact_nd",
            F.expr(
                f"CAST('{_HLL_CONST!r}' AS DOUBLE) / CAST(s_total AS DOUBLE)"
            ).alias("hll_est"),
        )
    )


def _hll_merge_sql() -> str:
    from .dedupq import _duck_hash

    h = _duck_hash("user_id", str(_HLL_SEED))
    rho = (
        f"CASE WHEN (({h}) // {_HLL_M}) = 0 THEN {_HLL_WBITS + 1} "
        f"ELSE {_HLL_WBITS + 1} - length(bin(({h}) // {_HLL_M})) END"
    )
    empty_unit = 1 << (_HLL_WBITS + 1)
    return f"""
WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
hashed AS (
  SELECT day, ({h}) % {_HLL_M} AS bucket, {rho} AS rho FROM ev
), per_day AS (
  SELECT day, bucket, MAX(rho) AS rho FROM hashed GROUP BY 1, 2
), merged AS (
  SELECT bucket, MAX(rho) AS rho_m FROM per_day GROUP BY 1
), direct AS (
  SELECT bucket, MAX(rho) AS rho_d FROM hashed GROUP BY 1
), cmp AS (
  SELECT CAST(SUM(CASE WHEN m.rho_m IS NOT DISTINCT FROM d.rho_d
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_register_diffs
  FROM merged m FULL OUTER JOIN direct d ON m.bucket = d.bucket
), summary AS (
  SELECT CAST(SUM(1::BIGINT << ({_HLL_WBITS + 1} - rho_d))
              + ({_HLL_M} - COUNT(*)) * {empty_unit} AS BIGINT) AS s_total
  FROM direct
)
SELECT (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) FROM ev) AS n_days,
       n_register_diffs, s_total,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev) AS exact_nd,
       CAST('{_HLL_CONST!r}' AS DOUBLE) / CAST(s_total AS DOUBLE) AS hll_est
FROM cmp CROSS JOIN summary
"""


APPROX_HLL_MERGE_SQL = _hll_merge_sql()


# ---------------------------------------------------------------------------
# approx_kmv_distinct — bottom-k ("k minimum values" / theta) sketch
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SEED = 21
# estimator numerator (k-1)·2^53: the 60-bit portable hash is shifted
# down to 53 bits (h div 128) so this product stays inside BIGINT in
# both engines — 63·2^53 = 567453553048682496 < 2^63
_KMV_NUM = (_KMV_K - 1) * (1 << 53)
# shared CASE text: groups whose sketch never filled report the exact
# fill count (the standard KMV small-set rule); GREATEST guards the
# ~2^-53 chance of a zero shifted hash
_KMV_EST = (
    f"CAST(CASE WHEN fill < {_KMV_K} THEN fill "
    f"ELSE {_KMV_NUM} div GREATEST(kth, 1) END AS BIGINT)"
)


def approx_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV ("k minimum values", the theta-sketch core) distinct-user
    sketch per event type, plus the MERGED all-types estimate — the
    union of the per-group sketches re-trimmed to the global bottom-k.

    That merge step is the point of KMV at 100 TB: a group's k
    smallest hashes are a sufficient summary of its distinct set, and
    the k smallest of a union are always among the unions of each
    side's k smallest, so partial sketches (k BIGINTs per group) roll
    up a tree instead of shuffling the distinct keys themselves — the
    same algebra the explicit-register HLL queries exercise, but with
    an unbiasedly invertible estimator: with U = kth-smallest hash
    normalized to [0,1), D-hat = (k-1)/U.  The hash is the portable
    60-bit md5 (shifted to 53 bits) and the estimator is pure BIGINT
    division, so the DuckDB oracle reproduces every estimate — and its
    signed error — bit-for-bit.

    Plan shape: distinct (group, key) pre-aggregate (map-side
    combinable), per-group bottom-k window, then a ≤ k·n_groups-row
    merge; nothing past the first distinct scales with data volume.
    (The final merge window is a single-task sort over ≤ k·n_groups
    rows by construction — that bound, not the input size, is what
    reaches it.)  Reference parity: the reference's distinct counting
    (code/src/data_manager.py) is exact-only; this is the
    bounded-state path it lacks.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    keys = ev.distinct()
    hashed = keys.select(
        "event_type",
        "user_id",
        F.expr(
            f"({_bloom_hash_spark('user_id', _KMV_SEED)}) div 128"
        ).alias("h53"),
    )
    w = Window.partitionBy("event_type").orderBy("h53", "user_id")
    sk = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    per = sk.groupBy("event_type").agg(
        F.count("*").alias("fill"), F.max("h53").alias("kth")
    )
    truth = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_true")
    )
    groups = per.join(truth, "event_type").select(
        F.col("event_type").alias("scope"),
        "n_true",
        F.expr(_KMV_EST).alias("kmv_est"),
    )
    # merged sketch: the hash is a function of user_id alone, so
    # DISTINCT h53 across the per-group sketches dedups shared users
    wg = Window.orderBy("h53")
    merged = (
        sk.select("h53")
        .distinct()
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= _KMV_K)
        .agg(F.count("*").alias("fill"), F.max("h53").alias("kth"))
    )
    all_truth = ev.agg(F.countDistinct("user_id").alias("n_true"))
    merged_row = merged.crossJoin(all_truth).select(
        F.lit("__all__").alias("scope"),
        "n_true",
        F.expr(_KMV_EST).alias("kmv_est"),
    )
    return (
        groups.unionByName(merged_row)
        .select(
            "scope",
            "n_true",
            "kmv_est",
            (F.col("kmv_est") - F.col("n_true")).alias("err"),
        )
        .orderBy("scope")
    )


def _kmv_sql() -> str:
    from .dedupq import _duck_hash

    est = (
        f"CAST(CASE WHEN fill < {_KMV_K} THEN fill "
        f"ELSE {_KMV_NUM} // GREATEST(kth, 1) END AS BIGINT)"
    )
    return f"""
WITH keys AS (SELECT DISTINCT event_type, user_id FROM events),
hashed AS (
  SELECT event_type, user_id,
         ({_duck_hash('user_id', str(_KMV_SEED))}) // 128 AS h53
  FROM keys
), sk AS (
  SELECT * FROM (
    SELECT event_type, h53,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY h53, user_id) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
), per AS (
  SELECT event_type, COUNT(*) AS fill, MAX(h53) AS kth FROM sk GROUP BY 1
), truth AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_true FROM events GROUP BY 1
), grp AS (
  SELECT p.event_type AS scope, t.n_true, {est} AS kmv_est
  FROM per p JOIN truth t ON p.event_type = t.event_type
), mh AS (SELECT DISTINCT h53 FROM sk),
msk AS (
  SELECT * FROM (
    SELECT h53, ROW_NUMBER() OVER (ORDER BY h53) AS rn FROM mh
  ) WHERE rn <= {_KMV_K}
), m AS (SELECT COUNT(*) AS fill, MAX(h53) AS kth FROM msk),
mrow AS (
  SELECT '__all__' AS scope,
         (SELECT COUNT(DISTINCT user_id) FROM events) AS n_true,
         {est} AS kmv_est
  FROM m
)
SELECT scope, n_true, kmv_est, kmv_est - n_true AS err
FROM (SELECT * FROM grp UNION ALL SELECT * FROM mrow)
ORDER BY scope
"""


APPROX_KMV_SQL = _kmv_sql()


# ---------------------------------------------------------------------------
# approx_theta_ops — theta-sketch SET OPERATIONS (union / intersection)
# ---------------------------------------------------------------------------

_THETA_MAX = 1 << 53


def approx_theta_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET OPERATIONS — the audience-overlap estimate at
    sketch size: the click-user and purchase-user KMV sketches (64
    smallest portable 53-bit hashes each) combine WITHOUT touching the
    raw sets: union = bottom-k of the merged sketch values (the KMV
    estimator again), intersection = the theta rule — count the hash
    values BOTH sketches hold below θ = min(θ_A, θ_B) and scale by
    2⁵³ div θ. Every step is deterministic integer arithmetic on the
    portable hash, so DuckDB replays the sketches, the θ rule, and
    both estimates bit-for-bit; the exact truths ride along so the
    output IS the error audit.

    Scale: sketches summarize arbitrarily large sets in 64 BIGINTs;
    the set algebra runs on ≤128 rows. The per-set bottom-k window
    sorts DISTINCT user hashes per set — the KMV entry's documented
    bound — and unfilled sketches degrade to exact counts by the
    small-set rule."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    hashed = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.col("event_type").alias("lbl"),
            F.expr(
                f"({_bloom_hash_spark('user_id', _KMV_SEED)}) div 128"
            ).alias("h53"),
        )
        .distinct()
    )
    w = Window.partitionBy("lbl").orderBy("h53")
    sk = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KMV_K
    )
    per = sk.groupBy("lbl").agg(
        F.count("*").alias("fill"), F.max("h53").alias("kth")
    )
    theta = per.agg(
        F.min(
            F.expr(f"IF(fill < {_KMV_K}, {_THETA_MAX}L, kth)")
        ).alias("theta")
    )
    a = sk.filter(F.col("lbl") == "click").select("h53")
    b = sk.filter(F.col("lbl") == "purchase").select("h53")
    inter = (
        a.join(b, "h53")
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h53") < F.col("theta"))
        .agg(F.count("*").alias("cnt"), F.max("theta").alias("theta"))
    )
    wg = Window.orderBy("h53")
    un = (
        a.unionAll(b)
        .distinct()
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= _KMV_K)
        .agg(F.count("*").alias("fill"), F.max("h53").alias("kth"))
    )
    truth = ev.filter(F.col("event_type").isin("click", "purchase")).groupBy(
        "user_id"
    ).agg(
        F.max(F.expr("IF(event_type = 'click', 1, 0)")).alias("ca"),
        F.max(F.expr("IF(event_type = 'purchase', 1, 0)")).alias("pb"),
    ).agg(
        F.sum(F.expr("IF(ca = 1 OR pb = 1, 1, 0)")).alias("union_true"),
        F.sum(F.expr("IF(ca = 1 AND pb = 1, 1, 0)")).alias("inter_true"),
    )
    return (
        un.select(F.expr(_KMV_EST).alias("union_est"))
        .crossJoin(
            inter.select(
                F.expr(
                    f"CAST((cnt * {_THETA_MAX}L) div GREATEST(COALESCE(theta, 1L), 1L)"
                    " AS BIGINT)"
                ).alias("inter_est"),
                F.col("cnt").cast("long").alias("inter_sketch_hits"),
            )
        )
        .crossJoin(F.broadcast(truth))
        .select(
            "union_est",
            F.col("union_true").cast("long").alias("union_true"),
            "inter_est",
            F.col("inter_true").cast("long").alias("inter_true"),
            "inter_sketch_hits",
        )
    )


def _theta_sql() -> str:
    from .dedupq import _duck_hash

    h = f"({_duck_hash('user_id', str(_KMV_SEED))}) // 128"
    return f"""
WITH hashed AS (
  SELECT DISTINCT event_type AS lbl, {h} AS h53
  FROM events WHERE event_type IN ('click', 'purchase')
), sk AS (
  SELECT lbl, h53 FROM (
    SELECT lbl, h53,
           ROW_NUMBER() OVER (PARTITION BY lbl ORDER BY h53) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
), per AS (
  SELECT lbl, COUNT(*) AS fill, MAX(h53) AS kth FROM sk GROUP BY 1
), theta AS (
  SELECT MIN(CASE WHEN fill < {_KMV_K} THEN {_THETA_MAX} ELSE kth END)
    AS theta
  FROM per
), inter AS (
  SELECT COUNT(*) AS cnt, MAX(theta) AS theta
  FROM (SELECT h53 FROM sk WHERE lbl = 'click') a
  JOIN (SELECT h53 FROM sk WHERE lbl = 'purchase') b USING (h53), theta
  WHERE h53 < theta
), un AS (
  SELECT COUNT(*) AS fill, MAX(h53) AS kth FROM (
    SELECT h53, ROW_NUMBER() OVER (ORDER BY h53) AS rn
    FROM (SELECT DISTINCT h53 FROM sk)
  ) WHERE rn <= {_KMV_K}
), truth AS (
  SELECT SUM(CASE WHEN ca = 1 OR pb = 1 THEN 1 ELSE 0 END) AS union_true,
         SUM(CASE WHEN ca = 1 AND pb = 1 THEN 1 ELSE 0 END) AS inter_true
  FROM (
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS pb
    FROM events WHERE event_type IN ('click', 'purchase')
    GROUP BY 1
  )
)
SELECT {_KMV_EST.replace('div', '//')} AS union_est,
       CAST(truth.union_true AS BIGINT) AS union_true,
       CAST((inter.cnt * {_THETA_MAX}) // GREATEST(COALESCE(inter.theta, 1), 1) AS BIGINT)
         AS inter_est,
       CAST(truth.inter_true AS BIGINT) AS inter_true,
       CAST(inter.cnt AS BIGINT) AS inter_sketch_hits
FROM un, inter, truth
"""


APPROX_THETA_SQL = _theta_sql()


# ---------------------------------------------------------------------------
# approx_quantile_hist — mergeable fixed-grid histogram quantile sketch
# ---------------------------------------------------------------------------

_QH_WIDTH = 500  # fixed bucket width over o_totalprice (0 .. 500k → ≤1000 cells)
_QH_PCTS = (50, 90, 95, 99)

# in-bucket linear interpolation: ONE shared IEEE expression over exact
# integers (the histogram analogue of PERCENTILE_CONT's fractional step)
_QH_EST = (
    f"CAST(bucket * {_QH_WIDTH} AS DOUBLE)"
    f" + CAST({_QH_WIDTH} AS DOUBLE)"
    " * (CAST(target - cum_before AS DOUBLE) / CAST(bucket_n AS DOUBLE))"
)


def approx_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles from a fixed-grid histogram sketch — the
    mergeable, single-pass alternative to sorting when an exact
    percentile would global-shuffle 100 TB (w9_percentile_cont is the
    exact twin; GK/t-digest sketches are order-dependent and can't
    hash-match across engines, a fixed grid can).

    One map-side-combinable groupBy builds the ≤1000-cell histogram;
    a running-count window over the cells plus a broadcast of the
    4-row percentile spine finds each target rank's bucket (the
    smallest bucket whose cumulative count reaches ceil(p·n/100), all
    BIGINT); the estimate interpolates linearly inside the bucket with
    one shared-verbatim IEEE expression. Error is bounded by the grid
    width, counts merge across shards/days by cell addition.
    """
    o = load_table(spark, sf_dir, "orders")
    hist = (
        o.select(
            F.expr(
                f"CAST(FLOOR(o_totalprice / CAST({_QH_WIDTH} AS DOUBLE))"
                " AS BIGINT)"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("bucket_n"))
    )
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "bucket",
        "bucket_n",
        (F.sum("bucket_n").over(w_cum) - F.col("bucket_n")).alias("cum_before"),
        F.sum("bucket_n").over(w_cum).alias("cum"),
        F.sum("bucket_n").over(Window.partitionBy()).alias("n"),
    )
    pcts = spark.createDataFrame([(p,) for p in _QH_PCTS], "pct long")
    # target rank = ceil(p·n/100) in pure integers
    probe = cum.crossJoin(F.broadcast(pcts)).selectExpr(
        "pct", "bucket", "bucket_n", "cum_before", "cum", "n",
        "(pct * n + 99) div 100 AS target",
    )
    hit = (
        probe.filter(F.col("cum") >= F.col("target"))
        .groupBy("pct")
        .agg(
            F.min_by(
                F.struct("bucket", "bucket_n", "cum_before", "target", "n"),
                F.col("bucket"),
            ).alias("s")
        )
        .select("pct", "s.bucket", "s.bucket_n", "s.cum_before", "s.target", "s.n")
    )
    return hit.selectExpr(
        "pct",
        "n",
        "target AS target_rank",
        "bucket",
        "bucket_n",
        f"{_QH_EST} AS estimate",
    ).orderBy("pct")


APPROX_QH_SQL = f"""
WITH hist AS (
  SELECT CAST(FLOOR(o_totalprice / CAST({_QH_WIDTH} AS DOUBLE)) AS BIGINT)
           AS bucket,
         COUNT(*) AS bucket_n
  FROM orders GROUP BY 1
), cum AS (
  SELECT bucket, bucket_n,
         SUM(bucket_n) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bucket_n
           AS cum_before,
         SUM(bucket_n) OVER (ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(bucket_n) OVER () AS n
  FROM hist
), probe AS (
  SELECT p.pct, c.bucket, c.bucket_n, c.cum_before, c.cum, c.n,
         (p.pct * c.n + 99) // 100 AS target
  FROM cum c, (VALUES {', '.join(f'({p})' for p in _QH_PCTS)}) p(pct)
), hit AS (
  SELECT pct, MIN(bucket) AS bucket
  FROM probe WHERE cum >= target GROUP BY 1
)
SELECT p.pct,
       CAST(p.n AS BIGINT) AS n,
       CAST(p.target AS BIGINT) AS target_rank,
       p.bucket, CAST(p.bucket_n AS BIGINT) AS bucket_n,
       {_QH_EST.replace('bucket *', 'p.bucket *')
                .replace('target -', 'p.target -')
                .replace('cum_before', 'p.cum_before')
                .replace('bucket_n', 'p.bucket_n')} AS estimate
FROM probe p JOIN hit h ON p.pct = h.pct AND p.bucket = h.bucket
ORDER BY p.pct
"""


# ---------------------------------------------------------------------------
# j10_pit_embargo_join — point-in-time feature join with a leakage embargo
# ---------------------------------------------------------------------------

_PIT_EMBARGO = "INTERVAL 1 HOUR"


def j10_pit_embargo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature retrieval — the feature-store
    primitive that keeps training data leakage-free: for every label
    event (a purchase), read each feature as of label_ts − embargo
    (1 h), so no signal from the embargo window or the future leaks
    into the training row.

    Implemented as the scalable as-of pattern (asof_join_orders_events):
    feature deltas and embargo-shifted probes union into ONE stream,
    one shuffle on user_id, and a running-sum window serves every probe
    its exact prior feature values — no per-label subquery, no range
    join blowup. Features here: prior click count and prior purchase
    count (repeat-buyer signal). The rollup emits per-user training
    stats including cold-start labels (zero feature history).

    Probes sort AFTER features at the same shifted instant, so
    feature_ts ≤ label_ts − embargo is inclusive — both engines agree
    on the tie order by construction."""
    e = load_table(spark, sf_dir, "events")
    feats = e.select(
        "user_id",
        "ts",
        F.expr("IF(event_type = 'click', 1, 0)").alias("ck"),
        F.expr("IF(event_type = 'purchase', 1, 0)").alias("pk"),
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("label_id"),
    )
    probes = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr(f"ts - {_PIT_EMBARGO}").alias("ts"),
        F.lit(0).alias("ck"),
        F.lit(0).alias("pk"),
        F.lit(1).alias("is_probe"),
        F.col("event_id").alias("label_id"),
    )
    tagged = feats.unionByName(probes)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "label_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    served = (
        tagged.withColumn("feature_clicks", F.sum("ck").over(w))
        .withColumn("feature_purchases", F.sum("pk").over(w))
        .filter(F.col("is_probe") == 1)
    )
    return (
        served.groupBy("user_id")
        .agg(
            F.count("*").alias("n_labels"),
            F.sum("feature_clicks").alias("sum_feat_clicks"),
            F.max("feature_purchases").alias("max_feat_purchases"),
            F.sum(F.expr("IF(feature_clicks = 0, 1, 0)")).alias("n_cold_start"),
        )
        .orderBy("user_id")
    )


J10_PIT_SQL = f"""
WITH tagged AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ck,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pk,
         0 AS is_probe, CAST(NULL AS BIGINT) AS label_id
  FROM events
  UNION ALL
  SELECT user_id, ts - {_PIT_EMBARGO} AS ts, 0, 0, 1, event_id
  FROM events WHERE event_type = 'purchase'
), served AS (
  SELECT user_id, is_probe,
         SUM(ck) OVER (PARTITION BY user_id ORDER BY ts, is_probe, label_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS feature_clicks,
         SUM(pk) OVER (PARTITION BY user_id ORDER BY ts, is_probe, label_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS feature_purchases
  FROM tagged
)
SELECT user_id, COUNT(*) AS n_labels,
       CAST(SUM(feature_clicks) AS BIGINT) AS sum_feat_clicks,
       CAST(MAX(feature_purchases) AS BIGINT) AS max_feat_purchases,
       CAST(SUM(CASE WHEN feature_clicks = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cold_start
FROM served WHERE is_probe = 1
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# asof_forward_tolerance — forward as-of join with a match tolerance
# ---------------------------------------------------------------------------

_ASOF_TOL_MIN = 60  # forward tolerance, minutes


def asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with tolerance: for every click event, the
    NEXT purchase by the same user, matched only when it lands within
    60 minutes — the click-to-conversion attribution join (pandas
    merge_asof(direction='forward', tolerance=...), here as scalable
    dataflow: one union + one keyed window, no per-row subquery, no
    range join blow-up).

    A same-instant purchase is visible to the click (anchors sort
    before probes at an identical timestamp — the mirror of the
    backward as-of's tie-break). Latencies are exact epoch-second
    differences; per-user conversion counts and total latency are
    exact BIGINTs."""
    e = load_table(spark, sf_dir, "events")
    probes = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    anchors = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("anchor_ts")
    )
    tagged = probes.select(
        "user_id", "ts", F.lit(None).cast("timestamp").alias("anchor_ts"),
        "event_id",
    ).unionByName(
        anchors.select(
            "user_id", F.col("anchor_ts").alias("ts"), F.col("anchor_ts"),
            F.lit(None).cast("long").alias("event_id"),
        )
    )
    # forward window: anchors (event_id IS NULL) sort FIRST at a tied ts
    # so a same-instant purchase matches; first_value looks ahead
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("event_id").isNotNull().cast("int"), "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    matched = (
        tagged.withColumn(
            "next_anchor", F.first("anchor_ts", ignorenulls=True).over(w)
        )
        .filter(F.col("event_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.when(
                F.col("next_anchor").isNotNull()
                & (
                    F.unix_timestamp("next_anchor") - F.unix_timestamp("ts")
                    <= _ASOF_TOL_MIN * 60
                ),
                F.unix_timestamp("next_anchor") - F.unix_timestamp("ts"),
            ).alias("latency_s"),
        )
    )
    return (
        matched.groupBy("user_id")
        .agg(
            F.count("*").alias("n_clicks"),
            F.count("latency_s").alias("n_converted"),
            F.coalesce(F.sum("latency_s"), F.lit(0))
            .cast("long")
            .alias("total_latency_s"),
        )
        .orderBy("user_id")
    )


ASOF_TOL_SQL = f"""
WITH tagged AS (
  SELECT user_id, ts, CAST(NULL AS TIMESTAMP) AS anchor_ts, event_id
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, ts AS anchor_ts, CAST(NULL AS BIGINT) AS event_id
  FROM events WHERE event_type = 'purchase'
), fwd AS (
  SELECT user_id, event_id, ts,
         FIRST_VALUE(anchor_ts IGNORE NULLS) OVER (
           PARTITION BY user_id
           ORDER BY ts, CAST(event_id IS NOT NULL AS INT), event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_anchor
  FROM tagged
), matched AS (
  -- per-timestamp FLOOR before subtracting mirrors Spark's
  -- unix_timestamp() (whole-second truncation per value)
  SELECT user_id, event_id,
         CASE WHEN next_anchor IS NOT NULL
               AND CAST(FLOOR(epoch(next_anchor)) AS BIGINT)
                   - CAST(FLOOR(epoch(ts)) AS BIGINT)
                   <= {_ASOF_TOL_MIN * 60}
              THEN CAST(FLOOR(epoch(next_anchor)) AS BIGINT)
                   - CAST(FLOOR(epoch(ts)) AS BIGINT) END
           AS latency_s
  FROM fwd WHERE event_id IS NOT NULL
)
SELECT user_id, COUNT(*) AS n_clicks,
       COUNT(latency_s) AS n_converted,
       CAST(COALESCE(SUM(latency_s), 0) AS BIGINT) AS total_latency_s
FROM matched
GROUP BY user_id
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# j14_relational_division — suppliers covering EVERY nation of a region
# ---------------------------------------------------------------------------

_DIV_REGION = 0


def j14_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("for all" join): suppliers whose shipments
    reached customers in EVERY nation of region 0 — the classic
    universal-quantifier query SQL has no operator for, compiled to
    the scalable count-match form: distinct (supplier, covered
    nation) pairs restricted to the divisor set, grouped, and kept
    when the coverage count equals the divisor cardinality.

    Scale: the divisor (region nations) is a broadcast dim; supplier
    joins by stats/AQE (it grows with SF); the fact
    side reduces to DISTINCT pairs in one shuffle; no correlated
    NOT EXISTS double-negation (the textbook form that devolves to a
    per-row subquery)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    divisor = n.filter(F.col("n_regionkey") == _DIV_REGION).select(
        F.col("n_nationkey").alias("nk")
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pairs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(divisor), c.c_nationkey == F.col("nk"))
        .select("l_suppkey", "nk")
        .distinct()
    )
    need = divisor.agg(F.count("*").alias("need"))
    covered = (
        pairs.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_covered"))
        .crossJoin(F.broadcast(need))
        .filter(F.col("n_covered") == F.col("need"))
    )
    return (
        covered.join(s, covered.l_suppkey == s.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("n_covered").cast("long").alias("nations_covered"),
        )
        .orderBy("s_suppkey")
    )


J14_DIVISION_SQL = f"""
WITH divisor AS (
  SELECT n_nationkey AS nk FROM nation WHERE n_regionkey = {_DIV_REGION}
), pairs AS (
  SELECT DISTINCT l.l_suppkey, d.nk
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN divisor d ON c.c_nationkey = d.nk
), covered AS (
  SELECT l_suppkey, COUNT(*) AS n_covered
  FROM pairs GROUP BY 1
  HAVING COUNT(*) = (SELECT COUNT(*) FROM divisor)
)
SELECT cv.l_suppkey AS s_suppkey, s.s_name,
       CAST(cv.n_covered AS BIGINT) AS nations_covered
FROM covered cv JOIN supplier s ON cv.l_suppkey = s.s_suppkey
ORDER BY s_suppkey
"""


QUERIES = {
    "asof_forward_tolerance": (asof_forward_tolerance, ASOF_TOL_SQL),
    "j14_relational_division": (j14_relational_division, J14_DIVISION_SQL),
    "approx_hll_portable": (approx_hll_portable, APPROX_HLL_SQL),
    "approx_quantile_hist": (approx_quantile_hist, APPROX_QH_SQL),
    "j10_pit_embargo_join": (j10_pit_embargo_join, J10_PIT_SQL),
    "approx_hll_merge": (approx_hll_merge, APPROX_HLL_MERGE_SQL),
    "j8_lateral_topn": (j8_lateral_topn, J8_LATERAL_SQL),
    "f10_map_in_arrow": (f10_map_in_arrow, F10_ARROW_SQL),
    "f11_cogroup_reconcile": (f11_cogroup_reconcile, F11_COGROUP_SQL),
    "approx_bloom_semijoin": (approx_bloom_semijoin, APPROX_BLOOM_SQL),
    "approx_cms_topk": (approx_cms_topk, APPROX_CMS_SQL),
    "approx_kmv_distinct": (approx_kmv_distinct, APPROX_KMV_SQL),
    "approx_theta_ops": (approx_theta_ops, APPROX_THETA_SQL),
    "o6_multiset_ops": (o6_multiset_ops, O6_MULTISET_SQL),
    "j5_full_outer": (j5_full_outer, J5_FULL_OUTER_SQL),
    "a15_histogram": (a15_histogram, A15_HISTOGRAM_SQL),
    "a16_grouping_sets": (a16_grouping_sets, A16_GROUPING_SETS_SQL),
    "set_union_intersect": (set_union_intersect, SET_UNION_SQL),
    "hof_array_suite": (hof_array_suite, HOF_SQL),
    "regexp_text_suite": (regexp_text_suite, REGEXP_SQL),
    "null_semantics": (null_semantics, NULL_SEMANTICS_SQL),
    "rollup_revenue": (rollup_revenue, ROLLUP_SQL),
    "cube_counts": (cube_counts, CUBE_SQL),
    "distinct_agg": (distinct_agg, DISTINCT_AGG_SQL),
    "approx_sketches": (approx_sketches, APPROX_SQL),
    "approx_heavy_hitters": (approx_heavy_hitters, HEAVY_HITTERS_SQL),
    "pivot_status_by_priority": (pivot_status_by_priority, PIVOT_SQL),
    "semi_join": (semi_join, SEMI_SQL),
    "above_avg_orders": (above_avg_orders, ABOVE_AVG_SQL),
    "range_join_price_bands": (range_join_price_bands, RANGE_JOIN_SQL),
    "asof_join_orders_events": (asof_join_orders_events, ASOF_SQL),
}
