"""Entity resolution: multi-pass blocked record linkage.

The classic ER-at-scale recipe (Fellegi–Sunter blocking, the same
shape Dedoop/Magellan/Splink use on clusters): never score all O(n²)
pairs — generate candidate pairs from cheap BLOCKING keys (several
passes so a single corrupted key can't hide a true match), score only
within blocks with an edit distance, then pick each record's best
match with a deterministic tie-break.

Corruption is synthesized deterministically from the portable md5
hash (digit drop / substitute / adjacent swap / unchanged, position
hash-picked), so Spark and the DuckDB oracle build byte-identical
dirty records and the whole evaluation — candidate counts, match
rate, per-edit-type recall — is value-exact.

Scale design: each blocking pass is one equi-join on the block key
(shuffle co-partitioned, never a cross join); pair work is bounded by
block-size², and the key choice matters — the two passes use the LAST four digits
and the four digits just before the tail, both uniform across
customers, while any LEADING window is degenerate at every SF
(everything starts '0000…' — one all-pairs block; the first cut of
this query made that mistake and went quadratic). Scoring joins
carry only (key, name) pairs; the argmin is a per-dirty-record window
over its own candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table


def _spark_hash(expr: str, seed: str) -> str:
    return (
        f"CAST(conv(substring(md5(concat('{seed}|', CAST({expr} AS STRING)))"
        f", 1, 15), 16, 10) AS BIGINT)"
    )


def er_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link hash-corrupted customer names back to the clean roster via
    two blocking passes + Levenshtein ≤ 2 + deterministic best-match.

    Returns one row per corruption type: how many records, how many
    drew any candidate, how many matched, and how many matched the
    RIGHT entity — the standard blocking-recall report.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # Block width scales with the data: k = max(4, digits(n) - 1) keeps
    # expected block size ~O(10) at every SF. A FIXED-width key is the
    # classic ER scaling bug — 10⁴ blocks over 150k records means
    # 15-member blocks and O(n²/10⁴) pairs (measured 42× at the 10×
    # soak before this); width-∝-log(n) keys keep pair counts linear.
    n_cust = c.count()
    k = max(4, len(str(n_cust)) - 1)
    nz = F.expr(_spark_hash("c_custkey", "er"))
    dirty = (
        c.withColumn("nz", nz)
        .withColumn("edit_type", (F.col("nz") % 4).cast("int"))
        .withColumn("p", (F.expr("nz div 4") % 8 + 1).cast("int"))
        .withColumn("digits", F.expr("substr(c_name, 10)"))
        .withColumn(
            "dd",
            F.expr(
                """CASE edit_type
              WHEN 0 THEN concat(substr(digits, 1, p - 1), substr(digits, p + 1))
              WHEN 1 THEN concat(substr(digits, 1, p - 1),
                                 CAST((CAST(substr(digits, p, 1) AS INT) + 1) % 10 AS STRING),
                                 substr(digits, p + 1))
              WHEN 2 THEN concat(substr(digits, 1, p - 1), substr(digits, p + 1, 1),
                                 substr(digits, p, 1), substr(digits, p + 2))
              ELSE digits END"""
            ),
        )
        .withColumn("dirty_name", F.concat(F.lit("Customer#"), "dd"))
        .withColumn("bk1", F.expr(f"substr(dd, greatest(length(dd) - {k - 1}, 1))"))
        .withColumn("bk2", F.expr(f"substr(dd, greatest(length(dd) - {k}, 1), {k})"))
        .select("c_custkey", "edit_type", "dirty_name", "bk1", "bk2")
    )
    clean = c.select(
        F.col("c_custkey").alias("clean_key"),
        F.col("c_name").alias("clean_name"),
        F.expr(f"substr(c_name, {19 - k})").alias("ck1"),
        F.expr(f"substr(c_name, {18 - k}, {k})").alias("ck2"),
    )
    # Both blocking passes ride ONE equi-join: explode each side to
    # (pass, key) and join on the pair — half the join/broadcast stages
    # of a per-pass union, same candidate set after distinct.
    dirty_keys = dirty.select(
        "c_custkey",
        "edit_type",
        "dirty_name",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("pass"), F.col("bk1").alias("bk")),
                F.struct(F.lit(2).alias("pass"), F.col("bk2").alias("bk")),
            )
        ).alias("b"),
    ).select("c_custkey", "edit_type", "dirty_name", "b.pass", "b.bk")
    clean_keys = clean.select(
        "clean_key",
        "clean_name",
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("pass"), F.col("ck1").alias("ck")),
                F.struct(F.lit(2).alias("pass"), F.col("ck2").alias("ck")),
            )
        ).alias("b"),
    ).select("clean_key", "clean_name", "b.pass", "b.ck")
    pairs = (
        dirty_keys.join(
            clean_keys,
            (dirty_keys["pass"] == clean_keys["pass"])
            & (dirty_keys.bk == clean_keys.ck),
        )
        .select("c_custkey", "edit_type", "dirty_name", "clean_key", "clean_name")
        .distinct()
        .withColumn("dist", F.levenshtein("dirty_name", "clean_name"))
    )
    # Aggregate at edit_type grain BEFORE joining (4-row joins), instead
    # of joining candidate/best stats back onto every record — the
    # record-grain facts (n_records) never need the pair table at all.
    best = (
        pairs.filter(F.col("dist") <= 2)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("c_custkey").orderBy("dist", "clean_key")
            ),
        )
        .filter(F.col("r") == 1)
        .select("c_custkey", "edit_type", "clean_key")
    )
    agg_rec = dirty.groupBy("edit_type").agg(
        F.count("*").cast("long").alias("n_records")
    )
    agg_cand = pairs.groupBy("edit_type").agg(
        F.countDistinct("c_custkey").cast("long").alias("n_with_candidates")
    )
    agg_best = best.groupBy("edit_type").agg(
        F.count("*").cast("long").alias("n_matched"),
        F.sum(F.when(F.col("clean_key") == F.col("c_custkey"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    )
    return (
        agg_rec.join(agg_cand, "edit_type", "left")
        .join(agg_best, "edit_type", "left")
        .select(
            "edit_type",
            "n_records",
            F.coalesce("n_with_candidates", F.lit(0)).alias("n_with_candidates"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.coalesce("n_correct", F.lit(0)).alias("n_correct"),
            F.round(
                F.coalesce("n_correct", F.lit(0)).cast("double")
                / F.col("n_records"),
                6,
            ).alias("recall"),
        )
        .orderBy("edit_type")
    )


def _er_sql() -> str:
    duck_hash = "('0x' || substr(md5('er' || '|' || CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT"
    return f"""
WITH kk AS (
  SELECT GREATEST(4, length(CAST((SELECT COUNT(*) FROM customer) AS VARCHAR)) - 1) AS k
), src AS (
  SELECT c_custkey, c_name, {duck_hash} AS nz FROM customer
), dirty0 AS (
  SELECT c_custkey,
         CAST(nz % 4 AS INT) AS edit_type,
         CAST((nz // 4) % 8 + 1 AS INT) AS p,
         substr(c_name, 10) AS digits
  FROM src
), dirty AS (
  SELECT c_custkey, edit_type,
         'Customer#' || dd AS dirty_name,
         substr(dd, greatest(length(dd) - (kk.k - 1), 1)) AS bk1,
         substr(dd, greatest(length(dd) - kk.k, 1), kk.k) AS bk2
  FROM kk, (
    SELECT c_custkey, edit_type,
           CASE edit_type
             WHEN 0 THEN substr(digits, 1, p - 1) || substr(digits, p + 1)
             WHEN 1 THEN substr(digits, 1, p - 1)
                      || CAST((CAST(substr(digits, p, 1) AS INT) + 1) % 10 AS VARCHAR)
                      || substr(digits, p + 1)
             WHEN 2 THEN substr(digits, 1, p - 1) || substr(digits, p + 1, 1)
                      || substr(digits, p, 1) || substr(digits, p + 2)
             ELSE digits END AS dd
    FROM dirty0
  )
), clean AS (
  SELECT c_custkey AS clean_key, c_name AS clean_name,
         substr(c_name, 19 - kk.k) AS ck1,
         substr(c_name, 18 - kk.k, kk.k) AS ck2
  FROM kk, customer
), pairs AS (
  SELECT DISTINCT c_custkey, edit_type, dirty_name, clean_key, clean_name
  FROM (
    SELECT d.c_custkey, d.edit_type, d.dirty_name, c.clean_key, c.clean_name
    FROM dirty d JOIN clean c ON d.bk1 = c.ck1
    UNION ALL
    SELECT d.c_custkey, d.edit_type, d.dirty_name, c.clean_key, c.clean_name
    FROM dirty d JOIN clean c ON d.bk2 = c.ck2
  )
), scored AS (
  SELECT *, levenshtein(dirty_name, clean_name) AS dist FROM pairs
), best AS (
  SELECT c_custkey, edit_type, clean_key FROM (
    SELECT c_custkey, edit_type, clean_key,
           ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY dist, clean_key) AS r
    FROM scored WHERE dist <= 2
  ) WHERE r = 1
), agg_rec AS (
  SELECT edit_type, CAST(COUNT(*) AS BIGINT) AS n_records FROM dirty GROUP BY 1
), agg_cand AS (
  SELECT edit_type, CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_with_candidates
  FROM scored GROUP BY 1
), agg_best AS (
  SELECT edit_type,
         CAST(COUNT(*) AS BIGINT) AS n_matched,
         CAST(SUM(CASE WHEN clean_key = c_custkey THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM best GROUP BY 1
)
SELECT r.edit_type,
       r.n_records,
       COALESCE(c.n_with_candidates, 0) AS n_with_candidates,
       COALESCE(b.n_matched, 0) AS n_matched,
       COALESCE(b.n_correct, 0) AS n_correct,
       ROUND(CAST(COALESCE(b.n_correct, 0) AS DOUBLE) / r.n_records, 6) AS recall
FROM agg_rec r
LEFT JOIN agg_cand c ON c.edit_type = r.edit_type
LEFT JOIN agg_best b ON b.edit_type = r.edit_type
ORDER BY r.edit_type
"""


ER_LINKAGE_SQL = _er_sql()


QUERIES = {
    "er_blocked_linkage": (er_blocked_linkage, ER_LINKAGE_SQL),
}
