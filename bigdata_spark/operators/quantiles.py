"""Grouped EXACT order-statistic selection via two-pass bucketed
histograms — the sketch-free quantile shape that never sorts an
SF-grown window partition in one task.

A per-group rank selection spelled as ``row_number() OVER (PARTITION BY
g ORDER BY v)`` caps sort parallelism at the number of groups: with 3
return flags, one task sorts a third of the fact table at any scale
(the committed sf1 soaks show 3.7–7.2× wall for 10× data on exactly
this shape, vs 0.7× for the bucketed twin). The scalable plan — a
bucketed-histogram median selection, generalized here per group and
per target rank — is:

1. collapse the fact table ONCE to the (group, value) → count
   histogram (one partial-agg shuffle; output grain is the VALUE
   DOMAIN, bounded, not the row count);
2. roll the histogram up to coarse buckets (caller-chosen width), take
   per-group cumulative counts over that tiny table, and locate, for
   every requested (group, rank) target, the single bucket containing
   it;
3. re-read only the selected buckets' histogram rows (a broadcast
   semi-join) and select the exact value by cumulative count WITHIN
   the bucket — a window over ≤ bucket-width distinct values.

No window anywhere touches a row-count-sized or group-sized input; the
data-sized movements are the histogram shuffle only.

Reference parity: the reference's quantile/median selections sort
in-process (single-node); this is the SURVEY §6 partitioning-discipline
re-expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def grouped_order_statistics(
    hist: DataFrame,
    group_cols: list[str],
    value_col: str,
    count_col: str,
    targets: DataFrame,
    bucket_expr: Column,
) -> DataFrame:
    """Select, per group, the value at each requested 1-based rank of
    the group's sorted values, from a pre-aggregated histogram.

    ``hist``: (group_cols…, value_col, count_col) — one row per
    distinct (group, value), count ≥ 1. ``targets``: (group_cols…,
    ``tgt_id`` string, ``tgt_rank`` long) — tiny (O(groups × targets));
    every tgt_rank must be in [1, group row count]. ``bucket_expr``: a
    monotone non-decreasing coarsening of ``value_col`` (e.g.
    ``F.floor(F.col(v) / 1000)``) whose per-group bucket count AND
    per-bucket distinct-value count are both bounded constants.

    Returns (group_cols…, tgt_id, tgt_rank, value_col) — the value at
    that rank, exactly as a full per-group sort would select it."""
    h = hist.withColumn("_b", bucket_expr)
    coarse = h.groupBy(*group_cols, "_b").agg(F.sum(count_col).alias("_cb"))
    # bounded grain: per-group coarse-bucket census
    w_b = (
        Window.partitionBy(*group_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = coarse.select(
        *group_cols,
        "_b",
        "_cb",
        F.coalesce(F.sum("_cb").over(w_b), F.lit(0)).alias("_cum0"),
    )
    sel = (
        cum.join(F.broadcast(targets), list(group_cols))
        .filter(
            (F.col("_cum0") < F.col("tgt_rank"))
            & (F.col("tgt_rank") <= F.col("_cum0") + F.col("_cb"))
        )
        .select(*group_cols, "tgt_id", "tgt_rank", "_b", "_cum0")
    )
    sel_r = sel.select(
        *[F.col(c).alias(f"_g_{c}") for c in group_cols],
        "tgt_id",
        "tgt_rank",
        F.col("_b").alias("_bsel"),
        "_cum0",
    )
    cond = [h[c] == sel_r[f"_g_{c}"] for c in group_cols]
    cond.append(h["_b"] == sel_r["_bsel"])
    fine = h.join(F.broadcast(sel_r), cond)
    # bounded grain: distinct values inside ONE selected bucket
    w_f = (
        Window.partitionBy(*group_cols, "tgt_id")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = fine.select(
        *group_cols,
        "tgt_id",
        "tgt_rank",
        value_col,
        (F.col("_cum0") + F.sum(count_col).over(w_f)).alias("_cum"),
    )
    return (
        picked.filter(F.col("_cum") >= F.col("tgt_rank"))
        .groupBy(*group_cols, "tgt_id")
        .agg(
            F.min(value_col).alias(value_col),
            F.min("tgt_rank").alias("tgt_rank"),
        )
        .select(*group_cols, "tgt_id", "tgt_rank", value_col)
    )
