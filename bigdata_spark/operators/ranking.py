"""Distributed global ranking — two-pass range-partitioned row_number.

A bare ``row_number().over(Window.orderBy(...))`` plans as
``Exchange SinglePartition`` + one task sorting the ENTIRE input: fine
on a 500-row domain table, fatal on a data-sized one. The scalable
shape is the classic two-pass rank every MPP engine uses:

1. ``repartitionByRange`` on the order key (sampled boundaries), sort
   and rank WITHIN each range partition (parallelism = #partitions);
2. aggregate the per-partition row counts — a #partitions-grain table —
   compute exclusive prefix offsets on that tiny table, and broadcast
   them back; global rank = local rank + partition offset.

The per-partition ranked pass is eagerly ``localCheckpoint``-ed so the
count pass and the output pass read the SAME materialized partitioning
(range boundaries come from sampling; recomputing the exchange twice
could re-sample).

Reference parity: the reference engine has no distributed ranker (its
sorts are single-node); this is the Spark-first scale shape required
by SURVEY.md §6's partitioning discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_rank(
    df: DataFrame,
    order_cols: list[str],
    rank_col: str = "r",
    num_partitions: int | None = None,
) -> DataFrame:
    """Total-order row_number over ``order_cols`` without a
    single-partition window. Returns ``df`` plus ``rank_col`` (1-based,
    dense in the row_number sense). The only data-sized movements are
    one range exchange and per-partition sorts; the offset table is
    #partitions-grain (bounded), hence broadcast.

    ``order_cols`` MUST be a total key for reproducible output: the
    range boundaries come from sampling, so with duplicate full keys
    the assignment of ranks among tied rows is valid but
    NON-DETERMINISTIC across reruns (a boundary may split the tie
    group differently). Callers that need hash-stable results append a
    unique tiebreaker, ending the key with a unique id column. (The
    pre-checkpoint lineage is nondeterministic for the same reason;
    the eager localCheckpoint pins ONE consistent permutation for both
    passes.)"""
    parts = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    w_local = Window.partitionBy("_pid").orderBy(*order_cols)
    ranked_local = (
        parts.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .localCheckpoint()
    )
    w_off = (
        Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranked_local.groupBy("_pid")
        .agg(F.count("*").alias("_c"))
        .select(
            "_pid",
            F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        ranked_local.join(F.broadcast(offsets), "_pid")
        .withColumn(rank_col, (F.col("_lr") + F.col("_off")).cast("long"))
        .drop("_pid", "_lr", "_off")
    )


def _join_null_safe(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """``left.join(right, keys)`` — inner, same output columns — with a
    null key matching a null key, as a window's PARTITION BY groups
    nulls together."""
    r = right.select(*[F.col(k).alias(f"_r_{k}") for k in keys], *[c for c in right.columns if c not in keys])
    rest = [c for c in left.columns if c not in keys] + [c for c in right.columns if c not in keys]
    joined = left.join(r, [left[k].eqNullSafe(r[f"_r_{k}"]) for k in keys])
    return joined.select(*[left[k] for k in keys], *rest)


def grouped_range_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    rank_col: str = "r",
    count_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-GROUP row_number over ``order_cols`` without sorting any
    SF-grown group in one task — the grouped twin of :func:`range_rank`
    for windows partitioned by a BOUNDED-cardinality key (return flags,
    brands, priorities), where ``Window.partitionBy(k)`` caps sort
    parallelism at the key cardinality while each partition grows with
    the data.

    Range-partition on the COMPOSITE key (group + order) so every task
    holds a contiguous slice of the global order — parallelism is
    #partitions, independent of group cardinality; rank locally within
    (partition, group); the per-(partition, group) count table has at
    most #partitions + #groups − 1 rows (each group spans a contiguous
    run of range partitions), so the per-group exclusive prefix offsets
    over it are a tiny window and the offsets broadcast back.

    ``group_cols + order_cols`` must be a total key (same contract and
    nondeterminism consequence as range_rank — append a unique
    tiebreaker). DESC dimensions: negate the column before calling.
    ``count_col``: optionally also attach the group's total row count
    (from the same tiny count table — no extra data pass).

    Reference parity: the reference ranks per label inside one process
    (preprocessing.py:73-76) — correct at 5,000 rows, a scale-killer
    re-expressed verbatim at 100 TB; this is the Spark-first shape."""
    keys = list(group_cols) + list(order_cols)
    parts = (
        df.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else df.repartitionByRange(*keys)
    )
    w_local = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    ranked_local = (
        parts.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lr", F.row_number().over(w_local))
        .localCheckpoint()
    )
    counts = ranked_local.groupBy("_pid", *group_cols).agg(F.count("*").alias("_c"))
    # offsets grain: ≤ #partitions + #groups − 1 rows (contiguity)
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid", *group_cols, F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    out = (
        _join_null_safe(ranked_local, F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(rank_col, (F.col("_lr") + F.col("_off")).cast("long"))
        .drop("_lr", "_off", "_pid")
    )
    if count_col is not None:
        totals = counts.groupBy(*group_cols).agg(F.sum("_c").cast("long").alias(count_col))
        out = _join_null_safe(out, F.broadcast(totals), list(group_cols))
    return out


def grouped_range_lead(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    lead_col: str,
    out_col: str = "lead",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group ``lead(lead_col, 1)`` over ``order_cols`` without
    sorting any SF-grown group in one task — the boundary-stitched twin
    of :func:`grouped_range_rank` for the lead/lag family.

    Range-partition on (group + order); lead locally within
    (partition, group); the ONLY rows whose lead crosses a partition
    boundary are the per-(partition, group) LAST rows, and their
    successor is the first row of the next range partition containing
    the same group. The per-(partition, group) first-row table is tiny
    (≤ #partitions + #groups − 1 rows, by range contiguity), so the
    stitch is a lead over that table per group in pid order, broadcast
    back. ``group_cols + order_cols`` must be a total key (range_rank
    contract). The last row of each group keeps a NULL lead."""
    keys = list(group_cols) + list(order_cols)
    parts = (
        df.repartitionByRange(num_partitions, *keys)
        if num_partitions
        else df.repartitionByRange(*keys)
    )
    w_local = Window.partitionBy("_pid", *group_cols).orderBy(*order_cols)
    staged = (
        parts.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lead", F.lead(lead_col).over(w_local))
        .localCheckpoint()
    )
    firsts = staged.groupBy("_pid", *group_cols).agg(
        F.min(F.struct(*order_cols, F.col(lead_col).alias("_v"))).alias("_f")
    )
    # stitch grain: ≤ #partitions + #groups − 1 rows (contiguity)
    w_next = Window.partitionBy(*group_cols).orderBy("_pid")
    nexts = firsts.select(
        "_pid", *group_cols, F.lead("_f._v").over(w_next).alias("_nv")
    )
    return (
        staged.join(F.broadcast(nexts), ["_pid", *group_cols])
        .withColumn(out_col, F.coalesce(F.col("_lead"), F.col("_nv")))
        .drop("_pid", "_lead", "_nv")
    )


def ntile_from_rank(rank_col: str, n_col: str, k: int):
    """ANSI NTILE(k) bucket as pure integer arithmetic on a 1-based
    total-order rank and the partition row count — the expression
    :func:`range_ntile` uses, exposed for callers that already have
    (rank, n) columns (e.g. from grouped_range_rank). With n rows the
    first n % k buckets take n div k + 1 rows, the rest n div k."""
    r, n = rank_col, n_col
    return F.expr(
        f"IF({r} <= ({n} % {k}) * ({n} div {k} + 1),"
        f" ({r} + {n} div {k}) div ({n} div {k} + 1),"
        f" {n} % {k} + ({r} - ({n} % {k}) * ({n} div {k} + 1)"
        f"  + greatest({n} div {k}, 1) - 1) div greatest({n} div {k}, 1))"
    )


def range_ntile(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """NTILE(k) over a global order WITHOUT a single-partition window —
    bit-identical to ``F.ntile(k).over(Window.orderBy(*order_cols))``
    (and ANSI NTILE) on a total key: with n rows, the first ``n % k``
    buckets take ``n div k + 1`` rows, the rest ``n div k``. The global
    rank comes from :func:`range_rank` (range exchange + broadcast
    offsets); the row count is a one-row aggregate broadcast back; the
    bucket index is pure integer arithmetic on (rank, n, k) — no
    Exchange SinglePartition anywhere. ``order_cols`` must be a total
    key (see range_rank) or bucket assignment of tied rows is
    nondeterministic. Descending dimensions: negate the column before
    calling (exact for integers)."""
    ranked = range_rank(df, order_cols, "_gr", num_partitions)
    tot = ranked.agg(F.count("*").alias("_n"))
    # q = n div k, rem = n mod k; rank r lands in bucket
    #   (r + q) div (q + 1)                      if r <= rem·(q+1)
    #   rem + ceil((r − rem·(q+1)) / q)          otherwise
    # (q = 0 ⇒ n < k ⇒ the first branch covers every row: bucket = r)
    bucket = ntile_from_rank("_gr", "_n", k)
    return (
        ranked.join(F.broadcast(tot))
        .withColumn(out_col, bucket.cast("int"))
        .drop("_gr", "_n")
    )


def range_cumsum(
    df: DataFrame,
    order_cols: list[str],
    sum_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running sum of ``sum_col`` in ``order_cols`` order (rows
    from the first row through the current one) without a
    single-partition window — the two-pass shape of range_rank with
    SUM in place of row_number: per-range-partition running sums, then
    broadcast exclusive prefix totals of the per-partition sums.
    ``order_cols`` must be a total key for a deterministic prefix (the
    sum type is whatever Spark's SUM yields on ``sum_col`` — exact for
    integer/decimal inputs)."""
    parts = (
        df.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else df.repartitionByRange(*order_cols)
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = (
        parts.withColumn("_pid", F.spark_partition_id())
        .withColumn("_lc", F.sum(sum_col).over(w_local))
        .localCheckpoint()
    )
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        local.groupBy("_pid")
        .agg(F.sum(sum_col).alias("_s"))
        .select(
            "_pid",
            F.coalesce(F.sum("_s").over(w_off), F.lit(0)).alias("_off"),
        )
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_lc") + F.col("_off"))
        .drop("_pid", "_lc", "_off")
    )
