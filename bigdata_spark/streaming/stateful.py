"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.9 — the reference has no streaming; this is the
training-pipeline surface's "custom stateful operator" slot).

State lives per group key in Spark's state store, survives across
micro-batches, and is bounded by key cardinality — the scalable
pattern for ingest-time dedup at 100 TB stream volume."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_dedup(
    stream_df: DataFrame,
    key_col: str = "content_key",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming exact dedup: the ingest-time guard a training-data
    pipeline runs so a document is admitted once across the whole
    stream history. Emits one row per content key carrying the current
    canonical keeper — the MINIMUM id seen so far — and a duplicate
    counter, both in GroupState.

    Min-id (rather than literal arrival order) makes the keeper
    order-independent: the same corpus produces the same keeper set no
    matter how files split into micro-batches, so results are
    reproducible under reprocessing and comparable to the batch
    aggregate (MIN(id), COUNT(*)-1 per key).

    Spark's built-in ``dropDuplicates`` + watermark covers the
    bounded-lateness case; this custom operator keeps unbounded state
    (bounded by DISTINCT key cardinality, the same asymptotics as the
    batch dedup's groupBy) and exposes the drop count as observability
    output.

    Output: (key string, kept_id long, dups_dropped long) in update
    mode — the latest row per key carries the current state."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        batch_n = 0
        batch_min_id = None
        for pdf in pdfs:
            batch_n += len(pdf)
            if len(pdf):
                m = int(pdf[id_col].min())
                batch_min_id = m if batch_min_id is None else min(batch_min_id, m)
        if batch_min_id is None:
            return
        if state.exists:
            kept_id, dups = state.get
            kept_id = min(kept_id, batch_min_id)
            dups += batch_n
        else:
            kept_id, dups = batch_min_id, batch_n - 1
        state.update((kept_id, dups))
        yield pd.DataFrame(
            [{"key": key[0], "kept_id": kept_id, "dups_dropped": dups}]
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="key string, kept_id long, dups_dropped long",
        stateStructType="kept_id long, dups_dropped long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

