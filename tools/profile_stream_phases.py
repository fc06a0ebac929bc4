"""Phase breakdown probe for the streaming registry queries.

Times the sub-phases of evt_stream_checkpoint_recovery-shaped queries
(staging write vs stream run(s) vs final read) by re-implementing the
query body with timers. Development probe only — results guide where
optimization effort goes (guide §1.1); the benchmark is perfbench/
(see perfbench/README.md).

Usage: python tools/profile_stream_phases.py <sf_dir>
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from bigdata_spark.plans.events import (
        _ETS_DELAY,
        _ETS_GAP_US,
        _stage_chronological_stream,
        _stage_quarter_files,
        _stream_state_partitions,
    )
    from bigdata_spark.session import get_spark
    from bigdata_spark.sources.catalog import load_table
    from bigdata_spark.streaming.stateful import event_time_sessionize

    spark = get_spark(
        "profile_stream", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def t(label, fn):
        t0 = time.time()
        out = fn()
        print(f"  {label}: {time.time() - t0:.3f}s", flush=True)
        return out

    for rep in range(2):
        print(f"== evt_stream_checkpoint_recovery phases (pass {rep}) ==")
        e = load_table(spark, sf_dir, "events").select(
            "user_id",
            "ts",
            F.expr(
                "CAST(FLOOR(value * CAST(1000000 AS DOUBLE)"
                " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            ).alias("vm"),
        )
        scratch = tempfile.mkdtemp(prefix="bigdata_spark_pckpt_")
        indir = os.path.join(scratch, "in")
        ckpt = os.path.join(scratch, "ckpt")
        outdir = os.path.join(scratch, "out")
        os.makedirs(indir, exist_ok=True)

        def run_until_drained():
            stream = (
                spark.readStream.schema(e.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(indir)
                .withColumn("ts", F.col("ts").cast("timestamp"))
            )
            out = event_time_sessionize(
                stream.withWatermark("ts", _ETS_DELAY),
                "user_id",
                "ts",
                "vm",
                gap_us=_ETS_GAP_US,
            )
            q = (
                out.writeStream.foreachBatch(
                    lambda b, _i: b.write.mode("append").parquet(outdir)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)

        try:
            groups = t(
                "stage_quarter_files",
                lambda: _stage_quarter_files(spark, e, scratch, n_parts=2),
            )
            with _stream_state_partitions(spark, n=16):
                for j, src in enumerate(groups[0]):
                    shutil.copy(src, os.path.join(indir, f"00_{j}.parquet"))
                t("run1 (1 file group)", run_until_drained)
                for j, src in enumerate(groups[1]):
                    shutil.copy(src, os.path.join(indir, f"01_{j}.parquet"))
                t("run2 (restart from ckpt)", run_until_drained)
            out_schema = (
                "user_id bigint, start_us long, end_us long,"
                " n_events long, v_micros long"
            )
            t(
                "final read+checkpoint+noop",
                lambda: spark.read.schema(out_schema)
                .parquet(outdir)
                .localCheckpoint()
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)

        print(f"== evt_stream_outer_join phases (pass {rep}) ==")
        e2 = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        scratch2 = tempfile.mkdtemp(prefix="bigdata_spark_psoj_")
        try:
            with _stream_state_partitions(spark):
                stream = t(
                    "stage_chronological_stream (4 parts)",
                    lambda: _stage_chronological_stream(
                        spark, e2, scratch2, n_parts=4
                    ),
                )
                clicks = (
                    stream.filter(F.col("event_type") == "click")
                    .select(
                        F.col("event_id").alias("click_id"),
                        "user_id",
                        F.col("ts").alias("click_ts"),
                    )
                    .withWatermark("click_ts", "30 minutes")
                )
                purchases = (
                    stream.filter(F.col("event_type") == "purchase")
                    .select(
                        F.col("event_id").alias("purchase_id"),
                        F.col("user_id").alias("p_user_id"),
                        F.col("ts").alias("purchase_ts"),
                    )
                    .withWatermark("purchase_ts", "30 minutes")
                )
                joined = clicks.join(
                    purchases,
                    on=[
                        clicks.user_id == purchases.p_user_id,
                        purchases.purchase_ts >= clicks.click_ts,
                        purchases.purchase_ts
                        <= clicks.click_ts + F.expr("INTERVAL 30 MINUTES"),
                    ],
                    how="left_outer",
                ).select(
                    "click_id",
                    "user_id",
                    "purchase_id",
                    (
                        F.unix_timestamp("purchase_ts")
                        - F.unix_timestamp("click_ts")
                    ).alias("gap_s"),
                )

                def run_stream():
                    import uuid

                    qname = "p_soj_" + uuid.uuid4().hex[:8]
                    q = (
                        joined.writeStream.format("memory")
                        .queryName(qname)
                        .outputMode("append")
                        .trigger(availableNow=True)
                        .start()
                    )
                    q.awaitTermination(300)
                    return qname

                qname = t("stream run (5 batches)", run_stream)
            t(
                "final table+checkpoint+noop",
                lambda: spark.table(qname)
                .localCheckpoint()
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )
        finally:
            shutil.rmtree(scratch2, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
