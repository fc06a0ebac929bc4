"""Regenerate ``bigdata_spark/plans/_golden.py`` — the pinned literal
outputs for the seeded/deterministic queries whose computation is not
SQL-expressible (iterative tree training, DP distances).

The queries are pure functions of the input data (content-hash splits,
sorted driver collects, seeded numpy), so their outputs are stable
across sessions, cluster layouts, and retries — which is what makes a
literal-value oracle legitimate. Each pin is keyed by a cheap per-SF
discriminator (``sum(vec_id*label)``) so ONE oracle string serves every
scale factor.

Run after any change that alters these outputs (new seed, new split
recipe): python tools/pin_golden.py && git diff
"""

from __future__ import annotations

import os
import pprint
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bigdata_spark.session import get_spark

SFS = ("0.001", "0.01", "0.1")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bigdata_spark",
    "plans",
    "_golden.py",
)

HEADER = '''"""GENERATED by tools/pin_golden.py — do not edit by hand.

Pinned literal outputs for the deterministic non-SQL-expressible
queries (seeded ML fits, DTW distances). Keys of the per-SF dicts are
the DuckDB discriminator ``CAST(sum(vec_id*label) AS BIGINT)`` over
the embeddings table, so the rendered oracle (plans/golden_sql.py)
picks the right literal rows for whatever scale factor the driver
runs."""

GOLDEN = '''


def main() -> None:
    from bigdata_spark.plans.classifierq import (
        ml_dtw_distances,
        ml_global_tree,
        ml_local_forest,
    )

    spark = get_spark("pin_golden", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    per_sf = {
        "ml_global_tree": ml_global_tree,
        "ml_local_forest": ml_local_forest,
        "ml_dtw_distances": ml_dtw_distances,
    }
    out: dict[str, object] = {}
    for name, fn in per_sf.items():
        by_key = {}
        for sf in SFS:
            sf_dir = f"/root/testdata/sf{sf}"
            key = duckdb.sql(
                f"SELECT CAST(sum(vec_id*label) AS BIGINT) FROM '{sf_dir}/embeddings.parquet'"
            ).fetchone()[0]
            rows = sorted(tuple(r) for r in fn(spark, sf_dir).collect())
            by_key[int(key)] = rows
        out[name] = by_key

    with open(OUT, "w") as f:
        f.write(HEADER)
        f.write(pprint.pformat(out, width=96))
        f.write("\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
