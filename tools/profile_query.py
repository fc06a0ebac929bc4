"""Per-query profiling probe for optimization rounds.

Usage:
    python tools/profile_query.py <sf_dir> <query>[,<query>...] [--explain <dir> --tag before]

Times each named registry query with a noop sink (3 passes, min +
median reported) and optionally writes
``.explain('formatted')`` to ``<dir>/<query>_<tag>.txt``.

This is a development probe only — the benchmark is perfbench/ (see
perfbench/README.md).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1]
    names = [q for q in sys.argv[2].split(",") if q]
    explain_dir = None
    tag = "before"
    if "--explain" in sys.argv:
        explain_dir = sys.argv[sys.argv.index("--explain") + 1]
    if "--tag" in sys.argv:
        tag = sys.argv[sys.argv.index("--tag") + 1]

    from bigdata_spark.plans import all_queries
    from bigdata_spark.session import get_spark

    spark = get_spark(
        "profile", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    for name in names:
        fn, _sql = registry[name]
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            txt = spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(explain_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(txt)
            spark.catalog.clearCache()
        ts = []
        for _ in range(3):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        print(f"PROFILE {name}: min={min(ts)} all={ts}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
