"""A/B a set of session-conf overrides over a fixed query subset.

Usage:
    python tools/ab_conf.py <sf_dir> <query,query,...> '<json-conf>'

Runs each query 3x with a noop sink in ONE fresh
session built with the given conf overrides on top of the engine
defaults, and prints per-query minima plus the subset total. Run once
per conf in separate processes so JVM/session state never leaks
between variants.

Development probe only — the benchmark is perfbench/ (see
perfbench/README.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1]
    names = [q for q in sys.argv[2].split(",") if q]
    conf = json.loads(sys.argv[3]) if len(sys.argv) > 3 else {}

    from bigdata_spark.plans import all_queries
    from bigdata_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false", **conf}
    spark = get_spark("ab_conf", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    total = 0.0
    out = {}
    for name in names:
        fn, _sql = registry[name]
        ts = []
        for _ in range(3):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
        out[name] = min(ts)
        total += min(ts)
    print(json.dumps({"conf": conf, "total": round(total, 2), "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
