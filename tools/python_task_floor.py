"""Measure the fixed cost of a Python task.

Runs ``--jobs`` trivial ``mapInArrow`` jobs of 4 tasks each on
``local[4]``. Inside each task it times one ``importlib.invalidate_caches()``
call — the call PySpark's worker makes before every task — and prints
one JSON line: the median job wall time and the median in-task
invalidation time, in seconds. By default each task first installs
``bigdata_spark.worker.stat_checked_zipimport``, as the package's own
task bodies do; ``--no-helper`` measures PySpark's worker as it ships:

    python tools/python_task_floor.py --jobs 20
    python tools/python_task_floor.py --jobs 20 --no-helper
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=20)
    ap.add_argument("--no-helper", dest="helper", action="store_false",
                    help="do not install the stat-checked zipimport invalidation")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    # Python workers import the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    import pyarrow as pa

    from bigdata_spark.session import get_spark
    from bigdata_spark.worker import stat_checked_zipimport

    helper = args.helper

    def task(batches):
        import importlib

        if helper:
            stat_checked_zipimport()
        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        yield pa.record_batch([pa.array([time.perf_counter() - t0])], names=["invalidate_s"])

    spark = get_spark("python_task_floor", master="local[4]", shuffle_partitions=4)
    df = spark.range(0, 4, numPartitions=4)
    walls, invalidations = [], []
    for _ in range(args.jobs):
        t0 = time.perf_counter()
        rows = df.mapInArrow(task, "invalidate_s double").collect()
        walls.append(time.perf_counter() - t0)
        invalidations += [r["invalidate_s"] for r in rows]
    spark.stop()
    print(json.dumps({
        "helper": helper,
        "jobs": args.jobs,
        "job_s_p50": round(statistics.median(walls), 4),
        "invalidate_s_p50": round(statistics.median(invalidations), 5),
        "invalidate_s_max": round(max(invalidations), 5),
    }))


if __name__ == "__main__":
    main()
