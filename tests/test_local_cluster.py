"""Multi-JVM cluster parity: prove executor-side package shipping.

``local-cluster[2,2,2048]`` launches two REAL executor JVMs whose
Python workers do not share the driver's ``sys.path`` — exactly the
failure mode a production cluster has. ``get_spark`` must therefore
``ship_package`` (session.py) so applyInPandas closures that
``import bigdata_spark`` resolve from the shipped zip on every worker
(reference parity: controller_loop.py:62-69,93-107 ships its sources
with addPyFile the same way).

Runs in a SUBPROCESS: the pytest session already holds the shared
local[N] SparkContext, and one JVM can't host two masters. The
subprocess scrubs PYTHONPATH so an executor import can only succeed
via the shipped zip.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])  # the checkout under test, driver-side only
    from bigdata_spark.session import get_spark
    spark = get_spark("lc-parity", master="local-cluster[2,2,2048]",
                      shuffle_partitions=4)
    assert spark.conf.get("spark.master") == "local-cluster[2,2,2048]"
    # the applyInPandas trainer's closure imports bigdata_spark on the
    # executors — the canonical shipped-package consumer
    from bigdata_spark.plans.classifierq import ml_local_forest
    rows = ml_local_forest(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 0, "forest produced no rows on local-cluster"
    # a plain distributed closure too (no Arrow path)
    def probe(_):
        import bigdata_spark
        from bigdata_spark.ml import local_forest  # subpackage import
        yield os.path.basename(bigdata_spark.__file__)
    import os
    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert got == ["__init__.py"] * 4, got
    spark.stop()
    print("LC_PARITY_OK", len(rows))
    """
)


def test_local_cluster_ships_package_and_runs_forest(tmp_path):
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_MASTER")
    }
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, ROOT],
        cwd=str(tmp_path),  # not the repo: cwd must not satisfy the import
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr[-4000:]}"
    assert "LC_PARITY_OK" in proc.stdout
