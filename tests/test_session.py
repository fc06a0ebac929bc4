"""Session-factory cluster parity (reference controller_loop.py:62-107):
master resolution and code shipping. Pure-logic paths are tested
without a new SparkSession (getOrCreate would reuse the shared one);
ship_package runs against the real session — addPyFile works in local
mode too."""

from __future__ import annotations

import zipfile

from bigdata_spark.session import _resolve_master, ship_package


def test_explicit_master_wins():
    assert _resolve_master("spark://h:7077", {"DATABRICKS_RUNTIME_VERSION": "14.3"}) == "spark://h:7077"


def test_managed_runtime_not_overridden():
    assert _resolve_master(None, {"DATABRICKS_RUNTIME_VERSION": "14.3"}) is None
    assert _resolve_master(None, {"SPARK_MASTER": "yarn"}) is None


def test_local_default_sized_by_cpus():
    assert _resolve_master(None, {"SPARK_GRAFT_CPUS": "8"}) == "local[8]"
    assert _resolve_master(None, {}) == "local[32]"


def test_ship_package_zips_importable_tree(spark):
    path = ship_package(spark)
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
    assert "bigdata_spark/__init__.py" in names
    assert "bigdata_spark/session.py" in names
    # subpackages ride along (executors need the whole import tree)
    assert any(n.startswith("bigdata_spark/ml/") for n in names)
    assert any(n.startswith("bigdata_spark/plans/") for n in names)
