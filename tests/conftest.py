from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, ROOT)
# Python workers inherit PYTHONPATH, not the driver's sys.path: without
# the root on it they cannot import bigdata_spark unless pytest starts
# from the repo root.
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


@pytest.fixture(scope="session")
def spark():
    from bigdata_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
