"""The 22 TPC-H plans and the paper's eight classifier checks against
their DuckDB oracles, and the registry entries the benchmark relies on.

The TPC-H corpus is the benchmark's own generator,
``perfbench/tpch_gen.write_corpus(dir, 0.01, seed)``. At sf0.001 six
of the queries return no rows, so the test runs at sf0.01, where every
query must return rows except those in ``EMPTY``. The classifier checks
run on the catalog's test data at sf0.001, the scale their golden pins
cover that runs fastest.

Spark and DuckDB results are compared the way ``tools/check_oracles.py``
compares them: same column names, then order-free, type-tagged rows.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from bigdata_spark.plans import all_queries, classifierq
from bigdata_spark.sources.catalog import DEFAULT_SF_DIR

ROOT = Path(__file__).resolve().parent.parent
TPCH = [f"tpch_q{i}" for i in range(1, 23)]
ML = list(classifierq.QUERIES)
SF0001 = str(Path(DEFAULT_SF_DIR).with_name("sf0.001"))
# The generator gives (almost) every customer an order, so Q22's NOT
# EXISTS keeps none; both engines agree on empty.
EMPTY = {"tpch_q22"}


def _load(name: str, path: Path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


normalize = _load("check_oracles", ROOT / "tools" / "check_oracles.py").normalize


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    import duckdb

    tpch_gen = _load("tpch_gen", ROOT / "perfbench" / "tpch_gen.py")
    sf_dir = str(tmp_path_factory.mktemp("tpch_sf0.01"))
    tpch_gen.write_corpus(sf_dir, 0.01, 21)
    con = duckdb.connect()
    for t in tpch_gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield sf_dir, con
    con.close()


def test_registry_holds_the_tpch_queries_and_the_ml_checks():
    registry = all_queries()
    assert set(TPCH + ML) <= set(registry)
    assert all(registry[name][1] is not None for name in TPCH + ML)


@pytest.mark.parametrize("name", TPCH)
def test_tpch_plan_matches_duckdb(spark, corpus, name):
    sf_dir, con = corpus
    fn, sql = all_queries()[name]
    got = fn(spark, sf_dir).toPandas()
    want = con.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want)
    assert len(got) > 0 or name in EMPTY
    assert normalize(got) == normalize(want)


@pytest.fixture(scope="module")
def testdata():
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF0001}/embeddings.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", ML)
def test_classifier_check_matches_its_oracle(spark, testdata, name):
    fn, sql = classifierq.QUERIES[name]
    got = fn(spark, SF0001).toPandas()
    want = testdata.execute(sql).fetchdf()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(got) == len(want) > 0
    assert normalize(got) == normalize(want)
