"""The checks of ``tools/explain_audit.py``, run as tests.

The source-level audits: every forced broadcast hint, every window
without ``partitionBy`` and every window partition key in the package
must match its reviewed allowlist exactly, with no stale entry; and
every plan assertion in ``AUDITS`` names a live registry query. They
read the source only; no Spark.

The plan audits: every ``AUDITS`` pattern must appear in the formatted
physical plan of its query over the catalog's sf0.01 test data, the
same check ``python tools/explain_audit.py <sf_dir>`` runs."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

from bigdata_spark.sources.catalog import DEFAULT_SF_DIR

ROOT = Path(__file__).resolve().parent.parent
SF001 = str(Path(DEFAULT_SF_DIR).with_name("sf0.01"))
_spec = importlib.util.spec_from_file_location("explain_audit", ROOT / "tools" / "explain_audit.py")
explain_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(explain_audit)


@pytest.mark.parametrize(
    "audit", ["audit_broadcast_hints", "audit_zero_partition_windows", "audit_window_partition_grains"]
)
def test_source_audit_matches_its_allowlist(audit, capsys):
    failures = getattr(explain_audit, audit)()
    assert failures == 0, capsys.readouterr().out


def test_every_plan_audit_names_a_live_query():
    from bigdata_spark.plans import all_queries

    stale = sorted(set(explain_audit.AUDITS) - set(all_queries()))
    assert not stale, f"AUDITS keys with no registry query: {stale}"


@pytest.mark.parametrize("name", list(explain_audit.AUDITS))
def test_plan_audit_holds(spark, name):
    assert explain_audit.plan_audit(spark, name, SF001) == []
