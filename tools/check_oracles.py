"""Local mirror of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark AND its oracle_sql() on DuckDB
over the same sf dir, compare row count + schema (column names) +
order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _norm_val(v):
    """Tag each cell with a type class so int vs float of equal value do
    NOT compare equal — the driver hashes pandas frames bit-exactly, so
    DuckDB HUGEINT sums landing as float64 must mismatch Spark int64."""
    import datetime as _dt

    import numpy as np

    if v is None or v is pd_NA() or (isinstance(v, float) and math.isnan(v)):
        return ("n", "")
    if isinstance(v, (bool, np.bool_)):
        return ("b", str(bool(v)))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if v == 0:
            return ("f", "0.0")
        return ("f", f"{v:.12g}")
    if isinstance(v, (int, np.integer)):
        return ("i", str(int(v)))
    if isinstance(v, decimal.Decimal):
        return ("d", str(v.normalize()))
    if isinstance(v, _dt.datetime):
        return ("t", v.isoformat())
    if isinstance(v, _dt.date):
        return ("t", _dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        if isinstance(v, dict):
            return ("a", tuple(sorted((k, _norm_val(x)) for k, x in v.items())))
        return ("a", tuple(_norm_val(x) for x in v))
    return ("s", str(v))


def pd_NA():
    import pandas as pd

    return pd.NA


def normalize(df) -> list[tuple]:
    """Canonicalize a pandas DataFrame the way the driver does: sort
    columns by name, normalize cells dtype-faithfully, sort rows."""
    import pandas as pd

    df = df[sorted(df.columns)]
    cols = []
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            cols.append([("n", "") if pd.isna(v) else ("t", v.isoformat()) for v in s])
        else:
            cols.append([_norm_val(v) for v in s])
    return sorted(zip(*cols)) if cols else []


def has_array_output(df) -> bool:
    """The driver's pandas canonicalizer crashes on list-typed cells
    (unhashable type: 'list'); oracle-bearing queries must not emit
    raw array columns — wrap them in to_json instead."""
    import numpy as np

    for c in df.columns:
        if df[c].dtype == object:
            # sample the first 50 NON-NULL values — a null-heavy column
            # whose first 50 cells are None could hide later list cells
            for v in df[c].dropna().head(50):
                if isinstance(v, (list, tuple, dict, np.ndarray)):
                    return True
    return False


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from bigdata_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"ERROR: unknown query name(s): {sorted(unknown)}", flush=True)
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            spd = sdf.toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(exc).__name__}: {exc}")
            continue
        if name not in oracles:
            print(f"ok(rows-only) {name}: {len(spd)} rows  [{time.time()-t0:.1f}s]")
            continue
        try:
            dpd = con.execute(oracles[name]).fetchdf()
            dcols = list(dpd.columns)
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(exc).__name__}: {exc}")
            continue
        problems = []
        if has_array_output(spd):
            problems.append("array-typed output column (driver canonicalizer can't hash it; wrap in to_json)")
        if len(spd) != len(dpd):
            problems.append(f"rowcount spark={len(spd)} duck={len(dpd)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            ns, nd = normalize(spd), normalize(dpd)
            if ns != nd:
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"ok {name}: {len(spd)} rows match  [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
