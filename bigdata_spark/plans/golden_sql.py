"""Render pinned-literal DuckDB oracles for deterministic queries whose
computation is not SQL-expressible (seeded iterative training, DP
distances) but whose OUTPUT is a pure function of the input data.

Round 2 left five queries "rows-only" in the driver's correctness gate.
They are seeded and (after the content-hash determinism pass) layout-
independent, so their exact outputs can be pinned as VALUES literals —
turning the weak rows-only check into a full row/schema/value-hash
gate row. The literals live in ``_golden.py`` (regenerated by
``tools/pin_golden.py``); this module turns them into SQL.

Bit-exactness: the driver hashes pandas frames bit-exactly, so double
literals are rendered as ``CAST('<repr>' AS DOUBLE)`` — Python ``repr``
emits the shortest round-trip string and DuckDB's string→double parse
is correctly rounded, giving the identical IEEE bits. A bare decimal
literal would go through DECIMAL and may land one ulp off.
"""

from __future__ import annotations

from ._golden import GOLDEN

# Per-SF discriminator: cheap, collision-free across the three shipped
# scale factors, computable by DuckDB on the raw parquet.
_KEY_SQL = "SELECT CAST(sum(vec_id*label) AS BIGINT) AS key FROM embeddings"


def _lit(v, typ: str) -> str:
    if typ == "double":
        return f"CAST('{v!r}' AS DOUBLE)"
    if typ == "bigint":
        return f"CAST({int(v)} AS BIGINT)"
    if typ == "boolean":
        return "TRUE" if v else "FALSE"
    raise ValueError(f"unknown literal type {typ}")


def _values(rows, types) -> str:
    rendered = ", ".join(
        "(" + ", ".join(_lit(v, t) for v, t in zip(row, types)) + ")" for row in rows
    )
    return rendered


_UNPINNED = "SELECT NULL WHERE FALSE  -- not pinned yet: run tools/pin_golden.py"


def keyed_values_oracle(name: str, schema: list[tuple[str, str]]) -> str:
    """Per-SF oracle: pick the literal rows whose discriminator matches
    the embeddings table the driver mounted. An unknown SF yields zero
    rows — a loud rowcount mismatch, never a silent pass."""
    if name not in GOLDEN:  # bootstrap: query exists, literals not yet pinned
        return _UNPINNED
    by_key = GOLDEN[name]
    cols = ", ".join(c for c, _ in schema)
    types = ["bigint"] + [t for _, t in schema]
    rows = [(key, *row) for key, rws in sorted(by_key.items()) for row in rws]
    return (
        f"WITH _k AS ({_KEY_SQL}), "
        f"_g(key, {cols}) AS (SELECT * FROM (VALUES {_values(rows, types)})) "
        f"SELECT {cols} FROM _g JOIN _k ON _g.key = _k.key"
    )
