"""Generate REGISTRY.md — the navigable index of every registry query:
name → implementation (module:line) → oracle type.

Run after adding or removing queries:
    python tools/gen_registry.py
A pytest (tests/test_registry_doc.py) drift-checks the NAME column
against the live registry, so a query can't land without reappearing
here.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def build_lines() -> list[str]:
    from bigdata_spark.plans import all_queries

    registry = all_queries()
    lines = [
        "# Query registry",
        "",
        f"{len(registry)} queries; every row with a `value` oracle is",
        "hash-compared against DuckDB by the correctness gate",
        "(`tools/check_oracles.py`).",
        "",
        "GENERATED by `tools/gen_registry.py` — do not edit by hand.",
        "",
        "| query | implementation | oracle |",
        "|---|---|---|",
    ]
    for name in sorted(registry):
        fn, sql = registry[name]
        code = fn.__code__
        rel = os.path.relpath(code.co_filename, ROOT)
        oracle = "value" if sql else "rows-only"
        lines.append(f"| {name} | `{rel}:{code.co_firstlineno}` | {oracle} |")
    lines.append("")
    return lines


def main() -> None:
    out = os.path.join(ROOT, "REGISTRY.md")
    with open(out, "w") as f:
        f.write("\n".join(build_lines()))
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
