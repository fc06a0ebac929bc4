"""REGISTRY.md drift check: every live registry query must appear in
the generated index (and no ghost rows may linger), so a forgotten
`tools/gen_registry.py` after adding/removing a query fails. README.md
and the golden pins of `plans/_golden.py` are held to the same live
registry."""

from __future__ import annotations

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_readme_covers_every_registry_query():
    """README coverage-map drift check (the r5/r6 rot class): every
    live registry query must be mentioned by name somewhere in
    README.md, and no query-count claim in the prose may disagree with
    the live registry size."""
    from bigdata_spark.plans import all_queries

    with open(os.path.join(ROOT, "README.md")) as f:
        text = f.read()
    live = set(all_queries())
    ticked = set(re.findall(r"`([a-z0-9_]+)`", text))
    missing = sorted(live - ticked)
    assert not missing, (
        f"README.md coverage map is missing registry queries: {missing}; "
        "add a coverage-map row for each"
    )
    claims = re.findall(r"(\d+)-query registry", text) + re.findall(
        r"registry \((\d+) queries", text
    )
    for claim in claims:
        assert int(claim) == len(live), (
            f"README.md claims a {claim}-query registry but the live "
            f"registry has {len(live)} — update the stale count"
        )


def _exists(path: str) -> bool:
    return any(os.path.exists(os.path.join(ROOT, base, path)) for base in ("", "bigdata_spark"))


def test_readme_names_no_retired_code():
    """No ghost entries: every path in README's layout and every
    backticked file path exists, and every coverage-map row that names
    code names a live registry query or an existing file, so a row for
    a retired query or module fails."""
    from bigdata_spark.plans import all_queries

    with open(os.path.join(ROOT, "README.md")) as f:
        text = f.read()
    live = set(all_queries())
    layout = re.search(r"## Layout\n\n```\n(.*?)```", text, flags=re.S).group(1)
    paths = re.findall(r"^ {0,2}(\S+(?:/|\.py))(?:\s|$)", layout, flags=re.M)
    prose = re.sub(r"```.*?```", "", text, flags=re.S)
    paths += [t for t in re.findall(r"`([^`\n]+)`", prose) if re.fullmatch(r"[\w.]+(?:/[\w.]*)+|\w+\.py", t)]
    missing = sorted({p for p in paths if not _exists(p)})
    assert not missing, f"README.md names paths that do not exist: {missing}"
    ghost = [
        row
        for row in re.findall(r"^\|.*\|$", prose, flags=re.M)
        if (names := re.findall(r"`([^`]+)`", row)) and not any(n in live or _exists(n) for n in names)
    ]
    assert not ghost, f"README.md coverage-map rows name no live query or file: {ghost}"


def test_registry_md_matches_live_registry():
    from bigdata_spark.plans import all_queries

    path = os.path.join(ROOT, "REGISTRY.md")
    assert os.path.exists(path), "run: python tools/gen_registry.py"
    with open(path) as f:
        text = f.read()
    documented = set(re.findall(r"^\| (\w+) \| `", text, flags=re.M))
    live = set(all_queries())
    missing = sorted(live - documented)
    ghost = sorted(documented - live)
    assert not missing and not ghost, (
        f"REGISTRY.md drift — missing: {missing} ghost: {ghost}; "
        "run: python tools/gen_registry.py"
    )


def test_every_golden_pin_names_a_live_query():
    from bigdata_spark.plans import all_queries
    from bigdata_spark.plans._golden import GOLDEN

    stale = sorted(set(GOLDEN) - set(all_queries()))
    assert not stale, f"_golden.py pins with no registry query: {stale}; run: python tools/pin_golden.py"
