"""Physical-plan audit: assert the scale-critical plan properties that
.explain() exposes — filter pushdown into the parquet scan, column
pruning (ReadSchema), broadcast joins for dim tables, and whole-stage
codegen coverage.

Usage: python tools/explain_audit.py [sf_dir]
Exit 1 if any assertion fails. This is the "is this the plan you'd
want at 100 TB" gate, complementing the value-correctness gate.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query → list of (description, regex that must appear in the formatted plan)
AUDITS: dict[str, list[tuple[str, str]]] = {
    "s1_scan_project": [
        ("filter pushed to parquet", r"PushedFilters: \[.*GreaterThanOrEqual\(l_discount"),
        ("schema pruned to 4 cols", r"ReadSchema: [^\n]*l_orderkey[^\n]*l_discount"),
        ("no extra columns read", r"ReadSchema: (?![^\n]*l_extendedprice)"),
    ],
    "tpch_q1": [
        ("shipdate filter pushed", r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate"),
        ("map-side partial aggregation before the shuffle", r"partial_sum"),
        ("exact decimal sums in the aggregate", r"partial_sum\(cast\(l_quantity#\d+ as decimal"),
        ("shipdate pruned after filter (not carried through agg)", r"\(3\) Project[^(]*Output \[6\]"),
    ],
    "tpch_q3": [
        ("mktsegment filter pushed", r"PushedFilters: \[.*EqualTo\(c_mktsegment,BUILDING\)"),
        ("broadcast join chosen", r"BroadcastHashJoin|BroadcastExchange"),
        ("lineitem date filter pushed", r"PushedFilters: \[.*GreaterThan\(l_shipdate"),
    ],
    "tpch_q5": [
        ("broadcast join for dims", r"BroadcastHashJoin"),
        ("region filter pushed", r"PushedFilters: \[.*EqualTo\(r_name,EUROPE\)"),
    ],
    "tpch_q6": [
        ("all filters pushed", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"),
        ("quantity filter pushed", r"LessThan\(l_quantity,24"),
    ],
    "j1_anti_join": [
        ("anti join strategy", r"LeftAnti"),
    ],
    "f2_minmax_normalize": [
        ("normalization constant-folded into projection", r"\(\(l_quantity#\d+ - [\d.]+\) / [\d.]+\)"),
        ("single codegen stage (scan→project fused)", r"codegen id : 1"),
        ("only needed columns read", r"ReadSchema: (?![^\n]*l_returnflag)"),
    ],
    "tpch_q7": [
        ("nation dims broadcast", r"BroadcastHashJoin"),
        ("returnflag-free scan pruned to join+agg columns", r"ReadSchema: (?![^\n]*l_returnflag)"),
    ],
    "tpch_q10": [
        ("returnflag filter pushed", r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)"),
        ("orderdate range pushed", r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate"),
        ("nation broadcast", r"BroadcastHashJoin"),
    ],
    "tpch_q18": [
        ("map-side partial quantity sum", r"partial_sum\(cast\(l_quantity"),
        ("having filter applied before the joins", r"sum_qty_dec#\d+ > 180"),
    ],
    # join strategy (broadcast vs sort-merge) is size-dependent and AQE
    # re-picks it at scale, so these assert shape + pruning, not strategy
    "tpch_q4": [
        ("EXISTS compiled to a semi join", r"LeftSemi"),
        ("orders date range pushed to scan", r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate,1996-07-01"),
        ("lineitem pruned to derivation inputs", r"ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_shipdate:timestamp"),
    ],
    "tpch_q9": [
        ("part name filter pushed to scan", r"PushedFilters: \[.*StringContains\(p_name,bolt\)"),
        ("lineitem scan drops l_tax/flags", r"ReadSchema: (?![^\n]*l_tax)[^\n]*l_extendedprice"),
        ("dims broadcast", r"BroadcastHashJoin"),
        ("map-side partial profit sum", r"partial_sum\(amount_e4"),
    ],
    "tpch_q12": [
        ("map-side partial CASE sums", r"partial_sum\(CASE WHEN o_orderpriority"),
        ("lineitem pruned to derivation inputs", r"ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_shipdate:timestamp"),
    ],
    "tpch_q13": [
        ("comment filter join stays outer", r"LeftOuter"),
        ("map-side partial per-customer count", r"partial_count\(o_orderkey"),
        ("customer scan pruned to key", r"ReadSchema: struct<c_custkey:bigint>"),
    ],
    "tpch_q21": [
        ("nation filter pushed to scan", r"PushedFilters: \[.*EqualTo\(n_name,NATION_3\)"),
        ("order status pushed to scan", r"PushedFilters: \[.*EqualTo\(o_orderstatus,F\)"),
        ("one-pass two-distinct census", r"partial_count\(l_suppkey[^\n]*FILTER"),
        ("supplier/nation broadcast", r"BroadcastExchange"),
    ],
    "tpch_q22": [
        ("NOT EXISTS compiled to anti join", r"LeftAnti"),
        ("positive-balance filter pushed", r"PushedFilters: \[.*GreaterThan\(c_acctbal,0\.0\)"),
        ("exact decimal balance sums", r"partial_sum\(cast\(c_acctbal[^\n]*decimal"),
    ],
    "tpch_q8": [
        ("every dim side broadcast (7-way star, facts never re-shuffle for dims)", r"BroadcastHashJoin"),
        ("part type filter pushed", r"PushedFilters: \[.*EqualTo\(p_type,ECONOMY\)"),
        ("orderdate range pushed", r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate"),
    ],
    "tpch_q17": [
        ("per-part avg table broadcast back to the fact", r"BroadcastHashJoin"),
        ("brand filter pushed", r"PushedFilters: \[.*EqualTo\(p_brand,Brand#3\)"),
        ("map-side partial avg components", r"partial_sum"),
    ],
    "tpch_q19": [
        ("OR-of-ANDs: part conjuncts prune the broadcast build", r"PushedFilters: \[Or\(|Filter[^\n]*p_brand"),
        ("quantity disjuncts reach the lineitem side", r"l_quantity"),
    ],
}


# --- source-level hint audit ------------------------------------------------
# A forced F.broadcast() on a table whose cardinality grows with the
# data (part/supplier/customer dims, node degrees, vocabulary, doc
# pairs, fact subsets) OOMs executors at 100 TB no matter what the
# sf0.01 plan looks like — and at sf0.01 Catalyst legitimately
# broadcasts small tables on its own, so the physical plan cannot
# distinguish "forced" from "chosen". Policy (round 9): hints are
# FORCED only on bounded-grain tables — constant dims (nation=25,
# region=5), literal grids, one-row or group-count-bounded aggregates,
# capped query sides, bounded value-domain tables. Every SF-grown side
# (TPC-H part/supplier, per-node degree tables, per-item counts,
# vocabulary frequencies, customer dims, filtered fact subsets) had
# its hint REMOVED and joins by stats/AQE, which still picks broadcast
# at bench scale and switches to shuffle when the side outgrows the
# threshold. This audit pins the policy at the SOURCE level: every
# F.broadcast(<name>) in the plans package must appear below as
# (file, function, name); a new hint fails until its grain is reviewed.
BROADCAST_HINT_ALLOWLIST = {
    ("classifierq.py", "nearest_exemplar", "ex"),
    ("relational.py", "tpch_q5", "load_table"),
    ("tpch_ext.py", "tpch_q11", "n"),
    ("tpch_ext.py", "tpch_q11", "total"),
    ("tpch_ext.py", "tpch_q15", "mx"),
    ("tpch_ext.py", "tpch_q2", "n"),
    ("tpch_ext.py", "tpch_q2", "r"),
    ("tpch_ext.py", "tpch_q20", "n"),
    ("tpch_ext.py", "tpch_q8", "n1"),
    ("tpch_ext.py", "tpch_q8", "n2"),
    ("tpch_ext.py", "tpch_q8", "r"),
    ("tpch_full.py", "tpch_q10", "n"),
    ("tpch_full.py", "tpch_q21", "n"),
    ("tpch_full.py", "tpch_q22", "avg_bal"),
    ("tpch_full.py", "tpch_q7", "cust_n"),
    ("tpch_full.py", "tpch_q7", "supp_n"),
    ("tpch_full.py", "tpch_q9", "n"),
}


def audit_broadcast_hints() -> int:
    import pathlib

    plans = pathlib.Path(__file__).resolve().parent.parent.joinpath(
        "bigdata_spark/plans"
    )
    sites = []
    for f in sorted(plans.glob("*.py")):
        src = f.read_text()
        lines = src.splitlines()
        curdef = None
        for ln in lines:
            m = re.match(r"def (\w+)", ln)
            if m:
                curdef = m.group(1)
            for mm in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z_0-9]*)", ln):
                sites.append((f.name, curdef, mm.group(1)))
        for mm in re.finditer(r"F\.broadcast\(\n\s*([A-Za-z_][A-Za-z_0-9]*)", src):
            ln_no = src[: mm.start()].count("\n")
            d = None
            for i in range(ln_no, -1, -1):
                m = re.match(r"def (\w+)", lines[i])
                if m:
                    d = m.group(1)
                    break
            sites.append((f.name, d, mm.group(1)))
    bad = sorted(set(sites) - BROADCAST_HINT_ALLOWLIST)
    # the allowlist must mirror the live sites EXACTLY: a stale entry
    # lets a future forced broadcast sneak back in under a previously
    # reviewed (file, function, varname) triple with no re-review
    stale = sorted(BROADCAST_HINT_ALLOWLIST - set(sites))
    failures = 0
    if bad:
        failures += len(bad)
        for fname, fn, nm in bad:
            print(
                f"FAIL {fname}:{fn}: broadcast hint on {nm!r} not in the"
                " reviewed bounded-grain allowlist (forced broadcasts on"
                " SF-grown tables OOM at 100 TB — review the grain, then"
                " allowlist or drop the hint)"
            )
    if stale:
        failures += len(stale)
        for fname, fn, nm in stale:
            print(
                f"FAIL {fname}:{fn}: allowlist entry {nm!r} no longer has a"
                " matching F.broadcast site — remove the stale entry so the"
                " allowlist stays an exact mirror of reviewed sites"
            )
    if failures:
        return failures
    print(
        f"ok   broadcast hints: {len(sites)} sites package-wide, all on"
        " reviewed bounded-grain tables, allowlist exact"
    )
    return 0


# --- zero-partition window audit -------------------------------------------
# ANY window spec without a partitionBy — ``Window.partitionBy()``,
# ``Window.orderBy(...)``, ``Window.orderBy(...).rowsBetween(...)`` —
# plans as Exchange SinglePartition: the whole window input funnels
# through ONE task. That is fine over a BOUNDED grain (score bands,
# contingency cells, a 16-shard census) and fatal over anything that
# grows with the data. The audit is an AST scan of the entire package
# (not a literal-string match — round 9's literal scan missed every
# ``Window.orderBy`` spelling), so every construction site of a
# no-partitionBy WindowSpec must be registered here with its reviewed
# grain; a new site fails until its input grain is reviewed. The
# package has no such site left, so the allowlist is empty: over an
# input that grows with the data, rank with grouped_range_rank or fold
# the windowed value as agg + crossJoin(broadcast) instead.
ZERO_PARTITION_WINDOW_ALLOWLIST: set[tuple[str, str]] = set()


def _no_partition_window_sites(root) -> list[tuple[str, str]]:
    """AST scan: every construction site of a WindowSpec whose builder
    chain starts at ``Window`` and never calls ``partitionBy`` with at
    least one argument. Returns (file, enclosing function) pairs."""
    import ast
    import pathlib

    sites: list[tuple[str, str]] = []
    for f in sorted(pathlib.Path(root).rglob("*.py")):
        tree = ast.parse(f.read_text())
        # map every node to its enclosing top-level function name
        parents: dict[int, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for child in ast.walk(node):
                    parents.setdefault(id(child), node.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            # unwind the method chain: Window.a(...).b(...).c(...)
            cur, chain = node, []
            while isinstance(cur, ast.Call) and isinstance(
                cur.func, ast.Attribute
            ):
                chain.append((cur.func.attr, len(cur.args) + len(cur.keywords)))
                cur = cur.func.value
            if not (isinstance(cur, ast.Name) and cur.id == "Window"):
                continue
            if any(m == "partitionBy" and n > 0 for m, n in chain):
                continue
            # only count the OUTERMOST call of each chain: an inner
            # Call re-visited by ast.walk reports the same site
            sites.append(
                (f.name, parents.get(id(node), "<module>"), node.lineno)
            )
    # a chain's inner calls share the file+function; dedup on the
    # outermost line only (inner calls have distinct linenos but the
    # same root — collapse per (file, fn) below at compare time)
    return sorted({(fname, fn) for fname, fn, _ in sites})


def audit_zero_partition_windows() -> int:
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "bigdata_spark"
    sites = set(_no_partition_window_sites(pkg))
    bad = sorted(sites - ZERO_PARTITION_WINDOW_ALLOWLIST)
    stale = sorted(ZERO_PARTITION_WINDOW_ALLOWLIST - sites)
    failures = 0
    if bad:
        failures += len(bad)
        for fname, fn in bad:
            print(
                f"FAIL {fname}:{fn}: no-partitionBy window spec not in the"
                " reviewed bounded-grain allowlist (single-partition"
                " exchange — review the input grain; if it grows with"
                " the data, use operators/ranking.grouped_range_rank"
                " or fold it as agg + crossJoin(broadcast))"
            )
    if stale:
        failures += len(stale)
        for fname, fn in stale:
            print(
                f"FAIL {fname}:{fn}: stale zero-partition-window allowlist"
                " entry (no matching site) — remove it so the allowlist"
                " stays an exact mirror of reviewed sites"
            )
    if failures:
        return failures
    print(
        f"ok   zero-partition windows: {len(sites)} reviewed"
        " bounded-grain sites package-wide, allowlist exact"
    )
    return 0


# ---------------------------------------------------------------------------
# Window partition-KEY grain audit (the r10 verdict's third rung): a
# window with partitionBy on a BOUNDED-cardinality key (returnflag,
# brand, priority) has fixed partition COUNT while partition SIZE grows
# with the data — at 100 TB one task sorts a constant fraction of the
# fact table, exactly like a zero-partition window divided by a
# constant. Every Window.partitionBy site in the package must appear
# below with a reviewed grain note, classified as one of:
#   data-grown  — the key's cardinality grows with the data, so each
#                 group stays bounded (user_id, doc_id, query_id, ...);
#   bounded-input — the key is bounded BUT the window input is itself a
#                 bounded-grain table (value-domain histogram,
#                 contingency cells, per-day rollup, sketch rows);
#   group-limit — a rank<=k filter immediately follows, so Spark's
#                 WindowGroupLimit keeps per-partition heaps and never
#                 sorts a whole group;
#   operator-internal — the bounded pass inside a range-partitioned
#                 operator (per-(pid, group) locals, offset tables).
# Exact-mirror rule: a new site OR a stale entry fails the audit until
# the grain is re-reviewed. SF-grown bounded-key windows over fact rows
# are NOT allowlistable — convert to operators/ranking.
# grouped_range_rank (see the w1_ranked_partition conversion) or to
# agg + crossJoin(broadcast).
WINDOW_PARTITION_GRAIN_ALLOWLIST = {
    ("ranking.py", "grouped_range_rank", "*group_cols"),  # operator-internal: per-(pid, group) offset table
    ("ranking.py", "grouped_range_rank", "_pid,*group_cols"),  # operator-internal: local rank within one range partition
    ("relational.py", "w2_group_topk", "o_orderpriority"),  # group-limit: rank<=3 filter → WindowGroupLimit
    ("relational.py", "w3_lag_delta", "user_id"),  # data-grown
    ("relational.py", "w4_moving_avg", "user_id"),  # data-grown
    ("sampling.py", "group_topk_random_sample", "*group_cols"),  # group-limit: rank<=k filter → WindowGroupLimit
    ("upsert_sink.py", "keyed_upsert_batch", "*key_cols"),  # data-grown: versions per key
}


def _partition_window_sites(root) -> list[tuple[str, str, str]]:
    """AST scan: every WindowSpec construction whose chain starts at
    ``Window`` and calls ``partitionBy`` with ≥1 argument. Returns
    (file, enclosing function, comma-joined key spelling) triples —
    string-literal keys verbatim, ``f(name)`` for single-literal-arg
    calls, ``*name`` for starred args, source text otherwise."""
    import ast
    import pathlib

    def key_repr(arg):
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        if isinstance(arg, ast.Call):
            f = arg.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "?")
            if arg.args and isinstance(arg.args[0], ast.Constant):
                return f"{name}({arg.args[0].value})"
            return f"{name}(...)"
        if isinstance(arg, ast.Starred):
            return "*" + ast.unparse(arg.value)
        return ast.unparse(arg)

    sites: set[tuple[str, str, str]] = set()
    for f in sorted(pathlib.Path(root).rglob("*.py")):
        tree = ast.parse(f.read_text())
        parents: dict[int, str] = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for child in ast.walk(node):
                    parents.setdefault(id(child), node.name)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            cur, found = node, None
            while isinstance(cur, ast.Call) and isinstance(
                cur.func, ast.Attribute
            ):
                if cur.func.attr == "partitionBy" and (
                    cur.args or cur.keywords
                ):
                    found = cur
                cur = cur.func.value
            if (
                not (isinstance(cur, ast.Name) and cur.id == "Window")
                or found is None
            ):
                continue
            keys = ",".join(key_repr(a) for a in found.args)
            sites.add((f.name, parents.get(id(node), "<module>"), keys))
    return sorted(sites)


def audit_window_partition_grains() -> int:
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "bigdata_spark"
    sites = set(_partition_window_sites(pkg))
    bad = sorted(sites - WINDOW_PARTITION_GRAIN_ALLOWLIST)
    stale = sorted(WINDOW_PARTITION_GRAIN_ALLOWLIST - sites)
    failures = 0
    if bad:
        failures += len(bad)
        for fname, fn, keys in bad:
            print(
                f"FAIL {fname}:{fn}: Window.partitionBy({keys}) not in the"
                " reviewed partition-grain allowlist — classify the key:"
                " data-grown group size is fine; a bounded-cardinality key"
                " over an SF-grown input sorts a constant fraction of the"
                " data in ONE task — convert to grouped_range_rank or"
                " agg + crossJoin(broadcast) instead"
            )
    if stale:
        failures += len(stale)
        for fname, fn, keys in stale:
            print(
                f"FAIL {fname}:{fn}: stale partition-grain allowlist entry"
                f" partitionBy({keys}) (no matching site) — remove it so the"
                " allowlist stays an exact mirror of reviewed sites"
            )
    if failures:
        return failures
    print(
        f"ok   window partition grains: {len(sites)} reviewed sites"
        " package-wide (data-grown / bounded-input / group-limit /"
        " operator-internal), allowlist exact"
    )
    return 0


def plan_audit(spark, name: str, sf_dir: str) -> list[str]:
    """Check ``AUDITS[name]`` against the formatted physical plan of the
    registry query ``name`` over ``sf_dir``. Prints one ok/FAIL line per
    check and returns the failed checks (empty when all hold)."""
    from bigdata_spark.plans import all_queries

    fn, _ = all_queries()[name]
    df = fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    failed = []
    for desc, pattern in AUDITS[name]:
        if re.search(pattern, plan):
            print(f"ok   {name}: {desc}")
        else:
            failed.append(f"{name}: {desc}  (pattern {pattern!r} not found)")
            print(f"FAIL {failed[-1]}")
    return failed


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from bigdata_spark.session import get_spark

    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")
    failures = audit_broadcast_hints()
    failures += audit_zero_partition_windows()
    failures += audit_window_partition_grains()
    for name in AUDITS:
        failures += len(plan_audit(spark, name, sf_dir))
    print(f"\n{failures} plan-audit failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
