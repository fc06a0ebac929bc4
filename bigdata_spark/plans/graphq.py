"""Graph analytics queries: fixed-point PageRank over the nation-level
trade graph (customer nation → supplier nation, weighted by lineitem
count).

The registry's other graph operator, connected components
(operators/graph.py, dedup_clusters), is oracle-checked against a
recursive CTE; PageRank is float-iterative in every textbook
implementation, which breaks hash-exact oracles. Here the iteration is
integer fixed-point (operators/graph.pagerank_fixed_point), so the
DuckDB oracle — the same 10 rounds unrolled as chained CTEs with
identical integer division — matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table

_PR_ITERS = 10
_PR_SCALE = 1_000_000_000_000
_PR_NUM = 17
_PR_DEN = 20


def _trade_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
    )
    nodes = n.select(F.col("n_nationkey").alias("node"))
    return nodes, edges


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-round fixed-point PageRank on the nation trade graph. The
    fact joins build the edge list once (one shuffle per join; the
    bounded nation dim broadcasts, supplier/customer join by
    stats/AQE); each round is a partial-aggregated groupBy +
    broadcast-scale node join on a 25-node rank table."""
    from ..operators.graph import pagerank_fixed_point

    nodes, edges = _trade_edges(spark, sf_dir)
    ranks = pagerank_fixed_point(
        nodes, edges, iterations=_PR_ITERS, scale=_PR_SCALE,
        damping_num=_PR_NUM, damping_den=_PR_DEN,
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        ranks.join(F.broadcast(n), ranks.node == n.n_nationkey)
        .select(F.col("node").alias("n_nationkey"), "n_name", "mass")
        .orderBy(F.desc("mass"), "n_nationkey")
    )


def _pagerank_sql() -> str:
    base = _PR_SCALE * (_PR_DEN - _PR_NUM) // _PR_DEN
    steps = []
    for i in range(_PR_ITERS):
        steps.append(
            f"""pr{i + 1} AS (
  SELECT n.node,
         CAST({base} + COALESCE(SUM(
           (((p.mass * {_PR_NUM}) // {_PR_DEN}) * e.w) // e.out_w
         ), 0) AS BIGINT) AS mass
  FROM nodes n
  LEFT JOIN (edges_w e JOIN pr{i} p ON p.node = e.src) ON e.dst = n.node
  GROUP BY n.node
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH nodes AS (SELECT n_nationkey AS node FROM nation),
edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
edges_w AS (
  SELECT e.*, o.out_w FROM edges e
  JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY 1) o USING (src)
),
pr0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS mass FROM nodes),
{chain}
SELECT p.node AS n_nationkey, n.n_name, p.mass
FROM pr{_PR_ITERS} p JOIN nation n ON p.node = n.n_nationkey
ORDER BY p.mass DESC, p.node
"""


GRAPH_PAGERANK_SQL = _pagerank_sql()


# ---------------------------------------------------------------------------
# graph_ppr — personalized PageRank (seed-restart), same fixed-point integers
# ---------------------------------------------------------------------------

_PPR_REGION = 0  # seed set: the nations of region 0


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the nation trade graph: restart mass
    lands only on region-0 nations, so the fixed point ranks every
    nation by trade proximity TO THAT REGION — the "related items"
    variant recommenders run with an item seed set. Same bit-exact
    fixed-point integer arithmetic as graph_pagerank (operators/
    graph.pagerank_fixed_point with ``seeds``), so the unrolled-CTE
    oracle replays all 10 rounds exactly."""
    from ..operators.graph import pagerank_fixed_point

    nodes, edges = _trade_edges(spark, sf_dir)
    n = load_table(spark, sf_dir, "nation")
    seeds = n.filter(F.col("n_regionkey") == _PPR_REGION).select(
        F.col("n_nationkey").alias("node")
    )
    ranks = pagerank_fixed_point(
        nodes, edges, iterations=_PR_ITERS, scale=_PR_SCALE,
        damping_num=_PR_NUM, damping_den=_PR_DEN, seeds=seeds,
    )
    return (
        ranks.join(F.broadcast(n), ranks.node == n.n_nationkey)
        .select(
            F.col("node").alias("n_nationkey"),
            "n_name",
            (F.col("n_regionkey") == _PPR_REGION).alias("is_seed"),
            "mass",
        )
        .orderBy(F.desc("mass"), "n_nationkey")
    )


def _ppr_sql() -> str:
    base = _PR_SCALE * (_PR_DEN - _PR_NUM) // _PR_DEN
    steps = []
    for i in range(_PR_ITERS):
        steps.append(
            f"""pr{i + 1} AS (
  SELECT n.node,
         CAST(n.base + COALESCE(SUM(
           (((p.mass * {_PR_NUM}) // {_PR_DEN}) * e.w) // e.out_w
         ), 0) AS BIGINT) AS mass
  FROM nodes_b n
  LEFT JOIN (edges_w e JOIN pr{i} p ON p.node = e.src) ON e.dst = n.node
  GROUP BY n.node, n.base
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH nodes_b AS (
  SELECT n_nationkey AS node,
         CASE WHEN n_regionkey = {_PPR_REGION}
              THEN CAST({base} AS BIGINT) ELSE 0 END AS base
  FROM nation
),
edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
edges_w AS (
  SELECT e.*, o.out_w FROM edges e
  JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY 1) o USING (src)
),
pr0 AS (
  SELECT node, CAST(CASE WHEN base > 0 THEN {_PR_SCALE} ELSE 0 END AS BIGINT)
         AS mass
  FROM nodes_b
),
{chain}
SELECT p.node AS n_nationkey, n.n_name,
       n.n_regionkey = {_PPR_REGION} AS is_seed, p.mass
FROM pr{_PR_ITERS} p JOIN nation n ON p.node = n.n_nationkey
ORDER BY p.mass DESC, p.node
"""


GRAPH_PPR_SQL = _ppr_sql()

# ---------------------------------------------------------------------------
# Market-basket co-purchase graph: frequent pairs + triangle census
# ---------------------------------------------------------------------------

_MINSUP = 2

# Shared DuckDB CTE: distinct (order, part) incidences and the
# support-thresholded undirected pair edges (a < b).
_COPURCHASE_CTE = f"""
oi AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
  FROM oi a JOIN oi b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_MINSUP}
)"""


def _copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order pair expansion WITHOUT a fact self-join: one shuffle
    groups distinct items per order (baskets are tiny — ≤ ~15 items),
    then an array higher-order function emits the C(n,2) pairs map-side.
    At 100 TB this is one exchange of (order, item) + a narrow flatMap,
    versus the naive self-join's two exchanges and per-key quadratic
    join. Support filtering happens in the same aggregation."""
    l = load_table(spark, sf_dir, "lineitem")
    baskets = (
        l.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (x, i) ->"
                " transform(slice(items, i + 2, size(items)),"
                " y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _MINSUP)
    )


def mb_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent co-purchased part pairs with lift.

    The classic market-basket mining kernel (apriori level 2): pair
    support from basket-local expansion, item frequencies and order
    count joined on to score lift. Item-frequency join sides are
    product-catalog-sized: it joins by stats/AQE — broadcast while it
    fits, shuffle-join once the catalog outgrows the threshold."""
    l = load_table(spark, sf_dir, "lineitem")
    oi = l.select("l_orderkey", "l_partkey").distinct()
    item_cnt = oi.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    n_orders = oi.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    e = _copurchase_pairs(spark, sf_dir)
    return (
        e.join(
            item_cnt.withColumnRenamed("l_partkey", "pa").withColumnRenamed("cnt", "cnt_a"),
            "pa",
        )
        .join(
            item_cnt.withColumnRenamed("l_partkey", "pb").withColumnRenamed("cnt", "cnt_b"),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "support",
            "cnt_a",
            "cnt_b",
            "n_orders",
            F.expr("(CAST(support AS DOUBLE) * n_orders) / (cnt_a * cnt_b)").alias("lift"),
        )
        .orderBy(F.desc("support"), "pa", "pb")
    )


MB_PAIRS_SQL = f"""
WITH {_COPURCHASE_CTE},
ic AS (SELECT l_partkey, COUNT(*) AS cnt FROM oi GROUP BY 1),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM oi)
SELECT e.pa, e.pb, e.support, ca.cnt AS cnt_a, cb.cnt AS cnt_b, n.n_orders,
       (CAST(e.support AS DOUBLE) * n.n_orders) / (ca.cnt * cb.cnt) AS lift
FROM edges e
JOIN ic ca ON ca.l_partkey = e.pa
JOIN ic cb ON cb.l_partkey = e.pb
CROSS JOIN n
ORDER BY e.support DESC, e.pa, e.pb
"""


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the
    co-purchase graph.

    Scale shape: edges are oriented from the (degree, id)-smaller to
    the -larger endpoint before the wedge join — the standard trick
    that bounds per-node wedge fan-out by O(sqrt(m)) (total wedge work
    O(m^1.5)) instead of hub-degree-squared, exactly what survives a
    power-law co-purchase graph at 100 TB. The closing join checks the
    id-canonical undirected edge set. Counts are exact integers; the
    clustering coefficient shares its expression with the oracle."""
    # the edge table is support-thresholded (small); checkpoint it so
    # the basket-expansion subtree isn't recomputed for each of the
    # degree/orientation/wedge/closure consumers below
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("pa"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("pb"), F.col("deg").alias("deg_b"))
    oriented = (
        e.join(da, "pa")
        .join(db, "pb")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("pa") < F.col("pb"))),
                F.struct(F.col("pa").alias("src"), F.col("pb").alias("dst")),
            )
            .otherwise(
                F.struct(F.col("pb").alias("src"), F.col("pa").alias("dst"))
            )
            .alias("o")
        )
        .select("o.src", "o.dst")
    )
    x = oriented.alias("x")
    y = oriented.alias("y")
    wedges = x.join(y, F.col("x.src") == F.col("y.src")).filter(
        F.col("x.dst") < F.col("y.dst")
    )
    closed = wedges.join(
        e.withColumnRenamed("pa", "lo").withColumnRenamed("pb", "hi"),
        (F.least("x.dst", "y.dst") == F.col("lo"))
        & (F.greatest("x.dst", "y.dst") == F.col("hi")),
    )
    tri = closed.agg(F.count("*").alias("n_triangles"))
    stats = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            (F.sum(F.expr("deg * (deg - 1)")) / 2).cast("long").alias("n_wedges"),
        )
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(tri)
    )
    return stats.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.expr(
            "CASE WHEN n_wedges > 0"
            " THEN (CAST(3 AS DOUBLE) * n_triangles) / n_wedges"
            " ELSE CAST(0 AS DOUBLE) END"
        ).alias("global_clustering"),
    )


GRAPH_TRIANGLES_SQL = f"""
WITH {_COPURCHASE_CTE},
deg AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb AS node FROM edges
  ) GROUP BY 1
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM edges ab JOIN edges bc ON ab.pb = bc.pa JOIN edges ac
    ON ac.pa = ab.pa AND ac.pb = bc.pb
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) FROM deg) AS n_wedges,
       n_triangles,
       CASE WHEN (SELECT SUM(deg * (deg - 1)) / 2 FROM deg) > 0
            THEN (CAST(3 AS DOUBLE) * n_triangles)
                 / (SELECT CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) FROM deg)
            ELSE CAST(0 AS DOUBLE) END AS global_clustering
FROM tri
"""


# ---------------------------------------------------------------------------
# Multi-source BFS shortest hops over the co-purchase graph
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 6
_BFS_SEED_MOD = 25


def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-distance histogram from seed parts over the co-purchase
    graph (multi-source BFS, operators/graph.bfs_hops).

    Seeds are the deterministic set ``node % 25 == 0`` among graph
    nodes; distances are exact minimum hops capped at 6; unreached
    nodes report dist = -1. The co-purchase edge subtree is
    checkpointed once and symmetrized; each BFS round touches only the
    frontier (delta iteration), so a 100 TB edge list costs
    O(diameter) frontier-sized shuffles, not O(diameter) full scans.
    """
    from ..operators.graph import bfs_hops

    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(e.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    seeds = nodes.filter(F.col("node") % _BFS_SEED_MOD == 0)
    dist = bfs_hops(sym, seeds, max_hops=_BFS_MAX_HOPS)
    return (
        nodes.join(dist, "node", "left_outer")
        .select(F.coalesce("dist", F.lit(-1)).alias("dist"))
        .groupBy("dist")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy("dist")
    )


GRAPH_BFS_SQL = f"""
WITH RECURSIVE {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM sym),
walk AS (
  SELECT node, 0 AS dist FROM nodes WHERE node % {_BFS_SEED_MOD} = 0
  UNION
  SELECT s.dst AS node, w.dist + 1 AS dist
  FROM walk w JOIN sym s ON s.src = w.node
  WHERE w.dist < {_BFS_MAX_HOPS}
),
best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
SELECT dist, COUNT(*) AS n_nodes FROM (
  SELECT COALESCE(b.dist, -1) AS dist
  FROM nodes n LEFT JOIN best b ON b.node = n.node
)
GROUP BY dist
ORDER BY dist
"""


# ---------------------------------------------------------------------------
# k-core decomposition by synchronous peeling (unrolled oracle)
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 10


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph by synchronous peeling: each
    round drops every node whose CURRENT degree is below k, then
    recomputes degrees over the surviving subgraph. Peeling is the
    standard dense-substructure filter (spam/bot rings, core
    communities) and — unlike vertex-ordering core decomposition — the
    synchronous round is a pure dataflow: one semi-join to restrict
    edges + one degree aggregation per round, localCheckpointed so
    lineage stays flat. 10 rounds are unrolled in the oracle; the test
    asserts the fixpoint is reached before the cap (round 10 ≡ round
    9), so the cap is a proof obligation, not a hidden approximation.
    Output: the core's node/edge census."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    kept = sym.select(F.col("src").alias("node")).distinct()
    for _ in range(_KCORE_ROUNDS):
        alive = (
            sym.join(kept.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(kept.withColumnRenamed("node", "dst"), "dst", "left_semi")
        )
        kept = (
            alive.groupBy("src")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("src").alias("node"))
            .localCheckpoint(eager=False)
        )
    core_edges = (
        e.join(kept.withColumnRenamed("node", "pa"), "pa", "left_semi")
        .join(kept.withColumnRenamed("node", "pb"), "pb", "left_semi")
    )
    return kept.agg(F.count("*").alias("n_core_nodes")).crossJoin(
        core_edges.agg(
            F.count("*").alias("n_core_edges"),
            F.coalesce(F.sum(F.col("pa") + F.col("pb")), F.lit(0)).alias(
                "edge_checksum"
            ),
        )
    )


def _kcore_sql() -> str:
    rounds = []
    for t in range(1, _KCORE_ROUNDS + 1):
        rounds.append(
            f"""k{t} AS MATERIALIZED (
  SELECT src AS node FROM sym s
  JOIN k{t - 1} a ON a.node = s.src
  JOIN k{t - 1} b ON b.node = s.dst
  GROUP BY src HAVING COUNT(*) >= {_KCORE_K}
)"""
        )
    chain = ",\n".join(rounds)
    last = f"k{_KCORE_ROUNDS}"
    return f"""
WITH {_COPURCHASE_CTE},
sym AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
k0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
{chain},
core_edges AS (
  SELECT e.pa, e.pb FROM edges e
  JOIN {last} a ON a.node = e.pa
  JOIN {last} b ON b.node = e.pb
)
SELECT (SELECT COUNT(*) FROM {last}) AS n_core_nodes,
       (SELECT COUNT(*) FROM core_edges) AS n_core_edges,
       (SELECT CAST(COALESCE(SUM(pa + pb), 0) AS BIGINT) FROM core_edges)
         AS edge_checksum
"""


GRAPH_KCORE_SQL = _kcore_sql()


# ---------------------------------------------------------------------------
# Item-item collaborative-filtering recommender over co-purchases
# ---------------------------------------------------------------------------


def rec_item_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (the classic Amazon-style
    recommender): similarity(a,b) = co-purchase count / sqrt(n_a·n_b)
    (cosine over binary basket vectors), top-3 neighbors per item.

    Everything upstream of the final cosine is exact integers from the
    basket-local pair expansion (no fact self-join — _copurchase_pairs);
    item frequencies join onto the thresholded pair table by stats/AQE
    (item grain grows with the catalog — never force-broadcast); top-3
    is a per-item window over the pair table (group limit, no global
    sort). The cosine is one shared-text double expression, so ranks
    and scores are engine-identical. At 100 TB this is the same
    shuffle budget as mb_frequent_pairs plus one window."""
    l = load_table(spark, sf_dir, "lineitem")
    oi = l.select("l_orderkey", "l_partkey").distinct()
    item_cnt = oi.groupBy("l_partkey").agg(F.count("*").alias("cnt"))
    e = _copurchase_pairs(spark, sf_dir)
    # symmetrize so every item sees all its neighbors
    sym = e.select(
        F.col("pa").alias("item"), F.col("pb").alias("other"), "support"
    ).unionAll(
        e.select(F.col("pb").alias("item"), F.col("pa").alias("other"), "support")
    )
    scored = (
        sym.join(
            item_cnt.select(F.col("l_partkey").alias("item"), F.col("cnt").alias("cnt_i")),
            "item",
        )
        .join(
            item_cnt.select(F.col("l_partkey").alias("other"), F.col("cnt").alias("cnt_o")),
            "other",
        )
        .withColumn(
            "sim",
            F.expr("support / sqrt(CAST(cnt_i AS DOUBLE) * cnt_o)"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("item").orderBy(F.desc("sim"), "other")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "item",
            "other",
            F.col("rank").cast("long").alias("rank"),
            "support",
            F.round("sim", 9).alias("sim"),
        )
        .orderBy("item", "rank")
    )


REC_ITEM_SQL = f"""
WITH {_COPURCHASE_CTE},
ic AS (SELECT l_partkey, COUNT(*) AS cnt FROM oi GROUP BY 1),
sym AS (
  SELECT pa AS item, pb AS other, support FROM edges
  UNION ALL
  SELECT pb AS item, pa AS other, support FROM edges
),
scored AS (
  SELECT s.item, s.other, s.support,
         s.support / sqrt(CAST(ci.cnt AS DOUBLE) * co.cnt) AS sim
  FROM sym s
  JOIN ic ci ON ci.l_partkey = s.item
  JOIN ic co ON co.l_partkey = s.other
),
ranked AS (
  SELECT item, other, support, sim,
         ROW_NUMBER() OVER (PARTITION BY item ORDER BY sim DESC, other) AS rank
  FROM scored
)
SELECT item, other, CAST(rank AS BIGINT) AS rank, support, ROUND(sim, 9) AS sim
FROM ranked WHERE rank <= 3
ORDER BY item, rank
"""


# ---------------------------------------------------------------------------
# Synchronous label propagation (community detection), unrolled oracle
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    co-purchase graph, 3 rounds, deterministic: every node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken by the smallest label. Async LPA (the textbook
    default) is execution-order-dependent and thus unreproducible on a
    cluster; the synchronous variant is a pure dataflow — per round
    ONE frontier-free aggregation over (dst, neighbor_label) and an
    argmax, both map-side combinable, labels table checkpointed so
    lineage stays flat. Output: community size census."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    lbl = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(_LPA_ROUNDS):
        votes = (
            sym.join(lbl, sym.src == lbl.node)
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
        )
        lbl = (
            votes.groupBy("dst")
            .agg(F.min(F.struct(-F.col("cnt"), F.col("label"))).alias("best"))
            .select(F.col("dst").alias("node"), F.col("best.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return (
        lbl.groupBy("label")
        .agg(F.count("*").alias("n_members"))
        .select(F.col("label").alias("community"), "n_members")
        .orderBy(F.desc("n_members"), "community")
    )


def _lpa_sql() -> str:
    rounds = []
    for t in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""l{t} AS (
  SELECT dst AS node, label FROM (
    SELECT s.dst, p.label,
           ROW_NUMBER() OVER (PARTITION BY s.dst
                              ORDER BY COUNT(*) DESC, p.label) AS rn
    FROM sym s JOIN l{t - 1} p ON p.node = s.src
    GROUP BY s.dst, p.label
  ) WHERE rn = 1
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
{chain}
SELECT label AS community, COUNT(*) AS n_members
FROM l{_LPA_ROUNDS}
GROUP BY label
ORDER BY n_members DESC, community
"""


GRAPH_LPA_SQL = _lpa_sql()


# ---------------------------------------------------------------------------
# Hierarchy rollup via transitive closure (recursive-CTE parity)
# ---------------------------------------------------------------------------


def hier_rollup_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over a part category tree — the recursive-CTE
    workload Spark SQL lacks, expressed with the log-round doubling
    closure (operators/graph.ancestor_closure).

    The hierarchy is the deterministic 4-ary forest parent(k) =
    (k-1) div 4 over p_partkey (a stand-in for a real category table;
    the operator only sees (node, parent) rows). Per node: its depth,
    descendant count (incl. self) and subtree retail value in exact
    integer cents. The closure is O(n · depth) rows built in O(log
    depth) shuffles; the rollup is one groupBy over it."""
    from ..operators.graph import ancestor_closure

    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("w"),
    )
    edges = p.filter(F.col("node") > 0).select(
        "node", F.expr("(node - 1) div 4").alias("parent")
    )
    proper = ancestor_closure(edges)
    closure = proper.unionAll(
        p.select("node", F.col("node").alias("anc"), F.lit(0).alias("dist"))
    )
    depth = closure.groupBy("node").agg(F.max("dist").alias("depth"))
    roll = (
        closure.join(p, "node")
        .groupBy("anc")
        .agg(
            F.count("*").alias("n_desc"),
            F.sum("w").alias("subtree_value_cents"),
        )
    )
    return (
        roll.join(depth, roll.anc == depth.node)
        .select(
            F.col("anc").alias("p_partkey"),
            "depth",
            "n_desc",
            "subtree_value_cents",
        )
        .orderBy("p_partkey")
    )


HIER_ROLLUP_SQL = """
WITH RECURSIVE anc AS (
  SELECT p_partkey AS node, p_partkey AS anc, 0 AS dist FROM part
  UNION ALL
  SELECT node, (anc - 1) // 4 AS anc, dist + 1 FROM anc WHERE anc > 0
),
vals AS (
  SELECT p_partkey,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
  FROM part
),
depth AS (SELECT node, CAST(MAX(dist) AS BIGINT) AS depth FROM anc GROUP BY node),
roll AS (
  SELECT a.anc AS p_partkey, COUNT(*) AS n_desc,
         CAST(SUM(v.w) AS BIGINT) AS subtree_value_cents
  FROM anc a JOIN vals v ON v.p_partkey = a.node
  GROUP BY a.anc
)
SELECT r.p_partkey, d.depth, r.n_desc, r.subtree_value_cents
FROM roll r JOIN depth d ON d.node = r.p_partkey
ORDER BY r.p_partkey
"""



# ---------------------------------------------------------------------------
# Link prediction: common-neighbor / neighborhood-Jaccard scores
# ---------------------------------------------------------------------------

_LINK_MIN_CN = 1


def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the co-purchase graph: for NON-edges with
    >= 2 common neighbors, the common-neighbor count and neighborhood
    Jaccard cn/(deg_a + deg_b - cn) — the classic "customers also
    bought" candidate generator before any learned ranker.

    Scale shape: candidate pairs come from the WEDGE join (two edges
    sharing a midpoint), so only 2-hop pairs are ever materialized —
    never the n² non-edge set; existing edges drop via one anti-join
    on the canonical edge table; the node-grain degree table joins by
    stats/AQE (it grows with the graph). All integers until
    the one shared-text Jaccard projection. Top-20 by (jaccard, pair)
    keeps the output stable."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    x = sym.alias("x")
    y = sym.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
        .agg(F.count("*").alias("cn"))
        .filter(F.col("cn") >= _LINK_MIN_CN)
    )
    non_edges = wedges.join(
        e.withColumnRenamed("pa", "a").withColumnRenamed("pb", "b"),
        ["a", "b"],
        "left_anti",
    )
    da = deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b"))
    return (
        non_edges.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "cn",
            "deg_a",
            "deg_b",
            F.round(
                F.expr("CAST(cn AS DOUBLE) / (deg_a + deg_b - cn)"), 9
            ).alias("nbr_jaccard"),
        )
        .orderBy(F.desc("nbr_jaccard"), "a", "b")
        .limit(20)
    )


GRAPH_LINK_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS MATERIALIZED (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src),
wedges AS (
  SELECT x.dst AS a, y.dst AS b, COUNT(*) AS cn
  FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst
  GROUP BY 1, 2
  HAVING COUNT(*) >= {_LINK_MIN_CN}
),
non_edges AS (
  SELECT w.* FROM wedges w
  WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.pa = w.a AND e.pb = w.b)
)
SELECT n.a, n.b, n.cn, da.deg AS deg_a, db.deg AS deg_b,
       ROUND(CAST(n.cn AS DOUBLE) / (da.deg + db.deg - n.cn), 9) AS nbr_jaccard
FROM non_edges n
JOIN deg da ON da.src = n.a
JOIN deg db ON db.src = n.b
ORDER BY nbr_jaccard DESC, n.a, n.b
LIMIT 20
"""

_CC_CHAIN = 64  # block length of the synthetic chain graph


def graph_cc_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components with the DISTRIBUTED alternating
    large-star/small-star path forced (``driver_threshold=0`` — no
    driver union-find shortcut), on a deterministic high-diameter
    graph: vertex ids are the dense o_orderkey domain 0..N-1, chain
    edges (v, v+1) within blocks of {chain} plus skip edges (v, v+3)
    every 7th vertex. A
    {chain}-long path is exactly the shape the driver shortcut hides:
    min-label propagation would need {chain} rounds; the star loop
    (operators/graph.py:94+) closes it in O(log²) shuffling rounds.
    Components are contiguous blocks, so the oracle is closed-form
    (component = floor(v/{chain})·{chain}) — no recursive CTE needed.
    Output is the per-component census, which verifies every vertex's
    label (a wrong label moves a vertex across blocks and breaks the
    census). Edge count grows linearly with SF; per-round work is one
    groupBy + join + two distincts on the edge set — the 100 TB shape.
    """.format(chain=_CC_CHAIN)
    from ..operators.graph import connected_components

    o = load_table(spark, sf_dir, "orders")
    # o_orderkey is dense 0..N-1 in this corpus, so it IS the vertex id
    # — no global-sort row_number (a 1-partition window would be the
    # scale bug this query exists to avoid).
    v = o.select(F.col("o_orderkey").alias("v"))
    mx = v.agg(F.max("v")).first()[0]
    chain = v.filter(
        (F.col("v") % _CC_CHAIN != _CC_CHAIN - 1) & (F.col("v") < F.lit(mx))
    ).select(F.col("v").alias("src"), (F.col("v") + 1).alias("dst"))
    skips = v.filter(
        (F.col("v") % _CC_CHAIN <= _CC_CHAIN - 4)
        & (F.col("v") % 7 == 0)
        & (F.col("v") + 3 <= F.lit(mx))
    ).select(F.col("v").alias("src"), (F.col("v") + 3).alias("dst"))
    cc = connected_components(chain.unionAll(skips), driver_threshold=0)
    return (
        cc.groupBy("component")
        .agg(
            F.count("*").alias("cluster_size"),
            F.min("vertex").alias("min_vertex"),
            F.max("vertex").alias("max_vertex"),
        )
        .orderBy("component")
    )


GRAPH_CC_DIST_SQL = f"""
WITH o AS (SELECT o_orderkey AS v FROM orders),
mx AS (SELECT MAX(v) AS mx FROM o),
e AS (
  SELECT v AS a, v + 1 AS b FROM o, mx
  WHERE v % {_CC_CHAIN} != {_CC_CHAIN - 1} AND v < mx
  UNION ALL
  SELECT v, v + 3 FROM o, mx
  WHERE v % {_CC_CHAIN} <= {_CC_CHAIN - 4} AND v % 7 = 0 AND v + 3 <= mx
),
verts AS (SELECT a AS v FROM e UNION SELECT b FROM e)
SELECT (v // {_CC_CHAIN}) * {_CC_CHAIN} AS component,
       COUNT(*) AS cluster_size,
       MIN(v) AS min_vertex,
       MAX(v) AS max_vertex
FROM verts
GROUP BY 1
ORDER BY component
"""


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the brand partition over the co-purchase
    graph — the quality score community-detection algorithms (Louvain,
    Leiden) maximize, evaluated here for a GIVEN labeling (p_brand).

    Q = Σ_c [ e_c/m − (d_c/2m)² ] where e_c = intra-community edges,
    d_c = community degree sum, m = total edges.  Everything reduces
    to exact integers: the per-community numerator 4m·e_c − d_c² is a
    BIGINT (m ≤ ~10⁶ at sf1 keeps 4m² ≪ 2^63 and exactly
    representable in a double), and Q itself is one shared IEEE
    division at the end, so the DuckDB oracle matches bit-for-bit.

    Scale: the edge list comes from the basket-expansion builder
    (`_copurchase_pairs` — one exchange, no fact self-join), degree
    and intra-edge counts are two map-side-combinable aggregations,
    and the part→brand map joins by stats/AQE (part grain grows with
    SF).  Per-community rows (≤ #brands)
    carry their own contribution, so a Louvain-style optimizer could
    re-score a move from these aggregates alone — the standard
    delta-modularity trick at cluster scale.
    """
    edges = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    bmap = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    m_df = edges.agg(F.count("*").alias("m"))
    deg = (
        edges.select(F.col("pa").alias("node"))
        .unionAll(edges.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    comm = (
        deg.join(bmap, deg.node == bmap.p_partkey)
        .groupBy(F.col("p_brand").alias("community"))
        .agg(
            F.count("*").alias("n_nodes"),
            F.sum("degree").alias("degree_sum"),
        )
    )
    ba = bmap.select(
        F.col("p_partkey").alias("pa_key"), F.col("p_brand").alias("brand_a")
    )
    bb = bmap.select(
        F.col("p_partkey").alias("pb_key"), F.col("p_brand").alias("brand_b")
    )
    intra = (
        edges.join(ba, edges.pa == ba.pa_key)
        .join(bb, edges.pb == bb.pb_key)
        .filter(F.col("brand_a") == F.col("brand_b"))
        .groupBy(F.col("brand_a").alias("community"))
        .agg(F.count("*").alias("intra_edges"))
    )
    j = (
        comm.join(intra, "community", "left")
        .withColumn("intra_edges", F.coalesce("intra_edges", F.lit(0)))
        .crossJoin(F.broadcast(m_df))
    )
    return j.selectExpr(
        "community",
        "n_nodes",
        "degree_sum",
        "intra_edges",
        "CAST(4*m*intra_edges - degree_sum*degree_sum AS BIGINT) AS q_num",
        "CAST(4*m*intra_edges - degree_sum*degree_sum AS DOUBLE)"
        " / CAST(4*m*m AS DOUBLE) AS q_contrib",
        "CAST(SUM(4*m*intra_edges - degree_sum*degree_sum) OVER ()"
        " AS DOUBLE) / CAST(4*m*m AS DOUBLE) AS q_total",
    ).orderBy("community")


GRAPH_MODULARITY_SQL = f"""
WITH {_COPURCHASE_CTE},
bmap AS (SELECT p_partkey, p_brand FROM part),
mm AS (SELECT COUNT(*) AS m FROM edges),
deg AS (
  SELECT node, COUNT(*) AS degree FROM (
    SELECT pa AS node FROM edges UNION ALL SELECT pb AS node FROM edges
  ) GROUP BY 1
), comm AS (
  SELECT b.p_brand AS community, COUNT(*) AS n_nodes,
         CAST(SUM(degree) AS BIGINT) AS degree_sum
  FROM deg d JOIN bmap b ON d.node = b.p_partkey GROUP BY 1
), intra AS (
  SELECT ba.p_brand AS community, COUNT(*) AS intra_edges
  FROM edges e
  JOIN bmap ba ON e.pa = ba.p_partkey
  JOIN bmap bb ON e.pb = bb.p_partkey
  WHERE ba.p_brand = bb.p_brand GROUP BY 1
), j AS (
  SELECT c.community, c.n_nodes, c.degree_sum,
         COALESCE(i.intra_edges, 0) AS intra_edges,
         (SELECT m FROM mm) AS m
  FROM comm c LEFT JOIN intra i ON c.community = i.community
)
SELECT community, n_nodes, degree_sum, intra_edges,
       CAST(4*m*intra_edges - degree_sum*degree_sum AS BIGINT) AS q_num,
       CAST(4*m*intra_edges - degree_sum*degree_sum AS DOUBLE)
         / CAST(4*m*m AS DOUBLE) AS q_contrib,
       CAST(SUM(4*m*intra_edges - degree_sum*degree_sum) OVER ()
            AS DOUBLE) / CAST(4*m*m AS DOUBLE) AS q_total
FROM j ORDER BY community
"""


# ---------------------------------------------------------------------------
# graph_sssp_weighted — Bellman-Ford fixed point on the trade graph
# ---------------------------------------------------------------------------

_SSSP_ROUNDS = 6
_SSSP_SEED = 0
_SSSP_INF = 10**15
_SSSP_COST_NUM = 1_000_000


def _sssp_frontier_relax(
    dist: DataFrame, ec: DataFrame, rounds: int, track_sizes: bool = False
) -> tuple[DataFrame, list[int]]:
    """``rounds`` synchronous Bellman-Ford steps where only the FRONTIER
    (rows improved in the previous round) is joined against the edges.
    Equivalent to full relaxation round-for-round: an unimproved node's
    out-edges were already relaxed from the same dist value in the round
    it last improved, and min() makes re-proposals idempotent.
    ``track_sizes`` additionally counts each frontier (extra action per
    round — test instrumentation, off on the query path)."""
    frontier = dist.filter(F.col("dist") < _SSSP_INF)
    sizes: list[int] = []
    for _ in range(rounds):
        if track_sizes:
            sizes.append(frontier.count())
        relaxed = (
            frontier.join(ec, frontier.node == ec.src)
            .groupBy("dst")
            .agg(F.min(F.col("dist") + F.col("cost")).alias("cand"))
        )
        merged = (
            dist.join(relaxed, dist.node == relaxed.dst, "left_outer")
            .select(
                "node",
                F.least(
                    F.col("dist"), F.coalesce("cand", F.lit(_SSSP_INF))
                ).alias("dist"),
                (F.coalesce("cand", F.lit(_SSSP_INF)) < F.col("dist")).alias(
                    "_improved"
                ),
            )
            # lazy: dist and frontier both read this round's RDD, which
            # materializes ONCE under the final action (or the
            # track_sizes count) — the eager variant paid one scheduler
            # round-trip per relaxation round
            .localCheckpoint(eager=False)
        )
        dist = merged.select("node", "dist")
        frontier = merged.filter(F.col("_improved")).select("node", "dist")
    return dist, sizes


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source shortest paths with WEIGHTED edges — 6 rounds of
    synchronous Bellman-Ford relaxation over the nation trade graph.

    Edge cost is an exact integer derived from trade volume
    (1 + 1e6 div w: busier routes are cheaper), so the whole relaxation
    is BIGINT min-plus algebra and the DuckDB oracle replays the same
    6 rounds as unrolled CTEs bit-for-bit (the graph_pagerank pattern,
    graphq.py:67). Unreached nodes keep the 1e15 sentinel and report
    reachable = false.

    Scale: FRONTIER (delta) relaxation — each round joins only the rows
    whose distance improved last round against the edge table, exactly
    like graph_bfs_hops: round k's join is frontier-sized, not
    dist-table-sized, so a converged region never re-relaxes. The
    per-round result is bit-identical to full synchronous Bellman-Ford
    (a node whose dist is unchanged since it last entered the frontier
    re-proposes only candidates the MIN has already absorbed), which is
    what lets the DuckDB oracle replay the FULL relaxation as unrolled
    CTEs and still hash-match. tests/test_graph_ops.py asserts both the
    parity and the shrinking frontier sizes.
    """
    nodes, edges = _trade_edges(spark, sf_dir)
    ec = edges.select(
        "src", "dst",
        (F.lit(1) + F.expr(f"{_SSSP_COST_NUM} div w")).alias("cost"),
    ).localCheckpoint(eager=False)
    dist = nodes.select(
        "node",
        F.when(F.col("node") == _SSSP_SEED, F.lit(0))
        .otherwise(F.lit(_SSSP_INF)).cast("long").alias("dist"),
    ).localCheckpoint(eager=False)
    dist, _sizes = _sssp_frontier_relax(dist, ec, _SSSP_ROUNDS)
    n = load_table(spark, sf_dir, "nation")
    return (
        dist.join(F.broadcast(n), dist.node == n.n_nationkey)
        .select(
            F.col("node").alias("n_nationkey"),
            "n_name",
            "dist",
            (F.col("dist") < _SSSP_INF).alias("reachable"),
        )
        .orderBy("dist", "n_nationkey")
    )


def _sssp_sql() -> str:
    steps = []
    for i in range(_SSSP_ROUNDS):
        steps.append(
            f"""d{i + 1} AS (
  SELECT d.node,
         CAST(LEAST(d.dist, COALESCE(r.cand, {_SSSP_INF})) AS BIGINT) AS dist
  FROM d{i} d LEFT JOIN (
    SELECT e.dst, MIN(d2.dist + e.cost) AS cand
    FROM edges_c e JOIN d{i} d2 ON d2.node = e.src
    GROUP BY 1
  ) r ON r.dst = d.node
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH nodes AS (SELECT n_nationkey AS node FROM nation),
edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
edges_c AS (SELECT src, dst, 1 + {_SSSP_COST_NUM} // w AS cost FROM edges),
d0 AS (
  SELECT node,
         CAST(CASE WHEN node = {_SSSP_SEED} THEN 0
                   ELSE {_SSSP_INF} END AS BIGINT) AS dist
  FROM nodes
),
{chain}
SELECT d.node AS n_nationkey, n.n_name, d.dist,
       d.dist < {_SSSP_INF} AS reachable
FROM d{_SSSP_ROUNDS} d JOIN nation n ON d.node = n.n_nationkey
ORDER BY d.dist, d.node
"""


GRAPH_SSSP_SQL = _sssp_sql()


# ---------------------------------------------------------------------------
# graph_hits — hubs & authorities, integer-renormalized power iteration
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 6
_HITS_SCALE = 1_000_000_000


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities on the directed nation trade graph
    (customer nation → supplier nation): authority mass flows along
    in-edges from hub scores, hub mass along out-edges from authority
    scores, 6 synchronous rounds.

    The float-renormalization step that makes textbook HITS
    hash-unstable is replaced by integer rescaling: after each
    propagation, mass is divided by GREATEST(1, total div 1e9), which
    keeps the L1 norm pinned near 1e9 using only BIGINT ops — no
    product ever exceeds ~1e9·Σw (≈6e15 at sf1, inside BIGINT), and
    the DuckDB oracle replays every round exactly as unrolled CTEs.

    Scale: each half-round is one edge-sized join + partial-agg
    groupBy; the norm total is a ONE-ROW aggregate crossJoin-broadcast
    back onto the node table — never a zero-partition window, which
    would funnel the whole node table through a single task at 1e9
    nodes. 100 TB of edges costs O(rounds) edge shuffles, same shape
    as graph_pagerank.
    """
    nodes, edges = _trade_edges(spark, sf_dir)
    e = edges.localCheckpoint(eager=False)

    def _propagate(mass: DataFrame, forward: bool) -> DataFrame:
        src, dst = ("src", "dst") if forward else ("dst", "src")
        raw = (
            nodes.join(
                mass.join(e, mass.node == e[src])
                .groupBy(dst)
                .agg(F.sum(F.col("mass") * F.col("w")).alias("raw")),
                nodes.node == F.col(dst),
                "left_outer",
            )
            .select("node", F.coalesce("raw", F.lit(0)).alias("raw"))
            # raw feeds BOTH the norm total and the rescale — checkpoint
            # so the edge join runs once per half-round, not twice.
            # Lazy: the shared RDD still computes once (RDD-level
            # dedup), but all 2×rounds half-steps now pipeline into the
            # single action job instead of one eager job each
            .localCheckpoint(eager=False)
        )
        total = raw.agg(F.sum("raw").alias("_tot"))
        return raw.crossJoin(F.broadcast(total)).select(
            "node",
            F.expr(f"raw div greatest(1L, _tot div {_HITS_SCALE})").alias("mass"),
        )

    hub = nodes.select("node", F.lit(_HITS_SCALE).cast("long").alias("mass"))
    auth = None
    for _ in range(_HITS_ROUNDS):
        auth = _propagate(hub, forward=True).localCheckpoint(eager=False)
        hub = _propagate(auth, forward=False).localCheckpoint(eager=False)
    n = load_table(spark, sf_dir, "nation")
    joined = (
        auth.withColumnRenamed("mass", "authority")
        .join(hub.withColumnRenamed("mass", "hub"), "node")
        .join(F.broadcast(n), F.col("node") == n.n_nationkey)
    )
    return joined.select(
        F.col("node").alias("n_nationkey"), "n_name", "authority", "hub"
    ).orderBy(F.desc("authority"), "n_nationkey")


def _hits_sql() -> str:
    steps = []
    prev_h = "h0"
    for i in range(_HITS_ROUNDS):
        steps.append(
            f"""a{i + 1}r AS (
  SELECT n.node, COALESCE(SUM(h.mass * e.w), 0) AS raw
  FROM nodes n
  LEFT JOIN (edges e JOIN {prev_h} h ON h.node = e.src) ON e.dst = n.node
  GROUP BY n.node
), a{i + 1} AS (
  SELECT node,
         CAST(raw // GREATEST(1, SUM(raw) OVER () // {_HITS_SCALE})
              AS BIGINT) AS mass
  FROM a{i + 1}r
), h{i + 1}r AS (
  SELECT n.node, COALESCE(SUM(a.mass * e.w), 0) AS raw
  FROM nodes n
  LEFT JOIN (edges e JOIN a{i + 1} a ON a.node = e.dst) ON e.src = n.node
  GROUP BY n.node
), h{i + 1} AS (
  SELECT node,
         CAST(raw // GREATEST(1, SUM(raw) OVER () // {_HITS_SCALE})
              AS BIGINT) AS mass
  FROM h{i + 1}r
)"""
        )
        prev_h = f"h{i + 1}"
    chain = ",\n".join(steps)
    return f"""
WITH nodes AS (SELECT n_nationkey AS node FROM nation),
edges AS (
  SELECT c_nationkey AS src, s_nationkey AS dst, COUNT(*) AS w
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
h0 AS (SELECT node, CAST({_HITS_SCALE} AS BIGINT) AS mass FROM nodes),
{chain}
SELECT a.node AS n_nationkey, n.n_name,
       a.mass AS authority, h.mass AS hub
FROM a{_HITS_ROUNDS} a
JOIN h{_HITS_ROUNDS} h ON h.node = a.node
JOIN nation n ON a.node = n.n_nationkey
ORDER BY a.mass DESC, a.node
"""


GRAPH_HITS_SQL = _hits_sql()


# ---------------------------------------------------------------------------
# graph_assortativity — degree assortativity (Pearson r over edge endpoints)
# ---------------------------------------------------------------------------

# Pearson over the (deg_src, deg_dst) pairs of every directed edge —
# the standard Newman assortativity; one shared IEEE expression over
# exact decimal sufficient statistics, so both engines round alike
_ASSORT_R = (
    "(CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * SQRT(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
)


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — do popular
    products co-occur with popular products (r > 0) or with niche ones
    (r < 0)? Newman's metric is the Pearson correlation of endpoint
    degrees over the symmetrized edge list; every sufficient statistic
    (m, Σx, Σy, Σxy, Σx², Σy²) reduces as exact decimal sums over one
    degree-decorated edge pass, and r is ONE closed-form double shared
    verbatim with the oracle.

    Scale: two stats/AQE-planned joins of the node-grain degree table
    onto the edges plus
    one map-side-combinable aggregate — no quadratic structure, no
    windows. Output carries the exact sums so the gate pins more than
    the one float."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    decorated = (
        sym.join(deg, "src")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.withColumnRenamed("src", "dst")
            .withColumnRenamed("deg", "dy"),
            "dst",
        )
    )
    x = F.col("dx").cast("decimal(18,0)")
    y = F.col("dy").cast("decimal(18,0)")
    agg = decorated.agg(
        F.count("*").alias("m"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    return agg.selectExpr(
        "CAST(m AS BIGINT) AS m_directed_edges",
        "CAST(sx AS BIGINT) AS sum_deg_src",
        "CAST(sxy AS BIGINT) AS sum_deg_prod",
        f"{_ASSORT_R} AS assortativity_r",
    )


GRAPH_ASSORT_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
decorated AS (
  SELECT dx.deg AS dxv, dy.deg AS dyv
  FROM sym s
  JOIN deg dx ON s.src = dx.src
  JOIN deg dy ON s.dst = dy.src
),
agg AS (
  SELECT COUNT(*) AS m,
         SUM(CAST(dxv AS DECIMAL(18,0))) AS sx,
         SUM(CAST(dyv AS DECIMAL(18,0))) AS sy,
         SUM(CAST(dxv AS DECIMAL(18,0)) * CAST(dyv AS DECIMAL(18,0))) AS sxy,
         SUM(CAST(dxv AS DECIMAL(18,0)) * CAST(dxv AS DECIMAL(18,0))) AS sxx,
         SUM(CAST(dyv AS DECIMAL(18,0)) * CAST(dyv AS DECIMAL(18,0))) AS syy
  FROM decorated
)
SELECT CAST(m AS BIGINT) AS m_directed_edges,
       CAST(sx AS BIGINT) AS sum_deg_src,
       CAST(sxy AS BIGINT) AS sum_deg_prod,
       {_ASSORT_R} AS assortativity_r
FROM agg
"""


# ---------------------------------------------------------------------------
# graph_resource_allocation — RA-index link prediction (degree-discounted)
# ---------------------------------------------------------------------------

_RA_TOPK = 20


def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction over the co-purchase graph —
    the degree-discounted upgrade of graph_link_prediction's
    common-neighbor count: each shared neighbor z contributes 1/deg(z),
    so hub midpoints (everyone buys them) stop dominating the
    candidate ranking. The benchmark-winning unsupervised index
    (Zhou/Lü/Zhang 2009), here with each contribution carried as
    exact ppm integers (10⁶ div deg) so the ranking is hash-exact.

    Scale shape: same wedge join as link prediction — only 2-hop pairs
    materialize, the midpoint's degree rides along via one keyed
    join, existing edges drop with an anti-join. Top-20 by
    (ra_ppm, pair) keeps the output stable."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    x = sym.alias("x")
    y = sym.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .join(deg.withColumnRenamed("src", "mid"),
              F.col("x.src") == F.col("mid"))
        .select(
            F.col("x.dst").alias("a"),
            F.col("y.dst").alias("b"),
            F.expr("1000000 div deg").alias("contrib"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"), F.sum("contrib").alias("ra_ppm"))
    )
    non_edges = wedges.join(
        e.withColumnRenamed("pa", "a").withColumnRenamed("pb", "b"),
        ["a", "b"],
        "left_anti",
    )
    return (
        non_edges.orderBy(F.desc("ra_ppm"), "a", "b")
        .limit(_RA_TOPK)
        .select("a", "b", "cn", "ra_ppm")
    )


GRAPH_RA_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
wedges AS (
  SELECT x.dst AS a, y.dst AS b,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_ppm
  FROM sym x
  JOIN sym y ON x.src = y.src AND x.dst < y.dst
  JOIN deg d ON d.src = x.src
  GROUP BY 1, 2
),
non_edges AS (
  SELECT w.* FROM wedges w
  LEFT JOIN edges e ON e.pa = w.a AND e.pb = w.b
  WHERE e.pa IS NULL
)
SELECT a, b, cn, ra_ppm
FROM non_edges
ORDER BY ra_ppm DESC, a, b
LIMIT {_RA_TOPK}
"""


# ---------------------------------------------------------------------------
# graph_local_clustering — per-node clustering coefficient, exact ppm
# ---------------------------------------------------------------------------


def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL clustering coefficient per node — 2·t(v)/(deg(v)·(deg(v)−1))
    in exact ppm — the node-level companion to graph_triangles' single
    global number: which products sit in tight cliques vs hub-and-spoke
    stars. t(v) counts closed wedges centered at v: the neighbor-pair
    wedge join (a < b) probes the oriented edge set with one equi-join
    — triangles enumerate once per center, never via all-pairs.

    Scale: wedge fan-out is Σ deg(v)², the standard triangle-counting
    bound; the closing probe is an equi-join on the oriented pair key.
    Output is node-sized, keyed by part, deterministic."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    x = sym.alias("x")
    y = sym.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .select(
            F.col("x.src").alias("v"),
            F.col("x.dst").alias("a"),
            F.col("y.dst").alias("b"),
        )
    )
    closed = (
        wedges.join(
            e.select(F.col("pa").alias("a"), F.col("pb").alias("b")),
            ["a", "b"],
        )
        .groupBy("v")
        .agg(F.count("*").alias("t"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(closed, deg.src == closed.v, "left_outer")
        .select(
            F.col("src").alias("node"),
            "deg",
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "(2000000 * COALESCE(t, 0L)) div (deg * (deg - 1))"
            ).alias("local_cc_ppm"),
        )
        .orderBy("node")
    )


GRAPH_LOCAL_CC_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
wedges AS (
  SELECT x.src AS v, x.dst AS a, y.dst AS b
  FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst
),
closed AS (
  SELECT w.v, COUNT(*) AS t
  FROM wedges w JOIN edges e ON e.pa = w.a AND e.pb = w.b
  GROUP BY 1
)
SELECT d.src AS node, CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(c.t, 0) AS BIGINT) AS triangles,
       CAST((2000000 * COALESCE(c.t, 0)) // (d.deg * (d.deg - 1)) AS BIGINT)
         AS local_cc_ppm
FROM deg d LEFT JOIN closed c ON d.src = c.v
WHERE d.deg >= 2
ORDER BY node
"""


# ---------------------------------------------------------------------------
# graph_jaccard_linkpred — neighborhood-Jaccard link prediction
# ---------------------------------------------------------------------------

_JC_TOPK = 20


def graph_jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction over the co-purchase graph —
    the normalized companion to graph_resource_allocation: a candidate
    pair scores |N(a)∩N(b)| / |N(a)∪N(b)|, so high-degree nodes stop
    winning on raw common-neighbor count. The union folds from degrees
    (|N(a)|+|N(b)|−cn — no second pair join), and the score is exact
    ppm integers (1e6·cn div union), hash-exact ranking.

    Scale shape: the same wedge equi-join (only 2-hop pairs ever
    materialize), the degree table joined TWICE (a- and b-side, planned
    by stats/AQE — node grain grows with the graph), anti-
    join drops existing edges. Top-20 by (j_ppm, pair) is a bounded
    TakeOrdered, not a global sort."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    x = sym.alias("x")
    y = sym.alias("y")
    cn = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
        .agg(F.count("*").alias("cn"))
    )
    scored = (
        cn.join(
            deg.select(F.col("src").alias("a"), F.col("deg").alias("deg_a")),
            "a",
        )
        .join(
            deg.select(F.col("src").alias("b"), F.col("deg").alias("deg_b")),
            "b",
        )
        .select(
            "a",
            "b",
            "cn",
            (F.col("deg_a") + F.col("deg_b") - F.col("cn")).alias("un"),
            F.expr("(1000000 * cn) div (deg_a + deg_b - cn)").alias("j_ppm"),
        )
    )
    non_edges = scored.join(
        e.withColumnRenamed("pa", "a").withColumnRenamed("pb", "b"),
        ["a", "b"],
        "left_anti",
    )
    return (
        non_edges.orderBy(F.desc("j_ppm"), "a", "b")
        .limit(_JC_TOPK)
        .select("a", "b", "cn", "un", "j_ppm")
    )


GRAPH_JACCARD_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
cn AS (
  SELECT x.dst AS a, y.dst AS b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym x
  JOIN sym y ON x.src = y.src AND x.dst < y.dst
  GROUP BY 1, 2
),
scored AS (
  SELECT c.a, c.b, c.cn,
         CAST(da.deg + db.deg - c.cn AS BIGINT) AS un,
         CAST((1000000 * c.cn) // (da.deg + db.deg - c.cn) AS BIGINT) AS j_ppm
  FROM cn c
  JOIN deg da ON da.src = c.a
  JOIN deg db ON db.src = c.b
),
non_edges AS (
  SELECT s.* FROM scored s
  LEFT JOIN edges e ON e.pa = s.a AND e.pb = s.b
  WHERE e.pa IS NULL
)
SELECT a, b, cn, un, j_ppm
FROM non_edges
ORDER BY j_ppm DESC, a, b
LIMIT {_JC_TOPK}
"""


# ---------------------------------------------------------------------------
# graph_closeness — source-seeded closeness + harmonic centrality
# ---------------------------------------------------------------------------

_CLOSE_MAX_HOPS = 8


def _all_pairs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the symmetrized nation trade graph: every
    node seeds a BFS whose state is (root, node, dist) pairs, so one
    delta-iteration loop computes all per-source distance tables at
    once. Each round joins only the frontier against the edge list and
    anti-joins already-settled (root, node) pairs — per-round work is
    frontier-sized, never graph-sized, and lineage is cut per round.
    At 100 TB you seed a sampled landmark set instead of all nodes;
    the plan is identical, only the seed table shrinks."""
    nodes, edges = _trade_edges(spark, sf_dir)
    sym = (
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    settled = nodes.select(
        F.col("node").alias("root"), "node", F.lit(0).alias("dist")
    ).localCheckpoint(eager=False)
    frontier = settled.select("root", "node")
    for h in range(1, _CLOSE_MAX_HOPS + 1):
        nbr = (
            frontier.join(sym, frontier.node == sym.src)
            .select("root", F.col("dst").alias("node"))
            .distinct()
        )
        # lazy checkpoints: the frontier count is the round's one job
        # (same shape as operators/graph.bfs_hops)
        new = (
            nbr.join(settled.select("root", "node"), ["root", "node"], "left_anti")
            .select("root", "node", F.lit(h).alias("dist"))
            .localCheckpoint(eager=False)
        )
        if new.count() == 0:
            break
        settled = settled.unionAll(new).localCheckpoint(eager=False)
        frontier = new.select("root", "node")
    return settled


def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness and harmonic centrality on the (symmetrized) nation
    trade graph via multi-source BFS: every node seeds a BFS whose
    state is (root, node, dist) pairs, so ONE delta-iteration loop
    computes all per-source distance tables at once — the standard
    "landmark" centrality shape (at 100 TB you seed a sampled landmark
    set instead of all nodes; the plan is identical, only the seed
    table shrinks).

    Each round joins only the frontier against the edge list and
    anti-joins already-settled (root, node) pairs — per-round work is
    frontier-sized, never graph-sized, and lineage is cut per round.
    Harmonic sums carry 1/d as exact ppm integers (10⁶ div d);
    closeness (n_reached−1)/Σd is the one shared IEEE double.
    """
    settled = _all_pairs_hops(spark, sf_dir)
    per = settled.groupBy("root").agg(
        F.count("*").alias("n_reached"),
        F.sum("dist").alias("dist_sum"),
        F.sum(
            F.when(F.col("dist") > 0, F.expr("1000000 div dist")).otherwise(0)
        ).alias("harmonic_ppm"),
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        per.join(F.broadcast(n), per.root == n.n_nationkey)
        .select(
            F.col("root").alias("n_nationkey"),
            "n_name",
            F.col("n_reached").cast("long").alias("n_reached"),
            F.col("dist_sum").cast("long").alias("dist_sum"),
            F.col("harmonic_ppm").cast("long").alias("harmonic_ppm"),
            F.expr(
                "CAST(n_reached - 1 AS DOUBLE) / dist_sum"
            ).alias("closeness"),
        )
        .orderBy(F.desc("harmonic_ppm"), "n_nationkey")
    )


GRAPH_CLOSENESS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
),
sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst, src FROM edges
),
nodes AS (SELECT n_nationkey AS node FROM nation),
walk AS (
  SELECT node AS root, node, 0 AS dist FROM nodes
  UNION
  SELECT w.root, s.dst AS node, w.dist + 1 AS dist
  FROM walk w JOIN sym s ON s.src = w.node
  WHERE w.dist < {_CLOSE_MAX_HOPS}
),
best AS (SELECT root, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2),
per AS (
  SELECT root, COUNT(*) AS n_reached,
         CAST(SUM(dist) AS BIGINT) AS dist_sum,
         CAST(SUM(CASE WHEN dist > 0 THEN 1000000 // dist ELSE 0 END)
              AS BIGINT) AS harmonic_ppm
  FROM best GROUP BY 1
)
SELECT p.root AS n_nationkey, n.n_name,
       CAST(p.n_reached AS BIGINT) AS n_reached,
       p.dist_sum, p.harmonic_ppm,
       CAST(p.n_reached - 1 AS DOUBLE) / p.dist_sum AS closeness
FROM per p JOIN nation n ON p.root = n.n_nationkey
ORDER BY p.harmonic_ppm DESC, p.root
"""


# ---------------------------------------------------------------------------
# graph_katz — Katz centrality by integer fixed-point iteration
# ---------------------------------------------------------------------------

_KATZ_ITERS = 8
_KATZ_SCALE = 1_000_000_000_000
_KATZ_ALPHA_DEN = 8  # α = 1/8, safely below 1/λ_max for this graph


def graph_katz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the DIRECTED nation trade graph: x ← 1 +
    α·Aᵀx iterated 8 rounds from x = 1 — the prestige measure that,
    unlike PageRank, does not normalize by out-degree (a node is
    central if many central nodes point AT it, regardless of how
    diffuse their attention is).

    Bit-exact like graph_pagerank: mass is integer at scale 10¹²,
    α = 1/8 is an integer division per edge contribution, and the
    DuckDB oracle unrolls the same 8 rounds as chained CTEs. Each
    Spark round is one frontier-free edge join + partial aggregate on
    the 25-node mass table (broadcast-sized here; hash-partitioned by
    node at scale), localCheckpointed so lineage stays flat.
    """
    _, edges_w = _trade_edges(spark, sf_dir)
    edges = edges_w.select("src", "dst").distinct().localCheckpoint(eager=False)
    n = load_table(spark, sf_dir, "nation")
    nodes = n.select(F.col("n_nationkey").alias("node")).localCheckpoint(eager=False)
    mass = nodes.select("node", F.lit(_KATZ_SCALE).alias("mass"))
    for _ in range(_KATZ_ITERS):
        contrib = (
            edges.join(mass, edges.src == mass.node)
            .select(F.col("dst").alias("node"),
                    F.expr(f"mass div {_KATZ_ALPHA_DEN}").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_mass"))
        )
        mass = (
            nodes.join(contrib, "node", "left_outer")
            .select(
                "node",
                (F.lit(_KATZ_SCALE) + F.coalesce("in_mass", F.lit(0))).alias(
                    "mass"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return (
        mass.join(F.broadcast(n), mass.node == n.n_nationkey)
        .select(F.col("node").alias("n_nationkey"), "n_name", "mass")
        .orderBy(F.desc("mass"), "n_nationkey")
    )


def _katz_sql() -> str:
    steps = []
    for i in range(_KATZ_ITERS):
        steps.append(
            f"""k{i + 1} AS (
  SELECT n.node,
         CAST({_KATZ_SCALE} + COALESCE(SUM(p.mass // {_KATZ_ALPHA_DEN}), 0)
              AS BIGINT) AS mass
  FROM nodes n
  LEFT JOIN (edges e JOIN k{i} p ON p.node = e.src) ON e.dst = n.node
  GROUP BY n.node
)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH nodes AS (SELECT n_nationkey AS node FROM nation),
edges AS (
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
),
k0 AS (SELECT node, CAST({_KATZ_SCALE} AS BIGINT) AS mass FROM nodes),
{chain}
SELECT p.node AS n_nationkey, n.n_name, p.mass
FROM k{_KATZ_ITERS} p JOIN nation n ON p.node = n.n_nationkey
ORDER BY p.mass DESC, p.node
"""


GRAPH_KATZ_SQL = _katz_sql()


# ---------------------------------------------------------------------------
# graph_adamic_adar — Adamic-Adar link prediction (log-degree discount)
# ---------------------------------------------------------------------------


def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the co-purchase graph — the
    log-discounted sibling of graph_resource_allocation: each shared
    neighbor z contributes 1/ln(deg(z)), damping hubs gently instead
    of RA's hard 1/deg. Every wedge midpoint has ≥2 distinct
    neighbors by construction (the wedge needs two), so ln(deg) ≥
    ln 2 > 0 and the contribution is always finite.

    Contributions are quantized per-term to exact ppm integers
    (FLOOR(10⁶/ln(deg)+0.5) — the same IEEE ln in both engines, then
    an order-free integer sum), so the ranking is hash-exact. Scale
    shape: identical to RA — only 2-hop pairs materialize via the
    wedge join, the midpoint degree rides along on one keyed
    join, existing edges drop with an anti-join.
    """
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    x = sym.alias("x")
    y = sym.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .join(
            deg.withColumnRenamed("src", "mid"),
            F.col("x.src") == F.col("mid"),
        )
        .select(
            F.col("x.dst").alias("a"),
            F.col("y.dst").alias("b"),
            F.expr(
                "CAST(FLOOR(CAST(1000000 AS DOUBLE) / ln(CAST(deg AS DOUBLE))"
                " + CAST(0.5 AS DOUBLE)) AS BIGINT)"
            ).alias("contrib"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"), F.sum("contrib").alias("aa_ppm"))
    )
    non_edges = wedges.join(
        e.withColumnRenamed("pa", "a").withColumnRenamed("pb", "b"),
        ["a", "b"],
        "left_anti",
    )
    return (
        non_edges.orderBy(F.desc("aa_ppm"), "a", "b")
        .limit(_RA_TOPK)
        .select("a", "b", "cn", "aa_ppm")
    )


GRAPH_AA_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
wedges AS (
  SELECT x.dst AS a, y.dst AS b,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(FLOOR(CAST(1000000 AS DOUBLE)
              / ln(CAST(d.deg AS DOUBLE))
              + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS aa_ppm
  FROM sym x
  JOIN sym y ON x.src = y.src AND x.dst < y.dst
  JOIN deg d ON d.src = x.src
  GROUP BY 1, 2
),
non_edges AS (
  SELECT w.* FROM wedges w
  LEFT JOIN edges e ON e.pa = w.a AND e.pb = w.b
  WHERE e.pa IS NULL
)
SELECT a, b, cn, aa_ppm
FROM non_edges
ORDER BY aa_ppm DESC, a, b
LIMIT {_RA_TOPK}
"""


# ---------------------------------------------------------------------------
# graph_eccentricity — eccentricity / diameter / radius / center census
# ---------------------------------------------------------------------------


def graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eccentricity census of the symmetrized trade graph: per node the
    max shortest-hop distance to any reachable node, plus the graph-
    level diameter (max ecc), radius (min ecc), and center/periphery
    flags — the structural summary a network-topology monitor reads
    (reuses the multi-source landmark BFS of graph_closeness; one
    extra bounded rollup, no new graph-sized work).
    """
    settled = _all_pairs_hops(spark, sf_dir)
    ecc = settled.groupBy("root").agg(F.max("dist").alias("ecc"))
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        ecc.select(
            "root",
            "ecc",
            F.max("ecc").over(w_all).alias("diameter"),
            F.min("ecc").over(w_all).alias("radius"),
        )
        .join(F.broadcast(n), F.col("root") == n.n_nationkey)
        .select(
            F.col("root").alias("n_nationkey"),
            "n_name",
            F.col("ecc").cast("long").alias("ecc"),
            F.col("diameter").cast("long").alias("diameter"),
            F.col("radius").cast("long").alias("radius"),
            (F.col("ecc") == F.col("radius")).alias("is_center"),
            (F.col("ecc") == F.col("diameter")).alias("is_periphery"),
        )
        .orderBy("n_nationkey")
    )


GRAPH_ECC_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
),
sym AS (
  SELECT src, dst FROM edges
  UNION
  SELECT dst, src FROM edges
),
nodes AS (SELECT n_nationkey AS node FROM nation),
walk AS (
  SELECT node AS root, node, 0 AS dist FROM nodes
  UNION
  SELECT w.root, s.dst AS node, w.dist + 1 AS dist
  FROM walk w JOIN sym s ON s.src = w.node
  WHERE w.dist < {_CLOSE_MAX_HOPS}
),
best AS (SELECT root, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2),
ecc AS (SELECT root, MAX(dist) AS ecc FROM best GROUP BY 1),
g AS (
  SELECT root, ecc, MAX(ecc) OVER () AS diameter, MIN(ecc) OVER () AS radius
  FROM ecc
)
SELECT g.root AS n_nationkey, n.n_name,
       CAST(g.ecc AS BIGINT) AS ecc,
       CAST(g.diameter AS BIGINT) AS diameter,
       CAST(g.radius AS BIGINT) AS radius,
       g.ecc = g.radius AS is_center,
       g.ecc = g.diameter AS is_periphery
FROM g JOIN nation n ON g.root = n.n_nationkey
ORDER BY n_nationkey
"""


# ---------------------------------------------------------------------------
# graph_reciprocity — mutual-edge fraction of the directed trade graph
# ---------------------------------------------------------------------------


def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the directed nation trade graph (self-loops
    excluded): the fraction of directed edges whose reverse edge also
    exists — the first asymmetry statistic of any directed network
    (trade, follows, messaging). One edge-list self-join on the
    reversed key, exact ppm by integer division."""
    _, edges_w = _trade_edges(spark, sf_dir)
    e = (
        edges_w.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = e.join(rev, ["src", "dst"], "left_semi")
    return e.agg(F.count("*").alias("n_edges")).crossJoin(
        F.broadcast(recip.agg(F.count("*").alias("n_reciprocal")))
    ).select(
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        F.expr("n_reciprocal * 1000000 div n_edges").alias("reciprocity_ppm"),
    )


GRAPH_RECIP_SQL = """
WITH edges AS (
  SELECT DISTINCT c_nationkey AS src, s_nationkey AS dst
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE c_nationkey != s_nationkey
),
recip AS (
  SELECT e.* FROM edges e
  WHERE EXISTS (SELECT 1 FROM edges r
                WHERE r.src = e.dst AND r.dst = e.src)
)
SELECT CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT COUNT(*) FROM recip) AS BIGINT) AS n_reciprocal,
       CAST((SELECT COUNT(*) FROM recip) * 1000000
            // (SELECT COUNT(*) FROM edges) AS BIGINT) AS reciprocity_ppm
"""


# ---------------------------------------------------------------------------
# graph_degree_powerlaw — degree-distribution census + log-log tail fit
# ---------------------------------------------------------------------------


def graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law check on the co-purchase graph:
    the (degree, node-count) histogram fit by log-log OLS over
    degrees ≥ 2 — slope ≈ −2…−3 is the scale-free signature; a flat
    or convex fit flags an artificial/templated graph (the graph
    analogue of a Zipf fit over word frequencies).

    The histogram is two linear aggregations (degree per node, nodes
    per degree); the regression runs over the ≤max-degree histogram
    rows (round 6 absorbs libm/summation ulps). Output: fit + the
    histogram mass so the tail is auditable."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    hist = deg.groupBy("deg").agg(F.count("*").alias("n_nodes"))
    pts = hist.filter(F.col("deg") >= 2).select(
        F.expr("ln(CAST(deg AS DOUBLE))").alias("x"),
        F.expr("ln(CAST(n_nodes AS DOUBLE))").alias("y"),
    )
    fit = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tots = hist.agg(
        F.sum("n_nodes").alias("n_nodes_total"),
        F.max("deg").alias("max_degree"),
    )
    return fit.crossJoin(F.broadcast(tots)).select(
        F.col("n").cast("long").alias("n_degree_points"),
        F.col("n_nodes_total").cast("long").alias("n_nodes"),
        F.col("max_degree").cast("long").alias("max_degree"),
        F.round(
            F.expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)"), 6
        ).alias("powerlaw_slope"),
        F.round(
            F.expr(
                "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
                " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            ),
            6,
        ).alias("r2"),
    )


GRAPH_POWERLAW_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY 1),
hist AS (SELECT deg, COUNT(*) AS n_nodes FROM deg GROUP BY 1),
pts AS (
  SELECT ln(CAST(deg AS DOUBLE)) AS x, ln(CAST(n_nodes AS DOUBLE)) AS y
  FROM hist WHERE deg >= 2
),
fit AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM pts
),
tots AS (
  SELECT CAST(SUM(n_nodes) AS BIGINT) AS n_nodes_total,
         CAST(MAX(deg) AS BIGINT) AS max_degree
  FROM hist
)
SELECT CAST(n AS BIGINT) AS n_degree_points,
       n_nodes_total AS n_nodes, max_degree,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS powerlaw_slope,
       ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM fit, tots
"""


# ---------------------------------------------------------------------------
# graph_rectangles — 4-cycle (C4) motif census via wedge pairing
# ---------------------------------------------------------------------------


def graph_rectangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle census of the co-purchase graph: rectangles (two items
    sharing TWO distinct co-purchase partners) via the wedge-pairing
    identity #C4 = (Σ_{a<b} C(w_ab, 2))/2 where w_ab counts the
    wedges with endpoints (a, b) — each cycle is seen once from each
    of its two diagonals, hence the halving. Rectangles are the motif
    behind bipartite-core spam/collusion detection (triangle-free
    graphs can still be rectangle-dense).

    Scale shape: the same endpoint-pair aggregation as link
    prediction — only 2-hop pairs materialize, never triples; the
    combinatorics fold map-side. All exact BIGINTs."""
    e = _copurchase_pairs(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=False)
    sym = e.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        e.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    x = sym.alias("x")
    y = sym.alias("y")
    wedges = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .filter(F.col("x.dst") < F.col("y.dst"))
        .groupBy(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
        .agg(F.count("*").alias("w"))
    )
    return wedges.agg(
        F.count("*").cast("long").alias("n_endpoint_pairs"),
        F.sum("w").cast("long").alias("n_wedges"),
        F.expr("CAST(SUM(w * (w - 1) div 2) div 2 AS BIGINT)").alias(
            "n_rectangles"
        ),
    )


GRAPH_RECT_SQL = f"""
WITH {_COPURCHASE_CTE},
sym AS (
  SELECT pa AS src, pb AS dst FROM edges
  UNION ALL
  SELECT pb AS src, pa AS dst FROM edges
),
wedges AS (
  SELECT x.dst AS a, y.dst AS b, COUNT(*) AS w
  FROM sym x JOIN sym y ON x.src = y.src AND x.dst < y.dst
  GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_endpoint_pairs,
       CAST(SUM(w) AS BIGINT) AS n_wedges,
       CAST(SUM(w * (w - 1) // 2) // 2 AS BIGINT) AS n_rectangles
FROM wedges
"""


QUERIES = {
    "graph_closeness": (graph_closeness, GRAPH_CLOSENESS_SQL),
    "graph_eccentricity": (graph_eccentricity, GRAPH_ECC_SQL),
    "graph_reciprocity": (graph_reciprocity, GRAPH_RECIP_SQL),
    "graph_degree_powerlaw": (graph_degree_powerlaw, GRAPH_POWERLAW_SQL),
    "graph_rectangles": (graph_rectangles, GRAPH_RECT_SQL),
    "graph_katz": (graph_katz, GRAPH_KATZ_SQL),
    "graph_adamic_adar": (graph_adamic_adar, GRAPH_AA_SQL),
    "graph_pagerank": (graph_pagerank, GRAPH_PAGERANK_SQL),
    "graph_jaccard_linkpred": (graph_jaccard_linkpred, GRAPH_JACCARD_SQL),
    "graph_local_clustering": (graph_local_clustering, GRAPH_LOCAL_CC_SQL),
    "graph_sssp_weighted": (graph_sssp_weighted, GRAPH_SSSP_SQL),
    "graph_hits": (graph_hits, GRAPH_HITS_SQL),
    "graph_resource_allocation": (graph_resource_allocation, GRAPH_RA_SQL),
    "graph_assortativity": (graph_assortativity, GRAPH_ASSORT_SQL),
    "graph_modularity": (graph_modularity, GRAPH_MODULARITY_SQL),
    "graph_ppr": (graph_ppr, GRAPH_PPR_SQL),
    "graph_cc_distributed": (graph_cc_distributed, GRAPH_CC_DIST_SQL),
    "mb_frequent_pairs": (mb_frequent_pairs, MB_PAIRS_SQL),
    "graph_triangles": (graph_triangles, GRAPH_TRIANGLES_SQL),
    "graph_bfs_hops": (graph_bfs_hops, GRAPH_BFS_SQL),
    "graph_label_propagation": (graph_label_propagation, GRAPH_LPA_SQL),
    "rec_item_item": (rec_item_item, REC_ITEM_SQL),
    "graph_kcore": (graph_kcore, GRAPH_KCORE_SQL),
    "graph_link_prediction": (graph_link_prediction, GRAPH_LINK_SQL),
    "hier_rollup_closure": (hier_rollup_closure, HIER_ROLLUP_SQL),
}
