"""Scale-operator tests: bucketed shuffle-free joins, skew salting.

The assertions check the *plan property* each operator exists for —
zero Exchange for co-bucketed joins, result parity for salting — not
just output values."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_spark.operators.skew import salted_agg, salted_join
from bigdata_spark.sources.bucketing import bucketed_join, exchange_count, write_bucketed


def test_bucketed_join_no_shuffle(spark):
    # managed tables land in the session's default warehouse dir
    # (spark.sql.warehouse.dir is static config); DROP TABLE below
    # removes the files again
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 1000, 2).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("b")
    )
    write_bucketed(left, "t_left_b", "k", 4, sort_col="k")
    write_bucketed(right, "t_right_b", "k", 4, sort_col="k")
    # force the sort-merge path: at this toy size the planner would
    # rightly broadcast instead, which never exercises bucketing
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_left_b", "t_right_b", "k")
        assert joined.count() == 500
        # the whole point: co-bucketed equi-join plans with NO shuffle
        assert exchange_count(joined) == 0
        # same join on plain (unbucketed) data shuffles both sides
        plain = left.join(right, "k")
        plain.count()
        assert exchange_count(plain) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_left_b")
        spark.sql("DROP TABLE IF EXISTS t_right_b")


def test_salted_join_matches_plain(spark):
    # one hot key (0) with 5k rows, a long tail of singletons
    large = spark.range(0, 5000).select(
        F.when(F.col("id") < 4000, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [(0, "hot"), (4200, "cold"), (4500, "cold")], "k long, tag string"
    )
    got = salted_join(large, small, "k", n_salts=4)
    want = large.join(small, "k")
    assert got.count() == want.count() == 4002
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_salted_join_spreads_hot_key(spark):
    """Join-side twin of test_salted_agg_spreads_hot_key: the salted
    join's phase-1 shuffle key must be (key, salt) — the hot key's fact
    rows spread over all salt sub-groups — and the dim side must be
    replicated across every salt so no pair is lost."""
    n_salts = 4
    hot_rows = 4000
    large = spark.range(0, 5000).select(
        F.when(F.col("id") < hot_rows, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame([(0, "hot"), (4200, "cold")], "k long, tag string")
    # the hot key's rows occupy every salt sub-group, roughly uniformly
    salted = large.withColumn("_salt", (F.rand(42) * n_salts).cast("int"))
    counts = {
        r["_salt"]: r["count"]
        for r in salted.filter(F.col("k") == 0).groupBy("_salt").count().collect()
    }
    assert len(counts) == n_salts
    assert max(counts.values()) < hot_rows * 2 / n_salts
    # plan shape: the join's exchange partitions on the salt column too
    out = salted_join(large, small, "k", n_salts=n_salts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan, "join exchange must carry the salt column"
    # parity with the plain join under the same hot distribution
    want = large.join(small, "k")
    assert out.count() == want.count()
    assert out.exceptAll(want).count() == 0 and want.exceptAll(out).count() == 0


def test_salted_agg_matches_plain(spark):
    df = spark.range(0, 10000).select(
        F.when(F.col("id") < 9000, 0).otherwise(F.col("id") % 13).alias("k"),
        F.col("id").alias("v"),
    )
    got = salted_agg(
        df,
        "k",
        {
            "n": F.count("*"),
            "sum_v": F.sum("v"),
            "min_v": (F.min("v"), F.min),
            "max_v": (F.max("v"), F.max),
        },
        n_salts=8,
    ).orderBy("k")
    want = (
        df.groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("k")
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_salted_agg_spreads_hot_key(spark):
    """The point of salting: phase 1 must split the hot key's rows
    across (key, salt) sub-groups instead of one reducer group. Pins
    both the spread (all salts used, no sub-group holds more than 2/n
    of the hot rows) and the plan shape (phase-1 exchange partitions on
    key AND salt)."""
    n_salts = 8
    hot_rows = 8000
    df = spark.range(0, 10000).select(
        # tail keys start at 1 so they never collide with the hot key 0
        F.when(F.col("id") < hot_rows, 0)
        .otherwise((F.col("id") % 13) + 1)
        .alias("k"),
        F.col("id").alias("v"),
    )
    # phase 1 exactly as salted_agg builds it (same seed/salt expr)
    salted = df.withColumn("_salt", (F.rand(42) * n_salts).cast("int"))
    partials = (
        salted.filter(F.col("k") == 0).groupBy("k", "_salt").count().collect()
    )
    counts = {r["_salt"]: r["count"] for r in partials}
    assert len(counts) == n_salts, "hot key must occupy every salt sub-group"
    assert sum(counts.values()) == hot_rows
    assert max(counts.values()) < hot_rows * 2 / n_salts, (
        "rand salting should spread the hot key roughly uniformly; "
        f"got per-salt counts {sorted(counts.values())}"
    )
    # plan shape: the full two-phase agg shuffles on (k, _salt) first
    out = salted_agg(df, "k", {"n": F.count("*")}, n_salts=n_salts)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" in plan
    assert "_salt" in plan, "phase-1 exchange must partition on the salt column"


def test_connected_components(spark):
    from bigdata_spark.operators.graph import (
        connected_components,
        dedup_cluster_stats,
    )

    # two components: a 4-chain {1..4} (diameter > 1 forces iteration)
    # and a pair {10, 11}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # driver union-find path (default threshold)
    got = {
        r["vertex"]: r["component"] for r in connected_components(edges).collect()
    }
    assert got == want
    # distributed large-star/small-star path (threshold forced to 0)
    got_dist = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got_dist == want
    stats = dedup_cluster_stats(edges).collect()
    keepers = {r["vertex"] for r in stats if r["is_keeper"]}
    assert keepers == {1, 10}
    assert {r["vertex"]: r["cluster_size"] for r in stats} == {
        1: 4, 2: 4, 3: 4, 4: 4, 10: 2, 11: 2,
    }


def test_connected_components_high_diameter_chain(spark):
    """The round-2 min-label loop raised after 25 rounds on any
    component with diameter > 25; large-star/small-star must converge
    in O(log^2 n) rounds on a 120-vertex chain (diameter 119)."""
    from bigdata_spark.operators.graph import connected_components

    n = 120
    chain = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_random_vs_union_find(spark):
    """Distributed path agrees with the driver union-find on a random
    multi-component graph (shuffled ids, duplicate + reversed edges)."""
    import random

    from bigdata_spark.operators.graph import connected_components

    rng = random.Random(13)
    ids = list(range(0, 900, 3))
    rng.shuffle(ids)
    edges = []
    # 10 components of 30 shuffled vertices each, random spanning trees
    # plus noise edges, some reversed/duplicated
    for c in range(10):
        comp = ids[c * 30 : (c + 1) * 30]
        for i in range(1, len(comp)):
            edges.append((comp[i], comp[rng.randrange(i)]))
        for _ in range(10):
            a, b = rng.choice(comp), rng.choice(comp)
            if a != b:
                edges.append((a, b))
                edges.append((b, a))
    df = spark.createDataFrame(edges, "src long, dst long")
    want = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()  # driver path
    }
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert got == want
    assert len(set(want.values())) == 10


def test_salted_join_rejects_outer(spark):
    import pytest

    df = spark.range(2).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", how="full_outer")


def test_z2_matches_python_morton(spark):
    from bigdata_spark.operators.zorder import z2
    from pyspark.sql import functions as F

    def morton(x, y, bits=16):
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    pts = [(0, 0), (1, 0), (0, 1), (5, 3), (255, 255), (65535, 1), (70000, 2)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select("x", "y", z2(F.col("x"), F.col("y")).alias("z")).collect()
    }
    for x, y in pts:
        assert got[(x, y)] == morton(x & 0xFFFF, y & 0xFFFF), (x, y)


def test_null_safe_join_null_bucket(spark):
    """The NULL bucket must pair every null-key customer with every
    null-key supplier (what plain `=` would silently drop)."""
    from bigdata_spark.plans.relational import j6_null_safe_join
    from bigdata_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.01"
    nc = load_table(spark, sf, "customer").filter("c_nationkey = 0").count()
    ns = load_table(spark, sf, "supplier").filter("s_nationkey = 0").count()
    rows = {r["nationkey"]: r for r in j6_null_safe_join(spark, sf).collect()}
    if nc * ns:
        assert rows[None]["n_pairs"] == nc * ns
        assert rows[None]["is_null_bucket"] is True
    else:
        assert None not in rows


def test_binaryfile_source_prunes_decoy(spark):
    from bigdata_spark.plans.scaleq import s26_binaryfile_source

    rows = s26_binaryfile_source(spark, "/root/testdata/sf0.001").collect()
    names = [r["fname"] for r in rows]
    assert names == sorted(names) and len(names) == 4
    assert all(n.endswith(".png") for n in names)
    assert all(len(r["digest"]) == 32 for r in rows)
