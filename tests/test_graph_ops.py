"""Connected components (operators/graph.py): the driver path for
small edge sets and convergence of the distributed star loop."""

from __future__ import annotations


def test_cc_driver_path_reported(spark):
    from bigdata_spark.operators import graph as G
    from bigdata_spark.operators.graph import connected_components

    e = spark.createDataFrame([(1, 2), (2, 3), (9, 9)], "src long, dst long")
    out = {r["vertex"]: r["component"] for r in connected_components(e).collect()}
    assert G.last_run_info["path"] == "driver"
    assert out == {1: 1, 2: 1, 3: 1, 9: 9}


def test_cc_converges_with_small_iteration_budget(spark):
    """ADVICE r7: an already-star-shaped graph with max_iter <= 5 must
    converge (two signature checks fit inside the budget), not raise."""
    from bigdata_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 40)], "src long, dst long"
    )
    # driver_threshold=0 forces the distributed star-loop path
    out = connected_components(edges, max_iter=3, driver_threshold=0)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}
