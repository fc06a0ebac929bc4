"""Time one global proximity-tree fit at paper scale.

Build ``--rows`` series of the ``perfbench/ecg.py`` set, split them 80/20
the way ``run_pipeline`` does, fit ``GlobalProximityTree`` on the
training side, and print one JSON line: the fit's wall time, its
``fit_stats_`` (training rows, Spark jobs, the depth at which it went
local, the rows it held, the budget), the tree's depth and node count,
and the sha256 of its ``to_state()`` (``json.dumps(..., sort_keys=True)``).
A bootstrap-only fit (``max_depth=0``) runs first, so that ``fit_s``
does not include the session's one-time start of its Python workers. Two
checkouts fit the same tree exactly when they print the same sha256:

    python tools/global_fit_probe.py --rows 20000 --seed 11 --max-depth none
    python tools/global_fit_probe.py --root ../other-checkout --rows 20000 --seed 11 --max-depth none
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rows", type=int, default=20_000)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--max-depth", default="none", help="an int, or 'none' to grow until no node splits")
    ap.add_argument("--n-splitters", type=int, default=5)
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    help="checkout whose bigdata_spark and perfbench to use")
    args = ap.parse_args()
    max_depth = None if args.max_depth.lower() == "none" else int(args.max_depth)
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    # Python workers import the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))

    from bigdata_spark.ml.global_tree import GlobalProximityTree
    from bigdata_spark.operators.preprocess import drop_all_null_rows
    from bigdata_spark.operators.sampling import stratified_split
    from bigdata_spark.session import get_spark
    from ecg import make_ecg
    from workloads import ecg_frame

    spark = get_spark("global_fit_probe")
    df = drop_all_null_rows(ecg_frame(spark, *make_ecg(args.rows, args.seed)))
    train, _ = stratified_split(df, "label", 0.8, seed=args.seed)
    GlobalProximityTree(n_splitters=args.n_splitters, max_depth=0, seed=args.seed).fit(train)
    tree = GlobalProximityTree(n_splitters=args.n_splitters, max_depth=max_depth, seed=args.seed)
    t0 = time.perf_counter()
    tree.fit(train)
    fit_s = time.perf_counter() - t0
    state = json.dumps(tree.to_state(), sort_keys=True).encode()
    print(json.dumps({
        "rows": args.rows, "train_rows": tree.fit_stats_.get("rows"), "seed": args.seed, "max_depth": max_depth,
        "fit_s": round(fit_s, 3), "fit_stats_": tree.fit_stats_,
        "depth": tree.depth, "nodes": len(tree.tree), "sha256": hashlib.sha256(state).hexdigest(),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
