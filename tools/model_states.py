"""Fingerprint the models the ECG benchmark fits.

For each seed: build the ``perfbench/ecg.py`` set, split it the way
``run_pipeline`` does, fit the global tree and the local forest with the
benchmark's parameters, and print the sha256 of each model's
``to_state()`` (``json.dumps(..., sort_keys=True)``; the forest's is the
list of its trees' states). Two checkouts fit the same models exactly
when they print the same lines:

    python tools/model_states.py 21 31 32
    python tools/model_states.py --root ../other-checkout 21 31 32
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys


def _sha(state) -> str:
    return hashlib.sha256(json.dumps(state, sort_keys=True).encode()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("seeds", nargs="*", type=int, default=[21])
    ap.add_argument("--root", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    help="checkout whose bigdata_spark and perfbench to use")
    args = ap.parse_args()
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    # Python workers import the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))

    from bigdata_spark.ml.global_tree import GlobalProximityTree
    from bigdata_spark.ml.local_forest import LocalProximityForest
    from bigdata_spark.operators.preprocess import drop_all_null_rows
    from bigdata_spark.operators.sampling import stratified_split
    from bigdata_spark.session import get_spark
    from ecg import make_ecg
    from workloads import ECG_PARAMS, EcgPipelines, ecg_frame

    spark = get_spark("model_states")
    for seed in args.seeds:
        df = drop_all_null_rows(ecg_frame(spark, *make_ecg(EcgPipelines.rows, seed)))
        train, _ = stratified_split(df, "label", 0.8, seed=seed)
        tree = GlobalProximityTree(seed=seed, **ECG_PARAMS).fit(train)
        forest = LocalProximityForest(num_partitions=EcgPipelines.partitions, seed=seed, **ECG_PARAMS).fit(train)
        print(f"seed {seed} global {_sha(tree.to_state())} "
              f"forest {_sha([t.to_state() for t in forest.trees])} trees {len(forest.trees)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
