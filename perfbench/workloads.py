"""The benchmark's workloads.

Each workload prepares its inputs from the seed, runs one untimed
warm-up pass whose outputs it checks against an independent reference,
then runs timed passes of a fixed unit of work. A pass that raises or
fails its check counts as failed operations.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import statistics

import numpy as np
import pandas as pd

from ecg import make_ecg
from tracing import EventLog, Tracer

ECG_PARAMS = {"n_splitters": 5, "max_depth": 10}


def ecg_frame(spark, X: np.ndarray, y: np.ndarray):
    pdf = pd.DataFrame({"label": y.astype("int32"), "features": list(X)})
    return spark.createDataFrame(pdf, "label int, features array<double>")


def _digest(labels, preds, feats) -> str:
    """Order-free hash of (series, label, prediction) triples."""
    rows = sorted(
        np.asarray(f, dtype=np.float64).tobytes() + int(l).to_bytes(4, "little") + int(p).to_bytes(4, "little")
        for l, p, f in zip(labels, preds, feats)
    )
    return hashlib.sha256(b"".join(rows)).hexdigest()[:16]


def _class_scores(labels: np.ndarray, preds: np.ndarray) -> tuple[float, float]:
    acc = float((labels == preds).mean())
    recalls = [float((preds[labels == c] == c).mean()) for c in np.unique(labels)]
    return acc, float(np.mean(recalls))


@contextlib.contextmanager
def captured_predictions(model_cls):
    """Record ``(model, predictions frame)`` for every ``predict`` call."""
    calls: list[tuple] = []
    original = model_cls.predict

    def predict(model, df, *args, **kwargs):
        out = original(model, df, *args, **kwargs)
        calls.append((model, out))
        return out

    model_cls.predict = predict
    try:
        yield calls
    finally:
        model_cls.predict = original


class Workload:
    name = ""
    why = ""

    def __init__(self, seed: int, work_dir: str, tracer: Tracer) -> None:
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.spark = None

    def prepare(self, spark) -> None:
        """Make the inputs; run several times to take a median set-up
        time, so it must be idempotent."""
        raise NotImplementedError

    def warm_up(self) -> list[str]:
        """One untimed pass; returns the checks its outputs failed."""
        raise NotImplementedError

    def run_pass(self) -> object:
        raise NotImplementedError

    def check_pass(self, out) -> list[str]:
        return []

    def ops_per_pass(self) -> int:
        return 1

    def probes(self) -> None:
        """Stand-alone layer calls, made only in a traced run."""

    def layer_metrics(self, log: EventLog, passes: list, outs: list, cores: int) -> dict[str, float]:
        return {}


def _global_reference(model, X: np.ndarray) -> np.ndarray:
    """Walk the fitted global tree on the driver for every row."""
    nodes = model.to_state()["nodes"]
    out = np.empty(len(X), dtype=np.int64)
    for i, x in enumerate(X):
        node = nodes["0"]
        while not node["is_leaf"]:
            ex = np.asarray(node["exemplars"], dtype=np.float64)
            branch = int(np.argmin(((ex - x) ** 2).sum(axis=1)))
            node = nodes[str(node["children"][str(branch)])]
        out[i] = model.majority_class if node["prediction"] is None else node["prediction"]
    return out


def _forest_reference(model, X: np.ndarray) -> np.ndarray:
    """Weighted vote of the forest's trees on the driver; ties go to the
    smallest class."""
    classes = sorted({int(c) for t in model.trees for c in t.classes_})
    votes = np.zeros((len(X), len(classes)))
    for tree, w in zip(model.trees, model.weights):
        for r, p in enumerate(tree.predict(X)):
            votes[r, classes.index(int(p))] += w
    return np.asarray(classes)[np.argmax(votes, axis=1)]


class EcgPipelines(Workload):
    """Both proximity models through ``run_pipeline`` on one seeded
    ECG-shaped set: the global tree (one Spark job and one driver
    round-trip per level) and then the local forest on 8 balanced
    partitions (numpy trees inside applyInPandas after three shuffles).

    The warm-up pass runs on a smaller set drawn from the next seed: it
    compiles the same plans at a fraction of the cost, and its
    predictions are checked row by row against a driver-side model walk.
    Timed passes must all give the fingerprint of the first, and so must
    every run of one seed."""

    name = "ecg_global_local"
    why = ("2,000 ECG-shaped series through the global proximity tree (depth 10, driver-bound) "
           "and the local forest on 8 partitions (applyInPandas after 3 shuffles)")
    rows = 2000
    warm_rows = 500
    partitions = 8
    expected = None
    digests: tuple = ()

    def prepare(self, spark) -> None:
        self.spark = spark
        self.X, self.y = make_ecg(self.rows, self.seed)
        frames = [
            ecg_frame(spark, X, y).persist()
            for X, y in ((self.X, self.y), make_ecg(self.warm_rows, self.seed + 1))
        ]
        for f in frames:
            f.count()
        for f in getattr(self, "frames", []):
            f.unpersist()
        self.frames = frames
        self.df, self.warm_df = frames

    def pipelines(self, df) -> list[dict]:
        from bigdata_spark.plans.pipeline import run_pipeline

        return [
            run_pipeline(df, model="global", seed=self.seed, **ECG_PARAMS),
            run_pipeline(df, model="local", num_partitions=self.partitions, seed=self.seed, **ECG_PARAMS),
        ]

    def ops_per_pass(self) -> int:
        return 2

    def run_pass(self):
        return self.pipelines(self.df)

    def warm_up(self) -> list[str]:
        from bigdata_spark.ml.global_tree import GlobalProximityTree
        from bigdata_spark.ml.local_forest import LocalProximityForest

        with captured_predictions(GlobalProximityTree) as g, captured_predictions(LocalProximityForest) as l:
            reports = self.pipelines(self.warm_df)
        fails, self.digests = [], []
        for (model, preds), report, reference in zip(g + l, reports, (_global_reference, _forest_reference)):
            f, digest = self._check_predictions(model, preds, report, reference)
            fails += f
            self.digests.append(digest)
        return fails

    def check_pass(self, out) -> list[str]:
        fp = [{k: r[k] for k in ("rows", "performance", "complexity")} for r in out]
        if self.expected is not None:
            return [] if fp == self.expected else ["pass result differs from the first timed pass"]
        self.expected = fp
        fails = [
            f"{r['model']} accuracy {r['performance']['accuracy']} outside (0, 1): the classes no longer overlap"
            for r in out
            if not 0.0 < r["performance"]["accuracy"] < 1.0
        ]
        depth = out[0]["complexity"]["depth"]
        if depth < 10:
            fails.append(f"global tree depth {depth} < 10: the classes separate too easily")
        return fails + self._check_store({"timed": fp, "warm_up": self.digests})

    def _check_store(self, fp: dict) -> list[str]:
        """Every run of one seed must give the same fingerprint."""
        d = os.path.join(self.work_dir, "fingerprints")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.name}-{self.seed}.json")
        fp = json.loads(json.dumps(fp))
        if os.path.exists(path):
            with open(path) as f:
                if json.load(f) != fp:
                    return [f"fingerprint differs from an earlier run of seed {self.seed}"]
            return []
        with open(path, "w") as f:
            json.dump(fp, f, sort_keys=True)
        return []

    @staticmethod
    def _check_predictions(model, preds, report, reference) -> tuple[list[str], str]:
        """Spark's predictions against a driver-side walk of the same
        fitted model, and the reported scores against ones recomputed
        from those predictions."""
        pdf = preds.select("label", "prediction", "features").toPandas()
        labels = pdf["label"].to_numpy()
        got = pdf["prediction"].to_numpy()
        X = np.stack(pdf["features"].to_numpy())
        fails = []
        want = reference(model, X)
        if not np.array_equal(got, want):
            fails.append(f"{report['model']}: {int((got != want).sum())} predictions differ from a driver-side walk")
        acc, bacc = _class_scores(labels, got)
        perf = report["performance"]
        if abs(perf["accuracy"] - acc) > 1e-6 or abs(perf["balanced_accuracy"] - bacc) > 1e-6:
            fails.append(f"{report['model']}: reported scores {perf} differ from recomputed {acc:.6f}/{bacc:.6f}")
        return fails, _digest(labels, got, X)

    def probes(self) -> None:
        from pyspark.sql import functions as F

        from bigdata_spark.functions.distances import nearest_exemplar_index
        from bigdata_spark.ml.proximity import ProximityTree
        from bigdata_spark.operators.preprocess import balanced_stratified_repartition
        from bigdata_spark.operators.sampling import stratified_split

        # one fixed exemplar per class: the first generated series of it
        exemplars = [self.X[np.flatnonzero(self.y == c)[0]].tolist() for c in np.unique(self.y)]
        lit = F.array(*[F.array(*[F.lit(v) for v in e]) for e in exemplars])
        # the driver-local learner on the rows of one forest partition
        n = self.rows // self.partitions
        for _ in range(3):
            with self.tracer.span("distances.nearest_exemplar"):
                self.df.select(nearest_exemplar_index("features", lit).alias("ix")).write.format(
                    "noop"
                ).mode("overwrite").save()
            with self.tracer.span("sampling.stratified_split"):
                train, test = stratified_split(self.df, "label", 0.8, seed=self.seed)
                train.count()
                test.count()
            with self.tracer.span("preprocess.balanced_repartition"):
                balanced_stratified_repartition(self.df, "label", self.partitions, seed=self.seed).write.format(
                    "noop"
                ).mode("overwrite").save()
            with self.tracer.span("proximity.fit"):
                tree = ProximityTree(seed=self.seed, **ECG_PARAMS).fit(self.X[:n], self.y[:n])
            with self.tracer.span("proximity.predict"):
                tree.predict(self.X[n:])

    def layer_metrics(self, log, passes, outs, cores):
        def spans(name, within=None):
            return [log.stats(s, cores) | {"s": s.seconds} for s in self.tracer.named(name, within)]

        gfit = [x for p in passes for x in spans("global_tree.fit", p)]
        lfit = [x for p in passes for x in spans("local_forest.fit", p)]
        repart = spans("preprocess.balanced_repartition")
        glob = [o[0] for o in outs]
        loc = [o[1] for o in outs]

        def med_span(name):
            return _med(s.seconds for s in self.tracer.named(name))

        return {
            "global_tree.fit_s": _med(f["s"] for f in gfit),
            "global_tree.fit.jobs": _med(f["jobs"] for f in gfit),
            "global_tree.fit.driver_only_s": _med(f["driver_only_s"] for f in gfit),
            "global_tree.levels": glob[0]["complexity"]["depth"],
            "global_tree.nodes": glob[0]["complexity"]["n_nodes"],
            "global_tree.predict_s": _med(r["timing"]["prediction_time"] for r in glob),
            "local_forest.fit_s": _med(f["s"] for f in lfit),
            "local_forest.fit.executor_cpu_s": _med(f["executor_cpu_s"] for f in lfit),
            "local_forest.fit.core_utilization": _med(f["core_utilization"] for f in lfit),
            "local_forest.predict_s": _med(r["timing"]["prediction_time"] for r in loc),
            "proximity.fit_s": med_span("proximity.fit"),
            "proximity.predict_s": med_span("proximity.predict"),
            "sampling.stratified_split_s": med_span("sampling.stratified_split"),
            "preprocess.balanced_repartition_s": _med(r["s"] for r in repart),
            "preprocess.balanced_repartition.shuffle_write_mb": _med(r["shuffle_write_mb"] for r in repart),
            "distances.nearest_exemplar_s": med_span("distances.nearest_exemplar"),
            "evaluation.confusion_s": _med(
                sum(s.seconds for s in self.tracer.named("evaluation.confusion", p)) for p in passes
            ),
            "global_tree.train_series_per_s": _med(r["rows"]["train"] / r["timing"]["training_time"] for r in glob),
            "local_forest.train_series_per_s": _med(r["rows"]["train"] / r["timing"]["training_time"] for r in loc),
            "ecg.score_series_per_s": _med(
                (g["rows"]["test"] + l["rows"]["test"]) / (g["timing"]["prediction_time"] + l["timing"]["prediction_time"])
                for g, l in zip(glob, loc)
            ),
            "global_tree.accuracy": glob[0]["performance"]["accuracy"],
            "global_tree.balanced_accuracy": glob[0]["performance"]["balanced_accuracy"],
            "local_forest.accuracy": loc[0]["performance"]["accuracy"],
            "local_forest.balanced_accuracy": loc[0]["performance"]["balanced_accuracy"],
        }


# Nine of the 22 plans, one per plan shape: within the benchmark's time
# budget a run has room for a cold and two warm passes over nine
# queries, not over all 22.
TPCH_QUERIES = (1, 3, 5, 6, 9, 13, 18, 21, 22)


def tpch_queries() -> dict:
    from bigdata_spark.plans import all_queries

    registry = all_queries()
    return {f"tpch_q{q}": registry[f"tpch_q{q}"] for q in TPCH_QUERIES}


def _normalize(pdf: pd.DataFrame) -> list[tuple]:
    """Order-free, type-tagged rows, as tools/check_oracles.py compares
    Spark and DuckDB results: int and float of equal value differ,
    floats compare at 12 significant digits, nulls and NaN are one.
    Kept here so that editing the development tool cannot change what
    the benchmark accepts."""
    import datetime as dt
    import decimal

    def cell(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
            return ("n", "")
        if isinstance(v, (bool, np.bool_)):
            return ("b", str(bool(v)))
        if isinstance(v, (float, np.floating)):
            return ("f", "0.0" if v == 0 else f"{float(v):.12g}")
        if isinstance(v, (int, np.integer)):
            return ("i", str(int(v)))
        if isinstance(v, decimal.Decimal):
            return ("d", str(v.normalize()))
        if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
            return ("t", pd.Timestamp(v).isoformat())
        return ("s", str(v))

    cols = sorted(pdf.columns)
    return sorted(tuple(cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None))


class Tpch(Workload):
    name = "tpch_sf0.01"
    why = ("nine TPC-H plan shapes on a seeded sf0.01 corpus in seeded order: scan, join, "
           "aggregate under the session config; no Python workers or ml code")
    sf = 0.01

    def prepare(self, spark) -> None:
        import duckdb

        from tpch_gen import TABLES, write_corpus

        self.spark = spark
        self.data_dir = os.path.join(self.work_dir, "tpch", f"seed-{self.seed}")
        write_corpus(self.data_dir, self.sf, self.seed)
        self.queries = tpch_queries()
        self.order = sorted(self.queries)
        random.Random(self.seed).shuffle(self.order)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
            self.oracle = {
                q: (sorted(df.columns), _normalize(df))
                for q in self.order
                for df in [con.execute(self.queries[q][1]).fetchdf()]
            }
        finally:
            con.close()

    def ops_per_pass(self) -> int:
        return len(self.order)

    def warm_up(self) -> list[str]:
        fails = []
        for q in self.order:
            pdf = self.queries[q][0](self.spark, self.data_dir).toPandas()
            cols, rows = self.oracle[q]
            if sorted(pdf.columns) != cols:
                fails.append(f"{q}: columns {sorted(pdf.columns)} != oracle {cols}")
            elif _normalize(pdf) != rows:
                fails.append(f"{q}: {len(pdf)} rows differ from the DuckDB oracle ({len(rows)} rows)")
        return fails

    def run_pass(self):
        times = {}
        for q in self.order:
            with self.tracer.span(f"tpch.{_qname(q)}") as s:
                self.queries[q][0](self.spark, self.data_dir).write.format("noop").mode("overwrite").save()
            times[q] = s.seconds
        return times

    def layer_metrics(self, log, passes, outs, cores):
        out = {}
        for q in self.queries:
            name = f"tpch.{_qname(q)}"
            st = [log.stats(s, cores) for p in passes for s in self.tracer.named(name, p)]
            out[f"{name}_s"] = _med(o[q] for o in outs)
            out[f"{name}.stages"] = _med(x["stages"] for x in st)
            out[f"{name}.shuffle_read_mb"] = _med(x["shuffle_read_mb"] for x in st)
            out[f"{name}.input_mb"] = _med(x["input_mb"] for x in st)
        per_query = [t for o in outs for t in o.values()]
        out["tpch.query_s_p50"] = statistics.median(per_query)
        out["tpch.query_s_max"] = max(per_query)
        return out


def _qname(q: str) -> str:
    return f"q{int(q.removeprefix('tpch_q')):02d}"


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


WORKLOADS = {w.name: w for w in (EcgPipelines, Tpch)}
