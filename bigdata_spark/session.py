"""SparkSession factory with scale-tuned defaults.

Mirrors the proven conf set of the reference (AQE + coalescePartitions,
Arrow, explicit shuffle partitions — reference code/src/test.py:13-46,
code/src/controller_loop.py:72-79) but sized for this harness
(local[32], 128 GiB) and designed so the same code runs unchanged on a
multi-executor cluster: nothing here assumes local mode except the
master default, which the caller/cluster submit overrides.

Cluster parity (reference controller_loop.py:62-69,93-107): the
reference detects a managed runtime and ships its source to workers
with ``addPyFile``. `_resolve_master` mirrors the detection — on a
platform-managed session (Databricks sets ``DATABRICKS_RUNTIME_VERSION``;
``spark-submit --master`` sets ``spark.master``) no master is forced —
and `ship_package` zips this package onto the executors' import path
so pandas-UDF/applyInPandas closures that import ``bigdata_spark``
resolve on every worker. `get_spark` ships automatically whenever the
effective master is not ``local[*]``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _resolve_master(master: str | None, env: dict | None = None) -> str | None:
    """Effective master: the caller's explicit choice wins; on a
    managed/submitted runtime return None (never override the
    platform); otherwise default to local[$SPARK_GRAFT_CPUS]."""
    e = os.environ if env is None else env
    if master is not None:
        return master
    if "DATABRICKS_RUNTIME_VERSION" in e or e.get("SPARK_MASTER"):
        return None
    return f"local[{e.get('SPARK_GRAFT_CPUS', '32')}]"


def ship_package(spark: SparkSession) -> str:
    """Zip ``bigdata_spark`` and ``addPyFile`` it so every executor can
    import the package (a cluster's Python workers do not share the
    driver's filesystem). Idempotent per session — Spark dedupes by
    file name. Returns the zip path."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "bigdata_spark_pkg")
    zip_path = shutil.make_archive(
        base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="bigdata_spark"
    )
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


def get_spark(
    app_name: str = "bigdata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster, ``master`` is left to spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = _resolve_master(master)
    if master is not None and master.startswith("local"):
        # spark-submit --master lands in the JVM system properties, not
        # the env — and builder.master() would override it. Never let
        # the local default clobber a submitted cluster master.
        try:
            from pyspark import SparkConf

            if SparkConf().contains("spark.master"):
                master = None
        except Exception:
            pass
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        # Deterministic wall-clock-independent semantics for oracle checks.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime re-planning, skew-join handling, partition coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Scans: size split partitions for executor memory at scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Per-file open cost charged when packing files into splits.
        # The 4 MiB default models high-latency opens (cold object
        # stores); with parquet footer caching and local/NVMe-class
        # storage 1 MiB is still conservative. Effect at scale (files
        # ≥ maxPartitionBytes) is nil — split size is governed by
        # totalBytes/minPartitionNum and maxPartitionBytes; effect on
        # small inputs is full-core scan parallelism instead of a
        # 4 MiB-floored split (measured: lineitem sf0.1 scan 3 → 11
        # tasks, 0.31 s → 0.22 s; 31-query subset −11% wall).
        .config("spark.sql.files.openCostInBytes", "1048576")
        # Broadcast threshold: dims (region/nation/supplier/part) stay
        # broadcast even at 100 TB fact scale.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # Locality wait is pure dead time in a single-JVM local session
        # (every block is process-local). Throughput-oriented batch
        # clusters commonly run 0 too and let scan partition sizing do
        # the locality work; latency-sensitive mixed clusters may
        # prefer the 3s default — override via extra_conf there.
        .config("spark.locality.wait", "0s")
    )
    if master is not None:
        builder = builder.master(master)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executors on any non-local master: worker
    # Python processes on a real cluster cannot import bigdata_spark
    # from the driver's filesystem (reference controller_loop.py ships
    # its sources the same way).
    # ("local-cluster[...]" counts as a cluster: its executors are
    # separate JVMs whose Python workers do not inherit the driver's
    # sys.path — only plain "local"/"local[...]" skips shipping.)
    effective = spark.conf.get("spark.master", master or "")
    is_single_jvm = effective == "local" or (
        effective.startswith("local[") and not effective.startswith("local-cluster")
    )
    if effective and not is_single_jvm:
        ship_package(spark)
    return spark
