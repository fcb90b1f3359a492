"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all
cores); the same config block is what we would ship to a 1000-executor
cluster — AQE on (runtime coalescing + skew-join handling), Arrow on
(every pandas_udf crossing is batched), UTC session timezone (parquet
timestamps compare bit-for-bit against the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kascade_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cpus}]"
    # Python workers inherit the JVM's environment; putting the compat
    # worker_site dir on PYTHONPATH *before* the JVM launches lets its
    # sitecustomize install the protobuf shim inside every worker —
    # which is where transformWithStateInPandas' state-protocol client
    # runs. No-op when the real protobuf package exists (the shim
    # checks first) or when the session already started. The mutation
    # is scoped: the prior PYTHONPATH is restored after getOrCreate so
    # the worker_site dir (and its sitecustomize) does not leak into
    # non-Spark subprocesses spawned later from this driver (ADVICE
    # r5); the JVM captured the env at launch, which is all workers see.
    # The package's parent directory rides along the same way, so the
    # workers can unpickle the package's functions (pandas_udf bodies)
    # even when the driver was started from a cwd outside the checkout.
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.compat import pbshim

    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prior_pp = os.environ.get("PYTHONPATH")
    pp = prior_pp.split(os.pathsep) if prior_pp else []
    missing = [d for d in (pbshim.worker_site_dir(), pkg_parent) if d not in pp]
    if missing:
        os.environ["PYTHONPATH"] = os.pathsep.join(missing + pp)
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", str(min(n, 32))))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sizing: ~cores locally; on a real cluster this would be
        # sized so post-shuffle partitions are 100-200MB (AQE coalesces down)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 16 MB: every genuine dim at test scales still auto-broadcasts,
        # but multi-million-row fact slices no longer do — the r6 30×
        # probe caught 64 MB letting a 4.5M-row orders build side
        # broadcast (single-threaded hash-relation build, super-linear
        # wall). AQE still upgrades shuffle joins to broadcast at
        # runtime from exact sizes when the small side proves small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # the driver's events fixture stores ts as TIMESTAMP(NANOS),
        # which vanilla Spark refuses — read as long, convert in catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # launch-time-only confs (event log, memory overrides) callers such
    # as the skew probe need; no-ops when the session already exists
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        if prior_pp is None:
            os.environ.pop("PYTHONPATH", None)
        else:
            os.environ["PYTHONPATH"] = prior_pp
    spark.sparkContext.setLogLevel("WARN")
    return spark
