"""SparkSession builders tuned for the engine.

Defaults target the sandbox (local[N], single JVM) but every knob is the one
you would set on a real multi-executor cluster: AQE on (runtime re-planning +
skew-join splitting), Arrow on (vectorized pandas UDF transfer), shuffle
partition count sized to the parallelism level, broadcast threshold for small
dimension/model tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size for the distance/scoring pandas UDFs: large enough to
# amortize the Python call round-trip (measured: 30k beats 10k by ~15% on
# the scoring stage at width 8 AND 32), small enough that a batch of
# (left, right) string pairs plus the DP scratch stays ~100-200 MB per
# worker — comfortable headroom on standard 4-8 GB/core executors.
ARROW_BATCH = 30_000


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the number of cores this process may run
    on. Python workers stay resident, at least one per concurrent task, so
    the width should not exceed the machine."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_mem() -> str:
    """``$SPARK_DRIVER_MEM``, else half of physical RAM in whole GB (at
    least 1g, at most 24g). In local mode the driver heap holds every
    task's shuffle and cache blocks, and the Python workers need the rest
    of the machine."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{min(24, max(1, ram_gb // 2))}g"


def get_spark(
    app_name: str = "dedupe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default: the cores
    this process may run on); on a real cluster pass ``None`` and let
    spark-submit decide.
    """
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    # Parse parallelism out of local[N] for shuffle sizing; on a cluster you
    # would size this to executors*cores (or rely on AQE coalescing).
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200

    builder = SparkSession.builder.appName(app_name)
    # master == "cluster": leave the master to spark-submit / cluster
    # manager (the packaged entrypoint scripts/run_pipeline.py uses this)
    if master != "cluster":
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH)
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # warm Python workers: a fresh worker per task would pay its imports
        # and the closure/broadcast unpickle on every task, most of the
        # Python time of a short UDF stage. Worker memory and round time
        # stay flat over a long session (test_api.py::
        # test_long_labeling_session_keeps_workers_warm)
        .config("spark.python.worker.reuse", "true")
        # local[N] runs all executor threads inside the driver JVM — size the
        # heap for N concurrent tasks' shuffle + cache blocks or GC dominates
        .config("spark.driver.memory", default_driver_mem())
        # batch engine, no latency SLO: the throughput collector beats G1's
        # pause-bounded collection at width 32 (~5% on the scoring stage,
        # measured via A/B on the scaling workload)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
