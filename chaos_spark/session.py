"""SparkSession factory with the engine's standard configuration.

Arrow on (all pandas-UDF paths are Arrow-batched), AQE on (runtime
coalescing + skew-join splitting is our analogue of Chaos's chunk-level
work stealing, [C15] §3.2), shuffle partitions sized for the host.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "chaos-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for the engine.

    ``master=None`` defers to spark-submit / an existing session so the same
    code runs under ``spark-submit --py-files chaos_spark.zip`` on a real
    cluster and under ``local[N]`` in tests and benchmarks.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions
            or int(os.environ.get("SPARK_GRAFT_CPUS", 0))
            or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Iterative jobs re-scan the same (cached) tables; generous broadcast
        # threshold lets AQE pick broadcast joins for small frontiers/dims.
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.files.maxPartitionBytes": "128m",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("CHAOS_SPARK_DRIVER_MEM", "8g"),
        # Iterative engines MUST free superseded localCheckpoint blocks
        # promptly: the ContextCleaner only reclaims an RDD's cached
        # blocks after the driver GCs the RDD handle, and its forced-GC
        # default is 30 MINUTES — measured here as ~20 GB of dead state
        # blocks retained after 14 supersteps (heap-after-GC climbing
        # 18.9 -> 21.2 GB, supersteps degrading 5s -> 30s+). 30s keeps
        # the block manager bounded at a few live states.
        "spark.cleaner.periodicGC.interval": os.environ.get(
            "CHAOS_PERIODIC_GC", "30s"
        ),
        # ...but System.gc() on a 32g heap defaults to a STOP-THE-WORLD
        # full collection: the r4 scaling campaign measured 73-78 s
        # superstep stalls on an otherwise idle host (steal 0) every time
        # the 30s timer fired mid-run; with ExplicitGCInvokesConcurrent
        # the same cadence costs <= a few seconds (A/B committed in
        # BENCH/SCALING_ANALYSIS.md). Engine-owned stall, engine-owned
        # fix — periodic reclamation stays, the pause goes.
        "spark.driver.extraJavaOptions": "-XX:+ExplicitGCInvokesConcurrent",
        # PySpark wraps every DataFrame/Column call to record its Python
        # call site for error messages; each capture walks the stack and
        # tries ``import IPython``/``ipykernel`` (0.4 s for the first
        # IPython import, and a failed ipykernel import retried on every
        # call). Plan construction is on every driver path, so the cost
        # lands in each call; errors lose the Python call site line.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
