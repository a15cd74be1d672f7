"""SparkSession builder for the engine.

Tuned for the sandbox (single JVM, ``local[N]``) but every knob is the
one you would also set on a real multi-executor cluster: AQE on (runtime
re-plan + skew-join splitting stands in for the reference's
``schedule(dynamic)`` stripe scheduling, PlaneSweepStripesParallelAlgorithm.h:81),
Arrow on (all Python kernels are pandas/Arrow batch kernels, never
per-row), shuffle partitions sized to the parallelism level.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


# One core-slot per Python worker (Spark owns the machine-level
# parallelism), and large numpy temporaries recycled inside a worker
# instead of munmap/re-fault per iteration. See get_spark() below.
_WORKER_ENV = {
    "OPENBLAS_NUM_THREADS": "1",
    "OMP_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def get_spark(
    app_name: str = "spark_aknn",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or default_cpus()
    # 2x cores: finer tasks balance skewed cells; AQE advisory size is
    # lowered below so coalescing doesn't fold CPU-bound stages into a
    # handful of oversized partitions
    shuffle_partitions = shuffle_partitions or 2 * cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches keep the numpy kernels amortized; the
        # kernels themselves chunk internally to bound memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true -Xms8g -XX:+UseG1GC",
        )
    )
    # Python-worker environment: with N workers per machine, each worker
    # must be a single-threaded tenant. An unpinned OpenBLAS spawns one
    # thread per core in EVERY worker (N^2 threads machine-wide); and
    # glibc malloc munmaps every free()d allocation above its 32 MB
    # threshold cap, so each chunked-GEMM iteration re-faults hundreds
    # of MB of zeroed pages — measured on this host at 0.3-0.6 GB/s
    # (worse under pressure), with workers at 97% CPU but ~80% of it
    # SYSTEM time. Raising the thresholds lets a reused worker keep its
    # arena across iterations/tasks: same-shaped temporaries recycle
    # already-faulted pages. Retained RSS per worker ≈ its peak working
    # set (the kernels bound that by chunking), traded for not paying
    # the page-fault path per iteration.
    for env_key, env_val in _WORKER_ENV.items():
        builder = builder.config(f"spark.executorEnv.{env_key}", env_val)
        # local mode: workers are forked by the driver-side JVM, which
        # inherits this process's environment
        os.environ.setdefault(env_key, env_val)
    for key, val in (extra_conf or {}).items():
        builder = builder.config(key, val)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
