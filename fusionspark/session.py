"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that matter on a real cluster (AQE, adaptive skew handling,
Arrow batching for pandas UDFs)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "fusionspark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime coalescing, skew-join splitting, dynamic partition pruning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas UDF / toPandas transfer (the only Python hot paths).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as epoch-nanos long and convert in io.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Timestamps in testdata are ns; keep micros semantics deterministic.
        .config("spark.sql.session.timeZone", "UTC")
        # 8g measured best on this box: 32g was tried and consistently
        # degraded cache-heavy queries 5-15× (GC behavior at large heap),
        # while 8g keeps the whole suite stable
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Python workers run 32-way task-parallel: a multi-threaded BLAS in
        # each worker oversubscribes the box (32 x 32 threads) and thrashes
        # the numpy GEMM kernels.  One BLAS thread per task slot is the
        # cluster-correct setting (1 core per task).  The driver's own numpy
        # keeps its threads (its BLAS is already loaded) until a resident
        # index is placed on the driver, which pins the driver's BLAS to one
        # thread for the rest of the process (operators/serving.py).
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
