"""SparkSession factory.

Replaces the reference's process bootstrap (vector_search_cluster.py:880-975:
uvicorn coordinator + ZMQ node processes). In a Spark-native engine the only
"cluster bootstrap" is a SparkSession; placement, health, retry and transport
(reference lines 95-184, 439-462, 716-757) are owned by the Spark scheduler.

Configs chosen for scale posture:
- AQE on: runtime coalescing of post-shuffle partitions and skew-join
  splitting — replaces the reference's static 16-shard fan-out with
  runtime-adaptive parallelism.
- Arrow on: all Pandas-UDF paths (PQ ADC kernel, multimodal decode) move
  columnar batches, never pickled rows.
- UTC session timezone: event-time queries are reproducible against the
  DuckDB oracle regardless of host timezone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "webscale_vector_search_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster the master/memory settings come from spark-submit;
    everything here is safe to set in both local and cluster mode.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Read parquet TIMESTAMP as TIMESTAMP (with tz), never TIMESTAMP_NTZ:
        # watermarks (withWatermark) and unix_micros reject NTZ, and the
        # DuckDB oracle semantics assume UTC-instant timestamps.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        # bound individual output files (a 64-dim vector row ~ 300 B, so 2M
        # records ~ 500 MB) — the AQE-sized rebalance before a partitioned
        # write governs parallelism, this governs file size; see
        # plans/build.py::_write_partitioned
        .config("spark.sql.files.maxRecordsPerFile", "2000000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # one BLAS thread per python worker: N workers x an N-thread BLAS
        # pool is N^2 threads thrashing the box (measured: 1M-corpus GEMM
        # kernels 10-90% slower and wildly variable without this; each
        # worker already saturates its core)
        # name the frame when a python worker dies (the r13 8-core bench
        # crash was undiagnosable from "Python worker exited unexpectedly";
        # VERDICT r13 #2) — faulthandler costs nothing until a crash
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
        # list partition directories on the driver however many there are:
        # past the threshold (32 paths by default) Spark lists them in a
        # distributed job, which in local mode runs in this same JVM — a
        # job per read of an index's vectors/ tree, with no parallelism
        # gained over the driver's own listing
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(1 << 30)
        )
        # 16g (was 8g): in local mode ALL task threads share the driver
        # JVM heap. 32 concurrent 256 MB-split parquet reads (Hadoop
        # vectored IO allocates ~70 MB heap buffers per range) plus
        # k-means' cached training RDD measurably exhaust 8 GB — the 10M
        # IVF build died with heap OOM + GCLocker retries in exactly that
        # stack (r14; the same cold-build path the r13 32-core driver
        # bench ground through before rc=124). Sized to the 32-thread
        # worst case; still env-overridable for bigger/smaller boxes.
        builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
