"""SparkSession builder with the engine's scale-oriented defaults.

Tuned for the workload shape: megapixel binary rows flowing through Arrow
into Python workers (small Arrow batches, generous overhead), shuffles
dominated by the reassembly groupBy (AQE coalesce + skew split on), and
parquet scans that must keep pushdown/pruning (see SURVEY.md §4.2).

On a real cluster the same confs apply; only master/cores change
(spark-submit --py-files api_ocr_spark.zip job.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "api-ocr-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # ONE BLAS thread per Python worker: task parallelism comes from Spark
    # (`cores` workers); letting OpenBLAS/MKL also thread inside each worker
    # oversubscribes the box cores^2-fold the moment any kernel crosses the
    # BLAS threading threshold (observed: the JPEG 64x64 block-transform
    # GEMM on large pages — 8->32 scaling efficiency fell ~0.1 until
    # pinned). Set BEFORE the JVM spawns so forked workers inherit it at
    # numpy import time.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: post-shuffle coalesce, skew-join split, dynamic broadcast
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas UDF / mapInPandas stages; small batches because
        # rows carry encoded images (the distributed echo of the reference's
        # 512 MB memory fight, /root/reference/README.md:115-124)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # ContextCleaner reclaims shuffle files / broadcast blocks only when
        # driver GC collects their dead references; with a large mostly-idle
        # heap that can be NEVER, and accumulated state degrades later
        # heavy-shuffle queries in long sessions (measured: simhash64_neardup
        # drifts 4.2 s → 10.6 s by the ~6th same-session run, flat at ~4 s
        # with GC forced — delivery-probe correlation −0.02, so it is state,
        # not host weather). Spark's own guard is this periodic GC; the
        # 30 min default is far too coarse for that drift horizon.
        .config("spark.cleaner.periodicGC.interval", "90s")
    )
    # Shuffle spill dir on tmpfs when available: local mode funnels all
    # shuffle I/O through one disk, which mis-models a cluster (where shuffle
    # bandwidth scales per node). RAM-backed local dirs restore that scaling.
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    except OSError:
        pass
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
