"""SparkSession factory with scale-oriented defaults.

Tuned for the extraction workload: fat binary HTML rows through Arrow-batch
UDFs.  On a real cluster the same settings apply per executor; parallelism
comes from the input split count (``spark.sql.files.maxPartitionBytes``) and
``spark.sql.shuffle.partitions``.
"""

from __future__ import annotations

import os
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "docling-core-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 8192,
    arrow_batch_bytes: str = "16m",
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    Arrow batching is bounded BY BYTES (maxBytesPerBatch, Spark 4's direct
    knob): fat HTML rows (10-500 KB) close a batch at ~16 MB — a tighter
    peak-memory bound than the old 256-row cap ever gave — while narrow
    rows (hash positions, feature dims, doc ids) now fill 8192-row batches
    instead of paying the Python-boundary round trip 32x as often.  The
    row cap is a backstop for pathologically tiny rows.

    Python workers run under ``docling_core_spark.pydaemon``
    (``spark.python.daemon.module``).  The JVM puts ``pyspark.zip``, which
    holds sources only, first on the workers' path; when a directory
    install of the same pyspark release follows it, the daemon drops the
    zip and loads pyspark from the install's compiled ``__pycache__`` (daemon
    ready in ~0.3-0.7 s instead of ~1.0-1.7 s on a 4-core host).  pyspark's
    worker also calls ``importlib.invalidate_caches()`` at the start of
    every task, and the stock zipimporter answers by re-reading each
    archive's whole central directory, once per imported package: ~200 ms
    per task on a 4-core host when pyspark comes from the zip, paid by every
    ``mapInArrow``, pandas UDF and RDD stage.  The daemon re-reads an archive
    only when its mtime or size changed.  It is importable on the workers
    because the repo root is exported on ``PYTHONPATH`` below, before the
    JVM starts.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS``, else to the CPUs this
    process may run on.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 32)

    # Executor python workers must be able to import this package regardless
    # of the driver's cwd: export the repo root on PYTHONPATH before the JVM
    # (and hence the python worker daemon) starts.  On a real cluster the
    # equivalent is `spark-submit --py-files docling_core_spark.zip`.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{existing}" if existing else repo_root
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.python.daemon.module", "docling_core_spark.pydaemon")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", arrow_batch_bytes)
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    return builder.getOrCreate()
