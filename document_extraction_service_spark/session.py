"""SparkSession factory with the engine's required configs.

The settings encode SURVEY §4.3: Arrow exchange with small batches
(html payloads are KB-MB, so records-per-batch — not bytes — must be
bounded), Python worker reuse (inverting the reference's per-document
model-reload bug, extraction_model.py:87), and AQE for runtime
coalescing.  On a real cluster the same function is used by
spark-submit jobs; only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size: bounded *records* per batch because each record can
# carry a multi-MB html payload (SURVEY §4.3 "Bounded batch memory").
ARROW_BATCH_RECORDS = 64

# Directories a read may cover before Spark lists them with a parallel
# Spark job instead of on the driver (Spark default: 32).  The job's
# bucket=NN layout has DEFAULT_BUCKETS = 128 dirs, so under the default
# both the input scan and the lineage re-read of the output ran a
# 128-task listing job per run_job: 256 of its 311 tasks over 8k pages.
# Measured at local[4] on 4 vCPUs: 0.40 s per 128-dir read as a job,
# 0.02 s listed on the driver.  Kept well above the engine's own bucket
# fan-out; the Iceberg path (iceberg_sink.py) plans from metadata and
# never lists.
PARTITION_DISCOVERY_THRESHOLD = 1024


def build_session(
    master: str | None = None,
    app_name: str = "document_extraction_service_spark",
    driver_memory: str | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if master.startswith("local["):
        n = master[6:-1]
        cores = cpus if n == "*" else int(n)
    else:  # pragma: no cover - real cluster
        cores = cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # joins: allow shuffled-hash when the per-partition build side
        # fits (guide §3.1 — SMJ's sort is pure overhead there), both
        # at plan time and as an AQE rewrite.  Scale-safe: the 64 MB
        # per-partition threshold is what bounds memory, not the local
        # core count; on a cluster the same settings apply unchanged.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_RECORDS))
        .config("spark.python.worker.reuse", "true")
        # UDF-heavy scans: smaller input splits so scan-stage task count
        # is never the parallelism ceiling (default 128MB packed a 1.5GB
        # corpus into 12 tasks, capping 32 cores at 12 workers)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # ... and a split-count floor at 4x cores (r7): openCost packing
        # of a many-small-files table (the 128-bucket job input) capped
        # the scan at ~29 uneven tasks on 32 cores; 4x cores keeps the
        # UDF stage fully subscribed with straggler overlap.  Derived
        # from the core count, not a constant, so it scales with the
        # session; openCostInBytes still floors the split size, so a
        # single small file never explodes into empty splits.
        # Measured: scan+UDF 12.8k -> 14.8k docs/s at 48k pages.
        .config("spark.sql.files.minPartitionNum", str(cores * 4))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                str(PARTITION_DISCOVERY_THRESHOLD))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
