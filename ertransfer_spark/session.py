"""SparkSession factory tuned for the ER workload.

The reference runs single-node pandas (8 CPUs / 32 GB per Slurm stage,
/root/reference/splitters/KNN-Join/kj_split.sh:4-8). Here every knob is
chosen for a multi-executor cluster and merely *tested* on local[N]:

- AQE + skew-join handle runtime re-planning of the candidate-pair join.
- Arrow is the only Python<->JVM data path (pandas UDFs; no row pickling).
- Session timezone pinned to UTC so results hash-match the DuckDB oracle.
- shuffle partitions default to the core count locally; on a real cluster
  callers pass ``shuffle_partitions`` sized from the block-frequency
  histogram (see operators/blocking.py:block_histogram).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        return int(cpus)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "ertransfer-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """``master`` overrides the default local[n]. Under spark-submit the
    submitted master wins over builder confs."""
    n = cpus or default_parallelism()
    shuffle = shuffle_partitions or max(n, 8)
    master = master or f"local[{n}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TypedImperativeAggregate (collect_list/min_by top-K aggs) falls
        # back to sort-based aggregation after 128 hash-map entries by
        # default — measured heavy per-task spill churn in the blocking
        # top-K. 16k groups × (k·~50B struct buffers) ≈ tens of MB per
        # task: safely in-memory at every parallelism level used here.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
        # Spark 4 defaults ANSI on; pin off for permissive casts/overflow
        # semantics matching the pandas-era reference (queries stay
        # defensive anyway since the driver may run them under ANSI).
        .config("spark.sql.ansi.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
