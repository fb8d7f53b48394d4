"""SparkSession factory tuned for this engine, and the one size gate
(``collect_if_small``) between an operator's driver-local and distributed
sides.

Local-mode settings mirror what a 1000-executor cluster deployment would set
per-executor; the knobs that matter at 100 TB (AQE, skew join, shuffle
partition sizing, Arrow batching) are on by default so plans exercised in
tests are the plans we'd ship.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app: str = "parj_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS or all cores. In local mode the
    driver is the only JVM, so driver memory is the single memory knob.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cpus, DEFAULT_SHUFFLE_PARTITIONS)))
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffle partitions of persisted frames too:
        # a small cached intermediate then scans as a few tasks instead of
        # spark.sql.shuffle.partitions. A cached frame then reports its hash
        # partitioning only when it ends in repartition(n, cols) with an
        # explicit n and only once the cache is filled, so frames re-joined
        # on their key are built that way (canonicalize.connected_components,
        # graphalg.pagerank).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # InferFiltersFromGenerate duplicates expensive generator expressions
        # (e.g. shingle arrays) into a pre-Generate filter, re-evaluating them
        # per row — measured 10x slowdown on explode(transform(...)) plans.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def collect_if_small(df: DataFrame, n: int, size: int | None = None):
    """``df`` as a pandas frame when it has at most ``n`` rows, else None.

    The one size gate between an operator's driver-local side and its
    distributed side. ``size`` is an upper bound on ``df``'s row count
    that the caller already holds (an exact count is one): within ``n``
    the whole frame is collected with no limit, past ``n`` nothing is
    read. Without it, one bounded ``limit(n + 1)`` read decides: if at
    most ``n`` rows come back, that is the whole frame. ``n = -1`` never
    collects, which pins a caller to its distributed side.
    """
    if size is not None:
        return df.toPandas() if size <= n else None
    head = df.limit(n + 1).toPandas()
    return head if len(head) <= n else None
