"""SparkSession factory.

The reference hand-tunes Spark 1.x confs per job (128 cores / 100g
executors / HttpBroadcast — learning/Learning.scala:80-91,
context/EntityWordsProbs.scala:184-192). Modern Spark subsumes nearly
all of that with AQE; we centralize the few confs that matter:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
* Arrow on (every pandas UDF crosses the JVM↔Python boundary batched)
* shuffle partitions sized to cores for local mode (not the 200 default)
* UTC session timezone (duckdb-oracle comparability)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    cores: int | None = None,
    app_name: str = "pboh_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    ``cores`` maps to ``local[cores]``; on a real cluster the same confs
    apply and the master is taken from spark-submit. ``shuffle_partitions``
    defaults to 2× cores locally — at 100 TB it must be sized so shuffle
    partitions stay ≲ executor memory (set via spark-submit conf).
    """
    n = cores or DEFAULT_CPUS
    sp = shuffle_partitions or max(2 * n, 8)
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (and coalesce) CACHED subtrees too: the default
        # false pins every persisted table to its build-time partition
        # count, so small cached intermediates (statistics tables, the
        # preassembled fit tensors) are re-scanned as dozens of
        # near-empty tasks by every consumer. Data-adaptive by
        # construction — at scale AQE sizes the cached partitions to the
        # advisory byte target instead. Results are partitioning-
        # independent by repo invariant (determinism sweep re-verified).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("PBOH_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

