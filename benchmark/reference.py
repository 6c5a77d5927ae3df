"""A fixed reference job, run first in every fresh driver.

The host this benchmark runs on is shared: over minutes, the same run can
take anywhere from one to two and a half times as long, and the first
Spark work in a fresh JVM (class loading, JIT, codegen, Python worker
start) slows with it. The reference job is such first work, and it uses
no engine code, so the end-to-end iteration time is reported as a
multiple of it.

It avoids the settings the engine's session sets: the RDD part names its
partition counts, and the DataFrame part has no shuffle, so shuffle
partitions, AQE and Arrow batch sizes do not change it.
"""

from __future__ import annotations

import time
from pathlib import Path

N_KEYS = 97
N_ITEMS = 100_000
N_ROWS = 1_000_000


def run(spark, out: Path) -> float:
    """Wall time of the reference job, in seconds. Raises if its result
    is wrong."""
    t0 = time.perf_counter()
    sums = dict(
        spark.sparkContext.parallelize(range(N_ITEMS), 4)
        .map(lambda i: (i % N_KEYS, i % 1009))
        .reduceByKey(lambda a, b: a + b, 4)
        .collect()
    )
    spark.range(0, N_ROWS, numPartitions=4).selectExpr(
        "id", "pmod(hash(id), 1000) AS h", "CAST(id AS STRING) AS s"
    ).write.parquet(str(out))
    n, longest = spark.read.parquet(str(out)).selectExpr(
        "count(*)", "max(length(s))"
    ).first()
    seconds = time.perf_counter() - t0
    want = {k: sum(i % 1009 for i in range(k, N_ITEMS, N_KEYS)) for k in range(N_KEYS)}
    if sums != want or n != N_ROWS or longest != len(str(N_ROWS - 1)):
        raise RuntimeError("the reference job returned a wrong result")
    return seconds
