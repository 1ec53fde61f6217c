"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every conf
below is equally valid under ``spark-submit --py-files`` on a real
cluster (north_rule).  AQE handles runtime re-planning (coalesce, skew
join splitting); Arrow is on for every pandas UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app: str = "osmgraft",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    honest_cores: bool = False,
) -> SparkSession:
    """``honest_cores=True`` additionally caps the JVM's own view of the
    machine (``-XX:ActiveProcessorCount=cores``): GC/JIT/netty pools are
    sized for ``cores`` instead of the host's 32, which is how a real
    N-core executor behaves under cgroups.  Used by the scaling bench —
    without it a ``local[2]`` run quietly borrows ~30 extra cores for
    GC and JIT, inflating the small-cluster baseline."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # fewer, larger Arrow batches: halves per-batch scheduling and
        # (de)serialization overhead on the mapInPandas hot path; 20k
        # rows of ~1 KB page text is ~20 MB per in-flight batch per core
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    if honest_cores:
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-XX:ActiveProcessorCount={cores}",
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Minimum per-partition payload for spread_scan to pay its exchange:
# the repartition has a fixed ~0.15-0.25 s stage cost (local[32]), so
# spreading only pays off when each target partition receives enough
# bytes for the parallel compute saving to exceed it.  128 KiB of
# compressed scan input per partition puts the breakeven at ~4 MB input
# on this host (measured r6: the 0.6 MB sf0.1 corpus regressed
# corpus_clean 0.34->0.58 with an unconditional spread; the 5.9 MB
# sf1.0 corpus gains 2-11 s on the shingle/token queries).
SPREAD_MIN_BYTES_PER_PART = 128 * 1024


def spread_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Scale-adaptive scan spreading (guide §2.5 "input skew" / §6).

    A single-row-group parquet file is an unsplittable scan: EVERY
    narrow operator above the first exchange (tokenize, shingle, md5,
    cell-encode, PIP refine ...) then runs in ONE task regardless of
    core count — the local test corpus (`documents.parquet`,
    `embeddings.parquet`, `events.parquet`) is exactly that shape.
    When the planned scan partition count is below the cluster's
    parallelism, pay one small round-robin exchange of the raw rows so
    the per-row compute uses every core.  The repartition only re-keys
    physical placement — row sets (and therefore every declared query's
    result) are unchanged.

    At production scale the guard makes this a no-op: a 100 TB input
    plans orders of magnitude more scan partitions than cores, so the
    exchange never happens — the guard, not the repartition, is the
    scale story.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # stats unavailable: fall through to the partition guard
        size = None
    if size is not None and size < target * SPREAD_MIN_BYTES_PER_PART:
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def warm_python_workers(spark: SparkSession, cores: int | None = None) -> None:
    """Spawn the full Python-worker pool up front (one tiny Arrow task
    per core slot).  Each worker's first task pays the pandas/numpy
    import (~1 s, worse under 32-way concurrent cold start); on a real
    cluster executors are long-lived so this is a one-time cost — in
    timed micro-benchmarks it must happen before the clock starts.
    Workers are reused afterwards (spark.python.worker.reuse default)."""
    import pandas as pd  # noqa: F401

    cores = cores or spark.sparkContext.defaultParallelism

    def _touch(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    (
        spark.range(0, cores * 2, 1, cores * 2)
        .mapInPandas(_touch, "id long")
        .count()
    )
