"""SparkSession factory with the pipeline's standard configuration.

Single place for the scale-relevant knobs: Arrow batching for the UDF
stages, AQE (+ skew join) for the linking/materialize shuffles, UTC
session timezone so timestamps round-trip identically through parquet,
pandas, and DuckDB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from transner_spark.config import PipelineConfig


def _default_driver_memory() -> str:
    """Half of physical RAM in whole GiB (at least 1g): in local mode the
    one driver JVM holds every task's storage and execution memory, and
    the Python workers need the other half."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, ram // 2**31)}g"


def get_spark(
    master: str | None = None,
    app_name: str = "transner_spark",
    shuffle_partitions: int | None = None,
    cfg: PipelineConfig | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cfg = cfg or PipelineConfig()
    if master is None:
        # under spark-submit the cluster master arrives via spark.master —
        # never override it with a local default (that would silently run
        # the whole job single-node on the driver)
        from pyspark import SparkConf

        if SparkConf().get("spark.master", None) is None:
            cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
            master = f"local[{cpus}]"
    if shuffle_partitions is None and master is not None and (
        master == "local" or master.startswith("local[")
    ):
        # plain local mode only (NOT local-cluster[m,c,mem] — its bracket
        # payload is not a core count): match the chosen core count. When
        # the master is external (spark-submit / cluster), leave the
        # config UNSET so the cluster default + AQE coalescing govern
        # shuffle parallelism — a hardcoded width here would silently cap
        # a 1000-executor job.
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        n = inner.split(",")[0]  # local[N,maxFailures] is valid syntax
        shuffle_partitions = len(os.sched_getaffinity(0)) if n in ("*", "") else int(n)

    builder = SparkSession.builder
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(cfg.arrow_batch_rows),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by SIZE (advisoryPartitionSizeInBytes),
        # not down to defaultParallelism: the dim-sized linking/canonical
        # shuffles otherwise schedule `width` near-empty tasks per stage
        # (measured: links first pass 5.4s → 2.3s at sf0.1/local[32]).
        # At cluster scale a large shuffle still gets thousands of
        # advisory-sized partitions — this only collapses genuinely tiny
        # exchanges, exactly AQE's documented intent for the flag.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
