"""SparkSession factory.

Local defaults fit the host the session starts on (local[<usable
cores>], a driver heap derived from physical memory), and every setting
is chosen to also be the right *shape* at cluster scale:

- AQE on (runtime re-plan: coalesce post-shuffle partitions, skew-join
  splitting, dynamic broadcast) — on a 1000-executor cluster this is
  what keeps a 100 TB shuffle from producing straggler partitions.
- Arrow on — every Pandas-UDF stage ships columnar batches, not rows.
- Session timezone pinned to UTC so window/date_trunc boundaries agree
  with the DuckDB oracle (and across clusters in different zones).
- shuffle.partitions sized by env (SPARK_GRAFT_CPUS); at cluster scale
  this would be ~2-3x total cores, and AQE coalesces the tail.

The reference pins Asia/Taipei for its cron (definitions.py:36 in the
reference); for the engine we keep the session TZ configurable and
default to UTC — correctness of date bucketing must not depend on the
driver host's zone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local parallelism: SPARK_GRAFT_CPUS, else the cores this
    process may run on (its CPU affinity set, which a container or
    taskset narrows below the machine's core count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Driver heap: SPARK_GRAFT_DRIVER_MEM, else half of physical
    memory in whole GiB (at least 1g). In local mode the driver JVM
    holds every executor, and the other half is left to the Python
    workers and the OS page cache the parquet scans lean on."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, phys // 2 // 2**30)}g"


def get_spark(
    app_name: str = "etl-dagster-service-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    tz: str = "UTC",
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local-mode knobs come from env so the bench driver can steer them:
    SPARK_GRAFT_CPUS (default_cpus) sets local parallelism and shuffle
    partitions, SPARK_GRAFT_DRIVER_MEM (default_driver_memory) the
    driver heap.

    `tz` sets spark.sql.session.timeZone — the reference pins
    Asia/Taipei (definitions.py:36 in the reference); a deployment
    reproducing its local-midnight date bucketing passes
    tz="Asia/Taipei". Default stays UTC (the oracle contract). It is a
    runtime conf, so it is applied to the session even when getOrCreate
    returns an existing one."""
    cpus = default_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        # Files: pack small fixture files into few tasks locally; at scale
        # maxPartitionBytes keeps one task's input within executor memory.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read as epoch-nanos bigint and convert in
        # the loader (io/tables.py) — truncation to micros is exact for
        # this data and matches DuckDB's ns->us cast.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate ignores builder confs on an existing session; tz is a
    # runtime conf so it can (and must) be applied after the fact
    spark.conf.set("spark.sql.session.timeZone", tz)
    spark.sparkContext.setLogLevel("WARN")
    return spark
