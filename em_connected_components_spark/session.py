"""SparkSession factory with the engine's standard configuration.

Local mode is the test/bench environment; the same config keys are the ones
that matter on a real cluster (AQE, skew-join splitting, Arrow, shuffle
partition sizing). The memory budget knob mirrors the reference's single CLI
memory argument (reference: cpp/run-boruvka.cpp:19-20) — Spark manages the
spill itself, we only size partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .tuning import driver_memory_for


def _driver_memory() -> str:
    explicit = os.environ.get("SPARK_DRIVER_MEMORY")
    if explicit:
        return explicit
    # physical RAM in kB: the same figure as /proc/meminfo's MemTotal
    mem_total_kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 10
    return driver_memory_for(mem_total_kb)


def get_spark(
    app_name: str = "em_connected_components_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — the single most
    important local-mode knob (200 default over-parallelizes small data).
    ``spark.driver.memory`` is ``$SPARK_DRIVER_MEMORY`` when set, else 40% of
    physical RAM (tuning.driver_memory_for); ``extra_conf`` overrides both.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism level: local[N] -> N shuffle partitions
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = int(master[6:-1])
        else:
            shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Prefer shuffled-hash over sort-merge: our joins are long-key
        # equi-joins whose build side (label/rank tables, bounded by n) is
        # far smaller than the edge stream side; SHJ skips the per-iteration
        # sort of the m-row side (measured 1.5x on 129M-edge PageRank).
        # Spark still falls back to SMJ when the build side is too large for
        # a per-partition hash map.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warmup(spark: SparkSession) -> None:
    """Spin up JVM executors AND the Python-UDF worker pool.

    Local-mode quirk: the first pandas-UDF job after a heavy JVM workload can
    pay a 10-70s Python-worker spawn penalty; forcing the pool up front makes
    later timings honest. Call once before benchmarking.
    """
    spark.range(1000).agg({"id": "sum"}).collect()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").count()
