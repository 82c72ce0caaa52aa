"""SparkSession factory with the engine's standard tuning.

All knobs here are scale-oriented defaults: AQE on (runtime re-plan +
skew-join splitting), Arrow transport for every pandas UDF, UTC session
timezone so DuckDB-oracle comparisons are stable, and shuffle parallelism
sized to the core count instead of the 200-partition default.

Generated code compiles once per session. Spark keys its codegen cache by
(thread context class loader, code), and on a ``local`` master the driver
and the executor task threads have different loaders, so each generated
class takes two entries. After its setup, a cold perfbench ``crawl_fresh``
pass adds 97 entries and a cold ``curate`` pass 107. At Spark's default of
100 entries LRU evicted a class before its reuse, and every warm pass
recompiled 62-81 of them (0.5-0.8 s on 4 vCPU). The cache holds
``_CODEGEN_CACHE_ENTRIES`` = 1,024: those two passes (204) plus every
``bench.py`` query and its crawl (578 at sf0.01, one trial each, counted
with no eviction) make 782, and the rest is ~30% headroom.

On a ``local`` master, Python workers start from ``worker_daemon``, which
imports pyspark from site-packages instead of Spark's zips when both hold
the same release; the package's root joins the workers' ``PYTHONPATH`` so
that module, like every engine UDF, resolves whatever the workers' cwd.
Any other master keeps Spark's own daemon: executors on other hosts have
neither the driver's paths nor, before a task adds its ``--py-files``, the
package.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 16 * 1024
_CODEGEN_CACHE_ENTRIES = 1024
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 16g: a 16g heap on a
    16 GB host lets the driver JVM grow until the kernel kills it.
    ``SPARK_DRIVER_MEM`` overrides this for deployments."""
    try:
        total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    except (ValueError, OSError):  # sysconf names missing on this platform
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(_DRIVER_MEM_CAP_MB, total_mb // 2)}m"


def _builder(
    app_name: str, master: str | None, shuffle_partitions: int | None
) -> SparkSession.Builder:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; on a real cluster pass explicitly (~2-3× total cores).
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if _is_local(master):
        builder = builder.config(
            "spark.python.daemon.module", "politics_crawler_spark.worker_daemon"
        )
    return builder


def _is_local(master: str) -> bool:
    """``local``, ``local[N]``, ``local[N,F]``: workers share the driver's files."""
    return master.split("[")[0] == "local"


def get_spark(
    app_name: str = "politics-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    spark = _builder(app_name, master, shuffle_partitions).getOrCreate()
    if _is_local(spark.sparkContext.master):
        # Spark resolves spark.executorEnv.* (spark-defaults, --conf,
        # builder) into SparkContext.environment, which every Python
        # function carries to its workers; append the root there so any
        # PYTHONPATH already set stays.
        env = spark.sparkContext.environment
        paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
        if _PACKAGE_ROOT not in paths:
            env["PYTHONPATH"] = os.pathsep.join(paths + [_PACKAGE_ROOT])
    return spark
