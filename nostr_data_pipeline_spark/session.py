"""SparkSession factory with scale-appropriate defaults.

Local-mode testing stands in for a multi-executor cluster; every config here
is one that also makes sense at 1000 executors (AQE, Arrow, partition-count
discipline). Scaling evidence is produced by running the same job at two
parallelism levels (see bench_scaling.py).

DataFrame origin capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on, PySpark
4 wraps every ``F.*`` and Column call in ``_with_origin``: an active-session
lookup, a ``conf.get``, a Python stack walk and ``PySparkCurrentOrigin``
set/clear, most of them py4j round trips. At benchmark scale a CDC commit is
fixed cost, and that wrapper made most of its driver round trips: a warm
``replay_log`` of the perfbench ``cdc`` history (72k events, 8,864 keys,
local[4], 4-vCPU host) made ~3,800 py4j round trips with capture on and
~1,400 with it off. The flag is read once per process, on first use, so it
is set here, at session build. Trade-off: errors raised from DataFrame-API
calls lose the Python ``file:line`` fragment of their query context; JVM
messages and Python tracebacks are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory(mem_total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset: a
    quarter of the host's memory, at least 1g and at most 4g, which leaves
    room for the Python workers and the page cache (perfbench sizes its
    runs the same way). ``mem_total_bytes`` defaults to this host's."""
    if mem_total_bytes is None:
        mem_total_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, int(mem_total_bytes / 2**30 / 4)))}g"


def get_spark(
    app_name: str = "nostr_data_pipeline_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: int N -> local[N]; None -> $SPARK_GRAFT_CPUS or '*'.
    master: overrides cores entirely — e.g. 'local-cluster[4,8,12288]' for
    real multi-executor JVMs (the scaling-evidence mode: one JVM per
    executor avoids the shared-GC ceiling of plain local[N]).
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(cores))
        except (TypeError, ValueError):
            shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime coalesce, skew-join splitting, dynamic join strategy.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Partition-count discipline: match parallelism, not the 200 default.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF / toPandas hop.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamps vs the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver is the only JVM.
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        # Throughput GC: measured on this host, default G1 anti-scales badly
        # with thread count (a 32-thread CPU-bound job ran 8x SLOWER than at
        # 8 threads under G1; ParallelGC restores near-linear scaling).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # Keep scans parallel even for few large files at bench scale.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Equi-joins on bucket-pruned inputs: hash join skips the sort of
        # wide payload rows (MERGE join, LWW winner join). AQE still falls
        # back to SMJ when a build side would not fit.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # No per-call origin capture (see the module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master.startswith("local-cluster"):
        # executor python workers must resolve this package for mapInPandas
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pp = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", f"{repo_root}:{pp}" if pp else repo_root
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
