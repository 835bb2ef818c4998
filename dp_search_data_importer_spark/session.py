"""SparkSession builder.

Local-mode defaults tuned for the sandbox (local[N] on a 32-core, 128 GiB
host); on a real cluster the same code runs under ``spark-submit --py-files``
with these conf keys supplied externally.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession


def _default_driver_memory() -> str:
    """24g, capped at ~60% of physical memory: in local mode the driver
    heap shares the host with the Python workers and the JVM's off-heap
    memory, and a 24g heap on a 16 GiB host is OOM-killed mid-run."""
    try:
        with open("/proc/meminfo") as f:
            total_kib = next(int(line.split()[1]) for line in f
                             if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "24g"
    return f"{min(24 * 1024, total_kib * 6 // 10 // 1024)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "dp-search-data-importer-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on: runtime coalescing + skew-join splitting complement the engine's
      explicit salting/sharding at scale.
    - Arrow on: every Python touchpoint in this engine is a vectorized
      pandas/Arrow UDF (input_hint: "no per-row Python").
    """
    # Executors' Python workers must be able to import this package: its UDF
    # closures are cloudpickled by reference. In local mode the workers
    # inherit PYTHONPATH from the driver process env (set it BEFORE the JVM
    # starts); on a real cluster ship the package with
    # ``spark-submit --py-files dp_search_data_importer_spark.zip`` instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism, not the 200 default (local mode: tiny partitions
        # just add scheduling overhead; cluster mode: set via spark-submit).
        try:
            n = int(master.split("[")[1].rstrip("]")) if "[" in master else 32
        except ValueError:
            n = os.cpu_count() or 32
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        # console progress bars interleave \r with CLI stdout, clobbering
        # result lines (observed twice while verifying scripts/query.py)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # note: zstd for parquet/shuffle was measured on this host and was
        # noise-neutral vs snappy/lz4 with the block postings of the time
        # (short-string columns didn't gain enough to beat the extra CPU in
        # python-contended stages); defaults kept. On cluster object stores
        # revisit zstd.
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_PLAN_CACHE: OrderedDict[tuple, DataFrame] = OrderedDict()
_PLAN_CACHE_SIZE = 512
_PLAN_CACHE_LOCK = threading.Lock()


def cached_plan(spark: SparkSession, key: tuple, build) -> DataFrame:
    """The driver's one plan cache: ``build()`` once per (application,
    ``key``), LRU past 512 plans. A cached plan skips construction, not
    execution, so ``key`` names the inputs: an index ``version``, a path.
    A plan is admitted only if its build ran no Spark job in the caller's
    job group (collected values — a page cursor, bucket boundaries, idf
    rows — would be pinned, not recomputed) and it reads nothing persisted.
    Any other plan is returned uncached. A value the build reads on the
    driver without a job — a stored index's df map (``plans/query.
    term_dfs``) — is pinned too, so only a key that names the index
    ``version`` may cache a plan that holds one."""
    sc = spark.sparkContext
    key = (sc.applicationId, *key)
    with _PLAN_CACHE_LOCK:
        plan = _PLAN_CACHE.get(key)
        if plan is not None:
            _PLAN_CACHE.move_to_end(key)
            return plan
    group = sc.getLocalProperty("spark.jobGroup.id")
    before = _group_jobs(sc, group)
    plan = build()
    if _group_jobs(sc, group) != before or (
            not spark._jsparkSession.sharedState().cacheManager().isEmpty()
            and "InMemoryRelation" in
            plan._jdf.queryExecution().withCachedData().toString()):
        return plan
    with _PLAN_CACHE_LOCK:
        _PLAN_CACHE[key] = plan
        if len(_PLAN_CACHE) > _PLAN_CACHE_SIZE:
            _PLAN_CACHE.popitem(last=False)
    return plan


def _group_jobs(sc, group: str | None) -> tuple:
    """(count, first, last) of the sorted job ids in ``group``: a new job
    changes an end, and py4j reads an array one round trip per element."""
    ids = sc._jsc.statusTracker().getJobIdsForGroup(group)
    n = len(ids)
    return (n, ids[0], ids[n - 1]) if n else (0,)


def local_df(spark: SparkSession, rows: list[tuple], schema: str):
    """Small driver-side table → DataFrame via the pandas/Arrow path.

    ``spark.createDataFrame(list_of_tuples)`` builds a Python-RDD-backed plan
    with defaultParallelism slices — its first execution forks a Python worker
    per slice (measured ~20 s of pure worker boot on local[32] right after a
    heavy job). The pandas route converts once through Arrow into a JVM
    ``LocalTableScan``: no Python at execution time, one partition.
    The frame is cached by :func:`cached_plan` on (schema, rows).
    """
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    def build():
        st = _parse_datatype_string(schema)
        names = [f.name for f in st.fields]
        pdf = pd.DataFrame.from_records(list(rows), columns=names)
        return spark.createDataFrame(pdf, schema=st)

    return cached_plan(spark, ("local_df", schema, repr(rows)), build)
