"""SparkSession factory tuned for this engine.

Local sandbox runs on ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we'd ship to a real cluster via ``spark-submit --py-files`` (minus
master/driver-memory, which the submitter owns).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark import StorageLevel
from pyspark.sql import SparkSession

# Storage level for big engine caches (fetched pages, crawl state, site
# corpora): serialized in memory + disk, vs .persist()'s deserialized
# default. Measured on the scaling harness (BENCH_SCALING.md round 4, git
# ed48fcd): serialized columnar blocks are ~3x smaller in heap, so GC scans
# less and locality improves — 32-core wall -27%, superstep-3 up to 3x
# faster, same-code run spread +63% -> +11%. The per-read deserialize cost
# is repaid whenever rows carry long strings (page content) or the cache
# outlives one read. At cluster scale this is also what keeps a 10^8-row
# seen/frontier checkpoint inside executor heaps.
CACHE_LEVEL = StorageLevel.MEMORY_AND_DISK


def release(frames) -> None:
    """Free the executor storage behind each DataFrame, once nothing will
    read it again: ``unpersist`` for a cache, and for a ``localCheckpoint``
    (which ``unpersist`` does not reach) the checkpointed RDD's blocks."""
    for df in frames:
        if df.is_cached:
            df.unpersist()
        else:  # a localCheckpoint: its plan is a LogicalRDD over the blocks
            df._jdf.queryExecution().logical().rdd().unpersist(False)


def package_zip() -> str:
    """Zip this package for shipment to executors (spark-submit --py-files).

    In local mode the Python workers are separate processes that do NOT
    inherit the driver's ``sys.path`` hacks; on a cluster they are separate
    hosts. Either way the package must travel as a pyfile.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    out = os.path.join(tempfile.gettempdir(), "web2llmstxt_spark_pkg")
    # base_name gets .zip appended; root_dir=parent so the archive contains
    # the top-level package directory.
    return shutil.make_archive(out, "zip", root_dir=parent, base_dir="web2llmstxt_spark")


def get_spark(
    app_name: str = "web2llmstxt_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # match parallelism, not the 200 default (sandbox data is small;
        # at cluster scale this is set to ~2-3x total cores instead)
        shuffle_partitions = max(cores, 8)
    # SPARK_GRAFT_MASTER=spark://host:port runs against a real standalone
    # cluster (scripts/standalone_cluster.py starts one on this box: N
    # executor JVMs with their own heaps — the deployment shape the north
    # rule names, vs local[N]'s single shared JVM). `cores` stays the TOTAL
    # core count for partition/shuffle sizing; per-executor cores/memory are
    # the cluster's to declare via SPARK_GRAFT_EXEC_CORES / _EXEC_MEM.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cores}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # our joins are hash-lookup shaped (fetch-sim, seen anti-join); avoid
        # re-sorting the big side every superstep
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # a cached repartition(key) under AQE otherwise reports
        # UnknownPartitioning, so every join against the cached corpus
        # re-Exchanges the full wide table (measured: ~40 s per fetch at
        # 3.2 M pages); with this on, the cache's HashPartitioning is
        # visible and EnsureRequirements shuffles only the small side
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    )
    if master.startswith("spark://"):
        import sys

        builder = (
            builder
            .config("spark.executor.cores", os.environ.get("SPARK_GRAFT_EXEC_CORES", "4"))
            .config("spark.executor.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "10g"))
            # deterministic slot count: take exactly the cluster we sized
            .config("spark.cores.max", str(cores))
            # executors must run the SAME interpreter as the driver (pandas/
            # pyarrow versions travel with it); don't trust the worker's PATH
            .config("spark.pyspark.python", sys.executable)
        )
    # ad-hoc conf injection for experiments (event logs, codegen toggles)
    # without touching call sites: SPARK_GRAFT_EXTRA_CONF='{"k":"v",...}'
    env_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_extra:
        import json

        for k, v in json.loads(env_extra).items():
            builder = builder.config(k, str(v))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark


def run_jobs_concurrently(spark: SparkSession, thunks, pool_prefix: str = "overlap"):
    """Run independent Spark ACTIONS from driver threads so their stages
    share the cluster instead of queueing serially.

    Each thunk is a zero-arg callable performing one action (a write/count).
    Each driver thread gets its own scheduler pool (create the session with
    ``spark.scheduler.mode=FAIR`` so pools share fairly; even under FIFO the
    scheduler backfills idle slots with later jobs' tasks). This is how a
    real deployment writes independent outputs of one cached input — the
    per-job fixed costs (stage ramp, codegen wave, straggler tails) overlap
    instead of adding up. PySpark pinned-thread mode (default in Spark 4)
    maps Python threads 1:1 onto JVM threads, so setLocalProperty scopes the
    pool correctly per job.

    Returns the thunk results in input order; re-raises the first failure.
    """
    from concurrent.futures import ThreadPoolExecutor

    def _run(arg):
        i, thunk = arg
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"{pool_prefix}{i}")
        # thread-local: tag for event-log attribution (analyze_eventlog.py)
        spark.sparkContext.setJobDescription(f"{pool_prefix}{i}")
        try:
            return thunk()
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
            spark.sparkContext.setJobDescription(None)

    with ThreadPoolExecutor(max_workers=max(1, len(thunks))) as ex:
        return list(ex.map(_run, enumerate(thunks)))
