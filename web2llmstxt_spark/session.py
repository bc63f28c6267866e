"""SparkSession factory tuned for this engine.

Local sandbox runs on ``local[$SPARK_GRAFT_CPUS]``; the same config block is
what we'd ship to a real cluster via ``spark-submit --py-files`` (minus
master/driver-memory, which the submitter owns).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, StructType, _parse_datatype_string

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


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """The ONE way the package turns a driver-held table into a DataFrame.

    ``rows`` are tuples in field order; ``schema`` (a DDL string or a
    ``StructType``) is the result's schema exactly: names, types,
    nullability and nesting, as ``createDataFrame(rows, schema)`` gives.
    The rows travel as one Arrow table, which Spark plans as a
    ``LocalRelation`` below ``spark.sql.execution.arrow.
    localRelationThreshold`` and as a JVM-side RDD above it. No Python
    worker ever runs for it: the list path pickles the rows into a Python
    RDD, and its first use runs a stage of Python workers to unpickle
    them — for tables of a handful of rows, the dominant cost.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)
    ]
    for col, field in zip(columns, schema.fields):
        # pyarrow does not check nullability; the list path's verifier does
        bad = _null_in_not_null(col, field.dataType, field.nullable, field.name)
        if bad is not None:
            raise ValueError(f"local_frame: NOT NULL field {bad} holds a None")
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _null_in_not_null(arr, dtype, nullable: bool, path: str) -> str | None:
    """The path of the first NOT NULL field at or under ``arr`` (through
    struct fields and array elements) that holds a null, else None; a null
    under a null parent does not count."""
    if arr.null_count and not nullable:
        return path
    arr = arr.drop_null()
    if isinstance(dtype, StructType):
        children = [
            (child, f.dataType, f.nullable, f"{path}.{f.name}")
            for child, f in zip(arr.flatten(), dtype.fields)
        ]
    elif isinstance(dtype, ArrayType):
        children = [(arr.flatten(), dtype.elementType, dtype.containsNull, f"{path}[]")]
    else:
        children = []
    for child in children:
        bad = _null_in_not_null(*child)
        if bad is not None:
            return bad
    return None


def package_zip() -> str:
    """Zip this package for shipment to executors (spark-submit --py-files).

    In local mode the Python workers are separate processes that do NOT
    inherit the driver's ``sys.path`` hacks; on a cluster they are separate
    hosts. Either way the package must travel as a pyfile.

    The zip is named after a digest of the files it holds, so checkouts
    with different code never share one (two sessions from two checkouts
    on one machine would otherwise import each other's code), and an
    unchanged package reuses the zip already written. It is written under
    a temporary name and renamed into place, so no reader sees half a zip.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    files = {}
    for root, dirs, names in os.walk(pkg_dir):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for name in sorted(names):
            if not name.endswith(".pyc"):
                path = os.path.join(root, name)
                with open(path, "rb") as f:
                    files[os.path.relpath(path, parent)] = f.read()
    digest = hashlib.sha256()
    for arcname, data in files.items():
        digest.update(arcname.encode() + b"\0" + hashlib.sha256(data).digest())
    out = os.path.join(
        tempfile.gettempdir(), f"web2llmstxt_spark_pkg-{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(out):
        fd, tmp = tempfile.mkstemp(suffix=".zip.tmp", dir=os.path.dirname(out))
        try:
            with os.fdopen(fd, "wb") as f, zipfile.ZipFile(f, "w", zipfile.ZIP_DEFLATED) as z:
                for arcname, data in files.items():
                    z.writestr(arcname, data)
            os.replace(tmp, out)
        except BaseException:
            os.unlink(tmp)
            raise
    return out


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
