"""SparkSession factory with scale-oriented defaults.

The defaults below are chosen for the 100 TB design point and merely
*tested* on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion are all load-bearing at cluster
  scale and harmless locally.
- Arrow on: every pandas UDF / mapInPandas boundary is Arrow-batched.
- shuffle.partitions is the cluster's ``defaultParallelism`` (its
  total cores), read once the context is up. Batch shuffles start there
  and AQE coalesces them down for small inputs;
  operators/util.scaled_shuffle_partitions raises the count for a
  shuffle too big for it. Streams get no AQE: a stateful stream takes
  this count as its state-store partition count, and its checkpoint
  freezes it, so a fixed count far above the cores costs every state
  partition's load and commit in every batch (about 3.5x the time at
  32 on 4 cores, for the same rows). Deriving the count needs no conf
  change around a stream start and no knob.

  Under dynamic allocation, executors may not have registered when
  ``get_spark`` starts the context, and ``defaultParallelism`` then
  reads low. There, pass the count in ``extra_conf``, or start the
  session first: ``get_spark`` reuses an active session as it is.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import SparkSession

from quick_and_easy_vectordb_spark.functions import kernels
from quick_and_easy_vectordb_spark.sources import scratch


def _default_driver_memory() -> str:
    """Half the host's MemTotal, capped at 32g (32g if /proc/meminfo is
    unreadable). Local mode runs every executor thread in the driver
    JVM, whose RSS exceeds its heap, so a heap the size of the host
    gets the process OOM-killed."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{min(32 * 1024, kib // 2048)}m"


# Parquet TIMESTAMP(NANOS) is read as raw long nanos (the vectorized
# reader rejects it otherwise); sources/catalog.py normalize_ts floors
# them to micros.
_NANOS_AS_LONG = ("spark.sql.legacy.parquet.nanosAsLong", "true")


def adopt(spark: SparkSession) -> None:
    """Ready a session that ``get_spark`` did not build for the engine's
    plans: register the vector kernels and set the parquet nanos conf.
    Idempotent; the driver contract calls it on the caller's session.

    Such a session keeps Hadoop's own ``file://`` classes, which fork
    ``chmod`` for each local file and directory written. Binding the
    engine's class now would not take: the JVM made and cached its
    local FileSystem when the session started. Files, modes and
    results are the same either way."""
    kernels.install(spark)
    spark.conf.set(*_NANOS_AS_LONG)


def get_spark(
    app_name: str = "quick_and_easy_vectordb_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    when no cluster master is configured; on a real cluster the caller's
    ``--master`` wins because an existing active session is reused
    as-is, apart from :func:`adopt`.

    The engine's jar (functions/kernels.py) is compiled first if its
    cache is cold, which needs ``javac``; without it this raises. The
    jar goes on ``spark.jars`` (which ships it to executors) and on
    ``spark.driver.extraClassPath``, each after any entries
    ``extra_conf`` gives, and its vector kernels are registered in the
    session. The ``file`` scheme is bound to its java.nio FileSystem
    (``kernels.FILE_SYSTEM``), so local writes set modes without
    forking ``chmod``. That class must be on the class path the JVM
    starts with: Spark makes its first local FileSystem while it
    submits the driver, before ``spark.jars`` is loaded, and Hadoop
    caches that instance for every later writer in the JVM. So a JVM
    that is already running in this process without the jar (a session
    built and stopped elsewhere) keeps Hadoop's classes.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        adopt(active)
        return active

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config(*_NANOS_AS_LONG)
        # embeddings are wide rows (~0.5-6 KB); keep scan splits moderate
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # local mode: the driver JVM hosts all executor threads, so it
        # needs executor-scale heap (32 threads on a 128 GiB box)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed writes) go to scratch, not the repo.
        # Per-process dir: each process also gets its own derby metastore,
        # so a shared warehouse would let one process's orphan-location
        # cleanup (writers.write_bucketed) delete a table a concurrent
        # process's catalog still references. The per-process scratch
        # root makes that impossible and is removed at exit.
        .config("spark.sql.warehouse.dir", os.path.join(scratch.root(), "warehouse"))
    )
    extra_conf = dict(extra_conf or {})
    jar = kernels.jar()
    jars = [j for j in extra_conf.pop("spark.jars", "").split(",") if j]
    class_path = [
        p for p in extra_conf.pop("spark.driver.extraClassPath", "").split(os.pathsep) if p
    ]
    builder = builder.config("spark.jars", ",".join([*jars, jar])).config(
        "spark.driver.extraClassPath", os.pathsep.join([*class_path, jar])
    )
    # a JVM already running in this process (a session built and stopped
    # elsewhere) keeps the class path it started with
    jvm = SparkContext._jvm
    if jvm is None or jar in jvm.java.lang.System.getProperty("java.class.path").split(
        os.pathsep
    ):
        for k, v in kernels.FILE_SYSTEM.items():
            builder = builder.config(f"spark.hadoop.{k}", v)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in extra_conf:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    kernels.install(spark)
    return spark
