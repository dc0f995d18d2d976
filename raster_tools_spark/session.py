"""SparkSession factory with the engine's canonical config.

Scale-minded defaults: AQE on (runtime re-plan + skew join), Arrow on
(every UDF in this engine is vectorized), UTC session timezone (oracle
comparison), shuffle partitions sized to cores for local mode (a real
cluster overrides via spark-submit --conf).  Local masters run Python
workers under ``_pydaemon``, which stops every task from re-reading
pyspark.zip.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "raster-tools-spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session.  It turns off PySpark's DataFrame call-site
    capture (``spark.python.sql.dataFrameDebugging.enabled``), which
    wraps every Column and DataFrame call in about five py4j round
    trips and was most of the driver's cost of building a query; the
    price is that analysis errors no longer carry the Python
    file:line of the call that built the failing expression."""
    # one BLAS thread per Python worker: N workers each spawning
    # ncpu-sized BLAS pools oversubscribes the box quadratically
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    # make this package importable in executor Python workers even when
    # the driver was launched from another CWD (workers inherit env,
    # not the driver's sys.path; on a cluster use --py-files instead)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    n_threads = cpus if master == "local[*]" else _threads_of(master, cpus)
    shuffle_partitions = max(n_threads, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # image tables are CPU-heavy per byte (decode in Python UDFs):
        # default 128 MB scan splits starve the cores (an 800 MB table
        # would fan out to only ~7 tasks).  16 MB keeps every core busy
        # while staying far above the per-file overhead floor.
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
    )
    if master == "local" or master.startswith("local["):
        # only local workers see the PYTHONPATH set above; a cluster
        # that ships this package via --py-files keeps the stock daemon
        builder = builder.config("spark.python.daemon.module",
                                 "raster_tools_spark._pydaemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _threads_of(master: str, default: int) -> int:
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1]
        if inner != "*":
            try:
                return int(inner)
            except ValueError:
                pass
    return default


def _default_driver_mem() -> str:
    """24g, capped at half the host's memory (local mode runs every
    executor inside the driver JVM)."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 21
    return f"{min(24 * 1024, half_mb)}m"
