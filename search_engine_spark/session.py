"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from search_engine_spark.config import EngineConfig

#: directory that holds the ``search_engine_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def worker_daemon_conf(master: str, cwd: str, pythonpath: str) -> dict:
    """``spark.python.daemon.module`` for ``search_engine_spark.worker_daemon``
    when the daemon can import it, else no setting.

    The daemon starts before any ``--py-files`` reach a worker, so the package
    must already be importable where the daemon starts: under a local master
    the daemon runs in the driver's ``cwd`` with its ``PYTHONPATH``. A
    package imported from a zip does not count: spark-submit puts
    ``--py-files`` zips on the driver's ``PYTHONPATH`` only, not the JVM's.
    """
    places = [cwd] + [os.path.join(cwd, p)
                      for p in pythonpath.split(os.pathsep) if p]
    if (_LOCAL_MASTER.fullmatch(master) and os.path.isdir(_PACKAGE_PARENT)
            and any(os.path.realpath(p) == _PACKAGE_PARENT for p in places)):
        return {"spark.python.daemon.module":
                "search_engine_spark.worker_daemon"}
    return {}


def get_spark(
    app_name: str = "search_engine_spark",
    master: str | None = None,
    config: EngineConfig | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults chosen for the 100 TB design point, harmless locally:
    - AQE on (runtime coalescing + skew splitting),
    - Arrow on (every custom stage is an Arrow or pandas UDF),
    - shuffle partitions from config (at cluster scale: ~2-3x total cores).

    Python workers fork from ``search_engine_spark.worker_daemon`` when the
    master is local and the package's parent directory is the cwd or on
    ``PYTHONPATH`` (``worker_daemon_conf``). That daemon imports pyspark and
    py4j from their installed directories instead of Spark's archives, which
    CPython 3.11 re-reads on every task. Anywhere else, e.g. a cluster or a
    ``spark-submit --py-files engine.zip`` run from another directory, the
    daemon could not import the package, so Spark's default daemon runs.
    """
    cfg = config or EngineConfig()
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes",
                str(cfg.files_max_partition_bytes))
        .config("spark.sql.files.openCostInBytes",
                str(cfg.files_open_cost_bytes))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    conf = worker_daemon_conf(master, os.getcwd(),
                              os.environ.get("PYTHONPATH", ""))
    for k, v in {**conf, **cfg.extra_spark_conf}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
