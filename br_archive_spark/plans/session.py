"""SparkSession factory with the engine's standard configuration.

Tuned for the codec workload: Arrow exchange everywhere (the engine's
hot path is ``mapInArrow``), AQE on for runtime re-planning and skew
handling, and Arrow batches sized so the encode UDF sees a healthy
fraction of a chunk per batch without blowing executor memory at
100 TB-scale partition counts.
"""

from __future__ import annotations

import os
import re
import site

from pyspark import SparkContext
from pyspark.sql import SparkSession

__all__ = ["get_spark"]

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _daemon_conf(master: str | None) -> dict:
    """Start the Python workers through ``br_archive_spark._daemon``
    (pyspark's daemon on the installed pyspark, not on SPARK_HOME's
    archives) where the daemon can import it at launch: a ``local``
    master, whose daemon inherits the JVM's cwd and environment, and
    this package first found, on the daemon's path, in that cwd, a
    ``PYTHONPATH`` entry or site-packages. Anywhere else the stock
    daemon stays: one that failed to start would break every Python
    UDF of the session."""
    if not master or not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    jvm = SparkContext._jvm
    if jvm is None:  # the JVM starts from the driver's cwd and env
        cwd, pythonpath = os.getcwd(), os.environ.get("PYTHONPATH")
    else:  # a JVM kept from an earlier session keeps its own
        system = getattr(jvm, "java.lang.System")
        cwd = system.getProperty("user.dir")
        pythonpath = system.getenv("PYTHONPATH")
    search = [cwd, *(pythonpath or "").split(os.pathsep),
              *site.getsitepackages()]
    first = next((d for d in search if d and os.path.isfile(
        os.path.join(d, "br_archive_spark", "__init__.py"))), None)
    if first and os.path.realpath(first) == os.path.realpath(_PACKAGE_PARENT):
        return {"spark.python.daemon.module": "br_archive_spark._daemon"}
    return {}


def get_spark(master: str | None = None,
              app_name: str = "br-archive-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        # Arrow exchange: the engine lives in mapInArrow
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        # AQE: runtime coalescing + skew-join splitting
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # parquet writes: zstd as the storage-layer entropy backstop
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        **_daemon_conf(master),
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
    return spark
