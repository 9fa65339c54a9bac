"""SparkSession factory tuned for the engine.

Local testing uses ``local[N]`` with a single JVM; the same settings are
what we would ship to a 1000-executor cluster via spark-submit:

- AQE on (runtime re-plan + skew-join splitting — our answer to the
  reference's build-time tile subdivision, SURVEY.md §4.3.5),
- Arrow enabled for every pandas-UDF boundary,
- shuffle partitions sized to cores locally; on a real cluster this is
  set to 2-3× total cores or left to AQE coalescing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cores() -> int:
    """The one host-sizing knob: ``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def get_spark(
    app_name: str = "geodesk-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
