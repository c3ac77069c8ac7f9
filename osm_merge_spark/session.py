"""SparkSession builder with the engine's standard configuration.

Works identically for ``local[N]`` (tests/bench) and cluster masters
(spark-submit): AQE with skew-join splitting on, Arrow transfers on, and
shuffle parallelism derived from the session's core count.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .plans.skew import SHUFFLE_PARTITIONS


def build_session(
    master: str | None = None,
    app_name: str = "osm-merge-spark",
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
) -> SparkSession:
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
    )
    if shuffle_partitions:
        b = b.config(SHUFFLE_PARTITIONS, str(shuffle_partitions))
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if not shuffle_partitions:
        s.conf.set(SHUFFLE_PARTITIONS, str(s.sparkContext.defaultParallelism * 2))
    return s
