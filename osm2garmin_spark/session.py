"""SparkSession factory tuned for the tiling engine.

Local-mode defaults match the sandbox (local[32], AQE on, Arrow on); on a
real cluster only master/memory change — the shuffle/AQE settings are the
scale story (SURVEY.md §4): AQE coalesces the density groupBy's tiny
post-shuffle partitions and splits skewed tile-assignment partitions
(dense metro cells) at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "osm2garmin_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if master.startswith("local") else "200"
        shuffle_partitions = int(n) if str(n).isdigit() else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
