"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same config block scales to a real
cluster (AQE, skew-join handling, arrow batching) — nothing here is
local-mode-specific except the master URL, which callers override in prod.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def get_spark(
    app_name: str = "ml_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Scale-oriented defaults:
    - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
      and dynamic broadcast-join conversion — essential at 100 TB where static
      planning guesses wrong.
    - Arrow on: every pandas_udf / applyInPandas / toPandas crossing is
      columnar-batched instead of row-pickled.
    - UTC session timezone: deterministic date/timestamp semantics and
      parity with external engines (the DuckDB correctness oracle).
    - Codegen cache of 1024 classes: one pass over a workload's queries
      compiles ~150 classes, more than Spark's default cache of 100 holds,
      so re-running a query recompiled nearly all of them. The cache is
      JVM-wide and static: it takes this size only if no session compiled
      code in this JVM before.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    return builder.getOrCreate()


class job_group:
    """M14 — soft-cancel scope: operators launched inside the context can be
    cancelled from another thread with .cancel() (the Spark-native form of
    the reference's worker _should_stop + psutil child-kill,
    ref /root/reference/selection_of_parameters/selection_parameters_parameter_tuning_worker.py:37-42,95-117).
    """

    def __init__(self, spark, group_id: str, description: str = ""):
        self.spark, self.group_id, self.description = spark, group_id, description

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.group_id, self.description, True)
        return self

    def cancel(self) -> None:
        self.spark.sparkContext.cancelJobGroup(self.group_id)

    def __exit__(self, *exc) -> None:
        self.spark.sparkContext.setJobGroup("", "")
