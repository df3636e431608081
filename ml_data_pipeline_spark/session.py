"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same config block scales to a real
cluster (AQE, skew-join handling, arrow batching) — nothing here is
local-mode-specific except the master URL, which callers override in prod.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark import SparkConf
from pyspark.sql import SparkSession

# the directory holding the ``ml_data_pipeline_spark`` package
_ENGINE_PARENT = str(Path(__file__).resolve().parent.parent)

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
    - PySpark's call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
      every Column method and ``F.col`` also runs ``getActiveSession``, a
      conf read, ``PySparkCurrentOrigin.set``/``clear`` and a Python stack
      walk: 5–7 extra py4j round trips per Column node (``F.col("a") + 1``:
      24 commands instead of 4): ~40% of the commands a warm corpus
      benchmark pass sends while building its plans. Errors keep their
      error class and message; the only context lost is the
      ``== DataFrame ==`` "was called from" line, which names the JVM
      function and a JVM frame (``"divide"``, ``NativeMethodAccessorImpl``)
      instead of the Python operator and ``file.py:line``. The flag is
      a static conf, so ``spark.conf.set`` on a running session raises
      ``CANNOT_MODIFY_STATIC_CONFIG``; to get call sites back, start the
      session with the flag ``"true"`` before calling ``get_spark``, which
      then returns that session (whose static settings stay as started).
      PySpark reads the flag once per process, at the first Column call.
    - Python workers start from the engine's daemon module
      (``spark.python.daemon.module``, see ``_pydaemon``). Every Python task
      calls ``importlib.invalidate_caches()``, and on CPython < 3.13 that
      re-reads the pyspark and py4j zip directories once per imported
      package: about 0.2 s of worker CPU per task (CPython 3.11, 4-core
      host), more than a small Arrow kernel's own work. Before it forks
      workers, the daemon wraps that call so an importer re-reads its zip
      only when the zip's ``(st_mtime_ns, st_size)`` changed since that
      importer last read it (a replaced zip is still re-read); on 3.13 and
      later, where the call is lazy, it installs nothing.
    - The engine must be importable on every Python worker: the daemon
      module and the engine's Arrow kernels live in it. The directory
      holding the package is put on ``spark.executorEnv.PYTHONPATH``, after
      any value already set there, so workers find it from any working
      directory. On a cluster without a shared file system, ship the
      package with the job as well (e.g. ``--py-files``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    worker_path = [
        p for p in SparkConf().get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep) if p
    ]
    if _ENGINE_PARENT not in worker_path:
        worker_path.append(_ENGINE_PARENT)
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "ml_data_pipeline_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(worker_path))
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
