"""SparkSession builder tuned for this engine.

Scale notes (100 TB design): AQE is on so join strategies and skewed shuffle
partitions are re-planned at runtime; shuffle partition count here is sized for
local[32] test runs — on a real cluster it should be ~2-3x total executor cores
or left to AQE coalescing. Arrow is enabled because every pandas interop path
(mapInPandas / pandas_udf of the multimodal operators, the HDF5 scan's
mapInArrow) moves data through Arrow record batches.

Python workers fork from `worker_daemon` (``spark.python.daemon.module``).
Before every task the stock PySpark worker calls
``importlib.invalidate_caches()``, and on Python 3.10+ that makes each
``zipimporter`` re-read its archive's whole central directory: one per
pyspark subpackage imported from ``pyspark.zip`` (~1.3k entries) plus one
for the Spark core jar. On 4 cores that call took ~180 ms of a ~240 ms
no-op ``mapInPandas`` task. The daemon freezes only the Spark archives on
the worker's ``sys.path`` at its start (``pyspark.zip``,
``py4j-*-src.zip``, ``spark-core_*.jar``), which cannot change while a
worker lives; every other finder — the SparkFiles directory,
``addPyFile`` archives — is still invalidated per task. The package root
goes on ``spark.executorEnv.PYTHONPATH`` so workers import the daemon
whatever the driver's cwd; on a cluster the package must be importable on
the executors, as every UDF here already requires.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "pandas_to_postgres_spark") -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource filter pushdown (sources/pg_datasource.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Python DataSourceStreamReaders (pgwire, hdf5) cannot implement
        # SupportsTriggerAvailableNow, so without the wrapper an
        # availableNow drain falls back to Trigger.Once semantics: ONE
        # batch only. If a killed query left a WAL-pending batch, the
        # restart's drain replays just that batch and stops BEFORE new
        # data — measured in the restart-resume integration test. The
        # wrapper snapshots the end offset at start and drains fully.
        .config("spark.sql.streaming.triggerAvailableNowWrapper.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: vectorized reader on, sane split size for local runs
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "pandas_to_postgres_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    return builder.getOrCreate()
