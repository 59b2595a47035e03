"""PySpark worker daemon whose workers skip re-reading Spark's own archives.

Run by Spark as ``python -m pandas_to_postgres_spark.worker_daemon`` (the
``spark.python.daemon.module`` that `session.get_spark` sets); why it exists
is in the `session` module docstring. The archives are taken from
``sys.path`` at daemon start, before any task adds its SparkFiles directory
or py-files, so those are still invalidated per task.
"""

import fnmatch
import os
import sys
import zipimport

SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def freeze_archives(paths) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for the Spark archives
    among ``paths``."""
    frozen = frozenset(
        p
        for p in paths
        if any(fnmatch.fnmatch(os.path.basename(p), pat) for pat in SPARK_ARCHIVES)
    )
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_unless_frozen(self):
        if self.archive not in frozen:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_unless_frozen


if __name__ == "__main__":
    freeze_archives(sys.path)
    from pyspark import daemon

    daemon.manager()
