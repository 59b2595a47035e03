"""Python workers started from `worker_daemon` (see `session.get_spark`).

The daemon keeps Spark's own archives out of the per-task
``importlib.invalidate_caches()``; these tests pin that the freeze reaches
the workers, that everything else is still invalidated (py-files added
mid-session import), and that workers find the daemon from any cwd.
"""

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_spark_archives_skip_invalidation(spark):
    def archive_survives_invalidation(batches):
        import importlib
        import zipimport

        import pyspark

        for _ in batches:
            pass
        archive = getattr(pyspark.__spec__.loader, "archive", None)
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        same = before is not None and zipimport._zip_directory_cache.get(archive) is before
        yield pd.DataFrame({"archive": [archive], "same": [same]})

    out = (
        spark.range(2, numPartitions=2)
        .mapInPandas(archive_survives_invalidation, "archive string, same boolean")
        .toPandas()
    )
    assert len(out) == 2
    assert out["archive"].str.endswith("pyspark.zip").all(), out
    assert out["same"].all(), out


def test_py_files_added_mid_session_still_import(spark, tmp_path):
    # workers already run, with the SparkFiles directory on their sys.path
    spark.range(2, numPartitions=2).mapInPandas(lambda it: it, "id long").collect()
    tag = uuid.uuid4().hex[:8]
    zip_mod, py_mod = f"pyfile_zip_{tag}", f"pyfile_py_{tag}"
    archive = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{zip_mod}.py", "VALUE = 7\n")
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 35\n")
    spark.sparkContext.addPyFile(str(archive))
    spark.sparkContext.addPyFile(str(tmp_path / f"{py_mod}.py"))

    def use_both(batches):
        import importlib

        total = importlib.import_module(zip_mod).VALUE + importlib.import_module(py_mod).VALUE
        for pdf in batches:
            yield pdf.assign(id=total)

    out = spark.range(2, numPartitions=2).mapInPandas(use_both, "id long").toPandas()
    assert out["id"].tolist() == [42, 42]


def test_udfs_run_from_foreign_cwd_without_pythonpath(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from pandas_to_postgres_spark.session import get_spark

        spark = get_spark("foreign_cwd")
        out = spark.range(3, numPartitions=2).mapInPandas(lambda it: it, "id long").collect()
        print("IDS", sorted(r.id for r in out))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert "IDS [0, 1, 2]" in res.stdout
