"""Distributed HDF5 sink: DataFrame → a directory of ``part-*.h5`` files.

The reference consumes PyTables ``frame_table`` HDF5
(`/root/reference/pandas_to_postgres/copy_hdf.py`); this closes the loop
so the engine can also PRODUCE that dialect without PyTables.
:func:`write_hdf_dir` writes through the ``format("hdf5")`` DataSource
writer (`sources/hdf5_stream.Hdf5ArrowWriter`): each Spark partition
stages ONE self-contained .h5 file under an attempt-unique temp name
(pure-Python writer `sources/hdf5_writer`), and the job commit renames
them into place. The write is embarrassingly parallel (no shuffle, no
driver materialization, no shared-file coordination), and a failed job
leaves the previous dataset as it was. The multi-file dataset reads back
with :func:`load_hdf_dir`: the range scan of `sources/hdf.scan_hdf` over
every part file.

A single HDF5 file cannot be written concurrently by many tasks (the
format's B-trees/heaps are globally linked), so the part-file directory
is the scale-correct layout — the HDF analogue of a parquet directory.
For a literal one-file export use :func:`write_hdf_single`, which routes
through ``toPandas`` and is documented for dimension-sized frames only.
"""

from __future__ import annotations

import glob
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from pandas_to_postgres_spark.sources.hdf import scan_hdf
from pandas_to_postgres_spark.sources.hdf5_stream import Hdf5DataSource


def _check_schema(df: DataFrame) -> None:
    from pyspark.sql import types as T

    ok = (
        T.BooleanType,
        T.ByteType,
        T.ShortType,
        T.IntegerType,
        T.LongType,
        T.FloatType,
        T.DoubleType,
        T.StringType,
    )
    bad = [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields
           if not isinstance(f.dataType, ok)]
    if bad:
        raise TypeError(
            f"HDF5 frame_table sink supports bool/int/float/string columns; "
            f"unsupported: {', '.join(bad)}"
        )


def _part_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.h5")))


def write_hdf_dir(
    df: DataFrame,
    path: str,
    key: str = "data",
    chunk_rows: int = 1000,
    complevel: int = 0,
) -> int:
    """Write ``df`` as ``{path}/part-<job>-NNNNN.h5`` (one file per
    non-empty partition, each holding ``/{key}/table``), replacing the
    directory's ``part-*.h5`` files at job commit; other files in
    ``path`` are left alone. Returns the number of part files committed."""
    _check_schema(df)
    df.sparkSession.dataSource.register(Hdf5DataSource)
    (
        df.write.format("hdf5")
        .option("path", path)
        .option("key", key)
        .option("chunkRows", chunk_rows)
        .option("complevel", complevel)
        .mode("overwrite")
        .save()
    )
    return len(_part_files(path))


def load_hdf_dir(
    spark: SparkSession,
    path: str,
    key: str = "data",
    chunk_rows: int = 10**6,
) -> DataFrame:
    """Read a `write_hdf_dir` dataset back: one Spark task per
    (part file, [start, stop) range), no shuffle (`sources/hdf.scan_hdf`)."""
    files = _part_files(path)
    if not files:
        raise FileNotFoundError(f"no part-*.h5 under {path}")
    return scan_hdf(spark, files, key, chunk_rows)


def write_hdf_single(
    df: DataFrame,
    path: str,
    key: str = "data",
    chunk_rows: int = 1000,
    complevel: int = 0,
    max_rows: Optional[int] = 10_000_000,
) -> int:
    """One-file export via the driver (``toPandas``) — for
    dimension-sized frames only; refuses frames over ``max_rows`` so a
    fact table cannot silently land on the driver."""
    _check_schema(df)
    if max_rows is not None:
        n = df.limit(max_rows + 1).count()
        if n > max_rows:
            raise ValueError(
                f"write_hdf_single is driver-side; {n}+ rows exceeds "
                f"max_rows={max_rows} — use write_hdf_dir"
            )
    from pandas_to_postgres_spark.sources.hdf5_writer import (  # noqa: PLC0415
        write_frame_table,
    )

    pdf = df.toPandas()
    write_frame_table(path, {key: pdf}, chunk_rows=chunk_rows, complevel=complevel)
    return len(pdf)
