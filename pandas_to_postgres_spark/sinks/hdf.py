"""Distributed HDF5 sink: DataFrame → a directory of ``part-*.h5`` files.

The reference consumes PyTables ``frame_table`` HDF5
(`/root/reference/pandas_to_postgres/copy_hdf.py`); this closes the loop
so the engine can also PRODUCE that dialect without PyTables. Each Spark
partition writes ONE self-contained .h5 file through the pure-Python
writer (`sources/hdf5_writer` — public HDF5 File Format Specification
only), so the write is embarrassingly parallel: no shuffle, no driver
materialization, no shared-file coordination. The multi-file dataset
reads back with :func:`load_hdf_dir` (one Spark task per (file, range)
slice — the same zero-shuffle shape as `sources/hdf.load_hdf_distributed`).

A single HDF5 file cannot be written concurrently by many tasks (the
format's B-trees/heaps are globally linked), so the part-file directory
is the scale-correct layout — the HDF analogue of a parquet directory.
For a literal one-file export use ``single_file=True``, which routes
through ``toPandas`` and is documented for dimension-sized frames only.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_SUPPORTED_KINDS = "biufOU"  # bool, int, uint, float, object/str


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


def write_hdf_dir(
    df: DataFrame,
    path: str,
    key: str = "data",
    chunk_rows: int = 1000,
    complevel: int = 0,
) -> int:
    """Write ``df`` as ``{path}/part-NNNNN.h5`` (one file per non-empty
    partition, each holding ``/{key}/table``). Returns the number of part
    files written. Idempotent per call: the directory is recreated."""
    import shutil

    _check_schema(df)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext  # noqa: PLC0415

        from pandas_to_postgres_spark.sources.hdf5_writer import (  # noqa: PLC0415
            write_frame_table,
        )

        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
        pid = TaskContext.get().partitionId()
        part = os.path.join(path, f"part-{pid:05d}.h5")
        write_frame_table(
            part, {key: pdf}, chunk_rows=chunk_rows, complevel=complevel
        )
        yield pd.DataFrame({"pid": [pid], "rows": [len(pdf)]})

    # Arrow-batched mapInPandas; the task's partition id names the part
    # file, and only (pid, rows) ledger rows cross back to the driver
    written = df.mapInPandas(write_partition, "pid int, rows long").collect()
    return len(written)


def load_hdf_dir(
    spark: SparkSession,
    path: str,
    key: str = "data",
    chunk_rows: int = 10**6,
) -> DataFrame:
    """Read a `write_hdf_dir` dataset back: one Spark task per
    (part file, [start, stop) range) — zero shuffle, like
    `sources/hdf.load_hdf_distributed` generalized over many files."""
    from pandas_to_postgres_spark.sources import hdf5_pandas  # noqa: PLC0415

    files = sorted(glob.glob(os.path.join(path, "part-*.h5")))
    if not files:
        raise FileNotFoundError(f"no part-*.h5 under {path}")
    tasks = []
    for f in files:
        n = hdf5_pandas.get_nrows(f, key)
        for start in range(0, max(n, 1), chunk_rows):
            tasks.append((f, start, min(start + chunk_rows, n)))
    probe = hdf5_pandas.read_hdf(files[0], key, 0, 1).reset_index(drop=True)
    schema = spark.createDataFrame(probe).schema

    def read_ranges(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                file, start, stop = tasks[i]
                if stop > start:
                    yield hdf5_pandas.read_hdf(file, key, start, stop).reset_index(drop=True)

    ids = spark.range(len(tasks), numPartitions=len(tasks))
    return ids.mapInPandas(read_ranges, schema=schema)


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
